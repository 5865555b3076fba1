package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** The java.nio checkpoint writer keeps the stock `createAtomic`
  * contracts: no-overwrite collisions fail without touching the target,
  * overwrites replace it, cancelled writes leave nothing behind, and a
  * target written earlier by the checksummed stock manager reads back
  * through the stock manager after being overwritten. No Spark session.
  */
class NioCheckpointFilesSpec extends AnyFunSuite {

  private val conf = new Configuration()

  private def write(fm: CheckpointFileManager, p: Path, body: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(body.getBytes(UTF_8))
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  private def names(dir: JPath): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("no-overwrite collision: Hadoop's FileAlreadyExistsException, target kept, no temp left") {
    val dir = Files.createTempDirectory("nio-ckpt")
    val p = new Path(dir.resolve("0").toString) // scheme-less: the local default FS
    val fm = new NioCheckpointFiles(p, conf)
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(fm, p) == "first")
    assert(names(dir) == Set("0"))
  }

  test("overwrite replaces the target") {
    val dir = Files.createTempDirectory("nio-ckpt")
    val p = new Path(dir.resolve("1.delta").toUri) // file: scheme
    val fm = new NioCheckpointFiles(p, conf)
    write(fm, p, "old", overwrite = true)
    write(fm, p, "new", overwrite = true)
    assert(read(fm, p) == "new")
    assert(names(dir) == Set("1.delta"))
  }

  test("cancel() leaves nothing behind") {
    val dir = Files.createTempDirectory("nio-ckpt")
    val p = new Path(dir.resolve("2").toUri)
    val out = new NioCheckpointFiles(p, conf).createAtomic(p, false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(names(dir).isEmpty)
  }

  test("a stock-written target with its .crc reads back through the stock manager once overwritten") {
    val dir = Files.createTempDirectory("nio-ckpt")
    val p = new Path(dir.resolve("3").toUri)
    val stock = CheckpointFileManager.create(p, conf) // key unset: Spark's default
    assert(stock.isInstanceOf[FileContextBasedCheckpointFileManager] &&
      !stock.isInstanceOf[NioCheckpointFiles])
    write(stock, p, "written before the upgrade", overwrite = true)
    assert(names(dir) == Set("3", ".3.crc"), "the stock manager checksums its targets")
    write(new NioCheckpointFiles(p, conf), p, "after", overwrite = true)
    assert(read(stock, p) == "after")
    assert(names(dir) == Set("3"))
  }
}
