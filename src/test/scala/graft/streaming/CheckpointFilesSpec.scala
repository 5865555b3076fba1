package graft.streaming

import java.nio.file.{Files, Path => JPath}
import java.sql.Timestamp

import graft.{GraftSession, SparkSpec}
import graft.io.NioCheckpointFiles
import graft.model.FlowStat
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `GraftSession.tune` routes every streaming checkpoint write through
  * [[NioCheckpointFiles]]: the session's Hadoop conf resolves to it, a
  * fresh detection query's per-trigger files (offsets, commits, file-source
  * metadata, state deltas and changelogs) carry no Hadoop `.crc` on either
  * state-store provider, and a checkpoint written by Spark's stock manager
  * resumes under it with the uninterrupted run's alerts.
  */
class CheckpointFilesSpec extends SparkSpec {

  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private val T0 = Timestamp.valueOf("2026-01-01 00:00:00")

  private def flow(pollId: Long, src: String, dst: String, pc: Long,
                   tcpDst: Option[Int] = Some(23), udp: Option[Int] = None): FlowStat =
    FlowStat(T0, pollId, "d0", 1L, 10, 1, None, None, Some(src), Some(dst),
      Some(if (udp.isDefined) 17 else 6), None, tcpDst, udp, udp, 2, pc, pc * 100)

  private def flag(pollId: Long, src: String): FlowStat =
    flow(pollId, src, "10.0.0.4", 5, tcpDst = None, udp = Some(48101))

  private val polls = Seq(
    Seq(flow(1, "10.0.0.4", "10.0.0.5", 300), flag(1, "10.0.0.1"),
      flow(1, "10.0.0.1", "10.0.0.8", 50)),
    Seq(flow(2, "10.0.0.4", "10.0.0.5", 600), flow(2, "10.0.0.1", "10.0.0.8", 80),
      flag(2, "10.0.0.2"), flow(2, "10.0.0.2", "10.0.0.8", 100)),
    Seq(flow(3, "10.0.0.4", "10.0.0.5", 600), flag(3, "10.0.0.3"),
      flow(3, "10.0.0.3", "10.0.0.8", 10)))

  private def files(root: JPath): Seq[JPath] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_)).toList

  /** The per-trigger checkpoint files: offset/commit/source log entries and
    * state-store deltas and changelogs (not temp files or checksums).
    */
  private def triggerFiles(ckpt: JPath): Seq[JPath] = files(ckpt).filter { f =>
    val name = f.getFileName.toString
    val top = ckpt.relativize(f).getName(0).toString
    !name.startsWith(".") &&
      (Set("offsets", "commits", "sources")(top) ||
        name.endsWith(".delta") || name.endsWith(".changelog"))
  }

  private def crcOf(f: JPath): JPath = f.resolveSibling(s".${f.getFileName}.crc")

  private def withConfs[T](kv: (String, Option[String])*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    def put(k: String, v: Option[String]): Unit =
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    try { kv.foreach { case (k, v) => put(k, v) }; body }
    finally prev.foreach { case (k, v) => put(k, v) }
  }

  test("tune registers the java.nio manager on the session's Hadoop conf") {
    val fm = CheckpointFileManager.create(
      new Path(Files.createTempDirectory("graft-ckpt").toUri), spark.sessionState.newHadoopConf())
    try assert(fm.isInstanceOf[NioCheckpointFiles], fm.getClass.getName)
    finally fm.close()
  }

  for ((provider, rocks) <- Seq("in-heap" -> false, "RocksDB" -> true)) {
    test(s"$provider: three triggers of a fresh detection query leave no .crc beside its files") {
      import spark.implicits._
      val in = Files.createTempDirectory("graft-flows")
      val ckpt = Files.createTempDirectory("graft-ckpt")
      polls.zipWithIndex.foreach { case (p, i) =>
        Files.write(in.resolve(s"poll$i.json"), p.toDS().toJSON.collect().toSeq.asJava)
      }
      val flows = spark.readStream.schema(Encoders.product[FlowStat].schema)
        .option("maxFilesPerTrigger", 1).json(in.toString).as[FlowStat]
      val crcs = withConfs(ProviderKey -> None,
          "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> None) {
        if (rocks) GraftSession.useRocksDbState(spark)
        val q = DetectionStream.alerts(flows).writeStream
          .format("memory").queryName(s"ckpt_files_${if (rocks) "rocks" else "heap"}")
          .outputMode("update").option("checkpointLocation", ckpt.toString).start()
        try {
          q.processAllAvailable()
          assert(q.recentProgress.count(_.numInputRows > 0) == 3)
          assert(q.lastProgress.json.contains("rocksdb") == rocks)
        } finally q.stop()
        spark.sql(s"DROP VIEW IF EXISTS ckpt_files_${if (rocks) "rocks" else "heap"}")
        val written = triggerFiles(ckpt)
        val top = written.map(f => ckpt.relativize(f).getName(0).toString).toSet
        assert(Set("offsets", "commits", "sources").subsetOf(top), written)
        assert(written.exists { f =>
          val n = f.getFileName.toString
          n.endsWith(if (rocks) ".changelog" else ".delta")
        }, written)
        written.filter(f => Files.exists(crcOf(f)))
      }
      assert(crcs.isEmpty, s"written through Hadoop's checksummed FS: $crcs")
    }
  }

  test("a checkpoint written by the stock manager resumes under tune with the uninterrupted alerts") {
    import spark.implicits._
    def run(ckpt: String, in: MemoryStream[FlowStat], sink: mutable.Buffer[DetectionStream.DomainAlert],
            batches: Seq[Seq[FlowStat]]): Unit = {
      val collect: (Dataset[DetectionStream.DomainAlert], Long) => Unit =
        (b, _) => { val got = b.collect(); sink.synchronized(sink ++= got); () }
      val q = DetectionStream.alerts(in.toDS()).writeStream
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ckpt)
        .foreachBatch(collect)
        .start()
      try batches.foreach { p => in.addData(p); q.processAllAvailable() }
      finally q.stop()
    }

    val whole = mutable.ArrayBuffer.empty[DetectionStream.DomainAlert]
    run(Files.createTempDirectory("graft-ckpt").toString, MemoryStream[FlowStat](spark),
      whole, polls)

    val ckpt = Files.createTempDirectory("graft-ckpt")
    val in = MemoryStream[FlowStat](spark)
    val resumed = mutable.ArrayBuffer.empty[DetectionStream.DomainAlert]
    withConfs(ManagerKey -> None)(run(ckpt.toString, in, resumed, polls.take(2)))
    assert(triggerFiles(ckpt).exists(f => Files.exists(crcOf(f))),
      "the first run must leave a stock, checksummed checkpoint")
    run(ckpt.toString, in, resumed, polls.drop(2))

    assert(resumed.toSet == whole.toSet)
    assert(resumed.size == whole.size)
    assert(resumed.count(_.label == "CNC") == 1)
    assert(whole.count(_.label == "BOT") == 3)
  }
}
