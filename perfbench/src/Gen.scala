package perfbench

import java.sql.Timestamp

import scala.util.Random

import graft.model.FlowStat
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded flow-stat streams. Every domain has its own CNC host
  * (`10.<d>.0.4`), which floods telnet toward four local victims from poll
  * 0, and its own benign background with cumulative counters. Bots join
  * over time: at each poll, `activePerPoll` domains (rotating) each gain
  * `botsPerPoll` bots, and a joined bot carries the 48101 loading flow and
  * a weak telnet probe, the pattern the detector flags. All rows are a pure
  * function of the spec, so expected alerts follow from the schedule.
  */
final case class StreamSpec(
    seed: Long,
    domains: Int,
    benignPerDomain: Int,
    activePerPoll: Int,
    botsPerPoll: Int,
    nHosts: Int = 8) {

  require(domains >= 1 && domains < 200, "domain index is the bot IPs' first octet")
  require(activePerPoll >= 1 && activePerPoll <= domains)

  def domain(d: Int): String = f"d$d%02d"
  def cnc(d: Int): String = s"10.$d.0.4"
  private def host(d: Int, i: Int): String = s"10.$d.0.$i"

  /** Distinct per (domain, k); the seed shifts the address block. */
  def bot(d: Int, k: Int): String = {
    val off = (seed % 211).toInt.abs
    s"${20 + d}.${1 + (k / 250 + off) % 250}.${1 + k % 250}.${1 + off}"
  }

  def active(poll: Int, d: Int): Boolean =
    Math.floorMod(d - poll * activePerPoll, domains) < activePerPoll

  /** Bots of domain `d` that have joined by the end of `poll`. */
  def joined(poll: Int, d: Int): Int =
    (0 to poll).count(active(_, d)) * botsPerPoll

  /** Alert frames (`ip@label`) the detector must publish for `poll`. */
  def expectedFrames(poll: Int): Seq[String] = (0 until domains).flatMap { d =>
    val before = if (poll == 0) 0 else joined(poll - 1, d)
    val now = joined(poll, d)
    val bots = (before until now).map(k => s"${bot(d, k)}@BOT")
    val cncAlert = if (poll == 0) Seq(s"${cnc(d)}@CNC") else Nil
    val half = nHosts * 0.5
    val lock = if (now >= half && before < half)
      Seq(s"${cnc(d)}@${(100.0 * now / nHosts).toString}") else Nil
    bots ++ cncAlert ++ lock
  }.sorted

  private def benign(d: Int): IndexedSeq[(Int, String, String, Int, Int)] = {
    val rnd = new Random(seed * 1000003L + d)
    (0 until benignPerDomain).map { i =>
      val port = Seq(80, 443, 53, 67, 8080)(rnd.nextInt(5))
      (i, host(d, 1 + rnd.nextInt(nHosts)), host(d, 1 + rnd.nextInt(nHosts)), port,
        rnd.nextInt(40) + 1)
    }
  }

  def rows(poll: Int, d: Int): Iterator[FlowStat] = {
    val t = new Timestamp(1735689600000L + poll * 2000L)
    val dom = domain(d)
    val k = poll + 1
    val bg = benign(d).iterator.map { case (i, src, dst, port, rate) =>
      val pc = rate.toLong * 2 * k
      val proto = if (port == 53 || port == 67) 17 else 6
      FlowStat(t, poll.toLong, dom, 3L + i % 4, 10, i % 4 + 1, None, None,
        Some(src), Some(dst), Some(proto),
        if (proto == 6) Some(1024 + i % 1000) else None,
        if (proto == 6) Some(port) else None,
        if (proto == 17) Some(port) else None,
        if (proto == 17) Some(port) else None, 2, pc, pc * 60)
    }
    val flood = (1 to nHosts).iterator.map(host(d, _)).filter(_ != cnc(d)).take(4).map { v =>
      val pc = 1000L * k
      FlowStat(t, poll.toLong, dom, 4L, 10, 1, None, None, Some(cnc(d)), Some(v), Some(6),
        Some(40000), Some(23), None, None, 2, pc, pc * 60)
    }
    val bots = (0 until joined(poll, d)).iterator.flatMap { b =>
      val ip = bot(d, b)
      Iterator(
        FlowStat(t, poll.toLong, dom, 3L + b % 4, 10, b % 4 + 1, None, None,
          Some(ip), Some(cnc(d)), Some(17), None, None, Some(48101), Some(48101),
          2, 12L * k, 12L * k * 600),
        FlowStat(t, poll.toLong, dom, 3L + b % 4, 10, b % 4 + 1, None, None,
          Some(ip), Some(host(d, 1 + b % nHosts)), Some(6), Some(50000 + b % 10000),
          Some(23), None, None, 2, (b % 7 + 1).toLong, (b % 7 + 1).toLong * 60))
    }
    bg ++ flood ++ bots
  }

  /** Rows in poll `poll` across all domains, as [[rows]] generates them. */
  def rowCount(poll: Int): Long = (0 until domains).map { d =>
    benignPerDomain + 4L + 2L * joined(poll, d)
  }.sum

  /** Write polls `from until to` as one parquet drop each, under
    * `dir/pk=<poll>/`. One Spark task per poll, no shuffle.
    */
  def writeDrops(spark: SparkSession, dir: String, from: Int, to: Int): Unit = {
    import spark.implicits._
    val spec = this
    spark.range(from.toLong, to.toLong, 1L, to - from).as[Long]
      .flatMap(p => (0 until spec.domains).iterator.flatMap(d => spec.rows(p.toInt, d)))
      .withColumn("pk", col("poll_id"))
      .write.mode(SaveMode.Append).partitionBy("pk").parquet(dir)
  }
}

/** Seeded tables for the batch workloads, in the schema of the engine's
  * `documents`, `embeddings` and `events` tables.
  */
object Corpus {
  val Vocab: IndexedSeq[String] = ("spark window merge table column vector stream value " +
    "data small join filter big group hash customer sort order slow line part fast " +
    "row the agg key query a scan batch").split(' ').toIndexedSeq
  private val Langs = IndexedSeq("en", "en", "en", "zh", "de", "fr", "es")

  /** `docs` documents; about one in eight is a near-duplicate of an earlier
    * document (a few words substituted, or a `dup` suffix).
    */
  def documents(spark: SparkSession, dir: String, seed: Long, docs: Int): Unit = {
    import spark.implicits._
    val rnd = new Random(seed)
    val texts = new Array[Array[String]](docs)
    val rows = (0 until docs).map { i =>
      val words =
        if (i > 8 && rnd.nextInt(8) == 0) {
          val src = texts(rnd.nextInt(i)).clone()
          if (rnd.nextBoolean()) src :+ "dup"
          else { (0 until 1 + src.length / 20).foreach(_ =>
            src(rnd.nextInt(src.length)) = Vocab(rnd.nextInt(Vocab.size))); src }
        } else Array.fill(8 + rnd.nextInt(80))(Vocab(rnd.nextInt(Vocab.size)))
      texts(i) = words
      val text = words.mkString(" ")
      (i.toLong, text, Langs(rnd.nextInt(Langs.size)), s"src${i % 20}", text.length.toLong)
    }
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
  }

  /** `n` 64-d vectors around 10 cluster centres (label = cluster). The
    * table does not depend on the run's seed: the DuckDB twin of
    * s6_ivf_refined takes 40-80 s, so the runner checks s4/s6 against a
    * twin result cached by table content, which only a fixed table hits.
    */
  def embeddings(spark: SparkSession, dir: String, n: Int): Unit = {
    import spark.implicits._
    val rnd = new Random(20260417L)
    val centres = Array.fill(10, 64)(rnd.nextGaussian())
    val rows = (0 until n).map { i =>
      val c = rnd.nextInt(10)
      (i.toLong, centres(c).map(x => (x + 0.4 * rnd.nextGaussian()).toFloat).toSeq, c)
    }
    rows.toDF("vec_id", "embedding", "label")
      .repartition(4).write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
  }

  /** `n` events over 30 days from `users` users, five event types. */
  def events(spark: SparkSession, dir: String, seed: Long, n: Int, users: Int): Unit = {
    import spark.implicits._
    val rnd = new Random(seed + 2)
    val types = IndexedSeq("signup", "click", "error", "view", "purchase")
    val t0 = 1704067200000000L // 2024-01-01 UTC, micros
    val step = 30L * 86400L * 1000000L / n
    var ts = t0
    val rows = (0 until n).map { i =>
      ts += 1 + (rnd.nextDouble() * 2 * step).toLong
      val v = if (rnd.nextInt(50) == 0) rnd.nextInt(56000) / 100.0 else rnd.nextInt(5000) / 100.0
      (i.toLong, ts, rnd.nextInt(users).toLong,
        types(rnd.nextInt(types.size)), v, s"""{"k": ${rnd.nextInt(100)}}""")
    }
    rows.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(4).write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
  }
}
