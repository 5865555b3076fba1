package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.collab.{Collab, PartitionedLog}
import graft.fixtures.Fixtures
import graft.streaming.{DetectionStream, Sources}
import graft.streaming.DetectionStream.DomainAlert
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** The detection-stream workloads, closed loop with one poll in flight: a
  * poll's parquet drop lands in the source directory, the detection query
  * runs one trigger (state update and alert publish to the partitioned
  * log), then the neighbour's mitigation query runs one trigger over the
  * log. The next poll lands only after that. A seeded share of each poll's
  * frames is published again with the next poll's frames, standing in for
  * at-least-once redelivery.
  *
  * The log has one partition: a publish is then one atomic segment, so the
  * free-running consumer sees a poll's frames in one trigger. With several
  * partitions the consumer raced the segment writes and ran one to three
  * triggers a poll, which made the protection latency bimodal.
  */
object Streams {

  /** Untimed polls before the window (set-up). */
  val WarmPolls = 4
  /** Drops generated per second of window: about 1.5× the polls a run
    * makes today. A run that uses them all ends its window early.
    */
  val DropsPerSecond = 1.2
  /** Share of each poll's frames published again with the next poll. */
  val RedeliverShare = 0.1

  private final case class PollRec(poll: Int, timed: Boolean, landNs: Long, commitNs: Long,
                                   protectNs: Long, alerts: Long, foreignCores: Double)

  def run(spark: SparkSession, tr: Tracer, work: String, spec: StreamSpec,
          seconds: Double, t0: Long): Json.Obj = {
    val drops = s"$work/drops"; val src = s"$work/src"
    Files.createDirectories(Paths.get(src))
    val log = PartitionedLog(s"$work/log", 1)

    // cardinality-driven provider choice, as the engine's own callers make it
    DetectionStream.selectStateStore(spark, spec.domains.toLong * spec.benignPerDomain)
    val provider = spark.conf.get("spark.sql.streaming.stateStore.providerClass").split('.').last

    val total = WarmPolls + math.max(10, math.ceil(seconds * DropsPerSecond).toInt)
    spec.writeDrops(spark, drops, 0, total)
    val genS = (System.nanoTime() - t0) / 1e9

    @volatile var alertsInPoll = 0L
    @volatile var pending = Seq.empty[String]
    import spark.implicits._
    val publish: (Dataset[DomainAlert], Long) => Unit = (batch, id) => {
      val b = batch.persist()
      try {
        alertsInPoll += tr.span("detection.state_update", "detect.trigger")(b.count())
        val wire = Collab.encodeAlerts(b).select("value").union(pending.toDF("value"))
        tr.span("collab.publish", "detect.trigger")(log.sink(wire, id))
      } finally { b.unpersist(); () }
    }
    val detectQ = tr.layer("detection") {
      DetectionStream.alerts(Sources.flowStats(spark, src)).writeStream
        .queryName("detection").outputMode("update")
        .option("checkpointLocation", s"$work/ck/detection")
        .foreachBatch(publish).start()
    }

    val emitted = mutable.ArrayBuffer.empty[(Int, String, String)]
    @volatile var currentPoll = 0
    val emit: (DataFrame, Long) => Unit = (batch, _) => {
      val rows = tr.span("mitigate.emit", "mitigate.trigger")(
        batch.select("target_ip", "action").collect())
      emitted.synchronized { rows.foreach(r => emitted += ((currentPoll, r.getString(0), r.getString(1)))) }
    }
    val topology = Fixtures.topology(spec.nHosts).toDF()
    val mitigateQ = tr.layer("mitigate") {
      DetectionStream.mitigationsWithTtl(Collab.consume(log.stream(spark), "neighbour"), topology)
        .writeStream.queryName("mitigate")
        .option("checkpointLocation", s"$work/ck/mitigate")
        .foreachBatch(emit).start()
    }

    // the log as the benchmark reads it back: each poll's frames
    val seen = mutable.HashSet.empty[Path]
    def newFrames(): Seq[String] = (0 until log.partitions).flatMap { p =>
      val dir = Paths.get(log.pdir(p))
      val segs = Files.list(dir)
      try segs.iterator().asScala.filter(_.toString.endsWith(".seg")).filterNot(seen).toSeq
      finally segs.close()
    }.sortBy(_.toString).flatMap { s =>
      seen += s
      Files.readAllLines(s).asScala.map(_.split('\t')(1))
    }
    val originals = mutable.LinkedHashMap.empty[Int, Seq[String]]
    var redelivered = 0L
    val rnd = new Random(spec.seed * 7919L + 17)

    def land(p: Int): Unit = {
      val dir = Paths.get(s"$drops/pk=$p")
      val files = Files.list(dir)
      try files.iterator().asScala.filter(_.toString.endsWith(".parquet")).foreach { f =>
        Files.move(f, Paths.get(src, s"poll-$p-${f.getFileName}"), StandardCopyOption.ATOMIC_MOVE)
      } finally files.close()
    }

    val polls = mutable.ArrayBuffer.empty[PollRec]
    val proc = new graft.util.ProcCpu
    def cycle(p: Int, timed: Boolean): Unit = { tr.op(p.toLong); tr.span("poll", "")(step(p, timed)) }
    def step(p: Int, timed: Boolean): Unit = {
      currentPoll = p
      alertsInPoll = 0L
      val cpu0 = proc.snap()
      val tLand = System.nanoTime()
      land(p)
      tr.span("detect.trigger", "poll")(detectQ.processAllAvailable())
      val tCommit = System.nanoTime()
      tr.span("mitigate.trigger", "poll")(mitigateQ.processAllAvailable())
      val tProtect = System.nanoTime()
      polls += PollRec(p, timed, tLand, tCommit, tProtect, alertsInPoll,
        proc.othersCores(cpu0, proc.snap()))
      val orig = newFrames().diff(pending)
      originals(p) = orig
      redelivered += pending.size
      pending = orig.filter(_ => rnd.nextDouble() < RedeliverShare)
    }

    (0 until WarmPolls).foreach(cycle(_, timed = false))
    val setupS = (System.nanoTime() - t0) / 1e9

    val window = Window.measure(tr) { elapsedNs =>
      var p = WarmPolls
      while (p < total && elapsedNs() < seconds * 1e9) { cycle(p, timed = true); p += 1 }
    }
    detectQ.stop(); mitigateQ.stop()

    // checks: each poll's published frames and emitted mitigation rows
    val action = Map("BOT" -> "RATE_LIMIT", "CNC" -> "DROP_TELNET")
    def toRow(f: String): (String, String) = {
      val Array(ip, label) = f.split('@')
      (ip, action.getOrElse(label, "LOCKDOWN"))
    }
    val byPoll = emitted.groupBy(_._1).map { case (k, v) => k -> v.map(e => (e._2, e._3)).sorted }
    val mismatches = mutable.ArrayBuffer.empty[String]
    val failedPolls = polls.map(_.poll).count { q =>
      val want = spec.expectedFrames(q)
      val got = originals.getOrElse(q, Nil).sorted
      val wantRows = want.map(toRow).sorted
      val gotRows = byPoll.getOrElse(q, Nil)
      val bad = got != want || gotRows != wantRows
      if (bad && mismatches.size < 5)
        mismatches += s"poll $q: frames ${got.size}/${want.size} rows ${gotRows.size}/${wantRows.size}"
      bad
    }

    def progress(q: StreamingQuery): Seq[Json.Obj] = q.recentProgress.toSeq
      .filter(_.numInputRows > 0).map(progressJson)
    val segments = (0 until log.partitions).map { p =>
      val s = Files.list(Paths.get(log.pdir(p)))
      try s.iterator().asScala.count(_.toString.endsWith(".seg")) finally s.close()
    }.sum

    Json.Obj(window.fields ++ Seq(
      "kind" -> "stream",
      "setup_s" -> setupS,
      "gen_s" -> genS,
      "drops" -> total,
      "polls" -> polls.map(r => Json.obj(
        "poll" -> r.poll, "timed" -> r.timed,
        "poll_s" -> (r.commitNs - r.landNs) / 1e9,
        "protect_s" -> (r.protectNs - r.landNs) / 1e9,
        "alerts" -> r.alerts,
        "foreign_cores" -> r.foreignCores,
        "quiet" -> (r.foreignCores <= Window.QuietCores),
        "rows" -> spec.rowCount(r.poll))),
      "self_failed" -> failedPolls,
      "mismatches" -> mismatches.toSeq,
      "providers" -> Json.obj("detection" -> provider, "mitigate" -> provider),
      "collab" -> Json.obj(
        "segments_total" -> segments,
        "frames_published" -> originals.values.map(_.size).sum,
        "frames_redelivered" -> redelivered,
        "mitigation_rows" -> emitted.size),
      "progress" -> Json.obj("detection" -> progress(detectQ), "mitigate" -> progress(mitigateQ))))
  }

  private def progressJson(p: StreamingQueryProgress): Json.Obj = {
    val st = p.stateOperators.headOption
    Json.obj(
      "batch" -> p.batchId,
      "input_rows" -> p.numInputRows,
      "duration_ms" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      "state_rows" -> st.map(_.numRowsTotal),
      "state_bytes" -> st.map(_.memoryUsedBytes),
      "state_commit_ms" -> st.map(_.commitTimeMs),
      "state_update_ms" -> st.map(_.allUpdatesTimeMs))
  }
}
