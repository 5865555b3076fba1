package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.dipa.Detect
import graft.fixtures.Fixtures
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** The batch workload. Each timed call writes its result as parquet,
  * so the work a user waits for (the full result, materialised) is what is
  * timed; the last round's outputs are then compared with their DuckDB
  * twins by the runner, outside the timed window.
  */
object Batch {

  /** One curation pass: the stages in pipeline order, with their layer. */
  val CurateStages: Seq[(String, String)] = Seq(
    "u1_curation" -> "dedup", "d2_jaccard_pairs" -> "dedup", "d7_dup_clusters" -> "dedup",
    "s4_ivf_topk" -> "sim", "s6_ivf_refined" -> "sim", "t7_bpe_train" -> "text")

  /** The telemetry analytics slice replayed after the curation stages: one
    * query from each of the a/c/e/o/p/w/z families, each with a DuckDB twin.
    * The whole family set (44 queries, about 25 s a warm round on 4 cores)
    * does not fit the run budget.
    */
  val ReplayQueries: Seq[String] = Seq("a1_last_snapshot_sum", "c3_pushback_fires",
    "e1_except", "o13_bias_ratio", "p2_session_stats", "w4_sliding_mean", "z2_range_join")

  private final case class Call(round: Int, timed: Boolean, name: String, layer: String,
                                s: Double, foreignCores: Double)

  private val proc = new graft.util.ProcCpu

  /** Time `body` as one call. A timed call during which other processes used
    * more than [[Window.QuietCores]] runs once more, and the quieter run is
    * kept: on a shared host a burst of foreign load slows a call by 20 % and
    * more, which would otherwise read as a regression.
    */
  private def call(spark: SparkSession, tr: Tracer, round: Int, timed: Boolean, name: String,
                   layer: String)(body: => Unit): Call = {
    def once(): Call = tr.layer(layer) {
      val c0 = proc.snap()
      val t = System.nanoTime()
      tr.span(name, "round")(body)
      val c = Call(round, timed, name, layer, (System.nanoTime() - t) / 1e9,
        proc.othersCores(c0, proc.snap()))
      spark.catalog.clearCache()
      c
    }
    val first = once()
    if (!timed || first.foreignCores <= Window.QuietCores) first
    else Seq(first, once()).minBy(_.foreignCores)
  }

  /** Warm-up rounds, then whole timed rounds for `seconds`, none that
    * would end past the window (at least one). Returns the calls, the
    * set-up time and the window.
    */
  private def runRounds(tr: Tracer, seconds: Double, warmRounds: Int, t0: Long,
                        round: Int => Seq[Call]): (Seq[Call], Double, Window) = {
    val calls = mutable.ArrayBuffer.empty[Call]
    def one(r: Int): Unit = { tr.op(r.toLong); calls ++= tr.span("round", "")(round(r)) }
    (0 until warmRounds).foreach(one)
    val setupS = (System.nanoTime() - t0) / 1e9
    val window = Window.measure(tr) { elapsedNs =>
      var r = warmRounds
      var last = 0L
      while (r == warmRounds || elapsedNs() + last < seconds * 1e9) {
        val t = System.nanoTime(); one(r); last = System.nanoTime() - t; r += 1
      }
    }
    (calls.toSeq, setupS, window)
  }

  /** Table-9 history: each thesis scenario as its own domain, seeded. */
  def history(seed: Long, scale: Int): Seq[Fixtures.Scenario] =
    Fixtures.Table9.zipWithIndex.map { case ((benign, bots), i) =>
      Fixtures.scenario(Fixtures.ScenarioParams(nBenignFlows = benign * scale,
        nBots = math.max(1, bots * scale), domain = s"t$i", seed = seed + 101L * i))
    }

  /** `curate_replay`: a round is one curation pass, then `Detect.detect`
    * over the Table-9 history, then the telemetry slice. Round 0 is set-up
    * and runs over tables a fifth the size: it only has to compile and warm
    * the same plans, and most of a call is planning either way.
    */
  def run(spark: SparkSession, tr: Tracer, work: String, seed: Long, docs: Int, vecs: Int,
          events: Int, users: Int, seconds: Double, t0: Long): Json.Obj = {
    import spark.implicits._
    def tables(dir: String, div: Int): Unit = {
      Corpus.documents(spark, dir, seed, docs / div)
      Corpus.embeddings(spark, dir, vecs / div)
      Corpus.events(spark, dir, seed, events / div, math.max(1, users / div))
    }
    val data = s"$work/data"
    val warm = s"$work/warm"
    tables(data, 1)
    tables(warm, 5)
    val scenarios = history(seed, 1)
    scenarios.flatMap(_.flows).toDF().repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(s"$data/flows.parquet")
    val flows = spark.read.parquet(s"$data/flows.parquet")
    val want = scenarios.flatMap(sc => sc.bots.map(b => (sc.flows.head.domain, b))).toSet
    val genS = (System.nanoTime() - t0) / 1e9
    var detectBad = 0
    val (calls, setupS, window) = runRounds(tr, seconds, warmRounds = 1, t0, { r =>
      val timed = r >= 1
      val dir = if (timed) data else warm
      def write(name: String, layer: String): Call = call(spark, tr, r, timed, name, layer) {
        SparkEntry.queries(name)(spark, dir).write.mode(SaveMode.Overwrite)
          .parquet(s"$work/out/$name")
      }
      val curate = CurateStages.map { case (name, layer) => write(name, layer) }
      var out = Array.empty[org.apache.spark.sql.Row]
      val detect = call(spark, tr, r, timed, "detect", "detect") {
        out = Detect.detect(flows).filter(col("is_suspected"))
          .select("domain", "ipv4_src", "cnc_ip").collect()
      }
      val got = out.map(r => (r.getString(0), r.getString(1))).toSet
      if (timed && (got != want || !out.forall(_.getString(2) == "10.0.0.4"))) detectBad += 1
      (curate :+ detect) ++ ReplayQueries.map(write(_, "queries"))
    })
    val checked = CurateStages.map(_._1) ++ ReplayQueries
    Json.Obj(window.fields ++ Seq(
      "kind" -> "batch",
      "setup_s" -> setupS,
      "gen_s" -> genS,
      "calls" -> calls.map(c => Json.obj("round" -> c.round, "timed" -> c.timed,
        "name" -> c.name, "layer" -> c.layer, "s" -> c.s, "foreign_cores" -> c.foreignCores)),
      "docs" -> docs, "vectors" -> vecs, "events" -> events,
      "flows" -> scenarios.map(_.flows.size.toLong).sum,
      "data_dir" -> data, "out_dir" -> s"$work/out",
      "oracle" -> checked.map(n => n -> SparkEntry.oracleSql(n)).toMap,
      "self_failed" -> detectBad))
  }
}
