package perfbench

import java.nio.file.{Files, Paths}

/** One workload run in one JVM (`local[<cores>]`). Writes the raw result
  * (samples, checks, stamps and, when traced, the layer data and spans) as
  * JSON to `--out`; `perfbench/run.py` turns it into metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --out <file> [--scale <f>]
  */
object Main {

  /** Stream shapes at `scale` 1; flow counts scale linearly with `--scale`. */
  def streamSpec(workload: String, seed: Long, scale: Double): StreamSpec = {
    val benign = (n: Int) => math.max(1, math.round(n * scale).toInt)
    workload match {
      case "detect_dense" => StreamSpec(seed, domains = 2, benignPerDomain = benign(12500),
        activePerPoll = 2, botsPerPoll = 2)
      case "collab_spread" => StreamSpec(seed, domains = 24, benignPerDomain = benign(250),
        activePerPoll = 4, botsPerPoll = 1)
    }
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = opt("work")
    val scale = opts.get("scale").map(_.toDouble).getOrElse(1.0)
    val cores = Runtime.getRuntime.availableProcessors()

    val t0 = System.nanoTime()
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cores]").appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    graft.GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    val obs = if (trace) Some(new Obs(spark)) else None
    val tr = new Tracer(obs)
    def n(x: Int): Int = math.max(1, math.round(x * scale).toInt)

    val res = workload match {
      case "detect_dense" | "collab_spread" =>
        Streams.run(spark, tr, work, streamSpec(workload, seed, scale), seconds, t0)
      case "curate_replay" =>
        Batch.run(spark, tr, work, seed, docs = n(200), vecs = n(500), events = n(20000),
          users = n(300), seconds, t0)
      case other => sys.error(s"unknown workload $other")
    }
    val traced = obs.map { o =>
      val layers = o.layers
      val spans = o.allSpans.map(s => Json.obj("name" -> s.name, "op" -> s.op,
        "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      o.close()
      Seq("layers" -> layers, "spans" -> spans)
    }.getOrElse(Nil)
    val out = Json.Obj(res.fields ++ Seq(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "xmx_bytes" -> Runtime.getRuntime.maxMemory,
      "host_cores" -> new graft.util.ProcCpu().hostCores) ++ traced)
    Files.write(Paths.get(opt("out")), Json.render(out).getBytes("UTF-8"))
    spark.stop()
  }
}
