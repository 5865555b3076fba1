package graft

import org.scalatest.funsuite.AnyFunSuite

/** The compact last stdout line of `Bench`: timing rows are told from
  * telemetry rows by key suffix, and `elided` counts only the timing rows
  * the character budget left out. Pure-function tests — no Spark.
  */
class BenchCompactLineSpec extends AnyFunSuite {

  private def keys(line: String): Seq[String] =
    "\"([a-z0-9_]+)\":[0-9.]+".r.findAllMatchIn(line.split("\"queries\":")(1).takeWhile(_ != '}'))
      .map(_.group(1)).toSeq

  private def elided(line: String): Int =
    "\"elided\":([0-9]+)".r.findFirstMatchIn(line).get.group(1).toInt

  test("timing rows that merely contain a telemetry token are kept") {
    val results = Seq("t6_bpe_merges" -> 0.1, "s16_ivf_pq_reranked" -> 4.2,
      "detect_poll_mean" -> 0.4, "sf10_s9_query_auto" -> 1.5,
      // telemetry: counters, load stamps, recall and size fractions
      "t7_bpe_512_epoch_merges" -> 90.0, "t7_bpe_64_batched_rounds" -> 60.0,
      "t7_bpe_64_batched_meanbatch" -> 1.1, "sf1_d7_sweeps" -> 2.0,
      "detect_poll_loadavg" -> 1.8, "detect_poll_ambient" -> 0.1,
      "detect_poll_reran" -> 0.0, "s4_recall" -> 0.6, "s4c_cand_frac" -> 0.07,
      "sf10_s9_recall_p16" -> 0.9, "sf10_s14_bytes_ratio" -> 0.25,
      "sf10_s17_reclaim_cells" -> 3.0, "sf10_s9_selectivity" -> 0.004,
      "sf10_s10_stream_batches" -> 5.0, "ann_auto_recall_uniform" -> 0.95,
      "ann_auto_is_ivf_uniform" -> 1.0, "ann_auto_mass_clustered" -> 0.5)
    val line = Bench.compactLine(results, results.map(_._2).sum, 0, "sf0.1")
    assert(keys(line) == Seq("s16_ivf_pq_reranked", "sf10_s9_query_auto",
      "detect_poll_mean", "t6_bpe_merges"))
    assert(elided(line) == 0)
    assert(line.endsWith("\"full\":\"bench_out.json\",\"sf\":\"sf0.1\"}"))
  }

  test("elided counts the timing rows the budget dropped, not the telemetry rows") {
    val timing = (1 to 40).map(i => f"q${i}%02d_row" -> i.toDouble)
    val results = timing ++ Seq("s3_recall" -> 0.95, "sf1_loadavg" -> 5.5)
    val line = Bench.compactLine(results, 0.0, 2, "sf0.1", budget = 200)
    val kept = keys(line)
    assert(line.length <= 200 + "},\"elided\":NN,\"errors_n\":2,\"full\":\"bench_out.json\",\"sf\":\"sf0.1\"}".length)
    assert(kept.nonEmpty && kept.head == "q40_row", kept) // slowest first
    assert(elided(line) == timing.size - kept.size)
    assert(line.contains("\"errors_n\":2"))
  }
}
