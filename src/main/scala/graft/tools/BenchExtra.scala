package graft.tools

import scala.util.control.NonFatal

/**
 * Weather-robust per-query measurement (guide §1: measure first, and on
 * this host measure PAST the Firecracker throttle cycles): times the named
 * queries (or the full headline list) under the bench session, in R
 * interleaved rounds, and reports the per-query MIN together with each
 * round's 1-thread ALU canary ([[WeatherProbe.canarySec]]; ≈ 0.75-0.9 s
 * on an unthrottled core). The bench of record (graft.Bench) is frozen
 * single-pass per the measurement contract — this tool exists so
 * optimization deltas are not adjudicated on one sample of a host whose
 * effective CPU swings 2.5-4x on ~10-minute cycles (BASELINE.md).
 *
 * A query that throws, in the warm-up or in any round, prints
 * `FAILED <name> <message>`, is not run again, and is left out of the MIN
 * lines and `total_min`; the summary lists it under `failed`.
 *
 * Usage: BenchExtra <sfDir> [rounds] [cores] [names,csv|all]
 * Output: one MIN line per query + a final JSON-ish summary line.
 */
object BenchExtra {

  /** Per-query minima of the queries that never failed, and their sum. */
  final case class Summary(mins: Seq[(String, Double)], total: Double, failed: Seq[String])

  def summarize(names: Seq[String], samples: Map[String, Seq[Double]],
                failed: Set[String]): Summary = {
    val mins = names.filterNot(failed)
      .flatMap(n => samples.get(n).filter(_.nonEmpty).map(s => n -> s.min))
    Summary(mins, mins.map(_._2).sum, names.filter(failed))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val rounds = if (args.length > 1) args(1).toInt else 3
    val cores = if (args.length > 2) args(2).toInt else 32
    val headline = Seq(
      "q1_agg", "q3_top_orders", "j3_broadcast_dim", "t1_topk_per_group",
      "w3_sorted_neighborhood", "j8_pair_score", "ngram_jaccard",
      "text_quality", "text_langid", "token_counts", "f6_dedup_exact",
      "ann_topk", "embedding_cosine_pairs", "cc_components",
      "dedup_minhash", "dedup_simhash", "embedding_neardup", "ann_lsh_topk",
      "events_hourly", "stream_windowed", "er_pipeline", "er_clone_pairs",
      "a1_triplet_merge", "rel_per_relation", "p2_sentence_split",
      "dedup_minhash_full", "dedup_simhash_full")
    val names =
      if (args.length > 3 && args(3) != "all") args(3).split(',').map(_.trim).toSeq
      else headline

    val spark = BenchQueries.session(cores, "graft-bench-extra")
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    // runs `n` once; false (after a FAILED line) if it throws
    def run(n: String): Boolean =
      try { BenchQueries.resolve(n)(spark, sfDir).count(); true }
      catch {
        case NonFatal(e) =>
          println(s"FAILED $n ${String.valueOf(e.getMessage).takeWhile(_ != '\n')}")
          failed += n
          false
      }

    // warm-up pass (JIT + codegen), untimed
    names.foreach(run)

    val samples = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    val canaries = scala.collection.mutable.ArrayBuffer.empty[Double]
    (1 to rounds).foreach { r =>
      val c = WeatherProbe.canarySec()
      canaries += c
      names.filterNot(failed).foreach { n =>
        val t0 = System.nanoTime()
        if (run(n)) {
          val sec = (System.nanoTime() - t0) / 1e9
          samples(n) = sec :: samples(n)
          System.err.println(f"[bench-extra] round=$r canary=$c%.2f $n $sec%.3f")
        }
      }
    }
    val summary = summarize(names, samples.toMap, failed.toSet)
    summary.mins.foreach { case (n, m) => println(f"MIN $n $m%.3f") }
    val qjson = summary.mins.map { case (n, m) => f""""$n":$m%.3f""" }.mkString("{", ",", "}")
    val fjson = summary.failed.map(n => s""""$n"""").mkString("[", ",", "]")
    val cjson = canaries.map(c => f"$c%.2f").mkString("[", ",", "]")
    println(f"""{"metric":"total_min","value":${summary.total}%.3f,"unit":"sec","queries":$qjson,"failed":$fjson,"canaries":$cjson,"rounds":$rounds,"sf":"$sfDir"}""")
    spark.stop()
  }
}
