package graft

import org.apache.spark.sql.SparkSession

import graft.eval.PairwiseF1
import graft.ingest.CorpusGen
import graft.pipeline.ErPipeline

/**
 * spark-submit entry: end-to-end record-linkage run over the synthetic
 * Common-Crawl-style corpus with checkpointed, resumable stages
 * (SURVEY.md §7.1 Main). Usage:
 *
 *   runMain graft.Main <nDocs> <workDir> [cores]
 *
 * Prints one JSON line with cluster counts, pairwise P/R/F1 on the labeled
 * same-blocking-key pairs, and docs/sec.
 */
object Main {
  /** `raw` parsed by `parse`; a malformed value fails naming its `source`
    * (the argument or environment variable it came from). */
  private[graft] def setting[T](source: String, raw: String)(parse: String => T): T =
    try parse(raw)
    catch { case _: NumberFormatException =>
      throw new IllegalArgumentException(s"$source: not a number: '$raw'") }

  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).fold(10000L)(setting("nDocs argument", _)(_.toLong))
    val workDir = args.lift(1).getOrElse("/tmp/graft-run")
    val cores = setting(if (args.length > 2) "cores argument" else "SPARK_GRAFT_CPUS",
      args.lift(2).getOrElse(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")))(_.toInt)

    val spark = graft.ops.Sessions.builder(cores, "graft-er")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val t0 = System.nanoTime()
    val pages = CorpusGen.pages(spark, nDocs, seed = 42L, partitions = cores * 2)
    val clusters = ErPipeline.runCheckpointed(spark, pages, workDir)
    val nClusters = clusters.select("cluster_id").distinct().count()
    val nPages = clusters.count()
    val elapsed = (System.nanoTime() - t0) / 1e9

    val gold = CorpusGen.goldPairs(spark, nDocs, seed = 42L, partitions = cores * 2)
    val res = PairwiseF1.evaluate(gold, clusters)

    // candidate-miss split (strong_matching_eval.py:86-127 analog): which
    // FNs never survived blocking vs were scored/clustered apart — read the
    // pairs stage snapshot the checkpointed run just committed (in 128-bit
    // id space; translated back to urls by hashing the features snapshot's
    // urls — a diagnostics-only join, off the hot path)
    val candPairs = ErPipeline.pairsToUrls(
      spark.read.parquet(s"$workDir/pairs/data"),
      spark.read.parquet(s"$workDir/features/data"))
    val diag = PairwiseF1.missDiagnostics(gold, candPairs, clusters).collect().head

    println(
      f"""{"docs":$nPages,"clusters":$nClusters,"precision":${res.precision}%.4f,""" +
      f""""recall":${res.recall}%.4f,"f1":${res.f1}%.4f,""" +
      f""""fn_not_candidate":${diag.getAs[Long]("fn_not_candidate")},""" +
      f""""fn_scored_apart":${diag.getAs[Long]("fn_scored_apart")},""" +
      f""""blocking_recall":${diag.getAs[Double]("blocking_recall")}%.4f,""" +
      f""""elapsed_sec":$elapsed%.1f,"docs_per_sec":${nPages / elapsed}%.1f,""" +
      s""""work_dir":"$workDir","cores":$cores}""")
    spark.stop()
  }
}
