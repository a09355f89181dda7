package graft.tools

import java.nio.file.{Files, Paths}

/**
 * Dump `.explain("formatted")` for named SparkEntry queries under the EXACT
 * bench session config: `ExplainQuery <sfDir> <outDir> <suffix> <names,csv>`.
 * Writes `<outDir>/<name>_<suffix>.txt` per query (the plans/r06 deliverable).
 * Names as [[BenchQueries.resolve]], so the bench-only stress tiers work too.
 */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, namesCsv) = args.take(4)
    val spark = BenchQueries.session(32, "graft-explain")
    new java.io.File(outDir).mkdirs()
    namesCsv.split(',').map(_.trim).filter(_.nonEmpty).foreach { name =>
      val df = BenchQueries.resolve(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      System.err.println(s"[explain] wrote $name ($suffix): ${plan.length} chars")
    }
    spark.stop()
  }
}
