package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Per-stage / per-partition lineage counters (SURVEY.md §2.5 A5; north rule
 * "per-partition lineage and counters written alongside snapshot
 * checkpoints"). The reference logs skip/discard counters ad hoc
 * (relik's `reader/data/relik_reader_data.py:815-841`); here they are
 * first-class: a row count and partition histogram dumped as JSON next to
 * the stage manifest.
 *
 * [[Checkpoints.stage]] writes a stage's counters once, at commit, from
 * one [[partitionCounts]] job over the re-read snapshot (so the histogram
 * describes that read's splits, not the write tasks); a resumed stage
 * keeps them.
 */
object Lineage {

  /** Row count per partition of `df` (one extra Spark job). */
  def partitionCounts(df: DataFrame): Seq[(Int, Long)] = {
    df.select(spark_partition_id().as("pid"))
      .groupBy("pid").count()
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
      .toSeq
  }

  def writeCounters(dir: String, stage: String, df: DataFrame,
                    extra: Map[String, Long] = Map.empty): Unit =
    writeHistogram(dir, stage, partitionCounts(df), extra)

  /** Write `counters.json` for a histogram already taken; returns its row
    * total. */
  private[ops] def writeHistogram(dir: String, stage: String, parts: Seq[(Int, Long)],
                                  extra: Map[String, Long] = Map.empty): Long = {
    val partsJson = parts.map { case (p, c) => s"""{"partition":$p,"rows":$c}""" }
      .mkString("[", ",", "]")
    val extraJson = extra.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val rows = parts.map(_._2).sum
    val skew = if (parts.nonEmpty && rows > 0)
      parts.map(_._2).max.toDouble * parts.length / rows else 0.0
    val json =
      s"""{"stage":"$stage","rows":$rows,"n_partitions":${parts.length},""" +
        f""""skew_factor":$skew%.3f,"partitions":$partsJson${if (extraJson.nonEmpty) "," + extraJson else ""}}"""
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(dir, "counters.json"), json.getBytes(StandardCharsets.UTF_8))
    rows
  }
}
