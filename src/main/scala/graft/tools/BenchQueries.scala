package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * The session and query names the measurement tools (QueryProfile,
 * ExplainQuery, BenchExtra) share with the bench of record: one copy of
 * `graft.Bench`'s session settings, and a resolver that accepts every
 * [[graft.SparkEntry.queries]] name plus Bench's stress tiers.
 */
object BenchQueries {

  /** `graft.Bench`'s headline session at `cores` (the same settings). */
  def session(cores: Int, appName: String): SparkSession = {
    val s = graft.ops.Sessions.builder(cores, appName)
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
      .config("spark.sql.files.maxPartitionBytes", (8L * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (512L * 1024).toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (16L * 1024 * 1024).toString)
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** documents ∪ exact clones at doc_id + 1,000,000 (Bench's stress input). */
  private def clones(s: SparkSession, dir: String): DataFrame = {
    val d = s.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 1000000))
  }

  /** A query by name: the bench-only stress tiers `dedup_minhash_full` and
    * `dedup_simhash_full`, else the oracle-gated query map. */
  def resolve(name: String): (SparkSession, String) => DataFrame = name match {
    case "dedup_minhash_full" =>
      (s, dir) => graft.dedup.Dedup.minhashNearDupGroups(clones(s, dir), "doc_id", "text")
    case "dedup_simhash_full" =>
      (s, dir) => graft.dedup.Dedup.simhashNearDupPairs(clones(s, dir), "doc_id", "text")
    case n => graft.SparkEntry.queries(n)
  }
}
