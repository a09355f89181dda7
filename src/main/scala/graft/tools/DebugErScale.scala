package graft.tools

/** Job-level wall breakdown of the 900k-doc scaling workload (the north
  * rule's timed job) at a given core count: `DebugErScale <corpusDir>
  * [cores]`. Prints every job ≥ 50 ms and driver-side gaps ≥ 50 ms of the
  * SECOND (warm) run — the decomposition of the fixed floor F that caps
  * eff(N→4N) as the parallel work W shrinks. */
object DebugErScale {
  def main(args: Array[String]): Unit = {
    val corpusDir = args(0)
    val cores = if (args.length > 1) args(1).toInt else 8
    val parts = sys.env.getOrElse("GRAFT_STATIC_PARTS", "16").toInt
    val spark = graft.ops.Sessions.builder(cores, "graft-debug-er-scale")
      .config("spark.sql.shuffle.partitions", parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val rec = new QueryProfile.Recorder
    spark.sparkContext.addSparkListener(rec)

    val pages = spark.read.parquet(corpusDir)
      .as[graft.schema.Page](org.apache.spark.sql.Encoders.product[graft.schema.Page])
    (1 to 2).foreach { i =>
      if (i == 2) rec.start()
      val t0 = System.nanoTime()
      val n = graft.pipeline.ErPipeline.run(pages).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"ERSCALE run=$i cores=$cores rows=$n sec=$sec%.2f")
    }
    rec.stop()
    rec.printJobs(minGapMs = 50, minJobSec = 0.05)
    spark.stop()
  }
}
