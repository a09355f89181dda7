package perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.block.Blocking
import graft.cluster.ConnectedComponents
import graft.functions.GraftFunctions.id128
import graft.ingest.CorpusGen
import graft.ops.{BloomPrune, Checkpoints, Lineage}
import graft.pipeline.ErPipeline
import graft.schema.Page
import graft.score.PairScorer
import graft.streaming.EntityAssign

/** Generator parameters of one workload. `batchDenom` marks a fold
  * workload: the `1/batchDenom` of the corpus lowest in url-hash order is
  * the batch, the rest the standing corpus. Any other workload runs the
  * checkpointed pipeline. */
final case class Workload(name: String, docs: Long, avgClusterSize: Int,
                          paragraphs: Int, paraWords: Int,
                          batchDenom: Option[Int] = None)

/**
 * The workloads, and the layer metrics each should move (traced seconds on
 * a 4-core host, of ~9 s per traced run), written down before any
 * optimisation is measured:
 *
 *  - `block.features.*` moves `wall_s` and `cpu_s` on er_batch (~2.2 s);
 *    predict no change on er_fold, whose corpus features are built in
 *    set-up (`streaming.page_features` ~0.25 s).
 *  - `block.keys.*`, `block.pairs.*` move `wall_s` on er_batch (~2.7 s) and
 *    er_fold (~3.3 s: batch keys, the bloom-pruned corpus key scan, delta
 *    pairs).
 *  - `score.edges.*` moves `wall_s` on er_fold (~2.2 s); little work on
 *    er_batch (~0.6 s).
 *  - `cluster.cc.*` moves `wall_s` on er_fold (~3 s, 17 jobs of
 *    `ConnectedComponents.incremental`); little on er_batch (~0.5 s: the
 *    edge set is far below CC's local-finish budget).
 *  - `ops.checkpoint.*`, `ops.lineage.jobs` move `wall_s` on er_batch only.
 *  - `pipeline.other.self_s` (the output relabel) moves `wall_s` on er_batch
 *    (~0.4 s); predict no change on er_fold (~0.1 s).
 *
 * Both corpora are small enough that per-job scheduling, not data volume,
 * sets most of the wall time: 22 cold-JVM runs of each workload, set-up
 * included, must fit the benchmark's time budget.
 */
object Workload {
  val all: Seq[Workload] = Seq(
    Workload("er_batch", docs = 10000, avgClusterSize = 5, paragraphs = 6, paraWords = 80),
    Workload("er_fold", docs = 12000, avgClusterSize = 5, paragraphs = 6, paraWords = 80,
      batchDenom = Some(20)))

  def named(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (expected one of ${all.map(_.name).mkString(", ")})"))
}

/** The inputs a workload's timed runs read, built once per invocation.
  * Every frame is local-checkpointed, so clearing the session's cache
  * between runs leaves them alone. `docs` is the run's input size: the
  * whole corpus, or the batch for a fold. `expectedRows` is the output
  * size every run must produce. */
final case class Prepared(pages: Dataset[Page], gold: DataFrame, docs: Long,
                          expectedRows: Long, fold: Option[FoldState])

/** The standing state a fold folds its batch into. */
final case class FoldState(batch: DataFrame, stops: DataFrame,
                           features: DataFrame, assignment: DataFrame)

/** Builds a workload's inputs and runs it, untraced through the public
  * pipeline entry points or traced through the same layer calls in the same
  * order with every layer boundary materialized. */
final class Runner(spark: SparkSession, w: Workload, seed: Long, workRoot: Path) {
  private val cfg = ErPipeline.Config()
  private val partitions = spark.sparkContext.defaultParallelism * 2
  private var runs = 0

  def prepare(): Prepared = {
    val pages = CorpusGen.pages(spark, w.docs, seed, w.avgClusterSize, partitions,
      w.paragraphs, w.paraWords).localCheckpoint(eager = true)
    val gold = CorpusGen.goldPairs(spark, w.docs, seed, w.avgClusterSize, partitions)
      .localCheckpoint(eager = true)
    w.batchDenom match {
      case None => Prepared(pages, gold, w.docs, w.docs, None)
      case Some(denom) =>
        // the batch is the 1/denom of the corpus lowest in url-hash order:
        // an exact share whose docs fall across the corpus's clusters
        val batchUrls = pages.select(col("url"))
          .orderBy(xxhash64(col("url")), col("url")).limit((w.docs / denom).toInt)
        val standing = pages.join(batchUrls, Seq("url"), "left_anti")
          .as[Page](Encoders.product[Page]).localCheckpoint(eager = true)
        val batch = pages.join(batchUrls, Seq("url"), "left_semi").localCheckpoint(eager = true)
        val stops = EntityAssign.corpusStops(standing.toDF(), cfg.blocking)
          .localCheckpoint(eager = true)
        val features = Blocking.features(standing, cfg.blocking)
          .select(col("url"), col("mention"), col("sig")).localCheckpoint(eager = true)
        val assignment = ErPipeline.run(standing, cfg).localCheckpoint(eager = true)
        spark.catalog.clearCache()
        Prepared(pages, gold, batch.count(), w.docs,
          Some(FoldState(batch, stops, features, assignment)))
    }
  }

  /** The workload's pipeline call, through its public entry point. */
  def run(p: Prepared): DataFrame = p.fold match {
    case None => ErPipeline.runCheckpointed(spark, p.pages, freshWorkDir(), cfg)
    case Some(f) =>
      ErPipeline.incremental(f.features, f.assignment,
        EntityAssign.pageFeatures(f.batch, f.stops, cfg.blocking), cfg)
  }

  /** [[run]] recomposed from the layer calls, each inside its span, each
    * boundary materialized so its work lands in its own span. */
  def traced(p: Prepared, t: Tracer): DataFrame = {
    t.newRun()
    t.span("pipeline") {
      p.fold match {
        case None => tracedCheckpointed(p, freshWorkDir(), t)
        case Some(f) => tracedFold(f, t)
      }
    }
  }

  private def hold(df: DataFrame): (DataFrame, Long) = {
    val held = df.persist(StorageLevel.MEMORY_AND_DISK)
    (held, held.count())
  }

  /** A layer call inside its span, its output materialized there; the
    * count is the layer's rows out. */
  private def layer(t: Tracer, name: String)(df: => DataFrame): (DataFrame, Long) =
    t.span(name) {
      val out = hold(df)
      t.count(name, out._2)
      out
    }

  private def nodes(pages: DataFrame): DataFrame =
    pages.select(col("url"), id128(col("url")).as("nid"))

  /** ErPipeline's private output relabel: each hash-id component takes its
    * minimum member url as its label. */
  private def relabelMinUrl(assigned: DataFrame): DataFrame = {
    val labels = assigned.groupBy(col("cluster_id")).agg(min(col("url")).as("cluster_url"))
    assigned.join(labels, Seq("cluster_id"))
      .select(col("url"), col("cluster_url").as("cluster_id"))
  }

  private def tracedCheckpointed(p: Prepared, dir: String, t: Tracer): DataFrame = {
    val fp = cfg.fingerprint
    // each stage commits the rows its layer just materialized
    def commit(stage: String, layerOut: (DataFrame, Long)): DataFrame = {
      val (df, rows) = layerOut
      val table = t.span("ops.checkpoint") {
        Checkpoints.stage(spark, s"$dir/$stage", stage, fp)(df)
      }
      t.count("ops.checkpoint", rows)
      t.span("ops.lineage") { Lineage.writeCounters(s"$dir/$stage", stage, table) }
      t.count("ops.lineage", rows)
      table
    }
    val pagesT = commit("pages", (p.pages.toDF(), p.docs))
    val feats = commit("features", layer(t, "block.features") {
      Blocking.features(pagesT.as[Page](Encoders.product[Page]), cfg.blocking)
        .withColumn("nid", id128(col("url")))
    })
    val featsKeyed = feats.drop("url").withColumnRenamed("nid", "url")
    val (blocks, _) = layer(t, "block.keys") { Blocking.blockKeys(featsKeyed, cfg.blocking) }
    val pairs = commit("pairs", layer(t, "block.pairs") {
      Blocking.candidatePairs(blocks, cfg.blocking)
    })
    val edges = commit("edges", layer(t, "score.edges") {
      PairScorer.score(Blocking.attachFeatures(pairs, featsKeyed), cfg.scorer)
    })
    val (assigned, _) = layer(t, "cluster.cc") {
      ConnectedComponents.assignAllKeyed(nodes(pagesT), edges, "nid", edgesCanonical = true)
    }
    commit("clusters", hold(relabelMinUrl(assigned)))
  }

  private def tracedFold(f: FoldState, t: Tracer): DataFrame = {
    val fcols = Seq(col("url"), col("mention"), col("sig"))
    val oldF = f.features.select(fcols: _*)
    val (newF, _) = layer(t, "streaming.page_features") {
      EntityAssign.pageFeatures(f.batch, f.stops, cfg.blocking).select(fcols: _*)
    }
    val allF = oldF.unionByName(newF)
    val (allBlocks, _) = layer(t, "block.keys") {
      val (newBlocks, nNew) = hold(Blocking.blockKeys(newF, cfg.blocking)
        .withColumn("fresh", lit(true)))
      val touchKey = BloomPrune.mightContain(newBlocks.select(col("key")), "key",
        col("key"), math.max(1L, nNew))
      Blocking.blockKeys(oldF, cfg.blocking).filter(touchKey)
        .withColumn("fresh", lit(false)).unionByName(newBlocks)
    }
    val (cand, nCand) = layer(t, "block.pairs") {
      Blocking.deltaCandidatePairs(allBlocks, cfg.blocking)
    }
    val sideIds = cand.select(col("url_a").as("id"))
      .unionAll(cand.select(col("url_b").as("id")))
    val inPairs = BloomPrune.mightContain(sideIds, "id", col("url"), math.max(1L, 2L * nCand))
    val (edges, _) = layer(t, "score.edges") {
      PairScorer.score(Blocking.attachFeatures(cand, allF.filter(inPairs)), cfg.scorer)
        .select(col("url_a"), col("url_b"))
    }
    layer(t, "cluster.cc") {
      val touched = ConnectedComponents.incremental(f.assignment, edges)
      val singles = newF.select(col("url"))
        .join(touched, Seq("url"), "left_anti")
        .select(col("url"), col("url").as("cluster_id"))
      touched.unionByName(singles)
    }._1
  }

  /** A fresh checkpoint directory per run; [[discard]] removes it. */
  private def freshWorkDir(): String = {
    runs += 1
    workRoot.resolve(s"${w.name}-$seed-$runs").toString
  }

  /** Drop what a finished run left behind: its cached frames (the engine's
    * own and the benchmark's) and its checkpoint directories. */
  def discard(): Unit = {
    spark.catalog.clearCache()
    Runner.deleteTree(workRoot)
  }
}

object Runner {
  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try paths.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally paths.close()
    }
}
