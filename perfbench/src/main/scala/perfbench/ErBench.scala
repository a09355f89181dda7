package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.eval.PairwiseF1

/**
 * The ER benchmark: one workload, one seed, one `local[4]` Spark JVM.
 *
 * {{{
 *   ErBench --workload <er_batch|er_fold> --seed <n> --seconds <s>
 *           --trace <0|1> [--out <dir>]
 * }}}
 *
 * Set-up (session start, corpus and gold generation, the fold's standing
 * state, one warm-up run) is timed as `setup_s`. Then runs repeat until
 * `--seconds` have passed, at least twice. Every run's output is checked;
 * a run that throws or fails a check is counted as failed and never timed.
 * `--trace 1` makes one untraced run, then traced runs, and reports
 * per-layer metrics instead of end-to-end ones; each traced output must
 * equal the warm-up run's output. The last stdout line is the JSON result.
 */
object ErBench {
  val Cores = 4

  /** Layer spans, named `module.function`. */
  val Layers: Seq[String] = Seq("block.features", "streaming.page_features", "block.keys",
    "block.pairs", "score.edges", "cluster.cc", "ops.checkpoint", "ops.lineage")

  final case class Args(workload: Workload, seed: Long, seconds: Int, trace: Boolean,
                        out: Path)

  def parseArgs(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"expected --flag value pairs, got: ${argv.mkString(" ")}")
    val kv = argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"expected a --flag, got '$k'"); k.drop(2) -> v
    }.toMap
    val unknown = kv.keySet -- Set("workload", "seed", "seconds", "trace", "out")
    require(unknown.isEmpty, s"unknown flags: ${unknown.mkString(", ")}")
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    def num[T](k: String, parse: String => T): T =
      try parse(get(k))
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(s"--$k: not a number: '${get(k)}'") }
    val seconds = num("seconds", _.toInt)
    require(seconds > 0, s"--seconds must be positive, got $seconds")
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case other => throw new IllegalArgumentException(s"--trace must be 0 or 1, got '$other'")
    }
    Args(Workload.named(get("workload")), num("seed", _.toLong), seconds, trace,
      Paths.get(kv.getOrElse("out", ".bench_build/perfbench")).toAbsolutePath)
  }

  /** One checked run: wall and task CPU of the timed window, and the
    * output's pairwise F1 against gold (computed after the window). */
  final case class Sample(wallS: Double, cpuS: Double, f1: Double)

  /** Attempted and failed runs, and the samples of the runs that passed. */
  final class Tally {
    val samples: mutable.ArrayBuffer[Sample] = mutable.ArrayBuffer.empty
    var attempted = 0
    var failed = 0

    /** Run `attempt`; a throw or a failed check marks the run failed. */
    def record(label: String)(attempt: => Either[String, Sample]): Option[Sample] = {
      attempted += 1
      val result =
        try attempt
        catch { case NonFatal(e) => Left(s"threw ${e.getClass.getName}: ${e.getMessage}") }
      result match {
        case Right(s) =>
          println(f"$label: wall ${s.wallS}%.3f s, task cpu ${s.cpuS}%.3f s, F1 ${s.f1}%.4f")
          samples += s
          Some(s)
        case Left(why) =>
          failed += 1
          println(s"FAILED $label: $why")
          None
      }
    }
  }

  /** The checks every run's output must pass: one row per input doc, each
    * url once and from the input, every doc labeled, and pairwise F1 ≥ 0.99
    * against the generator's gold. Returns the F1. */
  def check(out: DataFrame, rows: Long, p: Prepared): Either[String, Double] = {
    if (rows != p.expectedRows) return Left(s"$rows output rows, expected ${p.expectedRows}")
    val r = out.agg(countDistinct(col("url")), count(when(col("cluster_id").isNull, 1)))
      .first()
    if (r.getLong(0) != rows) return Left(s"${r.getLong(0)} distinct urls in $rows rows")
    if (r.getLong(1) != 0) return Left(s"${r.getLong(1)} rows without a cluster_id")
    val strangers = out.select(col("url"))
      .join(p.pages.toDF().select(col("url")), Seq("url"), "left_anti").count()
    if (strangers != 0) return Left(s"$strangers output urls are not input urls")
    val f1 = PairwiseF1.evaluate(p.gold, out).f1
    if (f1 < 0.99) Left(f"pairwise F1 $f1%.4f < 0.99") else Right(f1)
  }

  /** A fixed single-thread ALU loop: a reading of host speed taken beside
    * each set of runs. It is printed, never used to correct a number. */
  def canarySeconds(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 0) println("")
    (System.nanoTime() - t0) / 1e9
  }

  /** The engine's shared session settings plus the shuffle and join sizing
    * of the engine's own `Bench`, with every file Spark writes under `out`. */
  def session(out: Path, app: String): SparkSession = {
    val s = graft.ops.Sessions.builder(Cores, app)
      .config("spark.sql.shuffle.partitions", (Cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (32L * 1024 * 1024).toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (16L * 1024 * 1024).toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One untraced run: the pipeline call and the materialization of its
    * output are timed; the checks run after. */
  def untracedRun(spark: SparkSession, listener: LayerListener, runner: Runner,
                  p: Prepared): (Either[String, Sample], DataFrame) = {
    val sc = spark.sparkContext
    PerfbenchBridge.drainListeners(sc)
    val cpu0 = listener.totalCpuNs()
    val t0 = System.nanoTime()
    val out = runner.run(p).persist()
    val rows = out.count()
    val wall = (System.nanoTime() - t0) / 1e9
    PerfbenchBridge.drainListeners(sc)
    val cpu = (listener.totalCpuNs() - cpu0) / 1e9
    (check(out, rows, p).map(Sample(wall, cpu, _)), out)
  }

  def main(argv: Array[String]): Unit = {
    val args = try parseArgs(argv) catch {
      case e: IllegalArgumentException =>
        System.err.println(s"perfbench: ${e.getMessage}")
        sys.exit(2)
    }
    val w = args.workload
    Files.createDirectories(args.out)
    val canaryBefore = canarySeconds()

    val spark = session(args.out, s"perfbench-${w.name}")
    // JVM start to a ready session, less the canary's own loop
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3 - canaryBefore
    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    val runner = new Runner(spark, w, args.seed, args.out.resolve("work"))
    val tally = new Tally

    val t0 = System.nanoTime()
    val p = runner.prepare()
    val prepS = (System.nanoTime() - t0) / 1e9
    // warm-up: a full checked run whose wall belongs to set-up; its output
    // is the reference a traced run must reproduce
    val t1 = System.nanoTime()
    val (warm, warmOut) = untracedRun(spark, listener, runner, p)
    warm.left.foreach(why => throw new IllegalStateException(s"warm-up run failed: $why"))
    val reference = if (args.trace) Some(warmOut.localCheckpoint(eager = true)) else None
    runner.discard()
    val warmS = (System.nanoTime() - t1) / 1e9
    val setupS = sessionS + prepS + warmS
    println(f"setup: session $sessionS%.2f s + inputs $prepS%.2f s + warm-up $warmS%.2f s " +
      f"(warm-up run ${warm.map(_.wallS).getOrElse(0.0)}%.3f s)")

    val end = System.nanoTime() + args.seconds * 1000000000L
    val result = reference match {
      case None =>
        // the first run after the warm-up is still warming: never the only one
        repeatUntil(end, minRuns = 2) {
          tally.record(s"run ${tally.attempted + 1}") {
            try untracedRun(spark, listener, runner, p)._1 finally runner.discard()
          }
        }
        endToEnd(tally, p, setupS)
      case Some(ref) => traced(spark, listener, runner, p, ref, tally, end, args)
    }

    val canaryAfter = canarySeconds()
    println(f"canary_s: before $canaryBefore%.3f, after $canaryAfter%.3f (1-thread ALU loop; not used to correct any number)")
    val correct = tally.failed == 0 && tally.samples.nonEmpty
    println(s"""{"correct":$correct,"attempted":${tally.attempted},"failed":${tally.failed},""" +
      s""""metrics":{${result.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }
        .mkString(",")}}}""")
    Console.flush()
    spark.stop()
    if (!correct) sys.exit(1)
  }

  def endToEnd(tally: Tally, p: Prepared, setupS: Double): Seq[(String, (Double, String))] = {
    val s = tally.samples.toSeq
    val walls = s.map(_.wallS)
    val wall = if (s.isEmpty) 0.0 else Stats.median(walls)
    println(f"samples: ${s.length} passed of ${tally.attempted} attempted; " +
      f"failed_frac ${tally.failed.toDouble / tally.attempted}%.4f")
    println(f"wall_s: median $wall%.4f s over ${s.length} runs; " + (Stats.tail(walls) match {
      case Some(t) => f"p${t.percentile}%.1f ${t.value}%.4f s with ${t.beyond} runs beyond it"
      case None => s"no percentile has 10 runs beyond it (${s.length} runs)"
    }))
    Seq(
      "wall_s" -> (wall, "s"),
      "docs_per_s" -> (if (wall > 0) p.docs / wall else 0.0, "docs/s"),
      "cpu_s" -> (if (s.isEmpty) 0.0 else Stats.median(s.map(_.cpuS)), "s"),
      "setup_s" -> (setupS, "s"),
      "pairwise_f1" -> (if (s.isEmpty) 0.0 else s.map(_.f1).min, "ratio"))
      .map { case kv @ (k, (v, u)) => println(s"$k = $v $u"); kv }
  }

  /** Run `one` until `end` has passed, and at least `minRuns` times. */
  def repeatUntil(end: Long, minRuns: Int)(one: => Unit): Unit = {
    var runs = 0
    do { one; runs += 1 } while (runs < minRuns || System.nanoTime() < end)
  }

  /** One untraced run for the wall the tracing overhead is taken against,
    * then traced runs until `end`. Each traced output must equal the
    * untraced `reference` output. */
  def traced(spark: SparkSession, listener: LayerListener, runner: Runner, p: Prepared,
             reference: DataFrame, tally: Tally, end: Long,
             args: Args): Seq[(String, (Double, String))] = {
    val sc = spark.sparkContext
    val untraced = tally.record("untraced run") {
      try untracedRun(spark, listener, runner, p)._1 finally runner.discard()
    }
    val tracer = new Tracer(sc)
    val perRun = mutable.ArrayBuffer.empty[Map[String, Double]]
    repeatUntil(end, minRuns = 1) {
      tally.record(s"traced run ${perRun.length + 1}") {
        try {
          val out = runner.traced(p, tracer).persist()
          val rows = out.count()
          PerfbenchBridge.drainListeners(sc)
          val run = tracer.spans.last.run
          check(out, rows, p).flatMap { f1 =>
            val diff = out.exceptAll(reference).count() + reference.exceptAll(out).count()
            if (diff != 0) Left(s"traced output differs from untraced output in $diff rows")
            else {
              val m = layerMetrics(tracer, run, listener.snapshot(), p.docs)
              perRun += m
              Right(Sample(m("trace.wall_s"), m("trace.task_cpu_s"), f1))
            }
          }
        } finally runner.discard()
      }
    }

    writeSpans(args, tracer, listener)
    if (perRun.isEmpty) return Seq.empty
    // a failed untraced run already makes the result incorrect
    val untracedWall = untraced.map(_.wallS).getOrElse(0.0)
    val medians = perRun.head.keys.map(k => k -> Stats.median(perRun.map(_(k)).toSeq)).toMap +
      ("trace.overhead_s" -> (Stats.median(perRun.map(_("trace.wall_s")).toSeq) - untracedWall))
    println(s"traced runs: ${perRun.length}; untraced wall $untracedWall s")
    medians.toSeq.sortBy(_._1).map { case (k, v) =>
      val u = unitOf(k); println(s"$k = $v $u"); k -> (v, u)
    }
  }

  def unitOf(metric: String): String = metric.split('.').last match {
    case "self_s" | "task_cpu_s" | "wall_s" | "overhead_s" => "s"
    case "shuffle_mb" | "spill_mb" | "peak_task_mem_mb" => "MB"
    case "rows_out" => "rows"
    case "jobs" | "tasks" => "count"
    case "pairs_per_doc" => "pairs/doc"
    case _ => "ratio"
  }

  /** Per-layer metrics of one traced run. */
  def layerMetrics(t: Tracer, run: Int, work: Map[Int, SpanWork],
                   docs: Long): Map[String, Double] = {
    val spans = t.spans.filter(_.run == run)
    val self = Stats.selfNanos(spans)
    val root = spans.find(_.name == "pipeline").get
    val wallS = (root.endNs - root.startNs) / 1e9
    val perLayer = Layers.flatMap { name =>
      val ids = spans.filter(_.name == name).map(_.id)
      val selfS = ids.map(self).sum / 1e9
      val wk = ids.flatMap(work.get).foldLeft(SpanWork())(_ + _)
      val cpuS = wk.cpuNs / 1e9
      Seq(
        "self_s" -> selfS,
        "task_cpu_s" -> cpuS,
        "core_util" -> (if (selfS > 0) cpuS / (selfS * Cores) else 0.0),
        "rows_out" -> t.countedIn(run, name).toDouble,
        "shuffle_mb" -> wk.shuffleWriteBytes / 1e6,
        "spill_mb" -> wk.spillBytes / 1e6,
        "jobs" -> wk.jobs.toDouble,
        "tasks" -> wk.tasks.toDouble,
        "task_skew" -> wk.taskSkew,
        "peak_task_mem_mb" -> wk.peakTaskMemBytes / 1e6).map { case (k, v) => s"$name.$k" -> v }
    }.toMap
    val pairs = t.countedIn(run, "block.pairs").toDouble
    val layerSelf = Layers.map(l => perLayer(s"$l.self_s")).sum
    perLayer ++ Map(
      "pipeline.other.self_s" -> self(root.id) / 1e9,
      "block.pairs_per_doc" -> pairs / docs,
      "score.accept_ratio" -> (if (pairs > 0) t.countedIn(run, "score.edges") / pairs else 0.0),
      "trace.wall_s" -> wallS,
      "trace.task_cpu_s" -> spans.flatMap(s => work.get(s.id)).map(_.cpuNs).sum / 1e9,
      "trace.span_coverage" -> layerSelf / wallS)
  }

  /** Spans and their attributed work, one JSON object a line. */
  def writeSpans(args: Args, t: Tracer, listener: LayerListener): Unit = {
    val work = listener.snapshot()
    val lines = t.spans.map { s =>
      val w = work.getOrElse(s.id, SpanWork())
      s.toJson.dropRight(1) +
        s""","jobs":${w.jobs},"tasks":${w.tasks},"task_cpu_ns":${w.cpuNs},""" +
        s""""shuffle_write_bytes":${w.shuffleWriteBytes}}"""
    }
    val file = args.out.resolve(s"spans-${args.workload.name}-seed${args.seed}.jsonl")
    Files.write(file, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    println(s"spans: ${t.spans.length} written to $file")
  }
}
