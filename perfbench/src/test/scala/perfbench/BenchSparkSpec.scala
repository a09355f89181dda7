package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.PerfbenchBridge
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's Spark-side logic on ~1k-doc inputs. */
class BenchSparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val out: Path = Paths.get("target", "test-out").toAbsolutePath
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    Runner.deleteTree(out)
    spark = ErBench.session(out, "perfbench-test")
  }

  override def afterAll(): Unit = {
    spark.stop()
    Runner.deleteTree(out)
  }

  test("the listener attributes jobs and tasks to the innermost open span") {
    val sc = spark.sparkContext
    val listener = new LayerListener
    sc.addSparkListener(listener)
    try {
      val tracer = new Tracer(sc)
      tracer.newRun()
      // a filter + collect is one job of four tasks
      val df = spark.range(0, 1000, 1, 4).toDF("id").filter(col("id") % 7 === 0)
      tracer.span("outer") {
        df.collect()
        tracer.span("inner") { df.collect() }
        df.collect()
      }
      df.collect() // outside any span
      PerfbenchBridge.drainListeners(sc)
      val work = listener.snapshot()
      val ids = tracer.spans.map(s => s.name -> s.id).toMap
      assert(work(ids("outer")).jobs == 2)
      assert(work(ids("inner")).jobs == 1)
      assert(work(ids("inner")).tasks == 4)
      assert(work(LayerListener.Untraced).jobs == 1)
      assert(work(ids("outer")).cpuNs > 0)
      assert(tracer.spans.find(_.name == "inner").get.parent.contains(ids("outer")))
      assert(sc.getLocalProperty(Tracer.SpanKey) == null)
    } finally sc.removeSparkListener(listener)
  }

  for (w <- Workload.all) test(s"${w.name}: checked output, traced run equals untraced run") {
    val small = w.copy(docs = 1000)
    val runner = new Runner(spark, small, 7L, out.resolve("work"))
    val p = runner.prepare()
    val untraced = runner.run(p).localCheckpoint(eager = true)
    runner.discard()
    val rows = untraced.count()
    assert(ErBench.check(untraced, rows, p).isRight)
    // a wrong output fails its check
    val short = untraced.limit((rows - 1).toInt)
    assert(ErBench.check(short, rows - 1, p).isLeft)
    val urls = untraced.select(col("url")).orderBy(col("url")).collect().map(_.getString(0))
    val dup = untraced.filter(col("url") =!= urls.last)
      .union(untraced.filter(col("url") === urls.head))
    assert(ErBench.check(dup, rows, p).isLeft)

    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    try {
      val tracer = new Tracer(spark.sparkContext)
      val traced = runner.traced(p, tracer).localCheckpoint(eager = true)
      runner.discard()
      assert(traced.exceptAll(untraced).isEmpty && untraced.exceptAll(traced).isEmpty)
      PerfbenchBridge.drainListeners(spark.sparkContext)
      val m = ErBench.layerMetrics(tracer, 1, listener.snapshot(), p.docs)
      val expected = if (w.batchDenom.isEmpty)
        Seq("block.features", "block.keys", "block.pairs", "score.edges", "cluster.cc",
          "ops.checkpoint", "ops.lineage")
      else Seq("streaming.page_features", "block.keys", "block.pairs", "score.edges",
        "cluster.cc")
      expected.foreach(l => assert(m(s"$l.jobs") > 0, l))
      (ErBench.Layers.toSet -- expected).foreach(l => assert(m(s"$l.jobs") == 0, l))
      assert(m("cluster.cc.rows_out") == p.expectedRows)
      assert(m("trace.span_coverage") > 0.5 && m("trace.span_coverage") <= 1.0)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
