package graft.tools

import org.apache.spark.scheduler._

/**
 * Per-job and per-stage wall/CPU breakdown of one query under the bench
 * session: `QueryProfile <name> <sfDir> [runs] [cores]` (names as
 * [[BenchQueries.resolve]]). Prints each run's wall and row count, then for
 * the LAST (warm) run every Spark job (JOB: duration, stage and task counts,
 * call site), the driver-side time between jobs (GAP: planning, collects,
 * broadcast builds), every stage (STAGE: submission-to-completion wall,
 * summed task run time, CPU, deserialization, GC, tasks, shuffle read and
 * write, the physical operators from the RDD scopes), and a TOTAL line.
 * All graft sessions run with the Spark UI disabled; this is its stand-in.
 *
 * `GRAFT_PRINT_PLANS=1` also dumps the final adaptive plan of every
 * substantial query execution, including eager-localCheckpoint interiors
 * that ExplainQuery cannot see.
 */
object QueryProfile {

  private final case class Job(id: Int, t0: Long, var t1: Long, stages: Int,
                               tasks: Int, site: String)
  private final case class Stage(id: Int, t0: Long, var t1: Long, tasks: Int,
                                 name: String, var runMs: Long = 0L,
                                 var cpuNs: Long = 0L, var deserMs: Long = 0L,
                                 var gcMs: Long = 0L, var readB: Long = 0L,
                                 var writeB: Long = 0L)

  /** Records the jobs and stages that run between [[start]] and [[stop]]. */
  final class Recorder extends SparkListener {
    private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val stages = new java.util.concurrent.ConcurrentHashMap[Int, Stage]()
    @volatile private var record = false

    def start(): Unit = { jobs.clear(); stages.clear(); record = true }
    def stop(): Unit = { record = false; Thread.sleep(300) } // let events drain

    override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("callSite.short")))
        .orElse(e.stageInfos.sortBy(-_.stageId).headOption.map(_.name))
        .getOrElse("?")
      jobs.put(e.jobId, Job(e.jobId, e.time, -1L,
        e.stageInfos.size, e.stageInfos.map(_.numTasks).sum, site.take(90)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (record) {
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (record) {
      val si = e.stageInfo
      // rdd scope names carry the physical operator names AQE hides from
      // the stage call site
      val ops = si.rddInfos.sortBy(_.id).flatMap(_.scope.map(_.name)).distinct.mkString(">")
      stages.put(si.stageId, Stage(si.stageId, System.currentTimeMillis(), -1L,
        si.numTasks, ops.take(200)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (record) {
      Option(stages.get(e.stageInfo.stageId)).foreach { s =>
        s.t1 = System.currentTimeMillis()
        Option(e.stageInfo.taskMetrics).foreach { m =>
          s.runMs = m.executorRunTime
          s.cpuNs = m.executorCpuTime
          s.deserMs = m.executorDeserializeTime
          s.gcMs = m.jvmGCTime
          s.readB = m.shuffleReadMetrics.totalBytesRead
          s.writeB = m.shuffleWriteMetrics.bytesWritten
        }
      }
    }

    /** JOB lines (jobs of at least `minJobSec`) and GAP lines (over `minGapMs`). */
    def printJobs(minGapMs: Long, minJobSec: Double = 0.0): Unit = {
      var prevEnd = -1L
      jobs.values().toArray(Array.empty[Job]).sortBy(_.t0).foreach { j =>
        if (prevEnd > 0 && j.t0 - prevEnd > minGapMs)
          println(f"  GAP   ${(j.t0 - prevEnd) / 1000.0}%7.2f s  (driver-side)")
        val dur = if (j.t1 > 0) (j.t1 - j.t0) / 1000.0 else -1.0
        if (dur >= minJobSec)
          println(f"  JOB ${j.id}%3d $dur%7.2f s  stages=${j.stages}%2d tasks=${j.tasks}%5d  ${j.site}")
        prevEnd = math.max(prevEnd, if (j.t1 > 0) j.t1 else j.t0)
      }
    }

    /** STAGE lines and the TOTAL line. */
    def printStages(): Unit = {
      val sorted = stages.values().toArray(Array.empty[Stage]).sortBy(_.t0)
      sorted.foreach { s =>
        val dur = if (s.t1 > 0) (s.t1 - s.t0) / 1000.0 else -1.0
        println(f"  STAGE ${s.id}%4d $dur%6.2f s  run=${s.runMs / 1000.0}%6.2f s cpu=${s.cpuNs / 1e9}%6.2f s " +
          f"deser=${s.deserMs / 1000.0}%5.2f s gc=${s.gcMs / 1000.0}%5.2f s tasks=${s.tasks}%4d " +
          f"sr=${s.readB / 1048576.0}%7.1fMB sw=${s.writeB / 1048576.0}%7.1fMB  ${s.name}")
      }
      val done = sorted.filter(_.t1 > 0)
      println(f"  TOTAL stage-wall=${done.map(s => s.t1 - s.t0).sum / 1000.0}%.2f s " +
        f"cpu=${sorted.map(_.runMs).sum / 1000.0}%.2f s stages=${sorted.length}")
    }
  }

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val cores = if (args.length > 3) args(3).toInt else 32
    val spark = BenchQueries.session(cores, "graft-queryprofile")
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    if (sys.env.contains("GRAFT_PRINT_PLANS"))
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               durationNs: Long): Unit = {
          val s = qe.executedPlan.toString
          if (s.length > 2000) { // only the substantial plans
            println(s"==== QE $funcName ${durationNs / 1e9} s ====")
            println(s.take(30000))
          }
        }
        override def onFailure(funcName: String,
                               qe: org.apache.spark.sql.execution.QueryExecution,
                               exception: Exception): Unit = ()
      })

    val fn = BenchQueries.resolve(name)
    (1 to runs).foreach { i =>
      if (i == runs) rec.start()
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"QUERYPROFILE $name run=$i rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    rec.stop()
    rec.printJobs(minGapMs = 30)
    rec.printStages()
    spark.stop()
  }
}
