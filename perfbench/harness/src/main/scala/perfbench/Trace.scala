package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The traced run's recorder: a SparkListener plus the spans the harness
  * opens around passes, operations and phases. Everything is kept in
  * memory and summed per pass once the pass has ended.
  *
  * Block storage (RDD, checkpoint and broadcast blocks in memory or on
  * disk) is read from the block manager itself, by a sampler every 50 ms
  * for the peak. Listener block updates would miss blocks removed without
  * one (the ContextCleaner's and unpersist's `removeRdd`) and arrive late.
  *
  * Attribution of a Spark job:
  *  - to an operation and phase by the local properties the harness sets
  *    around each call (`perfbench.op`, `perfbench.phase`). Spark copies
  *    them into every job of the calling thread's SQL executions,
  *    including the stage jobs adaptive execution submits from its own
  *    threads, whose call site is only `CompletableFuture.java`;
  *  - to a graft module by the innermost `graft.` frame of the job's call
  *    site, or else of its SQL execution's call site. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private case class Job(id: Int, start: Long, op: String, phase: String,
                         module: String) {
    var end: Long = -1L
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val sqlSites = mutable.Map.empty[Long, String]
  private val stages = mutable.ArrayBuffer.empty[(Job, StageInfo)]
  private val tasks = mutable.ArrayBuffer.empty[(Long, Long)]
  private var storedPeak = 0L

  val spans = mutable.ArrayBuffer.empty[Span]

  sc.addSparkListener(this)

  private val sampler = new Thread(() => {
    var on = true
    while (on) {
      val b = storedBytes
      synchronized { storedPeak = math.max(storedPeak, b) }
      try Thread.sleep(50) catch { case _: InterruptedException => on = false }
    }
  }, "perfbench-storage")
  sampler.setDaemon(true)
  sampler.start()

  def stop(): Unit = { sampler.interrupt(); sampler.join() }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      sqlSites(s.executionId) = s.details
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val own = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val viaSql = prop("spark.sql.execution.id")
      .flatMap(id => sqlSites.get(id.toLong)).getOrElse("")
    val module = moduleOf(own).orElse(moduleOf(viaSql)).getOrElse("none")
    val j = Job(e.jobId, e.time, prop("perfbench.op").getOrElse(""),
      prop("perfbench.phase").getOrElse(""), module)
    jobs += j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).foreach(j => stages += ((j, e.stageInfo)))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }

  def storedBytes: Long = org.apache.spark.PerfbenchBus.storedBytes()

  /** Starts a new storage-peak window at the current level. */
  def resetPeak(): Unit = { val b = storedBytes; synchronized { storedPeak = b } }

  def peakBytes: Long = synchronized(storedPeak)

  def span[T](name: String, parent: String)(f: => T): T = {
    val t0 = System.currentTimeMillis()
    try f finally spans += Span(name, parent, t0, System.currentTimeMillis())
  }

  /** Every per-layer figure of one pass, [t0, t1] in epoch ms. */
  def summary(t0: Long, t1: Long): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val wall = (t1 - t0) / 1000.0
      val js = jobs.filter(j => j.start >= t0 && j.start <= t1).toSeq
      val ss = stages.filter { case (j, _) => j.start >= t0 && j.start <= t1 }
        .map(_._2).toSeq
      val ts = tasks.filter { case (a, _) => a >= t0 && a <= t1 }.toSeq
      def sumM(f: org.apache.spark.executor.TaskMetrics => Long): Double =
        ss.map(s => f(s.taskMetrics).toDouble).sum
      val out = mutable.LinkedHashMap.empty[String, Double]
      out("jobs") = js.size
      out("stages") = ss.size
      out("tasks") = ts.size
      out("task_idle_s") = wall - covered(ts, t0, t1) / 1000.0
      out("task_run_s") = sumM(_.executorRunTime) / 1e3
      out("task_cpu_s") = sumM(_.executorCpuTime) / 1e9
      out("task_gc_s") = sumM(_.jvmGCTime) / 1e3
      out("busy_cores") = if (wall > 0) out("task_run_s") / wall else 0.0
      out("shuffle_write_mb") = sumM(_.shuffleWriteMetrics.bytesWritten) / MB
      out("shuffle_read_mb") = sumM(_.shuffleReadMetrics.totalBytesRead) / MB
      out("spill_mb") = sumM(_.diskBytesSpilled) / MB
      // rows, not bytes: Spark's parquet reader here reports only the
      // footer bytes as read
      out("scan_rows") = sumM(_.inputMetrics.recordsRead)
      out("output_mb") = sumM(_.outputMetrics.bytesWritten) / MB
      out("output_rows") = sumM(_.outputMetrics.recordsWritten)
      for ((phase, n) <- js.groupBy(_.phase)) out(s"phase.$phase.jobs") = n.size
      for ((op, n) <- js.groupBy(_.op)) out(s"op.$op.jobs") = n.size
      for (m <- Modules) {
        val mj = js.filter(_.module == m)
        out(s"mod.$m.jobs") = mj.size
        out(s"mod.$m.s") =
          covered(mj.map(j => (j.start, if (j.end < 0) t1 else j.end)), t0, t1) / 1000.0
      }
      out.toMap
    }
  }
}

object Trace {
  val MB = 1024.0 * 1024.0
  val Modules = Seq("sources", "operators", "functions", "queries", "sinks", "pipeline")

  case class Span(name: String, parent: String, start: Long, end: Long)

  /** Module of the innermost graft frame of a long-form call site. */
  def moduleOf(callSite: String): Option[String] =
    callSite.split('\n').iterator.map(_.trim).find(_.startsWith("graft."))
      .map(_.split('.')(1)).map {
        case "expressions" => "functions"
        case m if Modules.contains(m) => m
        case _ => "queries"
      }

  /** Milliseconds of [t0, t1] covered by at least one interval. */
  def covered(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    for ((a0, b0) <- iv.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
           .filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (a0 > curE) {
        total += curE - curS
        curS = a0; curE = b0
      } else curE = math.max(curE, b0)
    }
    total + (curE - curS)
  }
}
