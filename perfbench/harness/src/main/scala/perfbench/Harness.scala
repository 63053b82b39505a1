package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark run in one fresh JVM: set-up, a cold pass, warm passes
  * until `--seconds` have passed, an untimed verification that writes the
  * last pass's outputs where the outside checks read them, then a forced
  * full GC. Operations run one at a time.
  *
  * A warm pass during which other processes or the hypervisor kept more
  * than `ExtLimit` cores busy is noisy. While fewer of the warm passes
  * are clean than were planned, up to `Remeasures` more passes run, and
  * warm_pass_s is taken over the planned number of least noisy ones
  * (perfbench/metrics.py).
  *
  * Arguments (all `--key value`): workload, data, work, seconds, trace
  * (0|1), smoke (0|1: the cold pass only), t0-ms (epoch ms at which the
  * benchmark process started), out (the result JSON to write). */
object Harness {

  final case class OpRec(name: String, buildS: Double, actionS: Double,
                         error: String, extra: Map[String, Double])

  /** Cores of other load (other processes and steal) that make a pass noisy. */
  val ExtLimit = 0.4
  val Remeasures = 1
  val MinWarm = 2

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = o("work")
    val cores = Runtime.getRuntime.availableProcessors
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.callstack.depth", "256")
      // Spark's status store keeps up to 1000 finished jobs and SQL
      // executions on the heap; a short history keeps retained_mb about
      // what graft leaves behind (checkpoints, broadcasts, caches).
      .config("spark.ui.retainedJobs", "20")
      .config("spark.ui.retainedStages", "20")
      .config("spark.sql.ui.retainedExecutions", "20")
    graft.Sessions.tuning.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (o("trace") == "1") Some(new Trace(spark.sparkContext)) else None
    val sessionMs = System.currentTimeMillis()

    val wl: Workload = o("workload") match {
      case "etl_pipeline" => new Etl(spark, o("data"), work)
      case _              => new LlmQueries(spark, o("data"), work, o("queries").split(",").toSeq)
    }
    val rounds = (0 until Workload.SetupRounds).map(i => secs(wl.setup(i)))
    val setupS = (sessionMs - o("t0-ms").toLong) / 1000.0 + median(rounds)

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val warmExt = mutable.ArrayBuffer.empty[Double]
    var storeMb = 0.0
    var verified = Seq.empty[Map[String, Any]]
    var warmStart = 0L
    var planned = 0
    // whole warm passes until --seconds have passed, and at least MinWarm;
    // then up to Remeasures more while fewer than `planned` are clean
    def more(next: Int): Boolean =
      if (o.get("smoke") == Some("1")) false
      else if (next <= MinWarm ||
               System.currentTimeMillis() - warmStart < o("seconds").toDouble * 1000) {
        planned = next; true
      } else next <= planned + Remeasures && warmExt.count(_ <= ExtLimit) < planned
    /** Runs pass `p`; returns whether another pass follows. */
    def pass(p: Int): Boolean = {
      if (p == 1) warmStart = System.currentTimeMillis()
      val cpu0 = ProcStat.read()
      val gc0 = gcMs()
      val jit0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
      trace.foreach(_.resetPeak())
      val t0 = System.currentTimeMillis()
      val ops = trace match {
        case Some(t) => t.span(s"pass.$p", "run")(wl.pass(p, Some(t)))
        case None    => wl.pass(p, None)
      }
      val t1 = System.currentTimeMillis()
      val (ext, steal) = ProcStat.external(cpu0, ProcStat.read())
      val fields = mutable.LinkedHashMap[String, Any](
        "pass" -> p, "remeasure" -> (p > planned), "wall_s" -> (t1 - t0) / 1000.0,
        "ext_cores" -> ext, "steal_cores" -> steal,
        "gc_s" -> (gcMs() - gc0) / 1000.0,
        "jit_s" -> (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - jit0) / 1000.0,
        "ops" -> ops.map(opJson))
      trace.foreach { t =>
        fields("layers") = t.summary(t0, t1)
        fields("storage_peak_mb") = t.peakBytes / Trace.MB
      }
      if (p == 0) storeMb = dirBytes(new File(System.getProperty("java.io.tmpdir"))) / Trace.MB
      else warmExt += ext
      val next = more(p + 1)
      if (!next) verified = wl.verify().map(opJson)
      wl.release()
      // every pass starts from a collected heap, outside its timed window;
      // the collection lets the ContextCleaner drop what the pass released
      fields("heap_mb") = settledHeapMb()
      trace.foreach(t => fields("storage_end_mb") = t.storedBytes / Trace.MB)
      passes += fields.toMap
      next
    }

    settledHeapMb()
    var p = 0
    while (pass(p)) p += 1
    trace.foreach(_.stop())

    val result = Map(
      "workload" -> o("workload"), "cores" -> cores, "ext_limit" -> ExtLimit,
      "setup_s" -> setupS, "setup_rounds_s" -> rounds,
      "session_s" -> (sessionMs - o("t0-ms").toLong) / 1000.0,
      "passes" -> passes.toSeq, "verify" -> verified,
      "retained_mb" -> passes.last("heap_mb"), "store_mb" -> storeMb,
      "facts" -> wl.facts,
      "spans" -> trace.map(_.spans.toSeq.map(s => Map(
        "name" -> s.name, "parent" -> s.parent, "start" -> s.start,
        "end" -> s.end))).getOrElse(Nil))
    Files.write(Paths.get(o("out")),
      Serialization.write(result)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  private def opJson(r: OpRec): Map[String, Any] =
    Map("name" -> r.name, "build_s" -> r.buildS, "action_s" -> r.actionS,
      "error" -> r.error) ++ r.extra

  def secs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Heap in use after full collections, once two readings agree: the
    * first collection lets Spark's ContextCleaner drop unreferenced
    * broadcasts and checkpoint blocks, which the next one reclaims. */
  def settledHeapMb(): Double = {
    def collected(): Double = {
      System.gc()
      Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / Trace.MB
    }
    var last = collected()
    var now = collected()
    var tries = 2
    while (math.abs(now - last) > 0.5 && tries < 6) { last = now; now = collected(); tries += 1 }
    now
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else f.length
}

/** System-wide CPU from /proc/stat, less this JVM's own, as in graft's
  * Bench guard: the cores something else kept busy during a pass, and
  * the cores the hypervisor stole. */
object ProcStat {
  final case class Sample(ms: Long, busy: Long, steal: Long, own: Long)

  def read(): Sample = {
    val cpu = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")
      .drop(1).map(_.toLong)
    val self = new String(Files.readAllBytes(Paths.get("/proc/self/stat")),
      StandardCharsets.UTF_8)
    // fields after the parenthesised command name; utime and stime are 14 and 15
    val rest = self.substring(self.lastIndexOf(')') + 2).split(" ")
    Sample(System.currentTimeMillis(),
      cpu.indices.filter(i => i != 3 && i != 4).map(cpu).sum,
      if (cpu.length > 7) cpu(7) else 0L,
      rest(11).toLong + rest(12).toLong)
  }

  /** (external cores, stolen cores) between two samples; 100 jiffies/s. */
  def external(a: Sample, b: Sample): (Double, Double) = {
    val s = math.max(1L, b.ms - a.ms) / 1000.0
    (((b.busy - a.busy) - (b.own - a.own)) / 100.0 / s,
      (b.steal - a.steal) / 100.0 / s)
  }
}
