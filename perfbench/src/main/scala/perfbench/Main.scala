package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Runs one workload in one process and writes its raw measurements to
  * `<out>/result.json`; `perfbench/run.py` turns them into metrics and
  * checks the outputs the run leaves behind.
  *
  * Set-up runs from process start until the session exists and
  * [[WarmUpJobs]] warm-up jobs have finished. Untraced (`--trace 0`), a closed loop
  * of back-to-back jobs follows for `--seconds`, then the verification
  * pass. Traced (`--trace 1`), a loop of untraced and traced jobs (run
  * under a job group with a task-metrics listener) follows, then the layer
  * decomposition (see [[Tracer]]), then the verification pass.
  */
object Main {
  final case class Args(
      workload: String, seconds: Double, trace: Boolean, in: String, out: String,
      cores: Int, queries: Int)

  /** After a cold start a job runs 30-50% slower than it will, and gets
    * faster over the next two while the JIT catches up; from the fourth on
    * jobs vary about 10% from one to the next.
    */
  private val WarmUpJobs = 3
  private val MinJobs = 4

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(a)
    val w = Workload(a.workload, spark, a.in, a.out, a.queries)
    for (_ <- 1 to WarmUpJobs) w.job()
    val setupS = (System.currentTimeMillis() - startMs) / 1000.0
    val coldJvm = JvmCounters()

    val loop = new Loop(spark, w, a)
    loop.run()
    val peakRssMb = vmHwmKb() / 1024.0

    val layers = if (a.trace) {
      val t = new Tracer(spark)
      val counters = try t.span("job")(_ => w.trace(t)) finally t.close()
      spark.catalog.clearCache()
      t.write(s"${a.out}/trace.jsonl")
      val selfTimes = t.spans.groupBy(_.name).map { case (n, ss) => s"$n.self_s" -> ss.map(_.selfS).sum }
      selfTimes ++ counters ++ loop.sparkCounters ++ Map(
        "expressions.codegen_compiles" -> coldJvm.codegenCompiles.toDouble,
        "expressions.codegen_s" -> coldJvm.codegenS,
        "expressions.jit_s" -> coldJvm.jitS,
        "trace.overhead_s" -> (median(loop.traced.toSeq) - median(loop.plain.toSeq)))
    } else Map.empty[String, Double]

    val verified = Try(w.verify(loop.last))
    verified.failed.foreach(e => e.printStackTrace())
    val result = Map(
      "workload" -> a.workload,
      "setup_s" -> setupS,
      "job_s" -> loop.plain,
      "attempted" -> (loop.attempted + 1),
      "failed" -> (loop.failed + (if (verified.isFailure) 1 else 0)),
      "peak_rss_mb" -> peakRssMb,
      "verify" -> verified.getOrElse(Map.empty),
      "layers" -> layers)
    val p = new java.io.PrintWriter(s"${a.out}/result.json", "UTF-8")
    try p.println(Json.obj(result)) finally p.close()
    spark.stop()
  }

  /** The closed loop: one client, each job submitted when the previous
    * one returns, until `--seconds` have passed (at least [[MinJobs]]).
    */
  final class Loop(spark: SparkSession, w: Workload, a: Args) {
    private val sc = spark.sparkContext
    private val groups = new GroupMetrics
    val plain = ArrayBuffer[Double]()
    val traced = ArrayBuffer[Double]()
    var attempted = 0
    var failed = 0
    private var first: Option[Any] = None
    var last: Any = null
    private var gcMs = 0L
    private var jobCompiles = 0L

    def run(): Unit = {
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      while ((attempted < MinJobs || System.nanoTime() < deadline) &&
          !(attempted >= MinJobs && plain.isEmpty && traced.isEmpty)) {
        // Untraced and traced jobs in ABBA order, so warm-up drift cancels
        // out of the tracing overhead.
        if (a.trace && (attempted % 4 == 1 || attempted % 4 == 2)) tracedJob()
        else timed(w.job()).foreach(plain += _)
      }
      if (plain.isEmpty) throw new IllegalStateException(s"every one of $attempted jobs failed")
    }

    private def timed(job: => Any): Option[Double] = {
      attempted += 1
      val t0 = System.nanoTime()
      Try(job) match {
        case Success(r) =>
          val s = (System.nanoTime() - t0) / 1e9
          if (first.isEmpty) first = Some(r)
          else if (!w.sameResult(first.get, r)) failed += 1
          last = r
          Some(s)
        case Failure(e) =>
          e.printStackTrace()
          failed += 1
          None
      }
    }

    private def tracedJob(): Unit = {
      sc.addSparkListener(groups)
      val before = JvmCounters()
      val s = timed {
        sc.setJobGroup("job", "job", interruptOnCancel = false)
        try w.job() finally {
          sc.clearJobGroup()
          PerfbenchBus.drain(sc)
        }
      }
      val after = JvmCounters()
      sc.removeSparkListener(groups)
      s.foreach { x =>
        traced += x
        gcMs += after.gcMs - before.gcMs
        jobCompiles += after.codegenCompiles - before.codegenCompiles
      }
    }

    /** Substrate counters per traced job. */
    def sparkCounters: Map[String, Double] = {
      val n = math.max(1, traced.size).toDouble
      val t = groups("job")
      val cpuS = t.cpuNs / 1e9
      Map(
        "spark.executor_cpu_s" -> cpuS / n,
        "spark.cpu_util" -> (if (traced.nonEmpty) cpuS / (traced.sum * a.cores) else 0.0),
        "spark.gc_s" -> gcMs / 1000.0 / n,
        "spark.shuffle_write_mb" -> t.shuffleWriteBytes / 1e6 / n,
        "spark.fetch_wait_s" -> t.fetchWaitMs / 1000.0 / n,
        "spark.spill_mb" -> t.spillBytes / 1e6 / n,
        "spark.stages" -> t.stages.size / n,
        "spark.tasks" -> t.tasks / n,
        "expressions.job_codegen_compiles" -> jobCompiles / n)
    }
  }

  /** Process-wide compiler and collector counters. */
  final case class JvmCounters(codegenCompiles: Long, codegenS: Double, jitS: Double, gcMs: Long)

  object JvmCounters {
    def apply(): JvmCounters = {
      val cg = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val jitMs = Option(ManagementFactory.getCompilationMXBean)
        .filter(_.isCompilationTimeMonitoringSupported)
        .map(_.getTotalCompilationTime).getOrElse(0L)
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum
      // The histogram keeps compile times in ms; its mean times its count
      // is the total.
      JvmCounters(cg.getCount, cg.getSnapshot.getMean * cg.getCount / 1000.0, jitMs / 1000.0, gc)
    }
  }

  /** The session graft.Bench runs its sweep in, with its scratch space
    * inside the run's output directory.
    */
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.local.dir", s"${a.out}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.out}/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def vmHwmKb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble).getOrElse(0.0)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(
      workload = kv("workload"), seconds = kv("seconds").toDouble, trace = kv("trace") == "1",
      in = kv("in"), out = kv("out"), cores = kv("cores").toInt,
      queries = kv.getOrElse("queries", "0").toInt)
  }
}
