package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

/** Task metrics summed over every task of one job group. */
final class TaskTotals {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var tasks = 0L
  val stages: mutable.Set[Int] = mutable.Set[Int]()
}

/** Attributes each finished task to the job group its job was submitted
  * under. Spark copies the submitting thread's job group into the
  * properties of every job the query starts, adaptive stages and
  * broadcasts included, so one group collects one span's whole action.
  */
final class GroupMetrics extends SparkListener {
  private val stageGroup = mutable.Map[Int, String]()
  private val totals = mutable.Map[String, TaskTotals]()

  def apply(group: String): TaskTotals = synchronized(totals.getOrElse(group, new TaskTotals))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => e.stageIds.foreach(stageGroup(_) = g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); m <- Option(e.taskMetrics)) {
      val t = totals.getOrElseUpdate(g, new TaskTotals)
      t.cpuNs += m.executorCpuTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      t.spillBytes += m.diskBytesSpilled
      t.tasks += 1
      t.stages += e.stageId
    }
  }
}

/** Keeps the executed plan of the session's latest successful action. */
final class LastQuery extends QueryExecutionListener {
  @volatile var last: QueryExecution = _
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = last = qe
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Plans {
  /** Every operator of an executed plan, looking through adaptive
    * wrappers and query stages, but not into cached relations: a cached
    * input is the producing span's work, not this one's.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case o => o.children
    }
    p +: kids.flatMap(nodes)
  }

  def metric(p: SparkPlan, name: String): Long = p.metrics.get(name).map(_.value).getOrElse(0L)

  def rows(p: SparkPlan): Long = metric(p, "numOutputRows")

  /** The plan that computed a persisted output: forcing it runs the
    * cached relation's plan beneath the scan of the cache.
    */
  def cached(plan: SparkPlan): SparkPlan =
    nodes(plan).collectFirst { case m: InMemoryTableScanExec => m.relation.cachedPlan }.getOrElse(plan)

  def joins(plan: SparkPlan): Seq[SparkPlan] =
    nodes(plan).filter(_.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec])
}

/** One span per layer call. Spans nest: a layer's inputs are produced by
  * child spans inside its interval, each persisted, so the parent's own
  * action reads them from the cache. Self time is the span minus its
  * children, i.e. the layer's own operators.
  */
final class Tracer(spark: SparkSession) {
  final class Span(val id: Int, val parent: Int, val name: String, val startNs: Long) {
    var endNs = 0L
    var childNs = 0L
    var plan: SparkPlan = _
    val counters: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap[String, Double]()
    def selfS: Double = math.max(0L, endNs - startNs - childNs) / 1e9
    def group: String = s"span-$id"
    def totals: TaskTotals = groups(group)
  }

  private val sc = spark.sparkContext
  val groups = new GroupMetrics
  private val queries = new LastQuery
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  sc.addSparkListener(groups)
  spark.listenerManager.register(queries)

  def close(): Unit = {
    sc.removeSparkListener(groups)
    spark.listenerManager.unregister(queries)
  }

  /** Runs `action` under job group `group`, waits for its task metrics,
    * and returns the executed plan of the last query it ran.
    */
  def grouped(group: String)(action: => Unit): SparkPlan = {
    queries.last = null
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try action finally sc.clearJobGroup()
    PerfbenchBus.drain(sc)
    Option(queries.last).map(_.executedPlan).orNull
  }

  def span[T](name: String)(body: Span => T): T = {
    val s = new Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, System.nanoTime())
    spans += s
    stack = s :: stack
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption.foreach(_.childNs += s.endNs - s.startNs)
    }
  }

  /** A layer call: `body` builds the layer's output (running the child
    * spans that produce its inputs); the output is persisted unless it is
    * a final result, then forced by `sink` as the span's own work.
    */
  def layer(name: String, persist: Boolean = true, sink: DataFrame => Unit = Tracer.noop)(
      body: => DataFrame): (DataFrame, Span) =
    span(name) { s =>
      val built = body
      val df = if (persist) built.persist(StorageLevel.MEMORY_AND_DISK) else built
      val plan = grouped(s.group)(sink(df))
      s.plan = if (persist) Plans.cached(plan) else plan
      s.counters("shuffle_mb") = s.totals.shuffleWriteBytes / 1e6
      s.counters("spill_mb") = s.totals.spillBytes / 1e6
      (df, s)
    }

  /** Writes every span as one JSON line. */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val fields = Seq(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "self_s" -> s.selfS,
        "cpu_s" -> s.totals.cpuNs / 1e9, "tasks" -> s.totals.tasks) ++ s.counters.toSeq
      w.println(Json.obj(fields))
    } finally w.close()
  }
}

object Tracer {
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
