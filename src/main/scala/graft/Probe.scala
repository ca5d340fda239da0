package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.TrainingPipeline
import graft.sources.EventFixtures

/** Scale probes — not part of the driver contract; run manually:
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.Probe"
  * }}}
  *
  * 1. O3 dt-scaling: with the two-stage chunked plan, `customerHistoryBeforeDt`
  *    work must scale with OUTPUT rows, not with actions × cutoffs. Probe:
  *    same actions, 1× vs 10× the cutoff days; pass = time ratio ≤ 1.5 ×
  *    output-row ratio. A horizon-bounded run shows the production knob
  *    (bounded lookback ⇒ far cutoffs do no work at all).
  *
  * 2. Precomputed vs direct flagship: over repeated runs, building the O3
  *    history table once and joining it per run beats running the direct
  *    O4 each time; pass = precompute total < direct total.
  */
object Probe {

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val actions = TrainingPipeline.normalizeActions(
      EventFixtures.clicks(spark, sfDir),
      EventFixtures.addToCarts(spark, sfDir),
      EventFixtures.orders(spark, sfDir))
      .persist()
    actions.count()

    // --- Probe 1: O3 time vs number of distinct cutoff days -------------
    val dts1 = EventFixtures.impressions(spark, sfDir).select("dt").distinct().persist()
    val n1 = dts1.count()
    // 10×: shift each real dt forward by 0..9 * 100 days — every synthetic
    // cutoff still sees the full history (unbounded lookback), so output
    // grows ~10× by construction.
    val dts10 = dts1
      .crossJoin(spark.range(10).toDF("k"))
      .select(date_format(expr("to_date(dt) + make_interval(0,0,0,k*100)"), "yyyy-MM-dd").as("dt"))
      .distinct().persist()
    val n10 = dts10.count()

    def o3(d: DataFrame, horizon: Option[Int] = None): DataFrame =
      TrainingPipeline.customerHistoryBeforeDt(actions, d, 8, horizon)
    val rows1 = o3(dts1).count()
    val rows10 = o3(dts10).count()
    drain(o3(dts1)) // warm-up
    val t1 = (1 to 2).map(_ => time(drain(o3(dts1)))).min
    val t10 = (1 to 2).map(_ => time(drain(o3(dts10)))).min
    val tH = (1 to 2).map(_ => time(drain(o3(dts10, horizon = Some(45))))).min
    val rowRatio = rows10.toDouble / rows1
    val timeRatio = t10 / t1
    println(f"""{"probe":"o3_dt_scaling","dts_1x":$n1,"dts_10x":$n10,"rows_1x":$rows1,"rows_10x":$rows10,"sec_1x":$t1%.3f,"sec_10x":$t10%.3f,"sec_10x_horizon45":$tH%.3f,"time_ratio":$timeRatio%.2f,"row_ratio":$rowRatio%.2f,"pass":${timeRatio <= 1.5 * rowRatio}}""")

    // --- Probe 2: precomputed O3 histories vs the direct flagship -------
    // The reference README's production claim (README.md:69-72): when
    // training runs recur over the same days, materialize the
    // per-(customer, dt) history table once and join each run against it,
    // instead of re-chunking raw actions per run. Modeled as `runs`
    // repeated flagship executions: the direct path pays the
    // chunk build + merge every time; the precompute path pays O3 once
    // (persisted, standing in for the production parquet table) and then
    // only the cheap (customer, dt) equi-join per run.
    val impsReal = EventFixtures.impressions(spark, sfDir).persist()
    impsReal.count()
    val runs = 5
    def direct(): Unit =
      TrainingPipeline.produceTrainingExamplesFromActions(impsReal, actions, 8)
        .write.format("noop").mode("overwrite").save()
    direct() // warm-up
    val tDirect = (1 to runs).map(_ => time(direct())).sum
    val hist = TrainingPipeline
      .customerHistoryBeforeDt(actions, impsReal.select("dt").distinct(), 8)
      .persist()
    val tBuild = time { hist.count() }
    def viaPrecomputed(): Unit =
      TrainingPipeline.produceTrainingExamplesPrecomputed(impsReal, hist, 8)
        .write.format("noop").mode("overwrite").save()
    viaPrecomputed() // warm-up
    val tPre = (1 to runs).map(_ => time(viaPrecomputed())).sum
    val tPreTotal = tBuild + tPre
    println(f"""{"probe":"precomputed_flagship","runs":$runs,"sec_direct_total":$tDirect%.3f,"sec_o3_build":$tBuild%.3f,"sec_precomputed_runs":$tPre%.3f,"sec_precomputed_total":$tPreTotal%.3f,"speedup":${tDirect / tPreTotal}%.2f,"pass":${tPreTotal < tDirect}}""")

    spark.stop()
  }
}
