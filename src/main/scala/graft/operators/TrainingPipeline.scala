package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference engine's core: impression logs + three action streams →
  * fixed-length per-impression training histories.
  *
  * Re-expressed Spark-first for 100 TB scale, with three deliberate fixes to
  * the reference implementation (SURVEY.md §2.9):
  *
  *  1. The anti-leakage predicate lives in the join's ON clause
  *     (reference: post-join WHERE at pipeline.py:160, which silently drops
  *     history-less customers despite the documented all-zero-padding
  *     semantics at README.md:21-22 / tests:110-113). Here the documented
  *     semantics hold: no-history impressions survive with all-zero arrays.
  *  2. Histories carry a total ordering (`action_time DESC, item_id,
  *     action_type` — reference orders by `action_time` alone,
  *     pipeline.py:169, which is non-deterministic on timestamp ties).
  *  3. Grouping uses the real key columns including `impression_item_id`
  *     and `label` (the reference's string surrogate key at
  *     pipeline.py:164-167 omits the item and can interleave rank sequences
  *     of duplicate carousel rows); two rows that differ only in `is_order`
  *     each get the full top-K.
  *
  * Scale design: raw actions never meet impressions. They are first cut to
  * per-(customer, day) top-K chunks ([[dailyTopKChunks]], bounded map-side
  * by WindowGroupLimit); each impression row then joins at most K+1
  * qualifying chunks and merges them ([[mergeChunkHistories]]) — the same
  * merge the streaming twin runs. A hot customer therefore costs K+1
  * chunks per impression row, not its whole history, so no salting or
  * partition pinning is needed; AQE sizes the exchanges. For repeated
  * daily runs prefer [[customerHistoryBeforeDt]] (the reference's
  * recommended-but-unimplemented precompute, pipeline.py:99-115,
  * README.md:69-72).
  */
object TrainingPipeline {

  val DefaultMaxHistory = 1000

  /** O1 (pipeline.py:33-64): harmonize the three heterogeneous action
    * sources into one `(customer_id, item_id, action_time, action_type)`
    * table. Narrow-only: three projections, a by-name union, a null filter —
    * no shuffle at any scale.
    */
  def normalizeActions(
      clicks: DataFrame,
      addToCarts: DataFrame,
      orders: DataFrame): DataFrame = {
    val c = clicks.select(
      col("customer_id").cast(LongType).as("customer_id"),
      col("item_id").cast(LongType).as("item_id"),
      col("click_time").cast(TimestampType).as("action_time"),
      lit(1).as("action_type"))
    val a = addToCarts.select(
      col("customer_id").cast(LongType).as("customer_id"),
      col("config_id").cast(LongType).as("item_id"),
      col("occurred_at").cast(TimestampType).as("action_time"),
      lit(2).as("action_type"))
    val o = orders.select(
      col("customer_id").cast(LongType).as("customer_id"),
      col("config_id").cast(LongType).as("item_id"),
      col("occurred_at").cast(TimestampType).as("action_time"),
      lit(3).as("action_type"))
    c.unionByName(a).unionByName(o)
      .filter(
        col("customer_id").isNotNull &&
          col("item_id").isNotNull &&
          col("action_time").isNotNull)
  }

  /** O2 (pipeline.py:67-96): unnest the impression carousel to one row per
    * impressed item, preserving 0-based position; boolean `is_order` becomes
    * the 0/1 `label`. Narrow-only. `posexplode_outer` keeps a defensive row
    * (null pos/item, label 0) for null/empty carousels — reference behavior,
    * kept and pinned by tests.
    */
  def explodeImpressions(impressions: DataFrame): DataFrame =
    impressions
      .select(
        col("dt"),
        col("ranking_id"),
        col("customer_id").cast(LongType).as("customer_id"),
        posexplode_outer(col("impressions")).as(Seq("impression_pos", "imp")))
      .select(
        col("dt"),
        col("ranking_id"),
        col("customer_id"),
        col("impression_pos").cast(IntegerType).as("impression_pos"),
        col("imp.item_id").cast(LongType).as("impression_item_id"),
        when(col("imp.is_order") === true, 1).otherwise(0).cast(IntegerType).as("label"))

  /** Fixed-length most-recent-first array assembly shared by O3/O4:
    * `hist` is a sorted array of struct(neg_us, item_id, action_type); emit the
    * two parallel arrays truncated/zero-padded to exactly `maxHistory`.
    * Pure array expressions — stays inside whole-stage codegen.
    */
  private[graft] def paddedArrays(maxHistory: Int): Seq[org.apache.spark.sql.Column] = Seq(
    slice(
      concat(
        transform(col("hist"), h => h.getField("item_id")),
        array_repeat(lit(0L), maxHistory)),
      1, maxHistory).as("actions"),
    slice(
      concat(
        transform(col("hist"), h => h.getField("action_type")),
        array_repeat(lit(0), maxHistory)),
      1, maxHistory).as("action_types"))

  /** O3 (pipeline.py:99-115 — a `NotImplementedError` stub in the
    * reference; implemented for real here per README.md:69-72): materialized
    * per-(customer, dt) history table, the production precompute.
    *
    * `dts` is a single-column DataFrame of `dt: string` cutoff days (e.g.
    * `impressions.select("dt").distinct()`). Output: one row per
    * (customer_id, dt) with the customer's `maxHistory` most recent actions
    * strictly before dt 00:00:00, as fixed-length arrays.
    *
    * Scale design (two compact stages, no raw-action blowup):
    *
    *  1. Per-(customer, action-day) top-K: each action belongs to exactly
    *     ONE group — the ranking window runs once over the raw actions, and
    *     Spark 3.5+'s WindowGroupLimit bounds each group to `maxHistory`
    *     rows before the full sort. The K most recent actions before any
    *     cutoff are necessarily within the top-K of their own day (an
    *     action outranked by ≥K same-day actions is outranked by them
    *     before every later cutoff), so day-level top-K loses nothing.
    *  2. The compact daily chunks (≤ maxHistory structs per (customer, day))
    *     broadcast-join to the cutoff days and merge. Only pre-bounded
    *     aggregates — never raw actions — are replicated per cutoff.
    *
    * An earlier formulation joined RAW actions to cutoffs
    * (`action_time < cutoff_ts`), replicating every action once per future
    * cutoff day before a window ranked the blown-up table — O(actions × dts)
    * at 100 TB. Stage 2 here replicates only day-aggregates, and
    * `horizonDays` (production knob: "history within H days") bounds even
    * that to O(H) copies per daily chunk. `horizonDays = None` keeps the
    * reference's unbounded-lookback semantics exactly.
    */
  /** O3 stage 1, reusable: compress raw actions to one row per
    * (customer, action-day) holding that day's top-`maxHistory` actions as
    * a sorted struct array (`chunk`), plus the chunk's relevance-expiry
    * day. Struct field order makes ascending lexicographic sort =
    * (action_time DESC, item_id, action_type) — the pipeline's total
    * order. Each action belongs to exactly one group and WindowGroupLimit
    * bounds groups map-side, so the output is ≤ maxHistory structs per
    * (customer, day) regardless of how hot the customer is.
    *
    * `expiry_day`: a chunk is dead for cutoff D once the customer has K
    * whole LATER chunks before D — each later chunk carries ≥1 strictly
    * newer action, so K of them saturate the top-K. The K-th next chunk's
    * day is therefore the last cutoff day this chunk can matter for. Any
    * consumer joining chunks to cutoffs with
    * [[chunkQualifies]] gets ≤ K+1 chunks per (customer, cutoff) — the
    * bound both the batch precompute and the streaming twin rely on.
    */
  def dailyTopKChunks(actions: DataFrame, maxHistory: Int = DefaultMaxHistory): DataFrame = {
    val wDay = Window
      .partitionBy(col("customer_id"), col("action_day"))
      .orderBy(col("action_time").desc, col("item_id"), col("action_type"))
    val daily = actions
      .withColumn("action_day", to_date(col("action_time")))
      .withColumn("rn", row_number().over(wDay))
      .filter(col("rn") <= maxHistory)
      .groupBy(col("customer_id"), col("action_day"))
      .agg(collect_list(struct(
        (-unix_micros(col("action_time"))).as("neg_us"),
        col("item_id"),
        col("action_type"))).as("chunk"))
    val wCust = Window.partitionBy(col("customer_id")).orderBy(col("action_day"))
    daily.withColumn("expiry_day", lead(col("action_day"), maxHistory).over(wCust))
  }

  /** The chunk-vs-cutoff relevance predicate paired with
    * [[dailyTopKChunks]]: strictly-before-cutoff, and not expired (≤ K
    * later chunks exist before the cutoff).
    */
  def chunkQualifies(actionDay: org.apache.spark.sql.Column, cutoffDay: org.apache.spark.sql.Column,
      expiryDay: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    actionDay < cutoffDay && (expiryDay.isNull || cutoffDay <= expiryDay)

  def customerHistoryBeforeDt(
      actions: DataFrame,
      dts: DataFrame,
      maxHistory: Int = DefaultMaxHistory,
      horizonDays: Option[Int] = None): DataFrame = {
    val cutoffs = dts.select(col("dt"), to_date(col("dt")).as("cutoff_day"))

    val dailyWithExpiry = dailyTopKChunks(actions, maxHistory)

    // Stage 2: fan compact chunks out to qualifying cutoffs, merge, re-rank.
    val inRange = chunkQualifies(col("action_day"), col("cutoff_day"), col("expiry_day"))
    val joinCond = horizonDays match {
      case Some(h) => inRange && col("action_day") >= date_sub(col("cutoff_day"), h)
      case None    => inRange
    }
    val agg = dailyWithExpiry
      .join(broadcast(cutoffs), joinCond)
      .groupBy(col("customer_id"), col("dt"))
      .agg(slice(array_sort(flatten(collect_list(col("chunk")))), 1, maxHistory).as("hist"))
    agg.select(Seq(col("customer_id"), col("dt")) ++ paddedArrays(maxHistory): _*)
  }

  /** O4 (pipeline.py:118-220): the full pipeline. See object scaladoc for
    * the three semantic fixes. One row out per impressed item, with label
    * and fixed-length history arrays.
    */
  def produceTrainingExamples(
      impressions: DataFrame,
      clicks: DataFrame,
      addToCarts: DataFrame,
      orders: DataFrame,
      maxHistory: Int = DefaultMaxHistory): DataFrame =
    produceTrainingExamplesFromActions(
      impressions, normalizeActions(clicks, addToCarts, orders), maxHistory)

  /** O4 from a pre-normalized (and possibly caller-persisted) actions
    * table — the entry point for repeated daily runs where `all_actions`
    * lives across invocations (README.md:64).
    */
  def produceTrainingExamplesFromActions(
      impressions: DataFrame,
      actions: DataFrame,
      maxHistory: Int = DefaultMaxHistory): DataFrame =
    mergeChunkHistories(
      explodeWithCutoffs(impressions), dailyTopKChunks(actions, maxHistory), maxHistory)

  /** O2 plus each impression row's event-time cutoff: `cutoff_ts` (dt
    * 00:00:00, the streaming watermark column) and `cutoff_day`.
    */
  private[graft] def explodeWithCutoffs(impressions: DataFrame): DataFrame =
    explodeImpressions(impressions)
      .withColumn("cutoff_ts", to_timestamp(col("dt")))
      .withColumn("cutoff_day", to_date(col("dt")))

  /** O4's one history merge, shared by the batch entry points and the
    * streaming twin: every exploded impression row left-joins its
    * customer's [[dailyTopKChunks]] that [[chunkQualifies]] for its cutoff
    * day (anti-leakage in the ON clause, fix #1, so history-less rows
    * survive with an empty `hist`), then the ≤ K+1 chunks per row are
    * flattened, sorted by the chunk struct's total order (fix #2) and cut
    * to K. The group key is the full impression key plus `label` (fix #3)
    * and `cutoff_ts`, the column a streaming caller's watermark expires
    * aggregation state on.
    */
  private[graft] def mergeChunkHistories(
      exploded: DataFrame,
      chunks: DataFrame,
      maxHistory: Int): DataFrame = {
    val key = Seq(
      col("dt"), col("ranking_id"), col("customer_id"),
      col("impression_pos"), col("impression_item_id"), col("label"))
    val qualifying = chunks.select(
      col("customer_id").as("act_customer_id"),
      col("action_day"), col("expiry_day"), col("chunk"))
    exploded
      .join(
        qualifying,
        col("customer_id") === col("act_customer_id") &&
          chunkQualifies(col("action_day"), col("cutoff_day"), col("expiry_day")),
        "left_outer")
      .groupBy(key :+ col("cutoff_ts"): _*)
      .agg(slice(array_sort(flatten(collect_list(col("chunk")))), 1, maxHistory).as("hist"))
      .select(key ++ paddedArrays(maxHistory): _*)
  }

  /** Deterministic hash-based negative sampling — the ranking-training
    * complement of the impression positives: per carousel
    * (dt, ranking_id, customer_id), up to `numNegatives` items drawn
    * pseudo-randomly from the item universe, excluding everything the
    * carousel actually showed. Draw i of a carousel is
    * `md5(ranking_id|i) mod numItems` — an exact function of the data, so
    * samples reproduce across runs/partitionings (resumable backfills)
    * and hash-verify against a SQL oracle; `2×numNegatives` draws give
    * collision headroom (duplicate draws collapse to the earliest index,
    * shown-item hits are dropped), so a carousel only comes up short if
    * more than half its draws collide — negligible while the universe
    * dwarfs the carousel.
    *
    * Scale: the shown-item set comes straight off the carousel row's own
    * array (no item explode), aggregated once per carousel key so
    * duplicate carousel rows union their shown sets — compact arrays
    * through one carousel-keyed exchange, and the item universe is never
    * materialized or joined. Null item_ids are stripped before the
    * membership test (Spark's array_contains is three-valued: a null
    * element would turn "not shown" into NULL and silently drop every
    * draw).
    */
  def sampleNegatives(
      impressions: DataFrame,
      numNegatives: Int = 4,
      numItems: Long = 1000L): DataFrame = {
    val rowShown = coalesce(
      filter(
        transform(col("impressions"), x => x.getField("item_id").cast("long")),
        x => x.isNotNull),
      array().cast("array<long>"))
    val carousels = impressions
      .select(
        col("dt"), col("ranking_id"),
        col("customer_id").cast("long").as("customer_id"),
        rowShown.as("row_shown"))
      .groupBy(col("dt"), col("ranking_id"), col("customer_id"))
      .agg(array_distinct(flatten(collect_list(col("row_shown")))).as("shown"))
    val wCar = Window
      .partitionBy(col("dt"), col("ranking_id"), col("customer_id"))
      .orderBy(col("j"))
    carousels
      .select(
        col("dt"), col("ranking_id"), col("customer_id"), col("shown"),
        explode(sequence(lit(0), lit(2 * numNegatives - 1))).as("j"))
      .withColumn(
        "cand",
        pmod(
          graft.functions.Hashing.md5Long60(concat_ws("|", col("ranking_id"), col("j"))),
          lit(numItems)))
      .filter(!array_contains(col("shown"), col("cand")))
      .groupBy(col("dt"), col("ranking_id"), col("customer_id"), col("cand"))
      .agg(min(col("j")).as("j"))
      .withColumn("rn", row_number().over(wCar).cast("int"))
      .filter(col("rn") <= numNegatives)
      .select(
        col("dt"), col("ranking_id"), col("customer_id"),
        col("cand").as("item_id"), lit(0).as("label"), col("rn"))
  }

  /** Typed variant of O4: same plan, surfaced as `Dataset[TrainingExample]`
    * (SURVEY §1.4's typed entry point).
    */
  def produceTrainingExamplesTyped(
      spark: org.apache.spark.sql.SparkSession,
      impressions: DataFrame,
      clicks: DataFrame,
      addToCarts: DataFrame,
      orders: DataFrame,
      maxHistory: Int = DefaultMaxHistory): org.apache.spark.sql.Dataset[graft.model.TrainingExample] = {
    import spark.implicits._
    produceTrainingExamples(impressions, clicks, addToCarts, orders, maxHistory)
      .as[graft.model.TrainingExample]
  }

  /** O4 via the O3 precompute: join impressions against the compact
    * materialized per-(customer, dt) history store instead of raw actions —
    * the README's production path (README.md:69-72). Impressions with no
    * history row get all-zero arrays, same documented semantics as
    * [[produceTrainingExamples]].
    *
    * Scale: avoids re-ranking the full action history per impressed item —
    * the history is computed once per (customer, day) regardless of how many
    * carousel items that day had, then a plain equi-join on
    * (customer_id, dt) fans it out.
    */
  def produceTrainingExamplesPrecomputed(
      impressions: DataFrame,
      histories: DataFrame,
      maxHistory: Int = DefaultMaxHistory): DataFrame = {
    val ex = explodeImpressions(impressions)
    ex.join(histories, Seq("customer_id", "dt"), "left_outer")
      .select(
        col("dt"), col("ranking_id"), col("customer_id"),
        col("impression_pos"), col("impression_item_id"), col("label"),
        coalesce(col("actions"), array_repeat(lit(0L), maxHistory)).as("actions"),
        coalesce(col("action_types"), array_repeat(lit(0), maxHistory)).as("action_types"))
  }
}
