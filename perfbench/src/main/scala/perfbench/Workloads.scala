package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.functions.TextAnalysis
import graft.operators.{Curation, Dedup, Similarity, TrainingPipeline}
import graft.sources.{Sinks, Tables}

/** One benchmark workload over the generated parquet inputs in `in`.
  *
  * `job` is one job of the closed loop and returns what its client
  * receives; `sameResult` compares that with the first job's result,
  * outside the timed region. `verify` leaves in `out` (or returns) the
  * outputs the checker compares with the generator's ground truth.
  * `trace` runs the job again as nested layer spans and returns the layer
  * counters.
  */
abstract class Workload(spark: SparkSession, in: String, val out: String) {
  def job(): Any
  def sameResult(first: Any, later: Any): Boolean = true
  def verify(last: Any): Map[String, Any]
  def trace(t: Tracer): Map[String, Double]

  protected def table(name: String): DataFrame = Tables.table(spark, in, name)

  private val scans = collection.mutable.ArrayBuffer[(DataFrame, Tracer#Span)]()

  /** A persisted input table as a `sources.scan` span. */
  protected def scan(t: Tracer, name: String): DataFrame = {
    val s = t.layer("sources.scan")(table(name))
    scans += s
    s._1
  }

  protected def scanCounters: Map[String, Double] = Map(
    "sources.scan.rows" -> scans.map(_._1.count().toDouble).sum,
    "sources.scan.mb" -> scans.flatMap(s => Plans.nodes(s._2.plan))
      .collect { case f: FileSourceScanExec => Plans.metric(f, "filesSize") }.sum / 1e6)
}

object Workload {
  def apply(name: String, spark: SparkSession, in: String, out: String, queries: Int): Workload =
    name match {
      case "train_examples" => new TrainExamples(spark, in, out)
      case "corpus_ops" => new CorpusOps(spark, in, out, queries)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** The training-example engine's daily build, both ways, over one set of
  * impressions and three action streams at K = 1000:
  *
  *  - direct: O4 at the reference pipeline's shape (raw actions joined to
  *    every impressed item, ranked, cut to K, collected), drained to
  *    `noop`;
  *  - daily: O3's chunked top-K histories for every cutoff day, O4 from
  *    the precomputed histories, written dt-partitioned by the sink.
  *
  * Both share O1/O2 (`normalizeActions`, `explodeImpressions`); only the
  * daily path writes.
  */
final class TrainExamples(spark: SparkSession, in: String, out: String)
    extends Workload(spark, in, out) {
  private val K = TrainingPipeline.DefaultMaxHistory
  private val dailyDir = s"$out/examples_daily"

  private def direct(): DataFrame = TrainingPipeline.produceTrainingExamples(
    table("impressions"), table("clicks"), table("add_to_carts"), table("orders"), K)

  private def daily(): DataFrame = {
    val impressions = table("impressions")
    val actions = TrainingPipeline.normalizeActions(
      table("clicks"), table("add_to_carts"), table("orders"))
    val hist = TrainingPipeline.customerHistoryBeforeDt(
      actions, impressions.select("dt").distinct(), K)
    TrainingPipeline.produceTrainingExamplesPrecomputed(impressions, hist, K)
  }

  def job(): Any = {
    Tracer.noop(direct())
    Sinks.writeTrainingExamples(daily(), dailyDir)
  }

  /** The daily path's sink output is the last timed job's; the direct
    * path drains to `noop`, so it runs once more into parquet.
    */
  def verify(last: Any): Map[String, Any] = {
    direct().write.mode("overwrite").parquet(s"$out/examples_direct")
    Map("direct_dir" -> s"$out/examples_direct", "daily_dir" -> dailyDir)
  }

  def trace(t: Tracer): Map[String, Double] = {
    var actions, impressions, exploded: DataFrame = null
    val (_, direct) = t.layer("TrainingPipeline.produceTrainingExamplesFromActions", persist = false) {
      actions = t.layer("TrainingPipeline.normalizeActions") {
        TrainingPipeline.normalizeActions(
          scan(t, "clicks"), scan(t, "add_to_carts"), scan(t, "orders"))
      }._1
      impressions = scan(t, "impressions")
      exploded = t.layer("TrainingPipeline.explodeImpressions") {
        TrainingPipeline.explodeImpressions(impressions)
      }._1
      TrainingPipeline.produceTrainingExamplesFromActions(impressions, actions, K)
    }
    var chunks, hist: (DataFrame, Tracer#Span) = null
    t.layer("sources.Sinks.writeTrainingExamples", persist = false,
        sink = Sinks.writeTrainingExamples(_, s"$out/traced_examples")) {
      t.layer("TrainingPipeline.produceTrainingExamplesPrecomputed") {
        hist = t.layer("TrainingPipeline.customerHistoryBeforeDt") {
          chunks = t.layer("TrainingPipeline.dailyTopKChunks") {
            TrainingPipeline.dailyTopKChunks(actions, K)
          }
          TrainingPipeline.customerHistoryBeforeDt(actions, impressions.select("dt").distinct(), K)
        }
        TrainingPipeline.produceTrainingExamplesPrecomputed(impressions, hist._1, K)
      }._1
    }

    val joinRows = Plans.joins(direct.plan).map(Plans.rows).sum.toDouble
    // The window's `rn <= K` filter: rows that survive the top-K cut.
    val kept = Plans.nodes(direct.plan).collect {
      case f: FilterExec if f.condition.references.exists(_.name == "rn") => Plans.rows(f)
    }.sum.toDouble
    val histories = hist._1.count().toDouble
    // The chunk-to-cutoff join's output: chunks merged into histories.
    val fanIn = Plans.joins(hist._2.plan).map(Plans.rows).sum.toDouble
    val o4 = "TrainingPipeline.produceTrainingExamplesFromActions"
    scanCounters ++ Map(
      s"$o4.join_rows" -> joinRows,
      s"$o4.kept_rows" -> kept,
      s"$o4.keep_ratio" -> (if (joinRows > 0) kept / joinRows else 0.0),
      s"$o4.shuffle_mb" -> direct.counters("shuffle_mb"),
      s"$o4.spill_mb" -> direct.counters("spill_mb"),
      "TrainingPipeline.normalizeActions.rows_out" -> actions.count().toDouble,
      "TrainingPipeline.explodeImpressions.rows_out" -> exploded.count().toDouble,
      "TrainingPipeline.dailyTopKChunks.chunks" -> chunks._1.count().toDouble,
      "TrainingPipeline.dailyTopKChunks.shuffle_mb" -> chunks._2.counters("shuffle_mb"),
      "TrainingPipeline.customerHistoryBeforeDt.rows_out" -> histories,
      "TrainingPipeline.customerHistoryBeforeDt.chunks_per_history" ->
        (if (histories > 0) fanIn / histories else 0.0))
  }
}

/** The LLM-data operators over one corpus snapshot: curation verdicts
  * (quality filter, boilerplate removal, exact dedup, split) and verified
  * LSH near-duplicate pairs over the documents, both written as parquet,
  * and an IVF-PQ top-10 search for the first `queries` vectors of a
  * clustered embedding table, collected by the client.
  */
final class CorpusOps(spark: SparkSession, in: String, out: String, queries: Int)
    extends Workload(spark, in, out) {
  private val verdictsDir = s"$out/verdicts"
  private val pairsDir = s"$out/pairs"

  private def search(embeddings: DataFrame): DataFrame =
    Similarity.ivfPqSearch(embeddings, numQueries = queries, k = 10)

  private def write(dir: String)(df: DataFrame): Unit = Sinks.writePartitioned(df, dir, Nil)

  def job(): Any = {
    val docs = table("documents")
    Curation.withCurateCorpus(docs)(write(verdictsDir))
    Dedup.withLshVerifiedPairs(docs)(write(pairsDir))
    search(table("embeddings")).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).sorted
  }

  override def sameResult(first: Any, later: Any): Boolean = first == later

  /** Verdicts and pairs are the last timed job's sink output; the search
    * result is what that job's client received, scored here against the
    * brute-force neighbours with the engine's own recall evaluator.
    */
  def verify(last: Any): Map[String, Any] = {
    val approx = last.asInstanceOf[Seq[(Long, Long, Int, Long)]]
    val exact = Similarity.knnBruteForce(table("embeddings"), numQueries = queries, k = 10)
      .select("query_id", "neighbor_id", "rnk").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val schema = StructType(Seq(
      StructField("query_id", LongType), StructField("neighbor_id", LongType),
      StructField("rnk", IntegerType)))
    def frame(rows: Seq[Row]) = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val recall = Similarity.annRecall(
      frame(approx.map { case (q, n, r, _) => Row(q, n, r) }),
      frame(exact.map { case (q, n, r) => Row(q, n, r) }), k = 10)
      .agg(sum("n_hit"), sum("n_exact")).head()
    Map(
      "verdicts_dir" -> verdictsDir,
      "pairs_dir" -> pairsDir,
      "approx" -> approx.map { case (q, n, r, d) => Seq(q, n, r.toLong, d) },
      "exact" -> exact.map { case (q, n, r) => Seq(q, n, r.toLong) },
      "recall_at_10" -> recall.getLong(0).toDouble / recall.getLong(1))
  }

  def trace(t: Tracer): Map[String, Double] = {
    var docs, quality, passages: DataFrame = null
    t.layer("Curation.curateCorpus", persist = false, sink = write(s"$out/traced_verdicts")) {
      docs = scan(t, "documents")
      quality = t.layer("TextAnalysis.qualityFilter")(TextAnalysis.qualityFilter(docs))._1
      // The same passing set curateCorpus builds, so its boilerplate pass
      // reads this span's cached output.
      val passing = docs.join(
        quality.filter(col("keep")).select("doc_id"), Seq("doc_id"), "left_semi")
      passages = t.layer("Dedup.passageDedup")(Dedup.passageDedup(passing))._1
      Curation.curateCorpus(docs)
    }
    var candidates: DataFrame = null
    val (verified, _) = t.layer("Dedup.lshVerifiedPairs") {
      candidates = t.layer("Dedup.lshCandidatePairs")(Dedup.lshCandidatePairs(docs))._1
      Dedup.lshVerifiedPairs(docs)
    }
    var embeddings: DataFrame = null
    val (_, ann) = t.layer("Similarity.ivfPqSearch", persist = false, sink = _.collect()) {
      embeddings = scan(t, "embeddings")
      search(embeddings)
    }

    val nDocs = quality.count().toDouble
    val pairs = candidates.count().toDouble
    val nVerified = verified.count().toDouble
    // The cell equi-join's output: corpus vectors ranked for some query.
    val annCandidates = Plans.joins(ann.plan).collect {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "cell")) => Plans.rows(j)
    }.sum.toDouble
    scanCounters ++ Map(
      "TextAnalysis.qualityFilter.keep_ratio" ->
        quality.filter(col("keep")).count() / math.max(1.0, nDocs),
      "Dedup.passageDedup.passages_dropped" ->
        passages.agg(sum("n_dropped")).head().getLong(0).toDouble,
      "Dedup.lshCandidatePairs.pairs" -> pairs,
      "Dedup.lshVerifiedPairs.verified_pairs" -> nVerified,
      "Dedup.lshVerifiedPairs.precision" -> (if (pairs > 0) nVerified / pairs else 0.0),
      "Similarity.ivfPqSearch.candidates_per_query" -> annCandidates / queries,
      "Similarity.ivfPqSearch.scan_ratio" -> annCandidates / (queries * embeddings.count().toDouble))
  }
}
