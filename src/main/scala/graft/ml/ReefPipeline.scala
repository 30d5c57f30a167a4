package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.RegressionEvaluator
import org.apache.spark.ml.feature.{Normalizer, VectorAssembler}
import org.apache.spark.ml.regression.{GBTRegressor, RandomForestRegressionModel, RandomForestRegressor}
import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.BuiltIndexMemo

/** The reference's entire semantic surface (reef-fish survey →
  * per-survey relative-abundance vectors → lat/long regression),
  * re-expressed as one declarative DataFrame pipeline + MLlib
  * `Pipeline` (SURVEY.md §7.1 "Slice 0").
  *
  * Reference mapping (cited file:line are in /root/reference):
  *  - CSV ingest incl. quoted-comma handling: Data_transform.py:32-76
  *    (arreglaComas + manual split) → one CSV read with
  *    quote/escape options; unlike the reference we preserve the
  *    original comma instead of rewriting it to ';'.
  *  - count vectorization: Data_transform.py:87-100 (groupByKey +
  *    driver closure, full value shuffle) → groupBy().pivot(vocab)
  *    .sum() — hash aggregation with map-side partial aggregation;
  *    the explicit vocab list preserves the reference's fixed 189-slot
  *    layout AND its silent drop of families outside the vocabulary
  *    (Data_transform.py:90-91).
  *  - L1 normalization with zero-total guard: Data_transform.py:92-95 →
  *    ml.feature.Normalizer(p=1), which leaves zero vectors unchanged.
  *  - latitude appended to features: Data_transform.py:117. This is
  *    label leakage for the latitude model; the reference does it, so
  *    capability parity keeps it — `includeLatInFeatures = false` is
  *    the honest variant.
  *  - RF/GBT + RMSE: Data_transform.py:155-179, with the split SEEDED
  *    (the reference's unseeded split makes its RMSEs unreproducible —
  *    SURVEY.md §5.1).
  *
  * Scale notes: the pivot produces |vocab| partial-agg columns — at
  * 100 TB the (SurveyID, lat, long) grouping shuffles only
  * |vocab|-width partial sums per group, not the raw observations;
  * the vocabulary rides the plan as literals (broadcast-sized, 189
  * entries).
  *
  * The feature frame is a built-index tier (kind "reef" of
  * [[graft.queries.BuiltIndexMemo]], keyed by the CSV path): each
  * [[featurize]] call is its build row — it re-reads the CSV, takes one
  * eager `localCheckpoint` of the frame and swaps it in, so a same-path
  * rewrite is picked up by the next call — and returns the checkpoint.
  * [[trainAndEvaluate]] and [[crossValidate]] split, fit and score on
  * such a frame as it is, so one featurize pays the only CSV ingest and
  * pivot, however many fits follow. Any other frame (a plain plan) gets
  * the same eager `localCheckpoint`, held only for the call in a
  * [[graft.Blocks]] scope. Either way the fits run lineage-truncated.
  * Tree learners run one job per tree level, and every task binary
  * serializes its RDD's whole lineage; on the plan itself that is the
  * CSV scan, the 189-way pivot and both assemblers, and the split and
  * the evaluator re-scan the CSV besides.
  * `persist()` would not help: a persisted RDD serves its blocks but
  * still ships its parents in every task, while a checkpoint replaces
  * them. The cost is one MEMORY_AND_DISK copy of the feature frame (two
  * labels and a |vocab|+1-slot vector per survey, the size of the copy
  * GBT already caches of its input). A featurize frame survives
  * `SparkEntry.release` and stays valid until a later featurize or a
  * tier call on another dir supersedes it and the session's next
  * `release` follows, or until `SparkEntry.releaseIndexes`.
  */
object ReefPipeline {

  /** Raw CSV → the 5 consumed columns, typed. The header names the
    * columns; [[graft.Tables.read]] resolves it once per session and
    * file fingerprint, so a later ingest of the unchanged file reads no
    * header line to do it. Given that schema, the reader skips each
    * file's header and applies the columns by position, and a rewrite
    * that reorders them changes the fingerprint and is re-resolved. */
  def ingest(spark: SparkSession, csvPath: String): DataFrame =
    graft.Tables.read(spark, csvPath)(_
      .option("header", "true")
      .option("quote", "\"")
      .option("escape", "\"")
      .csv(csvPath))
      .select(
        col("SurveyID"),
        col("SiteLat").cast("double").as("latitude"),
        col("SiteLong").cast("double").as("longitude"),
        col("Family"),
        col("Total").cast("double").as("Total"))

  /** Per-survey family-count columns in fixed vocabulary order.
    * Families outside `vocab` are dropped (reference parity). */
  def countVectors(typed: DataFrame, vocab: Seq[String]): DataFrame =
    typed
      .groupBy(col("SurveyID"), col("latitude"), col("longitude"))
      .pivot("Family", vocab)
      .sum("Total")
      .na.fill(0.0, vocab)

  /** Feature pipeline: assemble counts → L1-normalize → append latitude
    * (unless includeLatInFeatures=false). */
  def featurePipeline(vocab: Seq[String],
      includeLatInFeatures: Boolean = true): Pipeline = {
    val famAssembler = new VectorAssembler()
      .setInputCols(vocab.toArray).setOutputCol("famCounts")
    val normalizer = new Normalizer()
      .setInputCol("famCounts").setOutputCol("famShares").setP(1.0)
    val finalCols =
      if (includeLatInFeatures) Array("famShares", "latitude")
      else Array("famShares")
    val finalAssembler = new VectorAssembler()
      .setInputCols(finalCols).setOutputCol("features")
    new Pipeline().setStages(Array(famAssembler, normalizer, finalAssembler))
  }

  /** End-to-end featurization: csv → (latitude, longitude, features),
    * built and checkpointed as the session's "reef" tier. */
  def featurize(spark: SparkSession, csvPath: String, vocab: Seq[String],
      includeLatInFeatures: Boolean = true): DataFrame =
    BuiltIndexMemo.get(spark, csvPath, "reef", rebuild = true) {
      val vectors = countVectors(ingest(spark, csvPath), vocab)
      featurePipeline(vocab, includeLatInFeatures)
        .fit(vectors).transform(vectors)
        .select(col("latitude"), col("longitude"), col("features"))
    }

  sealed trait ModelKind
  case object RF extends ModelKind
  case object GBT extends ModelKind

  /** Seeded 70/30 split, fit, RMSE on the held-out 30% —
    * Data_transform.py:155-179 with reproducibility fixed. */
  def trainAndEvaluate(featured: DataFrame, labelCol: String,
      kind: ModelKind, seed: Long = 42L): (PipelineModel, Double) =
    onCheckpoint(featured) { frame =>
      val Array(train, test) = frame.randomSplit(Array(0.7, 0.3), seed)
      val regressor = kind match {
        case RF => new RandomForestRegressor()
          .setFeaturesCol("features").setLabelCol(labelCol).setSeed(seed)
        case GBT => new GBTRegressor()
          .setFeaturesCol("features").setLabelCol(labelCol).setSeed(seed)
      }
      val model = new Pipeline().setStages(Array(regressor)).fit(train)
      val predictions = model.transform(test)
      val rmse = new RegressionEvaluator()
        .setLabelCol(labelCol).setPredictionCol("prediction")
        .setMetricName("rmse")
        .evaluate(predictions)
      (model, rmse)
    }

  /** Run `body` on `featured` itself when it is already a checkpoint
    * (a [[featurize]] frame), else on one eager, lineage-truncated copy
    * of it, held for the call. The copy keeps the plan's partitions and
    * each partition's row order, so seeded splits and folds select the
    * same rows as on the plan itself. */
  private def onCheckpoint[T](featured: DataFrame)(body: DataFrame => T): T =
    if (GraftBridge.isCheckpointed(featured)) body(featured)
    else graft.Blocks.scoped(b => body(b.checkpoint(featured)))

  /** Seeded k-fold model selection — the `CrossValidator` surface the
    * MLlib north star implies (Pipeline + param grid + evaluator; the
    * reference imports Pipeline and never tunes, Data_transform.py:9).
    * Fold assignment and tree seeds are all fixed, so the selected
    * maxDepth and per-candidate mean RMSEs are run-to-run
    * reproducible. `parallelism(2)` fits grid candidates concurrently
    * — on a cluster each fit is itself distributed, so the two knobs
    * compose. Returns (best mean RMSE, best maxDepth, all mean RMSEs
    * in grid order). */
  def crossValidate(featured: DataFrame, labelCol: String,
      seed: Long = 42L): (Double, Int, Array[Double]) =
    onCheckpoint(featured) { frame =>
      val rf = new RandomForestRegressor()
        .setFeaturesCol("features").setLabelCol(labelCol).setSeed(seed)
      val grid = new ParamGridBuilder()
        .addGrid(rf.maxDepth, Array(3, 5))
        .build()
      val cv = new CrossValidator()
        .setEstimator(new Pipeline().setStages(Array(rf)))
        .setEvaluator(new RegressionEvaluator()
          .setLabelCol(labelCol).setPredictionCol("prediction")
          .setMetricName("rmse"))
        .setEstimatorParamMaps(grid)
        .setNumFolds(3)
        .setSeed(seed)
        .setParallelism(2)
      val m = cv.fit(frame)
      val bestDepth = m.bestModel.asInstanceOf[PipelineModel]
        .stages(0).asInstanceOf[RandomForestRegressionModel].getMaxDepth
      (m.avgMetrics.min, bestDepth, m.avgMetrics)
    }
}
