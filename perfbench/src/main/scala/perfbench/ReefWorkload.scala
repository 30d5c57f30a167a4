package perfbench

import scala.collection.mutable

import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.ml.ReefPipeline
import perfbench.Main.CheckFailed

/** The paper's pipeline (`reef-ml`). The set-up step is a featurize
  * operation; a pass is five operations: `ReefPipeline.featurize`
  * (construct, plan, and a `noop` write of the feature frame), then
  * `trainAndEvaluate` for RandomForest and GBT on latitude and on
  * longitude over the pass's feature frame. */
final class ReefWorkload(csv: String, vocabFile: String, surveys: Long)
    extends Workload {

  private val vocab: Seq[String] = scala.io.Source.fromFile(vocabFile, "UTF-8")
    .getLines().map(_.trim).filter(_.nonEmpty).toList

  // RMSEs by model, over every pass: they must repeat exactly
  private val rmses = mutable.LinkedHashMap.empty[String, Seq[Double]]

  private val models = for {
    label <- Seq("latitude", "longitude")
    (kind, model) <- Seq(("rf", ReefPipeline.RF), ("gbt", ReefPipeline.GBT))
  } yield (s"${kind}_$label", kind, label, model)

  private def featurize(h: Harness, spark: SparkSession, passNo: Int)
      : (Op, DataFrame) = {
    var featured: DataFrame = null
    val op = h.op(spark, "featurize", "featurize", passNo) { phase =>
      try {
        featured = ReefPipeline.featurize(spark, csv, vocab)
        phase(1)
        featured.queryExecution.executedPlan
        phase(2)
        featured.write.format("noop").mode("overwrite").save()
      } finally {
        phase(3)
        SparkEntry.release(spark)
      }
    }
    (op, featured)
  }

  def setup(h: Harness, spark: SparkSession): Op = featurize(h, spark, -100)._1

  def pass(h: Harness, spark: SparkSession, passNo: Int): Seq[Op] = {
    val (feat, featured) = featurize(h, spark, passNo)
    if (featured == null) return Seq(feat)
    feat +: models.map { case (name, kind, label, model) =>
      h.op(spark, name, kind, passNo) { phase =>
        try {
          phase(1)
          phase(2)
          val (_, rmse) = ReefPipeline.trainAndEvaluate(featured, label, model)
          rmses(name) = rmses.getOrElse(name, Nil) :+ rmse
        } finally {
          phase(3)
          SparkEntry.release(spark)
        }
      }
    }
  }

  /** Vectors have |vocab|+1 slots, the family shares of each vector sum
    * to 1 (or 0 when every family is outside the vocabulary), and there
    * is one row per generated survey. */
  def verify(h: Harness, spark: SparkSession): Seq[Op] = {
    val vecs = ReefPipeline.featurize(spark, csv, vocab).select("features")
      .collect().map(_.getAs[Vector](0))
    SparkEntry.release(spark)
    val problems = mutable.ArrayBuffer.empty[String]
    val sizes = vecs.map(_.size).distinct
    if (!sizes.sameElements(Array(vocab.size + 1)))
      problems += s"vector sizes ${sizes.mkString(",")} != ${vocab.size + 1}"
    if (vecs.length != surveys)
      problems += s"${vecs.length} feature rows for $surveys surveys"
    val badShares = vecs.count { v =>
      val s = (0 until vocab.size).map(v(_)).sum
      math.abs(s - 1.0) > 1e-9 && s != 0.0
    }
    if (badShares > 0) problems += s"$badShares vectors with shares not summing to 1"
    if (problems.nonEmpty) throw new CheckFailed(problems.mkString("; "))
    Nil
  }

  /** Every model's RMSE repeated exactly in every pass. */
  override def finish(h: Harness, spark: SparkSession): Map[String, Any] = {
    val problems = rmses.collect {
      case (name, xs) if xs.distinct.size != 1 => s"$name RMSE varies: ${xs.mkString(",")}"
    }.toSeq ++ (if (rmses.size == models.size) Nil else Seq("a model never trained"))
    if (problems.nonEmpty) throw new CheckFailed(problems.mkString("; "))
    Map("rmse" -> rmses.map { case (k, v) => k -> v.head }.toMap)
  }
}
