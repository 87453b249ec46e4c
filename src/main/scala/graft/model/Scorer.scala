package graft.model

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.config.DedupeConfig
import graft.similarity.Comparators

/** Pairwise duplicate classifier (ref: SURVEY.md D2/D7 — the reference's
  * default is dedupe's L2-regularized logistic regression,
  * pgdedupe/run.py:36-37, applied inside matchBlocks with
  * `threshold=config['threshold']`, run.py:362-379).
  *
  * Scoring is a pure column expression over the assembled feature array:
  * sigmoid(w·x + b) with the (small) weight vector inlined as a literal
  * array — fully codegen'd, no UDF, no broadcast needed since weights
  * travel in the plan itself.
  */
final case class LogisticModel(
    featureNames: Seq[String],
    weights: Seq[Double],
    bias: Double) {
  require(featureNames.length == weights.length,
    s"${featureNames.length} names vs ${weights.length} weights")

  /** P(duplicate) as a plain codegen'd expression over named feature
    * columns: sigmoid(b + Σ wᵢ·fᵢ) with the weights inlined as literals.
    */
  def scoreColumnNamed: Column = {
    val z = featureNames.zip(weights)
      .map { case (n, w) => col(n) * lit(w) }
      .foldLeft(lit(bias))(_ + _)
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Attach `score` to a pair-DataFrame carrying l_/r_ field columns. */
  def scorePairs(cfg: DedupeConfig, pairs: DataFrame): DataFrame =
    Comparators.withFeatures(cfg, pairs)
      .withColumn("score", scoreColumnNamed)
      .drop(Comparators.featureNames(cfg): _*)

  /** Settings-file persistence (ref: S8, pgdedupe/run.py:126-129/180-181 —
    * the reference pickles; we use JSON, SURVEY.md §1.1).
    */
  def toJson: String = {
    // JsonStr: a weak local escaper here once meant a feature name with
    // a control char wrote a settings file the snakeyaml reader
    // rejected (Settings.toJson embeds this output).
    val q = graft.JsonStr.escape _
    s"""{"featureNames":[${featureNames.map(q).mkString(",")}],""" +
      s""""weights":[${weights.mkString(",")}],"bias":$bias}"""
  }

  def save(path: String): Unit =
    Files.writeString(Paths.get(path), toJson)
}

object LogisticModel {

  /** Fallback hand-set model: distance features get negative weight
    * (higher distance → less likely duplicate), missing indicators mildly
    * negative. Used when no settings/training file is configured — the
    * analog of running the reference without train (static path,
    * run.py:126-129).
    *
    * Calibrated to the normalized affine-gap scale (identical = 0.5,
    * single-typo ≈ 1.5-2.5, unrelated ≈ 5+): with weight -2 per string
    * distance and bias 3.4/string field, the decision boundary sits near
    * an average per-field distance of ~1.7 — "most fields match, one has
    * an edit" scores positive, "shares only the blocking key" scores
    * strongly negative. A trained model (Trainer) supersedes this.
    */
  def default(cfg: DedupeConfig): LogisticModel = {
    val names = Comparators.featureNames(cfg)
    val typeByVar: Map[String, String] =
      cfg.fields.map(f => f.varName -> f.ftype).toMap
    val ws = names.map {
      case n if n.startsWith("d_") =>
        typeByVar.get(n.stripPrefix("d_")) match {
          case Some("String") => -3.0
          case _              => -1.0
        }
      case n if n.startsWith("m_") => -0.3
      case _                       => -0.3 // interactions
    }
    val nString = cfg.fields.count(_.ftype == "String")
    val nOther = cfg.fields.length - nString
    LogisticModel(names, ws, 3.0 * nString + 0.5 * nOther)
  }

  /** The ONE model-JSON parser — `load` and `Settings.fromJson` both go
    * through here, so the accepted file shape cannot fork between the
    * two loaders.
    */
  private[model] def fromParsed(
      m: java.util.Map[String, Object]): LogisticModel = {
    import scala.jdk.CollectionConverters._
    LogisticModel(
      m.get("featureNames").asInstanceOf[java.util.List[Object]]
        .asScala.toSeq.map(_.toString),
      m.get("weights").asInstanceOf[java.util.List[Object]]
        .asScala.toSeq.map(_.toString.toDouble),
      m.get("bias").toString.toDouble)
  }

  def load(path: String): LogisticModel =
    fromParsed(new org.yaml.snakeyaml.Yaml()
      .load[java.util.Map[String, Object]](Files.readString(Paths.get(path))))
}
