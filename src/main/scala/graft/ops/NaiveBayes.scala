package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.GraftColumnBridge
import graft.functions.GraftFunctions

/** Multinomial Naive Bayes over hashed unigram buckets — the
  * classical fastText/CCNet-style lightweight classifier used to
  * label training corpora (language ID, quality tiers, domain tags)
  * at corpus scale. Public-knowledge algorithm (McCallum & Nigam
  * 1998's event model, hashing trick per Weinberger et al. 2009);
  * engineering is the [[Dsir]] pattern: training is ONE bounded
  * aggregation (≤ classes × buckets rows — the hashed vocabulary is
  * the model, there is no iterative fit), and scoring is ONE
  * whole-stage-codegen corpus scan through
  * [[graft.expressions.BucketScore]] with a per-class table — no
  * explode, no join, no shuffle. At 100 TB: train cost = one token
  * scan + a classes×buckets aggregate; predict cost = one scan.
  */
object NaiveBayes {

  /** classes sorted ascending; logPriors(i) = ln(n_docs_i / n_docs);
    * logLik(i)(b) = ln((count_ib + α) / (tokens_i + α·B)).
    */
  final case class Model(classes: Seq[String], logPriors: Seq[Double],
                         logLik: Seq[Seq[Double]], buckets: Int, alpha: Double)

  def train(docs: DataFrame, textCol: String, labelCol: String,
            buckets: Int, alpha: Double): Model = {
    require(buckets > 0 && alpha > 0, s"need buckets>0, alpha>0: $buckets, $alpha")
    // token counts per (class, bucket): ≤ classes×buckets rows
    val counts = docs
      .select(col(labelCol).cast("string").as("__c"),
        explode(split(lower(col(textCol)), " ")).as("__w"))
      .where(col("__w") =!= "" && col("__c").isNotNull)
      .groupBy(col("__c"),
        pmod(GraftFunctions.hash60(col("__w")), lit(buckets.toLong)).as("__b"))
      .count()
      .collect()
    // doc counts per class for priors (bounded: one row per class)
    val docCounts = docs
      .where(col(labelCol).isNotNull)
      .groupBy(col(labelCol).cast("string").as("__c")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val classes = docCounts.keys.toSeq.sorted
    val nDocs = docCounts.values.sum.toDouble
    val tokTotals = counts.groupBy(_.getString(0))
      .map { case (c, rs) => c -> rs.map(_.getLong(2)).sum }
    val aB = alpha * buckets
    val lik = classes.map { c =>
      val t = tokTotals.getOrElse(c, 0L)
      val table = Array.fill(buckets)(math.log(alpha / (t + aB)))
      counts.filter(_.getString(0) == c).foreach { r =>
        table(r.getLong(1).toInt) = math.log((r.getLong(2) + alpha) / (t + aB))
      }
      table.toSeq
    }
    Model(classes, classes.map(c => math.log(docCounts(c) / nDocs)), lik,
      buckets, alpha)
  }

  /** Adds `predictedCol` (argmax class) and `scoreCol` (its rounded
    * log-posterior). Ties on the 6-decimal-rounded score break toward
    * the LEXICOGRAPHICALLY GREATEST class (struct-max semantics —
    * mirrored by `ORDER BY score DESC, class DESC` in oracles).
    */
  def predict(model: Model, docs: DataFrame, textCol: String,
              predictedCol: String = "predicted",
              scoreCol: String = "nb_score"): DataFrame = {
    val xx = GraftFunctions.hashModeIsXx
    val scored = model.classes.zipWithIndex.map { case (c, i) =>
      struct(
        round(GraftColumnBridge.column(graft.expressions.BucketScore(
          GraftColumnBridge.expression(col(textCol)), model.logLik(i), xx))
          + lit(model.logPriors(i)), 6).as("s"),
        lit(c).as("c"))
    }
    val best = array_max(array(scored: _*))
    docs.withColumn(predictedCol, best.getField("c"))
      .withColumn(scoreCol, best.getField("s"))
  }
}
