package graft.operators

import org.apache.spark.sql.{Column, DataFrame, ExpressionColumn}
import org.apache.spark.sql.ExpressionColumn.expression
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.plans.{ClassifierWeightedExpr, GramBucketsExpr}

/** TRAINED hashed-gram importance model — the DSIR discipline (Xie et
  * al. 2023, "Data Selection for Language Models via Importance
  * Resampling") with estimated weights, upgrading
  * [[graft.functions.TextFunctions.classifierScoreMilli]]'s deterministic stand-in:
  * estimate P(target | gram bucket) from a labeled corpus split
  * (target = the distribution you want more of — a reference corpus,
  * a language, a quality tier), then score every document by the sum
  * of its grams' centered probabilities.
  *
  * Weights are EXACT INTEGERS: w(b) = (ct+1)·1000 div (ct+cr+2) − 500
  * — a Laplace-smoothed, milli-scaled P̂(target|b) centered at 0
  * (monotone in the log-odds DSIR uses, without the transcendental:
  * floor division replays bit-for-bit in any engine, ln does not).
  *
  * Scale shape: TRAINING is one pass — explode grams, one shuffle on
  * the bucket (map-side combined), weight table = `buckets` rows (a
  * lake artifact at 100 TB, the pretrained-centroid discipline).
  * SCORING is one map-only pass — the weight table densifies into a
  * bucket-indexed array the `classifier_weighted` kernel reads per
  * gram; the corpus never joins itself and never shuffles. */
object ImportanceModel {

  /** Hashed uni+bigram bucket ids of a text column — the same feature
    * space as [[graft.functions.TextFunctions.classifierScoreMilli]]
    * (md5-portable), from the one-pass `gram_buckets` kernel. */
  def gramBuckets(c: Column, buckets: Int = 65536): Column =
    ExpressionColumn(GramBucketsExpr(expression(c), Literal(buckets)))

  /** Estimate the weight table from a labeled corpus: (bucket,
    * w_milli) for every bucket seen in training. One gram explode +
    * one bucket-keyed aggregate. */
  def train(docs: DataFrame, textCol: String, isTarget: Column,
      buckets: Int = 65536): DataFrame =
    docs.select(isTarget.cast("boolean").as("__t"),
        explode(gramBuckets(col(textCol), buckets)).as("bucket"))
      .groupBy("bucket")
      .agg(sum(when(col("__t"), 1L).otherwise(0L)).as("ct"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("cr"))
      .select(col("bucket"),
        (expr("(ct + 1) * 1000 div (ct + cr + 2)") - 500).as("w_milli"))

  /** Score every doc under a trained weight table: Σ w(bucket) over
    * the doc's grams, unseen buckets scoring 0.
    *
    * The weight table densifies into a bucket-indexed long array
    * (≤ `buckets` · 8 B — 512 KB at the default 2¹⁶, bounded metadata
    * like the IVF centroids) and scoring is ONE `classifier_weighted`
    * kernel call per row — map-only, zero shuffle, no gram explode at
    * all. Bucket counts too big to inline (say ≥ 2²⁴) would take the
    * broadcast-join shape instead: explode grams, BROADCAST-join the
    * weights, one map-side-combined sum per doc. */
  def score(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int = 65536): DataFrame = {
    val dense = new Array[Long](buckets)
    weights.select("bucket", "w_milli").collect().foreach { r =>
      val b = r.getLong(0)
      // a weights table trained under a LARGER bucket count would
      // index past the dense array — fail with the actual mismatch
      // instead of an ArrayIndexOutOfBounds
      require(b >= 0 && b < buckets,
        s"weights table bucket $b is outside [0, $buckets) — the " +
          "table was trained with a different bucket count than " +
          s"score(buckets = $buckets); retrain or pass the matching count")
      dense(b.toInt) = r.getLong(1)
    }
    // coalesce: a null text scores 0
    docs.withColumn("score_milli",
      coalesce(ExpressionColumn(ClassifierWeightedExpr(
        expression(col(textCol)), Literal(dense))), lit(0L)))
  }
}
