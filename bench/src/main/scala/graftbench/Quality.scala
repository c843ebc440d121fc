package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks against the generator's truth. Co-membership counts
  * come from the contingency table of (cluster, truth cluster) sizes,
  * so a mega-cluster costs one aggregate instead of its quadratic pair
  * list. */
object Quality {

  final case class Scores(pairRecall: Double, clusterRecall: Double,
      clusterPrecision: Double, labelRows: Long, labelledConvs: Long, expected: Long) {
    /** one label row for every input conversation, and no other */
    def complete: Boolean = labelRows == expected && labelledConvs == expected
  }

  private def pairsOf(n: Column): Column = n * (n - lit(1L)) / lit(2L)

  private def sumPairs(df: DataFrame, keys: String*): Double =
    df.groupBy(keys.map(col): _*).count()
      .agg(coalesce(sum(pairsOf(col("count"))), lit(0L)).cast("double"))
      .head().getDouble(0)

  /** `labels`: (conv_id, cluster_id); `truth`: (conv_id, truth_id);
    * `truthPairs`: (doc_a, doc_b). */
  def score(labels: DataFrame, truth: DataFrame, truthPairs: DataFrame): Scores = {
    val got = labels.select(col("conv_id"), col("cluster_id")).cache()
    try {
      val j = got.join(truth, Seq("conv_id"))
      val both = sumPairs(j, "cluster_id", "truth_id")
      val gotPairs = sumPairs(j, "cluster_id")
      val truthPairsN = sumPairs(j, "truth_id")
      val a = got.select(col("conv_id").as("doc_a"), col("cluster_id").as("ca"))
      val b = got.select(col("conv_id").as("doc_b"), col("cluster_id").as("cb"))
      val joined = truthPairs.join(a, Seq("doc_a"), "left").join(b, Seq("doc_b"), "left")
        .agg(count(lit(1)), count(when(col("ca") === col("cb"), lit(1)))).head()
      val nTruth = joined.getLong(0)
      def ratio(x: Double, d: Double) = if (d == 0) 1.0 else x / d
      Scores(
        pairRecall = ratio(joined.getLong(1).toDouble, nTruth.toDouble),
        clusterRecall = ratio(both, truthPairsN),
        clusterPrecision = ratio(both, gotPairs),
        labelRows = got.count(),
        labelledConvs = got.join(truth, Seq("conv_id"), "left_semi")
          .agg(countDistinct(col("conv_id"))).head().getLong(0),
        expected = truth.count())
    } finally got.unpersist()
  }

  /** Incremental labels vs a full recompute: equal, or the one
    * documented benign divergence (the rule of the engine's
    * RunIncrement tool): incremental clusters that strictly coarsen the
    * full run's after a bucket crossed the star cap — no full cluster
    * split, at least one merge, every doc outside merged clusters equal
    * on every column, and each merged cluster's representative one of
    * its full clusters' representatives. Returns (ok, detail). */
  def incrementEquivalent(spark: SparkSession, updated: DataFrame, full: DataFrame): (Boolean, String) = {
    import spark.implicits._
    val u = updated.select("conv_id", "cluster_id", "representative", "is_representative")
    val f = full.select("conv_id", "cluster_id", "representative", "is_representative")
    val diff = u.exceptAll(f).count() + f.exceptAll(u).count()
    if (diff == 0) return (true, "row_diff=0")
    val j = f.select($"conv_id", $"cluster_id".as("fc"),
        $"representative".as("fr"), $"is_representative".as("fir"))
      .join(u.select($"conv_id", $"cluster_id".as("ic"),
        $"representative".as("ir"), $"is_representative".as("iir")), Seq("conv_id"))
      .cache()
    try {
      val splits = j.groupBy($"fc").agg(countDistinct($"ic").as("n")).filter($"n" > 1).count()
      val merged = j.groupBy($"ic").agg(countDistinct($"fc").as("n")).filter($"n" > 1).select($"ic")
      val nMerged = merged.count()
      val cleanDiffs = j.join(merged, Seq("ic"), "left_anti")
        .filter($"fc" =!= $"ic" || $"fr" =!= $"ir" || $"fir" =!= $"iir").count()
      val repDrift = j.join(merged, Seq("ic"))
        .join(j.select($"ic", $"fr".as("ir")).distinct(), Seq("ic", "ir"), "left_anti").count()
      val rowsEqual = u.count() == f.count()
      val ok = rowsEqual && splits == 0 && nMerged > 0 && cleanDiffs == 0 && repDrift == 0
      (ok, s"row_diff=$diff splits=$splits merged=$nMerged clean_diffs=$cleanDiffs " +
        s"rep_drift=$repDrift rows_equal=$rowsEqual")
    } finally j.unpersist()
  }
}
