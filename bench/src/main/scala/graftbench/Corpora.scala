package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Turn
import graft.corpus.CorpusGen
import graft.functions.Hashing.mix64

/** The benchmark's inputs: pure functions of (workload, size, seed).
  *
  *  - `dupmix` and `increment` use the engine's fixture generator
  *    [[CorpusGen]] unchanged (exact / near / fuzzy / block / mega
  *    families plus ~15% boilerplate turns).
  *  - `hubskew` plants one mega-cluster and one hot key on top of it:
  *    conversation slots 90..99 (10% of conversations) are near-copies
  *    of one template, and every turn is followed by the same short
  *    turn text, so that text is half of all turns while documents stay
  *    distinct.
  */
object Corpora {

  val HotTurn = "ok thanks"

  private def slot(i: Long): Int = (i % 100).toInt

  /** Token substitution at ~1/64 per token, the rate of the generator's
    * own near-dup family. */
  private def perturb(text: String, key: Long): String = {
    val toks = text.split(' ')
    var r = key
    var j = 0
    while (j < toks.length) {
      r = mix64(r)
      if ((r & 0x3F) == 0) toks(j) = CorpusGen.Words(((r >>> 20) % CorpusGen.Words.length).toInt)
      j += 1
    }
    toks.mkString(" ")
  }

  private def hubTurns(i: Long, seed: Long): Seq[Turn] = {
    val base = CorpusGen.turnsOf(i, seed)
    val turns =
      if (slot(i) < 90) base
      else CorpusGen.MegaTemplate.indices.map { t =>
        val ts = new java.sql.Timestamp(base.head.ts.getTime + t * 1000L)
        Turn(CorpusGen.convId(i), t, if (t % 2 == 0) "user" else "assistant",
          perturb(CorpusGen.MegaTemplate(t), mix64(seed ^ i ^ (t.toLong << 32))), "", ts)
      }
    turns.zipWithIndex.flatMap { case (t, k) =>
      Seq(t.copy(turn_idx = 2 * k),
        Turn(t.conv_id, 2 * k + 1, "user", HotTurn, "", new java.sql.Timestamp(t.ts.getTime + 500L)))
    }
  }

  def transcripts(spark: SparkSession, workload: String, nConvs: Long, seed: Long): DataFrame = {
    import spark.implicits._
    workload match {
      case "hubskew" => spark.range(0, nConvs).flatMap(i => hubTurns(i, seed)).toDF
      case _         => CorpusGen.transcripts(spark, nConvs, seed).toDF
    }
  }

  /** (conv_id, truth_id): the planted whole-document clusters. */
  def truthClusters(spark: SparkSession, workload: String, nConvs: Long): DataFrame = {
    import spark.implicits._
    val t = CorpusGen.truthClusters(spark, nConvs).toDF("conv_id", "truth_id")
    if (workload != "hubskew") t
    else t.withColumn("truth_id",
      when(substring($"conv_id", -2, 2).cast("int") >= 90, lit(CorpusGen.convId(90L)))
        .otherwise($"truth_id"))
  }

  /** (doc_a, doc_b): the planted whole-document duplicate pairs. Block
    * pairs only share a boilerplate block, so whole-document clustering
    * must not join them and they are left out. */
  def truthPairs(spark: SparkSession, workload: String, nConvs: Long): DataFrame = {
    import spark.implicits._
    val direct = CorpusGen.truthPairs(spark, nConvs).toDF
      .filter($"kind" =!= "block" && $"kind" =!= "mega")
      .select($"doc_a", $"doc_b")
    // every mega member pairs with the first one, as in the generator
    val megaSlots = if (workload == "hubskew") 90 to 99 else 90 to 91
    val mega = spark.range(0, nConvs)
      .filter(col("id") % 100 >= megaSlots.head && col("id") % 100 <= megaSlots.last && col("id") =!= 90L)
      .select(lit(CorpusGen.convId(90L)).as("doc_a"),
        format_string("conv_%06d", col("id")).as("doc_b"))
    direct.unionByName(mega)
  }
}
