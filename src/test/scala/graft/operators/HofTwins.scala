package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The interpreted higher-order-function forms the native kernels replaced:
  * each is the SQL-expressible reference its kernel's parity spec (and
  * [[graft.KernelParitySpec]]) compares against. None runs outside the tests.
  */
object HofTwins {

  /** [[TextAnalysis.langPredicted]] as the interpreted when-chain. On NULL
    * text every score is NULL, so the chain falls through to "fr"; the
    * kernel returns NULL instead.
    */
  def langPredictedHof: Column = {
    val Seq(en, de, es, fr) = TextAnalysis.langScores.map(_._2)
    when(en === 0 && de === 0 && es === 0 && fr === 0, "und")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** [[TextAnalysis.rollingHash]] as the aggregate/transform fold. */
  def rollingHashHof(text: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(text)),
        i => ascii(text.substr(i, lit(1))).cast("bigint")),
      lit(0L),
      (h, c) => (h * lit(31L) + c) % lit(2147483647L))

  /** The blocked-term count of [[TextAnalysis.blocklist]] as filter-IN. */
  def blockedTermCountHof: Column = {
    val inList = TextAnalysis.blockedTerms.map(t => s"'$t'").mkString(", ")
    size(expr(s"filter(split(text, ' '), t -> t IN ($inList))"))
  }

  /** The untrained [[TextAnalysis.classifierScore]] as the aggregate chain. */
  def classifierScoreExprHof: Column = {
    val wArr = (0 until TextAnalysis.classifierBuckets).map(TextAnalysis.classifierWeight)
      .mkString("array(", ", ", ")")
    expr(
      s"""aggregate(split(text, ' '), 0, (acc, t) ->
         |  acc + element_at($wArr,
         |    CAST(pmod(CAST(conv(substring(md5(t), 1, 4), 16, 10) AS INT),
         |              ${TextAnalysis.classifierBuckets}) AS INT) + 1))""".stripMargin)
  }

  /** [[Dedup.simhash]] as one md5 `transform` plus sixteen `filter`s. */
  def simhashHof(doc: DataFrame): DataFrame = {
    val withHashes = doc.select(col("doc_id"),
      expr("transform(split(text, ' '), t -> CAST(conv(substring(md5(t), 1, 4), 16, 10) AS INT))")
        .as("hs"))
    val bitTerms = (0 until Dedup.simhashBits).map { b =>
      when(expr(s"size(filter(hs, h -> ((h >> $b) & 1) = 1)) * 2 > size(hs)"), 1 << b)
        .otherwise(0)
    }
    withHashes.select(col("doc_id"),
      bitTerms.reduce(_ + _).cast("int").as("simhash"))
  }

  /** The PQ distance array of subspace `j` as 16 expression branches (the
    * form whose planning/codegen cost the native
    * [[graft.spark.PqKernel]] removed).
    */
  def pqDistArrHof(cents: Array[(Long, Array[Double])], j: Int): Column = {
    import Similarity.{pqCodes, pqSubDim}
    import graft.spark.VectorFunctions.vecDot
    val xs = slice(col("embedding"), j * pqSubDim + 1, pqSubDim)
    val x2 = vecDot(xs, xs)
    val ds = (0 until pqCodes).map { c =>
      val cs = cents(c)._2.slice(j * pqSubDim, (j + 1) * pqSubDim)
      val c2 = cs.foldLeft(0d)((acc, x) => acc + x * x)
      (x2 - lit(2.0) * vecDot(xs, typedlit(cs.toSeq))) + lit(c2)
    }
    array(ds: _*)
  }
}
