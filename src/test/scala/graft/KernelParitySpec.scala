package graft

import graft.core.{Extractor, Payload, Pdf}
import graft.operators.{Dedup, HofTwins, TextAnalysis}
import graft.spark.HashFunctions._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import org.scalacheck.{Gen, Prop, Test}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Generative parity of the native kernels: ONE scalacheck property whose
  * every sample is one generated DataFrame holding a NULL text, an empty
  * text, texts under 3 tokens, a PUA/multi-byte-only text, a text of
  * several thousand tokens and a batch of mixed texts. Each kernel must
  * equal the reference form its fixture spec in [[PipelineSpec]] uses, be
  * NULL on NULL text, and give the same values interpreted (local
  * relation) as under whole-stage codegen (RDD scan). The extraction
  * kernel has its own property against `Extractor.extractTurn`.
  */
class KernelParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("graft-kernel-parity")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val token: Gen[String] = Gen.frequency(
    5 -> Gen.oneOf(TextAnalysis.langStopwords.flatMap(_._2) ++ TextAnalysis.blockedTerms),
    4 -> Gen.choose(1, 6).flatMap(Gen.listOfN(_, Gen.alphaNumChar)).map(_.mkString),
    2 -> Gen.oneOf("héllo", "wörld", "中文", "ß", "naïve", "😀", "a😀b"),
    2 -> Gen.choose(1, 3).map(i => s"x${TextAnalysis.bpeSymbol(i)}y${TextAnalysis.bpeSymbol(i + 1)}"),
    1 -> Gen.const(""))

  private def textOf(tokens: Gen[Int], tok: Gen[String] = token): Gen[String] =
    tokens.flatMap(Gen.listOfN(_, tok)).map(_.mkString(" "))

  /** One sample's texts; `None` is a NULL row. */
  private val docs: Gen[Seq[Option[String]]] = for {
    short <- Gen.listOfN(3, textOf(Gen.choose(1, 2)))
    exotic <- textOf(Gen.choose(3, 12), Gen.oneOf("中文", "ß", "😀", TextAnalysis.bpeSymbol(1)))
    long <- textOf(Gen.choose(2000, 4000))
    mixed <- Gen.listOfN(30, textOf(Gen.choose(3, 60)))
  } yield (Seq(None, Some("")) ++ (short :+ exotic :+ long).map(Some(_)) ++ mixed.map(Some(_)))

  private val text = col("text")
  private val nTok = size(split(text, " "))
  private val w = Dedup.windowTokens
  private val s = Dedup.windowStride
  private val strings = typedlit(Seq.empty[String])

  /** (name, kernel) — every kernel converted to the one `StaticInvoke`
    * mechanism; the pair kernel is checked separately below.
    */
  private def kernels: Seq[(String, Column)] = Seq(
    "shingles3" -> shingles3(text),
    "minhash16" -> minHash16(shingles3(text)),
    "minhash_bands" -> minHashBands(shingles3(text), Dedup.minhashBandCount,
      Dedup.minhashRowsPerBand),
    "rolling_hash" -> rollingHash(text),
    "simhash16" -> simHash16(text),
    "url_canonical" -> urlCanonical(text),
    "span_blocks" -> spanBlocks(text, lit(10)),
    "lang_scores4" -> langScores4(text),
    "lang_predict" -> langPredict(text),
    "winnow_fps" -> winnowFps(text, w, s),
    "classifier_buckets" -> classifierBuckets(text, TextAnalysis.classifierBuckets),
    "text_char_pairs" -> textCharPairs(text))

  /** The reference of each kernel on non-NULL text, by name (url_canonical
    * and simhash16 are checked against the core function and the simhash
    * HOF twin's own DataFrame instead).
    */
  private def references(df: DataFrame): DataFrame = {
    val grams = shingles3(text)
    val hcat = transform(grams, g => concat(
      md5(concat(lit("0:"), g)), md5(concat(lit("1:"), g)),
      md5(concat(lit("2:"), g)), md5(concat(lit("3:"), g))))
    val mh = array((0 until 16).map(k => array_min(transform(hcat, h =>
      conv(substring(h, 8 * k + 1, 8), 16, 10).cast("bigint")))): _*)
    val bands = array((0 until Dedup.minhashBandCount).map { b =>
      md5(concat_ws("_", (0 until Dedup.minhashRowsPerBand).map(r =>
        element_at(minHash16(grams), b * Dedup.minhashRowsPerBand + r + 1).cast("string")): _*))
    }: _*)
    df.select(col("doc_id"), text,
        when(nTok >= 3, expr(
          """array_distinct(transform(sequence(0, size(split(text, ' ')) - 3),
            |  i -> concat(element_at(split(text, ' '), i + 1), ' ',
            |              element_at(split(text, ' '), i + 2), ' ',
            |              element_at(split(text, ' '), i + 3))))""".stripMargin))
          .otherwise(strings).as("shingles3"),
        when(nTok >= 3, mh).otherwise(array_repeat(lit(Long.MaxValue), 16)).as("minhash16"),
        when(nTok >= 3, bands).as("minhash_bands"),
        HofTwins.rollingHashHof(text).as("rolling_hash"),
        expr("""transform(sequence(0, CAST((size(split(text, ' ')) - 1) DIV 10 AS INT)),
               |  i -> array_join(slice(split(text, ' '), i * 10 + 1, 10), ' '))""".stripMargin)
          .as("span_blocks"),
        array(TextAnalysis.langScores.map(_._2): _*).as("lang_scores4"),
        HofTwins.langPredictedHof.as("lang_predict"),
        transform(split(text, " "), t => TextAnalysis.classifierBucket(t)).as("classifier_buckets"),
        flatten(transform(filter(split(text, " "), t => length(t) >= 2),
          t => transform(sequence(lit(1), length(t) - 1), i => t.substr(i, lit(2)))))
          .as("text_char_pairs"),
        when(nTok >= w, expr(s"transform(sequence(0, size(split(text, ' ')) - $w), " +
          s"i -> md5(concat_ws(' ', slice(split(text, ' '), i + 1, $w))))")).as("wfps"))
      .withColumn("winnow_fps", when(col("wfps").isNull, strings).otherwise(expr(
        s"""array_distinct(transform(sequence(1, greatest(size(wfps) - ${s - 1}, 1)),
           |  i -> array_min(slice(wfps, i, $s))))""".stripMargin)))
  }

  private def mismatches(rows: Seq[Option[String]]): Seq[String] = {
    val session = spark
    import session.implicits._
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    val data = rows.zipWithIndex.map { case (t, i) => Row(i.toLong, t.orNull) }
    val local = spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
    val scanned = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
    val names = kernels.map(_._1)
    def run(df: DataFrame) = df.select((col("doc_id") +: kernels.map { case (n, k) => k.as(n) }): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    val codegen = run(scanned)
    val interpreted = run(local)
    val refs = references(scanned).collect().map(r => r.getLong(0) -> r).toMap
    val simhashRef = HofTwins.simhashHof(scanned).collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val bad = Seq.newBuilder[String]
    for ((id, t) <- rows.indices.map(_.toLong).zip(rows); n <- names) {
      val got = codegen(id).getAs[Any](n)
      val show = t.map(x => if (x.length > 80) x.take(80) + "..." else x)
      if (got != interpreted(id).getAs[Any](n)) bad += s"$n codegen != interpreted on $show"
      val want = t match {
        case None => null
        case Some(x) if n == "url_canonical" => graft.core.Urls.canonicalize(x)
        case Some(_) if n == "simhash16" => simhashRef(id)
        case Some(_) => refs(id).getAs[Any](n)
      }
      if (got != want) bad += s"$n on $show: kernel $got, reference $want"
    }
    // in-block pairing: kernel pairs of one all-docs block == every pair of
    // distinct docs within maxHamming 3, over the kernel simhashes
    val sig = codegen.collect { case (id, r) if !r.isNullAt(r.fieldIndex("simhash16")) =>
      id -> r.getAs[Int]("simhash16") }.toSeq.sortBy(_._1)
    val wantPairs = for ((a, sa) <- sig; (b, sb) <- sig if a < b
      && Integer.bitCount(sa ^ sb) <= 3) yield (a, b, Integer.bitCount(sa ^ sb))
    val gotPairs = sig.toDF("doc_id", "simhash")
      .agg(array_sort(collect_list(struct(col("doc_id"), col("simhash")))).as("ms"))
      .select(explode(simHashPairs(col("ms"), 3)).as("p"))
      .select("p.a_id", "p.b_id", "p.hamming").as[(Long, Long, Int)].collect().toSeq
    if (gotPairs.sorted != wantPairs.sorted) bad += s"simhash_pairs: $gotPairs != $wantPairs"
    bad.result()
  }

  test("kernels equal their reference forms on generated text (NULL, empty, <3 tokens, " +
    "PUA/multi-byte, several thousand tokens)") {
    val prop = Prop.forAllNoShrink(docs) { rows =>
      val bad = mismatches(rows)
      Prop(bad.isEmpty) :| bad.take(5).mkString("\n")
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(3), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
  /** One sample's turns as (text, tool); `None` is a NULL column. The first
    * two rows pin supplementary-plane text (UTF-16 length != code points)
    * and an all-NULL payload.
    */
  private val turns: Gen[Seq[(Option[String], Option[String])]] = {
    val tool: Gen[Option[String]] = Gen.oneOf(
      Gen.const(None), Gen.const(Some("")), Gen.const(Some("{not json")),
      Gen.oneOf("mock", "tesseract", "go_tesseract", "nope").map(e => Some(s"""{"engine":"$e"}""")),
      textOf(Gen.choose(1, 20)).map(t => Some(s"""{"engine":"sandwich","img_base64":""" +
        s""""${Payload.encodeBase64(Pdf.synthesize(t))}","engine_args":{"ocr_type":"txt"}}""")))
    val text: Gen[Option[String]] =
      Gen.frequency(1 -> Gen.const(None), 6 -> textOf(Gen.choose(0, 40)).map(Some(_)))
    Gen.listOfN(40, Gen.zip(text, tool))
      .map(Seq(Some("a😀b 😀") -> Some("""{"engine":"mock"}"""), None -> None) ++ _)
  }

  private def turnMismatches(rows: Seq[(Option[String], Option[String])]): Seq[String] = {
    val schema = StructType(Seq(StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
      StructField("text", StringType), StructField("tool", StringType)))
    val data = rows.zipWithIndex.map { case ((t, o), i) => Row(s"c${i % 3}", i, t.orNull, o.orNull) }
    val local = spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
    val scanned = spark.createDataFrame(spark.sparkContext.parallelize(data, 2), schema)
    def run(df: DataFrame, propagateNull: Boolean) = df
      .select(col("turn_idx"), extractTurn(col("conv_id"), col("turn_idx"), col("text"), col("tool"),
        propagateNull = propagateNull).as("r"))
      .collect().map(r => r.getInt(0) -> Option(r.getStruct(1)).map(_.toSeq)).toMap
    val codegen = run(scanned, propagateNull = false)
    val interpreted = run(local, propagateNull = false)
    val strict = run(scanned, propagateNull = true)
    val bad = Seq.newBuilder[String]
    for (((t, o), i) <- rows.zipWithIndex) {
      val r = Extractor.extractTurn(s"c${i % 3}", i, t.orNull, o.orNull)
      val want = Some(Seq(r.text, r.status, r.engine,
        t.fold(0)(_.length) + o.fold(0)(_.length), Option(r.text).fold(0)(_.length)))
      val show = (t.map(_.take(60)), o.map(_.take(60)))
      if (codegen(i) != want) bad += s"codegen on $show: ${codegen(i)}, reference $want"
      if (interpreted(i) != want) bad += s"interpreted on $show: ${interpreted(i)}, reference $want"
      val strictWant = if (t.isEmpty || o.isEmpty) None else want
      if (strict(i) != strictWant) bad += s"NULL-propagating on $show: ${strict(i)}, want $strictWant"
    }
    bad.result()
  }

  // NULL text/tool, bad JSON, every engine, supplementary-plane n_chars
  test("extraction kernel equals Extractor.extractTurn on generated turns") {
    val prop = Prop.forAllNoShrink(turns) { rows =>
      val bad = turnMismatches(rows)
      Prop(bad.isEmpty) :| bad.take(5).mkString("\n")
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(3), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
