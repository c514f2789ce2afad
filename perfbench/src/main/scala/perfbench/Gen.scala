package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Every value is a pure function of
  * (seed, stream, index), so the same seed gives the same rows no matter how
  * the work is split across tasks or threads, and the expected outputs can be
  * recomputed outside Spark from the same rows.
  *
  * Tables (schemas follow the sf-style tables the operator queries read):
  *   - `documents(doc_id, text, lang, source, n_chars)`: 10-99 words from a
  *     31-word vocabulary, 5% near-duplicates ("<earlier doc> dup");
  *   - `embeddings(vec_id, embedding array<float>[64], label)`: unit-norm
  *     gaussian vectors, 10 labels;
  *   - `events(event_id, ts, user_id, event_type, value, props)`: a
  *     time-ordered stream with exponential gaps (mean 26 s);
  *   - transcripts `(conv_id, turn_idx, role, text, tool, ts)` for the
  *     extraction workloads, in the payload-class mix of the transcript
  *     fixtures: 40% HTML/tesseract (one in four with psm 0, an error by
  *     contract), 20% mock, 10% plain, 20% base64 PDF/TIFF for sandwich,
  *     10% undecodable payloads (an error by contract).
  */
object Gen {

  val Vocab: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")
  val Langs: Array[String] = Array("zh", "es", "fr", "de")
  val EventTypes: Array[String] = Array("click", "view", "signup", "error", "purchase")

  /** SplitMix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  final class Rng(private var state: Long) {
    def long(): Long = { state += 0x9E3779B97F4A7C15L; mix(state) }
    def int(n: Int): Int = java.lang.Long.remainderUnsigned(long(), n.toLong).toInt
    def double(): Double = (long() >>> 11) * (1.0 / (1L << 53))
    def gaussian(): Double = {
      val u = math.max(double(), 1e-300)
      math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * double())
    }
  }

  def rng(seed: Long, stream: Long, index: Long): Rng =
    new Rng(mix(mix(seed) ^ (stream * 0x632BE59BD9B4E019L)) ^ mix(index))

  def words(r: Rng, n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(Vocab(r.int(Vocab.length)))
      i += 1
    }
    sb.toString
  }

  // ------------------------------------------------------------ sf tables

  def documents(seed: Long, n: Int): IndexedSeq[(Long, String, String, String, Long)] = {
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val r = rng(seed, 1, i)
      val text =
        if (i > 10 && r.double() < 0.05) texts(r.int(i)) + " dup"
        else words(r, 10 + r.int(90))
      texts(i) = text
      val lang = if (r.double() < 0.41) "en" else Langs(r.int(Langs.length))
      (i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
    }
  }

  def embeddings(seed: Long, n: Int, dim: Int = 64): IndexedSeq[Row] =
    (0 until n).map { i =>
      val r = rng(seed, 2, i)
      val v = Array.fill(dim)(r.gaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.int(10))
    }

  val embeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def events(seed: Long, n: Int): IndexedSeq[(Long, java.sql.Timestamp, Long, String, Double, String)] = {
    // 2024-01-01T00:00:00Z in microseconds
    var tsMicros = 1704067200L * 1000000L
    (0 until n).map { i =>
      val r = rng(seed, 3, i)
      tsMicros += (-math.log(math.max(r.double(), 1e-12)) * 25.9e6).toLong
      val ts = new java.sql.Timestamp(tsMicros / 1000)
      ts.setNanos(((tsMicros % 1000000L) * 1000L).toInt)
      val value = math.round(-math.log(math.max(r.double(), 1e-12)) * 50.0 * 100.0) / 100.0
      (i.toLong, ts, r.int(1500).toLong, EventTypes(r.int(EventTypes.length)), value,
        s"""{"k": ${r.int(100)}}""")
    }
  }

  /** Write the three sf-style tables the operator queries read, each as
    * one parquet file `<dir>/<table>.parquet` (the layout the oracle check
    * reads).
    */
  def writeSfTables(spark: SparkSession, seed: Long, dir: String,
      nDocs: Int = 5000, nVecs: Int = 2000, nEvents: Int = 100000): Unit = {
    import spark.implicits._
    def single(df: org.apache.spark.sql.DataFrame, table: String): Unit = {
      val tmp = s"$dir/_$table"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, s"$table.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Main.deleteTree(tmp)
    }
    single(documents(seed, nDocs).toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")
    single(spark.createDataFrame(spark.sparkContext.parallelize(embeddings(seed, nVecs), 1),
      embeddingSchema), "embeddings")
    single(events(seed, nEvents).toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      "events")
  }

  // ---------------------------------------------------------- transcripts

  final case class Turn(conv_id: String, turn_idx: Int, role: String, text: String,
      tool: String, ts: java.sql.Timestamp)

  private def b64(s: String): String = Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  /** A one-stream PDF carrying `text` (escaped literal string in one Tj). */
  def pdf(text: String): String = {
    val esc = text.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")
    val stream = s"BT /F1 12 Tf 72 720 Td ($esc) Tj ET"
    s"%PDF-1.4\n1 0 obj << /Length ${stream.length} >> stream\n$stream\nendstream\n%%EOF\n"
  }

  def html(paragraphs: Seq[String]): String =
    "<html><head><title>Doc</title></head><body>" +
      "<nav>Home | <a href=\"/about\">About</a></nav><div id=\"main\">" +
      paragraphs.map(p => s"<p>$p</p>").mkString +
      "</div><footer>(c) 2026 corpus</footer></body></html>"

  /** Payload body size in characters for turn (conv, turn); 0 = one
    * paragraph of 10-99 words.
    */
  type BodyChars = (Long, Int, Rng) => Int

  /** Turn `t` of conversation `c`. The body concatenates seeded paragraphs
    * of 10-99 words until it reaches `bodyChars` characters.
    */
  def turn(seed: Long, stream: Long, c: Long, t: Int, bodyChars: BodyChars): Turn = {
    val r = rng(seed, stream, c * 4096 + t)
    val target = bodyChars(c, t, r)
    val paras = Seq.newBuilder[String]
    var len = 0
    do {
      val p = words(r, 10 + r.int(90))
      paras += p
      len += p.length + 7
    } while (len < target)
    val ps = paras.result()
    val body = ps.mkString(" ")
    // exact class mix: classes cycle along the turns of a conversation, and
    // the seed shifts where each conversation starts
    val cls = java.lang.Long.remainderUnsigned(mix(seed ^ stream) + c * 7 + t, 10L).toInt
    val (text, tool) = cls match {
      case 0 => (html(ps), """{"engine":"tesseract"}""")
      case 1 => (html(ps), """{"engine":"tesseract","engine_args":{"psm":"6","lang":"eng"}}""")
      case 2 => (html(ps),
        """{"engine":"tesseract","preprocessors":["stroke-width-transform"],"preprocessor-args":{"stroke-width-transform":"0"}}""")
      case 3 => (html(ps), """{"engine":"tesseract","engine_args":{"psm":"0"}}""")
      case 4 => (body, """{"engine":"mock"}""")
      case 5 => (body, """{"engine":3,"doc_type":"standard","time_out":60}""")
      case 6 => (body, "")
      case 7 => (body, s"""{"engine":"sandwich","img_base64":"${b64(pdf(body))}","engine_args":{"ocr_type":"txt"}}""")
      case 8 => (body, s"""{"engine":"SANDWICH","img_base64":"${b64("II*\u0000" + body)}","engine_args":{"ocr_type":"TXT","lang":"deu"}}""")
      case _ => (body, s"""{"engine":"sandwich","img_base64":"${b64("garbage:" + body)}","engine_args":{"ocr_type":"txt"}}""")
    }
    val role = (c + t) % 3 match { case 0 => "user"; case 1 => "assistant"; case _ => "tool" }
    Turn(f"conv-$c%07d", t, role, text, tool,
      new java.sql.Timestamp(1704067200000L + (c * 4096 + t) * 1000L))
  }

  /** A transcript corpus: `nConv` conversations of `turnsPerConv` turns. */
  final case class Corpus(seed: Long, stream: Long, nConv: Int, turnsPerConv: Int,
      bodyChars: BodyChars) {
    def turns: Long = nConv.toLong * turnsPerConv
    def turnsOf(c: Long): Iterator[Turn] =
      Iterator.range(0, turnsPerConv).map(t => turn(seed, stream, c, t, bodyChars))
  }

  /** Write `corpus` as `files` parquet files, generated in parallel. */
  def writeCorpus(spark: SparkSession, corpus: Corpus, dir: String, files: Int): Unit = {
    import spark.implicits._
    val cp = corpus
    spark.range(0L, corpus.nConv.toLong, 1L, files)
      .as[Long]
      .flatMap(c => cp.turnsOf(c))
      .write.mode("overwrite").parquet(dir)
  }
}
