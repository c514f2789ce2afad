package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.core.{Engines, Extractor, Preprocessors}
import graft.model.{Engine, RequestJson}
import graft.spark.{ExtractPipeline, Lineage}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.types.{IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import Main.{Ctx, Result, median, percentile}

/** The two extraction workloads.
  *
  *   - extract_mixed: short turns in the fixture payload mix; each pass is
  *     parquet scan -> `ExtractPipeline.extract` -> sink.
  *   - commit_long: fewer, long turns (tens of KB, plus a tail above
  *     `ExtractPipeline.heavyThreshold`); each pass commits the turns with
  *     `Lineage.run` into a fresh directory and calls it once more to resume,
  *     which must write nothing.
  *
  * Correctness: per-turn (text, status, engine) equality against
  * `Extractor.extractTurn` run outside Spark on the same generated rows,
  * compared as a hash sum and, on a mismatch, per turn.
  */
object Extract {

  val CheckCols: Seq[String] = Seq("conv_id", "turn_idx", "text", "status", "engine")
  private val checkTypes = Seq(StringType, IntegerType, StringType, StringType, StringType).map(t => (t, true))

  /** Turns per conversation in both corpora. */
  val TurnsPerConv = 20

  /** extract_mixed: 75k short turns per core (300k at nproc = 4). A pass
    * over 250k per core takes about 5.4 s on 4 cores; with the warmup, a run
    * then no longer fits the benchmark's total time budget.
    */
  def mixedCorpus(seed: Long, cores: Int): Gen.Corpus =
    Gen.Corpus(seed, 11, 3750 * cores, TurnsPerConv, (_, _, _) => 0)

  /** commit_long: 320 long turns per core with bodies of 8-40 KB; the first
    * turn of every 16th conversation carries a body of about 1.2 MB, above
    * the 1 MiB heavy threshold. At half this size the fixed cost of a
    * pass's jobs and file commits was most of the pass, and pass times
    * spread from run to run by a half more than they do at this size.
    */
  def longCorpus(seed: Long, cores: Int): Gen.Corpus =
    Gen.Corpus(seed, 12, 16 * cores, TurnsPerConv, (c, t, r) =>
      if (t == 0 && c % 16 == 5) 1200000 + r.int(100000) else 8000 + r.int(32000))

  /** Expected output: rows, hash sum, status counts, input characters. */
  final case class Expected(rows: Long, hash: Long, done: Long, error: Long, chars: Long)

  private def expectedRow(t: Gen.Turn): (InternalRow, String) = {
    val r = Extractor.extractTurn(t.conv_id, t.turn_idx, t.text, t.tool)
    (InternalRow(UTF8String.fromString(t.conv_id), t.turn_idx, UTF8String.fromString(r.text),
      UTF8String.fromString(r.status), UTF8String.fromString(r.engine)), r.status)
  }

  /** Run `f` over the corpus's conversations on `cores` plain threads. */
  private def overConvs[A](corpus: Gen.Corpus, cores: Int)(f: Int => Iterator[Long] => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(cores)
    try {
      val tasks = (0 until cores).map { k =>
        pool.submit(new Callable[A] {
          def call(): A = f(k)(Iterator.range(k, corpus.nConv, cores).map(_.toLong))
        })
      }
      tasks.map(_.get())
    } finally pool.shutdown()
  }

  /** Expected output of the whole corpus, computed outside Spark. */
  def expected(corpus: Gen.Corpus, cores: Int): Expected = {
    val parts = overConvs(corpus, cores) { _ => convs =>
      val h = Sink.hasher(checkTypes, checkTypes.indices)
      var n, sum, done, error, chars = 0L
      for (c <- convs; t <- corpus.turnsOf(c)) {
        val (row, status) = expectedRow(t)
        sum += h(row)
        n += 1
        chars += t.text.length + t.tool.length
        if (status == "done") done += 1 else if (status == "error") error += 1
      }
      Expected(n, sum, done, error, chars)
    }
    Expected(parts.map(_.rows).sum, parts.map(_.hash).sum, parts.map(_.done).sum, parts.map(_.error).sum,
      parts.map(_.chars).sum)
  }

  /** Number of turns whose (text, status, engine) differ from the expected
    * output, plus missing and extra turns.
    */
  def mismatchedTurns(ctx: Ctx, corpus: Gen.Corpus, got: Map[String, Long]): Long = {
    val parts = overConvs(corpus, ctx.cores) { _ => convs =>
      // `got` hashes (text, status, engine) per key, as Sink.keyed does
      val h = Sink.hasher(checkTypes, Seq(2, 3, 4))
      var bad = 0L
      var seen = 0L
      for (c <- convs; t <- corpus.turnsOf(c)) {
        val key = s"${t.conv_id}#${t.turn_idx}"
        if (got.get(key).forall(_ != h(expectedRow(t)._1))) bad += 1
        if (got.contains(key)) seen += 1
      }
      (bad, seen)
    }
    parts.map(_._1).sum + (got.size - parts.map(_._2).sum)
  }

  /** Materialize the corpus `reps` times; returns the median seconds. */
  def materialize(ctx: Ctx, corpus: Gen.Corpus, dir: String, reps: Int): Double =
    median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Gen.writeCorpus(ctx.spark, corpus, dir, ctx.cores * 4)
      (System.nanoTime() - t0) / 1e9
    })

  /** One extraction pass; building the DataFrame is its analysis time. */
  def extractPass(ctx: Ctx, dir: String, label: String): Sink.Out = {
    val t0 = System.nanoTime()
    val df = ExtractPipeline.extract(ctx.spark, ctx.spark.read.parquet(dir)).toDF()
    val analysisS = (System.nanoTime() - t0) / 1e9
    Sink.run(df, label, CheckCols).copy(analysisS = analysisS)
  }

  /** Closed loop: run `pass` until `seconds` have elapsed and at least
    * `minPasses` passes ran, so every median has that many samples;
    * `seconds` 0 runs exactly one pass (the untimed correctness run).
    */
  def loop[A](seconds: Double, minPasses: Int = 2)(pass: Int => A): Seq[A] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[A]
    val least = if (seconds > 0) minPasses else 1
    var i = 0
    while (i < least || (System.nanoTime() - t0) / 1e9 < seconds) {
      out += pass(i)
      i += 1
    }
    out.result()
  }

  /** Wall, process CPU and codegen compile seconds of one call. */
  final case class Timed[A](wallS: Double, cpuS: Double, value: A, codegenS: Double)

  def timed[A](body: => A): Timed[A] = {
    val c0 = Main.cpuNs()
    val g0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    val v = body
    Timed((System.nanoTime() - t0) / 1e9, (Main.cpuNs() - c0) / 1e9, v,
      (CodeGenerator.compileTime - g0) / 1e9)
  }

  /** Count a pass's output against the expected output. */
  def check(ctx: Ctx, res: Result, corpus: Gen.Corpus, exp: Expected, out: Sink.Out,
      diag: => org.apache.spark.sql.DataFrame, what: String): Unit = {
    res.attempted += corpus.turns
    if (out.rows != exp.rows || out.checkHash != exp.hash) {
      val bad = mismatchedTurns(ctx, corpus, Sink.keyed(diag, Seq("conv_id", "turn_idx"), CheckCols.drop(2)))
      res.fail(math.max(bad, 1), s"$what: ${out.rows} rows, $bad turns differ from Extractor.extractTurn")
    }
  }

  /** A timed pass that throws fails all its turns and is left out of the
    * timings.
    */
  def attempt[A](res: Result, turns: Long, what: String)(body: => A): Option[A] =
    try Some(body)
    catch {
      case NonFatal(e) =>
        res.attempted += turns
        res.fail(turns, s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        None
    }

  /** The end-to-end metrics shared by both extraction workloads, over the
    * passes that did not throw.
    */
  private def passMetrics(res: Result, turns: Long, passes: Seq[Timed[_]]): Unit = {
    val walls = passes.map(_.wallS)
    val p50 = median(walls)
    res.put("turns_per_s", turns / p50, "turns/s")
    val cpu = median(passes.map(_.cpuS))
    res.put("cpu_us_per_turn", cpu * 1e6 / turns, "us")
    res.put("pass_s", p50, "s")
    res.put("cpu_s_per_pass", cpu, "s")
    res.put("pass_p90_s", percentile(walls, 0.9), "s")
    res.put("passes", passes.size, "count")
    res.note("pass_walls", walls.map(Json.num).mkString("[", ",", "]"))
    res.note("pass_cpu_s", passes.map(p => Json.num(p.cpuS)).mkString("[", ",", "]"))
  }

  // ------------------------------------------------------------ extract_mixed

  def mixed(ctx: Ctx): Result = {
    val res = new Result
    val corpus = mixedCorpus(ctx.seed, ctx.cores)
    val dir = ctx.work("corpus")
    val genS = materialize(ctx, corpus, dir, 2)
    // two warmup passes: after one, the timed passes were still speeding up
    // as the JIT compiled the kernel and the generated stage code
    val warm = timed((0 until 2).map(i => extractPass(ctx, dir, s"extract_mixed warmup $i")))
    val setupS = ctx.sessionS + genS + warm.wallS
    val exp = timed(expected(corpus, ctx.cores))
    setupNote(res, ctx, genS, warm, exp.wallS)
    warm.value.foreach(check(ctx, res, corpus, exp.value, _, extractDiag(ctx, dir), "warmup pass"))
    res.note("corpus", s"""{"turns":${corpus.turns},"parquet_mb":${Json.num(dirMb(dir))},""" +
      s""""payload_mchars":${Json.num(exp.value.chars / 1e6)}}""")

    if (ctx.tracer.isEmpty) {
      val passes = loop(ctx.args.seconds) { i =>
        attempt(res, corpus.turns, s"pass $i")(timed(extractPass(ctx, dir, s"extract_mixed pass $i")))
      }.flatten
      passes.foreach(p => check(ctx, res, corpus, exp.value, p.value, extractDiag(ctx, dir), "pass"))
      res.put("setup_s", setupS, "s")
      passMetrics(res, corpus.turns, passes)
      res.put("retained_heap_mb", Main.retainedHeapMb(), "MB")
    } else Layers.extractMixed(ctx, res, corpus, dir, exp.value)
    res
  }

  /** Where set-up time went, and the untimed expected-output computation. */
  def setupNote(res: Result, ctx: Ctx, genS: Double, warm: Timed[_], expectedS: Double): Unit = {
    res.note("setup", s"""{"session_s":${Json.num(ctx.sessionS)},"generate_s":${Json.num(genS)},""" +
      s""""warmup_s":${Json.num(warm.wallS)},"expected_s":${Json.num(expectedS)}}""")
    // the first execution compiles every plan; later passes reuse the classes
    res.put("codegen.first_compile_s", warm.codegenS, "s")
  }

  private def extractDiag(ctx: Ctx, dir: String) =
    ExtractPipeline.extract(ctx.spark, ctx.spark.read.parquet(dir)).toDF()

  def dirMb(dir: String): Double =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size(_).toDouble).sum / (1 << 20)

  def dirListing(dir: String): Map[String, (Long, Long)] =
    Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis))).toMap

  // -------------------------------------------------------------- commit_long

  val NumBuckets = 8

  /** One commit and its resume: the committed directory's files before the
    * resume, and the commit's and the resume's windows (listener counters
    * and actions when tracing).
    */
  final case class Commit(before: Map[String, (Long, Long)], commit: Layers.Window, resume: Layers.Window)

  /** One commit + resume into a fresh directory. */
  def commitPass(ctx: Ctx, corpusDir: String, out: String): Commit = {
    val (_, commit) = Layers.traced(ctx, "commit", "lineage") {
      Lineage.run(ctx.spark, ctx.spark.read.parquet(corpusDir), out, NumBuckets)
    }
    val before = dirListing(out)
    val (_, resume) = Layers.traced(ctx, "resume", "lineage") {
      Lineage.run(ctx.spark, ctx.spark.read.parquet(corpusDir), out, NumBuckets)
    }
    Commit(before, commit, resume)
  }

  /** Untimed checks of one committed directory: readback equality, one
    * lineage row per bucket, and a resume that changed no file.
    */
  def checkCommit(ctx: Ctx, res: Result, corpus: Gen.Corpus, exp: Expected, out: String,
      before: Map[String, (Long, Long)]): Unit = {
    val spark = ctx.spark
    check(ctx, res, corpus, exp, Sink.run(Lineage.readOutput(spark, out), "commit_long readback", CheckCols),
      Lineage.readOutput(spark, out), "committed output")
    val lineage = Lineage.readLineage(spark, out).collect()
    val buckets = lineage.map(_.getAs[Long]("bucket")).toSet
    val rows = lineage.map(_.getAs[Long]("n_rows")).sum
    if (lineage.length != NumBuckets || buckets != (0L until NumBuckets).toSet || rows != corpus.turns)
      res.fail(1, s"lineage: ${lineage.length} rows over ${buckets.size} buckets, $rows turns recorded")
    if (dirListing(out) != before) res.fail(1, "resume rewrote committed files")
  }

  def commitLong(ctx: Ctx): Result = {
    val res = new Result
    val corpus = longCorpus(ctx.seed, ctx.cores)
    val dir = ctx.work("corpus")
    val genS = materialize(ctx, corpus, dir, 2)
    // three warmup passes: after one, the timed passes still sped up by a
    // quarter over the next three as the JIT compiled the commit path
    val warm = timed((0 until 3).map(i => commitPass(ctx, dir, ctx.work(s"commit/warmup-$i"))))
    val setupS = ctx.sessionS + genS + warm.wallS
    val exp = timed(expected(corpus, ctx.cores))
    setupNote(res, ctx, genS, warm, exp.wallS)
    warm.value.zipWithIndex.foreach { case (w, i) =>
      checkCommit(ctx, res, corpus, exp.value, ctx.work(s"commit/warmup-$i"), w.before)
      Main.deleteTree(ctx.work(s"commit/warmup-$i"))
    }
    res.note("corpus", s"""{"turns":${corpus.turns},"parquet_mb":${Json.num(dirMb(dir))},""" +
      s""""payload_mchars":${Json.num(exp.value.chars / 1e6)},""" +
      s""""heavy_turns":${(0 until corpus.nConv).count(_ % 16 == 5)}}""")

    if (ctx.tracer.isEmpty) {
      val passes = loop(ctx.args.seconds) { i =>
        val out = ctx.work(s"commit/pass-$i")
        val p = attempt(res, corpus.turns, s"pass $i")(timed(commitPass(ctx, dir, out)))
        p.foreach(p => checkCommit(ctx, res, corpus, exp.value, out, p.value.before))
        Main.deleteTree(out)
        p
      }.flatten
      res.put("setup_s", setupS, "s")
      passMetrics(res, corpus.turns, passes)
      res.put("retained_heap_mb", Main.retainedHeapMb(), "MB")
    } else Layers.commitLong(ctx, res, corpus, dir, exp.value)
    res
  }

  // ------------------------------------------------------ kernel micro-loop

  private def utf8Len(s: String): Long =
    if (s == null) 0 else s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong

  /** Per-function mean microseconds over a sample of the workload's own
    * turns, median over `reps` loops, keyed by layer metric name; and each
    * function's total nanoseconds in the last loop.
    */
  def kernelLoop(turns: Seq[Gen.Turn], reps: Int): (Map[String, Double], Map[String, Long]) = {
    val runs = (1 to reps).map { _ =>
      val ns = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      val n = scala.collection.mutable.HashMap.empty[String, Long].withDefaultValue(0L)
      def time[A](k: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val a = f
        ns(k) += System.nanoTime() - t0
        n(k) += 1
        a
      }
      var bytesIn, bytesOut, done, error = 0L
      for (t <- turns) {
        val id = s"${t.conv_id}#${t.turn_idx}"
        val r = time("core.kernel_us")(Extractor.extractTurn(t.conv_id, t.turn_idx, t.text, t.tool))
        bytesIn += utf8Len(t.text) + utf8Len(t.tool)
        bytesOut += utf8Len(r.text)
        if (r.status == "done") done += 1 else if (r.status == "error") error += 1
        time("model.parse_us")(RequestJson.parse(id, t.tool)).foreach { req =>
          time("core.payload_us")(Extractor.acquirePayload(req, t.text)).foreach { payload =>
            time("core.chain_us")(Preprocessors.runChain(req, payload)).foreach { chained =>
              req.engine match {
                case Engine.Tesseract => time("core.tesseract_us")(Engines.tesseract(chained, req.engineArgs))
                case Engine.Sandwich => time("core.sandwich_us")(Engines.sandwich(chained, req.engineArgs,
                  Extractor.clampTimeout(req.timeOut), Engines.CoreConfig()))
                case _ => ()
              }
            }
          }
        }
      }
      (ns.map { case (k, v) => k -> v / 1e3 / n(k) }.toMap ++ Map(
        "core.bytes_in_per_turn" -> bytesIn.toDouble / turns.size,
        "core.bytes_out_per_turn" -> bytesOut.toDouble / turns.size,
        "core.done_share" -> done.toDouble / turns.size,
        "core.error_share" -> error.toDouble / turns.size), ns.toMap)
    }
    val means = runs.map(_._1)
    (means.flatMap(_.keys).distinct.map(k => k -> median(means.flatMap(_.get(k)))).toMap, runs.last._2)
  }
}
