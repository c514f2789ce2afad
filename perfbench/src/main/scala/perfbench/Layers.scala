package perfbench

import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions.col

import graft.spark.{ExtractPipeline, Lineage, Transcripts}

import Main.{Ctx, Result, median}

/** The traced run: per-layer metrics for each workload, taken from the
  * benchmark's listeners ([[Tracer]]) and from timing calls into each
  * layer's public functions. Every value is reported under the layer
  * metric's name; `run.py` prints the ones `BENCHMARK.json` lists and keeps
  * the rest in the run record.
  */
object Layers {

  private val MB = (1 << 20).toDouble

  /** Counters, planning records and stage records of one measured window.
    * `sink` holds the sink action's own (analysis, optimizer, planning)
    * seconds, timed in nanoseconds; the listener's millisecond phases of
    * every other action are added to them.
    */
  final case class Window(counters: Map[String, Double], actions: Seq[ActionRec],
      stages: Seq[StageRec], wallS: Double, codegenS: Double,
      sink: (Double, Double, Double) = (0, 0, 0))

  final case class Mark(counters: Map[String, Double], actions: Int, stages: Int)

  def mark(ctx: Ctx): Option[Mark] =
    ctx.tracer.map(t => Mark(t.snapshot(), t.actions.synchronized(t.actions.size),
      t.stages.synchronized(t.stages.size)))

  def window(ctx: Ctx, m: Option[Mark], wallS: Double, codegenS: Double): Window =
    (ctx.tracer, m) match {
      case (Some(t), Some(mk)) =>
        val after = t.snapshot()
        Window(t.delta(mk.counters, after),
          t.actions.synchronized(t.actions.drop(mk.actions).toList),
          t.stages.synchronized(t.stages.drop(mk.stages).toList), wallS, codegenS)
      case _ => Window(Map.empty, Nil, Nil, wallS, codegenS)
    }

  /** Run `body` as a traced window under a span of `kind`. */
  def traced[A](ctx: Ctx, name: String, kind: String = "pass")(body: => A): (A, Window) = {
    val m = mark(ctx)
    val cg0 = CodeGenerator.compileTime
    val t0 = System.nanoTime()
    val a = ctx.span(name, kind)(body)
    val wall = (System.nanoTime() - t0) / 1e9
    (a, window(ctx, m, wall, (CodeGenerator.compileTime - cg0) / 1e9))
  }

  /** Layer values of one window. */
  def values(w: Window): Map[String, Double] = {
    val c = w.counters.withDefaultValue(0.0)
    val (sinks, other) = w.actions.partition(_.func.startsWith(Sink.ActionPrefix))
    // a sink whose caller did not time building its DataFrame keeps the
    // tracker's analysis time
    val analysis = other.map(_.analysisMs).sum / 1e3 +
      (if (w.sink._1 > 0) w.sink._1 else sinks.map(_.analysisMs).sum / 1e3)
    val optimizer = other.map(_.optimizationMs).sum / 1e3 + w.sink._2
    val planning = other.map(_.planningMs).sum / 1e3 + w.sink._3
    val fixed = analysis + optimizer + planning + w.codegenS
    // the post-exchange stage with the most task time sets the skew
    val post = w.stages.filter(_.readsShuffle)
    val skew = if (post.isEmpty) 1.0 else {
      val s = post.maxBy(_.taskSumMs)
      if (s.taskMedianMs > 0) s.taskMaxMs / s.taskMedianMs else 1.0
    }
    Map(
      "scan.mb_read" -> w.actions.map(_.scanBytes).sum / MB,
      "exchange.write_mb" -> c("shuffle_write_bytes") / MB,
      "exchange.write_s" -> c("shuffle_write_ns") / 1e9,
      "exchange.read_mb" -> c("shuffle_read_bytes") / MB,
      "exchange.fetch_wait_s" -> c("fetch_wait_ms") / 1e3,
      "exchange.task_skew" -> skew,
      "jvm.gc_s" -> c("gc_ms") / 1e3,
      "spill_mb" -> c("spill_disk_bytes") / MB,
      "sched.tasks" -> c("tasks"),
      "exec.jobs" -> c("jobs"),
      "exec.stages" -> c("stages"),
      "exec.exchanges" -> w.actions.map(_.exchanges).sum.toDouble,
      "plan.nested_loop_joins" -> w.actions.map(_.nestedLoopJoins).sum.toDouble,
      "plan.analysis_s" -> analysis,
      "plan.optimizer_s" -> optimizer,
      "plan.planning_s" -> planning,
      "codegen.compile_s" -> w.codegenS,
      "exec.s" -> math.max(0.0, w.wallS - fixed),
      "wall_s" -> w.wallS,
      "output_records" -> c("output_records"))
  }

  /** Median over windows of each layer value. */
  def medianValues(ws: Seq[Window]): Map[String, Double] = {
    val vs = ws.map(values)
    vs.head.keys.map(k => k -> median(vs.map(_(k)))).toMap
  }

  private val units: Map[String, String] = Map(
    "scan.mb_read" -> "MB", "exchange.write_mb" -> "MB", "exchange.read_mb" -> "MB", "spill_mb" -> "MB",
    "lineage.mb_written" -> "MB", "exchange.task_skew" -> "ratio", "plan.fixed_share" -> "ratio",
    "core.done_share" -> "ratio", "core.error_share" -> "ratio", "trace.overhead_share" -> "ratio",
    "sched.scale_eff_1_to_4" -> "ratio", "core.bytes_in_per_turn" -> "B", "core.bytes_out_per_turn" -> "B")

  def unitOf(k: String): String =
    units.getOrElse(k,
      if (k.endsWith("_us") || k.endsWith("_us_per_turn")) "us"
      else if (k.endsWith("_s") || k == "exec.s") "s"
      else "count")

  private def putAll(res: Result, m: Map[String, Double]): Unit =
    m.toSeq.sortBy(_._1).foreach { case (k, v) => if (k != "wall_s") res.put(k, v, unitOf(k)) }

  private def withFixedShare(m: Map[String, Double]): Map[String, Double] = {
    val fixed = m("plan.analysis_s") + m("plan.optimizer_s") + m("plan.planning_s") + m("codegen.compile_s")
    m + ("plan.fixed_share" -> (if (m("wall_s") > 0) fixed / m("wall_s") else 0.0))
  }

  /** Kernel micro-loop metrics over `turns`, with status shares; one span
    * per timed function under a "kernel micro-loop" span.
    */
  private def kernel(ctx: Ctx, turns: Seq[Gen.Turn]): Map[String, Double] = {
    val (k, totals) = ctx.span("kernel micro-loop", "kernel")(Extract.kernelLoop(turns, 3))
    for (t <- ctx.tracer; loop <- t.lastClosed) {
      var at = loop.startNs
      totals.toSeq.sortBy(_._1).foreach { case (fn, ns) =>
        t.add(Span(t.newId(), loop.id, fn, "kernel", at, at + ns, Map("turns" -> turns.size.toDouble)))
        at += ns
      }
    }
    val all = Seq("model.parse_us", "core.payload_us", "core.chain_us", "core.tesseract_us",
      "core.sandwich_us", "core.kernel_us", "core.bytes_in_per_turn", "core.bytes_out_per_turn",
      "core.done_share", "core.error_share")
    all.map(n => n -> k.getOrElse(n, 0.0)).toMap
  }

  /** A seeded sample of a corpus's own turns. */
  def sample(corpus: Gen.Corpus, seed: Long, n: Int): Seq[Gen.Turn] = {
    val r = Gen.rng(seed, 99, 0)
    Seq.fill(n)(r.int(corpus.nConv).toLong).distinct.flatMap(c => corpus.turnsOf(c).take(1 + r.int(3)))
  }

  /** Untraced and traced passes, alternating, over the run's seconds;
    * returns each traced pass's window and value, and puts
    * `trace.overhead_share`. `check` runs after each pass, outside its
    * window and untimed.
    */
  private def passPair[A](ctx: Ctx, res: Result, label: String)(pass: Int => A)(
      check: (Int, A) => Unit): Seq[(Window, A)] = {
    val t = ctx.tracer.get
    val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
    val windows = scala.collection.mutable.ArrayBuffer.empty[(Window, A)]
    def tracedPass(i: Int): Unit = {
      val (a, w) = traced(ctx, s"$label pass $i")(pass(i))
      windows += w -> a
      ctx.span(s"$label check $i", "check")(check(i, a))
    }
    Extract.loop(ctx.args.seconds) { i =>
      if (i % 2 == 0) {
        t.uninstall()
        val t0 = System.nanoTime()
        val a = pass(i)
        plain += (System.nanoTime() - t0) / 1e9
        check(i, a)
        t.install()
      } else tracedPass(i)
    }
    if (windows.isEmpty) tracedPass(plain.size)
    res.put("trace.overhead_share", median(windows.map(_._1.wallS).toSeq) / median(plain.toSeq) - 1, "ratio")
    windows.toSeq
  }

  /** Scan floor: the corpus columns the kernel reads, scanned and sunk with
    * no kernel and no exchange (median of two).
    */
  private def scanFloor(ctx: Ctx, res: Result, dir: String): Unit =
    res.put("scan.floor_s", median((1 to 2).map { i =>
      traced(ctx, s"scan floor $i")(Sink.run(
        ctx.spark.read.parquet(dir).select("conv_id", "turn_idx", "text", "tool"), "scan floor"))._2.wallS
    }), "s")

  // -------------------------------------------------------------- workloads

  def extractMixed(ctx: Ctx, res: Result, corpus: Gen.Corpus, dir: String, exp: Extract.Expected): Unit = {
    val spark = ctx.spark
    val runs = passPair(ctx, res, "extract_mixed") { i =>
      Extract.timed(Extract.extractPass(ctx, dir, s"extract_mixed pass $i"))
    } { (i, p) =>
      Extract.check(ctx, res, corpus, exp, p.value,
        ExtractPipeline.extract(spark, spark.read.parquet(dir)).toDF(), s"traced-run pass $i")
    }
    val layer = withFixedShare(medianValues(runs.map { case (w, p) => w.copy(sink = p.value.phases) }))
    val k = kernel(ctx, sample(corpus, ctx.seed, 400)) ++ Map(
      "core.done_share" -> exp.done.toDouble / exp.rows, "core.error_share" -> exp.error.toDouble / exp.rows)
    putAll(res, layer ++ k)
    res.put("spark.overhead_us_per_turn",
      median(runs.map(_._2.cpuS)) * 1e6 / corpus.turns - k("core.kernel_us"), "us")

    scanFloor(ctx, res, dir)

    // N -> 4N: one slice on one task against the same slice on every core
    val files = new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted
    val slice = files.take(math.max(1, files.length / 2))
    def slicePass(parts: Int) = traced(ctx, s"slice on $parts partitions") {
      val in = spark.read.parquet(slice.toIndexedSeq: _*)
      Sink.run(ExtractPipeline.extract(spark, if (parts == 1) in.coalesce(1) else in, parts).toDF(),
        s"slice $parts")
    }._2.wallS
    val one = median((1 to 2).map(_ => slicePass(1)))
    val many = median((1 to 2).map(_ => slicePass(ctx.cores * 4)))
    res.put("sched.scale_eff_1_to_4", one / many / ctx.cores, "ratio")
  }

  def commitLong(ctx: Ctx, res: Result, corpus: Gen.Corpus, dir: String, exp: Extract.Expected): Unit = {
    val runs = passPair(ctx, res, "commit_long") { i =>
      val out = ctx.work(s"commit/pass-$i")
      out -> Extract.timed(Extract.commitPass(ctx, dir, out))
    } { case (_, (out, p)) =>
      Extract.checkCommit(ctx, res, corpus, exp, out, p.value.before)
      Main.deleteTree(out)
    }
    val lineage = runs.map { case (_, (_, p)) =>
      val c = p.value
      // the data write and the lineage append are commands; the lineage
      // reads and the per-bucket stats readback are collects
      Map(
        "lineage.write_s" -> c.commit.actions.filterNot(_.func == "collect").map(_.durationMs).sum / 1e3,
        "lineage.stats_s" -> c.commit.actions.filter(_.func == "collect").map(_.durationMs).sum / 1e3,
        "lineage.resume_s" -> c.resume.wallS,
        "lineage.resume_rows_written" -> c.resume.counters.getOrElse("output_records", 0.0),
        "lineage.mb_written" -> c.before.values.map(_._1).sum / MB,
        "lineage.files" -> c.before.keys.count(_.endsWith(".parquet")).toDouble)
    }
    val layer = withFixedShare(medianValues(runs.map(_._1)))
    val k = kernel(ctx, sample(corpus, ctx.seed, 40)) ++ Map(
      "core.done_share" -> exp.done.toDouble / exp.rows, "core.error_share" -> exp.error.toDouble / exp.rows)
    putAll(res, layer ++ k)
    putAll(res, lineage.head.keys.map(n => n -> median(lineage.map(_(n)))).toMap)
    if (lineage.exists(_("lineage.resume_rows_written") != 0))
      res.fail(1, "resume wrote rows")
    res.put("spark.overhead_us_per_turn",
      median(runs.map(_._2._2.cpuS)) * 1e6 / corpus.turns - k("core.kernel_us"), "us")
    scanFloor(ctx, res, dir)
  }

  def suite(ctx: Ctx, res: Result, reps: Map[String, Seq[Suite.Rep]],
      grouped: Seq[(String, Double)], dir: String): Unit = {
    // per query: median of each layer value over its repetitions
    val perQuery = reps.map { case (q, rs) => q -> medianValues(rs.map(_.layer)) }
    val keys = perQuery.head._2.keys
    // times and counts add up over the suite; the skew ratio is the worst query's
    val summed = keys.map(k => k -> perQuery.values.map(_(k)).sum).toMap +
      ("exchange.task_skew" -> perQuery.values.map(_("exchange.task_skew")).max)
    putAll(res, withFixedShare(summed))
    grouped.foreach { case (g, s) => res.put(s"suite.${g}_s", s, "s") }

    // the plan / codegen / exec split of each query, slowest first
    def split(m: Map[String, Double]) =
      s"""{"wall_s":${Json.num(m("wall_s"))},"plan_s":${Json.num(m("plan.analysis_s") + m("plan.optimizer_s") +
        m("plan.planning_s"))},"codegen_s":${Json.num(m("codegen.compile_s"))},"exec_s":${Json.num(m("exec.s"))},""" +
        s""""jobs":${Json.num(m("exec.jobs"))},"exchanges":${Json.num(m("exec.exchanges"))}}"""
    val slowest = perQuery.toSeq.sortBy(-_._2("wall_s"))
    res.note("query_split", slowest.map { case (q, m) => s"${Json.str(q)}:${split(m)}" }.mkString("{", ",", "}"))
    res.note("slowest", slowest.take(5).map(q => Json.str(q._1)).mkString("[", ",", "]"))

    // kernel micro-loop over the suite's own transcripts (derived from the
    // generated documents the extraction queries read)
    val turns = Transcripts.fromDocuments(ctx.spark, dir).select("conv_id", "turn_idx", "text", "tool")
      .orderBy(col("conv_id"), col("turn_idx")).collect()
      .map(r => Gen.Turn(r.getString(0), r.getInt(1), "", r.getString(2), r.getString(3), null))
      .zipWithIndex.collect { case (t, i) if i % 13 == 0 => t }.toSeq
    putAll(res, kernel(ctx, turns))
    res.put("scan.floor_s", median((1 to 2).map { _ =>
      traced(ctx, "scan floor") {
        Seq("documents", "embeddings", "events").foreach(t =>
          Sink.run(ctx.spark.read.parquet(s"$dir/$t.parquet"), s"scan $t"))
      }._2.wallS
    }), "s")
  }
}
