package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.SparkEntry
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec}
import org.apache.spark.sql.util.QueryExecutionListener

import Main.{Ctx, Result, median, percentile}

/** operator_suite: `SparkEntry.queries` over the seeded sf-style tables, one
  * query at a time, each through [[Sink]]. The warmup pass writes every
  * result to parquet for the DuckDB oracle check that `run.py` runs after
  * the JVM exits; every timed repetition must reproduce the row count and
  * hash of the second, sink-based warmup pass.
  */
object Suite {

  /** The queries a run times, each with the module it mostly exercises:
    * one per operator module (the transcript derivation runs inside
    * `sql_extract_text`), chosen to keep an iterative plan (the fixed
    * per-plan cost), the nested-loop-join hazard and the extraction
    * expression in every pass while one pass stays near 5 s on 4 cores.
    * The streaming queries are left out: the program keeps their
    * checkpoints under /dev/shm, outside the run's directory.
    */
  val Queries: ListMap[String, String] = ListMap(
    "ann_pq_topk" -> "Similarity",
    "dedup_minhash_lsh" -> "Dedup",
    "sample_stratified" -> "Sampling",
    "sql_extract_text" -> "extract",
    "text_bpe_train" -> "TextAnalysis")

  /** The query in which the sink self-check looks for the extraction
    * expression and the final sort.
    */
  val SelfCheckQuery = "sql_extract_text"

  /** One timed repetition of one query; `layer` holds the traced run's
    * counters for it (empty when tracing is off).
    */
  final case class Rep(wallS: Double, codegenS: Double, out: Sink.Out, layer: Layers.Window)

  def materialize(ctx: Ctx, dir: String, reps: Int): Double =
    median((1 to reps).map { _ =>
      val t0 = System.nanoTime()
      Gen.writeSfTables(ctx.spark, ctx.seed, dir)
      (System.nanoTime() - t0) / 1e9
    })

  /** The sink keeps the extraction expression, the scan of the payload
    * columns and the final sort of `sql_extract_text` (a `count()` would
    * prune all three). The plan checked is the one the sink's own action
    * executed, as a `QueryExecutionListener` receives it.
    */
  def selfCheck(ctx: Ctx, dir: String): Option[String] = {
    val ran = new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]
    val listener = new QueryExecutionListener {
      override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = ran.add(func -> qe)
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ctx.spark.listenerManager.register(listener)
    try {
      Sink.run(SparkEntry.queries(SelfCheckQuery)(ctx.spark, dir), s"$SelfCheckQuery self-check")
      PerfbenchBus.drain(ctx.spark.sparkContext)
    } finally ctx.spark.listenerManager.unregister(listener)
    val plans = ran.asScala.toSeq.collect { case (f, qe) if f.startsWith(Sink.ActionPrefix) => qe.executedPlan }
    val nodes = plans.flatMap(Tracer.planNodes)
    val sorted = nodes.exists(_.isInstanceOf[SortExec])
    val scansText = nodes.collect { case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq }
      .flatten.contains("text")
    val extracts = nodes.exists(_.expressions.exists(_.toString.toLowerCase.contains("extract")))
    if (plans.size == 1 && sorted && scansText && extracts) None
    else Some(s"sink self-check: ${plans.size} sink actions, sort=$sorted scans_text=$scansText " +
      s"extraction=$extracts in ${plans.map(_.toString.toLowerCase).mkString(" | ")}")
  }

  def run(ctx: Ctx): Result = {
    val res = new Result
    val spark = ctx.spark
    val names = Queries.keys.toSeq
    val dir = ctx.work("sf")
    val verify = ctx.work("verify")
    val genS = materialize(ctx, dir, 2)

    // warmup: every query once with its result written for the oracle
    // check, then once more through the sink (after one pass the timed
    // repetitions were still speeding up); the second gives each query's
    // reference row count and hash
    val reference = mutable.LinkedHashMap.empty[String, Sink.Out]
    def warmup(q: String)(body: => Unit): Boolean =
      try { body; true }
      catch {
        case NonFatal(e) =>
          res.attempted += 1
          res.fail(1, s"$q warmup: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          false
      }
    val warm = Extract.timed {
      names
        .filter(q => warmup(q)(SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$verify/$q")))
        .filter(q => warmup(q)(reference(q) = Sink.run(SparkEntry.queries(q)(spark, dir), s"$q warmup")))
    }
    val ok = warm.value
    val setupS = ctx.sessionS + genS + warm.wallS
    Extract.setupNote(res, ctx, genS, warm, 0)
    val oracle = ok.map(q => s"${Json.str(q)}:${Json.str(SparkEntry.oracleSql(q))}").mkString("{", ",", "}")
    Files.writeString(Paths.get(verify, "oracle_sql.json"), oracle)
    selfCheck(ctx, dir).foreach { why => res.correct = false; res.fail(1, why) }

    // timed passes, closed loop, one query at a time. A traced run times
    // each query twice per pass, untraced and traced in alternating order,
    // for the tracing overhead.
    val reps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Rep]]
    val plain = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    def rep(q: String, i: Int, traced: Boolean): Unit = {
      val t = ctx.tracer.filter(_ => !traced)
      t.foreach(_.uninstall())
      res.attempted += 1
      val mark = if (traced) Layers.mark(ctx) else None
      val cg0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      try {
        val out = ctx.span(q, "query")(Sink.run(SparkEntry.queries(q)(spark, dir), q))
        val wall = (System.nanoTime() - t0) / 1e9
        val codegen = (CodeGenerator.compileTime - cg0) / 1e9
        for (t <- ctx.tracer if traced; qs <- t.lastClosed)
          t.add(Span(t.newId(), qs.id, s"$q codegen", "codegen", qs.endNs - (codegen * 1e9).toLong,
            qs.endNs, Map.empty))
        val ref = reference(q)
        if (ref.rows != out.rows || ref.hash != out.hash)
          res.fail(1, s"$q: pass $i returned ${out.rows} rows / hash ${out.hash}, " +
            s"the warmup ${ref.rows} / ${ref.hash}")
        if (traced || ctx.tracer.isEmpty)
          reps.getOrElseUpdate(q, mutable.ArrayBuffer.empty) +=
            Rep(wall, codegen, out, Layers.window(ctx, mark, wall, codegen).copy(sink = out.phases))
        else plain.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += wall
      } catch {
        case NonFatal(e) => res.fail(1, s"$q pass $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      } finally t.foreach(_.install())
    }
    // at least three passes, each with its own CPU time: CPU per pass still
    // falls from pass to pass after the warmup, as the JIT compiles, and the
    // median of three spread half as much from run to run as the mean of two
    val passCpu = Extract.loop(ctx.args.seconds, minPasses = 3) { i =>
      val c0 = Main.cpuNs()
      ctx.span(s"pass $i", "pass") {
        ok.foreach { q =>
          if (ctx.tracer.isEmpty) rep(q, i, traced = true)
          else Seq(i % 2 == 1, i % 2 == 0).foreach(tr => rep(q, i, tr))
        }
      }
      (Main.cpuNs() - c0) / 1e9
    }
    val cpuS = median(passCpu)
    val medians = reps.map { case (q, rs) => q -> median(rs.map(_.wallS).toSeq) }
    val suiteS = if (medians.isEmpty) Double.NaN else medians.values.sum
    res.note("queries", reps.map { case (q, rs) =>
      s"""${Json.str(q)}:{"median_s":${Json.num(medians(q))},"reps":${rs.size},"rows":${rs.head.out.rows},""" +
        s""""group":${Json.str(Queries(q))}}"""
    }.mkString("{", ",", "}"))
    res.note("corpus", """{"documents":5000,"embeddings":2000,"events":100000,""" +
      s""""queries":${names.size},"parquet_mb":${Json.num(Extract.dirMb(dir))}}""")

    val grouped = Queries.toSeq.map { case (q, g) => g -> medians.getOrElse(q, 0.0) }
    if (ctx.tracer.isEmpty) {
      res.put("setup_s", setupS, "s")
      res.put("pass_s", suiteS, "s")
      res.put("cpu_s_per_pass", cpuS, "s")
      res.put("suite_s", suiteS, "s")
      res.put("query_p50_s", median(medians.values.toSeq), "s")
      res.put("query_p90_s", percentile(medians.values.toSeq, 0.9), "s")
      res.put("queries_per_s", medians.size / suiteS, "queries/s")
      res.put("cpu_ms_per_query", cpuS * 1e3 / math.max(1, ok.size), "ms")
      res.put("passes", passCpu.size, "count")
      res.note("pass_cpu_s", passCpu.map(Json.num).mkString("[", ",", "]"))
      res.put("retained_heap_mb", Main.retainedHeapMb(), "MB")
    } else {
      val plainS = plain.map { case (q, ws) => median(ws.toSeq) }.sum
      res.put("trace.overhead_share", suiteS / plainS - 1, "ratio")
      Layers.suite(ctx, res, reps.map { case (q, rs) => q -> rs.toSeq }.toMap, grouped, dir)
    }
    res
  }
}
