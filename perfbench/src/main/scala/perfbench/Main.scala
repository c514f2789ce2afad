package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM at `local[nproc]`:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --out <result.json>
  *
  * Set-up (session, seeded corpus materialized under `--work`, untimed
  * full-size warmup passes) is timed as `setup_s`; then the workload runs
  * closed loop, one pass or query at a time, for `--seconds`; then the
  * outputs are checked. With `--trace 1` the benchmark's own listeners are installed and
  * the per-layer metrics are reported instead of the end-to-end ones.
  * The result object goes to `--out`; `perfbench/run.py` adds the DuckDB
  * oracle check for operator_suite and prints the final line.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String)

  /** What a workload hands back: metrics by name -> (value, unit), the
    * operation counts, and free-form notes for the run record.
    */
  final class Result {
    val metrics: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
    val notes: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
    var attempted = 0L
    var failed = 0L
    var correct = true
    def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
    def note(key: String, json: String): Unit = notes(key) = json
    def fail(n: Long, why: String): Unit = {
      failed += n
      notes.get("failures") match {
        case Some(prev) => notes("failures") = prev.dropRight(1) + "," + Json.str(why) + "]"
        case None => notes("failures") = "[" + Json.str(why) + "]"
      }
    }
  }

  final class Ctx(val spark: SparkSession, val args: Args, val cores: Int, val sessionS: Double,
      val tracer: Option[Tracer]) {
    def work(sub: String): String = s"${args.work}/$sub"
    def seed: Long = args.seed
    /** Run `body` under a tracer span when tracing, plainly otherwise. */
    def span[T](name: String, kind: String)(body: => T): T = tracer match {
      case Some(t) => t.span(name, kind)(body)
      case None => body
    }
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m.getOrElse("trace", "0") == "1",
      m("work"), m("out"))
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      // the sink hashes every output column, maps included
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---------------------------------------------------------------- stats

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN else s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  val osBean: com.sun.management.OperatingSystemMXBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = osBean.getProcessCpuTime

  /** Old-generation heap in use after a forced full collection, in MB. */
  def retainedHeapMb(): Double = {
    System.gc()
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        (p.getName.contains("Old") || p.getName.contains("Tenured")))
    old.map(_.getUsage.getUsed.toDouble).sum / (1 << 20)
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(Paths.get(args.work))
    val t0 = System.nanoTime()
    val spark = session(cores, args.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (args.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val ctx = new Ctx(spark, args, cores, sessionS, tracer)
    val res =
      try ctx.span(args.workload, "workload") {
        args.workload match {
          case "extract_mixed" => Extract.mixed(ctx)
          case "commit_long" => Extract.commitLong(ctx)
          case "operator_suite" => Suite.run(ctx)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      } finally {
        tracer.foreach { t =>
          t.uninstall()
          Files.writeString(Paths.get(args.work, "spans.json"), t.json())
        }
      }
    val metrics = res.metrics.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString(",")
    val notes = res.notes.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")
    Files.writeString(Paths.get(args.out),
      s"""{"correct":${res.correct},"attempted":${res.attempted},"failed":${res.failed},""" +
        s""""metrics":{$metrics},"notes":{$notes},"nproc":$cores}""" + "\n")
    spark.stop()
  }
}
