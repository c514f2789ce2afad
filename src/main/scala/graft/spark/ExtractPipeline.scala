package graft.spark

import graft.core.{Engines, Extractor}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The Spark-native extraction pipeline — the whole reference request
  * lifecycle (`/root/reference/ocr_rpc_client.go` + `ocr_rpc_worker.go` +
  * the preprocessor workers) as ONE narrow codegen'd stage:
  *
  *   scan -> [[ExtractTurnKernel]] (parse + chain + engine, O5-O15/O17,
  *   one Catalyst `StaticInvoke` per row) -> write (O18).
  *
  * Scale design notes (100 TB / 10^12 turns):
  *   - The per-turn path is a NARROW map with no key to group on: by default
  *     every turn is extracted IN PLACE on its scan split — no Exchange, no
  *     joins, no aggregation. The RabbitMQ work queue (O16) is the scan
  *     itself: Parquet splits are bounded in bytes
  *     (`spark.sql.files.maxPartitionBytes`), so a 1 MiB turn counts for its
  *     size in its split and no task holds more than a split's worth of
  *     payload. That byte bound is the skew bound; a full-corpus shuffle
  *     would move every byte once more to buy the same balance.
  *   - A caller that needs a fixed task count (more tasks than the input has
  *     row groups, e.g. a one-file derived input) passes `numPartitions`; the
  *     rows are then salted-repartitioned first ([[saltColumn]]: rows whose
  *     payload exceeds [[heavyThreshold]] get a PER-ROW salt, light rows
  *     salt by conv_id). Partitioning never changes per-turn results (pinned
  *     by spec against the in-place path).
  *   - Correlation-id matching (O17) is row identity through the map — no
  *     result join needed.
  */
object ExtractPipeline {

  /** Output row + per-row micro-metrics (O22 analog). */
  final case class Extracted(
      conv_id: String,
      turn_idx: Int,
      text: String,
      status: String,
      engine: String,
      n_chars_in: Int,
      n_chars_out: Int
  )

  /** Payloads above this many chars are considered skew-heavy and get a
    * per-row salt when `extract` repartitions (`numPartitions > 0`).
    */
  val heavyThreshold: Int = 1 << 20

  /** Distribution key of the salted repartition (`numPartitions > 0`).
    * Full-width hashes, NEVER pre-modded: collapsing to [0, parts) before
    * `repartition` feeds only `parts` distinct values into Spark's
    * murmur3-mod-parts partitioner — balls-in-bins collisions then leave
    * ~1/e of partitions empty and the busiest with 3-4x the load, which caps
    * scaling at ~25% efficiency the moment the stage runs in a single wave
    * (measured: 5M turns, local[32], 75s pre-modded vs 13s full-width).
    * Light rows key by conv_id (locality for conversation-level consumers),
    * heavy rows by (conv_id, turn_idx) — per-row spread for the
    * long-document tail.
    */
  def saltColumn(): org.apache.spark.sql.Column = {
    val payloadLen = length(coalesce(col("text"), lit(""))) +
      length(coalesce(col("tool"), lit("")))
    when(payloadLen > heavyThreshold, xxhash64(col("conv_id"), col("turn_idx")))
      .otherwise(xxhash64(col("conv_id")))
  }

  /** Run the extraction over a transcript-shaped DataFrame.
    *
    * `numPartitions` 0 (the default) extracts every turn in place on its
    * scan split; `numPartitions > 0` first salted-repartitions the rows into
    * that many tasks (see the object scaladoc). Either way each row goes
    * through one [[HashFunctions.extractTurn]] call with NULL propagation
    * off, so a NULL text or tool is an empty payload.
    *
    * O14 with an actual SCHEDULING effect (the reference publishes each
    * message with a priority 0-9 onto an `x-max-priority` queue so
    * high-priority documents are decoded first — `ocr_rpc_client.go:74-85,
    * 294-340`): when `priorityOrdered` is true, rows are sorted within each
    * partition (the scan split, or the post-shuffle partition) by descending
    * doc_type priority before the kernel runs, so high-priority work
    * completes first inside every task. NO extra shuffle —
    * `sortWithinPartitions` sorts the existing distribution in place
    * (plan-tested). Cross-job preemption (the other half of queue priority)
    * maps to Spark FAIR scheduler pools at submission time, not to the plan.
    */
  def extract(
      spark: SparkSession,
      transcripts: DataFrame,
      numPartitions: Int = 0,
      config: Engines.CoreConfig = Engines.CoreConfig(),
      priorityOrdered: Boolean = false
  ): Dataset[Extracted] = {
    import spark.implicits._
    val base = transcripts
      .select(col("conv_id"), col("turn_idx").cast("int").as("turn_idx"),
        col("text"), col("tool"))
    val spread =
      if (numPartitions > 0) base.repartition(numPartitions, saltColumn()) // O16
      else base
    val ordered =
      if (!priorityOrdered) spread
      else {
        val prio = graft.functions.GraftFunctions.priorityFor(
          coalesce(get_json_object(col("tool"), "$.doc_type"), lit("")),
          config.prioMap)
        spread.sortWithinPartitions(prio.desc)
      }
    // the kernel struct is one column, so the optimizer keeps one kernel
    // call per row (it never inlines a non-cheap producer read 5 times)
    ordered
      .select(col("conv_id"), col("turn_idx"),
        HashFunctions.extractTurn(col("conv_id"), col("turn_idx"), col("text"), col("tool"),
          lit(config.t2pConverter), propagateNull = false).as("r"))
      .select(col("conv_id"), col("turn_idx"), col("r.text"), col("r.status"),
        col("r.engine"), col("r.n_chars_in"), col("r.n_chars_out"))
      .as[Extracted]
  }

  /** O14's CROSS-JOB half — the reference's `x-max-priority` queue also
    * reorders work ACROSS requests (`ocr_rpc_client.go:74-85,294-340`): a
    * later high-priority request's messages preempt queued low-priority
    * ones. The Spark analog is FAIR scheduler pools at SUBMISSION time:
    * every job a batch submits while inside [[withPriorityPool]] lands in
    * the pool named for its doc_type's priority class. The pool name ALONE
    * does nothing — the weighting only takes effect when the session runs
    * with `spark.scheduler.mode=FAIR` plus an allocation file giving prio-N
    * pools ascending weights (on-demand pools otherwise get default weight
    * 1, making all priorities equal shares). [[writeFairSchedulerXml]] +
    * [[fairSchedulerConf]] produce exactly that deployment configuration;
    * with them an egov (prio 9, weight 10) batch submitted mid-flight gets
    * ~5x the task share of queued standard (prio 1, weight 2) work — and
    * ~10x vs prio-0 (weight 1) — the queue semantics.
    * (In-task ordering — the other half — is `priorityOrdered` above.)
    * Pool assignment is a thread-local SparkContext property, which is why
    * this is an around-submission combinator rather than a plan node.
    */
  def poolFor(docType: String, config: Engines.CoreConfig = Engines.CoreConfig()): String =
    s"prio-${Extractor.priority(docType, config)}"

  /** Write the FAIR-scheduler allocation file that REALIZES the cross-job
    * priority semantics: one pool per reference priority class 0-9, weight
    * = priority + 1 (monotone, nonzero — a raw weight of 0 for prio-0
    * would starve it entirely, which the reference's queue does not do),
    * FIFO within a pool (matches in-queue arrival order). Returns the path
    * for `spark.scheduler.allocation.file`.
    */
  def writeFairSchedulerXml(path: String): String = {
    val pools = (0 to 9).map { p =>
      s"""  <pool name="prio-$p">
         |    <schedulingMode>FIFO</schedulingMode>
         |    <weight>${p + 1}</weight>
         |    <minShare>0</minShare>
         |  </pool>""".stripMargin
    }.mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      s"<?xml version=\"1.0\"?>\n<allocations>\n$pools\n</allocations>\n")
    path
  }

  /** The session config activating [[writeFairSchedulerXml]]'s pools —
    * apply at SparkSession build time (scheduler mode is a context-level
    * setting; it cannot be flipped on a live session).
    */
  def fairSchedulerConf(allocationFile: String): Seq[(String, String)] = Seq(
    "spark.scheduler.mode" -> "FAIR",
    "spark.scheduler.allocation.file" -> allocationFile)

  def withPriorityPool[T](
      spark: SparkSession,
      docType: String,
      config: Engines.CoreConfig = Engines.CoreConfig()
  )(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.scheduler.pool")
    sc.setLocalProperty("spark.scheduler.pool", poolFor(docType, config))
    try body
    finally sc.setLocalProperty("spark.scheduler.pool", prev)
  }

  /** Extraction + stable-ordered write (the equality contract orders by
    * (conv_id, turn_idx); we sort within partitions for run-length locality
    * and deterministic files).
    */
  def run(
      spark: SparkSession,
      transcripts: DataFrame,
      outDir: String,
      numPartitions: Int = 0
  ): Unit =
    extract(spark, transcripts, numPartitions)
      .sortWithinPartitions("conv_id", "turn_idx")
      .write.mode("overwrite").parquet(outDir)

  /** Per-partition extraction metrics (O22: the Prometheus counters as a
    * metrics table): rows, errors, chars in/out per status+engine.
    */
  def metrics(extracted: Dataset[Extracted]): DataFrame =
    extracted
      .groupBy(col("status"), col("engine"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("n_chars_in")).cast("long").as("chars_in"),
        sum(col("n_chars_out")).cast("long").as("chars_out"))

  /** O22 histogram analog — the reference's latency and request-size
    * histograms (`prometheus_metrics.go:25-41`: duration buckets .01–10 s,
    * size buckets 100–50M) as cumulative bucket counts per (status, engine).
    *
    * The duration proxy is DETERMINISTIC — request chars /
    * [[histogramCharsPerSecond]] — so bucket counts are reproducible and
    * oracle-checkable (the reference observes wall time, which no
    * cross-engine oracle could verify; a production deployment would
    * `observe` wall time into the same bucket layout). Plan shape: ONE
    * shuffle (the groupBy with map-side partial agg); the unpivot explodes
    * over the handful of (status, engine) groups, not the corpus.
    */
  val durationBuckets: Seq[Double] = Seq(0.01, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)
  val sizeBuckets: Seq[Long] = Seq(100L, 1500L, 5000000L, 10000000L, 25000000L, 50000000L)
  val histogramCharsPerSecond = 100000.0

  def histograms(extracted: Dataset[Extracted]): DataFrame = {
    val dur = col("n_chars_in").cast("double") / lit(histogramCharsPerSecond)
    val durAggs = durationBuckets.zipWithIndex.map { case (v, i) =>
      sum(when(dur <= lit(v), 1L).otherwise(0L)).as(s"d$i")
    }
    val sizeAggs = sizeBuckets.zipWithIndex.map { case (v, i) =>
      sum(when(col("n_chars_in") <= lit(v), 1L).otherwise(0L)).as(s"s$i")
    }
    val aggs = durAggs ++ sizeAggs
    val g = extracted.groupBy(col("status"), col("engine"))
      .agg(count(lit(1)).as("total"), aggs: _*)
    val entries =
      durationBuckets.zipWithIndex.map { case (v, i) =>
        struct(lit("duration_seconds").as("metric"), lit(v.toString).as("le"),
          col(s"d$i").as("n"))
      } ++ Seq(struct(lit("duration_seconds").as("metric"), lit("+Inf").as("le"),
        col("total").as("n"))) ++
        sizeBuckets.zipWithIndex.map { case (v, i) =>
          struct(lit("request_size_bytes").as("metric"), lit(v.toString).as("le"),
            col(s"s$i").as("n"))
        } ++ Seq(struct(lit("request_size_bytes").as("metric"), lit("+Inf").as("le"),
        col("total").as("n")))
    g.select(col("status"), col("engine"), explode(array(entries: _*)).as("h"))
      .select(col("status"), col("engine"),
        col("h.metric").as("metric"), col("h.le").as("le"), col("h.n").as("n"))
  }
}
