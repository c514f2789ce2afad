package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, XxHash64}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.DataType

/** The benchmark's one materializing sink.
  *
  * It runs the query's own physical plan (`queryExecution.toRdd`, under a SQL
  * execution id so listeners and AQE see a normal action) and folds every
  * output row into a 64-bit xxhash over ALL output columns. Nothing is
  * projected away, so Catalyst cannot prune any output expression, and the
  * final sort stays in the plan (unlike `count()`, which lets the optimizer
  * drop both). The result is a row count plus two order-insensitive hash
  * sums: one over all columns, and one over the named `checkCols` that the
  * correctness checks compare against.
  */
object Sink {

  /** Row count, hash sums, and the sink action's own optimizer and physical
    * planning time (forced and timed here, in nanoseconds; the planning
    * tracker only keeps milliseconds). `analysisS` is set by callers that
    * time building the DataFrame themselves.
    */
  final case class Out(rows: Long, hash: Long, checkHash: Long, optimizerS: Double = 0,
      planningS: Double = 0, analysisS: Double = 0) {
    def phases: (Double, Double, Double) = (analysisS, optimizerS, planningS)
  }

  /** Listener action name of every sink execution. */
  val ActionPrefix = "perfbench:"


  /** Hash of a row's selected fields, as Spark's `xxhash64(cols...)`. */
  def hasher(types: Seq[(DataType, Boolean)], ordinals: Seq[Int]): InternalRow => Long = {
    val proj = UnsafeProjection.create(Seq(new XxHash64(ordinals.map { i =>
      BoundReference(i, types(i)._1, types(i)._2)
    })))
    row => proj(row).getLong(0)
  }

  def run(df: DataFrame, label: String, checkCols: Seq[String] = Nil): Out = {
    val qe = df.queryExecution
    val output = qe.analyzed.output
    val types = output.map(a => (a.dataType, a.nullable))
    val checkOrdinals = checkCols.map(c => output.indexWhere(_.name == c))
    require(checkOrdinals.forall(_ >= 0), s"$label: output lacks one of ${checkCols.mkString(",")}")
    val t0 = System.nanoTime()
    qe.optimizedPlan
    val t1 = System.nanoTime()
    qe.executedPlan
    val t2 = System.nanoTime()
    val parts = SQLExecution.withNewExecutionId(qe, Some(ActionPrefix + label)) {
      qe.toRdd.mapPartitions { it =>
        val all = hasher(types, types.indices)
        val check = if (checkOrdinals.isEmpty) null else hasher(types, checkOrdinals)
        var n = 0L
        var h = 0L
        var c = 0L
        while (it.hasNext) {
          val row = it.next()
          h += all(row)
          if (check != null) c += check(row)
          n += 1
        }
        Iterator.single((n, h, c))
      }.collect()
    }
    Out(parts.map(_._1).sum, parts.map(_._2).sum, parts.map(_._3).sum, (t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** Untimed diagnostic: per-key hash of `checkCols`, for counting which
    * rows differ once a hash sum disagrees.
    */
  def keyed(df: DataFrame, key: Seq[String], checkCols: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    df.select(concat_ws("#", key.map(k => col(k).cast("string")): _*).as("k"),
        xxhash64(checkCols.map(col): _*).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}
