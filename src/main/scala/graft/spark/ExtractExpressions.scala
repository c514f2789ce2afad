package graft.spark

import graft.core.{Engines, Extractor}
import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, GenericInternalRow, GetStructField}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The per-turn extraction kernel as one static method, so whole-stage
  * codegen calls `graft.spark.ExtractTurnKernel.extract(...)` inline (see
  * [[HashFunctions.extractTurn]]). One call returns every output field:
  * `struct<text, status, engine, n_chars_in, n_chars_out>`, where the char
  * counts are Java `String.length` values (UTF-16 units) of the payload
  * columns and of the extracted text.
  */
object ExtractTurnKernel {
  val dataType: StructType = StructType(Seq(
    StructField("text", StringType),
    StructField("status", StringType),
    StructField("engine", StringType),
    StructField("n_chars_in", IntegerType, nullable = false),
    StructField("n_chars_out", IntegerType, nullable = false)))

  private val defaultConfig = Engines.CoreConfig()
  private val defaultT2p = UTF8String.fromString(defaultConfig.t2pConverter)

  private def str(s: UTF8String): String = if (s == null) null else s.toString
  private def len(s: String): Int = if (s == null) 0 else s.length

  def extract(convId: UTF8String, turnIdx: Int, text: UTF8String, tool: UTF8String,
      t2pConverter: UTF8String): InternalRow = {
    val (t, o) = (str(text), str(tool))
    val config =
      if (defaultT2p == t2pConverter) defaultConfig
      else Engines.CoreConfig(t2pConverter = str(t2pConverter))
    val r = Extractor.extractTurn(str(convId), turnIdx, t, o, config)
    new GenericInternalRow(Array[Any](UTF8String.fromString(r.text),
      UTF8String.fromString(r.status), UTF8String.fromString(r.engine),
      len(t) + len(o), len(r.text)))
  }
}

/** SQL registration. Two deployment paths:
  *   - cluster: `--conf spark.sql.extensions=graft.spark.GraftExtensions`
  *   - in-session: [[GraftExtensions.register]] on an existing SparkSession.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftExtensions {
  /** SQL `name(...)` of exactly `arity` arguments, built by `build`. */
  private def fn(name: String, cls: Class[_], arity: Int)(build: Seq[Expression] => Expression) = (
    FunctionIdentifier(name),
    new ExpressionInfo(cls.getName, name),
    (children: Seq[Expression]) => {
      require(children.length == arity, s"$name takes $arity argument(s), got ${children.length}")
      build(children)
    }
  )

  /** A [[HashFunctions]] kernel as SQL `name(...)`, so the kernel set is
    * reachable from pure SQL with the DSL's types and NULL semantics.
    */
  private def kernelFn(name: String, arity: Int)(build: Seq[Column] => Column) =
    fn(name, classOf[StaticInvoke], arity)(a =>
      GraftColumnBridge.expression(build(a.map(GraftColumnBridge.column))))

  /** Field `name` of the [[HashFunctions.extractTurn]] struct, NULL in ->
    * NULL out. Two fields of one row are equal kernel calls, so whole-stage
    * codegen's subexpression elimination runs the kernel once.
    */
  private def extractField(a: Seq[Expression], name: String): Expression = {
    val c = a.map(GraftColumnBridge.column)
    GetStructField(GraftColumnBridge.expression(HashFunctions.extractTurn(c(0), c(1), c(2), c(3))),
      ExtractTurnKernel.dataType.fieldIndex(name), Some(name))
  }

  val functions = Seq(
    fn("extract_text", classOf[StaticInvoke], 4)(extractField(_, "text")),
    fn("extract_status", classOf[StaticInvoke], 4)(extractField(_, "status")),
    fn("vec_dot", classOf[VecDot], 2)(a => VecDot(a(0), a(1))),
    kernelFn("shingles3", 1)(a => HashFunctions.shingles3(a(0))),
    kernelFn("minhash16", 1)(a => HashFunctions.minHash16(a(0))),
    kernelFn("rolling_hash", 1)(a => HashFunctions.rollingHash(a(0))),
    kernelFn("simhash16", 1)(a => HashFunctions.simHash16(a(0))),
    kernelFn("url_canonical", 1)(a => HashFunctions.urlCanonical(a(0))),
    kernelFn("span_blocks", 2)(a => HashFunctions.spanBlocks(a(0), a(1))))

  /** Imperative registration on an already-built session. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
}
