package graft.functions

import java.util.Collections
import java.util.WeakHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for vector math over `ArrayType(FloatType)`
  * columns and for BM25 term counting over text ([[TermFreqs]]), plus a
  * plain Scala-UDF fallback.
  *
  * Why an Expression: the scoring loop is the hot path of the flagship
  * top-k query (↔ `/root/reference/vectolite.py:151-169`); an Expression
  * with `doGenCode` stays inside whole-stage codegen — no ScalaUDF boxing,
  * no Array[Float] ser/de per row — which matters when the corpus is
  * 100 TB, not 500 rows. The generated code calls the shared static loop
  * in [[VectorOps]].
  *
  * Null semantics: a null array → null result (BinaryExpression default);
  * a null *element* inside an array → treated as 0.0 on BOTH the codegen
  * and the UDF path (the boxed-UDF fallback mirrors the ArrayData loop).
  *
  * Only public Spark APIs are used: type checking via an explicit
  * `checkInputDataTypes` (no `ExpectsInputTypes`/`AbstractDataType`, which
  * are `private[sql]` in Spark 4.1), and the Column façade goes through
  * session FunctionRegistry registration + `call_function` (public since
  * Spark 3.5) rather than internal Column constructors.
  */
object VectorExpressions {

  private def checkFloatArray(e: Expression, name: String, pos: String): TypeCheckResult =
    e.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$name: $pos argument must be array<float>, got ${other.catalogString}")
    }

  /** cosine(a, b) = dot / (||a||*||b||) with the reference's exact
    * zero-norm-product → 0.0 guard (`vectolite.py:159-162`).
    */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      checkFloatArray(left, prettyName, "first") match {
        case TypeCheckResult.TypeCheckSuccess => checkFloatArray(right, prettyName, "second")
        case f => f
      }

    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_sim"

    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorOps.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosineF($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** `term_freqs(text, terms)` → `array<int>` `[dl, tf_0 … tf_{m-1}]`:
    * the whitespace-token count of `text` and each term's count among
    * those tokens, from one byte pass ([[TextOps]]) that never builds a
    * token array — the kernel behind every direct BM25 form. `terms` must
    * be a constant, null-free `array<string>`; it is encoded to UTF-8
    * once per expression and reaches the generated code as a reference
    * object. Null text → null.
    */
  case class TermFreqs(text: Expression, terms: Expression)
      extends BinaryExpression {

    override def left: Expression = text
    override def right: Expression = terms

    override def checkInputDataTypes(): TypeCheckResult =
      (text.dataType, terms.dataType) match {
        case (StringType, ArrayType(StringType, _)) =>
          if (!terms.foldable) TypeCheckResult.TypeCheckFailure(
            s"$prettyName: second argument must be a constant array<string>")
          else if (terms.eval() == null || termBytes.contains(null))
            TypeCheckResult.TypeCheckFailure(s"$prettyName: terms must not be or hold null")
          else TypeCheckResult.TypeCheckSuccess
        case (s, t) => TypeCheckResult.TypeCheckFailure(
          s"$prettyName: expects (string, array<string>), got (${s.catalogString}, ${t.catalogString})")
      }

    @transient private lazy val termBytes: Array[Array[Byte]] = {
      val a = terms.eval().asInstanceOf[ArrayData]
      Array.tabulate(a.numElements())(i =>
        if (a.isNullAt(i)) null else a.getUTF8String(i).getBytes)
    }

    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def prettyName: String = "term_freqs"

    override protected def nullSafeEval(t: Any, ignored: Any): Any =
      TextOps.termFreqs(t.asInstanceOf[UTF8String], termBytes)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val bytes = ctx.addReferenceObj("termBytes", termBytes, "byte[][]")
      defineCodeGen(ctx, ev, (t, _) => s"graft.functions.TextOps.termFreqs($t, $bytes)")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(text = newLeft, terms = newRight)
  }

  /** dot(a, b) over two float arrays (codegen'd). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      checkFloatArray(left, prettyName, "first") match {
        case TypeCheckResult.TypeCheckSuccess => checkFloatArray(right, prettyName, "second")
        case f => f
      }

    override def dataType: DataType = DoubleType
    override def prettyName: String = "dot_product"

    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorOps.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.dotF($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** cosine of BYTE-PACKED int8 codes (binary) against a float-array
    * query (round-15 — the packed quantized-index scorer). Codegen for
    * `BinaryType` hands the value over as `byte[]`, so the generated
    * call feeds [[VectorOps.cosineI8]] directly — the whole candidate
    * pass stays inside whole-stage codegen with zero per-row boxing.
    */
  case class CosineSimI8(left: Expression, right: Expression)
      extends BinaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      left.dataType match {
        case BinaryType => checkFloatArray(right, prettyName, "second")
        case other => TypeCheckResult.TypeCheckFailure(
          s"$prettyName: first argument must be binary (packed int8 codes), got ${other.catalogString}")
      }

    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_sim_i8"

    override protected def nullSafeEval(a: Any, b: Any): Any =
      VectorOps.cosineI8(a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorOps.cosineI8($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** ||a||₂ of a float array (codegen'd). */
  case class L2Norm(child: Expression) extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      checkFloatArray(child, prettyName, "only")

    override def dataType: DataType = DoubleType
    override def prettyName: String = "l2_norm"

    override protected def nullSafeEval(a: Any): Any =
      VectorOps.normF(a.asInstanceOf[ArrayData])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, a => s"graft.functions.VectorOps.normF($a)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }
}

/** Column-API façade.
  *
  * The codegen expressions need a per-session FunctionRegistry entry
  * (`call_function` resolves by name at analysis time). Rather than making
  * callers remember to [[register]], every Column method lazily registers
  * on the current active session and falls back to the plain Scala UDF if
  * there is no active session or the registry isn't reachable. Registration
  * is tracked per session (weak map — sessions are not leaked), so one
  * session's failure never disables another's codegen path.
  */
object VectorFunctions {

  import VectorExpressions._

  /** Sessions whose registries already hold our functions. */
  private val registeredSessions =
    Collections.synchronizedMap(new WeakHashMap[SparkSession, java.lang.Boolean]())

  /** Register `cosine_sim` / `dot_product` / `l2_norm` / `cosine_sim_i8` /
    * `term_freqs` as session SQL functions backed by the codegen
    * expressions. Idempotent per session; returns false (UDF fallback
    * stays in force) if the session doesn't expose a function registry.
    */
  def register(spark: SparkSession): Boolean =
    if (registeredSessions.containsKey(spark)) true
    else
      try {
        val reg = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          .sessionState.functionRegistry
        reg.createOrReplaceTempFunction("cosine_sim", es => CosineSimilarity(es(0), es(1)), "scala_udf")
        reg.createOrReplaceTempFunction("dot_product", es => DotProduct(es(0), es(1)), "scala_udf")
        reg.createOrReplaceTempFunction("l2_norm", es => L2Norm(es.head), "scala_udf")
        reg.createOrReplaceTempFunction("cosine_sim_i8", es => CosineSimI8(es(0), es(1)), "scala_udf")
        reg.createOrReplaceTempFunction("term_freqs", es => TermFreqs(es(0), es(1)), "scala_udf")
        registeredSessions.put(spark, java.lang.Boolean.TRUE)
        true
      } catch {
        case NonFatal(_) => false
      }

  /** True iff the active session has (or just got) the codegen functions. */
  private def ensureRegistered(): Boolean =
    SparkSession.getActiveSession.exists(register)

  /** Codegen'd cosine when a session registry is reachable, UDF otherwise. */
  def cosine_sim(a: Column, b: Column): Column =
    if (ensureRegistered()) call_function("cosine_sim", a, b) else cosine_udf(a, b)

  def dot_product(a: Column, b: Column): Column =
    if (ensureRegistered()) call_function("dot_product", a, b) else dot_udf(a, b)

  def l2_norm(a: Column): Column =
    if (ensureRegistered()) call_function("l2_norm", a) else norm_udf(a)

  /** Codegen'd packed-int8 cosine (binary codes vs float query). */
  def cosine_sim_i8(codes: Column, q: Column): Column =
    if (ensureRegistered()) call_function("cosine_sim_i8", codes, q)
    else cosineI8ScalaUdf(codes, q)

  /** Codegen'd `[dl, tf_0 … tf_{m-1}]` of `text` against the constant
    * `terms` ([[TermFreqs]]).
    */
  def term_freqs(text: Column, terms: Seq[String]): Column =
    if (ensureRegistered()) call_function("term_freqs", text, typedLit(terms))
    else term_freqs_udf(text, terms)

  // ---- plain Scala UDF fallback path (no registration required) ----
  // Boxed Float signatures so a null array *element* behaves like the
  // ArrayData path (null slot reads as 0.0) instead of NPE-ing.

  private val cosineScalaUdf =
    udf((a: Seq[java.lang.Float], b: Seq[java.lang.Float]) =>
      if (a == null || b == null) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(VectorOps.cosineBoxed(a, b)))

  private val dotScalaUdf =
    udf((a: Seq[java.lang.Float], b: Seq[java.lang.Float]) =>
      if (a == null || b == null) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(VectorOps.dotBoxed(a, b)))

  private val normScalaUdf =
    udf((a: Seq[java.lang.Float]) =>
      if (a == null) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(VectorOps.normBoxed(a)))

  private val cosineI8ScalaUdf =
    udf((codes: Array[Byte], q: Seq[java.lang.Float]) =>
      if (codes == null || q == null) null.asInstanceOf[java.lang.Double]
      else java.lang.Double.valueOf(VectorOps.cosineI8Boxed(codes, q)))

  def term_freqs_udf(text: Column, terms: Seq[String]): Column = {
    val bytes = terms.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    val f = udf((t: String) => if (t == null) null else TextOps.termFreqs(t, bytes))
    f(text)
  }

  def cosine_udf(a: Column, b: Column): Column = cosineScalaUdf(a, b)
  def dot_udf(a: Column, b: Column): Column = dotScalaUdf(a, b)
  def norm_udf(a: Column): Column = normScalaUdf(a)
}
