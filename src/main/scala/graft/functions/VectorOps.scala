package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, floor, lit, transform}
import org.apache.spark.sql.types._

/** Native vector kernels for the embedding operators.
  *
  * The declarative forms (`aggregate`/`zip_with`/`transform` higher-
  * order functions) are evaluated interpretively per ELEMENT, and
  * lambdas re-evaluate shared outer subexpressions per element after
  * projection collapse (the same pitfall that motivated
  * [[Trigrams]]/[[SimHash]]). A 64-dim dot product is 64 interpreted
  * expression evaluations; the LSH band keys of `q_embed_neardup`
  * were 64 dims × 4 bits × 32 bands ≈ 8k evaluations per row. These
  * expressions do the same arithmetic in one tight JVM loop per row
  * and participate in whole-stage codegen via `defineCodeGen`.
  *
  * Numeric parity: `dotLong` is exact 64-bit integer arithmetic;
  * `dotDouble` accumulates left-to-right in double exactly like the
  * `aggregate(zip_with(...))` form it replaces, so results are
  * bit-identical and the DuckDB oracle SQL is unchanged.
  */
object VectorOpsImpl {

  /** Null semantics match `aggregate(zip_with(a, b, _*_), 0, _+_)`
    * exactly: a length mismatch (zip_with pads with null) or any null
    * element poisons the sum → SQL NULL (returned as boxed null, the
    * expressions are declared nullable). The null checks are bitset
    * lookups — negligible against the multiply-add. */
  def dotLong(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(s)
  }

  /** See [[dotLong]] for the null contract. */
  def dotDouble(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** All LSH band keys of one quantized vector in one pass, matching
    * the DuckDB twin in `VectorQueries` bit-for-bit: for band b, bit
    * h, dim i the Rademacher hyperplane entry is
    * `1 - 2*((((b*1619 + h*31337 + i*2621 + 1013904223)^2)
    * % 4294967296) >> 13 & 1)` (middle-square mixing); key(b) packs
    * `bitsPerBand` projection sign bits. The square is essential: a
    * single multiply leaves bit 13 linearly correlated across dims,
    * which collapsed 16-bit keys to ~9 bits of entropy and blew
    * candidate buckets up ~70× (measured on the test corpus —
    * distinct keys/band 532 → 1953 of 2000, max bucket 93 → 3, and
    * recall at the 32×4 oracle geometry 75% → 98%). m ≈ 1.01e9 so
    * m² ≈ 1.03e18 < 2^63: exact in Scala, Spark SQL, and DuckDB. */
  def lshKeys(qv: ArrayData, nBands: Int, bitsPerBand: Int): GenericArrayData = {
    val dim = qv.numElements()
    val v = new Array[Long](dim)
    var i = 0
    while (i < dim) {
      // Declarative twin: a null element nulls every dot, and
      // when(dot >= 0, …).otherwise(0) then yields key 0 per band.
      if (qv.isNullAt(i))
        return new GenericArrayData(Array.fill[Any](nBands)(0L))
      v(i) = qv.getLong(i)
      i += 1
    }
    val keys = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      var key = 0L
      var h = 0
      while (h < bitsPerBand) {
        var dot = 0L
        var j = 0
        while (j < dim) {
          val m = b * 1619L + h * 31337L + j * 2621L + 1013904223L
          val mix = (m * m) % 4294967296L
          val sign = 1L - 2L * ((mix >> 13) & 1L)
          dot += v(j) * sign
          j += 1
        }
        if (dot >= 0) key |= (1L << h)
        h += 1
      }
      keys(b) = key
      b += 1
    }
    new GenericArrayData(keys)
  }
}

/** `dot_long(array<long>, array<long>) -> long`; NULL on length
  * mismatch or null element (see [[VectorOpsImpl.dotLong]]). */
case class DotLong(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), ArrayType(LongType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"dot_long expects two array<bigint>, got $other")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_long"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOpsImpl.dotLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Long ${ev.value}_r = graft.functions.VectorOpsImpl.dotLong($a, $b);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.longValue(); }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotLong =
    copy(left = l, right = r)
}

/** `dot_double(array<double>, array<double>) -> double` (callers cast
  * float/int arrays up; the cast is codegen'd and cheap). NULL on
  * length mismatch or null element. */
case class DotDouble(left: Expression, right: Expression) extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"dot_double expects two array<double>, got $other")
  }
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_double"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorOpsImpl.dotDouble(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r = graft.functions.VectorOpsImpl.dotDouble($a, $b);
      if (${ev.value}_r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_r.doubleValue(); }""")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotDouble =
    copy(left = l, right = r)
}

/** `lsh_band_keys(array<long>, nBands, bitsPerBand) -> array<long>` */
case class LshBandKeys(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(LongType, _), IntegerType, IntegerType) =>
        if (second.foldable && third.foldable) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure("nBands/bitsPerBand must be literals")
      case other => TypeCheckResult.TypeCheckFailure(
        s"lsh_band_keys expects (array<bigint>, int, int), got $other")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_band_keys"
  override protected def nullSafeEval(v: Any, nb: Any, bp: Any): Any =
    VectorOpsImpl.lshKeys(v.asInstanceOf[ArrayData],
      nb.asInstanceOf[Int], bp.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (v, nb, bp) =>
      s"graft.functions.VectorOpsImpl.lshKeys($v, $nb, $bp)")
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): LshBandKeys =
    copy(first = f, second = s, third = t)
}

object VectorOps {
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("dot_long",
      exprs => DotLong(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("dot_double",
      exprs => DotDouble(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction("lsh_band_keys",
      exprs => LshBandKeys(exprs(0), exprs(1), exprs(2)), "built-in")
  }

  def dotLong(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("dot_long", a, b)
  }

  /** The engine-wide fixed-point quantization, `floor(x·1000)` per
    * element as `array<long>` — exact for float inputs (float→double is
    * lossless, ×1000 never lands on an exact .5, floor is exact), so
    * every vector operator computes in exact integers. */
  def quantize(c: Column): Column =
    transform(c, e => floor(e.cast(DoubleType) * 1000).cast(LongType))

  /** Exact integer squared distance `a·a − 2a·b + b·b` of two quantized
    * vectors. */
  def d2(spark: SparkSession, a: Column, b: Column): Column =
    dotLong(spark, a, a) - lit(2L) * dotLong(spark, a, b) + dotLong(spark, b, b)

  /** Double dot product; casts both sides to array<double> so float/
    * long/int embeddings all work. Left-to-right accumulation order
    * matches the `aggregate(zip_with(...))` it replaces. */
  def dotDouble(spark: SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("dot_double",
      a.cast(ArrayType(DoubleType)), b.cast(ArrayType(DoubleType)))
  }

  /** Band keys with the oracle's NULL contract: the raw expression is
    * null-propagating (nullSafeEval/codegen skip on a NULL array), but
    * the DuckDB twin's `CASE WHEN dot >= 0 …` yields key 0 for every
    * band of a NULL embedding — so a NULL input coalesces to the
    * all-zero key vector here, keeping the engines pair-identical if a
    * null embedding ever enters the corpus. (SQL-only callers of the
    * bare `lsh_band_keys` function get SQL NULL; this wrapper is the
    * parity-correct entry point.) */
  def lshBandKeys(spark: SparkSession, qv: Column, nBands: Int, bitsPerBand: Int): Column = {
    register(spark)
    org.apache.spark.sql.functions.coalesce(
      call_function("lsh_band_keys", qv, lit(nBands), lit(bitsPerBand)),
      org.apache.spark.sql.functions.array_repeat(lit(0L), nBands))
  }
}
