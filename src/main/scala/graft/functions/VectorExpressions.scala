package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector/dedup hot paths.
  *
  * Spark's higher-order functions (`zip_with`+`aggregate`) evaluate their
  * lambdas interpreted, one virtual call per element — at millions of
  * candidate pairs × 64 dims that dominates the runtime. These expressions
  * generate a tight primitive loop inside whole-stage codegen instead
  * (§4.3's "custom Expression beats UDF beats everything" preference
  * order). Semantics are kept bit-identical to the HOF/oracle
  * formulation: left-to-right double accumulation of per-element
  * double-cast products.
  */

/** dot(a, b): Σ (double)a[i] * (double)b[i], left fold, i < min(|a|,|b|).
  * Accepts float or double array children. NULL input arrays yield NULL
  * (nullSafeEval); NULL ELEMENTS are read as 0 by the primitive accessor
  * — deterministic, but unlike the HOF form which null-propagates. Strip
  * null elements upstream if they can occur. */
case class FloatVecDot(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = left.nullable || right.nullable

  private def elemIsFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
  : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double>, got ${left.dataType}, ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      s += xv * yv
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val rGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += ((double) $a.$lGet($i)) * ((double) $b.$rGet($i));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** |A ∩ B| for two ASCENDING-sorted long arrays (merge scan, no per-row
  * hash set allocation like array_intersect). Used for Jaccard over
  * token-hash sets: |A∪B| = |A|+|B|-|A∩B| when inputs are distinct. */
case class SortedLongIntersectCard(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = left.nullable || right.nullable

  override def checkInputDataTypes()
  : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(e: Expression) = e.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left) && ok(right))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_intersect expects array<bigint>, got ${left.dataType}, ${right.dataType}")
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0
    var j = 0
    var c = 0
    while (i < x.numElements() && j < y.numElements()) {
      val xv = x.getLong(i)
      val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $a.numElements() && $j < $b.numElements()) {
         |  long $xv = $a.getLong($i);
         |  long $yv = $b.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) { $i++; } else { $j++; }
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
    newLeft: Expression, newRight: Expression): SortedLongIntersectCard =
    copy(left = newLeft, right = newRight)
}

/** Session-scoped registration so the expressions are usable from
  * `expr("graft_dot(a, b)")` / SQL. Idempotent. */
object GraftFunctions {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.{IntegerType, LongType}

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Long, LongType) => v
    case Literal(v: Int, IntegerType) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def doubleLit(e: Expression, what: String): Double = e match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: Decimal, _: DecimalType) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  /** doubleLit constrained to a finite [0, 1] similarity cutoff: the
    * consumers interpolate the value into generated Java as `${v}D`,
    * where a NaN/Infinity literal becomes invalid source (`NaND`) that
    * only fails at codegen compile — reject at registration instead. */
  private def unitDoubleLit(e: Expression, what: String): Double = {
    val v = doubleLit(e, what)
    if (v.isNaN || v < 0.0 || v > 1.0)
      throw new IllegalArgumentException(
        s"$what must be a finite value in [0, 1], got $v")
    v
  }

  /** Name → expression builder for the whole graft function family —
    * single source of truth for both registration paths (the runtime
    * registry fallback below and the SparkSessionExtensions injector). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_dot" -> (es => FloatVecDot(es(0), es(1))),
    "graft_sorted_intersect" -> (es => SortedLongIntersectCard(es(0), es(1))),
    "graft_charhash" -> (es => CharPolyHash(es(0))),
    "graft_token_hashes" -> (es => TokenPolyHashes(es(0))),
    "graft_bigram_hashes" -> (es => BigramPolyHashes(es(0))),
    "graft_minhash" -> (es =>
      MinHashSigs(es(0), intLit(es(1), "graft_minhash nHashes"))),
    "graft_band_keys" -> (es => BandKeysFold(es(0),
      intLit(es(1), "graft_band_keys bands"),
      intLit(es(2), "graft_band_keys rows"))),
    "graft_simhash" -> (es => SimHashBits(es(0),
      intLit(es(1), "graft_simhash bits"),
      longLit(es(2), "graft_simhash spread"))),
    "graft_sum_lengths" -> (es => SumCharLengths(es(0))),
    "graft_chunk_fp" -> (es => ChunkFingerprint(es(0))),
    "graft_ngram_hashes" -> (es =>
      NGramFold(es(0), intLit(es(1), "graft_ngram_hashes n"))),
    "graft_jaro_winkler" -> (es => JaroWinklerSim(es(0), es(1))),
    "graft_jaro_winkler_gte" -> (es => JaroWinklerGte(es(0), es(1),
      unitDoubleLit(es(2), "graft_jaro_winkler_gte cutoff"))),
    "graft_common_bytes" -> (es => CommonByteCount(es(0), es(1))),
    "graft_cos_argmax" -> (es => CosArgmax(es(0), es(1), es(2))),
    "graft_l2_codes" -> (es =>
      L2Codes(es(0), intLit(es(1), "graft_l2_codes sub"), es(2), es(3))),
    "graft_l2_table" -> (es =>
      L2Table(es(0), intLit(es(1), "graft_l2_table sub"), es(2), es(3))),
    "graft_adc_sum" -> (es => AdcSum(es(0), es(1))),
    "graft_vsub" -> (es => VecSub(es(0), es(1)))
  )

  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    // Skip if already present: createOrReplaceTempFunction WARN-logs every
    // replacement, and register is called from every Tables.load.
    if (reg.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_chunk_fp")))
      return
    builders.foreach { case (name, b) =>
      reg.createOrReplaceTempFunction(name, b, "built-in")
    }
  }
}
