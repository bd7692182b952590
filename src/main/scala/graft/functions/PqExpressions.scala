package graft.functions

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Catalyst expressions that apply an IVF/PQ model to the corpus with
  * the [[PqKernels]] arithmetic — one static call per row from inside
  * whole-stage codegen; the same argmin as a `transform`/`array_min`
  * would run an interpreted lambda per element. The model (cell
  * centroids, codebooks) arrives as literal arguments and is prepared
  * once per plan, not once per row. */
private[functions] object ModelArgs {
  def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  def isVector(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** An int64 vector: integer PQ's milli-quantized units. */
  def isLongs(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** Failure unless `e` is a foldable of type `want` (nullability aside). */
  def literal(fname: String, what: String, e: Expression, want: DataType)
  : Option[String] =
    if (!e.foldable) Some(s"$fname: $what must be a literal")
    else if (!sameIgnoringNulls(e.dataType, want))
      Some(s"$fname: $what must be $want, got ${e.dataType}")
    else None

  private def sameIgnoringNulls(a: DataType, b: DataType): Boolean =
    (a, b) match {
      case (ArrayType(x, _), ArrayType(y, _)) => sameIgnoringNulls(x, y)
      case _ => a == b
    }

  def check(fname: String, vec: Expression,
    lits: Seq[(String, Expression, DataType)],
    vectorOk: Expression => Boolean = isVector,
    want: String = "array<float|double>"): TypeCheckResult =
    if (!vectorOk(vec)) TypeCheckResult.TypeCheckFailure(
      s"$fname expects $want, got ${vec.dataType}")
    else lits.flatMap { case (w, e, t) => literal(fname, w, e, t) }
      .headOption.fold[TypeCheckResult](TypeCheckResult.TypeCheckSuccess)(
        TypeCheckResult.TypeCheckFailure(_))

  val Doubles2: DataType = ArrayType(ArrayType(DoubleType))
  val Doubles3: DataType = ArrayType(ArrayType(ArrayType(DoubleType)))
  val Longs3: DataType = ArrayType(ArrayType(ArrayType(LongType)))
  val Ints1: DataType = ArrayType(IntegerType)
  val Ints2: DataType = ArrayType(ArrayType(IntegerType))

  private def arr(a: Any): ArrayData = a.asInstanceOf[ArrayData]

  /** An array literal's elements, each read by `elem`. */
  private def nested[T: ClassTag](a: Any)(elem: ArrayData => T): Array[T] = {
    val x = arr(a)
    Array.tabulate(x.numElements())(i => elem(x.getArray(i)))
  }

  def doubles2(a: Any): Array[Array[Double]] = nested(a)(_.toDoubleArray())
  def doubles3(a: Any): Array[Array[Array[Double]]] = nested(a)(doubles2)
  def longs3(a: Any): Array[Array[Array[Long]]] =
    nested(a)(nested(_)(_.toLongArray()))
  def ints1(a: Any): Array[Int] = arr(a).toIntArray()
  def ints2(a: Any): Array[Array[Int]] = nested(a)(_.toIntArray())

  /** The body of a kernel call `out = kernel(vec, isFloat, model)`. */
  def callGen(ctx: CodegenContext, ev: ExprCode, vec: Expression,
    model: AnyRef, javaType: String, call: String, nullable: Boolean)
  : ExprCode = {
    val ref = ctx.addReferenceObj("pqModel", model, model.getClass.getName)
    val v = vec.genCode(ctx)
    val value = s"graft.functions.PqKernels.$call(" +
      s"${v.isNull} ? null : ${v.value}, ${isFloat(vec)}, $ref)"
    if (nullable)
      ev.copy(code = code"""
        |${v.code}
        |$javaType ${ev.value} = $value;
        |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
    else
      ev.copy(code = code"""
        |${v.code}
        |$javaType ${ev.value} = $value;
      """.stripMargin, isNull = FalseLiteral)
  }
}

import ModelArgs._

/** graft_cos_argmax(v, cents, cells): the cell of the most cosine-similar
  * centroid ([[PqKernels.cosArgmax]]); `cents` array<array<double>> and
  * `cells` array<int> are literals. */
case class CosArgmax(v: Expression, cents: Expression, cells: Expression)
  extends Expression {
  override def children: Seq[Expression] = Seq(v, cents, cells)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    check("graft_cos_argmax", v,
      Seq(("cents", cents, Doubles2), ("cells", cells, Ints1)))

  @transient private lazy val model =
    new CellModel(doubles2(cents.eval()), ints1(cells.eval()))

  override def eval(input: InternalRow): Any = PqKernels.cosArgmaxData(
    v.eval(input).asInstanceOf[ArrayData], isFloat(v), model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callGen(ctx, ev, v, model, "int", "cosArgmaxData", nullable = false)

  override protected def withNewChildrenInternal(
    c: IndexedSeq[Expression]): CosArgmax = copy(c(0), c(1), c(2))
}

/** Shared by the two codebook expressions: `x` split into subspaces of
  * `sub`, codebook `cents(j)(i)` with code `codes(j)(i)` as literals.
  * A bigint `x` takes bigint centroids and the int64 kernels (integer
  * PQ); a float or double `x` takes double centroids. */
private[functions] trait CodebookExpr extends Expression {
  def x: Expression
  def sub: Int
  def cents: Expression
  def codes: Expression
  protected def fname: String

  override def children: Seq[Expression] = Seq(x, cents, codes)

  protected def integral: Boolean = isLongs(x)

  override def checkInputDataTypes(): TypeCheckResult =
    if (sub <= 0) TypeCheckResult.TypeCheckFailure(s"$fname: sub must be > 0")
    else check(fname, x, Seq(("cents", cents, if (integral) Longs3 else Doubles3),
      ("codes", codes, Ints2)), e => isVector(e) || isLongs(e),
      "array<float|double|bigint>")

  @transient protected lazy val model: CodeLayout =
    if (integral) new IntCodebook(sub, longs3(cents.eval()), ints2(codes.eval()))
    else new Codebook(sub, doubles3(cents.eval()), ints2(codes.eval()))
}

/** graft_l2_codes(x, sub, cents, codes): x's PQ code per subspace
  * ([[PqKernels.l2Codes]], [[PqKernels.l2CodesLongs]]) as array<int>,
  * subspace j at position j. */
case class L2Codes(x: Expression, sub: Int, cents: Expression,
  codes: Expression) extends CodebookExpr {
  protected def fname = "graft_l2_codes"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = PqKernels.l2CodesData(
    x.eval(input).asInstanceOf[ArrayData], isFloat(x), model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callGen(ctx, ev, x, model, "ArrayData", "l2CodesData", nullable = false)

  override protected def withNewChildrenInternal(
    c: IndexedSeq[Expression]): L2Codes =
    copy(x = c(0), cents = c(1), codes = c(2))
}

/** graft_l2_table(x, sub, cents, codes): x's ADC distance table
  * ([[PqKernels.l2Table]] and its int64 twin) — array<double>,
  * or array<bigint> for a bigint x, of m × width; NULL for a NULL x. */
case class L2Table(x: Expression, sub: Int, cents: Expression,
  codes: Expression) extends CodebookExpr {
  protected def fname = "graft_l2_table"
  override def dataType: DataType =
    ArrayType(if (integral) LongType else DoubleType, containsNull = true)
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = PqKernels.l2TableData(
    x.eval(input).asInstanceOf[ArrayData], isFloat(x), model)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    callGen(ctx, ev, x, model, "ArrayData", "l2TableData", nullable = true)

  override protected def withNewChildrenInternal(
    c: IndexedSeq[Expression]): L2Table =
    copy(x = c(0), cents = c(1), codes = c(2))
}

/** graft_adc_sum(codes, table): Σ_j table[j·width + codes[j]] as the
  * exact DECIMAL(38,6) sum ([[PqKernels.adcSum]]), or as a bigint for
  * an integer table ([[PqKernels.adcSumLongs]]). */
case class AdcSum(left: Expression, right: Expression) extends BinaryExpression {
  private def integral: Boolean = isLongs(right)
  override def dataType: DataType =
    if (integral) LongType else DecimalType(38, 6)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType | LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_adc_sum expects (array<int>, array<double|bigint>), got $l, $r")
    }

  override protected def nullSafeEval(c: Any, t: Any): Any =
    if (integral)
      PqKernels.adcSumLongs(c.asInstanceOf[ArrayData], t.asInstanceOf[ArrayData])
    else PqKernels.adcSum(c.asInstanceOf[ArrayData], t.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, t) =>
      if (integral) {
        val boxed = ctx.freshName("adc")
        s"""
           |java.lang.Long $boxed = graft.functions.PqKernels.adcSumLongs($c, $t);
           |${ev.isNull} = $boxed == null;
           |if (!${ev.isNull}) ${ev.value} = $boxed;
         """.stripMargin
      } else s"""
         |${ev.value} = graft.functions.PqKernels.adcSum($c, $t);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)

  override protected def withNewChildrenInternal(
    l: Expression, r: Expression): AdcSum = copy(left = l, right = r)
}

/** graft_vsub(a, b): CAST(a[i] AS DOUBLE) − b[i] ([[PqKernels.vsub]]),
  * the residual of a vector against its centroid. */
case class VecSub(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    if (isVector(left) && isVector(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_vsub expects array<float|double>, got ${left.dataType}, ${right.dataType}")

  override protected def nullSafeEval(a: Any, b: Any): Any =
    PqKernels.vsub(a.asInstanceOf[ArrayData], isFloat(left),
      b.asInstanceOf[ArrayData], isFloat(right))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.PqKernels.vsub($a, ${isFloat(left)}, $b, ${isFloat(right)})")

  override protected def withNewChildrenInternal(
    l: Expression, r: Expression): VecSub = copy(left = l, right = r)
}
