package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** DuckDB's vector family — `list_dot_product` / `list_inner_product`,
  * `list_cosine_similarity`, `list_distance`, their `array_*` spellings
  * and `array_cosine_similarity` — as one native Catalyst expression
  * with whole-stage codegen.
  *
  * One pass over both arrays: each element is read in place with its own
  * type and widened to double exactly as `CAST(x AS DOUBLE)` widens it
  * (decimals through `Decimal.toDouble`); the dot product and both
  * squared norms accumulate in index order from 0.0. So the result is
  * the sequential-sum formula bit for bit: cosine is
  * `dot / (sqrt(na) * sqrt(nb))`, −1.0 when that product is 0, clamped
  * to [−1, 1] with NaN read as −1.0 (DuckDB 1.0 clamps it so, probed:
  * rounding can put a vector's similarity with itself above 1.0, and a
  * NaN or infinite element gives −1.0); distance is
  * `sqrt(sum((a−b)²))`. No lambda, no intermediate
  * array, no boxing; a higher-order-function composition runs outside
  * whole-stage codegen and boxes every element.
  *
  * NULL lists give NULL. NULL elements and unequal lengths raise
  * DuckDB's errors (probed on 1.0): the list functions check left, then
  * right NULLs, then lengths; the `array_*` ones check sizes first.
  * `list_dot_product` and `array_dot_product` name themselves
  * `*_inner_product` in their errors, as DuckDB's do.
  *
  * Input: two arrays of numbers.
  */
case class ListVector(left: Expression, right: Expression, fn: String)
    extends BinaryExpression with ImplicitCastInputTypes {
  import ListVector._

  private val metric = metrics(fn)
  /** the name DuckDB's error messages use */
  private val errName = fn.replace("_dot_product", "_inner_product")

  // a bare NULL argument is cast to an array (and gives NULL)
  override def inputTypes = ColumnBridge.arrayBinaryInput

  override def checkInputDataTypes(): TypeCheckResult =
    super.checkInputDataTypes() match {
      case TypeCheckSuccess if !Seq(left, right).forall(e =>
          elementType(e).isInstanceOf[NumericType] || elementType(e) == NullType) =>
        TypeCheckFailure(s"$fn expects two arrays of numbers, got " +
          s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
      case result => result
    }

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = fn
  override protected def stringArgs: Iterator[Any] = Iterator(left, right)

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements() || anyNull(x) || anyNull(y))
      throw inputError(fn, errName, x, y)
    val rx = reader(elementType(left)); val ry = reader(elementType(right))
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xv = rx(x, i); val yv = ry(y, i)
      metric match {
        case Distance => val d = xv - yv; dot += d * d
        case _ => dot += xv * yv; nx += xv * xv; ny += yv * yv
      }
      i += 1
    }
    metric match {
      case Dot => dot
      case Cosine =>
        val norms = math.sqrt(nx) * math.sqrt(ny)
        val r = if (norms == 0.0) -1.0 else dot / norms
        if (r > 1.0) 1.0 else if (r >= -1.0) r else -1.0
      case Distance => math.sqrt(dot)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      // All locals fresh-named: whole-stage codegen splices this block
      // into one shared method body, so fixed names collide (janino
      // "Redefinition of local variable" -> silent interpreted fallback).
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val fail = s"throw graft.ListVector.inputError(\"$fn\", \"$errName\", $x, $y);"
      def nullCheck(a: String, e: Expression) =
        if (e.dataType.asInstanceOf[ArrayType].containsNull) s"$a.isNullAt($i)" else "false"
      val step = metric match {
        case Distance => s"$xv -= $yv; $dot += $xv * $xv;"
        case Dot => s"$dot += $xv * $yv;"
        case Cosine => s"$dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;"
      }
      val result = metric match {
        case Dot => s"${ev.value} = $dot;"
        case Cosine =>
          val norms = ctx.freshName("norms"); val r = ctx.freshName("r")
          s"""double $norms = java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny);
             |double $r = $norms == 0.0 ? -1.0 : $dot / $norms;
             |${ev.value} = $r > 1.0 ? 1.0 : ($r >= -1.0 ? $r : -1.0);""".stripMargin
        case Distance => s"${ev.value} = java.lang.Math.sqrt($dot);"
      }
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  $fail
         |}
         |double $dot = 0.0, $nx = 0.0, $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (${nullCheck(x, left)} || ${nullCheck(y, right)}) {
         |    $fail
         |  }
         |  double $xv = ${readCode(x, i, elementType(left))};
         |  double $yv = ${readCode(y, i, elementType(right))};
         |  $step
         |}
         |$result
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ListVector =
    copy(left = newLeft, right = newRight)
}

object ListVector {
  private sealed trait Metric
  private case object Dot extends Metric
  private case object Cosine extends Metric
  private case object Distance extends Metric

  /** every SQL name the kernel serves, with what it computes */
  private val metrics: Map[String, Metric] = Map(
    "list_dot_product" -> Dot, "list_inner_product" -> Dot,
    "array_dot_product" -> Dot, "array_inner_product" -> Dot,
    "list_cosine_similarity" -> Cosine, "array_cosine_similarity" -> Cosine,
    "list_distance" -> Distance, "array_distance" -> Distance)
  val names: Seq[String] = metrics.keys.toSeq.sorted

  private def elementType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  /** the element as a double, as CAST(x AS DOUBLE) computes it */
  private def readCode(arr: String, i: String, t: DataType): String = t match {
    case ByteType => s"(double) $arr.getByte($i)"
    case ShortType => s"(double) $arr.getShort($i)"
    case IntegerType => s"(double) $arr.getInt($i)"
    case LongType => s"(double) $arr.getLong($i)"
    case FloatType => s"(double) $arr.getFloat($i)"
    case DoubleType => s"$arr.getDouble($i)"
    case d: DecimalType => s"$arr.getDecimal($i, ${d.precision}, ${d.scale}).toDouble()"
    case NullType => "0.0" // unreachable: every element is NULL
  }
  private def reader(t: DataType): (ArrayData, Int) => Double = t match {
    case ByteType => (a, i) => a.getByte(i).toDouble
    case ShortType => (a, i) => a.getShort(i).toDouble
    case IntegerType => (a, i) => a.getInt(i).toDouble
    case LongType => (a, i) => a.getLong(i).toDouble
    case FloatType => (a, i) => a.getFloat(i).toDouble
    case DoubleType => (a, i) => a.getDouble(i)
    case d: DecimalType => (a, i) => a.getDecimal(i, d.precision, d.scale).toDouble
    case NullType => (_, _) => 0.0
  }

  private def anyNull(a: ArrayData): Boolean = (0 until a.numElements()).exists(a.isNullAt)

  /** DuckDB's error for arguments of unequal length or with a NULL
    * element, checked in DuckDB's order for `fn`. */
  def inputError(fn: String, errName: String, x: ArrayData, y: ArrayData): RuntimeException = {
    val (nx, ny) = (x.numElements(), y.numElements())
    val msg =
      if (fn.startsWith("array_") && nx != ny) "Array arguments must be of the same size"
      else if (anyNull(x)) "left argument can not contain NULL values"
      else if (anyNull(y)) "right argument can not contain NULL values"
      else s"list dimensions must be equal, got left length $nx and right length $ny"
    ColumnBridge.userError(s"Invalid Input Error: $errName: $msg")
  }
}

/** Column-API front door for graft's custom expressions. */
object GraftFunctions {
  def arrayCosineSimilarity(a: Column, b: Column): Column =
    ColumnBridge.column(ListVector(
      ColumnBridge.expression(a), ColumnBridge.expression(b), "array_cosine_similarity"))
}
