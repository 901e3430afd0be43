package graft.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `m` integer k-means codebooks held BY VALUE — the one kernel behind
  * k-means assignment, product-quantization encoding and the ADC
  * distance table. Book `s` scores the vector slice `[s·width,
  * (s+1)·width)` (clipped to the vector, as SQL `slice` clips; `width`
  * 0 = one book over the whole vector), quantized per element as
  * `floor(double(x)·scale)` to long then double unless the input is
  * already on the grid (`onGrid`).
  *
  * The arithmetic is fixed step for step, so codes and distances are
  * bit-identical to the DuckDB oracles: `|c|²` summed in long then
  * widened; score `|c|² − 2·(q·c)` with the dot accumulated left to right
  * from 0.0; distance `q·q + score`; nearest = FIRST minimum score (ties
  * to the lower cluster). A null element nulls its whole book; a centroid
  * whose length differs from the slice scores NULL and is skipped by the
  * minimum (a book with no scored centroid has no nearest one).
  *
  * Value equality (centroids, scales, width, grid) keeps two kernels over
  * equal codebooks `semanticEquals`, so equal plans still match (exchange
  * reuse, cached-plan lookup); the centroid matrix rides into generated
  * code as one reference object, so a plan holds one node per kernel
  * whatever m·k.
  */
final class Codebooks(
    val centroids: Array[Array[Array[Long]]],
    val scales: Array[Long],
    val width: Int,
    val onGrid: Boolean) extends Serializable {

  require(centroids.nonEmpty && centroids.forall(_.nonEmpty),
    "every codebook needs at least one centroid")
  require(scales.length == centroids.length, "one scale per codebook")
  require(width > 0 || (width == 0 && centroids.length == 1),
    s"width must be > 0, or 0 for a single whole-vector codebook; got $width")

  def m: Int = centroids.length

  @transient private lazy val cd: Array[Array[Array[Double]]] =
    centroids.map(_.map(_.map(_.toDouble)))

  @transient private lazy val c2: Array[Array[Double]] =
    centroids.map(_.map(c => c.map(v => v * v).sum.toDouble))

  /** Book `s`'s slice of `vec`, quantized into `q`: its length, or -1
    * when it holds a null element.
    */
  private def load(s: Int, elemFloat: Boolean, vec: ArrayData,
      q: Array[Double]): Int = {
    val n = vec.numElements()
    val from = s * width
    val len = if (width == 0) n else math.max(0, math.min(width, n - from))
    val scale = scales(s).toDouble
    var i = 0
    while (i < len) {
      if (vec.isNullAt(from + i)) return -1
      val x = if (elemFloat) vec.getFloat(from + i).toDouble else vec.getDouble(from + i)
      q(i) = if (onGrid) x else math.floor(x * scale).toLong.toDouble
      i += 1
    }
    len
  }

  /** Per-centroid scores of book `s` into `out` (NaN = NULL: a length
    * mismatch — a finite grid never yields NaN); returns `q·q`.
    */
  private def score(s: Int, q: Array[Double], len: Int,
      out: Array[Double]): Double = {
    var x2 = 0.0
    var i = 0
    while (i < len) { x2 += q(i) * q(i); i += 1 }
    val book = cd(s)
    var j = 0
    while (j < book.length) {
      val c = book(j)
      if (c.length != len) out(j) = Double.NaN
      else {
        var dot = 0.0
        i = 0
        while (i < len) { dot += q(i) * c(i); i += 1 }
        out(j) = c2(s)(j) - 2.0 * dot
      }
      j += 1
    }
    x2
  }

  private def scratch(vec: ArrayData): Array[Double] =
    new Array[Double](if (width == 0) vec.numElements() else width)

  /** `(code ARRAY<INT>, dist ARRAY<DOUBLE>)`: per book the nearest
    * cluster and its squared distance `q·q + min score`.
    */
  def nearest(elemFloat: Boolean, vec: ArrayData): InternalRow = {
    val q = scratch(vec)
    val codes = new Array[Any](m)
    val dists = new Array[Any](m)
    var s = 0
    while (s < m) {
      val len = load(s, elemFloat, vec, q)
      if (len >= 0) {
        val sc = new Array[Double](centroids(s).length)
        val x2 = score(s, q, len, sc)
        var best = -1
        var j = 0
        while (j < sc.length) {
          if (!sc(j).isNaN && (best < 0 || sc(j) < sc(best))) best = j
          j += 1
        }
        if (best >= 0) {
          codes(s) = best
          dists(s) = x2 + sc(best)
        }
      }
      s += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(codes), new GenericArrayData(dists)))
  }

  /** The m×k distance table: `q·q + score` per book and centroid. */
  def distances(elemFloat: Boolean, vec: ArrayData): ArrayData = {
    val q = scratch(vec)
    val books = new Array[Any](m)
    var s = 0
    while (s < m) {
      val k = centroids(s).length
      val row = new Array[Any](k)
      val len = load(s, elemFloat, vec, q)
      if (len >= 0) {
        val sc = new Array[Double](k)
        val x2 = score(s, q, len, sc)
        var j = 0
        while (j < k) {
          if (!sc(j).isNaN) row(j) = x2 + sc(j)
          j += 1
        }
      }
      books(s) = new GenericArrayData(row)
      s += 1
    }
    new GenericArrayData(books)
  }

  override def equals(o: Any): Boolean = o match {
    case b: Codebooks =>
      width == b.width && onGrid == b.onGrid &&
        java.util.Arrays.equals(scales, b.scales) &&
        java.util.Arrays.deepEquals(
          centroids.asInstanceOf[Array[AnyRef]], b.centroids.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  @transient private lazy val hash: Int =
    java.util.Arrays.deepHashCode(Array[AnyRef](
      centroids, scales, Int.box(width), Boolean.box(onGrid)))

  override def hashCode: Int = hash

  override def toString: String =
    s"Codebooks(m=$m, k=${centroids.map(_.length).max}, width=$width, onGrid=$onGrid)"
}

/** Shared type check and codegen of the two codebook expressions. */
private[expr] trait CodebookExpr extends UnaryExpression {
  def books: Codebooks
  protected def method: String

  protected def elemFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs a float/double array, got $other")
  }

  override def nullable: Boolean = child.nullable

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("books", books, classOf[Codebooks].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.$method($elemFloat, $c);")
  }
}

/** Per book the nearest centroid and its squared distance:
  * `STRUCT<code: ARRAY<INT>, dist: ARRAY<DOUBLE>>` (see [[Codebooks]]).
  */
case class NearestCentroid(child: Expression, books: Codebooks)
  extends CodebookExpr {

  override def prettyName: String = "nearest_centroid"
  protected def method: String = "nearest"

  override def dataType: DataType = StructType(Seq(
    StructField("code", ArrayType(IntegerType, containsNull = true)),
    StructField("dist", ArrayType(DoubleType, containsNull = true))))

  override def nullSafeEval(v: Any): Any =
    books.nearest(elemFloat, v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): NearestCentroid =
    copy(child = newChild)
}

/** Squared distance to every centroid of every book:
  * `ARRAY<ARRAY<DOUBLE>>`, m × k (see [[Codebooks]]).
  */
case class CentroidDistances(child: Expression, books: Codebooks)
  extends CodebookExpr {

  override def prettyName: String = "centroid_distances"
  protected def method: String = "distances"

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = true), containsNull = false)

  override def nullSafeEval(v: Any): Any =
    books.distances(elemFloat, v.asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): CentroidDistances =
    copy(child = newChild)
}

/** Asymmetric distance of one stored PQ code against one probe's m×k
  * table ([[CentroidDistances]]): `Σ_s table(s)(code(s))`, summed left to
  * right (the oracle's order). A null code or table entry nulls the sum;
  * a code outside its table row, or a code shorter than the table, fails
  * the query, as an out-of-range ANSI `element_at` does.
  */
case class AdcDistance(left: Expression, right: Expression)
  extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def prettyName: String = "adc_distance"

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ArrayType(DoubleType, _), _), ArrayType(IntegerType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName needs (array<array<double>>, array<int>), got ($l, $r)")
  }

  override def nullSafeEval(table: Any, code: Any): Any =
    AdcDistance.run(table.asInstanceOf[ArrayData], code.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sum = ctx.freshName("sum")
    nullSafeCodeGen(ctx, ev, (t, c) =>
      s"""
         |Double $sum = graft.expr.AdcDistance$$.MODULE$$.run($t, $c);
         |${ev.isNull} = $sum == null;
         |if (!${ev.isNull}) ${ev.value} = $sum;
         |""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcDistance =
    copy(left = newLeft, right = newRight)
}

object AdcDistance {
  /** The sum, or null. */
  def run(table: ArrayData, code: ArrayData): java.lang.Double = {
    val m = table.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      if (s >= code.numElements())
        throw new ArrayIndexOutOfBoundsException(
          s"PQ code of ${code.numElements()} subspaces against a table of $m")
      if (code.isNullAt(s)) return null
      val row = table.getArray(s)
      val c = code.getInt(s)
      if (c < 0 || c >= row.numElements())
        throw new ArrayIndexOutOfBoundsException(
          s"PQ code $c in subspace $s outside a table of ${row.numElements()} centroids")
      if (row.isNullAt(c)) return null
      acc = if (s == 0) row.getDouble(c) else acc + row.getDouble(c)
      s += 1
    }
    acc
  }
}
