package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd dot product over two numeric array columns.
  *
  * The `functions.aggregate(zip_with(...))` formulation is semantically
  * right but executes the lambda per element through the interpreted
  * higher-order-function path — at 2M candidate pairs × 64 dims that was
  * the single hottest spot in the whole bench (~50 s at sf0.1). This
  * expression generates a tight primitive loop instead (`getFloat`/
  * `getDouble` straight off ArrayData, double accumulator, left-to-right
  * order preserved so results stay bit-identical to the sequential oracle).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryExpression {

  private def elemType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case other => throw new IllegalArgumentException(s"vec_dot needs arrays, got $other")
  }

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs float/double arrays, got ${left.dataType}, ${right.dataType}")
  }

  // NULL semantics match the zip_with+aggregate form this replaced
  // bit-for-bit: a length mismatch (zip_with pads with nulls) or a null
  // ELEMENT nulls the whole dot. Reading a null slot as 0.0 instead
  // would hand corrupt input back as a plausible-looking similarity —
  // the failure mode PackInt8's contract calls out. The element null
  // checks are generated only when the array types admit nulls, so a
  // tight schema pays nothing.
  private def anyElemNullable: Boolean = Seq(left, right).exists(_.dataType match {
    case ArrayType(_, n) => n
    case _ => true
  })

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    val leftFloat = elemType(left) == FloatType
    val rightFloat = elemType(right) == FloatType
    val checkNulls = anyElemNullable
    while (i < n) {
      if (checkNulls && (a.isNullAt(i) || b.isNullAt(i))) return null
      val x = if (leftFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rightFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val la = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val ra = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullCheck =
        if (anyElemNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |if ($a.numElements() != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = $a.numElements();
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $nullCheck
         |    $acc += (double) $a.$la($i) * (double) $b.$ra($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $acc;
         |}
         |""".stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Sign-bit LSH bucket id over `numPlanes` deterministic pseudo-random
  * hyperplanes in one codegen'd pass. Plane components derive from
  * xxhash64 exactly as the column form did —
  * `xxhash64(lit(plane), i).cast(double) / Long.MaxValue` with the
  * multi-arg seed chain (42 → hash(plane) → hash(i)) — and the projection
  * accumulates left-to-right in double, so bucket ids are bit-identical to
  * the replaced `aggregate(zip_with(vec, sequence(...), ...))` stack,
  * which ran 2 interpreted lambda passes per plane per row.
  */
case class HyperplaneBuckets(child: Expression, numPlanes: Int, seedOffset: Int)
  extends UnaryExpression {

  // 64+ planes would silently alias through `1L << pl` (long shifts are
  // mod 64) — bit 64 lands on bit 0 and XORs plane 0's decision. The
  // ZOrder construction-guard pattern.
  require(numPlanes >= 1 && numPlanes <= 63,
    s"numPlanes must be in 1..63 (bucket bits live in one long), got $numPlanes")

  private def elemFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"lsh_bucket needs a float/double array, got $other")
  }

  // A NULL vector buckets to 0L (the all-bits-unset bucket the pre-expression
  // column form produced) instead of a NULL bucket that would silently drop
  // the row out of the LSH join.
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else HyperplaneBuckets.run(numPlanes, seedOffset, elemFloat, v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val code =
      code"""
         |${childGen.code}
         |long ${ev.value} = ${childGen.isNull} ? 0L :
         |  graft.expr.HyperplaneBuckets$$.MODULE$$.run(
         |    $numPlanes, $seedOffset, $elemFloat, ${childGen.value});
         |""".stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneBuckets =
    copy(child = newChild)
}

object HyperplaneBuckets {

  import org.apache.spark.sql.catalyst.expressions.XxHash64Function

  // Plane components are row-INVARIANT (a pure function of (plane, dim))
  // yet were recomputed per row — numPlanes × dims xxhash64 calls on the
  // LSH bucketing path over the whole corpus, the exact hot loop this
  // expression exists to speed up. Cached per (numPlanes, seedOffset),
  // grown when a longer vector appears; values are identical to the
  // inline hashes (same seed chain 42 → hash(plane) → hash(dim)), so
  // buckets stay bit-for-bit. Bounded: a handful of entries × planes ×
  // dims doubles per executor; a replace race writes equal values.
  private val compCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def components(numPlanes: Int, seedOffset: Int,
      dims: Int): Array[Array[Double]] = {
    val key = (numPlanes, seedOffset)
    var cur = compCache.get(key)
    if (cur == null || cur(0).length < dims) {
      val width = math.max(dims, 64)
      cur = Array.tabulate(numPlanes) { pl =>
        val planeSeed = XxHash64Function.hash(seedOffset + pl, IntegerType, 42L)
        Array.tabulate(width)(i =>
          XxHash64Function.hash(i, IntegerType, planeSeed).toDouble /
            Long.MaxValue.toDouble)
      }
      compCache.put(key, cur)
    }
    cur
  }

  def run(numPlanes: Int, seedOffset: Int, elemFloat: Boolean, vec: ArrayData): Long = {
    val n = vec.numElements()
    val comps = components(numPlanes, seedOffset, n)
    var bits = 0L
    var pl = 0
    while (pl < numPlanes) {
      val row = comps(pl)
      var acc = 0.0
      var any = false
      var i = 0
      while (i < n) {
        // Null elements contribute 0 — the same policy as the oracle's
        // list_sum — so a partially-null embedding buckets identically in
        // both engines. If NO element contributes (empty or all-null
        // array), list_sum yields NULL there and `>= 0` is false, so the
        // bit must stay unset here too rather than defaulting to acc=0.0.
        if (!vec.isNullAt(i)) {
          val v = if (elemFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
          acc += v * row(i)
          any = true
        }
        i += 1
      }
      if (any && acc >= 0) bits |= 1L << pl
      pl += 1
    }
    bits
  }
}

/** Sign-bit LSH bucket id against an EXPLICIT plane matrix
  * (`planes(p)(d)`), for plane families whose components are precomputed
  * on the driver (e.g. the md5-derived oracle-parity planes). The matrix
  * rides into codegen as a reference object, so the generated code stays a
  * single call no matter how many planes×dims — the inline
  * `when(vec_dot(vec, lit(array...)))` tree compiled 12 64-element array
  * literals per bucket column and bloated whole-stage codegen.
  */
case class PlaneBuckets(child: Expression, planes: Array[Array[Double]])
  extends UnaryExpression {

  // Same mod-64 shift aliasing guard as HyperplaneBuckets.
  require(planes.nonEmpty && planes.length <= 63,
    s"plane count must be in 1..63 (bucket bits live in one long), " +
      s"got ${planes.length}")

  private def elemFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"plane_buckets needs a float/double array, got $other")
  }

  // NULL vector → bucket 0L, same policy as HyperplaneBuckets.
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L
    else PlaneBuckets.run(planes, elemFloat, v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    val code =
      code"""
         |${childGen.code}
         |long ${ev.value} = ${childGen.isNull} ? 0L :
         |  graft.expr.PlaneBuckets$$.MODULE$$.run(
         |    $planesRef, $elemFloat, ${childGen.value});
         |""".stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneBuckets =
    copy(child = newChild)
}

object PlaneBuckets {
  def run(planes: Array[Array[Double]], elemFloat: Boolean, vec: ArrayData): Long = {
    val n = vec.numElements()
    var bits = 0L
    var pl = 0
    while (pl < planes.length) {
      val comps = planes(pl)
      val m = math.min(n, comps.length)
      var acc = 0.0
      var any = false
      var i = 0
      while (i < m) {
        // Null elements contribute 0, matching the oracle's list_sum; an
        // empty/all-null vector leaves the bit unset (NULL list_sum there).
        if (!vec.isNullAt(i)) {
          val v = if (elemFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
          acc += v * comps(i)
          any = true
        }
        i += 1
      }
      if (any && acc >= 0) bits |= 1L << pl
      pl += 1
    }
    bits
  }
}

/** Dense projection of a float/double vector through a literal plane
  * matrix: output j = Σ_d vec(d)·planes(j)(d) — the value-carrying sibling
  * of [[PlaneBuckets]] (which keeps only the sign bits). One codegen'd
  * call per row computes every output component; the matrix rides along
  * as a broadcast-free literal reference, so the projection is a map-only
  * stage a 1000-executor scan runs without any state shipping.
  *
  * Length mismatch semantics (deliberate, shared with [[PlaneBuckets]]
  * and the SQL oracle's `range(1, dims+1)` form, where out-of-range list
  * indexes are NULL and drop from the sum): the dot runs over
  * min(vector length, matrix dims). A vector SHORTER than the declared
  * dims therefore projects silently through its prefix — callers that
  * can't rule out schema drift should validate dimensions upstream
  * (e.g. `size(col) === dims`) rather than rely on this truncation.
  */
case class PlaneProject(child: Expression, planes: Array[Array[Double]])
  extends UnaryExpression {

  private def elemFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"plane_project needs a float/double array, got $other")
  }

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(v: Any): Any =
    PlaneProject.run(planes, elemFloat, v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.PlaneProject$$.MODULE$$.run(" +
        s"$planesRef, $elemFloat, $c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneProject =
    copy(child = newChild)
}

object PlaneProject {
  def run(planes: Array[Array[Double]], elemFloat: Boolean,
      vec: ArrayData): ArrayData = {
    val n = vec.numElements()
    val out = new Array[Double](planes.length)
    var pl = 0
    while (pl < planes.length) {
      val comps = planes(pl)
      val m = math.min(n, comps.length)
      var acc = 0.0
      var i = 0
      while (i < m) {
        // Null elements contribute 0, matching the oracle's list handling.
        if (!vec.isNullAt(i)) {
          val v = if (elemFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
          acc += v * comps(i)
        }
        i += 1
      }
      out(pl) = acc
      pl += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

object VectorExprs {
  def vecDot(a: Column, b: Column): Column =
    GraftColumnBridge.column(
      VecDot(GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def lshBucket(vec: Column, numPlanes: Int, seedOffset: Int = 0): Column =
    GraftColumnBridge.column(
      HyperplaneBuckets(GraftColumnBridge.expression(vec), numPlanes, seedOffset))

  def planeBuckets(vec: Column, planes: Array[Array[Double]]): Column =
    GraftColumnBridge.column(
      PlaneBuckets(GraftColumnBridge.expression(vec), planes))

  def planeProject(vec: Column, planes: Array[Array[Double]]): Column =
    GraftColumnBridge.column(
      PlaneProject(GraftColumnBridge.expression(vec), planes))

  def nearestCentroid(vec: Column, books: Codebooks): Column =
    GraftColumnBridge.column(
      NearestCentroid(GraftColumnBridge.expression(vec), books))

  def centroidDistances(vec: Column, books: Codebooks): Column =
    GraftColumnBridge.column(
      CentroidDistances(GraftColumnBridge.expression(vec), books))

  def adcDistance(table: Column, code: Column): Column =
    GraftColumnBridge.column(AdcDistance(
      GraftColumnBridge.expression(table), GraftColumnBridge.expression(code)))
}
