package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/**
 * Vector kernels for the similarity-scan hot path.
 *
 * The reference computes cosine similarity as a float32 dot product over
 * L2-normalized vectors (reference: vector.go:14-26, query.go:214-216).
 * These are implemented as native Catalyst expressions with whole-stage
 * codegen (not Scala UDFs) so the 100 TB scan stays inside Tungsten:
 * no boxing, no Row copying, primitive float loops over `ArrayData`.
 */
object VectorFunctions {

  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression => expr}

  /** Float32 dot product — parity with reference vector.go:14-26. */
  def dot_f32(a: Column, b: Column): Column = column(DotProductF32(expr(a), expr(b)))

  /** Float32 dot product against a constant query vector (the query-path
    * hot loop: primitive float[] access, no boxed literal). */
  def dot_const_f32(v: Column, query: Array[Float]): Column =
    column(DotProductConstF32(expr(v), query))

  /** Double-accumulated dot against a constant double[] query (oracle
    * parity for derived query vectors). */
  def dot_const_f64(v: Column, query: Array[Double]): Column =
    column(DotProductConstF64(expr(v), query))

  /** Double-precision dot product (sequential fold, matches DuckDB's
    * list_dot_product accumulation closely enough for oracle checks). */
  def dot_f64(a: Column, b: Column): Column = column(DotProductF64(expr(a), expr(b)))

  /** Cosine similarity for not-necessarily-normalized vectors (double). */
  def cosine_sim(a: Column, b: Column): Column = column(CosineSimilarity(expr(a), expr(b)))

  /** L2 norm (double accumulation like reference vector.go:30-34). */
  def l2_norm(v: Column): Column = column(L2Norm(expr(v)))

  /** v / ||v||2, float32 elements — parity with reference vector.go:28-41. */
  def normalize_f32(v: Column): Column = column(NormalizeF32(expr(v)))

  /** abs(||v||2 - 1) < 1e-6 — parity with reference vector.go:55-62. */
  def is_normalized(v: Column): Column = column(IsNormalizedF32(expr(v)))

  /** Tolerance from reference vector.go:8. */
  val NormalizedTolerance: Double = 1e-6

  // ---------------- driver-side (plain Scala) helpers ----------------
  // These operate on the single query vector on the driver, mirroring
  // the reference's use in collection.go:457-468.

  def dot(a: Array[Float], b: Array[Float]): Float = {
    require(a.length == b.length, "vectors must have the same length")
    var s = 0.0f; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def norm(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i).toDouble; i += 1 }
    math.sqrt(s)
  }

  def normalize(v: Array[Float]): Array[Float] = {
    val n = norm(v).toFloat
    if (n == 0f) v.clone() else v.map(_ / n)
  }

  def isNormalized(v: Array[Float]): Boolean =
    math.abs(norm(v) - 1.0) < NormalizedTolerance

  /** `v` when it is already unit length (the reference's check,
    * collection.go:530-532), else [[normalize]]`(v)`. */
  def normalized(v: Array[Float]): Array[Float] = if (isNormalized(v)) v else normalize(v)

  def subtract(a: Array[Float], b: Array[Float]): Array[Float] = {
    require(a.length == b.length, "vectors must have the same length")
    Array.tabulate(a.length)(i => a(i) - b(i))
  }
}

/**
 * Hot-path specialization: dot product against a CONSTANT query vector
 * held as a primitive float[] reference object. Avoids the per-element
 * unboxing a GenericArrayData literal would cost (the literal path boxes
 * every float — at 100k docs × 1536 dims that's 153M unboxings/query).
 */
case class DotProductConstF32(child: Expression, query: Array[Float])
    extends FloatVecUnary {
  override def dataType: DataType = FloatType
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != query.length) {
      throw new IllegalArgumentException(
        s"vectors must have the same length: $n vs ${query.length}")
    }
    var s = 0.0f; var i = 0
    while (i < n) { s += x.getFloat(i) * query(i); i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qv = ctx.addReferenceObj("queryVec", query, "float[]")
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = $x.numElements();
         |if ($n != $qv.length) {
         |  throw new IllegalArgumentException("vectors must have the same length: " +
         |    $n + " vs " + $qv.length);
         |}
         |float $s = 0.0f;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getFloat($i) * $qv[$i];
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "dot_const_f32"
}

/** Double-precision twin of DotProductConstF32: float column values
  * widened to double against a constant double[] query — matches DuckDB's
  * `list_dot_product(col::DOUBLE[], <double query>)` accumulation, for
  * oracle-checked derived query vectors (e.g. subtract-mode negatives). */
case class DotProductConstF64(child: Expression, query: Array[Double])
    extends FloatVecUnary {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != query.length) {
      throw new IllegalArgumentException(
        s"vectors must have the same length: $n vs ${query.length}")
    }
    var s = 0.0; var i = 0
    while (i < n) { s += x.getFloat(i).toDouble * query(i); i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qv = ctx.addReferenceObj("queryVecD", query, "double[]")
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = $x.numElements();
         |if ($n != $qv.length) {
         |  throw new IllegalArgumentException("vectors must have the same length: " +
         |    $n + " vs " + $qv.length);
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $x.getFloat($i) * $qv[$i];
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "dot_const_f64"
}

/** Shared shape for binary (vec, vec) expressions over float arrays.
  * Analysis-time element-type guard (these are SQL-registered):
  * getFloat over array<double> storage misreads 4-byte strides of each
  * 8-byte slot — silently wrong scores, no error. */
trait FloatVecBinary extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires two array<float> inputs, got ${l.sql} and ${r.sql}")
    }

  protected def checkLengths(x: ArrayData, y: ArrayData): Unit =
    if (x.numElements() != y.numElements()) {
      throw new IllegalArgumentException(
        s"vectors must have the same length: ${x.numElements()} vs ${y.numElements()}")
    }
}

/**
 * Float32 dot product with whole-stage codegen. Accumulates in float32 to
 * preserve the reference's score semantics (vector.go:21-24).
 */
case class DotProductF32(left: Expression, right: Expression) extends FloatVecBinary {
  override def dataType: DataType = FloatType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    checkLengths(x, y)
    var s = 0.0f; var i = 0; val n = x.numElements()
    while (i < n) { s += x.getFloat(i) * y.getFloat(i); i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  throw new IllegalArgumentException("vectors must have the same length: " +
         |    $n + " vs " + $y.numElements());
         |}
         |float $s = 0.0f;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getFloat($i) * $y.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "dot_f32"
}

/** Double-accumulation dot product (sequential fold — oracle-friendly). */
case class DotProductF64(left: Expression, right: Expression) extends FloatVecBinary {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    checkLengths(x, y)
    var s = 0.0; var i = 0; val n = x.numElements()
    while (i < n) { s += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    s
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n"); val s = ctx.freshName("s")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  throw new IllegalArgumentException("vectors must have the same length: " +
         |    $n + " vs " + $y.numElements());
         |}
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += (double) $x.getFloat($i) * (double) $y.getFloat($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "dot_f64"
}

/** cosine(a, b) = dot / (||a|| * ||b||), double; 0.0 when either norm is 0. */
case class CosineSimilarity(left: Expression, right: Expression) extends FloatVecBinary {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    checkLengths(x, y)
    var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0; val n = x.numElements()
    while (i < n) {
      val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
      d += xv * yv; nx += xv * xv; ny += yv * yv; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else d / (math.sqrt(nx) * math.sqrt(ny))
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val d = ctx.freshName("d"); val nx = ctx.freshName("nx"); val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  throw new IllegalArgumentException("vectors must have the same length: " +
         |    $n + " vs " + $y.numElements());
         |}
         |double $d = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = (double) $x.getFloat($i);
         |  double $yv = (double) $y.getFloat($i);
         |  $d += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0 : $d / (Math.sqrt($nx) * Math.sqrt($ny));
       """.stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
  override def prettyName: String = "cosine_sim"
}

/** Same analysis-time array<float> guard for the unary vector ops. */
trait FloatVecUnary extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires array<float> input, got ${other.sql}")
    }
}

/** L2 norm, double accumulation (reference vector.go:30-34, 57-60). */
case class L2Norm(child: Expression) extends FloatVecUnary {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0; var i = 0; val n = x.numElements()
    while (i < n) { val v = x.getFloat(i).toDouble; s += v * v; i += 1 }
    math.sqrt(s)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val v = ctx.freshName("v")
      s"""
         |int $n = $x.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $x.getFloat($i); $s += $v * $v;
         |}
         |${ev.value} = Math.sqrt($s);
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "l2_norm"
}

/** v / ||v||2 with float32 elements (reference vector.go:28-41).
  * Zero vector passes through unchanged (avoids NaN storms at ingest). */
case class NormalizeF32(child: Expression) extends FloatVecUnary {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0; var i = 0
    while (i < n) { val v = x.getFloat(i).toDouble; s += v * v; i += 1 }
    val nrm = math.sqrt(s).toFloat
    val out = new Array[Any](n)
    i = 0
    if (nrm == 0f) { while (i < n) { out(i) = x.getFloat(i); i += 1 } }
    else { while (i < n) { out(i) = x.getFloat(i) / nrm; i += 1 } }
    new GenericArrayData(out)
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "normalize_f32"
  // Array-producing codegen is boilerplate-heavy; ingest path is not the
  // per-query hot loop, so interpreted eval is acceptable here.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val v = ctx.freshName("v")
      val nrm = ctx.freshName("nrm"); val arr = ctx.freshName("arr")
      s"""
         |int $n = $x.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $x.getFloat($i); $s += $v * $v;
         |}
         |float $nrm = (float) Math.sqrt($s);
         |float[] $arr = new float[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $arr[$i] = $nrm == 0.0f ? $x.getFloat($i) : $x.getFloat($i) / $nrm;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($arr);
       """.stripMargin
    })
}

/** abs(||v||2 - 1) < 1e-6 (reference vector.go:55-62). */
case class IsNormalizedF32(child: Expression) extends FloatVecUnary {
  override def dataType: DataType = BooleanType
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    var s = 0.0; var i = 0; val n = x.numElements()
    while (i < n) { val v = x.getFloat(i).toDouble; s += v * v; i += 1 }
    math.abs(math.sqrt(s) - 1.0) < VectorFunctions.NormalizedTolerance
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val v = ctx.freshName("v")
      s"""
         |int $n = $x.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = (double) $x.getFloat($i); $s += $v * $v;
         |}
         |${ev.value} = Math.abs(Math.sqrt($s) - 1.0) < ${VectorFunctions.NormalizedTolerance};
       """.stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "is_normalized"
}
