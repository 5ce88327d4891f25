package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import org.apache.spark.sql.graft.ColumnBridge.{colOf, exprOf}

/** Native Catalyst expressions for vector similarity over `array<float>`
  * embedding columns (SURVEY.md §7 phase 4; driver prompt "similarity
  * search").
  *
  * A single fused pass over the two float arrays — no per-element lambda
  * invocation like a `zip_with`/`aggregate` higher-order chain, and no Scala
  * UDF serialization. Each expression emits a direct `compute` call through
  * the codegen references array, so it stays inside whole-stage codegen.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<float> arguments")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosine", this, classOf[CosineSimilarity].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Dot product over two `array<float>` columns (building block for IVF/LSH
  * bucketing and re-ranking).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dot", this, classOf[DotProduct].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) { dot += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    dot
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Random-hyperplane LSH bucket id for an `array<float>` embedding: `bits`
  * sign bits of dot products against hyperplanes derived deterministically
  * from `seed` (splitmix64 stream — no RNG state, reproducible across
  * executors). Cosine-similar vectors collide with high probability, so an
  * ANN search only scans one bucket instead of the full table.
  */
case class HyperplaneBucket(child: Expression, bits: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "hyperplane_bucket"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplane", this, classOf[HyperplaneBucket].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  @transient private lazy val planeCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Array[Double]]]()

  private def planes(dim: Int): Array[Array[Double]] =
    planeCache.computeIfAbsent(dim, _ => {
      Array.tabulate(bits) { b =>
        Array.tabulate(dim) { d =>
          // uniform in [-1, 1) from a counter-mode splitmix64 stream
          val h = TextHashing.mix(seed + b.toLong * 1000003L + d.toLong)
          (h.toDouble / Long.MaxValue.toDouble)
        }
      }
    })

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  def compute(a: ArrayData): Int = {
    val dim = a.numElements()
    val ps = planes(dim)
    var bucket = 0
    var b = 0
    while (b < bits) {
      var dot = 0.0
      val p = ps(b)
      var i = 0
      while (i < dim) { dot += a.getFloat(i).toDouble * p(i); i += 1 }
      if (dot >= 0) bucket |= (1 << b)
      b += 1
    }
    bucket
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** IVF coarse quantizer: index of the centroid with the highest cosine
  * similarity to the input vector. Centroids ride inside the expression
  * (broadcast with the serialized plan — k×dim floats, tiny), so assignment
  * is a pure map-side pass.
  */
case class NearestCentroid(child: Expression, centroids: Seq[Seq[Float]])
    extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_centroid"

  @transient private lazy val cs: Array[Array[Float]] = centroids.map(_.toArray).toArray

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroid", this, classOf[NearestCentroid].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  def compute(a: ArrayData): Int = {
    val dim = a.numElements()
    var best = 0
    var bestCos = Double.MinValue
    var c = 0
    while (c < cs.length) {
      val ctr = cs(c)
      val n = math.min(dim, ctr.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a.getFloat(i).toDouble; val y = ctr(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val cos = if (na == 0.0 || nb == 0.0) -2.0 else dot / math.sqrt(na * nb)
      if (cos > bestCos) { bestCos = cos; best = c }
      c += 1
    }
    best
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Reconstruction of an int8-quantized vector: `code_i * scale` narrowed to
  * float — the asymmetric-distance read path of
  * [[graft.pipeline.Similarity.quantizeInt8]]. Native codegen: one pass,
  * one float array per row, no higher-order-function interpretation in the
  * probe scan (the hot path at corpus scale).
  */
case class DequantizeInt8(codes: Expression, scale: Expression)
    extends BinaryExpression {
  override def left: Expression = codes
  override def right: Expression = scale
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  // null even for non-null inputs: an array with a null SLOT dequantizes
  // to NULL (invalid quantized data), see compute
  override def nullable: Boolean = true
  override def prettyName: String = "dequantize_int8"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (codes.dataType, scale.dataType) match {
      case (ArrayType(ByteType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<tinyint>, double)")
    }

  override def nullSafeEval(c: Any, s: Any): Any =
    compute(c.asInstanceOf[ArrayData], s.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dequant", this, classOf[DequantizeInt8].getName)
    // compute returns null for arrays with null slots — propagate isNull
    nullSafeCodeGen(ctx, ev, (c, s) => s"""
      ${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.compute($c, $s);
      ${ev.isNull} = (${ev.value} == null);""")
  }

  def compute(a: ArrayData, s: Double): Any = {
    val n = a.numElements()
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      // a null code slot is invalid quantized data: propagate NULL for the
      // whole vector (SQL null semantics) rather than silently reading the
      // slot as byte 0 and returning a wrong-but-plausible reconstruction
      if (a.isNullAt(i)) return null
      out(i) = (a.getByte(i) * s).toFloat
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(codes = l, scale = r)
}

object VectorFunctions {
  def cosineSimilarity(a: Column, b: Column): Column =
    colOf(CosineSimilarity(exprOf(a), exprOf(b)))
  def hyperplaneBucket(v: Column, bits: Int, seed: Long): Column =
    colOf(HyperplaneBucket(exprOf(v), bits, seed))
  def nearestCentroid(v: Column, centroids: Seq[Seq[Float]]): Column =
    colOf(NearestCentroid(exprOf(v), centroids))
  def dequantizeInt8(codes: Column, scale: Column): Column =
    colOf(DequantizeInt8(exprOf(codes), exprOf(scale)))
}
