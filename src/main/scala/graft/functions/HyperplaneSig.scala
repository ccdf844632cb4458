package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** In-row packed hyperplane-LSH signature: all `tables`×`bits`
  * sign-of-projection bits of one embedding against a seeded plane
  * matrix, packed into ONE long — bit b of table t is set iff
  * `vec_dot(emb, plane_tb) >= 0` (SQL double ordering: NaN counts as
  * largest and sets the bit), table t's bucket occupying bits
  * `[stride*t, stride*t+bits)` (bit-identical to the retired per-plane
  * expression form, HyperplaneSigSpec pins the parity).
  *
  * Why an expression (round 17, measured): the previous form built the
  * signature from 64 independent `vec_dot`-vs-literal columns folded
  * through when/add/shiftleft/or — ONE unsplittable expression tree
  * whose generated code ran at ~100 µs per dot (~1000× the fused-loop
  * cost; OPTIMIZATION_r17.md "Change 2": 13-17 s of task CPU for 2000
  * rows × 64 planes, identical with `-XX:-DontCompileHugeMethods`, 4×
  * FASTER with whole-stage codegen disabled — the monster method
  * defeats the JIT and every warm ss2/ss5 run re-paid 10-16 s of
  * HotSpot recompilation).
  * The matrix rides as a plan REFERENCE OBJECT (flat row-major float[],
  * the [[TopCells]] discipline) and the hot loop is plain JVM code in
  * [[HyperplaneSigOps]] — tables×bits×dim fused multiply-adds per row,
  * ~2 µs where the expression tree burned ~7 ms.
  *
  * Parity notes (mirrors the retired form EXACTLY, including its
  * degenerate paths): a NULL embedding, wrong-dimension array, or any
  * NULL element nulls every `vec_dot`, every `when(proj >= 0, …)
  * .otherwise(0)` yields 0, so the packed signature is 0 — NOT NULL
  * (callers pre-filter those rows; the value is pinned anyway). A NaN
  * projection SETS its bit per PLANE (SQL ordering: NaN is the largest
  * double), -0.0 passes. Accumulation is double,
  * ascending index, `(double) a.getFloat(i) * (double) plane(i)` —
  * [[FloatVectorDot]] parity.
  */
case class HyperplaneSig(child: Expression, flatPlanes: Array[Float],
    tables: Int, bits: Int, stride: Int, dim: Int)
  extends UnaryExpression {

  require(dim > 0 && flatPlanes.length == tables * bits * dim,
    s"HyperplaneSig: flat plane matrix (${flatPlanes.length}) must be " +
      s"tables ($tables) x bits ($bits) x dim ($dim)")
  require(bits <= stride && tables.toLong * stride <= 64,
    s"HyperplaneSig: geometry ($tables x $bits, stride $stride) does not pack into 64 bits")

  override def nullable: Boolean = false
  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig expects an array<float> embedding, got $t")
  }

  override def eval(input: InternalRow): Any = {
    val q = child.eval(input)
    if (q == null) 0L
    else HyperplaneSigOps.compute(q.asInstanceOf[ArrayData], flatPlanes,
      tables, bits, stride, dim)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cQ = child.genCode(ctx)
    // plane matrix as a reference object: serialized once with the plan,
    // never pasted into generated source (64×64 floats would be ~60 KB of
    // source per USE — and the old literal form had 64 of them)
    val pRef = ctx.addReferenceObj("hyperplaneSigPlanes", flatPlanes, "float[]")
    ev.copy(isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral,
      code = code"""
        ${cQ.code}
        long ${ev.value} = 0L;
        if (!${cQ.isNull}) {
          ${ev.value} = graft.functions.HyperplaneSigOps.compute(
            ${cQ.value}, $pRef, $tables, $bits, $stride, $dim);
        }
      """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  // Content equality (the TopCells discipline): reference-equality on the
  // matrix would defeat semanticEquals across the self-join's two sides —
  // and with it subexpression elimination and exchange/broadcast reuse.
  @transient private lazy val planesHash: Int =
    java.util.Arrays.hashCode(flatPlanes)

  override def hashCode(): Int = {
    var h = planesHash
    h = 31 * h + child.hashCode()
    h = 31 * h + tables; h = 31 * h + bits; h = 31 * h + stride
    31 * h + dim
  }

  override def equals(other: Any): Boolean = other match {
    case t: HyperplaneSig =>
      (this eq t) || (tables == t.tables && bits == t.bits &&
        stride == t.stride && dim == t.dim && planesHash == t.planesHash &&
        child == t.child && java.util.Arrays.equals(flatPlanes, t.flatPlanes))
    case _ => false
  }
}

/** The [[HyperplaneSig]] hot loop, standalone so scalac emits a static
  * forwarder the generated Java can call directly. */
object HyperplaneSigOps {
  def compute(qEmb: ArrayData, flat: Array[Float], tables: Int, bits: Int,
              stride: Int, dim: Int): Long = {
    // wrong dimension or a NULL element nulls every per-plane vec_dot in
    // the retired form -> every bit 0 -> signature 0 (never NULL)
    if (qEmb.numElements() != dim) return 0L
    var i = 0
    while (i < dim) {
      if (qEmb.isNullAt(i)) return 0L
      i += 1
    }
    val v = new Array[Float](dim)
    i = 0
    while (i < dim) { v(i) = qEmb.getFloat(i); i += 1 }
    var sig = 0L
    var base = 0
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < bits) {
        var s = 0.0
        var j = 0
        while (j < dim) {
          s += v(j).toDouble * flat(base + j).toDouble
          j += 1
        }
        // SQL comparison parity: Spark orders NaN as the LARGEST double
        // (GreaterThanOrEqual uses SQLOrderingUtil, not Java primitives),
        // so a NaN projection SETS its bit in the retired form; -0.0
        // passes under both orderings
        if (s >= 0.0 || java.lang.Double.isNaN(s)) bucket |= 1L << b
        b += 1
        base += dim
      }
      sig |= bucket << (stride * t)
      t += 1
    }
    sig
  }
}
