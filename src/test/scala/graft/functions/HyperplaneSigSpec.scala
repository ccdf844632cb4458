package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** [[HyperplaneSig]] must be BIT-IDENTICAL to the retired per-plane
  * expression form (64 vec_dot-vs-literal columns folded through
  * when/add/shiftleft/or) it replaced in the LSH kernel — including the
  * degenerate paths the retired form defined: NULL embedding, wrong
  * dimension, NULL element, and non-finite values all pack to 0 per the
  * CASE-WHEN-on-NULL/NaN rules, never to NULL. */
class HyperplaneSigSpec extends AnyFunSuite with GraftSuite {

  /** The RETIRED column form, verbatim from the pre-r17 kernel. */
  private def retiredSig(planes: Seq[Seq[Seq[Double]]], stride: Int): Column = {
    val bucketCols = planes.map { tbl =>
      tbl.zipWithIndex.map { case (plane, b) =>
        val proj = VectorFunctions.vecDot(col("embedding"), typedLit(plane.map(_.toFloat)))
        when(proj >= 0, lit(1L << b)).otherwise(0L)
      }.reduce(_ + _)
    }
    bucketCols.zipWithIndex
      .map { case (b, t) => shiftleft(b, stride * t) }
      .reduce((x, y) => x.bitwiseOR(y))
  }

  private def newSig(planes: Seq[Seq[Seq[Double]]], tables: Int, bits: Int,
                     stride: Int, dim: Int): Column = {
    val flat = new Array[Float](tables * bits * dim)
    var off = 0
    planes.foreach(_.foreach(_.foreach { x => flat(off) = x.toFloat; off += 1 }))
    org.apache.spark.sql.GraftExpressionBridge.column(
      HyperplaneSig(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("embedding")),
        flat, tables, bits, stride, dim))
  }

  private def parityCheck(tables: Int, bits: Int, stride: Int): Unit = {
    val dim = 8
    val rnd = new scala.util.Random(7)
    val planes: Seq[Seq[Seq[Double]]] = Seq.fill(tables, bits, dim)(rnd.nextGaussian())
    import spark.implicits._
    val data = (0 until 500).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextGaussian() * (i % 7 + 1)).toFloat))
    }
    val df = data.toDF("vec_id", "embedding")
    val rows = df.select(
      retiredSig(planes, stride).as("old"),
      newSig(planes, tables, bits, stride, dim).as("neu")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"sig mismatch: retired=${r.getLong(0)} new=${r.getLong(1)}"))
  }

  test("bit parity with the retired column form: kNN geometry (16x4, stride 4)") {
    parityCheck(tables = 16, bits = 4, stride = 4)
  }

  test("bit parity: pair geometry with underfilled lanes (4x12, stride 16)") {
    parityCheck(tables = 4, bits = 12, stride = 16)
  }

  test("degenerate rows pack to 0 exactly like the retired form") {
    val dim = 4
    val planes: Seq[Seq[Seq[Double]]] =
      Seq.fill(2, 2, dim)(1.0) // all-ones planes: any positive vector sets bits
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 1.0f, 1.0f, 1.0f)),   // healthy: all bits set
      (2L, null.asInstanceOf[Array[Float]]),  // NULL embedding
      (3L, Array(1.0f, 2.0f)),                // wrong dimension
      (4L, Array(Float.NaN, 0f, 0f, 0f)))     // NaN projection: SQL orders NaN largest
      .toDF("vec_id", "embedding")
    val rows = df.select(col("vec_id"),
      retiredSig(planes, 2).as("old"),
      newSig(planes, 2, 2, 2, dim).as("neu")).orderBy("vec_id").collect()
    rows.foreach(r => assert(r.getLong(1) == r.getLong(2),
      s"vec ${r.getLong(0)}: retired=${r.getLong(1)} new=${r.getLong(2)}"))
    assert(rows(0).getLong(2) == 15L) // sanity: healthy row sets all 4 bits
    assert(rows(1).getLong(2) == 0L && rows(2).getLong(2) == 0L)
    // NaN >= 0 is TRUE under Spark's SQL double ordering (NaN = largest),
    // so the retired form SETS every bit — the kernel must match, not
    // "fix" it (a Java-primitive `>=` here would silently re-bucket any
    // non-finite embedding)
    assert(rows(3).getLong(2) == 15L)
  }

  test("null ELEMENT packs to 0 (interpreted eval path)") {
    val dim = 3
    val flat = Array.fill(1 * 1 * dim)(1.0f)
    val emb = new org.apache.spark.sql.catalyst.util.GenericArrayData(
      Array[Any](1.0f, null, 2.0f))
    assert(HyperplaneSigOps.compute(emb, flat, 1, 1, 1, dim) == 0L)
  }
}
