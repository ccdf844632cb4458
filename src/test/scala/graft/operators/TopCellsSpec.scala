package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite
import graft.functions.VectorFunctions

/** [[graft.functions.TopCells]] — the round-14 in-row probe-set
  * assignment — against (a) a driver-side reference implementation of
  * the documented rule (score = dot/(nrm·cnorm), NULL/NaN skipped,
  * score desc, ties to the LOWER cell id, top nProbe), and (b) the
  * retired exploded-agg plan path it replaced, which stays in the tree
  * exactly as this spec's parity seam. The adversarial rows pin the
  * drop contract: NULL embedding, wrong dimension, a NULL element, and
  * zero norm must all be ABSENT from the output row set on every path
  * (not present with an empty probe set). */
class TopCellsSpec extends AnyFunSuite with GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  /** The documented selection rule, independently: score every cell in
    * plain driver arithmetic (ascending-index double accumulation — the
    * FloatVectorDot order), skip zero-divisor and NaN, sort by
    * (score desc, cell asc) with java.lang.Double.compare — equivalent
    * to Spark's double ordering for every reachable score (NaN is
    * filtered, and a -0.0 score is unreachable: the dot's IEEE sum
    * never yields -0.0 and the divisor nrm·cnorm is positive). */
  private def reference(emb: Array[Float], centroids: Seq[Array[Float]],
                        cnorms: Seq[Double], nProbe: Int): Seq[Int] = {
    val nrm = math.sqrt(emb.map(x => x.toDouble * x).sum)
    val scored = centroids.indices.flatMap { c =>
      if (centroids(c).length != emb.length) None
      else {
        var s = 0.0
        var j = 0
        while (j < emb.length) { s += emb(j).toDouble * centroids(c)(j).toDouble; j += 1 }
        val div = nrm * cnorms(c)
        if (div == 0.0) None
        else {
          val score = s / div
          if (score.isNaN) None else Some((score, c))
        }
      }
    }
    scored.sortWith { case ((s1, c1), (s2, c2)) =>
      val cmp = java.lang.Double.compare(s1, s2)
      if (cmp != 0) cmp > 0 else c1 < c2
    }.take(nProbe).map(_._2)
  }

  test("TopCells matches the driver-side reference on random corpora, all tiers") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    for ((cells, nProbe) <- Seq((24, 3), (24, 40), (300, 8), (17, 1))) {
      // duplicate one centroid so equal-score ties actually occur
      val base = Seq.fill(cells - 1)(Array.fill(8)(rnd.nextGaussian().toFloat))
      val cs = base :+ base.head.clone()
      val cnorms = cs.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
      val vecs = Seq.tabulate(120)(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      val e = vecs.toDF("vec_id", "embedding")
      val got = KMeans.assignTopCellsWith(e, cs, nProbe, cnorms)
        .select($"vec_id", $"cells").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      val want = vecs.map { case (id, emb) =>
        id -> reference(emb, cs, cnorms, nProbe).toList
      }.filter(_._2.nonEmpty).toMap
      assert(got == want, s"TopCells diverges from the reference at ${cells}c/p$nProbe")
    }
  }

  test("TopCells is bit-identical to the retired exploded-agg path") {
    import spark.implicits._
    val e = graft.tables.Tables.embeddings(spark, dir)
    val m = KMeans.fit(e, k = 24, maxIters = 5)
    val nrm = sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding")))
    val cnorms = m.centroids.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val now = KMeans.assignTopCellsWith(e, m.centroids, 5, cnorms)
      .select($"vec_id", $"cells").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    val exploded = KMeans.assignTopCellsExploded(e, m.centroids, nrm, cnorms, 5)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(now == exploded, "TopCells disagrees with the exploded-agg seam")
    // and the returned frame still carries (vec_id, embedding, nrm, cells)
    val cols = KMeans.assignTopCellsWith(e, m.centroids, 5, cnorms).columns.toSeq
    assert(cols == Seq("vec_id", "embedding", "nrm", "cells"))
  }

  test("argmax via TopCells k=1 matches the exploded seam, NaN poison included") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val cs = Seq.fill(24)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val cnorms = cs.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    // adversarial geometry: an Infinity centroid makes cnorm infinite,
    // so its score is Inf/Inf = NaN against every finite vector while
    // the other cells stay finite — the MIXED case where the argmax
    // contract (NaN wins max(struct) then fails the equality) degrades
    // the whole row to -1 but the multi-probe contract would keep the
    // valid cells. An Infinity EMBEDDING is the all-NaN case. Both
    // seams must agree with the TopCells route per contract.
    val infC = Array.fill(8)(Float.PositiveInfinity)
    val csAdv = cs.take(22) :+ infC :+ cs(22)
    val cnAdv = csAdv.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val vecs = Seq.tabulate(80)(i => (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat))) ++
      Seq((900L, Array.fill(8)(Float.PositiveInfinity)), (901L, Array.fill(8)(0f)))
    val e = vecs.toDF("vec_id", "embedding")
    val nrm = sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding")))
    for ((ctab, cn) <- Seq((cs, cnorms), (csAdv, cnAdv))) {
      val now = KMeans.assignCells(e, ctab).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val seam = KMeans.assignCellsExploded(e, ctab, nrm, cn)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(now == seam, "TopCells argmax diverges from the exploded seam")
    }
  }

  test("degenerate rows drop out of the TopCells path (absent, not empty)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cs = Seq.fill(20)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val cnorms = cs.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val good = (0L, Array.fill(8)(1f))
    val zero = (1L, Array.fill(8)(0f))
    val wrongDim = (2L, Array.fill(5)(1f))
    val e = Seq(good, zero, wrongDim).toDF("vec_id", "embedding")
      // a NULL embedding and a NULL element, appended with explicit types
      .union(Seq(3L).toDF("vec_id").select($"vec_id",
        lit(null).cast("array<float>").as("embedding")))
      .union(Seq(4L).toDF("vec_id").select($"vec_id",
        array(lit(1f), lit(null).cast("float"), lit(1f), lit(1f),
          lit(1f), lit(1f), lit(1f), lit(1f)).as("embedding")))
    val out = KMeans.assignTopCellsWith(e, cs, 3, cnorms)
      .select($"vec_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(0L),
      s"only the well-formed row may survive assignment, got $out")
  }

  test("separately-built TopCells expressions over the same model are semantically equal") {
    // The equals/hashCode override exists so subexpression elimination
    // and exchange reuse fire across two topCells() calls over the same
    // fitted model — case-class equality compared the Array fields by
    // reference and never matched. Build every model array FRESH
    // (cloned) so reference equality cannot pass the test by accident.
    // Children are BoundReferences: the resolved form the comparison
    // runs on in a real plan (unresolved Column-API children carry a
    // per-call-site Origin inside ColumnNodeExpression and never
    // compare equal — see the analyzed-plan test below for that path).
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType}
    val rnd = new scala.util.Random(11)
    val cs = Seq.fill(6)(Array.fill(4)(rnd.nextGaussian().toFloat))
    val cn = cs.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    def build(k: Int, cells: Seq[Array[Float]] = cs, norms: Seq[Double] = cn,
              poisons: Boolean = false) = graft.functions.TopCells(
      BoundReference(0, ArrayType(FloatType), nullable = true),
      BoundReference(1, DoubleType, nullable = true),
      cells.map(_.clone()).toArray.flatten, cells.head.length,
      norms.toArray, k, poisons)
    val a = build(3)
    val b = build(3)
    assert(a == b, "content-equal TopCells expressions must be ==")
    assert(a.hashCode == b.hashCode, "equal expressions must hash equal")
    assert(a.semanticEquals(b),
      "semanticEquals is the property subexpression elimination needs")
    // every semantic field must participate in the comparison
    assert(a != build(2), "k must discriminate")
    assert(a != build(3, poisons = true), "nanPoisons must discriminate")
    val bumped = cs.map(_.clone())
    bumped.head(0) += 1f
    assert(a != build(3, cells = bumped), "centroid content must discriminate")
    assert(a != build(3, norms = cn.updated(0, cn.head + 1.0)),
      "cnorm content must discriminate")
  }

  test("two topCells() API calls converge to semantically equal analyzed expressions") {
    // End-to-end form of the property above: the Column API wraps
    // children in ColumnNodeExpression (whose Origin differs per call
    // site), but the ANALYZED plan — where subexpression elimination
    // and exchange reuse actually compare trees — resolves them to
    // plain AttributeReferences, and the content-based model equality
    // takes it from there.
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val cs = Seq.fill(5)(Array.fill(4)(rnd.nextGaussian().toFloat))
    val cn = cs.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val df = Seq((1L, Array.fill(4)(1f), 2.0)).toDF("vec_id", "embedding", "nrm")
    def analyzedTopCells(k: Int): graft.functions.TopCells = {
      val out = df.select(VectorFunctions.topCells(
        col("embedding"), col("nrm"), cs.map(_.clone()), cn, k).as("cells"))
      out.queryExecution.analyzed.expressions.flatMap(_.collect {
        case t: graft.functions.TopCells => t
      }).head
    }
    val a = analyzedTopCells(3)
    val b = analyzedTopCells(3)
    assert(a semanticEquals b,
      "analyzed TopCells from separate API calls must semanticEquals")
    assert(!(a semanticEquals analyzedTopCells(2)),
      "different k must not semanticEquals")
  }
}
