package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite
import graft.functions.{CellTopKOps, VectorFunctions}

/** The round-14 kernel change ([[Similarity.knnJoinIvfKernel]] scoring
  * in-row via [[graft.functions.CellTopK]] instead of materializing
  * every candidate row into a TopKByScore aggregate) is a pure plan
  * transformation — this spec pins BIT-IDENTITY of the full kernel
  * against the retired per-candidate-row formulation, reconstructed
  * here verbatim, on corpora that exercise ties, duplicates, caps,
  * degenerate rows, and multi-chunk cells. */
class CellTopKSpec extends AnyFunSuite with GraftSuite {

  /** The pre-round-14 kernel, verbatim: every (query, neighbor)
    * candidate as a row, scored in the join projection, trimmed by the
    * TopKByScore aggregate. Kept here as the semantic reference. */
  private def retiredKernel(e0: DataFrame, k: Int,
      centroids: Seq[Array[Float]], cnorms: Seq[Double],
      nProbe: Int, maxPop: Long): DataFrame = {
    val assigned = Similarity.capCells(
      KMeans.assignTopCellsWith(e0, centroids, nProbe, cnorms), maxPop)
    val probe = assigned.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(col("cells")).as("cell"))
    // try_element_at (not the retired code's element_at): the retired
    // kernel shared the latent inferred-isnotnull ANSI throw this spec's
    // cap test exposed — see the Similarity.ivfCellPairs comment; on
    // surviving rows the two are identical, so bit-identity still holds
    val index = assigned.select(col("vec_id").as("nbr_id"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"),
      try_element_at(col("cells"), lit(1)).as("cell"))
    probe.join(index, Seq("cell"))
      .where(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        round(try_divide(VectorFunctions.vecDot(col("embedding"), col("emb_b")),
          col("nrm") * col("nrm_b")), 3).as("cos"))
      .groupBy(col("vec_id"))
      .agg(VectorFunctions.topkByScore(col("cos"), col("nbr_id"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("rk0", "t")))
      .select(col("vec_id"), col("t.id").as("nbr_id"),
        col("t.score").as("cos"), (col("rk0") + 1).cast("int").as("rk"))
  }

  private def collectRows(df: DataFrame): Set[(Long, Long, Double, Int)] =
    df.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  private def corpus(n: Int, dim: Int, seed: Int,
                     withDegenerates: Boolean): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val base = (0 until n).map { i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat).toSeq)
    }
    // duplicates on purpose: equal embeddings give equal rounded scores,
    // so the (score desc, id asc) tiebreak is load-bearing
    val dups = (0 until n / 10).map { i =>
      ((n + i).toLong, base(rnd.nextInt(n))._2)
    }
    val degenerates: Seq[(Long, Seq[Float])] =
      if (!withDegenerates) Seq.empty
      else Seq(
        ((2 * n).toLong, Seq.fill(dim)(0f)),                   // zero norm
        ((2 * n + 1).toLong, null.asInstanceOf[Seq[Float]]),   // NULL embedding (filtered upstream in prod; must not crash)
        ((2 * n + 2).toLong, Seq.fill(dim - 1)(1f)))           // wrong dim
    import spark.implicits._
    (base ++ dups ++ degenerates).toDF("vec_id", "embedding")
      // mirror knnJoinIvf's e0 pre-filters (the kernel contract)
      .where(col("embedding").isNotNull)
      .where(VectorFunctions.vecDot(col("embedding"), col("embedding")) > 0)
      .where(size(col("embedding")) === dim)
  }

  private def seededCentroids(cells: Int, dim: Int, seed: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(cells, dim)(rnd.nextGaussian().toFloat.toDouble.toFloat).map(_.toArray)
  }

  test("kernel is bit-identical to the retired per-candidate-row formulation") {
    for (seed <- Seq(1, 2)) {
      val e0 = corpus(n = 1500, dim = 8, seed = seed, withDegenerates = true)
      val cs = seededCentroids(6, 8, seed + 100)
      val cn = cs.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
      val neu = collectRows(Similarity.knnJoinIvfKernel(
        e0, 5, cs, cn, nProbe = 3, maxPop = Long.MaxValue))
      val old = collectRows(retiredKernel(
        e0, 5, cs, cn, nProbe = 3, maxPop = Long.MaxValue))
      assert(neu == old, s"seed $seed: in-row kernel diverged from the reference")
      assert(neu.nonEmpty)
    }
  }

  test("kernel matches the reference with the cell-population cap engaged") {
    val e0 = corpus(n = 1500, dim = 8, seed = 7, withDegenerates = false)
    val cs = seededCentroids(6, 8, 77)
    val cn = cs.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    // a cap low enough to actually drop cells at this geometry
    val neu = collectRows(Similarity.knnJoinIvfKernel(e0, 5, cs, cn, 3, maxPop = 400))
    val old = collectRows(retiredKernel(e0, 5, cs, cn, 3, maxPop = 400))
    assert(neu == old, "capped kernel diverged from the reference")
  }

  test("multi-chunk cells (pop > IvfChunkRows) merge to the same global top-k") {
    // 2 centroids over 11k vectors -> ~5.5k members per cell, 2 chunks each
    assert(Similarity.IvfChunkRows == 4096, "test geometry assumes the 4096 chunk size")
    val e0 = corpus(n = 10000, dim = 4, seed = 3, withDegenerates = false)
    val cs = seededCentroids(2, 4, 33)
    val cn = cs.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val neu = collectRows(Similarity.knnJoinIvfKernel(e0, 5, cs, cn, 1, Long.MaxValue))
    val old = collectRows(retiredKernel(e0, 5, cs, cn, 1, Long.MaxValue))
    assert(neu == old, "multi-chunk kernel diverged from the reference")
    assert(neu.nonEmpty)
  }

  test("CellTopKOps.compute score arithmetic matches Spark's round(try_divide(vec_dot))") {
    // halfway cases and sign flips through BOTH arithmetic paths: the
    // DataFrame expression chain vs the expression's fused loop
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val qs = (0 until 64).map(_ => Array.fill(3)(rnd.nextGaussian().toFloat).toSeq)
    val ms = (0 until 64).map(_ => Array.fill(3)(rnd.nextGaussian().toFloat).toSeq)
    val df = qs.zip(ms).zipWithIndex
      .map { case ((q, m), i) => (i.toLong, q, m) }
      .toDF("id", "q", "m")
      .withColumn("qn", sqrt(VectorFunctions.vecDot(col("q"), col("q"))))
      .withColumn("mn", sqrt(VectorFunctions.vecDot(col("m"), col("m"))))
    val viaSpark = df.select(col("id"),
      round(try_divide(VectorFunctions.vecDot(col("q"), col("m")),
        col("qn") * col("mn")), 3).as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val viaExpr = df.select(col("id"),
      VectorFunctions.cellTopK(col("q"), col("qn"),
        array(struct(lit(999L).as("id"), col("m").as("emb"), col("mn").as("nrm"))),
        col("id"), 1).as("top"))
      .select(col("id"), element_at(col("top"), 1).getField("score").as("cos"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaExpr == viaSpark, "fused-loop rounding diverged from Spark's round()")
  }

  test("compute skips self, null-element, wrong-dim, and zero-norm members; ties break to lower id") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val memberType = ArrayType(StructType(Seq(
      StructField("id", LongType), StructField("emb", ArrayType(FloatType)),
      StructField("nrm", DoubleType))))
    val schema = StructType(Seq(
      StructField("q", ArrayType(FloatType)), StructField("qn", DoubleType),
      StructField("members", memberType), StructField("self", LongType)))
    val members = Seq(
      Row(5L, Seq(1f, 0f), 1.0),            // self -> skipped
      Row(7L, Seq(1f, null), 1.0),          // null element -> skipped
      Row(8L, Seq(1f), 1.0),                // wrong dim -> skipped
      Row(9L, Seq(1f, 0f), 0.0),            // zero divisor -> skipped
      Row(2L, Seq(1f, 0f), 1.0),            // cos 1.0
      Row(1L, Seq(1f, 0f), 1.0),            // cos 1.0 — tie, lower id wins
      Row(3L, Seq(0f, 1f), 1.0))            // cos 0.0
    val df = spark.createDataFrame(
      java.util.List.of(Row(Seq(1f, 0f), 1.0, members, 5L)), schema)
    val out = df.select(explode(VectorFunctions.cellTopK(
        col("q"), col("qn"), col("members"), col("self"), 2)).as("t"))
      .select(col("t.score"), col("t.id"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).toList
    assert(out == List((1.0, 1L), (1.0, 2L)))
  }

  test("ivfCellPairs survives a cap that empties every probe set (latent ANSI throw)") {
    // regression for the bug this spec's cap test exposed: with every
    // cell over cap, the inferred isnotnull(primary cell) used to
    // evaluate element_at on the emptied arrays ahead of the size guard
    val e0 = corpus(n = 600, dim = 8, seed = 9, withDegenerates = false)
    val cs = seededCentroids(4, 8, 99)
    val assigned = KMeans.assignTopCellsWith(e0, cs,
      2, cs.map(c => math.sqrt(c.map(x => x.toDouble * x).sum)))
    assert(Similarity.ivfCellPairs(assigned, 0.4, maxPop = 1).count() == 0)
    val csK = cs.map(identity)
    val cnK = csK.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    assert(Similarity.knnJoinIvfKernel(e0, 5, csK, cnK, 2, maxPop = 1).count() == 0)
  }

  test("compute returns empty for a query embedding with a null element") {
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.catalyst.InternalRow
    val q = new GenericArrayData(Array[Any](1.0f, null))
    val member = InternalRow(1L,
      ArrayData.toArrayData(Array(1.0f, 0.0f)), 1.0)
    val out = CellTopKOps.compute(q, 1.0,
      new GenericArrayData(Array[Any](member)), 99L, 3)
    assert(out.numElements() == 0)
  }
}
