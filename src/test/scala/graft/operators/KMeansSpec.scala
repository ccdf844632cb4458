package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite
import graft.functions.VectorFunctions

/** The IVF fit step: Lloyd's converges, is bit-deterministic at any
  * parallelism (quantized sums), and produces centroids that beat the
  * single-global-centroid baseline. */
class KMeansSpec extends AnyFunSuite with GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  test("two-level seeding (k > MaxFlatSeedCells): exactly k distinct seeds, deterministic") {
    // pure driver-side math — a synthetic pool keeps it fast and lets k
    // exceed the flat threshold without a giant fixture. Quality of the
    // resulting FIT is the smoke's job (4096-cell tier recall bar);
    // here the seeding CONTRACT is what's proven.
    val rnd = new scala.util.Random(11)
    val sample = Array.tabulate(4000)(i =>
      ((i * 37 % 4000).toLong, Array.fill(16)(rnd.nextFloat() - 0.5f)))
    val k = KMeans.MaxFlatSeedCells + 76 // forces the two-level walk
    val s1 = KMeans.seedIndices(sample, k)
    val s2 = KMeans.seedIndices(sample, k)
    assert(s1 == s2, "two-level seeding must be deterministic")
    assert(s1.length == k && s1.distinct.length == k,
      s"expected $k distinct seeds, got ${s1.distinct.length}")
    // flat path below the threshold: same contract
    val f1 = KMeans.seedIndices(sample, 64)
    assert(f1 == KMeans.seedIndices(sample, 64))
    assert(f1.length == 64 && f1.distinct.length == 64)
    // pool == k degenerates to "every point is a seed" on both paths
    val tiny = sample.take(KMeans.MaxFlatSeedCells + 76)
    val all = KMeans.seedIndices(tiny, tiny.length)
    assert(all.sorted == tiny.indices.toSeq, "pool==k must seed every point")
    intercept[IllegalArgumentException] { KMeans.seedIndices(sample.take(10), 11) }
  }

  test("fit converges, is deterministic, and beats the 1-centroid baseline") {
    val e = graft.tables.Tables.embeddings(spark, dir)
    val m1 = KMeans.fit(e, k = 8, maxIters = 30)
    assert(m1.converged, s"did not converge in ${m1.iters} iterations")

    // bit-determinism: a second fit reproduces every centroid component
    val m2 = KMeans.fit(e, k = 8, maxIters = 30)
    assert(m1.centroids.zip(m2.centroids).forall { case (a, b) => a.sameElements(b) })

    // every vector lands in a valid cell; at least half the cells are used
    val cells = KMeans.assignCells(e, m1.centroids)
    val dist = cells.groupBy("cell").count().collect()
    assert(dist.forall(r => r.getInt(0) >= 0 && r.getInt(0) < 8))
    assert(dist.length >= 4, s"only ${dist.length} of 8 cells used")

    // mean cosine to the OWN fitted centroid must beat the global-mean
    // baseline — the fit has to actually cluster
    def meanCos(centroids: Seq[Array[Float]]): Double = {
      val assigned = KMeans.assignCells(e, centroids)
      val withCos = e.join(assigned, "vec_id")
        .withColumn("cos",
          centroids.indices.foldRight(lit(Double.NaN)) { (i, els) =>
            when(col("cell") === i,
              VectorFunctions.vecCosine(col("embedding"),
                typedLit(centroids(i).toSeq))).otherwise(els)
          })
      withCos.agg(avg(col("cos"))).head().getDouble(0)
    }
    val global = KMeans.fit(e, k = 1, maxIters = 5)
    val fitted = meanCos(m1.centroids)
    val baseline = meanCos(global.centroids)
    info(f"mean cos to own centroid: fitted $fitted%.4f vs 1-centroid $baseline%.4f")
    assert(fitted > baseline, f"k-means no better than baseline ($fitted%.4f <= $baseline%.4f)")
  }

  test("fit survives a zero-norm padding row among the smallest vec_ids") {
    import spark.implicits._
    // a failed-embedding padding row with the SMALLEST id must not crash
    // the fit by being picked as a seed; its data row just lands in -1
    val zero = Seq((-1L, Array.fill(64)(0f))).toDF("vec_id", "embedding")
    val e = graft.tables.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding").union(zero)
    val m = KMeans.fit(e, k = 4, maxIters = 30)
    assert(m.converged)
    assert(m.centroids.forall(c => c.exists(_ != 0f)), "a zero seed slipped through")
    val cells = KMeans.assignCells(e, m.centroids).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(-1L) == -1, "zero-norm row must be unassignable (cell -1)")
  }

  test("fit fails loud when k x dim exceeds the documented driver-collect bound") {
    import spark.implicits._
    // the Lloyd's step collects k x dim (cell, dim, mean) driver rows per
    // iteration; a 1024-dim corpus at a 4096-cell tier would be ~4.2M rows
    // — over MaxMeansDriverRows. The require must fire BEFORE any
    // iteration runs (no silent driver OOM mid-fit).
    val dim = 70000 // 32 * 70000 = 2.24M > MaxMeansDriverRows (2^21)
    val wide = (0 until 32).map { i =>
      (i.toLong, Array.tabulate(dim)(j => ((i + j) % 7 + 1).toFloat))
    }.toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      KMeans.fit(wide, k = 32, maxIters = 1)
    }
    assert(ex.getMessage.contains("MaxMeansDriverRows"),
      s"must name the documented bound: ${ex.getMessage}")
    assert(32L * dim > KMeans.MaxMeansDriverRows) // the test premise
    assert(4096L * 64 <= KMeans.MaxMeansDriverRows,
      "the production 4096-cell x 64-dim tier must stay under the cap")
  }

  test("exploded argmax (large-k path) assigns identically to the when-chain") {
    // the k > MaxWhenChainCells assignment path must be bit-identical to
    // the literal when-chain it replaces (same arithmetic, same ties)
    val e = graft.tables.Tables.embeddings(spark, dir)
    val m = KMeans.fit(e, k = 8, maxIters = 10)
    val nrm = sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding")))
    val viaChain = KMeans.assignCells(e, m.centroids).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaExplode = KMeans.assignCellsExploded(e, m.centroids, nrm,
        m.centroids.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaChain == viaExplode, "argmax paths disagree")
    // and a large-k assignment runs without the 64 KB codegen overflow
    val m64 = KMeans.fit(e, k = 24, maxIters = 3)
    val assigned = KMeans.assignCells(e, m64.centroids)
    assert(assigned.groupBy("cell").count().collect()
      .forall(r => r.getInt(0) >= 0 && r.getInt(0) < 24))
  }

  test("assignTopCells: best cell matches assignCells on both plan paths; probe sets sane") {
    val e = graft.tables.Tables.embeddings(spark, dir)
    for (k <- Seq(8, 24)) { // when-chain path and exploded path
      val m = KMeans.fit(e, k = k, maxIters = 5)
      val single = KMeans.assignCells(e, m.centroids).collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val multi = KMeans.assignTopCells(e, m.centroids, 3).collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](3)).toMap
      multi.foreach { case (id, cells) =>
        assert(cells.nonEmpty && cells.length <= 3, s"vec $id probe set $cells")
        assert(cells.head == single(id),
          s"vec $id: top probe ${cells.head} != argmax cell ${single(id)} (k=$k)")
        assert(cells.distinct == cells, s"vec $id duplicate probes $cells")
      }
      // every assignable vector keeps a probe set
      assert(multi.keySet == single.filter(_._2 >= 0).keySet)
    }
  }

  test("broadcast-centroid paths assign bit-identically to the literal paths") {
    // the > MaxLiteralCells plan shapes (broadcast-table cross join +
    // max_by argmax; 1-row broadcast + in-row top-n) must reproduce the
    // literal-table assignments exactly — same arithmetic, same ties.
    // A zero-norm padding row rides along: bit-identity includes the
    // DROPPED row set (the in-row paths filter empty probe sets; the
    // exploded path drops them structurally), so every variant must
    // agree the row is absent — not return it with an empty array.
    import spark.implicits._
    val zeroRow = Seq((-7L, Array.fill(64)(0f))).toDF("vec_id", "embedding")
    val e = graft.tables.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding").union(zeroRow)
    val m = KMeans.fit(e, k = 24, maxIters = 5)
    val nrm = sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding")))
    val cnorms = m.centroids.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val viaLit = KMeans.assignCellsExploded(e, m.centroids, nrm, cnorms, Some(false))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaBcast = KMeans.assignCellsExploded(e, m.centroids, nrm, cnorms, Some(true))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaLit == viaBcast, "argmax: broadcast join disagrees with literal explode")
    val topLit = KMeans.assignTopCells(e, m.centroids, 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](3)).toMap
    val topBcast = KMeans.assignTopCellsBroadcast(e, m.centroids, nrm, cnorms, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](3)).toMap
    assert(topLit == topBcast, "top-n: in-row broadcast disagrees with exploded agg")
    // and against the small-k when-chain in-row form
    val m8 = KMeans.fit(e, k = 8, maxIters = 5)
    val cn8 = m8.centroids.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    val chain = KMeans.assignTopCells(e, m8.centroids, 3).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](3)).toMap
    val bcast8 = KMeans.assignTopCellsBroadcast(e, m8.centroids, nrm, cn8, 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](3)).toMap
    assert(chain == bcast8, "top-n: in-row broadcast disagrees with when-chain")
    // the zero-norm row must be ABSENT from every variant's output
    assert(!topLit.contains(-7L) && !topBcast.contains(-7L) &&
      !chain.contains(-7L) && !bcast8.contains(-7L),
      "a zero-norm row must drop out of every assignTopCells plan path")
  }

  test("a >MaxLiteralCells cell count assigns sane probe sets via the public API") {
    // 300 centroids routes assignCells through the broadcast-join argmax
    // and assignTopCells through the in-row broadcast — the two must
    // agree on the best cell, the √N-tier analogue of the 8/24 check
    val rnd = new scala.util.Random(11)
    val cs = Seq.fill(KMeans.MaxLiteralCells + 44)(
      Array.fill(64)(rnd.nextGaussian().toFloat))
    val e = graft.tables.Tables.embeddings(spark, dir)
    val single = KMeans.assignCells(e, cs).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val multi = KMeans.assignTopCells(e, cs, 5).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](3)).toMap
    assert(multi.nonEmpty)
    multi.foreach { case (id, cells) =>
      assert(cells.nonEmpty && cells.length <= 5 && cells.distinct == cells,
        s"vec $id probe set $cells")
      assert(cells.head == single(id),
        s"vec $id: top probe ${cells.head} != argmax cell ${single(id)}")
    }
  }

  test("fit runs end-to-end through the >MaxLiteralCells broadcast argmax") {
    // every Lloyd's iteration at this k takes the broadcast-centroid
    // assignment plan; the fit must still converge deterministically
    // and produce in-range, mostly-populated cells
    val e = graft.tables.Tables.embeddings(spark, dir)
    val k = KMeans.MaxLiteralCells + 20
    val m1 = KMeans.fit(e, k = k, maxIters = 3)
    val m2 = KMeans.fit(e, k = k, maxIters = 3)
    assert(m1.centroids.zip(m2.centroids).forall { case (a, b) => a.sameElements(b) },
      "large-k fit must be bit-deterministic")
    val cells = KMeans.assignCells(e, m1.centroids).collect().map(_.getInt(1))
    assert(cells.forall(c => c >= 0 && c < k))
    assert(cells.distinct.length > k / 4, "large-k fit degenerated to few cells")
  }

  test("large-cell probe-set assignment plans exchange-free (in-row TopCells)") {
    // the scale claim is structural and (round 14) stronger than the
    // retired broadcast-table shape: each row scores and selects its
    // probe set IN the row via the TopCells expression, whose centroid
    // matrix rides as a plan reference object — so the plan has NO
    // exchange of any kind: no per-vector shuffle at any cell count,
    // and not even a centroid broadcast join to schedule
    val rnd = new scala.util.Random(5)
    val cs = Seq.fill(KMeans.MaxLiteralCells + 10)(
      Array.fill(64)(rnd.nextGaussian().toFloat))
    val df = KMeans.assignTopCells(
      graft.tables.Tables.embeddings(spark, dir), cs, 5)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the only exchange allowed is the fixture reader's own round-robin
    // repartition (Tables.embeddings) — the assignment itself adds no
    // shuffle AND no broadcast (the retired shape needed the centroid
    // table broadcast; the reference object doesn't)
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning") &&
      !plan.contains("Exchange SinglePartition") &&
      !plan.contains("BroadcastExchange"),
      s"expected an in-row assignment plan with no assignment exchange:\n$plan")
    assert(plan.contains("top_cells"),
      s"expected the TopCells expression in the plan:\n$plan")
  }

  test("assignTopCells drops zero-norm rows (empty probe set)") {
    import spark.implicits._
    val zero = Seq((-1L, Array.fill(64)(0f))).toDF("vec_id", "embedding")
    val e = graft.tables.Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding").union(zero)
    val m = KMeans.fit(e, k = 4, maxIters = 10)
    val multi = KMeans.assignTopCells(e, m.centroids, 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](3)).toMap
    assert(!multi.contains(-1L),
      "zero-norm row must DROP OUT (not carry an empty probe set)")
  }

  test("a lone tiny-positive member must not quantize its centroid to all-zero") {
    import spark.implicits._
    // Every component in [0, 1e-6) floor-quantizes to 0 in the Lloyd's
    // mean, yet the vector is LEGAL input (norm > 0) and — being
    // maximally far by cosine from an orthogonal cluster — a guaranteed
    // Gonzalez seed that sits alone in its cell. Without the
    // degenerate-mean fallback the next iteration's assignCells require
    // crashes mid-fit (or a maxIters-terminated Model crashes
    // assignTopCells downstream).
    val rnd = new scala.util.Random(3)
    val cluster = (0L until 12L).map { i =>
      (i, Array.tabulate(8)(d => (if (d == 0) 10f else 0f) + rnd.nextGaussian().toFloat * 0.01f))
    }
    val tiny = (99L, Array.tabulate(8)(d => if (d == 7) 1e-7f else 0f))
    val e = (cluster :+ tiny).toDF("vec_id", "embedding")
    val m = KMeans.fit(e, k = 2, maxIters = 5)
    assert(m.centroids.forall(c => c.exists(_ != 0f)),
      "a degenerate mean must keep the previous centroid, not go all-zero")
    // the model stays usable downstream
    val cells = KMeans.assignCells(e, m.centroids).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(cells(99L) >= 0, "the tiny-positive row is assignable (norm > 0)")
  }
}
