package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite
import graft.functions.VectorFunctions

/** kNN-join semantics: structure (k per vector, ranked), and measured
  * recall against the brute-force ground truth. */
class SimilaritySpec extends AnyFunSuite with GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  test("ss8 PQ: deterministic m-code encoding, in-range codes, useful re-ranked recall vs ss1") {
    val e = graft.tables.Tables.embeddings(spark, dir)
    val model = ProductQuantizer.fit(e, m = 8, k = 32, maxIters = 5)
    assert(model.m == 8 && model.k == 32 && model.subDim == 8)
    val enc = ProductQuantizer.encode(e, model).cache()
    assert(enc.count() == e.count(), "every well-formed vector must encode")
    val codes = enc.select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes.values.forall(cs => cs.length == 8 && cs.forall(c => c >= 0 && c < 32)))
    val again = ProductQuantizer.encode(e, model).select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(codes == again, "encoding must be bit-deterministic")
    // re-ranked top-10 for the ss1 query vs exact brute force
    val exact = Similarity.ss1CosineTopk(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val pq = Similarity.ss8PqTopk(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(pq.size == 10)
    val recall = (pq & exact).size / 10.0
    info(f"PQ re-ranked recall@10 vs exact: $recall%.2f")
    assert(recall >= 0.6, f"PQ recall@10 $recall%.2f below the .6 bar")
    enc.unpersist()
  }

  test("ss9 IVF-PQ: cell-pruned encoded scan, deterministic encode, re-ranked recall vs ss1") {
    val e = graft.tables.Tables.embeddings(spark, dir)
    val model = IvfPq.fit(e, cells = 8)
    assert(model.centroids.size == 8 && model.pq.m == 8 && model.pq.k == 32)
    val enc = IvfPq.encode(e, model).cache()
    assert(enc.count() == e.count(), "every well-formed vector must encode")
    val rows = enc.collect()
    assert(rows.forall { r =>
      val cs = r.getSeq[Int](2)
      r.getInt(1) >= 0 && r.getInt(1) < 8 &&
        cs.length == 8 && cs.forall(c => c >= 0 && c < 32)
    }, "cells and codes must be in range")
    val again = IvfPq.encode(e, model).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet
    assert(rows.map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2))).toSet == again,
      "IVF-PQ encoding must be bit-deterministic")
    // probing fewer cells than exist must scan strictly fewer coded rows
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val corpus = e.where(col("vec_id") =!= 0)
    val probedOnly = IvfPq.topK(corpus, enc, model, q,
      nProbe = 2, topK = 10, rerank = 100)
    assert(probedOnly.count() == 10, "probed search still fills top-k")
    // end-to-end entry: recall@10 vs exact brute force (residual PQ +
    // 6-of-8 probe should not lose to flat PQ's .9 here)
    val exact = Similarity.ss1CosineTopk(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivfpq = Similarity.ss9IvfPqTopk(spark, dir)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(ivfpq.size == 10)
    val recall = (ivfpq & exact).size / 10.0
    info(f"IVF-PQ re-ranked recall@10 vs exact: $recall%.2f")
    assert(recall >= 0.6, f"IVF-PQ recall@10 $recall%.2f below the .6 bar")
    enc.unpersist()
  }

  test("ss9 withResidual: broadcast centroid-join path matches the literal path bit-for-bit") {
    // past KMeans.MaxLiteralCells the residual's centroid lookup becomes
    // a broadcast equi-join on cell; the float subtraction must be the
    // literal element_at path's exactly
    val e = graft.tables.Tables.embeddings(spark, dir)
    val m = KMeans.fit(e, k = 20, maxIters = 3)
    def resOf(bp: Boolean): Map[Long, (Int, Seq[Float])] =
      IvfPq.withResidual(e, m.centroids, Some(bp)).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getSeq[Float](3)))).toMap
    val lit = resOf(false)
    val bcast = resOf(true)
    assert(lit.keySet == bcast.keySet)
    lit.foreach { case (id, (cell, res)) =>
      assert(bcast(id)._1 == cell, s"vec $id cell differs")
      assert(bcast(id)._2 == res, s"vec $id residual differs")
    }
  }

  test("ss9 IVF-PQ degrades to exact brute force when fully opened (all cells, rerank=N)") {
    // probing every cell and re-ranking every candidate leaves only the
    // exact-cosine re-rank — the result must be bit-identical to ss1
    // (same rounding, same tie order). This pins the two-stage plumbing:
    // any row lost or duplicated by encode/probe/dedup would break it.
    val e = graft.tables.Tables.embeddings(spark, dir)
    val model = IvfPq.fit(e, cells = 8)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val corpus = e.where(col("vec_id") =!= 0)
    val n = corpus.count().toInt
    val opened = IvfPq.topK(corpus, IvfPq.encode(corpus, model), model, q,
      nProbe = 8, topK = 10, rerank = n).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val exact = Similarity.ss1CosineTopk(spark, dir).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(opened.toSeq == exact.toSeq,
      "fully-opened IVF-PQ must equal brute-force top-k exactly")
  }

  test("ss9 IVF-PQ: a persisted cell-partitioned encoded table prunes to the probed cells") {
    // the production deployment the IvfPq scaladoc describes: encode
    // once, persist partitioned by cell, and a probe's cell filter must
    // become PartitionFilters on the scan — files of unprobed cells are
    // never read, which is the IVF scan cut at 100 TB
    val e = graft.tables.Tables.embeddings(spark, dir)
    val model = IvfPq.fit(e, cells = 8)
    val tmp = java.nio.file.Files.createTempDirectory("ivfpq_enc").toString
    try {
      IvfPq.encode(e, model).write.mode("overwrite")
        .partitionBy("cell").parquet(tmp)
      val enc = spark.read.parquet(tmp)
      val pruned = enc.where(col("cell").isin(0, 3))
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
        s"expected cell partition filters in:\n$plan")
      val q = e.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      // the probe path over the persisted table still fills top-k
      assert(IvfPq.topK(e.where(col("vec_id") =!= 0), enc, model, q,
        nProbe = 6, topK = 10, rerank = 100).count() == 10)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("ss5 kNN join: at most k ranked neighbors per vector; useful recall vs brute force") {
    val k = 5
    val knn = Similarity.ss5KnnJoin(spark, dir, k)
    val rows = knn.collect()
    val byVec = rows.groupBy(_.getLong(0))
    assert(byVec.values.forall(_.length <= k))
    // ranks are 1..n and cos non-increasing within each vector
    byVec.values.foreach { g =>
      val sorted = g.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).sameElements(1 to sorted.length))
      assert(sorted.map(_.getDouble(2)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }

    // brute-force ground truth top-k per vector
    val e = graft.tables.Tables.embeddings(spark, dir).select(
      col("vec_id"), col("embedding"),
      sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding"))).as("nrm"))
    val a = e.select(col("vec_id"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("nbr_id"), col("embedding").as("eb"), col("nrm").as("nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nbr_id"))
    val truth = a.join(b, col("vec_id") =!= col("nbr_id"))
      .withColumn("cos", round(
        VectorFunctions.vecDot(col("ea"), col("eb")) / (col("na") * col("nb")), 3))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("vec_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (found & truth).size.toDouble / truth.size
    info(f"kNN recall@$k vs brute force: $recall%.3f (16 tables x 4 bits)")
    // 16x4-bit hyperplane tables: measured ~.9 on this corpus; leave
    // slack for fixture regeneration
    assert(recall > 0.5, f"recall $recall%.3f too low")

    // ss6 (exact twin) must reproduce the brute-force ground truth EXACTLY
    val ss6 = Similarity.ss6KnnExact(spark, dir, k).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ss6 == truth, "ss6_knn_exact must equal the brute-force top-k set")
  }

  test("knnJoinGeom emits each neighbor at most once per query under all-table collisions") {
    import spark.implicits._
    // the kNN stride of the shared lshCollisionPairs kernel (stride =
    // bits, every lane full) — the direct analogue of the pair route's
    // 12-bit dedup test: clusters of near-identical vectors collide in
    // EVERY table, exactly where a first-collision rule with a
    // miscomputed earlier-mask would emit a (query, neighbor) pair once
    // per colliding table; the per-query window would then rank the
    // same nbr_id at several rk values
    val rnd = new scala.util.Random(11)
    val e = (0 until 40).flatMap { c =>
      val center = Array.fill(64)(rnd.nextGaussian().toFloat)
      (0 until 5).map(i => (c.toLong * 5 + i,
        center.map(x => x + 0.0001f * i).toSeq))
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    val out = Similarity.knnJoinGeom(e, k = 10, 64, Some((16, 4))).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty)
    assert(out.length == out.distinct.length,
      "join-time first-collision dedup emitted a duplicate (query, neighbor) pair")
  }

  test("kNN tier geometries: measured rank-recall per KnnLshTiers row") {
    // every KnnLshTiers geometry gets a recall number against the exact
    // ground truth — the upper tiers never engage at fixture scale, so
    // without forcing them here their recall would be unmeasured until
    // a >16k-row corpus lands on them
    val e = graft.tables.Tables.embeddings(spark, dir)
    val truth = Similarity.ss6KnnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(found: Set[(Long, Long)]): Double =
      (found & truth).size.toDouble / truth.size
    val recalls = Similarity.KnnLshTiers.map { case (_, tables, bits) =>
      val rec = recallOf(Similarity.knnJoinGeom(e, 5, 64, Some((tables, bits)))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      info(f"kNN geometry ${tables}x$bits: recall@5 $rec%.3f")
      rec
    }
    assert(recalls.head > 0.5, f"home-tier recall ${recalls.head}%.3f too low")

    // the IVF route that replaces the collapsed upper LSH tiers, at its
    // two operating points: the home analogue (8c/p6) and the routed
    // at-scale geometry (64c/p16 — knnNProbeFor). Probe-depth ladder at
    // 64c seeded measured once: p6 .277, p12 .442, p16 .530, p24 .674
    // (recorded in the knnNProbeFor scaladoc — this test pins the two
    // points the router actually uses).
    val e0 = e.where(VectorFunctions.vecDot(col("embedding"), col("embedding")) > 0)
    def seededRecall(cells: Int): Double = {
      val nProbe = Similarity.knnNProbeFor(cells)
      val rec = recallOf(Similarity.knnJoinIvfKernel(e0, 5,
          Similarity.seededCentroidsForTest(cells, 64), Seq.fill(cells)(1.0),
          nProbe, Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      info(f"kNN IVF seeded ${cells}c/p$nProbe: recall@5 $rec%.3f")
      rec
    }
    val seeded8 = seededRecall(8)   // measured .891 — on par with 16x4 LSH
    val seeded64 = seededRecall(64) // measured .530 — vs the 8x8 tier's .138
    // fitted centroids — the quality ceiling of the same kernel
    val m = KMeans.fit(e0, k = 64, maxIters = 5)
    val fitted64 = recallOf(Similarity.knnJoinIvfKernel(e0, 5, m.centroids,
        m.centroids.map(c => math.sqrt(c.map(x => x.toDouble * x).sum)),
        Similarity.knnNProbeFor(64), Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
    info(f"kNN IVF fitted 64c/p16: recall@5 $fitted64%.3f") // measured .786
    assert(seeded8 > 0.7, f"IVF kNN home-analogue recall $seeded8%.3f too low")
    assert(seeded64 > recalls(1) + 0.2,
      f"routed IVF kNN recall $seeded64%.3f must clearly beat the 8x8 LSH tier (${recalls(1)}%.3f)")
    assert(fitted64 > seeded64,
      f"fitted centroids ($fitted64%.3f) must beat seeded ($seeded64%.3f)")

    // the public router: past the home tier knnJoin must take the IVF
    // route — same schema, exactly <= k ranked rows per vector
    val routed = Similarity.knnJoinIvf(e, 5)
    assert(routed.columns.toSeq == Seq("vec_id", "nbr_id", "cos", "rk"))
    val byVec = routed.collect().groupBy(_.getLong(0))
    assert(byVec.values.forall(g => g.length <= 5 &&
      g.map(_.getInt(3)).sorted.sameElements(1 to g.length)))

    // fully opened (probe every cell), the kernel must degrade to EXACT
    // kNN bit-for-bit — every candidate survives, so only the
    // TopKByScore ranking is left, and it must equal ss6's window-based
    // exact ranks including cos values and tie order (pins the agg's
    // update/merge/eval path end-to-end, the ss9 degradation idiom)
    val openedDf = Similarity.knnJoinIvfKernel(e0, 5,
        Similarity.seededCentroidsForTest(8, 64), Seq.fill(8)(1.0),
        nProbe = 8, maxPop = Long.MaxValue)
    val opened = openedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val exact6 = Similarity.ss6KnnExact(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(opened == exact6, "fully-opened IVF kNN must equal exact kNN")

    // the scale claim is structural: the top-k must run as a two-phase
    // ObjectHashAggregate (partial_topk_by_score map-side), so the
    // exchange carries pre-trimmed k-row buffers, not candidate rows
    val kernelPlan = openedDf.queryExecution.executedPlan.toString
    assert(kernelPlan.contains("ObjectHashAggregate") &&
      kernelPlan.contains("partial_topk_by_score"),
      s"expected a partial topk_by_score aggregation pass in:\n$kernelPlan")
  }

  test("ss6 guard trips on oversized input") {
    // the exact kNN join is quadratic work; a corpus past the byte cap
    // must fail fast instead of launching N² dot products
    import spark.implicits._
    val big = spark.range(100L * 1000 * 1000)
      .select(col("id").as("vec_id"))
    intercept[IllegalArgumentException] {
      graft.operators.Guards.requireEstimatedBytesAtMost(
        big, Similarity.MaxExactKnnBytes, "ss6_knn_exact")
    }
  }

  test("ss3 guard trips on oversized input (exact pair scan is quadratic)") {
    val big = spark.range(100L * 1000 * 1000)
      .select(col("id").as("vec_id"))
    intercept[IllegalArgumentException] {
      graft.operators.Guards.requireEstimatedBytesAtMost(
        big, Similarity.MaxExactPairScanBytes, "ss3_embedding_neardup")
    }
    // fixture-scale corpus stays under the cap, runs, and finds pairs
    // (== 1, not the vacuous >= 0: the guard not tripping AND the scan
    // producing output are both part of the contract)
    assert(Similarity.ss3EmbeddingNeardup(spark, dir).limit(1).count() == 1)
  }

  test("fitted IVF recall vs exact pairs is at least the seeded variant's") {
    // sf0.01: 500 vectors — big enough for a meaningful pair universe
    val d = "/root/testdata/sf0.01"
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairSet(Similarity.exactNeardupPairs(
      graft.tables.Tables.embeddings(spark, d), 0.4))
    val seeded = pairSet(Similarity.ss4AnnIvf(spark, d))
    val fitted = pairSet(Similarity.ss4AnnIvfFitted(spark, d))
    assert(truth.nonEmpty)
    assert(seeded.subsetOf(truth) && fitted.subsetOf(truth),
      "IVF variants verify with exact cosine — they can never invent pairs")
    val rSeeded = seeded.size.toDouble / truth.size
    val rFitted = fitted.size.toDouble / truth.size
    info(f"IVF recall vs exact@0.4: seeded $rSeeded%.3f, fitted $rFitted%.3f")
    assert(rFitted >= rSeeded,
      f"learned centroids should not lose recall: fitted $rFitted%.3f < seeded $rSeeded%.3f")
    // asymmetric 6-way multi-probe: measured 0.983 seeded / 1.000
    // fitted at sf0.01 (symmetric 3-way was .950/1.000, single-probe
    // .317/.500); slack for fixture regeneration
    assert(rFitted >= 0.8, f"multi-probe fitted recall $rFitted%.3f below the .8 bar")
    assert(rSeeded >= 0.6, f"multi-probe seeded recall $rSeeded%.3f collapsed")
  }

  test("ss4From probes the corpus dimension instead of assuming the house 64") {
    import spark.implicits._
    // hardcoded 64-dim seeded centroids made every non-64-dim corpus
    // SILENTLY EMPTY (per-row dim mismatch is the documented
    // unassignable tolerance, so a whole-corpus mismatch dropped every
    // row without an error); the dim is now probed from the data
    val rnd = new scala.util.Random(5)
    val base = Seq.fill(30)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val e = base.zipWithIndex.flatMap { case (v, i) =>
      // a near-duplicate for every vector guarantees exact pairs exist
      Seq((i.toLong * 2, v), (i.toLong * 2 + 1, v.map(x => x + 0.001f)))
    }.toDF("vec_id", "embedding")
    val exact = Similarity.exactNeardupPairs(e, 0.4).count()
    val ivf = Similarity.ss4From(e).count()
    assert(exact > 0, "fixture must contain exact pairs")
    assert(ivf > 0, "an 8-dim corpus must produce IVF pairs, not silence")
  }

  test("ss4From's dim probe is deterministic: the min-vec_id row wins on a mixed-dim corpus") {
    import spark.implicits._
    // head(1) made the probed dim depend on partition/row order (r15
    // ADVICE); min_by(size, vec_id) pins it to the min-vec_id row, so
    // which rows a mixed-dim corpus excludes cannot change with layout
    val rnd = new scala.util.Random(6)
    val eight = Array.fill(8)(rnd.nextGaussian().toFloat)
    val mixed = Seq((0L, eight), (1L, eight.map(_ + 0.001f))) ++
      (2L to 40L).map(i => (i, Array.fill(64)(rnd.nextGaussian().toFloat)))
    // repartition scrambles physical row order; the probe must still
    // pick vec_id 0's dimension (8), excluding every 64-dim row
    val e = mixed.toDF("vec_id", "embedding").repartition(7)
    val got = Similarity.ss4From(e).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.nonEmpty, "the 8-dim near-dup pair must surface")
    assert(got.forall { case (a, b) => a <= 1 && b <= 1 },
      s"only the 8-dim rows are assignable under the probed dim, got $got")
  }

  test("the IVF broadcast gate refuses a statless plan instead of overflowing into it") {
    import spark.implicits._
    // an RDD-backed (statless) plan estimates sizeInBytes at
    // defaultSizeInBytes = Long.MaxValue; the gate's Long row x bytes
    // product then wrapped NEGATIVE and passed <=, explicitly
    // broadcast()ing the full corpus at exactly the scale the gate
    // exists to refuse. The arithmetic is BigInt now.
    val rows = spark.sparkContext.parallelize(
      Seq((1L, Array.fill(8)(1f)), (2L, Array.fill(8)(2f))))
    val statless = rows.toDF("vec_id", "embedding")
    val est = statless.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > BigInt(Long.MaxValue) / 600,
      s"fixture must be statless for this regression (got $est)")
    assert(!Similarity.ivfIndexBroadcastable(statless, 192L),
      "a statless (huge-estimate) index must NOT pass the broadcast gate")
  }
}
