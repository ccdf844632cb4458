package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite
import graft.functions.VectorFunctions
import graft.lake.LakeClient

/** Persisted ANN index lifecycle: write → read → query must equal the
  * in-memory path bit-for-bit, the served IVF-PQ scan must prune to the
  * probed cells' partitions, and the incremental append must encode
  * exactly what a full re-encode would for the appended rows. */
class AnnIndexSpec extends AnyFunSuite with GraftSuite {

  private val dir = "/root/testdata/sf0.001"
  private var rootDir: java.nio.file.Path = _
  private var lake: LakeClient = _
  private val Fs = "idx"

  override def beforeAll(): Unit = {
    super.beforeAll()
    rootDir = java.nio.file.Files.createTempDirectory("annindex")
    lake = LakeClient.local(rootDir.toString)
    lake.createFilesystem(Fs)
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteDirectory(rootDir.toFile)
  }

  private def embeddings = graft.tables.Tables.embeddings(spark, dir)

  private def topRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** A `PartitionFilters: [` substring proves nothing — every partitioned
    * FileScan prints one, even with an empty list. Pruning is only proven
    * by a non-empty predicate over `cell` INSIDE some scan's bracket. */
  private def assertCellPruned(plan: String, what: String): Unit = {
    val brackets = raw"PartitionFilters: \[([^\]]*)\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(brackets.exists(b => b.trim.nonEmpty && b.contains("cell")),
      s"$what: expected a non-empty cell predicate inside PartitionFilters " +
        s"(got ${brackets.mkString("[", "] [", "]")}):\n$plan")
  }

  test("flat-PQ index round-trips: model bit-equal, served topK == in-memory topK") {
    val e = embeddings
    val corpus = e.where(col("vec_id") =!= 0)
    val model = ProductQuantizer.fit(corpus)
    AnnIndex.writePq(lake, Fs, "pq_rt", corpus, model)
    val (served, back) = AnnIndex.readPq(spark, lake, Fs, "pq_rt")
    // model reconstruction is bit-exact (parquet float32 round-trip)
    assert(back.subDim == model.subDim && back.m == model.m && back.k == model.k)
    assert(back.codebooks.flatten.zip(model.codebooks.flatten)
      .forall { case (a, b) => a.sameElements(b) }, "codebooks must round-trip bit-exactly")
    // the served coded table equals the in-memory encode row-for-row
    val mem = ProductQuantizer.encode(corpus, model)
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2))).toSet
    val disk = served.select("vec_id", "codes", "nrm")
      .collect().map(r => (r.getLong(0), r.getSeq[Int](1), r.getDouble(2))).toSet
    assert(disk == mem, "persisted codes must equal the in-memory encode")
    // and the full query path over the persisted table is bit-identical
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val fromDisk = topRows(ProductQuantizer.pqTopK(corpus, served, back, q, 10, 100))
    val fromMem = topRows(ProductQuantizer.pqTopK(corpus, mem2df(corpus, model), model, q, 10, 100))
    assert(fromDisk == fromMem, "served topK must equal in-memory topK bit-for-bit")
  }

  private def mem2df(corpus: org.apache.spark.sql.DataFrame,
                     model: ProductQuantizer.Model) =
    ProductQuantizer.encode(corpus, model)

  test("IVF-PQ index round-trips and the served scan prunes to the probed cells") {
    val e = embeddings
    val corpus = e.where(col("vec_id") =!= 0)
    val model = IvfPq.fit(corpus, cells = 8)
    AnnIndex.writeIvfPq(lake, Fs, "ivfpq_rt", corpus, model)
    val (served, back) = AnnIndex.readIvfPq(spark, lake, Fs, "ivfpq_rt")
    assert(back.centroids.size == model.centroids.size &&
      back.centroids.zip(model.centroids).forall { case (a, b) => a.sameElements(b) },
      "centroids must round-trip bit-exactly")
    assert(back.pq.codebooks.flatten.zip(model.pq.codebooks.flatten)
      .forall { case (a, b) => a.sameElements(b) }, "codebooks must round-trip bit-exactly")
    val mem = IvfPq.encode(corpus, model)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2), r.getDouble(3))).toSet
    val disk = served.select("vec_id", "cell", "codes", "nrm")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2), r.getDouble(3))).toSet
    assert(disk == mem, "persisted codes must equal the in-memory encode")
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val qDisk = IvfPq.topK(corpus, served, back, q, nProbe = 6, topK = 10, rerank = 100)
    // the probe's cell filter must prune the PERSISTED table's partitions
    // — this is the serving path itself, not a hand-built read
    val plan = qDisk.queryExecution.executedPlan.toString
    assertCellPruned(plan, "served scan")
    val qMem = IvfPq.topK(corpus, IvfPq.encode(corpus, model), model, q,
      nProbe = 6, topK = 10, rerank = 100)
    assert(topRows(qDisk) == topRows(qMem),
      "served topK must equal in-memory topK bit-for-bit")
  }

  test("appendIvfPq encodes the appended slice exactly as a full re-encode would") {
    val e = embeddings
    val base = e.where(col("vec_id") % 2 === 0)
      .select(col("vec_id"), col("embedding"))
    val fresh = e.where(col("vec_id") % 2 === 1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val model = IvfPq.fit(base, cells = 8)
    AnnIndex.writeIvfPq(lake, Fs, "ivfpq_app", base, model)
    AnnIndex.appendIvfPq(lake, Fs, "ivfpq_app", fresh)
    val (served, back) = AnnIndex.readIvfPq(spark, lake, Fs, "ivfpq_app")
    val expect = IvfPq.encode(base.unionByName(fresh), back)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2), r.getDouble(3))).toSet
    val got = served.select("vec_id", "cell", "codes", "nrm")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2), r.getDouble(3))).toSet
    assert(got == expect,
      "base ∪ appended must equal one full encode under the same (stale) model")
    assert(got.exists(_._1 >= 1000000L), "appended rows must be present")
  }

  test("maintenance cycle: appends fragment, partitioned compaction preserves the served index") {
    // the full production loop: drip-fed appends land small files per
    // touched cell partition; compactPartitionedParquet is the
    // maintenance tool — after it runs, the index must serve the SAME
    // bits from fewer files, with the cell-prune layout untouched
    val e = embeddings
    val base = e.where(col("vec_id") % 4 === 0).select(col("vec_id"), col("embedding"))
    def slice(r: Int) = e.where(col("vec_id") % 4 === r)
      .select((col("vec_id") + r * 1000000L).as("vec_id"), col("embedding"))
    val model = IvfPq.fit(base, cells = 8)
    AnnIndex.writeIvfPq(lake, Fs, "ivfpq_m", base, model)
    (1 to 3).foreach(r => AnnIndex.appendIvfPq(lake, Fs, "ivfpq_m", slice(r)))
    def parquetFiles(): Int =
      lake.listPaths(Fs, "ivfpq_m/codes", maxResults = Int.MaxValue)
        .count(en => !en.isDirectory && en.name.endsWith(".parquet"))
    val fragmented = parquetFiles()
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    val corpus = base.unionByName(slice(1)).unionByName(slice(2)).unionByName(slice(3))
    def serve(): Seq[(Long, Double)] = {
      val (enc, m) = AnnIndex.readIvfPq(spark, lake, Fs, "ivfpq_m")
      topRows(IvfPq.topK(corpus.where(col("vec_id") =!= 0),
        enc.where(col("vec_id") =!= 0), m, q, nProbe = 6, topK = 10, rerank = 100))
    }
    val before = serve()
    val (nParts, nFiles) = lake.compactPartitionedParquet(spark, Fs, "ivfpq_m/codes")
    assert(nParts > 0 && nFiles < fragmented,
      s"compaction must shrink the file count ($fragmented -> $nFiles across $nParts cells)")
    assert(parquetFiles() == nFiles)
    val after = serve()
    assert(after == before, "compaction must not change what the index serves")
    // prune layout intact: the probe filter still plans PartitionFilters
    val (enc, _) = AnnIndex.readIvfPq(spark, lake, Fs, "ivfpq_m")
    val plan = enc.where(col("cell").isin(0, 1)).queryExecution.executedPlan.toString
    assertCellPruned(plan, "post-compaction scan")
  }

  test("pqTopKBatch equals per-query pqTopK row-for-row") {
    // the batch ADC path computes each query's LUT in-plan (executor)
    // where pqTopK computes it on the driver, and shortlists via
    // TopKByScore where pqTopK sorts-and-limits — every step was chosen
    // to preserve bit-identical scores and the same tie rule, so the
    // batch answer for each qid must equal the single-query answer
    // exactly
    val e = embeddings
    val corpus = e.where(col("vec_id") =!= 0)
    val model = ProductQuantizer.fit(corpus)
    val enc = ProductQuantizer.encode(corpus, model)
    val queries = e.where(col("vec_id") % 37 === 0).orderBy(col("vec_id")).limit(5)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val batch = ProductQuantizer
      .pqTopKBatch(corpus, enc, model, queries, topK = 10, rerank = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy { case (id, cos) => (-cos, id) }.toSeq)
      .toMap
    val qrows = queries.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(batch.keySet == qrows.map(_._1).toSet, "every query must be answered")
    qrows.foreach { case (qid, q) =>
      val single = topRows(ProductQuantizer.pqTopK(corpus, enc, model, q, 10, 50))
      assert(batch(qid) == single,
        s"batch result for qid=$qid must equal pqTopK bit-for-bit")
    }
    // a wrong-dimension query fails fast for the whole batch (contract:
    // batch callers get a loud driver-side error, not a silent drop-out)
    val badDim = spark.createDataFrame(Seq((77L, Seq.fill(3)(0.1f)))).toDF("qid", "qemb")
    val ex = intercept[IllegalArgumentException] {
      ProductQuantizer.pqTopKBatch(corpus, enc, model, badDim, topK = 10, rerank = 50)
    }
    assert(ex.getMessage.contains("77"), "fail-fast must name the offending qid")
    // excludeSelf must equal the per-query corpus-member formulation
    // (corpus/encoded filtered to vec_id =!= qid) — the driftCheckPq shape
    val memberQs = e.where(col("vec_id") % 41 === 1).orderBy(col("vec_id")).limit(4)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val exBatch = ProductQuantizer.pqTopKBatch(corpus, enc, model, memberQs,
      topK = 10, rerank = 50, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy { case (id, cos) => (-cos, id) }.toSeq)
      .toMap
    memberQs.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .foreach { case (qid, q) =>
        val single = topRows(ProductQuantizer.pqTopK(
          corpus.where(col("vec_id") =!= qid),
          enc.where(col("vec_id") =!= qid), model, q, 10, 50))
        assert(exBatch(qid) == single,
          s"excludeSelf batch for qid=$qid must equal the filtered per-query path")
      }
  }

  test("IvfPq.topKBatch equals per-query topK row-for-row on the persisted index, with pruning") {
    // the production batch shape: per-query probe structure is driver-
    // computed with the SAME arithmetic as topK (shared adcLut, shared
    // cosine/tie rules), the union of probed cells is a static filter —
    // so the batch must (a) keep partition pruning on the persisted
    // coded table and (b) reproduce every single-query answer exactly
    val e = embeddings
    val corpus = e.where(col("vec_id") =!= 0)
    val model = IvfPq.fit(corpus, cells = 8)
    AnnIndex.writeIvfPq(lake, Fs, "ivfpq_batch", corpus, model)
    val (served, back) = AnnIndex.readIvfPq(spark, lake, Fs, "ivfpq_batch")
    val queries = e.where(col("vec_id") % 37 === 0).orderBy(col("vec_id")).limit(5)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val batchDf = IvfPq.topKBatch(corpus, served, back, queries,
      nProbe = 4, topK = 10, rerank = 50)
    // the static union-of-probed-cells predicate must prune the
    // persisted table's cell partitions even in the batch plan; use a
    // batch whose union is provably partial (2 queries × 2 probes ≤ 4
    // of 8 cells) — a union covering EVERY cell legitimately skips the
    // IN-list (nothing to prune)
    val sparseBatch = IvfPq.topKBatch(corpus, served, back, queries.limit(2),
      nProbe = 2, topK = 10, rerank = 50)
    val plan = sparseBatch.queryExecution.executedPlan.toString
    assertCellPruned(plan, "batch scan")
    val batch = batchDf
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy { case (id, cos) => (-cos, id) }.toSeq)
      .toMap
    val qrows = queries.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    assert(batch.keySet == qrows.map(_._1).toSet, "every query must be answered")
    qrows.foreach { case (qid, q) =>
      val single = topRows(IvfPq.topK(corpus, served, back, q,
        nProbe = 4, topK = 10, rerank = 50))
      assert(batch(qid) == single,
        s"batch result for qid=$qid must equal IvfPq.topK bit-for-bit")
    }
    intercept[IllegalArgumentException] {
      IvfPq.topKBatch(corpus, served, back,
        queries.unionAll(queries.limit(1)), nProbe = 4, topK = 10, rerank = 50)
    }
    // a zero-norm query has no defined probe order — same fail-fast as topK
    val zeroQ = spark.createDataFrame(Seq((99999L, Seq.fill(64)(0.0f))))
      .toDF("qid", "qemb")
    intercept[IllegalArgumentException] {
      IvfPq.topKBatch(corpus, served, back, zeroQ, nProbe = 4, topK = 10, rerank = 50)
    }
    // excludeSelf must equal the per-query corpus-member formulation
    // (encoded.where(vec_id =!= qid)) — the driftCheck shape
    val memberQs = e.where(col("vec_id") % 41 === 1).orderBy(col("vec_id")).limit(4)
      .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
    val exBatch = IvfPq.topKBatch(corpus, served, back, memberQs,
      nProbe = 4, topK = 10, rerank = 50, excludeSelf = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view
      .mapValues(_.map(t => (t._2, t._3)).sortBy { case (id, cos) => (-cos, id) }.toSeq)
      .toMap
    memberQs.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .foreach { case (qid, q) =>
        val single = topRows(IvfPq.topK(
          corpus.where(col("vec_id") =!= qid),
          served.where(col("vec_id") =!= qid), back, q,
          nProbe = 4, topK = 10, rerank = 50))
        assert(exBatch(qid) == single,
          s"excludeSelf batch for qid=$qid must equal the filtered per-query path")
      }
  }

  test("driftCheck reports stale-vs-refit recall through the operator API, deterministically") {
    val e = embeddings
    val base = e.where(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding"))
    val fresh = e.where(col("vec_id") % 2 === 1)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val model = IvfPq.fit(base, cells = 8)
    AnnIndex.writeIvfPq(lake, Fs, "ivfpq_dc", base, model)
    AnnIndex.appendIvfPq(lake, Fs, "ivfpq_dc", fresh)
    val grown = base.unionByName(fresh)
    val rep = AnnIndex.driftCheck(lake, Fs, "ivfpq_dc", grown, queries = fresh,
      topK = 5, rerank = 50, maxQueries = 3)
    assert(rep.queries == 3)
    assert(rep.staleRecall >= 0.0 && rep.staleRecall <= 1.0)
    assert(rep.refitRecall >= 0.0 && rep.refitRecall <= 1.0)
    // the 8-cell fixture tier's 6/8 probe masks same-distribution
    // appends (the ScaleSmoke stage owns the real drift signal); here
    // the API contract is what's proven: bounded, deterministic, both
    // recalls measured against the same exact ground truth
    val rep2 = AnnIndex.driftCheck(lake, Fs, "ivfpq_dc", grown, queries = fresh,
      topK = 5, rerank = 50, maxQueries = 3)
    assert(rep == rep2, "driftCheck must be deterministic")
    // the batched internals (one exact pass + two topKBatch passes) must
    // report EXACTLY what the per-query formulation computes — re-derive
    // both recalls by hand with single-query jobs over the same sample
    locally {
      val (staleEnc, staleModel) = AnnIndex.readIvfPq(spark, lake, Fs, "ivfpq_dc")
      val qs = fresh.select(col("vec_id"), col("embedding"))
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(3)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val freshModel = IvfPq.fit(grown.select(col("vec_id"), col("embedding")),
        cells = staleModel.centroids.size)
      val freshEnc = IvfPq.encode(grown, freshModel)
      val nProbe = Similarity.ivfNProbeFor(staleModel.centroids.size)
      var staleHits = 0L; var refitHits = 0L; var truth = 0L
      qs.foreach { case (qid, q) =>
        val rest = grown.where(col("vec_id") =!= qid)
        val exact = rest
          .select(col("vec_id"), round(VectorFunctions
            .vecCosine(col("embedding"), typedLit(q.toSeq)), 3).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(5)
          .collect().map(_.getLong(0)).toSet
        def got(enc: org.apache.spark.sql.DataFrame, m: IvfPq.Model): Set[Long] =
          IvfPq.topK(rest, enc.where(col("vec_id") =!= qid), m, q,
            nProbe = nProbe, topK = 5, rerank = 50)
            .collect().map(_.getLong(0)).toSet
        staleHits += (got(staleEnc, staleModel) & exact).size
        refitHits += (got(freshEnc, freshModel) & exact).size
        truth += exact.size
      }
      val t = math.max(truth, 1L).toDouble
      assert(rep.staleRecall == staleHits / t && rep.refitRecall == refitHits / t,
        s"batched driftCheck ($rep) must equal the per-query derivation " +
          s"(stale ${staleHits / t}, refit ${refitHits / t})")
    }
    intercept[IllegalArgumentException] {
      AnnIndex.driftCheck(lake, Fs, "ivfpq_dc", grown, fresh, maxQueries = 0)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.driftCheck(lake, Fs, "ivfpq_dc", grown, fresh, maxQueries = 100)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.driftCheck(lake, Fs, "ivfpq_dc", grown, fresh, topK = 10, rerank = 5)
    }
  }

  test("driftCheckPq reports codebook stale-vs-refit recall, equal to the per-query derivation") {
    val e = embeddings
    val base = e.where(col("vec_id") % 2 === 0).select(col("vec_id"), col("embedding"))
    val fresh = e.where(col("vec_id") % 2 === 1)
      .select((col("vec_id") + 5000000L).as("vec_id"), col("embedding"))
    val model = ProductQuantizer.fit(base)
    AnnIndex.writePq(lake, Fs, "pq_dc", base, model)
    AnnIndex.appendPq(lake, Fs, "pq_dc", fresh)
    val grown = base.unionByName(fresh)
    val rep = AnnIndex.driftCheckPq(lake, Fs, "pq_dc", grown, queries = fresh,
      topK = 5, rerank = 50, maxQueries = 3)
    assert(rep.queries == 3)
    assert(rep.staleRecall >= 0.0 && rep.staleRecall <= 1.0)
    assert(rep.refitRecall >= 0.0 && rep.refitRecall <= 1.0)
    val rep2 = AnnIndex.driftCheckPq(lake, Fs, "pq_dc", grown, queries = fresh,
      topK = 5, rerank = 50, maxQueries = 3)
    assert(rep == rep2, "driftCheckPq must be deterministic")
    // the batched internals (one exact pass + two pqTopKBatch passes)
    // must report EXACTLY what the per-query formulation computes; the
    // re-fit must keep the stale model's (m, k) so only codebook
    // staleness is measured
    locally {
      val (staleEnc, staleModel) = AnnIndex.readPq(spark, lake, Fs, "pq_dc")
      val qs = fresh.select(col("vec_id"), col("embedding"))
        .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(3)
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val freshModel = ProductQuantizer.fit(
        grown.select(col("vec_id"), col("embedding")),
        m = staleModel.m, k = staleModel.k)
      assert(freshModel.m == staleModel.m && freshModel.k == staleModel.k)
      val freshEnc = ProductQuantizer.encode(grown, freshModel)
      var staleHits = 0L; var refitHits = 0L; var truth = 0L
      qs.foreach { case (qid, q) =>
        val rest = grown.where(col("vec_id") =!= qid)
        val exact = rest
          .select(col("vec_id"), round(VectorFunctions
            .vecCosine(col("embedding"), typedLit(q.toSeq)), 3).as("cos"))
          .orderBy(col("cos").desc, col("vec_id")).limit(5)
          .collect().map(_.getLong(0)).toSet
        def got(enc: org.apache.spark.sql.DataFrame,
                m: ProductQuantizer.Model): Set[Long] =
          ProductQuantizer.pqTopK(rest, enc.where(col("vec_id") =!= qid), m, q,
            topK = 5, rerank = 50)
            .collect().map(_.getLong(0)).toSet
        staleHits += (got(staleEnc, staleModel) & exact).size
        refitHits += (got(freshEnc, freshModel) & exact).size
        truth += exact.size
      }
      val t = math.max(truth, 1L).toDouble
      assert(rep.staleRecall == staleHits / t && rep.refitRecall == refitHits / t,
        s"batched driftCheckPq ($rep) must equal the per-query derivation " +
          s"(stale ${staleHits / t}, refit ${refitHits / t})")
    }
    intercept[IllegalArgumentException] {
      AnnIndex.driftCheckPq(lake, Fs, "pq_dc", grown, fresh, maxQueries = 0)
    }
    intercept[IllegalArgumentException] {
      AnnIndex.driftCheckPq(lake, Fs, "pq_dc", grown, fresh, topK = 10, rerank = 5)
    }
  }

  test("ss8/ss9 entries serve from the persisted index memo deterministically") {
    // the first entry invocation builds + persists; the second must
    // reproduce the identical result from the persisted table. After
    // clearModelCache the entry re-resolves the path and REUSES the
    // complete persisted index (round-8 semantics) — same bits either
    // way, because fit/encode are deterministic and the path is keyed
    // by a hash of the dir
    val first8 = topRows(Similarity.ss8PqTopk(spark, dir))
    val again8 = topRows(Similarity.ss8PqTopk(spark, dir))
    assert(first8 == again8, "ss8 must be stable across invocations")
    val first9 = topRows(Similarity.ss9IvfPqTopk(spark, dir))
    val again9 = topRows(Similarity.ss9IvfPqTopk(spark, dir))
    assert(first9 == again9, "ss9 must be stable across invocations")
    Similarity.clearModelCache()
    assert(topRows(Similarity.ss8PqTopk(spark, dir)) == first8,
      "a rebuilt ss8 index must reproduce the same bits")
    assert(topRows(Similarity.ss9IvfPqTopk(spark, dir)) == first9,
      "a rebuilt ss9 index must reproduce the same bits")
  }

  test("concurrent first-touch entries build one index, not a torn write") {
    // two threads race the cold path; the per-key build lock must
    // serialize the WRITE (a duplicate fit is harmless, a duplicate
    // overwrite into one directory is not) and both must serve the
    // same bits
    Similarity.clearModelCache()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val runs = (1 to 2).map(_ => Future(topRows(Similarity.ss9IvfPqTopk(spark, dir))))
      val rs = Await.result(Future.sequence(runs),
        scala.concurrent.duration.Duration(300, "s"))
      assert(rs.head.size == 10 && rs.head == rs(1),
        "racing cold entries must serve identical results")
    } finally pool.shutdown()
  }

  test("indexPath cannot alias distinct corpus dirs after sanitization") {
    // sanitization alone maps /a/b and /a_b to the same name; the md5
    // suffix of the RAW dir must keep their persisted indexes apart
    // (aliased paths would serve each other's corpus across restarts)
    val a = Similarity.indexPath("/a/b", "pq")
    val b = Similarity.indexPath("/a_b", "pq")
    assert(a != b, s"distinct dirs must get distinct index paths: $a")
    assert(a == Similarity.indexPath("/a/b", "pq"), "path must be stable")
    assert(Similarity.indexPath("/a/b", "pq") != Similarity.indexPath("/a/b", "ivfpq"),
      "kinds must not collide")
  }

  test("two sessions sharing one index root serve the same persisted files — no overwrite") {
    // the ADVICE scenario: session-keyed locks would let a second
    // session's mode=overwrite build delete the part-files the first
    // session's memoized DataFrame still scans. With physical-path
    // locks + reuse-if-complete, the second session must READ the
    // existing index (bit-identical by fit determinism), leaving every
    // file name untouched.
    val root = java.nio.file.Files.createTempDirectory("annshared").toString
    val s2 = spark.newSession()
    spark.conf.set("spark.graft.index.root", root)
    s2.conf.set("spark.graft.index.root", root)
    def codeFiles(): Set[String] = {
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(_.toString).toSet
      } finally it.close()
    }
    try {
      Similarity.clearModelCache()
      val first = topRows(Similarity.ss9IvfPqTopk(spark, dir))
      val files = codeFiles()
      assert(files.nonEmpty, "first session must persist the index under the shared root")
      val second = topRows(Similarity.ss9IvfPqTopk(s2, dir))
      assert(second == first, "both sessions must serve identical results")
      assert(codeFiles() == files,
        "the second session must serve the EXISTING files, not rewrite them")
    } finally {
      spark.conf.unset("spark.graft.index.root")
      s2.conf.unset("spark.graft.index.root")
      Similarity.clearModelCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("spark.graft.index.root points the persisted index at a chosen lake root") {
    // the production knob: an operator points the index root at a real
    // lake path; the entries must build there and SERVE from there (the
    // query plan scans files under that root — proof the warm path
    // reads the persisted table, not a re-encode)
    val root = java.nio.file.Files.createTempDirectory("annroot").toString
    spark.conf.set("spark.graft.index.root", root)
    try {
      Similarity.clearModelCache()
      val res = Similarity.ss9IvfPqTopk(spark, dir)
      assert(res.count() == 10)
      val codes = new java.io.File(root, "ann")
      assert(codes.isDirectory && codes.listFiles().nonEmpty,
        s"index must be persisted under the configured root: $root")
      assert(res.queryExecution.executedPlan.toString.contains(root),
        "the served ss9 plan must scan the persisted index files")
    } finally {
      spark.conf.unset("spark.graft.index.root")
      Similarity.clearModelCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }
}
