package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** Degenerate-EMBEDDING robustness — the vector twin of
  * [[DegenerateInputSpec]] (round-12, VERDICT r11 #3): NULL embeddings,
  * empty arrays, wrong-dimension rows and zero-norm vectors through the
  * public entries of the similarity/ANN surface. The fixtures contain
  * none of these shapes, but a 100 TB embedding pipeline does (failed
  * embed jobs write NULLs; padding writes zeros; a mixed-model corpus
  * smuggles wrong dims). The pinned contract:
  *
  *   - NULL embedding = MISSING VALUE: silently out of scope everywhere
  *     (dropped from pairing/ranking/fitting), like NULL text in dd ops.
  *   - zero-norm = unmatchable padding: cosine NULL, never pairs/ranks;
  *     dropped from LSH bucketing up front (bucket-flood guard).
  *   - non-null WRONG-DIM (incl. empty): where the op declares a `dim`
  *     (LSH/IVF kNN surface) it FAILS FAST — a dimension bug, not a
  *     missing value; in the dim-free exact kernels it scores NULL
  *     (vec_dot length-mismatch contract) and drops out.
  */
class VectorDegenerateSpec extends AnyFunSuite with GraftSuite {

  override def afterAll(): Unit = {
    Dedup.clearCaches()
    Similarity.clearModelCache()
    super.afterAll()
  }

  private val dim = 64

  /** 40 deterministic valid vectors (ids 100+), incl. one identical
    * near-dup pair (140, 141). */
  private def validRows: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(3)
    val base = (0 until 40).map { i =>
      (100L + i, Seq.fill(dim)(rnd.nextGaussian().toFloat))
    }
    base :+ (140L, base.head._2) :+ (141L, base.head._2)
  }

  private def mkDf(rows: Seq[(Long, Seq[Float])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  /** ids 0 NULL · 1 empty array · 2 zero-norm. */
  private def softDegenerates: DataFrame = mkDf(Seq(
    (1L, Seq.empty[Float]),
    (2L, Seq.fill(dim)(0.0f)))).union(
    mkDf(Seq((0L, Seq.empty[Float]))).select(col("vec_id"),
      lit(null).cast("array<float>").as("embedding")))

  /** NULL + zero-norm only (the shapes every op must TOLERATE). */
  private def missingOnly: DataFrame = mkDf(Seq((2L, Seq.fill(dim)(0.0f))))
    .union(mkDf(Seq((0L, Seq.empty[Float]))).select(col("vec_id"),
      lit(null).cast("array<float>").as("embedding")))

  private def valid: DataFrame = mkDf(validRows)
  private def withSoft: DataFrame = valid.union(softDegenerates)
  private def withMissing: DataFrame = valid.union(missingOnly)
  private def wrongDimRow: DataFrame = mkDf(Seq((3L, Seq.fill(32)(0.5f))))

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("vec_a", "vec_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("kernel: vec_dot/vec_cosine yield NULL on NULL input, wrong dim, zero norm") {
    val rows = withSoft.union(wrongDimRow).crossJoin(
        valid.limit(1).select(col("embedding").as("q")))
      .select(col("vec_id"),
        graft.functions.VectorFunctions.vecDot(col("embedding"), col("q")).as("d"),
        Similarity.cosine(col("embedding"), col("q")).as("c"))
      .collect().map(r => r.getLong(0) -> (r.isNullAt(1), r.isNullAt(2))).toMap
    assert(rows(0L) == ((true, true)), "NULL embedding -> NULL dot and cosine")
    assert(rows(1L) == ((true, true)), "empty array (length mismatch) -> NULL")
    assert(rows(3L) == ((true, true)), "wrong dim -> NULL")
    assert(!rows(2L)._1 && rows(2L)._2, "zero norm: dot 0.0 but cosine NULL (try_divide)")
    assert(rows(100L) == ((false, false)), "valid row computes")
  }

  test("exact pair scan (ss3 kernel): degenerate rows never pair; valid pairs bit-identical") {
    val clean = pairSet(Similarity.exactNeardupPairs(valid, 0.45))
    val dirty = pairSet(Similarity.exactNeardupPairs(withSoft.union(wrongDimRow), 0.45))
    assert(clean.contains((140L, 141L)), "sanity: the identical pair is found")
    assert(dirty == clean, "degenerates (NULL/empty/zero/wrong-dim) must not change the pair set")
  }

  test("lshNeardupPairs (ss2 kernel): NULL + zero-norm dropped; non-null wrong dim fails fast") {
    val clean = pairSet(Similarity.lshNeardupPairs(valid, 0.45))
    val dirty = pairSet(Similarity.lshNeardupPairs(withMissing, 0.45))
    assert(dirty == clean, "NULL/zero-norm rows must be silently out of scope")
    val e = intercept[Exception] {
      Similarity.lshNeardupPairs(valid.union(wrongDimRow), 0.45).count()
    }
    assert(String.valueOf(e.getMessage).contains("dimension") ||
      e.getCause != null, s"wrong-dim must fail fast, got: ${e.getMessage}")
    intercept[Exception] { // empty array IS a wrong-dim row, same contract
      Similarity.lshNeardupPairs(
        valid.union(mkDf(Seq((1L, Seq.empty[Float])))), 0.45).count()
    }
  }

  test("ss4 seeded IVF: degenerate rows excluded from pairing, pair set unchanged") {
    val clean = pairSet(Similarity.ss4From(valid))
    val dirty = pairSet(Similarity.ss4From(withSoft.union(wrongDimRow)))
    assert(dirty == clean,
      "unassignable rows (NULL/empty/zero/wrong-dim: no valid cell score) must drop out")
  }

  test("knnJoin LSH route: NULL + zero-norm neither query nor match; wrong dim fails fast") {
    val cleanIds = Similarity.knnJoin(valid).select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    val out = Similarity.knnJoin(withMissing)
    val ids = out.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    val nbrs = out.select("nbr_id").distinct().collect().map(_.getLong(0)).toSet
    assert(ids == cleanIds, "degenerate rows must not appear as queries")
    assert(!nbrs.contains(0L) && !nbrs.contains(2L),
      "degenerate rows must not appear as neighbors")
    intercept[Exception] {
      Similarity.knnJoin(valid.union(wrongDimRow)).count()
    }
  }

  test("knnJoinIvf route: same degenerate contract as the LSH route") {
    val clean = Similarity.knnJoinIvf(valid).select("vec_id", "nbr_id", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dirty = Similarity.knnJoinIvf(withMissing).select("vec_id", "nbr_id", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dirty == clean)
    intercept[Exception] {
      Similarity.knnJoinIvf(valid.union(wrongDimRow)).count()
    }
  }

  test("ss6-shape exact kNN: a degenerate query emits NO rows (not k NULL-cos rows)") {
    // drive the ss6 kernel shape through ss5's exact twin semantics:
    // brute-force per-query ranking with NULL-cos rows filtered
    val e = withSoft
    val pairs = e.select(col("vec_id"), col("embedding").as("emb_a"))
      .crossJoin(e.select(col("vec_id").as("nbr_id"), col("embedding").as("emb_b")))
      .where(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        round(Similarity.cosine(col("emb_a"), col("emb_b")), 3).as("cos"))
      .groupBy(col("vec_id"))
      .agg(graft.functions.VectorFunctions
        .topkByScore(col("cos"), col("nbr_id"), 5).as("top"))
      .select(col("vec_id"), explode(col("top")).as("t"))
    val qids = pairs.select("vec_id").distinct().collect().map(_.getLong(0)).toSet
    assert(!qids.contains(0L) && !qids.contains(1L) && !qids.contains(2L),
      "TopKByScore must skip NULL scores: degenerate queries have no ranked rows")
  }

  test("ss7 centroids: NULL/empty contribute nothing; zero vector is a real point; wrong dim partial") {
    val e = mkDf(Seq(
      (10L, Seq.fill(dim)(2.0f)),
      (11L, Seq.fill(dim)(0.0f)))) // zero-norm: a legitimate origin point
      .union(mkDf(Seq((12L, Seq.empty[Float])))) // empty: nothing
      .union(mkDf(Seq((13L, Seq.empty[Float]))).select(col("vec_id"),
        lit(null).cast("array<float>").as("embedding"))) // NULL: nothing
      .union(mkDf(Seq((14L, Seq.fill(2)(4.0f))))) // wrong dim: dims 0-1 only
      .withColumn("label", lit("a"))
    val out = Similarity.ss7LabelCentroidsFrom(e)
      .collect().map(r => r.getInt(1) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(out(0) == ((3L, 2.0)), "dim 0: rows 10,11,14 -> mean (2+0+4)/3")
    assert(out(2) == ((2L, 1.0)), "dim 2: rows 10,11 -> mean (2+0)/2")
    assert(out.size == dim)
  }

  test("dd7 semantic clustering: degenerate vectors become keep=true singletons") {
    val out = Dedup.dd7SemanticClusterFrom(spark, withSoft)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out.size == validRows.size + 3, "every row labeled exactly once")
    Seq(0L, 1L, 2L).foreach { id =>
      assert(out(id) == ((id, true)), s"degenerate $id must be its own kept singleton")
    }
    // ids 100/140/141 share one vector -> one cluster labeled by min id
    assert(out(141L) == ((100L, false)) && out(140L) == ((100L, false)),
      "the identical rows still cluster under the min id")
  }

  test("PQ: fit survives NULL rows, fail-fasts on mixed dims; encode drops unencodables") {
    // pre-round-12 the driver-side fit sample NPE'd on a NULL embedding
    val model = ProductQuantizer.fit(withMissing, m = 8, k = 32)
    // non-null mixed dims stay the documented structural fail-fast
    intercept[Exception] {
      ProductQuantizer.fit(valid.union(wrongDimRow), m = 8, k = 32)
    }
    val enc = ProductQuantizer.encode(withSoft.union(wrongDimRow), model)
    val encIds = enc.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!encIds.contains(0L) && !encIds.contains(1L) && !encIds.contains(3L),
      "NULL/empty/wrong-dim rows are unencodable and must drop out of the coded table")
    assert(encIds.contains(2L), "zero-norm encodes (L2 codes need no norm) but can never rank")
    val q = validRows.head._2.toArray
    val dirtyTop = ProductQuantizer.pqTopK(
        withSoft.union(wrongDimRow), enc, model, q, topK = 5, rerank = 20)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(dirtyTop.nonEmpty, "top-k over the dirty corpus still answers")
    assert(!dirtyTop.exists(Set(0L, 1L, 2L, 3L)), "no degenerate id may rank")
  }

  test("ANN index maintenance: append of a degenerate batch indexes only its valid rows") {
    val idxRoot = java.nio.file.Files.createTempDirectory("graft-degen-idx")
    try {
      val lake = graft.lake.LakeClient.local(idxRoot.toString)
      lake.createFilesystem("fs")
      val model = ProductQuantizer.fit(valid, m = 8, k = 32)
      AnnIndex.writePq(lake, "fs", "pq", valid, model)
      // the append batch carries every degenerate shape plus 2 new rows
      val rnd = new scala.util.Random(99) // vectors UNRELATED to the corpus:
      val fresh = mkDf(Seq(               // top-1 must be the row itself
        (500L, Seq.fill(dim)(rnd.nextGaussian().toFloat)),
        (501L, Seq.fill(dim)(rnd.nextGaussian().toFloat))))
      AnnIndex.appendPq(lake, "fs", "pq", fresh.union(softDegenerates).union(wrongDimRow))
      val (enc, m) = AnnIndex.readPq(spark, lake, "fs", "pq")
      val ids = enc.select("vec_id").collect().map(_.getLong(0)).toSet
      assert(ids.contains(500L) && ids.contains(501L), "valid appended rows are indexed")
      assert(!ids.contains(0L) && !ids.contains(1L) && !ids.contains(3L),
        "degenerate appended rows never enter the coded table")
      // the grown index still serves: top-1 for 500's vector is itself
      val top = ProductQuantizer.pqTopK(
        valid.union(fresh), enc, m,
        fresh.where(col("vec_id") === 500L).select("embedding")
          .head().getSeq[Float](0).toArray, topK = 1, rerank = 10)
        .select("vec_id").head().getLong(0)
      assert(top == 500L)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(idxRoot.toFile)
    }
  }
}
