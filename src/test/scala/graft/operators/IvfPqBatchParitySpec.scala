package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** Seed-sweep parity: [[IvfPq.topKBatch]] must equal per-query
  * [[IvfPq.topK]] row-for-row across RANDOM geometries, not just the
  * fixture — varied dims, cell counts, probe depths, batch sizes, and
  * duplicate-heavy corpora (exact cosine ties force the (score desc,
  * lower id) tie rule through both the ADC shortlist and the exact
  * re-rank, where the fixture's distinct vectors rarely tie). The
  * nProbe == cells case covers the skip-the-IN-list path (a probe
  * union over every cell prunes nothing, so the predicate is dropped).
  * Deterministic: fixed seeds, driver-side synthesis,
  * bit-deterministic fits. */
class IvfPqBatchParitySpec extends AnyFunSuite with GraftSuite {

  /** (seed, dim, n, cells, m, nProbe, q, dupEvery) */
  private val cases = Seq(
    (1, 8, 60, 4, 4, 2, 3, 7),
    (2, 8, 60, 4, 4, 4, 1, 5),
    (3, 4, 40, 2, 2, 1, 4, 3),
    (4, 16, 80, 8, 4, 3, 4, 0),
    (5, 8, 50, 4, 4, 2, 2, 2), // duplicate-heavy: every 2nd row ties
    (6, 4, 64, 8, 2, 8, 3, 4), // nProbe == cells: IN-list skipped
    (7, 8, 72, 2, 4, 2, 4, 6),
    (8, 16, 48, 4, 4, 3, 3, 0))

  private def corpus(seed: Int, dim: Int, n: Int, dupEvery: Int) = {
    val rnd = new scala.util.Random(seed)
    val vecs = new Array[Array[Float]](n)
    for (i <- 0 until n) {
      vecs(i) =
        if (dupEvery > 0 && i > 0 && i % dupEvery == 0) vecs(i - 1)
        else Array.fill(dim)(rnd.nextGaussian().toFloat)
    }
    spark.createDataFrame(vecs.zipWithIndex.toSeq.map {
      case (v, i) => (i.toLong, v.toSeq)
    }).toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
  }

  test("topKBatch == per-query topK across random geometries, ties, and probe depths") {
    cases.foreach { case (seed, dim, n, cells, m, nProbe, q, dupEvery) =>
      val label = s"seed=$seed dim=$dim n=$n cells=$cells nProbe=$nProbe q=$q dup=$dupEvery"
      val e = corpus(seed, dim, n, dupEvery)
      val model = IvfPq.fit(e, cells = cells, m = m, k = 8)
      val enc = IvfPq.encode(e, model)
      val step = math.max(1, n / q)
      val queries = e.where(col("vec_id") % step === 0).orderBy(col("vec_id")).limit(q)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      val qrows = queries.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      Seq(false, true).foreach { exclude =>
        val batch = IvfPq.topKBatch(e, enc, model, queries,
          nProbe = nProbe, topK = 3, rerank = 8, excludeSelf = exclude)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1).view
          .mapValues(_.map(t => (t._2, t._3)).sortBy { case (id, cos) => (-cos, id) }.toSeq)
          .toMap
        qrows.foreach { case (qid, qv) =>
          val (se, senc) =
            if (exclude) (e.where(col("vec_id") =!= qid), enc.where(col("vec_id") =!= qid))
            else (e, enc)
          val single = IvfPq.topK(se, senc, model, qv, nProbe = nProbe,
            topK = 3, rerank = 8)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assert(batch.getOrElse(qid, Seq.empty) == single,
            s"[$label excludeSelf=$exclude] batch != single for qid=$qid")
        }
      }
    }
  }

  test("auto-tier topKBatch reads nProbe from the model's cell count, parity with topK") {
    // the overload without nProbe must apply the exact single-query tier
    // rule — parity against per-query topK run at ivfNProbeFor(cells),
    // across geometries either side of a tier boundary
    cases.take(4).foreach { case (seed, dim, n, cells, m, _, q, dupEvery) =>
      val label = s"auto seed=$seed dim=$dim n=$n cells=$cells q=$q"
      val e = corpus(seed, dim, n, dupEvery)
      val model = IvfPq.fit(e, cells = cells, m = m, k = 8)
      val enc = IvfPq.encode(e, model)
      val tierProbe = Similarity.ivfNProbeFor(model.centroids.size)
      val step = math.max(1, n / q)
      val queries = e.where(col("vec_id") % step === 0).orderBy(col("vec_id")).limit(q)
        .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
      val batch = IvfPq.topKBatch(e, enc, model, queries,
        topK = 3, rerank = 8, excludeSelf = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).view
        .mapValues(_.map(t => (t._2, t._3)).sortBy { case (id, cos) => (-cos, id) }.toSeq)
        .toMap
      queries.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .foreach { case (qid, qv) =>
          val single = IvfPq.topK(e, enc, model, qv, nProbe = tierProbe,
            topK = 3, rerank = 8)
            .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
          assert(batch.getOrElse(qid, Seq.empty) == single,
            s"[$label] auto-tier batch != single@tierProbe=$tierProbe for qid=$qid")
        }
    }
  }
}
