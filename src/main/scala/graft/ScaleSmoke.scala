package graft

import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.functions.VectorFunctions
import graft.lake.LakeClient
import graft.operators.{AnnIndex, CorpusPipeline, Dedup, IvfPq, KMeans, ProductQuantizer, Similarity}

/** ScaleSmoke's stage runner: each stage is timed, printed and
  * failure-checked here, so a stage body only computes and returns its
  * summary. Messages raised inside a stage print after that stage's line. */
private[graft] final class StageRunner {
  private var anyFailure = false
  private var held: Option[ArrayBuffer[String]] = None

  /** The verdict: true once any stage threw or any check failed. */
  def failed: Boolean = anyFailure

  /** Print `msg`; inside a stage, after the stage's own line. */
  def note(msg: String): Unit = held match {
    case Some(buf) => buf += msg
    case None => println(msg)
  }

  /** Unless `ok`, record a failure and print `msg`; the stage goes on. */
  def check(ok: Boolean, msg: => String): Unit =
    if (!ok) { anyFailure = true; note(msg) }

  /** Run `body`, then print `name` padded to 28 characters, the wall
    * time, the summary `body` returns and the host load. A throw prints
    * `<name> FAILED: <Class>: <msg>` instead and records the failure. */
  def stage(name: String)(body: => String): Unit = {
    val buf = ArrayBuffer.empty[String]
    held = Some(buf)
    val t0 = System.nanoTime()
    try {
      val summary = body
      println(f"$name%-28s ${(System.nanoTime() - t0) / 1e9}%8.1f s  $summary" +
        f"  load=${hostLoad()}%.1f")
    } catch {
      case e: Throwable =>
        check(ok = false, s"$name FAILED: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(300))
    } finally {
      held = None
      buf.foreach(println)
    }
  }

  /** Run `f` on a [[LakeClient.local]] lake holding the filesystem `fs`,
    * rooted in a fresh temp directory that is deleted however `f` ends. */
  def withLake[T](prefix: String, fs: String)(f: LakeClient => T): T = {
    val root = Files.createTempDirectory(prefix)
    try {
      val lake = LakeClient.local(root.toString)
      lake.createFilesystem(fs)
      f(lake)
    } finally FileUtils.deleteDirectory(root.toFile)
  }

  /** 1-minute host load average, or the JVM's reading where
    * /proc/loadavg is absent. */
  private def hostLoad(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) =>
      java.lang.management.ManagementFactory
        .getOperatingSystemMXBean.getSystemLoadAverage
    }
}

/** Diagnostic main: run the heavy LLM-pipeline operators at ~20× the
  * largest fixture (100k documents, 40k embeddings) to show the plans
  * survive a scale-up the per-round bench never exercises — bounded
  * candidate fan-out (df cutoff, bucket caps, adaptive LSH tiers),
  * convergent clustering, no driver materialization. Replicas perturb
  * the text (replica-suffix token) so near-dup structure is realistic
  * 20-cliques, not pure exact duplicates.
  *
  * Usage: runMain graft.ScaleSmoke [sfDir] [replicas]
  * Prints one timing line per operator; exits nonzero on any failure.
  */
object ScaleSmoke {
  /** MemoryStream row shape for the streaming state-bound smoke. */
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double)

  /** The replica document corpus: each fixture doc replicated with a
    * perturbing suffix token, so near-dup structure is realistic
    * `replicas`-cliques, not exact copies. Persisted; NOT counted. */
  private def replicaDocs(spark: SparkSession, sfDir: String, replicas: Int): DataFrame = {
    val r = explode(sequence(lit(0), lit(replicas - 1)))
    graft.tables.Tables.documents(spark, sfDir)
      .withColumn("r", r)
      .select((col("doc_id") * replicas + col("r")).as("doc_id"),
        concat(col("text"), lit(" replicatoken"), col("r")).as("text"))
      .persist()
  }

  /** The replica embedding corpus: vectors replicated UNPERTURBED —
    * replica top-k structure is exact duplicates (easy for any
    * geometry; the recall DIFFERENCES live in the fixture spec's
    * moderate-cosine sweep). Persisted. */
  private def replicaEmbeddings(spark: SparkSession, sfDir: String, replicas: Int): DataFrame = {
    val r = explode(sequence(lit(0), lit(replicas - 1)))
    graft.tables.Tables.embeddings(spark, sfDir)
      .withColumn("r", r)
      .select((col("vec_id") * replicas + col("r")).as("vec_id"), col("embedding"))
      .persist()
  }

  /** Rows in the adversarial skew corpus (~2M: big enough that a
    * single-task hot-key shape visibly staggers at local[32]). */
  private val AdversarialRows = 2000000L

  /** The round-11 adversarial hot-key corpus, the workload whose
    * window vs agg+join Dedup forms NOTES.md "Round-11 measurement
    * records" measured (the skew wall bars are ~4× those times):
    * single degenerate keys carry a constant fraction of the rows —
    *   - 5 % verbatim mega-copies of one text: one mega content-hash
    *     group (dd2) and one mega identical-SimHash group (dd5 stars);
    *   - 5 % near-empty two-token docs: degenerate 16-bit SimHash
    *     chunks with thousands of DISTINCT sigs (dd5 dsz path) and
    *     degenerate MinHash band buckets (dd3 segmented chains);
    *   - 90 % unique bodies sharing a verbatim boilerplate tail:
    *     stop-shingles with df ≈ 0.9·n (the keptShingles df cutoff). */
  private def adversarialCorpus(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      when(col("id") % 20 === 0,
        lit("mega duplicate document body held verbatim every copy identical"))
      .when(col("id") % 20 === 1, concat(lit("x t"), col("id")))
      .otherwise(concat(lit("unique body "), col("id"),
        lit(" trailing boiler plate of the and in to be")))
      .as("text"))

  /** Quiet-box [[calCpu]] reading (NOTES round-11) the skew wall bars
    * are set against. */
  private val RefCpuSec = 0.78

  /** Pinned single-core integer hash loop, seconds: a reading above
    * [[RefCpuSec]] means a loaded or slower box. */
  private def calCpu(): Double = {
    val t0 = System.nanoTime()
    val h = hashLoop(400000000, 0x9E3779B97F4A7C15L)
    val s = (System.nanoTime() - t0) / 1e9
    if (h == 42) print("") // keep the loop live under JIT
    s
  }

  private def hashLoop(iters: Int, seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < iters) { h = (h ^ (h >>> 33)) * 0xFF51AFD7ED558CCDL + i; i += 1 }
    h
  }

  /** Exact top-`k` of each query `qid` in `qs` over `corpus`, as
    * (qid, vec_id) rows: the identical 3-decimal rounding + lower-id tie
    * rule as the kernels, so set membership compares deterministically
    * even on the tie-heavy replica corpus. */
  private def exactTopK(corpus: DataFrame, qs: DataFrame, k: Int,
                        excludeSelf: Boolean): DataFrame = {
    val pairs = corpus.crossJoin(broadcast(qs))
    (if (excludeSelf) pairs.where(col("vec_id") =!= col("qid")) else pairs)
      .select(col("qid"), col("vec_id"),
        round(VectorFunctions.vecCosine(col("embedding"), col("qemb")), 3).as("cos"))
      .groupBy(col("qid"))
      .agg(VectorFunctions.topkByScore(col("cos"), col("vec_id"), k).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.id").as("vec_id"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val replicas = args.lift(1).map(_.toInt).getOrElse(20)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // one source of session truth: same AQE/UTC/extensions/legacy-ts
    // config as the engine proper (hand-rolled conf here diverged)
    val spark = graft.core.GraftSession
      .builder("scale-smoke", s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = replicaDocs(spark, sfDir, replicas)
    val embs = replicaEmbeddings(spark, sfDir, replicas)
    val nDocs = docs.count()
    val nVecs = embs.count()
    println(s"scale-smoke: $nDocs docs, $nVecs vectors (x$replicas)")
    val run = new StageRunner
    import run.{check, note, stage, withLake}

    def timed(name: String)(body: => Long): Unit =
      stage(name)(f"${body}%10d rows")

    /** The fixture's embeddings table, unreplicated. */
    def unreplicated(): DataFrame = graft.tables.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))

    // Synthetic clustered corpus for the drift stages: `nClusters` tight
    // Gaussian clusters (centers ~ N(0,1)^64), deterministic driver-side
    // synthesis. σ=0.6 is wide enough that neighbor ranks resolve at the
    // kernels' 3-decimal rounding.
    def clustered(seed: Int, idBase: Long, nClusters: Int = 16,
                  perCluster: Int = 250, sigma: Float = 0.6f): DataFrame = {
      val dim = 64
      val rnd = new scala.util.Random(seed)
      val centers = Array.fill(nClusters, dim)(rnd.nextGaussian().toFloat)
      val rows: Seq[(Long, Seq[Float])] =
        for (c <- 0 until nClusters; i <- 0 until perCluster) yield {
          (idBase + c * perCluster + i,
            centers(c).map(x => x + sigma * rnd.nextGaussian().toFloat).toSeq)
        }
      spark.createDataFrame(rows).toDF("vec_id", "embedding")
        .select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding"))
        .repartition(cpus)
    }

    // The orthogonal-drift (base, appended) corpus pair shared by the
    // IVF-isotropic and PQ-control drift stages: the unreplicated table
    // and a seeded coordinate permutation + sign flips of it (preserves
    // every pairwise cosine and the per-subspace statistics) over an
    // appended id range. The IVF-vs-PQ comparison is only valid because
    // both stages apply the IDENTICAL transform (same seed, same
    // derivation order).
    def orthogonalDriftPair(): (DataFrame, DataFrame) = {
      val base = unreplicated()
      val rnd = new scala.util.Random(3)
      val perm = rnd.shuffle((0 until 64).toVector)
      val sign = Vector.fill(64)(if (rnd.nextBoolean()) 1.0f else -1.0f)
      (base, base.select((col("vec_id") + 10000000L).as("vec_id"),
        array((0 until 64).map(i =>
          (element_at(col("embedding"), perm(i) + 1) * lit(sign(i))).cast("float")): _*)
          .as("embedding")))
    }

    // The clustered-drift (base, appended) corpus pair shared by the IVF
    // and flat-PQ cluster-move drift stages — their comparison assumes
    // the IDENTICAL pair, so the seeds live in one place.
    def clusteredDriftPair(): (DataFrame, DataFrame) =
      (clustered(11, 0L), clustered(97, 1000000L))

    // ADC batch-vs-loop harness (ss9 probed / ss8 flat-PQ) on the
    // (per-query, batch) top-10 pair that `index` opens: warm one query,
    // time the honest per-query loop (including its per-job planning —
    // what a caller without the batch API pays), time the one-pass
    // batch, assert every query answered identically, then the
    // recall@10 bar vs exact brute force (VERDICT r11 #4's loud
    // sketch-regression bars).
    def adcBatchStage(label: String, recallLabel: String, recallBar: Double,
                      barMsg: String, corpus: DataFrame)(
        index: => (Array[Float] => DataFrame, DataFrame => DataFrame)): Unit = {
      val cached = ArrayBuffer.empty[DataFrame]
      var served: Option[(DataFrame, DataFrame, Int)] = None // (queries, answers, nq)
      try {
        stage(label) {
          val (loopTopK, batchTopK) = index
          val qdf = embs.where(col("vec_id") % 1250 === 0)
            .select(col("vec_id").as("qid"), col("embedding").as("qemb")).persist()
          cached += qdf
          val qvecs = qdf.collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          val nq = qvecs.length
          // one throwaway query warms both code paths (JIT + codegen cache)
          loopTopK(qvecs.head._2).count()
          val tL0 = System.nanoTime()
          var loopRows = 0L
          qvecs.foreach { case (_, q) => loopRows += loopTopK(q).count() }
          val tLoop = (System.nanoTime() - tL0) / 1e9
          val tB0 = System.nanoTime()
          val batchDf = batchTopK(qdf).persist()
          cached += batchDf
          val batchRows = batchDf.count()
          val tBatch = (System.nanoTime() - tB0) / 1e9
          assert(batchRows == nq.toLong * 10 && loopRows == batchRows,
            s"batch must answer every query: $batchRows vs $loopRows rows for $nq queries")
          served = Some((qdf, batchDf, nq))
          check(tBatch <= tLoop,
            s"$label serving slower than the per-query loop — adoption premise broken")
          f"${nq}q: batch $tBatch%.1f s vs loop $tLoop%.1f s (x${tLoop / tBatch}%.1f)"
        }
        for ((qdf, batchDf, nq) <- served) stage(recallLabel) {
          val hit = batchDf.select(col("qid"), col("vec_id"))
            .join(exactTopK(corpus, qdf, 10, excludeSelf = false),
              Seq("qid", "vec_id"), "left_semi").count()
          val recall = hit.toDouble / (nq.toLong * 10)
          check(recall >= recallBar, f"$barMsg $recall%.3f below the $recallBar%.2f bar")
          f"recall $recall%.3f ($hit/${nq * 10} vs exact top-10)"
        }
      } finally cached.foreach(_.unpersist())
    }

    // Persisted-index drift: fit on `base` (IVF-PQ at `ivfCells` cells,
    // or flat PQ when None), write, append `drifted` under the stale
    // model through the real write→append→read path, then measure the
    // re-fit signal with the OPERATOR API itself (AnnIndex.driftCheck /
    // driftCheckPq over a bounded hash-ordered sample of drifted-slice
    // queries — recent appends, exactly where drift bites). Each bar is
    // (holds, message).
    def driftStage(label: String, geometry: String, ivfCells: Option[Int],
                   corpora: => (DataFrame, DataFrame), maxQueries: Int)(
        bars: AnnIndex.DriftReport => Seq[(Boolean, String)]): Unit =
      stage(label) {
        withLake("graft-smoke-drift", "drift") { lake =>
          val (base, drifted) = corpora
          val corpus = base.unionByName(drifted)
          val report = ivfCells match {
            case Some(cells) =>
              AnnIndex.writeIvfPq(lake, "drift", "idx", base, IvfPq.fit(base, cells = cells))
              AnnIndex.appendIvfPq(lake, "drift", "idx", drifted)
              AnnIndex.driftCheck(lake, "drift", "idx", corpus = corpus,
                queries = drifted, topK = 10, rerank = 100, maxQueries = maxQueries)
            case None =>
              AnnIndex.writePq(lake, "drift", "idx", base, ProductQuantizer.fit(base))
              AnnIndex.appendPq(lake, "drift", "idx", drifted)
              AnnIndex.driftCheckPq(lake, "drift", "idx", corpus = corpus,
                queries = drifted, topK = 10, rerank = 100, maxQueries = maxQueries)
          }
          bars(report).foreach { case (ok, msg) => check(ok, msg) }
          f"stale ${report.staleRecall}%.2f vs refit ${report.refitRecall}%.2f " +
            f"recall@10 ($geometry${report.queries} queries, " +
            f"gain ${report.refitRecall - report.staleRecall}%+.2f)"
        }
      }

    // Streaming stages run FIRST among the operators (round 13 — VERDICT
    // r12 #4): as the closing stages of an 85-min run their walls swung
    // 94-487 s across same-code records, with end-of-smoke JVM heap/GC
    // state dominating the readings; early placement makes the wall a
    // trackable number. The state-plateau asserts are the hard bars
    // either way.
    // Streaming at 20×: watermarks are CONFIGURED everywhere, but only a
    // driven run proves state is BOUNDED — rows-in-state must plateau at
    // O(open windows / in-band rows) as the watermark advances, not grow
    // with total events (the streaming analogue of the byte-stats
    // guards). Event time advances faster than the watermark+retention
    // horizon each batch, so every batch must evict the previous one's
    // state; the early-vs-late max comparison catches a leak of ANY
    // per-batch magnitude.
    locally {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
      def at(minutes: Long) = new java.sql.Timestamp(t0 + minutes * 60000L)
      def stateNow(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
        Option(q.lastProgress).map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)

      // streaming volume scales WITH the multiplier (perBatch ∝ replicas)
      // so the plateau assertions are re-proved at every smoke scale:
      // state must be O(in-band rows per batch), never O(total events).
      // State store = the engine default (GraftSession): RocksDB with
      // changelog checkpointing — measured 254 s vs 372 s HDFS-backed on
      // the 2M-event band join (NOTES.md "Round-10 changes" item 5), and
      // the only provider whose state can exceed executor heap at
      // production scale.
      timed(s"stream sessions x$replicas") {
        val in = MemoryStream[Ev]
        val q = graft.streaming.EventStreams
          .streamingSessions(in.toDF(), watermark = "10 minutes")
          .writeStream.format("memory").queryName("smoke_sessions")
          .outputMode("append").start()
        val batches = 20
        val perBatch = 5000 * replicas
        val users = 1000 * replicas
        var id = 0L
        val states = ArrayBuffer[Long]()
        for (b <- 0 until batches) {
          val base = b.toLong * 120 // 2 h apart ≫ 30-min gap + 10-min watermark
          in.addData((0 until perBatch).map { i =>
            id += 1
            Ev(id, at(base + (i % 50)), (i % users).toLong, "a", 1.0)
          })
          q.processAllAvailable()
          states += stateNow(q)
        }
        val out = spark.table("smoke_sessions").count()
        q.stop()
        val early = states.take(5).max
        val late = states.takeRight(5).max
        assert(out >= users.toLong * (batches - 2), s"only $out sessions emitted")
        assert(late <= early * 2,
          s"session state grew: early max $early, late max $late — not watermark-bounded")
        assert(states.max <= 4L * users,
          s"state ${states.max} rows is not O(open sessions) for $users users")
        println(f"  session state peak ${states.max}%d rows (bound ${4L * users}%d) " +
          f"over ${batches * perBatch}%d events")
        out
      }

      timed(s"stream-stream join x$replicas") {
        val clicks = MemoryStream[Ev]
        val purchases = MemoryStream[Ev]
        val q = graft.streaming.EventStreams
          .streamingStreamJoin(clicks.toDF(), purchases.toDF(), watermark = "1 hour")
          .writeStream.format("memory").queryName("smoke_join")
          .outputMode("append").start()
        val batches = 20
        val perBatch = 2500 * replicas
        var uid = 0L
        val states = ArrayBuffer[Long]()
        for (b <- 0 until batches) {
          val base = b.toLong * 180 // 3 h apart ≫ 1-h watermark + 30-min band
          val pairs = (0 until perBatch).map { i =>
            uid += 1
            (Ev(uid, at(base + (i % 50)), uid, "click", 0.0),
             Ev(uid + 1000000000L, at(base + (i % 50) + 10), uid, "purchase", 1.0))
          }
          clicks.addData(pairs.map(_._1))
          purchases.addData(pairs.map(_._2))
          q.processAllAvailable()
          states += stateNow(q)
        }
        val out = spark.table("smoke_join").count()
        q.stop()
        val early = states.take(5).max
        val late = states.takeRight(5).max
        assert(out == batches.toLong * perBatch,
          s"expected ${batches * perBatch} joined rows, got $out")
        assert(late <= early * 2,
          s"join state grew: early max $early, late max $late — not watermark-bounded")
        // measured plateau is exactly 2×perBatch (both sides' current
        // in-band batch, previous batch fully evicted — peak 100000 at
        // perBatch=50000, NOTES.md "Round-10 changes" item 5); 3× bound =
        // measured + headroom, tightened from the pre-measurement 6×
        assert(states.max <= 3L * perBatch,
          s"state ${states.max} rows is not O(in-band rows) for $perBatch/side batches")
        println(f"  join state peak ${states.max}%d rows (bound ${3L * perBatch}%d) " +
          f"over ${2 * batches * perBatch}%d events")
        out
      }
    }

    timed("dd2_hash (exact)") {
      Dedup.dd2From(docs).count()
    }
    // dd4 pairs computed ONCE and shared by the dd4/dd6/dd3-recall
    // stages (each used to recompute the full inverted-index join)
    // explicit counts (the smoke just counted the corpus) — the df
    // cutoff never depends on cached-plan statistics here
    val dd4Pairs = Dedup.dd4From(docs, nDocs)
      .select(col("doc_a"), col("doc_b"))
      .persist(MEMORY_AND_DISK)
    timed("dd4_ngram_jaccard (exact)") {
      dd4Pairs.count()
    }
    val dd3Pairs = Dedup.dd3From(docs, nDocs)
      .select(col("doc_a"), col("doc_b"))
      .persist(MEMORY_AND_DISK)
    timed("dd3_minhash_lsh") {
      dd3Pairs.count()
    }
    // dd3's scale contract is CONNECTIVITY, not pair enumeration (over-cap
    // buckets chain-link instead of enumerating C(M,2)): measure the
    // fraction of exact dd4 pairs whose endpoints land in one connected
    // component of the dd3 edge set. This is the recall a dedup consumer
    // (keep one doc per component) actually experiences — and the metric
    // that exposed the pre-round-10 over-cap discard, which measured
    // 752/1.25M pairs at 100× where chain linking recovers the cliques.
    stage("recall: dd3 connectivity") {
      val comp = Dedup.dd6ClusterFrom(docs.select(col("doc_id")), dd3Pairs)
        .select(col("doc_id"), col("cluster_rep"))
      val truth = dd4Pairs.count()
      val connected = dd4Pairs
        .join(comp.select(col("doc_id").as("doc_a"), col("cluster_rep").as("ca")), "doc_a")
        .join(comp.select(col("doc_id").as("doc_b"), col("cluster_rep").as("cb")), "doc_b")
        .where(col("ca") === col("cb")).count()
      val recall = if (truth == 0) 1.0 else connected.toDouble / truth
      // round-11: dd4's MinJaccardShingles floor removed the
      // single-shared-shingle coincidence pairs (half the 20×
      // denominator, full-shingle J ≈ .02) that banding rightly never
      // finds — the denominator is now real near-dups only; bar .80,
      // fine numbers in NOTES
      check(recall >= 0.8, f"dd3 connectivity recall $recall%.3f below the .80 bar")
      f"recall $recall%.3f ($connected/$truth dd4 pairs intra-component)"
    }
    timed("dd6_cluster (CC over dd4)") {
      Dedup.dd6ClusterFrom(docs.select(col("doc_id")), dd4Pairs).count()
    }
    dd3Pairs.unpersist()
    dd4Pairs.unpersist()
    timed("ss5_knn_join (routed: IVF)") {
      // 40k rows is past the home LSH tier, so this exercises the
      // knnJoinIvf route (seeded 64 cells, knnNProbeFor depth)
      Similarity.knnJoin(embs).count()
    }
    // the SHIPPED ss5 route past the home tier is the FITTED one (the
    // entry memoizes a KMeans fit — ss5KnnJoin); measure its rank-recall
    // here on the routed tier, not just its row count. Ground truth =
    // exact top-5 for a 1/80 query sample against the FULL corpus (same
    // 3-decimal rounding + lower-id ties as the kernel). The replica
    // corpus makes true top-5s exact duplicates, which ANY sane geometry
    // finds — so the bar (.8) is a collapse detector (the 8×8 LSH tier
    // measured .138 on rank-recall; a regression of that kind fails
    // loudly), while the fixture spec owns the fine-grained .786 number.
    stage("recall: ss5 routed (fitted)") {
      // the crossJoin is the smoke's heaviest single plan: both caches
      // are released however the stage ends
      var routed: DataFrame = null
      var exact: DataFrame = null
      try {
        routed = Similarity.knnJoinFitted(embs).persist()
        val n = routed.count()
        val qs = embs.where(col("vec_id") % 80 === 0)
          .select(col("vec_id").as("qid"), col("embedding").as("qemb"))
        exact = exactTopK(embs, qs, 5, excludeSelf = true).persist()
        val truth = exact.count()
        val hits = routed.select(col("vec_id").as("qid"), col("nbr_id").as("vec_id"))
          .join(exact, Seq("qid", "vec_id"), "left_semi").count()
        val recall = if (truth == 0) 1.0 else hits.toDouble / truth
        check(recall >= 0.8, f"ss5 fitted-route rank-recall $recall%.3f below the .80 bar")
        f"recall $recall%.3f ($hits/$truth sampled ranks, $n rows)"
      } finally {
        if (routed != null) routed.unpersist()
        if (exact != null) exact.unpersist()
      }
    }
    val dd5Pairs = Dedup.dd5From(docs)
      .select(col("doc_a"), col("doc_b"))
      .persist(MEMORY_AND_DISK)
    timed("dd5_simhash (capped bands)") {
      dd5Pairs.count()
    }
    // dd5 connectivity recall vs EXACT hamming-≤3 ground truth (VERDICT
    // r10 #3): truth is computable from the signatures alone — the 4×16
    // band self-join with the cap OPENED — restricted to a 1/5 endpoint
    // sample (the uncapped join is quadratic in degenerate buckets;
    // sampling both endpoints cuts that 25× while measuring the same
    // connectivity fraction). TWO numbers, because dd5's over-cap
    // contract (Dedup.dd5From) guarantees connectivity only for pairs
    // sharing ≥1 band whose bucket is under the raw cap OR holds ≤ cap
    // DISTINCT sigs — a pair reachable only through buckets degenerate
    // in BOTH senses drops by design (the fan-out bound IS the
    // operator):
    //   - GUARANTEED-pair connectivity, hard bar .999 (the contract,
    //     proven at fixture scale in OperatorSemanticsSpec, asserted
    //     here at the scaled bucket populations);
    //   - raw connectivity over ALL sketch positives, informational —
    //     it records how much of the corpus' hamming mass sits in
    //     doubly-degenerate buckets at this template density (synthetic
    //     fixture docs SimHash-collide heavily; measured ~.19 at 20×).
    stage("recall: dd5 connectivity") {
      VectorFunctions.ensureRegistered(spark)
      val cap = Dedup.MaxBucketSize
      val sigAll = docs
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
        .withColumn("h", xxhash64(col("tok")))
        .groupBy(col("doc_id"))
        .agg(VectorFunctions.simhashAgg(col("h")).as("simhash"))
        .persist(MEMORY_AND_DISK)
      val bandedAll = sigAll.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL)): _*))
          .as(Seq("band", "chunk")))
      // FULL-corpus bucket stats (the guarantee is a property of the
      // production bucket populations, not the sample's)
      val bstats = bandedAll.groupBy(col("band"), col("chunk"))
        .agg(count(lit(1)).as("raw"), countDistinct(col("simhash")).as("dsig"))
        .where(col("raw") > cap && col("dsig") > cap)
        .select(col("band"), col("chunk"), lit(true).as("degenerate"))
      val sig = sigAll.where(col("doc_id") % 5 === 0)
      val banded = sig.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL)): _*))
          .as(Seq("band", "chunk")))
      val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"),
        col("band"), col("chunk"))
      val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"),
        col("band"), col("chunk"))
      // colliding (pair, band) rows annotated with the bucket's
      // degeneracy; a pair is GUARANTEED iff any colliding band is
      // not doubly-degenerate
      val collisions = a.join(b, Seq("band", "chunk"))
        .where(col("doc_a") < col("doc_b"))
        .where(bit_count(col("sh_a").bitwiseXOR(col("sh_b"))) <= 3)
        .join(bstats, Seq("band", "chunk"), "left_outer")
        .groupBy(col("doc_a"), col("doc_b"))
        .agg(max(when(col("degenerate").isNull, 1).otherwise(0)).as("guaranteed"))
        .persist(MEMORY_AND_DISK)
      val truth = collisions.count()
      val guaranteedTruth = collisions.where(col("guaranteed") === 1).count()
      // the PRODUCT path on purpose: dd5's sketch graph chains
      // transitively (sigs drifting ≤3 bits per hop), so at 100× its
      // diameter blows past min-label propagation — sketch-derived
      // edges pass the round-12 provenance hint and start at star
      // contraction directly, skipping the probe rounds that each
      // cost a full-edge-set join+groupBy (the first 100× run threw
      // here when no star path existed at all)
      val comp = Dedup.dd6ClusterFrom(
        docs.select(col("doc_id")), dd5Pairs, highDiameterHint = true)
        .select(col("doc_id"), col("cluster_rep"))
      val joined = collisions
        .join(comp.select(col("doc_id").as("doc_a"), col("cluster_rep").as("ca")), "doc_a")
        .join(comp.select(col("doc_id").as("doc_b"), col("cluster_rep").as("cb")), "doc_b")
        .select(col("guaranteed"), (col("ca") === col("cb")).as("conn"))
        .persist(MEMORY_AND_DISK)
      val connRaw = joined.where(col("conn")).count()
      val connG = joined.where(col("conn") && col("guaranteed") === 1).count()
      val rawRec = if (truth == 0) 1.0 else connRaw.toDouble / truth
      val gRec = if (guaranteedTruth == 0) 1.0 else connG.toDouble / guaranteedTruth
      check(gRec >= 0.999, f"dd5 GUARANTEED connectivity $gRec%.3f below the .999 contract bar")
      sigAll.unpersist(); collisions.unpersist(); joined.unpersist()
      f"guaranteed $gRec%.3f ($connG/$guaranteedTruth), raw $rawRec%.3f ($connRaw/$truth)"
    }
    dd5Pairs.unpersist()
    timed("ss2/lshNeardupPairs (tiered)") {
      Similarity.lshNeardupPairs(embs, 0.4).count()
    }
    timed("ss4_ann_ivf (tiered cells)") {
      Similarity.ss4From(embs).count()
    }
    timed("dd8_decontaminate (bcast bench)") {
      Dedup.decontaminateFrom(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0)).count()
    }
    // ADVERSARIAL HOT-KEY SKEW (round-11): a 2M-doc corpus where single
    // degenerate keys carry a constant fraction of the rows — the shapes
    // the agg+join rework of Dedup's counting windows exists for:
    //   - 90 % of docs share a verbatim boilerplate tail → a handful of
    //     stop-shingles with df ≈ 1.8M (the old df window shuffled every
    //     occurrence of each to ONE task just to count it);
    //   - 100k docs are verbatim copies of one text → one mega
    //     content-hash group (dd2's old per-hash row_number serialized
    //     it) and one mega identical-SimHash group (dd5's star path);
    //   - 100k near-empty two-token docs → degenerate 16-bit SimHash
    //     chunks holding thousands of DISTINCT sigs (dd5's dsz path) and
    //     degenerate MinHash band buckets (dd3's segmented chain path).
    // Each stage runs under a wall bar ~4× its measured round-11 time
    // (NOTES) — a regression back to a single-task hot-key shape fails
    // the bar instead of silently staggering.
    locally {
      val nAdv = AdversarialRows
      val adv = adversarialCorpus(spark, nAdv)
      def barred(name: String, barSec: Double)(body: => Long): Unit = {
        // the bars are quiet-box absolutes (~4× measured round-11 wall);
        // on a loaded or slower box they false-fail, so scale each by
        // this stage's OWN calCpu reading relative to the quiet-box
        // reference (ADVICE r11 #2). A faster/quiet box keeps the
        // absolute bar.
        val calPre = calCpu()
        val bar = barSec * math.max(1.0, calPre / RefCpuSec)
        stage(name) {
          val t0 = System.nanoTime()
          val rows = body
          val sec = (System.nanoTime() - t0) / 1e9
          check(sec <= bar, f"$name took $sec%.1f s — over the $bar%.0f s skew bar " +
            f"(base $barSec%.0f s x cal $calPre%.2f/${RefCpuSec}%.2f; " +
            "hot-key shape regressed to a single-task form?)")
          f"$rows%10d rows  cal=$calPre%.2f" + (if (bar != barSec) f" bar=$bar%.0f" else "")
        }
      }
      barred("skew: dd2 mega-hash", 120) {
        Dedup.dd2From(adv).count()
      }
      barred("skew: dd4 stop-shingles", 240) {
        Dedup.dd4From(adv, nAdv).count()
      }
      barred("skew: dd3 degenerate buckets", 480) {
        Dedup.dd3From(adv, nAdv).count()
      }
      barred("skew: dd5 mega-sig + chunks", 240) {
        Dedup.dd5From(adv).count()
      }
      // round 14: the IVF kNN kernel's adversarial shape — a 90 % flood
      // cluster whose shared primary cell holds ~27k members (7 chunks
      // at the 4096 chunk size), driving ~729M candidates through the
      // in-row CellTopK path's multi-chunk merge. Completion under the
      // bar proves the chunked member arrays keep every row and buffer
      // bounded on a flooded cell (an OOM regression kills the stage
      // outright); the row assert proves the flood queries still each
      // get their k — the no-wrong-answers contract under skew.
      barred("skew: ss5 flood cell (in-row topk)", 240) {
        val nV = 30000L
        val dim = 64
        val flood = spark.range(nV).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(dim - 1)), j =>
            when(col("id") % 10 === 0,
              pmod(xxhash64(col("id"), j), lit(2000L)).cast("double") / 1000.0 - 1.0)
            .otherwise(lit(1.0) +
              pmod(xxhash64(col("id"), j), lit(100L)).cast("double") / 1000.0)
            .cast("float")).as("embedding"))
        val cs = Similarity.seededCentroidsForTest(16, dim)
        val out = Similarity.knnJoinIvfKernel(
          flood, 5, cs, Seq.fill(cs.size)(1.0), 4, maxPop = Long.MaxValue)
        val rows = out.count()
        assert(rows >= (0.9 * nV * 5).toLong,
          s"flood-cell kNN returned $rows rows — every cluster query must get k=5")
        rows
      }
    }
    // approximation QUALITY at the scaled tiers, not just bounded work:
    // ground truth restricted to pairs within a ~1/7 sample (exact
    // all-pairs on the sample is ~33M dots at 20×), compared against
    // the FULL-corpus approximate run's pairs inside the sample. Bucket
    // population and tier geometry are those of the full corpus, so the
    // measured recall is the tier's, not a small-corpus proxy.
    //
    // The exact truth is computed ONCE and shared by every pair-recall
    // stage (round 13 — VERDICT r12 #2: at 100× per-stage re-derivation
    // cost more wall than the operators it verified — ss4's five-rung
    // ladder alone ~1,100 s of an 85-min smoke). One pass at the lowest
    // threshold in use (.4) with the rounded cosine retained; each stage
    // filters to its own threshold — bit-identical to a direct
    // per-threshold pass because exactNeardupPairs rounds cos to 3
    // decimals BEFORE its threshold filter.
    val exactTruth = Similarity
      .exactNeardupPairs(embs.where(col("vec_id") % 7 === 0), 0.4)
      .select(col("vec_a"), col("vec_b"), col("cos"))
      .persist(MEMORY_AND_DISK)
    // the shared truth cache is released however the section ends
    try {
      timed("exact pair truth@.4 (shared)") {
        exactTruth.count()
      }
      def sampleRecall(name: String, approx: => DataFrame, threshold: Double,
                       bar: Double): Unit = stage(name) {
        val exact = exactTruth.where(col("cos") >= threshold)
          .select(col("vec_a"), col("vec_b"))
        val inSample = approx
          .where(col("vec_a") % 7 === 0 && col("vec_b") % 7 === 0)
          .select(col("vec_a"), col("vec_b"))
        val truth = exact.count()
        val hit = inSample.join(exact, Seq("vec_a", "vec_b"), "left_semi").count()
        val recall = if (truth == 0) 1.0 else hit.toDouble / truth
        check(recall >= bar,
          f"$name recall $recall%.3f below the $bar%.2f bar — bump the tier table")
        f"recall $recall%.3f ($hit/$truth sampled pairs)"
      }
      sampleRecall("recall: lshNeardupPairs@.45",
        Similarity.lshNeardupPairs(embs, 0.45), 0.45, bar = 0.8)
      // ss2's OWN operating point (threshold .4): contract band vs raw
      // physics, the dd5-connectivity split (VERDICT r11 #4). A flat bar
      // at the query threshold is corpus-mix, not contract: the .4 truth
      // is ~half marginal-cosine pairs whose random-hyperplane collision
      // probability at the 4×12 tier is 1-(1-(1-θ/π)^12)^4 ≈ 2-10 % — no
      // feasible tier lifts that (recall .75 at cos .4 needs ~350
      // tables). The op's contract is NEAR-DUP detection: at cos ≥ .99
      // the same formula gives ≥ .96 for ANY qualifying pair, so that
      // band takes the hard bar (measured 1.000 at 20×, NOTES.md
      // "Round-12 changes" item 4: marginal bands .10/.14, zero truth
      // mass in [.5,.99), replica band 5430/5430); raw threshold recall
      // prints informationally.
      stage("recall: ss2 lshNeardup@.4") {
        var hits: DataFrame = null
        try {
          val inSample = Similarity.lshNeardupPairs(embs, 0.4)
            .where(col("vec_a") % 7 === 0 && col("vec_b") % 7 === 0)
            .select(col("vec_a"), col("vec_b"))
          hits = exactTruth.join(inSample, Seq("vec_a", "vec_b"), "left_semi")
            .persist(MEMORY_AND_DISK)
          val coreTruth = exactTruth.where(col("cos") >= 0.99).count()
          val coreHit = hits.where(col("cos") >= 0.99).count()
          val rawTruth = exactTruth.count()
          val rawHit = hits.count()
          val core = if (coreTruth == 0) 1.0 else coreHit.toDouble / coreTruth
          val raw = if (rawTruth == 0) 1.0 else rawHit.toDouble / rawTruth
          check(core >= 0.95,
            f"recall: ss2 lshNeardup@.4 near-dup recall $core%.3f below the .95 contract bar")
          // tier-regression drift guard (ADVICE r12): the hard near-dup
          // band is dominated by exact replica pairs, whose identical LSH
          // signatures collide under ANY tier geometry — it has almost no
          // power against a geometry regression. The RAW recall at the
          // operating threshold does: it is dominated by marginal-cosine
          // pairs whose collision probability is tier-sensitive (2-10 %
          // per pair at 4×12), and it is DETERMINISTIC for a fixed corpus
          // + the seeded hyperplanes, so any drop beyond slack from the
          // recorded baseline means code or tier changed, not noise.
          // Baselines = the round-12 measured artifacts at the two
          // official smoke scales.
          Map(20 -> 0.425, 100 -> 0.509).get(replicas) match {
            case Some(base) =>
              check(raw >= base - 0.05, f"recall: ss2 raw@.4 $raw%.3f dropped >.05 below " +
                f"the recorded x$replicas baseline $base%.3f — tier geometry regressed")
              if (raw > base + 0.05)
                note(f"note: ss2 raw@.4 $raw%.3f above the x$replicas baseline " +
                  f"$base%.3f — record the new value in ScaleSmoke")
            case None =>
              note(f"note: no ss2 raw@.4 baseline recorded for x$replicas — drift guard inactive")
          }
          f"near-dup(cos>=.99) $core%.3f ($coreHit/$coreTruth), raw@.4 $raw%.3f ($rawHit/$rawTruth)"
        } finally {
          if (hits != null) hits.unpersist()
        }
      }
      // seeded = the oracle-free stand-in (random centroids); fitted =
      // the production path, held to the .75 bar. Asymmetric nProbe=6
      // probing measured at this tier: fitted .843 in 10 s (the round-5
      // head-to-head vs symmetric nProbe=3: .788 in 91 s)
      sampleRecall("recall: ss4 IVF (seeded)@.4",
        Similarity.ss4From(embs), 0.4, bar = 0.5)
      sampleRecall("recall: ss4 IVF (fitted)@.4", {
        val m = KMeans.fit(embs, k = 64, maxIters = 5)
        Similarity.ivfCellPairs(
          KMeans.assignTopCells(embs, m.centroids, Similarity.IvfNProbe), 0.4,
          indexBcast = Similarity.ivfIndexBroadcastable(embs, 4L * Similarity.IvfNProbe))
      }, 0.4, bar = 0.75)
      // seeding cost growth BEFORE the big fits: flat Gonzalez is
      // O(k·pool) with pool ∝ k — quadratic in k — so the ×4 step
      // 1024→4096 would cost ~16× if the ladder kept the flat walk; the
      // two-level walk (KMeans.seedIndices past MaxFlatSeedCells) must
      // hold the measured ratio far under that. Pools are collected per k
      // exactly as fit() does (8k hash-ordered rows), so the ratio is the
      // fit's real driver-side seeding cost, not a synthetic one.
      stage("seeding 1024 -> 4096 cells") {
        // the zero-norm filter is part of fit()'s pool (KMeans.scala:
        // a zero vector in the head makes gonzalez cosines NaN and
        // seedIndices non-distinct) — mirror it or the measured pool
        // is not fit's real one on a corpus with failed-embedding rows
        def pool(k: Int): Array[(Long, Array[Float])] = embs
          .where(VectorFunctions.vecDot(col("embedding"), col("embedding")) > 0)
          .orderBy(xxhash64(col("vec_id")), col("vec_id"))
          .limit(math.max(8 * k, 1024))
          .select(col("vec_id"), col("embedding")).collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        def seedTime(k: Int): Double = {
          val p = pool(k)
          val t = System.nanoTime()
          val s = KMeans.seedIndices(p, k)
          assert(s.length == k && s.distinct.length == k,
            s"seedIndices($k) must return k distinct seeds")
          (System.nanoTime() - t) / 1e9
        }
        seedTime(256) // JIT warm-up, discarded
        val t1024 = seedTime(1024)
        val t4096 = seedTime(4096)
        val ratio = t4096 / math.max(t1024, 1e-9)
        check(ratio <= 8,
          f"seeding growth x$ratio%.1f is not sub-quadratic — two-level walk regressed")
        f"flat $t1024%.2f s -> two-level $t4096%.2f s, x$ratio%.1f (flat x4-k would be ~x16)"
      }
      // the upper IvfCellTiers, forced on this corpus: 256 cells (literal
      // tier ceiling), 1024 cells — the √N tier whose assignment runs
      // the broadcast-centroid plan (KMeans.assignTopCellsBroadcast) that
      // no fixture-scale query engages — and 4096 cells, the top tier,
      // whose fit also exercises the two-level seeding. nProbe follows
      // the tier (ivfNProbeFor); same .75 fitted bar as the home tier.
      for (cells <- Seq(256, 1024, 4096)) {
        sampleRecall(f"recall: ss4 IVF ${cells}c (fitted)", {
          val m = KMeans.fit(embs, k = cells, maxIters = 3)
          Similarity.ivfCellPairs(
            KMeans.assignTopCells(embs, m.centroids, Similarity.ivfNProbeFor(cells)), 0.4,
            indexBcast = Similarity.ivfIndexBroadcastable(
              embs, 4L * Similarity.ivfNProbeFor(cells)))
        }, 0.4, bar = 0.75)
      }
      // the top PairLshTiers geometry (4 tables × 16 bits — what a >2M-row
      // corpus gets), forced here so the tier has a measured recall number
      // before a corpus ever lands on it
      sampleRecall("recall: lshNeardup 4x16 tier",
        Similarity.lshNeardupGeom(embs, 0.45, 64, Some((4, 16))),
        0.45, bar = 0.6)
    } finally {
      exactTruth.unpersist() // last pair-recall consumer above
    }
    // ss9 at 20×, split into the two costs a production deployment
    // actually sees: the ONE-TIME build (fit + encode + persisted
    // cell-partitioned write through the lake client) and the PER-QUERY
    // serve (probed-partition ADC scan + exact re-rank from the
    // persisted table — the warm shape the bench measures since the
    // index landed). Three serves timed together so the line reflects
    // steady-state cost, not first-read planning.
    withLake("graft-smoke-ss9", "smoke9") { lake =>
      val corpus = embs.where(col("vec_id") =!= 0)
      timed("ss9 index build (persisted)") {
        val m = IvfPq.fit(embs, cells = 64)
        AnnIndex.writeIvfPq(lake, "smoke9", "ivfpq", corpus, m)
        lake.listPaths("smoke9", "ivfpq/codes", maxResults = Int.MaxValue)
          .count(en => !en.isDirectory && en.name.endsWith(".parquet")).toLong
      }
      timed("ss9 serve x3 (persisted)") {
        val (enc, m) = AnnIndex.readIvfPq(spark, lake, "smoke9", "ivfpq")
        val q = embs.where(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        var n = 0L
        for (_ <- 1 to 3)
          n += IvfPq.topK(corpus, enc, m, q,
            nProbe = Similarity.IvfNProbe, topK = 10, rerank = 100).count()
        n
      }
      // Batch serving on the SAME persisted index — the production
      // batch shape for the index that matters: Q queries in ONE
      // probed-partition pass (the driver-computed union of probed
      // cells keeps file-level pruning; AnnIndexSpec owns row-level
      // parity with per-query topK) vs the honest per-query loop.
      // Recall bar: probed ss9's loud sketch-regression bar (VERDICT
      // r11 #4 — dd3/dd5/ss4/ss5 all have asserted smoke bars).
      adcBatchStage("ss9 ADC batch", "recall: ss9 ivfpq@10", recallBar = 0.6,
          barMsg = "ss9 recall@10", corpus) {
        val (enc, m) = AnnIndex.readIvfPq(spark, lake, "smoke9", "ivfpq")
        val nProbe = Similarity.IvfNProbe
        (q => IvfPq.topK(corpus, enc, m, q, nProbe, 10, 100),
          qdf => IvfPq.topKBatch(corpus, enc, m, qdf, nProbe, topK = 10, rerank = 100))
      }
    }
    timed("ss8_pq (fit+encode+topk)") {
      val m = ProductQuantizer.fit(embs)
      val enc = ProductQuantizer.encode(embs, m)
      val q = embs.where(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray
      ProductQuantizer.pqTopK(
        embs.where(col("vec_id") =!= 0), enc, m, q, topK = 10, rerank = 100).count()
    }
    // Multi-query ADC batch vs the per-query loop, measured on the
    // PERSISTED flat-PQ index (the round-6 decision gated adoption on
    // exactly this: a disk-resident index, where one pass over the
    // coded table serving Q queries replaces Q passes). Recall bar:
    // flat PQ scans the WHOLE coded table and exact-re-ranks a 100-deep
    // shortlist, so its bar is stiffer than probed ss9's.
    withLake("graft-smoke-batch", "b") { lake =>
      val corpus = embs.where(col("vec_id") =!= 0)
      adcBatchStage("pq ADC batch", "recall: ss8 pq@10", recallBar = 0.7,
          barMsg = "ss8 recall@10", corpus) {
        AnnIndex.writePq(lake, "b", "pq", corpus, ProductQuantizer.fit(embs))
        val (enc, back) = AnnIndex.readPq(spark, lake, "b", "pq")
        (q => ProductQuantizer.pqTopK(corpus, enc, back, q, 10, 100),
          qdf => ProductQuantizer.pqTopKBatch(corpus, enc, back, qdf, topK = 10, rerank = 100))
      }
    }
    // Persisted-index lifecycle, with the question a 100 TB operator
    // actually has: corpus appends land encoded under the STALE model
    // (cheap — only new rows touched); when does the drift cost enough
    // recall to warrant a re-fit? Runs on the UNREPLICATED base table —
    // the replica corpus masks any drift signal the same way it masked
    // the LSH rank-recall collapse (a replica query's true top-k are
    // exact duplicates, which share its cell under ANY model). Drift =
    // a fixed coordinate permutation + sign flips (an orthogonal
    // transform): every pairwise cosine among the new rows is EXACTLY
    // preserved, but their positions relative to the stale centroids
    // are fully scrambled — the honest worst case, where the stale
    // cells are effectively random for the appended slice. The drifted
    // 2× growth is measured at the 256c/p12 operating point (probed
    // fraction 12/256 ≈ 4.7%, the production-shaped scan share).
    // Deterministic (seeded transform, bit-deterministic fits,
    // hash-ordered sample). MEASURED CORRECTION (round 8): the round-7
    // single-query numbers (stale .20 vs refit .50 at 64c/p6) were
    // query-sampling luck — at a 16-32-query sample the fixture shows
    // stale ≈ refit ≈ .37-.41 at 64 cells and a small positive refit
    // gain only at 256 cells (stale .369 vs refit .413 at Q=32). That
    // is CONSISTENT physics, not a broken instrument: this corpus is
    // isotropic (the round-6 covariance measurement that made OPQ
    // pointless), and on an isotropic cloud one well-spread cell
    // geometry is nearly as good as another — rank recall is probe-mass
    // dominated, so stale centroids cost little, with the gap opening
    // as cells grow finer. driftCheck is the instrument a production
    // corpus (clustered, where geometry matters) points at its own
    // data; the bars here are collapse detectors at the measured
    // levels, not gap assertions. The flip side of the clustered stage
    // below: on an ISOTROPIC corpus any well-spread cell geometry is
    // near-equivalent, so the refit decision at minGain=.15 must come
    // back "don't" (measured gain ≈ +.04 at this operating point).
    driftStage("index drift @2x append", "256c/p12, ", Some(256), orthogonalDriftPair(),
        maxQueries = 32) { r => Seq(
      (r.staleRecall >= 0.2 && r.refitRecall >= 0.3,
        "drift recall collapsed below the (.20 stale / .30 refit) bars"),
      (!r.refitPays(0.15),
        "refitPays(0.15) fired on the isotropic corpus — threshold too twitchy"))
    }
    // The same driftCheck instrument pointed at a corpus where staleness
    // ACTUALLY bites — the validation the isotropic fixture cannot give
    // (its stale ≈ refit is physics, not a weak instrument). Synthetic
    // clustered corpus: 16 tight Gaussian clusters (centers ~ N(0,1)^64,
    // point noise σ=0.6 — wide enough that neighbor ranks are resolvable
    // at the kernel's 3-decimal rounding), and the APPEND draws 16 NEW
    // cluster centers — the corpus distribution moved, which is exactly
    // the production drift story. Stale cells were fit before the new
    // clusters existed, so appended rows carry huge residuals in
    // directions the shared PQ codebook never saw → ADC ranking degrades
    // for queries from the appended slice; a re-fit re-covers them.
    // Deterministic: seeded driver-side synthesis, bit-deterministic
    // fits, hash-ordered driftCheck sample. Measured at this exact
    // configuration: stale .475 vs refit .738 → refitPays(0.15) must
    // fire here, and must NOT fire on the isotropic stage above — the
    // minGain threshold validated against a real gap and a real no-gap.
    driftStage("index drift (clustered)", "64c, ", Some(64), clusteredDriftPair(),
        maxQueries = 16) { r => Seq(
      (r.refitPays(0.15), "refitPays(0.15) did NOT fire on the clustered-drift corpus — " +
        f"the re-fit signal is broken (gain ${r.refitRecall - r.staleRecall}%+.2f)"))
    }
    // FLAT-PQ codebook drift — driftCheckPq validated against the drift
    // shape where codebook staleness ACTUALLY bites, which measurement
    // shows is DIFFERENT from the one that bites IVF geometry. Swept at
    // this corpus (k ∈ {32,64,256}, rerank ∈ {10,32,100}): cluster-MOVE
    // drift (the IVF killer above) never pays a flat-PQ refit — gains
    // -0.17..+0.06 — because ADC is asymmetric (the query is never
    // quantized) and the exact re-rank rescues any shortlist the stale
    // codes still rank loosely; stale codes even dither new clusters
    // across more codewords than a same-k refit concentrates them into.
    // What DOES kill a stale codebook is DYNAMIC-RANGE drift: appends at
    // ~10× the norm scale (a new embedding model / unnormalized feature
    // source) land outside the codewords' span, every subvector maps to
    // the few extreme codewords, ADC code diversity collapses, and true
    // neighbors stop making the shortlist at all — measured stale .000
    // vs refit .500 recall@10 at the shipped fit defaults (refit
    // reallocates codewords to the new range; cosine truth is
    // scale-invariant, so the instrument is clean). refitPays(0.15)
    // must fire here.
    driftStage("pq codebook drift (range)", "", None, {
      val (base, driftedClusters) = clusteredDriftPair()
      // range drift: the appended slice additionally scaled x10
      (base, driftedClusters.select(col("vec_id"), transform(col("embedding"),
        x => (x * 10.0f).cast("float")).as("embedding")))
    }, maxQueries = 16) { r => Seq(
      (r.refitPays(0.15), "refitPays(0.15) did NOT fire on the range-drifted codebook — " +
        f"the PQ re-fit signal is broken (gain ${r.refitRecall - r.staleRecall}%+.2f)"),
      (r.refitRecall >= 0.3, f"refit recall ${r.refitRecall}%.2f collapsed below the .30 bar — " +
        "the refit itself no longer covers the drifted range"))
    }
    // The no-drift control for driftCheckPq, mirroring the isotropic IVF
    // stage above: orthogonal drift (coordinate permutation + sign
    // flips) preserves both the corpus' per-subspace statistics and
    // every pairwise cosine, so the stale codebooks still cover the
    // appended slice and the refit decision at minGain=.15 must come
    // back "don't" (measured stale .57 vs refit .62, gain +.05, at the
    // shipped fit defaults).
    driftStage("pq codebook drift (control)", "", None, orthogonalDriftPair(),
        maxQueries = 16) { r => Seq(
      (!r.refitPays(0.15),
        "refitPays(0.15) fired on the isotropic PQ control — threshold too twitchy"),
      (r.staleRecall >= 0.3 && r.refitRecall >= 0.3, "pq control recall collapsed below the .30 bars"))
    }
    // The maintenance loop a drip-fed index lives by, driven END TO END
    // at the 20× corpus: build the persisted cell-partitioned IVF-PQ
    // index, land several appends (each adds O(touched cells) small
    // files — the measured buildup), fold them back with the lake's own
    // partition-wise compaction, and re-prove the SERVED index: topK
    // bit-identical pre/post compaction, probe's cell filter still
    // file-level partition pruning, file count back at O(cells). This
    // is the daily-cadence composition (append → compact → serve) whose
    // halves were previously only tested apart.
    stage("index append->compact->serve") {
      withLake("graft-smoke-maint", "maint") { lake =>
        val model = IvfPq.fit(embs, cells = 64)
        AnnIndex.writeIvfPq(lake, "maint", "ivfpq", embs.where(col("vec_id") =!= 0), model)
        def codeFiles(): Int =
          lake.listPaths("maint", "ivfpq/codes", maxResults = Int.MaxValue)
            .count(en => !en.isDirectory && en.name.endsWith(".parquet"))
        val built = codeFiles()
        // 4 drip appends (the unreplicated table, fresh ids each time)
        val baseTab = unreplicated()
        val slices = (1 to 4).map(r => baseTab
          .select((col("vec_id") + r * 10000000L).as("vec_id"), col("embedding")))
        slices.foreach(s => AnnIndex.appendIvfPq(lake, "maint", "ivfpq", s))
        val fragmented = codeFiles()
        val q = embs.where(col("vec_id") === 0)
          .select(col("embedding")).head().getSeq[Float](0).toArray
        val corpus = slices.foldLeft(embs.where(col("vec_id") =!= 0))(_ unionByName _)
        def serve(): (Seq[(Long, Double)], String) = {
          val (enc, m) = AnnIndex.readIvfPq(spark, lake, "maint", "ivfpq")
          val top = IvfPq.topK(corpus, enc, m, q,
            nProbe = Similarity.ivfNProbeFor(64), topK = 10, rerank = 100)
          (top.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq,
            top.queryExecution.executedPlan.toString)
        }
        val (before, _) = serve()
        val (nParts, nFiles) = lake.compactPartitionedParquet(spark, "maint", "ivfpq/codes")
        val (after, plan) = serve()
        assert(after == before, "compaction must not change what the served index returns")
        assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
          s"cell partition pruning must survive compaction:\n$plan")
        assert(nFiles < fragmented && codeFiles() == nFiles,
          s"compaction must shrink files: $fragmented -> $nFiles")
        assert(nFiles <= 2 * 64,
          s"compacted file count must be O(cells): $nFiles files for 64 cells")
        s"files $built -> $fragmented -> $nFiles ($nParts cells), topK identical, pruning intact"
      }
    }

    timed("cp3_pack (sharded cumsum)") {
      // replicated corpus: proves the hash-sharded packing window scales
      // by sharding, not by a single global sort
      CorpusPipeline.packSequences(docs).count()
    }
    timed("cp4_epoch_mix (fractional)") {
      CorpusPipeline.epochMix(
        docs.withColumn("source", (col("doc_id") % 20).cast("string")),
        "source", Map("0" -> 2.5, "1" -> 0.25), defaultWeight = 1.0).count()
    }
    timed("dd7_cluster (CC over LSH edges)") {
      // the forced-LSH edge source semanticEdges picks above the exact-
      // scan byte cap — exercised explicitly so the smoke demonstrates
      // the large-corpus dd7 path regardless of in-memory stats
      Dedup.dd6ClusterFrom(
        embs.select(col("vec_id").as("doc_id")),
        Similarity.lshNeardupPairs(embs, 0.45).select(col("vec_a"), col("vec_b"))).count()
    }

    println(s"smoke ${if (run.failed) "FAILED" else "ok"}")
    spark.stop()
    if (run.failed) sys.exit(1)
  }
}
