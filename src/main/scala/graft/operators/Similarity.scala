package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables
import graft.functions.VectorFunctions

/** Similarity search over the `embeddings` table (ArrayType(FloatType),
  * 64-dim): brute-force cosine top-k as the correctness baseline, a
  * random-hyperplane LSH bucketed variant as the scale path, and
  * embedding-cosine near-dup pairs.
  *
  * The cosine kernel is the custom codegen expression
  * [[graft.functions.FloatVectorDot]] (`vec_dot`), with the pure
  * `sql.functions` zip_with+aggregate form kept below as the composable
  * reference — both accumulate in double, left-to-right, so results are
  * bit-identical and reproducible for equal-length inputs, and both yield
  * NULL on a dimension mismatch (VectorExpressionsSpec proves it).
  *
  * Scale design (100 TB): brute force is O(N·Q) dot products — fine for a
  * broadcast query batch against a partitioned corpus (ss1: corpus-side
  * scan is embarrassingly parallel, top-k via TakeOrderedAndProject).
  * All-pairs similarity must NOT cross-join: ss2 buckets by LSH signature
  * so the self-join happens per bucket; multiple hash tables recover
  * recall. The same plan shape holds for IVF (bucket = nearest coarse
  * centroid).
  */
object Similarity {

  /** Broadcast cap for ss5's exploded probe side, in ESTIMATED bytes
    * (optimizer statistics of the base relation x number of LSH tables).
    * 128 MB of parquet-file bytes keeps even a pessimistic 3-4x
    * decompression factor under a ~0.5 GB in-memory broadcast — large
    * corpora take the shuffled bucket join instead. */
  val MaxKnnBroadcastBytes: BigInt = BigInt(128L << 20)

  /** Composable (built-ins-only) dot product — the reference formulation
    * the codegen kernel is verified against, and what the DuckDB oracle
    * mirrors. Production paths use VectorFunctions.vecDot. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity of two float-array columns. try_divide: a
    * zero-norm vector yields NULL (unmatchable), not an ANSI
    * DIVIDE_BY_ZERO task failure. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** ss1_cosine_topk — brute-force top-10 nearest neighbors of vec_id=0 by
    * cosine. The 1-row query side is broadcast; the corpus side never
    * shuffles; top-k is a per-partition heap + driver merge of k. */
  def ss1CosineTopk(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.ensureRegistered(s)
    val e = Tables.embeddings(s, dir)
    val q = e.where(col("vec_id") === 0)
      .select(col("embedding").as("q_emb"))
    e.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        VectorFunctions.round3(VectorFunctions.vecCosine(col("embedding"), col("q_emb"))).as("cos"))
      // degenerate rows (NULL/wrong-dim embedding, zero norm) score NULL
      // and are OUT of the ranking — not rows 11+ that leak in when the
      // valid corpus is smaller than k
      .where(col("cos").isNotNull)
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(10)
  }

  /** ss2_ann_lsh — approximate all-pairs similarity via random-hyperplane
    * LSH; vectors sharing a (table, bucket) become candidates; candidates
    * are verified with exact cosine >= 0.4. Hyperplanes are deterministic
    * (seeded) literal arrays broadcast into the expression — no
    * driver-side model state. Table/bit geometry is TIERED by estimated
    * corpus rows ([[PairLshTiers]]) so per-bucket population — and with
    * it the self-join fan-out — stays bounded as N grows; candidate
    * dedup happens AT the join (first-colliding-table rule), not via a
    * distinct shuffle of the candidate explosion. No oracle (approximate
    * recall): rows-only check. */
  def ss2AnnLsh(s: SparkSession, dir: String): DataFrame =
    lshNeardupPairs(Tables.embeddings(s, dir), 0.4)
      .orderBy(col("vec_a"), col("vec_b"))

  /** Input cap for the exact all-pairs scans (ss3 and dd7's exact edge
    * source): Θ(N²) dot products no matter how well the block-pair shape
    * shards them, so — like its ss6/q13 siblings — the operator
    * fail-fasts above ~32 MB of estimated input (~100k embeddings,
    * ~10¹⁰ dots) instead of silently melting a cluster. Larger corpora
    * take [[lshNeardupPairs]] / [[semanticEdges]]. */
  val MaxExactPairScanBytes: Long = 32L << 20

  /** ss3_embedding_neardup — exact embedding-cosine near-dup pairs
    * (cos >= 0.45) by brute all-pairs — the ground truth ss2
    * approximates. Kept exact here so the DuckDB oracle can mirror it;
    * at 100 TB this query IS ss2 with a higher threshold: above
    * [[MaxExactPairScanBytes]] the guard raises and [[semanticEdges]]
    * is the scale path. */
  def ss3EmbeddingNeardup(s: SparkSession, dir: String): DataFrame = {
    Guards.requireEstimatedBytesAtMost(
      Tables.embeddings(s, dir), MaxExactPairScanBytes,
      "ss3_embedding_neardup (quadratic-work exact pair scan; use " +
        "lshNeardupPairs/semanticEdges)")
    exactNeardupPairs(Tables.embeddings(s, dir), 0.45)
  }

  /** The exact block-pair scan behind ss3, over an arbitrary embedding
    * DataFrame — UNGUARDED (callers size-check; [[semanticEdges]] routes
    * large corpora to LSH instead). */
  private[graft] def exactNeardupPairs(e00: DataFrame, threshold: Double): DataFrame = {
    val s = e00.sparkSession
    VectorFunctions.ensureRegistered(s)
    // Exact all-pairs, but NOT via a nested-loop theta join: vectors get a
    // block id, the tiny (ba <= bb) block-pair table is broadcast, and two
    // hash joins enumerate each unordered pair exactly once — pair
    // generation runs in hash-join batches instead of BNLJ row-at-a-time,
    // and the work is spread across B*(B+1)/2 block-pair units (which is
    // also how you shard an exact pair scan across a cluster).
    // Norms are precomputed so the pair loop does exactly one fused
    // codegen dot product per pair.
    val blocks = 16
    import s.implicits._
    val blockPairs = broadcast(
      (for (ba <- 0 until blocks; bb <- ba until blocks) yield (ba, bb))
        .toDF("ba", "bb"))
    val e = e00.select(col("vec_id"), col("embedding"),
      sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding"))).as("nrm"),
      pmod(col("vec_id"), lit(blocks)).cast("int").as("blk"))
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"), col("blk").as("ba"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"), col("blk").as("bb"))
    // each unordered pair appears exactly once: distinct block pairs take
    // every (a in ba, b in bb) combination; within-block pairs are
    // id-ordered. Output ids normalized to (min, max).
    a.join(blockPairs, "ba").join(b, Seq("bb"))
      .where(col("ba") < col("bb") || col("vec_a") < col("vec_b"))
      .withColumn("cos", VectorFunctions.round3(
        try_divide(VectorFunctions.vecDot(col("emb_a"), col("emb_b")),
          col("nrm_a") * col("nrm_b"))))
      .where(col("cos") >= threshold)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Pair-threshold LSH tier table: (estimated corpus rows → tables ×
    * bits). Unlike kNN ([[KnnLshTiers]]: many SHORT tables, recall for
    * moderate-cosine neighbors), threshold search targets HIGH-cosine
    * pairs, whose per-bit collision probability is large — few LONGER
    * tables suffice (4×8 measured fine at fixture scale; measured fact
    * in NOTES.md: don't unify the two). Bits grow with N so per-bucket
    * population ≈ N/2^bits — and the bucket self-join's fan-out — stays
    * bounded; tables×bits ≤ 64 keeps the signature packable into one
    * long for join-time dedup. */
  val PairLshTiers: Seq[(Long, Int, Int)] = Seq(
    (16000L, 4, 8),     // < 16k rows: 256 buckets/table
    (2000000L, 4, 12),  // < 2M rows: 4k buckets/table
    (Long.MaxValue, 4, 16)) // beyond: 65k buckets/table

  /** Approximate near-dup pairs (exact cosine ≥ threshold over LSH
    * candidates) for an arbitrary embedding DataFrame — the bounded-work
    * face of [[exactNeardupPairs]] and the edge source [[semanticEdges]]
    * uses above the exact-scan cap. Same scale machinery as [[knnJoin]]:
    * tiered geometry from plan-statistics rows (no job at construction),
    * all tables' buckets packed into ONE long signature, candidate pairs
    * deduplicated AT the join by the first-colliding-table rule (integer
    * work on the packed XOR — no distinct shuffle of the candidate
    * explosion), embeddings traveling through the bucket join so only
    * slim (vec_a, vec_b, cos) rows leave it. */
  def lshNeardupPairs(e00: DataFrame, threshold: Double, dim: Int = 64): DataFrame =
    lshNeardupGeom(e00, threshold, dim, None)

  /** [[lshNeardupPairs]] with explicit (tables, bits) — ScaleSmoke
    * forces the top [[PairLshTiers]] geometry on a smaller corpus to
    * measure that tier's recall (full-corpus bucket populations come
    * from the corpus itself; the geometry is what's tier-specific).
    * Measured at the 20× smoke: 4×16 recall .817 @ .45 (4×12: .818) —
    * the extra 4 bits cost nothing on high-cosine near-dup pairs. */
  private[graft] def lshNeardupGeom(e00: DataFrame, threshold: Double,
                                    dim: Int, geom: Option[(Int, Int)]): DataFrame = {
    val (tables, bits) = geom.getOrElse {
      val t = PairLshTiers.find(estRowsOf(e00) < _._1).getOrElse(PairLshTiers.last)
      (t._2, t._3)
    }
    // each table's bucket packs into its own 64/tables-wide LANE; `bits`
    // may be narrower than the lane (the 12-bit tier) — the spare high
    // lane bits stay zero on both sides, which is what keeps the kernel's
    // OR-fold from ever reading a neighboring table's bits: the fold's
    // reach is lane-1, and bits [bits, lane) of each lane XOR to zero.
    lshCollisionPairs(e00, dim, tables, bits, stride = 64 / tables,
        opName = "lshNeardupPairs", unorderedPairs = true)
      .where(col("cos") >= threshold)
      .select(col("vec_id").as("vec_a"), col("nbr_id").as("vec_b"), col("cos"))
  }

  /** THE hyperplane-LSH banding kernel, shared by the pair-threshold
    * route ([[lshNeardupGeom]]) and the kNN route ([[knnJoinGeom]]) —
    * one copy because the ~55 duplicated lines drifted once already
    * (the bits=64 bucketMask guard existed in the kNN copy while the
    * pair copy silently melted to bucket 0; round-15 review). The only
    * structural difference between the routes is the signature LANE
    * WIDTH, so `stride` is the parameter: the kNN route packs
    * tables×bits = 64 exactly (stride = bits), the pair route gives
    * each table a 64/tables lane that `bits` may underfill (stride =
    * 64/tables).
    *
    * Shape (measured rationale in NOTES rounds 1-3): every vector gets
    * `tables` bucket ids of `bits` sign-of-projection bits against
    * seeded Gaussian hyperplanes, ALL packed into ONE long signature;
    * the exploded (table, bucket) self-join yields each candidate pair
    * once per colliding table, and the FIRST-collision rule dedups AT
    * the join with pure integer work on the packed XOR (OR-fold each
    * stride-wide lane down to its low marker bit, then demand every
    * lane below this table is set = every earlier table's buckets
    * DIFFER) — no distinct() shuffle of the candidate explosion.
    * Marker bits only exist at multiples of `stride`, so
    * sign-extension from the arithmetic shifts (≤ stride/2 positions)
    * never reaches one. Embeddings travel THROUGH the bucket join (the
    * exploded table is only N×tables rows), cosine is computed inline,
    * and only slim (vec_id, nbr_id, cos) rows leave. The probe side is
    * broadcast when `tables` × the base relation's optimizer BYTE
    * statistics fit [[MaxKnnBroadcastBytes]] (BigInt — no job at
    * construction, no Long wrap on statless plans); past the cap the
    * shuffled bucket join is the plan and AQE may still convert it.
    *
    * Row contract: NULL embeddings (missing values) drop silently, a
    * NON-null wrong-dim row fail-fasts via assert_true (a dimension
    * bug, not a missing value), and zero-norm rows drop BEFORE
    * bucketing — they project 0 on every hyperplane, so `proj >= 0`
    * parks them ALL in the all-ones bucket of every table, an uncapped
    * N_zero² self-join whose pairs then verify to NULL cosine and
    * vanish (the tier tables bound only EXPECTED bucket sizes of
    * hash-spread vectors).
    *
    * `unorderedPairs = true` keeps each unordered pair once (vec_id <
    * nbr_id — the near-dup pair contract); `false` keeps both
    * directions except self (each vector owns its own neighbor list —
    * the kNN contract). Output: (vec_id, nbr_id, cos), cos already
    * [[graft.functions.FastRound round3]]-rounded; UNSORTED (ordering
    * is a query concern). */
  private def lshCollisionPairs(e00: DataFrame, dim: Int,
      tables: Int, bits: Int, stride: Int, opName: String,
      unorderedPairs: Boolean): DataFrame = {
    VectorFunctions.ensureRegistered(e00.sparkSession)
    require(bits <= stride && tables.toLong * stride <= 64,
      s"$opName: geometry ($tables x $bits, stride $stride) does not pack into 64 bits")
    val e0 = e00.where(col("embedding").isNotNull)
      .where(coalesce(
      assert_true(size(col("embedding")) === dim,
        lit(s"$opName: embedding dimension must be $dim")), lit(true)))
      .where(VectorFunctions.vecDot(col("embedding"), col("embedding")) > 0)
    val rnd = new scala.util.Random(42)
    val planes: Seq[Seq[Seq[Double]]] = Seq.fill(tables, bits, dim)(rnd.nextGaussian())
    // ONE in-row signature expression over the flat plane matrix (round
    // 17, measured — see [[graft.functions.HyperplaneSig]]): the retired
    // form built sig from 64 per-plane vec_dot-vs-literal columns folded
    // through when/add/shift/or — one unsplittable generated method that
    // defeated the JIT (~100 µs/dot, 13-17 s task CPU per 2000-row sig
    // pass at sf0.1, plus 10-16 s of HotSpot recompilation per warm run).
    // Same bits, same buckets, same output (HyperplaneSigSpec pins the
    // parity); the matrix rides as a plan reference object, so the plan
    // also sheds 64 pasted 64-float literals per side.
    val flat = new Array[Float](tables * bits * dim)
    var off = 0
    planes.foreach(_.foreach(_.foreach { x => flat(off) = x.toFloat; off += 1 }))
    val packedSig = org.apache.spark.sql.GraftExpressionBridge.column(
      graft.functions.HyperplaneSig(
        org.apache.spark.sql.GraftExpressionBridge.expression(col("embedding")),
        flat, tables, bits, stride, dim))
    // bits == 64 must map to the full mask explicitly: JVM shift counts
    // are mod 64, so (1L << 64) - 1 is 0 and every vector would land in
    // bucket 0 of a single table — the exact quadratic self-join melt
    // the tier geometry exists to prevent (the drift bug this kernel
    // exists to make unrepeatable).
    val bucketMask = if (bits == 64) -1L else (1L << bits) - 1
    val banded = e0
      .select(col("vec_id"), col("embedding"), packedSig.as("sig"),
        sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding"))).as("nrm"))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("sig"),
        posexplode(array((0 until tables).map(t =>
          shiftright(col("sig"), stride * t).bitwiseAND(lit(bucketMask))): _*))
          .as(Seq("table", "bucket")))
    // one marker bit at the bottom of each stride-wide lane
    val groupBits = lit {
      var m = 0L; var i = 0
      while (i < 64) { m |= 1L << i; i += stride }
      m
    }
    val xorSig = col("a.sig").bitwiseXOR(col("b.sig"))
    // log-shift OR-fold: low bit of each lane = OR of the whole lane
    val collapsed = Iterator.iterate(1)(_ * 2).takeWhile(_ < stride)
      .foldLeft(xorSig)((acc, sh) => acc.bitwiseOR(shiftright(acc, sh)))
      .bitwiseAND(groupBits)
    val earlierMask = groupBits.bitwiseAND(
      expr(s"shiftleft(CAST(1 AS BIGINT), table * $stride)") - 1)
    val explodedBytes =
      e00.queryExecution.optimizedPlan.stats.sizeInBytes * tables
    val probeSide =
      if (explodedBytes <= MaxKnnBroadcastBytes) broadcast(banded.as("b"))
      else banded.as("b")
    val pairRule =
      if (unorderedPairs) col("a.vec_id") < col("b.vec_id")
      else col("a.vec_id") =!= col("b.vec_id")
    banded.as("a").join(probeSide, Seq("table", "bucket"))
      .where(pairRule)
      .where(collapsed.bitwiseAND(earlierMask) === earlierMask)
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("nbr_id"),
        VectorFunctions.round3(try_divide(VectorFunctions.vecDot(col("a.embedding"), col("b.embedding")),
          col("a.nrm") * col("b.nrm"))).as("cos"))
  }

  /** Scale-adaptive semantic near-dup edge set: the EXACT block-pair
    * scan (hash-oracled, ss3) below [[MaxExactPairScanBytes]]; tiered
    * LSH candidates verified by exact cosine ([[lshNeardupPairs]],
    * recall < 1 but bounded work) above it. This is dd7's edge source —
    * the decision is by optimizer byte statistics, so taking it launches
    * no job. */
  def semanticEdges(e: DataFrame, threshold: Double = 0.45): DataFrame = {
    val est = e.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= MaxExactPairScanBytes) exactNeardupPairs(e, threshold)
    else lshNeardupPairs(e, threshold)
  }

  /** IVF coarse-cell count by estimated corpus rows: per-cell population
    * ≈ N/cells is what the within-cell self-join squares, so cells must
    * grow with N (production rule of thumb: cells ≈ √N; recall across
    * cell boundaries comes from [[ivfNProbeFor]]-way multi-probe). Every
    * tier above the small when-chain cap runs assignment in-row through
    * [[graft.functions.TopCells]] (the centroid matrix rides as a plan
    * reference object — no fan-out, no shuffle, no join-back), so
    * neither task-binary size nor shuffle volume grows with the cell
    * count; the tier ladder can keep extending by the same ×4-cells rule
    * as N grows. (The retired broadcast-table form,
    * [[KMeans.assignTopCellsBroadcast]], survives only as a spec-only
    * bit-parity seam.)
    *
    * Boundaries follow the √N rule: each tier's cells ≈ √N across its
    * row range (×16-rows per ×4-cells step), so per-cell population and
    * the probed fraction both fall as the ladder climbs. The original
    * ladder stepped ×64 rows per ×4 cells, which at a tier ceiling left
    * pop ≈ N/cells enormous — measured at the 100× smoke: 200k vectors
    * still routed to 64 cells, so rank-kNN probed 16×3125 ≈ 50k
    * candidates per query (25 % of the corpus, a ~40 min stage at
    * local[32]); the re-tiered 256c/p32 probes 12.5 % with recall
    * measured HIGHER at finer cells on the 20× smoke (64c .843,
    * 256c .891, 1024c .994 fitted). Fixture tiers (≤16k rows → 8 cells)
    * are unchanged — the sf0.01 recall measurements stay valid. */
  val IvfCellTiers: Seq[(Long, Int)] = Seq(
    (16000L, 8), (128000L, 64), (2000000L, 256), (32000000L, 1024),
    (Long.MaxValue, 4096))

  /** Base probe depth (the ≤64-cell tiers of [[ivfNProbeFor]]):
    * single-probe IVF loses every pair straddling a cell boundary —
    * measured recall .317 seeded / .500 fitted at sf0.01. With the
    * ASYMMETRIC join in [[ivfCellPairs]] (index side anchored at its
    * primary cell only) candidate volume is ~nProbe·pop per cell rather
    * than the symmetric join's (nProbe·pop)², so a deeper probe is
    * cheap: measured at the 20× smoke's 64-cell tier, nProbe=6
    * asymmetric is ~9× FASTER than nProbe=3 symmetric (10 s vs 91 s) at
    * HIGHER fitted recall (.843 vs .788). */
  val IvfNProbe = 6

  /** Probe depth tied to the cell tier (FAISS practice: nProbe grows
    * with the cell count — finer cells mean a fixed-radius neighborhood
    * spans more of them, so a constant probe depth would silently shed
    * recall exactly as the tier ladder climbs). Doubling per ×4-cells
    * step keeps the probed FRACTION (nProbe/cells) falling — the scan
    * still shrinks as cells grow — while per-cell populations (N/cells)
    * also fall, so the asymmetric join's ~nProbe·pop per-cell candidate
    * volume drops ~2× per tier. Measured at the 20× smoke (fitted,
    * bar .75): 64c/p6 .843, 256c/p12 .891, 1024c/p24 .994, 4096c/p48
    * measured in the smoke — the deeper probe more than pays for the
    * finer cells, and the probed fraction keeps falling (48/4096 ≈
    * 1.2%). */
  def ivfNProbeFor(cells: Int): Int =
    if (cells <= 64) IvfNProbe
    else if (cells <= 256) 12
    else if (cells <= 1024) 24
    else 48

  /** Probe depth for RANK-k search ([[knnJoinIvf]]) — deeper than the
    * pair rule above, because a rank neighbor has no threshold to lean
    * on: recall comes only from probe mass. Fixture sweep (seeded
    * 64-cell, recall@5 vs exact): p6 .277, p12 .442, p16 .530, p24
    * .674 (fitted: p6 .545, p12 .711, p16 .786) — and those are
    * PESSIMISTIC proxies: a corpus dense enough to engage the tier has
    * far closer rank-k neighbors than the 2k-row fixture. The probed
    * FRACTION still falls as the ladder climbs (16/64 = 25%, 32/256 =
    * 12.5%, 48/1024 ≈ 4.7%, 96/4096 ≈ 2.3%), so the scan share shrinks
    * with N. */
  def knnNProbeFor(cells: Int): Int =
    if (cells <= 8) IvfNProbe
    else if (cells <= 64) 16
    else if (cells <= 256) 32
    else if (cells <= 1024) 48
    else 96

  private def ivfCellsFor(e: DataFrame): Int =
    IvfCellTiers.find(estRowsOf(e) < _._1).getOrElse(IvfCellTiers.last)._2

  /** Floor for the IVF cell-population cap: caps below this never
    * engage (fixture scales must stay cap-free so the sf0.01 recall
    * measurements and subset proofs see the pure algorithm). */
  val MinIvfCellCap = 200

  /** Population cap for one IVF cell: 4× the fair share
    * `nProbe·N/cells`. A cell catching far more than its share marks
    * degenerate geometry (random centroids on clustered data, or a
    * near-duplicate flood all assigning to one cell) whose within-cell
    * self-join goes quadratic; like the dd3/dd5/ss2 bucket caps the
    * guard trades those cells' pairs away to bound the join — the
    * verified-subset contract is unaffected. (dd3/dd5 cap buckets the
    * same way; ss2/ss5 instead bound expected bucket size via tiered
    * bits + a zero-norm pre-filter.) DORMANT at the measured
    * fixture/smoke scales (20× smoke: zero pairs lost); it exists for
    * the adversarial tail, exactly like its siblings. */
  private def ivfMaxCellPop(e: DataFrame, cells: Int, nProbe: Int): Long =
    math.max(MinIvfCellCap.toLong, 4L * nProbe * (estRowsOf(e) / cells))

  /** Multi-probe within-cell verified pair join shared by the seeded
    * and fitted IVF variants — ASYMMETRIC, FAISS-style (adopted round 5
    * after a measured head-to-head; see [[IvfNProbe]]): the INDEX side
    * holds each vector in its primary (nearest surviving) cell only;
    * the PROBE side explodes all [[IvfNProbe]] cells. A pair is a
    * candidate iff either vector's probe set contains the other's
    * primary, so per direction at most ONE joined row exists (the
    * primary match) and the dedup rule is a single reverse-existence
    * array check — no distinct shuffle, candidate volume ~nProbe·pop
    * per cell instead of the symmetric self-join's (nProbe·pop)².
    * Pairs verify with exact cosine ≥ threshold, so the output is
    * always a subset of the exact pair set; the asymmetry only loses
    * pairs whose probe sets overlap at non-primary cells of BOTH —
    * bought back (and more) by the deeper probe it affords.
    * `assigned` = (vec_id, embedding, nrm, cells) with `cells` sorted
    * nearest-first ([[KMeans.assignTopCells]]). */
  /** Probe sets after the cell-population cap, WITHOUT wide shuffles:
    * per-cell counts are a tiny map-side-combined aggregate (≤
    * IvfCellTiers.last cells), the over-cap cells collapse to ONE
    * broadcast row whose array every vector consults per-row
    * (array_except — which preserves element order, so `cells` stays
    * nearest-first and element_at(cells, 1) is the nearest SURVIVING
    * cell: capped cells' members re-anchor consistently on every
    * consumer). The 1-row cross join is the documented q16/ss1
    * broadcast pattern (PlanAudit whitelists it). Shared by
    * [[ivfCellPairs]] and [[knnJoinIvfKernel]]. */
  private[operators] def capCells(assigned: DataFrame, maxPop: Long): DataFrame = {
    val over = assigned.select(explode(col("cells")).as("cell"))
      .groupBy(col("cell")).agg(count(lit(1)).as("pop"))
      .where(col("pop") > maxPop)
      .agg(collect_list(col("cell")).as("overcap")) // global agg: exactly one row
    assigned.crossJoin(broadcast(over))
      .withColumn("cells", array_except(col("cells"), col("overcap")))
      .where(size(col("cells")) > 0)
  }

  /** Whether an IVF join's INDEX side (one slim row per corpus vector,
    * anchored at its primary cell) should be explicitly broadcast, by
    * the house byte estimate (~300 parquet bytes × [[estRowsOf]] rows —
    * the same [[MaxKnnBroadcastBytes]] gate as the LSH probe side).
    * Callers compute this from the BASE corpus frame, whose
    * plan-statistics bytes are scan-derived and trustworthy — the
    * assigned frame's estimate passes through the assignment join /
    * 1-row cross join, where size propagation is garbage.
    *
    * Why it matters — measured at 100× (NOTES.md "Round-13 measurement
    * records"): a 200k-vector index side (~58 MB) is over the 10 MB
    * auto-broadcast threshold, so the cell join planned as a sort-merge
    * join and every one of the ~5G candidate rows paid the SMJ's
    * UnsafeRow output copy of BOTH 256-byte embeddings before the dot
    * product ever ran — the scoring pass alone was 492.7 s of ss5's
    * 619.8 s quiet-box wall, against 22.6 s for the identical join with
    * the embeddings pruned. An explicit broadcast keeps the whole
    * candidate pipeline (probe explode → hash join → dot → slim
    * project) in one whole-stage-codegen pass with no per-candidate row
    * copy. Past the gate the shuffled join IS the scalable plan (the
    * index side is the full corpus and can never broadcast at 100 TB);
    * AQE may still convert back to broadcast from runtime sizes.
    *
    * `extraBytesPerRow` widens the estimate for index shapes carrying
    * more than the slim (id, embedding, nrm, cell) row: the PAIR path's
    * index keeps the full `cells_b` probe array (up to nProbe ints) for
    * its reverse-existence dedup check, so near the 128 MB gate the
    * real broadcast relation would be a small multiple of the slim
    * estimate — callers pass ~4·nProbe for it (round-14 ADVICE). */
  private[graft] def ivfIndexBroadcastable(base: DataFrame,
                                           extraBytesPerRow: Long = 0L): Boolean =
    // BigInt BEFORE the multiply: a statless plan (defaultSizeInBytes =
    // Long.MaxValue) makes estRowsOf huge and the Long product wraps
    // NEGATIVE — passing the <= gate and broadcasting the full corpus
    // at exactly the scale the gate exists to refuse. The sibling LSH
    // gates already do this arithmetic in BigInt.
    BigInt(estRowsOf(base)) * (300L + extraBytesPerRow) <= MaxKnnBroadcastBytes

  private[graft] def ivfCellPairs(assigned: DataFrame, threshold: Double,
                                  maxPop: Long = Long.MaxValue,
                                  indexBcast: Boolean = false): DataFrame = {
    val surv = capCells(assigned, maxPop)
    val probe = surv.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"), col("cells").as("cells_a"),
      explode(col("cells")).as("cell"))
    // try_element_at, NOT element_at: `cell` is the downstream equi-join
    // key, so InferFiltersFromConstraints derives isnotnull(cell) and
    // pushes it into the capCells cross join's condition AHEAD of the
    // size(cells) > 0 guard — with a cap-emptied probe set, plain
    // element_at then throws INVALID_ARRAY_INDEX under ANSI before the
    // guard can drop the row (latent until round 14's CellTopKSpec
    // engaged the cap; the kernels never hit it because the cap is
    // dormant at every measured scale). try_element_at returns NULL on
    // the empty array — identical on every surviving row — and the
    // inferred isnotnull then drops exactly the rows the size guard does.
    val index0 = surv.select(
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"), col("cells").as("cells_b"),
      try_element_at(col("cells"), lit(1)).as("cell"))
    val index = if (indexBcast) broadcast(index0) else index0
    probe.join(index, Seq("cell"))
      .where(col("vec_a") =!= col("vec_b"))
      // both directions can exist (each at its own primary); keep the
      // a<b one when the reverse row also exists, else keep regardless
      .where(col("vec_a") < col("vec_b") ||
        !array_contains(col("cells_b"), element_at(col("cells_a"), 1)))
      .withColumn("cos", VectorFunctions.round3(
        try_divide(VectorFunctions.vecDot(col("emb_a"), col("emb_b")),
          col("nrm_a") * col("nrm_b"))))
      .where(col("cos") >= threshold)
      .select(least(col("vec_a"), col("vec_b")).as("vec_a"),
        greatest(col("vec_a"), col("vec_b")).as("vec_b"), col("cos"))
    // UNSORTED by design: the deterministic-output orderBy is a QUERY
    // convention, applied at the ss4 entries — an internal caller
    // (ScaleSmoke recall runs, a pipeline stage feeding dd7-style
    // clustering) must not pay a global sort it doesn't need
  }

  /** ss4_ann_ivf — approximate all-pairs similarity, IVF-style: assign
    * each vector to its [[IvfNProbe]] nearest coarse centroids
    * (deterministic seeded centroids here for oracle-free
    * reproducibility — [[ss4AnnIvfFitted]] is the learned-centroid
    * variant), then search only within shared cells. Same bucket-join
    * shape as ss2 with a learned-partition flavor; multi-probe recovers
    * the pairs that straddle a cell boundary. Cell count is TIERED by
    * estimated corpus rows ([[IvfCellTiers]]) so per-cell population —
    * and the within-cell self-join — stays bounded as N grows. No
    * oracle (approximate): rows-only check. */
  def ss4AnnIvf(s: SparkSession, dir: String): DataFrame = {
    // the probed dim is constant per (session, dir) — memoize it so
    // repeated construction (four bench passes, pipeline re-entry) pays
    // the one-aggregate probe once per JVM, not once per call
    val e = Tables.embeddings(s, dir)
    val cells = ivfCellsFor(e)
    val dim = probedDims.getOrBuild(s, dir)(probeDim(e))
    ss4Seeded(e, cells, ivfNProbeFor(cells), dim)
  }

  private val probedDims = new SessionDirMemo[Int]

  /** Deterministic corpus dimension probe: the dimension of the
    * minimum-vec_id row with a non-null non-empty embedding (min_by),
    * NOT whichever row head(1) surfaces first — so on a mixed-dim
    * corpus the chosen dim (and therefore which rows are excluded
    * under the per-row contract) cannot change with partition layout
    * or row order between runs (round-16, r15 ADVICE). One aggregate
    * scan of (vec_id, size(embedding)); the (s, dir) entries memoize
    * it ([[probedDims]]), arbitrary-frame callers pay it per call. */
  private def probeDim(e: DataFrame): Int =
    e.where(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(min_by(size(col("embedding")), col("vec_id")).as("d"))
      .head(1).headOption.filterNot(_.isNullAt(0)).map(_.getInt(0))
      .getOrElse(64)

  /** Seeded-centroid IVF over an arbitrary embedding DataFrame. The
    * seeded-centroid dimensionality is probed from the corpus
    * ([[probeDim]] — one aggregate job at construction; the fitted
    * variant already runs fit jobs by documented exception):
    * hardcoding the house 64 made every non-64-dim corpus SILENTLY
    * EMPTY, because per-row dim-mismatch is the documented
    * "unassignable row" tolerance and a whole-corpus mismatch dropped
    * every row without an error. The (session, dir) entry
    * [[ss4AnnIvf]] memoizes the probe; this arbitrary-frame face pays
    * it per call. */
  def ss4From(e: DataFrame): DataFrame = {
    val cells = ivfCellsFor(e)
    ss4Seeded(e, cells, ivfNProbeFor(cells), probeDim(e))
  }

  /** Deterministic seeded coarse centroids (the oracle-free stand-in
    * for a [[KMeans.fit]] — ss4's original convention, shared by the
    * IVF-routed kNN path): Random(7) Gaussians, scored by raw dot/|e|
    * (norms forced to 1.0 — x*1.0 exact). */
  private def seededCentroids(cells: Int, dim: Int): Seq[Array[Float]] = {
    val rnd = new scala.util.Random(7)
    Seq.fill(cells, dim)(rnd.nextGaussian()).map(_.map(_.toFloat).toArray)
  }

  private[graft] def seededCentroidsForTest(cells: Int, dim: Int): Seq[Array[Float]] =
    seededCentroids(cells, dim)

  /** Seeded IVF with explicit geometry (the public entry binds the tier
    * table + [[IvfNProbe]]). */
  private def ss4Seeded(e: DataFrame, cells: Int, nProbe: Int,
                        dim: Int): DataFrame = {
    VectorFunctions.ensureRegistered(e.sparkSession)
    // Probe-set assignment keeps the argmax plan split: per-row sorted
    // literal array under the when-chain cap, slim exploded top-n +
    // embedding re-join past it, broadcast in-row past 256
    // (KMeans.assignTopCells).
    val assigned = KMeans.assignTopCellsWith(e,
      seededCentroids(cells, dim), nProbe, Seq.fill(cells)(1.0))
    ivfCellPairs(assigned, 0.4, ivfMaxCellPop(e, cells, nProbe),
      indexBcast = ivfIndexBroadcastable(e, 4L * nProbe))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** ss4_ann_ivf_fitted — the production IVF path end-to-end:
    * [[KMeans.fit]] learns the coarse centroids (data-dependent cells
    * beat random hyperplane-ish seeds on recall),
    * [[KMeans.assignTopCells]] assigns each vector its [[IvfNProbe]]
    * nearest cells (the same broadcast-literal scoring plan), and the
    * multi-probe within-cell verified join is shared with the seeded
    * variant. Unlike every other query constructor, building this one
    * RUNS the fit's Spark jobs (a few assignment+mean passes) —
    * inherent to iterative ML, and the k×dim centroid collect is model
    * state, not data. Unassignable rows (zero-norm or wrong-dim: empty
    * probe set) are excluded from pairing. No oracle (approximate +
    * iterative fit): rows-only check; SimilaritySpec measures recall vs
    * the exact ss3 pairs. */
  def ss4AnnIvfFitted(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.ensureRegistered(s)
    val e = Tables.embeddings(s, dir)
    val model = cachedModel(s, dir, e)
    val nProbe = ivfNProbeFor(model.centroids.size)
    ivfCellPairs(KMeans.assignTopCells(e, model.centroids, nProbe), 0.4,
      ivfMaxCellPop(e, model.centroids.size, nProbe),
      indexBcast = ivfIndexBroadcastable(e, 4L * nProbe))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  // The (session, dir) memo discipline lives in [[SessionDirMemo]]
  // (shared with Dedup's pair-graph/shingle caches since round 16).

  private val fittedModels = new SessionDirMemo[KMeans.Model]

  /** Fitted IVF model memo, one per (session, scale dir) — exactly the
    * production pattern (a coarse quantizer is fit once and reused by
    * every query); the model is k×dim floats of plain driver state
    * (nothing persisted on executors, so no listener lifecycle needed).
    * Caching contract: [[SessionDirMemo]]. */
  private def cachedModel(s: SparkSession, dir: String, e: DataFrame): KMeans.Model =
    fittedModels.getOrBuild(s, dir) {
      KMeans.fit(e.select(col("vec_id"), col("embedding")),
        k = ivfCellsFor(e), maxIters = 5)
    }

  /** Drop all memoized IVF models and persisted-index handles (tests /
    * after rewriting a dir). */
  def clearModelCache(): Unit = {
    fittedModels.clear(); pqModels.clear(); ivfPqModels.clear()
    pqIndexes.clear(); ivfPqIndexes.clear(); indexBuildLocks.clear()
    probedDims.clear()
  }

  private val pqModels = new SessionDirMemo[ProductQuantizer.Model]

  /** PQ model memo — [[SessionDirMemo]] contract (deterministic fit,
    * k·dim driver floats). */
  private def cachedPqModel(s: SparkSession, dir: String,
                            e: DataFrame): ProductQuantizer.Model =
    pqModels.getOrBuild(s, dir) {
      ProductQuantizer.fit(e.select(col("vec_id"), col("embedding")))
    }

  private val ivfPqModels = new SessionDirMemo[IvfPq.Model]

  /** IVF-PQ model memo — [[SessionDirMemo]] contract. Coarse cell count
    * comes from the same [[IvfCellTiers]] geometry as ss4. */
  private def cachedIvfPqModel(s: SparkSession, dir: String,
                               e: DataFrame): IvfPq.Model =
    ivfPqModels.getOrBuild(s, dir) {
      IvfPq.fit(e.select(col("vec_id"), col("embedding")),
        cells = ivfCellsFor(e))
    }

  // -- persisted ANN indexes (ss8/ss9 serving path) -----------------------

  /** Root directory for the persisted ANN indexes the ss8/ss9 entries
    * serve from: `spark.graft.index.root` if set (the production knob —
    * point it at a lake path), else a per-JVM temp directory removed at
    * exit. Unique per JVM so concurrent driver processes (a test run
    * beside a bench run) can never interleave writes into one table. */
  private lazy val defaultIndexRoot: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-ann-index")
    sys.addShutdownHook {
      try org.apache.commons.io.FileUtils.deleteDirectory(d.toFile)
      catch { case _: java.io.IOException => () } // best-effort temp sweep
    }
    d.toString
  }

  /** getOption, not get-with-default: the default argument would be
    * evaluated STRICTLY, materializing the per-JVM temp directory (and
    * its shutdown hook) even when a production root is configured. */
  private def indexRoot(s: SparkSession): String =
    s.conf.getOption("spark.graft.index.root").getOrElse(defaultIndexRoot)

  private val IndexFs = "ann"

  /** Index directory for a corpus dir: sanitized name for readability
    * PLUS a short md5 of the RAW dir — sanitization alone can alias
    * distinct dirs (`/a/b` and `/a_b` both sanitize to `a_b`), and two
    * aliased dirs sharing one persisted index would silently serve each
    * other's corpus across JVM restarts under a shared index root. */
  private[operators] def indexPath(dir: String, kind: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString.take(8)
    dir.replaceAll("[^A-Za-z0-9._-]", "_").stripPrefix("_") +
      s"-$digest/$kind"
  }

  /** A complete persisted index at `path`: the coded table's commit
    * marker exists (model sidecars are written BEFORE codes, so a
    * visible `codes/_SUCCESS` implies a complete model too — the
    * [[AnnIndex]] write ordering). An incomplete/torn index rebuilds. */
  private def indexComplete(lake: graft.lake.LakeClient, path: String): Boolean =
    lake.pathStatus(IndexFs, s"$path/codes/_SUCCESS").isDefined

  private val pqIndexes = new SessionDirMemo[(DataFrame, ProductQuantizer.Model)]
  private val ivfPqIndexes = new SessionDirMemo[(DataFrame, IvfPq.Model)]

  /** Per-PHYSICAL-TARGET build locks for the index memos, keyed by
    * (resolved root, index path) — NOT by session: two sessions in one
    * JVM sharing an index root resolve the same dir to the same files,
    * and session-keyed locks would let their builds overwrite/tear one
    * directory. The MODEL memos tolerate a concurrent duplicate fit
    * (pure driver state, deterministic — last write wins harmlessly),
    * but an index build WRITES files, so builds into one directory
    * serialize; unrelated roots/dirs never wait on each other. Key
    * count is bounded by distinct (root, dir, kind) triples ever served
    * in the JVM — small strings, cleared with [[clearModelCache]]. */
  private val indexBuildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def indexBuildLock(root: String, path: String): Object =
    indexBuildLocks.computeIfAbsent(s"$root\u0000$path", _ => new Object)

  /** The ss8/ss9 corpus convention: everything but the ss1 query
    * vector. */
  private def indexCorpus(e: DataFrame): DataFrame =
    e.where(col("vec_id") =!= 0)

  /** Persisted flat-PQ index memo — the production serving shape: the
    * first invocation per (session, dir) fits (via [[cachedPqModel]]),
    * encodes, WRITES the coded table through the lake client, and hands
    * back a DataFrame that SCANS the persisted files; every later query
    * pays only that scan + re-rank (an ADC-scan profile), not the
    * fan-out encode job ss8 used to re-run per invocation. The heavy
    * build runs outside the CHM bin lock (the [[cachedModel]]
    * discipline) but under a per-key [[indexBuildLock]]: unlike a
    * duplicate FIT, a duplicate index WRITE into the same directory
    * could tear the commit. Same staleness contract as every (session,
    * dir) memo: `dir` is immutable for the session's life.
    *
    * Reuse-if-complete: when a COMPLETE index already exists at the
    * keyed path ([[indexComplete]]), it is served as-is — no re-fit, no
    * overwrite. This is both the cross-restart warm start a production
    * root exists for AND the in-JVM safety fix: a second session's
    * overwrite would delete the part-files a first session's memoized
    * DataFrame is still scanning. Safe because the path is keyed by a
    * hash of the raw dir ([[indexPath]]) and the fits are
    * bit-deterministic — same dir ⇒ same bits. Rebuild = delete the
    * index directory first. */
  private def cachedPqIndex(s: SparkSession, dir: String,
                            e: DataFrame): (DataFrame, ProductQuantizer.Model) =
    pqIndexes.getOrBuild(s, dir) {
      val root = indexRoot(s)
      val path = indexPath(dir, "pq")
      indexBuildLock(root, path).synchronized {
        pqIndexes.cached(s, dir).getOrElse {
          val lake = graft.lake.LakeClient.local(root)
          if (!indexComplete(lake, path))
            AnnIndex.writePq(lake, IndexFs, path, indexCorpus(e), cachedPqModel(s, dir, e))
          AnnIndex.readPq(s, lake, IndexFs, path)
        }
      }
    }

  /** Persisted IVF-PQ index memo — [[cachedPqIndex]]'s contract, plus
    * the cell layout: the coded table is written PARTITIONED BY CELL,
    * so the probe's cell filter prunes to (nProbe/cells) of the FILES
    * (AnnIndexSpec asserts the PartitionFilters on this exact serving
    * path). */
  private def cachedIvfPqIndex(s: SparkSession, dir: String,
                               e: DataFrame): (DataFrame, IvfPq.Model) =
    ivfPqIndexes.getOrBuild(s, dir) {
      val root = indexRoot(s)
      val path = indexPath(dir, "ivfpq")
      indexBuildLock(root, path).synchronized {
        ivfPqIndexes.cached(s, dir).getOrElse {
          val lake = graft.lake.LakeClient.local(root)
          if (!indexComplete(lake, path))
            AnnIndex.writeIvfPq(lake, IndexFs, path, indexCorpus(e),
              cachedIvfPqModel(s, dir, e))
          AnnIndex.readIvfPq(s, lake, IndexFs, path)
        }
      }
    }

  /** ss9_ivfpq_topk — the full production ANN composition ([[IvfPq]],
    * FAISS's IVFADC): coarse cells route the query to [[IvfNProbe]]
    * probed cells, a shared residual product quantizer gives the
    * ~20-30× compressed coded table the probe actually scans, ADC
    * scores the probed cells' codes, and the 100-candidate shortlist
    * re-ranks exactly — ss1's schema, at a 100 TB-shaped cost:
    * (nProbe/cells) of a PQ-compressed scan instead of N full vectors.
    * Serves from the PERSISTED index ([[cachedIvfPqIndex]]): the first
    * invocation per (session, dir) fits + encodes + writes the
    * cell-partitioned coded table, every later one scans it — the
    * production cost profile (warm = probed-partition ADC scan + exact
    * re-rank, no re-encode). Construction still runs one 1-row query
    * lookup (the documented exception). Approximate → rows-only check;
    * SimilaritySpec measures recall@10 vs exact ss1. */
  def ss9IvfPqTopk(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.ensureRegistered(s)
    val e = Tables.embeddings(s, dir)
    val (encoded, model) = cachedIvfPqIndex(s, dir, e)
    val query: Array[Float] = e.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    IvfPq.topK(indexCorpus(e), encoded, model, query,
      nProbe = ivfNProbeFor(model.centroids.size), topK = 10, rerank = 100)
  }

  /** ss8_pq_topk — product-quantized top-k: ADC candidate generation
    * over the ~20-30× smaller coded table for the ss1 query vector,
    * exact re-rank of the 100-candidate shortlist, top-10 in ss1's
    * schema. Serves from the PERSISTED index ([[cachedPqIndex]]): fit +
    * encode + write happen once per (session, dir); every later
    * invocation scans the persisted coded table — warm cost is the ADC
    * scan + re-rank a production deployment pays, not the fan-out
    * encode job this entry used to re-run per call. Construction still
    * runs one 1-row lookup for the query vector (the documented
    * exception). Approximate → rows-only check; SimilaritySpec measures
    * recall vs exact ss1. */
  def ss8PqTopk(s: SparkSession, dir: String): DataFrame = {
    VectorFunctions.ensureRegistered(s)
    val e = Tables.embeddings(s, dir)
    val (encoded, model) = cachedPqIndex(s, dir, e)
    val query: Array[Float] = e.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).toArray
    ProductQuantizer.pqTopK(indexCorpus(e), encoded, model, query,
      topK = 10, rerank = 100)
  }

  /** ss5_knn_join — batch kNN join: EVERY vector gets its top-k
    * approximate neighbors (the all-queries form of similarity search a
    * training pipeline runs, e.g. for semantic dedup or hard-negative
    * mining). Routes like [[knnJoin]] — home tier: 16 random-hyperplane
    * LSH tables with join-time first-colliding-table dedup; larger
    * corpora: [[knnJoinIvf]] — but the scaled route runs with FITTED
    * coarse centroids from the (session, dir) [[cachedModel]] memo (the
    * ss4_fitted discipline; recall .786 vs the seeded default's .530 at
    * 64c/p16), which makes a fit-running construction possible here
    * where the DataFrame-only [[knnJoin]] must stay job-free. The
    * deterministic output orderBy is applied HERE (the query-entry
    * convention — kernels stay unsorted). Approximate recall →
    * rows-only check; SimilaritySpec measures recall against brute
    * force. */
  def ss5KnnJoin(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    VectorFunctions.ensureRegistered(s)
    val e = Tables.embeddings(s, dir)
    val routed =
      if (estRowsOf(e) < KnnLshTiers.head._1) knnJoinGeom(e, k, 64, None)
      else knnJoinIvf(e, k, 64, Some(cachedModel(s, dir, e).centroids))
    routed.orderBy(col("vec_id"), col("rk"))
  }

  /** LSH tier table for [[knnJoin]]'s hyperplane route: (estimated
    * corpus rows → tables × bits), keeping tables*bits = 64 so the
    * signature packs into one long. Only the HOME tier routes here now:
    * 16×4 measures recall@5 .896 on the fixture, but the upper
    * geometries that would bound buckets at corpus scale collapse on
    * rank-k recall — 8×8 measures .138, 4×16 .001 (SimilaritySpec tier
    * sweep; p_match = 1-(1-p_bit^bits)^tables dies in `bits` for the
    * moderate-cosine neighbors rank search must find, and the 64-bit
    * pack caps `tables`). Corpora past the home tier take
    * [[knnJoinIvf]] instead; the upper rows remain for the explicit
    * [[knnJoinGeom]] seam and as the measured record of WHY the route
    * changed. The estimate comes from plan-statistics bytes at ~300
    * parquet bytes per 64-float row — tier boundaries are coarse on
    * purpose. */
  val KnnLshTiers: Seq[(Long, Int, Int)] = Seq(
    (16000L, 16, 4),    // < 16k rows: buckets ≥ ~1k-way split, recall-first
    (2000000L, 8, 8),   // measured recall@5 .138 — kept for the geom seam only
    (Long.MaxValue, 4, 16)) // measured recall@5 .001 — kept for the geom seam only

  /** Estimated embedding-corpus rows from optimizer byte statistics at
    * ~300 parquet bytes per 64-float row — the ONE row estimator behind
    * every tier table (KnnLshTiers, PairLshTiers, IvfCellTiers), so a
    * recalibration can never desynchronize them. Coarse on purpose;
    * launches no job. */
  private def estRowsOf(df: DataFrame): Long =
    (df.queryExecution.optimizedPlan.stats.sizeInBytes / 300)
      .min(BigInt(Long.MaxValue)).toLong.max(1L)

  /** Batch kNN join over an arbitrary embedding DataFrame (`vec_id`,
    * `embedding`, whose arrays must all be `dim`-long — enforced with a
    * per-row assert_true so a mismatched corpus fails loudly instead of
    * collapsing every vector into bucket 0); [[ss5KnnJoin]] binds it to
    * the fixture table. Routes by estimated rows: the home tier takes
    * the 16×4 hyperplane-LSH join (recall@5 .896 measured), anything
    * larger takes [[knnJoinIvf]] — the upper LSH geometries collapse on
    * rank-k recall (see [[KnnLshTiers]]).
    *
    * RECALL CLIFF past the home tier: because query construction must
    * stay job-free, the routed IVF path defaults to SEEDED random
    * centroids, whose measured recall@5 is .530 at 64c/p16 vs .786 with
    * fitted ones — a corpus that can afford the [[KMeans.fit]] jobs
    * should call [[knnJoinFitted]] (or pass fitted centroids to
    * [[knnJoinIvf]]) to run at the fitted operating point, as
    * [[ss5KnnJoin]] does via its model memo. Output is UNSORTED by
    * design (kernels end at the top-k posexplode); callers needing
    * presentation order sort at the query entry. */
  def knnJoin(e00: DataFrame, k: Int = 5, dim: Int = 64): DataFrame =
    if (estRowsOf(e00) < KnnLshTiers.head._1) knnJoinGeom(e00, k, dim, None)
    else knnJoinIvf(e00, k, dim)

  /** [[knnJoin]] at the fitted operating point: same routing, but past
    * the home tier the IVF cells come from a [[KMeans.fit]] on the
    * corpus — construction RUNS the fit's jobs (the documented
    * iterative-ML exception), buying +.15-.25 recall over the seeded
    * default at every probed fraction. The production choice whenever
    * the corpus is queried more than once; pair it with an external
    * model memo (the [[ss5KnnJoin]] discipline) to amortize the fit. */
  def knnJoinFitted(e00: DataFrame, k: Int = 5, dim: Int = 64): DataFrame =
    if (estRowsOf(e00) < KnnLshTiers.head._1) knnJoinGeom(e00, k, dim, None)
    else {
      val m = KMeans.fit(e00.select(col("vec_id"), col("embedding")),
        k = ivfCellsFor(e00), maxIters = 5)
      knnJoinIvf(e00, k, dim, Some(m.centroids))
    }

  /** IVF-backed batch kNN — the route [[knnJoin]] takes past the home
    * LSH tier. Rank-recall is the measured reason (SimilaritySpec tier
    * sweep): random-hyperplane kNN needs many SHORT tables (16×4:
    * recall@5 .896 on the fixture), but the upper [[KnnLshTiers]]
    * geometries that keep buckets bounded at corpus scale collapse on
    * moderate-cosine rank-k neighbors — 8×8 measures .138 and 4×16
    * .001, because p_match = 1-(1-p_bit^bits)^tables dies in `bits`
    * and the 64-bit signature pack caps `tables`. The IVF cell
    * machinery has no such exponent: a neighbor is found iff its
    * primary cell is among the query's nProbe nearest, measured .72-.99
    * on the pair ops — so the scale tier reuses it. Seeded centroids
    * (no construction job — the ss4 convention); cells/nProbe from the
    * IVF tier tables, candidates per query ≈ nProbe·N/cells, the same
    * asymmetric one-row-per-(query, neighbor) join as [[ivfCellPairs]]
    * with a per-query top-k window instead of a threshold. */
  def knnJoinIvf(e00: DataFrame, k: Int = 5, dim: Int = 64,
                 centroids: Option[Seq[Array[Float]]] = None): DataFrame = {
    VectorFunctions.ensureRegistered(e00.sparkSession)
    // NULL embedding dropped before the dim assert (the lshNeardupPairs
    // missing-value contract); non-null wrong-dim stays fail-fast
    val e0 = e00.where(col("embedding").isNotNull)
      .where(coalesce(
      assert_true(size(col("embedding")) === dim,
        lit(s"knnJoinIvf: embedding dimension must be $dim")), lit(true)))
      .where(VectorFunctions.vecDot(col("embedding"), col("embedding")) > 0)
    // default: seeded centroids, raw-dot scoring (norms 1.0) — no
    // construction job. A production corpus should pass KMeans.fit
    // centroids instead: fitted cells measure +.15-.25 recall over
    // seeded at every probed fraction (knnNProbeFor sweep).
    val cs = centroids.getOrElse(seededCentroids(ivfCellsFor(e00), dim))
    val cn = centroids match {
      case None => Seq.fill(cs.size)(1.0)
      case Some(_) => cs.map(c => math.sqrt(c.map(x => x.toDouble * x).sum))
    }
    val nProbe = knnNProbeFor(cs.size)
    knnJoinIvfKernel(e0, k, cs, cn, nProbe, ivfMaxCellPop(e00, cs.size, nProbe))
  }

  /** Member-array chunk size for [[knnJoinIvfKernel]]'s per-cell index:
    * cells group into hash-partitioned chunks of ~this many members, so
    * one joined row's member array is bounded at ~chunk·272 B ≈ 1.1 MB
    * no matter how flooded a cell is ([[ivfMaxCellPop]] permits up to
    * 4·nProbe·N/cells members — N/2 at the 256c/p32 tier, which grouped
    * UNchunked would be a row that scales with the corpus). 4096 keeps
    * per-row work heavy enough (~chunk·dim FMAs) to amortize the
    * expression dispatch while staying far under any sane row/buffer
    * limit. Chunk assignment is `xxhash64(nbr_id) mod ceil(pop/chunk)` —
    * deterministic, and balanced whp by the usual balls-in-bins bound. */
  private[operators] val IvfChunkRows = 4096

  /** The IVF kNN join proper, shared by the seeded route and the
    * fitted-centroid variant the spec measures: each query explodes its
    * nProbe probe cells; the index side anchors every vector at its
    * primary cell, so a (query, neighbor) candidate exists at most ONCE
    * (the neighbor has one primary — no dedup at all, simpler than the
    * pair case).
    *
    * Round 14 (VERDICT r13 #1): the index side now groups into per-
    * (cell, chunk) member ARRAYS and the scoring happens INSIDE the
    * joined row via [[graft.functions.CellTopK]] — one fused
    * dot+round+insert loop per chunk, emitting at most k (score, id)
    * structs. The previous shape materialized every candidate as a row
    * (5.0G at the 100× probe) and fed them all into the TopKByScore
    * ObjectHashAggregate, whose partial pass SORTS the full candidate
    * stream once per-task group counts exceed the 128-key fallback
    * threshold — a measured ≈302 s sort leg vs ≈17 s in hash mode, with
    * the engine-wide threshold raise rejected as an OOM tail for
    * unbounded-buffer aggregates (NOTES round-13). In-row scoring
    * removes the candidate rows entirely, on BOTH sides of the
    * broadcast gate: under it the whole pipeline is one codegen pass
    * over N·nProbe probe rows; past it (at 100 TB the index IS the
    * corpus) the shuffled cell join now moves ≤ N/chunk member-array
    * rows and N·nProbe probe rows instead of materializing 5G joined
    * rows through the SMJ. The only aggregation left is the per-query
    * merge of k-bounded chunk lists with [[graft.functions.TopKByScore]]
    * — ≤ N·nProbe·chunksPerCell·k tiny rows, where the map-side partial
    * (even sort-based) is negligible. Per-chunk top-k then multiset
    * merge take-k = global top-k: (score desc, id asc) totally orders
    * candidates with distinct ids, and a global top-k member has < k
    * candidates above it, in particular within its own chunk
    * (CellTopKSpec pins bit-identity against the retired formulation).
    *
    * Output is UNSORTED by design (the ivfCellPairs convention): a
    * global orderBy here would full-sort N×k output rows for every
    * pipeline caller (semantic dedup, hard-negative mining) that
    * doesn't need presentation order — the deterministic sort is a
    * QUERY concern, applied at [[ss5KnnJoin]]. */
  private[graft] def knnJoinIvfKernel(e0: DataFrame, k: Int,
      centroids: Seq[Array[Float]], cnorms: Seq[Double],
      nProbe: Int, maxPop: Long): DataFrame = {
    val assigned = capCells(
      KMeans.assignTopCellsWith(e0, centroids, nProbe, cnorms), maxPop)
    val probe = assigned.select(col("vec_id"), col("embedding"), col("nrm"),
      explode(col("cells")).as("cell"))
    // try_element_at for the same inferred-isnotnull reason as
    // [[ivfCellPairs]]' index side (see the comment there)
    val idx = assigned.select(col("vec_id").as("nbr_id"),
      col("embedding").as("emb_b"), col("nrm").as("nrm_b"),
      try_element_at(col("cells"), lit(1)).as("cell"))
    // per-cell populations: a tiny map-side-combined aggregate (≤ cells
    // rows — a model parameter), broadcast unconditionally
    val pops = idx.groupBy(col("cell")).agg(count(lit(1)).as("pop"))
    val chunked = idx.join(broadcast(pops), Seq("cell"))
      .withColumn("chunk",
        pmod(xxhash64(col("nbr_id")),
          ceil(col("pop").cast("double") / lit(IvfChunkRows.toDouble))
            .cast("bigint")).cast("int"))
    // member-array order is partition-dependent (collect_list), but the
    // result is order-invariant: CellTopK's (score desc, id asc) buffer
    // totally orders members with distinct ids (CellTopKSpec pins it)
    val cellChunks = chunked.groupBy(col("cell"), col("chunk"))
      .agg(collect_list(struct(col("nbr_id").as("id"),
        col("emb_b").as("emb"), col("nrm_b").as("nrm"))).as("members"))
    // size-gated explicit broadcast (see [[ivfIndexBroadcastable]] —
    // same bytes as the slim index, grouped); gated on the base frame
    // e0, whose scan-derived byte statistics are trustworthy
    val index =
      if (ivfIndexBroadcastable(e0)) broadcast(cellChunks) else cellChunks
    probe.join(index, Seq("cell"))
      .select(col("vec_id"),
        explode(VectorFunctions.cellTopK(col("embedding"), col("nrm"),
          col("members"), col("vec_id"), k)).as("t"))
      .groupBy(col("vec_id"))
      .agg(VectorFunctions.topkByScore(col("t.score"), col("t.id"), k).as("top"))
      .select(col("vec_id"), posexplode(col("top")).as(Seq("rk0", "t")))
      .select(col("vec_id"), col("t.id").as("nbr_id"),
        col("t.score").as("cos"), (col("rk0") + 1).cast("int").as("rk"))
  }

  /** [[knnJoin]] with explicit (tables, bits) — the spec seam for
    * measuring an upper [[KnnLshTiers]] geometry's recall before a
    * corpus lands on it (the lshNeardupGeom convention). */
  private[operators] def knnJoinGeom(e00: DataFrame, k: Int, dim: Int,
                                     geom: Option[(Int, Int)]): DataFrame = {
    // many short tables, not few long ones, at small N: kNN needs recall
    // for moderate-cosine neighbors (p_match = 1-(1-p_bit^bits)^tables,
    // p_bit ~ .6 for cos ~.3) — 16x4 gives ~.9 where 4x8 gives ~.08. At
    // corpus scale bits grows (tier table above) to bound buckets.
    val (tables, bits) = geom.getOrElse {
      val t = KnnLshTiers.find(estRowsOf(e00) < _._1).getOrElse(KnnLshTiers.last)
      (t._2, t._3)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nbr_id"))
    // stride = bits: the kNN tiers pack tables×bits = 64 exactly, every
    // lane full. Only slim (vec_id, nbr_id, cos) rows reach the top-k
    // window shuffle.
    lshCollisionPairs(e00, dim, tables, bits, stride = bits,
        opName = "knnJoin", unorderedPairs = false)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .select(col("vec_id"), col("nbr_id"), col("cos"), col("rk"))
    // UNSORTED by design — the deterministic orderBy is a QUERY concern
    // (applied at ss5KnnJoin), not a kernel one; see knnJoinIvfKernel
  }

  /** ss6_knn_exact — EXACT batch kNN join: every vector's true top-k
    * neighbors by cosine — the hash-checkable ground truth of ss5's
    * LSH approximation. Pair enumeration is the ss3 block-pair shape
    * (broadcast block grid + two hash joins, never a nested-loop join),
    * here over the FULL b×b grid because each vector owns its own
    * neighbor list; only slim (vec_id, nbr_id, cos) rows reach the
    * per-vector top-k window. Exact kNN is inherently Θ(N²) dot
    * products, so the operator fail-fasts above [[MaxExactKnnBytes]] —
    * at corpus scale ss5 IS this query with LSH-bounded candidates. */
  def ss6KnnExact(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    VectorFunctions.ensureRegistered(s)
    val blocks = 16
    import s.implicits._
    val e0 = Tables.embeddings(s, dir)
    graft.operators.Guards.requireEstimatedBytesAtMost(
      e0, MaxExactKnnBytes, "ss6_knn_exact (quadratic-work exact kNN; use ss5)")
    val blockPairs = broadcast(
      (for (ba <- 0 until blocks; bb <- 0 until blocks) yield (ba, bb))
        .toDF("ba", "bb"))
    val e = e0.select(col("vec_id"), col("embedding"),
      sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding"))).as("nrm"),
      pmod(col("vec_id"), lit(blocks)).cast("int").as("blk"))
    val a = e.select(col("vec_id"), col("embedding").as("emb_a"),
      col("nrm").as("nrm_a"), col("blk").as("ba"))
    val b = e.select(col("vec_id").as("nbr_id"), col("embedding").as("emb_b"),
      col("nrm").as("nrm_b"), col("blk").as("bb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("nbr_id"))
    a.join(blockPairs, "ba").join(b, Seq("bb"))
      .where(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        VectorFunctions.round3(try_divide(VectorFunctions.vecDot(col("emb_a"), col("emb_b")),
          col("nrm_a") * col("nrm_b"))).as("cos"))
      // NULL cos (degenerate query or neighbor) never ranks: without the
      // filter a degenerate QUERY would emit k all-NULL rows (desc puts
      // NULLS LAST, but a query with ONLY null scores still numbers them)
      .where(col("cos").isNotNull)
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= k)
      .orderBy(col("vec_id"), col("rk"))
  }

  /** Input cap for the exact kNN join (quadratic work): 32 MB of
    * estimated input (~100k embeddings) bounds the dot products at
    * ~10¹⁰; larger corpora must use ss5. */
  val MaxExactKnnBytes: Long = 32L << 20

  /** ss7_label_centroids — embedding-column analytics: the per-label
    * centroid, component by component (the "is my labeled training data
    * clustered sanely" check, and the fit step IVF/ss4 coarse centroids
    * come from in production). Shape: posexplode to (label, dim, e) →
    * ONE hash aggregation on tiny (label, dim) keys with map-side
    * combine — embarrassingly scalable; no vector ever crosses a shuffle
    * whole.
    *
    * Determinism: float addition is order-dependent, so components are
    * first quantized to 1e-6 by `floor` (no rounding ties, bit-identical
    * on any engine and at any parallelism) and summed exactly as longs —
    * the same reproducibility convention as the DECIMAL money sums. The
    * 1e-6 quantization error is negligible against embedding noise. The
    * final mean is ONE IEEE double division of exact integers — also
    * bit-identical — with NO decimal rounding after it (engines disagree
    * on round-at-.5 boundaries of inexact doubles; measured at sf0.01). */
  def ss7LabelCentroids(s: SparkSession, dir: String): DataFrame =
    ss7LabelCentroidsFrom(Tables.embeddings(s, dir))

  /** ss7 over an arbitrary (label, embedding) DataFrame. Degenerate-row
    * contract (component-wise MEAN semantics, not cosine): NULL/empty
    * embeddings contribute nothing (posexplode emits no rows); a
    * zero-norm vector is a legitimate point at the origin and pulls the
    * centroid like any other row; a wrong-dim row contributes exactly
    * the components it has (per-dim `n` counts presence) — dims beyond
    * its length see nothing. */
  def ss7LabelCentroidsFrom(e: DataFrame): DataFrame =
    e.select(col("label"), posexplode(col("embedding")).as(Seq("dim", "e")))
      .withColumn("q", floor(col("e").cast("double") * 1000000L))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("qsum"))
      .select(col("label"), col("dim"), col("n"),
        (col("qsum") / (col("n") * 1000000.0)).as("centroid"))
      .orderBy(col("label"), col("dim"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ss1_cosine_topk" -> (ss1CosineTopk _),
    "ss2_ann_lsh" -> (ss2AnnLsh _),
    "ss3_embedding_neardup" -> (ss3EmbeddingNeardup _),
    "ss4_ann_ivf" -> (ss4AnnIvf _),
    "ss4_ann_ivf_fitted" -> (ss4AnnIvfFitted _),
    "ss5_knn_join" -> ((s: SparkSession, dir: String) => ss5KnnJoin(s, dir)),
    "ss6_knn_exact" -> ((s: SparkSession, dir: String) => ss6KnnExact(s, dir)),
    "ss7_label_centroids" -> (ss7LabelCentroids _),
    "ss8_pq_topk" -> (ss8PqTopk _),
    "ss9_ivfpq_topk" -> (ss9IvfPqTopk _),
  )

  // DuckDB mirror of the cosine kernel: same double casts, same
  // left-to-right reduction order as Spark's `aggregate`. Shared with
  // Dedup's dd7 oracle (CC over the ss3 edge set).
  private[operators] val duckCos =
    """list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))
       / (sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))
          * sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))))"""

  val oracle: Map[String, String] = Map(
    "ss1_cosine_topk" ->
      s"""SELECT b.vec_id, round($duckCos, 3) AS cos
       FROM embeddings a, embeddings b
       WHERE a.vec_id = 0 AND b.vec_id <> 0
       ORDER BY cos DESC, b.vec_id LIMIT 10""",
    // ss2_ann_lsh: approximate recall — no oracle (rows-only).
    "ss6_knn_exact" ->
      s"""WITH pairs AS (
        SELECT a.vec_id AS vec_id, b.vec_id AS nbr_id, round($duckCos, 3) AS cos
        FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id),
      ranked AS (
        SELECT vec_id, nbr_id, cos,
               CAST(row_number() OVER (PARTITION BY vec_id
                 ORDER BY cos DESC, nbr_id) AS INTEGER) AS rk
        FROM pairs)
       SELECT vec_id, nbr_id, cos, rk FROM ranked WHERE rk <= 5
       ORDER BY vec_id, rk""",
    "ss3_embedding_neardup" ->
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, round($duckCos, 3) AS cos
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE round($duckCos, 3) >= 0.45
       ORDER BY vec_a, vec_b""",
    // ss7: same 1e-6 floor-quantization as the Spark side — exact long
    // sums, so the mean is bit-deterministic on both engines.
    "ss7_label_centroids" ->
      """WITH ex AS (
        SELECT label,
               CAST(unnest(range(len(embedding))) AS INTEGER) AS dim,
               CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS q
        FROM embeddings)
       SELECT label, dim, count(*) AS n,
            CAST(sum(q) AS DOUBLE) / (count(*) * 1000000.0) AS centroid
       FROM ex GROUP BY 1, 2 ORDER BY label, dim""",
  )
}
