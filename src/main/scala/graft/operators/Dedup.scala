package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Deduplication operators for training-data pipelines over `documents`:
  * exact (group-by / content-hash), MinHash+LSH near-dup, SimHash
  * near-dup, and exact n-gram Jaccard.
  *
  * Scale design (100 TB):
  *   - exact dedup is one shuffle on the content hash (never on raw text);
  *   - MinHash/LSH turns the quadratic all-pairs problem into
  *     shuffle-on-band-bucket + candidate verification — the only join is
  *     between docs sharing a bucket, and buckets larger than
  *     [[MaxBucketSize]] switch to linear chain linking (a degenerate
  *     bucket that collects a constant fraction of the corpus must not go
  *     quadratic, but a real mega-clique of near-duplicates must keep its
  *     connectivity — its chain edges survive exact verification, a
  *     degenerate bucket's die there at linear cost);
  *   - SimHash bands its 64 bits into 4×16 so any pair within Hamming
  *     distance 3 shares at least one band (pigeonhole) — again a bucket
  *     join, not a cross join;
  *   - exact n-gram Jaccard uses an inverted-index join (shingle → doc)
  *     restricted to discriminative shingles: document frequency ≤
  *     [[shingleDfCap]] — 0.1 % of estimated corpus docs, floored at
  *     [[MaxShingleDf]] and ceilinged at [[MaxShingleDfCeiling]]. A
  *     stop-shingle with df=d contributes d²/2 candidate pairs, so
  *     without the cutoff one hot shingle makes the self-join quadratic
  *     in corpus size; an ABSOLUTE cutoff instead degenerates when the
  *     duplication factor reaches it (the 100× smoke measurement on
  *     [[shingleDfCap]]). (Clusters of > ceiling verbatim copies are
  *     exact duplicates and belong to dd1/dd2, which run first in a
  *     real pipeline.)
  * All signatures are built from `xxhash64` column expressions — fully
  * codegen'd, no UDFs, no driver-side state. The MinHash kernel hashes
  * each shingle string ONCE and derives the 64 per-function values by
  * re-hashing the resulting 8-byte long — constant-size integer work per
  * hash function instead of 64 full string traversals.
  */
object Dedup {

  val NumHashes = 64
  val NumBands = 16 // 16 bands x 4 rows: P(candidate | jaccard .8) ~ .9998

  /** Document-frequency cutoff for the n-gram inverted index (dd3 verify,
    * dd4, dd6): shingles appearing in more than this many documents carry
    * no near-dup signal and are dropped before the self-join. Mirrored
    * literally in the dd4/dd6 DuckDB oracle SQL so the hash gate stays
    * exact. Inactive at the test scale factors (max observed df at sf0.1
    * is 25) — it exists to bound join fan-out at corpus scale. */
  val MaxShingleDf = 100

  /** Hard ceiling for the corpus-scaled df cutoff ([[shingleDfCap]]): a
    * shingle at the cap contributes ≤ cap²/2 ≈ 500k candidate pairs to
    * the dd4 inverted-index join, bounded regardless of corpus size. A
    * corpus whose near-verbatim duplication factor exceeds this ceiling
    * degenerates the discriminative-shingle universe again — run dd1/dd2
    * first (verbatim mega-clusters are exact duplicates), as a real
    * pipeline does. */
  val MaxShingleDfCeiling = 1000

  /** Corpus-scaled document-frequency cutoff: a shingle is a
    * stop-shingle when it appears in more than 0.1 % of documents, never
    * below [[MaxShingleDf]] (so every fixture-scale measurement and the
    * DuckDB oracle's literal 100 are unchanged — the scaling only
    * engages above 100k docs) and never above [[MaxShingleDfCeiling]].
    * An ABSOLUTE cutoff degenerates at scale — measured at the 100×
    * smoke (500k docs, duplication factor 100 = the old cutoff): every
    * content shingle hit df ≥ 100, kept sets collapsed to 1-2 suffix
    * shingles per doc (median 1), and "Jaccard ≥ .8 over kept sets"
    * became an all-or-nothing test on near-empty sets — dd4 reported
    * 1.25M pairs that were ALL cross-clique coincidences while the 24.7M
    * real near-dup pairs measured J < 0.5. Estimated rows come from plan
    * statistics (stats.rowCount, else sizeInBytes/300 — the
    * [[Similarity]] estimator convention): no job at construction. */
  private[operators] def shingleDfCap(docs: DataFrame): Long = {
    if (statsUnmaterialized(docs))
      log.warn("shingleDfCap: plan reads a cached-but-unmaterialized " +
        "relation — statistics are the pre-cache estimate and probing " +
        "them now PINS that estimate on the shared relation " +
        "(LogicalPlan.statsCache); materialize the cache first (count()) " +
        "or pass the document count explicitly (shingleDfCap(nDocs) / " +
        "dd3From/dd4From(docs, nDocs)) — a tiny pinned estimate drags " +
        "the cutoff to the floor, the degenerate regime of the 100x " +
        "smoke's dd4 collapse")
    val stats = docs.queryExecution.optimizedPlan.stats
    val est = stats.rowCount.getOrElse(stats.sizeInBytes / 300)
      .min(BigInt(Long.MaxValue)).toLong
    val cap = shingleDfCap(est)
    // estimate + chosen cap are logged so a stale/skewed estimate is
    // visible in the driver log instead of silently reproducing the
    // degeneration (ADVICE round-10)
    log.info(s"shingleDfCap: estimated $est docs -> df cutoff $cap")
    cap
  }

  /** [[shingleDfCap]] from an EXPLICIT document count — the overload for
    * callers that know the corpus size (the scale smoke counts its
    * corpus before building), bypassing plan statistics and the
    * statsCache trap entirely. */
  def shingleDfCap(nDocs: Long): Long =
    math.max(MaxShingleDf.toLong,
      math.min(nDocs / 1000, MaxShingleDfCeiling.toLong))

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** True when `docs`' plan reads a cached-but-NOT-yet-materialized
    * in-memory relation: its statistics are still the pre-cache estimate,
    * and because statistics memoize on the shared relation object
    * (LogicalPlan.statsCache), probing them before the first
    * materialization pins that estimate for the relation's lifetime —
    * the trap NOTES documents for estimator-driven tiering. Detection
    * makes the trap LOUD at the estimator call sites instead of a
    * silently degenerate cutoff.
    *
    * `cacheBuilder.isCachedColumnBuffersLoaded` is a Spark-INTERNAL
    * API; a Spark upgrade may change it at runtime even when the
    * signature still links (ADVICE round 11). The probe is therefore
    * fenced: any throw from the internal access degrades to "no
    * warning" with its OWN warn naming the broken probe — loud once per
    * JVM rather than a silently disabled detector — and the behavior
    * itself is version-pinned by the spec that constructs the trap and
    * asserts the detector flips (OperatorSemanticsSpec). */
  private[operators] def statsUnmaterialized(docs: DataFrame): Boolean =
    fencedStatsProbe(docs.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation
        if !r.cacheBuilder.isCachedColumnBuffersLoaded => r
    }.nonEmpty)

  /** The exception fence around the internal-API probe, factored out so
    * the spec can exercise it with a synthetic failure. Catches NonFatal
    * AND [[LinkageError]]: the most likely Spark-upgrade breakage is a
    * removed/renamed internal class or method, which surfaces as
    * NoClassDefFoundError / NoSuchMethodError — LinkageErrors that
    * NonFatal deliberately excludes, and which previously escaped the
    * fence and crashed every dd3/dd4 call instead of degrading to the
    * documented warn-once-and-disable behavior. Genuinely fatal throws
    * (OOM, interrupts) still propagate. */
  private[operators] def fencedStatsProbe(probe: => Boolean): Boolean =
    try probe
    catch { case e if scala.util.control.NonFatal(e) || e.isInstanceOf[LinkageError] =>
      if (statsProbeBroken.compareAndSet(false, true))
        log.warn("statsUnmaterialized probe broke against this Spark's " +
          s"internal InMemoryRelation API (${e.getClass.getSimpleName}: " +
          s"${e.getMessage}); the statsCache-trap warning is DISABLED — " +
          "explicit-count overloads (shingleDfCap(n)/dd3From(docs,n)) " +
          "still bypass plan statistics")
      false
    }

  private val statsProbeBroken = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** LSH band-bucket size cap (dd3): buckets holding more members switch
    * from the quadratic self-join to linear chain linking (see the
    * over-cap path in dd3FromParts). A degenerate bucket (e.g. many
    * near-empty documents hashing identically) otherwise goes quadratic;
    * a REAL mega-clique over the cap keeps its connectivity through the
    * chain edges instead of being discarded (the pre-round-10 behavior,
    * which collapsed dd3 recall at the 100× smoke). */
  val MaxBucketSize = 200

  /** Target members per over-cap chain SEGMENT (dd3): the chain path's
    * lag window partitions by (band, bucket, seg) with seg =
    * hash(band, doc_id) mod ceil(bsz / this), so no single task ever
    * sorts more than ~this many rows however degenerate the bucket —
    * a bucket collecting a constant fraction of a 100 TB corpus becomes
    * bsz/4096 bounded sorts instead of one O(n log n) straggler. Chosen
    * well above any test/fixture bucket (their chains are unchanged,
    * nseg = 1) and far below task-memory limits (~50 B/row × 4096). */
  val ChainSegmentRows = 4096

  /** Word 3-shingles (distinct), the unit for MinHash and Jaccard. */
  private def shingleCol: Column = array_distinct(expr(
    "transform(sequence(1, greatest(size(toks) - 2, 1)), i -> concat_ws(' ', slice(toks, i, 3)))"))

  /** NOTE on partitioning: an explicit repartition before shingling was
    * measured SLOWER here — it moves the self-join's ReusedExchange point
    * above the signature computation, so the expensive hashing runs once
    * per join side instead of being shared at the aggregation shuffle.
    * Exchange-reuse position beats raw input parallelism. */
  private[operators] def withShingles(df: DataFrame): DataFrame =
    df.withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", shingleCol)

  /** Exploded (doc_id, shingle) pairs restricted to discriminative
    * shingles (df ≤ `dfCap`, the [[shingleDfCap]] of the source corpus).
    *
    * ONE map-side-combined aggregation per shingle — `count` plus a
    * k-BOUNDED id collect ([[graft.functions.TopKByScore]] under a
    * constant score, buffer ≤ dfCap+1 entries at every stage) — then the
    * ids of under-cap shingles explode back out. Replaces the
    * pre-round-11 `count over (partition by sh)` window: windows have no
    * partial aggregation, so a true stop-shingle ("of the", df ≈ a
    * constant fraction of the corpus) shuffled its ENTIRE population to
    * one task just to be counted before the filter dropped it — a
    * straggler/OOM at web scale that the df cutoff itself cannot bound
    * (it bounds join fan-out, not counting skew). With the bounded
    * collect, a hot shingle crosses the exchange as one ≤(dfCap+1)-entry
    * buffer per map partition and is dropped at the reducer; an
    * under-cap shingle's list is complete by construction (total ≤ dfCap
    * < the truncation bound, so no eviction ever fired). Exactly one
    * scan of the corpus (a counts-then-anti-join formulation measured
    * 1.8× slower at 2M docs — the second tokenize+explode pass — while
    * this form measured within 9 % of the window under skew and 6 % at
    * fixture scale, NOTES round-11), and the output keeps the window
    * form's hash-partitioning on `sh`, preserving the dd4 self-join's
    * exchange-reuse position.
    *
    * TopKByScore's buffer carries bigint ids, so the bounded-collect
    * fast path routes by `doc_id` type: LongType directly; narrower
    * integrals through a lossless cast in and back out; anything else
    * (the public dd3From/dd4From contract is an ARBITRARY `doc_id`,
    * which the replaced window honored) falls back to the
    * type-agnostic hot-key anti-join — the over-cap shingle set from a
    * map-side-combined `groupBy(sh).count()` is tiny by definition and
    * broadcast-anti-joins against a second scan of the explode (the
    * 1.8×-slower form above; correctness over speed for exotic key
    * types, and still skew-proof — no hot key ever lands on one task). */
  private[operators] def keptShingles(shingled: DataFrame, dfCap: Long): DataFrame = {
    import org.apache.spark.sql.types._
    val exploded = shingled.select(col("doc_id"), explode(col("shingles")).as("sh"))
    exploded.schema("doc_id").dataType match {
      case LongType => keptShinglesBounded(exploded, dfCap, identity)
      case t @ (ByteType | ShortType | IntegerType) => keptShinglesBounded(
        exploded.withColumn("doc_id", col("doc_id").cast(LongType)),
        dfCap, _.cast(t))
      case _ =>
        val hot = exploded.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .where(col("df") > dfCap).select(col("sh"))
        exploded.join(hot, Seq("sh"), "left_anti")
    }
  }

  /** The bounded-collect kernel of [[keptShingles]] over bigint ids;
    * `back` restores the caller's original integral doc_id type. */
  private def keptShinglesBounded(exploded: DataFrame, dfCap: Long,
                                  back: Column => Column): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(exploded.sparkSession)
    exploded
      .groupBy(col("sh"))
      .agg(count(lit(1)).as("df"),
        graft.functions.VectorFunctions
          .topkByScore(lit(0.0), col("doc_id"), (dfCap + 1).toInt).as("ids"))
      .where(col("df") <= dfCap)
      .select(explode(col("ids")).as("t"), col("sh"))
      .select(back(col("t.id")).as("doc_id"), col("sh"))
  }

  /** dd1_exact — exact duplicate groups by full-text equality: one
    * shuffle keyed on text (at scale: key on sha2 first, q.v. dd2). */
  def dd1Exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("rep_doc_id"), count(lit(1)).as("n_copies"))
      .select(col("rep_doc_id"), col("n_copies"), length(col("text")).as("len"))
      .orderBy(col("rep_doc_id"))

  /** dd2_hash — content-hash dedup: mark each doc kept/dropped by
    * first-doc_id-wins within its sha256 group. The shuffle key is the
    * 32-byte hash, not the document — this is the form that scales. */
  def dd2Hash(s: SparkSession, dir: String): DataFrame =
    dd2From(Tables.documents(s, dir))
      .select(col("doc_id"), col("content_hash"), col("keep"))
      .orderBy(col("doc_id"))

  /** dd2's keep rule over an arbitrary documents DataFrame: the input
    * columns plus `content_hash` and `keep` — the SINGLE definition of
    * "first doc_id per sha256 survives" that dd2_hash, CorpusPipeline and
    * the scale smoke all apply.
    *
    * keep = `doc_id === min(doc_id) per content_hash`, with ONLY the
    * DUPLICATED groups' minima joined back — equivalent to the
    * pre-round-11 `row_number() over (partition by hash order by
    * doc_id) === 1` (doc_id is the primary key) but skew-proof: a
    * mega-group of identical documents reached the window's single task
    * as its full population (text payload included) and serialized
    * there, while here it reduces to ~one partial (min, count) row per
    * map partition. Hashes with a single member — the vast majority of
    * any corpus — need no information at all (keep = true), so the
    * joined-back frame is dedup-rate-sized: usually broadcast by AQE,
    * meaning the corpus rows never shuffle at all; a heavily-duplicated
    * corpus degrades to a shuffled join whose skewed partitions AQE
    * splits — a mitigation windows don't have. Measured at the 2M-doc
    * skew probe: 1.06 s vs the window's 0.67 s and a full min-map
    * join's 1.55 s (NOTES round-11) — the small premium buys away the
    * unbounded single-task shape.
    *
    * The join is NULL-SAFE (`<=>`): `sha2(NULL text)` is NULL, and the
    * window form this replaced grouped all NULL-text docs into ONE
    * partition (as groupBy does into one group) and kept only the
    * first — a null-unsafe equi-join would silently keep them ALL
    * (nothing joins to a NULL key). EqualNullSafe is still an
    * equi-join key to the planner (coalesced), so the hash-join shape
    * is unchanged. */
  def dd2From(docs: DataFrame): DataFrame = {
    val hashed = docs.withColumn("content_hash", sha2(col("text"), 256))
    val dupFirsts = hashed.groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("__dd2_first"), count(lit(1)).as("__dd2_n"))
      .where(col("__dd2_n") > 1)
      .select(col("content_hash").as("__dd2_hash"), col("__dd2_first"))
    hashed.join(dupFirsts, col("content_hash") <=> col("__dd2_hash"), "left_outer")
      .withColumn("keep",
        col("__dd2_first").isNull || col("doc_id") === col("__dd2_first"))
      .select(docs.columns.toIndexedSeq.map(col) ++ Seq(col("content_hash"), col("keep")): _*)
  }

  /** MinHash signatures + kept-set size over the KEPT (df-cutoff)
    * shingle frame, in ONE map-side-combined aggregation. Each
    * (doc, shingle) row hashes the shingle string ONCE (`xxhash64(sh)`)
    * and derives the 64 per-function values by hashing (i, h) — 16 bytes
    * of integer input per function instead of re-traversing the string 64
    * times (the round-1 kernel; it was the bench's top hotspot). Map-side
    * partial min-agg shrinks the shuffle to 65 longs per doc per
    * partition.
    *
    * Signatures are over the kept sets — the SAME sets exact
    * verification scores — not the raw shingle sets (the pre-round-11
    * form). That alignment is both the recall statement and the skew
    * fix: banding probability becomes a function of the VERIFIED
    * Jaccard (1-(1-J⁴)¹⁶ ≈ .9998 at J = .8 by construction, where
    * full-set signatures under-banded pairs whose raw sets diverged on
    * df-cutoff boilerplate), and a corpus-wide verbatim tail — hot
    * shingles by definition, absent from every kept set — can no longer
    * correlate signatures across unrelated docs and pile a constant
    * fraction of the corpus into one bucket per band (measured: the 2M
    * skew corpus' 1.8M boilerplate-tailed docs produced ~29M false
    * chain edges through full-set signatures, all dying at
    * verification — 90.1 s; kept-set signatures deband them entirely).
    * Docs whose kept set is smaller than [[MinJaccardShingles]] are
    * dropped HERE (they cannot reach `common ≥` that floor, so no pair
    * of theirs survives verification — an exact implication, not a
    * heuristic), which keeps verification-dead mass (near-empty docs,
    * all-boilerplate template docs, verbatim mega-copies whose every
    * shingle is over-df) out of banding and the over-cap chain
    * machinery. */
  private[operators] def minhashSigsKept(kept: DataFrame): DataFrame = {
    val hashed = kept.select(col("doc_id"), xxhash64(col("sh")).as("h"))
    val mins = (0 until NumHashes).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"sig_$i"))
    hashed.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("ksz"), mins: _*)
      .where(col("ksz") >= MinJaccardShingles)
  }

  /** LSH band buckets: band b = xxhash64(b, sig_{4b} .. sig_{4b+3}). */
  private def bandCol: Column = {
    val rows = NumHashes / NumBands
    array((0 until NumBands).map { b =>
      xxhash64((lit(b) +: (0 until rows).map(r => col(s"sig_${b * rows + r}"))): _*)
    }: _*)
  }

  /** dd3_minhash_lsh — near-duplicate pairs via MinHash+LSH banding,
    * verified with exact Jaccard >= 0.8 AND ≥ [[MinJaccardShingles]]
    * shared shingles on the discriminative (df-cutoff) shingle sets —
    * the same sets and floors dd4 scores, so dd3 ⊆ dd4 by construction.
    * Signatures are ALSO over those kept sets ([[minhashSigsKept]]), so
    * the banding probability is a function of the verified Jaccard
    * itself: recall 1-(1-J⁴)¹⁶ ≈ .9998 at J = .8 by construction. Plan
    * shape: one kept-frame aggregation (sigs + size floor, codegen) ->
    * posexplode 16 bands -> shuffle on (band, bucket) -> under-cap
    * buckets self-join (candidate pairs deduplicated AT the join by the
    * first-surviving-collision rule, dd5's shape — no distinct shuffle
    * of the candidate explosion); over-cap buckets chain-link members in
    * per-band hash order (linear, connectivity-preserving) -> verify.
    * PAIR ENUMERATION is complete only for cliques whose buckets stay
    * under [[MaxBucketSize]]; above it dd3 guarantees connectivity (each
    * member reaches its clique through chain edges), which is what the
    * dd6/dd7 component consumers need — C(M,2) pairs for a mega-clique
    * is exactly the output no 100 TB pipeline can afford.
    * No oracle: LSH recall is ~.9998, not 1, so the exact-SQL answer can
    * differ — rows-only check; dd4 carries the exact-Jaccard oracle. */
  def dd3MinhashLsh(s: SparkSession, dir: String): DataFrame =
    dd3FromParts(cachedKeptShingles(s, dir))

  /** dd3 over an arbitrary documents DataFrame (`doc_id`, `text`). */
  def dd3From(docs: DataFrame): DataFrame = dd3FromWithCap(docs, MaxBucketSize)

  /** dd3 with an EXPLICIT document count for the df cutoff — bypasses
    * plan statistics (and the statsCache trap) for callers that know the
    * corpus size. */
  def dd3From(docs: DataFrame, nDocs: Long): DataFrame = {
    val shingled = withShingles(docs).select(col("doc_id"), col("shingles"))
    dd3FromParts(keptShingles(shingled, shingleDfCap(nDocs)))
  }

  /** dd3 with an explicit bucket cap (tests exercise tiny caps to force
    * the cap/first-collision interaction; the public entries bind
    * [[MaxBucketSize]]). */
  private[operators] def dd3FromWithCap(docs: DataFrame, maxBucket: Int): DataFrame = {
    val shingled = withShingles(docs).select(col("doc_id"), col("shingles"))
    dd3FromParts(keptShingles(shingled, shingleDfCap(docs)), maxBucket)
  }

  private[operators] def dd3FromParts(kept: DataFrame,
                           maxBucket: Int = MaxBucketSize): DataFrame = {
    // slim candidate generation: only (doc_id, band, bucket) plus five
    // dedup longs flow through the self-join; shingle sets rejoin AFTER
    // the pair set is known (candidates << corpus, so the two hash joins
    // are cheap). Signatures, kept-set size and the eligibility floor
    // all come from ONE aggregation over the kept frame
    // ([[minhashSigsKept]], q.v. for the banding-alignment and skew
    // rationale), whose doc_id exchange is shared with keptSets' below.
    //
    // SIZE GATE (round-11): common ≤ min(|A|,|B|) and union ≥ max, so a
    // pair can pass verification only when min·20000 ≥ max·15999 (the
    // [[jaccardAtLeast08]] threshold applied to the min/max upper bound
    // of Jaccard) — an EXACT implication, so both candidate paths drop
    // pairs whose kept-set size ratio makes Jaccard ≥ .8 infeasible
    // before the pair ever reaches the verification joins. Chain edges
    // dropped by the gate would have died at verification identically,
    // so over-cap connectivity is unchanged (chains already rely on
    // edges surviving exact verification); chains SKIPPING infeasible
    // neighbors can only link verifiable docs more directly.
    //
    // Join-time candidate dedup (replacing the round-1..4 `.distinct()`
    // shuffle): the join key stays the FULL 64-bit band hash (bucket =
    // signature-group identity — truncating it would merge distinct
    // sig-groups and melt the cap at corpus scale), while the
    // first-collision rule consults 16-bit truncations of all 16 band
    // hashes packed into four longs (long i holds bands 4i..4i+3, dd5's
    // lane shape x4). A pair is kept only at its first band that both
    // collides and survived the bucket cap — survival at a COLLIDING
    // band is a property of the shared bucket, so side a's mask bit is
    // authoritative (the dd5 argument). A 16-bit lane can alias (equal
    // lanes, different buckets) and wrongly veto a keep: probability
    // 2^-16 per earlier band, deterministic (xxhash64), and dd3 is
    // already an approximate operator with ~.9998 banding recall — the
    // alias term is noise against it, and NO duplicates are ever
    // emitted.
    val packs = (0 until 4).map { i =>
      (0 until 4).map { g =>
        shiftleft(element_at(col("bands"), i * 4 + g + 1).bitwiseAND(0xFFFFL), 16 * g)
      }.reduce((x, y) => x.bitwiseOR(y)).as(s"p_$i")
    }
    // bmask (bands where the doc's bucket survived the cap) is computed
    // BEFORE the cap filter so the over-cap chain path below sees each
    // doc's full survival map; the A-path rows carry the identical value
    // the post-filter window used to produce.
    //
    // Over-cap buckets are detected with a map-side-combined
    // `groupBy(band, bucket).count()` joined back — NOT the pre-round-11
    // `count over (partition by band, bucket)` window: a degenerate
    // bucket holding a constant fraction of the corpus shuffled its full
    // population to ONE task just to be counted, while the aggregate
    // reduces it to ~one partial row per map partition. The over-cap key
    // set is small by construction (≤ banded rows / maxBucket), so AQE
    // broadcasts the join and the flagging never re-shuffles the banded
    // rows; the signature subtree is shared with the main branch through
    // the minhash aggregation's exchange (ReusedExchange). The per-doc
    // bmask window stays a window on purpose — its partitions are
    // exactly NumBands rows (doc_id is unique), so it has no hot key,
    // and the doc_id partitioning from the signature aggregation
    // satisfies it without a new exchange on the broadcast path.
    val preBand = minhashSigsKept(kept)
      .withColumn("bands", bandCol)
      .select((col("doc_id") +: col("ksz") +: packs) :+
        posexplode(col("bands")).as(Seq("band", "bucket")): _*)
    val overBuckets = preBand.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") > maxBucket)
    val banded0 = preBand
      .join(overBuckets, Seq("band", "bucket"), "left_outer")
      .withColumn("over", col("bsz").isNotNull)
      .withColumn("bmask",
        sum(when(!col("over"),
          expr("shiftleft(CAST(1 AS BIGINT), band)")).otherwise(0L))
          .over(Window.partitionBy(col("doc_id"))))
    val banded = banded0.where(!col("over"))
    val a = banded.select((col("doc_id").as("doc_a") +: col("band") +: col("bucket") +:
      col("bmask").as("bmask_a") +: col("ksz").as("ksz_a") +:
      (0 until 4).map(i => col(s"p_$i").as(s"pa_$i"))): _*)
    val b = banded.select((col("doc_id").as("doc_b") +: col("band") +: col("bucket") +:
      col("ksz").as("ksz_b") +: (0 until 4).map(i => col(s"p_$i").as(s"pb_$i"))): _*)
    // per packed long: test each 16-bit lane of the XOR directly (lane
    // nonzero = lanes DIFFER at that band ⟹ buckets differ ⟹ no earlier
    // join) and set that band's bit in a 16-bit differs-mask. FLAT
    // per-lane tests, not dd5's log-shift OR-fold: folding at the Column
    // level duplicates the whole accumulator subtree per step, and at 4
    // longs × 4 gather terms the generated predicate blew past the
    // codegen limits and fell back to interpreted eval inside the join
    // condition — measured 54 s vs 16.5 s for this flat form on the
    // same 13.5M joined rows at 20× (NOTES round-5).
    def differsMask(pa: String, pb: String): Column = (0 until 4).map { i =>
      val xor = col(s"$pa$i").bitwiseXOR(col(s"$pb$i"))
      (0 until 4).map { g =>
        when(shiftright(xor, 16 * g).bitwiseAND(0xFFFFL) =!= 0,
          lit(1L << (4 * i + g))).otherwise(0L)
      }.reduce((x, y) => x.bitwiseOR(y))
    }.reduce((x, y) => x.bitwiseOR(y))
    val differs16 = differsMask("pa_", "pb_")
    val earlierMask = expr("shiftleft(CAST(1 AS BIGINT), band)") - 1
    val candA = a.join(b, Seq("band", "bucket"))
      .where(col("doc_a") < col("doc_b"))
      .where(sizeFeasible(col("ksz_a"), col("ksz_b")))
      .where(differs16.bitwiseOR(bitwise_not(col("bmask_a")))
        .bitwiseAND(earlierMask) === earlierMask)
      .select(col("doc_a"), col("doc_b"))
    // OVER-CAP chain path: a bucket past the cap is either degenerate
    // (constant boilerplate hashing identically — the case the cap was
    // built for) or a REAL mega-clique of near-duplicates, and at corpus
    // scale real cliques larger than any fixed cap are a certainty
    // (measured: at the 100× smoke, replica cliques × near-dup base
    // families put most true buckets over the cap, and discarding them
    // collapsed dd3 to 752 of dd4's 1.25M pairs). Enumerating a
    // mega-clique's C(M,2) pairs is exactly what cannot ship at 100 TB,
    // and dedup doesn't need it: CONNECTIVITY is enough (dd6/dd7 run
    // connected components over these edges). So over-cap buckets
    // contribute a LINEAR candidate set instead of none: members are
    // chained in per-band hash order (each doc links to its predecessor;
    // ≤1 edge per member per band, the order de-correlated across bands
    // so a true clique's members get ~16 independent chances at a
    // same-clique neighbor), every chain edge still passes the exact
    // Jaccard verification below, and a degenerate bucket's false edges
    // die there at linear cost. The packed-lane pre-filter drops chain
    // pairs that some surviving band already emits (cur side's bmask,
    // the A-path's alias caveat applies); the set union below dedupes
    // key-wise, so no duplicates are ever emitted even under lane
    // aliasing. (Round-11 perf: this was a left_anti of B against A —
    // set-identical output, but the anti-join RECOMPUTED candA's whole
    // quadratic band join as its build side, the single largest subtree
    // in the plan, because nothing above shares its exchange. The
    // key-wise dropDuplicates on the union dedupes A/B overlap AND
    // B's own per-band repeats in one shuffle with candA computed once —
    // measured 88 → 61 s on the 20× replica corpus, candA's join being
    // ~26 s of it.)
    // The chain's lag window genuinely needs an order, so it stays a
    // window — but its partition is (band, bucket, seg), not
    // (band, bucket): a degenerate bucket holding a constant fraction of
    // the corpus would otherwise sort its whole population in ONE task
    // (O(n log n) straggler/spill at 100 TB). Buckets are salted into
    // segments of ~[[ChainSegmentRows]] expected members (seg count from
    // the bsz the over-bucket join carried back), chained segment-locally;
    // buckets under the target keep nseg = 1, i.e. exactly the
    // pre-round-11 chains — only degenerate giants split. Cross-segment
    // connectivity comes from the other bands: the segment hash is
    // salted per band, so 16 de-correlated segmentations each contribute
    // chains, and a true mega-clique's members stay one component
    // through edges that all still pass the exact verification below
    // (measured at the 100×-smoke connectivity bar).
    val nseg = greatest(lit(1L), ceil(col("bsz") / lit(ChainSegmentRows.toDouble)).cast("long"))
    val wChain = Window.partitionBy(col("band"), col("bucket"), col("seg"))
      .orderBy(xxhash64(col("band"), col("doc_id")), col("doc_id"))
    val lagged = (0 until 4).foldLeft(
      banded0.where(col("over"))
        .withColumn("seg", pmod(xxhash64(lit(0x5e9), col("band"), col("doc_id")), nseg))
        .withColumn("doc_p", lag(col("doc_id"), 1).over(wChain))
        .withColumn("ksz_p", lag(col("ksz"), 1).over(wChain))) {
      (df, i) => df.withColumn(s"pp_$i", lag(col(s"p_$i"), 1).over(wChain))
    }.where(col("doc_p").isNotNull)
    val candB = lagged
      .where(sizeFeasible(col("ksz"), col("ksz_p")))
      .where(differsMask("p_", "pp_").bitwiseOR(bitwise_not(col("bmask")))
        .bitwiseAND(lit(0xFFFFL)) === lit(0xFFFFL))
      .select(least(col("doc_id"), col("doc_p")).as("doc_a"),
        greatest(col("doc_id"), col("doc_p")).as("doc_b"))
    val cand = candA.unionByName(candB).dropDuplicates("doc_a", "doc_b")
    // Kept sets are collected as xxhash64 LONGS, not shingle strings:
    // the per-pair intersect then runs ArrayIntersect's
    // primitive-specialized codegen (OpenHashSet[Long]) over 8-byte
    // elements instead of generic hashing over ~25-byte UTF8 strings,
    // and the twice-joined set payloads shrink ~8×. Counts — and hence
    // common/un/jaccard — are unchanged: per-doc shingles are distinct
    // (array_distinct at shingling) and a within-pair xxhash64 collision
    // needs ~2⁻⁶⁴·|A∪B|² ≈ 10⁻¹³ — far below the banding scheme's own
    // 2·10⁻⁴ miss rate at J = .8. Measured at the 100× smoke corpus:
    // verification was ~580 s of dd3's 708 s as string intersects
    // (27.1M candidate pairs — a ×100-replica corpus makes nearly every
    // same-clique pair a candidate while kept-set Jaccard sits below
    // .8, so verification dominates end-to-end).
    val keptSets = kept
      .groupBy(col("doc_id"))
      .agg(collect_list(xxhash64(col("sh"))).as("shingles"))
    // Verification is per-CANDIDATE work (orders of magnitude more rows
    // than survivors at replica-heavy corpora), so the hot path stages
    // the cheap integers first: one array_intersect per pair (the old
    // form evaluated it twice — once in the filter, once in the
    // projection), union size by |A|+|B|-common (per-doc kept sets are
    // distinct by construction, so no array_union materialization), and
    // the [[jaccardAtLeast08]] integer filter instead of round()'s
    // per-row BigDecimal (q.v.). round(…,4) is then only computed for
    // the survivors the operator actually emits.
    cand
      .join(keptSets.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(keptSets.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))).cast("long"))
      .withColumn("un", (size(col("sh_a")) + size(col("sh_b"))).cast("long") - col("common"))
      .where(col("common") >= MinJaccardShingles &&
        jaccardAtLeast08(col("common"), col("un")))
      .withColumn("jaccard", round(col("common") / col("un"), 4))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Integer-exact form of `round(common / union, 4) >= 0.8` (HALF_UP,
    * the Spark/DuckDB default): round(x, 4) >= 0.8 ⟺ x >= 0.79995, and
    * for a rational c/u the test c/u >= 15999/20000 is exactly
    * `20000·c >= 15999·u` in long arithmetic. Equivalence with the
    * double path is EXACT, not approximate: any c/u ≠ 15999/20000 with
    * u ≤ 2²⁶ differs from it by ≥ 1/(20000·u) > 7·10⁻¹³, six orders of
    * magnitude beyond the ≤ 1-ulp (~10⁻¹⁶) error of the double division
    * — so both forms classify every feasible pair identically (ties
    * c/u = 0.79995 round HALF_UP to 0.8 and satisfy >=, both forms
    * include them). Exists because Round on DoubleType evaluates through
    * `BigDecimal.valueOf(x)` — a Double.toString + two allocations per
    * row, measured as a top frame in the 100×-smoke dd3 thread dumps
    * when it sat in the per-candidate filter. The emitted `jaccard`
    * COLUMN stays round(…,4) (only computed for survivors), so outputs
    * and the DuckDB oracles are unchanged. */
  private def jaccardAtLeast08(common: Column, union: Column): Column =
    common * 20000L >= union * 15999L

  /** Feasibility of Jaccard ≥ .8 from kept-set SIZES alone: common ≤
    * min(|A|,|B|) and union ≥ max(|A|,|B|), so J ≤ min/max and
    * [[jaccardAtLeast08]] applied to that upper bound is a NECESSARY
    * condition — pairs failing it are dropped at candidate generation
    * with zero output change (the dd3 size gate). */
  private def sizeFeasible(ka: Column, kb: Column): Column =
    least(ka, kb) * 20000L >= greatest(ka, kb) * 15999L

  /** Minimum SHARED discriminative shingles for a dd3/dd4 pair —
    * [[MinContamShingles]]' rationale applied to near-dup scoring: a
    * Jaccard over near-empty kept sets is an all-or-nothing test on
    * coincidence, not evidence of duplication (two docs each keeping ONE
    * shingle, the same one, score J = 1.0). Round-11 measurement at the
    * 20× smoke: of dd4's 17,840 pairs, 8,940 had common = 1 and
    * full-shingle Jaccard ≈ .02 — template docs whose real content was
    * all df-cutoff-dropped — while every real near-dup pair measured
    * common ≥ 8. Three shared 3-shingles ≙ a ≥ 5-token verbatim overlap;
    * the DuckDB oracle mirrors the literal. (This is the residual of the
    * 100×-smoke dd4 degeneration: the corpus-scaled cutoff fixed the
    * wholesale collapse, the common floor removes the per-pair
    * coincidence class at every scale.) */
  val MinJaccardShingles = 3

  /** dd4_ngram_jaccard — exact near-dup pairs by word-3-shingle Jaccard
    * >= 0.8 over discriminative shingles (df ≤ [[shingleDfCap]]), with at
    * least [[MinJaccardShingles]] SHARED shingles (a high Jaccard over a
    * near-empty kept set is coincidence, not duplication — q.v. the
    * constant), via inverted-index join: explode (doc, shingle), drop hot
    * shingles, self-join on shingle, count common shingles per pair,
    * Jaccard from per-doc kept-set sizes. This is the exact ground truth
    * dd3 approximates; the DuckDB oracle mirrors it including the cutoff
    * (literal 100 = the cap at fixture scale, where the relative term
    * never engages) and the common floor (literal 3). */
  def dd4NgramJaccard(s: SparkSession, dir: String): DataFrame =
    dd4FromKept(cachedKeptShingles(s, dir))

  /** dd4 over an arbitrary documents DataFrame (`doc_id`, `text`). */
  def dd4From(docs: DataFrame): DataFrame =
    dd4FromKept(keptShingles(withShingles(docs), shingleDfCap(docs)))

  /** dd4 with an EXPLICIT document count for the df cutoff — bypasses
    * plan statistics (and the statsCache trap) for callers that know the
    * corpus size. */
  def dd4From(docs: DataFrame, nDocs: Long): DataFrame =
    dd4FromKept(keptShingles(withShingles(docs), shingleDfCap(nDocs)))

  private def dd4FromKept(kept: DataFrame): DataFrame =
    jaccardPairs(kept).orderBy(col("doc_a"), col("doc_b"))

  /** dd4's (doc_a, doc_b, jaccard) pairs over a kept-shingle frame, in no
    * particular order — the form for callers that consume the graph
    * rather than return it ([[CorpusPipeline.clean]] persists it for the
    * CC loop, where the public entries' `orderBy` would only add a
    * range-partition sampling job and a sort inside the cached plan). */
  private[operators] def jaccardPairs(kept: DataFrame): DataFrame = {
    val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
    pairs
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("un", col("na") + col("nb") - col("common"))
      // integer pre-filter on every ≥1-shared-shingle pair; round(…,4)
      // only for survivors — see [[jaccardAtLeast08]] for the exact
      // equivalence argument
      .where(col("common") >= MinJaccardShingles &&
        jaccardAtLeast08(col("common"), col("un")))
      .withColumn("jaccard", round(col("common") / col("un"), 4))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** dd5_simhash — 64-bit SimHash per document + near-dup pairs within
    * Hamming distance 3, found via 4x16-bit band buckets (pigeonhole: <=3
    * differing bits leave >=1 of 4 bands identical). Signature built by
    * per-token hash bit-voting via the custom TypedImperativeAggregate
    * [[graft.functions.SimHashAgg]] (one 256-byte vote buffer per group,
    * map-side combined).
    *
    * Scale-hardened like its dd3/ss5 siblings: band buckets larger than
    * [[MaxBucketSize]] switch from the quadratic self-join to linear
    * chain linking (a degenerate chunk — e.g. near-empty docs all voting
    * to 0 — must not go quadratic, but its members with hamming ≤ 3 are
    * genuine sketch positives and keep their connectivity through the
    * chain edges instead of being discarded), and multi-band candidate
    * dedup happens AT the join via the first-colliding-band rule — the
    * bands ARE 16-bit chunks of the signature both sides already carry,
    * so "no earlier band collides" is a handful of codegen'd integer ops
    * on the XOR, replacing a dropDuplicates shuffle of the whole
    * candidate explosion. No oracle (custom sketch): rows-only check. */
  def dd5Simhash(s: SparkSession, dir: String): DataFrame =
    dd5From(Tables.documents(s, dir))

  /** dd5 over an arbitrary documents DataFrame (`doc_id`, `text`). */
  def dd5From(docs: DataFrame): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(docs.sparkSession)
    dd5FromWithCap(docs, MaxBucketSize)
  }

  /** dd5 with an explicit bucket cap (tests exercise tiny caps; the
    * public entry binds [[MaxBucketSize]]). */
  private[operators] def dd5FromWithCap(docs: DataFrame, maxBucket: Int): DataFrame = {
    graft.functions.VectorFunctions.ensureRegistered(docs.sparkSession)
    val tok = docs
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    // single custom sketch aggregate (TypedImperativeAggregate) instead of
    // 64 conditional-sum columns: the shuffle carries one 256-byte vote
    // buffer per doc per partition
    val sig = tok.groupBy(col("doc_id"))
      .agg(graft.functions.VectorFunctions.simhashAgg(col("h")).as("simhash"))
    // each doc's SURVIVING-band mask, computed BEFORE the cap filter so
    // the over-cap chain path sees the full survival map; the
    // first-collision rule below may only consult bands that actually
    // joined. Survival at a COLLIDING band is a property of the shared
    // bucket (equal chunks = same bucket), so one side's mask bit is
    // authoritative for the pair.
    // Over-cap chunk buckets detected by a map-side-combined
    // `groupBy(band, chunk).count()` joined back (the dd3 shape, q.v.):
    // the pre-round-11 `count over (partition by band, chunk)` window
    // put a degenerate chunk's full population on one task just to be
    // counted. The over-cap key set is ≤ rows / maxBucket — AQE
    // broadcasts it; the per-doc bmask window keeps exactly 4 rows per
    // partition (no hot key) and reuses the signature aggregation's
    // doc_id partitioning.
    val preBand = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL)): _*)).as(Seq("band", "chunk")))
    val overChunks = preBand.groupBy(col("band"), col("chunk"))
      .agg(count(lit(1)).as("bsz"))
      .where(col("bsz") > maxBucket)
      .select(col("band"), col("chunk"), lit(true).as("over"))
    val banded0 = preBand
      .join(overChunks, Seq("band", "chunk"), "left_outer")
      .withColumn("over", coalesce(col("over"), lit(false)))
      .withColumn("bmask",
        sum(when(!col("over"),
          expr("shiftleft(CAST(1 AS BIGINT), band)")).otherwise(0L))
          .over(Window.partitionBy(col("doc_id"))))
    val banded = banded0.where(!col("over"))
      .select(col("doc_id"), col("simhash"), col("band"), col("chunk"), col("bmask"))
    val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"),
      col("band"), col("chunk"), col("bmask").as("bmask_a"))
    val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"),
      col("band"), col("chunk"))
    // first-SURVIVING-collision dedup: OR-fold each 16-bit group of the
    // XOR down to its low marker bit (marker set = chunks DIFFER at that
    // band); spread the surviving-band mask to the same marker positions;
    // a kept pair must have every band below the joined one either
    // differ or be cap-excluded — i.e. this is the pair's FIRST band
    // that both collides and survived, so each pair is emitted exactly
    // once and cap exclusion can never veto a later legitimate join
    // (the pre-round-4 dropDuplicates semantics, without the candidate
    // shuffle). Sign-extension from the arithmetic shifts (≤ 8
    // positions) never reaches a marker bit.
    val xorSig = col("sh_a").bitwiseXOR(col("sh_b"))
    val groupBits = lit(0x0001000100010001L)
    val collapsed = Seq(1, 2, 4, 8)
      .foldLeft(xorSig)((acc, sh) => acc.bitwiseOR(shiftright(acc, sh)))
      .bitwiseAND(groupBits)
    val spreadMask = (0 until 4).map(i =>
        shiftleft(shiftright(col("bmask_a"), i).bitwiseAND(1L), i * 16))
      .reduce((x, y) => x.bitwiseOR(y))
    val earlierMask = groupBits.bitwiseAND(
      expr("shiftleft(CAST(1 AS BIGINT), band * 16)") - 1)
    val candA = a.join(b, Seq("band", "chunk")).where(col("doc_a") < col("doc_b"))
      .where(collapsed.bitwiseOR(bitwise_not(spreadMask))
        .bitwiseAND(earlierMask) === earlierMask)
      .withColumn("hamming", bit_count(xorSig))
      .where(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
    // OVER-CAP path: a chunk bucket past the cap is either a mega-group
    // of documents with IDENTICAL SimHash (boilerplate/near-empty docs —
    // the production case) or a degenerate chunk value collecting
    // mutually-dissimilar docs. Discarding it (the pre-round-10
    // behavior) silently dropped every sketch-positive pair those docs
    // had. Unlike dd3 — whose 64-bit band hash makes buckets clique-ish,
    // so hash-order CHAINS verify — a 16-bit chunk bucket's members are
    // NOT mutually similar, so the rescue collapses structure instead:
    // identical-signature groups link to their min-doc representative
    // (hamming-0 star edges, linear), and the bucket's DISTINCT
    // signatures join at rep level, capped at maxBucket distinct sigs
    // (the fan-out the raw cap was actually guarding). Every
    // sketch-positive pair whose shared bucket has ≤ maxBucket distinct
    // sigs is then guaranteed intra-component: member→rep star, rep→rep
    // join, rep→member star. A-membership exclusion is EXACT here: chunk
    // equality is a 16-bit group of the full XOR both sides carry (no
    // truncation), survival at a true collision is shared, and identical
    // sigs share their full bmask — so no anti-join is needed.
    val over = banded0.where(col("over"))
    // Group-level collapse as AGGREGATION, not windows (round-11): one
    // row per (band, chunk, simhash) carrying the min-doc representative
    // and the group's bmask (uniform — identical sigs share every bucket,
    // hence every over flag; min is a reduction of equal values). The
    // pre-round-11 `min over (partition by band, chunk, simhash)` window
    // put a mega identical-sig group's full population on one task; the
    // aggregate is map-side combined.
    val repMap = over.groupBy(col("band"), col("chunk"), col("simhash"))
      .agg(min(col("doc_id")).as("rep"), min(col("bmask")).as("gmask"))
    // B1: hamming-0 stars within each identical-sig group, emitted only
    // when NO band survived the cap (bmask=0 ⟺ the pair is not in A;
    // identical sigs sit in the same bucket at every band, so the whole
    // group shares one bmask). Band 0 suffices: bmask=0 means every band
    // is over-cap and the representative is band-independent, so the
    // per-band emissions the old form dropDuplicates'd are one emission
    // here. Members meet their group rep through a join whose build side
    // is one row per distinct sig — a mega group arrives at the
    // aggregate as partial rows and AQE splits the skewed probe side,
    // mitigations the min-window had no analogue of.
    val stars = over.where(col("bmask") === 0L && col("band") === 0)
      .select(col("doc_id"), col("simhash"))
      .join(repMap.where(col("band") === 0)
        .select(col("simhash"), col("rep")), Seq("simhash"))
      .where(col("doc_id") =!= col("rep"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"),
        lit(0).as("hamming"))
    // B2: distinct signatures join at rep level, capped on the DISTINCT
    // count (a map-side-combined count over repMap; the over-cap key set
    // is tiny — ≤ distinct sigs / maxBucket — and anti-joins back);
    // exclusion from A per pair via the exact chunk/bmask test (all four
    // bands must either differ or be cap-excluded)
    val dszOver = repMap.groupBy(col("band"), col("chunk"))
      .agg(count(lit(1)).as("dsz"))
      .where(col("dsz") > maxBucket)
      .select(col("band"), col("chunk"))
    val reps = repMap.join(dszOver, Seq("band", "chunk"), "left_anti")
    val rl = reps.select(col("rep").as("doc_a"), col("simhash").as("sh_a"),
      col("band"), col("chunk"), col("gmask").as("bmask_a"))
    val rr = reps.select(col("rep").as("doc_b"), col("simhash").as("sh_b"),
      col("band"), col("chunk"))
    val xorR = col("sh_a").bitwiseXOR(col("sh_b"))
    val collapsedR = Seq(1, 2, 4, 8)
      .foldLeft(xorR)((acc, sh) => acc.bitwiseOR(shiftright(acc, sh)))
      .bitwiseAND(groupBits)
    val repPairs = rl.join(rr, Seq("band", "chunk"))
      .where(col("doc_a") < col("doc_b"))
      .where(collapsedR.bitwiseOR(bitwise_not(spreadMask))
        .bitwiseAND(groupBits) === groupBits)
      .withColumn("hamming", bit_count(xorR))
      .where(col("hamming") <= 3)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .dropDuplicates("doc_a", "doc_b")
    candA.unionByName(stars).unionByName(repPairs)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** dd6_cluster — near-dup CLUSTERING: connected components over the
    * exact-Jaccard pair graph (dd4), labeling every document with the
    * smallest doc_id in its component and a keep flag — the "collapse
    * each near-dup cluster to one representative" step of a dedup
    * pipeline. Oracle: DuckDB recursive CTE transitive closure (with the
    * same df cutoff as dd4).
    *
    * The dd4 pair graph is persisted and memoized per (session, dir): a
    * pipeline that runs dd4 then dd6 (or dd6 repeatedly — the CC loop
    * itself would otherwise recompute the inverted-index join once per
    * iteration via lineage) pays for pair enumeration once. Callers with
    * their own edge set use [[dd6ClusterFrom]] directly. */
  def dd6Cluster(s: SparkSession, dir: String): DataFrame =
    dd6ClusterFrom(
      Tables.documents(s, dir).select(col("doc_id")),
      cachedPairGraph(s, dir))

  /** Persisted dd4 pair graph per (session, scale dir) — see
    * [[cachedPairGraph]]. Memo contract: [[SessionDirMemo]]. */
  private val pairGraphs = new SessionDirMemo[DataFrame]

  /** Persisted discriminative-shingle frame per (session, dir): dd3's
    * verification sets, dd4's inverted index and (through dd4) dd6's
    * pair graph all start from the SAME exploded df-cutoff shingles —
    * the window count over `sh` is the single most expensive shared
    * stage, and a pipeline running dd3 -> dd4 -> dd6 was paying it
    * three times through lineage. Memo contract: [[SessionDirMemo]]. */
  private val shingleFrames = new SessionDirMemo[DataFrame]

  /** Sessions that already carry the shutdown-eviction listener: ONE
    * listener per SparkSession however many dirs it clusters (a listener
    * per cache entry accumulated on the bus of a long-lived session). */
  private val evictionHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[SparkSession]()

  /** Register the shutdown-eviction listener at most once per session —
    * the memo's access-time sweep only runs if the memo is consulted
    * again, which a teardown never does. Runs outside any map lock
    * (SessionDirMemo builds outside the bin lock, so the pair-graph
    * build re-entering the shingle memo — and both memos' sweeps — no
    * longer mutate a ConcurrentHashMap from inside its own
    * computeIfAbsent mapping function, which the CHM spec forbids;
    * round-16 review finding). */
  private def hookEviction(s: SparkSession): Unit = {
    evictionHooked.removeIf(_.sparkContext.isStopped)
    if (evictionHooked.add(s)) {
      s.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
            end: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          pairGraphs.evictSession(s)
          shingleFrames.evictSession(s)
          evictionHooked.remove(s)
          ()
        }
      })
    }
  }

  /** Persisted dd4 pair graph, one per (session, scale dir). Bounded: one
    * slim (doc_a, doc_b) frame per fixture dir actually queried. Entries
    * of stopped sessions are evicted on every access (the map must not
    * pin a dead SparkContext or its block metadata). STALENESS contract:
    * the memo assumes `dir` is immutable for the session's lifetime (true
    * for the fixture dirs); after rewriting data in place, call
    * [[invalidate]] (or [[clearCaches]]) before re-clustering. */
  private def cachedPairGraph(s: SparkSession, dir: String): DataFrame = {
    hookEviction(s)
    // the putIfAbsent LOSER's frame is NOT unpersisted: Spark's
    // CacheManager keys on the canonicalized plan, so the loser's
    // persist was a no-op on the winner's shared entry — and an
    // unpersist here would evict that shared entry, leaving the memo
    // holding a permanently-uncached frame (r16 self-review)
    pairGraphs.getOrBuild(s, dir) {
      dd4NgramJaccard(s, dir).select(col("doc_a"), col("doc_b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
  }

  /** Memoized [[keptShingles]] over the fixture documents of `dir` —
    * materialized so the shingle explosion + df-cutoff (a full-text
    * tokenize + one shuffle on `sh`) is computed once per (session,
    * dir) however many of dd3/dd4/dd6 run.
    *
    * Materialized with `localCheckpoint()`, NOT `persist()` (round-16
    * optimization, measured): under AQE, Spark 4.1 wraps every
    * InMemoryTableScan in a `TableCacheQueryStageExec(id, plan)` whose
    * canonicalization — unlike ShuffleQueryStageExec, which carries an
    * explicit `_canonicalized` — includes the stage `id` and the
    * un-normalized `plan`, so two scans of the SAME cache canonicalize
    * DIFFERENTLY and every Exchange above them loses stage reuse
    * (`AdaptiveExecutionContext.stageCache` keys on
    * `Exchange.canonicalized`). Measured on dd3 at sf0.1: the minhash
    * partial-aggregation map stage (cache scan → xxhash64 per shingle →
    * 65-column min agg → 58 MiB exchange) executed SIX times per run —
    * once per self-join side, chain path, and each over-bucket
    * broadcast — ~360 MiB shuffled where ~70 should move. A
    * `localCheckpoint` frame scans as a LogicalRDD leaf, which
    * canonicalizes by RDD identity, so the exchanges above it match and
    * AQE reuses them (probe: self-join over a persisted source = 0
    * reuses, 2× the shuffle; over a checkpointed source = 1 reuse,
    * exactly half the shuffle — OPTIMIZATION_r16.md "Change 1",
    * root cause).
    *
    * The same trap holds for EVERY persisted frame, not just this memo:
    * a plan built over a `persist()`ed source recomputes each exchange
    * above it once per scan. [[CorpusPipeline.clean]] meets it on its
    * persisted `exact` frame, where dd4 over `exact` would run the
    * kept-shingle map stage and its df-cutoff reduce four times per
    * clean; the pipeline persists the kept-shingle frame itself instead
    * (with `persist`, not `localCheckpoint`, so its blocks stay
    * replayable on executor loss).
    *
    * Trade (documented, accepted): checkpoint blocks are
    * NON-REPLAYABLE — on a cluster, losing an executor mid-query fails
    * the query instead of recomputing the lost partitions (local mode:
    * no such executor to lose), and after [[invalidate]] previously
    * returned dd3/dd4/dd6 frames must not be re-collected (their
    * blocks are released; before, they would silently recompute — from
    * a rewritten dir, i.e. wrong data, so the contract was already
    * "don't"). The build runs its job at memo-build time (the cold
    * run pays it — same honesty as the old lazy persist, which the
    * cold run also materialized). A putIfAbsent race loser owns
    * genuinely distinct checkpoint blocks (no shared CacheManager
    * entry), so the loser hook releases them. */
  private def cachedKeptShingles(s: SparkSession, dir: String): DataFrame = {
    hookEviction(s)
    shingleFrames.getOrBuildWith(s, dir) {
      val docs = Tables.documents(s, dir)
      // Width note (round 17, measured): `repartition(col)` lets AQE
      // coalesce the memo to ~4 partitions at sf0.1 (advisory-size
      // coalescing of 26 MB). An explicit conf-width repartition was
      // A/B'd and REJECTED: 32 tiny partitions cost 4-5x the task CPU
      // (dd4 taskCpu 1.7-2.2 s -> 4.8-10.2 s) for no wall gain, and the
      // size-adaptive form is the one that scales — at corpus size the
      // same advisory coalescing yields thousands of partitions.
      keptShingles(withShingles(docs), shingleDfCap(docs))
        .repartition(col("doc_id")).localCheckpoint()
    }(releaseSuperseded)
  }

  /** Drop the memoized pair graph + shingle frame for one data dir (call
    * after rewriting the documents under it). */
  def invalidate(s: SparkSession, dir: String): Unit =
    Seq(pairGraphs.remove(s, dir), shingleFrames.remove(s, dir)).foreach(
      _.foreach(df => if (!s.sparkContext.isStopped) {
        df.unpersist(false)        // persisted entries (pair graph)
        releaseSuperseded(df)      // checkpointed entries (shingle frame)
      }))

  /** Drop all memoized pair graphs and shingle frames (tests / session
    * teardown). */
  def clearCaches(): Unit =
    Seq(pairGraphs, shingleFrames).foreach { memo =>
      memo.foreachEntry { (sess, _, df) =>
        if (!sess.sparkContext.isStopped) {
          try { df.unpersist(false); releaseSuperseded(df) }
          catch { case scala.util.control.NonFatal(_) => }
        }
      }
      memo.clear()
    }

  /** Connected components over an arbitrary precomputed pair graph —
    * callers that already materialized the dd4 pairs (or any other edge
    * set) pass them here so the inverted-index join is not recomputed
    * per clustering run.
    *
    * Implementation is TWO-TIER. Fast path: distributed min-label
    * propagation (the standard large-scale connected-components loop,
    * cf. GraphX/Pregel) — each round joins labels across edges and
    * takes the per-node min; VERIFIED near-dup graphs are clique-ish
    * with tiny diameters, so this converges in 2-3 rounds. Min-label
    * needs O(diameter) rounds, though, and a high-diameter graph is not
    * a pathology here: dd5's sketch output CHAINS transitively (sigs
    * drifting ≤ 3 bits per hop — its 100×-smoke graph exceeded a
    * 50-round budget), and clustering raw sketch edges is a legitimate
    * pipeline. So the loop leaves min-label for star contraction
    * ([[starComponents]] — alternating large-star / small-star,
    * O(log n) rounds regardless of diameter) on the EARLIER of: the
    * per-round changed count stops decaying geometrically after round
    * 3 (a converging clique graph roughly zeroes by then, while a
    * diameter-bound graph re-labels ~one hop of nodes per round — each
    * wasted round is a join+groupBy over the full edge set), or
    * [[FastLabelRounds]] unconverged rounds (the backstop the trend
    * test should normally beat). Callers that KNOW their edges chain —
    * e.g. dd5's sketch output — pass `highDiameterHint = true` to
    * start at star contraction and skip the probe rounds entirely.
    * All paths label every node with its component MINIMUM, so the
    * result (and the DuckDB oracle) is path-independent; which path
    * ran is recorded in [[ccPath]] for specs and smoke logs. */
  def dd6ClusterFrom(docs: DataFrame, pairDf: DataFrame): DataFrame =
    dd6ClusterFrom(docs, pairDf, highDiameterHint = false)

  /** [[dd6ClusterFrom]] with an edge-provenance hint: `true` = the edge
    * set is expected to chain (sketch-derived, e.g. dd5 output) — go
    * straight to star contraction instead of probing with min-label
    * rounds that each cost a full-edge-set join+groupBy. */
  def dd6ClusterFrom(docs: DataFrame, pairDf: DataFrame,
                     highDiameterHint: Boolean): DataFrame = {
    // a caller-persisted edge set stays the caller's to unpersist (the
    // dd6Cluster memo keeps its graph alive across calls)
    val callerOwned =
      pairDf.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val pairs =
      if (callerOwned) pairDf
      else pairDf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val edges = pairs
        .union(pairs.select(pairs.columns(1), pairs.columns(0)))
        .toDF("u", "v")
      var labels: DataFrame = null
      if (highDiameterHint) {
        ccPath.set("star-hint")
        labels = starComponents(edges)
      } else {
        // propagate over EDGE-TOUCHED nodes only: an untouched document
        // is a singleton whose label never changes, so carrying the
        // whole corpus through every iteration's groupBy re-shuffles
        // billions of static rows at 100 TB for nothing — the loop's
        // working set is the (far smaller) node set of the pair graph;
        // untouched docs union back in as singletons at the end.
        //
        // The checkpointed frame backing `labels` (carries the per-round
        // `chg` flag); tracked separately so releaseSuperseded sees the
        // LogicalRDD root, not the slimming Project above it
        var labelsCk: DataFrame = null
        var converged = false
        var stalled = false
        var iters = 0
        var prevChanged = Long.MaxValue
        while (!converged && !stalled && iters < FastLabelRounds) {
          // Round 1 runs straight off the edges: every label still equals
          // its doc_id, so a node's new label is min(itself, neighbors) —
          // one aggregation over the symmetric edge set, whose `u` values
          // ARE the touched nodes (no seed frame, no join). Later rounds
          // carry the old label through the same aggregation as the new
          // one (every doc_id has exactly one `own` row, so
          // min(when(own,label)) IS last round's label), which spares a
          // join(next, labels) per round for the changed count.
          //
          // Each round is TWO SQL executions under AQE: the lazy
          // `localCheckpoint(false)` still plans the adaptive query, which
          // runs every shuffle stage of the round to obtain its final RDD;
          // the changed-count action then runs the round's final stage,
          // which writes the checkpoint blocks, plus its own count
          // aggregation.
          val next = (if (labelsCk == null) edges.groupBy(col("u"))
              .agg(least(col("u"), min(col("v"))).as("label"))
              .select(col("u").as("doc_id"), col("label"), col("u").as("old"))
            else {
              val prop = edges.join(labels, edges("u") === labels("doc_id"))
                .select(col("v").as("doc_id"), col("label"), lit(false).as("own"))
              labels.select(col("doc_id"), col("label"), lit(true).as("own"))
                .union(prop)
                .groupBy(col("doc_id"))
                .agg(min(col("label")).as("label"),
                  min(when(col("own"), col("label"))).as("old"))
            })
            .withColumn("chg", col("label") =!= col("old"))
            .localCheckpoint(false)
          val changed = next.where(col("chg")).count()
          if (labelsCk != null) releaseSuperseded(labelsCk)
          labelsCk = next
          labels = next.select(col("doc_id"), col("label"))
          converged = changed == 0
          iters += 1
          // convergence trend: a clique-ish graph decays geometrically
          // (and has usually converged outright by round 3); a graph
          // still re-labeling more than half of last round's count is
          // diameter-bound — stop paying full-edge-set rounds
          stalled = !converged && iters >= 3 && changed > prevChanged / 2
          prevChanged = changed
        }
        ccPath.set(
          if (converged) s"fast:$iters"
          else if (stalled) s"star-early:$iters" else s"star-budget:$iters")
        // high-diameter graph: the fast path would need O(diameter)
        // rounds — switch to star contraction, O(log² n) rounds always
        if (!converged) { releaseSuperseded(labelsCk); labels = starComponents(edges) }
      }
      // untouched docs are their own singleton components
      val singletons = docs.select(col("doc_id"))
        .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("doc_id").as("label"))
      labels.union(singletons)
        .select(col("doc_id"), col("label").as("cluster_rep"),
          (col("label") === col("doc_id")).as("keep"))
        .orderBy(col("doc_id"))
    } finally if (!callerOwned) { pairs.unpersist(false); () }
  }

  /** Fast-path budget for min-label propagation: verified near-dup
    * graphs (cliques-ish) converge in 2-3 rounds, so 8 unconverged
    * rounds means the graph is high-diameter and [[dd6ClusterFrom]]
    * switches to [[starComponents]] rather than paying O(diameter)
    * rounds (the pre-round-11 code threw here; the dd5∘dd6 composition
    * at the 100× smoke proved high-diameter inputs are a real
    * pipeline, not a pathology). */
  val FastLabelRounds = 8

  /** Diagnostic: which CC path the LAST [[dd6ClusterFrom]] call on this
    * thread took — `fast:N` (min-label converged in N rounds),
    * `star-early:N` (convergence-trend switch after N rounds),
    * `star-budget:N` ([[FastLabelRounds]] exhausted), `star-hint`
    * (caller-asserted high diameter). Thread-local so parallel suites
    * cannot race it; observational only — never read by the operators
    * themselves. */
  private[operators] val ccPath = new ThreadLocal[String]

  /** Default round budget for [[starComponents]]. The PROVEN bound for
    * alternating star contraction is O(log² n) rounds (Kiveris et al.,
    * SoCC'14); the O(log n) convergence real graphs show is empirical.
    * 256 covers the empirical regime with a wide margin (a path graph
    * roughly halves per alternation — see the spec's 2000-node chain);
    * an adversarially structured graph that legitimately needs more
    * passes a bigger budget via the `maxRounds` parameter — hitting
    * the cap raises with that advice rather than claiming a logic
    * bug. */
  val DdMaxIterations = 256

  /** Release the block-manager storage of a `localCheckpoint()`ed frame
    * that has been SUPERSEDED in an iteration loop — its data must
    * never be needed again (a local checkpoint truncates lineage, so an
    * unpersisted snapshot cannot be recomputed; only ever call this on
    * frames no surviving plan references). Releases ONLY when the plan
    * ROOT is the checkpoint scan itself — a deep `collectFirst` (the
    * pre-round-12 form) could reach through a round-0 seed frame into
    * CALLER lineage and unpersist a caller-provided checkpointed edge
    * set that later rounds (and the star fallback) still read, failing
    * with lost-checkpoint-block errors; every frame this loop owns is
    * bound straight off `localCheckpoint()`, so root-match loses
    * nothing. No-op for plans that are not checkpoint scans (e.g. a
    * loop's round-0 seed frame). Exists
    * because the CC loops rebind their iteration frame every round:
    * relying on GC + ContextCleaner to drop old snapshots lets tens of
    * full edge-set copies accumulate in executor storage on exactly the
    * big graphs the loops exist for. The FINAL round's snapshot stays
    * pinned deliberately — it backs the returned frame — and is
    * reclaimed by the ContextCleaner when the result is dropped. */
  private def releaseSuperseded(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false); ()
      case _ => ()
    }

  /** Connected components by ALTERNATING LARGE-STAR / SMALL-STAR
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14): O(log n) rounds regardless of component
    * diameter, each round two map-side-combinable aggregations + two
    * joins over the current edge set — the shape that survives a
    * 100 TB chain graph where per-hop label propagation cannot.
    *
    *   - large-star: every node u computes m = min(u ∪ N(u)) and
    *     re-points its LARGER neighbors at m;
    *   - small-star: u re-points its smaller-or-equal neighbors (and
    *     itself) at m.
    *
    * The component minimum only ever acquires edges, never re-points to
    * anything larger, so the fixed point is a star centered at each
    * component's min — the same labels min-label propagation produces.
    * Edges are kept canonical (lo < hi) and deduplicated per round;
    * convergence = unchanged (count, xor-of-hashes) signature, checked
    * driver-side. Input: symmetric (u, v) edge frame; output:
    * (doc_id, label) for every edge-touched node. */
  private[operators] def starComponents(edges: DataFrame,
                                        maxRounds: Int = DdMaxIterations): DataFrame = {
    def canonical(e: DataFrame): DataFrame = e
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .where(col("u") =!= col("v"))
      .dropDuplicates("u", "v")
    def sym(e: DataFrame): DataFrame =
      e.union(e.select(col("v"), col("u"))).toDF("u", "v")
    def minsOf(s: DataFrame): DataFrame = s.groupBy(col("u"))
      .agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    // LAZY checkpoints throughout (round 17): the per-round action that
    // already scans every partition — count here, the signature agg in
    // the loop — doubles as the checkpoint materialization, so no job
    // only writes checkpoint blocks. Under AQE taking the lazy
    // checkpoint still runs the round's shuffle stages (its own SQL
    // execution); the action runs the final stage after it.
    var cur = canonical(edges).localCheckpoint(false)
    var sig = (cur.count(), 0L)
    var rounds = 0
    var converged = false
    while (!converged && rounds < maxRounds) {
      // pure replacement per the paper: a non-min node u stays
      // connected through the star of any smaller neighbor w (u > w ⟹
      // u ∈ Γ(w) re-points to m(w)), so no anchor edges are needed
      val s1 = sym(cur)
      val large = s1.where(col("v") > col("u")).join(minsOf(s1), "u")
        .select(col("v").as("u"), col("m").as("v"))
      val afterLarge = canonical(large)
      val s2 = sym(afterLarge)
      val m2 = minsOf(s2)
      val small = s2.where(col("v") < col("u")).join(m2, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(m2.select(col("u"), col("m").as("v")))
      val next = canonical(small).localCheckpoint(false)
      // xor-fold, not sum: overflow-free under ANSI; collisions are
      // caught by the exact anti-join confirmation below
      // (the agg action also materializes the lazy checkpoint)
      val nextSig = next.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))"))
        .head() match { case r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long]).getOrElse(0L)) }
      converged = nextSig == (sig._1, sig._2) && {
        // signature equality is necessary; confirm with an exact diff
        // (cheap at the fixed point — both sides are the same size)
        next.join(cur, Seq("u", "v"), "left_anti").isEmpty
      }
      sig = (nextSig._1, nextSig._2)
      releaseSuperseded(cur) // the anti-join above was its last consumer
      cur = next
      rounds += 1
    }
    if (!converged) throw new IllegalStateException(
      s"star contraction did not converge in $maxRounds rounds; the " +
        "proven bound is O(log² n) — every measured graph converges in " +
        "O(log n), but an adversarially structured input can need more: " +
        "call starComponents with a larger maxRounds budget")
    // fixed point: (min, member) star edges; centers label themselves
    cur.select(col("v").as("doc_id"), col("u").as("label"))
      .union(cur.select(col("u").as("doc_id"), col("u").as("label")))
      .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
  }

  /** User-facing pipeline op: the deduplicated corpus — documents with
    * near-dup clusters (dd6 components) collapsed to their smallest-id
    * representative. This is the operator a training-data pipeline
    * actually calls; dd1-dd6 are its building blocks. */
  def keepRepresentatives(s: SparkSession, dir: String): DataFrame = {
    val reps = dd6Cluster(s, dir).where(col("keep")).select(col("doc_id"))
    Tables.documents(s, dir).join(reps, Seq("doc_id"), "left_semi")
  }

  /** dd7_semantic_cluster — SEMANTIC (embedding-based) dedup clustering:
    * connected components over the exact embedding-cosine near-dup graph
    * (ss3, cos >= 0.45), labeling every vector with its component's
    * smallest vec_id plus a keep flag — the "drop semantically redundant
    * documents" step of a training pipeline, where dd6 is its lexical
    * twin. Deliberately composes [[dd6ClusterFrom]] with a DIFFERENT
    * edge set: the CC engine is edge-source-agnostic, so any pair
    * generator (lexical Jaccard, embedding cosine, SimHash) feeds the
    * same clustering. The edge source is scale-adaptive
    * ([[Similarity.semanticEdges]]): the exact block-pair scan
    * (hash-oracled) below the exact-scan byte cap, tiered-LSH candidates
    * verified by exact cosine above it — so the operator neither melts a
    * cluster at 100 TB nor loses oracle exactness at fixture scale.
    * Oracle: DuckDB recursive CTE closure over the mirrored ss3 pairs. */
  def dd7SemanticCluster(s: SparkSession, dir: String): DataFrame =
    dd7SemanticClusterFrom(s, Tables.embeddings(s, dir))

  /** dd7 over an arbitrary embedding DataFrame (`vec_id`, `embedding`). */
  def dd7SemanticClusterFrom(s: SparkSession, e: DataFrame): DataFrame =
    dd6ClusterFrom(
      e.select(col("vec_id").as("doc_id")),
      Similarity.semanticEdges(e).select(col("vec_a"), col("vec_b")))
      .select(col("doc_id").as("vec_id"), col("cluster_rep"), col("keep"))
      .orderBy(col("vec_id"))

  /** Contamination threshold: a corpus document sharing at least this
    * many distinct word-3-shingles with the benchmark set is flagged
    * (3 shingles ≙ a ≥5-token verbatim overlap — one idiom can collide,
    * a reused sentence can't). */
  val MinContamShingles = 3

  /** dd8_decontaminate — benchmark DECONTAMINATION: flag corpus
    * documents that share ≥ [[MinContamShingles]] distinct 3-shingles
    * with a held-out benchmark/eval set — the "remove test-set
    * contamination before training" step of an LLM data pipeline
    * (dedup's cross-corpus twin: dd4 compares the corpus to itself,
    * dd8 compares it to a reference set). The fixture benchmark is
    * `doc_id % 50 == 0`; production passes any benchmark DataFrame to
    * [[decontaminateFrom]]. Exact and oracled — NO df cutoff here,
    * completeness against the benchmark is the operator's contract. */
  def dd8Decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    decontaminateFrom(
      docs.where(col("doc_id") % 50 =!= 0),
      docs.where(col("doc_id") % 50 === 0))
  }

  /** Contamination scan of `corpus` against `benchmark` (both `doc_id`,
    * `text`): (doc_id, n_shared) for every corpus doc meeting
    * `minShared`.
    *
    * Scale design: benchmark suites are tiny next to a training corpus
    * (thousands of docs vs billions), so the DISTINCT benchmark shingle
    * set is broadcast and the corpus streams through ONE hash join keyed
    * on the shingle — the corpus is never shuffled; the per-doc
    * aggregation keys on doc_id with map-side combine. Shingles are
    * per-doc distinct (array_distinct in the shingler), so a plain
    * count of join hits IS the distinct shared-shingle count. */
  /** Byte cap on the benchmark side of [[decontaminateFrom]]: its
    * distinct shingle set is broadcast, so the input must actually be
    * benchmark-suite-sized — 128 MB of estimated text (shingles expand
    * ~3×, still well inside a driver/executor broadcast) covers any
    * real eval suite. Corpus-vs-corpus overlap at scale is dd4's
    * inverted-index join, not a broadcast. */
  val MaxBenchmarkBytes: Long = 128L << 20

  /** Row cap for the benchmark fallback probe: without CBO a Filter
    * inherits its CHILD's byte estimate, so a benchmark carved out of a
    * large corpus (the fixture's `doc_id % 50 == 0`) is estimated at
    * full-corpus size and the byte guard alone would spuriously fail
    * once the corpus tops ~128 MB. When bytes over-estimate, a BOUNDED
    * `limit(cap+1).count()` probe settles it — the scan short-circuits
    * at cap+1 rows, so the probe is benchmark-sized even on a 100 TB
    * corpus. 200k docs × ~2 KB ≈ 400 MB of text upper-bounds any real
    * eval suite and still broadcasts as a distinct shingle set. */
  val MaxBenchmarkRows: Long = 200000L

  def decontaminateFrom(corpus: DataFrame, benchmark: DataFrame,
                        minShared: Int = MinContamShingles): DataFrame =
    decontaminateFromWithCaps(corpus, benchmark, minShared,
      MaxBenchmarkBytes, MaxBenchmarkRows)

  private[operators] def decontaminateFromWithCaps(
      corpus: DataFrame, benchmark: DataFrame, minShared: Int,
      maxBytes: Long, maxRows: Long): DataFrame = {
    // cheap no-job byte check first; only an over-estimate pays the
    // bounded counting probe (construction stays job-free in the common
    // benchmark-read-from-its-own-small-source case)
    val est = benchmark.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est > maxBytes) {
      val probed = benchmark.limit((maxRows + 1).toInt).count()
      require(probed <= maxRows,
        s"decontaminateFrom benchmark side: > $maxRows rows — too " +
          "large to broadcast as a shingle set; for corpus-vs-corpus " +
          "overlap use the dd4 inverted-index join")
    }
    val corpusSh = withShingles(corpus)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val benchSh = broadcast(
      withShingles(benchmark).select(explode(col("shingles")).as("sh")).distinct())
    corpusSh.join(benchSh, "sh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dd1_exact" -> (dd1Exact _),
    "dd2_hash" -> (dd2Hash _),
    "dd3_minhash_lsh" -> (dd3MinhashLsh _),
    "dd4_ngram_jaccard" -> (dd4NgramJaccard _),
    "dd5_simhash" -> (dd5Simhash _),
    "dd6_cluster" -> (dd6Cluster _),
    "dd7_semantic_cluster" -> (dd7SemanticCluster _),
    "dd8_decontaminate" -> (dd8Decontaminate _),
  )

  /** Shared oracle CTE: exploded discriminative shingles — the DuckDB
    * mirror of [[keptShingles]]. The cutoff literal 100 is
    * [[shingleDfCap]] at fixture scale (≤ 100k docs, where the relative
    * 0.1 % term never exceeds the [[MaxShingleDf]] floor). */
  private val keptCte =
    """toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                     FOR i IN range(1, greatest(len(t) - 1, 2))])) AS sh
        FROM toks),
      kept AS (
        SELECT doc_id, sh FROM (
          SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM sh)
        WHERE df <= 100),
      sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
      cnt AS (
        SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        FROM kept x JOIN kept y ON x.sh = y.sh AND x.doc_id < y.doc_id
        GROUP BY 1, 2),
      prs AS (
        SELECT doc_a, doc_b,
               round(common * 1.0 / (sa.n + sb.n - common), 4) AS jaccard
        FROM cnt
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(common * 1.0 / (sa.n + sb.n - common), 4) >= 0.8
          AND common >= 3)"""

  val oracle: Map[String, String] = Map(
    "dd1_exact" ->
      """SELECT min(doc_id) AS rep_doc_id, count(*) AS n_copies,
              CAST(length(text) AS INTEGER) AS len
       FROM documents GROUP BY text ORDER BY rep_doc_id""",
    "dd2_hash" ->
      """SELECT doc_id, sha256(text) AS content_hash,
              row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1 AS keep
       FROM documents ORDER BY doc_id""",
    // dd3_minhash_lsh: approximate recall — no oracle (rows-only).
    "dd4_ngram_jaccard" ->
      s"""WITH $keptCte
       SELECT doc_a, doc_b, jaccard FROM prs ORDER BY doc_a, doc_b""",
    // dd5_simhash: custom sketch — no oracle (rows-only).
    "dd6_cluster" ->
      s"""WITH RECURSIVE $keptCte,
      edges AS (
        SELECT doc_a AS u, doc_b AS v FROM prs
        UNION ALL SELECT doc_b, doc_a FROM prs),
      reach AS (
        SELECT doc_id AS u, doc_id AS v FROM documents
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       SELECT u AS doc_id, min(v) AS cluster_rep, min(v) = u AS keep
       FROM reach GROUP BY u ORDER BY doc_id""",
    // dd8: same shingling as dd4's CTE, WITHOUT the df cutoff (exact
    // contamination contract); benchmark = doc_id % 50 == 0.
    "dd8_decontaminate" ->
      """WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      sh AS (
        SELECT doc_id,
               unnest(list_distinct([array_to_string(t[i:i+2], ' ')
                                     FOR i IN range(1, greatest(len(t) - 1, 2))])) AS sh
        FROM toks),
      bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
      corpus AS (SELECT doc_id, sh FROM sh WHERE doc_id % 50 <> 0)
       SELECT c.doc_id, count(*) AS n_shared
       FROM corpus c JOIN bench b USING (sh)
       GROUP BY 1 HAVING count(*) >= 3 ORDER BY doc_id""",
    // dd7: same recursive closure over the ss3 (embedding cosine) edges.
    "dd7_semantic_cluster" ->
      s"""WITH RECURSIVE prs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE round(${Similarity.duckCos}, 3) >= 0.45),
      edges AS (
        SELECT vec_a AS u, vec_b AS v FROM prs
        UNION ALL SELECT vec_b, vec_a FROM prs),
      reach AS (
        SELECT vec_id AS u, vec_id AS v FROM embeddings
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u)
       SELECT u AS vec_id, min(v) AS cluster_rep, min(v) = u AS keep
       FROM reach GROUP BY u ORDER BY vec_id""",
  )
}
