package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** The user-facing corpus-cleaning pipeline — the composition a
  * training-data job actually runs, built from the engine's operators in
  * the canonical order (cheap exact passes first so the expensive
  * near-dup join sees the smallest possible corpus):
  *
  *   1. exact dedupe on content hash (dd2 rule: first doc_id wins);
  *   2. near-dup clustering over the surviving docs (dd4 pair graph →
  *      dd6 connected components), keeping each cluster's representative;
  *   3. quality floor (ta2's composite score);
  *   4. optional language allow-list (ta3's detector).
  *
  * Each stage is one of the verified operators, so the pipeline inherits
  * their scale shapes (hash-key shuffles, df-capped inverted index,
  * bucket joins); nothing here adds a new shuffle. Returns the cleaned
  * corpus plus a per-stage row-count audit — the numbers a data lead
  * asks for first.
  *
  * Shared work is persisted explicitly, never left to exchange reuse:
  * every scan of a persisted frame is its own `TableCacheQueryStageExec`
  * under AQE, and those canonicalize by stage id, so no exchange above
  * the persisted `exact` frame is ever reused (the trap documented at
  * `Dedup.cachedKeptShingles`). A pair graph built straight over
  * `exact` (public `dd4From`) would run the whole kept-shingle pipeline
  * — tokenize, 3-shingle, explode, df-cutoff aggregate — once per scan
  * of the shingle frame, four times per clean; the near-dup step
  * therefore builds the kept-shingle frame once, persists it, and drops
  * it as soon as the representatives are materialized. */
object CorpusPipeline {

  final case class Stats(input: Long, afterExact: Long, afterNearDup: Long,
                         afterQuality: Long, afterLang: Long)

  private val Disk = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

  /** Returns the cleaned corpus (persisted and already materialized — the
    * caller unpersists when done) plus per-stage counts. Input needs only
    * (`doc_id`, `text`); the language gate uses the DETECTED language, so
    * no claimed-`lang` column is required. */
  def clean(docs: DataFrame,
            minQuality: Double = 0.5,
            langs: Option[Set[String]] = None): (DataFrame, Stats) = {
    val input = docs.count()

    // 1. exact: first doc_id per sha256 survives (dd2's keep rule)
    val exact = Dedup.dd2From(docs)
      .where(col("keep")).drop("content_hash", "keep")
      .persist(Disk)
    val nExact = exact.count()

    // 2. near-dup: cluster the survivors, keep representatives. The df
    // cutoff takes the explicit count: nExact is already in hand, and the
    // plan-statistics route would re-trip the statsCache trap on the
    // freshly-persisted `exact` frame. The kept-shingle frame is persisted
    // because the pair graph scans it four times (both self-join sides,
    // and the per-doc sizes joined onto each end of a pair) — see the
    // header for why that reuse cannot come from AQE.
    val kept = Dedup.keptShingles(Dedup.withShingles(exact), Dedup.shingleDfCap(nExact))
      .persist(Disk)
    val clusters = Dedup.dd6ClusterFrom(
      exact.select(col("doc_id")),
      Dedup.jaccardPairs(kept).select(col("doc_a"), col("doc_b")))
    val reps = exact.join(
      clusters.where(col("keep")).select(col("doc_id")), Seq("doc_id"), "left_semi")
      .persist(Disk)
    val nNearDup = reps.count()
    kept.unpersist(false)

    // 3. quality floor — ta2's composite score, same rounding, so a
    // threshold means the same thing in analysis and filtering. Persisted
    // BEFORE counting: with no language gate this frame IS the result
    // (counting an unpersisted frame here scored quality over the whole
    // corpus twice), and with one it feeds both the detector and the
    // semi-join below.
    val qualified = reps.where(TextAnalysis.qualityScore(col("text")) >= minQuality)
      .persist(Disk)
    val nQuality = qualified.count()

    // 4. optional language allow-list via the ta3 detector (no claimed
    // lang needed)
    val (cleaned, nLang) = langs match {
      case None => (qualified, nQuality)
      case Some(allowed) =>
        val detected = TextAnalysis.detectLang(qualified)
          .where(col("detected_lang").isin(allowed.toSeq: _*))
          .select(col("doc_id"))
        val gated = qualified.join(detected, Seq("doc_id"), "left_semi")
          .persist(Disk)
        val n = gated.count()       // materialize before dropping the stage
        qualified.unpersist(false)
        (gated, n)
    }
    exact.unpersist(false) // upstream cached stages are dropped
    reps.unpersist(false)

    (cleaned, Stats(input, nExact, nNearDup, nQuality, nLang))
  }

  /** Deterministic split assignment by a content-independent hash of the
    * stable id: the first 4 hex chars of md5(id) partition the 16-bit
    * hex space by STRING ranges — "e666" ≈ 90%, "f333" ≈ +5%, rest test.
    * Pure per-row codegen: no shuffle, no RNG state, no sampling seed to
    * version. The SAME document lands in the SAME split on any engine,
    * at any parallelism, forever — the reproducibility property held-out
    * splits need and `df.sample()`/`randomSplit()` (partition-layout-
    * dependent) cannot give. Lexicographic hex comparison is
    * engine-independent, so DuckDB mirrors it exactly. */
  def hashSplit(df: DataFrame, idCol: String = "doc_id",
                trainUpper: String = "e666", valUpper: String = "f333"): DataFrame = {
    // md5 output is LOWERCASE hex; an uppercase or short bound would pass
    // a bare ordering check yet compare garbage against every hash (e.g.
    // "E666" sorts below all digit-leading hashes -> ~62/0/38 split, no
    // error), so the shape is validated, not just the order
    val hex4 = "^[0-9a-f]{4}$"
    require(trainUpper.matches(hex4) && valUpper.matches(hex4),
      s"split boundaries must be 4-char lowercase hex, got '$trainUpper'/'$valUpper'")
    require(trainUpper < valUpper, "train boundary must precede val boundary")
    val hx = substring(md5(col(idCol).cast("string")), 1, 4)
    df.withColumn("split",
      when(hx < trainUpper, "train").when(hx < valUpper, "val").otherwise("test"))
  }

  /** cp1_hash_split — the split assignment as a checkable query:
    * (doc_id, split) for every document, 90/5/5. */
  def cp1HashSplit(s: SparkSession, dir: String): DataFrame =
    hashSplit(Tables.documents(s, dir))
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))

  /** Deterministic stratified sampling: keep a row iff the first 4 hex
    * chars of md5(salt:id) fall below the stratum's rate threshold
    * (rate x 16^4, zero-padded hex — lexicographic compare is
    * engine-independent, same trick as [[hashSplit]]). The canonical
    * source-rebalancing pass of a training-data mix: downweight
    * overrepresented strata at an EXACT per-stratum rate, reproducibly —
    * same kept set on any engine, at any parallelism, no RNG seed to
    * version, unlike `df.sample()`. Pure per-row codegen, no shuffle. */
  def stratifiedSample(df: DataFrame, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       idCol: String = "doc_id", salt: String = "cp2"): DataFrame = {
    def hex(rate: Double): String = {
      require(rate >= 0 && rate <= 1, s"rate out of [0,1]: $rate")
      // rate 1.0 must keep EVERY row: clamping to "ffff" with a strict <
      // would silently drop the ~1/65536 of ids hashing exactly "ffff".
      // "g" sorts after every 4-hex-char string, so it's an always-true
      // threshold (same lexicographic trick as the ranges themselves).
      if (rate >= 1.0) "g" else f"${(rate * 65536).toLong}%04x"
    }
    val hx = substring(md5(concat(lit(s"$salt:"), col(idCol).cast("string"))), 1, 4)
    val threshold = rates.toSeq.sortBy(_._1).foldRight(lit(hex(defaultRate))) {
      case ((stratum, rate), els) => when(col(strataCol) === stratum, hex(rate)).otherwise(els)
    }
    df.where(hx < threshold)
  }

  /** cp2_stratified_sample — keep 50% of the even-numbered sources and
    * 12.5% of the rest; (doc_id, source) of the kept set. */
  def cp2StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val heavy = (0 until 20 by 2).map(i => s"src$i" -> 0.5).toMap
    stratifiedSample(Tables.documents(s, dir), "source", heavy, defaultRate = 0.125)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** GPT-style sequence packing: concatenate documents in deterministic
    * order and cut every `capacity` tokens, so no training batch pads.
    * Emits, per document, the pack it starts in and its token offset
    * there (a doc crossing a boundary spills into the next pack —
    * standard pretraining chunking, not bin packing).
    *
    * The running token count is a window cumsum PARTITIONED BY a hash
    * shard of the id — a global ordering would serialize 100 TB through
    * one partition; sharding bounds each window at corpus/16^shardChars
    * and keeps packs reproducible (shard and order are content-hash
    * derived, engine- and parallelism-independent). At production scale
    * raise `shardChars` to 3-4 (4096-65536 windows). */
  def packSequences(df: DataFrame, capacity: Int = 256, shardChars: Int = 1,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(capacity > 0 && shardChars >= 1 && shardChars <= 8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Long.MinValue, -1)
    df.withColumn("shard", substring(md5(col(idCol).cast("string")), 1, shardChars))
      .withColumn("n_tok", size(split(col(textCol), " ")))
      .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("pack_no", floor(col("cum_before") / capacity).cast("long"))
      .withColumn("pack_offset", (col("cum_before") % capacity).cast("long"))
  }

  /** cp3_pack_sequences — the packing assignment as a checkable query:
    * every document's shard, token count, pack number, and offset. */
  def cp3PackSequences(s: SparkSession, dir: String): DataFrame =
    packSequences(Tables.documents(s, dir))
      .select(col("doc_id"), col("shard"), col("n_tok"), col("pack_no"), col("pack_offset"))
      .orderBy(col("doc_id"))

  /** Epoch-weight sanity bound for [[epochMix]] (a weight IS the per-doc
    * copy count, so values beyond real training practice are typos). */
  val MaxEpochWeight = 100.0

  /** Deterministic epoch mixing: materialize a training mix where stratum
    * s is repeated `weights(s)` epochs (fractional allowed — "2.5 epochs
    * of wiki, 0.25 of crawl"). Each doc emits copies 1..ceil(w); integer
    * copies always survive, the one fractional copy survives iff a
    * per-(copy, id) hash falls under frac(w) — so the realized rate is
    * EXACTLY w in expectation, reproducible on any engine, and nested the
    * same way as [[stratifiedSample]] (which this generalizes to w > 1).
    * Explode factor is ceil(w) — bounded by [[MaxEpochWeight]], per-row
    * codegen, no shuffle. */
  def epochMix(df: DataFrame, strataCol: String,
               weights: Map[String, Double], defaultWeight: Double,
               idCol: String = "doc_id", salt: String = "cp4"): DataFrame = {
    // explode factor is ceil(w) PER ROW — an unchecked weight (250 typed
    // for 2.50) would materialize a 250× corpus with no warning. Mirror
    // stratifiedSample's rate range check with a generous epoch cap.
    (weights.values.toSeq :+ defaultWeight).foreach(w =>
      require(w >= 0 && w <= MaxEpochWeight,
        s"epoch weight $w outside [0, $MaxEpochWeight] — weights are " +
          "epochs (copies per document), not percentages"))
    def hexFrac(w: Double): String =
      f"${math.min(((w - math.floor(w)) * 65536).toLong, 65535L)}%04x"
    def pick[T](f: Double => T, toCol: T => Column, default: Double): Column =
      weights.toSeq.sortBy(_._1).foldRight(toCol(f(default))) { case ((stratum, w), els) =>
        when(col(strataCol) === stratum, toCol(f(w))).otherwise(els)
      }
    val nCopies  = pick[Int](w => math.ceil(w).toInt, lit(_: Int), defaultWeight)
    val intPart  = pick[Int](w => math.floor(w).toInt, lit(_: Int), defaultWeight)
    val fracHex  = pick[String](hexFrac, lit(_: String), defaultWeight)
    val hx = substring(md5(concat(
      lit(s"$salt:"), col("copy").cast("string"), lit(":"), col(idCol).cast("string"))), 1, 4)
    // greatest(..,1): sequence(1,0) would DESCEND [1,0]; a weight-0
    // stratum instead emits copy 1 and the where-clause drops it.
    df.withColumn("copy", explode(sequence(lit(1), greatest(nCopies, lit(1)))))
      .where(col("copy") <= intPart || hx < fracHex)
  }

  /** cp4_epoch_mix — the mix as a checkable query: 2.5 epochs of src0,
    * 0.25 of src1, 1.75 of src2, 1.0 of everything else. */
  def cp4EpochMix(s: SparkSession, dir: String): DataFrame =
    epochMix(Tables.documents(s, dir), "source",
             Map("src0" -> 2.5, "src1" -> 0.25, "src2" -> 1.75), defaultWeight = 1.0)
      .select(col("doc_id"), col("source"), col("copy"))
      .orderBy(col("doc_id"), col("copy"))

  /** Deterministic per-stratum quota cap: keep at most `cap` rows per
    * stratum, chosen by salted-md5 rank (content hash, not arrival
    * order) with the id as tiebreaker — the per-domain cap every
    * web-corpus pipeline applies so no single domain dominates the mix.
    * Unlike rate-based [[stratifiedSample]] the bound is an absolute
    * COUNT, so a 10-billion-page domain and a 10-page domain both land
    * at ≤ cap. One row_number window partitioned by the stratum — the
    * same shuffle any per-domain op pays; for a pathologically hot
    * domain, pre-cap per (stratum, hash-shard) with this same function
    * first, then cap the survivors (composition preserves determinism).
    *
    * Id contract (same as [[hashSplit]]/[[stratifiedSample]]): `idCol`
    * should be unique and non-null. Duplicate ids keep the KEPT ID SET
    * deterministic but make which physical duplicate survives
    * arbitrary; null ids hash to null and sort LAST (nulls-last, so
    * they never steal quota from hashable rows — note cp2 drops them
    * outright, since null < threshold is null). */
  def sourceCap(df: DataFrame, strataCol: String, cap: Int,
                idCol: String = "doc_id", salt: String = "cp5"): DataFrame = {
    require(cap >= 1, s"sourceCap: cap must be >= 1, got $cap")
    require(!df.columns.contains("cp5_hx") && !df.columns.contains("cp5_rank"),
      "sourceCap: input already has a cp5_hx/cp5_rank column — rename it first")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(col("cp5_hx").asc_nulls_last, col(idCol).asc_nulls_last)
    df.withColumn("cp5_hx", md5(concat(lit(s"$salt:"), col(idCol).cast("string"))))
      .withColumn("cp5_rank", row_number().over(w))
      .where(col("cp5_rank") <= cap)
      .drop("cp5_hx", "cp5_rank")
  }

  /** cp5_source_cap — at most 15 documents per source (fixture sources
    * hold 25 each, so the cap genuinely bites); (doc_id, source) of the
    * kept set. */
  def cp5SourceCap(s: SparkSession, dir: String): DataFrame =
    sourceCap(Tables.documents(s, dir), "source", cap = 15)
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cp1_hash_split" -> (cp1HashSplit _),
    "cp2_stratified_sample" -> (cp2StratifiedSample _),
    "cp3_pack_sequences" -> (cp3PackSequences _),
    "cp4_epoch_mix" -> (cp4EpochMix _),
    "cp5_source_cap" -> (cp5SourceCap _),
  )

  val oracle: Map[String, String] = Map(
    "cp5_source_cap" ->
      """SELECT doc_id, source FROM (
        SELECT doc_id, source,
               row_number() OVER (PARTITION BY source
                 ORDER BY md5('cp5:' || CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents)
       WHERE rk <= 15 ORDER BY doc_id""",
    "cp1_hash_split" ->
      """SELECT doc_id,
            CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'e666' THEN 'train'
                 WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < 'f333' THEN 'val'
                 ELSE 'test' END AS split
       FROM documents ORDER BY doc_id""",
    "cp2_stratified_sample" ->
      """SELECT doc_id, source FROM documents
       WHERE substr(md5('cp2:' || CAST(doc_id AS VARCHAR)), 1, 4) <
             CASE WHEN source IN ('src0','src2','src4','src6','src8','src10',
                                  'src12','src14','src16','src18')
                  THEN '8000' ELSE '2000' END
       ORDER BY doc_id""",
    "cp3_pack_sequences" ->
      """WITH t AS (
        SELECT doc_id, substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
               CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tok
        FROM documents),
      c AS (
        SELECT doc_id, shard, n_tok,
               CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        FROM t)
       SELECT doc_id, shard, n_tok,
            CAST(floor(cum_before * 1.0 / 256) AS BIGINT) AS pack_no,
            CAST(cum_before % 256 AS BIGINT) AS pack_offset
       FROM c ORDER BY doc_id""",
    "cp4_epoch_mix" ->
      """WITH w AS (
        SELECT doc_id, source,
               CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 1
                           WHEN 'src2' THEN 2 ELSE 1 END AS n_copies,
               CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0
                           WHEN 'src2' THEN 1 ELSE 1 END AS int_part,
               CASE source WHEN 'src0' THEN '8000' WHEN 'src1' THEN '4000'
                           WHEN 'src2' THEN 'c000' ELSE '0000' END AS frac_hex
        FROM documents),
      e AS (
        SELECT doc_id, source, int_part, frac_hex,
               CAST(unnest(range(1, greatest(n_copies, 1) + 1)) AS INTEGER) AS copy
        FROM w)
       SELECT doc_id, source, copy FROM e
       WHERE copy <= int_part
          OR substr(md5('cp4:' || CAST(copy AS VARCHAR) || ':' ||
                        CAST(doc_id AS VARCHAR)), 1, 4) < frac_hex
       ORDER BY doc_id, copy""",
  )
}
