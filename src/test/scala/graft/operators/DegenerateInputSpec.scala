package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** Degenerate-text robustness: NULL text, empty strings, whitespace-only
  * and single-token documents through every operator that accepts an
  * arbitrary documents frame. The fixtures contain none of these shapes
  * (so the DuckDB oracles never see them), but a 100 TB crawl corpus
  * absolutely does — and the dd2 NULL-text regression (round-11 review)
  * showed this class can silently slip through spec coverage: ANSI mode
  * (Spark 4 default) turns sloppy arithmetic into task kills, NULL keys
  * fall out of equi-joins, and empty token arrays make zero-length
  * divisors. Every assertion here documents the intended semantics:
  * NULL text groups as ONE dup group, produces no shingles/tokens (out
  * of near-dup scope), detects as "und", scores NULL quality (dropped
  * by any quality floor), and never kills a task. */
class DegenerateInputSpec extends AnyFunSuite with GraftSuite {

  override def afterAll(): Unit = {
    Dedup.clearCaches()
    super.afterAll()
  }

  /** 0,1 NULL · 2,3 empty · 4 single-token · 5 whitespace-only ·
    * 6 all-stopwords · 7,8 identical normal text · 9 unicode (zh). */
  private def corpus = {
    val rows = Seq[(Long, String)](
      0L -> null, 1L -> null,
      2L -> "", 3L -> "",
      4L -> "solo",
      5L -> "   ",
      6L -> "the the the the the",
      7L -> "the quick brown fox jumps over the lazy dog",
      8L -> "the quick brown fox jumps over the lazy dog",
      9L -> "的 是 了 我 在 好")
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("dd2: NULL and empty texts each form ONE dup group; first id wins") {
    val keep = Dedup.dd2From(corpus).select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(keep.size == 10, "every doc must appear exactly once")
    assert(keep(0L) && !keep(1L), "NULL-text docs are one group, min id kept")
    assert(keep(2L) && !keep(3L), "empty-text docs are one group, min id kept")
    assert(keep(7L) && !keep(8L))
    assert(Seq(4L, 5L, 6L, 9L).forall(keep), "singletons all keep")
  }

  test("dd4/dd3: degenerate docs never pair (shingle floor); identical text does") {
    // NULL text explodes to no shingles; empty docs share only the ""
    // shingle (common=1 < MinJaccardShingles); the identical 9-token
    // pair shares 7 shingles and must survive both the exact and the
    // LSH operator
    val dd4 = Dedup.dd4From(corpus).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dd4 == Set((7L, 8L)), s"exact pairs: $dd4")
    val dd3 = Dedup.dd3From(corpus).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dd3 == Set((7L, 8L)), s"lsh pairs: $dd3")
    // a corpus that is ENTIRELY banding-ineligible (every kept set
    // under the MinJaccardShingles floor) must yield an empty frame,
    // not a crash — the kept-sig aggregation then bands zero rows
    val ineligible = corpus.where(col("doc_id") =!= 7L && col("doc_id") =!= 8L)
    assert(Dedup.dd3From(ineligible).count() == 0L, "all-ineligible corpus must be empty")
    assert(Dedup.dd4From(ineligible).count() == 0L)
  }

  test("dd5: NULL-text docs are out of sketch scope; identical text is hamming 0") {
    val rows = Dedup.dd5From(corpus).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val prs = rows.map(t => (t._1, t._2)).toSet
    assert(rows.length == prs.size, "no duplicate pairs")
    assert(prs.contains((7L, 8L)), "identical docs must sketch-collide")
    assert(rows.forall(_._3 <= 3))
    assert(!rows.exists(t => t._1 <= 1L || t._2 <= 1L),
      "NULL-text docs have no tokens, hence no signature, hence no pairs")
  }

  test("language detection: NULL/empty -> und, real profiles still win") {
    val det = TextAnalysis.detectLang(corpus).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(det(0L) == "und" && det(2L) == "und" && det(5L) == "und")
    assert(det(7L) == "en", "stopword-bearing English text")
    assert(det(9L) == "zh", "unicode markers")
  }

  test("ta7 repetition: every doc gets a row; empty/NULL score NULL fractions, no ANSI kill") {
    val rows = TextAnalysis.ta7RepetitionFrom(corpus).collect()
    assert(rows.length == 10, "one row per doc, degenerate or not")
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).isNullAt(3), "zero-length text divides to NULL, not DIVIDE_BY_ZERO")
    assert(!byId(7L).isNullAt(3), "normal docs still score")
  }

  test("ta9 LM score: NULL-text docs drop out; token stats survive empties") {
    val rows = TextAnalysis.ta9LmScoreFrom(corpus).collect()
    val ids = rows.map(_.getLong(0)).toSet
    assert(!ids.contains(0L) && !ids.contains(1L),
      "no tokens -> no LM row (same contract as the shingle ops)")
    assert(ids.contains(7L) && ids.contains(2L))
  }

  test("quality floor + clean(): NULL quality filters out, stats stay monotone") {
    val q = corpus.select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("q")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(q(0L).isEmpty, "NULL text scores NULL quality")
    assert(q(7L).exists(_ >= 0.5))
    val (cleaned, stats) = CorpusPipeline.clean(corpus, minQuality = 0.5)
    try {
      assert(stats.input == 10)
      assert(stats.input >= stats.afterExact &&
        stats.afterExact >= stats.afterNearDup &&
        stats.afterNearDup >= stats.afterQuality &&
        stats.afterQuality >= stats.afterLang, s"non-monotone: $stats")
      val out = cleaned.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(!out.contains(0L) && !out.contains(1L),
        "NULL-text docs must not survive a quality floor")
      assert(!out.contains(8L), "near-dup of 7 collapsed to its representative")
      assert(out.contains(7L))
    } finally { cleaned.unpersist(false); () }
  }

  test("decontamination: degenerate corpus against a real benchmark doc") {
    val bench = corpus.where(col("doc_id") === 7L)
    val rest = corpus.where(col("doc_id") =!= 7L)
    val flagged = Dedup.decontaminateFrom(rest, bench).collect()
      .map(r => r.getLong(0)).toSet
    assert(flagged == Set(8L),
      s"only the verbatim copy shares >= 3 benchmark shingles: $flagged")
  }

  test("hashSplit: total and deterministic over degenerate rows") {
    val out = CorpusPipeline.hashSplit(corpus).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(out.length == 10 && out.forall(kv => Set("train", "val", "test")(kv._2)))
    val again = CorpusPipeline.hashSplit(corpus).select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(out.sorted.sameElements(again.sorted), "split assignment must be stable")
  }

  test("hashSplit rejects malformed bounds loudly (md5 hex is lowercase)") {
    // "E666" < "F333" passes a bare ordering check but compares garbage
    // against lowercase md5 output (~62/0/38 split, silently)
    intercept[IllegalArgumentException] {
      CorpusPipeline.hashSplit(corpus, trainUpper = "E666", valUpper = "F333")
    }
    intercept[IllegalArgumentException] {
      CorpusPipeline.hashSplit(corpus, trainUpper = "e66", valUpper = "f333")
    }
    intercept[IllegalArgumentException] {
      CorpusPipeline.hashSplit(corpus, trainUpper = "f333", valUpper = "e666")
    }
  }

  test("weightedMean: null rows skip, non-finite poisons to NaN, never a task kill") {
    import spark.implicits._
    import graft.functions.Aggregators.weightedMean
    def agg(rows: Seq[(Option[Double], Option[Double])]): Double =
      rows.toDF("v", "w").agg(weightedMean(col("v"), col("w")).as("m"))
        .head().getDouble(0)
    assert(agg(Seq(Some(2.0) -> Some(1.0), Some(4.0) -> Some(3.0))) == 3.5)
    // NULL value or weight skips the row (avg()'s rule) — previously an
    // encoder/NumberFormat task kill
    assert(agg(Seq(Some(2.0) -> Some(1.0), None -> Some(5.0),
      Some(9.0) -> None, Some(4.0) -> Some(3.0))) == 3.5)
    // non-finite input poisons the aggregate to NaN instead of throwing
    // NumberFormatException from BigDecimal
    assert(agg(Seq(Some(Double.NaN) -> Some(1.0), Some(2.0) -> Some(1.0))).isNaN)
    assert(agg(Seq(Some(2.0) -> Some(Double.PositiveInfinity),
      Some(2.0) -> Some(1.0))).isNaN)
    // zero weight mass (all rows skipped) is NaN, not a divide error
    assert(agg(Seq(None -> Some(1.0))).isNaN)
  }
}
