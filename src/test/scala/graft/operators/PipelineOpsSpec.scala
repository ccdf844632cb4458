package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** Invariants for the round-5 pipeline operators: repetition filters
  * (ta7), PII scrub (ta8), stratified sampling (cp2), sequence packing
  * (cp3). The DuckDB oracle checks value parity; these check the
  * SEMANTIC contracts — scrubbing leaves no residue, sampling nests
  * across rates, packing replays as a greedy cumsum. */
class PipelineOpsSpec extends AnyFunSuite with GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  test("ta7: exact scores on a hand-built repetitive doc, zeros on a distinct one") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),            // bigrams: ab,ba,ab,ba,ab -> top "a b" x3
      (2L, "w x y z q r s t u v"),    // all bigrams distinct, no dup 5-grams
      (3L, "c d e c d e c d e c d e") // 5-grams repeat -> dup5 > 0
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ta7RepetitionFrom(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(2) == 3)                            // top2_count
    assert(math.abs(out(1L).getDouble(3) - 9.0 / 11) < 5e-5)  // 3 x len("a b") / 11
    assert(out(2L).getInt(2) == 1)
    assert(out(2L).getDouble(4) == 0.0)                       // no duplicate 5-grams
    assert(out(3L).getDouble(4) > 0.5, "heavily looped doc must flag dup5")
  }

  test("ta8: every seeded PII instance is found and nothing survives the scrub") {
    val out = TextAnalysis.ta8PiiScrub(spark, dir).cache()
    val n = out.count()
    assert(n > 0)
    assert(out.where(col("n_emails") < 1 || col("n_phones") < 1 || col("n_ips") < 1).count() == 0)
    val residue = out.where(
      col("scrubbed").rlike(TextAnalysis.EmailRe) ||
      col("scrubbed").rlike(TextAnalysis.PhoneRe) ||
      col("scrubbed").rlike(TextAnalysis.IpRe)).count()
    assert(residue == 0, "scrubbed text must match none of the PII patterns")
    assert(out.where(!col("scrubbed").contains("<EMAIL>")).count() == 0)
    out.unpersist()
  }

  test("ta9: rare tokens score high rare_frac, common tokens zero; counts exact") {
    import spark.implicits._
    // "the" dominates the corpus; qq/zz/xx appear once each (< 1/1000 of
    // 3000+ total tokens), so doc 2 is pure rare and doc 1 pure common
    val filler = (1 to 300).map(i => (100L + i, Seq.fill(10)("the").mkString(" ")))
    val docs = (Seq((1L, "the the the the"), (2L, "qq zz xx")) ++ filler)
      .toDF("doc_id", "text")
    val out = TextAnalysis.ta9LmScoreFrom(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 4 && out(1L).getDouble(4) == 0.0)
    assert(out(2L).getLong(1) == 3 && out(2L).getDouble(4) == 1.0)
    assert(out(2L).getLong(2) == 3, "each rare token contributes corpus frequency 1")
    assert(out(1L).getDouble(3) > 1000, "common doc's mean corpus frequency is the filler count")
  }

  test("cp2: deterministic across runs and nested across rates") {
    val docs = graft.tables.Tables.documents(spark, dir)
    def keep(rate: Double): Set[Long] =
      CorpusPipeline.stratifiedSample(docs, "source", Map.empty, defaultRate = rate)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val lo = keep(0.125)
    assert(lo == keep(0.125), "same rate must keep the identical set")
    assert(lo.subsetOf(keep(0.5)), "hash-threshold samples must nest as the rate grows")
    val n = docs.count()
    assert(lo.size < n * 0.3 && keep(0.5).size > n * 0.3, "rates must actually thin the corpus")
    // per-stratum override really applies: rate-0 strata vanish
    val none = CorpusPipeline.stratifiedSample(
      docs, "source", Map("src0" -> 0.0), defaultRate = 1.0)
    assert(none.where(col("source") === "src0").count() == 0)
    assert(none.where(col("source") =!= "src0").count() == docs.where(col("source") =!= "src0").count())
  }

  test("cp5: quota respected per stratum, kept set monotone in the cap") {
    val docs = graft.tables.Tables.documents(spark, dir)
    def keep(cap: Int): Set[Long] =
      CorpusPipeline.sourceCap(docs, "source", cap)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // cap respected for every stratum, at several caps
    for (cap <- Seq(1, 7, 15)) {
      val sizes = CorpusPipeline.sourceCap(docs, "source", cap)
        .groupBy("source").count().collect().map(_.getLong(1))
      assert(sizes.forall(_ <= cap), s"cap $cap violated: ${sizes.max}")
    }
    // the salted-md5 rank is cap-independent, so raising a quota only
    // ADDS documents — the reproducible-corpus-growth property (cp2's
    // nesting, in count form)
    assert(keep(1).subsetOf(keep(7)) && keep(7).subsetOf(keep(15)),
      "kept sets must nest as the cap grows")
    assert(keep(7) == keep(7), "same cap must keep the identical set")
    // fixture strata hold 25 docs each: cap 15 genuinely bites
    assert(keep(15).size == 20 * 15)
  }

  test("cp4: integer epochs exact, fractional epochs thin deterministically, weight 0 vanishes") {
    val docs = graft.tables.Tables.documents(spark, dir)
    val n = docs.count()
    def mix(w: Map[String, Double], default: Double) =
      CorpusPipeline.epochMix(docs, "source", w, default)
    // integer weight: every doc exactly w times
    assert(mix(Map.empty, 2.0).count() == 2 * n)
    // weight 0: stratum vanishes entirely (sequence guard path)
    val zeroed = mix(Map("src0" -> 0.0), 1.0)
    assert(zeroed.where(col("source") === "src0").count() == 0)
    assert(zeroed.count() == docs.where(col("source") =!= "src0").count())
    // fractional: count strictly between floor and ceil epochs, deterministic
    val half = mix(Map.empty, 1.5)
    val c = half.count()
    assert(c > n && c < 2 * n, s"1.5 epochs must land strictly between n and 2n: $c vs $n")
    assert(c == mix(Map.empty, 1.5).count(), "same weights must produce the identical mix")
    // copy 1 of an integer-surviving stratum is the corpus itself
    assert(half.where(col("copy") === 1).count() == n)
    // a typo'd percentage-as-weight must be rejected, not exploded 250×
    intercept[IllegalArgumentException] { mix(Map("src0" -> 250.0), 1.0) }
    intercept[IllegalArgumentException] { mix(Map.empty, -0.5) }
  }

  test("cp3: packing replays as a per-shard greedy cumsum; offsets stay under capacity") {
    val cap = 256
    val out = CorpusPipeline.packSequences(
      graft.tables.Tables.documents(spark, dir), capacity = cap)
      .select("doc_id", "shard", "n_tok", "cum_before", "pack_no", "pack_offset")
      .collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(5) < cap && r.getLong(5) >= 0)
      assert(r.getLong(4) == r.getLong(3) / cap, "pack_no must be cum_before div capacity")
    }
    // replay: within each shard, ordered by doc_id, cum_before is the
    // running sum of the preceding docs' token counts
    out.groupBy(_.getString(1)).foreach { case (_, rows) =>
      var run = 0L
      rows.sortBy(_.getLong(0)).foreach { r =>
        assert(r.getLong(3) == run, s"cum_before mismatch at doc ${r.getLong(0)}")
        run += r.getInt(2)
      }
    }
  }
}
