package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** Cross-operator semantic invariants the DuckDB oracle can't express:
  * the approximate operators against their exact twins, cluster
  * consistency, and the end-user dedup op. */
class OperatorSemanticsSpec extends AnyFunSuite with GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = {
    Dedup.clearCaches() // drop the memoized pair graph before session stop
    super.afterAll()
  }

  private def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
    df.select(a, b).collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("MinHash LSH (dd3) finds a subset of the exact pairs (dd4), with high recall") {
    val approx = pairs(Dedup.dd3MinhashLsh(spark, dir), "doc_a", "doc_b")
    val exact = pairs(Dedup.dd4NgramJaccard(spark, dir), "doc_a", "doc_b")
    assert(approx.subsetOf(exact), "LSH must never invent pairs (it verifies with exact Jaccard)")
    assert(exact.nonEmpty)
    // 16x4 banding at threshold .8 -> expected recall ~.9998
    assert(approx.size >= (exact.size * 0.9).toInt,
      s"recall too low: ${approx.size}/${exact.size}")
  }

  /** The pre-round-5 dd3 shape — banded join + candidate `.distinct()` +
    * exact-Jaccard verification — rebuilt inline as the naive reference
    * for the join-time first-collision dedup, with an explicit cap. */
  private def dd3Naive(cap: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val docs = graft.tables.Tables.documents(spark, dir)
    val shingled = docs.withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", array_distinct(expr(
        "transform(sequence(1, greatest(size(toks) - 2, 1)), i -> concat_ws(' ', slice(toks, i, 3)))")))
      .select(col("doc_id"), col("shingles"))
    val exploded = shingled.select(col("doc_id"), explode(col("shingles")).as("sh"))
      .select(col("doc_id"), xxhash64(col("sh")).as("h"))
    val mins = (0 until 64).map(i => min(xxhash64(lit(i), col("h"))).as(s"sig_$i"))
    val sigs = exploded.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandsArr = array((0 until 16).map { bnd =>
      xxhash64((lit(bnd) +: (0 until 4).map(r => col(s"sig_${bnd * 4 + r}"))): _*)
    }: _*)
    val banded = sigs.withColumn("bands", bandsArr)
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "bucket")))
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("band"), col("bucket"))))
      .where(col("bsz") <= cap)
      .select(col("doc_id"), col("band"), col("bucket"))
    val cand = banded.as("a").join(banded.as("b"), Seq("band", "bucket"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val kept = shingled.select(col("doc_id"), explode(col("shingles")).as("sh"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .where(col("df") <= Dedup.MaxShingleDf)
      .groupBy(col("doc_id")).agg(collect_list(col("sh")).as("shingles"))
    cand
      .join(kept.select(col("doc_id").as("doc_a"), col("shingles").as("sh_a")), "doc_a")
      .join(kept.select(col("doc_id").as("doc_b"), col("shingles").as("sh_b")), "doc_b")
      .withColumn("jaccard", round(
        size(array_intersect(col("sh_a"), col("sh_b"))) /
          size(array_union(col("sh_a"), col("sh_b"))), 4))
      .where(col("jaccard") >= 0.8 &&
        size(array_intersect(col("sh_a"), col("sh_b"))) >= Dedup.MinJaccardShingles)
      .select(col("doc_a"), col("doc_b"))
  }

  test("dd3 join-time first-collision dedup reproduces the naive distinct pair set") {
    val expected = pairs(dd3Naive(Dedup.MaxBucketSize), "doc_a", "doc_b")
    val got = Dedup.dd3MinhashLsh(spark, dir)
    val gotPairs = pairs(got, "doc_a", "doc_b")
    assert(gotPairs == expected,
      s"first-collision dedup changed the dd3 pair set: " +
        s"missing ${expected -- gotPairs}, extra ${gotPairs -- expected}")
    assert(got.count() == gotPairs.size, "duplicate pairs escaped the join-time dedup")
  }

  test("dd3 with an ACTIVE bucket cap: self-join pairs preserved, over-cap cliques chained") {
    // cap=2 forces band buckets over the cap on the real fixture. The
    // A path (under-cap self-join) must still produce exactly the
    // capped naive set — pairs whose FIRST colliding band is
    // cap-excluded surface via a later surviving band (the bmask
    // veto-lift). The B path (over-cap chain linking) may ADD pairs,
    // but only verified banded ones (⊆ the uncapped naive set), never
    // duplicates, and it must RECONNECT what the cap hides: every
    // uncapped-naive pair must land in one connected component of the
    // emitted edge set (connectivity is dd3's over-cap contract — the
    // dd6/dd7 consumers need components, not C(M,2) enumeration).
    val cap = 2
    val docs = graft.tables.Tables.documents(spark, dir)
    val underCap = pairs(dd3Naive(cap), "doc_a", "doc_b")
    val uncapped = pairs(dd3Naive(Int.MaxValue), "doc_a", "doc_b")
    val capped = Dedup.dd3FromWithCap(docs, cap)
    val got = pairs(capped, "doc_a", "doc_b")
    assert(underCap.subsetOf(got),
      s"chain path lost under-cap self-join pairs: missing ${underCap -- got}")
    assert(got.subsetOf(uncapped),
      s"chain path invented pairs outside the banded+verified set: ${got -- uncapped}")
    assert(capped.count() == got.size, "duplicate pairs escaped the A/B candidate dedup")
    // connectivity: union-find over the emitted edges, then check every
    // uncapped pair is intra-component
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    got.foreach { case (a, b) => parent(find(a)) = find(b) }
    val disconnected = uncapped.filterNot { case (a, b) => find(a) == find(b) }
    assert(disconnected.isEmpty,
      s"over-cap chain linking failed to reconnect: $disconnected")
  }

  test("ANN candidates (ss2 LSH, ss4 IVF) are subsets of the exact pair set (ss3)") {
    val exact = pairs(Similarity.ss3EmbeddingNeardup(spark, dir)
      .where("cos >= 0.45"), "vec_a", "vec_b")
    val lsh = pairs(Similarity.ss2AnnLsh(spark, dir).where("cos >= 0.45"), "vec_a", "vec_b")
    val ivfDf = Similarity.ss4AnnIvf(spark, dir)
    val ivfRows = ivfDf.count()
    val ivf = pairs(ivfDf.where("cos >= 0.45"), "vec_a", "vec_b")
    assert(lsh.subsetOf(exact) && ivf.subsetOf(exact))
    // the asymmetric join's reverse-existence rule must keep exactly one
    // row per unordered pair — both directions existing is the common
    // case (shared primary cell) and must not double-emit
    assert(ivfRows == pairs(ivfDf, "vec_a", "vec_b").size,
      "duplicate pairs escaped the asymmetric IVF join-time dedup")
  }

  test("dd5 join-time first-collision dedup reproduces the naive distinct pair set") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // naive reference form: band join + dropDuplicates + Hamming filter
    // (the pre-round-4 shape, minus the bucket cap — inactive here)
    val sig = graft.tables.Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy(col("doc_id"))
      .agg(graft.functions.VectorFunctions.simhashAgg(col("h")).as("simhash"))
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL)): _*)).as(Seq("band", "chunk")))
    val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"),
      col("band"), col("chunk"))
    val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"),
      col("band"), col("chunk"))
    val naive = a.join(b, Seq("band", "chunk")).where(col("doc_a") < col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .where(col("hamming") <= 3)
    val expected = pairs(naive, "doc_a", "doc_b")
    val got = Dedup.dd5Simhash(spark, dir)
    val gotPairs = pairs(got, "doc_a", "doc_b")
    assert(gotPairs == expected, "first-collision dedup changed the dd5 pair set")
    // and the first-collision rule emits each pair exactly once
    assert(got.count() == gotPairs.size, "duplicate pairs escaped the join-time dedup")
  }

  test("lshNeardupPairs ⊆ exact pairs, no duplicates, identical cosines") {
    import org.apache.spark.sql.functions._
    val e = graft.tables.Tables.embeddings(spark, dir)
    val lsh = Similarity.lshNeardupPairs(e, 0.45)
    val exact = Similarity.ss3EmbeddingNeardup(spark, dir)
    val lshMap = lsh.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exactMap = exact.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.count() == lshMap.size, "duplicate pairs escaped the join-time dedup")
    assert(lshMap.keySet.subsetOf(exactMap.keySet), "LSH must never invent pairs")
    lshMap.foreach { case (k, c) => assert(exactMap(k) == c, s"cosine drift on $k") }
    assert(exactMap.nonEmpty)
    info(s"lshNeardupPairs recall vs exact: ${lshMap.size}/${exactMap.size}")
  }

  test("lshNeardupPairs emits no duplicate pairs at the 12-bit tier (lane packing)") {
    import org.apache.spark.sql.functions._
    // 20k vectors written to parquet so plan statistics select the
    // middle PairLshTiers entry (4 tables x 12 bits): ids 10000+ are
    // tiny perturbations of ids 0+, i.e. near-identical pairs that
    // collide in EVERY table — exactly where a first-collision rule
    // with a fold that overreads its 12-bit group would emit twice.
    val tmp = java.nio.file.Files.createTempDirectory("lsh12").toString
    try {
      val base = spark.range(10000).select(col("id").as("vec_id"),
        expr("transform(sequence(0,63), j -> CAST(sin(CAST(id*64+j AS DOUBLE)) AS FLOAT))")
          .as("embedding"))
      val near = spark.range(10000).select((col("id") + 10000).as("vec_id"),
        expr("transform(sequence(0,63), j -> CAST(sin(CAST(id*64+j AS DOUBLE)) + 0.001 AS FLOAT))")
          .as("embedding"))
      base.union(near).write.mode("overwrite").parquet(tmp)
      val e = spark.read.parquet(tmp)
      // the test must actually sit in the 12-bit tier — recompute the
      // estimator's inputs so fixture-size drift fails loudly
      val estRows = (e.queryExecution.optimizedPlan.stats.sizeInBytes / 300).toLong
      assert(estRows >= 16000 && estRows < 2000000,
        s"estimated $estRows rows misses the 12-bit tier; resize the fixture")
      val out = Similarity.lshNeardupPairs(e, 0.9)
      val n = out.count()
      val distinctN = out.select("vec_a", "vec_b").distinct().count()
      assert(n == distinctN, s"join-time dedup emitted ${n - distinctN} duplicate pairs")
      assert(n >= 9000, s"only $n of ~10000 planted near-identical pairs found")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
  }

  test("dd5 with an ACTIVE bucket cap: self-join pairs preserved, over-cap buckets rep-linked") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // cap=2 forces band buckets of size > 2 over the cap on the real
    // fixture. The A path must still produce exactly the capped naive
    // set (pairs whose FIRST colliding band is cap-excluded surface via
    // a later surviving band); the over-cap chain path may ADD pairs,
    // but only true sketch positives (hamming <= 3 — by pigeonhole, the
    // uncapped naive set), never duplicates, and the chains must
    // reconnect every uncapped pair into one component.
    val cap = 2
    def naiveAt(c: Int) = {
      val sig = graft.tables.Tables.documents(spark, dir)
        .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
        .withColumn("h", xxhash64(col("tok")))
        .groupBy(col("doc_id"))
        .agg(graft.functions.VectorFunctions.simhashAgg(col("h")).as("simhash"))
      val banded = sig.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until 4).map(i =>
          shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL)): _*)).as(Seq("band", "chunk")))
        .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("band"), col("chunk"))))
        .where(col("bsz") <= c)
      val a = banded.select(col("doc_id").as("doc_a"), col("simhash").as("sh_a"),
        col("band"), col("chunk"))
      val b = banded.select(col("doc_id").as("doc_b"), col("simhash").as("sh_b"),
        col("band"), col("chunk"))
      a.join(b, Seq("band", "chunk")).where(col("doc_a") < col("doc_b"))
        .dropDuplicates("doc_a", "doc_b")
        .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
        .where(col("hamming") <= 3)
    }
    val underCap = pairs(naiveAt(cap), "doc_a", "doc_b")
    val uncapped = pairs(naiveAt(Int.MaxValue), "doc_a", "doc_b")
    val capped = Dedup.dd5FromWithCap(graft.tables.Tables.documents(spark, dir), cap)
    val got = pairs(capped, "doc_a", "doc_b")
    assert(underCap.subsetOf(got),
      s"over-cap path lost under-cap self-join pairs: missing ${underCap -- got}")
    assert(got.subsetOf(uncapped),
      s"over-cap path invented non-sketch-positive pairs: ${got -- uncapped}")
    assert(capped.count() == got.size, "duplicate pairs escaped the A/B candidate dedup")
    // connectivity contract: a sketch-positive pair is GUARANTEED
    // intra-component iff it shares >= 1 band whose bucket is under the
    // raw cap (A path) or holds <= cap DISTINCT sigs (rep join); pairs
    // only reachable through buckets degenerate in BOTH senses may drop
    val sigRows = graft.tables.Tables.documents(spark, dir)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.explode(array_distinct(split(col("text"), " "))).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy(col("doc_id"))
      .agg(graft.functions.VectorFunctions.simhashAgg(col("h")).as("simhash"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val sigOf = sigRows.toMap
    val raw = scala.collection.mutable.Map[(Int, Long), Int]().withDefaultValue(0)
    val dsig = scala.collection.mutable.Map[(Int, Long), Set[Long]]().withDefaultValue(Set.empty)
    for ((_, sh) <- sigRows; band <- 0 until 4) {
      val k = (band, (sh >>> (band * 16)) & 0xFFFFL)
      raw(k) += 1; dsig(k) = dsig(k) + sh
    }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    got.foreach { case (x, y) => parent(find(x)) = find(y) }
    val guaranteed = uncapped.filter { case (x, y) =>
      (0 until 4).exists { band =>
        val cx = (sigOf(x) >>> (band * 16)) & 0xFFFFL
        val cy = (sigOf(y) >>> (band * 16)) & 0xFFFFL
        cx == cy && {
          val k = (band, cx)
          raw(k) <= cap || dsig(k).size <= cap
        }
      }
    }
    val disconnected = guaranteed.filterNot { case (x, y) => find(x) == find(y) }
    assert(disconnected.isEmpty,
      s"over-cap rep linking failed to reconnect guaranteed pairs: $disconnected")
  }

  test("agg+join hot-key forms are bit-identical to the window forms under skew") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // Adversarial corpus for the round-11 no-partial-agg rework: one
    // boilerplate shingle in EVERY doc (df far over the cutoff), a
    // 300-copy identical-text mega-group (one content_hash, over the
    // 200 bucket cap — the dd5 component assertion below depends on
    // the group being OVER-cap), plus the
    // real fixture docs for ordinary structure. The reworked operators
    // (groupBy-aggregate + join-back) must reproduce the old window
    // forms row for row.
    val base = graft.tables.Tables.documents(spark, dir)
      .select(col("doc_id"), concat(col("text"), lit(" common boiler plate tail")).as("text"))
    val mega = spark.range(300)
      .select((col("id") + 500000).as("doc_id"),
        lit("identical mega group document common boiler plate tail").as("text"))
    val corpus = base.union(mega)

    // dd2: keep = min-doc-per-hash (agg+join) vs row_number window
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    val winDd2 = corpus.withColumn("content_hash", sha2(col("text"), 256))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("content_hash"), col("keep"))
    val newDd2 = Dedup.dd2From(corpus)
      .select(col("doc_id"), col("content_hash"), col("keep"))
    assert(newDd2.collect().toSet == winDd2.collect().toSet,
      "dd2 agg+join keep rule diverged from the row_number window form")

    // dd4 (through keptShingles' df cutoff): anti-join form vs window form
    val shingled = corpus.withColumn("toks", split(col("text"), " "))
      .withColumn("shingles", array_distinct(expr(
        "transform(sequence(1, greatest(size(toks) - 2, 1)), i -> concat_ws(' ', slice(toks, i, 3)))")))
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val winKept = shingled
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("sh"))))
      .where(col("df") <= Dedup.MaxShingleDf)
      .select(col("doc_id"), col("sh"))
    val sizes = winKept.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val winDd4 = winKept.as("x").join(winKept.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard", round(col("common") / (col("na") + col("nb") - col("common")), 4))
      .where(col("jaccard") >= 0.8 && col("common") >= Dedup.MinJaccardShingles)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    def rows3(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the boilerplate shingle is in all ~620 docs — far over the cap, so
    // the cutoff is ACTIVE in this comparison; the mega group's shingles
    // are all over the cap too (300 > 100), so its docs have empty kept
    // sets under both forms
    assert(rows3(Dedup.dd4From(corpus)) == rows3(winDd4),
      "dd4 over anti-join keptShingles diverged from the df-window form")

    // dd3/dd5 over the same skewed corpus: over-cap flags via agg+join
    // must keep the operator contracts (subset of exact, no duplicates);
    // their full pair-set equivalence vs the naive window forms is
    // covered by the fixture tests above
    val dd3 = Dedup.dd3From(corpus)
    val dd3Pairs = pairs(dd3, "doc_a", "doc_b")
    assert(dd3.count() == dd3Pairs.size, "dd3 emitted duplicates under skew")
    assert(dd3Pairs.subsetOf(rows3(winDd4).map(t => (t._1, t._2))),
      "dd3 invented pairs under skew")
    val dd5 = Dedup.dd5From(corpus)
    assert(dd5.count() == pairs(dd5, "doc_a", "doc_b").size,
      "dd5 emitted duplicates under skew")
    // the 300-copy mega group (over the 200 bucket cap) must stay one dd5 component
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs(dd5, "doc_a", "doc_b").foreach { case (x, y) => parent(find(x)) = find(y) }
    val megaIds = (0 until 300).map(i => 500000L + i)
    assert(megaIds.map(find).toSet.size == 1,
      "dd5 mega identical-sig group fragmented under the agg+join rework")
  }

  test("dd3 size gate: verification-dead docs leave the pair set unchanged") {
    import org.apache.spark.sql.functions._
    // The size gate drops docs with < MinJaccardShingles kept shingles
    // BEFORE banding and size-infeasible pairs AT the join — both exact
    // implications of the verification predicate, so flooding the
    // corpus with gate-ineligible docs must not move dd3's output:
    //   - 150 verbatim copies of one text → every shingle df=150 > the
    //     100 cutoff → kept sets EMPTY (the mega-bucket chain case);
    //   - 200 near-empty two-token docs → ksz = 1 < 3 (the degenerate
    //     bucket case).
    // Both classes previously flowed through banding/chains and died at
    // verification; now they never band. Output equality proves the
    // shortcut is semantics-free.
    val base = graft.tables.Tables.documents(spark, dir).select("doc_id", "text")
    val mega = spark.range(150).select((col("id") + 700000).as("doc_id"),
      lit("verbatim gate mega copy body repeated every time identical").as("text"))
    val tiny = spark.range(200).select((col("id") + 800000).as("doc_id"),
      concat(lit("zz t"), col("id")).as("text"))
    val basePairs = pairs(Dedup.dd3From(base), "doc_a", "doc_b")
    val gotPairs = pairs(Dedup.dd3From(base.union(mega).union(tiny)), "doc_a", "doc_b")
    assert(gotPairs == basePairs,
      s"gate-ineligible docs changed the dd3 pair set: " +
        s"missing ${basePairs -- gotPairs}, extra ${gotPairs -- basePairs}")
  }

  test("dd3 banding is blind to hot boilerplate: full recall where raw-set sigs diverge") {
    import org.apache.spark.sql.functions._
    // The alignment property of kept-set signatures (minhashSigsKept):
    // near-dup pairs whose KEPT sets match but whose RAW shingle sets
    // diverge on df-cutoff boilerplate must still band. Corpus: 300
    // pairs (a_i, b_i) sharing identical unique 12-token content, a_i
    // carrying hot tail X and b_i hot tail Y (each tail df = 300 > the
    // 100 cutoff, so both are cut). Kept Jaccard = 1.0 → every pair
    // verifies in dd4 AND must band in dd3. (Kept sets aren't quite
    // identical: the two shingles bridging the content→tail boundary
    // are df=1 and kept, so kept J = (n-2)/(n+2) for n content tokens —
    // n = 22 puts it at 20/24 ≈ .833 ≥ .8.) Under the pre-round-11
    // full-raw-set signatures the raw Jaccard was ~.45 (the differing
    // tails stay in the sets), banding probability ~.5/pair — a form
    // regression re-introducing raw-set signatures fails this
    // assertion with overwhelming margin (deterministic hashes, fixed
    // corpus).
    val tailX = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val tailY = "one two three four five six seven eight nine ten eleven twelve"
    val content = (i: org.apache.spark.sql.Column) => concat_ws(" ",
      lit("body"), i, lit("first"), i, lit("second"), i, lit("third"), i,
      lit("fourth"), i, lit("fifth"), i, lit("sixth"), i, lit("seventh"), i,
      lit("eighth"), i, lit("ninth"), i, lit("tenth"), i)
    val aSide = spark.range(300).select((col("id") + 900000).as("doc_id"),
      concat(content(col("id")), lit(" " + tailX)).as("text"))
    val bSide = spark.range(300).select((col("id") + 950000).as("doc_id"),
      concat(content(col("id")), lit(" " + tailY)).as("text"))
    val corpus = aSide.union(bSide)
    val dd3P = pairs(Dedup.dd3From(corpus), "doc_a", "doc_b")
    val dd4P = pairs(Dedup.dd4From(corpus), "doc_a", "doc_b")
    val expected = (0L until 300L).map(i => (900000L + i, 950000L + i)).toSet
    assert(dd4P == expected, s"dd4 ground truth off: ${dd4P.size} pairs")
    assert(dd3P == dd4P,
      s"dd3 missed ${(dd4P -- dd3P).size} of ${dd4P.size} boilerplate-divergent pairs")
  }

  test("dd2 dedups NULL-text documents like the window form (null-safe join)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // sha2(NULL) is NULL; the replaced row_number window grouped all
    // NULL-text docs into one partition and kept only the first. The
    // agg+join form must reproduce that through a NULL-SAFE join — a
    // plain equi-join matches nothing on a NULL key and silently keeps
    // every NULL-text doc.
    val docs = spark.range(10).select(col("id").as("doc_id"),
      when(col("id") < 3, lit(null).cast("string"))        // 3 NULL texts
        .when(col("id") < 6, lit("dup body"))              // 3 dups
        .otherwise(concat(lit("unique "), col("id")))      // 4 unique
        .as("text"))
    val got = Dedup.dd2From(docs)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(0L) && !got(1L) && !got(2L),
      "only the first NULL-text doc may survive")
    assert(got(3L) && !got(4L) && !got(5L))
    assert((6L to 9L).forall(got), "unique docs all keep")
    // and bit-identity with the window form on the same input
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    val win = docs.withColumn("content_hash", sha2(col("text"), 256))
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == win, "null-safe agg+join diverged from the window form")
  }

  test("keptShingles honors non-bigint doc_id via cast / anti-join routes") {
    import org.apache.spark.sql.functions._
    // public contract: dd3From/dd4From take an ARBITRARY documents
    // frame — the bounded-collect fast path needs bigint ids, so other
    // types must route through the lossless cast (integrals) or the
    // type-agnostic anti-join (everything else), not fail at plan time.
    val base = graft.tables.Tables.documents(spark, dir).limit(200)
    val expected = Dedup.dd4From(base)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty, "fixture slice must contain near-dup pairs")
    // IntegerType doc_id: fast path through a cast, type restored
    val intDocs = base.select(col("doc_id").cast("int").as("doc_id"), col("text"))
    val intOut = Dedup.dd4From(intDocs)
    assert(intOut.schema("doc_a").dataType ==
      org.apache.spark.sql.types.IntegerType,
      "integral doc_id type must survive the round-trip")
    assert(intOut.collect()
      .map(r => (r.getInt(0).toLong, r.getInt(1).toLong, r.getDouble(2))).toSet
      == expected)
    // StringType doc_id: anti-join fallback (zero-pad so string order
    // matches numeric order — doc_a < doc_b is lexicographic here)
    val strDocs = base.select(format_string("%09d", col("doc_id")).as("doc_id"), col("text"))
    assert(Dedup.dd4From(strDocs).collect()
      .map(r => (r.getString(0).toLong, r.getString(1).toLong, r.getDouble(2))).toSet
      == expected)
  }

  test("high-diameter graphs cluster via star contraction; labels match union-find") {
    import org.apache.spark.sql.functions._
    // 1. A 2000-node PATH (diameter 2000): min-label propagation would
    // need 2000 rounds — the pre-round-11 code threw at its cap. The
    // star-contraction fallback must label every node with the
    // component min in O(log n) rounds. (Real input shape: dd5's sketch
    // graph chains sigs <=3 bits per hop — the dd6∘dd5 composition.)
    val n = 2000
    val chain = spark.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val docs = spark.range(n).select(col("id").as("doc_id"))
    val out = Dedup.dd6ClusterFrom(docs, chain).collect()
    assert(out.length == n)
    assert(out.forall(_.getLong(1) == 0L), "path must collapse to component min 0")
    assert(out.count(_.getBoolean(2)) == 1, "exactly one keep in the chain component")

    // 2. Random sparse graph: star-contraction labels == driver union-find
    val rnd = new scala.util.Random(7)
    val edges = (0 until 3000).map { _ =>
      (rnd.nextInt(4000).toLong, rnd.nextInt(4000).toLong)
    }.filter(e => e._1 != e._2)
    import spark.implicits._
    val edgeDf = edges.toDF("u", "v")
      .union(edges.toDF("u", "v").select(col("v"), col("u")))
    val got = Dedup.starComponents(edgeDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    // union-find roots are arbitrary; compare per-component MIN labels
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val compMin = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
    nodes.foreach { nd =>
      assert(got(nd) == compMin(find(nd)),
        s"star label ${got(nd)} != union-find component min ${compMin(find(nd))} for $nd")
    }
  }

  test("CC engine: default and hinted paths match union-find across graph families (seeded sweep)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // The CC engine now has three trigger paths (fast min-label,
    // trend-switched star, hinted star) and backs dd6/dd7 at scale;
    // one random graph is a thin identity certificate. This sweep
    // crosses graph FAMILIES (sub-critical / critical / super-critical
    // Erdős–Rényi, a clique+chain forest, and a duplicate/self-loop
    // hygiene case) with seeds, and for each asserts BOTH public paths
    // equal the driver union-find component-min — so any path-specific
    // labeling defect fails whichever family routes to it.
    def unionFindMin(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val compMin = nodes.groupBy(find).map { case (r, ns) => r -> ns.min }
      nodes.map(nd => nd -> compMin(find(nd))).toMap
    }
    def check(label: String, nDocs: Int, edges: Seq[(Long, Long)]): Unit = {
      val docs = spark.range(nDocs).select(col("id").as("doc_id"))
      val pairDf = edges.toDF("doc_a", "doc_b")
      val expected = unionFindMin(edges.filter(e => e._1 != e._2))
      for (hint <- Seq(false, true)) {
        val got = Dedup.dd6ClusterFrom(docs, pairDf, highDiameterHint = hint)
          .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
        assert(got.size == nDocs, s"$label hint=$hint: row per doc")
        got.foreach { case (id, (rep, keep)) =>
          val want = expected.getOrElse(id, id) // untouched doc = singleton
          assert(rep == want, s"$label hint=$hint: doc $id labeled $rep, union-find min $want")
          assert(keep == (rep == id), s"$label hint=$hint: keep flag wrong for $id")
        }
      }
    }
    for (seed <- Seq(11, 12)) {
      val rnd = new scala.util.Random(seed)
      // density sweep around the n/2 giant-component threshold
      for ((m, tag) <- Seq(60 -> "sub-critical", 150 -> "critical", 600 -> "super-critical")) {
        val es = Seq.fill(m)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
          .filter(e => e._1 != e._2)
        check(s"ER(n=300,m=$m,$tag,seed=$seed)", 300, es)
      }
    }
    // forest of a clique, two chains and isolated docs — mixes the
    // fast-converging and diameter-bound regimes in ONE edge set, so
    // the default path's trend test sees a non-uniform decay curve
    val clique = for (a <- 0L until 12L; b <- (a + 1) until 12L) yield (a, b)
    val chainA = (100L until 160L).sliding(2).map(s => (s(0), s(1))).toSeq
    val chainB = (200L until 230L).sliding(2).map(s => (s(0), s(1))).toSeq
    check("forest(clique+2 chains+isolates)", 300, clique ++ chainA ++ chainB)
    // hygiene: duplicate edges, both orientations, self-loops
    val dup = Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (4L, 5L), (5L, 4L), (2L, 6L))
    check("hygiene(dups+reverse+self-loops)", 10, dup)
  }

  test("dd6 CC path selection: trend early-switch, provenance hint and fast path label identically") {
    import org.apache.spark.sql.functions._
    // A PATH graph re-labels ~one hop of nodes per min-label round, so
    // the changed count cannot halve — the round-12 convergence-trend
    // test must leave min-label at round 3 instead of burning all
    // FastLabelRounds (each wasted round is a full-edge-set
    // join+groupBy), and the provenance hint must skip min-label
    // entirely. Every trigger path produces the same component-min
    // labels.
    val n = 600
    val chain = spark.range(n - 1)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val docs = spark.range(n).select(col("id").as("doc_id"))
    val viaTrend = Dedup.dd6ClusterFrom(docs, chain).collect()
    assert(Dedup.ccPath.get.startsWith("star-early:"),
      s"path graph must trigger the trend switch, took ${Dedup.ccPath.get}")
    val viaHint = Dedup.dd6ClusterFrom(docs, chain, highDiameterHint = true).collect()
    assert(Dedup.ccPath.get == "star-hint")
    assert(viaTrend.map(_.toSeq).toSeq == viaHint.map(_.toSeq).toSeq,
      "trend-switch and hint paths must label identically")
    assert(viaTrend.forall(_.getLong(1) == 0L), "path component min is 0")

    // a clique-ish graph (hub star) converges inside the probe rounds:
    // min-label must be kept — no switch
    val hub = spark.range(1, 60).select(lit(0L).as("doc_a"), col("id").as("doc_b"))
    val sdocs = spark.range(60).select(col("id").as("doc_id"))
    val viaFast = Dedup.dd6ClusterFrom(sdocs, hub).collect()
    assert(Dedup.ccPath.get.startsWith("fast:"),
      s"clique-ish graph must stay on min-label, took ${Dedup.ccPath.get}")
    assert(viaFast.forall(_.getLong(1) == 0L))
  }

  test("dd6ClusterFrom leaves caller-provided checkpointed edge frames intact") {
    import org.apache.spark.sql.functions._
    // ADVICE round-11 (medium): the superseded-snapshot release used to
    // scan the WHOLE analyzed plan for a LogicalRDD, so the round-0
    // seed — whose lineage embeds the caller's frame — could unpersist
    // a caller-provided localCheckpoint()ed edge set mid-loop: lost
    // checkpoint blocks for every later round and the star fallback.
    // Release now matches the plan ROOT only; a checkpointed caller
    // frame must survive the call and stay readable after it.
    val pairs = spark.range(200)
      .select((col("id") / 4).cast("long").as("doc_a"), col("id").as("doc_b"))
      .where(col("doc_a") =!= col("doc_b"))
      .localCheckpoint()
    val docs = spark.range(200).select(col("id").as("doc_id"))
    val before = pairs.count()
    val out = Dedup.dd6ClusterFrom(docs, pairs).collect()
    assert(out.nonEmpty)
    assert(pairs.count() == before,
      "caller's checkpointed edge frame must still be readable after clustering")
  }

  test("statsCache trap is detected: cached-unmaterialized plans flag loud") {
    import org.apache.spark.sql.functions._
    // The trap (NOTES round-10): df.cache() then probing .stats BEFORE
    // the first materialization reads the pre-cache estimate and PINS it
    // on the shared InMemoryRelation (LogicalPlan.statsCache). The
    // round-11 detector must flag exactly the cached-but-unmaterialized
    // window — and the explicit-count overloads must bypass statistics
    // entirely.
    // NOTE each probe builds a FRESH DataFrame: queryExecution memoizes
    // per DataFrame instance, so probing the same object before caching
    // would pin a plan without the cache substitution — the same class
    // of trap the detector exists for
    def docs = spark.range(5000)
      .select(col("id").as("doc_id"), concat(lit("doc text "), col("id")).as("text"))
    assert(!Dedup.statsUnmaterialized(docs.where(col("doc_id") >= 0)),
      "uncached plan must not flag")
    val cached = docs.cache()
    try {
      assert(Dedup.statsUnmaterialized(cached.where(col("doc_id") >= 0)),
        "cached-but-unmaterialized plan must flag the trap (shingleDfCap warns)")
      Dedup.shingleDfCap(cached.where(col("doc_id") >= 0)) // loud path: warns, still returns
      cached.count() // materialize
      assert(!Dedup.statsUnmaterialized(cached.where(col("doc_id") >= 0)),
        "materialized cache must not flag — statistics are now real")
    } finally { cached.unpersist(); () }
    // explicit-count overload: pure arithmetic, no plan probe at all
    assert(Dedup.shingleDfCap(500L) == 100)
    assert(Dedup.shingleDfCap(500000L) == 500)
    assert(Dedup.shingleDfCap(5000000L) == 1000)
  }

  test("stats-probe fence degrades LinkageError and NonFatal to false; fatal throws propagate") {
    // A Spark upgrade that removes/renames the internal InMemoryRelation
    // API surfaces as NoSuchMethodError / NoClassDefFoundError — both
    // LinkageErrors, which NonFatal excludes. The fence must degrade them
    // to "no warning" (returning false) exactly like a NonFatal throw,
    // instead of crashing every dd3/dd4 call (round-16 review finding).
    assert(!Dedup.fencedStatsProbe(throw new NoSuchMethodError(
      "org.apache.spark.sql.execution.columnar.CachedRDDBuilder.isCachedColumnBuffersLoaded()")),
      "LinkageError from the internal probe must degrade to false")
    assert(!Dedup.fencedStatsProbe(throw new RuntimeException("probe broke")),
      "NonFatal from the internal probe must degrade to false")
    // the fence is transparent for a working probe
    assert(Dedup.fencedStatsProbe(true))
    assert(!Dedup.fencedStatsProbe(false))
    // genuinely fatal control throws still propagate
    intercept[InterruptedException] {
      Dedup.fencedStatsProbe(throw new InterruptedException("fatal"))
    }
  }

  test("shingleDfCap: floor at fixture scale, 0.1% of docs above, hard ceiling") {
    // without CBO, plan stats carry only sizeInBytes (8 B/row for range
    // plans), and the estimator divides by the house ~300 B/row — the
    // cap is exercised through exactly that path, lazily (no jobs)
    def capAtBytes(rows: Long) = Dedup.shingleDfCap(spark.range(rows).toDF("doc_id"))
    assert(capAtBytes(500) == 100,
      "fixture scale must keep the MaxShingleDf floor (oracle literal 100)")
    assert(capAtBytes(3750000) == 100, "est 100k docs — floor still binds")
    assert(capAtBytes(18750000) == 500,
      "est 500k docs (the 100x smoke corpus) must keep content shingles")
    assert(capAtBytes(150000000) == 1000,
      "the ceiling bounds the inverted-index join fan-out at any scale")
    // the fixture documents table itself must stay on the floor
    assert(Dedup.shingleDfCap(graft.tables.Tables.documents(spark, dir)) == 100)
  }

  test("dd5 mega-group of identical signatures survives the bucket cap via rep linking") {
    import org.apache.spark.sql.functions._
    // 300 verbatim copies of one document (distinct doc_ids, identical
    // SimHash) blow the DEFAULT raw cap (200) in every band bucket they
    // touch, while the distinct-sig count stays tiny. Pre-round-10 dd5
    // discarded those buckets wholesale — every copy silently lost its
    // sketch-positive pairs. Now the copies must form ONE connected
    // component through star + rep edges, with no duplicates and no
    // invented pairs.
    val docs = graft.tables.Tables.documents(spark, dir)
    val copies = docs.where(col("doc_id") === 0)
      .crossJoin(spark.range(300).select((col("id") + 100000).as("new_id")))
      .select(col("new_id").as("doc_id"), col("text"))
    val corpus = docs.select(col("doc_id"), col("text")).union(copies)
    val out = Dedup.dd5From(corpus)
    val got = pairs(out, "doc_a", "doc_b")
    assert(out.count() == got.size, "duplicate pairs escaped the A/B candidate dedup")
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    got.foreach { case (x, y) => parent(find(x)) = find(y) }
    val copyIds = (0 until 300).map(i => 100000L + i)
    val root = find(copyIds.head)
    assert(copyIds.forall(find(_) == root),
      "identical-sig mega-group must stay one component under the cap")
    assert(find(0L) == root, "the original doc must join its copies' component")
    // hamming-0 pairs among copies must never exceed linear star growth
    val amongCopies = got.count { case (x, y) => x >= 100000L && y >= 100000L }
    assert(amongCopies <= 2 * 300,
      s"mega-group emitted $amongCopies pairs — over-cap output must stay linear")
  }

  test("semanticEdges: exact below the byte cap, LSH plan above it") {
    import org.apache.spark.sql.functions._
    val e = graft.tables.Tables.embeddings(spark, dir)
    // fixture corpus is far below the cap → byte-identical to the exact scan
    val viaEdges = pairs(Similarity.semanticEdges(e), "vec_a", "vec_b")
    val exact = pairs(Similarity.ss3EmbeddingNeardup(spark, dir), "vec_a", "vec_b")
    assert(viaEdges == exact)
    // a corpus estimated past the cap must take the LSH path (posexplode
    // banding) — and must NOT throw the exact-scan guard
    val big = spark.range(100L * 1000 * 1000)
      .select(col("id").as("vec_id"),
        expr("transform(sequence(1, 64), i -> CAST(i AS FLOAT))").as("embedding"))
    val plan = Similarity.semanticEdges(big).queryExecution.analyzed.toString
    assert(plan.contains("posexplode"), "large corpus must route to LSH banding")
  }

  test("decontamination flags near-dups of benchmark docs and never the benchmark itself") {
    import org.apache.spark.sql.functions._
    val flagged = Dedup.dd8Decontaminate(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the benchmark itself (doc_id % 50 == 0) is never in the output
    assert(flagged.keys.forall(_ % 50 != 0))
    assert(flagged.values.forall(_ >= Dedup.MinContamShingles))
    // any corpus doc that is an exact-Jaccard near-dup of a benchmark doc
    // shares nearly all its shingles — decontamination MUST catch it
    val nearDupOfBench = pairs(Dedup.dd4NgramJaccard(spark, dir), "doc_a", "doc_b")
      .flatMap { case (a, b) =>
        if (a % 50 == 0 && b % 50 != 0) Some(b)
        else if (b % 50 == 0 && a % 50 != 0) Some(a) else None
      }
    nearDupOfBench.foreach { d =>
      assert(flagged.contains(d), s"near-dup $d of a benchmark doc escaped decontamination")
    }
    info(s"flagged ${flagged.size} contaminated docs (${nearDupOfBench.size} via near-dup pairs)")
  }

  test("decontamination guard: byte over-estimate falls back to a bounded row probe") {
    import org.apache.spark.sql.functions._
    val docs = graft.tables.Tables.documents(spark, dir)
    val corpus = docs.where(col("doc_id") % 50 =!= 0)
    val bench = docs.where(col("doc_id") % 50 === 0)
    // a 1-byte cap forces the byte estimate over; the bounded row probe
    // must accept a genuinely small benchmark (the fixture bench is 10
    // docs carved from the corpus — exactly the CBO-less Filter case
    // whose inherited full-corpus estimate used to spuriously fail)
    val viaProbe = Dedup.decontaminateFromWithCaps(corpus, bench, 3, 1L, 100000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val normal = Dedup.dd8Decontaminate(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaProbe == normal)
    // and a benchmark over the row cap still fails loudly
    intercept[IllegalArgumentException] {
      Dedup.decontaminateFromWithCaps(corpus, bench, 3, 1L, 3L)
    }
  }

  test("hash split is deterministic, total, and ~90/5/5") {
    val a = CorpusPipeline.cp1HashSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val b = CorpusPipeline.cp1HashSplit(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(a.sameElements(b), "split assignment must be bit-deterministic")
    val n = a.length
    assert(n == 500)
    val frac = a.groupBy(_._2).view.mapValues(_.length.toDouble / n).toMap
    assert(frac.keySet == Set("train", "val", "test"))
    // 16-bit hash space, 500 ids: binomial noise ±3σ ≈ ±0.04
    assert(math.abs(frac("train") - 0.9) < 0.05, s"train ${frac("train")}")
    assert(frac("val") < 0.11 && frac("test") < 0.11)
  }

  test("cluster labels are consistent with the pair graph and reps are minimal") {
    val labels = Dedup.dd6Cluster(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = pairs(Dedup.dd4NgramJaccard(spark, dir), "doc_a", "doc_b")
    // both endpoints of every near-dup pair share a label
    exact.foreach { case (a, b) => assert(labels(a) == labels(b), s"pair ($a,$b) split") }
    // a representative is the min id of its component
    labels.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.keys.min == rep)
    }
  }

  test("dd7 semantic clusters agree with the ss3 cosine pair graph") {
    val labels = Dedup.dd7SemanticCluster(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = pairs(Similarity.ss3EmbeddingNeardup(spark, dir), "vec_a", "vec_b")
    assert(edges.nonEmpty)
    // both endpoints of every cosine near-dup pair share a label
    edges.foreach { case (a, b) => assert(labels(a) == labels(b), s"pair ($a,$b) split") }
    // unpaired vectors are singleton clusters keeping themselves
    val inPairs = edges.flatMap { case (a, b) => Seq(a, b) }
    labels.foreach { case (v, rep) => if (!inPairs(v)) assert(rep == v) }
    // reps are component minima
    labels.groupBy(_._2).foreach { case (rep, members) =>
      assert(members.keys.min == rep)
    }
  }

  test("corpus pipeline: monotone stages, no surviving near-dups, clean langs") {
    val docs = graft.tables.Tables.documents(spark, dir)
    val (cleaned, st) = CorpusPipeline.clean(
      docs, minQuality = 0.5, langs = Some(Set("en", "es", "fr", "de", "zh")))
    // every stage only removes documents
    assert(st.input >= st.afterExact && st.afterExact >= st.afterNearDup &&
      st.afterNearDup >= st.afterQuality && st.afterQuality >= st.afterLang)
    assert(cleaned.count() == st.afterLang && st.afterLang > 0)
    // near-dup collapse is complete: the cleaned corpus has no pair left
    assert(Dedup.dd4From(cleaned).count() == 0)
    // the language gate held: every surviving doc detects into the allow-list
    val det = TextAnalysis.ta3LangidFrom(cleaned)
      .select("detected_lang").distinct().collect().map(_.getString(0)).toSet
    assert(det.subsetOf(Set("en", "es", "fr", "de", "zh")))
  }

  /** The fixture documents `replicas` times over, each copy ending in its
    * `" replicatoken<k>"` suffix (ids `d * replicas + k`): every document
    * gains near-duplicates, so the near-dup stage sees real clusters. */
  private def replicaDocs(replicas: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    graft.tables.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(replicas - 1))).as("k"))
      .select((col("doc_id") * replicas + col("k")).as("doc_id"),
        concat(col("text"), lit(" replicatoken"), col("k").cast("string")).as("text"))
  }

  test("corpus pipeline: clean equals the plain public-operator composition") {
    import org.apache.spark.sql.functions._
    // the composition clean short-cuts: dd2 -> dd4 over the exact
    // survivors -> dd6 -> keep representatives -> quality -> language
    def reference(docs: org.apache.spark.sql.DataFrame, langs: Option[Set[String]])
        : (CorpusPipeline.Stats, Set[Long]) = {
      val exact = Dedup.dd2From(docs).where(col("keep")).drop("content_hash", "keep")
      val nExact = exact.count()
      val clusters = Dedup.dd6ClusterFrom(exact.select(col("doc_id")),
        Dedup.dd4From(exact, nExact).select(col("doc_a"), col("doc_b")))
      val reps = exact.join(clusters.where(col("keep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val qualified = reps.where(TextAnalysis.qualityScore(col("text")) >= 0.5)
      val gated = langs.fold(qualified)(allowed => qualified.join(
        TextAnalysis.detectLang(qualified).where(col("detected_lang").isin(allowed.toSeq: _*))
          .select(col("doc_id")), Seq("doc_id"), "left_semi"))
      val ids = gated.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      (CorpusPipeline.Stats(docs.count(), nExact, reps.count(), qualified.count(),
        ids.size.toLong), ids)
    }
    val corpora = Seq("fixture" -> graft.tables.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text")), "3 replicas" -> replicaDocs(3))
    for ((name, docs) <- corpora; langs <- Seq(None, Some(Set("en", "es", "fr")))) {
      val (cleaned, st) = CorpusPipeline.clean(docs, minQuality = 0.5, langs = langs)
      val ids = try cleaned.select(col("doc_id")).collect().map(_.getLong(0)).toSet
        finally cleaned.unpersist(false)
      val (wantSt, wantIds) = reference(docs, langs)
      assert(st == wantSt, s"$name langs=$langs: stats")
      assert(ids == wantIds, s"$name langs=$langs: surviving doc_id set")
      assert(st.afterNearDup < st.afterExact, s"$name: the near-dup stage must bite")
    }
  }

  test("corpus pipeline: job-count fence on the 3-replica corpus") {
    // Counts every Spark job one clean starts. A pair graph built with
    // dd4From over the persisted `exact` frame runs the kept-shingle map
    // stage once per scan of the shingle frame, each as its own job,
    // because AQE cannot reuse an exchange above a persisted frame; clean
    // persists the kept shingles instead, and dd6 seeds its first label
    // round straight from the edges. Measured on this suite's session: 46
    // jobs with neither, 43 with only the dd6 seed, 41 with both. The
    // fence fails if the recomputation comes back.
    val docs = replicaDocs(3)
    val n = graft.JobCount.during(spark)(CorpusPipeline.clean(docs)._1.unpersist(false))
    assert(n <= 41, s"CorpusPipeline.clean ran $n jobs on the 3-replica corpus, fence 41")
  }

  test("keepRepresentatives drops exactly the non-representative near-dups") {
    val total = graft.tables.Tables.documents(spark, dir).count()
    val clusters = Dedup.dd6Cluster(spark, dir)
    val nonReps = clusters.where("NOT keep").count()
    val kept = Dedup.keepRepresentatives(spark, dir)
    assert(kept.count() == total - nonReps)
    // every kept doc is its own representative
    assert(kept.join(clusters.where("NOT keep"), Seq("doc_id"), "left_semi").count() == 0)
  }
}
