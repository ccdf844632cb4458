package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** Scale-toolbox tests: salted joins give identical results to plain
  * joins while spreading hot keys; bucketed tables co-locate a join with
  * no shuffle on either side. */
class ScaleToolsSpec extends AnyFunSuite with GraftSuite {

  test("saltedJoin returns exactly the rows of the plain join under skew") {
    import spark.implicits._
    // heavily skewed left: 10k rows on key 1, a few elsewhere
    val left = (Seq.fill(10000)(1) ++ Seq(2, 2, 3)).toDF("k")
      .withColumn("lv", monotonically_increasing_id())
    val right = Seq((1, "one"), (2, "two"), (4, "four")).toDF("k", "rv")
    val plain = left.join(right, Seq("k"))
    val salted = SkewJoin.saltedJoin(left, right, "k", salt = 8)
    assert(salted.count() == plain.count())
    assert(salted.select("k", "lv", "rv").except(plain.select("k", "lv", "rv")).isEmpty)
    assert(plain.select("k", "lv", "rv").except(salted.select("k", "lv", "rv")).isEmpty)
    // outer flavor keeps unmatched left rows
    val leftOuter = SkewJoin.saltedJoin(left, right, "k", 4, "left_outer")
    assert(leftOuter.count() == left.count())
  }

  test("saltedJoin accepts MapType columns and spreads DISTINCT hot-key rows deterministically") {
    import spark.implicits._
    // a hot key with 4k DISTINCT rows plus a map column (xxhash64
    // rejects maps — they are excluded from the salt hash, not fatal)
    val left = (0 until 4000).map(i => (1, s"row$i")).toDF("k", "lv")
      .withColumn("props", map(lit("a"), lit(1)))
    val right = Seq((1, "one"), (2, "two")).toDF("k", "rv")
    val salted = SkewJoin.saltedJoin(left, right, "k", salt = 8)
    assert(salted.count() == 4000, "every row joins exactly once")
    // the salt must be a pure function of row CONTENT (retry-determinism
    // — a positional salt silently duplicates/drops rows when a lost
    // executor recomputes a map task; SPARK-23207 class) and must still
    // spread distinct rows of the hot key across buckets
    val saltOf = pmod(xxhash64(col("k"), col("lv")), lit(8)).cast("int")
    val spread = left.select(saltOf.as("s")).distinct().count()
    assert(spread == 8, s"distinct rows must cover all 8 salts, got $spread")
    val perContent = left.repartition(13) // any layout: same row -> same salt
      .select(col("lv"), saltOf.as("s")).distinct()
      .groupBy("lv").count().where(col("count") > 1).count()
    assert(perContent == 0, "a row's salt must not depend on layout or order")
  }

  test("guarded broadcast hint attaches under the byte cap and detaches above it") {
    val small = spark.range(10).toDF("k")
    val big = spark.range(1000L * 1000 * 1000).toDF("k") // ~8 GB estimate
    def hinted(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    assert(hinted(Guards.broadcastIfEstimatedUnder(small)),
      "a tiny frame must carry the broadcast hint")
    assert(!hinted(Guards.broadcastIfEstimatedUnder(big)),
      "an over-cap frame must pass through un-hinted (AQE owns the strategy)")
  }

  test("saltedJoin rejects right-preserving join types (right rows are replicated)") {
    import spark.implicits._
    val left = Seq((1, "l")).toDF("k", "lv")
    val right = Seq((1, "r"), (2, "unmatched")).toDF("k", "rv")
    for (jt <- Seq("right_outer", "full_outer", "full", "rightouter", "outer"))
      intercept[IllegalArgumentException] {
        SkewJoin.saltedJoin(left, right, "k", 4, jt)
      }
    // semi/anti stay legal: the left side carries exactly one salt value,
    // so replicated right rows can't duplicate output
    assert(SkewJoin.saltedJoin(left, right, "k", 4, "left_semi").count() == 1)
    assert(SkewJoin.saltedJoin(left, right, "k", 4, "left_anti").count() == 0)
  }

  test("quadratic-output guard trips on large inputs by byte statistics, no job") {
    // 1B-row range: ~8 GB estimated, far over any sane theta-join cap
    val big = spark.range(1000L * 1000 * 1000).toDF("k")
    intercept[IllegalArgumentException] {
      Guards.requireEstimatedBytesAtMost(big, 64L << 20, "test op")
    }
    // small input passes
    Guards.requireEstimatedBytesAtMost(spark.range(10).toDF("k"), 64L << 20, "test op")
    // q13 itself stays runnable at fixture scale (guard is inactive there)
    assert(graft.queries.Relational.q13ThetaJoin(spark, "/root/testdata/sf0.001")
      .limit(1).count() == 1)
  }

  test("bucketed tables join without an exchange on either side") {
    val li = graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val or = graft.tables.Tables.orders(spark, "/root/testdata/sf0.001")
    li.write.mode("overwrite").bucketBy(4, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("li_bucketed")
    or.write.mode("overwrite").bucketBy(4, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("or_bucketed")
    // disable broadcast so the co-location is what avoids the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val joined = spark.table("li_bucketed")
        .join(spark.table("or_bucketed"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).count()
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // the join itself must have no shuffle beneath it: the only
      // exchange allowed is for the final tiny aggregation
      val joinPart = plan.split("HashAggregate").last
      assert(!joinPart.contains("Exchange hashpartitioning(l_orderkey") &&
        !joinPart.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join must not shuffle its inputs:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"))
      assert(joined.count() == 3)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS or_bucketed")
    }
  }
}
