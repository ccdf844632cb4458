package graft.core

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFunctions

/** The session factory wires everything a user needs: UTC, extensions
  * (vec_dot/simhash_agg reachable from SQL), ns-timestamp reads, and the
  * SQL catalog over the fixture tables. */
class GraftSessionSpec extends AnyFunSuite {

  test("create + registerTables gives a full SQL surface") {
    val spark = GraftSession.builder("graft-test", "local[2]", 2).getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      GraftSession.registerTables(spark, "/root/testdata/sf0.001")
      assert(spark.sql("SELECT count(*) FROM lineitem").collect()(0).getLong(0) == 6000L)
      // events view reads the fixture's native NTZ-µs timestamp type
      // (post-regen parquet is timestamp[us]/isAdjustedToUTC=false; the
      // ns→µs normalization branch is covered by TablesSpec directly)
      assert(spark.table("events").schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampNTZType)
      // extension functions reachable from SQL
      val d = spark.sql(
        "SELECT vec_dot(embedding, embedding) AS n2 FROM embeddings WHERE vec_id = 0")
        .collect()(0).getDouble(0)
      assert(d > 0)
      val sh = spark.sql(
        "SELECT simhash_agg(xxhash64(tok)) FROM (SELECT explode(split(text, ' ')) AS tok " +
          "FROM documents WHERE doc_id = 0)").collect()(0).getLong(0)
      assert(sh != 0L)
      assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
      // the SQL catalog path must see the SAME rebalanced frames as the
      // typed accessors: a 1-file fixture scan through the views
      // previously ran the LLM-ops kernels in a single task
      val slots = spark.sparkContext.defaultParallelism
      assert(spark.table("documents").rdd.getNumPartitions >= slots,
        "documents view must carry the balanced() rebalance")
      assert(spark.table("embeddings").rdd.getNumPartitions >= slots,
        "embeddings view must carry the balanced() rebalance")
    } finally spark.stop()
  }

  test("ensureRegistered gives a plain SparkSession the graft functions, once") {
    // the operators call ensureRegistered for users who bring their own
    // session without GraftExtensions; every other suite runs on the
    // builder's session, so this is the one test of that path
    val spark = SparkSession.builder().master("local[2]").getOrCreate()
    try {
      spark.sparkContext.setLogLevel("WARN")
      val dot = "SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F))"
      intercept[AnalysisException](spark.sql(dot))
      VectorFunctions.ensureRegistered(spark)
      Seq("vec_dot", "simhash_agg", "topk_by_score", "cell_topk", "round3")
        .foreach(f => assert(spark.catalog.functionExists(f), f))
      assert(spark.sql(dot).collect()(0).getDouble(0) == 11.0)
      assert(graft.operators.Similarity.ss1CosineTopk(spark, "/root/testdata/sf0.001")
        .collect().length == 10)
      // a second call registers nothing: a user's own round3 survives it
      spark.udf.register("round3", (x: Double) => -x)
      VectorFunctions.ensureRegistered(spark)
      assert(spark.sql("SELECT round3(0.5D)").collect()(0).getDouble(0) == -0.5)
    } finally spark.stop()
  }

  test("defaultShufflePartitions honors a spark-submit --conf over the core count") {
    // spark-submit propagates --conf into driver system properties;
    // Builder .config overrides them, so the default must yield to the
    // operator's value — an unconditional core-count default ran every
    // cluster shuffle at the SUBMIT host's width
    val key = "spark.sql.shuffle.partitions"
    val prev = sys.props.get(key)
    try {
      sys.props(key) = "2000"
      assert(GraftSession.defaultShufflePartitions == 2000)
      sys.props(key) = "not-a-number" // malformed -> fall back, don't throw
      assert(GraftSession.defaultShufflePartitions ==
        Runtime.getRuntime.availableProcessors())
      sys.props.remove(key)
      assert(GraftSession.defaultShufflePartitions ==
        Runtime.getRuntime.availableProcessors())
    } finally {
      prev match { case Some(v) => sys.props(key) = v; case None => sys.props.remove(key) }
    }
  }

  test("defaultExcludedRules excludes InferFiltersFromGenerate, yields to --conf") {
    // the rule duplicates every explode()'s generator expression into a
    // pushed-down filter evaluated at the scan's parallelism (measured:
    // dd8's shingle transform ran twice, the filter copy single-threaded
    // — OPTIMIZATION_r16.md); the exclusion must hold by default but an
    // operator's own spark-submit --conf wins, per the
    // defaultShufflePartitions discipline
    val key = "spark.sql.optimizer.excludedRules"
    val prev = sys.props.get(key)
    try {
      sys.props.remove(key)
      assert(GraftSession.defaultExcludedRules ==
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      sys.props(key) = "my.custom.Rule"
      assert(GraftSession.defaultExcludedRules == "my.custom.Rule")
    } finally {
      prev match { case Some(v) => sys.props(key) = v; case None => sys.props.remove(key) }
    }
  }

  test("defaultCodegenCacheMaxEntries widens the 100-class default, yields to --conf") {
    // Spark's 100-entry Janino cache recompiles every query's generated
    // classes on every re-run of a 78-query session (measured: dd5 warm
    // 5.1 s with ~30 compiles/run at the default, 2.3 s with 0 at 4096
    // — OPTIMIZATION_r17.md); the widened default must hold but an
    // operator's spark-submit --conf wins, per the
    // defaultShufflePartitions discipline
    val key = "spark.sql.codegen.cache.maxEntries"
    val prev = sys.props.get(key)
    try {
      sys.props.remove(key)
      assert(GraftSession.defaultCodegenCacheMaxEntries == "4096")
      sys.props(key) = "100"
      assert(GraftSession.defaultCodegenCacheMaxEntries == "100")
    } finally {
      prev match { case Some(v) => sys.props(key) = v; case None => sys.props.remove(key) }
    }
  }

  test("SparkEntry registry: no cross-module name collisions, no orphan oracles") {
    // forcing both maps runs the merged-unique + orphan checks; the
    // driver contract (oracle keys name real queries) is load-bearing
    val qs = graft.SparkEntry.queries
    val os = graft.SparkEntry.oracleSql
    assert(qs.size >= 78, s"query registry shrank: ${qs.size}")
    assert(os.keySet.subsetOf(qs.keySet))
  }
}
