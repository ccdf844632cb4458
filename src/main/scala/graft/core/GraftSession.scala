package graft.core

import org.apache.spark.sql.SparkSession
import graft.tables.Tables

/** Engine entry point (SURVEY.md §7.1 item 1): one place that knows how a
  * graft session is configured — UTC, AQE, the custom-function
  * extensions, ns-timestamp legacy read, and a shuffle parallelism that
  * matches the actual cores instead of the 200 default.
  *
  * Lake credentials pass through to the ABFS driver exactly where the
  * reference hand-signed each request (SharedKeyAuth, client.py:143-178):
  * [[graft.lake.LakeClient.forAccount]] sets `fs.azure.account.key.*` on
  * the Hadoop conf.
  */
object GraftSession {

  /** Cluster-safe default master: under spark-submit the launcher sets
    * `spark.master` (yarn/k8s/standalone) and we must NOT override it
    * with a local one; standalone JVMs (tests, mains) fall back to
    * local[cores]. */
  private def defaultMaster: String =
    sys.props.getOrElse("spark.master",
      s"local[${Runtime.getRuntime.availableProcessors()}]")

  /** Cluster-safe default shuffle parallelism — the [[defaultMaster]]
    * discipline: Builder .config OVERRIDES spark-submit --conf, so an
    * unconditional core-count default would clobber the operator's
    * `--conf spark.sql.shuffle.partitions=2000` with the SUBMIT host's
    * core count on a real cluster. spark-submit propagates every --conf
    * into driver system properties; honor it when present, size to the
    * local cores (not Spark's 200 default) otherwise. */
  private[core] def defaultShufflePartitions: Int =
    sys.props.get("spark.sql.shuffle.partitions").flatMap(_.toIntOption)
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Optimizer rules excluded engine-wide — honoring a spark-submit
    * --conf override like [[defaultShufflePartitions]] does.
    *
    * `InferFiltersFromGenerate` (round-16 optimization, measured): for
    * every `explode(expr)` the rule infers `size(expr) > 0 AND
    * isnotnull(expr)` and filter pushdown then sinks that predicate
    * below projections and exchanges to the SCAN — so the exploded
    * expression is evaluated twice per row (once in the pushed filter,
    * once in the Generate), and the filter copy runs at the scan's
    * parallelism, i.e. single-threaded on a one-split table before the
    * [[graft.tables.Tables]] `balanced()` exchange. Measured at sf0.1:
    * dd8's corpus-shingling filter copy was a 1.85 s one-task stage of
    * a 2.7 s query (the whole 3-shingle transform per doc, computed and
    * discarded); exclusion took the stage to 68 ms and dd8 to 1.4 s;
    * q31 evaluates `from_json` twice per event row the same way. Ten of
    * the 78 query plans carried such a filter (grep `DataFilters:
    * .*size(` over plans/r16). The rule only ever adds predicates the
    * Generate re-applies — rows producing zero generator output are
    * dropped either way, so plans differ, results cannot. The rows it
    * would pre-drop before a shuffle are shingle-less/token-less docs —
    * a negligible fraction at any scale, and at production scale the
    * LLM tables arrive in many splits so `balanced()` adds no exchange
    * for them to cross at all.
    *
    * OVERRIDE CAVEAT (r16 ADVICE): an operator's own `--conf
    * spark.sql.optimizer.excludedRules=...` REPLACES this default, not
    * merges with it — silently re-enabling InferFiltersFromGenerate and
    * its measured 27× single-task-stage regression. Overrides must
    * include `org.apache.spark.sql.catalyst.optimizer.
    * InferFiltersFromGenerate` in their comma list (replacement, not
    * merge, is deliberate: it is the only way to A/B the exclusion
    * itself, which the r16→r17 dd4 bisect depends on). */
  private[core] def defaultExcludedRules: String =
    sys.props.getOrElse("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")

  /** Generated-class cache size (round-17 optimization, measured).
    * Spark's Janino cache holds 100 compiled classes by default; one
    * dd5-sized query alone generates ~30 codegen units and the 78-query
    * engine surface needs a few thousand, so under the default EVERY
    * re-run of EVERY query recompiled its generated code from scratch —
    * Janino compile time plus a fresh HotSpot JIT warm-up per class per
    * run. Measured at sf0.1 on a quiet box: dd5_simhash warm ran 5.1 s
    * with 29-33 Janino compiles per run at the default, 2.3 s with 0
    * compiles at 4096 (matching its r15 record); the effect applies to
    * every query in a long-lived session (driver AND executors compile
    * generated code). Cost: retained class metadata, bounded by the
    * distinct-plan count — hundreds of MB worst case against an 8 GB+
    * JVM, the standard trade for a session that serves many distinct
    * queries. Static SQL conf (read at first session creation); honors a
    * spark-submit --conf override like [[defaultShufflePartitions]]. */
  private[core] def defaultCodegenCacheMaxEntries: String =
    sys.props.getOrElse("spark.sql.codegen.cache.maxEntries", "4096")

  def builder(appName: String = "graft",
              master: String = defaultMaster,
              shufflePartitions: Int = defaultShufflePartitions)
      : SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.optimizer.excludedRules", defaultExcludedRules)
      .config("spark.sql.codegen.cache.maxEntries", defaultCodegenCacheMaxEntries)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Streaming state lives in RocksDB, not the default HDFS-backed
      // in-heap map: at 100 TB a stream-stream join's state must spill
      // past executor heap, which the HDFS-backed provider structurally
      // cannot (state = a JVM HashMap per partition). Also measured
      // faster where it matters (NOTES.md "Round-10 changes" item 5,
      // 2M-event band join, local[32]): RocksDB+changelog 254 s vs HDFS
      // 372 s at the 1 h watermark, 197 s vs 270 s at 10 min. Changelog
      // checkpointing uploads per-batch change deltas instead of full SST
      // snapshots — the production durability shape for high-churn state.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      .config("spark.ui.enabled", "false")
    // Local-mode resilience (round 14): the 100x smoke died when a
    // ~150 s driver stall (full-GC of the 96 GB probe heap under
    // 35 MB streaming task binaries, on a VM that also logs hrtimer
    // hiccups) tripped HeartbeatReceiver's 120 s default and evicted
    // the LOCAL executor — which in a single JVM is the driver
    // itself, so "eviction" is a guaranteed context kill with zero
    // recovery value. Only set under a local master: Builder .config
    // OVERRIDES spark-submit --conf, so on a cluster the key is left
    // entirely untouched for the operator to tune (and eviction there
    // actually frees a wedged remote executor).
    if (master.startsWith("local")) b.config("spark.network.timeout", "900s")
    else b
  }

  def create(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Register every fixture table as a temp view so the full engine
    * surface is reachable from `spark.sql` (including vec_dot /
    * simhash_agg via the extensions). */
  def registerTables(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      Tables.table(spark, dir, n).createOrReplaceTempView(n)
    }
}
