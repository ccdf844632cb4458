package perfbench

import graft.SparkEntry
import graft.functions.{HyperplaneSig, VectorFunctions}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Workload `query-suite`: a fixed set of `SparkEntry.queries`, at least
  * one from every query module and every kernel family, over the
  * repository's sf0.01 fixture tables (a copy ships with the benchmark),
  * each query's full output written to the `noop` sink. The first pass
  * runs in a fresh session; timed passes follow. The seed permutes the
  * query order of the timed passes; the tables are the same for every
  * seed, so each query's row count and order-independent hash are checked
  * against the fingerprints recorded when the benchmark was defined.
  *
  * The set is not all 78 queries because a first pass over all of them
  * takes 80-90 s on four cores, more than one run may take; for the same
  * reason the relational module keeps a single query. The dedup
  * clustering kernels (dd4 pairs, dd6 components) are timed by the
  * lake-pipeline workload, whose clean step runs them. */
object QuerySuite {
  val Queries: Seq[String] = Seq(
    "q8_join3",                                               // relational
    "ta7_repetition",                                         // text analysis
    "dd5_simhash",                                            // dedup
    "ss2_ann_lsh", "ss4_ann_ivf",                             // similarity
    "st3_session", "mm1_binary_meta", "cp3_pack_sequences")   // streaming, multimodal, corpus

  private val SetupRepeats = 5
  private val NominalPassS = 5.5
  // The fourth warm pass after the cold one is still faster than the
  // third (the JIT is still compiling the engine's hot paths), so the
  // best pass is taken from at least five.
  private val MinPasses = 5

  def order(seed: Long, names: Seq[String]): Seq[String] =
    new scala.util.Random(seed).shuffle(names.sorted)

  def run(a: RunArgs, tracer: Tracer): Outcome = {
    val checks = new Checks
    val dir = a.data.toString
    // set-up: session start and every table loader's schema resolution
    val (setups, spark) = SparkKit.repeatedSetup(SetupRepeats) { s =>
      Tables.names.foreach(n => Tables.table(s, dir, n).schema)
    }
    val queries = SparkEntry.queries
    val names = order(a.seed, Queries)
    val want = Fingerprints.load(a.fingerprints)

    def one(name: String): Double = {
      val t0 = System.nanoTime()
      val fp = try {
        Some(tracer.span(s"query.$name")(SparkKit.materialize(queries(name)(spark, dir))))
      } catch {
        case e: Exception => checks.attempted += 1; checks.fail(s"$name: $e"); None
      }
      val ms = (System.nanoTime() - t0) / 1e6
      fp.foreach { case (rows, lo, xor) =>
        val g = Seq(rows.toString, lo.toString, xor.toString)
        checks.expect(want.get(name).exists(Fingerprints.matches(_, g)),
          s"$name: fingerprint $g, recorded ${want.get(name)}")
      }
      ms
    }
    def pass(order: Seq[String]): (Double, Map[String, Double]) = {
      val ms = order.map(n => n -> one(n)).toMap
      (ms.values.sum / 1e3, ms)
    }

    // The cold pass runs in the fixed order of `Queries`: which query runs
    // first in a fresh JVM decides which one pays the warm-up of the code
    // all of them share, and that must not change with the seed.
    val (first, firstMs) = pass(Queries)
    val passes = ArrayBuffer.empty[(Double, Map[String, Double])]
    val untracedS = ArrayBuffer.empty[Double]
    val callMs = mutable.Map.empty[String, ArrayBuffer[Double]]
    val perQuery = mutable.Map.empty[String, ArrayBuffer[Double]]
    val probe = new SparkKit.CoreProbe(spark)
    var traced = 0
    var lastMs = Map.empty[String, Double]
    val measured = a.passes(NominalPassS, MinPasses) + (if (a.traced) 1 else 0)
    var k = 0
    // A traced run times one warm pass untraced, to report the tracing
    // overhead, and records from the second warm pass on.
    while (k < measured) {
      val record = a.traced && k >= 1
      if (record) { probe.start(); tracer.recording = true }
      val (s, ms) = pass(names)
      if (record) {
        tracer.recording = false
        probe.stop()
        traced += 1
        ms.foreach { case (n, x) => perQuery.getOrElseUpdate(n, ArrayBuffer.empty) += x / 1e3 }
      } else untracedS += s
      passes += s -> ms.toMap
      ms.foreach { case (n, x) => callMs.getOrElseUpdate(n, ArrayBuffer.empty) += x }
      lastMs = ms
      k += 1
    }

    val layers = mutable.Map.empty[String, Double]
    if (a.traced) {
      layers ++= probe.metrics(traced)
      perQuery.foreach { case (n, xs) => layers(s"query.$n.s") = Stats.median(xs.toSeq) }
      tracer.recording = true
      layers ++= layerProbes(spark, dir, tracer)
      tracer.recording = false
    }
    SparkKit.stop(spark)
    val tracedS = passes.map(_._1).drop(untracedS.size)
    Outcome(checks, setups, first, passes.toSeq, callMs.view.mapValues(_.toSeq).toMap, layers.toMap, Map(
      "queries" -> names.size, "query_order" -> names, "passes" -> passes.size,
      "first_pass_query_ms" -> firstMs, "last_pass_query_ms" -> lastMs,
      "data" -> dir,
      "trace_overhead_ratio" ->
        (if (a.traced) Stats.median(tracedS.toSeq) / Stats.median(untracedS.toSeq) - 1 else null)))
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median seconds of three timed runs, after one untimed warm-up. */
  private def timed(tracer: Tracer, name: String)(body: => Unit): Double = {
    body
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      tracer.span(name)(body)
      (System.nanoTime() - t0) / 1e9
    })
  }

  /** The scan and kernel layers, each reached through its public entry
    * point over the fixture documents and embeddings. */
  private def layerProbes(spark: SparkSession, dir: String, tracer: Tracer): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double]
    out("tables.scan_s") = timed(tracer, "tables.scan") {
      Tables.names.foreach(n => noop(Tables.table(spark, dir, n)))
    }
    out("tables.scan_mib_per_s") =
      Dirs.treeBytes(java.nio.file.Paths.get(dir)) / 1048576.0 / out("tables.scan_s")
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), col("label"),
        sqrt(VectorFunctions.vecDot(col("embedding"), col("embedding"))).as("nrm"))
      .persist()
    emb.count()
    val probes = emb.where(col("vec_id") < 64)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
      .persist()
    probes.count()
    val pairs = emb.crossJoin(broadcast(probes))
    out("functions.vec_dot.s") = timed(tracer, "functions.vec_dot") {
      noop(pairs.select(VectorFunctions.vecDot(col("embedding"), col("q_emb"))))
    }
    val dim = 64
    val (tables, bits, stride) = (4, 16, 16)
    val rnd = new scala.util.Random(7)
    val planes = Array.fill(tables * bits * dim)(rnd.nextGaussian().toFloat)
    out("functions.hyperplane_sig.s") = timed(tracer, "functions.hyperplane_sig") {
      noop(emb.select(GraftExpressionBridge.column(HyperplaneSig(
        GraftExpressionBridge.expression(col("embedding")), planes, tables, bits, stride, dim))))
    }
    val cents = emb.where(col("vec_id") < 16).orderBy("vec_id").collect()
      .map(r => r.getSeq[Float](1).toArray)
    val cnorms = cents.map(c => math.sqrt(c.map(x => x.toDouble * x).sum)).toSeq
    out("functions.top_cells.s") = timed(tracer, "functions.top_cells") {
      noop(emb.select(VectorFunctions.topCells(col("embedding"), col("nrm"), cents.toSeq, cnorms, 4)))
    }
    val chunks = emb.groupBy((col("vec_id") % 8).as("chunk"))
      .agg(collect_list(struct(col("vec_id").as("id"), col("embedding").as("emb"),
        col("nrm").as("nrm"))).as("members"))
      .persist()
    chunks.count()
    out("functions.cell_top_k.s") = timed(tracer, "functions.cell_top_k") {
      noop(probes.crossJoin(chunks).select(
        VectorFunctions.cellTopK(col("q_emb"), col("q_nrm"), col("members"), col("q_id"), 10)))
    }
    val docs = Tables.documents(spark, dir)
    out("functions.simhash_agg.s") = timed(tracer, "functions.simhash_agg") {
      noop(docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id")).agg(VectorFunctions.simhashAgg(xxhash64(col("tok")))))
    }
    out("functions.topk_by_score.s") = timed(tracer, "functions.topk_by_score") {
      noop(pairs.groupBy(col("q_id")).agg(VectorFunctions.topkByScore(
        VectorFunctions.vecDot(col("embedding"), col("q_emb")), col("vec_id"), 10)))
    }
    Seq(emb, probes, chunks).foreach(_.unpersist())
    out.toMap
  }
}
