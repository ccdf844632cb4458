package perfbench

import java.util.SplittableRandom
import graft.lake.LakeClient
import graft.operators.{CorpusPipeline, Dedup, TextAnalysis}
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Workload `lake-pipeline`: the composed corpus pipeline, lake to lake.
  *
  * Set-up writes a seeded replica corpus to a scratch parquet: every
  * document of the fixture `documents` table appears `Replicas` times,
  * each copy ending in the replica token of the engine's scale smoke test
  * (`" replicatoken<k>"`, as `ProbeHarness.replicaDocs` builds it), so the
  * near-duplicate stage finds real clusters. Each iteration lands the
  * corpus in the lake with `LakeClient.writeParquet` (seeded row order and
  * file count), reads it back, runs `CorpusPipeline.clean`, assigns
  * `hashSplit`, writes the result partitioned by split, lists the output
  * with `listPathsDF` and reads it again.
  *
  * The funnel is checked exactly: the input size and the exact-duplicate
  * survivors follow from the corpus; the near-duplicate and quality
  * survivors do not depend on the seed (the seed only decides which of a
  * document's ids carries which token) and were recorded when the
  * benchmark was defined. */
object LakePipeline {
  val Replicas = 3
  val Fs = "bench"
  private val SetupRepeats = 3
  private val NominalPassS = 4.5

  val CorpusSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType), StructField("ord", LongType)))

  final case class Corpus(rows: IndexedSeq[Row], files: Int) {
    def ids: Set[Long] = rows.iterator.map(_.getLong(0)).toSet
    def distinctTexts: Long = rows.iterator.map(_.getString(1)).toSet.size.toLong
  }

  /** The replica corpus of `base` (doc_id, text) for `seed`: the ids of
    * document `d` are `d * Replicas + j`, and the seed assigns the tokens
    * 0 until `Replicas` to them in a seeded order. Rows carry a seeded
    * landing order `ord`. */
  def corpus(seed: Long, base: Seq[(Long, String)]): Corpus = {
    val r = new SplittableRandom(seed)
    val rows = base.flatMap { case (id, text) =>
      val tokens = (0 until Replicas).toArray
      for (i <- tokens.indices.reverse) {
        val j = r.nextInt(i + 1); val t = tokens(i); tokens(i) = tokens(j); tokens(j) = t
      }
      (0 until Replicas).map(j => Row(id * Replicas + j, s"$text replicatoken${tokens(j)}", r.nextLong()))
    }
    Corpus(rows.toIndexedSeq, 3 + r.nextInt(2))
  }

  def run(a: RunArgs, tracer: Tracer): Outcome = {
    val checks = new Checks
    val scratch = a.work.resolve("corpus.parquet").toString
    var c: Corpus = null
    // set-up: session start, reading the fixture documents, building the
    // replica corpus and writing it to the scratch parquet
    val (setups, spark) = SparkKit.repeatedSetup(SetupRepeats) { s =>
      val base = Tables.documents(s, a.data.toString).select(col("doc_id"), col("text")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
      c = corpus(a.seed, base)
      s.createDataFrame(c.rows.asJava, CorpusSchema).coalesce(1).write.mode("overwrite").parquet(scratch)
    }
    val lake = LakeClient.local(a.work.resolve("lake").toString)
    lake.createFilesystem(Fs)
    val want = Fingerprints.load(a.fingerprints)
    val inputIds = c.ids
    val expectStats = Seq(c.rows.size.toLong, c.distinctTexts)
    val stages = mutable.Map.empty[String, ArrayBuffer[Double]]
    var pairs = -1L

    def stage[T](name: String)(body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val v = tracer.span(s"pipeline.$name")(body)
      val s = (System.nanoTime() - t0) / 1e9
      if (tracer.recording) stages.getOrElseUpdate(name, ArrayBuffer.empty) += s
      (v, s)
    }

    /** `CorpusPipeline.clean` taken apart into its stages, through the same
      * public functions and in the same order, so each can be timed. */
    def cleanByStage(docs: DataFrame): (DataFrame, CorpusPipeline.Stats, Double) = {
      val t0 = System.nanoTime()
      val disk = StorageLevel.MEMORY_AND_DISK
      val input = docs.count()
      val ((exact, nExact), _) = stage("exact") {
        val e = Dedup.dd2From(docs).where(col("keep")).drop("content_hash", "keep").persist(disk)
        (e, e.count())
      }
      val ((reps, nNear), _) = stage("neardup") {
        val clusters = Dedup.dd6ClusterFrom(exact.select(col("doc_id")),
          Dedup.dd4From(exact, nExact).select(col("doc_a"), col("doc_b")))
        val r = exact.join(clusters.where(col("keep")).select(col("doc_id")), Seq("doc_id"), "left_semi")
          .persist(disk)
        (r, r.count())
      }
      // the pair count is an extra job, kept out of the clean step's time
      val p0 = System.nanoTime()
      pairs = Dedup.dd4From(exact, nExact).count()
      val pairsNs = System.nanoTime() - p0
      val ((qualified, nQuality), _) = stage("quality") {
        val q = reps.where(TextAnalysis.qualityScore(col("text")) >= 0.5).persist(disk)
        (q, q.count())
      }
      exact.unpersist(false)
      reps.unpersist(false)
      (qualified, CorpusPipeline.Stats(input, nExact, nNear, nQuality, nQuality),
        (System.nanoTime() - t0 - pairsNs) / 1e9)
    }

    /** One iteration; returns the latency of each user-visible step, ms. */
    def iteration(i: Int): Seq[(String, Double)] = {
      val (landing, curated) = ("landing", "curated")
      val (_, land) = stage("land") {
        lake.writeParquet(spark.read.parquet(scratch)
          .repartitionByRange(c.files, col("ord")).sortWithinPartitions("ord").drop("ord"),
          Fs, landing)
      }
      val t0 = System.nanoTime()
      val docs = lake.readParquet(spark, Fs, landing)
      val (cleaned, stats, cleanS) =
        if (tracer.recording) cleanByStage(docs)
        else { val (d, s) = CorpusPipeline.clean(docs); (d, s, (System.nanoTime() - t0) / 1e9) }
      val (_, splitWrite) = stage("split_write") {
        lake.writeParquet(CorpusPipeline.hashSplit(cleaned), Fs, curated, Seq("split"))
      }
      cleaned.unpersist(false)
      val ((listing, reread), catalog) = stage("catalog") {
        val l = lake.listPathsDF(spark, Fs, curated).collect()
        val r = lake.readParquet(spark, Fs, curated).select(col("doc_id"), col("split")).collect()
        (l, r)
      }
      // output checks, outside the timed steps
      val funnel = Seq(stats.input, stats.afterExact, stats.afterNearDup, stats.afterQuality, stats.afterLang)
      val kept = want.get("funnel").map(_.map(_.toLong))
      checks.expect(funnel.take(2) == expectStats && kept.contains(funnel.drop(2)),
        s"iteration $i: funnel $funnel, expected $expectStats ++ ${kept.getOrElse("?")}")
      val ids = reread.map(_.getLong(0))
      checks.expect(ids.length == stats.afterLang, s"iteration $i: re-read ${ids.length} rows, funnel ${stats.afterLang}")
      checks.expect(ids.distinct.length == ids.length, s"iteration $i: duplicate doc_id in output")
      checks.expect(ids.forall(inputIds.contains), s"iteration $i: output doc_id not in input")
      val splits = reread.map(_.getString(1)).toSet
      val listed = listing.map(_.getString(0)).filter(_.contains("/split=")).map(_.split("/split=")(1).takeWhile(_ != '/')).toSet
      checks.expect(splits.subsetOf(Set("train", "val", "test")) && listed == splits,
        s"iteration $i: splits $splits, listed $listed")
      Seq("land" -> land, "clean" -> cleanS, "split_write" -> splitWrite, "catalog" -> catalog)
        .map { case (n, s) => n -> s * 1e3 }
    }

    val first = iteration(0).map(_._2).sum / 1e3
    val passes = ArrayBuffer.empty[(Double, Map[String, Double])]
    val untracedS = ArrayBuffer.empty[Double]
    val callMs = mutable.Map.empty[String, ArrayBuffer[Double]]
    val probe = new SparkKit.CoreProbe(spark)
    var traced = 0
    val measured = a.passes(NominalPassS) + (if (a.traced) 1 else 0)
    var k = 1
    while (k < 1 + measured) {
      val record = a.traced && k >= 2
      if (record) { probe.start(); tracer.recording = true }
      val lat = iteration(k)
      val s = lat.map(_._2).sum / 1e3
      if (record) { tracer.recording = false; probe.stop(); traced += 1 }
      else untracedS += s
      passes += s -> lat.toMap
      lat.foreach { case (n, ms) => callMs.getOrElseUpdate(n, ArrayBuffer.empty) += ms }
      k += 1
    }
    SparkKit.stop(spark)
    val layers = mutable.Map.empty[String, Double]
    if (a.traced) {
      layers ++= probe.metrics(traced)
      stages.foreach { case (n, xs) => layers(s"pipeline.$n.s") = Stats.median(xs.toSeq) }
      layers("pipeline.neardup.pairs") = pairs.toDouble
    }
    val tracedS = passes.map(_._1).drop(untracedS.size)
    Outcome(checks, setups, first, passes.toSeq, callMs.view.mapValues(_.toSeq).toMap, layers.toMap, Map(
      "corpus_rows" -> c.rows.size, "landing_files" -> c.files, "passes" -> passes.size,
      "trace_overhead_ratio" ->
        (if (a.traced) Stats.median(tracedS.toSeq) / Stats.median(untracedS.toSeq) - 1 else null)))
  }
}
