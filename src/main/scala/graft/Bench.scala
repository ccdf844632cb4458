package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every [[SparkEntry.queries]] query over the
  * tables in SPARK_GRAFT_SF_DIR on `local[SPARK_GRAFT_CPUS]`. It prints
  * one `benchq <name> warm=… median=… cold=…` line per query, then one
  * compact JSON line last:
  * `{"metric":"total","value":…,"unit":"sec","queries":{…},"sf":"…"}`.
  *
  * Sampling is run-major: one cold pass over the whole suite, then three
  * warm passes, all in name order. A query's three warm samples are then
  * a whole suite wall apart, so a transient co-tenant burst can own at
  * most one of them; `queries` and `value` report the best warm sample.
  * Each sample times [[materialize]]: under a `count()` Catalyst prunes
  * a query's output expressions, down to a parquet row count for the
  * text-analysis family.
  *
  * A query that throws is not scored: its `benchq` line shows
  * `ERROR(msg)`, its time is -1, and the run exits 1. The session comes
  * from [[graft.core.GraftSession.builder]], the one source of config. */
object Bench {

  /** The timed action: the frame's full output, written to the `noop` sink. */
  private[graft] def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = graft.core.GraftSession
      .builder("graft-bench", s"local[$cpus]", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val order = SparkEntry.queries.toSeq.sortBy(_._1)
    def once(fn: (SparkSession, String) => DataFrame): Either[String, Double] = {
      val t0 = System.nanoTime()
      try { materialize(fn(spark, sfDir)); Right((System.nanoTime() - t0) / 1e9) }
      catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }
    val cold = order.map { case (name, fn) => name -> once(fn) }.toMap
    // a query whose cold run failed is not run again
    val passes = cold +: (1 to 3).map(_ =>
      order.map { case (name, fn) => name -> cold(name).flatMap(_ => once(fn)) }.toMap)

    // per query: (best warm, median warm, cold), or its first error
    val results = order.map { case (name, _) =>
      val samples = passes.map(_(name))
      val times = samples.collect { case Right(t) => t }
      name -> samples.collectFirst { case Left(msg) => msg }.toLeft {
        val warm = times.tail.sorted
        (warm.head, warm(1), times.head)
      }
    }

    def fmt(t: Double): String = f"$t%.3f"
    results.foreach {
      case (name, Right((w, m, c))) =>
        println(s"benchq $name warm=${fmt(w)} median=${fmt(m)} cold=${fmt(c)}")
      case (name, Left(msg)) =>
        println(s"benchq $name warm=-1 median=-1 cold=-1 ERROR($msg)")
    }
    val total = results.map(_._2.fold(_ => 0.0, _._1)).sum
    val queries = results.map { case (name, r) =>
      s""""$name":${r.fold(_ => "-1", t => fmt(t._1))}"""
    }.mkString("{", ",", "}")
    spark.stop() // first, so no shutdown output follows the JSON line
    println(s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
      s""""queries":$queries,"sf":"$sfDir"}""")
    if (results.exists(_._2.isLeft)) sys.exit(1)
  }
}
