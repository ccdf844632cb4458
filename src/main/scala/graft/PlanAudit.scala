package graft

/** Diagnostic main: print a per-query physical-operator summary at a
  * small SF, flagging shapes that do not survive scale-up (cartesian
  * products, nested-loop joins outside the known exact-all-pairs ops,
  * shuffle counts). Session config comes from GraftSession.builder so
  * the audited plans are the engine's real plans (AQE on, extensions
  * registered). Usage: runMain graft.PlanAudit [sfDir]. */
object PlanAudit {
  // nested-loop is expected where (a) the op is intentionally exact
  // all-pairs (the LSH twins are the scale path) or (b) the build side is
  // a broadcast single row (scalar subquery / one query vector)
  private val expectedNestedLoop = Set(
    "q13_theta_join",                          // exact all-pairs by design
    "q16_scalar_subquery", "ss1_cosine_topk",  // 1-row broadcast build
    "ss4_ann_ivf", "ss4_ann_ivf_fitted",       // 1-row over-cap cell array broadcast
    "ta9_lm_score")                            // 1-row total-token-count broadcast

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.core.GraftSession
      .builder("graft-plan-audit", "local[8]", 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      df.collect() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      // occurrence count via indexOf, not String.split: split drops a
      // trailing match (an operator name ending the plan string went
      // uncounted) and needs regex-quoting care
      def count(op: String): Int = {
        var n = 0; var i = plan.indexOf(op)
        while (i >= 0) { n += 1; i = plan.indexOf(op, i + op.length) }
        n
      }
      val cartesian = count("CartesianProduct")
      val bnlj = count("BroadcastNestedLoopJoin")
      val smj = count("SortMergeJoin")
      val bhj = count("BroadcastHashJoin")
      // exch = SHUFFLE count (what the header promises): a bare
      // "Exchange" substring also matches every BroadcastExchange — and
      // every ReusedExchange (a cached exchange output, not a new
      // shuffle) — so a shuffle-to-broadcast regression or an added
      // reuse left the metric wrong
      val exchanges =
        count("Exchange") - count("BroadcastExchange") - count("ReusedExchange")
      val flags = new StringBuilder
      if (cartesian > 0) flags.append(" CARTESIAN!")
      if (bnlj > 0 && !expectedNestedLoop(name)) flags.append(" NESTED-LOOP!")
      if (flags.nonEmpty) flagged += 1
      println(f"$name%-22s exch=$exchanges%-3d bhj=$bhj%-2d smj=$smj%-2d bnlj=$bnlj%-2d$flags")
    }
    println(s"\nflagged: $flagged")
    spark.stop()
    // ScaleSmoke's discipline: a scripted invocation gating on exit
    // status must see the flag
    if (flagged > 0) sys.exit(1)
  }
}
