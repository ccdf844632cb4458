package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** Physical-plan assertions — the 100 TB design bar is about plan shape,
  * not sf0.001 timings: dims broadcast (no fact shuffle), predicates reach
  * the parquet scan, top-k never global-sorts, custom kernels stay inside
  * whole-stage codegen. These lock the shapes so a regression (e.g. a lost
  * broadcast hint turning into a sort-merge join) fails CI, not the
  * 100 TB run. */
class PlanShapeSpec extends AnyFunSuite with GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planString(df: DataFrame): String = {
    // materialize so AQE finalizes the plan, then inspect
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q9: explicit broadcast join never shuffles the fact table") {
    val plan = planString(Relational.q9BroadcastJoin(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), s"expected BroadcastHashJoin in:\n$plan")
    assert(!plan.contains("SortMergeJoin"), "fact table must not sort-merge against a dim")
  }

  test("q14: full star join broadcasts all three dims") {
    val plan = planString(Relational.q14StarJoin(spark, dir))
    assert(plan.split("BroadcastHashJoin").length >= 4,
      s"expected 3 broadcast joins in:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q1: shipdate predicate is pushed to the parquet scan") {
    val df = Relational.q1Agg(spark, dir)
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"expected pushed l_shipdate filter in:\n$scan")
  }

  test("projection pruning: q9 reads only the needed lineitem columns") {
    val df = Relational.q9BroadcastJoin(spark, dir)
    val scan = df.queryExecution.executedPlan.toString
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_partkey") && readSchema.contains("l_extendedprice"))
    assert(!readSchema.contains("l_comment") && !readSchema.contains("l_shipdate"),
      s"scan must prune unused columns, got: $readSchema")
  }

  test("q20/ss1: global top-k plans TakeOrderedAndProject, not a full sort") {
    val p1 = planString(Relational.q20TopK(spark, dir))
    assert(p1.contains("TakeOrderedAndProject"), s"q20 plan:\n$p1")
    val p2 = planString(graft.operators.Similarity.ss1CosineTopk(spark, dir))
    assert(p2.contains("TakeOrderedAndProject"), s"ss1 plan:\n$p2")
  }

  test("vec_dot runs inside whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val df = graft.tables.Tables.embeddings(spark, dir)
      .select(graft.functions.VectorFunctions.vecDot(col("embedding"), col("embedding")).as("d"))
    assert(df.collect().map(_.getDouble(0)).sum > 0)
    // executed plan (post-AQE final plan): vec_dot's project must sit in
    // a WholeStageCodegen span, not a standalone interpreted Project
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*("), s"expected WholeStageCodegen stage in:\n$plan")
  }

  test("kNN kernels end at the top-k — the deterministic sort is the ss5 entry's") {
    // the ivfCellPairs convention, applied to the kNN kernels: a global
    // orderBy (Exchange rangepartitioning) baked into a KERNEL would
    // full-sort N×k output rows for every pipeline caller that doesn't
    // need presentation order — at 100 TB that's a pointless
    // whole-corpus sort. Kernels must carry no range exchange; the ss5
    // query entry (presentation output) must add exactly that.
    val e = graft.tables.Tables.embeddings(spark, dir)
    val lshKernel = planString(graft.operators.Similarity.knnJoin(e))
    assert(!lshKernel.contains("rangepartitioning"),
      s"LSH kNN kernel must not globally sort:\n$lshKernel")
    val ivfKernel = planString(graft.operators.Similarity.knnJoinIvf(e))
    assert(!ivfKernel.contains("rangepartitioning"),
      s"IVF kNN kernel must not globally sort:\n$ivfKernel")
    val entry = planString(graft.operators.Similarity.ss5KnnJoin(spark, dir))
    assert(entry.contains("rangepartitioning"),
      s"the ss5 entry owns the deterministic orderBy:\n$entry")
  }

  test("ss5: query construction launches no job beyond the table read itself") {
    // round-2 regression guard: the broadcast-vs-shuffle choice must come
    // from optimizer statistics (file bytes), not an eager e.count() scan.
    // A plain parquet read launches one tiny schema-inference job (footer
    // read); ss5 construction must add NOTHING on top of that baseline.
    val baseline = graft.JobCount.during(spark)(graft.tables.Tables.embeddings(spark, dir))
    val ss5 = graft.JobCount.during(spark)(graft.operators.Similarity.ss5KnnJoin(spark, dir))
    assert(ss5 <= baseline,
      s"building ss5 launched $ss5 job(s) vs $baseline for a bare table read — " +
        "the size probe must not scan the corpus")
  }

  test("q15 as-of join is one shuffle + window, not a range cross-join") {
    val plan = planString(Relational.q15AsofJoin(spark, dir))
    assert(plan.contains("Window"), s"plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "as-of must not plan a cross join")
  }
}
