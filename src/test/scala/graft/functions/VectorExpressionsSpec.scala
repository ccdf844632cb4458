package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** The codegen kernel must agree bit-for-bit with the composable
  * zip_with+aggregate formulation (which the DuckDB oracle mirrors), and
  * behave on nulls/length mismatches. */
class VectorExpressionsSpec extends AnyFunSuite with GraftSuite {

  private def df = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(0.5f, -0.5f), Array(2.0f, 2.0f)),
      (3L, Array.empty[Float], Array.empty[Float]))
      .toDF("id", "a", "b")
  }

  test("vec_dot matches zip_with+aggregate bit-for-bit") {
    val composed = graft.operators.Similarity.dot(col("a"), col("b"))
    val rows = df.select(
      VectorFunctions.vecDot(col("a"), col("b")).as("fast"),
      composed.as("slow")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(rows(0).getDouble(0) == 32.0)
    assert(rows(2).getDouble(0) == 0.0)
  }

  test("vec_dot via SQL (extension-injected) and interpreted eval") {
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT id, vec_dot(a, b) AS d FROM vecs ORDER BY id")
      .collect().map(_.getDouble(1))
    assert(viaSql(0) == 32.0 && viaSql(1) == 0.0 && viaSql(2) == 0.0)
    // interpreted path (codegen off) must agree
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = spark.sql("SELECT vec_dot(a, b) FROM vecs WHERE id = 1").collect()(0).getDouble(0)
      assert(interp == 32.0)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("null inputs and length mismatches yield null (codegen + interpreted)") {
    import spark.implicits._
    val d = Seq(
      (1L, Some(Array(1.0f)), None: Option[Array[Float]]),
      (2L, Some(Array(1.0f, 2.0f, 3.0f)), Some(Array(10.0f))),
      (3L, Some(Array(1.0f, 2.0f)), Some(Array(3.0f, 4.0f))))
      .toDF("id", "a", "b")
    val rows = d.select(col("id"), VectorFunctions.vecDot(col("a"), col("b")).as("d"))
      .orderBy(col("id")).collect()
    assert(rows(0).isNullAt(1))
    // dimension mismatch -> NULL, matching zip_with's null-padding, not a
    // silently truncated dot product
    assert(rows(1).isNullAt(1))
    assert(rows(2).getDouble(1) == 11.0)
    // interpreted path agrees
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = d.select(col("id"), VectorFunctions.vecDot(col("a"), col("b")).as("d"))
        .orderBy(col("id")).collect()
      assert(interp(1).isNullAt(1) && interp(2).getDouble(1) == 11.0)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("a null ELEMENT yields null, not a fabricated 0-element dot (codegen + interpreted)") {
    import spark.implicits._
    // getFloat on a null array slot silently reads 0.0 — the kernel must
    // return NULL instead, matching zip_with's null propagation
    val d = Seq(
      (1L, Seq(Some(1.0f), None, Some(2.0f)), Seq(Some(1.0f), Some(1.0f), Some(1.0f))),
      (2L, Seq(Some(1.0f), Some(2.0f)), Seq(Some(3.0f), Some(4.0f))))
      .toDF("id", "a", "b")
    def run() = d.select(col("id"), VectorFunctions.vecDot(col("a"), col("b")).as("d"))
      .orderBy(col("id")).collect()
    val rows = run()
    assert(rows(0).isNullAt(1), "null element must null the dot product")
    assert(rows(1).getDouble(1) == 11.0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = run()
      assert(interp(0).isNullAt(1) && interp(1).getDouble(1) == 11.0)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("topk_by_score matches a row_number window on every group, at any parallelism") {
    import spark.implicits._
    // 40 groups x 200 scored rows, engineered score ties (score = v % 17
    // collides constantly) so the id tie-break is really exercised
    val rows = for (g <- 0L until 40L; v <- 0L until 200L)
      yield (g, g * 1000 + v, (v % 17).toDouble)
    val base = rows.toDF("grp", "id", "score")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("grp")).orderBy(col("score").desc, col("id"))
    val expect = base.withColumn("rk", row_number().over(w)).where(col("rk") <= 7)
      .select(col("grp"), col("id"), col("score"), col("rk")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    for (parts <- Seq(1, 2, 13)) { // single partition, and merge-heavy layouts
      val got = base.repartition(parts)
        .groupBy(col("grp"))
        .agg(VectorFunctions.topkByScore(col("score"), col("id"), 7).as("top"))
        .select(col("grp"), posexplode(col("top")).as(Seq("rk0", "t")))
        .select(col("grp"), col("t.id"), col("t.score"),
          (col("rk0") + 1).cast("int")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      assert(got == expect, s"topk_by_score diverged from the window at $parts partitions")
    }
    // NaN and NULL scores are skipped, not ranked
    val dirty = Seq((1L, 1L, Double.NaN), (1L, 2L, 3.0), (1L, 3L, 1.0))
      .toDF("grp", "id", "score")
      .union(Seq((1L, 4L)).toDF("grp", "id").withColumn("score", lit(null).cast("double")))
    val top = dirty.groupBy(col("grp"))
      .agg(VectorFunctions.topkByScore(col("score"), col("id"), 5).as("top"))
      .select(explode(col("top")).as("t")).select(col("t.id")).collect().map(_.getLong(0))
    assert(top.toSeq == Seq(2L, 3L), s"NaN/NULL must be skipped, got ${top.toSeq}")
    // k must be a positive literal
    intercept[Exception] {
      dirty.groupBy(col("grp"))
        .agg(call_function("topk_by_score", col("score"), col("id"), lit(0))).collect()
    }
  }

  test("vecCosine of identical vectors is 1") {
    val r = df.where(col("id") === 1)
      .select(VectorFunctions.vecCosine(col("a"), col("a"))).collect()(0).getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }
}
