package graft.core

import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** The pure-SQL face of the engine: GraftSession.registerTables exposes
  * every fixture table as a view and GraftExtensions injects the custom
  * functions, so a user who only speaks `spark.sql(...)` reaches the full
  * surface — relational, window, JSON, and the custom codegen kernels —
  * without touching the DataFrame API. */
class SqlSurfaceSpec extends AnyFunSuite with GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftSession.registerTables(spark, dir)
  }

  test("relational SQL: star join + aggregation over the registered views") {
    val revenue = spark.sql(
      """SELECT r_name, round(sum(l_extendedprice * (1 - l_discount)), 0) AS rev
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""").collect()
    assert(revenue.length == 5 && revenue.forall(_.getDouble(1) > 0))
  }

  test("window + qualify-style SQL") {
    val top = spark.sql(
      """SELECT * FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC) AS rk
           FROM orders) WHERE rk = 1""").collect()
    // one top order per customer with orders
    assert(top.length == spark.sql("SELECT count(DISTINCT o_custkey) FROM orders")
      .collect()(0).getLong(0))
  }

  test("custom codegen kernels are reachable from SQL (vec_dot, simhash_agg)") {
    val sims = spark.sql(
      """SELECT a.vec_id,
              vec_dot(a.embedding, b.embedding)
                / (sqrt(vec_dot(a.embedding, a.embedding))
                   * sqrt(vec_dot(b.embedding, b.embedding))) AS cos
         FROM embeddings a JOIN embeddings b ON b.vec_id = 0
         WHERE a.vec_id <> 0 ORDER BY cos DESC LIMIT 5""").collect()
    assert(sims.length == 5 && sims.forall(r => math.abs(r.getDouble(1)) <= 1.0 + 1e-9))
    val sketches = spark.sql(
      """SELECT doc_id, simhash_agg(xxhash64(tok)) AS sh
         FROM (SELECT doc_id, explode(split(text, ' ')) AS tok FROM documents)
         GROUP BY doc_id""").collect()
    assert(sketches.length == 500)
    // bounded-state top-k aggregate from SQL: per-source 3 longest docs
    val tops = spark.sql(
      """SELECT source, topk_by_score(CAST(length(text) AS DOUBLE), doc_id, 3) AS top
         FROM documents GROUP BY source""").collect()
    assert(tops.nonEmpty && tops.forall(r => {
      val a = r.getSeq[org.apache.spark.sql.Row](1)
      a.nonEmpty && a.length <= 3 &&
        a.map(_.getDouble(0)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))
    }))
  }

  test("round-14 kernels are reachable from SQL (round3, cell_topk)") {
    // round3 must agree bit-for-bit with Spark's round(x, 3) — the
    // property suite pins crafted boundaries; this pins the SQL name
    val diff = spark.sql(
      """SELECT count(*) AS n FROM (
           SELECT round3(l_extendedprice * l_discount) AS a,
                  round(l_extendedprice * l_discount, 3) AS b
           FROM lineitem) WHERE a IS DISTINCT FROM b""").collect()(0).getLong(0)
    assert(diff == 0L)
    // in-row cell scoring: top-5 of a 50-member cell, self excluded,
    // scores descending
    val top = spark.sql(
      """WITH m AS (
           SELECT collect_list(struct(vec_id AS id, embedding AS emb,
                    sqrt(vec_dot(embedding, embedding)) AS nrm)) AS members
           FROM embeddings WHERE vec_id < 50)
         SELECT cell_topk(q.embedding,
                  sqrt(vec_dot(q.embedding, q.embedding)),
                  m.members, q.vec_id, 5) AS top
         FROM embeddings q CROSS JOIN m WHERE q.vec_id = 0""").collect()
    val a = top(0).getSeq[org.apache.spark.sql.Row](0)
    assert(a.length == 5 && a.forall(_.getLong(1) != 0L) &&
      a.map(_.getDouble(0)).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
  }

  test("wrong arity from SQL raises a proper AnalysisException, not IndexOutOfBounds") {
    // the builders index children positionally; without the arity gate a
    // 2-arg topk_by_score died with IndexOutOfBoundsException instead of
    // the WRONG_NUM_ARGS AnalysisException every built-in raises
    val e1 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("""SELECT source, topk_by_score(CAST(length(text) AS DOUBLE), doc_id)
                   FROM documents GROUP BY source""")
    }
    assert(e1.getMessage.contains("topk_by_score") && e1.getMessage.contains("3"))
    val e2 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT vec_dot(embedding) FROM embeddings")
    }
    assert(e2.getMessage.contains("vec_dot") && e2.getMessage.contains("2"))
    val e3 = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT simhash_agg(doc_id, doc_id) FROM documents")
    }
    assert(e3.getMessage.contains("simhash_agg"))
  }

  test("JSON access over the events props column in SQL") {
    val n = spark.sql(
      """SELECT count(*) FROM events
         WHERE CAST(get_json_object(props, '$.k') AS INT) >= 0""")
      .collect()(0).getLong(0)
    assert(n > 0)
  }
}
