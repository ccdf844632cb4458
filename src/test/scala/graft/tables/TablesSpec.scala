package graft.tables

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** Fixture-schema canary (FIXTURES.md): if the driver regenerates data
  * with different shapes, every downstream query breaks — fail here
  * first, with a readable diff. */
class TablesSpec extends AnyFunSuite with GraftSuite {

  private val dir = "/root/testdata/sf0.001"

  private def fields(name: String): Map[String, DataType] =
    Tables.table(spark, dir, name).schema.fields.map(f => f.name -> f.dataType).toMap

  test("star-schema tables have the documented shapes") {
    assert(fields("region") == Map("r_regionkey" -> IntegerType, "r_name" -> StringType))
    assert(fields("nation")("n_nationkey") == IntegerType)
    assert(fields("customer")("c_custkey") == LongType)
    assert(fields("customer")("c_acctbal") == DoubleType)
    // parquet timestamp[ms] without UTC adjustment reads as NTZ in
    // Spark 4 (inferTimestampNTZ) — matches DuckDB's naive TIMESTAMP
    assert(fields("orders")("o_orderdate") == TimestampNTZType)
    assert(fields("lineitem")("l_shipdate") == TimestampNTZType)
    assert(fields("lineitem")("l_quantity") == DoubleType)
  }

  test("events.ts reads as NTZ µs-precision from the current fixtures") {
    // Driver regen 2026-08-12 moved events.ts from parquet timestamp[ns]
    // to timestamp[us] (isAdjustedToUTC=false), which Spark 4 reads
    // natively as TimestampNTZType; Tables.events' ns branch must no-op.
    val f = fields("events")
    assert(f("ts") == TimestampNTZType)
    assert(f("props") == StringType)
  }

  test("legacy ns-precision events parquet normalizes to TimestampNTZType, TZ-independently") {
    // The pre-regen fixtures carried timestamp[ns] (isAdjustedToUTC=false,
    // i.e. NTZ wall-clock semantics); keep the ns→µs branch
    // (Tables.scala events) from rotting by writing a tiny ns-typed
    // parquet here with parquet-mr (Spark cannot write NANOS itself).
    // The branch must yield the SAME type (TimestampNTZ) and the SAME
    // wall-clock value as the regenerated µs fixtures would — under any
    // session timezone.
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile

    val tmp = java.nio.file.Files.createTempDirectory("graft-ns-events").toFile
    val schema = Types.buildMessage()
      .required(PrimitiveTypeName.INT64).named("event_id")
      .required(PrimitiveTypeName.INT64)
        .as(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS))
        .named("ts")
      .required(PrimitiveTypeName.BINARY).as(LogicalTypeAnnotation.stringType()).named("props")
      .named("events")
    val conf = new org.apache.hadoop.conf.Configuration()
    val out = HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(new java.io.File(tmp, "events.parquet").toURI.toString), conf)
    val writer = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    val g = new SimpleGroupFactory(schema)
    val nanos = 1500000123456789L // sub-µs digits nonzero: truncation is observable
    writer.write(g.newGroup().append("event_id", 1L).append("ts", nanos).append("props", "{}"))
    writer.close()
    try {
      val want = java.time.LocalDateTime.ofEpochSecond(
        nanos / 1000000000L, ((nanos / 1000) % 1000000L).toInt * 1000,
        java.time.ZoneOffset.UTC)
      val prevTz = spark.conf.get("spark.sql.session.timeZone")
      try {
        Seq("UTC", "America/Los_Angeles", "Asia/Tokyo").foreach { tz =>
          spark.conf.set("spark.sql.session.timeZone", tz)
          val df = Tables.events(spark, tmp.getAbsolutePath)
          assert(df.schema("ts").dataType == TimestampNTZType) // LongType without the fix
          val got = df.select(df("ts")).head().getAs[java.time.LocalDateTime](0)
          assert(got == want, s"wall-clock value must not depend on session TZ ($tz)")
        }
      } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    } finally {
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }

  test("embeddings and documents carry the LLM-op columns") {
    assert(fields("embeddings")("embedding") == ArrayType(FloatType, containsNull = true))
    assert(fields("documents")("text") == StringType)
    assert(Tables.table(spark, dir, "embeddings").head().getAs[scala.collection.Seq[Float]]("embedding").size == 64)
  }
}
