package graft.lake

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSuite

/** The minimum end-to-end slice of SURVEY.md §7.2 plus scale discipline:
  * fixture parquet → lake write (partitioned) → read-back with partition
  * pruning visible in the plan → binary read of the same files. */
class LakeIoSpec extends AnyFunSuite with GraftSuite {

  private var rootDir: java.nio.file.Path = _
  private var client: LakeClient = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    rootDir = Files.createTempDirectory("lakeio")
    client = LakeClient.local(rootDir.toString)
  }

  override def afterAll(): Unit = {
    super.afterAll()
    org.apache.commons.io.FileUtils.deleteDirectory(rootDir.toFile)
  }

  test("writeParquetClustered: disjoint per-file key ranges + pushed filter = skip-scan layout") {
    import org.apache.spark.sql.functions._
    client.createFilesystem("clu")
    val li = graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity")
    client.writeParquetClustered(li, "clu", "li_clustered",
      clusterBy = Seq("l_orderkey"), files = 4)

    val back = client.readParquet(spark, "clu", "li_clustered")
    assert(back.count() == li.count(), "clustering must not lose rows")

    // the layout property that makes parquet row-group min/max stats
    // selective: every output file owns a DISJOINT l_orderkey range
    // (RangePartitioner keeps equal keys together, so ranges can't
    // interleave) — a range predicate then skips all but one file's
    // row-groups at scan time
    val ranges = back.inputFiles.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("l_orderkey"), max("l_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    assert(ranges.length > 1, "expected multiple clustered files")
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"file ranges overlap: $ranges")
    }
    // and the predicate reaches the scan (row-group skipping needs both)
    val key = li.agg(min("l_orderkey")).head().getLong(0)
    val plan = back.where(col("l_orderkey") === key)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey"),
      s"expected pushed l_orderkey filter in:\n$plan")

    // with partitionBy, partition columns LEAD the range key, so the
    // file count stays ~files + nPartitionValues - 1, not files × values
    client.writeParquetClustered(
      li.withColumn("flag", (col("l_orderkey") % 2).cast("int")),
      "clu", "li_clustered_part",
      clusterBy = Seq("l_orderkey"), files = 4, partitionBy = Seq("flag"))
    val partBack = client.readParquet(spark, "clu", "li_clustered_part")
    assert(partBack.count() == li.count())
    assert(partBack.inputFiles.length <= 4 + 2 - 1,
      s"partitioned clustered write fanned out: ${partBack.inputFiles.length} files")
  }

  test("compactParquet rewrites a fragmented table into few files with identical content") {
    import org.apache.spark.sql.functions._
    client.createFilesystem("frag")
    val li = graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey", "l_quantity")
    // fragment: 16 small files
    li.repartition(16).write.parquet(
      rootDir.resolve("frag/li").toString)
    val before = client.readParquet(spark, "frag", "li")
    assert(before.inputFiles.length == 16)
    def checksumOf(df: org.apache.spark.sql.DataFrame) = df.agg(
      sum(xxhash64(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
        .cast("decimal(38,0)"))).head().getDecimal(0)
    val checksum = checksumOf(before)

    val nFiles = client.compactParquet(spark, "frag", "li")
    val after = client.readParquet(spark, "frag", "li")
    assert(after.inputFiles.length == nFiles && nFiles < 16,
      s"expected few files, got ${after.inputFiles.length} (target $nFiles)")
    assert(after.count() == li.count(), "compaction must not lose rows")
    assert(checksumOf(after) == checksum, "compaction must not change content")
    // no temp debris left behind
    assert(client.listPaths("frag", "", recursive = false)
      .forall(!_.name.contains("__compacting__")))
    // a PARTITIONED table must be refused, not silently flattened
    client.writeParquet(li.withColumn("flag", col("l_orderkey") % 2),
      "frag", "li_part", partitionBy = Seq("flag"))
    intercept[IllegalArgumentException] {
      client.compactParquet(spark, "frag", "li_part")
    }
    // ...but compacting ONE partition directory works
    assert(client.compactParquet(spark, "frag", "li_part/flag=0") >= 1)
  }

  test("compactPartitionedParquet compacts inside each partition; layout, content, pruning intact") {
    import org.apache.spark.sql.functions._
    client.createFilesystem("fragp")
    val li = graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
    // fragment WITHIN partitions: 8 files per l_returnflag directory
    li.repartition(8).write.partitionBy("l_returnflag")
      .parquet(rootDir.resolve("fragp/li").toString)
    def filesPerPart(): Map[String, Int] =
      client.listPaths("fragp", "li", recursive = false).filter(_.isDirectory)
        .map(d => d.name.split('/').last ->
          client.listPaths("fragp", "li/" + d.name.split('/').last)
            .count(e => !e.isDirectory && e.name.endsWith(".parquet"))).toMap
    val before = filesPerPart()
    assert(before.keySet == Set("l_returnflag=A", "l_returnflag=N", "l_returnflag=R"))
    assert(before.values.forall(_ == 8), s"fixture not fragmented as expected: $before")
    def checksumOf(df: org.apache.spark.sql.DataFrame) = df.agg(
      sum(xxhash64(col("l_orderkey"), col("l_partkey"), col("l_quantity"),
        col("l_returnflag").cast("string")).cast("decimal(38,0)"))).head().getDecimal(0)
    val checksum = checksumOf(client.readParquet(spark, "fragp", "li"))

    val (nParts, nFiles) = client.compactPartitionedParquet(spark, "fragp", "li")
    assert(nParts == 3 && nFiles == 3, s"expected 3 partitions -> 1 file each, got ($nParts, $nFiles)")
    val after = filesPerPart()
    assert(after.keySet == before.keySet, "partition layout must be untouched")
    assert(after.values.forall(_ == 1), s"partitions not compacted: $after")
    val back = client.readParquet(spark, "fragp", "li")
    assert(back.count() == li.count(), "compaction must not lose rows")
    assert(checksumOf(back) == checksum, "compaction must not change content")
    // partition pruning still plans on the compacted table
    val pruned = back.where(col("l_returnflag") === "A")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"expected partition filters in:\n$plan")
    assert(pruned.count() > 0)
    // no temp debris anywhere in the tree
    assert(client.listPaths("fragp", "li", maxResults = Int.MaxValue)
      .forall(e => !e.name.contains("__compacting__") && !e.name.contains("__old__")))
    // an interrupted run's leftover must refuse the whole table rather
    // than be rewritten as if it were a partition
    client.createPath("fragp", "li/l_returnflag=A-__old__", directory = true)
    intercept[IllegalArgumentException] {
      client.compactPartitionedParquet(spark, "fragp", "li")
    }
    client.deletePath("fragp", "li/l_returnflag=A-__old__")
    // non-partition directories are NEVER recursed into or rewritten: a
    // concurrent writer's _temporary (whose files are NOT parquet, so
    // compacting it would throw) and a stray non-key=value dir must both
    // survive untouched while the real partitions compact normally
    client.uploadBytes("fragp", "li/_temporary/attempt_0/part-0.parquet",
      "not parquet at all".getBytes("UTF-8"))
    client.uploadBytes("fragp", "li/stray-dir/notes.txt", "junk".getBytes("UTF-8"))
    val (nParts2, _) = client.compactPartitionedParquet(spark, "fragp", "li")
    assert(nParts2 == 3, s"expected only the 3 real partitions, got $nParts2")
    assert(new String(client.readBytes("fragp", "li/_temporary/attempt_0/part-0.parquet"),
      "UTF-8") == "not parquet at all", "_temporary must be untouched")
    assert(new String(client.readBytes("fragp", "li/stray-dir/notes.txt"),
      "UTF-8") == "junk", "a stray non-partition dir must be untouched")
    client.deletePath("fragp", "li/_temporary", recursive = true)
    client.deletePath("fragp", "li/stray-dir", recursive = true)
    assert(checksumOf(client.readParquet(spark, "fragp", "li")) == checksum)
  }

  test("a compaction LEAF containing non-partition subdirs is refused, never swapped away") {
    import org.apache.spark.sql.functions._
    client.createFilesystem("fragl")
    val li = graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.001")
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.repartition(4).write.partitionBy("l_returnflag")
      .parquet(rootDir.resolve("fragl/li").toString)
    // a concurrent writer's _temporary INSIDE one key=value leaf: the
    // leaf dir itself is what compactParquet's rename-aside swap moves,
    // so compacting it would carry (then delete) the subdir with the old
    // copy — that leaf must be refused while its siblings compact
    client.uploadBytes("fragl", "li/l_returnflag=A/_temporary/attempt_0/part-0.parquet",
      "in-flight task data".getBytes("UTF-8"))
    def leafFiles(part: String): Set[String] =
      client.listPaths("fragl", s"li/$part", recursive = false)
        .filter(e => !e.isDirectory && e.name.endsWith(".parquet"))
        .map(_.name).toSet
    val aBefore = leafFiles("l_returnflag=A")
    val (nParts, _) = client.compactPartitionedParquet(spark, "fragl", "li")
    assert(nParts == 2, s"only the two clean partitions may compact, got $nParts")
    assert(leafFiles("l_returnflag=A") == aBefore,
      "the refused leaf's data files must be byte-identical (same names)")
    assert(new String(client.readBytes("fragl",
      "li/l_returnflag=A/_temporary/attempt_0/part-0.parquet"), "UTF-8")
      == "in-flight task data", "the in-flight subdir must survive")
    assert(leafFiles("l_returnflag=N").size == 1 && leafFiles("l_returnflag=R").size == 1)

    // a FLAT table with a streaming sink's _spark_metadata: the whole
    // table is one leaf with a non-partition subdir — refuse everything
    // (rewriting the files would also break the sink's metadata log)
    li.drop("l_returnflag").repartition(4).write
      .parquet(rootDir.resolve("fragl/flat").toString)
    client.uploadBytes("fragl", "flat/_spark_metadata/0", "v1".getBytes("UTF-8"))
    val flatBefore = client.listPaths("fragl", "flat", recursive = false)
      .filter(e => !e.isDirectory && e.name.endsWith(".parquet")).map(_.name).toSet
    val (n2, f2) = client.compactPartitionedParquet(spark, "fragl", "flat")
    assert(n2 == 0 && f2 == 0, s"a metadata-bearing flat table must be refused, got ($n2, $f2)")
    assert(client.listPaths("fragl", "flat", recursive = false)
      .filter(e => !e.isDirectory && e.name.endsWith(".parquet")).map(_.name).toSet == flatBefore)
    assert(new String(client.readBytes("fragl", "flat/_spark_metadata/0"), "UTF-8") == "v1")
  }

  test("write partitioned parquet to the lake; read back with partition pruning") {
    client.createFilesystem("warehouse")
    val li = graft.tables.Tables.lineitem(spark, "/root/testdata/sf0.001")
    client.writeParquet(li, "warehouse", "lineitem_by_flag", partitionBy = Seq("l_returnflag"))

    // partition dirs exist (l_returnflag=A/N/R)
    val parts = client.listPaths("warehouse", "lineitem_by_flag", recursive = false)
      .filter(_.isDirectory).map(_.name.split('/').last).sorted
    assert(parts == Seq("l_returnflag=A", "l_returnflag=N", "l_returnflag=R"))

    val back = client.readParquet(spark, "warehouse", "lineitem_by_flag")
    assert(back.count() == li.count())

    // partition filter must prune at planning time, not scan-and-filter
    val pruned = back.where(org.apache.spark.sql.functions.col("l_returnflag") === "A")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"),
      s"expected partition filters in:\n$plan")
    val aCount = pruned.count()
    assert(aCount > 0 && aCount < li.count())
  }

  test("upsertPartitions overwrites only touched partitions") {
    import spark.implicits._
    client.createFilesystem("up")
    val base = Seq((1L, "A", 10.0), (2L, "B", 20.0), (3L, "C", 30.0))
      .toDF("id", "part", "v")
    client.writeParquet(base, "up", "t", partitionBy = Seq("part"))
    // update partition B only (new value + new row), leave A and C alone
    val updates = Seq((2L, "B", 99.0), (4L, "B", 44.0)).toDF("id", "part", "v")
    val modeBefore = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    client.upsertPartitions(updates, "up", "t", Seq("part"))
    val back = client.readParquet(spark, "up", "t")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Double]("v"))).toMap
    assert(back == Map(1L -> 10.0, 2L -> 99.0, 3L -> 30.0, 4L -> 44.0))
    // the dynamic mode must be per-WRITER, never the session conf: the
    // old try/finally toggle raced concurrent writers on one session,
    // turning a partition upsert into a full-table overwrite. The upsert
    // above overwrote only B, so the writer-scoped option took effect
    // while the session conf stayed exactly as found (the default is
    // STATIC — a leaked toggle would read DYNAMIC mid-flight).
    assert(spark.conf.getOption("spark.sql.sources.partitionOverwriteMode") == modeBefore,
      "upsertPartitions must not touch the session-global overwrite mode")
    client.deleteFilesystem("up")
  }

  test("round-trip CSV and JSON through the lake client") {
    client.createFilesystem("io")
    val nation = graft.tables.Tables.nation(spark, "/root/testdata/sf0.001")
    client.writeCsv(nation, "io", "nation_csv")
    assert(client.readCsv(spark, "io", "nation_csv").count() == 25)
    client.writeJson(nation, "io", "nation_json")
    assert(client.readJson(spark, "io", "nation_json").count() == 25)
  }

  test("round-trip Avro and XML through the lake client, values intact") {
    client.createFilesystem("io2")
    val nation = graft.tables.Tables.nation(spark, "/root/testdata/sf0.001")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("CAST(n_nationkey AS LONG)", "CAST(n_name AS STRING)",
          "CAST(n_regionkey AS LONG)")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val expect = asSet(nation)
    client.writeAvro(nation, "io2", "nation_avro")
    assert(asSet(client.readAvro(spark, "io2", "nation_avro")) == expect)
    client.writeXml(nation, "io2", "nation_xml", rowTag = "nation")
    assert(asSet(client.readXml(spark, "io2", "nation_xml", rowTag = "nation")) == expect)
    // short name resolves via graft's own META-INF/services entry (this
    // Spark build ships AvroFileFormat without registering it)
    assert(asSet(spark.read.format("avro")
      .load(client.resolve("io2", "nation_avro").toString)) == expect)
  }

  test("listPathsDF: distributed listing matches the paged client listing") {
    client.createFilesystem("cat")
    for (i <- 0 until 15) client.uploadString("cat", f"d1/f$i%02d.txt", "x")
    for (i <- 0 until 15) client.uploadString("cat", f"d2/s$i%02d/leaf.txt", "yy")
    client.uploadString("cat", "root.txt", "zzz")
    client.setPathProperties("cat", "root.txt", Map("k" -> "v")) // not a listed path
    val df = client.listPathsDF(spark, "cat")
    val fromDf = df.collect().map(r => (r.getString(0), r.getBoolean(1), r.getLong(2))).toSet
    val fromClient = client.listPaths("cat", maxResults = Int.MaxValue)
      .map(e => (e.name, e.isDirectory, e.length)).toSet
    assert(fromDf == fromClient)
    assert(fromDf.size == 48) // 15 + (15 dirs + 15 leaves) + d1 + d2 + root.txt
    // non-recursive stays shallow
    assert(client.listPathsDF(spark, "cat", recursive = false).count() == 3)
    // a missing directory is an empty frame, as the reference's 404
    val missing = client.listPathsDF(spark, "cat", "no/such/dir")
    assert(missing.schema == LakeClient.ListingSchema && missing.count() == 0)
    // distributed: the subtree scan runs on >1 partition when dirs allow
    assert(df.rdd.getNumPartitions > 1)
    client.deleteFilesystem("cat")
  }

  test("binaryFile source reads lake objects as opaque bytes") {
    client.createFilesystem("bin")
    client.uploadString("bin", "blobs/a.bin", "alpha")
    client.uploadString("bin", "blobs/b.bin", "bravo!")
    val df = client.readBinary(spark, "bin", "blobs")
    val rows = df.select("path", "length").collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1))).toMap
    assert(rows == Map("a.bin" -> 5L, "b.bin" -> 6L))
    // content is the raw payload (the reference's untyped byte stream)
    val content = df.where(df("path").endsWith("a.bin"))
      .select("content").collect()(0).getAs[Array[Byte]](0)
    assert(new String(content, "UTF-8") == "alpha")
  }
}
