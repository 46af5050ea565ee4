package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.core.DiffConfig
import graft.ops.{KeyDiff, VennDiff}

/** Drives the custom Avro FileFormat against container files written by
  * [[AvroFixtures]] in the reference fixtures' shapes (FIXTURES.md F1–F4,
  * snappy-coded except userdata4).
  */
class AvroSourceSpec extends AnyFunSuite {

  private lazy val fixtures: String = {
    val dir = Files.createTempDirectory("avro-fixtures").toFile
    AvroFixtures.writeAll(dir)
    FileUtils.forceDeleteOnExit(dir)
    dir.getPath
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def avro(path: String) = spark.read.format("avro").load(path)

  test("reads snappy-coded userdata1 with full schema") {
    val df = avro(s"$fixtures/sample_avro/userdata1.avro")
    assert(df.count() == 1000)
    assert(df.columns.length == 13)
    assert(df.schema("id").dataType.typeName == "long")
    assert(df.schema("salary").dataType.typeName == "double")
    // spot value from the Avro-JSON golden (userdata1.json row 1)
    val r = df.filter(col("id") === 1)
      .select("first_name", "salary").collect().head
    assert(r.getString(0) == "Amanda")
    assert(r.getDouble(1) == 49756.53)
  }

  test("reads null-codec userdata4 (codec auto-detect, no config flag)") {
    // Written in many blocks whose counts sum to 1003 (the reference's
    // README.txt claims 1000 rows for its userdata4) — trust the bytes.
    assert(avro(s"$fixtures/sample_avro/userdata4.avro").count() == 1003)
  }

  test("column pruning reaches the Avro reader schema") {
    val df = avro(s"$fixtures/sample_avro/userdata1.avro").select("id", "email")
    assert(df.count() == 1000)
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("ReadSchema") && scan.contains("id") && !scan.contains("salary"),
      s"expected pruned scan, got: $scan")
  }

  test("count(*) works with an empty required schema") {
    assert(avro(s"$fixtures/sample_avro/userdata2.avro").count() == 998)
  }

  test("avroSchema option acts as reader schema override (O3)") {
    val sub =
      """{"type":"record","name":"kylosample","fields":[
        |{"name":"id","type":"long"},
        |{"name":"email","type":"string"}]}""".stripMargin
    val df = spark.read.format("avro").option("avroSchema", sub)
      .load(s"$fixtures/sample_avro/userdata1.avro")
    assert(df.columns.toSeq == Seq("id", "email"))
    assert(df.count() == 1000)
  }

  test("nested record fixture: studentAssignments composite key diff") {
    val old = avro(s"$fixtures/fake_account_tc_guid_1/studentAssignments.avro")
    val neu = avro(s"$fixtures/fake_account_tc_guid_2/studentAssignments.avro")
    assert(old.schema("submission").dataType.typeName == "struct")
    val d = KeyDiff.diff(old, neu, Seq("studentId", "assignmentId"))
    val counts = KeyDiff.summary(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == d.count())
    assert(d.count() > 0)
  }

  test("map-of-record fixture: students venn + keyDiff via canonicalization") {
    // The new side is the old one with one scalar perturbed.
    val old = avro(s"$fixtures/fake_account_tc_guid_1/students.avro")
    assert(old.schema("weeklyMessageAggregates").dataType.typeName == "map")
    // self-venn: everything intersects, nothing added/removed
    val s = VennDiff.summary(old, old).collect().head
    assert(s.getLong(0) == 0 && s.getLong(1) == 0 && s.getLong(2) == old.count())
    // perturbed new side: one scalar bumped on a subset ⇒ changed rows
    val neu = old.withColumn("pageviewCount",
      when(col("globalStudentId").substr(-1, 1) === "1",
        col("pageviewCount") + 1).otherwise(col("pageviewCount")))
    val d = KeyDiff.diff(old, neu, Seq("globalStudentId"))
    val byStatus = KeyDiff.summary(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byStatus.getOrElse("changed", 0L) > 0)
    assert(byStatus.getOrElse("added", 0L) == 0 && byStatus.getOrElse("removed", 0L) == 0)
    val changedRow = d.filter(col(KeyDiff.StatusCol) === "changed").limit(1)
      .select(col(s"${KeyDiff.ChangedFieldsCol}"))
    assert(changedRow.collect().head.getMap[String, Any](0).keys.toSeq == Seq("pageviewCount"))
    // self-diff all unchanged even with map columns
    val selfD = KeyDiff.diff(old, old, Seq("globalStudentId"))
    assert(selfD.filter(col(KeyDiff.StatusCol) =!= "unchanged").isEmpty)
    // 3-level nested arrays-of-records fixture (F4) reads too
    assert(avro(s"$fixtures/fake_account_tc_guid_2/assetStudents.avro").count() == 235)
  }

  test("flagship CLI parity: keyDiff(userdata1, userdata2, id)") {
    val old = avro(s"$fixtures/sample_avro/userdata1.avro")
    val neu = avro(s"$fixtures/sample_avro/userdata2.avro")
    val d = KeyDiff.diff(old, neu, Seq("id"))
    val counts = KeyDiff.summary(d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // 1000 old rows vs 998 new rows, ids overlap ⇒ removed ≥ 2
    assert(counts.getOrElse("removed", 0L) >= 2)
    assert(counts.values.sum >= 1000)
    // argument-flip symmetry: added(o→n) == removed(n→o)
    val flipped = KeyDiff.summary(KeyDiff.diff(neu, old, Seq("id"))).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.getOrElse("added", 0L) == flipped.getOrElse("removed", 0L))
    assert(counts.getOrElse("changed", 0L) == flipped.getOrElse("changed", 0L))
  }

  test("keepFields/ignoreFields projection composes like the reference") {
    val cfg = DiffConfig(
      keepFields = Some(Seq("id", "first_name", "email")),
      ignoreFields = Some(Seq("email")))
    val df = cfg.project(avro(s"$fixtures/sample_avro/userdata1.avro"))
    assert(df.columns.toSeq == Seq("id", "first_name"))
  }

  test("nested dotted-path diff key (reference TODO src/index.js:24-25)") {
    import spark.implicits._
    // key on a field INSIDE a nested struct — impossible in the reference
    val old = Seq((1L, ("a", 10)), (2L, ("b", 20)))
      .toDF("id", "sub").select(col("id"),
        col("sub._1").as("k").as("k"), col("sub._2").as("v"))
      .select(col("id"), struct(col("k"), col("v")).as("sub"))
    val neu = Seq((1L, ("a", 10)), (3L, ("c", 30)))
      .toDF("id", "sub").select(col("id"),
        col("sub._1").as("k"), col("sub._2").as("v"))
      .select(col("id"), struct(col("k"), col("v")).as("sub"))
    val d = KeyDiff.diff(old, neu, Seq("sub.k"))
    assert(d.columns.head == "sub.k")
    val statuses = d.collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(statuses == Map("a" -> "unchanged", "b" -> "removed", "c" -> "added"))
  }

  test("avro write: flat round-trip through all four codecs") {
    val src = avro(s"$fixtures/sample_avro/userdata1.avro")
    for (codec <- Seq("null", "deflate", "snappy", "zstandard")) {
      val out = java.nio.file.Files.createTempDirectory(s"avro-rt-$codec").toString
      src.write.format("avro").option("codec", codec).mode("overwrite").save(out)
      val back = avro(out)
      assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
        src.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      assert(back.count() == 1000)
      assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    }
  }

  test("avro write: partitionBy produces prunable directory layout") {
    import spark.implicits._
    val df = Seq((1L, "en", "aa"), (2L, "de", "bb"), (3L, "en", "cc"))
      .toDF("id", "lang", "text")
    val out = java.nio.file.Files.createTempDirectory("avro-part").toString
    df.write.format("avro").partitionBy("lang").mode("overwrite").save(out)
    val back = avro(out)
    assert(back.count() == 3)
    // partition pruning: the lang=en filter must reach the file index,
    // reading only that directory
    val pruned = back.filter(col("lang") === "en")
    assert(pruned.count() == 2)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(lang"),
      s"partition filter not applied:\n$scan")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("avro as a streaming file sink: writeStream lands readable container files") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = java.nio.file.Files.createTempDirectory("avro-stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("avro-ckpt").toString
    val q = mem.toDF().toDF("id", "text")
      .writeStream.format("avro")
      .option("checkpointLocation", ckpt)
      .option("path", out).start()
    try {
      mem.addData((1L, "hello"), (2L, "world"))
      q.processAllAvailable()
      mem.addData((3L, "again"))
      q.processAllAvailable()
    } finally q.stop()
    val back = avro(out)
    assert(back.count() == 3)
    assert(back.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("hello", "world", "again"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
  }

  test("mixed union [string,long,null] decodes as a member struct") {
    import org.apache.avro.Schema
    import org.apache.avro.file.DataFileWriter
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    val schemaJson =
      """{"type":"record","name":"u","fields":[
        |{"name":"id","type":"long"},
        |{"name":"val","type":["string","long","null"]}]}""".stripMargin
    val schema = new Schema.Parser().parse(schemaJson)
    val dir = java.nio.file.Files.createTempDirectory("avro-union").toFile
    val f = new java.io.File(dir, "u.avro")
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, f)
    def rec(id: Long, v: Any): GenericRecord = {
      val r = new GenericData.Record(schema)
      r.put("id", id); r.put("val", v); r
    }
    w.append(rec(1L, "a")); w.append(rec(2L, 7L)); w.append(rec(3L, null))
    w.close()

    val df = avro(f.getPath)
    val vt = df.schema("val")
    assert(vt.dataType.typeName == "struct" && vt.nullable)
    val st = vt.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(st.fieldNames.toSeq == Seq("member0", "member1"))
    assert(st("member0").dataType.typeName == "string")
    assert(st("member1").dataType.typeName == "long")
    val rows = df.orderBy("id")
      .selectExpr("id", "val.member0", "val.member1", "val IS NULL AS vnull")
      .collect()
    assert(rows(0).getString(1) == "a" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getLong(2) == 7L)
    assert(rows(2).getBoolean(3)) // null branch → whole struct null
    org.apache.commons.io.FileUtils.deleteQuietly(dir)
  }

  test("AvroTables.load wires cfg.schema as the reader schema (O19)") {
    val cfgSchema =
      """{"type":"record","name":"kylosample","fields":[
        |{"name":"id","type":"long"},
        |{"name":"first_name","type":"string"},
        |{"name":"email","type":"string"}]}""".stripMargin
    // cfg.schema alone: decoded columns = reader schema's, not the writer's 13
    val df = graft.io.AvroTables.load(spark,
      s"$fixtures/sample_avro/userdata1.avro", DiffConfig(schema = Some(cfgSchema)))
    assert(df.columns.toSeq == Seq("id", "first_name", "email"))
    assert(df.count() == 1000)
    assert(df.filter(col("id") === 1).select("first_name").collect()
      .head.getString(0) == "Amanda")
    // schema + keep/ignore compose: projection applies on top of the override
    val df2 = graft.io.AvroTables.load(spark,
      s"$fixtures/sample_avro/userdata1.avro",
      DiffConfig(schema = Some(cfgSchema), ignoreFields = Some(Seq("email"))))
    assert(df2.columns.toSeq == Seq("id", "first_name"))
    // no cfg: plain full-schema load
    assert(graft.io.AvroTables.load(spark,
      s"$fixtures/sample_avro/userdata1.avro").columns.length == 13)
  }

  test("avro write: decimal/date/timestamp logical types round-trip") {
    import spark.implicits._
    val df = Seq(
      (1L, BigDecimal("12345.67"), "2024-03-01", "2024-03-01 12:34:56.789"),
      (2L, BigDecimal("-0.01"), "1999-12-31", "1999-12-31 23:59:59.999"))
      .toDF("id", "amount", "d", "ts")
      .select(col("id"),
        col("amount").cast("decimal(10,2)").as("amount"),
        col("d").cast("date").as("d"),
        col("ts").cast("timestamp").as("ts"))
    val out = java.nio.file.Files.createTempDirectory("avro-logical").toString
    df.write.format("avro").mode("overwrite").save(out)
    val back = avro(out)
    // logical types survive the round-trip as the same Catalyst types
    assert(back.schema("amount").dataType.typeName == "decimal(10,2)")
    assert(back.schema("d").dataType.typeName == "date")
    assert(back.schema("ts").dataType.typeName == "timestamp")
    assert(back.exceptAll(df).isEmpty && df.exceptAll(back).isEmpty)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("avro write: nested structs/arrays/maps round-trip") {
    val src = avro(s"$fixtures/fake_account_tc_guid_1/students.avro")
    val out = java.nio.file.Files.createTempDirectory("avro-rt-nested").toString
    src.write.format("avro").mode("overwrite").save(out)
    val back = avro(out)
    assert(back.count() == src.count())
    // map-typed columns block exceptAll — compare via canonical JSON
    import org.apache.spark.sql.functions.{md5, to_json, struct => fstruct}
    val cols = src.columns.sorted.map(col)
    def digest(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(to_json(fstruct(cols.toIndexedSeq: _*))).as("h"))
        .orderBy("h").collect().map(_.getString(0)).toSeq
    assert(digest(back) == digest(src))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
  }

  test("fixture generator writes byte-identical files") {
    val again = Files.createTempDirectory("avro-fixtures-again").toFile
    try {
      AvroFixtures.writeAll(again)
      val root = new File(fixtures).toPath
      val files = FileUtils.listFiles(root.toFile, null, true).asScala.toSeq
      assert(files.size == 7)
      files.foreach { f =>
        val twin = new File(again, root.relativize(f.toPath).toString)
        assert(FileUtils.contentEquals(f, twin), s"$f differs between generations")
      }
    } finally FileUtils.deleteQuietly(again)
  }

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rows of `df`, and the number of partitions each input file's rows came from. */
  private def readWithSpans(df: org.apache.spark.sql.DataFrame): (Seq[Row], Map[String, Long]) = {
    val spans = df.select(col("_metadata.file_name").as("f"), spark_partition_id().as("p"))
      .distinct().groupBy("f").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    (df.collect().toSeq, spans)
  }

  test("multi-split reads: each file spans many splits and rows equal a single-split read") {
    val rows = (1 to 2000).map(AvroFixtures.userRow(_))
    for (codec <- Seq("null", "deflate", "snappy", "zstandard")) {
      val dir = Files.createTempDirectory(s"avro-split-$codec").toFile
      try {
        // 1 KB blocks: each file holds over a hundred sync markers
        for (k <- 0 to 1)
          AvroFixtures.write(new File(dir, s"part$k.avro"), AvroFixtures.UserData, codec,
            rows.slice(k * 1000, (k + 1) * 1000).iterator, syncInterval = 1024)
        val (whole, wholeSpans) = readWithSpans(avro(dir.getPath))
        assert(wholeSpans == Map("part0.avro" -> 1L, "part1.avro" -> 1L), codec)
        assert(whole.size == 2000, codec)
        val (split, splitSpans) = withConf(
          "spark.sql.files.maxPartitionBytes" -> "8192",
          "spark.sql.files.openCostInBytes" -> "1024") {
          readWithSpans(avro(dir.getPath))
        }
        assert(splitSpans.keySet == Set("part0.avro", "part1.avro") &&
          splitSpans.values.forall(_ > 1), s"$codec: $splitSpans")
        def multiset(rs: Seq[Row]) = rs.groupBy(identity).view.mapValues(_.size).toMap
        assert(multiset(split) == multiset(whole), codec)
      } finally FileUtils.deleteQuietly(dir)
    }
  }

  private def recordSchema(fields: String): Schema =
    new Schema.Parser().parse(s"""{"type": "record", "name": "r", "fields": [$fields]}""")

  test("mixed-schema directory: a column that changes type fails naming file, column and types") {
    val dir = Files.createTempDirectory("avro-mixed-type").toFile
    try {
      val longs = recordSchema("""{"name": "id", "type": "long"}, {"name": "v", "type": "long"}""")
      val strings = recordSchema("""{"name": "id", "type": "long"}, {"name": "v", "type": "string"}""")
      AvroFixtures.write(new File(dir, "a.avro"), longs, "null",
        Iterator(AvroFixtures.record(longs, "id" -> 1L, "v" -> 10L)))
      AvroFixtures.write(new File(dir, "b.avro"), strings, "null",
        Iterator(AvroFixtures.record(strings, "id" -> 2L, "v" -> "ten")))
      val df = avro(dir.getPath)
      // the table's schema comes from one file; the other one cannot be read
      val (offender, fileType, tableType) = df.schema("v").dataType match {
        case LongType => ("b.avro", "string", "bigint")
        case _ => ("a.avro", "bigint", "string")
      }
      val e = intercept[Exception](df.collect())
      val msg = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
      assert(msg.contains(offender) && msg.contains("column `v`") &&
        msg.contains(s"type $fileType in the file") && msg.contains(s"table's type $tableType"),
        msg)
    } finally FileUtils.deleteQuietly(dir)
  }

  test("mixed-schema directory: a nested record that gained a field decodes by name") {
    val dir = Files.createTempDirectory("avro-mixed-nested").toFile
    try {
      val before = recordSchema("""{"name": "id", "type": "long"}, {"name": "sub", "type":
        |{"type": "record", "name": "s", "fields": [{"name": "x", "type": "long"}]}}""".stripMargin)
      // the new field comes first, so positions differ between the files
      val after = recordSchema("""{"name": "id", "type": "long"}, {"name": "sub", "type":
        |{"type": "record", "name": "s", "fields": [{"name": "y", "type": "string"},
        |{"name": "x", "type": "long"}]}}""".stripMargin)
      AvroFixtures.write(new File(dir, "a.avro"), before, "null", Iterator(AvroFixtures.record(
        before, "id" -> 1L, "sub" -> AvroFixtures.record(before.getField("sub").schema(), "x" -> 10L))))
      AvroFixtures.write(new File(dir, "b.avro"), after, "null", Iterator(AvroFixtures.record(
        after, "id" -> 2L,
        "sub" -> AvroFixtures.record(after.getField("sub").schema(), "y" -> "new", "x" -> 20L))))
      def read(schema: String) =
        spark.read.format("avro").schema(schema).load(dir.getPath).orderBy("id")
      // the missing leaf is null
      assert(read("id BIGINT, sub STRUCT<x: BIGINT, y: STRING>")
        .select("id", "sub.x", "sub.y").collect().toSeq ==
        Seq(Row(1L, 10L, null), Row(2L, 20L, "new")))
      // the extra leaf is skipped
      assert(read("id BIGINT, sub STRUCT<x: BIGINT>").select("id", "sub.x").collect().toSeq ==
        Seq(Row(1L, 10L), Row(2L, 20L)))
    } finally FileUtils.deleteQuietly(dir)
  }
}
