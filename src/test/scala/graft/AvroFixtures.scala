package graft

import java.io.{File, FileOutputStream}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileConstants, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** Avro container fixtures for [[AvroSourceSpec]], in the shapes FIXTURES.md
  * describes (F1–F4). Files are written with Avro's own `DataFileWriter`,
  * never with the engine's writer, so the read tests do not check the
  * writer against itself. Every value comes from a `Random` seeded by
  * [[Seed]] and the row's identity, and every file carries the same fixed
  * sync marker, so two generations are byte-identical.
  *
  * Layout under the root passed to [[writeAll]]:
  *   - `sample_avro/userdata1.avro`: F1, snappy, 1000 rows, ids 1..1000;
  *     row 1 is ("Amanda", salary 49756.53);
  *   - `sample_avro/userdata2.avro`: F1, snappy, 998 rows, ids 6..1003,
  *     salary changed on every id divisible by 10;
  *   - `sample_avro/userdata4.avro`: F1, null codec, 1003 rows in many blocks;
  *   - `fake_account_tc_guid_{1,2}/studentAssignments.avro`: F2 old/new pair
  *     over the composite key (studentId, assignmentId);
  *   - `fake_account_tc_guid_1/students.avro`: F3, map<record<map<record>>>
  *     and arrays of records;
  *   - `fake_account_tc_guid_2/assetStudents.avro`: F4, 235 rows of arrays of
  *     records holding arrays of records.
  */
object AvroFixtures {

  val Seed = 42L

  private val Sync: Array[Byte] = Array.tabulate[Byte](16)(i => (0x5a ^ (i * 37)).toByte)

  private def parse(json: String): Schema = new Schema.Parser().parse(json)

  private def rng(parts: Any*): Random = new Random(Seed * 31 + parts.mkString("/").hashCode)

  /** Writes `rows` to `f` with the given codec; a small `syncInterval`
    * (bytes per block) yields many blocks.
    */
  def write(f: File, schema: Schema, codec: String, rows: Iterator[GenericRecord],
      syncInterval: Int = DataFileConstants.DEFAULT_SYNC_INTERVAL): Unit = {
    f.getParentFile.mkdirs()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
    w.setCodec(CodecFactory.fromString(codec))
    w.setSyncInterval(syncInterval)
    w.create(schema, new FileOutputStream(f), Sync.clone())
    try rows.foreach(w.append) finally w.close()
  }

  /** Builds a record of `schema`, or of the record branch of a union. */
  def record(schema: Schema, values: (String, Any)*): GenericRecord = {
    val r = new GenericData.Record(nonNull(schema))
    values.foreach { case (k, v) => r.put(k, v) }
    r
  }

  private def nonNull(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION) s.getTypes.asScala.find(_.getType != Schema.Type.NULL).get
    else s

  private def fieldSchema(s: Schema, name: String): Schema = nonNull(s).getField(name).schema()

  private def itemSchema(s: Schema): Schema = nonNull(nonNull(s).getElementType)

  private def valueSchema(s: Schema): Schema = nonNull(nonNull(s).getValueType)

  private def list(xs: Seq[Any]): java.util.List[Any] = xs.asJava

  /** A sorted map, so that the written entry order does not depend on hashing. */
  private def map(kvs: Seq[(String, Any)]): java.util.Map[String, Any] =
    new java.util.TreeMap[String, Any](kvs.toMap.asJava)

  def writeAll(root: File): File = {
    val sample = new File(root, "sample_avro")
    write(new File(sample, "userdata1.avro"), UserData, "snappy",
      (1 to 1000).iterator.map(userRow(_)))
    write(new File(sample, "userdata2.avro"), UserData, "snappy",
      (6 to 1003).iterator.map(id => userRow(id, salaryBump = id % 10 == 0)))
    write(new File(sample, "userdata4.avro"), UserData, "null",
      (1 to 1003).iterator.map(userRow(_)), syncInterval = 8 * 1024)

    val guid1 = new File(root, "fake_account_tc_guid_1")
    val guid2 = new File(root, "fake_account_tc_guid_2")
    write(new File(guid1, "studentAssignments.avro"), StudentAssignments, "snappy",
      (for (s <- 1 to 30; a <- 1 to 10) yield assignmentRow(s, a, newSide = false)).iterator)
    write(new File(guid2, "studentAssignments.avro"), StudentAssignments, "snappy",
      (for (s <- 2 to 31; a <- 1 to 10) yield assignmentRow(s, a, newSide = true)).iterator)
    write(new File(guid1, "students.avro"), Students, "snappy",
      (1 to 200).iterator.map(studentRow))
    write(new File(guid2, "assetStudents.avro"), AssetStudents, "snappy",
      (1 to 235).iterator.map(assetRow))
    root
  }

  // ---- F1: flat, 13-column userdata -----------------------------------------

  val UserData: Schema = parse(
    """{"type": "record", "name": "kylosample", "fields": [
      |{"name": "registration_dttm", "type": "string"},
      |{"name": "id", "type": "long"},
      |{"name": "first_name", "type": "string"},
      |{"name": "last_name", "type": "string"},
      |{"name": "email", "type": "string"},
      |{"name": "gender", "type": "string"},
      |{"name": "ip_address", "type": "string"},
      |{"name": "cc", "type": ["null", "long"]},
      |{"name": "country", "type": "string"},
      |{"name": "birthdate", "type": "string"},
      |{"name": "salary", "type": ["null", "double"]},
      |{"name": "title", "type": "string"},
      |{"name": "comments", "type": "string"}]}""".stripMargin)

  private val FirstNames = Array("Amanda", "Albert", "Evelyn", "Denise", "Carlos",
    "Kathryn", "Samuel", "Harry", "Jose", "Emily", "Mildred", "Gregory", "Irene")
  private val LastNames = Array("Jordan", "Freeman", "Morgan", "Riley", "Burns",
    "White", "Holmes", "Howell", "Foster", "Stewart", "Perez", "Bishop")
  private val Countries = Array("Indonesia", "Canada", "Russia", "China", "Brazil",
    "Portugal", "Sweden", "Peru", "Philippines", "France")
  private val Titles = Array("Internal Auditor", "Accountant IV", "Structural Engineer",
    "Senior Cost Accountant", "Account Representative III", "")

  /** One userdata row. Id 1 is the spot row of the reference's userdata1. */
  def userRow(id: Int, salaryBump: Boolean = false): GenericRecord = {
    val r = rng("user", id)
    val first = if (id == 1) "Amanda" else FirstNames(r.nextInt(FirstNames.length))
    val last = if (id == 1) "Jordan" else LastNames(r.nextInt(LastNames.length))
    val cc = if (r.nextInt(5) == 0) null else java.lang.Long.valueOf(r.nextLong() & 0xffffffffffffL)
    val salary =
      if (id == 1) java.lang.Double.valueOf(49756.53)
      else if (r.nextInt(15) == 0) null
      else java.lang.Double.valueOf((r.nextInt(25000000) + 1000000) / 100.0)
    val bumped =
      if (salaryBump && salary != null) java.lang.Double.valueOf(salary + 1000.0) else salary
    record(UserData,
      "registration_dttm" -> f"2016-02-${1 + id % 28}%02dT${id % 24}%02d:${id % 60}%02d:29Z",
      "id" -> id.toLong,
      "first_name" -> first,
      "last_name" -> last,
      "email" -> s"${first.head.toLower}${last.toLowerCase}$id@example.com",
      "gender" -> (if (r.nextBoolean()) "Female" else "Male"),
      "ip_address" -> Seq.fill(4)(r.nextInt(256)).mkString("."),
      "cc" -> cc,
      "country" -> Countries(r.nextInt(Countries.length)),
      "birthdate" -> s"${1 + r.nextInt(12)}/${1 + r.nextInt(28)}/${1950 + r.nextInt(50)}",
      "salary" -> bumped,
      "title" -> Titles(r.nextInt(Titles.length)),
      "comments" -> (if (r.nextInt(4) == 0) "" else s"comment ${r.nextInt(1000)}"))
  }

  // ---- F2: nested submission record, composite key --------------------------

  val StudentAssignments: Schema = {
    val strings = Seq("globalCourseId", "courseLtiContextId", "ltiTcGuid", "globalStudentId",
      "studentId", "globalAssignmentId", "assignmentId", "assignmentName", "assignmentStatus")
      .map(n => s"""{"name": "$n", "type": ["string", "null"]}""")
    parse(
      s"""{"type": "record", "name": "topLevelRecord",
         |"namespace": "com.instructure.analytics.course", "fields": [
         |${strings.mkString(",\n")},
         |{"name": "dueDate", "type": ["long", "null"]},
         |{"name": "overrideDueDate", "type": ["long", "null"]},
         |{"name": "assignmentListedMaxScore", "type": ["double", "null"]},
         |{"name": "submission", "type": [{"type": "record", "name": "submission", "fields": [
         |  {"name": "score", "type": ["double", "null"]},
         |  {"name": "submissionPercentage", "type": ["double", "null"]},
         |  {"name": "grade", "type": ["string", "null"]},
         |  {"name": "isPublished", "type": "boolean"},
         |  {"name": "submittedAt", "type": ["long", "null"]},
         |  {"name": "isLateOverride", "type": ["boolean", "null"]},
         |  {"name": "isMissingOverride", "type": ["boolean", "null"]},
         |  {"name": "lateIfPastDue", "type": "boolean"},
         |  {"name": "missingIfPastDueAndExpected", "type": "boolean"}]}, "null"]}]}""".stripMargin)
  }

  /** Old side: students 1..30; new side: students 2..31, where a submission
    * whose `10 * student + assignment` is divisible by 7 is regraded.
    */
  private def assignmentRow(student: Int, assignment: Int, newSide: Boolean): GenericRecord = {
    val r = rng("assignment", student, assignment)
    val due = 1577836800000L + assignment * 604800000L
    val submission =
      if (r.nextInt(6) == 0) null
      else {
        val regrade = newSide && (student * 10 + assignment) % 7 == 0
        val score = r.nextInt(101) + (if (regrade) 0.5 else 0.0)
        record(StudentAssignments.getField("submission").schema(),
          "score" -> score,
          "submissionPercentage" -> score / 100.0,
          "grade" -> (if (score >= 60) "pass" else "fail"),
          "isPublished" -> r.nextBoolean(),
          "submittedAt" -> (if (r.nextInt(4) == 0) null else java.lang.Long.valueOf(due - r.nextInt(86400000))),
          "isLateOverride" -> (if (r.nextBoolean()) null else java.lang.Boolean.valueOf(r.nextBoolean())),
          "isMissingOverride" -> (if (r.nextBoolean()) null else java.lang.Boolean.FALSE),
          "lateIfPastDue" -> r.nextBoolean(),
          "missingIfPastDueAndExpected" -> r.nextBoolean())
      }
    record(StudentAssignments,
      "globalCourseId" -> "course-1",
      "courseLtiContextId" -> "ctx-1",
      "ltiTcGuid" -> "fake_account_tc_guid",
      "globalStudentId" -> s"gs-$student",
      "studentId" -> s"$student",
      "globalAssignmentId" -> s"ga-$assignment",
      "assignmentId" -> s"$assignment",
      "assignmentName" -> s"Assignment $assignment",
      "assignmentStatus" -> (if (assignment % 4 == 0) "unpublished" else "published"),
      "dueDate" -> due,
      "overrideDueDate" -> (if (r.nextInt(5) == 0) java.lang.Long.valueOf(due + 86400000L) else null),
      "assignmentListedMaxScore" -> 100.0,
      "submission" -> submission)
  }

  // ---- F3: arrays of records and map<record<map<record>>> -------------------

  val Students: Schema = parse(
    """{"type": "record", "name": "topLevelRecord",
      |"namespace": "com.instructure.analytics.course", "fields": [
      |{"name": "globalStudentId", "type": "string"},
      |{"name": "studentName", "type": ["string", "null"]},
      |{"name": "overallCourseScore", "type": ["null", "double"]},
      |{"name": "pageviewCount", "type": ["null", "long"]},
      |{"name": "participationCount", "type": ["null", "long"]},
      |{"name": "totalMessagesFromStudent", "type": "long"},
      |{"name": "totalMessagesFromInstructor", "type": "long"},
      |{"name": "enrollments", "type": {"type": "array", "items": {"type": "record",
      |  "name": "enrollment", "fields": [
      |  {"name": "globalEnrollmentId", "type": ["string", "null"]},
      |  {"name": "globalSectionId", "type": ["string", "null"]},
      |  {"name": "overallCourseScoreForSection", "type": ["double", "null"]}]}}},
      |{"name": "assignmentIds", "type": {"type": "array", "items": ["string", "null"]}},
      |{"name": "weeklyMessageAggregates", "type": {"type": "map", "values": {
      |  "type": "record", "name": "weeklyMessageAggregate", "fields": [
      |  {"name": "startDate", "type": ["long", "null"]},
      |  {"name": "messageCountFromStudent", "type": "long"},
      |  {"name": "messageCountFromInstructor", "type": "long"},
      |  {"name": "dailyMessageAggregates", "type": ["null", {"type": "map", "values": {
      |    "type": "record", "name": "dailyMessageAggregate", "fields": [
      |    {"name": "startDate", "type": ["long", "null"]},
      |    {"name": "messageCountFromStudent", "type": "long"},
      |    {"name": "messageCountFromInstructor", "type": "long"}]}}]}]}}}]}""".stripMargin)

  private def studentRow(i: Int): GenericRecord = {
    val r = rng("student", i)
    val enrollment = itemSchema(Students.getField("enrollments").schema())
    val weekly = valueSchema(Students.getField("weeklyMessageAggregates").schema())
    val daily = valueSchema(fieldSchema(weekly, "dailyMessageAggregates"))
    def counts(s: Schema, start: Long) = record(s,
      "startDate" -> (if (r.nextInt(8) == 0) null else java.lang.Long.valueOf(start)),
      "messageCountFromStudent" -> r.nextInt(20).toLong,
      "messageCountFromInstructor" -> r.nextInt(20).toLong)
    val weeks = (0 until r.nextInt(4)).map { w =>
      val start = 1577836800000L + w * 604800000L
      val days =
        if (r.nextInt(3) == 0) null
        else map((0 until 1 + r.nextInt(3)).map(d => s"2020-01-${w * 7 + d + 1}" -> counts(daily, start + d * 86400000L)))
      val week = counts(weekly, start)
      week.put("dailyMessageAggregates", days)
      s"2020-W${w + 1}" -> week
    }
    record(Students,
      "globalStudentId" -> s"gs-$i",
      "studentName" -> (if (r.nextInt(10) == 0) null else s"Student $i"),
      "overallCourseScore" -> (if (r.nextInt(6) == 0) null else java.lang.Double.valueOf(r.nextInt(1000) / 10.0)),
      "pageviewCount" -> (if (i % 13 == 0) null else java.lang.Long.valueOf(r.nextInt(500).toLong)),
      "participationCount" -> (if (r.nextInt(7) == 0) null else java.lang.Long.valueOf(r.nextInt(50).toLong)),
      "totalMessagesFromStudent" -> r.nextInt(100).toLong,
      "totalMessagesFromInstructor" -> r.nextInt(100).toLong,
      "enrollments" -> list((0 until r.nextInt(3)).map(e => record(enrollment,
        "globalEnrollmentId" -> s"ge-$i-$e",
        "globalSectionId" -> (if (r.nextBoolean()) null else s"sec-${r.nextInt(4)}"),
        "overallCourseScoreForSection" -> (if (r.nextBoolean()) null else java.lang.Double.valueOf(r.nextInt(100)))))),
      "assignmentIds" -> list((0 until r.nextInt(5)).map(a => if (a == 2) null else s"a-$a")),
      "weeklyMessageAggregates" -> map(weeks))
  }

  // ---- F4: arrays of records holding arrays of records ----------------------

  val AssetStudents: Schema = parse(
    """{"type": "record", "name": "topLevelRecord",
      |"namespace": "com.instructure.analytics.course", "fields": [
      |{"name": "globalAssetId", "type": "string"},
      |{"name": "assetName", "type": ["string", "null"]},
      |{"name": "weeklyAggregates", "type": ["null", {"type": "array", "items": [
      |  {"type": "record", "name": "weeklyAggregate", "fields": [
      |  {"name": "weekStart", "type": ["long", "null"]},
      |  {"name": "pageviewCount", "type": ["long", "null"]},
      |  {"name": "pageviewedStudentCounts", "type": ["null", {"type": "array", "items": [
      |    {"type": "record", "name": "studentCount", "fields": [
      |    {"name": "globalStudentId", "type": ["string", "null"]},
      |    {"name": "count", "type": "long"}]}, "null"]}]},
      |  {"name": "participatedStudentCounts", "type": ["null", {"type": "array",
      |    "items": ["studentCount", "null"]}]}]}, "null"]}]}]}""".stripMargin)

  private def assetRow(i: Int): GenericRecord = {
    val r = rng("asset", i)
    val weekly = itemSchema(AssetStudents.getField("weeklyAggregates").schema())
    val counted = itemSchema(fieldSchema(weekly, "pageviewedStudentCounts"))
    def studentCounts: java.util.List[Any] =
      if (r.nextInt(4) == 0) null
      else list((0 until r.nextInt(4)).map(s =>
        if (r.nextInt(6) == 0) null
        else record(counted, "globalStudentId" -> s"gs-${r.nextInt(200)}", "count" -> (s + 1).toLong)))
    val weeks =
      if (r.nextInt(5) == 0) null
      else list((0 until r.nextInt(4)).map(w =>
        if (r.nextInt(7) == 0) null
        else record(weekly,
          "weekStart" -> java.lang.Long.valueOf(1577836800000L + w * 604800000L),
          "pageviewCount" -> (if (r.nextBoolean()) null else java.lang.Long.valueOf(r.nextInt(300).toLong)),
          "pageviewedStudentCounts" -> studentCounts,
          "participatedStudentCounts" -> studentCounts)))
    record(AssetStudents,
      "globalAssetId" -> s"asset-$i",
      "assetName" -> (if (r.nextInt(9) == 0) null else s"Asset $i"),
      "weeklyAggregates" -> weeks)
  }
}
