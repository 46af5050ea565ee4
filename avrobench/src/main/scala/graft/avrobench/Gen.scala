package graft.avrobench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{CodecFactory, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}

/** One benchmark workload: which diff it runs, over which inputs. */
final case class Workload(
    name: String,
    kind: Workload.Kind,
    codec: String,
    keys: Seq[String],
    rowsPerSide: Int) {
  def keyed: Boolean = kind != Workload.Venn
}

object Workload {
  sealed trait Kind
  /** Flat userdata rows, one `long` key, few changes. */
  case object Stable extends Kind
  /** Nested rows, composite string key, heavy churn, a delta write. */
  case object Churn extends Kind
  /** Key-less multiset of flat rows plus a map column. */
  case object Venn extends Kind

  // Sizes are set so that one in-session diff takes a few tenths of a second
  // on 4 cores: a 10 s run then holds 20 or more timed samples.
  val all: Seq[Workload] = Seq(
    Workload("keydiff_stable", Stable, "snappy", Seq("id"), 60000),
    Workload("keydiff_churn", Churn, "deflate", Seq("studentId", "assignmentId"), 15000),
    Workload("venn_bag", Venn, "null", Nil, 60000))

  def apply(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

/** The planted answer of one generated input pair. Fields that a workload
  * does not plant are 0.
  */
final case class Manifest(
    workload: String,
    seed: Long,
    rowsOld: Long,
    rowsNew: Long,
    added: Long,
    removed: Long,
    changed: Long,
    unchanged: Long,
    vennRemoved: Long,
    vennAdded: Long,
    vennCommon: Long,
    distinctRows: Long,
    deltaRows: Long,
    bytesOld: Long,
    bytesNew: Long) {

  def fields: Seq[(String, Any)] = productElementNames.toSeq.zip(productIterator.toSeq)

  def toJson: String = fields.map {
    case (k, v: String) => s""""$k": "$v""""
    case (k, v) => s""""$k": $v"""
  }.mkString("{", ", ", "}")
}

object Manifest {
  private val Field = """"(\w+)": ("[^"]*"|-?\d+)""".r

  /** Parses what [[Manifest.toJson]] wrote. */
  def fromJson(json: String): Manifest = {
    val kv = Field.findAllMatchIn(json).map(m => m.group(1) -> m.group(2)).toMap
    def long(k: String): Long = kv(k).toLong
    Manifest(kv("workload").stripPrefix("\"").stripSuffix("\""), long("seed"),
      long("rowsOld"), long("rowsNew"), long("added"), long("removed"), long("changed"),
      long("unchanged"), long("vennRemoved"), long("vennAdded"), long("vennCommon"),
      long("distinctRows"), long("deltaRows"), long("bytesOld"), long("bytesNew"))
  }

  def read(dir: File): Manifest =
    fromJson(java.nio.file.Files.readString(new File(dir, "manifest.json").toPath))
}

/** Seeded input generator. Writes both sides of a workload with
  * `org.apache.avro.file.DataFileWriter` directly, so the engine's own
  * writer never builds its input, and returns the planted answer.
  *
  * Every random draw comes from a `SplittableRandom` seeded by the workload
  * seed and the row's identity, and each file's sync marker is derived from
  * the seed: one seed always gives byte-identical files.
  */
object Gen {

  def oldFile(dir: File): File = new File(dir, "old.avro")
  def newFile(dir: File): File = new File(dir, "new.avro")

  /** `Gen --workload W --seed S --dir DIR`: writes the workload's inputs. */
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val m = generate(Workload(kv("workload")), kv("seed").toLong, new File(kv("dir")))
    println(s"# input: ${m.toJson}")
  }

  /** Writes `old.avro`, `new.avro` and `manifest.json` into `dir`. */
  def generate(w: Workload, seed: Long, dir: File): Manifest = {
    dir.mkdirs()
    val m = w.kind match {
      case Workload.Stable => stable(w, seed, dir)
      case Workload.Churn => churn(w, seed, dir)
      case Workload.Venn => venn(w, seed, dir)
    }
    val sized = m.copy(bytesOld = oldFile(dir).length, bytesNew = newFile(dir).length)
    java.nio.file.Files.writeString(new File(dir, "manifest.json").toPath, sized.toJson + "\n")
    sized
  }

  /** A stream of draws for one (seed, row, stream) triple. */
  private def rng(seed: Long, row: Long, stream: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(seed) ^ row) + stream)

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private final class Pair(w: Workload, seed: Long, dir: File, schema: Schema) {
    private def open(f: File, tag: Long): DataFileWriter[GenericRecord] = {
      val sync = new Array[Byte](16)
      rng(seed, -1L, tag).nextBytes(sync)
      val out = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](schema))
      out.setCodec(CodecFactory.fromString(w.codec))
      out.create(schema, new BufferedOutputStream(new FileOutputStream(f), 1 << 16), sync)
    }
    val old: DataFileWriter[GenericRecord] = open(oldFile(dir), 1L)
    val neu: DataFileWriter[GenericRecord] = open(newFile(dir), 2L)
    var rowsOld = 0L
    var rowsNew = 0L
    def writeOld(r: GenericRecord): Unit = { old.append(r); rowsOld += 1 }
    def writeNew(r: GenericRecord): Unit = { neu.append(r); rowsNew += 1 }
    def close(): Unit = { old.close(); neu.close() }
  }

  private def nullable(t: String): String = s"""["null", $t]"""

  // ---- F1: flat, 13-column userdata rows ------------------------------------

  private val userdataFields: String =
    Seq(
      """{"name": "registration_dttm", "type": "string"}""",
      """{"name": "id", "type": "long"}""",
      """{"name": "first_name", "type": "string"}""",
      """{"name": "last_name", "type": "string"}""",
      """{"name": "email", "type": "string"}""",
      """{"name": "gender", "type": "string"}""",
      """{"name": "ip_address", "type": "string"}""",
      s"""{"name": "cc", "type": ${nullable("\"long\"")}}""",
      """{"name": "country", "type": "string"}""",
      """{"name": "birthdate", "type": "string"}""",
      s"""{"name": "salary", "type": ${nullable("\"double\"")}}""",
      """{"name": "title", "type": "string"}""",
      """{"name": "comments", "type": "string"}""").mkString(",\n")

  val userdataSchema: Schema = new Schema.Parser().parse(
    s"""{"type": "record", "name": "kylosample", "fields": [$userdataFields]}""")

  val bagSchema: Schema = new Schema.Parser().parse(
    s"""{"type": "record", "name": "kylosample", "fields": [$userdataFields,
       |{"name": "tags", "type": {"type": "map", "values": "long"}}]}""".stripMargin)

  private val firstNames = Array("Amanda", "Albert", "Evelyn", "Denise", "Carlos",
    "Kathryn", "Samuel", "Harry", "Jose", "Emily", "Mildred", "Gregory", "Irene", "Todd")
  private val lastNames = Array("Jordan", "Freeman", "Morgan", "Riley", "Burns",
    "White", "Holmes", "Howell", "Foster", "Stewart", "Perez", "Bishop", "Ward", "Hall")
  private val countries = Array("Indonesia", "Canada", "Russia", "China", "Brazil",
    "Portugal", "Sweden", "France", "Philippines", "Peru", "Japan", "Poland")
  private val titles = Array("", "Internal Auditor", "Accountant IV", "Structural Engineer",
    "Senior Cost Accountant", "Account Executive", "Librarian", "Nurse", "VP Sales")
  private val comments = Array("", "1E+02", "", "ÅÍÎÏ˝ÓÔÒÚÆ☃", "", "<script>alert('hi')</script>",
    "", "() { _; } >_[$($())] { echo boom; }", "", "Ω≈ç√∫˜µ≤≥÷")

  private def pick[T](r: SplittableRandom, a: Array[T]): T = a(r.nextInt(a.length))

  private def userdata(schema: Schema, id: Long, r: SplittableRandom): GenericData.Record = {
    val rec = new GenericData.Record(schema)
    val first = pick(r, firstNames)
    val last = pick(r, lastNames)
    rec.put("registration_dttm", f"2016-02-${1 + r.nextInt(28)}%02dT${r.nextInt(24)}%02d:" +
      f"${r.nextInt(60)}%02d:${r.nextInt(60)}%02dZ")
    rec.put("id", id)
    rec.put("first_name", first)
    rec.put("last_name", last)
    rec.put("email", s"${first.head.toLower}${last.toLowerCase}$id@example.com")
    rec.put("gender", if (r.nextBoolean()) "Female" else "Male")
    rec.put("ip_address", s"${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}.${r.nextInt(256)}")
    rec.put("cc", if (r.nextInt(10) == 0) null else java.lang.Long.valueOf(
      4000000000000000L + r.nextLong(999999999999999L)))
    rec.put("country", pick(r, countries))
    rec.put("birthdate", if (r.nextInt(8) == 0) "" else
      s"${1 + r.nextInt(12)}/${1 + r.nextInt(28)}/${1950 + r.nextInt(50)}")
    rec.put("salary", if (r.nextInt(20) == 0) null else
      java.lang.Double.valueOf(r.nextInt(28600000) / 100.0 + 12000.0))
    rec.put("title", pick(r, titles))
    rec.put("comments", pick(r, comments))
    rec
  }

  /** Scalar fields a `keydiff_stable` change may touch, and how it changes
    * each one so that the new value always differs from the old.
    */
  private val scalarChanges: Array[(String, Any => Any)] = Array(
    "email" -> (v => s"x$v"),
    "salary" -> (v => if (v == null) 1000.0 else v.asInstanceOf[Double] + 1.25),
    "title" -> (v => s"$v II"),
    "cc" -> (v => if (v == null) 4000000000000001L else null),
    "country" -> (v => s"${v}ia"))

  private def stable(w: Workload, seed: Long, dir: File): Manifest = {
    val out = new Pair(w, seed, dir, userdataSchema)
    var added, removed, changed, unchanged = 0L
    // 1% removed, 1% added, 2% changed; ids of the added rows interleave
    // with the rest, as new records do in a real extract.
    val universe = (w.rowsPerSide / 0.99).toLong
    try {
      var id = 1L
      while (id <= universe) {
        val r = rng(seed, id)
        val cls = r.nextInt(100)
        val base = userdata(userdataSchema, id, r)
        if (cls == 0) { out.writeOld(base); removed += 1 }
        else if (cls == 1) { out.writeNew(base); added += 1 }
        else if (cls < 4) {
          out.writeOld(base)
          val next = new GenericData.Record(base, true)
          val first = r.nextInt(scalarChanges.length)
          val touched =
            if (r.nextBoolean()) Seq(first)
            else Seq(first, (first + 1 + r.nextInt(scalarChanges.length - 1)) % scalarChanges.length)
          touched.foreach { i =>
            val (f, change) = scalarChanges(i)
            next.put(f, change(next.get(f)))
          }
          out.writeNew(next)
          changed += 1
        } else { out.writeOld(base); out.writeNew(base); unchanged += 1 }
        id += 1
      }
    } finally out.close()
    Manifest(w.name, seed, out.rowsOld, out.rowsNew, added, removed, changed, unchanged,
      0, 0, 0, 0, added + removed + changed, 0, 0)
  }

  // ---- F2/F3: nested student-assignment rows ---------------------------------

  val churnSchema: Schema = new Schema.Parser().parse(
    s"""{"type": "record", "name": "topLevelRecord",
       | "namespace": "com.instructure.analytics.course", "fields": [
       |  {"name": "studentId", "type": "string"},
       |  {"name": "assignmentId", "type": "string"},
       |  {"name": "globalCourseId", "type": ["string", "null"]},
       |  {"name": "courseLtiContextId", "type": ["string", "null"]},
       |  {"name": "globalStudentId", "type": ["string", "null"]},
       |  {"name": "globalAssignmentId", "type": ["string", "null"]},
       |  {"name": "assignmentName", "type": ["string", "null"]},
       |  {"name": "assignmentStatus", "type": ["string", "null"]},
       |  {"name": "dueDate", "type": ["long", "null"]},
       |  {"name": "overrideDueDate", "type": ["long", "null"]},
       |  {"name": "assignmentListedMaxScore", "type": ["double", "null"]},
       |  {"name": "submission", "type": [{"type": "record", "name": "submission", "fields": [
       |    {"name": "score", "type": ["double", "null"]},
       |    {"name": "submissionPercentage", "type": ["double", "null"]},
       |    {"name": "grade", "type": ["string", "null"]},
       |    {"name": "isPublished", "type": "boolean"},
       |    {"name": "submittedAt", "type": ["long", "null"]},
       |    {"name": "isLateOverride", "type": ["boolean", "null"]},
       |    {"name": "isMissingOverride", "type": ["boolean", "null"]},
       |    {"name": "lateIfPastDue", "type": "boolean"},
       |    {"name": "missingIfPastDueAndExpected", "type": "boolean"}]}, "null"]},
       |  {"name": "enrollments", "type": {"type": "array", "items": {"type": "record",
       |    "name": "enrollment", "fields": [
       |    {"name": "globalEnrollmentId", "type": ["string", "null"]},
       |    {"name": "globalSectionId", "type": ["string", "null"]},
       |    {"name": "overallCourseScoreForSection", "type": ["double", "null"]}]}}},
       |  {"name": "weeklyMessageAggregates", "type": {"type": "map", "values": {"type": "record",
       |    "name": "weekly", "fields": [
       |    {"name": "startDate", "type": ["long", "null"]},
       |    {"name": "messageCountFromStudent", "type": "long"},
       |    {"name": "messageCountFromInstructor", "type": "long"}]}}}
       |]}""".stripMargin)

  private val submissionSchema = churnSchema.getField("submission").schema().getTypes.get(0)
  private val enrollmentSchema = churnSchema.getField("enrollments").schema().getElementType
  private val weeklySchema = churnSchema.getField("weeklyMessageAggregates").schema().getValueType
  private val statuses = Array("published", "unpublished", "deleted", null)
  private val grades = Array("A", "B", "C", "D", "F", "complete", null)

  private def submission(r: SplittableRandom): GenericData.Record = {
    val s = new GenericData.Record(submissionSchema)
    val score = r.nextInt(1000) / 10.0
    s.put("score", score)
    s.put("submissionPercentage", score / 100.0)
    s.put("grade", pick(r, grades))
    s.put("isPublished", r.nextBoolean())
    s.put("submittedAt", if (r.nextInt(5) == 0) null else
      java.lang.Long.valueOf(1700000000000L + r.nextLong(10000000000L)))
    s.put("isLateOverride", if (r.nextBoolean()) null else java.lang.Boolean.valueOf(r.nextBoolean()))
    s.put("isMissingOverride", if (r.nextBoolean()) null else java.lang.Boolean.valueOf(r.nextBoolean()))
    s.put("lateIfPastDue", r.nextBoolean())
    s.put("missingIfPastDueAndExpected", r.nextBoolean())
    s
  }

  private def enrollment(r: SplittableRandom, i: Long): GenericData.Record = {
    val e = new GenericData.Record(enrollmentSchema)
    e.put("globalEnrollmentId", s"enr-$i-${r.nextInt(1000)}")
    e.put("globalSectionId", if (r.nextInt(6) == 0) null else s"sec-${r.nextInt(50)}")
    e.put("overallCourseScoreForSection", if (r.nextInt(6) == 0) null else
      java.lang.Double.valueOf(r.nextInt(10000) / 100.0))
    e
  }

  private def weekly(r: SplittableRandom, week: Int): GenericData.Record = {
    val a = new GenericData.Record(weeklySchema)
    a.put("startDate", if (r.nextInt(10) == 0) null else
      java.lang.Long.valueOf(1704067200000L + week * 604800000L))
    a.put("messageCountFromStudent", r.nextInt(40).toLong)
    a.put("messageCountFromInstructor", r.nextInt(20).toLong)
    a
  }

  private def assignment(id: Long, r: SplittableRandom): GenericData.Record = {
    val rec = new GenericData.Record(churnSchema)
    val student = id / 8
    rec.put("studentId", f"$student%08d")
    rec.put("assignmentId", f"${id % 8 + student % 97 * 8}%05d")
    rec.put("globalCourseId", s"course-${student % 211}")
    rec.put("courseLtiContextId", if (r.nextInt(4) == 0) null else f"${r.nextLong()}%016x")
    rec.put("globalStudentId", s"gs-$student")
    rec.put("globalAssignmentId", s"ga-${id % 8}-${student % 97}")
    rec.put("assignmentName", s"Assignment ${r.nextInt(400)}")
    rec.put("assignmentStatus", pick(r, statuses))
    rec.put("dueDate", if (r.nextInt(5) == 0) null else
      java.lang.Long.valueOf(1704067200000L + r.nextLong(31536000000L)))
    rec.put("overrideDueDate", if (r.nextInt(3) != 0) null else
      java.lang.Long.valueOf(1704067200000L + r.nextLong(31536000000L)))
    rec.put("assignmentListedMaxScore", if (r.nextInt(10) == 0) null else
      java.lang.Double.valueOf(10.0 * (1 + r.nextInt(10))))
    rec.put("submission", if (r.nextInt(4) == 0) null else submission(r))
    rec.put("enrollments", (0 until 1 + r.nextInt(3)).map(_ => enrollment(r, id)).asJava)
    val weeks = new java.util.LinkedHashMap[String, GenericData.Record]()
    (0 until 2 + r.nextInt(4)).foreach { i =>
      val wk = i * 3 + r.nextInt(3)
      weeks.put(f"2024-W$wk%02d", weekly(r, wk))
    }
    rec.put("weeklyMessageAggregates", weeks)
    rec
  }

  /** The same map with its entries in reverse insertion order. Equal maps
    * must compare equal whatever their order, which makes `Canon` work on
    * every row of the new side.
    */
  private def reversed[V](m: java.util.Map[String, V]): java.util.LinkedHashMap[String, V] = {
    val out = new java.util.LinkedHashMap[String, V]()
    m.entrySet.asScala.toSeq.reverse.foreach(e => out.put(e.getKey, e.getValue))
    out
  }

  /** One change of a nested row, cycling over nested leaves, struct
    * presence, map entries and array elements.
    */
  private def churnChange(rec: GenericData.Record, r: SplittableRandom, id: Long): Unit =
    r.nextInt(4) match {
      case 0 =>
        rec.get("submission") match {
          case null => rec.put("submission", submission(r))
          case s: GenericData.Record =>
            val next = new GenericData.Record(s, true)
            next.put("score", s.get("score").asInstanceOf[Double] + 0.5)
            if (r.nextBoolean()) next.put("grade", "changed")
            rec.put("submission", next)
        }
      case 1 =>
        rec.put("submission", if (rec.get("submission") == null) submission(r) else null)
      case 2 =>
        val weeks = new java.util.LinkedHashMap[String, GenericData.Record](
          rec.get("weeklyMessageAggregates").asInstanceOf[java.util.Map[String, GenericData.Record]])
        if (r.nextBoolean()) weeks.put("2024-W52", weekly(r, 52))
        else {
          val k = weeks.keySet.iterator.next()
          val a = new GenericData.Record(weeks.get(k), true)
          a.put("messageCountFromStudent", a.get("messageCountFromStudent").asInstanceOf[Long] + 1)
          weeks.put(k, a)
        }
        rec.put("weeklyMessageAggregates", weeks)
      case _ =>
        val es = new java.util.ArrayList[GenericData.Record](
          rec.get("enrollments").asInstanceOf[java.util.List[GenericData.Record]])
        if (r.nextBoolean()) es.add(enrollment(r, id))
        else {
          val e = new GenericData.Record(es.get(0), true)
          e.put("globalSectionId", "sec-moved")
          es.set(0, e)
        }
        rec.put("enrollments", es)
    }

  private def churn(w: Workload, seed: Long, dir: File): Manifest = {
    val out = new Pair(w, seed, dir, churnSchema)
    var added, removed, changed, unchanged = 0L
    // 3% removed, 3% added, 40% changed.
    val universe = (w.rowsPerSide / 0.97).toLong
    try {
      var id = 0L
      while (id < universe) {
        val r = rng(seed, id)
        val cls = r.nextInt(100)
        val base = assignment(id, r)
        def newSide(rec: GenericData.Record): GenericData.Record = {
          val n = new GenericData.Record(rec, false)
          n.put("weeklyMessageAggregates", reversed(
            rec.get("weeklyMessageAggregates").asInstanceOf[java.util.Map[String, GenericData.Record]]))
          n
        }
        if (cls < 3) { out.writeOld(base); removed += 1 }
        else if (cls < 6) { out.writeNew(newSide(base)); added += 1 }
        else if (cls < 46) {
          out.writeOld(base)
          val next = new GenericData.Record(base, false)
          churnChange(next, r, id)
          out.writeNew(newSide(next))
          changed += 1
        } else { out.writeOld(base); out.writeNew(newSide(base)); unchanged += 1 }
        id += 1
      }
    } finally out.close()
    Manifest(w.name, seed, out.rowsOld, out.rowsNew, added, removed, changed, unchanged,
      0, 0, 0, 0, added + removed + changed, 0, 0)
  }

  // ---- F1 + map<string,long>: a bag of repeated rows ------------------------

  private def bagRow(id: Long, seed: Long, copy: Long): GenericData.Record = {
    val r = rng(seed, id)
    val rec = new GenericData.Record(bagSchema)
    val flat = userdata(userdataSchema, id, r)
    userdataSchema.getFields.asScala.foreach(f => rec.put(f.name, flat.get(f.pos)))
    val tags = (0 until 2 + r.nextInt(3)).map(i => s"tag$i" -> Long.box(r.nextInt(100).toLong))
    // each copy lists the same entries in its own order
    val order = rng(seed, id, 1 + copy)
    val shuffled = tags.map(t => (order.nextInt(), t)).sortBy(_._1).map(_._2)
    val m = new java.util.LinkedHashMap[String, java.lang.Long]()
    shuffled.foreach { case (k, v) => m.put(k, v) }
    rec.put("tags", m)
    rec
  }

  private def shuffle(a: Array[Long], r: SplittableRandom): Unit = {
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
  }

  private def venn(w: Workload, seed: Long, dir: File): Manifest = {
    // Copies per side: 10% old-only, 10% new-only, else 1-4 on each side.
    // Mean 2.25 copies per side, so ~rowsPerSide/2.25 distinct rows.
    val distinct = (w.rowsPerSide / 2.25).toInt
    val counts = Array.tabulate(distinct) { j =>
      val r = rng(seed, j.toLong, 7L)
      r.nextInt(10) match {
        case 0 => (1 + r.nextInt(4), 0)
        case 1 => (0, 1 + r.nextInt(4))
        case _ => (1 + r.nextInt(4), 1 + r.nextInt(4))
      }
    }
    // (row id << 3 | copy) for each copy on a side, in a seeded order so
    // that the copies of one row are not adjacent in the file
    def side(count: ((Int, Int)) => Int, tag: Long): Array[Long] = {
      val a = counts.indices.iterator.flatMap(j =>
        (0 until count(counts(j))).map(c => j.toLong << 3 | c)).toArray
      shuffle(a, rng(seed, -2L, tag))
      a
    }
    val out = new Pair(w, seed, dir, bagSchema)
    try {
      side(_._1, 1L).foreach(e => out.writeOld(bagRow(e >>> 3, seed, e & 7)))
      side(_._2, 2L).foreach(e => out.writeNew(bagRow(e >>> 3, seed, 8 + (e & 7))))
    } finally out.close()
    val removed = counts.map { case (o, n) => math.max(o - n, 0).toLong }.sum
    val added = counts.map { case (o, n) => math.max(n - o, 0).toLong }.sum
    val common = counts.map { case (o, n) => math.min(o, n).toLong }.sum
    Manifest(w.name, seed, out.rowsOld, out.rowsNew, 0, 0, 0, 0,
      removed, added, common, distinct, 0, 0, 0)
  }
}
