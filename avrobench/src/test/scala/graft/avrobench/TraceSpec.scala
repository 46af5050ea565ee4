package graft.avrobench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("self time subtracts the union of the children's intervals") {
    val spans = Seq(
      Span(0, "root", -1, 0, 100),
      Span(1, "a", 0, 10, 30),
      Span(2, "b", 0, 20, 50),  // overlaps a: 10..50 is covered once
      Span(3, "c", 0, 60, 70),
      Span(4, "a.x", 1, 12, 18)) // a grandchild does not count for root
    val self = Tracer.selfNs(spans)
    assert(self == Map(0 -> 50L, 1 -> 14L, 2 -> 30L, 3 -> 10L, 4 -> 6L))
  }

  test("spans nest by call and record their parent") {
    val t = new Tracer
    t.span("run") {
      t.span("load")(())
      t.span("report")(t.span("inner")(()))
    }
    val byName = t.all.map(s => s.name -> s).toMap
    assert(byName("run").parent == -1)
    assert(byName("load").parent == byName("run").id)
    assert(byName("inner").parent == byName("report").id)
    assert(t.all.forall(s => s.endNs >= s.startNs))
    val f = Files.createTempFile("spans", ".jsonl").toFile
    t.write(f)
    assert(Files.readAllLines(f.toPath).size == 4)
  }

  test("counters of a job of known shape: one job, two stages, 4 + 3 tasks") {
    val sc = spark.sparkContext
    val m = Measure(sc) {
      sc.parallelize(1 to 1000, 4).map(x => (x % 10, 1)).reduceByKey(_ + _, 3).count()
    }
    assert(m.value == 10)
    assert(m.counters.jobs == 1)
    assert(m.counters.stages == 2)
    assert(m.counters.tasks == 7)
    assert(m.counters.shuffleWriteBytes > 0)
    assert(m.counters.taskCpuNs > 0)
    // the listener is gone afterwards: the next call counts only its own job
    val next = Measure(sc)(sc.parallelize(1 to 10, 2).count())
    assert(next.counters.jobs == 1 && next.counters.stages == 1 && next.counters.tasks == 2)
  }

  test("input rows of an Avro scan are counted") {
    val dir = Files.createTempDirectory("avrobench-trace").toFile
    val m = Gen.generate(Workload("keydiff_stable").copy(rowsPerSide = 2000), 5L, dir)
    val c = Measure(spark.sparkContext)(
      spark.read.format("avro").load(Gen.oldFile(dir).getPath)
        .write.format("noop").mode("overwrite").save())
    assert(c.counters.inputRows == m.rowsOld)
  }
}
