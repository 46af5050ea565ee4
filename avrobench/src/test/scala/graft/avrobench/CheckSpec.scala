package graft.avrobench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val keyed = Manifest("keydiff_stable", 1, 10, 11, 2, 1, 3, 5, 0, 0, 0, 0, 6, 0, 0)
  private val bag = Manifest("venn_bag", 1, 9, 9, 0, 0, 0, 0, 2, 2, 7, 5, 0, 0, 0)

  // Text in the shape Report.printKeyDiff / printVennDiff print it.
  private val keyedText = Seq(
    "\u001b[32m== added: 2 rows (showing up to 20)\u001b[0m", "\u001b[32m  [11,x]\u001b[0m",
    "\u001b[31m== removed: 1 rows (showing up to 20)\u001b[0m",
    "\u001b[33m== changed: 3 rows (showing up to 20)\u001b[0m",
    "\u001b[0m== unchanged: 5 rows (showing up to 20)\u001b[0m",
    "added: 2 rows", "changed: 3 rows", "removed: 1 rows", "unchanged: 5 rows").mkString("\n")
  private val vennText = Seq(
    "\u001b[31m== removed (old ∖ new): 2 rows (showing up to 20)\u001b[0m",
    "\u001b[32m== added (new ∖ old): 2 rows (showing up to 20)\u001b[0m",
    "\u001b[0m== intersection: 7 rows (showing up to 20)\u001b[0m").mkString("\n")

  test("a report matching the manifest passes") {
    assert(Check.keyDiffReport(keyedText, keyed).isEmpty)
    assert(Check.vennReport(vennText, bag).isEmpty)
  }

  test("a manifest off by one row is caught") {
    assert(Check.keyDiffReport(keyedText, keyed.copy(changed = 4)).nonEmpty)
    assert(Check.keyDiffReport(keyedText, keyed.copy(unchanged = 4)).nonEmpty)
    assert(Check.vennReport(vennText, bag.copy(vennCommon = 8)).nonEmpty)
    assert(Check.count("delta rows", 6, keyed.deltaRows + 1).nonEmpty)
  }

  test("a missing or truncated report fails") {
    assert(Check.keyDiffReport("", keyed).nonEmpty)
    assert(Check.keyDiffReport(keyedText.linesIterator.take(4).mkString("\n"), keyed).nonEmpty)
    assert(Check.vennReport("", bag).nonEmpty)
  }

  test("real runs of every workload pass, and fail against an off-by-one manifest") {
    Workload.all.map(_.copy(rowsPerSide = 2000)).foreach { w =>
      val dir = Files.createTempDirectory(s"avrobench-${w.name}").toFile
      val m = Gen.generate(w, 9L, dir)
      val in = new Harness.Inputs(spark, dir)
      val out = Harness.fullRun(spark, w, in, None)
      assert(Harness.checkRun(w, m, in, out).isEmpty, w.name)
      val off =
        if (w.keyed) m.copy(unchanged = m.unchanged + 1, deltaRows = m.deltaRows - 1)
        else m.copy(vennAdded = m.vennAdded - 1)
      assert(Harness.checkRun(w, off, in, out).nonEmpty, w.name)
    }
  }
}
