package graft.avrobench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.avro.file.DataFileReader
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val small = Workload.all.map(_.copy(rowsPerSide = 3000))

  private def tmp(): File = Files.createTempDirectory("avrobench-gen").toFile

  private def bytes(f: File): Array[Byte] = Files.readAllBytes(f.toPath)

  private def rows(f: File): Seq[GenericRecord] = {
    val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
    try r.iterator.asScala.toVector finally r.close()
  }

  small.foreach { w =>
    test(s"${w.name}: one seed gives byte-identical files and manifest") {
      val (a, b) = (tmp(), tmp())
      val ma = Gen.generate(w, 7L, a)
      val mb = Gen.generate(w, 7L, b)
      assert(ma == mb)
      assert(bytes(Gen.oldFile(a)).sameElements(bytes(Gen.oldFile(b))))
      assert(bytes(Gen.newFile(a)).sameElements(bytes(Gen.newFile(b))))
      assert(Manifest.read(a) == ma)
    }

    test(s"${w.name}: another seed gives other data") {
      val (a, b) = (tmp(), tmp())
      Gen.generate(w, 7L, a)
      Gen.generate(w, 8L, b)
      val (ra, rb) = (rows(Gen.oldFile(a)), rows(Gen.oldFile(b)))
      assert(ra.take(50) != rb.take(50))
    }

    test(s"${w.name}: a plain DataFileReader recount matches the manifest") {
      val dir = tmp()
      val m = Gen.generate(w, 11L, dir)
      val (o, n) = (rows(Gen.oldFile(dir)), rows(Gen.newFile(dir)))
      assert(o.length == m.rowsOld && n.length == m.rowsNew)
      assert(m.bytesOld == Gen.oldFile(dir).length && m.bytesNew == Gen.newFile(dir).length)
      // Record equality compares maps as maps, whatever their entry order.
      if (w.keyed) {
        def byKey(rs: Seq[GenericRecord]) = rs.map(r => w.keys.map(k => r.get(k).toString) -> r).toMap
        val (ok, nk) = (byKey(o), byKey(n))
        assert(ok.size == o.length && nk.size == n.length, "keys are unique")
        val both = ok.keySet.intersect(nk.keySet)
        val changed = both.count(k => ok(k) != nk(k)).toLong
        assert((ok.keySet -- nk.keySet).size == m.removed)
        assert((nk.keySet -- ok.keySet).size == m.added)
        assert(changed == m.changed && both.size - changed == m.unchanged)
        assert(m.deltaRows == m.added + m.removed + m.changed)
      } else {
        def counts(rs: Seq[GenericRecord]) = rs.groupBy(identity).view.mapValues(_.length.toLong).toMap
        val (oc, nc) = (counts(o), counts(n))
        val all = oc.keySet ++ nc.keySet
        def c(m: Map[GenericRecord, Long], r: GenericRecord) = m.getOrElse(r, 0L)
        assert(all.size == m.distinctRows)
        assert(all.toSeq.map(r => math.max(c(oc, r) - c(nc, r), 0L)).sum == m.vennRemoved)
        assert(all.toSeq.map(r => math.max(c(nc, r) - c(oc, r), 0L)).sum == m.vennAdded)
        assert(all.toSeq.map(r => math.min(c(oc, r), c(nc, r))).sum == m.vennCommon)
      }
    }
  }

  test("inputs use the workload's codec") {
    small.foreach { w =>
      val dir = tmp()
      Gen.generate(w, 3L, dir)
      val r = new DataFileReader[GenericRecord](Gen.oldFile(dir), new GenericDatumReader[GenericRecord]())
      try assert(r.getMetaString("avro.codec") == w.codec, w.name) finally r.close()
    }
  }
}
