package graft.avrobench

/** Output checker: compares what a diff run printed or produced against
  * the generator's [[Manifest]]. Every check returns the list of
  * mismatches; an empty list is a correct run.
  */
object Check {

  private val Ansi = "\u001b\\[[0-9;]*m".r
  private val BucketHeader = """== (added|removed|changed|unchanged|intersection)\b[^:]*: (\d+) rows""".r
  private val SummaryLine = """(added|removed|changed|unchanged): (\d+) rows""".r

  private def lines(text: String): Seq[String] =
    text.linesIterator.map(l => Ansi.replaceAllIn(l, "").trim).toSeq

  /** Bucket headers (`== added: N rows (showing up to 20)`), by bucket. */
  def headers(text: String): Map[String, Long] =
    lines(text).flatMap(l => BucketHeader.findPrefixMatchOf(l)
      .map(m => m.group(1) -> m.group(2).toLong)).toMap

  /** The `<status>: N rows` summary lines closing a keyed report. */
  def summaryLines(text: String): Map[String, Long] =
    lines(text).collect { case SummaryLine(s, n) => s -> n.toLong }.toMap

  private def expect(what: String, got: Option[Long], want: Long): Option[String] =
    got match {
      case Some(n) if n == want => None
      case Some(n) => Some(s"$what: got $n, expected $want")
      case None => Some(s"$what: missing, expected $want")
    }

  /** A keyed report (`Report.printKeyDiff`): all four bucket headers, and a
    * summary line for every status the manifest plants at least once.
    */
  def keyDiffReport(text: String, m: Manifest): Seq[String] = {
    val want = Seq("added" -> m.added, "removed" -> m.removed,
      "changed" -> m.changed, "unchanged" -> m.unchanged)
    val h = headers(text)
    val s = summaryLines(text)
    want.flatMap { case (b, n) =>
      expect(s"header '$b'", h.get(b), n) ++
        expect(s"summary '$b'", s.get(b).orElse(if (n == 0) Some(0L) else None), n)
    }
  }

  /** A venn report (`Report.printVennDiff`): the three bucket headers. */
  def vennReport(text: String, m: Manifest): Seq[String] = {
    val h = headers(text)
    Seq("removed" -> m.vennRemoved, "added" -> m.vennAdded, "intersection" -> m.vennCommon)
      .flatMap { case (b, n) => expect(s"header '$b'", h.get(b), n) }
  }

  def report(w: Workload, text: String, m: Manifest): Seq[String] =
    if (w.keyed) keyDiffReport(text, m) else vennReport(text, m)

  /** A count the run computed itself, such as the delta rows written. */
  def count(what: String, got: Long, want: Long): Seq[String] =
    expect(what, Some(got), want).toSeq
}
