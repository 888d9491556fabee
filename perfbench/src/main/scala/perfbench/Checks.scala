package perfbench

/** One span row of the manifest, the columns the check needs. */
final case class SpanRow(window: Long, docId: Long, shufflePos: Long,
    nTok: Long, tokStart: Long, tokEnd: Long)

/** What a corpus check found wrong, by document id. */
final case class CorpusFindings(missing: Set[Long], unexpected: Set[Long],
    retractedServed: Set[Long], badSpans: Set[Long]) {
  def ok: Boolean =
    missing.isEmpty && unexpected.isEmpty && retractedServed.isEmpty &&
      badSpans.isEmpty
}

/** Output checks as pure functions over collected rows, so a wrong answer
  * fails the op that produced it. Each returns the keys it found wrong.
  */
object Checks {

  /** Keys where a replica disagrees with the expected table: missing,
    * extra, duplicated, or a different payload.
    */
  def tableDiff(actual: Seq[MasterRow],
      expected: collection.Map[String, MasterRow]): Set[String] = {
    val byKey = actual.groupBy(_.key)
    val dup = byKey.collect { case (k, rs) if rs.size > 1 => k }
    val wrong = byKey.collect {
      case (k, Seq(r)) if !expected.get(k).contains(r) => k
    }
    val missing = expected.keysIterator.filterNot(byKey.contains)
    (dup ++ wrong ++ missing).toSet
  }

  /** Whether a lookup answer differs from the expected row (None: the key
    * must be absent).
    */
  def lookupDiff(actual: Seq[MasterRow],
      expected: Option[MasterRow]): Boolean =
    actual != expected.toSeq

  /** Keys where a change feed differs from the expected one: an upsert
    * (`Some(row)`) or a delete (`None`) per changed key, and no others.
    */
  def changesDiff(actual: Seq[(String, Option[MasterRow])],
      expected: collection.Map[String, Option[MasterRow]]): Set[String] = {
    val byKey = actual.groupBy(_._1)
    val dup = byKey.collect { case (k, rs) if rs.size > 1 => k }
    val wrong = byKey.collect {
      case (k, Seq((_, r))) if !expected.get(k).contains(r) => k
    }
    val missing = expected.keysIterator.filterNot(byKey.contains)
    (dup ++ wrong ++ missing).toSet
  }

  /** Every expected document is served exactly once — one window and one
    * shuffle position, its token slices tiling `[0, n_tok)` — and no
    * retracted or unexpected document is served.
    */
  def corpus(spans: Seq[SpanRow], expected: Set[Long],
      retracted: Set[Long]): CorpusFindings = {
    val byDoc = spans.groupBy(_.docId)
    val bad = byDoc.collect {
      case (id, rs) if !tiles(rs) => id
    }.toSet
    val served = byDoc.keySet
    CorpusFindings(
      missing = expected -- served,
      unexpected = served -- expected -- retracted,
      retractedServed = served.intersect(retracted),
      badSpans = bad)
  }

  private def tiles(rs: Seq[SpanRow]): Boolean = {
    val sorted = rs.sortBy(_.tokStart)
    val one = rs.map(r => (r.window, r.shufflePos, r.nTok)).distinct.size == 1
    one && sorted.head.nTok > 0 && sorted.head.tokStart == 0 &&
      sorted.last.tokEnd == sorted.head.nTok &&
      sorted.zip(sorted.tail).forall { case (a, b) => a.tokEnd == b.tokStart }
  }
}
