package perfbench

/** One reconstructed transaction as read back from the sink, with the
  * output file that holds it.
  */
final case class OutRec(txnId: String, events: Seq[String],
    tsMs: Seq[Long], eventCount: Option[Long], file: String)

/** Outcome of a check: operations attempted and the failures found. */
final case class CheckResult(attempted: Long, failures: Seq[String]) {
  def failed: Long = failures.size.toLong
  def ++(o: CheckResult): CheckResult =
    CheckResult(attempted + o.attempted, failures ++ o.failures)
}

/** Output checks and the END-to-commit latency mapping. Pure functions,
  * so the benchmark's self-tests drive them on hand-built cases.
  */
object Check {

  /** CDC: every expected transaction appears exactly once, with an equal
    * event multiset, its `event_count`, and non-decreasing `ts_ms`. An
    * operation is one expected transaction; an output record for no
    * expected transaction is a failure too.
    */
  def transactions(expected: Map[String, Expected],
      got: Seq[OutRec]): CheckResult = {
    val byId = got.groupBy(_.txnId)
    val fails = Seq.newBuilder[String]
    for ((id, e) <- expected) byId.get(id) match {
      case None => fails += s"missing $id"
      case Some(rs) if rs.size > 1 => fails += s"emitted ${rs.size}x $id"
      case Some(rs) =>
        val r = rs.head
        if (r.events.sorted != e.events)
          fails += s"wrong events $id (${r.events.size} of ${e.events.size})"
        else if (!r.eventCount.contains(e.eventCount))
          fails += s"wrong event_count $id: ${r.eventCount}"
        else if (r.tsMs.zip(r.tsMs.drop(1)).exists { case (a, b) => a > b })
          fails += s"ts_ms out of order $id"
    }
    for (id <- byId.keys if !expected.contains(id))
      fails += s"unexpected $id"
    CheckResult(expected.size.toLong, fails.result())
  }

  /** Batch: rows written per query equal the recorded count. */
  def rowCounts(expected: Map[String, Long],
      got: Seq[(String, Either[String, Long])]): CheckResult =
    CheckResult(got.size.toLong, got.flatMap {
      case (q, Left(err)) => Some(s"$q threw: $err")
      case (q, Right(n)) => expected.get(q) match {
        case None => Some(s"$q has no recorded row count")
        case Some(e) if e != n => Some(s"$q wrote $n rows, expected $e")
        case _ => None
      }
    })

  /** Commit time of an output file: the end of the first micro-batch that
    * ends at or after the file's modification time. `batchEnds` are the
    * batch end times (progress timestamp + triggerExecution).
    */
  def commitTime(batchEnds: Seq[Long], fileMtime: Long): Option[Long] =
    batchEnds.filter(_ >= fileMtime).minOption

  /** END-to-commit latency per transaction, in ms: commit time of the
    * batch that wrote its record minus its due time. Transactions whose
    * file maps to no batch are left out (the checker reports them).
    */
  def latencies(recs: Seq[OutRec], fileMtime: String => Long,
      batchEnds: Seq[Long], dueMs: String => Option[Long]): Seq[(String, Long, Long)] = {
    val commitOf = recs.map(_.file).distinct
      .map(f => f -> commitTime(batchEnds, fileMtime(f))).toMap
    recs.flatMap { r =>
      for (c <- commitOf(r.file); d <- dueMs(r.txnId)) yield (r.txnId, c, c - d)
    }
  }
}
