package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The benchmark's own tests: the latency mapping, the output checker and
  * the generator's determinism. No Spark session is needed.
  */
object SelfTest {

  private def expect(name: String, cond: Boolean): Boolean = {
    println(s"${if (cond) "ok  " else "FAIL"} $name")
    cond
  }

  /** Two batches: [1000, 1400] and [1400, 2100]. File a was written inside
    * batch 0, file b inside batch 1; a file written exactly at a batch end
    * belongs to that batch.
    */
  def latencyMapping(): Boolean = {
    val ends = Seq(1400L, 2100L)
    val mtime = Map("a" -> 1300L, "b" -> 1900L, "c" -> 1400L)
    val recs = Seq(OutRec("t1", Nil, Nil, None, "a"), OutRec("t2", Nil, Nil, None, "b"),
      OutRec("t3", Nil, Nil, None, "c"), OutRec("t4", Nil, Nil, None, "b"))
    val due = Map("t1" -> 1000L, "t2" -> 1250L, "t3" -> 1100L, "t4" -> 1800L)
    val lat = Check.latencies(recs, mtime, ends, due.get)
      .map { case (id, c, l) => id -> (c, l) }.toMap
    Seq(
      expect("latency: file inside batch 0 commits at its end", lat("t1") == (1400L, 400L)),
      expect("latency: file inside batch 1 commits at its end", lat("t2") == (2100L, 850L)),
      expect("latency: file at a batch end maps to that batch", lat("t3") == (1400L, 300L)),
      expect("latency: due time is per transaction", lat("t4") == (2100L, 300L)),
      expect("latency: a file after the last batch has no commit",
        Check.commitTime(ends, 2200L).isEmpty)).forall(identity)
  }

  def checker(): Boolean = {
    val exp = Map(
      "t1" -> Expected("t1", 2, 0, Seq("c|10|null|{}", "u|10|{}|{}").sorted),
      "t2" -> Expected("t2", 1, 0, Seq("d|5|{}|null")))
    def rec(id: String, evs: Seq[(String, Long)], n: Long) =
      OutRec(id, evs.map(_._1), evs.map(_._2), Some(n), "f")
    val t1 = rec("t1", Seq("c|10|null|{}" -> 10L, "u|10|{}|{}" -> 10L), 2)
    val t2 = rec("t2", Seq("d|5|{}|null" -> 5L), 1)
    def fails(got: Seq[OutRec]) = Check.transactions(exp, got).failed
    Seq(
      expect("checker: accepts the exact output", fails(Seq(t1, t2)) == 0),
      expect("checker: accepts same-ts events in either order",
        fails(Seq(t1.copy(events = t1.events.reverse), t2)) == 0),
      expect("checker: rejects a dropped transaction", fails(Seq(t1)) == 1),
      expect("checker: rejects a duplicated transaction", fails(Seq(t1, t2, t2)) == 1),
      expect("checker: rejects a truncated transaction",
        fails(Seq(rec("t1", Seq("c|10|null|{}" -> 10L), 2), t2)) == 1),
      expect("checker: rejects a wrong event_count", fails(Seq(t1.copy(eventCount = Some(3)), t2)) == 1),
      expect("checker: rejects decreasing ts_ms",
        fails(Seq(t1.copy(tsMs = Seq(11L, 10L)), t2)) == 1),
      expect("checker: rejects an unexpected transaction",
        fails(Seq(t1, t2, t2.copy(txnId = "t9"))) == 1),
      expect("checker: rejects a wrong batch row count",
        Check.rowCounts(Map("q" -> 3L), Seq("q" -> Right(2L), "q" -> Right(3L))).failed == 1),
      expect("checker: rejects a query that threw",
        Check.rowCounts(Map("q" -> 3L), Seq("q" -> Left("boom"))).failed == 1)
    ).forall(identity)
  }

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  def determinism(work: Path): Boolean = {
    val spec = CorpusSpec(ticks = 6, txnPerTick = 300, maxOpenTicks = 3)
    val a = Corpus.generate(7L, spec, work.resolve("a"))
    Corpus.generate(7L, spec, work.resolve("b"))
    Corpus.generate(8L, spec, work.resolve("c"))
    val fa = files(work.resolve("a"))
    val dead = fa.collect { case (k, v) if k.endsWith(".json") =>
      new String(v.toArray, "UTF-8").split("\n").count(l => !l.startsWith("{\"schema\":null,\"payload\":{")) }.sum
    Seq(
      expect("generator: same seed gives byte-identical corpora",
        fa == files(work.resolve("b"))),
      expect("generator: another seed gives another corpus", fa != files(work.resolve("c"))),
      expect("generator: expected set written beside the corpus",
        Files.readAllLines(work.resolve("a/expected.tsv")).size == a.expected.size),
      expect("generator: some lines are malformed", dead > 0),
      expect("generator: some transactions share a ts_ms",
        a.expected.values.exists(e => e.events.map(_.split('|')(1)).distinct.size < e.events.size))
    ).forall(identity)
  }

  def run(work: Path): Boolean = {
    Util.deleteTree(work)
    Files.createDirectories(work)
    val ok = Seq(latencyMapping(), checker(), determinism(work)).forall(identity)
    println(if (ok) "selftest: all passed" else "selftest: FAILED")
    Util.deleteTree(work)
    ok
  }
}
