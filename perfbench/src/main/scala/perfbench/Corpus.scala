package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** One expected output transaction: its `event_count`, the tick whose
  * delivery completed it (END marker or last change, whichever is later)
  * and its change events as a sorted multiset of canonical strings.
  */
final case class Expected(txnId: String, eventCount: Long, dueTick: Int,
    events: Seq[String])

/** Shape of a generated Debezium corpus: `ticks` files per topic (one
  * change file and one transaction file per tick), `txnPerTick`
  * transactions opened per tick, each with 1-4 row changes. A share of
  * transactions stays open for up to `maxOpenTicks` further ticks.
  */
final case class CorpusSpec(ticks: Int, txnPerTick: Int, maxOpenTicks: Int)

/** A generated corpus on disk. `linesPerTick(i)` counts the lines of
  * both topic files of tick `i`; `inputLines` is their total.
  */
final case class Corpus(dir: Path, spec: CorpusSpec,
    expected: Map[String, Expected], linesPerTick: IndexedSeq[Long]) {
  def changeDir: Path = dir.resolve("change")
  def txnDir: Path = dir.resolve("txn")
  def inputLines: Long = linesPerTick.sum
  def fileName(tick: Int): String = f"part-$tick%05d.json"
}

/** Deterministic corpus generator: the same seed and spec give
  * byte-identical files. Events are never redelivered (no at-least-once
  * duplicates): the pipeline's semantics under redelivery are not yet
  * defined, so a duplicate could not be judged right or wrong.
  */
object Corpus {

  /** Event-time origin of every corpus (2024-08-07T00:00:00Z). */
  val BaseTs: Long = 1722988800000L
  /** Event time, and live delivery time, between consecutive ticks. */
  val TickMs: Long = 250L
  /** Share of END markers that arrive one file late. */
  val LateEndShare = 0.2
  /** Share of lines preceded by a malformed line (dead letters). */
  val MalformedShare = 0.005

  def canonical(op: String, ts: Long, before: Option[String],
      after: Option[String]): String =
    s"$op|$ts|${before.getOrElse("null")}|${after.getOrElse("null")}"

  private def image(row: Int, v: Int): String =
    s"""{"id":$row,"name":"user$row","balance":$v}"""

  def generate(seed: Long, spec: CorpusSpec, dir: Path): Corpus = {
    val rnd = new SplittableRandom(seed)
    val n = spec.ticks
    val change = Array.fill(n)(ArrayBuffer.empty[String])
    val txn = Array.fill(n)(ArrayBuffer.empty[String])
    val expected = Map.newBuilder[String, Expected]
    var pos = 0L
    for (t <- 0 until n; _ <- 0 until spec.txnPerTick) {
      pos += 1
      val id = f"file=binlog.${Math.floorMod(seed, 1000L)}%03d$t%06d,pos=$pos"
      val size = 1 + rnd.nextInt(4)
      val span =
        if (spec.maxOpenTicks > 0 && rnd.nextDouble() < 0.3)
          1 + rnd.nextInt(spec.maxOpenTicks)
        else 0
      val ticks = (0 until size).map { i =>
        val k = if (i == 0) t else if (i == size - 1) t + span
          else t + rnd.nextInt(span + 1)
        math.min(k, n - 1)
      }.sorted
      var ts = BaseTs + t * TickMs + rnd.nextInt(TickMs.toInt)
      val events = ticks.zipWithIndex.map { case (k, i) =>
        // about a third of follow-up events share their predecessor's ts_ms
        if (i > 0 && rnd.nextDouble() >= 0.35)
          ts = math.max(ts + 1 + rnd.nextInt(40),
            BaseTs + k * TickMs + rnd.nextInt(TickMs.toInt))
        val row = rnd.nextInt(1000000)
        val r = rnd.nextDouble()
        val (op, before, after) =
          if (r < 0.4) ("c", None, Some(image(row, rnd.nextInt(10000))))
          else if (r < 0.85) ("u", Some(image(row, rnd.nextInt(10000))),
            Some(image(row, rnd.nextInt(10000))))
          else ("d", Some(image(row, rnd.nextInt(10000))), None)
        change(k) += s"""{"schema":null,"payload":{"before":${before.getOrElse("null")},"after":${after.getOrElse("null")},"source":{"connector":"mysql","db":"db_1","table":"user_1"},"op":"$op","ts_ms":$ts,"transaction":{"id":"$id","total_order":${i + 1},"data_collection_order":${i + 1}}}}"""
        canonical(op, ts, before, after)
      }
      val endTick = math.min(
        t + span + (if (rnd.nextDouble() < LateEndShare) 1 else 0),
        n - 1)
      txn(t) += s"""{"schema":null,"payload":{"status":"BEGIN","id":"$id","event_count":null,"data_collections":null}}"""
      txn(endTick) += s"""{"schema":null,"payload":{"status":"END","id":"$id","event_count":$size,"data_collections":[{"data_collection":"db_1.user_1","event_count":$size}]}}"""
      expected += id -> Expected(id, size, math.max(endTick, ticks.last),
        events.sorted)
    }

    def withMalformed(lines: ArrayBuffer[String]): Seq[String] =
      lines.toSeq.flatMap { l =>
        if (rnd.nextDouble() < MalformedShare) {
          val bad = rnd.nextInt(3) match {
            case 0 => "{not json"
            case 1 => """{"schema":{}}"""
            case _ => l.take(l.length / 2)
          }
          Seq(bad, l)
        } else Seq(l)
      }

    val c = Corpus(dir, spec, expected.result(), IndexedSeq.fill(n)(0L))
    Files.createDirectories(c.changeDir)
    Files.createDirectories(c.txnDir)
    val counts = (0 until n).map { t =>
      val cl = withMalformed(change(t))
      val tl = withMalformed(txn(t))
      Files.write(c.changeDir.resolve(c.fileName(t)),
        cl.mkString("", "\n", "\n").getBytes(UTF_8))
      Files.write(c.txnDir.resolve(c.fileName(t)),
        tl.mkString("", "\n", "\n").getBytes(UTF_8))
      (cl.size + tl.size).toLong
    }
    Util.writeLines(dir.resolve("expected.tsv"),
      c.expected.values.toSeq.sortBy(_.txnId).map { e =>
        (Seq(e.txnId, e.eventCount.toString, e.dueTick.toString) ++ e.events)
          .mkString("\t")
      })
    c.copy(linesPerTick = counts)
  }

  /** Pre-written corpus: file modification times follow tick order, so
    * the file source takes them oldest first, as they were produced.
    */
  def stampInOrder(c: Corpus): Unit = {
    val base = Util.nowMs() - 3600000L
    for (t <- 0 until c.spec.ticks) {
      c.changeDir.resolve(c.fileName(t)).toFile.setLastModified(base + t * 1000L)
      c.txnDir.resolve(c.fileName(t)).toFile.setLastModified(base + t * 1000L)
    }
  }
}

/** Open-loop delivery of a staged corpus: at each tick's due time
  * (`start + tick * TickMs`) both of the tick's files are moved
  * atomically into the source directories. Lateness against the due
  * time is recorded, never compensated by skipping ticks.
  */
final class Feeder(c: Corpus, changeTo: Path, txnTo: Path) extends Thread("perfbench-feeder") {
  setDaemon(true)
  @volatile var startMs: Long = 0L
  val movedAt: Array[Long] = Array.fill(c.spec.ticks)(-1L)
  @volatile var failure: Option[Throwable] = None

  def due(tick: Int): Long = startMs + tick * Corpus.TickMs

  override def run(): Unit =
    try {
      for (t <- 0 until c.spec.ticks) {
        val wait = due(t) - Util.nowMs()
        if (wait > 0) Thread.sleep(wait)
        val now = Util.nowMs()
        for ((from, to) <- Seq(c.changeDir -> changeTo, c.txnDir -> txnTo)) {
          val f = from.resolve(c.fileName(t))
          f.toFile.setLastModified(now)
          Files.move(f, to.resolve(c.fileName(t)),
            StandardCopyOption.ATOMIC_MOVE)
        }
        movedAt(t) = now
      }
    } catch { case e: Throwable => failure = Some(e) }

  def lateMaxMs: Long =
    (0 until c.spec.ticks).filter(movedAt(_) >= 0)
      .map(t => movedAt(t) - due(t)).foldLeft(0L)(math.max)
}
