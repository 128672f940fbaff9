package perfbench

import graft.cdc.{StreamingReconstruction, StreamingReconstructionV2}
import graft.ingest.DebeziumParser
import graft.model.{ChangeEvent, TransactionRecord, TxnEvent}
import graft.sources.Sinks
import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The `cdc` workload: raw Debezium JSON lines from two file sources (one
  * per topic, standing in for Kafka) through parse → split →
  * event-time reconstruction (count-gated, 1-minute watermark) into the
  * checkpointed parquet sink.
  */
object Cdc {

  /** Untimed warm-up corpus, drained `WarmDrains` times in the set-up. */
  val WarmSpec: CorpusSpec = CorpusSpec(ticks = 3, txnPerTick = 200, maxOpenTicks = 1)
  val WarmDrains = 2
  /** Backfill corpus: 8 files per topic, drained 4 files per trigger. */
  val BackfillSpec: CorpusSpec = CorpusSpec(ticks = 8, txnPerTick = 1000, maxOpenTicks = 2)
  val BackfillFilesPerTrigger = 4
  /** Live feed: 100 transactions per tick of `Corpus.TickMs` (400 txn/s). */
  val LiveTxnPerTick = 100
  val LiveMaxOpenTicks = 3
  /** Seconds of live feed before the latency window opens: a new
    * streaming query's first five or so micro-batches run up to twice as
    * long as later ones, even after the warm-up drains.
    */
  val LiveWarmupS = 8

  private val MB = 1024.0 * 1024.0

  /** The pipeline under test, as `ReferencePipeline` wires it, with the
    * file source in place of Kafka.
    */
  def records(spark: SparkSession, changeDir: Path, txnDir: Path,
      maxFiles: Option[Int]): Dataset[TransactionRecord] = {
    def source(dir: Path) = {
      val r = spark.readStream.format("text")
      maxFiles.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong))
        .load(dir.toString).toDF("value")
    }
    val (changes, _, _) = DebeziumParser.split(DebeziumParser.parse(source(changeDir)))
    val (_, txns, _) = DebeziumParser.split(DebeziumParser.parse(source(txnDir)))
    reconstruct(changes, txns, v2 = false)
  }

  private def reconstruct(changes: Dataset[ChangeEvent], txns: Dataset[TxnEvent],
      v2: Boolean): Dataset[TransactionRecord] =
    if (v2) StreamingReconstructionV2.reconstructEventTime(changes, txns, countGated = true)
    else StreamingReconstruction.reconstructEventTime(changes, txns, countGated = true)

  /** One AvailableNow drain of a pre-written corpus into `dir/out`. */
  final case class Drain(startMs: Long, progress: Seq[StreamingQueryProgress],
      out: Path) {
    def lastCommitMs: Long = progress.map(ProgressLog.endMs).max
  }

  def drain(spark: SparkSession, c: Corpus, dir: Path, log: ProgressLog): Drain = {
    val ds = records(spark, c.changeDir, c.txnDir, Some(BackfillFilesPerTrigger))
    val t0 = Util.nowMs()
    val q = Sinks.parquet(ds, dir.resolve("out").toString,
      dir.resolve("ckpt").toString, Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    Drain(t0, log.of(q), dir.resolve("out"))
  }

  /** Committed sink output (read through the sink's metadata log). */
  def readOut(spark: SparkSession, out: Path): Seq[OutRec] = {
    val df =
      try spark.read.parquet(out.toString)
      catch { case _: org.apache.spark.sql.AnalysisException => return Nil }
    df.select(col("transactionId"), col("events"), col("eventCount"),
        input_file_name().as("file"))
      .collect().toSeq.map { r =>
        val evs = r.getSeq[Row](1)
        OutRec(r.getString(0),
          evs.map(e => Corpus.canonical(e.getAs[String]("operation"),
            e.getAs[Long]("tsMs"), Option(e.getAs[String]("before")),
            Option(e.getAs[String]("after")))),
          evs.map(_.getAs[Long]("tsMs")),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getString(3))
      }
  }

  def fileMtime(uri: String): Long =
    new java.io.File(new java.net.URI(uri)).lastModified()

  /** The set-up: a fresh production-shaped session plus `WarmDrains`
    * untimed warm-up drains of a small corpus. The first set-up in a JVM
    * is cold (class loading, first code generation, object initialisers),
    * and that one is `setup_s`.
    */
  def setup(work: Path, warm: Corpus, cores: Int): (Double, SparkSession) = {
    val (t, spark) = Util.timed {
      val s = Util.session(cores, work)
      val log = ProgressLog.register(s)
      for (i <- 0 until WarmDrains) drain(s, warm, work.resolve(s"warm-$cores-$i"), log)
      s
    }
    Util.log(f"set-up on $cores cores: $t%.2f s")
    (t, spark)
  }

  def warmCorpus(work: Path): Corpus = {
    val c = Corpus.generate(0L, WarmSpec, work.resolve("warm-corpus"))
    Corpus.stampInOrder(c)
    c
  }

  // ---- per-layer metrics from query progress ---------------------------

  def streamLayers(rounds: Seq[Seq[StreamingQueryProgress]]): Map[String, Double] = {
    val ps = rounds.flatten
    def sumS(k: String) = ps.map(ProgressLog.dur(_, k)).sum / 1e3
    val trig = ps.map(ProgressLog.dur(_, "triggerExecution").toDouble)
    val phases = ps.map(_.durationMs.asScala.collect {
      case (k, v) if k != "triggerExecution" => v.longValue }.sum).sum
    val st = ps.flatMap(_.stateOperators)
    def stSum(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      st.map(f).sum.toDouble
    Map(
      "source.input_rows" -> ps.map(_.numInputRows).sum.toDouble,
      "source.latest_offset_s" -> sumS("latestOffset"),
      "source.get_batch_s" -> sumS("getBatch"),
      "stream.batches" -> ps.size.toDouble,
      "stream.trigger_p50_ms" -> Util.median(trig),
      "stream.query_planning_s" -> sumS("queryPlanning"),
      "stream.add_batch_s" -> sumS("addBatch"),
      "stream.wal_commit_s" -> sumS("walCommit"),
      "stream.commit_offsets_s" -> sumS("commitOffsets"),
      "stream.first_batch_s" -> Util.median(rounds.filter(_.nonEmpty)
        .map(r => ProgressLog.dur(r.head, "triggerExecution") / 1e3)),
      "stream.phase_coverage" -> phases / trig.sum,
      "state.commit_s" -> stSum(_.commitTimeMs) / 1e3,
      "state.update_s" -> stSum(_.allUpdatesTimeMs) / 1e3,
      "state.removal_s" -> stSum(_.allRemovalsTimeMs) / 1e3,
      "state.rows_peak" -> st.map(_.numRowsTotal).foldLeft(0L)(math.max).toDouble,
      "state.mem_peak_mb" -> st.map(_.memoryUsedBytes).foldLeft(0L)(math.max) / MB,
      "state.rows_removed" -> stSum(_.numRowsRemoved),
      "state.rows_dropped_late" -> stSum(_.numRowsDroppedByWatermark))
  }

  /** Spans of one streaming query: query → batch → phase. Progress gives
    * phase durations, not start times, so phases are laid end to end in
    * the order a micro-batch runs them.
    */
  def traceBatches(trace: Trace, parent: Int, name: String,
      ps: Seq[StreamingQueryProgress]): Unit =
    if (ps.nonEmpty) {
      val q = trace.add(parent, name, ProgressLog.startMs(ps.head),
        ps.map(ProgressLog.endMs).max)
      val order = Seq("latestOffset", "walCommit", "getBatch",
        "queryPlanning", "addBatch", "commitOffsets")
      for (p <- ps) {
        val b = trace.add(q, s"batch ${p.batchId}", ProgressLog.startMs(p),
          ProgressLog.endMs(p))
        var at = ProgressLog.startMs(p)
        val keys = order ++ p.durationMs.asScala.keys.toSeq.sorted
          .filterNot(k => order.contains(k) || k == "triggerExecution")
        for (k <- keys if p.durationMs.containsKey(k)) {
          val d = ProgressLog.dur(p, k)
          trace.add(b, k, at, at + d)
          at += d
        }
      }
    }

  // ---- workloads --------------------------------------------------------

  /** Backfill phase: AvailableNow drains of the pre-written corpus, each
    * into a fresh sink and checkpoint, until `seconds` have passed (at
    * least two). Events/s of a drain: input lines over the time from
    * query start to its last commit.
    */
  final case class Backfill(drains: Seq[Drain], eventsPerS: Seq[Double],
      check: CheckResult)

  def backfill(spark: SparkSession, c: Corpus, ctx: Ctx, log: ProgressLog,
      seconds: Double): Backfill = {
    val t0 = Util.nowMs()
    var check = CheckResult(0, Nil)
    val drains = scala.collection.mutable.ArrayBuffer.empty[Drain]
    while (drains.size < 2 || Util.nowMs() - t0 < seconds * 1000) {
      val d = drain(spark, c, ctx.work.resolve(s"round-${drains.size}"), log)
      check ++= Check.transactions(c.expected, readOut(spark, d.out))
      drains += d
    }
    Util.log(s"backfill: ${drains.size} drains")
    Backfill(drains.toSeq,
      drains.toSeq.map(d => c.inputLines / ((d.lastCommitMs - d.startMs) / 1e3)), check)
  }

  /** Live phase: an open-loop feed into the pipeline under the default
    * trigger. Latency samples come from transactions due after the first
    * `LiveWarmupS` seconds.
    */
  final case class Live(progress: Seq[StreamingQueryProgress], feeder: Feeder,
      corpus: Corpus, latencies: Seq[(String, Long, Long)], check: CheckResult)

  def live(spark: SparkSession, ctx: Ctx, log: ProgressLog, seconds: Double): Live = {
    val spec = CorpusSpec(ticks = ((LiveWarmupS + seconds) * 1000 / Corpus.TickMs).toInt,
      txnPerTick = LiveTxnPerTick, maxOpenTicks = LiveMaxOpenTicks)
    val corpus = Corpus.generate(ctx.seed, spec, ctx.work.resolve("staging"))
    val srcChange = Files.createDirectories(ctx.work.resolve("src/change"))
    val srcTxn = Files.createDirectories(ctx.work.resolve("src/txn"))
    val out = ctx.work.resolve("live/out")
    val ds = records(spark, srcChange, srcTxn, None)
    val feeder = new Feeder(corpus, srcChange, srcTxn)
    val q = Sinks.parquet(ds, out.toString, ctx.work.resolve("live/ckpt").toString,
      Trigger.ProcessingTime(0L)).start()
    feeder.startMs = Util.nowMs() + 200L
    feeder.start()
    feeder.join()
    feeder.failure.foreach(e => throw e)
    // Drain: every delivered line has been through a committed batch.
    val deadline = Util.nowMs() + 60000L
    def processed = log.seen(q.id).map(_.numInputRows).sum
    while (processed < corpus.inputLines && q.isActive && Util.nowMs() < deadline)
      Thread.sleep(50)
    q.stop()
    q.exception.foreach(e => throw e)
    val ps = log.of(q)
    Util.log(s"live: ${spec.ticks} ticks in ${ps.size} batches, generator late by at most ${feeder.lateMaxMs} ms")

    val recs = readOut(spark, out)
    val warmTicks = (LiveWarmupS * 1000L / Corpus.TickMs).toInt
    val inWindow = recs.filter(r => corpus.expected.get(r.txnId).exists(_.dueTick >= warmTicks))
    val lat = Check.latencies(inWindow, fileMtime, ps.map(ProgressLog.endMs),
      id => corpus.expected.get(id).map(e => feeder.due(e.dueTick)))
    Live(ps, feeder, corpus, lat, Check.transactions(corpus.expected, recs))
  }

  /** The `cdc` workload: one session runs the live phase for two thirds
    * of the run's seconds, then the backfill phase for the rest. Live
    * goes first: its latency is set by per-batch fixed cost and its
    * warm-up window absorbs the query start, while the backfill drains
    * then run on a JVM that the live feed has warmed. Live gets the larger
    * share because its percentiles are supported by few micro-batches.
    */
  def run(ctx: Ctx): Outcome = {
    val warm = warmCorpus(ctx.work)
    val corpus = Corpus.generate(ctx.seed, BackfillSpec, ctx.work.resolve("corpus"))
    Corpus.stampInOrder(corpus)
    val (setupS, spark0) = setup(ctx.work, warm, Util.cores)
    var spark = spark0
    val log = ProgressLog.register(spark)
    val probes = Probes.attach(spark, ctx.trace)

    val t0 = Util.nowMs()
    val lv = live(spark, ctx, log, ctx.seconds * 2 / 3.0)
    val t1 = Util.nowMs()
    val bf = backfill(spark, corpus, ctx, log, ctx.seconds / 3.0)
    val wallS = (Util.nowMs() - t0) / 1e3
    var check = bf.check ++ lv.check
    val rate = Util.median(bf.eventsPerS)
    val latMs = lv.latencies.map(_._3.toDouble)
    val e2e = Map("setup_s" -> setupS, "throughput_per_s" -> rate,
      "latency_p50_ms" -> Util.quantile(latMs, 0.5),
      "latency_p90_ms" -> Util.quantile(latMs, 0.9))
    val notes = Map[String, Any](
      "backfill_events_per_drain" -> corpus.inputLines,
      "backfill_txns_per_drain" -> corpus.expected.size,
      "backfill_events_per_s" -> bf.eventsPerS,
      "backfill_batches" -> bf.drains.map(_.progress.size),
      "live_offered_events_per_s" ->
        lv.corpus.inputLines / (lv.corpus.spec.ticks * Corpus.TickMs / 1e3),
      "live_txns" -> lv.corpus.expected.size,
      "live_window_txns" -> lv.latencies.size,
      // Latency samples cluster by micro-batch: a percentile's support
      // counts in batches.
      "live_window_batches" -> lv.latencies.map(_._2).distinct.size,
      "live_batch_ms" -> lv.progress.map(ProgressLog.dur(_, "triggerExecution")))

    if (!ctx.trace) {
      Util.stop(spark)
      return Outcome(check, e2e, Map.empty, notes)
    }

    val root = ctx.traceLog.add(0, "cdc", t0, Util.nowMs())
    traceBatches(ctx.traceLog, root, "live", lv.progress)
    val bfSpan = ctx.traceLog.add(root, "backfill", t1, Util.nowMs())
    bf.drains.zipWithIndex.foreach { case (d, i) =>
      traceBatches(ctx.traceLog, bfSpan, s"drain $i", d.progress) }
    val starts = lv.progress.map(ProgressLog.startMs) :+ Long.MaxValue
    val backlog = starts.zip(starts.drop(1)).map { case (a, b) =>
      2 * lv.feeder.movedAt.count(m => m >= a && m < b) }
    val bfPs = bf.drains.flatMap(_.progress)
    var layers = streamLayers(Seq(lv.progress)) ++ probes.metrics(wallS) ++ Map(
      "source.backlog_files_max" -> backlog.foldLeft(0)(math.max).toDouble,
      "source.gen_late_max_ms" -> lv.feeder.lateMaxMs.toDouble,
      "backfill.batches" -> bfPs.size.toDouble,
      "backfill.first_batch_s" -> Util.median(bf.drains.map(d =>
        ProgressLog.dur(d.progress.head, "triggerExecution") / 1e3)),
      "backfill.add_batch_s" -> bfPs.map(ProgressLog.dur(_, "addBatch")).sum / 1e3,
      "backfill.state_commit_s" -> bfPs.flatMap(_.stateOperators).map(_.commitTimeMs).sum / 1e3)

    // Stage isolation over the backfill corpus.
    val iso = isolate(spark, corpus, ctx, bf.drains.last.out, log)
    check ++= iso._1
    layers ++= iso._2

    // The same drain on one core: the speed-up of the measured cores.
    Util.stop(spark)
    val (_, one) = setup(ctx.work, warm, 1)
    spark = one
    val d1 = drain(spark, corpus, ctx.work.resolve("round-local1"), ProgressLog.register(spark))
    check ++= Check.transactions(corpus.expected, readOut(spark, d1.out))
    val rate1 = corpus.inputLines / ((d1.lastCommitMs - d1.startMs) / 1e3)
    layers += "exec.core_speedup" -> rate / rate1
    Util.stop(spark)
    Outcome(check, e2e, layers, notes + ("local1_events_per_s" -> rate1))
  }

  /** Traced-run stage isolation: parse+split alone, reconstruction (V1
    * and V2) alone on pre-parsed typed input, and the parquet write alone.
    */
  private def isolate(spark: SparkSession, c: Corpus, ctx: Ctx, lastOut: Path,
      log: ProgressLog): (CheckResult, Map[String, Double]) = {
    import spark.implicits._
    val raw = spark.read.text(c.changeDir.toString, c.txnDir.toString).toDF("value")
    val (changes, txns, dead) = DebeziumParser.split(DebeziumParser.parse(raw))
    val (parseS, deadRows) = Util.timed {
      changes.write.format("noop").mode("overwrite").save()
      txns.write.format("noop").mode("overwrite").save()
      dead.count()
    }
    // Typed input keeps the pipeline's arrival order: one parquet file per
    // trigger's worth of topic files, taken oldest first.
    val typed = ctx.work.resolve("typed")
    for ((ticks, g) <- (0 until c.spec.ticks).grouped(BackfillFilesPerTrigger).zipWithIndex) {
      val files = (d: Path) => ticks.map(t => d.resolve(c.fileName(t)).toString)
      val part = spark.read.text(files(c.changeDir) ++ files(c.txnDir): _*).toDF("value")
      val (ch, tx, _) = DebeziumParser.split(DebeziumParser.parse(part))
      for ((ds, name) <- Seq(ch.toDF -> "change", tx.toDF -> "txn")) {
        val tmp = ctx.work.resolve(s"typed-tmp/$name-$g")
        ds.coalesce(1).write.parquet(tmp.toString)
        val f = Files.list(tmp).iterator().asScala.find(_.toString.endsWith(".parquet")).get
        val to = Files.createDirectories(typed.resolve(name)).resolve(f"part-$g%03d.parquet")
        Files.move(f, to)
        to.toFile.setLastModified(Util.nowMs() - 3600000L + g * 1000L)
      }
    }

    def reconstructOnly(v2: Boolean): (Double, Long) = {
      def src[T: org.apache.spark.sql.Encoder](name: String) =
        spark.readStream.schema(implicitly[org.apache.spark.sql.Encoder[T]].schema)
          .option("maxFilesPerTrigger", 1L)
          .parquet(typed.resolve(name).toString).as[T]
      val out = reconstruct(src[ChangeEvent]("change"), src[TxnEvent]("txn"), v2)
      val t0 = Util.nowMs()
      val q: StreamingQuery = out.writeStream.format("noop")
        .option("checkpointLocation", ctx.work.resolve(s"iso-ckpt-$v2").toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      val ps = log.of(q)
      ((ps.map(ProgressLog.endMs).max - t0) / 1e3, ps.map(_.sink.numOutputRows).sum)
    }
    val (v1S, v1Rows) = reconstructOnly(v2 = false)
    val (v2S, v2Rows) = reconstructOnly(v2 = true)

    val recs = spark.read.parquet(lastOut.toString).as[TransactionRecord].cache()
    val n = recs.count()
    val sinkDir = ctx.work.resolve("sink-iso")
    val (sinkS, _) = Util.timed(recs.write.parquet(sinkDir.toString))
    recs.unpersist()

    val want = c.expected.size.toLong
    val check = CheckResult(2, Seq(v1Rows -> "reconstruct", v2Rows -> "reconstruct_v2")
      .collect { case (got, what) if got != want => s"$what emitted $got of $want" })
    (check, Map(
      "ingest.parse_split_s" -> parseS,
      "ingest.dead_letter_rows" -> deadRows.toDouble,
      "cdc.reconstruct_s" -> v1S,
      "cdc.reconstruct_v2_s" -> v2S,
      "sink.parquet_write_s" -> sinkS,
      "sink.output_records" -> n.toDouble,
      "sink.output_mb" -> Util.treeBytes(sinkDir) / MB))
  }
}
