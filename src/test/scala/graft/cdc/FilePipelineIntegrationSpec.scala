package graft.cdc

import graft.SparkSpec
import graft.ingest.DebeziumParser
import graft.model.TransactionRecord
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.{Files, Path}

/** Broker-free integration drive of the FULL reference composition
  * (S1/S2 → P1/P2/P5 → J1/A1): two file streaming sources stand in
  * for the two Kafka topics (`KafkaSource.referencePipelineSources` —
  * same single-`value`-string-column contract, swapping only the
  * `format("kafka")` source for `format("text")`), replaying
  * FIXTURES.md §1 envelopes through `DebeziumParser.parse → split →
  * StreamingReconstruction.reconstruct` end to end with the
  * PRODUCTION options (reference-parity emit, 1 h TTL, durable sink).
  *
  * Driven as repeated `Trigger.Once` runs over one shared checkpoint:
  * ProcessingTimeTimeout (the TTL) schedules timeout batches forever
  * under `processAllAvailable` (see StreamingReconstructionSpec), and
  * the restart-per-wave shape additionally exercises the operational
  * envelope the Kafka path relies on — source offsets committed to
  * the checkpoint, a fresh query resuming from them, stateful
  * reconstruction state surviving the restart (O1/O2).
  *
  * The sandbox has no Kafka broker; this is the closest executable
  * approximation of `DebeziumTransactionReconstructor.java:47-95` —
  * everything downstream of `.load()` is the production code path.
  */
class FilePipelineIntegrationSpec extends SparkSpec {
  import spark.implicits._

  private def change(txn: String, ts: Long, op: String = "u"): String =
    s"""{"payload": {"op": "$op", "ts_ms": $ts, "transaction": {"id": "$txn"}, "before": {"v": ${ts - 1}}, "after": {"v": $ts}}}"""
  private def marker(txn: String, status: String, count: Long = -1): String = {
    val c = if (count >= 0) count.toString else "null"
    s"""{"payload": {"status": "$status", "id": "$txn", "event_count": $c}}"""
  }

  private var nFile = 0
  private def writeTopicFile(dir: Path, lines: Seq[String]): Unit = {
    nFile += 1
    // atomic arrival: write elsewhere, move in — the file source must
    // never see a half-written file (same discipline as a Kafka commit)
    val tmp = Files.createTempFile("staging", ".json")
    Files.writeString(tmp, lines.mkString("\n"))
    Files.move(tmp, dir.resolve(f"part-$nFile%05d.json"))
    ()
  }

  /** The reference composition over two topic paths; each call of the
    * returned function runs it as one bounded micro-batch, a fresh query
    * over the same checkpoint — a checkpointed restart per wave.
    */
  private def pipeline(changePath: String, txnPath: String, outDir: String,
      ckptDir: String): () => Unit = {
    // The referencePipelineSources contract: one raw DataFrame per
    // topic with a single `value` string column.
    val changeRaw = spark.readStream.format("text")
      .load(changePath).toDF("value")
    val txnRaw = spark.readStream.format("text")
      .load(txnPath).toDF("value")

    // Identical downstream wiring to ReferencePipeline.main
    val (changes, _, _) = DebeziumParser.split(DebeziumParser.parse(changeRaw))
    val (_, txns, _) = DebeziumParser.split(DebeziumParser.parse(txnRaw))
    val records = StreamingReconstruction.reconstruct(
      changes, txns,
      countGated = false,
      ttl = Some(java.time.Duration.ofHours(1)))

    () => records.writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", ckptDir)
      .outputMode("append")
      .trigger(Trigger.Once())
      .start()
      .awaitTermination()
  }

  test("file-replayed Kafka composition: parse, split, reconstruct end to end") {
    val root = Files.createTempDirectory("graft-filepipe")
    val changeDir = Files.createDirectories(root.resolve("topic-change"))
    val txnDir = Files.createDirectories(root.resolve("topic-txn"))
    val outDir = root.resolve("out").toString
    val ckptDir = root.resolve("ckpt").toString
    val runOnce = pipeline(changeDir.toString, txnDir.toString, outDir, ckptDir)

    // Wave 1: t1 events out of order + BEGIN; one malformed row (dead
    // letter path of the split — must not break the pipeline).
    writeTopicFile(changeDir, Seq(change("t1", 30), change("t1", 10),
      "{not json"))
    writeTopicFile(txnDir, Seq(marker("t1", "BEGIN")))
    runOnce()
    // no END yet → nothing emitted (the sink commits an empty batch)
    assert(spark.read.parquet(outDir).count() == 0)

    // Wave 2: straggler t1 event + END across a RESTART (state and
    // file-source offsets resume from the checkpoint), plus a complete
    // single-event t2.
    writeTopicFile(changeDir, Seq(change("t1", 20), change("t2", 5, "c")))
    writeTopicFile(txnDir, Seq(marker("t1", "END", 3),
      marker("t2", "END", 1)))
    runOnce()

    val recs = spark.read.parquet(outDir).as[TransactionRecord]
      .collect().sortBy(_.transactionId)
    assert(recs.map(_.transactionId).toSeq == Seq("t1", "t2"))
    val t1 = recs(0)
    assert(t1.events.map(_.tsMs) == Seq(10, 20, 30)) // time-ordered
    assert(t1.eventCount.contains(3L))
    assert(recs(1).events.map(_.operation) == Seq("c"))
  }

  test("a checkpoint written by Spark's default manager resumes exactly once") {
    // Checkpoints that exist before GraftSession.CheckpointFileManager
    // was set carry Hadoop's `.crc` sidecars; the next run reads them
    // (checksummed) and goes on writing beside them.
    val root = Files.createTempDirectory("graft-filepipe-resume")
    val changeDir = Files.createDirectories(root.resolve("topic-change"))
    val txnDir = Files.createDirectories(root.resolve("topic-txn"))
    val outDir = root.resolve("out").toString
    val ckpt = root.resolve("ckpt")
    val runOnce = pipeline(changeDir.toString, txnDir.toString, outDir,
      ckpt.toString)

    val (key, cls) = graft.GraftSession.CheckpointFileManager
    // Wave 1 under Spark's default manager: t0 completes, t1 opens.
    writeTopicFile(changeDir, Seq(change("t0", 1), change("t1", 10)))
    writeTopicFile(txnDir, Seq(marker("t0", "END", 1), marker("t1", "BEGIN")))
    spark.conf.unset(key)
    try runOnce() finally spark.conf.set(key, cls)
    assert(Files.exists(ckpt.resolve("offsets").resolve(".0.crc")))
    assert(spark.read.parquet(outDir).count() == 1)

    // Wave 2 under the session's manager, over the same checkpoint: t1's
    // state and both sources' offsets resume, t0 is not emitted again.
    writeTopicFile(changeDir, Seq(change("t1", 20), change("t2", 5, "c")))
    writeTopicFile(txnDir, Seq(marker("t1", "END", 2), marker("t2", "END", 1)))
    runOnce()
    assert(Files.exists(ckpt.resolve("offsets").resolve("1")))
    assert(!Files.exists(ckpt.resolve("offsets").resolve(".1.crc")))

    val recs = spark.read.parquet(outDir).as[TransactionRecord]
      .collect().sortBy(_.transactionId)
    assert(recs.map(_.transactionId).toSeq == Seq("t0", "t1", "t2"))
    assert(recs(1).events.map(_.tsMs) == Seq(10, 20))
    assert(recs(1).eventCount.contains(2L))
  }

  test("pattern subscription routing: one glob source captures both change topics") {
    // The reference's second pipeline subscribes the change side by
    // PATTERN (`mysql-server.db_1.*`,
    // `...WithEventCorrelation.java:56`) so one source captures every
    // table of the database, while transaction markers stay on the one
    // fixed topic. File form of the same routing: a topic directory per
    // table, ONE glob path over them feeding the single change source,
    // a separate directory for the marker topic — pinning the
    // two-sources-three-topics option plumbing that the sandbox cannot
    // execute against a live broker.
    val root = Files.createTempDirectory("graft-filepipe-pattern")
    val tblA = Files.createDirectories(root.resolve("mysql-server.db_1.table_a"))
    val tblB = Files.createDirectories(root.resolve("mysql-server.db_1.table_b"))
    val txnDir = Files.createDirectories(root.resolve("mysql-server.transaction"))
    val outDir = root.resolve("out").toString
    val ckptDir = root.resolve("ckpt").toString
    val runOnce = pipeline(root.resolve("mysql-server.db_1.*").toString,
      txnDir.toString, outDir, ckptDir)

    // One transaction spanning BOTH captured tables (a multi-table
    // write is exactly what the pattern subscription exists for), one
    // confined to table_b; markers arrive on the fixed topic.
    writeTopicFile(tblA, Seq(change("t1", 10)))
    writeTopicFile(tblB, Seq(change("t1", 30), change("t2", 5, "c")))
    writeTopicFile(txnDir, Seq(marker("t1", "BEGIN")))
    runOnce()
    assert(spark.read.parquet(outDir).count() == 0) // no END yet

    // Second wave over the same checkpoint: the glob source must
    // discover NEW files in both table directories after a restart.
    writeTopicFile(tblA, Seq(change("t1", 20)))
    writeTopicFile(txnDir, Seq(marker("t1", "END", 3),
      marker("t2", "END", 1)))
    runOnce()

    val recs = spark.read.parquet(outDir).as[TransactionRecord]
      .collect().sortBy(_.transactionId)
    assert(recs.map(_.transactionId).toSeq == Seq("t1", "t2"))
    // events from table_a and table_b interleave into ONE time-ordered
    // transaction — the union the pattern subscription promises
    assert(recs(0).events.map(_.tsMs) == Seq(10, 20, 30))
    assert(recs(0).eventCount.contains(3L))
    assert(recs(1).events.map(_.operation) == Seq("c"))
  }
}
