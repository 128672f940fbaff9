package graft.tools

import graft.GraftSession
import graft.cdc.StreamingReconstruction
import graft.model.{ChangeEvent, TxnEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming soak at realistic state volume (round-12 verdict
  * stretch #7): the reconstruction operator is spec-proven on toy
  * batches; this tool drives it through ~6 M events (the sf1
  * corpus's event-count regime) in bounded chunks and records the
  * STATE STORE's own telemetry per micro-batch — rows held, bytes
  * held, rows evicted — which is the evidence that
  * `flatMapGroupsWithState` state stays bounded when a fraction of
  * transactions never terminates.
  *
  * Workload shape (deterministic, no RNG): `nTxn` transactions in
  * id-contiguous chunks, `eventsPerTxn` change events each with
  * monotonically increasing event time (1 ms per txn id → the
  * watermark advances steadily), an END marker for 90% of them
  * (every 10th transaction NEVER ends — the reference's state-leak
  * scenario, `DebeziumTransactionReconstructor.java:131-170`), and
  * every 5th END arriving one chunk LATE so cross-batch state is
  * always present. Event-time eviction
  * ([[StreamingReconstruction.reconstructEventTime]], 1 min
  * watermark, 5 min horizon) must reclaim the never-ended 10% as the
  * watermark passes them: the soak PASSES when final state rows are
  * bounded by the eviction horizon's width (open txns inside the
  * last horizon window) rather than growing with total input.
  *
  * Usage: runMain graft.tools.StreamSoak [nTxn] [eventsPerTxn]
  *        [chunks] [outPath]
  * Defaults: 2,000,000 × 2 (+1.8 M markers ≈ 5.8 M rows), 20 chunks,
  * bench/scale_r13/stream_soak.tsv.
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val nTxn = if (args.length > 0) args(0).toInt else 2000000
    val perTxn = if (args.length > 1) args(1).toInt else 2
    val chunks = if (args.length > 2) args(2).toInt else 20
    val out = if (args.length > 3) args(3) else "target/stream_soak.tsv"
    // The production session, with the default (HDFS-backed) state store
    // whose footprint the soak reports.
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val changes = MemoryStream[ChangeEvent]
    val txns = MemoryStream[TxnEvent]
    val recon = StreamingReconstruction.reconstructEventTime(
      changes.toDS(), txns.toDS(), countGated = true,
      watermarkDelay = java.time.Duration.ofMinutes(1),
      evictionHorizon = java.time.Duration.ofMinutes(5))
    // Count-only sink: the soak measures state behavior, not result
    // materialization (the batch twin's oracle already proves values).
    val query = recon.writeStream
      .format("memory").queryName("soak").outputMode("append").start()

    def txnId(t: Int): String = f"t$t%08d"
    def eventsOf(t: Int): Seq[ChangeEvent] =
      (0 until perTxn).map { i =>
        ChangeEvent(txnId(t), "u", t.toLong, // 1 ms per txn id
          Some(s"""{"v":${t - 1}}"""), Some(s"""{"v":$t}"""))
      }

    val perChunk = nTxn / chunks
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    lines += "chunk\tinput_rows\temitted_total\tstate_rows\tstate_mb" +
      "\trows_removed\tsec"
    var emittedPrev = 0L
    var lastBatch = -1L
    (0 until chunks).foreach { c =>
      val t0 = System.nanoTime()
      val lo = c * perChunk
      val hi = if (c == chunks - 1) nTxn else (c + 1) * perChunk
      val evs = (lo until hi).flatMap(eventsOf)
      // END markers: 90% of txns end; every 5th of those ends one
      // chunk late (arrives with the NEXT chunk's data).
      def endsIn(chunk: Int): Seq[TxnEvent] = {
        val l = chunk * perChunk
        val h = if (chunk == chunks - 1) nTxn else (chunk + 1) * perChunk
        (l until h).filter(_ % 10 != 9).collect {
          case t if (t % 5 == 0) == (chunk != c) => // late ↔ next chunk
            TxnEvent(txnId(t), "END", Some(perTxn.toLong))
        }
      }
      val markers = endsIn(c) ++ (if (c > 0) endsIn(c - 1) else Nil)
      changes.addData(evs)
      txns.addData(markers)
      query.processAllAvailable()
      val emitted = spark.table("soak").count()
      // A chunk spans several micro-batches (the data batch plus
      // watermark-advance / timeout batches), and `lastProgress` is
      // whichever ran LAST — often an empty trailing batch whose
      // stores were never loaded, reporting memoryUsedBytes = 0
      // (measured: the first soak run printed 0.0 MB on every chunk
      // while holding 56 k state rows). Aggregate over the chunk's
      // batches instead: rows from the latest batch that reports
      // state, memory as the chunk's MAX (peak held), evictions
      // summed across batches.
      val sos = query.recentProgress
        .filter(p => p.batchId > lastBatch && p.stateOperators.nonEmpty)
        .sortBy(_.batchId)
      if (sys.env.contains("SOAK_DEBUG"))
        sos.foreach(p => System.err.println("[soak-debug] " + p.json))
      lastBatch = sos.lastOption.map(_.batchId).getOrElse(lastBatch)
      val stateRows = sos.lastOption
        .map(_.stateOperators.head.numRowsTotal).getOrElse(-1L)
      val stateMb =
        if (sos.isEmpty) -1.0
        else sos.map(_.stateOperators.head.memoryUsedBytes).max / 1e6
      val removed =
        if (sos.isEmpty) -1L
        else sos.map(_.stateOperators.head.numRowsRemoved).sum
      val sec = (System.nanoTime() - t0) / 1e9
      val line = f"$c\t${evs.size + markers.size}\t$emitted\t$stateRows" +
        f"\t$stateMb%.1f\t$removed\t$sec%.1f"
      lines += line
      System.err.println(s"[soak] $line (emitted+${emitted - emittedPrev})")
      emittedPrev = emitted
    }
    query.stop()

    val f = new java.io.File(out)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f)
    try lines.foreach(w.println) finally w.close()
    println(s"wrote ${lines.size - 1} chunk rows to $out")
    spark.stop()
  }
}
