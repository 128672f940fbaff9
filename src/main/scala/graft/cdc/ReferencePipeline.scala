package graft.cdc

import graft.GraftSession
import graft.ingest.DebeziumParser
import graft.sources.{KafkaSource, Sinks}
import org.apache.spark.sql.streaming.Trigger

/** Drop-in replacement for the reference's entry points — wire Kafka →
  * parse → reconstruct → sink as one runnable job.
  *
  * ≈ `DebeziumTransactionReconstructor.main`
  * (`DebeziumTransactionReconstructor.java:33-95`) and the
  * `...WithEventCorrelation` variant (`:37-92`): same topics, same
  * consumer cluster default (`kafka:9092`, `:47-49`), same observable
  * output (reconstructed transactions on END), with the documented
  * fixes (state TTL, no arrival-order drops) and exactly-once sinks
  * instead of `print()`.
  *
  * Args: [bootstrap] [outPath] [checkpointPath]
  *  - with only bootstrap: console sink (reference parity, `:92`)
  *  - with outPath+checkpoint: parquet sink, 60 s trigger (the
  *    reference's checkpoint cadence, `:37`)
  */
object ReferencePipeline {

  def main(args: Array[String]): Unit = {
    val bootstrap = args.headOption.getOrElse("kafka:9092")
    val b = GraftSession.builder(rocksDbState = true)
    sys.env.get("SPARK_MASTER").foreach(b.master)
    val spark = b.getOrCreate()
    // O5: streaming-query lifecycle, failures with their exceptions
    // included, goes to the log — the reference's uncaught-exception
    // handler contract, in engine-native listener form.
    graft.streaming.QueryEvents.register(spark)

    val (changeRaw, txnRaw) =
      KafkaSource.referencePipelineSources(spark, bootstrap)
    val (changes, _, _) = DebeziumParser.split(DebeziumParser.parse(changeRaw))
    val (_, txns, _)    = DebeziumParser.split(DebeziumParser.parse(txnRaw))

    val records = StreamingReconstruction.reconstruct(
      changes, txns,
      countGated = false, // reference-parity emit semantics
      ttl = Some(java.time.Duration.ofHours(1)))

    val query = args.toList match {
      case _ :: out :: ckpt :: _ =>
        Sinks.parquet(records, out, ckpt,
          Trigger.ProcessingTime("60 seconds")).start()
      case _ =>
        Sinks.console(records)
          .queryName("debezium-transaction-reconstruction").start()
    }
    query.awaitTermination()
  }
}
