package graft

import org.apache.spark.sql.SparkSession

/** The one session factory — every main and the test sessions build
  * here — with the scale-oriented defaults documented for the 100 TB
  * design point.
  *
  * Local testing runs `local[N]`; on a real cluster the same configs
  * apply with `shufflePartitions` sized to ~2-3× total cores (or left
  * to AQE coalescing). Stateful streaming queries additionally want the
  * RocksDB state store provider — heap state does not survive 100 TB of
  * open transactions (the reference's unbounded heap `ValueState` is
  * exactly the thing this replaces).
  */
object GraftSession {

  /** Checkpoint file manager for every streaming query: writes `file:`
    * checkpoints with the JDK's file API. Without libhadoop, Spark's
    * default manager starts `chmod`/`stat` subprocesses for each file it
    * creates, and a micro-batch writes several on its critical path:
    * offset and commit logs, both file-source logs, the file sink's
    * `_spark_metadata` log and the state store's files. Measured on a
    * 4-core VM (2 runs of 3 × 50 atomic files of 400 B): 32–49 ms and
    * 20 new processes and threads per file through Spark's manager,
    * 0.5–0.7 ms and none through a JDK write + fsync + rename. Other
    * schemes go to Spark's own manager, so the path decides.
    */
  val CheckpointFileManager: (String, String) =
    graft.streaming.LocalCheckpointFileManager.ConfKey ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName

  /** Local cores for the default master and shuffle width:
    * `SPARK_GRAFT_CPUS` if set, else every core the JVM sees. The one
    * place any tool reads it.
    */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus,
      rocksDbState: Boolean = false): SparkSession.Builder = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      // the engine's own extensions: custom codegen functions in SQL +
      // the Levenshtein threshold-pushdown optimizer rule
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Codegen class cache (STATIC conf, default 100): a session
      // serving many distinct queries recompiles evicted stages —
      // measured 40% of the 252-query warm suite at sf0.1. Sized to
      // hold every stage's generated class; ~KBs each on the heap.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // AQE: runtime coalescing + skew-join splitting — the salting
      // fallback for keys we can't predict.
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Parquet: vectorized reader + pushdown are defaults; keep
      // partition sizes bounded so a 100 TB table splits sanely.
      .config("spark.sql.files.maxPartitionBytes", "256m")
      // Eager localCheckpoint blocks (the maintained-table memos and
      // per-query materializations) are reclaimed by ContextCleaner
      // only when the DRIVER GCs — and a large heap can go tens of
      // minutes without a full GC (Spark's default periodicGC is
      // 30 min), so unreferenced checkpoint blocks pile up and
      // co-running queries go memory-bound. Measured at sf10: suite
      // runs inflated otherwise-linear queries 3-6× vs isolated runs.
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config(CheckpointFileManager._1, CheckpointFileManager._2)
    if (rocksDbState)
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    else b
  }
}
