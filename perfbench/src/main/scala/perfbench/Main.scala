package perfbench

import java.nio.file.{Files, Path, Paths}

/** Everything a workload needs to know about its run. */
final case class Ctx(seed: Long, seconds: Int, trace: Boolean,
    root: Path, work: Path) {
  val traceLog = new Trace
}

/** A workload's result: its checks, end-to-end metrics, per-layer metrics
  * (traced runs only) and free-form notes for the run record.
  */
final case class Outcome(check: CheckResult, e2e: Map[String, Double],
    layers: Map[String, Double], notes: Map[String, Any])

/** Benchmark entry point.
  *
  * {{{
  * perfbench.Main --workload <cdc|batch_queries>
  *   --seed <n> --seconds <s> --trace <0|1> --root <checkout>
  * perfbench.Main --selftest --root <checkout>
  * }}}
  *
  * The last line of standard output is the result object. The run record
  * (effective conf, host fingerprint, metrics, notes) and, for traced
  * runs, the spans are written under `perfbench/work/` of the checkout.
  */
object Main {

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "cdc" -> Cdc.run,
    "batch_queries" -> Batch.run)

  /** Metric name → unit, as BENCHMARK.json lists them. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_per_s" -> "1/s", "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "source.input_rows" -> "count", "source.latest_offset_s" -> "s",
    "source.get_batch_s" -> "s", "source.backlog_files_max" -> "count",
    "source.gen_late_max_ms" -> "ms",
    "backfill.batches" -> "count", "backfill.first_batch_s" -> "s",
    "backfill.add_batch_s" -> "s", "backfill.state_commit_s" -> "s",
    "stream.batches" -> "count", "stream.trigger_p50_ms" -> "ms",
    "stream.query_planning_s" -> "s", "stream.add_batch_s" -> "s",
    "stream.wal_commit_s" -> "s", "stream.commit_offsets_s" -> "s",
    "stream.first_batch_s" -> "s", "stream.phase_coverage" -> "ratio",
    "state.commit_s" -> "s", "state.update_s" -> "s", "state.removal_s" -> "s",
    "state.rows_peak" -> "count", "state.mem_peak_mb" -> "MB",
    "state.rows_removed" -> "count", "state.rows_dropped_late" -> "count",
    "ingest.parse_split_s" -> "s", "ingest.dead_letter_rows" -> "count",
    "cdc.reconstruct_s" -> "s", "cdc.reconstruct_v2_s" -> "s",
    "sink.parquet_write_s" -> "s", "sink.output_records" -> "count",
    "sink.output_mb" -> "MB", "exec.core_speedup" -> "ratio",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_write_mb" -> "MB", "exec.shuffle_write_s" -> "s",
    "exec.shuffle_read_mb" -> "MB", "exec.fetch_wait_s" -> "s",
    "exec.spill_mb" -> "MB", "exec.peak_exec_mem_mb" -> "MB",
    "exec.sched_bound" -> "ratio",
    "plan.build_s" -> "s", "catalyst.analysis_s" -> "s",
    "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "exec.run_s" -> "s", "plan.coverage" -> "ratio",
    "proc.peak_rss_mb" -> "MB", "check.fail_ratio" -> "ratio",
    "trace.spans" -> "count", "trace.throughput_per_s" -> "1/s",
    "trace.overhead_pct" -> "%")

  private def fail(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val root = Paths.get(opts.getOrElse("root", fail("--root is required")))
      .toAbsolutePath.normalize
    if (args.contains("--selftest")) {
      val ok = SelfTest.run(root.resolve("perfbench/work/selftest"))
      sys.exit(if (ok) 0 else 1)
    }
    val workload = opts.getOrElse("workload", fail("--workload is required"))
    val body = Workloads.getOrElse(workload, fail(s"unknown workload $workload"))
    val seed = opts.get("seed").flatMap(_.toLongOption).getOrElse(fail("--seed <n> is required"))
    val seconds = opts.get("seconds").flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(fail("--seconds <n> is required"))
    val trace = opts.get("trace") match {
      case Some("0") => false
      case Some("1") => true
      case _ => fail("--trace <0|1> is required")
    }
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    val work = root.resolve("perfbench/work").resolve(tag)
    Util.deleteTree(work)
    Files.createDirectories(work)
    val ctx = Ctx(seed, seconds, trace, root, work)

    Util.log(s"$tag starts")
    val out = body(ctx)
    Util.log(s"$tag measured")
    val results = root.resolve("perfbench/work/results")
    val stamp = opts.getOrElse("stamp", "")
    val layers =
      if (!trace) Map.empty[String, Double]
      else {
        // Tracing overhead: the traced throughput against the median of the
        // untraced runs of this workload recorded from the same build (same
        // source stamp). NaN (printed as null) until one is recorded.
        val untraced = Option(results.toFile.listFiles()).toSeq.flatten
          .filter(_.getName.startsWith(s"$workload-")).filter(_.getName.endsWith("-trace0.json"))
          .flatMap(f => readThroughput(f.toPath, stamp))
        val tp = out.e2e("throughput_per_s")
        val overhead =
          if (untraced.isEmpty) Double.NaN else 100.0 * (Util.median(untraced) / tp - 1.0)
        ctx.traceLog.write(work.resolve("spans.jsonl"))
        PerLayer.map(_._1).map(k => k -> 0.0).toMap ++ out.layers ++ Map(
          "proc.peak_rss_mb" -> Util.peakRssMb(),
          "check.fail_ratio" -> out.check.failed.toDouble / out.check.attempted,
          "trace.spans" -> ctx.traceLog.size.toDouble,
          "trace.throughput_per_s" -> tp,
          "trace.overhead_pct" -> overhead)
      }
    val metrics =
      if (trace) PerLayer.map { case (k, u) => k -> (layers(k), u) }
      else EndToEnd.map { case (k, u) => k -> (out.e2e(k), u) }

    val (conf, host) = Util.lastFingerprint
    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "build_stamp" -> stamp,
      "trace" -> trace, "host" -> host, "conf" -> conf,
      "attempted" -> out.check.attempted, "failed" -> out.check.failed,
      "failures" -> out.check.failures.take(50),
      "end_to_end" -> out.e2e, "per_layer" -> layers, "notes" -> out.notes)
    Util.writeLines(results.resolve(s"$tag.json"), Seq(Util.json(record)))
    if (trace)
      Util.writeLines(work.resolve("counts.jsonl"),
        layers.toSeq.sorted.map { case (k, v) => Util.json(Map("name" -> k, "value" -> v)) })

    out.check.failures.take(20).foreach(f => System.err.println(s"perfbench: check failed: $f"))
    println(s"# $workload host ${Util.json(host)}")
    println(s"# $workload notes ${Util.json(out.notes - "per_query_s")}")
    for ((k, (v, u)) <- metrics) println(f"# $k%-28s $v%.4f $u")
    val ok = out.check.failed == 0
    println(Util.json(Map(
      "correct" -> ok,
      "attempted" -> out.check.attempted,
      "failed" -> out.check.failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  /** Headline throughput of a run record, if it was made by build `stamp`. */
  private def readThroughput(f: Path, stamp: String): Option[Double] = {
    val s = new String(Files.readAllBytes(f), java.nio.charset.StandardCharsets.UTF_8)
    if (!s.contains(s"\"build_stamp\": ${Util.jstr(stamp)}")) None
    else "\"throughput_per_s\": ([0-9.eE+-]+)".r.findFirstMatchIn(s).map(_.group(1).toDouble)
  }
}
