package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Exchange-count golden pins — the round-6 review's "quiet extra
  * shuffle" gate. [[WindowPartitionGuardSpec]] and
  * [[CartesianGuardSpec]] catch CATEGORICAL anti-patterns (a
  * single-partition sort, a cartesian product); this gate catches the
  * incremental one: a refactor that leaves a query correct but adds
  * one more `ShuffleExchange` to its plan. Every registered query's
  * (shuffle, broadcast) exchange counts are pinned in a checked-in
  * golden file; any INCREASE fails, any decrease or new query fails
  * with a regeneration instruction — so every change to a query's
  * exchange budget is an explicit, reviewed diff in git history, the
  * same discipline as the window/cartesian allowlists.
  *
  * Counts are taken with AQE off and the session's fixed shuffle
  * partitions, so they are deterministic plan properties, not runtime
  * artifacts. Regenerate after an intentional plan change with:
  * `GRAFT_UPDATE_GOLDEN=1 sbt "testOnly graft.plans.ExchangeGoldenSpec"`
  * and review the diff — a +1 in the file IS the review surface.
  */
class ExchangeGoldenSpec extends SparkSpec {

  private val goldenPath =
    Paths.get("src/test/resources/exchange_golden.tsv")
  // Second-scale pins: AQE is off, but plan shape still depends on
  // STATISTICS — `autoBroadcastJoinThreshold` reads file sizes, so a
  // join side that is broadcast at sf0.001 can cross the threshold at
  // 10x data and become a shuffle. Pinning a second scale makes that
  // crossover an explicit, reviewed diff between the two golden files
  // instead of a silent surprise on the first big corpus.
  private val goldenPathSf001 =
    Paths.get("src/test/resources/exchange_golden_sf0.01.tsv")
  // Third-scale pins at sf1 (round-9 verdict #7): AQE is off here,
  // but `autoBroadcastJoinThreshold` reads FILE SIZES, so a plan can
  // flip strategy between the bench regime and the 10x regime; until
  // this file, such a flip surfaced only as wall time. /tmp/sf1 is
  // regenerated per session (graft.ScaleUp — see the verify skill),
  // so this test cancels with instructions when the corpus is absent
  // rather than silently passing.
  private val goldenPathSf1 =
    Paths.get("src/test/resources/exchange_golden_sf1.tsv")
  // Fourth-scale pins at sf10 (round-10 verdict #6): plan flips are
  // the scale-regime bug vector (round 9 proved it at sf1, round 10
  // at sf10 — three real bugs), and "252 queries ran at sf10" says
  // nothing about the PLANS they ran with. Pinning the executed
  // exchange counts at the second decade makes a broadcast→shuffle
  // (or worse) regime flip at 60 M rows a reviewed diff, the cheapest
  // honest sf10 correctness evidence short of a DuckDB oracle run.
  private val goldenPathSf10 =
    Paths.get("src/test/resources/exchange_golden_sf10.tsv")

  // Excluded from the sf10 pins ONLY: these queries' CONSTRUCTION
  // runs data-dependent actions — fixpoint-loop convergence counts
  // (the canonicalFixpoint / star-contraction family and q_curate,
  // which composes it), beam expansions (q_ann_beam), power-iteration
  // checkpoints (q_hits), k-core peeling (q_kcore) — so "planning"
  // them at sf10 executes the full one-time index build plus the loop
  // on the 4-core test session: measured with graft.tools.PlanTime at
  // 32 cores, q_cc_star alone is 784 s (≥ an hour at local[4]); every
  // query kept below is ≤ 8 s at 32 cores, 240-query total ~80 s.
  // Their sf10 scale behavior is still gated — by the sf1→sf10 wall
  // time ratios in ScaleGateSpec — just not plan-pinned, and their
  // plans ARE pinned at the three smaller scales where construction
  // is affordable.
  private val sf10Exclude = Set(
    "q_ann_beam", "q_hits", "q_kcore",
    "q_cc_star", "q_dedup_cc", "q_dedup_fuzzy", "q_golden_record",
    "q_dedup_hops", "q_dedup_delta", "q_dedup_cap", "q_cluster_stats",
    "q_curate")

  private def planCounts(dir: String,
      exclude: Set[String] = Set.empty): Seq[(String, Int, Int)] = {
    // Session memos (dedup shingle/sig frames, the Gram matrix, the
    // graph edge view) replace whole plan subtrees with checkpointed
    // scans, so a query's exchange count depends on which memos are
    // already built. Reset them and plan in sorted name order — the
    // counts are then a deterministic function of the code, not of
    // which OTHER suite ran first.
    graft.SessionMemo.invalidate(dir)
    graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(e => exclude.contains(e._1)).map { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan
      val sh = plan.collect { case e: ShuffleExchangeExec => e }.size
      val bc = plan.collect { case e: BroadcastExchangeExec => e }.size
      (name, sh, bc)
    }
  }

  private def checkOrUpdate(dir: String,
      goldenPath: java.nio.file.Path,
      exclude: Set[String] = Set.empty): Unit = {
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    val priorParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // Exchange NODE counts are independent of the partition count,
    // but the construction-time actions some queries take (fixpoint
    // loop counts, stats probes) are not: at sf10 a 4-partition
    // shuffle spills for tens of minutes. 32 partitions keeps those
    // probes tractable without touching anything the pins measure.
    spark.conf.set("spark.sql.shuffle.partitions", "32")
    // PLAN-ONLY memos (graft.Memo): pinning needs executed plans, not
    // results, but eager memo checkpoints run whole index builds at
    // construction — at sf10 that is tens of minutes of spill on the
    // 4-core test session. Lazy checkpoints plan to the identical
    // stats-less LogicalRDD scan, so the counts cannot differ; the
    // three pre-existing goldens re-pinning byte-identically under
    // this flag is the recorded equivalence proof. Memos built here
    // are lazily-backed, so they are invalidated again afterwards
    // rather than leaked to suites that will actually run queries.
    System.setProperty("graft.plan.only", "1")
    try {
      val counts = planCounts(dir, exclude)
      if (sys.env.contains("GRAFT_UPDATE_GOLDEN")) {
        val body = counts
          .map { case (n, s, b) => s"$n\t$s\t$b" }.mkString("", "\n", "\n")
        Files.createDirectories(goldenPath.getParent)
        Files.write(goldenPath, body.getBytes(StandardCharsets.UTF_8))
        info(s"golden regenerated: ${counts.size} queries")
      } else {
        assert(Files.exists(goldenPath),
          "no golden file — run with GRAFT_UPDATE_GOLDEN=1 to create it")
        val golden = Files.readAllLines(goldenPath).asScala
          .filter(_.nonEmpty)
          .map { l =>
            val Array(n, s, b) = l.split("\t"); n -> ((s.toInt, b.toInt))
          }.toMap
        val problems = counts.flatMap { case (name, sh, bc) =>
          golden.get(name) match {
            case None =>
              Some(s"$name: not pinned (new query — regenerate golden)")
            case Some((gs, gb)) if sh > gs || bc > gb =>
              Some(s"$name: exchanges grew shuffle $gs->$sh " +
                s"broadcast $gb->$bc")
            case Some((gs, gb)) if sh < gs || bc < gb =>
              Some(s"$name: exchanges shrank shuffle $gs->$sh " +
                s"broadcast $gb->$bc — improvement, pin it by " +
                s"regenerating the golden")
            case _ => None
          }
        }
        val removed = golden.keySet -- counts.map(_._1).toSet
        assert(problems.isEmpty && removed.isEmpty,
          (problems ++ removed.map(n => s"$n: pinned but no longer " +
            s"registered — regenerate golden")).mkString("\n"))
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prior)
      spark.conf.set("spark.sql.shuffle.partitions", priorParts)
      System.clearProperty("graft.plan.only")
      graft.SessionMemo.invalidate(dir)
    }
  }

  test("per-query exchange counts match the golden pins") {
    checkOrUpdate(sf(), goldenPath)
  }

  test("per-query exchange counts match the sf0.01 golden pins") {
    checkOrUpdate(sf("sf0.01"), goldenPathSf001)
  }

  test("per-query exchange counts match the sf1 golden pins") {
    assume(Files.isDirectory(Paths.get("/tmp/sf1")),
      "/tmp/sf1 absent — regenerate with " +
        "`sbt \"runMain graft.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10\"`" +
        " to run the sf1 plan pins")
    checkOrUpdate("/tmp/sf1", goldenPathSf1)
  }

  test("per-query exchange counts match the sf10 golden pins") {
    assume(Files.isDirectory(Paths.get("/tmp/sf10")),
      "/tmp/sf10 absent — regenerate /tmp/sf1 first, then " +
        "`sbt \"runMain graft.ScaleUp /tmp/sf1 /tmp/sf10 10\"`" +
        " to run the sf10 plan pins")
    checkOrUpdate("/tmp/sf10", goldenPathSf10, sf10Exclude)
  }
}
