package graft.tools

/** Times PLAN CONSTRUCTION (not execution) per registered query at a
  * corpus dir, under the same plan-only memo mode
  * [[graft.plans.ExchangeGoldenSpec]] uses. Most queries plan in
  * milliseconds; the ones that take seconds-to-minutes are those
  * whose CONSTRUCTION runs data-dependent actions (fixpoint loop
  * counts, stats probes) — the list this tool prints is the
  * exclusion set the sf10 exchange-golden test documents.
  *
  * Usage: runMain graft.tools.PlanTime <sfDir> [minSeconds] [reps=N]
  * With reps=N every query is constructed N times and the LAST
  * construction is what gets reported — the steady-state planning
  * cost, free of the catalyst/analyzer JIT warm-up that otherwise
  * lands on whichever queries sort first alphabetically.
  */
object PlanTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val minSec = args.drop(1).find(_.matches("[0-9.]+"))
      .map(_.toDouble).getOrElse(0.0)
    val reps = args.collectFirst {
      case a if a.startsWith("reps=") => a.stripPrefix("reps=").toInt
    }.getOrElse(1)
    val b = graft.GraftSession.builder()
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "false")
    // A/B planner knobs without rebuilding: conf:key=value args.
    args.filter(_.startsWith("conf:")).foreach { a =>
      val kv = a.stripPrefix("conf:").split("=", 2)
      b.config(kv(0), kv(1))
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.setProperty("graft.plan.only", "1")
    graft.SessionMemo.invalidate(sfDir)
    val times = graft.SparkEntry.queries.toSeq.sortBy(_._1).map {
      case (name, fn) =>
        val t = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).queryExecution.executedPlan
          (System.nanoTime() - t0) / 1e9
        }.last
        name -> t
    }
    times.filter(_._2 >= minSec).sortBy(-_._2).foreach { case (n, t) =>
      println(f"[plantime] $n%-24s $t%8.2fs")
    }
    println(f"[plantime] TOTAL ${times.map(_._2).sum}%.1fs over " +
      s"${times.size} queries")
    // Catalyst rule-level attribution (round 14): cumulative
    // RuleExecutor time across the whole run — where the planning
    // seconds actually go (pass `rules` to print).
    if (args.contains("rules"))
      println(org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent())
    spark.stop()
  }
}
