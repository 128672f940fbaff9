package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** The batch query registry, every query fully materialized: built by
  * its registry function, then written to the `noop` sink, in one cold
  * pass after an untimed read of every table.
  */
object Batch {

  /** Every `Stride`-th query of the registry by name (never hand-picked),
    * so one cold pass fits a run.
    */
  val Stride = 12

  def selection(names: Iterable[String]): Seq[String] =
    names.toSeq.sorted.grouped(Stride).map(_.head).toSeq

  /** Untimed set-up queries, disjoint from the selection: the middle query
    * of every eighth group. Without them the first queries of the pass
    * carry the JVM's one-time cost (JIT, class loading): the first took
    * twice as long, and that cost swings with the host.
    */
  def warmups(names: Iterable[String]): Seq[String] =
    names.toSeq.sorted.grouped(Stride * 8).map(_(Stride / 2)).toSeq

  /** One query's timings: its wall time, and the build and write calls
    * inside it.
    */
  final case class QueryRun(name: String, startMs: Long, wallS: Double,
      buildS: Double, writeS: Double, rows: Either[String, Long])

  private def readAllTables(s: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      val df = if (n == "events") Tables.events(s, dir) else Tables.table(s, dir, n)
      df.write.format("noop").mode("overwrite").save()
    }

  def run(ctx: Ctx): Outcome = {
    val dataDir = ctx.root.resolve("perfbench/data/sf0.01")
    val dir = dataDir.toString
    val expected = Files.readAllLines(ctx.root.resolve("perfbench/data/expected_rows.tsv"))
      .asScala.map(_.split("\t")).map(a => a(0) -> a(1).toLong).toMap
    val registry = SparkEntry.queries
    // The set-up, cold as the JVM is: session start, the warm-up queries on
    // a throw-away session (so the pass still builds every plan and memo
    // entry cold) and an untimed read of every table.
    val (setupS, spark) = Util.timed {
      val s = Util.session(Util.cores, ctx.work)
      val scratch = s.newSession()
      for (name <- warmups(registry.keys))
        registry(name)(scratch, dir).write.format("noop").mode("overwrite").save()
      readAllTables(s, dir)
      s
    }
    Util.log(f"set-up: $setupS%.2f s")
    val probes = Probes.attach(spark, ctx.trace)
    // Fixed order: in a cold pass each query warms caches for the next, so
    // a seed-dependent order would move per-query times between runs. The
    // inputs (tables and queries) do not depend on the seed.
    val runs = selection(registry.keys).zipWithIndex.map { case (name, i) =>
      val t0 = Util.nowMs()
      val n0 = System.nanoTime()
      var buildS, writeS = 0.0
      val rows =
        try {
          val (b, df) = Util.timed(registry(name)(spark, dir))
          buildS = b
          val obs = Observation(s"rows_$i")
          val (w, _) = Util.timed(df.observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save())
          writeS = w
          Right(obs.get("n").asInstanceOf[Long])
        } catch {
          case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
        }
      QueryRun(name, t0, (System.nanoTime() - n0) / 1e9, buildS, writeS, rows)
    }
    val check = Check.rowCounts(expected, runs.map(r => r.name -> r.rows))
    val walls = runs.map(_.wallS)
    val suiteS = walls.sum
    val e2e = Map("setup_s" -> setupS, "throughput_per_s" -> runs.size / suiteS,
      "latency_p50_ms" -> Util.quantile(walls, 0.5) * 1e3,
      "latency_p90_ms" -> Util.quantile(walls, 0.9) * 1e3)
    val notes = Map[String, Any]("queries" -> runs.size, "stride" -> Stride,
      "suite_s" -> suiteS, "query_p50_s" -> Util.median(walls),
      "per_query_s" -> runs.map(r => r.name -> r.wallS).toMap)

    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        val buildS = runs.map(_.buildS).sum
        val runS = runs.map(_.writeS).sum
        val t = ctx.traceLog
        val root = t.add(0, "batch_queries", runs.head.startMs,
          runs.last.startMs + (runs.last.wallS * 1e3).toLong)
        val phases = probes.planProbe.toSeq.flatMap(_.all)
        for (r <- runs) {
          val end = r.startMs + (r.wallS * 1e3).toLong
          val q = t.add(root, r.name, r.startMs, end)
          val mid = r.startMs + (r.buildS * 1e3).toLong
          t.add(q, "build", r.startMs, mid)
          t.add(q, "write", mid, end)
          for (p <- phases; (k, (a, b)) <- p if a >= r.startMs && a <= end)
            t.add(q, s"catalyst.$k", a, b)
        }
        probes.metrics(suiteS) ++ Map(
          "plan.build_s" -> buildS,
          "exec.run_s" -> runS,
          "plan.coverage" -> (buildS + runS) / suiteS)
      }
    Util.stop(spark)
    Outcome(check, e2e, layers, notes)
  }
}
