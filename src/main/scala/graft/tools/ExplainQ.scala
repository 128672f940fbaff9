package graft.tools

/** Dev tool: print the executed plan (and optionally run) registered
  * queries — the `.explain("formatted")` feedback loop as a main.
  *
  * Usage: runMain graft.tools.ExplainQ <sfDir> <name>[,<name>...]
  *        [run] [formatted] [jobs] [reps=N]
  * `run` executes each query first so AQE final plans (reused
  * exchanges, runtime join strategy flips) are what gets printed.
  * `jobs` records per-Spark-job wall times while running (repeat
  * with reps=N) — the per-stage attribution for multi-job plans
  * (eager checkpoints each start their own job).
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val doRun = args.contains("run")
    val formatted = args.contains("formatted")
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val doJobs = args.contains("jobs")
    val reps = args.collectFirst {
      case a if a.startsWith("reps=") => a.stripPrefix("reps=").toInt
    }.getOrElse(1)
    val jobLog =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobDur = scala.collection.mutable.ArrayBuffer[(Int, Double, String)]()
    if (doJobs) spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val site = Option(j.properties)
            .flatMap(p => Option(p.getProperty("callSite.short")))
            .getOrElse("?")
          jobLog.put(j.jobId, (j.time, site)); ()
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          Option(jobLog.get(j.jobId)).foreach { case (t0, site) =>
            jobDur.synchronized {
              jobDur += ((j.jobId, (j.time - t0) / 1e3, site)); ()
            }
          }
        }
      })
    names.foreach { name =>
      (1 to reps).foreach { rep =>
        jobDur.synchronized(jobDur.clear())
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        println(s"===== $name (rep $rep) =====")
        if (doRun || doJobs) {
          val n = df.count()
          println(f"rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
        if (doJobs) {
          Thread.sleep(200) // let late onJobEnd events drain
          jobDur.synchronized(jobDur.sortBy(_._1)).foreach {
            case (id, sec, site) =>
              println(f"  job $id%4d  $sec%8.3fs  $site")
          }
        }
        if (rep == reps) {
          if (formatted) df.explain("formatted")
          else if (!doJobs) println(df.queryExecution.executedPlan.toString)
        }
      }
    }
    spark.stop()
  }
}
