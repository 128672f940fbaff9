package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** Small shared helpers: statistics, JSON rendering, sessions, host facts. */
object Util {

  def nowMs(): Long = System.currentTimeMillis()

  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on standard error, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench [${(nowMs() - jvmStartMs) / 1e3}%7.2f s] $msg")

  /** Seconds spent in `body`, with its result. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (`q` in [0,1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  // ---- JSON ----------------------------------------------------------

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** Render a flat or nested value: String, numbers, Boolean, Seq, Map. */
  def json(v: Any): String = v match {
    case null => "null"
    case s: String => jstr(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => jnum(d)
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${jstr(k.toString)}: ${json(x)}" }
        .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ", ", "]")
    case Some(x) => json(x)
    case None => "null"
    case other => jstr(other.toString)
  }

  // ---- files ---------------------------------------------------------

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally s.close()
    }

  def writeLines(p: Path, lines: Iterable[String]): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, lines.asJava, UTF_8)
  }

  def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  // ---- host + session ------------------------------------------------

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** VmHWM of this process in MB (0 where /proc is unavailable). */
  def peakRssMb(): Double = procStatusKb("VmHWM") / 1024.0

  def memTotalMb(): Double =
    readKb(java.nio.file.Paths.get("/proc/meminfo"), "MemTotal") / 1024.0

  private def procStatusKb(key: String): Double =
    readKb(java.nio.file.Paths.get("/proc/self/status"), key)

  private def readKb(file: Path, key: String): Double =
    try Files.readAllLines(file).asScala.find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    catch { case _: java.io.IOException => 0.0 }

  /** The production session shape (as in `ReferencePipeline`): local
    * master over `n` cores, `n` shuffle partitions, RocksDB state. Scratch
    * and warehouse directories are pointed into the run's work dir.
    */
  def session(n: Int, work: Path): SparkSession = {
    val s = GraftSession.builder(s"local[$n]", shufflePartitions = n,
        rocksDbState = true)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    lastFingerprint = fingerprint(s)
    s
  }

  /** Effective conf and host fingerprint of the latest session started. */
  @volatile var lastFingerprint: (Map[String, String], Map[String, Any]) =
    (Map.empty, Map.empty)

  def stop(s: SparkSession): Unit = {
    s.stop()
    // Close every loaded state store (RocksDB instances included) before
    // the JVM exits: native threads still running at exit can abort it.
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Confs that name this process or its paths, not the engine setup. */
  private val volatileConf = Set("spark.app.id", "spark.app.startTime",
    "spark.driver.port", "spark.driver.host", "spark.executor.id",
    "spark.local.dir", "spark.sql.warehouse.dir", "spark.app.submitTime")

  /** Effective conf and the host fingerprint (nproc, RAM, conf hash). */
  def fingerprint(s: SparkSession): (Map[String, String], Map[String, Any]) = {
    val conf = s.conf.getAll.filter { case (k, _) => !volatileConf(k) }
    val canon = conf.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      .mkString("\n")
    (conf, Map("nproc" -> cores, "mem_total_mb" -> math.round(memTotalMb()),
      "spark_version" -> s.version, "conf_sha256" -> sha256(canon)))
  }
}
