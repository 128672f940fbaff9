package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the one session factory: every main builds its session through
  * `GraftSession.builder`, and the shared test session gets the
  * builder's settings from the builder itself, not from launcher
  * system properties.
  */
class GraftSessionSpec extends SparkSpec {

  test("every session comes from GraftSession.builder") {
    val root = Paths.get("src/main/scala")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList
    assert(sources.size > 50, s"no sources found under $root")
    def offenders(needle: String): Seq[Path] = sources
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => Files.readString(p).contains(needle))
    Seq("SparkSession.builder(", "SPARK_GRAFT_CPUS").foreach { needle =>
      assert(offenders(needle).isEmpty,
        s"$needle outside GraftSession.scala: ${offenders(needle).mkString(", ")}")
    }

    val settings = Seq(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      GraftSession.CheckpointFileManager)
    settings.foreach { case (k, v) =>
      assert(sys.props.get(k).isEmpty, s"$k is set by the launcher")
      assert(spark.conf.get(k) == v, s"$k")
    }
  }
}
