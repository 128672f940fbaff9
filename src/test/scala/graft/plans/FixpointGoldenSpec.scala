package graft.plans

import graft.SparkSpec

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the fixpoint-loop goldens (round-11 verdict #5): the 12
  * construction-heavy queries excluded from the sf10 exchange pins
  * run data-dependent convergence loops, previously gated only by
  * wall time. [[graft.LoopProbe]] records each loop's
  * (iterations, exchanges-per-iteration); this spec re-derives the
  * golden at sf0.01 on every `sbt test` — a convergence-regime change
  * (a fixpoint needing more rounds, a peel finishing early, an extra
  * shuffle inside a loop body) becomes a failing diff — and validates
  * the checked-in sf10 artifact's shape (12 lines, parseable), which
  * `graft.tools.FixpointGolden /tmp/sf10` regenerates for review.
  *
  * Regenerate after an intentional change with:
  * `GRAFT_UPDATE_GOLDEN=1 sbt "testOnly graft.plans.FixpointGoldenSpec"`
  * then `sbt "runMain graft.tools.FixpointGolden /tmp/sf10
  * src/test/resources/fixpoint_golden_sf10.tsv"` and review both
  * diffs.
  */
class FixpointGoldenSpec extends SparkSpec {

  private val goldenPath =
    Paths.get("src/test/resources/fixpoint_golden_sf0.01.tsv")
  private val goldenPathSf10 =
    Paths.get("src/test/resources/fixpoint_golden_sf10.tsv")
  private val update = sys.env.contains("GRAFT_UPDATE_GOLDEN")

  private def currentLines(): Seq[String] = {
    val prior = spark.conf.get("spark.sql.adaptive.enabled")
    // The index tier would skip a cached loop entirely; probe with it
    // off (restored after — IndexTierSpec owns the property's
    // lifecycle in its own tests).
    val priorTier = sys.props.get("graft.index.dir")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    System.setProperty("graft.index.dir", "")
    graft.LoopProbe.enable()
    graft.SessionMemo.invalidate(sf("sf0.01"))
    try {
      graft.tools.FixpointGolden.Queries.map { name =>
        s"$name\t${graft.tools.FixpointGolden.probeLine(spark, sf("sf0.01"), name)}"
      }
    } finally {
      graft.LoopProbe.disable()
      // The probe run leaves memos built tier-off; drop them so later
      // suites rebuild under their own configuration.
      graft.SessionMemo.invalidate(sf("sf0.01"))
      spark.conf.set("spark.sql.adaptive.enabled", prior)
      priorTier match {
        case Some(v) => System.setProperty("graft.index.dir", v)
        case None => System.clearProperty("graft.index.dir")
      }
    }
  }

  test("fixpoint loop golden at sf0.01 matches the checked-in pin") {
    val lines = currentLines()
    if (update) {
      Files.createDirectories(goldenPath.getParent)
      Files.write(goldenPath,
        (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
      info(s"golden UPDATED: $goldenPath (${lines.size} lines) — review the diff")
    } else {
      assert(Files.exists(goldenPath),
        s"no golden at $goldenPath — generate with GRAFT_UPDATE_GOLDEN=1")
      val pinned = Files.readAllLines(goldenPath).asScala.filter(_.nonEmpty)
      val diffs = pinned.zipAll(lines, "<missing>", "<missing>")
        .filter { case (a, b) => a != b }
      assert(diffs.isEmpty,
        "fixpoint golden drift (pinned vs current):\n" +
          diffs.map { case (a, b) => s"  pinned:  $a\n  current: $b" }
            .mkString("\n") +
          "\nIf intentional, regenerate with GRAFT_UPDATE_GOLDEN=1 and " +
          "review the diff.")
    }
  }

  test("sf10 fixpoint golden artifact is present and well-formed") {
    assert(Files.exists(goldenPathSf10),
      s"no sf10 fixpoint golden at $goldenPathSf10 — generate with " +
        "`sbt \"runMain graft.tools.FixpointGolden /tmp/sf10 " +
        s"$goldenPathSf10\"` (ScaleUp /tmp/sf10 first if absent)")
    val lines = Files.readAllLines(goldenPathSf10).asScala.filter(_.nonEmpty)
    val names = lines.map(_.split("\t")(0))
    assert(names.sorted == graft.tools.FixpointGolden.Queries.sorted,
      s"sf10 golden must cover exactly the 12 excluded queries; has $names")
    val entry = "[a-z_]+:\\d+:-?\\d+".r
    lines.foreach { l =>
      val parts = l.split("\t")
      assert(parts.length == 2, s"malformed line: $l")
      assert(parts(1) == "-" ||
        parts(1).split(",").forall(e => entry.pattern.matcher(e).matches()),
        s"malformed probe events in: $l")
    }
  }
}
