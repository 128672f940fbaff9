package graft.plans

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The per-query scale gate: the one implementation of the rules that
  * judge the checked-in `bench/scale_r*` profile sets. It runs on every
  * `sbt test` with the NEWEST set as the candidate, so checking in a new
  * round's profiles subjects them to the gate.
  *
  * A set holds the maps graft.Bench writes (`target/bench_{cold,warm,
  * meta}.json`), copied as `sfX_{cold,warm,meta}.json` for sfX in sf01,
  * sf1, sf10 and sf100. A decade (sf0.1→sf1, sf1→sf10, sf10→sf100) is
  * gated when the candidate carries its high-scale profile. Its
  * reference is the newest older set that carries it too; with none,
  * every query is held to the hard cap alone. A candidate may not skip a
  * decade that an older set carries by leaving out its profiles.
  *
  * Per query, on the warm ratio hi/lo (lo floored to 100 ms):
  *  - hard cap: a ratio over 15× fails, unless the high-scale time did
  *    not regress (cand ≤ ref × relTol) AND the low-scale time improved.
  *    That denominator effect is the only way a ratio legitimately blows
  *    the cap; a query super-linear in both rounds must not be
  *    grandfathered by flat absolute times.
  *  - reference-relative: a ratio over max(refRatio × relTol, 3×) fails
  *    when the high-scale time also regressed past ref × relTol, by more
  *    than max(1 s, refHi). Sub-second deltas on tiny denominators are
  *    suite pressure, not scaling laws.
  *  - absolute: a high-scale warm over refHi × 2 and refHi + 2 s fails
  *    whatever the ratio: a uniform regression keeps the ratio flat.
  *
  * relTol is 1.5. When the meta sidecars of candidate and reference name
  * different warm statistics (say min2 vs median3) on either profile, it
  * widens ×1.3 for that decade, and the absolute 2× with it. A row of the
  * candidate's `attributions.tsv`
  * (`query<TAB>hiProfile<TAB>isolatedSeconds<TAB>evidence`) waives the
  * reference-relative and absolute rules when the isolated value itself
  * is within refHi × relTol. It never waives the hard cap: the value is
  * self-reported, and a judge re-runs the cited command before trusting
  * it. Waivers, statistic mismatches and the pass-pressure lint (suite
  * warm > 1.3× cold with cold > 0.5 s: the number reflects its
  * neighbours, not the query) are reported as info lines and never fail.
  *
  * After a scale bench, copy `target/bench_{cold,warm,meta}.json` to
  * `bench/scale_rN/sfX_{cold,warm,meta}.json` and run
  * `sbt "testOnly graft.plans.ScaleGateSpec"`.
  */
class ScaleGateSpec extends AnyFunSuite {

  private val RelTol = 1.5
  private val AbsFloor = 3.0
  private val AbsDeltaFloor = 1.0
  private val AbsRel = 2.0
  private val AbsRegressFloor = 2.0
  private val HardCap = 15.0
  private val StatMismatchWiden = 1.3
  private val PressureWarmOverCold = 1.3
  private val PressureMinCold = 0.5

  /** Parse the flat `{"name":1.23,...}` maps graft.Bench writes. */
  private[plans] def parseProfile(text: String): Map[String, Double] =
    "\"([^\"]+)\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)".r
      .findAllMatchIn(text)
      .map(m => m.group(1) -> m.group(2).toDouble)
      .toMap

  /** Profile `name` of a set; empty when the set does not carry it. */
  private def loadProfile(dir: Path, name: String): Map[String, Double] = {
    val p = dir.resolve(name + ".json")
    if (!Files.exists(p)) Map.empty
    else parseProfile(new String(Files.readAllBytes(p), "UTF-8"))
  }

  /** The warm statistic named in the `sfX_meta.json` sidecar, when the
    * set has one (older rounds lack it: unknown, no widening).
    */
  private def warmStat(dir: Path, sf: String): Option[String] = {
    val p = dir.resolve(sf + "_meta.json")
    if (!Files.exists(p)) None
    else "\"warm_stat\"\\s*:\\s*\"([^\"]+)\"".r
      .findFirstMatchIn(new String(Files.readAllBytes(p), "UTF-8"))
      .map(_.group(1))
  }

  private[plans] def warmRatios(sf01: Map[String, Double],
      sf1: Map[String, Double]): Map[String, Double] =
    sf01.flatMap { case (q, v01) =>
      sf1.get(q) match {
        case Some(v1) if v01 >= 0 && v1 >= 0 =>
          Some(q -> v1 / math.max(v01, 0.1))
        case _ => None
      }
    }

  /** The candidate's optional `attributions.tsv`, keyed by (query,
    * hiProfile).
    */
  private[plans] def loadAttributions(dir: Path)
      : Map[(String, String), (Double, String)] = {
    val p = dir.resolve("attributions.tsv")
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .flatMap { l =>
        l.split("\t") match {
          case a if a.length >= 3 =>
            Some((a(0), a(1)) ->
              (a(2).toDouble, if (a.length > 3) a(3) else ""))
          case _ => None
        }
      }.toMap
  }

  /** The gate rules (see the class doc); returns failure lines and
    * reports each applied waiver once through `waived`. `cand`/`ref` are
    * the warm ratios, `candHi`/`refHi` and `candLo`/`refLo` the raw warm
    * times at the decade's high and low scale.
    */
  private[plans] def gate(cand: Map[String, Double],
      ref: Map[String, Double],
      candHi: Map[String, Double] = Map.empty,
      refHi: Map[String, Double] = Map.empty,
      candLo: Map[String, Double] = Map.empty,
      refLo: Map[String, Double] = Map.empty,
      relTol: Double = RelTol,
      attributions: Map[String, (Double, String)] = Map.empty,
      waived: String => Unit = _ => ()): Seq[String] = {
    def attributed(q: String): Boolean =
      attributions.get(q) match {
        case Some((isolated, evidence)) =>
          refHi.get(q) match {
            case Some(r) if r >= 0 && isolated <= r * relTol =>
              waived(f"$q: suite ${candHi.getOrElse(q, -1.0)}%.2fs " +
                f"waived (isolated $isolated%.2fs <= ref $r%.2fs x " +
                f"$relTol%.2f): $evidence")
              true
            case _ => false
          }
        case None => false
      }
    def hiOk(q: String): Boolean =
      (candHi.get(q), refHi.get(q)) match {
        case (Some(c), Some(r)) => c >= 0 && r >= 0 && c <= r * relTol
        case _ => false
      }
    def loImproved(q: String): Boolean =
      (candLo.get(q), refLo.get(q)) match {
        case (Some(c), Some(r)) => c >= 0 && r >= 0 && c < r
        case _ => false
      }
    def delta(q: String): Double =
      (candHi.get(q), refHi.get(q)) match {
        case (Some(c), Some(r)) if c >= 0 && r >= 0 => c - r
        case _ => Double.MaxValue // unknown high-scale times: no floor
      }
    // The statistic widening arrives baked into relTol; apply the
    // same factor to the absolute rule's 2x.
    val absRel = AbsRel * (relTol / RelTol)
    cand.toSeq.sortBy(_._1).flatMap { case (q, cr) =>
      // Both waivable rules may consult the attribution: look it up
      // (and report it) at most once per query.
      lazy val waivedHere = attributed(q)
      val ratioFail =
        if (cr > HardCap && !(hiOk(q) && loImproved(q)))
          Some(f"$q: warm ratio $cr%.1fx exceeds the hard cap ${HardCap}x")
        else if (cr <= HardCap) ref.get(q) match {
          case Some(rr) if cr > math.max(rr * relTol, AbsFloor) &&
              !hiOk(q) &&
              delta(q) > math.max(AbsDeltaFloor,
                refHi.getOrElse(q, 0.0)) && !waivedHere =>
            Some(f"$q: warm ratio $cr%.1fx vs reference $rr%.1fx " +
              f"(hi +${delta(q)}%.2fs)")
          case _ => None
        } else None
      val absFail = (candHi.get(q), refHi.get(q)) match {
        case (Some(c), Some(r)) if c >= 0 && r >= 0 && c > r * absRel &&
            c - r > AbsRegressFloor && !waivedHere =>
          Some(f"$q: high-scale warm $c%.2fs exceeds reference $r%.2fs " +
            f"x $absRel%.1f (+${c - r}%.2fs, ratio-independent " +
            "absolute rule)")
        case _ => None
      }
      ratioFail.toSeq ++ absFail.toSeq
    }
  }

  /** Checked-in profile sets, oldest first. */
  private def profileDirs: Seq[Path] = {
    val bench = Paths.get("bench")
    if (!Files.isDirectory(bench)) return Seq.empty
    Files.list(bench).iterator().asScala
      .filter(p => p.getFileName.toString.matches("scale_r\\d+[a-z]?") &&
        Seq("sf01_warm", "sf1_warm")
          .forall(n => Files.exists(p.resolve(n + ".json"))))
      .toSeq
      // Numeric round order, letter suffix after the bare number
      // (r8 < r8b < r9).
      .sortBy { p =>
        val n = p.getFileName.toString.stripPrefix("scale_r")
        (n.takeWhile(_.isDigit).toInt, n.dropWhile(_.isDigit))
      }
  }

  private case class Decade(label: String, lo: String, hi: String)

  private val Decades = Seq(
    Decade("sf0.1->sf1", "sf01", "sf1"),
    Decade("sf1->sf10", "sf1", "sf10"),
    Decade("sf10->sf100", "sf10", "sf100"))

  /** One decade's gate inputs; `notes` are the statistic-mismatch and
    * pass-pressure lint lines.
    */
  private case class RatioPair(label: String, cand: Map[String, Double],
      ref: Map[String, Double], candHi: Map[String, Double],
      refHi: Map[String, Double], candLo: Map[String, Double],
      refLo: Map[String, Double], relTol: Double,
      attributions: Map[String, (Double, String)], notes: Seq[String]) {
    def failures(waived: String => Unit = _ => ()): Seq[String] =
      gate(cand, ref, candHi, refHi, candLo, refLo, relTol, attributions,
        waived)
  }

  /** The decade helper: gate inputs for decade `d` with `sets.last` as
    * the candidate. Right(None) when no set carries the decade; Left when
    * the candidate lacks it but an older set carries it.
    */
  private def decadePair(sets: Seq[Path],
      d: Decade): Either[String, Option[RatioPair]] = {
    def carries(p: Path) = Files.exists(p.resolve(d.hi + "_warm.json"))
    val cand = sets.last
    val ref = sets.init.filter(carries).lastOption
    if (!carries(cand))
      ref.fold[Either[String, Option[RatioPair]]](Right(None)) { r =>
        Left(s"newest profile set ${cand.getFileName} lacks " +
          s"${d.hi}_warm.json but ${r.getFileName} carries one — the " +
          s"${d.label} gate cannot be skipped by omitting its profiles; " +
          "re-run the bench and check the profiles in")
      }
    else {
      def refProfile(name: String) =
        ref.fold(Map.empty[String, Double])(loadProfile(_, name))
      val (candLo, candHi) =
        (loadProfile(cand, d.lo + "_warm"), loadProfile(cand, d.hi + "_warm"))
      val (refLo, refHi) =
        (refProfile(d.lo + "_warm"), refProfile(d.hi + "_warm"))
      val mismatches = for {
        r <- ref.toSeq
        sf <- Seq(d.lo, d.hi)
        c <- warmStat(cand, sf)
        rs <- warmStat(r, sf)
        if c != rs
      } yield s"statistic mismatch on ${sf}_warm: candidate $c vs " +
        s"reference $rs -> rel_tol widened to " +
        f"${RelTol * StatMismatchWiden}%.2fx"
      val cold = loadProfile(cand, d.hi + "_cold")
      val lint = candHi.toSeq.sorted.flatMap { case (q, w) =>
        cold.get(q).collect {
          case c if w >= 0 && c > PressureMinCold &&
              w > c * PressureWarmOverCold =>
            f"lint $q: ${d.hi} warm $w%.2fs > cold $c%.2fs " +
              f"x$PressureWarmOverCold%.1f -- " +
              "pass-pressure signature, attribute or re-measure"
        }
      }
      val label = s"${cand.getFileName} vs " +
        s"${ref.fold("no reference")(_.getFileName.toString)}, ${d.label}"
      Right(Some(RatioPair(label,
        warmRatios(candLo, candHi), warmRatios(refLo, refHi),
        candHi, refHi, candLo, refLo,
        if (mismatches.nonEmpty) RelTol * StatMismatchWiden else RelTol,
        loadAttributions(cand).collect {
          case ((q, p), v) if p == d.hi + "_warm" => q -> v
        },
        mismatches ++ lint)))
    }
  }

  /** Gate decade `d` of the newest set, reporting notes and waivers. */
  private def gateNewest(d: Decade, shrinkCheck: Boolean): Unit = {
    val sets = profileDirs
    assert(sets.size >= 2, "fewer than two bench/scale_r* profile sets " +
      "checked in — the scale gate has nothing to compare (each round " +
      "must check in its profiles)")
    decadePair(sets, d) match {
      case Left(err) => fail(err)
      case Right(None) =>
        cancel(s"no profile set carries ${d.hi} profiles yet — the " +
          s"${d.label} gate activates once a round checks them in")
      case Right(Some(rp)) =>
        rp.notes.foreach(info(_))
        val failures = rp.failures(info(_))
        assert(failures.isEmpty,
          s"scale gate FAIL (${rp.label}):\n" + failures.mkString("\n"))
        info(s"scale gate OK (${rp.label}): ${rp.cand.size} queries within " +
          s"tolerance (rel ${rp.relTol}x, floor ${AbsFloor}x, cap ${HardCap}x)")
        // The comparison must not silently dwindle: both sets cover
        // (nearly) the full suite.
        if (shrinkCheck)
          assert(rp.cand.size >= rp.ref.size - 5,
            s"candidate ratio set shrank: ${rp.cand.size} vs ${rp.ref.size}")
    }
  }

  test("newest checked-in scale profiles pass the gate vs the previous set") {
    gateNewest(Decades(0), shrinkCheck = true)
  }

  test("second decade (sf1->sf10): newest sf10 profiles pass the gate") {
    gateNewest(Decades(1), shrinkCheck = true)
  }

  test("third decade (sf10->sf100): newest sf100 profiles pass the gate") {
    // The sf100 profile covers the measured tail only, so its ratio set
    // is not held to the suite size.
    gateNewest(Decades(2), shrinkCheck = false)
  }

  test("gate verdicts on every checked-in pair") {
    // Each round r8b..r14 in turn as the newest set, over the sets
    // checked in up to it: which decades are gated, which queries fail,
    // which waivers apply (once each) and how many lint lines print.
    val sets = profileDirs
    val rounds = Seq("r8b", "r9", "r10", "r11", "r12", "r13", "r14")
    val verdicts = (for {
      round <- rounds
      n = sets.indexWhere(_.getFileName.toString == "scale_" + round) + 1
      _ = assert(n > 1, s"scale_$round missing")
      d <- Decades
      rp <- decadePair(sets.take(n), d).fold(e => fail(e), identity)
    } yield {
      val waivers = Seq.newBuilder[String]
      val failures = rp.failures(waivers += _)
      (round, d.label) -> (rp, failures, waivers.result())
    }).toMap
    def queries(lines: Seq[String]) = lines.map(_.takeWhile(_ != ':'))

    val d1 = Decades(0).label
    val d2 = Decades(1).label
    val d3 = Decades(2).label
    assert(verdicts.keySet == rounds.map(_ -> d1).toSet ++
      Seq("r10", "r11", "r12", "r13", "r14").map(_ -> d2) + ("r14" -> d3))

    val r10Cap = Seq("q_band_shape", "q_containment", "q_ivf_ann",
      "q_ivf_pq", "q_langid_confusion", "q_levenshtein", "q_map_fns",
      "q_ngram_jaccard", "q_not_in", "q_oov_rate")
    val expectedFailures = Map(
      ("r10", d2) -> r10Cap,
      ("r14", d2) -> Seq("q_bigram_lm", "q_content_chunks", "q_pq_search"))
    val expectedWaivers = Map(
      ("r12", d2) -> Seq("q_active_users", "q_zorder"),
      ("r14", d2) -> Seq("q_bigram_lm", "q_content_chunks"))
    verdicts.foreach { case (k, (_, failures, waivers)) =>
      assert(queries(failures) == expectedFailures.getOrElse(k, Nil),
        s"$k failures: $failures")
      assert(queries(waivers) == expectedWaivers.getOrElse(k, Nil),
        s"$k waivers: $waivers")
    }

    // r9 has no sf10 profiles, so r10's second decade is held to the
    // hard cap alone; so is r14's sf100 tail (r13 has no sf100 set).
    val (r10, r10Failures, _) = verdicts(("r10", d2))
    assert(r10.ref.isEmpty && r10Failures.forall(_.contains("hard cap")))
    assert(verdicts(("r14", d2))._2.forall(_.contains("hard cap")))
    val (r14Tail, _, _) = verdicts(("r14", d3))
    assert(r14Tail.ref.isEmpty && r14Tail.cand.size == 8)
    // r12 mixed median-of-3 with r11's min-of-2.
    assert(verdicts(("r12", d2))._1.relTol == RelTol * StatMismatchWiden)
    assert(rounds.map(r => Decades.flatMap(d => verdicts.get((r, d.label)))
      .map(_._1.notes.count(_.startsWith("lint "))).sum) ==
      Seq(2, 3, 108, 11, 9, 6, 6))
  }

  test("a synthetic super-linear regression fails the gate") {
    // Take the real newest profiles and inflate one query's sf1 warm
    // time 100x — the gate must name it. This pins that the gate CAN
    // fail (a gate that never fires is not a gate).
    val rp = decadePair(profileDirs, Decades(0)).toOption.flatten
      .getOrElse(fail("no profiles — see the first decade test"))
    val victim = rp.cand.keys.min
    // Inflate BOTH the ratio and the high-scale time — a real
    // regression moves both, and the hi-scale escape must not mask the
    // injection.
    val broken = rp.copy(
      cand = rp.cand.updated(victim, rp.cand(victim) * 100.0),
      candHi = rp.candHi.updated(victim,
        rp.candHi.getOrElse(victim, 1.0) * 100.0))
    assert(broken.failures().exists(_.startsWith(victim + ":")),
      s"inflating $victim 100x did not trip the gate: ${broken.failures()}")
    // And the uninflated map still passes — the synthetic failure is
    // attributable to the injection alone.
    assert(rp.failures().isEmpty)
  }

  test("hard-cap escape requires the low-scale time to have improved") {
    // A query super-linear in BOTH rounds (ratio > cap) with flat
    // absolute times must FAIL: only the denominator effect (low
    // scale improved, high scale not regressed) legitimizes a
    // capped-out ratio.
    val cand = Map("q_x" -> 20.0)
    val ref = Map("q_x" -> 20.0)
    val hi = Map("q_x" -> 10.0)
    val loFlat = Map("q_x" -> 0.5)
    assert(gate(cand, ref, hi, hi, loFlat, loFlat).nonEmpty,
      "flat low-scale time must not grandfather a capped-out ratio")
    // Same shape but the low-scale time improved: legitimate
    // denominator effect, escape applies.
    assert(gate(cand, ref, hi, hi, Map("q_x" -> 0.4), loFlat).isEmpty)
  }

  test("sub-second absolute wobble does not trip the reference-relative rule") {
    // q_zipf r12: ratio 3.4x vs ref 1.4x, but the high-scale time
    // moved 0.33 -> 0.95 s — in-suite pressure, not a scaling law.
    val cand = Map("q_w" -> 3.4)
    val ref = Map("q_w" -> 1.4)
    assert(gate(cand, ref,
      candHi = Map("q_w" -> 0.95), refHi = Map("q_w" -> 0.33)).isEmpty,
      "a <1s absolute high-scale delta must not fail the ratio rule")
    // The same ratios with a multi-second absolute regression DO fail
    // (the r12 corpus-layout incident shape).
    assert(gate(cand, ref,
      candHi = Map("q_w" -> 9.5), refHi = Map("q_w" -> 3.3)).nonEmpty,
      "a multi-second high-scale regression must still fail")
  }

  test("absolute cross-round rule catches a uniform regression with a flat ratio") {
    // The r12 q_zorder shape: sf1 2.78->6.17 s and sf10 9.42->30.75 s
    // move TOGETHER, so the sf1->sf10 ratio stays within tolerance and
    // every ratio rule passes — only the absolute rule can see it.
    val candRatio = Map("q_z" -> 4.98)
    val refRatio = Map("q_z" -> 3.39)
    val candHi = Map("q_z" -> 30.75)
    val refHi = Map("q_z" -> 9.42)
    val fails = gate(candRatio, refRatio, candHi, refHi,
      Map("q_z" -> 6.17), Map("q_z" -> 2.78))
    assert(fails.exists(_.contains("absolute rule")),
      s"the q_zorder shape must trip the absolute rule: $fails")
    // Under 2x: passes (1.9x regression is rel-tol territory).
    assert(gate(candRatio, refRatio, Map("q_z" -> 17.0), refHi).isEmpty)
    // Over 2x but under +2 s absolute: sub-second wobble, passes.
    assert(gate(Map("q_z" -> 3.0), Map("q_z" -> 1.4),
      Map("q_z" -> 1.5), Map("q_z" -> 0.5)).isEmpty)
    // Statistic widening: relTol 1.95 widens the 2x to 2.6x — a 2.5x
    // regression then passes, a 3x still fails.
    assert(gate(candRatio, refRatio, Map("q_z" -> 23.5), refHi,
      relTol = RelTol * StatMismatchWiden).isEmpty)
    assert(gate(candRatio, refRatio, Map("q_z" -> 28.3), refHi,
      relTol = RelTol * StatMismatchWiden).nonEmpty)
    // An attribution whose isolated value passes hi_ok waives it.
    assert(gate(candRatio, refRatio, candHi, refHi,
      attributions = Map("q_z" -> (9.9, "isolated clean"))).isEmpty)
  }

  test("attribution does not waive the hard cap") {
    // A query super-linear in both rounds (ratio > 15x, flat low
    // scale) must fail even with an attribution row: the isolated
    // value is self-reported and the hard cap is the rule that
    // catches genuine super-linearity.
    val cand = Map("q_s" -> 20.0)
    val ref = Map("q_s" -> 20.0)
    val hi = Map("q_s" -> 10.0)
    val lo = Map("q_s" -> 0.5)
    assert(gate(cand, ref, hi, hi, lo, lo,
      attributions = Map("q_s" -> (1.0, "self-reported"))).nonEmpty,
      "an attribution row must not bypass the hard cap")
  }

  test("attribution waives only when the isolated value itself passes hi_ok") {
    val cand = Map("q_a" -> 5.5)
    val ref = Map("q_a" -> 2.3)
    val candHi = Map("q_a" -> 8.26)
    val refHi = Map("q_a" -> 3.14)
    // Without an attribution: fails (ratio over bound, delta > 1s).
    assert(gate(cand, ref, candHi, refHi).nonEmpty)
    // Isolated re-measurement within ref x relTol: waived, surfaced.
    var msgs = List.empty[String]
    assert(gate(cand, ref, candHi, refHi,
      attributions = Map("q_a" -> (2.53, "isolated evidence")),
      waived = m => msgs ::= m).isEmpty)
    // Reported once, though both waivable rules consult it.
    assert(msgs.size == 1 && msgs.head.contains("isolated"), msgs)
    // Isolated value that ITSELF regressed: attribution rejected.
    assert(gate(cand, ref, candHi, refHi,
      attributions = Map("q_a" -> (7.9, "bogus"))).nonEmpty)
  }

  test("profile parser reads Bench's JSON map format") {
    val m = parseProfile("""{"q_a":1.25,"q_b":-1.0,"q_c":3e-2}""")
    assert(m == Map("q_a" -> 1.25, "q_b" -> -1.0, "q_c" -> 0.03))
  }
}
