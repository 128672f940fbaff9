package graft.llm

import graft.SparkSpec

import java.nio.file.Files

/** Pins the on-disk index tier (`graft.IndexTier`, round-9 verdict
  * #8): build-if-absent writes the index parquet, a FRESH session
  * scans it instead of rebuilding, and tier on/off cannot change any
  * query's rows. Uses the two index families the verdict named —
  * the dedup verified-pair table and the NSW graph. Resets:
  * `SessionMemo.invalidate` removes the corpus's whole tree, while
  * the one partial reset (`Dedup.invalidateCanonical`) deletes only
  * its own prefix, never indexes other live memos still scan. The
  * tree is keyed by a corpus FINGERPRINT so a corpus regenerated at
  * the same path never serves a stale index.
  */
class IndexTierSpec extends SparkSpec {

  private def rows(q: String, s: org.apache.spark.sql.SparkSession,
      d: String): Seq[String] =
    graft.SparkEntry.queries(q)(s, d).collect()
      .map(_.toString).sorted.toSeq

  test("tier on/off yields identical rows and a fresh session scans, not rebuilds") {
    val d = sf() // sf0.001
    val queries = Seq("q_dedup_fuzzy", "q_band_shape", "q_ann_beam",
      "q_cc_star")

    def resetMemos(): Unit = graft.SessionMemo.invalidate(d)

    // Baseline: tier off (no root configured).
    assert(graft.IndexTier.rootDir.isEmpty,
      "test requires no ambient GRAFT_INDEX_DIR")
    resetMemos()
    val off = queries.map(q => q -> rows(q, spark, d)).toMap

    val root = Files.createTempDirectory("graft_index_spec").toString
    System.setProperty("graft.index.dir", root)
    try {
      resetMemos() // also clears any stale disk tier under root
      val on1 = queries.map(q => q -> rows(q, spark, d)).toMap
      queries.foreach(q => assert(on1(q) == off(q), s"$q: tier-on " +
        "rows differ from tier-off"))
      // The named index tables exist on disk with complete writes,
      // under the fingerprint-keyed corpus tree.
      val key = graft.IndexTier.corpusKey(d)
      Seq("dedup_versup", "dedup_verpairs", "nsw_graph",
        "dedup_cc_star").foreach { n =>
        assert(new java.io.File(s"$root/$key/$n.parquet/_SUCCESS")
          .exists(), s"$n not written")
      }
      // A FRESH session (new memo key) must serve the same rows from
      // the disk tier. Scan-if-present is pinned by mtime: the index
      // files must not be rewritten by the second session.
      val mtimes = Seq("dedup_versup", "nsw_graph").map { n =>
        n -> new java.io.File(s"$root/$key/$n.parquet/_SUCCESS")
          .lastModified()
      }
      val s2 = spark.newSession()
      val on2 = queries.map(q => q -> rows(q, s2, d)).toMap
      queries.foreach(q => assert(on2(q) == off(q), s"$q: fresh-" +
        "session tier rows differ"))
      mtimes.foreach { case (n, t) =>
        assert(new java.io.File(s"$root/$key/$n.parquet/_SUCCESS")
          .lastModified() == t, s"$n was rebuilt, not scanned")
      }
      // The partial reset is prefix-scoped: invalidateCanonical drops
      // ONLY the canonical map — the verified pairs it is built from
      // and the NSW graph (whose in-memory memos still scan them)
      // must survive.
      graft.llm.Dedup.invalidateCanonical(d)
      assert(!new java.io.File(s"$root/$key/dedup_cc_star.parquet")
        .exists(), "invalidateCanonical left the canonical map behind")
      Seq("dedup_versup", "nsw_graph").foreach { n =>
        assert(new java.io.File(s"$root/$key/$n.parquet/_SUCCESS")
          .exists(), s"invalidateCanonical deleted $n")
      }
      // The full reset removes the corpus's whole tree.
      graft.SessionMemo.invalidate(d)
      assert(!new java.io.File(s"$root/$key").exists(),
        "SessionMemo.invalidate left the corpus index tree behind")
    } finally {
      System.clearProperty("graft.index.dir")
      resetMemos()
    }
  }

  test("a corpus regenerated in place gets a fresh index tree, not a stale scan") {
    // Simulated corpus: a dir whose contents change between
    // "sessions" — the advisor's staleness scenario (/tmp/sf1
    // regenerated under a persistent GRAFT_INDEX_DIR). The tier must
    // key the index tree off a corpus fingerprint so the rewrite
    // yields a REBUILD, never a stale serve.
    val corpus = Files.createTempDirectory("graft_fp_corpus")
    val marker = corpus.resolve("data.txt")
    Files.write(marker, "v1".getBytes)
    val d = corpus.toString

    val root = Files.createTempDirectory("graft_index_spec").toString
    System.setProperty("graft.index.dir", root)
    try {
      var builds = 0
      def build() = {
        builds += 1
        spark.range(5).toDF("id")
      }
      val key1 = graft.IndexTier.corpusKey(d)
      graft.IndexTier.cached(spark, d, "fp_probe")(build()).count()
      assert(builds == 1)
      // Same corpus, same session: scan, no rebuild.
      graft.IndexTier.cached(spark, d, "fp_probe")(build()).count()
      assert(builds == 1, "unchanged corpus was rebuilt")

      // Regenerate the corpus in place (content + length change).
      Files.write(marker, "v2-longer".getBytes)
      // A new JVM has no fingerprint memo; in-process a reset clears
      // it. Use a no-match prefix so the old tree survives for
      // inspection.
      graft.IndexTier.invalidate(d, "no-such-prefix")
      val key2 = graft.IndexTier.corpusKey(d)
      assert(key2 != key1, "fingerprint did not change with the corpus")
      graft.IndexTier.cached(spark, d, "fp_probe")(build()).count()
      assert(builds == 2, "regenerated corpus served a stale index")
      // The stale tree is orphaned, not served.
      assert(new java.io.File(s"$root/$key1/fp_probe.parquet/_SUCCESS")
        .exists())
      assert(new java.io.File(s"$root/$key2/fp_probe.parquet/_SUCCESS")
        .exists())
      // Distinct dirs with colliding sanitized names cannot share a
      // tree: the fingerprint hashes the canonical path too.
      val twin = Files.createTempDirectory("graft_fp_corpus")
      Files.write(twin.resolve("data.txt"), "v2-longer".getBytes)
      assert(graft.IndexTier.corpusKey(twin.toString) !=
        graft.IndexTier.corpusKey(d),
        "distinct corpus dirs mapped to one index tree")
    } finally {
      System.clearProperty("graft.index.dir")
    }
  }
}
