package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Optional ON-DISK tier for the one-time index builds (round-9
  * verdict #8). The session memos in [[graft.llm.Dedup]] /
  * [[graft.llm.Similarity]] already treat the verified near-dup pair
  * table and the NSW k-NN graph as "the maintained table a production
  * index job writes once" — but a FRESH session still paid the full
  * rebuild (q_band_shape 54 s, q_ann_beam 7.3 s cold at sf1). This
  * makes the claim literal: with a root directory configured, each
  * index build is written to parquet on first use (build-if-absent)
  * and every later session scans it (scan-if-present) — a fresh
  * session pays a parquet scan, not a rebuild, exactly the
  * deployment reality of an index job + search sessions.
  *
  * Off by default: with no root configured (`graft.index.dir` system
  * property or `GRAFT_INDEX_DIR` env), [[cached]] degrades to the
  * eager `localCheckpoint` the memos used before — same values,
  * session-local lifetime. The parquet round-trip is exact for every
  * column type these indexes carry (long/double/string/arrays), so
  * tier on/off cannot change a query's result, only where the bytes
  * come from. A half-written index (crash mid-job) is never read:
  * the build goes to a temp sibling and is RENAMED into place only
  * after the committer's `_SUCCESS`, so presence of the final dir
  * implies a complete index and concurrent builders race on the
  * rename, not the data (loser deletes its temp and reads the
  * winner's).
  *
  * Staleness: the per-corpus index tree is keyed by a FINGERPRINT of
  * the corpus — the canonical path plus every source parquet file's
  * (name, length, mtime). A corpus regenerated in place (e.g.
  * /tmp/sf1 rebuilt by a new session under a persistent
  * GRAFT_INDEX_DIR) hashes to a different tree, so stale indexes are
  * never served — they are simply orphaned. The fingerprint also
  * disambiguates distinct dirs whose sanitized names collide
  * ("/tmp/sf1" vs "/tmp_sf1") and unifies relative/absolute spellings
  * of the same dir (canonical path).
  *
  * Consumers joining a tiered frame also get SIZE STATISTICS (a
  * parquet scan has them; a checkpoint scan does not) — the
  * verPairsMemo lesson in reverse: small index tables broadcast
  * instead of sort-merging.
  */
object IndexTier {

  def rootDir: Option[String] =
    sys.props.get("graft.index.dir").orElse(sys.env.get("GRAFT_INDEX_DIR"))
      .filter(_.nonEmpty)

  private def sanitize(d: String): String =
    d.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Corpus fingerprint: canonical path + sorted (relative path,
    * length, mtime) of every file under it, recursing the FULL tree —
    * partitioned-parquet corpora nest arbitrarily deep
    * (`table.parquet/k=v/part-*.parquet`), and a rewrite that only
    * touches a deep leaf must still change the fingerprint.
    * Cheap — directory listings, no data read — and exactly as
    * stale-sensitive as the corpus: any rewrite touches lengths or
    * mtimes.
    */
  private def fingerprint(d: String): String = {
    val canon = new java.io.File(d).getCanonicalFile
    def walk(f: java.io.File, rel: String): Seq[String] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq
          .flatMap(c => walk(c, s"$rel/${c.getName}"))
      else Seq(s"$rel:${f.length}:${f.lastModified}")
    val entries = Option(canon.listFiles()).getOrElse(Array.empty)
      .flatMap(c => walk(c, c.getName))
      .sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    md.update(canon.getPath.getBytes("UTF-8"))
    entries.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  // Fingerprinting lists the corpus dir on every cached() call site's
  // first touch; memoize per raw dir string for the session. A corpus
  // rewritten in place mid-session must go through
  // SessionMemo.invalidate(dir) anyway, which clears this too.
  private val fpMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The per-corpus subdirectory name under the tier root:
    * sanitized path + corpus fingerprint. Public so specs (and
    * operators inspecting the tier) can locate a corpus's tree.
    */
  def corpusKey(d: String): String = {
    val fp = fpMemo.computeIfAbsent(d, fingerprint(_))
    s"${sanitize(d)}-$fp"
  }

  private def indexPath(root: String, d: String, name: String): String =
    s"$root/${corpusKey(d)}/$name.parquet"

  /** Build-if-absent / scan-if-present when a tier root is
    * configured; eager localCheckpoint otherwise. `name` must be
    * unique per logical index within the corpus dir.
    */
  def cached(s: SparkSession, d: String, name: String)
      (build: => DataFrame): DataFrame =
    rootDir match {
      case None => build.transform(graft.Memo.checkpoint)
      case Some(root) =>
        val path = indexPath(root, d, name)
        val dst = new java.io.File(path)
        if (!new java.io.File(dst, "_SUCCESS").exists()) {
          // Build into a temp sibling and rename into place: the
          // final dir either does not exist or is complete, and two
          // concurrent builders race on the (atomic, same-volume)
          // rename instead of overwriting each other's files.
          val tmp = new java.io.File(
            dst.getParentFile,
            s".${dst.getName}.tmp-${java.util.UUID.randomUUID()}")
          build.write.mode("overwrite").parquet(tmp.getPath)
          if (!tmp.renameTo(dst)) {
            // Lost the race (or a stale incomplete dst blocks us):
            // clear an incomplete dst once and retry, else discard.
            if (!new java.io.File(dst, "_SUCCESS").exists()) {
              rmTree(dst)
              tmp.renameTo(dst)
            }
            rmTree(tmp)
          }
        }
        // Parquet reads do not require _SUCCESS, so an unguarded read
        // here could scan a crash-truncated dst if the retry rename
        // above also failed. The invariant "presence of the final dir
        // implies a complete index" is only safe to rely on after
        // re-asserting it.
        if (!new java.io.File(dst, "_SUCCESS").exists())
          throw new IllegalStateException(
            s"index tier install failed for $path: no _SUCCESS after " +
              "build+rename — refusing to scan a possibly-incomplete " +
              "index (delete the directory and retry)")
        s.read.parquet(path)
    }

  /** [[cached]], then pinned HOT: when the tier is on, the parquet
    * scan is eagerly localCheckpointed so the session serves repeat
    * consumers from block-manager memory. For frames a single query
    * rescans many times (the HITS edge list is scanned four times per
    * run), re-decoding parquet per scan measurably loses to memory
    * blocks (q_hits sf1 warm 2.3 -> 5.0 s on the scan-only tier);
    * the checkpoint restores warm speed while the disk tier still
    * turns a fresh session's rebuild into a scan.
    */
  def cachedHot(s: SparkSession, d: String, name: String)
      (build: => DataFrame): DataFrame = {
    val scan = cached(s, d, name)(build)
    if (rootDir.isDefined)
      // Re-spread before pinning: a small parquet index packs into
      // one or two scan splits, which would serialize every
      // downstream stage that starts from the checkpoint.
      scan.repartition(s.sessionState.conf.numShufflePartitions)
        .transform(graft.Memo.checkpoint)
    else scan
  }

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  /** Delete the on-disk indexes for `d` whose names start with
    * `prefix`. The empty prefix is the disk half of
    * [[SessionMemo.invalidate]] (corpus rewritten in place ⇒ every
    * derived materialization is stale); a partial reset
    * ([[graft.llm.Dedup.invalidateCanonical]]) names its own prefix,
    * so it never deletes parquet other live memos still scan.
    */
  def invalidate(d: String, prefix: String): Unit = {
    rootDir.foreach { root =>
      val tree = new java.io.File(s"$root/${corpusKey(d)}")
      if (prefix.isEmpty) rmTree(tree)
      else Option(tree.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(prefix)).foreach(rmTree)
    }
    // The corpus may be about to be rewritten — re-fingerprint on
    // next touch.
    fpMemo.remove(d); ()
  }
}
