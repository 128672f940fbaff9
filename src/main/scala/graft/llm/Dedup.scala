package graft.llm

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** Deduplication operators: exact, MinHash+LSH, SimHash, and the
  * chained fuzzy pipeline (band → candidates → exact verify →
  * canonical pick).
  *
  * All hash arithmetic is explicit (polynomial char hash mod 1e9+7)
  * rather than engine-native murmur/xxhash, so the DuckDB oracle can
  * reproduce results bit-for-bit. The plan shapes are the ones that
  * scale:
  *  - exact dedup: map-side fingerprint → one hash aggregation;
  *  - MinHash LSH: explode tokens → per-doc signature (one partial
  *    agg) → band keys → self-join *only within band buckets* (the
  *    candidate set is the join output, never the full cross product);
  *  - SimHash: map-only signature, pairable by prefix buckets;
  *  - fuzzy dedup & Jaccard verify: every pairwise stage is blocked on
  *    the MinHash band buckets, so the candidate count scales with the
  *    number of genuinely similar documents — not with a fixed natural
  *    key's block sizes (which would go quadratic at 100×);
  *  - Levenshtein verify: pairwise work runs on DISTINCT values
  *    (names), band-blocked by char-shingle MinHash — row count only
  *    enters through one aggregation and one broadcastable join back.
  */
object Dedup {

  /** Deterministic polynomial hash of a token:
    * fold(7, (acc, ch) => (acc * 31 + codepoint(ch)) mod 1e9+7).
    * P/K/ROWS_PER_BAND and [[minhashFn]]/[[bandStructCols]] are shared
    * with the streaming pipeline (`graft.streaming.StreamingDedup`) so
    * batch and streaming candidates stay value-identical by
    * construction.
    */
  private[graft] val P = 1000000007L

  /** The i-th MinHash function over a shingle hash. */
  private[graft] def minhashFn(h: Column, i: Int): Column =
    (h * (i * 2 + 1) + i * 12345L) % P

  def tokenHash(t: Column): Column =
    aggregate(
      split(t, ""),
      lit(7L),
      (acc, c) => (acc * 31 + ascii(c)) % P)

  private[graft] def tokHashSql(t: String): String =
    s"""list_reduce(list_prepend(CAST(7 AS BIGINT),
       |      list_transform(string_split_regex($t, ''),
       |                     c -> CAST(ascii(c) AS BIGINT))),
       |      (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin

  // -------------------------------------------------------- q_dedup_exact
  /** Exact dedup via canonical fingerprint: one row per distinct
    * normalized text, keeping the smallest doc_id as canonical.
    */
  private def qDedupExact(s: SparkSession, d: String): DataFrame =
    Tables
      .documents(s, d)
      .groupBy(TextAnalysis.fingerprint(col("text")).as("fp"))
      .agg(
        min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))

  private val qDedupExactSql: String =
    """SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS fp,
      |  min(doc_id) AS canonical_doc_id,
      |  count(*) AS n_copies
      |FROM documents
      |GROUP BY 1""".stripMargin

  // ---------------------------------------------------- MinHash machinery
  /** K hash functions h_i(x) = ((2i+1)·x + 12345·i) mod P over the
    * shingle hash; K/ROWS_PER_BAND bands.
    */
  private[graft] val K = 8
  private[graft] val ROWS_PER_BAND = 2

  /** Word n-gram shingles (distinct, lowercased). MinHash over
    * *shingles*, not unigram token sets: with a small vocabulary every
    * document contains every token, so unigram sets are identical and
    * LSH degenerates to the full cross product — shingles keep sets
    * distinctive (the textbook construction).
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val tk = split(lower(text), " ")
    when(size(tk) >= n,
      array_distinct(transform(sequence(lit(0), size(tk) - n),
        i => concat_ws(" ", slice(tk, i + 1, lit(n))))))
      .otherwise(typedlit(Seq.empty[String]))
  }

  private def shingleSql(inner: String): String =
    s"""SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(len(tk) - 2), i -> array_to_string(tk[i+1:i+3], ' '))))
       |    AS t
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk
       |        FROM $inner)""".stripMargin

  /** All shingles (no string-level distinct — dedup happens on the hash
    * value downstream, mirroring the engine).
    */
  private def shingleAllSql(inner: String): String =
    s"""SELECT doc_id, unnest(list_transform(
       |    range(len(tk) - 2), i -> array_to_string(tk[i+1:i+3], ' ')))
       |    AS t
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS tk
       |        FROM $inner)""".stripMargin

  /** Per-doc MinHash signature columns sig0..sig{K-1}, computed in ONE
    * aggregation pass (K min-aggregates over the shingle-hash stream —
    * map-side partial min, single shuffle on doc_id; no K× row
    * explosion).
    */
  def minhashSignatures(docs: DataFrame): DataFrame = {
    graft.functions.ShinglePolyHash.register(docs.sparkSession)
    // Shingle hashes straight off the token array (no shingle strings
    // materialized, ShinglePolyHash scaladoc). min() is insensitive to
    // duplicates, so no distinct pass is needed either.
    val tok = docs.select(col("doc_id"),
      explode(graft.functions.ShinglePolyHash.shingle_hashes(
        split(lower(col("text")), " "), lit(3))).as("h"))
    val aggs = (0 until K).map(i => min(minhashFn(col("h"), i)).as(s"sig$i"))
    tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** (band, key) struct columns over signature columns sig0..sig{k-1} —
    * the band-key construction shared by batch and streaming.
    */
  private[graft] def bandStructCols(k: Int = K,
      rowsPerBand: Int = ROWS_PER_BAND): Seq[Column] =
    (0 until k / rowsPerBand).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until rowsPerBand)
          .map(r => col(s"sig${b * rowsPerBand + r}")): _*).as("key"))
    }

  /** (id, band, key) rows from a signature frame: band key = the
    * concatenated signature rows of that band. Docs sharing a (band,
    * key) are LSH candidates.
    */
  private def bandKeys(sigs: DataFrame, idCol: String, k: Int,
      rowsPerBand: Int): DataFrame =
    sigs
      .select(col(idCol),
        explode(array(bandStructCols(k, rowsPerBand): _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.key").as("key"))

  /** Distinct candidate pairs (id_a < id_b) sharing at least one band
    * bucket. The self-join runs only within buckets — the 100 TB-safe
    * replacement for any fixed-cardinality natural block key.
    */
  def bandCandidates(sigs: DataFrame, idCol: String, k: Int = K,
      rowsPerBand: Int = ROWS_PER_BAND): DataFrame = {
    val bands = bandKeys(sigs, idCol, k, rowsPerBand)
    bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** SQL CTE chain `tok/th/mh` (shingles → hashes → K-slot signature
    * rows) over the doc table `src` — the shared prefix of every
    * MinHash oracle.
    */
  private def mhSqlCtes(src: String): String =
    // th/mh MATERIALIZED: DuckDB 1.0 inlines CTEs per reference, and
    // the dedup oracles reference th (mh + hs) and mh (bands + both
    // q_minhash_est sides) more than once — each inline re-folds every
    // shingle hash (the list_reduce chain is the most expensive scalar
    // in the whole oracle suite; at sf1 the re-inlining dominated the
    // first full-suite run). Same move as the Spark side's hs/sigs
    // session memos.
    s"""tok AS (
       |  ${shingleSql(src)}),
       |th AS MATERIALIZED (
       |  SELECT doc_id, ${tokHashSql("t")} AS h FROM tok),
       |mh AS MATERIALIZED (
       |  SELECT doc_id, i,
       |    min((h * (i * 2 + 1) + i * 12345) % 1000000007) AS sig
       |  FROM th, range($K) r(i)
       |  GROUP BY doc_id, i)""".stripMargin

  /** [[mhSqlCtes]] + `bands` — the oracle twin of
    * [[minhashSignatures]] + band-key construction.
    */
  private def bandsSqlCtes(src: String): String =
    s"""${mhSqlCtes(src)},
       |bands AS MATERIALIZED (
       |  SELECT doc_id, i // $ROWS_PER_BAND AS band,
       |    string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS key
       |  FROM mh GROUP BY doc_id, i // $ROWS_PER_BAND)""".stripMargin

  /** Continuation adding `cand` (candidates as (doc_a, doc_b)) — the
    * oracle twin of [[bandCandidates]].
    */
  private def candSqlCtes(src: String): String =
    s"""${bandsSqlCtes(src)},
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a
       |  JOIN bands b ON a.band = b.band AND a.key = b.key
       |              AND a.doc_id < b.doc_id)""".stripMargin

  // ------------------------------------------------------- q_minhash_lsh
  /** MinHash signatures + LSH banding: candidate near-dup pairs are
    * docs sharing at least one band bucket (K = 8 hashes, 4 bands × 2
    * rows).
    */
  private def qMinhashLsh(s: SparkSession, d: String): DataFrame =
    verifiedPairsSharedAll(s, d).select(col("doc_a"), col("doc_b"))

  private val qMinhashLshSql: String =
    s"""WITH ${candSqlCtes("documents")}
       |SELECT doc_a, doc_b FROM cand""".stripMargin

  // -------------------------------------------------------- q_band_shape
  /** Band-shape sweep — the third calibration axis alongside
    * [[qMinhashEst]] (K / estimator error) and [[qDedupSweep]]
    * (verify threshold): for each LSH band shape over the SAME K=8
    * signature (8 bands × 1 row, 4 × 2, 2 × 4), the candidate count
    * (the verify work the shape buys) and the share of candidates
    * passing Jaccard ≥ 0.5 (its precision). More rows per band =
    * tighter buckets = fewer, better candidates — this query measures
    * the trade so the shape is chosen from data, not folklore.
    *
    * Scale: signatures computed ONCE (one agg pass, memoized), and —
    * because a pair sharing an r-row band also shares every 1-row
    * band inside it — the candidate sets NEST: cand(4) ⊆ cand(2) ⊆
    * cand(1). The exact-Jaccard verify (the dominant cost: one
    * array-intersect per candidate; measured 17.2 s warm of the sf1
    * run before this) therefore runs ONCE over the r=1 superset —
    * which is [[sharedVerifiedSuperset]], built once per (session,
    * corpus) and shared with the whole fuzzy family — and each
    * shape's stats are a cheap pair-key join against that verified
    * frame. Empty candidate sets surface as zero-count rows (NULL
    * precision), not dropped rows.
    */
  private val SHAPE_RPBS = Seq(1, 2, 4)

  private def qBandShape(s: SparkSession, d: String): DataFrame = {
    // Every shape is a MASK BIT TEST over the memoized verified
    // superset (see [[shapePredicate]]) — three predicate scans of
    // one index table. The pre-round-10 form re-ran a banded
    // self-join + distinct per extra shape, which at sf10 (100-doc
    // dup clusters → 25 M superset pairs) meant 50–200 M-row
    // collapses per shape: sf10 warm 166 s → scan-bound.
    val verified = sharedVerifiedSupersetMasked(s, d)
    SHAPE_RPBS.map { r =>
      val shaped = verified.filter(shapePredicate(r))
      shaped
        .agg(count(lit(1)).as("n_candidates"),
          sum((col("jaccard") >= 0.5).cast("long")).as("n_pass"))
        .select(lit(r).as("rows_per_band"),
          lit(K / r).as("n_bands"),
          col("n_candidates"), col("n_pass"),
          // candidate-pair counts can pass 10¹² at corpus scale
          expr("CAST(n_pass AS DECIMAL(38,0)) * 1000000" +
            " div nullif(n_candidates, 0)").as("precision_ppm"))
    }.reduce(_.unionAll(_))
  }

  private val qBandShapeSql: String =
    s"""WITH ${mhSqlCtes("documents")},
       |shapes AS (SELECT unnest([${SHAPE_RPBS.mkString(", ")}]) AS r),
       |sbands AS MATERIALIZED (
       |  SELECT doc_id, s.r AS r, i // s.r AS band,
       |    string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS key
       |  FROM mh, shapes s GROUP BY doc_id, s.r, i // s.r),
       |cand AS (
       |  SELECT DISTINCT a.r, a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sbands a
       |  JOIN sbands b ON a.r = b.r AND a.band = b.band
       |              AND a.key = b.key AND a.doc_id < b.doc_id),
       |hs AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list(h)) AS hset
       |  FROM th GROUP BY doc_id),
       |j AS (
       |  SELECT c.r, ${jaccardSqlExpr("a.hset", "b.hset")} AS jaccard
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b)
       |SELECT s.r AS rows_per_band,
       |  CAST($K // s.r AS INTEGER) AS n_bands,
       |  CAST(count(j.jaccard) AS BIGINT) AS n_candidates,
       |  CAST(sum(CAST(j.jaccard >= 0.5 AS BIGINT)) AS BIGINT) AS n_pass,
       |  CAST(CAST(sum(CAST(j.jaccard >= 0.5 AS BIGINT)) AS HUGEINT)
       |    * 1000000 // nullif(CAST(count(j.jaccard) AS BIGINT), 0)
       |    AS BIGINT) AS precision_ppm
       |FROM shapes s LEFT JOIN j ON j.r = s.r
       |GROUP BY s.r""".stripMargin

  // ------------------------------------------------------- q_dedup_sweep
  /** Threshold-sweep calibration for the fuzzy-dedup cutoff — the
    * operating-curve query run before committing a near-dup threshold
    * corpus-wide: for each candidate Jaccard cutoff (50…90 %), how
    * many band-candidate pairs pass the exact verify, as a pass-rate
    * ppm. Read with [[qMinhashEst]] (per-pair estimate error) this
    * picks the threshold; a cutoff passing 90 % of candidates means
    * the bands are too tight, passing 2 % means wasted verify work.
    *
    * Scale: ONE banded candidate set + ONE exact-verify join (shared
    * shapes with q_dedup_fuzzy), then a 5-group rollup over the
    * exploded threshold grid — the grid multiplies only the bounded
    * candidate-pair frame (×5), never the corpus.
    */
  private val SWEEP_PCTS = Seq(50, 60, 70, 80, 90)

  private def qDedupSweep(s: SparkSession, d: String): DataFrame = {
    verifiedPairsShared(s, d, threshold = 0.0)
      .select(col("jaccard"),
        explode(typedlit(SWEEP_PCTS)).as("threshold_pct"))
      .groupBy(col("threshold_pct"))
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jaccard") >= col("threshold_pct") / lit(100.0), 1L)
          .otherwise(0L)).as("n_pass"))
      .withColumn("pass_ppm",
        // same candidate-volume bound as q_band_shape → decimal
        expr("CAST(n_pass AS DECIMAL(38,0)) * 1000000" +
          " div n_candidates"))
  }

  private val qDedupSweepSql: String =
    s"""WITH ${candSqlCtes("documents")},
       |hs AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list(h)) AS hset
       |  FROM th GROUP BY doc_id),
       |j AS (
       |  SELECT ${jaccardSqlExpr("a.hset", "b.hset")} AS jaccard
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b),
       |t AS (SELECT unnest([${SWEEP_PCTS.mkString(", ")}])
       |        AS threshold_pct)
       |SELECT t.threshold_pct,
       |  CAST(count(*) AS BIGINT) AS n_candidates,
       |  CAST(sum(CASE WHEN j.jaccard >= t.threshold_pct / 100.0
       |           THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
       |  CAST(CAST(sum(CASE WHEN j.jaccard >= t.threshold_pct / 100.0
       |           THEN 1 ELSE 0 END) AS HUGEINT) * 1000000
       |    // CAST(count(*) AS BIGINT) AS BIGINT) AS pass_ppm
       |FROM j CROSS JOIN t
       |GROUP BY 1""".stripMargin

  // ------------------------------------------------------- q_minhash_est
  /** Sketch-accuracy audit: for every LSH candidate pair, the MinHash
    * signature-agreement estimate of Jaccard (matching hash slots / K)
    * next to the EXACT shingle-set Jaccard and the absolute error —
    * the calibration query a sketch-based dedup pipeline runs to pick
    * K and the band shape (E[estimate] = true Jaccard; error shrinks
    * as 1/√K). All inputs are the deterministic polynomial hashes, so
    * estimate AND truth reproduce bit-identically in the oracle.
    *
    * Scale: signatures are K smallints per doc (one agg pass, shared
    * with the band stage); the exact sets ride only into the verify
    * join exactly as in q_dedup_fuzzy. The audit's pair count is the
    * candidate count — already bounded by the banding — so the whole
    * query adds one bounded join to the pipeline it audits.
    */
  private def qMinhashEst(s: SparkSession, d: String): DataFrame = {
    val sigs = sharedSigs(s, d)
    val sigA = sigs.select(col("doc_id").as("doc_a") +:
      (0 until K).map(i => col(s"sig$i").as(s"a$i")): _*)
    val sigB = sigs.select(col("doc_id").as("doc_b") +:
      (0 until K).map(i => col(s"sig$i").as(s"b$i")): _*)
    val nMatch = (0 until K)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1).otherwise(0))
      .reduce(_ + _)
    verifiedPairsSharedAll(s, d)
      .join(sigA, Seq("doc_a")).join(sigB, Seq("doc_b"))
      .withColumn("n_sig_match", nMatch.cast(IntegerType))
      .withColumn("est_jaccard",
        col("n_sig_match").cast("double") / K)
      .select(col("doc_a"), col("doc_b"), col("n_sig_match"),
        col("est_jaccard"), col("jaccard"),
        abs(col("est_jaccard") - col("jaccard")).as("abs_err"))
  }

  private val qMinhashEstSql: String =
    s"""WITH ${candSqlCtes("documents")},
       |hs AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list(h)) AS hset
       |  FROM th GROUP BY doc_id),
       |sm AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(count(*) FILTER (WHERE ma.sig = mb.sig) AS INTEGER)
       |      AS n_sig_match
       |  FROM cand c
       |  JOIN mh ma ON ma.doc_id = c.doc_a
       |  JOIN mh mb ON mb.doc_id = c.doc_b AND mb.i = ma.i
       |  GROUP BY 1, 2)
       |SELECT sm.doc_a, sm.doc_b, sm.n_sig_match,
       |  CAST(sm.n_sig_match AS DOUBLE) / $K AS est_jaccard,
       |  ${jaccardSqlExpr("a.hset", "b.hset")} AS jaccard,
       |  abs(CAST(sm.n_sig_match AS DOUBLE) / $K
       |      - ${jaccardSqlExpr("a.hset", "b.hset")}) AS abs_err
       |FROM sm
       |JOIN hs a ON a.doc_id = sm.doc_a
       |JOIN hs b ON b.doc_id = sm.doc_b""".stripMargin

  // ----------------------------------------------------------- q_simhash
  /** 16-bit SimHash per document from token hashes: bit b is the sign
    * of sum over tokens of ±1 by token-hash bit b.
    */
  private val BITS = 16

  private def qSimhash(s: SparkSession, d: String): DataFrame = {
    // SimHash sums ±1 per DISTINCT shingle — exactly the exploded
    // shared hash-set frame (hset is already distinct), so the scan +
    // shingle pass is shared with the whole dedup family.
    val tok = sharedShingleSets(s, d)
      .select(col("doc_id"), explode(col("hset")).as("h"))
    val bitCols = (0 until BITS).map { b =>
      sum(shiftright(col("h"), b) % 2 * 2 - 1).as(s"s$b")
    }
    val sim = (0 until BITS)
      .map(b => when(col(s"s$b") >= 0, 1L << b).otherwise(0L))
      .reduce(_ + _)
    tok.groupBy(col("doc_id"))
      .agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
  }

  private val qSimhashSql: String = {
    val bitSums = (0 until BITS)
      .map(b => s"SUM((h >> $b) % 2 * 2 - 1) AS s$b").mkString(",\n    ")
    val sim = (0 until BITS)
      .map(b => s"CASE WHEN s$b >= 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  ${shingleAllSql("documents")}),
       |th AS (
       |  SELECT DISTINCT doc_id, ${tokHashSql("t")} AS h FROM tok),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM th GROUP BY doc_id)
       |SELECT doc_id, CAST($sim AS BIGINT) AS simhash FROM bits""".stripMargin
  }

  // ------------------------------------------------------ q_simhash_pairs
  /** SimHash near-dup pairs: 30-bit signatures (the usable width of
    * the mod-1e9+7 shingle hash), banded into two 15-bit halves —
    * pairs sharing either half are candidates (hamming ≤ 1 guaranteed
    * by pigeonhole, ≤ 3 with high recall), exact popcount of the XOR
    * verifies. The third member of the near-dup family next to MinHash
    * (set overlap) and cosine (embedding distance): one map-side
    * signature, band-bucketed self-join, O(1) verify per pair.
    * At larger corpora, widen the signature (fold two independent
    * hashes) and add bands — band-key width is the collision dial.
    */
  private val SIM_BITS = 30
  private val HAM_T = 3

  private def simhashWide(s: SparkSession, d: String): DataFrame = {
    val tok = sharedShingleSets(s, d)
      .select(col("doc_id"), explode(col("hset")).as("h"))
    val bitCols = (0 until SIM_BITS).map { b =>
      sum(shiftright(col("h"), b) % 2 * 2 - 1).as(s"s$b")
    }
    val sim = (0 until SIM_BITS)
      .map(b => when(col(s"s$b") >= 0, 1L << b).otherwise(0L))
      .reduce(_ + _)
    tok.groupBy(col("doc_id"))
      .agg(bitCols.head, bitCols.tail: _*)
      .select(col("doc_id"), sim.as("simhash"))
  }

  private def qSimhashPairs(s: SparkSession, d: String): DataFrame = {
    val sh = simhashWide(s, d)
    val bands = sh.select(col("doc_id"), col("simhash"),
      explode(array(
        struct(lit(0).as("band"),
          shiftright(col("simhash"), 15).as("key")),
        struct(lit(1).as("band"),
          (col("simhash") % 32768).as("key")))).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    bands.alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.simhash").as("sa"), col("b.simhash").as("sb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast(IntegerType))
      .filter(col("hamming") <= HAM_T)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  private val qSimhashPairsSql: String = {
    val bitSums = (0 until SIM_BITS)
      .map(b => s"SUM((h >> $b) % 2 * 2 - 1) AS s$b").mkString(",\n    ")
    val sim = (0 until SIM_BITS)
      .map(b => s"CASE WHEN s$b >= 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH tok AS (
       |  ${shingleAllSql("documents")}),
       |th AS (
       |  SELECT DISTINCT doc_id, ${tokHashSql("t")} AS h FROM tok),
       |bits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM th GROUP BY doc_id),
       |sh AS (
       |  SELECT doc_id, CAST($sim AS BIGINT) AS simhash FROM bits),
       |bands AS (
       |  SELECT doc_id, simhash, 0 AS band, simhash >> 15 AS key FROM sh
       |  UNION ALL
       |  SELECT doc_id, simhash, 1 AS band, simhash % 32768 AS key FROM sh),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.simhash AS sa, b.simhash AS sb
       |  FROM bands a
       |  JOIN bands b ON a.band = b.band AND a.key = b.key
       |              AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b,
       |  CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM cand
       |WHERE bit_count(xor(sa, sb)) <= $HAM_T""".stripMargin
  }

  // --------------------------------------------------- q_dedup_agreement
  /** Detector-agreement audit across the near-dup family — MinHash
    * (set overlap) and SimHash (weighted-profile distance) catch
    * overlapping but distinct duplicate populations, and the operating
    * decision (which detector, which thresholds, or both) needs the
    * confusion structure, not anecdotes: every pair either detector
    * fires on, classified `both` / `minhash_only` / `simhash_only`.
    * MinHash side = band candidates verified at Jaccard ≥
    * [[JACCARD_T]]; SimHash side = banded 30-bit signatures at
    * hamming ≤ [[HAM_T]].
    *
    * Scale: both detectors are the bucket-blocked pipelines they are
    * standalone (and share the memoized shingle frame); the agreement
    * join is a full-outer over two candidate-sized pair lists.
    */
  private def qDedupAgreement(s: SparkSession, d: String): DataFrame =
    verifiedPairsShared(s, d, JACCARD_T)
      .select(col("doc_a"), col("doc_b"), lit(1).as("minhash_hit"))
      .join(qSimhashPairs(s, d)
        .select(col("doc_a"), col("doc_b"), lit(1).as("simhash_hit")),
        Seq("doc_a", "doc_b"), "full_outer")
      .select(col("doc_a"), col("doc_b"),
        coalesce(col("minhash_hit"), lit(0)).as("minhash_hit"),
        coalesce(col("simhash_hit"), lit(0)).as("simhash_hit"))
      .withColumn("agreement",
        when(col("minhash_hit") === 1 && col("simhash_hit") === 1, "both")
          .when(col("minhash_hit") === 1, "minhash_only")
          .otherwise("simhash_only"))

  // lazy: interpolates JACCARD_T, declared further down the operator
  // narrative — an eager val here would fold the uninitialized 0.0.
  private lazy val qDedupAgreementSql: String = {
    val bitSums = (0 until SIM_BITS)
      .map(b => s"SUM((h >> $b) % 2 * 2 - 1) AS s$b").mkString(",\n    ")
    val sim = (0 until SIM_BITS)
      .map(b => s"CASE WHEN s$b >= 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH ${verSqlCtes("documents")},
       |sth AS (SELECT DISTINCT doc_id, h FROM th),
       |sbits AS (
       |  SELECT doc_id,
       |    $bitSums
       |  FROM sth GROUP BY doc_id),
       |ssh AS (SELECT doc_id, CAST($sim AS BIGINT) AS simhash FROM sbits),
       |sbands AS (
       |  SELECT doc_id, simhash, 0 AS band, simhash >> 15 AS key FROM ssh
       |  UNION ALL
       |  SELECT doc_id, simhash, 1 AS band, simhash % 32768 AS key
       |  FROM ssh),
       |spairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM sbands a
       |  JOIN sbands b ON a.band = b.band AND a.key = b.key
       |              AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $HAM_T)
       |SELECT
       |  coalesce(m.doc_a, s.doc_a) AS doc_a,
       |  coalesce(m.doc_b, s.doc_b) AS doc_b,
       |  CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS minhash_hit,
       |  CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS simhash_hit,
       |  CASE WHEN m.doc_a IS NOT NULL AND s.doc_a IS NOT NULL THEN 'both'
       |       WHEN m.doc_a IS NOT NULL THEN 'minhash_only'
       |       ELSE 'simhash_only' END AS agreement
       |FROM ver m
       |FULL OUTER JOIN spairs s
       |  ON m.doc_a = s.doc_a AND m.doc_b = s.doc_b""".stripMargin
  }

  // ----------------------------------------------------- q_ngram_jaccard
  /** Exact n-gram (unigram token set) Jaccard over the LSH band
    * candidates — the verify stage of the fuzzy pipeline as its own
    * operator. The pair set comes from [[bandCandidates]], so the
    * quadratic term scales with the number of similar documents, not
    * with a natural key's fixed block count.
    */
  private def qNgramJaccard(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      array_distinct(split(lower(col("text")), " ")).as("toks"))
    verifiedPairsSharedAll(s, d).select(col("doc_a"), col("doc_b"))
      .join(toks.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")),
        Seq("doc_a"))
      .join(toks.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")),
        Seq("doc_b"))
      .select(
        col("doc_a"), col("doc_b"),
        size(array_intersect(col("toks_a"), col("toks_b")))
          .cast(IntegerType).as("n_common"),
        (size(array_intersect(col("toks_a"), col("toks_b"))).cast("double")
          / (size(col("toks_a")) + size(col("toks_b"))
            - size(array_intersect(col("toks_a"), col("toks_b")))))
          .as("jaccard")
      )
  }

  private val qNgramJaccardSql: String =
    s"""WITH ${candSqlCtes("documents")},
       |docs AS (
       |  SELECT doc_id,
       |    list_distinct(string_split(lower(text), ' ')) AS toks
       |  FROM documents)
       |SELECT c.doc_a AS doc_a, c.doc_b AS doc_b,
       |  CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x)))
       |       AS INTEGER) AS n_common,
       |  CAST(len(list_filter(a.toks, x -> list_contains(b.toks, x)))
       |       AS DOUBLE)
       |    / (len(a.toks) + len(b.toks)
       |       - len(list_filter(a.toks, x -> list_contains(b.toks, x))))
       |    AS jaccard
       |FROM cand c
       |JOIN docs a ON a.doc_id = c.doc_a
       |JOIN docs b ON b.doc_id = c.doc_b""".stripMargin

  // ------------------------------------------------------- q_dedup_fuzzy
  /** End-to-end fuzzy dedup — the composed pipeline a corpus-curation
    * job actually runs:
    *  1. MinHash band candidates ([[bandCandidates]]);
    *  2. exact shingle-hash Jaccard verify (≥ [[JACCARD_T]]);
    *  3. canonical pick: two unrolled min-propagation passes over the
    *     verified-pair graph (pointer jumping — each doc first takes
    *     the min id of itself and its verified neighbors, then jumps
    *     to its target's target). These are the first iterations of
    *     the standard iterative connected-components construction;
    *     two passes resolve stars and short chains, and the pattern
    *     extends to a fixpoint loop for adversarial topologies.
    *
    * Output: every document with its canonical id (self if no
    * near-dup). Shuffles carry (id, id) pairs and K-long signatures —
    * never document text — so the composition holds at 100 TB.
    */
  private val JACCARD_T = 0.5

  /** (doc_id, hset): distinct shingle-hash set per document — the
    * exact sets the verify stage intersects. Dedup on the hash value
    * in BOTH engines, so a hash collision cannot cause a cross-engine
    * mismatch.
    */
  def shingleHashSets(docs: DataFrame): DataFrame = {
    graft.functions.ShinglePolyHash.register(docs.sparkSession)
    docs.select(col("doc_id"),
      array_distinct(graft.functions.ShinglePolyHash.shingle_hashes(
        split(lower(col("text")), " "), lit(3))).as("hset"))
  }

  /** Session-scoped memos of the two frames EVERY dedup-family query
    * starts from — the shingle-hash sets (doc_id, hset) and the K-slot
    * MinHash signatures: computed once per (session, corpus) and
    * shared by all consumers (band/est/sweep/shape, fuzzy, delta, CC,
    * simhash, golden record), exactly the materialized-intermediate
    * discipline of [[ccMemo]]. At 100 TB these are maintained tables a
    * curation run writes once and every dedup job scans. Eager
    * localCheckpoint, NOT persist: checkpoint blocks are reclaimed by
    * the ContextCleaner once unreferenced (see [[graft.SessionMemo.invalidate]]) — a
    * lazy persist entry would live in the SQL cache for the session.
    */

  private[llm] def sharedShingleSets(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate(s, "dedup_hs", d)(
      graft.IndexTier.cached(s, d, "dedup_hs")(
        shingleHashSets(Tables.documents(s, d))))

  private[llm] def sharedSigs(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate(s, "dedup_sigs", d)(
      graft.IndexTier.cached(s, d, "dedup_sigs")(
        sigsFromSets(sharedShingleSets(s, d))))

  /** MinHash signatures derived from the (distinct) shingle-hash sets:
    * min() is insensitive to duplicates, so the sigs are identical to
    * [[minhashSignatures]] — but computing them off an already-built
    * `hs` frame lets the whole fuzzy pipeline share ONE scan +
    * shingle-hash pass when `hs` is persisted.
    */
  private def sigsFromSets(hs: DataFrame): DataFrame = {
    val tok = hs.select(col("doc_id"), explode(col("hset")).as("h"))
    val aggs = (0 until K).map(i =>
      min(minhashFn(col("h"), i)).as(s"sig$i"))
    tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact Jaccard of two shingle-hash-set columns — the ONE verify
    * formula every fuzzy stage (full, delta, curate) shares; its SQL
    * twin is [[jaccardSqlExpr]].
    */
  private def jaccard(ha: Column, hb: Column): Column = {
    val common = size(array_intersect(ha, hb))
    common.cast("double") / (size(ha) + size(hb) - common)
  }

  /** DuckDB text of [[jaccard]] over two list columns. */
  private def jaccardSqlExpr(a: String, b: String): String =
    s"""CAST(len(list_filter($a, x -> list_contains($b, x)))
       |             AS DOUBLE)
       |      / (len($a) + len($b)
       |         - len(list_filter($a, x -> list_contains($b, x))))""".stripMargin

  /** Attach both sides' hash sets to a candidate-pair frame and keep
    * pairs whose exact Jaccard meets `threshold` — the ONE verify join
    * every fuzzy stage (full, delta) shares. `pairs` must carry id
    * columns `aCol`/`bCol` resolvable against `hs.doc_id`.
    */
  private def jaccardVerified(pairs: DataFrame, hs: DataFrame,
      aCol: String, bCol: String, threshold: Double): DataFrame =
    pairs
      .join(hs.select(col("doc_id").as(aCol), col("hset").as("ha")),
        Seq(aCol))
      .join(hs.select(col("doc_id").as(bCol), col("hset").as("hb")),
        Seq(bCol))
      .withColumn("jaccard", jaccard(col("ha"), col("hb")))
      .filter(col("jaccard") >= threshold)

  /** Band candidates + exact Jaccard verify over a shingle-hash-set
    * frame (doc_id, hset).
    */
  private def verifiedPairsFromSets(hs: DataFrame, threshold: Double)
      : DataFrame =
    jaccardVerified(
      bandCandidates(sigsFromSets(hs), "doc_id")
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b")),
      hs, "doc_a", "doc_b", threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Verified near-dup pairs: band candidates whose exact shingle-set
    * Jaccard meets `threshold`.
    */
  def verifiedPairs(docs: DataFrame, threshold: Double = JACCARD_T)
      : DataFrame =
    verifiedPairsFromSets(shingleHashSets(docs), threshold)

  /** Session-scoped memo of the VERIFIED CANDIDATE SUPERSET:
    * (doc_a, doc_b, jaccard) for every pair sharing at least one
    * SINGLE-ROW band (r = 1 over the K-slot signature), exact-verified
    * once. A pair sharing an r-row band shares every 1-row band inside
    * it, so cand(r) ⊆ cand(1) for all r — this frame is a superset of
    * every band shape's candidate set, and any consumer's "verify"
    * reduces to a pair-key join against it (bit-identical jaccard:
    * same hset values, same arithmetic). The exact-Jaccard intersect
    * was the measured dominant cost of the whole fuzzy family at sf1
    * (15.5 s warm in q_band_shape alone, plus one re-verify inside
    * each of sweep/agreement/fuzzy/golden/cc/xdup/est); it now runs
    * once per (session, corpus). At 100 TB this IS the maintained
    * table a dedup pipeline materializes — candidate pairs with exact
    * scores, written by the index job, scanned by every policy query —
    * re-verifying per dashboard would re-run the pipeline's most
    * expensive stage per read.
    */

  /** FUSED superset build: the round-9 form (band candidates →
    * distinct → join both hsets on) died at sf10 — duplicate clusters
    * grow with the scale factor, the candidate count grows with
    * Σ cluster², and shipping two ~KB shingle-hash arrays onto every
    * pair spilled ~60 GB (observed: disk-full at 500 k docs /
    * 100-doc clusters ⇒ ~25 M pairs). The NSW-graph lesson
    * (Similarity round 9) applies verbatim: compute the similarity
    * INSIDE the bucket-local self-join where both arrays are already
    * colocated, so pairs never carry arrays through a shuffle. Each
    * doc explodes to K (band, sig-slot) rows carrying its hset ONCE
    * (linear, ~K·corpus bytes); the (band, key) self-join evaluates
    * the exact Jaccard in codegen; and the FIRST-MATCHING-BAND filter
    * (`band = min{j : sig_a[j] = sig_b[j]}` — both sig arrays ride
    * along, 8 longs each) emits every pair exactly once, eliminating
    * the 8×-duplicated distinct the fused form would otherwise need.
    * Output rows and values are IDENTICAL to the unfused build: same
    * candidate set (pairs sharing ≥ 1 single-row band), same
    * `array_intersect` arithmetic on the same checkpointed arrays.
    *
    * The build also stores each pair's SLOT-AGREEMENT BITMASK
    * (bit j set ⇔ sig_a[j] = sig_b[j] — both sig arrays are in hand
    * here and nowhere else). Any band shape's candidate membership is
    * then a pure integer predicate over the index
    * ([[shapePredicate]]): cand(r) ∋ pair ⇔ some aligned r-bit run of
    * the mask is all-ones. That turns every per-shape candidate
    * self-join + distinct (sf10: 50–200 M rows per shape before
    * collapsing) into a scan-time bit test.
    */
  private def verifiedSupersetFused(s: SparkSession, d: String): DataFrame = {
    val sigArr = array((0 until K).map(i => col(s"sig$i")): _*)
    val banded = sharedSigs(s, d)
      .select(col("doc_id"), sigArr.as("sg"))
      .join(sharedShingleSets(s, d), Seq("doc_id"))
      .select(col("doc_id"), col("sg"), col("hset"),
        explode(expr(s"sequence(0, ${K - 1})")).as("band"))
      .withColumn("key", expr("element_at(sg, band + 1)"))
    val a = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("sg").as("sga"), col("hset").as("ha"))
    val b = banded.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("sg").as("sgb"), col("hset").as("hb"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(expr(s"band = element_at(filter(sequence(0, ${K - 1}), " +
        "j -> element_at(sga, j + 1) = element_at(sgb, j + 1)), 1)"))
      .select(col("doc_a"), col("doc_b"),
        jaccard(col("ha"), col("hb")).as("jaccard"),
        expr(s"aggregate(sequence(0, ${K - 1}), 0, (acc, j) -> " +
          "acc + IF(element_at(sga, j + 1) = element_at(sgb, j + 1), " +
          "shiftleft(1, j), 0))").as("mask"),
        // Per-pair overlap stats, storable only here (the one place
        // both arrays are colocated): any set-overlap measure —
        // containment, overlap coefficient, Dice — derives from
        // (common, size_a, size_b) arithmetically, so no consumer
        // ever ships arrays onto the pair table again.
        size(array_intersect(col("ha"), col("hb"))).cast("long")
          .as("common"),
        size(col("ha")).cast("long").as("size_a"),
        size(col("hb")).cast("long").as("size_b"))
  }

  /** cand(r) membership as a bit test over the superset's
    * slot-agreement mask: true ⇔ some aligned r-slot band has all r
    * bits set. Exactly the pairs `bandCandidates(sigs, _, K, r)`
    * produces (a pair shares an r-row band ⇔ its r slots agree).
    */
  private[llm] def shapePredicate(r: Int): Column =
    (0 until K / r).map { b =>
      val m = ((1 << r) - 1) << (b * r)
      (col("mask").bitwiseAND(lit(m)) === lit(m))
    }.reduce(_ || _)

  /** The superset WITH the mask column — for shape-predicate
    * consumers ([[qBandShape]], the verPairs derivation).
    */
  private def sharedVerifiedSupersetMasked(s: SparkSession, d: String)
      : DataFrame =
    graft.SessionMemo.getOrElseUpdate(s, "dedup_versup", d)(
      graft.IndexTier.cached(s, d, "dedup_versup")(
        verifiedSupersetFused(s, d)))

  private[llm] def sharedVerifiedSuperset(s: SparkSession, d: String)
      : DataFrame =
    sharedVerifiedSupersetMasked(s, d)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Session-scoped memo of the DEFAULT-SHAPE verified pair table:
    * the ROWS_PER_BAND-band candidates with their exact Jaccard,
    * derived from [[sharedVerifiedSuperset]] by a pair-key join
    * (cand(ROWS_PER_BAND) ⊆ cand(1)) and checkpointed. This is the
    * frame every fuzzy-family consumer actually reads — memoizing it
    * (not just the superset) matters for PLAN SHAPE, not just time: a
    * checkpointed scan carries no size statistics, so a per-query
    * superset join planned as sort-merge and re-shuffled the pair
    * frame once per consumer subtree (canonicalFromPairs references
    * its pair input twice); a materialized pair table is scanned,
    * never rebuilt.
    */

  /** Default-shape verified pair table WITH the overlap stats —
    * consumers needing only (doc_a, doc_b, jaccard) go through
    * [[verifiedPairsSharedAll]].
    */
  private def verifiedPairsSharedStats(s: SparkSession, d: String)
      : DataFrame =
    graft.SessionMemo.getOrElseUpdate(s, "dedup_verpairs", d)(
      graft.IndexTier.cached(s, d, "dedup_verpairs")(
        // cand(ROWS_PER_BAND) ⊆ cand(1) realized as a mask bit test —
        // the pre-round-10 candidate self-join + distinct + pair-key
        // join re-did banding work the superset already encodes.
        sharedVerifiedSupersetMasked(s, d)
          .filter(shapePredicate(ROWS_PER_BAND))
          .select(col("doc_a"), col("doc_b"), col("jaccard"),
            col("common"), col("size_a"), col("size_b"))))

  private def verifiedPairsSharedAll(s: SparkSession, d: String): DataFrame =
    verifiedPairsSharedStats(s, d)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** Verified pairs at the default band shape meeting `threshold` — a
    * filter over the memoized pair table.
    */
  private def verifiedPairsShared(s: SparkSession, d: String,
      threshold: Double): DataFrame =
    verifiedPairsSharedAll(s, d).filter(col("jaccard") >= threshold)

  /** Canonical pick from an undirected pair list: two unrolled
    * min-propagation passes (pointer jumping). `ids` must contain every
    * id that can appear in `pairs`.
    */
  def canonicalFromPairs(ids: DataFrame, pairs: DataFrame): DataFrame = {
    val ver = pairs.select(col("doc_a"), col("doc_b"))
    val edges = ver.union(
      ver.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    val minN = edges.groupBy(col("doc_a")).agg(min(col("doc_b")).as("mn"))
    val c1 = ids.select(col("doc_id"))
      .join(minN, col("doc_id") === col("doc_a"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("mn"), col("doc_id"))).as("c1"))
    val res = c1.alias("x")
      .join(c1.alias("y"), col("x.c1") === col("y.doc_id"))
      .select(col("x.doc_id").as("doc_id"), col("y.c1").as("canonical_id"))
    // Round 13 (verdict r12 #3): the UNROLLED canonical construction
    // records a probe event too — `iterations` is 1 by definition (the
    // two min passes are a fixed-depth plan, not a loop), and
    // `exchangesPerIter` pins the construction plan's shuffle count.
    // The six consumers excluded from the sf10 exchange pins
    // (q_dedup_fuzzy, q_curate, q_cluster_stats, q_dedup_cap,
    // q_golden_record + the subset form) were previously `-` rows in
    // the fixpoint golden, i.e. their construction paths had NO plan
    // pin at sf10; this makes a band-shape or verify-join regime flip
    // in that chain a reviewed golden diff. No-op unless probing is
    // enabled (exchangeCount returns -1 and record drops the event).
    graft.LoopProbe.record("canonical_unrolled", 1,
      graft.LoopProbe.exchangeCount(res))
    res
  }

  /** Iterative connected-components canonical pick: edge-wise min
    * propagation `c(d) ← min(c(d), min over neighbors of c(n))` until
    * fixpoint (or `maxIter`). Converges in ≤ diameter rounds — for
    * near-dup graphs (stars and short chains) that is 2-3; the
    * unrolled [[canonicalFromPairs]] is exactly the first two rounds'
    * worth and is what the oracle-gated queries use. This is the loop
    * a 100 TB canonicalization job runs: each round is one edge join +
    * one min aggregation, shuffling only (id, id) pairs, with a
    * driver-side convergence check (a scalar count, not data).
    */
  def canonicalFixpoint(ids: DataFrame, pairs: DataFrame,
      maxIter: Int = 20): DataFrame =
    canonicalFixpointHops(ids, pairs, maxIter).drop("hops")

  /** [[canonicalFixpoint]] plus the BFS hop distance of each node to
    * its canonical, at zero extra cost: the component-minimum label
    * floods outward one edge per iteration, so a node at BFS distance
    * h adopts its FINAL label exactly at iteration h and never changes
    * it again — recording the iteration of each node's last label
    * change IS the hop distance (0 for canonicals and singletons,
    * which never change). One extra column in the loop frame, no
    * extra jobs or joins.
    */
  def canonicalFixpointHops(ids: DataFrame, pairs: DataFrame,
      maxIter: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    val ver = pairs.select(col("doc_a"), col("doc_b"))
    // Loop-invariant edge frame: cache once, reuse every round.
    val edges = ver.union(
      ver.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Iterative-algorithm hygiene, part 2: each round's label frame
    // references the previous round TWICE (once as the join probe,
    // once inside the neighbor-minimum aggregation), so without
    // lineage truncation the logical plan DOUBLES per iteration —
    // 2^k leaves by round k, and Catalyst analysis goes exponential
    // long before any data moves (a chain of diameter 8 already
    // takes minutes; maxIter=20 would be 10⁶ plan leaves). The fix
    // every iterative Spark algorithm ships (GraphX Pregel does the
    // same): checkpoint each generation, which both caches the rows
    // and REPLACES the lineage with a flat scan of the materialized
    // result, keeping per-round plan size constant. localCheckpoint
    // trades executor-loss recovery for speed — on a cluster where
    // rounds must survive node loss, flip to reliable checkpoint
    // (sc.setCheckpointDir + .checkpoint()), same truncation.
    // (Superseded generations are unreferenced after each round; the
    // ContextCleaner reclaims their checkpoint blocks — no manual
    // unpersist, which on a checkpointed frame would target the SQL
    // cache registry rather than the backing RDD anyway.)
    var cur = ids.select(col("doc_id"),
      col("doc_id").as("canonical_id"), lit(0).as("hops"))
      .transform(graft.Memo.checkpoint)
    var changed = 1L
    var i = 0
    var exchPerIter = -1
    while (changed > 0 && i < maxIter) {
      i += 1
      // neighbor minima of the CURRENT labels, then fold into own label
      val viaEdges = edges
        .join(cur.select(col("doc_id").as("doc_b"),
          col("canonical_id").as("nc")), Seq("doc_b"))
        .groupBy(col("doc_a")).agg(min(col("nc")).as("mn"))
      // Carry the previous label alongside the new one so convergence
      // is a filter over this frame — not a separate next⋈cur join
      // (which would re-shuffle both generations every round).
      val step0 = cur
        .join(viaEdges, col("doc_id") === col("doc_a"), "left")
        .select(col("doc_id"), col("canonical_id").as("_prev"),
          least(col("canonical_id"),
            coalesce(col("mn"), col("canonical_id"))).as("canonical_id"),
          col("hops"))
        .withColumn("hops",
          when(col("canonical_id") < col("_prev"), lit(i))
            .otherwise(col("hops")))
      // Round k plans exactly like round 1 (each generation is a
      // checkpointed flat scan), so one plan walk pins the whole
      // loop's per-iteration shuffle budget.
      if (i == 1) exchPerIter = graft.LoopProbe.exchangeCount(step0)
      val step = step0
        .transform(graft.Memo.checkpoint)         // materializes + truncates lineage
      changed = step
        .filter(col("canonical_id") =!= col("_prev"))
        .count()
      cur = step.drop("_prev")
    }
    graft.LoopProbe.record("canonical_fixpoint", i, exchPerIter)
    edges.unpersist(false)
    cur
  }

  /** (doc_id, canonical_id) for every document in `docs` — the
    * two-pass min-propagation over [[verifiedPairs]].
    *
    * The shingle-hash-set frame feeds four consumers (signatures, both
    * pair-join sides, the id universe), so it is persisted — the same
    * materialize-between-stages move a production curation pipeline
    * makes; at 100 TB this is a disk-backed intermediate dataset, here
    * MEMORY_AND_DISK. Without it, Spark re-executes the scan + hash
    * pass (and any upstream dedup aggregation) once per consumer.
    */
  def canonicalMap(docs: DataFrame): DataFrame = {
    val hs = shingleHashSets(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    canonicalFromPairs(hs.select(col("doc_id")),
      verifiedPairsFromSets(hs, JACCARD_T))
  }

  /** [[canonicalMap]] restricted to a SUBSET of the corpus (`ids` —
    * one `doc_id` column), riding the session memos: shingle sets and
    * MinHash signatures are PER-DOCUMENT derivations, so the subset's
    * frames are semi-joins of [[sharedShingleSets]]/[[sharedSigs]] —
    * no re-scan, no re-shingle. Only the band grouping and the verify
    * join (both subset-sized) run fresh. This is how `q_curate`'s
    * fuzzy stage shares one corpus pass with the whole dedup family:
    * at 100 TB the shingle/sig frames are maintained tables, and a
    * curation job filtering to exact-dedup survivors reads them,
    * never re-derives them.
    */
  private[llm] def canonicalMapSharedSubset(s: SparkSession, d: String,
      ids: DataFrame): DataFrame = {
    val hs = sharedShingleSets(s, d).join(ids, Seq("doc_id"), "left_semi")
    // Sharing a band bucket is a property of the two documents'
    // signatures alone, so the subset's band candidates are EXACTLY
    // the full-corpus default-shape pairs with both endpoints in the
    // subset — two semi-joins against the memoized verified pair
    // table, no subset re-banding, no re-verify.
    canonicalFromPairs(
      hs.select(col("doc_id")),
      verifiedPairsSharedAll(s, d)
        .filter(col("jaccard") >= JACCARD_T)
        .join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"),
          "left_semi")
        .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"),
          "left_semi"))
  }

  /** SQL CTE chain `hs/ver` over the doc table `src`, continuing from
    * [[candSqlCtes]] — ver = verified near-dup pairs.
    */
  private def verSqlCtes(src: String): String =
    s"""${candSqlCtes(src)},
       |hs AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list(h)) AS hset
       |  FROM th GROUP BY doc_id),
       |ver AS MATERIALIZED (
       |  SELECT c.doc_a, c.doc_b
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b
       |  WHERE ${jaccardSqlExpr("a.hset", "b.hset")}
       |      >= $JACCARD_T)""".stripMargin

  /** Continuation: `edges/minn/c1/canon` — canon = (doc_id,
    * canonical_id) for every doc in `src` via two min passes.
    */
  private def canonSqlCtes(src: String): String =
    s"""${verSqlCtes(src)},
       |edges AS (
       |  SELECT doc_a, doc_b FROM ver
       |  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM ver),
       |minn AS (
       |  SELECT doc_a, min(doc_b) AS mn FROM edges GROUP BY doc_a),
       |c1 AS MATERIALIZED (
       |  SELECT d.doc_id, least(d.doc_id, coalesce(m.mn, d.doc_id)) AS c1
       |  FROM $src d LEFT JOIN minn m ON m.doc_a = d.doc_id),
       |canon AS (
       |  SELECT x.doc_id, y.c1 AS canonical_id
       |  FROM c1 x JOIN c1 y ON x.c1 = y.doc_id)""".stripMargin

  /** [[canonicalMap]] over the shared memoized frames — the full-corpus
    * form qDedupFuzzy / qGoldenRecord use.
    */
  private def canonicalMapShared(s: SparkSession, d: String): DataFrame =
    canonicalFromPairs(
      sharedShingleSets(s, d).select(col("doc_id")),
      verifiedPairsShared(s, d, JACCARD_T))

  private def qDedupFuzzy(s: SparkSession, d: String): DataFrame =
    canonicalMapShared(s, d)
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))

  private val qDedupFuzzySql: String =
    s"""WITH ${canonSqlCtes("documents")}
       |SELECT doc_id, canonical_id,
       |  doc_id <> canonical_id AS is_dup
       |FROM canon""".stripMargin

  /** Oracle twin of [[canonicalMap]] for composition into other
    * oracles (q_curate): full WITH-chain ending in `canon`.
    */
  private[llm] def canonicalSqlWith(src: String): String = canonSqlCtes(src)

  // ------------------------------------------------------ q_golden_record
  /** Survivorship / golden-record selection — the step after
    * clustering in every entity-resolution pipeline: within each
    * near-dup cluster, the surviving record is chosen by a QUALITY
    * rule (here: most content, ties to the lowest id) rather than the
    * arbitrary min-id canonical, and the cluster's record count rides
    * along. The same `max_by(struct(...), struct(orderKey))` shape
    * carries any richer survivorship rule (most recent, least nulls,
    * source priority) — swap the order-key struct.
    *
    * Scale: one join of the corpus against the canonical map
    * (both keyed doc_id) + one cluster-keyed aggregation whose buffer
    * is a single record per cluster — no sort, no window over the
    * corpus.
    */
  private def qGoldenRecord(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    canonicalMapShared(s, d)
      .join(docs, Seq("doc_id"))
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("n_members"),
        max_by(
          struct(col("doc_id"), col("lang"), col("source"),
            col("n_chars")),
          struct(col("n_chars"), -col("doc_id"))).as("g"))
      .select(col("canonical_id"), col("n_members"),
        col("g.doc_id").as("golden_doc_id"),
        col("g.lang").as("golden_lang"),
        col("g.source").as("golden_source"),
        col("g.n_chars").as("golden_chars"))
  }

  private val qGoldenRecordSql: String =
    s"""WITH ${canonSqlCtes("documents")},
       |m AS (
       |  SELECT c.canonical_id, d.doc_id, d.lang, d.source, d.n_chars,
       |    row_number() OVER (PARTITION BY c.canonical_id
       |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY c.canonical_id) AS n_members
       |  FROM canon c JOIN documents d ON d.doc_id = c.doc_id)
       |SELECT canonical_id, CAST(n_members AS BIGINT) AS n_members,
       |  doc_id AS golden_doc_id, lang AS golden_lang,
       |  source AS golden_source, n_chars AS golden_chars
       |FROM m WHERE rn = 1""".stripMargin

  // ---------------------------------------------------------- q_dedup_cc
  /** TRUE connected-components canonicalization via the iterative
    * [[canonicalFixpoint]] loop — the fixpoint big sibling of
    * [[qDedupFuzzy]]'s unrolled two passes. Oracle: an INDEPENDENT
    * construction (DuckDB recursive transitive closure + min), so the
    * iterative Spark loop is checked against closed-form reachability,
    * not against its own algorithm.
    */
  /** Session-scoped memo of the iterative CC fixpoint over the full
    * corpus — the materialized-intermediate pattern a production
    * pipeline uses: the canonical map is computed ONCE per (session,
    * corpus) and every downstream consumer (q_dedup_cc, q_dedup_hops,
    * cluster dashboards) reads the materialization. The fixpoint's
    * per-round `localCheckpoint` already materializes the final label
    * frame, so the memoized value is a cheap scan, not a live plan;
    * entries are keyed by input directory (immutable test corpora) and
    * bounded by the label-frame size (one row per doc id).
    */

  private def ccHopsShared(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate(s, "dedup_cc", d)(
      canonicalFixpointHops(
        sharedShingleSets(s, d).select(col("doc_id")),
        verifiedPairsShared(s, d, JACCARD_T)))

  /** Drop ONLY the canonical-map materializations (the fixpoint /
    * star-contraction RESULTS), keeping the per-document derivations
    * (shingle sets, signatures, verified pairs) they are built from.
    * [[graft.tools.FixpointGolden]] uses this between probed queries:
    * the convergence loop must re-RUN per query for its iteration
    * count to be recorded, but the loop's INPUT is a checkpointed
    * scan either way, so rebuilding the whole superset per query
    * would change nothing but the wall clock (measured at sf10:
    * ~15 min per query with full invalidation, ~1–2 with this).
    */
  def invalidateCanonical(dir: String): Unit = {
    graft.SessionMemo.invalidateIf(k =>
      (k.name == "dedup_cc" || k.name == "dedup_cc_star") && k.dir == dir)
    graft.IndexTier.invalidate(dir, "dedup_cc_star")
  }

  private def qDedupCc(s: SparkSession, d: String): DataFrame =
    ccHopsShared(s, d).drop("hops")

  // ----------------------------------------------------------- q_cc_star
  /** The same canonicalization by ALTERNATING STAR CONTRACTION
    * ([[graft.ops.Graph.starContractComponents]], Kiveris et al.) —
    * O(log² n) rounds instead of label flooding's O(diameter): the
    * shape that survives adversarial near-dup CHAINS (A≈B≈C≈…, where
    * diameter is O(n)) at 100 TB. Same verified-edge input, same
    * closed-form recursive-reachability oracle as `q_dedup_cc`, so
    * the two independent distributed algorithms AND the independent
    * DuckDB construction must all agree on every label.
    *
    * Memoized per (session, corpus) like [[ccMemo]]: the canonical
    * map is the SAME materialized intermediate a production pipeline
    * writes once per corpus snapshot — the contraction loop is the
    * index-build job, warm reads scan the label frame. The memo
    * value is eagerly checkpointed so reuse replays a component-sized
    * scan, not the ids-join tail of the build plan; dropped by
    * [[graft.SessionMemo.invalidate]] with the other corpus memos.
    */

  private def qCcStar(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate(s, "dedup_cc_star", d)(
      graft.IndexTier.cached(s, d, "dedup_cc_star")(
        graft.ops.Graph.starContractComponents(
          sharedShingleSets(s, d).select(col("doc_id")),
          verifiedPairsShared(s, d, JACCARD_T))))

  private val qDedupCcSql: String =
    s"""WITH RECURSIVE ${verSqlCtes("documents")},
       |edges2 AS (
       |  SELECT doc_a, doc_b FROM ver
       |  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM ver),
       |reach(doc_id, r) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT edges2.doc_a, reach.r
       |  FROM edges2 JOIN reach ON reach.doc_id = edges2.doc_b)
       |SELECT doc_id, min(r) AS canonical_id
       |FROM reach GROUP BY doc_id""".stripMargin

  // ----------------------------------------------------- q_dedup_delta
  /** Incremental (delta) dedup — dedupe a NEW shard (`doc_id % 5 == 4`,
    * the deterministic stand-in for "this week's crawl") against the
    * already-ingested corpus WITHOUT re-pairing the existing corpus
    * against itself: only the new shard's band keys probe the bucket
    * index, so the candidate set is new×(old ∪ new) — never old×old,
    * which is the quadratic bulk a full re-dedup would redo. At 100 TB
    * the bands of the existing corpus are a stored index maintained at
    * ingest; a delta pass then costs O(|delta| + matches), not
    * O(|corpus|²/buckets).
    *
    * Each new doc takes the min verified neighbor as canonical (one
    * min-propagation pass; new→new→new chains resolve on the next full
    * [[canonicalFixpoint]] pass — the standard incremental
    * approximation).
    */
  private def qDedupDelta(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val hs = sharedShingleSets(s, d)
    val bands = bandKeys(sharedSigs(s, d), "doc_id", K, ROWS_PER_BAND)
    val cand = bands.filter(col("doc_id") % 5 === 4).alias("a")
      .join(bands.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_new"), col("b.doc_id").as("doc_other"))
      .distinct()
    val matched = jaccardVerified(cand, hs, "doc_new", "doc_other", JACCARD_T)
      .groupBy(col("doc_new"))
      .agg(min(col("doc_other")).as("mn"), count(lit(1)).as("nm"))
    val res = docs.filter(col("doc_id") % 5 === 4).select(col("doc_id"))
      .join(matched, col("doc_id") === col("doc_new"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("mn"), col("doc_id")))
          .as("canonical_id"),
        coalesce(col("nm"), lit(0L)).as("n_matches"))
    // Fixed-depth construction (band join + verify + min-agg), probed
    // like canonicalFromPairs so the sf10 fixpoint golden pins this
    // plan too (round 13 — previously a `-` row with no sf10 pin).
    graft.LoopProbe.record("delta_verify", 1,
      graft.LoopProbe.exchangeCount(res))
    res
  }

  private val qDedupDeltaSql: String =
    s"""WITH ${bandsSqlCtes("documents")},
       |cand2 AS (
       |  SELECT DISTINCT a.doc_id AS doc_new, b.doc_id AS doc_other
       |  FROM bands a
       |  JOIN bands b ON a.band = b.band AND a.key = b.key
       |              AND a.doc_id <> b.doc_id
       |  WHERE a.doc_id % 5 = 4),
       |hs AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list(h)) AS hset
       |  FROM th GROUP BY doc_id),
       |matched AS (
       |  SELECT c.doc_new, min(c.doc_other) AS mn,
       |    CAST(count(*) AS BIGINT) AS nm
       |  FROM cand2 c
       |  JOIN hs a ON a.doc_id = c.doc_new
       |  JOIN hs b ON b.doc_id = c.doc_other
       |  WHERE ${jaccardSqlExpr("a.hset", "b.hset")}
       |      >= $JACCARD_T
       |  GROUP BY 1)
       |SELECT d.doc_id,
       |  least(d.doc_id, coalesce(m.mn, d.doc_id)) AS canonical_id,
       |  coalesce(m.nm, 0) AS n_matches
       |FROM (SELECT doc_id FROM documents WHERE doc_id % 5 = 4) d
       |LEFT JOIN matched m ON m.doc_new = d.doc_id""".stripMargin

  // ------------------------------------------------------- q_dedup_hops
  /** BFS hop distance from each document to its cluster canonical —
    * the provenance depth of a near-dup chain (hop 1 = direct dup of
    * the canonical; hop 2+ = drifted copy-of-a-copy, the rows a
    * curation team audits by hand). Computed inside the CC flood fill
    * itself ([[canonicalFixpointHops]]): the canonical's label reaches
    * each node at exactly its BFS distance, so no separate frontier
    * loop (and no second edge materialization) is needed. The oracle
    * is an INDEPENDENT DuckDB recursive-CTE shortest path, so the
    * iterative loop is checked against closed-form reachability.
    */
  def bfsHops(ids: DataFrame, pairs: DataFrame, maxIter: Int = 20)
      : DataFrame =
    canonicalFixpointHops(ids, pairs, maxIter)
      .select(col("doc_id"), col("canonical_id"),
        col("hops").cast(IntegerType).as("hops"))

  private def qDedupHops(s: SparkSession, d: String): DataFrame =
    ccHopsShared(s, d)
      .select(col("doc_id"), col("canonical_id"),
        col("hops").cast(IntegerType).as("hops"))

  private val qDedupHopsSql: String =
    s"""WITH RECURSIVE ${verSqlCtes("documents")},
       |edges2 AS (
       |  SELECT doc_a, doc_b FROM ver
       |  UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM ver),
       |walk(doc_id, root, hops) AS (
       |  SELECT doc_id, doc_id, 0 FROM documents
       |  UNION
       |  SELECT e.doc_a, w.root, w.hops + 1
       |  FROM edges2 e JOIN walk w ON w.doc_id = e.doc_b
       |  WHERE w.hops < 20),
       |canon2 AS (SELECT doc_id, min(root) AS canonical_id FROM walk
       |           GROUP BY 1)
       |SELECT w.doc_id, c.canonical_id, CAST(min(w.hops) AS INTEGER) AS hops
       |FROM walk w JOIN canon2 c ON c.doc_id = w.doc_id
       |                         AND w.root = c.canonical_id
       |GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------- q_containment
  /** Directional overlap audit over the LSH candidate pairs —
    * symmetric Jaccard hides CONTAINMENT (a short document pasted
    * verbatim inside a longer one scores low Jaccard but 100%
    * containment of the short side), and containment pairs need
    * different curation treatment (drop the contained quote-extract,
    * keep the superset) than mutual near-dups (keep one canonical).
    * For each candidate pair: |A∩B|, both set sizes, both directional
    * containments (ppm, integer-exact), and the relation class at the
    * [[CONTAIN_T_PPM]] threshold — `mutual` / `a_in_b` / `b_in_a` /
    * `overlap`.
    *
    * Scale: the registered query is PURE ARITHMETIC over the verified
    * pair index — (common, size_a, size_b) were computed once at
    * index-build time where both arrays were bucket-colocated, so the
    * audit never joins arrays onto the pair table (the pre-round-10
    * form shipped two ~KB hash sets onto every pair: at sf10's 25 M
    * pairs that was the same ~60 GB shuffle shape that killed the
    * superset build, and 58 s warm even with the index; now one
    * scan).
    */
  private val CONTAIN_T_PPM = 900000L

  private def qContainment(s: SparkSession, d: String): DataFrame =
    containmentClassify(
      verifiedPairsSharedStats(s, d)
        .select(col("doc_a"), col("doc_b"), col("common").as("inter"),
          col("size_a"), col("size_b")))

  /** Classification arithmetic over (doc_a, doc_b, inter, size_a,
    * size_b) — shared by the index-stats path ([[qContainment]]) and
    * the array-join path ([[containmentAudit]]).
    */
  private[llm] def containmentClassify(stats: DataFrame): DataFrame =
    stats
      .filter(col("inter") > 0)
      .withColumn("cont_a_ppm", expr("inter * 1000000 div size_a"))
      .withColumn("cont_b_ppm", expr("inter * 1000000 div size_b"))
      .withColumn("relation",
        when(col("cont_a_ppm") >= CONTAIN_T_PPM &&
          col("cont_b_ppm") >= CONTAIN_T_PPM, "mutual")
          .when(col("cont_a_ppm") >= CONTAIN_T_PPM, "a_in_b")
          .when(col("cont_b_ppm") >= CONTAIN_T_PPM, "b_in_a")
          .otherwise("overlap"))

  /** The per-pair directional-overlap core over (doc_a, doc_b)
    * candidates and a (doc_id, hset) frame — see [[qContainment]].
    */
  private[llm] def containmentAudit(cand: DataFrame, hs: DataFrame)
      : DataFrame =
    containmentClassify(cand
      .join(hs.select(col("doc_id").as("doc_a"), col("hset").as("ha")),
        Seq("doc_a"))
      .join(hs.select(col("doc_id").as("doc_b"), col("hset").as("hb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ha"), col("hb"))).cast("long").as("inter"),
        size(col("ha")).cast("long").as("size_a"),
        size(col("hb")).cast("long").as("size_b")))

  private val qContainmentSql: String =
    s"""WITH ${candSqlCtes("documents")},
       |hs AS MATERIALIZED (
       |  SELECT doc_id, list_distinct(list(h)) AS hset
       |  FROM th GROUP BY doc_id),
       |x AS (
       |  SELECT c.doc_a, c.doc_b,
       |    CAST(len(list_filter(a.hset, e -> list_contains(b.hset, e)))
       |      AS BIGINT) AS inter,
       |    CAST(len(a.hset) AS BIGINT) AS size_a,
       |    CAST(len(b.hset) AS BIGINT) AS size_b
       |  FROM cand c
       |  JOIN hs a ON a.doc_id = c.doc_a
       |  JOIN hs b ON b.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, inter, size_a, size_b,
       |  inter * 1000000 // size_a AS cont_a_ppm,
       |  inter * 1000000 // size_b AS cont_b_ppm,
       |  CASE
       |    WHEN inter * 1000000 // size_a >= $CONTAIN_T_PPM
       |     AND inter * 1000000 // size_b >= $CONTAIN_T_PPM THEN 'mutual'
       |    WHEN inter * 1000000 // size_a >= $CONTAIN_T_PPM THEN 'a_in_b'
       |    WHEN inter * 1000000 // size_b >= $CONTAIN_T_PPM THEN 'b_in_a'
       |    ELSE 'overlap' END AS relation
       |FROM x WHERE inter > 0""".stripMargin

  // ----------------------------------------------------- q_cluster_stats
  /** Near-dup cluster-size distribution — the corpus-health dashboard
    * number a curation team watches (how much of the corpus is
    * duplicated, and in how big clumps). Composition over
    * [[canonicalMap]]: two small aggregations after the fuzzy
    * pipeline; the second groups a cluster-count-sized frame.
    */
  private def qClusterStats(s: SparkSession, d: String): DataFrame =
    canonicalMapShared(s, d)
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))

  private val qClusterStatsSql: String =
    s"""WITH ${canonSqlCtes("documents")},
       |cs AS (
       |  SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM canon GROUP BY 1)
       |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
       |FROM cs GROUP BY 1""".stripMargin

  // ------------------------------------------------------ q_source_xdup
  /** Cross-source near-dup contamination matrix — which sources copy
    * from which: every verified near-dup pair mapped to the (source,
    * source) cell of its endpoints (unordered, lexicographic so each
    * cell counts once), with the within-source diagonal kept as the
    * baseline. The provenance question behind licensing audits and
    * mixture weighting: a heavy off-diagonal cell means two "sources"
    * are substantially the same feed.
    *
    * Scale: the pair list is candidate-sized (shared banded pipeline);
    * the doc→source map joins are corpus-keyed hash joins projecting
    * two columns; the matrix is ≤ sources² rows.
    */
  private def qSourceXdup(s: SparkSession, d: String): DataFrame = {
    val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
    verifiedPairsShared(s, d, JACCARD_T)
      .join(src.withColumnsRenamed(
        Map("doc_id" -> "doc_a", "source" -> "sa")), Seq("doc_a"))
      .join(src.withColumnsRenamed(
        Map("doc_id" -> "doc_b", "source" -> "sb")), Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("source_a") =!= col("source_b"))
  }

  private lazy val qSourceXdupSql: String =
    s"""WITH ${verSqlCtes("documents")}
       |SELECT least(da.source, db.source) AS source_a,
       |  greatest(da.source, db.source) AS source_b,
       |  CAST(count(*) AS BIGINT) AS n_pairs,
       |  least(da.source, db.source) <> greatest(da.source, db.source)
       |    AS cross_source
       |FROM ver
       |JOIN documents da ON da.doc_id = ver.doc_a
       |JOIN documents db ON db.doc_id = ver.doc_b
       |GROUP BY 1, 2""".stripMargin

  // -------------------------------------------------------- q_dedup_cap
  /** Cluster-capped survivorship — the dedup policy between "keep
    * everything" and "keep one per cluster": each near-dup cluster
    * keeps its top-[[DEDUP_CAP]] documents by quality (most content,
    * ties to lowest id), preserving some intra-cluster variation for
    * training while bounding how much any duplicated template can
    * dominate the corpus. Emits the per-document decision (the frame
    * a pipeline actually applies as its keep-filter).
    *
    * Scale: composition over the shared canonical map; both windows
    * partition by canonical_id (cluster-bounded, never corpus-wide)
    * and share one exchange.
    */
  private val DEDUP_CAP = 2

  private def qDedupCap(s: SparkSession, d: String): DataFrame = {
    val byCluster = Window.partitionBy(col("canonical_id"))
    Tables.documents(s, d).select(col("doc_id"), col("n_chars"))
      .join(canonicalMapShared(s, d), Seq("doc_id"))
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .withColumn("qrank", row_number().over(
        byCluster.orderBy(col("n_chars").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("canonical_id"), col("cluster_size"),
        col("qrank").cast(IntegerType).as("qrank"),
        (col("qrank") <= DEDUP_CAP).as("kept"))
  }

  private val qDedupCapSql: String =
    s"""WITH ${canonSqlCtes("documents")},
       |sized AS (
       |  SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
       |  FROM canon GROUP BY 1),
       |ranked AS (
       |  SELECT d.doc_id, c.canonical_id, s.cluster_size,
       |    row_number() OVER (PARTITION BY c.canonical_id
       |                       ORDER BY d.n_chars DESC, d.doc_id) AS qrank
       |  FROM documents d
       |  JOIN canon c ON d.doc_id = c.doc_id
       |  JOIN sized s ON s.canonical_id = c.canonical_id)
       |SELECT doc_id, canonical_id, cluster_size,
       |  CAST(qrank AS INTEGER) AS qrank, qrank <= $DEDUP_CAP AS kept
       |FROM ranked""".stripMargin

  // ----------------------------------------------------- q_levenshtein
  /** Edit-distance near-dup detection with content-scaled blocking:
    * pairwise work runs on DISTINCT part names (the classic
    * dedupe-then-verify trick — row count only enters through one
    * aggregation), and the distinct names are band-blocked by MinHash
    * over character 4-grams, so candidate pairs are bounded by genuine
    * name similarity rather than a natural key's fixed block sizes.
    * Exact Levenshtein ≤ 4 confirms; counts tie the verdicts back to
    * part rows.
    *
    * Scale shape (round-11, the fused-superset discipline applied to
    * names — the last raw [[bandCandidates]] hot path grew 13×/decade
    * at sf10). The corpus makes the blocking DEGENERATE: p_name has
    * only 64 base values, so the 4-gram minhash yields exactly 16
    * (band, key) buckets at every scale, each holding ~1/8 of all
    * distinct names — candidate pairs grow quadratically with the
    * scale factor by construction (sf1: 50 k pairs, sf10: 4.2 M).
    * What made that 13×/decade in wall time was not the pair count —
    * 4.2 M in-stage levenshteins is ~2 s of codegen work — but the
    * OLD build shipping every pair up-to-8×-duplicated through a
    * corpus-scale `distinct` shuffle. Two fixes:
    *  1. FIRST-MATCHING-BAND EMIT: each name carries its (surviving)
    *     band-key array through the bucket self-join, and a pair is
    *     emitted only in the FIRST band whose keys agree — exactly
    *     once, no duplicated `distinct` (the `verifiedSupersetFused`
    *     move). The verify filter runs in the same codegen stage, so
    *     candidates never cross a shuffle at all.
    *  2. DEGENERATE-BUCKET CAP ([[LEV_BUCKET_CAP]]): a (band, key)
    *     bucket holding more distinct names than the cap is excluded
    *     from candidate generation (the [[graft.ops.Operational]]
    *     `BASKET_MAX_ITEMS` pattern; standard oversized-bucket
    *     skipping in dedup literature) via a BROADCAST null-out of
    *     the per-name band-key array, bounding any bucket's
    *     contribution to cap² pairs. The cap is sized to NEVER BIND
    *     at tested scales (oracle hash unchanged through sf10;
    *     `LevenshteinCapSpec` pins cap-off equivalence) — it is the
    *     guard that keeps an adversarial corpus from turning the
    *     16-bucket quadratic into a cluster-killer, and the oracle
    *     applies the identical cap. A band nulled by the cap never
    *     compares equal, so "first" means first SURVIVING agreeing
    *     band and the candidate set is precisely "pairs sharing ≥ 1
    *     surviving bucket" — the set the oracle's DISTINCT computes.
    */
  private val K_NAME = 4
  private val LEV_T = 4

  /** Max distinct names per (band, key) bucket before the bucket is
    * treated as degenerate and skipped. 4096 ≈ 5.6× the largest
    * bucket observed at sf10 (728), so every tested scale is
    * cap-invariant; a single surviving bucket can cost at most
    * cap²/2 ≈ 8 M in-stage comparisons (~seconds), whatever the
    * corpus does.
    */
  private[llm] val LEV_BUCKET_CAP = 4096

  private[llm] def qLevenshtein(s: SparkSession, d: String): DataFrame =
    qLevenshteinCapped(s, d, LEV_BUCKET_CAP)

  private[llm] def qLevenshteinCapped(s: SparkSession, d: String,
      cap: Int): DataFrame = {
    val nBands = K_NAME / ROWS_PER_BAND
    val names = Tables.part(s, d)
      .groupBy(col("p_name"))
      .agg(min(col("p_partkey")).as("rep_key"), count(lit(1)).as("n_parts"))
    // Char 4-gram shingle hashes → K=4 minhash in one agg pass. Names
    // shorter than 4 chars get NO grams (guarded like shingles() —
    // an unguarded sequence(0, len-4) turns negative-descending and
    // substr wraps, diverging from the oracle's empty range(len-3)).
    val grams = names.select(col("p_name"),
      explode(when(length(col("p_name")) >= 4,
        array_distinct(transform(
          sequence(lit(0), length(col("p_name")) - 4),
          i => col("p_name").substr(i + 1, lit(4)))))
        .otherwise(typedlit(Seq.empty[String]))).as("g"))
      .select(col("p_name"), tokenHash(col("g")).as("h"))
    val aggs = (0 until K_NAME).map(i =>
      min(minhashFn(col("h"), i)).as(s"sig$i"))
    val sigs = grams.groupBy(col("p_name")).agg(aggs.head, aggs.tail: _*)
    // Per-name band-key array (nBands strings — small).
    val bksCol = array((0 until nBands).map(b =>
      concat_ws(",", (0 until ROWS_PER_BAND)
        .map(r => col(s"sig${b * ROWS_PER_BAND + r}")): _*)): _*)
    // Eagerly materialized: the minhash chain (gram explode + two
    // aggs) feeds BOTH the bucket census and the effective-key
    // null-out — without the checkpoint the whole chain plans (and
    // runs) twice. Same move as the shared sig/hset memos, scoped to
    // the query (names are only q_levenshtein's concern).
    val withBks = sigs.select(col("p_name"), bksCol.as("bks"))
      .transform(graft.Memo.checkpoint)
    // Oversized buckets: tiny frame (names per (band, key) > cap is
    // rare by construction), broadcast into per-band null-outs.
    val bandRows = withBks.select(col("p_name"),
      explode(expr(s"sequence(0, ${nBands - 1})")).as("band"),
      col("bks"))
      .withColumn("key", expr("element_at(bks, band + 1)"))
    val big = bandRows.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)
      .select(col("band"), col("key"))
    val effective = (0 until nBands).foldLeft(withBks) { (df, b) =>
      df.join(broadcast(big.filter(col("band") === b)
          .select(col("key").as(s"_big$b"))),
          expr(s"element_at(bks, ${b + 1})") === col(s"_big$b"),
          "left")
    }.select(col("p_name"),
      array((0 until nBands).map(b =>
        when(col(s"_big$b").isNull, expr(s"element_at(bks, ${b + 1})"))): _*)
        .as("bks"))
    // Re-spread before the self-join (the IndexTier.cachedHot
    // lesson): the name index is tiny, so AQE coalesces it to one
    // partition — and then every bucket's n² verify work runs in ONE
    // task (measured: the sf10 join stage pinned at ~7 s on a single
    // core regardless of cpu count). A round-robin repartition of
    // 2·|names| rows is free and restores full-width probing.
    val keyed = effective
      .select(col("p_name"), col("bks"),
        explode(expr(s"sequence(0, ${nBands - 1})")).as("band"))
      .withColumn("key", expr("element_at(bks, band + 1)"))
      .filter(col("key").isNotNull)
      .repartition(s.sessionState.conf.numShufflePartitions)
    val a = keyed.select(col("band"), col("key"),
      col("p_name").as("name_a"), col("bks").as("bka"))
    val b = keyed.select(col("band"), col("key"),
      col("p_name").as("name_b"), col("bks").as("bkb"))
    // First surviving agreeing band, written as a plain boolean over
    // array indexing — NOT the higher-order `filter(...)` lambda,
    // which is CodegenFallback and ran interpreted per joined row
    // (measured: the sf10 join stage 12.7 s with the lambda, ~1 s
    // without). "agree at j" must be null-REJECTING (a capped bucket
    // nulls both sides, and null <=> null is true): coalesce(=, false).
    val firstMatch = (0 until nBands).map { j =>
      !(col("band") > lit(j)) ||
        !coalesce(expr(s"element_at(bka, ${j + 1})") ===
          expr(s"element_at(bkb, ${j + 1})"), lit(false))
    }.reduce(_ && _)
    // The b-side is the banded DISTINCT-NAME index (vocabulary-scale:
    // 640 rows at sf1, 6.4 k at sf10 — two short strings + a 2-array
    // each), so broadcast it: the bucket self-join becomes a
    // BroadcastHashJoin probed by the a-side, which spreads the work
    // by a-side ROWS instead of by the 16 degenerate (band, key)
    // buckets — with a shuffle join, whole buckets landed on single
    // tasks and the verify stage ran skew-bound (6.8 s at sf10; the
    // probe-side plan balances across all cores). If names ever
    // outgrew broadcast, drop this hint and the same plan runs as a
    // shuffle join with the cap still bounding per-bucket work.
    val cand = a.join(broadcast(b), Seq("band", "key"))
      .filter(col("name_a") < col("name_b"))
      .filter(firstMatch)
      .select(col("name_a"), col("name_b"))
    cand
      // Threshold-bounded levenshtein (O(len·t) banded DP with early
      // abort, -1 past the threshold) — the verify step runs once per
      // candidate pair, and most candidates in a degenerate bucket are
      // NOT within distance 4, so the abort is the common path. Kept
      // rows carry the exact distance, identical to the unbounded
      // oracle value.
      .withColumn("dist",
        levenshtein(col("name_a"), col("name_b"), LEV_T)
          .cast(IntegerType))
      .filter(col("dist") >= 0 && col("dist") <= LEV_T)
      .join(names.select(col("p_name").as("name_a"),
        col("n_parts").as("n_parts_a")), Seq("name_a"))
      .join(names.select(col("p_name").as("name_b"),
        col("n_parts").as("n_parts_b")), Seq("name_b"))
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_parts_a"), col("n_parts_b"))
  }

  private val qLevenshteinSql: String =
    s"""WITH names AS (
       |  SELECT p_name, min(p_partkey) AS rep_key, count(*) AS n_parts
       |  FROM part GROUP BY p_name),
       |tok AS (
       |  SELECT p_name, unnest(list_distinct(list_transform(
       |      range(length(p_name) - 3),
       |      i -> substring(p_name, CAST(i + 1 AS INTEGER), 4)))) AS g
       |  FROM names),
       |th AS MATERIALIZED (SELECT p_name, ${tokHashSql("g")} AS h FROM tok),
       |mh AS MATERIALIZED (
       |  SELECT p_name, i,
       |    min((h * (i * 2 + 1) + i * 12345) % 1000000007) AS sig
       |  FROM th, range($K_NAME) r(i) GROUP BY p_name, i),
       |bands AS MATERIALIZED (
       |  SELECT p_name, i // $ROWS_PER_BAND AS band,
       |    string_agg(CAST(sig AS VARCHAR), ',' ORDER BY i) AS key
       |  FROM mh GROUP BY p_name, i // $ROWS_PER_BAND),
       |big AS MATERIALIZED (
       |  SELECT band, key FROM bands
       |  GROUP BY band, key HAVING count(*) > $LEV_BUCKET_CAP),
       |kept AS MATERIALIZED (
       |  SELECT p_name, band, key FROM bands b
       |  WHERE NOT EXISTS (SELECT 1 FROM big g
       |                    WHERE g.band = b.band AND g.key = b.key)),
       |cand AS (
       |  SELECT DISTINCT a.p_name AS name_a, b.p_name AS name_b
       |  FROM kept a
       |  JOIN kept b ON a.band = b.band AND a.key = b.key
       |              AND a.p_name < b.p_name)
       |SELECT c.name_a, c.name_b,
       |  CAST(levenshtein(c.name_a, c.name_b) AS INTEGER) AS dist,
       |  na.n_parts AS n_parts_a, nb.n_parts AS n_parts_b
       |FROM cand c
       |JOIN names na ON na.p_name = c.name_a
       |JOIN names nb ON nb.p_name = c.name_b
       |WHERE levenshtein(c.name_a, c.name_b) <= $LEV_T""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_exact"   -> qDedupExact _,
    "q_minhash_lsh"   -> qMinhashLsh _,
    "q_minhash_est"   -> qMinhashEst _,
    "q_dedup_sweep"   -> qDedupSweep _,
    "q_band_shape"    -> qBandShape _,
    "q_simhash"       -> qSimhash _,
    "q_simhash_pairs" -> qSimhashPairs _,
    "q_ngram_jaccard" -> qNgramJaccard _,
    "q_dedup_fuzzy"   -> qDedupFuzzy _,
    "q_dedup_cc"      -> qDedupCc _,
    "q_cc_star"       -> qCcStar _,
    "q_golden_record" -> qGoldenRecord _,
    "q_dedup_delta"   -> qDedupDelta _,
    "q_cluster_stats" -> qClusterStats _,
    "q_dedup_hops"    -> qDedupHops _,
    "q_levenshtein"   -> qLevenshtein _,
    "q_containment"   -> qContainment _,
    "q_dedup_agreement" -> qDedupAgreement _,
    "q_dedup_cap"     -> qDedupCap _,
    "q_source_xdup"   -> qSourceXdup _
  )

  val oracles: Map[String, String] = Map(
    "q_dedup_exact"   -> qDedupExactSql,
    "q_minhash_lsh"   -> qMinhashLshSql,
    "q_minhash_est"   -> qMinhashEstSql,
    "q_dedup_sweep"   -> qDedupSweepSql,
    "q_band_shape"    -> qBandShapeSql,
    "q_simhash"       -> qSimhashSql,
    "q_simhash_pairs" -> qSimhashPairsSql,
    "q_ngram_jaccard" -> qNgramJaccardSql,
    "q_dedup_fuzzy"   -> qDedupFuzzySql,
    "q_dedup_cc"      -> qDedupCcSql,
    "q_cc_star"       -> qDedupCcSql,
    "q_golden_record" -> qGoldenRecordSql,
    "q_dedup_delta"   -> qDedupDeltaSql,
    "q_cluster_stats" -> qClusterStatsSql,
    "q_dedup_hops"    -> qDedupHopsSql,
    "q_levenshtein"   -> qLevenshteinSql,
    "q_containment"   -> qContainmentSql,
    "q_dedup_agreement" -> qDedupAgreementSql,
    "q_dedup_cap"     -> qDedupCapSql,
    "q_source_xdup"   -> qSourceXdupSql
  )
}
