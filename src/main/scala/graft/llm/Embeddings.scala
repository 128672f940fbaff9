package graft.llm

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Embedding-compression operators: random-projection dimensionality
  * reduction and product-quantization encoding — the two transforms a
  * 100 TB embedding store applies before anything else touches it
  * (a 64-dim float32 corpus is 256 B/row; the 8-dim projection is
  * 64 B and the PQ code is 8 B).
  *
  * Both are map-only: no shuffle, no UDF, all arithmetic inside
  * codegen'd higher-order functions. Exactness discipline (same as
  * `Similarity`): components are quantized to BIGINT via
  * `floor(x * 1e6)` first, and every downstream sum/distance is
  * integer — bit-identical across engines and across cluster
  * topologies (integer addition commutes; float folds don't).
  *
  * Reference provenance: the reference engine has no vector surface
  * at all (`/root/reference/readme.md:1-5` — a 2-pipeline CDC ETL);
  * these extend the LLM-pipeline surface SURVEY.md §2.3 mandates.
  */
object Embeddings {

  /** Input dim (embeddings table, `TESTDATA.md`). */
  private val DIM = 64

  // -------------------------------------------------------------- q_rproj
  /** Signed random projection 64 → 8 dims. Sign matrix entry (i, j) is
    * derived from the same deterministic Knuth-hash stream as the
    * `Similarity` hyperplanes: s(i,j) = +1 iff
    * (((i+1)·(j+1)·2654435761) mod 1000003) is even, else −1 —
    * identical integer arithmetic on both engines, no stored model
    * artifact. Johnson–Lindenstrauss sign projections preserve inner
    * products in expectation; at scale this is the cheap first-pass
    * filter in front of exact re-ranking.
    *
    * Map-only; the projection "matrix" is folded into the codegen'd
    * expression (64×8 = 512 multiply-adds per row), so the plan is a
    * single WholeStageCodegen project over the scan.
    */
  private val RPROJ_OUT = 8

  /** Spark-SQL expr: BIGINT quantized view of the embedding. */
  private val qvec =
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"

  private def qRproj(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d).withColumn("q", expr(qvec))
    val projCols = (0 until RPROJ_OUT).map { j =>
      expr(
        s"""aggregate(sequence(0, ${DIM - 1}), CAST(0 AS BIGINT),
           |  (acc, i) -> acc +
           |    (CASE WHEN (((i + 1) * ${j + 1} * 2654435761) % 1000003) % 2 = 0
           |          THEN 1 ELSE -1 END) * element_at(q, i + 1))""".stripMargin)
        .as(s"p$j")
    }
    e.select(col("vec_id") +: projCols: _*)
  }

  private val qRprojSql: String = {
    val cols = (0 until RPROJ_OUT).map { j =>
      s"""  CAST(list_sum(list_transform(range(0, $DIM),
         |    i -> (CASE WHEN (((i + 1) * ${j + 1} * 2654435761) % 1000003) % 2 = 0
         |          THEN 1 ELSE -1 END)
         |      * CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000) AS BIGINT)))
         |    AS BIGINT) AS p$j""".stripMargin
    }.mkString(",\n")
    s"SELECT vec_id,\n$cols\nFROM embeddings"
  }

  // ----------------------------------------------------------------- q_pq
  /** Product-quantization encode: the 64-dim vector is split into 8
    * subvectors of 8 dims; each subvector is snapped to the nearest of
    * 4 per-subspace centroids (squared-L2 in the BIGINT-quantized
    * space, ties to the lowest centroid id — `array_position` and
    * DuckDB's `list_position` both return the FIRST occurrence of the
    * minimum, so the tie-break is identical by construction). Output
    * is the 8-byte code word plus the total quantization error.
    *
    * Centroids are deterministic integers from the same hash stream,
    * qc(c,i) = ((c+1)·(i+17)·2654435761 mod 1000003) − 500001, spanning
    * the quantized data range (±5·10⁵) — the encode MECHANICS (the part
    * with a distributed-systems story) are what's exercised; a trained
    * codebook would arrive as a broadcast literal the same way.
    * Overflow-safe: per-dim diff ≤ ~1.5·10⁶, squared ≤ 2.3·10¹², ×8
    * dims ≤ 1.8·10¹³ ≪ 2⁶³.
    *
    * Map-only single-pass: the 8×4 distance matrix is one nested HOF
    * expression evaluated once per row (`dmat`), argmin + error both
    * read it from the same projection — no recompute, no shuffle.
    */
  private val PQ_SUBS = 8  // subvectors
  private val PQ_K    = 4  // centroids per subspace
  private val PQ_SUBDIM = DIM / PQ_SUBS

  /** Integer centroid component formula, shared verbatim by both
    * engines (i is the 0-based FULL-vector dim index).
    */
  private def centroid(c: String, i: String): String =
    s"((($c + 1) * ($i + 17) * 2654435761) % 1000003) - 500001"

  /** The 8×4 (subspace × centroid) squared-L2 distance matrix of the
    * quantized vector `q` against the formula codebook — shared by the
    * encode ([[qPq]]) and, applied to the PROBE vector, by the ADC
    * search ([[qPqSearch]]): a probe's distance matrix IS its lookup
    * table against the codebook.
    */
  private val dmatExpr =
    s"""transform(sequence(0, ${PQ_SUBS - 1}), b ->
       |  transform(sequence(0, ${PQ_K - 1}), c ->
       |    aggregate(sequence(0, ${PQ_SUBDIM - 1}), CAST(0 AS BIGINT),
       |      (acc, k) -> acc +
       |        (element_at(q, b * $PQ_SUBDIM + k + 1)
       |          - (${centroid("c", s"b * $PQ_SUBDIM + k")}))
       |        * (element_at(q, b * $PQ_SUBDIM + k + 1)
       |          - (${centroid("c", s"b * $PQ_SUBDIM + k")})))))""".stripMargin

  private def qPq(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .withColumn("q", expr(qvec))
      .withColumn("dmat", expr(dmatExpr))
      .select(
        col("vec_id"),
        expr("array_join(transform(dmat, ds -> " +
          "CAST(array_position(ds, array_min(ds)) - 1 AS STRING)), '|')")
          .as("codes"),
        expr("aggregate(transform(dmat, ds -> array_min(ds)), " +
          "CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("quant_err"))
  }

  private val qPqSql: String = {
    val qv = "CAST(floor(CAST(embedding[b * %d + k + 1] AS DOUBLE) * 1000000) AS BIGINT)"
      .format(PQ_SUBDIM)
    s"""WITH dm AS (
       |  SELECT vec_id,
       |    list_transform(range(0, $PQ_SUBS), b ->
       |      list_transform(range(0, $PQ_K), c ->
       |        list_sum(list_transform(range(0, $PQ_SUBDIM), k ->
       |          ($qv - (${centroid("c", s"b * $PQ_SUBDIM + k")}))
       |          * ($qv - (${centroid("c", s"b * $PQ_SUBDIM + k")})))))) AS dmat
       |  FROM embeddings)
       |SELECT vec_id,
       |  array_to_string(list_transform(dmat,
       |    ds -> CAST(list_position(ds, list_min(ds)) - 1 AS VARCHAR)), '|') AS codes,
       |  CAST(list_sum(list_transform(dmat, ds -> list_min(ds))) AS BIGINT) AS quant_err
       |FROM dm""".stripMargin
  }

  // ----------------------------------------------------------- q_pq_search
  /** ADC (asymmetric distance) top-10 search over the PQ-encoded
    * corpus — the query-time half of product quantization. The corpus
    * side carries ONLY its code word (8 small ints); the probe
    * (vec_id 0) computes its distance-to-centroid lookup table — its
    * own [[dmatExpr]] — once, and each corpus row's approximate
    * distance is 8 table lookups summed: Σ_b pdist[b][code_b].
    * Identical integer arithmetic on both engines, so top-10 and the
    * tie-break (adc asc, vec_id asc) reproduce exactly.
    *
    * Scale: this is THE search shape for a 100 TB vector store — the
    * scan reads an 8-byte code column (32× smaller than raw float32),
    * the probe's lookup table (8×4 BIGINTs per probe) is
    * '''broadcast''', the per-row work is 8 array lookups inside one
    * codegen'd projection, and top-k plans as TakeOrderedAndProject
    * (per-partition heaps + driver merge, never a global sort). IVF-PQ
    * composes this with `q_ivf_ann`'s centroid-bucket filter in front.
    */
  private val PQ_TOP = 10

  private def qPqSearch(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.IntegerType
    val emb = Tables.embeddings(s, d)
    val codes = emb
      .withColumn("q", expr(qvec))
      .withColumn("dmat", expr(dmatExpr))
      .select(col("vec_id"),
        expr("transform(dmat, ds -> array_position(ds, array_min(ds)) - 1)")
          .as("code"))
    val probeTable = emb.filter(col("vec_id") === 0)
      .withColumn("q", expr(qvec))
      .select(expr(dmatExpr).as("pdist"))
    val scored = codes.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probeTable))
      .select(col("vec_id"), expr(adcExpr).as("adc"))
      .orderBy(col("adc").asc, col("vec_id").asc)
      .limit(PQ_TOP)
    scored
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("adc").asc, col("vec_id").asc))
        .cast(IntegerType))
  }

  private val qPqSearchSql: String = {
    s"""WITH dm AS (
       |  SELECT vec_id,
       |    list_transform(${qPqDmatDuck("embedding")}, ds ->
       |      list_position(ds, list_min(ds)) - 1) AS code
       |  FROM embeddings),
       |pt AS (
       |  SELECT ${qPqDmatDuck("embedding")} AS pdist
       |  FROM embeddings WHERE vec_id = 0),
       |adc AS (
       |  SELECT dm.vec_id,
       |    CAST(list_sum(list_transform(range(0, $PQ_SUBS),
       |      b -> pt.pdist[b + 1][dm.code[b + 1] + 1])) AS BIGINT) AS adc
       |  FROM dm, pt WHERE dm.vec_id <> 0)
       |SELECT vec_id, adc, CAST(rnk AS INTEGER) AS rnk FROM (
       |  SELECT vec_id, adc,
       |    row_number() OVER (ORDER BY adc ASC, vec_id ASC) AS rnk
       |  FROM adc)
       |WHERE rnk <= $PQ_TOP""".stripMargin
  }

  /** DuckDB text of [[dmatExpr]] over a raw float-list column. */
  private def qPqDmatDuck(embCol: String): String = {
    val qv =
      s"CAST(floor(CAST($embCol[b * $PQ_SUBDIM + k + 1] AS DOUBLE) * 1000000) AS BIGINT)"
    s"""list_transform(range(0, $PQ_SUBS), b ->
       |      list_transform(range(0, $PQ_K), c ->
       |        list_sum(list_transform(range(0, $PQ_SUBDIM), k ->
       |          ($qv - (${centroid("c", s"b * $PQ_SUBDIM + k")}))
       |          * ($qv - (${centroid("c", s"b * $PQ_SUBDIM + k")}))))))""".stripMargin
  }

  // ------------------------------------------------------------- q_ivf_pq
  /** IVF-PQ — the composed index every billion-row vector store runs:
    * the IVF coarse quantizer (q_ivf_ann's max-cosine assignment to
    * broadcast centroids, nprobe=1) prunes the corpus to ~N/K
    * candidates, and ADC over the PQ codes (q_pq_search's lookup-table
    * scoring) ranks them without touching raw floats. Probes are
    * `vec_id % 97 = 0`, top-5 per probe.
    *
    * Scale: the only full-corpus passes are map-only (assignment
    * against K broadcast centroids; 8-byte code words). The search
    * scans one centroid bucket per probe, reads ONLY the code column,
    * and the per-probe top-5 is a bounded window keyed by query. This
    * is the exact plan shape of a production IVF-PQ index, with the
    * trained artifacts (k-means centroids, learned codebook) replaced
    * by the deterministic stand-ins the encode queries document.
    */
  private val IVF_K = 8
  private val IVFPQ_TOP = 5

  /** The ADC lookup-sum over a `code` array against a `pdist` table —
    * shared by [[qPqSearch]] and [[qIvfPq]].
    */
  private val adcExpr =
    s"""aggregate(sequence(0, ${PQ_SUBS - 1}), CAST(0 AS BIGINT),
       |  (acc, b) -> acc + element_at(element_at(pdist, b + 1),
       |    CAST(element_at(code, b + 1) AS INT) + 1))""".stripMargin

  private def qIvfPq(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.IntegerType
    graft.functions.VecDot.register(s)
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"),
        expr("CAST(embedding AS ARRAY<DOUBLE>)").as("v"))
      .withColumn("nrm", Similarity.norm(col("v")))
    val cents = emb.filter(col("vec_id") < IVF_K)
      .select(col("vec_id").as("centroid_id"), col("v").as("cv"),
        col("nrm").as("cnrm"))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("acos").desc, col("centroid_id").asc)
    val assign = emb
      .crossJoin(broadcast(cents))
      .withColumn("acos",
        Similarity.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("rn", row_number().over(byVec))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"), col("embedding"))
    val coded = assign
      .withColumn("q", expr(qvec))
      .withColumn("dmat", expr(dmatExpr))
      .select(col("vec_id"), col("centroid_id"),
        expr("transform(dmat, ds -> array_position(ds, array_min(ds)) - 1)")
          .as("code"))
    val probes = assign.filter(col("vec_id") % 97 === 0)
      .withColumn("q", expr(qvec))
      .select(col("vec_id").as("query_id"),
        col("centroid_id").as("probe_centroid"),
        expr(dmatExpr).as("pdist"))
    val byQuery = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    broadcast(probes)
      .join(coded,
        col("probe_centroid") === col("centroid_id") &&
          col("vec_id") =!= col("query_id"))
      .withColumn("adc", expr(adcExpr))
      .withColumn("neighbor_id", col("vec_id"))
      .withColumn("rnk", row_number().over(byQuery))
      .filter(col("rnk") <= IVFPQ_TOP)
      .select(col("query_id"), col("neighbor_id"), col("adc"),
        col("rnk").cast(IntegerType).as("rnk"))
  }

  private val qIvfPqSql: String = {
    def dotd(a: String, b: String): String =
      s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"
    def cosd(a: String, b: String): String =
      s"${dotd(a, b)} / (sqrt(${dotd(a, a)}) * sqrt(${dotd(b, b)}))"
    s"""WITH cents AS (
       |  SELECT vec_id AS centroid_id, embedding AS ce
       |  FROM embeddings WHERE vec_id < $IVF_K),
       |scored_assign AS (
       |  SELECT e.vec_id, c.centroid_id,
       |    ${cosd("e.embedding", "c.ce")} AS acos
       |  FROM embeddings e CROSS JOIN cents c),
       |assign AS (
       |  SELECT vec_id, centroid_id FROM (
       |    SELECT vec_id, centroid_id,
       |      row_number() OVER (PARTITION BY vec_id
       |                         ORDER BY acos DESC, centroid_id) AS rn
       |    FROM scored_assign) WHERE rn = 1),
       |dm AS (
       |  SELECT vec_id,
       |    list_transform(${qPqDmatDuck("embedding")}, ds ->
       |      list_position(ds, list_min(ds)) - 1) AS code
       |  FROM embeddings),
       |probes AS (
       |  SELECT vec_id AS query_id, centroid_id
       |  FROM assign WHERE vec_id % 97 = 0),
       |pt AS (
       |  SELECT p.query_id, ${qPqDmatDuck("q.embedding")} AS pdist
       |  FROM probes p JOIN embeddings q ON q.vec_id = p.query_id),
       |pairs AS (
       |  SELECT p.query_id, a.vec_id AS neighbor_id,
       |    CAST(list_sum(list_transform(range(0, $PQ_SUBS),
       |      b -> pt.pdist[b + 1][dm.code[b + 1] + 1])) AS BIGINT) AS adc
       |  FROM probes p
       |  JOIN assign a ON a.centroid_id = p.centroid_id
       |               AND a.vec_id <> p.query_id
       |  JOIN dm ON dm.vec_id = a.vec_id
       |  JOIN pt ON pt.query_id = p.query_id)
       |SELECT query_id, neighbor_id, adc, CAST(rnk AS INTEGER) AS rnk
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |                               ORDER BY adc, neighbor_id) AS rnk
       |  FROM pairs) WHERE rnk <= $IVFPQ_TOP""".stripMargin
  }

  // -------------------------------------------------------- q_embed_health
  /** Embedding-store health audit — the pre-index gate a vector
    * pipeline runs before building anything on top: per label,
    * vector count, dimension consistency (min/max length — a ragged
    * store breaks every fold downstream), zero-vector and
    * non-finite-component counts (both poison cosine math silently),
    * and the norm distribution (min / exact interpolated median /
    * max — collapsed norms flag an embedding-model regression).
    *
    * Scale: map-only per-row checks (codegen'd HOFs over the array)
    * feeding one label-keyed aggregation — group count = label
    * cardinality, partials collapse map-side; no cross-row float
    * sums (mins/maxes and a sort-based median only, all
    * order-independent), so the report is bit-stable on any
    * partitioning.
    */
  private def qEmbedHealth(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}
    Tables.embeddings(s, d)
      .select(col("label"),
        expr("size(embedding)").as("dim"),
        expr("forall(embedding, x -> x = CAST(0 AS FLOAT))").as("is_zero"),
        expr("exists(embedding, x -> isnan(x) OR abs(CAST(x AS DOUBLE)) = CAST('Infinity' AS DOUBLE))")
          .as("bad"),
        expr("sqrt(aggregate(embedding, CAST(0 AS DOUBLE)," +
          " (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))")
          .as("nrm"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("dim")).as("dim_min"),
        max(col("dim")).as("dim_max"),
        sum(expr("IF(is_zero, 1, 0)")).as("n_zero"),
        sum(expr("IF(bad, 1, 0)")).as("n_nonfinite"),
        min(col("nrm")).as("norm_min"),
        expr("percentile(nrm, 0.5)").as("norm_med"),
        max(col("nrm")).as("norm_max"))
  }

  private val qEmbedHealthSql: String =
    """WITH per AS (
      |  SELECT label,
      |    CAST(len(embedding) AS INTEGER) AS dim,
      |    coalesce(list_sum(list_transform(embedding,
      |      x -> CASE WHEN x <> 0 THEN 1 ELSE 0 END)) = 0, TRUE) AS is_zero,
      |    coalesce(list_sum(list_transform(embedding,
      |      x -> CASE WHEN isnan(x) OR isinf(x) THEN 1 ELSE 0 END)) > 0,
      |      FALSE) AS bad,
      |    sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |                          CAST(embedding AS DOUBLE[]))) AS nrm
      |  FROM embeddings)
      |SELECT label, CAST(count(*) AS BIGINT) AS n_vectors,
      |  min(dim) AS dim_min, max(dim) AS dim_max,
      |  CAST(sum(CASE WHEN is_zero THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(sum(CASE WHEN bad THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
      |  min(nrm) AS norm_min,
      |  quantile_cont(nrm, 0.5) AS norm_med,
      |  max(nrm) AS norm_max
      |FROM per GROUP BY 1""".stripMargin

  // ----------------------------------------------------------------- q_pca
  /** Distributed PCA, the Gram-matrix way — top principal component of
    * the embedding cloud over the first [[PCA_DIM]] dims (the
    * q_mrl_recall prefix convention): ONE pass aggregates the exact
    * centered second-moment matrix `C_ij = Σ c_i·c_j` (the only part
    * that touches the data — at 100 TB this is the whole cost, and it
    * is a map-side-combined 256-group aggregation), then power
    * iteration runs on the dim²-sized matrix frame.
    *
    * Integer determinism where float PCA has none:
    *  - coordinates quantized by the shared `floor(x·10⁶)` rule;
    *  - the mean is computed on [[PCA_OFF]]-shifted values so every
    *    floor division sees a NONNEGATIVE numerator — Spark's `div`
    *    truncates toward zero while DuckDB's `//` floors, and they
    *    only agree on nonnegatives (same reason the normalization
    *    splits into sign · abs-quotient);
    *  - power iteration normalizes by the L∞ norm (`·10⁶ div
    *    max|w|`) instead of the float L2 norm — no sqrt, every
    *    iterate a BIGINT vector, bit-identical on any engine and
    *    partitioning. [[PCA_ITERS]] fixed rounds (convergence-free
    *    determinism, like q_pagerank).
    *
    * Scale: quantize+center are map-only (mean broadcast); the Gram
    * outer product is a vec_id-keyed self-join of the exploded
    * coordinate frame — both sides the SAME plan, so the exchange is
    * computed once and reused, and partials collapse to ≤dim² rows
    * per partition map-side. Iterations touch only the 256-row
    * matrix with a broadcast 16-row vector. Eigenvalue reported
    * ÷10¹² (it scales with n·amplitude² — keep it DECIMAL end to end
    * past ~1e12 rows).
    */
  private val PCA_DIM = 16
  private val PCA_OFF = 100000000L // shift: mean numerators stay >= 0
  private val PCA_ITERS = 3

  /** Memoized centered Gram matrix (dim²-row frame) — shared by
    * [[qPca]] and [[qPcaVar]]; the production shape is a maintained
    * statistics table refreshed with the corpus.
    */
  private def pcaCov(s: SparkSession, d: String): DataFrame =
    graft.SessionMemo.getOrElseUpdate(s, "emb_pca_cov", d) {
      val qvec16 =
        s"transform(slice(embedding, 1, $PCA_DIM)," +
          " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
      val e = Tables.embeddings(s, d).select(col("vec_id"),
        expr(qvec16).as("q"))
      val n1 = e.agg(count(lit(1)).as("n"))
      val base = e.select(col("vec_id"), posexplode(col("q")))
        .withColumnRenamed("pos", "i").withColumnRenamed("col", "x")
      val mu = base.groupBy(col("i"))
        .agg(sum(expr(s"CAST(x + $PCA_OFF AS DECIMAL(38,0))")).as("sx"))
        .crossJoin(broadcast(n1))
        .select(col("i"), expr(s"sx div n - $PCA_OFF").as("mu"))
      val cent = base.join(broadcast(mu), Seq("i"))
        .select(col("vec_id"), col("i"), (col("x") - col("mu")).as("c"))
      cent.alias("a")
        .join(cent.alias("b"), Seq("vec_id"))
        .groupBy(col("a.i").as("i"), col("b.i").as("j"))
        .agg(sum(expr("CAST(a.c AS DECIMAL(38,0)) * b.c")).as("c"))
        .transform(graft.Memo.checkpoint) // feeds every power iteration
    }

  /** [[PCA_ITERS]] integer power-iteration rounds; returns the final
    * (vector frame, L∞ normalizer frame).
    */
  private def powerIterate(s: SparkSession, cov: DataFrame)
      : (DataFrame, DataFrame) = {
    var v = s.range(0, PCA_DIM).select(col("id").cast("int").as("j"),
      lit(1000000L).as("v"))
    var nrm: DataFrame = null
    for (_ <- 1 to PCA_ITERS) {
      val w = cov.join(broadcast(v), Seq("j"))
        .groupBy(col("i")).agg(sum(expr("c * v")).as("w"))
      nrm = w.agg(max(abs(col("w"))).as("m"))
      v = w.crossJoin(broadcast(nrm))
        .select(col("i").as("j"),
          expr("CAST(sign(w) AS BIGINT)" +
            " * CAST((abs(w) * 1000000) div nullif(m, 0) AS BIGINT)")
            .as("v"))
    }
    (v, nrm)
  }

  private def qPca(s: SparkSession, d: String): DataFrame = {
    val (v, nrm) = powerIterate(s, pcaCov(s, d))
    v.crossJoin(broadcast(nrm))
      .select(col("j").as("dim_i"), col("v").as("v_ppm"),
        expr("CAST(m div 1000000000000 AS BIGINT)").as("lambda_scaled"))
  }

  /** Shared oracle CTE chain: quantize → center → Gram → 3 power
    * iterations (v3 = final vector, n3 = final L∞ normalizer).
    */
  private val pcaCoreSql: String = {
    def iter(prev: String, k: Int): String =
      s"""w$k AS (
         |  SELECT cov.i, sum(cov.c * $prev.v) AS w
         |  FROM cov JOIN $prev ON $prev.j = cov.j GROUP BY 1),
         |n$k AS (SELECT max(abs(w)) AS m FROM w$k),
         |v$k AS (
         |  SELECT i AS j,
         |    CAST(CASE WHEN w < 0 THEN -1 ELSE 1 END AS HUGEINT)
         |      * ((abs(w) * 1000000) // nullif((SELECT m FROM n$k), 0))
         |      AS v
         |  FROM w$k)""".stripMargin
    s"""e AS (
       |  SELECT vec_id, list_transform(range(0, $PCA_DIM),
       |    i -> CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1000000)
       |              AS BIGINT)) AS q
       |  FROM embeddings),
       |base AS (
       |  SELECT vec_id, CAST(unnest(range(0, $PCA_DIM)) AS INTEGER) AS i,
       |    unnest(q) AS x
       |  FROM e),
       |cnt AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM e),
       |mu AS (
       |  SELECT i,
       |    sum(CAST(x AS HUGEINT) + $PCA_OFF) // (SELECT n FROM cnt)
       |      - $PCA_OFF AS mu
       |  FROM base GROUP BY 1),
       |cent AS (
       |  SELECT vec_id, base.i, CAST(x - mu AS HUGEINT) AS c
       |  FROM base JOIN mu ON mu.i = base.i),
       |cov AS (
       |  SELECT a.i, b.i AS j, sum(a.c * b.c) AS c
       |  FROM cent a JOIN cent b USING (vec_id) GROUP BY 1, 2),
       |v0 AS (
       |  SELECT CAST(range AS INTEGER) AS j, CAST(1000000 AS HUGEINT) AS v
       |  FROM range(0, $PCA_DIM)),
       |${iter("v0", 1)},
       |${iter("v1", 2)},
       |${iter("v2", 3)}""".stripMargin
  }

  private val qPcaSql: String =
    s"""WITH $pcaCoreSql
       |SELECT j AS dim_i, CAST(v AS BIGINT) AS v_ppm,
       |  CAST((SELECT m FROM n$PCA_ITERS) // 1000000000000 AS BIGINT)
       |    AS lambda_scaled
       |FROM v$PCA_ITERS""".stripMargin

  // ------------------------------------------------------------- q_pca_var
  /** Explained-variance readout for [[qPca]]'s component — "what did
    * PCA buy": the Rayleigh quotient vᵀCv/vᵀv of the power-iteration
    * vector against the exact Gram matrix, the matrix trace (= total
    * variance mass), and the explained share in integer ppm
    * (`vᵀCv·10⁶ div (vᵀv·tr)`). C is a Gram matrix, hence PSD, so
    * every quotient here divides NONNEGATIVE integers — the floor
    * semantics both engines share.
    *
    * Scale: reuses the memoized dim²-row Gram frame ([[pcaCov]] —
    * the one corpus pass); everything here is matrix-frame-sized
    * joins with the broadcast 16-row vector. One output row.
    */
  private def qPcaVar(s: SparkSession, d: String): DataFrame = {
    val cov = pcaCov(s, d)
    val (v, _) = powerIterate(s, cov)
    val vv = v.agg(sum(expr("CAST(v AS DECIMAL(38,0)) * v")).as("vv"))
    val tr = cov.filter(col("i") === col("j"))
      .agg(sum(col("c")).as("tr"))
    val num = cov
      .join(broadcast(v.select(col("j"), col("v").as("vj"))), Seq("j"))
      .join(broadcast(v.select(col("j").as("i"), col("v").as("vi"))),
        Seq("i"))
      .agg(sum(expr("c * vi * vj")).as("num"))
    num.crossJoin(broadcast(vv)).crossJoin(broadcast(tr))
      .select(
        lit(PCA_DIM).as("dim"),
        expr("CAST((num div vv) div 1000000 AS BIGINT)")
          .as("rayleigh_scaled"),
        expr("CAST(tr div 1000000 AS BIGINT)").as("trace_scaled"),
        expr("CAST((num * 1000000) div (vv * tr) AS BIGINT)")
          .as("explained_ppm"))
  }

  private val qPcaVarSql: String =
    s"""WITH $pcaCoreSql,
       |vv AS (SELECT sum(v * v) AS vv FROM v$PCA_ITERS),
       |tr AS (SELECT sum(c) AS tr FROM cov WHERE i = j),
       |num AS (
       |  SELECT sum(cov.c * a.v * b.v) AS num
       |  FROM cov JOIN v$PCA_ITERS a ON a.j = cov.i
       |           JOIN v$PCA_ITERS b ON b.j = cov.j)
       |SELECT CAST($PCA_DIM AS INTEGER) AS dim,
       |  CAST((num // vv) // 1000000 AS BIGINT) AS rayleigh_scaled,
       |  CAST(tr // 1000000 AS BIGINT) AS trace_scaled,
       |  CAST((num * 1000000) // (vv * tr) AS BIGINT) AS explained_ppm
       |FROM num, vv, tr""".stripMargin

  // ----------------------------------------------------------- q_embed_drift
  /** Embedding-distribution DRIFT audit — the retraining/reindexing
    * trigger: split the store into two cohorts (vec_id parity — the
    * stand-in for before/after an embedding-model change or a data
    * window boundary) and compare per-dimension means. Reports the
    * 5 most-shifted dimensions (|Δmean| in the shared
    * floor(x·10⁶) integer scale) plus every dimension's shift — an
    * index built on cohort A serves cohort B only while this stays
    * small; a concentrated shift in few dims usually means a
    * preprocessing change, a broad shift means a model change.
    *
    * Integer-exact: per-cohort per-dim DECIMAL sums of quantized
    * coordinates, means via the [[PCA_OFF]]-shift trick (floor
    * division on nonnegative numerators only), |Δ| of integers.
    *
    * Scale: ONE pass over the store (map-only explode + (dim, cohort)
    * agg — 2·dim groups, map-side combined); ranking runs on the
    * dim-sized frame via orderBy().limit().
    */
  private def qEmbedDrift(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.embeddings(s, d)
      .select(pmod(col("vec_id"), lit(2)).as("cohort"),
        posexplode(expr(
          "transform(embedding," +
            " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT))")))
      .withColumnRenamed("pos", "i").withColumnRenamed("col", "x")
    val means = base.groupBy(col("i"), col("cohort"))
      .agg(count(lit(1)).as("n"),
        sum(expr(s"CAST(x + $PCA_OFF AS DECIMAL(38,0))")).as("sx"))
      .select(col("i"), col("cohort"),
        expr(s"sx div n - $PCA_OFF").as("mu"))
    val wide = means.groupBy(col("i"))
      .agg(min(when(col("cohort") === 0, col("mu"))).as("mu_a"),
        min(when(col("cohort") === 1, col("mu"))).as("mu_b"))
      .select(col("i").as("dim_i"), col("mu_a"), col("mu_b"),
        abs(col("mu_a") - col("mu_b")).as("shift"))
    wide.orderBy(col("shift").desc, col("dim_i")).limit(5)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("shift").desc, col("dim_i"))).cast("int"))
  }

  private val qEmbedDriftSql: String =
    s"""WITH base AS (
       |  SELECT vec_id % 2 AS cohort,
       |    CAST(unnest(range(0, $DIM)) AS INTEGER) AS i,
       |    unnest(list_transform(range(0, $DIM),
       |      k -> CAST(floor(CAST(embedding[k + 1] AS DOUBLE) * 1000000)
       |                AS BIGINT))) AS x
       |  FROM embeddings),
       |means AS (
       |  SELECT i, cohort,
       |    sum(CAST(x AS HUGEINT) + $PCA_OFF) // count(*) - $PCA_OFF
       |      AS mu
       |  FROM base GROUP BY 1, 2),
       |wide AS (
       |  SELECT i AS dim_i,
       |    CAST(min(CASE WHEN cohort = 0 THEN mu END) AS BIGINT) AS mu_a,
       |    CAST(min(CASE WHEN cohort = 1 THEN mu END) AS BIGINT) AS mu_b,
       |    CAST(abs(min(CASE WHEN cohort = 0 THEN mu END)
       |             - min(CASE WHEN cohort = 1 THEN mu END)) AS BIGINT)
       |      AS shift
       |  FROM means GROUP BY 1)
       |SELECT dim_i, mu_a, mu_b, shift, CAST(rnk AS INTEGER) AS rnk
       |FROM (
       |  SELECT *, row_number() OVER (ORDER BY shift DESC, dim_i) AS rnk
       |  FROM wide)
       |WHERE rnk <= 5""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pca"       -> qPca _,
    "q_embed_drift" -> qEmbedDrift _,
    "q_pca_var"   -> qPcaVar _,
    "q_embed_health" -> qEmbedHealth _,
    "q_rproj"     -> qRproj _,
    "q_pq"        -> qPq _,
    "q_pq_search" -> qPqSearch _,
    "q_ivf_pq"    -> qIvfPq _
  )

  val oracles: Map[String, String] = Map(
    "q_pca"       -> qPcaSql,
    "q_embed_drift" -> qEmbedDriftSql,
    "q_pca_var"   -> qPcaVarSql,
    "q_embed_health" -> qEmbedHealthSql,
    "q_rproj"     -> qRprojSql,
    "q_pq"        -> qPqSql,
    "q_pq_search" -> qPqSearchSql,
    "q_ivf_pq"    -> qIvfPqSql
  )
}
