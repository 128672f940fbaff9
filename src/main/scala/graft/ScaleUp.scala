package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic corpus scaler: derives an `sf1`-style dataset from a
  * driver-provided scale factor by stacking `factor` join-consistent
  * copies of every fact table (dimension tables `region`/`nation` stay
  * fixed, like TPC-H's constant dimensions). Copy k shifts every
  * surrogate key by k·(max(key)+1) — the +1 matters because the corpus
  * keys are 0-based, so a bare k·max would map copy k's key=max and
  * copy k+1's key=0 to the same value — so each copy joins ONLY its
  * own rows —
  * join selectivities, group cardinalities per key, and skew shape are
  * preserved while global cardinality scales linearly:
  *
  *  - customer/supplier/part/orders/lineitem: keys shifted per copy,
  *    names suffixed (distinct), FK columns shifted with their parents;
  *  - events: user_id/event_id shifted — 10× users over the SAME
  *    calendar, the shape a growing product actually has;
  *  - documents: doc_id shifted; copies k>0 get one appended token, so
  *    copies are DISTINCT exactly but near-identical by shingle Jaccard
  *    — every document becomes a `factor`-sized near-dup cluster, the
  *    mirror/repost structure a dedup pass exists to find;
  *  - embeddings: vec_id shifted; copy k's vector is the original
  *    circularly rotated by k (norm- and distribution-preserving, but
  *    far from the original in cosine — no degenerate duplicate
  *    geometry).
  *
  * Usage: `runMain graft.ScaleUp <srcDir> <outDir> <factor>`.
  * Deterministic end to end: no RNG, copies derive only from (row, k).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS) = args
    val factor = factorS.toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")

    val copies = spark.range(0, factor).select(col("id").as("k"))
    def stacked(df: DataFrame): DataFrame = df.crossJoin(broadcast(copies))
    // Per-copy key stride: max+1, because keys are 0-based — a stride of
    // bare max would collide copy k's key=max with copy k+1's key=0.
    def strideOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L

    // Fixed dimensions ride along unchanged.
    write(read("region"), "region", 1)
    write(read("nation"), "nation", 1)

    val cust = read("customer"); val cMax = strideOf(cust, "c_custkey")
    write(stacked(cust).select(
      (col("c_custkey") + col("k") * cMax).as("c_custkey"),
      when(col("k") === 0, col("c_name"))
        .otherwise(concat(col("c_name"), lit("_"), col("k"))).as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")),
      "customer", 4)

    val supp = read("supplier"); val sMax = strideOf(supp, "s_suppkey")
    write(stacked(supp).select(
      (col("s_suppkey") + col("k") * sMax).as("s_suppkey"),
      when(col("k") === 0, col("s_name"))
        .otherwise(concat(col("s_name"), lit("_"), col("k"))).as("s_name"),
      col("s_nationkey"), col("s_acctbal")),
      "supplier", 1)

    val part = read("part"); val pMax = strideOf(part, "p_partkey")
    write(stacked(part).select(
      (col("p_partkey") + col("k") * pMax).as("p_partkey"),
      when(col("k") === 0, col("p_name"))
        .otherwise(concat(col("p_name"), lit("_"), col("k"))).as("p_name"),
      col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice")),
      "part", 4)

    val ord = read("orders"); val oMax = strideOf(ord, "o_orderkey")
    write(stacked(ord).select(
      (col("o_orderkey") + col("k") * oMax).as("o_orderkey"),
      (col("o_custkey") + col("k") * cMax).as("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")),
      "orders", 8)

    write(stacked(read("lineitem")).select(
      (col("l_orderkey") + col("k") * oMax).as("l_orderkey"),
      (col("l_partkey") + col("k") * pMax).as("l_partkey"),
      (col("l_suppkey") + col("k") * sMax).as("l_suppkey"),
      col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("l_tax"), col("l_returnflag"),
      col("l_linestatus"), col("l_shipdate")),
      "lineitem", 16)

    val ev = read("events")
    val eMax = strideOf(ev, "event_id"); val uMax = strideOf(ev, "user_id")
    write(stacked(ev).select(
      (col("event_id") + col("k") * eMax).as("event_id"),
      col("ts"),
      (col("user_id") + col("k") * uMax).as("user_id"),
      col("event_type"), col("value"), col("props")),
      "events", 8)

    val docs = read("documents"); val dMax = strideOf(docs, "doc_id")
    write(stacked(docs)
      .withColumn("text2",
        when(col("k") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" qz"), col("k"))))
      .select(
        (col("doc_id") + col("k") * dMax).as("doc_id"),
        col("text2").as("text"), col("lang"), col("source"),
        length(col("text2")).cast("long").as("n_chars")),
      "documents", 8)

    val emb = read("embeddings"); val vMax = strideOf(emb, "vec_id")
    // Rotate by k mod dim: for factor > dim a raw k would make the
    // first slice length negative and fail at runtime.
    val rot = pmod(col("k"), size(col("embedding")))
    write(stacked(emb).select(
      (col("vec_id") + col("k") * vMax).as("vec_id"),
      when(rot === 0, col("embedding")).otherwise(concat(
        slice(col("embedding"), rot + 1, size(col("embedding")) - rot),
        slice(col("embedding"), lit(1), rot))).as("embedding"),
      col("label")),
      "embeddings", 2)

    spark.stop()
  }
}
