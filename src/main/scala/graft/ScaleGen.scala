package graft

import org.apache.spark.sql.functions._

/** One-off 10× scale-up generator for the empirical scale validation
  * (BENCH_NOTES.md): derives an sf1-equivalent copy of the pipeline
  * tables (documents / embeddings / events / supplier) from sf0.1 by
  * unioning `copies` STRUCTURALLY INDEPENDENT variants — each copy
  * preserves the source's intra-copy duplicate/near-dup structure,
  * while cross-copy rows are made deliberately dissimilar so the
  * near-dup pair space grows linearly like a real 10× corpus would,
  * not quadratically like naive concatenation of identical copies:
  *
  *  - documents: per-copy token bijection (`t -> t || 'q' || c`) —
  *    shingle sets of different copies are disjoint, so MinHash/
  *    SimHash/Jaccard find exactly 10× the pairs, never cross-copy
  *    cliques; token repetition structure inside a document (what
  *    BPE/LM/quality ops measure) is untouched.
  *  - embeddings: per-copy orthogonal transform (coordinate rotation
  *    + deterministic sign flips) — intra-copy cosine geometry is
  *    EXACTLY preserved (ANN/SemDeDup/k-means see 10 independent
  *    corpora of the original geometry), cross-copy cosines are
  *    decorrelated.
  *  - events: id/user offsets per copy (new users, same temporal
  *    shape per user).
  *  - supplier: regenerated TPC-H-format names from the offset keys,
  *    so p54's suffix blocking keys distribute over the larger
  *    keyspace the way real TPC-H data would.
  *
  * Usage: runMain graft.ScaleGen [srcDir] [dstDir] [copies] [tables]
  * `tables` (optional, comma-separated) restricts generation to a
  * subset — e.g. `documents` for the ×1000 documents-only point,
  * where the full star schema would be disk-bound for no extra
  * signal (events alone would be ~100M rows).
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Sessions.local()
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    val wantSet = args.lift(3).map(_.split(",").map(_.trim)
      .filter(_.nonEmpty).toSet)
    def want(t: String): Boolean = wantSet.forall(_.contains(t))

    val copyDf = broadcast(spark.range(copies).toDF("c"))

    if (want("documents")) {
      // ---- documents: token bijection per copy --------------------------
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val nDoc = docs.agg(max("doc_id")).head().getLong(0) + 1
      docs.crossJoin(copyDf)
        .select(
          (col("doc_id") + col("c") * nDoc).as("doc_id"),
          expr("array_join(transform(split(text, ' '), " +
            "t -> concat(t, 'q', c)), ' ')").as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")))
        .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    }

    if (want("embeddings")) {
      // ---- embeddings: per-copy orthogonal transform --------------------
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val dim = emb.select(size(col("embedding"))).head().getInt(0)
      val nVec = emb.agg(max("vec_id")).head().getLong(0) + 1
      val shift = math.max(1, dim / copies)
      emb.crossJoin(copyDf)
        .select(
          (col("vec_id") + col("c") * nVec).as("vec_id"),
          expr(
            s"""transform(sequence(0, $dim - 1), i -> CAST(
               |  element_at(embedding,
               |    CAST(pmod(i + c * $shift, $dim) AS INT) + 1) *
               |  (CASE WHEN pmod((i + 1) * (c * 2654435761), 97) < 48
               |        THEN -1.0D ELSE 1.0D END) AS FLOAT))""".stripMargin)
            .as("embedding"),
          col("label"))
        .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    }

    if (want("events")) {
      // ---- events: fresh users per copy. The source ts spelling is
      // the driver's to choose (NANOS-as-long and µs-NTZ have both
      // occurred) — QueryUtil.tbl normalizes every shape to a plain µs
      // TIMESTAMP, which is what gets written back so DuckDB oracles
      // type it natively. ------------------------------------------------
      val ev = graft.queries.QueryUtil.tbl(spark, src, "events")
      val nEv = ev.agg(max("event_id")).head().getLong(0) + 1
      val nUser = ev.agg(max("user_id")).head().getLong(0) + 1
      ev.crossJoin(copyDf)
        .select(
          (col("event_id") + col("c") * nEv).as("event_id"),
          col("ts"),
          (col("user_id") + col("c") * nUser).as("user_id"),
          col("event_type"), col("value"), col("props"))
        .write.mode("overwrite").parquet(s"$dst/events.parquet")
    }

    if (want("supplier")) {
      // ---- supplier: regenerated names over the offset keyspace ---------
      val sup = spark.read.parquet(s"$src/supplier.parquet")
      val nSup = sup.agg(max("s_suppkey")).head().getLong(0) + 1
      sup.crossJoin(copyDf)
        .select(
          (col("s_suppkey") + col("c") * nSup).as("s_suppkey"),
          format_string("Supplier#%09d",
            col("s_suppkey") + col("c") * nSup).as("s_name"),
          col("s_nationkey"), col("s_acctbal"))
        .write.mode("overwrite").parquet(s"$dst/supplier.parquet")
    }

    if (want("lineitem")) {
      // ---- lineitem: offset order/part/supp keyspaces per copy — the
      // co-purchase graph operators (p65/p75) read (l_orderkey,
      // l_partkey) as their edge source, and per-copy key disjointness
      // makes the graph grow as `copies` independent components: nodes,
      // edges AND the within-order pair space all scale linearly, the
      // way a real larger basket corpus would. Non-key columns carry
      // over unchanged (per-copy value distributions identical).
      val li = spark.read.parquet(s"$src/lineitem.parquet")
      val nOrd = li.agg(max("l_orderkey")).head().getLong(0) + 1
      val nPart = li.agg(max("l_partkey")).head().getLong(0) + 1
      val nSupp = li.agg(max("l_suppkey")).head().getLong(0) + 1
      li.crossJoin(copyDf)
        .select(
          (col("l_orderkey") + col("c") * nOrd).as("l_orderkey"),
          (col("l_partkey") + col("c") * nPart).as("l_partkey"),
          (col("l_suppkey") + col("c") * nSupp).as("l_suppkey"),
          col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax"), col("l_returnflag"),
          col("l_linestatus"), col("l_shipdate"))
        .write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    }

    if (want("orders") || want("customer")) {
      // ---- orders + customer: offset order/customer keyspaces per
      // copy with a SHARED customer modulus, so every copy's orders
      // reference that same copy's customers — the engine-DML merge
      // probe (q74) joins them and its matched/unmatched split must
      // scale like `copies` independent tenants. p87 reads orders; key
      // offsets keep n_distinct growing linearly for key columns while
      // low-cardinality columns keep their source distributions.
      val ord = graft.queries.QueryUtil.tbl(spark, src, "orders")
      val cust = spark.read.parquet(s"$src/customer.parquet")
      val nOrd2 = ord.agg(max("o_orderkey")).head().getLong(0) + 1
      val nCust = math.max(
        ord.agg(max("o_custkey")).head().getLong(0),
        cust.agg(max("c_custkey")).head().getLong(0)) + 1
      ord.crossJoin(copyDf)
        .select(
          (col("o_orderkey") + col("c") * nOrd2).as("o_orderkey"),
          (col("o_custkey") + col("c") * nCust).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
        .write.mode("overwrite").parquet(s"$dst/orders.parquet")
      cust.crossJoin(copyDf)
        .select(
          (col("c_custkey") + col("c") * nCust).as("c_custkey"),
          format_string("Customer#%09d",
            col("c_custkey") + col("c") * nCust).as("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
        .write.mode("overwrite").parquet(s"$dst/customer.parquet")
    }

    if (want("part")) {
      // ---- part: offset keys + per-copy token bijection on p_name
      // (same trick as documents) — the fuzzy-linkage blocks
      // (first word, size) stay disjoint across copies, so the
      // candidate-pair space grows linearly the way a real larger
      // catalog's would, while each copy keeps the source's intra-copy
      // typo-variant structure.
      val part = spark.read.parquet(s"$src/part.parquet")
      val nPartKey = part.agg(max("p_partkey")).head().getLong(0) + 1
      part.crossJoin(copyDf)
        .select(
          (col("p_partkey") + col("c") * nPartKey).as("p_partkey"),
          expr("array_join(transform(split(p_name, ' '), " +
            "t -> concat(t, 'q', c)), ' ')").as("p_name"),
          col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
        .write.mode("overwrite").parquet(s"$dst/part.parquet")
    }

    println(s"""{"scalegen":"$dst","copies":$copies}""")
    spark.stop()
  }
}
