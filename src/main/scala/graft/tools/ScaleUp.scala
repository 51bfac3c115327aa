package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derive a larger-scale slice from an existing testdata directory for
  * scaling measurements (SCALE.md's decade table):
  *
  *   runMain graft.tools.ScaleUp <srcDir> <dstDir> <factor>
  *
  * writes `factor`× versions of the tables the heavy-query set reads
  * (`lineitem` for the graph family, `documents` for the dedup family),
  * scaled the way the REAL workload grows — not by naive row duplication,
  * which would corrupt the density properties the algorithms' costs
  * depend on:
  *
  *  - `lineitem`: `factor` DISJOINT copies (order and part keys offset
  *    per copy past the source maxima). TPC-H scale factors grow orders
  *    AND parts together, so a part's co-purchase degree is
  *    scale-invariant; keeping part keys fixed would instead multiply
  *    every degree by `factor` and the wedge count by `factor`² — a
  *    super-linear artifact no real corpus has.
  *  - `documents`: `factor` copies with doc_ids offset and every token
  *    suffixed `_i` in copies i>0. Cross-copy shingles are then disjoint,
  *    so each document keeps exactly its original near-duplicates — the
  *    duplication RATE (what the LSH/cap bounds depend on) is preserved;
  *    verbatim copies would instead make every document a member of a
  *    `factor`-sized exact-dup cluster and square the candidate space.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleUp <srcDir> <dstDir> <factor> [tables]\n" +
        "  tables: optional comma list (e.g. 'lineitem') — scale only " +
        "these; third-decade slices for a single query family don't " +
        "need (or have disk for) the full table set at 100x")
    val Array(src, dst, fStr) = args.take(3)
    val only: Option[Set[String]] =
      if (args.length == 4) Some(args(3).split(',').map(_.trim).toSet)
      else None
    val f = fStr.toInt
    require(f >= 1, s"factor must be >= 1, got $f")
    val spark = graft.Sessions.build("graft-scaleup",
      graft.Sessions.master("local[32]"), 32)
    run(spark, src, dst, f, only)
    spark.stop()
  }

  /** The scaling itself, session-injected so specs can pin the density
    * contracts (disjoint key copies, suffixed-token documents, verbatim
    * vectors) without spawning a second session. */
  def run(spark: SparkSession, src: String, dst: String, f: Int,
      only: Option[Set[String]] = None): Unit = {
    def has(t: String): Boolean = new java.io.File(s"$src/$t.parquet").exists
    def wanted(t: String): Boolean = only.forall(_.contains(t))
    // the order-key offset is SHARED between lineitem and orders (when
    // present) so FK integrity survives scaling: both sides must shift by
    // a value past BOTH maxima or copy i's high keys collide with copy
    // i+1's lows. Lazy: only computed when a consumer table is wanted.
    lazy val okMax = (spark.read.parquet(s"$src/lineitem.parquet")
      .agg(max(col("l_orderkey"))).head().getLong(0) max
      (if (has("orders"))
        spark.read.parquet(s"$src/orders.parquet")
          .agg(max(col("o_orderkey"))).head().getLong(0)
      else 0L)) + 1L
    if (wanted("lineitem")) {
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val pkMax = li.agg(max(col("l_partkey"))).head().getLong(0) + 1L
    copies(li, f) { (df, i) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(i * okMax))
        .withColumn("l_partkey", col("l_partkey") + lit(i * pkMax))
    }.write.mode("overwrite").parquet(s"$dst/lineitem.parquet")
    }

    if (wanted("documents")) {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val idMax = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    copies(docs, f) { (df, i) =>
      val tagged =
        if (i == 0L) df
        else df.withColumn("text", expr(
          s"array_join(transform(split(text, ' '), x -> concat(x, '_$i')), ' ')"))
      tagged.withColumn("doc_id", col("doc_id") + lit(i * idMax))
    }.write.mode("overwrite").parquet(s"$dst/documents.parquet")
    }

    // embeddings: factor copies with vec_id offset, vectors verbatim.
    // The vector-tier costs under measurement (moment aggregation,
    // standardization, per-round k-center distance scans) are functions
    // of row count and dimensionality only — value degeneracy across
    // copies does not change any measured pass's work. (Duplicate points
    // are never SELECTED by k-center — dmin 0 — but every round still
    // scans them, which is the cost being measured.)
    if (wanted("embeddings")) {
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vMax = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    copies(emb, f) { (df, i) =>
      df.withColumn("vec_id", col("vec_id") + lit(i * vMax))
    }.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    }

    // events: factor copies with event_id AND user_id offset per copy —
    // DISJOINT user populations, timestamps verbatim. Per-user event
    // density (what sessionization, windows, and state-store costs scale
    // with) is preserved; keeping user ids fixed would multiply every
    // user's history by `factor` and blow up per-key state instead of key
    // count, which is not how a user base grows.
    if (has("events") && wanted("events")) {
      val ev = spark.read.parquet(s"$src/events.parquet")
      val eMax = ev.agg(max(col("event_id"))).head().getLong(0) + 1L
      val uMax = ev.agg(max(col("user_id"))).head().getLong(0) + 1L
      copies(ev, f) { (df, i) =>
        df.withColumn("event_id", col("event_id") + lit(i * eMax))
          .withColumn("user_id", col("user_id") + lit(i * uMax))
      }.write.mode("overwrite").parquet(s"$dst/events.parquet")
    }

    // orders/customer: disjoint copies with FK-CONSISTENT offsets — the
    // order-key offset REUSES lineitem's okMax and the customer-key offset
    // is shared between o_custkey and c_custkey, so referential integrity
    // (q201's audit, the join family) holds in the scaled slice exactly as
    // in the source. TPC-H grows orders and customers together; nation/
    // region stay fixed (copied verbatim), matching the spec's scaling.
    if (has("orders") && has("customer") && wanted("orders") && wanted("customer")) {
      val ord = spark.read.parquet(s"$src/orders.parquet")
      val cust = spark.read.parquet(s"$src/customer.parquet")
      val cMax = (ord.agg(max(col("o_custkey"))).head().getLong(0) max
        cust.agg(max(col("c_custkey"))).head().getLong(0)) + 1L
      copies(ord, f) { (df, i) =>
        df.withColumn("o_orderkey", col("o_orderkey") + lit(i * okMax))
          .withColumn("o_custkey", col("o_custkey") + lit(i * cMax))
      }.write.mode("overwrite").parquet(s"$dst/orders.parquet")
      copies(cust, f) { (df, i) =>
        df.withColumn("c_custkey", col("c_custkey") + lit(i * cMax))
      }.write.mode("overwrite").parquet(s"$dst/customer.parquet")
    }
    for (t <- Seq("nation", "region", "supplier", "part")) {
      val p = new java.io.File(s"$src/$t.parquet")
      if (p.exists && wanted(t))
        spark.read.parquet(p.getPath)
          .write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }

    println(s"[scaleup] wrote ${f}x lineitem + documents + embeddings + " +
      s"events + orders + customer (dims verbatim) from $src to $dst")
  }

  private def copies(df: DataFrame, f: Int)(
      tag: (DataFrame, Long) => DataFrame): DataFrame =
    (0 until f).map(i => tag(df, i.toLong)).reduce(_ union _)
}
