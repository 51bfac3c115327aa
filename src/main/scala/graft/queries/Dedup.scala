package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication family over `documents` — the core of an LLM training-data
  * pipeline. Four methods, all pure Spark built-ins (codegen'd, no UDFs),
  * all with exact DuckDB oracles because every hash is derived from md5
  * (identical in both engines):
  *
  *  - exact: group by md5 of normalized text — one shuffle on a 128-bit key;
  *    at 100 TB this is the cheapest possible dedup (hash, not text, moves);
  *  - n-gram Jaccard: 3-word shingles, inverted-index self-join on shingle,
  *    similarity = |∩| / |∪| — exact but quadratic in colliding docs: the
  *    ground truth the sketch methods approximate;
  *  - MinHash+LSH: 16 permutations -> 4 bands of 4 -> candidates share a
  *    band bucket. The scale path: cost is O(docs × shingles) + a join on
  *    band buckets, never all-pairs;
  *  - SimHash: 64-bit sign-of-weighted-bit-sums fingerprint; near-dups land
  *    on fingerprints within a small Hamming distance.
  *
  * The shingle->int64 base hash is the first 15 hex digits of md5 (fits in
  * 60 bits; Spark `conv`, DuckDB `('0x'||…)::BIGINT`), reduced mod the
  * Mersenne prime 2^31-1 so the affine MinHash permutations stay in 63 bits
  * in both engines (DuckDB BIGINT overflow is checked, Java wraps — staying
  * under 2^62 keeps them identical).
  */
object Dedup {

  // ---- shared shingling -------------------------------------------------

  /** Spark: distinct 3-word shingles per doc (docs with >= 3 tokens).
    * The split+shingle explode fuses onto the scan, which on the
    * unsplittable single-file input is ONE task — rebalance first (guide
    * §2.5 via [[Tables.spread]]; no-op on multi-split inputs). Every
    * shingle consumer (q51/q52b/q103/q104/q110/q112*) shares this. */
  private def shingles(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(spark, dir, "documents",
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 3), " +
          "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")).as("s"))
      .distinct()

  /** DuckDB equivalent of [[shingles]] (1-based list indexing). */
  private val shinglesSql =
    """SELECT DISTINCT doc_id,
      |  unnest(list_transform(range(1, len(w) - 1),
      |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s
      |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |WHERE len(w) >= 3""".stripMargin

  private val P = 2147483647L // 2^31 - 1

  /** Shingle -> int64 in [0, P): same value in Spark and DuckDB. */
  private def hashInt(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long") % P

  private def hashIntSql(e: String): String =
    s"(('0x' || substr(md5($e), 1, 15))::BIGINT % $P)"

  /** Fixed affine permutation constants (single source for Spark + SQL). */
  private val perms: Seq[(Long, Long)] =
    (0 until 16).map(i => ((2L * i + 1) * 1000003L % P, i * 998244353L % P))

  /** DISTINCT (doc_id, shingle-hash) inverted index — the shared input of
    * q51's capped join, q52b's exact-Jaccard side, and q104's novelty
    * scoring. Memoized + checkpointed once per (session, sf): on a cluster
    * this is THE persisted inverted index every shingle-keyed consumer
    * joins. Deduping on the HASH (not the string) in both engines keeps
    * even hash-collision behavior bit-equal with the DuckDB oracles. */
  private def shingleIndex(spark: SparkSession, dir: String): DataFrame =
    Memo("shingle_idx", spark, dir) {
      shingles(spark, dir)
        .select(col("doc_id"), hashInt(col("s")).as("h"))
        .distinct()
        .localCheckpoint()
    }

  // ---- q50: exact -------------------------------------------------------

  /** Normalized-text fingerprint (q50's dedup key) — ONE definition for
    * every store builder and probe (q50, q115, q117, q120). */
  private val docFp: Column = md5(lower(trim(col("text"))))

  /** Per-fp exact-dedup aggregate: kept (minimum) doc_id + copy count.
    * q50 over the full corpus; the history/batch stores over slices. */
  private def fpAggregate(docs: DataFrame): DataFrame =
    docs.groupBy(docFp.as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  def exact(spark: SparkSession, dir: String): DataFrame =
    fpAggregate(Tables(spark, dir, "documents"))

  // ---- q51: n-gram Jaccard ---------------------------------------------

  /** Shingle document-frequency cap for the inverted-index self-join: a
    * "stop shingle" shared by k docs creates k^2/2 join rows, so one hot
    * trigram in a 100 TB corpus would dominate the whole job. Shingles in
    * more than [[maxShingleDf]] docs are dropped before the join (standard
    * practice — such shingles carry no dedup signal anyway). The hot set is
    * tiny by construction, so it broadcasts into a left_anti. */
  val maxShingleDf = 64

  /** The inverted-index join runs on the fixed-width shingle HASH, not the
    * shingle text: the shuffle carries 8-byte keys instead of ~40-byte
    * strings (the dominant cost of this join at scale). The oracle hashes
    * identically, so even the negligible collision probability produces
    * bit-equal results in both engines. Pair space is bounded by the
    * document-frequency cap: each surviving shingle contributes at most
    * maxShingleDf^2/2 candidate rows. */
  /** Distinct (doc_id, shingle-hash) pairs with hot shingles removed —
    * exposed for the spec that asserts the df cap holds. */
  private[graft] def cappedShingles(spark: SparkSession, dir: String): DataFrame = {
    // The inverted index is consumed three times downstream (doc sizes +
    // both sides of the self-join), and the hot-shingle count reads it too:
    // the memoized checkpointed shingleIndex keeps the explode+distinct
    // pipeline to one run, shared with q52b and q104.
    val all = shingleIndex(spark, dir)
    val hot = all.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxShingleDf).select(col("h"))
    all.join(broadcast(hot), Seq("h"), "left_anti")
  }

  /** Shared overlap statistics of the capped inverted-index self-join: for
    * every co-occurring doc pair, the common-shingle count and both docs'
    * index sizes — q51 derives Jaccard from it, q109 containment. One
    * definition so the df-cap/join shape can never diverge between the two
    * (and the scale fixes of that shape apply in one place). */
  /** The overlap-stats join over ANY (doc_id, h) inverted index — the
    * memoized in-session one (q51/q109) or the persisted bucketed table
    * (q116): one shape, so the df-cap/join fixes apply in one place. */
  private def pairOverlapStatsOf(sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("c"))
      .join(sizes.as("x"), col("d1") === col("x.doc_id"))
      .join(sizes.as("y"), col("d2") === col("y.doc_id"))
      .select(col("d1"), col("d2"), col("c"),
        col("x.n").as("n1"), col("y.n").as("n2"))
  }

  private def pairOverlapStats(spark: SparkSession, dir: String): DataFrame =
    pairOverlapStatsOf(cappedShingles(spark, dir))

  /** Jaccard >= 0.5 pairs from overlap stats (|∩| / |∪| via inclusion-
    * exclusion). */
  private def jaccardOf(stats: DataFrame): DataFrame =
    stats.select(col("d1"), col("d2"),
      (col("c").cast("double") / (col("n1") + col("n2") - col("c"))).as("jac"))
      .where(col("jac") >= 0.5)

  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardOf(pairOverlapStats(spark, dir))

  private val jaccardSql =
    s"""WITH allsh AS (
       |  SELECT DISTINCT doc_id, ${hashIntSql("s")} AS h FROM ($shinglesSql)),
       |hot AS (SELECT h FROM allsh GROUP BY h HAVING count(*) > $maxShingleDf),
       |sh AS (SELECT * FROM allsh WHERE h NOT IN (SELECT h FROM hot)),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |com AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, CAST(c AS DOUBLE) / (x.n + y.n - c) AS jac
       |FROM com JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
       |WHERE CAST(c AS DOUBLE) / (x.n + y.n - c) >= 0.5""".stripMargin

  // ---- q109: shingle-containment pairs -----------------------------------

  /** q109: CONTAINMENT near-dup pairs — |A∩B| / min(|A|,|B|) >= 0.8. The
    * asymmetric companion to q51's Jaccard: a short document quoted whole
    * inside a long aggregator page has high containment but low Jaccard
    * (the union is dominated by the long doc), so symmetric similarity
    * misses exactly the subset-duplication case curation cares about.
    * Same inverted-index join and df cap as q51 — one extra aggregate
    * column, zero extra shuffles; the 0.8 filter is the exact integer test
    * 5·c >= 4·min(n) so the pair set cannot diverge at the boundary.
    * `contained_id` names the smaller-shingle-set doc (tie: the larger id,
    * matching min-by-(n, -id) in both engines via an exact composite). */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    pairOverlapStats(spark, dir)
      .where(col("c") * 5L >= least(col("n1"), col("n2")) * 4L)
      .select(col("d1"), col("d2"),
        (col("c").cast("double") / least(col("n1"), col("n2")))
          .as("containment"),
        when(col("n1") * lit(10000000000L) - col("d1") <
          col("n2") * lit(10000000000L) - col("d2"), col("d1"))
          .otherwise(col("d2")).as("contained_id"))

  private val containmentSql =
    s"""WITH allsh AS (
       |  SELECT DISTINCT doc_id, ${hashIntSql("s")} AS h FROM ($shinglesSql)),
       |hot AS (SELECT h FROM allsh GROUP BY h HAVING count(*) > $maxShingleDf),
       |sh AS (SELECT * FROM allsh WHERE h NOT IN (SELECT h FROM hot)),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |com AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |  CAST(c AS DOUBLE) / least(x.n, y.n) AS containment,
       |  CASE WHEN x.n * 10000000000 - d1 < y.n * 10000000000 - d2
       |    THEN d1 ELSE d2 END AS contained_id
       |FROM com JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
       |WHERE c * 5 >= least(x.n, y.n) * 4""".stripMargin

  // ---- q129: train/val/test split leakage --------------------------------

  /** Deterministic split assignment — the md5-bucket idiom (80/10/10), a
    * pure scan-local expression both engines compute identically. */
  private def splitOf(id: Column): Column = {
    val b = conv(substring(md5(id.cast("string")), 1, 15), 16, 10)
      .cast("long") % 100L
    when(b < 80, lit("train")).when(b < 90, lit("val")).otherwise(lit("test"))
  }

  private def splitOfSql(id: String): String =
    s"""CASE WHEN ('0x' || substr(md5($id::VARCHAR), 1, 15))::BIGINT % 100 < 80
       | THEN 'train'
       | WHEN ('0x' || substr(md5($id::VARCHAR), 1, 15))::BIGINT % 100 < 90
       | THEN 'val' ELSE 'test' END""".stripMargin.replace("\n", "")

  /** q129: split-leakage audit — near-duplicate pairs that cross the
    * train/val/test boundary (the eval-contamination check run before any
    * release; a val doc with a train near-dup inflates the benchmark).
    * Rides the SAME memoized capped inverted-index join as q51 — the split
    * label is a scan-local expression, so the audit costs zero shuffles
    * beyond the pair machinery it shares. The ≥0.5 Jaccard threshold is
    * the exact integer test 2c ≥ n1+n2−c, so the pair set cannot diverge
    * at the boundary; within-split pair counts are reported too (the
    * denominator context an auditor wants). */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame =
    pairOverlapStats(spark, dir)
      .where(col("c") * 2L >= col("n1") + col("n2") - col("c"))
      .select(splitOf(col("d1")).as("s1"), splitOf(col("d2")).as("s2"))
      .select(least(col("s1"), col("s2")).as("split_a"),
        greatest(col("s1"), col("s2")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))

  private val splitLeakageSql =
    s"""WITH allsh AS (
       |  SELECT DISTINCT doc_id, ${hashIntSql("s")} AS h FROM ($shinglesSql)),
       |hot AS (SELECT h FROM allsh GROUP BY h HAVING count(*) > $maxShingleDf),
       |sh AS (SELECT * FROM allsh WHERE h NOT IN (SELECT h FROM hot)),
       |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |com AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |lk AS (
       |  SELECT ${splitOfSql("d1")} AS s1, ${splitOfSql("d2")} AS s2
       |  FROM com JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
       |  WHERE c * 2 >= x.n + y.n - c)
       |SELECT least(s1, s2) AS split_a, greatest(s1, s2) AS split_b,
       |  count(*) AS n_pairs
       |FROM lk GROUP BY 1, 2""".stripMargin

  // ---- q52: MinHash + LSH candidates -------------------------------------

  /** MinHash signatures are computed per-row, shuffle-free: min over an
    * affine-permuted multiset equals min over the distinct set, so each doc
    * derives its 16-slot signature from its own shingle array in one narrow
    * projection (`transform` + `array_min`, all codegen'd) — no explode, no
    * 16-min aggregation. The old shape shuffled O(docs × shingles) rows to
    * group shingles by doc; this one shuffles exactly 4 (doc_id, band-hash)
    * rows per doc into the LSH bucket join, which at 100 TB is the
    * difference between shuffling the corpus and shuffling a fingerprint
    * table. Oracle SQL is unchanged — the signature values are identical. */
  /** Per-doc 16-slot MinHash signature (m0..m15), computed shuffle-free
    * from the doc's own shingle array — shared by q52 and its q52b
    * accuracy companion. */
  private def minhashSig(spark: SparkSession, dir: String): DataFrame =
    Memo("minhash_sig", spark, dir) { computeMinhashSig(spark, dir) }

  /** Row-local shingle-hash array over a tokenized column `w`: the 3-word
    * shingles hashed to int64 mod P — the per-row core of the MinHash
    * signature, shared by the batch signature table and q117's streaming
    * side (which must compute bit-identical band keys per row). */
  private val hsExpr = expr(
    "transform(" +
      "transform(sequence(0, size(w) - 3), " +
      "  i -> concat_ws(' ', w[i], w[i+1], w[i+2])), " +
      s"s -> CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT) % ${P}L)")

  /** MinHash slot i over a `hs` hash-array column: the array minimum under
    * the i-th affine permutation. Shared by the batch signature table and
    * q117's per-row streaming computation. */
  private def sigCol(i: Int): Column = {
    val (a, b) = perms(i)
    array_min(transform(col("hs"), x => (lit(a) * x + lit(b)) % P))
  }

  /** Band b's LSH bucket hash over signature columns m{4b}..m{4b+3}. */
  private def bandHash(b: Int): Column =
    md5(concat_ws("_", (0 until 4).map(j => col(s"m${4 * b + j}")): _*))

  private def computeMinhashSig(spark: SparkSession, dir: String): DataFrame = {
    val hs = hsExpr
    val sigCols = (0 until 16).map(i => sigCol(i).as(s"m$i"))
    // Small-file re-fan: a single-file local scan is one partition, which
    // would serialize the per-doc signature math; at real scale the scan
    // already has thousands of splits and this repartition is a no-op-sized
    // round-robin of raw docs (still far cheaper than the old exploded
    // doc×shingle shuffle).
    // Checkpointed: the signature table feeds q52's banding AND q52b's
    // slot-agreement estimate — one corpus scan, two consumers.
    Tables(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .repartition(spark.sparkContext.defaultParallelism)
      .withColumn("hs", hs)
      .select(col("doc_id") +: sigCols: _*)
      .localCheckpoint()
  }

  /** Banded LSH buckets of the MinHash signatures: one (doc_id, band, bh)
    * row per band — the probe key of every MinHash consumer (q52's
    * candidate self-join, q115's batch-vs-history probe). */
  private def minhashBands(spark: SparkSession, dir: String): DataFrame =
    minhashSig(spark, dir)
      .select(col("doc_id"), posexplode(array((0 until 4).map(bandHash): _*)))
      .toDF("doc_id", "band", "bh")

  def minhashCandidates(spark: SparkSession, dir: String): DataFrame = {
    val bands = minhashBands(spark, dir)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
  }

  /** The `sh`/`hx`/`sig`/`bands` CTE chain shared by every MinHash oracle
    * (q52, q52b, q115): DuckDB recomputes the identical signature + banding
    * pipeline the Spark side memoizes. */
  private val minhashBandsCte = {
    val sigExprs = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * x + $b) % $P) AS m$i"
    }.mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (0 until 4).map(j => s"m${4 * b + j}").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', $cols)) AS bh FROM sig"
    }.mkString(" UNION ALL ")
    s"""sh AS ($shinglesSql),
       |hx AS (SELECT doc_id, ${hashIntSql("s")} AS x FROM sh),
       |sig AS (SELECT doc_id, $sigExprs FROM hx GROUP BY doc_id),
       |bands AS ($bandSelects)""".stripMargin
  }

  private val minhashSql =
    s"""WITH $minhashBandsCte
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id""".stripMargin

  // ---- q52b: MinHash estimate accuracy ------------------------------------

  /** q52b: per q52 candidate pair, the MinHash Jaccard ESTIMATE (fraction
    * of the 16 signature slots that agree — the statistic LSH actually
    * thresholds) next to the exact n-gram Jaccard — the q47b/q61b/q64
    * accuracy-companion pattern applied to MinHash: both columns are
    * value-pinned by the oracle (identical deterministic pipelines in both
    * engines), so any drift in the signature math or the banding
    * hash-fails, and the sketch's real error on this corpus is a visible
    * number instead of folklore. Both fractions are single IEEE divisions
    * of exact integers (n_match/16 is even dyadic — exact); the exact side
    * joins full shingle sets ONLY for the banded candidate pairs, so the
    * pair-bounded cost shape survives scale. */
  def minhashAccuracy(spark: SparkSession, dir: String): DataFrame = {
    val cand = minhashCandidates(spark, dir)
    val sig = minhashSig(spark, dir)
    val s1 = sig.select(col("doc_id").as("d1") +:
      (0 until 16).map(i => col(s"m$i").as(s"a$i")): _*)
    val s2 = sig.select(col("doc_id").as("d2") +:
      (0 until 16).map(i => col(s"m$i").as(s"b$i")): _*)
    val nMatch = (0 until 16)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cand.join(s1, "d1").join(s2, "d2")
      .select(col("d1"), col("d2"), nMatch.as("n_match"))
    val sh = shingleIndex(spark, dir)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val com = cand
      .join(sh.select(col("doc_id").as("d1"), col("h")), "d1")
      .join(sh.select(col("doc_id").as("dd2"), col("h").as("h2")),
        col("d2") === col("dd2") && col("h") === col("h2"))
      .groupBy(col("d1"), col("d2")).agg(count(lit(1)).as("c"))
    val cc = coalesce(col("c"), lit(0L))
    est
      .join(com, Seq("d1", "d2"), "left")
      .join(sz.select(col("doc_id").as("d1"), col("n").as("n1")), "d1")
      .join(sz.select(col("doc_id").as("d2"), col("n").as("n2")), "d2")
      .select(col("d1"), col("d2"), col("n_match"),
        (col("n_match").cast("double") / 16).as("jac_est"),
        (cc.cast("double") / (col("n1") + col("n2") - cc)).as("jac_exact"))
  }

  private val minhashAccuracySql = {
    val sigExprs = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a * x + $b) % $P) AS m$i"
    }.mkString(", ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (0 until 4).map(j => s"m${4 * b + j}").mkString(", ")
      s"SELECT doc_id, $b AS band, md5(concat_ws('_', $cols)) AS bh FROM sig"
    }.mkString(" UNION ALL ")
    val matchSum = (0 until 16)
      .map(i => s"CASE WHEN s1.m$i = s2.m$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH sh0 AS ($shinglesSql),
       |hx AS (SELECT doc_id, ${hashIntSql("s")} AS x FROM sh0),
       |sig AS (SELECT doc_id, $sigExprs FROM hx GROUP BY doc_id),
       |bands AS ($bandSelects),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |dx AS (SELECT DISTINCT doc_id, x FROM hx),
       |sz AS (SELECT doc_id, count(*) AS n FROM dx GROUP BY doc_id),
       |com AS (
       |  SELECT c.d1, c.d2, count(*) AS cc
       |  FROM cand c
       |  JOIN dx a ON a.doc_id = c.d1
       |  JOIN dx b ON b.doc_id = c.d2 AND b.x = a.x
       |  GROUP BY 1, 2),
       |est AS (
       |  SELECT c.d1, c.d2, $matchSum AS n_match
       |  FROM cand c
       |  JOIN sig s1 ON s1.doc_id = c.d1
       |  JOIN sig s2 ON s2.doc_id = c.d2)
       |SELECT e.d1, e.d2, CAST(e.n_match AS BIGINT) AS n_match,
       |  CAST(e.n_match AS DOUBLE) / 16 AS jac_est,
       |  CAST(COALESCE(com.cc, 0) AS DOUBLE)
       |    / (x.n + y.n - COALESCE(com.cc, 0)) AS jac_exact
       |FROM est e
       |LEFT JOIN com ON com.d1 = e.d1 AND com.d2 = e.d2
       |JOIN sz x ON x.doc_id = e.d1
       |JOIN sz y ON y.doc_id = e.d2""".stripMargin
  }

  // ---- q53: SimHash fingerprints -----------------------------------------

  /** 64-bit SimHash (the published Manku/Google width). Per-token bits come
    * from TWO 60-bit md5 prefixes — hex digits 1-15 supply fingerprint bits
    * 0-59, hex digits 16-30 supply bits 60-63 — so both engines derive the
    * identical bit stream with only `conv`/`::BIGINT` arithmetic. Bit 63 is
    * recombined as Long.MinValue (the only power of two that is negative in
    * a signed 64-bit word); the addition chain runs bits ascending, so every
    * partial sum stays representable (<= 2^63-1 before the final signed
    * term) — no overflow under ANSI arithmetic in either engine. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables(spark, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .where(col("t") =!= "")
      .select(col("doc_id"),
        conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("x1"),
        conv(substring(md5(col("t")), 16, 15), 16, 10).cast("long").as("x2"))
    val bitSums = (0 until 64).map { j =>
      val src = if (j < 60) shiftright(col("x1"), j)
                else shiftright(col("x2"), j - 60)
      sum(when(src % 2 === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val recombined = (0 until 64)
      .map(j => when(col(s"b$j") > 0,
        lit(if (j < 63) 1L << j else Long.MinValue)).otherwise(0L))
      .reduce(_ + _)
    toks.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"), recombined.as("simhash"))
  }

  private val simhashSql = {
    val bitSums = (0 until 64)
      .map { j =>
        val src = if (j < 60) s"(x1 >> $j)" else s"(x2 >> ${j - 60})"
        s"sum(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) AS b$j"
      }
      .mkString(", ")
    // DuckDB parses the bit-63 literal as HUGEINT; the ascending chain is
    // promoted and the final CAST back to BIGINT is exact (bits set once).
    val recombined = (0 until 64)
      .map(j => s"CASE WHEN b$j > 0 THEN " +
        (if (j < 63) (1L << j).toString else "-9223372036854775807 - 1") +
        " ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    ('0x' || substr(md5(t), 1, 15))::BIGINT AS x1,
       |    ('0x' || substr(md5(t), 16, 15))::BIGINT AS x2
       |  FROM (
       |    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
       |  WHERE t <> ''),
       |bits AS (SELECT doc_id, $bitSums FROM toks GROUP BY doc_id)
       |SELECT doc_id, CAST($recombined AS BIGINT) AS simhash FROM bits""".stripMargin
  }

  // ---- q77: benchmark decontamination (anti-join on shingle hashes) ------

  /** Decontamination: drop every training document that shares ANY 3-token
    * shingle with the held-out set (here: doc_id % 100 == 0 stands in for
    * the benchmark corpus). One `left_anti` join on the 8-byte shingle
    * hash — the contaminated-doc set is derived without materializing
    * pairs, and at 100 TB the held-out shingle side is small enough to
    * broadcast, so decontamination costs one corpus scan. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir)
      .select(col("doc_id"), hashInt(col("s")).as("h"))
    val heldOut = sh.where(col("doc_id") % 100 === 0)
      .select(col("h")).distinct()
    val contaminated = sh.where(col("doc_id") % 100 =!= 0)
      .join(broadcast(heldOut), "h")
      .select(col("doc_id")).distinct()
    Tables(spark, dir, "documents")
      .where(col("doc_id") % 100 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
  }

  // ---- q102: graded contamination scoring --------------------------------

  /** Graded decontamination: per training document, the FRACTION of its
    * distinct shingles that appear anywhere in the held-out set — the
    * overlap metric real pipelines threshold (a doc quoting one common
    * phrase is not the same as a verbatim benchmark copy; q77's binary
    * any-overlap drop is the conservative special case). Same cost shape
    * as q77: held-out shingle hashes broadcast, one corpus scan, then a
    * per-doc partial-agg count — the fraction is a single IEEE division of
    * two exact integers and the `contaminated` flag (> 5% overlap) is the
    * integer comparison n_overlap·20 > n_shingles, so both are
    * engine-exact. */
  def contaminationScore(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingles(spark, dir)
      .select(col("doc_id"), hashInt(col("s")).as("h"))
    val heldOut = sh.where(col("doc_id") % 100 === 0)
      .select(col("h")).distinct()
      .withColumn("hit", lit(1))
    sh.where(col("doc_id") % 100 =!= 0)
      .join(broadcast(heldOut), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_overlap"))
      .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_shingles")).as("overlap_frac"),
        (col("n_overlap") * 20L > col("n_shingles")).as("contaminated"))
  }

  private val contaminationScoreSql =
    s"""WITH sh AS (
       |  SELECT doc_id, ${hashIntSql("s")} AS h FROM ($shinglesSql)),
       |held AS (SELECT DISTINCT h FROM sh WHERE doc_id % 100 = 0)
       |SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(count(held.h) AS BIGINT) AS n_overlap,
       |  CAST(count(held.h) AS DOUBLE) / count(*) AS overlap_frac,
       |  count(held.h) * 20 > count(*) AS contaminated
       |FROM sh s LEFT JOIN held ON s.h = held.h
       |WHERE s.doc_id % 100 <> 0
       |GROUP BY s.doc_id""".stripMargin

  private val decontaminateSql =
    s"""WITH sh AS (
       |  SELECT doc_id, ${hashIntSql("s")} AS h FROM ($shinglesSql)),
       |held AS (SELECT DISTINCT h FROM sh WHERE doc_id % 100 = 0),
       |contaminated AS (
       |  SELECT DISTINCT s.doc_id FROM sh s JOIN held ON s.h = held.h
       |  WHERE s.doc_id % 100 <> 0)
       |SELECT d.doc_id, d.lang, d.source FROM documents d
       |WHERE d.doc_id % 100 <> 0
       |  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin

  // ---- q67: Bloom-filter decontamination ---------------------------------

  /** Decontamination through a Bloom filter of the held-out shingle set —
    * the space-bounded scale path for q77: the exact broadcast set costs
    * 8 bytes per held-out shingle (gigabytes when the held-out corpus is
    * large), while the Bloom filter's size depends only on |held| and the
    * target fpp and stays in the megabytes. The trade is one-sided error:
    * NO contaminated document ever escapes (a Bloom filter has no false
    * negatives — `bloom_catches_all` asserts it against the exact ground
    * truth), and a bounded handful of clean documents are over-dropped
    * (`bloom_fp_bounded`; shingle-level fpp 1e-4 → ~1-2% doc-level with
    * ~100-200 shingles/doc, gated at 5%). The filter build is the native
    * `BloomFilterAggregate` (partial per-partition filters, bit-OR merge —
    * the same expression Spark's runtime join filtering injects); the
    * collected binary is a fixed-size driver object like a broadcast dim,
    * and the probe is the codegen'd `might_contain` against that constant
    * — zero Scala UDFs. Both sides hash with fixed-seed Murmur3 and bit-OR
    * is order-independent, so the flagged set is deterministic.
    *
    * SCALE-VALIDATED gates: `bloom_catches_all` / `bloom_fp_bounded` are
    * pinned TRUE by the oracle. `bloom_catches_all` is a THEOREM (no false
    * negatives) — holds at any sf. `bloom_fp_bounded` is empirical:
    * measured over-drop is ~1-2% of train docs at sf0.001/sf0.01/sf0.1
    * against the 5% bound, and the filter is sized from the ACTUAL held
    * count at the queried sf, so the shingle-level fpp (1e-4) — and hence
    * the doc-level over-drop rate — does not grow with scale. Re-measure
    * rule: when a new sf is added, run q67 there once and confirm
    * (n_flagged − n_contaminated)/n_train stays well under 0.05 before
    * trusting the gate; if a corpus with far longer documents (more
    * shingles/doc multiplies doc-level fpp) ever breaks it, tighten the
    * build fpp, not the gate. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    // Materialize the shingle index once: it feeds five consumers (held
    // count, bloom build, exact ground truth, bloom probe, missed/flagged
    // counts) — without this the explode pipeline re-runs per action, the
    // same reason cappedShingles checkpoints.
    val sh = shingles(spark, dir)
      .select(col("doc_id"), hashInt(col("s")).as("h"))
      .localCheckpoint()
    val held = sh.where(col("doc_id") % 100 === 0)
      .select(col("h")).distinct()
    val train = sh.where(col("doc_id") % 100 =!= 0)
    val exactContaminated = train.join(broadcast(held), "h")
      .select(col("doc_id")).distinct()
    // ONE action builds the filter AND counts the held set: the build is
    // sized by a conservative static estimate (64k distinct shingle hashes
    // covers 1% held-out splits well past sf1; ~160 KB serialized at
    // fpp 1e-4 — broadcast-literal scale), and the count comes back in the
    // same aggregate row. Only if the estimate is actually exceeded —
    // where the fpp guarantee would silently degrade — does a second,
    // exactly-sized build pass run (the old always-two-action shape).
    val estHeld = 64L * 1024
    val firstPass = held
      .agg(graft.functions.bloom_filter_agg(col("h"), estHeld, 1e-4).as("bf"),
        count(lit(1)).as("n_held"))
      .head()
    val bfBytes =
      if (firstPass.getAs[Long]("n_held") <= estHeld)
        firstPass.getAs[Array[Byte]]("bf")
      else held
        .agg(graft.functions.bloom_filter_agg(
          col("h"), firstPass.getAs[Long]("n_held"), 1e-4).as("bf"))
        .head().getAs[Array[Byte]]("bf")
    val flagged = train
      .where(graft.functions.might_contain(lit(bfBytes), col("h")))
      .select(col("doc_id")).distinct()
    val nTrain = Tables(spark, dir, "documents")
      .where(col("doc_id") % 100 =!= 0)
      .agg(count(lit(1)).as("n_train"))
    val nExact = exactContaminated.agg(count(lit(1)).as("n_contaminated"))
    val nMissed = exactContaminated
      .join(flagged, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_missed"))
    val nFlagged = flagged.agg(count(lit(1)).as("n_flagged"))
    nTrain.crossJoin(broadcast(nExact))
      .crossJoin(broadcast(nMissed))
      .crossJoin(broadcast(nFlagged))
      .select(col("n_train"), col("n_contaminated"),
        (col("n_missed") === 0L).as("bloom_catches_all"),
        ((col("n_flagged") - col("n_contaminated")).cast("double") <=
          col("n_train").cast("double") * 0.05).as("bloom_fp_bounded"))
  }

  private val bloomDecontaminateSql =
    s"""WITH sh AS (
       |  SELECT doc_id, ${hashIntSql("s")} AS h FROM ($shinglesSql)),
       |held AS (SELECT DISTINCT h FROM sh WHERE doc_id % 100 = 0),
       |contaminated AS (
       |  SELECT DISTINCT s.doc_id FROM sh s JOIN held ON s.h = held.h
       |  WHERE s.doc_id % 100 <> 0)
       |SELECT
       |  CAST((SELECT count(*) FROM documents WHERE doc_id % 100 <> 0)
       |    AS BIGINT) AS n_train,
       |  CAST((SELECT count(*) FROM contaminated) AS BIGINT) AS n_contaminated,
       |  TRUE AS bloom_catches_all, TRUE AS bloom_fp_bounded""".stripMargin

  // ---- q56: SimHash near-dup pairs (banded Hamming join) -----------------

  /** Per-band bucket-membership cap for the SimHash band self-join: a band
    * value shared by k docs contributes k^2/2 candidate rows, so one
    * degenerate bucket (e.g. a boilerplate-dominated corpus slice that
    * collapses to one band value) would go quadratic. Buckets with more
    * than [[maxBandBucket]] members are dropped before the join — the same
    * bound (and the same broadcast left_anti shape) as q51's shingle-df
    * cap. The hot-bucket set is tiny by construction. */
  val maxBandBucket = 128

  /** (doc_id, simhash, band, bits) with 4 bands of 16 bits and hot buckets
    * removed — exposed for the spec that asserts the cap holds. With 2^16
    * bucket values per band, expected occupancy is N/65536 per bucket (vs
    * N/64 with the old 16-bit fingerprint's 6-bit bands — the r2 verdict's
    * scale-killer); the cap bounds the worst case. The fingerprint table is
    * checkpointed once: it is consumed three times (hot-bucket count + both
    * join sides) and is 4 fixed-width rows per doc — a fingerprint index,
    * not the corpus. */
  private[graft] def cappedSimhashBands(spark: SparkSession, dir: String): DataFrame = {
    val bandVals = (0 until 4).map(i =>
      shiftright(col("simhash"), i * 16).bitwiseAND(lit(65535L)))
    val bands = simhash(spark, dir)
      .select(col("doc_id"), col("simhash"), posexplode(array(bandVals: _*)))
      .toDF("doc_id", "simhash", "band", "bits")
      .localCheckpoint()
    val hot = bands.groupBy(col("band"), col("bits"))
      .agg(count(lit(1)).as("n")).where(col("n") > maxBandBucket)
      .select(col("band"), col("bits"))
    bands.join(broadcast(hot), Seq("band", "bits"), "left_anti")
  }

  /** Near-dup pairs from 64-bit SimHash fingerprints: Hamming distance <= 3
    * (the published 64-bit/k=3 operating point). Banding makes it scale:
    * split the print into 4 bands of 16 bits — any pair within distance 3
    * leaves at least one band intact (pigeonhole), so candidates come from
    * equi-joins on (band id, band bits), never an all-pairs scan; the exact
    * `bit_count(xor)` test then filters. Same LSH-shaped cost model as q52:
    * shuffle on band buckets, pair work bucket-local, bucket size capped. */
  def simhashPairs(spark: SparkSession, dir: String): DataFrame = {
    val bands = cappedSimhashBands(spark, dir)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .where(col("hamming") <= 3)
      .distinct()
  }

  private val simhashPairsSql = {
    val bandSelects = (0 until 4)
      .map(i => s"SELECT doc_id, simhash, $i AS band, " +
        s"(simhash >> ${i * 16}) & 65535 AS bits FROM fp")
      .mkString(" UNION ALL ")
    s"""WITH fp AS ($simhashSql),
       |allbands AS ($bandSelects),
       |hot AS (SELECT band, bits FROM allbands
       |  GROUP BY band, bits HAVING count(*) > $maxBandBucket),
       |bands AS (SELECT * FROM allbands ab WHERE NOT EXISTS (
       |  SELECT 1 FROM hot h WHERE h.band = ab.band AND h.bits = ab.bits))
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.bits = b.bits AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin
  }

  // ---- q55: duplicate clusters (connected components) --------------------

  /** Connected components over the MinHash candidate-pair graph — the
    * clustering step after near-dup candidate generation (each cluster
    * keeps one representative). Iterative min-label propagation: every
    * node starts labelled with itself; each round takes the min of its own
    * and its neighbors' labels; fixpoint in O(component diameter) rounds.
    * Each round is one join + one aggregation — the Pregel/GraphX shape,
    * all data-parallel, nothing driver-side except the convergence check
    * (a count, not a collect). LSH keeps components tiny, so the loop
    * converges in a handful of rounds at any corpus size. */
  /** The component map is deterministic per (session, dataset) and consumed
    * by three registry entries (q55, q57, q99) — memoize the checkpointed
    * result (via [[Memo]]) so the candidate pipeline and label-propagation
    * loop run once per session, exactly as a pipeline would materialize the
    * cluster map once and join it everywhere. */

  /** [[Memo.clear]] under its older name, which perfbench's harness
    * calls between passes. */
  private[graft] def clearCcCache(): Unit = Memo.clear()

  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    Memo("cc", spark, dir)(computeDupClusters(spark, dir))

  private def computeDupClusters(spark: SparkSession, dir: String): DataFrame = {
    // Every iteration output is localCheckpoint'd: iterative plans otherwise
    // DOUBLE in size per round (the pointer-jump self-join references the
    // round's frame twice), and Catalyst analysis cost grows exponentially
    // even when the data is cached. Checkpointing flattens each round to a
    // LogicalRDD — O(1) plan size per round, and the candidate pipeline is
    // materialized exactly once. (On a cluster this is `checkpoint()` to
    // reliable storage; same contract.)
    val pairs = minhashCandidates(spark, dir).localCheckpoint()
    val edges = pairs.select(col("d1").as("a"), col("d2").as("b"))
      .union(pairs.select(col("d2").as("a"), col("d1").as("b")))
      .localCheckpoint()
    var labels = edges.select(col("a").as("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    // Convergence witness: sum(label) strictly decreases every round that
    // changes anything (labels only ever decrease), so one cheap aggregate
    // replaces a join-based changed-row check.
    def labelSum(df: DataFrame): Long =
      df.agg(sum(col("label"))).head().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      // (1) neighbor-min: each node takes the min of its own and its
      // neighbors' labels; (2) pointer jumping: then each node re-labels to
      // its label's label — halves chain lengths, so rounds = O(log n)
      // instead of O(diameter) even on path-shaped components.
      val nbrMin = edges.join(labels, col("b") === col("node"))
        .groupBy(col("a")).agg(min(col("label")).as("nbr"))
      val stepped = labels.join(nbrMin, col("node") === col("a"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
      val next = stepped.as("x")
        .join(stepped.select(col("node").as("pnode"), col("label").as("plabel")),
          col("x.label") === col("pnode"), "left")
        .select(col("x.node").as("node"),
          least(col("x.label"), coalesce(col("plabel"), col("x.label")))
            .as("label"))
        .localCheckpoint()
      val s = labelSum(next)
      converged = s == prevSum
      prevSum = s
      labels = next
    }
    labels.select(col("node").as("doc_id"), col("label").as("component"))
  }

  // ---- q208: CC by large-star/small-star (the q55 scale twin) -------------

  /** q208: the q55 duplicate clusters recomputed by the ALTERNATING
    * LARGE-STAR/SMALL-STAR algorithm ([[Graph.ccStarWithRounds]]) —
    * O(log n) rounds for ANY component shape where min-label propagation
    * needs O(diameter). On LSH candidate graphs the components are tiny
    * and both are fast; the star path is what survives when a pathological
    * near-dup chain (template pages each one edit apart) strings thousands
    * of documents into one long component. Same output contract as q55 —
    * (doc_id, component-minimum) for every doc in a candidate pair — so
    * the SAME recursive-CTE oracle grades both implementations, and
    * `GraphSpec` additionally pins the logarithmic round count on a
    * 256-node path graph (8 rounds, where propagation needs 255). */
  def dupClustersStar(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashCandidates(spark, dir)
      .select(col("d1").as("a"), col("d2").as("b"))
    Graph.ccStar(pairs)
      .select(col("node").as("doc_id"), col("label").as("component"))
  }

  private val dupClustersSql =
    s"""WITH RECURSIVE cand AS ($minhashSql),
       |edges AS (
       |  SELECT d1 AS a, d2 AS b FROM cand
       |  UNION SELECT d2 AS a, d1 AS b FROM cand),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
       |SELECT a AS doc_id, least(a, min(b)) AS component
       |FROM reach GROUP BY a""".stripMargin

  /** The q52 candidate SQL, for composition into the q99 pipeline oracle. */
  private[queries] def minhashOracleSql: String = minhashSql

  // ---- q57: keep-best representative per duplicate cluster ----------------

  /** Quality-aware representative selection: per q55 component, keep the
    * member with the most tokens (tie -> smallest doc_id) instead of the
    * smallest id — real pipelines keep the best copy, not an arbitrary one.
    * The ordering key is an exact integer composite so argmax is
    * deterministic in both engines. Docs outside any candidate pair are
    * their own singleton cluster. */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val nTokens = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val comp = dupClusters(spark, dir)
    val ordKey = col("n_tokens") * lit(10000000000L) - col("doc_id")
    nTokens.join(comp, Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .groupBy(col("component"))
      .agg(max_by(col("doc_id"), ordKey).as("keep_id"),
        count(lit(1)).as("n_members"),
        max(col("n_tokens")).as("best_tokens"))
  }

  private val keepBestSql =
    s"""WITH RECURSIVE cand AS ($minhashSql),
       |edges AS (
       |  SELECT d1 AS a, d2 AS b FROM cand
       |  UNION SELECT d2 AS a, d1 AS b FROM cand),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (
       |  SELECT a AS doc_id, least(a, min(b)) AS component
       |  FROM reach GROUP BY a),
       |toks AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT)
       |    AS n_tokens FROM documents)
       |SELECT coalesce(c.component, t.doc_id) AS component,
       |  arg_max(t.doc_id, t.n_tokens * 10000000000 - t.doc_id) AS keep_id,
       |  count(*) AS n_members,
       |  max(t.n_tokens) AS best_tokens
       |FROM toks t LEFT JOIN comp c ON t.doc_id = c.doc_id
       |GROUP BY 1""".stripMargin

  // ---- q103: duplicate-span detection ------------------------------------

  /** Positional 3-word shingles: one row per (doc, position), NOT distinct —
    * q103 needs every occurrence with its offset to locate duplicated runs.
    * Same hash as [[shingles]] so both engines agree bit-for-bit. */
  private def posShingles(spark: SparkSession, dir: String): DataFrame =
    // shingle explode + md5 fuse onto the scan — rebalance the
    // unsplittable single-file input first (guide §2.5, no-op on
    // multi-split inputs); shared by the winnow/span families
    Tables.spread(spark, dir, "documents",
        Tables(spark, dir, "documents").select(col("doc_id"), col("text")))
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .where(size(col("w")) >= 3)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(w) - 3), " +
          "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))")))
      .select(col("doc_id"), col("pos"), hashInt(col("col")).as("h"))

  /** DuckDB equivalent of [[posShingles]] (struct unnest carries the
    * 0-based position alongside the shingle hash). */
  private val posShinglesSql =
    s"""SELECT doc_id, u.p AS pos, u.h AS h FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
       |    i -> {'p': i - 1,
       |          'h': ${hashIntSql("w[i] || ' ' || w[i+1] || ' ' || w[i+2]")}})) AS u
       |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
       |  WHERE len(w) >= 3)""".stripMargin

  /** A duplicated span of >= [[minDupRun]] consecutive shingle positions
    * (i.e. minDupRun + 2 consecutive tokens) flags the document for
    * span-level dedup. */
  val minDupRun = 8

  /** q103: exact duplicate-SPAN detection — the substring-level view of
    * dedup (Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): a document is problematic not only when it is a whole-text
    * near-copy (q51-q56) but when any long run of its tokens appears
    * verbatim elsewhere in the corpus (license boilerplate, quoted articles,
    * templated spans). Per document: total shingle positions, how many sit
    * on a shingle shared with ANOTHER doc, the longest CONSECUTIVE such run
    * (gaps-and-islands: pos - row_number over duplicated positions is
    * constant within a run), and a flag when that run reaches [[minDupRun]].
    *
    * Scale shape: the duplicated-shingle set is derived from distinct
    * (doc, hash) pairs — one hash-key agg; membership is a shuffle join on
    * the 8-byte hash (NOT broadcast: at corpus scale the shared-shingle set
    * is itself huge); the run analysis is one window per doc partition.
    * Nothing is quadratic — no doc-pair space is ever materialized, which
    * is exactly why span-level dedup scales where pairwise methods need
    * sketches. */
  /** Positional shingles with a `dup` mark on every position whose shingle
    * appears in >= 2 distinct docs — the shared input of q103/q103b/q110,
    * memoized per (session, sf) with the [[Memo]] lifecycle: the index is
    * checkpointed once and the three span queries (plus both consumers
    * inside each) read the materialized form. On a cluster this is a
    * persisted/checkpointed position index shared across the job DAG. */
  private def markedDupPositions(spark: SparkSession, dir: String): DataFrame =
    Memo("spans", spark, dir) {
      val ps = posShingles(spark, dir).localCheckpoint()
      val shared = ps.select(col("doc_id"), col("h")).distinct()
        .groupBy(col("h")).agg(count(lit(1)).as("ndocs"))
        .where(col("ndocs") >= 2)
        .select(col("h"), lit(1).as("dup"))
      ps.join(shared, Seq("h"), "left").localCheckpoint()
    }

  /** Duplicated-position runs (gaps-and-islands) per doc: one row per
    * maximal consecutive run, with its start offset and length. */
  private def dupRuns(marked: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    marked.where(col("dup") === 1)
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(count(lit(1)).as("run"), min(col("pos")).cast("long").as("span_start"))
  }

  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val marked = markedDupPositions(spark, dir)
    val totals = marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_pos"), count(col("dup")).as("n_dup"))
    val runs = dupRuns(marked)
      .groupBy(col("doc_id")).agg(max(col("run")).as("max_run"))
    totals.join(runs, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_pos"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_pos")).as("dup_frac"),
        coalesce(col("max_run"), lit(0L)).as("max_run"),
        (coalesce(col("max_run"), lit(0L)) >= minDupRun).as("flagged"))
  }

  /** q103b: the ACTIONABLE form of q103 — one row per duplicated span of
    * >= [[minDupRun]] shingle positions, with its token offset and length,
    * so a curation pipeline can CUT the span (Lee et al. remove the
    * duplicated substring, not the document) instead of dropping the doc.
    * `span_start` is the 0-based token offset of the run's first shingle;
    * `n_tokens` = run + 2 is the length of the duplicated token stretch. */
  def dupSpanExtract(spark: SparkSession, dir: String): DataFrame =
    dupRuns(markedDupPositions(spark, dir))
      .where(col("run") >= minDupRun)
      .select(col("doc_id"), col("span_start"),
        col("run").as("n_shingles"), (col("run") + 2L).as("n_tokens"))

  /** Shared CTE prefix of the q103/q103b oracles: positions marked dup. */
  private val dupMarkedCtes =
    s"""ps AS ($posShinglesSql),
       |shared AS (
       |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM ps)
       |  GROUP BY h HAVING count(*) >= 2),
       |marked AS (
       |  SELECT ps.doc_id, ps.pos, s.h IS NOT NULL AS dup
       |  FROM ps LEFT JOIN shared s ON ps.h = s.h)""".stripMargin

  private val dupSpansSql =
    s"""WITH $dupMarkedCtes,
       |totals AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pos,
       |    CAST(count(CASE WHEN dup THEN 1 END) AS BIGINT) AS n_dup
       |  FROM marked GROUP BY doc_id),
       |runs AS (
       |  SELECT doc_id, max(run) AS max_run FROM (
       |    SELECT doc_id, island, CAST(count(*) AS BIGINT) AS run FROM (
       |      SELECT doc_id, pos,
       |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
       |          AS island
       |      FROM marked WHERE dup)
       |    GROUP BY doc_id, island)
       |  GROUP BY doc_id)
       |SELECT t.doc_id, t.n_pos, t.n_dup,
       |  CAST(t.n_dup AS DOUBLE) / t.n_pos AS dup_frac,
       |  coalesce(r.max_run, 0) AS max_run,
       |  coalesce(r.max_run, 0) >= $minDupRun AS flagged
       |FROM totals t LEFT JOIN runs r ON t.doc_id = r.doc_id""".stripMargin

  private val dupSpanExtractSql =
    s"""WITH $dupMarkedCtes,
       |islands AS (
       |  SELECT doc_id, island, CAST(count(*) AS BIGINT) AS run,
       |    CAST(min(pos) AS BIGINT) AS span_start FROM (
       |    SELECT doc_id, pos,
       |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
       |        AS island
       |    FROM marked WHERE dup)
       |  GROUP BY doc_id, island)
       |SELECT doc_id, span_start, run AS n_shingles, run + 2 AS n_tokens
       |FROM islands WHERE run >= $minDupRun""".stripMargin

  // ---- q113: per-source duplication dashboard ------------------------------

  /** q113: the per-source DUPLICATION DASHBOARD — for every source: doc
    * count, how many docs are exact duplicates (share a text fingerprint
    * with any other doc), how many sit in at least one MinHash-LSH
    * candidate pair, and the two rates. This is the rollup a mixture
    * pipeline reads before weighting sources: a source that is 40%
    * duplicated contributes far fewer effective tokens than its raw count
    * suggests. Cost: the q50 fingerprint agg + the q52 candidate pipeline
    * (both already scale-shaped) + two semi-join flags + one per-source
    * agg; rates are single IEEE divisions of exact integers. */
  def sourceQuality(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        md5(lower(trim(col("text")))).as("fp"))
    val dupFp = docs.groupBy(col("fp")).agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select(col("fp"))
    val cand = minhashCandidates(spark, dir)
    val nearIds = cand.select(col("d1").as("doc_id"))
      .union(cand.select(col("d2").as("doc_id"))).distinct()
    docs
      .join(dupFp.withColumn("is_exact", lit(1)), Seq("fp"), "left")
      .join(nearIds.withColumn("is_near", lit(1)), Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("is_exact")).as("n_exact_dup"),
        count(col("is_near")).as("n_near_dup"))
      .select(col("source"), col("n_docs"), col("n_exact_dup"),
        col("n_near_dup"),
        (col("n_exact_dup").cast("double") / col("n_docs")).as("exact_rate"),
        (col("n_near_dup").cast("double") / col("n_docs")).as("near_rate"))
  }

  private def sourceQualitySql =
    s"""WITH cand AS ($minhashSql),
       |d AS (SELECT doc_id, source, md5(lower(trim(text))) AS fp
       |      FROM documents),
       |dupfp AS (SELECT fp FROM d GROUP BY fp HAVING count(*) > 1),
       |near AS (SELECT d1 AS doc_id FROM cand
       |         UNION SELECT d2 AS doc_id FROM cand)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(count(CASE WHEN d.fp IN (SELECT fp FROM dupfp) THEN 1 END)
       |    AS BIGINT) AS n_exact_dup,
       |  CAST(count(n.doc_id) AS BIGINT) AS n_near_dup,
       |  CAST(count(CASE WHEN d.fp IN (SELECT fp FROM dupfp) THEN 1 END)
       |    AS DOUBLE) / count(*) AS exact_rate,
       |  CAST(count(n.doc_id) AS DOUBLE) / count(*) AS near_rate
       |FROM d LEFT JOIN near n ON d.doc_id = n.doc_id
       |GROUP BY d.source""".stripMargin

  // ---- q114: effective token accounting ------------------------------------

  /** q114: EFFECTIVE-TOKEN accounting per source — raw token count, tokens
    * surviving exact dedup (q50's keep-min representative per text
    * fingerprint), and tokens surviving near-dup clustering (q57's
    * quality-aware keep-best per connected component). Raw counts overstate
    * a duplicated source's contribution; the effective number is what
    * mixture weighting should divide by. All three sums are exact integers
    * over the same one-pass token-length projection; the keep sets are the
    * (already scale-shaped, memoized) q50/q55/q57 pipelines joined back by
    * doc id. */
  def effectiveTokens(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val exactKeep = exact(spark, dir)
      .select(col("keep_id").as("doc_id"), lit(1).as("ek"))
    val nearKeep = keepBest(spark, dir)
      .select(col("keep_id").as("doc_id"), lit(1).as("nk"))
    docs
      .join(exactKeep, Seq("doc_id"), "left")
      .join(nearKeep, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("raw_tokens"),
        sum(when(col("ek") === 1, col("n_tokens")).otherwise(0L))
          .as("exact_tokens"),
        sum(when(col("nk") === 1, col("n_tokens")).otherwise(0L))
          .as("effective_tokens"))
  }

  private def effectiveTokensSql =
    s"""WITH keepbest AS ($keepBestSql),
       |d AS (
       |  SELECT doc_id, source,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
       |  FROM documents),
       |ek AS (SELECT min(doc_id) AS doc_id
       |       FROM (SELECT md5(lower(trim(text))) AS fp, doc_id
       |             FROM documents) GROUP BY fp),
       |nk AS (SELECT DISTINCT keep_id AS doc_id FROM keepbest)
       |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(d.n_tokens) AS BIGINT) AS raw_tokens,
       |  CAST(sum(CASE WHEN ek.doc_id IS NOT NULL THEN d.n_tokens ELSE 0 END)
       |    AS BIGINT) AS exact_tokens,
       |  CAST(sum(CASE WHEN nk.doc_id IS NOT NULL THEN d.n_tokens ELSE 0 END)
       |    AS BIGINT) AS effective_tokens
       |FROM d LEFT JOIN ek ON d.doc_id = ek.doc_id
       |       LEFT JOIN nk ON d.doc_id = nk.doc_id
       |GROUP BY d.source""".stripMargin

  // ---- q110: surgical span removal ----------------------------------------

  /** q110: the CUT step of span-level dedup — rebuild every document's text
    * with its q103b duplicated spans removed (Lee et al. remove the
    * duplicated substring and keep the rest; dropping whole documents for
    * one boilerplate block wastes data). A span of n_shingles positions
    * starting at s covers tokens [s, s + n_shingles + 1]; tokens inside any
    * flagged span are filtered out with higher-order array functions (no
    * explode, no window — one projection per doc), documents without spans
    * pass through an anti-join branch untouched. Spans per doc are collected
    * as a set (order-irrelevant membership test), so the collect_list
    * shuffle-order nondeterminism cannot affect the output.
    *
    * Scale: q103b's cost + one groupBy over flagged spans (tiny), one join
    * of the span lists onto the doc scan keyed by doc_id, and a linear
    * token filter per doc — text is rewritten in a single pass and the
    * pair space stays un-materialized end to end. */
  def spanCut(spark: SparkSession, dir: String): DataFrame = {
    // The span-list table is consumed by BOTH branches (cut join + anti
    // join); without materialization the islands window would run twice.
    // It holds only flagged spans — tiny at any scale.
    val spans = dupSpanExtract(spark, dir)
      .select(col("doc_id"), struct(col("span_start").as("s"),
        (col("span_start") + col("n_shingles") + 1L).as("e")).as("sp"))
      .groupBy(col("doc_id")).agg(collect_list(col("sp")).as("spans"))
      .localCheckpoint()
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val cut = docs.join(spans, Seq("doc_id"))
      .withColumn("kept", expr(
        "filter(transform(w, (t, i) -> named_struct('t', t, 'i', " +
          "CAST(i AS BIGINT))), " +
          "p -> NOT exists(spans, sp -> p.i >= sp.s AND p.i <= sp.e))"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("n_before"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"),
        expr("concat_ws(' ', transform(kept, k -> k.t))").as("clean_text"))
    val untouched = docs.join(spans, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), size(col("w")).cast("long").as("n_before"),
        lit(0L).as("n_removed"),
        concat_ws(" ", col("w")).as("clean_text"))
    cut.unionByName(untouched)
  }

  private val spanCutSql =
    s"""WITH $dupMarkedCtes,
       |islands AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS run,
       |    CAST(min(pos) AS BIGINT) AS span_start FROM (
       |    SELECT doc_id, pos,
       |      pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
       |        AS island
       |    FROM marked WHERE dup)
       |  GROUP BY doc_id, island),
       |spans AS (
       |  SELECT doc_id,
       |    list({'s': span_start, 'e': span_start + run + 1}) AS spans
       |  FROM islands WHERE run >= $minDupRun GROUP BY doc_id),
       |docs AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |cut AS (
       |  SELECT d.doc_id, CAST(len(d.w) AS BIGINT) AS n_before,
       |    list_filter(list_transform(range(1, len(d.w) + 1),
       |      i -> {'t': d.w[i], 'i': i - 1}),
       |      p -> len(list_filter(s.spans,
       |        sp -> p.i >= sp.s AND p.i <= sp.e)) = 0) AS kept
       |  FROM docs d JOIN spans s ON d.doc_id = s.doc_id)
       |SELECT doc_id, n_before,
       |  n_before - CAST(len(kept) AS BIGINT) AS n_removed,
       |  -- coalesce: DuckDB's array_to_string of an EMPTY list is NULL,
       |  -- Spark's concat_ws is '' — a fully-cut doc must agree on ''
       |  coalesce(array_to_string(list_transform(kept, k -> k.t), ' '), '')
       |    AS clean_text
       |FROM cut
       |UNION ALL
       |SELECT doc_id, CAST(len(w) AS BIGINT) AS n_before,
       |  CAST(0 AS BIGINT) AS n_removed,
       |  array_to_string(w, ' ') AS clean_text
       |FROM docs WHERE doc_id NOT IN (SELECT doc_id FROM spans)""".stripMargin

  // ---- q112: winnowing fingerprints ---------------------------------------

  /** Winnowing window: each run of [[winnowW]] consecutive k-gram positions
    * contributes (at least) one selected fingerprint. */
  val winnowW = 4

  /** q112: WINNOWING document fingerprints (Schleimer, Wilkerson, Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
    * algorithm): slide a window of [[winnowW]] consecutive shingle hashes
    * over each document and select the window minimum, rightmost on ties;
    * identical selections from overlapping windows dedupe. Selection is
    * position-local, so two documents sharing a long span select the SAME
    * fingerprints from it — guaranteed-overlap matching at a fraction of
    * the positions (expected density 2/(w+1)), which is what q73/q74's
    * whole-doc fingerprints can't give.
    *
    * Shape: one shuffle to assemble each doc's sorted (pos, hash) array,
    * then a per-doc higher-order pass (windows × w comparisons, linear in
    * doc length) — no joins, no pair space. Both engines fold each window
    * left-to-right with the same tie rule, so the selected set is exact. */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame =
    // Memoized + checkpointed: the selection feeds q112 directly and is the
    // join input of q112b/q112c — three consumers, one winnowing pass.
    Memo("winnow", spark, dir) {
      val arr = posShingles(spark, dir)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("pos"), col("h")))).as("ph"))
        .where(size(col("ph")) >= winnowW)
      arr.select(col("doc_id"), explode(expr(
        s"""array_distinct(transform(sequence(0, size(ph) - $winnowW),
           |  i -> aggregate(slice(ph, i + 1, $winnowW),
           |         named_struct('pos', -1, 'h', 9223372036854775807L),
           |         (acc, x) -> CASE WHEN x.h < acc.h
           |             OR (x.h = acc.h AND x.pos > acc.pos)
           |           THEN x ELSE acc END)))""".stripMargin)).as("fp"))
        .select(col("doc_id"), col("fp.pos").cast("long").as("fp_pos"),
          col("fp.h").as("fp_h"))
        .localCheckpoint()
    }

  private val winnowSql =
    s"""WITH ps AS ($posShinglesSql),
       |arr AS (
       |  SELECT doc_id, list_sort(list({'pos': pos, 'h': h})) AS ph
       |  FROM ps GROUP BY doc_id HAVING count(*) >= $winnowW)
       |SELECT DISTINCT doc_id, u.pos AS fp_pos, u.h AS fp_h FROM (
       |  SELECT doc_id, unnest(list_transform(
       |    range(0, len(ph) - ${winnowW - 1}),
       |    i -> list_reduce(ph[i+1:i+$winnowW],
       |      (acc, x) -> CASE WHEN x.h < acc.h
       |          OR (x.h = acc.h AND x.pos > acc.pos)
       |        THEN x ELSE acc END))) AS u
       |  FROM arr)""".stripMargin

  // ---- q112b: winnow-based candidate pairs --------------------------------

  /** q112b: the MOSS MATCHING step — candidate pairs sharing >= 2 winnowed
    * fingerprints, ranked by shared count. Identical inverted-index shape
    * to q51's ground-truth join, but the index is the winnowed selection
    * (expected density 2/(w+1) ≈ 40% of positions, and far fewer DISTINCT
    * hashes after dedup) instead of every shingle — the scale argument for
    * winnowing: same guaranteed-overlap detection for long shared spans at
    * a fraction of the join input. Hot fingerprints are df-capped like
    * q51's shingles (same quadratic-bucket defense). */
  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val fp = winnowFingerprints(spark, dir)
      .select(col("doc_id"), col("fp_h").as("h")).distinct()
      .localCheckpoint()
    val hot = fp.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxShingleDf).select(col("h"))
    val capped = fp.join(broadcast(hot), Seq("h"), "left_anti")
    capped.as("a")
      .join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= 2)
  }

  private val winnowPairsSql =
    s"""WITH wfp AS ($winnowSql),
       |fp AS (SELECT DISTINCT doc_id, fp_h AS h FROM wfp),
       |hot AS (SELECT h FROM fp GROUP BY h HAVING count(*) > $maxShingleDf),
       |capped AS (SELECT * FROM fp WHERE h NOT IN (SELECT h FROM hot))
       |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared_fps
       |FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin

  // ---- q112c: match localization ------------------------------------------

  /** q112c: MOSS-style match LOCALIZATION — for every q112b candidate pair,
    * where the overlap sits: the count of shared fingerprint hashes and the
    * [min, max] fingerprint position of the shared region in EACH document
    * (matched fingerprints carry their positions, so the aligned region
    * bounds fall out of the same join that finds the pair — no extra scan).
    * This is what a review tool renders as highlighted spans; combined with
    * q103b offsets it feeds surgical cutting of cross-document overlap.
    * Cost: identical join to q112b plus four min/max aggregates. */
  def winnowMatches(spark: SparkSession, dir: String): DataFrame = {
    val fp = winnowFingerprints(spark, dir)
      .select(col("doc_id"), col("fp_h").as("h"), col("fp_pos")).distinct()
      .localCheckpoint()
    val hot = fp.select(col("doc_id"), col("h")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .where(col("df") > maxShingleDf).select(col("h"))
    val capped = fp.join(broadcast(hot), Seq("h"), "left_anti")
    capped.as("a")
      .join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(countDistinct(col("a.h")).as("shared_fps"),
        min(col("a.fp_pos")).as("d1_from"), max(col("a.fp_pos")).as("d1_to"),
        min(col("b.fp_pos")).as("d2_from"), max(col("b.fp_pos")).as("d2_to"))
      .where(col("shared_fps") >= 2)
  }

  private val winnowMatchesSql =
    s"""WITH wfp AS ($winnowSql),
       |fp AS (SELECT DISTINCT doc_id, fp_h AS h, fp_pos FROM wfp),
       |hot AS (
       |  SELECT h FROM (SELECT DISTINCT doc_id, h FROM fp)
       |  GROUP BY h HAVING count(*) > $maxShingleDf),
       |capped AS (SELECT * FROM fp WHERE h NOT IN (SELECT h FROM hot))
       |SELECT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(count(DISTINCT a.h) AS BIGINT) AS shared_fps,
       |  min(a.fp_pos) AS d1_from, max(a.fp_pos) AS d1_to,
       |  min(b.fp_pos) AS d2_from, max(b.fp_pos) AS d2_to
       |FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(DISTINCT a.h) >= 2""".stripMargin

  // ---- q112d: winnow recall vs exact Jaccard ------------------------------

  /** q112d: honest RECALL of the winnowed candidate generator against q51's
    * exact n-gram Jaccard ground truth — the q61b/q64 accuracy-gate pattern
    * applied to the one candidate generator that lacked one. Ground truth =
    * q51's pairs (Jaccard >= 0.5 over the df-capped shingle index); caught =
    * the pairs q112b's winnowed inverted index surfaces (>= 2 shared
    * fingerprints). Both sides are deterministic pipelines the oracle
    * recomputes, so BOTH counts are value-pinned — drift anywhere in the
    * winnowing selection, the df caps, or the pair joins hash-fails here.
    *
    * Winnowing guarantees a selected fingerprint in every shared run of
    * w+k-1 positions, so high-Jaccard pairs (long shared spans) are exactly
    * the pairs it must catch — the fraction REPORTED here is the measured
    * version of that guarantee at this corpus' span lengths.
    *
    * Cost: both inputs ride their memoized indexes ([[Memo]]); the gate
    * itself is one broadcast-sized left join over pair lists. */
  def winnowRecall(spark: SparkSession, dir: String): DataFrame = {
    val truth = jaccardPairs(spark, dir).select(col("d1"), col("d2"))
    val caught = winnowPairs(spark, dir)
      .select(col("d1"), col("d2"), lit(1).as("hit"))
    truth.join(caught, Seq("d1", "d2"), "left")
      .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_caught"))
  }

  private val winnowRecallSql =
    s"""WITH truth AS ($jaccardSql),
       |caught AS ($winnowPairsSql)
       |SELECT CAST(count(*) AS BIGINT) AS n_true,
       |  CAST(count(c.d1) AS BIGINT) AS n_caught
       |FROM truth t LEFT JOIN caught c ON c.d1 = t.d1 AND c.d2 = t.d2""".stripMargin

  // ---- q116: the shingle index as a persisted BUCKETED table --------------

  /** [[Warehouse.materializeBucketed]] — the production materialization of
    * the index family ([[Memo]] is the session-scoped stand-in; this is
    * the cross-session shape a 100 TB pipeline persists). */
  private def materializeBucketed(spark: SparkSession, df: DataFrame,
      table: String, nBuckets: Int, keys: Seq[String]): DataFrame =
    Warehouse.materializeBucketed(spark, df, table, nBuckets, keys)

  /** q116: q51's exact-Jaccard pairs recomputed from the shingle inverted
    * index PERSISTED as a table bucketed on the join key `h` — the VERDICT
    * item-4 shape: the index every shingle-keyed consumer (q51/q109/q104)
    * would materialize at 100 TB, demonstrated end-to-end. Bucketing
    * satisfies the self-join's distribution requirement on both sides, so
    * the join plans with NO shuffle exchange under it (`PlanSpec` gates
    * this); the only remaining exchanges are the post-join pair aggregates,
    * which are candidate-pair-sized, not index-sized. Results are
    * value-identical to q51 (same oracle), so the materialized path can
    * never drift from the memoized one. */
  def jaccardPairsBucketed(spark: SparkSession, dir: String): DataFrame = {
    val idx = materializeBucketed(spark, cappedShingles(spark, dir),
      "graft_shingle_idx", 8, Seq("h"))
    // merge hint: at test SF the table is broadcast-sized, which would
    // bypass the bucketed-SMJ path the query demonstrates
    jaccardOf(pairOverlapStatsOf(idx.hint("merge")))
  }

  // ---- q115: incremental ingestion dedup ----------------------------------

  /** Deterministic ingest-batch membership: every 10th doc_id arrives in
    * the "new" batch, the rest are the persisted history. Oracle SQL that
    * needs the predicate inside a self-join qualifies EVERY column
    * reference through [[batchPredFor]] — extend the predicate there, not
    * by string-prefixing the whole expression. */
  private def batchPredFor(alias: String): String = {
    val q = if (alias.isEmpty) "" else alias + "."
    s"${q}doc_id % 10 = 7"
  }
  private[queries] val batchPred = batchPredFor("")

  /** The historical exact-fingerprint store — one row per normalized-text
    * md5 seen in history with the kept (minimum) doc_id. ONE definition
    * shared by q115's batch screen and q117's streaming screen (and, as
    * [[histStoreCte]], by both oracles), so the two paths can never
    * fingerprint differently. */
  private def historyFpStore(spark: SparkSession, dir: String): DataFrame =
    fpAggregate(Tables(spark, dir, "documents").where(!expr(batchPred)))

  private val histStoreCte =
    s"""store AS (
       |  SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id,
       |    count(*) AS n_copies
       |  FROM documents WHERE NOT ($batchPred) GROUP BY 1)""".stripMargin

  private val batchFpCte =
    s"""bfp AS (
       |  SELECT doc_id, md5(lower(trim(text))) AS fp
       |  FROM documents WHERE $batchPred)""".stripMargin

  /** q115: INCREMENTAL ingestion dedup — the production shape none of
    * q50-q114 covers: a NEW batch of documents is deduped against the
    * PERSISTED historical fingerprint stores, not by a full-corpus
    * recompute. Two probes per batch doc:
    *
    *  - exact: the batch doc's normalized-text md5 against the historical
    *    fingerprint store (q50's store, persisted bucketed on `fp`);
    *  - near: the batch doc's MinHash band buckets against the historical
    *    band store (q52's index, persisted bucketed on `bh`) — candidate
    *    count, the LSH screen an ingest pipeline reviews or re-ranks.
    *
    * Verdict per doc: `drop_exact` (exact copy of history), `review_near`
    * (shares >= 1 LSH bucket with history), else `keep`. In-batch
    * duplicates are q50 applied to the batch — this query is the
    * batch-vs-HISTORY screen.
    *
    * Scale shape: the stores are written once per ingest cycle (index-sized,
    * bucketed); the per-ingest probe cost is batch-sized — the batch side
    * BROADCASTS into both probe joins, so the history stores are scanned
    * but never shuffled, and at 100 TB the band store's bucketing turns
    * store-side compaction/merges shuffle-free too. The oracle is the full
    * recompute restricted to the batch — incremental must equal recompute. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val isBatch = expr(batchPred)
    // the persisted history stores (one write per ingest cycle)
    val fpStore = materializeBucketed(spark,
      historyFpStore(spark, dir), "graft_fp_store", 8, Seq("fp"))
    val bandStore = materializeBucketed(spark,
      minhashBands(spark, dir).where(!isBatch),
      "graft_band_store", 8, Seq("bh"))
    // Batch-sized probes. The near screen is an INNER probe: the batch
    // bands BROADCAST into the store scan — the store is scanned, never
    // shuffled. The exact probe must preserve unmatched batch docs (left
    // outer), and Spark cannot broadcast an outer join's preserved side —
    // so it rides the store's bucketing instead: SMJ where the store side
    // needs NO exchange (bucketed on fp) and only the batch pays a
    // batch-sized shuffle.
    val bfp = docs.where(isBatch).select(col("doc_id"), docFp.as("fp"))
    val nearCand = bandStore.as("h")
      .join(broadcast(minhashBands(spark, dir).where(isBatch).as("b")),
        col("b.band") === col("h.band") && col("b.bh") === col("h.bh"))
      .groupBy(col("b.doc_id").as("doc_id"))
      .agg(countDistinct(col("h.doc_id")).as("n_near"))
    bfp.hint("merge").join(fpStore, Seq("fp"), "left")
      .join(broadcast(nearCand), Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("keep_id").isNotNull.as("is_exact_dup"),
        col("keep_id").as("exact_of"),
        coalesce(col("n_near"), lit(0L)).as("n_near_cand"),
        when(col("keep_id").isNotNull, lit("drop_exact"))
          .when(coalesce(col("n_near"), lit(0L)) > 0, lit("review_near"))
          .otherwise(lit("keep")).as("decision"))
  }

  private val incrementalDedupSql =
    s"""WITH $minhashBandsCte,
       |$histStoreCte,
       |$batchFpCte,
       |nearc AS (
       |  SELECT b.doc_id, CAST(count(DISTINCT h.doc_id) AS BIGINT) AS n_near
       |  FROM bands b JOIN bands h ON b.band = h.band AND b.bh = h.bh
       |  WHERE ${batchPredFor("b")} AND NOT (${batchPredFor("h")})
       |  GROUP BY 1)
       |SELECT f.doc_id,
       |  s.keep_id IS NOT NULL AS is_exact_dup,
       |  s.keep_id AS exact_of,
       |  coalesce(n.n_near, 0) AS n_near_cand,
       |  CASE WHEN s.keep_id IS NOT NULL THEN 'drop_exact'
       |       WHEN coalesce(n.n_near, 0) > 0 THEN 'review_near'
       |       ELSE 'keep' END AS decision
       |FROM bfp f
       |LEFT JOIN store s ON f.fp = s.fp
       |LEFT JOIN nearc n ON n.doc_id = f.doc_id""".stripMargin

  // ---- q117: STREAMING ingestion dedup ------------------------------------

  /** Adds MinHash band-hash columns `bh0..bh3` per ROW (null for docs with
    * < 3 tokens — no shingles, no bands), value-identical to
    * [[minhashBands]]'s `bh` for the same doc: the streaming ingest path
    * computes per-row what the batch path aggregates, so both probe the
    * same persisted store keys. All expressions are deterministic
    * row-local built-ins — legal in a streaming plan. */
  private def withBandCols(df: DataFrame): DataFrame = {
    val withHs = df.withColumn("w", split(col("text"), " "))
      .withColumn("hs", when(size(col("w")) >= 3, hsExpr))
    val withSig = (0 until 16).foldLeft(withHs) { (d, i) =>
      d.withColumn(s"m$i", sigCol(i))
    }
    val withBh = (0 until 4).foldLeft(withSig) { (d, b) =>
      d.withColumn(s"bh$b", when(col("hs").isNotNull, bandHash(b)))
    }
    withBh.drop("w" +: "hs" +: (0 until 16).map(i => s"m$i"): _*)
  }

  /** q117: q115's ingest screen as a REAL STREAMING query — new documents
    * arrive as micro-batches (`readStream` over the documents table,
    * bounded `AvailableNow` run) and every doc is screened ON ARRIVAL
    * against the PERSISTED history stores by stream-static joins:
    *
    *  - exact: stream fp against the bucketed fp store (broadcast right);
    *  - near: each of the row's 4 MinHash band hashes against the
    *    history band SET (4 stream-static broadcast left joins — band
    *    membership is per-row data, so the probe needs no aggregation
    *    and stays legal in append mode).
    *
    * Append mode emits each arriving doc exactly once with its decision —
    * the latency-shaped complement of q115's batch screen: same stores,
    * same decisions (the oracle is the identical batch recompute), but
    * rows are decided as they land instead of per ingest cycle. At scale
    * the static sides refresh per trigger from the store tables;
    * state-free (no watermark needed — stream-static joins keep no
    * stream-side state). */
  def streamingIngestDedup(spark: SparkSession, dir: String): DataFrame = {
    val isBatch = expr(batchPred)
    materializeBucketed(spark,
      historyFpStore(spark, dir), "graft_fp_store_ing", 8, Seq("fp"))
    materializeBucketed(spark,
      minhashBands(spark, dir).where(!isBatch)
        .select(col("band"), col("bh")).distinct(),
      "graft_band_set_ing", 8, Seq("bh"))
    graft.streaming.EventStreams.boundedDocStreamRun(spark, dir, (s, _) => {
      val ses = s.sparkSession
      val store = ses.table("graft_fp_store_ing")
      val bset = ses.table("graft_band_set_ing")
      var cur = withBandCols(s.where(expr(batchPred)))
        .withColumn("fp", docFp)
        .select(col("doc_id"), col("fp"),
          col("bh0"), col("bh1"), col("bh2"), col("bh3"))
        .join(broadcast(store), Seq("fp"), "left")
      for (b <- 0 until 4)
        cur = cur.join(
          broadcast(bset.where(col("band") === b)
            .select(col("bh").as(s"sbh$b"), lit(1).as(s"hit$b"))),
          col(s"bh$b") === col(s"sbh$b"), "left")
      cur.select(col("doc_id"),
        col("keep_id").isNotNull.as("is_exact_dup"),
        when(col("keep_id").isNotNull, lit("drop_exact"))
          .when(coalesce(col("hit0"), col("hit1"), col("hit2"),
            col("hit3")).isNotNull, lit("review_near"))
          .otherwise(lit("keep")).as("decision"))
    }, "append")
  }

  private val streamingIngestSql =
    s"""WITH $minhashBandsCte,
       |$histStoreCte,
       |$batchFpCte,
       |nearflag AS (
       |  SELECT DISTINCT b.doc_id FROM bands b JOIN bands h
       |    ON b.band = h.band AND b.bh = h.bh
       |  WHERE ${batchPredFor("b")} AND NOT (${batchPredFor("h")}))
       |SELECT f.doc_id,
       |  s.keep_id IS NOT NULL AS is_exact_dup,
       |  CASE WHEN s.keep_id IS NOT NULL THEN 'drop_exact'
       |       WHEN n.doc_id IS NOT NULL THEN 'review_near'
       |       ELSE 'keep' END AS decision
       |FROM bfp f
       |LEFT JOIN store s ON f.fp = s.fp
       |LEFT JOIN nearflag n ON n.doc_id = f.doc_id""".stripMargin

  // ---- q120: incremental store COMMIT --------------------------------------

  /** q120: the WRITE side of incremental ingestion — after q115/q117
    * screen a batch, the cycle ends by COMMITTING it: merge the batch's
    * per-fp aggregate into the persisted history store and write the next
    * store generation (bucketed on `fp` like its predecessor). The
    * invariant that makes incremental maintenance trustworthy: min() and
    * count() are commutative monoids, so merging partial aggregates per fp
    * IS the total aggregate — merge(history store, batch) must equal the
    * q50 store recomputed over the FULL corpus, and the oracle is exactly
    * that full-corpus SQL.
    *
    * Scale shape: merge cost ∝ store + batch fingerprints, both sides
    * grouped on `fp` with the store side pre-bucketed (the LSM-style
    * compaction of a bucketed table); the corpus text is never re-read —
    * only 16-byte fingerprints move. The next generation is written
    * bucketed for the next cycle's probes; returning the read-back table
    * proves the round trip. */
  def storeCommit(spark: SparkSession, dir: String): DataFrame = {
    val store = materializeBucketed(spark,
      historyFpStore(spark, dir), "graft_fp_store_gen0", 8, Seq("fp"))
    val batch =
      fpAggregate(Tables(spark, dir, "documents").where(expr(batchPred)))
    val merged = store.unionByName(batch)
      .groupBy(col("fp"))
      .agg(min(col("keep_id")).as("keep_id"),
        sum(col("n_copies")).as("n_copies"))
    materializeBucketed(spark, merged, "graft_fp_store_gen1", 8, Seq("fp"))
  }

  // ---- q218: store generation VACUUM --------------------------------------

  /** q218: RETENTION for the committed-store family — the maintenance
    * operator that completes the store lifecycle (q120 commits
    * generations, q197 diffs them, q215 compacts partitions; without GC
    * the warehouse keeps every generation forever). Three generations of
    * the exact-fingerprint store are committed through the q120 merge
    * path (gen0 = 60% slice, gen1 = +20%, gen2 = +20% — the monoid merge
    * makes gen2 provably the full-corpus store), then
    * [[Warehouse.vacuumGenerations]] retires all but the newest.
    *
    * Gates: `expired_removed` pins that exactly gen0/gen1 were dropped
    * AND their files are gone from disk; `live_intact` pins that the
    * live generation's file set (names and sizes) survived the vacuum
    * byte-identical; the returned rows are the live store read back
    * AFTER the vacuum, graded against the full-corpus rebuild — a
    * vacuum that touched live data fails the hash. Reader safety is the
    * retention-window argument on [[Warehouse.vacuumGenerations]]:
    * consumers always open the max generation, live files are never
    * touched, and `keep` bounds how far a reader may lag. */
  def storeVacuum(spark: SparkSession, dir: String): DataFrame = {
    import scala.jdk.CollectionConverters._
    val docs = Tables(spark, dir, "documents")
    val g0 = materializeBucketed(spark,
      fpAggregate(docs.where(expr("doc_id % 10 <= 5"))),
      "graft_vac_gen0", 8, Seq("fp"))
    def commitGen(store: DataFrame, pred: String, t: String): DataFrame =
      materializeBucketed(spark,
        store.unionByName(fpAggregate(docs.where(expr(pred))))
          .groupBy(col("fp"))
          .agg(min(col("keep_id")).as("keep_id"),
            sum(col("n_copies")).as("n_copies")),
        t, 8, Seq("fp"))
    val g1 = commitGen(g0, "doc_id % 10 IN (6, 7)", "graft_vac_gen1")
    commitGen(g1, "doc_id % 10 IN (8, 9)", "graft_vac_gen2")
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    def filesOf(t: String): Map[String, Long] = {
      val root = java.nio.file.Paths.get(wh, t)
      if (!java.nio.file.Files.isDirectory(root)) Map.empty
      else java.nio.file.Files.walk(root).iterator().asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("_") &&
          !p.getFileName.toString.startsWith("."))
        .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
    }
    val liveBefore = filesOf("graft_vac_gen2")
    val expired = Warehouse.vacuumGenerations(spark, "graft_vac", keep = 1)
    val expiredRemoved =
      expired == Seq("graft_vac_gen0", "graft_vac_gen1") &&
        filesOf("graft_vac_gen0").isEmpty && filesOf("graft_vac_gen1").isEmpty
    val liveIntact = liveBefore.nonEmpty && filesOf("graft_vac_gen2") == liveBefore
    spark.table("graft_vac_gen2")
      .select(col("fp"), col("keep_id"), col("n_copies"),
        lit(expiredRemoved).as("expired_removed"),
        lit(liveIntact).as("live_intact"))
  }

  private val storeVacuumSql =
    """SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id,
      |  CAST(count(*) AS BIGINT) AS n_copies,
      |  TRUE AS expired_removed, TRUE AS live_intact
      |FROM documents GROUP BY 1""".stripMargin

  // ---- q194: leakage-free split by construction ---------------------------

  /** q194: the CONSTRUCTIVE complement of q129's leakage audit — instead
    * of hashing each document into train/val/test and then auditing what
    * leaked, assign the split to the exact-dup CLUSTER (the q50 keep_id
    * representative) and give every member its cluster's fold: an exact
    * duplicate can never straddle a boundary, by construction rather
    * than by audit. (Near-dup-safe splits extend the same recipe with
    * the q55 connected-component id as the cluster key.) Same seedless
    * md5 recipe and 80/10/10 bands as q129's naive split, applied to
    * the representative id, so any cluster shape reproduces the fold
    * assignment bit-for-bit.
    *
    * Scale shape: the fp→rep table is the q50 aggregate (shuffle of
    * 16-byte digests); members join it back on the fp — key-partitioned,
    * NOT broadcast (the cluster table is corpus-sized); the fold hash is
    * a scan-local expression on the joined rep. */
  def leakFreeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), md5(lower(trim(col("text")))).as("fp"))
    val reps = docs.groupBy(col("fp")).agg(min(col("doc_id")).as("rep"),
      count(lit(1)).as("n_cluster"))
    docs.join(reps, Seq("fp"))
      .select(col("doc_id"), col("rep"), col("n_cluster"),
        expr("""CASE
                | WHEN CAST(conv(substring(md5(CAST(rep AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100 < 80
                | THEN 'train'
                | WHEN CAST(conv(substring(md5(CAST(rep AS STRING)), 1, 15), 16, 10) AS BIGINT) % 100 < 90
                | THEN 'val' ELSE 'test' END""".stripMargin).as("split"))
  }

  private val leakFreeSplitSql =
    """WITH d AS (
      |  SELECT doc_id, md5(lower(trim(text))) AS fp FROM documents),
      |r AS (
      |  SELECT fp, min(doc_id) AS rep, CAST(count(*) AS BIGINT) AS n_cluster
      |  FROM d GROUP BY fp)
      |SELECT d.doc_id, r.rep, r.n_cluster,
      |  CASE
      |    WHEN ('0x' || substr(md5(r.rep::VARCHAR), 1, 15))::BIGINT % 100 < 80
      |    THEN 'train'
      |    WHEN ('0x' || substr(md5(r.rep::VARCHAR), 1, 15))::BIGINT % 100 < 90
      |    THEN 'val' ELSE 'test' END AS split
      |FROM d JOIN r ON d.fp = r.fp""".stripMargin

  // ---- q192: postings-store COMMIT (the retrieval-index cycle) ------------

  /** q192: the search-index member of the incremental-store family —
    * q120 maintains the fingerprint store, q169 the ANN store; this
    * maintains the POSTINGS store the BM25/df consumers (q178) read.
    * The historical (term, doc, dl, tf) posting table is persisted
    * bucketed on the term key; the new batch's postings aggregate
    * batch-locally and MERGE in (tf sums are commutative monoids, and a
    * document's postings live wholly in its own batch, so the merged
    * store provably equals the index rebuilt over the full corpus — the
    * oracle IS that full-corpus SQL, the q120/q188 trust invariant).
    * Gen1 is written bucketed for the next cycle; the verification
    * grain is the per-term statistics of the READ-BACK gen1 (df, ctf,
    * and an exact sum(doc_id) membership checksum so the oracle pins
    * committed membership, not just counts — the q169 recipe).
    *
    * Scale shape: the corpus text is never re-read at commit time —
    * only 8-byte-keyed postings move; merge cost ∝ store + batch
    * postings, both sides keyed on the term with the store side
    * pre-bucketed (the LSM compaction shape). */
  /** The posting rows (t, doc_id, dl, tf) of the documents matching
    * `pred` — ONE definition shared by the q192 commit and the q197 diff
    * (and mirrored by both oracles), the q115/q117 can't-drift discipline. */
  private def postingsOf(spark: SparkSession, dir: String, pred: String): DataFrame =
    Tables(spark, dir, "documents")
      .where(expr(pred))
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), x -> x <> '')").as("toks"))
      .where(size(col("toks")) >= 1)
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"), explode(col("toks")).as("t"))
      .where(length(col("t")) >= 4)
      .groupBy(col("t"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  def postingsCommit(spark: SparkSession, dir: String): DataFrame = {
    def postingsOf(pred: String): DataFrame = Dedup.postingsOf(spark, dir, pred)
    val store0 = materializeBucketed(spark,
      postingsOf(s"NOT ($batchPred)"), "graft_postings_gen0", 8, Seq("t"))
    val merged = store0.unionByName(postingsOf(batchPred))
      .groupBy(col("t"), col("doc_id"), col("dl"))
      .agg(sum(col("tf")).as("tf"))
    materializeBucketed(spark, merged, "graft_postings_gen1", 8, Seq("t"))
      .groupBy(col("t"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("ctf"),
        sum(col("doc_id")).as("doc_checksum"))
  }

  // ---- q197: postings-store generation DIFF -------------------------------

  /** q197: snapshot diff between two committed store generations — the
    * audit operator of the incremental-store family (q120/q169/q192 build
    * stores; this answers "what did the last commit change?"). Gen0 and
    * gen1 are read back from their tables and outer-compared on the
    * POSTING grain (t, doc_id). The comparison shuffles only 8-byte-keyed
    * posting rows — never corpus text — and the exchange key includes
    * doc_id, which makes it SKEW-PROOF: a stop-word term whose posting
    * list spans millions of documents spreads uniformly across
    * partitions, where any per-term formulation (collect posting arrays,
    * join on t alone) concentrates it on one task. The t-bucketing the
    * stores carry for their primary consumers cannot serve this join —
    * Spark requires co-partitioning on the FULL join key set
    * (`requireAllClusterKeysForCoPartition`), a measured adjudication,
    * not an oversight; the posting-grain exchange is the plan you want
    * at 100 TB anyway. The merge hint pins the at-scale SMJ shape that
    * small-SF stats would otherwise replace with a broadcast (q116's
    * rationale).
    *
    * Trust invariant: gen1 was committed as gen0 + batch, so the diff
    * must reconstruct EXACTLY the batch's own postings — the oracle
    * computes the batch index directly from `documents` and the per-term
    * (added_df, tf_added, doc_checksum_added) must hash-match; `grown`
    * pins that no existing posting changed (a doc's postings live wholly
    * in its own batch). A diff that invents, loses, or double-counts a
    * posting fails the gate. */
  def postingsDiff(spark: SparkSession, dir: String): DataFrame = {
    val gen0 = materializeBucketed(spark,
      postingsOf(spark, dir, s"NOT ($batchPred)"), "graft_pdiff_gen0", 8, Seq("t"))
    val merged = gen0.unionByName(postingsOf(spark, dir, batchPred))
      .groupBy(col("t"), col("doc_id"), col("dl"))
      .agg(sum(col("tf")).as("tf"))
    val gen1 = materializeBucketed(spark, merged, "graft_pdiff_gen1", 8, Seq("t"))
    val old = gen0.select(col("t"), col("doc_id"), col("tf").as("tf0"))
    gen1.hint("merge").join(old, Seq("t", "doc_id"), "left_outer")
      .groupBy(col("t"))
      .agg(
        count(when(col("tf0").isNull, 1)).as("added_df"),
        sum(when(col("tf0").isNull, col("tf"))).as("tf_added"),
        sum(when(col("tf0").isNull, col("doc_id"))).as("doc_checksum_added"),
        count(when(col("tf0").isNotNull && col("tf0") =!= col("tf"), 1))
          .as("grown"))
      .where(col("added_df") > 0)
  }

  private val postingsDiffSql =
    s"""WITH docs AS (
       |  SELECT doc_id,
       |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
       |  FROM documents
       |  WHERE ($batchPred)
       |    AND len(list_filter(string_split(lower(text), ' '), x -> x <> '')) >= 1),
       |batch AS (
       |  SELECT t, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id, unnest(toks) AS t FROM docs) x
       |  WHERE length(t) >= 4
       |  GROUP BY t, doc_id)
       |SELECT t, CAST(count(*) AS BIGINT) AS added_df,
       |  CAST(sum(tf) AS BIGINT) AS tf_added,
       |  CAST(sum(doc_id) AS BIGINT) AS doc_checksum_added,
       |  CAST(0 AS BIGINT) AS grown
       |FROM batch GROUP BY t""".stripMargin

  private val postingsCommitSql =
    """WITH docs AS (
      |  SELECT doc_id,
      |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
      |  FROM documents
      |  WHERE len(list_filter(string_split(lower(text), ' '), x -> x <> '')) >= 1),
      |tfall AS (
      |  SELECT t, doc_id, CAST(count(*) AS BIGINT) AS tf FROM (
      |    SELECT doc_id, unnest(toks) AS t FROM docs) x
      |  WHERE length(t) >= 4
      |  GROUP BY t, doc_id)
      |SELECT t, CAST(count(*) AS BIGINT) AS df,
      |  CAST(sum(tf) AS BIGINT) AS ctf,
      |  CAST(sum(doc_id) AS BIGINT) AS doc_checksum
      |FROM tfall GROUP BY t""".stripMargin

  private val storeCommitSql =
    """SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id,
      |  count(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  // ---- q104: shingle novelty / boilerplate scoring ------------------------

  /** q104: per-document NOVELTY — the fraction of its distinct shingles
    * seen nowhere else in the corpus (document frequency 1). Low novelty
    * means the doc is assembled almost entirely from corpus-common text
    * (boilerplate, templates) even when no single span is long enough for
    * q103 — the standard companion signal in curation stacks. Flag when
    * fewer than 20% of shingles are novel (exact integer test 5·novel < n).
    *
    * Cost: the distinct (doc, hash) index, one df agg on the hash, one
    * shuffle join back on the hash, one per-doc agg — all linear, keyed on
    * 8-byte hashes. */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    // the DISTINCT index: its oracle dedups on (doc_id, h), and deduping on
    // the hash in Spark too keeps collision behavior bit-equal (the one
    // asymmetry a review found — every sibling pipeline already did this)
    val sh = shingleIndex(spark, dir)
    val dfreq = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    sh.join(dfreq, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("df") === 1, 1)).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles")).as("novelty_frac"),
        (col("n_novel") * 5L < col("n_shingles")).as("boilerplate"))
  }

  private val noveltySql =
    s"""WITH sh AS (
       |  SELECT DISTINCT doc_id, ${hashIntSql("s")} AS h FROM ($shinglesSql)),
       |dfreq AS (SELECT h, count(*) AS df FROM sh GROUP BY h)
       |SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
       |  CAST(count(CASE WHEN dfreq.df = 1 THEN 1 END) AS BIGINT) AS n_novel,
       |  CAST(count(CASE WHEN dfreq.df = 1 THEN 1 END) AS DOUBLE) / count(*)
       |    AS novelty_frac,
       |  count(CASE WHEN dfreq.df = 1 THEN 1 END) * 5 < count(*)
       |    AS boilerplate
       |FROM sh JOIN dfreq ON sh.h = dfreq.h
       |GROUP BY sh.doc_id""".stripMargin

  // ---- q105: cross-source priority dedup -----------------------------------

  /** q105: cross-corpus dedup with source PRIORITY — when the same text
    * appears in several sources, keep the copy from the most trusted one
    * (the "dedupe CommonCrawl against Wikipedia, keep Wikipedia" op every
    * mixture pipeline runs before weighting). Priority here is the numeric
    * source suffix (src0 ranks above src19); ties break to the smallest
    * doc_id via an exact composite integer key, so argmin is deterministic
    * in both engines (q57's pattern, inverted). One shuffle on the 128-bit
    * text fingerprint — text itself never moves. */
  def crossDedup(spark: SparkSession, dir: String): DataFrame = {
    val ordKey = substring(col("source"), 4, 10).cast("long") *
      lit(1099511627776L) + col("doc_id") // prio * 2^40 + id, exact in i64
    Tables(spark, dir, "documents")
      .groupBy(md5(lower(trim(col("text")))).as("fp"))
      .agg(min_by(col("doc_id"), ordKey).as("keep_id"),
        min_by(col("source"), ordKey).as("keep_source"),
        count(lit(1)).as("n_copies"),
        countDistinct(col("source")).as("n_sources"))
  }

  private val crossDedupSql =
    """SELECT md5(lower(trim(text))) AS fp,
      |  arg_min(doc_id,
      |    CAST(substr(source, 4) AS BIGINT) * 1099511627776 + doc_id)
      |    AS keep_id,
      |  arg_min(source,
      |    CAST(substr(source, 4) AS BIGINT) * 1099511627776 + doc_id)
      |    AS keep_source,
      |  count(*) AS n_copies,
      |  count(DISTINCT source) AS n_sources
      |FROM documents GROUP BY 1""".stripMargin

  // ---- q176: cross-source overlap matrix -----------------------------------

  /** q176: the pairwise SOURCE OVERLAP MATRIX — for every pair of sources,
    * how many exact fingerprints they share, with each side's distinct-fp
    * size and a min-normalized overlap ppm (the containment-style
    * normalization: a small source fully contained in a big one scores
    * 1e6, which is the signal a mixture designer needs). The data-card
    * companion of q113's per-source rates and q105's priority dedup:
    * WHICH sources duplicate WHICH decides what to dedup against what.
    *
    * Scale: the (fp, source)-distinct table is keyed on fp and
    * self-joined on fp — the same bucketable shape as every fp store;
    * per-fp fan-out is bounded by the source count (≤ |sources|² pairs
    * per fp, tens not millions), and the output is |sources|² rows. Text
    * never moves — only 32-char fingerprints. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val fps = Tables(spark, dir, "documents")
      .select(docFp.as("fp"), col("source")).distinct()
      // the (fp, source) index and the |sources|-row size table both feed
      // two consumers; materialize once
      .localCheckpoint()
    val sizes = fps.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val shared = fps.as("a").join(fps.as("b"), Seq("fp"))
      .where(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("n_shared"))
    // EVERY pair reports, shared or not — an all-zero matrix is itself the
    // data-card answer (and the gate result on clean corpora); the pair
    // space is |sources|², broadcast-joined, driver-scale by construction
    sizes.select(col("source").as("s1"), col("n").as("n1"))
      .join(broadcast(sizes.select(col("source").as("s2"),
        col("n").as("n2"))), col("s1") < col("s2"))
      .join(shared, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n1"), col("n2"),
        expr("(coalesce(n_shared, 0) * 1000000) div least(n1, n2)")
          .cast("long").as("overlap_ppm"))
  }

  // ---- q202: dedup burn-down timeline -------------------------------------

  /** q202: the dedup BURN-DOWN — per ingest batch, how much of what
    * arrives is genuinely new? Every ingest pipeline tracks this curve:
    * as history accumulates, the novel fraction decays, and the curve's
    * shape decides when a source stops being worth crawling. Batches are
    * the deterministic `doc_id % 10` axis (batch 7 is the q115/q192
    * commit family's "arriving batch" — this query generalizes that
    * one-step screen to the whole timeline in ONE pass instead of ten
    * sequential store probes): a fingerprint's first batch is a single
    * min-aggregate, joined back onto per-(batch, fp) arrival counts, so
    * the full 10-step history costs two fp-keyed shuffles total — no
    * iteration, no store rebuild per step.
    *
    * All-exact grading: arrivals, distinct fps, first-seen fps, novel
    * docs (arrivals carrying a fp first seen in this batch), and the
    * integer dup_ppm all hash-match the oracle. */
  def dedupTimeline(spark: SparkSession, dir: String): DataFrame = {
    val fps = Tables(spark, dir, "documents")
      .select((col("doc_id") % 10).as("batch"), docFp.as("fp"))
    val perBatch = fps.groupBy(col("batch"), col("fp"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // (batch, fp) grain feeds both the min and the join
    val firstSeen = perBatch.groupBy(col("fp"))
      .agg(min(col("batch")).as("first_batch"))
    perBatch.join(firstSeen, Seq("fp"))
      .groupBy(col("batch"))
      .agg(sum(col("n")).as("n_docs"),
        count(lit(1)).as("n_distinct_fp"),
        count(when(col("first_batch") === col("batch"), 1)).as("n_new_fp"),
        sum(when(col("first_batch") === col("batch"), col("n"))
          .otherwise(0L)).as("n_novel_docs"))
      .select(col("batch"), col("n_docs"), col("n_distinct_fp"),
        col("n_new_fp"), col("n_novel_docs"),
        expr("((n_docs - n_novel_docs) * 1000000) div n_docs")
          .as("dup_ppm"))
  }

  private val dedupTimelineSql =
    """WITH f AS (
      |  SELECT doc_id % 10 AS batch, md5(lower(trim(text))) AS fp
      |  FROM documents),
      |pb AS (
      |  SELECT batch, fp, CAST(count(*) AS BIGINT) AS n
      |  FROM f GROUP BY batch, fp),
      |fs AS (SELECT fp, min(batch) AS first_batch FROM pb GROUP BY fp)
      |SELECT batch, CAST(sum(n) AS BIGINT) AS n_docs,
      |  CAST(count(*) AS BIGINT) AS n_distinct_fp,
      |  CAST(count(CASE WHEN first_batch = batch THEN 1 END) AS BIGINT)
      |    AS n_new_fp,
      |  CAST(sum(CASE WHEN first_batch = batch THEN n ELSE 0 END) AS BIGINT)
      |    AS n_novel_docs,
      |  CAST(((sum(n) - sum(CASE WHEN first_batch = batch THEN n ELSE 0 END))
      |    * 1000000) // sum(n) AS BIGINT) AS dup_ppm
      |FROM pb JOIN fs USING (fp)
      |GROUP BY batch""".stripMargin

  // ---- q198: theta-sketch source overlap (the q176 sketch path) -----------

  /** q198: cross-source overlap by THETA SKETCH set algebra — the scale
    * path of q176's exact matrix. HLL answers only union cardinality;
    * theta sketches (Spark 4's DataSketches bindings) close the set
    * algebra: one k-bounded sketch per source (mergeable map-side
    * partials, kilobytes each), then pairwise INTERSECTION estimates on
    * the |sources|²-sized pair table — no (fp, fp) self-join at all. At
    * 100 TB the exact path shuffles the full fingerprint index; this
    * path's cross-source step touches only sketch bytes, which is why
    * data cards ship with sketched overlap numbers.
    *
    * Grading, q68-style: the exact matrix (same definition as q176 —
    * shared `docFp`, same pair zero-fill) is hash-graded outright, and
    * the sketch path is pinned by `within_bound`: |est − exact| ≤
    * max(16, 5% · min(|A|,|B|)). Below the sketch's nominal k the theta
    * sketch is in exact mode and the estimate IS the exact count; the
    * bound keeps the gate honest once estimation mode engages at larger
    * SF. */
  def thetaOverlap(spark: SparkSession, dir: String): DataFrame = {
    val fps = Tables(spark, dir, "documents")
      .select(docFp.as("fp"), col("source")).distinct()
      .localCheckpoint()
    val perSource = fps.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), expr("theta_sketch_agg(fp)").as("sk"))
      .localCheckpoint()
    val shared = fps.as("a").join(fps.as("b"), Seq("fp"))
      .where(col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("s1"), col("b.source").as("s2"))
      .agg(count(lit(1)).as("n_shared"))
    perSource.select(col("source").as("s1"), col("n").as("n1"), col("sk").as("sk1"))
      .join(broadcast(perSource.select(col("source").as("s2"),
        col("n").as("n2"), col("sk").as("sk2"))), col("s1") < col("s2"))
      .join(shared, Seq("s1", "s2"), "left")
      .select(col("s1"), col("s2"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        col("n1"), col("n2"),
        expr("theta_sketch_estimate(theta_intersection(sk1, sk2))").as("est"))
      .select(col("s1"), col("s2"), col("n_shared"), col("n1"), col("n2"),
        (abs(col("est") - col("n_shared")) <=
          greatest(lit(16L), expr("(least(n1, n2) * 5) div 100")))
          .as("within_bound"))
  }

  private val thetaOverlapSql =
    """WITH f AS (
      |  SELECT DISTINCT md5(lower(trim(text))) AS fp, source FROM documents),
      |s AS (SELECT source, count(*) AS n FROM f GROUP BY source),
      |p AS (
      |  SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared
      |  FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT x.source AS s1, y.source AS s2,
      |  CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
      |  CAST(x.n AS BIGINT) AS n1, CAST(y.n AS BIGINT) AS n2,
      |  TRUE AS within_bound
      |FROM s x JOIN s y ON x.source < y.source
      |LEFT JOIN p ON p.s1 = x.source AND p.s2 = y.source""".stripMargin

  private val sourceOverlapSql =
    """WITH f AS (
      |  SELECT DISTINCT md5(lower(trim(text))) AS fp, source FROM documents),
      |s AS (SELECT source, count(*) AS n FROM f GROUP BY source),
      |p AS (
      |  SELECT a.source AS s1, b.source AS s2, count(*) AS n_shared
      |  FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT x.source AS s1, y.source AS s2,
      |  CAST(coalesce(p.n_shared, 0) AS BIGINT) AS n_shared,
      |  CAST(x.n AS BIGINT) AS n1, CAST(y.n AS BIGINT) AS n2,
      |  CAST((coalesce(p.n_shared, 0) * 1000000) // least(x.n, y.n)
      |    AS BIGINT) AS overlap_ppm
      |FROM s x JOIN s y ON x.source < y.source
      |LEFT JOIN p ON p.s1 = x.source AND p.s2 = y.source""".stripMargin

  // ---- q279: exact similarity join via prefix filtering (PPJoin) -----------

  /** q279: EXACT Jaccard ≥ 0.8 join with PREFIX FILTERING (the
    * AllPairs/PPJoin candidate strategy — Bayardo et al. WWW'07, Xiao
    * et al. WWW'08): the near-dup family's third candidate-generation
    * strategy and its only provably COMPLETE one. q52's MinHash/LSH is
    * probabilistic (q52b measures its recall); q51's df cap drops
    * hot-shingle evidence by design. The prefix filter is a theorem:
    * order every doc's shingle set by ascending global document
    * frequency (rarest first, h as the total-order tiebreak), take each
    * doc's first sz − ⌈τ·sz⌉ + 1 shingles, and any pair with
    * Jaccard ≥ τ MUST share a prefix shingle — so joining only on
    * prefixes generates every qualifying pair. The ORACLE is the naive
    * complete join at the same threshold: hash-equality with it is a
    * per-run proof the pruning lost nothing.
    *
    * Exactness: ⌈0.8·sz⌉ = (4·sz+4) div 5 in integers; the size filter
    * 4·max ≤ 5·min is the exact integer form of the Jaccard length
    * bound; jac_ppm floor-division makes `≥ 800000` equivalent to
    * jac ≥ 0.8 precisely (800000·union is an integer). At 100 TB: no
    * tuning knob — a globally-hot shingle has maximal df, sorts LAST,
    * and so never enters a prefix unless a doc consists almost entirely
    * of hot shingles (the known worst case; production backstops it
    * with q51's df cap on the PREFIX join only, which stays complete
    * for any pair with at least one non-hot prefix shingle). Candidate
    * volume is Σ_prefix df(h)² over RARE shingles — the quantity the
    * rarest-first order minimizes; the verify join moves only candidate
    * pairs' arrays.
    *
    * POSITIONAL filter (the "PP" in PPJoin, Xiao et al. §3): positions
    * within each doc's array are monotone in the global (df, h) token
    * order, so the FIRST common token of any pair realizes BOTH
    * min(p1) and min(p2) over its prefix matches — and since every
    * common token sorts at-or-after it, overlap ≤ min(sz1−p1, sz2−p2)+1.
    * Jaccard ≥ 0.8 needs overlap ≥ (4/9)(sz1+sz2) (integer form
    * 9·bound ≥ 4·(sz1+sz2)), so candidates failing it are pruned
    * BEFORE the verify join ever moves an array — the distinct() a
    * plain prefix join would need becomes the same-shuffle min-position
    * aggregate, strictly reducing verify traffic at zero extra
    * exchanges. The first common token of a QUALIFYING pair is in both
    * prefixes (the prefix theorem), so prefix-only positions keep the
    * filter complete. */
  def ppjoinPairs(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndex(spark, dir)
    val dfc = sh.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // (doc_id, rarest-first shingle array, size), consumed four times
    // (both prefix sides + both verify sides)
    val arrs = sh.join(dfc, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(df, h))), p -> p.h)")
        .as("arr"))
      .select(col("doc_id"), col("arr"), size(col("arr")).as("sz"))
      .localCheckpoint()
    // 1-based position of each prefix shingle in the doc's sorted array
    val pref = arrs.select(col("doc_id"), col("sz"),
        posexplode(expr("slice(arr, 1, sz - ((4 * sz + 4) div 5) + 1)")))
      .select(col("doc_id"), col("sz"), (col("pos") + 1).as("p"),
        col("col").as("ph"))
    val cand = pref.as("a").join(pref.as("b"),
        col("a.ph") === col("b.ph") && col("a.doc_id") < col("b.doc_id")
          && col("a.sz") * 4 <= col("b.sz") * 5
          && col("b.sz") * 4 <= col("a.sz") * 5)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.sz").as("psz1"), col("b.sz").as("psz2"),
        col("a.p").as("p1"), col("b.p").as("p2"))
      .groupBy(col("d1"), col("d2"), col("psz1"), col("psz2"))
      .agg(min(col("p1")).as("p1"), min(col("p2")).as("p2"))
      .where(
        (least(col("psz1") - col("p1"), col("psz2") - col("p2")) + 1) * 9
          >= (col("psz1") + col("psz2")) * 4)
      .select(col("d1"), col("d2"))
    cand
      .join(arrs.select(col("doc_id").as("d1"), col("arr").as("arr1"),
        col("sz").as("sz1")), Seq("d1"))
      .join(arrs.select(col("doc_id").as("d2"), col("arr").as("arr2"),
        col("sz").as("sz2")), Seq("d2"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("arr1"), col("arr2"))).cast("long").as("inter"),
        col("sz1"), col("sz2"))
      .selectExpr("d1", "d2",
        "CAST((inter * 1000000) div (sz1 + sz2 - inter) AS BIGINT) AS jac_ppm")
      .where(col("jac_ppm") >= 800000L)
  }

  private val ppjoinSql =
    s"""WITH allsh AS (
       |  SELECT DISTINCT doc_id, ${hashIntSql("s")} AS h FROM ($shinglesSql)),
       |sz AS (SELECT doc_id, count(*) AS n FROM allsh GROUP BY doc_id),
       |com AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS c
       |  FROM allsh a JOIN allsh b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2,
       |  CAST((c::HUGEINT * 1000000) // (x.n + y.n - c) AS BIGINT) AS jac_ppm
       |FROM com JOIN sz x ON x.doc_id = d1 JOIN sz y ON y.doc_id = d2
       |WHERE 5 * c >= 4 * (x.n + y.n - c)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q279_ppjoin", ppjoinPairs, Some(ppjoinSql)),
    QueryDef("q176_source_overlap", sourceOverlap, Some(sourceOverlapSql)),
    QueryDef("q198_theta_overlap", thetaOverlap, Some(thetaOverlapSql)),
    QueryDef("q202_dedup_timeline", dedupTimeline, Some(dedupTimelineSql)),
    QueryDef("q55_dup_clusters", dupClusters, Some(dupClustersSql)),
    QueryDef("q208_cc_star", dupClustersStar, Some(dupClustersSql)),
    QueryDef("q56_simhash_pairs", simhashPairs, Some(simhashPairsSql)),
    QueryDef("q57_keep_best", keepBest, Some(keepBestSql)),
    QueryDef("q77_decontaminate", decontaminate, Some(decontaminateSql)),
    QueryDef("q102_contamination", contaminationScore,
      Some(contaminationScoreSql)),
    QueryDef("q67_bloom_decontaminate", bloomDecontaminate,
      Some(bloomDecontaminateSql)),
    QueryDef("q50_dedup_exact", exact, Some(
      """SELECT md5(lower(trim(text))) AS fp, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin)),
    QueryDef("q51_dedup_jaccard", jaccardPairs, Some(jaccardSql)),
    QueryDef("q129_split_leakage", splitLeakage, Some(splitLeakageSql)),
    QueryDef("q52_dedup_minhash", minhashCandidates, Some(minhashSql)),
    QueryDef("q52b_minhash_acc", minhashAccuracy, Some(minhashAccuracySql)),
    QueryDef("q53_dedup_simhash", simhash, Some(simhashSql)),
    QueryDef("q103_dup_spans", dupSpans, Some(dupSpansSql)),
    QueryDef("q103b_dup_span_extract", dupSpanExtract,
      Some(dupSpanExtractSql)),
    QueryDef("q109_containment", containmentPairs, Some(containmentSql)),
    QueryDef("q110_span_cut", spanCut, Some(spanCutSql)),
    QueryDef("q112_winnow", winnowFingerprints, Some(winnowSql)),
    QueryDef("q112b_winnow_pairs", winnowPairs, Some(winnowPairsSql)),
    QueryDef("q112c_winnow_matches", winnowMatches, Some(winnowMatchesSql)),
    QueryDef("q112d_winnow_recall", winnowRecall, Some(winnowRecallSql)),
    QueryDef("q113_source_quality", sourceQuality, Some(sourceQualitySql)),
    QueryDef("q114_effective_tokens", effectiveTokens,
      Some(effectiveTokensSql)),
    QueryDef("q104_novelty", novelty, Some(noveltySql)),
    QueryDef("q105_cross_dedup", crossDedup, Some(crossDedupSql)),
    QueryDef("q115_incremental_dedup", incrementalDedup,
      Some(incrementalDedupSql)),
    QueryDef("q117_stream_ingest_dedup", streamingIngestDedup,
      Some(streamingIngestSql)),
    QueryDef("q120_store_commit", storeCommit, Some(storeCommitSql)),
    QueryDef("q218_store_vacuum", storeVacuum, Some(storeVacuumSql)),
    QueryDef("q192_postings_commit", postingsCommit, Some(postingsCommitSql)),
    QueryDef("q197_postings_diff", postingsDiff, Some(postingsDiffSql)),
    QueryDef("q194_leakfree_split", leakFreeSplit, Some(leakFreeSplitSql)),
    QueryDef("q116_bucketed_index", jaccardPairsBucketed, Some(jaccardSql)))
}
