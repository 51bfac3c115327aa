package graft.queries

import graft.Exact.{dsum2, sqlSum2}
import graft.QueryDef
import graft.catalog.GraftCatalog
import graft.sources.SnapshotStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The SQL DML registry entries: `MERGE INTO` (incl. `WHEN NOT MATCHED BY
  * SOURCE`), `DELETE FROM`, `UPDATE` and `VERSION AS OF` reads as SQL text
  * against `graft.<t>` ([[graft.catalog.GraftCatalog]]). There is one
  * mutation engine: Spark's own row-level rewrite rules, its runtime group
  * filter, and the snapshot manifest commit.
  *
  * q309/q311/q314 (MERGE, DELETE, UPDATE) run the functions of their
  * catalog twins q319-q321 ([[CatalogQueries]]) under the same oracles;
  * they keep their registry names so the stride-picked benchmark entries
  * do not shift. q315 reads the store of [[Lakehouse.buildVersionedStore]],
  * built by DataFrame mutations, so it grades SQL time travel over commits
  * the catalog did not write (q322 reads commits it did write). q318's
  * by-source MERGE is pruned by [[graft.plans.BySourceGroupFilterRule]].
  */
object SqlDml {

  /** q318: `WHEN NOT MATCHED BY SOURCE` — the MERGE clause family that
    * mutates TARGET rows the source never mentioned (the sync/expiry
    * shape: "whatever my feed didn't confirm this run is stale").
    * Matched decile rows update (price+1, MERGED); unmatched rows in the
    * FIRST key twentieth are marked STALE; unmatched rows past 90% of
    * the domain are DELETED; everything else is carried. All four
    * outcomes are key-predicate-derivable, so the oracle recomputes the
    * whole partition of the table and any row that took the wrong
    * clause — or a matched row that took a by-source clause —
    * hash-fails. `pruned` is the manifest diff: the rewrite replaced
    * matched files ∪ files holding by-source-condition rows, a strict
    * subset, even though by-source semantics COULD touch anything. */
  def sqlMergeBySource(spark: SparkSession, dir: String): DataFrame = {
    val (root, mx) = Lakehouse.initStore(spark, dir)
    GraftCatalog.register(spark, "sql_orders_bs", root)
    val lo = mx / 2; val hi = lo + mx / 10
    val cutLow = mx / 20; val cutHigh = mx - mx / 10
    SnapshotStore.read(spark, root)
      .where(col("o_orderkey").between(lo, hi))
      .select(col("o_orderkey")).localCheckpoint()
      .createOrReplaceTempView("sql_changes_bs")
    spark.sql(
      s"""MERGE INTO graft.sql_orders_bs t USING sql_changes_bs s
         |ON t.o_orderkey = s.o_orderkey
         |WHEN MATCHED THEN UPDATE SET
         |  o_totalprice = t.o_totalprice + 1.0, o_orderpriority = 'MERGED'
         |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey <= $cutLow
         |  THEN UPDATE SET o_orderpriority = 'STALE'
         |WHEN NOT MATCHED BY SOURCE AND t.o_orderkey > $cutHigh
         |  THEN DELETE""".stripMargin)
    val v2 = SnapshotStore.currentVersion(spark, root)
    SnapshotStore.read(spark, root, v2)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total_price"),
        sum(when(col("o_orderpriority") === "MERGED", lit(1L))
          .otherwise(lit(0L))).as("n_merged"),
        sum(when(col("o_orderpriority") === "STALE", lit(1L))
          .otherwise(lit(0L))).as("n_stale"))
      .select(col("o_orderstatus"), col("n"), col("total_price"),
        col("n_merged"), col("n_stale"),
        lit(CatalogQueries.prunedOf(spark, root, 1, v2)).as("pruned"))
  }

  private[graft] val sqlMergeBySourceSql =
    s"""WITH rng AS (
       |  SELECT (max(o_orderkey) // 2) AS lo,
       |         (max(o_orderkey) // 2) + (max(o_orderkey) // 10) AS hi,
       |         (max(o_orderkey) // 20) AS cut_low,
       |         max(o_orderkey) - (max(o_orderkey) // 10) AS cut_high
       |  FROM orders),
       |fin AS (
       |  SELECT o_orderstatus,
       |    CASE WHEN o_orderkey BETWEEN lo AND hi THEN o_totalprice + 1.0
       |         ELSE o_totalprice END AS price,
       |    CASE WHEN o_orderkey BETWEEN lo AND hi THEN 'MERGED'
       |         WHEN o_orderkey <= cut_low THEN 'STALE'
       |         ELSE o_orderpriority END AS prio
       |  FROM orders, rng
       |  WHERE o_orderkey BETWEEN lo AND hi OR o_orderkey <= cut_high)
       |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("price")} AS total_price,
       |  CAST(count(*) FILTER (WHERE prio = 'MERGED') AS BIGINT) AS n_merged,
       |  CAST(count(*) FILTER (WHERE prio = 'STALE') AS BIGINT) AS n_stale,
       |  TRUE AS pruned
       |FROM fin GROUP BY 1""".stripMargin

  private[graft] val sqlUpdateSql =
    s"""WITH rng AS (
       |  SELECT (max(o_orderkey) // 3) AS lo,
       |         (max(o_orderkey) // 3) + (max(o_orderkey) // 20) AS hi
       |  FROM orders)
       |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("CASE WHEN o_orderkey BETWEEN lo AND hi " +
      "THEN o_totalprice + 1.0 ELSE o_totalprice END")} AS total_price,
       |  CAST(count(*) FILTER (WHERE o_orderkey BETWEEN lo AND hi)
       |    AS BIGINT) AS n_upd,
       |  TRUE AS pruned, TRUE AS time_travel_ok
       |FROM orders, rng
       |GROUP BY 1""".stripMargin

  private[graft] val sqlDeleteSql =
    s"""WITH rng AS (
       |  SELECT (max(o_orderkey) // 10) AS lo,
       |         (max(o_orderkey) // 10) + (max(o_orderkey) // 20) AS hi
       |  FROM orders)
       |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       |  ${sqlSum2("o_totalprice")} AS total_price,
       |  TRUE AS pruned, TRUE AS time_travel_ok
       |FROM orders, rng
       |WHERE o_orderkey NOT BETWEEN lo AND hi
       |GROUP BY 1""".stripMargin

  /** q315: SQL TIME TRAVEL — q301's three-version read as SQL text:
    * `SELECT ... FROM graft.<t> VERSION AS OF v` per version, UNION ALL'd.
    * The versions were produced by REAL snapshot-native mutations
    * (merge then delete); the oracle recomputes each version's content
    * from the change model, so a time-travel read that leaked a later
    * version's rows — or resolved the wrong manifest — hash-fails. */
  def sqlTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    val (root, _, _, _) = Lakehouse.buildVersionedStore(spark, dir)
    GraftCatalog.register(spark, "sql_orders_tt", root)
    spark.sql((1 to 3).map { v =>
      s"""SELECT CAST($v AS BIGINT) AS version, o_orderstatus,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |    AS total_price
         |FROM graft.sql_orders_tt VERSION AS OF $v
         |GROUP BY o_orderstatus""".stripMargin
    }.mkString("\nUNION ALL\n"))
  }

  private[graft] val sqlTimeTravelSql = Lakehouse.stagesSql(
    s"""SELECT CAST(version AS BIGINT) AS version, o_orderstatus,
       |  CAST(n AS BIGINT) AS n, total_price
       |FROM (
       |  SELECT 1 AS version, o_orderstatus, count(*) AS n,
       |    ${sqlSum2("price")} AS total_price FROM v1 GROUP BY 2
       |  UNION ALL
       |  SELECT 2, o_orderstatus, count(*), ${sqlSum2("price")}
       |  FROM v2 GROUP BY 2
       |  UNION ALL
       |  SELECT 3, o_orderstatus, count(*), ${sqlSum2("price")}
       |  FROM v3 GROUP BY 2) s""".stripMargin)

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q309_sql_merge", CatalogQueries.catMerge,
      Some(Lakehouse.snapMergeSql)),
    QueryDef("q311_sql_delete", CatalogQueries.catDelete, Some(sqlDeleteSql)),
    QueryDef("q314_sql_update", CatalogQueries.catUpdate, Some(sqlUpdateSql)),
    QueryDef("q315_sql_time_travel", sqlTimeTravel, Some(sqlTimeTravelSql)),
    QueryDef("q318_sql_merge_bysource", sqlMergeBySource,
      Some(sqlMergeBySourceSql)))
}
