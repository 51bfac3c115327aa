package graft

import org.scalatest.funsuite.AnyFunSuite

/** The V2 TableCatalog surface (graft.catalog): pure `spark.sql` text
  * against `graft.<t>` — reads, native VERSION AS OF, INSERT INTO, and
  * group-based copy-on-write DELETE/UPDATE/MERGE through Spark's own
  * analyzer and rewrite rules, committed through the snapshot manifest
  * with OCC. No name→root maps, no plan substitution. */
class CatalogSpec extends AnyFunSuite {
  import TestSpark.spark
  import org.apache.spark.sql.functions._
  import spark.implicits._
  import graft.catalog.GraftCatalog
  import graft.sources.SnapshotStore

  /** A committed snapshot table (k BIGINT, v STRING, p DOUBLE), keys
    * 1..100 range-clustered into 4 files, registered as graft.<name>.
    * Returns its root. */
  private def freshTable(name: String): String = {
    val out = java.nio.file.Files.createTempDirectory("catspec")
    val root = s"$out/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val base = (1L to 100L).map(k => (k, s"v$k", k * 1.0)).toDF("k", "v", "p")
      .repartitionByRange(4, col("k"))
    SnapshotStore.commit(spark, root,
      SnapshotStore.writeData(spark, root, base, "base"), 0)
    GraftCatalog.register(spark, name, root)
    root
  }

  test("SELECT and VERSION AS OF resolve through the catalog; unknown idents decline") {
    val root = freshTable("t_read")
    assert(spark.sql("SELECT count(*) AS n FROM graft.t_read").head().getLong(0) == 100)
    assert(spark.sql(
      "SELECT sum(k) AS s FROM graft.t_read WHERE k <= 10").head().getLong(0) == 55)
    // a second commit; bare name sees v2, VERSION AS OF 1 the original
    val extra = Seq((999L, "x", 0.5)).toDF("k", "v", "p")
    SnapshotStore.commit(spark, root,
      SnapshotStore.files(spark, root) ++
        SnapshotStore.writeData(spark, root, extra, "extra"), 1)
    assert(spark.sql("SELECT count(*) AS n FROM graft.t_read").head().getLong(0) == 101)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_read VERSION AS OF 1").head().getLong(0) == 100)
    // decline pins: unknown table, unknown version
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft.no_such_table").collect()
    }
    assert(e.getCondition != null && e.getCondition.contains("NOT_FOUND"))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM graft.t_read VERSION AS OF 99").collect()
    }
  }

  test("INSERT INTO appends new files and commits a new version; old files untouched") {
    val root = freshTable("t_ins")
    val before = SnapshotStore.files(spark, root).toSet
    spark.sql("INSERT INTO graft.t_ins VALUES (200L, 'new', 2.5), (201L, 'new', 3.5)")
    assert(SnapshotStore.currentVersion(spark, root) == 2)
    val after = SnapshotStore.files(spark, root).toSet
    assert(before.subsetOf(after)) // append never rewrites
    assert(spark.sql("SELECT count(*) AS n FROM graft.t_ins").head().getLong(0) == 102)
    assert(spark.sql(
      "SELECT v FROM graft.t_ins WHERE k = 200").head().getString(0) == "new")
  }

  test("DELETE FROM is group-based copy-on-write: only covering files rewritten, time travel intact") {
    val root = freshTable("t_del")
    val before = SnapshotStore.files(spark, root)
    spark.sql("DELETE FROM graft.t_del WHERE k BETWEEN 10 AND 20")
    assert(SnapshotStore.currentVersion(spark, root) == 2)
    val after = SnapshotStore.files(spark, root)
    val kept = before.toSet intersect after.toSet
    // runtime group filtering: the keys 10..20 live in 1-2 of the 4
    // range-clustered files; the others must be carried by reference
    assert(kept.nonEmpty, s"no original file survived: before=$before after=$after")
    assert(spark.sql("SELECT count(*) AS n FROM graft.t_del").head().getLong(0) == 89)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_del WHERE k BETWEEN 10 AND 20").head().getLong(0) == 0)
    // v1 still reproduces the pre-delete table
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_del VERSION AS OF 1").head().getLong(0) == 100)
  }

  test("UPDATE rewrites only matching groups; assignments reference the target") {
    val root = freshTable("t_upd")
    val before = SnapshotStore.files(spark, root)
    spark.sql("UPDATE graft.t_upd SET p = p + 0.5, v = 'U' WHERE k BETWEEN 30 AND 40")
    val after = SnapshotStore.files(spark, root)
    assert((before.toSet intersect after.toSet).nonEmpty)
    val r = spark.sql(
      """SELECT count(*) AS n, sum(CAST(p AS DECIMAL(18,2))) AS s
        |FROM graft.t_upd WHERE v = 'U'""".stripMargin).head()
    assert(r.getLong(0) == 11)
    // sum(30..40) + 11*0.5 = 385 + 5.5
    assert(r.getDecimal(1).doubleValue() == 390.5)
    assert(spark.sql("SELECT count(*) AS n FROM graft.t_upd").head().getLong(0) == 100)
  }

  test("MERGE INTO: update/delete/insert through Spark's rewrite; carry-over rows kept") {
    val root = freshTable("t_mrg")
    Seq((50L, "up", 0.25), (51L, "del", 0.0), (300L, "new", 9.5))
      .toDF("k", "op", "np").createOrReplaceTempView("cat_changes")
    val before = SnapshotStore.files(spark, root)
    spark.sql(
      """MERGE INTO graft.t_mrg t USING cat_changes s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'del' THEN DELETE
        |WHEN MATCHED AND s.op = 'up' THEN UPDATE SET p = t.p + s.np, v = 'M'
        |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.op, s.np)
        |""".stripMargin)
    val after = SnapshotStore.files(spark, root)
    assert((before.toSet intersect after.toSet).nonEmpty) // group-filtered
    val t = spark.table("graft.t_mrg")
    assert(t.count() == 100) // -1 delete +1 insert
    assert(t.where(col("k") === 51L).isEmpty)
    assert(t.where(col("k") === 50L).select(col("v"), col("p"))
      .head().toSeq == Seq("M", 50.25))
    assert(t.where(col("k") === 300L).select(col("v")).head().getString(0) == "new")
    // carry-over: a row in the affected file with no source match survives
    assert(t.where(col("k") === 52L).select(col("v")).head().getString(0) == "v52")
  }

  test("MERGE raises on source cardinality violation through Spark's own check") {
    freshTable("t_card")
    Seq((5L, 1.0), (5L, 2.0)).toDF("k", "np").createOrReplaceTempView("dup_src")
    val e = intercept[Throwable] {
      spark.sql(
        """MERGE INTO graft.t_card t USING dup_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET p = s.np""".stripMargin)
    }
    assert(e.getMessage.toUpperCase.contains("CARDINALITY") ||
      e.getMessage.contains("multiple rows"))
  }

  /** A committed snapshot table (k BIGINT, v STRING, p DOUBLE), keys 1..6
    * with v NULL at k = 5, two files, registered as graft.<name>. Returns
    * its root. */
  private def nullTable(name: String): String = {
    val out = java.nio.file.Files.createTempDirectory("catspec_null")
    val root = s"$out/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val base = (1L to 6L).map(k => (k, if (k == 5) null else s"v$k", k * 1.0))
      .toDF("k", "v", "p").repartitionByRange(2, col("k"))
    SnapshotStore.commit(spark, root,
      SnapshotStore.writeData(spark, root, base, "base"), 0)
    GraftCatalog.register(spark, name, root)
    root
  }

  private def rowsOf(name: String): Map[Long, (Option[String], Double)] =
    spark.table(s"graft.$name").collect().map(r =>
      r.getLong(0) -> ((Option(r.getString(1)), r.getDouble(2)))).toMap

  test("MERGE clause order is first-match-wins") {
    freshTable("t_first")
    Seq((2L, "up", 20.0), (4L, "del", 0.0), (99L, "up", 0.5))
      .toDF("k", "op", "np").createOrReplaceTempView("first_src")
    spark.sql(
      """MERGE INTO graft.t_first t USING first_src s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'del' THEN DELETE
        |WHEN MATCHED AND s.op = 'up' THEN UPDATE SET p = t.p + s.np, v = 'U'
        |WHEN MATCHED THEN UPDATE SET v = 'NEVER'
        |""".stripMargin)
    val t = rowsOf("t_first")
    assert(!t.contains(4L))
    assert(t(2L) == ((Some("U"), 22.0))) // second clause won, third never ran
    assert(t(99L) == ((Some("U"), 99.5)))
    assert(t.values.forall(_._1 != Some("NEVER")))
    assert(t.size == 99)
  }

  test("MERGE INSERT * maps source columns by name with the store-assignment cast") {
    freshTable("t_star")
    // source columns in another order; k and p arrive as INT
    Seq(("v7", 7, 107), ("x", 0, 2)).toDF("v", "p", "k")
      .createOrReplaceTempView("star_src")
    spark.sql(
      """MERGE INTO graft.t_star t USING star_src s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val t = spark.table("graft.t_star")
    assert(t.schema("k").dataType.typeName == "long")
    assert(t.schema("p").dataType.typeName == "double")
    assert(t.count() == 101)
    assert(rowsOf("t_star")(107L) == ((Some("v7"), 7.0)))
    // matched row 2 had no matched clause: carried unchanged
    assert(rowsOf("t_star")(2L) == ((Some("v2"), 2.0)))
  }

  test("DELETE is null-safe: a row whose predicate is NULL survives") {
    nullTable("t_nulldel")
    // v = 'v2' is TRUE for row 2 only and NULL for row 5
    spark.sql("DELETE FROM graft.t_nulldel WHERE v = 'v2'")
    assert(rowsOf("t_nulldel").keySet == Set(1L, 3L, 4L, 5L, 6L))
  }

  test("UPDATE carries a row whose predicate is NULL; unknown columns raise") {
    nullTable("t_nullupd")
    spark.sql("UPDATE graft.t_nullupd SET p = p * 2, v = 'U' WHERE v = 'v2'")
    val t = rowsOf("t_nullupd")
    assert(t(2L) == ((Some("U"), 4.0)))
    assert(t(5L) == ((None, 5.0)))
    assert(t(1L) == ((Some("v1"), 1.0)))
    assert(t.size == 6)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("UPDATE graft.t_nullupd SET nope = 1 WHERE k = 1")
    }
  }

  test("DELETE matching nothing commits a new version that keeps every file") {
    val root = nullTable("t_noop")
    spark.sql("DELETE FROM graft.t_noop WHERE k = 12345")
    assert(SnapshotStore.currentVersion(spark, root) == 2)
    assert(spark.table("graft.t_noop").count() == 6)
    val v1 = SnapshotStore.files(spark, root, 1).toSet
    val added = SnapshotStore.files(spark, root, 2).toSet -- v1
    assert(v1.subsetOf(SnapshotStore.files(spark, root, 2).toSet))
    // the empty rewrite stages no file, so it publishes none
    assert(added.isEmpty)
  }

  test("a DELETE that empties exactly one file replaces that file with nothing") {
    val root = freshTable("t_delfile")
    val v1 = SnapshotStore.files(spark, root)
    val victim = v1.head
    val b = spark.read.parquet(victim).agg(min(col("k")), max(col("k")),
      count(lit(1))).head()
    // range clustering: the victim's key interval holds only its own rows
    spark.sql(s"DELETE FROM graft.t_delfile WHERE k BETWEEN ${b.getLong(0)} " +
      s"AND ${b.getLong(1)}")
    assert(SnapshotStore.currentVersion(spark, root) == 2)
    assert(SnapshotStore.files(spark, root).toSet == v1.toSet - victim)
    assert(spark.table("graft.t_delfile").count() == 100 - b.getLong(2))
  }

  test("a DELETE of every row of a pre-DDL root keeps its schema readable") {
    val root = freshTable("t_delall")
    assert(SnapshotStore.schemaOf(spark, root).isEmpty) // footers only
    spark.sql("DELETE FROM graft.t_delall WHERE k > 0")
    assert(SnapshotStore.files(spark, root).isEmpty)
    val t = spark.table("graft.t_delall")
    assert(t.columns.toSeq == Seq("k", "v", "p"))
    assert(t.count() == 0)
    assert(SnapshotStore.read(spark, root).count() == 0)
    // v1 still reads the pre-delete table
    assert(spark.sql(
      "SELECT count(*) FROM graft.t_delall VERSION AS OF 1").head().getLong(0) == 100)
  }

  test("catalog writer under task retry: only the committed attempt publishes") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.unsafe.types.UTF8String
    val root = freshTable("t_retry")
    val schema = spark.table("graft.t_retry").schema
    val tbl = new graft.catalog.SnapshotTable(spark, "graft.t_retry", root,
      SnapshotStore.currentVersion(spark, root))
    val info = org.apache.spark.sql.connector.write.LogicalWriteInfoImpl(
      "retryq", schema,
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty(),
      java.util.Optional.empty[org.apache.spark.sql.types.StructType](),
      java.util.Optional.empty[org.apache.spark.sql.types.StructType]())
    val bw = new graft.catalog.SnapshotWrite(spark, tbl, info, None).toBatch
    val fac = bw.createBatchWriterFactory(null)
    // two attempts of partition 0 write the same rows; A aborts, B commits
    def attempt(taskId: Long) = {
      val w = fac.createWriter(0, taskId)
      (500L to 504L).foreach(k =>
        w.write(InternalRow(k, UTF8String.fromString(s"r$k"), 0.5)))
      w
    }
    val a = attempt(10L); a.abort(); a.close()
    val b = attempt(11L); val msgB = b.commit(); b.close()
    bw.commit(Array(msgB))
    assert(SnapshotStore.currentVersion(spark, root) == 2)
    val added = SnapshotStore.files(spark, root, 2).toSet --
      SnapshotStore.files(spark, root, 1)
    assert(added.size == 1)
    assert(spark.read.parquet(added.toSeq: _*).count() == 5)
    val fresh = spark.table("graft.t_retry").where(col("k") >= 500)
    assert(fresh.count() == 5 && fresh.select("k").distinct().count() == 5)
    val leftovers = new java.io.File(root).list().filter(_.startsWith("_graft_stage"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
  }

  test("MERGE NOT MATCHED BY SOURCE: matched rows never take a by-source clause") {
    nullTable("t_bysrc")
    Seq((2L, 20.0), (4L, 40.0)).toDF("k", "np").createOrReplaceTempView("bysrc_src")
    spark.sql(
      """MERGE INTO graft.t_bysrc t USING bysrc_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = 'HIT'
        |WHEN NOT MATCHED BY SOURCE AND t.k >= 6 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t.k <= 2 THEN UPDATE SET v = 'ORPHAN'
        |""".stripMargin)
    assert(rowsOf("t_bysrc").map { case (k, (v, _)) => k -> v } == Map(
      1L -> Some("ORPHAN"), // unmatched, k <= 2
      2L -> Some("HIT"), // matched: the k <= 2 by-source clause must not fire
      3L -> Some("v3"), // unmatched, no clause applies: carried
      4L -> Some("HIT"),
      5L -> None)) // k = 6 deleted; 5 carried with its NULL v
  }

  test("by-source MERGE replaces only matched files and files holding by-source rows") {
    val root = freshTable("t_bsprune")
    val before = SnapshotStore.files(spark, root)
    assert(before.size == 4)
    def keysOf(f: String) =
      spark.read.parquet(f).select(col("k")).collect().map(_.getLong(0)).toSet
    // the matched key 10 and the by-source keys (<= 2, > 95)
    val touched = before.filter(f => keysOf(f).exists(k => k == 10 || k <= 2 || k > 95))
    assert(touched.size == 2)
    Seq(10L).toDF("k").createOrReplaceTempView("bsprune_src")
    spark.sql(
      """MERGE INTO graft.t_bsprune t USING bsprune_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = 'HIT'
        |WHEN NOT MATCHED BY SOURCE AND t.k > 95 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE AND t.k <= 2 THEN UPDATE SET v = 'OLD'
        |""".stripMargin)
    val after = SnapshotStore.files(spark, root).toSet
    assert(before.toSet -- after == touched.toSet)
    val t = rowsOf("t_bsprune")
    assert(t.size == 95 && t(10L)._1.contains("HIT") && t(1L)._1.contains("OLD"))
    assert(t(50L)._1.contains("v50"))

    // an unconditioned by-source clause may change any row: all 4 replaced
    val root2 = freshTable("t_bsall")
    val before2 = SnapshotStore.files(spark, root2).toSet
    spark.sql(
      """MERGE INTO graft.t_bsall t USING bsprune_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = 'HIT'
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'OLD'
        |""".stripMargin)
    assert((before2 intersect SnapshotStore.files(spark, root2).toSet).isEmpty)
    assert(rowsOf("t_bsall").values.count(_._1.contains("OLD")) == 99)
  }

  test("OCC: a commit landing between load and publish fails the statement, table stays consistent") {
    val root = freshTable("t_occ")
    // load the table at v1 by planning a DELETE lazily... instead simulate:
    // commit v2 out-of-band, then run a DML that loaded v2 and raced v3
    val tbl = new graft.catalog.SnapshotTable(spark, "graft.t_occ", root, 1)
    // an out-of-band commit moves the table to v2
    SnapshotStore.commit(spark, root, SnapshotStore.files(spark, root), 1)
    // a write based on the stale v1 must conflict
    intercept[SnapshotStore.CommitConflictException] {
      SnapshotStore.commit(spark, root, tbl.files, tbl.snapVersion)
    }
    assert(SnapshotStore.currentVersion(spark, root) == 2)
  }

  test("catalog DML carries non-replaced manifest lines verbatim (partition spec survives)") {
    val out = java.nio.file.Files.createTempDirectory("catspec_part")
    val root = s"$out/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val df = (1L to 40L).map(k => (k, if (k % 2 == 0) "a" else "b", k.toDouble))
      .toDF("k", "g", "p")
    SnapshotStore.commit(spark, root,
      SnapshotStore.writeDataPartitioned(spark, root, df, "g", 2, "k", "v1"), 0)
    GraftCatalog.register(spark, "t_part", root)
    spark.sql("DELETE FROM graft.t_part WHERE k BETWEEN 2 AND 6")
    assert(spark.table("graft.t_part").count() == 35)
    // the spec meta line survives the catalog commit...
    assert(SnapshotStore.partitionSpecOf(spark, root).contains("g"))
    // ...and untouched files keep their partition values: pruning on the
    // untouched partition admits strictly fewer files than the manifest
    val ga = SnapshotStore.filesWherePartition(spark, root, "g", "b")
    assert(ga.size < SnapshotStore.files(spark, root).size)
    assert(spark.read.parquet(ga: _*).where(col("g") === "b").count() ==
      spark.table("graft.t_part").where(col("g") === "b").count())
  }

  test("merge-on-read through the catalog: vectors apply in the scan; DML cannot resurrect tombstones") {
    val root = freshTable("t_mor")
    // v2: tombstone k in [10, 15] merge-on-read (no file rewritten)
    val dv = SnapshotStore.writeData(spark, root,
      SnapshotStore.tombstonesWhere(spark, root, col("k").between(10, 15))
        .coalesce(1), "dv")
    SnapshotStore.commit(spark, root,
      SnapshotStore.files(spark, root) ++ dv.map(SnapshotStore.dvLine), 1)
    // reads apply the vector (plain, aggregate, and filtered paths)
    assert(spark.sql("SELECT count(*) AS n FROM graft.t_mor").head().getLong(0) == 94)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_mor WHERE k BETWEEN 8 AND 20")
      .head().getLong(0) == 7) // 8,9,16..20
    assert(spark.sql("SELECT sum(k) AS s FROM graft.t_mor").head().getLong(0) ==
      (1L to 100L).sum - (10L to 15L).sum)
    // VERSION AS OF 1 predates the vector
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_mor VERSION AS OF 1").head().getLong(0) == 100)
    // catalog DML over the MoR table: the rewrite reads LIVE rows only,
    // so replaced files cannot resurrect their tombstones, and untouched
    // files keep theirs applying
    spark.sql("UPDATE graft.t_mor SET v = 'U' WHERE k = 20")
    val t = spark.table("graft.t_mor")
    assert(t.count() == 94)
    assert(t.where(col("k").between(10, 15)).isEmpty) // still dead
    assert(t.where(col("k") === 20L).select(col("v")).head().getString(0) == "U")
    // DELETE composes with the remaining vectors too
    spark.sql("DELETE FROM graft.t_mor WHERE k BETWEEN 90 AND 100")
    assert(spark.table("graft.t_mor").count() == 83)
    assert(spark.table("graft.t_mor").where(col("k").between(10, 15)).isEmpty)
  }

  private def freshWarehouse(): String = {
    val w = java.nio.file.Files.createTempDirectory("catspec_wh").toString
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", w)
    w
  }

  test("CREATE TABLE: empty table exists under its declared schema; INSERT commits; CTAS works") {
    val w = freshWarehouse()
    spark.sql("CREATE TABLE graft.ddl_a (k BIGINT, v STRING)")
    assert(spark.table("graft.ddl_a").count() == 0)
    assert(spark.table("graft.ddl_a").columns.toSeq == Seq("k", "v"))
    spark.sql("INSERT INTO graft.ddl_a VALUES (1L, 'x'), (2L, 'y')")
    assert(spark.table("graft.ddl_a").count() == 2)
    assert(SnapshotStore.currentVersion(spark, s"$w/ddl_a") == 2)
    // duplicate create declines
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("CREATE TABLE graft.ddl_a (z BIGINT)")
    }
    // CTAS: create + append in one statement
    spark.sql("CREATE TABLE graft.ddl_b AS SELECT k, v FROM graft.ddl_a WHERE k = 1")
    assert(spark.table("graft.ddl_b").collect().map(_.getLong(0)).toSeq == Seq(1L))
    // PARTITIONED BY records the spec in the manifest
    spark.sql("CREATE TABLE graft.ddl_c (k BIGINT, g STRING) PARTITIONED BY (g)")
    assert(SnapshotStore.partitionSpecOf(spark, s"$w/ddl_c").contains("g"))
  }

  test("ALTER TABLE ADD COLUMN evolves by commit: old files null-fill, time travel keeps old schema") {
    freshWarehouse()
    spark.sql("CREATE TABLE graft.ddl_ev (k BIGINT)")
    spark.sql("INSERT INTO graft.ddl_ev VALUES (1L), (2L)")
    spark.sql("ALTER TABLE graft.ddl_ev ADD COLUMN note STRING")
    spark.sql("INSERT INTO graft.ddl_ev VALUES (3L, 'n3')")
    val t = spark.table("graft.ddl_ev")
    assert(t.columns.toSeq == Seq("k", "note"))
    assert(t.count() == 3)
    assert(t.where(col("note").isNull).count() == 2) // old files null-fill
    assert(t.where(col("k") === 3L).head().getString(1) == "n3")
    // the pre-evolution version reads under ITS schema
    assert(spark.sql("SELECT * FROM graft.ddl_ev VERSION AS OF 2")
      .columns.toSeq == Seq("k"))
    // declines: retype (narrowing rewrites history)
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.ddl_ev ALTER COLUMN note TYPE BIGINT")
    }
  }

  test("RENAME/DROP COLUMN are metadata commits: files resolve by write-epoch names") {
    freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.ddl_rn")
    spark.sql("CREATE TABLE graft.ddl_rn (k BIGINT, note STRING)")
    spark.sql("INSERT INTO graft.ddl_rn VALUES (1L, 'a'), (2L, 'b')") // sv=2
    val root = spark.conf.get("spark.sql.catalog.graft.warehouse") + "/ddl_rn"
    val before = SnapshotStore.files(spark, root).toSet
    spark.sql("ALTER TABLE graft.ddl_rn RENAME COLUMN note TO label") // v3
    // pure metadata: zero data files touched
    assert(SnapshotStore.files(spark, root).toSet == before)
    assert(spark.table("graft.ddl_rn").columns.toSeq == Seq("k", "label"))
    // old files' data resolves under the new name
    assert(spark.sql("SELECT label FROM graft.ddl_rn WHERE k = 1")
      .head().getString(0) == "a")
    spark.sql("INSERT INTO graft.ddl_rn VALUES (3L, 'c')") // sv=4: 'label'
    // mixed epochs read together; pushdown on the renamed column correct
    assert(spark.table("graft.ddl_rn").count() == 3)
    assert(spark.sql("SELECT k FROM graft.ddl_rn WHERE label = 'a'")
      .head().getLong(0) == 1L)
    assert(spark.sql("SELECT k FROM graft.ddl_rn WHERE label = 'c'")
      .head().getLong(0) == 3L)
    // time travel reads the pre-rename version under ITS OWN name
    assert(spark.sql("SELECT * FROM graft.ddl_rn VERSION AS OF 2")
      .columns.toSeq == Seq("k", "note"))
    // chained rename: both epochs still resolve
    spark.sql("ALTER TABLE graft.ddl_rn RENAME COLUMN label TO tag") // v5
    assert(spark.sql("SELECT tag FROM graft.ddl_rn WHERE k = 2")
      .head().getString(0) == "b")
    // COW UPDATE across epochs: the rewrite reads epoch-mapped rows
    spark.sql("UPDATE graft.ddl_rn SET tag = 'x' WHERE k = 1")
    assert(spark.sql("SELECT tag FROM graft.ddl_rn WHERE k = 1")
      .head().getString(0) == "x")
    assert(spark.table("graft.ddl_rn").count() == 3)
    // DROP COLUMN: metadata only; re-ADDING an OLD PHYSICAL NAME must
    // null-fill, never resurrect the dropped field's bytes
    spark.sql("ALTER TABLE graft.ddl_rn DROP COLUMN tag")
    assert(spark.table("graft.ddl_rn").columns.toSeq == Seq("k"))
    assert(spark.table("graft.ddl_rn").count() == 3)
    spark.sql("ALTER TABLE graft.ddl_rn ADD COLUMN label DOUBLE")
    assert(spark.table("graft.ddl_rn").where(col("label").isNotNull).isEmpty,
      "re-added column resurrected a dropped epoch's values")
    spark.sql("INSERT INTO graft.ddl_rn VALUES (9L, 2.5)")
    assert(spark.sql("SELECT label FROM graft.ddl_rn WHERE k = 9")
      .head().getDouble(0) == 2.5)
    // declines: rename to a taken name; drop of the last column
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.ddl_rn RENAME COLUMN k TO label")
    }
    spark.sql("ALTER TABLE graft.ddl_rn DROP COLUMN label")
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.ddl_rn DROP COLUMN k")
    }
  }

  test("DROP TABLE removes the root; analyzer declines afterwards; IF EXISTS tolerates unknown") {
    val w = freshWarehouse()
    spark.sql("CREATE TABLE graft.ddl_d (k BIGINT)")
    spark.sql("INSERT INTO graft.ddl_d VALUES (1L)")
    val root = java.nio.file.Paths.get(s"$w/ddl_d")
    assert(java.nio.file.Files.exists(root))
    spark.sql("DROP TABLE graft.ddl_d")
    assert(!java.nio.file.Files.exists(root))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.table("graft.ddl_d").collect()
    }
    spark.sql("DROP TABLE IF EXISTS graft.ddl_d") // no-op, no raise
  }

  test("INSERT OVERWRITE truncates data lines, keeps schema + history; vectors die with their data") {
    val root = freshTable("t_ovw")
    // add a vector so the overwrite must drop it with the data it refers to
    val dv = SnapshotStore.writeData(spark, root,
      SnapshotStore.tombstonesWhere(spark, root, col("k") <= 5).coalesce(1), "dv")
    SnapshotStore.commit(spark, root,
      SnapshotStore.files(spark, root) ++ dv.map(SnapshotStore.dvLine), 1)
    assert(spark.table("graft.t_ovw").count() == 95)
    spark.sql("INSERT OVERWRITE graft.t_ovw VALUES (500L, 'o', 1.5)")
    val t = spark.table("graft.t_ovw")
    assert(t.count() == 1 && t.head().getLong(0) == 500L)
    assert(SnapshotStore.deleteVectors(spark, root).isEmpty)
    // history survives the overwrite
    assert(spark.sql("SELECT count(*) AS n FROM graft.t_ovw VERSION AS OF 1")
      .head().getLong(0) == 100)
  }

  test("TIMESTAMP AS OF resolves by commit time; an instant before the first commit declines") {
    val root = freshTable("t_ts")
    SnapshotStore.commit(spark, root,
      SnapshotStore.files(spark, root) ++ SnapshotStore.writeData(spark, root,
        Seq((999L, "x", 0.5)).toDF("k", "v", "p"), "x2"), 1)
    // pin commit times a day apart (deterministic, no sleeps)
    val day = 86400000L
    val t0 = java.time.LocalDateTime.of(2026, 1, 1, 0, 0)
      .atZone(java.time.ZoneId.of(spark.conf.get(
        "spark.sql.session.timeZone"))).toInstant.toEpochMilli
    SnapshotStore.setCommitTime(spark, root, 1, t0)
    SnapshotStore.setCommitTime(spark, root, 2, t0 + day)
    def nAt(ts: String): Long = spark.sql(
      s"SELECT count(*) AS n FROM graft.t_ts TIMESTAMP AS OF '$ts'")
      .head().getLong(0)
    assert(nAt("2026-01-01 12:00:00") == 100) // between commits -> v1
    assert(nAt("2026-01-02 12:00:00") == 101) // after both -> v2
    assert(nAt("2026-01-01 00:00:00") == 100) // exactly at commit -> v1
    intercept[org.apache.spark.sql.AnalysisException] {
      nAt("2025-12-31 23:59:59") // before the table existed
    }
  }

  test("streaming write: each epoch is one manifest commit; replayed epochs are no-ops") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    freshWarehouse()
    spark.sql("CREATE TABLE graft.strm (k BIGINT, v STRING)")
    val ckpt = java.nio.file.Files.createTempDirectory("catspec_ck").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .toTable("graft.strm")
    try {
      in.addData((1L, "a"), (2L, "b")); q.processAllAvailable()
      assert(spark.table("graft.strm").count() == 2)
      val vAfter1 = SnapshotStore.currentVersion(spark, s"${spark.conf.get(
        "spark.sql.catalog.graft.warehouse")}/strm")
      in.addData((3L, "c")); q.processAllAvailable()
      assert(spark.table("graft.strm").count() == 3)
      assert(SnapshotStore.currentVersion(spark, s"${spark.conf.get(
        "spark.sql.catalog.graft.warehouse")}/strm") > vAfter1)
    } finally q.stop()
    val root = s"${spark.conf.get("spark.sql.catalog.graft.warehouse")}/strm"
    // every committed version reads as a whole number of epochs: counts
    // ascend version-over-version (data-bearing versions only here)
    val counts = SnapshotStore.versions(spark, root).map(v =>
      SnapshotStore.read(spark, root, v).count())
    assert(counts == counts.sorted)
  }

  test("streaming epoch replay is a manifest no-op (exactly-once from at-least-once)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.unsafe.types.UTF8String
    val root = freshTable("t_replay")
    val schema = spark.table("graft.t_replay").schema
    val tbl = new graft.catalog.SnapshotTable(spark, "graft.t_replay", root,
      SnapshotStore.currentVersion(spark, root))
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat().prepareWrite(spark, job,
      Map.empty[String, String], schema)
    val sw = new graft.catalog.SnapshotStreamingWrite(tbl, schema, "rpq", owf,
      new org.apache.spark.util.SerializableConfiguration(job.getConfiguration))
    val fac = sw.createStreamingWriterFactory(null)
    def stage(taskId: Long, k: Long) = {
      val w = fac.createWriter(0, taskId, 7L)
      w.write(InternalRow(k, UTF8String.fromString(s"e$k"), 0.5))
      w.commit()
    }
    sw.commit(7L, Array(stage(0L, 500L)))
    val vAfter = SnapshotStore.currentVersion(spark, root)
    assert(SnapshotStore.read(spark, root).count() == 101)
    assert(SnapshotStore.epochOf(spark, root, "rpq").contains(7L))
    // the SAME epoch redelivered (fresh staged file): must not commit
    sw.commit(7L, Array(stage(1L, 501L)))
    assert(SnapshotStore.currentVersion(spark, root) == vAfter)
    assert(SnapshotStore.read(spark, root).count() == 101)
    // an EARLIER epoch redelivered: also a no-op
    sw.commit(6L, Array(stage(2L, 502L)))
    assert(SnapshotStore.currentVersion(spark, root) == vAfter)
    // the next epoch commits normally
    sw.commit(8L, Array(stage(3L, 503L)))
    assert(SnapshotStore.read(spark, root).count() == 102)
    assert(SnapshotStore.epochOf(spark, root, "rpq").contains(8L))
  }

  test("catalog writes report their rows and bytes as task output metrics") {
    import java.util.concurrent.atomic.AtomicLong
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.om_t")
    spark.sql("CREATE TABLE graft.om_t (k BIGINT, g STRING) PARTITIONED BY (g)")
    val root = s"$w/om_t"
    val (recs, bytes) = (new AtomicLong, new AtomicLong)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          recs.addAndGet(m.outputMetrics.recordsWritten)
          bytes.addAndGet(m.outputMetrics.bytesWritten)
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sql(
        """INSERT INTO graft.om_t
          |SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g
          |FROM range(1, 41)""".stripMargin)
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    assert(recs.get == 40)
    assert(bytes.get == SnapshotStore.files(spark, root)
      .map(f => new java.io.File(SnapshotStore.uriPath(f)).length).sum)
  }

  test("streaming write declines an epoch whose table schema evolved mid-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.srn")
    spark.sql("CREATE TABLE graft.srn (k BIGINT, v STRING)")
    val ckpt = java.nio.file.Files.createTempDirectory("catspec_ck").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("k", "v").writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(0))
      .toTable("graft.srn")
    try {
      in.addData((1L, "a")); q.processAllAvailable()
      spark.sql("ALTER TABLE graft.srn RENAME COLUMN v TO w")
      in.addData((2L, "b"))
      // the epoch's file was written with column `v`: committing it under
      // the renamed schema would read its `w` as NULL
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val causes = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(causes.exists {
        case c: SnapshotStore.CommitConflictException =>
          c.getMessage.contains("schema")
        case _ => false
      }, causes.map(_.toString).mkString(" <- "))
    } finally q.stop()
    val t = spark.table("graft.srn")
    assert(t.columns.toSeq == Seq("k", "w"))
    assert(t.where(col("w").isNull).isEmpty)
    assert(t.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a")))
    // the declined epoch's published files were deleted, not leaked
    val root = s"$w/srn"
    assert(new java.io.File(root).list().filter(_.startsWith("strm_")).toSet ==
      SnapshotStore.files(spark, root).map(_.split('/').last).toSet)
  }

  test("MoR write mode: catalog DELETE lands as delete vectors — no data file rewritten") {
    val root = freshTable("t_mord")
    SnapshotStore.setWriteMode(spark, root, "mor")
    GraftCatalog.register(spark, "t_mord", root) // reload sees v2
    val dataBefore = SnapshotStore.files(spark, root).toSet
    spark.sql("DELETE FROM graft.t_mord WHERE k BETWEEN 10 AND 20")
    // cost ∝ changed rows: the data file set is IDENTICAL, only vectors added
    assert(SnapshotStore.files(spark, root).toSet == dataBefore)
    assert(SnapshotStore.deleteVectors(spark, root).nonEmpty)
    assert(spark.table("graft.t_mord").count() == 89)
    assert(spark.table("graft.t_mord").where(col("k").between(10, 20)).isEmpty)
    // time travel predates the vectors
    assert(spark.sql("SELECT count(*) AS n FROM graft.t_mord VERSION AS OF 2")
      .head().getLong(0) == 100)
    // a second MoR delete STACKS vectors; already-dead rows cannot re-match
    spark.sql("DELETE FROM graft.t_mord WHERE k BETWEEN 15 AND 30")
    assert(SnapshotStore.files(spark, root).toSet == dataBefore)
    assert(spark.table("graft.t_mord").count() == 79)
    // the non-catalog read path applies the same vectors
    assert(SnapshotStore.read(spark, root).count() == 79)
    // the delta writer RECORDED its coverage: dvCoverage resolves from
    // manifest lines alone (zero jobs at table load) and matches what
    // the vector files actually contain
    val fromManifest = SnapshotStore.dvCoverage(spark, root)
    val fromVectors = spark.read
      .parquet(SnapshotStore.deleteVectors(spark, root): _*)
      .select(col("file")).distinct().collect()
      .map(r => SnapshotStore.uriPath(r.getString(0))).toSet
    assert(fromManifest.keySet == fromVectors,
      s"manifest coverage $fromManifest vs vectors $fromVectors")
  }

  test("MoR UPDATE is delete-and-insert: tombstones + new file, untouched files intact") {
    val root = freshTable("t_moru")
    SnapshotStore.setWriteMode(spark, root, "mor")
    val dataBefore = SnapshotStore.files(spark, root).toSet
    spark.sql("UPDATE graft.t_moru SET p = p + 0.5, v = 'U' WHERE k BETWEEN 30 AND 40")
    val dataAfter = SnapshotStore.files(spark, root).toSet
    // old files all still present; exactly the insert file(s) added
    assert(dataBefore.subsetOf(dataAfter))
    assert((dataAfter -- dataBefore).nonEmpty)
    assert(SnapshotStore.deleteVectors(spark, root).nonEmpty)
    val t = spark.table("graft.t_moru")
    assert(t.count() == 100)
    val u = t.where(col("v") === "U")
    assert(u.count() == 11)
    assert(u.agg(sum(col("p").cast("decimal(18,2)"))).head()
      .getDecimal(0).doubleValue() == 390.5)
    // unmatched rows unchanged
    assert(t.where(col("k") === 29L).head().getString(1) == "v29")
  }

  test("MoR MERGE: mixed update/delete/insert through Spark's delta rewrite; cardinality still raises") {
    val root = freshTable("t_morm")
    SnapshotStore.setWriteMode(spark, root, "mor")
    val dataBefore = SnapshotStore.files(spark, root).toSet
    Seq((50L, "up", 0.25), (51L, "del", 0.0), (300L, "new", 9.5))
      .toDF("k", "op", "np").createOrReplaceTempView("mor_changes")
    spark.sql(
      """MERGE INTO graft.t_morm t USING mor_changes s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'del' THEN DELETE
        |WHEN MATCHED AND s.op = 'up' THEN UPDATE SET p = t.p + s.np, v = 'M'
        |WHEN NOT MATCHED THEN INSERT (k, v, p) VALUES (s.k, s.op, s.np)
        |""".stripMargin)
    assert(dataBefore.subsetOf(SnapshotStore.files(spark, root).toSet))
    val t = spark.table("graft.t_morm")
    assert(t.count() == 100)
    assert(t.where(col("k") === 51L).isEmpty)
    assert(t.where(col("k") === 50L).select(col("v"), col("p"))
      .head().toSeq == Seq("M", 50.25))
    assert(t.where(col("k") === 300L).select(col("v")).head().getString(0) == "new")
    assert(t.where(col("k") === 52L).select(col("v")).head().getString(0) == "v52")
    // cardinality violation still raises through Spark's own check
    Seq((5L, 1.0), (5L, 2.0)).toDF("k", "np").createOrReplaceTempView("mor_dup")
    val e = intercept[Throwable] {
      spark.sql(
        """MERGE INTO graft.t_morm t USING mor_dup s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET p = s.np""".stripMargin)
    }
    assert(e.getMessage.toUpperCase.contains("CARDINALITY") ||
      e.getMessage.contains("multiple rows"))
  }

  test("CALL procedures: compact reconciles MoR vectors, vacuum GCs, analyze attaches zones, set_write_mode flips") {
    val root = freshTable("t_proc")
    // flip to merge-on-read through CALL, then a vectored delete
    val m = spark.sql("CALL graft.set_write_mode('t_proc', 'mor')").head()
    assert(m.getInt(0) == 2 && m.getString(1) == "mor")
    spark.sql("DELETE FROM graft.t_proc WHERE k BETWEEN 10 AND 20")
    assert(SnapshotStore.deleteVectors(spark, root).nonEmpty)
    // compact: vectors reconcile into clustered clean files, content kept
    val c = spark.sql(
      "CALL graft.compact(table => 't_proc', buckets => 2, cluster_col => 'k')")
      .head()
    assert(c.getInt(2) == 2, s"files_after: $c") // clustered into 2
    assert(c.getInt(3) >= 1) // vectors reconciled
    assert(SnapshotStore.deleteVectors(spark, root).isEmpty)
    assert(spark.table("graft.t_proc").count() == 89)
    // write mode SURVIVES compaction (meta lines carry)
    assert(SnapshotStore.writeModeOf(spark, root).contains("mor"))
    // analyze: stats sidecar + transparent zone attach for the new files
    val a = spark.sql("CALL graft.analyze('t_proc', 'k')").head()
    assert(a.getInt(0) == SnapshotStore.currentVersion(spark, root))
    assert(a.getLong(1) == 2L)
    // vacuum to the latest version only: old data files GC'd
    val before = java.nio.file.Files.list(java.nio.file.Paths.get(root))
      .count()
    val v = spark.sql("CALL graft.vacuum('t_proc', 1)").head()
    assert(v.getInt(0) >= 4 && v.getInt(1) == 3, s"vacuum: $v")
    assert(spark.table("graft.t_proc").count() == 89) // live version intact
    // declines: unknown procedure, unknown table, bad mode
    intercept[Throwable] { spark.sql("CALL graft.no_such_proc('x')") }
    intercept[Throwable] { spark.sql("CALL graft.vacuum('no_such_table', 1)") }
    intercept[Throwable] { spark.sql("CALL graft.set_write_mode('t_proc', 'zzz')") }
    assert(before > 0)
  }

  test("streaming read: manifest is the log — snapshot then appends; change commits decline or skip") {
    import org.apache.spark.sql.streaming.Trigger
    freshTable("t_tail")
    val q = spark.readStream.table("graft.t_tail")
      .writeStream.format("memory").queryName("tail_sink")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("tail_sink").count() == 100) // initial snapshot
      spark.sql("INSERT INTO graft.t_tail VALUES (200L, 'x', 1.0)")
      q.processAllAvailable()
      assert(spark.table("tail_sink").count() == 101) // the append flowed
      // a COW UPDATE removes files -> change commit -> strict stream fails
      spark.sql("UPDATE graft.t_tail SET v = 'U' WHERE k = 1")
      intercept[Throwable] { q.processAllAvailable() }
    } finally q.stop()
    // tolerant restart: full current snapshot, appends flow, changes skip
    val q2 = spark.readStream.option("skipChangeCommits", "true")
      .table("graft.t_tail")
      .writeStream.format("memory").queryName("tail_sink2")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q2.processAllAvailable()
      assert(spark.table("tail_sink2").count() == 101)
      assert(spark.table("tail_sink2").where(col("k") === 1L)
        .head().getString(1) == "U") // snapshot carries the update
      spark.sql("UPDATE graft.t_tail SET v = 'U2' WHERE k = 2") // skipped
      spark.sql("INSERT INTO graft.t_tail VALUES (201L, 'y', 1.0)")
      q2.processAllAvailable()
      assert(spark.table("tail_sink2").count() == 102) // append flowed
      // the skipped change did NOT re-emit: sink keeps the pre-update row
      assert(spark.table("tail_sink2").where(col("k") === 2L)
        .head().getString(1) == "v2")
    } finally q2.stop()
  }

  test("streaming read of a MoR table: the initial snapshot applies delete vectors") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshTable("t_tailmor")
    val dv = SnapshotStore.writeData(spark, root,
      SnapshotStore.tombstonesWhere(spark, root, col("k") <= 10)
        .coalesce(1), "dv")
    SnapshotStore.commit(spark, root,
      SnapshotStore.files(spark, root) ++ dv.map(SnapshotStore.dvLine), 1)
    GraftCatalog.register(spark, "t_tailmor", root) // reload at v2
    val q = spark.readStream.table("graft.t_tailmor")
      .writeStream.format("memory").queryName("tailmor_sink")
      .trigger(Trigger.ProcessingTime(0)).start()
    try {
      q.processAllAvailable()
      assert(spark.table("tailmor_sink").count() == 90)
      assert(spark.table("tailmor_sink").where(col("k") <= 10).isEmpty)
    } finally q.stop()
  }

  test("z-order compaction: both interleaved dimensions prune; linear layout is blind on the second") {
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThanOrEqual}
    // two INDEPENDENT uniform keys: range-clustering on k leaves every
    // file spanning the full m domain
    val out = java.nio.file.Files.createTempDirectory("catspec_z")
    val root = s"$out/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val base = (1L to 4096L)
      .map(k => (k, (k * 2654435761L) % 4096L, s"v$k"))
      .toDF("k", "m", "v").repartitionByRange(8, col("k"))
    SnapshotStore.commit(spark, root,
      SnapshotStore.writeData(spark, root, base, "base"), 0)
    GraftCatalog.register(spark, "t_z", root)
    def admitted(keyCol: String): Int = {
      val pushed = Seq(GreaterThanOrEqual(keyCol, 1024L),
        LessThanOrEqual(keyCol, 1535L)) // a 1/8 slice of either domain
      graft.catalog.SnapshotZones.prune(spark, root,
        SnapshotStore.currentVersion(spark, root), pushed,
        SnapshotStore.files(spark, root)).size
    }
    // linear layout: k prunes, m is blind (every file spans all of m).
    // The k bound is sampling-tolerant: repartitionByRange's reservoir
    // sampling (seeded by rdd id, i.e. session history) wobbles the file
    // boundaries, so a 1/8 slice can touch one extra file — the CLAIM is
    // that k prunes at all while m admits everything.
    spark.sql("CALL graft.analyze('t_z', 'k,m')")
    assert(admitted("k") <= 3, s"linear k slice admitted ${admitted("k")}/8")
    assert(admitted("m") == 8, s"expected m-blind linear layout")
    // z-order on (k, m): 16 buckets fix ~2 high bits per dimension
    spark.sql("CALL graft.compact(table => 't_z', buckets => 16, cluster_col => 'k,m')")
    spark.sql("CALL graft.analyze('t_z', 'k,m')")
    val total = SnapshotStore.files(spark, root).size
    assert(total == 16)
    val (ak, am) = (admitted("k"), admitted("m"))
    assert(ak < total && am < total,
      s"z-order must prune BOTH dims: k=$ak m=$am of $total")
    // content identical through the z-ordered, multi-key-pruned reads
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_z WHERE m BETWEEN 1024 AND 1535")
      .head().getLong(0) ==
      base.where(col("m").between(1024L, 1535L)).count())
    assert(spark.table("graft.t_z").count() == 4096)
  }

  test("partitioned catalog writes fan out per value and annotate the manifest; DML keeps annotations complete") {
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.p_t")
    spark.sql("CREATE TABLE graft.p_t (k BIGINT, g STRING) PARTITIONED BY (g)")
    val root = s"$w/p_t"
    spark.sql(
      """INSERT INTO graft.p_t
        |SELECT id AS k, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END AS g
        |FROM range(1, 41)""".stripMargin)
    // every data file carries its partition value in the manifest
    val files = SnapshotStore.files(spark, root)
    val pv = SnapshotStore.partitionValuesOf(spark, root)
    assert(files.nonEmpty)
    assert(files.forall(f => pv.contains(
      SnapshotStore.uriPath(f))), s"unannotated files: $files vs $pv")
    // each file is single-valued and pruning admits a strict subset
    val ga = SnapshotStore.filesWherePartition(spark, root, "g", "a")
    assert(ga.size < files.size && ga.nonEmpty)
    assert(spark.read.parquet(ga: _*).where(col("g") =!= "a").isEmpty)
    assert(spark.table("graft.p_t").count() == 40)
    // a catalog DELETE rewrites partition-locally AND re-annotates its
    // replacement files: the annotation map stays complete
    spark.sql("DELETE FROM graft.p_t WHERE k BETWEEN 2 AND 6")
    val files2 = SnapshotStore.files(spark, root)
    val pv2 = SnapshotStore.partitionValuesOf(spark, root)
    assert(files2.forall(f => pv2.contains(SnapshotStore.uriPath(f))))
    assert(spark.table("graft.p_t").count() == 35)
    val gb = SnapshotStore.filesWherePartition(spark, root, "g", "b")
    assert(spark.read.parquet(gb: _*).where(col("g") === "b").count() ==
      spark.table("graft.p_t").where(col("g") === "b").count())
    // INSERT OVERWRITE keeps the spec and annotates its files too
    spark.sql("INSERT OVERWRITE graft.p_t SELECT 100L, 'c'")
    assert(SnapshotStore.partitionSpecOf(spark, root).contains("g"))
    assert(SnapshotStore.partitionValuesOf(spark, root).values.toSet == Set("c"))
  }

  test("CALL graft.history: the manifest chain as the audit log") {
    val root = freshTable("t_hist")
    SnapshotStore.setWriteMode(spark, root, "mor") // v2
    spark.sql("DELETE FROM graft.t_hist WHERE k <= 5") // v3, vectors
    val h = spark.sql("CALL graft.history('t_hist')")
      .orderBy(col("version")).collect()
    assert(h.length == 3)
    assert(h.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(h(0).getString(4) == "cow" && h(2).getString(4) == "mor")
    assert(h(2).getInt(3) >= 1) // the MoR delete's vector counted
    assert(h(0).getInt(2) == 4 && h(2).getInt(2) == 4) // data files stable
    // commit times ascend (or tie at fs mtime granularity)
    val ts = h.map(_.getTimestamp(1).getTime)
    assert(ts.zip(ts.tail).forall { case (a, b) => a <= b })
  }

  test("threaded OCC: concurrent catalog INSERTs all land exactly once; rewrites serialize or fail whole") {
    freshTable("t_race")
    // eight genuinely concurrent single-row INSERTs from eight threads:
    // every statement either commits exactly once or fails loudly —
    // OCC + append semantics must lose NO committed row and duplicate
    // none (commit() itself retries nothing; Spark reruns nothing)
    import java.util.concurrent.{Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(8)
    val results = (0 until 8).map { i =>
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        override def call(): Option[Throwable] =
          try {
            spark.sql(
              s"INSERT INTO graft.t_race VALUES (${1000L + i}, 'c$i', $i.5)")
            None
          } catch { case t: Throwable => Some(t) }
      })
    }
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    val failures = results.flatMap(_.get())
    val landed = spark.table("graft.t_race")
      .where(col("k") >= 1000L).collect().map(_.getLong(0)).sorted
    // exactly-once accounting: every non-failing insert present once,
    // every failing one absent (an insert that lost its OCC race throws
    // to the caller; it must not half-land)
    assert(landed.distinct.length == landed.length, s"duplicated: $landed")
    assert(landed.length == 8 - failures.length,
      s"landed=${landed.length} failures=${failures.length}")
    failures.foreach { t =>
      val chain = Iterator.iterate[Throwable](t)(_.getCause)
        .takeWhile(_ != null).toSeq
      assert(chain.exists(
        _.isInstanceOf[SnapshotStore.CommitConflictException]),
        s"unexpected failure kind: $t")
    }
    // the table is never torn: count == 100 + landed inserts
    assert(spark.table("graft.t_race").count() == 100 + landed.length)
    // no orphan files: every parquet in the root is manifest-referenced
    // (commitOrCleanup deletes a loser's published files)
    val root = spark.conf.get("spark.sql.catalog.graft.path.t_race")
    val referenced = SnapshotStore.files(spark, root)
      .map(SnapshotStore.uriPath).toSet
    val onDisk = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty).filter(_.getName.endsWith(".parquet"))
      .map(f => SnapshotStore.uriPath(f.getAbsolutePath)).toSet
    assert((onDisk -- referenced).isEmpty,
      s"orphans leaked: ${onDisk -- referenced}")
  }

  test("plain AND vectored catalog reads stay COLUMNAR; metadata-column paths degrade to rows deliberately") {
    val root = freshTable("t_cplan")
    // the plain read's V2 scan must support columnar batches — the
    // catalog path keeps Spark's vectorized parquet decode + whole-stage
    // codegen above it, same as a native parquet read
    val plain = spark.sql("SELECT k, p FROM graft.t_cplan WHERE k >= 50")
    val scans = plain.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty, plain.queryExecution.executedPlan.toString)
    assert(scans.forall(_.supportsColumnar),
      "plain catalog read lost columnar batches")
    assert(plain.collect().length == 51)
    // a vectored table STAYS columnar: tombstones apply inside the
    // vectorized read through the selection wrapper (legacy per-position
    // vector payload here — both generations ride the same path)
    val dv = SnapshotStore.writeData(spark, root,
      SnapshotStore.tombstonesWhere(spark, root, col("k") === 1L)
        .coalesce(1), "dv")
    SnapshotStore.commit(spark, root,
      SnapshotStore.files(spark, root) ++ dv.map(SnapshotStore.dvLine), 1)
    val mor = spark.sql("SELECT k FROM graft.t_cplan")
    val morScans = mor.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(morScans.nonEmpty && morScans.forall(_.supportsColumnar),
      "vectored catalog read lost columnar batches")
    assert(mor.count() == 99)
    assert(mor.agg(sum(col("k"))).head().getLong(0) == 5050L - 1)
  }

  test("ADD COLUMN NOT NULL declines; a failing DROP TABLE keeps the registration") {
    freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.ddl_nn")
    spark.sql("CREATE TABLE graft.ddl_nn (k BIGINT)")
    spark.sql("INSERT INTO graft.ddl_nn VALUES (1L)")
    // existing rows would null-fill a non-nullable column: decline loudly
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.ddl_nn ADD COLUMN c BIGINT NOT NULL")
    }
    assert(spark.table("graft.ddl_nn").columns.toSeq == Seq("k"))
    // a registered-but-never-committed root: DROP reports the table as
    // nonexistent and must NOT silently deregister the path
    val empty = java.nio.file.Files.createTempDirectory("catspec_empty")
    GraftCatalog.register(spark, "t_never", s"$empty/t")
    intercept[Throwable] { spark.sql("DROP TABLE graft.t_never") }
    assert(spark.conf
      .getOption("spark.sql.catalog.graft.path.t_never").isDefined,
      "failed DROP silently deregistered the table")
    GraftCatalog.unregister(spark, "t_never")
  }

  test("CALL graft.compact keeps per-file partition annotations on a partitioned table") {
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.p_opt")
    spark.sql("CREATE TABLE graft.p_opt (k BIGINT, g STRING) PARTITIONED BY (g)")
    spark.sql(
      """INSERT INTO graft.p_opt
        |SELECT id, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END
        |FROM range(1, 101)""".stripMargin)
    spark.sql("INSERT INTO graft.p_opt SELECT id, 'a' FROM range(200, 220)")
    spark.sql(
      "CALL graft.compact(table => 'p_opt', buckets => 1, cluster_col => 'k')")
    val root = s"$w/p_opt"
    val files = SnapshotStore.files(spark, root)
    val pv = SnapshotStore.partitionValuesOf(spark, root)
    assert(files.nonEmpty &&
      files.forall(f => pv.contains(SnapshotStore.uriPath(f))),
      s"compact dropped annotations: $files vs $pv")
    assert(SnapshotStore.partitionSpecOf(spark, root).contains("g"))
    val ga = SnapshotStore.filesWherePartition(spark, root, "g", "a")
    assert(ga.nonEmpty && ga.size < files.size)
    assert(spark.read.parquet(ga: _*).where(col("g") =!= "a").isEmpty)
    assert(spark.table("graft.p_opt").count() == 120)
  }

  test("zero-RPC planning: manifest len= annotations plan splits without per-file stats") {
    val root = freshTable("t_lens")
    val lens = SnapshotStore.fileLens(spark, root)
    assert(SnapshotStore.files(spark, root)
      .forall(f => lens.contains(SnapshotStore.uriPath(f))),
      s"commit left lines unannotated: $lens")
    val before = graft.catalog.SnapshotScan.planStatCalls.get()
    assert(spark.sql("SELECT sum(k) AS s FROM graft.t_lens")
      .head().getLong(0) == 5050L)
    assert(graft.catalog.SnapshotScan.planStatCalls.get() == before,
      "planning paid per-file FS stats despite manifest lens")
    // numRows statistics come from the manifest's commit-time footer
    // counts — exact here, zero FS round trips
    val df = spark.sql("SELECT k FROM graft.t_lens")
    val stats = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.catalog.SnapshotScan].estimateStatistics()
    }.head
    assert(stats.numRows().isPresent && stats.numRows().getAsLong == 100L,
      s"manifest numRows: ${stats.numRows()}")
    assert(graft.catalog.SnapshotScan.planStatCalls.get() == before)
  }

  test("a vectored file splits like a clean one; executor-side vectors keep every split correct") {
    val out = java.nio.file.Files.createTempDirectory("catspec_split")
    val root = s"$out/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val base = (1L to 20000L).map(k => (k, s"value_str_$k", k * 1.0))
      .toDF("k", "v", "p").coalesce(1)
    SnapshotStore.commit(spark, root,
      SnapshotStore.writeData(spark, root, base, "base"), 0)
    GraftCatalog.register(spark, "t_split", root)
    val dv = SnapshotStore.writeData(spark, root,
      SnapshotStore.tombstonesWhere(spark, root,
        col("k") % 1000L === 0L).coalesce(1), "dv")
    SnapshotStore.commit(spark, root,
      SnapshotStore.files(spark, root) ++ dv.map(SnapshotStore.dvLine), 1)
    GraftCatalog.register(spark, "t_split", root) // reload at v2
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try {
      val df = spark.sql("SELECT k FROM graft.t_split")
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.scan.asInstanceOf[graft.catalog.SnapshotScan]
      }
      val parts = scans.head.planInputPartitions()
        .map(_.asInstanceOf[graft.catalog.SnapshotInputPartition])
      assert(parts.forall(_.dvPaths.nonEmpty))
      assert(parts.length > 1,
        s"tombstoned file planned unsplit: ${parts.length} partition(s)")
      // every split applies only ITS OWN slice of the vector (file-absolute
      // row index): exact count and sum survive the split boundaries
      assert(df.count() == 20000 - 20)
      assert(spark.sql("SELECT sum(k) AS s FROM graft.t_split")
        .head().getLong(0) ==
        (1L to 20000L).sum - (1L to 20L).map(_ * 1000L).sum)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("columnar batches survive vectors: pruned AND vectored scans both stay columnar") {
    val root = freshTable("t_colprune")
    SnapshotStore.writeStats(spark, root, "k") // per-file [lo, hi] of k
    // tombstone one low key: the vector covers only the file holding k=5
    val dv = SnapshotStore.writeData(spark, root,
      SnapshotStore.tombstonesWhere(spark, root, col("k") === 5L)
        .coalesce(1), "dv")
    SnapshotStore.commit(spark, root,
      SnapshotStore.files(spark, root) ++ dv.map(SnapshotStore.dvLine), 1)
    SnapshotStore.writeStats(spark, root, "k")
    GraftCatalog.register(spark, "t_colprune", root)
    def scansOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }
    // a scan zone-pruned AWAY from the vectored file keeps columnar batches
    val high = spark.sql("SELECT k, p FROM graft.t_colprune WHERE k >= 90")
    assert(scansOf(high).nonEmpty && scansOf(high).forall(_.supportsColumnar),
      "vector-free pruned scan lost its batches to a disjoint file's vector")
    assert(high.count() == 11)
    // a scan that plans the vectored file ALSO stays columnar (the
    // tombstone filters inside the vectorized read) — and correctly
    val low = spark.sql("SELECT k FROM graft.t_colprune WHERE k <= 10")
    assert(scansOf(low).nonEmpty && scansOf(low).forall(_.supportsColumnar),
      "vectored scan lost its batches")
    assert(low.count() == 9)
    SnapshotStore.dropSkipping(spark, root)
  }

  test("admission control: maxVersionsPerTrigger drains a backlog in bounded batches") {
    import org.apache.spark.sql.streaming.Trigger
    freshTable("t_admit") // v1
    val ck = java.nio.file.Files.createTempDirectory("catspec_admit_ck")
    val out = java.nio.file.Files.createTempDirectory("catspec_admit_out")
    def run() = spark.readStream
      .option("maxVersionsPerTrigger", "2").table("graft.t_admit")
      .writeStream
      .foreachBatch(graft.streaming.EventStreams.batchSink(out, "append"))
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.ProcessingTime(0)).start()
    def totalRows() = spark.read.option("recursiveFileLookup", "true")
      .parquet(out.toString).count()
    // first run drains the v1 snapshot and checkpoints offset 1
    val q1 = run()
    try { q1.processAllAvailable() } finally q1.stop()
    assert(totalRows() == 100)
    // a 6-version backlog accrues while the reader is down
    (0 until 6).foreach(i => spark.sql(
      s"INSERT INTO graft.t_admit VALUES (${500L + i}, 'x', 1.0)")) // v2..v7
    val q2 = run()
    try {
      q2.processAllAvailable()
      // 6 backlog versions at ≤2 per trigger: at least 3 non-empty batches
      val nonEmpty = q2.recentProgress.count(_.numInputRows > 0)
      assert(nonEmpty >= 3, s"backlog drained in $nonEmpty batches")
    } finally q2.stop()
    assert(totalRows() == 106) // nothing lost, nothing duplicated
  }

  test("Trigger.AvailableNow drains the pinned backlog in bounded batches and terminates") {
    import org.apache.spark.sql.streaming.Trigger
    freshTable("t_avnow") // v1
    val ck = java.nio.file.Files.createTempDirectory("catspec_avnow_ck")
    val out = java.nio.file.Files.createTempDirectory("catspec_avnow_out")
    def run(trigger: Trigger) = spark.readStream
      .option("maxVersionsPerTrigger", "1").table("graft.t_avnow")
      .writeStream
      .foreachBatch(graft.streaming.EventStreams.batchSink(out, "append"))
      .option("checkpointLocation", ck.toString)
      .trigger(trigger).start()
    def totalRows() = spark.read.option("recursiveFileLookup", "true")
      .parquet(out.toString).count()
    val q1 = run(Trigger.AvailableNow())
    assert(q1.awaitTermination(120000), "AvailableNow did not terminate")
    assert(totalRows() == 100) // the pinned snapshot, then stop
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO graft.t_avnow VALUES (${700L + i}, 'x', 1.0)")) // v2..v4
    val q2 = run(Trigger.AvailableNow())
    assert(q2.awaitTermination(120000))
    assert(totalRows() == 103) // backlog drained (1 version per trigger)
    assert(q2.recentProgress.count(_.numInputRows > 0) >= 3)
    // nothing beyond the pinned target was consumed; a THIRD run picks
    // up only what landed after the second pin
    spark.sql("INSERT INTO graft.t_avnow VALUES (800L, 'y', 1.0)")
    val q3 = run(Trigger.AvailableNow())
    assert(q3.awaitTermination(120000))
    assert(totalRows() == 104)
  }

  test("initial offset pins the loaded snapshot: a replayed batch 0 cannot leak later commits") {
    val root = freshTable("t_pin") // v1: 100 rows
    spark.sql("INSERT INTO graft.t_pin VALUES (500L, 'x', 1.0)") // v2
    // a stream loads at v2 and plans batch 0 = (-2, 2]; it "crashes"
    // before committing, a concurrent writer lands v3, and the restart —
    // now loaded at v3 — must replay batch 0 AT v2 and emit v3 separately
    def streamAt(v: Int) = {
      val t = new graft.catalog.SnapshotTable(spark, "graft.t_pin", root, v)
      new graft.catalog.SnapshotScanBuilder(spark, t, None).build()
        .asInstanceOf[graft.catalog.SnapshotScan]
        .toMicroBatchStream("unused")
        .asInstanceOf[graft.catalog.SnapshotMicroBatchStream]
    }
    val s2 = streamAt(2)
    val init = s2.initialOffset()
    assert(init.json() == "-2", s"initial offset must pin v2: ${init.json()}")
    val end0 = s2.latestOffset()
    assert(end0.json() == "2")
    spark.sql("INSERT INTO graft.t_pin VALUES (501L, 'y', 1.0)") // v3 races in
    val s3 = streamAt(3) // the restart
    def rowsOf(parts: Array[org.apache.spark.sql.connector.read.InputPartition],
        stream: graft.catalog.SnapshotMicroBatchStream): Long = {
      val f = stream.createReaderFactory()
      parts.map { p =>
        val r = f.createReader(p)
        var n = 0L
        while (r.next()) n += 1
        n
      }.sum
    }
    assert(rowsOf(s3.planInputPartitions(init, end0), s3) == 101L,
      "replayed batch 0 leaked rows from versions past its end offset")
    assert(rowsOf(s3.planInputPartitions(end0, s3.latestOffset()), s3) == 1L)
  }

  test("partition transforms: days(ts) and bucket(n,c) route, annotate, and prune") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.pt_days")
    spark.sql(
      """CREATE TABLE graft.pt_days (k BIGINT, ts TIMESTAMP, g STRING)
        |PARTITIONED BY (g, days(ts))""".stripMargin)
    // 3 UTC days × 2 groups = 6 tuples
    spark.sql(
      """INSERT INTO graft.pt_days
        |SELECT id,
        |  timestampadd(HOUR, CAST(id % 72 AS INT),
        |    TIMESTAMP '2026-01-01 00:00:00'),
        |  CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END
        |FROM range(0, 720)""".stripMargin)
    val root = s"$w/pt_days"
    val files = SnapshotStore.files(spark, root)
    val pv = SnapshotStore.partitionValuesOf(spark, root)
    assert(files.forall(f => pv.contains(SnapshotStore.uriPath(f))))
    // the write shuffled on the TRANSFORM values (catalog-resolved days
    // function): exactly one file per (g, day) tuple
    assert(files.size == 6, s"expected 6 tuple files, got ${files.size}: $pv")
    val filters = Seq[org.apache.spark.sql.sources.Filter](EqualTo("g", "a"),
      GreaterThanOrEqual("ts", java.sql.Timestamp.valueOf("2026-01-02 00:00:00")),
      LessThan("ts", java.sql.Timestamp.valueOf("2026-01-03 00:00:00")))
    val admitted = graft.catalog.SnapshotPartitions.prune(spark, root,
      SnapshotStore.currentVersion(spark, root), filters, files)
    assert(admitted.size == 1, s"identity+days pruning admitted $admitted")
    // content correct THROUGH the pruned catalog plan
    val probe = spark.sql(
      """SELECT count(*) AS n FROM graft.pt_days
        |WHERE g = 'a' AND ts >= TIMESTAMP '2026-01-02 00:00:00'
        |  AND ts < TIMESTAMP '2026-01-03 00:00:00'""".stripMargin)
    assert(probe.head().getLong(0) == 120)
    // bucket: a point lookup prunes to 1/n of the files
    spark.sql("DROP TABLE IF EXISTS graft.pt_bkt")
    spark.sql(
      "CREATE TABLE graft.pt_bkt (u BIGINT, v DOUBLE) PARTITIONED BY (bucket(4, u))")
    spark.sql("INSERT INTO graft.pt_bkt SELECT id, id * 0.5 FROM range(0, 400)")
    val broot = s"$w/pt_bkt"
    val bfiles = SnapshotStore.files(spark, broot)
    assert(bfiles.size == 4, s"expected 4 bucket files, got $bfiles")
    val badm = graft.catalog.SnapshotPartitions.prune(spark, broot,
      SnapshotStore.currentVersion(spark, broot),
      Seq(EqualTo("u", 17L)), bfiles)
    assert(badm.size == 1, s"bucket pruning admitted $badm")
    val q = spark.sql("SELECT v FROM graft.pt_bkt WHERE u = 17")
    assert(q.head().getDouble(0) == 8.5)
    // the catalog functions are also directly callable
    assert(spark.sql("SELECT graft.bucket(4, 17L) AS b").head().getInt(0) ==
      Math.floorMod(java.lang.Long.hashCode(17L), 4))
    // declines: an unsupported transform (years/hours/months/truncate are
    // supported since r15 — the decline pin moved to a truly unknown one)
    intercept[Throwable] {
      spark.sql("CREATE TABLE graft.pt_bad (k BIGINT, ts TIMESTAMP) PARTITIONED BY (zorder(ts))")
    }
  }

  test("storage-partitioned join: compatibly bucketed tables join with ZERO shuffle") {
    freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.spj_a")
    spark.sql("DROP TABLE IF EXISTS graft.spj_b")
    spark.sql(
      "CREATE TABLE graft.spj_a (k BIGINT, va DOUBLE) PARTITIONED BY (bucket(4, k))")
    spark.sql(
      "CREATE TABLE graft.spj_b (k BIGINT, vb BIGINT) PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graft.spj_a SELECT id, id * 0.5 FROM range(0, 1000)")
    spark.sql("INSERT INTO graft.spj_b SELECT id, id * 10 FROM range(0, 1000, 2)")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.sql(
        """SELECT count(*) AS n,
          |  sum(CAST(a.va AS DECIMAL(18,1))) AS s, sum(b.vb) AS t
          |FROM graft.spj_a a JOIN graft.spj_b b ON a.k = b.k""".stripMargin)
      val p = j.queryExecution.executedPlan.toString
      // the storage-partitioned join: no shuffle on EITHER side (and no
      // broadcast — the threshold is off), the join rides the reported
      // KeyGroupedPartitioning
      assert(!p.contains("Exchange hashpartitioning"),
        s"SPJ did not engage:\n$p")
      assert(!p.contains("BroadcastExchange"), p)
      val r = j.head()
      assert(r.getLong(0) == 500L)
      assert(r.getDecimal(1).doubleValue() ==
        (0L until 1000L by 2).map(_ * 0.5).sum)
      assert(r.getLong(2) == (0L until 1000L by 2).map(_ * 10).sum)
      // ground truth with SPJ off: identical values
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val r2 = j.head()
      assert(r.toSeq == r2.toSeq)
      // AGGREGATION over the bucket source key rides the same reported
      // partitioning: partial+final hash agg with NO exchange at all
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val a = spark.sql("SELECT k, count(*) AS c FROM graft.spj_a GROUP BY k")
      assert(!a.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        a.queryExecution.executedPlan.toString)
      assert(a.count() == 1000)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("metadata-only COUNT(*): unfiltered counts answer from manifest row counts") {
    val root = freshTable("t_cnt")
    val df = spark.sql("SELECT count(*) AS n FROM graft.t_cnt")
    assert(df.head().getLong(0) == 100L)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan"),
      s"count not answered from metadata:\n$p")
    assert(!p.contains("BatchScan"), p)
    // MIN/MAX answer from the zone-stats sidecar once the key is analyzed
    SnapshotStore.writeStats(spark, root, "k")
    val mm = spark.sql(
      "SELECT min(k) AS lo, max(k) AS hi, count(*) AS n FROM graft.t_cnt")
    assert(mm.head().toSeq == Seq(1L, 100L, 100L))
    assert(mm.queryExecution.executedPlan.toString.contains("LocalTableScan"),
      mm.queryExecution.executedPlan.toString)
    // a non-long / un-analyzed column declines to the real scan
    val pm = spark.sql("SELECT min(p) AS lo FROM graft.t_cnt")
    assert(pm.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(pm.head().getDouble(0) == 1.0)
    // filters decline the pushdown — ordinary scan, correct values
    val f = spark.sql("SELECT count(*) AS n FROM graft.t_cnt WHERE k <= 10")
    assert(f.head().getLong(0) == 10L)
    assert(f.queryExecution.executedPlan.toString.contains("BatchScan"))
    // delete vectors decline it too: counts reflect LIVE rows only
    val dv = SnapshotStore.writeData(spark, root,
      SnapshotStore.tombstonesWhere(spark, root, col("k") === 1L)
        .coalesce(1), "dv")
    SnapshotStore.commit(spark, root,
      SnapshotStore.files(spark, root) ++ dv.map(SnapshotStore.dvLine), 1)
    GraftCatalog.register(spark, "t_cnt", root) // reload at v2
    val g = spark.sql("SELECT count(*) AS n FROM graft.t_cnt")
    assert(g.head().getLong(0) == 99L)
    assert(g.queryExecution.executedPlan.toString.contains("BatchScan"))
  }

  private def plannedSplits(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.catalog.SnapshotScan]
          .planInputPartitions().length
    }.sum

  test("typed zone stats: timestamp/string keys prune and answer metadata MIN/MAX") {
    val out = java.nio.file.Files.createTempDirectory("catspec_tsz")
    val root = s"$out/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val base = spark.range(0, 96).select(
      col("id").as("k"),
      expr("timestampadd(HOUR, CAST(id AS INT), TIMESTAMP '2026-01-01 00:00:00')")
        .as("ts"),
      concat(lit("name_"), lpad(col("id").cast("string"), 3, "0")).as("s"))
      .repartitionByRange(4, col("ts"))
    SnapshotStore.commit(spark, root,
      SnapshotStore.writeData(spark, root, base, "base"), 0)
    GraftCatalog.register(spark, "t_tsz", root)
    // ONE sidecar over keys of DIFFERENT types (used to coerce or fail)
    SnapshotStore.writeStatsMulti(spark, root, Seq("ts", "s"))
    // a ts-range probe prunes at plan time (the r14 gap: events.ts got
    // no zone pruning because the sidecar was integer-keyed only)
    val probe = spark.sql(
      """SELECT count(*) AS n FROM graft.t_tsz
        |WHERE ts >= TIMESTAMP '2026-01-02 00:00:00'
        |  AND ts < TIMESTAMP '2026-01-03 00:00:00'""".stripMargin)
    assert(probe.head().getLong(0) == 24)
    val scanned = plannedSplits(probe)
    assert(scanned >= 1 && scanned < 4, s"no ts zone pruning: $scanned of 4")
    // a string probe prunes too (range-clustered by ts ≈ s here)
    val sprobe = spark.sql(
      "SELECT count(*) AS n FROM graft.t_tsz WHERE s <= 'name_010'")
    assert(sprobe.head().getLong(0) == 11)
    assert(plannedSplits(sprobe) < 4, "no string zone pruning")
    // an IN list prunes by its [min, max] envelope
    val inprobe = spark.sql(
      """SELECT count(*) AS n FROM graft.t_tsz
        |WHERE ts IN (TIMESTAMP '2026-01-01 03:00:00',
        |             TIMESTAMP '2026-01-01 07:00:00')""".stripMargin)
    assert(inprobe.head().getLong(0) == 2)
    assert(plannedSplits(inprobe) < 4, "no IN-list zone pruning")
    // metadata-only MIN/MAX: timestamp AND string extrema from the
    // sidecar alone, count from manifest row counts — zero data bytes
    val mm = spark.sql(
      """SELECT min(ts) AS lo, max(ts) AS hi, min(s) AS slo, max(s) AS shi,
        |  count(*) AS n FROM graft.t_tsz""".stripMargin)
    val p = mm.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") && !p.contains("BatchScan"), p)
    val r = mm.head()
    assert(r.getTimestamp(0) == java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    assert(r.getTimestamp(1) == java.sql.Timestamp.valueOf("2026-01-04 23:00:00"))
    assert(r.getString(2) == "name_000" && r.getString(3) == "name_095")
    assert(r.getLong(4) == 96L)
    // the transparent-skipping rule registers the TYPED zone map too
    assert(SnapshotStore.attachSkipping(spark, root) == 1)
    try {
      val direct = SnapshotStore.read(spark, root)
        .where(col("ts") < java.sql.Timestamp.valueOf("2026-01-01 06:00:00"))
      assert(direct.count() == 6)
    } finally SnapshotStore.dropSkipping(spark, root)
  }

  test("decimal metadata MIN/MAX; analyze with no key covers every supported column") {
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.t_dec")
    spark.sql(
      "CREATE TABLE graft.t_dec (k BIGINT, d DECIMAL(12,2), ts TIMESTAMP, b BINARY)")
    spark.sql(
      """INSERT INTO graft.t_dec
        |SELECT id, CAST(id * 1.25 AS DECIMAL(12,2)),
        |  timestampadd(HOUR, CAST(id AS INT), TIMESTAMP '2026-02-01 00:00:00'),
        |  CAST('x' AS BINARY)
        |FROM range(0, 50)""".stripMargin)
    // analyze with NO key: every supported-type column gets bounds (the
    // BINARY column is skipped, not fatal)
    spark.sql("CALL graft.analyze('t_dec')")
    SnapshotStore.dropSkipping(spark, s"$w/t_dec")
    val mm = spark.sql(
      """SELECT min(d) AS lo, max(d) AS hi, min(k) AS klo, max(ts) AS thi
        |FROM graft.t_dec""".stripMargin)
    val p = mm.queryExecution.executedPlan.toString
    assert(p.contains("LocalTableScan") && !p.contains("BatchScan"), p)
    val r = mm.head()
    assert(r.getDecimal(0) == new java.math.BigDecimal("0.00"))
    assert(r.getDecimal(1) == new java.math.BigDecimal("61.25"))
    assert(r.getLong(2) == 0L)
    assert(r.getTimestamp(3) ==
      java.sql.Timestamp.valueOf("2026-02-03 01:00:00"))
    // decimal zone pruning through the catalog plan
    val probe = spark.sql(
      "SELECT count(*) AS n FROM graft.t_dec WHERE d >= CAST(50 AS DECIMAL(12,2))")
    assert(probe.head().getLong(0) == 10)
  }

  test("typed zone stats: >256-char string bounds stay sound and decline metadata MAX") {
    val out = java.nio.file.Files.createTempDirectory("catspec_longs")
    val root = s"$out/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    // one file's max is a 300-char string: its upper bound is stored OPEN
    // (never a truncated — i.e. smaller — value that could wrongly prune)
    val base = spark.range(0, 20).select(col("id").as("k"),
      when(col("id") === 19, concat(lit("zz"), lpad(lit("x"), 300, "x")))
        .otherwise(concat(lit("m_"), col("id").cast("string"))).as("s"))
      .repartitionByRange(2, col("k"))
    SnapshotStore.commit(spark, root,
      SnapshotStore.writeData(spark, root, base, "base"), 0)
    GraftCatalog.register(spark, "t_longs", root)
    SnapshotStore.writeStats(spark, root, "s")
    // the probe for the long string must NOT lose it to pruning
    val q = spark.table("graft.t_longs").where(col("s") >= "zz")
    assert(q.count() == 1)
    // metadata MAX over an inexactly-bounded key declines to a real scan
    // and still answers correctly
    val mx = spark.sql("SELECT max(s) AS hi FROM graft.t_longs")
    assert(mx.queryExecution.executedPlan.toString.contains("BatchScan"))
    assert(mx.head().getString(0).startsWith("zz"))
  }

  test("type widening: INT->BIGINT is a metadata commit, old files up-cast in place") {
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.tw_t")
    spark.sql(
      "CREATE TABLE graft.tw_t (k INT, f FLOAT, d DECIMAL(10,2), g STRING)")
    spark.sql(
      """INSERT INTO graft.tw_t
        |SELECT CAST(id AS INT), CAST(id * 0.5 AS FLOAT),
        |  CAST(id AS DECIMAL(10,2)), 'a' FROM range(0, 100)""".stripMargin)
    val root = s"$w/tw_t"
    val filesBefore = SnapshotStore.files(spark, root).toSet
    spark.sql("ALTER TABLE graft.tw_t ALTER COLUMN k TYPE BIGINT")
    spark.sql("ALTER TABLE graft.tw_t ALTER COLUMN f TYPE DOUBLE")
    spark.sql("ALTER TABLE graft.tw_t ALTER COLUMN d TYPE DECIMAL(18,2)")
    // pure metadata: not one data file rewritten
    assert(SnapshotStore.files(spark, root).toSet == filesBefore)
    // a key only the wide type can hold
    spark.sql(
      "INSERT INTO graft.tw_t VALUES (9000000000, 1.5D, CAST(1 AS DECIMAL(18,2)), 'b')")
    val t = spark.table("graft.tw_t")
    assert(t.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(t.count() == 101)
    // the aggregate spans pre- and post-widen files
    assert(spark.sql("SELECT sum(k) AS s FROM graft.tw_t").head().getLong(0) ==
      (0L until 100L).sum + 9000000000L)
    // pushed filters cross the widen: a long literal over INT32 files
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.tw_t WHERE k >= 90").head()
      .getLong(0) == 11)
    assert(spark.sql(
      "SELECT k FROM graft.tw_t WHERE k = 9000000000").count() == 1)
    // a sidecar analyzed over the widened key still answers metadata
    // MIN/MAX (kind 'long' is width-agnostic)
    SnapshotStore.writeStats(spark, root, "k")
    GraftCatalog.register(spark, "tw_t", root) // reload at the new version
    val mm = spark.sql("SELECT min(k) AS lo, max(k) AS hi FROM graft.tw_t")
    assert(mm.queryExecution.executedPlan.toString.contains("LocalTableScan"))
    assert(mm.head().toSeq == Seq(0L, 9000000000L))
    // declines: narrowing, non-widening, partition-spec columns
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.tw_t ALTER COLUMN k TYPE INT")
    }
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.tw_t ALTER COLUMN g TYPE BIGINT")
    }
    spark.sql("DROP TABLE IF EXISTS graft.tw_p")
    spark.sql(
      "CREATE TABLE graft.tw_p (k INT, u INT) PARTITIONED BY (bucket(4, u))")
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.tw_p ALTER COLUMN u TYPE BIGINT")
    }
  }

  test("partition transforms: hours/months/years/truncate route, annotate, and prune") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan, StringStartsWith}
    val w = freshWarehouse()
    // hours(ts): 48 hourly tuples, a one-hour probe admits exactly one
    spark.sql("DROP TABLE IF EXISTS graft.pt_hrs")
    spark.sql(
      """CREATE TABLE graft.pt_hrs (k BIGINT, ts TIMESTAMP)
        |PARTITIONED BY (hours(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pt_hrs
        |SELECT id, timestampadd(MINUTE, CAST(id AS INT),
        |  TIMESTAMP '2026-01-01 00:00:00')
        |FROM range(0, 2880)""".stripMargin)
    val hroot = s"$w/pt_hrs"
    val hfiles = SnapshotStore.files(spark, hroot)
    assert(hfiles.size == 48, s"expected 48 hour files, got ${hfiles.size}")
    val hadm = graft.catalog.SnapshotPartitions.prune(spark, hroot,
      SnapshotStore.currentVersion(spark, hroot),
      Seq(GreaterThanOrEqual("ts",
        java.sql.Timestamp.valueOf("2026-01-01 05:00:00")),
        LessThan("ts", java.sql.Timestamp.valueOf("2026-01-01 06:00:00"))),
      hfiles)
    assert(hadm.size == 1, s"hours pruning admitted ${hadm.size}")
    assert(spark.sql(
      """SELECT count(*) AS n FROM graft.pt_hrs
        |WHERE ts >= TIMESTAMP '2026-01-01 05:00:00'
        |  AND ts < TIMESTAMP '2026-01-01 06:00:00'""".stripMargin)
      .head().getLong(0) == 60)
    // an IN list prunes partition tuples by its bucket envelope
    val hin = graft.catalog.SnapshotPartitions.prune(spark, hroot,
      SnapshotStore.currentVersion(spark, hroot),
      Seq(org.apache.spark.sql.sources.In("ts", Array(
        java.sql.Timestamp.valueOf("2026-01-01 05:10:00"),
        java.sql.Timestamp.valueOf("2026-01-01 06:10:00")))), hfiles)
    assert(hin.size == 2, s"hours IN pruning admitted ${hin.size}")
    // months(d) over a DATE column: a month-range probe prunes exactly
    spark.sql("DROP TABLE IF EXISTS graft.pt_mon")
    spark.sql(
      """CREATE TABLE graft.pt_mon (k BIGINT, d DATE)
        |PARTITIONED BY (months(d))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pt_mon
        |SELECT id, date_add(DATE '2025-11-15', CAST(id AS INT))
        |FROM range(0, 120)""".stripMargin)
    val mroot = s"$w/pt_mon"
    val mfiles = SnapshotStore.files(spark, mroot)
    assert(mfiles.size == 5, s"expected 5 month files, got ${mfiles.size}")
    val madm = graft.catalog.SnapshotPartitions.prune(spark, mroot,
      SnapshotStore.currentVersion(spark, mroot),
      Seq(GreaterThanOrEqual("d", java.sql.Date.valueOf("2026-01-01")),
        LessThan("d", java.sql.Date.valueOf("2026-02-01"))), mfiles)
    assert(madm.size == 1, s"months pruning admitted ${madm.size}")
    assert(spark.sql(
      """SELECT count(*) AS n FROM graft.pt_mon
        |WHERE d >= DATE '2026-01-01' AND d < DATE '2026-02-01'""".stripMargin)
      .head().getLong(0) == 31)
    // years(ts): one file per year, a year-equality probe admits one
    spark.sql("DROP TABLE IF EXISTS graft.pt_yrs")
    spark.sql(
      """CREATE TABLE graft.pt_yrs (k BIGINT, ts TIMESTAMP)
        |PARTITIONED BY (years(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pt_yrs
        |SELECT id, timestampadd(DAY, CAST(id * 100 AS INT),
        |  TIMESTAMP '2024-06-01 12:00:00')
        |FROM range(0, 12)""".stripMargin)
    val yroot = s"$w/pt_yrs"
    val yfiles = SnapshotStore.files(spark, yroot)
    assert(yfiles.size >= 3, s"expected >=3 year files, got ${yfiles.size}")
    val yadm = graft.catalog.SnapshotPartitions.prune(spark, yroot,
      SnapshotStore.currentVersion(spark, yroot),
      Seq(GreaterThanOrEqual("ts",
        java.sql.Timestamp.valueOf("2025-01-01 00:00:00")),
        LessThan("ts", java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))),
      yfiles)
    assert(yadm.size == 1, s"years pruning admitted ${yadm.size}")
    // truncate(3, s) over strings: prefix files, equality and long
    // prefixes prune
    spark.sql("DROP TABLE IF EXISTS graft.pt_trs")
    spark.sql(
      """CREATE TABLE graft.pt_trs (k BIGINT, s STRING)
        |PARTITIONED BY (truncate(3, s))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pt_trs
        |SELECT id, concat(CASE WHEN id % 2 = 0 THEN 'abc' ELSE 'xyz' END,
        |  '_', CAST(id AS STRING))
        |FROM range(0, 100)""".stripMargin)
    val troot = s"$w/pt_trs"
    val tfiles = SnapshotStore.files(spark, troot)
    assert(tfiles.size == 2, s"expected 2 prefix files, got ${tfiles.size}")
    val tadm = graft.catalog.SnapshotPartitions.prune(spark, troot,
      SnapshotStore.currentVersion(spark, troot),
      Seq(EqualTo("s", "abc_42")), tfiles)
    assert(tadm.size == 1, s"truncate equality admitted ${tadm.size}")
    val tadm2 = graft.catalog.SnapshotPartitions.prune(spark, troot,
      SnapshotStore.currentVersion(spark, troot),
      Seq(StringStartsWith("s", "xyz_")), tfiles)
    assert(tadm2.size == 1, s"truncate prefix admitted ${tadm2.size}")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.pt_trs WHERE s = 'abc_42'")
      .head().getLong(0) == 1)
    // truncate(10, k) over integers: range pruning in the raw domain
    spark.sql("DROP TABLE IF EXISTS graft.pt_tri")
    spark.sql(
      """CREATE TABLE graft.pt_tri (k BIGINT, v DOUBLE)
        |PARTITIONED BY (truncate(10, k))""".stripMargin)
    spark.sql(
      "INSERT INTO graft.pt_tri SELECT id, id * 0.5 FROM range(0, 100)")
    val iroot = s"$w/pt_tri"
    val ifiles = SnapshotStore.files(spark, iroot)
    assert(ifiles.size == 10, s"expected 10 decade files, got ${ifiles.size}")
    val iadm = graft.catalog.SnapshotPartitions.prune(spark, iroot,
      SnapshotStore.currentVersion(spark, iroot),
      Seq(GreaterThanOrEqual("k", 35L), LessThan("k", 50L)), ifiles)
    assert(iadm.size == 2, s"truncate range admitted ${iadm.size}")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.pt_tri WHERE k >= 35 AND k < 50")
      .head().getLong(0) == 15)
  }

  test("partition-spec evolution: each file prunes under its OWN spec epoch") {
    import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.pse_t")
    // identity values are NUMERIC strings on purpose: decoded under the
    // LATER days() spec they would parse as day numbers and wrongly prune
    spark.sql(
      """CREATE TABLE graft.pse_t (k BIGINT, g STRING, ts TIMESTAMP)
        |PARTITIONED BY (g)""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pse_t
        |SELECT id, CAST(100 + id % 2 AS STRING),
        |  timestampadd(HOUR, CAST(id % 48 AS INT),
        |    TIMESTAMP '2026-01-01 00:00:00')
        |FROM range(0, 96)""".stripMargin)
    val root = s"$w/pse_t"
    val oldFiles = SnapshotStore.files(spark, root)
    assert(oldFiles.size == 2)
    val r = spark.sql(
      "CALL graft.set_partition_spec('pse_t', 'days(ts)')").head()
    assert(r.getString(1) == "g" && r.getString(2) == "days(ts)")
    spark.sql(
      """INSERT INTO graft.pse_t
        |SELECT 1000 + id, 'x',
        |  timestampadd(HOUR, CAST(id % 48 AS INT),
        |    TIMESTAMP '2026-01-01 00:00:00')
        |FROM range(0, 96)""".stripMargin)
    val files = SnapshotStore.files(spark, root)
    assert(files.size == 4, s"expected 2 old + 2 day files: $files")
    val cur = SnapshotStore.currentVersion(spark, root)
    // a ts-day probe: the two NEW files prune to one; the OLD files'
    // numeric identity annotations must NOT be misread as day numbers
    val dayFilter = Seq[org.apache.spark.sql.sources.Filter](
      GreaterThanOrEqual("ts", java.sql.Timestamp.valueOf("2026-01-02 00:00:00")),
      LessThan("ts", java.sql.Timestamp.valueOf("2026-01-03 00:00:00")))
    val dayAdm = graft.catalog.SnapshotPartitions.prune(spark, root, cur,
      dayFilter, files)
    assert(dayAdm.size == 3,
      s"expected both old files + one day file, got $dayAdm")
    // an identity probe on the OLD spec column still prunes the old files
    val gAdm = graft.catalog.SnapshotPartitions.prune(spark, root, cur,
      Seq(EqualTo("g", "100")), files)
    assert(gAdm.size == 3, s"expected one old file + both new, got $gAdm")
    // stacked: both constraints intersect to (old 'g=100') + (new day-2)
    val both = graft.catalog.SnapshotPartitions.prune(spark, root, cur,
      EqualTo("g", "100") +: dayFilter, files)
    assert(both.size == 2, s"stacked pruning admitted $both")
    // content exact through the catalog plan
    assert(spark.sql(
      """SELECT count(*) AS n FROM graft.pse_t
        |WHERE ts >= TIMESTAMP '2026-01-02 00:00:00'
        |  AND ts < TIMESTAMP '2026-01-03 00:00:00'""".stripMargin)
      .head().getLong(0) == 96)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.pse_t WHERE g = '100'")
      .head().getLong(0) == 48)
    // declines: unparsable spec, unknown column
    intercept[Throwable] {
      spark.sql("CALL graft.set_partition_spec('pse_t', 'wat(k')")
    }
    intercept[Throwable] {
      spark.sql("CALL graft.set_partition_spec('pse_t', 'days(nope)')")
    }
  }

  test("branches/tags + write-audit-publish: staged commits invisible on main until publish; vacuum keeps ref roots") {
    val root = freshTable("t_wap")
    spark.sql("CALL graft.branch('t_wap', 'stage')")
    spark.sql("INSERT INTO graft.t_wap VALUES (500L, 'staged', 5.0)")
    // bare reads resolve the pinned main: zero staged rows
    assert(spark.table("graft.t_wap").count() == 100)
    assert(spark.table("graft.t_wap")
      .where(col("v") === "staged").isEmpty)
    // the branch (floating ref) sees the staged tip
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_wap VERSION AS OF 'stage'")
      .head().getLong(0) == 101)
    // a second staging branch declines while one is open
    intercept[Throwable] { spark.sql("CALL graft.branch('t_wap', 'other')") }
    // publish: one metadata commit fast-forwards main
    spark.sql("CALL graft.publish('t_wap', 'stage')")
    assert(spark.table("graft.t_wap").count() == 101)
    // publishing a non-open ref declines
    intercept[Throwable] { spark.sql("CALL graft.publish('t_wap', 'stage')") }
    // tags pin a version through vacuum (retention roots)
    spark.sql("CALL graft.tag('t_wap', 'launch', 1)")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_wap VERSION AS OF 'launch'")
      .head().getLong(0) == 100)
    spark.sql("CALL graft.vacuum('t_wap', 1)")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_wap VERSION AS OF 'launch'")
      .head().getLong(0) == 100, "vacuum collected a tagged version")
    assert(SnapshotStore.versions(spark, root).contains(1))
    // dropping the ref releases the root: the next vacuum collects it
    spark.sql("CALL graft.drop_ref('t_wap', 'launch')")
    spark.sql("CALL graft.vacuum('t_wap', 1)")
    assert(SnapshotStore.versions(spark, root).size == 1)
    intercept[Throwable] {
      spark.sql(
        "SELECT * FROM graft.t_wap VERSION AS OF 'launch'").collect()
    }
  }

  test("rollback restores a version as a new commit; declines under an open staging branch") {
    val root = freshTable("t_rb")
    spark.sql("DELETE FROM graft.t_rb WHERE k <= 50")
    assert(spark.table("graft.t_rb").count() == 50)
    val r = spark.sql("CALL graft.rollback('t_rb', 1)").head()
    assert(r.getInt(0) == 3 && r.getInt(1) == 1)
    assert(spark.table("graft.t_rb").count() == 100)
    // the bad version is still time-travelable (history intact)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_rb VERSION AS OF 2")
      .head().getLong(0) == 50)
    assert(SnapshotStore.versions(spark, root) == Seq(1, 2, 3))
    // refs survive a rollback; rollback declines while main is pinned
    spark.sql("CALL graft.tag('t_rb', 'keep', 2)")
    spark.sql("CALL graft.rollback('t_rb', 2)")
    assert(spark.table("graft.t_rb").count() == 50)
    assert(SnapshotStore.refsOf(spark, root).get("keep").contains(Some(2)))
    spark.sql("CALL graft.branch('t_rb', 'stage2')")
    intercept[Throwable] { spark.sql("CALL graft.rollback('t_rb', 1)") }
    spark.sql("CALL graft.publish('t_rb', 'stage2')")
    // unknown version declines
    intercept[Throwable] { spark.sql("CALL graft.rollback('t_rb', 99)") }
  }

  test("remove_orphans deletes only unreferenced old files; grace protects fresh ones") {
    val root = freshTable("t_orph")
    val f = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = SnapshotStore.files(spark, root)
    val oldOrphan = new org.apache.hadoop.fs.Path(root, "base_dead_0.parquet")
    val freshOrphan = new org.apache.hadoop.fs.Path(root, "base_new_0.parquet")
    Seq(oldOrphan, freshOrphan).foreach(p =>
      org.apache.hadoop.fs.FileUtil.copy(f,
        new org.apache.hadoop.fs.Path(live.head), f, p, false,
        spark.sparkContext.hadoopConfiguration))
    f.setTimes(oldOrphan, System.currentTimeMillis() - 7200000L, -1)
    val removed = spark.sql(
      "CALL graft.remove_orphans('t_orph', grace_ms => 3600000)")
      .head().getInt(0)
    assert(removed == 1, s"expected only the old orphan removed: $removed")
    assert(!f.exists(oldOrphan) && f.exists(freshOrphan))
    // live data untouched, content intact; a file referenced ONLY by an
    // old version is still protected (it is referenced)
    assert(live.forall(p => f.exists(new org.apache.hadoop.fs.Path(p))))
    assert(spark.table("graft.t_orph").count() == 100)
    f.delete(freshOrphan, false)
  }

  test("streaming read of a WAP-staged table never emits staged versions until publish") {
    freshTable("t_wstream")
    val out = java.nio.file.Files.createTempDirectory("catspec_wstream")
    spark.sql("CALL graft.branch('t_wstream', 'wst')")
    spark.sql("INSERT INTO graft.t_wstream VALUES (901L, 'staged', 1.0)")
    def drain(): Unit = {
      val q = spark.readStream.table("graft.t_wstream")
        .writeStream.format("parquet")
        .option("path", s"$out/sink")
        .option("checkpointLocation", s"$out/cp")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000)
      q.stop()
    }
    drain()
    // the stream drained to the PIN: base rows only, no staged row
    val sunk1 = spark.read.parquet(s"$out/sink")
    assert(sunk1.count() == 100)
    assert(sunk1.where(col("v") === "staged").isEmpty)
    spark.sql("CALL graft.publish('t_wstream', 'wst')")
    drain() // resume from the same checkpoint
    // post-publish the staged row arrives exactly once
    val sunk2 = spark.read.parquet(s"$out/sink")
    assert(sunk2.count() == 101)
    assert(sunk2.where(col("v") === "staged").count() == 1)
  }

  test("SPJ engages on truncate-partitioned tables; time travel crosses a widen") {
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.spj_t1")
    spark.sql("DROP TABLE IF EXISTS graft.spj_t2")
    spark.sql(
      "CREATE TABLE graft.spj_t1 (k BIGINT, va DOUBLE) PARTITIONED BY (truncate(100, k))")
    spark.sql(
      "CREATE TABLE graft.spj_t2 (k BIGINT, vb BIGINT) PARTITIONED BY (truncate(100, k))")
    spark.sql("INSERT INTO graft.spj_t1 SELECT id, id * 0.5 FROM range(0, 1000)")
    spark.sql("INSERT INTO graft.spj_t2 SELECT id, id * 10 FROM range(0, 1000, 2)")
    val confs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = spark.sql(
        """SELECT count(*) AS n FROM graft.spj_t1 a
          |JOIN graft.spj_t2 b ON a.k = b.k""".stripMargin)
      j.queryExecution.optimizedPlan.foreach {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          val op = r.scan.asInstanceOf[graft.catalog.SnapshotScan]
            .outputPartitioning()
          info(s"scan partitioning: ${op.getClass.getSimpleName} $op")
        case _ => ()
      }
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"truncate SPJ did not engage:\n$p")
      assert(j.head().getLong(0) == 500L)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // time travel to a pre-widen version reads under ITS schema
    spark.sql("DROP TABLE IF EXISTS graft.tt_w")
    spark.sql("CREATE TABLE graft.tt_w (k INT)")
    spark.sql("INSERT INTO graft.tt_w SELECT CAST(id AS INT) FROM range(0, 5)")
    spark.sql("ALTER TABLE graft.tt_w ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO graft.tt_w VALUES (8000000000)")
    val v2 = spark.sql("SELECT * FROM graft.tt_w VERSION AS OF 2")
    assert(v2.schema("k").dataType == org.apache.spark.sql.types.IntegerType)
    assert(v2.count() == 5)
    assert(spark.table("graft.tt_w").count() == 6)
  }

  test("MoR row-level DML lands on a staging branch: tombstones rebase onto the tip") {
    val root = freshTable("t_wmor")
    spark.sql("CALL graft.set_write_mode('t_wmor', 'mor')")
    spark.sql("CALL graft.branch('t_wmor', 'wm')")
    // the DELETE loads the table at the pinned main but its delta commit
    // rebases onto the branch tip (covered files untouched, schema
    // unchanged) — previously this OCC-conflicted outright
    spark.sql("DELETE FROM graft.t_wmor WHERE k <= 10")
    assert(spark.table("graft.t_wmor").count() == 100,
      "staged MoR delete leaked to main")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_wmor VERSION AS OF 'wm'")
      .head().getLong(0) == 90)
    spark.sql("CALL graft.publish('t_wmor', 'wm')")
    assert(spark.table("graft.t_wmor").count() == 90)
    assert(spark.table("graft.t_wmor").where(col("k") <= 10).isEmpty)
    // the vectors landed as bitmap payloads and survive a compaction
    assert(SnapshotStore.deleteVectors(spark, root).nonEmpty)
    spark.sql("CALL graft.compact(table => 't_wmor', buckets => 2, cluster_col => 'k')")
    assert(SnapshotStore.deleteVectors(spark, root).isEmpty)
    assert(spark.table("graft.t_wmor").count() == 90)
  }

  test("persistent namespace: a fresh session resolves tables with only the warehouse conf") {
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.ns_t")
    spark.sql("CREATE TABLE graft.ns_t (k BIGINT)")
    spark.sql("INSERT INTO graft.ns_t VALUES (1L), (2L)")
    // a brand-new session: catalog impl + warehouse conf ONLY — the
    // name→root mapping must come from the on-disk namespace manifest
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s2.conf.set("spark.sql.catalog.graft.warehouse", w)
    assert(s2.conf.getOption("spark.sql.catalog.graft.path.ns_t").isEmpty)
    assert(s2.sql("SELECT count(*) AS n FROM graft.ns_t").head().getLong(0) == 2)
    assert(s2.sql("CALL graft.history('ns_t')").count() == 2)
    assert(s2.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("ns_t"))
    // DML through the fresh session commits to the same store
    s2.sql("INSERT INTO graft.ns_t VALUES (3L)")
    assert(spark.table("graft.ns_t").count() == 3)
    // DROP removes the namespace entry: the fresh session then declines
    spark.sql("DROP TABLE graft.ns_t")
    intercept[Throwable] { s2.sql("SELECT * FROM graft.ns_t").collect() }
    assert(!s2.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("ns_t"))
  }

  test("identity/bucket pruning on DATE and TIMESTAMP columns: typed literals match the write rendering") {
    val w = freshWarehouse()
    // identity partition on a DATE column: the manifest annotation is the
    // INTERNAL epoch-day rendering; the pushed literal is an external
    // java.sql.Date — before the typed-renderer fix every file failed the
    // admissibility test and the probe silently returned zero rows
    spark.sql("DROP TABLE IF EXISTS graft.pt_date")
    spark.sql(
      "CREATE TABLE graft.pt_date (k BIGINT, d DATE) PARTITIONED BY (d)")
    spark.sql(
      """INSERT INTO graft.pt_date
        |SELECT id, date_add(DATE '2026-03-01', CAST(id % 3 AS INT))
        |FROM range(0, 300)""".stripMargin)
    val root = s"$w/pt_date"
    val files = SnapshotStore.files(spark, root)
    assert(files.size == 3, s"expected one file per day, got $files")
    val probe = spark.sql(
      "SELECT count(*) AS n FROM graft.pt_date WHERE d = DATE '2026-03-02'")
    assert(probe.head().getLong(0) == 100L, "date-identity probe lost rows")
    // and it actually PRUNES: only one file admitted
    val adm = graft.catalog.SnapshotPartitions.prune(spark, root,
      SnapshotStore.currentVersion(spark, root),
      Seq(org.apache.spark.sql.sources.EqualTo("d",
        java.sql.Date.valueOf("2026-03-02"))), files)
    assert(adm.size == 1, s"date-identity pruning admitted $adm")
    // bucket over a DATE column: the hash must see the internal epoch-day
    spark.sql("DROP TABLE IF EXISTS graft.pt_bdate")
    spark.sql(
      "CREATE TABLE graft.pt_bdate (k BIGINT, d DATE) PARTITIONED BY (bucket(4, d))")
    spark.sql(
      """INSERT INTO graft.pt_bdate
        |SELECT id, date_add(DATE '2026-03-01', CAST(id % 16 AS INT))
        |FROM range(0, 160)""".stripMargin)
    val broot = s"$w/pt_bdate"
    val bprobe = spark.sql(
      "SELECT count(*) AS n FROM graft.pt_bdate WHERE d = DATE '2026-03-05'")
    assert(bprobe.head().getLong(0) == 10L, "date-bucket probe lost rows")
    val bfiles = SnapshotStore.files(spark, broot)
    val badm = graft.catalog.SnapshotPartitions.prune(spark, broot,
      SnapshotStore.currentVersion(spark, broot),
      Seq(org.apache.spark.sql.sources.EqualTo("d",
        java.sql.Date.valueOf("2026-03-05"))), bfiles)
    assert(badm.size < bfiles.size, s"date-bucket pruning admitted $badm")
  }

  test("compact keeps annotations through transform and multi-item specs") {
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.pt_opt2")
    spark.sql(
      """CREATE TABLE graft.pt_opt2 (k BIGINT, ts TIMESTAMP, g STRING)
        |PARTITIONED BY (g, days(ts))""".stripMargin)
    spark.sql(
      """INSERT INTO graft.pt_opt2
        |SELECT id, timestampadd(HOUR, CAST(id % 72 AS INT),
        |  TIMESTAMP '2026-01-01 00:00:00'),
        |  CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END
        |FROM range(0, 720)""".stripMargin)
    val root = s"$w/pt_opt2"
    spark.sql("CALL graft.compact(table => 'pt_opt2', buckets => 2, cluster_col => 'k')")
    val files = SnapshotStore.files(spark, root)
    val pv = SnapshotStore.partitionValuesOf(spark, root)
    assert(files.forall(f => pv.contains(SnapshotStore.uriPath(f))),
      s"compact dropped annotations on a transform spec: $files vs $pv")
    // pruning power survives OPTIMIZE: a one-day one-group probe admits a
    // strict subset, and content is intact
    val admitted = graft.catalog.SnapshotPartitions.prune(spark, root,
      SnapshotStore.currentVersion(spark, root),
      Seq[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("g", "a"),
        org.apache.spark.sql.sources.GreaterThanOrEqual("ts",
          java.sql.Timestamp.valueOf("2026-01-02 00:00:00")),
        org.apache.spark.sql.sources.LessThan("ts",
          java.sql.Timestamp.valueOf("2026-01-03 00:00:00"))), files)
    assert(admitted.size < files.size,
      s"no pruning after compact: $admitted of ${files.size}")
    assert(spark.sql(
      """SELECT count(*) AS n FROM graft.pt_opt2
        |WHERE g = 'a' AND ts >= TIMESTAMP '2026-01-02 00:00:00'
        |  AND ts < TIMESTAMP '2026-01-03 00:00:00'""".stripMargin)
      .head().getLong(0) == 120)
    assert(spark.table("graft.pt_opt2").count() == 720)
  }

  test("identity partition values with structural characters decline loudly at write") {
    freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.pt_tab")
    spark.sql(
      "CREATE TABLE graft.pt_tab (k BIGINT, g STRING) PARTITIONED BY (g)")
    val e = intercept[Throwable] {
      spark.sql("INSERT INTO graft.pt_tab VALUES (1L, 'a\tb')")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        msgs(x.getCause))
    assert(msgs(e).exists(_.contains("structural character")),
      s"unexpected error: $e")
    // the failed write must not have committed anything
    assert(spark.table("graft.pt_tab").count() == 0)
  }

  test("MoR vector-overlap conflict: same-file vector rebase declines, disjoint files both land") {
    val root = freshTable("t_vvc") // 4 range-clustered files, keys 1..100
    SnapshotStore.setWriteMode(spark, root, "mor") // v2
    val loaded = SnapshotStore.currentVersion(spark, root)
    // a concurrent MoR DELETE lands a vector on the file holding k=5
    spark.sql("DELETE FROM graft.t_vvc WHERE k = 5")
    assert(SnapshotStore.currentVersion(spark, root) == loaded + 1)
    val cov = SnapshotStore.dvCoverage(spark, root)
    assert(cov.size == 1, s"expected one vectored file, got $cov")
    val hitFile = cov.keys.head
    val otherFile = SnapshotStore.files(spark, root)
      .map(SnapshotStore.uriPath).filterNot(_ == hitFile).head
    // a vector commit planned at `loaded` covering the SAME file must
    // decline the rebase (UPDATE∥DELETE on overlapping rows would let a
    // deleted row resurrect as its updated image)
    assert(!graft.catalog.SnapshotTable.vectorCommitValidate(spark, root,
      loaded, Set(hitFile))(SnapshotStore.currentVersion(spark, root)),
      "same-file vector rebase must decline")
    // a DISJOINT-file vector commit still commutes
    assert(graft.catalog.SnapshotTable.vectorCommitValidate(spark, root,
      loaded, Set(otherFile))(SnapshotStore.currentVersion(spark, root)),
      "disjoint-file vector rebase must land")
    // and end-to-end through appendCommit: the stale same-file commit
    // aborts LOUDLY with a conflict, never interleaves
    intercept[SnapshotStore.CommitConflictException] {
      graft.catalog.SnapshotTable.appendCommit(spark, root, loaded,
        Seq(SnapshotStore.dvLineCovering(s"$root/dvb_fake_0.parquet",
          Seq(hitFile))), Nil,
        validate = graft.catalog.SnapshotTable.vectorCommitValidate(spark,
          root, loaded, Set(hitFile)))
    }
  }

  test("threaded OCC: concurrent MoR UPDATE and DELETE over the same rows never lose the delete") {
    val root = freshTable("t_vrace")
    SnapshotStore.setWriteMode(spark, root, "mor")
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val pool = Executors.newFixedThreadPool(2)
    val start = new CountDownLatch(1)
    def run(sql: String) =
      pool.submit(new java.util.concurrent.Callable[Option[Throwable]] {
        override def call(): Option[Throwable] = {
          start.await()
          try { spark.sql(sql); None } catch { case t: Throwable => Some(t) }
        }
      })
    val upd = run("UPDATE graft.t_vrace SET v = 'RACED' WHERE k BETWEEN 10 AND 20")
    val del = run("DELETE FROM graft.t_vrace WHERE k BETWEEN 15 AND 25")
    start.countDown()
    val (updErr, delErr) = (upd.get(120, TimeUnit.SECONDS),
      del.get(120, TimeUnit.SECONDS))
    pool.shutdown()
    // a loser may decline loudly (conflict) — but NEVER a lost delete:
    // if both landed they serialized, and whichever order they took, a
    // row the delete covered and the update did not re-insert after it
    // must be gone; if the delete succeeded at all, k=25 (outside the
    // update's range) is unconditionally gone
    val t = spark.table("graft.t_vrace")
    (updErr, delErr) match {
      case (None, None) => // serialized: delete-after-update or update lost rows to delete
        assert(t.where(col("k") === 25L).isEmpty, "k=25 must be deleted")
        // no resurrected duplicate keys either way
        assert(t.groupBy(col("k")).count().where(col("count") > 1).isEmpty)
      case (Some(e), None) =>
        assert(e.getMessage != null)
        assert(t.where(col("k") === 25L).isEmpty, "k=25 must be deleted")
      case (None, Some(e)) =>
        assert(e.getMessage != null)
        assert(t.where(col("k") === 15L && col("v") =!= "RACED").isEmpty)
      case (Some(a), Some(b)) =>
        fail(s"both writers failed: $a / $b")
    }
  }

  test("append rebase declines when the partition spec evolved concurrently") {
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.pt_drift")
    spark.sql(
      "CREATE TABLE graft.pt_drift (k BIGINT, g STRING) PARTITIONED BY (g)")
    spark.sql("INSERT INTO graft.pt_drift VALUES (1L, 'a'), (2L, 'b')")
    val root = s"$w/pt_drift"
    val loaded = SnapshotStore.currentVersion(spark, root)
    // concurrent spec evolution commits between load and publish
    spark.sql("CALL graft.set_partition_spec('pt_drift', 'bucket(4, k)')")
    val e = intercept[SnapshotStore.CommitConflictException] {
      graft.catalog.SnapshotTable.appendCommit(spark, root, loaded,
        Seq(s"$root/fake_stale_0.parquet\tpart=a"), Nil)
    }
    assert(e.getMessage.contains("partition spec"), e.getMessage)
    // the stale annotation never reached the manifest
    assert(!SnapshotStore.files(spark, root).exists(_.contains("fake_stale")))
  }

  test("vacuum on a never-committed root is a no-op, not an error") {
    val out = java.nio.file.Files.createTempDirectory("vacempty")
    assert(SnapshotStore.vacuum(spark, s"$out/t", 1) == ((Nil, Nil)))
  }

  test("delete vectors apply INSIDE the vectorized reader: mixed vectored+clean scan stays columnar and exact") {
    val root = freshTable("t_dvvec") // 4 range-clustered files, k=1..100
    SnapshotStore.setWriteMode(spark, root, "mor")
    // tombstones on two of the four files; the other two stay clean
    spark.sql("DELETE FROM graft.t_dvvec WHERE k IN (5, 7, 90)")
    assert(SnapshotStore.dvCoverage(spark, root).nonEmpty)
    val df = spark.sql("SELECT count(*) AS n, sum(k) AS s FROM graft.t_dvvec")
    val r = df.head()
    assert(r.getLong(0) == 97L)
    assert(r.getLong(1) == 5050L - 5 - 7 - 90)
    // the scan REMAINS columnar: every partition — vectored or clean —
    // reports columnar support, and at least one actually carries vectors
    val scan = df.queryExecution.optimizedPlan.collect {
      case rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        rel.scan.asInstanceOf[graft.catalog.SnapshotScan]
    }.head
    val parts = scan.planInputPartitions()
    val factory = scan.createReaderFactory()
    assert(parts.forall(factory.supportColumnarReads),
      "a vectored split dropped the scan out of columnar mode")
    assert(parts.exists(
      _.asInstanceOf[graft.catalog.SnapshotInputPartition].dvPaths.nonEmpty))
    // exactness ACROSS SPLIT BOUNDARIES: force multi-split files — the
    // native row index is file-absolute, so tombstones must drop exactly
    // once no matter which split holds them
    val old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "512")
      val df2 = spark.sql("SELECT count(*) AS n, sum(k) AS s FROM graft.t_dvvec")
      val scan2 = df2.queryExecution.optimizedPlan.collect {
        case rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          rel.scan.asInstanceOf[graft.catalog.SnapshotScan]
      }.head
      assert(scan2.planInputPartitions().length >
        SnapshotStore.files(spark, root).length,
        "maxPartitionBytes=512 did not split the files")
      val r2 = df2.head()
      assert(r2.getLong(0) == 97L)
      assert(r2.getLong(1) == 5050L - 5 - 7 - 90)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    // string/double columns ride the same selection wrapper
    val r3 = spark.sql(
      """SELECT sum(CAST(p AS DECIMAL(18,2))) AS sp,
        |  count(DISTINCT v) AS nv FROM graft.t_dvvec""".stripMargin).head()
    assert(r3.getDecimal(0).longValue() == 5050L - 5 - 7 - 90)
    assert(r3.getLong(1) == 97L)
  }

  test("scoped compaction: where-admitted partition rewritten, others byte-identical, vectors follow the scope") {
    val w = freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.pt_scomp")
    spark.sql(
      "CREATE TABLE graft.pt_scomp (k BIGINT, g STRING) PARTITIONED BY (g)")
    // fragment both partitions: 3 inserts -> 3 files per partition
    (0 until 3).foreach { i =>
      spark.sql(
        s"""INSERT INTO graft.pt_scomp
           |SELECT id + ${i * 100}, CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END
           |FROM range(0, 100)""".stripMargin)
    }
    val root = s"$w/pt_scomp"
    SnapshotStore.setWriteMode(spark, root, "mor")
    spark.sql("DELETE FROM graft.pt_scomp WHERE g = 'a' AND k % 10 = 4")
    spark.sql("DELETE FROM graft.pt_scomp WHERE g = 'b' AND k % 10 = 5")
    val beforeFiles = SnapshotStore.files(spark, root)
    val pv = SnapshotStore.partitionValuesOf(spark, root)
    val bFiles = beforeFiles.filter(f =>
      pv.get(SnapshotStore.uriPath(f)).contains("b")).toSet
    val aFiles = beforeFiles.toSet -- bFiles
    assert(aFiles.size == 3 && bFiles.size == 3)
    val dvBefore = SnapshotStore.deleteVectors(spark, root).toSet
    // per-task vector files: classify by which partition's files they cover
    val cov = SnapshotStore.dvCoverage(spark, root)
    val dvA = aFiles.flatMap(f =>
      cov.getOrElse(SnapshotStore.uriPath(f), Nil))
    val dvB = bFiles.flatMap(f =>
      cov.getOrElse(SnapshotStore.uriPath(f), Nil))
    assert(dvA.nonEmpty && dvB.nonEmpty && (dvA intersect dvB).isEmpty,
      s"expected per-partition vectors: a=$dvA b=$dvB")
    val fsys = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamp(p: String) = {
      val st = fsys.getFileStatus(new org.apache.hadoop.fs.Path(p))
      (st.getLen, st.getModificationTime)
    }
    val bStamps = bFiles.map(f => f -> stamp(f)).toMap
    val expect = spark.table("graft.pt_scomp")
      .agg(count(lit(1)), sum(col("k"))).head()
    // below the min_files floor: a NO-OP — no commit, no version churn
    val v0 = SnapshotStore.currentVersion(spark, root)
    spark.sql("CALL graft.compact(table => 'pt_scomp', buckets => 1, " +
      "where => 'g = \\'a\\'', min_files => 100)")
    assert(SnapshotStore.currentVersion(spark, root) == v0)
    // the scoped rewrite: only partition a's files + vector die
    val res = spark.sql("CALL graft.compact(table => 'pt_scomp', " +
      "buckets => 1, cluster_col => 'k', where => 'g = \\'a\\'', " +
      "min_files => 2)").head()
    assert(res.getInt(3) == dvA.size,
      s"expected ${dvA.size} vectors reconciled: $res")
    val after = SnapshotStore.files(spark, root).toSet
    assert(bFiles.subsetOf(after), "untouched partition lost files")
    assert(bFiles.forall(f => stamp(f) == bStamps(f)),
      "untouched partition files changed bytes/mtime")
    assert((after intersect aFiles).isEmpty, "scoped files not rewritten")
    assert((after -- bFiles).size < aFiles.size, "no bin-packing happened")
    val dvAfter = SnapshotStore.deleteVectors(spark, root)
      .map(SnapshotStore.uriPath).toSet
    assert(dvAfter == dvB.map(SnapshotStore.uriPath),
      s"vector reconciliation must follow the scope: $dvBefore -> $dvAfter")
    // content EXACT through the scoped rewrite (rebuild oracle)
    val got = spark.table("graft.pt_scomp")
      .agg(count(lit(1)), sum(col("k"))).head()
    assert(got == expect, s"content drifted: $expect -> $got")
    // and partition-a reads no longer consult any vector
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.pt_scomp WHERE g = 'a' AND k % 10 = 4")
      .head().getLong(0) == 0L)
  }

  test("time-based vacuum: older_than keeps in-window and ref-pinned versions, expires the rest") {
    val root = freshTable("t_tvac") // v1
    spark.sql("INSERT INTO graft.t_tvac VALUES (201L, 'x', 1.0)") // v2
    spark.sql("INSERT INTO graft.t_tvac VALUES (202L, 'x', 1.0)") // v3
    spark.sql("CALL graft.tag('t_tvac', 'keepme', 1)") // v4 pins v1
    spark.sql("INSERT INTO graft.t_tvac VALUES (203L, 'x', 1.0)") // v5
    val now = System.currentTimeMillis()
    Seq(1 -> 50, 2 -> 40, 3 -> 30, 4 -> 20, 5 -> 10).foreach { case (v, s) =>
      SnapshotStore.setCommitTime(spark, root, v, now - s * 1000L)
    }
    // cutoff between v2 and v3: v3..v5 are in-window, v1 is ref-pinned,
    // v2 expires — the manifest-mtime clock IS the TIMESTAMP AS OF clock
    val cutoff = new java.sql.Timestamp(now - 35000L).toString
    val r = spark.sql(
      s"CALL graft.vacuum('t_tvac', keep => 1, older_than => '$cutoff')")
      .head()
    assert(r.getInt(1) == 1, s"expected exactly v2 expired: $r")
    assert(SnapshotStore.versions(spark, root) == Seq(1, 3, 4, 5))
    // the pinned tag still resolves its snapshot whole
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.t_tvac VERSION AS OF 'keepme'")
      .head().getLong(0) == 100)
    assert(spark.table("graft.t_tvac").count() == 103)
    intercept[Throwable] {
      spark.sql("SELECT * FROM graft.t_tvac VERSION AS OF 2").collect()
    }
  }

  test("nested schema evolution: struct ADD/RENAME are metadata commits with per-epoch reads") {
    freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.ns_evo")
    spark.sql(
      "CREATE TABLE graft.ns_evo (k BIGINT, s STRUCT<a: BIGINT, b: STRING>)")
    spark.sql(
      """INSERT INTO graft.ns_evo VALUES
        |(1L, named_struct('a', 10L, 'b', 'x')),
        |(2L, named_struct('a', 20L, 'b', 'y'))""".stripMargin) // v2
    spark.sql("ALTER TABLE graft.ns_evo RENAME COLUMN s.a TO a2") // v3
    spark.sql(
      "INSERT INTO graft.ns_evo VALUES (3L, named_struct('a2', 30L, 'b', 'z'))") // v4
    // per-epoch reads: the v2 file resolves a2 under its write-epoch
    // name `a`, the v4 file under the current name
    assert(spark.sql(
      "SELECT sum(s.a2) AS t FROM graft.ns_evo").head().getLong(0) == 60L)
    // pushdown on the renamed nested field: the old epoch's conjunct
    // drops (translated name differs) — result still exact
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft.ns_evo WHERE s.a2 = 20").head()
      .getLong(0) == 1L)
    assert(spark.sql(
      "SELECT k FROM graft.ns_evo WHERE s.a2 = 30").head().getLong(0) == 3L)
    // nested ADD: old files null-fill INSIDE the struct
    spark.sql("ALTER TABLE graft.ns_evo ADD COLUMN s.c BIGINT") // v5
    spark.sql(
      """INSERT INTO graft.ns_evo VALUES
        |(4L, named_struct('a2', 40L, 'b', 'w', 'c', 400L))""".stripMargin) // v6
    val rows = spark.sql(
      "SELECT k, s.c AS c FROM graft.ns_evo ORDER BY k").collect()
    assert(rows.map(r => if (r.isNullAt(1)) -1L else r.getLong(1)).toSeq ==
      Seq(-1L, -1L, -1L, 400L))
    assert(spark.sql("SELECT sum(s.a2) AS t FROM graft.ns_evo")
      .head().getLong(0) == 100L)
    // time travel reads v2 under ITS OWN (pre-rename) schema
    assert(spark.sql(
      "SELECT sum(s.a) AS t FROM graft.ns_evo VERSION AS OF 2")
      .head().getLong(0) == 30L)
    // the full struct round-trips across epochs
    val full = spark.sql("SELECT s FROM graft.ns_evo ORDER BY k").collect()
    assert(full.head.getStruct(0).getLong(0) == 10L)
    assert(full.last.getStruct(0).getLong(2) == 400L)
    // a DROP-then-re-ADD of the same nested name must NOT resurrect old
    // values — declined shapes stay declined loudly
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.ns_evo DROP COLUMN s.b")
    }
  }

  test("equality deletes: no-read upsert, columnar key anti-probe, compaction reconciles") {
    val root = freshTable("t_equps") // 4 files, k=1..100, v=v<k>, p=k*1.0
    val before = graft.catalog.SnapshotScan.created.get()
    val batch = Seq((5L, "UP", 100.0), (200L, "NEW", 1.0)).toDF("k", "v", "p")
    graft.catalog.GraftUpsert.upsert(spark, root, batch, Seq("k"))
    // the upsert NEVER scanned the target
    assert(graft.catalog.SnapshotScan.created.get() == before,
      "upsert planned a target scan")
    // replaced whole + inserted
    assert(spark.table("graft.t_equps").count() == 101)
    assert(spark.sql("SELECT v FROM graft.t_equps WHERE k = 5")
      .head().getString(0) == "UP")
    // eq applies even with the KEY COLUMN PRUNED from the projection
    // (the reader augments, probes, strips)
    assert(spark.sql("SELECT count(*) AS n FROM graft.t_equps WHERE v = 'v5'")
      .head().getLong(0) == 0L)
    // and the scan STAYS COLUMNAR through the anti-probe
    val df = spark.sql("SELECT sum(k) AS s FROM graft.t_equps")
    val eqScan = df.queryExecution.optimizedPlan.collect {
      case rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        rel.scan.asInstanceOf[graft.catalog.SnapshotScan]
    }.head
    val eqParts = eqScan.planInputPartitions()
    val eqFac = eqScan.createReaderFactory()
    assert(eqParts.forall(eqFac.supportColumnarReads),
      "eq-deleted scan lost columnar batches")
    assert(eqParts.exists(
      _.asInstanceOf[graft.catalog.SnapshotInputPartition].eqPaths.nonEmpty))
    // the just-upserted insert file is NOT probed by its own eq delete
    assert(eqParts.exists(p =>
      p.asInstanceOf[graft.catalog.SnapshotInputPartition].eqPaths.isEmpty))
    assert(df.head().getLong(0) == 5050L + 200L)
    // a second upsert with a DIFFERENT key set declines loudly
    intercept[IllegalArgumentException] {
      graft.catalog.GraftUpsert.upsert(spark, root,
        Seq((0L, "x", 0.0)).toDF("k", "v", "p"), Seq("v"))
    }
    // key-only equality DELETE: one eq line, ZERO data files, no scan
    val nFiles = SnapshotStore.files(spark, root).size
    graft.catalog.GraftUpsert.deleteKeys(spark, root,
      Seq(Tuple1(9L)).toDF("k"), Seq("k"))
    assert(SnapshotStore.files(spark, root).size == nFiles)
    assert(spark.table("graft.t_equps").where(col("k") === 9L).isEmpty)
    assert(spark.table("graft.t_equps").count() == 100)
    // position vectors and key tombstones compose on one table
    SnapshotStore.setWriteMode(spark, root, "mor")
    spark.sql("DELETE FROM graft.t_equps WHERE k = 7")
    assert(spark.table("graft.t_equps").count() == 99)
    assert(spark.sql("SELECT sum(k) AS s FROM graft.t_equps")
      .head().getLong(0) == 5050L + 200L - 9L - 7L)
    // FULL compaction reconciles BOTH tombstone kinds back to clean files
    spark.sql(
      "CALL graft.compact(table => 't_equps', buckets => 2, cluster_col => 'k')")
    assert(SnapshotStore.eqDeletes(spark, root).isEmpty,
      "full compact must reconcile equality deletes")
    assert(SnapshotStore.deleteVectors(spark, root).isEmpty)
    assert(spark.table("graft.t_equps").count() == 99)
    assert(spark.sql("SELECT sum(k) AS s FROM graft.t_equps")
      .head().getLong(0) == 5050L + 200L - 9L - 7L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.t_equps WHERE v = 'v5'")
      .head().getLong(0) == 0L)
  }

  test("change feed: graft.t.changes classifies per version; streams past change commits; compaction emits nothing") {
    import org.apache.spark.sql.streaming.Trigger
    val root = freshTable("t_cdf") // v1: k=1..100 in 4 files
    spark.sql("INSERT INTO graft.t_cdf VALUES (200L, 'new', 2.0)") // v2
    spark.sql("UPDATE graft.t_cdf SET v = 'U' WHERE k BETWEEN 10 AND 12") // v3 COW
    SnapshotStore.setWriteMode(spark, root, "mor") // v4 (no data change)
    spark.sql("DELETE FROM graft.t_cdf WHERE k IN (50, 51)") // v5 MoR
    // BATCH feed from genesis
    val feed = spark.table("graft.t_cdf.changes")
    assert(feed.columns.takeRight(2).toSeq ==
      Seq("_change_type", "_commit_version"))
    // v1: 100 inserts; v2: 1 insert; v4: nothing
    assert(feed.where(col("_commit_version") === 1).count() == 100)
    assert(feed.where(col("_commit_version") === 1 &&
      col("_change_type") =!= "insert").isEmpty)
    assert(feed.where(col("_commit_version") === 2).count() == 1)
    assert(feed.where(col("_commit_version") === 4).isEmpty)
    // v3 COW UPDATE: delete+insert pairs; net per key = 3 updates
    val v3 = feed.where(col("_commit_version") === 3).localCheckpoint()
    val pre = v3.where(col("_change_type") === "delete")
      .select(col("k").as("pk"), col("v").as("pv"))
    val post = v3.where(col("_change_type") === "insert")
      .select(col("k").as("qk"), col("v").as("qv"))
    val net = pre.join(post, col("pk") === col("qk"), "full")
      .where(col("pk").isNull || col("qk").isNull || col("pv") =!= col("qv"))
    assert(net.count() == 3, "net v3 feed must be exactly the 3 updates")
    assert(net.where(col("pk").isNull || col("qk").isNull).isEmpty)
    // v5 MoR DELETE: exactly the tombstoned rows, no carry-over noise
    val v5 = feed.where(col("_commit_version") === 5)
    assert(v5.count() == 2)
    assert(v5.select(col("k")).collect().map(_.getLong(0)).toSet ==
      Set(50L, 51L))
    assert(v5.where(col("_change_type") =!= "delete").isEmpty)
    // STREAMING: a stream from genesis drains the identical multiset —
    // through the COW and MoR change commits that readStream.table on the
    // BASE table must fail on
    val out = java.nio.file.Files.createTempDirectory("cdfspec_out")
    val ck = java.nio.file.Files.createTempDirectory("cdfspec_ck")
    val q = spark.readStream.option("startingVersion", "0")
      .table("graft.t_cdf.changes")
      .writeStream
      .foreachBatch(graft.streaming.EventStreams.batchSink(out, "append"))
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.read.option("recursiveFileLookup", "true")
      .parquet(out.toString)
    assert(streamed.count() == feed.count())
    // mid-chain start: startingVersion=5 emits ONLY v6+ (the default —
    // no option — starts at the load version: only future changes)
    val out2 = java.nio.file.Files.createTempDirectory("cdfspec_out2")
    val ck2 = java.nio.file.Files.createTempDirectory("cdfspec_ck2")
    spark.sql("INSERT INTO graft.t_cdf VALUES (300L, 'late', 3.0)") // v6
    val q2 = spark.readStream.option("startingVersion", "5")
      .table("graft.t_cdf.changes")
      .writeStream
      .foreachBatch(graft.streaming.EventStreams.batchSink(out2, "append"))
      .option("checkpointLocation", ck2.toString)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val late = spark.read.option("recursiveFileLookup", "true")
      .parquet(out2.toString)
    assert(late.count() == 1 && late.head().getAs[Long]("k") == 300L)
    // compaction is dataChange=false: the feed emits NOTHING for it
    spark.sql("CALL graft.compact(table => 't_cdf', buckets => 2, cluster_col => 'k')") // v7
    val v7 = spark.table("graft.t_cdf.changes")
      .where(col("_commit_version") === 7)
    assert(v7.isEmpty, "compaction must not re-emit rows in the feed")
    // totals still reconcile: inserts - deletes == live count
    val all = spark.table("graft.t_cdf.changes")
    val ins = all.where(col("_change_type") === "insert").count()
    val del = all.where(col("_change_type") === "delete").count()
    assert(ins - del == spark.table("graft.t_cdf").count())
    // a compaction committed AFTER the stream loaded its table is still
    // dataChange=false: the marker is read from ITS OWN version's
    // manifest, not the stream-start one
    val out3 = java.nio.file.Files.createTempDirectory("cdfspec_out3")
    val ck3 = java.nio.file.Files.createTempDirectory("cdfspec_ck3")
    val q3 = spark.readStream.option("startingVersion", "7")
      .table("graft.t_cdf.changes")
      .writeStream
      .foreachBatch(graft.streaming.EventStreams.batchSink(out3, "append"))
      .option("checkpointLocation", ck3.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
      .start()
    try {
      spark.sql("INSERT INTO graft.t_cdf VALUES (400L, 'x', 4.0)") // v8
      q3.processAllAvailable()
      spark.sql(
        "CALL graft.compact(table => 't_cdf', buckets => 1, cluster_col => 'k')") // v9
      spark.sql("INSERT INTO graft.t_cdf VALUES (401L, 'y', 5.0)") // v10
      q3.processAllAvailable()
    } finally q3.stop()
    val streamed3 = spark.read.option("recursiveFileLookup", "true")
      .parquet(out3.toString)
    assert(streamed3.count() == 2,
      s"mid-stream compaction leaked into the feed: ${streamed3.collect().toSeq}")
    assert(streamed3.select(col("k")).collect().map(_.getLong(0)).toSet ==
      Set(400L, 401L))
    // column pruning reaches the feed reader: a two-column projection
    // decodes ONLY the projected data column
    val pruned = spark.table("graft.t_cdf.changes")
      .select(col("k"), col("_change_type"))
    val pscan = pruned.queryExecution.optimizedPlan.collect {
      case rel: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        rel.scan.asInstanceOf[graft.catalog.ChangeFeedScan]
    }.head
    assert(pscan.dataSchema.fieldNames.toSeq == Seq("k"),
      s"feed read not pruned: ${pscan.dataSchema.fieldNames.toSeq}")
    // ins was measured at v7; v8 and v10 added one insert each
    assert(pruned.where(col("_change_type") === "insert").count() == ins + 2)
  }

  test("change feed declines loudly past the retention window; upsert declines drifted batch schemas") {
    val root = freshTable("t_cdfvac") // v1
    spark.sql("INSERT INTO graft.t_cdfvac VALUES (201L, 'a', 1.0)") // v2
    spark.sql("INSERT INTO graft.t_cdfvac VALUES (202L, 'b', 2.0)") // v3
    SnapshotStore.vacuum(spark, root, keep = 2) // v1 expires
    // v2's feed needs v1's manifest: a clear decline, not a read crash
    val e = intercept[Throwable] {
      spark.table("graft.t_cdfvac.changes").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        msgs(x.getCause))
    assert(msgs(e).exists(_.contains("vacuumed")), s"unexpected: $e")
    // inside the window the feed still derives
    val ok = spark.read.option("startingVersion", "2")
      .table("graft.t_cdfvac.changes")
    assert(ok.count() == 1 && ok.head().getAs[Int]("_commit_version") == 3)
    // a drifted upsert batch declines loudly on a schema-recorded table
    freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.ups_schema")
    spark.sql("CREATE TABLE graft.ups_schema (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.ups_schema VALUES (1L, 'x')")
    val wroot = spark.conf.get("spark.sql.catalog.graft.warehouse") +
      "/ups_schema"
    val bad = intercept[IllegalArgumentException] {
      graft.catalog.GraftUpsert.upsert(spark, wroot,
        Seq((2L, "y", 9.9)).toDF("k", "v", "extra"), Seq("k"))
    }
    assert(bad.getMessage.contains("batch columns"))
    assert(spark.table("graft.ups_schema").count() == 1)
  }

  test("renaming or dropping an equality-delete key column declines until compaction") {
    freshWarehouse()
    spark.sql("DROP TABLE IF EXISTS graft.eq_evo")
    spark.sql("CREATE TABLE graft.eq_evo (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.eq_evo VALUES (1L, 'a'), (2L, 'b')")
    val root = spark.conf.get("spark.sql.catalog.graft.warehouse") + "/eq_evo"
    graft.catalog.GraftUpsert.upsert(spark, root,
      Seq((1L, "UP")).toDF("k", "v"), Seq("k"))
    // the key column's name is load-bearing for every future anti-probe
    val e = intercept[Throwable] {
      spark.sql("ALTER TABLE graft.eq_evo RENAME COLUMN k TO k2")
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++
        msgs(x.getCause))
    assert(msgs(e).exists(_.contains("equality deletes")), s"unexpected: $e")
    intercept[Throwable] {
      spark.sql("ALTER TABLE graft.eq_evo DROP COLUMN k")
    }
    // non-key columns still evolve, and after compaction the key frees up
    spark.sql("ALTER TABLE graft.eq_evo RENAME COLUMN v TO v2")
    spark.sql("CALL graft.compact(table => 'eq_evo', buckets => 1)")
    spark.sql("ALTER TABLE graft.eq_evo RENAME COLUMN k TO k2")
    assert(spark.table("graft.eq_evo").columns.toSeq == Seq("k2", "v2"))
    assert(spark.sql("SELECT v2 FROM graft.eq_evo WHERE k2 = 1").head()
      .getString(0) == "UP")
  }

  test("zone pruning: stats sidecar prunes catalog scans at plan time") {
    val root = freshTable("t_zone")
    SnapshotStore.writeStats(spark, root, "k")
    val df = spark.sql("SELECT sum(k) AS s FROM graft.t_zone WHERE k >= 90")
    assert(df.head().getLong(0) == (90L to 100L).sum)
    // read the pruned split count off the planned V2 scan itself (the
    // executed plan hides behind AQE)
    val scanned = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.asInstanceOf[graft.catalog.SnapshotScan]
          .planInputPartitions().length
    }.sum
    assert(scanned >= 1 && scanned < 4, s"expected zone pruning, scanned=$scanned")
  }
}
