package graft

import org.scalatest.funsuite.AnyFunSuite

/** SQL MERGE atomicity on a closed-form snapshot table: a source that
  * matches one target row twice must raise (the Delta/Iceberg contract)
  * and leave the table exactly as it was — no version committed, no row
  * duplicated. The catalog suite pins that the error is raised; this
  * one pins that nothing reaches the manifest. */
class SqlDmlSpec extends AnyFunSuite {
  import TestSpark.spark
  import org.apache.spark.sql.functions._
  import spark.implicits._
  import graft.catalog.GraftCatalog
  import graft.sources.SnapshotStore

  /** A committed snapshot table (k BIGINT, v STRING, p DOUBLE), keys 1..6,
    * two files, registered as graft.<name>. Returns its root. */
  private def freshStore(name: String): String = {
    val out = java.nio.file.Files.createTempDirectory("sqldmlspec")
    val root = s"$out/t"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root))
    val base = (1L to 6L).map(k => (k, if (k == 5) null else s"v$k", k * 1.0))
      .toDF("k", "v", "p").repartitionByRange(2, col("k"))
    SnapshotStore.commit(spark, root,
      SnapshotStore.writeData(spark, root, base, "base"), 0)
    GraftCatalog.register(spark, name, root)
    root
  }

  test("MERGE raises on cardinality violation: a source matching one target row twice") {
    val root = freshStore("sqldml_card")
    // key 2 appears TWICE in the source — the Delta/Iceberg contract says
    // this must raise, not silently duplicate the target row
    Seq((2L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "op", "np")
      .createOrReplaceTempView("sqldml_dup_src")
    val e = intercept[Throwable] {
      spark.sql(
        """MERGE INTO graft.sqldml_card t USING sqldml_dup_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.op""".stripMargin)
    }
    assert(e.getMessage.toUpperCase.contains("CARDINALITY") ||
      e.getMessage.contains("multiple rows"))
    // nothing was committed: the table is still at v1 with 6 rows
    assert(SnapshotStore.currentVersion(spark, root) == 1)
    assert(SnapshotStore.read(spark, root).count() == 6)
    assert(spark.table("graft.sqldml_card").where(col("k") === 2L)
      .select(col("v")).head().getString(0) == "v2")
  }
}
