package graft

import graft.queries.Memo
import graft.sources.SnapshotStore
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The one memo layer: frame and fixture memos share one key, one clear
  * policy and one eviction. */
class MemoSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A private sf dir holding only `orders` (ids 0..n-1). */
  private def sfDir(n: Int): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_memo_spec")
    streaming.EventStreams.deleteTreeOnExit(d)
    writeOrders(d.toString, n)
    d.toString
  }

  private def writeOrders(dir: String, n: Int): Unit =
    spark.range(n).toDF("o_orderkey").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")

  /** A frame memo `name` over `dir` that counts its computes. */
  private def frame(name: String, dir: String, calls: Array[Int]): DataFrame =
    Memo(name, spark, dir) { calls(0) += 1; spark.range(3).toDF() }

  /** A snapshot-store fixture `name` over `dir` that counts its stagings;
    * the staged value is the orders row count. */
  private def store(name: String, dir: String, calls: Array[Int]): (String, Long) =
    Memo.fixture(name, spark, dir, SnapshotStore.cloneRoot) { root =>
      calls(0) += 1
      val orders = Tables(spark, dir, "orders")
      SnapshotStore.commit(spark, root,
        SnapshotStore.writeData(spark, root, orders, "base"), 0)
      orders.count()
    }

  test("a hit runs the compute once") {
    val dir = sfDir(10)
    val calls = Array(0)
    val a = frame("spec_hit", dir, calls)
    val b = frame("spec_hit", dir, calls)
    assert(calls(0) == 1)
    assert(a eq b)
  }

  test("Memo.clear recomputes frames and keeps fixture templates") {
    val dir = sfDir(10)
    val frames, stagings = Array(0)
    frame("spec_clear", dir, frames)
    store("spec_clear_fx", dir, stagings)
    Memo.clear()
    frame("spec_clear", dir, frames)
    val (root, n) = store("spec_clear_fx", dir, stagings)
    assert(frames(0) == 2)
    assert(stagings(0) == 1)
    assert(n == 10 && SnapshotStore.read(spark, root).count() == 10)
  }

  test("rewriting an input table misses for both kinds; a stats sidecar does not") {
    val dir = sfDir(10)
    val frames, stagings = Array(0)
    frame("spec_stale", dir, frames)
    store("spec_stale_fx", dir, stagings)
    // JoinReorderRule's statistics sidecar sits beside the table
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/orders.parquet_graft_stats"), "rows=10")
    frame("spec_stale", dir, frames)
    store("spec_stale_fx", dir, stagings)
    assert(frames(0) == 1 && stagings(0) == 1)
    writeOrders(dir, 20)
    frame("spec_stale", dir, frames)
    val (root, n) = store("spec_stale_fx", dir, stagings)
    assert(frames(0) == 2 && stagings(0) == 2)
    assert(n == 20 && SnapshotStore.read(spark, root).count() == 20)
  }

  test("fixture calls get distinct private roots") {
    val dir = sfDir(10)
    val calls = Array(0)
    val (a, _) = store("spec_private_fx", dir, calls)
    val (b, _) = store("spec_private_fx", dir, calls)
    assert(calls(0) == 1)
    assert(a != b)
    SnapshotStore.commit(spark, a, SnapshotStore.writeData(spark, a,
      spark.range(100, 105).toDF("o_orderkey"), "v2"), 1)
    assert(SnapshotStore.currentVersion(spark, a) == 2)
    assert(SnapshotStore.read(spark, a).count() == 5)
    assert(SnapshotStore.currentVersion(spark, b) == 1)
    assert(SnapshotStore.read(spark, b).count() == 10)
  }

  test("a memo computed inside another memo's compute") {
    // Graph's graph_oriented and graph_deg compute graph_edges this way
    val dir = sfDir(10)
    val inner = Array(0)
    val outer = Memo("spec_outer", spark, dir) {
      frame("spec_inner", dir, inner).union(frame("spec_inner", dir, inner))
    }
    assert(outer.count() == 6)
    assert(inner(0) == 1)
    frame("spec_inner", dir, inner)
    assert(inner(0) == 1)
  }
}
