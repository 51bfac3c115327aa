package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col

/** Reference-shaped MapReduce facade, lowered onto Dataset operations.
  *
  * Reproduces the programming model of swapnil-pimpale/Map-Reduce-Engine
  * (see SURVEY.md §1-2) with Spark supplying partitioning, shuffle, sort,
  * scheduling and fault tolerance:
  *
  *  - input: a directory of text files read line-by-line
  *    (reference `framework-src/RecordReader.java:11-38`,
  *    `JobConfiguration.java:52-69`) -> `spark.read.textFile`;
  *  - map: user code emits 0..n (K,V) pairs per record
  *    (`framework-src/MapRunner.java:74-77`) -> `flatMap`;
  *  - map-side sort by key (`framework-src/OutputCollector.java:21-23`,
  *    invoked `MapRunner.java:80-84`) -> `sortWithinPartitions` (Spark's
  *    sort-based shuffle also does this internally);
  *  - hash partitioning to N reducers (`framework-src/Partitioner.java:34-40`,
  *    cap `Communicator.java:144-146`) -> `repartition(n, key)`;
  *  - per-key reduce then add-merge of per-chunk results — the reference only
  *    supports combiner-style monoid aggregation
  *    (`framework-src/ReduceRunner.java:78-122,154-172`, `AddInterface.java:
  *    10-12`) -> an in-mapper combine per input partition (the per-chunk
  *    reduce, see `MRPairs.reduceByKeyArrivalOrder`) followed by a
  *    sort-grouped final merge, `groupByKey.mapGroups`, which can spill.
  *    The typed `groupByKey.reduceGroups` path is not used: it plans an
  *    `ObjectHashAggregate` that falls back to a row-at-a-time sort-based
  *    aggregate once a task has seen 128 distinct keys
  *    (`spark.sql.objectHashAggregate.sortBased.fallbackThreshold`). No
  *    session conf is changed to avoid that, since the threshold holds for
  *    every typed aggregate and `collect_*` in the engine;
  *  - sink: tab-separated text, one file per reducer
  *    (`framework-src/ReduceRunner.java:113-122`, `RecordWriter.java:20-28`)
  *    -> per-partition CSV write with a tab separator.
  *
  * Deliberate divergences (SURVEY.md §1.3): keys stay typed end-to-end (no
  * stringly-typed shuffle files), values are binary-safe, and order-sensitive
  * merges (the reference's `Text.add` string concat) are only exposed in a
  * sorted, deterministic form via `reduceGroupsSorted`.
  */
object MRJob {

  /** O1/O2: directory-of-text-lines source. */
  def textDir(spark: SparkSession, dir: String): MRInput[String] =
    new MRInput(spark.read.textFile(dir))

  /** O2+O3 with the reference's RECORD-COUNT chunk split made explicit:
    * the `graft-chunks` DSV2 connector plans one Spark input partition per
    * reference chunk (`MasterNode.splitInputFile` numbering), so the
    * facade's in-mapper combine runs once per chunk — exactly the
    * reference's per-(key, chunk) mini-reduce before add-merge
    * (`ReduceRunner.java:154-172`, SURVEY §1.3.3). `textDir` gets the same
    * semantics from Spark's byte-range splits (the scale path); this entry
    * is for bit-faithful chunk granularity. */
  def chunkedTextDir(spark: SparkSession, dir: String,
      recordsPerChunk: Int): MRInput[String] = {
    import spark.implicits._
    new MRInput(spark.read.format("graft-chunks")
      .option("recordsPerChunk", recordsPerChunk)
      .load(dir).select(col("value")).as[String])
  }

  /** Any dataset as job input (the engine is a library, not a JAR runner). */
  def apply[I](input: Dataset[I]): MRInput[I] = new MRInput(input)
}

final class MRInput[I](private val ds: Dataset[I]) extends AnyVal {

  /** O5: the user `map` — per input record, emit 0..n key/value pairs. */
  def mapToPairs[K, V](f: I => IterableOnce[(K, V)])(
      implicit e: Encoder[(K, V)]): MRPairs[K, V] =
    new MRPairs(ds.flatMap(f))
}

final class MRPairs[K, V](val pairs: Dataset[(K, V)]) {

  /** O8/O13: explicit hash partitioning into `n` reducers. Unlike the
    * reference there is no alive-node cap — `n` maps to shuffle partitions. */
  def partitionBy(n: Int): MRPairs[K, V] =
    new MRPairs(pairs.repartition(n, col("_1")))

  /** O6: map-side sort by key. Semantically dead in the reference's shipped
    * path (SURVEY.md §1.3.4) and subsumed by Spark's shuffle sorter; exposed
    * for parity. */
  def sortedWithinPartitions(): MRPairs[K, V] =
    new MRPairs(pairs.sortWithinPartitions("_1"))

  /** O10+O11: per-key monoid reduce (partial per input partition + final
    * merge — the reference's per-chunk reduce followed by add-merge).
    * `merge` must be associative+commutative, which is the precondition the
    * reference silently imposes too (SURVEY.md §1.3.3). */
  def reduceByKey(merge: (V, V) => V)(
      implicit ek: Encoder[K], ekv: Encoder[(K, V)]): MRPairs[K, V] =
    reduceByKeyArrivalOrder(merge)

  /** Reference-exact arrival-order merge — the unsorted `Text.add` parity
    * mode. The reference folds per-chunk results in whatever order chunks
    * complete (`framework-src/ReduceRunner.java:154-172` calling `Text.java:
    * 29-32` concat), so for non-commutative `merge` its output depends on
    * chunk scheduling, run to run. The lowering has the same semantics:
    * each input partition folds its values per key in iterator order into a
    * hash map of at most `MRPairs.CombineBound` partials, emitting and
    * clearing the map whenever it fills; the partials of a key then meet in
    * a sort-grouped `mapGroups` and fold in shuffle-fetch order. With a
    * single input partition holding at most `CombineBound` distinct keys
    * the fold order is the input order (deterministic); past the bound, or
    * with many partitions, the result is some association of the inputs —
    * faithful to the reference, non-determinism included. The combine map
    * compares keys by JVM equality, the final merge by Catalyst grouping;
    * partials the combine keeps apart (e.g. `Array[Byte]` keys, `0.0` and
    * `-0.0`) are merged there. Prefer [[reduceGroupsSorted]] unless
    * bit-parity with a reference run matters. */
  def reduceByKeyArrivalOrder(merge: (V, V) => V)(
      implicit ek: Encoder[K], ekv: Encoder[(K, V)]): MRPairs[K, V] =
    new MRPairs(
      pairs
        .mapPartitions(MRPairs.combine(merge))
        .groupByKey(_._1)
        .mapGroups((k: K, it: Iterator[(K, V)]) =>
          (k, it.map(_._2).reduce(merge))))

  /** Deterministic stand-in for order-sensitive merges (`Text.add` concat,
    * `framework-src/Text.java:29-32`): values are sorted before folding, so
    * results don't depend on partitioning. Documented divergence. */
  def reduceGroupsSorted[U](f: (K, Seq[V]) => U)(
      implicit ord: Ordering[V], ek: Encoder[K],
      eku: Encoder[(K, U)]): MRPairs[K, U] =
    new MRPairs(
      pairs
        .groupByKey(_._1)
        .mapGroups((k: K, it: Iterator[(K, V)]) =>
          (k, f(k, it.map(_._2).toSeq.sorted))))

  /** Materialize with stable column names. */
  def toDF(keyName: String, valueName: String): DataFrame =
    pairs.toDF(keyName, valueName)

  /** O12: TSV sink, one output file per reducer partition (the reference's
    * per-reducer `finaloutput`). */
  def writeTsv(path: String, reducers: Int): Unit =
    pairs
      .repartition(reducers, col("_1"))
      .toDF("key", "value")
      .write
      .option("sep", "\t")
      .mode("overwrite")
      .csv(path)
}

object MRPairs {

  /** Most partials an in-mapper combine holds before it emits them. It
    * bounds a task's combine memory whatever the key cardinality, and is
    * large enough to hold a text corpus's vocabulary per task, so each
    * partition usually emits one partial per distinct key. */
  private[graft] val CombineBound = 65536

  /** In-mapper combiner: folds each key's values in arrival order into a
    * map of at most `CombineBound` partials and emits the map's contents
    * whenever it fills or the input ends. */
  private[graft] def combine[K, V](merge: (V, V) => V)(
      in: Iterator[(K, V)]): Iterator[(K, V)] = new Iterator[(K, V)] {
    private val partials = new java.util.HashMap[K, V]()
    private var out: java.util.Iterator[java.util.Map.Entry[K, V]] =
      partials.entrySet.iterator

    def hasNext: Boolean = out.hasNext || in.hasNext && { fill(); out.hasNext }

    def next(): (K, V) = {
      if (!hasNext) throw new NoSuchElementException("combine: input exhausted")
      val e = out.next()
      (e.getKey, e.getValue)
    }

    private def fill(): Unit = {
      partials.clear()
      while (in.hasNext && partials.size < CombineBound) {
        val (k, v) = in.next()
        val prev = partials.get(k)
        // a stored null value is a partial too: only an absent key starts one
        partials.put(k,
          if (prev == null && !partials.containsKey(k)) v else merge(prev, v))
      }
      out = partials.entrySet.iterator
    }
  }
}
