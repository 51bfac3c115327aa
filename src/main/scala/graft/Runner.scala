package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one loop over the query registry, shared by [[Bench]], [[Verify]]
  * and [[graft.tools.JobProfile]]. It selects the entries, runs the
  * passes with the between-pass clear, hands each entry's result to the
  * caller's [[Runner.Sink]], and keeps the failure ledger. Each main keeps
  * only what it does with a result.
  *
  * `SPARK_GRAFT_ONLY` (comma-separated registry names) restricts Bench
  * and Verify to those entries, for iterating on one plan; a name the
  * registry does not know fails at startup instead of silently running
  * less.
  */
object Runner {
  type Query = (SparkSession, String) => DataFrame

  /** One entry's result on one pass: wall seconds of build + sink. */
  final case class Outcome(name: String, pass: Int, seconds: Double, ok: Boolean)

  /** What a main does with each entry. The timed region is building the
    * entry's DataFrame plus `write`; `before`/`after` bracket it for
    * listener bookkeeping. */
  trait Sink {
    def before(name: String, pass: Int): Unit = ()
    def write(name: String, df: DataFrame): Unit
    def after(o: Outcome): Unit = ()
  }

  /** The unique key of a name on Bench's stdout line: the `qNN` prefix
    * before the first underscore. */
  def shortKey(name: String): String = name.takeWhile(_ != '_')

  /** The entries to run, in sorted name order, restricted to the
    * comma-separated names in `only`. Fails before any query runs when
    * `only` names an unknown entry or none at all, or when two selected
    * names share a [[shortKey]] (Bench's stdout line would silently drop
    * one timing). */
  def select(registry: Map[String, Query],
      only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")): Seq[(String, Query)] = {
    val names = only.map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    names.foreach { ns =>
      require(ns.nonEmpty, "SPARK_GRAFT_ONLY is set but names no entry")
      val unknown = ns.filterNot(registry.contains)
      require(unknown.isEmpty,
        "SPARK_GRAFT_ONLY: unknown entries " + unknown.toSeq.sorted.mkString(", "))
    }
    val picked = registry.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.forall(_.contains(n)) }
    val keys = picked.map(p => shortKey(p._1))
    require(keys.distinct.size == keys.size,
      "duplicate short query keys: " + keys.diff(keys.distinct).distinct.mkString(", "))
    picked
  }

  /** Run `entries` for `passes` passes through `sink`; returns the
    * outcomes per pass, each in `entries` order. A warm pass first runs
    * [[queries.Memo.clear]], so it re-pays every memoized frame (fixture
    * templates survive; see [[queries.Memo]]). A failure is printed as
    * `[<tag>] <name> failed: ...` and the run goes on; the ledger line
    * closes the run on stderr. */
  def run(tag: String, spark: SparkSession, sfDir: String,
      entries: Seq[(String, Query)], passes: Int, sink: Sink): Seq[Seq[Outcome]] = {
    val outcomes = (1 to passes).map { pass =>
      if (pass > 1) queries.Memo.clear()
      entries.map { case (name, fn) =>
        sink.before(name, pass)
        val t0 = System.nanoTime()
        val ok =
          try { sink.write(name, fn(spark, sfDir)); true }
          catch { case e: Throwable =>
            System.err.println(s"[$tag] $name failed: ${e.getMessage}")
            false
          }
        val o = Outcome(name, pass, (System.nanoTime() - t0) / 1e9, ok)
        sink.after(o)
        o
      }
    }
    val bad = failed(outcomes)
    System.err.println(s"[$tag] ${bad.size} of ${outcomes.map(_.size).sum} runs failed" +
      (if (bad.isEmpty) "" else ": " + bad.mkString(", ")))
    outcomes
  }

  /** The failure ledger: failed names in run order, tagged `@p<N>` when
    * there was more than one pass. */
  def failed(outcomes: Seq[Seq[Outcome]]): Seq[String] =
    outcomes.flatten.filterNot(_.ok)
      .map(o => if (outcomes.size == 1) o.name else s"${o.name}@p${o.pass}")
}
