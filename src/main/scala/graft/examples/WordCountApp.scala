package graft.examples

import graft.Sessions
import graft.operators.MRJob

/** The reference's WordCount client (`wordcount-src/WordCount.java:13-35` +
  * `ClientDriver`) ported 1:1 to the graft facade — see MIGRATION.md for
  * the line-by-line mapping. Usage:
  *
  *   runMain graft.examples.WordCountApp <textInputDir> <outputDir> [reducers]
  *
  * Both apps run on [[graft.Sessions.build]]'s session (32 shuffle
  * partitions, the graft extensions, UTC, WARN logging) and its master
  * resolution (`spark-submit --master`, `SPARK_GRAFT_MASTER`, `local[*]`).
  */
object WordCountApp {
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args.take(2)
    val reducers = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = Sessions.build("graft-wordcount", Sessions.master("local[*]"), 32)
    import spark.implicits._

    // reference: map(key, value, output) { tokenize; output.collect(word, 1) }
    //            reduce(key, values, output) { sum }  +  IntWritable.add
    MRJob.textDir(spark, in)
      .mapToPairs(line =>
        line.split("\\s+").iterator.filter(_.nonEmpty).map(_ -> 1L))
      .reduceByKey(_ + _)
      .writeTsv(out, reducers)

    spark.stop()
  }
}

/** The reference's WordLength histogram (`wordlength-src/WordLength.java:
  * 13-40`) on the same facade. */
object WordLengthApp {
  def main(args: Array[String]): Unit = {
    val Array(in, out) = args.take(2)
    val reducers = args.lift(2).map(_.toInt).getOrElse(4)
    val spark = Sessions.build("graft-wordlength", Sessions.master("local[*]"), 32)
    import spark.implicits._

    MRJob.textDir(spark, in)
      .mapToPairs(line =>
        line.split("\\s+").iterator.filter(_.nonEmpty).map(w => w.length.toLong -> 1L))
      .reduceByKey(_ + _)
      .writeTsv(out, reducers)

    spark.stop()
  }
}
