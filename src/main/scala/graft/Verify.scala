package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each selected registry entry's result →
  * parquet (through [[Runner]], in sorted name order), plus
  * oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val entries = Runner.select(SparkEntry.queries)
    val spark = Sessions.build("graft-verify", Sessions.master(s"local[$cpus]"), cpus)
    new java.io.File(outDir).mkdirs()
    Runner.run("verify", spark, sfDir, entries, passes = 1, (name, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val names = entries.map(_._1).toSet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
