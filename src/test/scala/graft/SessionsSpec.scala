package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The one session builder and the one registry runner. */
class SessionsSpec extends AnyFunSuite {

  test("the test session carries every key Sessions.build sets") {
    val conf = TestSpark.spark.conf
    Sessions.conf(4).foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(conf.get("spark.sql.extensions") == "graft.functions.GraftExtensions")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    Tables.sessionConf.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(new java.io.File(conf.get("spark.sql.warehouse.dir")
      .stripPrefix("file:")).isDirectory)
  }

  test("master: spark.master property, then SPARK_GRAFT_MASTER, then the default") {
    val saved = sys.props.get("spark.master")
    try {
      sys.props("spark.master") = "local[2]"
      assert(Sessions.master("local[9]") == "local[2]")
      sys.props -= "spark.master"
      assert(Sessions.master("local[9]") ==
        sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[9]"))
    } finally saved match {
      case Some(m) => sys.props("spark.master") = m
      case None => sys.props -= "spark.master"
    }
  }

  private val q: Runner.Query = (_, _) => null.asInstanceOf[DataFrame]
  private val registry = Map("q2_b" -> q, "q10_c" -> q, "q1_a" -> q)

  test("Runner.select: sorted order and the SPARK_GRAFT_ONLY filter") {
    assert(Runner.select(registry, None).map(_._1) == Seq("q10_c", "q1_a", "q2_b"))
    assert(Runner.select(registry, Some(" q2_b,q1_a ,")).map(_._1) == Seq("q1_a", "q2_b"))
    // the real registry's short keys are unique
    assert(Runner.select(SparkEntry.queries, None).size == SparkEntry.queries.size)
  }

  test("Runner.select rejects unknown names, an empty list and duplicate short keys") {
    val unknown = intercept[IllegalArgumentException](
      Runner.select(registry, Some("q1_a,q9_nope")))
    assert(unknown.getMessage.contains("q9_nope"))
    intercept[IllegalArgumentException](Runner.select(registry, Some(" , ")))
    val dup = intercept[IllegalArgumentException](
      Runner.select(registry + ("q1_z" -> q), None))
    assert(dup.getMessage.contains("q1"))
  }
}
