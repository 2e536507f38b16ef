package graft

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods

/** The local-session policy as pure functions: the `SPARK_GRAFT_CONF`
  * parser, the corpus-size derivations, and the catalog conf set. */
class SessionsSpec extends SparkSpec {

  test("SPARK_GRAFT_CONF parser: empty, no `=`, `=` in values, last write wins") {
    assert(Sessions.parseConf("") == Map.empty)
    assert(Sessions.parseConf("spark.a;;=orphan;spark.b=1; spark.c") ==
      Map("spark.b" -> "1"))
    assert(Sessions.parseConf("spark.x=-Da=b;spark.y==") ==
      Map("spark.x" -> "-Da=b", "spark.y" -> "="))
    assert(Sessions.parseConf("spark.k=1;spark.j=0;spark.k=2") ==
      Map("spark.k" -> "2", "spark.j" -> "0"))
  }

  test("shuffle partitions and scan splits derive from the target corpus size") {
    val mib = 1L << 20
    assert(Sessions.shufflePartitions(4, 0.5) == 64)
    assert(Sessions.shufflePartitions(4, 9.99) == 1278)
    assert(Sessions.shufflePartitions(4, 10.0) == 1280)
    assert(Sessions.shufflePartitions(200, 0.5) == 200, "never below the core count")
    assert(Sessions.maxPartitionBytes(0.5) == 128 * mib)
    assert(Sessions.maxPartitionBytes(9.99) == 128 * mib)
    assert(Sessions.maxPartitionBytes(10.0) == 512 * mib)
    assert(Sessions.confs(4, Some(10.0)) == Sessions.confs(4, None) +
      ("spark.sql.shuffle.partitions" -> "1280"),
      "a corpus size changes shuffle partitions only; the scan split stays a call-site conf")
  }

  test("the catalog session's confs are the set Bench has always built") {
    assert(Sessions.confs(4, None) == Map(
      "spark.master" -> "local[4]",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.files.minPartitionNum" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.network.timeout" -> "600s",
      "spark.executor.heartbeatInterval" -> "60s",
      "spark.rpc.askTimeout" -> "600s"))
  }

  test("decisions records the session's effective partitions and split size") {
    assert(Sessions.decisions(spark).map(_._1) ==
      Seq("shuffle_partitions", "max_part_bytes", "conf_extra"))
    assert(Sessions.decisions(spark).take(2) ==
      Seq("shuffle_partitions" -> 4, "max_part_bytes" -> 134217728L))
  }

  test("a conf_extra holding quotes and backslashes survives rendering verbatim") {
    val extra = """spark.driver.extraJavaOptions=-Dx="a b";spark.local.dir=C:\tmp\spark"""
    val line = BenchOut.render(BenchOut.obj(Sessions.decisions(spark, extra): _*))
    assert(line == """{"shuffle_partitions":4,"max_part_bytes":134217728,""" +
      """"conf_extra":"spark.driver.extraJavaOptions=-Dx=\"a b\";spark.local.dir=C:\\tmp\\spark"}""")
    val JObject(fields) = JsonMethods.parse(line)
    assert(fields.last == ("conf_extra" -> JString(extra)))
  }
}
