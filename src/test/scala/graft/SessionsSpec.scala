package graft

import java.nio.file.Paths

class SessionsSpec extends SparkSpec {

  test("SPARK_GRAFT_CPUS: a positive integer, the default when unset, anything else names the variable") {
    assert(Sessions.parseCpus(None, 4) == 4)
    assert(Sessions.parseCpus(Some("8"), 4) == 8)
    for (bad <- Seq("0", "-1", "abc", "")) {
      val err = intercept[IllegalArgumentException](Sessions.parseCpus(Some(bad), 4))
      assert(err.getMessage.contains("SPARK_GRAFT_CPUS") && err.getMessage.contains(s"'$bad'"),
        err.getMessage)
    }
  }

  test("the shared session keeps its warehouse under the scratch root and pins UTC, no NTZ, cpus partitions") {
    val wh = java.net.URI.create(spark.conf.get("spark.sql.warehouse.dir"))
    val path = if (wh.getScheme == null) Paths.get(wh.getPath) else Paths.get(wh)
    assert(path.startsWith(Sessions.scratchRoot), s"$path is not under ${Sessions.scratchRoot}")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    val cpus = SparkTestSession.cpus
    assert(spark.sparkContext.master == s"local[$cpus]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == cpus.toString)
  }
}
