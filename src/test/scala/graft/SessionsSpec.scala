package graft

import java.nio.file.{AccessDeniedException, Files, Paths}

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

  test("withConf restores a key set before and leaves a key absent before absent, also on a throw") {
    val (set, absent) = ("spark.graft.test.withConf.set", "spark.graft.test.withConf.absent")
    spark.conf.set(set, "before")
    try {
      for (fail <- Seq(false, true)) {
        val body = () => {
          assert(spark.conf.get(set) == "inside" && spark.conf.get(absent) == "inside")
          if (fail) throw new IllegalStateException("body failed")
        }
        if (fail) intercept[IllegalStateException](
          Sessions.withConf(spark, set -> "inside", absent -> "inside")(body()))
        else Sessions.withConf(spark, set -> "inside", absent -> "inside")(body())
        assert(spark.conf.get(set) == "before", s"fail=$fail")
        assert(!spark.conf.getAll.contains(absent), s"fail=$fail")
      }
    } finally spark.conf.unset(set)
  }

  test("deleteRecursively deletes past a directory that is not empty when its delete runs") {
    val root = Files.createTempDirectory(Sessions.scratchRoot, "graft-delete-late")
    val late = Files.createDirectories(root.resolve("a/b"))
    Files.writeString(late.resolve("part-0"), "x")
    Files.writeString(root.resolve("a/sibling"), "y")
    var injected = false
    val left = Sessions.deleteRecursively(root, { p =>
      // a task writes into b after the tree was listed
      if (p == late && !injected) {
        injected = true
        Files.writeString(late.resolve("part-1"), "z")
      }
      Files.deleteIfExists(p): Unit
    })
    assert(injected)
    assert(left.isEmpty && !Files.exists(root), left)
  }

  test("deleteRecursively deletes everything it can and returns the rest") {
    val root = Files.createTempDirectory(Sessions.scratchRoot, "graft-delete-stuck")
    val stuck = Files.writeString(Files.createDirectories(root.resolve("a")).resolve("stuck"), "x")
    Files.writeString(root.resolve("a/gone"), "y")
    Files.writeString(Files.createDirectories(root.resolve("b")).resolve("gone"), "z")
    val left = Sessions.deleteRecursively(root, { p =>
      if (p == stuck) throw new AccessDeniedException(p.toString)
      Files.deleteIfExists(p): Unit
    })
    assert(left.toSet == Set(stuck, root.resolve("a"), root))
    assert(!Files.exists(root.resolve("a/gone")) && !Files.exists(root.resolve("b")))
  }
}
