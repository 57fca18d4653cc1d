package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contract invariants on the driver surface itself — a registration slip
  * here silently weakens the external gate (a query without an oracle is
  * only rows-checked; an oracle without a query is dead SQL), so the
  * suite fails before the driver ever sees it.
  */
class EntrySpec extends AnyFunSuite {

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle SQL: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"orphan oracle SQL: ${(o -- q).toSeq.sorted}")
  }

  test("query names follow the qNN_snake convention with unique numbers") {
    val names = SparkEntry.queries.keySet.toSeq
    val pat = "^q(\\d+)_[a-z0-9_]+$".r
    val nums = names.map {
      case pat(n) => n.toInt
      case other => fail(s"malformed query name: $other")
    }
    assert(nums.distinct.size == nums.size,
      s"duplicate query numbers: ${nums.groupBy(identity).filter(_._2.size > 1).keys}")
    // contiguous numbering from 1 — a gap means a row the SURVEY table
    // and the driver gate disagree about
    assert(nums.sorted == (1 to nums.max),
      s"non-contiguous query numbers: ${(1 to nums.max).diff(nums.sorted)} missing")
  }

  test("SPARK_GRAFT_SF_DIR must name a directory and SPARK_GRAFT_BENCH_OUT must not be blank") {
    val dir = java.nio.file.Files.createTempDirectory(Sessions.scratchRoot, "graft-bench-env")
    val sf = dir.toString
    Bench.checkPaths(sf, "out.json")
    val file = java.nio.file.Files.writeString(dir.resolve("f"), "x").toString
    for (bad <- Seq(s"$sf/missing", file, "")) {
      val err = intercept[IllegalArgumentException](Bench.checkPaths(bad, "out.json"))
      assert(err.getMessage.contains("SPARK_GRAFT_SF_DIR") && err.getMessage.contains(s"'$bad'"),
        err.getMessage)
    }
    for (bad <- Seq("", "  ")) {
      val err = intercept[IllegalArgumentException](Bench.checkPaths(sf, bad))
      assert(err.getMessage.contains("SPARK_GRAFT_BENCH_OUT"), err.getMessage)
    }
  }

  test("bench warm-up names a failed query and warms it again at the bench scale") {
    val runs = scala.collection.mutable.ListBuffer.empty[(String, String)]
    val stubs = Map[String, String => Unit](
      "q_bad" -> { dir => if (dir == "warm") throw new IllegalStateException("too small") },
      "q_good" -> { _ => () })
    val err = new java.io.ByteArrayOutputStream()
    val stderr = System.err
    System.setErr(new java.io.PrintStream(err, true, "UTF-8"))
    try Bench.warmUp(Seq("q_bad", "q_good"), "warm", "sf") { (name, dir) =>
      runs += name -> dir
      scala.util.Try(stubs(name)(dir)).failed.toOption
    } finally System.setErr(stderr)
    assert(runs.toSeq == Seq("q_bad" -> "warm", "q_bad" -> "sf", "q_good" -> "warm"))
    assert(err.toString("UTF-8") == "[bench] warm-up q_bad failed at warm: too small\n")
  }

  test("bench detail: a failed per-core copy does not misreport the written primary file") {
    val dir = java.nio.file.Files.createTempDirectory(Sessions.scratchRoot, "graft-bench-detail")
    val primary = dir.resolve("detail.json").toString
    // a directory where the per-core copy should go makes that write fail
    java.nio.file.Files.createDirectory(dir.resolve("detail_c4.json"))
    assert(Bench.writeDetail("{}", primary, cpus = "4") == primary)
    assert(new String(java.nio.file.Files.readAllBytes(dir.resolve("detail.json")), "UTF-8") == "{}\n")
    // both files are written when nothing is in the way
    assert(Bench.writeDetail("{}", primary, cpus = "8") == primary)
    assert(java.nio.file.Files.isRegularFile(dir.resolve("detail_c8.json")))
    // a failed primary write is reported as such
    assert(Bench.writeDetail("{}", dir.resolve("detail_c4.json").toString, cpus = "2")
      .startsWith("WRITE FAILED"))
  }

  test("bench summary escaping survives a hostile env-derived path (r11 verdict item 4)") {
    // SPARK_GRAFT_SF_DIR / SPARK_GRAFT_BENCH_OUT are interpolated into
    // the bench's final stdout JSON line; quotes, backslashes, and
    // control chars in them must come out as a parseable JSON string
    val hostile = "/tmp/we\"ird\\dir\n\twith\rctrl" + 1.toChar + "chars"
    val escaped = Bench.jstr(hostile)
    assert(escaped == "/tmp/we\\\"ird\\\\dir\\n\\twith\\rctrl\\u0001chars")
    // and the full wrapped literal round-trips through a JSON parser
    // (spray/jackson aren't on the classpath; a hand parser over the
    // escape set IS the contract — same set as Verify's oracle_sql)
    val lit = "\"" + escaped + "\""
    def unescape(s: String): String = {
      val b = new StringBuilder; var i = 1 // skip opening quote
      while (i < s.length - 1) {
        if (s(i) == '\\') s(i + 1) match {
          case 'n' => b += '\n'; i += 2
          case 'r' => b += '\r'; i += 2
          case 't' => b += '\t'; i += 2
          case 'u' => b += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case c   => b += c; i += 2
        } else { b += s(i); i += 1 }
      }
      b.toString
    }
    assert(unescape(lit) == hostile, "escape set does not round-trip")
    assert(!escaped.exists(c => c < ' '), "control char leaked unescaped")
  }

  test("oracle SQL never references the absolute testdata paths") {
    // oracles run against DuckDB views the driver creates per sf dir; a
    // hardcoded path would silently pin one scale factor
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("/root/testdata") && !sql.contains("/root/repo"),
        s"$name oracle hardcodes a data path")
    }
  }
}
