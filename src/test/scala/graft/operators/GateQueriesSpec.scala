package graft.operators

import graft.SparkSpec
import graft.queries.GateQueries

class GateQueriesSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("q74/q100: the near-dup sink's pairs store equals the plain-Scala MinHash reference") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").where("doc_id < 2000").as[(Long, String)].collect().toSeq
    // each pair lands at the batch of its later member (doc_id mod 3)
    val want = graft.NearDupReference.pairs(docs)
      .map(p => (p, math.max(p._1 % 3, p._2 % 3)))
    assert(want.nonEmpty)
    for (q <- Seq("q74_stream_neardup", "q100_neardup_recovery")) {
      val got = GateQueries.queries(q)(spark, sf)
        .as[(Long, Long, Long, Long, Long, Double, Long)].collect()
        .map(r => ((r._1, r._2, r._3, r._4, r._5, r._6), r._7))
      assert(got.length == want.size && got.toSet == want, q)
    }
  }

  test("every other harness-bound gate returns its recorded row count and leaves no stream active") {
    // row counts the gates return at the fixture scale named; q98 runs at
    // sf0.01 because its sf0.001 fixture withholds no acceptable late
    // row (its own require fails), and q103 returns no rows at sf0.001
    val sf01 = "/root/testdata/sf0.01"
    val want = Seq(
      ("q78_stream_upsert", sf, 15L), ("q79_stream_funnel", sf, 45L),
      ("q80_stream_sessionize", sf, 946L), ("q81_stream_rollup", sf, 868L),
      ("q83_stream_enrich", sf, 202L), ("q84_stream_interval_join", sf, 2L),
      ("q86_daily_update", sf, 799L), ("q87_stream_late_data", sf, 755L),
      ("q91_formats_roundtrip", sf, 3000L), ("q92_daily_derived", sf, 189L),
      ("q93_stream_late_sessionize", sf, 935L), ("q94_stream_sessionize_recovery", sf, 946L),
      ("q95_landing_stream", sf, 1000L), ("q96_backfill_pipeline", sf, 799L),
      ("q97_stream_late_funnel", sf, 45L), ("q98_stream_late_dedup", sf01, 8573L),
      ("q99_stream_late_interval_join", sf, 78L), ("q101_parquet_landing", sf, 1000L),
      ("q102_compaction", sf, 397L), ("q103_clustered_layout", sf01, 2654L),
      ("q106_zorder_layout", sf, 56L), ("q113_schema_evolution", sf, 1000L),
      ("q115_stream_left_interval_join", sf, 188L),
      ("q117_available_now_catchup", sf, 1000L), ("q144_incremental_first_touch", sf, 75L))
    // the five gates the other tests here run
    val elsewhere = Set("q74_stream_neardup", "q82_stream_dedup", "q89_stream_recovery",
      "q90_backfill", "q100_neardup_recovery")
    assert(want.map(_._1).toSet ++ elsewhere == graft.Bench.harnessBound)
    want.foreach { case (q, dir, n) =>
      val got = graft.Caches.scoped(GateQueries.queries(q)(spark, dir).count())
      assert(got == n, s"$q at $dir returned $got rows, want $n")
      assert(spark.streams.active.isEmpty, s"$q left a stream active")
    }
  }

  test("runStream stops the query when the feed throws, and the failure propagates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val input = MemoryStream[Long](spark)
    val q = GateQueries.appendParquet(input.toDF(), GateQueries.gateDir("spec-feed"), "out")
    val err = intercept[IllegalStateException] {
      GateQueries.runStream(q) { q =>
        input.addData(1L, 2L)
        q.processAllAvailable()
        throw new IllegalStateException("feed failed")
      }
    }
    assert(err.getMessage == "feed failed")
    assert(!q.isActive && spark.streams.active.isEmpty)
  }

  test("gates write only under the one scratch root, and its cleanup removes a whole tree") {
    import java.nio.file.{Files, Paths}
    val root = graft.Sessions.scratchRoot
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def tmpEntries() = {
      val ls = Files.list(tmp)
      try ls.toArray.map(_.toString).toSet finally ls.close()
    }
    // writeStream, foreachBatch plus restart, and a batch-only fixture
    val gates = Seq("q82_stream_dedup", "q89_stream_recovery", "q90_backfill")
    def runGates(): Unit = gates.foreach { q =>
      val out = GateQueries.queries(q)(spark, sf)
      assert(out.count() > 0, q)
      assert(out.inputFiles.nonEmpty && out.inputFiles.forall(_.contains(root.toString)),
        s"$q read outside $root: ${out.inputFiles.toSeq}")
    }
    // the first pass also pays the JVM's one-time extractions under
    // tmpdir (native codec libraries, the session's artifact dir)
    runGates()
    val before = tmpEntries()
    runGates()
    assert(tmpEntries() -- before == Set.empty[String])

    // the shutdown hook's routine, on a tree this test owns: nested dirs,
    // files and a symlink whose target outside the tree must survive
    val owned = GateQueries.gateDir("spec-cleanup")
    val tree = Files.createDirectories(owned.resolve("tree/a/b"))
    Files.writeString(tree.resolve("part-0.parquet"), "x")
    val outside = Files.writeString(owned.resolve("outside.txt"), "keep")
    Files.createSymbolicLink(owned.resolve("tree/a/link"), outside)
    graft.Sessions.deleteRecursively(owned.resolve("tree"))
    assert(!Files.exists(owned.resolve("tree")))
    assert(Files.readString(outside) == "keep")
    graft.Sessions.deleteRecursively(owned)
    assert(!Files.exists(owned))
  }

  test("q67: every sketch estimate lands inside its documented bound") {
    val rows = GateQueries.queries("q67_sketch_accuracy")(spark, sf)
      .collect()
    // 5 event types + 20 sources + 10 top words
    assert(rows.length == 35, s"expected 35 audit rows, got ${rows.length}")
    val out = rows.map(r => (r.getString(0), r.getString(1), r.getBoolean(3)))
    assert(out.forall(_._3), s"bound violations: ${out.filterNot(_._3).mkString(", ")}")
    assert(out.map(_._1).distinct.sorted.toSeq ==
      Seq("cms_topk", "gk_percentile", "hll_distinct"))
  }

  test("q68: imageio recovers the encoded dimensions and format from raw bytes") {
    val rows = GateQueries.queries("q68_image_decode")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (id, fmt, w, h, ok) =
        (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getBoolean(4))
      assert(ok, s"doc $id fell back to the stub")
      assert(fmt == (if (id % 2 == 0) "png" else "bmp"), s"doc $id format $fmt")
      assert(w == 8 + (id % 64).toInt && h == 4 + (id % 32).toInt,
        s"doc $id decoded ${w}x$h")
    }
  }

  test("decodeImages quarantines unreadable payloads instead of failing") {
    import spark.implicits._
    val junk = Seq((1L, Array[Byte](1, 2, 3, 4))).toDF("doc_id", "payload")
    val out = Multimodal.decodeImages(spark, junk).collect()
    assert(out.length == 1 && !out.head.decoded && out.head.format == "unknown")
  }

  test("decodeImages quarantines a payload truncated past its magic bytes") {
    import spark.implicits._
    // a PNG prefix long enough that the PNG reader CLAIMS the payload, but
    // short of the IHDR dimensions — getWidth hits EOF, which must land in
    // the quarantine row, not fail the stage
    val png = Multimodal.encodeTestImage(7L, 32, 16, "png")
    val rows = Seq((1L, png.take(16)), (2L, png)).toDF("doc_id", "payload")
    val out = Multimodal.decodeImages(spark, rows).collect().sortBy(_.doc_id)
    assert(!out(0).decoded && out(0).format == "unknown")
    assert(out(1).decoded && out(1).format == "png" &&
      out(1).width == 32 && out(1).height == 16)
  }

  test("dHash56: cross-format and cross-scale pixel identity, content sensitivity") {
    import spark.implicits._
    val rows = Seq(
      (10L, Multimodal.encodeGridImage(1L, cell = 4, "png")),
      (11L, Multimodal.encodeGridImage(1L, cell = 4, "bmp")),   // same grid, other container
      (12L, Multimodal.encodeGridImage(1L, cell = 8, "png")),   // same grid, 2x upscale
      (20L, Multimodal.encodeGridImage(2L, cell = 4, "png"))    // different content
    ).toDF("row_id", "payload")
    val h = Multimodal.dHash56(spark, rows).collect()
      .map(r => r.getAs[Long]("row_id") -> r.getAs[Long]("dhash")).toMap
    assert(h(10L) == h(11L), "PNG and BMP of one grid must hash identically")
    assert(h(10L) == h(12L), "integer upscale of one grid must hash identically")
    assert(h(10L) != h(20L), "different content must hash apart")
    // the hash is the md5-grid prediction the q120 oracle computes
    val expected = (for (y <- 0 until 8; x <- 0 until 7) yield {
      if (Multimodal.gridGray(1L, x + 1, y) > Multimodal.gridGray(1L, x, y))
        1L << (y * 7 + x) else 0L
    }).reduce(_ | _)
    assert(h(10L) == expected)
  }

  test("duplicatedSpans counts corpus-wide window repeats, incl. self-repeats") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),          // window "a b c" etc. shared with doc 2
      (2L, "a b c d f"),          // shares "a b c"/"b c d" with doc 1
      (3L, "x y x y x"),          // self-repeating: "x y x" twice in one doc
      (4L, "p q"),                // shorter than one window: zero spans
      (5L, "m n o r s")           // all windows unique
    ).toDF("doc_id", "text")
    val rows = Dedup.duplicatedSpans(docs, "doc_id", "text", spanWords = 3)
      .select($"id", $"n_spans", $"n_dup_spans", $"dup_fraction")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(rows.map(r => (r._1, r._2, r._3)).toSeq == Seq(
      (1L, 3L, 2L),   // "a b c","b c d" duplicated; "c d e" unique
      (2L, 3L, 2L),
      (3L, 3L, 2L),   // "x y x" twice (self), "y x y" once
      (4L, 0L, 0L),
      (5L, 3L, 0L)))
    assert(rows.find(_._1 == 4L).get._4 == 0.0)
  }

  test("q73: exactly the corrupt payloads (both corruption modes) are quarantined") {
    val rows = GateQueries.queries("q73_image_quarantine")(spark, sf).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val id = r.getLong(0)
      if (id % 20 == 0) assert(!r.getBoolean(4) && r.getString(1) == "unknown" &&
        r.isNullAt(2) && r.isNullAt(3), s"doc $id should be quarantined")
      else assert(r.getBoolean(4), s"doc $id should decode")
    }
  }
}
