package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

class CachesSpec extends SparkSpec {
  import spark.implicits._

  private def frame(tag: String): DataFrame = Seq((1L, tag), (2L, tag)).toDF("id", "tag")
  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE
  private def rddOf(df: DataFrame) = df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd

  test("nested scopes release only their own frames") {
    dropAllCaches()
    Caches.scoped {
      val outer = Caches.hold(frame("outer"))
      val inner = Caches.scoped {
        val inner = Caches.hold(frame("inner"))
        assert(cached(outer) && cached(inner))
        inner
      }
      assert(!cached(inner), "the inner scope kept its frame")
      assert(cached(outer), "the inner scope released the outer scope's frame")
    }
    assert(nothingCached)
  }

  test("a frame held outside any scope survives a later scope") {
    dropAllCaches()
    val loose = Caches.hold(frame("loose"))
    Caches.scoped(Caches.hold(frame("scoped")).count())
    assert(cached(loose), "a scope released a frame it never held")
    Caches.release(loose)
    assert(nothingCached)
  }

  test("a scope does not capture frames another thread holds") {
    dropAllCaches()
    var other: DataFrame = null
    Caches.scoped {
      val t = new Thread(() => other = Caches.hold(frame("other")))
      t.start(); t.join()
    }
    assert(cached(other))
    Caches.release(other)
  }

  test("release drops a checkpointed frame's blocks, once and idempotently") {
    dropAllCaches()
    val c = Caches.checkpoint(frame("ckpt").groupBy($"tag").count())
    val id = rddOf(c).id
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    assert(c.collect().toSeq.map(_.getLong(1)) == Seq(2L))
    Caches.release(c)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
    Caches.release(c)
    assert(nothingCached)
  }

  test("releasing a frame never unpersists the caller's own checkpoint it reads") {
    dropAllCaches()
    val user = frame("user").localCheckpoint()
    val userRdd = rddOf(user)
    val held = Caches.hold(user.select($"id" + 1))
    assert(held.count() == 2L)
    Caches.release(held)
    val ckpt = Caches.checkpoint(user.select($"id" * 2))
    Caches.release(ckpt)
    assert(spark.sparkContext.getPersistentRDDs.keySet == Set(userRdd.id),
      "releasing a frame that reads the caller's checkpoint dropped that checkpoint")
    assert(user.count() == 2L)
    userRdd.unpersist(blocking = true)
  }

  test("Verify's per-query step releases what a failing query checkpointed") {
    val failing: (org.apache.spark.sql.SparkSession, String) => DataFrame = { (s, _) =>
      Caches.checkpoint(s.range(0, 100, 1, 2).toDF())
      throw new IllegalStateException("injected query failure")
    }
    val out = java.nio.file.Files.createTempDirectory(Sessions.scratchRoot, "graft-verify-dump")
    val steps = Seq[(String, () => Unit)](
      "Verify.dump" -> (() => Verify.dump(spark, "q0_failing", failing, "unused", out.toString)),
      "Bench.rep" -> { () =>
        val (_, failure) = Bench.rep(spark, failing, "unused")
        assert(failure.exists(_.getMessage == "injected query failure"))
      })
    steps.foreach { case (step, run) =>
      dropAllCaches()
      run()
      assert(nothingCached,
        s"$step left ${spark.sparkContext.getPersistentRDDs.size} persisted RDDs")
    }
  }
}
