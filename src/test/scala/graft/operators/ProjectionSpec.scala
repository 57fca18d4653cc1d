package graft.operators

import org.apache.spark.sql.functions._

class ProjectionSpec extends graft.SparkSpec {
  import spark.implicits._

  private def fixture = {
    val rnd = new scala.util.Random(7)
    (0L until 40L).map(i => (i, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }

  test("sign matrix is deterministic and ±1") {
    val m1 = Projection.signMatrix(4, 8, "s")
    val m2 = Projection.signMatrix(4, 8, "s")
    assert(m1 == m2)
    assert(m1.flatten.forall(v => v == 1.0 || v == -1.0))
    // salt changes the matrix
    assert(m1 != Projection.signMatrix(4, 8, "other"))
    // not degenerate: both signs occur
    assert(m1.flatten.toSet == Set(1.0, -1.0))
  }

  test("projection emits outDim components per vector, zero shuffles") {
    val out = Projection.randomProject(fixture, "vec_id", "embedding", 6, "t")
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"projection must not shuffle:\n$plan")
    val rows = out.collect()
    assert(rows.length == 40 * 6)
    val perVec = rows.groupBy(_.getAs[Long]("vec_id"))
    assert(perVec.values.forall(_.map(_.getAs[Int]("out_pos")).sorted
      .sameElements(0 until 6)))
  }

  test("randomProject fails naming itself when every vector is empty; no rows project to no rows") {
    val empty = Seq((0L, Array.empty[Float]), (1L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Projection.randomProject(empty, "vec_id", "embedding", 4, "t")
    }
    assert(ex.getMessage.contains("randomProject") &&
      ex.getMessage.contains("non-empty vectors"), ex.getMessage)
    assert(Projection.randomProject(fixture.limit(0), "vec_id", "embedding", 4, "t")
      .count() == 0)
  }

  test("JL: projected squared distances track originals within 3x") {
    // 32 -> 16 dims on gaussian vectors; with n=40 pairs the JL distortion
    // at this ratio stays well inside a 3x band (loose sanity bound).
    val df = fixture
    val proj = Projection.randomProject(df, "vec_id", "embedding", 16, "jl")
      .groupBy("vec_id")
      .agg(transform(array_sort(collect_list(struct(col("out_pos"), col("component")))),
        e => e.getField("component")).as("p"))
    val orig = df.select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val both = orig.join(proj, "vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getSeq[Double](1).toArray, r.getSeq[Double](2).toArray))
    def d2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val pairs = for (i <- both.indices; j <- i + 1 until both.length if j <= i + 3) yield {
      val o = d2(both(i)._2, both(j)._2)
      // E[|Pu|^2] = inDim/... for ±1 matrix: E = outDim * |u|^2, normalize
      val p = d2(both(i)._3, both(j)._3) / 16.0
      p / o
    }
    assert(pairs.forall(r => r > 1.0 / 3 && r < 3.0),
      s"distortion out of band: min=${pairs.min} max=${pairs.max}")
  }
}
