package graft.operators

import graft.{Scratch, SparkSpec}
import org.apache.spark.sql.functions._

/** q261's diagonal-covariance Gaussian scorer (reference surface:
  * flink-ml-lib/.../basicstatistic/MultivariateGaussian.java) on
  * synthetic corpora with planted anomalies. */
class GaussianOutlierSpec extends SparkSpec {

  private def corpus(rows: Seq[(Long, Int, Array[Float])]) = {
    import spark.implicits._
    rows.toDF("vec_id", "label", "embedding")
  }

  /** 200 deterministic pseudo-random inliers in [-0.5, 0.5]^8. */
  private def inliers: Seq[(Long, Int, Array[Float])] =
    (0L until 200L).map { i =>
      val e = Array.tabulate(8) { d =>
        val h = (i * 31 + d * 17 + 7) % 101
        (h / 101.0f) - 0.5f
      }
      (i, (i % 3).toInt, e)
    }

  test("a planted far-tail vector ranks first with a dominating score") {
    val planted = (999L, 9, Array.fill(8)(5.0f))
    val top = VectorQueries.gaussianOutliers(corpus(inliers :+ planted), 5)
      .collect()
    assert(top.head.getLong(0) == 999L)
    // the anomaly is far out: its score dwarfs the best inlier's
    assert(top.head.getLong(2) > 10 * top(1).getLong(2))
  }

  test("scores are non-negative and the tail is sorted desc, id-tiebroken") {
    val top = VectorQueries.gaussianOutliers(corpus(inliers), 10).collect()
    assert(top.length == 10)
    assert(top.forall(_.getLong(2) >= 0L))
    val pairs = top.map(r => (r.getLong(2), r.getLong(0)))
    assert(pairs.sameElements(pairs.sortBy { case (s, id) => (-s, id) }))
  }

  test("a constant (zero-variance) dimension cannot divide by zero") {
    val rows = (0L until 50L).map { i =>
      // dim 0 constant, dim 1 varies
      (i, 0, Array(0.25f, (i % 7).toFloat / 10f))
    }
    val top = VectorQueries.gaussianOutliers(corpus(rows), 3).collect()
    assert(top.length == 3 && top.forall(_.getLong(2) >= 0L))
  }

  test("scoring is a projection: no shuffle after the moments collect") {
    val df = VectorQueries.gaussianOutliers(corpus(inliers), 5)
    val plan = df.queryExecution.executedPlan.toString
    // TakeOrderedAndProject over the scan — no Exchange in the scoring job
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Exchange"))
  }

  test("moments match the brute-force integer formulas") {
    val rows = inliers.take(40)
    val m = VectorQueries.gaussianMoments(
      VectorQueries.gridCodes(corpus(rows)))
    val xs = rows.map(_._3.map(v =>
      math.min(math.max(math.round(v.toDouble * 1000), -8000L), 8000L) + 8000L))
    (0 until 8).foreach { d =>
      val col = xs.map(_(d))
      val (n, sx, qx) = (col.size.toLong, col.sum, col.map(x => x * x).sum)
      assert(m.mu(d) == (2 * sx + n) / (2 * n))
      assert(m.vr(d) == math.max(qx / n - m.mu(d) * m.mu(d), 1L))
      assert(m.ssd(d) == qx - 2 * m.mu(d) * sx + n * m.mu(d) * m.mu(d))
      assert(m.ssd(d) >= 0L)
    }
  }

  test("a duplicated dimension tops the correlation pairs at ~1") {
    // dim 3 := dim 0 exactly; the (0,3) pair must rank first with
    // corr ≈ 1 (exact up to the one final IEEE division)
    val rows = inliers.map { case (id, lb, e) =>
      val e2 = e.clone(); e2(3) = e(0); (id, lb, e2)
    }
    val dir = Scratch.dir("corrspec")
    corpus(rows).write.mode("overwrite")
      .parquet(dir.resolve("embeddings.parquet").toString)
    val top = VectorQueries.queries("q262_dim_correlation")(spark, dir.toString)
      .collect()
    assert(top.head.getInt(0) == 0 && top.head.getInt(1) == 3)
    assert(math.abs(top.head.getDouble(2) - 1.0) < 1e-9)
  }
}
