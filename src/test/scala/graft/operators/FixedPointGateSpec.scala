package graft.operators

import graft.SparkSpec

/** Bit-parity pins for the driver fixed-point shortcuts of the
  * iterative numeric kernels (the pagerankRanks/DRIVER_CC_MAX idiom,
  * round 19): under DRIVER_FP_CELLS collected cells the PCA power
  * loop and the kmeans Lloyd loop run on the driver; these tests
  * force the distributed path with `driverCellMax = 0` and assert the
  * two produce the IDENTICAL result — exact double bits, not a
  * tolerance — on a ragged-free planted cloud and on a ragged corpus
  * (kmeans accepts ragged rows; PCA pre-filters to the max dim).
  * Equality holds because every cross-row accumulation is exact-grid
  * integer arithmetic (BigInt = decimal(38,0) by associativity) and
  * every per-row fold is the same explicitly-sequenced IEEE code. */
class FixedPointGateSpec extends SparkSpec {
  import spark.implicits._

  private def planted(d: Int, n: Int): Seq[(Long, Seq[Double])] =
    (0 until n).map { i =>
      val t = ((i % 17) - 8).toDouble
      val row = Array.tabulate(d) { j =>
        t * (1.0 + (j % 3)) / d +
          0.07 * (((i * 29 + j * 13) % 11) - 5).toDouble / 11.0
      }
      (i.toLong, row.toSeq)
    }

  test("pca power loop: driver shortcut == distributed loop, bit-exact") {
    val rows = planted(6, 180)
    val df = rows.toDF("vec_id", "emb")
    val (mD, vD, lamD, nD) = SimilarityQueries.pcaPowerLoop(df)
    val (mX, vX, lamX, nX) =
      SimilarityQueries.pcaPowerLoop(rows.toDF("vec_id", "emb"), 0L)
    assert(nD == 180L && nX == 180L)
    assert(mD.toSeq == mX.toSeq)
    assert(vD.toSeq == vX.toSeq) // exact — grid sums + sequenced folds
    assert(lamD == lamX)
  }

  test("kmeans Lloyd loop: driver shortcut == distributed loop on a " +
      "ragged corpus, bit-exact centroids") {
    // ragged: every 7th row is one dim short — exercises the presence
    // counts (the explode form's per-dim divisor) on both paths
    // withNorm reads the embeddings table shape (vec_id, label,
    // embedding); kmeans never reads the label
    val base = planted(5, 140).map { case (id, emb) =>
      (id, (id % 3).toInt, if (id % 7 == 0) emb.dropRight(1) else emb)
    }
    val cols = Seq("vec_id", "label", "embedding")
    val e = SimilarityQueries.withNorm(base.toDF(cols: _*))
    val d = SimilarityQueries.kmeansLoop(e, 4)
    val x = SimilarityQueries.kmeansLoop(
      SimilarityQueries.withNorm(base.toDF(cols: _*)), 4, 0L)
    assert(d.length == x.length && d.nonEmpty)
    d.zip(x).foreach { case ((cd, ed, nd), (cx, ex, nx)) =>
      assert(cd == cx)
      assert(ed.toSeq == ex.toSeq)
      assert(nd == nx)
    }
  }

  test("kmeans driver gate: empty input returns empty centroids on " +
      "both paths") {
    val e0 = Seq.empty[(Long, Int, Seq[Double])]
      .toDF("vec_id", "label", "embedding")
    val e = SimilarityQueries.withNorm(e0)
    assert(SimilarityQueries.kmeansLoop(e, 4).isEmpty)
    assert(SimilarityQueries.kmeansLoop(
      SimilarityQueries.withNorm(e0), 4, 0L).isEmpty)
  }
}
