package graft.operators

import graft.SparkSpec

/** sim_hybrid_rrf / sim_hybrid_serve — reciprocal-rank fusion of the
  * BM25 lexical pool and the cosine dense pool. The DuckDB oracles
  * hash-pin the exact rows at the gate scales; these tests pin the
  * SEMANTICS so a refactor can't silently change what the numbers
  * mean: rank provenance (each emitted rank must reproduce its
  * system's own ordering), the RRF formula itself, and the
  * serve-tier's lexical-parity contract.
  */
class HybridRetrievalSpec extends SparkSpec {

  private lazy val fused =
    SimilarityQueries.simHybridRrf(spark, sf).collect()
  private lazy val served =
    SimilarityQueries.simHybridServe(spark, sf).collect()
  private lazy val scanLexPool =
    TextQueries.bm25Top(spark, sf, 50)
      .select("doc_id").collect().map(_.getLong(0))

  test("fused output is rrf-descending with doc_id tiebreak; " +
    "ranks stay inside the pool bound") {
    assert(fused.nonEmpty)
    val keys = fused.map(r => (r.getDouble(3), r.getLong(0))).toSeq
    assert(keys == keys.sortBy { case (v, id) => (-v, id) })
    fused.foreach { r =>
      Seq(1, 2).foreach { i =>
        if (!r.isNullAt(i))
          assert(r.getLong(i) >= 1L && r.getLong(i) <= 50L)
      }
      // a doc with NO rank in either system cannot be in the output
      assert(!(r.isNullAt(1) && r.isNullAt(2)))
    }
  }

  test("rrf equals the reciprocal-rank formula over the emitted ranks") {
    fused.foreach { r =>
      val lex = if (r.isNullAt(1)) 0.0 else 1.0 / (60 + r.getLong(1))
      val den = if (r.isNullAt(2)) 0.0 else 1.0 / (60 + r.getLong(2))
      assert(math.abs(r.getDouble(3) - (lex + den)) < 5e-7,
        s"row $r does not satisfy rrf = 1/(60+lex) + 1/(60+dense)")
    }
  }

  test("lexical ranks reproduce the BM25 pool's own ordering") {
    fused.filter(!_.isNullAt(1)).foreach { r =>
      val rank = r.getLong(1).toInt
      assert(scanLexPool(rank - 1) == r.getLong(0),
        s"doc ${r.getLong(0)} claims lexical rank $rank but the " +
          s"BM25 pool has ${scanLexPool(rank - 1)} there")
    }
  }

  test("dense ranks reproduce the exact-cosine pool's own ordering") {
    import org.apache.spark.sql.functions._
    val densePool = SimilarityQueries
      .simTopkCosinePool(spark, sf, 50)
      .select(col("doc_id")).collect().map(_.getLong(0))
    fused.filter(!_.isNullAt(2)).foreach { r =>
      val rank = r.getLong(2).toInt
      assert(densePool(rank - 1) == r.getLong(0))
    }
  }

  test("serve-tier fusion holds the same invariants and the lexical " +
    "side is scan-identical (the indexed-BM25 parity contract)") {
    assert(served.nonEmpty)
    val keys = served.map(r => (r.getDouble(3), r.getLong(0))).toSeq
    assert(keys == keys.sortBy { case (v, id) => (-v, id) })
    served.filter(!_.isNullAt(1)).foreach { r =>
      val rank = r.getLong(1).toInt
      assert(scanLexPool(rank - 1) == r.getLong(0))
    }
    served.foreach { r =>
      val lex = if (r.isNullAt(1)) 0.0 else 1.0 / (60 + r.getLong(1))
      val den = if (r.isNullAt(2)) 0.0 else 1.0 / (60 + r.getLong(2))
      assert(math.abs(r.getDouble(3) - (lex + den)) < 5e-7)
    }
  }

  test("batch fusion: query 1 (the single serve's own terms + vector) " +
    "is hash-identical to the single-query hybrid serve") {
    val batch = SimilarityQueries.simHybridServeBatch(spark, sf).collect()
    assert(batch.nonEmpty)
    val q1 = batch.filter(_.getInt(0) == 1)
      .map(r => (r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        r.getDouble(4))).toSeq
    val single = served
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2),
        r.getDouble(3))).toSeq
    assert(q1 == single)
    // every batch query fuses validly
    batch.groupBy(_.getInt(0)).foreach { case (_, rows) =>
      val keys = rows.map(r => (r.getDouble(4), r.getLong(1))).toSeq
      assert(keys == keys.sortBy { case (v, id) => (-v, id) })
    }
  }

  test("mmr: first pick is the pool's relevance top-1, every pick is " +
    "distinct, and marginal scores never exceed lambda * qsim") {
    import org.apache.spark.sql.functions._
    val mmr = SimilarityQueries.simMmrRerank(spark, sf).collect()
    assert(mmr.nonEmpty && mmr.length <= 10)
    // ranks are 1..n in order
    assert(mmr.map(_.getLong(0)).toSeq == (1L to mmr.length).toSeq)
    val ids = mmr.map(_.getLong(1))
    assert(ids.distinct.length == ids.length)
    val pool = SimilarityQueries.simTopkCosinePool(spark, sf, 50)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // selected docs come from the pool
    ids.foreach(id => assert(pool.contains(id)))
    // first pick maximizes pure relevance (empty-set MMR = 0.7 * qsim,
    // monotone in qsim) with doc_id tiebreak
    val best = pool.toSeq.sortBy { case (id, s) => (-s, id) }.head._1
    assert(ids.head == best)
    // no marginal score can exceed its own relevance term
    mmr.foreach { r =>
      assert(r.getDouble(2) <= 0.7 * pool(r.getLong(1)) + 1e-9)
    }
  }

  test("mmr diversification: a planted near-duplicate of the top doc " +
    "is deferred below a less-similar but diverse doc") {
    // synthetic 4-vector pool driven through the same kernels the
    // operator uses: q = x-axis, a at ~26 degrees in the xy-plane,
    // a' a near-dup of a (sim(a',a) ~ 0.9997), b EQUALLY relevant-ish
    // but rotated into the xz-plane so it is far from a. Relevance
    // order is q, a, a', b; MMR must defer the near-dup: q, a, b, a'
    // (mmr_b = 0.7*0.850 - 0.3*0.850 = 0.340 beats
    //  mmr_a' = 0.7*0.890 - 0.3*0.9997 = 0.323).
    import spark.implicits._
    val rows = Seq(
      (0L, Array(1.0, 0.0, 0.0)),       // the query vector itself
      (1L, Array(0.9, 0.436, 0.0)),     // a: most relevant
      (2L, Array(0.89, 0.456, 0.0)),    // a': near-dup of a
      (3L, Array(0.85, 0.0, 0.5268))    // b: relevant but diverse
    ).toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit(0))
    val dir = java.nio.file.Files
      .createTempDirectory("mmr_fixture").toString
    rows.select(org.apache.spark.sql.functions.col("vec_id"),
      org.apache.spark.sql.functions.col("embedding")
        .cast("array<float>").as("embedding"),
      org.apache.spark.sql.functions.col("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val sel = SimilarityQueries.simMmrRerank(spark, dir)
      .collect().map(_.getLong(1)).toSeq
    // q itself (sim 1.0) leads; then a; then the DIVERSE b jumps the
    // near-dup a' despite a' having higher raw relevance
    assert(sel.take(4) == Seq(0L, 1L, 3L, 2L),
      s"expected diversity-aware order 0,1,3,2 but got $sel")
  }

  test("serve-tier mmr: leased probed-pool selection holds the greedy " +
    "invariants and stays inside the probed pool") {
    val served = SimilarityQueries.simMmrServe(spark, sf).collect()
    assert(served.nonEmpty && served.length <= 10)
    assert(served.map(_.getLong(0)).toSeq == (1L to served.length).toSeq)
    val ids = served.map(_.getLong(1))
    assert(ids.distinct.length == ids.length)
    // the pool the greedy ran over IS the probed-list top-50 — every
    // pick must come from it, and the first pick is its relevance top
    val root = SimilarityQueries.buildVectorIndex(spark, sf)
    val e = graft.Tables.embeddings(spark, sf)
    import org.apache.spark.sql.functions._
    val qRow = e.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).collect()(0)
      .getSeq[Double](0).toArray
    val qn = math.sqrt(qRow.map(x => x * x).sum)
    val pool = SimilarityQueries
      .annServePoolFrom(spark, root, qRow, qn, 50)
      .select("doc_id", "qsim").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val poolIds = pool.map(_._1).toSet
    ids.foreach(id => assert(poolIds.contains(id)))
    assert(ids.head ==
      pool.sortBy { case (id, s2) => (-s2, id) }.head._1)
  }

  test("retrieval decontamination: ledger sums to the corpus, flags " +
    "exactly the batch's fused union, clean = docs - flagged") {
    val ledger = SimilarityQueries
      .pipelineDecontaminateRetrieval(spark, sf).collect()
    assert(ledger.nonEmpty)
    val batchDocs = SimilarityQueries.simHybridServeBatch(spark, sf)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val corpus = graft.Tables.documents(spark, sf).count()
    assert(ledger.map(_.getLong(1)).sum == corpus)
    assert(ledger.map(_.getLong(2)).sum == batchDocs.size.toLong)
    ledger.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) - r.getLong(2))
    }
  }

  test("pool reads: a failed read cancels its sibling's job, and the " +
    "error reports both failures") {
    PoolReadProbe.started = false
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      SimilarityQueries.bothPools(spark, {
        while (!PoolReadProbe.started) Thread.sleep(10)
        throw new IllegalArgumentException("lexical read broke")
      }, {
        spark.sparkContext.parallelize(Seq(1), 1).map { x =>
          PoolReadProbe.started = true
          val ctx = org.apache.spark.TaskContext.get()
          val end = System.nanoTime() + 60L * 1000000000L
          while (!ctx.isInterrupted() && System.nanoTime() < end)
            Thread.sleep(10)
          x
        }.collect()
      })
    }
    val secs = (System.nanoTime() - t0) / 1e9
    assert(err.getMessage.contains("lexical read broke"))
    assert(err.getMessage.contains("dense:"), err.getMessage)
    assert(err.getSuppressed.length == 1)
    assert(secs < 30, s"the dense job ran on for $secs s")
  }
}

/** Set by the dense read's task once its job runs, so the lexical
  * read fails only while that job is active. */
object PoolReadProbe {
  @volatile var started = false
}
