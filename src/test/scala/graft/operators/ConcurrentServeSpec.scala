package graft.operators

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Concurrent index serving: one SparkSession, many simultaneous
  * queries — the shape of a real serve tier, where N request handlers
  * share a session and every serve must be isolated and correct.
  * (Spark's scheduler accepts jobs from any thread; a deployment runs
  * it with spark.scheduler.mode=FAIR so no single heavy query starves
  * the rest — per-thread pools are set the same way as here.)
  */
class ConcurrentServeSpec extends SparkSpec {

  private val TERM_SETS: Seq[Seq[String]] = Seq(
    Seq("spark", "vector", "stream"), Seq("the", "data"),
    Seq("join", "hash"), Seq("a"), Seq("lake", "row"),
    Seq("stream"), Seq("data", "spark"), Seq("zzz_absent"))

  test("8 concurrent bm25 serves equal their sequential runs") {
    val root = TextQueries.buildTextIndex(spark, sf)
    val sequential = TERM_SETS.map(ts =>
      IndexServe.bm25TopK(spark, root, terms = ts, k = 10)
        .collect().toSeq)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val fs = TERM_SETS.zipWithIndex.map { case (ts, i) =>
        Future {
          // the per-request pool a FAIR-scheduled serve tier assigns;
          // a no-op under the test session's FIFO mode
          spark.sparkContext.setLocalProperty(
            "spark.scheduler.pool", s"serve-$i")
          IndexServe.bm25TopK(spark, root, terms = ts, k = 10)
            .collect().toSeq
        }
      }
      val concurrent = Await.result(Future.sequence(fs), 120.seconds)
      concurrent.zip(sequential).zipWithIndex.foreach {
        case ((c, s), i) =>
          assert(c == s, s"query $i diverged under concurrency:\n$c\nvs\n$s")
      }
    } finally pool.shutdown()
  }

  test("concurrent serves stay correct on a tombstoned root") {
    // the serve tier after a takedown: every handler must apply the
    // tombstone correction identically — same live df recount, same
    // stats fold — under concurrency
    val root = java.nio.file.Files
      .createTempDirectory("graft-cserve-del").toString
    IndexManifest.registerTempRoot(root)
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    TextQueries.appendToIndex(docs, root, 0L)
    TextQueries.deleteFromTextIndex(spark, root,
      docs.filter(pmod(col("doc_id"), lit(5)) === 2).select("doc_id"), 1L)
    val sequential = TERM_SETS.map(ts =>
      IndexServe.bm25TopK(spark, root, terms = ts, k = 10)
        .collect().toSeq)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val fs = TERM_SETS.map { ts =>
        Future {
          IndexServe.bm25TopK(spark, root, terms = ts, k = 10)
            .collect().toSeq
        }
      }
      val concurrent = Await.result(Future.sequence(fs), 120.seconds)
      concurrent.zip(sequential).zipWithIndex.foreach {
        case ((c, s), i) =>
          assert(c == s,
            s"tombstoned query $i diverged under concurrency:\n$c\nvs\n$s")
          assert(c.forall(_.getLong(0) % 5 != 2),
            s"query $i leaked a deleted doc under concurrency")
      }
    } finally pool.shutdown()
  }

  test("maintenance refuses while serve leases are active, then runs") {
    // the enforced quiesce contract (IndexLease): "every response is
    // pre- or post-state" cannot hold on file:// while the swap moves
    // live directories under a planned scan, so the contract is
    // REFUSAL, not interleaving — compaction throws while any serve
    // lease is held, and serves see exactly the pre-state before and
    // the post-state after.
    val root = java.nio.file.Files
      .createTempDirectory("graft-quiesce").toString
    IndexManifest.registerTempRoot(root)
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    (0 to 2).foreach { b =>
      TextQueries.appendToIndex(
        docs.filter(pmod(col("doc_id"), lit(3)) === b), root, b.toLong)
    }
    val pre = IndexServe.bm25TopK(spark, root).collect().toSeq
    // a serving thread serves through the facade, which holds the
    // lease across plan+execute; the serve is held inside planning (so
    // inside the lease) until the maintenance attempt has been made,
    // which must refuse
    val served = new java.util.concurrent.atomic.AtomicLong(0L)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val leased = new java.util.concurrent.CountDownLatch(1)
    val attempted = new java.util.concurrent.CountDownLatch(1)
    val hold = new Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = {
        if (Thread.currentThread().getName == "graft-quiesce-server" &&
            leased.getCount > 0) {
          leased.countDown()
          attempted.await(60, SECONDS)
        }
        plan
      }
    }
    val server = new Thread(() => {
      try {
        val got = IndexServe.bm25TopK(spark, root).collect().toSeq
        if (got != pre) failures.add(new AssertionError(
          s"serve diverged from pre-state:\n$got\nvs\n$pre"))
        served.incrementAndGet()
      } catch { case t: Throwable => failures.add(t) }
    }, "graft-quiesce-server")
    spark.experimental.extraOptimizations ++= Seq(hold)
    try {
      server.start()
      assert(leased.await(60, SECONDS), "the serving thread never planned")
      val e = intercept[IllegalStateException] {
        TextQueries.compactTextIndex(spark, root)
      }
      assert(e.getMessage.contains("serve lease"))
    } finally {
      attempted.countDown()
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations.filterNot(_ eq hold)
      server.join(60000)
    }
    assert(failures.isEmpty, s"serving thread failed: ${failures.peek()}")
    assert(served.get() > 0)
    // quiesced: maintenance proceeds; serves resume on the post-state
    // (content identical modulo the by-design batch_id fold)
    TextQueries.compactTextIndex(spark, root)
    val post = IndexServe.bm25TopK(spark, root).collect().toSeq
    assert(post == pre, "compaction changed serve content")
    // and while maintenance holds the root, the facade itself refuses
    IndexLease.withMaintenance(root) {
      val e = intercept[IllegalStateException] {
        IndexServe.bm25TopK(spark, root)
      }
      assert(e.getMessage.contains("maintenance"))
    }
  }

  test("rebuild and repair honor the same serve-lease guard") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-quiesce-vec").toString
    IndexManifest.registerTempRoot(root)
    val e = graft.Tables.embeddings(spark, sf)
    SimilarityQueries.initVectorIndex(e, root)
    SimilarityQueries.appendToVectorIndex(e, root, 0L)
    IndexLease.withServeLease(root) {
      val r = intercept[IllegalStateException] {
        SimilarityQueries.rebuildVectorIndex(spark, root)
      }
      assert(r.getMessage.contains("serve lease"))
      val p = intercept[IllegalStateException] {
        SimilarityQueries.repairVectorIndex(spark, root)
      }
      assert(p.getMessage.contains("serve lease"))
      val c = intercept[IllegalStateException] {
        SimilarityQueries.compactVectorIndex(spark, root)
      }
      assert(c.getMessage.contains("serve lease"))
    }
    // released: the same ops run
    SimilarityQueries.rebuildVectorIndex(spark, root)
  }

  test("concurrent PQ serves equal their sequential runs and honor " +
    "the quiesce contract") {
    val root = SimilarityQueries.buildVectorIndex(spark, sf)
    PqIndex.buildSidecar(spark, root)
    val qs = SimilarityQueries.withNorm(graft.Tables.embeddings(spark, sf))
      .filter(col("vec_id").isin(0L, 3L, 7L, 11L))
      .select(col("vec_id"), col("emb"), col("nrm"))
      .collect().toSeq
      .map(r => (r.getSeq[Double](1).toArray, r.getDouble(2)))
    val sequential = qs.map { case (qv, qn) =>
      IndexServe.annTopKPq(spark, root, qv, qn).collect().toSeq
    }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val fs = qs.map { case (qv, qn) =>
        Future {
          IndexServe.annTopKPq(spark, root, qv, qn).collect().toSeq
        }
      }
      val concurrent = Await.result(Future.sequence(fs), 120.seconds)
      assert(concurrent == sequential)
    } finally pool.shutdown()
    // the sidecar BUILD is maintenance: it refuses under a live serve
    // lease (it overwrites pq/codes a reader could be mid-scan over)
    IndexManifest.update(root, Map("pq.fingerprint" -> "forced-stale"))
    IndexLease.withServeLease(root) {
      val b = intercept[IllegalStateException] {
        PqIndex.buildSidecar(spark, root)
      }
      assert(b.getMessage.contains("serve lease"))
    }
    PqIndex.buildSidecar(spark, root)
    // and the PQ facade refuses while maintenance holds the root
    IndexLease.withMaintenance(root) {
      val e = intercept[IllegalStateException] {
        IndexServe.annTopKPq(spark, root, qs.head._1, qs.head._2)
      }
      assert(e.getMessage.contains("maintenance"))
    }
  }

  test("concurrent ANN serves equal their sequential runs") {
    val root = SimilarityQueries.buildVectorIndex(spark, sf)
    val qs = SimilarityQueries.withNorm(graft.Tables.embeddings(spark, sf))
      .filter(col("vec_id").isin(0L, 3L, 7L, 11L))
      .select(col("vec_id"), col("emb"), col("nrm"))
      .collect().toSeq
      .map(r => (r.getSeq[Double](1).toArray, r.getDouble(2)))
    val sequential = qs.map { case (qv, qn) =>
      IndexServe.annTopK(spark, root, qv, qn).collect().toSeq
    }
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val fs = qs.map { case (qv, qn) =>
        Future {
          IndexServe.annTopK(spark, root, qv, qn).collect().toSeq
        }
      }
      val concurrent = Await.result(Future.sequence(fs), 120.seconds)
      assert(concurrent == sequential)
    } finally pool.shutdown()
  }
}
