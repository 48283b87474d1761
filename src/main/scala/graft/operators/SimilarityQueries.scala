package graft.operators

import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, DurationInt, FiniteDuration}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._
import graft.functions.ArrayDot.{arrayDot, l2Norm}
import graft.functions.{FastSig, HyperplaneSig, VectorFunctions}

/** Similarity search over the `embeddings` table (SURVEY.md §2.11).
  *
  * Scale design: brute-force cosine is the exact baseline — a single
  * scan, the query vector broadcast, top-k via TakeOrderedAndProject
  * (per-partition heaps, no global sort). Dot products run through
  * the codegen'd ArrayDotProduct expression; norms are computed once
  * per vector BEFORE any join, so a pair costs exactly one array
  * traversal. The LSH path buckets with one-pass random-hyperplane
  * signatures so candidate generation is an equi-join; at 100 TB only
  * bucket-mates are scored. Pairwise similarity is blocked (label
  * here, LSH bucket in general) — never an unblocked cross join.
  */
object SimilarityQueries {

  private[operators] def withNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("emb"))
      .withColumn("nrm", l2Norm(col("emb")))

  /** sim_topk_cosine — exact top-10 nearest to the vec_id=0 embedding.
    * Broadcast 1-row query side; double-precision cosine; rounded sort
    * key + vec_id tiebreak for cross-engine determinism. */
  def simTopkCosine(s: SparkSession, dir: String): DataFrame = {
    // zero-norm vectors score NaN, and Spark orders NaN ABOVE every
    // real similarity — exclude them up front (mirrored in the oracle)
    val e = nonDegenerate(withNorm(embeddings(s, dir)))
    val q = e.filter(col("vec_id") === 0)
      .select(col("emb").as("qv"), col("nrm").as("qn"))
    e.join(broadcast(q))
      .select(col("vec_id"),
        round(arrayDot(col("emb"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  val simTopkCosineSql: String =
    """WITH nd AS (SELECT * FROM embeddings
      |  WHERE sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |    v -> v*v))) > 0),
      |q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv
      |      FROM nd WHERE vec_id = 0)
      |SELECT vec_id,
      |  round(list_cosine_similarity(CAST(embedding AS DOUBLE[]), qv), 6)
      |    AS sim
      |FROM nd, q
      |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** Reciprocal-rank-fusion depth: each retrieval system contributes
    * a pool of this many candidates before fusing. */
  private[operators] val HYBRID_POOL = 50
  /** The RRF damping constant (K in 1/(K + rank)) — 60, the value the
    * original RRF evaluation fixed and every production hybrid stack
    * defaults to. */
  private val RRF_K = 60
  private val HYBRID_TOPK = 20

  /** RRF fusion of a lexical pool (doc_id, bm25) and a dense pool
    * (doc_id, sim): rank each pool by its own rounded score with
    * doc_id tiebreak, fuse as Σ 1/(RRF_K + rank) over the systems
    * that returned the doc, take the fused top-[[HYBRID_TOPK]].
    * Missing-side ranks stay NULL in the output (the consumer sees
    * WHICH system surfaced each doc); their fusion contribution is 0.
    *
    * Scale shape: both inputs are already top-[[HYBRID_POOL]] frames
    * (TakeOrderedAndProject heaps upstream), so the unpartitioned
    * row_number windows and the full-outer join here touch ≤ 2·pool
    * rows TOTAL regardless of corpus size — the single-partition
    * window is bounded by the pool constant, never by data. */
  private def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame = {
    val lexr = lex.select(col("doc_id"),
      row_number().over(Window.orderBy(col("bm25").desc, col("doc_id")))
        .cast("long").as("lex_rank"))
    val denr = dense.select(col("doc_id"),
      row_number().over(Window.orderBy(col("sim").desc, col("doc_id")))
        .cast("long").as("dense_rank"))
    lexr.join(denr, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(RRF_K) + col("lex_rank")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RRF_K) + col("dense_rank")), lit(0.0)),
        6))
      .select(col("doc_id"), col("lex_rank"), col("dense_rank"), col("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(HYBRID_TOPK)
  }

  /** sim_hybrid_rrf — hybrid retrieval: BM25 over `documents` fused
    * with exact cosine over `embeddings` (vec_id = doc_id: one
    * embedding per document) by reciprocal-rank fusion. THE
    * curation-retrieval shape a training-data pipeline runs for
    * decontamination sweeps and quality retrieval: lexical catches
    * literal term overlap, dense catches paraphrase, RRF needs no
    * score calibration between the two. Both pools are global top-50
    * heaps (TakeOrderedAndProject — per-partition heap + driver merge
    * of pool-sized rows, never a corpus sort), fusion work is
    * pool-bounded (see [[rrfFuse]]), so the whole operator adds TWO
    * bounded reductions over scans that are each already the proven
    * text_bm25 / sim_topk_cosine shape. Full recompute oracle
    * ([[simHybridRrfSql]]): pools, ranks, fused scores, and the final
    * cut are all replayed in SQL and hash-compared. */
  def simHybridRrf(s: SparkSession, dir: String): DataFrame =
    rrfFuse(
      TextQueries.bm25Top(s, dir, HYBRID_POOL)
        .select(col("doc_id"), col("bm25")),
      simTopkCosinePool(s, dir, HYBRID_POOL))

  /** The exact-cosine pool at a caller-chosen depth — simTopkCosine's
    * pipeline with vec_id surfaced as doc_id; the dense half of
    * [[simHybridRrf]]. */
  private[operators] def simTopkCosinePool(
      s: SparkSession, dir: String, k: Int): DataFrame = {
    val e = nonDegenerate(withNorm(embeddings(s, dir)))
    val q = e.filter(col("vec_id") === 0)
      .select(col("emb").as("qv"), col("nrm").as("qn"))
    e.join(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        round(arrayDot(col("emb"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .orderBy(col("sim").desc, col("doc_id"))
      .limit(k)
  }

  /** The RRF fusion tail shared by the two hybrid oracles — expects
    * CTEs `lexpool(doc_id, bm25)` and `denpool(doc_id, sim)` in
    * scope. Ranks are BIGINT in both engines (Spark casts
    * row_number to long); the 1.0/(K+rank) terms are IEEE double
    * divisions both engines perform identically. */
  private def rrfFuseSqlTail: String =
    s"""lexr AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY bm25 DESC, doc_id) AS lex_rank
       |  FROM lexpool),
       |denr AS (SELECT doc_id,
       |    row_number() OVER (ORDER BY sim DESC, doc_id) AS dense_rank
       |  FROM denpool)
       |SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
       |  l.lex_rank, d.dense_rank,
       |  round(COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + l.lex_rank),
       |      CAST(0.0 AS DOUBLE))
       |    + COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + d.dense_rank),
       |      CAST(0.0 AS DOUBLE)), 6) AS rrf
       |FROM lexr l FULL OUTER JOIN denr d ON l.doc_id = d.doc_id
       |ORDER BY rrf DESC, doc_id LIMIT $HYBRID_TOPK""".stripMargin

  /** sim_hybrid_rrf oracle: the lexical pool is [[TextQueries
    * .bm25PoolSqlCtes]] (textBm25Sql's exact CTEs at pool depth), the
    * dense pool is simTopkCosineSql's exact shape at pool depth, and
    * the fusion tail replays ranks + RRF arithmetic. */
  lazy val simHybridRrfSql: String =
    s"""WITH ${TextQueries.bm25PoolSqlCtes(HYBRID_POOL)},
       |nd AS (SELECT * FROM (
       |    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |      sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
       |        v -> v * v))) AS nrm
       |    FROM embeddings) t WHERE nrm > 0),
       |q AS (SELECT emb AS qv FROM nd WHERE vec_id = 0),
       |denpool AS (SELECT vec_id AS doc_id,
       |    round(list_cosine_similarity(emb, qv), 6) AS sim
       |  FROM nd, q
       |  ORDER BY sim DESC, vec_id LIMIT $HYBRID_POOL),
       |$rrfFuseSqlTail""".stripMargin

  /** sim_hybrid_serve — the SERVE-TIER form of [[simHybridRrf]]: the
    * lexical pool comes from the persisted inverted index and the
    * dense pool from the persisted IVF index, both through the leased
    * [[IndexServe]] facade (each pool read holds the serve lease, so
    * maintenance can never swap directories under a half-fused
    * query). At 100 TB this is the hybrid endpoint's actual request
    * path: nothing corpus-sized is scanned — the text side reads the
    * query's term buckets, the vector side the probed IVF lists, and
    * fusion is pool-bounded driver work. The dense pool is the IVF
    * APPROXIMATION (probed-list candidates, exact re-rank), so the
    * fused ranking can differ from sim_hybrid_rrf exactly where ANN
    * recall differs — the oracle models the probe, not the exact
    * scan ([[simHybridServeSql]]). */
  def simHybridServe(s: SparkSession, dir: String): DataFrame = {
    // indexes first (memoized one-per-JVM builds), THEN the two leased
    // pool reads run as two CONCURRENT jobs (guide §2.6: independent
    // actions submitted from separate driver threads back-fill each
    // other's stage tails) instead of strictly sequential scans
    val textRoot = TextQueries.buildTextIndex(s, dir)
    val vecRoot = buildVectorIndex(s, dir)
    val (lex, dense) = bothPools(s, {
      IndexServe.bm25TopK(s, textRoot, TextQueries.BM25_QUERY, HYBRID_POOL)
        .select(col("doc_id"), col("bm25")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }, {
      val qRows = withNorm(embeddings(s, dir))
        .filter(col("vec_id") === 0)
        .select(col("emb"), col("nrm")).collect()
      if (qRows.isEmpty) Seq.empty[(Long, Double)]
      else IndexServe.annTopK(s, vecRoot,
        qRows(0).getSeq[Double](0).toArray, qRows(0).getDouble(1),
        HYBRID_POOL)
        .select(col("vec_id").as("doc_id"), col("sim")).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    })
    // fusion is pool-bounded (≤ 2·HYBRID_POOL rows) driver work — the
    // mmrGreedy discipline; the distributed form's 2 global windows +
    // full-outer join + sort cost ~5 scheduled stages for ≤100 rows
    rrfFuseLocal(s, lex, dense)
  }

  /** Upper bound on a hybrid serve's two concurrent pool reads. */
  private val POOL_READ_TIMEOUT: FiniteDuration = 10.minutes

  /** Runs the two pool reads of a hybrid serve as concurrent jobs on a
    * per-call two-thread pool (its threads inherit the caller's Spark
    * job description) and waits at most [[POOL_READ_TIMEOUT]] for
    * both. Both reads are tagged, so a timeout cancels whatever is
    * still running; if either fails, the exception names every failed
    * read, the second attached as suppressed. */
  private[operators] def bothPools[A, B](s: SparkSession, lex: => A, dense: => B)
      : (A, B) = {
    val sc = s.sparkContext
    val tag = s"graft-hybrid-pools-${java.util.UUID.randomUUID}"
    val threads = new java.util.concurrent.atomic.AtomicInteger
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, s"graft-hybrid-pool-${threads.incrementAndGet}")
      t.setDaemon(true)
      t
    })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def tagged[T](read: => T): Future[T] = Future {
      sc.addJobTag(tag)
      try read finally sc.removeJobTag(tag)
    }
    try {
      val lexF = tagged(lex)
      val denseF = tagged(dense)
      val deadline = POOL_READ_TIMEOUT.fromNow
      // a failed (or timed-out) read cancels the other's jobs, so the
      // second wait ends promptly and the sibling never runs on alone
      def await[T](f: Future[T]): Try[T] = {
        val r = Try(Await.result(f, deadline.timeLeft max Duration.Zero))
        if (r.isFailure) sc.cancelJobsWithTag(tag)
        r
      }
      (await(lexF), await(denseF)) match {
        case (Success(l), Success(d)) => (l, d)
        case (l, d) =>
          val failed = Seq("lexical" -> l, "dense" -> d)
            .collect { case (name, Failure(e)) => name -> e }
          val err = new IllegalStateException(
            "hybrid pool read failed: " +
              failed.map { case (name, e) => s"$name: $e" }.mkString("; "),
            failed.head._2)
          failed.tail.foreach { case (_, e) => err.addSuppressed(e) }
          throw err
      }
    } finally pool.shutdownNow()
  }

  /** Driver-side [[rrfFuse]] over already-collected pools — identical
    * arithmetic (row_number ranks with (score desc, doc_id) order,
    * 1/(K+rank) fusion, Round's HALF_UP double path via [[round6]]),
    * identical output schema; sound because every input is a top-pool
    * frame bounded by HYBRID_POOL per system by construction. -0.0
    * normalizes to 0.0 before comparing (Spark's sort treats them
    * equal; java.lang.Double.compare does not). */
  private def rrfFuseLocal(s: SparkSession,
      lex: Seq[(Long, Double)], dense: Seq[(Long, Double)]): DataFrame = {
    val fused = rrfFuseRows(lex, dense)
      .sortBy { case (id, _, _, rrf) => (-rrf, id) }
      .take(HYBRID_TOPK)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("lex_rank",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("dense_rank",
        org.apache.spark.sql.types.LongType, nullable = true),
      org.apache.spark.sql.types.StructField("rrf",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(fused.map { case (id, l, d, rrf) =>
        org.apache.spark.sql.Row(id, l.map(Long.box).orNull,
          d.map(Long.box).orNull, rrf)
      }: _*)
    s.createDataFrame(rows, schema)
  }

  /** The shared rank+fuse kernel: returns every fused row (doc_id,
    * lex_rank, dense_rank, rrf) UNCUT, rrf already rounded. */
  private def rrfFuseRows(
      lex: Seq[(Long, Double)], dense: Seq[(Long, Double)])
      : Seq[(Long, Option[Long], Option[Long], Double)] = {
    def norm0(x: Double): Double = if (x == 0.0) 0.0 else x
    def ranks(pool: Seq[(Long, Double)]): Map[Long, Long] =
      pool.sortWith { case ((ida, sa), (idb, sb)) =>
        val c = java.lang.Double.compare(norm0(sb), norm0(sa))
        if (c != 0) c < 0 else ida < idb
      }.zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val lr = ranks(lex)
    val dr = ranks(dense)
    (lr.keySet ++ dr.keySet).toSeq.map { id =>
      val l = lr.get(id)
      val d = dr.get(id)
      val rrf = round6(
        l.map(r => 1.0 / (RRF_K + r)).getOrElse(0.0) +
          d.map(r => 1.0 / (RRF_K + r)).getOrElse(0.0))
      (id, l, d, rrf)
    }
  }

  /** 6-dp HALF_UP through BigDecimal's double path — exactly Spark's
    * Round on a DoubleType input (the [[mmrGreedy]] kernel's rule). */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** sim_hybrid_serve oracle: lexical pool = the scan-time BM25 CTEs
    * (index-served BM25 is hash-identical to the scan — the
    * text_bm25_indexed contract), dense pool = the IVF serve pipeline
    * ([[simAnnIvfIndexedSql]]'s build + nprb-width probe + exact
    * re-rank) cut at pool depth, fusion tail shared with
    * [[simHybridRrfSql]]. */
  lazy val simHybridServeSql: String =
    s"""WITH ${TextQueries.bm25PoolSqlCtes(HYBRID_POOL)},
       |$ivfBuildSqlCtes,
       |q AS (SELECT emb AS qv, nrm AS qn FROM nd WHERE vec_id = 0),
       |probes AS (SELECT c.cid
       |  FROM (SELECT qv AS emb, qn AS nrm FROM q) v, cents c
       |  WHERE c.cnrm > 0 AND v.nrm > 0
       |  ORDER BY $ivfDotSql / (v.nrm * c.cnrm) DESC, c.cid
       |  LIMIT (SELECT np FROM nprb)),
       |cand AS (SELECT DISTINCT vec_id FROM asg2 JOIN probes USING (cid)),
       |denpool AS (SELECT v.vec_id AS doc_id,
       |    round(list_reduce(list_prepend(0.0, list_transform(
       |        range(1, least(len(v.emb), len(q.qv)) + 1),
       |        i -> v.emb[i] * q.qv[i])), (a, x) -> a + x)
       |      / (v.nrm * q.qn), 6) AS sim
       |  FROM cand JOIN nd v USING (vec_id), q
       |  ORDER BY sim DESC, vec_id LIMIT $HYBRID_POOL),
       |$rrfFuseSqlTail""".stripMargin

  /** The hybrid batch pairing: BM25_BATCH's i-th term set rides with
    * ANN_BATCH_IDS' i-th query vector under one query_id. */
  private[operators] lazy val HYBRID_BATCH: Seq[(Int, Long)] =
    TextQueries.BM25_BATCH.map(_._1).zip(ANN_BATCH_IDS)

  /** sim_hybrid_serve_batch — the CONCURRENT-serve shape of
    * [[simHybridServe]]: a whole TABLE of paired (term set, query
    * vector) requests answered against BOTH persisted indexes in one
    * leased batch read each, then fused per query. Amortization is
    * inherited wholesale: the text side is one term-bucket-pruned
    * postings scan for the union of the batch's terms
    * ([[TextQueries.bm25ServeBatchFrom]]), the vector side one
    * assignments scan pruned to the union of all probed lists
    * ([[annServeBatchFrom]]), the two pool reads overlap as
    * concurrent jobs, and fusion is ≤ 2·pool rows per query of
    * driver work — adding a query adds broadcast rows and pool rows,
    * never scans. Full recompute oracle
    * ([[simHybridServeBatchSql]]); HybridRetrievalSpec pins per-query
    * hash parity with the single-query hybrid serve. */
  def simHybridServeBatch(s: SparkSession, dir: String): DataFrame =
    hybridBatchFrame(s, hybridServeBatchLocal(s, dir))

  /** The batch pools collected concurrently + fused driver-side; the
    * shared core of the batch qid and the decontamination sweep (which
    * needs only the fused doc ids, not a frame). Index builds run
    * first (memoized); the two leased pool reads then overlap as
    * independent jobs (guide §2.6), and fusion over ≤ |batch|·2·pool
    * collected rows is the mmrGreedy driver discipline — the
    * distributed form paid ~8 scheduled stages (3 partitioned windows
    * + a full-outer join) on ≤360 local rows. */
  private def hybridServeBatchLocal(s: SparkSession, dir: String)
      : Seq[(Int, Long, Option[Long], Option[Long], Double)] = {
    import s.implicits._
    val textRoot = TextQueries.buildTextIndex(s, dir)
    val vecRoot = buildVectorIndex(s, dir)
    val (lex, dense) = bothPools(s, {
      val terms = TextQueries.BM25_BATCH
        .flatMap { case (id, ts) => ts.distinct.map(id -> _) }
        .toDF("query_id", "term")
      IndexServe.bm25TopKBatch(s, textRoot, terms, HYBRID_POOL)
        .select(col("query_id"), col("doc_id"), col("bm25")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    }, {
      val vmap = HYBRID_BATCH.toDF("query_id", "vec_id")
      val qs = withNorm(embeddings(s, dir))
        .join(broadcast(vmap), Seq("vec_id"))
        .select(col("query_id"), col("emb").as("qv"), col("nrm").as("qn"))
      IndexServe.annTopKBatch(s, vecRoot, qs, HYBRID_POOL)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("sim"))
        .collect()
        // the ANN batch path routes query ids through driver-built
        // Long frames — pin to int here (the old rrfFuseBatch cast)
        .map(r => (r.getLong(0).toInt, r.getLong(1), r.getDouble(2))).toSeq
    })
    val qids = (lex.map(_._1) ++ dense.map(_._1)).distinct.sorted
    qids.flatMap { qid =>
      rrfFuseRows(
        lex.collect { case (q, id, v) if q == qid => (id, v) },
        dense.collect { case (q, id, v) if q == qid => (id, v) })
        .sortBy { case (id, _, _, rrf) => (-rrf, id) }
        .take(HYBRID_TOPK)
        .map { case (id, l, d, rrf) => (qid, id, l, d, rrf) }
    }
  }

  private def hybridBatchFrame(s: SparkSession,
      fused: Seq[(Int, Long, Option[Long], Option[Long], Double)])
      : DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("query_id", IntegerType, nullable = true),
      StructField("doc_id", LongType, nullable = true),
      StructField("lex_rank", LongType, nullable = true),
      StructField("dense_rank", LongType, nullable = true),
      StructField("rrf", DoubleType, nullable = true)))
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(fused.map { case (q, id, l, d, rrf) =>
        org.apache.spark.sql.Row(q, id, l.map(Long.box).orNull,
          d.map(Long.box).orNull, rrf)
      }: _*)
    s.createDataFrame(rows, schema)
  }

  /** sim_hybrid_serve_batch oracle: the per-query lexical pools are
    * textBm25ServeBatchSql's inner ranking cut at pool depth, the
    * per-query dense pools are simAnnServeBatchSql's probe pipeline
    * cut at pool depth, and the fusion replays ranks + RRF + the
    * per-query final cut. */
  lazy val simHybridServeBatchSql: String =
    s"""WITH $hybridServeBatchSqlCtes
       |SELECT query_id, doc_id, lex_rank, dense_rank, rrf
       |FROM hybridtop""".stripMargin

  /** The whole batch-hybrid pipeline as a CTE chain ending in
    * `hybridtop(query_id, doc_id, lex_rank, dense_rank, rrf)` — the
    * per-query fused top-[[HYBRID_TOPK]]. Shared by the qid's own
    * oracle and the retrieval-decontamination composition. */
  private lazy val hybridServeBatchSqlCtes: String = {
    val termVals = TextQueries.BM25_BATCH
      .flatMap { case (id, ts) => ts.distinct.map(t => s"($id, '$t')") }
      .mkString(", ")
    val pairVals = HYBRID_BATCH
      .map { case (q, v) => s"($q, $v)" }.mkString(", ")
    val bm25Expr =
      """round(sum(
        |      ln(1 + (n_docs - df + 0.5) / (df + 0.5))
        |        * tf * (1.2 + 1)
        |        / (tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / avgdl))
        |    ) + 1e-9, 4)""".stripMargin
    s"""queries(query_id, term) AS (VALUES $termVals),
       |pair(query_id, vec_id) AS (VALUES $pairVals),
       |dl AS (
       |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM dl),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |        FROM documents)
       |  WHERE term IN (SELECT term FROM queries)
       |  GROUP BY 1, 2),
       |dfreq AS (
       |  SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df
       |  FROM tf GROUP BY 1),
       |lexr AS (
       |  SELECT query_id, doc_id, rk AS lex_rank FROM (
       |    SELECT q.query_id, tf.doc_id,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY $bm25Expr DESC, tf.doc_id) AS rk
       |    FROM queries q JOIN tf USING (term) JOIN dfreq USING (term)
       |    JOIN dl USING (doc_id) CROSS JOIN stats
       |    GROUP BY q.query_id, tf.doc_id, dl.dl, n_docs, avgdl) t
       |  WHERE rk <= $HYBRID_POOL),
       |$ivfBuildSqlCtes,
       |qs AS (SELECT p.query_id, n.emb AS qv, n.nrm AS qn
       |  FROM pair p JOIN nd n USING (vec_id)),
       |probes AS (SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_reduce(list_prepend(0.0, list_transform(
       |            range(1, least(len(q.qv), len(c.cemb)) + 1),
       |            i -> c.cemb[i] * q.qv[i])), (a, x) -> a + x)
       |          / (q.qn * c.cnrm) DESC, c.cid) AS rn
       |    FROM qs q, cents c WHERE c.cnrm > 0 AND q.qn > 0) t
       |  WHERE rn <= (SELECT np FROM nprb)),
       |cand AS (SELECT DISTINCT p.query_id, a.vec_id
       |  FROM probes p JOIN asg2 a USING (cid)),
       |scored AS (SELECT c.query_id, c.vec_id,
       |    round(list_reduce(list_prepend(0.0, list_transform(
       |        range(1, least(len(v.emb), len(q.qv)) + 1),
       |        i -> v.emb[i] * q.qv[i])), (a, x) -> a + x)
       |      / (v.nrm * q.qn), 6) AS sim
       |  FROM cand c JOIN nd v USING (vec_id)
       |    JOIN qs q ON q.query_id = c.query_id),
       |denr AS (
       |  SELECT query_id, vec_id AS doc_id, rk AS dense_rank FROM (
       |    SELECT query_id, vec_id, sim,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY sim DESC, vec_id) AS rk
       |    FROM scored) t
       |  WHERE rk <= $HYBRID_POOL),
       |fused AS (
       |  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
       |    COALESCE(l.doc_id, d.doc_id) AS doc_id,
       |    l.lex_rank, d.dense_rank,
       |    round(COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + l.lex_rank),
       |        CAST(0.0 AS DOUBLE))
       |      + COALESCE(CAST(1.0 AS DOUBLE) / ($RRF_K + d.dense_rank),
       |        CAST(0.0 AS DOUBLE)), 6) AS rrf
       |  FROM lexr l FULL OUTER JOIN denr d
       |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
       |hybridtop AS (
       |  SELECT query_id, doc_id, lex_rank, dense_rank, rrf FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |        ORDER BY rrf DESC, doc_id) AS frk
       |    FROM fused) t WHERE frk <= $HYBRID_TOPK)""".stripMargin
  }

  /** pipeline_decontaminate_retrieval — retrieval-driven
    * decontamination: treat the hybrid batch's six paired queries as
    * benchmark probes, flag every document the fused rankings surface
    * (the union of the per-query top-[[HYBRID_TOPK]]), and report the
    * per-source contamination ledger (n_docs / n_flagged / n_clean).
    * The retrieval-side complement of dedup_decontaminate's n-gram
    * overlap sweep: n-grams catch verbatim leakage, hybrid retrieval
    * catches the paraphrased-but-retrievable kind a benchmark answer
    * key leaks through. Scale shape: the flagged set is bounded by
    * |batch|·k (≤120 rows — broadcast), so the sweep is one
    * broadcast left-join over the corpus + a per-source aggregate;
    * the retrieval itself is the index-shaped batch serve. Whole
    * chain oracled ([[pipelineDecontaminateRetrievalSql]]) — the
    * hybrid CTEs composed with the flag join, like
    * pipeline_clean_corpus's whole-chain pattern. */
  def pipelineDecontaminateRetrieval(
      s: SparkSession, dir: String): DataFrame = {
    // the fused union is already driver-resident (≤ |batch|·topk ids)
    // — flag by a row-local InSet predicate instead of re-framing it
    // for a broadcast join: the ledger is ONE corpus aggregate pass
    // (guide §7.2: reuse the serve's scored pools, no re-join)
    val ids = hybridServeBatchLocal(s, dir).map(_._2).distinct
    val flag =
      if (ids.isEmpty) lit(0L)
      else when(col("doc_id").isin(ids.map(Long.box): _*), lit(1L))
        .otherwise(lit(0L))
    documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(flag).as("n_flagged"))
      .withColumn("n_clean", col("n_docs") - col("n_flagged"))
  }

  /** Whole-chain oracle: the batch-hybrid CTEs + the distinct flagged
    * set + the per-source ledger. */
  lazy val pipelineDecontaminateRetrievalSql: String =
    s"""WITH $hybridServeBatchSqlCtes,
       |flagged AS (SELECT DISTINCT doc_id FROM hybridtop)
       |SELECT d.source,
       |  count(*) AS n_docs,
       |  CAST(sum(CASE WHEN f.doc_id IS NULL THEN 0 ELSE 1 END)
       |    AS BIGINT) AS n_flagged,
       |  count(*) - CAST(sum(CASE WHEN f.doc_id IS NULL THEN 0 ELSE 1
       |    END) AS BIGINT) AS n_clean
       |FROM documents d LEFT JOIN flagged f USING (doc_id)
       |GROUP BY d.source""".stripMargin

  private val MMR_K = 10
  private val MMR_LAMBDA = 0.7

  /** sim_mmr_rerank — maximal-marginal-relevance diversification of
    * the dense top-[[HYBRID_POOL]] pool into [[MMR_K]] results:
    * greedily pick argmax λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)
    * (λ=0.7, ties → doc_id asc). THE diversity primitive a curation
    * pipeline runs over any retrieval pool before sampling exemplars
    * — near-duplicate pool members can't crowd the output, because
    * after one is picked its twins' marginal scores collapse.
    *
    * Scale shape: the DISTRIBUTED part is the proven top-k pool scan
    * (TakeOrderedAndProject over the corpus); the greedy loop then
    * runs driver-side over the collected pool — bounded by the pool
    * CONSTANT (50 rows, ≤ pool² = 2,500 pairwise dots), the same
    * driver-read class as the ≤33 MB IVF quantizer, and independent
    * of corpus size by construction. Pairwise sims reuse the exact
    * Spark kernel semantics (l2r dot fold / norm product, 6-dp
    * HALF_UP round) so the whole selection is a full recompute
    * oracle ([[simMmrRerankSql]]: the pool, the 50×50 pair table,
    * and the greedy recursion replayed as a state-as-one-row
    * recursive CTE, the [[embKmeansSql]] idiom). */
  def simMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val e = nonDegenerate(withNorm(embeddings(s, dir)))
    val q = e.filter(col("vec_id") === 0)
      .select(col("emb").as("qv"), col("nrm").as("qn"))
    val pool = e.join(broadcast(q))
      .select(col("vec_id").as("doc_id"), col("emb"), col("nrm"),
        round(arrayDot(col("emb"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("qsim"))
      .orderBy(col("qsim").desc, col("doc_id"))
      .limit(HYBRID_POOL)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        r.getDouble(2), r.getDouble(3)))
    mmrGreedy(s, pool)
  }

  /** The shared pool-bounded MMR greedy — selection over an already
    * collected (doc_id, emb, nrm, qsim) pool; both the scan-pool and
    * serve-pool forms route here so the two can never drift. */
  private[operators] def mmrGreedy(s: SparkSession,
      pool: Array[(Long, Array[Double], Double, Double)]): DataFrame = {
    import s.implicits._
    // 6-dp HALF_UP — Round's own double path, so the driver kernel
    // and the distributed expression can never disagree
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pairSim(a: (Long, Array[Double], Double, Double),
        b: (Long, Array[Double], Double, Double)): Double = {
      val lim = math.min(a._2.length, b._2.length)
      var dot = 0.0
      var i = 0
      while (i < lim) { dot += a._2(i) * b._2(i); i += 1 }
      r6(dot / (a._3 * b._3))
    }
    val byId = pool.map(p => p._1 -> p).toMap
    val picked = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double)] // (doc_id, raw mmr at selection time)
    val remaining = scala.collection.mutable.LinkedHashMap
      .from(pool.map(p => p._1 -> p))
    while (picked.length < MMR_K && remaining.nonEmpty) {
      var bestId = Long.MaxValue
      var bestMmr = Double.NegativeInfinity
      remaining.valuesIterator.foreach { p =>
        // max over the picked set — which may be NEGATIVE; 0.0 only
        // stands in for the empty set (the oracle's COALESCE(mx, 0))
        var mx = Double.NegativeInfinity
        picked.foreach { case (pid, _) =>
          val s2 = pairSim(p, byId(pid))
          if (s2 > mx) mx = s2
        }
        if (picked.isEmpty) mx = 0.0
        val mmr = MMR_LAMBDA * p._4 - (1 - MMR_LAMBDA) * mx
        if (mmr > bestMmr || (mmr == bestMmr && p._1 < bestId)) {
          bestMmr = mmr; bestId = p._1
        }
      }
      picked += ((bestId, bestMmr))
      remaining.remove(bestId)
    }
    picked.zipWithIndex.map { case ((id, mmr), i) =>
      ((i + 1).toLong, id, r6(mmr))
    }.toSeq.toDF("rank", "doc_id", "mmr")
  }

  /** The probed-list candidate pool WITH vectors — [[annServeFrom]]
    * keeping (emb, nrm) so a diversification pass can score pairwise
    * sims without touching the corpus: the vectors ride the
    * assignments read the serve already pays for. */
  private[operators] def annServePoolFrom(
      s: SparkSession, root: String,
      qv: Array[Double], qn: Double, topK: Int): DataFrame = {
    import s.implicits._
    val cArr = quantizerOf(s, root)
    val probeCids = topCentroids(cArr, ivfNProbe(cArr.length), qv, qn)
    val q = Seq((qv.toSeq, qn)).toDF("qv", "qn")
    val probed = s.read.schema(AssignSchema).parquet(s"$root/assignments")
      .filter(col("cid").isin(probeCids.map(Long.box): _*))
    IndexDeletes.readDeletes(s, root, "vec_id")
      .fold(probed)(d =>
        probed.join(broadcast(d), Seq("vec_id"), "left_anti"))
      .dropDuplicates("vec_id")
      .join(broadcast(q))
      .select(col("vec_id").as("doc_id"), col("emb"), col("nrm"),
        round(arrayDot(col("emb"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("qsim"))
      .orderBy(col("qsim").desc, col("doc_id"))
      .limit(topK)
  }

  /** sim_mmr_serve — MMR diversification DIRECTLY off the persisted
    * IVF index: the pool is the probed-list top-[[HYBRID_POOL]] with
    * its vectors riding the assignments read (the corpus is never
    * touched), collected under the serve lease through
    * [[IndexServe.annMmrTopK]], then the same pool-bounded greedy as
    * [[simMmrRerank]]. The serve-tier diversified-ANN endpoint a
    * curation request hits at 100 TB. Oracle ([[simMmrServeSql]]):
    * the IVF build + nprb-width probe CTEs feed the same pair-table
    * + greedy recursion as the scan form. */
  def simMmrServe(s: SparkSession, dir: String): DataFrame = {
    val root = buildVectorIndex(s, dir)
    val qRows = withNorm(embeddings(s, dir))
      .filter(col("vec_id") === 0)
      .select(col("emb"), col("nrm")).collect()
    if (qRows.isEmpty) return mmrGreedy(s, Array.empty)
    IndexServe.annMmrTopK(s, root,
      qRows(0).getSeq[Double](0).toArray, qRows(0).getDouble(1))
  }

  /** sim_mmr_serve oracle: IVF build CTEs + the serve-width probe +
    * pool-with-vectors re-rank, then the identical pair-table and
    * greedy recursion as [[simMmrRerankSql]]. */
  lazy val simMmrServeSql: String =
    s"""WITH RECURSIVE $ivfBuildSqlCtes,
       |q AS (SELECT emb AS qv, nrm AS qn FROM nd WHERE vec_id = 0),
       |probes AS (SELECT c.cid
       |  FROM (SELECT qv AS emb, qn AS nrm FROM q) v, cents c
       |  WHERE c.cnrm > 0 AND v.nrm > 0
       |  ORDER BY $ivfDotSql / (v.nrm * c.cnrm) DESC, c.cid
       |  LIMIT (SELECT np FROM nprb)),
       |cand AS (SELECT DISTINCT vec_id FROM asg2 JOIN probes USING (cid)),
       |pool AS (SELECT v.vec_id AS doc_id, v.emb, v.nrm,
       |    round(list_reduce(list_prepend(0.0, list_transform(
       |        range(1, least(len(v.emb), len(q.qv)) + 1),
       |        i -> v.emb[i] * q.qv[i])), (a, x) -> a + x)
       |      / (v.nrm * q.qn), 6) AS qsim
       |  FROM cand JOIN nd v USING (vec_id), q
       |  ORDER BY qsim DESC, v.vec_id LIMIT $HYBRID_POOL),
       |$mmrGreedySqlTail""".stripMargin

  /** sim_mmr_rerank oracle: pool + 50×50 pair table + the greedy
    * selection replayed as one-row-state recursion — min(struct)
    * argmax (negated mmr, then doc_id) exactly like the engine's
    * comparator. */
  lazy val simMmrRerankSql: String =
    s"""WITH RECURSIVE
       |nd AS (SELECT * FROM (
       |    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |      sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
       |        v -> v * v))) AS nrm
       |    FROM embeddings) t WHERE nrm > 0),
       |q AS (SELECT emb AS qv FROM nd WHERE vec_id = 0),
       |pool AS (SELECT vec_id AS doc_id, emb, nrm,
       |    round(list_cosine_similarity(emb, qv), 6) AS qsim
       |  FROM nd, q
       |  ORDER BY qsim DESC, vec_id LIMIT $HYBRID_POOL),
       |$mmrGreedySqlTail""".stripMargin

  /** The MMR greedy recursion as a composable CTE tail — expects a
    * `pool(doc_id, emb, nrm, qsim)` CTE in scope; both MMR oracles
    * end here so the replayed selection rule is literally shared. */
  private lazy val mmrGreedySqlTail: String =
    s"""pair AS (SELECT a.doc_id AS ad, b.doc_id AS bd,
       |    round(list_cosine_similarity(a.emb, b.emb), 6) AS s
       |  FROM pool a, pool b WHERE a.doc_id <> b.doc_id),
       |st(step, picked, scores) AS (
       |  SELECT 0, CAST([] AS BIGINT[]), CAST([] AS DOUBLE[])
       |  UNION ALL
       |  SELECT step + 1,
       |    list_append(picked, (b).did),
       |    list_append(scores, -((b).nm))
       |  FROM (
       |    SELECT any_value(t.step) AS step,
       |      any_value(t.picked) AS picked,
       |      any_value(t.scores) AS scores,
       |      min(struct_pack(
       |        nm := -(CAST($MMR_LAMBDA AS DOUBLE) * t.qsim
       |          - CAST(${1 - MMR_LAMBDA} AS DOUBLE)
       |            * COALESCE(t.mx, 0.0)),
       |        did := t.did)) AS b
       |    FROM (
       |      SELECT s.step AS step, p.doc_id AS did, p.qsim AS qsim,
       |        any_value(s.picked) AS picked,
       |        any_value(s.scores) AS scores,
       |        max(CASE WHEN list_contains(s.picked, pr.bd)
       |          THEN pr.s END) AS mx
       |      FROM st s
       |      JOIN pool p ON NOT list_contains(s.picked, p.doc_id)
       |      LEFT JOIN pair pr ON pr.ad = p.doc_id
       |      WHERE s.step < $MMR_K
       |      GROUP BY s.step, p.doc_id, p.qsim
       |    ) t GROUP BY t.step
       |  ) z
       |),
       |fin AS (SELECT picked, scores FROM st ORDER BY step DESC LIMIT 1)
       |SELECT unnest(range(1, len(picked) + 1)) AS rank,
       |  unnest(picked) AS doc_id,
       |  round(unnest(scores), 6) AS mmr
       |FROM fin""".stripMargin

  /** sim_pairwise_threshold — all pairs above cosine 0.4 within label
    * blocks. The OUTPUT is oracle-fixed and inherently quadratic in
    * duplicate multiplicity (every copy-pair is a real answer row),
    * but the COMPUTE is not: identical vectors are collapsed per
    * (label, content) first, each distinct pair is scored ONCE, and
    * the scored pairs expand back to member pairs by two narrow
    * joins — numerically exact (identical arrays give identical
    * rounded sims; an intra-class pair is cos(x,x) = 1.0), so the
    * hash-checked result is unchanged while the dot products shrink
    * from |block|² to |distinct|². The verbatim-100× sf10 probe went
    * 286 s → the expansion cost of its own (unavoidable) 100×-larger
    * output. NaN guard: zero-norm rows excluded up front (NaN >= 0.4
    * is TRUE under Spark's NaN-greatest ordering). */
  def simPairwiseThreshold(s: SparkSession, dir: String): DataFrame = {
    val e = nonDegenerate(withNorm(embeddings(s, dir)))
    val keyed = e.select(col("label"), col("vec_id"), col("emb"),
      col("nrm"), xxhash64(col("emb")).as("ck1"),
      hash(col("emb")).as("ck2"))
    val reps = keyed.groupBy(col("label"), col("ck1"), col("ck2"))
      .agg(min(col("vec_id")).as("rid"), first(col("emb")).as("emb"),
        first(col("nrm")).as("nrm"), count(lit(1)).as("csize"))
    val ra = reps.select(col("label"), col("ck1").as("ka1"),
      col("ck2").as("ka2"), col("rid").as("ra"),
      col("emb").as("ea"), col("nrm").as("na"))
    val rb = reps.select(col("label"), col("ck1").as("kb1"),
      col("ck2").as("kb2"), col("rid").as("rb"),
      col("emb").as("eb"), col("nrm").as("nb"))
    // each distinct unordered pair scored once, then mirrored so the
    // member expansion covers both id orientations
    val scored = ra.join(rb, Seq("label"))
      .filter(col("ra") < col("rb"))
      .withColumn("sim",
        round(arrayDot(col("ea"), col("eb")) / (col("na") * col("nb")), 4))
      .filter(col("sim") >= 0.4)
      .select(col("label"), col("ka1"), col("ka2"),
        col("kb1"), col("kb2"), col("sim"))
    val sym = scored.unionByName(
      scored.select(col("label"), col("kb1").as("ka1"),
        col("kb2").as("ka2"), col("ka1").as("kb1"),
        col("ka2").as("kb2"), col("sim")))
    // intra-class pairs exist whenever a class holds >1 member. The
    // sim is COMPUTED with the same expression as every other pair,
    // not hard-coded 1.0: for finite vectors the two agree, but a
    // degenerate embedding (overflowing norms, NaN elements) slips
    // past the nrm > 0 guard under Spark's NaN-greatest ordering,
    // and the pre-collapse operator emitted its NaN sim — bit-parity
    // means reproducing that, not editorializing it away
    val self = reps.filter(col("csize") > 1)
      .select(col("label"), col("ck1").as("ka1"), col("ck2").as("ka2"),
        col("ck1").as("kb1"), col("ck2").as("kb2"),
        round(arrayDot(col("emb"), col("emb")) / (col("nrm") * col("nrm")),
          4).as("sim"))
      .filter(col("sim") >= 0.4)
    val ma = keyed.select(col("label"), col("ck1").as("ka1"),
      col("ck2").as("ka2"), col("vec_id").as("a"))
    val mb = keyed.select(col("label"), col("ck1").as("kb1"),
      col("ck2").as("kb2"), col("vec_id").as("b"))
    sym.unionByName(self)
      .join(ma, Seq("label", "ka1", "ka2"))
      .join(mb, Seq("label", "kb1", "kb2"))
      .filter(col("a") < col("b"))
      .select(col("label"), col("a"), col("b"), col("sim"))
  }

  val simPairwiseThresholdSql: String =
    """WITH nd AS (SELECT * FROM embeddings
      |  WHERE sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |    v -> v*v))) > 0)
      |SELECT x.label AS label, x.vec_id AS a, y.vec_id AS b,
      |  round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
      |    CAST(y.embedding AS DOUBLE[])), 4) AS sim
      |FROM nd x JOIN nd y
      |  ON x.label = y.label AND x.vec_id < y.vec_id
      |WHERE round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
      |    CAST(y.embedding AS DOUBLE[])), 4) >= 0.4""".stripMargin

  private val SIG_BITS = 64
  private val N_BANDS = 8 // 8-bit bands: 256 buckets/band, not 16
  /** Skew guard: a (band, bh) bucket keeps at most this many members
    * (deterministic first-by-vec_id). Degenerate corpora (millions of
    * identical/zero vectors hashing to one bucket) otherwise make the
    * band self-join quadratic — the same stop-gram discipline as
    * text_containment's maxDf cap. Identical-vector floods are exact
    * dedup's job, not LSH's. */
  private val BUCKET_CAP = 512

  /** Neighbors per vector in the k-NN graph (sim_knn_join). Declared
    * here, before the oracle SQL vals that embed it — object-init
    * order would otherwise fold an uninitialized 0 into the SQL. */
  private val KNN_K = 3

  /** graph_pagerank constants — declared before the SQL vals that
    * embed them (object-init order, same as [[KNN_K]]). PR_SCALE is
    * the total rank mass in fixed-point units (1 = 10⁻¹² of the
    * corpus's rank); PR_ITERS fixed rounds at damping 85/100. All
    * arithmetic is integer floor division so partial aggregation is
    * associative and both engines agree bit-for-bit. */
  private[operators] val PR_ITERS = 10
  private[operators] val PR_SCALE = 1000000000000L

  /** Same floor as dedup_near_embedding (which rounds at scale 4 vs
    * the graph's scale 6 — a pair within 5e-5 of the floor can differ
    * between the two operators by design). Guarantees >0 rows on the
    * synthetic corpus while still meaning "near-duplicate meaning".
    * Declared before the SQL vals that embed it (init order). */
  private val SEM_T = 0.45

  /** sim_ann_lsh — approximate top-10 for the vec_id=0 query via
    * random-hyperplane LSH: 64-bit one-pass signature, 8 bands × 8
    * bits, multi-probe (each band hash plus its 8 single-bit flips)
    * on the broadcast query side. Candidates share a probed bucket
    * with the query; exact cosine re-rank on candidates only. Wide
    * bands bound candidate volume to the probed buckets' population
    * (capped); multi-probe restores recall. Oracle: the signature,
    * probe, and re-rank pipeline recomputed in SQL ([[simAnnLshSql]])
    * — bitwise, not tolerance-based; recall vs brute force stays
    * property-tested. */
  def simAnnLsh(s: SparkSession, dir: String): DataFrame = {
    val e = nonDegenerate(withNorm(embeddings(s, dir)))
      .withColumn("sig", HyperplaneSig.hyperplaneSig(col("emb"), SIG_BITS))
    val bands = e.select(col("vec_id"), col("emb"), col("nrm"),
      explode(VectorFunctions.sigBands(col("sig"), SIG_BITS, N_BANDS)).as("bb"))
      .select(col("vec_id"), col("emb"), col("nrm"),
        col("bb.band").as("band"), col("bb.bh").as("bh"))
    // query probes its own buckets plus Hamming-1 neighbors: 72 keys,
    // trivially broadcast
    val qProbes = e.filter(col("vec_id") === 0)
      .select(col("emb").as("qv"), col("nrm").as("qn"),
        explode(VectorFunctions.sigBandProbes(col("sig"), SIG_BITS, N_BANDS))
          .as("bb"))
      .select(col("bb.band").as("band"), col("bb.bh").as("bh"),
        col("qv"), col("qn"))
    // Score before the dedup exchange (guide §2.3): bucket-mate
    // duplicates carry identical (emb, qv) and score identically, so
    // the exchange moves 16-byte (vec_id, sim) rows, not embeddings.
    bands.join(broadcast(qProbes), Seq("band", "bh"))
      .select(col("vec_id"),
        round(arrayDot(col("emb"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .dropDuplicates("vec_id")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Shared CTE fragments recomputing [[HyperplaneSigExpr]]'s
    * signature in DuckDB, so the LSH qids get full recompute oracles
    * instead of rows-only checks. The ±1 hyperplane table comes from
    * the same splitmix64 stream (seed 42, key `seed ^ (b<<32) ^ d`,
    * low bit ⇒ negative component) via the HUGEINT mix used by the
    * minhash oracle; the per-(vector, bit) projection is the SAME
    * left-to-right double fold the codegen loop runs — `list_reduce`
    * folds in index order, so the sum is bitwise identical and the
    * sign bit cannot drift even when the fold rounds. Band hashes
    * are rebuilt from individual bits (bit `8j+i` ⇒ bh bit `i` of
    * band `j`), sidestepping sign-extension on the packed long.
    * Expects a CTE `re` with (vec_id, emb DOUBLE[]); emits
    * `bands` (vec_id, band, bh, rn) with rn = the per-(band, bh)
    * vec_id rank [[SkewUtils.capPerKeyWithOverflow]] caps on. The
    * hyperplane table covers dims 0..127 (fixture dim is 64); a
    * larger embedding fails loudly via error() instead of folding a
    * silently-positive missing component. */
  private def sigBandsSqlCtes: String = {
    val bandBits = SIG_BITS / N_BANDS
    val mixed = DedupQueries.mix64Sql(
      "xor(xor(42::HUGEINT, b * 4294967296::HUGEINT), d::HUGEINT)")
    s"""bdneg AS (SELECT b, d, CAST($mixed % 2::HUGEINT AS INT) AS neg
       |  FROM range(0,$SIG_BITS) t1(b), range(0,128) t2(d)),
       |sgn AS (SELECT b,
       |    list(CASE WHEN neg = 1 THEN -1.0 ELSE 1.0 END ORDER BY d) AS sg
       |  FROM bdneg GROUP BY b),
       |bits AS (SELECT vec_id, b, CASE
       |    WHEN len(emb) > 128 THEN
       |      CAST(error('embedding dim > 128: extend bdneg range') AS INT)
       |    WHEN list_reduce(list_prepend(0.0,
       |        list_transform(range(1, len(emb)+1),
       |          i -> CASE WHEN sg[i] < 0 THEN -emb[i] ELSE emb[i] END)),
       |      (a, v) -> a + v) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM re, sgn),
       |bands AS (SELECT vec_id, CAST(b // $bandBits AS INT) AS band,
       |    CAST(sum(bit * (1 << (b % $bandBits))) AS BIGINT) AS bh,
       |    row_number() OVER (PARTITION BY CAST(b // $bandBits AS INT),
       |      CAST(sum(bit * (1 << (b % $bandBits))) AS BIGINT)
       |      ORDER BY vec_id) AS rn
       |  FROM bits GROUP BY vec_id, b // $bandBits)""".stripMargin
  }

  /** sim_ann_lsh oracle: recompute signatures (see
    * [[sigBandsSqlCtes]]), the query's 72 multi-probe keys (each
    * band hash plus its single-bit flips), the probed-bucket
    * candidate set, and the exact cosine re-rank —
    * `list_cosine_similarity` is the same left-to-right fold as the
    * codegen dot, so the rounded sims are bit-identical (the
    * sim_topk_cosine oracle proves that pairing). No bucket cap on
    * this path (the engine joins the raw bands against the broadcast
    * probe side), so rn is unused. */
  val simAnnLshSql: String = {
    val bandBits = SIG_BITS / N_BANDS
    s"""WITH nd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings
       |  WHERE sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
       |    v -> v*v))) > 0),
       |re AS (SELECT vec_id, emb FROM nd),
       |$sigBandsSqlCtes,
       |qb AS (SELECT band, bh FROM bands WHERE vec_id = 0),
       |probes AS (
       |  SELECT band, bh FROM qb
       |  UNION
       |  SELECT band, xor(bh, CAST(1 << i AS BIGINT)) AS bh
       |  FROM qb, range(0,$bandBits) t(i)),
       |cand AS (SELECT DISTINCT bs.vec_id
       |  FROM bands bs JOIN probes p ON bs.band = p.band AND bs.bh = p.bh),
       |q AS (SELECT emb AS qv FROM nd WHERE vec_id = 0)
       |SELECT nd.vec_id,
       |  round(list_cosine_similarity(nd.emb, q.qv), 6) AS sim
       |FROM cand JOIN nd USING (vec_id), q
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin
  }

  /** CTE chain through `scored`, shared by every oracle that rides
    * the collapsed-and-capped LSH candidate pipeline
    * (dedup_near_embedding at verify scale 4; sim_knn_join /
    * dedup_semantic at graph scale 6): exact collapse (GROUP BY the
    * array itself; the engine groups on a 96-bit content hash,
    * identical modulo that collision bound), rep-only signatures,
    * the per-(band, bh) vec_id-ranked cap with rank-minus-cap
    * overflow chaining (bitwise the
    * [[SkewUtils.capPerKeyWithOverflow]] topology — rn is
    * deterministic because the order key is the unique vec_id),
    * Hamming-≤1 probes from the capped rows, and the exact-cosine
    * score of each candidate pair. */
  private def lshScoredSqlCtes(scale: Int): String = {
    val bandBits = SIG_BITS / N_BANDS
    val masks = (0L +: (0 until bandBits).map(1L << _))
      .mkString("[", ",", "]")
    s"""nd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
       |  FROM embeddings
       |  WHERE sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
       |    v -> v*v))) > 0),
       |reps AS (SELECT emb, min(vec_id) AS rep FROM nd GROUP BY emb),
       |stars AS (SELECT r.rep AS a, n.vec_id AS b
       |  FROM nd n JOIN reps r ON n.emb = r.emb WHERE n.vec_id <> r.rep),
       |re AS (SELECT rep AS vec_id, emb FROM reps),
       |$sigBandsSqlCtes,
       |capped AS (SELECT vec_id, band, bh FROM bands WHERE rn <= $BUCKET_CAP),
       |ovf AS (SELECT a2.vec_id AS a, b2.vec_id AS b
       |  FROM (SELECT band, bh, rn - $BUCKET_CAP AS arn, vec_id
       |        FROM bands WHERE rn > $BUCKET_CAP) b2
       |  JOIN (SELECT band, bh, rn AS arn, vec_id FROM bands) a2
       |    USING (band, bh, arn)),
       |probes AS (SELECT vec_id, band, xor(bh, m) AS bh
       |  FROM capped, (SELECT unnest($masks::BIGINT[]) AS m)),
       |cand AS (
       |  SELECT DISTINCT a, b FROM (
       |    SELECT p.vec_id AS a, c.vec_id AS b FROM probes p
       |      JOIN capped c ON p.band = c.band AND p.bh = c.bh
       |    WHERE p.vec_id < c.vec_id
       |    UNION ALL SELECT a, b FROM ovf)),
       |scored AS (SELECT a, b,
       |    round(list_cosine_similarity(ea.emb, eb.emb), $scale) AS sim
       |  FROM cand JOIN re ea ON cand.a = ea.vec_id
       |    JOIN re eb ON cand.b = eb.vec_id)""".stripMargin
  }

  /** dedup_near_embedding oracle: [[lshScoredSqlCtes]] at verify
    * scale 4, the ≥ 0.45 verify, and the rep→member sim=1.0 star
    * edges. */
  val dedupNearEmbeddingSql: String =
    s"""WITH ${lshScoredSqlCtes(4)}
       |SELECT a, b, sim FROM scored WHERE sim >= 0.45
       |UNION ALL SELECT a, b, 1.0 AS sim FROM stars""".stripMargin

  /** CTE chain through `knn` — the full [[simKnnJoinFrom]] recompute:
    * scored pairs mirrored to both directions, row_number per vector
    * ordered (sim desc, b), top KNN_K, plus the star edges in both
    * directions at sim 1.0 / rk 0. */
  private def knnSqlCtes: String =
    s"""${lshScoredSqlCtes(6)},
       |sym AS (SELECT a, b, sim FROM scored
       |  UNION ALL SELECT b AS a, a AS b, sim FROM scored),
       |ranked AS (SELECT a, b, sim,
       |    row_number() OVER (PARTITION BY a ORDER BY sim DESC, b) AS rk
       |  FROM sym),
       |knn AS (SELECT a, b, sim, CAST(rk AS INT) AS rk
       |    FROM ranked WHERE rk <= $KNN_K
       |  UNION ALL SELECT a, b, 1.0 AS sim, 0 AS rk FROM stars
       |  UNION ALL SELECT b AS a, a AS b, 1.0 AS sim, 0 AS rk
       |    FROM stars)""".stripMargin

  /** sim_knn_join oracle — the graph itself. */
  val simKnnJoinSql: String =
    s"WITH $knnSqlCtes\nSELECT a, b, sim, rk FROM knn"

  /** graph_pagerank oracle — the same distinct-edge topology the
    * engine iterates ([[knnSqlCtes]] → `uedges`), reduced to
    * index-space adjacency lists (incoming sources per node,
    * out-degree per node), then the [[PR_ITERS]] fixed-point rounds
    * replayed as a state-as-one-row recursive CTE (the
    * [[embKmeansSql]] idiom: DuckDB's recursive term may reference
    * the working table once, so the whole rank vector rides in a
    * single LIST and the per-node update is a nested
    * `list_transform`). Every operation is BIGINT floor arithmetic —
    * `//` here, `DIV` in Spark, both exact on non-negative operands
    * — so the hash compare is bit-exact, not tolerance-based. Nodes
    * with no incoming edges keep base mass only; `dg` is padded with
    * 1 for nodes that never appear as an edge source (the pad is
    * unreachable — `inc[v]` only lists sources that HAVE out-edges —
    * it just keeps the list total). */
  val graphPagerankSql: String =
    s"""WITH RECURSIVE $knnSqlCtes,
       |uedges AS (SELECT DISTINCT a, b FROM knn),
       |pidx AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS i
       |  FROM nd),
       |pie AS (SELECT bi.i AS tv, ai.i AS sv
       |  FROM uedges e JOIN pidx ai ON e.a = ai.vec_id
       |  JOIN pidx bi ON e.b = bi.vec_id),
       |pincl AS (SELECT x.i, COALESCE(g.l, []) AS l FROM pidx x
       |  LEFT JOIN (SELECT tv, list(sv ORDER BY sv) AS l FROM pie
       |    GROUP BY tv) g ON g.tv = x.i),
       |pdgl AS (SELECT x.i, COALESCE(d.dg, 1) AS dg FROM pidx x
       |  LEFT JOIN (SELECT sv, count(*) AS dg FROM pie GROUP BY sv) d
       |    ON d.sv = x.i),
       |ptopo AS (SELECT (SELECT count(*) FROM pidx) AS n,
       |  (SELECT list(l ORDER BY i) FROM pincl) AS inc,
       |  (SELECT list(dg ORDER BY i) FROM pdgl) AS dg),
       |prst(it, rs) AS (
       |  SELECT 0, (SELECT list_transform(range(1, n + 1),
       |      v -> $PR_SCALE // n) FROM ptopo)
       |  UNION ALL
       |  SELECT p.it + 1, list_transform(range(1, t.n + 1),
       |      v -> ($PR_SCALE * 15 // 100 // t.n) +
       |        COALESCE(list_sum(list_transform(t.inc[v],
       |          u -> (85 * p.rs[u]) // (100 * t.dg[u]))), 0))
       |  FROM prst p, ptopo t WHERE p.it < $PR_ITERS),
       |pfin AS (SELECT rs FROM prst ORDER BY it DESC LIMIT 1)
       |SELECT x.vec_id, pfin.rs[x.i] AS rank_fp
       |FROM pidx x, pfin""".stripMargin

  /** dedup_semantic oracle: knn edges ≥ SEM_T normalized to
    * undirected (least/greatest, distinct), then min-label connected
    * components by the same recursive-reachability CTE the
    * dedup_cluster_cc oracle uses (cluster = min reachable id,
    * keeper = the min itself). */
  val dedupSemanticSql: String =
    s"""WITH RECURSIVE $knnSqlCtes,
       |sedges AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
       |  FROM knn WHERE sim >= $SEM_T),
       |edges AS (SELECT a AS x, b AS y FROM sedges
       |  UNION SELECT b AS x, a AS y FROM sedges),
       |reach(x, r) AS (
       |  SELECT x, x AS r FROM (SELECT DISTINCT x FROM edges) n
       |  UNION
       |  SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.x)
       |SELECT x AS vec_id, min(r) AS cluster_id,
       |  CAST(x = min(r) AS INT) AS is_keeper
       |FROM reach GROUP BY x""".stripMargin

  /** dedup_near_embedding — embedding-cosine near-dup candidates via
    * LSH bucketing: 64-bit hyperplane signature, 8 bands × 8 bits,
    * multi-probe on one join side (Hamming-≤1 within a band), exact
    * cosine ≥ 0.45 on candidates only. At 100 TB this is the dedup
    * pass for embedding-indexed corpora: the exact band buckets are
    * capped per (band, bh) by ONE window, and the Hamming-≤1 probe
    * rows are derived from the already-capped rows by flipping band
    * bits — so a probed bucket receives rows from at most bandBits+1
    * capped source buckets and candidate volume is bounded by
    * Σ_buckets (bandBits+1)·BUCKET_CAP × BUCKET_CAP — never an
    * all-pairs product, constant (not linear) in the size of an
    * identical-vector flood, and without a second window shuffle over
    * the 9× probe fan-out. Identical vectors never reach the buckets
    * at all — they collapse to one representative first (see
    * [[dedupNearEmbeddingFrom]]) — so the cap is a safety net for
    * DISTINCT near-identical vectors agreeing on a band, not the
    * verbatim-copy flood that used to saturate it. Oracle: the whole
    * pipeline — collapse, capped banding, overflow chains, probes,
    * verify, star edges — recomputed in SQL
    * ([[dedupNearEmbeddingSql]]); the bucket cap and flood bound are
    * additionally asserted by SimilarityBoundsSpec. */
  def dedupNearEmbedding(s: SparkSession, dir: String): DataFrame =
    dedupNearEmbeddingFrom(withNorm(embeddings(s, dir)))

  /** Candidate-pair stage of dedup_near_embedding, exposed so the
    * skew-bound test can count candidates on a degenerate fixture
    * without paying the exact-cosine verify. Expects (vec_id, emb). */
  private[graft] def nearEmbeddingCandidates(e: DataFrame): DataFrame = {
    val bandBits = SIG_BITS / N_BANDS
    val sigs = e.select(col("vec_id"),
      HyperplaneSig.hyperplaneSig(col("emb"), SIG_BITS).as("sig"))
    // exact band buckets, capped per (band, bh) — the only window.
    // Members past the cap are not dropped: each chains rank-minus-
    // cap as one extra candidate (capPerKeyWithOverflow), decided by
    // the caller's exact-cosine verify like any other pair — a flood
    // of DISTINCT near-identical vectors (the shape the exact
    // collapse cannot merge) stays candidate-connected through the
    // chain, splitting only where a link fails the verify (the
    // tightly-jittered motivating shape verifies at cos ~ 1,
    // spec-pinned), and the rank-minus-cap topology keeps every
    // node's chain degree <= 2 so no anchor's downstream window or
    // verify partition grows with flood size.
    val (bands, overflow) = SkewUtils.capPerKeyWithOverflow(
      sigs.select(col("vec_id"),
        explode(VectorFunctions.sigBands(col("sig"), SIG_BITS, N_BANDS))
          .as("bb"))
        .select(col("vec_id"), col("bb.band").as("band"),
          col("bb.bh").as("bh")),
      Seq("band", "bh"), "vec_id", BUCKET_CAP)
    // Hamming-≤1 probes derived from the capped rows by flipping band
    // bits in-map: a probed bucket receives rows from ≤ bandBits+1
    // capped source buckets (population ≤ (bandBits+1)·BUCKET_CAP),
    // so the 9× fan-out needs no shuffle of its own before the join
    val masks = typedLit(0L +: (0 until bandBits).map(i => 1L << i))
    val probes = bands.select(col("vec_id"), col("band"),
      explode(transform(masks, m => col("bh").bitwiseXOR(m))).as("bh"))
    probes.select(col("band"), col("bh"), col("vec_id").as("a"))
      .join(bands.select(col("band"), col("bh"), col("vec_id").as("b")),
        Seq("band", "bh"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"))
      .unionByName(overflow)
      .dropDuplicates("a", "b")
  }

  /** Exact-cosine scoring of candidate pairs: each side's (emb, nrm)
    * joined once, the codegen dot once per pair — shared by
    * dedup_near_embedding (scale 4, oracle-era rounding) and the
    * k-NN graph (scale 6). Callers must pre-filter zero norms. */
  private def scorePairs(
      e: DataFrame, pairs: DataFrame, scale: Int): DataFrame =
    pairs
      .join(e.select(col("vec_id").as("a"), col("emb").as("ea"),
        col("nrm").as("na")), Seq("a"))
      .join(e.select(col("vec_id").as("b"), col("emb").as("eb"),
        col("nrm").as("nb")), Seq("b"))
      .withColumn("sim",
        round(arrayDot(col("ea"), col("eb")) / (col("na") * col("nb")),
          scale))
      .select(col("a"), col("b"), col("sim"))

  /** Zero-norm vectors have no cosine direction, and a NaN sim would
    * both outrank every real neighbor (Spark orders NaN above all
    * doubles) and pass a >= threshold — exclude them up front.
    * emb_stats counts them for the corpus owner. */
  private def nonDegenerate(e: DataFrame): DataFrame =
    e.filter(col("nrm") > 0)

  /** DataFrame-level core of dedup_near_embedding so fixtures (e.g. a
    * skewed identical-vector flood) can drive it directly. Expects
    * columns (vec_id, emb, nrm).
    *
    * Identical vectors are collapsed to one representative (min
    * vec_id, grouped on the raw array) BEFORE the LSH stage — the
    * text twin of DedupQueries.exactCollapse: verbatim copies share
    * every band, so a copy-heavy corpus floods band buckets straight
    * to BUCKET_CAP and members past it silently lose their pairs.
    * Post-collapse the buckets hold distinct vectors only; copy-class
    * members re-enter as sim=1.0 star edges to their representative
    * (linear, same connected components as the old intra-class
    * cliques). */
  /** Exact-content collapse for the vector near-dup/knn paths — the
    * embedding twin of DedupQueries.exactCollapse. Collapse key: two
    * independent hashes over the raw array (96+ bits, the same
    * accept-2⁻⁹⁶-collisions standard the hashed shingle sets live
    * by) in exchange for shuffling two longs per row instead of
    * grouping/joining on the array itself. The representative
    * CARRIES its array out of the aggregate (first() is safe: arrays
    * in a key-group are identical modulo that collision bound), and
    * partial aggregation collapses a verbatim flood map-side before
    * it ever shuffles. Returns (reps as (vec_id, emb, nrm), the
    * rep→member star-edge pairs as (a, b)). ONE definition — both
    * consumers must agree on what "identical vector" means. */
  private def collapseIdenticalVectors(e1: DataFrame)
      : (DataFrame, DataFrame) = {
    val keyed = e1.select(col("vec_id"), col("emb"), col("nrm"),
      xxhash64(col("emb")).as("ck1"), hash(col("emb")).as("ck2"))
    val reps = keyed.groupBy(col("ck1"), col("ck2"))
      .agg(min(col("vec_id")).as("vec_id"),
        first(col("emb")).as("emb"), first(col("nrm")).as("nrm"))
    val stars = keyed.select(col("ck1"), col("ck2"), col("vec_id"))
      .join(reps.select(col("ck1"), col("ck2"), col("vec_id").as("a")),
        Seq("ck1", "ck2"))
      .filter(col("vec_id") =!= col("a"))
      .select(col("a"), col("vec_id").as("b"))
    (reps.select(col("vec_id"), col("emb"), col("nrm")), stars)
  }

  /** The checkpointing variant for the k-NN GRAPH build, whose plan
    * references the collapse reps three times (band sigs + both score
    * joins) and the stars twice (the mirrored union): without the
    * checkpoints the collapse subtree re-executed per reference
    * (guide §7.2; ~3 s of the build's stage time at sf0.1). Returns
    * the release hook the build MUST call once its output is
    * materialized — checkpoint blocks are invisible to
    * Dataset.unpersist and otherwise linger until a driver GC
    * (KnnCacheSpec counts them). dedup_near_embedding keeps the lazy
    * form (single-use consumers; materialization measured neutral). */
  private def collapseIdenticalVectorsMaterialized(e1: DataFrame)
      : (DataFrame, DataFrame, () => Unit) = {
    val keyed = e1.select(col("vec_id"), col("emb"), col("nrm"),
      xxhash64(col("emb")).as("ck1"), hash(col("emb")).as("ck2"))
    val reps = keyed.groupBy(col("ck1"), col("ck2"))
      .agg(min(col("vec_id")).as("vec_id"),
        first(col("emb")).as("emb"), first(col("nrm")).as("nrm"))
      .localCheckpoint(false)
    val stars = keyed.select(col("ck1"), col("ck2"), col("vec_id"))
      .join(reps.select(col("ck1"), col("ck2"), col("vec_id").as("a")),
        Seq("ck1", "ck2"))
      .filter(col("vec_id") =!= col("a"))
      .select(col("a"), col("vec_id").as("b"))
      .localCheckpoint(false)
    (reps.select(col("vec_id"), col("emb"), col("nrm")), stars, () => {
      org.apache.spark.sql.graftbridge.GraftExpr
        .releaseLocalCheckpoint(reps)
      org.apache.spark.sql.graftbridge.GraftExpr
        .releaseLocalCheckpoint(stars)
    })
  }

  private[graft] def dedupNearEmbeddingFrom(e0: DataFrame): DataFrame = {
    val (e, stars) = collapseIdenticalVectors(nonDegenerate(e0))
    scorePairs(e, nearEmbeddingCandidates(e), 4)
      .filter(col("sim") >= 0.45)
      .unionByName(stars.withColumn("sim", lit(1.0)))
  }

  /** Coarse-quantizer size: k = ⌈√n⌉, hard-capped so the broadcast
    * stays bounded no matter the corpus (65,536 × 64-dim doubles ≈
    * 33 MB). √n balances list length (n/k) against probe cost (k). */
  private[operators] def ivfK(n: Long): Int =
    math.min(math.max(4, math.ceil(math.sqrt(n.toDouble)).toLong), 65536L).toInt

  /** Deterministic bounded centroid sample: the k vectors with the
    * smallest hash — a TakeOrderedAndProject (per-partition heaps of
    * size k), so the driver and the broadcast hold exactly
    * min(k, n) rows regardless of corpus size. */
  private[operators] def ivfCentroids(e: DataFrame, k: Int): DataFrame =
    e.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("emb").as("cemb"),
        col("nrm").as("cnrm"))

  /** Probe width: a fixed share of the lists (k/2, floor 4) capped at
    * 64 so probe cost flattens once k saturates. One-round-Lloyd
    * centroids are weak k-means — on an unclustered corpus recall
    * tracks the probed share of data (measured curve in SCALE.md "IVF
    * recall"): k/4 gave mean recall@10 ≈ 0.84-0.86 across the
    * fixtures, k/2 gives 0.96-0.98 with min ≥ 0.9 at sf0.1 — so small
    * corpora probe half their lists while at full k=65,536 the cap
    * keeps the probe at 64 lists ≈ 0.1% of vectors, where recall
    * rides the real cluster structure the refinement captures. */
  private[operators] def ivfNProbe(k: Int): Int =
    math.min(64, math.max(4, math.ceil(k / 2.0).toInt))

  /** Vectors index into this many of their nearest lists (soft
    * assignment). 2× index size buys recall hash-sampled centroids
    * can't: a vector on a Voronoi boundary is findable from both
    * sides. */
  private[operators] val IVF_ASSIGN = 2

  /** One distributed Lloyd refinement of the sampled quantizer: each
    * vector is assigned to its nearest sampled centroid map-side
    * (broadcast kernel, no shuffle of assignments), then the
    * element-wise cluster means come out of a two-phase hash agg over
    * posexploded (cid, dim, value) — the explode is map-side-only and
    * partial aggregation bounds the SHUFFLE to ≤ partitions × k × d
    * partial sums, independent of corpus size. Turns the hash sample
    * into real k-means(1) centroids: lists follow the data's actual
    * cluster structure instead of arbitrary sample points. Empty
    * lists drop out (count can only shrink below k).
    *
    * DETERMINISTIC (round 13): the one order-dependent step in
    * distributed Lloyd is the float mean, so the mean is computed on
    * a 2²⁴ fixed-point grid — per-(cid, dim) sums of ve =
    * floor(v·2²⁴ + 0.5), exact and associative by construction
    * (carried as decimal(38,0): overflow-proof at any corpus size;
    * the grid ≈ 6e-8 per-element quantization is far below the
    * corpus noise any ANN list layout rides on). New element =
    * (sv/n)/2²⁴ in double, norms as driver-side l2r folds — every
    * remaining op is an explicitly sequenced IEEE op a DuckDB oracle
    * performs identically, which is what promotes the whole IVF
    * build→probe→serve pipeline AND emb_kmeans to full recompute
    * oracles ([[simAnnIvfSql]], [[embKmeansSql]]). Centroids return
    * sorted by cid (scan order never matters — topCentroids'
    * insertion rule is order-free — but a deterministic array is one
    * less thing to reason about). */
  private[operators] def refineCentroids(
      s: SparkSession, e: DataFrame,
      cArr: Array[(Long, Array[Double], Double)])
      : Array[(Long, Array[Double], Double)] = {
    if (cArr.isEmpty) return cArr
    val cBc = s.sparkContext.broadcast(cArr)
    val near1 = udf { (emb: Seq[Double], nrm: Double) =>
      val a = topCentroids(cBc.value, 1, emb, nrm)
      if (a.isEmpty) -1L else a(0)
    }
    val assigned = e.withColumn("cid", near1(col("emb"), col("nrm")))
      .filter(col("cid") >= 0)
    // Wide-aggregate fast path (guide §2.3: aggregate before you
    // shuffle / never explode what a fixed set of sum expressions can
    // fold): instead of posexploding n×d (cid, idx, v) rows through a
    // k·d-group hash agg, fold the d per-dimension decimal sums AND
    // the d presence counts as 2d aggregate expressions over the
    // un-exploded rows — k output rows, identical exact integers
    // (decimal addition is associative+commutative; the per-element
    // floor terms are unchanged), d× fewer rows into the shuffle.
    // dGuess comes from the broadcast centroids; a corpus row LONGER
    // than every centroid (possible under ragged input — the init
    // sample may miss the longest row) is detected by the max(size)
    // column and falls back to the explode form, so the wide path is
    // never wrong, only skipped. Very wide embeddings (d > 256) keep
    // the explode form too: 2d codegen accumulators stop paying there.
    val dGuess = cArr.iterator.map(_._2.length).max
    val wide: Option[Array[Row]] =
      if (dGuess > 0 && dGuess <= WIDE_AGG_MAX_D) {
        // try_element_at, not element_at: under Spark 4's default ANSI
        // mode element_at THROWS on an out-of-bounds index, so a ragged
        // row shorter than dGuess would crash the aggregate before the
        // dmax fallback could run; try_element_at yields NULL there and
        // sum skips NULLs — the n$j presence counts supply the divisor
        val aggCols = (0 until dGuess).flatMap { j =>
          Seq(
            sum(floor(try_element_at(col("emb"), lit(j + 1)) * lit(KMEANS_GRID)
              + lit(0.5)).cast("decimal(38,0)")).as(s"s$j"),
            count(when(size(col("emb")) > j, 1)).as(s"n$j"))
        } :+ max(size(col("emb"))).as("dmax")
        val rows = assigned.groupBy(col("cid"))
          .agg(aggCols.head, aggCols.tail: _*)
          .collect()
        if (rows.exists(r => !r.isNullAt(2 * dGuess + 1)
            && r.getInt(2 * dGuess + 1) > dGuess)) None
        else Some(rows)
      } else None
    wide match {
      case Some(rows) =>
        rows.map { r =>
          val cid = r.getLong(0)
          val emb = (0 until dGuess).iterator
            .map(j => (r.getLong(2 + 2 * j), r.getDecimal(1 + 2 * j)))
            .filter(_._1 > 0L)
            .map { case (n, sv) => (sv.doubleValue / n.toDouble) / KMEANS_GRID }
            .toArray
          var ss = 0.0
          var i = 0
          while (i < emb.length) { ss += emb(i) * emb(i); i += 1 }
          (cid, emb, math.sqrt(ss))
        }.sortBy(_._1)
      case None =>
        val sums = assigned
          .select(col("cid"), posexplode(col("emb")))
          .toDF("cid", "idx", "v")
          .withColumn("ve",
            floor(col("v") * lit(KMEANS_GRID) + lit(0.5)).cast("decimal(38,0)"))
          .groupBy(col("cid"), col("idx"))
          .agg(sum(col("ve")).as("sv"), count(lit(1)).as("n"))
          .collect()
        sums.groupBy(_.getLong(0)).toArray.map { case (cid, rows) =>
          val byIdx = rows
            .map(r => (r.getInt(1), r.getDecimal(2), r.getLong(3)))
            .sortBy(_._1)
          val emb = byIdx.map { case (_, sv, n) =>
            (sv.doubleValue / n.toDouble) / KMEANS_GRID
          }
          var ss = 0.0
          var i = 0
          while (i < emb.length) { ss += emb(i) * emb(i); i += 1 }
          (cid, emb, math.sqrt(ss))
        }.sortBy(_._1)
    }
  }

  /** Dimension bound for the wide-aggregate (2d-expression) forms of
    * the iterative numeric kernels; past it the explode forms win.
    * Measured on the sf0.1 bench (iterative kernels re-plan every
    * round, so per-expression analysis cost is paid per iteration):
    * d=8 PQ-subspace refines sped up ~15% wide, while d=64 corpus
    * kernels slowed ~30-50% (64-130 expression trees per round beat
    * the explode's fixed 2-column plan; the explode's shuffle is
    * already bounded map-side to partitions×k×d partial rows, so the
    * wide form buys no asymptotic safety — it's a constant-factor
    * trade that only pays at small d). */
  private[operators] val WIDE_AGG_MAX_D = 16

  /** Top-`a` centroid ids for one vector by (cosine desc, cid asc) —
    * shared by the executor-side assignment kernel and the
    * driver-side query probe. O(k·d) per call; only an a-slot
    * insertion buffer allocated. */
  private[operators] def topCentroids(
      cents: Array[(Long, Array[Double], Double)], a: Int,
      emb: Seq[Double], nrm: Double): Array[Long] = {
    if (emb == null || nrm == 0.0 || cents.isEmpty) return Array.empty[Long]
    val simTop = Array.fill(a)(Double.NegativeInfinity)
    val cidTop = Array.fill(a)(Long.MaxValue)
    val ev = emb.toArray
    var i = 0
    while (i < cents.length) {
      val cid = cents(i)._1
      val ce = cents(i)._2
      val cn = cents(i)._3
      var dot = 0.0
      var j = 0
      val lim = math.min(ev.length, ce.length)
      while (j < lim) { dot += ce(j) * ev(j); j += 1 }
      val sim = if (cn == 0.0) Double.NegativeInfinity else dot / (nrm * cn)
      var ins = -1
      var p = 0
      while (p < a && ins < 0) {
        if (sim > simTop(p) || (sim == simTop(p) && cid < cidTop(p))) ins = p
        p += 1
      }
      if (ins >= 0) {
        var q = a - 1
        while (q > ins) {
          simTop(q) = simTop(q - 1); cidTop(q) = cidTop(q - 1); q -= 1
        }
        simTop(ins) = sim; cidTop(ins) = cid
      }
      i += 1
    }
    cidTop.zip(simTop).collect {
      case (c, s) if s > Double.NegativeInfinity => c
    }
  }

  /** sim_ann_ivf — IVF-style ANN: a deterministic centroid sample
    * (coarse quantizer, ≤65,536 rows ≈ 33 MB — ivfK enforces the
    * bound) is collected once and closed over by a UDF kernel that
    * assigns every vector to its IVF_ASSIGN nearest lists. The n×k
    * distance matrix never materializes as rows and assignment needs
    * NO shuffle — the broadcast-join + groupBy alternative shuffles
    * n×k rows, a 65,536× explosion at full k. The query's ivfNProbe(k)
    * list ids become an isin literal evaluated map-side; exact cosine
    * re-ranks only probed-list members. The one-scan count() for n
    * and the one-row query collect are driver scalars, same
    * discipline as text_tfidf. The sampled quantizer is refined by
    * ONE distributed Lloyd step (refineCentroids — real k-means(1)
    * with a bounded, EXACT-arithmetic shuffle) before use. The whole
    * pipeline is deterministic as of round 13, so the qid carries a
    * full recompute oracle ([[simAnnIvfSql]]); recall vs brute force
    * stays asserted by ScaleUtilsSpec and the ivfK/ivfNProbe/
    * refinement bounds by SimilarityBoundsSpec. */
  def simAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val e = withNorm(embeddings(s, dir))
    val q = e.filter(col("vec_id") === 0)
      .select(col("emb").as("qv"), col("nrm").as("qn"))
    val qRows = q.collect()
    if (qRows.isEmpty)
      // no query vector ⇒ empty result, not a driver crash — and no
      // centroid collect/broadcast paid for nothing
      return e.select(col("vec_id"), lit(0.0).as("sim")).limit(0)
    val qRow = qRows(0)
    val k = ivfK(e.count())
    val cArr0 = ivfCentroids(e, k).collect().map { r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
    }
    val cArr = refineCentroids(s, e, cArr0)
    // a real Broadcast, not closure capture: at full k the quantizer
    // is ~33 MB — shipped once per executor instead of inside every
    // serialized task
    val cBc = s.sparkContext.broadcast(cArr)
    val assignUdf = udf { (emb: Seq[Double], nrm: Double) =>
      topCentroids(cBc.value, IVF_ASSIGN, emb, nrm)
    }
    val probeCids = topCentroids(cArr, ivfNProbe(k),
      qRow.getSeq[Double](0), qRow.getDouble(1))
    // Score before the dedup exchange (guide §2.3): a vector in two
    // probed lists scores identically both times, so the exchange
    // moves (vec_id, sim) rows instead of embedding payloads.
    e.withColumn("cid", explode(assignUdf(col("emb"), col("nrm"))))
      .filter(col("cid").isin(probeCids.map(Long.box): _*))
      .join(broadcast(q))
      .select(col("vec_id"),
        round(arrayDot(col("emb"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .dropDuplicates("vec_id")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** Spark's xxhash64 of one BIGINT (seed 42) recomputed in DuckDB
    * HUGEINT — the XXH64 single-8-byte-block path: one k1 round, the
    * length fold, and the avalanche, each 64×64 multiply split hi/lo
    * so the product stays mod-2⁶⁴ exact (the same mulmod scheme as
    * DedupQueries.mix64Sql). Validated bit-for-bit against
    * org.apache.spark.sql.functions.xxhash64 across sign/magnitude
    * edge cases. `x` must already be a HUGEINT in [0, 2⁶⁴). */
  private[operators] def xxhash64Sql(x: String): String = {
    val M = "18446744073709551616::HUGEINT"
    def mulmod(y: String, c: BigInt): String = {
      val hi = c >> 32
      val lo = c & 0xFFFFFFFFL
      s"((($y * $lo::HUGEINT) + ((($y * $hi::HUGEINT) % " +
        s"4294967296::HUGEINT) * 4294967296::HUGEINT)) % $M)"
    }
    def rotl(y: String, r: Int): String =
      s"((($y * ${BigInt(1) << r}::HUGEINT) % $M) + ($y >> ${64 - r}))"
    val P1 = BigInt("9E3779B185EBCA87", 16)
    val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
    val P3 = BigInt("165667B19E3779F9", 16)
    val P4 = BigInt("85EBCA77C2B2AE63", 16)
    val P5 = BigInt("27D4EB2F165667C5", 16)
    val k1 = mulmod(rotl(mulmod(x, P2), 31), P1)
    val h0 = s"(xor((${P5 + 42 + 8}::HUGEINT), $k1))"
    val h1 = s"((${mulmod(rotl(h0, 27), P1)} + $P4::HUGEINT) % $M)"
    val h2 = s"(xor($h1, $h1 >> 33))"
    val h3 = mulmod(h2, P2)
    val h4 = s"(xor($h3, $h3 >> 29))"
    val h5 = mulmod(h4, P3)
    s"(xor($h5, $h5 >> 32))"
  }

  /** Shared CTE prefix replaying the deterministic IVF build in
    * DuckDB — nd (l2r-fold norms), the ⌈√n⌉-capped k, the xxhash64
    * init sample (the same ordering [[ivfCentroids]] runs), ONE
    * exact-grid Lloyd step (argmax assignment via min(struct) over
    * the l2r dot fold = [[topCentroids]]' insertion rule;
    * per-(cid, dim) integer sums = [[refineCentroids]]' decimal
    * sums), the refined-list-count nprobe (`nprb`, what the
    * persisted-index serve path uses), and the IVF_ASSIGN=2
    * fan-out (`asg2`). Every downstream IVF oracle builds on
    * `cents`/`asg2`. */
  /** Spark `ORDER BY xxhash64(<col>)` replayed as a signed-comparable
    * HUGEINT expression (shared with the PQ sample oracle). */
  private[operators] def signedXxhash64Sql(colName: String): String = {
    val h = xxhash64Sql(
      s"(CASE WHEN $colName < 0 THEN $colName::HUGEINT + " +
        s"18446744073709551616::HUGEINT ELSE $colName::HUGEINT END)")
    s"($h - CASE WHEN $h >= 9223372036854775808::HUGEINT " +
      "THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)"
  }

  private[operators] def ivfBuildSqlCtes: String = {
    val signed = signedXxhash64Sql("vec_id")
    s"""nd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    sqrt(list_reduce(list_prepend(0.0,
       |      list_transform(CAST(embedding AS DOUBLE[]), v -> v * v)),
       |      (a, x) -> a + x)) AS nrm
       |  FROM embeddings),
       |par AS (SELECT
       |    CAST(least(greatest(4, ceil(sqrt(count(*)))), 65536) AS INT)
       |      AS k
       |  FROM nd),
       |init AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm
       |  FROM nd ORDER BY $signed, vec_id LIMIT (SELECT k FROM par)),
       |asg1 AS (SELECT v.vec_id, v.emb,
       |    min(struct_pack(ns := -($ivfDotSql / (v.nrm * c.cnrm)),
       |      cid := c.cid)) AS b
       |  FROM (SELECT * FROM nd WHERE nrm > 0) v, init c
       |  WHERE c.cnrm > 0
       |  GROUP BY v.vec_id, v.emb, v.nrm),
       |sums AS (SELECT (b).cid AS cid,
       |    unnest(range(1, len(emb) + 1)) AS idx,
       |    CAST(floor(unnest(emb) * 16777216.0 + 0.5) AS BIGINT) AS ve
       |  FROM asg1),
       |cents AS (SELECT cid, list(el ORDER BY idx) AS cemb,
       |    sqrt(list_reduce(list_prepend(0.0,
       |      list(el * el ORDER BY idx)), (a, x) -> a + x)) AS cnrm
       |  FROM (SELECT cid, idx,
       |      (CAST(sum(ve) AS DOUBLE) / CAST(count(*) AS DOUBLE))
       |        / 16777216.0 AS el
       |    FROM sums GROUP BY cid, idx) GROUP BY cid),
       |nprb AS (SELECT CAST(least(64, greatest(4, ceil(count(*) / 2.0)))
       |    AS INT) AS np FROM cents),
       |asg2 AS (SELECT vec_id, cid FROM (
       |    SELECT v.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY $ivfDotSql / (v.nrm * c.cnrm) DESC, c.cid) AS rn
       |    FROM (SELECT * FROM nd WHERE nrm > 0) v, cents c
       |    WHERE c.cnrm > 0) WHERE rn <= $IVF_ASSIGN)""".stripMargin
  }

  /** The l2r dot fold between a vector CTE row `v.emb` and a centroid
    * row `c.cemb` — bit-identical to the [[topCentroids]] kernel loop
    * (same clamp, same product order, same left fold). */
  private[operators] val ivfDotSql: String =
    "list_reduce(list_prepend(0.0, list_transform(" +
      "range(1, least(len(v.emb), len(c.cemb)) + 1), " +
      "i -> c.cemb[i] * v.emb[i])), (a, x) -> a + x)"

  /** sim_ann_ivf oracle: the one-shot path — probe width ivfNProbe(k)
    * from the TRAINING cap k (the refined quantizer can only be
    * smaller), candidates from the IVF_ASSIGN fan-out ∩ probed lists,
    * exact-cosine re-rank at 6 dp. A full recompute: the engine's
    * sample, Lloyd step, probe, and re-rank are all replayed, so this
    * is hash-equality on the served rows, not a tolerance check. */
  lazy val simAnnIvfSql: String =
    s"""WITH $ivfBuildSqlCtes,
       |kprb AS (SELECT CAST(least(64, greatest(4, ceil(k / 2.0)))
       |    AS INT) AS np FROM par),
       |q AS (SELECT emb AS qv, nrm AS qn FROM nd WHERE vec_id = 0),
       |probes AS (SELECT c.cid
       |  FROM (SELECT qv AS emb, qn AS nrm FROM q) v, cents c
       |  WHERE c.cnrm > 0 AND v.nrm > 0
       |  ORDER BY $ivfDotSql / (v.nrm * c.cnrm) DESC, c.cid
       |  LIMIT (SELECT np FROM kprb)),
       |cand AS (SELECT DISTINCT vec_id FROM asg2 JOIN probes USING (cid))
       |SELECT v.vec_id,
       |  round(list_reduce(list_prepend(0.0, list_transform(
       |      range(1, least(len(v.emb), len(q.qv)) + 1),
       |      i -> v.emb[i] * q.qv[i])), (a, x) -> a + x)
       |    / (v.nrm * q.qn), 6) AS sim
       |FROM cand JOIN nd v USING (vec_id), q
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** sim_ann_ivf_indexed oracle: identical pipeline, except the probe
    * width comes from the REFINED list count (`nprb`) — what
    * [[annServeFrom]] computes from the persisted quantizer it
    * reopened (ivfNProbe(cArr.length)), vs the one-shot path's
    * training-cap k. The two coincide unless the Lloyd step dropped
    * lists. This makes the qid an end-to-end oracle of build +
    * persist + reopen + serve. */
  lazy val simAnnIvfIndexedSql: String =
    s"""WITH $ivfBuildSqlCtes,
       |q AS (SELECT emb AS qv, nrm AS qn FROM nd WHERE vec_id = 0),
       |probes AS (SELECT c.cid
       |  FROM (SELECT qv AS emb, qn AS nrm FROM q) v, cents c
       |  WHERE c.cnrm > 0 AND v.nrm > 0
       |  ORDER BY $ivfDotSql / (v.nrm * c.cnrm) DESC, c.cid
       |  LIMIT (SELECT np FROM nprb)),
       |cand AS (SELECT DISTINCT vec_id FROM asg2 JOIN probes USING (cid))
       |SELECT v.vec_id,
       |  round(list_reduce(list_prepend(0.0, list_transform(
       |      range(1, least(len(v.emb), len(q.qv)) + 1),
       |      i -> v.emb[i] * q.qv[i])), (a, x) -> a + x)
       |    / (v.nrm * q.qn), 6) AS sim
       |FROM cand JOIN nd v USING (vec_id), q
       |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin

  /** sim_ann_serve_batch oracle: the batch serve replayed per query —
    * per-query probes at the serve-path width (`nprb`), the probed
    * candidate union, 6-dp re-rank, strict top-10 per query
    * (row_number ordered sim DESC, vec_id — the TopKPerGroup order
    * key). */
  lazy val simAnnServeBatchSql: String = {
    val ids = ANN_BATCH_IDS.mkString(", ")
    s"""WITH $ivfBuildSqlCtes,
       |qs AS (SELECT vec_id AS query_id, emb AS qv, nrm AS qn
       |  FROM nd WHERE vec_id IN ($ids)),
       |probes AS (SELECT query_id, cid FROM (
       |    SELECT q.query_id, c.cid,
       |      row_number() OVER (PARTITION BY q.query_id
       |        ORDER BY list_reduce(list_prepend(0.0, list_transform(
       |            range(1, least(len(q.qv), len(c.cemb)) + 1),
       |            i -> c.cemb[i] * q.qv[i])), (a, x) -> a + x)
       |          / (q.qn * c.cnrm) DESC, c.cid) AS rn
       |    FROM qs q, cents c WHERE c.cnrm > 0 AND q.qn > 0)
       |  WHERE rn <= (SELECT np FROM nprb)),
       |cand AS (SELECT DISTINCT p.query_id, a.vec_id
       |  FROM probes p JOIN asg2 a USING (cid)),
       |scored AS (SELECT c.query_id, c.vec_id,
       |    round(list_reduce(list_prepend(0.0, list_transform(
       |        range(1, least(len(v.emb), len(q.qv)) + 1),
       |        i -> v.emb[i] * q.qv[i])), (a, x) -> a + x)
       |      / (v.nrm * q.qn), 6) AS sim
       |  FROM cand c JOIN nd v USING (vec_id)
       |    JOIN qs q ON q.query_id = c.query_id)
       |SELECT query_id, vec_id, sim FROM (
       |  SELECT query_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY sim DESC, vec_id) AS rk
       |  FROM scored) WHERE rk <= 10""".stripMargin
  }

  /** sim_ann_ivf_audit oracle: occupancy of the deterministic
    * IVF_ASSIGN fan-out over the refined lists — previously
    * "occupancies ride the float-order-sensitive Lloyd refinement ⇒
    * rows-only"; with the exact-grid refinement the full maintenance
    * signal (skew, imbalance, rebuild_due) is recomputable. */
  lazy val simAnnIvfAuditSql: String =
    s"""WITH $ivfBuildSqlCtes,
       |occ AS (SELECT cid, count(*) AS n FROM asg2 GROUP BY cid)
       |SELECT (SELECT count(*) FROM cents) AS n_lists,
       |  count(*) AS n_lists_used,
       |  CAST(sum(n) AS BIGINT) AS n_assignments,
       |  max(n) AS max_list,
       |  round(avg(n) + 1e-9, 2) AS avg_list,
       |  round(max(n) / avg(n) + 1e-9, 2) AS imbalance,
       |  (round(max(n) / avg(n) + 1e-9, 2) > $IVF_REBUILD_IMBALANCE
       |   OR count(*) < (SELECT count(*) FROM cents) / 2) AS rebuild_due
       |FROM occ""".stripMargin

  /** snk_vector_index / sim_ann_ivf_indexed share this builder: the
    * persisted IVF index — the vector-side "build once, serve many"
    * artifact (the text twin is snk_text_index). Layout (parquet):
    *
    *   centroids/        (cid, cemb, cnrm) — the refined coarse
    *     quantizer, ≤ ivfK rows (≈33 MB at the 65,536 cap).
    *   assignments/cid=NN/ (vec_id, emb, nrm) — every vector stored
    *     in its IVF_ASSIGN nearest lists, one directory per list
    *     (the Faiss-style inverted-list file layout).
    *
    * Build pays the centroid sample + one Lloyd step + one assignment
    * scan ONCE; a query then probes nprobe list DIRECTORIES via
    * partition pruning instead of recomputing the quantizer and
    * re-assigning the corpus per query (what sim_ann_ivf does, and
    * any one-shot query must). One build per corpus per JVM. */
  private val vecIndexCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def buildVectorIndex(s: SparkSession, dir: String): String = {
    // memo key includes a file-stat fingerprint: an in-place corpus
    // regeneration builds a new index instead of serving a stale one
    val fp = IndexManifest.corpusFingerprint(dir, "embeddings")
    vecIndexCache.computeIfAbsent(s"$dir|$fp", { _ =>
      MemoBuilds.record("vector_index")
      val root = java.nio.file.Files
        .createTempDirectory("graft-vecindex").toString
      IndexManifest.registerTempRoot(root)
      buildVectorIndexAt(s, dir, root)
    })
  }

  /** Testing hook: drop the per-JVM build memos. */
  private[graft] def invalidateIndexCache(): Unit = vecIndexCache.clear()

  /** Build the IVF index into a CALLER-CHOSEN durable root and stamp
    * it with a manifest — the cross-session deployment contract. A
    * later session serves via [[openVectorIndex]] with no rebuild and
    * no re-clustering (the quantizer is part of the artifact). The
    * manifest lands LAST, marking a completed build. */
  def buildVectorIndexAt(s: SparkSession, dir: String, root: String): String = {
    initVectorIndex(embeddings(s, dir), root)
    appendToVectorIndex(embeddings(s, dir), root, batchId = 0L)
    val nLists = s.read.parquet(s"$root/centroids").count()
    IndexManifest.write(root, "vector-ivf", Map(
      "ivf_assign" -> IVF_ASSIGN.toString,
      "n_lists" -> nLists.toString,
      "corpus" -> dir,
      "corpus_fingerprint" -> IndexManifest.corpusFingerprint(dir, "embeddings")))
    root
  }

  /** Reopen a durable IVF root built by [[buildVectorIndexAt]] —
    * possibly by an earlier session/JVM. Verifies the manifest, the
    * assignment fan-out constant, and that the persisted quantizer
    * still matches the manifest's list count (a truncated centroids/
    * would otherwise mis-probe silently). Returns the root for
    * [[annServeFrom]] / [[annServeBatchFrom]]. */
  def openVectorIndex(s: SparkSession, root: String): String = {
    val m0 = IndexManifest.open(root, "vector-ivf",
      Map("ivf_assign" -> IVF_ASSIGN.toString))
    // a compaction, rebuild or repair that crashed mid-swap replays
    // here, under the exclusive maintenance lease (the replay moves
    // live dirs; one manifest read when nothing is pending)
    IndexRecovery.replayPendingLeased(root)
    // re-read: a replayed rebuild/repair commit updates n_lists
    val m = if (m0.contains("rebuild.pending") || m0.contains("repair.pending"))
      IndexManifest.readIfExists(root) else m0
    val nLists = s.read.parquet(s"$root/centroids").count()
    require(m.get("n_lists").contains(nLists.toString),
      s"index at $root: manifest says ${m.getOrElse("n_lists", "?")} lists " +
        s"but centroids/ holds $nLists — artifact corrupted or partially " +
        "overwritten; rebuild")
    root
  }

  /** Train the coarse quantizer on a bootstrap corpus and persist it.
    * Training is a REBUILD decision: ingest (appendToVectorIndex)
    * only ever assigns against this persisted quantizer. */
  private[graft] def initVectorIndex(boot: DataFrame, root: String): Unit = {
    val s = boot.sparkSession
    val e = withNorm(boot)
    val k = ivfK(e.count())
    val cArr0 = ivfCentroids(e, k).collect().map { r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
    }
    val cArr = refineCentroids(s, e, cArr0)
    import s.implicits._
    cArr.toSeq.map { case (cid, ce, cn) => (cid, ce.toSeq, cn) }
      .toDF("cid", "cemb", "cnrm")
      .coalesce(1).write.mode("overwrite").parquet(s"$root/centroids")
  }

  /** Merge one batch of NEW vectors into the index at `root`:
    * assign against the EXISTING persisted quantizer (deterministic
    * given quantizer + vector — no re-clustering at ingest time) and
    * land the lists under assignments/cid=NN/batch_id=M, a dynamic
    * partition overwrite scoped by this batch's keys so a streaming
    * replay overwrites itself — the vector twin of the text index's
    * appendToIndex contract. Expects the embeddings-table schema. */
  private[graft] def appendToVectorIndex(
      batch: DataFrame, root: String, batchId: Long): Unit = {
    // Replay any crashed maintenance journal BEFORE landing new batch
    // dirs: an unreplayed compaction/rebuild/repair swap's eventual
    // replay prunes live dirs absent from its staged set — which
    // would include this append's partitions (data loss). One
    // manifest read when nothing is pending; the replay itself runs
    // under the exclusive maintenance lease (it moves live dirs).
    IndexRecovery.replayPendingLeased(root)
    // same contract as the text index's appendToIndex: a batch id the
    // compactor folded away would overwrite the merged segment
    val ct = IndexCompaction.compactedThrough(root, "assignments")
    require(batchId > ct,
      s"batch $batchId replays into an index compacted through $ct — " +
        "its partitions were folded into the compacted segment; " +
        "restart the stream with batch ids above the compaction point")
    if (batch.isEmpty) return
    val s = batch.sparkSession
    val cArr = s.read.parquet(s"$root/centroids").collect().map { r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
    }.sortBy(_._1)
    val cBc = s.sparkContext.broadcast(cArr)
    val assignUdf = udf { (emb: Seq[Double], nrm: Double) =>
      topCentroids(cBc.value, IVF_ASSIGN, emb, nrm)
    }
    withNorm(batch)
      .withColumn("cid", explode(assignUdf(col("emb"), col("nrm"))))
      .select(col("cid"), col("vec_id"), col("emb"), col("nrm"))
      .withColumn("batch_id", lit(batchId))
      .repartition(col("cid"))
      .write.partitionBy("cid", "batch_id")
      .option("partitionOverwriteMode", "dynamic").mode("overwrite")
      .parquet(s"$root/assignments")
  }

  /** snk_vector_index — build the IVF index and audit the written
    * artifact on its INVARTIANT facts, which are oracle-checkable:
    * every non-degenerate vector present exactly once per assigned
    * list, the IVF_ASSIGN fan-out exact (k ≥ 4 always, so each vector
    * lands in exactly 2 lists), and the quantizer bounded by the ⌈√n⌉
    * training cap. Which lists the Lloyd refinement kept
    * (n_lists_used, occupancy) is deterministic as of round 13 and
    * fully oracle-checked by the audit qid ([[simAnnIvfAuditSql]]). */
  def snkVectorIndex(s: SparkSession, dir: String): DataFrame = {
    val root = buildVectorIndex(s, dir)
    val a = s.read.parquet(s"$root/assignments")
    a.agg(countDistinct(col("vec_id")).as("n_vectors"),
        count(lit(1)).as("n_assignments"))
      .crossJoin(broadcast(s.read.parquet(s"$root/centroids")
        .agg(count(lit(1)).as("n_lists"))))
      .select(col("n_vectors"),
        // stated against the ACTUAL list count, not a hardcoded 2: a
        // degenerate corpus can collapse the refined quantizer below
        // IVF_ASSIGN lists, and the fan-out contract is min(a, k)
        (col("n_assignments") === col("n_vectors") *
          least(lit(IVF_ASSIGN.toLong), col("n_lists")))
          .as("fanout_exact"),
        (col("n_lists") > 0 &&
          col("n_lists") <= lit(65536L)).as("quantizer_bounded"))
  }

  /** Degeneracy mirrored from the assign kernel; the fan-out and
    * quantizer bounds are stated as booleans the engine computes
    * against its actual artifact, so the oracle pins them without
    * assuming a list count. */
  val snkVectorIndexSql: String =
    """SELECT
      |  (SELECT count(DISTINCT vec_id) FROM embeddings
      |   WHERE embedding IS NOT NULL
      |     AND list_sum(list_transform(embedding, x -> x * x)) > 0)
      |    AS n_vectors,
      |  TRUE AS fanout_exact,
      |  TRUE AS quantizer_bounded""".stripMargin

  /** sim_ann_ivf_indexed — sim_ann_ivf's answer served from the
    * persisted index: the query probes its ivfNProbe nearest
    * centroids (a ≤33 MB driver read of the quantizer), the probe
    * list ids partition-prune the assignment DIRECTORIES, and exact
    * cosine re-ranks only the probed lists' members against the
    * broadcast 1-row query. At serve time the corpus is touched only
    * for the 1-row query-vector lookup — everything else reads
    * nprobe/k of the index. Full recompute oracle as of round 13
    * ([[simAnnIvfIndexedSql]] — an end-to-end check of build +
    * persist + reopen + serve); recall and the serve plan stay
    * pinned in VectorIndexSpec. */
  def simAnnIvfIndexed(s: SparkSession, dir: String): DataFrame = {
    val root = buildVectorIndex(s, dir)
    val e = withNorm(embeddings(s, dir))
    val qRows = e.filter(col("vec_id") === 0)
      .select(col("emb"), col("nrm")).collect()
    if (qRows.isEmpty)
      return e.select(col("vec_id"), lit(0.0).as("sim")).limit(0)
    IndexServe.annTopK(s, root,
      qRows(0).getSeq[Double](0).toArray, qRows(0).getDouble(1))
  }

  // Serve-time read schema for the assignment lists (engine-owned
  // layout — skips per-plan parquet footer inference, a fixed cost on
  // every serve call).
  private[operators] val AssignSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("emb", ArrayType(DoubleType)),
      StructField("nrm", DoubleType),
      StructField("cid", LongType),
      StructField("batch_id", LongType)))
  }

  /** The coarse quantizer, memoized per root behind a centroids-dir
    * fingerprint (stat-only): every serve needs the full ≤33 MB
    * centroid array driver-side to compute probes, but reading it
    * back per call costs a Spark job. A rebuild/repair/re-init
    * rewrites centroids/, moves the fingerprint, and refreshes the
    * memo — stale serves over a changed quantizer are impossible.
    * Maintenance paths keep their own fresh reads (they run rarely
    * and must see exactly what is on disk mid-operation). */
  // cap × ≤33 MB bounds the worst-case resident quantizer memory at
  // ~264 MB; an evicted root costs one reload job on its next serve
  private val quantizerCache =
    new BoundedMemo[Array[(Long, Array[Double], Double)]](8, "ivf_quantizer")

  private[operators] def quantizerOf(
      s: SparkSession, root: String): Array[(Long, Array[Double], Double)] = {
    val fp = IndexManifest.pathFingerprint(Paths.get(root, "centroids"))
    quantizerCache.get(root, fp).getOrElse {
      val cArr = s.read.parquet(s"$root/centroids").collect().map { r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
      }.sortBy(_._1)
      quantizerCache.put(root, fp, cArr)
      cArr
    }
  }

  /** Serve an ANN top-k for an ARBITRARY query vector from an index
    * at `root` — the library's public query API (the declared qid is
    * this with the fixture's vec_id=0 vector). Probes the quantizer
    * driver-side, partition-prunes to the nprobe lists, exact-ranks
    * their members against the broadcast 1-row query. */
  private[operators] def annServeFrom(
      s: SparkSession, root: String,
      qv: Array[Double], qn: Double, topK: Int = 10,
      nprobe: Option[Int] = None): DataFrame = {
    import s.implicits._
    val cArr = quantizerOf(s, root)
    val probeCids = topCentroids(cArr,
      nprobe.getOrElse(ivfNProbe(cArr.length)), qv, qn)
    val q = Seq((qv.toSeq, qn)).toDF("qv", "qn")
    val probed = s.read.schema(AssignSchema).parquet(s"$root/assignments")
      .filter(col("cid").isin(probeCids.map(Long.box): _*))
    // deleted vectors are invisible the moment the tombstone lands
    // (physical removal waits for the next compaction)
    // Score BEFORE the dedup exchange (guide §2.3: project before the
    // exchange): a vector in several probed lists carries identical
    // (emb, nrm), so its duplicates score identically and the
    // dropDuplicates keeps the same answer — but now the exchange
    // moves (vec_id, sim) 16-byte rows instead of the ~0.5 KB
    // embedding payload (~30× fewer shuffle bytes); the extra map-side
    // dot per duplicate is bounded by IVF_ASSIGN.
    IndexDeletes.readDeletes(s, root, "vec_id")
      .fold(probed)(d => probed.join(broadcast(d), Seq("vec_id"), "left_anti"))
      .join(broadcast(q))
      .select(col("vec_id"),
        round(arrayDot(col("emb"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .dropDuplicates("vec_id")
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(topK)
  }

  /** The declared batch for sim_ann_serve_batch: a fixed spread of
    * fixture vec_ids (including sim_ann_ivf's own query, vec_id 0, so
    * single-serve parity is visible in the batch output). */
  private[operators] val ANN_BATCH_IDS: Seq[Long] =
    Seq(0L, 3L, 7L, 11L, 19L, 26L)

  /** sim_ann_serve_batch — the vector twin of text_bm25_serve_batch:
    * a whole query TABLE of vectors answered in ONE job against the
    * persisted IVF index (the amortized concurrent-serve shape; the
    * reference's serve tier runs WEB_CONCURRENCY=10). Full recompute
    * oracle as of round 13 ([[simAnnServeBatchSql]]); VectorIndexSpec
    * still pins per-query hash parity with N independent single-query
    * serves plus the one-job plan shape. */
  def simAnnServeBatch(s: SparkSession, dir: String): DataFrame = {
    val root = buildVectorIndex(s, dir)
    val e = withNorm(embeddings(s, dir))
    IndexServe.annTopKBatch(s, root,
      e.filter(col("vec_id").isin(ANN_BATCH_IDS.map(Long.box): _*))
        .select(col("vec_id").as("query_id"),
          col("emb").as("qv"), col("nrm").as("qn")))
  }

  /** Serve an ANN top-k for EVERY query in `queries` (query_id, qv,
    * qn) from the index at `root`, in one job. Amortization mirrors
    * the text batch serve:
    *
    *   - the quantizer is read ONCE (≤33 MB driver read — the same
    *     read a single query pays) and probes for the whole batch are
    *     computed against it driver-side: the request is serve-tier
    *     sized by construction, and probing is O(|batch| · k · d) —
    *     the exact work N single serves would do, without N jobs.
    *   - ONE partition-pruned assignments scan covers the UNION of
    *     all probed lists; per-query routing is a broadcast join of
    *     the (cid, query) probe pairs on cid — adding a query adds
    *     broadcast rows, never scans.
    *   - exact cosine re-ranks per (query, candidate) once (a vector
    *     in several probed lists of one query dedups first), then the
    *     TopKPerGroup heap operator takes each query's top-k with ≤ k
    *     rows per (query, partition) crossing the exchange.
    *
    * At serve time the corpus is never touched — every read is
    * index-shaped (quantizer + probed lists). */
  private[operators] def annServeBatchFrom(
      s: SparkSession, root: String,
      queries: DataFrame, topK: Int = 10,
      nprobeOverride: Option[Int] = None): DataFrame = {
    import s.implicits._
    graft.GraftExtensions.register(s)
    val cArr = quantizerOf(s, root)
    val nprobe = nprobeOverride.getOrElse(ivfNProbe(cArr.length))
    val qRows = queries
      .select(col("query_id").cast("long"), col("qv"), col("qn"))
      .collect().map { r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
      }
    val probePairs = qRows.toSeq.flatMap { case (id, qv, qn) =>
      topCentroids(cArr, nprobe, qv, qn).map(cid => (cid, id, qv.toSeq, qn))
    }
    val probes = probePairs.toDF("cid", "query_id", "qv", "qn")
    val cids = probePairs.map(_._1).distinct
    val probed0 = s.read.schema(AssignSchema).parquet(s"$root/assignments")
      .filter(col("cid").isin(cids.map(Long.box): _*))
    // same tombstone handling as the single-query serve
    // Score BEFORE the dedup exchange (guide §2.3): duplicates of a
    // (query, vector) pair — a vector present in several of the
    // query's probed lists — carry identical emb/qv and score
    // identically, so deduping the scored 24-byte rows returns the
    // same pools while the exchange drops from the ~1 KB emb+qv
    // payload per row (profiled 6.2 MB at the fixture batch) to
    // (query_id, vec_id, sim).
    val scored = IndexDeletes.readDeletes(s, root, "vec_id")
      .fold(probed0)(d =>
        probed0.join(broadcast(d), Seq("vec_id"), "left_anti"))
      .join(broadcast(probes), Seq("cid"))
      .select(col("query_id"), col("vec_id"),
        round(arrayDot(col("emb"), col("qv")) / (col("nrm") * col("qn")), 6)
          .as("sim"))
      .dropDuplicates("query_id", "vec_id")
    graft.plans.TopKPerGroup.topKPerGroup(scored,
      keys = Seq("query_id"),
      orderBy = Seq(("sim", false), ("vec_id", true)), k = topK)
  }

  /** When the occupancy audit should trigger a quantizer rebuild:
    * ingest assigns against the FROZEN quantizer by design, so a
    * drifting corpus shows up as list imbalance, and past this factor
    * the worst-probed list costs ~an order more than the mean (see
    * SCALE.md "IVF maintenance"). */
  private[operators] val IVF_REBUILD_IMBALANCE = 8.0

  /** sim_ann_ivf_audit — the index-maintenance signal the frozen
    * quantizer needs: streamed ingest never re-clusters (assignment is
    * deterministic against the persisted centroids), so nothing else
    * says WHEN a rebuild is due. One cheap aggregate over the
    * assignment lists (groupBy on the partition column + count — no
    * data columns read) reports occupancy skew; `rebuild_due` flips
    * when the max-to-mean factor passes IVF_REBUILD_IMBALANCE. With
    * the exact-grid Lloyd refinement the occupancies are
    * deterministic, so the full maintenance signal carries a
    * recompute oracle ([[simAnnIvfAuditSql]]); VectorIndexSpec still
    * plants a skewed streamed batch and asserts the imbalance signal
    * grows. */
  def simAnnIvfAudit(s: SparkSession, dir: String): DataFrame =
    ivfAuditFrom(s, buildVectorIndex(s, dir))

  private[graft] def ivfAuditFrom(s: SparkSession, root: String): DataFrame = {
    val nLists = s.read.parquet(s"$root/centroids")
      .agg(count(lit(1)).as("n_lists"))
    s.read.parquet(s"$root/assignments")
      .groupBy(col("cid")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_lists_used"),
        sum(col("n")).as("n_assignments"),
        max(col("n")).as("max_list"),
        round(avg(col("n")) + lit(1e-9), 2).as("avg_list"),
        round(max(col("n")) / avg(col("n")) + lit(1e-9), 2).as("imbalance"))
      .crossJoin(broadcast(nLists))
      .select(col("n_lists"), col("n_lists_used"), col("n_assignments"),
        col("max_list"), col("avg_list"), col("imbalance"),
        (col("imbalance") > lit(IVF_REBUILD_IMBALANCE)
          || col("n_lists_used") < col("n_lists") / 2).as("rebuild_due"))
  }

  /** Compact the IVF index at `root`: fold every (cid, batch_id)
    * assignment partition into one file per list directory — the
    * vector twin of [[TextQueries.compactTextIndex]] (same crash-safe
    * journal, see [[IndexCompaction]]). centroids/ is a single frozen
    * file and never needs folding. Serve results are identical before
    * and after — pinned in IndexCompactionSpec.
    *
    * Pending tombstones ([[deleteFromVectorIndex]]) are applied
    * physically: the fold anti-joins them out of every list (forced
    * even over a single batch) and clears them LAST — a crash
    * beforehand leaves tombstones in place and serving correct. */
  def compactVectorIndex(s: SparkSession, root: String)
      : IndexCompaction.CompactStats = IndexLease.withMaintenance(root) {
    val del = IndexDeletes.readDeletes(s, root, "vec_id")
    val stats = IndexCompaction.compact(s, root, "assignments", Seq("cid"),
      merge = df => del.fold(df)(d =>
        df.join(broadcast(d), Seq("vec_id"), "left_anti")),
      force = del.isDefined)
    if (del.isDefined) IndexDeletes.fenceAndClear(root)
    // a root carrying a PQ sidecar leaves maintenance serveable on
    // both paths (the fold moved the assignments fingerprint)
    PqIndex.refreshIfPresent(s, root)
    stats
  }

  /** Rebuild the IVF quantizer from the index's current LIVE vectors —
    * the maintenance op [[simAnnIvfAudit]]'s `rebuild_due` signal asks
    * for. Streamed ingest assigns against the FROZEN quantizer by
    * design, so a drifting corpus piles into ever-fewer lists; the
    * audit prices that, and THIS pays it down: retrain (the same
    * hash-sample + one-Lloyd-step trainer the first build used, now
    * over everything ingested since), reassign every live vector, and
    * swap both artifacts in atomically. Pending tombstones are applied
    * in passing (the rebuild reads only live vectors and clears the
    * tombstones on commit).
    *
    * Crash-safe via the same journal discipline as compaction:
    *
    *   1. STAGE   — write the new centroids/ and assignments/ under
    *                `rebuild.staging/`, mark `_STAGED`. Live dirs
    *                untouched; serving continues on the old quantizer.
    *   2. JOURNAL — `rebuild.pending = newId` in the manifest.
    *   3. SWAP    — replace both live dirs with the staged ones
    *                (idempotent: an already-moved dir is skipped).
    *   4. COMMIT  — update `n_lists`, fence the batch-id space
    *                (`compact.through.assignments = newId`, so every
    *                pre-rebuild batch id is rejected on replay and
    *                ingest restarts above the rebuild), clear the
    *                journal key and tombstones, drop the staging dir.
    *
    * [[openVectorIndex]] replays an interrupted swap from the journal
    * (under the shared recovery lease). Like compaction, rebuild is a
    * quiesce-time op: run it with the ingest stream stopped. Returns
    * the new fold id ingest must resume above. */
  def rebuildVectorIndex(s: SparkSession, root: String): Long =
      IndexLease.withMaintenance(root) {
    IndexCompaction.recover(root, "assignments")
    recoverRebuild(root)
    import s.implicits._
    val aDir = Paths.get(root, "assignments")
    val del = IndexDeletes.readDeletes(s, root, "vec_id")
    val live0 = s.read.parquet(s"$root/assignments")
      .dropDuplicates("vec_id")
      .select(col("vec_id"), col("emb"), col("nrm"))
    // four consumers below (count, centroid sample, Lloyd refinement,
    // staged assignment write) — cache so the corpus-of-the-index scan
    // + dedup shuffle runs once, not per consumer
    val live = del.fold(live0)(d =>
      live0.join(broadcast(d), Seq("vec_id"), "left_anti")).cache()
    val newId = (IndexCompaction.listBatchIds(aDir) :+
      IndexCompaction.compactedThrough(root, "assignments")).max + 1L
    val tmp = Paths.get(root, "rebuild.staging")
    IndexManifest.deleteRecursively(tmp)
    // STAGE: train on the live set, then assign the live set — the
    // staged artifacts materialize fully before any live dir is
    // touched, so the read-from-old / write-to-staged lineage is safe.
    // unpersist in finally: a failed stage (disk full, task death)
    // must not leave the corpus-of-the-index pinned in cache
    val nLists = try {
      val k = ivfK(live.count())
      val cArr = refineCentroids(s, live,
        ivfCentroids(live, k).collect().map { r =>
          (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
        })
      cArr.toSeq.map { case (cid, ce, cn) => (cid, ce.toSeq, cn) }
        .toDF("cid", "cemb", "cnrm")
        .coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("centroids").toString)
      val cBc = s.sparkContext.broadcast(cArr)
      val assignUdf = udf { (emb: Seq[Double], nrm: Double) =>
        topCentroids(cBc.value, IVF_ASSIGN, emb, nrm)
      }
      live.withColumn("cid", explode(assignUdf(col("emb"), col("nrm"))))
        .select(col("cid"), col("vec_id"), col("emb"), col("nrm"))
        .withColumn("batch_id", lit(newId))
        .repartition(col("cid"))
        .write.partitionBy("cid", "batch_id").mode("overwrite")
        .parquet(tmp.resolve("assignments").toString)
      cArr.length
    } finally live.unpersist()
    Files.createFile(tmp.resolve("_STAGED"))
    // JOURNAL (the new list count rides the journal so a recovering
    // opener can commit n_lists without a Spark read), then SWAP+COMMIT
    IndexManifest.update(root, Map(
      "rebuild.pending" -> newId.toString,
      "rebuild.pending.nlists" -> nLists.toString))
    finalizeRebuild(root)
    // retrain the PQ sidecar over the rebuilt lists while the lease
    // is still held (rebuild exists because the corpus drifted — the
    // sub-quantizers should follow)
    PqIndex.refreshIfPresent(s, root)
    newId
  }

  /** Phases 3+4 of [[rebuildVectorIndex]] — idempotent from any crash
    * point after the journal entry exists. */
  private def finalizeRebuild(root: String): Unit = {
    val pending = IndexManifest.readIfExists(root).get("rebuild.pending")
    require(pending.isDefined, s"no pending rebuild at $root")
    val newId = pending.get.toLong
    val tmp = Paths.get(root, "rebuild.staging")
    Seq("assignments", "centroids").foreach { d =>
      IndexCompaction.moveStagedOver(tmp.resolve(d), Paths.get(root, d))
    }
    val nLists = IndexManifest.readIfExists(root)
      .getOrElse("rebuild.pending.nlists",
        sys.error(s"rebuild journal at $root lost its nlists record"))
    IndexManifest.update(root,
      Map("compact.through.assignments" -> newId.toString,
        "n_lists" -> nLists),
      remove = Seq("rebuild.pending", "rebuild.pending.nlists"))
    IndexDeletes.fenceAndClear(root)
    IndexManifest.deleteRecursively(tmp)
  }

  /** Replay an interrupted rebuild swap (journal entry present). A
    * complete (`_STAGED`) staging dir re-runs the swap; debris without
    * the marker is abandoned — the live dirs were never touched. */
  private[graft] def recoverRebuild(root: String): Unit = {
    if (IndexManifest.readIfExists(root).get("rebuild.pending").isEmpty)
      return
    IndexCompaction.withRecoveryLease(root, "rebuild") {
      val m = IndexManifest.readIfExists(root)
      if (m.get("rebuild.pending").isDefined) {
        val tmp = Paths.get(root, "rebuild.staging")
        if (Files.exists(tmp.resolve("_STAGED")))
          finalizeRebuild(root)
        else {
          IndexManifest.deleteRecursively(tmp)
          IndexManifest.update(root, Map.empty,
            remove = Seq("rebuild.pending", "rebuild.pending.nlists"))
        }
      }
    }
  }

  /** Incremental IVF repair — the surgical alternative to a full
    * [[rebuildVectorIndex]]. The audit usually flags a FEW oversized
    * lists (drift piles new content into whichever lists sit nearest
    * the new mode); retraining the whole quantizer to fix them is a
    * full-corpus job at 100 TB. This touches ONLY the flagged lists:
    *
    *   - occupancy comes from one count over the cid partition column
    *     (no data columns read); lists above `imbalance` × mean are
    *     flagged, worst-first, capped at `maxListsPerCall`.
    *   - each flagged list is SPLIT in place: m = clamp(⌈n/mean⌉, 2,
    *     16) children seeded by a deterministic hash-sample of the
    *     list's own members and refined by the shared one-step Lloyd
    *     kernel over this list's members only; the first child keeps
    *     the list's cid, the rest take fresh ids above the current
    *     max. A flood of IDENTICAL vectors cannot be split
    *     geometrically (it is one point) — detected by a >90%
    *     dominant child — and falls back to a HASH split over m
    *     copies of the list's centroid: file/probe balance is
    *     restored, and a query near the point ranks the identical
    *     children consecutively so its probe spread covers them.
    *   - zero-member centroids are dropped (probe rank for nothing).
    *   - unflagged lists are not read, not rewritten, not moved.
    *
    * Same stage→journal→swap→commit discipline as the rebuild: its
    * own `repair.pending` journal key and `repair.staging/` dir, the
    * shared [[IndexCompaction.moveStagedOver]] swap, replayed by
    * [[recoverRepair]] under the recovery lease. The swap moves the
    * staged CENTROIDS first: until then every query still probes the
    * old quantizer against the intact flagged dirs, and afterwards
    * the probe set includes the children whether or not their dirs
    * have landed yet (a missing child dir reads as empty while the
    * old flagged dir still holds everything) — so a reader never
    * loses recall mid-swap. Commit fences the batch-id space at the
    * repair's fold id (quiesce-time op: restart streams above it with
    * fresh checkpoints). Tombstones are NOT cleared — unflagged lists
    * keep their rows, so the serve-time anti-join must stay armed;
    * compaction owns physical deletes. Returns the fold id, or -1
    * when nothing needed repair. Full [[rebuildVectorIndex]] remains
    * the fallback for corpus-wide drift. */
  def repairVectorIndex(s: SparkSession, root: String,
      imbalance: Double = IVF_REBUILD_IMBALANCE,
      maxListsPerCall: Int = 64): Long = IndexLease.withMaintenance(root) {
    IndexCompaction.recover(root, "assignments")
    recoverRebuild(root)
    recoverRepair(root)
    import s.implicits._
    val occ = s.read.parquet(s"$root/assignments")
      .groupBy(col("cid").cast("long").as("cid"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (occ.isEmpty) return -1L
    val mean = occ.map(_._2).sum.toDouble / occ.length
    val flagged = occ.filter(_._2 > imbalance * mean)
      .sortBy(-_._2).take(maxListsPerCall).map(_._1).sorted
    val cArr = s.read.parquet(s"$root/centroids").collect().map { r =>
      (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
    }.sortBy(_._1)
    val occupied = occ.map(_._1).toSet
    val untouched = cArr.filter(c =>
      !flagged.contains(c._1) && occupied.contains(c._1))
    if (flagged.isEmpty && untouched.length == cArr.length) return -1L
    // the fold id sits above EVERY id in the shared batch-id space —
    // delete batches included, so the fence stays monotone with them
    val delDir = Paths.get(root, IndexDeletes.Subdir)
    val delIds =
      if (Files.isDirectory(delDir)) IndexCompaction.listBatchIds(delDir)
      else Nil
    val newId = (IndexCompaction.listBatchIds(Paths.get(root, "assignments"))
      ++ delIds
      :+ IndexCompaction.compactedThrough(root, "assignments")).max + 1L
    val tmp = Paths.get(root, "repair.staging")
    IndexManifest.deleteRecursively(tmp)
    Files.createDirectories(tmp)
    var nextCid = cArr.map(_._1).max + 1L
    val newCentroids = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Array[Double], Double)]
    newCentroids ++= untouched
    flagged.foreach { x =>
      val members = s.read.parquet(s"$root/assignments")
        .filter(col("cid") === x)
        .select(col("vec_id"), col("emb"), col("nrm")).cache()
      try {
        val n = members.count()
        val m = math.min(16L, math.max(2L,
          math.ceil(n / math.max(mean, 1.0)).toLong)).toInt
        val seeds = members
          .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(m)
          .collect().zipWithIndex.map { case (r, i) =>
            (if (i == 0) x else { val c = nextCid; nextCid += 1L; c },
              r.getSeq[Double](1).toArray, r.getDouble(2))
          }
        val children0 = refineCentroids(s, members, seeds)
        val cBc = s.sparkContext.broadcast(children0)
        val near1 = udf { (emb: Seq[Double], nrm: Double) =>
          val a = topCentroids(cBc.value, 1, emb, nrm)
          if (a.isEmpty) -1L else a(0)
        }
        val assignedRaw = members
          .withColumn("cid", near1(col("emb"), col("nrm")))
        // near1 returns -1 for rows it cannot RANK — e.g. NaN-element
        // embeddings, which ride Spark's NaN-greatest ordering past
        // the ingest path's nrm > 0 guard and then score NaN against
        // every child. Dropping them would silently violate the
        // repair's nothing-lost invariant (simAnnIvfRepair
        // oracle-checks it), so fold them into the keeper child — or,
        // when the keeper itself placed no rows, the smallest placed
        // child (placed cids ⊆ children0, so the fallback always has
        // a centroid). A list whose EVERY row is unplaceable has no
        // placed child at all and falls through to the degenerate
        // hash-split below, which assigns by vec_id hash and ranks
        // nothing.
        // ONE aggregation serves both decisions: the -1 row carries
        // the unplaceable count, the rest are the placed cids — the
        // post-fold counts derive arithmetically instead of running a
        // second Spark job per flagged list (up to 64 lists/call on
        // the maintenance path)
        val rawCounts = assignedRaw.groupBy(col("cid")).count().collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val placed = rawCounts.filter(_._1 >= 0L)
        val unplaced =
          rawCounts.collectFirst { case (-1L, c) => c }.getOrElse(0L)
        val placedCids = placed.map(_._1)
        val fallbackCid =
          if (placedCids.contains(x) || placedCids.isEmpty) x
          else placedCids.min
        val assigned =
          if (placedCids.isEmpty) assignedRaw.filter(col("cid") >= 0)
          else assignedRaw.withColumn("cid",
            when(col("cid") >= 0, col("cid")).otherwise(lit(fallbackCid)))
        val counts = placed.map { case (c, k) =>
          if (c == fallbackCid) (c, k + unplaced) else (c, k) }
        val degenerate = counts.length < 2 ||
          counts.map(_._2).max > 0.9 * n
        val (children, finalAssigned) =
          if (!degenerate)
            (children0.filter(c => counts.exists(_._1 == c._1)), assigned)
          else {
            val base = cArr.find(_._1 == x).getOrElse(sys.error(
              s"flagged list $x has assignments but no centroid at " +
                s"$root — artifact corrupted; run rebuildVectorIndex"))
            // the children share ONE centroid point, so a query at
            // the flood ranks them consecutively and must probe ALL
            // of them to keep the pre-split recall — cap the fan-out
            // at the CURRENT default probe width (nprobe only grows
            // as lists are added), or members past the probe horizon
            // would become unreachable for exactly that query
            val hm = math.max(2, math.min(seeds.length,
              ivfNProbe(cArr.length)))
            val hashChildren = seeds.take(hm).map { case (cid, _, _) =>
              (cid, base._2, base._3) }
            val ids = hashChildren.map(_._1).toSeq
            (hashChildren, members.withColumn("cid",
              element_at(typedLit(ids),
                (pmod(xxhash64(col("vec_id")), lit(ids.size)) + 1)
                  .cast("int"))))
          }
        finalAssigned
          .select(col("cid"), col("vec_id"), col("emb"), col("nrm"))
          .withColumn("batch_id", lit(newId))
          .repartition(col("cid"))
          .write.partitionBy("cid", "batch_id").mode("append")
          .parquet(tmp.resolve("assignments").toString)
        newCentroids ++= children
      } finally members.unpersist()
    }
    newCentroids.toSeq.map { case (cid, ce, cn) => (cid, ce.toSeq, cn) }
      .toDF("cid", "cemb", "cnrm")
      .coalesce(1).write.mode("overwrite")
      .parquet(tmp.resolve("centroids").toString)
    // The marker records which live cid dirs this repair REPLACES
    // (the flagged set) and which staged dirs exist — same durable
    // bookkeeping as compaction's v2 marker. Without it, a flagged
    // list whose keeper child ends up EMPTY after the split (its
    // refined mean moved; Spark writes no dir for zero rows) would
    // keep its live dir untouched through the swap: a ghost list
    // holding every member a second time, inflating audits forever.
    val stagedNames: Seq[String] = {
      import scala.jdk.CollectionConverters._
      val stagedA = tmp.resolve("assignments")
      if (!Files.isDirectory(stagedA)) Nil
      else {
        val st = Files.list(stagedA)
        try st.iterator().asScala.map(_.getFileName.toString)
          .filter(_.startsWith("cid=")).toSeq
        finally st.close()
      }
    }
    val markerTmp = tmp.resolve("_STAGED.tmp")
    Files.write(markerTmp,
      ("v2" +:
        (flagged.map(x => s"replaced:cid=$x") ++
          stagedNames.map(n => s"staged:$n")))
        .mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    Files.move(markerTmp, tmp.resolve("_STAGED"))
    IndexManifest.update(root, Map(
      "repair.pending" -> newId.toString,
      "repair.pending.nlists" -> newCentroids.length.toString))
    finalizeRepair(root)
    // re-encode the PQ sidecar over the repaired lists under the same
    // held lease (split lists moved the assignments fingerprint)
    PqIndex.refreshIfPresent(s, root)
    newId
  }

  /** Phases 3+4 of [[repairVectorIndex]] — idempotent from any crash
    * point after the journal entry exists. Centroids land FIRST (see
    * the repair scaladoc's mid-swap recall argument). */
  private def finalizeRepair(root: String): Unit = {
    import scala.jdk.CollectionConverters._
    val pending = IndexManifest.readIfExists(root).get("repair.pending")
    require(pending.isDefined, s"no pending repair at $root")
    val newId = pending.get.toLong
    val tmp = Paths.get(root, "repair.staging")
    // read the durable replaced/staged lists BEFORE moving anything —
    // staged dirs drain out of tmp as they move, the intended end
    // state must not (crash-replay reads the same marker)
    val markerLines: Seq[String] = {
      val marker = tmp.resolve("_STAGED")
      if (!Files.exists(marker)) Nil
      else Files.readAllLines(marker).asScala
        .map(_.trim).filter(_.nonEmpty).toSeq
    }
    val replaced = markerLines.collect {
      case l if l.startsWith("replaced:") => l.stripPrefix("replaced:") }
    val staged = markerLines.collect {
      case l if l.startsWith("staged:") => l.stripPrefix("staged:") }.toSet
    IndexCompaction.moveStagedOver(tmp.resolve("centroids"),
      Paths.get(root, "centroids"))
    val stagedA = tmp.resolve("assignments")
    if (Files.isDirectory(stagedA)) {
      val st = Files.list(stagedA)
      val dirs = try st.iterator().asScala.filter(d =>
        Files.isDirectory(d) &&
          d.getFileName.toString.startsWith("cid=")).toSeq
      finally st.close()
      dirs.foreach { d =>
        IndexCompaction.moveStagedOver(d,
          Paths.get(root, "assignments", d.getFileName.toString))
      }
    }
    // a replaced list with no staged counterpart was fully emptied by
    // the split (zero-row keeper child) — its live dir must go, or it
    // survives as a ghost holding every member a second time
    replaced.filterNot(staged).foreach { name =>
      IndexManifest.deleteRecursively(
        Paths.get(root, "assignments", name))
    }
    val nLists = IndexManifest.readIfExists(root)
      .getOrElse("repair.pending.nlists",
        sys.error(s"repair journal at $root lost its nlists record"))
    IndexManifest.update(root,
      Map("compact.through.assignments" -> newId.toString,
        "n_lists" -> nLists),
      remove = Seq("repair.pending", "repair.pending.nlists"))
    IndexManifest.deleteRecursively(tmp)
  }

  /** Replay an interrupted repair swap (journal entry present) — the
    * repair twin of [[recoverRebuild]]: a complete (`_STAGED`)
    * staging dir re-runs the swap; debris without the marker is
    * abandoned (the live dirs were never touched). */
  private[graft] def recoverRepair(root: String): Unit = {
    if (IndexManifest.readIfExists(root).get("repair.pending").isEmpty)
      return
    IndexCompaction.withRecoveryLease(root, "repair") {
      val m = IndexManifest.readIfExists(root)
      if (m.get("repair.pending").isDefined) {
        val tmp = Paths.get(root, "repair.staging")
        if (Files.exists(tmp.resolve("_STAGED")))
          finalizeRepair(root)
        else {
          IndexManifest.deleteRecursively(tmp)
          IndexManifest.update(root, Map.empty,
            remove = Seq("repair.pending", "repair.pending.nlists"))
        }
      }
    }
  }

  /** Delete vectors from the IVF index at `root` — the vector twin of
    * [[TextQueries.deleteFromTextIndex]] (see [[IndexDeletes]] for the
    * tombstone design). O(|ids|) work, no scan at all: the IVF layout
    * keeps no derived statistics that need a correction row (the
    * quantizer is frozen by contract and df has no analog), so a
    * delete is just the tombstone write. Serving anti-joins the
    * tombstones; the next [[compactVectorIndex]] removes the rows
    * physically. The occupancy audit ([[ivfAuditFrom]]) deliberately
    * keeps counting tombstoned rows — they still occupy list files,
    * which is exactly what the audit prices. Returns the number of
    * newly tombstoned ids. */
  def deleteFromVectorIndex(s: SparkSession, root: String,
      ids: DataFrame, batchId: Long): Long = {
    // same pre-append discipline as appendToVectorIndex (leased
    // replay, loud refusal while serves are live)
    IndexRecovery.replayPendingLeased(root)
    Seq("assignments", IndexDeletes.Subdir).foreach { d =>
      val ct = IndexCompaction.compactedThrough(root, d)
      require(batchId > ct,
        s"delete batch $batchId replays into an index compacted " +
          s"through $ct at $d — restart above the compaction point")
    }
    val others = IndexDeletes.readDeletesExcept(s, root, "vec_id", batchId)
    val newly = others.foldLeft(ids.select(col("vec_id")).distinct()) {
      (d, t) => d.join(broadcast(t), Seq("vec_id"), "left_anti")
    }.cache()
    try {
      val n = newly.count()
      if (n == 0) return 0L
      IndexDeletes.writeTombstones(newly, root, "vec_id", batchId)
      n
    } finally newly.unpersist()
  }

  /** The snk_vector_index_compact fixture: quantizer trained on the
    * full corpus, vectors streamed in as three disjoint batches (by
    * vec_id mod 3), then compacted. Memoized per JVM. */
  private val compactedVecRootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def ensureCompactedVectorRoot(
      s: SparkSession, dir: String): String = {
    val fp = IndexManifest.corpusFingerprint(dir, "embeddings")
    compactedVecRootCache.computeIfAbsent(s"$dir|$fp", { _ =>
      MemoBuilds.record("vec_root_compacted")
      val root = java.nio.file.Files
        .createTempDirectory("graft-vecindex-compact").toString
      IndexManifest.registerTempRoot(root)
      val e = embeddings(s, dir)
      initVectorIndex(e, root)
      (0 to 2).foreach { b =>
        appendToVectorIndex(e.filter(pmod(col("vec_id"), lit(3)) === b),
          root, batchId = b.toLong)
      }
      compactVectorIndex(s, root)
      root
    })
  }

  /** snk_vector_index_compact — stream the corpus into the IVF index
    * as three batches, compact, audit. Oracle-checked on the same
    * invariants as snk_vector_index (compaction moves bytes, never
    * content) plus the one-batch-partition fold outcome; which lists
    * the vectors occupy stays Lloyd-order-dependent and is pinned in
    * IndexCompactionSpec via serve parity instead. */
  def snkVectorIndexCompact(s: SparkSession, dir: String): DataFrame = {
    val root = ensureCompactedVectorRoot(s, dir)
    s.read.parquet(s"$root/assignments")
      .agg(countDistinct(col("vec_id")).as("n_vectors"),
        count(lit(1)).as("n_assignments"),
        countDistinct(col("batch_id")).as("n_batch_parts"))
      .crossJoin(broadcast(s.read.parquet(s"$root/centroids")
        .agg(count(lit(1)).as("n_lists"))))
      .select(col("n_vectors"),
        (col("n_assignments") === col("n_vectors") *
          least(lit(IVF_ASSIGN.toLong), col("n_lists")))
          .as("fanout_exact"),
        col("n_batch_parts"))
  }

  val snkVectorIndexCompactSql: String =
    """SELECT
      |  (SELECT count(DISTINCT vec_id) FROM embeddings
      |   WHERE embedding IS NOT NULL
      |     AND list_sum(list_transform(embedding, x -> x * x)) > 0)
      |    AS n_vectors,
      |  TRUE AS fanout_exact,
      |  CAST(1 AS BIGINT) AS n_batch_parts""".stripMargin

  /** The sim_ann_ivf_rebuild fixture: the audit→rebuild lifecycle.
    * Corpus ingested as batch 0 against a quantizer trained on it;
    * then a DRIFTED batch floods in — one clone per non-null-embedding
    * row, every clone the identical all-ones vector, so they pile into
    * the same few lists (the audit's worst case); then the rebuild
    * retrains on everything and reassigns. Memoized per JVM. */
  private val rebuiltVecRootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def ensureRebuiltVectorRoot(
      s: SparkSession, dir: String): String = {
    val fp = IndexManifest.corpusFingerprint(dir, "embeddings")
    rebuiltVecRootCache.computeIfAbsent(s"$dir|$fp", { _ =>
      MemoBuilds.record("vec_root_rebuilt")
      val root = java.nio.file.Files
        .createTempDirectory("graft-vecindex-rebuild").toString
      IndexManifest.registerTempRoot(root)
      val e = embeddings(s, dir)
      initVectorIndex(e, root)
      appendToVectorIndex(e, root, batchId = 0L)
      appendToVectorIndex(driftClones(e), root, batchId = 1L)
      rebuildVectorIndex(s, root)
      root
    })
  }

  /** The drifted ingest: one clone per non-null-embedding row, all
    * sharing one direction (the all-ones vector) a corpus-trained
    * quantizer has no centroid near. */
  private[operators] def driftClones(e: DataFrame): DataFrame =
    e.filter(col("embedding").isNotNull)
      .select((col("vec_id") + 200000L).as("vec_id"), col("label"),
        transform(col("embedding"), _ => lit(1.0d)).as("embedding"))

  /** sim_ann_ivf_rebuild — the operation [[simAnnIvfAudit]]'s
    * rebuild_due signal triggers ([[rebuildVectorIndex]]): retrain the
    * quantizer on the drifted corpus and reassign. The declared audit
    * is oracle-checked on the rebuild's hard invariant — the live
    * vector set is PRESERVED exactly (original non-degenerates plus
    * the planted clones, nothing lost, nothing invented) — while the
    * float-order-dependent imbalance improvement is pinned in
    * IvfRebuildSpec. */
  def simAnnIvfRebuild(s: SparkSession, dir: String): DataFrame = {
    val root = ensureRebuiltVectorRoot(s, dir)
    val e = embeddings(s, dir)
    val expected = withNorm(e).filter(col("nrm") > 0).select(col("vec_id"))
      .union(driftClones(e).select(col("vec_id")))
    val present = s.read.parquet(s"$root/assignments")
      .select(col("vec_id")).distinct()
    val missing = expected.join(present, Seq("vec_id"), "left_anti").count()
    val invented = present.join(expected, Seq("vec_id"), "left_anti").count()
    present.agg(count(lit(1)).as("n_vectors"))
      .withColumn("vectors_preserved", lit(missing == 0 && invented == 0))
  }

  /** Mirrors the assign kernel's degeneracy rule (null embedding or
    * zero norm never enters a list); every planted clone is the
    * all-ones vector, so all survive. */
  val simAnnIvfRebuildSql: String =
    """SELECT
      |  (SELECT count(*) FROM embeddings
      |   WHERE embedding IS NOT NULL
      |     AND list_sum(list_transform(embedding, x -> x * x)) > 0)
      |  + (SELECT count(*) FROM embeddings WHERE embedding IS NOT NULL)
      |    AS n_vectors,
      |  TRUE AS vectors_preserved""".stripMargin

  /** The sim_ann_ivf_repair fixture: the audit→REPAIR lifecycle —
    * same planted drift as the rebuild fixture (clones piling into a
    * few lists), but paid down surgically by [[repairVectorIndex]]
    * instead of a full retrain. Memoized per JVM. */
  private val repairedVecRootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def ensureRepairedVectorRoot(
      s: SparkSession, dir: String): String = {
    val fp = IndexManifest.corpusFingerprint(dir, "embeddings")
    repairedVecRootCache.computeIfAbsent(s"$dir|$fp", { _ =>
      MemoBuilds.record("vec_root_repaired")
      val root = java.nio.file.Files
        .createTempDirectory("graft-vecindex-repair").toString
      IndexManifest.registerTempRoot(root)
      val e = embeddings(s, dir)
      initVectorIndex(e, root)
      appendToVectorIndex(e, root, batchId = 0L)
      appendToVectorIndex(driftClones(e), root, batchId = 1L)
      // threshold 2×: the fixture corpora are small enough that the
      // planted flood can land short of the production 8× trigger —
      // the qid audits the repair's outcome, not the trigger policy
      repairVectorIndex(s, root, imbalance = 2.0)
      root
    })
  }

  /** sim_ann_ivf_repair — the surgical maintenance op
    * ([[repairVectorIndex]]): split only the audit-flagged lists,
    * leave the rest of the quantizer untouched. Oracle-checked on the
    * same hard invariant as the rebuild — the live vector set is
    * PRESERVED exactly (nothing lost, nothing invented, every vector
    * still in ≥1 list) — while the touched-lists-only IO shape and
    * the imbalance improvement are pinned in IvfRebuildSpec. */
  def simAnnIvfRepair(s: SparkSession, dir: String): DataFrame = {
    val root = ensureRepairedVectorRoot(s, dir)
    val e = embeddings(s, dir)
    val expected = withNorm(e).filter(col("nrm") > 0).select(col("vec_id"))
      .union(driftClones(e).select(col("vec_id")))
    val present = s.read.parquet(s"$root/assignments")
      .select(col("vec_id")).distinct()
    val missing = expected.join(present, Seq("vec_id"), "left_anti").count()
    val invented = present.join(expected, Seq("vec_id"), "left_anti").count()
    present.agg(count(lit(1)).as("n_vectors"))
      .withColumn("vectors_preserved", lit(missing == 0 && invented == 0))
  }

  val simAnnIvfRepairSql: String = simAnnIvfRebuildSql

  /** The snk_vector_index_delete fixture: quantizer trained on the
    * full corpus, vectors streamed in as three batches, then every
    * vec_id ≡ 3 (mod 7) tombstoned as delete batch 3. Memoized per
    * JVM. */
  private val deletedVecRootCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def ensureDeletedVectorRoot(
      s: SparkSession, dir: String): String = {
    val fp = IndexManifest.corpusFingerprint(dir, "embeddings")
    deletedVecRootCache.computeIfAbsent(s"$dir|$fp", { _ =>
      MemoBuilds.record("vec_root_deleted")
      val root = java.nio.file.Files
        .createTempDirectory("graft-vecindex-del").toString
      IndexManifest.registerTempRoot(root)
      val e = embeddings(s, dir)
      initVectorIndex(e, root)
      (0 to 2).foreach { b =>
        appendToVectorIndex(e.filter(pmod(col("vec_id"), lit(3)) === b),
          root, batchId = b.toLong)
      }
      deleteFromVectorIndex(s, root,
        e.filter(pmod(col("vec_id"), lit(7)) === 3).select("vec_id"),
        batchId = 3L)
      root
    })
  }

  /** snk_vector_index_delete — tombstone deletes on the persisted IVF
    * index ([[deleteFromVectorIndex]]): audit the serve-visible live
    * vector set after the delete batch. Unlike the other vector-index
    * audits this IS oracle-checked — the live distinct-vector count
    * doesn't ride the Lloyd float order (every non-degenerate vector
    * lands in assignments regardless of which lists), so DuckDB
    * recomputes it from `embeddings` minus the deleted ids; a
    * tombstone leaking into the serve view goes hash-red. */
  def snkVectorIndexDelete(s: SparkSession, dir: String): DataFrame = {
    val root = ensureDeletedVectorRoot(s, dir)
    val del = IndexDeletes.readDeletes(s, root, "vec_id")
      .getOrElse(sys.error(s"delete fixture at $root lost its tombstones"))
    s.read.parquet(s"$root/assignments")
      .join(broadcast(del), Seq("vec_id"), "left_anti")
      .agg(countDistinct(col("vec_id")).as("n_live_vectors"))
      .crossJoin(broadcast(del.agg(count(lit(1)).as("n_tombstones"))))
  }

  /** Degeneracy mirrored from the assign kernel (topCentroids returns
    * no lists for a null embedding or zero norm). */
  val snkVectorIndexDeleteSql: String =
    """SELECT
      |  (SELECT count(DISTINCT vec_id) FROM embeddings
      |   WHERE embedding IS NOT NULL
      |     AND list_sum(list_transform(embedding, x -> x * x)) > 0
      |     AND vec_id % 7 <> 3) AS n_live_vectors,
      |  (SELECT count(DISTINCT vec_id) FROM embeddings
      |   WHERE vec_id % 7 = 3) AS n_tombstones""".stripMargin

  /** sim_knn_join — the approximate k-NN GRAPH: top-KNN_K neighbors
    * for EVERY vector (not one query), from the same capped LSH
    * candidate generation as dedup_near_embedding. This is the batch
    * ANN join semantic-dedup / clustering pipelines run: symmetrized
    * candidate pairs, exact cosine on candidates only, then a
    * window top-k per vector whose partition size is bounded by the
    * per-vector candidate bound (bands × (bandBits+1) × BUCKET_CAP),
    * never by corpus size. Oracle: the whole graph recomputed in SQL
    * ([[simKnnJoinSql]]); planted-twin rank-1 recovery stays
    * unit-tested. */
  def simKnnJoin(s: SparkSession, dir: String): DataFrame =
    knnGraphFor(s, dir)

  /** The per-corpus k-NN graph, memoized behind the corpus file-stat
    * fingerprint and PERSISTED. Four qids consume the same graph
    * (sim_knn_join, dedup_semantic, graph_pagerank,
    * dedup_keep_central) and the LSH-candidate + exact-cosine stage
    * is the only corpus-proportional cost in all four: one build per
    * (JVM, corpus) instead of four.
    *
    * Unlike [[kmeansCentroidsFor]] (which stores session-free driver
    * arrays), the cached value here is a PERSISTED DataFrame, so two
    * extra invariants hold: (a) the map is keyed by `dir` with the
    * fingerprint stored IN the value — when an in-place corpus
    * regeneration changes the fingerprint, the stale entry's cached
    * partitions are unpersisted and replaced instead of leaking in
    * the block manager forever; (b) a cached DataFrame bound to a
    * stopped SparkSession is discarded and rebuilt against the
    * active one (same-JVM session restart would otherwise throw). */
  private val knnCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      (String, org.apache.spark.SparkContext, LazyCell[DataFrame])]()

  private def knnGraphFor(s: SparkSession, dir: String): DataFrame = {
    val fp = IndexManifest.corpusFingerprint(dir, "embeddings")
    // compute() only allocates the cell — the LSH+cosine graph build
    // runs on .value OUTSIDE the map's bin lock ([[LazyCell]]): the
    // pre-round-15 shape ran it under the bin lock, blocking every
    // caller that hashed into the same bin for the build's duration.
    knnCache.compute(dir, (_, prev) => prev match {
      // reuse while the OWNING SparkContext is alive — persisted
      // blocks are context-scoped, so a different live session
      // sharing the context can serve the cached frame (keying on
      // session identity would thrash between two live sessions,
      // each rebuild unpersisting a graph the other may be reading).
      // The check is on the context stored AT ALLOCATION, so an
      // uncompleted cell whose builder session died is also replaced
      // (its thunk would throw against the stopped context forever).
      case (`fp`, sc, _) if !sc.isStopped => prev
      case _ =>
        if (prev != null) {
          // stale fingerprint or dead session: release cached blocks.
          // completed-only — unpersisting must never FORCE a stale
          // build (no-op if the owning session is already stopped)
          prev._3.completed.foreach { df =>
            try df.unpersist() catch { case _: Throwable => () }
          }
        }
        (fp, s.sparkContext, new LazyCell({ () =>
          MemoBuilds.record("knn_graph")
          // The BUILD variant: collapse + scored pairs checkpointed
          // (their subtrees are referenced 3×/2×/2× in the graph
          // plan), the persisted graph materialized EAGERLY, then
          // every intermediate checkpoint released deterministically
          // — first consumers paid the materialization anyway, and
          // lazy release left stale blocks for KnnCacheSpec to catch.
          val (e, stars, release) = collapseIdenticalVectorsMaterialized(
            nonDegenerate(withNorm(embeddings(s, dir))))
          val scored = scorePairs(e, nearEmbeddingCandidates(e), 6)
            .localCheckpoint(false)
          val g = knnRankFrom(scored, stars).persist()
          g.count()
          release()
          org.apache.spark.sql.graftbridge.GraftExpr
            .releaseLocalCheckpoint(scored)
          g
        }))
    })._3.value
  }

  private[graft] def simKnnJoinFrom(e0: DataFrame): DataFrame = {
    // identical vectors add no information to a k-NN GRAPH, and a
    // copy-heavy corpus floods the LSH band buckets straight to
    // their cap (the verbatim-100× sf10 probe OOM'd here before this
    // stage existed). Shared collapse ([[collapseIdenticalVectors]]):
    // the graph is built over representatives; copy-class members
    // re-attach as sim=1.0 / rk=0 star edges in BOTH directions
    // (a member's nearest neighbor IS its verbatim copy), which
    // preserves the connectivity dedup_semantic clusters on at O(n)
    // extra edges. This is the LAZY seam (fixture specs drive it
    // directly); the memoized graph build ([[knnGraphFor]]) runs the
    // checkpointing variant with deterministic release instead.
    val (e, stars) = collapseIdenticalVectors(nonDegenerate(e0))
    knnRankFrom(scorePairs(e, nearEmbeddingCandidates(e), 6), stars)
  }

  /** Rank + mirror tail shared by the lazy seam and the memoized
    * build: score each undirected pair ONCE (the arrayDot verify is
    * the dominant cost), then mirror the scored rows for the
    * per-vector ranking — sim(a,b) = sim(b,a). NOTE the mirror union
    * references `scored` twice; the build passes a checkpointed
    * frame so the candidate+cosine chain runs once (guide §7.2). */
  private def knnRankFrom(scored: DataFrame, stars: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = scored.union(
      scored.select(col("b").as("a"), col("a").as("b"), col("sim")))
    val w = Window.partitionBy(col("a"))
      .orderBy(col("sim").desc, col("b"))
    val ranked = sym
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= KNN_K)
      .select(col("a"), col("b"), col("sim"), col("rk"))
    val starHalf = stars
      .select(col("a"), col("b"), lit(1.0).as("sim"), lit(0).as("rk"))
    ranked
      .unionByName(starHalf)
      .unionByName(starHalf.select(col("b").as("a"), col("a").as("b"),
        col("sim"), col("rk")))
  }

  /** dedup_semantic — SemDeDup-style semantic dedup over embeddings:
    * edges = k-NN-graph pairs with cosine ≥ SEM_T, clusters =
    * connected components (the same pointer-doubling propagation as
    * dedup_cluster_cc), one keeper per cluster. The full
    * embedding-side answer to "keep one of each meaning": candidate
    * generation, scoring, graph, and clustering are all the bounded
    * stages verified individually — and the whole chain is ALSO
    * recomputed end-to-end by the SQL oracle ([[dedupSemanticSql]],
    * recursive-CTE connected components). */
  def dedupSemantic(s: SparkSession, dir: String): DataFrame =
    semanticClusters(knnGraphFor(s, dir))

  /** Fixture seam (the <name>From pattern) — the planted-meaning test
    * drives THIS method, so the edge rule and SEM_T are exercised in
    * production form. */
  private[graft] def dedupSemanticFrom(e: DataFrame): DataFrame =
    semanticClusters(simKnnJoinFrom(e))

  /** Clusters over a pre-built knn graph. An edge survives if EITHER
    * direction made its endpoint's top-k (least/greatest +
    * dropDuplicates — filtering a < b after the rank window would
    * drop an edge whose smaller-id side is a hub with k closer
    * neighbors). */
  private def semanticClusters(knn: DataFrame): DataFrame = {
    val edges = knn
      .filter(col("sim") >= SEM_T)
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .dropDuplicates("a", "b")
    DedupQueries.clustersFrom(edges)
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        col("is_keeper"))
  }

  /** graph_pagerank — PageRank over the k-NN similarity graph: the
    * centrality-ranked curation signal (CommonCrawl-style
    * harmonic/PageRank ranking, applied to the similarity graph a
    * near-dup pipeline already builds — high-rank nodes are the
    * "canonical" members of dense semantic neighborhoods, the
    * natural keeper priority and sampling weight; a capability
    * beyond the reference's catalog surface, in the extension tier
    * SURVEY.md §2.11 defines). Runs ENTIRELY in integer fixed-point
    * (rank mass PR_SCALE split uniformly, damping 85/100, floor
    * division everywhere) so the distributed contribution sums are
    * associative — iteration order, partitioning, and partial
    * aggregation cannot move a single unit, and the oracle
    * ([[graphPagerankSql]]) hash-matches bit-for-bit. Dangling mass
    * (nodes with no out-edges) evaporates by design — standard for
    * ranking use, where only the ORDER matters — so Σrank declines
    * toward the base floor instead of holding at PR_SCALE; the spec
    * pins conservation bounds.
    *
    * Scale design: the graph is edges = O(n·k) rows, cached once;
    * each round is one join + one partial-aggregating groupBy on the
    * same key — at 1000 executors, pre-partitioning edges and ranks
    * by node id makes every round a co-partitioned join with no
    * re-shuffle of the big side. The 10-round lineage stays a linear
    * chain over the cached topology; on a real cluster checkpoint
    * every few rounds to truncate lineage (documented in SCALE.md).
    */
  def graphPagerank(s: SparkSession, dir: String): DataFrame =
    pagerankRanks(nonDegenerate(withNorm(embeddings(s, dir))),
      knnGraphFor(s, dir))

  private[graft] def graphPagerankFrom(e0: DataFrame): DataFrame = {
    val e = nonDegenerate(e0)
    pagerankRanks(e, simKnnJoinFrom(e))
  }

  /** Edge- AND node-count ceiling for the driver fixed-point
    * shortcut — the [[DedupQueries.DRIVER_CC_MAX]] idiom: 2²⁰
    * collected rows ≈ 16 MB, far under driver headroom. Below it,
    * the distributed loop's 10 rounds × 4 shuffle stages of
    * per-stage latency dominate the actual integer work by 50×;
    * because the arithmetic is associative floor division, the
    * driver loop produces the IDENTICAL table (equality
    * spec-pinned). Above it the distributed loop runs. The gate
    * checks BOTH counts: in a healthy k-NN graph nodes are
    * edge-bounded, but a mostly-LSH-isolated corpus (few edges, huge
    * n) would pass an edge-only gate and then collect every vec_id —
    * the node term closes that driver-OOM hole (GraphPagerankSpec
    * pins the isolated-heavy fixture to the distributed path). */
  private[graft] val DRIVER_PR_MAX = 1L << 20

  /** The driver-shortcut gate, as a pure function so the spec can pin
    * the isolated-heavy case directly: BOTH the edge list and the
    * node list are collected, so BOTH must fit. */
  private[graft] def prDriverEligible(
      nEdges: Long, nNodes: Long, driverMax: Long): Boolean =
    nEdges <= driverMax && nNodes <= driverMax

  /** The fixed-point recurrence over a PRE-BUILT knn graph — the seam
    * that lets dedup_keep_central share one graph between clustering
    * and centrality instead of paying the candidate join twice.
    * `driverMax` is overridden to 0 in tests to force the
    * distributed path. */
  private[graft] def pagerankRanks(e: DataFrame, knn: DataFrame,
      driverMax: Long = DRIVER_PR_MAX): DataFrame = {
    // topology: the knn graph's distinct directed edges (rk ranks and
    // star duplicates collapse away), materialized once — every
    // iteration reuses the cached edge/degree tables
    val edges = knn.select(col("a"), col("b")).distinct()
      .persist()
    val nEdges = edges.count()
    val nNodes = e.count()
    if (nNodes == 0) {
      // degenerate corpus (no non-degenerate vectors): empty ranks,
      // the simAnnIvfPq contract — not a divide-by-zero in `base`
      edges.unpersist()
      val spark = e.sparkSession
      import spark.implicits._
      return spark.emptyDataset[(Long, Long)].toDF("vec_id", "rank_fp")
    }
    if (prDriverEligible(nEdges, nNodes, driverMax)) {
      val spark = e.sparkSession
      import spark.implicits._
      val es = edges.select(col("a").cast("long"), col("b").cast("long"))
        .as[(Long, Long)].collect()
      edges.unpersist()
      val nodeIds = e.select(col("vec_id").cast("long"))
        .as[Long].collect()
      val n = nodeIds.length
      val base = PR_SCALE * 15L / 100L / n
      val deg = scala.collection.mutable.HashMap.empty[Long, Long]
      es.foreach { case (a, _) => deg.update(a, deg.getOrElse(a, 0L) + 1L) }
      var r = nodeIds.iterator.map(_ -> PR_SCALE / n).toMap
      for (_ <- 1 to PR_ITERS) {
        val contrib = scala.collection.mutable.HashMap.empty[Long, Long]
        es.foreach { case (a, b) =>
          val c = (85L * r(a)) / (100L * deg(a))
          contrib.update(b, contrib.getOrElse(b, 0L) + c)
        }
        r = nodeIds.iterator
          .map(v => v -> (base + contrib.getOrElse(v, 0L))).toMap
      }
      return spark
        .createDataFrame(nodeIds.sorted.map(v => (v, r(v))).toSeq)
        .toDF("vec_id", "rank_fp")
    }
    val deg = edges.groupBy(col("a")).agg(count(lit(1)).as("deg"))
      .persist()
    val nodes = e.select(col("vec_id")).persist()
    val n = nNodes
    val base = PR_SCALE * 15L / 100L / n
    var ranks = nodes.select(col("vec_id"), lit(PR_SCALE / n).as("r"))
    for (_ <- 1 to PR_ITERS) {
      val contrib = edges
        .join(ranks.withColumnRenamed("vec_id", "a"), Seq("a"))
        .join(deg, Seq("a"))
        .select(col("b"),
          expr("(85 * r) DIV (100 * deg)").as("c"))
        .groupBy(col("b")).agg(sum(col("c")).as("cs"))
      ranks = nodes
        .join(contrib.withColumnRenamed("b", "vec_id"),
          Seq("vec_id"), "left")
        .select(col("vec_id"),
          (lit(base) + coalesce(col("cs"), lit(0L))).as("r"))
    }
    // materialize the final table (eager localCheckpoint truncates
    // the 10-round lineage) BEFORE releasing the loop's cached
    // topology — every invocation above the gate used to leak
    // edges/deg/nodes blocks; the checkpoint's own blocks are
    // reclaimed by the ContextCleaner once the result is unreferenced
    val out = ranks.select(col("vec_id"), col("r").as("rank_fp"))
      .localCheckpoint(eager = true)
    edges.unpersist(); deg.unpersist(); nodes.unpersist()
    out
  }

  /** HITS fixed-point rounds (Kleinberg 1999, "Authoritative sources
    * in a hyperlinked environment" §3) with the [[pagerankRanks]]
    * integer discipline: per round, authority = Σ of in-neighbour hub
    * scores, hub = Σ of out-neighbour authority scores, each vector
    * max-normalized to [[HITS_SCALE]] by exact integer floor division
    * (Kleinberg's L2 normalization is order-sensitive in floats; the
    * max norm keeps the SAME ranking fixed point and makes every
    * round bit-reproducible under any partitioning). All sums run in
    * decimal(38,0)/BigInt so a SCALE-sized score times a hub's
    * in-degree cannot wrap a Long. Same driver shortcut + distributed
    * fallback contract as PageRank: below [[DRIVER_PR_MAX]] the
    * collected loop runs; above it each round is two co-partitioned
    * edge joins + partial aggs over the cached topology plus a 1-row
    * broadcast max — bit-identical by associativity (spec-pinned with
    * `driverMax = 0`). */
  private[graft] val HITS_ITERS = 10
  private[graft] val HITS_SCALE = 1000000000000L

  private[graft] def hitsRanks(e: DataFrame, g: DataFrame,
      driverMax: Long = DRIVER_PR_MAX): DataFrame = {
    val edges = g.select(col("a"), col("b")).distinct().persist()
    val nEdges = edges.count()
    val nNodes = e.count()
    if (nNodes == 0) {
      edges.unpersist()
      val spark = e.sparkSession
      import spark.implicits._
      return spark.emptyDataset[(Long, Long, Long)]
        .toDF("vec_id", "auth_fp", "hub_fp")
    }
    if (prDriverEligible(nEdges, nNodes, driverMax)) {
      val spark = e.sparkSession
      import spark.implicits._
      val es = edges.select(col("a").cast("long"), col("b").cast("long"))
        .as[(Long, Long)].collect()
      edges.unpersist()
      val nodeIds = e.select(col("vec_id").cast("long")).as[Long].collect()
      val S = BigInt(HITS_SCALE)
      var h = nodeIds.iterator.map(_ -> S).toMap
      var a = nodeIds.iterator.map(_ -> BigInt(0)).toMap
      for (_ <- 1 to HITS_ITERS) {
        val ar = scala.collection.mutable.HashMap.empty[Long, BigInt]
        es.foreach { case (u, v) =>
          ar.update(v, ar.getOrElse(v, BigInt(0)) + h(u))
        }
        val amax = (BigInt(1) +: ar.values.toSeq).max
        a = nodeIds.iterator
          .map(v => v -> ar.getOrElse(v, BigInt(0)) * S / amax).toMap
        val hr = scala.collection.mutable.HashMap.empty[Long, BigInt]
        es.foreach { case (u, v) =>
          hr.update(u, hr.getOrElse(u, BigInt(0)) + a(v))
        }
        val hmax = (BigInt(1) +: hr.values.toSeq).max
        h = nodeIds.iterator
          .map(v => v -> hr.getOrElse(v, BigInt(0)) * S / hmax).toMap
      }
      return spark
        .createDataFrame(nodeIds.sorted.toSeq
          .map(v => (v, a(v).toLong, h(v).toLong)))
        .toDF("vec_id", "auth_fp", "hub_fp")
    }
    val nodes = e.select(col("vec_id")).persist()
    var st = nodes.select(col("vec_id"),
      lit(HITS_SCALE).cast("decimal(38,0)").as("h"),
      lit(0L).cast("decimal(38,0)").as("a"))
    for (_ <- 1 to HITS_ITERS) {
      val ar = edges
        .join(st.select(col("vec_id").as("a_"), col("h")),
          edges("a") === col("a_"))
        .groupBy(col("b").as("vec_id"))
        .agg(sum(col("h")).as("ar"))
      val arAll = nodes.join(ar, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("ar"), lit(0L).cast("decimal(38,0)")).as("ar"))
        .persist()
      val amax = arAll.agg(
        greatest(max(col("ar")), lit(1L).cast("decimal(38,0)")).as("m"))
      val aNew = arAll.crossJoin(broadcast(amax))
        .select(col("vec_id"),
          expr(s"CAST((ar * ${HITS_SCALE}) DIV m AS DECIMAL(38,0))")
            .as("a"))
      val hr = edges
        .join(aNew.select(col("vec_id").as("b_"), col("a").as("av")),
          edges("b") === col("b_"))
        .groupBy(edges("a").as("vec_id"))
        .agg(sum(col("av")).as("hr"))
      val hrAll = nodes.join(hr, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("hr"), lit(0L).cast("decimal(38,0)")).as("hr"))
        .persist()
      val hmax = hrAll.agg(
        greatest(max(col("hr")), lit(1L).cast("decimal(38,0)")).as("m"))
      val hNew = hrAll.crossJoin(broadcast(hmax))
        .select(col("vec_id"),
          expr(s"CAST((hr * ${HITS_SCALE}) DIV m AS DECIMAL(38,0))")
            .as("h"))
      st = hNew.join(aNew, Seq("vec_id"))
        .select(col("vec_id"), col("h"), col("a"))
        .localCheckpoint(eager = true)
      arAll.unpersist(); hrAll.unpersist()
    }
    val out = st.select(col("vec_id"),
      col("a").cast("long").as("auth_fp"),
      col("h").cast("long").as("hub_fp"))
      .localCheckpoint(eager = true)
    edges.unpersist(); nodes.unpersist()
    out
  }

  /** dedup_keep_central — semantic near-dup cluster resolution by
    * CENTRALITY: dedup_semantic's connected components, but the
    * keeper is the member with the highest [[graphPagerankFrom
    * PageRank]] in the k-NN similarity graph (vec_id tie-break) —
    * "keep the canonical member of each meaning", the
    * CommonCrawl-style centrality keeper rather than
    * dedup_cluster_cc's arbitrary min-id or dedup_keep_best's
    * per-doc quality score. Emits one row per cluster: keeper, its
    * fixed-point rank, and the member count.
    *
    * Scale design: the expensive stage — LSH candidates + exact
    * cosine — runs ONCE; the shared k-NN graph (O(n·k) rows, cached)
    * feeds both the component loop and the 10 integer-fixed-point
    * rank rounds, and everything downstream (cluster table, rank
    * table, the per-cluster argmax window) is pairs-/node-sized, not
    * corpus-sized. Because ranks are integer and associative, the
    * keeper choice is bit-stable under any partitioning — no
    * float-order flakes in the argmax. Oracle: the WHOLE chain
    * (graph, components, ranks, argmax) recomputed in one DuckDB
    * recursive-CTE query ([[dedupKeepCentralSql]]). */
  def dedupKeepCentral(s: SparkSession, dir: String): DataFrame =
    keepCentral(nonDegenerate(withNorm(embeddings(s, dir))),
      knnGraphFor(s, dir))

  private[graft] def dedupKeepCentralFrom(e0: DataFrame): DataFrame = {
    val e = nonDegenerate(e0)
    keepCentral(e, simKnnJoinFrom(e).persist())
  }

  private def keepCentral(e: DataFrame, knn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = semanticClusters(knn)
      .select(col("vec_id"), col("cluster_id"))
    val ranks = pagerankRanks(e, knn)
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("rank_fp").desc, col("vec_id"))
    clusters.join(ranks, Seq("vec_id"))
      .withColumn("rk", row_number().over(w))
      .groupBy(col("cluster_id"))
      .agg(max(when(col("rk") === 1, col("vec_id"))).as("keeper_id"),
        max(when(col("rk") === 1, col("rank_fp"))).as("keeper_rank"),
        count(lit(1)).as("n_members"))
  }

  /** dedup_keep_central oracle — one WITH RECURSIVE block sharing
    * [[knnSqlCtes]] between the component CTEs (the
    * [[dedupSemanticSql]] shape) and the PageRank CTEs (the
    * [[graphPagerankSql]] shape), then the same
    * (rank desc, vec_id) argmax per cluster. */
  val dedupKeepCentralSql: String =
    s"""WITH RECURSIVE $knnSqlCtes,
       |sedges AS (SELECT DISTINCT least(a, b) AS a, greatest(a, b) AS b
       |  FROM knn WHERE sim >= $SEM_T),
       |cedges AS (SELECT a AS x, b AS y FROM sedges
       |  UNION SELECT b AS x, a AS y FROM sedges),
       |reach(x, r) AS (
       |  SELECT x, x AS r FROM (SELECT DISTINCT x FROM cedges) n
       |  UNION
       |  SELECT e.x, reach.r FROM cedges e JOIN reach ON e.y = reach.x),
       |cc AS (SELECT x AS vec_id, min(r) AS cluster_id
       |  FROM reach GROUP BY x),
       |uedges AS (SELECT DISTINCT a, b FROM knn),
       |pidx AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS i
       |  FROM nd),
       |pie AS (SELECT bi.i AS tv, ai.i AS sv
       |  FROM uedges e JOIN pidx ai ON e.a = ai.vec_id
       |  JOIN pidx bi ON e.b = bi.vec_id),
       |pincl AS (SELECT x.i, COALESCE(g.l, []) AS l FROM pidx x
       |  LEFT JOIN (SELECT tv, list(sv ORDER BY sv) AS l FROM pie
       |    GROUP BY tv) g ON g.tv = x.i),
       |pdgl AS (SELECT x.i, COALESCE(d.dg, 1) AS dg FROM pidx x
       |  LEFT JOIN (SELECT sv, count(*) AS dg FROM pie GROUP BY sv) d
       |    ON d.sv = x.i),
       |ptopo AS (SELECT (SELECT count(*) FROM pidx) AS n,
       |  (SELECT list(l ORDER BY i) FROM pincl) AS inc,
       |  (SELECT list(dg ORDER BY i) FROM pdgl) AS dg),
       |prst(it, rs) AS (
       |  SELECT 0, (SELECT list_transform(range(1, n + 1),
       |      v -> $PR_SCALE // n) FROM ptopo)
       |  UNION ALL
       |  SELECT p.it + 1, list_transform(range(1, t.n + 1),
       |      v -> ($PR_SCALE * 15 // 100 // t.n) +
       |        COALESCE(list_sum(list_transform(t.inc[v],
       |          u -> (85 * p.rs[u]) // (100 * t.dg[u]))), 0))
       |  FROM prst p, ptopo t WHERE p.it < $PR_ITERS),
       |pfin AS (SELECT rs FROM prst ORDER BY it DESC LIMIT 1),
       |prank AS (SELECT x.vec_id, pfin.rs[x.i] AS rank_fp
       |  FROM pidx x, pfin),
       |jr AS (SELECT cc.cluster_id, cc.vec_id, prank.rank_fp,
       |  row_number() OVER (PARTITION BY cc.cluster_id
       |    ORDER BY prank.rank_fp DESC, cc.vec_id) AS rk
       |  FROM cc JOIN prank ON cc.vec_id = prank.vec_id)
       |SELECT cluster_id,
       |  max(CASE WHEN rk = 1 THEN vec_id END) AS keeper_id,
       |  max(CASE WHEN rk = 1 THEN rank_fp END) AS keeper_rank,
       |  count(*) AS n_members
       |FROM jr GROUP BY cluster_id""".stripMargin

  /** emb_kmeans — spherical k-means to convergence (the curation
    * clustering primitive: SemDeDup partitions the corpus by k-means
    * cluster before any pairwise work; topic balancing samples per
    * cluster). Deterministic end-to-end, so the whole Lloyd loop is
    * DuckDB-recomputable ([[embKmeansSql]]) and the qid carries a
    * full hash oracle instead of a rows-only check:
    *
    *  - init: the k vectors with the smallest (splitmix64(vec_id),
    *    vec_id) — the one hash the oracles already replay in HUGEINT
    *    (DedupQueries.mix64Sql), vs. Spark's xxhash64 which has no
    *    SQL recompute;
    *  - per round: map-side broadcast argmax-cosine assignment (l2r
    *    dot fold, tie → min cid) + per-(cid, dim) EXACT integer sums
    *    of ve = floor(v·2²⁴ + 0.5) — float sums are the one
    *    order-dependent step in distributed Lloyd, so the mean is
    *    computed on a fixed-point grid where partial aggregation is
    *    associative by construction (sum carried as decimal(38,0):
    *    overflow-proof at any corpus size). New element =
    *    (sv/n)/2²⁴ in double — every remaining op is an explicitly
    *    sequenced IEEE op both engines perform identically;
    *  - stop when max centroid movement (l2r sqrt-sum-sq) decays
    *    below 5% of the FIRST round's movement (scale-free: an
    *    absolute tolerance either never fires on noisy data or fires
    *    instantly on tight data; absolute floor 1e-6 so
    *    already-converged input stops after one round) or MAX rounds;
    *  - output cosines quantized in the kernel to floor(cos·1e8+0.5)
    *    so avg/min aggregate over exact longs, never floats.
    *
    * Per round: ONE broadcast assignment + ONE partial-agg shuffle
    * bounded by k×d partial sums per partition — corpus rows never
    * shuffle, centroids live on the driver (k bounded like ivfK ≤
    * 65,536 ≈ 33 MB). Planted-blob recovery and repartition
    * invariance are unit-tested. */
  def embKmeans(s: SparkSession, dir: String): DataFrame =
    kmeansSummary(kmeansAssignFp(
      nonDegenerate(withNorm(embeddings(s, dir))),
      kmeansCentroidsFor(s, dir, 8)))

  private val KMEANS_MAX_ITERS = 20
  private val KMEANS_GRID = 16777216.0 // 2^24: ve = floor(v*2^24 + .5)
  private val COS_GRID = 1e8 // output cosine fixed-point grid

  /** Winning (cid, sim) for one vector over the broadcast centroids:
    * l2r dot fold over the clamped common dims (a ragged vector
    * degrades instead of crashing — emb_stats audits the condition),
    * sim = dot/(nrm·cn), ties → min cid, zero-norm centroids skipped.
    * The oracle replays this argmax bit-for-bit via min(struct) over
    * the identical fold. */
  private def bestCentroid(
      cents: Array[(Long, Array[Double], Double)],
      emb: Seq[Double], nrm: Double): (Long, Double) = {
    if (emb == null || nrm <= 0.0 || cents.isEmpty)
      return (-1L, 0.0)
    val ev = emb.toArray
    var bc = -1L
    var bs = Double.NegativeInfinity
    var i = 0
    while (i < cents.length) {
      val (cid, ce, cn) = cents(i)
      if (cn > 0) {
        var dot = 0.0
        var d = 0
        val n = math.min(ce.length, ev.length)
        while (d < n) { dot += ce(d) * ev(d); d += 1 }
        val sim = dot / (nrm * cn)
        if (sim > bs || (sim == bs && cid < bc)) { bs = sim; bc = cid }
      }
      i += 1
    }
    (bc, if (bc < 0) 0.0 else bs)
  }

  /** The Lloyd loop: deterministic init + exact refinements to the
    * scale-free stopping rule. Returns the converged centroids. */
  private[graft] def kmeansLoop(
      e0: DataFrame, k: Int,
      driverCellMax: Long = DRIVER_FP_CELLS)
      : Array[(Long, Array[Double], Double)] = {
    // Persist the narrow (vec_id, emb, nrm) projection ONCE across
    // the whole loop: up to KMEANS_MAX_ITERS refinements each rescan
    // the input otherwise — K full parquet passes for one centroid
    // set (the powerIterate discipline; guide §5 caching: reused K
    // times, recompute = a corpus scan). MEMORY_AND_DISK so at scale
    // it spills instead of evicting; unpersisted in finally — the
    // memo keeps only session-free centroid arrays, never cached
    // plans.
    val e = e0.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try kmeansLoopOn(e, k, driverCellMax)
    finally { e.unpersist(); () }
  }

  private def kmeansLoopOn(
      e: DataFrame, k: Int,
      driverCellMax: Long = DRIVER_FP_CELLS)
      : Array[(Long, Array[Double], Double)] = {
    val s = e.sparkSession
    // driver fixed-point gate (the pagerankRanks idiom, cell-sized
    // like powerIterate's): ONE bounded aggregate decides, one
    // collect replaces init + ≤KMEANS_MAX_ITERS refineCentroids jobs.
    // The count/sum job reads the frame kmeansLoop just persisted, so
    // the distributed path pays no extra corpus pass — it warms the
    // cache the loop was about to materialize anyway.
    val gRow = e.agg(count(lit(1)), sum(size(col("emb")))).collect()(0)
    val cells = if (gRow.isNullAt(1)) 0L else gRow.getLong(1)
    if (driverCellMax > 0 && cells <= driverCellMax) {
      val rows = e.select(col("vec_id"), col("emb"), col("nrm"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
          r.getDouble(2)))
      return kmeansLoopLocal(rows, k)
    }
    val mix64 = udf { (x: Long) => graft.functions.FastSig.mix(x) }
    var cents = e.orderBy(mix64(col("vec_id")), col("vec_id")).limit(k)
      .select(col("vec_id"), col("emb"), col("nrm"))
      .collect().map { r =>
        (r.getLong(0), r.getSeq[Double](1).toArray, r.getDouble(2))
      }
    var moved = Double.MaxValue
    var firstMoved = -1.0
    var it = 0
    while (moved > math.max(1e-6, firstMoved * 0.05) &&
        it < KMEANS_MAX_ITERS) {
      val next = refineCentroids(s, e, cents)
      val prev = cents.map(c => c._1 -> c._2).toMap
      moved = if (next.isEmpty) 0.0
        else next.map { case (cid, emb, _) =>
          prev.get(cid) match {
            case Some(p) =>
              var ss = 0.0
              var i = 0
              while (i < emb.length) {
                val d = emb(i) - p(i); ss += d * d; i += 1
              }
              math.sqrt(ss)
            case None => Double.MaxValue
          }
        }.max
      cents = next
      if (firstMoved < 0.0) firstMoved = moved
      it += 1
    }
    cents
  }

  /** [[kmeansLoopOn]] replayed on collected rows: the same
    * (mix64, vec_id)-sorted init, [[refineCentroidsLocal]] rounds,
    * and the identical scale-free movement rule. */
  private[graft] def kmeansLoopLocal(
      rows: Array[(Long, Array[Double], Double)], k: Int)
      : Array[(Long, Array[Double], Double)] = {
    var cents = rows
      .sortBy { case (id, _, _) => (graft.functions.FastSig.mix(id), id) }
      .take(k)
    var moved = Double.MaxValue
    var firstMoved = -1.0
    var it = 0
    while (moved > math.max(1e-6, firstMoved * 0.05) &&
        it < KMEANS_MAX_ITERS) {
      val next = refineCentroidsLocal(rows, cents)
      val prev = cents.map(c => c._1 -> c._2).toMap
      moved = if (next.isEmpty) 0.0
        else next.map { case (cid, emb, _) =>
          prev.get(cid) match {
            case Some(p) =>
              var ss = 0.0
              var i = 0
              while (i < emb.length) {
                val d = emb(i) - p(i); ss += d * d; i += 1
              }
              math.sqrt(ss)
            case None => Double.MaxValue
          }
        }.max
      cents = next
      if (firstMoved < 0.0) firstMoved = moved
      it += 1
    }
    cents
  }

  /** [[refineCentroids]] replayed on collected rows — the identical
    * exact-grid step: assignment through the SAME [[topCentroids]]
    * kernel, per-(cid, dim) BigInt sums of floor(v·2²⁴ + ½) (=
    * the decimal(38,0) sums by associativity), presence counts per
    * dim, and the same (sv.doubleValue / n) / grid mean tail. */
  private[graft] def refineCentroidsLocal(
      rows: Array[(Long, Array[Double], Double)],
      cArr: Array[(Long, Array[Double], Double)])
      : Array[(Long, Array[Double], Double)] = {
    if (cArr.isEmpty) return cArr
    val acc = scala.collection.mutable.HashMap
      .empty[Long, (scala.collection.mutable.ArrayBuffer[BigInt],
        scala.collection.mutable.ArrayBuffer[Long])]
    rows.foreach { case (_, emb, nrm) =>
      val top = topCentroids(cArr, 1, emb, nrm)
      if (top.nonEmpty) {
        val (sv, cnt) = acc.getOrElseUpdate(top(0),
          (scala.collection.mutable.ArrayBuffer.empty[BigInt],
            scala.collection.mutable.ArrayBuffer.empty[Long]))
        var j = 0
        while (j < emb.length) {
          if (j >= sv.length) { sv += BigInt(0); cnt += 0L }
          sv(j) += BigInt(math.floor(emb(j) * KMEANS_GRID + 0.5).toLong)
          cnt(j) += 1L
          j += 1
        }
      }
    }
    acc.iterator.map { case (cid, (sv, cnt)) =>
      val emb = sv.indices.iterator
        .filter(j => cnt(j) > 0L)
        .map { j =>
          (new java.math.BigDecimal(sv(j).bigInteger).doubleValue /
            cnt(j).toDouble) / KMEANS_GRID
        }
        .toArray
      var ss = 0.0
      var i = 0
      while (i < emb.length) { ss += emb(i) * emb(i); i += 1 }
      (cid, emb, math.sqrt(ss))
    }.toArray.sortBy(_._1)
  }

  /** Converged centroids per (corpus, k), memoized behind the corpus
    * file-stat fingerprint like the index builders: emb_kmeans and
    * emb_kmeans_assign share one Lloyd loop per JVM instead of
    * re-converging per qid. */
  private val kmeansCache = new java.util.concurrent.ConcurrentHashMap[
    String, (org.apache.spark.SparkContext,
      LazyCell[Array[(Long, Array[Double], Double)]])]()

  private def kmeansCentroidsFor(
      s: SparkSession, dir: String, k: Int)
      : Array[(Long, Array[Double], Double)] = {
    val fp = IndexManifest.corpusFingerprint(dir, "embeddings")
    // compute() only allocates — the Lloyd loop runs on .value
    // OUTSIDE the map's bin lock ([[LazyCell]]; computeIfAbsent held
    // it for the loop's whole wall before round 15). Completed
    // centroid arrays are session-free (key embeds the fingerprint,
    // so staleness is a new key, not an eviction); an uncompleted
    // cell is reusable only while its builder's context is alive.
    kmeansCache.compute(s"$dir|$fp|$k", (_, prev) => prev match {
      case (sc, cell)
          if cell.completed.isDefined || !sc.isStopped => prev
      case _ => (s.sparkContext, new LazyCell({ () =>
        MemoBuilds.record("kmeans_centroids")
        kmeansLoop(nonDegenerate(withNorm(embeddings(s, dir))), k)
      }))
    })._2.value
  }

  /** Per-row winning (cid, cosine-on-the-1e8-grid) against converged
    * centroids — ONE kernel pass per row: winning centroid AND its
    * cosine from the same O(k·d) sweep, the cosine quantized IN the
    * kernel so downstream aggregates see exact longs — the only
    * float aggregation in the old shape, and the one step an oracle
    * could not replay order-independently. */
  private def kmeansAssignFp(
      e: DataFrame, cents: Array[(Long, Array[Double], Double)])
      : DataFrame = {
    val cBc = e.sparkSession.sparkContext.broadcast(cents)
    val assignFp = udf { (emb: Seq[Double], nrm: Double) =>
      val (cid, sim) = bestCentroid(cBc.value, emb, nrm)
      (cid, math.floor(sim * COS_GRID + 0.5).toLong)
    }
    e.withColumn("a", assignFp(col("emb"), col("nrm")))
      .select(col("vec_id"), col("a._1").as("cid"), col("a._2").as("fp"))
      .filter(col("cid") >= 0)
  }

  private def kmeansSummary(asg: DataFrame): DataFrame =
    asg.groupBy(col("cid"))
      .agg(count(lit(1)).as("n"),
        round((sum(col("fp")).cast("double") /
          count(lit(1)).cast("double")) / lit(COS_GRID) + lit(1e-9), 4)
          .as("avg_cos"),
        round(min(col("fp")).cast("double") / lit(COS_GRID) + lit(1e-9), 4)
          .as("min_cos"))

  private[graft] def embKmeansFrom(e0: DataFrame, k: Int): DataFrame = {
    val e = nonDegenerate(e0)
    kmeansSummary(kmeansAssignFp(e, kmeansLoop(e, k)))
  }

  /** emb_kmeans_assign — the per-vector assignment table (vec_id →
    * cluster, cosine to its centroid): the artifact downstream
    * curation actually consumes — SemDeDup partitions pairwise work
    * by this column; topic balancing samples per cid; low-cos rows
    * are the outlier review queue. Same converged centroids as
    * emb_kmeans (shared memo), one broadcast kernel pass, zero
    * shuffle — and the same full recompute oracle chain
    * ([[embKmeansAssignSql]]). */
  def embKmeansAssign(s: SparkSession, dir: String): DataFrame =
    kmeansAssignFp(nonDegenerate(withNorm(embeddings(s, dir))),
      kmeansCentroidsFor(s, dir, 8))
      .select(col("vec_id"), col("cid"),
        round(col("fp").cast("double") / lit(COS_GRID) + lit(1e-9), 6)
          .as("cos"))

  /** emb_kmeans oracle: the full deterministic Lloyd loop replayed in
    * one recursive CTE. State is ONE row per iteration — (it, cents
    * LIST<STRUCT(cid, cemb, cnrm)>, moved, fm) — because DuckDB's
    * recursive term may reference the working table once; every
    * stage (assignment argmax via min(struct) over the l2r dot fold,
    * exact 2²⁴-grid integer means per (cid, dim), movement as the
    * max l2r distance to the carried-through old centroid) chains as
    * nested derived tables off that single reference. The winning
    * centroid's OLD embedding rides inside the argmax struct so the
    * movement join needs no second reference. Loop condition, folds,
    * and the final fixed-point cosine aggregation mirror
    * [[embKmeansFrom]] op-for-op. */
  private def kmeansSqlCtes: String = {
    val h = DedupQueries.mix64Sql(
      "(CASE WHEN vec_id < 0 THEN vec_id::HUGEINT + " +
        "18446744073709551616::HUGEINT ELSE vec_id::HUGEINT END)")
    val signed = s"($h - CASE WHEN $h >= 9223372036854775808::HUGEINT " +
      "THEN 18446744073709551616::HUGEINT ELSE 0::HUGEINT END)"
    val dot = "list_reduce(list_prepend(0.0, list_transform(" +
      "range(1, least(len(v.emb), len(c.cemb)) + 1), " +
      "i -> c.cemb[i] * v.emb[i])), (a, x) -> a + x)"
    s"""
       |nd AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb,
       |    sqrt(list_reduce(list_prepend(0.0,
       |      list_transform(CAST(embedding AS DOUBLE[]), v -> v * v)),
       |      (a, x) -> a + x)) AS nrm
       |  FROM embeddings),
       |nz AS (SELECT * FROM nd WHERE nrm > 0),
       |init AS (SELECT vec_id AS cid, emb AS cemb, nrm AS cnrm
       |  FROM nz ORDER BY $signed, vec_id LIMIT 8),
       |st(it, cents, moved, fm) AS (
       |  SELECT 0,
       |    (SELECT list(struct_pack(cid := cid, cemb := cemb,
       |       cnrm := cnrm) ORDER BY cid) FROM init),
       |    CAST('inf' AS DOUBLE), CAST(NULL AS DOUBLE)
       |  UNION ALL
       |  SELECT it2 + 1, ncents, mv, COALESCE(fm2, mv)
       |  FROM (
       |    SELECT any_value(it2) AS it2, any_value(fm2) AS fm2,
       |      list(struct_pack(cid := cid, cemb := cemb, cnrm := cnrm)
       |        ORDER BY cid) AS ncents,
       |      max(dist) AS mv
       |    FROM (
       |      SELECT it2, fm2, cid,
       |        list(el ORDER BY idx) AS cemb,
       |        sqrt(list_reduce(list_prepend(0.0,
       |          list(el * el ORDER BY idx)), (a, x) -> a + x)) AS cnrm,
       |        sqrt(list_reduce(list_prepend(0.0,
       |          list((el - oel) * (el - oel) ORDER BY idx)),
       |          (a, x) -> a + x)) AS dist
       |      FROM (
       |        SELECT it2, fm2, cid, idx,
       |          (CAST(sum(ve) AS DOUBLE) / CAST(count(*) AS DOUBLE))
       |            / 16777216.0 AS el,
       |          any_value(oel) AS oel
       |        FROM (
       |          SELECT it2, fm2, (b).cid AS cid,
       |            unnest(range(1, len(emb) + 1)) AS idx,
       |            CAST(floor(unnest(emb) * 16777216.0 + 0.5)
       |              AS BIGINT) AS ve,
       |            unnest(list_transform(range(1, len(emb) + 1),
       |              i -> (b).oemb[i])) AS oel
       |          FROM (
       |            SELECT v.vec_id, v.emb, any_value(c.it2) AS it2,
       |              any_value(c.fm2) AS fm2,
       |              min(struct_pack(ns := -($dot / (v.nrm * c.cnrm)),
       |                cid := c.cid, oemb := c.cemb)) AS b
       |            FROM nz v, (
       |              SELECT s.it AS it2, s.fm AS fm2, u.c.cid AS cid,
       |                u.c.cemb AS cemb, u.c.cnrm AS cnrm
       |              FROM st s, unnest(s.cents) u(c)
       |              WHERE s.moved > greatest(1e-6,
       |                  COALESCE(s.fm, -1.0) * 0.05)
       |                AND s.it < 20
       |            ) c
       |            WHERE c.cnrm > 0
       |            GROUP BY v.vec_id, v.emb, v.nrm
       |          )
       |        ) GROUP BY it2, fm2, cid, idx
       |      ) GROUP BY it2, fm2, cid
       |    ) GROUP BY it2, fm2
       |  )
       |),
       |fin AS (SELECT cents FROM st ORDER BY it DESC LIMIT 1),
       |fc AS (SELECT u.c.cid AS cid, u.c.cemb AS cemb, u.c.cnrm AS cnrm
       |  FROM fin, unnest(fin.cents) u(c) WHERE u.c.cnrm > 0),
       |asg AS (SELECT v.vec_id,
       |    min(struct_pack(ns := -($dot / (v.nrm * c.cnrm)),
       |      cid := c.cid)) AS b
       |  FROM nz v, fc c GROUP BY v.vec_id, v.emb, v.nrm),
       |fps AS (SELECT v.vec_id, (b).cid AS cid,
       |    CAST(floor(-((b).ns) * 100000000.0 + 0.5) AS BIGINT) AS fp
       |  FROM asg v)""".stripMargin
  }

  val embKmeansSql: String =
    s"""WITH RECURSIVE $kmeansSqlCtes
       |SELECT cid, count(*) AS n,
       |  round((CAST(sum(fp) AS DOUBLE) / CAST(count(*) AS DOUBLE))
       |    / 100000000.0 + 1e-9, 4) AS avg_cos,
       |  round(CAST(min(fp) AS DOUBLE) / 100000000.0 + 1e-9, 4) AS min_cos
       |FROM fps GROUP BY cid""".stripMargin

  /** emb_kmeans_assign oracle: same converged-centroid CTE chain,
    * per-vector final projection at 6 dp. */
  val embKmeansAssignSql: String =
    s"""WITH RECURSIVE $kmeansSqlCtes
       |SELECT vec_id, cid,
       |  round(CAST(fp AS DOUBLE) / 100000000.0 + 1e-9, 6) AS cos
       |FROM fps""".stripMargin

  /** emb_cluster_card — the per-cluster AUDIT table for the k-means
    * partitioning: one row per converged cluster with its size, its
    * majority label and integer share, and its top-3 DISTINCTIVE
    * member terms (token occurrences within the cluster, restricted
    * to tokens appearing in ≤ half of all member documents — the
    * integer form of "characteristic, not boilerplate"). This is the
    * artifact a SemDeDup/topic-mixture pipeline publishes next to
    * its cluster assignment: "what IS each topic" — the review
    * surface for sample_cluster_balanced's draw rates.
    *
    * Scale design: rides the memoized converged assignment (no new
    * Lloyd work); the label/size aggregates are cluster-×-label
    * bounded; the term stage is one corpus-token aggregate to
    * (cluster, token) rows, an eligibility semi-join against the
    * vocab-bounded document-frequency table, and the per-cluster
    * top-3 through the TopKPerGroup heap (≤3 rows per (cluster,
    * partition) cross the exchange — never a per-cluster vocabulary
    * sort). All ranks and shares are integers, so the card is
    * bit-stable under partitioning. Oracle: the whole chain — Lloyd
    * replay, assignment, majority label, eligibility, top-3, the
    * ordered term join — recomputed in SQL. */
  def embClusterCard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.GraftExtensions.register(s)
    val assign = embKmeansAssign(s, dir).select(col("vec_id"), col("cid"))
    val nm = assign.groupBy(col("cid")).agg(count(lit(1)).as("n_members"))
    val labTop = {
      val w = Window.partitionBy(col("cid"))
        .orderBy(col("lcnt").desc, col("label"))
      assign
        .join(embeddings(s, dir).select(col("vec_id"), col("label")),
          Seq("vec_id"))
        .groupBy(col("cid"), col("label")).agg(count(lit(1)).as("lcnt"))
        .withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("cid"), col("label").as("top_label"), col("lcnt"))
    }
    val toks = assign
      .join(graft.Tables.documents(s, dir)
        .select(col("doc_id").as("vec_id"), col("text")), Seq("vec_id"))
      .select(col("cid"), col("vec_id"),
        explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val ntot = assign.agg(count(lit(1)).as("ntot"))
    val eligible = toks.select(col("vec_id"), col("tok")).distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(ntot))
      .filter(col("df") * 2 <= col("ntot"))
      .select(col("tok"))
    val tcnt = toks.groupBy(col("cid"), col("tok"))
      .agg(count(lit(1)).as("tcnt"))
      .join(eligible, Seq("tok"))
    val terms = graft.plans.TopKPerGroup
      .topKPerGroup(tcnt, Seq("cid"),
        orderBy = Seq(("tcnt", false), ("tok", true)), k = 3)
      .groupBy(col("cid"))
      .agg(expr(
        """array_join(transform(
          |  sort_array(collect_list(named_struct(
          |    'nc', -tcnt, 'tok', tok))),
          |  x -> x.tok), ' ')""".stripMargin).as("top_terms"))
    nm.join(labTop, Seq("cid"))
      .join(terms, Seq("cid"), "left")
      .select(col("cid"), col("n_members"), col("top_label"),
        expr("(lcnt * 100) DIV n_members").as("label_pct"),
        coalesce(col("top_terms"), lit("")).as("top_terms"))
  }

  /** emb_cluster_card oracle — the converged assignment as a derived
    * table (the [[SampleQueries.sampleClusterBalancedSql]] idiom),
    * then the identical integer majority/eligibility/top-3 chain;
    * the term join is ordered (tcnt DESC, tok) on both engines. */
  val embClusterCardSql: String =
    s"""WITH a AS (SELECT vec_id, cid
       |  FROM (${embKmeansAssignSql}) z),
       |nm AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members
       |  FROM a GROUP BY cid),
       |lc AS (SELECT a.cid, e.label, count(*) AS lcnt
       |  FROM a JOIN embeddings e USING (vec_id) GROUP BY 1, 2),
       |lt AS (SELECT cid, label AS top_label, lcnt FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cid
       |      ORDER BY lcnt DESC, label) AS rk FROM lc)
       |  WHERE rk = 1),
       |toks AS (SELECT a.cid, a.vec_id, t.tok
       |  FROM a JOIN documents d ON d.doc_id = a.vec_id,
       |    unnest(string_split(d.text, ' ')) AS t(tok)
       |  WHERE len(t.tok) > 0),
       |ntot AS (SELECT count(*) AS n FROM a),
       |dfreq AS (SELECT tok, count(*) AS df
       |  FROM (SELECT DISTINCT vec_id, tok FROM toks) GROUP BY tok),
       |elig AS (SELECT tok FROM dfreq, ntot WHERE df * 2 <= n),
       |tc AS (SELECT cid, tok, count(*) AS tcnt
       |  FROM toks JOIN elig USING (tok) GROUP BY 1, 2),
       |t3 AS (SELECT cid, tok, tcnt FROM (
       |    SELECT *, row_number() OVER (PARTITION BY cid
       |      ORDER BY tcnt DESC, tok) AS rk FROM tc)
       |  WHERE rk <= 3),
       |tm AS (SELECT cid, string_agg(tok, ' ' ORDER BY tcnt DESC, tok)
       |    AS top_terms
       |  FROM t3 GROUP BY cid)
       |SELECT nm.cid, nm.n_members, lt.top_label,
       |  CAST((lt.lcnt * 100) // nm.n_members AS BIGINT) AS label_pct,
       |  COALESCE(tm.top_terms, '') AS top_terms
       |FROM nm JOIN lt USING (cid) LEFT JOIN tm USING (cid)""".stripMargin

  /** emb_random_projection — Johnson-Lindenstrauss dimension
    * reduction (FastSig.randomProjection): every embedding projected
    * d→16 through a deterministic ±1 matrix recomputed from a seed
    * (Achlioptas'03 — nothing to broadcast, nothing stored). The
    * standard pre-step before ANN / clustering at 100 TB: downstream
    * distance work shrinks d/16× while pairwise distances are
    * preserved within the JL bound (property-tested at k=64). Pure
    * per-row kernel — zero shuffle. Hash-matrix values are
    * engine-specific ⇒ rows-only; the output carries input/output
    * norms so the distortion is visible in the dump. */
  def embRandomProjection(s: SparkSession, dir: String): DataFrame = {
    val emb = col("embedding").cast("array<double>")
    embeddings(s, dir)
      .select(col("vec_id"),
        graft.functions.FastSig.randomProjection(16)(emb).as("proj"),
        round(l2Norm(emb) + lit(1e-9), 4).as("norm_in"))
      // %.4f per element, NOT to_json: Java renders doubles below 1e-3
      // in E-notation while DuckDB does not, so the cross-engine
      // string form is the C-style fixed format both sides share
      .select(col("vec_id"),
        concat(lit("["),
          array_join(expr(
            "transform(proj, x -> format_string('%.4f', x + 1e-9))"), ","),
          lit("]")).as("proj_json"),
        col("norm_in"),
        round(l2Norm(col("proj")) + lit(1e-9), 4).as("norm_out"))
  }

  /** DuckDB re-derives the ENTIRE projection: the ±1 matrix is a pure
    * function of (seed, j, d) precomputed here as a SQL literal
    * (FastSig.projectionSign — the same kernel the UDF calls), the
    * per-component sum runs in the same ascending-d order so the
    * doubles are bit-identical, and printf('%.4f') matches
    * format_string. Matrix columns cover dims up to 256 (fixture dim
    * is far below; a larger future dim just needs the literal
    * widened). */
  val embRandomProjectionSql: String = {
    val maxDim = 256
    val rows = (0 until 16).map { j =>
      "[" + (0 until maxDim)
        .map(d => if (graft.functions.FastSig
          .projectionSign(42L, j, d) > 0) "1" else "-1")
        .mkString(",") + "]"
    }.mkString(",\n      ")
    s"""WITH s(m) AS (SELECT [$rows]),
       |p AS (
       |  SELECT vec_id, embedding IS NULL AS no_emb,
       |    CAST(embedding AS DOUBLE[]) AS e,
       |    -- coalesce: list_sum([]) is NULL in DuckDB but the Scala
       |    -- kernel folds an empty embedding to 16 exact zeros
       |    list_transform(range(1, 17), j ->
       |      coalesce(list_sum(
       |        list_transform(range(1, len(embedding) + 1), i ->
       |          CAST(embedding[i] AS DOUBLE) * m[j][i])), 0) * 0.25)
       |      AS proj
       |  FROM embeddings, s),
       |n AS (
       |  SELECT vec_id, no_emb, proj,
       |    sqrt(coalesce(list_sum(list_transform(e, x -> x * x)), 0))
       |      AS nin,
       |    sqrt(coalesce(list_sum(list_transform(proj, x -> x * x)), 0))
       |      AS nout
       |  FROM p)
       |SELECT vec_id,
       |  -- null in → empty projection out (the UDF's null contract);
       |  -- norm_in stays NULL (no vector to measure), norm_out is the
       |  -- norm of the empty projection, 0
       |  CASE WHEN no_emb THEN '[]'
       |    ELSE '[' || array_to_string(
       |      list_transform(proj, x -> printf('%.4f', x + 0.000000001)),
       |      ',') || ']' END AS proj_json,
       |  CASE WHEN no_emb THEN NULL
       |    ELSE round(nin + 0.000000001, 4) END AS norm_in,
       |  CASE WHEN no_emb THEN round(0.000000001, 4)
       |    ELSE round(nout + 0.000000001, 4) END AS norm_out
       |FROM n""".stripMargin
  }

  /** emb_stats — embedding-hygiene audit per label partition: count,
    * norm spread, dimensionality agreement, and degenerate
    * (near-zero-norm) vector count — the preflight every ANN / dedup
    * stage assumes. One scan + one hash agg; norms through the
    * codegen ArrayDotProduct kernel, computed once per row. */
  def embStats(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("label"),
        l2Norm(col("embedding").cast("array<double>")).as("nrm"),
        size(col("embedding")).cast("long").as("dim"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(avg(col("nrm")) + lit(1e-9), 4).as("avg_norm"),
        round(min(col("nrm")) + lit(1e-9), 4).as("min_norm"),
        round(max(col("nrm")) + lit(1e-9), 4).as("max_norm"),
        min(col("dim")).as("dim_min"),
        max(col("dim")).as("dim_max"),
        count(when(col("nrm") < 1e-6, lit(1))).as("n_degenerate"))

  val embStatsSql: String =
    """WITH e AS (SELECT label,
      |  sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |    v -> v*v))) AS nrm,
      |  len(embedding) AS dim FROM embeddings)
      |SELECT label, count(*) AS n,
      |  round(avg(nrm) + 1e-9, 4) AS avg_norm,
      |  round(min(nrm) + 1e-9, 4) AS min_norm,
      |  round(max(nrm) + 1e-9, 4) AS max_norm,
      |  min(dim) AS dim_min, max(dim) AS dim_max,
      |  count(*) FILTER (WHERE nrm < 1e-6) AS n_degenerate
      |FROM e GROUP BY label""".stripMargin

  /** emb_outliers — embedding-space outlier audit, the "drop corrupted
    * / off-distribution vectors" curation filter: a vector is flagged
    * when its norm sits more than 2σ from its label's mean (truncated
    * / corrupted payloads) or its cosine to the label centroid falls
    * below 0.1 (lives in the wrong region — mislabeled or garbage).
    *
    * Scale shape: label norm stats are one hash agg to |labels| rows;
    * centroids come from a posexplode + two-phase hash agg bounded by
    * |labels|×d partial sums (the refineCentroids shuffle bound); both
    * broadcast back, so scoring is map-side — the corpus is scanned
    * twice and never shuffled. */
  def embOutliers(s: SparkSession, dir: String): DataFrame =
    embOutliersFrom(withNorm(embeddings(s, dir)))

  /** Fixture-drivable core — expects (vec_id, label, emb, nrm). */
  private[graft] def embOutliersFrom(e: DataFrame): DataFrame = {
    val stats = e.groupBy(col("label")).agg(
      avg(col("nrm")).as("m"), stddev_pop(col("nrm")).as("sd"))
    val cent = e
      .select(col("label"), posexplode(col("emb")).as(Seq("i", "v")))
      .groupBy(col("label"), col("i")).agg(avg(col("v")).as("cv"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cv")))),
        p => p.getField("cv")).as("cemb"))
      .select(col("label"), col("cemb"), l2Norm(col("cemb")).as("cn"))
    e.join(broadcast(stats), Seq("label"))
      .join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        round(col("nrm") + lit(1e-9), 4).as("nrm"),
        round((col("nrm") - col("m")) / nullif(col("sd"), lit(0.0))
          + lit(1e-9), 4).as("norm_z"),
        round(arrayDot(col("emb"), col("cemb")) / (col("nrm") * col("cn"))
          + lit(1e-9), 4).as("cos_centroid"))
      .filter(abs(col("norm_z")) > 2.0 || col("cos_centroid") < 0.1)
  }

  val embOutliersSql: String =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
      |    sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
      |      v -> v*v))) AS nrm
      |  FROM embeddings),
      |stats AS (
      |  SELECT label, avg(nrm) AS m, stddev_pop(nrm) AS sd
      |  FROM e GROUP BY label),
      |cent AS (
      |  SELECT label, i, avg(emb[i]) AS cv
      |  FROM e, unnest(generate_series(1, len(emb))) AS t(i)
      |  GROUP BY label, i),
      |cnrm AS (SELECT label, sqrt(sum(cv*cv)) AS cn FROM cent GROUP BY label),
      |dots AS (
      |  SELECT e.vec_id, sum(e.emb[c.i] * c.cv) AS dot
      |  FROM e JOIN cent c ON e.label = c.label
      |  GROUP BY e.vec_id),
      |scored AS (
      |  SELECT e.vec_id, e.label,
      |    round(e.nrm + 1e-9, 4) AS nrm,
      |    round((e.nrm - s.m) / nullif(s.sd, 0.0) + 1e-9, 4) AS norm_z,
      |    round(d.dot / (e.nrm * n.cn) + 1e-9, 4) AS cos_centroid
      |  FROM e
      |  JOIN stats s ON e.label = s.label
      |  JOIN cnrm n ON e.label = n.label
      |  JOIN dots d ON e.vec_id = d.vec_id)
      |SELECT * FROM scored
      |WHERE abs(norm_z) > 2.0 OR cos_centroid < 0.1""".stripMargin

  /** emb_quantize_int8 — symmetric per-vector int8 quantization audit:
    * scale = max|x|/127, q_i = round(x_i/scale), reported with the
    * relative reconstruction error ‖x − q·scale‖/‖x‖. This is the 4×
    * storage / memory-bandwidth play every 100 TB embedding store
    * makes before ANN serving; the error column is the acceptance
    * gate (int8 typically costs <2% recall when rel_err stays small).
    *
    * Scale shape: pure per-row expressions — no shuffle, no UDF, one
    * scan; the whole audit rides whole-stage codegen. Zero vectors
    * (scale = 0) are defined as error 0 rather than NaN. Arithmetic
    * order (scale FIRST, then x/scale) is mirrored exactly in the
    * oracle — a mathematically-equal rewrite like x·127/max diverges
    * in floating point. */
  def embQuantizeInt8(s: SparkSession, dir: String): DataFrame =
    embQuantizeInt8From(embeddings(s, dir))

  /** Fixture-drivable core (vec_id, label, embedding). */
  private[graft] def embQuantizeInt8From(e: DataFrame): DataFrame = {
    val withScale = e.select(col("vec_id"), col("label"),
      transform(col("embedding"), v => v.cast("double")).as("x"))
      .withColumn("scale",
        array_max(transform(col("x"), v => abs(v))) / lit(127d))
    val err2 = aggregate(
      transform(col("x"), v => {
        val d = v - round(v / col("scale")) * col("scale")
        d * d
      }), lit(0d), (acc, v) => acc + v)
    val norm2 = aggregate(
      transform(col("x"), v => v * v), lit(0d), (acc, v) => acc + v)
    // is_degenerate comes from the UNROUNDED scale: a tiny-magnitude
    // vector (max|x| < ~6e-5) rounds q_scale to 0.000000 without
    // being the zero vector — the explicit flag keeps the sentinel
    // unambiguous instead of overloading q_scale == 0
    withScale.select(col("vec_id"), col("label"),
      round(col("scale") + lit(1e-9), 6).as("q_scale"),
      when(col("scale") === 0d, lit(0d))
        .otherwise(round(sqrt(err2 / norm2) + lit(1e-9), 4))
        .as("rel_err"),
      (col("scale") === 0d).as("is_degenerate"))
  }

  val embQuantizeInt8Sql: String =
    """WITH e AS (
      |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS x
      |  FROM embeddings),
      |s AS (
      |  SELECT vec_id, label, x,
      |    list_max(list_transform(x, v -> abs(v))) / 127 AS scale
      |  FROM e)
      |SELECT vec_id, label,
      |  round(scale + 1e-9, 6) AS q_scale,
      |  CASE WHEN scale = 0 THEN 0.0 ELSE
      |    round(sqrt(
      |      list_sum(list_transform(x,
      |        v -> (v - round(v / scale) * scale)
      |           * (v - round(v / scale) * scale))) /
      |      list_sum(list_transform(x, v -> v * v))) + 1e-9, 4)
      |  END AS rel_err,
      |  scale = 0 AS is_degenerate
      |FROM s""".stripMargin

  // ===================================================================
  // emb_pca_power / emb_pca_project — principal-axis extraction
  // ===================================================================

  private val PCA_ITERS = 10

  /** The power-iteration loop: mean-center, then K rounds of
    * v ← normalize(Σᵢ (cᵢ·v)·cᵢ) where cᵢ is the centered vector.
    * Every cross-ROW accumulation runs on the 2²⁴ fixed-point grid
    * carried as exact integers (the [[refineCentroids]] discipline):
    * the per-row projection a = ⌊(c·v)·2²⁴+½⌋ and the per-element
    * b = ⌊c_j·2²⁴+½⌋ are longs, their product is exact (≤2⁵³), and
    * the per-dimension sum Σ a·b rides a decimal(38,0) — so task
    * order and partitioning cannot move a unit and a DuckDB oracle
    * replays the whole loop bit-for-bit (HUGEINT sums). Per-ROW work
    * (the c·v fold, the norm fold) is an explicitly-sequenced
    * left-to-right double fold both engines perform identically. The
    * normalized vector re-snaps to the grid each round so the next
    * round's broadcast literal is exactly representable on both
    * engines. One bounded aggregate per round — n×d rows fold
    * map-side into d groups, nothing driver-side but d doubles — so
    * the shape is K linear corpus passes at any scale. Rows whose
    * length differs from the corpus max dimension are excluded (the
    * ragged-input audit lives in emb_stats). Degenerate corpus
    * (‖w‖ = 0): v stops moving and lam reports 0 — further rounds
    * are fixed-point identities, so early-stop equals the oracle's
    * keep-iterating CASE arm. Returns (mean, axis, lam = ‖w‖/n — the
    * top-eigenvalue estimate of the covariance — and n). */
  private[graft] def pcaPowerLoop(e0: DataFrame,
      driverCellMax: Long = DRIVER_FP_CELLS)
      : (Array[Double], Array[Double], Double, Long) = {
    val dRow = e0.agg(max(size(col("emb")))).collect()
    val d = if (dRow.isEmpty || dRow(0).isNullAt(0)) 0 else dRow(0).getInt(0)
    if (d <= 0) return (Array.empty, Array.empty, 0.0, 0L)
    val e = e0.filter(size(col("emb")) === d)
    // Wide-aggregate mean pass (guide §2.3): every row here has
    // exactly d elements, so the per-dimension decimal sums fold as d
    // aggregate expressions over the un-exploded rows — one count, d
    // exact sums, no n×d explode and no d-group shuffle. Identical
    // integers to the posexplode+groupBy(idx) form (decimal addition
    // is order-free). Falls back to the explode form past
    // WIDE_AGG_MAX_D, where 2d codegen accumulators stop paying.
    val mean = Array.fill(d)(0.0)
    var n = 0L
    if (d <= WIDE_AGG_MAX_D) {
      val aggCols = (0 until d).map { j =>
        sum(floor(element_at(col("emb"), j + 1) * lit(KMEANS_GRID)
          + lit(0.5)).cast("decimal(38,0)")).as(s"s$j")
      } :+ count(lit(1)).as("cn")
      val r = e.agg(aggCols.head, aggCols.tail: _*).collect()(0)
      n = r.getLong(d)
      if (n == 0L) return (Array.empty, Array.empty, 0.0, 0L)
      var j = 0
      while (j < d) {
        mean(j) = (r.getDecimal(j).doubleValue / n.toDouble) / KMEANS_GRID
        j += 1
      }
    } else {
      val meanRows = e
        .select(posexplode(col("emb")).as(Seq("idx", "v")))
        .withColumn("ve",
          floor(col("v") * lit(KMEANS_GRID) + lit(0.5)).cast("decimal(38,0)"))
        .groupBy(col("idx"))
        .agg(sum(col("ve")).as("sv"), count(lit(1)).as("cn"))
        .collect()
      if (meanRows.isEmpty) return (Array.empty, Array.empty, 0.0, 0L)
      n = meanRows(0).getLong(2)
      meanRows.foreach { r =>
        mean(r.getInt(0)) =
          (r.getDecimal(1).doubleValue / r.getLong(2).toDouble) / KMEANS_GRID
      }
    }
    val mLit = typedLit(mean.toSeq)
    val (v, lam) = powerIterate(
      e.select(zip_with(col("emb"), mLit, (x, m) => x - m).as("cv")),
      d, n, driverCellMax)
    (mean, v, lam, n)
  }

  /** Cell ceiling (rows × dims) for the driver fixed-point shortcut
    * of the iterative numeric kernels — the [[pagerankRanks]] /
    * DRIVER_CC_MAX idiom, sized in CELLS because each row carries d
    * doubles: 2²¹ collected doubles ≈ 16 MB, far under driver
    * headroom. Below it the K distributed rounds pay ~80–150 ms of
    * job scheduling each for microseconds of integer work; the driver
    * loop replays the IDENTICAL exact-grid arithmetic (BigInt sums =
    * the decimal(38,0) sums by associativity; per-row folds are the
    * same explicitly-sequenced IEEE ops — parity spec-pinned). Above
    * it the distributed loop runs unchanged. A `driverCellMax <= 0`
    * override disables the shortcut outright — in [[kmeansLoop]]
    * (empty input included) and in [[pcaPowerLoop]]/[[powerIterate]]
    * alike — which is how the parity spec forces the distributed
    * path. */
  private[graft] val DRIVER_FP_CELLS = 1L << 21

  /** The K-round iteration kernel over a frame of (already
    * centered/deflated) `cv` vectors — shared by the first component
    * and the deflated second component so the two loops can never
    * drift arithmetically. */
  private[graft] def powerIterate(
      eC: DataFrame, d: Int, n: Long,
      driverCellMax: Long = DRIVER_FP_CELLS): (Array[Double], Double) = {
    // driver fixed-point shortcut: every row is exactly d doubles, so
    // eligibility needs no extra pass — one collect replaces
    // PCA_ITERS aggregate jobs, and the loop's flops run in-process
    if (d > 0 && n > 0 && n <= driverCellMax / d) {
      val rows = eC.collect().map(_.getSeq[Double](0).toArray)
      return powerIterateLocal(rows, d, n)
    }
    // Persist the centered projection ONCE: the K rounds otherwise
    // each re-scan the parquet AND recompute the zip_with centering —
    // K full corpus passes for one axis (VERDICT r15 task 6; measured
    // 24.3 s cold at sf10). With the narrow (cv) frame materialized,
    // round 1 pays the scan and rounds 2..K read cached blocks —
    // MEMORY_AND_DISK, so at 100 TB the projection spills instead of
    // evicting the lake's cache. Unpersisted in finally: the memo
    // holds only session-free doubles, never cached plans.
    val cached = eC.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try powerIterateOn(cached, d, n)
    finally { cached.unpersist(); () }
  }

  /** [[powerIterateOn]] replayed on collected rows — op-for-op: the
    * per-row projection is the same left-to-right double fold, a and
    * b are the same floor-to-grid longs, Σ a·b runs in BigInt (=
    * decimal(38,0) by associativity), and the mean/norm/snap tail is
    * byte-identical code. */
  private[graft] def powerIterateLocal(
      rows: Array[Array[Double]], d: Int, n: Long)
      : (Array[Double], Double) = {
    val snap = (x: Double) => math.floor(x * KMEANS_GRID + 0.5) / KMEANS_GRID
    val v = Array.fill(d)(snap(1.0 / math.sqrt(d.toDouble)))
    var lam = 0.0
    var it = 0
    val grid2 = KMEANS_GRID * KMEANS_GRID
    while (it < PCA_ITERS) {
      val wSum = Array.fill(d)(BigInt(0))
      var r = 0
      while (r < rows.length) {
        val c = rows(r)
        var acc = 0.0
        var j = 0
        while (j < d) { acc += c(j) * v(j); j += 1 }
        val a = BigInt(math.floor(acc * KMEANS_GRID + 0.5).toLong)
        j = 0
        while (j < d) {
          wSum(j) += a * BigInt(
            math.floor(c(j) * KMEANS_GRID + 0.5).toLong)
          j += 1
        }
        r += 1
      }
      val wArr = wSum.map(w =>
        new java.math.BigDecimal(w.bigInteger).doubleValue / grid2)
      var ss = 0.0
      var i = 0
      while (i < d) { ss += wArr(i) * wArr(i); i += 1 }
      val nrm = math.sqrt(ss)
      if (nrm == 0.0) { lam = 0.0; it = PCA_ITERS }
      else {
        lam = nrm / n.toDouble
        i = 0
        while (i < d) { v(i) = snap(wArr(i) / nrm); i += 1 }
        it += 1
      }
    }
    (v, lam)
  }

  private def powerIterateOn(
      eC: DataFrame, d: Int, n: Long): (Array[Double], Double) = {
    val snap = (x: Double) => math.floor(x * KMEANS_GRID + 0.5) / KMEANS_GRID
    val v = Array.fill(d)(snap(1.0 / math.sqrt(d.toDouble)))
    var lam = 0.0
    var it = 0
    while (it < PCA_ITERS) {
      val vLit = typedLit(v.toSeq)
      // The per-row projection a is computed ONCE in a projection
      // below the aggregate; the d per-dimension Σ a·bⱼ then fold as
      // d decimal sum expressions over the un-exploded rows (guide
      // §2.3) — one narrow stage per round instead of an n×d explode
      // through a d-group hash agg. Exact-integer terms unchanged
      // (cast BEFORE multiplying: a LONG·LONG product past 2^63
      // would wrap silently while the oracle's BIGINT raises —
      // decimal multiply keeps overflow loud on both engines);
      // decimal addition is order-free, so the sums are bit-identical
      // to the explode form (the shape > WIDE_AGG_MAX_D keeps).
      val wArr = Array.fill(d)(0.0)
      if (d <= WIDE_AGG_MAX_D) {
        val proj = eC
          .select(col("cv").as("c"))
          .withColumn("a",
            floor(aggregate(zip_with(col("c"), vLit, (c, w) => c * w),
              lit(0d), (acc, x) => acc + x)
              * lit(KMEANS_GRID) + lit(0.5)).cast("decimal(38,0)"))
        // try_element_at + cast BEFORE the multiply, as in
        // refineCentroids. A ragged row's `a` is NULL (zip_with pads
        // the shorter side), and only that keeps an ANSI element_at
        // from being evaluated past the row's end; try_element_at
        // yields NULL there, so sum skips the term either way
        val aggCols = (0 until d).map { j =>
          sum(col("a") * floor(try_element_at(col("c"), lit(j + 1))
            * lit(KMEANS_GRID) + lit(0.5)).cast("decimal(38,0)")).as(s"w$j")
        }
        val r = proj.agg(aggCols.head, aggCols.tail: _*).collect()(0)
        var j = 0
        while (j < d) {
          if (!r.isNullAt(j))
            wArr(j) =
              r.getDecimal(j).doubleValue / (KMEANS_GRID * KMEANS_GRID)
          j += 1
        }
      } else {
        val rows = eC
          .select(col("cv").as("c"))
          .withColumn("s",
            aggregate(zip_with(col("c"), vLit, (c, w) => c * w),
              lit(0d), (acc, x) => acc + x))
          .withColumn("a", floor(col("s") * lit(KMEANS_GRID) + lit(0.5)))
          .select(col("a"), posexplode(col("c")).as(Seq("idx", "cv")))
          .withColumn("b", floor(col("cv") * lit(KMEANS_GRID) + lit(0.5)))
          .groupBy(col("idx"))
          .agg(sum(col("a").cast("decimal(38,0)") * col("b")).as("w"))
          .collect()
        rows.foreach { r =>
          wArr(r.getInt(0)) =
            r.getDecimal(1).doubleValue / (KMEANS_GRID * KMEANS_GRID)
        }
      }
      var ss = 0.0
      var i = 0
      while (i < d) { ss += wArr(i) * wArr(i); i += 1 }
      val nrm = math.sqrt(ss)
      if (nrm == 0.0) { lam = 0.0; it = PCA_ITERS }
      else {
        lam = nrm / n.toDouble
        i = 0
        while (i < d) { v(i) = snap(wArr(i) / nrm); i += 1 }
        it += 1
      }
    }
    (v, lam)
  }

  /** (mean, axis, lam, n) per corpus, memoized behind the corpus
    * file-stat fingerprint — the artifacts are session-free doubles,
    * so [[BuildMemo]] (completed values reusable forever) rather than
    * the persist-holding knnCache shape. */
  private val pcaMemo =
    new BuildMemo[(Array[Double], Array[Double], Double, Long)]()

  private def pcaComponentFor(s: SparkSession, dir: String)
      : (Array[Double], Array[Double], Double, Long) = {
    val fp = IndexManifest.corpusFingerprint(dir, "embeddings")
    pcaMemo.getOrBuild(s"$dir|$fp|pca", s.sparkContext) {
      MemoBuilds.record("pca_power")
      pcaPowerLoop(embeddings(s, dir).select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb")))
    }
  }

  /** The DEFLATED second component: the identical [[powerIterate]]
    * kernel run on c₂ = c − (c·v₁)·v₁ — classic deflation, with v₁
    * from the first component's memo (grid-snapped, so the
    * subtraction is over exactly the doubles the oracle recomputes).
    * No re-centering after deflation: c is already mean-centered and
    * the projection removal is the documented algorithm on both
    * engines. */
  private val pca2Memo = new BuildMemo[(Array[Double], Double)]()

  private def pca2ComponentFor(
      s: SparkSession, dir: String): (Array[Double], Double) = {
    val fp = IndexManifest.corpusFingerprint(dir, "embeddings")
    pca2Memo.getOrBuild(s"$dir|$fp|pca2", s.sparkContext) {
      MemoBuilds.record("pca_power2")
      val (mean, v1, _, n) = pcaComponentFor(s, dir)
      val d = v1.length
      if (d == 0) (Array.empty[Double], 0.0)
      else {
        val e = embeddings(s, dir)
          .select(col("embedding").cast("array<double>").as("emb"))
          .filter(size(col("emb")) === d)
        val mLit = typedLit(mean.toSeq)
        val v1Lit = typedLit(v1.toSeq)
        val eC = e
          .select(zip_with(col("emb"), mLit, (x, m) => x - m).as("c"))
          .withColumn("s1",
            aggregate(zip_with(col("c"), v1Lit, (a, b) => a * b),
              lit(0d), (acc, x) => acc + x))
          .select(zip_with(col("c"), v1Lit,
            (cj, vj) => cj - col("s1") * vj).as("cv"))
          // persist the deflated vectors across the K iterations:
          // without the barrier, CollapseProject inlines the s1 fold
          // into the per-element lambda (O(d²) per row per pass —
          // profiled 9× the first component's build at sf0.1), and
          // every iteration would re-deflate from the parquet scan
          .persist()
        try powerIterate(eC, d, n)
        finally { eC.unpersist(); () }
      }
    }
  }

  /** emb_pca_power2 — the second principal axis (deflation): with
    * [[embPcaPower]]'s axis it spans the 2-d view a curation UI plots
    * corpora in, the 2-d drift grid, and the top-2 whitening
    * transform. lam₂/lam₁ is the anisotropy ratio collapse monitors
    * track. Same schema as the first component. */
  def embPcaPower2(s: SparkSession, dir: String): DataFrame = {
    val (v2, lam2) = pca2ComponentFor(s, dir)
    import s.implicits._
    v2.toSeq.zipWithIndex.map { case (x, i) => (i, x) }
      .toDF("dim", "loading0")
      .select(col("dim"),
        round(col("loading0") + lit(1e-9), 6).as("loading"),
        round(lit(lam2) + lit(1e-9), 6).as("lam"))
  }

  /** emb_pca_power — the corpus's principal axis: one row per
    * dimension with the power-iteration loading and the shared
    * top-eigenvalue estimate (variance captured along the axis).
    * This is the embedding-tier whitening/drift primitive: the axis
    * a curation pipeline uses to de-bias ("remove the dominant
    * direction"), to whiten before cosine dedup, or to monitor for
    * representation collapse (lam spiking toward the total variance
    * means vectors are collapsing onto one line). Full recompute
    * oracle: the whole K-round loop replays in one DuckDB recursive
    * CTE ([[embPcaPowerSql]]) — state is one row per iteration with
    * the axis as a LIST payload, same idiom as [[embKmeansSql]]. */
  def embPcaPower(s: SparkSession, dir: String): DataFrame = {
    val (_, v, lam, _) = pcaComponentFor(s, dir)
    import s.implicits._
    v.toSeq.zipWithIndex.map { case (x, i) => (i, x) }
      .toDF("dim", "loading0")
      .select(col("dim"),
        round(col("loading0") + lit(1e-9), 6).as("loading"),
        round(lit(lam) + lit(1e-9), 6).as("lam"))
  }

  /** emb_pca_project — every vector's coordinate along the corpus
    * principal axis ([[embPcaPower]]'s memoized component): the
    * 1-d projection used for range-partitioned layout (sort by
    * score → neighbors co-locate), outlier triage at the tails, and
    * PCA-whitened dedup. Zero-shuffle: the (mean, axis) pair is a
    * driver literal and the projection is one codegen'd
    * left-to-right fold per row. */
  def embPcaProject(s: SparkSession, dir: String): DataFrame = {
    val (mean, v, _, _) = pcaComponentFor(s, dir)
    val d = v.length
    val e = embeddings(s, dir).select(col("vec_id"),
      col("embedding").cast("array<double>").as("emb"))
    if (d == 0)
      return e.select(col("vec_id"), lit(0d).as("score")).limit(0)
    val mLit = typedLit(mean.toSeq)
    val vLit = typedLit(v.toSeq)
    e.filter(size(col("emb")) === d)
      .select(col("vec_id"),
        round(aggregate(
          zip_with(zip_with(col("emb"), mLit, (x, m) => x - m), vLit,
            (c, w) => c * w),
          lit(0d), (acc, x) => acc + x) + lit(1e-9), 6).as("score"))
  }

  /** Shared oracle CTEs: the deterministic power loop replayed as a
    * recursive CTE — (it, v LIST, lam) state row, HUGEINT sums on the
    * 2²⁴ grid mirroring [[pcaPowerLoop]] op-for-op. */
  private def pcaSqlCtes: String =
    s"""
      |pe AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      |  FROM embeddings),
      |pdim AS (SELECT max(len(emb)) AS d FROM pe),
      |pee AS (SELECT vec_id, label, emb FROM pe
      |  WHERE len(emb) = (SELECT d FROM pdim)),
      |pn AS (SELECT count(*) AS n FROM pee),
      |pmean AS (
      |  SELECT idx, (CAST(sum(ve) AS DOUBLE) / CAST(count(*) AS DOUBLE))
      |      / 16777216.0 AS m
      |  FROM (SELECT unnest(range(1, len(emb) + 1)) AS idx,
      |          CAST(floor(unnest(emb) * 16777216.0 + 0.5) AS BIGINT) AS ve
      |        FROM pee)
      |  GROUP BY idx),
      |pml AS (SELECT list(m ORDER BY idx) AS m FROM pmean),
      |pcc AS (
      |  SELECT e.vec_id,
      |    list_transform(range(1, len(e.emb) + 1),
      |      i -> e.emb[i] - m.m[i]) AS cv
      |  FROM pee e, pml m),
      |${pcaIterCtes("p", "pcc")}""".stripMargin

  /** One power-iteration recursion over `src` (a (vec_id, cv LIST)
    * frame of centered-or-deflated vectors): generates `{p}st` (the
    * state recursion) and `{p}fin` (the final (v, lam) row). Shared
    * by the first component and the deflated second component so the
    * two replays can never drift. */
  private def pcaIterCtes(p: String, src: String): String =
    s"""${p}st(it, v, lam) AS (
       |  SELECT 0,
       |    (SELECT list_transform(range(1, d + 1),
       |       i -> floor((1.0 / sqrt(CAST(d AS DOUBLE))) * 16777216.0 + 0.5)
       |            / 16777216.0) FROM pdim),
       |    CAST(0.0 AS DOUBLE)
       |  UNION ALL
       |  SELECT it + 1,
       |    CASE WHEN nrm = 0 THEN v
       |         ELSE list_transform(wl, x ->
       |           floor((x / nrm) * 16777216.0 + 0.5) / 16777216.0) END,
       |    CASE WHEN nrm = 0 THEN 0.0
       |         ELSE nrm / (SELECT CAST(n AS DOUBLE) FROM pn) END
       |  FROM (
       |    SELECT it, v, wl,
       |      sqrt(list_reduce(list_prepend(0.0,
       |        list_transform(wl, x -> x * x)), (a, x) -> a + x)) AS nrm
       |    FROM (
       |      SELECT any_value(it) AS it, any_value(v) AS v,
       |        list(w ORDER BY idx) AS wl
       |      FROM (
       |        SELECT it, any_value(v) AS v, idx,
       |          CAST(sum(a * b) AS DOUBLE)
       |            / (16777216.0 * 16777216.0) AS w
       |        FROM (
       |          SELECT it, v,
       |            CAST(floor(sdot * 16777216.0 + 0.5) AS BIGINT) AS a,
       |            unnest(range(1, len(cv) + 1)) AS idx,
       |            CAST(floor(unnest(cv) * 16777216.0 + 0.5) AS BIGINT) AS b
       |          FROM (
       |            SELECT s.it AS it, s.v AS v, e.cv AS cv,
       |              list_reduce(list_prepend(0.0,
       |                list_transform(range(1, len(e.cv) + 1),
       |                  i -> e.cv[i] * s.v[i])),
       |                (a, x) -> a + x) AS sdot
       |            FROM ${p}st s, $src e
       |            WHERE s.it < $PCA_ITERS
       |          )
       |        ) GROUP BY it, idx
       |      ) GROUP BY it
       |    )
       |  )
       |),
       |${p}fin AS (SELECT v, lam FROM ${p}st ORDER BY it DESC LIMIT 1)""".stripMargin

  val embPcaPowerSql: String =
    s"""WITH RECURSIVE $pcaSqlCtes
       |SELECT unnest(range(1, len(v) + 1)) - 1 AS dim,
       |  round(unnest(v) + 1e-9, 6) AS loading,
       |  round(lam + 1e-9, 6) AS lam
       |FROM pfin""".stripMargin

  val embPcaProjectSql: String =
    s"""WITH RECURSIVE $pcaSqlCtes
       |SELECT e.vec_id,
       |  round(list_reduce(list_prepend(0.0,
       |    list_transform(range(1, len(e.emb) + 1),
       |      i -> (e.emb[i] - m.m[i]) * f.v[i])), (a, x) -> a + x)
       |    + 1e-9, 6) AS score
       |FROM pee e, pml m, pfin f""".stripMargin

  val embPcaPower2Sql: String =
    s"""WITH RECURSIVE $pcaSqlCtes,
       |pc2 AS (
       |  SELECT c.vec_id,
       |    list_transform(range(1, len(c.cv) + 1),
       |      i -> c.cv[i] - c.s1 * f.v[i]) AS cv
       |  FROM (
       |    SELECT e.vec_id, e.cv,
       |      list_reduce(list_prepend(0.0,
       |        list_transform(range(1, len(e.cv) + 1),
       |          i -> e.cv[i] * f0.v[i])), (a, x) -> a + x) AS s1
       |    FROM pcc e, pfin f0) c, pfin f),
       |${pcaIterCtes("q", "pc2")}
       |SELECT unnest(range(1, len(v) + 1)) - 1 AS dim,
       |  round(unnest(v) + 1e-9, 6) AS loading,
       |  round(lam + 1e-9, 6) AS lam
       |FROM qfin""".stripMargin

  /** emb_drift_pca — representation-drift monitor: the two-sample
    * Kolmogorov–Smirnov statistic between two corpus snapshots'
    * projections onto the SHARED principal axis, per label. The 1-d
    * projection is where embedding drift shows first (a new encoder
    * version, a crawl-mix shift, collapse) and is the cheapest
    * monitorable summary — the multivariate analog of agg_ks_drift's
    * per-source quality alarm. Snapshots here are the deterministic
    * vec_id-parity halves (a production feed keys on its real batch
    * column); the axis comes from [[embPcaPower]]'s memo so the
    * monitor never re-derives it.
    *
    * Scale shape (the agg_ks_drift discipline): projections round to
    * 4 decimals BEFORE the count aggregate, so the CDF grid is
    * bounded by |labels|×10⁴·range rows regardless of corpus size;
    * the corpus is scanned once and never joined or windowed. */
  def embDriftPca(s: SparkSession, dir: String): DataFrame = {
    val (mean, v, _, _) = pcaComponentFor(s, dir)
    val d = v.length
    val e = embeddings(s, dir).select(col("vec_id"), col("label"),
      col("embedding").cast("array<double>").as("emb"))
    if (d == 0)
      return e.select(col("label"), lit(0L).as("n_old"),
        lit(0L).as("n_new"), lit(0d).as("ks_d")).limit(0)
    val mLit = typedLit(mean.toSeq)
    val vLit = typedLit(v.toSeq)
    val q = round(aggregate(
      zip_with(zip_with(col("emb"), mLit, (x, m) => x - m), vLit,
        (c, w) => c * w),
      lit(0d), (acc, x) => acc + x) + lit(1e-9), 4)
    val cnt = e.filter(size(col("emb")) === d)
      .select(col("label"),
        (((col("vec_id") % 2) + 2) % 2 === 0).as("is_old"), q.as("q"))
      .groupBy(col("label"), col("is_old"), col("q"))
      .agg(count(lit(1)).as("n"))
    val grid = cnt.groupBy(col("label"), col("q"))
      .agg(sum(when(col("is_old"), col("n")).otherwise(lit(0L)))
        .as("n_old"),
        sum(when(!col("is_old"), col("n")).otherwise(lit(0L)))
          .as("n_new"))
    val w = Window.partitionBy(col("label")).orderBy(col("q"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("label"))
    grid
      .withColumn("cum_old", sum(col("n_old")).over(w))
      .withColumn("cum_new", sum(col("n_new")).over(w))
      .withColumn("t_old", sum(col("n_old")).over(tot))
      .withColumn("t_new", sum(col("n_new")).over(tot))
      .filter(col("t_old") > 0 && col("t_new") > 0)
      .groupBy(col("label"))
      .agg(max(col("t_old")).as("n_old"), max(col("t_new")).as("n_new"),
        round(max(abs(col("cum_old") / col("t_old")
          - col("cum_new") / col("t_new"))) + lit(1e-9), 4).as("ks_d"))
  }

  val embDriftPcaSql: String =
    s"""WITH RECURSIVE $pcaSqlCtes,
       |prj AS (
       |  SELECT e.label,
       |    ((e.vec_id % 2) + 2) % 2 = 0 AS is_old,
       |    round(list_reduce(list_prepend(0.0,
       |      list_transform(range(1, len(e.emb) + 1),
       |        i -> (e.emb[i] - m.m[i]) * f.v[i])), (a, x) -> a + x)
       |      + 1e-9, 4) AS q
       |  FROM pee e, pml m, pfin f),
       |cnt AS (SELECT label, is_old, q, count(*) AS n
       |  FROM prj GROUP BY label, is_old, q),
       |grid AS (
       |  SELECT label, q,
       |    sum(CASE WHEN is_old THEN n ELSE 0 END) AS n_old,
       |    sum(CASE WHEN NOT is_old THEN n ELSE 0 END) AS n_new
       |  FROM cnt GROUP BY label, q),
       |cdf AS (
       |  SELECT label,
       |    sum(n_old) OVER (PARTITION BY label ORDER BY q
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_old,
       |    sum(n_new) OVER (PARTITION BY label ORDER BY q
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_new,
       |    sum(n_old) OVER (PARTITION BY label) AS t_old,
       |    sum(n_new) OVER (PARTITION BY label) AS t_new
       |  FROM grid)
       |SELECT label, CAST(max(t_old) AS BIGINT) AS n_old,
       |  CAST(max(t_new) AS BIGINT) AS n_new,
       |  round(max(abs(CAST(cum_old AS DOUBLE) / t_old
       |    - CAST(cum_new AS DOUBLE) / t_new)) + 1e-9, 4) AS ks_d
       |FROM cdf WHERE t_old > 0 AND t_new > 0
       |GROUP BY label""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "emb_quantize_int8" -> (embQuantizeInt8 _),
    "emb_outliers" -> (embOutliers _),
    "sim_topk_cosine" -> (simTopkCosine _),
    "sim_pairwise_threshold" -> (simPairwiseThreshold _),
    "sim_ann_lsh" -> (simAnnLsh _),
    "sim_ann_ivf" -> (simAnnIvf _),
    "sim_ann_ivf_indexed" -> (simAnnIvfIndexed _),
    "sim_ann_serve_batch" -> (simAnnServeBatch _),
    "sim_ann_ivf_audit" -> (simAnnIvfAudit _),
    "snk_vector_index" -> (snkVectorIndex _),
    "snk_vector_index_compact" -> (snkVectorIndexCompact _),
    "snk_vector_index_delete" -> (snkVectorIndexDelete _),
    "sim_ann_ivf_rebuild" -> (simAnnIvfRebuild _),
    "sim_ann_ivf_repair" -> (simAnnIvfRepair _),
    "dedup_near_embedding" -> (dedupNearEmbedding _),
    "sim_knn_join" -> (simKnnJoin _),
    "dedup_semantic" -> (dedupSemantic _),
    "emb_stats" -> (embStats _),
    "emb_random_projection" -> (embRandomProjection _),
    "emb_kmeans" -> (embKmeans _),
    "emb_kmeans_assign" -> (embKmeansAssign _),
    "emb_cluster_card" -> (embClusterCard _),
    "emb_pca_power" -> (embPcaPower _),
    "emb_pca_power2" -> (embPcaPower2 _),
    "emb_pca_project" -> (embPcaProject _),
    "emb_drift_pca" -> (embDriftPca _),
    "sim_hybrid_rrf" -> (simHybridRrf _),
    "sim_hybrid_serve" -> (simHybridServe _),
    "sim_hybrid_serve_batch" -> (simHybridServeBatch _),
    "sim_mmr_rerank" -> (simMmrRerank _),
    "pipeline_decontaminate_retrieval" -> (pipelineDecontaminateRetrieval _),
    "sim_mmr_serve" -> (simMmrServe _),
    "graph_pagerank" -> (graphPagerank _),
    "dedup_keep_central" -> (dedupKeepCentral _)
  )

  def oracle: Map[String, String] = Map(
    "emb_quantize_int8" -> embQuantizeInt8Sql,
    "emb_outliers" -> embOutliersSql,
    "sim_topk_cosine" -> simTopkCosineSql,
    "sim_pairwise_threshold" -> simPairwiseThresholdSql,
    "emb_stats" -> embStatsSql,
    "snk_vector_index_delete" -> snkVectorIndexDeleteSql,
    "sim_ann_ivf_rebuild" -> simAnnIvfRebuildSql,
    "sim_ann_ivf_repair" -> simAnnIvfRepairSql,
    "snk_vector_index" -> snkVectorIndexSql,
    "snk_vector_index_compact" -> snkVectorIndexCompactSql,
    "emb_random_projection" -> embRandomProjectionSql,
    "sim_ann_lsh" -> simAnnLshSql,
    "dedup_near_embedding" -> dedupNearEmbeddingSql,
    "sim_knn_join" -> simKnnJoinSql,
    "dedup_semantic" -> dedupSemanticSql,
    "emb_kmeans" -> embKmeansSql,
    "emb_kmeans_assign" -> embKmeansAssignSql,
    "emb_cluster_card" -> embClusterCardSql,
    "emb_pca_power" -> embPcaPowerSql,
    "emb_pca_power2" -> embPcaPower2Sql,
    "emb_pca_project" -> embPcaProjectSql,
    "emb_drift_pca" -> embDriftPcaSql,
    "sim_ann_ivf" -> simAnnIvfSql,
    "sim_ann_ivf_indexed" -> simAnnIvfIndexedSql,
    "sim_ann_serve_batch" -> simAnnServeBatchSql,
    "sim_ann_ivf_audit" -> simAnnIvfAuditSql,
    "sim_hybrid_rrf" -> simHybridRrfSql,
    "sim_hybrid_serve" -> simHybridServeSql,
    "sim_hybrid_serve_batch" -> simHybridServeBatchSql,
    "sim_mmr_rerank" -> simMmrRerankSql,
    "pipeline_decontaminate_retrieval" -> pipelineDecontaminateRetrievalSql,
    "sim_mmr_serve" -> simMmrServeSql,
    "graph_pagerank" -> graphPagerankSql,
    "dedup_keep_central" -> dedupKeepCentralSql
  )
}
