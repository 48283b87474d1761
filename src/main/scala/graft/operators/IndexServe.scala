package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The PUBLIC serve API for the persisted indexes — a collecting
  * facade that makes the quiesce contract's serve side the DEFAULT
  * path instead of an opt-in.
  *
  * Why a facade: the lazy serve internals
  * ([[TextQueries.bm25ServeFrom]], [[SimilarityQueries.annServeFrom]]
  * and their batch forms) return DataFrames whose execution happens
  * AFTER the call returns, so they cannot hold the serve lease
  * themselves — a maintenance swap starting between plan and collect
  * would delete directories under a mid-flight scan, exactly the race
  * [[IndexLease]] exists to prevent. Each method here wraps plan AND
  * execution in [[IndexLease.withServeLease]], so any maintenance
  * attempt overlapping a serve refuses with the live lease count, and
  * a serve attempted during maintenance throws instead of scanning
  * vanishing files. The internals are `private[operators]`; request
  * handlers (the engine's analog of the reference's user-facing
  * search tier, `docker-compose.yml:1-28`) cannot reach an unleased
  * serve path.
  *
  * Collecting is bounded by construction — every serve is top-k
  * shaped, ≤ k rows per query — and the returned DataFrame is a LOCAL
  * relation: downstream use (writes, joins, display) never re-reads
  * the index, so nothing needs the lease after return. Throughput at
  * serve scale comes from the batch forms (one Spark job for a whole
  * query table), not from deferring execution.
  */
object IndexServe {

  /** Materialize a bounded frame (serves call it under the lease) and
    * return it as a local-relation frame: no RDD outlives the call. */
  private[operators] def collected(
      s: SparkSession, df: DataFrame): DataFrame = {
    val rows = df.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
  }

  /** BM25 top-`k` for one term set from the text index at `root`,
    * leased across plan and execution. */
  def bm25TopK(s: SparkSession, root: String,
      terms: Seq[String] = TextQueries.BM25_QUERY,
      k: Int = 20): DataFrame =
    IndexLease.withServeLease(root) {
      collected(s, TextQueries.bm25ServeFrom(s, root, terms, k))
    }

  /** BM25 top-`k` for EVERY query in `queries` (query_id, term) in one
    * leased job — the amortized concurrent-serve shape. */
  def bm25TopKBatch(s: SparkSession, root: String,
      queries: DataFrame, k: Int = 20): DataFrame =
    IndexLease.withServeLease(root) {
      collected(s, TextQueries.bm25ServeBatchFrom(s, root, queries, k))
    }

  /** ANN top-`k` for one query vector from the IVF index at `root`,
    * leased across plan and execution. */
  def annTopK(s: SparkSession, root: String,
      qv: Array[Double], qn: Double, k: Int = 10,
      nprobe: Option[Int] = None): DataFrame =
    IndexLease.withServeLease(root) {
      collected(s, SimilarityQueries.annServeFrom(s, root, qv, qn, k, nprobe))
    }

  /** ANN top-`k` for EVERY query in `queries` (query_id, qv, qn) in
    * one leased job. */
  def annTopKBatch(s: SparkSession, root: String,
      queries: DataFrame, k: Int = 10,
      nprobe: Option[Int] = None): DataFrame =
    IndexLease.withServeLease(root) {
      collected(s,
        SimilarityQueries.annServeBatchFrom(s, root, queries, k, nprobe))
    }

  /** MMR-diversified ANN top-k from the IVF index at `root`: the
    * probed-list pool (vectors riding the assignments read) is
    * collected under the serve lease, then the pool-bounded greedy
    * runs driver-side — the diversified serve endpoint. `poolK`
    * bounds the candidate pool; the greedy's own k is the operator
    * constant. */
  def annMmrTopK(s: SparkSession, root: String,
      qv: Array[Double], qn: Double,
      poolK: Int = 50): DataFrame = {
    val pool = IndexLease.withServeLease(root) {
      SimilarityQueries.annServePoolFrom(s, root, qv, qn, poolK)
        .collect()
    }.map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
      r.getDouble(2), r.getDouble(3)))
    SimilarityQueries.mmrGreedy(s, pool)
  }

  /** ANN top-`k` served from the PQ sidecar (asymmetric-distance
    * scoring over M-byte codes — the 100 TB read path), leased across
    * plan and execution. Refuses loudly on a stale sidecar. */
  def annTopKPq(s: SparkSession, root: String,
      qv: Array[Double], qn: Double, k: Int = 10,
      nprobe: Option[Int] = None): DataFrame =
    IndexLease.withServeLease(root) {
      collected(s, PqIndex.annTopKPqFrom(s, root, qv, qn, k, nprobe))
    }

  /** PQ-served ANN top-`k` for EVERY query in `queries` (query_id,
    * qv, qn) — two leased jobs for the whole table. */
  def annTopKPqBatch(s: SparkSession, root: String,
      queries: DataFrame, k: Int = 10,
      nprobe: Option[Int] = None): DataFrame =
    IndexLease.withServeLease(root) {
      collected(s, PqIndex.annTopKPqBatchFrom(s, root, queries, k, nprobe))
    }
}
