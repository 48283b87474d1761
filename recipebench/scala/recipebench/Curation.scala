package recipebench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.MemoBuilds

/** Passes over the heavy LLM-data qids: each qid's SparkEntry.queries
  * frame is written to parquet, with the qids' DuckDB oracle SQL beside
  * them for the checks. Every pass reads its own copy of the tables (a
  * root of its own), so the operators' memoized builds, keyed by table
  * root, are built afresh in every pass. */
final class CurationPass(spark: SparkSession, ctx: Ctx, probe: Option[Probe])
    extends Workload {
  private val qids = ctx.spec.get("qids").elements().asScala.map(_.asText).toIndexedSeq
  private val roots = ctx.spec.get("sf_dirs").elements().asScala.map(_.asText).toIndexedSeq
  private val oracle = SparkEntry.oracleSql.filter { case (q, _) => qids.contains(q) }

  /** One pass over every qid on the tables at `roots(k)`; each result
    * is written to `results/pass-k/<qid>`, laid out as harness/check.py
    * reads it. Returns ms per qid. */
  private def pass(k: Int, counts: mutable.ArrayBuffer[SparkCounts]): Seq[(String, Double)] = {
    val dir = Files.createDirectories(Paths.get(s"${ctx.out}/results/pass-$k"))
    Files.write(dir.resolve("oracle_sql.json"),
      Main.mapper.writeValueAsString(oracle).getBytes(StandardCharsets.UTF_8))
    val queries = SparkEntry.queries
    qids.map { q =>
      spark.sparkContext.setJobDescription(q)
      val (_, ms) = Jvm.time(ctx.tracer.span(s"op.$q") {
        queries(q)(spark, roots(k)).coalesce(1).write.parquet(s"$dir/$q")
      })
      probe.foreach(p => counts += p.cut())
      q -> ms
    }
  }

  /** The cold pass: the first one in the JVM, on roots(0). It warms the
    * JIT and the planner for the timed passes, and its cost shows in
    * setup_s. */
  def setup(): Unit = pass(0, mutable.ArrayBuffer.empty)

  /** Whole passes on roots(1), roots(2), ..., at least one (Ctx.another).
    * A cold pass spreads by a third from run to run; a warm one does
    * not. */
  def measure(): Unit = {
    val counts = mutable.ArrayBuffer.empty[SparkCounts]
    val memo0 = MemoBuilds.count
    probe.foreach(_.cut())
    val passMs = mutable.ArrayBuffer.empty[Double]
    val qidMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val errors = mutable.ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    var k = 1
    while (errors.isEmpty && k < roots.size && ctx.another(k - 1, 1, t0)) {
      val t0 = System.nanoTime()
      try {
        ctx.cpuTimed(pass(k, counts)).foreach { case (q, ms) =>
          qidMs.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms
        }
        passMs += (System.nanoTime() - t0) / 1e6
      } catch { case NonFatal(e) => errors += s"pass $k: $e" }
      k += 1
    }
    val passes = k - 1
    ctx.result("passes") = passes
    ctx.result("attempted") = passes * qids.size
    ctx.result("failed") = if (errors.isEmpty) 0 else qids.size
    ctx.result("errors") = errors.toSeq
    ctx.result("op_ms") = passMs.toSeq
    ctx.result("qid_ms") = qidMs.map { case (q, ms) => q -> ms.toSeq }.toMap
    if (probe.nonEmpty) {
      val n = math.max(1, counts.size).toDouble
      ctx.result("layers") = qidMs.map { case (q, ms) =>
        s"op.${q}_s" -> ms.sum / ms.size / 1000 }.toMap ++ Map(
        "op.memo_builds" -> (MemoBuilds.count - memo0).toDouble / math.max(1, passes),
        "op.shuffle_bytes" -> counts.map(_.shuffleWriteBytes).sum / n,
        "op.spill_bytes" -> counts.map(_.spillBytes).sum / n,
        "spark.jobs_per_request" -> counts.map(_.jobs).sum / n,
        "spark.tasks_per_request" -> counts.map(_.tasks).sum / n,
        "spark.scheduler_delay_ms" -> counts.map(_.schedulerDelayMs).sum / n)
    }
  }
}
