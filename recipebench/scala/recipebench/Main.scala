package recipebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{GraftExtensions, GraftSession}

/** The JVM half of the recipe benchmark: runs one workload on a
  * `local[4]` session, through the program's public calls only, and
  * writes what it timed and what the program returned to
  * `<out>/result.json`. run.py generates the inputs, starts this
  * process, and checks the outputs.
  *
  *   recipebench.Main --workload <name> --spec <spec.json> --out <dir>
  *                    --trace <0|1> --seconds <n>
  */
object Main {
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = opts("out")
    val ctx = new Ctx(
      spec = mapper.readTree(new File(opts("spec"))),
      out = out,
      seconds = opts("seconds").toDouble,
      tracer = new Tracer(opts("trace") == "1"))
    val spark = GraftSession.configure(SparkSession.builder()
        .master("local[4]")
        .appName("recipebench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse"))
      .getOrCreate()
    var code = 0
    try {
      GraftExtensions.register(spark)
      spark.sparkContext.setLogLevel("WARN")
      val probe = if (ctx.tracer.enabled) Some(new Probe(spark)) else None
      val workload: Workload = opts("workload") match {
        case "nrt_upsert" => new NrtUpsert(spark, ctx, probe)
        case "stac_search" => new StacSearch(spark, ctx, probe)
        case "curation_pass" => new CurationPass(spark, ctx, probe)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      try {
        ctx.log("session ready")
        workload.setup()
        ctx.result("setup_end_ms") = System.currentTimeMillis()
        ctx.log("set-up done")
        ctx.opCpuMs = 0.0
        workload.measure()
        ctx.result("op_cpu_ms") = ctx.opCpuMs
        ctx.log("measured")
      } finally workload.close()
      ctx.result("jvm") = Jvm.stats()
      if (ctx.tracer.enabled)
        ctx.result("spans") = ctx.tracer.all.map(s =>
          Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
            "start_ms" -> s.startNs / 1e6, "ms" -> s.ms))
      ctx.result("written_ms") = System.currentTimeMillis()
      Files.write(Paths.get(out, "result.json"),
        mapper.writeValueAsString(ctx.result).getBytes(StandardCharsets.UTF_8))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 1
    } finally spark.stop()
    // a stray non-daemon thread must not keep the process alive
    System.exit(code)
  }
}

/** Per-run state shared by the workloads. */
final class Ctx(val spec: JsonNode, val out: String, val seconds: Double,
    val tracer: Tracer) {
  /** Everything result.json will hold, by key. */
  val result: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** Process CPU time spent inside timed operations, all threads. */
  var opCpuMs = 0.0
  def cpuTimed[T](body: => T): T = {
    val c0 = Jvm.cpuMs()
    try body finally opCpuMs += Jvm.cpuMs() - c0
  }
  def deadlineNs(): Long = System.nanoTime() + (seconds * 1e9).toLong
  /** Whether a timed loop that started at `t0Ns` and has done `done`
    * whole operations starts another: always until `min` are done, then
    * only while one more, at the mean time of those so far, is expected
    * to end within `--seconds`. A loop that ran until the deadline
    * instead would time one operation more or less from run to run
    * wherever the operations' time nears the deadline, and a run's
    * median would move with that count. */
  def another(done: Int, min: Int, t0Ns: Long): Boolean = done < min || {
    val now = System.nanoTime()
    now + (now - t0Ns) / done <= t0Ns + (seconds * 1e9).toLong
  }
  /** Progress line on stderr (run.py keeps it in jvm.log). */
  def log(what: String): Unit =
    System.err.println(f"[recipebench] ${System.currentTimeMillis() / 1000.0}%.3f $what")
}

trait Workload {
  def setup(): Unit
  def measure(): Unit
  def close(): Unit = ()
}

object Jvm {
  /** GC time and peak resident set of this process. */
  def stats(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).filter(_ >= 0).sum.toDouble
    val hwmKb = scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)
        .getOrElse(0.0)
    }.getOrElse(0.0)
    Map("gc_ms" -> gcMs, "peak_rss_mb" -> hwmKb / 1024.0)
  }

  /** CPU time of this process, all threads, in ms. Unlike wall time it
    * does not grow while the host steals the vCPUs. */
  def cpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }
}
