package recipebench

import java.io.File

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{CatalogStore, InsituAssembly, ItemAssembly}
import graft.ingest.{FixtureGranuleSource, InsituSource}

/** The two recipes' public ingest path: sources → assembly, plus the
  * catalog file statistics the per-layer table reports. */
object Recipes {

  /** v2.GranuleGridSource over [start, end] on the 3-minute grid. */
  def grid(spark: SparkSession, start: String, end: String): DataFrame =
    spark.read.format("graft.ingest.v2.GranuleGridSource")
      .option("start", start).option("end", end)
      .option("numPartitions", "4")
      .load()

  def gridOf(spark: SparkSession, w: JsonNode): DataFrame =
    grid(spark, w.get("start").asText, w.get("end").asText)

  def fixture(spark: SparkSession, f: JsonNode): DataFrame = {
    val missing = (0 until f.get("missing").size).map(f.get("missing").get(_).asText)
    new FixtureGranuleSource(f.get("start").asText, f.get("end").asText,
      missing, f.get("bad_every").asInt).granules(spark)
  }

  /** InsituSource platforms with lo <= platform index < hi (the index
    * is the numeric suffix of the platform code). */
  def insitu(spark: SparkSession, month: String, lo: Int, hi: Int): DataFrame = {
    val all = InsituSource.platforms(spark, hi, month)
    if (lo == 0) all
    else all.filter(substring_index(col("id"), "-", -1).cast("int") >= lo)
  }

  def insituOf(spark: SparkSession, s: JsonNode): DataFrame =
    insitu(spark, s.get("month").asText, 0, s.get("platforms").asInt)

  /** Items of both recipes, as one frame, and their quarantine frames. */
  def assemble(granules: DataFrame, platforms: DataFrame)
      : (DataFrame, DataFrame, DataFrame) = {
    val (gItems, gBad) = ItemAssembly.assemble(granules)
    val (iItems, iBad) = InsituAssembly.assemble(platforms)
    (gItems.unionByName(iItems), gBad, iBad)
  }

  /** (parquet files, bytes) under a catalog directory. */
  def fileStats(dir: String): (Long, Long) = {
    var files, bytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else if (f.getName.endsWith(".parquet")) { files += 1; bytes += f.length }
    walk(new File(dir))
    (files, bytes)
  }

  /** Copy a directory tree (a catalog, for the checks to read later). */
  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val walk = java.nio.file.Files.walk(src)
    try walk.forEach { f =>
      java.nio.file.Files.copy(f, dst.resolve(src.relativize(f)))
    } finally walk.close()
  }

  /** Leaf directory → its parquet file names, to see which leaves an
    * upsert rewrote. */
  def leaves(dir: String): Map[String, Set[String]] = {
    val out = mutable.Map.empty[String, Set[String]]
    def walk(f: File): Unit = Option(f.listFiles).foreach { kids =>
      val names = kids.filter(k => k.isFile && k.getName.endsWith(".parquet"))
        .map(_.getName).toSet
      if (names.nonEmpty) out(f.getPath) = names
      kids.filter(k => k.isDirectory && !k.getName.startsWith(".")).foreach(walk)
    }
    walk(new File(dir))
    out.toMap
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Spark scheduling counts of one operation, summed over its cuts. */
  def sparkPerOp(cs: Seq[SparkCounts]): Map[String, Double] = Map(
    "spark.jobs_per_request" -> cs.map(_.jobs).sum.toDouble,
    "spark.tasks_per_request" -> cs.map(_.tasks).sum.toDouble,
    "spark.scheduler_delay_ms" -> cs.map(_.schedulerDelayMs).sum)
}

/** One bulk ingest of both recipes into an empty month-partitioned
  * catalog: sources → ItemAssembly/InsituAssembly → CatalogStore
  * .writeMonthly, plus the two quarantine tables. */
object BulkIngest {

  def ingest(catalog: String, quarantine: String,
      granules: DataFrame, platforms: DataFrame): Unit = {
    val (items, gBad, iBad) = Recipes.assemble(granules, platforms)
    CatalogStore.writeMonthly(items, catalog)
    gBad.write.parquet(s"$quarantine/granules")
    iBad.write.parquet(s"$quarantine/insitu")
  }

  /** The same ingest with every lazy frame materialized at its layer
    * boundary (`cache` + `count`), so the time splits into source,
    * assembly and store. Returns the per-layer figures. */
  def traced(catalog: String, quarantine: String, g0: DataFrame, p0: DataFrame,
      tr: Tracer, p: Probe): Map[String, Double] = {
    val (granules, platforms) = (g0.cache(), p0.cache())
    p.cut()
    val (rows, sourceMs) = Jvm.time(tr.span("ingest.source") { granules.count() + platforms.count() })
    p.cut()
    val (items, gBad, iBad) = Recipes.assemble(granules, platforms)
    items.cache()
    val ((nItems, nBad), assemblyMs) = Jvm.time(tr.span("assembly") {
      (items.count(), gBad.count() + iBad.count())
    })
    p.cut()
    val (_, writeMs) = Jvm.time(tr.span("store.write") {
      CatalogStore.writeMonthly(items, catalog)
      gBad.write.parquet(s"$quarantine/granules")
      iBad.write.parquet(s"$quarantine/insitu")
    })
    p.cut()
    items.unpersist(); granules.unpersist(); platforms.unpersist()
    val (files, bytes) = Recipes.fileStats(catalog)
    Map(
      "ingest.source_rows" -> rows.toDouble,
      "ingest.source_s" -> sourceMs / 1000,
      "assembly.items_out" -> nItems.toDouble,
      "assembly.quarantined" -> nBad.toDouble,
      "assembly.s" -> assemblyMs / 1000,
      "store.write_s" -> writeMs / 1000,
      "store.files_written" -> files.toDouble,
      "store.bytes_written" -> bytes.toDouble)
  }
}
