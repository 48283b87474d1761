package recipebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.time.{Duration, OffsetDateTime}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.{CatalogQuery, CatalogStore, Cql2Filter, FeatureCollection, StacApiServer}

/** A blocking STAC client: one request in flight, the caller waits for
  * the reply (the reference's pystac-style callers). */
final class StacClient(base: String) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** One exchange: (status, body, milliseconds). */
  def send(method: String, pathAndQuery: String,
      body: Option[String] = None): (Int, String, Double) = {
    val b = HttpRequest.newBuilder(URI.create(base + pathAndQuery))
      .timeout(Duration.ofSeconds(120))
    val req = body match {
      case Some(s) => b.header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(s)).build()
      case None => b.GET().build()
    }
    val t0 = System.nanoTime()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    (r.statusCode, r.body, (System.nanoTime() - t0) / 1e6)
  }
}

object Stac {
  private def enc(s: String) = java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

  def query(params: Seq[(String, String)]): String =
    if (params.isEmpty) "" else params.map { case (k, v) => s"$k=${enc(v)}" }.mkString("?", "&", "")

  def nums(n: JsonNode): Seq[Double] = (0 until n.size).map(n.get(_).asDouble)
  def strs(n: JsonNode): Seq[String] = (0 until n.size).map(n.get(_).asText)

  def polygon(b: Seq[Double]): String = {
    val Seq(w, s, e, n) = b
    s"""{"type":"Polygon","coordinates":[[[$w,$s],[$e,$s],[$e,$n],[$w,$n],[$w,$s]]]}"""
  }

  /** RFC 3339 `a/b` interval, as the server's datetime parameter reads it. */
  def interval(s: String): (Timestamp, Timestamp) = s.split("/") match {
    case Array(a, b) => (Timestamp.from(OffsetDateTime.parse(a).toInstant),
      Timestamp.from(OffsetDateTime.parse(b).toInstant))
  }

  /** Feature ids of a FeatureCollection page, and its next link. */
  def page(body: String): (Seq[String], Option[String]) = {
    val n = Main.mapper.readTree(body)
    val ids = n.get("features").elements().asScala.map(_.get("id").asText).toSeq
    val next = n.get("links").elements().asScala
      .find(_.get("rel").asText == "next").map(_.get("href").asText)
    (ids, next)
  }

  /** total_count and both frequency distributions of /aggregations. */
  def aggregations(body: String): Map[String, Any] = {
    val aggs = Main.mapper.readTree(body).get("aggregations").elements().asScala
      .map(a => a.get("name").asText -> a).toMap
    def buckets(name: String) = aggs(name).get("buckets").elements().asScala
      .map(b => b.get("key").asText -> b.get("frequency").asLong).toMap
    Map("total" -> aggs("total_count").get("value").asLong,
      "collections" -> buckets("collection_frequency"),
      "months" -> buckets("datetime_frequency"))
  }

  /** The archive both catalog-serving workloads start from. */
  def writeArchive(spark: SparkSession, spec: JsonNode, path: String): Unit = {
    val (items, _, _) = Recipes.assemble(
      Recipes.gridOf(spark, spec.get("archive")),
      Recipes.insituOf(spark, spec.get("insitu")))
    CatalogStore.writeMonthly(items, path)
  }
}

/** One seeded request program of the search mix (gen.py stac_search):
  * its HTTP form, and the CatalogQuery.Search a direct
  * FeatureCollection.page call runs for the same request. */
final case class Program(p: JsonNode) {
  val pid: Int = p.get("pid").asInt
  val kind: String = p.get("kind").asText
  private def opt(k: String): Option[JsonNode] = Option(p.get(k))

  /** (method, path+query, body) of the first request. */
  def request: (String, String, Option[String]) = kind match {
    case "search_get" => ("GET", "/search" + Stac.query(Seq(
      "bbox" -> Stac.nums(p.get("bbox")).mkString(","),
      "datetime" -> p.get("datetime").asText,
      "limit" -> p.get("limit").asText)), None)
    case "search_post" =>
      val filter = opt("cql2_text") match {
        case Some(t) => s""""filter":${t.toString},"filter-lang":"cql2-text""""
        case None => s""""filter":${p.get("cql2_json").toString},"filter-lang":"cql2-json""""
      }
      ("POST", "/search", Some(s"""{"intersects":${Stac.polygon(Stac.nums(p.get("intersects")))},""" +
        s"""$filter,"limit":${p.get("limit").asInt}}"""))
    case "walk" => ("GET", s"/collections/${p.get("collection").asText}/items" + Stac.query(
      Seq("limit" -> p.get("limit").asText) ++
        opt("datetime").map(d => "datetime" -> d.asText)), None)
    case "item" => ("GET",
      s"/collections/${p.get("collection").asText}/items/${p.get("id").asText}", None)
    case "aggregate" => ("GET", "/aggregations" + aggParams, None)
  }

  /** The walk's closing /aggregations request over the same filter. */
  def walkAggregation: String = "/aggregations" + Stac.query(
    Seq("collections" -> p.get("collection").asText) ++
      opt("datetime").map(d => "datetime" -> d.asText))

  private def aggParams: String = Stac.query(
    opt("collections").map(c => "collections" -> Stac.strs(c).mkString(",")).toSeq ++
      opt("bbox").map(b => "bbox" -> Stac.nums(b).mkString(",")) ++
      opt("datetime").map(d => "datetime" -> d.asText))

  /** The search a direct FeatureCollection.page runs (first page). */
  def search: Option[CatalogQuery.Search] = kind match {
    case "search_get" =>
      val Seq(w, s, e, n) = Stac.nums(p.get("bbox"))
      Some(CatalogQuery.Search(bbox = Some((w, s, e, n)),
        interval = Some(Stac.interval(p.get("datetime").asText)),
        limit = p.get("limit").asInt))
    case "search_post" => Some(CatalogQuery.Search(
      intersects = Some(Stac.polygon(Stac.nums(p.get("intersects")))),
      cql2 = opt("cql2_text").map(_.asText),
      cql2Json = opt("cql2_json").map(_.toString),
      limit = p.get("limit").asInt))
    case "walk" => Some(CatalogQuery.Search(
      collections = Seq(p.get("collection").asText),
      interval = opt("datetime").map(d => Stac.interval(d.asText)),
      limit = p.get("limit").asInt))
    case "item" => Some(CatalogQuery.Search(
      collections = Seq(p.get("collection").asText),
      ids = Seq(p.get("id").asText), limit = 1))
    case _ => None
  }
}

/** Serves the archive read-only to closed-loop clients. */
final class StacSearch(spark: SparkSession, ctx: Ctx, probe: Option[Probe])
    extends Workload {
  private val spec = ctx.spec
  private val programs = spec.get("programs").elements().asScala.map(Program).toIndexedSeq
  private var server: StacApiServer = _
  private var base: String = _
  private var items: DataFrame = _
  private val path = s"${ctx.out}/catalog"
  /** Evidence of each program's first run, keyed by pid. */
  private val first = new java.util.concurrent.ConcurrentHashMap[Int, Map[String, Any]]
  private val mismatched = new java.util.concurrent.ConcurrentLinkedQueue[Int]
  private val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val returned = new java.util.concurrent.atomic.AtomicLong

  /** Each client's own seeded order of every program. */
  private val orders = {
    val o = spec.get("client_orders")
    (0 until o.size).map(i => (0 until o.get(i).size).map(j => programs(o.get(i).get(j).asInt)))
  }

  /** The archive, the server, and one untimed pass of every client over
    * its order: it warms the JIT and Spark's code generation for each
    * request shape under the same concurrency as the timed loop; the
    * checks cover its answers too. */
  def setup(): Unit = {
    Stac.writeArchive(spark, spec, path)
    ctx.log("archive written")
    items = CatalogStore.read(spark, path)
    server = new StacApiServer(items)
    base = server.start()
    clients((i, pass) => if (pass == 0) orders(i) else Nil, (_, _) => ())
  }

  /** One request, its reply read by `parse`; `sample` sees (latency ms,
    * status, bytes, ok) of it. A request that throws, answers with
    * another status than 200, or whose reply does not parse, is not ok. */
  private def request[T](c: StacClient, method: String, pq: String, body: Option[String],
      sample: (Double, Int, Int, Boolean) => Unit)(parse: String => T): T = {
    val t0 = System.nanoTime()
    var ms = -1.0
    var status, bytes = -1
    var ok = false
    try {
      val (st, text, sendMs) = c.send(method, pq, body)
      status = st; bytes = text.length; ms = sendMs
      if (st != 200) throw new IllegalStateException(s"HTTP $st on $pq: ${text.take(300)}")
      val r = parse(text)
      ok = true
      r
    } finally sample(if (ms < 0) (System.nanoTime() - t0) / 1e6 else ms, status, bytes, ok)
  }

  /** Run one program. Returns the evidence the checks compare. */
  private def run(c: StacClient, p: Program,
      sample: (Double, Int, Int, Boolean) => Unit): Map[String, Any] = {
    def go[T](method: String, pq: String, body: Option[String])(parse: String => T): T =
      request(c, method, pq, body, sample)(parse)
    val (m, pq, body) = p.request
    p.kind match {
      case "search_get" | "search_post" => Map("ids" -> go(m, pq, body)(Stac.page)._1)
      case "item" => Map("ids" -> Seq(go(m, pq, body)(t => Main.mapper.readTree(t).get("id").asText)))
      case "aggregate" => go(m, pq, body)(Stac.aggregations)
      case "walk" =>
        val ids = mutable.ArrayBuffer.empty[String]
        var next: Option[String] = Some(pq)
        var pages = 0
        while (next.isDefined) {
          val (pageIds, n) = go("GET", next.get, None)(Stac.page)
          ids ++= pageIds
          next = n
          pages += 1
        }
        Map("ids" -> ids.toSeq, "pages" -> pages,
          "aggregations" -> go("GET", p.walkAggregation, None)(Stac.aggregations))
    }
  }

  /** The closed loop: one thread per client, each running whole passes
    * of `work(client, pass)` until that is empty. A program that fails
    * stops at its failed request. */
  private def clients(work: (Int, Int) => Seq[Program],
      sample: (Int, (Double, Int, Int, Boolean)) => Unit): Unit = {
    val threads = orders.indices.map { i =>
      new Thread(() => {
        val c = new StacClient(base)
        var pass = 0
        var ps = work(i, pass)
        while (ps.nonEmpty) {
          ps.foreach { p =>
            try {
              val ev = run(c, p, (ms, st, bytes, ok) => sample(p.pid, (ms, st, bytes, ok)))
              if (ev != first.computeIfAbsent(p.pid, _ => ev)) mismatched.add(p.pid)
              ev.get("ids").foreach(ids => returned.addAndGet(ids.asInstanceOf[Seq[_]].size))
            } catch { case NonFatal(e) => errors.add(s"program ${p.pid}: $e") }
          }
          pass += 1
          ps = work(i, pass)
        }
      }, s"stac-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def measure(): Unit = {
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, Int, Int, Boolean)]
    returned.set(0)
    probe.foreach(_.cut())
    val deadline = ctx.deadlineNs()
    val t0 = System.nanoTime()
    // each client runs whole passes over its own order of every program
    ctx.cpuTimed(clients(
      (i, pass) => if (pass == 0 || System.nanoTime() < deadline) orders(i) else Nil,
      { case (pid, (ms, st, bytes, ok)) => samples.add((pid, ms, st, bytes, ok)) }))
    val wallS = (System.nanoTime() - t0) / 1e9
    val loopCounts = probe.map(_.cut())
    val ss = samples.asScala.toSeq
    ctx.result("attempted") = ss.size
    ctx.result("failed") = ss.count(!_._5)
    ctx.result("errors") = errors.asScala.take(3).toSeq
    ctx.result("op_ms") = ss.map(_._2)
    ctx.result("wall_s") = wallS
    ctx.result("mismatched_pids") = mismatched.asScala.toSeq.distinct
    ctx.result("programs") = programs.map(p => first.get(p.pid))
    for (p <- probe; lc <- loopCounts) ctx.result("layers") = traced(ss, lc, p)
  }

  /** Per-layer figures: Spark and query counts of the closed loop, then
    * each search program once more, sequentially, over HTTP and as a
    * direct FeatureCollection.page on the same frame. */
  private def traced(ss: Seq[(Int, Double, Int, Int, Boolean)], c: SparkCounts,
      probe: Probe): Map[String, Double] = {
    val tr = ctx.tracer
    val n = math.max(1, ss.size).toDouble
    val client = new StacClient(base)
    val overhead, pageMs, cqlMs = mutable.ArrayBuffer.empty[Double]
    val catalogFiles = Recipes.fileStats(path)._1
    var pruned, searches = 0
    for (p <- programs; q <- p.search) {
      val (m, pq, body) = p.request
      val (_, _, httpMs) = tr.span("server.request") { client.send(m, pq, body) }
      probe.cut()
      val (_, direct) = Jvm.time(tr.span("fc.page") { FeatureCollection.page(items, q) })
      // a pruned search reads fewer files than the catalog holds
      val read = probe.cut().queries.map(_.filesRead)
      searches += 1
      if (read.nonEmpty && read.max < catalogFiles) pruned += 1
      overhead += httpMs - direct
      pageMs += direct
      (q.cql2.map(t => () => Cql2Filter.compile(t, items.columns.toSet)) orElse
        q.cql2Json.map(j => () => Cql2Filter.compileJson(j, items.columns.toSet)))
        .foreach(f => cqlMs += Jvm.time(tr.span("cql2.compile") { f() })._2)
    }
    val qs = c.queries
    val ms = ss.map(_._2).sorted
    Map(
      "query.plan_ms" -> Recipes.median(qs.map(_.planMs)),
      "query.exec_ms" -> Recipes.median(qs.map(_.execMs)),
      "query.files_read" -> qs.map(_.filesRead).sum / n,
      "query.rows_scanned_per_returned" ->
        qs.map(_.rowsScanned).sum.toDouble / math.max(1L, returned.get),
      "query.pruned_share" -> pruned.toDouble / math.max(1, searches),
      "cql2.compile_ms" -> Recipes.median(cqlMs),
      "fc.page_ms" -> Recipes.median(pageMs),
      "fc.response_bytes" -> ss.map(_._4.toDouble).sum / n,
      "server.overhead_ms" -> Recipes.median(overhead),
      "server.p95_ms" -> ms((0.95 * (ms.size - 1)).toInt),
      "spark.jobs_per_request" -> c.jobs / n,
      "spark.tasks_per_request" -> c.tasks / n,
      "spark.scheduler_delay_ms" -> c.schedulerDelayMs / n)
  }

  override def close(): Unit = if (server != null) server.stop()
}

/** NRT batches upserted into an archive, each followed by a live search
  * for the batch's day. The archive is one bulk ingest of both recipes
  * in set-up. */
final class NrtUpsert(spark: SparkSession, ctx: Ctx, probe: Option[Probe])
    extends Workload {
  private val spec = ctx.spec
  private val tr = ctx.tracer
  private val path = s"${ctx.out}/catalog"
  private val batches = spec.get("batches").elements().asScala.toIndexedSeq
  private val avhrr = "AVHRR_SST_METOP_B-OSISAF-L2P-v1.0"
  private var server: StacApiServer = _
  private var client: StacClient = _
  private val upsertMs, liveMs = mutable.ArrayBuffer.empty[Double]
  private val totals = mutable.ArrayBuffer.empty[Long]
  private val liveIds = mutable.ArrayBuffer.empty[Seq[String]]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var bulk = Map.empty[String, Double]
  private val layers = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private def note(k: String, v: Double) =
    layers.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  /** The archive (grid days, a fixture day with missing and unparsable
    * slots, in-situ platforms with broken rows), a copy of it for the
    * checks, the live server, then batch 0 twice, untimed: it warms the
    * upsert and live search paths, and the checks still cover it. */
  def setup(): Unit = {
    val granules = Recipes.gridOf(spark, spec.get("archive"))
      .unionByName(Recipes.fixture(spark, spec.get("fixture")))
    val platforms = Recipes.insituOf(spark, spec.get("insitu"))
    val quarantine = s"${ctx.out}/quarantine"
    probe match {
      case Some(p) => bulk = BulkIngest.traced(path, quarantine, granules, platforms, tr, p)
      case None => BulkIngest.ingest(path, quarantine, granules, platforms)
    }
    Recipes.copyTree(path, s"${ctx.out}/archive")
    ctx.log("archive written")
    server = StacApiServer.live(spark, path)
    client = new StacClient(server.start())
    ctx.result("archive_total") = CatalogStore.read(spark, path).count()
    runBatch(0)
    // re-apply batch 0: the item set must not change
    CatalogStore.upsert(spark, path, delta(0))
    ctx.result("reapply_total") = CatalogStore.read(spark, path).count()
    upsertMs.clear(); liveMs.clear(); layers.clear()
  }

  /** Batch k's sources: one new AVHRR day plus re-ingested granules of
    * the archive, and late in-situ platforms of one category. */
  private def sources(k: Int): (DataFrame, DataFrame) = {
    val b = batches(k)
    val day = b.get("day")
    (Recipes.grid(spark, day.get(0).asText, day.get(1).asText)
      .unionByName(Recipes.grid(spark, b.get("reingest").get(0).asText,
        b.get("reingest").get(1).asText)),
      Recipes.insitu(spark, spec.get("insitu").get("month").asText,
        b.get("late").get(0).asInt, b.get("late").get(1).asInt)
        .filter(col("category") === b.get("category").asText))
  }

  private def delta(k: Int): DataFrame = {
    val (granules, late) = sources(k)
    Recipes.assemble(granules, late)._1
  }

  private def liveSearch(k: Int): (Seq[String], Double) = {
    val pq = "/search" + Stac.query(Seq("collections" -> avhrr,
      "datetime" -> batches(k).get("interval").asText, "limit" -> "1000"))
    val (status, body, ms) = tr.span("live.search") { client.send("GET", pq) }
    if (status != 200) throw new IllegalStateException(s"HTTP $status: $body")
    (Stac.page(body)._1, ms)
  }

  /** The traced upsert: the delta is materialized first, so the store's
    * share stands apart. */
  private def upsertTraced(k: Int, p: Probe): Double = {
    val d = delta(k).cache()
    val rows = d.count()
    p.cut()
    val before = Recipes.leaves(path)
    val (_, ms) = Jvm.time(tr.span("store.upsert") { CatalogStore.upsert(spark, path, d) })
    val c = p.cut()
    val rewritten = Recipes.leaves(path).filter { case (leaf, files) =>
      !before.get(leaf).contains(files)
    }
    note("store.leaves_rewritten", rewritten.size.toDouble)
    note("store.rows_rewritten_per_upserted", c.recordsWritten.toDouble / math.max(1L, rows))
    note("store.shuffle_write_bytes", c.shuffleWriteBytes.toDouble)
    Recipes.sparkPerOp(Seq(c)).foreach { case (key, v) => note(key, v) }
    d.unpersist()
    ms
  }

  /** Live search figures: the server's queries, then a direct
    * CatalogStore.read and FeatureCollection.page of the same search. */
  private def liveTraced(k: Int, p: Probe, ids: Seq[String], httpMs: Double): Unit = {
    val c = p.cut()
    note("query.plan_ms", Recipes.median(c.queries.map(_.planMs)))
    note("query.exec_ms", Recipes.median(c.queries.map(_.execMs)))
    note("query.files_read", c.queries.map(_.filesRead.toDouble).sum)
    note("query.rows_scanned_per_returned",
      c.queries.map(_.rowsScanned).sum.toDouble / math.max(1, ids.size))
    val (fresh, readMs) = Jvm.time(tr.span("live.read") { CatalogStore.read(spark, path) })
    val q = CatalogQuery.Search(collections = Seq(avhrr),
      interval = Some(Stac.interval(batches(k).get("interval").asText)), limit = 1000)
    val (pg, pageMs) = Jvm.time(tr.span("fc.page") { FeatureCollection.page(fresh, q) })
    note("live.read_ms", readMs)
    note("fc.page_ms", pageMs)
    note("fc.response_bytes", pg.body.length.toDouble)
    note("server.overhead_ms", httpMs - readMs - pageMs)
  }

  private def runBatch(k: Int): Unit = {
    try ctx.cpuTimed {
      upsertMs += (probe match {
        case None => Jvm.time(CatalogStore.upsert(spark, path, delta(k)))._2
        case Some(p) => upsertTraced(k, p)
      })
      val (ids, ms) = liveSearch(k)
      liveMs += ms
      liveIds += ids.sorted
      probe.foreach(liveTraced(k, _, ids, ms))
    } catch { case NonFatal(e) => errors += s"batch $k: $e" }
    // the catalog total after each batch, outside the timed region
    totals += CatalogStore.read(spark, path).count()
  }

  def measure(): Unit = {
    val t0 = System.nanoTime()
    var k = 1
    // whole batches, at least four: the third timed batch costs 1.5-1.8
    // times the others, and a median over three batches would lean on
    // it; then more while the run's time (or the month's days) last
    while (k < batches.size && ctx.another(k - 1, 4, t0)) {
      runBatch(k)
      k += 1
    }
    ctx.result("attempted") = k - 1
    ctx.result("failed") = errors.count(!_.startsWith("batch 0:"))
    ctx.result("errors") = errors.take(3)
    ctx.result("op_ms") = upsertMs.zip(liveMs).map { case (u, l) => u + l }
    ctx.result("upsert_ms") = upsertMs
    ctx.result("live_ms") = liveMs
    ctx.result("totals") = totals
    ctx.result("live_ids") = liveIds
    if (probe.nonEmpty) {
      val (_, bytes) = Recipes.fileStats(path)
      ctx.result("layers") = bulk ++ layers.map { case (key, v) => key -> Recipes.median(v) } ++ Map(
        "store.upsert_s" -> Recipes.median(upsertMs) / 1000,
        "store.bytes_per_item" -> bytes.toDouble / math.max(1L, totals.last))
    }
  }

  override def close(): Unit = if (server != null) server.stop()
}
