package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.catalog._
import graft.ingest.FixtureGranuleSource

/** End-to-end catalog vertical (SURVEY.md §5.4): ingest fixtures →
  * partitioned catalog → upsert idempotence → STAC-style search.
  */
class CatalogSpec extends SparkSpec {

  private lazy val tmp = Files.createTempDirectory("graft-catalog").toString
  private lazy val catalogPath = s"$tmp/items"

  test("yaml collections load with full document shape") {
    val url = getClass.getResource("/collections_fixture.yaml")
    val cols = CollectionsYaml.load(spark, url.getPath).collect()
    assert(cols.length == 3)
    val avhrr = cols.find(_.id.startsWith("AVHRR")).get
    assert(avhrr.extent_temporal == "2016-01-19T08:07:03Z/")
    assert(avhrr.providers.map(_.name) == Seq("ProviderA", "HostB"))
    assert(avhrr.providers.head.roles == Seq("producer"))
    assert(avhrr.links.head.title.contains("Citeable DOI"))
    assert(CollectionsYaml.categories(cols.toSeq).sorted == Seq("BO", "CT", "v1.0").sorted)
  }

  test("ingest: granules → items with strict-cast quarantine") {
    val source = new FixtureGranuleSource()
    val (items, errors) = ItemAssembly.assemble(source.granules(spark),
      xstac = Some(ItemAssembly.XstacKwargs(
        referenceSystem = "epsg:4326", xDimension = "ni", yDimension = "nj")))
    val nItems = items.count()
    val nErrors = errors.count()
    // 478 slots (480 minus 2 missing) split between good and quarantined
    assert(nItems + nErrors == 478)
    assert(nErrors > 0, "fixture plants unparsable bbox rows")
    assert(errors.collect().forall(_.getAs[String]("error") != null))
    // bbox array and scalars agree
    val r = items.select(col("bbox"), col("bbox_w"), col("bbox_n")).first()
    assert(r.getSeq[Double](0).head == r.getDouble(1))
    // geometry is a closed GeoJSON ring
    val g = items.select("geometry").first().getString(0)
    assert(g.startsWith("{\"type\":\"Polygon\""))
    // xstac projection metadata (avhrr recipe.py:131-135) lands in the
    // properties map and proj:bbox agrees with the scalar bbox
    val p = items.select(col("properties"), col("bbox_w")).first()
    val props = p.getMap[String, String](0)
    assert(props("proj:code") == "EPSG:4326")
    assert(props("proj:epsg") == "4326")
    assert(props("proj:bbox").startsWith("[" + p.getDouble(1)))
    // without kwargs, no proj keys are stamped
    val bare = ItemAssembly.assemble(source.granules(spark))._1
      .select("properties").first().getMap[String, String](0)
    assert(!bare.keysIterator.exists(_.startsWith("proj:")))
  }

  test("catalog write + idempotent upsert (re-ingest changes nothing)") {
    val source = new FixtureGranuleSource()
    val r1 = IngestPipeline.run(spark, source, catalogPath, initial = true)
    assert(r1.itemsIngested > 0)
    assert(r1.catalogSize == r1.itemsIngested)
    val r2 = IngestPipeline.run(spark, source, catalogPath)
    assert(r2.catalogSize == r1.catalogSize, "upsert must be idempotent")
    assert(r2.itemsIngested == r1.itemsIngested, "same delta both runs")
    // partitioned layout on disk
    assert(new java.io.File(catalogPath).listFiles()
      .exists(_.getName.startsWith("collection_id=")))
    // no duplicate item_ids after merge
    val items = CatalogStore.read(spark, catalogPath)
    assert(items.count() == items.select("item_id").distinct().count())
  }

  test("upsert replaces existing items (last write wins)") {
    val source = new FixtureGranuleSource()
    val (items, _) = ItemAssembly.assemble(source.granules(spark))
    val before = CatalogStore.read(spark, catalogPath).count()
    val patched = items.limit(5)
      .withColumn("properties",
        map(lit("patched"), lit("yes")))
      .withColumn("ingested_at",
        current_timestamp() + expr("INTERVAL 1 HOUR"))
    CatalogStore.upsert(spark, catalogPath, patched)
    val after = CatalogStore.read(spark, catalogPath)
    assert(after.count() == before, "upsert of existing ids adds no rows")
    val patchedCount = after
      .filter(element_at(col("properties"), "patched") === "yes").count()
    assert(patchedCount == 5, s"expected 5 patched, got $patchedCount")
  }

  test("cross-collection re-ingest in one delta keeps the original row") {
    // item identity is (item_id, collection_id): a delta that re-ingests
    // an item under a NEW collection while also touching the original
    // collection must not rank the two copies against each other and
    // drop the original from its own partition's rewrite
    val path = s"$tmp/items_xcoll"
    val source = new FixtureGranuleSource()
    val (items, _) = ItemAssembly.assemble(source.granules(spark))
    CatalogStore.write(items, path)
    val before = CatalogStore.read(spark, path).count()
    val one = items.limit(1)
    val id = one.select("item_id").first().getString(0)
    val origColl = one.select("collection_id").first().getString(0)
    val moved = one
      .withColumn("collection_id", lit("MOVED"))
      .withColumn("ingested_at",
        current_timestamp() + expr("INTERVAL 2 HOUR"))
    // the delta touches BOTH collections: the moved copy plus an
    // unrelated refresh of an original-collection item
    val delta = moved.unionByName(items.limit(2).filter(col("item_id") =!= id))
    CatalogStore.upsert(spark, path, delta)
    val after = CatalogStore.read(spark, path)
    assert(after.count() == before + 1, "move adds one row, drops none")
    val copies = after.filter(col("item_id") === id)
      .select("collection_id").collect().map(_.getString(0)).toSet
    assert(copies == Set(origColl, "MOVED"),
      s"both collection copies must survive, got $copies")
  }

  test("month re-stamp leaves no stale copy in the old month partition") {
    // a delta that moves an item's month must supersede the old-month
    // row ON DISK, not just in the merge output — the old leaf has no
    // staged counterpart and must be actively removed
    val path = s"$tmp/items_monthmove"
    val source = new FixtureGranuleSource()
    val (items, _) = ItemAssembly.assemble(source.granules(spark))
    CatalogStore.writeMonthly(items, path)
    val before = CatalogStore.read(spark, path).count()
    // re-stamp EVERY item +40 days: the original month leaf empties
    // out completely and has no staged counterpart in the merge
    val moved = items
      .withColumn("start_datetime",
        col("start_datetime") + expr("INTERVAL 40 DAYS"))
      .withColumn("end_datetime",
        col("end_datetime") + expr("INTERVAL 40 DAYS"))
      .withColumn("ingested_at",
        current_timestamp() + expr("INTERVAL 1 HOUR"))
    CatalogStore.upsert(spark, path, moved)
    val after = CatalogStore.read(spark, path)
    assert(after.count() == before, "move replaces, never duplicates")
    val dupIds = after.groupBy("item_id", "collection_id").count()
      .filter(col("count") > 1).count()
    assert(dupIds == 0, "no item may survive in two month partitions")
    // and nothing is left in the vacated month
    assert(after.filter(col("month") === "2022-05").count() == 0,
      "the emptied month leaf must be removed from disk")
  }

  test("upsert evaluates a nondeterministic delta once: no collection loses rows") {
    // a delta whose collection changes between evaluations (a
    // re-listed source would behave so): scoping the catalog read with
    // one evaluation and merging another would swap collection B's
    // leaf for the delta row alone
    val path = s"$tmp/items_flip"
    val (items, _) = ItemAssembly.assemble(
      new FixtureGranuleSource().granules(spark))
    val ids = items.select("item_id").orderBy("item_id").limit(5)
      .collect().map(_.getString(0)).toSeq
    val seed = items.filter(col("item_id").isin(ids: _*))
      .withColumn("collection_id",
        when(col("item_id").isin(ids.take(2): _*), lit("A"))
          .otherwise(lit("B")))
    CatalogStore.write(seed, path)
    FlipCollection.calls.set(0)
    val flip = udf(() =>
      if (FlipCollection.calls.getAndIncrement() == 0) "A" else "B")
      .asNondeterministic()
    val delta = seed.filter(col("item_id") === ids.head)
      .withColumn("item_id", lit("flip-new"))
      .withColumn("collection_id", flip())
    CatalogStore.upsert(spark, path, delta)
    val after = CatalogStore.read(spark, path)
    val kept = after.filter(col("item_id").isin(ids: _*))
      .select("item_id").collect().map(_.getString(0)).toSet
    assert(kept == ids.toSet, s"existing rows lost: ${ids.toSet -- kept}")
    assert(after.count() == 6, "the delta row lands once, beside all 5")
    assert(FlipCollection.calls.get() == 1, "the delta is evaluated once")
  }

  test("upsert evaluates the delta exactly once, bootstrap included") {
    val path = s"$tmp/items_once"
    val (items, _) = ItemAssembly.assemble(
      new FixtureGranuleSource().granules(spark))
    val ids = items.select("item_id").orderBy("item_id").limit(12)
      .collect().map(_.getString(0)).toSeq
    val rowsEvaluated = spark.sparkContext.longAccumulator("delta rows")
    val counted = udf { (c: String) => rowsEvaluated.add(1); c }
    def delta(part: Seq[String]) = items
      .filter(col("item_id").isin(part: _*))
      .withColumn("collection_id", counted(col("collection_id")))
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    // bootstrap: the catalog does not exist yet
    CatalogStore.upsert(spark, path, delta(ids.take(8)))
    assert(rowsEvaluated.value == 8)
    rowsEvaluated.reset()
    // incremental: 2 re-ingested items + 4 new ones
    CatalogStore.upsert(spark, path, delta(ids.drop(6)))
    assert(rowsEvaluated.value == 6)
    assert(CatalogStore.read(spark, path).count() == 12)
    assert(spark.sparkContext.getPersistentRDDs.size <= pinnedBefore,
      "no persisted RDD may outlive an upsert")
  }

  test("upsert leaves an unaffected collection's files untouched") {
    val path = s"$tmp/items_untouched"
    val (items, _) = ItemAssembly.assemble(
      new FixtureGranuleSource().granules(spark))
    CatalogStore.writeMonthly(items.unionByName(
      items.withColumn("collection_id", lit("UNTOUCHED"))), path)
    def files(): Seq[String] = {
      val root = java.nio.file.Paths.get(path, "collection_id=UNTOUCHED")
      val walk = Files.walk(root)
      try walk.iterator().asScala.map(root.relativize(_).toString)
        .filter(_.endsWith(".parquet")).toSeq.sorted
      finally walk.close()
    }
    val before = files()
    assert(before.nonEmpty)
    CatalogStore.upsert(spark, path, items.limit(3)
      .withColumn("ingested_at",
        current_timestamp() + expr("INTERVAL 1 HOUR")))
    assert(files() == before,
      "an upsert must not rewrite a collection the delta does not touch")
  }

  test("delete releases its pinned survivors") {
    val path = s"$tmp/items_delete"
    val (items, _) = ItemAssembly.assemble(
      new FixtureGranuleSource().granules(spark))
    CatalogStore.write(items, path)
    val total = CatalogStore.read(spark, path).count()
    val ids = CatalogStore.read(spark, path).select("item_id")
      .orderBy("item_id").limit(2).collect().map(_.getString(0)).toSeq
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    assert(CatalogStore.delete(spark, path, ids) == 2)
    assert(spark.sparkContext.getPersistentRDDs.size <= pinnedBefore,
      "no persisted RDD may outlive a delete")
    assert(CatalogStore.read(spark, path).count() == total - 2)
  }

  test("ingest releases its checkpointed granules") {
    val path = s"$tmp/items_ingest_release"
    val source = new FixtureGranuleSource()
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    IngestPipeline.run(spark, source, path, initial = true)
    IngestPipeline.run(spark, source, path)
    assert(spark.sparkContext.getPersistentRDDs.size <= pinnedBefore,
      "no persisted RDD may outlive an ingest run")
  }

  test("STAC search: bbox + interval + sort + keyset paging") {
    val items = CatalogStore.read(spark, catalogPath)
    val q = CatalogQuery.Search(
      collections = Seq("AVHRR_SST_METOP_B-OSISAF-L2P-v1.0"),
      bbox = Some((-40.0, -30.0, 40.0, 30.0)),
      interval = Some((
        Timestamp.valueOf("2022-05-01 06:00:00"),
        Timestamp.valueOf("2022-05-01 18:00:00"))),
      sortBy = Seq(("start_datetime", true)),
      limit = 20)
    val page1 = CatalogQuery.compile(items, q).collect()
    assert(page1.nonEmpty && page1.length <= 20)
    // all results satisfy the predicates
    page1.foreach { r =>
      assert(r.getAs[Double]("bbox_w") <= 40.0 &&
        r.getAs[Double]("bbox_e") >= -40.0)
      assert(!r.getAs[Timestamp]("start_datetime")
        .after(Timestamp.valueOf("2022-05-01 18:00:00")))
    }
    // sorted by start_datetime
    val times = page1.map(_.getAs[Timestamp]("start_datetime").getTime)
    assert(times.sameElements(times.sorted))
    // keyset page 2: no overlap with page 1, continues the order
    CatalogQuery.nextToken(page1, q).foreach { token =>
      val page2 = CatalogQuery
        .compile(items, q.copy(afterToken = Some(token))).collect()
      val ids1 = page1.map(_.getAs[String]("item_id")).toSet
      assert(page2.forall(r => !ids1.contains(r.getAs[String]("item_id"))))
      if (page2.nonEmpty) {
        assert(page2.head.getAs[Timestamp]("start_datetime").getTime >=
          times.last)
      }
    }
  }

  test("keyset paging survives a null sort-key boundary") {
    import spark.implicits._
    val items = Seq(
      ("i1", null.asInstanceOf[java.lang.Double]),
      ("i2", null.asInstanceOf[java.lang.Double]),
      ("i3", null.asInstanceOf[java.lang.Double]),
      ("i4", java.lang.Double.valueOf(1.0)),
      ("i5", java.lang.Double.valueOf(2.0))
    ).toDF("item_id", "score")
    val q = CatalogQuery.Search(sortBy = Seq(("score", true)), limit = 2)
    // asc → nulls first: page 1 ends ON a null boundary
    val p1 = CatalogQuery.compile(items, q).collect()
    assert(p1.map(_.getString(0)).sameElements(Array("i1", "i2")))
    val t1 = CatalogQuery.nextToken(p1, q).get
    val p2 = CatalogQuery.compile(items, q.copy(afterToken = Some(t1)))
      .collect()
    // the null-boundary predicate must NOT drop the remaining rows
    assert(p2.map(_.getString(0)).sameElements(Array("i3", "i4")),
      s"page 2 lost rows after a null boundary: ${p2.mkString(",")}")
    val t2 = CatalogQuery.nextToken(p2, q).get
    val p3 = CatalogQuery.compile(items, q.copy(afterToken = Some(t2)))
      .collect()
    assert(p3.map(_.getString(0)).sameElements(Array("i5")))
  }

  test("bbox search finds antimeridian-crossing items") {
    import spark.implicits._
    val items = Seq(
      // dateline swath: stored w > e per STAC
      ("cross", 170.0, -10.0, -170.0, 10.0),
      ("normal", 0.0, -10.0, 20.0, 10.0)
    ).toDF("item_id", "bbox_w", "bbox_s", "bbox_e", "bbox_n")
    def search(w: Double, s: Double, e: Double, n: Double) =
      CatalogQuery.compile(items,
        CatalogQuery.Search(bbox = Some((w, s, e, n))))
        .collect().map(_.getString(0)).toSet
    // query east of the dateline overlaps the [170,180] half
    assert(search(160.0, -5.0, 180.0, 5.0) == Set("cross"))
    // query west of the dateline overlaps the [-180,-170] half
    assert(search(-180.0, -5.0, -160.0, 5.0) == Set("cross"))
    // mid-ocean query away from both items matches neither
    assert(search(60.0, -5.0, 80.0, 5.0) == Set.empty[String])
    // crossing QUERY and crossing ITEM together
    assert(search(175.0, -5.0, -175.0, 5.0) == Set("cross"))
  }

  test("FeatureCollection pages serialize, token-walk and re-parse") {
    val path = s"$tmp/fc-items"
    val (items, _) = ItemAssembly.assemble(
      new FixtureGranuleSource(end = "2022-05-01 02:59:59").granules(spark))
    CatalogStore.write(items, path)
    val all = CatalogStore.read(spark, path)
    val q = CatalogQuery.Search(
      sortBy = Seq(("start_datetime", true)), limit = 7)
    // walk 3 pages via the opaque token
    var token: Option[String] = None
    val pages = (0 until 3).map { _ =>
      val p = FeatureCollection.page(all, q, token)
      token = p.nextToken
      p
    }
    assert(pages.forall(_.numberReturned == 7))
    assert(pages(0).nextToken.isDefined && pages(1).nextToken.isDefined)
    // re-parse every page body with Spark's JSON reader: envelope
    // shape, feature count, geometry as an OBJECT (not an escaped
    // string), and no id overlap across pages
    import spark.implicits._
    val parsed = spark.read.json(pages.map(_.body).toDS)
    assert(parsed.columns.toSet ==
      Set("type", "numberReturned", "features", "links"))
    val rows = parsed.select(col("type"), col("numberReturned"),
      size(col("features")).as("n")).collect()
    assert(rows.forall(r => r.getString(0) == "FeatureCollection" &&
      r.getLong(1) == 7 && r.getInt(2) == 7))
    val ids = parsed.select(explode(col("features.id"))).collect()
      .map(_.getString(0))
    assert(ids.length == 21 && ids.distinct.length == 21,
      "pages must not overlap or repeat items")
    val geomTypes = parsed
      .select(explode(col("features.geometry.type"))).collect()
      .map(_.getString(0))
    assert(geomTypes.forall(_ == "Polygon"),
      "geometry must parse as a GeoJSON object")
    // token values round-trip exactly (timestamp + string key)
    val tok = pages(0).nextToken.get
    assert(FeatureCollection.encodeToken(
      FeatureCollection.decodeToken(tok)) == tok)
    // a short page ends the walk
    val lastQ = q.copy(limit = 10000)
    assert(FeatureCollection.page(all, lastQ).nextToken.isEmpty)
  }

  test("FeatureCollection survives hostile hrefs, null geometry, bad tokens") {
    val path = s"$tmp/fc-dirty"
    val (items, _) = ItemAssembly.assemble(
      new FixtureGranuleSource(end = "2022-05-01 00:59:59").granules(spark))
    // null out every geometry: a Feature with "geometry": null is
    // valid GeoJSON and must serialize as the literal null, not null
    // the whole feature string
    CatalogStore.write(
      items.withColumn("geometry",
        lit(null).cast(org.apache.spark.sql.types.StringType)), path)
    val all = CatalogStore.read(spark, path)
    val q = CatalogQuery.Search(
      sortBy = Seq(("start_datetime", true)), limit = 5)
    // a quote+backslash in the self href must be escaped, not splice
    // raw into the envelope
    val p = FeatureCollection.page(all, q,
      selfHref = """/search?x="\evil""")
    import spark.implicits._
    val parsed = spark.read
      .option("mode", "FAILFAST").json(Seq(p.body).toDS)
    val feats = parsed.select(explode(col("features")).as("f"))
    assert(feats.count() == 5)
    assert(feats.filter(col("f.id").isNull).count() == 0,
      "no bare-null entries in the features array")
    assert(feats.filter(col("f.geometry").isNotNull).count() == 0,
      "null geometry serializes as JSON null")
    assert(parsed.select(col("links")(0)("href")).head.getString(0) ==
      """/search?x="\evil""")
    // malformed client tokens fail cleanly, not with StringIndexOOB
    intercept[IllegalArgumentException](
      FeatureCollection.decodeToken("s:YQ,,l:3"))
    intercept[IllegalArgumentException](
      FeatureCollection.decodeToken("x"))
  }

  test("typed Dataset[StacItem] round-trips the catalog schema") {
    val items = CatalogStore.readTyped(spark, catalogPath)
    val first = items.head()
    assert(first.item_id.nonEmpty)
    assert(first.bbox.length == 4)
    assert(first.bbox.head == first.bbox_w)
    assert(first.assets.contains("data"))
    assert(first.links.exists(_.rel == "collection"))
    assert(items.count() == CatalogStore.read(spark, catalogPath).count())
  }

  test("collection extents aggregate matches item min/max") {
    import org.apache.spark.sql.functions._
    val items = CatalogStore.read(spark, catalogPath)
    val ext = CatalogStore.collectionExtents(items).collect()
    assert(ext.length == 1)
    val e = ext.head
    val expectW = items.agg(min("bbox_w")).collect()(0).getDouble(0)
    val expectN = items.agg(max("bbox_n")).collect()(0).getDouble(0)
    assert(e.getAs[Double]("bbox_w") == expectW)
    assert(e.getAs[Double]("bbox_n") == expectN)
    assert(e.getAs[Long]("n_items") == items.count())
  }

  test("antimeridian-crossing bbox query splits correctly") {
    val items = CatalogStore.read(spark, catalogPath)
    // query box from 170° east across the line to -170°
    val q = CatalogQuery.Search(
      bbox = Some((170.0, -90.0, -170.0, 90.0)), limit = 10000)
    val got = CatalogQuery.compile(items, q).collect()
    // equivalent manual union of the two half-boxes
    val manual = items.filter(
      (org.apache.spark.sql.functions.col("bbox_e") >= 170.0) ||
        (org.apache.spark.sql.functions.col("bbox_w") <= -170.0)).count()
    assert(got.length == manual)
  }

  test("search on empty filters returns limit-bounded page") {
    val items = CatalogStore.read(spark, catalogPath)
    val all = CatalogQuery.compile(items, CatalogQuery.Search(limit = 7))
    assert(all.count() == 7)
  }

  test("upsert supports additive schema evolution, rejects column drops") {
    val path = Files.createTempDirectory("graft-evolve").toString + "/items"
    val source = new FixtureGranuleSource()
    val (items, _) = ItemAssembly.assemble(source.granules(spark))
    CatalogStore.writeMonthly(items, path)
    val before = CatalogStore.read(spark, path).count()
    // delta carries a NEW column and touches a subset of items
    val delta = items.limit(3)
      .withColumn("quality_score", lit(0.9))
      .withColumn("ingested_at",
        current_timestamp() + expr("INTERVAL 1 HOUR"))
    CatalogStore.upsert(spark, path, delta)
    val after = CatalogStore.read(spark, path)
    assert(after.columns.contains("quality_score"),
      "evolved column must be visible through the store's read")
    assert(after.count() == before, "evolution must not change row count")
    assert(after.filter(col("quality_score") === 0.9).count() == 3,
      "upserted rows carry the new value")
    assert(after.filter(col("quality_score").isNull).count() == before - 3,
      "pre-evolution rows read as null in the new column")
    // idempotent replay with the evolved schema still merges cleanly
    CatalogStore.upsert(spark, path, delta)
    assert(CatalogStore.read(spark, path).count() == before)
    // dropping a column is refused loudly, catalog untouched
    val bad = items.limit(1).drop("properties")
      .withColumn("ingested_at",
        current_timestamp() + expr("INTERVAL 2 HOUR"))
    val ex = intercept[IllegalArgumentException] {
      CatalogStore.upsert(spark, path, bad)
    }
    assert(ex.getMessage.contains("properties"))
    assert(CatalogStore.read(spark, path).count() == before)
  }

  test("upsert on a non-atomic-rename filesystem commits via dynamic overwrite") {
    // mockobj:// delegates to the local FS but advertises an object-
    // store scheme, steering upsert onto the committer-based fallback
    // (rename-swap assumes atomic rename, which object stores lack)
    spark.sparkContext.hadoopConfiguration
      .set("fs.mockobj.impl", classOf[MockObjectStoreFs].getName)
    assert(!CatalogStore.atomicRenameFs(
      new org.apache.hadoop.fs.Path("mockobj:///x")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)))
    val local = Files.createTempDirectory("graft-mockobj")
    val path = s"mockobj://$local/items"
    val source = new FixtureGranuleSource()
    val (items0, _) = ItemAssembly.assemble(source.granules(spark))
    // a second collection the delta never touches: a static (full)
    // overwrite would wipe it, dynamic overwrite must leave it — this
    // is what distinguishes the fallback from rm-and-rewrite
    val items = items0.unionByName(
      items0.withColumn("collection_id", lit("UNTOUCHED")))
    CatalogStore.writeMonthly(items, path)
    val before = CatalogStore.read(spark, path).count()
    val untouchedBefore = CatalogStore.read(spark, path)
      .filter(col("collection_id") === "UNTOUCHED").count()
    assert(untouchedBefore > 0)
    // same re-stamp flow as the atomic-path test: every ORIGINAL-
    // collection item moves month, so the fallback must ALSO clear
    // the emptied old leaf — while never touching UNTOUCHED
    val moved = items0
      .withColumn("start_datetime",
        col("start_datetime") + expr("INTERVAL 40 DAYS"))
      .withColumn("end_datetime",
        col("end_datetime") + expr("INTERVAL 40 DAYS"))
      .withColumn("properties", map(lit("patched"), lit("yes")))
      .withColumn("ingested_at",
        current_timestamp() + expr("INTERVAL 1 HOUR"))
    CatalogStore.upsert(spark, path, moved)
    val after = CatalogStore.read(spark, path)
    assert(after.count() == before, "merge replaces, never duplicates")
    assert(after.filter(
        element_at(col("properties"), "patched") === "yes").count() ==
      before - untouchedBefore)
    assert(after.filter(col("collection_id") === "UNTOUCHED").count() ==
      untouchedBefore,
      "dynamic overwrite must not wipe collections absent from the delta")
    assert(after.filter(col("collection_id") =!= "UNTOUCHED" &&
        col("month") === "2022-05").count() == 0,
      "the emptied month leaf must be removed in the fallback path too")
    // no staging or backup residue
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hidden = fs.listStatus(new org.apache.hadoop.fs.Path(s"$local"))
      .map(_.getPath.getName).filter(_.startsWith("."))
    assert(hidden.isEmpty, s"staging residue: ${hidden.mkString(",")}")
  }
}

/** RawLocalFileSystem masquerading as an object store: same storage,
  * non-atomic-rename scheme. Registered via fs.mockobj.impl. */
class MockObjectStoreFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockobj"
  override def getUri: java.net.URI = java.net.URI.create("mockobj:///")
}

/** Call counter of the flipping collection UDF: a static, so every
  * deserialized copy of the UDF's closure counts in one place. */
object FlipCollection {
  val calls = new java.util.concurrent.atomic.AtomicInteger
}
