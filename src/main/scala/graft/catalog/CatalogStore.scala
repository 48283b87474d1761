package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftExpr

/** The engine's catalog store (snk_upsert / snk_parquet_catalog):
  * items as parquet partitioned by collection_id — the role pgstac's
  * time-partitioned Postgres tables play behind `ToPgStac`
  * (avhrr recipe.py:85,137; docker-compose.yml:30-44).
  *
  * Upsert = last-write-wins per (collection_id, item_id) (pgstac's
  * idempotent item replace) implemented as dedup-rank over
  * (existing ∪ delta), staged and swapped in per partition leaf. Only
  * the collections the delta touches are read and rewritten, but each
  * of them is rewritten WHOLE: in the monthly layout every month leaf
  * of a touched collection is re-ranked and rewritten, not just the
  * months the delta carries.
  */
object CatalogStore {

  /** Partition-derivation column: month of start_datetime, the second
    * partition level for 100 TB catalogs (pgstac's time partitioning
    * role). Stored as yyyy-MM strings so directory names are sane. */
  def withMonth(items: DataFrame): DataFrame =
    items.withColumn("month",
      date_format(col("start_datetime"), "yyyy-MM"))

  /** Initial (full) write. Repartition on the partition column first:
    * one shuffle task per collection writes its partition's files —
    * without it every shuffle task writes a sliver into every
    * partition directory (tiny-file explosion at scale). */
  def write(items: DataFrame, path: String): Unit =
    items.repartition(col("collection_id"))
      .write
      .mode("overwrite")
      .partitionBy("collection_id")
      .parquet(path)

  /** Month-partitioned layout: (collection_id, month) directories.
    * CatalogQuery derives month predicates from interval filters, so
    * a datetime search prunes whole month directories before any
    * file is opened. */
  def writeMonthly(items: DataFrame, path: String): Unit =
    withMonth(items)
      .repartition(col("collection_id"), col("month"))
      .write
      .mode("overwrite")
      .partitionBy("collection_id", "month")
      .parquet(path)

  /** mergeSchema: after an additive-evolution upsert only the
    * AFFECTED partitions carry the new column — without footer
    * merging a read could plan from an old file's schema and hide
    * it. Costs per-file footer reads at planning; a 100 TB
    * deployment amortizes this with a stored schema (or evolves by
    * full rewrite), but correctness comes first here. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Typed view of the items table (SURVEY §1.3 Dataset[StacItem]). */
  def readTyped(spark: SparkSession, path: String)
      : org.apache.spark.sql.Dataset[StacModel.StacItem] = {
    import spark.implicits._
    read(spark, path)
      .select("item_id", "collection_id", "geometry", "bbox",
        "bbox_w", "bbox_s", "bbox_e", "bbox_n",
        "start_datetime", "end_datetime", "datetimes",
        "properties", "assets", "links", "source_url", "ingested_at")
      .as[StacModel.StacItem]
  }

  /** Per-collection extents from the items table — the summary pgstac
    * maintains server-side (collections.yaml extent fields): temporal
    * min/max plus the BboxUnionAgg spatial union. */
  def collectionExtents(items: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import items.sparkSession.implicits._
    import graft.functions.BboxUnionAgg
    val spatial = items
      .select(col("collection_id"),
        struct(col("bbox_w").as("w"), col("bbox_s").as("s"),
          col("bbox_e").as("e"), col("bbox_n").as("n")).as("box"))
      .as[(String, BboxUnionAgg.Bbox)]
      .groupByKey(_._1).mapValues(_._2)
      .agg(BboxUnionAgg.agg.toColumn.name("extent"))
      .select(col("key").as("collection_id"),
        col("extent.w").as("bbox_w"), col("extent.s").as("bbox_s"),
        col("extent.e").as("bbox_e"), col("extent.n").as("bbox_n"))
    val temporal = items.groupBy(col("collection_id"))
      .agg(min(col("start_datetime")).as("t_min"),
        max(col("end_datetime")).as("t_max"),
        count(lit(1)).as("n_items"))
    temporal.join(spatial, Seq("collection_id"))
  }

  /** Deterministic content-hash tiebreak over `df`'s schema. Spark
    * prohibits hashing MAP types (no canonical order), so map-bearing
    * columns enter the hash through to_json — their CONTENT still
    * breaks ties (two rows differing only in `properties` must not
    * tie arbitrarily). `exclude` drops derived columns (the monthly
    * layout's `month`) so the hash basis is the item columns in every
    * store. Shared with JdbcCatalogSink so equal-timestamp duplicates
    * pick the SAME winner in both stores. */
  private[catalog] def tiebreakHash(
      df: DataFrame, exclude: Set[String] = Set.empty): Column = {
    def hashSafe(dt: org.apache.spark.sql.types.DataType): Boolean =
      dt match {
        case _: org.apache.spark.sql.types.MapType => false
        case a: org.apache.spark.sql.types.ArrayType =>
          hashSafe(a.elementType)
        case s: org.apache.spark.sql.types.StructType =>
          s.fields.forall(f => hashSafe(f.dataType))
        case _ => true
      }
    // sortBy(name): the hash basis must not depend on the COLUMN
    // ORDER of the frame a caller happens to pass — CatalogStore and
    // JdbcCatalogSink may see the same items selected in different
    // orders, and the cross-store convergence guarantee requires the
    // same equal-timestamp winner in both
    val tieCols = df.schema.fields
      .filter(f => !exclude.contains(f.name))
      .sortBy(_.name)
      .map(f =>
        if (hashSafe(f.dataType)) col(f.name) else to_json(col(f.name)))
      .toIndexedSeq
    xxhash64(struct(tieCols: _*))
  }

  /** Delete items by id: read → filter → rewrite, the fixture-scale
    * path behind the API's Transaction extension. Returns the number
    * of items removed. The survivors are materialized (localCheckpoint)
    * BEFORE the directory is overwritten — overwriting a path mid-scan
    * is a read-your-own-delete race — and released before return. A
    * 100 TB catalog deletes by partition-scoped rewrite or tombstone +
    * compaction (CatalogMaintenance) instead of this full rewrite. */
  def delete(spark: SparkSession, path: String,
      itemIds: Seq[String]): Long = {
    import org.apache.spark.sql.functions.col
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath) || itemIds.isEmpty) return 0L
    val existing = read(spark, path)
    val monthly = existing.columns.contains("month")
    val n = existing.filter(col("item_id").isin(itemIds: _*)).count()
    if (n == 0) return 0L
    val keep = existing.drop("month")
      .filter(!col("item_id").isin(itemIds: _*)).localCheckpoint()
    try {
      fs.delete(hPath, true)
      // deleting the last item returns the catalog to bootstrap state —
      // a zero-row partitioned write would wedge later reads instead
      if (!keep.isEmpty) {
        if (monthly) writeMonthly(keep, path) else write(keep, path)
      }
    } finally GraftExpr.releaseLocalCheckpoint(keep)
    n
  }

  /** Idempotent merge of `delta` into the catalog at `path`: newest
    * ingested_at wins per item; ties broken by a content hash
    * (order-independent — matches the JDBC sink's stored-tie guard),
    * then delta-over-existing for identical rows — fully
    * deterministic across retries AND replays.
    *
    * The delta is evaluated exactly once: it is materialized
    * (localCheckpoint) up front and released before return, and every
    * later step reads that copy. Its distinct collection ids come to
    * the driver (one per touched collection, so bounded by the
    * catalog's collection count) and scope the catalog read with a
    * static `collection_id IN (...)` filter, which partition pruning
    * applies at planning time. One evaluation also means a delta that
    * would recompute differently (a re-listed source, a
    * nondeterministic expression) cannot scope the read to one set of
    * collections and merge rows of another. Every leaf of a touched
    * collection is rewritten — all its months in the monthly layout:
    * scoping the read to the delta's months would need a key probe,
    * since a re-stamped item can move months.
    *
    * Item identity is (collection_id, item_id) — the partition key is
    * part of the key, as in pgstac's per-collection item partitions.
    * A delta that MOVES an item across collections upserts into the
    * new collection but does not hunt the old partition for the stale
    * copy (that would force a full-catalog scan per merge); a
    * cross-collection move is delete + insert at the caller. */
  def upsert(spark: SparkSession, path: String, delta: DataFrame): Unit = {
    // one evaluation of the delta, pinned until the merge is committed
    val pinned = delta.localCheckpoint()
    try mergePinned(spark, path, pinned)
    finally GraftExpr.releaseLocalCheckpoint(pinned)
  }

  private def mergePinned(
      spark: SparkSession, path: String, delta: DataFrame): Unit = {
    val ids = delta.select("collection_id").distinct().collect()
      .map(_.get(0)).toSeq
    // an empty delta changes nothing: no read, no staged write. At
    // bootstrap this matters — a zero-row partitioned write leaves a
    // parquet-less directory that wedges every later read with
    // UNABLE_TO_INFER_SCHEMA.
    if (ids.isEmpty) return
    // bootstrap: first merge into a not-yet-existing catalog is a
    // plain write (a streaming upsertSink's first batch hits this)
    val hPath = new org.apache.hadoop.fs.Path(path)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hPath)) {
      // honor the delta's layout at bootstrap: a first batch carrying
      // the derived month column must create the (collection_id,
      // month) layout — a collection_id-only write here would store
      // month as a DATA column, and the next upsert (which derives
      // partCols from the columns it reads) would swap month= leaf
      // dirs in beside the bootstrap's loose files: a mixed-depth
      // layout that breaks partition discovery.
      if (delta.columns.contains("month")) writeMonthly(delta, path)
      else write(delta, path)
      return
    }
    val existingAll = read(spark, path)
    // a writeMonthly catalog keeps its (collection_id, month) layout:
    // derive month on the delta and overwrite both partition levels
    val monthly = existingAll.columns.contains("month")
    val deltaP =
      if (monthly && !delta.columns.contains("month")) withMonth(delta)
      else delta
    val partCols =
      if (monthly) Seq("collection_id", "month") else Seq("collection_id")
    // additive schema evolution: a delta may CARRY NEW COLUMNS (the
    // catalog's existing rows take null there); it may never DROP
    // one — that would silently lose the column's data from every
    // affected partition's rewrite
    val dropped = existingAll.columns.toSet -- deltaP.columns.toSet
    require(dropped.isEmpty,
      s"upsert delta drops existing catalog columns " +
        s"${dropped.mkString(", ")} — only additive evolution is " +
        "supported; select the full catalog schema in the delta")
    val have = existingAll.columns.toSet
    val aligned = deltaP.schema.fields.toIndexedSeq.map { f =>
      if (have.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }
    val existing = existingAll
      .filter(col("collection_id").isin(ids: _*))
      .select(aligned: _*)
    val dataCols = deltaP.columns.map(col).toIndexedSeq
    // item identity is (item_id, collection_id) — matching the
    // partition layout and the JDBC sink's composite key. Partitioning
    // the dedup window by item_id alone would rank a cross-collection
    // re-ingest against the original and silently drop the original
    // from its own partition's rewrite.
    // (ingested_at, tie) decides BEFORE delta-priority: equal-
    // timestamp different-content conflicts resolve by content hash —
    // order-independent, so a replayed old batch cannot flip the
    // winner, and the JDBC sink's (ingested_at, tie) >= guard
    // converges to the same row from any arrival order. _prio only
    // breaks the remaining tie between the existing and delta copies
    // of an IDENTICAL row (same hash), where either choice is the
    // same content.
    val w = Window.partitionBy(col("item_id"), col("collection_id"))
      .orderBy(col("ingested_at").desc, col("_tie").desc,
        col("_prio").desc)
    val merged = existing.withColumn("_prio", lit(0))
      .unionByName(deltaP.select(dataCols: _*).withColumn("_prio", lit(1)))
      // content hash: equal-timestamp, equal-priority duplicates pick
      // the same winner on every run/retry; exclude the derived month
      // so the hash basis equals the JDBC sink's
      .withColumn("_tie", tiebreakHash(deltaP, exclude = Set("month")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "_prio", "_tie")
    // Materialize the merge BEFORE the catalog mutates: the plan reads
    // the same files it is about to replace. A staged write streams
    // the merge to a temp path (localCheckpoint would instead cache
    // every affected partition to executor storage — TBs for a hot
    // collection at 100 TB). How the staged merge then reaches the
    // catalog depends on the filesystem:
    //
    //  - atomic-rename filesystems (hdfs, local file, viewfs): swap
    //    partition directories in with metadata-only renames. Every
    //    rename's boolean result is CHECKED (Hadoop FileSystems
    //    report most failures by returning false): the old partition
    //    is renamed to a hidden backup before the new one swaps in, a
    //    failed swap-in restores the backup, and on any error the
    //    staged merge is PRESERVED and named in the exception — no
    //    code path deletes the only remaining copy of a partition. A
    //    failure before any rename leaves the catalog untouched;
    //    after a mid-swap crash the backup + staging dirs still hold
    //    every byte (hidden from readers by the leading dot).
    //
    //  - object stores (s3a, gs, …): Hadoop rename there is a
    //    NON-atomic O(data) copy+delete, so the backup/swap/restore
    //    crash-safety argument does not hold — a mid-rename failure
    //    could leave a partially-copied partition visible. Instead
    //    the staged merge is read back and the affected partitions
    //    are overwritten through the committer. NOTE: this commit is
    //    still not atomic — Spark's dynamic partition overwrite
    //    finalizes with driver-side delete-then-rename of partition
    //    directories, O(data) on an object store — and the S3A cloud
    //    committers (PathOutputCommitProtocol / magic) REJECT
    //    dynamicPartitionOverwrite outright, so that configuration
    //    takes a static per-leaf overwrite of exactly the staged
    //    leaves instead. Either way a failure preserves the graft
    //    staging dir (named in the thrown exception) — THAT is the
    //    real recovery mechanism on an object store, not rename
    //    atomicity. Costs one extra copy of the affected partitions.
    val parent = Option(hPath.getParent)
      .getOrElse(new org.apache.hadoop.fs.Path("/"))
    val staging = new org.apache.hadoop.fs.Path(parent,
      s".${hPath.getName}.staging-${java.util.UUID.randomUUID}")
    merged.repartition(partCols.map(col): _*)
      .write
      .mode("overwrite")
      .partitionBy(partCols: _*)
      .parquet(staging.toString)
    try {
      def leafDirs(p: org.apache.hadoop.fs.Path,
          depth: Int): Seq[org.apache.hadoop.fs.Path] =
        if (depth == 0) Seq(p)
        else fs.listStatus(p).toSeq
          // a crash-preserved hidden backup (".month=….old-…") also
          // contains '=': never treat it as a partition leaf, so the
          // stale-leaf cleanup can't delete a repair copy
          .filter(st => st.isDirectory &&
            st.getPath.getName.contains("=") &&
            !st.getPath.getName.startsWith("."))
          .flatMap(st => leafDirs(st.getPath, depth - 1))
      def relOf(p: org.apache.hadoop.fs.Path,
          root: org.apache.hadoop.fs.Path): String =
        p.toUri.getPath.stripPrefix(root.toUri.getPath).stripPrefix("/")
      val stagedLeaves = leafDirs(staging, partCols.length)
      if (atomicRenameFs(fs)) {
        stagedLeaves.foreach { src =>
          swapDir(fs, src, new org.apache.hadoop.fs.Path(
            hPath, relOf(src, staging)))
        }
      } else if (rejectsDynamicOverwrite(
          // no fallback arg: RuntimeConfig validates an explicit
          // default as a loadable class; the entry's own default
          // (SQLHadoopMapReduceCommitProtocol) is always present
          spark.conf.get("spark.sql.sources.commitProtocolClass"))) {
        // S3A cloud committers throw on dynamicPartitionOverwrite:
        // statically overwrite exactly the staged leaves instead.
        staticLeafOverwrite(spark, staging, hPath, partCols,
          merged.schema, stagedLeaves)
      } else {
        // non-atomic-rename filesystem (object store): re-read the
        // staged merge and let the output committer replace exactly
        // the staged partitions. The explicit schema pins partition-
        // column types (directory-name inference could e.g. turn a
        // numeric-looking collection_id into an int).
        spark.read.schema(merged.schema).parquet(staging.toString)
          .write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCols: _*)
          .parquet(path)
      }
      // A merge can move EVERY row out of an existing leaf (monthly
      // layout: a re-stamped start_datetime moves the item's month) —
      // that leaf then has no staged counterpart and would keep its
      // superseded rows forever (neither the rename swap nor dynamic
      // overwrite touches a leaf absent from the staged output).
      // Every affected collection appears in the staged output
      // (existing rows keep or yield their (item_id, collection_id)
      // identity within the same collection), so: any on-disk leaf
      // under a staged collection dir that is NOT among the staged
      // leaves holds only superseded rows — delete it. Runs after the
      // swap, so a failure earlier leaves it untouched.
      if (partCols.length > 1) {
        val stagedRel = stagedLeaves.map(relOf(_, staging)).toSet
        val stagedTop = stagedRel.map(_.split('/').head)
        leafDirs(hPath, partCols.length).foreach { leaf =>
          val rel = relOf(leaf, hPath)
          if (stagedTop.contains(rel.split('/').head) &&
              !stagedRel.contains(rel))
            fs.delete(leaf, true)
        }
      }
      fs.delete(staging, true)
    } catch {
      case e: Throwable =>
        throw new java.io.IOException(
          s"partition swap failed; staged merge preserved at $staging", e)
    }
  }

  /** Crash-safe directory replacement on an atomic-rename filesystem:
    * the old dir is renamed to a hidden backup before the new one
    * swaps in, a failed swap-in restores the backup, and every
    * rename's boolean result is CHECKED (Hadoop FileSystems report
    * most failures by returning false). Shared by upsert's partition
    * swap and CatalogMaintenance.compact's leaf rewrite. */
  private[catalog] def swapDir(
      fs: org.apache.hadoop.fs.FileSystem,
      src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Unit = {
    def renameOrThrow(s: org.apache.hadoop.fs.Path,
        d: org.apache.hadoop.fs.Path, what: String): Unit =
      if (!fs.rename(s, d))
        throw new java.io.IOException(s"$what rename failed: $s -> $d")
    val dstParent = dst.getParent
    if (!fs.exists(dstParent)) fs.mkdirs(dstParent)
    val backup = new org.apache.hadoop.fs.Path(dstParent,
      s".${dst.getName}.old-${java.util.UUID.randomUUID}")
    val hadOld = fs.exists(dst)
    if (hadOld) renameOrThrow(dst, backup, "backup")
    try renameOrThrow(src, dst, "swap-in")
    catch {
      case e: Throwable =>
        if (hadOld) fs.rename(backup, dst) // best-effort restore
        throw e
    }
    if (hadOld) fs.delete(backup, true)
  }

  /** The S3A cloud committers (Hadoop's PathOutputCommitProtocol —
    * directory/partitioned/magic) reject dynamicPartitionOverwrite
    * with a runtime exception; detect them from the configured
    * commit-protocol class so upsert can avoid that code path. */
  private[catalog] def rejectsDynamicOverwrite(
      commitProtocolClass: String): Boolean =
    commitProtocolClass.contains("PathOutputCommitProtocol")

  /** Static fallback commit for committers that reject dynamic
    * partition overwrite: each staged partition leaf is re-read
    * (data columns only — partition values live in the directory
    * name) and written with a plain `overwrite` scoped to exactly
    * that destination leaf directory. One write job per affected
    * partition — bounded by the delta's partition count, never the
    * catalog's. */
  private[catalog] def staticLeafOverwrite(
      spark: SparkSession,
      staging: org.apache.hadoop.fs.Path,
      hPath: org.apache.hadoop.fs.Path,
      partCols: Seq[String],
      mergedSchema: org.apache.spark.sql.types.StructType,
      stagedLeaves: Seq[org.apache.hadoop.fs.Path]): Unit = {
    val dataSchema = org.apache.spark.sql.types.StructType(
      mergedSchema.filterNot(f => partCols.contains(f.name)))
    val stagingPrefix = staging.toUri.getPath
    stagedLeaves.foreach { src =>
      val rel = src.toUri.getPath
        .stripPrefix(stagingPrefix).stripPrefix("/")
      spark.read.schema(dataSchema).parquet(src.toString)
        .write
        .mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(hPath, rel).toString)
    }
  }

  /** Filesystems whose rename is an atomic metadata-only operation —
    * the precondition for the backup/swap-in/restore protocol above.
    * Object-store connectors (s3a, gs, wasb, abfs, …) implement
    * rename as a non-atomic O(data) copy+delete, so they take the
    * committer-based dynamic-overwrite path instead. */
  private val AtomicRenameSchemes =
    Set("file", "hdfs", "viewfs", "webhdfs", "o3fs", "ofs")

  private[graft] def atomicRenameFs(
      fs: org.apache.hadoop.fs.FileSystem): Boolean =
    AtomicRenameSchemes.contains(
      Option(fs.getUri.getScheme).getOrElse("file"))
}
