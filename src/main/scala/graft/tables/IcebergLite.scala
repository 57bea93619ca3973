package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Missing table / snapshot — a user-input-shaped failure (wrong warehouse
  * path, never-committed table), typed so CLI boundaries can render it as a
  * one-line error instead of a stack trace. */
final case class NoSuchTable(message: String) extends RuntimeException(message)

/** One committed snapshot of a table.
  *
  * `fileStats` is the Iceberg-manifest-style per-file column range: when a
  * commit declares a stats column, every data file's (min, max) for it is
  * read from the parquet FOOTER at commit time (metadata-only, no scan) and
  * recorded here, keyed like `partitionRows`. Readers prune files whose
  * range misses their predicate before Spark ever lists them
  * ([[IcebergLite.readPruned]]) — the committed-index probe path. */
case class Snapshot(
    snapshotId: Long,
    parentId: Long,              // -1 = none
    files: Seq[String],          // data files, relative to the table root
    rowCount: Long,
    partitionRows: Map[Int, Long], // per-output-partition row counts (lineage)
    properties: Map[String, String],
    fileStats: Map[Int, (Long, Long)] = Map.empty) // per-file (min, max) of statsCol

/**
 * Iceberg-lite: partitioned-Parquet tables with an atomic JSON snapshot log
 * (SURVEY.md §7 — no Iceberg runtime ships in /opt/spark/jars, so we emulate
 * the semantics the north rule actually uses: committed snapshots, time
 * travel, per-partition lineage records, resumable readers).
 *
 * Layout:  <root>/<table>/data/s<snapshotId>/part-*.parquet
 *          <root>/<table>/snapshots/v<snapshotId>.json     (atomic rename)
 *          <root>/<table>/snapshots/CURRENT                (atomic rename)
 *
 * Commit protocol: write data files → write snapshot json to a temp name →
 * atomic rename json → atomic rename CURRENT pointer. A reader either sees
 * the previous CURRENT or the new one, never a torn state. On a real object
 * store the renames become a metastore swap; the call sites don't change.
 *
 * JSON is hand-rolled (flat schema, no nested user data) because no JSON
 * library is on the classpath; Spark's own jackson is deliberately not
 * touched (shaded versions vary).
 */
class IcebergLite(rootDir: String) {

  private def tableDir(table: String): Path = Paths.get(rootDir, table)
  private def snapDir(table: String): Path = tableDir(table).resolve("snapshots")
  private def dataDir(table: String, sid: Long): Path =
    tableDir(table).resolve("data").resolve(s"s$sid")

  /** Per-file (row count, optional statsCol (min, max)) — all read from the
    * parquet FOOTERS: metadata-only, no scan jobs. `files` are
    * tableDir-relative; indices in the returned maps are positions in it. */
  private def footerMeta(spark: org.apache.spark.sql.SparkSession, table: String,
      files: Seq[String], statsCol: Option[String])
      : (Map[Int, Long], Map[Int, (Long, Long)]) = {
    val conf = spark.sessionState.newHadoopConf()
    val perFile = files.zipWithIndex.map { case (f, i) =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(tableDir(table).resolve(f).toString), conf))
      try {
        val rows = i -> reader.getRecordCount
        // Iceberg-manifest-style column range: union of the row-group
        // statistics for the declared column; a file with no usable stats
        // simply goes unrecorded (readers then treat it as must-read)
        val range = statsCol.flatMap { c =>
          val rgs = reader.getRowGroups.asScala.toSeq.flatMap { b =>
            b.getColumns.asScala
              .find(_.getPath.toDotString == c)
              .map(_.getStatistics)
              .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
              .map(s => (s.genericGetMin.asInstanceOf[Number].longValue,
                s.genericGetMax.asInstanceOf[Number].longValue))
          }
          if (rgs.isEmpty) None
          else Some(i -> ((rgs.map(_._1).min, rgs.map(_._2).max)))
        }
        (rows, range)
      } finally reader.close()
    }
    (perFile.map(_._1).toMap, perFile.flatMap(_._2).toMap)
  }

  /** Write `df`'s data files for snapshot `sid`; returns (relative file
    * paths, per-file row counts, per-file (min, max) of `statsCol` if set). */
  private def writeData(df: DataFrame, table: String, sid: Long,
      statsCol: Option[String] = None)
      : (Seq[String], Map[Int, Long], Map[Int, (Long, Long)]) = {
    val dd = dataDir(table, sid)
    Files.createDirectories(dd.getParent)
    df.write.mode("overwrite").parquet(dd.toString)
    val files = Files.list(dd).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .map(p => tableDir(table).relativize(p).toString).toSeq.sorted
    val (rows, stats) = footerMeta(df.sparkSession, table, files, statsCol)
    (files, rows, stats)
  }

  // --------------------------------------------------------------------------
  // Bucketed layout: Spark-native co-location for the committed table
  // --------------------------------------------------------------------------

  /** Parquet file names (not paths) directly under `dir`. */
  private def listParquet(dir: Path): Set[String] =
    if (!Files.exists(dir)) Set.empty
    else Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".parquet")).toSet

  /** (bucketCol, bucketCount, bucketDir) when `snap` is a bucketed-layout
    * snapshot. */
  private def bucketSpecOf(snap: Snapshot): Option[(String, Int, String)] =
    for {
      c <- snap.properties.get("bucketCol")
      n <- snap.properties.get("bucketCount")
      d <- snap.properties.get("bucketDir")
    } yield (c, n.toInt, d)

  /** Session-catalog identifier for this warehouse+table's bucketed layout —
    * the warehouse path is hashed in so two warehouses (e.g. two test temp
    * dirs) can hold a table of the same name without a catalog collision. */
  def catalogName(table: String): String = {
    val abs = Paths.get(rootDir).toAbsolutePath.normalize.toString
    val h = scala.util.hashing.MurmurHash3.stringHash(abs + "#" + table)
    f"graft_bk_${h & 0xFFFFFFFFL}%08x_" + table.replaceAll("[^A-Za-z0-9_]", "_")
  }

  /** Make the session catalog's entry for a bucketed table match the
    * snapshot's layout (a FRESH session has no entry for an on-disk
    * warehouse; a stale one can point at a superseded location). Creation is
    * plain DDL over the existing bucket files — Spark resolves each file's
    * bucket id from the writer's `_NNNNN` name suffix, so registering over
    * data written by [[commit]]/[[append]] is exact. */
  private def ensureCatalog(spark: org.apache.spark.sql.SparkSession,
      table: String, snap: Snapshot): Unit = {
    val (bcol, n, dirRel) = bucketSpecOf(snap).getOrElse(
      throw new IllegalStateException(s"$table is not a bucketed table"))
    val cn = catalogName(table)
    val dir = tableDir(table).resolve(dirRel).toAbsolutePath.normalize
    val ok = spark.catalog.tableExists(cn) && {
      val meta = spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(cn))
      Paths.get(meta.location).toAbsolutePath.normalize == dir
    }
    if (!ok) {
      spark.sql(s"DROP TABLE IF EXISTS `$cn`")
      val sample = snap.files.headOption.getOrElse(
        throw new IllegalStateException(
          s"bucketed table $table has no data files to derive a schema from"))
      val schemaDdl = spark.read
        .parquet(tableDir(table).resolve(sample).toString).schema.toDDL
      spark.sql(
        s"""CREATE TABLE `$cn` ($schemaDdl) USING PARQUET
           |CLUSTERED BY (`$bcol`) SORTED BY (`$bcol`) INTO $n BUCKETS
           |LOCATION '${dir.toString}'""".stripMargin)
    }
  }

  /** Delete data files under the bucket dir that `snap` does not list —
    * leftovers of a write that crashed before its manifest commit (the
    * bucketed layout shares ONE directory across appends, so, unlike the
    * per-snapshot dirs, an uncommitted write is not isolated by pathing).
    * Run before each append; Iceberg's orphan-file cleanup, scoped. */
  private def cleanOrphans(table: String, dirRel: String, snap: Snapshot): Unit = {
    val dir = tableDir(table).resolve(dirRel)
    val listed = snap.files.toSet
    listParquet(dir).foreach { f =>
      if (!listed.contains(s"$dirRel/$f")) Files.deleteIfExists(dir.resolve(f))
    }
  }

  /** Write `df` bucketed into `<table>/<dirRel>` through the catalog table
    * (Spark's bucketed writer names files with the bucket-id suffix the
    * scanner keys on). The frame is pre-repartitioned by the bucket
    * expression — HashPartitioning and the writer's bucket-id formula are
    * the same murmur3-pmod, so each task holds exactly one bucket and an
    * append adds at most `n` files. Returns (relative new files, per-file
    * rows). */
  private def writeBucketed(df: DataFrame, table: String, dirRel: String,
      overwrite: Boolean, bcol: String, n: Int): (Seq[String], Map[Int, Long]) = {
    val dir = tableDir(table).resolve(dirRel)
    Files.createDirectories(dir.getParent)
    val before = listParquet(dir)
    val writer = df
      .repartition(n, org.apache.spark.sql.functions.col(bcol))
      .write.bucketBy(n, bcol).sortBy(bcol)
    if (overwrite)
      writer.mode("overwrite").option("path", dir.toString)
        .saveAsTable(catalogName(table))
    else writer.mode("append").saveAsTable(catalogName(table))
    val files = (listParquet(dir) -- before).toSeq.sorted.map(f => s"$dirRel/$f")
    val (rows, _) = footerMeta(df.sparkSession, table, files, None)
    (files, rows)
  }

  /** Current snapshot of a bucketed table AS the catalog table — the scan
    * carries `HashPartitioning(bucketCol, n)`, so equi-joins and
    * aggregations keyed on the bucket column elide their Exchange on this
    * side entirely (the committed-index batch-vs-corpus join shape).
    * Falls back to the manifest read (correct, just shuffleable) when the
    * directory disagrees with the manifest — e.g. an orphan from a crashed
    * append that no [[append]] has cleaned yet — because manifest-listed
    * files are the only source of truth. */
  def readBucketed(spark: SparkSession, table: String): DataFrame = {
    val snap = currentSnapshot(table)
      .getOrElse(throw NoSuchTable(s"table $table has no snapshots"))
    bucketSpecOf(snap) match {
      case None => read(spark, table)
      case Some((_, _, dirRel)) =>
        val dir = tableDir(table).resolve(dirRel)
        val onDisk = listParquet(dir).map(f => s"$dirRel/$f")
        if (snap.files.nonEmpty && onDisk == snap.files.toSet) {
          ensureCatalog(spark, table, snap)
          spark.table(catalogName(table))
        } else read(spark, table)
    }
  }

  /** Commit `df` as the next snapshot of `table` (full replacement — the
    * superstep-state shape). Returns the snapshot. Passing `statsCol`
    * records each data file's (min, max) for that integral column in the
    * snapshot manifest, enabling [[readPruned]] file skipping. Passing
    * `bucketBy = Some((col, n))` commits the BUCKETED layout instead: data
    * files carry Spark's bucket-id naming and the table registers in the
    * session catalog, so [[readBucketed]] scans report
    * `HashPartitioning(col, n)` (manifest stats don't apply — a hash
    * column's per-file range is the whole domain; co-location IS the
    * bucketed table's pruning story). Each commit writes a fresh
    * `data/bucketed_s<sid>` dir; appends land in the current one.
    * `properties` is evaluated once the data files are written (before the
    * manifest), so it may carry figures the write's own action produced. */
  def commit(df: DataFrame, table: String,
      properties: => Map[String, String] = Map.empty,
      statsCol: Option[String] = None,
      bucketBy: Option[(String, Int)] = None): Snapshot = {
    val parent = currentSnapshot(table).map(_.snapshotId).getOrElse(-1L)
    val sid = parent + 1
    val snap = bucketBy match {
      case Some((bcol, n)) =>
        val dirRel = s"data/bucketed_s$sid"
        val (files, partRows) = writeBucketed(df, table, dirRel,
          overwrite = true, bcol, n)
        Snapshot(sid, parent, files, partRows.values.sum, partRows,
          properties ++ Map("bucketCol" -> bcol, "bucketCount" -> n.toString,
            "bucketDir" -> dirRel))
      case None =>
        val (files, partRows, stats) = writeData(df, table, sid, statsCol)
        Snapshot(sid, parent, files, partRows.values.sum, partRows,
          properties ++ statsCol.map("statsCol" -> _), stats)
    }
    writeSnapshot(table, snap)
    snap
  }

  /** Append `df`'s rows as the next snapshot (Iceberg's FAST APPEND: the
    * parent's data files are retained untouched, only the new rows are
    * written; the new snapshot's manifest lists old + new files). The shape
    * a streaming micro-batch sink needs — per-batch cost is O(batch), never
    * O(table). The snapshot records `appendedRows` (summed from the new
    * files' parquet footers — metadata-only) so callers get the delta's row
    * count without a count job. */
  def append(df: DataFrame, table: String,
      properties: Map[String, String] = Map.empty,
      statsCol: Option[String] = None): Snapshot = {
    // `compactedFrom*` describe ONE specific snapshot (like appendedRows);
    // callers routinely pass the parent's properties through, and after a
    // compaction that would stamp every later append as a compaction —
    // misleading audits and breaking any reader that classifies snapshots
    // by these markers (the sidecar heal walk did)
    val props = properties - "compactedFromSnapshot" - "compactedFromFiles"
    val parentSnap = currentSnapshot(table)
    // a bucketed parent makes the table bucketed for life (its bucket spec
    // is physical layout — an append can't disagree with it): route the
    // batch through the bucketed writer into the CURRENT bucket dir, and
    // carry the spec forward whatever properties the caller passed
    parentSnap.flatMap(bucketSpecOf) match {
      case Some((bcol, n, dirRel)) =>
        val ps = parentSnap.get
        ensureCatalog(df.sparkSession, table, ps)
        cleanOrphans(table, dirRel, ps)
        val (newFiles, newPartRows) = writeBucketed(df, table, dirRel,
          overwrite = false, bcol, n)
        val offset = ps.files.size
        val partRows = ps.partitionRows ++
          newPartRows.map { case (k, v) => (k + offset) -> v }
        val snap = Snapshot(ps.snapshotId + 1, ps.snapshotId,
          ps.files ++ newFiles, partRows.values.sum, partRows,
          props ++ Map("bucketCol" -> bcol, "bucketCount" -> n.toString,
            "bucketDir" -> dirRel,
            "appendedRows" -> newPartRows.values.sum.toString))
        writeSnapshot(table, snap)
        return snap
      case None => ()
    }
    val parent = parentSnap.map(_.snapshotId).getOrElse(-1L)
    val sid = parent + 1
    val (newFiles, newPartRows, newStats) = writeData(df, table, sid, statsCol)
    val baseFiles = parentSnap.map(_.files).getOrElse(Nil)
    val offset = baseFiles.size
    val partRows = parentSnap.map(_.partitionRows).getOrElse(Map.empty) ++
      newPartRows.map { case (k, v) => (k + offset) -> v }
    // manifest stats chain like the file list: the parent's per-file ranges
    // are retained at their indices, the new files' ranges appended at the
    // shifted ones — pruned reads stay exact across any append history
    val fileStats = parentSnap.map(_.fileStats).getOrElse(Map.empty) ++
      newStats.map { case (k, v) => (k + offset) -> v }
    val snap = Snapshot(sid, parent, baseFiles ++ newFiles,
      partRows.values.sum, partRows,
      props ++ statsCol.map("statsCol" -> _) +
        ("appendedRows" -> newPartRows.values.sum.toString),
      fileStats)
    writeSnapshot(table, snap)
    snap
  }

  /** Read ONLY the rows a snapshot appended over its parent (its manifest
    * minus the parent's) — O(delta) input, never O(table). Defaults to the
    * current snapshot's delta; a full-replacement commit's delta is the
    * whole snapshot. */
  def readAppended(spark: SparkSession, table: String,
      snapshotId: Long = -1L): DataFrame = {
    val snap =
      if (snapshotId >= 0) readSnapshot(table, snapshotId)
        .getOrElse(throw NoSuchTable(s"no snapshot $snapshotId for $table"))
      else currentSnapshot(table)
        .getOrElse(throw NoSuchTable(s"table $table has no snapshots"))
    val parentFiles: Set[String] =
      if (snap.parentId < 0) Set.empty
      else readSnapshot(table, snap.parentId).map(_.files.toSet).getOrElse(Set.empty)
    val fresh = snap.files.filterNot(parentFiles)
    spark.read.parquet(fresh.map(f => tableDir(table).resolve(f).toString): _*)
  }

  /** Compact a table's data files into `targetFiles` (Iceberg's
    * `rewrite_data_files` analog): read the current snapshot, rewrite it as
    * one full-replacement snapshot with few large files. The streaming
    * ingest sink fast-appends O(batch) files per micro-batch, so a
    * long-running table accumulates small files without this — the classic
    * small-file problem every table format schedules compaction for. Time
    * travel to pre-compaction snapshots still works (their files are
    * retained on disk; only the new manifest stops listing them). */
  def compact(spark: SparkSession, table: String, targetFiles: Int = 8): Snapshot = {
    val cur = currentSnapshot(table)
      .getOrElse(throw NoSuchTable(s"table $table has no snapshots"))
    // bucketed layout: rewrite the current snapshot into a FRESH bucket dir
    // (one file per bucket — bucket count is the table's physical contract,
    // so `targetFiles` doesn't apply) and swap the catalog entry there. The
    // old dir's files stay on disk for time travel until expireSnapshots,
    // exactly like the per-snapshot-dir layout.
    bucketSpecOf(cur) match {
      case Some((bcol, n, _)) =>
        val sid = cur.snapshotId + 1
        val dirRel = s"data/bucketed_s$sid"
        val (files, partRows) = writeBucketed(read(spark, table), table, dirRel,
          overwrite = true, bcol, n)
        val snap = Snapshot(sid, cur.snapshotId, files, partRows.values.sum,
          partRows,
          cur.properties - "appendedRows" ++ Map(
            "bucketCol" -> bcol, "bucketCount" -> n.toString,
            "bucketDir" -> dirRel,
            "compactedFromSnapshot" -> cur.snapshotId.toString,
            "compactedFromFiles" -> cur.files.size.toString))
        writeSnapshot(table, snap)
        return snap
      case None => ()
    }
    // clamp: repartition(0) throws, and a caller-computed `threshold/4` can
    // legitimately floor to 0. A stats table compacts by RANGE on its stats
    // column — a round-robin repartition would smear every value range
    // across every file and neuter pruning even with fresh stats
    val base = read(spark, table)
    val df = cur.properties.get("statsCol") match {
      case Some(c) => base.repartitionByRange(math.max(1, targetFiles),
        org.apache.spark.sql.functions.col(c))
      case None => base.repartition(math.max(1, targetFiles))
    }
    // INHERIT the parent's properties: compaction changes the file layout,
    // not the logical state — markers like the streaming sink's `batchId`
    // idempotence guard must survive, or a micro-batch replayed after a
    // compaction would be double-appended. A stats table's statsCol is
    // part of that state: RECOMPUTE the per-file ranges for the rewritten
    // files, or the inherited property would claim prunability over an
    // empty stats map and silently disable pruning
    commit(df, table, cur.properties - "appendedRows" ++ Map(
      "compactedFromSnapshot" -> cur.snapshotId.toString,
      "compactedFromFiles" -> cur.files.size.toString),
      statsCol = cur.properties.get("statsCol"))
  }

  /** The data files of `snap` whose recorded stats range intersects
    * `values`; files with no recorded range are conservatively kept.
    * Exposed for plan-audit tests.
    *
    * Cost is O(files × log |values|): the probe set is sorted once and each
    * file's (lo, hi) range binary-searches for a member — probe sets can be
    * large (an incremental-dedup batch carries one value per distinct
    * fingerprint), and the naive per-file `exists` scan is O(files ×
    * |values|), minutes at a million values × a thousand files. */
  def pruneFiles(snap: Snapshot, values: Set[Long]): Seq[String] = {
    val sorted = values.toArray
    java.util.Arrays.sort(sorted)
    def hits(lo: Long, hi: Long): Boolean = {
      // first element ≥ lo, then check it is ≤ hi
      var a = 0; var b = sorted.length
      while (a < b) {
        val m = (a + b) >>> 1
        if (sorted(m) < lo) a = m + 1 else b = m
      }
      a < sorted.length && sorted(a) <= hi
    }
    snap.files.zipWithIndex.collect {
      case (f, i) if snap.fileStats.get(i)
        .forall { case (lo, hi) => hits(lo, hi) } => f
    }
  }

  /** Read only the data files whose manifest (min, max) range for the
    * commit's `statsCol` can contain one of `values` — Iceberg's
    * manifest-stats file pruning: a probe of p of N index cells reads ~p/N
    * of the table's bytes, and Spark never even lists the skipped files.
    * Pruning is per-FILE; callers still apply their row predicate. An empty
    * or fully-pruned probe set yields an EMPTY frame with the table's
    * schema (a probe for values the table doesn't hold is an empty answer,
    * not an error). */
  def readPruned(spark: SparkSession, table: String, values: Set[Long],
      snapshotId: Long = -1L): DataFrame = {
    val snap =
      if (snapshotId >= 0) readSnapshot(table, snapshotId)
        .getOrElse(throw NoSuchTable(s"no snapshot $snapshotId for $table"))
      else currentSnapshot(table)
        .getOrElse(throw NoSuchTable(s"table $table has no snapshots"))
    require(snap.properties.contains("statsCol"),
      s"$table was not committed with a stats column")
    // an empty probe set means "no values can match" — short-circuit to the
    // empty frame rather than relying on pruneFiles, which conservatively
    // keeps files with no recorded stats range (correct for a non-empty
    // probe, but would return those files' rows for values = ∅)
    val sel = if (values.isEmpty) Nil else pruneFiles(snap, values)
    if (sel.nonEmpty)
      spark.read.parquet(sel.map(f => tableDir(table).resolve(f).toString): _*)
    else // schema from one real file, zero rows
      read(spark, table, snap.snapshotId)
        .where(org.apache.spark.sql.functions.lit(false))
  }

  /**
   * Expire all but the last `keepLast` snapshots (Iceberg's
   * `expire_snapshots`): delete the expired manifests and every data file
   * no SURVIVING snapshot references. Without this a long-running table's
   * storage is unbounded — fast appends add files every micro-batch and
   * [[compact]] rewrites data but retains the old files for time travel.
   * The current snapshot and the kept history are untouched; time travel
   * to an expired snapshot now fails (NoSuchTable), and the oldest kept
   * snapshot loses its parent, so [[readAppended]] on it degrades to the
   * full manifest — the standard beyond-retention changelog limitation.
   * Returns (expired snapshot count, deleted data-file count).
   */
  def expireSnapshots(table: String, keepLast: Int = 2): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val snaps = snapshots(table)
    if (snaps.size <= keepLast) return (0, 0)
    val (expired, kept) = snaps.splitAt(snaps.size - keepLast)
    val keptFiles = kept.flatMap(_.files).toSet
    // a file lives as long as ANY kept snapshot lists it (fast-append
    // manifests share files across snapshots)
    val doomed = expired.flatMap(_.files).distinct.filterNot(keptFiles)
    doomed.foreach(f => Files.deleteIfExists(tableDir(table).resolve(f)))
    expired.foreach(s =>
      Files.deleteIfExists(snapDir(table).resolve(s"v${s.snapshotId}.json")))
    // drop any data/ subdirectory no kept manifest references into (and
    // which isn't a kept snapshot's CURRENT bucket dir — those can be
    // legitimately empty) — otherwise _SUCCESS/.crc sidecars and empty
    // directories accumulate one per expired snapshot forever. Covers both
    // the per-snapshot `data/sN` layout and superseded `data/bucketed_sN`
    // dirs a bucketed compaction left behind.
    val keptDirs = kept.flatMap(_.properties.get("bucketDir")).toSet
    val dataRoot = tableDir(table).resolve("data")
    if (Files.exists(dataRoot)) {
      Files.list(dataRoot).iterator().asScala.filter(Files.isDirectory(_))
        .toSeq.foreach { d =>
          val rel = s"data/${d.getFileName}"
          if (!keptFiles.exists(_.startsWith(rel + "/")) && !keptDirs.contains(rel)) {
            Files.walk(d).sorted(java.util.Comparator.reverseOrder())
              .forEach(p => Files.deleteIfExists(p))
          }
        }
    }
    (expired.size, doomed.size)
  }

  /** Post-append housekeeping for long append chains — the same knobs the
    * streaming sinks wire, for the batch APIs: `compactOver > 0` folds the
    * table's data files down when the manifest exceeds that many (for a
    * bucketed table: back to one file per bucket), `expireKeep > 0` then
    * bounds the snapshot log. Without this a long chain of appends
    * accumulates files and snapshots without limit — the classic
    * small-file problem every table format schedules compaction for. */
  def maintain(spark: SparkSession, table: String,
      compactOver: Int, expireKeep: Int): Unit = {
    if (compactOver > 0 &&
        currentSnapshot(table).exists(_.files.size > compactOver)) {
      compact(spark, table, targetFiles = math.max(1, compactOver / 4))
      if (expireKeep > 0) expireSnapshots(table, keepLast = expireKeep)
      ()
    }
  }

  /** Read a table at its current (or an explicit) snapshot. A known
    * `schema` (the frame the snapshot was written from) skips Parquet's
    * schema-inference job. */
  def read(spark: SparkSession, table: String, snapshotId: Long = -1L,
      schema: Option[StructType] = None): DataFrame = {
    val snap =
      if (snapshotId >= 0) readSnapshot(table, snapshotId)
        .getOrElse(throw NoSuchTable(s"no snapshot $snapshotId for $table"))
      else currentSnapshot(table)
        .getOrElse(throw NoSuchTable(s"table $table has no snapshots"))
    val paths = snap.files.map(f => tableDir(table).resolve(f).toString)
    schema.fold(spark.read)(spark.read.schema(_)).parquet(paths: _*)
  }

  def currentSnapshot(table: String): Option[Snapshot] = {
    val cur = snapDir(table).resolve("CURRENT")
    if (!Files.exists(cur)) None
    else readSnapshot(table,
      new String(Files.readAllBytes(cur), StandardCharsets.UTF_8).trim.toLong)
  }

  def snapshots(table: String): Seq[Snapshot] = {
    val sd = snapDir(table)
    if (!Files.exists(sd)) Nil
    else Files.list(sd).iterator().asScala
      .filter(_.getFileName.toString.matches("v\\d+\\.json"))
      .map(p => p.getFileName.toString.drop(1).dropRight(5).toLong)
      .toSeq.sorted.flatMap(readSnapshot(table, _))
  }

  // --------------------------------------------------------------------------
  // snapshot json (flat, hand-rolled)
  // --------------------------------------------------------------------------

  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private def writeSnapshot(table: String, s: Snapshot): Unit = {
    val sd = snapDir(table)
    Files.createDirectories(sd)
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""snapshotId": ${s.snapshotId}, "parentId": ${s.parentId}, """
    json ++= s""""rowCount": ${s.rowCount}, """
    json ++= s""""files": [${s.files.map(f => "\"" + esc(f) + "\"").mkString(", ")}], """
    json ++= s""""partitionRows": {${s.partitionRows.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\": " + v }.mkString(", ")}}, """
    json ++= s""""fileStats": {${s.fileStats.toSeq.sortBy(_._1)
      .map { case (k, (lo, hi)) => "\"" + k + "\": \"" + lo + "," + hi + "\"" }
      .mkString(", ")}}, """
    json ++= s""""properties": {${s.properties.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + esc(k) + "\": \"" + esc(v) + "\"" }.mkString(", ")}}"""
    json ++= "}"
    val tmp = sd.resolve(s".v${s.snapshotId}.json.tmp")
    Files.write(tmp, json.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, sd.resolve(s"v${s.snapshotId}.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val curTmp = sd.resolve(".CURRENT.tmp")
    Files.write(curTmp, s.snapshotId.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(curTmp, sd.resolve("CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private def readSnapshot(table: String, sid: Long): Option[Snapshot] = {
    val p = snapDir(table).resolve(s"v$sid.json")
    if (!Files.exists(p)) return None
    val json = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    Some(Snapshot(
      snapshotId = longField(json, "snapshotId"),
      parentId = longField(json, "parentId"),
      files = arrayField(json, "files"),
      rowCount = longField(json, "rowCount"),
      partitionRows = objField(json, "partitionRows")
        .map { case (k, v) => k.toInt -> v.toLong },
      properties = objField(json, "properties"),
      fileStats = objFieldOpt(json, "fileStats").map { case (k, v) =>
        val Array(lo, hi) = v.split(",", 2)
        k.toInt -> ((lo.toLong, hi.toLong))
      }))
  }

  // minimal parsers for our own flat emitter (keys never contain escapes)
  private def longField(json: String, key: String): Long =
    ("\"" + key + "\": (-?\\d+)").r.findFirstMatchIn(json).get.group(1).toLong

  private def arrayField(json: String, key: String): Seq[String] = {
    val body = ("\"" + key + "\": \\[(.*?)\\]").r
      .findFirstMatchIn(json).get.group(1)
    if (body.trim.isEmpty) Nil
    else "\"((?:[^\"\\\\]|\\\\.)*)\"".r.findAllMatchIn(body)
      .map(m => unesc(m.group(1))).toSeq
  }

  /** STRICT object field: a manifest missing it is corrupt and must fail
    * loudly (a silently-empty `properties` map would disarm the streaming
    * sink's batchId idempotence guard — data duplication, not a crash). */
  private def objField(json: String, key: String): Map[String, String] = {
    if (("\"" + key + "\": \\{").r.findFirstIn(json).isEmpty)
      throw new IllegalStateException(s"corrupt snapshot manifest: no \"$key\"")
    objFieldOpt(json, key)
  }

  /** Lenient variant for fields newer than some manifests on disk
    * (`fileStats`): absent ⇒ empty, never an error. */
  private def objFieldOpt(json: String, key: String): Map[String, String] =
    ("\"" + key + "\": \\{(.*?)\\}").r.findFirstMatchIn(json) match {
      case None => Map.empty
      case Some(mm) =>
        "\"((?:[^\"\\\\]|\\\\.)*)\": (?:\"((?:[^\"\\\\]|\\\\.)*)\"|(-?\\d+))".r
          .findAllMatchIn(mm.group(1))
          .map(m => unesc(m.group(1)) ->
            (if (m.group(2) != null) unesc(m.group(2)) else m.group(3)))
          .toMap
    }

  private def unesc(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'n' => sb += '\n'; i += 2
          case 'r' => sb += '\r'; i += 2
          case 't' => sb += '\t'; i += 2
          case 'u' => sb += Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar; i += 6
          case other => sb += other; i += 2
        }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }
}
