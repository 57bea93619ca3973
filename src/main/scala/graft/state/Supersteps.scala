package graft.state

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.algo.SuperstepMetric
import graft.tables.IcebergLite

/**
 * Table-backed superstep state: every iteration of an iterative algorithm
 * commits its state to an Iceberg-lite table snapshot together with a
 * lineage/metrics record, so a killed job resumes from the last committed
 * superstep (the north rule's resumability requirement). Writing state out
 * each superstep ALSO truncates plan lineage — at scale this replaces
 * `localCheckpoint` (SURVEY.md §4 "iteration lineage control").
 *
 * Layout: one Iceberg-lite table `<algo>_state` whose snapshot N carries
 * superstep N's state; metrics live in the snapshot properties (superstep,
 * rowsOut, edgesProcessed, wallMs, delta) and per-partition row counts in
 * the snapshot's partitionRows — the "(algo, superstep, partitionId, rows,
 * ...)" lineage of SURVEY.md §7.1 M5.
 */
class Supersteps(root: String, algo: String, spark: SparkSession) {

  private val tables = new IcebergLite(root)
  private val stateTable = s"${algo}_state"

  /** Last committed superstep, if any. */
  def lastCompleted: Option[Int] =
    tables.currentSnapshot(stateTable)
      .map(_.properties("superstep").toInt)

  /** State as committed at `superstep` (defaults to the latest). */
  def readState(superstep: Int = -1): DataFrame = {
    if (superstep < 0) tables.read(spark, stateTable)
    else {
      val snap = tables.snapshots(stateTable)
        .find(_.properties("superstep").toInt == superstep)
        .getOrElse(sys.error(s"superstep $superstep not committed for $algo"))
      tables.read(spark, stateTable, snap.snapshotId)
    }
  }

  /** Commit one superstep's state + metrics; returns the re-read state (the
    * caller continues from the COMMITTED bytes, so resumed and uninterrupted
    * runs see identical inputs), read with `state`'s schema — no Parquet
    * schema-inference job per superstep. */
  def commit(superstep: Int, state: DataFrame, m: SuperstepMetric): DataFrame =
    commit(superstep, state, () => Row.empty)(_ => m)._1

  /** [[commit]] for a superstep whose metric needs scalars of its own
    * state: `state` carries a `Dataset.observe` whose values `scalars`
    * reads (see [[graft.algo.Iterate.observe]]) — the write is the action
    * that produces them, so no second job runs over the state. `metric` is
    * built from them once the data files are written, before the manifest
    * commits. Returns the re-read state, the scalars and the metric. */
  def commit(superstep: Int, state: DataFrame, scalars: () => Row)(
      metric: Row => SuperstepMetric): (DataFrame, Row, SuperstepMetric) = {
    lazy val r = scalars()
    lazy val m = metric(r)
    tables.commit(state, stateTable, Map(
      "algo" -> algo,
      "superstep" -> superstep.toString,
      "rowsOut" -> m.rowsOut.toString,
      "edgesProcessed" -> m.edgesProcessed.toString,
      "wallMs" -> m.wallMs.toString,
      "delta" -> m.delta.toString))
    (tables.read(spark, stateTable, schema = Some(state.schema)), r, m)
  }

  /**
   * Append-only superstep commit for MONOTONE state (BFS visited sets: each
   * superstep only ADDS rows): writes ONLY `delta` as an Iceberg fast
   * append — O(frontier) bytes per superstep, not O(visited); the full state
   * stays the union of all appended files, so `readState`/time-travel are
   * unchanged. Returns the committed full state plus the delta's committed
   * row count, read from the new files' parquet footers — no count job.
   * `rowsOut` in the lineage comes from the same manifest figure.
   */
  def appendDelta(superstep: Int, delta: DataFrame, m: SuperstepMetric)
      : (DataFrame, Long) = {
    val snap = tables.append(delta, stateTable, Map(
      "algo" -> algo,
      "superstep" -> superstep.toString,
      "edgesProcessed" -> m.edgesProcessed.toString,
      "wallMs" -> m.wallMs.toString,
      "delta" -> m.delta.toString))
    (tables.read(spark, stateTable, schema = Some(delta.schema)),
      snap.properties("appendedRows").toLong)
  }

  /** Only the rows appended at `superstep` (default: the latest) — for
    * delta-committed algorithms this IS the committed frontier, O(frontier)
    * input. */
  def readDelta(superstep: Int = -1): DataFrame = {
    if (superstep < 0) tables.readAppended(spark, stateTable)
    else {
      val snap = tables.snapshots(stateTable)
        .find(_.properties("superstep").toInt == superstep)
        .getOrElse(sys.error(s"superstep $superstep not committed for $algo"))
      tables.readAppended(spark, stateTable, snap.snapshotId)
    }
  }

  /** Row count of the latest committed delta, from the manifest (no job). */
  def lastAppendedRows: Option[Long] =
    tables.currentSnapshot(stateTable)
      .flatMap(_.properties.get("appendedRows")).map(_.toLong)

  /** Expire all but the last `keepLast` state snapshots
    * ([[IcebergLite.expireSnapshots]]): full-replacement supersteps
    * (PageRank/CC/LPA) otherwise retain one complete state copy PER
    * superstep. Resume only needs the LATEST committed superstep, so any
    * keepLast ≥ 1 preserves restartability — but each expired manifest
    * carries its superstep's metrics, so [[lineage]] truncates to the kept
    * window; keep full history where the lineage record matters.
    * Delta-committed state (BFS) shares every file forward into the latest
    * manifest, so expiry there removes old manifests only, never data. */
  def expire(keepLast: Int): (Int, Int) =
    tables.expireSnapshots(stateTable, keepLast)

  /** Full lineage log: one row per committed superstep. Delta commits carry
    * no explicit rowsOut metric — the manifest's appendedRows is the true
    * per-superstep output, so it backfills rowsOut. */
  def lineage: Seq[Map[String, String]] =
    tables.snapshots(stateTable).map { s =>
      s.properties.get("appendedRows").map(r => Map("rowsOut" -> r)).getOrElse(Map.empty) ++
        s.properties ++ Map(
        "snapshotId" -> s.snapshotId.toString,
        "rowCount" -> s.rowCount.toString,
        "partitions" -> s.partitionRows.size.toString)
    }
}
