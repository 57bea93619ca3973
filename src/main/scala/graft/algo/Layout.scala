package graft.algo

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared physical-layout policy for the iterative operators' cached edge
  * layouts. */
object Layout {

  /** Rows per cached-edge-layout partition: ~2M edge rows ≈ 50–100 MB —
    * the guide §2.2 "fewer, larger partitions" sweet spot. */
  val EdgeRowsPerPartition: Long = 2L * 1000 * 1000

  /** Partition count for a cached edge layout, DERIVED from the edge count
    * (guide §2: scale-adaptive partitioning, never a constant tuned for
    * either local mode or a cluster): a fixture-sized graph collapses to a
    * few partitions (a superstep stops paying shuffle-partition-count task
    * overhead), a 10⁹-edge graph gets thousands. Callers know the edge
    * count already — every operator counts its cached input first. */
  def edgePartitions(edgeRows: Long): Int =
    math.max(1, math.ceil(edgeRows.toDouble / EdgeRowsPerPartition).toInt)

  /** `edges` left-joined with per-vertex columns on each endpoint — `bySrc`
    * keyed `src`, `byDst` keyed `dst`, each one row per vertex of the vertex
    * set — with the edges whose endpoint has no row counted by an observed
    * metric: read the count (the returned reader) once an action
    * materialized the frame, and pass it to [[requireEndpoints]]. */
  def checkedEndpoints(edges: DataFrame, bySrc: DataFrame, byDst: DataFrame)
      : (DataFrame, () => Long) = {
    val (joined, outside) = Iterate.observe(
      edges.join(bySrc.withColumn("srcKnown", lit(true)), Seq("src"), "left")
        .join(byDst.withColumn("dstKnown", lit(true)), Seq("dst"), "left"),
      count(when(col("srcKnown").isNull || col("dstKnown").isNull, 1)))
    (joined.drop("srcKnown", "dstKnown"), () => outside().getLong(0))
  }

  /** The vertex-set contract of the link-analysis operators: an edge
    * endpoint outside the vertex set fails the call loudly instead of
    * surfacing as an extra scored row. */
  def requireEndpoints(outside: Long): Unit =
    require(outside == 0,
      s"$outside edge(s) have an endpoint outside the vertex set")
}
