package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.graph.Edge

/**
 * Synchronous label propagation (community detection) over the undirected
 * view of the edge table.
 *
 * Frozen deterministic convention (LPA is famously order-sensitive; ours is
 * a pure function of the graph):
 *   - labels init to vertex id
 *   - superstep: label'(v) = the most frequent label among Γ(v); ties broken
 *     by the SMALLEST label; isolated vertices keep their label
 *   - synchronous updates, fixed `maxIter` supersteps (classic LPA may
 *     oscillate under synchronous updates; a fixed budget keeps it a pure
 *     function), early-exit when no label changes
 *
 * Shape per superstep: one join labels⋈edges + one two-level aggregation
 * (count per (v,label), then max_by-with-min-tie per v) — both partial-agg
 * friendly, hub-skew absorbed map-side — then the labels⋈chosen row that
 * holds each vertex's old and new label. ONE action per superstep: the
 * checkpoint (or committed snapshot, in the resumable variant) of the new
 * labels observes (`Dataset.observe`) the changed count on that row
 * instead of a second join/count job.
 */
object LabelPropagation {

  case class Result(labels: DataFrame, metrics: Seq[SuperstepMetric], iterations: Int)

  /** The undirected, self-loop-free, distinct (u, v) pair table,
    * checkpointed, and its row count (observed on the same action). */
  private def undirected(edges: Dataset[Edge]): (DataFrame, Long) = {
    val spark = edges.sparkSession
    import spark.implicits._
    val (sym, r) = Iterate.checkpoint(edges.toDF()
      .select($"src".as("u"), $"dst".as("v"))
      .union(edges.select($"dst".as("u"), $"src".as("v")))
      .filter($"u" =!= $"v").distinct(), count(lit(1)))
    (sym, r.getLong(0))
  }

  /** One superstep's lazy plan: the labels⋈chosen row — the old `label`
    * and the chosen `newLabel` (null for an isolated vertex) per vertex. */
  private def step(sym: DataFrame, labels: DataFrame): DataFrame = {
    val spark = sym.sparkSession
    import spark.implicits._
    val nbrLabels = sym.join(labels, sym("v") === labels("id"))
      .select($"u", $"label")
    val freq = nbrLabels.groupBy($"u", $"label").agg(count(lit(1)).as("c"))
    // most frequent, ties to smallest label: max over (c, -label)
    val chosen = freq.groupBy($"u")
      .agg(max(struct($"c", (-$"label").as("nl"))).as("top"))
      .select($"u".as("id"), (-$"top.nl").as("newLabel"))
    labels.join(chosen, Seq("id"), "left")
  }

  private def newLabel: Column = coalesce(col("newLabel"), col("label"))

  /** The vertices whose label a [[step]] row changes. */
  private def changedCount: Column = count(when(newLabel =!= col("label"), 1))

  def run(vertices: DataFrame, edges: Dataset[Edge], maxIter: Int = 10): Result = {
    val spark = edges.sparkSession
    import spark.implicits._

    val verts = vertices.select(col(vertices.columns.head).as("id"))
    val (sym, edgeCount) = undirected(edges)
    var labels = verts.withColumn("label", $"id").localCheckpoint(true)
    val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetric]()
    var iter = 0
    var changed = Long.MaxValue
    while (iter < maxIter && changed > 0) {
      val t0 = System.nanoTime()
      val (row, moved) = Iterate.observe(step(sym, labels), changedCount)
      labels = row.select($"id", newLabel.as("label")).localCheckpoint(true)
      changed = moved().getLong(0)
      iter += 1
      metrics += SuperstepMetric("lpa", iter, changed, edgeCount,
        Iterate.msSince(t0), changed.toDouble)
    }
    Result(labels, metrics.toSeq, iter)
  }

  /** Resumable variant: labels committed per superstep via
    * [[graft.state.Supersteps]]; resumes at the last committed superstep. */
  def runResumable(vertices: DataFrame, edges: Dataset[Edge],
      log: graft.state.Supersteps, maxIter: Int = 10): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val verts = vertices.select(col(vertices.columns.head).as("id"))
    val (sym, edgeCount) = undirected(edges)

    var iter = log.lastCompleted.getOrElse(-1)
    var labels =
      if (iter < 0) {
        iter = 0
        log.commit(0, verts.withColumn("label", $"id"),
          SuperstepMetric("lpa", 0, 0L, edgeCount, 0L, -1.0))
      } else log.readState()
    var changed = log.lineage.lastOption
      .map(_("delta").toDouble.toLong).filter(_ >= 0).getOrElse(Long.MaxValue)
    val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetric]()
    while (iter < maxIter && changed != 0) {
      val t0 = System.nanoTime()
      val (row, moved) = Iterate.observe(step(sym, labels), changedCount)
      iter += 1
      val (state, r, m) = log.commit(iter,
          row.select($"id", newLabel.as("label")), moved) { r =>
        SuperstepMetric("lpa", iter, r.getLong(0), edgeCount,
          Iterate.msSince(t0), r.getLong(0).toDouble)
      }
      labels = state
      changed = r.getLong(0)
      metrics += m
    }
    Result(labels, metrics.toSeq, iter)
  }

  /** Driver oracle: the identical convention, dense. */
  def oracle(n: Int, edges: Seq[(Int, Int)], maxIter: Int = 10): Array[Long] = {
    val nbrs = Array.fill(n)(scala.collection.mutable.Set[Int]())
    for ((a, b) <- edges if a != b) { nbrs(a) += b; nbrs(b) += a }
    var labels = Array.tabulate(n)(_.toLong)
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      changed = false
      val next = Array.tabulate(n) { v =>
        if (nbrs(v).isEmpty) labels(v)
        else {
          val freq = nbrs(v).toSeq.map(labels).groupBy(identity)
            .map { case (l, xs) => (l, xs.size) }
          val maxC = freq.values.max
          freq.filter(_._2 == maxC).keys.min
        }
      }
      changed = !java.util.Arrays.equals(next, labels)
      labels = next
      iter += 1
    }
    labels
  }
}
