package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.graph.Edge

/**
 * Breadth-first search as driver-orchestrated Dataset supersteps — the
 * Spark-first re-expression of the reference's `RouteFinder` (`RouteFinder.kt`):
 *
 *  - queue + `prev`-map expansion (`RouteFinder.kt:47-67`)   → per-superstep
 *    `frontier ⋈ edges` then `left_anti` against the visited set
 *  - bidirectional alternation with frontier balancing and the `TOO_BIG`
 *    cap (`RouteFinder.kt:15-45,71-72`)                      → expand the side
 *    with the smaller frontier; a side past `tooBig` visited entries stops
 *    expanding unless both are past it
 *  - meeting check (`RouteFinder.kt:92`)                      → per-superstep
 *    join of the NEW frontier against the opposite visited set (O(frontier),
 *    not O(visited)); optimal-stop criterion bestLen ≤ radiusF+radiusB
 *  - path stitch (`RouteFinder.kt:103-175`)                   → deterministic
 *    min-(len, meetingId) tie-break (the reference's map-order-dependent
 *    tie-break is deliberately NOT copied, SURVEY.md §7.4), then a parent
 *    walk of ≤ pathLen tiny lookups per side
 *
 * Every superstep `localCheckpoint`s its state to keep plans O(1)-deep; the
 * resumable table-backed variant runs through [[graft.state.Supersteps]].
 */
object Bfs {

  /** Reference's visited-set expansion cap (`RouteFinder.kt:71-72`). */
  val DefaultTooBig: Long = 1L << 18

  /** Single-source distances (unidirectional BFS, G2). Returns (id, dist,
    * parent) for every reachable vertex; parent is the min-id predecessor
    * (deterministic). */
  def distances(edges: Dataset[Edge], start: Long, maxDepth: Int = Int.MaxValue): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // cache the edge table once: every superstep joins the frontier against
    // it, and without the cache each superstep re-ran the full upstream
    // lineage (scan + distinct for the derived graphs)
    val preCached = edges.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE
    val e = edges.toDF()
    if (!preCached) e.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var visited = Seq((start, -1L, 0)).toDF("id", "parent", "dist")
      .localCheckpoint(true)
    var frontier = visited
    var depth = 0
    var frontierCount = 1L
    while (frontierCount > 0 && depth < maxDepth) {
      val expanded = frontier
        .join(e, frontier("id") === e("src"))
        .select($"dst".as("id"), $"src".as("parent"), ($"dist" + 1).as("dist"))
      // the frontier size is observed on the frontier's own checkpoint
      val (next, r) = Iterate.checkpoint(expanded
        .join(visited.select($"id".as("vid")), $"id" === $"vid", "left_anti")
        .groupBy($"id")
        .agg(min($"parent").as("parent"), first($"dist").as("dist")),
        count(lit(1)))
      frontierCount = r.getLong(0)
      // the visited set is a union of per-depth CHECKPOINTED deltas — the
      // round-6 shape re-checkpointed the whole union every superstep,
      // rewriting O(visited) bytes per level; the lazy union reads the same
      // bytes without the rewrite. The union is COLLAPSED every 32 levels:
      // unbounded nesting makes the per-superstep anti-join re-analyze an
      // O(depth)-deep plan (O(depth²) driver work, and a Catalyst stack
      // overflow on path-shaped graphs), so the rewrite cost is amortized
      // to 1/32 of the round-6 shape instead of removed outright
      visited = collapse(visited.union(next), depth)
      frontier = next
      depth += 1
    }
    if (!preCached) e.unpersist()
    visited
  }

  /** Levels between collapses of a lazily unioned visited set. */
  private val CollapseEvery = 32

  /** `visited` after the level `depth` (0-based) delta was unioned in: every
    * [[CollapseEvery]] levels the union is checkpointed, bounding the plan
    * the next anti-join re-analyzes (one unioned delta per level). */
  private def collapse(visited: DataFrame, depth: Int): DataFrame =
    if (depth % CollapseEvery == CollapseEvery - 1) visited.localCheckpoint(true)
    else visited

  /**
   * Resumable single-source BFS with FRONTIER-DELTA commits: the visited set
   * is monotone (a superstep only adds rows), so each superstep fast-appends
   * ONLY the new frontier through [[graft.state.Supersteps.appendDelta]] —
   * committed bytes per superstep ∝ |frontier|, not |visited| (at web-graph
   * depth ~20 a full-visited commit would rewrite the table ~20×). The
   * committed state stays the union of all deltas, so resume (and
   * time-travel) read the identical visited set — kill the JVM at any depth,
   * re-run, get the byte-identical final result. The frontier itself is
   * re-read from the latest delta's files (O(frontier) input), and its row
   * count comes from the commit manifest — no per-superstep count job.
   */
  def distancesResumable(
      edges: Dataset[Edge],
      start: Long,
      log: graft.state.Supersteps,
      maxDepth: Int = Int.MaxValue): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.toDF()
    var depth = log.lastCompleted.getOrElse(-1)
    var frontierCount = 0L
    var visited: DataFrame = null
    if (depth < 0) {
      val init = Seq((start, -1L, 0)).toDF("id", "parent", "dist")
      depth = 0
      val (state, n) = log.appendDelta(0, init, SuperstepMetric("bfs", 0, 1L, 0L, 0L, -1.0))
      visited = state; frontierCount = n
    } else {
      visited = log.readState()
      frontierCount = log.lastAppendedRows.getOrElse(
        visited.filter($"dist" === depth).count())
    }
    while (frontierCount > 0 && depth < maxDepth) {
      val t0 = System.nanoTime()
      val frontier = log.readDelta() // committed bytes of the last frontier
      val expanded = frontier
        .join(e, frontier("id") === e("src"))
        .select($"dst".as("id"), $"src".as("parent"), ($"dist" + 1).as("dist"))
      val next = expanded
        .join(visited.select($"id".as("vid")), $"id" === $"vid", "left_anti")
        .groupBy($"id")
        .agg(min($"parent").as("parent"), first($"dist").as("dist"))
      depth += 1
      val (state, n) = log.appendDelta(depth, next, SuperstepMetric(
        "bfs", depth, 0L, 0L, (System.nanoTime() - t0) / 1000000L, -1.0))
      visited = state
      frontierCount = n
    }
    visited
  }

  /** Result of a bidirectional search: vertex-id path start..end inclusive,
    * or None when unreachable. */
  def shortestPath(
      edgesOut: Dataset[Edge],
      edgesIn: Dataset[Edge],
      start: Long,
      end: Long,
      tooBig: Long = DefaultTooBig): Option[Seq[Long]] = {
    if (start == end) return Some(Seq(start))
    val spark = edgesOut.sparkSession
    import spark.implicits._
    // cache both edge layouts once — each superstep joins a frontier
    // against one of them (same reason as [[distances]])
    val outPreCached = edgesOut.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE
    val inPreCached = edgesIn.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE
    val eOut = edgesOut.toDF()
    val eIn = edgesIn.toDF()
    if (!outPreCached) eOut.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (!inPreCached) eIn.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // visited: (id, parent, dist); parent = min-id predecessor (deterministic)
    var visF = Seq((start, -1L, 0)).toDF("id", "parent", "dist").localCheckpoint(true)
    var visB = Seq((end, -1L, 0)).toDF("id", "parent", "dist").localCheckpoint(true)
    var frontF = visF
    var frontB = visB
    var cntF = 1L; var cntB = 1L       // frontier sizes
    var sizeF = 1L; var sizeB = 1L     // visited sizes (TOO_BIG accounting)
    var radF = 0; var radB = 0         // completed levels per side

    def expand(frontier: DataFrame, frontierCount: Long, visited: DataFrame,
        edges: DataFrame, depth: Int): (DataFrame, DataFrame, Long) = {
      // broadcast the EXPANDED side's frontier when small (AQE would also
      // catch this, but the count is already known driver-side)
      val f = if (frontierCount < 10000) broadcast(frontier) else frontier
      val (next, r) = Iterate.checkpoint(f
        .join(edges, f("id") === edges("src"))
        .select($"dst".as("id"), $"src".as("parent"), ($"dist" + 1).as("dist"))
        .join(visited.select($"id".as("vid")), $"id" === $"vid", "left_anti")
        .groupBy($"id")
        .agg(min($"parent").as("parent"), first($"dist").as("dist")),
        count(lit(1)))
      // lazy union of checkpointed per-level deltas — no O(visited) rewrite
      // per superstep — collapsed every CollapseEvery levels as in
      // [[distances]]: an unreachable target on a path-shaped graph runs
      // one side to its eccentricity, not to a meeting
      (next, collapse(visited.union(next), depth), r.getLong(0))
    }

    // Meeting check per superstep: ONLY the newly-expanded frontier can
    // create meetings (a vertex meets at the moment its second side first
    // visits it, and per-side BFS distances are final at first visit), so
    // joining the new frontier against the OPPOSITE visited set — O(frontier)
    // instead of O(visited²-ish) — sees every meeting exactly once. The
    // running best is folded driver-side under the same (len, id) tie-break.
    def meetingOf(newFrontier: DataFrame, opposite: DataFrame,
        frontierIsForward: Boolean): Option[(Long, Int, Int)] = {
      val met = newFrontier.select($"id", $"dist".as("dn"))
        .join(opposite.select($"id", $"dist".as("dopp")), "id")
        .select($"id", $"dn", $"dopp", ($"dn" + $"dopp").as("len"))
        .orderBy($"len", $"id")
        .limit(1)
        .collect()
      met.headOption.map { r =>
        if (frontierIsForward) (r.getLong(0), r.getInt(1), r.getInt(2))
        else (r.getLong(0), r.getInt(2), r.getInt(1))
      }
    }

    def better(x: Option[(Long, Int, Int)], y: Option[(Long, Int, Int)])
        : Option[(Long, Int, Int)] = (x, y) match {
      case (Some((xi, xf, xb)), Some((yi, yf, yb))) =>
        val xl = xf + xb; val yl = yf + yb
        if (xl < yl || (xl == yl && xi <= yi)) x else y
      case _ => x.orElse(y)
    }

    // Loop until the best meeting is provably optimal (bestLen ≤ radF+radB:
    // any shorter path would already contain a doubly-visited vertex), a side
    // is exhausted with no meeting (⇒ unreachable: a drained forward side
    // means visF is the full reachable set, and end ∈ visB from step 0), or
    // the TOO_BIG policy deadlocks (reference gives up likewise).
    var best: Option[(Long, Int, Int)] = None
    var exhausted = false
    while (!exhausted && best.forall { case (_, df, db) => df + db > radF + radB }) {
      // expansion policy (`RouteFinder.kt:26-39`): a side past the cap stops
      // unless both are past it; among allowed sides, smaller frontier first
      val canF = cntF > 0 && (sizeF < tooBig || sizeB >= tooBig)
      val canB = cntB > 0 && (sizeB < tooBig || sizeF >= tooBig)
      if (!canF && !canB) exhausted = true
      else {
        val goForward = canF && (!canB || cntF <= cntB)
        if (goForward) {
          val (nf, nv, n) = expand(frontF, cntF, visF, eOut, radF)
          frontF = nf; visF = nv; cntF = n; sizeF += n; radF += 1
          best = better(best, meetingOf(frontF, visB, frontierIsForward = true))
        } else {
          val (nb, nv, n) = expand(frontB, cntB, visB, eIn, radB)
          frontB = nb; visB = nv; cntB = n; sizeB += n; radB += 1
          best = better(best, meetingOf(frontB, visF, frontierIsForward = false))
        }
        if (best.isEmpty && (cntF == 0 || cntB == 0)) exhausted = true
      }
    }

    val out = best.map { case (meetId, _, _) =>
      val fChain = walk(visF, meetId)          // start..meet
      val bChain = walk(visB, meetId)          // end..meet
      fChain.reverse ++ bChain.tail            // start..meet..end
    }
    if (!outPreCached) eOut.unpersist()
    if (!inPreCached) eIn.unpersist()
    out
  }

  /** Parent-chain walk: meet → root, returning meet..root order. Each hop is
    * one tiny filter on the checkpointed visited set (path length ≤ diameter). */
  private def walk(visited: DataFrame, from: Long): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer[Long](from)
    var cur = from
    var parent = lookupParent(visited, cur)
    while (parent != -1L) {
      out += parent
      cur = parent
      parent = lookupParent(visited, cur)
    }
    out.toSeq
  }

  private def lookupParent(visited: DataFrame, id: Long): Long = {
    import org.apache.spark.sql.functions.col
    visited.filter(col("id") === id).select(col("parent"))
      .collect().headOption.map(_.getLong(0)).getOrElse(-1L)
  }
}
