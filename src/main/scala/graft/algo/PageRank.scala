package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.Edge

/** Per-superstep execution record — the lineage/metrics row the north rule
  * requires for every iteration (persisted via [[graft.state.Supersteps]]). */
case class SuperstepMetric(
    algo: String,
    superstep: Int,
    rowsOut: Long,
    edgesProcessed: Long,
    wallMs: Long,
    delta: Double)

/**
 * PageRank over the canonical edge table — Dataset/Catalyst only.
 *
 * Frozen convention (SURVEY.md §7.4.5; the oracle in tests implements the
 * identical one): damping d = 0.85, ranks are a probability distribution
 * (sum = 1), dangling mass redistributed uniformly each superstep:
 *
 *   rank'(v) = (1-d)/n + d * ( Σ_{u→v} rank(u)/outdeg(u) + dangling/n )
 *
 * Physical shape per superstep: one hash join ranks⋈edges on `src` (AQE
 * skew-split as backstop; hub out-degree fans out map-side), one partial
 * + final hash aggregation by `dst` (map-side combine absorbs hub in-degree
 * skew) and a union of the fixed no-in-edge rows — ONE action, which also
 * observes (`Dataset.observe`) the dangling mass Σ rank over dangling
 * vertices that the next superstep's teleport term takes as a driver
 * literal: no broadcast scalar subplan, no SinglePartition exchange, no
 * second job. The edge weights and every vertex's fixed dangling flag are
 * joined ONCE before the loop. Superstep state is localCheckpoint-ed (plan
 * depth O(1)); the resumable variant commits state tables through
 * Supersteps instead, observing the mass on each commit's write.
 *
 * Contract: every edge endpoint is in `vertices`; an edge that breaks it
 * fails the call (IllegalArgumentException) instead of adding a ranked row.
 */
object PageRank {

  case class Result(ranks: DataFrame, metrics: Seq[SuperstepMetric], iterations: Int)

  /**
   * @param vertices single-column `id` DataFrame (every vertex, incl.
   *                 isolated; every edge endpoint must be one)
   * @param tol      max per-vertex |Δrank| convergence threshold; 0 ⇒ run
   *                 exactly `maxIter` supersteps
   */
  def run(
      vertices: DataFrame,
      edges: Dataset[Edge],
      damping: Double = 0.85,
      tol: Double = 1e-9,
      maxIter: Int = 100): Result =
    runFrom(vertices, edges, None, damping, tol, maxIter)

  /**
   * Warm-start PageRank: iterate to `tol` from a PRIOR rank vector instead
   * of the uniform start — the incremental-maintenance shape for a
   * continuously ingesting graph. After an ingest append grows the graph,
   * the last committed ranks seed the new run: ids no longer present are
   * dropped, NEW ids are seeded 1/n, and the seed is renormalized to sum 1
   * (a probability distribution again). The fixpoint is unchanged — the
   * damped iteration is a contraction, so the start vector affects only the
   * path length, not the limit — and with a small delta the old ranks sit
   * near the new fixpoint, so reconvergence takes a fraction of the cold
   * supersteps (measured in BASELINE.md).
   *
   * ID-SPACE CAVEAT: seeding joins on `id`, so prevRanks must come from the
   * SAME id space as `vertices`. The engine's dense ids are the sorted-url
   * rank ([[graft.graph.Dictionary]]) — stable across runs on one committed
   * graph, but a RE-CONVERT over a grown url set renumbers them; seed with
   * [[remapRanks]] (old id → url → new id) in that case, or the old ranks
   * would silently attach to the wrong vertices.
   */
  def warmStart(
      vertices: DataFrame,
      edges: Dataset[Edge],
      prevRanks: DataFrame,
      damping: Double = 0.85,
      tol: Double = 1e-9,
      maxIter: Int = 100): Result =
    runFrom(vertices, edges, Some(prevRanks), damping, tol, maxIter)

  /**
   * Personalized PageRank (random walk with restart): the teleport mass —
   * the (1−d) restart AND the dangling redistribution — goes to the SOURCE
   * set instead of uniformly to every vertex, so ranks measure proximity
   * to the sources (related-page discovery, seed-expanded crawl frontiers,
   * topic-conditioned authority). Frozen convention, SQL-oracle-able like
   * [[run]]:
   *
   *   r0(v)    = [v ∈ S] / |S|
   *   rank'(v) = (1−d)·[v ∈ S]/|S|
   *              + d·( Σ_{u→v} rank(u)/outdeg(u) + dangling·[v ∈ S]/|S| )
   *
   * Fixed iteration count (keeps the unrolled SQL oracle exact — the
   * g_pagerank discipline); same physical shape as [[run]]: the source
   * membership is a driver-side literal IN over the n-row rank frame
   * (sources are a handful of seeds by construction — a large
   * personalization set is just a different teleport vector and would
   * arrive as a frame), edge side pre-partitioned once, never reshuffled.
   *
   * @param sources non-empty seed vertex ids; ids absent from `vertices`
   *                fail loudly (silent absence would leak teleport mass)
   */
  def personalized(
      vertices: DataFrame,
      edges: Dataset[Edge],
      sources: Seq[Long],
      damping: Double = 0.85,
      maxIter: Int = 10): Result = {
    require(sources.nonEmpty, "personalized PageRank needs >= 1 source id")
    val srcIds = sources.distinct
    val s = srcIds.size.toDouble
    val isSrc = col("id").isin(srcIds.map(lit(_)): _*)
    val g = setUp(vertices, edges)
    val present = g.flags.filter(isSrc).count()
    require(present == srcIds.size,
      s"${srcIds.size - present} source id(s) not in the vertex set")
    // teleport per row: CASE isSrc THEN (1-d)/|S| + (d*dm)/|S| ELSE 0 — the
    // same arithmetic as the oracle; a no-in-edge row's d*0.0 term is absent
    val teleport = (dm: Double) =>
      when(isSrc, lit((1.0 - damping) / s + damping * dm / s)).otherwise(lit(0.0))
    val init = g.flags.select(col("id"),
      when(isSrc, lit(1.0 / s)).otherwise(lit(0.0)).as("rank"), col("dangling"))
    iterate("ppr", g, init, teleport, damping, tol = 0.0, maxIter)
  }

  /** Carry a rank vector across a RE-CONVERTED warehouse: dense ids are the
    * sorted-url rank, so any change to the url set renumbers them — map old
    * id → url → new id before seeding [[warmStart]]. Old urls no longer
    * present drop out; new urls are simply absent (warmStart seeds them
    * 1/n). Both page frames need (id, url) columns. */
  def remapRanks(prevRanks: DataFrame, oldPages: DataFrame,
      newPages: DataFrame): DataFrame = {
    val spark = prevRanks.sparkSession
    import spark.implicits._
    prevRanks.join(oldPages.select($"id", $"url"), "id")
      .select($"url", $"rank")
      .join(newPages.select($"id", $"url"), "url")
      .select($"id", $"rank")
  }

  /** The one-time set-up every entry point shares: the vertex count, the
    * edge count, the weighted edge layout, the per-vertex dangling flags and
    * the fixed no-in-edge rows. */
  private case class Graph(n: Long, edgeCount: Long, flags: DataFrame,
      edgesW: DataFrame, noIn: DataFrame) {
    def release(): Unit = edgesW.unpersist()
  }

  private def setUp(vertices: DataFrame, edges: Dataset[Edge]): Graph = {
    val spark = edges.sparkSession
    import spark.implicits._
    // cache the raw edge input ONCE before anything reads it: the setup
    // below consumes the edge lineage several times (out-degree, distinct
    // dst, the weight layout, and — via CacheManager subplan substitution —
    // any caller-side vertex frame derived from the same edge plan), and
    // without this each consumer re-ran the full upstream scan+distinct
    val preCached = edges.storageLevel != StorageLevel.NONE
    val e0 = edges.toDF()
    if (!preCached) e0.persist(StorageLevel.MEMORY_AND_DISK)
    val (flags, n, edgeCount, edgesW) =
      try {
        // one action builds the edge cache and the per-vertex flags and
        // observes both counts: n, and Σ outdeg over the vertex set — the
        // edge count whenever the endpoint contract holds, which the weight
        // layout checks next
        val (flags, counts) = Iterate.checkpoint(vertexFlags(e0,
            vertices.select(col(vertices.columns.head).as("id"))),
          count(lit(1)), coalesce(sum($"deg"), lit(0L)))
        require(counts.getLong(0) > 0, "empty vertex set")
        (flags, counts.getLong(0), counts.getLong(1),
          weightedEdges(e0, flags, counts.getLong(1)))
      } finally if (!preCached) e0.unpersist()
    // vertices with NO in-edges never appear in the contribution aggregate;
    // the set is FIXED across supersteps, so unioning these rows in replaces
    // the per-superstep verts⋈contribs left join (an n-row Exchange + sort
    // per superstep, guide §2.4)
    Graph(n, edgeCount, flags.select($"id", $"deg".isNull.as("dangling")),
      edgesW, flags.filter(!$"hasIn").select($"id", $"deg".isNull.as("dangling")))
  }

  /** Per vertex (lazy): out-degree `deg` (null for a dangling vertex — no
    * out-edges; its mass redistributes uniformly) and `hasIn`. */
  private[graft] def vertexFlags(e0: DataFrame, verts: DataFrame): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    verts
      .join(e0.groupBy($"src".as("id")).agg(count(lit(1)).as("deg")), Seq("id"), "left")
      .join(e0.select($"dst".as("id")).distinct().withColumn("in", lit(true)),
        Seq("id"), "left")
      .select($"id", $"deg", $"in".isNotNull.as("hasIn"))
  }

  /** The one-time weighted edge layout (src, dst, w = 1/outdeg(src), dd =
    * dst is dangling), pre-partitioned by src and cached so the
    * per-superstep join only shuffles the (n-row) rank side, never the
    * (m-row) edge side. Every edge endpoint must be a vertex (an outside
    * endpoint would come back as an extra ranked row): the edges that break
    * it are counted by an observed metric on the layout's own
    * materialization, and a nonzero count fails the call. */
  private[graft] def weightedEdges(e0: DataFrame, flags: DataFrame,
      edgeCount: Long): DataFrame = {
    val spark = e0.sparkSession
    import spark.implicits._
    val (joined, outside) = Layout.checkedEndpoints(e0,
      flags.select($"id".as("src"), $"deg"),
      flags.select($"id".as("dst"), $"deg".isNull.as("dd")))
    val edgesW = joined.select($"src", $"dst", (lit(1.0) / $"deg").as("w"), $"dd")
      .repartition(Layout.edgePartitions(edgeCount), $"src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    edgesW.count()
    val bad = outside()
    if (bad > 0) edgesW.unpersist()
    Layout.requireEndpoints(bad)
    edgesW
  }

  /** Σ rank over the dangling rows: the next superstep's dangling mass,
    * observed on the action that materializes this superstep. */
  private def danglingMass: Column =
    Iterate.massSum(when(col("dangling"), col("rank")))

  /** One superstep's LAZY plan (the loop body of every entry point, exposed
    * as a seam for the plan audit): one hash join ranks⋈edgesW (edge side
    * pre-partitioned, never reshuffled), one partial/final aggregation by
    * dst, and the fixed no-in-edge rows UNIONED in — no per-superstep
    * verts⋈contribs Exchange. `teleport` is the per-row base term: the
    * previous superstep's observed dangling mass arrives as a driver
    * literal inside it, so the plan has no scalar subplan (no broadcast,
    * no SinglePartition exchange). Each output row carries its vertex's
    * fixed `dangling` flag for the next observation. The expression tree
    * mirrors the oracle's arithmetic (base + d*contrib). */
  private[graft] def superstepPlan(ranks: DataFrame, edgesW: DataFrame,
      noIn: DataFrame, teleport: Column, damping: Double): DataFrame =
    ranks.join(edgesW, ranks("id") === edgesW("src"))
      .groupBy(col("dst").as("id"), col("dd").as("dangling"))
      .agg(sum(col("rank") * col("w")).as("contrib"))
      .select(col("id"), (teleport + lit(damping) * col("contrib")).as("rank"),
        col("dangling"))
      .union(noIn.select(col("id"), teleport.as("rank"), col("dangling")))

  private def runFrom(
      vertices: DataFrame,
      edges: Dataset[Edge],
      prevRanks: Option[DataFrame],
      damping: Double,
      tol: Double,
      maxIter: Int): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = setUp(vertices, edges)
    val n = g.n
    val init = prevRanks match {
      case None => g.flags.select($"id", lit(1.0 / n).as("rank"), $"dangling")
      case Some(prev) =>
        // seed = prior ranks restricted to the current vertex set, new
        // vertices at 1/n, renormalized to a probability distribution
        val seeded = g.flags
          .join(prev.select($"id", $"rank".as("prev")), Seq("id"), "left")
          .select($"id", coalesce($"prev", lit(1.0 / n)).as("rank"), $"dangling")
          .localCheckpoint(true)
        val total = seeded.agg(sum($"rank")).as[Double].head()
        seeded.select($"id", ($"rank" / total).as("rank"), $"dangling")
    }
    iterate("pagerank", g, init, uniformTeleport(n, damping), damping, tol, maxIter)
  }

  /** The frozen convention's base term, (1-d)/n + (d*dm)/n, for the previous
    * superstep's dangling mass dm — the oracle's arithmetic exactly. */
  private def uniformTeleport(n: Long, damping: Double): Double => Column =
    dm => lit((1.0 - damping) / n + damping * dm / n)

  /** The in-memory superstep loop: ONE action per superstep (the
    * checkpoint of [[superstepPlan]]), which also observes the dangling
    * mass the next superstep's teleport needs. `tol > 0` adds the delta
    * action (it needs the previous ranks). */
  private def iterate(algo: String, g: Graph, init: DataFrame,
      teleport: Double => Column, damping: Double, tol: Double,
      maxIter: Int): Result = {
    val spark = init.sparkSession
    import spark.implicits._
    var (ranks, mass) = Iterate.checkpoint(init, danglingMass)
    val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetric]()
    var iter = 0
    var delta = Double.MaxValue
    while (iter < maxIter && (tol <= 0.0 || delta > tol)) {
      val t0 = System.nanoTime()
      val (next, nextMass) = Iterate.checkpoint(superstepPlan(ranks, g.edgesW,
        g.noIn, teleport(Iterate.massAt(mass, 0)), damping), danglingMass)
      delta =
        if (tol > 0.0)
          next.join(ranks.select($"id", $"rank".as("old")), "id")
            .agg(max(abs($"rank" - $"old"))).as[Double].head()
        else Double.MaxValue
      ranks = next
      mass = nextMass
      iter += 1
      metrics += SuperstepMetric(algo, iter, g.n, g.edgeCount,
        Iterate.msSince(t0), if (tol > 0.0) delta else -1.0)
    }
    // release loop-scoped caches (ranks is localCheckpoint-ed, independent);
    // leaked caches otherwise evict-churn the NEXT job's working set
    g.release()
    Result(ranks.select($"id", $"rank"), metrics.toSeq, iter)
  }

  /**
   * Resumable fixed-iteration PageRank: every superstep's ranks are committed
   * through [[graft.state.Supersteps]]; on start the loop continues from the
   * last committed superstep (kill the JVM at any point, re-run, get the
   * byte-identical final state — each superstep consumes the COMMITTED bytes
   * of the previous one, so the recomputation is exact).
   *
   * Same superstep plan as [[run]]; the committed state stays (id, rank).
   * The dangling mass is observed on each commit's own write; a resumed run
   * re-derives it once from the committed rows (an exact sum, so the same
   * value the uninterrupted run observed).
   */
  def runResumable(
      vertices: DataFrame,
      edges: Dataset[Edge],
      log: graft.state.Supersteps,
      damping: Double = 0.85,
      maxIter: Int = 10): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val g = setUp(vertices, edges)
    val n = g.n
    // commits the (id, rank) state; the metric is taken once the data
    // files are written, so its wall includes the write
    def commit(step: Int, frame: DataFrame)(metric: => SuperstepMetric)
        : (DataFrame, Double, SuperstepMetric) = {
      val (observed, mass) = Iterate.observe(frame, danglingMass)
      val (state, r, m) =
        log.commit(step, observed.select($"id", $"rank"), mass)(_ => metric)
      (state, Iterate.massAt(r, 0), m)
    }
    var iter = log.lastCompleted.getOrElse(-1)
    var (ranks, dm) =
      if (iter < 0) {
        iter = 0
        val (state, mass, _) = commit(0, g.flags.select($"id",
          lit(1.0 / n).as("rank"), $"dangling"))(
          SuperstepMetric("pagerank", 0, n, 0L, 0L, -1.0))
        (state, mass)
      } else {
        val state = log.readState()
        (state, Iterate.massAt(state.join(g.flags, "id").agg(danglingMass).head(), 0))
      }
    val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetric]()
    while (iter < maxIter) {
      val t0 = System.nanoTime()
      iter += 1
      val (state, mass, m) = commit(iter, superstepPlan(ranks, g.edgesW, g.noIn,
          uniformTeleport(n, damping)(dm), damping))(
        SuperstepMetric("pagerank", iter, n, g.edgeCount, Iterate.msSince(t0), -1.0))
      ranks = state
      dm = mass
      metrics += m
    }
    // release loop-scoped caches (ranks reads the committed table)
    g.release()
    Result(ranks, metrics.toSeq, iter)
  }

  /** In-driver dense power iteration — the frozen oracle for allclose-1e-6
    * verification (FIXTURES.md §4; the reference has no PageRank, so this
    * IS the normative semantics). Same convention as [[run]], exactly. */
  def oracle(
      n: Int,
      edges: Seq[(Int, Int)],
      damping: Double = 0.85,
      tol: Double = 1e-12,
      maxIter: Int = 200): Array[Double] = {
    val out = Array.fill(n)(0)
    edges.foreach { case (s, _) => out(s) += 1 }
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    var rank = Array.fill(n)(1.0 / n)
    var it = 0
    var delta = Double.MaxValue
    while (it < maxIter && delta > tol) {
      val next = Array.fill(n)(0.0)
      var danglingMass = 0.0
      for (v <- 0 until n if out(v) == 0) danglingMass += rank(v)
      for ((s, ts) <- adj; t <- ts) next(t) += rank(s) / out(s)
      val base = (1.0 - damping) / n + damping * danglingMass / n
      delta = 0.0
      for (v <- 0 until n) {
        val r = base + damping * next(v)
        delta = math.max(delta, math.abs(r - rank(v)))
        next(v) = r
      }
      rank = next
      it += 1
    }
    rank
  }
}
