package graft.algo

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.graph.Edge

/**
 * HITS (hubs & authorities) over the canonical edge table — the other
 * classic link-analysis fixpoint next to [[PageRank]] (Kleinberg 1999,
 * "Authoritative sources in a hyperlinked environment"). On a web link
 * graph the authority score surfaces the pages everyone points AT and the
 * hub score the pages that point at good authorities — the reference's
 * popular-pages listing (reference: README.md's most-linked examples) is
 * the degree-1 approximation of exactly this.
 *
 * Frozen convention (the in-driver [[oracle]] and the SQL oracle in
 * SparkEntry implement the identical one):
 *
 *   - init: hub(v) = 1 for every vertex
 *   - per superstep: auth(v) = Σ_{u→v} hub(u), then L1-normalize
 *                    (Σ auth = 1); hub(u) = Σ_{u→v} auth(v) over the NEW
 *                    authorities, then L1-normalize
 *   - fixed iteration count (the power iteration converges to the
 *     principal eigenvectors of AᵀA / AAᵀ; a fixed unroll keeps the SQL
 *     oracle exact — same discipline as the g_pagerank oracle)
 *
 * L1 (sum) normalization instead of the textbook L2: same fixpoint
 * direction, no sqrt in the per-step SQL, and scores read as a
 * probability-like distribution. Vertices with no in-edges get auth 0,
 * no out-edges get hub 0; a side with an all-zero raw sum keeps zeros
 * (empty-edge graphs degenerate gracefully rather than divide by zero).
 *
 * Physical shape per superstep — built for the 100 TB graph, not the
 * fixture: the auth phase joins hubs⋈edges ON src and the hub phase joins
 * auths⋈edges ON dst, so the loop caches the edge table TWICE, once
 * pre-partitioned by each key ([[PageRank]] needs only the src layout).
 * Every superstep then shuffles only the n-row score side — the m-row edge
 * side never moves after the two one-time repartitions. Hub in/out-degree
 * skew is absorbed map-side by the partial hash aggregation. State is
 * localCheckpoint-ed per superstep (plan depth O(1) across iterations).
 */
object Hits {

  case class Result(scores: DataFrame, metrics: Seq[SuperstepMetric], iterations: Int)

  /** One gather phase (the loop body's join+agg, exposed as a lazy seam for
    * the plan audit): scores flow TO the edge layout keyed `joinKey`, sums
    * group by the opposite endpoint `outKey`. The edge side is already
    * partitioned by `joinKey`, so only the score side shuffles. */
  private[graft] def gatherStep(edgesByKey: DataFrame, scores: DataFrame,
      scoreCol: String, joinKey: String, outKey: String): DataFrame =
    edgesByKey.join(scores.withColumnRenamed("id", joinKey), joinKey)
      .groupBy(col(outKey).as("id"))
      .agg(sum(col(scoreCol)).as("raw"))

  /** [[Layout.requireEndpoints]], releasing the set-up's caches first when
    * it fails. */
  private def requireEndpoints(outside: Long, cached: DataFrame*): Unit = {
    if (outside > 0) cached.foreach(_.unpersist())
    Layout.requireEndpoints(outside)
  }

  /**
   * @param vertices single-column `id` frame (every vertex, incl. isolated;
   *                 every edge endpoint must be one — an edge that breaks
   *                 this fails the call instead of adding a scored row)
   * @param maxIter  fixed superstep count (no tolerance early-exit: keeps
   *                 the unrolled SQL oracle exact; callers wanting
   *                 convergence detection read the metrics' delta)
   * @param computeDelta when true (default), each superstep's metric carries
   *                     max |Δhub| (one extra tiny action per superstep);
   *                     when false the metric's delta is -1.0 — the same
   *                     don't-compute-what-you-throw-away convention as
   *                     [[PageRank.run]] with tol = 0
   * @return scores frame (id, hub, auth)
   */
  def run(
      vertices: DataFrame,
      edges: Dataset[Edge],
      maxIter: Int = 10,
      computeDelta: Boolean = true): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")

    // cache the raw edge input once: the two layout repartitions + the edge
    // count each re-ran the full upstream lineage, and caller-side vertex
    // frames over the same edge plan hit this cache via CacheManager
    // subplan substitution
    val preCached = edges.storageLevel != StorageLevel.NONE
    val e0 = edges.toDF()
    if (!preCached) e0.persist(StorageLevel.MEMORY_AND_DISK)
    val edgeCount = e0.count()
    val verts = vertices.select(col(vertices.columns.head).as("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = verts.count()
    require(n > 0, "empty vertex set")

    // the two one-time edge layouts: each phase's join keys on a different
    // side of the edge, so each gets the co-located layout it needs — the
    // per-superstep joins never shuffle the edge side again. The src
    // layout's materialization also counts the edges that break the
    // vertex-set contract
    val (checked, outside) = Layout.checkedEndpoints(e0,
      verts.select($"id".as("src")), verts.select($"id".as("dst")))
    val edgesBySrc = checked.repartition(Layout.edgePartitions(edgeCount), $"src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgesByDst = e0.repartition(Layout.edgePartitions(edgeCount), $"dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    // one action materializes both layout caches
    edgesBySrc.union(edgesByDst).count()
    if (!preCached) e0.unpersist()
    requireEndpoints(outside(), edgesBySrc, edgesByDst, verts)
    // fixed zero-score sets: a vertex with no in-edges always has auth 0,
    // no out-edges always hub 0 — precomputing them once replaces the
    // per-phase verts⋈raw left join (an n-row Exchange per phase) with a
    // plain union (guide §2.4); they read the cached LAYOUTS, so the lazy
    // frames cost one cheap distinct per materialization and no setup jobs
    val noIn = verts.join(edgesByDst.select($"dst".as("id")).distinct(),
      Seq("id"), "left_anti")
    val noOut = verts.join(edgesBySrc.select($"src".as("id")).distinct(),
      Seq("id"), "left_anti")

    /** L1 total of a raw gather as a broadcast 1-row scalar (0 → divide by
      * 1: all-zero sides keep zeros). */
    def l1(raw: DataFrame): DataFrame =
      broadcast(raw.agg(coalesce(sum($"raw"), lit(0.0)).as("t"))
        .select(when($"t" === 0.0, lit(1.0)).otherwise($"t").as("t")))

    val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetric]()
    var iter = 0
    var scores: DataFrame = null
    if (computeDelta) {
      // diagnostic path: per-superstep normalized hubs (the frozen
      // convention verbatim), delta = max |Δhub| per superstep.
      // The gather is checkpointed ONCE (it feeds both the normalize and
      // the L1 total — without the checkpoint, exchange reuse does NOT
      // dedupe the two references and the m-row join runs twice: measured
      // 12.7 → 24.2 s at sf0.1); the total folds into the normalize plan
      // as a broadcast scalar, and the normalized frame itself stays LAZY
      // (a union over the checkpointed gather). Missing vertices are the
      // fixed noIn/noOut sets: their 0.0/t ≡ 0.0 rows union in without the
      // n-row left join.
      var hubs = verts.withColumn("hub", lit(1.0)).localCheckpoint(true)
      var auths: DataFrame = verts.withColumn("auth", lit(0.0))
      while (iter < maxIter) {
        val t0 = System.nanoTime()
        val aRaw = gatherStep(edgesBySrc, hubs, "hub", "src", "dst")
          .localCheckpoint(true)
        auths = aRaw.crossJoin(l1(aRaw))
          .select($"id", ($"raw" / $"t").as("auth"))
          .union(noIn.select($"id", lit(0.0).as("auth")))
        // hub(u) = Σ_{u→v} auth(v) over the NEW authorities
        val hRaw = gatherStep(edgesByDst, auths, "auth", "dst", "src")
          .localCheckpoint(true)
        val newHubs = hRaw.crossJoin(l1(hRaw))
          .select($"id", ($"raw" / $"t").as("hub"))
          .union(noOut.select($"id", lit(0.0).as("hub")))
        val delta = newHubs.join(hubs.withColumnRenamed("hub", "old"), "id")
          .agg(coalesce(max(abs($"hub" - $"old")), lit(0.0))).as[Double].head()
        hubs = newHubs
        iter += 1
        metrics += SuperstepMetric("hits", iter, n, edgeCount,
          (System.nanoTime() - t0) / 1000000L, delta)
      }
      scores = hubs.join(auths, "id").localCheckpoint(true)
    } else {
      // production path: the UNNORMALIZED power chain. Per-superstep L1
      // normalization is a scalar rescale of a linear recurrence, so every
      // intermediate scalar cancels in the final auth/Σauth and hub/Σhub —
      // the chain runs both gathers of a superstep as ONE checkpointed
      // action with no per-phase totals, per-phase checkpoints, or delta
      // action (2 actions + 2 broadcast builds + 1 agg saved per
      // superstep vs the diagnostic path). Magnitudes grow like
      // (avg-deg²)^supersteps, so every 5th superstep rescales by its L1
      // total (a broadcast scalar inside the same action) to keep far from
      // double overflow; that scalar cancels identically. Scores differ
      // from the per-step-normalized formulation only by float rounding
      // (≤ ~1e-15 relative — inside the 1e-9 oracle gate in AlgoSpec and
      // the round-6 tolerance class of the SQL oracle).
      var hubRaw = verts.withColumn("hub", lit(1.0)).localCheckpoint(true)
      while (iter < maxIter - 1) {
        val t0 = System.nanoTime()
        val chained = gatherStep(edgesByDst,
            gatherStep(edgesBySrc, hubRaw, "hub", "src", "dst")
              .withColumnRenamed("raw", "auth"),
            "auth", "dst", "src")
          .withColumnRenamed("raw", "hub")
        hubRaw = (if (iter % 5 == 4) {
            // rescale superstep: checkpoint before the double reference
            // (value + L1 total) — the same exchange-reuse trap the
            // diagnostic path documents
            val c = chained.localCheckpoint(true)
            c.crossJoin(l1(c.withColumnRenamed("hub", "raw")))
              .select($"id", ($"hub" / $"t").as("hub"))
          } else chained).localCheckpoint(true)
        iter += 1
        metrics += SuperstepMetric("hits", iter, n, edgeCount,
          (System.nanoTime() - t0) / 1000000L, -1.0)
      }
      // final superstep split in two so the auth gather is retained
      val t0 = System.nanoTime()
      val aFinal = gatherStep(edgesBySrc, hubRaw, "hub", "src", "dst")
        .localCheckpoint(true)
      val hFinal = gatherStep(edgesByDst,
          aFinal.withColumnRenamed("raw", "auth"), "auth", "dst", "src")
        .localCheckpoint(true)
      iter += 1
      metrics += SuperstepMetric("hits", iter, n, edgeCount,
        (System.nanoTime() - t0) / 1000000L, -1.0)
      val auths = aFinal.crossJoin(l1(aFinal))
        .select($"id", ($"raw" / $"t").as("auth"))
        .union(noIn.select($"id", lit(0.0).as("auth")))
      val hubs = hFinal.crossJoin(l1(hFinal))
        .select($"id", ($"raw" / $"t").as("hub"))
        .union(noOut.select($"id", lit(0.0).as("hub")))
      scores = hubs.join(auths, "id").localCheckpoint(true)
    }
    edgesBySrc.unpersist(); edgesByDst.unpersist(); verts.unpersist()
    Result(scores, metrics.toSeq, iter)
  }

  /**
   * Resumable fixed-iteration HITS: every superstep's (id, hub, auth) state
   * commits through [[graft.state.Supersteps]]; on start the loop continues
   * from the last committed superstep (kill the JVM at any point, re-run,
   * reach the same final state — each superstep consumes the COMMITTED
   * bytes of the previous one, the same discipline as
   * [[PageRank.runResumable]]).
   */
  def runResumable(
      vertices: DataFrame,
      edges: Dataset[Edge],
      log: graft.state.Supersteps,
      maxIter: Int = 10): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val verts = vertices.select(col(vertices.columns.head).as("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = verts.count()
    require(n > 0, "empty vertex set")
    val edgeCount = edges.count()
    val (checked, outside) = Layout.checkedEndpoints(edges.toDF(),
      verts.select($"id".as("src")), verts.select($"id".as("dst")))
    val edgesBySrc = checked.repartition($"src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val edgesByDst = edges.toDF().repartition($"dst")
      .persist(StorageLevel.MEMORY_AND_DISK)
    edgesBySrc.count(); edgesByDst.count()
    requireEndpoints(outside(), edgesBySrc, edgesByDst, verts)

    var iter = log.lastCompleted.getOrElse(-1)
    var scores =
      if (iter < 0) {
        val init = verts.withColumn("hub", lit(1.0)).withColumn("auth", lit(0.0))
        iter = 0
        log.commit(0, init, SuperstepMetric("hits", 0, n, 0L, 0L, -1.0))
      } else log.readState()
    val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetric]()
    while (iter < maxIter) {
      val t0 = System.nanoTime()
      val hubs = scores.select($"id", $"hub")
      // same checkpointed-gather + broadcast-scalar L1 totals as [[run]]
      val aRaw = gatherStep(edgesBySrc, hubs, "hub", "src", "dst")
        .localCheckpoint(true)
      val auths = verts.join(aRaw, Seq("id"), "left")
        .crossJoin(broadcast(aRaw.agg(coalesce(sum($"raw"), lit(0.0)).as("t"))
          .select(when($"t" === 0.0, lit(1.0)).otherwise($"t").as("t"))))
        .select($"id", (coalesce($"raw", lit(0.0)) / $"t").as("auth"))
        .localCheckpoint(true)
      val hRaw = gatherStep(edgesByDst, auths, "auth", "dst", "src")
        .localCheckpoint(true)
      val newScores = verts.join(hRaw, Seq("id"), "left")
        .crossJoin(broadcast(hRaw.agg(coalesce(sum($"raw"), lit(0.0)).as("t"))
          .select(when($"t" === 0.0, lit(1.0)).otherwise($"t").as("t"))))
        .select($"id", (coalesce($"raw", lit(0.0)) / $"t").as("hub"))
        .join(auths, "id")
      iter += 1
      val m = SuperstepMetric("hits", iter, n, edgeCount,
        (System.nanoTime() - t0) / 1000000L, -1.0)
      scores = log.commit(iter, newScores, m)
      metrics += m
    }
    edgesBySrc.unpersist(); edgesByDst.unpersist(); verts.unpersist()
    Result(scores, metrics.toSeq, iter)
  }

  /** In-driver dense power iteration — the frozen oracle for allclose
    * verification in AlgoSpec. Same convention as [[run]], exactly. */
  def oracle(
      n: Int,
      edges: Seq[(Int, Int)],
      maxIter: Int = 10): (Array[Double], Array[Double]) = {
    var hub = Array.fill(n)(1.0)
    var auth = Array.fill(n)(0.0)
    for (_ <- 1 to maxIter) {
      val a = Array.fill(n)(0.0)
      for ((s, t) <- edges) a(t) += hub(s)
      val aTot = a.sum
      if (aTot != 0.0) for (v <- 0 until n) a(v) /= aTot
      auth = a
      val h = Array.fill(n)(0.0)
      for ((s, t) <- edges) h(s) += auth(t)
      val hTot = h.sum
      if (hTot != 0.0) for (v <- 0 until n) h(v) /= hTot
      hub = h
    }
    (hub, auth)
  }
}
