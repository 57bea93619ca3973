package graft.algo

import graft.SparkTestBase
import graft.graph.Edge

/** Algorithm-vs-driver-oracle differential tests (FIXTURES.md §4):
  * PageRank allclose 1e-6, CC/LPA/triangles exact. */
class AlgoSpec extends SparkTestBase {

  private def randomDigraph(n: Int, m: Int, seed: Long): Seq[(Int, Int)] = {
    val rng = new java.util.Random(seed)
    (0 until m).map(_ => (rng.nextInt(n), rng.nextInt(n)))
      .filter { case (a, b) => a != b }.distinct
  }

  private def toDs(edges: Seq[(Int, Int)]) = {
    import spark.implicits._
    spark.createDataset(edges.map(e => Edge(e._1.toLong, e._2.toLong)))
  }

  private def vertsOf(n: Int) = {
    import spark.implicits._
    spark.range(n.toLong).toDF("id")
  }

  test("PageRank matches dense power-iteration oracle to 1e-6 (incl. dangling)") {
    val n = 120
    // includes dangling vertices (no out-edges) and a hub
    val edges = (randomDigraph(n, 500, seed = 5) ++
      (1 until n / 2).map(i => (i, 0))).distinct
    val want = PageRank.oracle(n, edges, tol = 1e-14, maxIter = 300)
    val res = PageRank.run(vertsOf(n), toDs(edges), tol = 1e-12, maxIter = 300)
    val got = res.ranks.collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    assert(got.size == n)
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "ranks must sum to 1")
    for (v <- 0 until n)
      assert(math.abs(got(v) - want(v)) < 1e-6, s"rank($v): ${got(v)} vs ${want(v)}")
    assert(res.metrics.nonEmpty && res.metrics.forall(_.edgesProcessed == edges.size))
  }

  test("PageRank fixed-iteration mode (tol=0) runs exactly maxIter supersteps") {
    val edges = randomDigraph(40, 150, seed = 9)
    val res = PageRank.run(vertsOf(40), toDs(edges), tol = 0.0, maxIter = 5)
    assert(res.iterations == 5)
  }

  test("connected components (large-star/small-star) match union-find exactly") {
    for ((n, m, seed) <- Seq((100, 120, 1L), (100, 40, 2L), (60, 300, 3L))) {
      val edges = randomDigraph(n, m, seed)
      val want = ConnectedComponents.oracle(n, edges)
      val res = ConnectedComponents.run(vertsOf(n), toDs(edges))
      val got = res.components.collect()
        .map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      assert(got.size == n)
      for (v <- 0 until n)
        assert(got(v) == want(v).toLong, s"comp($v) n=$n m=$m")
    }
  }

  test("CC handles isolated vertices and long paths") {
    // path 0-1-2-...-19 plus isolated 20..24: one component + singletons
    val edges = (0 until 19).map(i => (i, i + 1))
    val res = ConnectedComponents.run(vertsOf(25), toDs(edges))
    val got = res.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 20).foreach(v => assert(got(v.toLong) == 0L))
    (20 until 25).foreach(v => assert(got(v.toLong) == v.toLong))
  }

  test("warm-start CC: same components as cold on the grown graph, fewer rounds") {
    import spark.implicits._
    // base: 8 disjoint paths of 32 vertices — deep structure, so a cold run
    // needs several large/small-star rounds
    val n = 256
    val base = (0 until n - 1).filter(i => (i + 1) % 32 != 0).map(i => (i, i + 1))
    val prev = ConnectedComponents.run(vertsOf(n), toDs(base))
    // growth: 8 new vertices 256..263, each pair of adjacent paths bridged
    // through one of them — components can only merge
    val grown = n + 8
    val delta = (0 until 8).map(p => (32 * p, n + p)) ++
      (0 until 7).map(p => (n + p, 32 * (p + 1)))
    val cold = ConnectedComponents.run(vertsOf(grown), toDs(base ++ delta))
    val warm = ConnectedComponents.warmStart(vertsOf(grown), toDs(delta),
      prev.components)
    def labels(r: ConnectedComponents.Result) =
      r.components.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val (c, w) = (labels(cold), labels(warm))
    assert(w == c, "warm fixpoint must equal the cold fixpoint")
    assert(w.size == grown)
    // union-find oracle over the full edge set triangulates both
    val want = ConnectedComponents.oracle(grown, base ++ delta)
    (0 until grown).foreach(v => assert(w(v.toLong) == want(v).toLong))
    // the warm seed starts from a near-fixpoint star forest: strictly fewer
    // rounds than the cold run over the same grown graph
    assert(warm.rounds < cold.rounds,
      s"warm ${warm.rounds} rounds vs cold ${cold.rounds}")
    // an EMPTY delta over unchanged vertices converges in one verification
    // round and returns the previous labels verbatim
    val noop = ConnectedComponents.warmStart(vertsOf(n), toDs(Nil),
      prev.components)
    assert(labels(noop) == labels(prev) && noop.rounds == 1)
  }

  test("canonicalizeWarm == canonicalize over all pairs (growing corpus)") {
    import spark.implicits._
    val docs0 = spark.range(40).toDF("doc_id")
    val pairs0 = Seq((0L, 1L), (1L, 2L), (5L, 6L), (10L, 11L)).toDF("a", "b")
    val prev = graft.pipeline.Dedup.canonicalize(docs0, "doc_id", pairs0)
    // corpus grows: 10 new docs, new pairs bridge old clusters and add new
    val docs1 = spark.range(50).toDF("doc_id")
    val newPairs = Seq((2L, 5L), (40L, 41L), (11L, 42L)).toDF("a", "b")
    val warm = graft.pipeline.Dedup.canonicalizeWarm(docs1, "doc_id",
        newPairs, prev)
      .as[(Long, Long)].collect().toMap
    val cold = graft.pipeline.Dedup.canonicalize(docs1, "doc_id",
        pairs0.union(newPairs))
      .as[(Long, Long)].collect().toMap
    assert(warm == cold)
    assert(warm(6L) == 0L && warm(42L) == 10L && warm(41L) == 40L)
  }

  test("label propagation matches driver oracle exactly (frozen convention)") {
    for ((n, m, seed) <- Seq((60, 150, 11L), (80, 100, 12L))) {
      val edges = randomDigraph(n, m, seed)
      val want = LabelPropagation.oracle(n, edges, maxIter = 10)
      val res = LabelPropagation.run(vertsOf(n), toDs(edges), maxIter = 10)
      val got = res.labels.collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      for (v <- 0 until n) assert(got(v) == want(v), s"label($v) n=$n")
    }
  }

  test("HITS matches dense power-iteration oracle to 1e-9 (incl. sinks/sources)") {
    for ((n, m, seed) <- Seq((80, 400, 31L), (60, 90, 32L))) {
      // sparse case leaves some vertices with no in- or out-edges — the
      // zero-score rows must survive normalization untouched
      val edges = randomDigraph(n, m, seed)
      val (wantHub, wantAuth) = Hits.oracle(n, edges, maxIter = 10)
      val res = Hits.run(vertsOf(n), toDs(edges), maxIter = 10)
      val got = res.scores.collect()
        .map(r => r.getLong(0).toInt -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(got.size == n)
      assert(math.abs(got.values.map(_._1).sum - 1.0) < 1e-9, "hubs sum to 1")
      assert(math.abs(got.values.map(_._2).sum - 1.0) < 1e-9, "auths sum to 1")
      for (v <- 0 until n) {
        assert(math.abs(got(v)._1 - wantHub(v)) < 1e-9, s"hub($v) n=$n m=$m")
        assert(math.abs(got(v)._2 - wantAuth(v)) < 1e-9, s"auth($v) n=$n m=$m")
      }
      assert(res.iterations == 10 && res.metrics.size == 10)
    }
  }

  test("HITS raw power chain (computeDelta=false) matches the oracle to 1e-9") {
    // the production path defers every L1 normalization to the end (the
    // scalars cancel); it must agree with the per-step-normalized oracle to
    // float rounding, including maxIter past the every-5th rescale and the
    // maxIter=1 degenerate split
    for ((n, m, seed, iters) <- Seq((80, 400, 31L, 10), (60, 90, 32L, 10),
        (40, 120, 33L, 12), (30, 80, 34L, 1))) {
      val edges = randomDigraph(n, m, seed)
      val (wantHub, wantAuth) = Hits.oracle(n, edges, maxIter = iters)
      val res = Hits.run(vertsOf(n), toDs(edges), maxIter = iters,
        computeDelta = false)
      val got = res.scores.collect()
        .map(r => r.getLong(0).toInt -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(got.size == n)
      for (v <- 0 until n) {
        assert(math.abs(got(v)._1 - wantHub(v)) < 1e-9, s"hub($v) n=$n m=$m")
        assert(math.abs(got(v)._2 - wantAuth(v)) < 1e-9, s"auth($v) n=$n m=$m")
      }
      assert(res.iterations == iters && res.metrics.size == iters)
    }
  }

  test("personalized PageRank: teleport to sources only, matches dense oracle") {
    def oracle(n: Int, edges: Seq[(Int, Int)], sources: Set[Int],
        iters: Int): Array[Double] = {
      val k = sources.size.toDouble
      val outdeg = Array.fill(n)(0)
      for ((s, _) <- edges) outdeg(s) += 1
      var r = Array.tabulate(n)(v => if (sources(v)) 1.0 / k else 0.0)
      for (_ <- 1 to iters) {
        val dm = (0 until n).filter(outdeg(_) == 0).map(r).sum
        val c = Array.fill(n)(0.0)
        for ((s, t) <- edges) c(t) += r(s) / outdeg(s)
        r = Array.tabulate(n)(v =>
          (if (sources(v)) 0.15 / k + 0.85 * dm / k else 0.0) + 0.85 * c(v))
      }
      r
    }
    for ((n, m, seed) <- Seq((80, 400, 41L), (60, 90, 42L))) {
      val edges = randomDigraph(n, m, seed)
      val sources = Set(0, 3, 7)
      val want = oracle(n, edges, sources, iters = 10)
      val got = graft.algo.PageRank.personalized(vertsOf(n), toDs(edges),
          sources.toSeq.sorted.map(_.toLong), maxIter = 10)
        .ranks.collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
      assert(got.size == n)
      // teleport+dangling both land in S: total mass stays a distribution
      assert(math.abs(got.values.sum - 1.0) < 1e-9, "mass conserved")
      for (v <- 0 until n)
        assert(math.abs(got(v) - want(v)) < 1e-9, s"ppr($v) n=$n m=$m")
    }
    // unreachable-from-sources vertices hold rank 0 at every step
    val chain = Seq((0, 1), (1, 2), (3, 4)) // component {3,4} unreachable from {0}
    val pr = graft.algo.PageRank.personalized(vertsOf(5), toDs(chain),
        Seq(0L), maxIter = 8)
      .ranks.collect().map(r => r.getLong(0).toInt -> r.getDouble(1)).toMap
    assert(pr(3) == 0.0 && pr(4) == 0.0, "unreachable component stays 0")
    assert(pr(0) > 0 && pr(1) > 0 && pr(2) > 0)
    // unknown source id fails loudly (silent absence would leak teleport mass)
    assertThrows[IllegalArgumentException](
      graft.algo.PageRank.personalized(vertsOf(5), toDs(chain), Seq(99L)))
  }

  test("deterministic walks: trace matches the driver md5 oracle; dead ends stop; seeded") {
    import spark.implicits._
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def oracle(n: Int, edges: Seq[(Int, Int)], steps: Int,
        seed: String): Set[(Long, Int, Long)] = {
      val out = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
      val trace = scala.collection.mutable.Set[(Long, Int, Long)]()
      for (start <- 0 until n) {
        var cur = start
        trace += ((start.toLong, 0, start.toLong))
        var t = 1
        var alive = true
        while (t <= steps && alive) {
          out.get(cur) match {
            case Some(nbrs) =>
              cur = nbrs.minBy(v =>
                md5hex(s"$seed:$t:$cur:$v") + f"$v%020d")
              trace += ((start.toLong, t, cur.toLong))
            case None => alive = false
          }
          t += 1
        }
      }
      trace.toSet
    }
    val edges = randomDigraph(50, 120, seed = 51L) :+ ((49, 48)) // 48 may sink
    val want = oracle(50, edges, steps = 5, seed = "walk")
    val got = RandomWalks.deterministic(vertsOf(50), toDs(edges), steps = 5)
      .as[(Long, Int, Long)].collect().toSet
    assert(got == want)
    // partition-layout invariance: same trace from a shuffled edge layout
    val got2 = RandomWalks.deterministic(vertsOf(50),
        toDs(scala.util.Random.shuffle(edges)).repartition(7), steps = 5)
      .as[(Long, Int, Long)].collect().toSet
    assert(got2 == want, "trace must not depend on partitioning or edge order")
    // a different seed draws a different trajectory somewhere
    val reseeded = RandomWalks.deterministic(vertsOf(50), toDs(edges),
        steps = 5, seed = "epoch2")
      .as[(Long, Int, Long)].collect().toSet
    assert(reseeded != want, "seeds must decorrelate walk epochs")
    assert(reseeded.count(_._2 == 0) == 50, "step 0 is always every start")
  }

  test("k-core: synchronous peel matches driver oracle; fixed unroll == fixpoint past convergence") {
    import spark.implicits._
    def oracle(edges: Seq[(Int, Int)], k: Int, rounds: Int): Set[Long] = {
      val adj = scala.collection.mutable.Map[Int, scala.collection.mutable.Set[Int]]()
      for ((s, t) <- edges; (a, b) <- Seq((s, t), (t, s)))
        adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
      var alive: Set[Int] = adj.keySet.toSet
      for (_ <- 1 to rounds)
        alive = alive.filter(u => (adj(u).toSet & alive).size >= k)
      alive.map(_.toLong)
    }
    val edges = randomDigraph(80, 300, seed = 61L)
    for (k <- Seq(1, 3, 5)) {
      val want = oracle(edges, k, rounds = 8)
      val got = KCore.run(vertsOf(80), toDs(edges), k, rounds = 8)
        .members.as[Long].collect().toSet
      assert(got == want, s"k=$k")
    }
    // fixpoint mode == a long fixed unroll (converged rounds are no-ops)
    val fix = KCore.run(vertsOf(80), toDs(edges), k = 4)
    val unrolled = KCore.run(vertsOf(80), toDs(edges), k = 4, rounds = 30)
      .members.as[Long].collect().toSet
    assert(fix.members.as[Long].collect().toSet == unrolled)
    assert(fix.rounds <= 30 && fix.metrics.nonEmpty)
    // a triangle + pendant at k=2: the triangle is the 2-core
    val tri = Seq((0, 1), (1, 2), (2, 0), (0, 3))
    assert(KCore.run(vertsOf(4), toDs(tri), k = 2).members
      .as[Long].collect().toSet == Set(0L, 1L, 2L))
  }

  test("HITS on a star: center is the sole authority, leaves split hub mass") {
    // leaves 1..4 all point at 0 — auth(0)=1, hub(leaf)=1/4, rest zero
    val edges = Seq((1, 0), (2, 0), (3, 0), (4, 0))
    val got = Hits.run(vertsOf(5), toDs(edges), maxIter = 3).scores.collect()
      .map(r => r.getLong(0).toInt -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(got(0)._2 - 1.0) < 1e-12 && got(0)._1 == 0.0)
    for (l <- 1 to 4)
      assert(math.abs(got(l)._1 - 0.25) < 1e-12 && got(l)._2 == 0.0)
  }

  test("HITS gather: cached edge layout is never re-shuffled by the superstep") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val edges = toDs(randomDigraph(60, 200, seed = 33L)).toDF()
      .repartition($"src").persist()
    edges.count()
    val hubs = vertsOf(60).withColumn("hub", lit(1.0))
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Hits.gatherStep(edges, hubs, "hub", "src", "dst")
        .queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
      // exactly two shuffles: the n-row score side to the edges' src
      // layout, and the final dst aggregation — the m-row edge side reads
      // straight from its cached partitioning
      assert(exchanges.size == 2, s"expected 2 exchanges:\n$plan")
      // the join's edge-side child must go straight to the cache: no
      // Exchange between the InMemoryTableScan and the join
      val join = plan.collectFirst {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }.getOrElse(fail(s"no shuffled join in plan:\n$plan"))
      val edgeSide = join.children.filter(
        _.collectFirst { case s: InMemoryTableScanExec => s }.nonEmpty)
      assert(edgeSide.nonEmpty, s"edge cache not under the join:\n$plan")
      assert(edgeSide.forall(
          _.collect { case e: ShuffleExchangeExec => e }.isEmpty),
        s"edge cache must not sit under a shuffle:\n$plan")
      assert(plan.toString.contains("partial_sum"),
        s"hub fan-in must combine map-side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      edges.unpersist()
    }
  }

  test("contract by LPA labels: community super-graph matches driver oracle") {
    // two dense communities bridged by two edges; LPA separates them, and
    // the contraction must roll the bridges up into the inter-community
    // super-edges with exact weights
    val a = for (i <- 0 until 10; j <- 0 until 10 if i != j) yield (i, j)
    val b = for (i <- 10 until 20; j <- 10 until 20 if i != j) yield (i, j)
    val edges = a ++ b ++ Seq((0, 10), (15, 3))
    val labels = LabelPropagation.run(vertsOf(20), toDs(edges), maxIter = 10).labels
    val labMap = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labMap.values.toSet.size == 2, "LPA must find both communities")
    val got = Condense.contract(toDs(edges), labels).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = edges.map { case (s, t) => (labMap(s.toLong), labMap(t.toLong)) }
      .filter { case (x, y) => x != y }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want)
    // keepSelfLoops surfaces the within-community weights too
    val withLoops = Condense.contract(toDs(edges), labels, keepSelfLoops = true)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val wantAll = edges.map { case (s, t) => (labMap(s.toLong), labMap(t.toLong)) }
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(withLoops == wantAll)
  }

  test("contract: vertices missing from the label map are singleton groups") {
    import spark.implicits._
    // only vertex 0 is labeled; 1 and 2 fall back to label = id
    val edges = Seq((0, 1), (1, 2), (2, 0), (0, 1))
    val labels = Seq((0L, 100L)).toDF("id", "label")
    val got = Condense.contract(toDs(edges), labels).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((100L, 1L) -> 2L, (1L, 2L) -> 1L, (2L, 100L) -> 1L))
  }

  test("triangle count matches brute force, global and per-vertex") {
    for ((n, m, seed) <- Seq((50, 300, 21L), (40, 120, 22L))) {
      val edges = randomDigraph(n, m, seed)
      val (wantG, wantPer) = TriangleCount.oracle(n, edges)
      val res = TriangleCount.run(vertsOf(n), toDs(edges))
      assert(res.globalCount == wantG, s"global n=$n m=$m")
      val got = res.perVertex.collect().map(r => r.getLong(0).toInt -> r.getLong(1)).toMap
      for (v <- 0 until n) assert(got(v) == wantPer(v), s"tc($v)")
    }
  }

  test("triangle count: directed duplicates and reciprocal edges collapse") {
    // 0-1-2 triangle expressed with both orientations + duplicates
    val edges = Seq((0, 1), (1, 0), (1, 2), (2, 1), (0, 2), (2, 0), (0, 1))
    val res = TriangleCount.run(vertsOf(3), toDs(edges))
    assert(res.globalCount == 1L)
  }

  // ---- superstep scalars folded into the superstep's own action ----

  /** The body's result and the number of Spark jobs it started. */
  private def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    org.apache.spark.TestListenerBus.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.TestListenerBus.drain(sc)
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** A fixture with dangling vertices (80..89 have no out-edges), vertices
    * with no in-edges, and a hub. */
  private val fixture: Seq[(Int, Int)] =
    (randomDigraph(80, 320, seed = 71) ++ (1 until 40).map(i => (i, 0)) ++
      (0 until 10).map(i => (i, 80 + i))).distinct

  test("jobs per superstep: PageRank, LPA and CC run one action per superstep") {
    // supersteps beyond a first run cost only their own jobs: the
    // difference between two run lengths cancels the one-time set-up
    def prJobs(iters: Int) = jobsOf(PageRank.run(vertsOf(90), toDs(fixture),
      tol = 0.0, maxIter = iters).ranks.collect())._2
    val pr = (prJobs(6) - prJobs(2)) / 4.0
    info(s"PageRank: $pr jobs per superstep")
    // 3 on this fixture; with the dangling mass as its own scalar subplan
    // (broadcast + SinglePartition aggregate) a superstep runs 9
    assert(pr <= 4.0, s"PageRank: $pr jobs per superstep")

    // LPA: a long path keeps changing labels for many supersteps
    val path = (0 until 30).map(i => (i, i + 1))
    def lpa(iters: Int) = jobsOf {
      val r = LabelPropagation.run(vertsOf(31), toDs(path), maxIter = iters)
      r.labels.collect()
      r.iterations
    }
    val ((i2, j2), (i5, j5)) = (lpa(2), lpa(5))
    assert(i2 == 2 && i5 == 5, "the fixture must not converge early")
    val perLpa = (j5 - j2) / 3.0
    info(s"LPA: $perLpa jobs per superstep")
    // 6 here; a changed count run as its own join + count action makes 11
    assert(perLpa <= 7.0, s"LPA: $perLpa jobs per superstep")

    // CC: a longer path needs more rounds; jobs per extra round
    def cc(n: Int) = jobsOf {
      val r = ConnectedComponents.run(vertsOf(n), toDs((0 until n - 1).map(i => (i, i + 1))))
      r.components.collect()
      r.rounds
    }
    val ((r1, c1), (r2, c2)) = (cc(4), cc(64))
    assert(r2 > r1, s"rounds $r1 vs $r2")
    val perCc = (c2 - c1).toDouble / (r2 - r1)
    info(s"CC: $perCc jobs per round ($r1 vs $r2 rounds)")
    // 10.5 here; a signature run as its own aggregate action makes 12.5
    assert(perCc <= 11.0, s"CC: $perCc jobs per round")
  }

  test("observed superstep scalars equal the separate actions they replace") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{coalesce, count, expr, lit}
    // PageRank: the observed dangling mass gives the oracle's ranks
    val n = 90
    val want = PageRank.oracle(n, fixture, tol = 0.0, maxIter = 10)
    val pr = PageRank.run(vertsOf(n), toDs(fixture), tol = 0.0, maxIter = 10)
    val got = pr.ranks.as[(Long, Double)].collect().toMap
    assert(got.size == n && pr.iterations == 10 && pr.metrics.size == 10)
    for (v <- 0 until n)
      assert(math.abs(got(v.toLong) - want(v)) < 1e-6, s"rank($v)")

    // LPA: the observed changed count per superstep is the number of
    // vertices whose label the superstep changed
    val edges = randomDigraph(60, 150, seed = 11L)
    val lpa = LabelPropagation.run(vertsOf(60), toDs(edges), maxIter = 10)
    val states = (0 to lpa.iterations).map(k =>
      if (k == 0) Array.tabulate(60)(_.toLong)
      else LabelPropagation.oracle(60, edges, maxIter = k))
    val wantChanged = states.sliding(2).map { case Seq(a, b) =>
      a.indices.count(i => a(i) != b(i)).toLong }.toSeq
    assert(lpa.metrics.map(_.rowsOut) == wantChanged)
    assert(lpa.metrics.map(_.delta) == wantChanged.map(_.toDouble))

    // CC: rounds and per-round edge counts equal a loop that computes the
    // signature with its own aggregate action
    val ccEdges = randomDigraph(100, 120, seed = 1L)
    val ops = new ConnectedComponents.StarOps(spark)
    def sig(e: org.apache.spark.sql.DataFrame) = e.agg(count(lit(1)),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).as[(Long, Long)].head()
    var cur = toDs(ccEdges).toDF().select($"src".as("u"), $"dst".as("v"))
      .filter($"u" =!= $"v").distinct().localCheckpoint(true)
    var s = sig(cur)
    val counts = scala.collection.mutable.ArrayBuffer[Long]()
    var done = false
    while (!done) {
      val next = ops.smallStar(ops.largeStar(cur)).localCheckpoint(true)
      val ns = sig(next)
      done = ns == s
      cur = next; s = ns; counts += ns._1
    }
    val cc = ConnectedComponents.run(vertsOf(100), toDs(ccEdges))
    assert(cc.rounds == counts.size)
    assert(cc.metrics.map(_.rowsOut) == counts.toSeq)
    assert(cc.metrics.map(_.delta) == Seq.fill(counts.size - 1)(1.0) :+ 0.0)
  }

  test("resumable PageRank: resuming mid-run gives the uninterrupted ranks") {
    import spark.implicits._
    def tmp() = java.nio.file.Files.createTempDirectory("pr-resume").toString
    def log(dir: String) = new graft.state.Supersteps(dir, "pagerank", spark)
    val full = PageRank.runResumable(vertsOf(90), toDs(fixture), log(tmp()), maxIter = 6)
      .ranks.as[(Long, Double)].collect().sortBy(_._1)
    val want = PageRank.oracle(90, fixture, tol = 0.0, maxIter = 6)
    assert(full.length == 90)
    full.foreach { case (v, r) => assert(math.abs(r - want(v.toInt)) < 1e-6, s"rank($v)") }
    for (cut <- Seq(1, 4)) {
      val dir = tmp()
      PageRank.runResumable(vertsOf(90), toDs(fixture), log(dir), maxIter = cut)
      val resumed = PageRank.runResumable(vertsOf(90), toDs(fixture), log(dir),
        maxIter = 6)
      assert(resumed.iterations == 6 && resumed.metrics.map(_.superstep) == (cut + 1 to 6))
      val got = resumed.ranks.as[(Long, Double)].collect().sortBy(_._1)
      assert(got.map(_._1).toSeq == full.map(_._1).toSeq)
      got.zip(full).foreach { case ((v, a), (_, b)) =>
        assert(java.lang.Double.doubleToLongBits(a) == java.lang.Double.doubleToLongBits(b),
          s"cut $cut, vertex $v: $a vs $b")
      }
    }
  }

  test("PageRank and HITS reject an edge whose endpoint is not a vertex") {
    // vertex 5 is missing from the vertex set: unchecked, an edge to it
    // comes back as an extra ranked row
    val edges = Seq((0, 1), (1, 2), (2, 0), (2, 5))
    val verts = vertsOf(5).filter("id != 5")
    val reversed = Seq((5, 0), (0, 1), (1, 0))
    def rejects(what: String)(body: => Any): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains("outside the vertex set"), s"$what: ${e.getMessage}")
    }
    rejects("run")(PageRank.run(verts, toDs(edges), tol = 0.0, maxIter = 3).ranks.collect())
    rejects("run, source side")(PageRank.run(verts, toDs(reversed), maxIter = 3))
    rejects("personalized")(PageRank.personalized(verts, toDs(edges), Seq(0L), maxIter = 3))
    rejects("warmStart")(PageRank.warmStart(verts, toDs(edges),
      vertsOf(4).withColumn("rank", org.apache.spark.sql.functions.lit(0.25))))
    val dir = java.nio.file.Files.createTempDirectory("pr-contract").toString
    rejects("runResumable")(PageRank.runResumable(verts, toDs(edges),
      new graft.state.Supersteps(dir, "pagerank", spark), maxIter = 2))
    rejects("hits")(Hits.run(verts, toDs(edges), maxIter = 2))
    rejects("hits resumable")(Hits.runResumable(verts, toDs(edges),
      new graft.state.Supersteps(dir, "hits", spark), maxIter = 2))
    // in-contract graphs are unaffected
    assert(PageRank.run(vertsOf(3), toDs(edges.take(3)), maxIter = 3).ranks.count() == 3)
  }
}
