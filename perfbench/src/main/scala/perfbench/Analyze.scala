package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.algo.{ConnectedComponents, LabelPropagation, PageRank, TriangleCount}
import graft.graph.LinkGraph
import graft.query.Routes
import graft.state.Supersteps

/**
 * `analyze`: the batch job list, in passes until the run's window is spent
 * (at least one) — PageRank (10 supersteps), connected components, label
 * propagation (5 supersteps), triangle counting, seeded distributed routes,
 * resumable PageRank (5 supersteps, one committed snapshot each) over a
 * converted crawl, then one batch through the committed dedup indexes
 * ([[DedupPath]]). The algo layer, the pipeline and tables layers as a
 * writer, and Spark's cost per action do almost all the work; the
 * distributed routes bypass the driver cache that `route_serve` lives in.
 */
object Analyze {

  private val PageRankIters = 10
  private val LpaIters = 5
  private val ResumableIters = 5
  private val RouteHops = 3

  /** One pass's collected outputs, checked after the timed phase. */
  private final class Pass(val traced: Boolean) {
    val wallS = mutable.Map[String, Double]()
    var ranks: Option[Array[(Long, Double)]] = None
    var components: Option[Array[(Long, Long)]] = None
    var ccRounds = 0
    var lpaIters = 0
    var labels: Option[Array[(Long, Long)]] = None
    var triangles: Option[(Long, Array[(Long, Long)])] = None
    val routes = mutable.ArrayBuffer[(String, String, Option[Seq[String]], Double)]()
    var resumable: Option[Array[(Long, Double)]] = None
    var snapshots = 0
    var passS = 0.0
  }

  // the outputs are (id, value) frames; tuple encoders bind by position
  private def pairs(df: DataFrame): Array[(Long, Double)] = {
    import df.sparkSession.implicits._
    df.as[(Long, Double)].collect()
  }
  private def longPairs(df: DataFrame): Array[(Long, Long)] = {
    import df.sparkSession.implicits._
    df.as[(Long, Long)].collect()
  }

  def run(ctx: Ctx): WorkloadResult = {
    val spark = ctx.spark
    import spark.implicits._
    val t = ctx.tracer
    val o = ctx.outcome
    val raw = Crawl.write(ctx, ctx.sizes.analyzePages)
    val dedup = new DedupPath(ctx)
    dedup.writeInputs()

    // set-up: the conversion commits the warehouse, so it runs once; the
    // opening that readies the job list's inputs repeats, and setup_s is
    // the conversion plus the median opening
    ctx.phaseDone("input")
    val warehouse = ctx.dir("analyze-wh")
    val c0 = System.nanoTime()
    Crawl.convert(ctx, raw, warehouse, 0)
    ctx.setups += Stats.secondsSince(c0)
    var graph: LinkGraph = null
    var routes: Routes = null
    val openS = (1 to ctx.sizes.openReps).map { rep =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      graph = t.span("graph.open", rep)(graft.graph.GraphTables.open(spark, warehouse))
      routes = new Routes(graph)
      routes.hasPage("") // builds the driver url index, as a REPL start does
      ctx.setups += Stats.secondsSince(t0)
      ctx.setups.last
    }
    val seedS = dedup.seed()
    ctx.setups += seedS
    val setupS = ctx.setups.head + Stats.median(openS) + seedS
    // the program's driver state once set up, before the benchmark's own
    // reference copy and collected outputs exist
    val heapMb = Jvm.heapAfterGcMb()
    if (t.isOn) Crawl.extractOnly(ctx, raw)
    ctx.phaseDone("setup")
    val ref = RefGraph.of(ctx, graph)
    // route pairs RouteHops apart, so every seed asks the same amount of work
    val rnd = ctx.rng(0xA11L)
    val routePairs = Iterator.continually(rnd.nextInt(ref.n)).flatMap { s =>
      val dist = ref.distances(s)
      val at = (0 until ref.n).filter(dist(_) == RouteHops)
      if (at.isEmpty) None else Some((ref.urlOf(s), ref.urlOf(at(rnd.nextInt(at.size)))))
    }.take(ctx.sizes.distRoutePairs).toList
    val verts = graph.pages.select($"id")
    val edges = graph.edges

    val passes = mutable.ArrayBuffer[Pass]()
    def timedCall[T](p: Pass, name: String, op: Long)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val r = o.run(name)(t.span(name, op)(body))
      if (r.isDefined) p.wallS(name) = Stats.secondsSince(t0)
      r
    }
    def loop(untilNs: Long, traced: Boolean): Unit = {
      var first = true
      while (first || System.nanoTime() < untilNs) {
        first = false
        val p = new Pass(traced)
        val op = passes.size.toLong
        val t0 = System.nanoTime()
        t.span("analyze.pass", op) {
          p.ranks = timedCall(p, "algo.pagerank", op) {
            pairs(PageRank.run(verts, edges, tol = 0.0, maxIter = PageRankIters).ranks)
          }
          p.components = timedCall(p, "algo.cc", op) {
            val r = ConnectedComponents.run(verts, edges)
            p.ccRounds = r.rounds
            longPairs(r.components)
          }
          p.labels = timedCall(p, "algo.lpa", op) {
            val r = LabelPropagation.run(verts, edges, maxIter = LpaIters)
            p.lpaIters = r.iterations
            longPairs(r.labels)
          }
          p.triangles = timedCall(p, "algo.triangles", op) {
            val r = TriangleCount.run(verts, edges)
            (r.globalCount, longPairs(r.perVertex))
          }
          routePairs.foreach { case (a, b) =>
            val r0 = System.nanoTime()
            val r = timedCall(p, "algo.shortest_path", op)(routes.findRouteDistributed(a, b))
            p.routes += ((a, b, r, Stats.secondsSince(r0)))
          }
          val stateDir = ctx.dir(s"analyze-state-${passes.size}")
          p.resumable = timedCall(p, "algo.pagerank_resumable", op) {
            val log = new Supersteps(stateDir, "pagerank", spark)
            val r = PageRank.runResumable(verts, edges, log, maxIter = ResumableIters)
            p.snapshots = log.lineage.size
            pairs(r.ranks)
          }
          dedup.increment(traced, new TimedCall {
            def apply[T](name: String)(body: => T): Option[(T, Double)] =
              timedCall(p, name, op)(body).map(r => (r, p.wallS(name)))
          })
        }
        p.passS = Stats.secondsSince(t0)
        passes += p
      }
    }

    val cs = Phases.timed(ctx, loop)
    ctx.phaseDone("timed")

    if (ctx.inject) passes.head.ranks = passes.head.ranks.map(r => r.updated(0, (r(0)._1, r(0)._2 + 1e-3)))

    // checks, outside every timed region: each output against the
    // program's own dense oracle over the collected committed edges
    val n = ref.n
    val dense = ref.dense.toSeq
    def densify[V](rows: Array[(Long, V)]): Map[Int, V] =
      rows.map { case (id, v) => ref.index(id) -> v }.toMap
    lazy val prOracle = PageRank.oracle(n, dense, tol = 0.0, maxIter = PageRankIters)
    lazy val prResOracle = PageRank.oracle(n, dense, tol = 0.0, maxIter = ResumableIters)
    lazy val ccOracle = ConnectedComponents.oracle(n, dense)
    lazy val lpaOracle = LabelPropagation.oracle(n, dense, maxIter = LpaIters)
    lazy val triOracle = TriangleCount.oracle(n, dense)
    lazy val interactive = new Routes(graph)
    def verdict(what: String, ok: Boolean): Unit = if (!ok) o.fail(what)
    def ranksMatch(r: Array[(Long, Double)], want: Array[Double]): Boolean = {
      val m = densify(r)
      m.size == n && (0 until n).forall(i => m.get(i).exists(v => math.abs(v - want(i)) <= 1e-6))
    }
    // a component / label is named by a vertex id; the oracle names it by
    // that vertex's dense index
    def idsMatch(r: Array[(Long, Long)], want: Int => Long): Boolean = {
      val m = densify(r)
      m.size == n && (0 until n).forall(i => m.get(i).map(ref.index(_).toLong).contains(want(i)))
    }
    passes.foreach { p =>
      p.ranks.foreach(r => verdict("pagerank differs from PageRank.oracle", ranksMatch(r, prOracle)))
      p.resumable.foreach(r => verdict("resumable pagerank differs from the in-memory run",
        ranksMatch(r, prResOracle)))
      p.components.foreach(r => verdict("cc differs from its oracle", idsMatch(r, i => ccOracle(i).toLong)))
      p.labels.foreach(r => verdict("lpa differs from its oracle", idsMatch(r, i => lpaOracle(i))))
      p.triangles.foreach { case (g, per) =>
        val m = densify(per)
        verdict("triangles differ from their oracle", g == triOracle._1 && m.size == n &&
          (0 until n).forall(i => m.get(i).contains(triOracle._2(i))))
      }
      p.routes.foreach { case (a, b, r, _) =>
        r.foreach { route =>
          val err = ref.routeError(a, b, route, checkLength = true).orElse {
            val mem = interactive.findRoute(a, b)
            if (mem.size == route.size) None
            else Some(s"distributed route $a -> $b has ${route.size} urls, interactive ${mem.size}")
          }
          err.foreach(o.fail)
        }
      }
    }

    dedup.check(o)
    ctx.phaseDone("checks")
    val untraced = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    def med(ps: Iterable[Pass], k: String) = Stats.median(ps.flatMap(_.wallS.get(k)))
    val prS = med(untraced, "algo.pagerank")
    val edgeCount = ref.dense.length.toDouble
    // edge-supersteps per second over every iterative job of the list
    def superstepRate(ps: Iterable[Pass]) = Stats.median(ps.map { p =>
      edgeCount * (PageRankIters + p.ccRounds + p.lpaIters + ResumableIters) /
        Seq("algo.pagerank", "algo.cc", "algo.lpa", "algo.pagerank_resumable")
          .map(p.wallS.getOrElse(_, Double.NaN)).sum
    })
    val passMs = Stats.median(untraced.map(_.passS)) * 1e3
    val storedRatio = dedup.storedRatio(traced = false)
    def routeS(ps: Iterable[Pass]) = Stats.median(ps.flatMap(_.routes.filter(_._3.isDefined).map(_._4)))
    val routeDistS = routeS(untraced)
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> passMs,
      "throughput_per_s" -> superstepRate(untraced),
      "driver_heap_mb" -> heapMb,
      "stored_bytes_ratio" -> storedRatio)
    val named = Seq(
      ("setup_s", setupS, "s"),
      ("analyze_s", passMs / 1e3, s"s (n=${untraced.size} passes)"),
      ("pagerank_edges_per_s", edgeCount * PageRankIters / prS, s"1/s (${edgeCount.toLong} edges)"),
      ("route_dist_s", routeDistS, "s"),
      ("incr_docs_per_s", dedup.docsPerS(traced = false), s"1/s (${ctx.sizes.batchDocs} docs a batch)"),
      ("driver_heap_mb", heapMb, "MB"),
      ("stored_bytes_ratio", storedRatio, "ratio"))
    val tPr = med(traced, "algo.pagerank")
    val tRes = med(traced, "algo.pagerank_resumable")
    val layers = Phases.layerMetrics(ctx, cs, "analyze.pass", traced.size) ++
      dedup.layers(seedS) ++ Map(
      "algo.pagerank_s" -> tPr,
      "algo.cc_s" -> med(traced, "algo.cc"),
      "algo.cc_rounds" -> Stats.median(traced.map(_.ccRounds.toDouble)),
      "algo.lpa_s" -> med(traced, "algo.lpa"),
      "algo.triangles_s" -> med(traced, "algo.triangles"),
      "algo.shortest_path_s" -> routeS(traced),
      "algo.pagerank_resumable_s" -> tRes,
      "state.resumable_overhead" -> (tRes / ResumableIters) / (tPr / PageRankIters),
      "state.snapshots_written" -> Stats.median(traced.map(_.snapshots.toDouble)),
      "jvm.heap_after_gc_mb" -> heapMb,
      "trace.overhead_op_p50" -> (Stats.median(traced.map(_.passS)) * 1e3 / passMs - 1),
      "trace.overhead_throughput" -> (superstepRate(untraced) / superstepRate(traced) - 1))
    WorkloadResult(e2e, named, layers)
  }
}
