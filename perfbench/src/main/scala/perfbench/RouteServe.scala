package perfbench

import scala.collection.mutable

import graft.graph.{GraphTables, LinkGraph}
import graft.query.{MissingBoth, MissingEnd, MissingStart, Routes}

/**
 * `route_serve`: one client in a closed loop of REPL-shaped sessions
 * against a converted crawl. Each session picks two endpoints (a seeded
 * `randomUrl`, or an exact name validated through `hasPage`, one in twenty
 * misspelled on purpose), lists one `prefixSearch`, and asks one
 * `findRoute`. The graph sits under `Routes`' interactive threshold, so the
 * driver cache answers every call and no Spark job should run in the loop.
 */
object RouteServe {

  private val WarmupSeconds = 2.0

  private final case class Timed[A, R](ns: Long, in: A, out: Either[Throwable, R], traced: Boolean)

  private def timed[A, R](in: A, traced: Boolean)(f: => R): Timed[A, R] = {
    val t0 = System.nanoTime()
    val r = try Right(f) catch { case e: Exception => Left(e) }
    Timed(System.nanoTime() - t0, in, r, traced)
  }

  def run(ctx: Ctx): WorkloadResult = {
    val spark = ctx.spark
    val t = ctx.tracer
    val raw = Crawl.write(ctx, ctx.sizes.routePages)
    val rawBytes = Disk.bytesUnder(raw)
    ctx.phaseDone("input")

    // set-up: raw crawl to the first route answered. The conversion commits
    // the warehouse, so it runs once; opening it and answering the first
    // route (url index and adjacency collect) repeats, and setup_s is the
    // conversion plus the median opening
    val warehouse = ctx.dir("route-wh")
    val c0 = System.nanoTime()
    Crawl.convert(ctx, raw, warehouse, 0)
    ctx.setups += Stats.secondsSince(c0)
    var graph: LinkGraph = null
    var routes: Routes = null
    val firstRouteS = mutable.ArrayBuffer[Double]()
    val warmS = (1 to ctx.sizes.openReps).map { rep =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      graph = t.span("graph.open", rep)(GraphTables.open(spark, warehouse))
      routes = new Routes(graph)
      val r = ctx.rng(0x5E7L + rep)
      val w0 = System.nanoTime()
      t.span("query.warm", rep) {
        routes.findRoute(routes.randomUrl(r.nextLong()).get, routes.randomUrl(r.nextLong()).get)
      }
      firstRouteS += Stats.secondsSince(w0)
      ctx.setups += Stats.secondsSince(t0)
      ctx.setups.last
    }
    val setupS = ctx.setups.head + Stats.median(warmS)
    // the program's driver state once warm, before the benchmark's own
    // reference copy and op records exist
    val heapMb = Jvm.heapAfterGcMb()
    if (t.isOn) Crawl.extractOnly(ctx, raw)
    ctx.phaseDone("setup")
    val ref = RefGraph.of(ctx, graph)
    val sorted = ref.urlOf.clone()
    java.util.Arrays.sort(sorted, (a: String, b: String) => RefGraph.utf8Compare(a, b))

    val rnd = ctx.rng(0x1001L)
    val rand = mutable.ArrayBuffer[Timed[Long, Option[String]]]()
    val has = mutable.ArrayBuffer[Timed[String, Boolean]]()
    val prefix = mutable.ArrayBuffer[Timed[String, Seq[String]]]()
    val route = mutable.ArrayBuffer[Timed[(String, String), Seq[String]]]()
    val loopS = mutable.Map[Boolean, Double]().withDefaultValue(0.0)
    var gcMs = 0L

    def endpoint(traced: Boolean): String =
      if (rnd.nextBoolean()) {
        val s = rnd.nextLong()
        val r = timed(s, traced)(routes.randomUrl(s))
        rand += r
        r.out.toOption.flatten.getOrElse(ref.urlOf(0))
      } else {
        val u = ref.urlOf(rnd.nextInt(ref.n))
        val name = if (rnd.nextInt(20) == 0) u.dropRight(1) + "_" else u
        has += timed(name, traced)(routes.hasPage(name))
        name
      }

    def loop(untilNs: Long, traced: Boolean): Unit = t.span("query.loop") {
      val t0 = System.nanoTime()
      val g0 = Jvm.gcMs
      var session = 0
      while (System.nanoTime() < untilNs) {
        t.span("query.session", session) {
          val a = endpoint(traced)
          val b = endpoint(traced)
          val p = a.take(28 + rnd.nextInt(math.max(1, a.length - 27)))
          prefix += timed(p, traced)(routes.prefixSearch(p, 10))
          route += timed((a, b), traced)(routes.findRoute(a, b))
        }
        session += 1
      }
      if (!traced) gcMs += Jvm.gcMs - g0
      loopS(traced) += Stats.secondsSince(t0)
    }

    // warm-up: the same sessions, untimed and unrecorded, so the JIT has
    // compiled the driver-side lookups before the timed window opens
    val tracing = t.isOn
    t.stop()
    loop(System.nanoTime() + (WarmupSeconds * 1e9).toLong, traced = false)
    if (tracing) t.start()
    Seq(rand, has, prefix, route).foreach(_.clear())
    loopS.clear(); gcMs = 0L
    val cs = Phases.timed(ctx, loop)
    ctx.phaseDone("timed")

    if (ctx.inject) route.indices.filter(_ % 10 == 0).foreach { i =>
      route(i) = route(i).copy(out = route(i).out.map(_.dropRight(1)))
    }

    // checks, outside every timed region
    val o = ctx.outcome
    def check[A, R](ops: Seq[Timed[A, R]], what: String)(
        err: (A, Either[Throwable, R]) => Option[String]): Seq[Timed[A, R]] =
      ops.filter { op =>
        o.attempt()
        val e = err(op.in, op.out)
        e.foreach(m => o.fail(s"$what: $m"))
        e.isEmpty
      }
    def answer[A, R](ok: (A, R) => Option[String])(in: A, out: Either[Throwable, R]) =
      out.fold(x => Some(x.toString), ok(in, _))
    val randOk = check(rand.toSeq, "randomUrl")(answer { (_, r: Option[String]) =>
      if (r.exists(ref.byUrl.containsKey)) None else Some(s"returned $r")
    })
    val hasOk = check(has.toSeq, "hasPage")(answer { (name: String, r: Boolean) =>
      if (r == ref.byUrl.containsKey(name)) None else Some(s"hasPage($name) = $r")
    })
    val prefixOk = check(prefix.toSeq, "prefixSearch")(answer { (p: String, r: Seq[String]) =>
      var lo = java.util.Arrays.binarySearch(sorted, p, (a: String, b: String) => RefGraph.utf8Compare(a, b))
      if (lo < 0) lo = -lo - 1
      val want = sorted.iterator.drop(lo).takeWhile(_.startsWith(p)).take(10).toSeq
      if (r == want) None else Some(s"prefixSearch($p) = ${r.take(3)}..., want ${want.take(3)}...")
    })
    // routes between existing pages: every answer is validated, and one in
    // `every` also gets the benchmark's own BFS for its length (or, for
    // no-route, reachability); a misspelled endpoint must come back as the
    // matching missing-page error
    val (bothExist, someMissing) = route.toSeq.partition { op =>
      ref.byUrl.containsKey(op.in._1) && ref.byUrl.containsKey(op.in._2)
    }
    val every = math.max(1, bothExist.size / 300)
    var found, noRoute = 0
    val routeOk = check(bothExist.zipWithIndex.map { case (op, i) =>
      op.copy(in = (op.in, i % every == 0)) }, "findRoute")(answer {
        (in: ((String, String), Boolean), r: Seq[String]) =>
          if (r.isEmpty) noRoute += 1 else found += 1
          ref.routeError(in._1._1, in._1._2, r, checkLength = in._2)
      })
    val missingOk = check(someMissing, "findRoute") { (in, out) =>
      val (hasA, hasB) = (ref.byUrl.containsKey(in._1), ref.byUrl.containsKey(in._2))
      out match {
        case Left(_: MissingBoth) if !hasA && !hasB => None
        case Left(_: MissingStart) if !hasA && hasB => None
        case Left(_: MissingEnd) if hasA && !hasB => None
        case other => Some(s"findRoute(${in._1}, ${in._2}) = $other")
      }
    }
    val missing = missingOk.size
    ctx.phaseDone("checks")

    val untraced = (op: Timed[_, _]) => !op.traced
    val routeUs = routeOk.filter(untraced).map(_.ns / 1e3)
    val tracedRouteUs = routeOk.filterNot(untraced).map(_.ns / 1e3)
    def completed(p: Timed[_, _] => Boolean) =
      Seq(randOk, hasOk, prefixOk, routeOk, missingOk.toSeq).map(_.count(p)).sum
    val opsPerS = completed(untraced) / loopS(false)
    val tracedOpsPerS = completed(op => !untraced(op)) / loopS(true)

    val storedRatio = Disk.bytesUnder(warehouse).toDouble / rawBytes
    val pairs = math.max(1, route.size).toDouble
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> Stats.median(routeUs) / 1e3,
      "throughput_per_s" -> opsPerS,
      "driver_heap_mb" -> heapMb,
      "stored_bytes_ratio" -> storedRatio)
    val named = Seq(
      ("setup_s", setupS, "s"),
      ("route_p50_ms", Stats.median(routeUs) / 1e3, "ms"),
      ("route_p99_ms", Stats.quantile(routeUs, 0.99) / 1e3, s"ms (n=${routeUs.size})"),
      ("repl_ops_per_s", opsPerS, "1/s"),
      ("driver_heap_mb", heapMb, "MB"),
      ("stored_bytes_ratio", storedRatio, "ratio"))
    val layers = Phases.layerMetrics(ctx, cs, "query.loop", route.count(!untraced(_))) ++ Map(
      "query.find_route_us_p50" -> Stats.median(tracedRouteUs),
      "query.find_route_us_p99" -> Stats.quantile(tracedRouteUs, 0.99),
      "query.route_found_ratio" -> found / pairs,
      "query.route_no_route_ratio" -> noRoute / pairs,
      "query.route_missing_page_ratio" -> missing / pairs,
      "query.prefix_search_us" -> Stats.median(prefixOk.filterNot(untraced).map(_.ns / 1e3)),
      "query.has_page_us" -> Stats.median(hasOk.filterNot(untraced).map(_.ns / 1e3)),
      "query.random_url_us" -> Stats.median(randOk.filterNot(untraced).map(_.ns / 1e3)),
      "query.warm_s" -> Stats.median(firstRouteS),
      "jvm.heap_after_gc_mb" -> heapMb,
      "jvm.gc_ms" -> gcMs.toDouble,
      "trace.overhead_op_p50" -> (Stats.median(tracedRouteUs) / Stats.median(routeUs) - 1),
      "trace.overhead_throughput" -> (opsPerS / tracedOpsPerS - 1))
    WorkloadResult(e2e, named, layers)
  }
}
