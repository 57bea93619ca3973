package perfbench

import org.apache.spark.sql.functions.col

import graft.graph.{GraphBuilder, GraphTables, LinkGraph}
import graft.ingest.ExtractFunctions._
import graft.ingest.SynthCorpus

/** The raw crawl both graph workloads start from, its conversion into a
  * committed warehouse, and the benchmark's own copy of the committed graph
  * that checks compare against. */
object Crawl {

  /** Writes the seeded crawl of `pages` pages (average out-degree 8) as
    * parquet; this is the benchmark's input, made before any timing. One
    * extra page links nowhere, so every seed's graph has a dangling vertex
    * and PageRank does the same work on each (whether any generated page
    * ends up dangling depends on the seed). */
  def write(ctx: Ctx, pages: Int): String = {
    val out = ctx.dir(s"raw-$pages")
    import ctx.spark.implicits._
    SynthCorpus.generate(ctx.spark, pages, avgDeg = 8, seed = ctx.seed)
      .union(Seq(SynthCorpus.page("perfbench-sink", Nil)).toDS())
      .write.mode("overwrite").parquet(out)
    out
  }

  /** Raw crawl → built graph → committed tables → reopened graph, each
    * stage in its own span. */
  def convert(ctx: Ctx, raw: String, warehouse: String, rep: Int): LinkGraph = {
    val t = ctx.tracer
    val built = t.span("graph.build", rep)(GraphBuilder.build(ctx.spark.read.parquet(raw)))
    t.span("graph.tables_build", rep)(GraphTables.build(built, warehouse, s"bench-$rep"))
    t.span("graph.open", rep)(GraphTables.open(ctx.spark, warehouse))
  }

  /** The extraction transform alone, into a sink that discards rows. */
  def extractOnly(ctx: Ctx, raw: String): Unit =
    ctx.tracer.span("ingest.extract") {
      ctx.spark.read.parquet(raw)
        .select(normalize_url(col("url")), extract_redirect(col("html"), col("url")),
          extract_links(col("html"), col("url")))
        .write.format("noop").mode("overwrite").save()
    }
}

/** The committed graph collected into the driver, with the benchmark's own
  * BFS — the reference routes and algorithm outputs are checked against. */
final class RefGraph(ids: Array[Long], urls: Array[String], edges: Array[(Long, Long)]) {
  val n: Int = ids.length
  private val order = ids.indices.sortBy(ids(_)).toArray
  private val sortedIds = order.map(ids(_))
  def index(id: Long): Int = java.util.Arrays.binarySearch(sortedIds, id)
  val urlOf: Array[String] = order.map(urls(_))
  val byUrl: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    urlOf.indices.foreach(i => m.put(urlOf(i), i))
    m
  }
  /** Edges as dense (src, dst) indexes into the sorted id order. */
  val dense: Array[(Int, Int)] = edges.map { case (s, d) => (index(s), index(d)) }
  val out: Array[Array[Int]] = {
    val b = Array.fill(n)(scala.collection.mutable.ArrayBuilder.make[Int])
    dense.foreach { case (s, d) => b(s) += d }
    b.map(_.result().sorted)
  }
  def hasEdge(s: Int, d: Int): Boolean =
    s >= 0 && d >= 0 && java.util.Arrays.binarySearch(out(s), d) >= 0

  /** Hop counts from `s` to every page, -1 where unreachable. */
  def distances(s: Int): Array[Int] = {
    val dist = Array.fill(n)(-1)
    dist(s) = 0
    var front = Array(s)
    while (front.nonEmpty) {
      val next = scala.collection.mutable.ArrayBuilder.make[Int]
      for (u <- front; v <- out(u) if dist(v) < 0) {
        dist(v) = dist(u) + 1
        next += v
      }
      front = next.result()
    }
    dist
  }

  /** Hop count of a shortest path, or -1 when `t` is unreachable. */
  def hops(s: Int, t: Int): Int = distances(s)(t)

  /** Why `route` (urls) is not a valid answer from `a` to `b`, if it is not:
    * it must start at `a`, end at `b`, follow committed edges and be as
    * short as the benchmark's own BFS says when `checkLength`. */
  def routeError(a: String, b: String, route: Seq[String], checkLength: Boolean): Option[String] = {
    val ix = route.map(u => Option(byUrl.get(u)).map(_.intValue).getOrElse(-1))
    if (route.isEmpty) {
      if (checkLength && hops(byUrl.get(a), byUrl.get(b)) >= 0) Some(s"no route returned for reachable $a -> $b")
      else None
    } else if (route.head != a || route.last != b) Some(s"route $a -> $b has endpoints ${route.head}, ${route.last}")
    else if (ix.sliding(2).exists(p => p.size == 2 && !hasEdge(p(0), p(1))))
      Some(s"route $a -> $b is not a chain of committed edges")
    else if (checkLength && hops(ix.head, ix.last) != route.size - 1)
      Some(s"route $a -> $b has ${route.size - 1} hops, shortest is ${hops(ix.head, ix.last)}")
    else None
  }
}

object RefGraph {
  def of(ctx: Ctx, g: LinkGraph): RefGraph = {
    import ctx.spark.implicits._
    val pages = g.pages.select($"id", $"url").as[(Long, String)].collect()
    val edges = g.edges.select($"src", $"dst").as[(Long, Long)].collect()
    new RefGraph(pages.map(_._1), pages.map(_._2), edges)
  }

  /** Unsigned UTF-8 byte order, the collation the program's prefix search
    * answers in. */
  def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    java.util.Arrays.compareUnsigned(x, y)
  }
}
