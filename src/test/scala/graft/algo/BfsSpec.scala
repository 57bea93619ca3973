package graft.algo

import graft.SparkTestBase
import graft.graph.Edge

/** Randomized differential test vs an in-driver BFS oracle — path LENGTH
  * equality, not vertex sequence (shortest paths are non-unique); mirrors
  * `RouteFinderTest.kt:41-72` which asserts length vs JGraphT Dijkstra. */
class BfsSpec extends SparkTestBase {

  private def randomDigraph(n: Int, m: Int, seed: Long): Seq[(Long, Long)] = {
    val rng = new java.util.Random(seed)
    (0 until m).map { _ =>
      (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
    }.filter { case (a, b) => a != b }.distinct
  }

  private def oracleDist(edges: Seq[(Long, Long)], start: Long, end: Long): Int = {
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val dist = scala.collection.mutable.Map(start -> 0)
    val q = scala.collection.mutable.Queue(start)
    while (q.nonEmpty) {
      val v = q.dequeue()
      for (w <- adj.getOrElse(v, Nil) if !dist.contains(w)) {
        dist(w) = dist(v) + 1; q.enqueue(w)
      }
    }
    dist.getOrElse(end, -1)
  }

  test("bidirectional BFS path length equals driver-BFS oracle on random digraphs") {
    import spark.implicits._
    val rng = new java.util.Random(0xcafebabe) // seed per Benchmarking.java:15
    for (g <- 0 until 2) {
      val edgeSeq = randomDigraph(n = 80, m = 400, seed = 1000 + g)
      val out = spark.createDataset(edgeSeq.map(e => Edge(e._1, e._2)))
      val in = spark.createDataset(edgeSeq.map(e => Edge(e._2, e._1)))
      for (_ <- 0 until 3) {
        val s = rng.nextInt(80).toLong
        val t = rng.nextInt(80).toLong
        val want = oracleDist(edgeSeq, s, t)
        val got = Bfs.shortestPath(out, in, s, t)
        val gotLen = got.map(_.length - 1).getOrElse(-1)
        assert(gotLen == want, s"route $s->$t: got $gotLen want $want")
        // returned path, when present, must be a real path in the graph
        got.foreach { p =>
          val es = edgeSeq.toSet
          p.sliding(2).foreach {
            case Seq(a, b) => assert(es.contains((a, b)), s"bad hop $a->$b")
            case _ =>
          }
          assert(p.head == s && p.last == t)
        }
      }
    }
  }

  test("unidirectional distances match oracle") {
    import spark.implicits._
    val edgeSeq = randomDigraph(n = 60, m = 240, seed = 7)
    val out = spark.createDataset(edgeSeq.map(e => Edge(e._1, e._2)))
    val got = Bfs.distances(out, start = 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    for (v <- 0L until 60L) {
      val want = oracleDist(edgeSeq, 0L, v)
      assert(got.getOrElse(v, -1) == want, s"dist(0,$v)")
    }
  }

  test("deterministic results across repeated runs (tie-break fixed)") {
    import spark.implicits._
    val edgeSeq = randomDigraph(n = 50, m = 300, seed = 99)
    val out = spark.createDataset(edgeSeq.map(e => Edge(e._1, e._2)))
    val in = spark.createDataset(edgeSeq.map(e => Edge(e._2, e._1)))
    val p1 = Bfs.shortestPath(out, in, 1L, 40L)
    val p2 = Bfs.shortestPath(out, in, 1L, 40L)
    assert(p1 == p2)
  }

  test("shortestPath: unreachable target on a 200-deep path keeps the visited plan bounded") {
    import spark.implicits._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // path 0 -> 1 -> ... -> 200; the target 1000 is isolated, so no meeting
    // ever bounds the search: the forward side (the smaller frontier, ties
    // forward) walks the whole path before it drains
    val depth = 200
    val edgeSeq = (0 until depth).map(i => (i.toLong, i + 1L))
    val out = spark.createDataset(edgeSeq.map(e => Edge(e._1, e._2)))
    val in = spark.createDataset(edgeSeq.map(e => Edge(e._2, e._1)))
    // Dataset.union flattens nested unions, so a visited set that is never
    // collapsed grows as one more unioned delta (a plan leaf) per superstep,
    // and every superstep's anti-join re-analyzes all of them
    val widest = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        widest.accumulateAndGet(qe.analyzed.collectLeaves().size, math.max)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      assert(Bfs.shortestPath(out, in, 0L, 1000L).isEmpty)
      org.apache.spark.TestListenerBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    // collapsing every 32 levels bounds every plan the search runs
    assert(widest.get > 0 && widest.get < 64,
      s"largest analyzed plan: ${widest.get} leaves")
  }
}
