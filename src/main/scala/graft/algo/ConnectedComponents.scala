package graft.algo

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.graph.Edge

/**
 * Connected components via alternating large-star / small-star (Kiveris et
 * al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
 * specific algorithm the north rule names. Treats the link graph as
 * undirected (weakly connected components).
 *
 * Each round is two Dataset passes over the evolving edge list:
 *   large-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
 *                  (and keep (u, m) so roots stay attached)
 *   small-star(u): m = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u) ∪ {u}, v ≤ u
 * Convergence: the edge multiset reaches a fixed point (checked by a
 * cheap count + xor-of-hashes signature, no full diff join). At the fixed
 * point edges form stars rooted at component minima.
 *
 * Physical shape per round: both phases are groupBy-min + re-emit (partial
 * aggregation absorbs hub skew; rounds are O(log n), paper Thm 3), run as
 * ONE action — the round's localCheckpoint (or committed snapshot, in the
 * resumable variant), which observes the signature on the same rows
 * (`Dataset.observe`) instead of a second aggregate job.
 */
object ConnectedComponents {

  case class Result(components: DataFrame, metrics: Seq[SuperstepMetric], rounds: Int)

  /** The fixed-point signature of an evolving (u, v) edge list: its row
    * count and the xor of its rows' hashes — observed on the action that
    * materializes the edge list, never a job of its own. */
  private def signature: Seq[Column] = Seq(count(lit(1)),
    coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)))

  private def sigOf(r: Row): (Long, Long) = (r.getLong(0), r.getLong(1))

  def run(vertices: DataFrame, edges: Dataset[Edge], maxRounds: Int = 50): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    val init = edges.toDF().select($"src".as("u"), $"dst".as("v"))
    converge("cc", vertices, init, maxRounds)
  }

  /**
   * Warm-start over a GROWN graph: previous component labels + only the
   * DELTA edges, the monotone analog of [[PageRank.warmStart]] for a
   * continuously-ingesting corpus. Edge appends can only MERGE components
   * — never split them — so
   *
   *   CC(E_old ∪ Δ)  =  CC(stars(prev) ∪ Δ)
   *
   * where stars(prev) is the previous fixpoint rendered as edges (every
   * non-root vertex → its component min: |V_old| edges at most, regardless
   * of |E_old|). The large/small-star loop then starts from a forest that
   * is ALREADY a fixpoint everywhere Δ doesn't touch, so rounds track the
   * diameter of the merge structure the delta introduces, not log |V| of
   * the whole graph — and each round's input is O(|V| + |Δ|) edges instead
   * of O(|E|). This is what makes re-running
   * [[graft.pipeline.Dedup.canonicalize]] cheap on a growing corpus: feed
   * the last run's labels and only the new pairs.
   *
   * `vertices` must be the FULL post-growth vertex set (old + new); new
   * vertices absent from `prevComponents` simply start as their own
   * components, exactly as in a cold run. Result equality with the cold
   * run is asserted in tests — the warm seed changes the path, not the
   * fixpoint.
   */
  def warmStart(vertices: DataFrame, deltaEdges: Dataset[Edge],
      prevComponents: DataFrame, maxRounds: Int = 50): Result = {
    val spark = deltaEdges.sparkSession
    import spark.implicits._
    val stars = prevComponents
      .select(col(prevComponents.columns.head).cast("long").as("u"),
        col(prevComponents.columns(1)).cast("long").as("v"))
    converge("cc-warm", vertices,
      stars.union(deltaEdges.toDF().select($"src".as("u"), $"dst".as("v"))),
      maxRounds)
  }

  /** The in-memory round loop of [[run]] / [[warmStart]]: ONE action per
    * round — the checkpoint of the round's edge list, which also observes
    * its [[signature]]; the fixed point is two equal signatures in a row. */
  private def converge(algo: String, vertices: DataFrame, init: DataFrame,
      maxRounds: Int): Result = {
    val spark = init.sparkSession
    import spark.implicits._
    val ops = new StarOps(spark)
    val (cur0, r0) = Iterate.checkpoint(
      init.filter($"u" =!= $"v").distinct(), signature: _*)
    var cur = cur0
    var sig = sigOf(r0)
    var rounds = 0
    var converged = false
    val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetric]()
    while (!converged && rounds < maxRounds) {
      val t0 = System.nanoTime()
      val (next, r) = Iterate.checkpoint(ops.smallStar(ops.largeStar(cur)),
        signature: _*)
      converged = sigOf(r) == sig
      cur = next
      sig = sigOf(r)
      rounds += 1
      metrics += SuperstepMetric(algo, rounds, sig._1, sig._1,
        Iterate.msSince(t0), if (converged) 0.0 else 1.0)
    }
    Result(components(vertices, cur), metrics.toSeq, rounds)
  }

  /** Stars → labels: every non-root points at its component min; roots +
    * isolated vertices map to themselves. */
  private def components(vertices: DataFrame, stars: DataFrame): DataFrame = {
    val spark = stars.sparkSession
    import spark.implicits._
    vertices.select(col(vertices.columns.head).as("id"))
      .join(stars.select($"u".as("id"), $"v".as("comp")), Seq("id"), "left")
      .groupBy($"id")
      .agg(coalesce(min($"comp"), first($"id")).as("component"))
  }

  /**
   * Resumable variant: each round's evolving edge set is committed through
   * [[graft.state.Supersteps]] (snapshot properties carry the fixed-point
   * signature), so a killed job resumes at the last committed round and the
   * final components are byte-identical to an uninterrupted run. The
   * signature is observed on each commit's own write; a resumed run that
   * still has rounds to go re-derives it once from the committed edges.
   */
  def runResumable(vertices: DataFrame, edges: Dataset[Edge],
      log: graft.state.Supersteps, maxRounds: Int = 50): Result = {
    val spark = edges.sparkSession
    import spark.implicits._
    def commit(round: Int, next: DataFrame)(metric: ((Long, Long)) => SuperstepMetric)
        : (DataFrame, (Long, Long), SuperstepMetric) = {
      val (observed, sig) = Iterate.observe(next, signature: _*)
      val (state, r, m) = log.commit(round, observed, sig)(r => metric(sigOf(r)))
      (state, sigOf(r), m)
    }
    var rounds = log.lastCompleted.getOrElse(-1)
    var converged = log.lineage.lastOption.exists(_("delta") == "0.0")
    var (cur, sig) =
      if (rounds < 0) {
        rounds = 0
        val (state, s, _) = commit(0, edges.toDF().select($"src".as("u"), $"dst".as("v"))
          .filter($"u" =!= $"v").distinct())(_ => SuperstepMetric("cc", 0, 0L, 0L, 0L, 1.0))
        (state, s)
      } else {
        val state = log.readState()
        (state, if (converged) (0L, 0L) else sigOf(state.agg(signature.head, signature.tail: _*).head()))
      }
    val metrics = scala.collection.mutable.ArrayBuffer[SuperstepMetric]()
    val ops = new StarOps(spark)
    while (!converged && rounds < maxRounds) {
      val t0 = System.nanoTime()
      rounds += 1
      val (state, nextSig, m) = commit(rounds, ops.smallStar(ops.largeStar(cur))) { s =>
        SuperstepMetric("cc", rounds, s._1, s._1, Iterate.msSince(t0),
          if (s == sig) 0.0 else 1.0)
      }
      converged = nextSig == sig
      cur = state
      sig = nextSig
      metrics += m
    }
    Result(components(vertices, cur), metrics.toSeq, rounds)
  }

  /** Star operations shared by run/runResumable. */
  private[algo] class StarOps(spark: org.apache.spark.sql.SparkSession) {
    import spark.implicits._

    // the distinct is LOAD-BEARING for performance (not correctness): a
    // round-7 A/B removed it (duplicates would collapse in each star op's
    // final distinct anyway) and measured g_cc 2.89 -> 3.60 s — reciprocal
    // pairs are common on real link graphs and the duplicate rows inflate
    // every downstream join/aggregate input by more than this Exchange
    private def symmetric(e: DataFrame): DataFrame =
      e.union(e.select($"v".as("u"), $"u".as("v"))).filter($"u" =!= $"v").distinct()

    private def minOfNbhd(sym: DataFrame): DataFrame =
      sym.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))

    def largeStar(e: DataFrame): DataFrame = {
      val sym = symmetric(e)
      val mins = minOfNbhd(sym)
      sym.join(mins, "u")
        .filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v")
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val sym = symmetric(e)
      val mins = minOfNbhd(sym)
      sym.join(mins, "u")
        .filter($"v" <= $"u")
        .select($"v".as("u"), $"m".as("v"))
        .union(mins.select($"u", $"m".as("v")))
        .filter($"u" =!= $"v")
        .distinct()
    }
  }

  /** Driver union-find oracle (FIXTURES.md §4). */
  def oracle(n: Int, edges: Seq[(Int, Int)]): Array[Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
      r
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    Array.tabulate(n)(find)
  }
}
