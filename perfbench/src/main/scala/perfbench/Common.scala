package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result line and the trace file. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ": " + value(x) }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => quote(k) + ": " + value(x) }.mkString("{", ", ", "}")
  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
}

object Stats {
  /** Nearest-rank quantile of unsorted samples; NaN when there are none. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val a = xs.toArray.sorted
    if (a.isEmpty) Double.NaN
    else a(math.min(a.length - 1, math.max(0, math.ceil(q * a.length).toInt - 1)))
  }
  def median(xs: Iterable[Double]): Double = {
    val a = xs.toArray.sorted
    if (a.isEmpty) Double.NaN
    else if (a.length % 2 == 1) a(a.length / 2)
    else (a(a.length / 2 - 1) + a(a.length / 2)) / 2
  }
  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Attempted and failed operations of one run. A failed operation is never
  * timed: its latency is left out of every timing metric. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()

  def attempt(): Unit = attempted += 1
  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }
  /** Runs one operation; an exception counts it failed and yields None. */
  def run[T](what: String)(body: => T): Option[T] = {
    attempt()
    try Some(body)
    catch { case e: Exception => fail(s"$what: $e"); None }
  }
}

/** Runs one operation of a workload: spanned, timed and counted. Yields
  * the result and its wall seconds, or None when it failed. */
trait TimedCall {
  def apply[T](name: String)(body: => T): Option[(T, Double)]
}

/** Workload sizes. `openReps` is how often set-up reopens the warehouse a
  * run converted once. */
final case class Sizes(
    routePages: Int, analyzePages: Int, docs: Int, vectors: Int,
    batchDocs: Int, batchVectors: Int, openReps: Int, distRoutePairs: Int)

object Sizes {
  val Full = Sizes(routePages = 10000, analyzePages = 600, docs = 1200,
    vectors = 600, batchDocs = 40, batchVectors = 20, openReps = 3, distRoutePairs = 2)
  /** Every workload in a few seconds (`--smoke`, `--selftest`). */
  val Smoke = Sizes(routePages = 2000, analyzePages = 300, docs = 200,
    vectors = 200, batchDocs = 20, batchVectors = 20, openReps = 1, distRoutePairs = 2)
}

/** What one workload run hands back to [[Main]]. `e2e` holds the contract
  * metrics; `named` the same measurements under their workload-specific
  * names (printed for people); `layers` the per-layer metrics. */
final case class WorkloadResult(
    e2e: Map[String, Double],
    named: Seq[(String, Double, String)],
    layers: Map[String, Double])

/** One workload run. `inject` makes the workload corrupt some of the
  * program's answers before checking them (the self-test). */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val sizes: Sizes, val work: Path, val tracer: Tracer, val outcome: Outcome,
    val inject: Boolean) {
  def dir(name: String): String = work.resolve(name).toString
  /** Wall seconds of each phase of the run (input, set-up, timed, checks). */
  val phases = mutable.LinkedHashMap[String, Double]()
  /** Each set-up repetition's wall seconds. */
  val setups = mutable.ArrayBuffer[Double]()
  private var mark = System.nanoTime()
  def phaseDone(name: String): Unit = {
    phases(name) = Stats.secondsSince(mark)
    mark = System.nanoTime()
  }
  def rng(salt: Long): java.util.Random =
    new java.util.Random(graft.ingest.SynthCorpus.mix64(seed ^ salt))
}

object Disk {
  def bytesUnder(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }
  def filesUnder(p: String, suffix: String): Seq[Path] = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(suffix)).toList
      finally s.close()
    }
  }
}

object Jvm {
  private def gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
  def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
  /** Used heap after a full collection, in MB. The pause lets Spark's
    * context cleaner drop the blocks of datasets the first collection
    * freed; the second collection reclaims them. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
