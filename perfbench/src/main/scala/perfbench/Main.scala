package perfbench

import java.nio.file.{Files, Paths}

import graft.GraftSession

/**
 * Benchmark entry point (normally launched by `perfbench/run.py`, which
 * builds the classpath first):
 *
 *   --workload route_serve|analyze --seed N --seconds S
 *   --trace 0|1 --work DIR [--source-hash H] [--commit SHA]
 *   --smoke      every workload once at tiny sizes, with its checks
 *   --selftest   as --smoke, with wrong answers injected; passes only if
 *                every workload counts them as failed
 *
 * A run prints its figures for people, then one JSON line: the end-to-end
 * metrics when untraced, the per-layer metrics when traced.
 */
object Main {

  val Workloads: Map[String, Ctx => WorkloadResult] = Map(
    "route_serve" -> RouteServe.run,
    "analyze" -> Analyze.run)

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "throughput_per_s" -> "1/s",
    "driver_heap_mb" -> "MB", "stored_bytes_ratio" -> "ratio")

  def unitOf(layer: String): String = layer match {
    case n if n.endsWith("_bytes") || n.endsWith("bytes_written") => "bytes"
    case n if n.endsWith("_ms") || n.endsWith("ms_per_job") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.contains("_us") => "us"
    case n if n.endsWith("_mb") => "MB"
    case n if n.contains("ratio") || n.contains("overhead") => "ratio"
    case _ => "count"
  }

  /** The calibration scalar: a fixed single-thread spin of 2e8 xorshift
    * steps, timed. It does no I/O, so a slow reading means a busy machine,
    * not a slow program. */
  def spinSeconds(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    if (x == 0L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  private def arg(args: Array[String], name: String): Option[String] = {
    val i = args.indexOf(name)
    if (i >= 0 && i + 1 < args.length) Some(args(i + 1)) else None
  }

  private var startupS = 0.0

  def main(args: Array[String]): Unit = {
    val work = Paths.get(arg(args, "--work").getOrElse(sys.error("--work DIR is required")))
      .toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.builder(cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("catalog").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    startupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val code =
      try {
        if (args.contains("--smoke")) smoke(spark, work, inject = false)
        else if (args.contains("--selftest")) smoke(spark, work, inject = true)
        else measure(spark, work, args, cores)
      } finally spark.stop()
    sys.exit(code)
  }

  private def runOne(spark: org.apache.spark.sql.SparkSession, work: java.nio.file.Path,
      workload: String, seed: Long, seconds: Double, trace: Boolean, sizes: Sizes,
      inject: Boolean): (WorkloadResult, Outcome, Ctx) = {
    val dir = work.resolve(s"$workload-$seed-$trace")
    deleteTree(dir)
    val tracer = new Tracer(spark)
    if (trace) tracer.start()
    val ctx = new Ctx(spark, seed, seconds, sizes, dir, tracer, new Outcome, inject)
    val r = Workloads(workload)(ctx)
    tracer.stop()
    (r, ctx.outcome, ctx)
  }

  private def measure(spark: org.apache.spark.sql.SparkSession, work: java.nio.file.Path,
      args: Array[String], cores: Int): Int = {
    val workload = arg(args, "--workload").filter(Workloads.contains).getOrElse(
      sys.error(s"--workload must be one of ${Workloads.keys.toSeq.sorted.mkString(", ")}"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toDouble).getOrElse(10.0)
    val trace = arg(args, "--trace").contains("1")
    val spin = spinSeconds()
    val (r, o, ctx) = runOne(spark, work, workload, seed, seconds, trace, Sizes.Full, inject = false)
    val meta = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "nproc" -> cores, "calibration_spin_s" -> spin,
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "source_hash" -> arg(args, "--source-hash").orNull,
      "git_commit" -> arg(args, "--commit").orNull,
      "spark" -> spark.version, "sizes" -> ctx.sizes.toString,
      "phases_s" -> (ctx.phases.toSeq :+ ("jvm_and_session" -> startupS)).toMap,
      "setup_reps_s" -> ctx.setups)
    println(s"# meta $meta")
    println(s"# $workload, seed $seed, ${if (trace) "traced" else "untraced"}:")
    r.named.foreach { case (n, v, u) => println(f"  $n%-22s $v%.6g $u") }
    println(f"  ${"error_rate"}%-22s ${o.failed.toDouble / math.max(1, o.attempted)}%.6g " +
      s"(${o.failed} failed of ${o.attempted} operations)")
    o.failures.foreach(f => println(s"  FAILED: $f"))
    val metrics =
      if (!trace) EndToEnd.map { case (n, u) => n -> Map("value" -> r.e2e(n), "unit" -> u) }
      else {
        val cs = ctx.tracer.counters()
        ctx.tracer.writeTrace(work.resolve(s"trace-$workload-$seed.jsonl"), cs)
        Phases.LayerNames.map { n =>
          val v = r.layers.getOrElse(n, 0.0)
          n -> Map("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> unitOf(n))
        }
      }
    val line = Json.obj("correct" -> (o.failed == 0), "attempted" -> o.attempted,
      "failed" -> o.failed, "metrics" -> scala.collection.immutable.ListMap(metrics: _*))
    Files.write(work.resolve(s"result-$workload-$seed-trace${if (trace) 1 else 0}.json"),
      s"$meta\n$line\n".getBytes("UTF-8"))
    println(line)
    0
  }

  /** Every workload once at tiny sizes. Without injection every check must
    * pass; with it, every workload must count the wrong answers as failed. */
  private def smoke(spark: org.apache.spark.sql.SparkSession, work: java.nio.file.Path,
      inject: Boolean): Int = {
    val verdicts = Workloads.keys.toSeq.sorted.map { w =>
      val (_, o, _) = runOne(spark, work, w, 7L, 1.0, trace = true, Sizes.Smoke, inject)
      val ok = if (inject) o.failed > 0 else o.failed == 0
      println(s"${if (ok) "ok  " else "FAIL"} $w: ${o.failed} failed of ${o.attempted}" +
        (if (inject) " (wrong answers injected)" else ""))
      o.failures.take(3).foreach(f => println(s"       $f"))
      ok
    }
    if (verdicts.forall(identity)) 0 else 1
  }

  def deleteTree(p: java.nio.file.Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
