package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.pipeline.{Dedup, Similarity}
import graft.tables.IcebergLite

/**
 * The committed-index write path, one of `analyze`'s jobs. Set-up seeds the
 * fingerprint, shingle and MinHash indexes and the IVF index over a
 * seed-selected half of a generated corpus; each pass then feeds the next
 * batch of the other half through `Dedup.ladderIncremental` and
 * `Similarity.embeddingNearDupIncremental`, with a `compactOver` low enough
 * that compaction fires on every batch. Every call appends to committed
 * tables, so the pipeline and tables layers do the work.
 */
final class DedupPath(ctx: Ctx) {
  import DedupPath._

  private val spark = ctx.spark
  import spark.implicits._
  private val sz = ctx.sizes
  val warehouse: String = ctx.dir("dedup-wh")
  private val cat = new IcebergLite(warehouse)
  private val docsDir = ctx.dir("dedup-docs")
  private val vecsDir = ctx.dir("dedup-vecs")

  // inputs: a seed half and numbered batches of the rest
  private val rnd = ctx.rng(0xDED0L)
  private val docs = documents(rnd, sz.docs)
  private val vecs = vectors(rnd, sz.vectors)
  private def split[T](xs: Seq[(Long, T)], per: Int): Map[Long, Int] = {
    val shuffled = new scala.util.Random(rnd.nextLong()).shuffle(xs)
    shuffled.drop(xs.size / 2).zipWithIndex.map { case ((id, _), i) => id -> i / per }.toMap
  }
  private val docBatch = split(docs, sz.batchDocs)
  private val vecBatch = split(vecs, sz.batchVectors)
  private val docBytes = docs.map { case (id, text) => id -> text.getBytes("UTF-8").length.toLong }.toMap

  private final case class Batch(traced: Boolean, ladderS: Option[Double], ivfS: Option[Double],
      winnow: Set[(Long, Long)], jaccard: Set[(Long, Long)], minhash: Set[(Long, Long)],
      ivf: Set[(Long, Long)], inputBytes: Long, growthBytes: Long, snapshots: Int) {
    def ok: Boolean = ladderS.isDefined && ivfS.isDefined
    def wallS: Double = ladderS.getOrElse(0.0) + ivfS.getOrElse(0.0)
  }
  private val done = mutable.ArrayBuffer[Batch]()

  /** Writes the corpus (batch -1 is the seed half). */
  def writeInputs(): Unit = {
    docs.map { case (id, text) => (id, text, docBatch.getOrElse(id, -1)) }
      .toDF("doc_id", "text", "batch").coalesce(1).write.mode("overwrite").parquet(docsDir)
    vecs.map { case (id, v) => (id, v, vecBatch.getOrElse(id, -1)) }
      .toDF("vec_id", "embedding", "batch").coalesce(1).write.mode("overwrite").parquet(vecsDir)
  }

  private def docsOf(b: Int): DataFrame =
    spark.read.parquet(docsDir).where(col("batch") === b).select("doc_id", "text")
  private def vecsOf(b: Int): DataFrame =
    spark.read.parquet(vecsDir).where(col("batch") === b).select("vec_id", "embedding")

  /** Seeds every index over the seed half; returns the wall seconds. */
  def seed(): Double = {
    val (sd, sv) = (docsOf(-1), vecsOf(-1))
    val t0 = System.nanoTime()
    ctx.tracer.span("pipeline.seed") {
      Dedup.buildFingerprintIndex(sd, "doc_id", "text", warehouse, k = FpK, w = FpW)
      Dedup.buildShingleIndex(sd, "doc_id", "text", warehouse, n = ShingleN)
      Dedup.buildMinhashIndex(sd, "doc_id", "text", warehouse, n = ShingleN, k = MinhashK,
        bands = Bands, postingsTable = "shingle_index")
      Similarity.buildIvfIndex(sv, "vec_id", "embedding", warehouse, nlist = Nlist)
    }
    Stats.secondsSince(t0)
  }

  /** The next batch through both incremental paths, each call timed and
    * counted by `call`. */
  def increment(traced: Boolean, call: TimedCall): Unit = {
    val b = done.size
    require(docBatch.values.exists(_ == b) && vecBatch.values.exists(_ == b),
      s"corpus has no batch $b; raise docs/vectors")
    val bytes0 = Disk.bytesUnder(warehouse)
    val snaps0 = Disk.filesUnder(warehouse, ".json").size
    val ladder = call("pipeline.ladder_batch") {
      val inc = Dedup.ladderIncremental(docsOf(b), "doc_id", "text", warehouse,
        minShared = MinShared, threshold = Threshold, verifyThreshold = Threshold,
        compactOver = CompactOver)
      (pairSet(inc.passagePairs.get), pairSet(inc.jaccardPairs.get), pairSet(inc.minhashPairs.get))
    }
    val ivf = call("pipeline.ivf_batch") {
      pairSet(Similarity.embeddingNearDupIncremental(vecsOf(b), "vec_id", "embedding", warehouse,
        CosThreshold, compactOver = CompactOver))
    }
    val none = Set.empty[(Long, Long)]
    val input = docBatch.collect { case (id, `b`) => docBytes(id) }.sum +
      vecBatch.count(_._2 == b) * 4L * Dim
    done += Batch(traced, ladder.map(_._2), ivf.map(_._2), ladder.map(_._1._1).getOrElse(none),
      ladder.map(_._1._2).getOrElse(none), ladder.map(_._1._3).getOrElse(none),
      ivf.map(_._1).getOrElse(none), input, Disk.bytesUnder(warehouse) - bytes0,
      Disk.filesUnder(warehouse, ".json").size - snaps0)
  }

  /** Seed pairs ∪ every increment == from scratch over all documents seen,
    * per pillar; a differing pair fails the batch that brought its later
    * document. Whether two documents pair depends on those two alone, so
    * the seed pairs are the from-scratch pairs between two seed documents;
    * likewise for vectors under the quantizer frozen at the seed build. */
  def check(o: Outcome): Unit = {
    if (ctx.inject) done(0) = done(0).copy(jaccard = done(0).jaccard + ((-2L, -1L)))
    val seen = (-1 until done.size).map(docsOf).reduce(_ union _)
    def compare(name: String, want: Set[(Long, Long)], got: Batch => Set[(Long, Long)],
        batchOf: Map[Long, Int]): Unit = {
      val have = want.filter { case (a, b) => !batchOf.contains(a) && !batchOf.contains(b) } ++
        done.flatMap(got)
      val wrong = (want diff have) ++ (have diff want)
      wrong.map { case (a, b) => batchOf.getOrElse(a, -1) max batchOf.getOrElse(b, -1) }
        .foreach(b => o.fail(s"$name: batch $b pairs differ from the from-scratch run " +
          s"(${wrong.size} pairs differ in all)"))
    }
    compare("winnow", pairSet(Dedup.winnowPairs(seen, "doc_id", "text", k = FpK, w = FpW,
      minShared = MinShared)), _.winnow, docBatch)
    compare("jaccard", pairSet(Dedup.jaccardPairs(seen, "doc_id", "text", n = ShingleN,
      threshold = Threshold)), _.jaccard, docBatch)
    compare("minhash", pairSet(Dedup.minhashLshPairs(seen, "doc_id", "text", n = ShingleN,
      k = MinhashK, bands = Bands, verifyThreshold = Threshold)), _.minhash, docBatch)
    compare("ivf", pairSet(Similarity.embeddingNearDupIvfIndexed(spark, warehouse, CosThreshold)),
      _.ivf, vecBatch)
  }

  private def ok(traced: Boolean) = done.filter(b => b.ok && b.traced == traced)

  /** Batch documents per second of increment wall time. */
  def docsPerS(traced: Boolean): Double = {
    val bs = ok(traced)
    bs.size * sz.batchDocs / bs.map(_.wallS).sum
  }

  /** Warehouse growth ÷ bytes of the input batches (text as UTF-8, vectors
    * as floats). */
  def storedRatio(traced: Boolean): Double = {
    val bs = ok(traced)
    bs.map(_.growthBytes).sum.toDouble / bs.map(_.inputBytes).sum
  }

  def layers(seedS: Double): Map[String, Double] = {
    val bs = ok(traced = true)
    def perBatch(f: Batch => Double) = if (bs.isEmpty) 0.0 else bs.map(f).sum / bs.size
    val manifestUs = (1 to 50).map { _ =>
      val t0 = System.nanoTime(); cat.currentSnapshot("shingle_index"); (System.nanoTime() - t0) / 1e3
    }
    val tableFiles = Option(new java.io.File(warehouse).listFiles()).toSeq.flatten
      .flatMap(d => cat.currentSnapshot(d.getName)).map(_.files.size).sum
    Map(
      "pipeline.seed_s" -> seedS,
      "pipeline.ladder_batch_s" -> Stats.median(bs.flatMap(_.ladderS)),
      "pipeline.ivf_batch_s" -> Stats.median(bs.flatMap(_.ivfS)),
      "pipeline.winnow_pairs_per_batch" -> perBatch(_.winnow.size),
      "pipeline.jaccard_pairs_per_batch" -> perBatch(_.jaccard.size),
      "pipeline.minhash_pairs_per_batch" -> perBatch(_.minhash.size),
      "pipeline.ivf_pairs_per_batch" -> perBatch(_.ivf.size),
      "tables.snapshots_written" -> perBatch(_.snapshots),
      "tables.data_files" -> tableFiles.toDouble,
      "tables.bytes_written" -> perBatch(_.growthBytes.toDouble),
      "tables.current_snapshot_us" -> Stats.median(manifestUs))
  }
}

object DedupPath {
  // the parameters of the registered d_*_incr / x_neardup_incr queries
  private val ShingleN = 3
  private val Threshold = 0.5
  private val FpK = 16
  private val FpW = 8
  private val MinShared = 2L
  private val MinhashK = 8
  private val Bands = 4
  private val Nlist = 16
  private val CosThreshold = 0.45
  // the seed layouts are bucketed into 16 files, so one append passes this
  // and every batch compacts
  private val CompactOver = 8
  private val Dim = 64

  /** Word-salad documents, one in six a near-copy of an earlier one (a few
    * words replaced), so every pillar has pairs to find. */
  def documents(rng: java.util.Random, n: Int): Seq[(Long, String)] = {
    val syll = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "qu", "do")
    val vocab = Array.tabulate(150)(i => syll(i % 12) + syll((i / 12) % 12) + (if (i >= 144) "x" else ""))
    val made = mutable.ArrayBuffer[Array[String]]()
    (0 until n).map { i =>
      val words =
        if (i > 0 && rng.nextInt(6) == 0) {
          val w = made(rng.nextInt(made.size)).clone()
          (0 until 1 + rng.nextInt(2)).foreach(_ => w(rng.nextInt(w.length)) = vocab(rng.nextInt(vocab.length)))
          w
        } else Array.fill(40 + rng.nextInt(20))(vocab(rng.nextInt(vocab.length)))
      made += words
      (i.toLong, words.mkString(" "))
    }
  }

  /** Vectors around 16 centres, one in ten a near-copy of an earlier one. */
  def vectors(rng: java.util.Random, n: Int): Seq[(Long, Array[Float])] = {
    val centres = Array.fill(16, Dim)(rng.nextGaussian())
    val made = mutable.ArrayBuffer[Array[Float]]()
    (0 until n).map { i =>
      val v =
        if (i > 0 && rng.nextInt(10) == 0) made(rng.nextInt(made.size)).map(x => x + 0.01f * rng.nextGaussian().toFloat)
        else { val c = centres(rng.nextInt(16)); Array.tabulate(Dim)(d => (c(d) + 2.0 * rng.nextGaussian()).toFloat) }
      made += v
      (i.toLong, v)
    }
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] = {
    import df.sparkSession.implicits._
    df.select(col("a").cast("long"), col("b").cast("long")).as[(Long, Long)].collect()
      .map { case (a, b) => (a min b, a max b) }.toSet
  }
}
