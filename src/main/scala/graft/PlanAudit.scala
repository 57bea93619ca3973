package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Plan-quality audit: prints physical plans for representative queries so
  * pushdown / broadcast / shuffle placement can be reviewed per round
  * (`runMain graft.PlanAudit [sfDir]`). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.get(8)
    import spark.implicits._

    def show(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      println(s"\n===== $name =====")
      println(df.queryExecution.executedPlan.toString.linesIterator.take(40).mkString("\n"))
    }

    // point lookup: expect PushedFilters on the parquet scan + pruned schema
    show("point-lookup")(
      spark.read.parquet(s"$dir/customer.parquet")
        .filter($"c_custkey" === 42L).select($"c_custkey", $"c_name"))

    // prefix top-K: expect TakeOrderedAndProject, StartsWith pushed
    show("prefix-topk")(
      spark.read.parquet(s"$dir/part.parquet")
        .filter($"p_name".startsWith("sma")).orderBy($"p_name").limit(10))

    // derived-edge aggregation: expect partial HashAggregate before exchange
    show("degree-agg")(
      graft.graph.EdgeTable.degrees(SparkEntry.derivedEdges(spark, dir), "dst"))

    // join: expect broadcast of the small dimension side
    show("join-revenue")(SparkEntry.queries("q_join_revenue")(spark, dir))

    // exact near-dup: expect a shuffled equi-join on the block-pair key,
    // NO CartesianProduct / BroadcastNestedLoopJoin anywhere
    show("neardup-blocked")(
      graft.pipeline.Similarity.embeddingNearDupPairs(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", threshold = 0.45, blocks = 8))

    // IVF assignment: expect broadcast centroids + partial/final HashAggregate
    // (max_by), no Window, no extra Exchange beyond the final groupBy
    show("ivf-assign")(
      graft.pipeline.Similarity.ivfIndex(
        spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding"))

    // LSH probe: expect a hash equi-join on `bucket` with the probe side
    // broadcast, corpus scanned once
    val bucketed = graft.pipeline.Similarity.lshBucket(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding", planes = 6)
    show("lsh-probe")(
      graft.pipeline.Similarity.lshCandidates(bucketed, Seq(0L, 1L), 6, 2))

    // ANN ranking: expect partial_topk_by + topk_by ObjectHashAggregate
    // (bounded heap, map-side combine), NO Window anywhere
    show("ann-rank-topk")(
      graft.pipeline.Similarity.bruteForceTopK(
        spark.read.parquet(s"$dir/embeddings.parquet"),
        "vec_id", "embedding", Seq(0L, 1L, 2L), k = 5))

    // shared-passage pairs: expect the fp postings equi-join + partial
    // count aggregate — no cartesian, no window (shown pre-checkpoint via
    // the same building blocks winnowPairs composes)
    val fps = graft.pipeline.TextAnalysis.winnowFingerprints(
        spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
        k = 16, w = 8)
      .select($"id", $"fp".as("shingle"))
    show("winnow-pairs-postings")(
      graft.pipeline.Dedup.jaccardCandidates(fps).filter($"common" >= 2))

    // committed-index probe: the FileScan must list ONLY the probed cells'
    // data files (manifest min/max stats), not the whole index
    val wh = java.nio.file.Files.createTempDirectory("plan-ann").toString
    graft.pipeline.Similarity.buildIvfIndex(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      wh, nlist = 8)
    val cat = new graft.tables.IcebergLite(wh)
    val snap = cat.currentSnapshot("ann_ivf_cells").get
    val probed = Set(1L, 2L)
    println(s"\nann_ivf_cells: ${snap.files.size} data files; manifest stats " +
      s"prune cells $probed to ${cat.pruneFiles(snap, probed).size} files")
    show("ivf-indexed-pruned-scan")(
      cat.readPruned(spark, "ann_ivf_cells", probed)
        .filter($"cell".isin(probed.toSeq.map(_.toInt): _*)))

    // member-id probe side (round 5): the query-row fetch must read a
    // bounded subset of BOTH tables — the id sidecar pruned by query id,
    // the cells table pruned by the queries' cells — never the whole index
    val idsSnap = cat.currentSnapshot("ann_ivf_ids").get
    println(s"\nann_ivf_ids: ${idsSnap.files.size} sidecar files; id probe {0} " +
      s"prunes to ${cat.pruneFiles(idsSnap, Set(0L)).size} file(s)")
    show("ivf-member-id-sidecar-fetch")(
      cat.readPruned(spark, "ann_ivf_ids", Set(0L)).filter($"id" === 0L))

    // skew-bounded within-cell near-dup (round 5): expect a SortMergeJoin /
    // shuffled hash join on the COMPOSITE (cell, bi, bj) key — a hot
    // quantizer cell spreads over B(B+1)/2 block-pair tasks — and no
    // cartesian anywhere
    show("neardup-ivf-blocked")(
      graft.pipeline.Similarity.embeddingNearDupIvfIndexed(spark, wh,
        threshold = 0.45, blocks = 8))

    // incremental embedding near-dup (late round 6): the batch assigned at
    // the FROZEN committed quantizer against a file-PRUNED read of ONLY the
    // cells the batch touched; both sides then repartition on the composite
    // (cell, bi, bj) block-pair key (the same skew-bounding shuffle as
    // above) — expect the corpus scan restricted to the pruned manifest
    // subset and no cartesian anywhere
    val incrCs = cat.read(spark, "ann_ivf_centroids")
      .select($"cell", $"cvec").as[(Int, Array[Float])].collect().sortBy(_._1).toSeq
    val incrBatch = graft.pipeline.Similarity.assignCells(
      spark.read.parquet(s"$dir/embeddings.parquet").filter($"vec_id" >= 400L),
      "vec_id", "embedding", incrCs)
    show("neardup-incremental-pruned")(
      graft.pipeline.Similarity.embeddingIncrPlan(cat, "ann_ivf", incrBatch,
        threshold = 0.45))

    // committed LSH probe (round 5): bucket table read must list only the
    // files whose bucket range intersects the probe set; ranking stays the
    // bounded-heap aggregate, no Window, no re-bucketing of the corpus
    graft.pipeline.Similarity.buildLshIndex(
      spark.read.parquet(s"$dir/embeddings.parquet"), "vec_id", "embedding",
      wh, planes = 6)
    val lshSnap = cat.currentSnapshot("ann_lsh_buckets").get
    println(s"\nann_lsh_buckets: ${lshSnap.files.size} data files " +
      s"(stats on bucket, planes=${lshSnap.properties("planes")})")
    show("lsh-indexed-probe")(
      graft.pipeline.Similarity.lshTopKIndexed(spark, wh, Seq(0L, 1L),
        k = 5, probeHamming = 1))

    // incremental dedup (round 6): the batch-vs-all postings join over the
    // committed BUCKETED shingle index — expect the corpus side scanned as
    // `Bucketed: true` with NO Exchange between its scan and the join (the
    // batch side alone shuffles), sizes from the bucketed sidecar, and no
    // cartesian anywhere. Broadcast is disabled for the audit so the
    // big-against-big plan shape (the 100 TB case) is the one shown.
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
    val halfId = 250L
    graft.pipeline.Dedup.buildShingleIndex(
      docsDf.filter(col("doc_id") <= halfId), "doc_id", "text", wh, n = 3)
    val shCat = new graft.tables.IcebergLite(wh)
    val shBatch = graft.pipeline.Dedup.batchShingles(
      docsDf.filter(col("doc_id") > halfId), "doc_id", "text",
      shCat.currentSnapshot("shingle_index").get)
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    show("jaccard-incremental-bucketed")(
      graft.pipeline.Dedup.jaccardIncrPlan(shCat, "shingle_index", shBatch,
        threshold = 0.5, maxPostings = 0L))
    // fingerprint-index twin (winnow postings), same layout contract
    graft.pipeline.Dedup.buildFingerprintIndex(
      docsDf.filter(col("doc_id") <= halfId), "doc_id", "text", wh,
      k = 16, w = 8)
    val fpBatch = graft.pipeline.Dedup.batchFps(
      docsDf.filter(col("doc_id") > halfId), "doc_id", "text",
      shCat.currentSnapshot("fp_index").get)
    show("winnow-incremental-bucketed")(
      graft.pipeline.Dedup.winnowIncrPlan(shCat, "fp_index", fpBatch,
        minShared = 2L, maxPostings = 0L))
    // MinHash-LSH pillar (round 6): candidate join reads the committed band
    // buckets `Bucketed: true` with no corpus-side Exchange; the verify pass
    // broadcast-restricts ONE postings scan by the (explicitly broadcast,
    // LSH-small) candidate ids — everything downstream candidate-bounded
    graft.pipeline.Dedup.buildMinhashIndex(
      docsDf.filter(col("doc_id") <= halfId), "doc_id", "text", wh,
      postingsTable = "shingle_index")
    val mhSnap = shCat.currentSnapshot("minhash_index").get
    val mhBatchDocs = docsDf.filter(col("doc_id") > halfId)
    val mhDs = graft.pipeline.Dedup.batchShingles(
      mhBatchDocs, "doc_id", "text", shCat.currentSnapshot("shingle_index").get)
    val mhBk = graft.pipeline.Dedup.bandBuckets(
      mhDs, mhSnap.properties("k").toInt, mhSnap.properties("bands").toInt)
    show("minhash-incremental-candidates")(
      graft.pipeline.Dedup.minhashCandPlan(shCat, "minhash_index", mhBk))
    show("minhash-incremental-verify")(
      graft.pipeline.Dedup.minhashIncrPlan(shCat, "minhash_index", mhDs, mhBk,
        mhSnap.properties("k").toInt, mhSnap.properties("bands").toInt,
        verifyThreshold = 0.5))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)

    // deterministic sampling / mixing (round 6): scalar md5-bucket filters
    // over the scan — expect ZERO exchanges in both plans (the mix's CASE
    // folds into the same codegen'd filter no matter how many groups)
    show("sample-hash-filter")(
      graft.pipeline.Sampling.sample(docsDf, "doc_id", keep = 16384))
    show("mix-by-group-filter")(
      graft.pipeline.Sampling.sampleByGroup(docsDf, "doc_id", "lang",
        Map("en" -> 65536, "de" -> 32768, "fr" -> 16384), salt = "mix1:"))

    // sequence packing (round 6): the two-phase distributed prefix sum —
    // expect a RangePartitioning exchange and a Window KEYED by the range
    // partition id; never a global (empty partitionSpec) window
    show("pack-cumsum-two-phase")(
      graft.pipeline.Packing.localCumsumPlan(
        docsDf.select(col("doc_id"), col("n_chars")), "doc_id", "n_chars", 0))

    // dedup end-cap (round 6): keep-canonical is a LEFT-SEMI equi-join on
    // the id key — ids only on the keep side, dropped rows ship nothing
    val capLabels = graft.pipeline.Dedup.canonicalize(docsDf, "doc_id",
      graft.pipeline.Dedup.jaccardPairs(docsDf, "doc_id", "text",
        n = 3, threshold = 0.5))
    show("keep-canonical-semi")(
      graft.pipeline.Dedup.keepCanonical(docsDf, "doc_id", capLabels))

    // decontamination (round 6): eval shingles broadcast — the corpus side
    // streams into a BroadcastHashJoin with NO exchange beneath it; only
    // the matched sliver reaches the counting aggregate
    show("decontam-broadcast-eval")(
      graft.pipeline.Decontaminate.contaminationPairs(
        docsDf.filter(col("doc_id") % 17 =!= 0), "doc_id", "text",
        docsDf.filter(col("doc_id") % 17 === 0), "doc_id", "text",
        n = 3, minShared = 2L))

    // HITS gather phase (round 6): the superstep's join+agg seam — expect
    // the edge side read from its cached src layout (no Exchange under it;
    // only the n-row score side shuffles) and a partial_sum before the
    // final dst aggregate (hub fan-in combines map-side). Broadcast is
    // disabled so the audit shows the big-graph shape, not the fixture's.
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val hitsEdges = SparkEntry.derivedEdges(spark, dir).toDF()
      .repartition(col("src")).persist()
    hitsEdges.count()
    val hubs0 = SparkEntry.derivedVerts(spark, dir).withColumn("hub", lit(1.0))
    show("hits-gather-auth")(
      graft.algo.Hits.gatherStep(hitsEdges, hubs0, "hub", "src", "dst"))

    // deterministic-walk step (late round 6): frontier ⋈ cached src edge
    // layout + partial/final min_by over the md5 ordering key — expect no
    // Exchange under the edge side, partial_min_by before the start shuffle
    val frontier0 = SparkEntry.derivedVerts(spark, dir)
      .select(col("id").as("start"), col("id").as("cur"))
    val walkKey = concat(
      md5(concat_ws(":", lit("walk"), lit(1), col("cur"), col("dst"))),
      lpad(col("dst").cast("string"), 20, "0"))
    show("walk-step-argmin")(
      frontier0.join(hitsEdges, frontier0("cur") === hitsEdges("src"))
        .groupBy(col("start"))
        .agg(min_by(col("dst"), walkKey).as("cur")))
    hitsEdges.unpersist()

    // k-core peel round (late round 6): expect the shrinking vertex set as
    // two LEFT-SEMI joins against the cached pair table + a partial/final
    // count by endpoint (hub degree combines map-side), no cartesian
    val kcUnd = SparkEntry.derivedEdges(spark, dir).toDF()
      .select(col("src").as("u"), col("dst").as("v"))
      .union(SparkEntry.derivedEdges(spark, dir).toDF()
        .select(col("dst").as("u"), col("src").as("v")))
      .distinct().repartition(col("u")).persist()
    kcUnd.count()
    val alive0 = SparkEntry.derivedVerts(spark, dir)
    show("kcore-peel-round")(
      kcUnd.join(alive0.withColumnRenamed("id", "u"), Seq("u"), "left_semi")
        .join(alive0.withColumnRenamed("id", "v"), Seq("v"), "left_semi")
        .groupBy(col("u").as("id"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 5))
    kcUnd.unpersist()

    // HyperBall superstep (round 6): expect ObjectHashAggregate with
    // partial_register_max (sketch union combines map-side) and the edge
    // side read from its cached dst layout — state O(n·m) flat in t
    val nbEdges = SparkEntry.derivedEdges(spark, dir).toDF()
      .repartition(col("dst")).persist()
    nbEdges.count()
    val m0 = 64
    val h0 = xxhash64(lit(42L), col("id"))
    val counters0 = SparkEntry.derivedVerts(spark, dir).select(col("id"),
      transform(sequence(lit(0), lit(m0 - 1)),
        i => when(i === pmod(h0, lit(m0.toLong)).cast("int"),
          lit(1).cast("byte")).otherwise(lit(0).cast("byte"))).as("regs"))
    show("hyperball-union-step")(
      graft.algo.Neighborhood.unionStep(nbEdges, counters0))
    nbEdges.unpersist()

    // graph contraction (round 6): two id-keyed equi-joins against the
    // label map + one hash aggregate with a partial phase — the super-edge
    // rollup combines map-side, so a giant community arrives at the
    // shuffle as one row per task
    val condLabels = SparkEntry.derivedVerts(spark, dir)
      .select(col("id"), pmod(col("id"), lit(53L)).as("label"))
    show("condense-rollup")(
      graft.algo.Condense.contract(
        SparkEntry.derivedEdges(spark, dir), condLabels))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)

    // quality gate (round 6): the scalar-only filter must be ZERO-exchange
    // (predicates fold into the scan); the lang-gated variant rejoins as a
    // LEFT-SEMI on ids — document bytes never enter the langid shuffles
    show("quality-filter-scalar")(
      graft.pipeline.Filtering.qualityFilter(docsDf, "doc_id", "text",
        minQuality = 0.8, maxRepetition = 0.05, repN = 2))
    show("quality-filter-lang-semi")(
      graft.pipeline.Filtering.qualityFilter(docsDf, "doc_id", "text",
        minQuality = 0.8, maxRepetition = 0.05, repN = 2, langs = Seq("en")))

    // ----- round 7 (optimization round) seams -----

    // PageRank superstep: ONE action per superstep — the previous
    // superstep's dangling mass arrives as a driver literal inside the
    // teleport term (observed on that superstep's own checkpoint), so expect
    // NO BroadcastNestedLoopJoin and NO SinglePartition exchange; the fixed
    // no-in-edge rows arrive by UNION, so NO verts⋈contribs join/Exchange
    // either: one rank-side shuffle into the cached src edge layout, one
    // partial/final (dst, dangling) aggregate, one union. Broadcast disabled
    // so the big-graph join shape is shown.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val prEdges = SparkEntry.derivedEdges(spark, dir).toDF().persist()
    val prVerts = SparkEntry.derivedVerts(spark, dir)
    val prFlags = graft.algo.PageRank.vertexFlags(prEdges, prVerts)
      .localCheckpoint(true)
    val prW = graft.algo.PageRank.weightedEdges(prEdges, prFlags, prEdges.count())
    val prDangling = prFlags.select(col("id"), col("deg").isNull.as("dangling"))
    val prStep = graft.algo.PageRank.superstepPlan(
      prDangling.withColumn("rank", lit(0.001)), prW,
      prFlags.filter(!col("hasIn")).select(col("id"), col("deg").isNull.as("dangling")),
      teleport = lit(0.00015), damping = 0.85)
    show("pagerank-superstep-one-action")(prStep)
    // the superstep's own operators, without the cached layout's one-time
    // plan (at a fixture-sized edge count that layout is one partition, so
    // its REPARTITION_BY_NUM prints as a SinglePartition exchange above)
    val prOps = new AdaptiveSparkPlanHelper {}
      .collect(prStep.queryExecution.executedPlan) { case p => p }
    println(s"superstep operators: ${prOps.count(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec])} " +
      s"BroadcastNestedLoopJoin, ${prOps.count {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
          e.outputPartitioning == org.apache.spark.sql.catalyst.plans.physical.SinglePartition
        case _ => false }} SinglePartition exchange")

    // HITS raw-chain superstep (round 7): both gathers of a superstep as
    // ONE lazy plan (no per-phase checkpoint, no per-phase L1 totals — the
    // scalars cancel in the final normalization); expect both cached edge
    // layouts Exchange-free with partial_sum before each gather's shuffle
    val hSrc = prEdges.repartition(col("src")).persist(); hSrc.count()
    val hDst = prEdges.repartition(col("dst")).persist(); hDst.count()
    show("hits-chained-superstep")(
      graft.algo.Hits.gatherStep(hDst,
        graft.algo.Hits.gatherStep(hSrc,
            prVerts.withColumn("hub", lit(1.0)), "hub", "src", "dst")
          .withColumnRenamed("raw", "auth"),
        "auth", "dst", "src"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)

    // exact-ANF ball superstep (round 7): per-vertex exact ball arrays
    // folded by the set_union ObjectHashAggregate (map-side partials — the
    // register_max argument with exact sets); with the state broadcast the
    // cached src edge layout streams with NO Exchange, so the only shuffle
    // carries one partially-deduped set per (task, src) — the round-6 pair
    // formulation shuffled O(expanded pairs) rows three times per superstep
    val anfState = prVerts.select(col("id"),
      array(col("id").cast("long")).as("ball"))
    show("anf-exact-ball-step-broadcast")(
      graft.algo.Neighborhood.ballStep(hSrc, anfState, broadcastState = true))
    hSrc.unpersist(); hDst.unpersist(); prW.unpersist(); prEdges.unpersist()

    // Jaccard candidates (round 7): the postings self-join now carries a
    // SHUFFLE_HASH hint — expect ShuffledHashJoin (no per-side sort) under
    // the pair-count aggregate, partial_count before the (a,b) shuffle
    val candPost = graft.pipeline.Dedup.docShingles(docsDf, "doc_id", "text", 3)
    show("jaccard-candidates-shj")(
      graft.pipeline.Dedup.jaccardCandidates(candPost))

    spark.stop()
  }
}
