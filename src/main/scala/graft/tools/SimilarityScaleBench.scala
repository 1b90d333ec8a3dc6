package graft.tools

import graft.{Sessions, Tables}
import graft.operators.{EventOps, Similarity}
import org.apache.spark.sql.functions._

/** Empirical evidence for the similarity family's two scale claims
  * (BASELINE.md "similarity scaling" section):
  *
  *  1. RECALL AT THE BENCH SF — `ev_ts_similarity` (E2LSH) and
  *     `sim_ann_lsh` are approximate by contract; their oracles verify
  *     engine agreement on the LSH pipeline, not nearest-neighbor
  *     exactness. This tool measures recall against the exact
  *     brute-force twins at sf0.1 (the driver's bench SF), not just the
  *     sf0.01 spec floor.
  *
  *  2. CANDIDATE SELECTIVITY UNDER GROWTH — the argument for the
  *     bucket-join shape at 100 TB is that candidate volume grows far
  *     slower than the n²/2 all-pairs term. Corpus construction mirrors
  *     the isomorphic-replica trick of the dedup scaling run (BASELINE.md
  *     "Dedup scaling, one scale up"): replica k of `events`
  *     shifts every timestamp by k hours (a coordinate ROTATION of the
  *     24-dim hourly profile — Euclidean distances within a replica are
  *     preserved, bucket hashes are not), and replica k of `embeddings`
  *     rotates the 64-dim vector by k positions (same property for
  *     cosine). Replicas therefore pose the same similarity problem but
  *     hash into fresh buckets, growing the corpus realistically rather
  *     than piling identical vectors into the same buckets.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain
  * graft.tools.SimilarityScaleBench". Prints one JSON line per
  * measurement.
  */
object SimilarityScaleBench {
  def main(args: Array[String]): Unit = {
    val sfDir = Sessions.sfDir
    val spark = Sessions.batch(Sessions.cpus)
      // r19 (4M-rung post-mortem): shuffle files of FINISHED jobs
      // persist until their ShuffleDependency objects are GC'd — on a
      // 64 GB driver heap no GC ever ran, so successive probe waves
      // stacked ~50 GB each on disk. Aggressive periodic GC lets the
      // ContextCleaner release finished waves between blocks.
      .config("spark.cleaner.periodicGC.interval", "1min")
      // r20: the sampled-truth computation aggregates ~1,600 query
      // groups per task through the bounded TopKByScore heap; the
      // default 128-group ObjectHashAggregate fallback would re-sort
      // the unaggregated 6.4e9-row scored stream per partition —
      // exactly the cost the heap form removes.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1000000")
      // r20 (4M rung): a full-heap GC pause at the 64g driver tripped
      // the 10s executor heartbeat; in local mode the uncaught
      // RpcTimeout takes down the whole JVM (SparkUncaughtExceptionHandler
      // exits). Probe-scale sessions tolerate slow heartbeats.
      .config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "800s")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)

    // Block filter (r18): SPARK_GRAFT_SIM_BLOCKS="lsh,serve" runs only
    // the named blocks — the 1M ranked block alone is ~30 min of
    // interleaved min-of-3 timing, and a targeted re-measure of one block
    // must not re-pay every sibling. "fixed" names the bench-SF header
    // sections 1a-1c; per-k block names: lsh, ranked, ivfpq, ivf, serve
    // (the ev section keeps its own SPARK_GRAFT_SIM_EV_K gate). Unset =
    // all blocks (the artifact-producing default). Skips are LOGGED so a
    // filtered artifact can't be misread as a full run.
    val simBlocks = sys.env.get("SPARK_GRAFT_SIM_BLOCKS")
      .map(_.split(",").filter(_.nonEmpty).map(_.trim).toSet)
    def blockOn(name: String): Boolean = simBlocks.forall(_.contains(name))
    simBlocks.foreach { b =>
      System.err.println(s"[sim-scale] WARNING: SPARK_GRAFT_SIM_BLOCKS=" +
        s"${b.mkString(",")} — all other blocks SKIPPED (dev filter)")
    }

    // ---- 1a. ts_similarity recall vs exact brute force at the bench SF
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("user_a", "user_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def nbrSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    if (blockOn("fixed")) {
    val lshPairs = pairSet(EventOps.tsSimilarity(spark, sfDir))
    val brutePairs = pairSet(EventOps.tsSimilarityBrute(spark, sfDir))
    spark.catalog.clearCache()
    val tsRecall = lshPairs.intersect(brutePairs).size.toDouble / brutePairs.size
    println(s"""{"check":"ts_similarity_recall","sf":"$sfDir","top_k":${brutePairs.size},"recall":${r3(tsRecall)}}""")

    // ---- 1b. ANN LSH recall@5 vs exact brute force at the bench SF
    val lshNbrs = nbrSet(Similarity.topkLsh(spark, sfDir))
    val mpNbrs = nbrSet(Similarity.topkLshMultiprobe(spark, sfDir))
    val ivfNbrs = nbrSet(Similarity.topkIvf(spark, sfDir))
    val pqNbrs = nbrSet(Similarity.topkPqAdc(spark, sfDir))
    val ivfpqNbrs = nbrSet(Similarity.topkIvfPq(spark, sfDir))
    val bruteNbrs = nbrSet(Similarity.topkBruteForce(spark, sfDir))
    spark.catalog.clearCache()
    def recallOf(got: Set[(Long, Long)]) = got.intersect(bruteNbrs).size.toDouble / bruteNbrs.size
    println(s"""{"check":"ann_lsh_recall_at_5","sf":"$sfDir","pairs":${bruteNbrs.size},"recall":${r3(recallOf(lshNbrs))}}""")
    println(s"""{"check":"ann_multiprobe_recall_at_5","sf":"$sfDir","pairs":${bruteNbrs.size},"recall":${r3(recallOf(mpNbrs))}}""")
    println(s"""{"check":"ann_ivf_recall_at_5","sf":"$sfDir","pairs":${bruteNbrs.size},"recall":${r3(recallOf(ivfNbrs))}}""")
    println(s"""{"check":"ann_pqadc_recall_at_5","sf":"$sfDir","pairs":${bruteNbrs.size},"recall":${r3(recallOf(pqNbrs))}}""")
    println(s"""{"check":"ann_ivfpq_recall_at_5","sf":"$sfDir","pairs":${bruteNbrs.size},"recall":${r3(recallOf(ivfpqNbrs))}}""")
    } // blockOn("fixed") — 1a/1b

    // ---- 1b'. IVF-PQ pruning: the fraction of corpus CODES each query
    // ADC-scores (probed-cell membership) vs the flat scan's 1.0 — the
    // candidate-volume claim behind composing IVF with PQ (VERDICT r9).
    // Ladder-aware (r14): measures the rung [[Similarity.ivfPqParams]]
    // picks for THIS corpus size; reused below per replica size so the
    // falling-fraction claim is a measured row, not an arithmetic one.
    def ivfPqScanFraction(dir: String): (Long, Int, Int, Double) = {
      // the SAME vector prep the shipped serve path runs — if prep ever
      // changes in the library, this bench follows instead of silently
      // measuring a different pipeline
      val emb = graft.streaming.SemDedupStream.prepVecs(
        Tables.embeddings(spark, dir)).persist()
      val n = emb.count()
      val (cells, nprobe) = Similarity.ivfPqParams(n)
      val cent = Similarity.ivfPqCentroids(emb, cells)
      val assign = Similarity.cellAssignment(emb, cent).select($"vec_id", $"cid")
      val cellSizes = assign.groupBy($"cid").agg(count(lit(1)).as("csz"))
      val probeW = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"qcos".desc, $"cid".asc)
      val probes = emb.where($"vec_id" % 50 === 0)
        .select($"vec_id".as("query_id"), $"v".as("qv"), $"norm".as("qnorm"))
        .join(cent)
        .withColumn("qcos", round(graft.functions.VectorDot.vectorDot($"qv", $"cv")
          / ($"qnorm" * $"cnorm"), 6))
        .withColumn("prn", org.apache.spark.sql.functions.row_number().over(probeW))
        .where($"prn" <= nprobe)
        .select($"query_id", $"cid")
      val scanned = probes.join(cellSizes, "cid")
        .groupBy($"query_id").agg(sum($"csz").as("scanned"))
        .agg(avg($"scanned")).head().getDouble(0)
      spark.catalog.clearCache()
      (n, cells, nprobe, scanned / n)
    }
    if (blockOn("fixed")) {
      val (_, cells, nprobe, frac) = ivfPqScanFraction(sfDir)
      println(s"""{"check":"ivfpq_code_scan_fraction","sf":"$sfDir","cells":$cells,"nprobe":$nprobe,"fraction":${r3(frac)}}""")
    }

    // ---- 1c. ANN serving-kernel throughput at the bench SF: one-shot
    // serveBatch over the standard query set (the per-trigger work of
    // AnnServeJob), timed warm through the full-plan noop sink.
    if (blockOn("fixed")) {
      val embAll = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
      val idx = graft.streaming.AnnServeStream.corpusIndex(embAll)
      val queries = embAll.where($"vec_id" % 50 === 0)
      def serveOnce(): Double = {
        val t0 = System.nanoTime()
        graft.streaming.AnnServeStream.serveBatch(queries, idx)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      }
      serveOnce() // warm the serve-path codegen
      val sec = Seq(serveOnce(), serveOnce(), serveOnce()).min
      val nq = queries.count()
      idx.vecs.unpersist(); idx.buckets.unpersist()
      println(s"""{"bench":"ann_serve_batch","sf":"$sfDir","queries":$nq,"sec":${r3(sec)},"qps":${r3(nq / sec)}}""")
    }

    // ---- 2a. E2LSH profile-candidate selectivity as users grow K×
    // (SPARK_GRAFT_SIM_EV_K narrows it, same contract as SPARK_GRAFT_SIM_K;
    // "" skips the section)
    val ev = Tables.events(spark, sfDir)
    sys.env.get("SPARK_GRAFT_SIM_EV_K")
      .map(_.split(",").filter(_.nonEmpty).map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 2, 5, 10)).foreach { k =>
      val dir = s"/tmp/sim_scale/ev_x$k"
      (0 until k).map { r =>
        ev.select(
          $"event_id",
          ($"ts" + expr(s"INTERVAL $r HOURS")).as("ts"),
          ($"user_id" + lit(r.toLong * 10000000L)).as("user_id"),
          $"event_type", $"value")
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")

      val vecs = EventOps.profileVecs(spark, dir).persist()
      val users = vecs.count()
      // the ladder rung the registered query picks for this corpus size
      // (VERDICT r10: at fixed k selectivity sat flat at 0.196 = Θ(n²);
      // the rung must drive it DOWN as users grow)
      val (pt, pk) = EventOps.profParams(users)
      val candidates = EventOps.tsCandidates(vecs, pt, pk,
        cap = EventOps.profCap(users)).count()
      val allPairs = users * (users - 1) / 2
      val t0 = System.nanoTime()
      EventOps.tsSimilarity(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      // recall under growth: the top-20 contract vs the exact brute twin
      // at THIS corpus size (not only at the bench SF)
      val lsh = pairSet(EventOps.tsSimilarity(spark, dir))
      val brute = pairSet(EventOps.tsSimilarityBrute(spark, dir))
      val rec = lsh.intersect(brute).size.toDouble / brute.size
      spark.catalog.clearCache()
      println(s"""{"bench":"ts_similarity","k":$k,"users":$users,"pk":$pk,"pt":$pt,"candidates":$candidates,"all_pairs":$allPairs,"selectivity":${r3(candidates.toDouble / allPairs)},"recall":${r3(rec)},"sec":${r3(sec)}}""")
    }

    // ---- 2b. sign-LSH ANN candidate selectivity as the corpus grows K×
    // (K=20 reaches the ladder's (9,10) rung — r13: every shipped rung
    // threshold below 131,072 vectors is now exercised by measurement,
    // not only the first step)
    val emb = Tables.embeddings(spark, sfDir)
    // K=66 (r14) reaches the former top of the sign-LSH ladder (14×12 at
    // ≥131,072 vectors); K=500 (r17, 1M vectors) reaches the (20,14)
    // rung the closed-form ladder extension added — one decade above the
    // largest previously measured corpus, the VERDICT r16 #1 probe.
    // Replica transforms come from [[ScaleVecs]] (rotation ∘ sign
    // diagonal — orthogonal, distinct at any K).
    // SPARK_GRAFT_SIM_K narrows the replica ladder for iteration on one
    // rung (e.g. "66" re-measures only that rung after a fix without
    // re-paying the lower corpora).
    val kList = sys.env.get("SPARK_GRAFT_SIM_K")
      .map(_.split(",").filter(_.nonEmpty).map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 2, 5, 10, 20, 66))

    def buildEmbCorpus(k: Int): String = {
      val dir = s"/tmp/sim_scale/emb_x$k"
      val manifestPath = java.nio.file.Paths.get(s"$dir/manifest.json")
      def manifestJson(rows: Long): String =
        s"""{"k":$k,"transform":"${ScaleVecs.TransformVersion}","rows":$rows}"""
      // SPARK_GRAFT_SIM_REUSE: skip the rebuild when a completed corpus
      // already sits at $dir. The 2000-replica build alone is ~35 min of
      // 2000-branch union; a probe retry must not re-pay it. Default
      // remains rebuild-always (artifact runs). Reuse requires the
      // manifest written at build time to match (k, transform version,
      // row count) — a bare `_SUCCESS` cannot detect a stale corpus
      // built by an older replicaTransform, which would silently change
      // what a "reused-corpus" row measured (ADVICE r19). assertDistinct
      // stays on the reuse path too: it guards the CURRENT k, not the
      // build.
      if (sys.env.contains("SPARK_GRAFT_SIM_REUSE") &&
          new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists()) {
        ScaleVecs.assertDistinct(k)
        val found =
          if (java.nio.file.Files.exists(manifestPath))
            new String(java.nio.file.Files.readAllBytes(manifestPath),
              java.nio.charset.StandardCharsets.UTF_8).trim
          else "<missing>"
        val rows = spark.read.parquet(s"$dir/embeddings.parquet").count()
        if (found == manifestJson(rows)) {
          System.err.println(s"[sim-scale] reusing corpus at $dir (manifest verified: $found)")
          return dir
        }
        System.err.println(s"[sim-scale] manifest mismatch at $dir — " +
          s"found $found, want ${manifestJson(rows)}; REBUILDING")
      }
      // rotation ∘ per-replica sign diagonal ([[ScaleVecs]]) — same
      // construction as MakeScale: orthogonal, distinct for ANY k (the
      // old rotation/negation form exhausted at k = 128 and would have
      // planted exact twins at the ≥500-replica rungs)
      ScaleVecs.assertDistinct(k)
      (0 until k).map { r =>
        emb.select(
          ($"vec_id" + lit(r.toLong * 10000000L)).as("vec_id"),
          ScaleVecs.replicaTransform($"embedding", size($"embedding"), r).as("embedding"),
          $"label")
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      val rows = spark.read.parquet(s"$dir/embeddings.parquet").count()
      java.nio.file.Files.write(manifestPath,
        manifestJson(rows).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      dir
    }

    // Ground truth for per-rung recalls. Full brute force scores
    // queries × corpus ≈ n²/50 rows — fine to ~300k vectors, 2×10¹⁰
    // rows at the 1M rung. Above the bound the truth set comes from a
    // DETERMINISTIC 1-in-50 knuth-hash subsample of the standard query
    // set scored against the FULL corpus (the corpus side is never
    // sampled, so each sampled query's truth is exact): recall over a
    // uniform query subsample is an unbiased estimate, at the same
    // ~4×10⁸-row cost as the previous top rung's full truth. The hash
    // sampler — the [[Similarity.capPostings]] knuth chain — spreads the
    // sample across base ids AND replicas, where a plain stride on these
    // replica-offset ids would collapse onto base id 0 only.
    val BruteFullMaxVectors = 300000L
    def knuthSampled(id: Long): Boolean =
      (id % 1000003L) * 2654435761L % 1000003L % 50L == 0L
    def bruteTruth(dir: String, nVec: Long)
        : (Set[(Long, Long)], ((Long, Long)) => Boolean) =
      if (nVec <= BruteFullMaxVectors)
        (nbrSet(Similarity.topkBruteForce(spark, dir)), _ => true)
      else {
        val e = Similarity.vecs(spark, dir)
        val q = e.filter($"vec_id" % 50 === 0 &&
            ($"vec_id" % 1000003L) * 2654435761L % 1000003L % 50 === 0)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"norm".as("qnorm"))
        // Bounded-heap top-5 per query (r20, VERDICT r19 #4): the former
        // row_number window EXCHANGED the full scored stream by query —
        // ~6.4e9 slim rows / ~190 GB at the 4M rung, past the probe
        // host's disk, which is why the 4M row shipped recall-null. The
        // TopKByScore aggregate reduces each map task to <=queries x 5
        // entries before the (tiny) shuffle; the scored stream itself is
        // never exchanged. Same (score DESC, neighbor ASC) total order,
        // same set (TopKByScoreSpec pins agg == window).
        val top5 = graft.functions.TopKByScore.topK(5)
        val truth = broadcast(q)
          .join(Similarity.collapseTwins(e)
                  .select($"vec_id".as("neighbor_id"), $"v".as("nv"), $"norm".as("nnorm")),
                $"neighbor_id" =!= $"query_id")
          .withColumn("score",
            round(graft.functions.VectorDot.vectorDot($"qv", $"nv")
              / ($"qnorm" * $"nnorm"), 6))
          .groupBy($"query_id")
          .agg(top5($"score", $"neighbor_id").as("top"))
          .select($"query_id", explode($"top.id").as("neighbor_id"))
        val set = nbrSet(truth)
        spark.catalog.clearCache()
        println(s"""{"check":"brute_truth_sampled","vectors":$nVec,"sampled_queries":${set.map(_._1).size},"truth_pairs":${set.size}}""")
        (set, (p: (Long, Long)) => knuthSampled(p._1))
      }

    kList.foreach { k =>
      val dir = buildEmbCorpus(k)

      val e = Similarity.vecs(spark, dir)
      val nVec = e.count()
      // the ladder rung the registered queries would run at this size
      val (pt, pb) = Similarity.lshParams(nVec)
      val nQueries = e.filter($"vec_id" % 50 === 0).count()
      // recall vs the exact brute twin AT THIS corpus size — the rung
      // must hold the recall floor while selectivity falls (the whole
      // point of the ladder; VERDICT r10 pattern). Past
      // BruteFullMaxVectors the truth is the sampled-query exact set and
      // recalls are computed on the sampled queries only (see bruteTruth).
      // Lazy (r18): computed on first recall consumer, so a
      // timing-only block subset never pays the truth scan.
      lazy val truthPair = bruteTruth(dir, nVec)
      def bf = truthPair._1
      def inTruth = truthPair._2
      def recallVsBf(df: org.apache.spark.sql.DataFrame): Double =
        nbrSet(df).filter(inTruth).intersect(bf).size.toDouble / bf.size
      lazy val mpRec = {
        val r = recallVsBf(Similarity.topkLshMultiprobe(spark, dir))
        spark.catalog.clearCache(); r
      }
      // SPARK_GRAFT_SIM_NO_RECALL: selectivity/wall-only probe. At the
      // 4M rung even the SAMPLED truth set scores ~1,600 queries (80,000
      // standard queries / 50) × 4M corpus ≈ 6.4×10⁹ slim rows through
      // rankTopK's per-query window —
      // a ~190 GB shuffle on its own, past this host's 78 GB free disk
      // (the r19 4M post-mortem's third wave, after the HLL count and
      // periodicGC fixes removed the first two). The rung's VERDICT ask
      // — candidates, selectivity, topkLsh wall — never needs the truth
      // set; recall stays measured at every rung ≤1M. Skips are LOGGED
      // in the JSON row (recall fields null) so a filtered artifact
      // can't be misread as a full run.
      val skipRecall = sys.env.contains("SPARK_GRAFT_SIM_NO_RECALL")
      if (skipRecall)
        System.err.println("[sim-scale] WARNING: SPARK_GRAFT_SIM_NO_RECALL" +
          " — recall-vs-brute skipped; JSON recall fields will be null")
      if (blockOn("lsh")) {
        val buckets = Similarity.lshBuckets(e, tables = pt, bits = pb).persist()
        // the registered query's corpus side: hot-bucket-capped (r14)
        val corpus = Similarity.capPostings(buckets, Similarity.lshPostingsCap(nVec, pb))
        // HLL (rsd 0.5%) over the pre-distinct stream — pipelines out of
        // the bucket join with NO pair-stream shuffle (r19: the exact
        // .distinct() count was half the 4M rung's disk exhaustion)
        val candidates = Similarity.lshCandidates(e, buckets, corpus, dedup = false)
          .agg(approx_count_distinct(struct($"query_id", $"neighbor_id"), 0.005))
          .head().getLong(0)
        val scanned = nQueries * (nVec - 1) // brute force would score this many
        val t0 = System.nanoTime()
        Similarity.topkLsh(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        val lshRecS = if (skipRecall) "null" else r3(recallVsBf(Similarity.topkLsh(spark, dir)))
        // SPARK_GRAFT_SIM_SKIP_MP (r20): at the 4M rung the all-flips
        // multiprobe's pre-distinct pair stream is ~(1+bits)x the lsh
        // stream and its .distinct() alone is an ~80-130 GB shuffle —
        // past this host's disk. The flag nulls ONLY the multiprobe
        // recall so the lsh row can carry a measured recall at 4M.
        val skipMp = sys.env.contains("SPARK_GRAFT_SIM_SKIP_MP")
        val mpRecS = if (skipRecall || skipMp) "null" else r3(mpRec)
        buckets.unpersist()
        spark.catalog.clearCache()
        println(s"""{"bench":"ann_lsh","k":$k,"vectors":$nVec,"tables":$pt,"bits":$pb,"queries":$nQueries,"candidates":$candidates,"brute_scored":$scanned,"selectivity":${r3(candidates.toDouble / scanned)},"recall_lsh":$lshRecS,"recall_multiprobe":$mpRecS,"sec":${r3(sec)}}""")
      }

      // Ranked (query-directed) multi-probe at THIS corpus size (r15):
      // fixed probe budget pt·(1+2) per query vs all-flips pt·(1+bits).
      // Timed head-to-head with the all-flips form — the batch-contract
      // cost the ranked sequence exists to cut — plus recall vs the same
      // brute twin.
      if (blockOn("ranked")) {
        // both arms are timed with the SAME terminal action (count());
        // the recall set is collected OUTSIDE the timed region (ADVICE
        // r15: the old ranked arm paid collect+Set construction while
        // all-flips paid count() only — biased against ranked). Min-of-3
        // INTERLEAVED passes per arm (the ann_ranked_minof3
        // discipline — ADVICE r16 flagged the shipped min-of-2 as unable
        // to reproduce the documented min-of-3 headline): r16 measured
        // single-shot rungs swinging up to 3× with session state (62 s
        // first-shot vs 39 s settled at the 132k rung), so a one-shot
        // A-then-B pair can misread either arm.
        def timed(body: => Unit): Double = {
          val t0 = System.nanoTime()
          body
          val s = (System.nanoTime() - t0) / 1e9
          spark.catalog.clearCache()
          s
        }
        // SPARK_GRAFT_SIM_SKIP_MP gates the ranked block's all-flips
        // consumers too (ADVICE r20, low): recall_allflips forces the
        // lazy mpRec and the sec_allflips arm times the all-flips serve
        // — both pay the pre-distinct multiprobe shuffle the flag was
        // added to avoid at the 4M rung. With the flag set, only the
        // ranked arm runs; the all-flips fields emit null.
        val skipMpRanked = sys.env.contains("SPARK_GRAFT_SIM_SKIP_MP")
        val samples = (1 to 3).map { _ =>
          (timed(Similarity.topkLshMultiprobeRanked(spark, dir).count()),
           if (skipMpRanked) -1.0
           else timed(Similarity.topkLshMultiprobe(spark, dir).count()))
        }
        val rsec = samples.map(_._1).min
        val msecS = if (skipMpRanked) "null" else r3(samples.map(_._2).min)
        // NO_RECALL gates this consumer too (ADVICE r19): the ranked
        // block previously forced the truth set via bf/inTruth even on a
        // wall-only probe.
        val rkRecS = if (skipRecall) "null" else {
          val rkNbrs = nbrSet(Similarity.topkLshMultiprobeRanked(spark, dir))
          spark.catalog.clearCache()
          r3(rkNbrs.filter(inTruth).intersect(bf).size.toDouble / bf.size)
        }
        val mpRecRankedS = if (skipRecall || skipMpRanked) "null" else r3(mpRec)
        println(s"""{"bench":"ann_ranked_scale","k":$k,"vectors":$nVec,"tables":$pt,"bits":$pb,"probes_per_query":${pt * (1 + Similarity.LshRankedProbeMult)},"allflips_probes":${pt * (1 + pb)},"recall":$rkRecS,"recall_allflips":$mpRecRankedS,"sec":${r3(rsec)},"sec_allflips":$msecS}""")
      }

      // IVF×PQ at THIS corpus size (r14): the cell-count rung the ladder
      // picks, the measured per-query code-scan fraction (must FALL
      // across rungs where the fixed grid sat flat at 0.375), and
      // recall@5 vs the same brute twin.
      if (blockOn("ivfpq")) {
        val t1 = System.nanoTime()
        // wall is measured either way; recall only when the truth set is
        // affordable (NO_RECALL gating — ADVICE r19)
        val ivfpqRecS = if (skipRecall) {
          Similarity.topkIvfPq(spark, dir).count(); "null"
        } else r3(nbrSet(Similarity.topkIvfPq(spark, dir))
          .filter(inTruth).intersect(bf).size.toDouble / bf.size)
        val isec = (System.nanoTime() - t1) / 1e9
        spark.catalog.clearCache()
        val (_, cells, nprobe, frac) = ivfPqScanFraction(dir)
        println(s"""{"bench":"ann_ivfpq_scale","k":$k,"vectors":$nVec,"cells":$cells,"nprobe":$nprobe,"scan_fraction":${r3(frac)},"recall":$ivfpqRecS,"sec":${r3(isec)}}""")
      }

      // Plain IVF at THIS corpus size (r14, sf10-probe follow-up): the
      // last fixed-grid family member gained the same cell ladder —
      // scan fraction must fall along the rungs (was flat 25% at
      // (16, 4)) while recall@5 is recorded per rung.
      if (blockOn("ivf")) {
        val t1 = System.nanoTime()
        val ivfRecS = if (skipRecall) {
          Similarity.topkIvf(spark, dir).count(); "null"
        } else r3(nbrSet(Similarity.topkIvf(spark, dir))
          .filter(inTruth).intersect(bf).size.toDouble / bf.size)
        val isec = (System.nanoTime() - t1) / 1e9
        val (icells, inprobe) = Similarity.ivfParams(nVec)
        // MEASURED scanned fraction (cell sizes are uneven with first-n
        // seeds — the nominal nprobe/cells ratio would flatter it), the
        // ivfPqScanFraction method on the plain-centroid assignment
        val icent = Similarity.centroidsOf(e, icells)
        val isizes = Similarity.cellAssignment(e, icent)
          .groupBy($"cid").agg(count(lit(1)).as("csz"))
        val iprobeW = org.apache.spark.sql.expressions.Window
          .partitionBy($"query_id").orderBy($"qcos".desc, $"cid".asc)
        val ifrac = e.where($"vec_id" % 50 === 0)
          .select($"vec_id".as("query_id"), $"v".as("qv"), $"norm".as("qnorm"))
          .join(icent)
          .withColumn("qcos", round(graft.functions.VectorDot.vectorDot($"qv", $"cv")
            / ($"qnorm" * $"cnorm"), 6))
          .withColumn("prn", row_number().over(iprobeW))
          .where($"prn" <= inprobe)
          .select($"query_id", $"cid")
          .join(isizes, "cid")
          .groupBy($"query_id").agg(sum($"csz").as("scanned"))
          .agg(avg($"scanned")).head().getDouble(0) / nVec
        spark.catalog.clearCache()
        println(s"""{"bench":"ann_ivf_scale","k":$k,"vectors":$nVec,"cells":$icells,"nprobe":$inprobe,"scan_fraction":${r3(ifrac)},"recall":$ivfRecS,"sec":${r3(isec)}}""")
      }

      // per-trigger serving cost at THIS corpus size (r13): the serve
      // kernel's wall-clock must grow with the BATCH, not the corpus —
      // the claim behind AnnServeStream's scale story, previously only
      // measured at the bench SF. Same standard query set construction
      // as 1c (every 50th vector), which itself grows with the corpus,
      // so qps holding ~flat means per-query cost is corpus-insensitive.
      if (blockOn("serve")) {
        val embAll = spark.read.parquet(s"$dir/embeddings.parquet")
          .select("vec_id", "embedding")
        val idx = graft.streaming.AnnServeStream.corpusIndex(embAll)
        val queries = embAll.where($"vec_id" % 50 === 0)
        def serveOnce(): Double = {
          val t0 = System.nanoTime()
          graft.streaming.AnnServeStream.serveBatch(queries, idx)
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        serveOnce() // warm this rung's serve-path codegen
        val ssec = Seq(serveOnce(), serveOnce(), serveOnce()).min
        val nq = queries.count()
        println(s"""{"bench":"ann_serve_batch_scale","k":$k,"vectors":$nVec,"tables":$pt,"bits":$pb,"queries":$nq,"sec":${r3(ssec)},"qps":${r3(nq / ssec)}}""")
        // r15 ranked serving kernel on the SAME index: fixed probe
        // budget — per-query serve cost must stop riding the rung's bits
        def serveRankedOnce(): Double = {
          val t0 = System.nanoTime()
          graft.streaming.AnnServeStream.serveBatchRanked(queries, idx)
            .write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        serveRankedOnce()
        val rsec = Seq(serveRankedOnce(), serveRankedOnce(), serveRankedOnce()).min
        idx.vecs.unpersist(); idx.buckets.unpersist()
        spark.catalog.clearCache()
        println(s"""{"bench":"ann_serve_ranked_scale","k":$k,"vectors":$nVec,"tables":$pt,"bits":$pb,"queries":$nq,"sec":${r3(rsec)},"qps":${r3(nq / rsec)}}""")
      }
    }

    spark.stop()
  }
}
