package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Dedup-family scale probe: synthesizes an sf1-equivalent documents table
 * (10× the sf0.1 slice — each document plus 9 near-duplicate replicas with
 * a distinct trailing marker, preserving realistic heavy-duplication
 * structure: replica clusters merge with the original near-dup groups) and
 * times the heavy dedup queries against it. Validates that the banded
 * sweep / LSH verification / connected-components designs hold at 10× the
 * bench data, where quadratic or skew-fragile stages would blow up
 * super-linearly. Usage:
 *   runMain graft.StressBench [srcDir] [outDir] [factor] [queries...]
 */
object StressBench {

  /** Snapshot the listed conf keys (value or absent), run `body` (which
    * may set/unset them freely), and restore the snapshot even when a
    * mid-probe require() trips — a failed probe must not leave broadcast
    * joins disabled or a cap set for the probes listed after it. */
  private def withConfSnapshot(spark: SparkSession, keys: String*)(body: => Unit): Unit = {
    val saved = keys.map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** The boilerplate-hot corpus every band-skew probe shares: 40% of the
    * sf0.1 documents replaced by ONE literal string (the crawled-corpus
    * header/footer regime), so every MinHash band of the boilerplate is
    * shared by all of them. Persisted; caller unpersists. */
  private def boilerplateDocs(spark: SparkSession, src: String): org.apache.spark.sql.DataFrame =
    boilerplateDocsAt(spark, s"$src/documents.parquet")

  /** Same construction over an explicit parquet path — the 10x corpus
    * variant used by spanskew (the hot-GRAM probe wants the full
    * replicated corpus, not the sf0.1 slice). */
  private def boilerplateDocsAt(spark: SparkSession, path: String): org.apache.spark.sql.DataFrame = {
    val boiler = "terms of service privacy policy all rights reserved " +
      "contact us about careers copyright two thousand twenty four"
    spark.read.parquet(path)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5L)) < 2L, lit(boiler))
          .otherwise(col("text")).as("text"))
      .repartition(32).persist()
  }

  /** The 80%-hot-cone embeddings + the 4-cell hand-built codebook that
    * pins the cone to ONE cell — shared by the cell-skew probes
    * (semskew, idxskew). 80% of vectors become jittered copies of one
    * direction; the codebook's first centroid owns that cone. Returns
    * (persisted skewed corpus — caller unpersists, codebook). */
  private def skewedEmbeddings(spark: SparkSession, embPath: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val emb0 = spark.read.parquet(embPath)
    val dim = emb0.select(size(col("embedding"))).head().getInt(0)
    val hotVec = transform(col("embedding"), (_, i) =>
      when(i === 0, lit(1.0)).otherwise(
        pmod(col("vec_id") * (i.cast("long") + 1L), lit(9973L))
          .cast("double") / lit(99800.0)).cast("float"))
    val skewed = emb0.select(col("vec_id"),
        when(pmod(col("vec_id"), lit(10L)) < 8L, hotVec)
          .otherwise(col("embedding")).as("embedding"))
      .repartition(32).persist()
    val cents = Seq(
      (0, Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)),
      (1, Seq.tabulate(dim)(i => if (i == 0) -1.0 else 0.0)),
      (2, Seq.tabulate(dim)(i => if (i == 1) 1.0 else 0.0)),
      (3, Seq.tabulate(dim)(i => if (i == 1) -1.0 else 0.0)))
      .toDF("cid", "cv")
    (skewed, cents)
  }

  def main(args: Array[String]): Unit = {
    // `runMain graft.StressBench all` = the GATED sweep: every probe runs
    // with its drift assertion evaluated at the end, non-zero exit on any
    // violation (the round-close protocol's one-command form); remaining
    // args after `all` parse as usual
    val gate = args.headOption.contains("all")
    val a = if (gate) args.drop(1) else args
    val src = if (a.length > 0) a(0) else "/root/testdata/sf0.1"
    val out = if (a.length > 1) a(1) else "/tmp/graft_sf1"
    val factor = if (a.length > 2) a(2).toInt else 10
    val queries =
      if (a.length > 3) a.drop(3).toSeq
      else Seq("q_minhash_dedup", "q_banded_dedup", "q_dedup_clusters", "q_dedup_corpus",
        // one representative per round-9 family: fingerprint pairs, BPE
        // training, NB classification, compressed ANN, plus the
        // large-codebook assignment probe (loop lowering past LiteralCells)
        "q_winnow_pairs", "q_bpe_merges", "q_nb_langid", "q_pq_topk", "ivf4096",
        "pqlut512", "semdedup1024",
        // round-10 representatives: the SQ8 train+encode pass and the
        // captured curation document (normalize/quality/langid gates +
        // chunking through the artifact flow)
        "q_sq8", "q_curate_program",
        // round-11: the hot-cell skew probe (80% of vectors in one cell)
        "semskew",
        // round-12: the hot-BAND skew probe (boilerplate docs sharing one
        // LSH band) — the generalized saltedSelfJoin cover, the
        // real-tokenizer-sized BPE training run (4096 merges, possible
        // since the vocabulary re-materialization lifted the 256 cap),
        // and the auto-sized SemDeDup codebook (cell population ~constant
        // across a 10x corpus scale-up)
        "bandskew", "bpe4k", "semauto",
        // round-12: the two joins newly routed through the triangle cover
        // run whole at 10x (banded ingest batch face, hyperplane-LSH),
        // and the BIPARTITE cover probe (boilerplate hot on both corpora
        // of a cross-corpus dedup)
        "q_banded_dedup", "q_hyperplane", "crossskew",
        // round-12: the ASYMMETRIC SaltedIndex probe (big static corpus
        // with one dominant-direction cell vs a bounded query batch —
        // the regime where the triangle cover would over-replicate the
        // corpus and the salted index salts it once)
        "idxskew",
        // round-13: the hot-GRAM probe (one boilerplate passage in 40% of
        // the corpus, 1x then 10x) — repeatedSpans' per-gram distinct-doc
        // counts as a partial-aggregated groupBy + shuffle-hash join back,
        // and a hot-KEY probe of the enrichment/as-of join family (one
        // key holding ~40% of a 10x events table), plus the CCNet
        // bucketing at 10x (the distributed per-language exact rank —
        // the synthetic corpus's dominant language is the hot-language
        // regime the range+offset rewrite bounds) and the batched BM25
        // retrieval (stopword-heavy queries over the replicated corpus —
        // the partial-aggregated (query, doc) sum is the stage under test)
        "spanskew", "joinskew", "q_ppl_buckets", "q_bm25_batch",
        // round-13: the hot-LANGUAGE probe (60% of the corpus forced into
        // one language, 1x then 10x) — both RangedPrefix operators (CCNet
        // tiles, per-stratum token budget) must stay bounded where the
        // old per-group windows serialized the dominant group, and the
        // 10x trigram-LM run (three count tables on the replica corpus)
        "langskew", "q_lm3_score",
        // round-14: the 5-gram JM run (five count tables) and the
        // Kneser-Ney trigram (raw + continuation tables) at 10x — the
        // order-n LM family's count-build scaling evidence
        "q_lm5_score", "q_kn3_score",
        // round-14: the hot-SHARD packing probe (one shard key holding
        // ~60% of the corpus, 1x then 10x) — packChunks' per-key running
        // sum was the last avoidable unbounded-per-key window; it now
        // rides RangedPrefix like capTokensPerKey, and a coarse shard key
        // (the single-source packing run) must pack at near-parity with
        // a natural key distribution
        "packskew",
        // round-14: bm25Retrieve's beyond-broadcast face under a hot
        // term (a stopword present in 40% of the corpus appears in EVERY
        // query) — the shuffled postings join streams the hot term's
        // probe rows; near-parity vs rare-term queries at 1x and 10x is
        // the no-single-task-blowup evidence
        "bm25skew",
        // round-15: the VIRAL-PASSAGE probe for maximal exact-substring
        // mining — one literal passage fills 40% of the corpus, so every
        // anchor gram's neighbor-LCP group holds that whole population;
        // the global range sort bounds every task where a per-gram
        // window would serialize it. Timed at 1x and 10x
        "substrskew",
        // round-15: the per-language-model probe — one language holding
        // 60% of corpus AND reference (the English-dominates-the-crawl
        // regime): its model is the dominant SLICE of every count table,
        // and the scoring joins stream by (lang, grams) keys exactly like
        // the shared face. Near-parity hot vs natural at 1x and 10x
        "bylangskew",
        // round-16: the unigram-LM tokenizer trainer at 1x then 10x —
        // the E-step segments the DISTINCT-WORD table (near-constant
        // across replication; only the corpus-wide word count and the
        // piece-count aggregation scale), so training must grow far
        // sublinearly in corpus size
        "unigram",
        // round-17: the WordPiece trainer at 1x then 10x — same
        // distinct-word-bounded regime as the unigram probe (the merge
        // rounds scan the pinned word table; only the corpus word count
        // scales), with the extra per-round symbol-count aggregation
        "wordpiece",
        // round-17: the hybrid-fusion beyond-brute probe — 512 queries
        // against the 1x and 10x corpora, dense leg brute vs IVF-routed:
        // routing must beat (or match) the brute scan once the query
        // batch is real, and the 10x routed run must stay ~linear
        "hybridskew",
        // round-18: the identity-at-scale branch of spreadForCompute,
        // probe-pinned — tokenizer apply faces over a >=cores-partition
        // corpus must plan WITHOUT the round-robin exchange the
        // single-row-group sf0.1 shape needs
        "spreadscale")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docsPath = s"$out/documents.parquet"
    if (!new java.io.File(docsPath).exists()) {
      val docs = spark.read.parquet(s"$src/documents.parquet")
      val copies = (0 until factor).map { i =>
        if (i == 0) docs
        else docs.select(
          (col("doc_id") + lit(i * 10000000L)).as("doc_id"),
          concat(col("text"), lit(s" replica marker token $i")).as("text"),
          col("lang"), col("source"), col("n_chars"))
      }
      copies.reduce(_ unionByName _).repartition(32)
        .write.mode("overwrite").parquet(docsPath)
    }
    val embPath = s"$out/embeddings.parquet"
    if (!new java.io.File(embPath).exists()) {
      // replicas are deterministic small rotations of the original vector
      // (scale by 1 + i/1000): distinct points, same cluster structure —
      // the regime an IVF index faces on augmented/epoch-repeated corpora
      val emb = spark.read.parquet(s"$src/embeddings.parquet")
      val copies = (0 until factor).map { i =>
        if (i == 0) emb
        else emb.select(
          (col("vec_id") + lit(i * 10000000L)).as("vec_id"),
          transform(col("embedding"),
            x => (x * lit(1.0f + i / 1000.0f)).cast("float")).as("embedding"),
          col("label"))
      }
      copies.reduce(_ unionByName _).repartition(32)
        .write.mode("overwrite").parquet(embPath)
    }
    val n = spark.read.parquet(docsPath).count()
    val ne = spark.read.parquet(embPath).count()
    println(s"STRESS corpus: $n docs, $ne vectors at $out (factor $factor over $src)")

    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      System.gc()
    }
    // best-rep wall times per (probe/label/mode) — the gated sweep's
    // drift rules read these; exactness violations still throw inline
    val timings = scala.collection.mutable.Map.empty[String, Double]
    def obs(key: String, secs: Double): Unit =
      timings(key) = math.min(timings.getOrElse(key, Double.MaxValue), secs)
    for (q <- queries) {
      if (q == "ivf4096") {
        // SemDeDup-realistic cell count: k=4096 > LiteralCells exercises
        // the compiled-loop assignment (train 1 Lloyd round + encode +
        // probe search) at a codebook size where the literal lowering
        // would blow the Janino method limit
        for (rep <- 1 to 3) {
          isolate()
          val t0 = System.nanoTime()
          val emb = spark.read.parquet(embPath)
          val cent = graft.pipeline.Ivf.train(emb, "vec_id", "embedding",
            k = 4096, iters = 1)
          val qs = emb.orderBy("vec_id").limit(100)
            .select(col("vec_id").as("q_id"), col("embedding"))
          val hits = graft.pipeline.Ivf.search(emb, qs, "vec_id", "embedding",
            "q_id", cent, topK = 10, nProbe = 16)
          hits.write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          println(f"STRESS ivf4096 rep$rep $secs%.2f s (${hits.count()} rows)")
        }
      } else if (q == "semdedup1024") {
        // the round-9 verdict's scale-killer scenario: SemDeDup at a
        // realistic cell count — k=1024 > LiteralCells routes cell
        // assignment through the compiled-loop face inside semanticDedup
        for (rep <- 1 to 3) {
          isolate()
          val t0 = System.nanoTime()
          val emb = spark.read.parquet(embPath)
          val cent = graft.pipeline.Ivf.train(emb, "vec_id", "embedding",
            k = 1024, iters = 1)
          val kept = graft.pipeline.Dedup.semanticDedup(
            emb, "vec_id", "embedding", cent, threshold = 0.4)
          kept.write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          println(f"STRESS semdedup1024 rep$rep $secs%.2f s (${kept.count()} rows, " +
            s"${graft.pipeline.Dedup.lastCcRounds} cc rounds)")
          graft.api.Pinned.release(spark)
        }
      } else if (q == "semskew") {
        // round-10 verdict's remaining scale-killer scenario: ONE IVF
        // cell deliberately captures >80% of the corpus (80% of vectors
        // are jittered copies of one direction, and the hand-built
        // codebook pins that cone to a single cell). Uncapped, the
        // within-cell verification is ONE quadratic task; with the salted
        // triangle cover (graft.semdedup.cellCap) the same exact pair set
        // spreads over s(s+1)/2 buckets. Survivor counts must match —
        // the cover is exact — while wall time drops.
        val (skewed, cents) = skewedEmbeddings(spark, embPath)
        val nSkew = skewed.count()
        // Model the beyond-broadcast regime: at probe size Spark would
        // BROADCAST one join side, which happens to parallelize even the
        // uncapped plan (each input partition streams against the hash
        // map). At corpus scale the sides exceed any broadcast threshold
        // and the join shuffles on the cell id — the hot cell then lands
        // in ONE task, the pathology the cover fixes. AQE's skew split is
        // byte-based and can't see pair-count blowup (9 MB of hot rows is
        // "not skewed" by bytes while being quadratic by pairs).
        try withConfSnapshot(spark,
          "spark.sql.autoBroadcastJoinThreshold", "graft.semdedup.cellCap") {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          // time the pair stage alone (the stage the cover redistributes);
          // full-dedup survivor equality separately pins exactness
          var uncappedPairs = -1L
          for ((mode, cap) <- Seq("uncapped" -> "1000000000", "capped" -> "2048")) {
            spark.conf.set("graft.semdedup.cellCap", cap)
            for (rep <- 1 to 2) {
              isolate()
              val t0 = System.nanoTime()
              val pairs = graft.pipeline.Dedup.semanticPairs(
                skewed, "vec_id", "embedding", cents, threshold = 0.999999)
              pairs.write.format("noop").mode("overwrite").save()
              val secs = (System.nanoTime() - t0) / 1e9
              val np = pairs.count()
              if (uncappedPairs < 0) uncappedPairs = np
              else require(np == uncappedPairs,
                s"triangle cover changed the pair set size: $np vs $uncappedPairs")
              obs(s"semskew/$mode", secs)
              println(f"STRESS semskew/$mode pairs rep$rep $secs%.2f s " +
                s"($np verified pairs over $nSkew vectors)")
            }
          }
          // exactness end to end: survivor SETS equal capped vs uncapped
          spark.conf.set("graft.semdedup.cellCap", "2048")
          val cappedIds = graft.pipeline.Dedup.semanticDedup(
            skewed, "vec_id", "embedding", cents, threshold = 0.999999)
            .select("vec_id")
          spark.conf.unset("graft.semdedup.cellCap")
          val unIds = graft.pipeline.Dedup.semanticDedup(
            skewed, "vec_id", "embedding", cents, threshold = 0.999999)
            .select("vec_id")
          require(cappedIds.exceptAll(unIds).isEmpty && unIds.exceptAll(cappedIds).isEmpty,
            "triangle cover changed the survivor set")
          println(s"STRESS semskew survivors identical capped vs uncapped")
        } finally skewed.unpersist()
      } else if (q == "bandskew") {
        // round-11 verdict finding #1: a boilerplate-hot LSH band (the
        // norm in crawled corpora — identical headers/footers put one
        // band key on a large fraction of the corpus) used to land that
        // band's entire quadratic candidate count in ONE task. 40% of the
        // sf0.1 documents are replaced by one literal boilerplate string,
        // so every band of the MinHash signature is shared by all of
        // them; with graft.dedup.bandCap the saltedSelfJoin triangle
        // cover redistributes each hot band over bounded buckets. The
        // candidate COUNT must be identical — the cover is exact.
        // Broadcast disabled for the same reason as semskew: at probe
        // size the planner would broadcast one exploded side, which
        // happens to parallelize even the uncapped plan; at corpus scale
        // the join shuffles on the band key and the hot band is one task.
        val docs = boilerplateDocs(spark, src)
        val nDocs = docs.count()
        try withConfSnapshot(spark,
          "spark.sql.autoBroadcastJoinThreshold", "graft.dedup.bandCap") {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          var uncappedCands = -1L
          for ((mode, cap) <- Seq("uncapped" -> "1000000000", "capped" -> "256")) {
            spark.conf.set("graft.dedup.bandCap", cap)
            for (rep <- 1 to 2) {
              isolate()
              val t0 = System.nanoTime()
              val sig = graft.pipeline.Dedup.minhashSignature(
                docs, "doc_id", "text", k = 16)
              val cands = graft.pipeline.Dedup.lshCandidates(
                sig, "doc_id", k = 16, bands = 4)
              cands.write.format("noop").mode("overwrite").save()
              val secs = (System.nanoTime() - t0) / 1e9
              val nc = cands.count()
              if (uncappedCands < 0) uncappedCands = nc
              else require(nc == uncappedCands,
                s"triangle cover changed the candidate count: $nc vs $uncappedCands")
              obs(s"bandskew/$mode", secs)
              println(f"STRESS bandskew/$mode rep$rep $secs%.2f s " +
                s"($nc candidates over $nDocs docs)")
            }
          }
        } finally docs.unpersist()
      } else if (q == "crossskew") {
        // bipartite form of bandskew: the SAME boilerplate is hot on BOTH
        // corpora of a cross-corpus dedup (40% of arrivals and 40% of the
        // reference share one literal string), so every MinHash band of
        // the boilerplate joins m arriving x n reference docs — one task
        // of the plain new×ref band join. saltedCrossJoin redistributes
        // it; the verified pair count must be identical (exact cover).
        // Broadcast disabled for the same reason as bandskew.
        val docs = boilerplateDocs(spark, src)
        val arrivals = docs.where(pmod(col("doc_id"), lit(3L)) === 0L)
        val ref = docs.where(pmod(col("doc_id"), lit(3L)) =!= 0L)
        val nDocs = docs.count()
        try withConfSnapshot(spark,
          "spark.sql.autoBroadcastJoinThreshold", "graft.dedup.bandCap") {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          var uncappedPairs = -1L
          for ((mode, cap) <- Seq("uncapped" -> "1000000000", "capped" -> "256")) {
            spark.conf.set("graft.dedup.bandCap", cap)
            for (rep <- 1 to 2) {
              isolate()
              val t0 = System.nanoTime()
              val pairs = graft.pipeline.Dedup.crossCorpusNearDup(
                arrivals, ref, "doc_id", "text", k = 16, bands = 4, threshold = 0.8)
              pairs.write.format("noop").mode("overwrite").save()
              val secs = (System.nanoTime() - t0) / 1e9
              val np = pairs.count()
              if (uncappedPairs < 0) uncappedPairs = np
              else require(np == uncappedPairs,
                s"bipartite cover changed the pair count: $np vs $uncappedPairs")
              obs(s"crossskew/$mode", secs)
              println(f"STRESS crossskew/$mode rep$rep $secs%.2f s " +
                s"($np pairs over $nDocs docs)")
            }
          }
        } finally docs.unpersist()
      } else if (q == "idxskew") {
        // asymmetric SaltedIndex probe: Ivf.search against a corpus whose
        // dominant direction puts ~80% of vectors in ONE cell (same
        // construction as semskew), probed by a bounded query batch drawn
        // from that cone. Beyond broadcast (threshold -1, the corpus-scale
        // regime — at probe size the planner would broadcast the tiny
        // query side, which parallelizes even the uncapped plan), the
        // (cid, __sg) join ships every hot-cell corpus row to one task
        // uncapped: |queries| x pop scorings serialized. With the salted
        // index the corpus rides the shuffle once split over s salts and
        // only the small query side replicates. Results (ranks included)
        // must be identical — the cover is exact.
        val (skewed, cents) = skewedEmbeddings(spark, embPath)
        val nSkew = skewed.count()
        val qs = skewed.where(pmod(col("vec_id"), lit(10L)) < 8L)
          .orderBy("vec_id").limit(512)
          .select(col("vec_id").as("q_id"), col("embedding")).persist()
        qs.count()
        try withConfSnapshot(spark,
          "spark.sql.autoBroadcastJoinThreshold", "graft.semdedup.cellCap") {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          var baseline: Set[String] = null
          for ((mode, cap) <- Seq("uncapped" -> "1000000000", "capped" -> "2048")) {
            spark.conf.set("graft.semdedup.cellCap", cap)
            for (rep <- 1 to 2) {
              isolate()
              val t0 = System.nanoTime()
              val hits = graft.pipeline.Ivf.search(skewed, qs, "vec_id",
                "embedding", "q_id", cents, topK = 10, nProbe = 1,
                broadcastQueries = false)
              hits.write.format("noop").mode("overwrite").save()
              val secs = (System.nanoTime() - t0) / 1e9
              val got = hits.collect().map(_.toString).toSet
              if (baseline == null) baseline = got
              else require(got == baseline,
                "salted index changed the top-k results")
              obs(s"idxskew/$mode", secs)
              println(f"STRESS idxskew/$mode rep$rep $secs%.2f s " +
                s"(${got.size} ranked hits over $nSkew vectors)")
            }
          }
        } finally { skewed.unpersist(); qs.unpersist() }
      } else if (q == "spanskew") {
        // round-12 verdict #1 (the last unbounded per-key stage in the
        // dedup family): repeatedSpans' per-gram distinct-doc counts used
        // to ride dense_rank/max windows partitioned by the gram hash —
        // ONE task sorted every occurrence of a boilerplate gram. Now a
        // partial-aggregated count_distinct + a shuffle_hash-hinted join
        // back, so the hot gram's occurrences spread over the (gram, doc)
        // exchange and the probe side streams. 40% of the corpus is ONE
        // literal passage (every k-gram of it occurs in 40% of documents);
        // timed at 1x and 10x — near-linear scaling is the
        // no-single-task-window evidence (the old window shape serialized
        // the hot gram's whole 10x population on one core). Broadcast
        // disabled as in bandskew: at probe scale the one-row-per-gram
        // stats side would broadcast, which parallelizes even a bad plan;
        // at corpus scale the join shuffles.
        withConfSnapshot(spark, "spark.sql.autoBroadcastJoinThreshold") {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          for ((label, path) <- Seq("1x" -> s"$src/documents.parquet",
                                    "10x" -> docsPath)) {
            val docs = boilerplateDocsAt(spark, path)
            val nDocs = docs.count()
            try {
              var expect = -1L
              for (rep <- 1 to 2) {
                isolate()
                val t0 = System.nanoTime()
                val spans = graft.pipeline.Dedup.repeatedSpans(
                  docs, "doc_id", "text", k = 5, minDocs = 3)
                spans.write.format("noop").mode("overwrite").save()
                val secs = (System.nanoTime() - t0) / 1e9
                val ns = spans.count()
                if (expect < 0) expect = ns
                else require(ns == expect,
                  s"spanskew/$label span count drifted across reps: $ns vs $expect")
                obs(s"spanskew/$label", secs)
                println(f"STRESS spanskew/$label rep$rep $secs%.2f s " +
                  s"($ns spans over $nDocs docs)")
                graft.api.Pinned.release(spark)
              }
            } finally docs.unpersist()
          }
        }
      } else if (q == "joinskew") {
        // The enrichment/as-of join family's documented per-key bound made
        // empirical (round-12 verdict next-round #5): these joins lower to
        // union + ONE shuffle on the key + a within-key ORDER — the
        // reference's keyed co-process semantics, where a key's timeline
        // is inherently sequential — so a key holding ~40% of the corpus
        // serializes ITS timeline on one spillable sort task while every
        // other key proceeds in parallel. The probe maps 40% of user_ids
        // of a 10x events table onto ONE user and times leftJoin (arrival
        // order) and backward asofJoin (time order) against the uniform
        // corpus as baseline; row counts must be stable across reps.
        val ev0 = graft.sources.Tables.events(spark, src).df
          .select(col("event_id"), col("user_id").cast("long").as("user_id"),
            col("event_type"), col("value"), col("ts_ns"))
        val big = (0 until factor).map { i =>
          ev0.select((col("event_id") + lit(i * 100000000L)).as("event_id"),
            col("user_id"), col("event_type"), col("value"),
            (col("ts_ns") + lit(i.toLong)).as("ts_ns"))
        }.reduce(_ unionByName _).repartition(32).persist()
        val nEv = big.count()
        // counts are mode-invariant BY SEMANTICS (leftJoin emits one row
        // per click, backward as-of one per purchase, regardless of how
        // user ids are relabeled) — enforced across reps AND modes
        var expectLj = -1L
        var expectAj = -1L
        try {
          for ((mode, uid) <- Seq(
              "uniform" -> col("user_id"),
              "hot40" -> when(pmod(col("user_id"), lit(5L)) < 2L, lit(0L))
                .otherwise(col("user_id")))) {
            val ev = big.withColumn("user_id", uid)
            for (rep <- 1 to 2) {
              isolate()
              val evm = new graft.api.MStream(ev, Seq("ts_ns", "event_id"))
              val clicks = evm.where(col("event_type") === "click")
              val purchases = evm.where(col("event_type") === "purchase")
              var t0 = System.nanoTime()
              val lj = clicks.leftJoin(purchases)
                .on((l, r) => l("user_id") === r("user_id"))
                .select((l, r) => Seq(
                  l("event_id").as("event_id"), l("user_id").as("user_id"),
                  l("value").as("click_value"), r("value").as("latest_purchase")))
                .df
              lj.write.format("noop").mode("overwrite").save()
              val ljSecs = (System.nanoTime() - t0) / 1e9
              val pj = ev.filter(col("event_type") === "purchase")
                .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
                  expr("ts_ns div 1000").as("p_ts"), col("value").as("p_value"))
              val cj = ev.filter(col("event_type") === "click")
                .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
                  expr("ts_ns div 1000").as("c_ts"), col("value").as("c_value"))
              t0 = System.nanoTime()
              val aj = graft.operators.AsofJoins.asofBackward(pj, "p_ts", cj, "c_ts",
                keys = Seq("p_user" -> "c_user"), rightOrder = Seq("c_id"),
                tolerance = Some(3600L * 1000000L))
              aj.write.format("noop").mode("overwrite").save()
              val ajSecs = (System.nanoTime() - t0) / 1e9
              val (nl, na) = (lj.count(), aj.count())
              if (expectLj < 0) { expectLj = nl; expectAj = na }
              else require(nl == expectLj && na == expectAj,
                s"joinskew row counts drifted: leftJoin $nl vs $expectLj, " +
                  s"asof $na vs $expectAj")
              println(f"STRESS joinskew/$mode rep$rep leftJoin $ljSecs%.2f s " +
                f"($nl rows), asof $ajSecs%.2f s ($na rows) over $nEv events")
            }
          }
        } finally big.unpersist()
      } else if (q == "langskew") {
        // round-13: the RangedPrefix operators' hot-GROUP regime made
        // empirical. A dominant language is CERTAIN in a crawl (English
        // is ~half of Common Crawl); the old per-group windows
        // (ntile over partitionBy(lang), running sum over
        // partitionBy(stratum)) serialized that group's whole population
        // in one task. 60% of the corpus is forced into ONE language and
        // both operators run at 1x and 10x against the natural
        // distribution as baseline — near-parity hot vs natural and
        // stable row counts are the no-single-task evidence (exactness
        // itself is spec-pinned: width-1 == width-N in RangedPrefixSpec).
        for ((label, path) <- Seq("1x" -> s"$src/documents.parquet",
                                  "10x" -> docsPath)) {
          val base = spark.read.parquet(path)
            .select(col("doc_id"), col("text"), col("lang")).persist()
          val nDocs = base.count()
          try {
            for ((mode, langExpr) <- Seq(
                "natural" -> col("lang"),
                "hot60" -> when(pmod(col("doc_id"), lit(5L)) < 3L, lit("en"))
                  .otherwise(col("lang")))) {
              val docs = base.withColumn("lang", langExpr)
              var expect = (-1L, -1L, -1L)
              for (rep <- 1 to 2) {
                isolate()
                var t0 = System.nanoTime()
                val tiles = graft.pipeline.TextOps.perplexityBuckets(
                  docs, "doc_id", "text", "lang")
                tiles.write.format("noop").mode("overwrite").save()
                val pplSecs = (System.nanoTime() - t0) / 1e9
                val nt = tiles.count()
                graft.api.Pinned.release(spark)
                t0 = System.nanoTime()
                val kept = graft.pipeline.Sampling.capTokensPerKey(
                  docs.select(col("doc_id"), col("lang"),
                    graft.pipeline.TextOps.tokenCountWhitespace(col("text"))
                      .cast("long").as("toks")),
                  col("lang"), col("doc_id"), col("toks"),
                  budget = 50000L)
                kept.write.format("noop").mode("overwrite").save()
                val capSecs = (System.nanoTime() - t0) / 1e9
                val nk = kept.count()
                graft.api.Pinned.release(spark)
                t0 = System.nanoTime()
                val capped = graft.pipeline.Sampling.capPerKey(
                  docs.select(col("doc_id"), col("lang")),
                  col("lang"), col("doc_id"), n = 500)
                capped.write.format("noop").mode("overwrite").save()
                val cpkSecs = (System.nanoTime() - t0) / 1e9
                val nc = capped.count()
                graft.api.Pinned.release(spark)
                if (expect == ((-1L, -1L, -1L))) expect = (nt, nk, nc)
                else require((nt, nk, nc) == expect,
                  s"langskew/$label/$mode row counts drifted: ($nt, $nk, $nc) vs $expect")
                obs(s"langskew/$label/$mode/ppl", pplSecs)
                obs(s"langskew/$label/$mode/cap", capSecs)
                obs(s"langskew/$label/$mode/cpk", cpkSecs)
                println(f"STRESS langskew/$label/$mode rep$rep ppl $pplSecs%.2f s " +
                  f"($nt rows), capTokens $capSecs%.2f s ($nk rows), " +
                  f"capPerKey $cpkSecs%.2f s over $nDocs docs")
              }
            }
          } finally base.unpersist()
        }
      } else if (q == "packskew") {
        // round-14: packChunks' hot-SHARD regime made empirical. The
        // caller picks the shard key, and a packing run over one corpus
        // slice (a single source, a single epoch) is a NATURAL call that
        // used to fold the entire corpus's prefix sum in ONE task; the
        // RangedPrefix lowering bounds every task by the range width.
        // 60% of the corpus forced into ONE shard vs the natural source
        // distribution, at 1x and 10x — near-parity hot vs natural and
        // stable row/chunk counts are the no-single-task evidence
        // (exactness is spec-pinned: width-1 == width-N in
        // RangedPrefixSpec's packChunks case).
        for ((label, path) <- Seq("1x" -> s"$src/documents.parquet",
                                  "10x" -> docsPath)) {
          val base = spark.read.parquet(path)
            .select(col("doc_id"), col("text"), col("source")).persist()
          val nDocs = base.count()
          try {
            for ((mode, srcExpr) <- Seq(
                "natural" -> col("source"),
                "hot60" -> when(pmod(col("doc_id"), lit(5L)) < 3L, lit("epoch0"))
                  .otherwise(col("source")))) {
              val docs = base.withColumn("source", srcExpr)
              var expect = (-1L, -1L)
              for (rep <- 1 to 2) {
                isolate()
                val t0 = System.nanoTime()
                val packed = graft.pipeline.TextOps.packChunks(
                  docs, "doc_id", "text", "source", budget = 4096L)
                packed.write.format("noop").mode("overwrite").save()
                val secs = (System.nanoTime() - t0) / 1e9
                val n = packed.count()
                val nChunks = packed.select(col("source"), col("chunk_id"))
                  .distinct().count()
                graft.api.Pinned.release(spark)
                if (expect == ((-1L, -1L))) expect = (n, nChunks)
                else require((n, nChunks) == expect,
                  s"packskew/$label/$mode counts drifted: ($n, $nChunks) vs $expect")
                obs(s"packskew/$label/$mode", secs)
                println(f"STRESS packskew/$label/$mode rep$rep $secs%.2f s " +
                  f"($n rows, $nChunks chunks) over $nDocs docs")
              }
            }
          } finally base.unpersist()
        }
      } else if (q == "bm25skew") {
        // round-14: the beyond-broadcast bm25Retrieve claim made
        // empirical. With broadcastQueries = false the postings join
        // shuffles on the TERM; a stopword term present in 40% of the
        // corpus (the boilerplate regime) concentrates its postings'
        // probe rows, and the face's defense is that the probe STREAMS
        // (hash join, no per-key sort) into a partial-aggregated
        // (query, doc) sum, with AQE's skew split free to subdivide.
        // Every hot-mode query carries the stopword; the natural
        // baseline queries rare per-document words. Near-parity hot vs
        // natural at 1x and 10x is the evidence; result counts must be
        // rep-stable.
        import spark.implicits._
        for ((label, path) <- Seq("1x" -> s"$src/documents.parquet",
                                  "10x" -> docsPath)) {
          val docs = boilerplateDocsAt(spark, path)
          val nDocs = docs.count()
          try {
            // natural terms: one leading word from 64 non-boilerplate docs
            // (tiny bounded collect — probe construction, not operator code)
            val natWords = docs.filter(pmod(col("doc_id"), lit(5L)) >= 2L)
              .select(element_at(split(col("text"), " "), 1).as("w"))
              .filter(length(col("w")) > 0).limit(64)
              .collect().map(_.getString(0))
            for ((mode, mk) <- Seq(
                "natural" -> ((w: String, i: Int) => s"$w uniqtok$i"),
                "hotterm" -> ((w: String, i: Int) => s"$w privacy policy uniqtok$i"))) {
              val qs = natWords.zipWithIndex
                .map { case (w, i) => (i.toLong, mk(w, i)) }.toSeq
                .toDF("q_id", "q_text")
              var expect = -1L
              for (rep <- 1 to 2) {
                isolate()
                val t0 = System.nanoTime()
                val hits = graft.pipeline.TextOps.bm25Retrieve(
                  docs, "doc_id", "text", qs, "q_id", "q_text", k = 10,
                  broadcastQueries = false)
                hits.write.format("noop").mode("overwrite").save()
                val secs = (System.nanoTime() - t0) / 1e9
                val n = hits.count()
                if (expect < 0) expect = n
                else require(n == expect,
                  s"bm25skew/$label/$mode result count drifted: $n vs $expect")
                obs(s"bm25skew/$label/$mode", secs)
                println(f"STRESS bm25skew/$label/$mode rep$rep $secs%.2f s " +
                  f"($n hit rows, 64 queries) over $nDocs docs")
              }
            }
          } finally docs.unpersist()
        }
      } else if (q == "substrskew") {
        // round-15: the viral-passage probe for maximalRepeats. 40% of
        // the corpus is ONE literal 18-token passage, so every 5-gram
        // anchor inside it occurs in 40% of documents — at 10x that is a
        // ~200k-occurrence neighbor-LCP group per anchor, the population
        // a per-gram window would sort in ONE task; the global range
        // sort + rank self-joins bound every task by the range width.
        // Span counts must be rep-stable; the planted passage must be
        // recovered at its full extent in every carrier. Broadcast
        // disabled as in spanskew (the corpus-scale regime).
        withConfSnapshot(spark, "spark.sql.autoBroadcastJoinThreshold") {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          for ((label, path) <- Seq("1x" -> s"$src/documents.parquet",
                                    "10x" -> docsPath)) {
            val docs = boilerplateDocsAt(spark, path)
            val nDocs = docs.count()
            try {
              var expect = -1L
              for (rep <- 1 to 2) {
                isolate()
                val t0 = System.nanoTime()
                val spans = graft.pipeline.Dedup.maximalRepeats(
                  docs, "doc_id", "text", minLen = 5, maxExtend = 20, minDocs = 3)
                spans.write.format("noop").mode("overwrite").save()
                val secs = (System.nanoTime() - t0) / 1e9
                val ns = spans.count()
                // the planted 17-token passage is a full-document repeat:
                // every carrier must report a span of the full length
                // starting at 0 (anything shorter is pruned as contained)
                val carriers = docs.where(pmod(col("doc_id"), lit(5L)) < 2L).count()
                val full = spans.where(col("span_start") === 0L &&
                  col("span_len") === 17L).count()
                require(full >= carriers,
                  s"substrskew/$label: planted passage recovered in $full of " +
                    s"$carriers carriers")
                if (expect < 0) expect = ns
                else require(ns == expect,
                  s"substrskew/$label span count drifted across reps: $ns vs $expect")
                obs(s"substrskew/$label", secs)
                println(f"STRESS substrskew/$label rep$rep $secs%.2f s " +
                  s"($ns spans, $full full-passage spans over $nDocs docs)")
                graft.api.Pinned.release(spark)
              }
            } finally docs.unpersist()
          }
        }
      } else if (q == "bylangskew") {
        // per-language KN models under a dominant language: 60% of docs
        // (and of the reference slice) forced into ONE language vs the
        // natural distribution, 1x and 10x. The dominant language's model
        // is a SLICE of the same pinned tables — count shuffles partial-
        // aggregate by (lang, grams) and the scoring probe streams, so
        // hot ≈ natural is the no-single-task evidence; row counts and
        // the unmodeled-language NULL verdicts must be rep-stable.
        for ((label, path) <- Seq("1x" -> s"$src/documents.parquet",
                                  "10x" -> docsPath)) {
          val base = spark.read.parquet(path)
            .select(col("doc_id"), col("text"), col("lang"), col("source")).persist()
          val nDocs = base.count()
          try {
            for ((mode, langExpr) <- Seq(
                "natural" -> col("lang"),
                "hot60" -> when(pmod(col("doc_id"), lit(5L)) < 3L, lit("en"))
                  .otherwise(col("lang")))) {
              val docs = base.withColumn("lang", langExpr)
              // ref = the src0-src3 slice MINUS zh: zh documents exercise
              // the no-model NULL path at probe scale too
              val ref = docs.where(col("source")
                .isin("src0", "src1", "src2", "src3") && col("lang") =!= "zh")
              var expect = (-1L, -1L)
              for (rep <- 1 to 2) {
                isolate()
                val t0 = System.nanoTime()
                val scored = graft.pipeline.TextOps.lmScore(graft.api.MStream(docs),
                  graft.pipeline.TextOps.LmSpec(3, graft.pipeline.TextOps.LmSpec.KneserNey()),
                  "doc_id", "text", Some(graft.pipeline.TextOps.LmRef(ref, "text",
                    Some(("lang", "lang"))))).df
                scored.write.format("noop").mode("overwrite").save()
                val secs = (System.nanoTime() - t0) / 1e9
                val n = scored.count()
                val nNull = scored.where(col("avg_logprob").isNull).count()
                graft.api.Pinned.release(spark)
                if (expect == ((-1L, -1L))) expect = (n, nNull)
                else require((n, nNull) == expect,
                  s"bylangskew/$label/$mode counts drifted: ($n, $nNull) vs $expect")
                obs(s"bylangskew/$label/$mode", secs)
                println(f"STRESS bylangskew/$label/$mode rep$rep $secs%.2f s " +
                  f"($n rows, $nNull unscored) over $nDocs docs")
              }
            }
          } finally base.unpersist()
        }
      } else if (q == "semauto") {
        // semanticDedupAuto sizes the codebook with Ivf.cellsFor — the
        // executable cells-∝-corpus contract. Ran at 1x and 10x, the MEAN
        // cell population must stay ~targetCellSize (constant per-task
        // verification work); k grows with the corpus instead.
        val target = 512L
        for ((label, path) <- Seq("1x" -> s"$src/embeddings.parquet",
                                  "10x" -> embPath)) {
          isolate()
          val emb = spark.read.parquet(path)
          val nv = emb.count()
          val t0 = System.nanoTime()
          val kept = graft.pipeline.Dedup.semanticDedupAuto(
            emb, "vec_id", "embedding", threshold = 0.995,
            targetCellSize = target, iters = 1)
          val nk = kept.count()
          val secs = (System.nanoTime() - t0) / 1e9
          // census under the SAME codebook (training is deterministic:
          // k-lowest-ids init, so retraining reproduces it exactly)
          val k = graft.pipeline.Ivf.cellsFor(nv, target)
          val cents = graft.pipeline.Ivf.train(emb, "vec_id", "embedding", k, 1)
          val pop = graft.pipeline.Ivf.assign(
              emb.select(col("vec_id").as("__pid"),
                col("embedding").cast("array<double>").as("__pv")), cents)
            .groupBy("cid").count().agg(avg("count"), max("count")).collect()(0)
          val meanCell = pop.getDouble(0)
          require(meanCell <= target && meanCell >= target / 4,
            s"semauto/$label: mean cell population $meanCell strayed from target $target")
          println(f"STRESS semauto/$label $secs%.2f s: n=$nv k=$k kept=$nk " +
            f"meanCell=$meanCell%.0f maxCell=${pop.getLong(1)}")
        }
      } else if (q == "bpe4k") {
        // round-11 verdict finding #2: the BPE trainer was capped at 256
        // merges because each round replayed the full merge chain over
        // the pinned vocabulary (expression depth linear in the chain).
        // With periodic vocabulary re-materialization the per-round cost
        // is O(rematEvery); this probe proves a real-tokenizer-sized run
        // (4096 merges) completes. The synthetic sf0.1 corpus has only 31
        // distinct words (BPE exhausts at ~89 merges), so each word gets
        // a deterministic two-letter salt from (word, doc, position) —
        // ~8k distinct words with natural frequency structure, a
        // realistic subword-training vocabulary. One rep — the run is
        // 4096 driver-coordinated rounds by definition.
        isolate()
        // GRAFT_BPE_PROBE_MERGES / GRAFT_BPE_REMAT override for quick
        // per-round timing runs
        val probeMerges = sys.env.get("GRAFT_BPE_PROBE_MERGES").map(_.toInt).getOrElse(4096)
        sys.env.get("GRAFT_BPE_REMAT").foreach(v =>
          spark.conf.set("graft.bpe.rematEvery", v))
        val docs = spark.read.parquet(s"$src/documents.parquet")
          .selectExpr("doc_id",
            """array_join(transform(split(text, ' '), (w, i) ->
                 concat(w,
                   chr(97 + pmod(hash(w, doc_id, i), 16)),
                   chr(97 + pmod(hash(w, doc_id, i, 7), 16)))), ' ') AS text""")
        val t0 = System.nanoTime()
        val merges = graft.pipeline.TextOps.trainBpeMerges(docs, "text",
          numMerges = probeMerges)
        val nm = merges.count()
        val secs = (System.nanoTime() - t0) / 1e9
        require(nm == probeMerges, s"bpe4k: expected the full $probeMerges merges " +
          s"(the ~8k-word salted vocabulary cannot exhaust before ~8k rules), got $nm")
        println(f"STRESS bpe4k $secs%.2f s ($nm merges trained, " +
          f"${secs / nm * 1000}%.1f ms/merge)")
      } else if (q == "pqlut512") {
        // m=8 x ksub=64 = 512 LUT entries > LiteralLutEntries: the ADC
        // lookup table takes the compiled-loop PqLut face; train + encode
        // + exhaustive ADC over the 10x corpus
        for (rep <- 1 to 3) {
          isolate()
          val t0 = System.nanoTime()
          val emb = spark.read.parquet(embPath)
          val cb = graft.pipeline.Pq.train(emb, "vec_id", "embedding",
            m = 8, ksub = 64, iters = 1)
          val qs = emb.orderBy("vec_id").limit(20)
            .select(col("vec_id").as("q_id"), col("embedding"))
          val hits = graft.pipeline.Pq.adcTopK(emb, qs, "vec_id", "embedding",
            "q_id", cb, topK = 10)
          hits.write.format("noop").mode("overwrite").save()
          val secs = (System.nanoTime() - t0) / 1e9
          println(f"STRESS pqlut512 rep$rep $secs%.2f s (${hits.count()} rows)")
          graft.api.Pinned.release(spark)
        }
      } else if (q == "hybridskew") {
        // round-17: hybridRrfRetrieve's IVF-routed dense leg vs the
        // brute-force leg at a 512-query batch, 1x and 10x. The codebook
        // trains ONCE per scale (the artifact step, untimed); retrieval
        // is timed. At THIS corpus size the whole-stage-codegen'd brute
        // scan is still competitive (its FLOPs fuse without join
        // machinery); the rules pin what the scale claim needs — the
        // routed 10x run stays far-sublinear in corpus size and routing
        // never catastrophically regresses the fusion — and fused row
        // counts are rep-stable per mode. (Measured r17: ivf 10x/1x =
        // 2.8x for a 10x corpus; ivf/brute = 0.95 at 1x, 1.36 at 10x.)
        for ((label, dPath, ePath) <- Seq(
            ("1x", s"$src/documents.parquet", s"$src/embeddings.parquet"),
            ("10x", docsPath, embPath))) {
          val docs = spark.read.parquet(dPath).select(col("doc_id"), col("text"))
          val emb = spark.read.parquet(ePath).select(col("vec_id"), col("embedding"))
          val corpus = docs.join(emb, col("doc_id") === col("vec_id")).drop("vec_id")
          val nDocs = corpus.count()
          val qs = corpus.orderBy("doc_id").limit(512)
            .select(col("doc_id").as("q_id"),
              concat_ws(" ", slice(graft.pipeline.TextOps.words(col("text")), 1, 3)).as("q_text"),
              col("embedding").as("q_vec"))
          val cent = graft.pipeline.Ivf.train(corpus, "doc_id", "embedding",
            k = 64, iters = 1)
          cent.count() // materialize the artifact outside the timings
          for ((mode, ivf, np) <- Seq(
              ("brute", Option.empty[org.apache.spark.sql.DataFrame], 0),
              ("ivf", Some(cent), 4))) {
            var expect = -1L
            for (rep <- 1 to 2) {
              isolate()
              val t0 = System.nanoTime()
              val hits = graft.pipeline.TextOps.hybridRrfRetrieve(
                corpus, "doc_id", "text", "embedding",
                qs, "q_id", "q_text", "q_vec", k = 10,
                ivfCentroids = ivf, nProbe = np)
              hits.write.format("noop").mode("overwrite").save()
              val secs = (System.nanoTime() - t0) / 1e9
              val n = hits.count()
              if (expect < 0) expect = n
              else require(n == expect,
                s"hybridskew/$label/$mode fused rows drifted: $n vs $expect")
              obs(s"hybridskew/$label/$mode", secs)
              println(f"STRESS hybridskew/$label/$mode rep$rep $secs%.2f s " +
                f"($n fused rows, 512 queries) over $nDocs docs")
            }
          }
        }
      } else if (q == "spreadscale") {
        // spreadForCompute's identity-at-scale branch, probe-pinned
        // (round-17 verdict item: the branch was comment-pinned only).
        // The 10x corpus is written as 32 parquet files, so its scan
        // yields >= defaultParallelism (local[32]) partitions — exactly
        // the at-scale layout. (a) the helper itself must return its
        // input UNCHANGED (same reference: no exchange, no plan change);
        // (b) each tokenizer apply face planned over the 10x corpus must
        // contain NO round-robin repartition (the spread exchange the
        // single-row-group sf0.1 layout needs), while the same face over
        // sf0.1 MUST contain it — proving the branch flips on layout,
        // not on code path.
        val docs10 = spark.read.parquet(docsPath)
        require(graft.pipeline.TextOps.spreadForCompute(docs10) eq docs10,
          "spreadscale: spreadForCompute must be the identity on a " +
            s">=cores-partition input (${docs10.rdd.getNumPartitions} partitions)")
        for (name <- Seq("q_bpe_encode", "q_bytebpe_encode",
            "q_wordpiece_encode", "q_unigram_encode", "q_lm5_score")) {
          isolate()
          val at10 = SparkEntry.queries(name)(spark, out)
            .queryExecution.executedPlan.toString
          require(!at10.contains("REPARTITION_BY_NUM"),
            s"spreadscale: $name added a round-robin exchange over the " +
              "10x (>= cores partitions) corpus — the identity branch broke")
          isolate()
          val at01 = SparkEntry.queries(name)(spark, src)
            .queryExecution.executedPlan.toString
          require(at01.contains("REPARTITION_BY_NUM"),
            s"spreadscale: $name lost its spread exchange over the " +
              "single-row-group sf0.1 corpus — the probe's premise changed")
          println(s"STRESS spreadscale/$name: no exchange at 10x, " +
            "spread exchange at 1x — identity branch green")
          graft.api.Pinned.release(spark)
        }
      } else if (q == "wordpiece") {
        // WordPiece trainer: 16 likelihood-scored merge rounds at 1x
        // (sf0.1) and 10x. The per-round symbol+pair aggregations run
        // over the pinned distinct-word table, so the 10x run pays only
        // the bigger corpus word-count pass
        for ((label, path) <- Seq("1x" -> s"$src/documents.parquet",
                                  "10x" -> docsPath); rep <- 1 to 2) {
          isolate()
          val docs = spark.read.parquet(path)
          val t0 = System.nanoTime()
          val vocab = graft.pipeline.WordPiece.trainVocab(docs, "text",
            numMerges = 16)
          val secs = (System.nanoTime() - t0) / 1e9
          obs(s"wordpiece/$label", secs)
          println(f"STRESS wordpiece/$label rep$rep $secs%.2f s " +
            s"(${vocab.count()} pieces)")
          graft.api.Pinned.release(spark)
        }
      } else if (q == "unigram") {
        // unigram-LM trainer: 2 EM rounds at 1x (sf0.1) and 10x. The
        // distinct-word table is the E-step's frame, so the 10x run pays
        // only the bigger word-count scan + piece aggregation
        for ((label, path) <- Seq("1x" -> s"$src/documents.parquet",
                                  "10x" -> docsPath); rep <- 1 to 2) {
          isolate()
          val docs = spark.read.parquet(path)
          val t0 = System.nanoTime()
          val vocab = graft.pipeline.Unigram.trainVocab(docs, "text",
            vocabSize = 64, maxPieceLen = 4, emRounds = 2, seedSize = 128)
          val secs = (System.nanoTime() - t0) / 1e9
          obs(s"unigram/$label", secs)
          println(f"STRESS unigram/$label rep$rep $secs%.2f s " +
            s"(${vocab.count()} pieces)")
          graft.api.Pinned.release(spark)
        }
      } else {
      SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save() // warm
      for (rep <- 1 to 3) {
        isolate()
        // time build + noop WRITE (all columns, the full pipeline — a
        // count() lets Catalyst eliminate provably row-preserving joins,
        // e.g. the scrub's left join against a groupBy'd span list, and
        // with them the very stages being stress-tested); row count is
        // taken untimed from the same frame
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(q)(spark, out)
        df.write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val rows = df.count()
        val cc = if (q.contains("clusters") || q.contains("corpus"))
          s", ${graft.pipeline.Dedup.lastCcRounds} cc rounds" else ""
        println(f"STRESS $q rep$rep $secs%.2f s ($rows rows$cc)")
      }
      }
    }
    // ---- drift rules over the best-rep timings (same-run pairs, so host
    // load cancels; multipliers are deliberately generous — the rules
    // catch order-of-magnitude single-task blowups, not bench noise).
    // joinskew has NO timing rule by design: a hot key's timeline is
    // inherently sequential per the reference's keyed co-process
    // semantics (its probe pins row-count stability only). Denominators
    // floor at 0.5 s so sub-second noise cannot trip a rule.
    val driftRules: Seq[(String, String, Double)] =
      Seq(("semskew/capped", "semskew/uncapped", 2.0),
        ("bandskew/capped", "bandskew/uncapped", 3.0),
        ("crossskew/capped", "crossskew/uncapped", 3.0),
        ("idxskew/capped", "idxskew/uncapped", 3.0),
        ("spanskew/10x", "spanskew/1x", 40.0),
        ("substrskew/10x", "substrskew/1x", 40.0),
        ("unigram/10x", "unigram/1x", 10.0),
        ("wordpiece/10x", "wordpiece/1x", 10.0),
        // routed-fusion boundedness (10x corpus far under 10x wall) and
        // no-catastrophic-regression vs the brute leg at the same scale
        ("hybridskew/10x/ivf", "hybridskew/1x/ivf", 15.0),
        ("hybridskew/10x/ivf", "hybridskew/10x/brute", 2.5)) ++
      (for (l <- Seq("1x", "10x"); op <- Seq("ppl", "cap", "cpk"))
        yield (s"langskew/$l/hot60/$op", s"langskew/$l/natural/$op", 4.0)) ++
      Seq("1x", "10x").map(l => (s"packskew/$l/hot60", s"packskew/$l/natural", 4.0)) ++
      Seq("1x", "10x").map(l => (s"bm25skew/$l/hotterm", s"bm25skew/$l/natural", 5.0)) ++
      Seq("1x", "10x").map(l => (s"bylangskew/$l/hot60", s"bylangskew/$l/natural", 4.0))
    val violations = driftRules.flatMap { case (num, den, maxRatio) =>
      (timings.get(num), timings.get(den)) match {
        case (Some(n), Some(d)) =>
          val ratio = n / math.max(d, 0.5)
          val verdict = if (ratio <= maxRatio) "ok" else "DRIFT"
          println(f"STRESS rule $num / $den = $ratio%.2f (max $maxRatio) $verdict")
          if (ratio <= maxRatio) None
          else Some(f"$num ${n}%.2f s vs $den ${d}%.2f s: ratio $ratio%.2f > $maxRatio")
        case _ => None
      }
    }
    if (violations.nonEmpty) {
      violations.foreach(v => println(s"STRESS VIOLATION: $v"))
      println(s"STRESS sweep: ${violations.size} drift violation(s)")
      spark.stop()
      if (gate) sys.exit(1)
    } else {
      println("STRESS sweep: all drift rules green")
      spark.stop()
    }
  }
}
