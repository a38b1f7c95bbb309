package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * IVF (inverted-file) index for approximate nearest neighbor: k-means
 * cells trained with Lloyd's iterations, search probes only the nProbe
 * nearest cells. The codebook is k×dim — small by definition — so it lives
 * as driver-side state and enters the plan with the point projection:
 * assignment is a per-row codegen'd expression (literal `least(struct(d,
 * cid))` up to [[LiteralCells]] cells, the compiled-loop
 * [[graft.functions.NearestCells]] beyond — bit-identical selection) over
 * the corpus with no crossJoin, no per-point shuffle, and no window sort.
 * Per training
 * iteration the only shuffles are the two tiny centroid-update
 * aggregations (k×dim rows); the corpus itself never leaves the executors
 * and is scanned exactly once per iteration.
 *
 * The scale story vs the exact operators: brute force scans corpus×queries;
 * hyperplane LSH bounds candidates but with data-independent buckets; IVF
 * adapts cells to the data distribution. Recall depends on nProbe.
 */
object Ivf {

  /** Squared-distance argmin as one codegen'd expression:
    * `least(struct(|p|²−2p·c+|c|², cid)...)` — lexicographic struct
    * comparison ties on the lower cid, matching `min_by(cid,
    * struct(d, cid))` and the DuckDB oracle's `ORDER BY d, cid`. |c|² is
    * folded on the driver with the same left-to-right summation order as
    * the `DotProduct` expression, so distances are bit-identical to the
    * join formulation. */
  private def distCid(pv: Column, cent: Seq[(Int, Seq[Double])]): Seq[Column] = {
    val pp = Similarity.dot(pv, pv)
    cent.sortBy(_._1).map { case (cid, cv) =>
      var cc = 0.0
      cv.foreach(x => cc += x * x)
      struct((pp - lit(2.0) * Similarity.dot(pv, typedLit(cv)) + lit(cc)).as("d"),
        lit(cid).as("cid"))
    }
  }

  /** Codebook-size threshold between the two assignment lowerings. Below:
    * the literal `least(struct(d, cid)…)` expression — k inlined struct
    * comparisons, fully unrolled codegen, the fastest shape for the
    * sqrt(n)-cells-of-a-broadcastable-corpus regime. Above: the generated
    * method would blow Janino's 64 KB limit (whole-stage codegen falls
    * back to interpreted for the whole projection) and the plan would
    * carry k×dim literal doubles — switch to [[graft.functions.NearestCells]],
    * whose codebook is one reference object and whose generated code is a
    * single compiled-loop call; bit-identical selection (IvfSpec pins
    * literal == loop on random data straddling the threshold). Still a
    * zero-shuffle projection either way — a broadcast-join + `min_by`
    * formulation would push every corpus row through an aggregation. */
  private[graft] val LiteralCells = 256

  private[graft] def nearestCidLiteral(pv: Column, cent: Seq[(Int, Seq[Double])]): Column = {
    val ds = distCid(pv, cent)
    // least() rejects a single argument; a 1-cell codebook assigns trivially
    (if (ds.sizeIs == 1) ds.head else least(ds: _*)).getField("cid")
  }

  private[graft] def nearestCidLoop(pv: Column, cent: Seq[(Int, Seq[Double])]): Column =
    element_at(graft.functions.VectorFunctions.nearestCells(pv, cent, 1), 1)

  /** `extraInline`: literal distance entries from OTHER assignment
    * constructs sharing the same projection — the Janino method ceiling
    * is per generated method, so the dispatch must budget the whole
    * projection, not this construct alone (`Pq`'s coarse + m sub-book
    * encode measured blowing 64 KB with every construct individually
    * under the threshold). */
  private[pipeline] def nearestCid(pv: Column, cent: Seq[(Int, Seq[Double])],
                                   extraInline: Int = 0): Column = {
    require(cent.nonEmpty, "IVF codebook is empty — train() first")
    if (cent.size + extraInline <= LiteralCells) nearestCidLiteral(pv, cent)
    else nearestCidLoop(pv, cent)
  }

  /** The nProbe nearest cells, best-first: sort the k-element struct array
    * per row (small codebooks) or the compiled top-n pass (large) — no
    * join or window shuffle either way. */
  private[graft] def probeCidsLiteral(pv: Column, cent: Seq[(Int, Seq[Double])], nProbe: Int): Column =
    transform(slice(array_sort(array(distCid(pv, cent): _*)), 1, nProbe), s => s.getField("cid"))

  private[pipeline] def probeCids(pv: Column, cent: Seq[(Int, Seq[Double])], nProbe: Int,
                                  extraInline: Int = 0): Column =
    if (cent.size + extraInline <= LiteralCells) probeCidsLiteral(pv, cent, nProbe)
    else graft.functions.VectorFunctions.nearestCells(pv, cent, nProbe)

  /** The codebook size that keeps expected cell population ~constant as
    * the corpus grows — the executable form of the 100×-scale contract
    * that IVF cell count must grow ∝ corpus size (k = ceil(n /
    * targetCellSize), clamped to [1, maxCells]). Use for [[train]]'s `k`
    * and for `Dedup.semanticDedup`'s codebook: at targetCellSize ≤ the
    * `graft.semdedup.cellCap` the hot-cell triangle cover only engages on
    * genuine skew, not on uniform growth. The clamp keeps the codebook a
    * driver-sized artifact; beyond maxCells × targetCellSize vectors,
    * raise targetCellSize (cells stay sub-quadratic) or shard the corpus. */
  def cellsFor(n: Long, targetCellSize: Long, maxCells: Int = 65536): Int = {
    require(n >= 0, s"cellsFor: corpus size must be >= 0, got $n")
    require(targetCellSize > 0, s"cellsFor: targetCellSize must be positive, got $targetCellSize")
    require(maxCells >= 1, s"cellsFor: maxCells must be >= 1, got $maxCells")
    // overflow-safe ceil divide: n + target - 1 wraps near Long.MaxValue
    val cells = if (n == 0) 1L else (n - 1) / targetCellSize + 1
    math.min(maxCells.toLong, cells).toInt
  }

  /** Train `k` centroids. Initialization is deterministic (the k lowest
    * ids) so results are reproducible across engines and runs. */
  def train(embs: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int): DataFrame = {
    // the codebook is a BY-DESIGN driver-sized artifact: k×dim doubles
    // collect per Lloyd round and embed into the assignment expressions —
    // cap k where that stops being driver-sized (IVF cell counts are
    // ~sqrt(n) in practice; 65536 cells already indexes billions of rows)
    require(k > 0 && k <= 65536,
      s"k=$k: the IVF codebook (k x dim doubles) is collected per training " +
        "round and embedded into the assignment plan; keep k <= 65536")
    require(iters >= 0, s"iters=$iters must be non-negative")
    val spark = embs.sparkSession
    import spark.implicits._
    // k-means scans the working set iters+1 times — cache it for the
    // duration of training (spills to disk beyond memory), the standard
    // iterative-trainer posture
    val pts = embs.select(col(idCol).as("__pid"), col(vecCol).cast("array<double>").as("__pv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cent: Seq[(Int, Seq[Double])] = pts.orderBy("__pid").limit(k).collect()
        .zipWithIndex.map { case (r, i) => (i, r.getSeq[Double](1)) }.toSeq
      var i = 0
      while (i < iters) {
        // one shuffle of k ROWS per round: the VectorSum aggregate
        // partial-sums dim-length arrays map-side (posexplode would
        // multiply the shuffle row count by dim); k sums + counts
        // collect and the division to means happens on the driver
        cent = pts
          .select(nearestCid(col("__pv"), cent).as("cid"), col("__pv"))
          .groupBy("cid")
          .agg(graft.functions.VectorFunctions.vectorSum(col("__pv")).as("__s"),
            count(col("__pv")).as("__n")) // same non-null population as the sum
          .collect()
          .map { r =>
            val n = r.getLong(2).toDouble
            (r.getInt(0), r.getSeq[Double](1).map(_ / n))
          }.toSeq.sortBy(_._1)
        i += 1
      }
      cent.toDF("cid", "cv").select(col("cid"), col("cv").cast("array<double>").as("cv"))
    } finally pts.unpersist(blocking = false)
  }

  /** Assign each point to its nearest centroid. Kept for API parity with
    * a DataFrame codebook; collects the (small) codebook and runs the
    * same literal-centroid expression as training. */
  def assign(pts: DataFrame, centroids: DataFrame): DataFrame =
    pts.select(col("__pid"), nearestCid(col("__pv"), collectCodebook(centroids)).as("cid"))

  private[pipeline] def collectCodebook(centroids: DataFrame): Seq[(Int, Seq[Double])] =
    centroids.select(col("cid"), col("cv").cast("array<double>"))
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq

  /**
   * ANN search: probe the `nProbe` nearest cells per query, exact cosine
   * top-k within the probed cells only. Cell assignment on both sides is
   * the literal-codebook expression; the only shuffle joins queries to
   * corpus on the cell id — candidates per query shrink by roughly
   * k/nProbe versus brute force.
   */
  def search(embs: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             qIdCol: String, centroids: DataFrame, topK: Int, nProbe: Int,
             broadcastQueries: Boolean = true): DataFrame = {
    val cent = collectCodebook(centroids)
    val corpus = embs.select(col(idCol).as("__pid"), col(vecCol).cast("array<double>").as("__pv"))
      .withColumn("cid", nearestCid(col("__pv"), cent))

    val q = queries.select(col(qIdCol).as("__qid"), col(vecCol).cast("array<double>").as("__qv"))
    val qCells = q
      .select(col("__qid"), col("__qv"),
        explode(probeCids(col("__qv"), cent, nProbe)).as("cid"))

    // `broadcastQueries = true` (the bounded-query-batch default): plain
    // cell equi-join — the planner broadcasts the small probe side and
    // every corpus partition streams against it in parallel, so a hot
    // cell cannot serialize work and a skew guard would only add a
    // corpus pass. `false` (bulk regime: queries ~ corpus scale, e.g.
    // kNN-graph construction, where BOTH sides shuffle on the cell id):
    // the asymmetric SaltedIndex cover — the corpus assignment is pinned
    // once (census + join both read the checkpoint), hot cells salted,
    // queries replicate to a hot cell's s salts — so one
    // dominant-direction cell can no longer pin |queries probing it| ×
    // pop scoring on one task. Cold corpora: empty hot table, 1×
    // replication. StressBench `idxskew` probes the redistribution.
    val joined =
      if (broadcastQueries) qCells.join(corpus, "cid")
      else {
        val cap = graft.pipeline.Dedup.capConf(
          embs.sparkSession, "graft.semdedup.cellCap", 8192L)
        // pin, not the declarative salt: the census would otherwise
        // recompute the full per-row nearestCid assignment — k distance
        // evaluations per corpus row, the most expensive stage of the
        // search — a second time as the join input (the same
        // compute-once contract as ivfAdcTopK / dedupAgainstCorpus)
        val (corpusSalted, hot, ids) = graft.pipeline.SaltedIndex.pin(
          corpus, "cid", col("__pid"), cap)
        graft.api.Pinned.register(embs.sparkSession, ids)
        graft.pipeline.SaltedIndex.replicate(qCells, hot, "cid")
          .join(corpusSalted, Seq("cid", "__sg"))
      }
    val scored = joined
      .filter(col("__pid") =!= col("__qid"))
      .withColumn("cos", Similarity.cosine(col("__qv"), col("__pv")))
      .filter(col("cos").isNotNull) // zero-norm vectors rank in NEITHER face
    // Rank with the bounded-heap aggregate, not a window: a window ships
    // EVERY candidate (cell population × nProbe per query) through the
    // rank exchange and sorts each query's full candidate set; the
    // partial-aggregated k-heap bounds the exchange to queries × k
    // entries, merged map-side where the candidates are formed — the same
    // (cos desc, id asc) total order, so ranks are identical
    // (bruteForceTopKPartial's lowering). Non-integral corpus ids fall
    // back to the window formulation (the heap entry is an (id, score)
    // pair).
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val pType = corpus.schema("__pid").dataType
    pType match {
      case LongType | IntegerType | ShortType | ByteType =>
        scored.select(col("__qid"), col("__pid").cast("long").as("__id"), col("cos"))
          .groupBy(col("__qid"))
          .agg(graft.functions.VectorFunctions.topKByScore(
            col("__id"), col("cos"), topK).as("__top"))
          .select(col("__qid"), posexplode(col("__top")))
          .select(col("__qid").as(qIdCol), col("col.id").cast(pType).as(idCol),
            round(col("col.cos"), 6).as("cos"), (col("pos") + 1).cast("int").as("rn"))
      case _ =>
        scored.withColumn("__rk", row_number().over(
            org.apache.spark.sql.expressions.Window.partitionBy("__qid")
              .orderBy(col("cos").desc, col("__pid"))))
          .filter(col("__rk") <= topK)
          .select(col("__qid").as(qIdCol), col("__pid").as(idCol),
            round(col("cos"), 6).as("cos"), col("__rk").as("rn"))
    }
  }

  /** Dual-mode [[search]] — similarity search at ingest: query vectors
    * arrive as a stream and probe a STATIC indexed corpus. Batch
    * delegates to `search` (the q_ivf_ann oracle face); streaming
    * assigns the corpus its cell ids ONCE (localCheckpoint, registered
    * with `Pinned` — the static side of a stream-static join re-plans
    * every micro-batch otherwise), explodes each arriving query to its
    * nProbe cell ids (literal-codebook expressions, no shuffle), equi-
    * joins the pinned corpus on the cell id, and takes the exact top-k
    * per query in the stateless per-batch combine (every candidate row
    * derives from its own query row — one micro-batch; zero state-store
    * rows). Queries whose probed cells are empty produce no output in
    * either mode (inner join).
    *
    * `broadcastCorpus = true` suits corpora whose (id, vector, cid) frame
    * fits executor memory. At cluster scale set it false and store the
    * corpus BUCKETED by cell id: the per-batch join then shuffles only
    * the (small) query micro-batch to the co-located corpus buckets. */
  /** Output schema of [[search]]/[[searchIngest]] (names + types) — the
    * single source `Program.validate` resolves against (IngestProgramSpec
    * pins this equal to the real operator's schema). */
  def searchOutputSchema(qIdCol: String, qType: org.apache.spark.sql.types.DataType,
      idCol: String, pType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(qIdCol, qType), StructField(idCol, pType),
      StructField("cos", DoubleType), StructField("rn", IntegerType, nullable = false)))
  }

  def searchIngest(queries: graft.api.MStream, embs: DataFrame,
                   idCol: String, vecCol: String, qIdCol: String,
                   centroids: DataFrame, topK: Int, nProbe: Int,
                   broadcastCorpus: Boolean = true): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    val df = queries.df
    if (!df.isStreaming)
      // beyond-broadcast (`broadcastCorpus = false`) means the batch join
      // shuffles both sides too — forward it so the bulk face's hot-cell
      // cover engages, mirroring the streaming face below
      return new graft.api.MStream(
        search(embs, df, idCol, vecCol, qIdCol, centroids, topK, nProbe,
          broadcastQueries = broadcastCorpus),
        queries.eventOrder, queries.contextKeys, queries.name)
    require(topK > 0 && nProbe > 0, s"need topK > 0 and nProbe > 0, got $topK/$nProbe")
    val cent = collectCodebook(centroids)
    val corpusPlan = embs
      .select(col(idCol).as("__pid"), col(vecCol).cast("array<double>").as("__pv"))
      .withColumn("cid", nearestCid(col("__pv"), cent))
    // shuffled face: salt the pinned corpus's hot cells at pin time (the
    // stream-static sibling of Dedup's bipartite cover — a hot cell's
    // query×corpus candidate scoring spreads over s tasks per micro-batch
    // instead of one); queries replicate to every salt via the broadcast
    // hot-cell table. Broadcast face is skew-immune, no census.
    val (corpus, hotCells, cIds) =
      if (broadcastCorpus) {
        val (c, i) = graft.api.Pinned.checkpointTracked(corpusPlan)
        (c, None, i)
      } else {
        val cap = graft.pipeline.Dedup.capConf(
          df.sparkSession, "graft.semdedup.cellCap", 8192L)
        val (c, hot, i) = SaltedIndex.pin(corpusPlan, "cid", col("__pid"), cap)
        (c, Some(hot), i)
      }
    graft.api.Pinned.register(df.sparkSession, cIds)
    val qCells = df
      .select(col(qIdCol).as("__qid"), col(vecCol).cast("array<double>").as("__qv"))
      .select(col("__qid"), col("__qv"),
        explode(probeCids(col("__qv"), cent, nProbe)).as("cid"))
    val qSalted = hotCells match {
      case None => qCells
      case Some(hot) => SaltedIndex.replicate(qCells, hot, "cid")
    }
    val scored = qSalted
      .join(if (broadcastCorpus) broadcast(corpus) else corpus,
        if (broadcastCorpus) Seq("cid") else Seq("cid", "__sg"))
      .filter(col("__pid") =!= col("__qid"))
      .select(col("__qid"), col("__pid"),
        Similarity.cosine(col("__qv"), col("__pv")).as("__cos"))
      // zero-norm vectors rank in neither face (and getDouble on a null
      // __cos would NPE the combine)
      .filter(col("__cos").isNotNull)
    val qType = df.schema(qIdCol).dataType
    val pType = embs.schema(idCol).dataType
    val outT = StructType(Seq(
      StructField("__qid", qType), StructField("__pid", pType),
      StructField("__cos", DoubleType), StructField("rn", IntegerType, nullable = false)))
    val outEnc: Encoder[Row] = RowEncoder.encoderFor(outT)
    val pidIdx = scored.schema.fieldIndex("__pid")
    val cosIdx = scored.schema.fieldIndex("__cos")
    val k = topK
    // (cos desc, pid asc) — the batch window's exact order, so the two
    // faces pick identical top-k sets and ranks
    val ord = new Ordering[Row] {
      def compare(a: Row, b: Row): Int = {
        val c = java.lang.Double.compare(b.getDouble(cosIdx), a.getDouble(cosIdx))
        if (c != 0) c
        else a.get(pidIdx).asInstanceOf[Comparable[Any]].compareTo(b.get(pidIdx))
      }
    }
    val out = graft.streaming.PerBatchCombine(scored, Seq("__qid"), outEnc) {
        (key: Row, it: Iterator[Row]) =>
          // bounded top-k heap, the BoundedTopK posture: never holds more
          // than k candidates however many cells a hot query probes
          val heap = new java.util.PriorityQueue[Row](k + 1, ord.reverse)
          it.foreach { r => heap.add(r); if (heap.size > k) heap.poll() }
          val top = Array.fill(heap.size)(heap.poll()).reverse
          top.iterator.zipWithIndex.map { case (r, i) =>
            Row(key.get(0), r.get(pidIdx), r.getDouble(cosIdx), i + 1)
          }
      }
      .select(col("__qid").as(qIdCol), col("__pid").as(idCol),
        round(col("__cos"), 6).as("cos"), col("rn"))
    new graft.api.MStream(out, queries.eventOrder, queries.contextKeys, queries.name)
  }
}
