package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines. Every variant is a
 * pure DataFrame pipeline (shuffle count noted per operator) designed to
 * survive a 100 TB corpus: no driver collects, no all-pairs comparisons
 * outside LSH buckets, per-doc work bounded by document length.
 *
 * Algorithms are the classic public ones: MinHash resemblance sketching
 * (Broder, "On the resemblance and containment of documents", 1997) with
 * banded LSH (Leskovec/Rajaraman/Ullman, "Mining of Massive Datasets"
 * ch. 3), and SimHash (Charikar, "Similarity estimation techniques from
 * rounding algorithms", 2002).
 */
object Dedup {

  /** Exact dedup: one representative (min id) per identical text. One
    * shuffle whose key is `xxhash64(text)` — 8 bytes per row, the corpus
    * text never shuffles. A salted second hash is min/max-checked per
    * group: any 64-bit collision between distinct texts would disagree in
    * the salted hash too only with ~2⁻¹²⁸ probability, so the check
    * raises instead of silently merging distinct documents. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val salted = xxhash64(col(textCol), lit(0x5bd1e995))
    docs.groupBy(xxhash64(col(textCol)).as("__th"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"),
        min(salted).as("__v1"), max(salted).as("__v2"))
      .filter(assert_true(col("__v1") === col("__v2"),
        lit("xxhash64 collision in Dedup.exact: distinct texts share a hash")).isNull)
      .select(col("keep_id"), col("n_copies"))
  }

  /** Exact cross-corpus dedup at ingest, Bloom-pre-screened: drop every
    * arriving document whose text EXACTLY equals some reference
    * document's ("has the training set already seen this literal
    * document" — the membership screen that runs in front of the
    * near-dup pipeline). The reference folds once into two pinned
    * artifacts: a [[graft.functions.BloomAgg]] filter over
    * `xxhash64(text)` (OR-mergeable, map-side combined — the shuffle
    * carries one bit-array per partition) and the distinct
    * (hash, salted-hash) key set. Arrivals then pay a zero-shuffle
    * codegen'd filter probe; only the tiny might-contain slice — true
    * duplicates plus the filter's ~(1-e^{-kn/m})^k false positives —
    * reaches the exact confirm join, so the Bloom can only PRUNE, never
    * change the answer. Matching is on the (xxhash64, salted xxhash64)
    * key pair, the [[exact]] collision posture: the text itself never
    * shuffles, and a false drop needs a simultaneous 2⁻¹²⁸ double
    * collision. Null-text arrivals never match (SQL equality semantics).
    *
    * Dual-mode: batch anti-join (q_exact_ingest carries the oracle);
    * streaming runs the same probe + one stateless stream-static join —
    * zero state-store rows. `droppedBecause` lineage edges (arrival →
    * each matching reference doc) go to the bound sink in both modes.
    *
    * Scale: the filter embeds in the plan as a literal — size it for a
    * plan, not an executor heap (the 2^23-bit cap is ~1 MB; at 10⁹+
    * reference docs ship the filter as a broadcast one-row frame and
    * probe the column instead, and set `broadcastRef=false` so the
    * confirm join shuffles against a key-bucketed reference table). */
  def exactDedupAgainstCorpus(stream: graft.api.MStream, refDocs: DataFrame,
                              idCol: String, textCol: String,
                              numBits: Int = 1 << 20, numHashes: Int = 7,
                              broadcastRef: Boolean = true): graft.api.MStream = {
    require(numBits <= (1 << 23),
      s"exactDedupAgainstCorpus keeps the $numBits-bit filter as a plan literal; " +
        "beyond 2^23 bits route the probe through a broadcast join instead")
    require(!refDocs.isStreaming,
      "exactDedupAgainstCorpus needs a batch reference corpus")
    val vf = graft.functions.VectorFunctions
    val df = stream.df
    val spark = df.sparkSession
    val dropOp = "droppedBecause:exactDedupAgainstCorpus"
    def salted(c: org.apache.spark.sql.Column) = xxhash64(c, lit(0x5bd1e995))

    // reference artifacts: one pass, filter + distinct key pairs
    val refKeyed = refDocs.where(col(textCol).isNotNull)
      .select(xxhash64(col(textCol)).as("__k1"), salted(col(textCol)).as("__k2"),
        col(idCol).as("__rid"))
    val bfLit = typedLit(refDocs.where(col(textCol).isNotNull)
      .agg(vf.bloomAgg(xxhash64(col(textCol)), numBits, numHashes).as("bf"))
      .head().getSeq[Long](0))

    val tagged = df.withColumn("__k1", xxhash64(col(textCol)))
      .withColumn("__k2", salted(col(textCol)))
    // null text hashes to the seed value but can never equal a reference
    // text under SQL semantics — gate it out of the candidate slice
    val might = vf.bloomContains(bfLit, col("__k1"), numHashes) && col(textCol).isNotNull
    val clear = tagged.filter(!might).drop("__k1", "__k2")
    val cand = tagged.filter(might)

    if (!df.isStreaming) {
      val out = graft.api.Lineage.current(spark) match {
        case Some(rec) =>
          // the pair frame feeds the edge frame AND the matched set —
          // checkpoint once so the sink write never re-runs the probe join
          val (cp, ids) = graft.api.Pinned.checkpointTracked(
            cand.join(refKeyed, Seq("__k1", "__k2")).select(col(idCol), col("__rid")))
          graft.api.Pinned.register(spark, ids)
          rec.add(cp.select(lit(dropOp).as("op"),
            xxhash64(struct(col(idCol))).as("output_id"),
            xxhash64(struct(col("__rid"))).as("input_id")))
          val matched = cp.select(col(idCol)).distinct()
          clear.unionByName(
            cand.drop("__k1", "__k2").join(matched, Seq(idCol), "left_anti"))
        case None =>
          clear.unionByName(
            cand.join(refKeyed.select(col("__k1"), col("__k2")).distinct(),
                Seq("__k1", "__k2"), "left_anti")
              .drop("__k1", "__k2"))
      }
      return stream.lift(out)
    }

    // streaming: pin the distinct key set once; the probe is a zero-state
    // projection, the confirm a stateless stream-static join
    val (refKeys, rkIds) = graft.api.Pinned.checkpointTracked(
      refKeyed.select(col("__k1"), col("__k2")).distinct().withColumn("__hit", lit(true)))
    graft.api.Pinned.register(spark, rkIds)
    graft.api.Lineage.current(spark).foreach { rec =>
      val (refFull, rfIds) = graft.api.Pinned.checkpointTracked(refKeyed)
      graft.api.Pinned.register(spark, rfIds)
      rec.add(cand.join(
          if (broadcastRef) broadcast(refFull) else refFull, Seq("__k1", "__k2"))
        .select(lit(dropOp).as("op"),
          xxhash64(struct(col(idCol))).as("output_id"),
          xxhash64(struct(col("__rid"))).as("input_id")))
    }
    val surv = cand
      .join(if (broadcastRef) broadcast(refKeys) else refKeys, Seq("__k1", "__k2"), "left")
      .filter(col("__hit").isNull)
      .drop("__hit", "__k1", "__k2")
    stream.lift(clear.unionByName(surv))
  }

  /** C4-style corpus-wide duplicate-line scrub (Raffel et al. 2020 §2.2:
    * boilerplate lines repeated across pages): every line that occurs
    * more than once in the corpus keeps only its FIRST occurrence
    * (global (id, pos) order — deterministic under any partitioning) and
    * is dropped everywhere else. Lines under `minWords` words (menu
    * fragments, blank separators) never participate — they are kept
    * verbatim so document structure survives.
    *
    * Scale shape, same as [[exact]]: the duplicate grouping keys on the
    * 8-byte `xxhash64(line)` — the shuffle carries hashes + (id, pos)
    * structs, never line text — with a salted second hash as a collision
    * guard that fails loudly rather than merging distinct lines. The
    * rebuild is one groupBy(id) with an in-group sort; per-document line
    * counts bound the collect_list.
    *
    * Output: (idCol, n_lines, n_dropped, scrubbed) — `scrubbed` is the
    * document with surviving lines re-joined by newline, in order. */
  def scrubDuplicateLines(docs: DataFrame, idCol: String, textCol: String,
                          minWords: Int = 3): DataFrame =
    scrubDuplicateUnits(docs, idCol, textCol, minWords, "\n", "n_lines",
      "scrubDuplicateLines")

  /** PARAGRAPH-granularity corpus-wide duplicate scrub — C4 dedups at
    * both granularities (Raffel et al. 2020 §2.2 scrub repeated lines;
    * the paragraph face catches boilerplate blocks — cookie banners,
    * license headers — whose individual lines vary too little to clear
    * `minWords` or vary in wrapping): [[scrubDuplicateLines]] with the
    * unit = a blank-line-separated paragraph. A paragraph occurring more
    * than once in the corpus keeps only its FIRST occurrence (global
    * (id, pos) order); paragraphs under `minWords` words never
    * participate. Same 8-byte-hash shuffle shape and collision guard.
    *
    * Output: (idCol, n_paras, n_dropped, scrubbed) — surviving
    * paragraphs re-joined by the blank-line separator, in order. */
  def scrubDuplicateParagraphs(docs: DataFrame, idCol: String, textCol: String,
                               minWords: Int = 3): DataFrame =
    scrubDuplicateUnits(docs, idCol, textCol, minWords, "\n\n", "n_paras",
      "scrubDuplicateParagraphs")

  /** The shared unit scrubber behind [[scrubDuplicateLines]] (sep "\n")
    * and [[scrubDuplicateParagraphs]] (sep "\n\n"): split on the literal
    * separator, keep the first corpus-wide occurrence of each
    * participating unit, rebuild with the same separator. */
  private def scrubDuplicateUnits(docs: DataFrame, idCol: String, textCol: String,
                                  minWords: Int, sep: String, nCol: String,
                                  opLabel: String): DataFrame = {
    require(minWords >= 1, s"$opLabel needs minWords >= 1, got $minWords")
    val id = col(idCol)
    val lines = docs.select(id,
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep), -1))
        .as(Seq("__pos", "__line")))
    val isSub = size(graft.pipeline.TextOps.words(col("__line"))) >= minWords
    val salted = xxhash64(col("__line"), lit(0x517cc1b7L))
    val firsts = lines.where(isSub)
      .groupBy(xxhash64(col("__line")).as("__lh"))
      .agg(min(struct(id.as("i"), col("__pos").as("p"))).as("__first"),
        min(salted).as("__v1"), max(salted).as("__v2"))
      .filter(assert_true(col("__v1") === col("__v2"),
        lit(s"xxhash64 collision in $opLabel: distinct units share a hash")).isNull)
      .select(col("__lh"), col("__first"))
    val tagged = lines
      .withColumn("__sub", isSub)
      .withColumn("__lh", xxhash64(col("__line")))
      .join(firsts, Seq("__lh"), "left")
      .withColumn("__keep", !col("__sub") ||
        (col("__first.i") === id && col("__first.p") === col("__pos")))
    // droppedBecause lineage: each scrubbed unit occurrence links to the
    // first occurrence that kept it — identity is (doc, pos), the only
    // stable key a dropped unit has
    graft.api.Lineage.current(docs.sparkSession).foreach { rec =>
      rec.add(tagged.where(!col("__keep")).select(
        lit(s"droppedBecause:$opLabel").as("op"),
        xxhash64(struct(id, col("__pos"))).as("output_id"),
        xxhash64(struct(col("__first.i"), col("__first.p"))).as("input_id")))
    }
    tagged.groupBy(id)
      .agg(count(lit(1)).as(nCol),
        sum(when(col("__keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(transform(
          sort_array(collect_list(when(col("__keep"),
            struct(col("__pos"), col("__line"))))),
          x => x.getField("__line")), sep).as("scrubbed"))
  }

  /** One pass over the corpus text: (id, word-n-gram shingle hashes),
    * closed by a `repartition(id)` exchange. Every minhash pipeline stage
    * (signature, band keys, verification sets) branches off this ONE
    * materialized exchange instead of re-scanning and re-shingling the
    * text per branch — the text itself never shuffles, only 8-byte hash
    * arrays do. */
  private def hashedDocs(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3): DataFrame =
    docs.select(col(idCol),
        graft.functions.VectorFunctions.wordShingleHashes(col(textCol), n).as("__hs"))
      .repartition(col(idCol))

  /** MinHash signature columns (mh0..mhk-1) from a pre-hashed frame. */
  private def minhashSignatureOverHashes(hashed: DataFrame, idCol: String,
                                         k: Int): DataFrame = {
    val sig = graft.functions.VectorFunctions.minhashSignature(col("__hs"), k)
    // explode(array(sig)) is a deliberate Generate barrier: without it,
    // CollapseProject inlines the signature into every element_at below
    // and the whole k-pass evaluates once PER REFERENCED ELEMENT.
    hashed.select(col(idCol), explode(array(sig)).as("__mhs"))
      // docs with no shingles (under n words) have no signature — same as
      // the explode formulation, and it keeps them out of a shared bucket
      .filter(element_at(col("__mhs"), 1) =!= Long.MaxValue)
      .select(col(idCol) +: (0 until k).map(j => element_at(col("__mhs"), j + 1).as(s"mh$j")): _*)
  }

  /** MinHash signature: k portable minhashes over word-3-gram shingles,
    * computed in one pass per document (`MinHashSignature` expression) —
    * no explode, no shuffle; the signature never leaves the row. */
  def minhashSignature(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    minhashSignatureOverHashes(hashedDocs(docs, idCol, textCol), idCol, k)

  /** Positive-integer conf with a NAMED contract error: malformed or
    * out-of-range values fail citing the conf key, not with a bare
    * NumberFormatException from somewhere inside a plan build. */
  private def parsedLongConf(spark: org.apache.spark.sql.SparkSession,
                             key: String, default: Long): Long =
    spark.conf.getOption(key).map { s =>
      try s.trim.toLong
      catch { case _: NumberFormatException => throw new IllegalArgumentException(
        s"$key must be an integer, got '$s'") }
    }.getOrElse(default)

  private[graft] def longConf(spark: org.apache.spark.sql.SparkSession,
                       key: String, default: Long): Long = {
    val v = parsedLongConf(spark, key, default)
    require(v > 0, s"$key must be positive, got $v")
    v
  }

  /** [[longConf]] narrowed to Int, with a named range error. */
  private[graft] def intConf(spark: org.apache.spark.sql.SparkSession,
                             key: String, default: Int): Int = {
    val v = longConf(spark, key, default)
    require(v <= Int.MaxValue, s"$key must fit an Int, got $v")
    v.toInt
  }

  /** Hot-key-cover cap conf: like [[longConf]] but 0 is the EXPLICIT
    * ESCAPE — it disables the cover entirely (plain key-equi join, no
    * census, no salt columns) for corpora whose key entropy is trusted
    * (pre-deduped inputs, bounded batches): the armored default still
    * costs a narrow checkpoint + a key-count stage even when no key is
    * hot (round 13's per-key window form measured 1.4-2.9x on the sf0.1
    * band joins; the r14 heavy-hitter census cut that to job floors,
    * ~+0.2 s steady per covered query). Negative still rejects. */
  private[graft] def capConf(spark: org.apache.spark.sql.SparkSession,
                             key: String, default: Long): Long = {
    val v = parsedLongConf(spark, key, default)
    require(v >= 0, s"$key must be >= 0 (0 disables the hot-key cover), got $v")
    v
  }

  /** The session's shuffle width as an explicit number — the width an
    * exchange would plan without AQE — for repartition calls that must
    * pin a stage against AQE partition coalescing. Falls back to the
    * default parallelism on runtimes where the conf is non-numeric. */
  private def pinnedWidth(spark: org.apache.spark.sql.SparkSession): Int =
    scala.util.Try(spark.conf.get("spark.sql.shuffle.partitions").trim.toInt)
      .filter(_ > 0)
      .getOrElse(spark.sparkContext.defaultParallelism)

  /** Hot-key-guarded candidate self-join — the shared skew armor of the
    * whole banded-dedup family (MinHash LSH bands, SimHash pigeonhole
    * chunks, SemDeDup IVF cells). Joins `e` to itself on `keyCol` with
    * the id-ordered pair predicate; any key whose population exceeds
    * `cap` is sub-split by an exact salted TRIANGLE COVER:
    *
    * each member gets a deterministic salt `g = hash(id) mod s`
    * (s = ceil(pop/cap)) and emits itself into the s unordered salt
    * buckets it can meet a partner in: (min(g,j), max(g,j)) for j in
    * [0, s). Both join sides are the SAME exploded frame, keyed on
    * (key, bucket); the orientation predicate
    * `a.g < b.g  OR  (a.g = b.g AND bx = by AND a.id < b.id)`
    * generates every within-key id pair EXACTLY ONCE — a cross-salt
    * pair shares exactly one bucket (min,max) and is oriented by salt
    * order; a same-salt pair shares s buckets but only the diagonal
    * (bx = by) passes, oriented by id. The pair SET is identical to the
    * naive self-join; only the task shape changes: per-task pairs drop
    * from pop² to ~cap², spread over s(s+1)/2 buckets, at s× replication
    * of only the hot key's rows. This matters because boilerplate-heavy
    * corpora are the NORM at scale — millions of documents sharing one
    * band/chunk used to land that band's entire pair count in ONE task,
    * and AQE's byte-based skew split cannot see pair-count blowup.
    *
    * The split factor comes from a HEAVY-HITTER CENSUS, not a per-key
    * window (the round-13 shape): the input pins ONCE (a narrow
    * checkpoint — the RangedPrefix lesson: two consumers of one subtree
    * are differently-pruned branches that each recompute the upstream
    * banding), a partial-aggregated `groupBy(key).count()` keeps only
    * keys over the cap — EMPTY on a clean corpus, a handful of
    * boilerplate keys otherwise, bounded above by rows/cap — and joins
    * back LEFT onto the pinned rows (absent count = s = 1). The join is
    * deliberately unhinted: AQE sizes the completed count stage at
    * runtime and broadcasts the (normally tiny) hot table, so the
    * no-hot-key price is one map-side-combined count shuffle of bare
    * keys instead of round 13's full sort-shuffle of the projection
    * under a `count().over(partitionBy(key))` window (measured 1.4-2.9x
    * steady on the sf0.1 band joins); in the degenerate
    * beyond-broadcast case (10^8+ distinct hot keys) AQE keeps a
    * shuffled hash join, which costs exactly the old window exchange
    * without its sort. The SYMMETRY of the pair join is the other
    * load-bearing design choice: because the two join sides are
    * byte-identical subtrees, the pair exchange is built once and
    * reused (earlier asymmetric variants — lhs/rhs exploding different
    * salt ranges, or a cold/hot union — planned 2-4 independent copies
    * of the upstream projection and measured 2x on q_minhash_dedup at
    * sf0.1). When no key is hot every row gets s = 1, emits exactly one
    * bucket (0,0), and the join IS the plain key-equal id-ordered
    * self-join at 1x replication. The orientation predicate references
    * both sides in every conjunct, so the optimizer cannot push a
    * side-local filter down and break the symmetry.
    * Batch-only (corpus-wide census).
    *
    * BUILD-TIME EAGER (cap > 0): the census pins the input projection
    * with a localCheckpoint at PLAN-CONSTRUCTION time — building a
    * covered plan runs real Spark jobs and holds blocks until the
    * enclosing Pinned scope releases, the LM-node convention. Callers
    * that must stay job-free (schema-only validation, static plan
    * inspection — `graft.Explain`'s static mode documents this) should
    * set the cap conf to 0 or use `Program.validate`'s schema-only path.
    *
    * NULL keys are never split and never pair: the census joins back on
    * a null-rejecting Seq-column equi join, so a null-key row keeps
    * s = 1 regardless of how many null-key rows exist — which is
    * correct, because the null-rejecting PAIR join can never match them
    * either. Callers wanting null-key pairing must coalesce keys to a
    * sentinel first (no internal call site does).
    *
    * Returns the joined frame with sides aliased `a`/`b` for the caller
    * to project. Under the cover a bucket's pair ORIENTATION is
    * arbitrary, so callers must canonicalize ids with least/greatest and
    * keep only orientation-symmetric payloads (hamming, jaccard,
    * cosine). Input must not already carry __s/__g/__bx/__by/__kc columns
    * (all call sites are internal projections). */
  private[graft] def saltedSelfJoin(e0: DataFrame, keyCol: String, idCol: String,
                                    cap: Long,
                                    hint: Option[String] = None): DataFrame = {
    require(cap >= 0,
      s"saltedSelfJoin cap must be >= 0 (0 disables the cover), got $cap")
    def hinted(d: DataFrame): DataFrame = hint.map(d.hint(_)).getOrElse(d)
    // cap = 0: the EXPLICIT escape (set the cap conf to 0) for corpora
    // whose key entropy is trusted — the plain key-equal id-ordered
    // self-join, paying neither the census (checkpoint + key-count
    // stage even when no key is hot) nor the bucket machinery.
    // Same output contract: sides aliased a/b, every within-key id pair
    // exactly once.
    if (cap == 0L)
      return e0.as("a").join(hinted(e0.as("b")),
        col(s"a.$keyCol") === col(s"b.$keyCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
    // pin the projection ONCE: the census and the pair path are two
    // consumers, and unpinned they would be differently-pruned subtrees
    // each recomputing the upstream banding (no ReuseExchange)
    val spark = e0.sparkSession
    val (cp, cpIds) = graft.api.Pinned.checkpointTracked(e0)
    graft.api.Pinned.register(spark, cpIds)
    val hot = cp.groupBy(col(keyCol)).agg(count(lit(1)).as("__kc"))
      .filter(col("__kc") > cap)
    val e = cp
      .join(hot, Seq(keyCol), "left")
      .withColumn("__s",
        coalesce(ceil(col("__kc").cast("double") / cap).cast("int"), lit(1)))
      .drop("__kc")
      .withColumn("__g", pmod(xxhash64(col(idCol)), col("__s")).cast("int"))
      .withColumn("__b", explode(transform(
        sequence(lit(0), col("__s") - 1),
        j => struct(least(col("__g"), j).as("x"), greatest(col("__g"), j).as("y")))))
      .withColumn("__bx", col("__b.x")).withColumn("__by", col("__b.y"))
      .drop("__b")
      // Pin the pair-join exchange at explicit width. AQE's byte-based
      // partition COALESCING is the cover's mirror hazard: this shuffle
      // carries only ids and 8-byte keys, so a quadratic-BY-PAIRS join
      // stage looks tiny by bytes and the coalescer merges every bucket
      // the cover just distributed back into ONE task (observed at the
      // 10x probe: one 180s+ task while 31 cores idled). An explicit-N
      // repartition on the join keys has REPARTITION_BY_NUM origin,
      // which CoalesceShufflePartitions must not touch; it satisfies the
      // join's required distribution, so no second exchange is planned
      // and the b side still resolves to a ReusedExchange.
      .repartition(pinnedWidth(e0.sparkSession),
        col(keyCol), col("__bx"), col("__by"))
    e.as("a").join(hinted(e.as("b")),
      col(s"a.$keyCol") === col(s"b.$keyCol") &&
        col("a.__bx") === col("b.__bx") && col("a.__by") === col("b.__by") &&
        (col("a.__g") < col("b.__g") ||
          (col("a.__g") === col("b.__g") && col("a.__bx") === col("b.__by") &&
            col(s"a.$idCol") < col(s"b.$idCol"))))
  }

  /** Hot-key-guarded candidate CROSS join — the BIPARTITE sibling of
    * [[saltedSelfJoin]], guarding the new×reference band/cell joins
    * (cross-corpus MinHash dedup, IVF-routed embedding ingest with a
    * shuffled reference). A boilerplate band shared by m arriving and n
    * reference documents lands m×n candidate pairs in ONE task of a plain
    * key-equi join — the bipartite form of the same quadratic-task
    * hazard, and AQE's byte-based skew split cannot see it either.
    *
    * Lowering: the two inputs UNION under a side tag and ride the SAME
    * [[saltedSelfJoin]] triangle cover — the composite id
    * `struct(__side, id)` keeps ids unique even when the two corpora
    * share raw id values, the census is over the combined key
    * population (s = ceil((popL+popR)/cap)), and the side-inequality
    * filter keeps exactly the cross pairs (each generated EXACTLY once
    * by the cover's exactness property; same-side pairs are formed and
    * discarded inside the join task, the inherent price of the
    * symmetric one-exchange shape — bounded by the same cap²). Going
    * through the self-join inherits its whole plan contract: one
    * byte-identical subtree feeds both sides (runtime ReusedExchange —
    * a hand-rolled two-sided grid variant measured 3× on q_cross_dedup
    * because AQE would not reuse the top exchanges across the reuse
    * boundary), the explicit-width repartition pins the pair exchange
    * against AQE partition coalescing, and when no key is hot the plan
    * IS the plain key-equal join at 1× replication.
    *
    * Inputs must have IDENTICAL schemas (same id column name/type, same
    * key column, any union-compatible payload columns — payloads ride
    * the cover shuffles, so keep them to what verification needs) and
    * must not already carry __side/__uid/__s/__g/__bx/__by/__kc columns.
    * The cover's pair orientation is arbitrary, so the output is
    * re-projected canonically: every input column c returns as `l_c`
    * (the row from `l0`) and `r_c` (the row from `r0`). Batch-only
    * (corpus-wide census). */
  private[graft] def saltedCrossJoin(l0: DataFrame, r0: DataFrame,
                                     keyCol: String, idCol: String, cap: Long,
                                     hint: Option[String] = None): DataFrame = {
    require(l0.columns.sorted.sameElements(r0.columns.sorted),
      s"saltedCrossJoin needs identically-shaped sides, got " +
        s"${l0.columns.mkString(",")} vs ${r0.columns.mkString(",")}")
    val cols = l0.columns.toIndexedSeq
    val u = l0.withColumn("__side", lit(0))
      .unionByName(r0.withColumn("__side", lit(1)))
      .withColumn("__uid", struct(col("__side"), col(idCol)))
    val aIsLeft = col("a.__side") === 0
    saltedSelfJoin(u, keyCol, "__uid", cap, hint)
      .filter(col("a.__side") =!= col("b.__side"))
      .select(
        cols.map(c => when(aIsLeft, col(s"a.$c")).otherwise(col(s"b.$c")).as(s"l_$c")) ++
          cols.map(c => when(aIsLeft, col(s"b.$c")).otherwise(col(s"a.$c")).as(s"r_$c")): _*)
  }

  /** LSH banding: k minhashes → `bands` band keys; docs sharing any band
    * key become candidate pairs. Shuffles on the band key only — the
    * classic scalable near-dup candidate generator (no all-pairs) — with
    * the [[saltedSelfJoin]] triangle cover keeping any boilerplate-hot
    * band (population > `graft.dedup.bandCap`, default 8192) from
    * collapsing its quadratic candidate count into one task. */
  def lshCandidates(sig: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      val combined = (0 until rows).map(r => col(s"mh${b * rows + r}")).reduce((x, y) => x * 31L + y)
      struct(lit(b).as("band"), combined.as("bv"))
    }
    val e = sig.select(col(idCol), explode(array(bandCols: _*)).as("__bk"))
    val cap = capConf(sig.sparkSession, "graft.dedup.bandCap", 8192L)
    saltedSelfJoin(e, "__bk", idCol, cap, hint = Some("shuffle_hash"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"))
      .distinct()
  }

  /** Candidate generation + exact-Jaccard verification over a pre-hashed
    * frame — the shared core of `minhashNearDup` and `deduplicateCorpus`,
    * so both read the corpus text exactly once. */
  private def verifiedNearDupPairs(hashed: DataFrame, idCol: String,
                                   k: Int, bands: Int, threshold: Double): DataFrame = {
    val cands = lshCandidates(minhashSignatureOverHashes(hashed, idCol, k), idCol, k, bands)
    // verification over hashed shingles: sorted-long sets + the codegen'd
    // two-pointer merge, no shingle strings anywhere in the pipeline
    val sets = hashed.select(col(idCol), sort_array(array_distinct(col("__hs"))).as("__sh"))
    cands
      .join(sets.select(col(idCol).as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__sh").as("__shb")), "id_b")
      // early-abandoning merge: most LSH candidates are below threshold and
      // skip the bulk of their two-pointer walk (-1 sentinel < threshold)
      .withColumn("jaccard", graft.functions.VectorFunctions.jaccardSortedAtLeast(
        col("__sha"), col("__shb"), threshold))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 3).as("jaccard"))
  }

  /** Full MinHash+LSH near-dup pipeline: candidates from LSH, then exact
    * shingle-Jaccard verification of candidates only. */
  def minhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     k: Int, bands: Int, threshold: Double): DataFrame =
    verifiedNearDupPairs(hashedDocs(docs, idCol, textCol), idCol, k, bands, threshold)

  /** Cross-corpus near-dup: NEW documents whose resemblance to any
    * REFERENCE document reaches `threshold` — the incremental-update face
    * of [[minhashNearDup]] (dedup a fresh crawl against the existing
    * training set). Band keys join new×ref ONLY: the reference corpus —
    * typically orders of magnitude larger than the increment — never
    * pays its own ref×ref self-join, and at scale its signatures/shingle
    * sets are a precomputed artifact (pass the frames in; both sides
    * shuffle by band key / id only — 8-byte hashes, never text). */
  def crossCorpusNearDup(newDocs: DataFrame, refDocs: DataFrame,
                         idCol: String, textCol: String,
                         k: Int, bands: Int, threshold: Double): DataFrame = {
    val rows = k / bands
    val hn = hashedDocs(newDocs, idCol, textCol)
    val hr = hashedDocs(refDocs, idCol, textCol)
    def bandsOf(h: DataFrame, side: String): DataFrame = {
      val bandCols = (0 until bands).map { b =>
        val combined = (0 until rows).map(r => col(s"mh${b * rows + r}"))
          .reduce((x, y) => x * 31L + y)
        struct(lit(b).as("band"), combined.as("bv"))
      }
      minhashSignatureOverHashes(h, idCol, k)
        .select(col(idCol).as(side), explode(array(bandCols: _*)).as("__bk"))
    }
    // new×ref band join through the bipartite salted cover: a boilerplate
    // band shared by m new and n reference docs redistributes its m×n
    // candidates over bounded buckets instead of one task
    val cap = capConf(newDocs.sparkSession, "graft.dedup.bandCap", 8192L)
    val cands = saltedCrossJoin(bandsOf(hn, "__id"), bandsOf(hr, "__id"),
        "__bk", "__id", cap, hint = Some("shuffle_hash"))
      .select(col("l___id").as("id_new"), col("r___id").as("id_ref")).distinct()
    val setsN = hn.select(col(idCol).as("id_new"),
      sort_array(array_distinct(col("__hs"))).as("__sha"))
    val setsR = hr.select(col(idCol).as("id_ref"),
      sort_array(array_distinct(col("__hs"))).as("__shb"))
    cands.join(setsN, "id_new").join(setsR, "id_ref")
      .withColumn("jaccard", graft.functions.VectorFunctions.jaccardSortedAtLeast(
        col("__sha"), col("__shb"), threshold))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_ref"), round(col("jaccard"), 3).as("jaccard"))
  }

  /** Cross-corpus ingest dedup — the ingest-time face of
    * [[crossCorpusNearDup]] and the streaming sibling `scrubKnownSpans`'s
    * dual-mode design suggests: keep each arriving document iff NO
    * document of the static reference corpus resembles it at `threshold`
    * (word-3-gram shingle Jaccard over MinHash-banded candidates —
    * IDENTICAL verdict semantics to the batch pair query, so the two
    * faces agree row-for-row and the batch face carries the oracle).
    *
    * Batch lowering: [[crossCorpusNearDup]] pairs → left-anti survivors.
    * Streaming lowering: the reference's band-key index and sorted
    * shingle-hash sets localCheckpoint once (registered with
    * [[graft.api.Pinned]] — micro-batches re-read two hash frames, never
    * the reference text) and broadcast into two stream-static equi-joins
    * — completely STATELESS: no stream-side state store at all, unlike
    * [[ingestNearDup]]'s within-stream dedup. Each arriving doc explodes
    * to its band keys (`posexplode_outer`, so band-less short docs still
    * flow through and survive), candidates verify with the early-abandon
    * sorted-set merge, and the per-doc verdict folds in the same
    * stateless per-batch combine as banded ingest (all of a doc's rows
    * derive from its own input row, hence one micro-batch; docs sharing
    * an id within a micro-batch merge — same unique-id precondition as
    * `scrubKnownSpans`).
    *
    * Scale posture, a TESTED knob (`broadcastRef`): the default broadcast
    * face ships 8-byte hash artifacts per reference doc (bands band keys
    * + the distinct shingle set), never text — right while the reference
    * HASH artifacts fit executor memory. `broadcastRef = false` is the
    * beyond-broadcast face (the `Ivf.searchIngest` `broadcastCorpus` knob
    * generalized): the same two stream-static equi-joins run as shuffled
    * joins, so each micro-batch's exploded band keys exchange against the
    * band-keyed reference instead of pulling it into every executor —
    * identical verdicts (CrossCorpusSpec pins the two faces equal), still
    * zero state rows. On a cluster, bucket the persisted reference
    * artifacts by their join keys so the static side's exchange is not
    * re-shuffled per micro-batch. */
  def dedupAgainstCorpus(stream: graft.api.MStream, refDocs: DataFrame,
                         idCol: String, textCol: String,
                         k: Int, bands: Int, threshold: Double,
                         broadcastRef: Boolean = true): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    require(bands > 0 && k >= bands && k % bands == 0,
      s"need k a positive multiple of bands, got k=$k bands=$bands")
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    val df = stream.df
    // fixed operator label (like deduplicateCorpus/semanticDedup): a
    // stream-derived label would vary with the upstream node's name in
    // program-document runs, breaking consumers that filter on it
    val dropOp = "droppedBecause:dedupAgainstCorpus"
    if (!df.isStreaming) {
      val rawPairs = crossCorpusNearDup(df, refDocs, idCol, textCol, k, bands, threshold)
      // droppedBecause lineage (the deduplicateCorpus scheme): dropped
      // arrival -> each reference doc that matched it, ids = doc-key hash.
      // The pair frame feeds TWO consumers when recording (the edge frame
      // and the anti-join), so checkpoint it once — otherwise the lineage
      // sink write re-executes the whole LSH candidate pipeline
      val pairs = graft.api.Lineage.current(df.sparkSession) match {
        case Some(rec) =>
          val (cp, ids) = graft.api.Pinned.checkpointTracked(rawPairs)
          graft.api.Pinned.register(df.sparkSession, ids)
          rec.add(cp.select(lit(dropOp).as("op"),
            xxhash64(struct(col("id_new"))).as("output_id"),
            xxhash64(struct(col("id_ref"))).as("input_id")))
          cp
        case None => rawPairs
      }
      val matched = pairs.select(col("id_new").as(idCol)).distinct()
      return stream.lift(df.join(matched, Seq(idCol), "left_anti"))
    }

    val rows = k / bands
    val orig = df.columns.toIndexedSeq
    val payloadT = StructType(df.schema.fields)
    def bandKeyCols(mh: Int => org.apache.spark.sql.Column) =
      (0 until bands).map { b =>
        val combined = (0 until rows).map(r => mh(b * rows + r))
          .reduce((x, y) => x * 31L + y)
        struct(lit(b).as("band"), combined.as("bv"))
      }

    // reference artifacts: one pass over the reference corpus, pinned.
    // On the shuffled face (broadcastRef=false, beyond-broadcast
    // references) the band index is SALTED at pin time: a boilerplate
    // band holding n reference docs would otherwise route every arrival
    // carrying it — and all n of its verifications — through ONE task of
    // the per-micro-batch stream-static join. Reference rows of a band
    // over `graft.dedup.bandCap` get a deterministic salt
    // g = hash(rid) mod s (s = ceil(pop/cap), computed once here, batch
    // side); arrivals join the small pinned hot-band table (broadcast)
    // and replicate to all s salts, so each (arrival, ref) pair still
    // meets exactly once but a hot band's verifications spread over s
    // tasks. Cold bands (and the broadcast face, which is skew-immune)
    // keep s = 1 / skip the census entirely.
    val hr = hashedDocs(refDocs, idCol, textCol)
    val refBandsRaw = minhashSignatureOverHashes(hr, idCol, k)
      .select(col(idCol).as("__rid"),
        explode(array(bandKeyCols(j => col(s"mh$j")): _*)).as("__bk"))
    val (refBands, hotBands, saltIds) =
      if (broadcastRef) {
        val (rb, ids) = graft.api.Pinned.checkpointTracked(refBandsRaw)
        (rb, None, ids)
      } else {
        val cap = capConf(df.sparkSession, "graft.dedup.bandCap", 8192L)
        val (rb, hot, ids) = SaltedIndex.pin(refBandsRaw, "__bk", col("__rid"), cap)
        (rb, Some(hot), ids)
      }
    val (refSets, rsIds) = graft.api.Pinned.checkpointTracked(
      hr.select(col(idCol).as("__rid"),
        sort_array(array_distinct(col("__hs"))).as("__shb")))
    graft.api.Pinned.register(df.sparkSession, saltIds ++ rsIds)

    // arriving side: signature behind an explode barrier (the same
    // Generate trick as minhashSignatureOverHashes — without it every
    // element_at below would re-run the whole k-pass sketch)
    val base = df
      .withColumn("__hs",
        graft.functions.VectorFunctions.wordShingleHashes(col(textCol), 3))
      .withColumn("__sha", sort_array(array_distinct(col("__hs"))))
      .select(col("*"), explode(array(
        graft.functions.VectorFunctions.minhashSignature(col("__hs"), k))).as("__mhs"))
    val bkType = ArrayType(StructType(Seq(
      StructField("band", IntegerType, nullable = false),
      StructField("bv", LongType))))
    val withBands = base.withColumn("__bks",
      when(element_at(col("__mhs"), 1) =!= Long.MaxValue,
        array(bandKeyCols(j => element_at(col("__mhs"), j + 1)): _*))
        .otherwise(lit(null).cast(bkType)))

    val arrBands = withBands
      .select(col(idCol).as("__id"), col("__sha"),
        struct(orig.map(col): _*).as("__payload"),
        posexplode_outer(col("__bks")).as(Seq("__pos", "__bk")))
      .select(col("__id"), col("__sha"),
        when(col("__pos").isNull || col("__pos") === 0, col("__payload"))
          .otherwise(lit(null).cast(payloadT)).as("__payload"),
        col("__bk"))
    // arrivals replicate to every salt of a hot reference band (cold
    // bands: the 1-element sequence, one row); the broadcast face skips
    // the hot table and probes salt 0 directly
    val arrSalted = hotBands match {
      case None => arrBands
      case Some(hot) => SaltedIndex.replicate(arrBands, hot, "__bk")
    }
    val scoredV = arrSalted
      .join(if (broadcastRef) broadcast(refBands) else refBands,
        if (broadcastRef) Seq("__bk") else Seq("__bk", "__sg"), "left")
      .join(if (broadcastRef) broadcast(refSets) else refSets, Seq("__rid"), "left")
      .select(col("__id"), col("__payload"), col("__rid"),
        coalesce(graft.functions.VectorFunctions.jaccardSortedAtLeast(
          col("__sha"), col("__shb"), threshold) >= threshold, lit(false)).as("__m"))
    // droppedBecause lineage, streaming: the matched (arrival, reference)
    // verdict rows ARE the drop explanations — register them as a
    // streaming edge frame (stateless: the same stream-static joins,
    // re-planned by the lineage sink query). A pair surfacing via several
    // band keys repeats its edge; readers treat edges as a set.
    graft.api.Lineage.current(df.sparkSession).foreach { rec =>
      rec.add(scoredV.filter(col("__m")).select(lit(dropOp).as("op"),
        xxhash64(struct(col("__id"))).as("output_id"),
        xxhash64(struct(col("__rid"))).as("input_id")))
    }
    val u = scoredV.select(col("__id"), col("__payload"), col("__m"))

    val payloadEnc: Encoder[Row] = RowEncoder.encoderFor(payloadT)
    val payIdx = u.schema.fieldIndex("__payload")
    val mIdx = u.schema.fieldIndex("__m")
    // stateless per-batch combine (banded-ingest pattern): OR the
    // candidate verdicts, emit the payload of unmatched docs
    val out = graft.streaming.PerBatchCombine(u, Seq("__id"), payloadEnc) {
        (_: Row, it: Iterator[Row]) =>
          val rows = it.toList
          val matched = rows.exists(_.getBoolean(mIdx))
          val payload = rows.collectFirst { case r if !r.isNullAt(payIdx) => r.getStruct(payIdx) }
          if (!matched && payload.nonEmpty) Iterator.single(payload.get)
          else Iterator.empty
      }
    stream.lift(out)
  }

  /** Containment near-dup pairs (RefinedWeb-style): containment
    * C(a→b) = |S(a) ∩ S(b)| / |S(a)| over word-3-gram shingle sets —
    * ASYMMETRIC, so both directions are reported; a high C(a→b) with a
    * low Jaccard is exactly the "small document copied inside a larger
    * one" case a symmetric Jaccard threshold misses. Candidates come from
    * the SAME MinHash banding as `minhashNearDup` (band-key join, never
    * all-pairs; signature exchange reused) — the standard practice of
    * verifying containment on minhash-bucket candidates, with the honest
    * recall caveat that banding keys on RESEMBLANCE: a tiny doc inside a
    * huge one has low Jaccard and may not surface as a candidate (raise
    * `bands` toward `k` to push recall; a dedicated containment index is
    * out of scope). Verification is one codegen'd sorted-set intersection
    * per candidate. */
  def containmentNearDup(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, bands: Int, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    val hashed = hashedDocs(docs, idCol, textCol)
    val cands = lshCandidates(minhashSignatureOverHashes(hashed, idCol, k), idCol, k, bands)
    val sets = hashed.select(col(idCol), sort_array(array_distinct(col("__hs"))).as("__sh"))
    cands
      .join(sets.select(col(idCol).as("id_a"), col("__sh").as("__sha")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__sh").as("__shb")), "id_b")
      // candidates always have >= 1 shingle (signature-less docs never
      // reach a band bucket), so the divisors are never zero
      .withColumn("__inter", size(array_intersect(col("__sha"), col("__shb"))))
      .select(col("id_a"), col("id_b"),
        round(col("__inter").cast("double") / size(col("__sha")), 3).as("containment_a"),
        round(col("__inter").cast("double") / size(col("__shb")), 3).as("containment_b"))
      .filter(col("containment_a") >= threshold || col("containment_b") >= threshold)
  }

  /** Fuzzy (edit-distance) near-duplicate pairs, LSH-blocked — the
    * CCNet/RefinedWeb-style fuzzy dedup that exact-hash and
    * Jaccard-threshold variants miss (small in-place edits): MinHash
    * banding generates the candidate pairs (never all-pairs; same
    * signature exchange reuse as `minhashNearDup`), then a
    * THRESHOLD-CAPPED Levenshtein verifies each candidate — Spark's
    * 3-arg `levenshtein` returns -1 as soon as the distance provably
    * exceeds `maxDist`, turning the O(|a|·|b|) DP into O(maxDist·|a|)
    * per pair and bailing immediately on length mismatch. Candidates
    * bounded by LSH, per-pair work bounded by the threshold: scales. */
  def editDistanceNearDup(docs: DataFrame, idCol: String, textCol: String,
                          k: Int, bands: Int, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    // text rides the shared exchange here: the verification join must
    // shuffle it anyway, so carrying it costs nothing extra and the corpus
    // scans once (signature + candidate + text lookup off one exchange)
    val pre = docs.select(col(idCol), col(textCol),
        graft.functions.VectorFunctions.wordShingleHashes(col(textCol), 3).as("__hs"))
      .repartition(col(idCol))
    val cands = lshCandidates(minhashSignatureOverHashes(pre, idCol, k), idCol, k, bands)
    val texts = pre.select(col(idCol), col(textCol))
    cands
      .join(texts.select(col(idCol).as("id_a"), col(textCol).as("__ta")), "id_a")
      .join(texts.select(col(idCol).as("id_b"), col(textCol).as("__tb")), "id_b")
      .withColumn("dist", levenshtein(col("__ta"), col("__tb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** SimHash: 16-bit signature over word (unigram) hashes; near-dups share
    * signatures within small Hamming distance. The unigram special case of
    * [[simhashShingles]] — one codegen'd pass per document, no explode, no
    * shuffle (`SimHashUtil.signature` is spec-pinned to the per-bit
    * majority-vote aggregate the DuckDB oracle mirrors). */
  def simhash(docs: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame =
    simhashShingles(docs, idCol, textCol, n = 1, bits = bits)

  /** SimHash over word-n-gram shingle features (multiplicity-weighted, as
    * in Manku/Jain/Das Sarma WWW'07): far better separation than unigram
    * features when documents share a vocabulary, which is exactly the
    * near-dup regime. The whole signature computes in ONE codegen'd pass
    * per document (`SimHashBits` over the native shingle hashes) — no
    * explode, no shuffle anywhere in the signature stage. */
  def simhashShingles(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, bits: Int = 32): DataFrame =
    docs
      // docs under n words have no features — absent, as in the exploded
      // formulation (and the oracle's unnest)
      .filter(size(TextOps.words(col(textCol))) >= n)
      .select(col(idCol), graft.functions.VectorFunctions.simhashBits(
        graft.functions.VectorFunctions.wordShingleHashes(col(textCol), n), bits).as("simhash"))

  /** SimHash near-dup pairs within `maxHamming` bits: pigeonhole banding —
    * the signature splits into maxHamming+1 chunks, and any pair within
    * the Hamming budget agrees EXACTLY on at least one chunk, so the
    * bucket-join on (chunk index, chunk value) generates every true
    * candidate without all-pairs (the SimHash analog of LSH banding;
    * Manku/Jain/Das Sarma, "Detecting near-duplicates for web crawling",
    * WWW 2007). Shuffles on the chunk key only; verification is one
    * codegen'd XOR+popcount per candidate. */
  def simhashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     bits: Int = 32, maxHamming: Int = 2, shingleN: Int = 3): DataFrame =
    simhashPairs(simhashShingles(docs, idCol, textCol, shingleN, bits), idCol, bits, maxHamming)

  /** Pigeonhole chunk-key structs (ci, cv) for a SimHash column: the
    * signature splits into maxHamming+1 chunks, and any pair within the
    * Hamming budget agrees EXACTLY on at least one chunk (Manku WWW'07).
    * ONE generator shared by the batch pair sweep (`simhashPairs`) and the
    * streaming banded ingest, so the two lowerings — whose equivalence
    * StreamingMStreamScanSpec pins — cannot drift on chunk sizing. */
  private def pigeonholeChunks(sigCol: org.apache.spark.sql.Column,
                               bits: Int, maxHamming: Int): Seq[org.apache.spark.sql.Column] = {
    val nChunks = maxHamming + 1
    val sizes = (0 until nChunks).map(i => bits / nChunks + (if (i < bits % nChunks) 1 else 0))
    val offs = sizes.scanLeft(0)(_ + _)
    (0 until nChunks).map { i =>
      struct(lit(i).as("ci"),
        shiftright(sigCol, offs(i)).bitwiseAND(lit((1L << sizes(i)) - 1)).as("cv"))
    }
  }

  /** Pigeonhole pair generation over any (id, simhash) signature table.
    * Chunk populations above `graft.dedup.bandCap` (default 8192) take
    * the [[saltedSelfJoin]] triangle cover — a boilerplate-hot chunk
    * (identical headers/footers pushing millions of docs into one chunk
    * value) redistributes instead of going quadratic in one task. */
  def simhashPairs(sigs: DataFrame, idCol: String,
                   bits: Int, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < bits, s"need 0 <= maxHamming < bits")
    val chunkCols = pigeonholeChunks(col("simhash"), bits, maxHamming)
    val e = sigs.select(col(idCol), col("simhash"), explode(array(chunkCols: _*)).as("__ck"))
      .repartition(col("__ck"))
    val cap = capConf(sigs.sparkSession, "graft.dedup.bandCap", 8192L)
    val ham = expr("bit_count(__sa ^ __sb)")
    // shuffle_hash, not the planner's size-based broadcast: the build side
    // is the exploded corpus (broadcastable only at toy scale), and with
    // both sides shuffled on the chunk key ReuseExchange materializes the
    // signature scan once
    saltedSelfJoin(e, "__ck", idCol, cap, hint = Some("shuffle_hash"))
      // ids canonicalized least/greatest (cover buckets pair in arbitrary
      // orientation); hamming is XOR-symmetric so the payload is safe
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"),
        col("a.simhash").as("__sa"), col("b.simhash").as("__sb"))
      // verify BEFORE dedup: the XOR+popcount is ~free per candidate,
      // while distinct is a shuffle — filtering first shrinks the
      // deduplicated set from every chunk-collision candidate (narrow
      // chunks make these plentiful) to the true within-budget pairs
      .withColumn("hamming", ham)
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming").cast("int").as("hamming"))
      .distinct() // a pair can match in several chunks
  }

  /** Character-n-gram Jaccard near-dup within a blocking key (e.g. source):
    * all-pairs only inside blocks — use when a natural partition bounds
    * block size; otherwise prefer MinHash+LSH.
    *
    * The pair join is TRIANGLE-TILED per block: block b is hashed into
    * `G_b = ceil(|b| / sqrt(comparisonsPerTask))` groups and every
    * unordered group pair (i ≤ j) becomes one join bucket, so each task
    * performs ~comparisonsPerTask comparisons no matter how large or
    * skewed a block is, rows replicate G_b× (not #executors×), and
    * nothing corpus-sized is broadcast — only the per-block stats table
    * (one row per block) is. Small blocks get G=1, which degenerates to
    * the plain one-shuffle block join. */
  def ngramJaccardWithinBlocks(docs: DataFrame, idCol: String, textCol: String,
                               blockCol: String, n: Int, threshold: Double,
                               comparisonsPerTask: Long = 250000L): DataFrame = {
    // Hash each shingle to a long (one native pass over the text) and sort
    // ONCE per row — the O(pairs) stage is then a codegen'd two-pointer
    // merge over 8-byte longs (`JaccardSorted`) instead of per-pair
    // hash-set builds over strings.
    val hashed = sort_array(array_distinct(
      graft.functions.VectorFunctions.charShingleHashes(col(textCol), n)))
    val sets = docs.select(col(blockCol), col(idCol), hashed.as("__sh"))
    // Per-task work ceiling: G grows with block size so one task never
    // holds more than ~comparisonsPerTask pairs, whatever the skew.
    val par = docs.sparkSession.sparkContext.defaultParallelism
    val rawStats = sets.groupBy(col(blockCol)).agg(count(lit(1)).as("__bn"))
      .withColumn("__g0",
        when(col("__bn") <= 1, lit(1L)).otherwise(greatest(lit(1L),
          ceil(col("__bn") / lit(math.sqrt(comparisonsPerTask.toDouble))))).cast("long"))
    // Occupancy floor, applied ONLY when the ceiling alone would idle most
    // of the cluster (total pair-buckets sum G(G+1)/2 below parallelism:
    // past that point extra tiling buys little on the quadratic stage but
    // costs proportionally in shuffle replication). Round 2 used a blunt
    // per-block minimum of sqrt(2*par), which replicated every row ~8x at
    // local[32] even for small, well-distributed blocks; instead
    // distribute ~parallelism pair-buckets across blocks proportional to
    // each block's comparison mass (bn^2): gOcc_b = bn_b * sqrt(2*par /
    // sum(bn^2)), so sum gOcc^2/2 ~ par. A single hot block degenerates to
    // the old sqrt(2*par) floor; many blocks get gOcc~1 and skip
    // replication entirely. The one-row occupancy aggregate broadcasts.
    val occ = rawStats.agg(
      sum(col("__g0") * (col("__g0") + 1) / 2).as("__buckets0"),
      sum(when(col("__bn") <= 1, lit(0.0))
        .otherwise(col("__bn").cast("double") * col("__bn"))).as("__sumsq"))
    val gOcc = when(col("__bn") <= 1 || col("__buckets0") >= par, lit(1L))
      .otherwise(ceil(col("__bn") *
        sqrt(lit(2.0 * par) / greatest(col("__sumsq"), lit(1.0))))).cast("long")
    val stats = rawStats.crossJoin(broadcast(occ))
      .select(col(blockCol),
        least(col("__bn"), greatest(col("__g0"), gOcc)).cast("int").as("__ng"))
    val grouped = sets.join(broadcast(stats), blockCol)
      .withColumn("__grp", pmod(xxhash64(col(idCol)), col("__ng")).cast("int"))
    // replicate each row into its G triangle buckets: (i, g) for i <= g
    // plus (g, j) for j > g — every unordered group pair shares exactly
    // one bucket
    val low = transform(sequence(lit(0), col("__grp")),
      i => struct(i.cast("int").as("bi"), col("__grp").as("bj")))
    val high = when(col("__grp") + 1 <= col("__ng") - 1,
      transform(sequence(col("__grp") + 1, col("__ng") - 1),
        j => struct(col("__grp").as("bi"), j.cast("int").as("bj"))))
      .otherwise(array().cast("array<struct<bi:int,bj:int>>"))
    val buckets = grouped.withColumn("__bkt", explode(concat(low, high)))
    // a same-group pair appears in all G of its buckets; count it only on
    // the diagonal. A cross-group pair's groups match (bi, bj) in exactly
    // one orientation in its single shared bucket.
    val once = when(col("a.__bkt.bi") === col("a.__bkt.bj"),
        col("a.__grp") === col("a.__bkt.bi") && col("b.__grp") === col("a.__bkt.bi"))
      .otherwise((col("a.__grp") === col("a.__bkt.bi") && col("b.__grp") === col("a.__bkt.bj")) ||
                 (col("a.__grp") === col("a.__bkt.bj") && col("b.__grp") === col("a.__bkt.bi")))
    // shuffle_hash, not the planner's size-based choice: the build side is
    // the exploded corpus — broadcastable only at toy scale, and both
    // sides shuffling on (block, bucket) lets ReuseExchange materialize
    // the shingle sets once
    buckets.as("a").join(buckets.as("b").hint("shuffle_hash"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
        col("a.__bkt") === col("b.__bkt") && once &&
        col(s"a.$idCol") < col(s"b.$idCol"))
      // early-abandoning merge: the within-block pairs are mostly below
      // threshold; the remaining-overlap bound (and its first-step
      // size-ratio special case) skips most of the quadratic merge work
      .withColumn("jaccard", graft.functions.VectorFunctions.jaccardSortedAtLeast(
        col("a.__sh"), col("b.__sh"), threshold))
      .filter(col("jaccard") >= threshold)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(col("jaccard"), 3).as("jaccard"))
  }

  /** Near-dup pairs → duplicate CLUSTERS: distributed connected components
    * by alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SOCC 2014) — the MapReduce-native
    * algorithm: O(log n) rounds, each a window-min + projection with one
    * shuffle on the node key, no driver-side graph state, component-size
    * independent. This is the step that turns pairwise similarity output
    * (LSH, SimHash, n-gram Jaccard) into dedup decisions: every document
    * in a cluster maps to the cluster minimum as its representative.
    *
    * Each round materializes via `localCheckpoint` to keep the iterative
    * lineage flat (on a cluster, a reliable checkpoint dir does the same);
    * superseded rounds are unpersisted as they are replaced. The RETURNED
    * frame is itself checkpoint-pinned (one row per non-singleton node —
    * orders of magnitude smaller than the corpus) because its lineage
    * roots in a truncated checkpoint and must stay materialized; a session
    * running unbounded numbers of dedup jobs should unpersist superseded
    * results (`sc.getPersistentRDDs`) between jobs, as `Bench.isolate`
    * does. Returns (node, cluster_id = component min) for nodes appearing
    * in `pairs`; singletons are their own cluster by definition. */
  /** Iterations the most recent [[connectedComponents]] call in this JVM
    * took to converge — a diagnostic for the O(log n)-rounds claim
    * (StressBench prints it per scale point). Driver-side only. */
  @volatile var lastCcRounds: Int = -1

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          nodeOut: String = "node", clusterOut: String = "cluster_id",
                          maxIter: Int = 50): DataFrame = {
    // Edges live in DIRECTED high→low form throughout: each undirected
    // edge {a,b} is stored once as (u = max, v = min). Both stars read and
    // emit this form directly — a node's full-neighborhood minimum is its
    // downward minimum (upward neighbors are larger by construction), and
    // every large-star emission "larger neighbor y of x links to m(x)" is
    // indexed by exactly one stored edge (y, x). The symmetric
    // re-materialization the textbook formulation runs between stars
    // (union + distinct over 2|E|) disappears, and every per-round
    // aggregate/join runs over |E| rows instead of 2|E|.
    // Each round's localCheckpoint supersedes the previous one, but its
    // blocks stay pinned in the BlockManager for the session unless
    // explicitly unpersisted (round 2's bench artifact was contaminated by
    // exactly that). Track the RDDs each checkpoint persists (exact ids
    // off the checkpoint's own plan node, `Pinned.idsOf`) and drop a
    // round's blocks once its successor is materialized. Superseded
    // rounds are never re-read, so unpersisting
    // them is safe despite the truncated lineage; Spark logs a WARN per
    // unpersist for that truncation — expected and harmless here.
    // (A persist + createDataFrame(p.rdd) flat rebuild avoids the WARN but
    // pays a Row<->InternalRow round-trip on every downstream reference —
    // measured 2x slower on the clusters/corpus queries.)
    val sc = pairs.sparkSession.sparkContext
    // (count, hash-xor) set fingerprint: an O(1)-state convergence probe
    // (xor, not sum: overflow-free under ANSI, and the edge set is
    // distinct). Computed as OBSERVED metrics inside the checkpoint job —
    // the eager localCheckpoint is already an action, so the fingerprint
    // rides along for free instead of re-scanning the checkpointed round
    // as a second job (2 jobs/round -> 1; the per-round fixed cost
    // dominates once the edge set shrinks, which is every round but the
    // first at corpus scale).
    def checkpointTracked(d: DataFrame): (DataFrame, Set[Int], (Long, Long)) = {
      val obs = org.apache.spark.sql.Observation()
      val observed = d.observe(obs,
        count(lit(1)).as("__n"),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("__x"))
      val cp = observed.localCheckpoint()
      val m = obs.get
      (cp, graft.api.Pinned.idsOf(cp),
        (m("__n").asInstanceOf[Long], m("__x").asInstanceOf[Long]))
    }
    def unpersistIds(ids: Set[Int]): Unit = graft.api.Pinned.unpersist(sc, ids)
    // Node keys are LONGS (8-byte shuffle keys through every round). A
    // non-castable id must fail by NAME, not degrade: under ANSI the bare
    // cast throws an anonymous NumberFormatException mid-join; without
    // ANSI it nulls out and the caller's clusters silently vanish (a
    // leakage-safe split would degenerate to the plain hash split). try_cast
    // is null-on-failure under BOTH modes, so the raise_error fires
    // deterministically either way.
    def nodeKey(name: String): org.apache.spark.sql.Column = {
      val c = col(name)
      val l = expr(s"try_cast(`$name` as bigint)")
      when(c.isNull || l.isNotNull, l).otherwise(raise_error(concat(
        lit(s"connectedComponents: node id in '$name' is not long-castable: "),
        c.cast("string"))))
    }
    val (ua, ub) = (nodeKey(aCol), nodeKey(bCol))
    val base = pairs
      .select(greatest(ua, ub).as("u"), least(ua, ub).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    var (e, eIds, fp) = checkpointTracked(base)
    var done = fp._1 == 0L
    var it = 0
    // neighborhood minima via groupBy+join, NOT a window over u: a window
    // sorts each node's whole neighborhood in one task, so the star
    // center of a giant component serializes on one core; hash
    // aggregation partial-aggregates map-side and the re-join on u gets
    // AQE skew handling — per-node degree never bounds a task
    // One large-star + small-star alternation over the D-form:
    //  - large-star: every edge (u, v) rewires to (u, m(v)) — u is a
    //    larger neighbor of v, and m(v) = min(downward Γ(v) ∪ {v}) is v's
    //    full-neighborhood minimum. Nodes with no downward edges (local
    //    minima) miss from the aggregate → coalesce to themselves. The
    //    output stays high→low: m(v) ≤ v < u.
    //  - small-star: u and its smaller neighbors all link to their min;
    //    emissions (u, m) and (v, m) with m = min ≤ v < u are high→low too.
    def alternate(d: DataFrame): DataFrame = {
      val mL = d.groupBy("u").agg(min("v").as("__mn"))
        .select(col("u").as("v"), col("__mn").as("__m"))
      val ls = d.join(mL, Seq("v"), "left")
        .select(col("u"), coalesce(col("__m"), col("v")).as("v"))
        .distinct()
      val mS = ls.groupBy("u").agg(min("v").as("__m"))
      mS.select(col("u"), col("__m").as("v"))
        .union(ls.join(mS, "u").filter(col("v") =!= col("__m"))
          .select(col("v").as("u"), col("__m").as("v")))
        .distinct()
    }
    while (!done && it < maxIter) {
      // ONE alternation per checkpoint job. Two-per-job was measured 2x
      // SLOWER at sf0.1 (the doubled in-job plan outweighs the saved
      // scheduling/checkpoint overhead, and the coarser convergence probe
      // wastes two alternations at the fixpoint instead of one).
      val (e2, e2Ids, fp2) = checkpointTracked(alternate(e))
      // e2 is materialized (eager checkpoint): the previous round's blocks
      // are dead weight from here on
      unpersistIds(eIds)
      done = fp2 == fp
      fp = fp2
      e = e2
      eIds = e2Ids
      it += 1
    }
    lastCcRounds = it
    // At the fixpoint the edge set is a star forest pointing at component
    // minima: non-root nodes appear as u (mapped to their minimum), roots
    // appear only as v (mapped to themselves). Materialize the (tiny: one
    // row per non-singleton node) RESULT so the final iteration's full
    // edge set can be dropped instead of staying referenced by the plan.
    val mapped = e.groupBy(col("u")).agg(min(col("v")).as("__mn"))
    // anti-join guards the maxIter-without-convergence exit: a node still
    // appearing on both sides must not get two rows (free at the fixpoint,
    // where no u ever appears as a v)
    val roots = e.select(col("v")).distinct()
      .join(mapped.select(col("u").as("v")), Seq("v"), "left_anti")
    val out = mapped.select(col("u").as(nodeOut), col("__mn").as(clusterOut))
      .unionByName(roots.select(col("v").as(nodeOut), col("v").as(clusterOut)))
      .localCheckpoint()
    unpersistIds(eIds)
    out
  }

  /** End-to-end corpus deduplication — the operation a training-data
    * pipeline actually runs: drop every document that is an exact OR near
    * duplicate of another, keeping one representative (the cluster
    * minimum) per duplicate group. Composes the scale-safe pieces above:
    * exact-duplicate pairs (8-byte hash shuffle + collision guard), MinHash
    * +LSH near-dup pairs, connected components, then a left-anti join —
    * transitive near-duplicate chains collapse to ONE survivor, which
    * pairwise dropping would miss. */
  def deduplicateCorpus(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, bands: Int, threshold: Double): DataFrame = {
    val clusters = corpusClusters(docs, idCol, textCol, k, bands, threshold)
    // droppedBecause lineage: when the run records lineage, each dropped
    // document links to the survivor that represents its duplicate
    // cluster — the edge a curation team reads to explain a drop.
    // Record ids hash the DOC-ID column (the dropped record never appears
    // in the output to carry a record_id column, so the document key is
    // the stable identity on both sides).
    graft.api.Lineage.current(docs.sparkSession).foreach { rec =>
      rec.add(clusters.filter(col("node") =!= col("cluster_id")).select(
        lit("droppedBecause:deduplicateCorpus").as("op"),
        xxhash64(struct(col("node"))).as("output_id"),
        xxhash64(struct(col("cluster_id"))).as("input_id")))
    }
    val dropped = clusters.filter(col("node") =!= col("cluster_id"))
      .select(col("node").as(idCol))
    docs.select(col(idCol)).join(dropped, Seq(idCol), "left_anti")
  }

  /** Keep-BEST corpus dedup: same exact + MinHash/LSH clustering as
    * [[deduplicateCorpus]], but each duplicate cluster's survivor is the
    * member maximizing `scoreCol` (ties → the lower id) instead of the
    * minimum id — the curation semantic that keeps the longest /
    * highest-quality representative of every near-dup family. Output:
    * the surviving `idCol` values. */
  def deduplicateCorpusKeepBest(docs: DataFrame, idCol: String, textCol: String,
                                k: Int, bands: Int, threshold: Double,
                                scoreCol: org.apache.spark.sql.Column): DataFrame = {
    val clusters = corpusClusters(docs, idCol, textCol, k, bands, threshold)
    docs.select(col(idCol)).join(
      keepBestDropped(docs, idCol, clusters, scoreCol,
        "deduplicateCorpusKeepBest"),
      Seq(idCol), "left_anti")
  }

  /** The shared keep-best election of the two keep-best dedups: per
    * cluster, the survivor maximizes the score (ties → lower id — one
    * partial-aggregated `min_by` over (-score, node), no window sort, and
    * no arithmetic on the id so string doc-ids elect as well as numeric
    * ones); droppedBecause lineage edges point at the elected
    * representative. NULL scores coalesce to -Infinity so an all-NULL
    * cluster still elects its min-id member and dedups instead of
    * silently retaining every duplicate. Returns the dropped-id frame for
    * the caller's anti-join. */
  private def keepBestDropped(df: DataFrame, idCol: String, clusters: DataFrame,
                              scoreCol: org.apache.spark.sql.Column,
                              op: String): DataFrame = {
    val scored = df.select(col(idCol).as("node"),
      coalesce(scoreCol.cast("double"), lit(Double.NegativeInfinity)).as("__s"))
    val members = clusters.join(scored, Seq("node"))
    val best = members.groupBy(col("cluster_id"))
      .agg(min_by(col("node"), struct(-col("__s"), col("node"))).as("__best"))
    val losers = members.join(best, Seq("cluster_id"))
      .filter(col("node") =!= col("__best"))
    graft.api.Lineage.current(df.sparkSession).foreach { rec =>
      rec.add(losers.select(
        lit(s"droppedBecause:$op").as("op"),
        xxhash64(struct(col("node"))).as("output_id"),
        xxhash64(struct(col("__best"))).as("input_id")))
    }
    losers.select(col("node").as(idCol))
  }

  /** The shared cluster derivation of the corpus dedup family:
    * (node, cluster_id) for every document in an exact- or near-dup
    * cluster (singletons absent; cluster_id = the cluster's min id).
    *
    * ONE projection reads the text and computes everything any stage
    * needs from it (exact hash + collision salt + shingle hashes), closed
    * by a repartition(id) exchange: the exact-pair branch, the minhash
    * band branch, and both verification-set branches all read that one
    * materialized exchange — the corpus text is scanned and hashed once
    * for the whole job instead of once per branch. */
  private def corpusClusters(docs: DataFrame, idCol: String, textCol: String,
                             k: Int, bands: Int, threshold: Double): DataFrame = {
    val pre = docs.select(col(idCol),
        xxhash64(col(textCol)).as("__th"),
        xxhash64(col(textCol), lit(0x5bd1e995)).as("__salt"),
        graft.functions.VectorFunctions.wordShingleHashes(col(textCol), 3).as("__hs"))
      .repartition(col(idCol))
    val keep = pre.groupBy(col("__th"))
      .agg(min(col(idCol)).as("__keep"), min(col("__salt")).as("__v1"),
        max(col("__salt")).as("__v2"))
      // same ~2⁻¹²⁸ guard as `exact`: a 64-bit collision between distinct
      // texts would wrongly merge groups — raise instead
      .filter(assert_true(col("__v1") === col("__v2"),
        lit("xxhash64 collision in Dedup.deduplicateCorpus")).isNull)
      .select(col("__th"), col("__keep"))
    val exactPairs = pre.select(col(idCol), col("__th")).join(keep, "__th")
      .filter(col(idCol) =!= col("__keep"))
      .select(col("__keep").as("id_a"), col(idCol).as("id_b"))
    val nearPairs = verifiedNearDupPairs(pre, idCol, k, bands, threshold)
      .select(col("id_a"), col("id_b"))
    connectedComponents(exactPairs.union(nearPairs), "id_a", "id_b")
  }

  /** Streaming near-dup ingest — the streaming face of corpus dedup
    * (parity-plus; the reference has nothing here): a one-pass SimHash
    * signature (`SimHashBits` over word-shingle hashes) computes at
    * ingest, and first-wins dedup state keys on the 8-byte signature —
    * near-identical documents collapse to equal signatures (Charikar '02;
    * Manku WWW'07 use hamming <= 3 over 64 bits, so signature EQUALITY is
    * the high-precision subset: some near-dups with middling similarity
    * pass through, to be swept by the batch `deduplicateCorpus`).
    * Documents under `shingleN` words have no shingle features and dedup
    * by exact text hash instead (flagged separately so the two key spaces
    * cannot collide). State per distinct signature is the key itself —
    * bytes, not documents; with `withinWatermark = true` (after
    * `withWatermark` upstream) state evicts as event time passes, the
    * bounded-state posture for unbounded streams. Works identically on a
    * batch `MStream` (first record in `eventOrder`-free batch = arbitrary;
    * feed ordered input when survivor identity matters). */
  def ingestNearDup(stream: graft.api.MStream, idCol: String, textCol: String,
                    bits: Int = 63, shingleN: Int = 3,
                    withinWatermark: Boolean = false,
                    maxHamming: Int = 0): graft.api.MStream = {
    require(maxHamming >= 0 && maxHamming < bits,
      s"need 0 <= maxHamming < bits, got maxHamming=$maxHamming bits=$bits")
    // The short-doc guard keys on the FEATURE array being empty, not on a
    // separate word count: the native shingle hasher skips empty words
    // (runs of spaces), so a split-based count could disagree with it and
    // route a featureless doc into the SimHash key space, where every such
    // doc shares signature 0 and unrelated documents would silently merge.
    val h = graft.functions.VectorFunctions.wordShingleHashes(col(textCol), shingleN)
    val sig = when(size(h) >= 1, graft.functions.VectorFunctions.simhashBits(h, bits))
      .otherwise(xxhash64(col(textCol)))
    val orig = stream.df.columns.toIndexedSeq
    if (maxHamming == 0)
      stream
        .addFields("__short" -> (size(h) < 1), "__sig" -> sig)
        .dedupBy(Seq("__short", "__sig"), withinWatermark)
        .map(orig.map(col): _*)
    else
      // null text => size(h) is NULL under ANSI; coalesce to the
      // featureless class (its xxhash64 signature is the seed hash, so
      // null-text docs dedup among themselves) — the streaming state
      // machine reads the flag with getBoolean, which must never see NULL
      bandedIngest(stream, idCol, sig, coalesce(size(h) < 1, lit(true)),
        bits, maxHamming, withinWatermark)
  }

  /**
   * Banded near-dup ingest: drop a document iff a STRICTLY EARLIER one (by
   * `eventOrder`, then `idCol` — a deterministic total order) is within
   * `maxHamming` bits of its SimHash (featureless docs: exact-hash equality
   * only — near-matching raw xxhash values would merge unrelated empties).
   * "Earlier" counts every prior document, kept or dropped, so chains
   * collapse to their first element — the streaming face of the batch
   * pigeonhole sweep (`simhashPairs` + clustering keeps one doc per
   * connected chain too).
   *
   * Streaming lowering: the signature explodes into maxHamming+1 pigeonhole
   * chunk keys (any pair within the budget agrees exactly on >= 1 chunk —
   * same argument as `simhashPairs`); a keyed state machine per
   * (chunk index, chunk value) bucket holds the distinct signatures seen
   * (8 bytes each) and flags arrivals whose signature is within budget of a
   * prior one; a second, stateless-per-batch combine keyed on the doc id
   * ANDs the bucket verdicts (all of a doc's verdicts arrive in the same
   * micro-batch) and emits survivors. State per bucket = distinct
   * signatures landing in it; exchange keys are native columns
   * ([[graft.streaming.KeyedRows]]). With `withinWatermark` each signature
   * carries the max event time seen for it and is pruned on the bucket's
   * next visit once the watermark passes it — bounded state for unbounded
   * streams, the dropDuplicatesWithinWatermark contract (bucket keys come
   * from a bounded space, so idle buckets strand at most key-space-many
   * horizon leftovers, never corpus-proportional state); without it state
   * is kept forever (the reference's forever-groups default).
   * Batch lowering: `simhashPairs` + order-rank anti-join over one
   * representative per DISTINCT signature (immune to exact-duplicate
   * skew), same drop rule; like dropDuplicatesWithinWatermark, the batch
   * lowering ignores the watermark horizon.
   *
   * Chunk-width tradeoff: a 63-bit signature at budget k gives
   * maxHamming+1 chunks of ~63/(k+1) bits, and the FALSE-candidate rate
   * grows as chunks narrow (k=8 → 7-bit chunks → 128 bucket values per
   * chunk). Very large budgets on very large corpora want wider
   * signatures (multiple longs, or Manku's permuted tables); 63 bits at
   * k <= 8 keeps candidate sets tractable here, and the popcount verify
   * is exact regardless of chunk width.
   */
  /** Versioned kryo envelope for the banded-ingest bucket state.
    * CHECKPOINT COMPATIBILITY: the wire format changed in each of rounds
    * 6 and 7 (entry arity, 16-bit short keys, then this envelope) — a
    * streaming query restarted from a checkpoint written by an older
    * build needs a NEW checkpointLocation. From this version on, a format
    * bump increments [[BandedStateVersion]] and a stale-but-decodable
    * checkpoint fails fast with the message below instead of a kryo
    * decode exception deep inside the state manager (a checkpoint from
    * BEFORE the envelope existed still fails at kryo decode — that too
    * means "new checkpointLocation required"). */
  final case class BandedBucketState(version: Int,
                                     entries: List[(Long, Boolean, Long)])
  private[graft] val BandedStateVersion = 1
  private[graft] def requireBandedStateVersion(v: Int): Unit =
    if (v != BandedStateVersion) throw new IllegalStateException(
      s"banded-ingest state version $v in checkpoint, this build writes " +
        s"$BandedStateVersion: the streaming state format changed between " +
        "builds and cannot be migrated in place - restart the query with a " +
        "new checkpointLocation (re-ingesting history re-derives the state)")

  private def bandedIngest(stream: graft.api.MStream, idCol: String,
                           sig: org.apache.spark.sql.Column,
                           short: org.apache.spark.sql.Column,
                           bits: Int, maxHamming: Int,
                           withinWatermark: Boolean): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.types._
    val order = stream.eventOrder
    require(order.nonEmpty,
      "banded ingestNearDup needs orderedBy(...) — the drop rule is 'a strictly " +
        "earlier doc within the budget exists' and needs a deterministic order")
    val df = stream.df
    val orig = df.columns.toIndexedSeq
    val payloadT = StructType(df.schema.fields)
    val base = df.withColumn("__sig", sig).withColumn("__short", short)

    if (!df.isStreaming) {
      // Collapse to DISTINCT signatures first: every non-representative doc
      // has an earlier same-signature doc (hamming 0 <= budget) and is
      // dropped by definition, and a representative (min-rank of its
      // signature group) has an earlier within-budget doc iff some
      // NEIGHBORING signature group's min-rank is earlier (any earlier
      // member implies an earlier min-rank). The pigeonhole pair sweep then
      // runs over one row per distinct signature — a corpus with massive
      // exact-duplicate groups (the common 100 TB reality) cannot explode
      // the band join quadratically in group size.
      //
      // The rank rides INLINE through the sweep (no rank re-joins), and
      // shorts route through their own exact-equality chunk space (ci = -1,
      // same convention as the streaming lowering) instead of a filter on
      // the aggregate: every consumer of `reps` then shares one identical
      // aggregate-exchange subtree, so the corpus scan + signature pass
      // materializes ONCE (a `filter(!short)` on a grouping key would push
      // into the scan and split the subtree into per-consumer copies that
      // each recompute the SimHash).
      val rank = struct((order :+ idCol).map(col): _*)
      // localCheckpoint: `reps` is consumed by both pair-sweep sides AND
      // the survivor anti-join, and those subtrees pick up different
      // pushed filters, so plan-level exchange reuse cannot unify them —
      // each would re-run the corpus scan + SimHash pass. The frame is one
      // 32-byte row per DISTINCT signature (MEMORY_AND_DISK, ~400 MB per
      // 10⁹ distinct signatures across a cluster), so materializing it is
      // far cheaper than recomputing the signature pass per consumer.
      val reps = base
        .select(col(idCol).as("__id"), col("__sig"), col("__short"), rank.as("__rk"))
        .groupBy(col("__short"), col("__sig"))
        .agg(min(struct(col("__rk"), col("__id"))).as("__m"))
        .select(col("__short"), col("__sig"),
          col("__m.__rk").as("__rk"), col("__m.__id").as("__id"))
        .localCheckpoint()
      // the returned plan reads this frame — register for caller-side
      // release (the residual-join lifecycle)
      graft.api.Pinned.register(df.sparkSession, graft.api.Pinned.idsOf(reps))
      val chunkCols = pigeonholeChunks(col("__sig"), bits, maxHamming)
      // two short reps always differ in __sig (they'd be one group
      // otherwise), so ci = -1 buckets never produce a pair — shorts only
      // fold into their exact-duplicate group, never near-match
      val chunks = when(col("__short"), array(struct(lit(-1).as("ci"), col("__sig").as("cv"))))
        .otherwise(array(chunkCols: _*))
      val e = reps.select(col("__id"), col("__sig"), col("__rk"),
          explode(chunks).as("__ck"))
      // shuffle_hash + identical subtrees: ReuseExchange materializes the
      // exploded reps once for both sides (same posture as simhashPairs),
      // and the [[saltedSelfJoin]] triangle cover keeps a boilerplate-hot
      // chunk above `graft.dedup.bandCap` from landing its quadratic pair
      // count in one task (the distinct-signature collapse above bounds
      // exact-duplicate blowup, but NEAR-identical distinct docs sharing a
      // chunk value are unbounded). The dropped-id payload picks the
      // rank-loser of the pair — orientation-symmetric, so the cover's
      // arbitrary pair orientation is safe. No distinct on the drop set:
      // it feeds a left-anti join, which is insensitive to duplicate
      // right rows — a dedup here would only add a shuffle.
      val cap = capConf(df.sparkSession, "graft.dedup.bandCap", 8192L)
      val droppedReps = saltedSelfJoin(e, "__ck", "__id", cap, hint = Some("shuffle_hash"))
        .filter(expr("bit_count(a.__sig ^ b.__sig)") <= maxHamming)
        .select(when(col("a.__rk") < col("b.__rk"), col("b.__id"))
          .otherwise(col("a.__id")).as("__id"))
      val survivors = reps.select(col("__id"))
        .join(droppedReps, Seq("__id"), "left_anti")
        .withColumnRenamed("__id", idCol)
      return stream.lift(
        df.join(survivors, Seq(idCol), "left_semi").select(orig.map(col): _*))
    }

    // ---- streaming: pigeonhole buckets + per-doc combine -----------------
    // withinWatermark: signatures carry the max event time seen for them
    // and evict once the watermark passes it — the bounded-state posture
    // for unbounded streams (dropDuplicatesWithinWatermark's contract,
    // extended to the banded near-dup machinery). The event-time column is
    // the one `withWatermark` marked upstream.
    val wmColName: Option[String] =
      if (!withinWatermark) None
      else {
        val c = df.schema.fields
          .find(_.metadata.contains("spark.watermarkDelayMs")).map(_.name)
        require(c.nonEmpty, "withinWatermark banded ingest needs withWatermark(...) " +
          "upstream: no event-time column is marked on the input")
        c
      }
    // null event times sort as MinValue+1: stored, then evicted at the
    // first pruning pass
    val tsExpr = wmColName
      .map(c => coalesce(unix_millis(col(c)), lit(Long.MinValue + 1)))
      .getOrElse(lit(0L))
    val chunkCols = pigeonholeChunks(col("__sig"), bits, maxHamming)
    // featureless docs live in their own exact-equality key space (ci = -1).
    // Their bucket key is the signature MASKED to 16 bits, not the full
    // signature: bucket keys must come from a BOUNDED space (chunk values
    // already are) so total state is capped by key space, not by the
    // number of distinct short documents ever seen; the state machine
    // compares full signatures for the exact-equality verdict, so masking
    // only co-locates, never merges.
    val chunks = when(col("__short"),
        array(struct(lit(-1).as("ci"), col("__sig").bitwiseAND(lit(0xFFFFL)).as("cv"))))
      .otherwise(array(chunkCols: _*))
    // the payload rides only the first chunk record — verdicts are small.
    // The raw watermarked column must survive as a TOP-LEVEL column into
    // the stateful operator's child (Spark's event-time-timeout check
    // looks for watermark metadata there; struct fields don't carry it).
    val wmPassthrough = wmColName.map(col).toSeq
    val u = base.select(
        (col(idCol).as("__id") +: col("__sig") +: col("__short") +: tsExpr.as("__ts") +:
          struct((order :+ idCol).map(col): _*).as("__ord") +:
          struct(orig.map(col): _*).as("__payload") +:
          wmPassthrough) :+
          posexplode(chunks).as(Seq("__pos", "__ck")): _*)
      .select(
        (col("__id") +: col("__sig") +: col("__short") +: col("__ts") +: col("__ord") +:
          when(col("__pos") === 0, col("__payload")).otherwise(lit(null).cast(payloadT))
            .as("__payload") +:
          col("__ck.ci").as("__ci") +: col("__ck.cv").as("__cv") +:
          wmPassthrough): _*)

    val idType = df.schema(idCol).dataType
    val verdictT = StructType(Seq(
      StructField("__id", idType), StructField("__matched", BooleanType, nullable = false),
      StructField("__payload", payloadT)))
    val verdictEnc: Encoder[Row] = RowEncoder.encoderFor(verdictT)
    // state: versioned envelope over (signature, short-class flag, max
    // event time ms seen for that signature — 0 when eviction is off)
    val bucketStEnc: Encoder[BandedBucketState] = Encoders.kryo[BandedBucketState]
    val idIdx = u.schema.fieldIndex("__id")
    val sigIdx = u.schema.fieldIndex("__sig")
    val shortIdx = u.schema.fieldIndex("__short")
    val tsIdx = u.schema.fieldIndex("__ts")
    val ordIdx = u.schema.fieldIndex("__ord")
    val paylIdx = u.schema.fieldIndex("__payload")
    val mh = maxHamming
    val within = withinWatermark
    // Eviction is ARRIVAL-TIME pruning, not an event-time timer: a timer
    // (EventTimeTimeout) on this operator would trip Spark's global-
    // watermark correctness check for the chained per-doc combine below —
    // the combine is genuinely stateless, but the checker cannot know
    // that. Pruning on every bucket visit gives the same guarantee where
    // it matters (state never accumulates beyond the horizon on any live
    // bucket), and the bounded bucket-key space (chunk values; 16-bit
    // masked short keys) caps what an idle bucket can strand.
    val verdicts = graft.streaming.KeyedRows.byNames(u, Seq("__ci", "__cv"))
      .flatMapGroupsWithState[BandedBucketState, Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: Row, it: Iterator[Row], state) =>
          // prune first: a signature whose latest occurrence is at-or-below
          // the watermark can never match a future arrival (late rows are
          // already dropped at ts <= watermark), so its entry is dead
          val wm = if (within) state.getCurrentWatermarkMs() else Long.MinValue
          var seen: List[(Long, Boolean, Long)] = state.getOption match {
            case None => Nil
            case Some(s) => requireBandedStateVersion(s.version); s.entries.filter(_._3 > wm)
          }
          val sorted = it.toSeq.sortWith((a, b) => graft.streaming.EventOrder
            .compareSeqs(a.getStruct(ordIdx).toSeq, b.getStruct(ordIdx).toSeq) < 0)
          val outs = sorted.map { r =>
            val sg = r.getLong(sigIdx)
            val sh = r.getBoolean(shortIdx)
            val ts = r.getLong(tsIdx)
            val m = seen.exists { case (s2, sh2, _) =>
              sh2 == sh && (if (sh) s2 == sg
                            else java.lang.Long.bitCount(s2 ^ sg) <= mh)
            }
            // every arrival (kept or dropped) refreshes its signature's
            // horizon: "an earlier doc within budget" counts dropped ones
            seen = seen.partition(e => e._1 == sg && e._2 == sh) match {
              case (Nil, rest) => (sg, sh, ts) :: rest
              case (hit :: _, rest) => (sg, sh, math.max(hit._3, ts)) :: rest
            }
            Row(r.get(idIdx), m, r.getStruct(paylIdx))
          }
          state.update(BandedBucketState(BandedStateVersion, seen))
          outs.iterator
      }(bucketStEnc, verdictEnc).toDF()

    // combine: all of a doc's bucket verdicts arrive in the same micro-batch
    // (they are produced from the same input rows — PerBatchCombine's
    // enforced invariant)
    val payloadEnc: Encoder[Row] = RowEncoder.encoderFor(payloadT)
    val out = graft.streaming.PerBatchCombine(verdicts, Seq("__id"), payloadEnc) {
        (_: Row, it: Iterator[Row]) =>
          val rows = it.toList
          val matched = rows.exists(_.getBoolean(1))
          val payload = rows.collectFirst { case r if !r.isNullAt(2) => r.getStruct(2) }
          if (!matched && payload.nonEmpty) Iterator.single(payload.get)
          else Iterator.empty
      }
    stream.lift(out)
  }

  /** Repeated-passage detection (exact substring dedup at token-k-gram
    * granularity, the span-level counterpart of `exact`): every maximal
    * run of k-token grams that occur in >= `minDocs` DISTINCT documents,
    * as (doc, span_start, span_len) in 0-based token positions. This is
    * the duplicated-span primitive of "Deduplicating Training Data Makes
    * Language Models Better" (Lee et al., 2022) re-expressed as a
    * dataflow: where their suffix array is single-machine, the k-gram
    * formulation shuffles and scales.
    *
    * Scale shape: the corpus-wide stage shuffles only (hash, doc, pos)
    * triples — the one-pass positional shingle hasher's array INDEX is
    * the token position, so no gram strings are ever built corpus-wide.
    * Because the portable hash is 30-bit, repeated-by-hash candidates are
    * then VERIFIED on the actual gram text (the collision-guard pattern
    * of `exact`) — only documents already containing a candidate position
    * are re-tokenized, so the text-bearing stages are bounded by the
    * corpus's duplicate mass, not its size. A 64-bit hash would make the
    * guard near-redundant locally but not at 100 TB (~1e13 distinct grams
    * collide in 64 bits); the guard makes the operator exact at every
    * scale. Span assembly is a per-document gaps-and-islands window —
    * partitioned by doc, bounded by document length. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, minDocs: Int,
                    excludeCanonical: Boolean = false): DataFrame = {
    require(k >= 2, s"span gram size must be >= 2, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val id = col(idCol)
    // Distinct-doc count per gram as a PARTIAL-AGGREGATED groupBy joined
    // back, never a window. The earlier in-place shape (dense_rank by doc
    // + its partition max over Window.partitionBy(__g)) put every
    // occurrence of one gram hash into ONE window task — a boilerplate
    // k-gram present in a large fraction of a corpus is the NORM at
    // scale, and that task sorts the gram's whole population while the
    // cluster idles (the same hot-key shape the saltedSelfJoin cover
    // removed from the band joins). Here the single-distinct aggregate
    // plans as (g, id) partial dedup → per-g partial counts → final: the
    // hot gram's occurrences spread over the (g, id) exchange by doc id,
    // and each downstream task only merges bounded partial counts. The
    // join back is hinted shuffle_hash so the probe side STREAMS (a
    // sort-merge join would re-introduce the per-key sort on __g); the
    // stats build side is one row per qualifying gram — duplicate-mass
    // bounded — and AQE's skew split can still subdivide a hot streamed
    // partition because the build side replicates. Price vs the window:
    // the gram projection is consumed twice (stats + probe, different
    // keys, so no ReuseExchange) — two shuffles of 16-byte
    // (hash, doc, pos) rows and a re-tokenize, both parallel, traded
    // for the unbounded per-key sort. `canonical` drops each gram's
    // minimum-doc occurrence — the keep-one drop set of Lee et al.
    // (min(id) rides the same aggregate; applied only at the
    // verified-gram stage: canonical choice under an unverified hash
    // could elect a collision's doc).
    def repeatedPositions(f: DataFrame, gram: org.apache.spark.sql.Column,
                          canonical: Boolean): DataFrame = {
      val g = gram.as("__g")
      val base = f.select(id, col("__p"), g)
      val stats = base.groupBy(col("__g"))
        .agg(count_distinct(id).as("__nd"), min(id).as("__cd"))
        .where(col("__nd") >= minDocs)
        .select(col("__g"), col("__cd"))
      val kept0 = base.join(stats.hint("shuffle_hash"), Seq("__g"))
      val kept = if (canonical) kept0.where(id =!= col("__cd")) else kept0
      kept.select(id, col("__p"))
    }
    // (doc, position, gram hash): 16 bytes + id per token, no text
    val pos = docs.select(id, posexplode(
        graft.functions.VectorFunctions.wordShingleHashes(col(textCol), k))
      .as(Seq("__p", "__h")))
    // candidate positions, by hash only (may over-merge: verified below).
    // Duplicate-mass-sized, so pin it: the doc-prune and the verify join
    // below must not each re-run the corpus-wide stage (registered with
    // Pinned for caller-side release — the residual-join lifecycle).
    val candPos = repeatedPositions(pos, col("__h"), canonical = false)
      .localCheckpoint()
    graft.api.Pinned.register(docs.sparkSession, graft.api.Pinned.idsOf(candPos))
    // collision guard: re-derive candidate grams' text from just the docs
    // that contain a candidate position (semi join; broadcast when small)
    val candDocs = candPos.select(id).distinct()
    val words = docs.join(candDocs, Seq(idCol), "left_semi")
      .select(id, graft.pipeline.TextOps.words(col(textCol)).as("__w"))
    val dup = repeatedPositions(candPos.join(words, Seq(idCol)),
      concat_ws(" ", slice(col("__w"), col("__p") + 1, lit(k))),
      canonical = excludeCanonical)
    // gaps-and-islands: consecutive duplicated positions form one span
    val w = org.apache.spark.sql.expressions.Window.partitionBy(id).orderBy(col("__p"))
    dup.withColumn("__grp", col("__p") - row_number().over(w))
      .groupBy(id, col("__grp"))
      .agg(min(col("__p")).cast("long").as("span_start"),
        (max(col("__p")) - min(col("__p")) + k).cast("long").as("span_len"))
      .select(id, col("span_start"), col("span_len"))
  }

  /** Common-prefix length of two string arrays (0 when either is empty;
    * `least(size, size)` when one is a prefix of the other). zip_with
    * pads the shorter side with nulls, null == x folds to a mismatch, and
    * array_position returns 0 (not null) when no mismatch exists. */
  private def lcpCol(a: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val ap = array_position(zip_with(a, b, (x, y) => coalesce(x === y, lit(false))), false)
    when(ap === 0, least(size(a), size(b)).cast("long")).otherwise(ap - 1)
  }

  /** MAXIMAL repeated substrings >= `minLen` tokens — the variable-length
    * complement of [[repeatedSpans]] (which mines runs of fixed-k
    * duplicated grams without partner consistency): for every position
    * whose `minLen`-gram occurs in >= `minDocs` distinct documents, the
    * LONGEST substring starting there that some other occurrence in the
    * corpus also extends to, capped at `minLen + maxExtend` tokens (the
    * bounded-extension budget that keeps every row finite — matches
    * longer than the budget report exactly the budget, deterministically).
    * Per document, spans CONTAINED in another span are pruned (the
    * left-maximality face: a window interior to a longer repeat reports
    * nothing of its own), so the output is the set of maximal duplicated
    * extents with their identity hash — Lee et al. 2022's suffix-array
    * repeats re-expressed as a dataflow. Output (idCol, span_start,
    * span_len, span_hash), one row per surviving anchor position;
    * span_hash is the portable polyHash of the span text, so an
    * independent engine verifies the CONTENT, not just the extent.
    *
    * The scrub face needs no new operator: the union of tokens covered by
    * maximal repeats EQUALS the union of duplicated minLen-windows (every
    * length-minLen subwindow of a repeated substring is itself repeated),
    * so [[scrubRepeatedSpans]] at k = minLen is exactly the Lee et al.
    * remove-all / keep-one treatment — MaximalRepeatsSpec pins the
    * coincidence.
    *
    * Scale shape: candidate generation is [[repeatedSpans]]'s
    * hash-then-verify pipeline (narrow (hash, doc, pos) shuffles,
    * partial-aggregated distinct-doc counts, text built only for
    * duplicate-mass-bounded candidates). Extension avoids BOTH quadratic
    * per-anchor pairing and a per-gram window (a boilerplate gram's
    * population is unbounded at 100 TB): candidates sort GLOBALLY by
    * (gram, extension-window) via RangedPrefix's range partition + global
    * rank, and each occurrence's maximal partner extension is the max
    * common prefix with its two LEXICOGRAPHIC NEIGHBORS — the classic
    * suffix-array LCP property (max lcp over a sorted set is attained at
    * an adjacent pair), fetched by two narrow equi self-joins on the
    * unique global rank, never a window over the gram. Every task is
    * bounded by the range width; the per-document containment prune is
    * the one per-doc window (bounded by document length, the natural
    * unit). */
  def maximalRepeats(docs: DataFrame, idCol: String, textCol: String,
                     minLen: Int, maxExtend: Int, minDocs: Int = 2): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(maxExtend >= 1, s"maxExtend must be >= 1, got $maxExtend")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(!docs.isStreaming, "maximalRepeats is batch-only (corpus-wide census)")
    val id = col(idCol)
    val spark = docs.sparkSession
    // ---- candidate anchors by HASH (narrow corpus-wide stage) ----
    val pos = docs.select(id, posexplode(
        graft.functions.VectorFunctions.wordShingleHashes(col(textCol), minLen))
      .as(Seq("__p0", "__h")))
    val hstats = pos.groupBy(col("__h"))
      .agg(count_distinct(id).as("__nd")).where(col("__nd") >= minDocs)
      .select(col("__h"))
    val candPos = pos.join(hstats.hint("shuffle_hash"), Seq("__h"))
      .select(id, col("__p0")).localCheckpoint()
    graft.api.Pinned.register(spark, graft.api.Pinned.idsOf(candPos))
    // ---- gram text + bounded extension window, collision-verified ----
    val candDocs = candPos.select(id).distinct()
    val words = docs.join(candDocs, Seq(idCol), "left_semi")
      .select(id, graft.pipeline.TextOps.words(col(textCol)).as("__w"))
    val withText = candPos.join(words, Seq(idCol))
      .select(id, col("__p0"),
        concat_ws(" ", slice(col("__w"), col("__p0") + 1, lit(minLen))).as("__g"),
        slice(col("__w"), col("__p0") + 1 + minLen, lit(maxExtend)).as("__ext"))
    val gstats = withText.groupBy(col("__g"))
      .agg(count_distinct(id).as("__nd")).where(col("__nd") >= minDocs)
      .select(col("__g"))
    val cand = withText.join(gstats.hint("shuffle_hash"), Seq("__g"))
    // ---- global sort + rank; neighbor LCP via rank self-joins ----
    // the rank's total order is GLOBAL: RangedPrefix wants a group column,
    // so a constant-valued one rides along (an attribute, not a literal —
    // the optimizer would fold a literal out of the window partition spec
    // and re-trigger the partition-less WindowExec warning)
    val (parted, offs) = RangedPrefix(cand.withColumn("__gall", lit(0)),
      groupCols = Seq("__gall"),
      orderCols = Seq(col("__g"), col("__ext"), id, col("__p0")),
      valueExpr = lit(1L))
    val rankedPlan = RangedPrefix.joinOffsets(parted, offs, Seq("__gall"))
      .withColumn("__rn", col("__off") + row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__p"), col("__gall"))
          .orderBy(col("__g"), col("__ext"), id, col("__p0"))))
      .select(id, col("__p0"), col("__g"), col("__ext"), col("__rn"))
    // three consumers (self + both neighbor shifts) — pin once
    val (ranked, rIds) = graft.api.Pinned.checkpointTracked(rankedPlan)
    graft.api.Pinned.register(spark, rIds)
    val nbP = ranked.select((col("__rn") + 1).as("__rn"),
      col("__g").as("__gp"), col("__ext").as("__extp"))
    val nbN = ranked.select((col("__rn") - 1).as("__rn"),
      col("__g").as("__gn"), col("__ext").as("__extn"))
    val withNb = ranked.join(nbP, Seq("__rn"), "left").join(nbN, Seq("__rn"), "left")
    // a verified gram group has >= minDocs >= 2 members and group members
    // are contiguous in the sort, so at least one same-gram neighbor
    // exists; the coalesce is defensive only
    val maxLcp = coalesce(greatest(
      when(col("__gp") === col("__g"), lcpCol(col("__ext"), col("__extp"))),
      when(col("__gn") === col("__g"), lcpCol(col("__ext"), col("__extn")))), lit(0L))
    val spans = withNb
      .withColumn("span_len", lit(minLen.toLong) + maxLcp)
      .withColumn("__txt", when(col("span_len") === minLen, col("__g"))
        .otherwise(concat(col("__g"), lit(" "),
          concat_ws(" ", slice(col("__ext"), lit(1), (col("span_len") - minLen).cast("int"))))))
      .select(id, col("__p0").cast("long").as("span_start"), col("span_len"),
        graft.pipeline.TextOps.polyHash(col("__txt")).as("span_hash"))
    // ---- per-doc containment prune (doc-bounded window) ----
    val w = org.apache.spark.sql.expressions.Window.partitionBy(id)
      .orderBy(col("span_start"), col("span_len").desc)
    spans.withColumn("__e", col("span_start") + col("span_len"))
      .withColumn("__maxPrev", max(col("__e")).over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .where(col("__maxPrev").isNull || col("__e") > col("__maxPrev"))
      .select(id, col("span_start"), col("span_len"), col("span_hash"))
  }

  /** Boilerplate removal: drop every token covered by a repeated span
    * (`repeatedSpans(k, minDocs)`) from EVERY document it appears in, and
    * emit per-doc accounting — kept-token count + portable hash of the
    * remaining text (array-free, so an independent engine can verify the
    * surviving content exactly). Dropping ALL occurrences is the
    * boilerplate semantic (headers, license blocks, navigation chrome);
    * `keepCanonical` switches to the keep-one semantic of Lee et al. —
    * each gram's minimum-doc occurrence survives, so one copy of every
    * duplicated passage remains in the corpus.
    *
    * The span frame is duplicate-mass-sized; joining it back to the
    * corpus is an equi join on the doc id (broadcast when small), and the
    * token filter is a per-row indexed HOF — no extra shuffle beyond
    * `repeatedSpans` itself. */
  def scrubRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, minDocs: Int,
                         keepCanonical: Boolean = false): DataFrame = {
    val id = col(idCol)
    val sp = repeatedSpans(docs, idCol, textCol, k, minDocs,
        excludeCanonical = keepCanonical)
      .groupBy(id).agg(collect_list(struct(col("span_start").as("s"),
        (col("span_start") + col("span_len")).as("e"))).as("__sp"))
    docs.join(sp, Seq(idCol), "left")
      .select(id, graft.pipeline.TextOps.words(col(textCol)).as("__w"), col("__sp"))
      .withColumn("__kept", filter(col("__w"), (_, i) =>
        col("__sp").isNull || !exists(col("__sp"),
          s => i >= s.getField("s") && i < s.getField("e"))))
      .select(id, size(col("__kept")).cast("long").as("n_kept"),
        graft.pipeline.TextOps.polyHash(concat_ws(" ", col("__kept"))).as("kept_hash"))
  }

  /** Boilerplate scrub against a STATIC reference corpus, batch AND
    * streaming from one call (the ingest-time face of
    * [[scrubRepeatedSpans]]): every k-token gram of `refDocs` is a known
    * boilerplate gram; tokens of arriving documents covered by any of
    * them are dropped. Emits the original columns + `scrubbed` (the kept
    * tokens single-space joined — the one tokenization rule) + `n_kept`.
    *
    * The reference grams broadcast as (hash, gram) pairs and candidates
    * are confirmed on the gram STRING in the same stage, so a portable-
    * hash collision can never scrub innocent text. The arriving side is
    * narrow until the per-doc reassembly: gram structs are built per row
    * (each exploded row carries one k-word gram, not the document),
    * matched against the broadcast, and reassembled — batch by a plain
    * groupBy + indexed-HOF token filter, streaming by a keyed SAME-BATCH
    * combine (all of a doc's position verdicts are produced from its own
    * input row, so the state machine stores nothing — the banded-ingest
    * combine pattern). Shuffle rows are (id, pos, matched) + one payload
    * struct per doc.
    *
    * PRECONDITION: `idCol` must be unique per document (per micro-batch
    * on the streaming side) — like the other id-keyed dedup surfaces.
    * Both branches reassemble a document's verdicts by grouping on the
    * id alone; two documents sharing an id would have their match
    * positions merged and one payload picked arbitrarily, silently
    * scrubbing the wrong tokens. */
  def scrubKnownSpans(stream: graft.api.MStream, idCol: String, textCol: String,
                      refDocs: DataFrame, refTextCol: String,
                      k: Int): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    require(k >= 2, s"span gram size must be >= 2, got $k")
    val df = stream.df
    val orig = df.columns.toIndexedSeq
    val payloadT = StructType(df.schema.fields)

    def wordsOf(c: org.apache.spark.sql.Column) = graft.pipeline.TextOps.words(c)
    def hashesOf(c: org.apache.spark.sql.Column) =
      graft.functions.VectorFunctions.wordShingleHashes(c, k)

    // (hash, gram) of the reference corpus, distinct, broadcast
    val refPlan = refDocs
      .select(wordsOf(col(refTextCol)).as("__rw"), hashesOf(col(refTextCol)).as("__rh"))
      .where(size(col("__rh")) >= 1)
      .select(explode(transform(sequence(lit(0), size(col("__rh")) - 1),
        i => struct(element_at(col("__rh"), i + 1).as("h"),
          concat_ws(" ", slice(col("__rw"), i + 1, lit(k))).as("g")))).as("__r"))
      .select(col("__r.h").as("__h"), col("__r.g").as("__rg")).distinct()
    // streaming re-plans the static side of a stream-static join every
    // micro-batch: pin the gram frame once (registered with Pinned, the
    // dedupAgainstCorpus lifecycle) so each batch re-reads a hash/gram
    // frame bounded by the reference's distinct gram count, never the
    // reference corpus text. Batch consumes it once — no checkpoint.
    val ref =
      if (!df.isStreaming) refPlan
      else {
        val (cp, ids) = graft.api.Pinned.checkpointTracked(refPlan)
        graft.api.Pinned.register(df.sparkSession, ids)
        cp
      }

    val base = df
      .withColumn("__w", wordsOf(col(textCol)))
      .withColumn("__hs", hashesOf(col(textCol)))
    // per-position (pos, gram, hash) structs; docs under k words get ONE
    // sentinel element so their payload row survives the explode
    val gramStructs = transform(sequence(lit(0), size(col("__hs")) - 1),
      i => struct((i).cast("int").as("p"),
        concat_ws(" ", slice(col("__w"), i + 1, lit(k))).as("g"),
        element_at(col("__hs"), i + 1).as("h")))
    val sentinel = array(struct(lit(-1).cast("int").as("p"),
      lit(null).cast("string").as("g"), lit(null).cast("long").as("h")))
    val grams = when(size(col("__hs")) >= 1, gramStructs).otherwise(sentinel)

    if (!df.isStreaming) {
      // `grams`, not `gramStructs`: gram-less docs must not evaluate the
      // per-position builder (ANSI sequence(0, -1) descends to [0, -1] and
      // element_at throws); their sentinel has a null hash and null gram,
      // which the inner join + string equality below can never match
      val m = base.select(col(idCol).as("__id"), explode(grams).as("__gr"))
        .select(col("__id"), col("__gr.p").as("__p"),
          col("__gr.g").as("__g"), col("__gr.h").as("__h"))
        .join(broadcast(ref), "__h")
        .where(col("__g") === col("__rg"))
        .groupBy(col("__id")).agg(collect_list(col("__p")).as("__ps"))
      val out = base.join(m, col(idCol) === col("__id"), "left")
        .withColumn("__kept", filter(col("__w"), (_, i) =>
          col("__ps").isNull || !exists(col("__ps"), p => p <= i && i < p + k)))
        .select(orig.map(col) :+
          concat_ws(" ", col("__kept")).as("scrubbed") :+
          size(col("__kept")).cast("long").as("n_kept"): _*)
      return stream.lift(out)
    }

    // streaming: one narrow leg (explode + broadcast left join keeps every
    // position row), payload rides position index 0, keyed per-batch combine
    val u = base.select(col(idCol).as("__id"),
        struct(orig.map(col): _*).as("__payload"),
        posexplode(grams).as(Seq("__pos", "__gr")))
      .select(col("__id"),
        when(col("__pos") === 0, col("__payload")).otherwise(lit(null).cast(payloadT))
          .as("__payload"),
        col("__gr.p").as("__p"), col("__gr.g").as("__g"), col("__gr.h").as("__h"))
      .join(broadcast(ref), Seq("__h"), "left")
      .select(col("__id"), col("__payload"), col("__p"),
        coalesce(col("__g") === col("__rg"), lit(false)).as("__m"))
    val outT = StructType(payloadT.fields ++ Seq(
      StructField("scrubbed", StringType), StructField("n_kept", LongType, nullable = false)))
    val outEnc: Encoder[Row] = RowEncoder.encoderFor(outT)
    val payIdx = u.schema.fieldIndex("__payload")
    val pIdx = u.schema.fieldIndex("__p")
    val mIdx = u.schema.fieldIndex("__m")
    val textIdx = payloadT.fieldIndex(textCol)
    val kk = k
    val out = graft.streaming.PerBatchCombine(u, Seq("__id"), outEnc) {
        (_: Row, it: Iterator[Row]) =>
          val rows = it.toList
          // all of a doc's rows come from its own input row => same batch
          val payload = rows.collectFirst {
            case r if !r.isNullAt(payIdx) => r.getStruct(payIdx)
          }.get
          val hits = rows.filter(_.getBoolean(mIdx)).map(_.getInt(pIdx))
          val text = payload.getString(textIdx)
          val ws = graft.functions.WordShingleUtil.splitWords(
            org.apache.spark.unsafe.types.UTF8String.fromString(
              if (text == null) "" else text))
          val kept = ws.zipWithIndex.collect {
            case (w, i) if !hits.exists(p => p <= i && i < p + kk) => w
          }
          Iterator.single(Row.fromSeq(
            payload.toSeq ++ Seq(kept.mkString(" "), kept.length.toLong)))
      }
    stream.lift(out)
  }

  /** Embedding cosine near-dup, exact all-pairs baseline. Quadratic — the
    * correctness reference for the LSH-bucketed variant in `Similarity`;
    * at scale, bucket first (`Similarity.hyperplaneBuckets`). */
  def embeddingNearDupExact(embs: DataFrame, idCol: String, vecCol: String,
                            threshold: Double): DataFrame = {
    // Precompute each vector's norm once, per row — the O(pairs) stage then
    // does a single dot product per pair instead of dot + two norms (3×
    // less arithmetic where it's quadratic). Same fp expression shape as
    // dot/(norm*norm), so results match the cosine oracle.
    val e = embs.select(col(idCol), col(vecCol).cast("array<double>").as("__e"))
      .withColumn("__n", Similarity.norm(col("__e")))
    // spread the probe side over all cores — a small parquet input is one
    // split, which would serialize the whole O(n²) stage onto one task
    val probe = e.repartition(e.sparkSession.sparkContext.defaultParallelism)
    probe.as("a").join(broadcast(e.as("b")), col(s"a.$idCol") < col(s"b.$idCol"))
      .withColumn("cos", try_divide(Similarity.dot(col("a.__e"), col("b.__e")), col("a.__n") * col("b.__n")))
      .filter(col("cos") >= threshold)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        round(col("cos"), 6).as("cos"))
  }

  /** Hyperplane-LSH embedding near-dup (Charikar 2002 random-hyperplane
    * rounding for cosine): each vector takes a `bits`-bit sign code per
    * table ([[graft.functions.HyperplaneBits]], codegen'd, zero shuffle);
    * candidates are pairs sharing a WHOLE code in ANY of `tables`
    * independent tables (standard OR-amplification: per-bit collision
    * probability is 1 - θ/π, per-table (1-θ/π)^bits, missing in all T
    * tables (1-(1-θ/π)^bits)^T); exact cosine verifies candidates only.
    * The TRAIN-FREE sibling of [[semanticDedup]]: no k-means pass, no
    * codebook artifact — the right tool when the corpus has no stable
    * cluster structure to learn or the index must exist before any data
    * arrives. Each table's join keys on the 8-byte code — never
    * all-pairs; raise `tables` (recall) or `bits` (precision) per the
    * formula. Recall caveat inherent to LSH: a true pair can miss all
    * tables; sweep the knobs, or use the exact/IVF paths where recall
    * must be total. */
  def hyperplaneNearDup(embs: DataFrame, idCol: String, vecCol: String,
                        bits: Int = 16, tables: Int = 4,
                        threshold: Double = 0.8): DataFrame = {
    require(tables >= 1 && tables <= 64, s"tables must be in [1,64], got $tables")
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    val vf = graft.functions.VectorFunctions
    val e = embs.select(col(idCol), col(vecCol).cast("array<double>").as("__e"))
      .withColumn("__n", Similarity.norm(col("__e")))
    val codes = e.select(col(idCol),
      explode(array((0 until tables).map(t =>
        struct(lit(t).as("t"), vf.hyperplaneBits(col("__e"), bits, t).as("code"))): _*))
        .as("__bk"))
    // (table, code) is the band key of this family's join: a hot code —
    // the zero-vector code, or any dominant direction all hyperplanes
    // agree on — is exactly the boilerplate-hot band of the text paths,
    // so the same [[saltedSelfJoin]] cover applies under the same cap.
    // Candidate pairs are id-canonicalized (no payload), so the cover's
    // arbitrary orientation is safe.
    val cap = capConf(embs.sparkSession, "graft.dedup.bandCap", 8192L)
    val cands = saltedSelfJoin(codes, "__bk", idCol, cap, hint = Some("shuffle_hash"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"))
      .distinct()
    cands
      .join(e.select(col(idCol).as("id_a"), col("__e").as("__ea"), col("__n").as("__na")), "id_a")
      .join(e.select(col(idCol).as("id_b"), col("__e").as("__eb"), col("__n").as("__nb")), "id_b")
      .withColumn("cos", try_divide(Similarity.dot(col("__ea"), col("__eb")), col("__na") * col("__nb")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * k-means cells bound the candidate space, exact cosine verifies pairs
    * WITHIN each cell, connected components group transitive near-dups,
    * and each group's minimum id survives — the embedding-space sibling of
    * [[deduplicateCorpus]]. Pairs split across cells are not candidates
    * (the paper's deliberate recall trade: semantic duplicates cluster
    * together by construction of the k-means; sweep `threshold` per the
    * paper rather than probing neighbor cells).
    *
    * Scale shape: cell assignment is a literal-codebook projection (no
    * shuffle, no join); the one shuffle keys on the cell id and the only
    * quadratic stage is within-cell — cells are ~n/k and data-adaptive,
    * the reason SemDeDup scales where all-pairs cosine cannot. Cells that
    * outgrow `graft.semdedup.cellCap` are sub-split by an exact salted
    * triangle cover (see [[semanticClusters]]), so one skewed hot cell
    * can no longer pin the job on a single quadratic task; size the
    * codebook with [[Ivf.cellsFor]] so cells stay ~constant as the
    * corpus grows. CC rounds
    * are measured flat (2) to 100x on the duplicate structures the
    * synthetic corpus carries. Emits [[graft.api.Lineage]] droppedBecause
    * edges (dropped -> surviving representative) when the run records
    * lineage, like `deduplicateCorpus`. */
  def semanticDedup(embs: DataFrame, idCol: String, vecCol: String,
                    centroids: DataFrame, threshold: Double): DataFrame = {
    val clusters = semanticClusters(embs, idCol, vecCol, centroids, threshold)
    graft.api.Lineage.current(embs.sparkSession).foreach { rec =>
      rec.add(clusters.filter(col("node") =!= col("cluster_id")).select(
        lit("droppedBecause:semanticDedup").as("op"),
        xxhash64(struct(col("node"))).as("output_id"),
        xxhash64(struct(col("cluster_id"))).as("input_id")))
    }
    val dropped = clusters.filter(col("node") =!= col("cluster_id"))
      .select(col("node").as(idCol))
    embs.join(dropped, Seq(idCol), "left_anti")
  }

  /** [[semanticDedup]] with the codebook sized and trained automatically —
    * the default entry point when the caller has no pre-trained centroids.
    * k = [[Ivf.cellsFor]](count, targetCellSize) makes the
    * cells-∝-corpus scale contract executable: expected cell population
    * stays ~targetCellSize whatever the corpus size, so the within-cell
    * verification work per task is constant at 1× and at 100× and the
    * hot-cell triangle cover engages only on genuine skew (keep
    * targetCellSize ≤ `graft.semdedup.cellCap`, default 8192). Costs one
    * count plus `iters` Lloyd rounds over the embeddings before the
    * dedup itself. */
  def semanticDedupAuto(embs: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, targetCellSize: Long = 4096,
                        iters: Int = 2): DataFrame = {
    require(targetCellSize > 0, s"targetCellSize must be positive, got $targetCellSize")
    val n = embs.count()
    // an empty corpus has nothing to dedup AND nothing to train on —
    // return it unchanged rather than letting Ivf.train produce an empty
    // codebook and fail downstream with a misleading "train() first"
    if (n == 0) return embs
    val k = Ivf.cellsFor(n, targetCellSize)
    val cents = Ivf.train(embs, idCol, vecCol, k, iters)
    semanticDedup(embs, idCol, vecCol, cents, threshold)
  }

  /** Keep-BEST SemDeDup: same cell-bounded clustering as
    * [[semanticDedup]], but each cluster's survivor maximizes `scoreCol`
    * (ties → lower id) instead of the minimum id — pass the score that
    * implements the election policy (the SemDeDup paper keeps low
    * centroid-proximity members; an L2-norm or quality score works the
    * same way). Survivors keep the full input schema. */
  def semanticDedupKeepBest(embs: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, threshold: Double,
                            scoreCol: org.apache.spark.sql.Column): DataFrame = {
    val clusters = semanticClusters(embs, idCol, vecCol, centroids, threshold)
    embs.join(
      keepBestDropped(embs, idCol, clusters, scoreCol, "semanticDedupKeepBest"),
      Seq(idCol), "left_anti")
  }

  /** The shared SemDeDup cluster derivation: IVF-cell-bounded exact
    * cosine pairs → connected components, (node, cluster_id) for every
    * member of a near-dup cluster (singletons absent).
    *
    * HOT-CELL GUARD: real embedding distributions are skewed — one cell
    * capturing a large fraction of the corpus used to make ONE task
    * quadratic in that cell's population. Cells whose population exceeds
    * `graft.semdedup.cellCap` (default 8192) are sub-split by a salted
    * TRIANGLE COVER: each member gets a deterministic salt
    * `g = hash(id) mod s` (s = ceil(pop/cap)), the left side replicates
    * to buckets (g, j) for j in [g, s) and the right side to (i, g) for
    * i in [0, g], so every unordered salt pair (i <= j) meets in exactly
    * one bucket and every within-cell id pair is verified EXACTLY ONCE
    * (same-salt pairs only on the diagonal bucket, via the id-order
    * predicate). The pair set — and therefore the cluster set and the
    * oracle — is identical to the naive self-join; only the task shape
    * changes: per-task pairs drop from pop² to ~cap², spread over
    * s(s+1)/2 buckets, at the cost of (s+1)× replication of the hot
    * cell's rows (the inherent SemDeDup verification work, redistributed).
    * The split factor comes from the shared heavy-hitter census (r14 —
    * one narrow checkpoint, a partial-aggregated over-cap key count,
    * AQE-sized join-back); a cell under the cap keeps s = 1, i.e.
    * the plain pair join. The mechanism is the shared [[saltedSelfJoin]],
    * the same cover guarding the MinHash band and SimHash chunk joins. */
  private def semanticClusters(embs: DataFrame, idCol: String, vecCol: String,
                               centroids: DataFrame, threshold: Double): DataFrame =
    connectedComponents(
      semanticPairs(embs, idCol, vecCol, centroids, threshold), "id_a", "id_b")

  /** The verified within-cell pair stage of [[semanticClusters]], exposed
    * package-private so the StressBench skew probe can time THIS stage
    * (the one the hot-cell cover redistributes) without CC noise. */
  private[graft] def semanticPairs(embs: DataFrame, idCol: String, vecCol: String,
                                   centroids: DataFrame, threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    val cent = Ivf.collectCodebook(centroids)
    val cap = capConf(embs.sparkSession, "graft.semdedup.cellCap", 8192L)
    val e = embs.select(col(idCol), col(vecCol).cast("array<double>").as("__e"))
      .withColumn("__n", Similarity.norm(col("__e")))
      .withColumn("__cid", Ivf.nearestCid(col("__e"), cent))
    val cos = try_divide(Similarity.dot(col("a.__e"), col("b.__e")),
      col("a.__n") * col("b.__n"))
    // shared triangle cover ([[saltedSelfJoin]]); cosine is symmetric so
    // the least/greatest canonicalization is safe, and reduces to the
    // id-ordered identity on the uncapped plain plan
    saltedSelfJoin(e, "__cid", idCol, cap, hint = Some("shuffle_hash"))
      .filter(cos >= threshold)
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"))
  }

  /** Cross-corpus EMBEDDING near-dup dedup — the vector-space sibling of
    * [[dedupAgainstCorpus]]: keep each arriving record iff NO vector of
    * the static reference corpus reaches `threshold` cosine similarity.
    * ONE code path serves batch and streaming: a (stream-)static
    * LEFT-ANTI join against the broadcast reference (norms precomputed
    * per side, the [[embeddingNearDupExact]] arithmetic), completely
    * stateless — the anti join needs no per-record combine at all. The
    * reference frame pins when the input streams (a stream-static join
    * re-plans its static side every micro-batch).
    *
    * This is the EXACT baseline (every arriving vector scans the
    * broadcast reference — |batch| × |ref| dot products); for references
    * beyond broadcast size, route candidates through IVF cells
    * (`Ivf.searchIngest`) or `Similarity.hyperplaneBuckets` and anti-join
    * on the verified matches — recall then depends on the probe budget,
    * which is why the exact form carries the oracle. */
  def embeddingDedupAgainstCorpus(stream: graft.api.MStream, refEmbs: DataFrame,
                                  idCol: String, vecCol: String,
                                  threshold: Double): graft.api.MStream = {
    val df = stream.df
    val orig = df.columns.toIndexedSeq
    val refPlan = refEmbs
      .select(col(idCol).as("__rid"), col(vecCol).cast("array<double>").as("__re"))
      .withColumn("__rn", Similarity.norm(col("__re")))
    val ref =
      if (!df.isStreaming) refPlan
      else {
        val (cp, ids) = graft.api.Pinned.checkpointTracked(refPlan)
        graft.api.Pinned.register(df.sparkSession, ids)
        cp
      }
    val arr = df
      .withColumn("__e", col(vecCol).cast("array<double>"))
      .withColumn("__n", Similarity.norm(col("__e")))
    val near = try_divide(Similarity.dot(col("__e"), col("__re")),
      col("__n") * col("__rn")) >= threshold
    val survivors = arr.join(broadcast(ref), near, "left_anti")
      .select(orig.map(col): _*)
    stream.lift(survivors)
  }

  /** IVF-routed face of [[embeddingDedupAgainstCorpus]] — the tested
    * beyond-broadcast path the exact face's doc comment prescribes. The
    * reference assigns to its nearest IVF cell once (literal-codebook
    * expression, no shuffle); each arriving vector probes its `nProbe`
    * nearest cells, EQUI-joins the cell-keyed reference on the cell id
    * (`broadcastRef = false` makes that a shuffled join against a
    * cid-bucketed reference at cluster scale — no |batch|×|ref| product
    * anywhere in the plan, unlike the exact face's cosine-predicate
    * BNLJ), verifies candidates with the exact cosine, and keeps
    * non-matching arrivals. Batch lowering is candidates → matched ids →
    * left-anti; streaming folds verdicts in the stateless per-batch
    * combine (zero state rows, like [[dedupAgainstCorpus]]).
    *
    * Recall: an arriving near-dup is dropped iff its matching reference
    * vector lies in one of the `nProbe` probed cells — the standard IVF
    * trade (raise `nProbe` toward the cell count to push recall to
    * exact; CrossCorpusSpec pins IVF == exact on a cluster-separated
    * corpus where every near-dup's cell is probed by construction). */
  def embeddingDedupAgainstCorpusIvf(stream: graft.api.MStream, refEmbs: DataFrame,
                                     idCol: String, vecCol: String,
                                     threshold: Double, centroids: DataFrame,
                                     nProbe: Int,
                                     broadcastRef: Boolean = true): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    require(nProbe > 0, s"nProbe must be positive, got $nProbe")
    val df = stream.df
    val orig = df.columns.toIndexedSeq
    val cent = Ivf.collectCodebook(centroids)
    val refPlan = refEmbs
      .select(col(idCol).as("__rid"), col(vecCol).cast("array<double>").as("__re"))
      .withColumn("__rn", Similarity.norm(col("__re")))
      .withColumn("__cid", Ivf.nearestCid(col("__re"), cent))
    val isCos = try_divide(Similarity.dot(col("__e0"), col("__re")),
      col("__n0") * col("__rn")) >= threshold

    if (!df.isStreaming) {
      val probes = df
        .withColumn("__e0", col(vecCol).cast("array<double>"))
        .withColumn("__n0", Similarity.norm(col("__e0")))
        .select(col(idCol), col("__e0"), col("__n0"),
          explode(Ivf.probeCids(col("__e0"), cent, nProbe)).as("__cid"))
      val matched = (if (broadcastRef)
          // broadcast build side: skew-immune, each probe task streams
          probes.join(broadcast(refPlan), Seq("__cid")).filter(isCos)
            .select(col(idCol))
        else {
          // shuffled face (beyond-broadcast references): a hot IVF cell
          // is the embedding-space boilerplate band. The REFERENCE is the
          // unbounded side, so the asymmetric SaltedIndex cover applies —
          // the reference rides the cell shuffle ONCE (salted, never
          // replicated), only the arriving batch replicates to a hot
          // cell's s salts, and per-task verifications drop from
          // |arrivals-in-cell| × pop to |arrivals-in-cell| × cap. (The
          // symmetric saltedCrossJoin would replicate the big reference
          // ~pop/cap times; that shape is for two comparable corpora.)
          // Spec-pinned equal to the broadcast face under a tiny cap.
          val cap = capConf(df.sparkSession, "graft.semdedup.cellCap", 8192L)
          // pin, not the declarative salt: the census would otherwise
          // recompute the reference's per-row nearestCid assignment a
          // second time as the join input (compute-once, like ivfAdcTopK)
          val (refSalted, hot, ids) = SaltedIndex.pin(refPlan, "__cid", col("__rid"), cap)
          graft.api.Pinned.register(df.sparkSession, ids)
          SaltedIndex.replicate(probes, hot, "__cid")
            .join(refSalted, Seq("__cid", "__sg"))
            .filter(isCos)
            .select(col(idCol))
        }).distinct()
      return stream.lift(
        df.join(matched, Seq(idCol), "left_anti").select(orig.map(col): _*))
    }

    // shuffled face: salt the pinned reference's hot IVF cells at pin
    // time (the stream-static sibling of the bipartite cover — same
    // design as dedupAgainstCorpus's salted band index: a hot cell's
    // verifications spread over s tasks instead of one per micro-batch)
    val (ref, hotCells, ids) =
      if (broadcastRef) {
        val (r, i) = graft.api.Pinned.checkpointTracked(refPlan)
        (r, None, i)
      } else {
        val cap = capConf(df.sparkSession, "graft.semdedup.cellCap", 8192L)
        val (r, hot, i) = SaltedIndex.pin(refPlan, "__cid", col("__rid"), cap)
        (r, Some(hot), i)
      }
    graft.api.Pinned.register(df.sparkSession, ids)
    val payloadT = StructType(df.schema.fields)
    val probes = df
      .withColumn("__e0", col(vecCol).cast("array<double>"))
      .withColumn("__n0", Similarity.norm(col("__e0")))
      .select(col(idCol).as("__id"), col("__e0"), col("__n0"),
        struct(orig.map(col): _*).as("__payload"),
        posexplode(Ivf.probeCids(col("__e0"), cent, nProbe)).as(Seq("__pos", "__cid")))
      .select(col("__id"), col("__e0"), col("__n0"),
        when(col("__pos") === 0, col("__payload"))
          .otherwise(lit(null).cast(payloadT)).as("__payload"),
        col("__cid"))
    val probesSalted = hotCells match {
      case None => probes
      case Some(hot) => SaltedIndex.replicate(probes, hot, "__cid")
    }
    val u = probesSalted
      .join(if (broadcastRef) broadcast(ref) else ref,
        if (broadcastRef) Seq("__cid") else Seq("__cid", "__sg"), "left")
      .select(col("__id"), col("__payload"),
        coalesce(isCos, lit(false)).as("__m"))
    val payloadEnc: Encoder[Row] = RowEncoder.encoderFor(payloadT)
    val payIdx = u.schema.fieldIndex("__payload")
    val mIdx = u.schema.fieldIndex("__m")
    val out = graft.streaming.PerBatchCombine(u, Seq("__id"), payloadEnc) {
        (_: Row, it: Iterator[Row]) =>
          val rows = it.toList
          val matched = rows.exists(_.getBoolean(mIdx))
          val payload = rows.collectFirst { case r if !r.isNullAt(payIdx) => r.getStruct(payIdx) }
          if (!matched && payload.nonEmpty) Iterator.single(payload.get)
          else Iterator.empty
      }
    stream.lift(out)
  }
}
