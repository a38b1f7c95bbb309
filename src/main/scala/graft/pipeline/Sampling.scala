package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deterministic, reproducible corpus sampling for training-data mixes.
 * Selection is `hash(key ∥ salt) mod 10⁶ < rate·10⁶` — a pure per-row
 * predicate: no RNG state, no partition-order dependence, identical
 * output on any cluster size or engine (the DuckDB oracle reproduces the
 * sample bit-for-bit), and changing the salt draws an independent sample.
 * `sample`/`sampleBy` in Spark are seed-dependent on partitioning, which
 * breaks reproducibility under repartition — hash gating is the standard
 * fix for audit-stable corpus subsets.
 */
object Sampling {

  private val Scale = 1000000L

  /** Knuth multiplicative finalizer after the polynomial fold: short keys
    * produce fold values below the modulus (no wraparound → heavy bias
    * toward keeping); the multiply spreads them across the gate range.
    * polyHash < 2³⁰, so the product stays well inside signed-64. */
  private def gate(keyCol: Column, salt: String): Column =
    pmod(TextOps.polyHash(concat(keyCol.cast("string"), lit(salt))) * lit(2654435761L),
      lit(Scale))

  /** Keep each row with probability ~`rate`, decided by the row's key. */
  def hashSample(df: DataFrame, keyCol: Column, rate: Double, salt: String = ""): DataFrame = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    df.filter(gate(keyCol, salt) < lit((rate * Scale).toLong))
  }

  /** Per-stratum long-valued lookup with two lowerings: a literal
    * when-chain for SMALL tables (readable plans, fully unrolled codegen)
    * and the O(1) hashed [[graft.functions.StrataLookup]] expression
    * above [[LiteralStrataEntries]] — a 100k-entry rate table as a
    * when-chain is a 100k-deep expression TREE (analyzer recursion,
    * Janino method ceiling), and a map LITERAL would still be a linear
    * key scan per row (`GetMapValue` has no hash index); the expression
    * hashes the table once per task. IDENTICAL semantics at any size:
    * the stratum column compares AS A STRING in both faces (the
    * when-chain also matches on the cast, so crossing the size threshold
    * can never change which rows match), and a missing or NULL stratum
    * falls to `default`. */
  private[graft] val LiteralStrataEntries = 32

  private[graft] def strataLookup(strataCol: Column, table: Map[String, Long],
                                  default: Long): Column = {
    val s = strataCol.cast("string")
    if (table.size <= LiteralStrataEntries)
      table.toSeq.sortBy(_._1).foldRight(lit(default): Column) { case ((k, v), rest) =>
        when(s === k, lit(v)).otherwise(rest)
      }
    else coalesce(
      graft.functions.VectorFunctions.strataLookup(s, table, default), lit(default))
  }

  /** Stratified variant: per-stratum rates (e.g. up/down-weighting
    * sources in a training mix), one pass, no shuffle. */
  def stratifiedHashSample(df: DataFrame, keyCol: Column, strataCol: Column,
                           rates: Map[String, Double], defaultRate: Double = 0.0,
                           salt: String = ""): DataFrame = {
    require((defaultRate +: rates.values.toSeq).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0,1]")
    val threshold = strataLookup(strataCol,
      rates.map { case (s, r) => s -> (r * Scale).toLong },
      (defaultRate * Scale).toLong)
    df.filter(gate(keyCol, salt) < threshold)
  }

  /** Deterministic train/validation/test split assignment: the same hash
    * gate as the samplers partitions [0, 10⁶) into consecutive bands sized
    * by the split fractions, so every row gets exactly one label, the
    * assignment is identical on any cluster size / partitioning / engine,
    * and a different salt redraws independently. Returns the corpus plus a
    * label column rather than filtering — one pass labels everything and a
    * writer can `partitionBy` it. Fractions must sum to 1 (±1e-9); the
    * last band absorbs gate-rounding so the union is exhaustive. */
  def assignSplit(df: DataFrame, keyCol: Column, splits: Seq[(String, Double)],
                  as: String = "split", salt: String = ""): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 >= 0.0), "split fractions must be non-negative")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must sum to 1, got ${splits.map(_._2).sum}")
    val g = gate(keyCol, salt)
    val bounds = splits.map(_._2).scanLeft(0.0)(_ + _).map(f => math.round(f * Scale))
    val label = splits.init.zipWithIndex.foldRight(lit(splits.last._1): Column) {
      case (((name, _), i), rest) => when(g < lit(bounds(i + 1)), lit(name)).otherwise(rest)
    }
    df.withColumn(as, label)
  }

  /** Leakage-safe train/validation/test split — the dedup literature's
    * train/test contamination fix (Lee et al. 2022 observe near-duplicate
    * pairs straddling a random split leak test content into training;
    * the remedy is to split by near-dup CLUSTER, not by document): the
    * split gate keys on each document's cluster representative
    * ([[Dedup.connectedComponents]] over the supplied pair frame; a
    * document in no pair represents itself), so every member of a cluster
    * draws the same band and no cluster straddles the split — by
    * construction, not by luck. The pair frame is caller-supplied: any
    * of the near-dup detectors (MinHash/LSH, SimHash, hyperplane,
    * winnow-index, exact) produces the (aCol, bCol) edges, and the split
    * inherits exactly that detector's notion of "too similar to
    * separate". Cost over [[assignSplit]] is the CC rounds
    * (data-logarithmic, measured flat at 2 on the bench corpora) plus
    * one id-keyed join; the gate itself stays a zero-shuffle projection.
    *
    * Ids must be long-castable ([[Dedup.connectedComponents]] keys on
    * long node ids): a pair id whose cast nulls out raises in-plan
    * inside CC rather than silently degenerating to the plain hash
    * split. Internal working columns are `__graft_`-prefixed so a
    * corpus that already carries e.g. a `cluster_id` column passes
    * through untouched. */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
                       aCol: String, bCol: String,
                       splits: Seq[(String, Double)], as: String = "split",
                       salt: String = ""): DataFrame = {
    val cc = Dedup.connectedComponents(pairs, aCol, bCol,
      nodeOut = "__graft_cc_node", clusterOut = "__graft_cc_cluster")
    val withRep = docs
      .join(cc.withColumnRenamed("__graft_cc_node", idCol), Seq(idCol), "left")
      .withColumn("__graft_rep", coalesce(col("__graft_cc_cluster"), col(idCol)))
    assignSplit(withRep, col("__graft_rep"), splits, as, salt)
      .drop("__graft_cc_cluster", "__graft_rep")
  }

  /** Weighted corpus mixing with weights that may EXCEED 1 — the
    * epoch-style up/down-sampling step of training-mix assembly (e.g.
    * wiki ×3.2, crawl ×0.6): each row repeats floor(w) times and once
    * more with hash-gated probability frac(w), so expected multiplicity
    * is exactly w, the realized multiplicity is deterministic per key,
    * and a repeated row is distinguishable by its `epoch` column (0-based
    * copy index — downstream shuffles treat copies as distinct records).
    * Pure per-row explode, no shuffle, engine-reproducible like the
    * samplers above. Strata absent from `weights` default to weight 0
    * (dropped) unless `defaultWeight` says otherwise. */
  def weightedMix(df: DataFrame, keyCol: Column, strataCol: Column,
                  weights: Map[String, Double], defaultWeight: Double = 0.0,
                  salt: String = ""): DataFrame = {
    require((defaultWeight +: weights.values.toSeq).forall(_ >= 0.0),
      "weights must be non-negative")
    def part(f: Double => Long): Column =
      strataLookup(strataCol, weights.map { case (s, w) => s -> f(w) }, f(defaultWeight))
    val whole = part(w => math.floor(w).toLong)
    val fracGate = part(w => math.round((w - math.floor(w)) * Scale))
    val copies = whole + when(gate(keyCol, salt) < fracGate, 1L).otherwise(0L)
    // copies = 0 must yield an EMPTY array (sequence(0, -1) would descend)
    val epochs = when(copies > 0, sequence(lit(0L), copies - 1))
      .otherwise(array().cast("array<bigint>"))
    df.withColumn("epoch", explode(epochs))
  }

  /** Global exact-k deterministic uniform sample — the fixed-SIZE sibling
    * of [[hashSample]] (fixed-RATE): the k rows with the smallest hash
    * rank (gate asc, id asc — the same multiplicative-hash machinery, so
    * the draw is partition/cluster/engine-invariant, a different salt
    * redraws it, and a DuckDB oracle reproduces it as `ORDER BY gate, id
    * LIMIT k`). This is the eval-set/holdout carve of corpus curation
    * ("exactly 50k documents, reproducibly"), where [[hashSample]]'s
    * rate gives only an EXPECTED size.
    *
    * Lowered onto the bounded-heap top-k aggregate, NOT a global sort or
    * a one-partition rank window: each map task keeps one k-element heap,
    * the exchange carries at most tasks × k (id, rank) entries, and the
    * k winners broadcast-semi-join back to recover full rows — one corpus
    * pass plus one cheap id join at any corpus size. `idCol` must be
    * UNIQUE and integral (the heap carries (id, rank) pairs and winners
    * semi-join back by id — the [[graft.operators.GroupTopK]] contract;
    * duplicate ids would multiply the kept set past k) and NULL ids are
    * excluded (aggregate null-skipping semantics). k is a sample size,
    * bounded by the caller like every other driver-adjacent k in this
    * library. */
  def exactKSample(df: DataFrame, idCol: String, k: Int, salt: String = ""): DataFrame = {
    require(k > 0, s"exactKSample needs k > 0, got $k")
    graft.operators.GroupTopK.requireIntegralId(df, idCol, "exactKSample")
    // the heap ranks by score DESC with id-asc ties; negate the gate so
    // the winners are the SMALLEST gate values — gate < 10^6, so the
    // double cast is exact and the oracle's BIGINT order matches
    val kid = freshName(df, "kid")
    val winners = df
      .select(col(idCol).cast("long").as("__id"),
        (-gate(col(idCol), salt)).cast("double").as("__s"))
      .agg(graft.functions.VectorFunctions.topKByScore(
        col("__id"), col("__s"), k).as("__top"))
      .select(explode(col("__top")).as("__e"))
      .select(col("__e.id").as(kid))
    df.join(broadcast(winners), col(idCol).cast("long") === col(kid), "left_semi")
  }

  /** Collision-proof internal name (the GroupTopK `fresh` idiom): an
    * input frame may legitimately carry any `__`-prefixed column. */
  private def freshName(df: DataFrame, base: String): String = {
    val taken = df.columns.toSet
    Iterator.from(0).map(i => s"__$base$i").find(!taken(_)).get
  }

  /** Per-stratum exact-k — the hot-stratum-safe sibling of [[capPerKey]]:
    * the SAME deterministic draw (hash-gate asc, id asc within each
    * stratum) lowered onto the bounded-heap group top-k aggregate
    * ([[graft.operators.GroupTopK]]), so a stratum holding half the
    * corpus costs map-side k-heaps merged like a `sum` instead of one
    * serialized rank-window partition — the 100 TB form of per-domain
    * contribution caps, closing capPerKey's documented pre-thin caveat.
    *
    * Contract: `idCol` must be UNIQUE and integral (the heap carries
    * (id, rank) pairs and the winners semi-join back by id — duplicate
    * ids would multiply the kept set; on unique ids the kept set EQUALS
    * `capPerKey(strataCol, idCol, k)` exactly, spec-pinned). NULL ids are
    * excluded (aggregate null-skipping — the window face would rank them
    * first); a NULL stratum forms its own group, same as the window. */
  def exactKPerKey(df: DataFrame, strataCol: String, idCol: String, k: Int,
                   salt: String = ""): DataFrame = {
    require(k > 0, s"exactKPerKey needs k > 0, got $k")
    // run the heap over an internal projection with fresh names so
    // topKPerKey's OUTPUT-name constraints (a stratum legitimately named
    // 'score' or 'rank') never leak to this operator's callers — capPerKey
    // accepts those names, and this is its drop-in scale face
    val (strataW, idW, kid) =
      (freshName(df, "strata"), freshName(df, "sid"), freshName(df, "kid"))
    val winners = graft.operators.GroupTopK.topKPerKey(
        df.select(col(strataCol).as(strataW), col(idCol).as(idW)),
        Seq(strataW), idW, -gate(col(idW), salt), k)
      .select(col(idW).cast("long").as(kid))
    // deliberately NO broadcast hint, unlike exactKSample: its winner set
    // is exactly k ids, this one is strata x k — per-domain caps over a
    // crawl run to 10^8 strata, where a forced broadcast OOMs the
    // executors. The size-based planner choice (AQE sees the aggregated
    // winner frame's true bytes) broadcasts the small-strata case on its
    // own and shuffles the many-strata case, which is the correct plan in
    // both regimes.
    df.join(winners, col(idCol).cast("long") === col(kid), "left_semi")
  }

  /** Per-key quota cap (the Common-Crawl-style per-domain contribution
    * limit): keep at most `n` rows per `strataCol` value, chosen by a
    * deterministic hash rank over the row key (same multiplicative-hash
    * machinery as the samplers — stable under any partitioning / cluster
    * size / engine; a different salt redraws the survivors), ties broken
    * by the key itself.
    *
    * Scale shape: the rank is the DISTRIBUTED exact prefix
    * ([[RangedPrefix]], like [[capTokensPerKey]]), not a per-stratum
    * window — a dominant stratum (one domain/language holding half the
    * corpus) would otherwise sort its whole population in ONE task. With
    * unique integral ids [[exactKPerKey]] is the cheaper draw-identical
    * face (bounded map-side heaps, no checkpoint); THIS face works for
    * any key type. The checkpoint materializes the input rows once —
    * project first if rows are wide, pin an expensive upstream first. */
  def capPerKey(df: DataFrame, strataCol: Column, keyCol: Column, n: Int,
                salt: String = ""): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    val (stW, gtW, rkW) =
      (freshName(df, "st"), freshName(df, "gt"), freshName(df, "rk"))
    val base = df.withColumn(stW, strataCol).withColumn(gtW, gate(keyCol, salt))
    // rank = inclusive running count of 1s on the shared kernel
    RangedPrefix.runningSum(base, groupCols = Seq(stW),
        orderCols = Seq(col(gtW), keyCol), valueExpr = lit(1L),
        inclusive = true, as = rkW)
      .filter(col(rkW) <= n)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Token-budget variant of [[capPerKey]] ("sample N tokens per domain"):
    * walk each stratum in deterministic hash-rank order and keep the
    * maximal PREFIX whose running token total stays within `budget` — the
    * greedy budget fill of training-mix assembly, reproducible on any
    * partitioning / engine (a skip-oversized-and-continue fill would need
    * a quadratic per-row refold of the kept set). The first row of a
    * stratum is kept only if it fits alone.
    *
    * Scale shape: the running sum is a DISTRIBUTED exact prefix
    * ([[RangedPrefix]] — range partition on the unique total order, one
    * narrow checkpoint, per-(range, stratum) token sums as offsets), not
    * a per-stratum window: a dominant stratum (one language/domain
    * holding half the corpus — the norm in crawls) would otherwise fold
    * its whole running sum in ONE task. The checkpoint materializes the
    * input rows once — project to the columns you need before calling if
    * rows are wide, and pin an EXPENSIVE upstream first (the range
    * partitioner's boundary sampling is a full extra pass over the
    * input — the buildVocab/perplexityBuckets lesson).
    *
    * The maximal-prefix guarantee relies on the running sum being
    * MONOTONE: a NULL token count is treated as 0 (the row rides free —
    * sum would skip it but keep the row anyway, so this makes the
    * treatment explicit), and a NEGATIVE count raises in-plan — it would
    * silently let later rows re-enter an already-exhausted budget. */
  def capTokensPerKey(df: DataFrame, strataCol: Column, keyCol: Column,
                      tokensCol: Column, budget: Long,
                      salt: String = ""): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val tok = coalesce(tokensCol, lit(0L))
    val checked = when(tok >= 0, tok).otherwise(raise_error(concat(
      lit("capTokensPerKey: negative token count "), tok.cast("string"),
      lit(" breaks the monotone running sum"))))
    // materialize the stratum/gate expressions once under fresh names so
    // the helper can group and join by them (and a caller's own __-named
    // columns can't collide)
    val (stW, gtW, rtW) =
      (freshName(df, "st"), freshName(df, "gt"), freshName(df, "rt"))
    val base = df.withColumn(stW, strataCol).withColumn(gtW, gate(keyCol, salt))
    // inclusive running token total on the shared kernel; the budget
    // filter keeps the maximal monotone prefix
    RangedPrefix.runningSum(base, groupCols = Seq(stW),
        orderCols = Seq(col(gtW), keyCol), valueExpr = checked,
        inclusive = true, as = rtW)
      .filter(col(rtW) <= budget)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Temperature-based source rebalancing (the multilingual-LM sampling
    * exponent — Devlin et al. 2019 mBERT, Conneau et al. 2020 XLM-R §3.1):
    * draw ~`budgetRows` documents so source s's share moves from its
    * natural n_s/N toward the tempered p_s ∝ n_s^alpha (alpha = 1/T;
    * alpha 1 = natural mix, alpha → 0 = uniform over sources). Rates
    * derive from ONE strata-sized count aggregate (`p_s·budget / n_s`,
    * capped at 1 — downsampling only; compose with [[weightedMix]] to
    * upsample starved sources past 1×), then one pass of the stratified
    * hash gate: no shuffle of the corpus, partitioning/engine-invariant,
    * salt redraws.
    *
    * Engine portability of the rate arithmetic: the normalizer folds
    * n_s^alpha in SOURCE-NAME order (a plain left fold the oracle
    * mirrors with an ordered `list_reduce`), and alpha = 0.5 routes
    * through `sqrt` — correctly rounded in every IEEE libm, unlike the
    * general `pow`, so the oracle's integer gate thresholds are
    * bit-identical. Other alphas use `pow`; their thresholds may differ
    * from an independent engine's in the last ulp (documented — pin such
    * mixes by spec, not oracle). Rows whose stratum is NULL never match
    * a named rate and fall to the 0 default — i.e. they are dropped
    * (NULL strata are excluded from the count aggregate too, so they
    * neither crash the driver fold nor inflate the tempered normalizer).
    *
    * Driver-artifact contract: the per-stratum rate table is collected,
    * so the stratum space must be bounded — at most [[MaxStrata]]
    * distinct strata (source names, languages, domains-after-capping
    * all fit; raw URLs do not). Checked with a `take(cap+1)` probe, not
    * an unbounded collect, so the failure is a named `require`, never a
    * driver OOM — the same capped-artifact contract as the IVF codebook
    * (k ≤ 65536), BPE vocabulary (≤ 10⁷) and NB class table (≤ 1024). */
  val MaxStrata = 100000

  def temperatureMix(df: DataFrame, keyCol: Column, strataCol: Column,
                     alpha: Double, budgetRows: Long,
                     salt: String = ""): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    require(budgetRows > 0, s"budgetRows must be positive, got $budgetRows")
    def tempered(n: Long): Double =
      if (alpha == 0.5) math.sqrt(n.toDouble) else math.pow(n.toDouble, alpha)
    val counted = df.where(strataCol.isNotNull)
      .groupBy(strataCol.cast("string").as("__s"))
      .agg(count(lit(1)).as("__n")).take(MaxStrata + 1)
    require(counted.length <= MaxStrata,
      s"temperatureMix folds per-stratum rates into the plan; got more than " +
        s"$MaxStrata distinct strata (cap $MaxStrata) — cap or coarsen the " +
        s"stratum column first (e.g. domain, not URL)")
    val counts = counted.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    require(counts.nonEmpty, "temperatureMix: empty input")
    val tot = counts.foldLeft(0.0) { case (a, (_, n)) => a + tempered(n) }
    val rates = counts.map { case (s, n) =>
      s -> math.min(1.0, tempered(n) / tot * budgetRows / n)
    }.toMap
    stratifiedHashSample(df, keyCol, strataCol, rates, 0.0, salt)
  }
}
