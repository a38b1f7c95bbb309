package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * Text-analysis primitives for large-scale training-data pipelines, built
 * entirely from Catalyst higher-order functions (`transform`/`aggregate`/
 * `filter`) — no UDFs, so everything stays inside whole-stage codegen and
 * scales linearly with input partitions (no shuffle is introduced by any
 * helper here).
 *
 * All hashes are *portable* polynomial hashes (mod 1e9+7) rather than
 * xxhash/murmur so an independent engine (the DuckDB oracle) can reproduce
 * them exactly; at production scale swap `polyHash` for `xxhash64` — the
 * pipeline shape is identical.
 */
object TextOps {

  /** Modulus for portable polynomial hashing: keeps every intermediate
    * (`acc*31 + char`) well inside signed-64 range in any engine. */
  val P = 1000000007L

  /** Characters of `s` as an array column (no trailing empties). */
  def chars(s: Column): Column = filter(split(s, ""), c => c =!= "")

  /** Portable polynomial hash of a string: fold (acc*31 + code) mod P.
    * Native codegen'd expression (`StringPolyHash`); the HOF equivalent
    * interprets two lambdas per character. */
  def polyHash(s: Column): Column = graft.functions.VectorFunctions.polyHashNative(s)

  /** Whitespace tokens: split on ASCII whitespace RUNS (Java `\s+`) and
    * drop empties, so tabs/newlines/consecutive spaces never produce
    * phantom tokens. This is the ONE tokenization rule of the text stack —
    * token counts, shingles (incl. the native one-pass hasher in
    * `WordShingleUtil`), packing budgets, vocabulary, and encoding all
    * agree on it. Every oracle mirrors it with the EXPLICIT class
    * `list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '')`
    * — never RE2's `\s`, which (unlike Java's) excludes vertical tab;
    * OracleConsistencySpec pins `\s`-free oracles. */
  def words(text: Column): Column = filter(split(text, "\\s+"), w => w =!= "")

  /** Compute-parallelism floor for CPU-bound per-row stages (optimization
    * guide §2.5 input skew / §2.6 idle capacity): gram explosion, chained
    * merge rewrites and Viterbi segmentation cost per ROW, not per byte,
    * so a narrow input layout — one tiny single-row-group parquet file, an
    * unsplittable archive — serializes the whole stage on a handful of
    * cores (measured: q_bpe_encode's tokenize pass was ONE 2.5 s task on
    * a 32-core session). When the incoming layout is a SHUFFLE-FREE plan
    * narrower than the session's core count, spread rows round-robin once
    * before the expensive projection; any at-scale input (>= cores scan
    * partitions) or post-shuffle frame (already session-width) takes the
    * identity branch — no exchange added where the layout already
    * parallelizes. Plans carrying a shuffle boundary or a subquery are
    * left untouched WITHOUT inspecting partitioning: probing `.rdd` on an
    * adaptive plan materializes its query stages eagerly (double
    * execution), and their width is the session's anyway. Streaming
    * micro-batches arrive pre-partitioned and `.rdd` is undefined on an
    * unstarted stream — identity there too. */
  private[graft] def spreadForCompute(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    if (df.isStreaming) return df
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    val lp = df.queryExecution.logical
    val hasBoundaryOrSubquery = lp.collectFirst {
      case n @ (_: Join | _: Aggregate | _: Window | _: Sort | _: Distinct |
                _: Repartition | _: RepartitionByExpression | _: GlobalLimit |
                _: SetOperation | _: Deduplicate) => n
      case n if n.expressions.exists(_.exists(_.isInstanceOf[SubqueryExpression])) => n
    }.isDefined
    if (hasBoundaryOrSubquery) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df else df.repartition(target)
    }
  }

  /** Distinct word n-gram shingles ("a b c" strings). */
  def wordShingles(text: Column, n: Int): Column = {
    val ws = words(text)
    when(size(ws) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j)): _*))))
  }

  /** Distinct character n-gram shingles. */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) < n, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n)))))

  /** Exact Jaccard similarity of two (distinct-element) array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Number of whitespace tokens. */
  def tokenCountWhitespace(text: Column): Column = size(words(text))

  /** BPE-ish token count: alnum runs + isolated punctuation, via a single
    * regexp pass (codegen'd `regexp_count`). */
  def tokenCountRegex(text: Column): Column =
    regexp_count(text, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"))

  /** Rolling-hash document fingerprint (content-defined identity). */
  def fingerprint(text: Column): Column = polyHash(text)

  /** CCNet-style unicode normalization (Wenzek et al. LREC 2020): NFKD,
    * accent-mark strip, locale-free lowercase, digits → 0, whitespace
    * collapse — the canonical pre-hash fold of fuzzy-dedup pipelines
    * (RefinedWeb normalizes the same way before MinHash). A codegen'd
    * stateless projection (`functions.UnicodeFold`), dual-mode by
    * construction. */
  def normalizeText(text: Column): Column =
    graft.functions.TextNormalize.fold(text)

  /** HTML/markup strip (the web-corpus extraction step, jusText-lite):
    * drop script/style blocks, strip tags, decode the six common
    * entities, collapse whitespace. Built from regexp/replace built-ins
    * in the Java ∩ RE2 regex subset (inline `(?is)` flags + non-greedy,
    * NO backreferences), so the DuckDB oracle runs the identical chain. */
  def stripMarkup(text: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(
        regexp_replace(text, "(?is)<script[^>]*>.*?</script>", " "),
        "(?is)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")
    // tag-SHAPED spans only (</?letter… or <!DOCTYPE…): a bare
    // inequality in prose ("a<b and c>d") is NOT a tag and survives
    val noTags = regexp_replace(noBlocks, "</?[A-Za-z][^>]*>|<![A-Za-z][^>]*>", " ")
    // &amp; decodes LAST: '&amp;lt;' is the TEXT '&lt;', one decode only
    val decoded = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => replace(c, lit(e), lit(r)) }
    trim(regexp_replace(decoded, "[ \\t\\n\\f\\r\\x0B]+", " "))
  }

  /** Lowercased hosts of every URL in the text — the input to
    * domain-blocklist filtering (RefinedWeb-style URL rules). Distinct,
    * first-occurrence order; an optional userinfo component
    * (`user@host`) is skipped so a blocklisted host cannot hide behind
    * credentials. */
  def domainsOf(text: Column): Column =
    array_distinct(transform(
      regexp_extract_all(text,
        lit("(?i)https?://(?:[^/@ \\t\\n\\f\\r\\x0B]+@)?([A-Za-z0-9.-]+)"), lit(1)),
      h => lower(h)))

  /** Canonical form of a single URL — the key of URL-level dedup, the
    * FIRST and cheapest dedup stage of crawl curation (dedup by canonical
    * URL before any content hashing touches text): lowercase the scheme
    * and host — the case-insensitive components; userinfo, path and query
    * stay case-sensitive per RFC 3986 — strip an explicit default port
    * (`:80` http / `:443` https), drop the fragment, and drop the
    * standard tracking parameters (`utm_*`, `fbclid`, `gclid`, names
    * matched case-insensitively) from the QUERY ONLY, with separator
    * repair and a dangling `?`/`&` trim. The path is never rewritten —
    * `&` is a legal path sub-delimiter, so a path-blind strip would
    * truncate real paths and falsely merge distinct documents under the
    * dedup key. Pure codegen'd string expressions the DuckDB oracle
    * mirrors; strings without a `scheme://` pass through unchanged (not
    * a URL — never corrupt what can't be parsed, the same degradation
    * stance as the media stages). That passthrough INCLUDES
    * protocol-relative references (`//host/path`) by design: their
    * effective scheme is the linking page's, which a URL column does not
    * carry, so canonicalizing them would have to guess http vs https —
    * resolve them upstream where the source scheme is known. */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostportRaw = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    // userinfo (user:pass@) is case-SENSITIVE per RFC 3986 — preserved;
    // only host (+ port) lowercases
    val userinfo = regexp_extract(hostportRaw, "^(.*@)", 1)
    val host0 = lower(regexp_replace(hostportRaw, "^.*@", ""))
    val host = when(scheme === "http", regexp_replace(host0, ":80$", ""))
      .when(scheme === "https", regexp_replace(host0, ":443$", ""))
      .otherwise(host0)
    // path and query split at the FIRST '?': '&' is a legal path
    // sub-delimiter (RFC 3986), so tracking-strip and separator repair
    // must never touch the path — only the query is rewritten
    val rest = regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    val path = regexp_extract(rest, "^([^?]*)", 1)
    val query = regexp_extract(rest, "(\\?.*)$", 1)
    // tracking NAMES match case-insensitively (messy crawl data carries
    // UTM_SOURCE= variants); param VALUES and genuine params keep case.
    // The value is OPTIONAL (crawls carry valueless '?fbclid&q=1'), so a
    // bare name must end at '&' or end-of-query — expressed by consuming
    // a whole RUN of tracking params up to its terminator (keeping the
    // leading separator) because neither Java nor RE2-compatible
    // lookahead is available in the shared oracle subset; 'fbclidX'
    // never matches (no terminator after the literal name)
    val trackParam = "(?i:utm_[^&=]*|fbclid|gclid)(=[^&]*)?"
    val noTrack = regexp_replace(query,
      "([?&])" + trackParam + "(&" + trackParam + ")*(&|$)", "$1")
    // each removal keeps its leading separator: collapse &&+ runs, heal
    // the (anchored — a query starts with '?') ?&, trim a dangling ?/&
    val repaired = regexp_replace(regexp_replace(regexp_replace(
      noTrack, "&{2,}", "&"), "^\\?&", "?"), "[?&]$", "")
    when(scheme === "", url)
      .otherwise(concat(scheme, lit("://"), userinfo, host, path, repaired))
  }

  /** Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 — the
    * MOSS algorithm): word-`n`-gram hashes in position order, each window
    * of `w` selecting its rightmost minimum ([[graft.functions.WinnowSelect]],
    * one codegen'd O(len) pass per document). Output is one row per
    * selected (0-based gram position, hash): a sparse position-robust
    * signature at expected density 2/(w+1) with the paper's guarantee —
    * any shared run of at least w+n-1 words between two documents shares
    * at least one fingerprint hash, so an equi-join of fingerprint tables
    * on `fp` finds local overlaps that whole-document hashing misses and
    * fixed-stride sampling can align past. Zero shuffle; documents with
    * fewer than `w` grams winnow as a single window, so every document
    * with >= n words carries >= 1 fingerprint. */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, n: Int = 3,
                         w: Int = 4): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && w >= 1, s"need n >= 1 and w >= 1, got n=$n w=$w")
    val vf = graft.functions.VectorFunctions
    docs.select(col(idCol), vf.wordShingleHashes(col(textCol), n).as("__hs"))
      .where(size(col("__hs")) >= 1)
      .select(col(idCol), explode(vf.winnowSelect(col("__hs"), w)).as("__f"))
      .select(col(idCol), col("__f.pos").as("pos"), col("__f.h").as("fp"))
  }

  /** Local-overlap candidate pairs from winnowing fingerprints — the
    * plagiarism-index shape the paper builds (MOSS): documents sharing at
    * least `minShared` distinct fingerprint hashes. The join keys on the
    * 8-byte fingerprint ONLY (never text); a fingerprint appearing in
    * more than `maxBucket` documents is boilerplate (a hot bucket would
    * quadratically dominate the join) and is dropped from pairing — the
    * same frequent-key cap every LSH bucket join here applies, mirrored
    * exactly in the oracle. Complements Jaccard near-dup: two documents
    * sharing one long run inside otherwise-different text have low
    * resemblance but many CONSECUTIVE shared fingerprints. */
  def winnowOverlapPairs(docs: org.apache.spark.sql.DataFrame, idCol: String,
                         textCol: String, n: Int = 3, w: Int = 4,
                         minShared: Int = 2,
                         maxBucket: Int = 64): org.apache.spark.sql.DataFrame = {
    require(minShared >= 1 && maxBucket >= 2,
      s"need minShared >= 1 and maxBucket >= 2, got $minShared, $maxBucket")
    val byFp = winnowFingerprints(docs, idCol, textCol, n, w)
      .select(col(idCol), col("fp")).distinct()
    val keep = byFp.groupBy(col("fp"))
      .agg(count(lit(1)).as("__n")).where(col("__n") <= maxBucket)
      .select(col("fp"))
    val pruned = byFp.join(keep, Seq("fp"))
    pruned.select(col("fp"), col(idCol).as("id_a"))
      .join(pruned.select(col("fp"), col(idCol).as("id_b")), Seq("fp"))
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Count of words that appear in the given marker list. */
  def markerHits(text: Column, markers: Seq[String]): Column =
    size(filter(words(text), w => markers.map(m => w === m).reduce(_ || _)))

  /** Language markers for the n-gram/stopword language-ID heuristic. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "es", "una"))

  /** Heuristic language ID: argmax of marker hits, ties resolved in
    * `LangMarkers` declaration order. */
  def langId(text: Column): Column = {
    val hits = LangMarkers.map { case (l, ms) => l -> markerHits(text, ms) }
    hits.init.zipWithIndex.foldRight(lit(hits.last._1)) { case (((l, h), i), rest) =>
      val laterHits = hits.drop(i + 1).map(_._2)
      when(laterHits.map(h >= _).reduce(_ && _), l).otherwise(rest)
    }
  }

  /** Common English stopwords used by the quality score. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Repetition features (Gopher-style quality filters — Rae et al.,
    * "Scaling Language Models: ... Gopher", 2021 §A1.1): duplicate-word
    * fraction, most-frequent-word fraction, most-frequent-bigram fraction.
    * High values flag boilerplate and spam for corpus filtering.
    *
    * Pure projection, NO shuffle: the per-document multiplicity stats
    * ([total, distinct, max] over words and bigrams) compute in one
    * codegen'd pass per row (`WordGramStats`, exact string counts) — the
    * previous formulation exploded the tokenized corpus through two
    * (doc, term)-keyed aggregations, i.e. shuffled every token twice.
    * Documents with no words produce no row (explode-formulation parity). */
  def repetitionFeatures(docs: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String): org.apache.spark.sql.DataFrame = {
    val s1 = graft.functions.VectorFunctions.wordGramStats(col(textCol), 1)
    val s2 = graft.functions.VectorFunctions.wordGramStats(col(textCol), 2)
    // explode(array(struct(...))) is the usual Generate barrier: without
    // it CollapseProject inlines each stats pass into every element_at
    // reference below and the text tokenizes once per reference
    docs.select(col(idCol),
        explode(array(struct(s1.as("s1"), s2.as("s2")))).as("__st"))
      .filter(element_at(col("__st.s1"), 1) > 0)
      .select(col(idCol),
        round(lit(1.0) - element_at(col("__st.s1"), 2).cast("double") /
          element_at(col("__st.s1"), 1), 4).as("dup_word_frac"),
        round(element_at(col("__st.s1"), 3).cast("double") /
          element_at(col("__st.s1"), 1), 4).as("max_word_frac"),
        when(element_at(col("__st.s2"), 1) > 0,
          round(element_at(col("__st.s2"), 3).cast("double") /
            element_at(col("__st.s2"), 1), 4))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  /** Corpus-wide n-gram counts: explode codegen'd zipped slices (no
    * interpreted per-element lambda), then a two-stage count aggregation. */
  def ngramCounts(docs: org.apache.spark.sql.DataFrame, textCol: String,
                  n: Int): org.apache.spark.sql.DataFrame = {
    val ws = words(col(textCol))
    val castTo = (0 until n).map(j => s"w$j:string").mkString("array<struct<", ",", ">>")
    val zipped = when(size(ws) < n, array().cast(castTo))
      .otherwise(arrays_zip((0 until n).map(j =>
        slice(ws, lit(j + 1), size(ws) - (n - 1)).as(s"w$j")): _*))
    docs.select(explode(zipped).as("__g"))
      .select(concat_ws(" ", (0 until n).map(j => col(s"__g.w$j")): _*).as("ngram"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
  }

  /** Top-k most frequent n-grams (heavy hitters for boilerplate
    * detection): partial aggregation + TakeOrdered — the k results travel,
    * never the full frequency table. Ties break lexicographically. */
  def topNgrams(docs: org.apache.spark.sql.DataFrame, textCol: String,
                n: Int, k: Int): org.apache.spark.sql.DataFrame =
    ngramCounts(docs, textCol, n).orderBy(desc("cnt"), col("ngram")).limit(k)

  /** Per-document top TF-IDF word: tf·ln(N/df), argmax per doc (ties on
    * the rounded score break toward the lexicographically larger word, so
    * the result is engine-portable). Two count aggregations + one
    * word-keyed join — linear, no all-pairs.
    *
    * SEMANTIC CHOICE (not just a scan optimization): N is the number of
    * documents with >= 1 token, derived from the tf table as a broadcast
    * one-row aggregate — NOT total corpus size via a separate
    * `docs.count()` pass (a whole extra 100 TB scan). When wordless
    * documents exist, every word's IDF is computed against the smaller N;
    * since a wordless document contributes to no word's df and produces
    * no output row, this is the self-consistent definition (df <= N always
    * holds, so IDF >= 0). Callers needing classic total-corpus N should
    * count the corpus upstream and pass it through their own column. */
  def tfidfTopWord(docs: org.apache.spark.sql.DataFrame, idCol: String,
                   textCol: String): org.apache.spark.sql.DataFrame = {
    val tf = docs.select(col(idCol), explode(words(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__tf"))
    // ONE pass over tf yields BOTH stats via rollup: the (__w) groups give
    // per-word document frequencies, the grand-total group's distinct-doc
    // count is N — previously two separate aggregations whose differently
    // pruned inputs defeated ReuseExchange (three tokenization passes;
    // two is the floor for corpus-stat-then-score without caching)
    val stats = tf.rollup(col("__w"))
      .agg(count(lit(1)).as("__df"), countDistinct(col(idCol)).as("__ndist"),
        grouping(col("__w")).as("__g"))
    val dfx = stats.filter(col("__g") === 0).select(col("__w"), col("__df"))
    val nd = stats.filter(col("__g") === 1).select(col("__ndist").as("__nd"))
    tf.join(dfx, "__w")
      .crossJoin(broadcast(nd))
      .withColumn("__tfidf", col("__tf") * log(col("__nd").cast("double") / col("__df")))
      .groupBy(col(idCol))
      .agg(max_by(struct(col("__w").as("top_word"), round(col("__tfidf"), 4).as("top_tfidf")),
        struct(round(col("__tfidf"), 6), col("__w"))).as("__t"))
      .select(col(idCol), col("__t.top_word").as("top_word"),
        col("__t.top_tfidf").as("top_tfidf"))
  }

  /** BM25 (Okapi; Lucene's non-negative idf variant `ln(1 + (N - df +
    * 0.5)/(df + 0.5))`) top-k retrieval for a literal term query — the
    * ranked keyword search a corpus-curation pipeline runs to pull
    * topic-relevant documents. The query terms are literals and few, so
    * per-term frequencies become COLUMNS of one projection (no token
    * explode, no token shuffle): one corpus pass feeds a single one-row
    * aggregate carrying N, avgdl, and every per-term df, which broadcasts
    * back to a second pass that scores — two scans, the floor for
    * corpus-stat-then-score without caching. (The exploded formulation
    * referenced its tf table three times — scores, df, corpus stats — and
    * the differently-pushed filters defeated ReuseExchange: three corpus
    * scans plus a token-row shuffle.) Only the k
    * result rows travel (TakeOrdered); ties on the rounded score break
    * toward the lower document id. */
  def bm25TopK(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
               query: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(query.nonEmpty, "bm25TopK needs at least one query term")
    val terms = query.distinct.sorted
    val ws = words(col(textCol))
    val perDoc = docs.select(col(idCol) +: size(ws).as("__dl") +:
      terms.zipWithIndex.map { case (t, i) =>
        size(filter(ws, w => w === lit(t))).as(s"__tf$i")
      }: _*)
    val aggCols = count(lit(1)).cast("double").as("__n") +:
      avg(col("__dl")).as("__avgdl") +:
      terms.indices.map(i => sum((col(s"__tf$i") > 0).cast("long")).as(s"__df$i"))
    val stats = perDoc.agg(aggCols.head, aggCols.tail: _*)
    val perTerm = terms.indices.map { i =>
      val idf = log((col("__n") - col(s"__df$i") + lit(0.5)) /
        (col(s"__df$i") + lit(0.5)) + lit(1.0))
      when(col(s"__tf$i") > 0,
        idf * (col(s"__tf$i") * lit(k1 + 1)) /
          (col(s"__tf$i") + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl"))))
        .otherwise(lit(0.0))
    }
    perDoc.crossJoin(broadcast(stats))
      .select(col(idCol),
        round(perTerm.reduce(_ + _), 4).as("bm25"),
        terms.indices.map(i => (col(s"__tf$i") > 0).cast("long")).reduce(_ + _).as("n_terms"))
      .filter(col("n_terms") > 0)
      .orderBy(desc("bm25"), col(idCol))
      .limit(k)
  }

  /** Batched BM25 retrieval — the SCALE face of [[bm25TopK]] (which stays
    * as the single-query, literal-term correctness baseline): top-k
    * documents per query for a whole QUERY TABLE at once — the batch
    * retrieval shape of RAG-corpus curation, dedup-by-retrieval, and
    * benchmark-contamination sweeps. Output: (qIdCol, idCol, bm25, rank).
    *
    * Plan shape for 100 TB: the corpus NEVER shuffles by term. Postings
    * (doc, term, tf) come from one partial-aggregated groupBy (a
    * document's tokens sit in one partition, so map-side combine
    * collapses them before the exchange carries per-doc distinct terms
    * once); document frequencies are computed ONLY for the query
    * vocabulary (broadcast semi-join first — the full vocab-sized df
    * table never materializes); and the query-term × idf × avgdl table
    * joins BROADCAST against the postings (a query batch is bounded by
    * contract: thousands of queries × tens of terms — the corpus is the
    * scaled side). A stopword in a query matches every document, so the
    * per-(query, doc) score aggregate is the load-bearing stage: a SUM —
    * partially aggregated map-side like any sum — and the final ranking
    * rides the bounded-heap [[graft.operators.GroupTopK]], so the rank
    * exchange carries queries × k pairs, never candidate lists. Scores
    * round to 4 decimals BEFORE ranking, ties on ascending doc id — rank
    * is stable against fp summation order across engines/partitionings.
    * Same Lucene/Robertson idf as [[bm25TopK]]:
    * ln((N − df + 0.5)/(df + 0.5) + 1). Queries with no words (or no
    * indexed term) return no rows.
    *
    * Streaming queries: micro-batch the query stream into bounded
    * batches and call THIS face per batch (foreachBatch) — deliberately
    * no flatMapGroupsWithState ingest face, because a per-query
    * stateless combine would concentrate a stopword query's
    * corpus-sized match list in ONE task, exactly the shape the batch
    * face's partial-aggregated sum spreads. */
  def bm25Retrieve(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                   queries: org.apache.spark.sql.DataFrame, qIdCol: String,
                   qTextCol: String, k: Int,
                   k1: Double = 1.2, b: Double = 0.75,
                   /** default: the bounded-query-batch contract FORCES the
                     * query-term × idf broadcast. Pass false for query
                     * tables beyond broadcast size — the postings join
                     * then shuffles on the term (planner-sized; a hot
                     * stopword term concentrates its probe rows in one
                     * STREAMING task — linear, no sort — and AQE's skew
                     * split can subdivide it), the dedupAgainstCorpus
                     * broadcastRef convention. */
                   broadcastQueries: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"bm25Retrieve needs k > 0, got $k")
    graft.operators.GroupTopK.requireIntegralId(docs, idCol, "bm25Retrieve")
    // output is (qIdCol, idCol, bm25, rank): reject collisions up front
    // with a named contract error (the topKPerKey convention) — queries
    // drawn from the docs table without renaming their id would otherwise
    // emit two same-named columns and fail downstream as
    // AMBIGUOUS_REFERENCE
    require(qIdCol != idCol,
      s"bm25Retrieve: qIdCol and idCol are both '$idCol' — rename one " +
        "(output is (qIdCol, idCol, bm25, rank))")
    Seq(qIdCol, idCol).foreach(c => require(c != "bm25" && c != "rank",
      s"bm25Retrieve: id column '$c' collides with an output column " +
        "(output is (qIdCol, idCol, bm25, rank))"))
    val ws = words(col(textCol))
    val tf = docs
      .select(col(idCol).as("__did"), ws.as("__w"))
      .select(col("__did"), size(col("__w")).as("__dl"), explode(col("__w")).as("__t"))
      .groupBy(col("__did"), col("__dl"), col("__t"))
      .agg(count(lit(1)).cast("double").as("__tf"))
    // N and avgdl count EVERY document, empty ones included (the explode
    // drops them from the postings but not from the collection stats —
    // the bm25TopK convention)
    val stats = docs.select(size(ws).as("__dl0"))
      .agg(count(lit(1)).cast("double").as("__n"), avg(col("__dl0")).as("__avgdl"))
    val qt = queries.select(col(qIdCol).as("__qid"),
      explode(array_distinct(words(col(qTextCol)))).as("__t"))
    val qVocab = qt.select(col("__t")).distinct()
    val qVocabSide = if (broadcastQueries) broadcast(qVocab) else qVocab
    val dfTab = tf.join(qVocabSide, Seq("__t"), "left_semi")
      .groupBy(col("__t")).agg(count(lit(1)).cast("double").as("__df"))
    val qIdf = qt.join(dfTab, Seq("__t")).crossJoin(stats)
      .select(col("__qid"), col("__t"),
        log((col("__n") - col("__df") + lit(0.5)) / (col("__df") + lit(0.5)) + lit(1.0))
          .as("__idf"),
        col("__avgdl"))
    val qIdfSide = if (broadcastQueries) broadcast(qIdf) else qIdf
    val scored = tf.join(qIdfSide, Seq("__t"))
      .select(col("__qid"), col("__did"),
        (col("__idf") * col("__tf") * lit(k1 + 1) /
          (col("__tf") + lit(k1) * (lit(1 - b) + lit(b) * col("__dl") / col("__avgdl"))))
          .as("__c"))
      .groupBy(col("__qid"), col("__did"))
      .agg(round(sum(col("__c")), 4).as("__bm25"))
    graft.operators.GroupTopK.topKPerKey(scored, Seq("__qid"), "__did",
        col("__bm25"), k, scoreAs = "bm25")
      .select(col("__qid").as(qIdCol), col("__did").as(idCol),
        col("bm25"), col("rank"))
  }

  /** Hybrid retrieval fusion — the BM25 lexical leg and the dense ANN
    * leg fused by reciprocal-rank fusion (Cormack, Clarke & Büttcher
    * 2009: RRF(q, d) = Σ_legs 1/(kRrf + rank_leg), the standard
    * score-free fusion of RAG-corpus curation): each query retrieves its
    * top-`legK` documents by BM25 ([[bm25Retrieve]] over `textCol` vs
    * `qTextCol`) and by cosine over the embedding column
    * ([[Similarity.bruteForceTopKPartial]] by default; pass
    * `ivfCentroids` + `nProbe` to route the dense leg through
    * [[Ivf.search]]'s cell probes for beyond-brute corpora), the legs
    * union as (query, doc, rank) and
    * fuse with ONE groupBy, and the fused top-`k` rides the bounded-heap
    * [[graft.operators.GroupTopK]]. A document on one leg only takes
    * that leg's term (standard RRF). Ranking is on the exact fused
    * double (integer ranks → IEEE-identical across engines) with
    * ascending-id ties; the output `rrf` rounds to 6 decimals AFTER
    * ranking. Leg conventions are kept as their operators define them:
    * the ANN leg excludes the query's own id, the BM25 leg does not (a
    * self-match ranks by its own lexical score).
    *
    * Output: (qIdCol, idCol, rrf, rank), rank 1..k per query.
    *
    * Scale shape: both legs are map-side bounded-heap top-k (the corpus
    * never shuffles by term and never pairs all vectors); the fusion
    * input is queries × 2·legK rows, so the fusing groupBy and the final
    * heap are query-bounded regardless of corpus size. Batch-only on
    * both sides, like its legs — micro-batch a query stream via
    * foreachBatch. */
  def hybridRrfRetrieve(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, vecCol: String,
                        queries: org.apache.spark.sql.DataFrame, qIdCol: String,
                        qTextCol: String, qVecCol: String, k: Int,
                        /** per-leg retrieval depth; 0 (default) = `k`. */
                        legK: Int = 0,
                        /** the RRF smoothing constant (60 in Cormack et
                          * al. and every production default). */
                        kRrf: Int = 60,
                        k1: Double = 1.2, b: Double = 0.75,
                        broadcastQueries: Boolean = true,
                        /** IVF routing for the ANN leg — the beyond-brute
                          * face: with a trained codebook
                          * ([[graft.pipeline.Ivf.train]]) and `nProbe`
                          * > 0, each query scores exact cosine within its
                          * `nProbe` nearest cells ONLY
                          * ([[graft.pipeline.Ivf.search]] — the corpus
                          * never cross-joins the query set). The default
                          * keeps the brute-force leg: exhaustive, exact,
                          * right for corpora one broadcast pass can
                          * scan. */
                        ivfCentroids: Option[org.apache.spark.sql.DataFrame] = None,
                        nProbe: Int = 0): org.apache.spark.sql.DataFrame = {
    require(k > 0, s"hybridRrfRetrieve needs k > 0, got $k")
    require(legK >= 0, s"legK must be >= 0 (0 = use k), got $legK")
    require(kRrf > 0, s"kRrf must be positive, got $kRrf")
    require(ivfCentroids.isEmpty == (nProbe == 0),
      "hybridRrfRetrieve: IVF routing takes BOTH a trained codebook and " +
        s"nProbe > 0 (got centroids=${ivfCentroids.nonEmpty}, nProbe=$nProbe)")
    require(!docs.isStreaming && !queries.isStreaming,
      "hybridRrfRetrieve is batch-only on both sides (corpus-wide " +
        "collection stats + bounded top-k legs); micro-batch a query " +
        "stream via foreachBatch")
    // fail by name BEFORE the BM25 leg's long cast can corrupt a
    // non-integral id into NULLs (the bounded heaps carry (id, score))
    graft.operators.GroupTopK.requireIntegralId(docs, idCol, "hybridRrfRetrieve")
    val lk = if (legK == 0) k else legK
    val bmLeg = bm25Retrieve(docs, idCol, textCol,
        queries.select(col(qIdCol), col(qTextCol)), qIdCol, qTextCol, lk,
        k1, b, broadcastQueries)
      .select(col(qIdCol), col(idCol).cast("long").as(idCol),
        col("rank").cast("long").as("__r"))
    val annLeg = (ivfCentroids match {
      case Some(cent) => graft.pipeline.Ivf.search(
          docs.select(col(idCol), col(vecCol)),
          queries.select(col(qIdCol), col(qVecCol).as(vecCol)),
          idCol, vecCol, qIdCol, cent, topK = lk, nProbe = nProbe,
          broadcastQueries = broadcastQueries)
      case None => graft.pipeline.Similarity.bruteForceTopKPartial(
          docs.select(col(idCol), col(vecCol)),
          queries.select(col(qIdCol), col(qVecCol).as(vecCol)),
          idCol, vecCol, qIdCol, lk)
    }).select(col(qIdCol), col(idCol).cast("long").as(idCol),
      col("rn").cast("long").as("__r"))
    val fused = bmLeg.unionByName(annLeg)
      .groupBy(col(qIdCol), col(idCol))
      .agg(sum(lit(1.0) / (lit(kRrf.toLong) + col("__r"))).as("__rrf"))
    graft.operators.GroupTopK.topKPerKey(fused, Seq(qIdCol), idCol,
        col("__rrf"), k, scoreAs = "rrf")
      .withColumn("rrf", round(col("rrf"), 6))
  }

  /** Sequence packing: assign documents, in a stable order within each
    * partition key, to consecutive training chunks of ~`budget` tokens
    * (streaming-greedy: a chunk takes documents until the budget is
    * crossed, so chunks overflow by at most one document — the standard
    * packing used when assembling fixed-length training sequences).
    *
    * Scale shape: the per-key running token sum is a DISTRIBUTED exact
    * prefix ([[RangedPrefix]] — range partition on the unique
    * (partCol, idCol) total order, one narrow checkpoint of
    * (id, key, n_tokens) rows, per-(range, key) token sums as offsets),
    * not a per-key window. The caller picks `partCol`, and a packing run
    * over one corpus slice — a single source, a single epoch — is a
    * NATURAL call whose coarse key would otherwise fold the entire
    * corpus's prefix sum in one task; with the ranged prefix every task
    * is bounded by the range width regardless of key skew
    * (capTokensPerKey's shape — the same greedy budget walk). Requires
    * `idCol` unique within each key (the order the greedy walk follows;
    * duplicate ids would make the walk itself ill-defined). */
  def packChunks(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                 partCol: String, budget: Long): org.apache.spark.sql.DataFrame = {
    require(budget > 0, s"budget=$budget: chunk budget must be positive " +
      "(zero would divide the running token sum by zero)")
    val toks = tokenCountWhitespace(col(textCol)).cast("long")
    val base = docs.select(col(idCol), col(partCol), toks.as("n_tokens"))
    // chunk boundary = floor(prefix EXCLUDING the current doc / budget),
    // on the shared running-sum kernel
    RangedPrefix.runningSum(base, groupCols = Seq(partCol),
        orderCols = Seq(col(idCol)), valueExpr = col("n_tokens"),
        inclusive = false, as = "__pfx")
      .withColumn("chunk_id", floor(col("__pfx") / budget).cast("long"))
      .select(col(idCol), col(partCol), col("n_tokens"), col("chunk_id"))
  }

  /** Frequency-ranked vocabulary: words with >= `minCount` occurrences,
    * top `maxSize` by (count desc, word asc), contiguous ids from 0 in
    * that order. The corpus-wide count is one partial-aggregated shuffle;
    * ranking is DISTRIBUTED: range-partition the counted words by the
    * vocab order, row_number within each range, then add per-range
    * offsets (a #partitions-row driver aggregate) — contiguous global ids
    * with no single-partition window or sort anywhere, and no driver-side
    * top-K merge. The RESULT (bounded by `maxSize`) remains the one
    * intentionally driver-sized artifact of the encode pipeline (it is
    * broadcast by `encodeTokens`), like the IVF codebook. */
  def buildVocab(docs: org.apache.spark.sql.DataFrame, textCol: String,
                 minCount: Long, maxSize: Int): org.apache.spark.sql.DataFrame = {
    // cap where "driver-sized" stops being true (~10^7 rows is already
    // hundreds of MB broadcast; a 10^8 request is a mistake, not a vocab)
    require(maxSize > 0 && maxSize <= 10000000,
      s"maxSize=$maxSize: the vocabulary is collected to the driver and " +
        "broadcast to every encode task; it must stay driver-sized (<= 1e7)")
    import org.apache.spark.sql.expressions.Window
    val spark = docs.sparkSession
    val sc = spark.sparkContext
    // expected "lineage truncated" WARN per id — superseded checkpoints
    // are never re-read (same hygiene as connectedComponents)
    def unpersistIds(ids: Set[Int]): Unit = graft.api.Pinned.unpersist(sc, ids)
    // materialize the counts BEFORE range partitioning: RangePartitioner's
    // boundary sampling is itself a pass over its child, so an
    // uncheckpointed count aggregate would run twice (sampling + shuffle);
    // checkpointed, the corpus-scanning explode+aggregate runs exactly once
    val counted = docs.select(explode(words(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcount"))
      .filter(col("wcount") >= minCount)
      .localCheckpoint()
    val countedIds = graft.api.Pinned.idsOf(counted)
    val nBuckets = math.max(1, sc.defaultParallelism)
    // pin ONE bucketing: RangePartitioner's boundary sampling is seeded
    // per-physical-plan, so an unpinned range exchange derives DIFFERENT
    // bucket boundaries in every job that scans it — per-bucket sizes
    // measured in one job would not describe the bucketing the id
    // assignment (or any later re-read) actually sees, corrupting every
    // id past bucket 0. Checkpointing here makes the bucket assignment a
    // fact, not a plan; the per-bucket histogram rides the checkpoint
    // action as an observed metric (the checkpointTracked pattern from
    // connectedComponents) instead of costing a second job.
    val obs = org.apache.spark.sql.Observation()
    val bucketed = counted
      .repartitionByRange(nBuckets, desc("wcount"), col("word"))
      .withColumn("__b", spark_partition_id())
      .observe(obs, graft.functions.VectorFunctions.countByIntKey(col("__b")).as("__sizes"))
      .localCheckpoint()
    val bucketedIds = graft.api.Pinned.idsOf(bucketed)
    val sizes = obs.get("__sizes").asInstanceOf[scala.collection.Map[Int, Long]]
    val offsets = (0 until nBuckets).map(sizes.getOrElse(_, 0L)).scanLeft(0L)(_ + _)
    // ranges come back ordered by partition id (highest counts in range 0),
    // so offset(b) + local rank is the exact global (count desc, word) rank
    val offExpr = element_at(
      map((0 until nBuckets).flatMap(b => Seq(lit(b), lit(offsets(b)))): _*), col("__b"))
    val w = Window.partitionBy(col("__b")).orderBy(desc("wcount"), col("word"))
    // the result is driver-sized by contract (<= maxSize rows; encodeTokens
    // broadcasts it) — materialize it once and release the corpus-sized
    // intermediates NOW: every later consumer re-reads maxSize pinned rows,
    // never the corpus scan or the range exchange (which also guarantees
    // repeated reads agree — the ranking is computed exactly once)
    val out = bucketed
      .withColumn("id", (offExpr + row_number().over(w) - 1).cast("long"))
      .filter(col("id") < maxSize)
      .select(col("word"), col("wcount"), col("id"))
      .localCheckpoint()
    // only the driver-sized result stays pinned; a long-lived service
    // frees it via graft.api.Pinned.release once encoding completes
    graft.api.Pinned.register(spark, graft.api.Pinned.idsOf(out))
    unpersistIds(countedIds ++ bucketedIds)
    out
  }

  /** Encode documents to token-id arrays against a vocabulary frame
    * (`word`, `id`): tokens keep their positions through `posexplode`, the
    * vocab joins broadcast (it is maxSize rows), unknown words become
    * `oovId`, and per-document arrays re-assemble in token order. Output:
    * (idCol, ids array<long>, n_oov). One shuffle on the document id. */
  def encodeTokens(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                   vocab: org.apache.spark.sql.DataFrame,
                   oovId: Long = -1L): org.apache.spark.sql.DataFrame =
    docs.select(col(idCol), posexplode(words(col(textCol))).as(Seq("__pos", "__w")))
      .join(broadcast(vocab.select(col("word").as("__w"), col("id"))), Seq("__w"), "left")
      .groupBy(col(idCol))
      .agg(
        transform(
          array_sort(collect_list(struct(col("__pos"),
            coalesce(col("id"), lit(oovId)).as("__id")))),
          s => s.getField("__id")).as("ids"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"))

  /** Overlapping token-window chunking — splitting long documents into
    * fixed-size windows with stride < size (the RAG-indexing / context-
    * length-preprocessing sibling of `packChunks`). Pure per-row explode:
    * chunk starts are `0, stride, 2·stride, …` while < n_tokens, the last
    * window truncates, chunk_id = start/stride. The token array
    * materializes once before the Generate barrier so per-chunk slicing
    * never re-tokenizes. No shuffle at all — scales with the scan. */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      s"need 0 < stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    // zero-word documents produce no chunks (and must not reach sequence():
    // sequence(0, -1, stride) is an ANSI error, the same trap Sampling.scala
    // documents) — the filter mirrors the oracle's empty generate_series
    val base = docs.select(col(idCol), words(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 1)
    base.select(col(idCol), col("__ws"),
        explode(sequence(lit(0), size(col("__ws")) - 1, lit(stride))).as("__s"))
      .select(col(idCol),
        (col("__s") / stride).cast("long").as("chunk_id"),
        concat_ws(" ", slice(col("__ws"), col("__s") + 1, lit(chunkSize))).as("chunk_text"),
        least(lit(chunkSize), size(col("__ws")) - col("__s")).cast("long").as("n_tokens"))
  }

  /** Sentence segmentation in the Java ∩ RE2 regex subset (no
    * lookarounds, so the DuckDB oracle runs the IDENTICAL pattern):
    * maximal runs of non-terminator characters plus their trailing
    * `.?!` run, trimmed, empties dropped. Unpunctuated text is one
    * sentence; an all-punctuation string yields none. A heuristic by
    * design (abbreviations split — the documented trade of every
    * regex segmenter); the value is that it is engine-reproducible. */
  def sentencesOf(text: Column): Column =
    filter(transform(
      regexp_extract_all(text, lit("[^.!?]+[.!?]*"), lit(0)), s => trim(s)),
      s => s =!= "")

  /** Sentence-aware chunking — the RAG-ingestion sibling of
    * [[chunkTokens]] (fixed token windows cut mid-sentence; retrieval
    * chunks should not): consecutive SENTENCES pack greedily into
    * chunks of ~`maxTokens` whitespace tokens, [[packChunks]]'
    * convention exactly (a chunk takes sentences until the budget is
    * crossed, so chunks overflow by at most one sentence; an oversized
    * single sentence gets its own chunk rather than splitting). Output
    * (idCol, chunk_id, chunk_text, n_tokens, n_sentences); documents
    * with no sentences produce no chunks.
    *
    * Scale shape: the running sum is a per-DOCUMENT window — bounded by
    * a single document's sentence count, the operator's natural unit
    * (never a corpus-scale partition). Dual-mode: the streaming face
    * reassembles each arriving document's chunks in the stateless
    * per-batch combine (every sentence row derives from its own input
    * row — the encodeTokensIngest pattern), zero state rows. Requires
    * `idCol` unique (the packChunks contract): duplicate ids would give
    * colliding sentence positions and an arbitrary tie-broken running
    * sum. */
  def chunkSentences(docs: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, maxTokens: Long,
                     sep: String = " "): org.apache.spark.sql.DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    val e = docs
      .select(col(idCol), posexplode(sentencesOf(col(textCol))).as(Seq("__pos", "__sent")))
      .withColumn("__t", tokenCountWhitespace(col("__sent")).cast("long"))
    // the shared kernel's plain-window face: the group is one DOCUMENT's
    // sentences — the natural bounded unit
    e.withColumn("chunk_id",
        floor(RangedPrefix.windowedSum(Seq(col(idCol)), Seq(col("__pos")),
          col("__t"), inclusive = false) / maxTokens).cast("long"))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__sent")))),
          x => x.getField("__sent")), sep).as("chunk_text"),
        sum(col("__t")).as("n_tokens"),
        count(lit(1)).as("n_sentences"))
  }

  /** Dual-mode [[chunkSentences]] at ingest: batch delegates to the
    * window face (the q_chunk_sent oracle face); streaming explodes each
    * arriving doc's sentences and reassembles chunks in the stateless
    * per-batch combine — identical greedy fold, zero state rows. */
  def chunkSentencesIngest(stream: graft.api.MStream, idCol: String,
                           textCol: String, maxTokens: Long,
                           sep: String = " "): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    val df = stream.df
    if (!df.isStreaming)
      return stream.lift(chunkSentences(df, idCol, textCol, maxTokens, sep))
    val u = df
      .select(col(idCol).as("__id"),
        posexplode(sentencesOf(col(textCol))).as(Seq("__pos", "__sent")))
      .withColumn("__t", tokenCountWhitespace(col("__sent")).cast("long"))
    val idType = df.schema(idCol).dataType
    val outT = StructType(Seq(
      StructField("__id", idType),
      StructField("chunk_id", LongType, nullable = false),
      StructField("chunk_text", StringType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("n_sentences", LongType, nullable = false)))
    val outEnc: Encoder[Row] = RowEncoder.encoderFor(outT)
    val (posIdx, sentIdx, tIdx) =
      (u.schema.fieldIndex("__pos"), u.schema.fieldIndex("__sent"),
        u.schema.fieldIndex("__t"))
    val out = graft.streaming.PerBatchCombine(u, Seq("__id"), outEnc) {
        (key: Row, it: Iterator[Row]) =>
          val rows = it.toArray.sortBy(_.getInt(posIdx))
          val chunks = scala.collection.mutable.LinkedHashMap
            .empty[Long, (StringBuilder, Long, Long)]
          var prefix = 0L
          rows.foreach { r =>
            val cid = prefix / maxTokens
            val t = r.getLong(tIdx)
            prefix += t
            chunks.get(cid) match {
              case Some((sb, nt, ns)) =>
                chunks(cid) = (sb.append(sep).append(r.getString(sentIdx)), nt + t, ns + 1)
              case None =>
                chunks(cid) = (new StringBuilder(r.getString(sentIdx)), t, 1L)
            }
          }
          chunks.iterator.map { case (cid, (sb, nt, ns)) =>
            Row(key.get(0), cid, sb.toString, nt, ns)
          }
      }
      .select(col("__id").as(idCol), col("chunk_id"), col("chunk_text"),
        col("n_tokens"), col("n_sentences"))
    stream.lift(out)
  }

  /** Benchmark decontamination — n-gram-overlap hygiene between a training
    * corpus and an evaluation set (the published practice for GPT-3/PaLM
    * training data: drop or flag documents sharing word-n-grams with a
    * benchmark). The benchmark is small by nature, so its distinct n-gram
    * hashes BROADCAST; the corpus side is one explode + broadcast
    * semi-join + per-doc count — the only shuffle carries (doc, hits),
    * never text. Same portable shingle hashes as the dedup stack, so the
    * overlap set is engine-reproducible. */
  def decontaminate(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                    bench: org.apache.spark.sql.DataFrame, benchTextCol: String,
                    n: Int = 8, minOverlap: Int = 1): org.apache.spark.sql.DataFrame = {
    val grams = graft.functions.VectorFunctions.wordShingleHashes(col(textCol), n)
    val docGrams = docs.select(col(idCol),
      explode(array_distinct(grams)).as("__g"))
    val benchGrams = bench.select(explode(array_distinct(
      graft.functions.VectorFunctions.wordShingleHashes(col(benchTextCol), n))).as("__g"))
      .distinct()
    val hits = docGrams.join(broadcast(benchGrams), "__g")
      .groupBy(col(idCol)).agg(count(lit(1)).as("__n")) // doc grams are distinct already
    docs.select(col(idCol)).join(hits, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_overlap"),
        (coalesce(col("__n"), lit(0L)) >= minOverlap).cast("int").as("contaminated"))
  }

  // ================================================================ the LM

  /** ONE n-gram language model, declared: its order, its smoothing with
    * that smoothing's parameters, the levers of the against faces and the
    * output count column — the spec the one scoring entry [[lmScore]]
    * takes, batch or streaming, self-scored or against a reference. This
    * is the CCNet quality signal (Wenzek et al., "CCNet: Extracting High
    * Quality Monolingual Datasets from Web Crawl Data", 2020: score crawl
    * text by the perplexity of a 5-gram KenLM trained per language on
    * Wikipedia); every smoothing here is counts-based and deterministic,
    * so an independent engine reproduces the scores bit-for-bit, which
    * KenLM's float quantization would not.
    *  - `minCount` prunes reference counts < minCount at orders >= 2
    *    (KenLM's --prune; on Kneser-Ney before the continuation counts
    *    derive, so they count surviving types): pruned grams score as
    *    unseen. THE scale lever that keeps a high-order model a
    *    broadcastable artifact when the reference corpus is large.
    *  - `broadcastModel`: None = AUTO, decided per model pin from its
    *    measured size vs the session broadcast threshold (the model is
    *    checkpointed before scoring, so its size is known); Some(false)
    *    = unhinted model joins for a beyond-broadcast model, batch only —
    *    streaming needs every table to broadcast; Some(true) forces the
    *    broadcast (the streaming escape).
    *  - `sentenceMode`: sentence-delimited `<s>`/`</s>` windowing on BOTH
    *    sides ([[Sentences]]) — each sentence scores its n words plus one
    *    `</s>` event under `<s>`-padded contexts; the opt-in that makes a
    *    sentence-trained artifact ([[Arpa]]'s `sentenceMode` export)
    *    numerically drop-in.
    *  - `countCol`: the output position-count column; None = n_pairs
    *    for add-alpha, n_grams otherwise. A Jelinek-Mercer against face
    *    may name any column (n_tris keeps order-3 outputs drop-in for
    *    the self-scored trigram's); a self-scored Jelinek-Mercer model of
    *    order 3 may name n_tris, and its order-3 scoring stage then stays
    *    NARROW — the one stage off the [[scoringSpread]] table, an
    *    explicit choice, not derived: spreading it changes batch_sf001's
    *    q_lm3_score plan and needs its own ABBA run first.
    * [[check]] is the one parameter contract; the program-document LM
    * nodes map onto this spec and share it. */
  final case class LmSpec(order: Int, smoothing: LmSpec.Smoothing,
                          minCount: Long = 1L,
                          broadcastModel: Option[Boolean] = None,
                          sentenceMode: Boolean = false,
                          countCol: Option[String] = None) {
    import LmSpec._

    /** The output position-count column. */
    def nCol: String = countCol.getOrElse(smoothing match {
      case _: AddAlpha => "n_pairs"
      case _ => "n_grams"
    })

    /** The Kneser-Ney family (fixed or modified discounts). */
    def kn: Boolean = smoothing match {
      case _: KneserNey | _: ModifiedKn => true
      case _ => false
    }

    /** THE parameter contract of the LM family — exactly the
      * combinations the engines take, for a model scored `against` a
      * reference or not, `byLang` (per-language models) or shared.
      * Throws an IllegalArgumentException whose message starts with
      * `label`. */
    def check(label: String, against: Boolean, byLang: Boolean): Unit = {
      def need(ok: Boolean, msg: => String): Unit =
        if (!ok) throw new IllegalArgumentException(s"$label $msg")
      def triple(what: String, t: (Double, Double, Double)): Unit = {
        val (d1, d2, d3) = t
        need(d1 > 0 && d1 <= 1 && d2 > 0 && d2 <= 2 && d3 > 0 && d3 <= 3,
          s"$what discounts must satisfy 0 < D1 <= 1, 0 < D2 <= 2, " +
            s"0 < D3+ <= 3, got ($d1, $d2, $d3)")
      }
      // order 1 is a unigram table, not an LM; past 8 the count tables
      // stop being model-sized on real corpora
      need(order >= 2 && order <= 8, s"order must be in [2, 8], got $order")
      need(minCount >= 1, s"needs minCount >= 1, got $minCount")
      need(against || (minCount == 1L && broadcastModel.isEmpty),
        "takes minCount and broadcastModel only against a reference (they " +
          "prune and ship a reference model; a self-scored model is neither)")
      need(!sentenceMode || (kn && against && !byLang),
        "takes sentenceMode only on a shared Kneser-Ney model against a " +
          "reference (the sentence-trained artifact's face)")
      need(countCol.forall(c => c.nonEmpty && (smoothing match {
          case _: JelinekMercer => against || c == "n_grams" || (c == "n_tris" && order == 3)
          case _ => false
        })),
        s"cannot name its count column ${countCol.getOrElse("")} (a " +
          "Jelinek-Mercer against face names any; a self-scored one n_tris " +
          "at order 3; the others keep n_pairs / n_grams)")
      smoothing match {
        case AddAlpha(alpha) =>
          need(order == 2 && !byLang, "add-alpha smoothing is the order-2 " +
            s"shared-model bigram, got order $order" +
            (if (byLang) " with language columns" else ""))
          need(alpha > 0, s"needs alpha > 0, got $alpha")
          need(minCount == 1L && broadcastModel.isEmpty, "add-alpha smoothing " +
            "takes neither minCount nor broadcastModel (its model is " +
            "never pruned and always broadcasts)")
        case JelinekMercer(alpha, lambdas) =>
          need(alpha > 0, s"needs alpha > 0, got $alpha")
          need(lambdas.isEmpty || lambdas.length == order,
            s"of order $order needs $order lambdas (highest order first), " +
              s"got ${lambdas.length}")
          need(lambdas.isEmpty || (lambdas.forall(_ >= 0) &&
            math.abs(lambdas.sum - 1.0) < 1e-9),
            s"lambdas must be non-negative and sum to 1, got " +
              lambdas.mkString("(", ", ", ")"))
        case KneserNey(discount) =>
          need(discount > 0 && discount < 1,
            s"discount must be in (0, 1), got $discount")
        case ModifiedKn(discounts, fallback) =>
          triple("fallback", fallback)
          need(discounts.isEmpty || !byLang, "takes explicit modified-KN " +
            "discounts only on a shared model (per-language discounts " +
            "derive from each language's own counts)")
          need(discounts.isEmpty || discounts.keySet == (1 to order).toSet,
            s"explicit modified-KN discounts must cover every level 1..$order " +
              "(highest = raw counts, lower = continuation counts), got levels " +
              discounts.keySet.toSeq.sorted.mkString(","))
          discounts.toSeq.sortBy(_._1).foreach { case (j, t) => triple(s"level-$j", t) }
      }
    }
  }

  object LmSpec {
    /** How an [[LmSpec]] turns counts into probabilities. */
    sealed trait Smoothing

    /** Add-alpha bigram: ln((c(u,v) + α) / (c(u) + α·V)) over adjacent
      * token pairs, V = the distinct tokens that follow some token.
      * Order 2, one shared model. */
    final case class AddAlpha(alpha: Double = 0.5) extends Smoothing

    /** Jelinek-Mercer interpolation of add-alpha estimates: P(t | ctx) =
      * Σ_j λ_j · P̂_j(t | last j−1 tokens), V = the distinct-unigram
      * vocabulary (a documented deviation from KenLM's modified KN — the
      * counts-based exact family). `lambdas`: `order` weights, highest
      * order first, non-negative, sum 1; Nil takes the halving default
      * λ_j ∝ 2^j (normalized), the standard strong preference for the
      * longest context. */
    final case class JelinekMercer(alpha: Double = 0.5,
                                   lambdas: Seq[Double] = Nil) extends Smoothing

    /** Interpolated Kneser-Ney at one fixed discount (Kneser & Ney 1995;
      * Chen & Goodman 1999 §3): continuation counts below the top order,
      * full back-off on unseen contexts. */
    final case class KneserNey(discount: Double = 0.75) extends Smoothing

    /** Modified Kneser-Ney — KenLM parity: three count-bucketed discounts
      * (D1, D2, D3+) per level, each derived from that level's
      * count-of-counts ([[mknDerive]], with KenLM's `--discount_fallback`
      * semantics: the all-or-none per-order rule an independent engine
      * reproduces exactly, `fallback` when the estimate is degenerate).
      * `discounts` overrides the derivation per level (level 1 =
      * continuation unigrams, level `order` = raw counts); shared models
      * only. */
    final case class ModifiedKn(discounts: Map[Int, (Double, Double, Double)] = Map.empty,
                                fallback: (Double, Double, Double) = MknFallback)
        extends Smoothing
  }

  /** The reference corpus an [[LmSpec]] trains on: a batch frame and its
    * text column, plus, for per-language models, the (scored documents',
    * reference's) language columns. */
  final case class LmRef(docs: org.apache.spark.sql.DataFrame, textCol: String,
                         byLang: Option[(String, String)] = None)

  /** THE LM scoring entry: every document of `stream` scores by its
    * average per-position ln P under the model `spec` declares — trained
    * on the input itself (batch only) or on `ref`, one model shared by
    * all documents or one per language. Output (idCol, spec.nCol,
    * avg_logprob); documents under `order` tokens emit (0, NULL), and
    * under per-language models a document whose language has no
    * reference model (or whose language's slice has no bigram) keeps
    * its position count and scores NULL — the deterministic no-model
    * verdict; a null language is its own model (struct-wrapped keys, the
    * engine-wide null-group convention).
    *
    * Scale shape: the model is [[lmCounts]]'s pinned count tables (one
    * grouping-sets aggregate, two pins for Kneser-Ney), orders of
    * magnitude under corpus size; per-language models are SLICES of the
    * same pins with the language as one more key, trained in one pass.
    * Scoring explodes the order-n positions and joins them against the
    * count slices ([[lmApply]]) — inner joins on the self face (a
    * position's own occurrence puts every suffix in the model), LEFT
    * joins against a reference, where unseen contexts back off (the
    * smoothed floor (0+α)/(0+Vα), or Kneser-Ney's skipped level and
    * uniform 1/(V+1) floor). A stream scores through stream-static
    * broadcast joins and the stateless per-batch combine — zero
    * state-store rows. The engines are [[jmSelfScore]],
    * [[jmAgainstScore]], [[knSelfScore]] and [[knAgainstScore]]. */
  def lmScore(stream: graft.api.MStream, spec: LmSpec, idCol: String, textCol: String,
              ref: Option[LmRef] = None): graft.api.MStream = {
    import LmSpec._
    val label = "lmScore"
    spec.check(label, ref.isDefined, ref.exists(_.byLang.isDefined))
    val order = spec.order
    val addAlpha = spec.smoothing.isInstanceOf[AddAlpha]
    // the per-position log-likelihood of the add-alpha family (add-alpha
    // and Jelinek-Mercer); counts absent after a LEFT join coalesce to 0
    def jmLp(left: Boolean): Column = spec.smoothing match {
      case AddAlpha(alpha) =>
        def c(n: String): Column = if (left) coalesce(col(n), lit(0L)) else col(n)
        log((c("__c2") + alpha) / (c("__cx2") + col("__vv") * alpha))
      case JelinekMercer(alpha, lambdas) => ngramLp(order, alpha, lambdasFor(order, lambdas))
      case other => throw new IllegalStateException(s"not the add-alpha family: $other")
    }
    // the Kneser-Ney discounts, read after the model pins (a derivation
    // folds them): fixed, explicit, derived for the shared model, or
    // derived per language as a driver-built frame joined by __l
    def knDiscOf(byLang: Boolean)(rawN: org.apache.spark.sql.DataFrame,
                                  cont: Map[Int, org.apache.spark.sql.DataFrame])
        : (KnDisc, Option[org.apache.spark.sql.DataFrame]) = spec.smoothing match {
      case KneserNey(d) => (new KnFixed(d), None)
      case ModifiedKn(ds, _) if ds.nonEmpty => (mknDisc(ds), None)
      case ModifiedKn(_, fb) if byLang =>
        (mknDiscCols, Some(mknDiscFrame(order, rawN, mknDiscounts(order, rawN, cont, fb))))
      case ModifiedKn(_, fb) => (mknDisc(mknDiscountsFor(order, rawN, cont, fb)), None)
      case other => throw new IllegalStateException(s"not Kneser-Ney: $other")
    }
    ref match {
      case None =>
        require(!stream.df.isStreaming,
          s"$label without a reference trains on its own input — batch only " +
            "(score a stream against a static reference)")
        val docs = stream.df
        stream.lift(
          if (spec.kn) knSelfScore(docs, idCol, textCol, order, knDiscOf(byLang = false)(_, _)._1)
          else jmSelfScore(docs, idCol, textCol, order, spec.nCol,
            spread = scoringSpread(order, selfScored = true, knFamily = false) &&
              spec.nCol != "n_tris",
            vocabOfContinuations = addAlpha)(jmLp(left = false)))
      case Some(LmRef(refDocs, refTextCol, lang)) =>
        require(!refDocs.isStreaming,
          s"$label: the reference corpus must be a batch frame (the " +
            (if (lang.isDefined) "models pin" else "model pins") +
            " once; a streaming reference has no stable artifact)")
        if (spec.kn)
          knAgainstScore(stream, refDocs, idCol, textCol, refTextCol, lang, order,
            spec.minCount, spec.broadcastModel, label, knDiscOf(lang.isDefined),
            spec.sentenceMode)
        else
          jmAgainstScore(stream, refDocs, idCol, textCol, refTextCol, lang, order,
            spec.nCol, spec.minCount,
            if (addAlpha) Some(true) else spec.broadcastModel, label,
            vocabOfContinuations = addAlpha)(jmLp(left = true))
    }
  }

  /** Output schema of [[lmScore]] for a given id column and the spec's
    * count column — the build-time fact `Program.validate` resolves the
    * LM and ARPA nodes against, so the two cannot drift
    * (IngestProgramSpec pins it equal to the real operator's schema). */
  def lmOutputSchema(idCol: String, idType: org.apache.spark.sql.types.DataType,
                     countCol: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(idCol, idType),
      StructField(countCol, LongType, nullable = false),
      StructField("avg_logprob", DoubleType)))
  }

  /** THE count builder of the LM family: every n-gram count table is
    * built here, from ONE aggregate and ONE pin (two for Kneser-Ney).
    * Each token position explodes with its order−1 predecessors
    * (__p1..__p{order-1}, null before the document start; __p{order} is
    * the token), keyed by the language `__l` when `langCol` is set; the
    * positions count by the full n-gram, and a single `groupingSets`
    * aggregate over those counts computes every count table (keys: the
    * last j position columns) — `grouping_id()` names the table, and a
    * row whose first key is null is a document-start position without
    * that much context, dropped. The same `where` prunes the count
    * tables at j >= 2 to `minCount` (KenLM's --prune). Positions that
    * are no event never enter: with `vocabOfContinuations` a token
    * without a predecessor (counts(1) then covers only tokens that
    * follow some token), with `dropBosTargets` a `<s>` target
    * (sentence-mode padding is context only, never predicted). The
    * pinned result is the model artifact, orders of magnitude under
    * corpus size; each table is a slice of it, returned by its count
    * column's name:
    *  - Jelinek-Mercer (`kn` false): counts __c{j} and context totals
    *    __cx{j} (j >= 2; the table's keys minus the last). A context
    *    total is the sum of its level's KEPT counts, so under a prune it
    *    cannot ride the aggregate and sums the pinned count slice
    *    instead.
    *  - Kneser-Ney (`kn` true): raw counts __cr{j}, and the continuation
    *    counts __cc{j} (j < order) from ONE more aggregate over the pin,
    *    pinned once: each raw(j+1) row counts once toward its last j
    *    keys, the distinct words preceding that j-gram; __cc0, the row
    *    count of raw(1), is the vocabulary size. */
  private def lmCounts(train: org.apache.spark.sql.DataFrame, textCol: String,
                       order: Int, kn: Boolean, minCount: Long = 1L,
                       langCol: Option[String] = None, dropBosTargets: Boolean = false,
                       vocabOfContinuations: Boolean = false)
      : Map[String, org.apache.spark.sql.DataFrame] = {
    val keys = gramCols(order, order)
    val lang = langCol.map(_ => "__l").toSeq
    def pin(d: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val (cp, ids) = graft.api.Pinned.checkpointTracked(d)
      graft.api.Pinned.register(train.sparkSession, ids)
      cp
    }
    // left-pad the tokens with order−1 nulls: key i of every position is
    // then the i-th of `order` aligned slices of the padded array
    val ws = col("__w")
    val padded = concat(array(Seq.fill(order - 1)(lit(null).cast("string")): _*), ws)
    val pos = train.select(langCol.map(c => col(c).as("__l")).toSeq :+
        words(col(textCol)).as("__w"): _*)
      .select(lang.map(col) :+ explode(arrays_zip(keys.indices.map(i =>
        slice(padded, lit(i + 1), size(ws)).as(keys(i))): _*)).as("__g"): _*)
      .select(lang.map(col) ++ keys.map(k => col(s"__g.$k").as(k)): _*)
    val events = Seq(
      Option.when(vocabOfContinuations)(col(keys(order - 2)).isNotNull),
      Option.when(dropBosTargets)(col(keys.last) =!= lit("<s>"))).flatten
      .foldLeft(pos)(_ where _)
    val cnt = if (kn) "__cr" else "__c"
    // (name, keys, pruned)
    val tables = (1 to order).map(j => (s"$cnt$j", gramCols(order, j), j >= 2 && minCount > 1L)) ++
      (if (!kn && minCount == 1L)
        (2 to order).map(j => (s"__cx$j", gramCols(order, j).dropRight(1), false))
      else Nil)
    // grouping_id(): bit (order-1-i) set iff key i is NOT in the set
    // (`__l`, in every set, never sets its bit)
    def gid(ks: Seq[String]): Long =
      keys.indices.filterNot(i => ks.contains(keys(i))).map(i => 1L << (order - 1 - i)).sum
    // count the full n-grams first: the grouping sets then expand the
    // distinct n-grams, spread over the shuffle's partitions, instead of
    // every position inside the scan's task
    val grams = events.groupBy((lang ++ keys).map(col): _*).agg(count(lit(1)).as("__c"))
    val model = pin(
      grams.groupingSets(tables.map(t => (lang ++ t._2).map(col)), (lang ++ keys).map(col): _*)
        .agg(sum(col("__c")).as("__c"), grouping_id().as("__g"))
        .where(tables.map { case (_, ks, pruned) =>
          val kept = col("__g") === gid(ks) && col(ks.head).isNotNull
          if (pruned) kept && col("__c") >= minCount else kept
        }.reduce(_ || _)))
    val table = tables.map { case (c, ks, _) =>
      c -> model.where(col("__g") === gid(ks)).select((lang ++ ks).map(col) :+ col("__c").as(c): _*)
    }.toMap
    if (kn) {
      val cont = pin((0 until order).map { j =>
        table(s"__cr${j + 1}").select(lang.map(col) ++ (lit(j).as("__j") +: keys.map(k =>
          if (gramCols(order, j).contains(k)) col(k) else lit(null).cast("string").as(k))): _*)
      }.reduce(_ unionByName _)
        .groupBy((lang ++ ("__j" +: keys)).map(col): _*).agg(count(lit(1)).as("__cc")))
      table ++ (0 until order).map { j =>
        s"__cc$j" -> cont.where(col("__j") === j)
          .select((lang ++ gramCols(order, j)).map(col) :+ col("__cc").as(s"__cc$j"): _*)
      }
    } else if (minCount > 1L) table ++ (2 to order).map { j =>
      s"__cx$j" -> table(s"__c$j")
        .groupBy((lang ++ gramCols(order, j).dropRight(1)).map(col): _*)
        .agg(sum(col(s"__c$j")).as(s"__cx$j"))
    } else table
  }

  /** Per-language sums of the long columns `cs` over `d`, a slice of a
    * pin, in ONE shuffle-free driver job (an aggregate would add an
    * exchange, hence a job): the corpus scalars the scoring folds take
    * as literals or as a driver-built per-language frame. Keyed by the
    * `__l` value of a language-keyed slice (one key otherwise); one
    * small array per language rides each task. */
  private def sumsByLang(d: org.apache.spark.sql.DataFrame,
                         cs: Seq[Column]): Map[Any, Seq[Long]] = {
    val width = cs.size
    val key = if (d.columns.contains("__l")) col("__l") else lit(0)
    d.select(key +: cs: _*).rdd
      .aggregate(scala.collection.mutable.HashMap.empty[Any, Array[Long]])(
        (m, r) => {
          val a = m.getOrElseUpdate(r.get(0), new Array[Long](width))
          (0 until width).foreach(i => a(i) += r.getLong(i + 1))
          m
        },
        (m, o) => {
          o.foreach { case (k, b) =>
            val a = m.getOrElseUpdate(k, new Array[Long](width))
            (0 until width).foreach(i => a(i) += b(i))
          }
          m
        })
      .map { case (k, a) => k -> a.toSeq }.toMap
  }

  /** [[sumsByLang]] of an unkeyed slice: zeros when it is empty. */
  private def sumsOf(d: org.apache.spark.sql.DataFrame, cs: Seq[Column]): Seq[Long] =
    sumsByLang(d, cs).values.headOption.getOrElse(cs.map(_ => 0L))

  /** A driver-built scalar frame: `rows` (the language key first on a
    * language-keyed pin) under the pin's `__l` field plus `fields`, so
    * it joins the model by `__l` or folds in as literals without
    * re-running anything that built the model. */
  private def scalarFrame(pin: org.apache.spark.sql.DataFrame,
                          fields: Seq[org.apache.spark.sql.types.StructField],
                          rows: Seq[Seq[Any]]): org.apache.spark.sql.DataFrame = {
    import scala.jdk.CollectionConverters._
    pin.sparkSession.createDataFrame(
      new java.util.ArrayList(rows.map(org.apache.spark.sql.Row.fromSeq).asJava),
      org.apache.spark.sql.types.StructType(
        pin.schema.fields.filter(_.name == "__l").toSeq ++ fields))
  }

  /** Score every document of `docs` against [[lmCounts]] of `docs` itself:
    * the order-n positions (a second pass over the corpus — the two-scan
    * floor of every corpus-stat-then-score operator here) join counts(j)
    * and ctxs(j) from the top order down (suffix-aligned equi joins),
    * then counts(1) unless V is of continuations; N and V fold as
    * literals into `lp`, and each document averages its positions in
    * [[lmApply]]: (n, avg_logprob), n 0 and NULL under `order` tokens.
    * `spread` spreads the scoring stage ([[spreadForCompute]]) — the
    * count build keeps its narrow map.
    * Every slice broadcasts when the pinned model's measured size fits
    * the broadcast threshold ([[decideBroadcast]]): the planner sizes a
    * pin by its pre-checkpoint estimate, which counts each position once
    * per grouping set, so left alone it broadcasts the (estimated
    * smaller) positions instead — measured 0.3-0.5 s slower per query at
    * sf0.1. A larger model leaves the choice to the planner. A hot
    * token concentrates its positions' join rows in one task, but the
    * probe STREAMS (hash join, no per-key sort). */
  private def jmSelfScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
                          textCol: String, order: Int, nCol: String, spread: Boolean,
                          vocabOfContinuations: Boolean)(lp: Column)
      : org.apache.spark.sql.DataFrame = {
    val table = lmCounts(docs, textCol, order, kn = false,
      vocabOfContinuations = vocabOfContinuations)
    val Seq(n, vv) = sumsOf(table("__c1"), Seq(col("__c1"), lit(1L))).map(_.toDouble)
    val bc = decideBroadcast(None, table("__c1"))
    val sides = levelSides(order, order, j => table(s"__c$j"), j => table(s"__cx$j"),
      _ => bc, unigrams = !vocabOfContinuations)
    lmApply(docs, idCol, textCol, order, nCol, pos =>
      joinTower(pos, sides, Nil, "inner")
        .withColumn("__n", lit(n)).withColumn("__vv", lit(vv)), lp, spread)
  }

  /** Jelinek-Mercer weights, highest order first: explicit weights
    * ([[LmSpec.check]] holds them to `order` entries, non-negative,
    * summing to 1), or for `Nil` the halving default λ_j ∝ 2^j
    * (normalized), the standard strong-preference-for-the-longest-context
    * prior. */
  private[graft] def lambdasFor(order: Int, lambdas: Seq[Double]): Seq[Double] =
    if (lambdas.nonEmpty) lambdas
    else {
      val raw = (order - 1 to 0 by -1).map(j => math.pow(2.0, j))
      val s = raw.sum
      raw.map(_ / s)
    }

  /** Await concurrently-submitted driver actions, SETTLING every one
    * before returning or throwing: `each` runs on the CALLING thread for
    * every success, even when a sibling failed; then the first failure
    * rethrows with the other failures attached as suppressed. A
    * fail-fast await (`Future.sequence`) would return on the first
    * failure while siblings still run — and a caller's `finally` that
    * unpersists the tables they read would pull them from under those
    * jobs. */
  private[graft] def awaitAll[A](futs: Seq[scala.concurrent.Future[A]])(
                                 each: A => Unit = (_: A) => ()): Seq[A] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    import scala.util.{Failure, Success}
    val done = Await.result(
      Future.sequence(futs.map(_.transform(t => Success(t)))), Duration.Inf)
    done.foreach { case Success(x) => each(x); case Failure(_) => () }
    done.collectFirst { case Failure(e) =>
      done.foreach {
        case Failure(e2) if !(e2 eq e) && !(e2 eq e.getCause) => e.addSuppressed(e2)
        case _ => ()
      }
      throw e
    }
    done.map(_.get)
  }

  /** [[awaitAll]] over pin futures, registering EVERY completed
    * checkpoint's ids on the CALLING thread (Pinned scopes are
    * thread-local) even when a sibling FAILS. Without this, one failing
    * pin would orphan every sibling's already-persisted
    * blocks (nothing registered, so scope release could never unpersist
    * them); with it the failure path leaks zero blocks. */
  private[graft] def awaitPinned[A](spark: org.apache.spark.sql.SparkSession,
                                    futs: Seq[scala.concurrent.Future[A]])(
                                    ids: A => Set[Int]): Seq[A] =
    awaitAll(futs)(x => graft.api.Pinned.register(spark, ids(x)))

  /** Suffix-aligned key names of the j-gram within an order-n position:
    * __p{n-j+1}..__p{n}. */
  private[pipeline] def gramCols(order: Int, j: Int): Seq[String] =
    (order - j + 1 to order).map(i => s"__p$i")

  private lazy val logger = org.slf4j.LoggerFactory.getLogger("graft.pipeline.TextOps")

  /** Measured persisted bytes (memory + disk blocks) of the pin under a
    * model frame — known exactly at decision time because the count
    * tables are localCheckpointed before scoring. Deserialized block sizes
    * overestimate the broadcast wire size, so the auto decision errs
    * toward shuffling — the safe direction. */
  private def pinnedBytes(df: org.apache.spark.sql.DataFrame): Long = {
    val ids = graft.api.Pinned.idsOf(df)
    df.sparkSession.sparkContext.getRDDStorageInfo
      .filter(i => ids.contains(i.id)).map(i => i.memSize + i.diskSize).sum
  }

  /** The AUTO broadcast decision for one pin: its caller passed no
    * explicit lever, so every table sliced or derived from the pin
    * broadcasts iff the measured pin fits the session's
    * autoBroadcastJoinThreshold (a disabled threshold, -1, auto-broadcasts
    * nothing). */
  private def decideBroadcast(lever: Option[Boolean],
                              table: org.apache.spark.sql.DataFrame): Boolean =
    lever.getOrElse {
      val thr = table.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      thr > 0 && pinnedBytes(table) <= thr
    }

  /** The against engines' broadcast decisions: one [[decideBroadcast]]
    * per pin (`pinned` holds one frame over each), then the lever
    * hygiene — warn when an unpruned
    * high-order model is being built (the count tables approach
    * position-count size — the 100 TB posture depends on `minCount`),
    * and name the streaming constraint when the model does not
    * broadcast. */
  private def modelBroadcasts(label: String, order: Int, minCount: Long,
                              streaming: Boolean, lever: Option[Boolean],
                              pinned: Seq[org.apache.spark.sql.DataFrame]): Seq[Boolean] = {
    val bc = pinned.map(decideBroadcast(lever, _))
    if (minCount == 1L && order >= 4)
      logger.warn(s"$label: order-$order model with minCount = 1 — the raw " +
        "count tables are near position-count-sized on real corpora; " +
        "KenLM-style pruning (minCount >= 2) is the lever that keeps the " +
        "model a broadcastable artifact at scale")
    require(!streaming || bc.forall(identity),
      s"$label: the streaming face needs every model table to broadcast " +
        "(a per-micro-batch model shuffle would dominate ingest) but the " +
        "model exceeds the broadcast threshold (or the lever forces " +
        "broadcastModel = false) — prune with minCount until the model " +
        "broadcasts, or score in bounded batches via foreachBatch")
    bc
  }

  /** One model table of a scoring join tower: the table, its join keys
    * (after the tower's key prefix; `Nil` for a per-language frame keyed
    * by the prefix alone) and whether it broadcasts. */
  private[pipeline] type Side = (org.apache.spark.sql.DataFrame, Seq[String], Boolean)

  /** Join every side into `pos` in order, each on `keyPrefix` (`Nil`, or
    * `Seq("__l")` for per-language models) plus its own keys. */
  private[pipeline] def joinTower(pos: org.apache.spark.sql.DataFrame, sides: Seq[Side],
                                  keyPrefix: Seq[String],
                                  how: String): org.apache.spark.sql.DataFrame =
    sides.foldLeft(pos) { case (d, (t, ks, bc)) =>
      d.join(if (bc) broadcast(t) else t, keyPrefix ++ ks, how)
    }

  /** The sides of an interpolated model from level `top` down: each
    * level j >= 2 joins `table(j)` on its suffix-aligned j-gram keys,
    * then `ctx(j)` on the j−1 context keys; level 1 (with `unigrams`)
    * joins `table(1)` on the target alone. */
  private[pipeline] def levelSides(order: Int, top: Int,
                                   table: Int => org.apache.spark.sql.DataFrame,
                                   ctx: Int => org.apache.spark.sql.DataFrame,
                                   bc: Int => Boolean,
                                   unigrams: Boolean = true): Seq[Side] =
    (top to 2 by -1).flatMap { j =>
      Seq((table(j), gramCols(order, j), bc(j)),
        (ctx(j), gramCols(order, j).dropRight(1), bc(j)))
    } ++ (if (unigrams) Seq((table(1), gramCols(order, 1), bc(1))) else Nil)

  /** THE spread decision of the LM scoring stage: with the model tables
    * broadcast, explode + join tower + partial aggregate fuse into ONE
    * whole-stage span over the scan, and a single-row-group input
    * serializes it on one core ([[spreadForCompute]] — identity at
    * scale, post-shuffle and on streams). Spread at order >= 3, except
    * on the self-scored KN family. Interleaved A/B measurements:
    *  - wins at order >= 3: q_lm5_score 3.90 → 3.09 s, q_mkn3_against
    *    2.8 → 2.1, q_ppl_apply 5.5 → 4.6, q_arpa_score 4.35 → 4.10,
    *    q_mkn3_bylang 4.45 → 3.24, q_ppl_bylang 4.4 → 3.8 (q_kn3_against
    *    pays ~0.15 s — the lean plain-KN fold — outweighed across the
    *    face's callers);
    *  - order 2's fold is too lean to pay the exchange (q_lm_score
    *    ~+0.17 s);
    *  - the self KN faces inner-join a lean fold: q_kn3_score 1.6 →
    *    1.9/2.0 s, q_mkn3_score flat. */
  private[pipeline] def scoringSpread(order: Int, selfScored: Boolean,
                                      knFamily: Boolean): Boolean =
    order >= 3 && !(selfScored && knFamily)

  /** The ONE scoring stage of the LM family, batch and streaming: explode
    * the order-n positions (with the struct-wrapped language key
    * `__l` when `langCol` is set), run the face's `withJoins`, fold the
    * per-position `lp` per document into (id, nCol, avg_logprob). Batch
    * folds through one groupBy and left-joins back onto every input id,
    * so documents under `order` tokens emit (0, NULL); `spread` spreads
    * the stage ([[scoringSpread]]). Streaming rides the stateless
    * per-batch combine (position-less documents take a sentinel row so
    * they still emit (0, NULL)). A position whose `lp` is NULL (a
    * language without a model) is counted, never summed — so such a
    * document keeps its position count and scores NULL in both modes;
    * shared-model faces never produce a NULL `lp` on a real position.
    * `sentenceMode` ([[Sentences]] windowing) replaces the document's
    * sliding windows by each sentence's n+1 padded full-order windows;
    * it has no per-language face. */
  private[pipeline] def lmApply(df: org.apache.spark.sql.DataFrame, idCol: String,
                                textCol: String, order: Int, nCol: String,
                                withJoins: org.apache.spark.sql.DataFrame =>
                                  org.apache.spark.sql.DataFrame,
                                lp: Column, spread: Boolean,
                                langCol: Option[String] = None,
                                sentenceMode: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    val id = col(idCol)
    if (!df.isStreaming) {
      // materialize the doc-side key once (gramsOf re-evaluates keeps)
      val keyed = langCol.fold(df)(c => df.withColumn("__l", struct(col(c))))
      val dfS = if (spread) spreadForCompute(keyed) else keyed
      val keep = id +: langCol.map(_ => col("__l")).toSeq
      val pos =
        if (sentenceMode)
          gramsOf(Sentences.explodeDocs(dfS, id, textCol, order), "__stext",
            order, gramCols(order, order), keep)
        else gramsOf(dfS, textCol, order, gramCols(order, order), keep)
      val scored = withJoins(pos)
        .withColumn("__lp", lp)
        .groupBy(id)
        .agg(count(lit(1)).as(nCol), round(avg(col("__lp")), 3).as("avg_logprob"))
      return df.select(id).join(scored, Seq(idCol), "left")
        .select(id, coalesce(col(nCol), lit(0L)).as(nCol), col("avg_logprob"))
    }

    val sentinel = array(struct((1 to order).map(i =>
      lit(null).cast("string").as(s"g$i")): _*))
    val (ws, wins) =
      if (sentenceMode)
        (Sentences.windows(col(textCol), order), when(size(col("__w")) > 0, col("__w")))
      else (words(col(textCol)), when(size(col("__w")) >= order,
        arrays_zip((1 to order).map(i =>
          slice(col("__w"), lit(i), size(col("__w")) - (order - 1)).as(s"g$i")): _*)))
    val u0 = df.withColumn("__w", ws)
      .select((id.as("__id") +: langCol.map(c => struct(col(c)).as("__l")).toSeq) :+
        explode(wins.otherwise(sentinel)).as("__g"): _*)
      .select((col("__id") +: langCol.map(_ => col("__l")).toSeq) ++
        (1 to order).map(i => col(s"__g.g$i").as(s"__p$i")): _*)
    val u = withJoins(u0)
      .select(col("__id"), col("__p1"),
        when(col("__p1").isNotNull, lp).as("__lp"))
    val idType = df.schema(idCol).dataType
    val aggT = StructType(Seq(
      StructField("__id", idType),
      StructField(nCol, LongType, nullable = false),
      StructField("__sum", DoubleType)))
    val aggEnc: Encoder[Row] = RowEncoder.encoderFor(aggT)
    val pIdx = u.schema.fieldIndex("__p1")
    val lpIdx = u.schema.fieldIndex("__lp")
    graft.streaming.PerBatchCombine(u, Seq("__id"), aggEnc) {
        (key: Row, it: Iterator[Row]) =>
          // count positions, sum only scored ones; a doc's positions are
          // uniformly modeled (one language per doc), so sum/n equals the
          // batch avg
          var nn = 0L; var s = 0.0; var ns = 0L
          it.foreach { r =>
            if (!r.isNullAt(pIdx)) {
              nn += 1
              if (!r.isNullAt(lpIdx)) { ns += 1; s += r.getDouble(lpIdx) }
            }
          }
          Iterator.single(Row(key.get(0), nn, if (ns > 0) s else null))
      }
      // the division + round happen in SQL so both faces share Spark's
      // exact avg/round semantics
      .select(col("__id").as(idCol), col(nCol),
        round(col("__sum") / col(nCol), 3).as("avg_logprob"))
  }

  /** Explode every j-gram position of `d` into suffix-aligned columns
    * `names` (plus `keep`). Documents under j tokens contribute nothing. */
  private[pipeline] def gramsOf(d: org.apache.spark.sql.DataFrame, textCol: String, j: Int,
                      names: Seq[String],
                      keep: Seq[Column]): org.apache.spark.sql.DataFrame = {
    val ws = words(col(textCol))
    d.select(keep :+ ws.as("__w"): _*).where(size(col("__w")) >= j)
      .select(keep :+ explode(arrays_zip(
        (1 to j).map(i =>
          slice(col("__w"), lit(i), size(col("__w")) - (j - 1)).as(s"g$i")): _*)).as("__g"): _*)
      .select(keep ++ (1 to j).map(i => col(s"__g.g$i").as(names(i - 1))): _*)
  }

  /** The interpolated per-position log-likelihood over joined count
    * columns; counts/contexts absent after a LEFT join (the
    * score-against face) coalesce to 0 — the unseen-context backoff
    * (0+α)/(0+Vα) the self-scoring face never needs. */
  private def ngramLp(order: Int, alpha: Double, l: Seq[Double]): Column = {
    log((order to 1 by -1).zip(l).map { case (j, w) =>
      val c = coalesce(col(s"__c$j"), lit(0L))
      val cx = if (j >= 2) coalesce(col(s"__cx$j"), lit(0L)) else col("__n")
      lit(w) * (c + lit(alpha)) / (cx + col("__vv") * lit(alpha))
    }.reduce(_ + _))
  }

  /** The Jelinek-Mercer against engine, shared model or per language
    * (`lang` = (document, reference) language columns): [[lmCounts]] on
    * the reference, one broadcast decision for its one pin, then
    * [[lmApply]] scoring `lp`. The shared model folds (N, V) as
    * literals; the per-language (N, V) frame (languages × 2) is built on
    * the driver, always broadcasts and joins by `__l` — an unmodeled
    * language misses it, so every term of the interpolation goes NULL,
    * the no-model verdict. With `vocabOfContinuations` the model's
    * unigrams are the tokens that follow some token and only V reads
    * them (the bigram face). */
  private def jmAgainstScore(stream: graft.api.MStream,
                             refDocs: org.apache.spark.sql.DataFrame,
                             idCol: String, textCol: String, refTextCol: String,
                             lang: Option[(String, String)], order: Int, nCol: String,
                             minCount: Long, broadcastModel: Option[Boolean],
                             label: String, vocabOfContinuations: Boolean)(
                             lp: => Column): graft.api.MStream = {
    val lpCol = lp
    val df = stream.df
    // struct-wrapped language key: null-safe under plain equi-join keys
    val train = lang.fold(refDocs) { case (_, refLang) =>
      refDocs.withColumn("__lraw", struct(col(refLang))) }
    val table = lmCounts(train, refTextCol, order, kn = false, minCount,
      langCol = lang.map(_ => "__lraw"), vocabOfContinuations = vocabOfContinuations)
    val nvCols = Seq(col("__c1"), lit(1L))
    val bc = modelBroadcasts(label, order, minCount, df.isStreaming, broadcastModel,
      Seq(table("__c1"))).head
    val sides = levelSides(order, order, j => table(s"__c$j"), j => table(s"__cx$j"),
      _ => bc, unigrams = !vocabOfContinuations)
    val withJoins: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      lang match {
        case None =>
          val Seq(n, v) = sumsOf(table("__c1"), nvCols)
          require(v > 0, s"$label: the reference corpus yields an empty model")
          pos => joinTower(pos, sides, Nil, "left")
            .withColumn("__n", lit(n.toDouble))
            .withColumn("__vv", lit(v.toDouble))
        case Some(_) =>
          val nv = sumsByLang(table("__c1"), nvCols)
          require(nv.nonEmpty,
            s"$label: the reference corpus yields no per-language model " +
              "(no language slice has a token)")
          import org.apache.spark.sql.types.{DoubleType, StructField}
          val stats = scalarFrame(table("__c1"),
            Seq(StructField("__n", DoubleType), StructField("__vv", DoubleType)),
            nv.toSeq.map { case (l, s) => l +: s.map(_.toDouble) })
          pos => joinTower(pos, sides :+ ((stats, Nil, true)), Seq("__l"), "left")
      }
    stream.lift(lmApply(df, idCol, textCol, order, nCol, withJoins, lpCol,
      scoringSpread(order, selfScored = false, knFamily = false),
      langCol = lang.map(_._1)))
  }

  // ---------------------------------------------------------- Kneser-Ney LM

  /** Training-pass counter: how many times [[knModel]] has built its
    * count tables this JVM — ArpaSpec pins the by-language export to ONE
    * training pass (the count tables train once with the language as a
    * key; per-language files are slices, not re-trainings). */
  private[graft] val knModelBuilds = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The interpolated Kneser-Ney model tables for order n (Kneser & Ney
    * 1995; Chen & Goodman 1999's interpolated form — the fixed-discount
    * [[LmSpec.KneserNey]] and the count-bucketed [[LmSpec.ModifiedKn]]
    * both read these tables): raw counts at the
    * top order, CONTINUATION counts below it — ĉ_j(g) = the number of
    * distinct words PRECEDING g in the corpus = the row count of the
    * raw (j+1)-gram table grouped by its last j columns (the "how many
    * contexts has this word completed" estimate that keeps "Francisco"
    * rare outside "San") — and per-context aggregates carrying BOTH the
    * denominator total and N1+ (the discount mass) from ONE groupBy
    * each. The raw and continuation tables are [[lmCounts]]'s two
    * Kneser-Ney pins; the context aggregates stay lazy over them, and
    * the level-1 stats fold on the driver ([[sumsByLang]]).
    * Returns (rawN, ctxN, cont(1..n-1), ctxc(2..n-1), the driver-built
    * stats frame (__t1 = total bigram types as double, __n1p1,
    * __nb{1,2,3}1 count buckets, __v = vocabulary)); every context
    * aggregate also carries its count buckets __nb{1,2,3}{j} for the
    * modified-KN face. */
  private[pipeline] def knModel(train: org.apache.spark.sql.DataFrame, textCol: String,
                      order: Int,
                      /** prune RAW counts < minCount at orders >= 2
                        * BEFORE continuation derivation (so ĉ counts
                        * surviving types — KenLM's pruned-model shape);
                        * the scale lever that keeps a high-order model
                        * broadcastable. */
                      minCount: Long = 1L,
                      /** Some(c) = PER-LANGUAGE models in one pass (the
                        * literal CCNet architecture): column c threads as
                        * key "__l" through every count/context/stats
                        * table, so each language's model is an
                        * independent slice of the same tables; the stats
                        * frame becomes one row per language with a
                        * bigram instead of a global one-row. None keeps
                        * the shared-model shape (an empty key prefix
                        * changes nothing). */
                      langCol: Option[String] = None,
                      /** Sentence-mode training ([[Sentences]]): drop the
                        * grams whose TARGET is `<s>` and keep `<s>` out
                        * of the vocabulary — it is padding, a
                        * context-only token that is never predicted. */
                      dropBosTargets: Boolean = false)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         Map[Int, org.apache.spark.sql.DataFrame],
         Map[Int, org.apache.spark.sql.DataFrame],
         org.apache.spark.sql.DataFrame) = {
    knModelBuilds.incrementAndGet()
    val lang = langCol.map(_ => "__l").toSeq
    def keyed(names: Seq[String]): Seq[Column] = (lang ++ names).map(col)
    val t = lmCounts(train, textCol, order, kn = true, minCount, langCol, dropBosTargets)
    val rawN = t(s"__cr$order")
    val cont = (1 until order).map(j => j -> t(s"__cc$j")).toMap
    // per-context COUNT BUCKETS (types with count 1 / 2 / >= 3) ride the
    // same groupBy — the fixed-discount face ignores them, the
    // modified-KN face's per-context discount mass γ·tot = D1·N1 + D2·N2
    // + D3·N3+ reads them (Chen & Goodman 1999 §3, KenLM's smoothing)
    def buckets(cCol: String, suffix: String): Seq[Column] = Seq(
      count(when(col(cCol) === 1, true)).as(s"__nb1$suffix"),
      count(when(col(cCol) === 2, true)).as(s"__nb2$suffix"),
      count(when(col(cCol) >= 3, true)).as(s"__nb3$suffix"))
    val ctxN = rawN.groupBy(keyed(gramCols(order, order).dropRight(1)): _*)
      .agg(sum(col(s"__cr$order")).as(s"__tot$order"),
        (count(lit(1)).as(s"__n1p$order") +:
          buckets(s"__cr$order", order.toString)): _*)
    val ctxc = (2 until order).map { j =>
      j -> cont(j).groupBy(keyed(gramCols(order, j).dropRight(1)): _*)
        .agg(sum(col(s"__cc$j")).as(s"__ctot$j"),
          (count(lit(1)).as(s"__n1p$j") +: buckets(s"__cc$j", j.toString)): _*)
    }.toMap
    // the level-1 stats (__t1, __n1p1, __nb11, __nb21, __nb31) of cont(1)
    // and __v of cont(0), in one fold; per language, a language without a
    // bigram has no model and no row
    def at(j: Int, v: Column): Column = when(col("__j") === j, v).otherwise(0L)
    val cc = col("__cc")
    val slice = Seq(0, 1).map(j => t(s"__cc$j")
      .select(lang.map(col) :+ lit(j).as("__j") :+ col(s"__cc$j").as("__cc"): _*))
      .reduce(_ unionByName _)
    val statCols = Seq(at(1, cc), at(1, lit(1L)), at(1, (cc === 1).cast("long")),
      at(1, (cc === 2).cast("long")), at(1, (cc >= 3).cast("long")), at(0, cc))
    def statRow(s: Seq[Long]): Seq[Any] = s.head.toDouble +: s.tail
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField}
    val stats = scalarFrame(rawN,
      StructField("__t1", DoubleType) +:
        Seq("__n1p1", "__nb11", "__nb21", "__nb31", "__v").map(StructField(_, LongType)),
      if (langCol.isEmpty) Seq(statRow(sumsOf(slice, statCols)))
      else sumsByLang(slice, statCols).toSeq.collect {
        case (l, s) if s(1) > 0 => l +: statRow(s) })
    (rawN, ctxN, cont, ctxc, stats)
  }

  /** The discounts of a Kneser-Ney model: `disc(j, c)` is the discount
    * of count `c` at level j, `gamma(j)` the back-off mass γ·tot of a
    * level-j context row (its context aggregate's columns). */
  private[pipeline] sealed abstract class KnDisc {
    def disc(j: Int, c: Column): Column
    def gamma(j: Int): Column
  }

  /** Interpolated KN: one fixed D at every level and count, so γ·tot =
    * D·N1+. */
  private[pipeline] final class KnFixed(d: Double) extends KnDisc {
    def disc(j: Int, c: Column): Column = lit(d)
    def gamma(j: Int): Column = lit(d) * col(s"__n1p$j")
  }

  /** Modified KN: the discount of a count is D1/D2/D3+ by its bucket,
    * and γ·tot = D1·N1 + D2·N2 + D3·N3+ over the context's
    * continuation-type buckets. `dk(j)` gives level j's (D1, D2, D3+). */
  private[pipeline] final class KnBucketed(dk: Int => (Column, Column, Column))
      extends KnDisc {
    def disc(j: Int, c: Column): Column = {
      val (d1, d2, d3) = dk(j)
      when(c === 1L, d1).when(c === 2L, d2).otherwise(d3)
    }
    def gamma(j: Int): Column = {
      val (d1, d2, d3) = dk(j)
      d1 * col(s"__nb1$j") + d2 * col(s"__nb2$j") + d3 * col(s"__nb3$j")
    }
  }

  /** Modified-KN discounts as driver literals, per level. */
  private[pipeline] def mknDisc(ds: Map[Int, (Double, Double, Double)]): KnDisc =
    new KnBucketed(j => { val (d1, d2, d3) = ds(j); (lit(d1), lit(d2), lit(d3)) })

  /** Modified-KN discounts as PER-LANGUAGE columns `__d{1,2,3}_$j`
    * ([[mknDiscFrame]], joined by __l); NULL discounts (an unmodeled
    * language) propagate to a NULL score. */
  private[pipeline] val mknDiscCols: KnDisc =
    new KnBucketed(j => (col(s"__d1_$j"), col(s"__d2_$j"), col(s"__d3_$j")))

  /** THE interpolated Kneser-Ney probability (Chen & Goodman 1999 §3)
    * of an entry whose top level is `top` — raw counts when top ==
    * order, continuation counts below — over joined count columns,
    * folded from the continuation-unigram base up: P_1 interpolates
    * with the uniform 1/(V+1) floor (one reserved unknown slot) so
    * tokens unseen in the model keep mass; each level j backs off
    * ENTIRELY to level j−1 when its context is unseen (the left-join
    * faces, and ARPA context-only entries — a seen context always takes
    * max(c−D,0)/tot + γ/tot · P_{j−1}). On the self-scoring inner-join
    * face every guard is true by construction and the fold is the plain
    * interpolated-KN formula the oracle mirrors without the CASEs. The
    * scoring faces take its natural log, the ARPA writers its log10. */
  private[pipeline] def knFold(order: Int, top: Int, d: KnDisc): Column = {
    def level(j: Int, c: Column, tot: Column, lower: Column): Column = {
      val cc = coalesce(c, lit(0L))
      greatest(cc.cast("double") - d.disc(j, cc), lit(0.0)) / tot +
        d.gamma(j) / tot * lower
    }
    def guarded(j: Int, c: String, tot: String, lower: Column): Column =
      when(coalesce(col(tot), lit(0L)) > 0, level(j, col(c), col(tot), lower))
        .otherwise(lower)
    val p1 = level(1, col("__cc1"), col("__t1"), lit(1.0) / (col("__v") + lit(1.0)))
    val mid = (2 to (if (top == order) order - 1 else top)).foldLeft(p1) {
      (p, j) => guarded(j, s"__cc$j", s"__ctot$j", p)
    }
    if (top == order) guarded(order, s"__cr$order", s"__tot$order", mid) else mid
  }

  /** The literal one-row level-1 stats of a shared KN model, folded onto
    * `d` as columns — every column, so every discount kind resolves. */
  private[pipeline] def statLiterals(d: org.apache.spark.sql.DataFrame,
                                     st: org.apache.spark.sql.Row)
      : org.apache.spark.sql.DataFrame =
    Seq("__t1", "__n1p1", "__nb11", "__nb21", "__nb31", "__v")
      .foldLeft(d)((x, c) => x.withColumn(c, lit(st.getAs[Any](c))))

  /** KenLM's default `--discount_fallback` discounts (D1, D2, D3+). */
  private[graft] val MknFallback: (Double, Double, Double) = (0.5, 1.0, 1.5)

  /** Modified-KN discounts for one order from its count-of-counts
    * (Chen & Goodman 1999 §3; KenLM `AdjustCounts`): Y = n1/(n1+2n2),
    * D_r = r − (r+1)·Y·n_{r+1}/n_r for r = 1, 2, 3. KenLM refuses to
    * train when any n_r (r ≤ 3) is zero or a discount leaves [0, r];
    * this engine takes KenLM's `--discount_fallback` route instead —
    * the estimate is all-or-none per order (one bad discount falls the
    * whole order back), so the decision is a deterministic scalar an
    * oracle reproduces. n4 = 0 is VALID (D3+ = 3 exactly: triples hold
    * no direct mass, everything flows through γ). */
  private[graft] def mknDerive(n1: Long, n2: Long, n3: Long, n4: Long,
                               fallback: (Double, Double, Double) = MknFallback)
      : (Double, Double, Double) = {
    if (n1 > 0 && n2 > 0 && n3 > 0) {
      val y = n1.toDouble / (n1 + 2.0 * n2)
      val d1 = 1.0 - 2.0 * y * n2 / n1
      val d2 = 2.0 - 3.0 * y * n3 / n2
      val d3 = 3.0 - 4.0 * y * n4 / n3
      if (d1 >= 0 && d1 <= 1 && d2 >= 0 && d2 <= 2 && d3 >= 0 && d3 <= 3)
        (d1, d2, d3)
      else fallback
    } else fallback
  }

  /** Modified-KN discounts per language from ONE shuffle-free fold
    * ([[sumsByLang]]) over the two pins: count-of-counts n1..n4 per
    * level (top level = the raw order-n table, lower levels = the
    * continuation tables — exactly the tables each level draws
    * probability mass from), derived per level by [[mknDerive]]. A
    * language-keyed model yields one map per language with a bigram (a
    * level without grams keeps the fallback triple — its entries never
    * exist, so the value is never read); a shared model one map, keyed
    * by a constant. */
  private[pipeline] def mknDiscounts(order: Int, rawN: org.apache.spark.sql.DataFrame,
                                     cont: Map[Int, org.apache.spark.sql.DataFrame],
                                     fallback: (Double, Double, Double))
      : Map[Any, Map[Int, (Double, Double, Double)]] = {
    val lang = rawN.columns.filter(_ == "__l").toSeq.map(col)
    val levels = (1 until order).map(j => cont(j).select(lang :+ lit(j).as("__j") :+
        col(s"__cc$j").as("__c"): _*)) :+
      rawN.select(lang :+ lit(order).as("__j") :+ col(s"__cr$order").as("__c"): _*)
    // n_r per level, then the level-1 row count (the language's bigram types)
    val nr = (for (j <- 1 to order; r <- 1 to 4)
      yield (col("__j") === j && col("__c") === r).cast("long")) :+
      (col("__j") === 1).cast("long")
    sumsByLang(levels.reduce(_ unionByName _), nr).collect {
      case (l, n) if n.last > 0 || lang.isEmpty =>
        l -> (1 to order).map { j =>
          val Seq(n1, n2, n3, n4) = n.slice(4 * (j - 1), 4 * j)
          j -> mknDerive(n1, n2, n3, n4, fallback)
        }.toMap
    }
  }

  /** [[mknDiscounts]] of a shared model: every level's triple. */
  private[pipeline] def mknDiscountsFor(order: Int, rawN: org.apache.spark.sql.DataFrame,
                                        cont: Map[Int, org.apache.spark.sql.DataFrame],
                                        fallback: (Double, Double, Double))
      : Map[Int, (Double, Double, Double)] =
    mknDiscounts(order, rawN, cont, fallback).values.headOption
      .getOrElse((1 to order).map(_ -> fallback).toMap)

  /** Per-LANGUAGE modified-KN discounts as a driver-built frame keyed
    * `__l` (the type of `keyed`'s), with columns `__d{1,2,3}_$j` for
    * [[mknDiscCols]]: one row per language of `ds`, so an unmodeled
    * language misses the join and scores NULL. */
  private[pipeline] def mknDiscFrame(order: Int, keyed: org.apache.spark.sql.DataFrame,
                                     ds: Map[Any, Map[Int, (Double, Double, Double)]])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StructField}
    scalarFrame(keyed,
      for (j <- 1 to order; k <- 1 to 3) yield StructField(s"__d${k}_$j", DoubleType, nullable = false),
      ds.toSeq.map { case (l, m) =>
        l +: (1 to order).flatMap { j => val (d1, d2, d3) = m(j); Seq(d1, d2, d3) } })
  }

  /** The shared self-scoring stage of the KN family: build the model on
    * the input itself, inner-join the exploded positions against every
    * count frame (a position's own occurrence puts every suffix, context
    * and continuation in the model, so nothing is absent on the self
    * face) and fold per document in [[lmApply]]. `discOf(rawN, cont)`
    * supplies the discounts — fixed, or derived for modified KN (the
    * tables are pinned before it runs, so scalar derivations are
    * cheap). The model joins carry no broadcast hint; the one-row stats
    * are collected once and folded in as literals, so the scoring plan
    * does not re-run the corpus vocabulary scan. */
  private def knSelfScore(docs: org.apache.spark.sql.DataFrame, idCol: String,
                          textCol: String, order: Int,
                          discOf: (org.apache.spark.sql.DataFrame,
                                   Map[Int, org.apache.spark.sql.DataFrame]) => KnDisc)
      : org.apache.spark.sql.DataFrame = {
    val (rawN, ctxN, cont, ctxc, stats) = knModel(docs, textCol, order)
    val lp = log(knFold(order, order, discOf(rawN, cont)))
    val sides = levelSides(order, order, j => if (j == order) rawN else cont(j),
      j => if (j == order) ctxN else ctxc(j), _ => false)
    val st = stats.head()
    lmApply(docs, idCol, textCol, order, "n_grams",
      pos => statLiterals(joinTower(pos, sides, Nil, "inner"), st), lp,
      scoringSpread(order, selfScored = true, knFamily = true))
  }

  /** The against engine of the KN family, shared model or per language
    * (`lang` = (document, reference) language columns — the language
    * threads as key `__l` through every table and join): train the
    * model tables on `refDocs` ([[knModel]]), one broadcast decision per
    * pin, score the batch frame or arriving stream through left joins
    * with full back-off in [[lmApply]]. The shared model's one-row stats
    * fold to literals; the driver-built per-language stats frame
    * (languages × 7) always broadcasts, as does the optional per-language side frame
    * `discOf` returns (per-language discounts), and an unmodeled
    * language misses every join and scores NULL. `discOf(rawN, cont)`
    * runs after the model pins (so discount derivation sees
    * checkpointed tables). */
  private def knAgainstScore(stream: graft.api.MStream,
                             refDocs: org.apache.spark.sql.DataFrame,
                             idCol: String, textCol: String, refTextCol: String,
                             lang: Option[(String, String)],
                             order: Int, minCount: Long,
                             broadcastModel: Option[Boolean],
                             label: String,
                             discOf: (org.apache.spark.sql.DataFrame,
                                      Map[Int, org.apache.spark.sql.DataFrame]) =>
                               (KnDisc, Option[org.apache.spark.sql.DataFrame]),
                             sentenceMode: Boolean)
      : graft.api.MStream = {
    val df = stream.df
    val train = lang match {
      // struct-wrapped language key: null-safe under plain equi-join keys
      case Some((_, refLang)) => refDocs.withColumn("__lraw", struct(col(refLang)))
      case None =>
        if (sentenceMode) Sentences.explodeRef(refDocs, refTextCol, order) else refDocs
    }
    val (rawN, ctxN, cont, ctxc, stats) = knModel(train, refTextCol, order,
      minCount, langCol = lang.map(_ => "__lraw"), dropBosTargets = sentenceMode)
    // the top level rides the raw pin, the continuation levels the
    // second; the context aggregates ride their table's pin
    val Seq(bcRaw, bcCont) = modelBroadcasts(label, order, minCount, df.isStreaming,
      broadcastModel, Seq(rawN, cont(1)))
    val sides = levelSides(order, order, j => if (j == order) rawN else cont(j),
      j => if (j == order) ctxN else ctxc(j), j => if (j == order) bcRaw else bcCont)
    val withStats: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      lang match {
        case None =>
          val st = stats.head()
          require(st.getAs[Double]("__t1") > 0,
            s"$label: the reference corpus yields an empty model " +
              "(needs at least one bigram)")
          statLiterals(_, st)
        case Some(_) =>
          require(!stats.isEmpty,
            s"$label: the reference corpus yields no per-language model " +
              "(no language slice has a bigram)")
          identity
      }
    val (d, extra) = discOf(rawN, cont)
    val langSides = lang.toSeq.map(_ => (stats, Nil, true)) ++
      extra.map(e => (e, Nil, true))
    stream.lift(lmApply(df, idCol, textCol, order, "n_grams",
      pos => withStats(joinTower(pos, sides ++ langSides, lang.map(_ => "__l").toSeq, "left")),
      log(knFold(order, order, d)),
      scoringSpread(order, selfScored = false, knFamily = true),
      langCol = lang.map(_._1), sentenceMode = sentenceMode))
  }

  /** Closed-form NTile(k) of 1-based rank `__r` in a population `__n`:
    * the first n % k tiles hold floor(n/k)+1 rows — exactly Spark's and
    * DuckDB's NTile ("div" throughout — ANSI-safe: the big-tile region
    * covers ALL rows when floor(n/k) = 0, so the small-tile branch and
    * its division never evaluate there; CaseWhen branches are lazy).
    * Package-private so PerplexityBucketsSpec pins THIS production
    * expression (not a copy) against the definitional tiling over random
    * large-n shapes; ExpressionProps separately pins the arithmetic
    * against the definition in plain Scala. */
  private[graft] def closedFormNtile(buckets: Int): Column = expr(
    s"""CASE WHEN __r <= (__n % $buckets) * ((__n div $buckets) + 1)
          THEN (__r - 1) div ((__n div $buckets) + 1) + 1
          ELSE (__n % $buckets)
               + ((__r - 1 - (__n % $buckets) * ((__n div $buckets) + 1))
                  div (__n div $buckets)) + 1
        END""").cast("int")

  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    * §4.3: per-language perplexity terciles decide which slice of the
    * crawl is kept for LM training — "head" is the best-scoring third):
    * documents score under the add-alpha bigram [[lmScore]] self-corpus LM, then
    * each LANGUAGE partition splits into `buckets` equal-depth ranks by
    * (avg_logprob DESC, id) — higher log-likelihood = lower perplexity =
    * bucket 1 = "head". The tiebreak on id makes the assignment a total
    * order, so bucket membership is deterministic on any engine and
    * partitioning. Documents with no score (< 2 tokens) take a NULL
    * bucket instead of polluting a tercile.
    *
    * Scale shape: scoring is the two-pass LM operator; bucketing is a
    * DISTRIBUTED exact rank — a dominant language is the NORM in a crawl
    * (English holds ~half of Common Crawl), so a
    * `ntile().over(partitionBy(lang))` window would sort half the corpus
    * in ONE task. Instead the buildVocab range+offset pattern: range
    * partition on the total order (lang, score desc, id) — unique key,
    * so the partitioner balances regardless of language skew — then
    * per-(range, language) counts (a width x languages frame, never
    * corpus-sized) yield each range's within-language offset via a tiny
    * window over that counts frame; global rank = offset + local
    * row_number inside the range. The tile is then the CLOSED-FORM
    * ntile of (rank, language population): first n%k tiles take
    * ceil(n/k) rows, the rest floor(n/k) — exactly Spark's and DuckDB's
    * NTile, so the output (and the oracle) is bit-identical to the
    * window form while every task stays bounded by the range width. */
  def perplexityBuckets(docs: org.apache.spark.sql.DataFrame, idCol: String,
                        textCol: String, langCol: String, buckets: Int = 3,
                        alpha: Double = 0.5): org.apache.spark.sql.DataFrame = {
    require(buckets >= 2, s"perplexityBuckets needs >= 2 buckets, got $buckets")
    val scored = lmScore(graft.api.MStream(docs), LmSpec(2, LmSpec.AddAlpha(alpha)),
        idCol, textCol).df
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
    bucketByScore(scored, idCol, langCol, buckets, "n_pairs")
  }

  /** GENERIC per-group equal-depth rank tiling — the public face of the
    * stage every bucketing operator shares (CCNet terciles are
    * `bucketByRank(scored, lang, avg_logprob, id, 3)`): within each
    * `groupCol` value, rows rank by (`scoreCol` DESC, `tieCol` ASC) — the
    * tiebreak makes the assignment a total order, so bucket membership
    * is deterministic on any engine and partitioning — and the rank
    * tiles into `buckets` equal-depth buckets by the closed-form NTile
    * (first n%k tiles take ceil(n/k) rows: exactly Spark's and DuckDB's
    * `ntile`). Adds `bucket` (int) to the input columns; NULL scores
    * never occupy tile slots and take a NULL bucket; a NULL group is its
    * own tile group. Composable with ANY scorer — q_mkn_buckets tiles
    * the modified-KN against-face scores, the literal KenLM-smoothed
    * Wenzek shape.
    *
    * Scale shape: a DISTRIBUTED exact rank (RangedPrefix — a dominant
    * group is the norm in crawl curation; an `ntile().over(partitionBy)`
    * window would sort half the corpus in one task). Requires
    * (`groupCol`, `scoreCol`, `tieCol`) unique per row (the idCol-unique
    * contract); `pinInput` checkpoints the input before the boundary
    * sampler — keep it on when the input is an expensive scoring
    * pipeline (the sampler is a full extra pass). Batch-only (corpus-
    * wide ranking); for the stateless streaming face freeze cuts with
    * [[perplexityBucketThresholds]]-style artifacts and apply
    * [[bucketByThresholds]]. */
  def bucketByRank(docs: org.apache.spark.sql.DataFrame, groupCol: String,
                   scoreCol: String, tieCol: String, buckets: Int,
                   pinInput: Boolean = true): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, s"bucketByRank needs >= 2 buckets, got $buckets")
    require(!docs.isStreaming,
      "bucketByRank is batch-only (corpus-wide ranking) — freeze cuts and " +
        "apply bucketByThresholds on a stream")
    require(!docs.columns.contains("bucket"),
      "bucketByRank input already carries a 'bucket' column")
    val score = col(scoreCol)
    val cols = docs.columns.toIndexedSeq.map(col)
    val (parted, offs) = RangedPrefix(docs,
      groupCols = Seq(groupCol),
      orderCols = Seq(score.desc, col(tieCol)),
      valueExpr = when(score.isNotNull, lit(1L)).otherwise(lit(0L)),
      pinInput = pinInput)
    val nn = parted.filter(score.isNotNull)
    val ranked = RangedPrefix.joinOffsets(nn, offs, Seq(groupCol))
      .withColumnRenamed("__grptot", "__n")
      .withColumn("__r", col("__off") + row_number().over(
        Window.partitionBy(col("__p"), col(groupCol))
          .orderBy(score.desc, col(tieCol))))
    ranked.select(cols :+ closedFormNtile(buckets).as("bucket"): _*)
      .unionByName(parted.filter(score.isNull)
        .select(cols :+ lit(null).cast("int").as("bucket"): _*))
  }

  /** The per-language tile stage of the perplexity-bucketing faces —
    * [[bucketByRank]] over the scored frame's four columns (kept as a
    * projection wrapper so the faces' output column order is stable). */
  private def bucketByScore(scored: org.apache.spark.sql.DataFrame, idCol: String,
                            langCol: String, buckets: Int,
                            nCol: String): org.apache.spark.sql.DataFrame =
    bucketByRank(
      scored.select(col(idCol), col(langCol), col(nCol), col("avg_logprob")),
      langCol, "avg_logprob", idCol, buckets)

  /** CCNet bucketing against a PRETRAINED model — the LITERAL Wenzek et
    * al. 2020 §4.3 shape: score every document under a Kneser-Ney LM
    * trained on the REFERENCE corpus (their 5-gram KenLM on Wikipedia;
    * here the [[LmSpec.KneserNey]] [[lmScore]] at `order`), then split each language
    * into `buckets` equal-depth tiles by (score desc, id) — bucket 1 =
    * "head", the slice kept for LM training. [[perplexityBuckets]] is
    * the self-trained variant. One shared model scores all languages
    * (CCNet trains per-language models; with per-language references,
    * call this per slice — documented deviation). Batch-only: the tile
    * assignment is a corpus-wide ranking (score a stream with
    * [[lmScore]] and bucket per micro-batch via foreachBatch).
    * Output (idCol, langCol, n_grams, avg_logprob, bucket); documents
    * under `order` tokens take a NULL bucket. */
  def perplexityBucketsAgainst(docs: org.apache.spark.sql.DataFrame,
                               refDocs: org.apache.spark.sql.DataFrame,
                               idCol: String, textCol: String, langCol: String,
                               refTextCol: String, buckets: Int = 3,
                               order: Int = 3, discount: Double = 0.75,
                               /** [[LmSpec]]'s scale levers,
                                 * passed through — this is the large-
                                 * reference face that needs them most. */
                               minCount: Long = 1L,
                               broadcastModel: Option[Boolean] = None): org.apache.spark.sql.DataFrame = {
    require(buckets >= 2, s"perplexityBucketsAgainst needs >= 2 buckets, got $buckets")
    require(!docs.isStreaming,
      "perplexityBucketsAgainst is batch-only (the tile assignment is a " +
        "corpus-wide ranking) — score a stream with lmScore and " +
        "bucket per micro-batch via foreachBatch")
    val scored = lmScore(graft.api.MStream(docs),
        LmSpec(order, LmSpec.KneserNey(discount), minCount, broadcastModel),
        idCol, textCol, Some(LmRef(refDocs, refTextCol))).df
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
    bucketByScore(scored, idCol, langCol, buckets, "n_grams")
  }

  /** FROZEN per-language bucket thresholds from a reference crawl — the
    * artifact that makes CCNet bucketing STREAMABLE (production CCNet
    * does exactly this: derive per-language perplexity cut points from a
    * reference run once, then apply them statelessly to every later
    * crawl): `docs` scores and tiles under [[perplexityBucketsAgainst]]
    * (KN model trained on `refDocs`), and each tile boundary freezes as
    * cut_b = the MINIMUM avg_logprob assigned to bucket b, for
    * b = 1..buckets−1. Output (langCol, bucket, cut) — a languages ×
    * (buckets−1) artifact, shippable as a program-document input.
    * Applying the cuts back to the reference population reproduces its
    * tiling except where one score value straddles a tile boundary (ties
    * all land in the best bucket the value reached); a language with
    * fewer scored documents than buckets freezes only the cuts its
    * occupied tiles define. Batch-only (the derivation IS the
    * corpus-wide ranking); [[bucketByThresholds]] is the stateless
    * dual-mode apply. */
  def perplexityBucketThresholds(docs: org.apache.spark.sql.DataFrame,
                                 refDocs: org.apache.spark.sql.DataFrame,
                                 idCol: String, textCol: String, langCol: String,
                                 refTextCol: String, buckets: Int = 3,
                                 order: Int = 3, discount: Double = 0.75,
                                 minCount: Long = 1L,
                                 broadcastModel: Option[Boolean] = None)
      : org.apache.spark.sql.DataFrame =
    perplexityBucketsAgainst(docs, refDocs, idCol, textCol, langCol,
        refTextCol, buckets, order, discount, minCount, broadcastModel)
      .where(col("bucket").isNotNull && col("bucket") < buckets)
      .groupBy(col(langCol), col("bucket"))
      .agg(min(col("avg_logprob")).as("cut"))

  /** STATELESS bucket assignment from a frozen thresholds artifact
    * ([[perplexityBucketThresholds]]'s output, or any (langCol, bucket,
    * cut) frame): a row's bucket is 1 + the number of cuts its score
    * falls strictly below — bucket 1 ("head") for scores at or above
    * cut_1, the last bucket for everything under the final cut. NULL
    * scores, and languages absent from the artifact, take a NULL bucket
    * (CCNet has no model for an unseen language). A null LANGUAGE is its
    * own group on both sides (null-safe join), mirroring the tiling
    * faces. Dual-mode: batch or streaming from one call — the artifact
    * folds to a languages × (buckets−1) cuts table broadcast onto the
    * scored rows (pinned once on the streaming face so micro-batches
    * re-read the folded artifact, not its derivation), then one
    * projection; zero state rows. Adds `bucket` (int) to the input
    * columns. */
  def bucketByThresholds(stream: graft.api.MStream,
                         thresholds: org.apache.spark.sql.DataFrame,
                         langCol: String, scoreCol: String): graft.api.MStream = {
    require(!thresholds.isStreaming,
      "bucketByThresholds: the thresholds artifact must be a batch frame")
    Seq(langCol, "bucket", "cut").foreach(c =>
      require(thresholds.columns.contains(c),
        s"thresholds artifact needs column '$c' (have: " +
          s"${thresholds.columns.mkString(", ")})"))
    val df = stream.df
    require(!df.columns.contains("bucket"),
      "bucketByThresholds input already carries a 'bucket' column")
    val thrPlan = thresholds.groupBy(col(langCol).as("__thr_lang"))
      .agg(transform(array_sort(collect_list(struct(col("bucket"), col("cut")))),
        x => x.getField("cut")).as("__cuts"))
    val thr =
      if (!df.isStreaming) thrPlan
      else {
        val (cp, ids) = graft.api.Pinned.checkpointTracked(thrPlan)
        graft.api.Pinned.register(df.sparkSession, ids)
        cp
      }
    val score = col(scoreCol)
    val out = df.join(broadcast(thr), col(langCol) <=> col("__thr_lang"), "left")
      .withColumn("bucket",
        when(score.isNotNull && col("__cuts").isNotNull,
          (lit(1) + size(filter(col("__cuts"), c => score < c))).cast("int")))
      .drop("__thr_lang", "__cuts")
    stream.lift(out)
  }

  /** Multinomial Naive Bayes classification against a LABELED reference
    * corpus (the counts-based classic — McCallum & Nigam 1998; the
    * deterministic stand-in for the fastText classifiers CCNet-style
    * pipelines use for language/domain ID, and the right shape for an
    * oracle: every model parameter is a count, so an independent engine
    * reproduces each score): train-side one pass yields per-class doc
    * and token totals plus (class, word) counts; a document's class
    * score is `ln(n_c/N) + Σ_t ln((c(t,c)+α)/(T_c+α·V))`, the argmax
    * (on the ROUNDED score, ties to the lexicographically smallest
    * class — a total order both engines share) is the prediction.
    *
    * Scale shape: the (class, word) count table is the pinned model
    * artifact (model-sized, never corpus-sized); the class list with its
    * totals folds into the PLAN as a literal array (≤ 1024 classes), so
    * scoring explodes each token across classes with NO cross join and
    * one broadcast left join against the model — unseen (class, word)
    * pairs back off to the smoothed floor via the join miss. Dual-mode:
    * batch carries the oracle (q_nb_langid); streaming is the stateless
    * per-batch combine — zero state-store rows. Wordless documents emit
    * (NULL, NULL) in both modes. */
  /** Output schema of [[nbClassifyAgainst]] for a given id column — the
    * single source `Program.validate` resolves against (the build-time
    * eager model must not train during validation). */
  def nbOutputSchema(idCol: String,
      idType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(idCol, idType),
      StructField("pred", StringType), StructField("score", DoubleType)))
  }

  def nbClassifyAgainst(stream: graft.api.MStream,
                        refDocs: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String, refTextCol: String,
                        refLabelCol: String,
                        alpha: Double = 1.0): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    require(alpha > 0.0, s"add-alpha smoothing needs alpha > 0, got $alpha")
    // The class table is collected and its labels re-emitted as string
    // literals: a non-string label column would ClassCastException deep in
    // the build, and a NULL label would train a phantom null class that
    // can surface as `pred` — reject the former by name, drop the latter
    // (an unlabeled reference row carries no class evidence).
    val refLabelType = refDocs.schema(refLabelCol).dataType
    require(refLabelType == StringType,
      s"nbClassifyAgainst: reference label column '$refLabelCol' must be " +
        s"string, got ${refLabelType.simpleString} — cast it first")
    val df = stream.df
    val spark = df.sparkSession
    val labeled = refDocs.where(col(refLabelCol).isNotNull)

    // trained model: class totals (collected — class-count-sized) and the
    // pinned (class, word) count table
    val cls = labeled
      .select(col(refLabelCol).as("__c"), size(words(col(refTextCol))).as("__n"))
      .groupBy(col("__c"))
      .agg(count(lit(1)).as("__nc"), sum(greatest(col("__n"), lit(0))).as("__tc"))
    val clsRows = cls.collect()
    require(clsRows.nonEmpty,
      "nbClassifyAgainst: the reference corpus has no labeled rows")
    require(clsRows.length <= 1024,
      s"nbClassifyAgainst folds the class list into the plan; got " +
        s"${clsRows.length} classes (cap 1024)")
    val (wc, wcIds) = graft.api.Pinned.checkpointTracked(
      labeled.select(col(refLabelCol).as("__c"),
          explode(words(col(refTextCol))).as("__w"))
        .groupBy(col("__c"), col("__w")).agg(count(lit(1)).as("__cwc")))
    graft.api.Pinned.register(spark, wcIds)
    val nDocs = clsRows.map(_.getAs[Long]("__nc")).sum
    val vocab = wc.agg(count_distinct(col("__w"))).head().getLong(0)
    require(vocab > 0, "nbClassifyAgainst: the reference corpus yields no tokens")
    // the class table as ONE typed literal (cast renames the tuple fields;
    // both fold to a single array literal) — an array(struct(lit…)…) of
    // 1024 classes would be ~3k expression NODES in the plan, the same
    // ceiling class as the IVF literal codebook
    val clsT = "array<struct<__c:string,__nc:bigint,__tc:bigint>>"
    val clsArr = typedLit(clsRows.map(r => (r.getAs[String]("__c"),
      r.getAs[Long]("__nc"), r.getAs[Long]("__tc")))).cast(clsT)
    val id = col(idCol)

    def scoreCol(n: Column, sumLog: Column, nc: Column, tc: Column): Column =
      round(log(nc.cast("double") / nDocs) + sumLog
        - n * log(tc + lit(vocab) * alpha), 3)

    if (!df.isStreaming) {
      import org.apache.spark.sql.expressions.Window
      val toks = df.select(id.as("__id"), explode(words(col(textCol))).as("__w"))
      val perCls = toks
        .select(col("__id"), col("__w"), explode(clsArr).as("__k"))
        .select(col("__id"), col("__w"), col("__k.__c").as("__c"),
          col("__k.__nc").as("__nc"), col("__k.__tc").as("__tc"))
        .join(broadcast(wc), Seq("__c", "__w"), "left")
        .groupBy(col("__id"), col("__c"), col("__nc"), col("__tc"))
        .agg(count(lit(1)).as("__n"),
          sum(log(coalesce(col("__cwc"), lit(0L)) + alpha)).as("__s"))
        .withColumn("__score",
          scoreCol(col("__n"), col("__s"), col("__nc"), col("__tc")))
      val w = Window.partitionBy(col("__id"))
        .orderBy(col("__score").desc, col("__c"))
      val pred = perCls.withColumn("__rn", row_number().over(w))
        .where(col("__rn") === 1)
        .select(col("__id").as(idCol), col("__c").as("pred"),
          col("__score").as("score"))
      return stream.lift(df.select(id).join(pred, Seq(idCol), "left"))
    }

    // streaming: wordless docs ride a null-word sentinel whose class
    // column stays null (no class explode, no model match)
    val ws = words(col(textCol))
    val u = df
      .select(id.as("__id"),
        explode(when(size(ws) >= 1, ws)
          .otherwise(array(lit(null).cast("string")))).as("__w"))
      .select(col("__id"), col("__w"),
        explode_outer(when(col("__w").isNotNull, clsArr)
          .otherwise(lit(null).cast(clsT))).as("__k"))
      .select(col("__id"), col("__w"), col("__k.__c").as("__c"),
        col("__k.__nc").as("__nc"), col("__k.__tc").as("__tc"))
      .join(broadcast(wc), Seq("__c", "__w"), "left")
    val idType = df.schema(idCol).dataType
    val aggT = StructType(Seq(StructField("__id", idType),
      StructField("pred", StringType), StructField("score", DoubleType)))
    val aggEnc: Encoder[Row] = RowEncoder.encoderFor(aggT)
    val cIdx = u.schema.fieldIndex("__c")
    val ncIdx = u.schema.fieldIndex("__nc")
    val tcIdx = u.schema.fieldIndex("__tc")
    val cwcIdx = u.schema.fieldIndex("__cwc")
    val nD = nDocs
    val v = vocab
    val a = alpha
    val out = graft.streaming.PerBatchCombine(u, Seq("__id"), aggEnc) {
        (key: Row, it: Iterator[Row]) =>
          val acc = scala.collection.mutable.Map.empty[String, (Long, Double, Long, Long)]
          it.foreach { r =>
            if (!r.isNullAt(cIdx)) {
              val c = r.getString(cIdx)
              val cwc = if (r.isNullAt(cwcIdx)) 0L else r.getLong(cwcIdx)
              val (n, s, _, _) = acc.getOrElse(c, (0L, 0.0, 0L, 0L))
              acc(c) = (n + 1, s + math.log(cwc + a), r.getLong(ncIdx), r.getLong(tcIdx))
            }
          }
          if (acc.isEmpty) Iterator.single(Row(key.get(0), null, null))
          else {
            val scored = acc.toSeq.map { case (c, (n, s, nc, tc)) =>
              val raw = math.log(nc.toDouble / nD) + s - n * math.log(tc + v * a)
              (c, BigDecimal(raw).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
            }
            val best = scored.minBy { case (c, sc) => (-sc, c) }
            Iterator.single(Row(key.get(0), best._1, best._2))
          }
      }
      .withColumnRenamed("__id", idCol)
    stream.lift(out)
  }

  /** RE2-safe PII patterns (portable between Java regex and DuckDB's RE2 —
    * no lookaround, no possessive quantifiers). */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^ \\t\\n]+"
  val IpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** PII/URL scrubbing: redact emails, URLs, and dotted-quad IPs with
    * placeholder tokens, plus per-category match counts. Pure codegen'd
    * regexp columns — order (emails, then URLs, then IPs) is fixed so the
    * output is deterministic across engines. */
  def scrubPii(text: Column): Seq[(String, Column)] = Seq(
    "n_emails" -> regexp_count(text, lit(EmailRe)),
    "n_urls" -> regexp_count(text, lit(UrlRe)),
    "n_ips" -> regexp_count(text, lit(IpRe)),
    "scrubbed" -> regexp_replace(
      regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), UrlRe, "<URL>"),
      IpRe, "<IP>"))

  /** Quality features: word count, mean word length, stopword ratio,
    * punctuation ratio. Mean word length sums the words themselves
    * (whitespace-robust) rather than assuming single-space separators.
    * Zero-word documents get NULL ratios (guarded — ANSI division by the
    * zero count would throw; the oracle mirrors via `nullif`). */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val nw = tokenCountWhitespace(text)
    val wordChars = aggregate(words(text), lit(0), (a, w) => a + length(w))
    Seq(
      "n_words" -> nw,
      "avg_word_len" -> when(nw > 0, round(wordChars.cast("double") / nw, 4)),
      "stopword_ratio" -> when(nw > 0,
        round(markerHits(text, Stopwords).cast("double") / nw, 4)),
      "punct_count" -> regexp_count(text, lit("[^A-Za-z0-9_\\s]")))
  }

  /** Gopher quality-rule gate (Rae et al., "Scaling Language Models:
    * ... Gopher", 2021 §A1.1): the published heuristic filter set as
    * per-document boolean flags plus the conjunction `keep` —
    * word count in [minWords, maxWords]; mean word length in [3, 10];
    * hash-symbol and ellipsis symbol-to-word ratios each ≤ 0.1; ≤ 90% of
    * lines bullet-started; ≤ 30% of lines ellipsis-ended; ≥ 80% of words
    * containing an alphabetic character; ≥ 2 of the paper's 8 stopwords
    * present. Every ratio test is INTEGER cross-multiplication
    * (`10·hashes ≤ nw`, never a float division), so the flags are exact
    * and engine-portable with no rounding contract. Word-dependent flags
    * are false for wordless (or null-text) documents.
    *
    * Pure zero-shuffle projection — one tokenization pass per document
    * behind the usual Generate barrier (the struct of counts is
    * materialized once; without the barrier CollapseProject would inline
    * the tokenizer into every flag) — so it is dual-mode by construction:
    * the same code path plans over a batch frame or a streaming one with
    * zero state. */
  def gopherRules(docs: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
                  minWords: Int = 50, maxWords: Int = 100000): org.apache.spark.sql.DataFrame = {
    require(minWords >= 1 && maxWords >= minWords,
      s"need 1 <= minWords <= maxWords, got [$minWords, $maxWords]")
    val docsP = spreadForCompute(docs) // heavy HOF battery per row
    val t = col(textCol)
    val ws = words(t)
    val wsl = transform(ws, w => lower(w))
    val ls = split(t, "\n", -1)
    val bulletMarks = Seq("•", "‣", "▪", "-", "*")
    // the paper's stopword set (An et al. trace it to the C4/MassiveWeb
    // rule): {the, be, to, of, and, that, have, with}
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stats = struct(
      size(ws).as("nw"),
      aggregate(ws, lit(0L), (a, w) => a + length(w)).as("chars"),
      (length(t) - length(replace(t, lit("#"), lit("")))).as("hashes"),
      (((length(t) - length(replace(t, lit("..."), lit("")))) / lit(3)).cast("long")
        + (length(t) - length(replace(t, lit("…"), lit(""))))).as("ellipses"),
      size(ls).as("nl"),
      size(filter(ls, l => substring(ltrim(l), 1, 1).isInCollection(bulletMarks)))
        .as("bullet_lines"),
      size(filter(ls, l => endswith(rtrim(l), lit("...")) || endswith(rtrim(l), lit("…"))))
        .as("ell_lines"),
      size(filter(ws, w => w.rlike("[A-Za-z]"))).as("alpha_words"),
      gopherStops.map(sw => array_contains(wsl, sw).cast("int")).reduce(_ + _).as("stops"))
    val s = col("__g")
    def ok(c: Column) = coalesce(c, lit(false))
    docsP.select(col(idCol), explode(array(stats)).as("__g"))
      .select(col(idCol),
        coalesce(s("nw").cast("long"), lit(0L)).as("n_words"),
        ok(s("nw") >= minWords && s("nw") <= maxWords).as("ok_words"),
        ok(s("nw") > 0 && s("chars") >= lit(3L) * s("nw") && s("chars") <= lit(10L) * s("nw"))
          .as("ok_word_len"),
        ok(s("nw") > 0 && lit(10) * s("hashes") <= s("nw")
          && lit(10) * s("ellipses") <= s("nw")).as("ok_symbols"),
        ok(lit(10) * s("bullet_lines") <= lit(9) * s("nl")).as("ok_bullets"),
        ok(lit(10) * s("ell_lines") <= lit(3) * s("nl")).as("ok_ellipses"),
        ok(s("nw") > 0 && lit(5) * s("alpha_words") >= lit(4) * s("nw")).as("ok_alpha"),
        ok(s("stops") >= 2).as("ok_stopwords"))
      .withColumn("keep", col("ok_words") && col("ok_word_len") && col("ok_symbols") &&
        col("ok_bullets") && col("ok_ellipses") && col("ok_alpha") && col("ok_stopwords"))
  }

  /** [[gopherRules]] over an MStream — the ingest-face wrapper the
    * program grammar's `gopherGate` node lowers to (identical plan; the
    * projection is already dual-mode). */
  def gopherGate(stream: graft.api.MStream, idCol: String, textCol: String,
                 minWords: Int = 50, maxWords: Int = 100000): graft.api.MStream =
    stream.lift(gopherRules(stream.df, idCol, textCol, minWords, maxWords))

  /** Output schema of [[bm25Retrieve]] — the fact `Program.validate`
    * resolves the Bm25Retrieve node against. */
  def bm25RetrieveOutputSchema(qIdCol: String,
      qIdType: org.apache.spark.sql.types.DataType, idCol: String,
      idType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(qIdCol, qIdType), StructField(idCol, idType),
      StructField("bm25", DoubleType), StructField("rank", LongType, nullable = false)))
  }

  /** Output schema of [[hybridRrfRetrieve]] — the fact `Program.validate`
    * resolves the HybridRrf node against. The doc id is LongType by the
    * bounded-heap contract (the heap carries (long id, score) pairs). */
  def hybridRrfOutputSchema(qIdCol: String,
      qIdType: org.apache.spark.sql.types.DataType,
      idCol: String): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(qIdCol, qIdType),
      StructField(idCol, LongType), StructField("rrf", DoubleType),
      StructField("rank", LongType, nullable = false)))
  }

  /** Output schema of [[winnowOverlapPairs]] — the fact `Program.validate`
    * resolves the WinnowPairs node against. */
  def winnowPairsOutputSchema(
      idType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField("id_a", idType), StructField("id_b", idType),
      StructField("n_shared", LongType, nullable = false)))
  }

  /** Dual-mode [[encodeTokens]] — apply a FIXED vocabulary at ingest.
    * Batch delegates to `encodeTokens` (the q_encode oracle face);
    * streaming explodes each arriving doc's tokens, stream-static
    * broadcast-joins the pinned vocabulary (driver-sized by `buildVocab`
    * contract, localCheckpoint'ed once so micro-batches never re-plan the
    * vocab build), and re-assembles per-doc id arrays in the stateless
    * per-batch combine (every token row derives from its own input row —
    * one micro-batch; unique-id precondition per batch, as
    * `scrubKnownSpans`). Token-less documents produce no output in EITHER
    * mode (the batch groupBy sees no rows for them). Zero state-store
    * rows: encode throughput is join-bound at ingest. */
  def encodeTokensIngest(stream: graft.api.MStream, vocab: org.apache.spark.sql.DataFrame,
                         idCol: String, textCol: String,
                         oovId: Long = -1L): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    val df = stream.df
    if (!df.isStreaming)
      return stream.lift(encodeTokens(df, idCol, textCol, vocab, oovId))
    val (vcp, vIds) = graft.api.Pinned.checkpointTracked(
      vocab.select(col("word").as("__w"), col("id")))
    graft.api.Pinned.register(df.sparkSession, vIds)
    val u = df
      .select(col(idCol).as("__id"), posexplode(words(col(textCol))).as(Seq("__pos", "__w")))
      .join(broadcast(vcp), Seq("__w"), "left")
      .select(col("__id"), col("__pos"), col("id").as("__vid"))
    val idType = df.schema(idCol).dataType
    val outT = StructType(Seq(
      StructField("__id", idType),
      StructField("ids", ArrayType(LongType, containsNull = false)),
      StructField("n_oov", LongType, nullable = false)))
    val outEnc: Encoder[Row] = RowEncoder.encoderFor(outT)
    val posIdx = u.schema.fieldIndex("__pos")
    val vidIdx = u.schema.fieldIndex("__vid")
    val oov = oovId
    val out = graft.streaming.PerBatchCombine(u, Seq("__id"), outEnc) {
        (key: Row, it: Iterator[Row]) =>
          val rows = it.toList.sortBy(_.getInt(posIdx))
          val ids = rows.map(r => if (r.isNullAt(vidIdx)) oov else r.getLong(vidIdx))
          Iterator.single(Row(key.get(0), ids, rows.count(_.isNullAt(vidIdx)).toLong))
      }
      .withColumnRenamed("__id", idCol)
    stream.lift(out)
  }

  /** Dual-mode [[decontaminate]] — benchmark-overlap hygiene at ingest.
    * Batch delegates to `decontaminate` (the q_decontaminate oracle
    * face); streaming explodes each arriving doc's distinct n-gram hashes
    * (`posexplode_outer`, so sub-n-word docs still flow through and score
    * 0), stream-static broadcast-joins the pinned benchmark gram set
    * (small by nature; localCheckpoint'ed once), and counts hits in the
    * stateless per-batch combine. Zero state-store rows. */
  def decontaminateIngest(stream: graft.api.MStream, bench: org.apache.spark.sql.DataFrame,
                          idCol: String, textCol: String, benchTextCol: String,
                          n: Int = 8, minOverlap: Int = 1): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    val df = stream.df
    if (!df.isStreaming)
      return stream.lift(
        decontaminate(df, idCol, textCol, bench, benchTextCol, n, minOverlap))
    val (bcp, bIds) = graft.api.Pinned.checkpointTracked(
      bench.select(explode(array_distinct(
          graft.functions.VectorFunctions.wordShingleHashes(col(benchTextCol), n))).as("__g"))
        .distinct().withColumn("__hit", lit(1)))
    graft.api.Pinned.register(df.sparkSession, bIds)
    val grams = graft.functions.VectorFunctions.wordShingleHashes(col(textCol), n)
    val u = df
      .select(col(idCol).as("__id"),
        posexplode_outer(array_distinct(grams)).as(Seq("__p", "__g")))
      .join(broadcast(bcp), Seq("__g"), "left")
      .select(col("__id"), col("__hit"))
    val idType = df.schema(idCol).dataType
    val outT = StructType(Seq(
      StructField("__id", idType),
      StructField("n_overlap", LongType, nullable = false),
      StructField("contaminated", IntegerType, nullable = false)))
    val outEnc: Encoder[Row] = RowEncoder.encoderFor(outT)
    val hitIdx = u.schema.fieldIndex("__hit")
    val mo = minOverlap
    val out = graft.streaming.PerBatchCombine(u, Seq("__id"), outEnc) {
        (key: Row, it: Iterator[Row]) =>
          val hits = it.count(r => !r.isNullAt(hitIdx)).toLong
          Iterator.single(Row(key.get(0), hits, if (hits >= mo) 1 else 0))
      }
      .withColumnRenamed("__id", idCol)
    stream.lift(out)
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): documents are scored by
    * how target-like they look under hashed word-bigram bucket models —
    * `weight(doc) = Σ over bigram occurrences of
    * log p_target(bucket) − log p_raw(bucket)` with add-`alpha` smoothing
    * over `buckets` hash buckets. `selected` = rounded weight > 0 (the doc
    * is more target-like than raw-like); resample by ranking on `weight`.
    *
    * Dual-mode like the add-alpha [[lmScore]] against a reference (the
    * trained artifact here is the pair of bucket-count tables): both
    * reference corpora are counted in
    * ONE pass each, checkpointed as pinned model artifacts (≤ `buckets`
    * rows — broadcast by construction), and arrivals are scored by two
    * broadcast left joins + a per-doc fold. Batch groups by doc id;
    * streaming uses the stateless per-batch combine (every bigram row
    * derives from its own input row — one micro-batch), zero state-store
    * rows. Documents with < 2 words emit (0, NULL, false) in both modes.
    * Bucket totals are scalar model constants (`.head()` on the count
    * tables — model-sized by construction, like the add-alpha model's V).
    *
    * Scale posture: the bucket space is fixed (`buckets`), so the model
    * is O(buckets) regardless of corpus size; scoring is a zero-shuffle
    * projection + broadcast joins per arrival batch. The reference's
    * capability ceiling doesn't apply — no per-key state anywhere. */
  def dsirOutputSchema(idCol: String,
      idType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(idCol, idType),
      StructField("n_feats", LongType, nullable = false),
      StructField("dsir_weight", DoubleType),
      StructField("selected", BooleanType, nullable = false)))
  }

  def dsirScore(stream: graft.api.MStream, targetDocs: org.apache.spark.sql.DataFrame,
                rawDocs: org.apache.spark.sql.DataFrame,
                idCol: String, textCol: String, refTextCol: String,
                buckets: Int = 4096, alpha: Double = 1.0): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    require(buckets > 0, s"dsirScore needs a positive bucket count, got $buckets")
    require(alpha > 0.0, s"add-alpha smoothing needs alpha > 0, got $alpha")
    val df = stream.df
    val spark = df.sparkSession
    def bucketRows(d: org.apache.spark.sql.DataFrame, text: String,
                   keep: Seq[Column]): org.apache.spark.sql.DataFrame = d
      .select(keep :+ explode(
        graft.functions.VectorFunctions.wordShingleHashes(col(text), 2)).as("__h"): _*)
      .select(keep :+ (col("__h") % buckets).as("__b"): _*)
    // the two reference sketches are independent actions — pin and total
    // them concurrently ([[awaitPinned]]), register on the caller
    import scala.concurrent.Future
    import scala.concurrent.ExecutionContext.Implicits.global
    def sketch(d: org.apache.spark.sql.DataFrame, as: String) = Future {
      val (cp, ids) = graft.api.Pinned.checkpointTracked(
        bucketRows(d, refTextCol, Nil).groupBy(col("__b")).agg(count(lit(1)).as(as)))
      (cp, ids, cp.agg(coalesce(sum(col(as)), lit(0L))).head().getLong(0))
    }
    val Seq((tgt, _, totT), (raw, _, totR)) = awaitPinned(spark,
      Seq(sketch(targetDocs, "__t"), sketch(rawDocs, "__r")))(_._2)
    require(totT > 0, "dsirScore: the target corpus yields no word bigrams")
    require(totR > 0, "dsirScore: the raw corpus yields no word bigrams")
    // per-occurrence log-ratio; unseen buckets fall to the smoothed floor
    // uniformly (counts coalesce to 0 inside the formula, in-engine)
    val lam =
      log((coalesce(col("__t"), lit(0L)) + alpha) / (lit(totT) + alpha * buckets)) -
      log((coalesce(col("__r"), lit(0L)) + alpha) / (lit(totR) + alpha * buckets))
    val id = col(idCol)
    def finish(n: Column, s: Column): Seq[Column] = Seq(
      coalesce(n, lit(0L)).as("n_feats"),
      round(s, 3).as("dsir_weight"),
      coalesce(round(s, 3) > 0d, lit(false)).as("selected"))

    if (!df.isStreaming) {
      val scored = bucketRows(df, textCol, Seq(id))
        .join(broadcast(tgt), Seq("__b"), "left")
        .join(broadcast(raw), Seq("__b"), "left")
        .groupBy(id)
        .agg(count(lit(1)).as("__n"), sum(lam).as("__s"))
      val out = df.select(id).join(scored, Seq(idCol), "left")
        .select(id +: finish(col("__n"), col("__s")): _*)
      return stream.lift(out)
    }

    // streaming: bigram-less docs ride a sentinel (null bucket) row so
    // they still emit; the fold skips sentinels, sum/round stay in SQL so
    // both faces share Spark's exact semantics
    val grams = graft.functions.VectorFunctions.wordShingleHashes(col(textCol), 2)
    val u = df
      .select(id.as("__id"),
        explode(when(size(grams) >= 1, grams)
          .otherwise(array(lit(null).cast("long")))).as("__h"))
      .withColumn("__b", col("__h") % buckets)
      .join(broadcast(tgt), Seq("__b"), "left")
      .join(broadcast(raw), Seq("__b"), "left")
      .select(col("__id"), when(col("__h").isNotNull, lam).as("__lam"))
    val idType = df.schema(idCol).dataType
    val aggT = StructType(Seq(
      StructField("__id", idType),
      StructField("__n", LongType, nullable = false),
      StructField("__s", DoubleType)))
    val aggEnc: Encoder[Row] = RowEncoder.encoderFor(aggT)
    val lamIdx = u.schema.fieldIndex("__lam")
    val out = graft.streaming.PerBatchCombine(u, Seq("__id"), aggEnc) {
        (key: Row, it: Iterator[Row]) =>
          var n = 0L; var s = 0.0
          it.foreach { r => if (!r.isNullAt(lamIdx)) { n += 1; s += r.getDouble(lamIdx) } }
          Iterator.single(Row(key.get(0), n, if (n > 0) s else null))
      }
      .select(col("__id").as(idCol) +:
        finish(col("__n"), when(col("__n") > 0, col("__s"))): _*)
    stream.lift(out)
  }

  /** Symbol-bracket markers (U+0002 / U+0003) for the BPE working
    * representation: each symbol is stored bracketed (written `⟨symbol⟩`
    * below), so a merge rule (a, b)
    * applies as ONE literal string replace of `⟨a⟩⟨b⟩` with `⟨ab⟩` —
    * left-to-right non-overlapping, exactly BPE's greedy application
    * order, with the brackets anchoring whole symbols (no false matches
    * inside longer symbols). Codegen'd `replace`, no regex, no UDF; an
    * independent engine (the DuckDB oracle) reproduces it with its own
    * literal `replace`. */
  private[pipeline] val BpeS = "\u0002"
  private[pipeline] val BpeE = "\u0003"

  private def bpeWrap(word: Column): Column =
    array_join(transform(chars(word), c => concat(lit(BpeS), c, lit(BpeE))), "")

  /** Rule (a, b) rewrites `⟨a⟩⟨b⟩` to `⟨merged(a, b)⟩`: `a + b` for BPE,
    * [[WordPiece.mergedSym]] for WordPiece. */
  private def bpeApply(s: Column, merges: Seq[(String, String)],
                       merged: (String, String) => String = _ + _): Column =
    merges.foldLeft(s) { case (c, (a, b)) =>
      org.apache.spark.sql.functions.replace(c,
        lit(BpeS + a + BpeE + BpeS + b + BpeE), lit(BpeS + merged(a, b) + BpeE))
    }

  private[pipeline] def bpeSymbols(s: Column): Column =
    filter(split(s, s"[$BpeS$BpeE]"), x => x =!= "")

  /** Distributed BPE merge training (Sennrich, Haddow & Birch 2016,
    * "Neural Machine Translation of Rare Words with Subword Units"):
    * learn `numMerges` merge rules from the corpus. BPE's working set is
    * the word-frequency VOCABULARY, not the corpus — ONE corpus pass
    * builds (word, count), then every round (a) counts adjacent symbol
    * pairs weighted by word count (overlapping occurrences count, the
    * reference algorithm's statistic), (b) picks the most frequent pair
    * (ties to the lexicographically smaller), and (c) rewrites symbols
    * by applying the merge greedily left-to-right. The vocabulary is
    * pinned once; each round ([[mergeRounds]], the loop every subword
    * trainer shares) scans it with the PENDING merge chain
    * applied as chained literal replaces, and every
    * `graft.bpe.rematEvery` rounds (default 64) the vocabulary is
    * RE-MATERIALIZED with the chain applied and the chain reset — so
    * per-round expression depth and cost are O(rematEvery), constant in
    * the total merge count, which is what lets a real-tokenizer-sized
    * run (8k–32k merges) complete. Each re-materialization also prunes
    * words already collapsed to one symbol (exact: merges never split a
    * symbol, so a one-symbol word can never contribute a pair again),
    * shrinking the working set as training progresses. The corpus itself
    * is touched exactly once, and the only driver data is the merge
    * table (`numMerges` rows, the trained artifact). No end-of-word
    * marker (documented deviation from the paper; the oracle mirrors the
    * same choice).
    *
    * Precondition: text must not contain U+0002/U+0003 (the symbol
    * brackets) — control characters are not word characters in any real
    * corpus; strip them upstream (e.g. with the PII/quality scrubbers).
    *
    * Output: (merge_rank, lhs, rhs) — apply with [[bpeTokenize]]. */
  def trainBpeMerges(docs: org.apache.spark.sql.DataFrame, textCol: String,
                     numMerges: Int): org.apache.spark.sql.DataFrame = {
    require(numMerges >= 1 && numMerges <= 65536,
      s"numMerges=$numMerges: each merge is one driver-coordinated round " +
        "and the merge table is a driver artifact; keep <= 65536")
    // The ONE corpus-scale pass (the word count) runs in the CALLER's
    // session at its full shuffle width — narrowing applies to the tiny
    // per-round jobs over the distinct-word table, never to the corpus
    // scan — and is materialized (lineage-truncated) before the loop.
    val (vocab0, vocab0Ids) = graft.api.Pinned.checkpointTracked(docs
      .select(explode(words(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .select(bpeWrap(col("__w")).as("__s"), col("__c")))
    bpeMergeTable(vocab0, vocab0Ids, numMerges)
  }

  /** The BPE pick of [[mergeRounds]] for [[trainBpeMerges]] and
    * [[trainByteBpeMerges]]: the raw pair count's top-1, ties to the
    * lexicographically smaller pair. Output (merge_rank, lhs, rhs). */
  private def bpeMergeTable(vocab0: org.apache.spark.sql.DataFrame, vocab0Ids: Set[Int],
                            numMerges: Int): org.apache.spark.sql.DataFrame = {
    val spark = vocab0.sparkSession
    import spark.implicits._
    mergeRounds(vocab0, vocab0Ids, numMerges, _ + _, prune = true)(
      pairCounts(_).orderBy(col("__n").desc, col("a"), col("b")).limit(1))
      .map { case (_, r, a, b) => (r, a, b) }.toDF("merge_rank", "lhs", "rhs")
  }

  /** The language key of a working set: `__l` when it has one. */
  private def langKey(df: org.apache.spark.sql.DataFrame): Seq[Column] =
    df.columns.toSeq.filter(_ == "__l").map(col)

  /** Weighted adjacent-pair counts of a round's ([`__l`,] `__y`, `__c`)
    * frame over its words of two or more symbols: ([`__l`,] a, b, `__n`).
    * Overlapping occurrences count, the reference algorithms' statistic. */
  private[pipeline] def pairCounts(
      cur: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keys = langKey(cur)
    cur.where(size(col("__y")) >= 2)
      .select(keys :+ explode(arrays_zip(
        slice(col("__y"), lit(1), size(col("__y")) - 1).as("a"),
        slice(col("__y"), lit(2), size(col("__y")) - 1).as("b"))).as("__p") :+
        col("__c"): _*)
      .groupBy(keys :+ col("__p.a").as("a") :+ col("__p.b").as("b"): _*)
      .agg(sum(col("__c")).as("__n"))
  }

  /** The merge-round loop of every subword trainer ([[trainBpeMerges]],
    * [[trainByteBpeMerges]], [[trainBpeMergesByLang]],
    * [[WordPiece.trainVocab]]). `vocab0` is the front's pinned working
    * set ([`__l`,] `__s` bracketed symbols, `__c` word count) and
    * `vocab0Ids` its checkpoint ids, released here. Each round scans the
    * working set with the PENDING merge chain applied as chained literal
    * replaces — one chain per language key, each a CASE branch (bounded by
    * the trainer's language cap x rematEvery); an unkeyed set applies its
    * one chain bare — and `pick` maps that round's ([`__l`,] `__y`
    * symbols, `__c`) frame to at most one ([`__l`,] a, b) row per key.
    * Every `graft.bpe.rematEvery` rounds (default 64) the working set is
    * RE-MATERIALIZED with the chains applied and the chains reset, so
    * per-round expression depth and cost are O(rematEvery), constant in
    * the total merge count. With `prune`, re-materialization also drops
    * words already collapsed to one symbol (exact when `pick` reads pair
    * counts alone: merges never split a symbol, so such a word never
    * contributes a pair again). The loop ends after `numMerges` rounds or when a round picks
    * nothing. Returns (lang key, round, a, b) in pick order. */
  private[pipeline] def mergeRounds(
      vocab0: org.apache.spark.sql.DataFrame, vocab0Ids: Set[Int], numMerges: Int,
      merged: (String, String) => String, prune: Boolean)(
      pick: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : Seq[(Option[String], Int, String, String)] = {
    val spark = vocab0.sparkSession
    // the loop owns the word-count pin from here: a malformed conf must
    // release it like every later exit does
    val (rematEvery, vocabParts) = releaseOnFailure(spark, vocab0Ids) {
      (Dedup.intConf(spark, "graft.bpe.rematEvery", 64),
        Dedup.intConf(spark, "graft.bpe.vocabPartitions", 8))
    }
    // The training loop runs thousands of TINY driver-coordinated jobs
    // over the (word, count) vocabulary — a table of distinct WORDS, which
    // is small even when the corpus is not (a 100 TB crawl has millions of
    // distinct words, not billions of rows). Wide partitioning makes every
    // round pay 32+ task launches for kilobytes of work, and that task
    // overhead — not data — dominates the trainer. Keep the working set on
    // a few partitions (graft.bpe.vocabPartitions, default 8) and narrow
    // the per-round shuffle to match (in the cloned loop session below).
    // The thousands of tiny driver-coordinated rounds run in a CLONED
    // session (shared SparkContext, PRIVATE SQLConf): the narrow shuffle
    // width and AQE-off (whose per-stage re-planning round trip dominates
    // fixed-shape micro-jobs) apply only to the loop — concurrent queries
    // on the caller's session keep their plans, and there is no global
    // conf mutation to restore or race on.
    val loop = spark.newSession()
    loop.conf.set("spark.sql.shuffle.partitions", vocabParts.toString)
    loop.conf.set("spark.sql.adaptive.enabled", "false")
    val keys = langKey(vocab0)
    var vocab = loop.createDataFrame(vocab0.rdd, vocab0.schema)
      .coalesce(vocabParts)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var vocabCpIds = Set.empty[Int]
    def releaseIds(ids: Set[Int]): Unit = graft.api.Pinned.unpersist(spark, ids)
    // merges learned since the last re-materialization, per language key
    // (the null language's chain, or an unkeyed set's one chain, sits
    // under None) — the only chains each round's scan replays
    val pending = scala.collection.mutable.LinkedHashMap
      .empty[Option[String], scala.collection.mutable.ArrayBuffer[(String, String)]]
    def applyPending(s: Column): Column =
      if (keys.isEmpty) bpeApply(s, pending.get(None).toSeq.flatten, merged)
      else pending.foldLeft(s) { case (acc, (l, ms)) =>
        val cond = l.map(v => col("__l") === lit(v)).getOrElse(col("__l").isNull)
        when(cond, bpeApply(s, ms.toSeq, merged)).otherwise(acc)
      }
    try {
      val merges = scala.collection.mutable.ArrayBuffer.empty[(Option[String], Int, String, String)]
      var r = 0
      var exhausted = false
      var sinceRemat = 0
      while (r < numMerges && !exhausted) {
        val best = pick(vocab.select(
          keys :+ bpeSymbols(applyPending(col("__s"))).as("__y") :+ col("__c"): _*)).collect()
        if (best.isEmpty) exhausted = true // every word is one symbol
        else {
          r += 1
          sinceRemat += 1
          best.foreach { row =>
            val l = if (keys.isEmpty) None else Option(row.getString(0))
            val (a, b) = (row.getString(keys.size), row.getString(keys.size + 1))
            merges += ((l, r, a, b))
            pending.getOrElseUpdate(l,
              scala.collection.mutable.ArrayBuffer.empty[(String, String)]) += ((a, b))
          }
          if (sinceRemat >= rematEvery && r < numMerges) {
            // fold the pending chains into the data and TRUNCATE LINEAGE
            // (tracked localCheckpoint, eager): without truncation the
            // logical plan stacks one projection per generation and
            // analyzer cost grows linearly with the merge count — the
            // very thing the re-materialization exists to bound. Same
            // posture as Spark ML's iterative trainers. Checkpoint RDD
            // ids are tracked so each superseded generation is ACTUALLY
            // released (Dataset.unpersist is a CacheManager call — a
            // no-op for localCheckpoint's RDD-level persist).
            val folded = vocab.select(
              keys :+ applyPending(col("__s")).as("__s") :+ col("__c"): _*)
            val (next, nIds) = graft.api.Pinned.checkpointTracked(
              if (prune) folded.where(size(bpeSymbols(col("__s"))) >= 2) else folded)
            vocab.unpersist(blocking = false)
            releaseIds(vocabCpIds); vocabCpIds = nIds
            vocab = next
            pending.clear()
            sinceRemat = 0
          }
        }
      }
      merges.toSeq
    } finally {
      vocab.unpersist(blocking = false)
      releaseIds(vocabCpIds)
      releaseIds(vocab0Ids)
    }
  }

  /** Run `body`, a trainer front's work between its word-count pin `ids`
    * and [[mergeRounds]] (a cap, a conf read), releasing the pin when it
    * throws: the loop's `finally` releases it on every later exit. */
  private[pipeline] def releaseOnFailure[A](spark: org.apache.spark.sql.SparkSession,
                                            ids: Set[Int])(body: => A): A =
    try body
    catch { case e: Throwable => graft.api.Pinned.unpersist(spark, ids); throw e }

  /** Apply learned BPE merges to every document: per-doc subword token
    * count and a portable hash of the token sequence (word order
    * preserved, tokens space-joined). The merge table is a driver-sized
    * artifact ([[trainBpeMerges]]'s contract); application posexplodes
    * the words, rewrites each with the chained codegen'd replaces,
    * groups the pieces by document (one shuffle) and left-joins the
    * result back to the documents, so word-less documents emit (0, 0). */
  def bpeTokenize(docs: org.apache.spark.sql.DataFrame, idCol: String,
                  textCol: String,
                  merges: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val ms = mergeRules(merges)
    val id = col(idCol)
    val toks = spreadForCompute(docs)
      .select(id, posexplode(words(col(textCol))).as(Seq("__pos", "__w")))
      .select(id, col("__pos"),
        bpeSymbols(bpeApply(bpeWrap(col("__w")), ms)).as("__y"))
    val agg = toks.groupBy(id).agg(
      sum(size(col("__y"))).as("__n"),
      polyHash(array_join(transform(
        sort_array(collect_list(struct(col("__pos"), col("__y")))),
        x => array_join(x.getField("__y"), " ")), " ")).as("__h"))
    docs.select(id).join(agg, Seq(idCol), "left")
      .select(id, coalesce(col("__n"), lit(0L)).as("n_bpe_tokens"),
        coalesce(col("__h"), lit(0L)).as("tok_hash"))
  }

  def bpeOutputSchema(idCol: String,
      idType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(idCol, idType),
      StructField("n_bpe_tokens", LongType, nullable = false),
      StructField("tok_hash", LongType, nullable = false)))
  }

  /** Dual-mode [[bpeTokenize]] — apply a FROZEN merge table at ingest
    * (the production tokenizer case: train once, tokenize every arriving
    * document with the shipped artifact). Batch delegates to
    * `bpeTokenize` (the q_bpe_encode oracle face); streaming runs the
    * same chained-replace projection per arriving word and re-assembles
    * per-doc counts + the sequence hash in the stateless per-batch
    * combine — zero state-store rows, no join (the merge table is
    * driver-sized and rides the plan as literals). Word-less documents
    * emit (0, 0) in both modes. */
  def bpeTokenizeIngest(stream: graft.api.MStream,
                        merges: org.apache.spark.sql.DataFrame,
                        idCol: String, textCol: String): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    val df = stream.df
    if (!df.isStreaming)
      return stream.lift(bpeTokenize(df, idCol, textCol, merges))
    val ms = mergeRules(merges)
    val id = col(idCol)
    // word-less docs ride a sentinel (null word) row so they still emit
    val ws = words(col(textCol))
    val u = df
      .select(id.as("__id"), posexplode(
        when(size(ws) >= 1, ws).otherwise(array(lit(null).cast("string"))))
        .as(Seq("__pos", "__w")))
      .select(col("__id"), col("__pos"),
        when(col("__w").isNotNull,
          array_join(bpeSymbols(bpeApply(bpeWrap(col("__w")), ms)), " ")).as("__t"))
    val idType = df.schema(idCol).dataType
    val aggT = StructType(Seq(
      StructField("__id", idType),
      StructField("n_bpe_tokens", LongType, nullable = false),
      StructField("tok_hash", LongType, nullable = false)))
    val aggEnc: Encoder[Row] = RowEncoder.encoderFor(aggT)
    val posIdx = u.schema.fieldIndex("__pos")
    val tIdx = u.schema.fieldIndex("__t")
    val out = graft.streaming.PerBatchCombine(u, Seq("__id"), aggEnc) {
        (key: Row, it: Iterator[Row]) =>
          val rows = it.filter(r => !r.isNullAt(tIdx)).toArray.sortBy(_.getInt(posIdx))
          var n = 0L
          val joined = rows.map { r =>
            val t = r.getString(tIdx)
            n += t.count(_ == ' ') + 1
            t
          }.mkString(" ")
          val h = joined.foldLeft(0L)((a, c) => (a * 31 + c) % P)
          Iterator.single(Row(key.get(0), if (rows.isEmpty) 0L else n,
            if (rows.isEmpty) 0L else h))
      }
      .withColumnRenamed("__id", idCol)
    stream.lift(out)
  }

  /** UTF-8 byte order on strings — Spark's and DuckDB's binary string
    * collation, which Java's UTF-16 `String` order diverges from for
    * [U+E000, U+FFFF] vs supplementary-plane code points. Every
    * driver-side tie-break that an oracle mirrors must use THIS order. */
  private[graft] val Utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      var c = 0
      while (i < n && c == 0) {
        c = (x(i) & 0xff) - (y(i) & 0xff)
        i += 1
      }
      if (c != 0) c else x.length - y.length
    }
  }

  /** BPE tokenization straight to vocabulary IDS — the BPE cell of the
    * tokenizer × output matrix ([[graft.pipeline.Unigram.encodeIds]] is
    * the unigram cell): the id space derives from the MERGE TABLE alone
    * (the shipped artifact — no corpus pass), in the HuggingFace-BPE
    * layout: the in-merge alphabet first (symbols appearing as a merge
    * side but produced by no merge, UTF-8 byte order), then each merge's
    * output in rank order (a string two merges both produce takes its
    * FIRST rank's id once). Pieces outside that vocabulary — characters
    * no merge ever touched — take `oovId`. Adds `as` (array<bigint>); a
    * zero-shuffle stateless projection (chained codegen'd replaces + the
    * [[graft.functions.StrataLookup]] hash table), dual-mode by
    * construction. */
  def bpeEncodeIds(stream: graft.api.MStream,
                   merges: org.apache.spark.sql.DataFrame,
                   textCol: String, oovId: Long = -1L,
                   as: String = "ids"): graft.api.MStream = {
    val df = stream.df
    require(!df.columns.contains(as),
      s"bpeEncodeIds input already carries a '$as' column")
    val ms = collectMerges(merges, "bpeEncodeIds")
    val idOf = hfIdLayout(ms)
    val pieces = flatten(transform(words(col(textCol)),
      w => bpeSymbols(bpeApply(bpeWrap(w), ms))))
    val ids = transform(pieces,
      p => graft.functions.VectorFunctions.strataLookup(p, idOf, oovId))
    stream.lift(spreadForCompute(df).withColumn(as, ids))
  }

  // -------------------------- merges.txt interop (the GPT-2/HF-BPE artifact format)

  /** Export a trained merge table as a HuggingFace-BPE `merges.txt`:
    * the `#version: 0.2` header line, then `lhs rhs` (single space) per
    * line in MERGE RANK order — the file every GPT-2-family checkpoint
    * ships next to its vocab (the BPE analog of [[Arpa]]'s ARPA export
    * and [[Unigram.exportVocab]]'s SentencePiece `.vocab`). Symbols
    * containing whitespace cannot ride the space-separated format and
    * fail by name ([[trainBpeMerges]] never produces them — words are
    * whitespace-split). Paths resolve through Hadoop FS (object stores
    * on a cluster). */
  def bpeExportMerges(merges: org.apache.spark.sql.DataFrame, path: String): Unit = {
    val ms = collectMerges(merges, "bpeExportMerges")
    ms.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty && !(a + b).exists(_.isWhitespace),
        s"bpeExportMerges: rule '$a' + '$b' cannot ride the space-separated format") }
    val spark = merges.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), java.nio.charset.StandardCharsets.UTF_8))
    try {
      w.write("#version: 0.2\n")
      ms.foreach { case (a, b) => w.write(a); w.write(" "); w.write(b); w.write("\n") }
    } finally w.close()
  }

  /** Parse a HuggingFace-BPE `merges.txt` (optional `#version` header,
    * `lhs rhs` per line in rank order — the file next to every
    * GPT-2-family checkpoint, including files this engine never
    * trained) into the (merge_rank, lhs, rhs) frame [[bpeTokenize]] /
    * [[bpeEncodeIds]] accept. Driver-side streaming parse capped at
    * 65536 rules (the merge-table-artifact contract). */
  def bpeImportMerges(spark: org.apache.spark.sql.SparkSession,
                      path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"bpeImportMerges: no merges file at $path")
    val src = scala.io.Source.fromInputStream(fs.open(p))(scala.io.Codec.UTF8)
    val rules = try {
      src.getLines().map(_.stripSuffix("\r")).zipWithIndex
        .filterNot { case (line, i) =>
          (i == 0 && line.startsWith("#version")) || line.isEmpty }
        .map { case (line, i) =>
          val cut = line.indexOf(' ')
          require(cut > 0 && cut < line.length - 1 &&
            line.indexOf(' ', cut + 1) < 0,
            s"bpeImportMerges: malformed line ${i + 1} '$line' (want 'lhs rhs')")
          (line.substring(0, cut), line.substring(cut + 1))
        }.toVector
    } finally src.close()
    require(rules.nonEmpty && rules.length <= 65536,
      s"bpeImportMerges: a merge table is a 1..65536-rule artifact, got ${rules.length}")
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(
      StructField("merge_rank", IntegerType, nullable = false),
      StructField("lhs", StringType, nullable = false),
      StructField("rhs", StringType, nullable = false)))
    val data = rules.zipWithIndex.map { case ((a, b), i) => Row(i + 1, a, b) }
    spark.createDataFrame(new java.util.ArrayList[Row](data.asJava), schema)
  }

  // -------------------------- per-language BPE (one-pass multi-tokenizer training)

  /** Train EVERY language's BPE merge table in ONE pass — the tokenizer
    * analog of the per-language LM matrix (`lmApply`'s language key): the corpus is
    * word-counted ONCE with the language as a key, and each training
    * round runs ONE job that argmaxes the pair statistic PER LANGUAGE
    * (a partial-aggregated (lang, a, b) count + a per-language top-1),
    * so 100 languages cost one round-trip per round, not 100 trainer
    * runs. The rounds run in [[mergeRounds]]: each language's pending
    * chain is one CASE branch, and re-materialization prunes collapsed
    * words as [[trainBpeMerges]]'s does. Each language's merge sequence
    * is IDENTICAL to training [[trainBpeMerges]] on its slice alone
    * (spec-pinned): languages never interact — the key only shares the
    * scan. A language whose
    * words have all collapsed to one symbol stops receiving merges
    * (exhaustion is permanent, so a language's merge in global round r
    * is its rank-r rule in both engines). Modeled-language set capped
    * at 1024 before collecting (the per-language-artifact contract,
    * [[Arpa.arpaExportKnByLang]]'s posture). NULL languages train like
    * any other key and are addressable in [[bpeTokenizeByLang]].
    *
    * Output: (lang, merge_rank, lhs, rhs). */
  def trainBpeMergesByLang(docs: org.apache.spark.sql.DataFrame,
                           langCol: String, textCol: String,
                           numMerges: Int): org.apache.spark.sql.DataFrame = {
    require(numMerges >= 1 && numMerges <= 65536,
      s"numMerges=$numMerges: each merge is one driver-coordinated round " +
        "and the merge tables are driver artifacts; keep <= 65536")
    val spark = docs.sparkSession
    import spark.implicits._
    val (vocab0, vocab0Ids) = graft.api.Pinned.checkpointTracked(docs
      .select(col(langCol).as("__l"), explode(words(col(textCol))).as("__w"))
      .groupBy("__l", "__w").agg(count(lit(1)).as("__c"))
      .select(col("__l"), bpeWrap(col("__w")).as("__s"), col("__c")))
    releaseOnFailure(spark, vocab0Ids) {
      val nLangs = vocab0.select(col("__l")).distinct().limit(1025).count()
      require(nLangs <= 1024,
        s"trainBpeMergesByLang: modeled-language set exceeds the 1024-language " +
          "artifact cap — filter or bucket the language column first")
    }
    mergeRounds(vocab0, vocab0Ids, numMerges, _ + _, prune = true)(
      pairCounts(_)
        .withColumn("__rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("__l"))
            .orderBy(col("__n").desc, col("a"), col("b"))))
        .where(col("__rn") === 1)
        .select(col("__l"), col("a"), col("b")))
      .map { case (l, r, a, b) => (l.orNull, r, a, b) }
      .toDF("lang", "merge_rank", "lhs", "rhs")
  }

  /** Apply each document's OWN language's merge table: per-doc subword
    * count + sequence hash, exactly [[bpeTokenize]] under that
    * language's rules; documents in a language the table does not model
    * emit NULL count and hash (the by-language NULL-verdict convention,
    * [[Arpa.arpaScoreAgainstByLang]]'s posture). Zero-shuffle stateless
    * projection (the bounded language set rides the plan as CASE
    * branches of chained literal replaces), dual-mode by
    * construction. */
  def bpeTokenizeByLang(stream: graft.api.MStream,
                        mergesByLang: org.apache.spark.sql.DataFrame,
                        idCol: String, langCol: String,
                        textCol: String): graft.api.MStream = {
    val df = stream.df
    require(!mergesByLang.isStreaming,
      "bpeTokenizeByLang: the merge tables are a batch artifact")
    Seq("lang", "merge_rank", "lhs", "rhs").foreach(c =>
      require(mergesByLang.columns.contains(c),
        s"bpeTokenizeByLang: merge frame needs a '$c' column, has " +
          mergesByLang.columns.mkString("[", ", ", "]")))
    val rows = mergesByLang
      .select(col("lang"), col("merge_rank"), col("lhs"), col("rhs"))
      .collect().map(r => (Option(r.getString(0)), r.getInt(1),
        r.getString(2), r.getString(3))).toSeq
    require(rows.nonEmpty && rows.length <= 65536,
      s"bpeTokenizeByLang: the merge tables are a 1..65536-rule artifact, got ${rows.length}")
    val byLang: Seq[(Option[String], Seq[(String, String)])] = rows
      .groupBy(_._1).toSeq
      .map { case (l, xs) => l -> xs.sortBy(_._2).map(x => (x._3, x._4)) }
      .sortBy(_._1.map("\u0001" + _).getOrElse("")) // deterministic branch order
    require(byLang.size <= 1024,
      s"bpeTokenizeByLang: ${byLang.size} languages exceed the 1024-language cap")
    def piecesFor(ms: Seq[(String, String)]): Column =
      flatten(transform(words(col(textCol)),
        w => bpeSymbols(bpeApply(bpeWrap(w), ms))))
    val lang = col(langCol)
    val nullCnt = lit(null).cast("long")
    val (nExpr, hExpr) = byLang.foldLeft((nullCnt, nullCnt)) {
      case ((nAcc, hAcc), (l, ms)) =>
        val cond = l.map(v => lang === lit(v)).getOrElse(lang.isNull)
        val ps = piecesFor(ms)
        (when(cond, size(ps).cast("long")).otherwise(nAcc),
          when(cond, polyHash(array_join(ps, " "))).otherwise(hAcc))
    }
    stream.lift(spreadForCompute(df).select(col(idCol),
      nExpr.as("n_bpe_tokens"), hExpr.as("tok_hash")))
  }

  // -------------------------- byte-level BPE (the GPT-2 tokenizer proper)

  /** The GPT-2-style pre-tokenization pattern (Radford et al. 2019),
    * expressed WITHOUT the original's trailing-whitespace lookahead so
    * one pattern means the same thing in Java regex (Spark) and RE2
    * (the DuckDB oracle; RE2 has no lookahead): contraction suffixes,
    * optionally space-prefixed letter / digit / other runs, whitespace
    * runs. Documented deviation: in a MULTI-whitespace run the original
    * splits the last space onto the following word (` `+` word`); this
    * pattern keeps the run whole (`  `+`word`). Single spaces — all of
    * natural text — pre-tokenize identically. The whitespace class is
    * spelled explicitly because Java's `\s` includes U+000B and RE2's
    * does not. */
  val Gpt2PreTokenPattern: String =
    """'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^ \t\n\f\r\x0b\p{L}\p{N}]+|[ \t\n\f\r\x0b]+"""

  /** Pre-tokens of `text` under [[Gpt2PreTokenPattern]], in order; the
    * alternatives cover every character, so concatenating the pre-tokens
    * rebuilds the text exactly. */
  def gpt2PreTokens(text: Column): Column =
    regexp_extract_all(text, lit(Gpt2PreTokenPattern), lit(0))

  /** [[graft.functions.Gpt2Bytes]] as a column: every UTF-8 byte maps
    * to one printable char of the fixed 256-char GPT-2 alphabet
    * (space → Ġ, newline → Ċ). */
  def gpt2Bytes(s: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.Gpt2Bytes(ColumnBridge.expr(s)))
  }

  /** Byte-level BPE merge training — the GPT-2 tokenizer proper (the
    * [[trainBpeMerges]] algorithm over GPT-2's working units): the
    * corpus pre-tokenizes under [[Gpt2PreTokenPattern]] (pre-tokens keep
    * their leading space; merges never cross pre-token boundaries),
    * every pre-token maps through the byte-level alphabet
    * ([[gpt2Bytes]] — so the symbol space is CLOSED at 256 chars and
    * whitespace-free, which is what lets GPT-2 artifacts ride the
    * space-separated `merges.txt` format), and the shared merge-round
    * loop learns `numMerges` rules by raw pair count. Output:
    * (merge_rank, lhs, rhs) in the MAPPED alphabet — exactly the rows a
    * GPT-2 `merges.txt` carries; export with [[bpeExportMerges]].
    *
    * Same scale shape as [[trainBpeMerges]]: one corpus pass builds the
    * distinct-pre-token frequency table, every round is a tiny
    * driver-coordinated job over it. */
  def trainByteBpeMerges(docs: org.apache.spark.sql.DataFrame, textCol: String,
                         numMerges: Int): org.apache.spark.sql.DataFrame = {
    require(numMerges >= 1 && numMerges <= 65536,
      s"numMerges=$numMerges: each merge is one driver-coordinated round " +
        "and the merge table is a driver artifact; keep <= 65536")
    val (vocab0, vocab0Ids) = graft.api.Pinned.checkpointTracked(
      spreadForCompute(docs)
      .select(explode(gpt2PreTokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .select(bpeWrap(gpt2Bytes(col("__w"))).as("__s"), col("__c")))
    bpeMergeTable(vocab0, vocab0Ids, numMerges)
  }

  def byteBpeOutputSchema(idCol: String,
      idType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(idCol, idType),
      StructField("n_bbpe_tokens", LongType, nullable = false),
      StructField("tok_hash", LongType, nullable = false)))
  }

  /** Apply learned byte-level merges to every document: per-doc token
    * count + portable hash of the space-joined token sequence (tokens
    * are whitespace-free by the byte mapping, so the space join is
    * unambiguous). ZERO-SHUFFLE — no explode, no groupBy: the pre-token
    * array, byte mapping and chained merge replaces all run inside one
    * projection per row — so the face is dual-mode by construction
    * (unlike the word-BPE face, which needed a separate streaming
    * combine). Token-less documents (empty text) emit (0, 0). */
  def byteBpeTokenize(stream: graft.api.MStream,
                      merges: org.apache.spark.sql.DataFrame,
                      idCol: String, textCol: String): graft.api.MStream = {
    val df = stream.df
    val ms = collectMerges(merges, "byteBpeTokenize")
    val pieces = flatten(transform(gpt2PreTokens(col(textCol)),
      t => bpeSymbols(bpeApply(bpeWrap(gpt2Bytes(t)), ms))))
    stream.lift(spreadForCompute(df).select(col(idCol),
      size(pieces).cast("long").as("n_bbpe_tokens"),
      polyHash(array_join(pieces, " ")).as("tok_hash")))
  }

  /** Byte-level BPE tokenization straight to vocabulary IDS — the
    * GPT-2 cell of the tokenizer × output matrix: the id space derives
    * from the merge table alone in the HuggingFace layout
    * ([[bpeEncodeIds]]'s convention: in-merge alphabet in UTF-8 byte
    * order, then merge outputs by first rank); pieces outside it —
    * bytes no merge ever touched — take `oovId`. Adds `as`
    * (array<bigint>); zero-shuffle stateless projection, dual-mode by
    * construction. */
  def byteBpeEncodeIds(stream: graft.api.MStream,
                       merges: org.apache.spark.sql.DataFrame,
                       textCol: String, oovId: Long = -1L,
                       as: String = "ids"): graft.api.MStream = {
    val df = stream.df
    require(!df.columns.contains(as),
      s"byteBpeEncodeIds input already carries a '$as' column")
    val ms = collectMerges(merges, "byteBpeEncodeIds")
    val idOf = hfIdLayout(ms)
    val pieces = flatten(transform(gpt2PreTokens(col(textCol)),
      t => bpeSymbols(bpeApply(bpeWrap(gpt2Bytes(t)), ms))))
    val ids = transform(pieces,
      p => graft.functions.VectorFunctions.strataLookup(p, idOf, oovId))
    stream.lift(spreadForCompute(df).withColumn(as, ids))
  }

  /** The canonical GPT-2 vocab layout derived from a merge table: the
    * full 256-character byte alphabet sorted by code point (ids 0..255
    * — exactly the published GPT-2 `vocab.json` head), then each
    * merge's output in rank order (a string two merges both produce
    * keeps its first rank). Outputs have >= 2 chars so they never
    * collide with the alphabet; ids stay dense. */
  private def byteBpeVocabLayout(ms: Seq[(String, String)]): Seq[String] =
    (graft.functions.Gpt2Bytes.ByteToChar.map(_.toString).toSeq.sorted(Utf8Ordering) ++
      ms.map { case (a, b) => a + b }).distinct

  /** Export the GPT-2 `vocab.json` half of the artifact pair (the
    * other half is [[bpeExportMerges]]'s `merges.txt`): a JSON object
    * mapping token -> id in the canonical layout — the 256-char byte
    * alphabet by code point, then merge outputs by rank — rendered in
    * id order so re-export is byte-identical. Paths resolve through
    * Hadoop FS (object stores on a cluster). */
  def byteBpeExportVocabJson(merges: org.apache.spark.sql.DataFrame,
                             path: String): Unit = {
    import org.json4s.jackson.JsonMethods
    import org.json4s.JObject
    val ms = collectMerges(merges, "byteBpeExportVocabJson")
    val fields = byteBpeVocabLayout(ms).zipWithIndex
      .map { case (piece, i) => piece -> org.json4s.JInt(i) }
    val json = JsonMethods.compact(JsonMethods.render(JObject(fields: _*)))
    val spark = merges.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), java.nio.charset.StandardCharsets.UTF_8))
    try w.write(json) finally w.close()
  }

  /** Parse a GPT-2-style `vocab.json` (a JSON object token -> integer
    * id — the file next to every GPT-2-family checkpoint, including
    * files this engine never trained) into a (piece, gpt_id) frame for
    * [[byteBpeEncodeIdsImported]]. Driver-side parse capped at 65536
    * entries; duplicate ids fail by name (two tokens cannot share an
    * id). */
  def byteBpeImportVocabJson(spark: org.apache.spark.sql.SparkSession,
                             path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.json4s.jackson.JsonMethods
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"byteBpeImportVocabJson: no vocab file at $path")
    val src = scala.io.Source.fromInputStream(fs.open(p))(scala.io.Codec.UTF8)
    val text = try src.mkString finally src.close()
    val obj = JsonMethods.parse(text) match {
      case o: org.json4s.JObject => o.obj
      case _ => throw new IllegalArgumentException(
        s"byteBpeImportVocabJson: $path is not a JSON object (token -> id)")
    }
    val rows = obj.map {
      case (piece, org.json4s.JInt(i)) => (piece, i.toLong)
      case (piece, other) => throw new IllegalArgumentException(
        s"byteBpeImportVocabJson: token '$piece' has a non-integer id $other")
    }
    require(rows.nonEmpty && rows.length <= 65536,
      s"byteBpeImportVocabJson: a vocabulary is a 1..65536-entry artifact, got ${rows.length}")
    val dupP = rows.groupBy(_._1).collectFirst { case (x, xs) if xs.size > 1 => x }
    require(dupP.isEmpty, s"byteBpeImportVocabJson: token '${dupP.get}' appears twice")
    val dupI = rows.groupBy(_._2).collectFirst { case (x, xs) if xs.size > 1 => x }
    require(dupI.isEmpty, s"byteBpeImportVocabJson: id ${dupI.get} assigned twice")
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("piece", StringType, nullable = false),
      StructField("gpt_id", LongType, nullable = false)))
    val data = rows.map { case (piece, i) => Row(piece, i) }
    spark.createDataFrame(new java.util.ArrayList[Row](data.asJava), schema)
  }

  /** Byte-level BPE tokenization to a FOREIGN vocab.json's OWN ids:
    * apply the merge table ([[byteBpeEncodeIds]]'s chain), then map
    * each piece through the imported (piece, gpt_id) frame — the id a
    * GPT-2-checkpoint-targeting pipeline must feed the model; pieces
    * outside the file take `oovId`. Zero-shuffle stateless projection,
    * dual-mode by construction. */
  def byteBpeEncodeIdsImported(stream: graft.api.MStream,
                               merges: org.apache.spark.sql.DataFrame,
                               vocab: org.apache.spark.sql.DataFrame,
                               textCol: String, oovId: Long = -1L,
                               as: String = "ids"): graft.api.MStream = {
    val df = stream.df
    require(!df.columns.contains(as),
      s"byteBpeEncodeIdsImported input already carries a '$as' column")
    require(!vocab.isStreaming,
      "byteBpeEncodeIdsImported: the vocabulary is a batch artifact")
    val ms = collectMerges(merges, "byteBpeEncodeIdsImported")
    Seq("piece", "gpt_id").foreach(c => require(vocab.columns.contains(c),
      s"byteBpeEncodeIdsImported: vocabulary frame needs a '$c' column, has " +
        vocab.columns.mkString("[", ", ", "]")))
    val rows = vocab.select(col("piece"), col("gpt_id").cast("long"))
      .limit(65537).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    require(rows.nonEmpty && rows.length <= 65536,
      s"byteBpeEncodeIdsImported: a vocabulary is a 1..65536-entry artifact, got ${rows.length}")
    val idOf = rows.toMap
    require(idOf.size == rows.length,
      "byteBpeEncodeIdsImported: duplicate pieces in the vocabulary frame")
    val pieces = flatten(transform(gpt2PreTokens(col(textCol)),
      t => bpeSymbols(bpeApply(bpeWrap(gpt2Bytes(t)), ms))))
    val ids = transform(pieces,
      p => graft.functions.VectorFunctions.strataLookup(p, idOf, oovId))
    stream.lift(spreadForCompute(df).withColumn(as, ids))
  }

  /** Collect + validate a (merge_rank, lhs, rhs) merge table — the
    * shared BPE-artifact contract (trained or imported). */
  private def collectMerges(merges: org.apache.spark.sql.DataFrame,
                            label: String): Seq[(String, String)] = {
    require(!merges.isStreaming, s"$label: the merge table is a batch artifact")
    val ms = mergeRules(merges)
    require(ms.nonEmpty && ms.length <= 65536,
      s"$label: the merge table must be a 1..65536-rule artifact, got ${ms.length}")
    ms
  }

  /** A (merge_rank, lhs, rhs) table's rules in rank order, unchecked —
    * [[bpeTokenize]] and [[bpeTokenizeIngest]] accept any such table. */
  private def mergeRules(merges: org.apache.spark.sql.DataFrame): Seq[(String, String)] =
    merges.select(col("merge_rank"), col("lhs"), col("rhs"))
      .collect().sortBy(_.getInt(0)).map(r => (r.getString(1), r.getString(2))).toSeq

  /** The HuggingFace-BPE id layout of a merge table, the id space of
    * [[bpeEncodeIds]] (which spells it out) and [[byteBpeEncodeIds]]. */
  private def hfIdLayout(ms: Seq[(String, String)]): Map[String, Long] = {
    val outs = ms.map { case (a, b) => a + b }
    val atoms = ms.flatMap { case (a, b) => Seq(a, b) }.distinct
      .filterNot(outs.toSet).sorted(Utf8Ordering)
    (atoms ++ outs).distinct.zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap
  }

  /** Token-frequency annotation against a REFERENCE corpus sketch: one
    * pass over the reference folds every token into a count–min sketch
    * ([[graft.functions.CountMinAgg]]); the collected d×w table — the
    * model artifact, 8·d·w bytes — embeds into the scoring expressions
    * as a LITERAL, so annotating a document is a pure zero-shuffle
    * projection: per token, `est` = the sketch's upper-bound count in
    * the reference; per document, the rarest token's estimate and how
    * many tokens fall at or under `rareMax` (a hapax/garbage signal —
    * docs full of reference-unseen tokens are OOD for the corpus the
    * reference models). All outputs are integers — no float rounding in
    * the oracle contract.
    *
    * Dual-mode: batch groups per doc (q_token_freq carries the oracle);
    * streaming folds in the stateless per-batch combine — zero
    * state-store rows, no broadcast join either (the model rides the
    * plan as a literal). Token-less documents emit (0, NULL, 0) in both
    * modes. */
  def tokenFreqOutputSchema(idCol: String,
      idType: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(StructField(idCol, idType),
      StructField("n_tokens", LongType, nullable = false),
      StructField("min_est", LongType),
      StructField("n_rare", LongType, nullable = false)))
  }

  def tokenFrequencyStats(stream: graft.api.MStream,
                          refDocs: org.apache.spark.sql.DataFrame,
                          idCol: String, textCol: String, refTextCol: String,
                          depth: Int = 4, width: Int = 2048,
                          rareMax: Long = 2L): graft.api.MStream = {
    import org.apache.spark.sql.{Encoder, Row}
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types._
    require(rareMax >= 0, s"rareMax must be non-negative, got $rareMax")
    // the model embeds in the PLAN as a literal array — size it for a
    // plan, not an executor heap; a bigger sketch should broadcast-join
    // a (bucket, count) table instead (the dsirScore shape)
    require(depth.toLong * width <= (1 << 16),
      s"tokenFrequencyStats keeps the $depth x $width sketch as a plan literal; " +
        "beyond 64K cells route the model through a broadcast join instead")
    val df = stream.df
    val vf = graft.functions.VectorFunctions
    val skRow = refDocs
      .select(explode(words(col(refTextCol))).as("__w"))
      .select(vf.polyHashNative(col("__w")).as("__h"))
      .agg(vf.countMin(col("__h"), depth, width).as("sk"), count(lit(1)).as("n"))
      .head()
    require(skRow.getLong(1) > 0,
      "tokenFrequencyStats: the reference corpus yields no tokens")
    val skLit = typedLit(skRow.getSeq[Long](0))
    val id = col(idCol)
    val est = vf.countMinEstimate(skLit, col("__h"), depth, width)
    def outCols(n: Column, mn: Column, rare: Column): Seq[Column] = Seq(
      coalesce(n, lit(0L)).as("n_tokens"), mn.as("min_est"),
      coalesce(rare, lit(0L)).as("n_rare"))

    if (!df.isStreaming) {
      val toks = df
        .select(id, explode(words(col(textCol))).as("__w"))
        .select(id, vf.polyHashNative(col("__w")).as("__h"))
        .select(id, est.as("__e"))
      val agg = toks.groupBy(id).agg(count(lit(1)).as("__n"),
        min(col("__e")).as("__mn"),
        sum(when(col("__e") <= rareMax, 1L).otherwise(0L)).as("__r"))
      val out = df.select(id).join(agg, Seq(idCol), "left")
        .select(id +: outCols(col("__n"), col("__mn"), col("__r")): _*)
      return stream.lift(out)
    }

    // streaming: token-less docs ride a sentinel (null-hash) row; the
    // fold skips sentinels. No join, no state — literal-model projection.
    val ws = words(col(textCol))
    val u = df
      .select(id.as("__id"),
        explode(when(size(ws) >= 1, transform(ws, w => vf.polyHashNative(w)))
          .otherwise(array(lit(null).cast("long")))).as("__h"))
      .select(col("__id"), when(col("__h").isNotNull, est).as("__e"))
    val idType = df.schema(idCol).dataType
    val aggT = StructType(Seq(
      StructField("__id", idType),
      StructField("n_tokens", LongType, nullable = false),
      StructField("min_est", LongType),
      StructField("n_rare", LongType, nullable = false)))
    val aggEnc: Encoder[Row] = RowEncoder.encoderFor(aggT)
    val eIdx = u.schema.fieldIndex("__e")
    val rm = rareMax
    val out = graft.streaming.PerBatchCombine(u, Seq("__id"), aggEnc) {
        (key: Row, it: Iterator[Row]) =>
          var n = 0L; var mn = Long.MaxValue; var rare = 0L
          it.foreach { r =>
            if (!r.isNullAt(eIdx)) {
              val e = r.getLong(eIdx)
              n += 1; if (e < mn) mn = e; if (e <= rm) rare += 1
            }
          }
          Iterator.single(Row(key.get(0), n, if (n > 0) mn else null, rare))
      }
      .select(col("__id").as(idCol) +:
        outCols(col("n_tokens"), col("min_est"), col("n_rare")): _*)
    stream.lift(out)
  }

  /** Heavy hitters via a count–min sketch (Cormode & Muthukrishnan 2005):
    * tokens whose estimated frequency is at least `1/minFracInv` of the
    * corpus token count. Two passes, both cluster-shaped: (1) fold every
    * token into ONE fixed d×w sketch ([[graft.functions.CountMinAgg]] —
    * map-side partials, the shuffle carries one table per partition);
    * (2) score candidate tokens against the broadcast sketch and keep
    * `estimate * minFracInv >= N` (integer arithmetic — no float
    * threshold to disagree across engines). Estimates are CMS upper
    * bounds: a token within εN of the line can surface though its exact
    * count is below it — that is the sketch's contract, deterministic
    * and mirrored cell-for-cell by the oracle.
    *
    * Candidates here are the distinct vocabulary (one extra shuffle,
    * bounded by vocabulary size, NOT corpus size). At 100 TB the sketch
    * is the artifact: build once, broadcast, point-query arriving items
    * with [[graft.functions.VectorFunctions.countMinEstimate]] — no
    * vocabulary pass needed for the query side. */
  def heavyHitters(docs: org.apache.spark.sql.DataFrame, textCol: String,
                   depth: Int = 4, width: Int = 2048,
                   minFracInv: Long = 1000): org.apache.spark.sql.DataFrame = {
    require(minFracInv >= 1, s"heavyHitters needs minFracInv >= 1, got $minFracInv")
    val vf = graft.functions.VectorFunctions
    val toks = docs
      .select(explode(words(col(textCol))).as("word"))
      .select(col("word"), vf.polyHashNative(col("word")).as("__h"))
    val sk = toks.agg(vf.countMin(col("__h"), depth, width).as("__sk"),
      count(lit(1)).as("__n"))
    toks.distinct()
      .crossJoin(broadcast(sk))
      .withColumn("est", vf.countMinEstimate(col("__sk"), col("__h"), depth, width))
      .where(col("est") * minFracInv >= col("__n"))
      .select(col("word"), col("est"))
  }
}
