package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Arpa, Dedup, Multimodal, Similarity, TextOps}
import graft.pipeline.TextOps.{LmRef, LmSpec}
import graft.sources.Tables

/** A temporary-directory root that a JVM shutdown hook deletes with
  * everything under it; [[dir]] makes a fresh directory under it. */
private[graft] final class ScratchRoot(prefix: String) {
  lazy val root: java.nio.file.Path = {
    val r = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook(delete())
    r
  }
  def dir(name: String): java.nio.file.Path = java.nio.file.Files.createTempDirectory(root, name)
  /** The shutdown hook's body: delete the root recursively. */
  def delete(): Unit = graft.streaming.LocalCheckpointFileManager.deleteLocal(root)
}

/**
 * Training-data-pipeline operators (dedup, similarity search, text
 * analysis, multimodal) as driver-checkable queries over the `documents`
 * and `embeddings` tables. Oracles reproduce the same computation
 * independently in DuckDB (portable polynomial hashes make the hash-based
 * operators engine-reproducible); the MinHash oracle is the *all-pairs
 * ground truth*, so a match also proves the LSH pipeline achieves full
 * recall on this corpus.
 */
object QueriesPipeline {

  /** Where the artifact queries write the files they read back (ARPA
    * models, vocab and merge files, saved artifacts): a fresh directory
    * per call under one root per JVM, deleted when the JVM exits. The
    * frames they return read those files lazily, so no query can delete
    * its own directory sooner. */
  private[graft] val scratch = new ScratchRoot("graft_queries")

  private val PolyFold =
    "list_reduce([0] || [ord(c)::BIGINT for c in string_split(%s, '')], (a, c) -> (a * 31 + c) %% 1000000007)"

  /** The MinHash/LSH candidate-pair CTE chain (words → shingles → hashes
    * → signatures → bands → `cand(id_a, id_b)`), shared by every oracle
    * that mirrors `Dedup.lshCandidates` — ONE generator, so the mirrors
    * cannot drift from each other (or from the Spark hash constants). */
  private def minhashCandidateCtes(k: Int, bands: Int,
                                   pairCond: String = "a.doc_id < b.doc_id"): String = {
    val rows = k / bands
    val mins = (0 until k).map(j =>
      s"min((h * ${2 * j + 1} + ${12345 * j + 7}) % 1000000007) AS mh$j").mkString(", ")
    val bandRows = (0 until bands).map { b =>
      val bv = (0 until rows).map(r => s"mh${b * rows + r}").reduce((x, y) => s"($x * 31 + $y)")
      s"SELECT doc_id, $b AS band, $bv AS bv FROM sig"
    }.mkString(" UNION ALL ")
    s"""words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        shex AS (SELECT doc_id, unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                                      for i in range(1, len(w) - 1)])) AS s
                 FROM words),
        h AS (SELECT doc_id, list_reduce([0] || [ord(c)::BIGINT for c in string_split(s, '')],
                                         (a, c) -> (a * 31 + c) % 1000000007) AS h FROM shex),
        sig AS (SELECT doc_id, $mins FROM h GROUP BY doc_id),
        bands AS ($bandRows),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
                                          AND $pairCond)"""
  }

  /** Exact dedup: representative id + copy count per identical text. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir).df, "doc_id", "text")
      .select("keep_id", "n_copies")

  val qDedupExactSql: String =
    "SELECT min(doc_id) AS keep_id, count(*) AS n_copies FROM documents GROUP BY text"

  /** MinHash+LSH near-dup: 16 hashes, 8 bands of 2 rows (99.97% recall at
    * the 0.8 threshold — 4 bands of 4 missed a borderline j=0.800 pair at
    * sf0.1), Jaccard-verified candidates. The oracle reproduces the SAME
    * LSH pipeline independently in DuckDB SQL — minhashes, banding,
    * candidate join, verification — so the check is deterministic at every
    * scale factor; all-pairs recall is covered separately by the sf0.01
    * data (where LSH output equals all-pairs truth) and BatchApiSpec. */
  def qMinhashDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDup(Tables.documents(spark, dir).df, "doc_id", "text",
      k = 16, bands = 8, threshold = 0.8)

  val qMinhashDedupSql: String =
    s"""WITH ${minhashCandidateCtes(16, 8)},
        sets AS (SELECT doc_id, list_distinct(list(h)) AS sh FROM h GROUP BY doc_id)
        SELECT id_a, id_b, round(j, 3) AS jaccard FROM (
          SELECT id_a, id_b, len(list_intersect(x.sh, y.sh))::DOUBLE
                             / len(list_distinct(list_concat(x.sh, y.sh))) AS j
          FROM cand JOIN sets x ON x.doc_id = id_a JOIN sets y ON y.doc_id = id_b)
        WHERE j >= 0.8"""

  /** Cross-corpus near-dup: every third doc plays the fresh-crawl role,
    * the rest the existing training set; new docs resembling any ref doc
    * at >= 0.8 are flagged. The oracle computes signatures/bands over the
    * whole table once and applies the SAME side split in the pair join. */
  def qCrossDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    Dedup.crossCorpusNearDup(
      docs.where(col("doc_id") % 3 === 0), docs.where(col("doc_id") % 3 =!= 0),
      "doc_id", "text", k = 16, bands = 8, threshold = 0.8)
  }

  val qCrossDedupSql: String =
    s"""WITH ${minhashCandidateCtes(16, 8,
          pairCond = "a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0")},
        sets AS (SELECT doc_id, list_distinct(list(h)) AS sh FROM h GROUP BY doc_id)
        SELECT id_a AS id_new, id_b AS id_ref, round(j, 3) AS jaccard FROM (
          SELECT id_a, id_b, len(list_intersect(x.sh, y.sh))::DOUBLE
                             / len(list_distinct(list_concat(x.sh, y.sh))) AS j
          FROM cand JOIN sets x ON x.doc_id = id_a JOIN sets y ON y.doc_id = id_b)
        WHERE j >= 0.8"""

  /** Cross-corpus ingest dedup, batch face (the streaming face is pinned
    * equal by CrossCorpusSpec): documents of the arriving slice
    * (doc_id % 3 = 0) that survive near-dup screening against the
    * reference corpus (doc_id % 3 <> 0) at the same 16/8/0.8 pipeline as
    * q_cross_dedup — survivors = arriving minus verified matches. */
  def qCrossIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    Dedup.dedupAgainstCorpus(
      graft.api.MStream(docs.where(col("doc_id") % 3 === 0)),
      docs.where(col("doc_id") % 3 =!= 0),
      "doc_id", "text", k = 16, bands = 8, threshold = 0.8)
      .df.select(col("doc_id"), col("source"), col("n_chars"))
  }

  val qCrossIngestSql: String =
    s"""WITH ${minhashCandidateCtes(16, 8,
          pairCond = "a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0")},
        sets AS (SELECT doc_id, list_distinct(list(h)) AS sh FROM h GROUP BY doc_id),
        matched AS (SELECT DISTINCT id_a FROM (
          SELECT id_a, len(list_intersect(x.sh, y.sh))::DOUBLE
                      / len(list_distinct(list_concat(x.sh, y.sh))) AS j
          FROM cand JOIN sets x ON x.doc_id = id_a JOIN sets y ON y.doc_id = id_b)
          WHERE j >= 0.8)
        SELECT doc_id, source, n_chars FROM documents
        WHERE doc_id % 3 = 0 AND doc_id NOT IN (SELECT id_a FROM matched)"""

  /** Gopher quality-rule gate (Rae et al. 2021 §A1.1) over the documents
    * corpus at the published thresholds: per-rule boolean flags plus the
    * conjunction. Every ratio test is integer cross-multiplication on
    * both sides, so there is no float rounding contract at all. */
  def qGopher(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.TextOps.gopherRules(
      Tables.documents(spark, dir).df, "doc_id", "text")

  val qGopherSql: String =
    """WITH base AS (
         SELECT doc_id,
           list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '') AS ws,
           string_split(text, chr(10)) AS ls, text AS t
         FROM documents),
       stats AS (
         SELECT doc_id,
           len(ws) AS nw,
           coalesce(list_sum(list_transform(ws, w -> length(w))), 0) AS chars,
           length(t) - length(replace(t, '#', '')) AS hashes,
           ((length(t) - length(replace(t, '...', ''))) / 3)::BIGINT
             + (length(t) - length(replace(t, '…', ''))) AS ellipses,
           len(ls) AS nl,
           len(list_filter(ls, l -> substr(ltrim(l), 1, 1) IN ('•','‣','▪','-','*'))) AS bullet_lines,
           len(list_filter(ls, l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…'))) AS ell_lines,
           len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
           list_contains(list_transform(ws, w -> lower(w)), 'the')::INT
             + list_contains(list_transform(ws, w -> lower(w)), 'be')::INT
             + list_contains(list_transform(ws, w -> lower(w)), 'to')::INT
             + list_contains(list_transform(ws, w -> lower(w)), 'of')::INT
             + list_contains(list_transform(ws, w -> lower(w)), 'and')::INT
             + list_contains(list_transform(ws, w -> lower(w)), 'that')::INT
             + list_contains(list_transform(ws, w -> lower(w)), 'have')::INT
             + list_contains(list_transform(ws, w -> lower(w)), 'with')::INT AS stops
         FROM base),
       flags AS (
         SELECT doc_id, coalesce(nw, 0)::BIGINT AS n_words,
           coalesce(nw >= 50 AND nw <= 100000, false) AS ok_words,
           coalesce(nw > 0 AND chars >= 3*nw AND chars <= 10*nw, false) AS ok_word_len,
           coalesce(nw > 0 AND 10*hashes <= nw AND 10*ellipses <= nw, false) AS ok_symbols,
           coalesce(10*bullet_lines <= 9*nl, false) AS ok_bullets,
           coalesce(10*ell_lines <= 3*nl, false) AS ok_ellipses,
           coalesce(nw > 0 AND 5*alpha_words >= 4*nw, false) AS ok_alpha,
           coalesce(stops >= 2, false) AS ok_stopwords
         FROM stats)
       SELECT *, (ok_words AND ok_word_len AND ok_symbols AND ok_bullets
         AND ok_ellipses AND ok_alpha AND ok_stopwords) AS keep
       FROM flags"""

  /** Exact cross-corpus dedup at ingest, batch face (the streaming face
    * and the Bloom prune are pinned by BloomSpec): the corpus has no
    * natural exact duplicates, so the arriving slice is the fresh third
    * PLUS literal copies of every 7th reference text under fresh ids —
    * those copies, and only those, must drop. The Bloom screen is
    * semantics-free by construction (false positives re-checked exactly),
    * so the oracle is the plain text-equality anti-join. */
  def qExactIngest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.where(col("doc_id") % 3 =!= 0)
    val copies = ref.where(col("doc_id") % 7 === 1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    val arrivals = docs.where(col("doc_id") % 3 === 0).unionByName(copies)
    Dedup.exactDedupAgainstCorpus(graft.api.MStream(arrivals), ref, "doc_id", "text")
      .df.select(col("doc_id"), col("source"), col("n_chars"))
  }

  val qExactIngestSql: String =
    """WITH ref AS (SELECT * FROM documents WHERE doc_id % 3 <> 0),
       arrivals AS (
         SELECT doc_id, text, source, n_chars FROM documents WHERE doc_id % 3 = 0
         UNION ALL
         SELECT doc_id + 1000000, text, source, n_chars FROM ref WHERE doc_id % 7 = 1)
       SELECT doc_id, source, n_chars FROM arrivals a
       WHERE NOT EXISTS (SELECT 1 FROM ref r WHERE r.text = a.text)"""

  /** The round-8 flagship ingest pipeline (quality gate → cross-corpus
    * dedup → fixed-vocab encode) shipped AS AN ARTIFACT: the pipeline is
    * composed on the recording surface (`Program.Rec`), captured to a
    * version-2 JSON document, schema-validated against the bound sources,
    * and executed through `App.runProgram` — the reference's
    * program-as-data deployment story
    * (`application/ApplicationInstance.scala:27`,
    * `tools/CompileApplicationInstance.scala:28`) carrying pipeline
    * operators, hash-verified against DuckDB end-to-end. */
  def qIngestProgram(spark: SparkSession, dir: String): DataFrame = {
    import graft.api.{App, MStream, Program}
    import spark.implicits._
    val vocab = Seq("the" -> 0L, "of" -> 1L, "and" -> 2L, "to" -> 3L,
      "a" -> 4L, "in" -> 5L, "is" -> 6L, "for" -> 7L).toDF("word", "id")
    val docs = Program.Rec.external("documents", Tables.documents(spark, dir))
    val vocabR = Program.Rec.external("vocab", MStream(vocab))
    val piped = docs.where("doc_id % 3 = 0 AND n_chars >= 100").as("gated")
      .corpusDedup(docs.where("doc_id % 3 <> 0").as("refside"),
        "doc_id", "text", k = 16, bands = 8, threshold = 0.8)
      .encodeIngest(vocabR, "doc_id", "text")
      .map("doc_id" -> "doc_id",
        "cast(size(ids) as bigint)" -> "n_tokens",
        "n_oov" -> "n_oov",
        "aggregate(ids, cast(0 as bigint), (a, x) -> a + x)" -> "id_checksum",
        "element_at(ids, 1)" -> "first_id").as("out")
    val programJson = Program.toJson(Program.capture(piped))
    val config = new App.Config()
      .setSource("documents", App.Source(
        format = "parquet", path = Some(s"$dir/documents.parquet")))
      .setSource("vocab", App.Source(format = "rows", rows = Some(vocab)))
      .addSink("out", App.Sink(format = "memory"))
    // full artifact hygiene: the shipped JSON also passes load-time +
    // schema validation against the bound sources before running
    Program.validate(Program.fromJson(programJson), spark, config)
    App.runProgram(spark, config, programJson)
      .collectFirst { case App.BatchOutput("out", out) => out }.get
  }

  val qIngestProgramSql: String =
    s"""WITH ${minhashCandidateCtes(16, 8,
          pairCond = "a.doc_id % 3 = 0 AND b.doc_id % 3 <> 0")},
        sets AS (SELECT doc_id, list_distinct(list(h)) AS sh FROM h GROUP BY doc_id),
        matched AS (SELECT DISTINCT id_a FROM (
          SELECT id_a, len(list_intersect(x.sh, y.sh))::DOUBLE
                      / len(list_distinct(list_concat(x.sh, y.sh))) AS j
          FROM cand JOIN sets x ON x.doc_id = id_a JOIN sets y ON y.doc_id = id_b)
          WHERE j >= 0.8),
        surv AS (SELECT doc_id, text FROM documents
                 WHERE doc_id % 3 = 0 AND n_chars >= 100
                   AND doc_id NOT IN (SELECT id_a FROM matched)),
        v(w, id) AS (VALUES ('the', 0), ('of', 1), ('and', 2), ('to', 3),
                            ('a', 4), ('in', 5), ('is', 6), ('for', 7)),
        t AS (SELECT doc_id, t.i AS pos, w[t.i] AS word
              FROM (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM surv),
                   LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t),
        e AS (SELECT t.doc_id, t.pos, coalesce(v.id, -1) AS id
              FROM t LEFT JOIN v ON t.word = v.w)
        SELECT doc_id, count(*)::BIGINT AS n_tokens,
               sum(CASE WHEN id = -1 THEN 1 ELSE 0 END)::BIGINT AS n_oov,
               sum(id)::BIGINT AS id_checksum,
               arg_min(id, pos)::BIGINT AS first_id
        FROM e GROUP BY doc_id"""

  /** Fuzzy dedup: LSH-blocked edit-distance pairs (<= 20 edits). Shares
    * the qMinhashDedup candidate mirror; verification is DuckDB's full
    * levenshtein vs Spark's threshold-capped one — equal wherever the
    * distance is within the cap. */
  def qEditDist(spark: SparkSession, dir: String): DataFrame =
    Dedup.editDistanceNearDup(Tables.documents(spark, dir).df, "doc_id", "text",
      k = 16, bands = 8, maxDist = 20)

  val qEditDistSql: String =
    s"""WITH ${minhashCandidateCtes(16, 8)}
        SELECT id_a, id_b, d AS dist FROM (
          SELECT id_a, id_b, levenshtein(x.text, y.text) AS d
          FROM cand JOIN documents x ON x.doc_id = id_a
                    JOIN documents y ON y.doc_id = id_b)
        WHERE d <= 20"""

  /** Containment pairs: asymmetric shingle-set containment over the same
    * LSH candidates — catches "small doc copied inside a larger one"
    * (threshold 0.9 on either direction). Shares the candidate CTE
    * generator with the MinHash mirrors. */
  def qContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentNearDup(Tables.documents(spark, dir).df, "doc_id", "text",
      k = 16, bands = 8, threshold = 0.9)

  val qContainmentSql: String =
    s"""WITH ${minhashCandidateCtes(16, 8)},
        sets AS (SELECT doc_id, list_distinct(list(h)) AS sh FROM h GROUP BY doc_id)
        SELECT id_a, id_b, ca AS containment_a, cb AS containment_b FROM (
          SELECT id_a, id_b,
            round(len(list_intersect(x.sh, y.sh))::DOUBLE / len(x.sh), 3) AS ca,
            round(len(list_intersect(x.sh, y.sh))::DOUBLE / len(y.sh), 3) AS cb
          FROM cand JOIN sets x ON x.doc_id = id_a JOIN sets y ON y.doc_id = id_b)
        WHERE ca >= 0.9 OR cb >= 0.9"""

  /** Duplicate clusters: MinHash+LSH near-dup pairs folded into connected
    * components (large-star/small-star), each doc labeled with its cluster
    * representative — the pairwise→decision step of a real dedup pipeline.
    * The oracle reproduces the pair list with the same LSH SQL, then
    * resolves components with a recursive min-label propagation CTE (an
    * independent algorithm — a match checks the clustering semantics, not
    * our iteration schedule). */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.minhashNearDup(Tables.documents(spark, dir).df, "doc_id", "text",
      k = 16, bands = 8, threshold = 0.8)
    Dedup.connectedComponents(pairs, "id_a", "id_b", nodeOut = "doc_id")
  }

  val qDedupClustersSql: String =
    s"""WITH RECURSIVE pairs AS ($qMinhashDedupSql),
        edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(node, label) AS (
          SELECT u, u FROM edges
          UNION
          SELECT e.v, cc.label FROM cc JOIN edges e ON cc.node = e.u)
        SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node"""

  /** Surviving corpus after end-to-end dedup (exact + near, transitive). */
  def qDedupCorpus(spark: SparkSession, dir: String): DataFrame =
    Dedup.deduplicateCorpus(Tables.documents(spark, dir).df, "doc_id", "text",
      k = 16, bands = 8, threshold = 0.8)

  /** The exact-pair + LSH-pair + recursive-CC cluster CTEs shared by the
    * corpus-dedup oracles — ONE fragment, mirroring the Scala side's
    * shared `Dedup.corpusClusters`, so the keep-min and keep-best mirrors
    * cannot drift from each other. */
  private val corpusClusterCtes: String =
    s"""mpairs AS ($qMinhashDedupSql),
        epairs AS (SELECT keep AS id_a, doc_id AS id_b FROM (
            SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS keep FROM documents)
          WHERE doc_id <> keep),
        pairs AS (SELECT id_a, id_b FROM mpairs UNION SELECT id_a, id_b FROM epairs),
        edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(node, label) AS (
          SELECT u, u FROM edges
          UNION
          SELECT e.v, cc.label FROM cc JOIN edges e ON cc.node = e.u)"""

  val qDedupCorpusSql: String =
    s"""WITH RECURSIVE $corpusClusterCtes,
        dropped AS (SELECT node FROM (SELECT node, min(label) AS l FROM cc GROUP BY node)
                    WHERE l <> node)
        SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT node FROM dropped)"""

  /** Keep-BEST corpus dedup: same clustering as q_dedup_corpus, but each
    * cluster's survivor maximizes n_chars (ties → the lower doc_id) — the
    * curation semantic keeping the longest representative of a near-dup
    * family. The oracle re-derives the clusters recursively and elects
    * per-cluster via the same (score desc, id asc) total order. */
  def qDedupKeepBest(spark: SparkSession, dir: String): DataFrame =
    Dedup.deduplicateCorpusKeepBest(Tables.documents(spark, dir).df,
      "doc_id", "text", k = 16, bands = 8, threshold = 0.8,
      scoreCol = col("n_chars"))

  val qDedupKeepBestSql: String =
    s"""WITH RECURSIVE $corpusClusterCtes,
        labels AS (SELECT node, min(label) AS lbl FROM cc GROUP BY node),
        whole AS (SELECT d.doc_id, coalesce(labels.lbl, d.doc_id) AS lbl, d.n_chars
                  FROM documents d LEFT JOIN labels ON labels.node = d.doc_id),
        ranked AS (SELECT doc_id,
                     row_number() OVER (PARTITION BY lbl
                                        ORDER BY n_chars DESC, doc_id) AS rn
                   FROM whole)
        SELECT doc_id FROM ranked WHERE rn = 1"""

  /** SimHash 16-bit signatures over word hashes. */
  def qSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(Tables.documents(spark, dir).df, "doc_id", "text")

  val qSimhashSql: String = {
    val h = PolyFold.format("w")
    val bitSums = (0 until 16).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
    val combine = (0 until 16).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH t AS (
          SELECT doc_id, $h AS h
          FROM (SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '')) AS w FROM documents)),
        s AS (SELECT doc_id, $bitSums FROM t GROUP BY doc_id)
        SELECT doc_id, ($combine)::BIGINT AS simhash FROM s"""
  }

  /** SimHash near-dup pairs: 32-bit shingle-feature signatures, pigeonhole
    * banding (3 chunks for Hamming ≤ 2), XOR+popcount verification. */
  def qSimhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(Tables.documents(spark, dir).df, "doc_id", "text",
      bits = 32, maxHamming = 2, shingleN = 3)

  val qSimhashPairsSql: String = {
    val bits = 32
    val bitSums = (0 until bits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
    val combine = (0 until bits).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        shex AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                        for i in range(1, len(w) - 1)]) AS s
                 FROM words),
        t AS (SELECT doc_id, list_reduce([0] || [ord(c)::BIGINT for c in string_split(s, '')],
                                         (a, c) -> (a * 31 + c) % 1000000007) AS h FROM shex),
        s0 AS (SELECT doc_id, $bitSums FROM t GROUP BY doc_id),
        sig AS (SELECT doc_id, ($combine)::BIGINT AS simhash FROM s0),
        ch AS (SELECT doc_id, simhash, i,
                 CASE i WHEN 0 THEN simhash & 2047
                        WHEN 1 THEN (simhash >> 11) & 2047
                        ELSE (simhash >> 22) & 1023 END AS cv
               FROM sig, (SELECT unnest([0, 1, 2]) AS i) x),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                   a.simhash AS sa, b.simhash AS sb
                 FROM ch a JOIN ch b ON a.i = b.i AND a.cv = b.cv
                                    AND a.doc_id < b.doc_id)
        SELECT id_a, id_b, bit_count(xor(sa, sb))::INTEGER AS hamming
        FROM cand WHERE bit_count(xor(sa, sb)) <= 2"""
  }

  /** Streaming-capable near-dup ingest run in batch: docs collapse to one
    * survivor per 63-bit shingle-SimHash signature (short docs by exact
    * text). Batch `dropDuplicates` picks an arbitrary survivor per group,
    * so the deterministic observable is the survivor COUNT. */
  def qIngestNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.ingestNearDup(Tables.documents(spark, dir), "doc_id", "text")
      .df.agg(count(lit(1)).as("n_survivors"))

  val qIngestNearDupSql: String = {
    val bits = 63
    val bitSums = (0 until bits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
    val combine = (0 until bits).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH words AS (SELECT doc_id, text, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        shex AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                        for i in range(1, len(w) - 1)]) AS s
                 FROM words WHERE len(w) >= 3),
        t AS (SELECT doc_id, list_reduce([0] || [ord(c)::BIGINT for c in string_split(s, '')],
                                         (a, c) -> (a * 31 + c) % 1000000007) AS h FROM shex),
        s0 AS (SELECT doc_id, $bitSums FROM t GROUP BY doc_id),
        sig AS (SELECT doc_id, ($combine)::BIGINT AS simhash FROM s0),
        k AS (SELECT 'S:' || simhash::VARCHAR AS k FROM sig
              UNION ALL
              SELECT 'T:' || text FROM words WHERE len(w) < 3)
        SELECT count(DISTINCT k) AS n_survivors FROM k"""
  }

  /** Banded near-dup ingest, batch lowering: survivors after dropping
    * every doc with a STRICTLY EARLIER (doc_id order) neighbor within
    * hamming 8 of its 63-bit shingle SimHash (featureless docs: exact
    * text identity). The oracle mirrors the signature pipeline and the
    * drop rule with an explicit earlier-neighbor anti-join. */
  def qBandedDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.ingestNearDup(Tables.documents(spark, dir).orderedBy("doc_id"),
        "doc_id", "text", maxHamming = 8)
      .df.select(col("doc_id"))

  val qBandedDedupSql: String = {
    val bits = 63
    val bitSums = (0 until bits).map(i =>
      s"sum(CASE WHEN (h >> $i) & 1 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
    val combine = (0 until bits).map(i =>
      s"CASE WHEN b$i > 0 THEN ${1L << i} ELSE 0 END").mkString(" + ")
    s"""WITH words AS (SELECT doc_id, text, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        shex AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                        for i in range(1, len(w) - 1)]) AS s
                 FROM words WHERE len(w) >= 3),
        t AS (SELECT doc_id, list_reduce([0] || [ord(c)::BIGINT for c in string_split(s, '')],
                                         (a, c) -> (a * 31 + c) % 1000000007) AS h FROM shex),
        s0 AS (SELECT doc_id, $bitSums FROM t GROUP BY doc_id),
        sig AS (SELECT doc_id, ($combine)::BIGINT AS simhash FROM s0),
        shorts AS (SELECT doc_id, text FROM words WHERE len(w) < 3),
        dropn AS (SELECT b.doc_id FROM sig a JOIN sig b ON a.doc_id < b.doc_id
                  AND bit_count(xor(a.simhash, b.simhash)) <= 8),
        drops AS (SELECT b.doc_id FROM shorts a JOIN shorts b
                  ON a.doc_id < b.doc_id AND a.text = b.text)
       SELECT doc_id FROM documents
       WHERE doc_id NOT IN (SELECT doc_id FROM dropn
                            UNION ALL SELECT doc_id FROM drops)"""
  }

  /** Benchmark decontamination: the first 25 documents stand in for an
    * eval set; every doc sharing a word-5-gram with them is flagged. */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    TextOps.decontaminate(docs, "doc_id", "text",
      docs.filter(col("doc_id") < 25), "text", n = 5, minOverlap = 1)
  }

  val qDecontaminateSql: String = {
    // DISTINCT on the HASHES (dh), not just the shingle strings: the Spark
    // side counts distinct hashes (array_distinct after hashing), so an
    // intra-document hash collision must collapse on both sides
    val h = PolyFold.format("s")
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        dg AS (SELECT doc_id,
                 unnest(list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                                       w[i+3] || ' ' || w[i+4]
                                       for i in range(1, len(w) - 3)])) AS s
               FROM words),
        dh AS (SELECT DISTINCT doc_id, $h AS g FROM dg),
        bh AS (SELECT DISTINCT g FROM dh WHERE doc_id < 25),
        hits AS (SELECT d.doc_id, count(*) AS n FROM dh d JOIN bh USING (g) GROUP BY d.doc_id)
        SELECT doc_id, coalesce(n, 0) AS n_overlap,
               (coalesce(n, 0) >= 1)::INTEGER AS contaminated
        FROM documents LEFT JOIN hits USING (doc_id)"""
  }

  /** PII/URL scrubbing over text carrying synthetic doc-derived PII (the
    * corpus itself has none); both engines inject identically, so the
    * scrubbed text and counts compare exactly. */
  def qScrub(spark: SparkSession, dir: String): DataFrame = {
    val injected = Tables.documents(spark, dir).df.select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or http://site"),
        col("doc_id"), lit(".example/path from 10.0."),
        pmod(col("doc_id"), lit(256)), lit(".7")).as("text"))
    injected.select(col("doc_id") +:
      TextOps.scrubPii(col("text")).map { case (n, c) => c.as(n) }: _*)
  }

  val qScrubSql: String =
    s"""WITH inj AS (SELECT doc_id,
          text || ' contact user' || doc_id || '@example.com or http://site' || doc_id ||
          '.example/path from 10.0.' || (doc_id % 256) || '.7' AS text FROM documents)
        SELECT doc_id,
          len(regexp_extract_all(text, '${TextOps.EmailRe}'))::INTEGER AS n_emails,
          len(regexp_extract_all(text, '${TextOps.UrlRe}'))::INTEGER AS n_urls,
          len(regexp_extract_all(text, '${TextOps.IpRe}'))::INTEGER AS n_ips,
          regexp_replace(regexp_replace(regexp_replace(text,
            '${TextOps.EmailRe}', '<EMAIL>', 'g'),
            '${TextOps.UrlRe}', '<URL>', 'g'),
            '${TextOps.IpRe}', '<IP>', 'g') AS scrubbed
        FROM inj"""

  /** Character-4-gram Jaccard near-dup within each source (blocked
    * all-pairs — block size is bounded by the natural partition). */
  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardWithinBlocks(Tables.documents(spark, dir).df,
      "doc_id", "text", "source", n = 4, threshold = 0.5)

  val qNgramJaccardSql: String =
    """WITH s AS (
         SELECT source, doc_id,
           list_distinct([list_reduce([0] || [ord(c)::BIGINT for c in string_split(g, '')],
                                      (a, c) -> (a * 31 + c) % 1000000007)
                          for g in list_distinct([text[i:i+3] for i in range(1, len(text) - 2)])]) AS sh
         FROM documents)
       SELECT id_a, id_b, round(j, 3) AS jaccard FROM (
         SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))) AS j
         FROM s a JOIN s b ON a.source = b.source AND a.doc_id < b.doc_id)
       WHERE j >= 0.5"""

  /** Embedding cosine near-dup (exact all-pairs baseline). */
  def qEmbedDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupExact(Tables.embeddings(spark, dir).df,
      "vec_id", "embedding", threshold = 0.4)

  val qEmbedDedupSql: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cos
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4"""

  /** Hyperplane-LSH embedding near-dup (Charikar 2002): 16-bit sign codes
    * in 2 independent tables, whole-code bucket join, exact cosine
    * verification. The oracle re-derives every hyperplane from the same
    * portable affine family and folds each dot product in the same
    * position order, so bucket membership is bit-identical — candidate
    * recall is an LSH property (sweep bits/tables), but both engines
    * compute the SAME candidate set by construction. */
  def qHyperplane(spark: SparkSession, dir: String): DataFrame =
    Dedup.hyperplaneNearDup(Tables.embeddings(spark, dir).df,
      "vec_id", "embedding", bits = 16, tables = 2, threshold = 0.4)

  val qHyperplaneSql: String = {
    val bits = 16
    val tables = 2
    def dotFold(fam: Int) =
      s"list_reduce([0.0::DOUBLE] || list_transform(range(1, len(e) + 1), " +
        s"j -> e[j] * (((j - 1) * ${2 * fam + 1} + ${12345 * fam + 7}) % 1000000007 " +
        s"/ 1000000007.0 - 0.5)), (a, x) -> a + x)"
    val codeSelects = (0 until tables).map { t =>
      val code = (0 until bits).map { b =>
        s"(CASE WHEN ${dotFold(t * bits + b)} >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, $t AS t, ($code)::BIGINT AS code FROM e"
    }.mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        codes AS ($codeSelects),
        cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
                 FROM codes a JOIN codes b
                   ON a.t = b.t AND a.code = b.code AND a.vec_id < b.vec_id)
        SELECT id_a, id_b, round(list_cosine_similarity(x.e, y.e), 6) AS cos
        FROM cand JOIN e x ON x.vec_id = id_a JOIN e y ON y.vec_id = id_b
        WHERE list_cosine_similarity(x.e, y.e) >= 0.4"""
  }

  /** Cross-corpus embedding dedup, batch face (streaming pinned equal by
    * CrossCorpusSpec): arriving vectors (vec_id % 3 = 0) that survive
    * cosine screening against the reference corpus (vec_id % 3 <> 0) at
    * the q_embed_dedup threshold. */
  def qEmbedIngest(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).df
    Dedup.embeddingDedupAgainstCorpus(
      graft.api.MStream(emb.where(col("vec_id") % 3 === 0)),
      emb.where(col("vec_id") % 3 =!= 0),
      "vec_id", "embedding", threshold = 0.4)
      .df.select(col("vec_id"), col("label"))
  }

  val qEmbedIngestSql: String =
    """SELECT vec_id, label FROM embeddings
       WHERE vec_id % 3 = 0 AND vec_id NOT IN (
         SELECT a.vec_id FROM embeddings a JOIN embeddings b
           ON a.vec_id % 3 = 0 AND b.vec_id % 3 <> 0
          AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4)"""

  /** Brute-force cosine top-5 for the first 10 vectors as queries, via
    * map-side partial top-k (shuffle carries queries×k rows, not
    * queries×corpus). */
  def qAnnTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).df
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding"))
    Similarity.bruteForceTopKPartial(emb, queries, "vec_id", "embedding", "q_id", k = 5)
  }

  val qAnnTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         q AS (SELECT vec_id AS q_id, e AS qe FROM e WHERE vec_id < 10)
       SELECT q_id, vec_id, round(list_cosine_similarity(qe, e), 6) AS cos,
         row_number() OVER (PARTITION BY q_id
           ORDER BY list_cosine_similarity(qe, e) DESC, vec_id) AS rn
       FROM q, e WHERE vec_id <> q_id
       QUALIFY rn <= 5"""

  /** Product-quantization ADC top-k (Jégou et al. 2011): 4 subspaces of
    * 16 dims, 8 codewords each, two Lloyd rounds per subspace; the probe
    * set scores the PQ-compressed corpus by asymmetric distance. The
    * oracle re-trains every sub-codebook with per-subspace Lloyd unrolls
    * and recomputes the ADC sums in the same fixed subspace order. */
  def qPqTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).df
    val books = graft.pipeline.Pq.train(emb, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 2)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding"))
    graft.pipeline.Pq.adcTopK(emb, queries, "vec_id", "embedding", "q_id",
      books, topK = 5)
  }

  val qPqTopKSql: String = {
    val sd = 16; val m = 4; val ksub = 8
    def lo(j: Int) = j * sd + 1
    def hi(j: Int) = (j + 1) * sd
    def dist(p: String, c: String) =
      s"list_dot_product($p, $p) - 2*list_dot_product($p, $c) + list_dot_product($c, $c)"
    def assign(j: Int, cent: String) =
      s"""(SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
              row_number() OVER (PARTITION BY e.vec_id
                ORDER BY ${dist(s"e.v[${lo(j)}:${hi(j)}]", "c.cv")}, c.cid) AS rn
            FROM e, $cent c) WHERE rn = 1)"""
    def update(j: Int, asg: String) =
      s"""(SELECT cid, list(m ORDER BY pos) AS cv FROM (
            SELECT a.cid, t.pos, avg(e.v[${lo(j)} + t.pos - 1]) AS m
            FROM $asg a JOIN e USING (vec_id),
                 LATERAL (SELECT unnest(generate_series(1, $sd)) AS pos) t
            GROUP BY a.cid, t.pos) GROUP BY cid)"""
    val perSub = (0 until m).map { j =>
      s"""s${j}0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid,
                  v[${lo(j)}:${hi(j)}] AS cv
                FROM (SELECT * FROM e ORDER BY vec_id LIMIT $ksub)),
          a${j}1 AS ${assign(j, s"s${j}0")},
          s${j}1 AS ${update(j, s"a${j}1")},
          a${j}2 AS ${assign(j, s"s${j}1")},
          s${j}2 AS ${update(j, s"a${j}2")},
          code$j AS ${assign(j, s"s${j}2")}"""
    }.mkString(",\n        ")
    val joins = (0 until m).map(j =>
      s"JOIN code$j c$j ON c$j.vec_id = x.vec_id JOIN s${j}2 b$j ON b$j.cid = c$j.cid")
      .mkString("\n               ")
    val dsum = (0 until m)
      .map(j => s"(${dist(s"q.qv[${lo(j)}:${hi(j)}]", s"b$j.cv")})").mkString(" + ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        $perSub,
        q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
        adc AS (SELECT q.q_id AS q_id, x.vec_id AS vec_id, $dsum AS adc
                FROM q, e x
               $joins
                WHERE x.vec_id <> q.q_id)
        SELECT q_id, vec_id, round(adc, 6) AS adc,
          row_number() OVER (PARTITION BY q_id ORDER BY adc, vec_id) AS rn
        FROM adc QUALIFY rn <= 5"""
  }

  /** Language-ID heuristic: argmax of per-language marker-word hits. */
  def qLangId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df
    d.select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"),
      TextOps.markerHits(col("text"), TextOps.LangMarkers.head._2).as("en_hits"))
  }

  val qLangIdSql: String = {
    def hits(ms: Seq[String]) =
      s"len(list_filter(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> ''), w -> w IN (${ms.map("'" + _ + "'").mkString(",")})))"
    val Seq(en, de, fr, es) = TextOps.LangMarkers.map(m => hits(m._2))
    s"""SELECT doc_id,
          CASE WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
               WHEN $de >= $fr AND $de >= $es THEN 'de'
               WHEN $fr >= $es THEN 'fr'
               ELSE 'es' END AS lang_pred,
          $en AS en_hits
        FROM documents"""
  }

  /** Quality-score features per document. */
  def qTextQuality(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df
    val feats = TextOps.qualityFeatures(col("text")).map { case (n, c) => c.as(n) }
    d.select(col("doc_id") +: feats: _*)
  }

  val qTextQualitySql: String = {
    val stops = TextOps.Stopwords.map("'" + _ + "'").mkString(",")
    s"""SELECT doc_id,
          len(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '')) AS n_words,
          round(list_aggregate(list_transform(
                  list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> ''),
                  x -> length(x)), 'sum')::DOUBLE
                / nullif(len(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '')), 0), 4) AS avg_word_len,
          round(len(list_filter(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> ''), w -> w IN ($stops)))::DOUBLE
                / nullif(len(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '')), 0), 4) AS stopword_ratio,
          len(regexp_extract_all(text, '[^A-Za-z0-9_ \\t\\n\\f\\r\\x0b]')) AS punct_count
        FROM documents"""
  }

  /** Token counting: whitespace and BPE-ish regex tokenizations. */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).df.select(col("doc_id"),
      TextOps.tokenCountWhitespace(col("text")).as("ws_tokens"),
      TextOps.tokenCountRegex(col("text")).as("re_tokens"))

  val qTokenCountSql: String =
    """SELECT doc_id, len(list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '')) AS ws_tokens,
         len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_ \t\n\f\r\x0b]')) AS re_tokens
       FROM documents"""

  /** Stratified deterministic sampling: a reproducible training mix that
    * up/down-weights sources; the oracle reproduces the exact sample. */
  def qSample(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df
    graft.pipeline.Sampling.stratifiedHashSample(d,
      col("doc_id"), col("source"),
      rates = Map("src0" -> 0.5, "src1" -> 0.9), defaultRate = 0.25, salt = "mix1")
      .select(col("doc_id"), col("source"))
  }

  val qSampleSql: String = {
    val gate = "((" + PolyFold.format("(doc_id::VARCHAR || 'mix1')") + ") * 2654435761) % 1000000"
    s"""SELECT doc_id, source FROM documents
        WHERE $gate < CASE source WHEN 'src0' THEN 500000
                                  WHEN 'src1' THEN 900000
                                  ELSE 250000 END"""
  }

  /** Exact-k deterministic holdout carve: exactly 200 documents chosen by
    * ascending hash rank through the bounded-heap top-k aggregate (one
    * corpus pass, no global sort); the oracle reproduces the draw
    * bit-for-bit as ORDER BY gate, id LIMIT k. */
  def qSampleK(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df
    graft.pipeline.Sampling.exactKSample(d, "doc_id", k = 200, salt = "ev1")
      .select(col("doc_id"), col("source"))
  }

  val qSampleKSql: String = {
    val gate = "((" + PolyFold.format("(doc_id::VARCHAR || 'ev1')") + ") * 2654435761) % 1000000"
    s"""SELECT doc_id, source FROM documents ORDER BY $gate, doc_id LIMIT 200"""
  }

  /** Per-source exact-k through the bounded-heap lowering — the SAME draw
    * as q_source_cap's rank window (QUALIFY mirror), hot-stratum-safe. */
  def qSourceCapK(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.exactKPerKey(
        Tables.documents(spark, dir).df, "source", "doc_id", 15, salt = "cap2")
      .select(col("doc_id"), col("source"))

  val qSourceCapKSql: String = {
    val gate = "((" + PolyFold.format("(doc_id::VARCHAR || 'cap2')") + ") * 2654435761) % 1000000"
    s"""SELECT doc_id, source FROM documents
        QUALIFY row_number() OVER (PARTITION BY source ORDER BY $gate, doc_id) <= 15"""
  }

  /** Temperature-based source rebalancing at alpha = 0.5 toward a 300-doc
    * budget: big sources downsample harder than small ones. The oracle
    * recomputes the per-source integer gate thresholds bit-exactly —
    * sqrt is IEEE-correctly-rounded in both engines and the normalizer
    * folds in source-name order on both sides. */
  def qTempMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    graft.pipeline.Sampling.temperatureMix(docs, col("doc_id"), col("source"),
        alpha = 0.5, budgetRows = 300L, salt = "t1")
      .select(col("doc_id"), col("source"))
  }

  val qTempMixSql: String = {
    val gate = "((" + PolyFold.format("(doc_id::VARCHAR || 't1')") + ") * 2654435761) % 1000000"
    s"""WITH cnt AS (SELECT source AS s, count(*)::BIGINT AS n FROM documents GROUP BY source),
        tot AS (SELECT list_reduce([0.0] || list(sqrt(n::DOUBLE) ORDER BY s),
                                   (a, x) -> a + x) AS t FROM cnt),
        thr AS (SELECT s, trunc(least(1.0, sqrt(n::DOUBLE) / t * 300 / n) * 1000000)::BIGINT AS th
                FROM cnt CROSS JOIN tot)
        SELECT d.doc_id, d.source FROM documents d JOIN thr ON thr.s = d.source
        WHERE $gate < thr.th"""
  }

  /** Per-source quota cap: at most 15 docs per source, hash-ranked —
    * the per-domain contribution limit of web-corpus assembly. */
  def qSourceCap(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.capPerKey(
        Tables.documents(spark, dir).df, col("source"), col("doc_id"), 15, salt = "cap1")
      .select(col("doc_id"), col("source"))

  val qSourceCapSql: String = {
    val gate = "((" + PolyFold.format("(doc_id::VARCHAR || 'cap1')") + ") * 2654435761) % 1000000"
    s"""SELECT doc_id, source FROM documents
        QUALIFY row_number() OVER (PARTITION BY source ORDER BY $gate, doc_id) <= 15"""
  }

  /** Stratified gate through the MAP-LITERAL lowering: 36 named buckets
    * (> `Sampling.LiteralStrataEntries` = 32, so the rate table enters
    * the plan as ONE map literal + try_element_at, not a when-chain) at
    * exact-binary rates j%8/8, plus four buckets falling to the 0.25
    * default — the oracle reproduces the thresholds bit-exactly (eighths
    * scale to integer gate units with no rounding). */
  def qStrataMix(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df
    val rates = (0 until 36).map(j => s"b$j" -> (j % 8) / 8.0).toMap
    require(rates.size > graft.pipeline.Sampling.LiteralStrataEntries,
      "q_strata_mix must exercise the map-literal lowering")
    val bucket = concat(lit("b"), pmod(col("doc_id"), lit(40)).cast("string"))
    graft.pipeline.Sampling.stratifiedHashSample(
        d.withColumn("bucket", bucket), col("doc_id"), col("bucket"),
        rates, defaultRate = 0.25, salt = "sm1")
      .select(col("doc_id"), col("bucket"))
  }

  val qStrataMixSql: String = {
    val gate = "((" + PolyFold.format("(doc_id::VARCHAR || 'sm1')") + ") * 2654435761) % 1000000"
    s"""SELECT doc_id, 'b' || (doc_id % 40)::VARCHAR AS bucket FROM documents
        WHERE $gate < CASE WHEN doc_id % 40 < 36 THEN ((doc_id % 40) % 8) * 125000
                           ELSE 250000 END"""
  }

  /** Training-mix assembly AS A SHIPPED PROGRAM DOCUMENT (format
    * version 5): capture stratifiedSample → assignSplit with the Rec
    * recorder, serialize, reload with full load-time + schema validation,
    * run under a config — the sampling-family nodes join the artifact
    * flow (the q_ingest_program discipline). The oracle reproduces both
    * hash gates bit-exactly. */
  def qMixProgram(spark: SparkSession, dir: String): DataFrame = {
    import graft.api.{App, Program}
    val docs = Program.Rec.external("documents", Tables.documents(spark, dir))
    val piped = docs
      .stratifiedSample("doc_id", "source",
        rates = Map("src0" -> 0.5, "src1" -> 0.9), defaultRate = 0.25, salt = "mix1")
      .assignSplit("doc_id",
        Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1), salt = "sp1")
      .as("out")
    val programJson = Program.toJson(Program.capture(piped))
    val config = new App.Config()
      .setSource("documents", App.Source(
        format = "parquet", path = Some(s"$dir/documents.parquet")))
      .addSink("out", App.Sink(format = "memory"))
    Program.validate(Program.fromJson(programJson), spark, config)
    App.runProgram(spark, config, programJson)
      .collectFirst { case App.BatchOutput("out", out) => out }.get
      .select(col("doc_id"), col("source"), col("split"))
  }

  val qMixProgramSql: String = {
    val gate = "((" + PolyFold.format("(doc_id::VARCHAR || 'mix1')") + ") * 2654435761) % 1000000"
    val sgate = "((" + PolyFold.format("(doc_id::VARCHAR || 'sp1')") + ") * 2654435761) % 1000000"
    s"""SELECT doc_id, source,
          CASE WHEN $sgate < 800000 THEN 'train'
               WHEN $sgate < 900000 THEN 'validation'
               ELSE 'test' END AS split
        FROM documents
        WHERE $gate < CASE source WHEN 'src0' THEN 500000
                                  WHEN 'src1' THEN 900000
                                  ELSE 250000 END"""
  }

  /** A shipped curation document (format version 6): quality-annotate →
    * marker langId → SQL gate → sliding token chunking, exercised through
    * the full artifact flow (capture → serialize → validate → run under a
    * config). The gate keeps English documents of >= 5 words; the oracle
    * reproduces the marker-hit argmax, the word count and every chunk
    * bit-for-bit (the whole pipeline is stateless projections + one
    * per-row generator — zero shuffles either engine). */
  def qCurateProgram(spark: SparkSession, dir: String): DataFrame = {
    import graft.api.{App, Program}
    val docs = Program.Rec.external("documents", Tables.documents(spark, dir))
    val piped = docs
      .qualityAnnotate("text")
      .langId("text")
      .where("n_words >= 5 AND lang = 'en'")
      .chunkTokens("doc_id", "text", chunkSize = 32, stride = 24)
      .as("out")
    val programJson = Program.toJson(Program.capture(piped))
    val config = new App.Config()
      .setSource("documents", App.Source(
        format = "parquet", path = Some(s"$dir/documents.parquet")))
      .addSink("out", App.Sink(format = "memory"))
    Program.validate(Program.fromJson(programJson), spark, config)
    App.runProgram(spark, config, programJson)
      .collectFirst { case App.BatchOutput("out", out) => out }.get
  }

  val qCurateProgramSql: String = {
    val nWords =
      "len(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> ''))"
    def hits(ms: Seq[String]) =
      s"len(list_filter(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> ''), w -> w IN (${ms.map("'" + _ + "'").mkString(",")})))"
    val Seq(en, de, fr, es) = TextOps.LangMarkers.map(m => hits(m._2))
    s"""SELECT doc_id, (t.s / 24)::BIGINT AS chunk_id,
          array_to_string(w[t.s + 1 : t.s + 32], ' ') AS chunk_text,
          least(32, len(w) - t.s)::BIGINT AS n_tokens
        FROM (SELECT doc_id,
                list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w
              FROM documents
              WHERE $nWords >= 5
                AND $en >= $de AND $en >= $fr AND $en >= $es),
             LATERAL (SELECT unnest(generate_series(0, len(w) - 1, 24)) AS s) t"""
  }

  /** Johnson–Lindenstrauss random projection to 16 dims under the seeded
    * portable hyperplane family (seed 7): dimensionality reduction before
    * ANN/k-means. Deterministic end to end — the oracle rebuilds all 16
    * hyperplanes from the affine constants and refolds every dot product
    * in position order (the q_hyperplane idiom), then divides by √16 = 4
    * (exact) — so every projected element matches to the rounding. */
  def qJlProject(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Similarity.randomProject(
        Tables.embeddings(spark, dir).df, "embedding", outDim = 16, seed = 7)
      .select(col("vec_id"), posexplode(col("projected")).as(Seq("dim", "val")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("val"), 6).as("val"))

  val qJlProjectSql: String = {
    val outDim = 16
    val seed = 7
    def dotFold(fam: Int) =
      s"list_reduce([0.0::DOUBLE] || list_transform(range(1, len(e) + 1), " +
        s"j -> e[j] * (((j - 1) * ${2 * fam + 1} + ${12345 * fam + 7}) % 1000000007 " +
        s"/ 1000000007.0 - 0.5)), (a, x) -> a + x)"
    val dimSelects = (0 until outDim).map { b =>
      s"SELECT vec_id, ${b}::BIGINT AS dim, " +
        s"round(${dotFold(seed * outDim + b)} / 4.0, 6) AS val FROM e"
    }.mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
        $dimSelects"""
  }

  /** Scalar int8 quantization (the SQ8 codec): train per-dimension
    * [lo, hi] in ONE partial-aggregated scan (`VectorExtreme` — never a
    * rows × dim explode), pin the driver-sized stats artifact, encode
    * every vector through the reference-object expression. min/max are
    * exact and the affine map is the documented op order, so the oracle
    * reproduces every code: `clamp(floor((x-lo)*255/(hi-lo)), 0, 255)`,
    * degenerate dims → 0. */
  def qSq8(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).df
    val (lo, hi) = graft.pipeline.Sq.collectStats(
      graft.pipeline.Sq.sq8Train(emb, "embedding"))
    graft.pipeline.Sq.sq8Encode(emb, "embedding", lo, hi)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("dim", "code")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("code").cast("long").as("code"))
  }

  val qSq8Sql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        d AS (SELECT vec_id, j, v[j] AS x
              FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS j) t),
        s AS (SELECT j, min(x) AS lo, max(x) AS hi FROM d GROUP BY j)
        SELECT d.vec_id, (d.j - 1)::BIGINT AS dim,
          (CASE WHEN s.hi = s.lo THEN 0
                ELSE least(greatest(floor((d.x - s.lo) * 255.0 / (s.hi - s.lo)), 0), 255)
           END)::BIGINT AS code
        FROM d JOIN s USING (j)"""

  /** Z-order (Morton) clustering key over (n_chars, doc_id) at 8 bits
    * per column — the data-layout operator behind multi-dimensional scan
    * pruning (`Layout.zorderBy` range-partitions and sorts by this key
    * before a write, so parquet min/max stats tighten per file). The key
    * is min/max-pinned affine buckets (the SQ8 clamp) bit-interleaved
    * column-major; the oracle rebuilds both ranges and every interleave
    * term. */
  def qZorder(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df
    d.select(col("doc_id"), graft.operators.Layout.zkey(
      d, Seq("n_chars", "doc_id"), bits = 8).as("zkey"))
  }

  val qZorderSql: String = {
    val terms = (0 until 8).flatMap(b => Seq(
      s"(((b1 >> $b) & 1) << ${2 * b})",
      s"(((b2 >> $b) & 1) << ${2 * b + 1})")).mkString(" | ")
    def bucket(x: String, lo: String, hi: String) =
      s"CASE WHEN $hi = $lo THEN 0 ELSE " +
        s"least(greatest(floor(($x::DOUBLE - $lo) * 255.0 / ($hi - $lo)), 0), 255) END::BIGINT"
    s"""WITH s AS (SELECT min(n_chars::DOUBLE) AS lo1, max(n_chars::DOUBLE) AS hi1,
                    min(doc_id::DOUBLE) AS lo2, max(doc_id::DOUBLE) AS hi2
             FROM documents),
        b AS (SELECT doc_id,
                ${bucket("n_chars", "lo1", "hi1")} AS b1,
                ${bucket("doc_id", "lo2", "hi2")} AS b2
              FROM documents CROSS JOIN s)
        SELECT doc_id, ($terms)::BIGINT AS zkey FROM b"""
  }

  /** Top-3 documents by length per source through the BOUNDED-HEAP
    * aggregate (`operators.GroupTopK` over `functions.BoundedTopK`): the
    * 100 TB lowering of QUALIFY row_number() <= k — map-side k-element
    * heaps merge through partial aggregation, so the exchange carries at
    * most groups × k pairs instead of every row into a per-group sort.
    * Ties break by ascending doc_id on both sides. */
  def qGroupTopK(spark: SparkSession, dir: String): DataFrame =
    graft.operators.GroupTopK.topKPerKey(
      Tables.documents(spark, dir).df, Seq("source"), "doc_id",
      length(col("text")), k = 3, scoreAs = "len_score")

  val qGroupTopKSql: String =
    """SELECT source, doc_id, length(text)::DOUBLE AS len_score,
         row_number() OVER (PARTITION BY source
                            ORDER BY length(text) DESC, doc_id) AS rank
       FROM documents QUALIFY rank <= 3"""

  /** Nearest-cell assignment through the COMPILED-LOOP lowering: a fixed
    * 300-cell rational codebook (> `Ivf.LiteralCells` = 256, so the
    * assignment is the `NearestCells` reference-object expression, not
    * the literal `least(struct…)`) rebuilt exactly by both engines
    * (((c·31 + d·7 + 3) mod 97)/97 − 1/2 — one correctly-rounded division
    * per element); the oracle recomputes every squared distance with the
    * same left-to-right folds and the same `(pp − 2·dot) + cc`
    * association, then argmins by (distance, cid). */
  def qIvfLoop(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).df
    val cent: Seq[(Int, Seq[Double])] = (0 until 300).map(c =>
      c -> (0 until 64).map(d => ((c * 31 + d * 7 + 3) % 97) / 97.0 - 0.5))
    require(cent.size > graft.pipeline.Ivf.LiteralCells,
      "q_ivf_loop must exercise the compiled-loop lowering")
    emb.select(col("vec_id"),
      graft.pipeline.Ivf.nearestCidLoop(
        col("embedding").cast("array<double>"), cent).as("cid"))
  }

  val qIvfLoopSql: String =
    """WITH cents AS (
         SELECT c, list_transform(range(0, 64),
                  d -> ((c * 31 + d * 7 + 3) % 97) / 97.0 - 0.5) AS cv
         FROM (SELECT unnest(range(0, 300)) AS c)),
       e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       d AS (SELECT vec_id, c,
               list_reduce([0.0] || [v[i] * v[i] for i in range(1, len(v) + 1)], (a, x) -> a + x)
             - 2.0 * list_reduce([0.0] || [v[i] * cv[i] for i in range(1, least(len(v), len(cv)) + 1)], (a, x) -> a + x)
             + list_reduce([0.0] || [cv[i] * cv[i] for i in range(1, len(cv) + 1)], (a, x) -> a + x) AS dist
             FROM e CROSS JOIN cents)
       SELECT vec_id, c::INT AS cid FROM d
       QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) = 1"""

  /** Per-source token budget: greedy hash-rank prefix fill to 600
    * whitespace tokens per source — the "sample N tokens per domain"
    * step of training-mix assembly. */
  def qTokenBudget(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.capTokensPerKey(
        Tables.documents(spark, dir).df, col("source"), col("doc_id"),
        TextOps.tokenCountWhitespace(col("text")), budget = 600L, salt = "tb1")
      .select(col("doc_id"), col("source"))

  val qTokenBudgetSql: String = {
    val gate = "((" + PolyFold.format("(doc_id::VARCHAR || 'tb1')") + ") * 2654435761) % 1000000"
    s"""SELECT doc_id, source FROM (
          SELECT doc_id, source,
            sum(len(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '')))
              OVER (PARTITION BY source ORDER BY $gate, doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rt
          FROM documents) WHERE rt <= 600"""
  }

  /** Deterministic 80/10/10 train/validation/test assignment over the
    * corpus (hash-gate bands; reproducible across partitionings and
    * engines — the oracle reproduces every label bit-for-bit). */
  def qSplit(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.assignSplit(Tables.documents(spark, dir).df,
        col("doc_id"), Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1),
        salt = "split1")
      .select(col("doc_id"), col("split"))

  /** Leakage-safe 80/10/10 split: the gate keys on each document's
    * MinHash near-dup cluster representative, so no near-dup cluster
    * straddles train/validation/test. Same bands and salt as q_split —
    * only clustered documents move. */
  def qSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val pairs = Dedup.minhashNearDup(docs, "doc_id", "text",
      k = 16, bands = 8, threshold = 0.8)
    graft.pipeline.Sampling.leakageSafeSplit(docs, "doc_id", pairs,
        "id_a", "id_b", Seq("train" -> 0.8, "validation" -> 0.1, "test" -> 0.1),
        salt = "split1")
      .select(col("doc_id"), col("split"))
  }

  val qSafeSplitSql: String = {
    val gate = "((" + PolyFold.format("(rep::VARCHAR || 'split1')") + ") * 2654435761) % 1000000"
    s"""WITH RECURSIVE pairs AS ($qMinhashDedupSql),
        edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(node, label) AS (
          SELECT u, u FROM edges
          UNION
          SELECT e.v, cc.label FROM cc JOIN edges e ON cc.node = e.u),
        clusters AS (SELECT node AS doc_id, min(label) AS cluster_id FROM cc GROUP BY node),
        reps AS (SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS rep
                 FROM documents d LEFT JOIN clusters c USING (doc_id))
        SELECT doc_id,
          CASE WHEN $gate < 800000 THEN 'train'
               WHEN $gate < 900000 THEN 'validation'
               ELSE 'test' END AS split
        FROM reps"""
  }

  val qSplitSql: String = {
    val gate = "((" + PolyFold.format("(doc_id::VARCHAR || 'split1')") + ") * 2654435761) % 1000000"
    s"""SELECT doc_id,
          CASE WHEN $gate < 800000 THEN 'train'
               WHEN $gate < 900000 THEN 'validation'
               ELSE 'test' END AS split
        FROM documents"""
  }

  /** Weighted corpus mixing (epoch-style up/down-sampling): src0 ×2.5,
    * src1 ×1.0, src2 ×0.4, everything else ×0.25 — repeated rows carry a
    * 0-based `epoch` index, fractional parts resolve by the same
    * deterministic hash gate as q_sample. */
  def qMix(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Sampling.weightedMix(Tables.documents(spark, dir).df,
      col("doc_id"), col("source"),
      weights = Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.4),
      defaultWeight = 0.25, salt = "mix2")
      .select(col("doc_id"), col("source"), col("epoch"))

  val qMixSql: String = {
    val gate = "((" + PolyFold.format("(doc_id::VARCHAR || 'mix2')") + ") * 2654435761) % 1000000"
    s"""WITH c AS (
          SELECT doc_id, source,
            (CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1
                         WHEN 'src2' THEN 0 ELSE 0 END)
            + (CASE WHEN $gate < CASE source WHEN 'src0' THEN 500000
                                             WHEN 'src1' THEN 0
                                             WHEN 'src2' THEN 400000
                                             ELSE 250000 END
                    THEN 1 ELSE 0 END) AS copies
          FROM documents)
        SELECT doc_id, source, t.e::BIGINT AS epoch
        FROM c, LATERAL (SELECT unnest(generate_series(0, copies - 1)) AS e) t
        WHERE copies > 0"""
  }

  /** Gopher-style repetition quality filters per document. */
  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetitionFeatures(Tables.documents(spark, dir).df, "doc_id", "text")

  val qRepetitionSql: String =
    """WITH w AS (SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '')) AS w FROM documents),
        wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY 1, 2),
        ws AS (SELECT doc_id,
                 round(1.0 - count(*)::DOUBLE / sum(c), 4) AS dup_word_frac,
                 round(max(c)::DOUBLE / sum(c), 4) AS max_word_frac
               FROM wc GROUP BY doc_id),
        bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
               FROM (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '') AS w FROM documents),
                    LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) t),
        bc AS (SELECT doc_id, w1, w2, count(*) AS c FROM bg GROUP BY 1, 2, 3),
        bs AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 4) AS top_bigram_frac
               FROM bc GROUP BY doc_id)
       SELECT ws.doc_id, dup_word_frac, max_word_frac,
              coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
       FROM ws LEFT JOIN bs ON ws.doc_id = bs.doc_id"""

  /** Corpus heavy hitters: 20 most frequent word-3-grams. */
  def qTopNgrams(spark: SparkSession, dir: String): DataFrame =
    TextOps.topNgrams(Tables.documents(spark, dir).df, "text", n = 3, k = 20)

  val qTopNgramsSql: String =
    """WITH g AS (SELECT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS ngram
         FROM (SELECT list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '') AS w FROM documents),
              LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i) t)
       SELECT ngram, count(*) AS cnt FROM g GROUP BY ngram
       ORDER BY cnt DESC, ngram LIMIT 20"""

  /** Per-document top TF-IDF word. */
  def qTfidf(spark: SparkSession, dir: String): DataFrame =
    TextOps.tfidfTopWord(Tables.documents(spark, dir).df, "doc_id", "text")

  val qTfidfSql: String =
    """WITH tf AS (SELECT doc_id, w, count(*) AS tf
         FROM (SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '')) AS w FROM documents)
         GROUP BY 1, 2),
        dfx AS (SELECT w, count(*) AS dfc FROM tf GROUP BY w),
        s AS (SELECT doc_id, w,
                tf * ln((SELECT count(DISTINCT doc_id) FROM tf)::DOUBLE / dfc) AS tfidf
              FROM tf JOIN dfx USING (w)),
        r AS (SELECT doc_id, w, tfidf,
                row_number() OVER (PARTITION BY doc_id
                  ORDER BY round(tfidf, 6) DESC, w DESC) AS rn FROM s)
       SELECT doc_id, w AS top_word, round(tfidf, 4) AS top_tfidf FROM r WHERE rn = 1"""

  /** BM25 top-25 documents for a 3-term keyword query (k1=1.2, b=0.75 —
    * the Okapi defaults). The oracle mirrors the exact formula, Lucene
    * idf variant, with structurally identical arithmetic. */
  def qBm25(spark: SparkSession, dir: String): DataFrame =
    TextOps.bm25TopK(Tables.documents(spark, dir).df, "doc_id", "text",
      query = Seq("spark", "join", "window"), k = 25)

  val qBm25Sql: String =
    """WITH dl AS (SELECT doc_id, len(list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '')) AS dl FROM documents),
        tf AS (SELECT doc_id, w, count(*) AS tf
               FROM (SELECT doc_id, unnest(list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '')) AS w FROM documents)
               WHERE w IN ('join', 'spark', 'window')
               GROUP BY 1, 2),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        dfx AS (SELECT w, count(*) AS dfc FROM tf GROUP BY w),
        s AS (SELECT t.doc_id,
                ln((stats.n - dfx.dfc + 0.5) / (dfx.dfc + 0.5) + 1.0)
                  * (t.tf * 2.2) / (t.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)) AS sc
              FROM tf t JOIN dfx ON t.w = dfx.w JOIN dl ON t.doc_id = dl.doc_id, stats)
       SELECT doc_id, round(sum(sc), 4) AS bm25, count(*) AS n_terms
       FROM s GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 25"""

  /** Batched BM25: five queries (the first three words of docs 0-4)
    * retrieved against the whole corpus at once through
    * [[TextOps.bm25Retrieve]] — postings + broadcast query-term table +
    * partial-aggregated (query, doc) sums + bounded-heap top-10. The
    * oracle recomputes the full pipeline relationally. */
  def qBm25Batch(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val qs = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"),
        concat_ws(" ", slice(TextOps.words(col("text")), 1, 3)).as("q_text"))
    TextOps.bm25Retrieve(docs, "doc_id", "text", qs, "q_id", "q_text", k = 10)
  }

  val qBm25BatchSql: String =
    """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '') AS w FROM documents),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(len(w)) AS avgdl FROM d),
        tfx AS (SELECT doc_id, dl, t, count(*)::DOUBLE AS tf FROM (
                  SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM d) GROUP BY 1, 2, 3),
        q AS (SELECT doc_id AS q_id, list_distinct(w[1:3]) AS qw FROM d WHERE doc_id < 5),
        qt AS (SELECT q_id, unnest(qw) AS t FROM q),
        dfx AS (SELECT t, count(*)::DOUBLE AS dfc FROM tfx
                WHERE t IN (SELECT DISTINCT t FROM qt) GROUP BY t),
        sc AS (SELECT qt.q_id, tfx.doc_id,
                 ln((stats.n - dfx.dfc + 0.5) / (dfx.dfc + 0.5) + 1.0)
                   * (tfx.tf * 2.2)
                   / (tfx.tf + 1.2 * (0.25 + 0.75 * tfx.dl / stats.avgdl)) AS c
               FROM qt JOIN dfx USING (t) JOIN tfx USING (t), stats),
        agg AS (SELECT q_id, doc_id, round(sum(c), 4) AS bm25 FROM sc GROUP BY 1, 2)
       SELECT q_id, doc_id, bm25,
              row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS rank
       FROM agg QUALIFY rank <= 10"""

  /** Hybrid retrieval fusion: the BM25 leg (first-3-words queries, the
    * q_bm25_batch shape) and the cosine ANN leg (the q_ann_topk shape)
    * fuse by reciprocal-rank fusion at kRrf=60 over a corpus carrying
    * both text and an embedding (documents ⋈ embeddings on id). The
    * oracle mirrors BOTH legs and the fusion; ranking is on the exact
    * fused double with ascending-id ties. */
  def qHybridRrf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val emb = Tables.embeddings(spark, dir).df
    val corpus = docs.select(col("doc_id"), col("text"))
      .join(emb.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id")).drop("vec_id")
    val qs = corpus.where(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"),
        concat_ws(" ", slice(TextOps.words(col("text")), 1, 3)).as("q_text"),
        col("embedding").as("q_vec"))
    TextOps.hybridRrfRetrieve(corpus, "doc_id", "text", "embedding",
      qs, "q_id", "q_text", "q_vec", k = 10)
  }

  val qHybridRrfSql: String =
    """WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '') AS w
                  FROM documents WHERE doc_id IN (SELECT vec_id FROM embeddings)),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(len(w)) AS avgdl FROM d),
        tfx AS (SELECT doc_id, dl, t, count(*)::DOUBLE AS tf FROM (
                  SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM d) GROUP BY 1, 2, 3),
        q AS (SELECT doc_id AS q_id, list_distinct(w[1:3]) AS qw FROM d WHERE doc_id < 5),
        qt AS (SELECT q_id, unnest(qw) AS t FROM q),
        dfx AS (SELECT t, count(*)::DOUBLE AS dfc FROM tfx
                WHERE t IN (SELECT DISTINCT t FROM qt) GROUP BY t),
        sc AS (SELECT qt.q_id, tfx.doc_id,
                 ln((stats.n - dfx.dfc + 0.5) / (dfx.dfc + 0.5) + 1.0)
                   * (tfx.tf * 2.2)
                   / (tfx.tf + 1.2 * (0.25 + 0.75 * tfx.dl / stats.avgdl)) AS c
               FROM qt JOIN dfx USING (t) JOIN tfx USING (t), stats),
        aggb AS (SELECT q_id, doc_id, round(sum(c), 4) AS bm25 FROM sc GROUP BY 1, 2),
        -- the fused corpus is documents JOIN embeddings (both legs need
        -- text AND a vector), so the BM25 side indexes only joined ids
        bmleg AS (SELECT q_id, doc_id,
                    row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS r
                  FROM aggb QUALIFY r <= 10),
        e AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        qe AS (SELECT vec_id AS q_id, e AS qe FROM e WHERE vec_id < 5),
        annleg AS (SELECT q_id, vec_id AS doc_id,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY list_cosine_similarity(qe, e) DESC, vec_id) AS r
                   FROM qe, e WHERE vec_id <> q_id QUALIFY r <= 10),
        united AS (SELECT * FROM bmleg UNION ALL SELECT * FROM annleg),
        fused AS (SELECT q_id, doc_id, sum(1.0::DOUBLE / (60 + r)) AS f FROM united GROUP BY 1, 2)
        SELECT q_id, doc_id, round(f, 6) AS rrf,
          row_number() OVER (PARTITION BY q_id ORDER BY f DESC, doc_id) AS rank
        FROM fused QUALIFY rank <= 10"""

  /** The IVF-routed hybrid fusion — q_hybrid_rrf's beyond-brute face:
    * the dense leg probes 3 of 8 trained cells per query
    * (`Ivf.search`) instead of scanning the corpus, then fuses with the
    * unchanged BM25 leg by RRF. The oracle mirrors the Lloyd unroll,
    * the probe-and-score leg, the BM25 leg AND the fusion. */
  def qHybridRrfIvf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val emb = Tables.embeddings(spark, dir).df
    val corpus = docs.select(col("doc_id"), col("text"))
      .join(emb.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id")).drop("vec_id")
    val centroids = graft.pipeline.Ivf.train(emb, "vec_id", "embedding",
      k = 8, iters = 2)
    val qs = corpus.where(col("doc_id") < 5)
      .select(col("doc_id").as("q_id"),
        concat_ws(" ", slice(TextOps.words(col("text")), 1, 3)).as("q_text"),
        col("embedding").as("q_vec"))
    TextOps.hybridRrfRetrieve(corpus, "doc_id", "text", "embedding",
      qs, "q_id", "q_text", "q_vec", k = 10,
      ivfCentroids = Some(centroids), nProbe = 3)
  }

  val qHybridRrfIvfSql: String = {
    val dist = ivfDist _
    val assign = ivfAssign _
    val update = ivfUpdate _
    s"""WITH d AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w
                  FROM documents WHERE doc_id IN (SELECT vec_id FROM embeddings)),
        stats AS (SELECT count(*)::DOUBLE AS n, avg(len(w)) AS avgdl FROM d),
        tfx AS (SELECT doc_id, dl, t, count(*)::DOUBLE AS tf FROM (
                  SELECT doc_id, len(w) AS dl, unnest(w) AS t FROM d) GROUP BY 1, 2, 3),
        q AS (SELECT doc_id AS q_id, list_distinct(w[1:3]) AS qw FROM d WHERE doc_id < 5),
        qt AS (SELECT q_id, unnest(qw) AS t FROM q),
        dfx AS (SELECT t, count(*)::DOUBLE AS dfc FROM tfx
                WHERE t IN (SELECT DISTINCT t FROM qt) GROUP BY t),
        sc AS (SELECT qt.q_id, tfx.doc_id,
                 ln((stats.n - dfx.dfc + 0.5) / (dfx.dfc + 0.5) + 1.0)
                   * (tfx.tf * 2.2)
                   / (tfx.tf + 1.2 * (0.25 + 0.75 * tfx.dl / stats.avgdl)) AS c
               FROM qt JOIN dfx USING (t) JOIN tfx USING (t), stats),
        aggb AS (SELECT q_id, doc_id, round(sum(c), 4) AS bm25 FROM sc GROUP BY 1, 2),
        bmleg AS (SELECT q_id, doc_id,
                    row_number() OVER (PARTITION BY q_id ORDER BY bm25 DESC, doc_id) AS r
                  FROM aggb QUALIFY r <= 10),
        -- the dense leg: two Lloyd rounds on the embeddings, 3 probed
        -- cells per query, exact cosine within probed cells only (the
        -- qIvfAnn shape at the hybrid's query set)
        e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
               FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
        a1 AS ${assign("c0")},
        c1 AS ${update("a1")},
        a2 AS ${assign("c1")},
        c2 AS ${update("a2")},
        qc AS (SELECT q_id, qv, cid FROM (
            SELECT q.vec_id AS q_id, q.v AS qv, c.cid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${dist("q.v", "c.cv")}, c.cid) AS rn
            FROM e q, c2 c WHERE q.vec_id < 5) WHERE rn <= 3),
        a3 AS ${assign("c2")},
        annleg AS (SELECT q_id, vec_id AS doc_id,
                     row_number() OVER (PARTITION BY q_id
                       ORDER BY list_cosine_similarity(qv, v) DESC, vec_id) AS r
                   FROM (SELECT qc.q_id, qc.qv, e.vec_id, e.v
                         FROM qc JOIN a3 ON a3.cid = qc.cid
                         JOIN e ON e.vec_id = a3.vec_id
                         WHERE e.vec_id <> qc.q_id) cand
                   QUALIFY r <= 10),
        united AS (SELECT * FROM bmleg UNION ALL SELECT * FROM annleg),
        fused AS (SELECT q_id, doc_id, sum(1.0::DOUBLE / (60 + r)) AS f FROM united GROUP BY 1, 2)
        SELECT q_id, doc_id, round(f, 6) AS rrf,
          row_number() OVER (PARTITION BY q_id ORDER BY f DESC, doc_id) AS rank
        FROM fused QUALIFY rank <= 10"""
  }

  /** Per-label embedding statistics: count, centroid norm, mean vector
    * norm — one scan, `VectorSum` centroid accumulation (k rows shuffle,
    * not k×dim). */
  def qEmbedStats(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Similarity.embeddingStats(
      Tables.embeddings(spark, dir).df, "label", "embedding")

  val qEmbedStatsSql: String =
    """WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT label, t.pos, avg(v[t.pos]) AS m
              FROM e, LATERAL (SELECT unnest(generate_series(1, len(v))) AS pos) t
              GROUP BY label, t.pos),
        cn AS (SELECT label, sqrt(sum(m * m)) AS cnorm FROM c GROUP BY label),
        nn AS (SELECT label, count(v) AS n_vecs,
                 avg(sqrt(list_dot_product(v, v))) AS an
               FROM e GROUP BY label)
       SELECT nn.label, nn.n_vecs, round(cn.cnorm, 4) AS centroid_norm,
              round(nn.an, 4) AS mean_norm
       FROM nn JOIN cn ON nn.label = cn.label"""

  /** Vocabulary build (minCount=5, top-20 by frequency) + token-id
    * encoding with OOV = -1; per-document scalar checks (length, OOV
    * count, id checksum, first id) keep the oracle array-free. */
  def qEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val vocab = TextOps.buildVocab(docs, "text", minCount = 5L, maxSize = 20)
    TextOps.encodeTokens(docs, "doc_id", "text", vocab)
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_tokens"),
        col("n_oov"),
        aggregate(col("ids"), lit(0L), (a, x) => a + x).as("id_checksum"),
        element_at(col("ids"), 1).as("first_id"))
  }

  val qEncodeSql: String =
    """WITH wc AS (SELECT w, count(*) AS c
                   FROM (SELECT unnest(list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '')) AS w FROM documents)
                   GROUP BY w),
        v AS (SELECT w, row_number() OVER (ORDER BY c DESC, w) - 1 AS id
              FROM (SELECT * FROM wc WHERE c >= 5 ORDER BY c DESC, w LIMIT 20)),
        t AS (SELECT doc_id, t.i AS pos, w[t.i] AS word
              FROM (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '') AS w FROM documents),
                   LATERAL (SELECT unnest(generate_series(1, len(w))) AS i) t),
        e AS (SELECT t.doc_id, t.pos, coalesce(v.id, -1) AS id
              FROM t LEFT JOIN v ON t.word = v.w)
       SELECT doc_id, count(*)::BIGINT AS n_tokens,
              sum(CASE WHEN id = -1 THEN 1 ELSE 0 END)::BIGINT AS n_oov,
              sum(id)::BIGINT AS id_checksum,
              arg_min(id, pos)::BIGINT AS first_id
       FROM e GROUP BY doc_id"""

  /** Overlapping 32-token windows, stride 24. */
  def qChunk(spark: SparkSession, dir: String): DataFrame =
    TextOps.chunkTokens(Tables.documents(spark, dir).df, "doc_id", "text",
      chunkSize = 32, stride = 24)

  val qChunkSql: String =
    """SELECT doc_id, (t.s / 24)::BIGINT AS chunk_id,
         array_to_string(w[t.s + 1 : t.s + 32], ' ') AS chunk_text,
         least(32, len(w) - t.s)::BIGINT AS n_tokens
       FROM (SELECT doc_id, list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> '') AS w FROM documents),
            LATERAL (SELECT unnest(generate_series(0, len(w) - 1, 24)) AS s) t"""

  /** Per-source document-length quantiles (exact interpolated percentile —
    * Spark `percentile` ≡ DuckDB `quantile_cont`; sorting happens within
    * source groups only). */
  def qLengthQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).df
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        round(percentile(length(col("text")), lit(0.5)), 2).as("p50_len"),
        round(percentile(length(col("text")), lit(0.9)), 2).as("p90_len"),
        round(percentile(length(col("text")), lit(0.99)), 2).as("p99_len"))

  val qLengthQuantilesSql: String =
    """SELECT source, count(*) AS n_docs,
         round(quantile_cont(length(text), 0.5), 2) AS p50_len,
         round(quantile_cont(length(text), 0.9), 2) AS p90_len,
         round(quantile_cont(length(text), 0.99), 2) AS p99_len
       FROM documents GROUP BY source"""

  /** Sequence packing into ~512-token chunks per source. */
  def qPack(spark: SparkSession, dir: String): DataFrame =
    TextOps.packChunks(Tables.documents(spark, dir).df, "doc_id", "text", "source", budget = 512L)

  val qPackSql: String =
    """SELECT doc_id, source, len(list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> ''))::BIGINT AS n_tokens,
         floor(coalesce(sum(len(list_filter(string_split_regex(text, '[ \t\n\f\r\x0b]+'), x -> x <> ''))::BIGINT) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512)::BIGINT AS chunk_id
       FROM documents"""

  /** Rolling-hash document fingerprint. */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).df.select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"))

  val qFingerprintSql: String =
    s"SELECT doc_id, ${PolyFold.format("text")} AS fp FROM documents"

  /** Markup strip + domain extraction over the corpus: on the plain-text
    * synthetic corpus the strip reduces to whitespace collapse (pinning
    * the plumbing; MarkupSpec pins the HTML behavior on real markup) and
    * domains are empty — the oracle mirrors the identical regex chain
    * in the Java ∩ RE2 subset. */
  def qStripMarkup(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).df.select(col("doc_id"),
      TextOps.stripMarkup(col("text")).as("clean_text"),
      size(TextOps.domainsOf(col("text"))).cast("long").as("n_domains"))

  /** URL-level dedup end to end: deterministic MESSY urls (five variants
    * per canonical target — mixed-case host, explicit default port,
    * fragment, pure-tracking query, tracking mixed into a real query)
    * collapse under [[TextOps.canonicalUrl]] to keeper = min doc_id per
    * canonical key; the oracle mirrors the construction AND the full
    * canonicalization regex chain in the Java ∩ RE2 subset. Four of the
    * five variants share one clean canonical; the fifth keeps its real
    * `?q=1` — so the grouping itself proves ports/fragments/tracking
    * strip while genuine query params survive. */
  def qUrlDedup(spark: SparkSession, dir: String): DataFrame = {
    // floor-consistent group index: pmod floors, so derive t from it
    // (`div` truncates toward zero and would disagree on negative ids)
    val t = expr("(doc_id - pmod(doc_id, 5)) div 5").cast("string")
    val url = when(pmod(col("doc_id"), lit(5L)) === 0L,
        concat(lit("https://Example"), t, lit(".COM/Path/"), t))
      .when(pmod(col("doc_id"), lit(5L)) === 1L,
        concat(lit("https://example"), t, lit(".com:443/Path/"), t))
      .when(pmod(col("doc_id"), lit(5L)) === 2L,
        concat(lit("https://example"), t, lit(".com/Path/"), t, lit("#frag")))
      .when(pmod(col("doc_id"), lit(5L)) === 3L,
        concat(lit("https://example"), t, lit(".com/Path/"), t,
          lit("?UTM_Source=x&utm_medium=y")))
      .otherwise(
        concat(lit("https://example"), t, lit(".com/Path/"), t,
          lit("?gclid=abc&q=1&utm_campaign=z")))
    Tables.documents(spark, dir).df.select(col("doc_id"), url.as("url"))
      .groupBy(TextOps.canonicalUrl(col("url")).as("url_canon"))
      .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("keeper"))
  }

  val qUrlDedupSql: String =
    """WITH u AS (
         SELECT doc_id, ((doc_id % 5) + 5) % 5 AS v,
           ((doc_id - (((doc_id % 5) + 5) % 5)) // 5)::VARCHAR AS t
         FROM documents),
       m AS (
         SELECT doc_id,
           CASE v
             WHEN 0 THEN 'https://Example' || t || '.COM/Path/' || t
             WHEN 1 THEN 'https://example' || t || '.com:443/Path/' || t
             WHEN 2 THEN 'https://example' || t || '.com/Path/' || t || '#frag'
             WHEN 3 THEN 'https://example' || t || '.com/Path/' || t || '?UTM_Source=x&utm_medium=y'
             ELSE 'https://example' || t || '.com/Path/' || t || '?gclid=abc&q=1&utm_campaign=z'
           END AS url
         FROM u),
       parts AS (
         SELECT doc_id,
           lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
           coalesce(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '') AS hostport,
           coalesce(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)', 1), '') AS rest
         FROM m),
       split AS (
         SELECT doc_id, scheme,
           coalesce(regexp_extract(hostport, '^(.*@)', 1), '') AS userinfo,
           lower(regexp_replace(hostport, '^.*@', '')) AS host0,
           coalesce(regexp_extract(rest, '^([^?]*)', 1), '') AS path,
           coalesce(regexp_extract(rest, '(\?.*)$', 1), '') AS query
         FROM parts),
       canon AS (
         SELECT doc_id, scheme || '://' || userinfo ||
           (CASE WHEN scheme = 'http' THEN regexp_replace(host0, ':80$', '')
                 WHEN scheme = 'https' THEN regexp_replace(host0, ':443$', '')
                 ELSE host0 END) || path ||
           regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(query, '([?&])(?i:utm_[^&=]*|fbclid|gclid)(=[^&]*)?(&(?i:utm_[^&=]*|fbclid|gclid)(=[^&]*)?)*(&|$)', '\1', 'g'),
             '&{2,}', '&', 'g'), '^\?&', '?'), '[?&]$', '') AS url_canon
         FROM split)
       SELECT url_canon, count(*)::BIGINT AS n_variants, min(doc_id) AS keeper
       FROM canon GROUP BY url_canon"""

  val qStripMarkupSql: String =
    """SELECT doc_id,
         trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(text, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                   '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g'),
               '</?[A-Za-z][^>]*>|<![A-Za-z][^>]*>', ' ', 'g'),
             '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),
             '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
           '[ \t\n\f\r\x0b]+', ' ', 'g')) AS clean_text,
         len(list_distinct(list_transform(
           regexp_extract_all(text,
             '(?i)https?://(?:[^/@ \t\n\f\r\x0b]+@)?([A-Za-z0-9.-]+)', 1),
           h -> lower(h))))::BIGINT AS n_domains
       FROM documents"""

  /** CCNet-style normalization fold, then the portable fingerprint of the
    * NORMALIZED text — the canonical normalize-then-hash step of fuzzy
    * dedup. On the pure-ASCII corpus the fold reduces to digit-fold +
    * whitespace collapse + trim (the NFKD/mark-strip/lowercase steps are
    * no-ops there — NormalizeSpec pins them against an independent
    * unicode reference); the oracle mirrors the reduction exactly. */
  def qNormalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).df.select(col("doc_id"),
      TextOps.normalizeText(col("text")).as("norm_text"),
      TextOps.polyHash(TextOps.normalizeText(col("text"))).as("norm_fp"))

  val qNormalizeSql: String = {
    val norm = "trim(regexp_replace(regexp_replace(lower(text), '[0-9]', '0', 'g'), '[ \\t\\n\\f\\r\\x0b]+', ' ', 'g'))"
    s"SELECT doc_id, $norm AS norm_text, ${PolyFold.format(norm)} AS norm_fp FROM documents"
  }

  /** Multimodal plumbing: fake media bytes → native byte-statistics
    * features (codegen'd `ByteMean` expression over the binary payload) →
    * per-source feature aggregate. The per-doc feature values are exact
    * integer arithmetic, so the DuckDB oracle reproduces them
    * bit-identically (`decodeBatched`, the partition-batched codec slot,
    * computes the same values — asserted in BatchApiSpec). */
  def qMultimodal(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df
    val media = Multimodal.withFakeMedia(d, "text")
    val feats = Multimodal.byteFeatures(media, "doc_id")
    feats.join(d.select(col("doc_id").as("id"), col("source")), "id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col("byte_len")), 2).as("avg_bytes"),
        round(avg(col("mean_byte")), 4).as("avg_mean_byte"))
  }

  /** DuckDB mirror: the fake payload is the UTF-8 encoding of `text`
    * (pure ASCII in this corpus — asserted cheaply by octet_length =
    * length), so byte_len = octet_length and the byte sum = sum of
    * code points. */
  val qMultimodalSql: String =
    """WITH f AS (SELECT doc_id, source,
           octet_length(encode(text)) AS byte_len,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE list_reduce([0] || [ord(c)::BIGINT for c in string_split(text, '')],
                                 (a, c) -> a + c)::DOUBLE / octet_length(encode(text)) END AS mean_byte
         FROM documents)
       SELECT source, count(*) AS n_docs,
         round(avg(byte_len), 2) AS avg_bytes,
         round(avg(mean_byte), 4) AS avg_mean_byte
       FROM f GROUP BY source"""

  /** REAL image decode, end to end and oracle-checked: deterministic PNGs
    * (pixel (x,y) of doc d = gray ((d*31+7x+13y) mod 256), encoded through
    * the JDK PNG writer in the batched codec slot) are decoded back by
    * `decodeImageBatched` — true raster dims and Rec. 601 mean luminance —
    * and the DuckDB oracle reproduces the luminance from the closed form,
    * proving the encode → PNG container → decode → feature path exact.
    * (`byte_len` — the PNG container size — is the one column with no
    * closed form and is projected out.) */
  def qDecodeImage(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df.select(col("doc_id"))
    val media = Multimodal.synthesizeImages(d, "doc_id", 8, 8)
    Multimodal.decodeImageBatched(media, "doc_id")
      .select(col("id").as("doc_id"), col("decoded"), col("width"), col("height"),
        round(col("mean_luma"), 4).as("mean_luma"), col("format"))
  }

  val qDecodeImageSql: String =
    """SELECT doc_id, true AS decoded, 8 AS width, 8 AS height,
         round((SELECT avg(0.299*v + 0.587*v + 0.114*v) FROM (
           SELECT (((doc_id*31 + x*7 + y*13) % 256 + 256) % 256)::DOUBLE AS v
           FROM range(0,8) t(x), range(0,8) u(y)) s), 4) AS mean_luma,
         'image/png' AS format
       FROM documents"""

  /** REAL pixel-space resize, end to end and oracle-checked: 8×8 synthetic
    * PNGs resample to 4×4 through the explicit nearest-neighbor kernel
    * (target (tx,ty) reads source (2tx, 2ty)), re-encode, decode again,
    * and the oracle reproduces the resized luminance from the closed form
    * — encode → resize → re-encode → decode, exact at every stage. */
  def qResizeImage(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df.select(col("doc_id"))
    val media = Multimodal.synthesizeImages(d, "doc_id", 8, 8)
    val resized = Multimodal.resizeImageBatched(media, "doc_id", 4, 4)
    Multimodal.decodeImageBatched(resized, "id")
      .select(col("id").as("doc_id"), col("decoded"), col("width"), col("height"),
        round(col("mean_luma"), 4).as("mean_luma"), col("format"))
  }

  val qResizeImageSql: String =
    """SELECT doc_id, true AS decoded, 4 AS width, 4 AS height,
         round((SELECT avg(0.299*v + 0.587*v + 0.114*v) FROM (
           SELECT (((doc_id*31 + (2*x)*7 + (2*y)*13) % 256 + 256) % 256)::DOUBLE AS v
           FROM range(0,4) t(x), range(0,4) u(y)) s), 4) AS mean_luma,
         'image/png' AS format
       FROM documents"""

  /** REAL audio decode, the WAV sibling of [[qDecodeImage]]: deterministic
    * 16-bit PCM mono WAVs (sample i of doc d = ((d*131+17i) mod 2000) −
    * 1000 at 8 kHz) round-trip through the JDK audio stack, and the
    * oracle reproduces the full-scale RMS from the closed form. */
  def qDecodeAudio(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df.select(col("doc_id"))
    val media = Multimodal.synthesizeAudio(d, "doc_id", 400, 8000)
    Multimodal.decodeAudioBatched(media, "doc_id")
      .select(col("id").as("doc_id"), col("decoded"), col("sample_rate"),
        col("channels"), col("n_samples"),
        round(col("duration_s"), 4).as("duration_s"),
        round(col("rms"), 6).as("rms"))
  }

  val qDecodeAudioSql: String =
    """SELECT doc_id, true AS decoded, 8000 AS sample_rate, 1 AS channels,
         400::BIGINT AS n_samples, 0.05::DOUBLE AS duration_s,
         round((SELECT sqrt(avg(pow((((doc_id*131 + i*17) % 2000 + 2000) % 2000 - 1000)/32768.0, 2)))
           FROM range(0,400) t(i)), 6) AS rms
       FROM documents"""

  /** REAL audio sample-rate conversion, end to end and oracle-checked:
    * 8 kHz synthetic WAVs resample to 4 kHz through the explicit
    * nearest-frame kernel (target frame j reads source frame 2j),
    * re-encode, decode again, and the oracle reproduces the resampled
    * RMS from the closed form — the full decode → resample → re-encode →
    * decode chain, exact at every stage. */
  def qResampleAudio(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df.select(col("doc_id"))
    val media = Multimodal.synthesizeAudio(d, "doc_id", 400, 8000)
    val resampled = Multimodal.resampleAudioBatched(media, "doc_id", 4000)
    Multimodal.decodeAudioBatched(resampled, "id")
      .select(col("id").as("doc_id"), col("decoded"), col("sample_rate"),
        col("channels"), col("n_samples"),
        round(col("duration_s"), 4).as("duration_s"),
        round(col("rms"), 6).as("rms"))
  }

  val qResampleAudioSql: String =
    """SELECT doc_id, true AS decoded, 4000 AS sample_rate, 1 AS channels,
         200::BIGINT AS n_samples, 0.05::DOUBLE AS duration_s,
         round((SELECT sqrt(avg(pow((((doc_id*131 + (2*i)*17) % 2000 + 2000) % 2000 - 1000)/32768.0, 2)))
           FROM range(0,200) t(i)), 6) AS rms
       FROM documents"""

  /** REAL frame extraction, end to end and oracle-checked: 3-frame
    * synthetic GIFs explode to one `image/png` row per sampled frame
    * (frames 0 and 2 at every=2), each re-encoded frame decodes back
    * through the IMAGE decoder, and the oracle reproduces the per-frame
    * luminance from the closed form — GIF → composite → PNG → decode,
    * exact at every stage. The (doc, frame) pair rides one combined key
    * through the single-id decoder and splits back out after. */
  def qFramesVideo(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df.select(col("doc_id"))
    val media = Multimodal.synthesizeVideos(d, "doc_id", 8, 8, 3)
    val frames = Multimodal.explodeFramesBatched(media, "doc_id", every = 2)
    val keyed = frames.select((col("id") * 10 + col("frame_idx")).as("fid"),
      col("media"), col("media_meta"))
    Multimodal.decodeImageBatched(keyed, "fid")
      // floor-div to match pmod's flooring (`div` truncates toward zero,
      // which would mis-pair doc and frame for negative ids)
      .select(expr("(id - pmod(id, 10)) div 10").as("doc_id"),
        pmod(col("id"), lit(10)).cast("int").as("frame_idx"),
        col("decoded"), col("width"), col("height"),
        round(col("mean_luma"), 4).as("mean_luma"))
  }

  val qFramesVideoSql: String =
    """SELECT doc_id, f::INT AS frame_idx, true AS decoded, 8 AS width, 8 AS height,
         round((SELECT avg(0.299*v + 0.587*v + 0.114*v) FROM (
           SELECT (((doc_id*31 + f*97 + x*7 + y*13) % 256 + 256) % 256)::DOUBLE AS v
           FROM range(0,8) t(x), range(0,8) u(y)) s), 4) AS mean_luma
       FROM documents, (SELECT unnest([0, 2]) AS f) fr"""

  /** REAL video frame-sample + decode, the multi-frame sibling of
    * [[qDecodeImage]]: deterministic 6-frame animated GIFs (frame f,
    * pixel (x, y) of doc d = gray ((d*31 + f*97 + 7x + 13y) mod 256),
    * bit-exact through the indexed palette) round-trip through the JDK's
    * multi-frame imageio reader, every 2nd frame is decoded (frames 0, 2,
    * 4 — the skipped frames are never rasterized), and the oracle
    * reproduces the sampled-frame mean Rec. 601 luminance from the closed
    * form. */
  def qDecodeVideo(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).df.select(col("doc_id"))
    val media = Multimodal.synthesizeVideos(d, "doc_id", 8, 8, 6)
    Multimodal.decodeVideoBatched(media, "doc_id", every = 2)
      .select(col("id").as("doc_id"), col("decoded"), col("width"), col("height"),
        col("n_frames"), col("n_sampled"),
        round(col("mean_luma"), 4).as("mean_luma"), col("format"))
  }

  val qDecodeVideoSql: String =
    """SELECT doc_id, true AS decoded, 8 AS width, 8 AS height,
         6 AS n_frames, 3 AS n_sampled,
         round((SELECT avg(0.299*v + 0.587*v + 0.114*v) FROM (
           SELECT (((doc_id*31 + f*97 + x*7 + y*13) % 256 + 256) % 256)::DOUBLE AS v
           FROM range(0,6,2) s(f), range(0,8) t(x), range(0,8) u(y)) q), 4) AS mean_luma,
         'video/gif' AS format
       FROM documents"""

  /** `semanticDedupAuto` — the cells-∝-corpus SemDeDup face (codebook
    * sized by `Ivf.cellsFor`, so per-cell verification work stays
    * ~constant as the corpus grows). k is DATA-DEPENDENT (ceil(n/target))
    * but SQL-DERIVABLE: the oracle computes the same
    * least(65536, ceil(n/128)) as a scalar subquery feeding the Lloyd
    * unroll's init LIMIT, so the full rows+schema+hash check applies at
    * every scale factor. Exactness against the fixed-k face under the
    * same derived k is additionally spec-pinned (SemanticDedupSpec) and
    * the cell-population contract probed by StressBench `semauto`. */
  def qSemanticAuto(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).df
    graft.pipeline.Dedup.semanticDedupAuto(emb, "vec_id", "embedding",
      threshold = 0.4, targetCellSize = 128, iters = 2)
      .select(col("vec_id"))
  }

  /** IVF ANN: k-means cells + probe-limited exact search. Training is
    * deterministic (k lowest ids init, 2 fixed Lloyd rounds), so the oracle
    * mirrors the FULL pipeline in DuckDB — init, two unrolled
    * assign/update rounds, probe selection, in-cell search. Recall vs
    * brute force is asserted separately in IvfSpec. */
  def qIvfAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).df
    val centroids = graft.pipeline.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding"))
    graft.pipeline.Ivf.search(emb, queries, "vec_id", "embedding", "q_id",
      centroids, topK = 5, nProbe = 3)
  }

  /** Shared DuckDB Lloyd-unroll scaffolding, mirroring `Ivf.train`/
    * `Ivf.assign`: distances use the |p|²−2p·c+|c|² shape, assignment
    * ties break on the lower cid, updates drop empty cells. Each
    * generator reads a training CTE `e(vec_id, v)`. ONE copy serves the
    * qIvfAnn / qEmbedIngestIvf / qSemanticDedup mirrors so the fp
    * posture and tie-breaking cannot drift between oracles. Centroid
    * means differ from Spark's only by fp summation order (~1e-13), far
    * below any assignment or ranking decision margin. */
  private def ivfDist(p: String, c: String): String =
    s"list_dot_product($p, $p) - 2*list_dot_product($p, $c) + list_dot_product($c, $c)"
  private def ivfAssign(cent: String): String =
    s"""(SELECT vec_id, cid FROM (
          SELECT e.vec_id, c.cid,
            row_number() OVER (PARTITION BY e.vec_id
              ORDER BY ${ivfDist("e.v", "c.cv")}, c.cid) AS rn
          FROM e, $cent c) WHERE rn = 1)"""
  private def ivfUpdate(asg: String): String =
    s"""(SELECT cid, list(m ORDER BY pos) AS cv FROM (
          SELECT a.cid, t.pos, avg(e.v[t.pos]) AS m
          FROM $asg a JOIN e USING (vec_id),
               LATERAL (SELECT unnest(generate_series(1, len(e.v))) AS pos) t
          GROUP BY a.cid, t.pos) GROUP BY cid)"""

  /** DuckDB mirror of qIvfAnn: two unrolled Lloyd rounds then probed
    * search. */
  val qIvfAnnSql: String = {
    val dist = ivfDist _
    val assign = ivfAssign _
    val update = ivfUpdate _
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
               FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
        a1 AS ${assign("c0")},
        c1 AS ${update("a1")},
        a2 AS ${assign("c1")},
        c2 AS ${update("a2")},
        qc AS (SELECT q_id, qv, cid FROM (
            SELECT q.vec_id AS q_id, q.v AS qv, c.cid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${dist("q.v", "c.cv")}, c.cid) AS rn
            FROM e q, c2 c WHERE q.vec_id < 10) WHERE rn <= 3),
        a3 AS ${assign("c2")},
        scored AS (
          SELECT qc.q_id, e.vec_id, list_cosine_similarity(qc.qv, e.v) AS c
          FROM qc JOIN a3 ON a3.cid = qc.cid JOIN e ON e.vec_id = a3.vec_id
          WHERE e.vec_id <> qc.q_id)
        SELECT q_id, vec_id, round(c, 6) AS cos,
          row_number() OVER (PARTITION BY q_id ORDER BY c DESC, vec_id) AS rn
        FROM scored QUALIFY rn <= 5"""
  }

  /** IVF-routed cross-corpus embedding dedup (the beyond-broadcast face
    * of q_embed_ingest): train 8 cells on the reference third, probe 3
    * cells per arriving vector, verify exact cosine within probed cells,
    * keep non-matching arrivals. An equi-join plan — no |batch|×|ref|
    * product anywhere. */
  def qEmbedIngestIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).df
    val ref = emb.where(col("vec_id") % 3 =!= 0)
    val centroids = graft.pipeline.Ivf.train(ref, "vec_id", "embedding", k = 8, iters = 2)
    Dedup.embeddingDedupAgainstCorpusIvf(
      graft.api.MStream(emb.where(col("vec_id") % 3 === 0)), ref,
      "vec_id", "embedding", threshold = 0.4, centroids, nProbe = 3)
      .df.select(col("vec_id"), col("label"))
  }

  /** DuckDB mirror of qEmbedIngestIvf: the qIvfAnn two-round Lloyd
    * unroll trained on the reference third, then probe-and-verify. Same
    * fp-parity posture as qIvfAnnSql (centroid means differ only by
    * summation order, far below assignment margins). */
  val qEmbedIngestIvfSql: String = {
    val dist = ivfDist _
    val assign = ivfAssign _
    val update = ivfUpdate _
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
                   WHERE vec_id % 3 <> 0),
        c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
               FROM (SELECT * FROM e ORDER BY vec_id LIMIT 8)),
        a1 AS ${assign("c0")},
        c1 AS ${update("a1")},
        a2 AS ${assign("c1")},
        c2 AS ${update("a2")},
        a3 AS ${assign("c2")},
        qc AS (SELECT q_id, qv, cid FROM (
            SELECT q.vec_id AS q_id, q.embedding::DOUBLE[] AS qv, c.cid,
              row_number() OVER (PARTITION BY q.vec_id
                ORDER BY ${dist("q.embedding::DOUBLE[]", "c.cv")}, c.cid) AS rn
            FROM embeddings q, c2 c WHERE q.vec_id % 3 = 0) WHERE rn <= 3),
        matched AS (
          SELECT DISTINCT qc.q_id
          FROM qc JOIN a3 ON a3.cid = qc.cid JOIN e ON e.vec_id = a3.vec_id
          WHERE list_cosine_similarity(qc.qv, e.v) >= 0.4)
        SELECT vec_id, label FROM embeddings
        WHERE vec_id % 3 = 0 AND vec_id NOT IN (SELECT q_id FROM matched)"""
  }

  /** SemDeDup semantic dedup: 8 k-means cells over the embeddings, exact
    * cosine >= 0.4 within cells, transitive grouping, min-id survivor. */
  def qSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).df
    val centroids = graft.pipeline.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    Dedup.semanticDedup(emb, "vec_id", "embedding", centroids, threshold = 0.4)
      .select(col("vec_id"), col("label"))
  }

  /** The SemDeDup cluster CTE chain (Lloyd unroll → cell assignment →
    * within-cell cosine pairs → recursive CC) shared by the keep-min,
    * keep-best and auto-sized mirrors — ONE fragment, like the Scala
    * side's `Dedup.semanticClusters`. `limitExpr` is the codebook size:
    * a literal for the fixed-k faces, a scalar subquery over `extraCtes`
    * for the auto face (k = ceil(n/target) is data-dependent but
    * SQL-derivable — DuckDB accepts expression LIMIT). */
  private def semanticClusterCtesK(limitExpr: String, extraCtes: String = ""): String = {
    val assign = ivfAssign _
    val update = ivfUpdate _
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),$extraCtes
        c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, v AS cv
               FROM (SELECT * FROM e ORDER BY vec_id LIMIT $limitExpr)),
        a1 AS ${assign("c0")},
        c1 AS ${update("a1")},
        a2 AS ${assign("c1")},
        c2 AS ${update("a2")},
        a3 AS ${assign("c2")},
        ce AS (SELECT e.vec_id, e.v, a.cid FROM e JOIN a3 a USING (vec_id)),
        pairs AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
                  FROM ce x JOIN ce y ON x.cid = y.cid AND x.vec_id < y.vec_id
                  WHERE list_cosine_similarity(x.v, y.v) >= 0.4),
        edges AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
        cc(node, label) AS (
          SELECT u, u FROM edges
          UNION
          SELECT ed.v, cc.label FROM cc JOIN edges ed ON cc.node = ed.u)"""
  }
  private val semanticClusterCtes: String = semanticClusterCtesK("8")

  /** DuckDB mirror of qSemanticAuto: identical to qSemanticDedupSql
    * except the codebook size is the `Ivf.cellsFor(n, 128)` contract
    * derived in SQL — kk's scalar feeds the init CTE's LIMIT. */
  val qSemanticAutoSql: String = {
    val ctes = semanticClusterCtesK("(SELECT k FROM kk)",
      extraCtes = """
        kk AS (SELECT least(65536, (count(*) - 1) // 128 + 1) AS k FROM e),""")
    s"""WITH RECURSIVE $ctes,
        dropped AS (SELECT node FROM (SELECT node, min(label) AS l FROM cc GROUP BY node)
                    WHERE l <> node)
        SELECT vec_id FROM embeddings
        WHERE vec_id NOT IN (SELECT node FROM dropped)"""
  }

  /** DuckDB mirror: the qIvfAnn Lloyd unroll for cell assignment, then
    * within-cell cosine pairs, recursive-CTE connected components, and
    * the survivor anti-filter (the qDedupCorpus CC shape). */
  val qSemanticDedupSql: String =
    s"""WITH RECURSIVE $semanticClusterCtes,
        dropped AS (SELECT node FROM (SELECT node, min(label) AS l FROM cc GROUP BY node)
                    WHERE l <> node)
        SELECT vec_id, label FROM embeddings
        WHERE vec_id NOT IN (SELECT node FROM dropped)"""

  /** Keep-BEST SemDeDup: same clustering, the survivor maximizes the L2
    * norm (ties → lower id) — the generalized election (pass any score;
    * the norm folds in position order on both engines, so the argmax is
    * engine-exact). */
  def qSemanticKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir).df
    val centroids = graft.pipeline.Ivf.train(emb, "vec_id", "embedding", k = 8, iters = 2)
    Dedup.semanticDedupKeepBest(emb, "vec_id", "embedding", centroids,
        threshold = 0.4,
        scoreCol = Similarity.norm(col("embedding").cast("array<double>")))
      .select(col("vec_id"), col("label"))
  }

  val qSemanticKeepBestSql: String =
    s"""WITH RECURSIVE $semanticClusterCtes,
        labels AS (SELECT node, min(label) AS lbl FROM cc GROUP BY node),
        whole AS (SELECT emb.vec_id, coalesce(labels.lbl, emb.vec_id) AS lbl,
                    sqrt(list_reduce([0.0] || [x * x for x in emb.v], (a, x) -> a + x)) AS s
                  FROM e emb LEFT JOIN labels ON labels.node = emb.vec_id),
        ranked AS (SELECT vec_id,
                     row_number() OVER (PARTITION BY lbl ORDER BY s DESC, vec_id) AS rn
                   FROM whole)
        SELECT vec_id, label FROM embeddings
        WHERE vec_id IN (SELECT vec_id FROM ranked WHERE rn = 1)"""

  /** Repeated-passage spans: maximal runs of 6-token grams occurring in
    * >= 2 distinct docs (Lee et al. exact-substring dedup, k-gram form).
    * The oracle rebuilds the spans from the gram STRINGS — fully
    * independent of the Spark side's hash-candidates-then-verify path. */
  def qRepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.repeatedSpans(Tables.documents(spark, dir).df, "doc_id", "text",
      k = 6, minDocs = 2)

  /** The duplicated-span CTE chain (words → positional grams → repeated
    * grams → gaps-and-islands → `spans(doc_id, span_start, span_len)`),
    * shared by both span-dedup oracles so the mirrors cannot drift. */
  private def spanCtes(k: Int, minDocs: Int, excludeCanonical: Boolean = false): String = {
    val canon = if (excludeCanonical) " AND doc_id <> cdoc" else ""
    s"""words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        pos AS (SELECT doc_id,
                  unnest(range(0, len(w) - ${k - 1})) AS p,
                  unnest([array_to_string(w[i:i+${k - 1}], ' ') for i in range(1, len(w) - ${k - 2})]) AS g
                FROM words WHERE len(w) >= $k),
        rep AS (SELECT g FROM pos GROUP BY g HAVING count(DISTINCT doc_id) >= $minDocs),
        dupc AS (SELECT doc_id, p, min(doc_id) OVER (PARTITION BY g) AS cdoc
                 FROM pos WHERE g IN (SELECT g FROM rep)),
        dup AS (SELECT doc_id, p, p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
                FROM dupc WHERE true$canon),
        spans AS (SELECT doc_id, min(p) AS span_start, max(p) - min(p) + $k AS span_len
                  FROM dup GROUP BY doc_id, grp)"""
  }

  val qRepeatedSpansSql: String =
    s"WITH ${spanCtes(6, 2)} SELECT doc_id, span_start, span_len FROM spans"

  /** Boilerplate scrub: drop every token covered by a repeated span from
    * every doc; per-doc kept-token count + portable hash of the surviving
    * text (array-free — the oracle verifies the exact remaining content). */
  def qSpanScrub(spark: SparkSession, dir: String): DataFrame =
    Dedup.scrubRepeatedSpans(Tables.documents(spark, dir).df, "doc_id", "text",
      k = 6, minDocs = 2)

  private val PolyKept =
    "list_reduce([0] || [ord(c)::BIGINT for c in string_split(array_to_string(kept, ' '), '')], (a, c) -> (a * 31 + c) % 1000000007)"

  /** Keep-one-canonical scrub (Lee et al. semantics): every duplicated
    * span is removed EXCEPT each gram's minimum-doc occurrence — exactly
    * one copy of every duplicated passage survives in the corpus. */
  def qSpanKeepone(spark: SparkSession, dir: String): DataFrame =
    Dedup.scrubRepeatedSpans(Tables.documents(spark, dir).df, "doc_id", "text",
      k = 6, minDocs = 2, keepCanonical = true)

  val qSpanKeeponeSql: String =
    s"""WITH ${spanCtes(6, 2, excludeCanonical = true)},
        spa AS (SELECT doc_id, list({'s': span_start, 'e': span_start + span_len}) AS sp
                FROM spans GROUP BY doc_id),
        keep AS (SELECT w.doc_id AS doc_id,
                   [w.w[i + 1] for i in range(0, len(w.w))
                    if sp IS NULL OR len(list_filter(sp, x -> i >= x.s AND i < x.e)) = 0] AS kept
                 FROM words w LEFT JOIN spa USING (doc_id))
        SELECT doc_id, len(kept)::BIGINT AS n_kept,
          CASE WHEN len(kept) = 0 THEN 0 ELSE $PolyKept END AS kept_hash
        FROM keep"""

  val qSpanScrubSql: String =
    s"""WITH ${spanCtes(6, 2)},
        spa AS (SELECT doc_id, list({'s': span_start, 'e': span_start + span_len}) AS sp
                FROM spans GROUP BY doc_id),
        keep AS (SELECT w.doc_id AS doc_id,
                   [w.w[i + 1] for i in range(0, len(w.w))
                    if sp IS NULL OR len(list_filter(sp, x -> i >= x.s AND i < x.e)) = 0] AS kept
                 FROM words w LEFT JOIN spa USING (doc_id))
        SELECT doc_id, len(kept)::BIGINT AS n_kept,
          CASE WHEN len(kept) = 0 THEN 0 ELSE $PolyKept END AS kept_hash
        FROM keep"""

  /** Maximal exact-substring mining (variable-length complement of
    * q_repeated_spans): for every 6-gram anchor occurring in >= 2 docs,
    * the longest substring some other occurrence extends to (bounded at
    * 6 + 12 tokens), per-doc containment-pruned, with the span's content
    * hash. The ORACLE uses the direct definition — max common extension
    * over ALL other occurrences via a per-gram pairwise join (duplicate-
    * mass bounded at oracle scale) — fully independent of the Spark
    * side's sorted-neighbor LCP shortcut, which MaximalRepeatsProps pins
    * to this same definition on random corpora. */
  def qExactSubstr(spark: SparkSession, dir: String): DataFrame =
    Dedup.maximalRepeats(Tables.documents(spark, dir).df, "doc_id", "text",
      minLen = 6, maxExtend = 12, minDocs = 2)

  val qExactSubstrSql: String = {
    // sentinel false appended so list_position always finds a mismatch
    // (its not-found return differs across engines/versions); the outer
    // least() is then only the all-equal-same-length clamp
    def lcp(a: String, b: String): String =
      s"""least(list_position([coalesce($a[i] = $b[i], false)
            for i in range(1, greatest(len($a), len($b)) + 1)] || [false], false) - 1,
          least(len($a), len($b)))"""
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        pos AS (SELECT doc_id,
                  unnest(range(0, len(w) - 5)) AS p,
                  unnest([array_to_string(w[i:i+5], ' ') for i in range(1, len(w) - 4)]) AS g
                FROM words WHERE len(w) >= 6),
        rep AS (SELECT g FROM pos GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        cand AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.p AS p, p.g AS g,
                  w.w[p.p + 7 : p.p + 18] AS ext
                FROM pos p JOIN words w ON p.doc_id = w.doc_id
                WHERE p.g IN (SELECT g FROM rep)),
        ml AS (SELECT a.doc_id AS doc_id, a.p AS p, any_value(a.g) AS g,
                 any_value(a.ext) AS ext, max(${lcp("a.ext", "b.ext")}) AS ml
               FROM cand a JOIN cand b
                 ON a.g = b.g AND (a.doc_id <> b.doc_id OR a.p <> b.p)
               GROUP BY a.doc_id, a.p),
        spans0 AS (SELECT doc_id, p AS span_start, 6 + ml AS span_len,
                     p + 6 + ml AS e,
                     CASE WHEN ml = 0 THEN g
                          ELSE g || ' ' || array_to_string(ext[1:ml], ' ') END AS txt
                   FROM ml),
        pruned AS (SELECT doc_id, span_start, span_len, e, txt,
                     max(e) OVER (PARTITION BY doc_id ORDER BY span_start, span_len DESC
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxprev
                   FROM spans0)
        SELECT doc_id, span_start::BIGINT AS span_start, span_len::BIGINT AS span_len,
          list_reduce([0] || [ord(c)::BIGINT for c in string_split(txt, '')],
                      (a, c) -> (a * 31 + c) % 1000000007) AS span_hash
        FROM pruned WHERE maxprev IS NULL OR e > maxprev"""
  }

  /** Ingest-time boilerplate scrub against a static reference corpus
    * (every 20th doc plays the curated-boilerplate role): tokens covered
    * by any reference 6-gram are dropped; per-doc kept count + portable
    * hash of the surviving text. Exercises the batch branch of the
    * dual-mode `scrubKnownSpans`; the streaming branch is pinned equal to
    * it by SpanDedupSpec. */
  def qKnownScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val ref = docs.df.where(col("doc_id") % 20 === 0)
    Dedup.scrubKnownSpans(docs, "doc_id", "text", ref, "text", k = 6)
      .df.select(col("doc_id"), col("n_kept"),
        TextOps.polyHash(col("scrubbed")).as("kept_hash"))
  }

  val qKnownScrubSql: String =
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        refg AS (SELECT DISTINCT unnest([array_to_string(w[i:i+5], ' ') for i in range(1, len(w) - 4)]) AS g
                 FROM words WHERE doc_id % 20 = 0 AND len(w) >= 6),
        pos AS (SELECT doc_id,
                  unnest(range(0, len(w) - 5)) AS p,
                  unnest([array_to_string(w[i:i+5], ' ') for i in range(1, len(w) - 4)]) AS g
                FROM words WHERE len(w) >= 6),
        m AS (SELECT doc_id, list(p) AS ps FROM pos
              WHERE g IN (SELECT g FROM refg) GROUP BY doc_id),
        keep AS (SELECT w.doc_id AS doc_id,
                   [w.w[i + 1] for i in range(0, len(w.w))
                    if ps IS NULL OR len(list_filter(ps, p -> p <= i AND i < p + 6)) = 0] AS kept
                 FROM words w LEFT JOIN m USING (doc_id))
        SELECT doc_id, len(kept)::BIGINT AS n_kept,
          CASE WHEN len(kept) = 0 THEN 0 ELSE $PolyKept END AS kept_hash
        FROM keep"""

  /** CCNet-style bigram-LM quality score: the model trains on the corpus
    * itself, each doc scored by average smoothed pair log-likelihood. */
  def qLmScore(spark: SparkSession, dir: String): DataFrame =
    TextOps.lmScore(graft.api.MStream(Tables.documents(spark, dir).df),
      LmSpec(2, LmSpec.AddAlpha()), "doc_id", "text").df

  val qLmScoreSql: String =
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        pairs AS (SELECT doc_id,
                    unnest(w[1:len(w) - 1]) AS u, unnest(w[2:len(w)]) AS v
                  FROM words WHERE len(w) >= 2),
        bc AS (SELECT u, v, count(*) AS c FROM pairs GROUP BY u, v),
        cc AS (SELECT u, sum(c) AS cu FROM bc GROUP BY u),
        vv AS (SELECT count(DISTINCT v) AS V FROM bc),
        agg AS (SELECT p.doc_id AS doc_id, count(*) AS n_pairs,
                  round(avg(ln((bc.c + 0.5) / (cc.cu + 0.5 * vv.V))), 3) AS avg_logprob
                FROM pairs p JOIN bc ON p.u = bc.u AND p.v = bc.v
                             JOIN cc ON p.u = cc.u CROSS JOIN vv
                GROUP BY p.doc_id)
        SELECT d.doc_id, coalesce(a.n_pairs, 0)::BIGINT AS n_pairs, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** Interpolated trigram-LM quality score (the KenLM-direction upgrade
    * of q_lm_score): Jelinek-Mercer λ = (0.6, 0.3, 0.1), add-0.5
    * smoothing, V = distinct unigrams. The oracle rebuilds all three
    * count tables and the interpolation relationally. */
  def qLm3Score(spark: SparkSession, dir: String): DataFrame =
    TextOps.lmScore(graft.api.MStream(Tables.documents(spark, dir).df),
      LmSpec(3, LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)), countCol = Some("n_tris")),
      "doc_id", "text").df

  val qLm3ScoreSql: String =
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        toks AS (SELECT unnest(w) AS t FROM words),
        c1 AS (SELECT t, count(*) AS c1 FROM toks GROUP BY t),
        nv AS (SELECT sum(c1)::DOUBLE AS n, count(*)::DOUBLE AS vv FROM c1),
        prs AS (SELECT unnest(w[1:len(w) - 1]) AS v, unnest(w[2:len(w)]) AS t
                FROM words WHERE len(w) >= 2),
        c2 AS (SELECT v, t, count(*) AS c2 FROM prs GROUP BY v, t),
        c2x AS (SELECT v, sum(c2) AS c2x FROM c2 GROUP BY v),
        tris AS (SELECT doc_id, unnest(w[1:len(w) - 2]) AS u,
                   unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t
                 FROM words WHERE len(w) >= 3),
        c3 AS (SELECT u, v, t, count(*) AS c3 FROM tris GROUP BY u, v, t),
        c3x AS (SELECT u, v, sum(c3) AS c3x FROM c3 GROUP BY u, v),
        agg AS (SELECT p.doc_id AS doc_id, count(*) AS n_tris,
                  round(avg(ln(
                    0.6 * (c3.c3 + 0.5) / (c3x.c3x + nv.vv * 0.5)
                    + 0.3 * (c2.c2 + 0.5) / (c2x.c2x + nv.vv * 0.5)
                    + 0.1 * (c1.c1 + 0.5) / (nv.n + nv.vv * 0.5))), 3) AS avg_logprob
                FROM tris p
                JOIN c3 ON p.u = c3.u AND p.v = c3.v AND p.t = c3.t
                JOIN c3x ON p.u = c3x.u AND p.v = c3x.v
                JOIN c2 ON p.v = c2.v AND p.t = c2.t
                JOIN c2x ON p.v = c2x.v
                JOIN c1 ON p.t = c1.t CROSS JOIN nv
                GROUP BY p.doc_id)
        SELECT d.doc_id, coalesce(a.n_tris, 0)::BIGINT AS n_tris, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** Order-5 interpolated LM quality score — the 5-gram shape real CCNet
    * pipelines score with (JM smoothing over add-0.5 estimates; KenLM's
    * modified Kneser-Ney is the documented deviation). The oracle
    * rebuilds all five count tables and the suffix-aligned interpolation
    * relationally. */
  def qLm5Score(spark: SparkSession, dir: String): DataFrame =
    TextOps.lmScore(graft.api.MStream(Tables.documents(spark, dir).df),
      LmSpec(5, LmSpec.JelinekMercer(0.5, Seq(0.4, 0.25, 0.15, 0.12, 0.08))),
      "doc_id", "text").df

  /** The oracle mirror pins the join ORDER stepwise (MATERIALIZED CTEs,
    * each a 1:1 keyed join chain): letting the engine reorder the flat
    * 9-join graph invites a many-to-many context-table pairing
    * (c5x ⋈ c4 on a shared context is quadratic per hot context —
    * observed as a DuckDB hang at sf0.01). Spark's side executes the
    * as-written fold, which is the same stepwise chain. */
  val qLm5ScoreSql: String =
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        toks AS (SELECT unnest(w) AS e FROM words),
        c1 AS MATERIALIZED (SELECT e, count(*) AS c1 FROM toks GROUP BY e),
        nv AS MATERIALIZED (SELECT sum(c1)::DOUBLE AS n, count(*)::DOUBLE AS vv FROM c1),
        g2 AS (SELECT unnest(w[1:len(w) - 1]) AS d, unnest(w[2:len(w)]) AS e FROM words WHERE len(w) >= 2),
        c2 AS MATERIALIZED (SELECT d, e, count(*) AS c2 FROM g2 GROUP BY d, e),
        c2x AS MATERIALIZED (SELECT d, sum(c2) AS c2x FROM c2 GROUP BY d),
        g3 AS (SELECT unnest(w[1:len(w) - 2]) AS c, unnest(w[2:len(w) - 1]) AS d, unnest(w[3:len(w)]) AS e FROM words WHERE len(w) >= 3),
        c3 AS MATERIALIZED (SELECT c, d, e, count(*) AS c3 FROM g3 GROUP BY c, d, e),
        c3x AS MATERIALIZED (SELECT c, d, sum(c3) AS c3x FROM c3 GROUP BY c, d),
        g4 AS (SELECT unnest(w[1:len(w) - 3]) AS b, unnest(w[2:len(w) - 2]) AS c, unnest(w[3:len(w) - 1]) AS d, unnest(w[4:len(w)]) AS e FROM words WHERE len(w) >= 4),
        c4 AS MATERIALIZED (SELECT b, c, d, e, count(*) AS c4 FROM g4 GROUP BY b, c, d, e),
        c4x AS MATERIALIZED (SELECT b, c, d, sum(c4) AS c4x FROM c4 GROUP BY b, c, d),
        g5 AS (SELECT doc_id, unnest(w[1:len(w) - 4]) AS a, unnest(w[2:len(w) - 3]) AS b, unnest(w[3:len(w) - 2]) AS c, unnest(w[4:len(w) - 1]) AS d, unnest(w[5:len(w)]) AS e FROM words WHERE len(w) >= 5),
        c5 AS MATERIALIZED (SELECT a, b, c, d, e, count(*) AS c5 FROM g5 GROUP BY a, b, c, d, e),
        c5x AS MATERIALIZED (SELECT a, b, c, d, sum(c5) AS c5x FROM c5 GROUP BY a, b, c, d),
        j5 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.b AS b, p.c AS c, p.d AS d, p.e AS e,
            0.4 * (c5.c5 + 0.5) / (c5x.c5x + nv.vv * 0.5) AS t5, nv.n AS n, nv.vv AS vv
          FROM g5 p
          JOIN c5 ON p.a = c5.a AND p.b = c5.b AND p.c = c5.c AND p.d = c5.d AND p.e = c5.e
          JOIN c5x ON p.a = c5x.a AND p.b = c5x.b AND p.c = c5x.c AND p.d = c5x.d
          CROSS JOIN nv),
        j4 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.c AS c, p.d AS d, p.e AS e, p.t5 AS t5, p.n AS n, p.vv AS vv,
            0.25 * (c4.c4 + 0.5) / (c4x.c4x + p.vv * 0.5) AS t4
          FROM j5 p
          JOIN c4 ON p.b = c4.b AND p.c = c4.c AND p.d = c4.d AND p.e = c4.e
          JOIN c4x ON p.b = c4x.b AND p.c = c4x.c AND p.d = c4x.d),
        j3 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.d AS d, p.e AS e, p.t5 AS t5, p.t4 AS t4, p.n AS n, p.vv AS vv,
            0.15 * (c3.c3 + 0.5) / (c3x.c3x + p.vv * 0.5) AS t3
          FROM j4 p
          JOIN c3 ON p.c = c3.c AND p.d = c3.d AND p.e = c3.e
          JOIN c3x ON p.c = c3x.c AND p.d = c3x.d),
        j2 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.e AS e, p.t5 AS t5, p.t4 AS t4, p.t3 AS t3, p.n AS n, p.vv AS vv,
            0.12 * (c2.c2 + 0.5) / (c2x.c2x + p.vv * 0.5) AS t2
          FROM j3 p
          JOIN c2 ON p.d = c2.d AND p.e = c2.e
          JOIN c2x ON p.d = c2x.d),
        agg AS (SELECT p.doc_id AS doc_id, count(*) AS n_grams,
            round(avg(ln(p.t5 + p.t4 + p.t3 + p.t2
              + 0.08 * (c1.c1 + 0.5) / (p.n + p.vv * 0.5))), 3) AS avg_logprob
          FROM j2 p JOIN c1 ON p.e = c1.e
          GROUP BY p.doc_id)
        SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** The CCNet ingest shape at order 3: every document scored against a
    * PRETRAINED trigram model (ref = the src0-src3 slice — the
    * Wikipedia-analog); contexts unseen in the reference back off through
    * the left-join smoothed floor, which the self-scoring q_lm3_score
    * never exercises. */
  def qLm3Against(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
    TextOps.lmScore(graft.api.MStream(docs),
      LmSpec(3, LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)), countCol = Some("n_tris")),
      "doc_id", "text", Some(LmRef(ref, "text"))).df
  }

  val qLm3AgainstSql: String =
    s"""WITH rwords AS (SELECT list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w
                        FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')),
        c1 AS (SELECT t, count(*) AS c1 FROM (SELECT unnest(w) AS t FROM rwords) GROUP BY t),
        nv AS (SELECT sum(c1)::DOUBLE AS n, count(*)::DOUBLE AS vv FROM c1),
        prs AS (SELECT unnest(w[1:len(w) - 1]) AS v, unnest(w[2:len(w)]) AS t
                FROM rwords WHERE len(w) >= 2),
        c2 AS (SELECT v, t, count(*) AS c2 FROM prs GROUP BY v, t),
        c2x AS (SELECT v, sum(c2) AS c2x FROM c2 GROUP BY v),
        rtris AS (SELECT unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v,
                    unnest(w[3:len(w)]) AS t
                  FROM rwords WHERE len(w) >= 3),
        c3 AS (SELECT u, v, t, count(*) AS c3 FROM rtris GROUP BY u, v, t),
        c3x AS (SELECT u, v, sum(c3) AS c3x FROM c3 GROUP BY u, v),
        words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        tris AS (SELECT doc_id, unnest(w[1:len(w) - 2]) AS u,
                   unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t
                 FROM words WHERE len(w) >= 3),
        agg AS (SELECT p.doc_id AS doc_id, count(*) AS n_tris,
                  round(avg(ln(
                    0.6 * (coalesce(c3.c3, 0) + 0.5) / (coalesce(c3x.c3x, 0) + nv.vv * 0.5)
                    + 0.3 * (coalesce(c2.c2, 0) + 0.5) / (coalesce(c2x.c2x, 0) + nv.vv * 0.5)
                    + 0.1 * (coalesce(c1.c1, 0) + 0.5) / (nv.n + nv.vv * 0.5))), 3) AS avg_logprob
                FROM tris p
                LEFT JOIN c3 ON p.u = c3.u AND p.v = c3.v AND p.t = c3.t
                LEFT JOIN c3x ON p.u = c3x.u AND p.v = c3x.v
                LEFT JOIN c2 ON p.v = c2.v AND p.t = c2.t
                LEFT JOIN c2x ON p.v = c2x.v
                LEFT JOIN c1 ON p.t = c1.t CROSS JOIN nv
                GROUP BY p.doc_id)
        SELECT d.doc_id, coalesce(a.n_tris, 0)::BIGINT AS n_tris, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** Interpolated Kneser-Ney trigram score over the corpus itself —
    * the KenLM smoothing family at a fixed discount (0.75): continuation
    * counts below the top order, uniform 1/(V+1) floor. The oracle
    * rebuilds raw + continuation count tables and the interpolation
    * relationally, stepwise-MATERIALIZED like q_lm5_score; on the self
    * face every back-off guard is true by construction, so the SQL is
    * the guard-free nested formula. */
  def qKn3Score(spark: SparkSession, dir: String): DataFrame =
    TextOps.lmScore(graft.api.MStream(Tables.documents(spark, dir).df),
      LmSpec(3, LmSpec.KneserNey()), "doc_id", "text").df

  val qKn3ScoreSql: String =
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        g2 AS (SELECT unnest(w[1:len(w) - 1]) AS v, unnest(w[2:len(w)]) AS t FROM words WHERE len(w) >= 2),
        c2 AS MATERIALIZED (SELECT v, t, count(*) AS c2 FROM g2 GROUP BY v, t),
        g3 AS (SELECT doc_id, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM words WHERE len(w) >= 3),
        c3 AS MATERIALIZED (SELECT u, v, t, count(*) AS c3 FROM g3 GROUP BY u, v, t),
        ctx3 AS MATERIALIZED (SELECT u, v, sum(c3) AS tot3, count(*) AS n1p3 FROM c3 GROUP BY u, v),
        cc2 AS MATERIALIZED (SELECT v, t, count(*) AS cc2 FROM c3 GROUP BY v, t),
        ctxc2 AS MATERIALIZED (SELECT v, sum(cc2) AS ctot2, count(*) AS n1p2 FROM cc2 GROUP BY v),
        cc1 AS MATERIALIZED (SELECT t, count(*) AS cc1 FROM c2 GROUP BY t),
        st AS MATERIALIZED (SELECT (SELECT sum(cc1)::DOUBLE FROM cc1) AS t1,
               (SELECT count(*) FROM cc1) AS n1p1,
               (SELECT count(DISTINCT tk) FROM (SELECT unnest(w) AS tk FROM words)) AS v),
        j3 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.v AS v, p.t AS t, c3.c3 AS c3, ctx3.tot3 AS tot3, ctx3.n1p3 AS n1p3
          FROM g3 p
          JOIN c3 ON p.u = c3.u AND p.v = c3.v AND p.t = c3.t
          JOIN ctx3 ON p.u = ctx3.u AND p.v = ctx3.v),
        j2 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.t AS t, p.c3 AS c3, p.tot3 AS tot3, p.n1p3 AS n1p3,
            cc2.cc2 AS cc2, ctxc2.ctot2 AS ctot2, ctxc2.n1p2 AS n1p2
          FROM j3 p
          JOIN cc2 ON p.v = cc2.v AND p.t = cc2.t
          JOIN ctxc2 ON p.v = ctxc2.v),
        agg AS (SELECT p.doc_id AS doc_id, count(*) AS n_grams,
            round(avg(ln(
              greatest(p.c3 - 0.75, 0.0) / p.tot3 + 0.75 * p.n1p3 / p.tot3 *
                (greatest(p.cc2 - 0.75, 0.0) / p.ctot2 + 0.75 * p.n1p2 / p.ctot2 *
                  (greatest(cc1.cc1 - 0.75, 0.0) / st.t1 + 0.75 * st.n1p1 / st.t1 * (1.0 / (st.v + 1.0)))))), 3) AS avg_logprob
          FROM j2 p JOIN cc1 ON p.t = cc1.t CROSS JOIN st
          GROUP BY p.doc_id)
        SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** Kneser-Ney scoring against a PRETRAINED reference (ref = the
    * src0-src3 slice) — the literal CCNet shape. Unseen contexts
    * exercise the full-back-off CASE branches (level skip, continuation
    * coalesce, uniform floor) that the self face never reaches. */
  def qKn3Against(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
    TextOps.lmScore(graft.api.MStream(docs), LmSpec(3, LmSpec.KneserNey()),
      "doc_id", "text", Some(LmRef(ref, "text"))).df
  }

  /** The shared KN-against model + scoring CTE chain (train on the
    * src0-src3 slice, score ALL documents through the back-off CASEs),
    * ending at the per-doc `agg` CTE — interpolated into BOTH
    * q_kn3_against and q_ppl_against so the two oracles cannot drift. */
  private val knAgainstChainSql: String =
    s"""WITH rwords AS (SELECT list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w
                FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')),
        g2 AS (SELECT unnest(w[1:len(w) - 1]) AS v, unnest(w[2:len(w)]) AS t FROM rwords WHERE len(w) >= 2),
        c2 AS MATERIALIZED (SELECT v, t, count(*) AS c2 FROM g2 GROUP BY v, t),
        g3r AS (SELECT unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM rwords WHERE len(w) >= 3),
        c3 AS MATERIALIZED (SELECT u, v, t, count(*) AS c3 FROM g3r GROUP BY u, v, t),
        ctx3 AS MATERIALIZED (SELECT u, v, sum(c3) AS tot3, count(*) AS n1p3 FROM c3 GROUP BY u, v),
        cc2 AS MATERIALIZED (SELECT v, t, count(*) AS cc2 FROM c3 GROUP BY v, t),
        ctxc2 AS MATERIALIZED (SELECT v, sum(cc2) AS ctot2, count(*) AS n1p2 FROM cc2 GROUP BY v),
        cc1 AS MATERIALIZED (SELECT t, count(*) AS cc1 FROM c2 GROUP BY t),
        st AS MATERIALIZED (SELECT (SELECT sum(cc1)::DOUBLE FROM cc1) AS t1,
               (SELECT count(*) FROM cc1) AS n1p1,
               (SELECT count(DISTINCT tk) FROM (SELECT unnest(w) AS tk FROM rwords)) AS v),
        words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        tris AS (SELECT doc_id, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM words WHERE len(w) >= 3),
        j3 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.v AS v, p.t AS t, c3.c3 AS c3, ctx3.tot3 AS tot3, ctx3.n1p3 AS n1p3
          FROM tris p
          LEFT JOIN c3 ON p.u = c3.u AND p.v = c3.v AND p.t = c3.t
          LEFT JOIN ctx3 ON p.u = ctx3.u AND p.v = ctx3.v),
        j2 AS MATERIALIZED (SELECT p.*, cc2.cc2 AS cc2, ctxc2.ctot2 AS ctot2, ctxc2.n1p2 AS n1p2
          FROM j3 p
          LEFT JOIN cc2 ON p.v = cc2.v AND p.t = cc2.t
          LEFT JOIN ctxc2 ON p.v = ctxc2.v),
        j1 AS MATERIALIZED (SELECT p.*,
            greatest(coalesce(cc1.cc1, 0) - 0.75, 0.0) / st.t1
              + 0.75 * st.n1p1 / st.t1 * (1.0 / (st.v + 1.0)) AS p1
          FROM j2 p LEFT JOIN cc1 ON p.t = cc1.t CROSS JOIN st),
        jp AS (SELECT doc_id,
            CASE WHEN coalesce(ctot2, 0) > 0
              THEN greatest(coalesce(cc2, 0) - 0.75, 0.0) / ctot2 + 0.75 * n1p2 / ctot2 * p1
              ELSE p1 END AS p2, c3, tot3, n1p3
          FROM j1),
        agg AS (SELECT doc_id, count(*) AS n_grams,
            round(avg(ln(
              CASE WHEN coalesce(tot3, 0) > 0
                THEN greatest(coalesce(c3, 0) - 0.75, 0.0) / tot3 + 0.75 * n1p3 / tot3 * p2
                ELSE p2 END)), 3) AS avg_logprob
          FROM jp GROUP BY doc_id)"""

  val qKn3AgainstSql: String =
    s"""$knAgainstChainSql
        SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** KenLM ARPA artifact round trip as the scoring path: the src0-src3
    * KN model (order 3, minCount 2 — the --prune interop face) EXPORTS
    * to an ARPA text file, IMPORTS back, and all documents score against
    * the imported artifact with standard back-off semantics. The oracle
    * re-derives the scores from the pruned model relationally (the
    * q_kn3_against chain + HAVING-pruned raw counts) — independent of
    * the text round trip, so a format/parse defect cannot cancel out. */
  def qArpaScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
    val path = scratch.dir("arpa")
      .resolve("kn3.arpa").toString
    Arpa.arpaExportKn(ref, "text", order = 3, path, minCount = 2L)
    val model = Arpa.arpaImport(spark, path)
    Arpa.arpaScoreAgainst(graft.api.MStream(docs), model, "doc_id", "text").df
  }

  val qArpaScoreSql: String =
    s"""WITH rwords AS (SELECT list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w
                FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')),
        g2 AS (SELECT unnest(w[1:len(w) - 1]) AS v, unnest(w[2:len(w)]) AS t FROM rwords WHERE len(w) >= 2),
        c2 AS MATERIALIZED (SELECT v, t, count(*) AS c2 FROM g2 GROUP BY v, t HAVING count(*) >= 2),
        g3r AS (SELECT unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM rwords WHERE len(w) >= 3),
        c3 AS MATERIALIZED (SELECT u, v, t, count(*) AS c3 FROM g3r GROUP BY u, v, t HAVING count(*) >= 2),
        ctx3 AS MATERIALIZED (SELECT u, v, sum(c3) AS tot3, count(*) AS n1p3 FROM c3 GROUP BY u, v),
        cc2 AS MATERIALIZED (SELECT v, t, count(*) AS cc2 FROM c3 GROUP BY v, t),
        ctxc2 AS MATERIALIZED (SELECT v, sum(cc2) AS ctot2, count(*) AS n1p2 FROM cc2 GROUP BY v),
        cc1 AS MATERIALIZED (SELECT t, count(*) AS cc1 FROM c2 GROUP BY t),
        st AS MATERIALIZED (SELECT (SELECT sum(cc1)::DOUBLE FROM cc1) AS t1,
               (SELECT count(*) FROM cc1) AS n1p1,
               (SELECT count(DISTINCT tk) FROM (SELECT unnest(w) AS tk FROM rwords)) AS v),
        words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        tris AS (SELECT doc_id, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM words WHERE len(w) >= 3),
        j3 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.v AS v, p.t AS t, c3.c3 AS c3, ctx3.tot3 AS tot3, ctx3.n1p3 AS n1p3
          FROM tris p
          LEFT JOIN c3 ON p.u = c3.u AND p.v = c3.v AND p.t = c3.t
          LEFT JOIN ctx3 ON p.u = ctx3.u AND p.v = ctx3.v),
        j2 AS MATERIALIZED (SELECT p.*, cc2.cc2 AS cc2, ctxc2.ctot2 AS ctot2, ctxc2.n1p2 AS n1p2
          FROM j3 p
          LEFT JOIN cc2 ON p.v = cc2.v AND p.t = cc2.t
          LEFT JOIN ctxc2 ON p.v = ctxc2.v),
        j1 AS MATERIALIZED (SELECT p.*,
            greatest(coalesce(cc1.cc1, 0) - 0.75, 0.0) / st.t1
              + 0.75 * st.n1p1 / st.t1 * (1.0 / (st.v + 1.0)) AS p1
          FROM j2 p LEFT JOIN cc1 ON p.t = cc1.t CROSS JOIN st),
        jp AS (SELECT doc_id,
            CASE WHEN coalesce(ctot2, 0) > 0
              THEN greatest(coalesce(cc2, 0) - 0.75, 0.0) / ctot2 + 0.75 * n1p2 / ctot2 * p1
              ELSE p1 END AS p2, c3, tot3, n1p3
          FROM j1),
        agg AS (SELECT doc_id, count(*) AS n_grams,
            round(avg(ln(
              CASE WHEN coalesce(tot3, 0) > 0
                THEN greatest(coalesce(c3, 0) - 0.75, 0.0) / tot3 + 0.75 * n1p3 / tot3 * p2
                ELSE p2 END)), 3) AS avg_logprob
          FROM jp GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** The complete per-language ARPA deployment loop (the Wenzek/CCNet
    * artifact layout end to end): ONE language-keyed KN training of the
    * non-zh src0-src3 slice exports one `<lang>.arpa` per language, the
    * directory imports back, and every document scores against ITS
    * language's file — zh documents exercise the no-model NULL verdict.
    * The oracle is the per-language KN chain (the q_kn3_bylang mirror):
    * per-language export→import→back-off scoring must land exactly on
    * the in-session by-language verdict. */
  def qArpaByLang(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3") &&
      col("lang") =!= "zh")
    val out = scratch.dir("arpa_bylang").toString
    Arpa.arpaExportKnByLang(ref, "text", "lang", order = 3, out)
    Arpa.arpaScoreAgainstByLang(graft.api.MStream(docs),
      Arpa.arpaImportDir(spark, out), "doc_id", "text", "lang").df
  }

  // a def: qKn3ByLangSql is a val defined further down this object, so a
  // val here would read null at init time
  def qArpaByLangSql: String = qKn3ByLangSql

  /** Sentence-boundary ARPA round trip: the src0-src3 KN model trains in
    * SENTENCE mode (each sentence's stream is `<s> <s>` ++ words ++
    * `</s>`; `<s>` is context-only), exports, imports, and all documents
    * score with `<s>`-padded contexts and a scored `</s>` event per
    * sentence — KenLM's own semantics for sentence-trained artifacts.
    * The oracle re-derives the sentence-mode model AND windowing
    * relationally (per-sentence padded arrays on both the train and
    * score sides), independent of the text round trip. */
  def qArpaSent(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
    val path = scratch.dir("arpa_sent")
      .resolve("kn3_sent.arpa").toString
    Arpa.arpaExportKn(ref, "text", order = 3, path, sentenceMode = true)
    val model = Arpa.arpaImport(spark, path)
    Arpa.arpaScoreAgainst(graft.api.MStream(docs), model, "doc_id", "text",
      sentenceMode = true).df
  }

  val qArpaSentSql: String =
    s"""WITH rsent AS (SELECT ['<s>', '<s>'] || sw || ['</s>'] AS w FROM (
            SELECT list_filter(string_split_regex(s, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS sw
            FROM (SELECT unnest(string_split_regex(text, '[.!?]+')) AS s
                  FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')) t0) t1
          WHERE len(sw) > 0),
        g2 AS (SELECT unnest(w[1:len(w) - 1]) AS v, unnest(w[2:len(w)]) AS t FROM rsent),
        c2 AS MATERIALIZED (SELECT v, t, count(*) AS c2 FROM g2 WHERE t <> '<s>' GROUP BY v, t),
        g3r AS (SELECT unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM rsent),
        c3 AS MATERIALIZED (SELECT u, v, t, count(*) AS c3 FROM g3r WHERE t <> '<s>' GROUP BY u, v, t),
        ctx3 AS MATERIALIZED (SELECT u, v, sum(c3) AS tot3, count(*) AS n1p3 FROM c3 GROUP BY u, v),
        cc2 AS MATERIALIZED (SELECT v, t, count(*) AS cc2 FROM c3 GROUP BY v, t),
        ctxc2 AS MATERIALIZED (SELECT v, sum(cc2) AS ctot2, count(*) AS n1p2 FROM cc2 GROUP BY v),
        cc1 AS MATERIALIZED (SELECT t, count(*) AS cc1 FROM c2 GROUP BY t),
        st AS MATERIALIZED (SELECT (SELECT sum(cc1)::DOUBLE FROM cc1) AS t1,
               (SELECT count(*) FROM cc1) AS n1p1,
               (SELECT count(DISTINCT tk) FROM (SELECT unnest(w) AS tk FROM rsent) WHERE tk <> '<s>') AS v),
        dsent AS (SELECT doc_id, ['<s>', '<s>'] || sw || ['</s>'] AS w FROM (
            SELECT doc_id, list_filter(string_split_regex(s, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS sw
            FROM (SELECT doc_id, unnest(string_split_regex(text, '[.!?]+')) AS s
                  FROM documents) d0) d1
          WHERE len(sw) > 0),
        tris AS (SELECT doc_id, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM dsent),
        j3 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.v AS v, p.t AS t, c3.c3 AS c3, ctx3.tot3 AS tot3, ctx3.n1p3 AS n1p3
          FROM tris p
          LEFT JOIN c3 ON p.u = c3.u AND p.v = c3.v AND p.t = c3.t
          LEFT JOIN ctx3 ON p.u = ctx3.u AND p.v = ctx3.v),
        j2 AS MATERIALIZED (SELECT p.*, cc2.cc2 AS cc2, ctxc2.ctot2 AS ctot2, ctxc2.n1p2 AS n1p2
          FROM j3 p
          LEFT JOIN cc2 ON p.v = cc2.v AND p.t = cc2.t
          LEFT JOIN ctxc2 ON p.v = ctxc2.v),
        j1 AS MATERIALIZED (SELECT p.*,
            greatest(coalesce(cc1.cc1, 0) - 0.75, 0.0) / st.t1
              + 0.75 * st.n1p1 / st.t1 * (1.0 / (st.v + 1.0)) AS p1
          FROM j2 p LEFT JOIN cc1 ON p.t = cc1.t CROSS JOIN st),
        jp AS (SELECT doc_id,
            CASE WHEN coalesce(ctot2, 0) > 0
              THEN greatest(coalesce(cc2, 0) - 0.75, 0.0) / ctot2 + 0.75 * n1p2 / ctot2 * p1
              ELSE p1 END AS p2, c3, tot3, n1p3
          FROM j1),
        agg AS (SELECT doc_id, count(*) AS n_grams,
            round(avg(ln(
              CASE WHEN coalesce(tot3, 0) > 0
                THEN greatest(coalesce(c3, 0) - 0.75, 0.0) / tot3 + 0.75 * n1p3 / tot3 * p2
                ELSE p2 END)), 3) AS avg_logprob
          FROM jp GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** The LITERAL CCNet bucketing shape: per-language terciles of the
    * KN score against a PRETRAINED reference model (ref = the src0-src3
    * slice), bucket 1 = "head". Exercises the against-face scoring AND
    * the distributed tile stage in one query; the oracle chains the KN
    * back-off CTEs into the ntile window. */
  def qPplAgainst(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
    TextOps.perplexityBucketsAgainst(docs, ref, "doc_id", "text", "lang", "text")
  }

  val qPplAgainstSql: String =
    s"""$knAgainstChainSql,
        scored AS (SELECT d.doc_id, d.lang, coalesce(a.n_grams, 0)::BIGINT AS n_grams,
                   a.avg_logprob
                 FROM documents d LEFT JOIN agg a USING (doc_id))
        SELECT doc_id, lang, n_grams, avg_logprob,
          (CASE WHEN avg_logprob IS NOT NULL THEN ntile(3) OVER (
             PARTITION BY lang, avg_logprob IS NULL
             ORDER BY avg_logprob DESC, doc_id) END)::INT AS bucket
        FROM scored"""

  /** Frozen CCNet thresholds — the artifact face of q_ppl_against: the
    * src0-src9 half scores against the src0-src3 KN model and its
    * per-language tercile boundaries freeze as (lang, bucket, cut). */
  def qPplThresholds(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
    val pop = docs.filter(col("source").isin((0 to 9).map(i => s"src$i"): _*))
    TextOps.perplexityBucketThresholds(pop, ref, "doc_id", "text", "lang", "text")
  }

  /** PER-LANGUAGE KN reference models — the literal CCNet architecture
    * (one model per language, trained in ONE pass): ref = the src0-src3
    * slice MINUS zh, so zh documents exercise the no-model verdict
    * (position count kept, NULL score) while the other four languages
    * score under their own slices' models. */
  def qKn3ByLang(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3") &&
      col("lang") =!= "zh")
    TextOps.lmScore(graft.api.MStream(docs), LmSpec(3, LmSpec.KneserNey()),
      "doc_id", "text", Some(LmRef(ref, "text", Some(("lang", "lang"))))).df
  }

  /** The shared per-language-model CTE chain (train one model per
    * non-zh language of the src0-src3 slice, score ALL documents under
    * their own language's model), ending at the per-doc `agg` CTE —
    * interpolated into BOTH q_kn3_bylang and q_ppl_bylang. */
  private val qKn3ByLangChain: String =
    s"""WITH rwords AS (SELECT lang AS lg, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w
                FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3') AND lang <> 'zh'),
        g2 AS (SELECT lg, unnest(w[1:len(w) - 1]) AS v, unnest(w[2:len(w)]) AS t FROM rwords WHERE len(w) >= 2),
        c2 AS MATERIALIZED (SELECT lg, v, t, count(*) AS c2 FROM g2 GROUP BY lg, v, t),
        g3r AS (SELECT lg, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM rwords WHERE len(w) >= 3),
        c3 AS MATERIALIZED (SELECT lg, u, v, t, count(*) AS c3 FROM g3r GROUP BY lg, u, v, t),
        ctx3 AS MATERIALIZED (SELECT lg, u, v, sum(c3) AS tot3, count(*) AS n1p3 FROM c3 GROUP BY lg, u, v),
        cc2 AS MATERIALIZED (SELECT lg, v, t, count(*) AS cc2 FROM c3 GROUP BY lg, v, t),
        ctxc2 AS MATERIALIZED (SELECT lg, v, sum(cc2) AS ctot2, count(*) AS n1p2 FROM cc2 GROUP BY lg, v),
        cc1 AS MATERIALIZED (SELECT lg, t, count(*) AS cc1 FROM c2 GROUP BY lg, t),
        st AS MATERIALIZED (SELECT a.lg AS lg, a.t1, a.n1p1, b.vv FROM
               (SELECT lg, sum(cc1)::DOUBLE AS t1, count(*) AS n1p1 FROM cc1 GROUP BY lg) a
               JOIN (SELECT lg, count(DISTINCT tk) AS vv
                     FROM (SELECT lg, unnest(w) AS tk FROM rwords) GROUP BY lg) b
                 ON a.lg IS NOT DISTINCT FROM b.lg),
        words AS (SELECT doc_id, lang AS lg, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        tris AS (SELECT doc_id, lg, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM words WHERE len(w) >= 3),
        j3 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.lg AS lg, p.v AS v, p.t AS t,
            c3.c3 AS c3, ctx3.tot3 AS tot3, ctx3.n1p3 AS n1p3
          FROM tris p
          LEFT JOIN c3 ON p.lg IS NOT DISTINCT FROM c3.lg AND p.u = c3.u AND p.v = c3.v AND p.t = c3.t
          LEFT JOIN ctx3 ON p.lg IS NOT DISTINCT FROM ctx3.lg AND p.u = ctx3.u AND p.v = ctx3.v),
        j2 AS MATERIALIZED (SELECT p.*, cc2.cc2 AS cc2, ctxc2.ctot2 AS ctot2, ctxc2.n1p2 AS n1p2
          FROM j3 p
          LEFT JOIN cc2 ON p.lg IS NOT DISTINCT FROM cc2.lg AND p.v = cc2.v AND p.t = cc2.t
          LEFT JOIN ctxc2 ON p.lg IS NOT DISTINCT FROM ctxc2.lg AND p.v = ctxc2.v),
        j1 AS MATERIALIZED (SELECT p.*,
            greatest(coalesce(cc1.cc1, 0) - 0.75, 0.0) / st.t1
              + 0.75 * st.n1p1 / st.t1 * (1.0 / (st.vv + 1.0)) AS p1
          FROM j2 p
          LEFT JOIN cc1 ON p.lg IS NOT DISTINCT FROM cc1.lg AND p.t = cc1.t
          LEFT JOIN st ON p.lg IS NOT DISTINCT FROM st.lg),
        jp AS (SELECT doc_id,
            CASE WHEN coalesce(ctot2, 0) > 0
              THEN greatest(coalesce(cc2, 0) - 0.75, 0.0) / ctot2 + 0.75 * n1p2 / ctot2 * p1
              ELSE p1 END AS p2, c3, tot3, n1p3
          FROM j1),
        agg AS (SELECT doc_id, count(*) AS n_grams,
            round(avg(ln(
              CASE WHEN coalesce(tot3, 0) > 0
                THEN greatest(coalesce(c3, 0) - 0.75, 0.0) / tot3 + 0.75 * n1p3 / tot3 * p2
                ELSE p2 END)), 3) AS avg_logprob
          FROM jp GROUP BY doc_id)"""

  val qKn3ByLangSql: String =
    s"""$qKn3ByLangChain
        SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** PER-LANGUAGE Jelinek-Mercer reference models — the JM cell of the
    * smoothing × per-language matrix (q_kn3_bylang / q_mkn3_bylang are
    * the KN cells): one add-alpha trigram model per non-zh language of
    * the src0-src3 slice, trained in ONE pass; zh documents exercise the
    * no-model verdict (position count kept, NULL score). */
  def qLm3ByLang(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3") &&
      col("lang") =!= "zh")
    TextOps.lmScore(graft.api.MStream(docs),
      LmSpec(3, LmSpec.JelinekMercer(0.5, Seq(0.6, 0.3, 0.1)), countCol = Some("n_tris")),
      "doc_id", "text", Some(LmRef(ref, "text", Some(("lang", "lang"))))).df
  }

  val qLm3ByLangSql: String =
    s"""WITH rwords AS (SELECT lang AS lg, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w
                FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3') AND lang <> 'zh'),
        c1 AS MATERIALIZED (SELECT lg, t, count(*) AS c1 FROM (SELECT lg, unnest(w) AS t FROM rwords) GROUP BY lg, t),
        nv AS MATERIALIZED (SELECT lg, sum(c1)::DOUBLE AS n, count(*)::DOUBLE AS vv FROM c1 GROUP BY lg),
        prs AS (SELECT lg, unnest(w[1:len(w) - 1]) AS v, unnest(w[2:len(w)]) AS t FROM rwords WHERE len(w) >= 2),
        c2 AS MATERIALIZED (SELECT lg, v, t, count(*) AS c2 FROM prs GROUP BY lg, v, t),
        c2x AS MATERIALIZED (SELECT lg, v, sum(c2) AS c2x FROM c2 GROUP BY lg, v),
        rtris AS (SELECT lg, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM rwords WHERE len(w) >= 3),
        c3 AS MATERIALIZED (SELECT lg, u, v, t, count(*) AS c3 FROM rtris GROUP BY lg, u, v, t),
        c3x AS MATERIALIZED (SELECT lg, u, v, sum(c3) AS c3x FROM c3 GROUP BY lg, u, v),
        words AS (SELECT doc_id, lang AS lg, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        tris AS (SELECT doc_id, lg, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM words WHERE len(w) >= 3),
        j3 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.lg AS lg, p.v AS v, p.t AS t, c3.c3 AS c3, c3x.c3x AS c3x
          FROM tris p
          LEFT JOIN c3 ON p.lg IS NOT DISTINCT FROM c3.lg AND p.u = c3.u AND p.v = c3.v AND p.t = c3.t
          LEFT JOIN c3x ON p.lg IS NOT DISTINCT FROM c3x.lg AND p.u = c3x.u AND p.v = c3x.v),
        j2 AS MATERIALIZED (SELECT p.*, c2.c2 AS c2, c2x.c2x AS c2x
          FROM j3 p
          LEFT JOIN c2 ON p.lg IS NOT DISTINCT FROM c2.lg AND p.v = c2.v AND p.t = c2.t
          LEFT JOIN c2x ON p.lg IS NOT DISTINCT FROM c2x.lg AND p.v = c2x.v),
        agg AS (SELECT p.doc_id AS doc_id, count(*) AS n_tris,
            round(avg(ln(
              0.6 * (coalesce(p.c3, 0) + 0.5) / (coalesce(p.c3x, 0) + nv.vv * 0.5)
              + 0.3 * (coalesce(p.c2, 0) + 0.5) / (coalesce(p.c2x, 0) + nv.vv * 0.5)
              + 0.1 * (coalesce(c1.c1, 0) + 0.5) / (nv.n + nv.vv * 0.5))), 3) AS avg_logprob
          FROM j2 p
          LEFT JOIN c1 ON p.lg IS NOT DISTINCT FROM c1.lg AND p.t = c1.t
          LEFT JOIN nv ON p.lg IS NOT DISTINCT FROM nv.lg
          GROUP BY p.doc_id)
        SELECT d.doc_id, coalesce(a.n_tris, 0)::BIGINT AS n_tris, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** Per-language variant of [[mknDiscSql]]: per-language count-of-counts
    * → per-language (d1, d2, d3), the same nested-CASE validity rule
    * (divisions only evaluate when n1..n3 > 0) per language. */
  private def mknDiscByLangSql(cte: String, src: String, ccol: String): String = {
    val valid = "dv1 IS NOT NULL AND dv1 >= 0 AND dv1 <= 1 AND " +
      "dv2 >= 0 AND dv2 <= 2 AND dv3 >= 0 AND dv3 <= 3"
    s"""$cte AS MATERIALIZED (SELECT lg,
          CASE WHEN $valid THEN dv1 ELSE 0.5 END AS d1,
          CASE WHEN $valid THEN dv2 ELSE 1.0 END AS d2,
          CASE WHEN $valid THEN dv3 ELSE 1.5 END AS d3
        FROM (SELECT lg,
            CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0
                 THEN 1.0 - 2.0 * (n1 / (n1 + 2.0 * n2)) * n2 / n1 END AS dv1,
            CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0
                 THEN 2.0 - 3.0 * (n1 / (n1 + 2.0 * n2)) * n3 / n2 END AS dv2,
            CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0
                 THEN 3.0 - 4.0 * (n1 / (n1 + 2.0 * n2)) * n4 / n3 END AS dv3
          FROM (SELECT lg, count(*) FILTER ($ccol = 1) AS n1,
                       count(*) FILTER ($ccol = 2) AS n2,
                       count(*) FILTER ($ccol = 3) AS n3,
                       count(*) FILTER ($ccol = 4) AS n4 FROM $src GROUP BY lg)))"""
  }

  /** The complete CCNet matrix cell: per-language MODIFIED-KN models
    * (each language's bucketed discounts derived from its own slices'
    * count-of-counts, fallback per language) scoring every document
    * under its own language's model; zh is excluded from the reference
    * so its documents exercise the no-model NULL verdict. */
  def qMkn3ByLang(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3") &&
      col("lang") =!= "zh")
    TextOps.lmScore(graft.api.MStream(docs), LmSpec(3, LmSpec.ModifiedKn()),
      "doc_id", "text", Some(LmRef(ref, "text", Some(("lang", "lang"))))).df
  }

  val qMkn3ByLangSql: String =
    s"""WITH rwords AS (SELECT lang AS lg, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w
                FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3') AND lang <> 'zh'),
        g2 AS (SELECT lg, unnest(w[1:len(w) - 1]) AS v, unnest(w[2:len(w)]) AS t FROM rwords WHERE len(w) >= 2),
        c2 AS MATERIALIZED (SELECT lg, v, t, count(*) AS c2 FROM g2 GROUP BY lg, v, t),
        g3r AS (SELECT lg, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM rwords WHERE len(w) >= 3),
        c3 AS MATERIALIZED (SELECT lg, u, v, t, count(*) AS c3 FROM g3r GROUP BY lg, u, v, t),
        ctx3 AS MATERIALIZED (SELECT lg, u, v, sum(c3) AS tot3,
               count(*) FILTER (c3 = 1) AS b13, count(*) FILTER (c3 = 2) AS b23,
               count(*) FILTER (c3 >= 3) AS b33 FROM c3 GROUP BY lg, u, v),
        cc2 AS MATERIALIZED (SELECT lg, v, t, count(*) AS cc2 FROM c3 GROUP BY lg, v, t),
        ctxc2 AS MATERIALIZED (SELECT lg, v, sum(cc2) AS ctot2,
               count(*) FILTER (cc2 = 1) AS b12, count(*) FILTER (cc2 = 2) AS b22,
               count(*) FILTER (cc2 >= 3) AS b32 FROM cc2 GROUP BY lg, v),
        cc1 AS MATERIALIZED (SELECT lg, t, count(*) AS cc1 FROM c2 GROUP BY lg, t),
        ${mknDiscByLangSql("dl3", "c3", "c3")},
        ${mknDiscByLangSql("dl2", "cc2", "cc2")},
        ${mknDiscByLangSql("dl1", "cc1", "cc1")},
        st AS MATERIALIZED (SELECT a.lg AS lg, a.t1, a.gb1, a.gb2, a.gb3, b.vv FROM
               (SELECT lg, sum(cc1)::DOUBLE AS t1,
                       count(*) FILTER (cc1 = 1) AS gb1,
                       count(*) FILTER (cc1 = 2) AS gb2,
                       count(*) FILTER (cc1 >= 3) AS gb3 FROM cc1 GROUP BY lg) a
               JOIN (SELECT lg, count(DISTINCT tk) AS vv
                     FROM (SELECT lg, unnest(w) AS tk FROM rwords) GROUP BY lg) b
                 ON a.lg IS NOT DISTINCT FROM b.lg),
        words AS (SELECT doc_id, lang AS lg, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        tris AS (SELECT doc_id, lg, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM words WHERE len(w) >= 3),
        j3 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.lg AS lg, p.v AS v, p.t AS t,
            c3.c3 AS c3, ctx3.tot3 AS tot3, ctx3.b13 AS b13, ctx3.b23 AS b23, ctx3.b33 AS b33
          FROM tris p
          LEFT JOIN c3 ON p.lg IS NOT DISTINCT FROM c3.lg AND p.u = c3.u AND p.v = c3.v AND p.t = c3.t
          LEFT JOIN ctx3 ON p.lg IS NOT DISTINCT FROM ctx3.lg AND p.u = ctx3.u AND p.v = ctx3.v),
        j2 AS MATERIALIZED (SELECT p.*, cc2.cc2 AS cc2, ctxc2.ctot2 AS ctot2,
            ctxc2.b12 AS b12, ctxc2.b22 AS b22, ctxc2.b32 AS b32
          FROM j3 p
          LEFT JOIN cc2 ON p.lg IS NOT DISTINCT FROM cc2.lg AND p.v = cc2.v AND p.t = cc2.t
          LEFT JOIN ctxc2 ON p.lg IS NOT DISTINCT FROM ctxc2.lg AND p.v = ctxc2.v),
        j1 AS MATERIALIZED (SELECT p.*,
            greatest(coalesce(cc1.cc1, 0) - ${mknDSel("dl1", "coalesce(cc1.cc1, 0)")}, 0.0) / st.t1
              + (dl1.d1 * st.gb1 + dl1.d2 * st.gb2 + dl1.d3 * st.gb3) / st.t1
                * (1.0 / (st.vv + 1.0)) AS p1
          FROM j2 p
          LEFT JOIN cc1 ON p.lg IS NOT DISTINCT FROM cc1.lg AND p.t = cc1.t
          LEFT JOIN st ON p.lg IS NOT DISTINCT FROM st.lg
          LEFT JOIN dl1 ON p.lg IS NOT DISTINCT FROM dl1.lg),
        jp AS (SELECT p.doc_id AS doc_id,
            CASE WHEN coalesce(p.ctot2, 0) > 0
              THEN greatest(coalesce(p.cc2, 0) - ${mknDSel("dl2", "coalesce(p.cc2, 0)")}, 0.0) / p.ctot2
                   + (dl2.d1 * p.b12 + dl2.d2 * p.b22 + dl2.d3 * p.b32) / p.ctot2 * p.p1
              ELSE p.p1 END AS p2,
            p.lg AS lg, p.c3 AS c3, p.tot3 AS tot3, p.b13 AS b13, p.b23 AS b23, p.b33 AS b33
          FROM j1 p LEFT JOIN dl2 ON p.lg IS NOT DISTINCT FROM dl2.lg),
        agg AS (SELECT p.doc_id AS doc_id, count(*) AS n_grams,
            round(avg(ln(
              CASE WHEN coalesce(p.tot3, 0) > 0
                THEN greatest(coalesce(p.c3, 0) - ${mknDSel("dl3", "coalesce(p.c3, 0)")}, 0.0) / p.tot3
                     + (dl3.d1 * p.b13 + dl3.d2 * p.b23 + dl3.d3 * p.b33) / p.tot3 * p.p2
                ELSE p.p2 END)), 3) AS avg_logprob
          FROM jp p LEFT JOIN dl3 ON p.lg IS NOT DISTINCT FROM dl3.lg
          GROUP BY p.doc_id)
        SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** The CAPSTONE CCNet composition — per-language models AND
    * per-language terciles, the complete Wenzek architecture from two
    * public operators: every document scores under ITS OWN language's KN
    * model (ref = src0-src3 minus zh), then tiles within its language by
    * the generic rank stage; zh documents (no model) take a NULL score
    * AND a NULL bucket. */
  def qPplByLang(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3") &&
      col("lang") =!= "zh")
    val scored = TextOps.lmScore(graft.api.MStream(docs), LmSpec(3, LmSpec.KneserNey()),
        "doc_id", "text", Some(LmRef(ref, "text", Some(("lang", "lang"))))).df
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    TextOps.bucketByRank(scored, "lang", "avg_logprob", "doc_id", buckets = 3)
  }

  val qPplByLangSql: String =
    s"""$qKn3ByLangChain,
        scored AS (SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams,
                   a.avg_logprob, d.lang
                 FROM documents d LEFT JOIN agg a USING (doc_id))
        SELECT doc_id, n_grams, avg_logprob, lang,
          (CASE WHEN avg_logprob IS NOT NULL THEN ntile(3) OVER (
             PARTITION BY lang, avg_logprob IS NULL
             ORDER BY avg_logprob DESC, doc_id) END)::INT AS bucket
        FROM scored"""

  /** The shared thresholds CTE chain: KN-against scoring (src0-src3
    * model) over ALL documents, tercile cuts frozen from the src0-src9
    * slice — interpolated into BOTH q_ppl_thresholds and q_ppl_apply so
    * the two oracles cannot drift. Ends at `cuts(lang, bucket, cut)`
    * with `scored` carrying every document's score. */
  private val pplThresholdChainSql: String =
    s"""$knAgainstChainSql,
        scored AS (SELECT d.doc_id, d.lang, d.source,
                     coalesce(a.n_grams, 0)::BIGINT AS n_grams, a.avg_logprob
                   FROM documents d LEFT JOIN agg a USING (doc_id)),
        tiled AS (SELECT lang, doc_id, avg_logprob,
                    ntile(3) OVER (PARTITION BY lang
                      ORDER BY avg_logprob DESC, doc_id) AS b
                  FROM scored
                  WHERE avg_logprob IS NOT NULL
                    AND source IN ('src0','src1','src2','src3','src4',
                                   'src5','src6','src7','src8','src9')),
        cuts AS (SELECT lang, b AS bucket, min(avg_logprob) AS cut
                 FROM tiled WHERE b < 3 GROUP BY lang, b)"""

  val qPplThresholdsSql: String =
    s"""$pplThresholdChainSql
        SELECT lang, bucket::INT AS bucket, cut FROM cuts"""

  /** Stateless thresholds APPLY — the streamable CCNet face: every
    * document's KN-against score buckets under the FROZEN src0-src9
    * cuts (bucket = 1 + #cuts the score falls strictly below); unscored
    * docs take a NULL bucket. Streaming face pinned equal by
    * ThresholdBucketsSpec. */
  def qPplApply(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
    val pop = docs.filter(col("source").isin((0 to 9).map(i => s"src$i"): _*))
    val thr = TextOps.perplexityBucketThresholds(pop, ref,
      "doc_id", "text", "lang", "text")
    val scored = TextOps.lmScore(graft.api.MStream(docs), LmSpec(3, LmSpec.KneserNey()),
        "doc_id", "text", Some(LmRef(ref, "text"))).df
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    TextOps.bucketByThresholds(graft.api.MStream(scored), thr,
      "lang", "avg_logprob").df
  }

  val qPplApplySql: String =
    s"""$pplThresholdChainSql,
        cl AS (SELECT lang, list(cut ORDER BY bucket) AS cs FROM cuts GROUP BY lang)
        SELECT s.doc_id, s.lang, s.n_grams, s.avg_logprob,
          (CASE WHEN s.avg_logprob IS NOT NULL AND cl.lang IS NOT NULL
                THEN 1 + len(list_filter(cl.cs, c -> s.avg_logprob < c))
           END)::INT AS bucket
        FROM scored s LEFT JOIN cl ON s.lang IS NOT DISTINCT FROM cl.lang"""

  /** The cross-session-artifact face of q_ppl_apply — SINGLE training:
    * every document scores ONCE against the src0-src3 model; the
    * src0-src9 slice of that same scored frame derives the tercile cuts
    * (bucketByRank + a min per tile — the public-operator composition);
    * the cuts FREEZE to disk as an Artifacts round trip and the loaded
    * frame drives the stateless apply. Same oracle as q_ppl_apply (the
    * SQL chain scores once too — this query is the engine shape catching
    * up with its oracle, closing the documented double-train). */
  def qPplArtifact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
    val scored = TextOps.lmScore(graft.api.MStream(docs), LmSpec(3, LmSpec.KneserNey()),
        "doc_id", "text", Some(LmRef(ref, "text"))).df
      .join(docs.select(col("doc_id"), col("lang"), col("source")), Seq("doc_id"))
    val pop = scored
      .filter(col("source").isin((0 to 9).map(i => s"src$i"): _*))
      .select(col("doc_id"), col("lang"), col("n_grams"), col("avg_logprob"))
    val cuts = TextOps.bucketByRank(pop, "lang", "avg_logprob", "doc_id",
        buckets = 3)
      .where(col("bucket").isNotNull && col("bucket") < 3)
      .groupBy(col("lang"), col("bucket"))
      .agg(min(col("avg_logprob")).as("cut"))
    val artDir = scratch.dir("art")
      .resolve("cuts").toString
    graft.api.Artifacts.save(artDir, "ppl-thresholds", Map("table" -> cuts))
    val loaded = graft.api.Artifacts
      .load(spark, artDir, expectKind = Some("ppl-thresholds")).tables("table")
    TextOps.bucketByThresholds(graft.api.MStream(scored.drop("source")),
      loaded, "lang", "avg_logprob").df
  }

  /** One Viterbi segmentation pass over the distinct-word table under
    * the vocabulary CTE `vocabCte`(piece, p) — the unigram-LM DP as a
    * recursive CTE (dp in PROBABILITY space: products of exact-division
    * doubles, bit-identical to the engine's expression; ties to the
    * longer piece via the ascending-l >= fold), then the backtrace walk.
    * Emits st$tag/bt$tag; pieces per word = bt$tag WHERE pos = 0. */
  private def unigramSegPass(tag: String, vocabCte: String, L: Int): String =
    s"""m$tag AS MATERIALIZED (SELECT map_from_entries(list(struct_pack(k := piece, v := p))) AS m FROM $vocabCte),
        st$tag AS (
          SELECT word, wc, 0 AS pos, [1.0::DOUBLE] AS dps, [0] AS bls, m FROM words0, m$tag
          UNION ALL
          SELECT word, wc, pos + 1, list_append(dps, best.s), list_append(bls, best.bl), m FROM (
            SELECT word, wc, pos, dps, bls, m,
              list_reduce(
                list_transform(range(1, least($L, pos + 1) + 1),
                  l -> struct_pack(
                    s := dps[pos + 2 - l] * coalesce(m[word[pos + 2 - l : pos + 1]][1],
                           CASE WHEN l = 1 THEN 1e-100 ELSE 0.0::DOUBLE END),
                    bl := l)),
                (b, c) -> CASE WHEN c.s >= b.s THEN c ELSE b END) AS best
            FROM st$tag WHERE pos < len(word))),
        bt$tag AS (
          SELECT word, wc, bls, len(word) AS pos, []::VARCHAR[] AS ps FROM st$tag WHERE pos = len(word)
          UNION ALL
          SELECT word, wc, bls, pos - bls[pos + 1],
            list_prepend(word[pos - bls[pos + 1] + 1 : pos], ps)
          FROM bt$tag WHERE pos > 0)"""

  /** The unigram-LM training chain (seed -> `rounds` hard-EM rounds),
    * ending at keep$rounds(piece, cnt) — mirrors `Unigram.trainVocab`
    * decision for decision (seed top-N + all chars; per-round Viterbi
    * counts; prune to top vocabSize + previous chars floored to 1). */
  private def unigramChainSql(vocabSize: Int, L: Int, rounds: Int,
                              seedSize: Int): String = {
    def round(r: Int): String =
      s"""${unigramSegPass(r.toString, s"v${r - 1}", L)},
        cnt$r AS MATERIALIZED (SELECT piece, sum(wc)::BIGINT AS c FROM (
          SELECT wc, unnest(ps) AS piece FROM bt$r WHERE pos = 0) GROUP BY piece),
        keep$r AS MATERIALIZED (
          -- DISTINCT over UNION ALL, not UNION: under WITH RECURSIVE,
          -- DuckDB reads a top-level UNION in a CTE body as an
          -- anchor/recursive-term pair and skips the dedup
          SELECT piece, CASE WHEN len(piece) = 1 THEN greatest(c, 1) ELSE c END AS cnt FROM (
            SELECT DISTINCT piece, c FROM (
              (SELECT piece, c FROM (SELECT piece, c FROM cnt$r ORDER BY c DESC, piece LIMIT $vocabSize) tt)
              UNION ALL
              (SELECT v.piece AS piece, coalesce(t.c, 0) AS c
               FROM v${r - 1} v LEFT JOIN cnt$r t USING (piece) WHERE len(v.piece) = 1)) u)),
        v$r AS MATERIALIZED (SELECT piece, cnt::DOUBLE / (SELECT sum(cnt) FROM keep$r)::DOUBLE AS p FROM keep$r)"""
    s"""words0 AS MATERIALIZED (
        SELECT w AS word, count(*) AS wc FROM (
          SELECT unnest(list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '')) AS w
          FROM documents) GROUP BY w),
        cand AS MATERIALIZED (
          SELECT piece, sum(wc)::BIGINT AS cnt FROM (
            SELECT wc, unnest(flatten([[word[i:i+l-1] for l in range(1, least($L, len(word) - i + 1) + 1)] for i in range(1, len(word) + 1)])) AS piece
            FROM words0) GROUP BY piece),
        seed AS MATERIALIZED (
          SELECT DISTINCT piece, cnt FROM (
            (SELECT piece, cnt FROM (SELECT piece, cnt FROM cand ORDER BY cnt DESC, piece LIMIT $seedSize) tt)
            UNION ALL
            (SELECT piece, cnt FROM cand WHERE len(piece) = 1)) u),
        v0 AS MATERIALIZED (SELECT piece, cnt::DOUBLE / (SELECT sum(cnt) FROM seed)::DOUBLE AS p FROM seed),
        ${(1 to rounds).map(round).mkString(",\n        ")}"""
  }

  /** Unigram-LM tokenizer training (SentencePiece's model family, Kudo
    * 2018 — the hard-EM Viterbi variant whose every decision is
    * engine-reproducible): seed from corpus substrings, two EM rounds,
    * prune to 40 pieces + all chars. The oracle re-runs the ENTIRE
    * training relationally (recursive-CTE Viterbi per round). */
  def qUnigramVocab(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.Unigram.trainVocab(Tables.documents(spark, dir).df,
      "text", vocabSize = 40, maxPieceLen = 3, emRounds = 2, seedSize = 60)

  val qUnigramVocabSql: String =
    s"""WITH RECURSIVE
        ${unigramChainSql(40, 3, 2, 60)}
        SELECT piece, cnt::BIGINT AS cnt,
          round(ln(cnt::DOUBLE / (SELECT sum(cnt) FROM keep2)::DOUBLE), 6) AS logprob
        FROM keep2"""

  /** Tokenize every document under the trained unigram vocabulary —
    * per-doc piece count + sequence hash (the array-free oracle shape).
    * The Spark face segments INLINE per word occurrence (zero-shuffle
    * stateless projection); the oracle segments the distinct-word table
    * once and joins back per document — same pieces by determinism. */
  def qUnigramEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val vocab = graft.pipeline.Unigram.trainVocab(docs, "text",
      vocabSize = 40, maxPieceLen = 3, emRounds = 2, seedSize = 60)
    graft.pipeline.Unigram.tokenize(graft.api.MStream(docs), vocab, "text",
        maxPieceLen = 3).df
      .select(col("doc_id"), size(col("pieces")).cast("long").as("n_pieces"),
        TextOps.polyHash(array_join(col("pieces"), " ")).as("seq_hash"))
  }

  val qUnigramEncodeSql: String =
    s"""WITH RECURSIVE
        ${unigramChainSql(40, 3, 2, 60)},
        vf AS MATERIALIZED (SELECT piece, cnt::DOUBLE / (SELECT sum(cnt) FROM keep2)::DOUBLE AS p FROM keep2),
        ${unigramSegPass("E", "vf", 3)},
        wp AS MATERIALIZED (SELECT word, ps FROM btE WHERE pos = 0),
        docw AS (SELECT doc_id, unnest(w) AS word, unnest(range(1, len(w) + 1)) AS widx
                 FROM (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents)),
        enc AS (SELECT doc_id, flatten(list(ps ORDER BY widx)) AS pieces
                FROM docw JOIN wp USING (word) GROUP BY doc_id)
        SELECT d.doc_id, coalesce(len(e.pieces), 0)::BIGINT AS n_pieces,
          list_reduce([0] || [ord(c)::BIGINT for c in string_split(coalesce(array_to_string(e.pieces, ' '), ''), '')],
                      (a, c) -> (a * 31 + c) % 1000000007) AS seq_hash
        FROM documents d LEFT JOIN enc e USING (doc_id)"""

  /** Unigram-LM tokenization to vocabulary IDS (SentencePiece emits ids,
    * not strings): pieces map to their (cnt desc, piece) rank, OOV
    * single chars to -1; per-doc scalar checks (count, ORDER-FREE sum
    * checksum, first id) keep the oracle array-free. */
  def qUnigramIds(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val vocab = graft.pipeline.Unigram.trainVocab(docs, "text",
      vocabSize = 40, maxPieceLen = 3, emRounds = 2, seedSize = 60)
    graft.pipeline.Unigram.encodeIds(graft.api.MStream(docs), vocab, "text",
        maxPieceLen = 3).df
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_ids"),
        aggregate(col("ids"), lit(0L), (a, x) => a + x).as("id_checksum"),
        element_at(col("ids"), 1).as("first_id"))
  }

  val qUnigramIdsSql: String =
    s"""WITH RECURSIVE
        ${unigramChainSql(40, 3, 2, 60)},
        vf AS MATERIALIZED (SELECT piece, cnt::DOUBLE / (SELECT sum(cnt) FROM keep2)::DOUBLE AS p FROM keep2),
        rankv AS MATERIALIZED (SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece) - 1 AS pid FROM keep2),
        ${unigramSegPass("E", "vf", 3)},
        wp AS MATERIALIZED (SELECT word, ps FROM btE WHERE pos = 0),
        docw AS (SELECT doc_id, unnest(w) AS word, unnest(range(1, len(w) + 1)) AS widx
                 FROM (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents)),
        enc AS (SELECT doc_id, flatten(list(ps ORDER BY widx)) AS pieces
                FROM docw JOIN wp USING (word) GROUP BY doc_id),
        pp AS (SELECT doc_id, unnest(pieces) AS piece,
                 unnest(range(1, len(pieces) + 1)) AS ppos FROM enc),
        ids AS (SELECT pp.doc_id AS doc_id, count(*) AS n_ids,
                  sum(coalesce(rankv.pid, -1))::BIGINT AS id_checksum,
                  max(CASE WHEN pp.ppos = 1 THEN coalesce(rankv.pid, -1) END) AS first_id
                FROM pp LEFT JOIN rankv USING (piece) GROUP BY pp.doc_id)
        SELECT d.doc_id, coalesce(i.n_ids, 0)::BIGINT AS n_ids,
          coalesce(i.id_checksum, 0)::BIGINT AS id_checksum, i.first_id::BIGINT AS first_id
        FROM documents d LEFT JOIN ids i USING (doc_id)"""

  /** The modified-KN discount CTE: count-of-counts n1..n4 of `src`'s
    * count column folded to (d1, d2, d3) by the Chen & Goodman
    * estimator with KenLM `--discount_fallback` semantics — the EXACT
    * arithmetic and all-or-none validity rule of `TextOps.mknDerive`
    * (same operation order, so the doubles are bit-identical). */
  private def mknDiscSql(cte: String, src: String, ccol: String): String = {
    val valid = "dv1 IS NOT NULL AND dv1 >= 0 AND dv1 <= 1 AND " +
      "dv2 >= 0 AND dv2 <= 2 AND dv3 >= 0 AND dv3 <= 3"
    s"""$cte AS MATERIALIZED (SELECT
          CASE WHEN $valid THEN dv1 ELSE 0.5 END AS d1,
          CASE WHEN $valid THEN dv2 ELSE 1.0 END AS d2,
          CASE WHEN $valid THEN dv3 ELSE 1.5 END AS d3
        FROM (SELECT
            CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0
                 THEN 1.0 - 2.0 * (n1 / (n1 + 2.0 * n2)) * n2 / n1 END AS dv1,
            CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0
                 THEN 2.0 - 3.0 * (n1 / (n1 + 2.0 * n2)) * n3 / n2 END AS dv2,
            CASE WHEN n1 > 0 AND n2 > 0 AND n3 > 0
                 THEN 3.0 - 4.0 * (n1 / (n1 + 2.0 * n2)) * n4 / n3 END AS dv3
          FROM (SELECT count(*) FILTER ($ccol = 1) AS n1,
                       count(*) FILTER ($ccol = 2) AS n2,
                       count(*) FILTER ($ccol = 3) AS n3,
                       count(*) FILTER ($ccol = 4) AS n4 FROM $src)))"""
  }

  /** A level's per-count discount selection in SQL: D1/D2/D3+ by the
    * (coalesced) count's bucket — `TextOps.KnBucketed.disc`. */
  private def mknDSel(dl: String, c: String): String =
    s"(CASE WHEN $c = 1 THEN $dl.d1 WHEN $c = 2 THEN $dl.d2 ELSE $dl.d3 END)"

  /** Modified Kneser-Ney trigram score over the corpus itself — KenLM
    * parity (count-bucketed discounts derived from count-of-counts,
    * `--discount_fallback` when degenerate). The oracle rebuilds the
    * derivation AND the bucketed interpolation relationally; at sf0.01
    * the top two levels derive while level 1 falls back, at sf0.1 every
    * level falls back (the probe-measured degenerate corpus shapes), so
    * both branches of the fallback rule are exercised across the SFs. */
  def qMkn3Score(spark: SparkSession, dir: String): DataFrame =
    TextOps.lmScore(graft.api.MStream(Tables.documents(spark, dir).df),
      LmSpec(3, LmSpec.ModifiedKn()), "doc_id", "text").df

  val qMkn3ScoreSql: String =
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        g2 AS (SELECT unnest(w[1:len(w) - 1]) AS v, unnest(w[2:len(w)]) AS t FROM words WHERE len(w) >= 2),
        c2 AS MATERIALIZED (SELECT v, t, count(*) AS c2 FROM g2 GROUP BY v, t),
        g3 AS (SELECT doc_id, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM words WHERE len(w) >= 3),
        c3 AS MATERIALIZED (SELECT u, v, t, count(*) AS c3 FROM g3 GROUP BY u, v, t),
        ctx3 AS MATERIALIZED (SELECT u, v, sum(c3) AS tot3,
               count(*) FILTER (c3 = 1) AS b13, count(*) FILTER (c3 = 2) AS b23,
               count(*) FILTER (c3 >= 3) AS b33 FROM c3 GROUP BY u, v),
        cc2 AS MATERIALIZED (SELECT v, t, count(*) AS cc2 FROM c3 GROUP BY v, t),
        ctxc2 AS MATERIALIZED (SELECT v, sum(cc2) AS ctot2,
               count(*) FILTER (cc2 = 1) AS b12, count(*) FILTER (cc2 = 2) AS b22,
               count(*) FILTER (cc2 >= 3) AS b32 FROM cc2 GROUP BY v),
        cc1 AS MATERIALIZED (SELECT t, count(*) AS cc1 FROM c2 GROUP BY t),
        ${mknDiscSql("dl3", "c3", "c3")},
        ${mknDiscSql("dl2", "cc2", "cc2")},
        ${mknDiscSql("dl1", "cc1", "cc1")},
        st AS MATERIALIZED (SELECT (SELECT sum(cc1)::DOUBLE FROM cc1) AS t1,
               (SELECT count(*) FILTER (cc1 = 1) FROM cc1) AS gb1,
               (SELECT count(*) FILTER (cc1 = 2) FROM cc1) AS gb2,
               (SELECT count(*) FILTER (cc1 >= 3) FROM cc1) AS gb3,
               (SELECT count(DISTINCT tk) FROM (SELECT unnest(w) AS tk FROM words)) AS v),
        j3 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.v AS v, p.t AS t, c3.c3 AS c3,
            ctx3.tot3 AS tot3, ctx3.b13 AS b13, ctx3.b23 AS b23, ctx3.b33 AS b33
          FROM g3 p
          JOIN c3 ON p.u = c3.u AND p.v = c3.v AND p.t = c3.t
          JOIN ctx3 ON p.u = ctx3.u AND p.v = ctx3.v),
        j2 AS MATERIALIZED (SELECT p.*, cc2.cc2 AS cc2, ctxc2.ctot2 AS ctot2,
            ctxc2.b12 AS b12, ctxc2.b22 AS b22, ctxc2.b32 AS b32
          FROM j3 p
          JOIN cc2 ON p.v = cc2.v AND p.t = cc2.t
          JOIN ctxc2 ON p.v = ctxc2.v),
        agg AS (SELECT p.doc_id AS doc_id, count(*) AS n_grams,
            round(avg(ln(
              greatest(p.c3 - ${mknDSel("dl3", "p.c3")}, 0.0) / p.tot3
              + (dl3.d1 * p.b13 + dl3.d2 * p.b23 + dl3.d3 * p.b33) / p.tot3 *
                (greatest(p.cc2 - ${mknDSel("dl2", "p.cc2")}, 0.0) / p.ctot2
                 + (dl2.d1 * p.b12 + dl2.d2 * p.b22 + dl2.d3 * p.b32) / p.ctot2 *
                   (greatest(cc1.cc1 - ${mknDSel("dl1", "cc1.cc1")}, 0.0) / st.t1
                    + (dl1.d1 * st.gb1 + dl1.d2 * st.gb2 + dl1.d3 * st.gb3) / st.t1
                      * (1.0 / (st.v + 1.0)))))), 3) AS avg_logprob
          FROM j2 p JOIN cc1 ON p.t = cc1.t
          CROSS JOIN st CROSS JOIN dl1 CROSS JOIN dl2 CROSS JOIN dl3
          GROUP BY p.doc_id)
        SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** Modified-KN scoring against a PRETRAINED reference (ref = the
    * src0-src3 slice) — the KenLM-parity CCNet ingest shape: bucketed
    * discounts derive from the REFERENCE model's count-of-counts, unseen
    * contexts exercise the full back-off CASE branches. */
  def qMkn3Against(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
    TextOps.lmScore(graft.api.MStream(docs), LmSpec(3, LmSpec.ModifiedKn()),
      "doc_id", "text", Some(LmRef(ref, "text"))).df
  }

  /** The shared modified-KN against chain (train on src0-src3, score ALL
    * documents through the back-off CASEs with derived/fallback
    * discounts), ending at the per-doc `agg` CTE — interpolated into
    * BOTH q_mkn3_against and q_mkn_buckets so the two cannot drift. */
  private val mknAgainstChainSql: String =
    s"""WITH rwords AS (SELECT list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w
                FROM documents WHERE source IN ('src0', 'src1', 'src2', 'src3')),
        g2 AS (SELECT unnest(w[1:len(w) - 1]) AS v, unnest(w[2:len(w)]) AS t FROM rwords WHERE len(w) >= 2),
        c2 AS MATERIALIZED (SELECT v, t, count(*) AS c2 FROM g2 GROUP BY v, t),
        g3r AS (SELECT unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM rwords WHERE len(w) >= 3),
        c3 AS MATERIALIZED (SELECT u, v, t, count(*) AS c3 FROM g3r GROUP BY u, v, t),
        ctx3 AS MATERIALIZED (SELECT u, v, sum(c3) AS tot3,
               count(*) FILTER (c3 = 1) AS b13, count(*) FILTER (c3 = 2) AS b23,
               count(*) FILTER (c3 >= 3) AS b33 FROM c3 GROUP BY u, v),
        cc2 AS MATERIALIZED (SELECT v, t, count(*) AS cc2 FROM c3 GROUP BY v, t),
        ctxc2 AS MATERIALIZED (SELECT v, sum(cc2) AS ctot2,
               count(*) FILTER (cc2 = 1) AS b12, count(*) FILTER (cc2 = 2) AS b22,
               count(*) FILTER (cc2 >= 3) AS b32 FROM cc2 GROUP BY v),
        cc1 AS MATERIALIZED (SELECT t, count(*) AS cc1 FROM c2 GROUP BY t),
        ${mknDiscSql("dl3", "c3", "c3")},
        ${mknDiscSql("dl2", "cc2", "cc2")},
        ${mknDiscSql("dl1", "cc1", "cc1")},
        st AS MATERIALIZED (SELECT (SELECT sum(cc1)::DOUBLE FROM cc1) AS t1,
               (SELECT count(*) FILTER (cc1 = 1) FROM cc1) AS gb1,
               (SELECT count(*) FILTER (cc1 = 2) FROM cc1) AS gb2,
               (SELECT count(*) FILTER (cc1 >= 3) FROM cc1) AS gb3,
               (SELECT count(DISTINCT tk) FROM (SELECT unnest(w) AS tk FROM rwords)) AS v),
        words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        tris AS (SELECT doc_id, unnest(w[1:len(w) - 2]) AS u, unnest(w[2:len(w) - 1]) AS v, unnest(w[3:len(w)]) AS t FROM words WHERE len(w) >= 3),
        j3 AS MATERIALIZED (SELECT p.doc_id AS doc_id, p.v AS v, p.t AS t, c3.c3 AS c3,
            ctx3.tot3 AS tot3, ctx3.b13 AS b13, ctx3.b23 AS b23, ctx3.b33 AS b33
          FROM tris p
          LEFT JOIN c3 ON p.u = c3.u AND p.v = c3.v AND p.t = c3.t
          LEFT JOIN ctx3 ON p.u = ctx3.u AND p.v = ctx3.v),
        j2 AS MATERIALIZED (SELECT p.*, cc2.cc2 AS cc2, ctxc2.ctot2 AS ctot2,
            ctxc2.b12 AS b12, ctxc2.b22 AS b22, ctxc2.b32 AS b32
          FROM j3 p
          LEFT JOIN cc2 ON p.v = cc2.v AND p.t = cc2.t
          LEFT JOIN ctxc2 ON p.v = ctxc2.v),
        j1 AS MATERIALIZED (SELECT p.*,
            greatest(coalesce(cc1.cc1, 0) - ${mknDSel("dl1", "coalesce(cc1.cc1, 0)")}, 0.0) / st.t1
              + (dl1.d1 * st.gb1 + dl1.d2 * st.gb2 + dl1.d3 * st.gb3) / st.t1
                * (1.0 / (st.v + 1.0)) AS p1
          FROM j2 p LEFT JOIN cc1 ON p.t = cc1.t
          CROSS JOIN st CROSS JOIN dl1),
        jp AS (SELECT doc_id,
            CASE WHEN coalesce(ctot2, 0) > 0
              THEN greatest(coalesce(cc2, 0) - ${mknDSel("dl2", "coalesce(cc2, 0)")}, 0.0) / ctot2
                   + (dl2.d1 * b12 + dl2.d2 * b22 + dl2.d3 * b32) / ctot2 * p1
              ELSE p1 END AS p2, c3, tot3, b13, b23, b33
          FROM j1 CROSS JOIN dl2),
        agg AS (SELECT doc_id, count(*) AS n_grams,
            round(avg(ln(
              CASE WHEN coalesce(tot3, 0) > 0
                THEN greatest(coalesce(c3, 0) - ${mknDSel("dl3", "coalesce(c3, 0)")}, 0.0) / tot3
                     + (dl3.d1 * b13 + dl3.d2 * b23 + dl3.d3 * b33) / tot3 * p2
                ELSE p2 END)), 3) AS avg_logprob
          FROM jp CROSS JOIN dl3 GROUP BY doc_id)"""

  val qMkn3AgainstSql: String =
    s"""$mknAgainstChainSql
        SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** The FULLY KenLM-parity CCNet bucketing: per-language terciles of the
    * MODIFIED-KN score against the pretrained reference (Wenzek's actual
    * 5-gram KenLM is modified-KN — this is the smoothing their pipeline
    * really uses), composed from the two public operators the shape
    * decomposes into: the modified-KN lmScore against a reference + the
    * generic bucketByRank. */
  def qMknBuckets(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val ref = docs.filter(col("source").isin("src0", "src1", "src2", "src3"))
    val scored = TextOps.lmScore(graft.api.MStream(docs), LmSpec(3, LmSpec.ModifiedKn()),
        "doc_id", "text", Some(LmRef(ref, "text"))).df
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    TextOps.bucketByRank(scored, "lang", "avg_logprob", "doc_id", buckets = 3)
  }

  val qMknBucketsSql: String =
    s"""$mknAgainstChainSql,
        scored AS (SELECT d.doc_id, coalesce(a.n_grams, 0)::BIGINT AS n_grams,
                   a.avg_logprob, d.lang
                 FROM documents d LEFT JOIN agg a USING (doc_id))
        SELECT doc_id, n_grams, avg_logprob, lang,
          (CASE WHEN avg_logprob IS NOT NULL THEN ntile(3) OVER (
             PARTITION BY lang, avg_logprob IS NULL
             ORDER BY avg_logprob DESC, doc_id) END)::INT AS bucket
        FROM scored"""

  /** Sentence-aware chunking over DETERMINISTICALLY punctuated text
    * (the synthetic corpus carries no sentence terminators, so — the
    * q_url_dedup convention — both engines first group each document's
    * words into runs of 5 + doc_id % 3 joined with '. ': the
    * segmentation, greedy packing and ordered reassembly then all run
    * on real multi-sentence structure). */
  def qChunkSent(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val punct = docs.select(col("doc_id"),
        TextOps.words(col("text")).as("__w"),
        (lit(5) + pmod(col("doc_id"), lit(3))).cast("int").as("__g"))
      .withColumn("__ng", expr("cast((size(__w) + __g - 1) div __g as int)"))
      .withColumn("ptext",
        when(size(col("__w")) === 0, lit(""))
          .otherwise(concat(array_join(
            transform(sequence(lit(0), col("__ng") - 1),
              i => array_join(slice(col("__w"), i * col("__g") + 1, col("__g")), " ")),
            ". "), lit("."))))
    TextOps.chunkSentences(punct, "doc_id", "ptext", maxTokens = 24L)
  }

  val qChunkSentSql: String =
    s"""WITH base AS (SELECT doc_id,
                  list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w,
                  (5 + doc_id % 3)::INT AS g
                FROM documents),
        punct AS (SELECT doc_id,
                  CASE WHEN len(w) = 0 THEN ''
                       ELSE list_aggregate(
                         [array_to_string(w[i * g + 1 : i * g + g], ' ')
                          for i in range(0, ((len(w) + g - 1) // g)::INT)],
                         'string_agg', '. ') || '.' END AS ptext
                FROM base),
        sents0 AS (SELECT doc_id,
                  list_filter(list_transform(regexp_extract_all(ptext, '[^.!?]+[.!?]*'), x -> trim(x)), x -> x <> '') AS ss
                FROM punct),
        es AS (SELECT doc_id, unnest(range(1, len(ss) + 1)) AS pos, unnest(ss) AS s FROM sents0),
        et AS (SELECT doc_id, pos, s,
                  len(list_filter(string_split_regex(s, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> ''))::BIGINT AS t
                FROM es),
        c AS (SELECT doc_id, pos, s, t,
                  floor(coalesce(sum(t) OVER (PARTITION BY doc_id ORDER BY pos
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 24)::BIGINT AS chunk_id
                FROM et)
        SELECT doc_id, chunk_id, string_agg(s, ' ' ORDER BY pos) AS chunk_text,
          sum(t)::BIGINT AS n_tokens, count(*)::BIGINT AS n_sentences
        FROM c GROUP BY doc_id, chunk_id"""

  /** Winnowing fingerprints (Schleimer et al. 2003) over word 3-grams,
    * window 4: the oracle re-runs the per-window rightmost-min definition
    * with list ops (the Scala side is the O(n) deque — same selection,
    * pinned equal by the ScalaCheck property). */
  def qWinnow(spark: SparkSession, dir: String): DataFrame =
    TextOps.winnowFingerprints(Tables.documents(spark, dir).df,
      "doc_id", "text", n = 3, w = 4)

  val qWinnowSql: String =
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        sh AS (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)] AS s
               FROM words WHERE len(w) >= 3),
        hs AS (SELECT doc_id, list_transform(s, x ->
                 list_reduce([0] || [ord(c)::BIGINT for c in string_split(x, '')],
                             (a, c) -> (a * 31 + c) % 1000000007)) AS hs FROM sh),
        ps AS (SELECT doc_id, hs, list_distinct(list_transform(
                 range(1, greatest(len(hs) - 2, 2)),
                 i -> i + least(4, len(hs) - i + 1)
                        - list_position(list_reverse(hs[i:i+3]), list_min(hs[i:i+3])))) AS sel
               FROM hs)
        SELECT doc_id, (p - 1)::INT AS pos, hs[p] AS fp
        FROM (SELECT doc_id, hs, unnest(sel) AS p FROM ps)"""

  /** Winnow-index overlap pairs: documents sharing >= 3 distinct
    * fingerprints after the boilerplate cap — the MOSS index join over
    * q_winnow's selection. */
  def qWinnowPairs(spark: SparkSession, dir: String): DataFrame =
    TextOps.winnowOverlapPairs(Tables.documents(spark, dir).df,
      "doc_id", "text", n = 3, w = 4, minShared = 3, maxBucket = 64)

  val qWinnowPairsSql: String =
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        sh AS (SELECT doc_id, [w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in range(1, len(w) - 1)] AS s
               FROM words WHERE len(w) >= 3),
        hs AS (SELECT doc_id, list_transform(s, x ->
                 list_reduce([0] || [ord(c)::BIGINT for c in string_split(x, '')],
                             (a, c) -> (a * 31 + c) % 1000000007)) AS hs FROM sh),
        ps AS (SELECT doc_id, hs, list_distinct(list_transform(
                 range(1, greatest(len(hs) - 2, 2)),
                 i -> i + least(4, len(hs) - i + 1)
                        - list_position(list_reverse(hs[i:i+3]), list_min(hs[i:i+3])))) AS sel
               FROM hs),
        byfp AS (SELECT DISTINCT doc_id, fp FROM (
                   SELECT doc_id, hs[unnest(sel)] AS fp FROM ps)),
        keep AS (SELECT fp FROM byfp GROUP BY fp HAVING count(*) <= 64)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        FROM (SELECT * FROM byfp WHERE fp IN (SELECT fp FROM keep)) a
        JOIN (SELECT * FROM byfp WHERE fp IN (SELECT fp FROM keep)) b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 3"""

  /** Naive Bayes language ID, batch face (streaming pinned equal by
    * NbClassifySpec): train on the reference slice's (text, lang) pairs,
    * classify the arriving slice; argmax on the rounded score with ties
    * to the smallest class label. */
  def qNbLangid(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    TextOps.nbClassifyAgainst(
      graft.api.MStream(docs.where(col("doc_id") % 3 === 0)),
      docs.where(col("doc_id") % 3 =!= 0),
      "doc_id", "text", "text", "lang").df
  }

  val qNbLangidSql: String =
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        cls AS (SELECT d.lang AS c, count(*) AS nc,
                  sum(coalesce(len(w.w), 0)) AS tc
                FROM documents d JOIN words w USING (doc_id)
                WHERE d.doc_id % 3 <> 0 GROUP BY d.lang),
        wc AS (SELECT d.lang AS c, t.t AS w, count(*) AS cwc
               FROM (SELECT doc_id, unnest(w) AS t FROM words) t
                 JOIN documents d USING (doc_id)
               WHERE d.doc_id % 3 <> 0 GROUP BY 1, 2),
        nv AS (SELECT count(DISTINCT w) AS V FROM wc),
        nn AS (SELECT count(*) AS ndocs FROM documents WHERE doc_id % 3 <> 0),
        toks AS (SELECT doc_id, unnest(w) AS t FROM words WHERE doc_id % 3 = 0),
        percls AS (SELECT toks.doc_id, cls.c, cls.nc, cls.tc, count(*) AS ntok,
                     sum(ln(coalesce(wc.cwc, 0) + 1.0)) AS s
                   FROM toks CROSS JOIN cls
                     LEFT JOIN wc ON wc.c = cls.c AND wc.w = toks.t
                   GROUP BY 1, 2, 3, 4),
        scored AS (SELECT doc_id, c,
                     round(ln(nc::DOUBLE / ndocs) + s - ntok * ln(tc + V * 1.0), 3) AS score
                   FROM percls CROSS JOIN nv CROSS JOIN nn),
        pred AS (SELECT doc_id, c, score,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, c) AS rn
                 FROM scored)
        SELECT d.doc_id, p.c AS pred, p.score
        FROM documents d LEFT JOIN (SELECT * FROM pred WHERE rn = 1) p USING (doc_id)
        WHERE d.doc_id % 3 = 0"""

  /** CCNet head/middle/tail perplexity bucketing (Wenzek et al. 2020
    * §4.3): per-language terciles of the self-corpus LM score, higher
    * log-likelihood = bucket 1 = "head"; ties break on doc_id, so the
    * assignment is a total order on both engines. Sub-2-token documents
    * take a NULL bucket (they partition separately and never occupy tile
    * slots of the real ranking). */
  def qPplBuckets(spark: SparkSession, dir: String): DataFrame =
    TextOps.perplexityBuckets(Tables.documents(spark, dir).df,
      "doc_id", "text", "lang")

  val qPplBucketsSql: String =
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        pairs AS (SELECT doc_id,
                    unnest(w[1:len(w) - 1]) AS u, unnest(w[2:len(w)]) AS v
                  FROM words WHERE len(w) >= 2),
        bc AS (SELECT u, v, count(*) AS c FROM pairs GROUP BY u, v),
        cc AS (SELECT u, sum(c) AS cu FROM bc GROUP BY u),
        vv AS (SELECT count(DISTINCT v) AS V FROM bc),
        agg AS (SELECT p.doc_id AS doc_id, count(*) AS n_pairs,
                  round(avg(ln((bc.c + 0.5) / (cc.cu + 0.5 * vv.V))), 3) AS avg_logprob
                FROM pairs p JOIN bc ON p.u = bc.u AND p.v = bc.v
                             JOIN cc ON p.u = cc.u CROSS JOIN vv
                GROUP BY p.doc_id),
        scored AS (SELECT d.doc_id, d.lang, coalesce(a.n_pairs, 0)::BIGINT AS n_pairs,
                     a.avg_logprob
                   FROM documents d LEFT JOIN agg a USING (doc_id))
        SELECT doc_id, lang, n_pairs, avg_logprob,
          (CASE WHEN avg_logprob IS NOT NULL THEN ntile(3) OVER (
             PARTITION BY lang, avg_logprob IS NULL
             ORDER BY avg_logprob DESC, doc_id) END)::INT AS bucket
        FROM scored"""

  /** CCNet-shaped cross-corpus LM scoring, batch face (streaming pinned
    * equal by StreamingTextOpsSpec): documents of the arriving slice
    * (doc_id % 3 = 0) scored by a bigram LM trained on the reference
    * slice (doc_id % 3 <> 0); unseen pairs back off to the smoothed
    * floor. */
  def qLmAgainst(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    TextOps.lmScore(graft.api.MStream(docs.where(col("doc_id") % 3 === 0)),
      LmSpec(2, LmSpec.AddAlpha()), "doc_id", "text",
      Some(LmRef(docs.where(col("doc_id") % 3 =!= 0), "text"))).df
  }

  val qLmAgainstSql: String =
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        pairs AS (SELECT doc_id,
                    unnest(w[1:len(w) - 1]) AS u, unnest(w[2:len(w)]) AS v
                  FROM words WHERE len(w) >= 2),
        bc AS (SELECT u, v, count(*) AS c FROM pairs WHERE doc_id % 3 <> 0 GROUP BY u, v),
        cc AS (SELECT u, sum(c) AS cu FROM bc GROUP BY u),
        vv AS (SELECT count(DISTINCT v) AS V FROM bc),
        agg AS (SELECT p.doc_id AS doc_id, count(*) AS n_pairs,
                  round(avg(ln((coalesce(bc.c, 0) + 0.5)
                               / (coalesce(cc.cu, 0) + 0.5 * vv.V))), 3) AS avg_logprob
                FROM pairs p LEFT JOIN bc ON p.u = bc.u AND p.v = bc.v
                             LEFT JOIN cc ON p.u = cc.u CROSS JOIN vv
                WHERE p.doc_id % 3 = 0
                GROUP BY p.doc_id)
        SELECT d.doc_id, coalesce(a.n_pairs, 0)::BIGINT AS n_pairs, a.avg_logprob
        FROM documents d LEFT JOIN agg a USING (doc_id)
        WHERE d.doc_id % 3 = 0"""

  /** DSIR-style importance weighting (Xie et al. 2023): every document
    * scored by target-likeness under hashed word-bigram bucket models
    * with add-1 smoothing — target = the English slice, raw = the whole
    * corpus; `selected` = more target-like than raw-like. Batch face of
    * the dual-mode `TextOps.dsirScore` (streaming pinned equal by
    * StreamingTextOpsSpec). */
  def qDsir(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    TextOps.dsirScore(graft.api.MStream(docs), docs.where(col("lang") === "en"),
      docs, "doc_id", "text", "text").df
  }

  val qDsirSql: String =
    s"""WITH words AS (SELECT doc_id, lang, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        g AS (SELECT doc_id, lang,
                unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS s
              FROM words WHERE len(w) >= 2),
        h AS (SELECT doc_id, lang,
                list_reduce([0] || [ord(c)::BIGINT for c in string_split(s, '')],
                            (a, c) -> (a * 31 + c) % 1000000007) % 4096 AS b FROM g),
        tgt AS (SELECT b, count(*) AS t FROM h WHERE lang = 'en' GROUP BY b),
        tt AS (SELECT count(*) AS tot_t FROM h WHERE lang = 'en'),
        rw AS (SELECT b, count(*) AS r FROM h GROUP BY b),
        rt AS (SELECT count(*) AS tot_r FROM h),
        agg AS (SELECT h.doc_id AS doc_id, count(*) AS n,
                  sum(ln((coalesce(tgt.t, 0) + 1.0) / (tt.tot_t + 1.0 * 4096))
                      - ln((coalesce(rw.r, 0) + 1.0) / (rt.tot_r + 1.0 * 4096))) AS s
                FROM h LEFT JOIN tgt USING (b) LEFT JOIN rw USING (b)
                     CROSS JOIN tt CROSS JOIN rt
                GROUP BY h.doc_id)
        SELECT d.doc_id, coalesce(a.n, 0)::BIGINT AS n_feats,
          round(a.s, 3) AS dsir_weight,
          coalesce(round(a.s, 3) > 0, false) AS selected
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** Heavy hitters via the count–min sketch aggregate: tokens estimated
    * at ≥ 1/1000 of the corpus token count. The oracle rebuilds the d×w
    * sketch cell-for-cell (per-row bucket counts under the shared affine
    * hash family) and applies the same integer threshold. */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    TextOps.heavyHitters(Tables.documents(spark, dir).df, "text",
      depth = 4, width = 2048, minFracInv = 1000L)

  val qHeavyHittersSql: String = {
    val d = 4; val w = 2048
    val rows = (0 until d).map { i =>
      val (a, c) = (2 * i + 1, 12345 * i + 7)
      s"b$i AS (SELECT ((hh * $a + $c) % 1000000007) % $w AS b, count(*) AS c FROM h GROUP BY 1)"
    }.mkString(",\n        ")
    val joins = (0 until d).map { i =>
      val (a, c) = (2 * i + 1, 12345 * i + 7)
      s"JOIN b$i x$i ON ((cand.hh * $a + $c) % 1000000007) % $w = x$i.b"
    }.mkString("\n               ")
    val cells = (0 until d).map(i => s"x$i.c").mkString(", ")
    s"""WITH words AS (SELECT list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        tok AS (SELECT unnest(w) AS word FROM words),
        h AS (SELECT word, list_reduce([0] || [ord(c)::BIGINT for c in string_split(word, '')],
                                       (a, c) -> (a * 31 + c) % 1000000007) AS hh FROM tok),
        $rows,
        n AS (SELECT count(*) AS n FROM h),
        cand AS (SELECT DISTINCT word, hh FROM h),
        est AS (SELECT cand.word AS word, least($cells)::BIGINT AS est
                FROM cand
               $joins)
        SELECT word, est FROM est CROSS JOIN n WHERE est * 1000 >= n.n"""
  }

  /** C4-style duplicate-line scrub over a synthesized boilerplate corpus:
    * the raw documents carry no newlines, so each doc is extended with a
    * shared footer line (the text of doc `doc_id % 20` — 20 footers,
    * each repeated ~N/20 times, the crawl-boilerplate shape the C4
    * cleanup targets). Only each footer's first (id, pos) occurrence
    * survives; own texts are unique and stay. */
  def qLineScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val footer = docs.select(col("doc_id").as("__fid"), col("text").as("__ftext"))
    val synth = docs.join(footer, col("doc_id") % 20 === col("__fid"))
      .select(col("doc_id"), concat_ws("\n", col("text"), col("__ftext")).as("text"))
    Dedup.scrubDuplicateLines(synth, "doc_id", "text", minWords = 3)
      .select(col("doc_id"), col("n_lines"), col("n_dropped"),
        TextOps.polyHash(col("scrubbed")).as("kept_hash"))
  }

  val qLineScrubSql: String =
    s"""WITH synth AS (SELECT d.doc_id AS doc_id, d.text || chr(10) || f.text AS text
                       FROM documents d JOIN documents f ON f.doc_id = d.doc_id % 20),
        ls AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM synth),
        lines AS (SELECT doc_id, unnest(ls) AS line,
                    unnest(range(0, len(ls))) AS pos FROM ls),
        tag AS (SELECT doc_id, pos, line,
                  len(list_filter(string_split_regex(line, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '')) >= 3 AS sub
                FROM lines),
        rn AS (SELECT doc_id, pos, line, sub,
                 row_number() OVER (PARTITION BY sub, line ORDER BY doc_id, pos) AS rn
               FROM tag),
        keepr AS (SELECT doc_id, pos, line, (NOT sub OR rn = 1) AS keep FROM rn),
        agg AS (SELECT doc_id, count(*) AS n_lines,
                  sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
                  array_to_string(list(line ORDER BY pos) FILTER (WHERE keep), chr(10)) AS scrubbed
                FROM keepr GROUP BY doc_id)
        SELECT doc_id, n_lines, n_dropped,
          list_reduce([0] || [ord(c)::BIGINT for c in string_split(scrubbed, '')],
                      (a, c) -> (a * 31 + c) % 1000000007) AS kept_hash
        FROM agg"""

  /** Paragraph-granularity corpus-wide duplicate scrub (C4 dedups at
    * both granularities): synthesized two-paragraph documents where the
    * second paragraph is a shared footer (doc_id % 15 picks it), so the
    * footer paragraph survives only at its first (doc_id, pos)
    * occurrence. Outputs per-doc paragraph counts + surviving-content
    * hash — the q_line_scrub evidence shape one granularity up. */
  def qParaScrub(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val footer = docs.select(col("doc_id").as("__fid"), col("text").as("__ftext"))
    val synth = docs.join(footer, col("doc_id") % 15 === col("__fid"))
      .select(col("doc_id"),
        concat_ws("\n\n", col("text"), col("__ftext")).as("text"))
    Dedup.scrubDuplicateParagraphs(synth, "doc_id", "text", minWords = 3)
      .select(col("doc_id"), col("n_paras"), col("n_dropped"),
        TextOps.polyHash(col("scrubbed")).as("kept_hash"))
  }

  val qParaScrubSql: String =
    s"""WITH synth AS (SELECT d.doc_id AS doc_id, d.text || chr(10) || chr(10) || f.text AS text
                       FROM documents d JOIN documents f ON f.doc_id = d.doc_id % 15),
        ps AS (SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps FROM synth),
        paras AS (SELECT doc_id, unnest(ps) AS para,
                    unnest(range(0, len(ps))) AS pos FROM ps),
        tag AS (SELECT doc_id, pos, para,
                  len(list_filter(string_split_regex(para, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '')) >= 3 AS sub
                FROM paras),
        rn AS (SELECT doc_id, pos, para, sub,
                 row_number() OVER (PARTITION BY sub, para ORDER BY doc_id, pos) AS rn
               FROM tag),
        keepr AS (SELECT doc_id, pos, para, (NOT sub OR rn = 1) AS keep FROM rn),
        agg AS (SELECT doc_id, count(*) AS n_paras,
                  sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
                  array_to_string(list(para ORDER BY pos) FILTER (WHERE keep), chr(10) || chr(10)) AS scrubbed
                FROM keepr GROUP BY doc_id)
        SELECT doc_id, n_paras, n_dropped,
          list_reduce([0] || [ord(c)::BIGINT for c in string_split(scrubbed, '')],
                      (a, c) -> (a * 31 + c) % 1000000007) AS kept_hash
        FROM agg"""

  /** Token-frequency annotation at ingest: arrivals (doc_id % 3 = 0)
    * annotated against a count–min sketch of the reference slice
    * (doc_id % 3 <> 0) — rarest-token estimate + count of tokens the
    * reference has (modulo collisions) seen at most twice. Batch face of
    * the dual-mode `TextOps.tokenFrequencyStats` (streaming pinned equal
    * by StreamingTextOpsSpec); integer outputs, no float rounding. */
  def qTokenFreq(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    TextOps.tokenFrequencyStats(
      graft.api.MStream(docs.where(col("doc_id") % 3 === 0)),
      docs.where(col("doc_id") % 3 =!= 0), "doc_id", "text", "text").df
  }

  val qTokenFreqSql: String = {
    val d = 4; val w = 2048
    val rows = (0 until d).map { i =>
      val (a, c) = (2 * i + 1, 12345 * i + 7)
      s"b$i AS (SELECT ((hh * $a + $c) % 1000000007) % $w AS b, count(*) AS c FROM rh GROUP BY 1)"
    }.mkString(",\n        ")
    val joins = (0 until d).map { i =>
      val (a, c) = (2 * i + 1, 12345 * i + 7)
      s"LEFT JOIN b$i x$i ON ((t.hh * $a + $c) % 1000000007) % $w = x$i.b"
    }.mkString("\n               ")
    val cells = (0 until d).map(i => s"coalesce(x$i.c, 0)").mkString(", ")
    s"""WITH words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        rh AS (SELECT list_reduce([0] || [ord(c)::BIGINT for c in string_split(word, '')],
                                  (a, c) -> (a * 31 + c) % 1000000007) AS hh
               FROM (SELECT unnest(w) AS word FROM words WHERE doc_id % 3 <> 0)),
        $rows,
        t AS (SELECT doc_id, list_reduce([0] || [ord(c)::BIGINT for c in string_split(word, '')],
                                         (a, c) -> (a * 31 + c) % 1000000007) AS hh
              FROM (SELECT doc_id, unnest(w) AS word FROM words WHERE doc_id % 3 = 0)),
        est AS (SELECT t.doc_id AS doc_id, least($cells)::BIGINT AS e
                FROM t
               $joins),
        agg AS (SELECT doc_id, count(*) AS n, min(e) AS mn,
                  sum(CASE WHEN e <= 2 THEN 1 ELSE 0 END)::BIGINT AS r
                FROM est GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.n, 0)::BIGINT AS n_tokens, a.mn AS min_est,
          coalesce(a.r, 0)::BIGINT AS n_rare
        FROM documents d LEFT JOIN agg a USING (doc_id)
        WHERE d.doc_id % 3 = 0"""
  }

  private val BpeRounds = 6

  /** Distributed BPE merge training (Sennrich et al. 2016): the first 6
    * merge rules learned from the corpus vocabulary. The oracle re-runs
    * every round — pair counts weighted by word frequency, argmax with
    * lexicographic ties, greedy left-to-right merge application via
    * bracketed-symbol literal replace. */
  def qBpeMerges(spark: SparkSession, dir: String): DataFrame =
    TextOps.trainBpeMerges(Tables.documents(spark, dir).df, "text", BpeRounds)

  /** Shared oracle CTEs: the canonical word split, the word-frequency
    * vocabulary as bracketed-symbol strings, and `BpeRounds` unrolled
    * training rounds (p\$r pair counts, b\$r winning merge, v\$r rewritten
    * vocabulary). */
  private def bpeTrainingCtes: String = {
    val rounds = (1 to BpeRounds).map { r =>
      s"""p$r AS (SELECT a, b, sum(c)::BIGINT AS n FROM (
             SELECT unnest(y[1:len(y) - 1]) AS a, unnest(y[2:len(y)]) AS b, c FROM (
               SELECT string_split(s[2:len(s) - 1], chr(3) || chr(2)) AS y, c
               FROM v${r - 1}))
           GROUP BY 1, 2),
        b$r AS (SELECT a, b FROM p$r ORDER BY n DESC, a, b LIMIT 1),
        v$r AS (SELECT replace(v.s, chr(2) || b.a || chr(3) || chr(2) || b.b || chr(3),
                        chr(2) || b.a || b.b || chr(3)) AS s, v.c
                FROM v${r - 1} v CROSS JOIN b$r b)"""
    }.mkString(",\n        ")
    s"""words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        wf AS (SELECT word, count(*)::BIGINT AS c
               FROM (SELECT unnest(w) AS word FROM words) GROUP BY word),
        v0 AS (SELECT array_to_string([chr(2) || ch || chr(3)
                                       for ch in string_split(word, '')], '') AS s, c
               FROM wf),
        $rounds"""
  }

  val qBpeMergesSql: String = {
    val union = (1 to BpeRounds)
      .map(r => s"SELECT $r AS merge_rank, a AS lhs, b AS rhs FROM b$r")
      .mkString("\n        UNION ALL ")
    s"""WITH $bpeTrainingCtes
        $union"""
  }

  /** The learned merges applied back to every document: subword token
    * count + portable hash of the space-joined token sequence. */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    TextOps.bpeTokenize(docs, "doc_id", "text",
      TextOps.trainBpeMerges(docs, "text", BpeRounds))
  }

  val qBpeEncodeSql: String = {
    val chain = (1 to BpeRounds).foldLeft("s0") { (acc, r) =>
      s"replace($acc, chr(2) || b$r.a || chr(3) || chr(2) || b$r.b || chr(3), chr(2) || b$r.a || b$r.b || chr(3))"
    }
    val crosses = (1 to BpeRounds).map(r => s"CROSS JOIN b$r").mkString(" ")
    s"""WITH $bpeTrainingCtes,
        dw AS (SELECT doc_id, unnest(w) AS word, unnest(range(1, len(w) + 1)) AS pos
               FROM words),
        wrapped AS (SELECT doc_id, pos,
                      array_to_string([chr(2) || ch || chr(3)
                                       for ch in string_split(word, '')], '') AS s0
                    FROM dw),
        tok AS (SELECT doc_id, pos,
                  string_split(s6x[2:len(s6x) - 1], chr(3) || chr(2)) AS y
                FROM (SELECT doc_id, pos, $chain AS s6x FROM wrapped $crosses)),
        agg AS (SELECT doc_id, sum(len(y))::BIGINT AS n_bpe_tokens,
                  list_reduce([0] || [ord(c)::BIGINT for c in string_split(
                    array_to_string(list(array_to_string(y, ' ') ORDER BY pos), ' '), '')],
                    (a, c) -> (a * 31 + c) % 1000000007) AS tok_hash
                FROM tok GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.n_bpe_tokens, 0)::BIGINT AS n_bpe_tokens,
          coalesce(a.tok_hash, 0)::BIGINT AS tok_hash
        FROM documents d LEFT JOIN agg a USING (doc_id)"""
  }

  /** BPE tokenization straight to vocabulary ids — the BPE cell of the
    * tokenizer × output matrix (q_unigram_ids is the unigram cell): ids
    * derive from the merge table alone (in-merge alphabet in UTF-8
    * order, then merge outputs in rank order); per-doc scalar checks
    * (count, ORDER-FREE sum checksum, first id) keep the oracle
    * array-free. */
  def qBpeIds(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val merges = TextOps.trainBpeMerges(docs, "text", BpeRounds)
    TextOps.bpeEncodeIds(graft.api.MStream(docs), merges, "text").df
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_ids"),
        aggregate(col("ids"), lit(0L), (a, x) => a + x).as("id_checksum"),
        element_at(col("ids"), 1).as("first_id"))
  }

  val qBpeIdsSql: String = {
    val chain = (1 to BpeRounds).foldLeft("s0") { (acc, r) =>
      s"replace($acc, chr(2) || b$r.a || chr(3) || chr(2) || b$r.b || chr(3), chr(2) || b$r.a || b$r.b || chr(3))"
    }
    val crosses = (1 to BpeRounds).map(r => s"CROSS JOIN b$r").mkString(" ")
    val mt = (1 to BpeRounds)
      .map(r => s"SELECT $r AS mr, a, b FROM b$r")
      .mkString("\n          UNION ALL ")
    s"""WITH $bpeTrainingCtes,
        mt AS ($mt),
        outs AS (SELECT a || b AS piece, min(mr) AS mr FROM mt GROUP BY 1),
        atoms AS (SELECT DISTINCT sym FROM (
                    SELECT a AS sym FROM mt UNION ALL SELECT b AS sym FROM mt)
                  WHERE sym NOT IN (SELECT piece FROM outs)),
        -- HuggingFace-BPE id layout: alphabet (binary order) first, then
        -- merge outputs by first rank
        vocabv AS (SELECT sym AS piece, row_number() OVER (ORDER BY sym) - 1 AS pid FROM atoms
                   UNION ALL
                   SELECT piece, (SELECT count(*) FROM atoms)
                     + row_number() OVER (ORDER BY mr) - 1 AS pid FROM outs),
        dw AS (SELECT doc_id, unnest(w) AS word, unnest(range(1, len(w) + 1)) AS pos
               FROM words),
        wrapped AS (SELECT doc_id, pos,
                      array_to_string([chr(2) || ch || chr(3)
                                       for ch in string_split(word, '')], '') AS s0
                    FROM dw),
        tok AS (SELECT doc_id, pos,
                  string_split(s6x[2:len(s6x) - 1], chr(3) || chr(2)) AS y
                FROM (SELECT doc_id, pos, $chain AS s6x FROM wrapped $crosses)),
        pp AS (SELECT doc_id, pos AS wpos, unnest(y) AS piece,
                 unnest(range(1, len(y) + 1)) AS spos FROM tok),
        ids AS (SELECT pp.doc_id AS doc_id, count(*) AS n_ids,
                  sum(coalesce(v.pid, -1))::BIGINT AS id_checksum,
                  max(CASE WHEN pp.wpos = 1 AND pp.spos = 1
                           THEN coalesce(v.pid, -1) END) AS first_id
                FROM pp LEFT JOIN vocabv v USING (piece) GROUP BY pp.doc_id)
        SELECT d.doc_id, coalesce(i.n_ids, 0)::BIGINT AS n_ids,
          coalesce(i.id_checksum, 0)::BIGINT AS id_checksum, i.first_id::BIGINT AS first_id
        FROM documents d LEFT JOIN ids i USING (doc_id)"""
  }

  /** The SentencePiece .vocab interop loop: the trained unigram
    * vocabulary EXPORTS as the standard piece<TAB>logprob text file,
    * imports back, and every document encodes to the FILE's own
    * line-number ids through the log-space Viterbi (sums of
    * identically-parsed rounded logprobs — engine-reproducible like the
    * product fold). The oracle re-derives the vocabulary, its file
    * logprobs AND the log-space segmentation relationally. */
  def qUnigramSp(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val vocab = graft.pipeline.Unigram.trainVocab(docs, "text",
      vocabSize = 40, maxPieceLen = 3, emRounds = 2, seedSize = 60)
    val path = scratch.dir("sp")
      .resolve("sp.vocab").toString
    graft.pipeline.Unigram.exportVocab(vocab, path)
    val imported = graft.pipeline.Unigram.importVocab(spark, path)
    graft.pipeline.Unigram.encodeIdsImported(graft.api.MStream(docs),
        imported, "text").df
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_ids"),
        aggregate(col("ids"), lit(0L), (a, x) => a + x).as("id_checksum"),
        element_at(col("ids"), 1).as("first_id"))
  }

  /** Log-space Viterbi pass (the imported-vocabulary face's arithmetic):
    * [[unigramSegPass]] with sums over the vocab CTE's `lp` column —
    * dp[i] = max of dp[i−l] + lp, unknown single chars at exactly
    * −1000.0, unknown longer pieces at −1e18 (never on a winning path). */
  private def unigramSegPassLog(tag: String, vocabCte: String, L: Int): String =
    s"""m$tag AS MATERIALIZED (SELECT map_from_entries(list(struct_pack(k := piece, v := lp))) AS m FROM $vocabCte),
        st$tag AS (
          SELECT word, wc, 0 AS pos, [0.0::DOUBLE] AS dps, [0] AS bls, m FROM words0, m$tag
          UNION ALL
          SELECT word, wc, pos + 1, list_append(dps, best.s), list_append(bls, best.bl), m FROM (
            SELECT word, wc, pos, dps, bls, m,
              list_reduce(
                list_transform(range(1, least($L, pos + 1) + 1),
                  l -> struct_pack(
                    s := dps[pos + 2 - l] + coalesce(m[word[pos + 2 - l : pos + 1]][1],
                           CASE WHEN l = 1 THEN -1000.0 ELSE -1e18::DOUBLE END),
                    bl := l)),
                (b, c) -> CASE WHEN c.s >= b.s THEN c ELSE b END) AS best
            FROM st$tag WHERE pos < len(word))),
        bt$tag AS (
          SELECT word, wc, bls, len(word) AS pos, []::VARCHAR[] AS ps FROM st$tag WHERE pos = len(word)
          UNION ALL
          SELECT word, wc, bls, pos - bls[pos + 1],
            list_prepend(word[pos - bls[pos + 1] + 1 : pos], ps)
          FROM bt$tag WHERE pos > 0)"""

  val qUnigramSpSql: String =
    s"""WITH RECURSIVE
        ${unigramChainSql(40, 3, 2, 60)},
        -- the exported file's content: round6(ln(cnt/total)) per piece,
        -- line order = (cnt desc, piece) = the sp_id assignment
        lv AS MATERIALIZED (SELECT piece,
               round(ln(cnt::DOUBLE / (SELECT sum(cnt) FROM keep2)::DOUBLE), 6) AS lp
             FROM keep2),
        rankv AS MATERIALIZED (SELECT piece, row_number() OVER (ORDER BY cnt DESC, piece) - 1 AS pid FROM keep2),
        ${unigramSegPassLog("E", "lv", 3)},
        wp AS MATERIALIZED (SELECT word, ps FROM btE WHERE pos = 0),
        docw AS (SELECT doc_id, unnest(w) AS word, unnest(range(1, len(w) + 1)) AS widx
                 FROM (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents)),
        enc AS (SELECT doc_id, flatten(list(ps ORDER BY widx)) AS pieces
                FROM docw JOIN wp USING (word) GROUP BY doc_id),
        pp AS (SELECT doc_id, unnest(pieces) AS piece,
                 unnest(range(1, len(pieces) + 1)) AS ppos FROM enc),
        ids AS (SELECT pp.doc_id AS doc_id, count(*) AS n_ids,
                  sum(coalesce(rankv.pid, -1))::BIGINT AS id_checksum,
                  max(CASE WHEN pp.ppos = 1 THEN coalesce(rankv.pid, -1) END) AS first_id
                FROM pp LEFT JOIN rankv USING (piece) GROUP BY pp.doc_id)
        SELECT d.doc_id, coalesce(i.n_ids, 0)::BIGINT AS n_ids,
          coalesce(i.id_checksum, 0)::BIGINT AS id_checksum, i.first_id::BIGINT AS first_id
        FROM documents d LEFT JOIN ids i USING (doc_id)"""

  /** The full GPT-2 artifact-pair loop: the trained byte-level merge
    * table EXPORTS as merges.txt + vocab.json (the canonical layout:
    * 256-char byte alphabet by code point at ids 0..255, merge outputs
    * by rank — the published GPT-2 head), BOTH import back, and every
    * document encodes to the FILES' own ids. The oracle re-derives the
    * canonical layout relationally (the disk round trip is
    * semantically transparent — the q_ppl_artifact pattern applied to
    * the id space). */
  def qByteBpeJson(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val merges = TextOps.trainByteBpeMerges(docs, "text", ByteBpeRounds)
    val tmp = scratch.dir("bbj")
    val mPath = tmp.resolve("merges.txt").toString
    val vPath = tmp.resolve("vocab.json").toString
    TextOps.bpeExportMerges(merges, mPath)
    TextOps.byteBpeExportVocabJson(merges, vPath)
    val m2 = TextOps.bpeImportMerges(spark, mPath)
    val v2 = TextOps.byteBpeImportVocabJson(spark, vPath)
    TextOps.byteBpeEncodeIdsImported(graft.api.MStream(docs), m2, v2, "text").df
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_ids"),
        aggregate(col("ids"), lit(0L), (a, x) => a + x).as("id_checksum"),
        element_at(col("ids"), 1).as("first_id"))
  }

  lazy val qByteBpeJsonSql: String = {
    val mt = (1 to ByteBpeRounds)
      .map(r => s"SELECT $r AS mr, a, b FROM bb$r")
      .mkString("\n          UNION ALL ")
    s"""WITH $byteBpeTrainingCtes,
        $byteBpeApplyCtes,
        jmt AS ($mt),
        jouts AS (SELECT a || b AS piece, min(mr) AS mr FROM jmt GROUP BY 1),
        -- the canonical vocab.json layout: full byte alphabet by code
        -- point (0..255), then merge outputs by rank (first-wins; >= 2
        -- chars, so alphabet collisions are impossible)
        jvocab AS (SELECT ch AS piece, row_number() OVER (ORDER BY ch) - 1 AS pid
                   FROM (SELECT DISTINCT ch FROM (VALUES $gpt2BmapRows) bm2(h, ch))
                   UNION ALL
                   SELECT piece, 255 + row_number() OVER (ORDER BY mr) AS pid FROM jouts),
        jpp AS (SELECT doc_id, pos AS wpos, unnest(y) AS piece,
                  unnest(range(1, len(y) + 1)) AS spos FROM btok),
        jids AS (SELECT jpp.doc_id AS doc_id, count(*) AS n_ids,
                   sum(coalesce(v.pid, -1))::BIGINT AS id_checksum,
                   max(CASE WHEN jpp.wpos = 1 AND jpp.spos = 1
                            THEN coalesce(v.pid, -1) END) AS first_id
                 FROM jpp LEFT JOIN jvocab v USING (piece) GROUP BY jpp.doc_id)
        SELECT d.doc_id, coalesce(i.n_ids, 0)::BIGINT AS n_ids,
          coalesce(i.id_checksum, 0)::BIGINT AS id_checksum, i.first_id::BIGINT AS first_id
        FROM documents d LEFT JOIN jids i USING (doc_id)"""
  }

  private val LangBpeRounds = 6

  /** Per-language BPE training mirror: `LangBpeRounds` unrolled rounds
    * where each round argmaxes PER LANGUAGE (row_number over a lang
    * partition — one statistic pass for every language at once, the
    * one-pass multi-tokenizer shape) and rewrites each language's slice
    * with ITS winning merge (LEFT JOIN — languages without a surviving
    * pair pass through unchanged; exhaustion is permanent, so a
    * language's round-r merge is its rank-r rule). */
  private def langBpeTrainingCtes: String = {
    val rounds = (1 to LangBpeRounds).map { r =>
      s"""ly$r AS MATERIALIZED (SELECT lang, string_split(s[2:len(s) - 1], chr(3) || chr(2)) AS y, c
                 FROM lv${r - 1}),
        lp$r AS MATERIALIZED (SELECT lang, a, b, sum(c)::BIGINT AS n FROM (
                   SELECT lang, unnest(y[1:len(y) - 1]) AS a, unnest(y[2:len(y)]) AS b, c
                   FROM ly$r WHERE len(y) >= 2)
                 GROUP BY 1, 2, 3),
        lb$r AS MATERIALIZED (SELECT lang, a, b FROM (
                   SELECT lang, a, b,
                     row_number() OVER (PARTITION BY lang ORDER BY n DESC, a, b) AS rn
                   FROM lp$r) WHERE rn = 1),
        lv$r AS MATERIALIZED (SELECT v.lang,
                   CASE WHEN b.a IS NULL THEN v.s
                        ELSE replace(v.s, chr(2) || b.a || chr(3) || chr(2) || b.b || chr(3),
                               chr(2) || b.a || b.b || chr(3)) END AS s, v.c
                 FROM lv${r - 1} v LEFT JOIN lb$r b ON v.lang IS NOT DISTINCT FROM b.lang)"""
    }.mkString(",\n        ")
    s"""lwords AS (SELECT doc_id, lang, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w
                   FROM documents),
        lwf AS (SELECT lang, word, count(*)::BIGINT AS c
                FROM (SELECT lang, unnest(w) AS word FROM lwords) GROUP BY 1, 2),
        lv0 AS MATERIALIZED (SELECT lang,
                 array_to_string([chr(2) || ch || chr(3)
                                  for ch in string_split(word, '')], '') AS s, c
               FROM lwf),
        $rounds"""
  }

  /** Every language's BPE merge table trained in ONE pass (the
    * tokenizer analog of the per-language LM matrix): (lang,
    * merge_rank, lhs, rhs), each language's sequence identical to
    * training on its slice alone. */
  def qBpeBylang(spark: SparkSession, dir: String): DataFrame =
    TextOps.trainBpeMergesByLang(Tables.documents(spark, dir).df,
      "lang", "text", LangBpeRounds)

  lazy val qBpeBylangSql: String = {
    val union = (1 to LangBpeRounds)
      .map(r => s"SELECT lang, $r AS merge_rank, a AS lhs, b AS rhs FROM lb$r")
      .mkString("\n        UNION ALL ")
    s"""WITH $langBpeTrainingCtes
        $union"""
  }

  /** Each document tokenized under its OWN language's merge table:
    * per-doc count + sequence hash; a language the table does not model
    * (zero merges trained — e.g. every word single-character) gets the
    * NULL verdict, mirroring the by-language LM convention. */
  def qBpeBylangEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    TextOps.bpeTokenizeByLang(graft.api.MStream(docs),
      TextOps.trainBpeMergesByLang(docs, "lang", "text", LangBpeRounds),
      "doc_id", "lang", "text").df
  }

  lazy val qBpeBylangEncodeSql: String = {
    val chain = (1 to LangBpeRounds).map { r =>
      s"""el$r AS MATERIALIZED (SELECT e.doc_id, e.lang, e.pos,
             CASE WHEN b.a IS NULL THEN e.s
                  ELSE replace(e.s, chr(2) || b.a || chr(3) || chr(2) || b.b || chr(3),
                         chr(2) || b.a || b.b || chr(3)) END AS s
           FROM el${r - 1} e LEFT JOIN lb$r b ON e.lang IS NOT DISTINCT FROM b.lang)"""
    }.mkString(",\n        ")
    val modeled = (1 to LangBpeRounds)
      .map(r => s"SELECT lang FROM lb$r").mkString(" UNION ALL ")
    s"""WITH $langBpeTrainingCtes,
        ldw AS (SELECT doc_id, lang, unnest(w) AS word, unnest(range(1, len(w) + 1)) AS pos
                FROM lwords),
        el0 AS MATERIALIZED (SELECT doc_id, lang,  pos,
                 array_to_string([chr(2) || ch || chr(3)
                                  for ch in string_split(word, '')], '') AS s
               FROM ldw),
        $chain,
        etok AS (SELECT doc_id, string_split(s[2:len(s) - 1], chr(3) || chr(2)) AS y, pos
                 FROM el$LangBpeRounds),
        eagg AS (SELECT doc_id, sum(len(y))::BIGINT AS n,
                   list_reduce([0] || [ord(c)::BIGINT for c in string_split(
                     array_to_string(list(array_to_string(y, ' ') ORDER BY pos), ' '), '')],
                     (a, c) -> (a * 31 + c) % 1000000007) AS h
                 FROM etok GROUP BY doc_id),
        lmodeled AS (SELECT DISTINCT lang, 1 AS ok FROM ($modeled))
        SELECT d.doc_id,
          (CASE WHEN m.ok IS NULL THEN NULL ELSE coalesce(a.n, 0) END)::BIGINT AS n_bpe_tokens,
          (CASE WHEN m.ok IS NULL THEN NULL ELSE coalesce(a.h, 0) END)::BIGINT AS tok_hash
        FROM documents d
        LEFT JOIN eagg a USING (doc_id)
        LEFT JOIN lmodeled m ON d.lang IS NOT DISTINCT FROM m.lang"""
  }

  private val WpRounds = 6

  private val ByteBpeRounds = 6

  /** Byte-level BPE training mirror (the GPT-2 tokenizer proper): the
    * corpus pre-tokenizes under the SHARED lookahead-free pattern
    * ([[TextOps.Gpt2PreTokenPattern]] — identical semantics in Java
    * regex and RE2), every pre-token's UTF-8 BYTES map through the
    * GPT-2 byte alphabet (the 256-entry VALUES table is generated from
    * the same [[graft.functions.Gpt2Bytes]] reference construction both
    * engines use — a fixed public constant, like the minhash
    * coefficients), and `ByteBpeRounds` unrolled rounds learn merges by
    * raw pair count over the bracketed working set. */
  private lazy val gpt2BmapRows: String = (0 until 256).map { b =>
    f"('$b%02X', chr(${graft.functions.Gpt2Bytes.ByteToChar(b).toInt}))"
  }.mkString(", ")

  private def byteBpeTrainingCtes: String = {
    val pat = TextOps.Gpt2PreTokenPattern.replace("'", "''")
    val bmapRows = gpt2BmapRows
    val rounds = (1 to ByteBpeRounds).map { r =>
      s"""bp$r AS MATERIALIZED (SELECT a, b, sum(c)::BIGINT AS n FROM (
             SELECT unnest(y[1:len(y) - 1]) AS a, unnest(y[2:len(y)]) AS b, c FROM (
               SELECT string_split(s[2:len(s) - 1], chr(3) || chr(2)) AS y, c
               FROM bv${r - 1}))
           GROUP BY 1, 2),
        bb$r AS MATERIALIZED (SELECT a, b FROM bp$r ORDER BY n DESC, a, b LIMIT 1),
        bv$r AS MATERIALIZED (SELECT replace(v.s, chr(2) || b.a || chr(3) || chr(2) || b.b || chr(3),
                        chr(2) || b.a || b.b || chr(3)) AS s, v.c
                FROM bv${r - 1} v CROSS JOIN bb$r b)"""
    }.mkString(",\n        ")
    s"""bpre AS (SELECT doc_id, regexp_extract_all(text, '$pat') AS w FROM documents),
        bptf AS (SELECT tok, count(*)::BIGINT AS c
                 FROM (SELECT unnest(w) AS tok FROM bpre) GROUP BY tok),
        bmapm AS MATERIALIZED (SELECT map_from_entries(list(struct_pack(k := h, v := ch))) AS m
                 FROM (VALUES $bmapRows) bm(h, ch)),
        bmapped AS MATERIALIZED (
          SELECT tok, c,
            array_to_string([m[hx[2*i - 1:2*i]][1] for i in range(1, len(hx)//2 + 1)], '') AS s0
          FROM (SELECT tok, c, hex(encode(tok)) AS hx FROM bptf), bmapm),
        bv0 AS MATERIALIZED (SELECT array_to_string([chr(2) || ch || chr(3)
                               for ch in string_split(s0, '')], '') AS s, c
               FROM bmapped),
        $rounds"""
  }

  /** Byte-level BPE merge training (GPT-2's own working units: byte
    * alphabet + pre-tokens, space -> Ġ): the first 6 rules. The merge
    * table is exactly what a GPT-2 merges.txt carries. */
  def qByteBpeMerges(spark: SparkSession, dir: String): DataFrame =
    TextOps.trainByteBpeMerges(Tables.documents(spark, dir).df, "text", ByteBpeRounds)

  val qByteBpeMergesSql: String = {
    val union = (1 to ByteBpeRounds)
      .map(r => s"SELECT $r AS merge_rank, a AS lhs, b AS rhs FROM bb$r")
      .mkString("\n        UNION ALL ")
    s"""WITH $byteBpeTrainingCtes
        $union"""
  }

  /** The learned byte-level merges applied to every document:
    * per-doc subword count + portable hash of the space-joined mapped
    * token sequence (zero-shuffle on the Spark side — the whole apply
    * is one projection per row). */
  def qByteBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    TextOps.byteBpeTokenize(graft.api.MStream(docs),
      TextOps.trainByteBpeMerges(docs, "text", ByteBpeRounds),
      "doc_id", "text").df
  }

  private def byteBpeApplyCtes: String = {
    val chain = (1 to ByteBpeRounds).foldLeft("s0b") { (acc, r) =>
      s"replace($acc, chr(2) || bb$r.a || chr(3) || chr(2) || bb$r.b || chr(3), chr(2) || bb$r.a || bb$r.b || chr(3))"
    }
    val crosses = (1 to ByteBpeRounds).map(r => s"CROSS JOIN bb$r").mkString(" ")
    s"""bdw AS (SELECT doc_id, unnest(w) AS tok, unnest(range(1, len(w) + 1)) AS pos
               FROM bpre),
        bwrapped AS (SELECT doc_id, pos,
                       array_to_string([chr(2) || ch || chr(3)
                         for ch in string_split(s0, '')], '') AS s0b
                     FROM bdw JOIN bmapped USING (tok)),
        btok AS (SELECT doc_id, pos,
                   string_split(sx[2:len(sx) - 1], chr(3) || chr(2)) AS y
                 FROM (SELECT doc_id, pos, $chain AS sx FROM bwrapped $crosses))"""
  }

  val qByteBpeEncodeSql: String =
    s"""WITH $byteBpeTrainingCtes,
        $byteBpeApplyCtes,
        agg AS (SELECT doc_id, sum(len(y))::BIGINT AS n_bbpe_tokens,
                  list_reduce([0] || [ord(c)::BIGINT for c in string_split(
                    array_to_string(list(array_to_string(y, ' ') ORDER BY pos), ' '), '')],
                    (a, c) -> (a * 31 + c) % 1000000007) AS tok_hash
                FROM btok GROUP BY doc_id)
        SELECT d.doc_id, coalesce(a.n_bbpe_tokens, 0)::BIGINT AS n_bbpe_tokens,
          coalesce(a.tok_hash, 0)::BIGINT AS tok_hash
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** Byte-level BPE tokenization straight to vocabulary ids (the GPT-2
    * cell of the tokenizer x output matrix): merge-table-derived id
    * layout, per-doc scalar checks. */
  def qByteBpeIds(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val merges = TextOps.trainByteBpeMerges(docs, "text", ByteBpeRounds)
    TextOps.byteBpeEncodeIds(graft.api.MStream(docs), merges, "text").df
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_ids"),
        aggregate(col("ids"), lit(0L), (a, x) => a + x).as("id_checksum"),
        element_at(col("ids"), 1).as("first_id"))
  }

  val qByteBpeIdsSql: String = {
    val mt = (1 to ByteBpeRounds)
      .map(r => s"SELECT $r AS mr, a, b FROM bb$r")
      .mkString("\n          UNION ALL ")
    s"""WITH $byteBpeTrainingCtes,
        $byteBpeApplyCtes,
        bmt AS ($mt),
        bouts AS (SELECT a || b AS piece, min(mr) AS mr FROM bmt GROUP BY 1),
        batoms AS (SELECT DISTINCT sym FROM (
                     SELECT a AS sym FROM bmt UNION ALL SELECT b AS sym FROM bmt)
                   WHERE sym NOT IN (SELECT piece FROM bouts)),
        bvocab AS (SELECT sym AS piece, row_number() OVER (ORDER BY sym) - 1 AS pid FROM batoms
                   UNION ALL
                   SELECT piece, (SELECT count(*) FROM batoms)
                     + row_number() OVER (ORDER BY mr) - 1 AS pid FROM bouts),
        bpp AS (SELECT doc_id, pos AS wpos, unnest(y) AS piece,
                  unnest(range(1, len(y) + 1)) AS spos FROM btok),
        bids AS (SELECT bpp.doc_id AS doc_id, count(*) AS n_ids,
                   sum(coalesce(v.pid, -1))::BIGINT AS id_checksum,
                   max(CASE WHEN bpp.wpos = 1 AND bpp.spos = 1
                            THEN coalesce(v.pid, -1) END) AS first_id
                 FROM bpp LEFT JOIN bvocab v USING (piece) GROUP BY bpp.doc_id)
        SELECT d.doc_id, coalesce(i.n_ids, 0)::BIGINT AS n_ids,
          coalesce(i.id_checksum, 0)::BIGINT AS id_checksum, i.first_id::BIGINT AS first_id
        FROM documents d LEFT JOIN bids i USING (doc_id)"""
  }

  /** WordPiece training mirror (Schuster & Nakajima 2012, the
    * HuggingFace trainer statistic): `WpRounds` unrolled rounds over the
    * `##`-prefixed bracketed-symbol vocabulary — per round SYMBOL counts
    * (s\$r, over ALL words: one-symbol words still feed the
    * denominators), pair counts (p\$r), argmax of
    * n / (ca · cb) — ONE division of ONE product, the exact IEEE op
    * sequence the Scala side runs — with (a, b) binary-order ties, then
    * the greedy bracketed literal-replace rewrite (merged symbol = a ||
    * b minus its `##` prefix). `trainFilter` restricts the TRAINING
    * corpus (the held-out-application faces); the final `vocabv` CTE is
    * the id layout: [UNK]=0, alphabet in binary order, merge outputs by
    * rank, later collisions skipped (UNION ALL wrapped in a subquery so
    * the CTEs stay recursion-safe under WITH RECURSIVE). */
  private def wpTrainingCtes(trainFilter: String): String = {
    val rounds = (1 to WpRounds).map { r =>
      s"""wy$r AS MATERIALIZED (SELECT string_split(s[2:len(s) - 1], chr(3) || chr(2)) AS y, c FROM wv${r - 1}),
        ws$r AS MATERIALIZED (SELECT sym, sum(c)::BIGINT AS cnt
                 FROM (SELECT unnest(y) AS sym, c FROM wy$r) GROUP BY sym),
        wp$r AS MATERIALIZED (SELECT a, b, sum(c)::BIGINT AS n FROM (
                   SELECT unnest(y[1:len(y) - 1]) AS a, unnest(y[2:len(y)]) AS b, c
                   FROM wy$r WHERE len(y) >= 2)
                 GROUP BY 1, 2),
        wb$r AS MATERIALIZED (SELECT p.a AS a, p.b AS b FROM wp$r p
                 JOIN ws$r sa ON p.a = sa.sym JOIN ws$r sb ON p.b = sb.sym
                 ORDER BY p.n::DOUBLE / (sa.cnt::DOUBLE * sb.cnt::DOUBLE) DESC, p.a, p.b
                 LIMIT 1),
        wv$r AS MATERIALIZED (SELECT replace(v.s,
                   chr(2) || b.a || chr(3) || chr(2) || b.b || chr(3),
                   chr(2) || b.a ||
                     CASE WHEN b.b LIKE '##%' THEN b.b[3:len(b.b)] ELSE b.b END ||
                     chr(3)) AS s, v.c
                 FROM wv${r - 1} v CROSS JOIN wb$r b)"""
    }.mkString(",\n        ")
    val mouts = (1 to WpRounds).map(r =>
      s"SELECT a || CASE WHEN b LIKE '##%' THEN b[3:len(b)] ELSE b END AS merged, $r AS mr FROM wb$r")
      .mkString("\n          UNION ALL ")
    s"""trwords AS (SELECT list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w
                    FROM documents $trainFilter),
        twf AS (SELECT word, count(*)::BIGINT AS c
                FROM (SELECT unnest(w) AS word FROM trwords) GROUP BY word),
        -- coalesce: DuckDB's array_to_string([], '') is NULL, which would
        -- drop every single-character word from the working set
        wv0 AS MATERIALIZED (SELECT chr(2) || word[1:1] || chr(3) ||
                  coalesce(array_to_string([chr(2) || '##' || ch || chr(3)
                    for ch in list_filter(string_split(word[2:len(word)], ''), x -> x <> '')], ''), '') AS s,
                  c
                FROM twf),
        $rounds,
        walpha AS MATERIALIZED (SELECT DISTINCT unnest(string_split(s[2:len(s) - 1], chr(3) || chr(2))) AS sym
                   FROM wv0),
        wmouts AS MATERIALIZED (SELECT merged, min(mr) AS mr FROM ($mouts) GROUP BY merged),
        vocabv AS MATERIALIZED (SELECT piece, row_number() OVER (ORDER BY grp, srt1, srt2) - 1 AS wp_id
                   FROM (SELECT * FROM (
                     (SELECT '[UNK]' AS piece, 0 AS grp, '' AS srt1, 0 AS srt2)
                     UNION ALL
                     (SELECT sym, 1, sym, 0 FROM walpha WHERE sym <> '[UNK]')
                     UNION ALL
                     (SELECT merged, 2, '', mr FROM wmouts m
                      WHERE merged <> '[UNK]'
                        AND NOT EXISTS (SELECT 1 FROM walpha a WHERE a.sym = m.merged)))))"""
  }

  /** The greedy longest-match-first encode pass over the DISTINCT words
    * of the APPLICATION corpus (the `words` CTE): `wst` advances one
    * matched piece per recursion step — at each position the longest l
    * with a vocabulary hit (word-initial candidates verbatim,
    * word-internal `##`-prefixed), no hit (or an over-100-code-point
    * word) collapsing the WHOLE word to [UNK]; `wpz` holds each word's
    * final piece list. */
  private val wpEncodeCtes: String =
    s"""words0 AS MATERIALIZED (SELECT DISTINCT word FROM (SELECT unnest(w) AS word FROM words)),
        wmv AS MATERIALIZED (SELECT map_from_entries(list(struct_pack(k := piece, v := 1))) AS m,
                 max(len(piece)) AS ml FROM vocabv),
        wst AS (
          SELECT word, CASE WHEN len(word) > 100 THEN len(word) ELSE 0 END AS pos,
            CASE WHEN len(word) > 100 THEN ['[UNK]'] ELSE []::VARCHAR[] END AS ps,
            m, ml
          FROM words0, wmv
          UNION ALL
          SELECT word,
            CASE WHEN bl = 0 THEN len(word) ELSE pos + bl END,
            CASE WHEN bl = 0 THEN ['[UNK]']
                 ELSE list_append(ps, CASE WHEN pos = 0 THEN word[1:bl]
                                          ELSE '##' || word[pos + 1:pos + bl] END) END,
            m, ml
          FROM (
            SELECT word, pos, ps, m, ml,
              list_reduce(
                list_transform(range(1, least(ml, len(word) - pos) + 1),
                  l -> CASE WHEN len(m[CASE WHEN pos = 0 THEN word[1:l]
                                         ELSE '##' || word[pos + 1:pos + l] END]) > 0
                            THEN l ELSE 0 END),
                (a, b) -> greatest(a, b)) AS bl
            FROM wst WHERE pos < len(word))),
        wpz AS MATERIALIZED (SELECT word, ps FROM wst WHERE pos = len(word))"""

  /** WordPiece vocabulary training (the BERT tokenizer family —
    * likelihood-scored merges, completing the big-three tokenizer
    * matrix next to BPE and unigram): the trained (wp_id, piece)
    * artifact itself. The oracle re-runs every round — symbol + pair
    * counts, the n/(ca·cb) argmax, the bracketed rewrite — and the id
    * layout relationally. */
  def qWordpieceVocab(spark: SparkSession, dir: String): DataFrame =
    graft.pipeline.WordPiece.trainVocab(Tables.documents(spark, dir).df, "text", WpRounds)

  val qWordpieceVocabSql: String =
    s"""WITH ${wpTrainingCtes("")}
        SELECT wp_id::BIGINT AS wp_id, piece FROM vocabv"""

  /** WordPiece greedy encode with a HELD-OUT vocabulary: train on
    * doc_id % 3 <> 0, encode EVERY document — held-out docs can carry
    * characters the training alphabet never saw, so the [UNK] collapse
    * path is exercised on real data. Output: per-doc token count +
    * portable hash of the space-joined piece sequence (the BPE face's
    * shape). */
  def qWordpieceEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val vocab = graft.pipeline.WordPiece.trainVocab(
      docs.where(col("doc_id") % 3 =!= 0), "text", WpRounds)
    graft.pipeline.WordPiece.encode(
      graft.api.MStream(docs), vocab, "doc_id", "text").df
  }

  val qWordpieceEncodeSql: String =
    s"""WITH RECURSIVE
        ${wpTrainingCtes("WHERE doc_id % 3 <> 0")},
        words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        $wpEncodeCtes,
        docw AS (SELECT doc_id, unnest(w) AS word, unnest(range(1, len(w) + 1)) AS widx
                 FROM words),
        enc AS (SELECT doc_id, flatten(list(ps ORDER BY widx)) AS pieces
                FROM docw JOIN wpz USING (word) GROUP BY doc_id),
        agg AS (SELECT doc_id, len(pieces)::BIGINT AS n_wp_tokens,
                  list_reduce([0] || [ord(c)::BIGINT for c in string_split(
                    array_to_string(pieces, ' '), '')],
                    (a, c) -> (a * 31 + c) % 1000000007) AS tok_hash
                FROM enc)
        SELECT d.doc_id, coalesce(a.n_wp_tokens, 0)::BIGINT AS n_wp_tokens,
          coalesce(a.tok_hash, 0)::BIGINT AS tok_hash
        FROM documents d LEFT JOIN agg a USING (doc_id)"""

  /** WordPiece tokenization straight to vocabulary ids — the WordPiece
    * cell of the tokenizer × output matrix (q_bpe_ids / q_unigram_ids
    * are the other cells): full-corpus vocabulary, ids = the trained
    * wp_id layout; per-doc scalar checks keep the oracle array-free. */
  def qWordpieceIds(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val vocab = graft.pipeline.WordPiece.trainVocab(docs, "text", WpRounds)
    graft.pipeline.WordPiece.encodeIds(graft.api.MStream(docs), vocab, "text").df
      .select(col("doc_id"), size(col("ids")).cast("long").as("n_ids"),
        aggregate(col("ids"), lit(0L), (a, x) => a + x).as("id_checksum"),
        element_at(col("ids"), 1).as("first_id"))
  }

  val qWordpieceIdsSql: String =
    s"""WITH RECURSIVE
        ${wpTrainingCtes("")},
        words AS (SELECT doc_id, list_filter(string_split_regex(text, '[ \\t\\n\\f\\r\\x0b]+'), x -> x <> '') AS w FROM documents),
        $wpEncodeCtes,
        docw AS (SELECT doc_id, unnest(w) AS word, unnest(range(1, len(w) + 1)) AS widx
                 FROM words),
        enc AS (SELECT doc_id, flatten(list(ps ORDER BY widx)) AS pieces
                FROM docw JOIN wpz USING (word) GROUP BY doc_id),
        pp AS (SELECT doc_id, unnest(pieces) AS piece,
                 unnest(range(1, len(pieces) + 1)) AS ppos FROM enc),
        ids AS (SELECT pp.doc_id AS doc_id, count(*) AS n_ids,
                  sum(coalesce(v.wp_id, -1))::BIGINT AS id_checksum,
                  max(CASE WHEN pp.ppos = 1 THEN coalesce(v.wp_id, -1) END) AS first_id
                FROM pp LEFT JOIN vocabv v USING (piece) GROUP BY pp.doc_id)
        SELECT d.doc_id, coalesce(i.n_ids, 0)::BIGINT AS n_ids,
          coalesce(i.id_checksum, 0)::BIGINT AS id_checksum, i.first_id::BIGINT AS first_id
        FROM documents d LEFT JOIN ids i USING (doc_id)"""

  /** The BERT `vocab.txt` interop loop: the held-out-trained vocabulary
    * EXPORTS as the standard one-piece-per-line file (line number =
    * id), imports back, and every document encodes against the
    * IMPORTED frame — the disk round trip is semantically transparent,
    * so the oracle is exactly q_wordpiece_encode's (the q_ppl_artifact
    * pattern). */
  def qWordpieceImport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val vocab = graft.pipeline.WordPiece.trainVocab(
      docs.where(col("doc_id") % 3 =!= 0), "text", WpRounds)
    val path = scratch.dir("wp")
      .resolve("vocab.txt").toString
    graft.pipeline.WordPiece.exportVocab(vocab, path)
    val imported = graft.pipeline.WordPiece.importVocab(spark, path)
    graft.pipeline.WordPiece.encode(
      graft.api.MStream(docs), imported, "doc_id", "text").df
  }

  val qWordpieceImportSql: String = qWordpieceEncodeSql

  /** The GPT-2 `merges.txt` interop loop: the trained BPE merge table
    * EXPORTS as the standard `#version` + `lhs rhs` lines file, imports
    * back, and every document tokenizes against the IMPORTED table —
    * the round trip is semantically transparent, so the oracle is
    * exactly q_bpe_encode's. */
  def qBpeImport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).df
    val merges = TextOps.trainBpeMerges(docs, "text", BpeRounds)
    val path = scratch.dir("bpe")
      .resolve("merges.txt").toString
    TextOps.bpeExportMerges(merges, path)
    val imported = TextOps.bpeImportMerges(spark, path)
    TextOps.bpeTokenize(docs, "doc_id", "text", imported)
  }

  val qBpeImportSql: String = qBpeEncodeSql

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ivf_ann" -> (qIvfAnn _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_repeated_spans" -> (qRepeatedSpans _),
    "q_exact_substr" -> (qExactSubstr _),
    "q_span_scrub" -> (qSpanScrub _),
    "q_span_keepone" -> (qSpanKeepone _),
    "q_known_scrub" -> (qKnownScrub _),
    "q_cross_dedup" -> (qCrossDedup _),
    "q_cross_ingest" -> (qCrossIngest _),
    "q_exact_ingest" -> (qExactIngest _),
    "q_gopher" -> (qGopher _),
    "q_ingest_program" -> (qIngestProgram _),
    "q_lm_score" -> (qLmScore _),
    "q_lm3_score" -> (qLm3Score _),
    "q_lm5_score" -> (qLm5Score _),
    "q_lm3_against" -> (qLm3Against _),
    "q_kn3_score" -> (qKn3Score _),
    "q_kn3_against" -> (qKn3Against _),
    "q_arpa_score" -> (qArpaScore _),
    "q_arpa_bylang" -> (qArpaByLang _),
    "q_arpa_sent" -> (qArpaSent _),
    "q_hybrid_rrf_ivf" -> (qHybridRrfIvf _),
    "q_bpe_ids" -> (qBpeIds _),
    "q_unigram_sp" -> (qUnigramSp _),
    "q_wordpiece_vocab" -> (qWordpieceVocab _),
    "q_wordpiece_encode" -> (qWordpieceEncode _),
    "q_wordpiece_ids" -> (qWordpieceIds _),
    "q_wordpiece_import" -> (qWordpieceImport _),
    "q_bpe_import" -> (qBpeImport _),
    "q_bytebpe_merges" -> (qByteBpeMerges _),
    "q_bytebpe_encode" -> (qByteBpeEncode _),
    "q_bytebpe_ids" -> (qByteBpeIds _),
    "q_bytebpe_json" -> (qByteBpeJson _),
    "q_bpe_bylang" -> (qBpeBylang _),
    "q_bpe_bylang_encode" -> (qBpeBylangEncode _),
    "q_kn3_bylang" -> (qKn3ByLang _),
    "q_lm3_bylang" -> (qLm3ByLang _),
    "q_mkn3_bylang" -> (qMkn3ByLang _),
    "q_ppl_bylang" -> (qPplByLang _),
    "q_mkn3_score" -> (qMkn3Score _),
    "q_mkn3_against" -> (qMkn3Against _),
    "q_mkn_buckets" -> (qMknBuckets _),
    "q_ppl_against" -> (qPplAgainst _),
    "q_ppl_thresholds" -> (qPplThresholds _),
    "q_ppl_apply" -> (qPplApply _),
    "q_ppl_artifact" -> (qPplArtifact _),
    "q_chunk_sent" -> (qChunkSent _),
    "q_ppl_buckets" -> (qPplBuckets _),
    "q_winnow" -> (qWinnow _),
    "q_winnow_pairs" -> (qWinnowPairs _),
    "q_hyperplane" -> (qHyperplane _),
    "q_safe_split" -> (qSafeSplit _),
    "q_nb_langid" -> (qNbLangid _),
    "q_lm_against" -> (qLmAgainst _),
    "q_dsir" -> (qDsir _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_token_freq" -> (qTokenFreq _),
    "q_bpe_merges" -> (qBpeMerges _),
    "q_unigram_vocab" -> (qUnigramVocab _),
    "q_unigram_encode" -> (qUnigramEncode _),
    "q_unigram_ids" -> (qUnigramIds _),
    "q_temp_mix" -> (qTempMix _),
    "q_bpe_encode" -> (qBpeEncode _),
    "q_line_scrub" -> (qLineScrub _),
    "q_para_scrub" -> (qParaScrub _),
    "q_source_cap" -> (qSourceCap _),
    "q_token_budget" -> (qTokenBudget _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_dedup_corpus" -> (qDedupCorpus _),
    "q_minhash_dedup" -> (qMinhashDedup _),
    "q_editdist" -> (qEditDist _),
    "q_simhash" -> (qSimhash _),
    "q_simhash_pairs" -> (qSimhashPairs _),
    "q_ngram_jaccard" -> (qNgramJaccard _),
    "q_ingest_neardup" -> (qIngestNearDup _),
    "q_banded_dedup" -> (qBandedDedup _),
    "q_containment" -> (qContainment _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_scrub" -> (qScrub _),
    "q_embed_dedup" -> (qEmbedDedup _),
    "q_embed_ingest" -> (qEmbedIngest _),
    "q_embed_ingest_ivf" -> (qEmbedIngestIvf _),
    "q_semantic_dedup" -> (qSemanticDedup _),
    "q_ann_topk" -> (qAnnTopK _),
    "q_pq_topk" -> (qPqTopK _),
    "q_langid" -> (qLangId _),
    "q_text_quality" -> (qTextQuality _),
    "q_token_count" -> (qTokenCount _),
    "q_fingerprint" -> (qFingerprint _),
    "q_normalize" -> (qNormalize _),
    "q_strip_markup" -> (qStripMarkup _),
    "q_url_dedup" -> (qUrlDedup _),
    "q_jl_project" -> (qJlProject _),
    "q_group_topk" -> (qGroupTopK _),
    "q_sq8" -> (qSq8 _),
    "q_zorder" -> (qZorder _),
    "q_dedup_keepbest" -> (qDedupKeepBest _),
    "q_semantic_keepbest" -> (qSemanticKeepBest _),
    "q_repetition" -> (qRepetition _),
    "q_sample" -> (qSample _),
    "q_sample_k" -> (qSampleK _),
    "q_source_cap_k" -> (qSourceCapK _),
    "q_strata_mix" -> (qStrataMix _),
    "q_mix_program" -> (qMixProgram _),
    "q_curate_program" -> (qCurateProgram _),
    "q_ivf_loop" -> (qIvfLoop _),
    "q_split" -> (qSplit _),
    "q_mix" -> (qMix _),
    "q_top_ngrams" -> (qTopNgrams _),
    "q_length_quantiles" -> (qLengthQuantiles _),
    "q_pack" -> (qPack _),
    "q_tfidf" -> (qTfidf _),
    "q_bm25" -> (qBm25 _),
    "q_bm25_batch" -> (qBm25Batch _),
    "q_hybrid_rrf" -> (qHybridRrf _),
    "q_embed_stats" -> (qEmbedStats _),
    "q_chunk" -> (qChunk _),
    "q_encode" -> (qEncode _),
    "q_multimodal" -> (qMultimodal _),
    "q_decode_image" -> (qDecodeImage _),
    "q_resize_image" -> (qResizeImage _),
    "q_decode_audio" -> (qDecodeAudio _),
    "q_resample_audio" -> (qResampleAudio _),
    "q_decode_video" -> (qDecodeVideo _),
    "q_frames_video" -> (qFramesVideo _),
    "q_semantic_auto" -> (qSemanticAuto _)
  )

  val sql: Map[String, String] = Map(
    "q_ivf_ann" -> qIvfAnnSql,
    "q_dedup_exact" -> qDedupExactSql,
    "q_repeated_spans" -> qRepeatedSpansSql,
    "q_exact_substr" -> qExactSubstrSql,
    "q_span_scrub" -> qSpanScrubSql,
    "q_span_keepone" -> qSpanKeeponeSql,
    "q_known_scrub" -> qKnownScrubSql,
    "q_cross_dedup" -> qCrossDedupSql,
    "q_cross_ingest" -> qCrossIngestSql,
    "q_exact_ingest" -> qExactIngestSql,
    "q_gopher" -> qGopherSql,
    "q_ingest_program" -> qIngestProgramSql,
    "q_lm_score" -> qLmScoreSql,
    "q_lm3_score" -> qLm3ScoreSql,
    "q_lm5_score" -> qLm5ScoreSql,
    "q_lm3_against" -> qLm3AgainstSql,
    "q_kn3_score" -> qKn3ScoreSql,
    "q_kn3_against" -> qKn3AgainstSql,
    "q_arpa_score" -> qArpaScoreSql,
    "q_arpa_bylang" -> qArpaByLangSql,
    "q_arpa_sent" -> qArpaSentSql,
    "q_hybrid_rrf_ivf" -> qHybridRrfIvfSql,
    "q_bpe_ids" -> qBpeIdsSql,
    "q_unigram_sp" -> qUnigramSpSql,
    "q_wordpiece_vocab" -> qWordpieceVocabSql,
    "q_wordpiece_encode" -> qWordpieceEncodeSql,
    "q_wordpiece_ids" -> qWordpieceIdsSql,
    "q_wordpiece_import" -> qWordpieceImportSql,
    "q_bpe_import" -> qBpeImportSql,
    "q_bytebpe_merges" -> qByteBpeMergesSql,
    "q_bytebpe_encode" -> qByteBpeEncodeSql,
    "q_bytebpe_ids" -> qByteBpeIdsSql,
    "q_bytebpe_json" -> qByteBpeJsonSql,
    "q_bpe_bylang" -> qBpeBylangSql,
    "q_bpe_bylang_encode" -> qBpeBylangEncodeSql,
    "q_kn3_bylang" -> qKn3ByLangSql,
    "q_lm3_bylang" -> qLm3ByLangSql,
    "q_mkn3_bylang" -> qMkn3ByLangSql,
    "q_ppl_bylang" -> qPplByLangSql,
    "q_mkn3_score" -> qMkn3ScoreSql,
    "q_mkn3_against" -> qMkn3AgainstSql,
    "q_mkn_buckets" -> qMknBucketsSql,
    "q_ppl_against" -> qPplAgainstSql,
    "q_ppl_thresholds" -> qPplThresholdsSql,
    "q_ppl_apply" -> qPplApplySql,
    "q_ppl_artifact" -> qPplApplySql,
    "q_chunk_sent" -> qChunkSentSql,
    "q_ppl_buckets" -> qPplBucketsSql,
    "q_winnow" -> qWinnowSql,
    "q_winnow_pairs" -> qWinnowPairsSql,
    "q_hyperplane" -> qHyperplaneSql,
    "q_safe_split" -> qSafeSplitSql,
    "q_nb_langid" -> qNbLangidSql,
    "q_lm_against" -> qLmAgainstSql,
    "q_dsir" -> qDsirSql,
    "q_heavy_hitters" -> qHeavyHittersSql,
    "q_token_freq" -> qTokenFreqSql,
    "q_bpe_merges" -> qBpeMergesSql,
    "q_unigram_vocab" -> qUnigramVocabSql,
    "q_unigram_encode" -> qUnigramEncodeSql,
    "q_unigram_ids" -> qUnigramIdsSql,
    "q_temp_mix" -> qTempMixSql,
    "q_bpe_encode" -> qBpeEncodeSql,
    "q_line_scrub" -> qLineScrubSql,
    "q_para_scrub" -> qParaScrubSql,
    "q_source_cap" -> qSourceCapSql,
    "q_token_budget" -> qTokenBudgetSql,
    "q_dedup_clusters" -> qDedupClustersSql,
    "q_dedup_corpus" -> qDedupCorpusSql,
    "q_minhash_dedup" -> qMinhashDedupSql,
    "q_editdist" -> qEditDistSql,
    "q_simhash" -> qSimhashSql,
    "q_simhash_pairs" -> qSimhashPairsSql,
    "q_ngram_jaccard" -> qNgramJaccardSql,
    "q_ingest_neardup" -> qIngestNearDupSql,
    "q_banded_dedup" -> qBandedDedupSql,
    "q_containment" -> qContainmentSql,
    "q_decontaminate" -> qDecontaminateSql,
    "q_scrub" -> qScrubSql,
    "q_embed_dedup" -> qEmbedDedupSql,
    "q_embed_ingest" -> qEmbedIngestSql,
    "q_embed_ingest_ivf" -> qEmbedIngestIvfSql,
    "q_semantic_dedup" -> qSemanticDedupSql,
    "q_ann_topk" -> qAnnTopKSql,
    "q_pq_topk" -> qPqTopKSql,
    "q_langid" -> qLangIdSql,
    "q_text_quality" -> qTextQualitySql,
    "q_token_count" -> qTokenCountSql,
    "q_fingerprint" -> qFingerprintSql,
    "q_normalize" -> qNormalizeSql,
    "q_strip_markup" -> qStripMarkupSql,
    "q_url_dedup" -> qUrlDedupSql,
    "q_jl_project" -> qJlProjectSql,
    "q_group_topk" -> qGroupTopKSql,
    "q_sq8" -> qSq8Sql,
    "q_zorder" -> qZorderSql,
    "q_dedup_keepbest" -> qDedupKeepBestSql,
    "q_semantic_keepbest" -> qSemanticKeepBestSql,
    "q_repetition" -> qRepetitionSql,
    "q_sample" -> qSampleSql,
    "q_sample_k" -> qSampleKSql,
    "q_source_cap_k" -> qSourceCapKSql,
    "q_strata_mix" -> qStrataMixSql,
    "q_mix_program" -> qMixProgramSql,
    "q_curate_program" -> qCurateProgramSql,
    "q_ivf_loop" -> qIvfLoopSql,
    "q_split" -> qSplitSql,
    "q_mix" -> qMixSql,
    "q_top_ngrams" -> qTopNgramsSql,
    "q_length_quantiles" -> qLengthQuantilesSql,
    "q_pack" -> qPackSql,
    "q_tfidf" -> qTfidfSql,
    "q_bm25" -> qBm25Sql,
    "q_bm25_batch" -> qBm25BatchSql,
    "q_hybrid_rrf" -> qHybridRrfSql,
    "q_embed_stats" -> qEmbedStatsSql,
    "q_chunk" -> qChunkSql,
    "q_encode" -> qEncodeSql,
    "q_multimodal" -> qMultimodalSql,
    "q_decode_image" -> qDecodeImageSql,
    "q_resize_image" -> qResizeImageSql,
    "q_decode_audio" -> qDecodeAudioSql,
    "q_resample_audio" -> qResampleAudioSql,
    "q_decode_video" -> qDecodeVideoSql,
    "q_frames_video" -> qFramesVideoSql,
    "q_semantic_auto" -> qSemanticAutoSql
  )
}
