package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * WordPiece tokenizer (Schuster & Nakajima 2012; the BERT family's
 * tokenizer) — the third production tokenizer family next to
 * [[TextOps.trainBpeMerges]] (GPT-style BPE) and [[Unigram]]
 * (SentencePiece): a training-data pipeline targeting BERT-style models
 * needs exactly this likelihood-scored merge trainer and greedy
 * longest-match encoder.
 *
 * TRAINING (the HuggingFace `WordPieceTrainer` algorithm): words split
 * into symbols — first character bare, every continuation character
 * `##`-prefixed — and each round merges the adjacent symbol pair
 * maximizing score = count(a,b) / (count(a) · count(b)) (the pairwise
 * likelihood-gain statistic that distinguishes WordPiece from BPE's raw
 * pair count), ties to the lexicographically smaller pair in UTF-8 byte
 * order; the merged symbol is `a` ++ `b` minus its `##` prefix. The
 * trained artifact is the VOCABULARY (unlike BPE, encoding never
 * replays merge order): `[unk]` first, then the corpus alphabet (both
 * word-initial and `##` continuation forms, UTF-8 byte order), then
 * each merge's output in rank order.
 *
 * DETERMINISM ACROSS ENGINES: every merge decision compares
 * n / (ca · cb) — ONE IEEE division of one IEEE product of exact
 * integer counts, the same two correctly-rounded operations in Spark
 * and DuckDB, so scores (and therefore argmaxes and ties) are
 * bit-identical; the oracle re-runs whole training rounds relationally.
 *
 * SCALE SHAPE: the rounds run in [[TextOps.mergeRounds]], the one loop
 * every subword trainer shares, under its one pair of confs
 * (`graft.bpe.rematEvery`, `graft.bpe.vocabPartitions`; WordPiece's own
 * pair of the same two confs is retired): the working set is the
 * DISTINCT-WORD frequency table (one corpus pass), pinned once and
 * scanned per round with the pending merge chain applied as chained
 * codegen'd literal replaces, and re-materialized every
 * `graft.bpe.rematEvery` rounds so per-round cost is constant in the
 * total merge count. Unlike BPE, fully-merged words are NOT pruned: the
 * score denominators count every symbol occurrence, including words
 * that have collapsed to one symbol (pruning them would undercount and
 * change merges). [[encode]]/[[encodeIds]] are ZERO-SHUFFLE stateless
 * projections (the greedy matcher is a native codegen'd expression,
 * [[graft.functions.WordPieceSegment]], against the broadcast-literal
 * vocabulary), dual-mode by construction.
 *
 * Reference capability anchor: the reference exposes tokenizer-style
 * projections only through user functions (`ApplyFunction`,
 * reference/milan-lang generators); this family is parity-plus surface
 * for LLM-data pipelines.
 */
object WordPiece {

  import TextOps.{BpeS => S, BpeE => E}

  /** Word → bracketed WordPiece symbols: first character bare, every
    * continuation character `##`-prefixed, each symbol wrapped in the
    * U+0002/U+0003 brackets (the [[TextOps.trainBpeMerges]] working
    * representation — a merge applies as ONE literal replace). */
  private def wpWrap(word: Column): Column =
    array_join(transform(TextOps.chars(word), (c, i) =>
      concat(lit(S),
        when(i === lit(0), c).otherwise(concat(lit("##"), c)),
        lit(E))), "")

  /** The merged symbol of rule (a, b): `a` ++ `b` minus its `##`
    * continuation prefix (b is always `##`-prefixed in trained tables —
    * right-pair symbols sit at word position >= 2; stripPrefix keeps
    * hand-written tables total). */
  private[pipeline] def mergedSym(a: String, b: String): String =
    a + (if (b.startsWith("##")) b.substring(2) else b)

  /** Train a WordPiece vocabulary: `numMerges` likelihood-scored merge
    * rounds over the corpus word-frequency table, then the id layout
    * `[unk]`=0, alphabet (UTF-8 byte order), merge outputs in rank
    * order (a string two merges both produce keeps its first rank;
    * anything colliding with an earlier entry is skipped — ids stay
    * dense and distinct). Output: (wp_id BIGINT, piece) — feed to
    * [[encode]]/[[encodeIds]]/[[exportVocab]].
    *
    * Precondition: text must not contain U+0002/U+0003 (the symbol
    * brackets); strip control characters upstream. */
  def trainVocab(docs: DataFrame, textCol: String, numMerges: Int,
                 unk: String = "[UNK]"): DataFrame = {
    require(numMerges >= 1 && numMerges <= 65536,
      s"numMerges=$numMerges: each merge is one driver-coordinated round " +
        "and the vocabulary is a driver artifact; keep <= 65536")
    val spark = docs.sparkSession
    import spark.implicits._
    // the ONE corpus-scale pass (the word count) runs at the caller's
    // full shuffle width; everything after works the distinct-word table
    val (vocab0, vocab0Ids) = graft.api.Pinned.checkpointTracked(docs
      .select(explode(TextOps.words(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__c"))
      .select(wpWrap(col("__w")).as("__s"), col("__c")))
    // the alphabet (every bare first-char and ##-continuation symbol) is
    // fixed by the corpus — merges never mint new atomic characters
    val alphabet = TextOps.releaseOnFailure(spark, vocab0Ids) {
      val a = vocab0
        .select(explode(TextOps.bpeSymbols(col("__s"))).as("sym")).distinct()
        .limit(65537).as[String].collect().toSeq
      require(a.size <= 65536,
        s"trainVocab: corpus alphabet exceeds the 65536-piece artifact cap")
      a
    }
    // no pruning: one-symbol words keep feeding the denominators
    val merges = TextOps.mergeRounds(vocab0, vocab0Ids, numMerges, mergedSym,
        prune = false) { cur =>
      // symbol counts over ALL words (one-symbol words still count —
      // they are the denominators), pair counts over mergeable words
      val symCnt = cur
        .select(explode(col("__y")).as("sym"), col("__c"))
        .groupBy("sym").agg(sum(col("__c")).as("cnt"))
      TextOps.pairCounts(cur)
        .join(symCnt.select(col("sym").as("a"), col("cnt").as("__ca")), "a")
        .join(symCnt.select(col("sym").as("b"), col("cnt").as("__cb")), "b")
        // ONE division of ONE product — the exact op sequence the
        // oracle mirrors, bit-identical across IEEE engines
        .select(col("a"), col("b"), (col("__n").cast("double") /
          (col("__ca").cast("double") * col("__cb").cast("double")))
          .as("__score"))
        .orderBy(col("__score").desc, col("a"), col("b"))
        .limit(1)
    }
    (Seq(unk) ++ alphabet.sorted(TextOps.Utf8Ordering) ++
      merges.map { case (_, _, a, b) => mergedSym(a, b) }).distinct.zipWithIndex
      .map { case (p, i) => (i.toLong, p) }.toDF("wp_id", "piece")
  }

  /** Collect + validate a (wp_id, piece) vocabulary frame — the
    * WordPiece artifact contract (trained or imported): distinct
    * pieces, 1..65536 rows, every piece <= 64 code points. Returns
    * pieces in wp_id order. */
  private def collectVocab(vocab: DataFrame, label: String): Seq[(Long, String)] = {
    require(!vocab.isStreaming, s"$label: the vocabulary is a batch artifact")
    Seq("wp_id", "piece").foreach(c => require(vocab.columns.contains(c),
      s"$label: vocabulary frame needs a '$c' column, has " +
        vocab.columns.mkString("[", ", ", "]")))
    val rows = vocab.select(col("wp_id").cast("long"), col("piece"))
      .limit(65537)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sortBy(_._1)
    require(rows.nonEmpty && rows.length <= 65536,
      s"$label: a vocabulary is a 1..65536-piece artifact, got ${rows.length}")
    val dup = rows.groupBy(_._2).collectFirst { case (p, xs) if xs.size > 1 => p }
    require(dup.isEmpty, s"$label: piece '${dup.get}' appears twice")
    rows.foreach { case (_, p) =>
      require(p.codePointCount(0, p.length) <= 64,
        s"$label: piece '$p' exceeds 64 code points") }
    rows
  }

  private def maxLenOf(pieces: Seq[String]): Int =
    pieces.iterator.map(p => p.codePointCount(0, p.length)).max.min(64).max(1)

  private[pipeline] def segmentExpr(w: Column, pieces: Seq[String], unk: String,
                                    maxInputChars: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.WordPieceSegment(
      ColumnBridge.expr(w), pieces, unk, maxLenOf(pieces), maxInputChars))
  }

  /** Tokenize every document to WordPiece pieces (greedy longest-match
    * against the vocabulary; unmatchable or over-`maxInputChars` words
    * collapse to `unk`). Adds `as` (array<string>); a zero-shuffle
    * stateless projection inside whole-stage codegen — dual-mode by
    * construction. */
  def tokenize(stream: graft.api.MStream, vocab: DataFrame, textCol: String,
               unk: String = "[UNK]", maxInputChars: Int = 100,
               as: String = "pieces"): graft.api.MStream = {
    val df = stream.df
    require(!df.columns.contains(as),
      s"tokenize input already carries a '$as' column")
    val pieces = collectVocab(vocab, "tokenize").map(_._2)
    stream.lift(TextOps.spreadForCompute(df).withColumn(as,
      segmentExpr(col(textCol), pieces, unk, maxInputChars)))
  }

  /** Per-document WordPiece token count + portable hash of the
    * space-joined token sequence (the [[TextOps.bpeTokenize]] output
    * shape: (idCol, n_wp_tokens, tok_hash)); token-less documents emit
    * (0, 0). Zero-shuffle — no explode, no groupBy: the native
    * expression segments the whole text per row — so unlike the BPE
    * face this needs no separate streaming combine. */
  def encode(stream: graft.api.MStream, vocab: DataFrame,
             idCol: String, textCol: String,
             unk: String = "[UNK]", maxInputChars: Int = 100): graft.api.MStream = {
    val df = stream.df
    val pieces = collectVocab(vocab, "encode").map(_._2)
    val seg = segmentExpr(col(textCol), pieces, unk, maxInputChars)
    stream.lift(TextOps.spreadForCompute(df).select(col(idCol),
      size(seg).cast("long").as("n_wp_tokens"),
      TextOps.polyHash(array_join(seg, " ")).as("tok_hash")))
  }

  /** Tokenize straight to vocabulary IDS (what a training pipeline
    * feeds the model): each piece maps to its `wp_id`; pieces outside
    * the vocabulary — only possible when `unk` itself is not a
    * vocabulary entry — take `oovId`. Adds `as` (array<bigint>); the
    * same zero-shuffle stateless projection as [[tokenize]], dual-mode
    * by construction. */
  def encodeIds(stream: graft.api.MStream, vocab: DataFrame, textCol: String,
                unk: String = "[UNK]", maxInputChars: Int = 100,
                oovId: Long = -1L, as: String = "ids"): graft.api.MStream = {
    val df = stream.df
    require(!df.columns.contains(as),
      s"encodeIds input already carries a '$as' column")
    val rows = collectVocab(vocab, "encodeIds")
    val idOf = rows.map { case (i, p) => p -> i }.toMap
    val ids = transform(
      segmentExpr(col(textCol), rows.map(_._2), unk, maxInputChars),
      p => graft.functions.VectorFunctions.strataLookup(p, idOf, oovId))
    stream.lift(TextOps.spreadForCompute(df).withColumn(as, ids))
  }

  // -------------------------- vocab.txt interop (the BERT artifact format)

  /** Export a (wp_id, piece) vocabulary as a BERT-style `vocab.txt`:
    * one piece per line, LINE NUMBER = id — the file every
    * BERT-family checkpoint ships (the tokenizer analog of
    * [[Arpa]]'s ARPA export; [[Unigram.exportVocab]] is the
    * SentencePiece analog). Requires dense 0..n−1 ids (the
    * [[trainVocab]] layout) so the line-number convention is exact.
    * Paths resolve through Hadoop FS (object stores on a cluster). */
  def exportVocab(vocab: DataFrame, path: String): Unit = {
    val rows = collectVocab(vocab, "exportVocab")
    rows.zipWithIndex.foreach { case ((id, p), i) =>
      require(id == i,
        s"exportVocab: ids must be dense 0..${rows.length - 1} " +
          s"(line number = id), found wp_id=$id at position $i")
      require(!p.exists(c => c == '\n' || c == '\r') && p.nonEmpty,
        s"exportVocab: piece '$p' cannot ride a line-per-piece format")
    }
    val spark = vocab.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      fs.create(p, true), java.nio.charset.StandardCharsets.UTF_8))
    try rows.foreach { case (_, piece) => w.write(piece); w.write("\n") }
    finally w.close()
  }

  /** Parse a BERT-style `vocab.txt` (one piece per line, line number =
    * id — the file next to every BERT-family checkpoint, including
    * files this engine never trained) into the (wp_id, piece) frame
    * [[encode]]/[[encodeIds]] accept. Driver-side streaming parse
    * capped at 65536 pieces (the vocabulary-artifact contract). */
  def importVocab(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p), s"importVocab: no vocab file at $path")
    val src = scala.io.Source.fromInputStream(fs.open(p))(scala.io.Codec.UTF8)
    val rows = try src.getLines().map(_.stripSuffix("\r")).zipWithIndex.map {
      case (line, i) =>
        require(line.nonEmpty, s"importVocab: empty line ${i + 1} in $path")
        (i.toLong, line)
    }.toVector
    finally src.close()
    require(rows.nonEmpty && rows.length <= 65536,
      s"importVocab: a vocabulary is a 1..65536-piece artifact, got ${rows.length}")
    val dup = rows.groupBy(_._2).collectFirst { case (p0, xs) if xs.size > 1 => p0 }
    require(dup.isEmpty, s"importVocab: piece '${dup.get}' appears twice in $path")
    import scala.jdk.CollectionConverters._
    val schema = StructType(Seq(StructField("wp_id", LongType, nullable = false),
      StructField("piece", StringType, nullable = false)))
    val data = rows.map { case (i, piece) => Row(i, piece) }
    spark.createDataFrame(new java.util.ArrayList[Row](data.asJava), schema)
  }
}
