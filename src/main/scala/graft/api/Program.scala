package graft.api

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.json4s.{DefaultFormats, Formats, JArray, JBool, JDouble, JInt, JNothing,
  JNull, JObject, JString, JValue, jvalue2extractable, jvalue2monadic}
import org.json4s.jackson.JsonMethods
import scala.reflect.runtime.{universe => ru}

/**
 * Program-as-data: a serializable JSON document describing a dataflow over
 * named external streams, loadable into a runnable pipeline.
 *
 * This is the import dual of [[App.describeJson]] and the graft analog of
 * the reference's ship-a-program-as-an-artifact capability: milan
 * serializes a whole application instance to JSON
 * (`application/ApplicationInstance.scala:27` `toJsonString`), parses the
 * expression IR back (`program/TreeParser.scala:49-94`), and compiles a
 * runnable job from the document alone
 * (`tools/CompileApplicationInstance.scala:28`). Here the operator nodes
 * are the MStream surface and scalar expressions travel as ANSI SQL
 * strings parsed by Spark's own parser — Catalyst is the expression IR,
 * so no bespoke tree format or typechecker is needed (SURVEY §7).
 *
 * Join conditions and join projections reference the two sides with the
 * qualifiers `l.` and `r.` (e.g. `"l.user_id = r.user_id AND r.v > 0"`);
 * every other expression is plain column-name SQL. A document composes
 * with [[App.Config]] exactly like a hand-written program: sources and
 * sinks still bind by name outside the document.
 */
object Program {

  /** One computed column: SQL expression + output name. */
  final case class Field(expr: String, as: String)

  /**
   * Named-function registry — the graft twin of milan's serializable UDF
   * escape hatch `ApplyFunction(FunctionReference(type, name), args)`
   * (`program/Expression.scala:407`, `program/FunctionReference.scala`):
   * an opaque user function travels *inside the serialized program* by
   * name only, and the loading side resolves it. Milan resolves the
   * reference against the JVM classpath at compile time
   * (`ScalarFunctionGenerator.scala:119-151`); the graft registry is the
   * same scope made explicit — JVM-global, so a document loads
   * identically in every session of a process that has registered its
   * function library (typically from a static initializer), and
   * load-time [[validate]] can reject an unregistered name with the
   * offending node BEFORE any Spark session or job exists.
   *
   * A registered function is a COLUMN BUILDER (`Seq[Column] => Column`):
   * it composes Catalyst expressions, so the escape hatch stays inside
   * whole-stage codegen (no Scala-UDF deserialization wall) while being
   * every bit as opaque to the document as milan's `FunctionReference`.
   * Re-registering a name replaces the previous definition.
   */
  object Functions {
    private final case class FnDef(arity: Int, build: Seq[Column] => Column)
    private val reg = new java.util.concurrent.ConcurrentHashMap[String, FnDef]()

    /** Register `name` as an `arity`-argument column builder. */
    def register(name: String, arity: Int)(build: Seq[Column] => Column): Unit = {
      require(name.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"function name '$name' must be an identifier")
      require(arity >= 0, s"function '$name': arity must be >= 0, got $arity")
      reg.put(name, FnDef(arity, build))
    }

    def unregister(name: String): Unit = reg.remove(name)

    /** The registered arity of `name`, if registered. */
    def registeredArity(name: String): Option[Int] =
      Option(reg.get(name)).map(_.arity)

    /** Resolve and apply, with the node name in every failure. */
    private[api] def apply(node: String, fn: String, args: Seq[Column]): Column = {
      val d = Option(reg.get(fn)).getOrElse(throw new IllegalArgumentException(
        s"node '$node': function '$fn' is not registered " +
          "(Program.Functions.register it before loading the document)"))
      require(d.arity == args.size,
        s"node '$node': function '$fn' takes ${d.arity} argument(s), got ${args.size}")
      d.build(args)
    }
  }

  sealed trait Node extends Product { def name: String }

  /** A named external input, resolved by the configuration at run time. */
  final case class External(name: String) extends Node
  /** Milan `map` to named fields — a projection. */
  final case class MapCols(name: String, input: String, cols: Seq[Field]) extends Node
  /** Milan `where`. */
  final case class Where(name: String, input: String, predicate: String) extends Node
  /** Milan `addFields`. */
  final case class AddTo(name: String, input: String, fields: Seq[Field]) extends Node
  /** Declare batch arrival order for downstream stateful operators. */
  final case class OrderBy(name: String, input: String, cols: Seq[String]) extends Node
  /** Milan `union` (bag union, 2+ inputs, same schema). */
  final case class Union(name: String, inputs: Seq[String]) extends Node
  final case class Distinct(name: String, input: String) extends Node
  /** Milan grouped `select` with aggregate expressions. */
  final case class GroupSelect(name: String, input: String, keys: Seq[String],
                               aggs: Seq[Field]) extends Node
  /** Milan tumbling/sliding window aggregation (slide = None → tumbling).
    * `ts` is a SQL expression yielding the event-time column; `size`,
    * `slide`, `offset` are Spark interval strings ("1 hour"). */
  final case class WindowSelect(name: String, input: String, keys: Seq[String],
                                ts: String, size: String, slide: Option[String],
                                offset: String, windowAs: String,
                                aggs: Seq[Field]) extends Node
  /** Milan enrichment join: kind ∈ left | full | leftInner; `condition`
    * and `select` expressions use `l.` / `r.` side qualifiers.
    * `lenientResidual` (optional, default false = reference-strict) makes
    * a failing full-join residual emit the arriving side with the other
    * nulled instead of suppressing the row. */
  final case class Join(name: String, kind: String, left: String, right: String,
                        condition: String, select: Seq[Field],
                        lenientResidual: Boolean = false) extends Node
  /** Milan scan family (2.6): kind ∈ sumBy | meanBy | productBy | countBy |
    * maxBy | minBy | last. `arg` is a SQL expression (unused for countBy/
    * last), `as` names the running column (sumBy family only). Empty
    * `keys` = the ungrouped variant. */
  final case class Scan(name: String, input: String, kind: String,
                        keys: Seq[String], arg: Option[String],
                        as: Option[String]) extends Node
  /** Exact dedup by key columns, first record wins (batch + streaming). */
  final case class DedupBy(name: String, input: String, cols: Seq[String],
                           withinWatermark: Boolean = false) extends Node
  /** Event-time watermark for streaming inputs. */
  final case class Watermark(name: String, input: String, ts: String,
                             delay: String) extends Node
  /** As-of join: direction ∈ backward | forward; keys pair left/right
    * column names; tolerance in the time axis' units (ms on timestamps). */
  final case class Asof(name: String, left: String, right: String,
                        leftTs: String, rightTs: String,
                        keys: Seq[(String, String)], rightOrder: Seq[String],
                        tolerance: Option[Long], direction: String = "backward",
                        inner: Boolean = false) extends Node
  /** Milan `unique`/UniqueBy: latest record per (value columns), by the
    * keep-latest ordering columns, before any aggregation. */
  final case class UniqueBy(name: String, input: String, valueCols: Seq[String],
                            keepLatestBy: Seq[String]) extends Node
  /** Milan `toField`: wrap each record as one named struct field. */
  final case class ToField(name: String, input: String, fieldName: String) extends Node
  /** Session windows (gap-based) per key; emits session start + aggregates. */
  final case class SessionSelect(name: String, input: String, keys: Seq[String],
                                 ts: String, gap: String, startAs: String,
                                 aggs: Seq[Field]) extends Node
  /** Milan `recordWindow(n)`: trailing-n running aggregates per key; each
    * agg is (kind ∈ sumBy|meanBy|productBy|countBy, input column, output
    * name). Works batch and streaming through `selectRunning`. */
  final case class RecordWindow(name: String, input: String, keys: Seq[String],
                                n: Int, aggs: Seq[(String, String, String)]) extends Node
  /** Milan `beginCycle` (`lang/CycleStream.scala:22`,
    * `program/StreamExpressions.scala:141`): declares a feedback head — the
    * stream is `input` ∪ whatever the matching [[CloseCycle]] feeds back.
    * Batch lowering computes the SET least-fixpoint H = distinct(input ∪
    * F(H)) by driver iteration (≤ maxIterations rounds, each checkpointed;
    * `Cycles.iterate`); streaming lowering unions the channel source bound
    * under the reserved name `__cycle_<name>` and exposes the feedback
    * stream as an extra output of the same name for the channel sink
    * (`Cycles.feedbackChannel` provides both bindings). */
  final case class BeginCycle(name: String, input: String,
                              maxIterations: Int = 50) extends Node
  /** Milan `ApplyFunction(FunctionReference(type, name), args)`
    * (`program/Expression.scala:407`) as a document node: apply the
    * [[Functions]]-registered function `function` to the SQL-expression
    * `args`. `kind` selects the position milan's expression node occupies:
    * `map` (record := result, single field named `as`), `where` (boolean
    * result filters the input), `addField` (input schema + result as
    * `as`). Unregistered names and arity mismatches reject at
    * [[validate]] with this node's name. */
  final case class ApplyFn(name: String, input: String, function: String,
                           args: Seq[String], kind: String = "map",
                           as: Option[String]) extends Node
  /** Milan `closeCycle`: connects `feedback`'s records back into the head
    * `cycle`. Evaluates to the closed head stream. Nodes between a
    * BeginCycle and its CloseCycle form the loop body; nesting is not
    * supported. */
  final case class CloseCycle(name: String, cycle: String,
                              feedback: String) extends Node

  // ----- pipeline ingest-face nodes (format version 2) -----
  // Each takes one or two STATIC side inputs (a reference corpus, a
  // vocabulary, a centroid codebook) referenced BY NAME — usually External
  // nodes the configuration binds, the reference's source-binding pattern
  // (`application/ApplicationConfiguration.scala:46` setSource). The
  // static side must resolve to a batch frame; the streaming faces pin it
  // once and broadcast/bucket-join it per micro-batch.

  /** Cross-corpus near-dup ingest dedup (`Dedup.dedupAgainstCorpus`): keep
    * arrivals no reference document resembles at `threshold` Jaccard. */
  final case class CorpusDedup(name: String, input: String, ref: String,
                               idCol: String, textCol: String, k: Int,
                               bands: Int, threshold: Double,
                               broadcastRef: Boolean = true) extends Node
  /** Cross-corpus embedding dedup (`Dedup.embeddingDedupAgainstCorpus`):
    * exact anti-join when `centroids` is empty, the IVF-routed
    * beyond-broadcast face when it names a codebook input. */
  final case class EmbedDedup(name: String, input: String, ref: String,
                              idCol: String, vecCol: String, threshold: Double,
                              centroids: Option[String], nProbe: Int = 1,
                              broadcastRef: Boolean = true) extends Node
  /** Cross-corpus bigram-LM scoring (`TextOps.lmScore`, add-alpha
    * against a reference): train on the reference once, score
    * arrivals. Build-time eager (the model artifact pins at program
    * build, like residual joins). */
  final case class LmScore(name: String, input: String, ref: String,
                           idCol: String, textCol: String, refTextCol: String,
                           alpha: Double = 0.5) extends Node with LmNode
  /** DSIR importance scoring (`TextOps.dsirScore`, format version 3):
    * hashed-bigram bucket log-ratio of a `target` vs a `raw` reference
    * corpus. Build-time eager (the bucket-count artifacts pin at program
    * build, like [[LmScore]]'s model). */
  final case class DsirScore(name: String, input: String, target: String,
                             raw: String, idCol: String, textCol: String,
                             refTextCol: String, buckets: Int = 4096,
                             alpha: Double = 1.0) extends Node
  /** Token-frequency annotation against a reference-corpus count–min
    * sketch (`TextOps.tokenFrequencyStats`, format version 3).
    * Build-time eager (the sketch collects at program build). */
  final case class TokenFreq(name: String, input: String, ref: String,
                             idCol: String, textCol: String, refTextCol: String,
                             depth: Int = 4, width: Int = 2048, rareMax: Long = 2L) extends Node
  /** Frozen-BPE tokenization at ingest (`TextOps.bpeTokenizeIngest`,
    * format version 3); `merges` names a (merge_rank, lhs, rhs) input —
    * a `trainBpeMerges` artifact. Build-time eager (the merge table
    * collects at program build; driver-sized by training contract). */
  /** BPE tokenization straight to vocabulary IDS
    * (`TextOps.bpeEncodeIds`, v11): the id space derives from the merge
    * table alone — in-merge alphabet first (UTF-8 order), then merge
    * outputs in rank order; OOV pieces take `oovId`. Adds `as`
    * (array<bigint>); dual-mode; BUILD-TIME EAGER (the merge table
    * collects). */
  final case class BpeIds(name: String, input: String, merges: String,
                          textCol: String, oovId: Long = -1L,
                          as: String = "ids") extends Node

  /** Unigram tokenization to pieces under a FOREIGN SentencePiece text
    * vocab file (`Unigram.importVocab` + `Unigram.tokenizeImported`,
    * v11): `path` binds like a source path (read at lowering time);
    * the Viterbi runs in log space over the file's scores. */
  final case class SpTokenize(name: String, input: String, path: String,
                              textCol: String,
                              as: String = "pieces") extends Node

  /** Unigram tokenization to the FOREIGN vocab file's own LINE-NUMBER
    * ids (`Unigram.encodeIdsImported`, v11) — what a pipeline targeting
    * an existing SentencePiece/Llama-style tokenizer feeds the model. */
  final case class SpIds(name: String, input: String, path: String,
                         textCol: String, oovId: Long = -1L,
                         as: String = "ids") extends Node

  final case class BpeEncode(name: String, input: String, merges: String,
                             idCol: String, textCol: String) extends Node
  /** Unigram-LM tokenization (`Unigram.tokenize`, Kudo 2018): adds the
    * `as` pieces column under a (piece, cnt) vocabulary input — trained
    * by `Unigram.trainVocab` or loaded via [[LoadArtifact]]. Dual-mode;
    * BUILD-TIME EAGER (the vocabulary collects at lowering). */
  final case class UnigramEncode(name: String, input: String, vocab: String,
                                 textCol: String, maxPieceLen: Int = 4,
                                 as: String = "pieces") extends Node
  /** Unigram-LM tokenization straight to vocabulary IDS
    * (`Unigram.encodeIds`): rank-by-(cnt desc, piece) ids, `oovId` for
    * out-of-vocabulary pieces. Dual-mode; BUILD-TIME EAGER. */
  final case class UnigramIds(name: String, input: String, vocab: String,
                              textCol: String, maxPieceLen: Int = 4,
                              oovId: Long = -1L,
                              as: String = "ids") extends Node

  /** WordPiece tokenization to pieces (`WordPiece.tokenize`, Schuster &
    * Nakajima 2012 — BERT's greedy longest-match-first, v12): adds `as`
    * (array<string>) under a (wp_id, piece) vocabulary input — trained
    * by `WordPiece.trainVocab` or imported from a BERT `vocab.txt`.
    * Unmatchable or over-`maxInputChars` words collapse to `unk`.
    * Dual-mode; BUILD-TIME EAGER (the vocabulary collects at
    * lowering). */
  final case class WpTokenize(name: String, input: String, vocab: String,
                              textCol: String, unk: String = "[UNK]",
                              maxInputChars: Int = 100,
                              as: String = "pieces") extends Node
  /** Per-document WordPiece token count + portable sequence hash
    * (`WordPiece.encode`, v12): (idCol, n_wp_tokens, tok_hash), the BPE
    * encode face's shape. Dual-mode; BUILD-TIME EAGER. */
  final case class WpEncode(name: String, input: String, vocab: String,
                            idCol: String, textCol: String,
                            unk: String = "[UNK]",
                            maxInputChars: Int = 100) extends Node
  /** WordPiece tokenization straight to the vocabulary's own `wp_id`
    * ids (`WordPiece.encodeIds`, v12) — what a pipeline targeting a
    * BERT-family tokenizer feeds the model. Dual-mode; BUILD-TIME
    * EAGER. */
  final case class WpIds(name: String, input: String, vocab: String,
                         textCol: String, unk: String = "[UNK]",
                         maxInputChars: Int = 100, oovId: Long = -1L,
                         as: String = "ids") extends Node

  /** Byte-level BPE per-document count + sequence hash
    * (`TextOps.byteBpeTokenize`, v12 — the GPT-2 tokenizer proper:
    * byte-mapped alphabet + lookahead-free pre-tokens); `merges` names
    * a (merge_rank, lhs, rhs) input in the MAPPED alphabet (a trained
    * table or an imported GPT-2 merges.txt). Zero-shuffle projection,
    * dual-mode; BUILD-TIME EAGER. */
  final case class ByteBpeEncode(name: String, input: String, merges: String,
                                 idCol: String, textCol: String) extends Node
  /** Byte-level BPE tokenization straight to merge-table-derived ids
    * (`TextOps.byteBpeEncodeIds`, v12 — the GPT-2 cell of the
    * tokenizer × output matrix). Dual-mode; BUILD-TIME EAGER. */
  final case class ByteBpeIds(name: String, input: String, merges: String,
                              textCol: String, oovId: Long = -1L,
                              as: String = "ids") extends Node
  /** Byte-level BPE tokenization to a FOREIGN vocabulary's OWN ids
    * (`TextOps.byteBpeEncodeIdsImported`, v12): `vocab` names a
    * (piece, gpt_id) input — an imported GPT-2 `vocab.json` — so a
    * pipeline feeds an EXISTING checkpoint's exact id space. Dual-mode;
    * BUILD-TIME EAGER. */
  final case class ByteBpeIdsVocab(name: String, input: String, merges: String,
                                   vocab: String, textCol: String,
                                   oovId: Long = -1L,
                                   as: String = "ids") extends Node
  /** Per-language BPE tokenization (`TextOps.bpeTokenizeByLang`, v12):
    * each document tokenizes under ITS language's merge table — `merges`
    * names a (lang, merge_rank, lhs, rhs) input trained in one pass by
    * `TextOps.trainBpeMergesByLang`; unmodeled languages get the NULL
    * verdict (the by-language LM convention). Dual-mode; BUILD-TIME
    * EAGER. */
  final case class BpeLangEncode(name: String, input: String, merges: String,
                                 idCol: String, langCol: String,
                                 textCol: String) extends Node
  /** Fixed-vocabulary token encoding at ingest (`TextOps.encodeTokensIngest`);
    * `vocab` names a (word, id) input. */
  final case class EncodeIngest(name: String, input: String, vocab: String,
                                idCol: String, textCol: String,
                                oovId: Long = -1L) extends Node
  /** Benchmark-overlap decontamination at ingest
    * (`TextOps.decontaminateIngest`); `bench` names the benchmark corpus. */
  final case class DecontamIngest(name: String, input: String, bench: String,
                                  idCol: String, textCol: String,
                                  benchTextCol: String, n: Int = 8,
                                  minOverlap: Int = 1) extends Node
  /** Naive Bayes classification against a labeled reference
    * (`TextOps.nbClassifyAgainst`, format version 4). Build-time eager
    * (the count-model artifacts pin at program build, like [[LmScore]]). */
  final case class NbClassify(name: String, input: String, ref: String,
                              idCol: String, textCol: String,
                              refTextCol: String, refLabelCol: String,
                              alpha: Double = 1.0) extends Node
  /** Exact (Bloom-pre-screened) cross-corpus dedup at ingest
    * (`Dedup.exactDedupAgainstCorpus`, format version 4). Build-time
    * eager (the filter aggregate collects at program build, like
    * [[LmScore]]'s model). */
  final case class ExactDedup(name: String, input: String, ref: String,
                              idCol: String, textCol: String, numBits: Int = 1 << 20,
                              numHashes: Int = 7, broadcastRef: Boolean = true) extends Node
  /** Gopher quality-rule gate (`TextOps.gopherGate`, format version 4):
    * a pure zero-shuffle flag projection — no static side. */
  final case class GopherGate(name: String, input: String, idCol: String,
                              textCol: String, minWords: Int = 50,
                              maxWords: Int = 100000) extends Node
  /** IVF ANN probe at ingest (`Ivf.searchIngest`): arriving query vectors
    * probe a static indexed corpus; `centroids` names the codebook input.
    * Build-time eager (collects the driver-sized codebook). */
  final case class IvfProbe(name: String, input: String, corpus: String,
                            centroids: String, idCol: String, vecCol: String,
                            qIdCol: String, topK: Int, nProbe: Int,
                            broadcastCorpus: Boolean = true) extends Node

  // --- sampling / training-mix nodes (format version 5): the deterministic
  // hash-gate family (`pipeline.Sampling`) as shippable document nodes —
  // pure per-row gates (batch AND streaming) except the window-ranked caps
  // and the count-collecting temperature mix, which are batch-face ops.

  /** Keep each row with probability ~`rate` by key hash (`Sampling.hashSample`). */
  final case class HashSample(name: String, input: String, keyCol: String,
                              rate: Double, salt: String = "") extends Node
  /** Per-stratum rates (`Sampling.stratifiedHashSample`); strata compare
    * as strings, absent strata fall to `defaultRate`. */
  final case class StratifiedSample(name: String, input: String, keyCol: String,
                                    strataCol: String, rates: Map[String, Double],
                                    defaultRate: Double = 0.0, salt: String = "") extends Node
  /** Deterministic split labeling (`Sampling.assignSplit`); `splits` are
    * ordered (name, fraction) bands summing to 1. */
  final case class AssignSplit(name: String, input: String, keyCol: String,
                               splits: Seq[(String, Double)], as: String = "split",
                               salt: String = "") extends Node
  /** Epoch-style up/down-sampling (`Sampling.weightedMix`): weights may
    * exceed 1; output adds the `epoch` copy index. */
  final case class WeightedMix(name: String, input: String, keyCol: String,
                               strataCol: String, weights: Map[String, Double],
                               defaultWeight: Double = 0.0, salt: String = "") extends Node
  /** Per-stratum quota cap (`Sampling.capPerKey`) — batch face.
    * BUILD-TIME EAGER since the distributed-prefix rewrite
    * ([[CapTokens]]'s reason); validation is schema-only. */
  final case class CapPerKey(name: String, input: String, strataCol: String,
                             keyCol: String, n: Int, salt: String = "") extends Node
  /** Global exact-k deterministic sample (`Sampling.exactKSample`) —
    * bounded-heap lowering, batch face. */
  final case class ExactKSample(name: String, input: String, idCol: String,
                                k: Int, salt: String = "") extends Node
  /** Per-stratum exact-k (`Sampling.exactKPerKey`) — the bounded-heap
    * sibling of [[CapPerKey]] for unique integral ids. */
  final case class ExactKStrata(name: String, input: String, strataCol: String,
                                idCol: String, k: Int, salt: String = "") extends Node
  /** Per-stratum token-budget prefix fill (`Sampling.capTokensPerKey`) —
    * batch face. BUILD-TIME EAGER since the distributed-prefix rewrite
    * (`RangedPrefix` checkpoints the range assignment at lowering), so
    * validation is schema-only like [[TemperatureMix]]. */
  final case class CapTokens(name: String, input: String, strataCol: String,
                             keyCol: String, tokensCol: String, budget: Long,
                             salt: String = "") extends Node
  /** Temperature-based source rebalancing (`Sampling.temperatureMix`) —
    * batch face; BUILD-TIME EAGER (collects the capped per-stratum counts),
    * so validation is schema-only like [[LmScore]]. */
  final case class TemperatureMix(name: String, input: String, keyCol: String,
                                  strataCol: String, alpha: Double,
                                  budgetRows: Long, salt: String = "") extends Node
  /** Leakage-safe split (`Sampling.leakageSafeSplit`): `pairs` names the
    * near-dup edge input; no cluster straddles a band. */
  final case class SafeSplit(name: String, input: String, pairs: String,
                             idCol: String, aCol: String, bCol: String,
                             splits: Seq[(String, Double)], as: String = "split",
                             salt: String = "") extends Node

  // --- corpus-curation nodes (format version 6): the within-corpus dedup
  // and text-quality family (`pipeline.Dedup` / `pipeline.TextOps`) as
  // shippable document nodes. The annotation/generator nodes (quality,
  // piiScrub, langId, chunkTokens, winnow, repetition) are stateless
  // per-row projections — dual-mode and union-distributive; the corpus
  // aggregation nodes (dedupCorpus, semanticDedup, lineScrub, spanScrub,
  // packChunks) are batch-face.

  /** Within-corpus near-dup dedup (`Dedup.deduplicateCorpus`): surviving
    * `idCol` values after exact-hash + MinHash/LSH clustering. BUILD-TIME
    * EAGER (the connected-components fixpoint runs driver rounds), so
    * validation is schema-only; the output carries `idCol` alone. */
  final case class DedupCorpus(name: String, input: String, idCol: String,
                               textCol: String, k: Int, bands: Int,
                               threshold: Double) extends Node
  /** Keep-BEST within-corpus dedup (`Dedup.deduplicateCorpusKeepBest`):
    * each cluster's survivor maximizes the SQL expression `score` (ties →
    * lower id). BUILD-TIME EAGER like [[DedupCorpus]]; schema-only
    * validation, output is the surviving `idCol` alone. */
  final case class DedupCorpusBest(name: String, input: String, idCol: String,
                                   textCol: String, k: Int, bands: Int,
                                   threshold: Double, score: String) extends Node
  /** Within-corpus embedding dedup (`Dedup.semanticDedup`, SemDeDup):
    * `centroids` names the codebook input that bounds the pair space.
    * BUILD-TIME EAGER (codebook collect + CC fixpoint); survivors keep
    * the input schema. */
  final case class SemanticDedup(name: String, input: String, centroids: String,
                                 idCol: String, vecCol: String,
                                 threshold: Double) extends Node
  /** Keep-BEST SemDeDup (`Dedup.semanticDedupKeepBest`): like
    * [[SemanticDedup]] but each cluster's survivor maximizes the SQL
    * expression `score` (ties → lower id). BUILD-TIME EAGER. */
  final case class SemanticDedupBest(name: String, input: String,
                                     centroids: String, idCol: String,
                                     vecCol: String, threshold: Double,
                                     score: String) extends Node
  /** Duplicate-line scrub (`Dedup.scrubDuplicateLines`, the C4 rule):
    * per-doc (n_lines, n_dropped, scrubbed) keeping each line's first
    * (id, position) occurrence corpus-wide. */
  final case class LineScrub(name: String, input: String, idCol: String,
                             textCol: String, minWords: Int = 3) extends Node
  /** Duplicate-paragraph scrub (`Dedup.scrubDuplicateParagraphs` — the
    * C4 rule one granularity up): per-doc (n_paras, n_dropped, scrubbed)
    * keeping each blank-line-separated paragraph's first (id, position)
    * occurrence corpus-wide. */
  final case class ParaScrub(name: String, input: String, idCol: String,
                             textCol: String, minWords: Int = 3) extends Node
  /** Repeated-span scrub (`Dedup.scrubRepeatedSpans`, Lee et al. 2022):
    * per-doc (n_kept, kept_hash) after dropping spans of `k`-grams seen
    * in >= `minDocs` documents. BUILD-TIME EAGER (pins the corpus-wide
    * candidate frame), so validation is schema-only. */
  final case class SpanScrub(name: String, input: String, idCol: String,
                             textCol: String, k: Int, minDocs: Int,
                             keepCanonical: Boolean = false) extends Node
  /** Quality-feature annotation (`TextOps.qualityFeatures`): appends
    * n_words, avg_word_len, stopword_ratio, punct_count. */
  final case class QualityAnnotate(name: String, input: String,
                                   textCol: String) extends Node
  /** PII annotation + scrub (`TextOps.scrubPii`): appends n_emails,
    * n_urls, n_ips and the masked `scrubbed` text. */
  final case class PiiScrub(name: String, input: String,
                            textCol: String) extends Node
  /** Marker-word language-ID annotation (`TextOps.langId`) as `as`. */
  final case class LangId(name: String, input: String, textCol: String,
                          as: String = "lang") extends Node
  /** Sliding token-window chunking (`TextOps.chunkTokens`): one row per
    * (doc, chunk) — a per-row generator, so dual-mode. */
  final case class ChunkTokens(name: String, input: String, idCol: String,
                               textCol: String, chunkSize: Int,
                               stride: Int) extends Node
  /** Greedy token-budget packing (`TextOps.packChunks`) — batch face
    * (running-sum window per `partCol`). */
  final case class PackChunks(name: String, input: String, idCol: String,
                              textCol: String, partCol: String,
                              budget: Long) extends Node
  /** Winnowing fingerprints (`TextOps.winnowFingerprints`, Schleimer
    * et al. SIGMOD 2003): one row per selected (pos, fp) per doc. */
  final case class Winnow(name: String, input: String, idCol: String,
                          textCol: String, n: Int = 3, w: Int = 4) extends Node
  /** Repetition-feature annotation (`TextOps.repetitionFeatures`):
    * (id, dup_word_frac, max_word_frac, top_bigram_frac). */
  final case class Repetition(name: String, input: String, idCol: String,
                              textCol: String) extends Node
  /** CCNet unicode-normalization annotation (`TextOps.normalizeText`)
    * as `as` — stateless per-row, dual-mode. */
  final case class Normalize(name: String, input: String, textCol: String,
                             as: String = "norm_text") extends Node
  /** Markup-strip annotation (`TextOps.stripMarkup`) as `as`, plus the
    * extracted URL hosts (`TextOps.domainsOf`) as `domainsAs` —
    * stateless per-row, dual-mode. */
  final case class StripMarkup(name: String, input: String, textCol: String,
                               as: String = "clean_text",
                               domainsAs: String = "domains") extends Node
  /** Johnson–Lindenstrauss projection (`Similarity.randomProject`) of
    * `vecCol` to `outDim` dims as `as` — stateless per-row, dual-mode. */
  final case class JlProjection(name: String, input: String, vecCol: String,
                                outDim: Int, seed: Int = 0, as: String = "projected") extends Node
  /** Bounded-heap group top-k (`operators.GroupTopK.topKPerKey`):
    * `score` is a SQL expression; output (keys, idCol, scoreAs, rank).
    * Batch face (an aggregation). */
  final case class TopKPerKey(name: String, input: String, keys: Seq[String],
                              idCol: String, score: String, k: Int,
                              scoreAs: String = "score") extends Node
  /** SQ8 encode at ingest (`pipeline.Sq.sq8Encode`): `stats` names a
    * (dim, lo, hi) input — a `sq8Train` artifact, pinned like an IVF
    * codebook. BUILD-TIME EAGER (collects the capped stats artifact);
    * once pinned the encode is a stateless dual-mode projection. */
  final case class Sq8Ingest(name: String, input: String, stats: String,
                             vecCol: String, as: String = "codes") extends Node
  /** Z-order clustering (`operators.Layout.zorderBy`) for scan pruning —
    * batch face (range exchange + sort). BUILD-TIME EAGER (one min/max
    * aggregation pins the per-column ranges). */
  final case class ZOrder(name: String, input: String, cols: Seq[String],
                          numFiles: Int, bits: Int = 12) extends Node

  // --- round-13 node (format version 7) ---
  /** Interpolated trigram-LM quality score over the input corpus ITSELF
    * (`TextOps.lmScore`, Jelinek-Mercer at order 3, n_tris) — the
    * KenLM-direction upgrade of the v2 cross-corpus [[LmScore]].
    * Jelinek-Mercer weights (l3, l2, l1) must be non-negative and sum
    * to 1. BUILD-TIME EAGER (the three count
    * model artifacts pin at program build, like [[LmScore]]'s model);
    * validation is schema-only. Batch-only by nature (the model trains
    * on its own input — score a stream against a static reference with
    * [[LmScore]]). */
  final case class Lm3Score(name: String, input: String, idCol: String,
                            textCol: String, alpha: Double = 0.5, l3: Double = 0.6,
                            l2: Double = 0.3, l1: Double = 0.1) extends Node with LmNode

  // --- round-14 nodes (format version 8) ---
  /** Dual-mode trigram-LM scoring against a PRETRAINED reference corpus
    * (`TextOps.lmScore`, Jelinek-Mercer at order 3 against a reference)
    * — the CCNet ingest shape at order 3: [[LmScore]]'s
    * pinned-count-artifact + broadcast-join machinery one order up,
    * output drop-in for [[Lm3Score]] (n_tris). Lambdas must be
    * non-negative and sum to 1. BUILD-TIME EAGER (the count artifacts
    * pin at lowering); validation is schema-only. */
  final case class Lm3Against(name: String, input: String, ref: String,
                              idCol: String, textCol: String, refTextCol: String,
                              alpha: Double = 0.5, l3: Double = 0.6, l2: Double = 0.3,
                              l1: Double = 0.1, minCount: Long = 1L,
                              broadcastModel: Option[Boolean] = None) extends Node with LmNode

  /** Order-n interpolated LM quality score over the input corpus itself
    * (`TextOps.lmScore`, Jelinek-Mercer) — [[Lm3Score]] parameterized toward the
    * 5-gram KenLM shape. Empty `lambdas` = the halving default; otherwise
    * exactly `order` weights, highest order first, non-negative, sum 1.
    * BUILD-TIME EAGER; batch-only (score a stream with [[LmNAgainst]]). */
  final case class LmNScore(name: String, input: String, idCol: String,
                            textCol: String, order: Int, alpha: Double = 0.5,
                            lambdas: Seq[Double] = Nil) extends Node with LmNode

  /** Dual-mode order-n LM scoring against a PRETRAINED reference corpus
    * (`TextOps.lmScore`, Jelinek-Mercer against a reference), output
    * column n_grams. */
  final case class LmNAgainst(name: String, input: String, ref: String,
                              idCol: String, textCol: String, refTextCol: String,
                              order: Int, alpha: Double = 0.5,
                              lambdas: Seq[Double] = Nil, minCount: Long = 1L,
                              broadcastModel: Option[Boolean] = None) extends Node with LmNode

  /** Batched BM25 retrieval (`TextOps.bm25Retrieve`): top-k corpus
    * documents per query — the RAG-curation stage as a shippable
    * artifact node. Batch-only on both sides (corpus-wide collection
    * stats; micro-batch a query stream via foreachBatch). */
  /** Hybrid BM25 + ANN retrieval fused by reciprocal-rank fusion
    * (`TextOps.hybridRrfRetrieve`, Cormack et al. 2009): top-`legK` per
    * leg, RRF at `kRrf`, fused top-`k` per query. Batch-only on both
    * sides, like its legs. `ivfCells` > 0 (v11) routes the dense leg
    * through an IVF index trained in-call on the corpus embeddings
    * (`Ivf.train` at `ivfIters` Lloyd rounds, `nProbe` probed cells per
    * query) — the beyond-brute corpus face; 0 keeps the exhaustive
    * brute-force leg. */
  final case class HybridRrf(name: String, input: String, queries: String,
                             idCol: String, textCol: String, vecCol: String,
                             qIdCol: String, qTextCol: String, qVecCol: String,
                             k: Int, legK: Int = 0, kRrf: Int = 60,
                             k1: Double = 1.2, b: Double = 0.75,
                             broadcastQueries: Boolean = true,
                             ivfCells: Int = 0, ivfIters: Int = 2,
                             nProbe: Int = 0) extends Node

  final case class Bm25Retrieve(name: String, input: String, queries: String,
                                idCol: String, textCol: String, qIdCol: String,
                                qTextCol: String, k: Int, k1: Double = 1.2, b: Double = 0.75,
                                broadcastQueries: Boolean = true) extends Node

  /** Winnowing fingerprint-overlap candidate pairs
    * (`TextOps.winnowOverlapPairs`) — the MOSS-style clone-pair miner as
    * a shippable node. Batch-only (corpus-wide fingerprint self-join). */
  final case class WinnowPairs(name: String, input: String, idCol: String,
                               textCol: String, n: Int = 3, w: Int = 4,
                               minShared: Int = 2, maxBucket: Int = 64) extends Node

  /** Order-n interpolated Kneser-Ney LM score over the input corpus
    * itself (`TextOps.lmScore`, Kneser-Ney) — the KenLM smoothing family at a
    * fixed discount. BUILD-TIME EAGER; batch-only (score a stream with
    * [[KnAgainst]]). */
  final case class KnScore(name: String, input: String, idCol: String,
                           textCol: String, order: Int,
                           discount: Double = 0.75) extends Node with LmNode

  /** Sentence-aware chunking (`TextOps.chunkSentencesIngest`) — greedy
    * sentence packing into ~maxTokens chunks, dual-mode (the per-doc
    * fold is stateless at ingest). */
  final case class SentChunk(name: String, input: String, idCol: String,
                             textCol: String, maxTokens: Long,
                             sep: String = " ") extends Node

  /** Dual-mode order-n Kneser-Ney scoring against a PRETRAINED reference
    * corpus (`TextOps.lmScore`, Kneser-Ney against a reference) — the
    * literal CCNet crawl-vs-Wikipedia shape with full back-off on unseen contexts.
    * `broadcastModel` None (v9 grammar) = AUTO: decided per model pin
    * from its measured size vs the broadcast threshold. */
  final case class KnAgainst(name: String, input: String, ref: String,
                             idCol: String, textCol: String, refTextCol: String,
                             order: Int, discount: Double = 0.75,
                             minCount: Long = 1L,
                             broadcastModel: Option[Boolean] = None) extends Node with LmNode

  /** Per-language Kneser-Ney scoring against a LABELED reference corpus
    * (`TextOps.lmScore`, Kneser-Ney per language) — one model per language trained
    * in one pass, the literal CCNet architecture; unmodeled languages
    * take a NULL score. Dual-mode; BUILD-TIME EAGER. */
  final case class KnAgainstLang(name: String, input: String, ref: String,
                                 idCol: String, textCol: String, langCol: String,
                                 refTextCol: String, refLangCol: String,
                                 order: Int, discount: Double = 0.75,
                                 minCount: Long = 1L,
                                 broadcastModel: Option[Boolean] = None) extends Node with LmNode

  /** Per-language Jelinek-Mercer scoring against a LABELED reference
    * corpus (`TextOps.lmScore`, Jelinek-Mercer per language) — the JM cell of the
    * smoothing × per-language matrix (one add-alpha model per language,
    * trained in one pass); unmodeled languages take a NULL score.
    * Dual-mode; BUILD-TIME EAGER. */
  final case class LmAgainstLang(name: String, input: String, ref: String,
                                 idCol: String, textCol: String, langCol: String,
                                 refTextCol: String, refLangCol: String,
                                 order: Int, alpha: Double = 0.5,
                                 lambdas: Seq[Double] = Nil,
                                 minCount: Long = 1L,
                                 broadcastModel: Option[Boolean] = None) extends Node with LmNode

  /** Per-language MODIFIED-KN scoring against a labeled reference
    * corpus (`TextOps.lmScore`, modified KN per language) — the complete CCNet
    * matrix cell: per-language models with each language's bucketed
    * discounts derived from its own slices' count-of-counts
    * (--discount_fallback per language). Dual-mode; BUILD-TIME EAGER. */
  final case class MknAgainstLang(name: String, input: String, ref: String,
                                  idCol: String, textCol: String, langCol: String,
                                  refTextCol: String, refLangCol: String,
                                  order: Int, fb1: Double = 0.5,
                                  fb2: Double = 1.0, fb3: Double = 1.5,
                                  minCount: Long = 1L,
                                  broadcastModel: Option[Boolean] = None) extends Node with LmNode

  /** Score against a KenLM-format ARPA artifact on the local filesystem
    * (`Arpa.arpaImport` + `Arpa.arpaScoreAgainst`): the pretrained model
    * is a FILE — the real CCNet deployment shape — not an in-document
    * stream; `path` binds like a source path. The model order comes from
    * the file's own \\data\\ header. Dual-mode (stream-static broadcast
    * joins); the file is read at lowering time. `sentence` (v11) opts
    * into `<s>`/`</s>` sentence-delimited windowing — the scoring
    * semantics of a sentence-trained KenLM file. */
  final case class ArpaScore(name: String, input: String, path: String,
                             idCol: String, textCol: String,
                             sentence: Boolean = false) extends Node

  /** Score each document against ITS language's ARPA file under `dir` —
    * the consume half of the per-language CCNet artifact layout
    * (`Arpa.arpaImportDir` + `Arpa.arpaScoreAgainstByLang`): unmodeled
    * languages keep their position count with a NULL score, the
    * in-session by-lang verdict. Dual-mode; the directory is read at
    * lowering time. */
  final case class ArpaScoreLang(name: String, input: String, dir: String,
                                 idCol: String, textCol: String,
                                 langCol: String) extends Node

  /** Persist the input frame as a cross-session model artifact
    * ([[Artifacts.save]], table name "table") and pass it through
    * unchanged — the TEE that lets one pipeline train and freeze what
    * another loads. `dir` binds like a sink path. Batch-only; WRITES AT
    * LOWERING TIME (validation never writes). */
  final case class SaveArtifact(name: String, input: String, dir: String,
                                kind: String,
                                overwrite: Boolean = false) extends Node

  /** Bind a saved model artifact's table as a batch frame
    * ([[Artifacts.load]]) — an against-face's reference side, threshold
    * cuts, merges or codebook WITHOUT retraining. A source-like node (no
    * input); `kind` (when set) must match the manifest's tag. */
  final case class LoadArtifact(name: String, dir: String,
                                kind: Option[String] = None,
                                table: String = "table") extends Node

  /** Modified Kneser-Ney LM score over the input corpus itself
    * (`TextOps.lmScore`, modified KN) — KenLM parity: three count-bucketed
    * discounts per level, each derived from that level's count-of-counts,
    * falling back to (fb1, fb2, fb3) when the estimate is degenerate
    * (KenLM `--discount_fallback`). Explicit per-level discount maps are
    * a Scala-face escape and do not serialize. BUILD-TIME EAGER;
    * batch-only (score a stream with [[MknAgainst]]). */
  final case class MknScore(name: String, input: String, idCol: String,
                            textCol: String, order: Int,
                            fb1: Double = 0.5, fb2: Double = 1.0,
                            fb3: Double = 1.5) extends Node with LmNode

  /** Dual-mode modified-KN scoring against a PRETRAINED reference corpus
    * (`TextOps.lmScore`, modified KN against a reference) — [[MknScore]]'s
    * ingest face; bucketed
    * discounts derive from the REFERENCE model's count-of-counts.
    * `broadcastModel` None = AUTO (per model pin by measured size). */
  final case class MknAgainst(name: String, input: String, ref: String,
                              idCol: String, textCol: String, refTextCol: String,
                              order: Int, fb1: Double = 0.5, fb2: Double = 1.0,
                              fb3: Double = 1.5, minCount: Long = 1L,
                              broadcastModel: Option[Boolean] = None) extends Node with LmNode

  /** Maximal exact-substring mining (`Dedup.maximalRepeats`) —
    * variable-length repeated extents >= minLen tokens with bounded
    * extension and content hashes. BUILD-TIME EAGER (candidate census);
    * batch-only (corpus-wide). */
  final case class ExactSubstr(name: String, input: String, idCol: String,
                               textCol: String, minLen: Int, maxExtend: Int,
                               minDocs: Int = 2) extends Node

  /** Frozen per-language perplexity-bucket thresholds
    * (`TextOps.perplexityBucketThresholds`) — the artifact that makes
    * CCNet bucketing streamable; apply with [[BucketApply]]. BUILD-TIME
    * EAGER (trains the KN model); batch-only. */
  final case class PplThresholds(name: String, input: String, ref: String,
                                 idCol: String, textCol: String, langCol: String,
                                 refTextCol: String, buckets: Int = 3,
                                 order: Int = 3, discount: Double = 0.75,
                                 minCount: Long = 1L,
                                 broadcastModel: Option[Boolean] = None) extends Node

  /** Stateless bucket assignment from a thresholds artifact
    * (`TextOps.bucketByThresholds`) — dual-mode, zero state rows; adds
    * `bucket` to the input columns. */
  final case class BucketApply(name: String, input: String, thresholds: String,
                               langCol: String, scoreCol: String) extends Node

  /** Generic per-group equal-depth rank tiling (`TextOps.bucketByRank`)
    * — the public tile stage every bucketing face shares; composes with
    * any scorer node (mknAgainst + rankBuckets = the fully KenLM-parity
    * Wenzek shape). BUILD-TIME EAGER (RangedPrefix pin); batch-only. */
  final case class RankBuckets(name: String, input: String, groupCol: String,
                               scoreCol: String, tieCol: String,
                               buckets: Int = 3) extends Node

  /** The whole document: nodes in topological order + the named outputs a
    * configuration may bind sinks to. */
  final case class Doc(nodes: Seq[Node], outputs: Seq[String]) {
    require(nodes.map(_.name).distinct.size == nodes.size,
      "program nodes must have unique names")
  }

  // ------------------------------------------------------------- execution

  /** Parse a side-qualified SQL expression into a Column through the
    * resolvers an operator hands out for its left/right sides. Uses the
    * session-independent Catalyst parser so the unresolved tree can be
    * rewritten before any analysis. */
  private def sideExpr(sql: String, l: String => Column, r: String => Column): Column = {
    val parsed = CatalystSqlParser.parseExpression(sql)
    val rewritten = parsed.transformUp {
      case UnresolvedAttribute(parts) if parts.length > 1 && parts.head == "l" =>
        ColumnBridge.expr(l(parts.tail.mkString(".")))
      case UnresolvedAttribute(parts) if parts.length > 1 && parts.head == "r" =>
        ColumnBridge.expr(r(parts.tail.mkString(".")))
    }
    ColumnBridge.column(rewritten)
  }

  /** Lower a document to the program shape [[App.run]]/[[App.describeJson]]
    * take: nodes evaluate in document order (inputs must precede uses),
    * external names resolve through the config-bound lookup. For each
    * STREAMING cycle the returned map carries one extra entry
    * `__cycle_<head>` (the feedback stream) so a configuration can bind
    * the channel sink by name; batch cycles resolve to their fixpoint and
    * need no channel bindings. */
  def interpret(doc: Doc): (String => MStream) => Map[String, MStream] = external => {
    val env = interpretNodes(doc.nodes.toVector, external, doc.outputs.toSet)
    val feedback = doc.nodes.collect {
      case b: BeginCycle if env.contains(s"__cycle_${b.name}") =>
        val k = s"__cycle_${b.name}"; k -> env(k)
    }
    doc.outputs.map(o => o -> env(o)).toMap ++ feedback
  }

  private def interpretNodes(nodes: Vector[Node], external: String => MStream,
      outputs: Set[String]): Map[String, MStream] = {
    var env = Map.empty[String, MStream]
    def in(n: String): MStream = env.getOrElse(n,
      throw new IllegalArgumentException(
        s"program node input '$n' is not defined above its use"))
    // a cycle body may contain External nodes (merged in by capture order);
    // they are loop-invariant, so they are pre-bound into env once per
    // cycle and resolve like any other name from there on
    def lowerBody(bn: Node, resolve: String => MStream): MStream = bn match {
      case External(n) => resolve(n)
      case _: BeginCycle | _: CloseCycle => throw new IllegalArgumentException(
        s"nested cycles are not supported (node '${bn.name}')")
      case other => lowerNode(other, resolve)
    }
    var i = 0
    while (i < nodes.size) {
      nodes(i) match {
        case External(n) =>
          env += n -> external(n).withName(n); i += 1
        case BeginCycle(nm, input, maxIter) =>
          val ci = nodes.indexWhere(
            { case c: CloseCycle => c.cycle == nm; case _ => false }, i + 1)
          if (ci < 0) throw new IllegalArgumentException(
            s"cycle '$nm' is never closed")
          val close = nodes(ci).asInstanceOf[CloseCycle]
          val body = nodes.slice(i + 1, ci)
          // loop-invariant externals inside the body segment bind once
          body.foreach {
            case External(n) if !env.contains(n) =>
              env += n -> external(n).withName(n)
            case _ =>
          }
          val init = in(input)
          if (init.df.isStreaming) {
            // head = ingress ∪ channel; feedback re-enters in a later
            // micro-batch through the externally bound channel directory
            val chan = external(s"__cycle_$nm")
            // re-entry lineage (when the run bound a lineage sink): a
            // record keeps its content hash across the channel's file
            // round trip, so an identity edge on the channel source
            // bridges the feedback record (emitted under the same id by
            // the body's operators) to its next-pass head entry
            Lineage.current(init.df.sparkSession) match {
              case Some(rc) if !init.df.schema.exists(f =>
                  graft.operators.Cycles.hasMap(f.dataType)) =>
                val h = org.apache.spark.sql.functions.xxhash64(
                  chan.df.columns.toIndexedSeq.map(col): _*)
                rc.add(chan.df.select(
                  org.apache.spark.sql.functions.lit(s"cycleReentry:$nm").as("op"),
                  h.as("output_id"), h.as("input_id")))
              case _ =>
            }
            val head = init.union(chan).withName(nm)
            env += nm -> head
            body.foreach(bn => env += bn.name -> lowerBody(bn, in).withName(bn.name))
            env += s"__cycle_$nm" -> in(close.feedback)
            env += close.name -> head.withName(close.name)
          } else {
            // batch: SET least-fixpoint. Semi-naive (frontier-only) when
            // the body is linear in the head — every head-dependent node is
            // union-distributive and touches the head through exactly one
            // input — else the naive count-stable accumulation.
            def evalBody(cur: MStream): MStream = {
              var benv = env + (nm -> cur.withName(nm))
              def bin(x: String): MStream = benv.getOrElse(x,
                throw new IllegalArgumentException(
                  s"program node input '$x' is not defined above its use"))
              body.foreach(bn => benv += bn.name -> lowerBody(bn, bin).withName(bn.name))
              benv(close.feedback)
            }
            val (linear, headJoin) = bodyShape(nm, body, close.feedback)
            val useDelta = init.df.sparkSession.conf
                .get("graft.cycle.strategy", "auto") match {
              case "naive" => false
              case "delta" =>
                require(linear, s"cycle '$nm': graft.cycle.strategy=delta " +
                  "requires a body linear in the head (semi-naive " +
                  "evaluation is unsound otherwise)")
                true
              case "auto" => linear && headJoin
              case other => throw new IllegalArgumentException(
                s"unknown graft.cycle.strategy '$other' (auto|naive|delta)")
            }
            // withName(nm): the cycle's lineage edges are labelled by the
            // cycle name, not the seed node's
            val fixed =
              if (useDelta)
                graft.operators.Cycles.iterateDelta(init.withName(nm), maxIter)(evalBody)
              else
                graft.operators.Cycles.iterate(init.withName(nm), maxIter)(cur =>
                  cur.union(evalBody(cur)).distinct())
            env += nm -> fixed.withName(nm)
            // re-lower the body against the fixpoint ONLY when a later node
            // or an output actually references a body name — skipping it
            // avoids re-running build-time-eager body operators (residual
            // joins) purely to populate unused env entries
            val bodyNames = body.map(_.name).toSet
            val laterRefs = nodes.drop(ci + 1).flatMap(nodeInputs).toSet ++ outputs
            if ((laterRefs & bodyNames).nonEmpty)
              body.foreach(bn => env += bn.name -> lowerBody(bn, in).withName(bn.name))
            env += close.name -> fixed.withName(close.name)
          }
          i = ci + 1
        case c: CloseCycle => throw new IllegalArgumentException(
          s"closeCycle '${c.name}' without an open cycle '${c.cycle}'")
        case other =>
          env += other.name -> lowerNode(other, in).withName(other.name); i += 1
      }
    }
    env
  }

  /** Input node names of a node (dataflow edges): the values of its
    * [[EdgeFields]], in field order. */
  private[graft] def nodeInputs(n: Node): Seq[String] =
    n.productElementNames.zip(n.productIterator).toList.flatMap {
      case (k, s: String) if EdgeFields(k) => List(s)
      case (k, o: Option[_]) if EdgeFields(k) => o.toList.map(_.toString)
      case (k, xs: Seq[_]) if EdgeFields(k) => xs.map(_.toString)
      case _ => Nil
    }

  /** Static shape of a cycle body, deciding the batch fixpoint strategy.
    *
    * `linear` (SOUNDNESS precondition for semi-naive delta evaluation,
    * `Cycles.iterateDelta`): every node on a head-dependent path is
    * union-distributive (per-record ops; unions; left/leftInner enrichment
    * joins whose right side is loop-invariant) and reaches the head
    * through exactly one input. Aggregations, windows, scans, distinct,
    * dedup, as-of, FULL joins (unmatched-right null-padding does not
    * distribute — a frontier delta would re-emit rights the accumulated
    * head already matched) and right-side-recursive joins break it.
    *
    * `headJoin` (PROFITABILITY heuristic): the head-dependent path
    * contains a join — the case where naive evaluation re-derives every
    * old fact each round through the join. Measured crossover
    * (`CycleBench`): delta wins once the accumulation dominates per-round
    * overhead (5M-row fixpoint: 68 s vs 84 s) and loses when many tiny
    * rounds do (800k-row, 40 rounds: ~2× slower) — local mode amplifies
    * per-round overhead; on a cluster the shuffle/write volume it saves
    * (per-round: ~half the shuffle, delta-only checkpoint writes, F probes
    * the frontier not the accumulation) is what matters. The
    * `graft.cycle.strategy` conf overrides the auto choice per run. */
  private def bodyShape(nm: String, body: Seq[Node], feedback: String): (Boolean, Boolean) = {
    val headDep = scala.collection.mutable.Set(nm)
    var linear = true
    var headJoin = false
    body.foreach { bn =>
      val deps = nodeInputs(bn).filter(headDep)
      if (deps.nonEmpty) {
        headDep += bn.name
        val ok = bn match {
          case _: MapCols | _: Where | _: AddTo | _: ToField | _: OrderBy |
               _: ApplyFn | // applyFn kinds are all per-record
               // the hash-gate samplers are pure per-row filters/explodes —
               // union-distributive (caps and temperatureMix are NOT: rank
               // windows and corpus counts don't distribute -> default)
               _: HashSample | _: StratifiedSample | _: AssignSplit |
               _: WeightedMix |
               // the curation annotators/generators are pure per-row ops
               // (corpus aggregations — dedup, scrubs, packChunks — are not)
               _: QualityAnnotate | _: PiiScrub | _: LangId |
               _: ChunkTokens | _: Winnow | _: Repetition |
               _: Normalize | _: StripMarkup | _: JlProjection =>
            deps.size == 1
          case _: Union => true // union distributes regardless of arity
          case j: Join =>
            headJoin = true
            j.kind != "full" && headDep(j.left) && !headDep(j.right)
          case _ => false
        }
        if (!ok) linear = false
      }
    }
    (linear && headDep(feedback), headJoin)
  }

  /** The single lowering of a non-external node onto the MStream surface —
    * shared by [[interpret]] (import path) and [[Rec]] (capture path), so a
    * captured pipeline and its re-imported document execute IDENTICAL
    * dataflows by construction. */
  private def lowerNode(node: Node, in: String => MStream): MStream = {
    node match {
        case External(n) => throw new IllegalArgumentException(
          s"external node '$n' has no lowering (resolved by the configuration)")
        case c: BeginCycle => throw new IllegalArgumentException(
          s"cycle node '${c.name}' is lowered by interpret, not standalone")
        case c: CloseCycle => throw new IllegalArgumentException(
          s"cycle node '${c.name}' is lowered by interpret, not standalone")
        case MapCols(_, i, cols) => in(i).map(cols.map(f => expr(f.expr).as(f.as)): _*)
        case Where(_, i, p) => in(i).where(expr(p))
        case AddTo(_, i, fields) =>
          in(i).addFields(fields.map(f => f.as -> expr(f.expr)): _*)
        case OrderBy(_, i, cols) => in(i).orderedBy(cols: _*)
        case Union(_, inputs) =>
          require(inputs.nonEmpty, "union needs at least one input")
          inputs.map(in).reduce(_ union _)
        case Distinct(_, i) => in(i).distinct()
        case GroupSelect(_, i, keys, aggs) =>
          val cols = aggs.map(f => expr(f.expr).as(f.as))
          if (keys.isEmpty) new MStream(in(i).df.agg(cols.head, cols.tail: _*))
          else in(i).groupBy(keys: _*).select(cols: _*)
        case WindowSelect(_, i, keys, ts, size, slide, offset, windowAs, aggs) =>
          val s = in(i)
          // window aggregation groups by (contextKeys, window); extra keys
          // scope the window per group exactly like groupBy().tumblingWindow
          val scoped = if (keys.isEmpty) s
            else new MStream(s.df, s.eventOrder, s.contextKeys ++ keys, s.name)
          val windowed = slide match {
            case Some(sl) => scoped.slidingWindow(expr(ts), size, sl, offset)
            case None => scoped.tumblingWindow(expr(ts), size, offset)
          }
          windowed.select(windowAs, aggs.map(f => expr(f.expr).as(f.as)): _*)
        case Join(_, kind, l, r, condition, select, lenient) =>
          val builder0 = kind match {
            case "left" => in(l).leftJoin(in(r))
            case "full" => in(l).fullJoin(in(r))
            case "leftInner" => in(l).leftInnerJoin(in(r))
            case other => throw new IllegalArgumentException(
              s"unknown join kind '$other' (expected left|full|leftInner)")
          }
          val builder = if (lenient) builder0.lenient() else builder0
          builder.on((lc, rc) => sideExpr(condition, lc, rc))
            .select((lc, rc) => select.map(f => sideExpr(f.expr, lc, rc).as(f.as)))
        case Scan(name, i, kind, keys, arg, as) =>
          val s = in(i)
          def argCol = expr(arg.getOrElse(throw new IllegalArgumentException(
            s"scan node '$name' ($kind) needs an 'arg' expression")))
          def outName = as.getOrElse(throw new IllegalArgumentException(
            s"scan node '$name' ($kind) needs an 'as' output name"))
          if (keys.isEmpty) kind match {
            case "sumBy" => s.sumBy(argCol, outName)
            case "meanBy" => s.meanBy(argCol, outName)
            case "productBy" => s.productBy(argCol, outName)
            case "countBy" => s.countBy(as.getOrElse("count"))
            case "maxBy" => s.maxBy(argCol)
            case "minBy" => s.minBy(argCol)
            case "last" => s.last()
            case other => throw new IllegalArgumentException(
              s"unknown scan kind '$other'")
          } else {
            val g = s.groupBy(keys: _*)
            kind match {
              case "sumBy" => g.sumBy(argCol, outName)
              case "meanBy" => g.meanBy(argCol, outName)
              case "productBy" => g.productBy(argCol, outName)
              case "countBy" => g.countBy(as.getOrElse("count"))
              case "maxBy" => g.maxBy(argCol)
              case "minBy" => g.minBy(argCol)
              case "last" => g.last()
              case other => throw new IllegalArgumentException(
                s"unknown scan kind '$other'")
            }
          }
        case DedupBy(_, i, cols, withinWm) => in(i).dedupBy(cols, withinWm)
        case Watermark(_, i, ts, delay) => in(i).withWatermark(ts, delay)
        case Asof(name, l, r, lts, rts, keys, rightOrder, tol, direction, inner) =>
          val dir = direction match {
            case "backward" => graft.operators.AsofJoins.Backward
            case "forward" => graft.operators.AsofJoins.Forward
            case other => throw new IllegalArgumentException(
              s"asof node '$name': unknown direction '$other' (backward|forward)")
          }
          in(l).asofJoin(in(r), lts, rts, keys, rightOrder, tol,
            inner = inner, direction = dir)
        case UniqueBy(_, i, valueCols, keepLatestBy) =>
          in(i).uniqueBy(valueCols, keepLatestBy)
        case ToField(_, i, fieldName) => in(i).toField(fieldName)
        case SessionSelect(_, i, keys, ts, gap, startAs, aggs) =>
          in(i).groupBy(keys: _*).sessionWindow(expr(ts), gap)
            .select(startAs, aggs.map(f => expr(f.expr).as(f.as)): _*)
        case RecordWindow(name, i, keys, nWin, aggs) =>
          import graft.streaming.StreamingRowScans._
          val kinds: Seq[(RunKind, String, String)] = aggs.map { case (k, in0, as) =>
            val kind = k match {
              case "sumBy" => RSum
              case "meanBy" => RMean
              case "productBy" => RProduct
              case "countBy" => RCount
              case other => throw new IllegalArgumentException(
                s"recordWindow node '$name': unknown agg kind '$other'")
            }
            (kind, in0, as)
          }
          in(i).groupBy(keys: _*).recordWindow(nWin).selectRunning(kinds: _*)
        case ApplyFn(name, i, fnName, args, kind, as) =>
          val s = in(i)
          val c = Functions(name, fnName, args.map(a => expr(a)))
          def outName = as.getOrElse(throw new IllegalArgumentException(
            s"applyFn node '$name' (kind '$kind') needs an 'as' output name"))
          kind match {
            case "map" => s.map(c.as(outName))
            case "where" => s.where(c)
            case "addField" => s.addFields(outName -> c)
            case other => throw new IllegalArgumentException(
              s"applyFn node '$name': unknown kind '$other' (map|where|addField)")
          }
        case CorpusDedup(name, i, ref, idCol, textCol, k, bands, threshold, bRef) =>
          graft.pipeline.Dedup.dedupAgainstCorpus(in(i),
            staticSide(name, in, ref), idCol, textCol, k, bands, threshold, bRef)
        case EmbedDedup(name, i, ref, idCol, vecCol, threshold, cents, nProbe, bRef) =>
          cents match {
            case Some(c) => graft.pipeline.Dedup.embeddingDedupAgainstCorpusIvf(
              in(i), staticSide(name, in, ref), idCol, vecCol, threshold,
              staticSide(name, in, c), nProbe, bRef)
            case None => graft.pipeline.Dedup.embeddingDedupAgainstCorpus(
              in(i), staticSide(name, in, ref), idCol, vecCol, threshold)
          }
        case n: LmNode =>
          val c = lmCall(n)
          // a self-scored model lifts (not verbatim eventOrder): the score
          // schema drops the order columns, and validate's emptyOf assumes
          // lift semantics — the two faces must agree on what survives
          val s = in(c.input)
          if (c.ref.isEmpty) batchFace(node.name, codecOf(node).op, s)
          graft.pipeline.TextOps.lmScore(s, c.spec, c.idCol, c.textCol,
            c.ref.map { case (r, rt) =>
              graft.pipeline.TextOps.LmRef(staticSide(node.name, in, r), rt, c.byLang) })
        case Bm25Retrieve(name, i, q, idCol, textCol, qIdCol, qTextCol, k, k1, b, bq) =>
          val s = in(i)
          s.lift(graft.pipeline.TextOps.bm25Retrieve(
            batchFace(name, "bm25Retrieve", s), idCol, textCol,
            staticSide(name, in, q), qIdCol, qTextCol, k, k1, b, bq))
        case HybridRrf(name, i, q, idCol, textCol, vecCol, qIdCol, qTextCol,
                       qVecCol, k, legK, kRrf, k1, b, bq, ivfCells, ivfIters,
                       nProbe) =>
          val s = in(i)
          val corpus = batchFace(name, "hybridRrf", s)
          val cents =
            if (ivfCells > 0) Some(graft.pipeline.Ivf.train(
              corpus, idCol, vecCol, ivfCells, ivfIters))
            else None
          s.lift(graft.pipeline.TextOps.hybridRrfRetrieve(
            corpus, idCol, textCol, vecCol,
            staticSide(name, in, q), qIdCol, qTextCol, qVecCol, k, legK,
            kRrf, k1, b, bq, cents, nProbe))
        case WinnowPairs(name, i, idCol, textCol, nn, w, minShared, maxBucket) =>
          val s = in(i)
          s.lift(graft.pipeline.TextOps.winnowOverlapPairs(
            batchFace(name, "winnowPairs", s), idCol, textCol, nn, w,
            minShared, maxBucket))
        case SentChunk(_, i, idCol, textCol, maxTokens, sep) =>
          graft.pipeline.TextOps.chunkSentencesIngest(in(i), idCol, textCol,
            maxTokens, sep)
        case ArpaScore(_, i, path, idCol, textCol, sentence) =>
          val s = in(i)
          graft.pipeline.Arpa.arpaScoreAgainst(s,
            graft.pipeline.Arpa.arpaImport(s.df.sparkSession, path),
            idCol, textCol, sentenceMode = sentence)
        case ArpaScoreLang(_, i, dir, idCol, textCol, langCol) =>
          val s = in(i)
          graft.pipeline.Arpa.arpaScoreAgainstByLang(s,
            graft.pipeline.Arpa.arpaImportDir(s.df.sparkSession, dir),
            idCol, textCol, langCol)
        case SaveArtifact(name, i, dir, kind, ow) =>
          val s = in(i)
          Artifacts.save(dir, kind,
            Map("table" -> batchFace(name, "saveArtifact", s)),
            overwrite = ow)
          s
        case LoadArtifact(name, dir, kind, table) =>
          val spark = org.apache.spark.sql.SparkSession.active
          val art = Artifacts.load(spark, dir, kind)
          require(art.tables.contains(table),
            s"node '$name': artifact at $dir has no table '$table' " +
              s"(have: ${art.tables.keys.toSeq.sorted.mkString(", ")})")
          MStream(art.tables(table))
        case ExactSubstr(name, i, idCol, textCol, minLen, maxExtend, minDocs) =>
          val s = in(i)
          s.lift(graft.pipeline.Dedup.maximalRepeats(
            batchFace(name, "exactSubstr", s), idCol, textCol, minLen,
            maxExtend, minDocs))
        case PplThresholds(name, i, ref, idCol, textCol, langCol, refTextCol,
                           buckets, order, discount, mc, bm) =>
          val s = in(i)
          s.lift(graft.pipeline.TextOps.perplexityBucketThresholds(
            batchFace(name, "pplThresholds", s), staticSide(name, in, ref),
            idCol, textCol, langCol, refTextCol, buckets, order, discount,
            mc, bm))
        case BucketApply(name, i, thr, langCol, scoreCol) =>
          graft.pipeline.TextOps.bucketByThresholds(in(i),
            staticSide(name, in, thr), langCol, scoreCol)
        case RankBuckets(name, i, groupCol, scoreCol, tieCol, buckets) =>
          val s = in(i)
          s.lift(graft.pipeline.TextOps.bucketByRank(
            batchFace(name, "rankBuckets", s), groupCol, scoreCol, tieCol,
            buckets))
        case DsirScore(name, i, tgt, raw, idCol, textCol, refTextCol, buckets, alpha) =>
          graft.pipeline.TextOps.dsirScore(in(i), staticSide(name, in, tgt),
            staticSide(name, in, raw), idCol, textCol, refTextCol, buckets, alpha)
        case TokenFreq(name, i, ref, idCol, textCol, refTextCol, depth, width, rareMax) =>
          graft.pipeline.TextOps.tokenFrequencyStats(in(i),
            staticSide(name, in, ref), idCol, textCol, refTextCol, depth, width, rareMax)
        case BpeEncode(name, i, merges, idCol, textCol) =>
          graft.pipeline.TextOps.bpeTokenizeIngest(in(i),
            staticSide(name, in, merges), idCol, textCol)
        case BpeIds(name, i, merges, textCol, oovId, as) =>
          graft.pipeline.TextOps.bpeEncodeIds(in(i),
            staticSide(name, in, merges), textCol, oovId, as)
        case SpTokenize(_, i, path, textCol, as) =>
          val s = in(i)
          graft.pipeline.Unigram.tokenizeImported(s,
            graft.pipeline.Unigram.importVocab(s.df.sparkSession, path),
            textCol, as)
        case SpIds(_, i, path, textCol, oovId, as) =>
          val s = in(i)
          graft.pipeline.Unigram.encodeIdsImported(s,
            graft.pipeline.Unigram.importVocab(s.df.sparkSession, path),
            textCol, oovId, as)
        case UnigramEncode(name, i, vocab, textCol, maxPieceLen, as) =>
          graft.pipeline.Unigram.tokenize(in(i),
            staticSide(name, in, vocab), textCol, maxPieceLen, as)
        case UnigramIds(name, i, vocab, textCol, maxPieceLen, oovId, as) =>
          graft.pipeline.Unigram.encodeIds(in(i),
            staticSide(name, in, vocab), textCol, maxPieceLen, oovId, as)
        case WpTokenize(name, i, vocab, textCol, unk, maxChars, as) =>
          graft.pipeline.WordPiece.tokenize(in(i),
            staticSide(name, in, vocab), textCol, unk, maxChars, as)
        case WpEncode(name, i, vocab, idCol, textCol, unk, maxChars) =>
          graft.pipeline.WordPiece.encode(in(i),
            staticSide(name, in, vocab), idCol, textCol, unk, maxChars)
        case WpIds(name, i, vocab, textCol, unk, maxChars, oovId, as) =>
          graft.pipeline.WordPiece.encodeIds(in(i),
            staticSide(name, in, vocab), textCol, unk, maxChars, oovId, as)
        case ByteBpeEncode(name, i, merges, idCol, textCol) =>
          graft.pipeline.TextOps.byteBpeTokenize(in(i),
            staticSide(name, in, merges), idCol, textCol)
        case ByteBpeIds(name, i, merges, textCol, oovId, as) =>
          graft.pipeline.TextOps.byteBpeEncodeIds(in(i),
            staticSide(name, in, merges), textCol, oovId, as)
        case ByteBpeIdsVocab(name, i, merges, vocab, textCol, oovId, as) =>
          graft.pipeline.TextOps.byteBpeEncodeIdsImported(in(i),
            staticSide(name, in, merges), staticSide(name, in, vocab),
            textCol, oovId, as)
        case BpeLangEncode(name, i, merges, idCol, langCol, textCol) =>
          graft.pipeline.TextOps.bpeTokenizeByLang(in(i),
            staticSide(name, in, merges), idCol, langCol, textCol)
        case EncodeIngest(name, i, vocab, idCol, textCol, oovId) =>
          graft.pipeline.TextOps.encodeTokensIngest(in(i),
            staticSide(name, in, vocab), idCol, textCol, oovId)
        case DecontamIngest(name, i, bench, idCol, textCol, benchTextCol, n, minOv) =>
          graft.pipeline.TextOps.decontaminateIngest(in(i),
            staticSide(name, in, bench), idCol, textCol, benchTextCol, n, minOv)
        case IvfProbe(name, i, corpus, cents, idCol, vecCol, qIdCol, topK, nProbe, bc) =>
          graft.pipeline.Ivf.searchIngest(in(i), staticSide(name, in, corpus),
            idCol, vecCol, qIdCol, staticSide(name, in, cents), topK, nProbe, bc)
        case ExactDedup(name, i, ref, idCol, textCol, numBits, numHashes, bRef) =>
          graft.pipeline.Dedup.exactDedupAgainstCorpus(in(i),
            staticSide(name, in, ref), idCol, textCol, numBits, numHashes, bRef)
        case GopherGate(_, i, idCol, textCol, minW, maxW) =>
          graft.pipeline.TextOps.gopherGate(in(i), idCol, textCol, minW, maxW)
        case NbClassify(name, i, ref, idCol, textCol, refTextCol, refLabelCol, alpha) =>
          graft.pipeline.TextOps.nbClassifyAgainst(in(i),
            staticSide(name, in, ref), idCol, textCol, refTextCol, refLabelCol, alpha)
        case HashSample(_, i, key, rate, salt) =>
          val s = in(i)
          new MStream(graft.pipeline.Sampling.hashSample(s.df, col(key), rate, salt),
            s.eventOrder, s.contextKeys, s.name)
        case StratifiedSample(_, i, key, strata, rates, dflt, salt) =>
          val s = in(i)
          new MStream(graft.pipeline.Sampling.stratifiedHashSample(
              s.df, col(key), col(strata), rates, dflt, salt),
            s.eventOrder, s.contextKeys, s.name)
        case AssignSplit(_, i, key, splits, as, salt) =>
          val s = in(i)
          new MStream(graft.pipeline.Sampling.assignSplit(s.df, col(key), splits, as, salt),
            s.eventOrder, s.contextKeys, s.name)
        case WeightedMix(_, i, key, strata, weights, dflt, salt) =>
          val s = in(i)
          new MStream(graft.pipeline.Sampling.weightedMix(
              s.df, col(key), col(strata), weights, dflt, salt),
            s.eventOrder, s.contextKeys, s.name)
        case CapPerKey(name, i, strata, key, cap, salt) =>
          val s = in(i)
          new MStream(graft.pipeline.Sampling.capPerKey(
              batchFace(name, "capPerKey", s), col(strata), col(key), cap, salt),
            s.eventOrder, s.contextKeys, s.name)
        case ExactKSample(_, i, idc, k, salt) =>
          val s = in(i)
          new MStream(graft.pipeline.Sampling.exactKSample(s.df, idc, k, salt),
            s.eventOrder, s.contextKeys, s.name)
        case ExactKStrata(_, i, strata, idc, k, salt) =>
          val s = in(i)
          new MStream(graft.pipeline.Sampling.exactKPerKey(s.df, strata, idc, k, salt),
            s.eventOrder, s.contextKeys, s.name)
        case CapTokens(name, i, strata, key, tokens, budget, salt) =>
          val s = in(i)
          new MStream(graft.pipeline.Sampling.capTokensPerKey(
              batchFace(name, "capTokens", s), col(strata), col(key),
              col(tokens), budget, salt),
            s.eventOrder, s.contextKeys, s.name)
        case TemperatureMix(name, i, key, strata, alpha, budget, salt) =>
          val s = in(i)
          new MStream(graft.pipeline.Sampling.temperatureMix(
              batchFace(name, "temperatureMix", s), col(key), col(strata),
              alpha, budget, salt),
            s.eventOrder, s.contextKeys, s.name)
        case SafeSplit(_, i, pairs, idCol, aCol, bCol, splits, as, salt) =>
          val s = in(i)
          new MStream(graft.pipeline.Sampling.leakageSafeSplit(
              s.df, idCol, in(pairs).df, aCol, bCol, splits, as, salt),
            s.eventOrder, s.contextKeys, s.name)
        case DedupCorpus(name, i, idCol, textCol, k, bands, threshold) =>
          rewrap(in(i), graft.pipeline.Dedup.deduplicateCorpus(
            batchFace(name, "dedupCorpus", in(i)), idCol, textCol, k, bands, threshold))
        case DedupCorpusBest(name, i, idCol, textCol, k, bands, threshold, score) =>
          rewrap(in(i), graft.pipeline.Dedup.deduplicateCorpusKeepBest(
            batchFace(name, "dedupCorpusBest", in(i)), idCol, textCol, k, bands,
            threshold, expr(score)))
        case SemanticDedup(name, i, cents, idCol, vecCol, threshold) =>
          rewrap(in(i), graft.pipeline.Dedup.semanticDedup(
            batchFace(name, "semanticDedup", in(i)), idCol, vecCol,
            staticSide(name, in, cents), threshold))
        case SemanticDedupBest(name, i, cents, idCol, vecCol, threshold, score) =>
          rewrap(in(i), graft.pipeline.Dedup.semanticDedupKeepBest(
            batchFace(name, "semanticDedupBest", in(i)), idCol, vecCol,
            staticSide(name, in, cents), threshold, expr(score)))
        case LineScrub(name, i, idCol, textCol, minWords) =>
          rewrap(in(i), graft.pipeline.Dedup.scrubDuplicateLines(
            batchFace(name, "lineScrub", in(i)), idCol, textCol, minWords))
        case ParaScrub(name, i, idCol, textCol, minWords) =>
          rewrap(in(i), graft.pipeline.Dedup.scrubDuplicateParagraphs(
            batchFace(name, "paraScrub", in(i)), idCol, textCol, minWords))
        case SpanScrub(name, i, idCol, textCol, k, minDocs, keepCanonical) =>
          rewrap(in(i), graft.pipeline.Dedup.scrubRepeatedSpans(
            batchFace(name, "spanScrub", in(i)), idCol, textCol, k, minDocs,
            keepCanonical))
        case QualityAnnotate(_, i, textCol) =>
          in(i).addFields(graft.pipeline.TextOps.qualityFeatures(col(textCol)): _*)
        case PiiScrub(_, i, textCol) =>
          in(i).addFields(graft.pipeline.TextOps.scrubPii(col(textCol)): _*)
        case LangId(_, i, textCol, as) =>
          in(i).addFields(as -> graft.pipeline.TextOps.langId(col(textCol)))
        case ChunkTokens(_, i, idCol, textCol, chunkSize, stride) =>
          rewrap(in(i), graft.pipeline.TextOps.chunkTokens(
            in(i).df, idCol, textCol, chunkSize, stride))
        case PackChunks(name, i, idCol, textCol, partCol, budget) =>
          rewrap(in(i), graft.pipeline.TextOps.packChunks(
            batchFace(name, "packChunks", in(i)), idCol, textCol, partCol, budget))
        case Winnow(_, i, idCol, textCol, nGram, w) =>
          rewrap(in(i), graft.pipeline.TextOps.winnowFingerprints(
            in(i).df, idCol, textCol, nGram, w))
        case Repetition(_, i, idCol, textCol) =>
          rewrap(in(i), graft.pipeline.TextOps.repetitionFeatures(
            in(i).df, idCol, textCol))
        case Normalize(_, i, textCol, as) =>
          in(i).addFields(as -> graft.pipeline.TextOps.normalizeText(col(textCol)))
        case StripMarkup(_, i, textCol, as, domainsAs) =>
          in(i).addFields(
            as -> graft.pipeline.TextOps.stripMarkup(col(textCol)),
            domainsAs -> graft.pipeline.TextOps.domainsOf(col(textCol)))
        case JlProjection(_, i, vecCol, outDim, seed, as) =>
          rewrap(in(i), graft.pipeline.Similarity.randomProject(
            in(i).df, vecCol, outDim, seed, as))
        case TopKPerKey(_, i, keys, idCol, score, k, scoreAs) =>
          rewrap(in(i), graft.operators.GroupTopK.topKPerKey(
            in(i).df, keys, idCol, expr(score), k, scoreAs))
        case Sq8Ingest(name, i, stats, vecCol, as) =>
          val (lo, hi) = graft.pipeline.Sq.collectStats(
            staticSide(name, in, stats))
          rewrap(in(i), graft.pipeline.Sq.sq8Encode(in(i).df, vecCol, lo, hi, as))
        case ZOrder(name, i, cols, numFiles, bits) =>
          rewrap(in(i), graft.operators.Layout.zorderBy(
            batchFace(name, "zorder", in(i)), cols, numFiles, bits))
    }
  }

  /** An LM node as the arguments of the one scoring entry
    * ([[graft.pipeline.TextOps.lmScore]]): the spec, the scored input and
    * its columns, the reference edge (the reference node and its text
    * column) and, for per-language models, the (input, reference)
    * language columns. */
  private final case class LmCall(spec: graft.pipeline.TextOps.LmSpec, input: String,
                                  idCol: String, textCol: String,
                                  ref: Option[(String, String)],
                                  byLang: Option[(String, String)])

  /** Marks the twelve LM nodes, which lower through the one scoring entry
    * by [[lmCall]]. */
  sealed trait LmNode

  /** THE mapping of the twelve LM nodes onto [[LmCall]]: lowering and
    * both validators handle every LM node through it, so a node's fields
    * meet the one [[graft.pipeline.TextOps.LmSpec]] contract in one
    * place. [[lmNodeOf]] is its inverse. */
  private def lmCall(n: LmNode): LmCall = {
    import graft.pipeline.TextOps.LmSpec
    import graft.pipeline.TextOps.LmSpec._
    n match {
      case LmScore(_, i, r, id, t, rt, a) =>
        LmCall(LmSpec(2, AddAlpha(a)), i, id, t, Some((r, rt)), None)
      case Lm3Score(_, i, id, t, a, l3, l2, l1) =>
        LmCall(LmSpec(3, JelinekMercer(a, Seq(l3, l2, l1)), countCol = Some("n_tris")),
          i, id, t, None, None)
      case Lm3Against(_, i, r, id, t, rt, a, l3, l2, l1, mc, bm) =>
        LmCall(LmSpec(3, JelinekMercer(a, Seq(l3, l2, l1)), mc, bm,
          countCol = Some("n_tris")), i, id, t, Some((r, rt)), None)
      case LmNScore(_, i, id, t, o, a, l) =>
        LmCall(LmSpec(o, JelinekMercer(a, l)), i, id, t, None, None)
      case LmNAgainst(_, i, r, id, t, rt, o, a, l, mc, bm) =>
        LmCall(LmSpec(o, JelinekMercer(a, l), mc, bm), i, id, t, Some((r, rt)), None)
      case LmAgainstLang(_, i, r, id, t, lc, rt, rlc, o, a, l, mc, bm) =>
        LmCall(LmSpec(o, JelinekMercer(a, l), mc, bm), i, id, t, Some((r, rt)),
          Some((lc, rlc)))
      case KnScore(_, i, id, t, o, d) =>
        LmCall(LmSpec(o, KneserNey(d)), i, id, t, None, None)
      case KnAgainst(_, i, r, id, t, rt, o, d, mc, bm) =>
        LmCall(LmSpec(o, KneserNey(d), mc, bm), i, id, t, Some((r, rt)), None)
      case KnAgainstLang(_, i, r, id, t, lc, rt, rlc, o, d, mc, bm) =>
        LmCall(LmSpec(o, KneserNey(d), mc, bm), i, id, t, Some((r, rt)), Some((lc, rlc)))
      case MknScore(_, i, id, t, o, f1, f2, f3) =>
        LmCall(LmSpec(o, ModifiedKn(fallback = (f1, f2, f3))), i, id, t, None, None)
      case MknAgainst(_, i, r, id, t, rt, o, f1, f2, f3, mc, bm) =>
        LmCall(LmSpec(o, ModifiedKn(fallback = (f1, f2, f3)), mc, bm), i, id, t,
          Some((r, rt)), None)
      case MknAgainstLang(_, i, r, id, t, lc, rt, rlc, o, f1, f2, f3, mc, bm) =>
        LmCall(LmSpec(o, ModifiedKn(fallback = (f1, f2, f3)), mc, bm), i, id, t,
          Some((r, rt)), Some((lc, rlc)))
    }
  }

  /** The LM node named `name` that records `spec` over `input` — the
    * inverse of [[lmCall]], for [[Rec.lmScore]]. The spec must pass its
    * own check; one no node carries is a named error. */
  private def lmNodeOf(name: String, input: String, spec: graft.pipeline.TextOps.LmSpec,
                       idCol: String, textCol: String, ref: Option[(String, String)],
                       byLang: Option[(String, String)]): Node = {
    import graft.pipeline.TextOps.LmSpec._
    spec.check("lmScore", ref.isDefined, byLang.isDefined)
    val (o, mc, bm) = (spec.order, spec.minCount, spec.broadcastModel)
    def tri(l: Seq[Double]) = graft.pipeline.TextOps.lambdasFor(3, l)
    val trigram = spec.nCol == "n_tris"
    (spec.smoothing, ref, byLang) match {
      case _ if spec.sentenceMode || !Set("n_grams", "n_pairs", "n_tris")(spec.nCol) =>
        throw noNode(spec)
      case (AddAlpha(a), Some((r, rt)), None) => LmScore(name, input, r, idCol, textCol, rt, a)
      case (JelinekMercer(a, l), None, None) if trigram =>
        val Seq(l3, l2, l1) = tri(l)
        Lm3Score(name, input, idCol, textCol, a, l3, l2, l1)
      case (JelinekMercer(a, l), None, None) => LmNScore(name, input, idCol, textCol, o, a, l)
      case (JelinekMercer(a, l), Some((r, rt)), None) if trigram && o == 3 =>
        val Seq(l3, l2, l1) = tri(l)
        Lm3Against(name, input, r, idCol, textCol, rt, a, l3, l2, l1, mc, bm)
      case (JelinekMercer(a, l), Some((r, rt)), None) if !trigram =>
        LmNAgainst(name, input, r, idCol, textCol, rt, o, a, l, mc, bm)
      case (JelinekMercer(a, l), Some((r, rt)), Some((lc, rlc))) if !trigram =>
        LmAgainstLang(name, input, r, idCol, textCol, lc, rt, rlc, o, a, l, mc, bm)
      case (KneserNey(d), None, None) => KnScore(name, input, idCol, textCol, o, d)
      case (KneserNey(d), Some((r, rt)), None) =>
        KnAgainst(name, input, r, idCol, textCol, rt, o, d, mc, bm)
      case (KneserNey(d), Some((r, rt)), Some((lc, rlc))) =>
        KnAgainstLang(name, input, r, idCol, textCol, lc, rt, rlc, o, d, mc, bm)
      case (ModifiedKn(ds, (f1, f2, f3)), None, None) if ds.isEmpty =>
        MknScore(name, input, idCol, textCol, o, f1, f2, f3)
      case (ModifiedKn(ds, (f1, f2, f3)), Some((r, rt)), None) if ds.isEmpty =>
        MknAgainst(name, input, r, idCol, textCol, rt, o, f1, f2, f3, mc, bm)
      case (ModifiedKn(_, (f1, f2, f3)), Some((r, rt)), Some((lc, rlc))) =>
        MknAgainstLang(name, input, r, idCol, textCol, lc, rt, rlc, o, f1, f2, f3, mc, bm)
      case _ => throw noNode(spec)
    }
  }

  private def noNode(spec: graft.pipeline.TextOps.LmSpec): IllegalArgumentException =
    new IllegalArgumentException(s"capture: no program node records $spec (explicit " +
      "modified-KN discounts, sentenceMode and other count columns are Scala-face " +
      "escapes of TextOps.lmScore)")

  /** Batch-face guard: the corpus-aggregation/layout nodes run driver
    * jobs or global sorts a streaming frame cannot express — fail with
    * the node's name instead of a bare Spark streaming error. */
  private def batchFace(node: String, op: String,
                        s: MStream): org.apache.spark.sql.DataFrame = {
    require(!s.df.isStreaming,
      s"node '$node': $op is a batch-face operator (corpus-wide " +
        "aggregation/layout) — it cannot lower onto a streaming input")
    s.df
  }

  /** Wrap a pipeline operator's output frame back onto `s`'s stream
    * identity — `MStream.lift`'s rule, shared so it cannot drift. */
  private def rewrap(s: MStream, out: org.apache.spark.sql.DataFrame): MStream =
    s.lift(out)

  /** Resolve an ingest node's static-side input: must be a batch frame
    * (the operators pin/broadcast it; a streaming reference has no stable
    * artifact to pin). */
  private def staticSide(node: String, in: String => MStream,
                         ref: String): org.apache.spark.sql.DataFrame = {
    val s = in(ref)
    require(!s.df.isStreaming,
      s"node '$node': static-side input '$ref' must be a batch source " +
        "(the ingest operators pin a static reference artifact)")
    s.df
  }

  // -------------------------------------------------------------- capture

  /** Copy a node with a new name (for [[Rec.as]]): the same constructor,
    * a new first field. */
  private def withNodeName(n: Node, name: String): Node =
    codecOf(n).build(name +: n.productIterator.drop(1).toSeq)

  /** Order-preserving merge of upstream node lists for a multi-input op:
    * each list is topologically ordered and cross-list references only hit
    * shared (identical) nodes, so first-occurrence dedup keeps every input
    * ahead of its uses. Two DIFFERENT nodes under one name is a build
    * error, not a silent shadow. */
  private def mergeNodes(lists: Seq[Vector[Node]]): Vector[Node] = {
    val out = Vector.newBuilder[Node]
    val seen = scala.collection.mutable.Map.empty[String, Node]
    lists.iterator.flatten.foreach { n =>
      seen.get(n.name) match {
        case None => seen += n.name -> n; out += n
        case Some(prev) => require(prev == n,
          s"capture: two different nodes share the name '${n.name}'")
      }
    }
    out.result()
  }

  /**
   * Recording builder over the MStream surface — the EXPORT dual of
   * [[interpret]] and the missing half of milan's authoring flow: compose
   * the pipeline in Scala, ship the serialized artifact
   * (`graph/StreamCollection.scala:9-31` `build` →
   * `application/ApplicationInstance.scala:27` `toJsonString`). Every
   * operation appends its [[Node]] AND executes it through the same
   * `lowerNode` the import path uses, so the live `stream` and the
   * captured document can never drift: `capture(rec)` → [[toJson]] →
   * [[fromJson]] → [[interpret]] replays the identical dataflow.
   *
   * Expressions are ANSI SQL strings (the document's scalar grammar);
   * join/asof surfaces take `l.` / `r.` side qualifiers exactly like the
   * document nodes they record. Node names auto-derive from the op kind
   * (`where_2`, `join_5`); call [[as]] immediately after an op to give the
   * node a stable name worth binding a sink to.
   */
  final class Rec private[Program] (
      val nodes: Vector[Node], val name: String, val stream: MStream,
      private val ext: Map[String, MStream]) {

    /** Deterministic content-derived auto-name: structurally identical
      * derivations (same op, inputs, parameters) get the SAME name — so
      * independently derived identical branches dedup in mergeNodes —
      * while DIFFERENT nodes built over one shared base get different
      * names instead of colliding positionally (`base.map(a)` and
      * `base.map(b)` must be unionable without manual renames). A rare
      * hash collision with a different node falls to a numeric suffix. */
    private def freshName(op: String, merged: Vector[Node],
                          mk: String => Node): String = {
      val h = Integer.toHexString(scala.util.hashing.MurmurHash3
        .productHash(mk("").asInstanceOf[Product])).take(6)
      val base = s"${op}_$h"
      Iterator.single(base).concat(Iterator.from(2).map(i => s"${base}_$i"))
        .find(nm => merged.find(_.name == nm).forall(_ == mk(nm))).get
    }

    /** Append `node` (built by `mk` from its fresh auto-name), lowering it
      * over this stream (+ `others` for multi-input ops). */
    private def derive(op: String, others: Seq[Rec])(mk: String => Node): Rec = {
      val merged = mergeNodes(this.nodes +: others.map(_.nodes))
      val node = mk(freshName(op, merged, mk))
      val inputs = (this +: others).map(r => r.name -> r.stream).toMap
      val out = lowerNode(node, n => inputs.getOrElse(n,
        throw new IllegalArgumentException(s"capture: unknown input '$n'")))
      // freshName may have landed on an IDENTICAL node already present in
      // the merged lineage — reuse that entry instead of appending a twin
      // (a later .as() would rename only one copy, leaving an unused
      // auto-named duplicate that interpret still lowers on import)
      val all = if (merged.contains(node)) merged else merged :+ node
      new Rec(all, node.name, out.withName(node.name),
        others.foldLeft(ext)(_ ++ _.ext))
    }
    private def derive1(op: String)(mk: String => Node): Rec = derive(op, Nil)(mk)

    /** Rename the node this Rec just defined. The rename must be local:
      * it rejects if any node in this lineage already references the
      * current name as an input (possible when [[derive]] reused an
      * identical existing node instead of appending). */
    def as(newName: String): Rec = {
      if (newName == name) return this
      require(!nodes.exists(_.name == newName),
        s"capture: node name '$newName' is already defined")
      val idx = nodes.lastIndexWhere(_.name == name)
      require(idx >= 0, s"capture: no node named '$name' to rename")
      require(!nodes.exists(n => nodeInputs(n).contains(name)),
        s"capture: cannot rename '$name' — downstream nodes already reference it")
      new Rec(nodes.updated(idx, withNodeName(nodes(idx), newName)), newName,
        stream.withName(newName), ext)
    }

    /** Milan `beginCycle`: open a feedback head. The returned Rec's live
      * stream is PROVISIONAL (the zeroth iterate — just this stream); build
      * the loop body off it, then call [[closeCycle]] on THIS Rec to close
      * the feedback edge — the closed Rec's stream is the true lowering
      * (batch fixpoint / streaming channel union) and from there on the
      * live-stream ≡ captured-document identity holds again. An unclosed
      * cycle head is not executable, exactly like the reference's
      * `CycleStream` before its `closeCycle`. */
    def beginCycle(maxIterations: Int = 50): Rec = {
      def mk(n: String) = BeginCycle(n, name, maxIterations)
      val node = mk(freshName("cycle", nodes, mk))
      new Rec(nodes :+ node, node.name, stream.withName(node.name), ext)
    }

    /** Close the feedback edge opened by [[beginCycle]] (call on the head
      * Rec). The closed stream re-interprets the captured nodes through the
      * SAME cycle lowering the import path uses — batch: driver fixpoint
      * (eager jobs, like the import path); streaming: requires the channel
      * source (`Cycles.feedbackChannel`'s source half) via `channel`. */
    def closeCycle(feedback: Rec, channel: Option[MStream] = None): Rec = {
      val merged = mergeNodes(Seq(this.nodes, feedback.nodes))
      require(merged.exists {
        case b: BeginCycle => b.name == name; case _ => false },
        s"closeCycle must be called on the beginCycle recording " +
          s"('$name' is not a cycle head)")
      val extM = ext ++ feedback.ext
      def mk(n: String) = CloseCycle(n, name, feedback.name)
      val node = mk(freshName("closeCycle", merged, mk))
      val all = merged :+ node
      val resolve: String => MStream = n =>
        if (n == s"__cycle_$name") channel.getOrElse(
          throw new IllegalArgumentException(
            "streaming cycle capture needs the feedback channel source: " +
              "closeCycle(fb, channel = Some(...))"))
        else extM.getOrElse(n, throw new IllegalArgumentException(
          s"capture: unknown external '$n'"))
      val out = interpret(Doc(all, Seq(node.name)))(resolve)(node.name)
      new Rec(all, node.name, out, extM)
    }

    def map(cols: (String, String)*): Rec =
      derive1("map")(n => MapCols(n, name, cols.map { case (e, a) => Field(e, a) }))
    def where(predicate: String): Rec =
      derive1("where")(n => Where(n, name, predicate))
    def addFields(fields: (String, String)*): Rec =
      derive1("addFields")(n => AddTo(n, name, fields.map { case (e, a) => Field(e, a) }))
    def orderedBy(cols: String*): Rec =
      derive1("orderBy")(n => OrderBy(n, name, cols))
    def union(others: Rec*): Rec =
      derive("union", others)(n => Union(n, name +: others.map(_.name)))
    def distinct(): Rec = derive1("distinct")(n => Distinct(n, name))
    def groupSelect(keys: Seq[String], aggs: (String, String)*): Rec =
      derive1("groupSelect")(n =>
        GroupSelect(n, name, keys, aggs.map { case (e, a) => Field(e, a) }))
    def windowSelect(keys: Seq[String], ts: String, size: String,
                     slide: Option[String] = None, offset: String = "0 seconds",
                     windowAs: String = "window_start",
                     aggs: Seq[(String, String)]): Rec =
      derive1("windowSelect")(n => WindowSelect(n, name, keys, ts, size, slide,
        offset, windowAs, aggs.map { case (e, a) => Field(e, a) }))
    def join(kind: String, right: Rec, condition: String,
             select: (String, String)*): Rec =
      derive("join", Seq(right))(n => Join(n, kind, name, right.name, condition,
        select.map { case (e, a) => Field(e, a) }))
    def leftJoin(right: Rec, condition: String, select: (String, String)*): Rec =
      join("left", right, condition, select: _*)
    def fullJoin(right: Rec, condition: String, select: (String, String)*): Rec =
      join("full", right, condition, select: _*)
    /** Full join with lenient residual emission (failing pair keeps the
      * arriving side, other side nulled) instead of the reference-strict
      * default. */
    def fullJoinLenient(right: Rec, condition: String, select: (String, String)*): Rec =
      derive("join", Seq(right))(n => Join(n, "full", name, right.name, condition,
        select.map { case (e, a) => Field(e, a) }, lenientResidual = true))
    def leftInnerJoin(right: Rec, condition: String, select: (String, String)*): Rec =
      join("leftInner", right, condition, select: _*)
    def scan(kind: String, keys: Seq[String], arg: Option[String],
             as: Option[String]): Rec =
      derive1("scan")(n => Scan(n, name, kind, keys, arg, as))
    def sumBy(arg: String, as: String, keys: Seq[String] = Nil): Rec =
      scan("sumBy", keys, Some(arg), Some(as))
    def meanBy(arg: String, as: String, keys: Seq[String] = Nil): Rec =
      scan("meanBy", keys, Some(arg), Some(as))
    def productBy(arg: String, as: String, keys: Seq[String] = Nil): Rec =
      scan("productBy", keys, Some(arg), Some(as))
    def countBy(as: String, keys: Seq[String] = Nil): Rec =
      scan("countBy", keys, None, Some(as))
    def maxBy(arg: String, keys: Seq[String] = Nil): Rec =
      scan("maxBy", keys, Some(arg), None)
    def minBy(arg: String, keys: Seq[String] = Nil): Rec =
      scan("minBy", keys, Some(arg), None)
    def last(keys: Seq[String] = Nil): Rec = scan("last", keys, None, None)
    def dedupBy(cols: Seq[String], withinWatermark: Boolean = false): Rec =
      derive1("dedupBy")(n => DedupBy(n, name, cols, withinWatermark))
    def withWatermark(ts: String, delay: String): Rec =
      derive1("watermark")(n => Watermark(n, name, ts, delay))
    def asofJoin(right: Rec, leftTs: String, rightTs: String,
                 keys: Seq[(String, String)], rightOrder: Seq[String],
                 tolerance: Option[Long] = None, direction: String = "backward",
                 inner: Boolean = false): Rec =
      derive("asof", Seq(right))(n => Asof(n, name, right.name, leftTs, rightTs,
        keys, rightOrder, tolerance, direction, inner))
    def uniqueBy(valueCols: Seq[String], keepLatestBy: Seq[String]): Rec =
      derive1("uniqueBy")(n => UniqueBy(n, name, valueCols, keepLatestBy))
    def toField(fieldName: String): Rec =
      derive1("toField")(n => ToField(n, name, fieldName))
    def sessionSelect(keys: Seq[String], ts: String, gap: String, startAs: String,
                      aggs: (String, String)*): Rec =
      derive1("sessionSelect")(n => SessionSelect(n, name, keys, ts, gap, startAs,
        aggs.map { case (e, a) => Field(e, a) }))
    def recordWindow(keys: Seq[String], n: Int,
                     aggs: (String, String, String)*): Rec =
      derive1("recordWindow")(nm => RecordWindow(nm, name, keys, n, aggs))
    /** Milan `ApplyFunction` in map position: record := function(args). */
    def applyFn(function: String, args: Seq[String], as: String): Rec =
      derive1("applyFn")(n => ApplyFn(n, name, function, args, "map", Some(as)))
    /** Milan `ApplyFunction` in where position: boolean function filters. */
    def whereFn(function: String, args: String*): Rec =
      derive1("whereFn")(n => ApplyFn(n, name, function, args, "where", None))
    /** Milan `ApplyFunction` in addFields position. */
    def addFieldFn(function: String, as: String, args: String*): Rec =
      derive1("addFieldFn")(n => ApplyFn(n, name, function, args, "addField", Some(as)))

    // ----- pipeline ingest-face recordings (format version 2) -----
    /** Cross-corpus near-dup ingest dedup against `ref`'s corpus. */
    def corpusDedup(ref: Rec, idCol: String, textCol: String, k: Int,
                    bands: Int, threshold: Double,
                    broadcastRef: Boolean = true): Rec =
      derive("corpusDedup", Seq(ref))(n => CorpusDedup(n, name, ref.name,
        idCol, textCol, k, bands, threshold, broadcastRef))
    /** Cross-corpus embedding dedup; pass `centroids` for the IVF route. */
    def embedDedup(ref: Rec, idCol: String, vecCol: String, threshold: Double,
                   centroids: Option[Rec] = None, nProbe: Int = 1,
                   broadcastRef: Boolean = true): Rec =
      derive("embedDedup", Seq(ref) ++ centroids)(n => EmbedDedup(n, name,
        ref.name, idCol, vecCol, threshold, centroids.map(_.name), nProbe,
        broadcastRef))
    /** Record the LM node that `spec` declares ([[graft.pipeline.TextOps.lmScore]]):
      * scored against `ref` (the reference Rec and its text column) when
      * given, with per-language models when `byLang` names the (this,
      * reference) language columns. A spec no node carries (explicit
      * modified-KN discounts, `sentenceMode`, a count column other than
      * the nodes' own) is an error here — those stay Scala-face
      * escapes. */
    def lmScore(spec: graft.pipeline.TextOps.LmSpec, idCol: String, textCol: String,
                ref: Option[(Rec, String)] = None,
                byLang: Option[(String, String)] = None): Rec = {
      val proto = lmNodeOf("", name, spec, idCol, textCol,
        ref.map { case (r, rt) => (r.name, rt) }, byLang)
      derive(codecOf(proto).op, ref.map(_._1).toSeq)(withNodeName(proto, _))
    }
    /** Batched BM25 retrieval of this corpus against `queries` (format
      * version 8). */
    def bm25Retrieve(queries: Rec, idCol: String, textCol: String,
                     qIdCol: String, qTextCol: String, k: Int,
                     k1: Double = 1.2, b: Double = 0.75,
                     broadcastQueries: Boolean = true): Rec =
      derive("bm25Retrieve", Seq(queries))(n => Bm25Retrieve(n, name,
        queries.name, idCol, textCol, qIdCol, qTextCol, k, k1, b,
        broadcastQueries))
    /** Hybrid BM25 + ANN retrieval fused by reciprocal rank (format
      * version 10). */
    def hybridRrfRetrieve(queries: Rec, idCol: String, textCol: String,
                          vecCol: String, qIdCol: String, qTextCol: String,
                          qVecCol: String, k: Int, legK: Int = 0,
                          kRrf: Int = 60, k1: Double = 1.2, b: Double = 0.75,
                          broadcastQueries: Boolean = true,
                          ivfCells: Int = 0, ivfIters: Int = 2,
                          nProbe: Int = 0): Rec =
      derive("hybridRrf", Seq(queries))(n => HybridRrf(n, name, queries.name,
        idCol, textCol, vecCol, qIdCol, qTextCol, qVecCol, k, legK, kRrf,
        k1, b, broadcastQueries, ivfCells, ivfIters, nProbe))
    /** Winnowing overlap candidate pairs over this corpus (format
      * version 8). */
    def winnowOverlapPairs(idCol: String, textCol: String, n: Int = 3,
                           w: Int = 4, minShared: Int = 2,
                           maxBucket: Int = 64): Rec =
      derive1("winnowPairs")(nm => WinnowPairs(nm, name, idCol, textCol, n,
        w, minShared, maxBucket))
    /** Sentence-aware chunking (format version 8). */
    def chunkSentences(idCol: String, textCol: String, maxTokens: Long,
                       sep: String = " "): Rec =
      derive1("chunkSentences")(n => SentChunk(n, name, idCol, textCol,
        maxTokens, sep))
    /** Score against a KenLM-format ARPA file (format version 10;
      * `sentence = true` stamps 11). */
    def arpaScoreAgainst(path: String, idCol: String, textCol: String,
                         sentence: Boolean = false): Rec =
      derive1("arpaScore")(n => ArpaScore(n, name, path, idCol, textCol,
        sentence))
    /** Score each document against ITS language's ARPA file under `dir`
      * (format version 11) — the per-language CCNet deployment layout. */
    def arpaScoreAgainstByLang(dir: String, idCol: String, textCol: String,
                               langCol: String): Rec =
      derive1("arpaScoreLang")(n => ArpaScoreLang(n, name, dir, idCol,
        textCol, langCol))
    /** Freeze this frame as a cross-session model artifact and pass it
      * through (format version 10) — WRITES NOW (capture lowers live). */
    def saveArtifact(dir: String, kind: String,
                     overwrite: Boolean = false): Rec =
      derive1("saveArtifact")(n => SaveArtifact(n, name, dir, kind, overwrite))
    /** Maximal exact-substring mining over this corpus (format version 9). */
    def maximalRepeats(idCol: String, textCol: String, minLen: Int,
                       maxExtend: Int, minDocs: Int = 2): Rec =
      derive1("exactSubstr")(n => ExactSubstr(n, name, idCol, textCol,
        minLen, maxExtend, minDocs))
    /** Frozen per-language perplexity-bucket thresholds from this corpus
      * scored against `ref`'s pretrained KN model (format version 9). */
    def perplexityBucketThresholds(ref: Rec, idCol: String, textCol: String,
                                   langCol: String, refTextCol: String,
                                   buckets: Int = 3, order: Int = 3,
                                   discount: Double = 0.75, minCount: Long = 1L,
                                   broadcastModel: Option[Boolean] = None): Rec =
      derive("pplThresholds", Seq(ref))(n => PplThresholds(n, name, ref.name,
        idCol, textCol, langCol, refTextCol, buckets, order, discount,
        minCount, broadcastModel))
    /** Stateless bucket assignment from a `thresholds` artifact (format
      * version 9). */
    def bucketByThresholds(thresholds: Rec, langCol: String,
                           scoreCol: String): Rec =
      derive("bucketApply", Seq(thresholds))(n => BucketApply(n, name,
        thresholds.name, langCol, scoreCol))
    /** Generic per-group equal-depth rank tiling (format version 9). */
    def bucketByRank(groupCol: String, scoreCol: String, tieCol: String,
                     buckets: Int = 3): Rec =
      derive1("rankBuckets")(n => RankBuckets(n, name, groupCol, scoreCol,
        tieCol, buckets))
    /** DSIR importance scoring against `target` and `raw` reference
      * corpora (format version 3). */
    def dsirScore(target: Rec, raw: Rec, idCol: String, textCol: String,
                  refTextCol: String, buckets: Int = 4096,
                  alpha: Double = 1.0): Rec =
      derive("dsirScore", Seq(target, raw))(n => DsirScore(n, name,
        target.name, raw.name, idCol, textCol, refTextCol, buckets, alpha))
    /** Token-frequency annotation against `ref`'s corpus sketch
      * (format version 3). */
    def tokenFreq(ref: Rec, idCol: String, textCol: String,
                  refTextCol: String, depth: Int = 4, width: Int = 2048,
                  rareMax: Long = 2L): Rec =
      derive("tokenFreq", Seq(ref))(n => TokenFreq(n, name, ref.name,
        idCol, textCol, refTextCol, depth, width, rareMax))
    /** Frozen-BPE tokenization with `merges`' artifact (format version 3). */
    /** Unigram-LM tokenization under a trained (piece, cnt) vocabulary
      * (format version 10). */
    def unigramTokenize(vocab: Rec, textCol: String, maxPieceLen: Int = 4,
                        as: String = "pieces"): Rec =
      derive("unigramEncode", Seq(vocab))(n => UnigramEncode(n, name,
        vocab.name, textCol, maxPieceLen, as))
    /** Unigram-LM tokenization straight to vocabulary ids (format
      * version 10). */
    def unigramEncodeIds(vocab: Rec, textCol: String, maxPieceLen: Int = 4,
                         oovId: Long = -1L, as: String = "ids"): Rec =
      derive("unigramIds", Seq(vocab))(n => UnigramIds(n, name,
        vocab.name, textCol, maxPieceLen, oovId, as))
    /** WordPiece tokenization to pieces under a (wp_id, piece)
      * vocabulary (format version 12). */
    def wpTokenize(vocab: Rec, textCol: String, unk: String = "[UNK]",
                   maxInputChars: Int = 100, as: String = "pieces"): Rec =
      derive("wpTokenize", Seq(vocab))(n => WpTokenize(n, name,
        vocab.name, textCol, unk, maxInputChars, as))
    /** Per-document WordPiece token count + sequence hash (format
      * version 12). */
    def wpEncode(vocab: Rec, idCol: String, textCol: String,
                 unk: String = "[UNK]", maxInputChars: Int = 100): Rec =
      derive("wpEncode", Seq(vocab))(n => WpEncode(n, name,
        vocab.name, idCol, textCol, unk, maxInputChars))
    /** WordPiece tokenization straight to wp_id ids (format version
      * 12). */
    def wpEncodeIds(vocab: Rec, textCol: String, unk: String = "[UNK]",
                    maxInputChars: Int = 100, oovId: Long = -1L,
                    as: String = "ids"): Rec =
      derive("wpIds", Seq(vocab))(n => WpIds(n, name,
        vocab.name, textCol, unk, maxInputChars, oovId, as))
    /** Byte-level BPE per-document count + hash (format version 12). */
    def byteBpeEncode(merges: Rec, idCol: String, textCol: String): Rec =
      derive("byteBpeEncode", Seq(merges))(n => ByteBpeEncode(n, name,
        merges.name, idCol, textCol))
    /** Byte-level BPE tokenization to merge-table ids (format version
      * 12). */
    def byteBpeEncodeIds(merges: Rec, textCol: String, oovId: Long = -1L,
                         as: String = "ids"): Rec =
      derive("byteBpeIds", Seq(merges))(n => ByteBpeIds(n, name,
        merges.name, textCol, oovId, as))
    /** Byte-level BPE tokenization to a foreign vocab.json's own ids
      * (format version 12). */
    def byteBpeEncodeIdsVocab(merges: Rec, vocab: Rec, textCol: String,
                              oovId: Long = -1L, as: String = "ids"): Rec =
      derive("byteBpeIdsVocab", Seq(merges, vocab))(n => ByteBpeIdsVocab(
        n, name, merges.name, vocab.name, textCol, oovId, as))
    /** Per-language BPE tokenization — each document under ITS
      * language's one-pass-trained merge table (format version 12). */
    def bpeLangEncode(merges: Rec, idCol: String, langCol: String,
                      textCol: String): Rec =
      derive("bpeLangEncode", Seq(merges))(n => BpeLangEncode(n, name,
        merges.name, idCol, langCol, textCol))
    def bpeEncode(merges: Rec, idCol: String, textCol: String): Rec =
      derive("bpeEncode", Seq(merges))(n => BpeEncode(n, name, merges.name,
        idCol, textCol))
    /** BPE tokenization straight to merge-table-derived ids (format
      * version 11). */
    def bpeEncodeIds(merges: Rec, textCol: String, oovId: Long = -1L,
                     as: String = "ids"): Rec =
      derive("bpeIds", Seq(merges))(n => BpeIds(n, name, merges.name,
        textCol, oovId, as))
    /** Unigram tokenization under a FOREIGN SentencePiece .vocab file
      * (format version 11). */
    def spTokenize(path: String, textCol: String,
                   as: String = "pieces"): Rec =
      derive1("spTokenize")(n => SpTokenize(n, name, path, textCol, as))
    /** Unigram tokenization to the foreign vocab file's line-number ids
      * (format version 11). */
    def spEncodeIds(path: String, textCol: String, oovId: Long = -1L,
                    as: String = "ids"): Rec =
      derive1("spIds")(n => SpIds(n, name, path, textCol, oovId, as))
    /** Fixed-vocabulary token encoding at ingest. */
    def encodeIngest(vocab: Rec, idCol: String, textCol: String,
                     oovId: Long = -1L): Rec =
      derive("encodeIngest", Seq(vocab))(n => EncodeIngest(n, name, vocab.name,
        idCol, textCol, oovId))
    /** Benchmark-overlap decontamination at ingest. */
    def decontaminateIngest(bench: Rec, idCol: String, textCol: String,
                            benchTextCol: String, n: Int = 8,
                            minOverlap: Int = 1): Rec =
      derive("decontaminateIngest", Seq(bench))(nm => DecontamIngest(nm, name,
        bench.name, idCol, textCol, benchTextCol, n, minOverlap))
    /** Exact (Bloom-pre-screened) cross-corpus dedup against `ref`
      * (format version 4). */
    def exactDedup(ref: Rec, idCol: String, textCol: String,
                   numBits: Int = 1 << 20, numHashes: Int = 7,
                   broadcastRef: Boolean = true): Rec =
      derive("exactDedup", Seq(ref))(n => ExactDedup(n, name, ref.name,
        idCol, textCol, numBits, numHashes, broadcastRef))
    /** Naive Bayes classification against `ref`'s labeled corpus
      * (format version 4). */
    def nbClassify(ref: Rec, idCol: String, textCol: String,
                   refTextCol: String, refLabelCol: String,
                   alpha: Double = 1.0): Rec =
      derive("nbClassify", Seq(ref))(n => NbClassify(n, name, ref.name,
        idCol, textCol, refTextCol, refLabelCol, alpha))
    /** Gopher quality-rule gate (format version 4). */
    def gopherGate(idCol: String, textCol: String, minWords: Int = 50,
                   maxWords: Int = 100000): Rec =
      derive1("gopherGate")(n => GopherGate(n, name, idCol, textCol,
        minWords, maxWords))
    /** IVF ANN probe of `corpus` (indexed by `centroids`) at ingest. */
    def ivfProbe(corpus: Rec, centroids: Rec, idCol: String, vecCol: String,
                 qIdCol: String, topK: Int, nProbe: Int,
                 broadcastCorpus: Boolean = true): Rec =
      derive("ivfProbe", Seq(corpus, centroids))(n => IvfProbe(n, name,
        corpus.name, centroids.name, idCol, vecCol, qIdCol, topK, nProbe,
        broadcastCorpus))
    /** Deterministic hash-gated sampling (format version 5). */
    def hashSample(keyCol: String, rate: Double, salt: String = ""): Rec =
      derive1("hashSample")(n => HashSample(n, name, keyCol, rate, salt))
    /** Per-stratum rates; absent strata fall to `defaultRate`. */
    def stratifiedSample(keyCol: String, strataCol: String,
                         rates: Map[String, Double], defaultRate: Double = 0.0,
                         salt: String = ""): Rec =
      derive1("stratifiedSample")(n => StratifiedSample(n, name, keyCol,
        strataCol, rates, defaultRate, salt))
    /** Deterministic split labeling; `splits` sum to 1. */
    def assignSplit(keyCol: String, splits: Seq[(String, Double)],
                    as: String = "split", salt: String = ""): Rec =
      derive1("assignSplit")(n => AssignSplit(n, name, keyCol, splits, as, salt))
    /** Epoch-style up/down-sampling; adds the `epoch` copy index. */
    def weightedMix(keyCol: String, strataCol: String,
                    weights: Map[String, Double], defaultWeight: Double = 0.0,
                    salt: String = ""): Rec =
      derive1("weightedMix")(n => WeightedMix(n, name, keyCol, strataCol,
        weights, defaultWeight, salt))
    /** Per-stratum quota cap (batch face). */
    def capPerKey(strataCol: String, keyCol: String, cap: Int,
                  salt: String = ""): Rec =
      derive1("capPerKey")(n => CapPerKey(n, name, strataCol, keyCol, cap, salt))
    /** Global exact-k deterministic sample (bounded-heap lowering). */
    def exactKSample(idCol: String, k: Int, salt: String = ""): Rec =
      derive1("exactK")(n => ExactKSample(n, name, idCol, k, salt))
    /** Per-stratum exact-k (bounded-heap lowering; unique integral ids). */
    def exactKPerKey(strataCol: String, idCol: String, k: Int,
                     salt: String = ""): Rec =
      derive1("exactKStrata")(n => ExactKStrata(n, name, strataCol, idCol, k, salt))
    /** Per-stratum token-budget prefix fill (batch face). */
    def capTokens(strataCol: String, keyCol: String, tokensCol: String,
                  budget: Long, salt: String = ""): Rec =
      derive1("capTokens")(n => CapTokens(n, name, strataCol, keyCol,
        tokensCol, budget, salt))
    /** Temperature rebalancing (batch face; build-time eager counts). */
    def temperatureMix(keyCol: String, strataCol: String, alpha: Double,
                       budgetRows: Long, salt: String = ""): Rec =
      derive1("temperatureMix")(n => TemperatureMix(n, name, keyCol, strataCol,
        alpha, budgetRows, salt))
    /** Leakage-safe split keyed on `pairs`' near-dup clusters. */
    def safeSplit(pairs: Rec, idCol: String, aCol: String, bCol: String,
                  splits: Seq[(String, Double)], as: String = "split",
                  salt: String = ""): Rec =
      derive("safeSplit", Seq(pairs))(n => SafeSplit(n, name, pairs.name,
        idCol, aCol, bCol, splits, as, salt))

    // ----- corpus-curation recordings (format version 6) -----
    /** Within-corpus near-dup dedup; BUILD-TIME EAGER (CC fixpoint runs
      * at capture, like the import path). */
    def dedupCorpus(idCol: String, textCol: String, k: Int, bands: Int,
                    threshold: Double): Rec =
      derive1("dedupCorpus")(n => DedupCorpus(n, name, idCol, textCol,
        k, bands, threshold))
    /** Keep-best corpus dedup: each cluster survives through its
      * `score`-maximizing member (ties → lower id). BUILD-TIME EAGER. */
    def dedupCorpusBest(idCol: String, textCol: String, k: Int, bands: Int,
                        threshold: Double, score: String): Rec =
      derive1("dedupCorpusBest")(n => DedupCorpusBest(n, name, idCol, textCol,
        k, bands, threshold, score))
    /** SemDeDup within-corpus embedding dedup; `centroids` names the
      * codebook input. BUILD-TIME EAGER. */
    def semanticDedup(centroids: Rec, idCol: String, vecCol: String,
                      threshold: Double): Rec =
      derive("semanticDedup", Seq(centroids))(n => SemanticDedup(n, name,
        centroids.name, idCol, vecCol, threshold))
    /** Keep-best SemDeDup: survivors maximize the SQL `score`. */
    def semanticDedupBest(centroids: Rec, idCol: String, vecCol: String,
                          threshold: Double, score: String): Rec =
      derive("semanticDedupBest", Seq(centroids))(n => SemanticDedupBest(n,
        name, centroids.name, idCol, vecCol, threshold, score))
    /** Duplicate-line scrub (the C4 rule). */
    def lineScrub(idCol: String, textCol: String, minWords: Int = 3): Rec =
      derive1("lineScrub")(n => LineScrub(n, name, idCol, textCol, minWords))
    /** Duplicate-paragraph scrub (the C4 rule one granularity up,
      * format version 10). */
    def paraScrub(idCol: String, textCol: String, minWords: Int = 3): Rec =
      derive1("paraScrub")(n => ParaScrub(n, name, idCol, textCol, minWords))
    /** Repeated-span scrub (Lee et al.); BUILD-TIME EAGER. */
    def spanScrub(idCol: String, textCol: String, k: Int, minDocs: Int,
                  keepCanonical: Boolean = false): Rec =
      derive1("spanScrub")(n => SpanScrub(n, name, idCol, textCol, k,
        minDocs, keepCanonical))
    /** Quality-feature annotation. */
    def qualityAnnotate(textCol: String): Rec =
      derive1("quality")(n => QualityAnnotate(n, name, textCol))
    /** PII annotation + masked text. */
    def piiScrub(textCol: String): Rec =
      derive1("piiScrub")(n => PiiScrub(n, name, textCol))
    /** Marker-word language-ID annotation. */
    def langId(textCol: String, as: String = "lang"): Rec =
      derive1("langId")(n => LangId(n, name, textCol, as))
    /** Sliding token-window chunking. */
    def chunkTokens(idCol: String, textCol: String, chunkSize: Int,
                    stride: Int): Rec =
      derive1("chunkTokens")(n => ChunkTokens(n, name, idCol, textCol,
        chunkSize, stride))
    /** Greedy token-budget packing per `partCol`. */
    def packChunks(idCol: String, textCol: String, partCol: String,
                   budget: Long): Rec =
      derive1("packChunks")(n => PackChunks(n, name, idCol, textCol,
        partCol, budget))
    /** Winnowing fingerprints. */
    def winnow(idCol: String, textCol: String, n: Int = 3, w: Int = 4): Rec =
      derive1("winnow")(nm => Winnow(nm, name, idCol, textCol, n, w))
    /** Repetition-feature annotation. */
    def repetition(idCol: String, textCol: String): Rec =
      derive1("repetition")(n => Repetition(n, name, idCol, textCol))
    /** CCNet unicode-normalization annotation. */
    def normalize(textCol: String, as: String = "norm_text"): Rec =
      derive1("normalize")(n => Normalize(n, name, textCol, as))
    /** Markup-strip + URL-host annotation. */
    def stripMarkup(textCol: String, as: String = "clean_text",
                    domainsAs: String = "domains"): Rec =
      derive1("stripMarkup")(n => StripMarkup(n, name, textCol, as, domainsAs))
    /** Johnson–Lindenstrauss projection to `outDim` dims. */
    def jlProject(vecCol: String, outDim: Int, seed: Int = 0,
                  as: String = "projected"): Rec =
      derive1("jlProject")(n => JlProjection(n, name, vecCol, outDim, seed, as))
    /** Bounded-heap top-k per group by a SQL `score` expression. */
    def topKPerKey(keys: Seq[String], idCol: String, score: String, k: Int,
                   scoreAs: String = "score"): Rec =
      derive1("topkPerKey")(n => TopKPerKey(n, name, keys, idCol, score, k, scoreAs))
    /** SQ8 encode at ingest with `stats`' pinned (dim, lo, hi) artifact. */
    def sq8Encode(stats: Rec, vecCol: String, as: String = "codes"): Rec =
      derive("sq8Encode", Seq(stats))(n => Sq8Ingest(n, name, stats.name,
        vecCol, as))
    /** Z-order clustering for scan pruning (batch face). */
    def zorderBy(cols: Seq[String], numFiles: Int, bits: Int = 12): Rec =
      derive1("zorder")(n => ZOrder(n, name, cols, numFiles, bits))
  }

  object Rec {
    /** Start a recording pipeline from a named external input and the live
      * stream it resolves to (a config-bound source or any MStream). */
    def external(name: String, stream: MStream): Rec =
      new Rec(Vector(External(name)), name, stream.withName(name),
        Map(name -> stream))

    /** Start a recording pipeline from a saved model artifact (format
      * version 10) — the load half of the cross-session pair; reads the
      * manifest now (capture lowers live, like every derive). */
    def loadArtifact(spark: org.apache.spark.sql.SparkSession, dir: String,
                     kind: Option[String] = None, table: String = "table",
                     as: String = "artifact"): Rec = {
      val node = LoadArtifact(as, dir, kind, table)
      new Rec(Vector(node), as,
        MStream(Artifacts.load(spark, dir, kind).tables(table)).withName(as),
        Map.empty)
    }
  }

  /** Assemble the document for one or more recorded outputs — the capture
    * dual of [[interpret]]: shared upstream nodes dedup, outputs bind by
    * their node names. The result validates like an imported document. */
  def capture(outs: Rec*): Doc = {
    require(outs.nonEmpty, "capture needs at least one output")
    val doc = Doc(mergeNodes(outs.map(_.nodes)), outs.map(_.name).distinct)
    validate(doc)
    doc
  }

  // ---------------------------------------------------------------- codec

  /** Highest document format version this library reads and writes. Bump
    * when the node grammar changes incompatibly; [[fromJson]] rejects
    * documents from a NEWER format with a clear error instead of
    * misinterpreting them — the ship-JSON twin of the streaming
    * state-format tag (a document is a long-lived artifact; the library
    * reading it may be older than the one that wrote it). Documents with
    * no `version` field (pre-tag artifacts) read as version 1 for the
    * newer-than-me check, but version-gated GRAMMAR rules treat an
    * absent stamp as CURRENT: an unversioned hand-written artifact gets
    * the newest (strictest) diagnostics — e.g. a partial lm3Score lambda
    * spec that a lenient v7 reader accepted fails at load under the v8
    * all-or-none rule — and only an EXPLICIT old stamp opts into a
    * shipped round's lenient semantics.
    *
    * Version history: 1 = the original 21-node §2 grammar; 2 adds the six
    * pipeline ingest-face nodes (corpusDedup, embedDedup, lmScore,
    * encodeIngest, decontaminateIngest, ivfProbe); 3 adds dsirScore,
    * tokenFreq and bpeEncode; 4 adds exactDedup, gopherGate and
    * nbClassify; 5 adds the eight sampling/training-mix nodes; 6 adds
    * the nineteen corpus-curation nodes (dedupCorpus, dedupCorpusBest,
    * semanticDedup, semanticDedupBest,
    * lineScrub, spanScrub, quality, piiScrub, langId, chunkTokens,
    * packChunks, winnow, repetition, normalize, stripMarkup, jlProject,
    * topkPerKey, sq8Encode, zorder); 7 adds lm3Score (the interpolated
    * trigram-LM quality score); 8 adds the order-n LM family (lm3Against,
    * lmnScore, lmnAgainst) and the retrieval/clone-pair nodes
    * (bm25Retrieve, winnowPairs) plus the
    * Kneser-Ney pair (knScore, knAgainst) and sentence-aware chunking
    * (chunkSentences/SentChunk); 9 adds modified Kneser-Ney (mknScore,
    * mknAgainst), maximal exact-substring mining (exactSubstr), the
    * frozen-thresholds bucketing pair (pplThresholds, bucketApply), generic
    * rank tiling (rankBuckets), per-language KN reference models
    * (knAgainstLang, mknAgainstLang), and
    * the AUTO broadcast lever — an against-face node whose
    * `broadcastModel` is ABSENT now means "decide per model pin from
    * measured size" and stamps v9 (a v8 reader would misread the absent
    * field as its old `true` default, so the stamp forces the refusal);
    * an explicit true/false keeps the v8 stamp and the v8 meaning;
    * 10 adds the per-language Jelinek-Mercer face (lmAgainstLang) —
    * completing the smoothing × per-language matrix — the
    * paragraph-granularity duplicate scrub (paraScrub), hybrid BM25+ANN
    * retrieval fused by reciprocal rank (hybridRrf), scoring against a
    * KenLM-format ARPA artifact file (arpaScore), the cross-session
    * model-artifact pair (saveArtifact/loadArtifact), and unigram-LM
    * tokenization to pieces and to vocabulary ids
    * (unigramEncode/unigramIds);
    * 11 adds per-language ARPA-directory scoring (arpaScoreLang — the
    * consume half of the CCNet per-language artifact layout), the
    * sentence-boundary opt-in on arpaScore (`sentence: true` stamps v11;
    * the default keeps the v10 stamp and meaning), IVF routing on
    * hybridRrf (`ivfCells`/`nProbe` set stamp v11), BPE tokenization to
    * ids (bpeIds), and the SentencePiece .vocab interop pair
    * (spTokenize/spIds);
    * 12 adds the WordPiece tokenizer family — greedy longest-match
    * pieces, the per-document count+hash face, and wp_id ids
    * (wpTokenize/wpEncode/wpIds) — completing the big-three production
    * tokenizer matrix (BPE, unigram, WordPiece) — and byte-level BPE,
    * the GPT-2 tokenizer proper (byteBpeEncode/byteBpeIds/
    * byteBpeIdsVocab), and per-language BPE tokenization under
    * one-pass-trained per-language merge tables (bpeLangEncode).
    * [[toJson]] stamps each document with the LOWEST version that can
    * express it, so a document using only the v1 grammar stays loadable
    * by a v1 library. Versions track SHIPPED grammars (one per build
    * round), not individual commits — every v6 node landed in the same
    * round, so no v6-stamped artifact can predate any v6 op. */
  val FormatVersion: Int = 12

  /** The format version that introduced each document op (the version
    * history above, as data). */
  private val OpSince: Map[String, Int] = Seq(
    1 -> "external map where addFields orderBy union distinct groupSelect windowSelect join",
    1 -> "scan dedupBy watermark asof uniqueBy toField sessionSelect recordWindow applyFn",
    1 -> "beginCycle closeCycle",
    2 -> "corpusDedup embedDedup lmScore encodeIngest decontaminateIngest ivfProbe",
    3 -> "dsirScore tokenFreq bpeEncode",
    4 -> "exactDedup gopherGate nbClassify",
    5 -> "hashSample stratifiedSample assignSplit weightedMix capPerKey capTokens",
    5 -> "temperatureMix safeSplit",
    6 -> "dedupCorpus dedupCorpusBest semanticDedup semanticDedupBest lineScrub spanScrub",
    6 -> "quality piiScrub langId chunkTokens packChunks winnow repetition normalize",
    6 -> "stripMarkup jlProject topkPerKey sq8Encode zorder exactK exactKStrata",
    7 -> "lm3Score",
    8 -> "lm3Against lmnScore lmnAgainst bm25Retrieve winnowPairs knScore knAgainst",
    8 -> "chunkSentences",
    9 -> "mknScore mknAgainst exactSubstr pplThresholds bucketApply rankBuckets",
    9 -> "knAgainstLang mknAgainstLang",
    10 -> "lmAgainstLang paraScrub hybridRrf arpaScore saveArtifact loadArtifact",
    10 -> "unigramEncode unigramIds",
    11 -> "arpaScoreLang bpeIds spTokenize spIds",
    12 -> "wpTokenize wpEncode wpIds byteBpeEncode byteBpeIds byteBpeIdsVocab bpeLangEncode"
  ).flatMap { case (v, ops) => ops.split(' ').map(_ -> v) }.toMap

  /** Document op names that are not the node class name with its first
    * letter lower-cased. */
  private val OpAlias: Map[String, String] = Map("MapCols" -> "map", "AddTo" -> "addFields",
    "DecontamIngest" -> "decontaminateIngest", "ExactKSample" -> "exactK", "ZOrder" -> "zorder",
    "QualityAnnotate" -> "quality", "JlProjection" -> "jlProject", "TopKPerKey" -> "topkPerKey",
    "Sq8Ingest" -> "sq8Encode", "LmNScore" -> "lmnScore", "LmNAgainst" -> "lmnAgainst",
    "SentChunk" -> "chunkSentences")

  /** A tuple-valued field writes each tuple as an object with these keys. */
  private val TupleKeys: Map[String, Seq[String]] = Map(
    "keys" -> Seq("l", "r"), "aggs" -> Seq("kind", "in", "as"),
    "splits" -> Seq("name", "fraction"))

  /** The fields that name another node — a node's dataflow edges. */
  private val EdgeFields: Set[String] = Set("input", "inputs", "left",
    "right", "ref", "queries", "target", "raw", "merges", "vocab", "bench",
    "corpus", "centroids", "pairs", "stats", "thresholds", "feedback")

  /** Parameter groups a document gives all or none of: defaulting the
    * absent ones independently would turn a hand-written partial artifact
    * (say l3=1.0 alone) into weights summing past 1 that only fail later
    * in validate, blaming values the author never wrote — the partial
    * spec fails at load with the real cause instead. */
  private val AllOrNone: Seq[(String, Seq[String])] = Seq(
    "lambdas" -> Seq("l3", "l2", "l1"),
    "fallback discounts" -> Seq("fb1", "fb2", "fb3"))

  /** A bound one document field must meet at load: its wording, whether it
    * reads a value of a type, and why a value breaks it (None when the
    * value meets it, "" when the bound says it all). A scalar rule sees
    * every scalar inside the field (an Option's value, each Seq element,
    * each Map value); [[NonEmpty]] sees the collection itself. */
  private[graft] final case class Rule(bound: String)(val reads: ru.Type => Boolean,
                                                      val fault: Any => Option[String])
  private def num(bound: String)(out: Double => Boolean): Rule = Rule(bound)(
    t => Seq(ru.typeOf[Int], ru.typeOf[Long], ru.typeOf[Double]).exists(t =:= _),
    x => Option.when(out(x.asInstanceOf[Number].doubleValue))(""))
  private def text(bound: String)(why: String => Option[String]): Rule =
    Rule(bound)(_ =:= ru.typeOf[String], x => why(x.asInstanceOf[String]))
  private[graft] val Positive: Rule = num("> 0")(_ <= 0)
  private[graft] def AtLeast(n: Int): Rule = num(s">= $n")(_ < n)
  private[graft] def InRange(lo: Int, hi: Int): Rule = num(s"in [$lo,$hi]")(d => d < lo || d > hi)
  private[graft] val UnitInterval: Rule = num("in (0,1]")(d => d <= 0 || d > 1)
  private[graft] val Closed01: Rule = num("in [0,1]")(d => d < 0 || d > 1)
  private[graft] val NonBlank: Rule = text("non-blank")(s => Option.when(s.trim.isEmpty)(""))
  private[graft] def OneOf(xs: String*): Rule =
    text(xs.mkString("one of ", "|", ""))(s => Option.when(!xs.contains(s))(""))
  private[graft] val SqlExpr: Rule = text("a SQL expression")(s =>
    try { CatalystSqlParser.parseExpression(s); None }
    catch { case e: Exception => Some(s": ${e.getMessage}") })
  private[graft] val NonEmpty: Rule = Rule("non-empty")(_ <:< ru.typeOf[Iterable[Any]],
    x => Option.when(x.asInstanceOf[Iterable[_]].isEmpty)(""))

  /** The field bounds, as data: each rule and the `op.field` references it
    * applies to (`op.field.key` for one key of a tuple-valued field). The
    * `expr` of every [[Field]]-typed value is parsed without a row. Bounds
    * that span fields or nodes are code, in [[validate]]. */
  private[graft] val FieldRules: Seq[(Rule, String)] = Seq(
    Positive -> "beginCycle.maxIterations recordWindow.n bm25Retrieve.k hybridRrf.k hybridRrf.kRrf",
    Positive -> "chunkSentences.maxTokens dsirScore.alpha dsirScore.buckets nbClassify.alpha",
    Positive -> "ivfProbe.topK ivfProbe.nProbe capPerKey.n exactK.k exactKStrata.k",
    Positive -> "capTokens.budget temperatureMix.budgetRows packChunks.budget topkPerKey.k",
    Positive -> "chunkTokens.chunkSize chunkTokens.stride corpusDedup.bands dedupCorpus.bands",
    Positive -> "dedupCorpusBest.bands",
    AtLeast(0) -> "hybridRrf.legK hybridRrf.ivfCells hybridRrf.nProbe tokenFreq.rareMax",
    AtLeast(0) -> "weightedMix.weights weightedMix.defaultWeight jlProject.seed",
    AtLeast(1) -> "hybridRrf.ivfIters winnowPairs.n winnowPairs.w winnowPairs.minShared",
    AtLeast(1) -> "exactSubstr.maxExtend tokenFreq.depth decontaminateIngest.n",
    AtLeast(1) -> "decontaminateIngest.minOverlap gopherGate.minWords lineScrub.minWords",
    AtLeast(1) -> "paraScrub.minWords winnow.n winnow.w zorder.numFiles wpTokenize.maxInputChars",
    AtLeast(1) -> "wpEncode.maxInputChars wpIds.maxInputChars",
    AtLeast(2) -> "winnowPairs.maxBucket exactSubstr.minLen exactSubstr.minDocs tokenFreq.width",
    AtLeast(2) -> "pplThresholds.buckets rankBuckets.buckets spanScrub.k spanScrub.minDocs",
    InRange(1, 16) -> "unigramEncode.maxPieceLen unigramIds.maxPieceLen",
    InRange(1, 32) -> "exactDedup.numHashes",
    InRange(1, 4096) -> "jlProject.outDim",
    UnitInterval -> "corpusDedup.threshold dedupCorpus.threshold dedupCorpusBest.threshold",
    UnitInterval -> "semanticDedup.threshold semanticDedupBest.threshold temperatureMix.alpha",
    Closed01 -> "hashSample.rate stratifiedSample.rates stratifiedSample.defaultRate",
    NonEmpty -> "map.cols orderBy.cols union.inputs groupSelect.aggs windowSelect.aggs",
    NonEmpty -> "uniqueBy.valueCols uniqueBy.keepLatestBy sessionSelect.aggs recordWindow.aggs",
    NonEmpty -> "assignSplit.splits safeSplit.splits topkPerKey.keys zorder.cols",
    NonBlank -> "arpaScore.path arpaScoreLang.dir spTokenize.path spIds.path saveArtifact.dir",
    NonBlank -> "saveArtifact.kind loadArtifact.dir loadArtifact.table",
    OneOf("sumBy", "meanBy", "productBy", "countBy", "maxBy", "minBy", "last") -> "scan.kind",
    OneOf("sumBy", "meanBy", "productBy", "countBy") -> "recordWindow.aggs.kind",
    OneOf("backward", "forward") -> "asof.direction",
    OneOf("map", "where", "addField") -> "applyFn.kind",
    SqlExpr -> "where.predicate windowSelect.ts join.condition scan.arg sessionSelect.ts",
    SqlExpr -> "applyFn.args dedupCorpusBest.score semanticDedupBest.score topkPerKey.score")

  /** Fields left out of a document while they hold their default, so a
    * document that does not use them keeps the bytes and the version
    * stamp of the grammar that predates them. */
  private def elided(n: Node, field: String): Boolean = (n, field) match {
    case (j: Join, "lenientResidual") => !j.lenientResidual
    // ivfIters only matters on the IVF route, so it rides with ivfCells
    case (h: HybridRrf, "ivfCells" | "ivfIters") => h.ivfCells == 0
    case (h: HybridRrf, "nProbe") => h.nProbe == 0
    case (a: ArpaScore, "sentence") => !a.sentence
    case (s: SaveArtifact, "overwrite") => !s.overwrite
    case _ => false
  }

  /** The value an ABSENT field takes when it depends on the document's
    * format version. The broadcast lever: absent means AUTO under the v9
    * grammar but the explicit-true default under v8 and earlier — old
    * artifacts keep their shipped semantics, unversioned ones get the
    * current (auto) behavior. */
  private def versionedDefault(field: String, effVer: Int): Option[Any] =
    if (field == "broadcastModel" && effVer < 9) Some(Some(true)) else None

  private implicit val jsonFormats: Formats = DefaultFormats
  private lazy val mirror = ru.runtimeMirror(getClass.getClassLoader)

  /** One document field: its key (the constructor parameter name), its
    * type and decoder, and the value it takes when absent (the case-class
    * default, else None for an Option and Nil for a Seq; a required field
    * has none). */
  private final case class CodecField(name: String, tpe: ru.Type, decode: JValue => Any,
                                      absent: Option[Any])

  /** A [[FieldRules]] reference bound to a node: the rule, the field's
    * position, its label in the rejection, and the tuple key it reads. */
  private final case class FieldCheck(rule: Rule, field: Int, label: String, key: Option[Int]) {
    /** How node `n`'s field breaks the rule, if it does. */
    def fault(n: Node): Option[String] = {
      def scalars(v: Any): Seq[Any] = v match {
        case o: Option[_] => o.toSeq.flatMap(scalars)
        case m: Map[_, _] => m.values.toSeq.flatMap(scalars)
        case s: Seq[_] => s.flatMap(scalars)
        case x => Seq(key.fold(x)(x.asInstanceOf[Product].productElement(_)))
      }
      val v = n.productElement(field)
      (if (rule == NonEmpty) Seq(v) else scalars(v)).iterator.flatMap(x => rule.fault(x).map(
        why => s"needs $label ${rule.bound}, got ${show(x)}$why")).nextOption()
    }
    private def show(x: Any): String = x match {
      case s: String => s"'$s'"
      case xs: Iterable[_] => xs.mkString("[", ", ", "]")
      case x => x.toString
    }
  }
  /** The type of the scalars inside a field of type `t`. */
  private def scalarType(t: ru.Type): ru.Type =
    if (t <:< ru.typeOf[Option[Any]] || t <:< ru.typeOf[Seq[Any]])
      scalarType(t.typeArgs.head.dealias)
    else if (t <:< ru.typeOf[Map[String, Any]]) scalarType(t.typeArgs(1).dealias)
    else t

  /** One row of the codec table: a node class, its document op, the format
    * version that introduced the op, its constructor fields, whose names
    * are the document keys in document order, and its field bounds from
    * `rules` ((op, rule, field reference) triples). */
  private final class NodeCodec(sym: ru.ClassSymbol, rules: Seq[(String, Rule, String)]) {
    val cls: Class[_] = mirror.runtimeClass(sym)
    val op: String = OpAlias.getOrElse(sym.name.toString,
      sym.name.toString.head.toLower +: sym.name.toString.tail)
    val since: Int = OpSince.getOrElse(op, throw new IllegalStateException(
      s"program op '$op' has no format version in Program.OpSince"))
    private val ctor = cls.getConstructors.head
    private def field(k: String): CodecField = fields.find(_.name == k).get
    val fields: Seq[CodecField] = {
      lazy val companion = mirror.reflectModule(sym.companion.asModule).instance
      sym.primaryConstructor.asMethod.paramLists.head.zipWithIndex.map { case (p, i) =>
        val t = p.typeSignature.dealias
        val default =
          if (p.asTerm.isParamWithDefault) Some(companion.getClass
            .getMethod("$lessinit$greater$default$" + (i + 1)).invoke(companion))
          else if (t <:< ru.typeOf[Option[Any]]) Some(None)
          else if (t <:< ru.typeOf[Seq[Any]]) Some(Nil)
          else None
        CodecField(p.name.toString, t, decoder(t, p.name.toString), default)
      }
    }

    /** This op's rule rows bound to its fields, then the SQL parse of every
      * [[Field]]'s `expr`. A reference to a missing field or key, or to a
      * type its rule cannot read, fails the codec table's build. */
    val checks: Seq[FieldCheck] = rules.collect { case (`op`, rule, ref) =>
      def bad(why: String) = throw new IllegalStateException(
        s"Program.FieldRules: '${rule.bound}' on $op.$ref: $why")
      val (name, key) = ref.span(_ != '.')
      val i = fields.indexWhere(_.name == name)
      if (i < 0) bad(s"$op has no field '$name'")
      val t = if (rule == NonEmpty) fields(i).tpe else scalarType(fields(i).tpe)
      val j = if (key.isEmpty) -1 else TupleKeys.getOrElse(name, Nil).indexOf(key.tail)
      if (key.nonEmpty && j < 0) bad(s"'$name' has no tuple key '${key.tail}'")
      val read = if (j < 0) t else t.typeArgs(j)
      if (!rule.reads(read)) bad(s"the rule cannot read $read")
      FieldCheck(rule, i, ref, Option.when(j >= 0)(j))
    } ++ fields.zipWithIndex.collect { case (f, i) if scalarType(f.tpe) =:= ru.typeOf[Field] =>
      FieldCheck(SqlExpr, i, s"${f.name}.expr", Some(0))
    }

    def build(args: Seq[Any]): Node =
      try ctor.newInstance(args.map(_.asInstanceOf[AnyRef]): _*).asInstanceOf[Node]
      catch { case e: java.lang.reflect.InvocationTargetException => throw e.getCause }

    def encode(n: Node): JValue = JObject(("op" -> JString(op)) ::
      n.productElementNames.zip(n.productIterator).map { case (k, x) =>
        k -> (if (elided(n, k)) JNothing else encodeValue(x, k))
      }.toList)

    def decode(v: JValue, name: String, effVer: Int): Node = {
      // lm3Score documents stamped v7 or earlier keep round 13's
      // independent lambda defaults (a shipped v7 artifact that loaded then
      // must keep loading — the FormatVersion promise)
      if (!(op == "lm3Score" && effVer <= 7)) AllOrNone.foreach { case (what, keys) =>
        if (keys.forall(k => fields.exists(_.name == k))) {
          val got = keys.map(k => k -> (v \ k).extractOpt[Double])
          if (got.exists(_._2.isDefined) && got.exists(_._2.isEmpty))
            throw new IllegalArgumentException(
              s"node '$name': $op $what are all-or-none — specify " +
                s"${keys.init.mkString(", ")} AND ${keys.last}, or none of them " +
                s"(defaults ${keys.map(k => field(k).absent.get).mkString("/")}); got " +
                got.collect { case (k, Some(x)) => s"$k=$x" }.mkString(", "))
        }
      }
      build(fields.map { f =>
        val raw = v \ f.name
        if (raw != JNothing && raw != JNull) f.decode(raw)
        else versionedDefault(f.name, effVer).orElse(f.absent).getOrElse(f.decode(raw))
      })
    }
  }

  /** The decoder of one field type: scalars through json4s, Options and
    * Seqs element-wise, tuples from the field's [[TupleKeys]]. */
  private def decoder(t: ru.Type, field: String): JValue => Any = {
    import ru.typeOf
    if (t =:= typeOf[String]) _.extract[String]
    else if (t =:= typeOf[Int]) _.extract[Int]
    else if (t =:= typeOf[Long]) _.extract[Long]
    else if (t =:= typeOf[Double]) _.extract[Double]
    else if (t =:= typeOf[Boolean]) _.extract[Boolean]
    else if (t =:= typeOf[Field]) v =>
      Field((v \ "expr").extract[String], (v \ "as").extract[String])
    else if (t =:= typeOf[Map[String, Double]]) _.extract[Map[String, Double]]
    else if (t <:< typeOf[Option[Any]]) {
      val elem = decoder(t.typeArgs.head.dealias, field)
      v => Some(elem(v))
    } else if (t <:< typeOf[Seq[Any]]) {
      val elem = decoder(t.typeArgs.head.dealias, field)
      (v: JValue) => v match {
        case JArray(xs) => xs.map(elem)
        case other => throw new IllegalArgumentException(
          s"expected an array for '$field', got $other")
      }
    } else if (ru.definitions.TupleClass.seq.contains(t.typeSymbol)) {
      val parts = TupleKeys(field).zip(t.typeArgs.map(a => decoder(a.dealias, field)))
      v => parts.map { case (k, elem) => elem(v \ k) } match {
        case Seq(a, b) => (a, b)
        case Seq(a, b, c) => (a, b, c)
      }
    } else throw new IllegalStateException(
      s"program field '$field' has a type the document codec cannot read: $t")
  }

  private def encodeValue(x: Any, field: String): JValue = x match {
    case s: String => JString(s)
    case i: Int => JInt(i)
    case l: Long => JInt(l)
    case d: Double => JDouble(d)
    case b: Boolean => JBool(b)
    case o: Option[_] => o.fold[JValue](JNothing)(encodeValue(_, field))
    case m: Map[_, _] =>
      JObject(m.toList.map { case (k, v) => k.toString -> encodeValue(v, field) })
    case xs: Seq[_] => JArray(xs.map(encodeValue(_, field)).toList)
    case Field(e, as) => JObject("expr" -> JString(e), "as" -> JString(as))
    case t: Product => JObject(TupleKeys(field).toList.zip(
      t.productIterator.map(encodeValue(_, field)).toList))
  }

  /** The codec table: one row per [[Node]] case class. */
  private lazy val codecs: Seq[NodeCodec] = codecTable(FieldRules)

  /** Build a codec table under the field bounds `rules`, the check
    * [[FieldRules]] passes when the table is first built. */
  private[graft] def checkRules(rules: Seq[(Rule, String)]): Unit = { codecTable(rules); () }

  /** The codec table with the field bounds `rules`; fails on a rule row
    * that names an op with no node class. */
  private def codecTable(rules: Seq[(Rule, String)]): Seq[NodeCodec] = {
    val refs = for ((rule, ops) <- rules; r <- ops.split(' ').toSeq; (op, ref) = r.span(_ != '.'))
      yield (op, rule, ref.drop(1))
    val rows = ru.typeOf[Node].typeSymbol.asClass.knownDirectSubclasses.toSeq
      .map(s => new NodeCodec(s.asClass, refs))
    val unused = OpSince.keySet -- rows.map(_.op)
    require(unused.isEmpty, s"Program.OpSince names ops with no node class: $unused")
    val unknown = refs.map(_._1).toSet -- rows.map(_.op)
    if (unknown.nonEmpty) throw new IllegalStateException(
      s"Program.FieldRules names ops with no node class: ${unknown.mkString(", ")}")
    rows
  }
  private lazy val codecByClass: Map[Class[_], NodeCodec] = codecs.map(c => c.cls -> c).toMap
  private lazy val codecByOp: Map[String, NodeCodec] = codecs.map(c => c.op -> c).toMap
  private def codecOf(n: Node): NodeCodec = codecByClass(n.getClass)

  /** Every document op this library reads and writes. */
  private[graft] def nodeOps: Set[String] = codecByOp.keySet

  /** The lowest format version expressing every node in `doc`: each op's
    * own version, raised by the three value rules — an against-face whose
    * `broadcastModel` is absent (AUTO) needs v9, and a sentence-windowed
    * arpaScore or an IVF-routed hybridRrf needs v11. */
  private def requiredVersion(doc: Doc): Int = doc.nodes.map {
    case a: ArpaScore if a.sentence => 11
    case h: HybridRrf if h.ivfCells != 0 || h.nProbe != 0 => 11
    case n if n.productElementNames.zip(n.productIterator).contains("broadcastModel" -> None) =>
      codecOf(n).since max 9
    case n => codecOf(n).since
  }.foldLeft(1)(_ max _)

  /** Serialize a program document (milan `ApplicationInstance.toJsonString`
    * parity, program half — [[App.configToJson]] carries the bindings):
    * each node is its op followed by its constructor fields, in order. */
  def toJson(doc: Doc): String =
    JsonMethods.compact(JsonMethods.render(JObject(
      "version" -> JInt(requiredVersion(doc)),
      "nodes" -> JArray(doc.nodes.map(n => codecOf(n).encode(n)).toList),
      "outputs" -> JArray(doc.outputs.map(JString(_)).toList))))

  /** Parse a `toJson` document back into a runnable [[Doc]] — the
    * reference's `TreeParser` role, except the scalar grammar is ANSI SQL
    * validated here by Catalyst's parser so a malformed document fails at
    * load, not run, time. */
  def fromJson(json: String): Doc = {
    val j = JsonMethods.parse(json)
    val verExplicit = (j \ "version").extractOpt[Int]
    val ver = verExplicit.getOrElse(1)
    // version-gated grammar rules treat an ABSENT version as CURRENT: a
    // hand-written artifact that never thought about versions should get
    // the newest (best) diagnostics; only an EXPLICIT old stamp opts
    // into a shipped round's lenient semantics
    val effVer = verExplicit.getOrElse(FormatVersion)
    if (ver > FormatVersion) throw new IllegalArgumentException(
      s"program document format version $ver is newer than this library's " +
        s"$FormatVersion — upgrade the reading side (refusing to " +
        "misinterpret a newer grammar)")
    val nodes = (j \ "nodes") match {
      case JArray(xs) => xs.map { v =>
        val name = (v \ "name").extract[String]
        val op = (v \ "op").extract[String]
        codecByOp.getOrElse(op, throw new IllegalArgumentException(
          s"unknown program op '$op'")).decode(v, name, effVer)
      }
      case _ => throw new IllegalArgumentException("program document has no 'nodes' array")
    }
    val outputs = (j \ "outputs") match {
      case JArray(xs) => xs.map(_.extract[String])
      case JNothing => Nil
      case other => throw new IllegalArgumentException(s"expected string array, got $other")
    }
    val doc = Doc(nodes, outputs)
    validate(doc)
    doc
  }

  /** SCHEMA validation against the bound sources: replay the document over
    * EMPTY frames carrying each source's real schema (and declared order)
    * and force analysis node-by-node, so a document referencing a
    * nonexistent column fails HERE with the offending node's name instead
    * of surfacing as a bare AnalysisException from deep inside
    * `interpret` at run time. Empty frames keep build-time-eager operators
    * (residual joins) trivial, so validation plans but never computes.
    * Structural/SQL-parse validation ([[fromJson]]'s load-time check) is a
    * prerequisite and runs first. */
  def validate(doc: Doc, spark: org.apache.spark.sql.SparkSession,
               config: App.Config): Unit = {
    validate(doc)
    def emptyExternal(n: String): MStream = {
      val bound = App.readSource(spark, config.source(n))
      new MStream(
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          bound.df.schema),
        bound.eventOrder, bound.contextKeys, n)
    }
    var env = Map.empty[String, MStream]
    // the empty frame rides the INPUT's lift so declared eventOrder /
    // contextKeys survive schema-only validation exactly as the real
    // lowering preserves them (lift keeps order columns still present in
    // the schema) — otherwise a valid program with a stateful op
    // DOWNSTREAM of a build-time-eager node would fail validate on the
    // scan's eventOrder.nonEmpty require while interpret runs it fine
    def emptyOf(like: MStream, schema: org.apache.spark.sql.types.StructType): MStream =
      like.lift(spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
    // the tokenizer faces: the input schema plus the `as` array column
    def plusArray(like: MStream, as: String, elem: org.apache.spark.sql.types.DataType): MStream =
      emptyOf(like, like.df.schema.add(as, org.apache.spark.sql.types.ArrayType(elem)))
    doc.nodes.foreach { node =>
      try {
        val out = node match {
          case External(n) => emptyExternal(n)
          case b: BeginCycle => env(b.input) // head carries the input schema
          case c: CloseCycle =>
            // force the feedback-into-head union analysis so a schema
            // mismatch attributes to this node
            val head = env(c.cycle)
            new MStream(head.df.unionByName(env(c.feedback).df),
              head.eventOrder, head.contextKeys, c.name)
          // the build-time-eager ingest nodes (model training, codebook
          // collect) must not run driver jobs during validation: force the
          // column references each side needs, then emit the operator's
          // known output schema directly
          case n: LmNode =>
            val c = lmCall(n)
            val s = env(c.input)
            s.df.select((Seq(c.idCol, c.textCol) ++ c.byLang.map(_._1)).map(col): _*).schema
            c.ref.foreach { case (r, rt) =>
              env(r).df.select((rt +: c.byLang.map(_._2).toSeq).map(col): _*).schema }
            emptyOf(s, graft.pipeline.TextOps.lmOutputSchema(
              c.idCol, s.df.schema(c.idCol).dataType, c.spec.nCol))
          case as: ArpaScore =>
            // the artifact file is a RUNTIME binding (like a source
            // path): validation checks column references and the output
            // schema fact only, never reads the file
            val s = env(as.input)
            s.df.select(col(as.idCol), col(as.textCol)).schema
            emptyOf(s, graft.pipeline.TextOps.lmOutputSchema(
              as.idCol, s.df.schema(as.idCol).dataType, "n_grams"))
          case al: ArpaScoreLang =>
            // same runtime-binding stance for the per-language directory
            val s = env(al.input)
            s.df.select(col(al.idCol), col(al.textCol), col(al.langCol)).schema
            emptyOf(s, graft.pipeline.TextOps.lmOutputSchema(
              al.idCol, s.df.schema(al.idCol).dataType, "n_grams"))
          case sv: SaveArtifact =>
            // the tee must NOT write during validation — pass the input
            // schema through, exactly what the real lowering returns
            env(sv.input)
          case la: LoadArtifact =>
            // a load READS at validation (the manifest is the schema
            // fact, like a bound source) but computes nothing
            val art = Artifacts.load(spark, la.dir, la.kind)
            if (!art.tables.contains(la.table))
              throw new IllegalArgumentException(
                s"node '${la.name}': artifact at ${la.dir} has no table " +
                  s"'${la.table}' (have: ${art.tables.keys.toSeq.sorted.mkString(", ")})")
            new MStream(spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](),
              art.tables(la.table).schema), Nil, Nil, la.name)
          case es: ExactSubstr =>
            // build-time eager (candidate census checkpoint): schema-only
            val s = env(es.input)
            s.df.select(col(es.idCol), col(es.textCol)).schema
            emptyOf(s, org.apache.spark.sql.types.StructType(Seq(
              s.df.schema(es.idCol),
              org.apache.spark.sql.types.StructField("span_start",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("span_len",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("span_hash",
                org.apache.spark.sql.types.LongType))))
          case pt: PplThresholds =>
            // build-time eager (trains the KN model): schema-only
            val s = env(pt.input)
            s.df.select(col(pt.idCol), col(pt.textCol), col(pt.langCol)).schema
            env(pt.ref).df.select(col(pt.refTextCol)).schema
            emptyOf(s, org.apache.spark.sql.types.StructType(Seq(
              s.df.schema(pt.langCol),
              org.apache.spark.sql.types.StructField("bucket",
                org.apache.spark.sql.types.IntegerType),
              org.apache.spark.sql.types.StructField("cut",
                org.apache.spark.sql.types.DoubleType))))
          case rb: RankBuckets =>
            // build-time eager (RangedPrefix pin at lowering): schema-only
            val s = env(rb.input)
            s.df.select(col(rb.groupCol), col(rb.scoreCol), col(rb.tieCol)).schema
            emptyOf(s, s.df.schema.add("bucket",
              org.apache.spark.sql.types.IntegerType))
          case ds: DsirScore =>
            val s = env(ds.input)
            s.df.select(col(ds.idCol), col(ds.textCol)).schema
            env(ds.target).df.select(col(ds.refTextCol)).schema
            env(ds.raw).df.select(col(ds.refTextCol)).schema
            emptyOf(s, graft.pipeline.TextOps.dsirOutputSchema(
              ds.idCol, s.df.schema(ds.idCol).dataType))
          case tf: TokenFreq =>
            val s = env(tf.input)
            s.df.select(col(tf.idCol), col(tf.textCol)).schema
            env(tf.ref).df.select(col(tf.refTextCol)).schema
            emptyOf(s, graft.pipeline.TextOps.tokenFreqOutputSchema(
              tf.idCol, s.df.schema(tf.idCol).dataType))
          case be: BpeEncode =>
            val s = env(be.input)
            s.df.select(col(be.idCol), col(be.textCol)).schema
            env(be.merges).df.select(col("merge_rank"), col("lhs"), col("rhs")).schema
            emptyOf(s, graft.pipeline.TextOps.bpeOutputSchema(
              be.idCol, s.df.schema(be.idCol).dataType))
          case bi: BpeIds =>
            // build-time eager (the merge table collects at lowering):
            // force the refs, emit input + the ids column
            val s = env(bi.input)
            s.df.select(col(bi.textCol)).schema
            env(bi.merges).df.select(col("merge_rank"), col("lhs"), col("rhs")).schema
            plusArray(s, bi.as, org.apache.spark.sql.types.LongType)
          case st: SpTokenize =>
            // the vocab file is a runtime binding (never read here)
            val s = env(st.input)
            s.df.select(col(st.textCol)).schema
            plusArray(s, st.as, org.apache.spark.sql.types.StringType)
          case si: SpIds =>
            val s = env(si.input)
            s.df.select(col(si.textCol)).schema
            plusArray(s, si.as, org.apache.spark.sql.types.LongType)
          case ue: UnigramEncode =>
            // build-time eager (the vocabulary collects at lowering):
            // force the refs, emit input + the pieces column
            val s = env(ue.input)
            s.df.select(col(ue.textCol)).schema
            env(ue.vocab).df.select(col("piece"), col("cnt")).schema
            plusArray(s, ue.as, org.apache.spark.sql.types.StringType)
          case ui: UnigramIds =>
            val s = env(ui.input)
            s.df.select(col(ui.textCol)).schema
            env(ui.vocab).df.select(col("piece"), col("cnt")).schema
            plusArray(s, ui.as, org.apache.spark.sql.types.LongType)
          case wt: WpTokenize =>
            val s = env(wt.input)
            s.df.select(col(wt.textCol)).schema
            env(wt.vocab).df.select(col("wp_id"), col("piece")).schema
            plusArray(s, wt.as, org.apache.spark.sql.types.StringType)
          case we: WpEncode =>
            val s = env(we.input)
            val idField = s.df.schema(we.idCol)
            s.df.select(col(we.textCol)).schema
            env(we.vocab).df.select(col("wp_id"), col("piece")).schema
            emptyOf(s, org.apache.spark.sql.types.StructType(Seq(idField,
              org.apache.spark.sql.types.StructField("n_wp_tokens",
                org.apache.spark.sql.types.LongType, nullable = false),
              org.apache.spark.sql.types.StructField("tok_hash",
                org.apache.spark.sql.types.LongType, nullable = false))))
          case wi: WpIds =>
            val s = env(wi.input)
            s.df.select(col(wi.textCol)).schema
            env(wi.vocab).df.select(col("wp_id"), col("piece")).schema
            plusArray(s, wi.as, org.apache.spark.sql.types.LongType)
          case bb: ByteBpeEncode =>
            val s = env(bb.input)
            val idField = s.df.schema(bb.idCol)
            s.df.select(col(bb.textCol)).schema
            env(bb.merges).df.select(col("merge_rank"), col("lhs"), col("rhs")).schema
            emptyOf(s, graft.pipeline.TextOps.byteBpeOutputSchema(
              bb.idCol, idField.dataType))
          case bj: ByteBpeIds =>
            val s = env(bj.input)
            s.df.select(col(bj.textCol)).schema
            env(bj.merges).df.select(col("merge_rank"), col("lhs"), col("rhs")).schema
            plusArray(s, bj.as, org.apache.spark.sql.types.LongType)
          case bv: ByteBpeIdsVocab =>
            val s = env(bv.input)
            s.df.select(col(bv.textCol)).schema
            env(bv.merges).df.select(col("merge_rank"), col("lhs"), col("rhs")).schema
            env(bv.vocab).df.select(col("piece"), col("gpt_id")).schema
            plusArray(s, bv.as, org.apache.spark.sql.types.LongType)
          case bl: BpeLangEncode =>
            val s = env(bl.input)
            val idField = s.df.schema(bl.idCol)
            s.df.select(col(bl.langCol), col(bl.textCol)).schema
            env(bl.merges).df.select(col("lang"), col("merge_rank"),
              col("lhs"), col("rhs")).schema
            emptyOf(s, org.apache.spark.sql.types.StructType(Seq(idField,
              org.apache.spark.sql.types.StructField("n_bpe_tokens",
                org.apache.spark.sql.types.LongType, nullable = true),
              org.apache.spark.sql.types.StructField("tok_hash",
                org.apache.spark.sql.types.LongType, nullable = true))))
          case ed: EmbedDedup if ed.centroids.isDefined =>
            val s = env(ed.input)
            s.df.select(col(ed.idCol), col(ed.vecCol)).schema
            env(ed.ref).df.select(col(ed.idCol), col(ed.vecCol)).schema
            env(ed.centroids.get).df.select(col("cid"), col("cv")).schema
            emptyOf(s, s.df.schema) // survivors keep the input schema
          case ip: IvfProbe =>
            val s = env(ip.input)
            s.df.select(col(ip.qIdCol), col(ip.vecCol)).schema
            env(ip.corpus).df.select(col(ip.idCol), col(ip.vecCol)).schema
            env(ip.centroids).df.select(col("cid"), col("cv")).schema
            emptyOf(s, graft.pipeline.Ivf.searchOutputSchema(
              ip.qIdCol, s.df.schema(ip.qIdCol).dataType,
              ip.idCol, env(ip.corpus).df.schema(ip.idCol).dataType))
          case xd: ExactDedup =>
            // build-time eager (the filter aggregate collects): force the
            // column references, emit the survivor schema (= input schema)
            val s = env(xd.input)
            s.df.select(col(xd.idCol), col(xd.textCol)).schema
            env(xd.ref).df.select(col(xd.idCol), col(xd.textCol)).schema
            emptyOf(s, s.df.schema)
          case nb: NbClassify =>
            // build-time eager (the count model collects): schema-only
            val s = env(nb.input)
            s.df.select(col(nb.idCol), col(nb.textCol)).schema
            env(nb.ref).df.select(col(nb.refTextCol), col(nb.refLabelCol)).schema
            emptyOf(s, graft.pipeline.TextOps.nbOutputSchema(
              nb.idCol, s.df.schema(nb.idCol).dataType))
          case tm: TemperatureMix =>
            // build-time eager (collects per-stratum counts, and rejects an
            // EMPTY corpus by contract): force the column references, emit
            // the operator's schema (a filter — the input schema unchanged)
            val s = env(tm.input)
            s.df.select(col(tm.keyCol), col(tm.strataCol)).schema
            emptyOf(s, s.df.schema)
          case ct: CapTokens =>
            // build-time eager since the RangedPrefix rewrite (the range
            // assignment checkpoints at lowering — running it here would
            // fire Spark jobs and leak Pinned registrations per validated
            // document): force the column references, emit the operator's
            // schema (a filter — the input schema unchanged)
            val s = env(ct.input)
            s.df.select(col(ct.strataCol), col(ct.keyCol), col(ct.tokensCol)).schema
            emptyOf(s, s.df.schema)
          case cp: CapPerKey =>
            // build-time eager since the RangedPrefix rewrite (same as
            // CapTokens): schema-only — a filter keeps the input schema
            val s = env(cp.input)
            s.df.select(col(cp.strataCol), col(cp.keyCol)).schema
            emptyOf(s, s.df.schema)
          case dc: DedupCorpus =>
            // build-time eager (CC fixpoint runs driver rounds): force the
            // column references, emit the survivor-id schema
            val s = env(dc.input)
            s.df.select(col(dc.idCol), col(dc.textCol)).schema
            emptyOf(s, org.apache.spark.sql.types.StructType(
              Seq(s.df.schema(dc.idCol))))
          case db: DedupCorpusBest =>
            val s = env(db.input)
            s.df.select(col(db.idCol), col(db.textCol), expr(db.score)).schema
            emptyOf(s, org.apache.spark.sql.types.StructType(
              Seq(s.df.schema(db.idCol))))
          case sd: SemanticDedup =>
            // build-time eager (codebook collect + CC fixpoint): survivors
            // keep the input schema
            val s = env(sd.input)
            s.df.select(col(sd.idCol), col(sd.vecCol)).schema
            env(sd.centroids).df.select(col("cid"), col("cv")).schema
            emptyOf(s, s.df.schema)
          case sb: SemanticDedupBest =>
            val s = env(sb.input)
            s.df.select(col(sb.idCol), col(sb.vecCol), expr(sb.score)).schema
            env(sb.centroids).df.select(col("cid"), col("cv")).schema
            emptyOf(s, s.df.schema)
          case sq: Sq8Ingest =>
            // build-time eager (collects the capped stats artifact):
            // force the refs, emit input schema + the code column
            val s = env(sq.input)
            s.df.select(col(sq.vecCol)).schema
            env(sq.stats).df.select(col("dim"), col("lo"), col("hi")).schema
            // mirror withColumn: an existing `as` column is REPLACED, not
            // duplicated (encode-in-place documents must keep validating)
            emptyOf(s, org.apache.spark.sql.types.StructType(
              s.df.schema.fields.filterNot(_.name == sq.as) :+
                org.apache.spark.sql.types.StructField(
                  sq.as, org.apache.spark.sql.types.ArrayType(
                    org.apache.spark.sql.types.IntegerType, containsNull = false))))
          case zo: ZOrder =>
            // build-time eager (the min/max job pins the ranges): force
            // the refs; the layout op keeps the input schema
            val s = env(zo.input)
            s.df.select(zo.cols.map(col): _*).schema
            emptyOf(s, s.df.schema)
          case sc: SpanScrub =>
            // build-time eager (pins the corpus-wide candidate frame):
            // emit the accounting schema (id, n_kept, kept_hash)
            val s = env(sc.input)
            s.df.select(col(sc.idCol), col(sc.textCol)).schema
            emptyOf(s, org.apache.spark.sql.types.StructType(Seq(
              s.df.schema(sc.idCol),
              org.apache.spark.sql.types.StructField("n_kept",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("kept_hash",
                org.apache.spark.sql.types.LongType))))
          case pc: PackChunks =>
            // build-time eager since the RangedPrefix rewrite (the range
            // assignment checkpoints at lowering, like CapTokens): force
            // the refs, emit the packing schema
            val s = env(pc.input)
            s.df.select(col(pc.idCol), col(pc.partCol), col(pc.textCol)).schema
            emptyOf(s, org.apache.spark.sql.types.StructType(Seq(
              s.df.schema(pc.idCol), s.df.schema(pc.partCol),
              org.apache.spark.sql.types.StructField("n_tokens",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("chunk_id",
                org.apache.spark.sql.types.LongType))))
          case cd: CorpusDedup =>
            // the salted cover's heavy-hitter census (r14) checkpoints at
            // lowering: schema-only — survivors keep the input schema
            val s = env(cd.input)
            s.df.select(col(cd.idCol), col(cd.textCol)).schema
            env(cd.ref).df.select(col(cd.idCol), col(cd.textCol)).schema
            emptyOf(s, s.df.schema)
          case hr: HybridRrf =>
            // lazy, but resolve against the exported schema fact (the
            // doc id is LongType by the bounded-heap contract)
            val s = env(hr.input)
            s.df.select(col(hr.idCol), col(hr.textCol), col(hr.vecCol)).schema
            val q = env(hr.queries)
            q.df.select(col(hr.qIdCol), col(hr.qTextCol), col(hr.qVecCol)).schema
            emptyOf(s, graft.pipeline.TextOps.hybridRrfOutputSchema(
              hr.qIdCol, q.df.schema(hr.qIdCol).dataType, hr.idCol))
          case br: Bm25Retrieve =>
            // lazy, but resolve against the exported schema fact so the
            // helper and validate cannot drift (IngestProgramSpec pins it
            // equal to the real operator)
            val s = env(br.input)
            s.df.select(col(br.idCol), col(br.textCol)).schema
            val q = env(br.queries)
            q.df.select(col(br.qIdCol), col(br.qTextCol)).schema
            emptyOf(s, graft.pipeline.TextOps.bm25RetrieveOutputSchema(
              br.qIdCol, q.df.schema(br.qIdCol).dataType,
              br.idCol, s.df.schema(br.idCol).dataType))
          case wp: WinnowPairs =>
            val s = env(wp.input)
            s.df.select(col(wp.idCol), col(wp.textCol)).schema
            emptyOf(s, graft.pipeline.TextOps.winnowPairsOutputSchema(
              s.df.schema(wp.idCol).dataType))
          case other => lowerNode(other, name => env(name))
        }
        out.df.schema // force analysis NOW so failures attribute to THIS node
        env += node.name -> out.withName(node.name)
      } catch {
        case e: IllegalArgumentException if e.getMessage != null &&
          e.getMessage.startsWith(s"node '") => throw e
        case e: Exception => throw new IllegalArgumentException(
          s"node '${node.name}' does not resolve against the bound source " +
            s"schemas: ${e.getMessage}", e)
      }
    }
  }

  /** Load-time validation: every field meets its [[FieldRules]] bound and
    * every [[Field]] expression parses (the node's codec checks), then the
    * rules that span fields or nodes hold, and every input reference
    * resolves to an earlier node. Catches a corrupt or hand-edited
    * document before any Spark job is planned. */
  private def validate(doc: Doc): Unit = {
    var defined = Set.empty[String]
    var openCycle: Option[String] = None
    doc.nodes.foreach { n =>
      val codec = codecOf(n)
      val op = codec.op
      def reject(why: String): Nothing =
        throw new IllegalArgumentException(s"node '${n.name}': $why")
      if (n.name.startsWith("__cycle_")) throw new IllegalArgumentException(
        s"node name '${n.name}' uses the reserved cycle-channel prefix '__cycle_'")
      codec.checks.foreach(_.fault(n).foreach(f => reject(s"$op $f")))
      // the rows run first: bands > 0 here, and hybridRrf's ivfCells, nProbe >= 0
      def multipleOfBands(k: Int, bands: Int): Unit = if (k < bands || k % bands != 0)
        reject(s"$op needs k a positive multiple of bands, got k=$k bands=$bands")
      def sumsToOne(splits: Seq[(String, Double)]): Unit =
        if (splits.exists(_._2 < 0.0) || math.abs(splits.map(_._2).sum - 1.0) >= 1e-9)
          reject(s"split fractions must be non-negative and sum to 1, got " +
            splits.map(_._2).mkString(", "))
      def distinctIds(qIdCol: String, idCol: String, rest: String): Unit =
        if (qIdCol == idCol) reject(s"$op qIdCol and idCol are both '$idCol' — rename " +
          s"one (output is (qIdCol, idCol, $rest))")
      n match {
        case b: BeginCycle =>
          openCycle.foreach(o =>
            reject(s"nested cycles are not supported (cycle '$o' is still open)"))
          openCycle = Some(b.name)
        case c: CloseCycle =>
          if (!openCycle.contains(c.cycle)) reject(s"closeCycle targets '${c.cycle}' but " +
            openCycle.fold("no cycle is open")(o => s"the open cycle is '$o'"))
          openCycle = None
        case af: ApplyFn =>
          if (af.kind != "where" && af.as.isEmpty)
            reject(s"applyFn kind '${af.kind}' needs an 'as' output name")
          Functions.registeredArity(af.function) match {
            case None => reject(s"function '${af.function}' is not registered " +
              "(Program.Functions.register it before loading the document)")
            case Some(a) if a != af.args.size => reject(
              s"function '${af.function}' takes $a argument(s), got ${af.args.size}")
            case _ =>
          }
        case cd: CorpusDedup => multipleOfBands(cd.k, cd.bands)
        case dc: DedupCorpus => multipleOfBands(dc.k, dc.bands)
        case db: DedupCorpusBest => multipleOfBands(db.k, db.bands)
        case ed: EmbedDedup =>
          if (ed.centroids.isDefined && ed.nProbe <= 0)
            reject(s"embedDedup via IVF needs nProbe > 0, got ${ed.nProbe}")
          // the exact face has no non-broadcast lowering (a cosine-predicate
          // join without a broadcast side is a cartesian product) — the flag
          // must not silently no-op at the very scale it exists for
          if (ed.centroids.isEmpty && !ed.broadcastRef) reject("embedDedup's exact face " +
            "is broadcast-only; pass a centroids input for the beyond-broadcast IVF " +
            "route (broadcastRef = false)")
        case lm: LmNode =>
          val c = lmCall(lm)
          c.spec.check(s"node '${n.name}': $op", c.ref.isDefined, c.byLang.isDefined)
        case pt: PplThresholds =>
          // the knAgainst model it scores under, by the same contract
          graft.pipeline.TextOps.LmSpec(pt.order,
            graft.pipeline.TextOps.LmSpec.KneserNey(pt.discount), pt.minCount,
            pt.broadcastModel).check(s"node '${n.name}': $op", against = true, byLang = false)
        case br: Bm25Retrieve => distinctIds(br.qIdCol, br.idCol, "bm25, rank")
        case hr: HybridRrf =>
          distinctIds(hr.qIdCol, hr.idCol, "rrf, rank")
          if ((hr.ivfCells == 0) != (hr.nProbe == 0)) reject("hybridRrf IVF routing takes " +
            s"BOTH ivfCells > 0 and nProbe > 0 (and ivfIters >= 1), got " +
            s"ivfCells=${hr.ivfCells} nProbe=${hr.nProbe} ivfIters=${hr.ivfIters}")
        case ip: IvfProbe => distinctIds(ip.qIdCol, ip.idCol, "cos, rn")
        case xd: ExactDedup =>
          if (xd.numBits < 64 || xd.numBits % 64 != 0 || xd.numBits > (1 << 23))
            reject(s"exactDedup numBits must be a multiple of 64 in [64, 2^23], " +
              s"got ${xd.numBits}")
        case gg: GopherGate => if (gg.maxWords < gg.minWords) reject(
          s"gopherGate needs 1 <= minWords <= maxWords, got [${gg.minWords}, ${gg.maxWords}]")
        case ct: ChunkTokens => if (ct.stride > ct.chunkSize) reject("chunkTokens needs " +
          s"0 < stride <= chunkSize, got chunkSize=${ct.chunkSize} stride=${ct.stride}")
        // the hyperplane family index seed * outDim + b must fit an Int
        // (`functions.JlProject`), or the lowering fails at run time
        case jp: JlProjection => if (jp.seed.toLong * jp.outDim + jp.outDim - 1 > Int.MaxValue)
          reject(s"jlProject needs seed * outDim + outDim - 1 <= ${Int.MaxValue}, " +
            s"got seed=${jp.seed} outDim=${jp.outDim}")
        case zo: ZOrder =>
          try graft.operators.Layout.checkDims(zo.cols.size, zo.bits)
          catch { case e: IllegalArgumentException => reject(e.getMessage) }
        case as: AssignSplit => sumsToOne(as.splits)
        case sp: SafeSplit => sumsToOne(sp.splits)
        case _ =>
      }
      nodeInputs(n).foreach(i => if (!defined.contains(i)) throw new IllegalArgumentException(
        s"node '${n.name}' references '$i' before it is defined"))
      defined += n.name
    }
    openCycle.foreach(c => throw new IllegalArgumentException(s"cycle '$c' is never closed"))
    doc.outputs.foreach(o => if (!defined.contains(o)) throw new IllegalArgumentException(
      s"output '$o' is not produced by any node"))
  }
}
