package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Document chunking for LLM context windows: overlapping token windows
  * of `size` tokens every `stride` tokens — the step between cleaned
  * documents and an embedding/training pipeline (RAG indexing, context-
  * length packing). No reference implementation (SURVEY.md §7.4
  * LLM-pipeline category).
  *
  * Pure map-side generator: `split` once, one `transform` over the
  * (bounded, = ceil(n/stride)) start offsets, `posexplode` — no shuffle,
  * no UDF; row amplification is the OUTPUT contract (one row per chunk),
  * not an implementation artifact. Token order and case are preserved
  * (chunks are re-joined with single spaces — byte-identical to the
  * original only for single-space-separated text; the normalization is
  * deliberate and documented so the DuckDB oracle can mirror it).
  *
  * Chunk starts are 0, stride, 2·stride, … < n_tokens; the final chunks
  * are shorter than `size` (standard tail behavior — a tail shorter
  * than the overlap still appears exactly once).
  */
object Chunking {

  def chunkStarts(toks: Column, stride: Int): Column =
    filter(transform(sequence(lit(0), ((size(toks) - 1) / stride).cast("int")),
      i => i * stride), s => s < size(toks))

  /** (id, chunk_id, chunk_text, n_tokens) — one row per chunk. */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  size_ : Int, stride: Int): DataFrame = {
    require(size_ > 0 && stride > 0 && stride <= size_,
      s"need 0 < stride <= size, got size=${size_} stride=$stride")
    val toks = split(col(textCol), "\\s+")
    df.select(col(idCol), posexplode(
        transform(chunkStarts(toks, stride), s => slice(toks, s + 1, lit(size_)))))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_id"),
        array_join(col("col"), " ").as("chunk_text"),
        size(col("col")).cast("long").as("n_tokens"))
  }

  /** Sentence-aware chunking ([[graft.expressions.SentenceChunks]]):
    * consecutive UAX#29 sentences packed greedily into chunks of ≤
    * `maxTokens` whitespace tokens, never splitting inside a sentence —
    * the RAG-indexing chunker that keeps retrieval units semantically
    * whole where [[chunkTokens]]' fixed windows cut mid-sentence. A
    * single sentence over the budget is its own oversized chunk
    * (documented exception; the q217 budget verdict carries it). Spans
    * are verbatim, so concatenating a document's chunks in chunk_id
    * order reproduces the document byte-for-byte and Σ n_tokens is the
    * document's whitespace token count — both oracle-replayed as md5 /
    * sum identities. Output: (id, chunk_id, chunk_text, n_sentences,
    * n_tokens); documents with null/empty text emit no rows.
    *
    * Scale shape: one map-side kernel pass per document, posexplode —
    * no shuffle; amplification is the output contract.
    */
  def sentenceChunks(df: DataFrame, idCol: String, textCol: String,
                     maxTokens: Int): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1, got $maxTokens")
    df.select(col(idCol), posexplode(
        GraftFunctions.call("sentence_chunks", col(textCol), lit(maxTokens))))
      .select(col(idCol),
        col("pos").cast("long").as("chunk_id"),
        col("col.chunk").as("chunk_text"),
        col("col.n_sentences").cast("long").as("n_sentences"),
        col("col.n_tokens").cast("long").as("n_tokens"))
  }

  /** C4-style corpus-wide span dedup (Raffel et al. '20 §2.2 — "three-
    * sentence span" dedup, token-span form): every document is cut into
    * non-overlapping `span`-token chunks; a chunk whose text occurs
    * anywhere else in the CORPUS keeps only its first occurrence (global
    * (id, chunk_id) order) and every later copy is dropped; each
    * document is then reassembled from its surviving chunks. The
    * sub-document counterpart of whole-doc dedup ([[Dedup.exactDedup]]):
    * boilerplate shared across otherwise-distinct pages dies here.
    *
    * Output: (id, n_kept, n_dropped, text) — the rebuilt document (docs
    * losing every chunk still appear, with empty text).
    *
    * Scale shape: the first-occurrence table is keyed by md5 — 32-byte
    * keys + one long, never the corpus text; small-duplication corpora
    * get it broadcast by AQE (the plan at test scale), heavy ones join
    * it by hash on the same key its aggregate just shuffled on (exchange
    * reusable). Reassembly is one groupBy(id) whose collect_list is
    * bounded by the document's own chunk count. The packed first-
    * occurrence key is id·2^20 + chunk_id; its contract (ids
    * non-negative, docs under 2^20 chunks ≈ 8M tokens at span 8) is
    * enforced row-wise — a violating row raises rather than silently
    * reordering first occurrences.
    */
  def spanDedup(df: DataFrame, idCol: String, textCol: String, span: Int): DataFrame = {
    require(span > 0, s"span must be positive, got $span")
    // the packed-key contract is ENFORCED, not assumed: violating rows
    // would silently corrupt the first-occurrence order, so they raise
    // upper id bound: id*2^20 + chunk_id must not overflow Long — past
    // Long.MaxValue >> 20 the multiplication wraps silently, corrupting
    // the min()-based first-occurrence order instead of raising
    val packedKey = when(col(idCol).isNull || col(idCol) < 0 ||
          col(idCol) > (Long.MaxValue >> 20) || col("chunk_id") >= 1048576L,
        raise_error(concat(lit("spanDedup: id must be a non-null in [0, 2^43) and chunks per doc < 2^20, got id="),
          coalesce(col(idCol).cast("string"), lit("null")),
          lit(" chunk="), col("chunk_id").cast("string"))))
      .otherwise(col(idCol) * 1048576L + col("chunk_id"))
    val chunks = chunkTokens(df, idCol, textCol, span, span)
      .withColumn("__h", md5(col("chunk_text")))
      .withColumn("__k", packedKey)
    val first = chunks.groupBy(col("__h")).agg(min(col("__k")).as("__k_first"))
    chunks.join(first, "__h")
      .withColumn("__keep", col("__k") === col("__k_first"))
      .groupBy(col(idCol))
      .agg(
        sum(col("__keep").cast("long")).as("n_kept"),
        sum((!col("__keep")).cast("long")).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(col("__keep"),
            struct(col("chunk_id").as("cid"), col("chunk_text").as("txt"))))),
          s => s.getField("txt")), " ").as("text"))
  }

  /** Content-defined chunking (the FastCDC/gear-hash base form):
    * documents split at positions where the rolling window's content
    * hash hits a boundary condition — so an insertion early in a doc
    * shifts ONE chunk's boundary instead of re-aligning every
    * fixed-width chunk after it, which is the whole point: chunk
    * fingerprints stay stable under edits, making chunk-level dedup
    * (and incremental storage) possible. [[chunkTokens]] is the
    * context-WINDOW chunker (fixed token geometry for model input);
    * this is the dedup-layout chunker.
    *
    * Boundary rule, precisely: a cut falls AFTER character c (1-based)
    * iff c ≥ `window` and the first 4 bytes of md5 of the `window`-char
    * gram ENDING at c, read as an unsigned big-endian int, are ≡ 0
    * (mod `modulus`) — expected chunk length ≈ `modulus` chars. The
    * rule is windowed-content-local (the CDC property) and replays
    * verbatim in SQL (`('0x' || substring(md5(...), 1, 8))::BIGINT`,
    * the q130 hash-prefix convention). Production CDC adds min/max
    * chunk clamps; those make boundaries sequentially dependent
    * (greedy), so the base form here stays per-position-local — cap
    * oversized chunks downstream with [[chunkTokens]]-style fixed
    * splitting if a hard max matters.
    *
    * Scale shape: gram hashes via the fused
    * [[graft.expressions.CharGramHashes]] kernel (one JIT'd pass per
    * doc), boundary selection map-side, chunk assembly one per-doc
    * sort of its own boundary list (`array_sort(collect_list)` — the
    * q116 no-window pattern). Output: (id, chunk_idx 0-based,
    * chunk_start 1-based, chunk_len, chunk_md5) — the fingerprint
    * column is what chunk-level dedup joins on.
    */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
                           window: Int, modulus: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(modulus >= 2, s"modulus must be >= 2, got $modulus")
    val base = df.select(col(idCol).as("id"), col(textCol).as("__t"))
    // cut positions: gram at window-start p (1-based) covers chars
    // [p, p+window-1] — the cut lands after its LAST char
    val cuts = base
      .filter(length(col("__t")) >= window)
      .select(col("id"),
        posexplode(GraftFunctions.call("char_gram_hashes", col("__t"), lit(window))))
      .filter(
        conv(hex(substring(col("col"), 1, 4)), 16, 10).cast("long") % modulus === 0)
      .select(col("id"), (col("pos") + window).cast("long").as("cut_after"))
    val cutLists = cuts.groupBy(col("id"))
      .agg(array_sort(collect_list(col("cut_after"))).as("__cuts"))
    base.join(cutLists, Seq("id"), "left")
      .select(col("id"), col("__t"),
        // segment end positions: every cut, plus the doc tail when the
        // last cut is not already at len (no empty tail chunk)
        concat(coalesce(col("__cuts"), array().cast("array<long>")),
          when(coalesce(element_at(col("__cuts"), -1), lit(-1L)) =!=
              length(col("__t")).cast("long"),
            array(length(col("__t")).cast("long")))
            .otherwise(array().cast("array<long>"))).as("__ends"))
      // segments from the ends array alone (previous end + 1 .. end) —
      // indexed transform, no window
      .select(col("id"), col("__t"), explode(transform(col("__ends"),
        (e, i) => struct(i.cast("long").as("idx"),
          (when(i === 0, lit(0L))
            .otherwise(element_at(col("__ends"), i)) + 1).as("start"),
          e.as("end")))).as("seg"))
      .filter(col("seg.end") >= col("seg.start")) // empty doc → no chunk
      .select(col("id"), col("seg.idx").as("chunk_idx"),
        col("seg.start").as("chunk_start"),
        (col("seg.end") - col("seg.start") + 1).as("chunk_len"),
        md5(col("__t").substr(col("seg.start").cast("int"),
          (col("seg.end") - col("seg.start") + 1).cast("int"))).as("chunk_md5"))
  }
}
