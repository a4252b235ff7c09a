package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GroupOps, Validation, ValidationRule}
import graft.sources.Tables
import graft.expressions.GraftFunctions

/** Text analysis, tokenization, multimodal decode and generation-eval queries (SURVEY.md §7.4 text + multimodal families).
  *
  * One slice of [[graft.SparkEntry]]'s query surface (split from the
  * former 9.3k-line single file; pure move, no behavior change). Keys,
  * builders and oracle SQL are exactly the driver contract: every
  * `queries` entry that is SQL-expressible has a DuckDB `oracleSql`
  * twin with IDENTICAL column names (the compare hashes by sorted
  * column name).
  */
private[graft] object TextMultimodalQueries extends QueryRegistry {

  /** Text quality + token statistics — ONE map-side pass: split once,
    * then the native [[graft.expressions.TextArrayStats]] kernel folds
    * all four statistics in a single JIT'd array scan (the per-stat
    * declarative columns each re-split the text and run their lambdas
    * interpreted — measured ~2.5× slower end-to-end at sf0.1).
    */
  private def q29TextStats(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions._
    val stop = Seq("the", "a", "and", "of", "to")
    t(s, dir, "documents")
      .select(col("doc_id"), tokenStatsNative(col("text"), stop).as("st"))
      .select(
        col("doc_id"),
        col("st.n_tokens").as("n_tokens"),
        round(col("st.n_unique").cast("double") / col("st.n_tokens"), 6).as("uniq_ratio"),
        round(col("st.sum_token_len").cast("double") / col("st.n_tokens"), 6).as("avg_token_len"),
        round(col("st.n_stopwords").cast("double") / col("st.n_tokens"), 6).as("stopword_ratio"))
      .orderBy(col("doc_id"))
  }


  /** Stopword-profile language scoring + argmax language ID (bulk path:
    * explode + one hash aggregate; see TextFunctions.langScoreTable).
    */
  private def q30LangId(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    TextFunctions.langScoreTable(t(s, dir, "documents"), "doc_id", "text")
      .select(col("id").as("doc_id"), col("en_hits"), col("de_hits"), col("pred_lang"))
      .orderBy(col("doc_id"))
  }


  /** Content fingerprint (md5 of normalized text) — engine-independent. */
  private def q31Fingerprint(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    t(s, dir, "documents").select(
      col("doc_id"),
      TextFunctions.contentFingerprint(col("text")).as("fingerprint"))
      .orderBy(col("doc_id"))
  }


  /** Multimodal plumbing: synthetic media → partition-wise decode →
    * feature extraction. Image rows decode REAL BMP pixel bytes, audio
    * rows REAL RIFF/WAVE PCM samples; only video uses the marked stub.
    * Oracle-checked: every synth payload is pure arithmetic in
    * media_id, so DuckDB reproduces every output column — metadata AND
    * the feature lane (cast to REAL where float rounding must match).
    */
  private def q36Multimodal(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.synthesize(s, 300)
    Multimodal.decodeFeatures(media, frameStride = 2).toDF()
      .select(col("mediaId").as("media_id"), col("modality"),
        col("decodedWidth").as("w"), col("decodedHeight").as("h"),
        col("nFramesSampled").as("frames_sampled"),
        round(element_at(col("feature"), 1).cast("double"), 4).as("f0"))
      .orderBy(col("media_id"))
  }


  /** PII scrub over documents with deterministic synthetic PII appended
    * (the corpus itself is clean, so the scrub would be a no-op; the
    * injection makes redaction itself the thing under test). Output:
    * md5 of the scrubbed text + the audit count of emails seen — the
    * DuckDB oracle re-runs the identical RE2-compatible patterns.
    */
  private def q46PiiScrub(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.PiiScrub
    val injected = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" Contact user"), col("doc_id"), lit("@example.com or call +1 (555) 010-"),
        lpad(col("doc_id") % 10000, 4, "0"),
        lit(" from 192.168."), col("doc_id") % 256, lit(".17 today.")).as("text"))
    injected.select(col("doc_id"),
        md5(PiiScrub.scrub(col("text"))).as("scrubbed_md5"),
        PiiScrub.piiCount(col("text"), PiiScrub.EmailPattern).as("n_emails"))
      .orderBy(col("doc_id"))
  }


  /** Overlapping token-window chunking (size 32, stride 16) — context-
    * window preparation for embedding/RAG pipelines. Pure map-side
    * generator; chunk text is md5'd in the output so the compare stays
    * narrow (DuckDB md5 = Spark md5 on identical strings).
    */
  private def q50ChunkDocuments(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.chunkTokens(
        t(s, dir, "documents").filter(col("doc_id") < 2000), "doc_id", "text", 32, 16)
      .select(col("doc_id"), col("chunk_id"),
        md5(col("chunk_text")).as("chunk_md5"), col("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))


  /** Unicode NFC canonicalization — decomposed sequences (e + combining
    * acute) and precomposed characters (é) must dedup/fingerprint as the
    * SAME text. Deterministic decomposed-unicode injection makes the
    * normalization itself the thing under test; DuckDB's nfc_normalize
    * implements the identical Unicode algorithm, so the md5s must match.
    * n_composed counts compositions (char-length delta).
    */
  private def q55NormalizeNfc(s: SparkSession, dir: String): DataFrame = {
    val injected = t(s, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" cafe\u0301 u\u0308ni A\u030A end")).as("injected"))
    injected.select(col("doc_id"),
        md5(GraftFunctions.call("normalize_nfc", col("injected"))).as("norm_md5"),
        (length(col("injected")) - length(GraftFunctions.call("normalize_nfc", col("injected"))))
          .cast("long").as("n_composed"))
      .orderBy(col("doc_id"))
  }


  /** Gopher-style repetition profile over the documents corpus: top- and
    * duplicate-bigram mass per document — the quality heuristic that
    * catches boilerplate and degenerate text that per-token stats (q29)
    * can't see. Exact long/long fractions, so the oracle divides the
    * same integers.
    */
  private def q64Repetition(s: SparkSession, dir: String): DataFrame =
    graft.functions.TextFunctions.repetitionStats(t(s, dir, "documents"), "doc_id", "text", 2)
      .select(col("doc_id"), col("n_grams"),
        round(col("top_frac"), 6).as("top_frac"),
        round(col("dup_frac"), 6).as("dup_frac"))
      .orderBy(col("doc_id"))


  /** URL canonicalization: two deterministically mangled spellings of
    * the same page per document (case-shuffled host, tracking params,
    * fragment, trailing slash) must normalize to the SAME canonical URL
    * — the prerequisite for page-level dedup keyed on URLs. The oracle
    * re-runs the identical normalization chain in SQL and checks both
    * the canonical md5 and the a==b collapse per row.
    */
  private def q71UrlNormalize(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.normalizeUrl
    val raw = t(s, dir, "documents").select(col("doc_id"),
      concat(lit("HTTPS://Example.COM/docs/"), col("doc_id"),
        lit("/?utm_source=feed&ref=rss#top")).as("__a"),
      concat(lit("https://example.com/docs/"), col("doc_id")).as("__b"))
    raw.select(col("doc_id"),
        md5(normalizeUrl(col("__a"))).as("norm_md5"),
        (normalizeUrl(col("__a")) === normalizeUrl(col("__b"))).as("canonical_match"))
      .orderBy(col("doc_id"))
  }


  /** Vocabulary induction: the global token table (collection frequency
    * + document frequency), top-100 by tf — tokenizer-vocab / stop-word
    * discovery over the corpus. One explode + one partial-aggregated
    * hash agg; the top-k is a TakeOrderedAndProject, never a global
    * sort. Deterministic tie-break on the token itself.
    */
  private def q72VocabTopk(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scoring.vocabTable(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(desc("tf"), asc("token"))
      .limit(100)


  /** Bigram PMI collocation mining: adjacent token pairs scored by
    * pointwise mutual information (count floor 5), top-100. Bigrams are
    * generated map-side per token array (no token-table self-join); the
    * counts aggregate to vocabulary size before any join. Determinism:
    * (pmi desc, word_a, word_b) full tie-break at the limit boundary.
    */
  private def q75PmiCollocations(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scoring.pmiCollocations(t(s, dir, "documents"), "text", minCount = 5)
      .select(col("word_a"), col("word_b"), col("c_ab"), round(col("pmi"), 6).as("pmi"))
      .orderBy(desc("pmi"), col("word_a"), col("word_b"))
      .limit(100)


  /** Model-based quality scoring: fixed-weight logistic model over the
    * one-pass token-stats kernel (log tokens, unique ratio, mean token
    * length, stopword ratio) — pure map-side inference, zero shuffle.
    * The oracle recomputes the full feature vector and the sigmoid.
    */
  private def q78QualityModel(s: SparkSession, dir: String): DataFrame =
    graft.functions.TextFunctions.qualityModelTable(t(s, dir, "documents"),
        "doc_id", "text", stopwords = Seq("the", "a", "and", "of", "to"))
      .select(col("doc_id"), round(col("score"), 6).as("score"), col("keep"))
      .orderBy(col("doc_id"))


  /** Per-document token-distribution Shannon entropy (bits) via the
    * fused n-gram kernel's Σc·ln c — the information-density quality
    * signal; map-side, zero shuffle (the declarative two-agg form is
    * the kernel's executable spec and the oracle's formulation).
    */
  private def q79TokenEntropy(s: SparkSession, dir: String): DataFrame =
    graft.functions.TextFunctions.tokenEntropyTable(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_grams"), round(col("entropy_bits"), 6).as("entropy_bits"))
      .orderBy(col("doc_id"))


  /** Real RIFF/WAVE PCM decode: synthetic audio payloads are genuine
    * WAV files ([[graft.operators.Multimodal.synthWav]]); duration/
    * peak/sum-of-squares/RMS come from parsing the actual chunk list
    * and PCM bytes. Oracle-checked: the sample values are pure
    * arithmetic in (media_id, flat index), so DuckDB reproduces every
    * column — the integer stats exactly, RMS to 6 rounded decimals.
    */
  private def q109AudioFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.synthesize(s, 300).filter(col("modality") === "audio")
    Multimodal.audioStats(media).toDF()
      .select(col("mediaId").as("media_id"),
        col("sampleRate").as("sample_rate"), col("channels"),
        col("bits"), col("nFrames").as("n_frames"),
        col("durationUs").as("duration_us"), col("peak"),
        col("sumSq").as("sum_sq"), round(col("rms"), 6).as("rms"))
      .orderBy(col("media_id"))
  }


  /** Real ISO BMFF (MP4) metadata extraction over genuine container
    * payloads: the box walk (size==1 largesize, size==0 terminal box,
    * and mdat-before-moov layouts are all exercised ON DISK across the
    * synth corpus), mvhd movie clock (32- and 64-bit versions), the
    * video trak's tkhd 16.16 dims, stsd codec fourcc, stsz frame
    * count. Oracle-checked: the synth geometry is pure arithmetic in
    * media_id ([[graft.operators.Multimodal.synthMp4Geom]]), so DuckDB
    * restates every column in closed form.
    */
  private def q110VideoMetadata(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.synthesize(s, 300).filter(col("modality") === "video")
    Multimodal.videoMetadata(media).toDF()
      .select(col("mediaId").as("media_id"), col("codec"),
        col("timescale"), col("durationTicks").as("duration_ticks"),
        col("width"), col("height"), col("nFrames").as("n_frames"),
        col("durationUs").as("duration_us"))
      .orderBy(col("media_id"))
  }


  /** Bigram-LM cross-entropy per document (the KenLM-shaped perplexity
    * quality filter, corpus-as-model): MLE bigram probabilities fit on
    * the whole corpus in one explode pass, each doc scored by the mean
    * -log2 P(w2|w1) of its own bigrams. Per-doc multiplicities collapse
    * before any join; both model tables are vocab-bounded aggregates.
    * The oracle restates the identical ratio arithmetic.
    */
  private def q112LmCrossEntropy(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scoring
    Scoring.bigramCrossEntropy(t(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_bigrams"),
        round(col("cross_entropy"), 6).as("cross_entropy"))
      .orderBy(col("doc_id"))
  }

  /** Interpolated Kneser-Ney bigram perplexity
    * ([[graft.operators.Scoring.kneserNeyBigram]] — Kneser & Ney '95,
    * Chen & Goodman '98): the standard discount-plus-continuation
    * smoothing behind KenLM-class quality filters, self-scored on the
    * corpus. Every distinct bigram type's probability is one fixed-
    * parenthesization double expression quantized to integer
    * micro-logs, doc totals are exact long sums, and the oracle
    * rebuilds all four type-level count tables (c12, c1, the two
    * continuation-type counts) and replays the identical arithmetic —
    * scores, not just shapes, hash-match.
    */
  private def q261KneserNey(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Scoring
    Scoring.kneserNeyBigram(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("doc_id"))
  }


  /** Frame sampling over real MP4 sample tables: every 2nd sample's
    * byte extent + decode timestamp, resolved from the actual stsz/
    * stsc/stco/stts boxes ([[graft.operators.Multimodal.mp4SampleTable]]),
    * with a signed-byte checksum of the REAL bytes at the resolved
    * offset — the range a real pipeline hands to the codec. The synth
    * geometry is closed-form in media_id, so DuckDB restates every
    * column including the checksum (the mdat byte at flat index j is
    * (i·31 + j·7) mod 251, signed).
    */
  private def q119FrameSample(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.synthesize(s, 300).filter(col("modality") === "video")
    Multimodal.frameSamples(media, stride = 2).toDF()
      .select(col("mediaId").as("media_id"), col("sampleIdx").as("sample_idx"),
        col("chunkIdx").as("chunk_idx"), col("size"),
        col("offsetInChunk").as("offset_in_chunk"),
        col("dtsTicks").as("dts_ticks"), col("dtsUs").as("dts_us"),
        col("sync"), col("byteSum").as("byte_sum"))
      .orderBy(col("media_id"), col("sample_idx"))
  }


  /** Real learned-subword tokenization ([[graft.operators.Bpe]],
    * Sennrich 2016), replacing the q_tokens regex approximation for
    * token accounting: 200 merges trained on the corpus's own word
    * frequencies (distributed count, bounded-vocab driver loop), then
    * map-side encode with per-partition word memoization. Training is
    * iterative, so the CROSS-ENGINE row is the LOSSLESSNESS round-trip
    * replayed per document: detokenizing the emitted tokens (join,
    * `</w>` → space, rtrim) must reproduce the whitespace-normalized
    * lowercase original, whose md5 and word count DuckDB restates
    * verbatim — any merge/encode corruption breaks the round-trip and
    * fails the hash gate. BpeSpec additionally pins the paper's worked
    * merge sequence.
    */
  private def q124BpeTokenize(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    val docs = t(s, dir, "documents")
    val model = Bpe.train(docs, "text", numMerges = 200)
    val norm = docs.select(col("doc_id").cast("long").as("id"),
      concat_ws(" ", filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))).as("__norm"))
    Bpe.encode(docs, "doc_id", "text", model).toDF()
      .join(norm, Seq("id"))
      .select(col("id").as("doc_id"),
        md5(col("__norm")).as("norm_md5"),
        size(filter(split(col("__norm"), " "), w => w =!= lit(""))).as("n_words"),
        (rtrim(replace(concat_ws("", col("tokens")), lit(Bpe.EndOfWord), lit(" ")))
          === col("__norm")).as("lossless"))
      .orderBy(col("doc_id"))
  }

  /** Byte-level BPE ([[graft.operators.Bpe.trainBytes]]/`encodeBytes`
    * — the GPT-2 convention): the base alphabet is the 256 byte
    * values, so EVERY string — emoji, CJK, control chars — tokenizes
    * with zero possible OOV, where q124's char+`</w>` model and the
    * q250 unigram LM both fall back to per-char/UNK handling. The
    * cross-engine row is the strongest round-trip the family has:
    * detokenizing must reproduce the ORIGINAL text exactly (not the
    * whitespace-normalized lowercase q124 settles for), whose md5 and
    * UTF-8 byte length DuckDB restates verbatim — any merge, encode,
    * pretokenize, or byte-table corruption breaks the per-document
    * hash gate. BpeSpec pins the published byte-table landmarks
    * (space→Ġ, \n→Ċ, \t→ĉ) and a hand-computed merge sequence.
    */
  private def q256ByteBpe(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bpe
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val model = Bpe.trainBytes(docs, "text", numMerges = 200)
    val decode = udf((tokens: Seq[String]) => Bpe.decodeBytes(tokens))
    Bpe.encodeBytes(docs, "doc_id", "text", model).toDF()
      .join(docs.select(col("doc_id").cast("long").as("id"), col("text")), Seq("id"))
      .withColumn("__nt", size(col("tokens")).cast("long"))
      .withColumn("__nb", octet_length(col("text")).cast("long"))
      .select(col("id").as("doc_id"),
        md5(col("text")).as("text_md5"),
        col("__nb").as("n_bytes"),
        // token counts aren't SQL-replayable (training is iterative),
        // but their BOUNDS are: merges only ever shrink the sequence,
        // so 1 ≤ n_tokens ≤ n_bytes on non-empty text — the banded
        // verdict the oracle asserts TRUE (the q124 convention)
        (col("__nt") <= col("__nb") &&
          (col("__nb") === 0 || col("__nt") >= 1)).as("tokens_bounded"),
        (decode(col("tokens")) === col("text")).as("lossless"))
      .orderBy(col("doc_id"))
  }


  /** WordPiece ([[graft.operators.WordPiece]] — the BERT tokenizer),
    * completing the subword family triptych next to merge-replay BPE
    * (q124/q256) and the unigram LM (q250): merges are learned by the
    * LIKELIHOOD score count(ab)∕(count(a)·count(b)) and encoding is
    * greedy longest-match-first with `##` continuations. The base
    * alphabet is collected from the FULL corpus, so greedy matching
    * always has the single-character floor and the training corpus
    * encodes with ZERO `[UNK]` — the cross-engine rows are the q124
    * convention: DuckDB restates the normalized text's md5, word and
    * char counts verbatim; zero-UNK, the n_words ≤ n_tokens ≤ n_chars
    * band, and detokenization losslessness are the engine-side
    * verdicts asserted TRUE per document. WordPieceSpec pins the
    * Hugging Face worked example (the (##g,##s) 1∕20 winner over every
    * 1∕36 pair) and the greedy "unaffable" decomposition.
    */
  private def q262WordPiece(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.WordPiece
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val model = WordPiece.train(docs, "text", numMerges = 200)
    val decode = udf((tokens: Seq[String]) => WordPiece.decode(tokens))
    val norm = docs.select(col("doc_id").cast("long").as("id"),
      concat_ws(" ", filter(split(lower(trim(col("text"))), "\\s+"),
        w => w =!= lit(""))).as("__norm"))
    WordPiece.encode(docs, "doc_id", "text", model).toDF()
      .join(norm, Seq("id"))
      .withColumn("__nt", size(col("tokens")))
      .withColumn("__nw", size(filter(split(col("__norm"), " "), w => w =!= lit(""))))
      .withColumn("__nc", length(replace(col("__norm"), lit(" "), lit(""))))
      .select(col("id").as("doc_id"),
        md5(col("__norm")).as("norm_md5"),
        col("__nw").as("n_words"),
        col("__nc").as("n_chars"),
        ((col("__nw") === 0 && col("__nt") === 0) ||
          (col("__nt") >= col("__nw") && col("__nt") <= col("__nc"))).as("tokens_bounded"),
        (!array_contains(col("tokens"), WordPiece.Unk)).as("zero_unk"),
        (decode(col("tokens")) === col("__norm")).as("lossless"))
      .orderBy(col("doc_id"))
  }


  /** Real image downsampling ([[graft.operators.Multimodal.imagePool]]):
    * 4×4 box-mean thumbnails over actually-decoded BMP pixels — the
    * resize kernel a vision pipeline runs before embedding, with
    * payloads reduced in-partition. The synthetic corpus pins every
    * pixel byte in closed form ((i·31 + 7p) mod 251, the q36
    * convention), so the oracle recomputes every cell mean exactly.
    */
  private def q134ImagePool(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.synthesize(s, 300)
    Multimodal.imagePool(media, gridW = 4, gridH = 4).toDF()
      .select(col("mediaId").as("media_id"), col("cellX").as("cell_x"),
        col("cellY").as("cell_y"),
        round(col("rMean"), 4).as("r_mean"),
        round(col("gMean"), 4).as("g_mean"),
        round(col("bMean"), 4).as("b_mean"))
      .orderBy(col("media_id"), col("cell_y"), col("cell_x"))
  }


  /** Real audio spectral features
    * ([[graft.operators.Multimodal.audioSpectrum]]): DFT bin energies
    * over actually-decoded WAV channel-0 samples, log-compressed. The
    * synthetic samples are closed-form ((i·31 + 7j) mod 251 − 125), so
    * the oracle replays decode, trig weighting and normalization
    * exactly — the ln keeps the cross-engine float round stable.
    */
  private def q136AudioSpectrum(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.synthesize(s, 300)
    Multimodal.audioSpectrum(media, bins = Seq(1, 2, 4, 8))
      .select(col("media_id"), col("bin"),
        round(col("log_power"), 6).as("log_power"))
      .orderBy(col("media_id"), col("bin"))
  }


  /** Stupid Backoff trigram scoring
    * ([[graft.operators.Scoring.stupidBackoff]]): model fit on the 90%
    * hash-train partition, the held-out 10% scored with real backoff
    * traffic (unseen trigrams fall to α-discounted bigrams, unigrams,
    * then the OOV floor). The oracle rebuilds all three count tables
    * and replays the backoff CASE, the α arithmetic (explicit DOUBLE
    * casts so DuckDB's decimal literals don't diverge from JVM
    * doubles), and the mean negative log2.
    */
  private def q161StupidBackoff(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Sampling, Scoring}
    val docs = t(s, dir, "documents")
    val train = docs.filter(Sampling.hashBucket(col("doc_id")) < 9000)
    val heldOut = docs.filter(Sampling.hashBucket(col("doc_id")) >= 9000)
    Scoring.stupidBackoff(train, heldOut, "doc_id", "text")
      .select(col("doc_id"), col("n_trigrams"),
        round(col("sb_cost"), 6).as("sb_cost"))
      .orderBy(col("doc_id"))
  }


  /** Perceptual dHash over the synthetic BMP corpus
    * ([[graft.operators.Multimodal.imageDHash]]): real 24-bit BMP
    * decode → 9×8 integer-luma grid → 64 difference bits, rendered as
    * hex. Everything is integer arithmetic over the known pixel
    * generator, so the oracle reconstructs every bit from the closed
    * form (the q134 pattern, hardened from means to exact bits).
    */
  private def q163ImageDhash(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.imageDHash(Multimodal.synthesize(s, 300))
      .orderBy(col("media_id"))
  }


  /** dHash brightness invariance ([[graft.operators.Multimodal]]):
    * every image hashed twice — raw and channel-shifted by +24
    * (clamped at 255) — and the per-image hamming distance between the
    * two hashes. The difference structure cancels a constant shift, so
    * hamming is 0 except where clamping at white actually bends a
    * comparison; the oracle replays the clamp and recounts differing
    * bits directly.
    */
  private def q164DhashInvariance(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val media = Multimodal.synthesize(s, 300)
    val a = Multimodal.imageDHashRaw(media, delta = 0)
      .withColumnRenamed("dhash64", "h0")
    val b = Multimodal.imageDHashRaw(media, delta = 24)
      .withColumnRenamed("dhash64", "h24")
    a.join(b, "media_id")
      .select(col("media_id"),
        expr("bit_count(h0 ^ h24)").cast("long").as("hamming"))
      .orderBy(col("media_id"))
  }


  /** Code-identifier tokenization
    * ([[graft.functions.TextFunctions.codeTokens]]): each document's
    * alpha tokens (length ≥ 2 — single letters camelCase into
    * unsplittable capital runs) are camelCased into one identifier and
    * the tokenizer must recover them exactly — the oracle asserts the
    * round-trip identity (count + joined md5), so any
    * boundary-splitting bug breaks the hash.
    */
  private def q195CodeTokens(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions
    val alpha = filter(split(lower(trim(col("text"))), "\\s+"),
      t => t.rlike("^[a-z]{2,}$"))
    val ident = concat_ws("",
      transform(alpha, t => initcap(t)))
    t(s, dir, "documents")
      .withColumn("__alpha", alpha)
      .withColumn("recovered", TextFunctions.codeTokens(ident))
      .select(col("doc_id"),
        size(col("__alpha")).cast("long").as("n_alpha"),
        size(col("recovered")).cast("long").as("n_recovered"),
        (col("recovered") === col("__alpha")).as("ok"),
        md5(concat_ws(" ", col("recovered"))).as("toks_md5"))
      .orderBy(col("doc_id"))
  }


  /** Sentence BLEU-4 over deterministic adjacent-doc pairs
    * ([[graft.operators.TextEval.bleu]]): each document scored as a
    * "candidate" against the next doc id in its source (lead window —
    * the SQL-replayable pair harness), with clipped n-gram counts
    * m1..m4 from the one-pass [[graft.expressions.NgramOverlapStats]]
    * kernel, Lin–Och add-one smoothing for n ≥ 2, and the brevity
    * penalty on unigram lengths. Map-side per pair — the whole metric
    * is a projection; the oracle replays grams, clipping, smoothing,
    * BP and the geometric mean in SQL.
    */
  private def q198Bleu(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextEval
    val pairs = TextEval.adjacentPairs(t(s, dir, "documents"), "doc_id", "text", "source")
    TextEval.bleu(pairs, "cand_text", "ref_text", maxN = 4)
      .select(col("cand_id"), col("ref_id"), col("c_len"), col("r_len"),
        col("m1"), col("m2"), col("m3"), col("m4"), col("bp"), col("bleu"))
      .orderBy(col("cand_id"))
  }


  /** ROUGE-1/ROUGE-2 precision/recall/F1 over the same adjacent-doc
    * pair harness ([[graft.operators.TextEval.rougeN]]): one row per
    * (pair, n) with the clipped overlap and both denominators — the
    * summarization-eval complement to q198's precision-side BLEU. Same
    * map-side kernel, one extra explode over the ≤2 per-order structs.
    */
  private def q199Rouge(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextEval
    val pairs = TextEval.adjacentPairs(t(s, dir, "documents"), "doc_id", "text", "source")
    TextEval.rougeN(pairs, "cand_text", "ref_text", ns = Seq(1, 2))
      .select(col("cand_id"), col("ref_id"), col("n"), col("overlap"),
        col("cand_total"), col("ref_total"),
        col("precision"), col("recall"), col("f1"))
      .orderBy(col("cand_id"), col("n"))
  }


  /** Micro-averaged corpus BLEU per source
    * ([[graft.operators.TextEval.corpusBleu]]): clipped counts and
    * totals summed across each source's adjacent pairs BEFORE the
    * precision ratios, corpus brevity penalty on the summed lengths —
    * the corpus-level number a generation pipeline gates on. All
    * aggregation over exact longs; the oracle replays sums, smoothing,
    * BP and the geometric mean.
    */
  private def q200CorpusBleu(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextEval
    TextEval.corpusBleu(t(s, dir, "documents"), "doc_id", "text", "source", maxN = 4)
      .orderBy(col("source"))
  }


  /** Self-BLEU per source ([[graft.operators.TextEval.selfBleu]]):
    * mean sentence BLEU over each source's adjacent pairs — the
    * corpus-diversity gauge (lower = more diverse). The mean is over
    * integer BLEU-micros so it is order-independent and the oracle
    * replays it exactly.
    */
  private def q201SelfBleu(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextEval
    TextEval.selfBleu(t(s, dir, "documents"), "doc_id", "text", "source", maxN = 4)
      .orderBy(col("source"))
  }


  /** PNG dHash ([[graft.operators.Multimodal.imageDHash]] over
    * [[graft.operators.Multimodal.synthesizeImages]] "png"): the SAME
    * closed-form pixels as q163's BMPs, but encoded as real PNGs and
    * decoded through the JDK's ImageIO. PNG is lossless, so the oracle
    * is q163's bit-for-bit closed-form reconstruction UNCHANGED — a
    * hash match pins the whole codec path (PNG encode → ImageIO decode
    * → luma pool → 64 difference bits) to the generator.
    */
  private def q202PngDhash(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.imageDHash(Multimodal.synthesizeImages(s, 300, "png"))
      .orderBy(col("media_id"))
  }


  /** JPEG perceptual stability ([[graft.operators.Multimodal]]): every
    * logical image hashed twice — losslessly (BMP byte path) and
    * through a real JPEG encode/decode round trip — and gated on
    * hamming <= 16 of 64 bits. dHash is DESIGNED to survive lossy
    * re-encodes; measured worst case on this corpus (mod-251 noise,
    * JPEG's hardest input) is 8 bits. The oracle pins the verdict
    * column (the q152 recall-verdict convention — codec output isn't
    * SQL-expressible, the engine must earn the TRUEs).
    */
  private def q203JpegDhashStability(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    val ref = Multimodal.imageDHashRaw(Multimodal.synthesizeImages(s, 300, "bmp"))
      .withColumnRenamed("dhash64", "h_ref")
    val jpg = Multimodal.imageDHashRaw(Multimodal.synthesizeImages(s, 300, "jpeg"))
      .withColumnRenamed("dhash64", "h_jpeg")
    ref.join(jpg, "media_id")
      .select(col("media_id"),
        (expr("bit_count(h_ref ^ h_jpeg)") <= 16).as("within_16_bits"))
      .orderBy(col("media_id"))
  }


  /** PNG box-mean pooling ([[graft.operators.Multimodal.imagePool]]):
    * q134's 4×4 thumbnail kernel over PNG payloads decoded by ImageIO
    * — lossless, so every channel mean replays q134's closed-form
    * oracle exactly. Pins pooling through the codec path down to the
    * double.
    */
  private def q204PngPool(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.imagePool(Multimodal.synthesizeImages(s, 300, "png"), 4, 4).toDF()
      .select(col("mediaId").as("media_id"), col("cellX").as("cell_x"),
        col("cellY").as("cell_y"),
        round(col("rMean"), 4).as("r_mean"),
        round(col("gMean"), 4).as("g_mean"),
        round(col("bMean"), 4).as("b_mean"))
      .orderBy(col("media_id"), col("cell_y"), col("cell_x"))
  }


  /** chrF2 over the adjacent-pair harness
    * ([[graft.operators.TextEval.chrF]]): character n-gram
    * precision/recall macro-averaged over orders 1..6, recall-weighted
    * F (β = 2) — the tokenization-robust MT metric. Same map-side
    * kernel as BLEU with single characters as tokens; whitespace
    * stripped first. The oracle replays char grams, clipping, the
    * all-orders average, and the β-weighted F exactly.
    */
  private def q205Chrf(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextEval
    val pairs = TextEval.adjacentPairs(t(s, dir, "documents"), "doc_id", "text", "source")
    TextEval.chrF(pairs, "cand_text", "ref_text", maxN = 6, beta = 2.0)
      .select(col("cand_id"), col("ref_id"), col("c_chars"), col("r_chars"),
        col("chr_p"), col("chr_r"), col("chrf"))
      .orderBy(col("cand_id"))
  }


  /** ROUGE-L over the adjacent-pair harness
    * ([[graft.operators.TextEval.rougeL]]): LCS-based precision /
    * recall / F1 — the in-order skeleton metric completing the
    * generation-eval family (BLEU q198, ROUGE-N q199, corpus/self
    * q200/q201, chrF q205). The oracle replays the FULL LCS dynamic
    * program as a recursive anti-diagonal CTE (each diagonal depends
    * only on the two before it, so the whole diagonal is one
    * list_transform) and then the metric arithmetic.
    */
  private def q206RougeL(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextEval
    val pairs = TextEval.adjacentPairs(t(s, dir, "documents"), "doc_id", "text", "source")
    TextEval.rougeL(pairs, "cand_text", "ref_text", beta = 1.0)
      .select(col("cand_id"), col("ref_id"), col("c_len"), col("r_len"),
        col("lcs"), col("precision"), col("recall"), col("rouge_l"))
      .orderBy(col("cand_id"))
  }


  /** Word error rate over the adjacent-pair harness
    * ([[graft.operators.TextEval.wer]]): unit-cost token Levenshtein
    * distance over reference length — the transcription-quality gate.
    * The oracle replays the full edit-distance dynamic program with
    * the same recursive anti-diagonal CTE technique as q206's LCS
    * (min instead of max, +1 edit costs, j/i base rows).
    */
  private def q207Wer(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextEval
    val pairs = TextEval.adjacentPairs(t(s, dir, "documents"), "doc_id", "text", "source")
    TextEval.wer(pairs, "cand_text", "ref_text")
      .select(col("cand_id"), col("ref_id"), col("h_len"), col("r_len"),
        col("edits"), col("wer"))
      .orderBy(col("cand_id"))
  }


  /** One-scan generation-eval datacard
    * ([[graft.operators.TextEval.generationEvalSummary]]): per source,
    * the mean sentence BLEU-4, chrF2, ROUGE-L F1 and WER over the
    * adjacent pairs — all four metrics composed as projections over
    * the SAME pair row, so the whole datacard costs one corpus scan,
    * one window shuffle, one aggregate (vs four separate queries).
    * Means over integer metric-micros (exact, order-independent). The
    * oracle wraps the four per-pair metric oracles as CTEs and joins
    * them — every number is replayed end to end.
    */
  private def q208EvalRollup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextEval
    TextEval.generationEvalSummary(t(s, dir, "documents"), "doc_id", "text", "source")
      .orderBy(col("source"))
  }


  /** Unicode tokenizer degradation/round-trip pin
    * ([[graft.expressions.UnicodeTokens]] behind the
    * [[graft.functions.Tokenize]] seam): on the oracle corpus (pure
    * single-space ASCII) the UAX#29 tokenizer must degrade EXACTLY to
    * whitespace tokens — count, joined-tokens md5, and an engine-side
    * token-array equality verdict are all replayed by DuckDB, and
    * character conservation is pinned by md5 over the space-stripped
    * text. The CJK/Thai segmentation itself is not SQL-expressible;
    * it is spec-pinned by UnicodeTokensSpec's hand-segmented fixtures
    * (the q124/q195 oracle convention).
    */
  private def q209UnicodeTokens(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Tokenize
    t(s, dir, "documents")
      .withColumn("__u", Tokenize.tokens(col("text"), Tokenize.Unicode))
      .select(col("doc_id"),
        size(col("__u")).cast("long").as("n_tokens"),
        md5(concat_ws(" ", col("__u"))).as("toks_md5"),
        (col("__u") ===
          Tokenize.tokensSpaceSplit(col("text"), Tokenize.Whitespace)).as("ws_equal"),
        md5(concat_ws("", col("__u"))).as("chars_md5"))
      .orderBy(col("doc_id"))
  }


  /** Chao1 vocabulary estimate through the Unicode tokenizer seam
    * ([[graft.operators.CorpusStats.chao1]] with
    * [[graft.functions.Tokenize.Unicode]]): the q181 estimator with
    * the native UAX#29 tokenizer in place of whitespace split —
    * DuckDB replays the whole explode+aggregate path, pinning that
    * the seam is a drop-in (identical vocabulary on ASCII; real
    * vocabulary instead of whole clauses on CJK/Thai, spec-pinned).
    */
  private def q210UnicodeVocab(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.CorpusStats
    import graft.functions.Tokenize
    CorpusStats.chao1(t(s, dir, "documents"), "text", Tokenize.Unicode)
      .select(col("n_tokens"), col("vocab"), col("f1"), col("f2"),
        round(col("chao1"), 6).as("chao1"))
  }


  /** The deterministic TWO-reference pair harness shared by q211/q212:
    * each doc as candidate against the next two doc ids in its source
    * (lead-1/lead-2 windows — the q198 harness widened), rows lacking
    * two references dropped.
    */
  private def multiRefPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("cand_id"))
    t(s, dir, "documents")
      .select(col("doc_id").as("cand_id"), col("text").as("cand_text"), col("source"))
      .withColumn("__r1", lead(col("cand_text"), 1).over(w))
      .withColumn("__r2", lead(col("cand_text"), 2).over(w))
      .filter(col("__r2").isNotNull)
      .select(col("cand_id"), col("cand_text"),
        array(col("__r1"), col("__r2")).as("refs"))
  }


  /** Multi-reference sentence BLEU-4
    * ([[graft.operators.TextEval.bleuMulti]] on
    * [[graft.expressions.NgramOverlapStatsMulti]]): clipping against
    * the per-gram MAX count over both references (Papineni §2.1 — the
    * form real eval sets need), brevity penalty on the closest-length
    * reference with ties to the shorter. The oracle replays the
    * max-merged gram tables, the effective-length CASE, and the q198
    * smoothing/BP/geomean in SQL.
    */
  private def q211BleuMulti(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextEval
    TextEval.bleuMulti(multiRefPairs(s, dir), "cand_text", "refs", maxN = 4)
      .select(col("cand_id"), col("c_len"), col("r_len"),
        col("m1"), col("m2"), col("m3"), col("m4"), col("bp"), col("bleu"))
      .orderBy(col("cand_id"))
  }


  /** Multi-reference ROUGE-1/2
    * ([[graft.operators.TextEval.rougeNMulti]]): per (pair, n) the MAX
    * per-reference F1 (Lin '04 — ROUGE picks the best whole reference,
    * unlike BLEU's per-gram merge), ties to the lowest reference
    * index; entirely map-side (per-ref kernels inside a row-local
    * transform, argmax via array_max over (f1, −idx) structs). The
    * oracle replays both per-reference score sets and the argmax as a
    * window.
    */
  private def q212RougeMulti(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextEval
    TextEval.rougeNMulti(multiRefPairs(s, dir), "cand_text", "refs", ns = Seq(1, 2))
      .select(col("cand_id"), col("n"), col("ref_idx"), col("overlap"),
        col("cand_total"), col("ref_total"),
        col("precision"), col("recall"), col("f1"))
      .orderBy(col("cand_id"), col("n"))
  }


  /** GIF dHash ([[graft.operators.Multimodal.imageDHash]] over
    * [[graft.operators.Multimodal.synthesizeGifImages]]): real GIF89a
    * payloads decoded through the JDK's ImageIO (first frame for
    * animated — spec-pinned). GIF's 256-color ceiling means the pixels
    * are a 16-color closed-form palette pattern instead of q163's
    * full-color noise — drawn into an exact indexed color model, so
    * the encode is verbatim and the oracle reconstructs every luma,
    * cell mean and difference bit from the palette formula (the q202
    * lossless-codec contract, third format).
    */
  private def q215GifDhash(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Multimodal
    Multimodal.imageDHash(Multimodal.synthesizeGifImages(s, 300))
      .orderBy(col("media_id"))
  }


  /** Sentence-aware chunking verdicts
    * ([[graft.operators.Chunking.sentenceChunks]] /
    * [[graft.expressions.SentenceChunks]]): UAX#29 sentences packed
    * greedily to ≤ 64 whitespace tokens without ever splitting a
    * sentence. Segmentation itself is not SQL-replayable, so the
    * oracle pins the invariants that ARE (the q209 md5-verdict
    * convention): chunks concatenate back to the document
    * byte-for-byte (md5 identity), chunk token counts sum to the
    * document's whitespace token count, and every chunk is within
    * budget or a single oversized sentence. Sentence boundaries are
    * spec-pinned on hand-segmented fixtures (incl. CJK 。).
    */
  private def q217SentenceChunks(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "documents")
      .filter(col("text").isNotNull && col("text") =!= "")
      .withColumn("__c", GraftFunctions.call("sentence_chunks", col("text"), lit(64)))
      .select(col("doc_id"),
        md5(concat_ws("", transform(col("__c"), c => c.getField("chunk"))))
          .as("chunks_md5"),
        aggregate(col("__c"), lit(0L),
          (acc, c) => acc + c.getField("n_tokens")).as("tok_total"),
        forall(col("__c"),
          c => c.getField("n_tokens") <= 64 || c.getField("n_sentences") === 1)
          .as("ok_budget"))
      .orderBy(col("doc_id"))
  }


  /** Multi-reference WER ([[graft.operators.TextEval.werMulti]]): the
    * hypothesis scores its BEST (minimum-WER) reference of the two,
    * ties to the lowest index — the ASR/sclite convention, closing the
    * multi-reference eval family (BLEU q211, ROUGE q212). Map-side:
    * per-ref token-Levenshtein kernels inside a row-local transform,
    * argmin via array_min over (wer, idx) structs. The oracle replays
    * BOTH references' full edit-distance DPs (the q207 recursive
    * anti-diagonal CTE keyed by (cand, ref)) and the argmin window.
    */
  private def q218WerMulti(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextEval
    TextEval.werMulti(multiRefPairs(s, dir), "cand_text", "refs")
      .select(col("cand_id"), col("h_len"), col("ref_idx"), col("r_len"),
        col("edits"), col("wer"))
      .orderBy(col("cand_id"))
  }


  /** The blocklist patterns shared by q219's query and oracle: single
    * words, multi-word phrases (matches cross word boundaries), a
    * self-overlapping phrase ("batch batch" occurs TWICE in "batch
    * batch batch"), and a nested pair ("sort" inside "window sort" —
    * both counted at the same text position via the dictionary-suffix
    * emit chain).
    */
  private val blocklistPatterns =
    Seq("vector", "sort", "window sort", "batch batch", "customer", "hash join")


  /** Blocklist screening ([[graft.operators.Blocklist.annotate]]): one
    * Aho–Corasick pass per document counting EVERY occurrence of every
    * banned term — O(len + matches) independent of blocklist size,
    * map-side, zero shuffle beyond the output sort. The oracle
    * brute-forces the same all-occurrence counts per pattern with a
    * position-range substring scan (overlaps included), so the
    * automaton's goto/fail/emit construction is value-pinned end to
    * end.
    */
  private def q219Blocklist(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Blocklist
    val named = blocklistPatterns.map(p => "hits_" + p.replace(' ', '_'))
    val out = Blocklist.annotate(
      t(s, dir, "documents").select(col("doc_id"), col("text")),
      "text", blocklistPatterns)
    named.zipWithIndex.foldLeft(out) { case (df, (name, i)) =>
        df.withColumn(name, element_at(col("hits"), i + 1))
      }
      .select(col("doc_id") +: col("hits_total") +: col("patterns_hit") +:
        col("blocked") +: named.map(col): _*)
      .orderBy(col("doc_id"))
  }


  /** The q211/q212 TWO-reference pair CTEs: tokenized docs, lead-1 and
    * lead-2 references within the source, rows lacking two references
    * dropped (mirrors [[multiRefPairs]]).
    */
  private def multiRefPairCtes: String =
    """d AS (
      | SELECT doc_id, source,
      |  list_filter(string_split(lower(trim(text)), ' '), t -> t <> '') AS toks
      | FROM documents),
      |p AS (
      | SELECT doc_id AS cand_id, toks AS ct,
      |  lead(toks, 1) OVER w AS r1, lead(toks, 2) OVER w AS r2
      | FROM d WINDOW w AS (PARTITION BY source ORDER BY doc_id)),
      |pp AS (SELECT * FROM p WHERE r2 IS NOT NULL)""".stripMargin


  /** q198's oracle minus the final ORDER BY — composable as a CTE body
    * (the q208 rollup wraps all four per-pair metric oracles).
    */
  private def bleuPairOracle: String =
    s"""WITH $ngramClipCtes,
        |m AS (
        | SELECT t.cand_id,
        |  max(CASE WHEN t.n = 1 THEN t.c_tot END) AS c_len,
        |  max(CASE WHEN t.n = 1 THEN t.r_tot END) AS r_len,
        |  max(CASE WHEN t.n = 1 THEN COALESCE(cl.clipped, 0) END) AS m1,
        |  max(CASE WHEN t.n = 2 THEN COALESCE(cl.clipped, 0) END) AS m2,
        |  max(CASE WHEN t.n = 3 THEN COALESCE(cl.clipped, 0) END) AS m3,
        |  max(CASE WHEN t.n = 4 THEN COALESCE(cl.clipped, 0) END) AS m4,
        |  max(CASE WHEN t.n = 2 THEN t.c_tot END) AS ct2,
        |  max(CASE WHEN t.n = 3 THEN t.c_tot END) AS ct3,
        |  max(CASE WHEN t.n = 4 THEN t.c_tot END) AS ct4
        | FROM tot t LEFT JOIN cl ON t.cand_id = cl.cand_id AND t.n = cl.n
        | GROUP BY 1),
        |f AS (
        | SELECT pp.ref_id, m.*,
        |  CASE WHEN m.c_len = 0 THEN 0.0
        |       WHEN m.c_len > m.r_len THEN 1.0
        |       ELSE exp(1.0 - CAST(m.r_len AS DOUBLE) / m.c_len) END AS bp
        | FROM m JOIN pp ON m.cand_id = pp.cand_id)
        |SELECT cand_id, ref_id,
        | CAST(c_len AS BIGINT) AS c_len, CAST(r_len AS BIGINT) AS r_len,
        | CAST(m1 AS BIGINT) AS m1, CAST(m2 AS BIGINT) AS m2,
        | CAST(m3 AS BIGINT) AS m3, CAST(m4 AS BIGINT) AS m4,
        | round(bp, 6) AS bp,
        | round(CASE WHEN c_len = 0 OR m1 = 0 THEN 0.0
        |   ELSE bp * exp(ln(CAST(m1 AS DOUBLE) / c_len) / 4
        |               + ln(CAST(m2 + 1 AS DOUBLE) / (ct2 + 1)) / 4
        |               + ln(CAST(m3 + 1 AS DOUBLE) / (ct3 + 1)) / 4
        |               + ln(CAST(m4 + 1 AS DOUBLE) / (ct4 + 1)) / 4) END, 6) AS bleu
    |FROM f""".stripMargin


  /** q205's oracle minus the final ORDER BY. */
  private def chrfPairOracle: String =
    s"""WITH $chrClipCtes,
        |m AS (
        | SELECT t.cand_id,
        |  max(CASE WHEN t.n = 1 THEN t.c_tot END) AS c_chars,
        |  max(CASE WHEN t.n = 1 THEN t.r_tot END) AS r_chars,
        |  (((((max(CASE WHEN t.n = 1 THEN p END) + max(CASE WHEN t.n = 2 THEN p END))
        |    + max(CASE WHEN t.n = 3 THEN p END)) + max(CASE WHEN t.n = 4 THEN p END))
        |    + max(CASE WHEN t.n = 5 THEN p END)) + max(CASE WHEN t.n = 6 THEN p END)) / 6.0 AS chr_p,
        |  (((((max(CASE WHEN t.n = 1 THEN r END) + max(CASE WHEN t.n = 2 THEN r END))
        |    + max(CASE WHEN t.n = 3 THEN r END)) + max(CASE WHEN t.n = 4 THEN r END))
        |    + max(CASE WHEN t.n = 5 THEN r END)) + max(CASE WHEN t.n = 6 THEN r END)) / 6.0 AS chr_r
        | FROM (
        |  SELECT t.cand_id, t.n, t.c_tot, t.r_tot,
        |   CASE WHEN t.c_tot = 0 THEN 0.0
        |        ELSE CAST(COALESCE(cl.clipped, 0) AS DOUBLE) / t.c_tot END AS p,
        |   CASE WHEN t.r_tot = 0 THEN 0.0
        |        ELSE CAST(COALESCE(cl.clipped, 0) AS DOUBLE) / t.r_tot END AS r
        |  FROM tot t LEFT JOIN cl ON t.cand_id = cl.cand_id AND t.n = cl.n) t
        | GROUP BY 1)
        |SELECT m.cand_id, pp.ref_id,
        | CAST(c_chars AS BIGINT) AS c_chars, CAST(r_chars AS BIGINT) AS r_chars,
        | round(chr_p, 6) AS chr_p, round(chr_r, 6) AS chr_r,
        | round(CASE WHEN chr_p + chr_r = 0.0 THEN 0.0
        |   ELSE 5.0 * chr_p * chr_r / (4.0 * chr_p + chr_r) END, 6) AS chrf
        |FROM m JOIN pp ON m.cand_id = pp.cand_id""".stripMargin


  /** q206's oracle minus the final ORDER BY. */
  private def rougeLPairOracle: String =
    """WITH RECURSIVE d AS (
        | SELECT doc_id, source,
        |  list_filter(string_split(lower(trim(text)), ' '), t -> t <> '') AS toks
        | FROM documents),
        |p AS (
        | SELECT doc_id AS cand_id, toks AS ct,
        |  lead(doc_id) OVER w AS ref_id, lead(toks) OVER w AS rt
        | FROM d WINDOW w AS (PARTITION BY source ORDER BY doc_id)),
        |pp AS (SELECT cand_id, ref_id, ct, rt, len(ct) AS n, len(rt) AS m
        |       FROM p WHERE ref_id IS NOT NULL),
        |rec AS (
        | SELECT cand_id, n, m, ct, rt, CAST(1 AS BIGINT) AS d,
        |  list_transform(range(greatest(0, 1 - m), least(n, 1) + 1), x -> CAST(0 AS BIGINT)) AS cur,
        |  [CAST(0 AS BIGINT)] AS prev
        | FROM pp WHERE n + m >= 1
        | UNION ALL
        | SELECT cand_id, n, m, ct, rt, d + 1,
        |  list_transform(range(greatest(0, d + 1 - m), least(n, d + 1) + 1),
        |   i -> CASE
        |     WHEN i = 0 OR d + 1 - i = 0 THEN CAST(0 AS BIGINT)
        |     WHEN ct[CAST(i AS INT)] = rt[CAST(d + 1 - i AS INT)]
        |       THEN prev[CAST(i - 1 - greatest(0, d - 1 - m) + 1 AS INT)] + 1
        |     ELSE greatest(
        |       cur[CAST(i - 1 - greatest(0, d - m) + 1 AS INT)],
        |       cur[CAST(i - greatest(0, d - m) + 1 AS INT)]) END) AS cur,
        |  cur AS prev
        | FROM rec WHERE d < n + m),
        |lcs AS (SELECT cand_id, cur[1] AS lcs FROM rec WHERE d = n + m),
        |mt AS (
        | SELECT pp.cand_id, pp.ref_id,
        |  CAST(pp.n AS BIGINT) AS c_len, CAST(pp.m AS BIGINT) AS r_len,
        |  CAST(COALESCE(l.lcs, 0) AS BIGINT) AS lcs,
        |  CASE WHEN pp.n = 0 THEN 0.0
        |       ELSE CAST(COALESCE(l.lcs, 0) AS DOUBLE) / pp.n END AS p,
        |  CASE WHEN pp.m = 0 THEN 0.0
        |       ELSE CAST(COALESCE(l.lcs, 0) AS DOUBLE) / pp.m END AS r
        | FROM pp LEFT JOIN lcs l ON pp.cand_id = l.cand_id)
        |SELECT cand_id, ref_id, c_len, r_len, lcs,
        | round(p, 6) AS "precision", round(r, 6) AS recall,
        | round(CASE WHEN p + r = 0.0 THEN 0.0
        |   ELSE 2.0 * p * r / (r + 1.0 * p) END, 6) AS rouge_l
    |FROM mt""".stripMargin


  /** q207's oracle minus the final ORDER BY. */
  private def werPairOracle: String =
    """WITH RECURSIVE d AS (
        | SELECT doc_id, source,
        |  list_filter(string_split(lower(trim(text)), ' '), t -> t <> '') AS toks
        | FROM documents),
        |p AS (
        | SELECT doc_id AS cand_id, toks AS ct,
        |  lead(doc_id) OVER w AS ref_id, lead(toks) OVER w AS rt
        | FROM d WINDOW w AS (PARTITION BY source ORDER BY doc_id)),
        |pp AS (SELECT cand_id, ref_id, ct, rt, len(ct) AS n, len(rt) AS m
        |       FROM p WHERE ref_id IS NOT NULL),
        |rec AS (
        | SELECT cand_id, n, m, ct, rt, CAST(1 AS BIGINT) AS d,
        |  list_transform(range(greatest(0, 1 - m), least(n, 1) + 1),
        |   i -> CASE WHEN i = 0 THEN CAST(1 AS BIGINT) ELSE CAST(i AS BIGINT) END) AS cur,
        |  [CAST(0 AS BIGINT)] AS prev
        | FROM pp WHERE n + m >= 1
        | UNION ALL
        | SELECT cand_id, n, m, ct, rt, d + 1,
        |  list_transform(range(greatest(0, d + 1 - m), least(n, d + 1) + 1),
        |   i -> CASE
        |     WHEN i = 0 THEN CAST(d + 1 AS BIGINT)
        |     WHEN d + 1 - i = 0 THEN CAST(i AS BIGINT)
        |     ELSE least(
        |       prev[CAST(i - 1 - greatest(0, d - 1 - m) + 1 AS INT)]
        |         + (CASE WHEN ct[CAST(i AS INT)] = rt[CAST(d + 1 - i AS INT)] THEN 0 ELSE 1 END),
        |       least(
        |         cur[CAST(i - 1 - greatest(0, d - m) + 1 AS INT)] + 1,
        |         cur[CAST(i - greatest(0, d - m) + 1 AS INT)] + 1)) END) AS cur,
        |  cur AS prev
        | FROM rec WHERE d < n + m),
        |ed AS (SELECT cand_id, cur[1] AS edits FROM rec WHERE d = n + m),
        |mt AS (
        | SELECT pp.cand_id, pp.ref_id,
        |  CAST(pp.n AS BIGINT) AS h_len, CAST(pp.m AS BIGINT) AS r_len,
        |  CAST(CASE WHEN pp.n + pp.m = 0 THEN 0 ELSE e.edits END AS BIGINT) AS edits
        | FROM pp LEFT JOIN ed e ON pp.cand_id = e.cand_id)
        |SELECT cand_id, ref_id, h_len, r_len, edits,
        | round(CASE WHEN r_len > 0 THEN CAST(edits AS DOUBLE) / r_len
        |   WHEN h_len = 0 THEN 0.0 ELSE 1.0 END, 6) AS wer
    |FROM mt""".stripMargin


  /** The q205 CTE block: adjacent pairs over CHARACTER sequences
    * (whitespace stripped — chars therefore cannot contain ' ', so
    * space-joined gram keys are unambiguous) and per-order clipped
    * char-n-gram counts for n = 1..6.
    */
  private def chrClipCtes: String =
    """d AS (
      | SELECT doc_id, source,
      |  regexp_replace(lower(trim(text)), '\s+', '', 'g') AS cs
      | FROM documents),
      |dt AS (
      | SELECT doc_id, source,
      |  list_transform(range(1, length(cs) + 1), i -> substring(cs, CAST(i AS INT), 1)) AS toks
      | FROM d),
      |p AS (
      | SELECT doc_id AS cand_id, source, toks AS ct,
      |  lead(doc_id) OVER w AS ref_id, lead(toks) OVER w AS rt
      | FROM dt WINDOW w AS (PARTITION BY source ORDER BY doc_id)),
      |pp AS (SELECT * FROM p WHERE ref_id IS NOT NULL),
      |ns AS (SELECT unnest([1, 2, 3, 4, 5, 6]) AS n),
      |tot AS (
      | SELECT cand_id, n,
      |  greatest(len(ct) - n + 1, 0) AS c_tot,
      |  greatest(len(rt) - n + 1, 0) AS r_tot
      | FROM pp, ns),
      |cg AS (
      | SELECT cand_id, n, g, count(*) AS cc FROM (
      |  SELECT cand_id, n, unnest(list_transform(range(greatest(len(ct) - n + 1, 0)),
      |   i -> array_to_string(ct[i+1 : i+n], ' '))) AS g
      |  FROM pp, ns)
      | GROUP BY 1, 2, 3),
      |rg AS (
      | SELECT cand_id, n, g, count(*) AS rc FROM (
      |  SELECT cand_id, n, unnest(list_transform(range(greatest(len(rt) - n + 1, 0)),
      |   i -> array_to_string(rt[i+1 : i+n], ' '))) AS g
      |  FROM pp, ns)
      | GROUP BY 1, 2, 3),
      |cl AS (
      | SELECT cand_id, n, COALESCE(sum(least(cc, COALESCE(rc, 0))), 0) AS clipped
      | FROM cg LEFT JOIN rg USING (cand_id, n, g)
      | GROUP BY 1, 2)""".stripMargin


  /** q163/q202 shared oracle: every dHash bit reconstructed from the
    * closed-form pixel generator — integer luma, cross-multiplied cell
    * comparison, hex nibbles assembled most-significant-first. Valid
    * for ANY lossless container of the same logical pixels.
    */
  private def dhashClosedFormOracle: String =
    s"""WITH ${dhashBitCtes("", 0)},
       |nib AS (SELECT media_id, (cy * 8 + cx) // 4 AS ni,
       |         CAST(sum(bit << ((cy * 8 + cx) % 4)) AS INT) AS v
       |        FROM bits GROUP BY 1, 2)
       |SELECT media_id,
       | string_agg(substr('0123456789abcdef', v + 1, 1), '' ORDER BY ni DESC) AS dhash
       |FROM nib GROUP BY media_id ORDER BY media_id""".stripMargin


  /** q134/q204 shared oracle: every 4×4 cell mean recomputed from the
    * closed-form pixel bytes. Valid for any lossless container of the
    * same logical pixels.
    */
  private def poolClosedFormOracle: String =
    """WITH m AS (
        | SELECT r.i AS media_id, CAST(16 + (r.i % 6) * 8 AS INT) AS w,
        |  CAST(16 + (r.i % 5) * 8 AS INT) AS h
        | FROM range(300) r(i) WHERE r.i % 3 = 0),
        |px AS (
        | SELECT m.media_id, (xx.x * 4) // m.w AS cell_x, (yy.y * 4) // m.h AS cell_y,
        |  (m.media_id * 31 + 7 * (yy.y * m.w * 3 + xx.x * 3 + 2)) % 251 AS rb,
        |  (m.media_id * 31 + 7 * (yy.y * m.w * 3 + xx.x * 3 + 1)) % 251 AS gb,
        |  (m.media_id * 31 + 7 * (yy.y * m.w * 3 + xx.x * 3)) % 251 AS bb
        | FROM m, unnest(range(0, m.w)) xx(x), unnest(range(0, m.h)) yy(y))
        |SELECT media_id, CAST(cell_x AS INT) AS cell_x, CAST(cell_y AS INT) AS cell_y,
        | round(avg(rb), 4) AS r_mean, round(avg(gb), 4) AS g_mean,
        | round(avg(bb), 4) AS b_mean
        |FROM px
        |GROUP BY 1, 2, 3
        |ORDER BY media_id, cell_y, cell_x""".stripMargin


  /** Shared CTE block for the q198/q199 oracles: adjacent-pair harness
    * (lead over doc_id within source — exactly
    * [[graft.operators.TextEval.adjacentPairs]]) and per-order clipped
    * n-gram counts for n = 1..4 (grams keyed by space-joined token
    * slices — unambiguous in the oracle because the tokens come from a
    * split on ' '; the engine's kernel uses length-prefixed keys for
    * the same sequence-equality semantics on arbitrary tokens).
    */
  private def ngramClipCtes: String =
    """d AS (
      | SELECT doc_id, source,
      |  list_filter(string_split(lower(trim(text)), ' '), t -> t <> '') AS toks
      | FROM documents),
      |p AS (
      | SELECT doc_id AS cand_id, source, toks AS ct,
      |  lead(doc_id) OVER w AS ref_id, lead(toks) OVER w AS rt
      | FROM d WINDOW w AS (PARTITION BY source ORDER BY doc_id)),
      |pp AS (SELECT * FROM p WHERE ref_id IS NOT NULL),
      |ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
      |tot AS (
      | SELECT cand_id, n,
      |  greatest(len(ct) - n + 1, 0) AS c_tot,
      |  greatest(len(rt) - n + 1, 0) AS r_tot
      | FROM pp, ns),
      |cg AS (
      | SELECT cand_id, n, g, count(*) AS cc FROM (
      |  SELECT cand_id, n, unnest(list_transform(range(greatest(len(ct) - n + 1, 0)),
      |   i -> array_to_string(ct[i+1 : i+n], ' '))) AS g
      |  FROM pp, ns)
      | GROUP BY 1, 2, 3),
      |rg AS (
      | SELECT cand_id, n, g, count(*) AS rc FROM (
      |  SELECT cand_id, n, unnest(list_transform(range(greatest(len(rt) - n + 1, 0)),
      |   i -> array_to_string(rt[i+1 : i+n], ' '))) AS g
      |  FROM pp, ns)
      | GROUP BY 1, 2, 3),
      |cl AS (
      | SELECT cand_id, n, COALESCE(sum(least(cc, COALESCE(rc, 0))), 0) AS clipped
      | FROM cg LEFT JOIN rg USING (cand_id, n, g)
      | GROUP BY 1, 2)""".stripMargin



  /** The q163/q164 oracle building block: CTEs `<p>m / <p>px / <p>cells
    * / <p>bits` reconstructing the 9×8 dHash bit grid from the
    * synthetic-BMP pixel generator with channel bytes shifted by
    * `delta` (clamped at 255) — all integer arithmetic.
    */
  private def dhashBitCtes(p: String, delta: Int): String =
    s"""${p}m AS (
       | SELECT r.i AS media_id, CAST(16 + (r.i % 6) * 8 AS INT) AS w,
       |  CAST(16 + (r.i % 5) * 8 AS INT) AS h
       | FROM range(300) r(i) WHERE r.i % 3 = 0),
       |${p}px AS (
       | SELECT m.media_id, (xx.x * 9) // m.w AS cx, (yy.y * 8) // m.h AS cy,
       |    299 * least((m.media_id * 31 + 7 * (yy.y * m.w * 3 + xx.x * 3 + 2)) % 251 + $delta, 255)
       |  + 587 * least((m.media_id * 31 + 7 * (yy.y * m.w * 3 + xx.x * 3 + 1)) % 251 + $delta, 255)
       |  + 114 * least((m.media_id * 31 + 7 * (yy.y * m.w * 3 + xx.x * 3)) % 251 + $delta, 255) AS luma
       | FROM ${p}m m, unnest(range(0, m.w)) xx(x), unnest(range(0, m.h)) yy(y)),
       |${p}cells AS (
       | SELECT media_id, cx, cy, CAST(sum(luma) AS BIGINT) AS s, count(*) AS n
       | FROM ${p}px GROUP BY 1, 2, 3),
       |${p}bits AS (
       | SELECT a.media_id, a.cy, a.cx,
       |  CASE WHEN b.s * a.n > a.s * b.n THEN 1 ELSE 0 END AS bit
       | FROM ${p}cells a JOIN ${p}cells b
       |   ON a.media_id = b.media_id AND a.cy = b.cy AND b.cx = a.cx + 1
       | WHERE a.cx < 8)""".stripMargin

  /** Main-content extraction ([[graft.sources.MainContent]]) — the
    * crawl-ingest boilerplate remover, oracle-pinned by the q217
    * round-trip convention: each document is wrapped in a chrome-heavy
    * page template (nav, nested sidebar, ad banner, footer, script/
    * style) whose article is exactly `<h1>Document id</h1><p>text</p>`,
    * so the extracted main text must md5-equal the template's article
    * ('Document id' + newline + whitespace-collapsed text) with the
    * chrome dropped — DuckDB replays the expected text closed-form
    * while the engine earns it by actually classifying blocks. The
    * template HTML-escapes &/</> and the extractor's entity decode
    * restores them, so the round trip is exact on any corpus. Docs
    * whose collapsed text is under the 25-char content floor are
    * filtered on BOTH sides (a sub-floor article is boilerplate by the
    * classifier's own definition). Map-side only — one linear scan per
    * page, no shuffle.
    */
  /** The chrome-heavy page template shared by q238 and the q242
    * pipeline: nav + NESTED sidebar + ad banner + footer + script/style
    * around an article that is exactly `<h1>Document id</h1><p>text</p>`
    * (text HTML-escaped, so the extractor's entity decode restores it).
    */
  private def chromePage(docId: Column, clean: Column): Column = {
    def esc(c: Column): Column =
      regexp_replace(regexp_replace(regexp_replace(c,
        "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    concat(
      lit("<html><head><title>d</title><script>var x = 1 < 2;</script>" +
        "<style>.m{color:red}</style></head><body>"),
      lit("<nav><ul><li><a href=\"/\">Home</a></li>" +
        "<li><a href=\"/all\">All docs</a></li></ul></nav>"),
      lit("<div class=\"sidebar\"><div class=\"promo\">" +
        "<a href=\"/sub\">Subscribe</a></div><a href=\"/t\">Trending</a></div>"),
      lit("<article><h1>Document "), docId, lit("</h1><p>"),
      esc(clean),
      lit("</p></article><div class=\"ad-banner\">Buy one get one " +
        "<a href=\"/deal\">free</a></div>"),
      lit("<footer><p>Copyright Example Corp - " +
        "<a href=\"/terms\">Terms</a></p></footer></body></html>"))
  }

  private def q238MainContent(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.MainContent
    val docs = t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .withColumn("__clean", regexp_replace(trim(col("text")), "\\s+", " "))
      .filter(length(col("__clean")) >= 25)
    // struct materialized in its own projection → ONE parse per row
    // (four getFields on the raw UDF call would each re-run it)
    docs.withColumn("__e",
        MainContent.extractColumn(chromePage(col("doc_id"), col("__clean"))))
      .select(col("doc_id"),
        md5(col("__e.mainText")).as("main_md5"),
        col("__e.title").as("page_title"),
        col("__e.nBlocksTotal").cast("long").as("n_blocks_total"),
        col("__e.nBlocksKept").cast("long").as("n_blocks_kept"),
        length(col("__e.mainText")).cast("long").as("main_chars"))
      .orderBy(col("doc_id"))
  }

  /** Gopher/C4 quality rule pack ([[graft.operators.QualityRules]]):
    * the published pretraining filter set (word count, mean word
    * length, symbol ratio, bullet/ellipsis lines, alphabetic floor,
    * stopword floor, duplicate-line cap, top-2/3-gram caps, C4's
    * brace/lorem-ipsum drops) as one map-side projection. Documents
    * get lines synthesized every 10 words (the q116 convention) so the
    * line rules bind on the single-line corpus; the oracle replays
    * every rule as SQL predicates over the same token/line/gram stats.
    */
  private def q239GopherRules(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityRules
    val lined = t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .withColumn("__lt",
        regexp_replace(col("text"), "((?:\\S+ ){9}\\S+) ", "$1\n"))
    QualityRules.ruleTable(lined, "doc_id", "__lt").orderBy(col("doc_id"))
  }

  /** Host-level curation gate ([[graft.operators.QualityRules.hostGate]]):
    * q239's per-document rules aggregated per source — keep rate,
    * per-rule failure counts, and the ≥ 0.5 keep-rate verdict (the
    * C4/RefinedWeb whole-host drop). One hash aggregate over the
    * map-side rule projection; host-sized output.
    */
  private def q240HostGate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityRules
    val lined = t(s, dir, "documents")
      .filter(col("text").isNotNull)
      .withColumn("__lt",
        regexp_replace(col("text"), "((?:\\S+ ){9}\\S+) ", "$1\n"))
    QualityRules.hostGate(lined, "doc_id", "__lt", "source",
        minKeepRate = 0.5)
      .orderBy(col("host"))
  }

  /** q239/q240's shared oracle body: documents → synthesized lines →
    * token/line/gram stats → the `rules` table (doc_id, source, stats,
    * 12 booleans, keep). q239 reads it per document; q240 aggregates
    * it per source; q242 re-parametrizes the `seg` input to the
    * pipeline-extracted body via [[gopherRulesCtesFrom]].
    */
  private def gopherRulesCtes: String = gopherRulesCtesFrom(
    """SELECT doc_id, source,
      |  regexp_replace(text, '((?:\S+ ){9}\S+) ', '\1' || chr(10), 'g') AS t
      | FROM documents WHERE text IS NOT NULL""".stripMargin)

  /** The rule CTE chain over a caller-chosen `seg` SELECT producing
    * (doc_id, source, t).
    */
  // raw interpolator: the SQL carries \s-class regexes that the s
  // interpolator would reject as invalid escapes at runtime
  /** Shared CTE chain for the q248/q253 oracles: the naive-Bayes
    * language-ID train-then-score replayed in SQL, ending at `sc` —
    * one row per (doc, candidate lang) with the exact integer score
    * and its rank under (score desc, lang asc). `d` (normalized docs)
    * stays in scope for callers needing word counts.
    */
  private val langNbCtes: String =
    raw"""d AS (
      | SELECT doc_id, lang,
      |  regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      | FROM documents WHERE text IS NOT NULL),
      |g AS (
      | SELECT doc_id,
      |  CAST(('0x' || substring(md5(substr(t, p, 3)), 1, 8)) AS BIGINT) % 1024 AS b
      | FROM d, unnest(generate_series(1, len(t) - 2)) AS p(p)),
      |cnt AS (
      | SELECT d.lang, g.b, count(*)::BIGINT AS c
      | FROM g JOIN d ON g.doc_id = d.doc_id GROUP BY 1, 2),
      |tot AS (SELECT lang, sum(c)::BIGINT AS tot FROM cnt GROUP BY 1),
      |cls AS (
      | SELECT lang, round(ln(1.0 / (tot + 1024)) * 1000000)::BIGINT AS dflt
      | FROM tot),
      |pri AS (
      | SELECT lang,
      |  round(ln(count(*)::DOUBLE / (SELECT count(*) FROM d)) * 1000000)::BIGINT AS pq
      | FROM d GROUP BY 1),
      |ll AS (
      | SELECT cnt.lang, cnt.b,
      |  round(ln((cnt.c + 1)::DOUBLE / (tot.tot + 1024)) * 1000000)::BIGINT AS llq
      | FROM cnt JOIN tot ON cnt.lang = tot.lang),
      |gs AS (
      | SELECT g.doc_id, c.lang AS cand,
      |  sum(COALESCE(ll.llq, c.dflt))::BIGINT AS gq
      | FROM g CROSS JOIN cls c
      | LEFT JOIN ll ON ll.lang = c.lang AND ll.b = g.b
      | GROUP BY 1, 2),
      |sc AS MATERIALIZED (
      | SELECT d.doc_id, d.lang, p.lang AS cand,
      |  p.pq + COALESCE(gs.gq, 0) AS score_q,
      |  row_number() OVER (PARTITION BY d.doc_id
      |    ORDER BY p.pq + COALESCE(gs.gq, 0) DESC, p.lang ASC) AS rk
      | FROM d CROSS JOIN pri p
      | LEFT JOIN gs ON gs.doc_id = d.doc_id AND gs.cand = p.lang)""".stripMargin

  /** Shared CTE tail for the q251/q254 oracles: integer-micro-log
    * Viterbi over the q250 model (the recursion carries (score, count)
    * state for the last 4 positions; candidates collapse via
    * list_sort on (-score, count) structs — ties to fewer tokens,
    * exactly the operator's scan), ending at `agg` (per-doc word and
    * token counts). Expects `model`, `wl`, `wsrc` in scope.
    */
  private val unigramViterbiCtes: String =
    raw"""llq AS (
      | SELECT piece, round(ln(prob) * 1000000)::BIGINT AS q
      | FROM model WHERE prob > 0),
      |vit AS (
      | SELECT w, len, 0 AS pos,
      |  0::BIGINT AS s0, NULL::BIGINT AS s1, NULL::BIGINT AS s2, NULL::BIGINT AS s3,
      |  0::BIGINT AS n0, NULL::BIGINT AS n1, NULL::BIGINT AS n2, NULL::BIGINT AS n3
      | FROM wl
      | UNION ALL
      | SELECT w, len, pos + 1,
      |  -(x.ns), s0, s1, s2,
      |  x.n, n0, n1, n2
      | FROM (
      |  SELECT v.w, v.len, v.pos, v.s0, v.s1, v.s2, v.s3,
      |   v.n0, v.n1, v.n2, v.n3,
      |   list_sort(list_filter([
      |     {'ok': TRUE,
      |      'ns': -(v.s0 + COALESCE(l1.q, -30000000)), 'n': v.n0 + 1},
      |     {'ok': v.s1 IS NOT NULL AND l2.q IS NOT NULL,
      |      'ns': -(v.s1 + l2.q), 'n': v.n1 + 1},
      |     {'ok': v.s2 IS NOT NULL AND l3.q IS NOT NULL,
      |      'ns': -(v.s2 + l3.q), 'n': v.n2 + 1},
      |     {'ok': v.s3 IS NOT NULL AND l4.q IS NOT NULL,
      |      'ns': -(v.s3 + l4.q), 'n': v.n3 + 1}
      |    ], c -> c.ok))[1] AS x
      |  FROM vit v
      |  LEFT JOIN llq l1 ON l1.piece = substr(v.w, v.pos + 1, 1)
      |  LEFT JOIN llq l2 ON v.pos + 1 >= 2 AND l2.piece = substr(v.w, v.pos, 2)
      |  LEFT JOIN llq l3 ON v.pos + 1 >= 3 AND l3.piece = substr(v.w, v.pos - 1, 3)
      |  LEFT JOIN llq l4 ON v.pos + 1 >= 4 AND l4.piece = substr(v.w, v.pos - 2, 4)
      |  WHERE v.pos < v.len) t),
      |wtok AS (SELECT w, n0 AS ntok, s0 AS wscore FROM vit WHERE pos = len),
      |docw AS (SELECT doc_id, unnest(ws) AS w FROM wsrc),
      |agg AS MATERIALIZED (
      | SELECT d.doc_id, count(*)::BIGINT AS n_words,
      |  sum(t.ntok)::BIGINT AS n_tokens,
      |  sum(t.wscore)::BIGINT AS llq
      | FROM docw d JOIN wtok t ON d.w = t.w
      | GROUP BY 1)""".stripMargin

  /** Shared CTE chain for the q250/q251 oracles: the unigram-LM train
    * replayed in SQL — word frequencies (`wl`, uncapped: the Viterbi
    * tail tokenizes EVERY corpus word), the TRAINING vocabulary `wlt`
    * with [[graft.operators.UnigramLm.fit]]'s exact (n desc, w asc)
    * top-50000 `maxVocab` cut (so the identity survives corpora with
    * more distinct words than the cap — the train-side CTEs `socc` and
    * `occ` read `wlt`, never `wl`), substring seed scores with the
    * (score desc, piece asc) top-100 multi-char cut, seed probs, the
    * E-step's forward/backward lattice sums as recursive CTEs carrying
    * a sliding 4-state window (each 4-term sum parenthesized exactly as
    * [[graft.operators.UnigramLm.fitOnVocab]] folds it, so the doubles
    * are bit-identical), per-occurrence expected counts quantized to
    * 10⁻⁹-unit BIGINTs, and the M-step renormalization. Callers open
    * with WITH RECURSIVE and close the final `model` CTE.
    */
  private val unigramModelCtes: String =
    raw"""wsrc AS (
      | SELECT doc_id,
      |  list_filter(string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS ws
      | FROM documents WHERE text IS NOT NULL),
      |wl AS MATERIALIZED (
      | SELECT w, count(*)::BIGINT AS n, len(w) AS len
      | FROM (SELECT unnest(ws) AS w FROM wsrc) GROUP BY 1, 3),
      |wlt AS MATERIALIZED (
      | SELECT w, n, len FROM wl
      | QUALIFY row_number() OVER (ORDER BY n DESC, w ASC) <= 50000),
      |socc AS (
      | SELECT substr(v.w, i.i + 1, k.k) AS piece, v.n
      | FROM wlt v,
      |      unnest(generate_series(0, v.len - 1)) AS i(i),
      |      unnest(generate_series(1, 4)) AS k(k)
      | WHERE i.i + k.k <= v.len),
      |pscore AS (SELECT piece, sum(n)::BIGINT AS score FROM socc GROUP BY 1),
      |seed AS (
      | SELECT piece, score FROM pscore WHERE len(piece) = 1
      | UNION ALL
      | SELECT piece, score FROM (
      |  SELECT piece, score,
      |   row_number() OVER (ORDER BY score DESC, piece ASC) AS rk
      |  FROM pscore WHERE len(piece) > 1) t
      | WHERE rk <= 100),
      |stot AS (SELECT sum(score)::BIGINT AS t FROM seed),
      |probs0 AS MATERIALIZED (
      | SELECT s.piece, s.score, s.score::DOUBLE / stot.t AS prob
      | FROM seed s, stot),
      |occ AS MATERIALIZED (
      | SELECT v.w, v.n, i.i AS i, k.k AS k, substr(v.w, i.i + 1, k.k) AS piece
      | FROM wlt v,
      |      unnest(generate_series(0, v.len - 1)) AS i(i),
      |      unnest(generate_series(1, 4)) AS k(k)
      | WHERE i.i + k.k <= v.len),
      |${unigramLatticeCtes(sfx = "1", probs = "probs0")},
      |model AS MATERIALIZED (
      | SELECT s.piece, s.score AS seed_score,
      |  COALESCE(m1.expq, 0)::BIGINT AS expq,
      |  CASE WHEN mtot1.t > 0
      |       THEN COALESCE(m1.expq, 0)::DOUBLE / mtot1.t::DOUBLE
      |       ELSE s.score::DOUBLE / stot.t END AS prob
      | FROM seed s LEFT JOIN m1 ON s.piece = m1.piece, mtot1, stot)""".stripMargin

  /** One E/M round of the q250 lattice as CTE text, parameterized by a
    * name suffix and the piece-probability table to run under —
    * generated so the prune oracle (q252) can CHAIN rounds without
    * duplicating the recursion by hand. Emits `fwd$sfx`, `zt$sfx`,
    * `bwd$sfx`, `contrib$sfx`, `m$sfx`, `mtot$sfx`; expects `wlt` (the
    * maxVocab-capped training vocabulary) and `occ` in scope and
    * `$probs(piece, prob)`.
    */
  private def unigramLatticeCtes(sfx: String, probs: String): String =
    raw"""fwd$sfx AS (
      | SELECT w, len, 0 AS pos,
      |  1.0::DOUBLE AS a0, 0.0::DOUBLE AS a1, 0.0::DOUBLE AS a2, 0.0::DOUBLE AS a3
      | FROM wlt
      | UNION ALL
      | SELECT f.w, f.len, f.pos + 1,
      |  ((((0.0
      |    + COALESCE(p1.prob * f.a0, 0.0))
      |    + COALESCE(p2.prob * f.a1, 0.0))
      |    + COALESCE(p3.prob * f.a2, 0.0))
      |    + COALESCE(p4.prob * f.a3, 0.0)),
      |  f.a0, f.a1, f.a2
      | FROM fwd$sfx f
      | LEFT JOIN $probs p1 ON p1.piece = substr(f.w, f.pos + 1, 1)
      | LEFT JOIN $probs p2 ON f.pos + 1 >= 2 AND p2.piece = substr(f.w, f.pos, 2)
      | LEFT JOIN $probs p3 ON f.pos + 1 >= 3 AND p3.piece = substr(f.w, f.pos - 1, 3)
      | LEFT JOIN $probs p4 ON f.pos + 1 >= 4 AND p4.piece = substr(f.w, f.pos - 2, 4)
      | WHERE f.pos < f.len),
      |zt$sfx AS (SELECT w, a0 AS z FROM fwd$sfx WHERE pos = len),
      |bwd$sfx AS (
      | SELECT w, len, len AS pos,
      |  1.0::DOUBLE AS b0, 0.0::DOUBLE AS b1, 0.0::DOUBLE AS b2, 0.0::DOUBLE AS b3
      | FROM wlt
      | UNION ALL
      | SELECT g.w, g.len, g.pos - 1,
      |  ((((0.0
      |    + COALESCE(q1.prob * g.b0, 0.0))
      |    + COALESCE(q2.prob * g.b1, 0.0))
      |    + COALESCE(q3.prob * g.b2, 0.0))
      |    + COALESCE(q4.prob * g.b3, 0.0)),
      |  g.b0, g.b1, g.b2
      | FROM bwd$sfx g
      | LEFT JOIN $probs q1 ON q1.piece = substr(g.w, g.pos, 1)
      | LEFT JOIN $probs q2 ON q2.piece = substr(g.w, g.pos, 2)
      | LEFT JOIN $probs q3 ON q3.piece = substr(g.w, g.pos, 3)
      | LEFT JOIN $probs q4 ON q4.piece = substr(g.w, g.pos, 4)
      | WHERE g.pos > 0),
      |contrib$sfx AS (
      | SELECT o.piece,
      |  round(o.n * (((fa.a0 * p.prob) * fb.b0) / z.z) * 1000000000)::BIGINT AS cq
      | FROM occ o
      | JOIN $probs p ON p.piece = o.piece
      | JOIN fwd$sfx fa ON fa.w = o.w AND fa.pos = o.i
      | JOIN bwd$sfx fb ON fb.w = o.w AND fb.pos = o.i + o.k
      | JOIN zt$sfx z ON z.w = o.w
      | WHERE z.z > 0),
      |m$sfx AS (SELECT piece, sum(cq)::BIGINT AS expq FROM contrib$sfx GROUP BY 1),
      |mtot$sfx AS (SELECT sum(expq)::BIGINT AS t FROM m$sfx)""".stripMargin

  private def gopherRulesCtesFrom(segSelect: String): String =
    raw"""seg AS (
      | $segSelect),
      |base AS (
      | SELECT doc_id, source, t,
      |  list_filter(string_split_regex(trim(t), '\s+'), w -> w <> '') AS ws,
      |  list_filter(list_transform(string_split(t, chr(10)), l -> trim(l)),
      |              l -> l <> '') AS ls
      | FROM seg),
      |tok AS (
      | SELECT doc_id, source, t, ws, ls,
      |  list_transform(ws, w -> lower(w)) AS wl,
      |  len(ws)::BIGINT AS n_words, len(ls)::BIGINT AS n_lines
      | FROM base),
      |g2 AS (
      | SELECT doc_id, sum(c)::BIGINT AS n_grams, max(c)::BIGINT AS top
      | FROM (
      |  SELECT doc_id, gram, count(*) AS c FROM (
      |   SELECT doc_id,
      |    unnest(list_transform(range(1, len(wl)),
      |           i -> wl[i] || ' ' || wl[i+1])) AS gram
      |   FROM tok WHERE len(wl) >= 2) u
      |  GROUP BY doc_id, gram) s
      | GROUP BY doc_id),
      |g3 AS (
      | SELECT doc_id, sum(c)::BIGINT AS n_grams, max(c)::BIGINT AS top
      | FROM (
      |  SELECT doc_id, gram, count(*) AS c FROM (
      |   SELECT doc_id,
      |    unnest(list_transform(range(1, len(wl) - 1),
      |           i -> wl[i] || ' ' || wl[i+1] || ' ' || wl[i+2])) AS gram
      |   FROM tok WHERE len(wl) >= 3) u
      |  GROUP BY doc_id, gram) s
      | GROUP BY doc_id),
      |st AS (
      | SELECT tok.*,
      |  CASE WHEN n_words > 0 THEN
      |   list_sum(list_transform(ws, w -> len(w)))::DOUBLE / n_words
      |  ELSE 0.0 END AS mean_len,
      |  (len(t) - len(replace(t, '#', ''))
      |   + len(t) - len(replace(t, '…', ''))
      |   + (len(t) - len(replace(t, '...', ''))) / 3)::BIGINT AS symbols,
      |  len(list_filter(ls, l -> regexp_matches(l, '^[-*•]')))::BIGINT AS bullet_l,
      |  len(list_filter(ls, l -> l LIKE '%...' OR l LIKE '%…'))::BIGINT AS ell_l,
      |  len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::BIGINT AS alpha_w,
      |  len(list_filter(['the','be','to','of','and','that','have','with'],
      |      sw -> list_contains(wl, sw)))::BIGINT AS stop_hits,
      |  (len(ls) - len(list_distinct(ls)))::BIGINT AS dup_l
      | FROM tok),
      |rules AS (
      | SELECT st.doc_id, source, n_words, n_lines,
      |  round(mean_len, 6) AS mean_word_len,
      |  n_words >= 50 AND n_words <= 100000 AS r_word_count,
      |  mean_len >= 3.0 AND mean_len <= 10.0 AS r_mean_word_len,
      |  CASE WHEN n_words > 0 THEN symbols::DOUBLE / n_words ELSE 0 END <= 0.1
      |    AS r_symbol_ratio,
      |  CASE WHEN n_lines > 0 THEN bullet_l::DOUBLE / n_lines ELSE 0 END <= 0.9
      |    AS r_bullet_lines,
      |  CASE WHEN n_lines > 0 THEN ell_l::DOUBLE / n_lines ELSE 0 END <= 0.3
      |    AS r_ellipsis_lines,
      |  CASE WHEN n_words > 0 THEN alpha_w::DOUBLE / n_words ELSE 0 END >= 0.8
      |    AS r_alpha_words,
      |  stop_hits >= 2 AS r_stopwords,
      |  CASE WHEN n_lines > 0 THEN dup_l::DOUBLE / n_lines ELSE 0 END <= 0.3
      |    AS r_dup_lines,
      |  CASE WHEN coalesce(g2.n_grams, 0) > 0
      |       THEN g2.top::DOUBLE / g2.n_grams ELSE 0 END <= 0.2 AS r_top_2gram,
      |  CASE WHEN coalesce(g3.n_grams, 0) > 0
      |       THEN g3.top::DOUBLE / g3.n_grams ELSE 0 END <= 0.18 AS r_top_3gram,
      |  NOT contains(t, '{') AS r_no_brace,
      |  NOT contains(lower(t), 'lorem ipsum') AS r_no_lorem,
      |  (n_words >= 50 AND n_words <= 100000)
      |   AND (mean_len >= 3.0 AND mean_len <= 10.0)
      |   AND (CASE WHEN n_words > 0 THEN symbols::DOUBLE / n_words ELSE 0 END <= 0.1)
      |   AND (CASE WHEN n_lines > 0 THEN bullet_l::DOUBLE / n_lines ELSE 0 END <= 0.9)
      |   AND (CASE WHEN n_lines > 0 THEN ell_l::DOUBLE / n_lines ELSE 0 END <= 0.3)
      |   AND (CASE WHEN n_words > 0 THEN alpha_w::DOUBLE / n_words ELSE 0 END >= 0.8)
      |   AND stop_hits >= 2
      |   AND (CASE WHEN n_lines > 0 THEN dup_l::DOUBLE / n_lines ELSE 0 END <= 0.3)
      |   AND (CASE WHEN coalesce(g2.n_grams, 0) > 0
      |        THEN g2.top::DOUBLE / g2.n_grams ELSE 0 END <= 0.2)
      |   AND (CASE WHEN coalesce(g3.n_grams, 0) > 0
      |        THEN g3.top::DOUBLE / g3.n_grams ELSE 0 END <= 0.18)
      |   AND NOT contains(t, '{')
      |   AND NOT contains(lower(t), 'lorem ipsum') AS keep
      | FROM st
      | LEFT JOIN g2 ON st.doc_id = g2.doc_id
      | LEFT JOIN g3 ON st.doc_id = g3.doc_id)""".stripMargin

  /** WARC ingest round trip ([[graft.sources.Warc]]): the corpus is
    * serialized per source as one WARC blob of HTTP-response records
    * (the Common Crawl container, ISO 28500) and parsed back by the
    * byte-scanning record reader — the oracle replays the closed-form
    * record identities (uri from source/id, status 200, body = the
    * original text). The synthesis groupBy is test scaffolding; the
    * OPERATOR under test ([[graft.sources.Warc.records]]) is the
    * map-side per-blob explode a 100 TB crawl read actually runs.
    */
  private def q241WarcIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Warc
    import java.nio.charset.StandardCharsets.UTF_8
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"), col("doc_id").cast("long"), col("text"))
      .as[(String, Long, String)]
    val blobs = docs.groupByKey(_._1).mapGroups { (src, it) =>
      val blob = it.toSeq.sortBy(_._2).iterator.map { case (_, id, txt) =>
        Warc.writeHttpResponse(s"<urn:uuid:doc-$id>",
          s"http://example.com/$src/$id", txt.getBytes(UTF_8))
      }.toArray.flatten
      (src, blob)
    }.toDF("source", "blob")
    Warc.records(blobs, "blob")
      .select(col("target_uri"), col("http_status"),
        md5(col("payload_text")).as("payload_md5"),
        length(col("payload_text")).cast("long").as("n_chars"))
      .orderBy(col("target_uri"))
  }

  /** Gzipped WARC ingest ([[graft.sources.Warc.inflate]]): the same
    * corpus round trip as q241, but each record serialized as its OWN
    * gzip member and the members concatenated per source — the actual
    * Common Crawl `.warc.gz` layout (per-record members are what let a
    * 100 TB crawl split at record boundaries). [[graft.sources.Warc.records]]
    * member-chain-inflates and parses in one map-side pass, so the
    * oracle is the identical closed-form record identity as q241:
    * compression must be invisible to the reader.
    */
  private def q247WarcGzIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Warc
    import java.nio.charset.StandardCharsets.UTF_8
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"), col("doc_id").cast("long"), col("text"))
      .as[(String, Long, String)]
    val blobs = docs.groupByKey(_._1).mapGroups { (src, it) =>
      val blob = it.toSeq.sortBy(_._2).iterator.map { case (_, id, txt) =>
        Warc.gzipMember(Warc.writeHttpResponse(s"<urn:uuid:doc-$id>",
          s"http://example.com/$src/$id", txt.getBytes(UTF_8)))
      }.toArray.flatten
      (src, blob)
    }.toDF("source", "blob")
    Warc.records(blobs, "blob")
      .select(col("target_uri"), col("http_status"),
        md5(col("payload_text")).as("payload_md5"),
        length(col("payload_text")).cast("long").as("n_chars"))
      .orderBy(col("target_uri"))
  }

  /** File-granular streamed WARC ingest
    * ([[graft.sources.Warc.recordsFromFiles]]): the same per-record
    * gzip-member corpus as q247, but written as ACTUAL `.warc.gz`
    * FILES (one per source) and read back record-streamed — paths →
    * `mapPartitions` → `GZIPInputStream` over the filesystem handle,
    * O(record) task memory, no 2 GB single-row blob cap (the reader a
    * real ~1 GB-compressed crawl segment needs; WarcSpec instruments
    * the incremental consumption). The oracle is the identical
    * closed-form record identity as q247/q241: the container — blob
    * column or file — must be invisible to the reader.
    *
    * The file WRITE here is synthesis scaffolding (driver-side, one
    * bounded file per source); the operator under test is the
    * distributed read path.
    */
  private def q255WarcFileIngest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Warc
    import java.nio.charset.StandardCharsets.UTF_8
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("source"), col("doc_id").cast("long"), col("text"))
      .as[(String, Long, String)]
    val files = docs.groupByKey(_._1).mapGroups { (src, it) =>
      val blob = it.toSeq.sortBy(_._2).iterator.map { case (_, id, txt) =>
        Warc.gzipMember(Warc.writeHttpResponse(s"<urn:uuid:doc-$id>",
          s"http://example.com/$src/$id", txt.getBytes(UTF_8)))
      }.toArray.flatten
      (src, blob)
    }.collect()
    val outDir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"graft_q255_${math.abs(dir.hashCode)}")
    java.nio.file.Files.createDirectories(outDir)
    files.foreach { case (src, blob) =>
      java.nio.file.Files.write(outDir.resolve(s"$src.warc.gz"), blob) }
    val paths = files.map { case (src, _) =>
      outDir.resolve(s"$src.warc.gz").toString }.toSeq.toDF("path")
    Warc.recordsFromFiles(paths)
      .select(col("target_uri"), col("http_status"),
        md5(col("payload_text")).as("payload_md5"),
        length(col("payload_text")).cast("long").as("n_chars"))
      .orderBy(col("target_uri"))
  }

  /** The composed crawl-curation pipeline — WARC records
    * ([[graft.sources.Warc.records]]) → main-content extraction
    * ([[graft.sources.MainContent]]) → Gopher/C4 quality rules
    * ([[graft.operators.QualityRules]]) → exact body dedup — reduced
    * to the per-source funnel (records → extracted → quality-kept →
    * unique). Each page is the q238 chrome template, so every stage
    * is closed-form replayable: extraction succeeds iff the collapsed
    * body clears the 25-char floor, the rules run on the extracted
    * body (single line — derived FROM main_text, the pipeline flows
    * forward), and dedup keys md5(body). The q68 composition-proof
    * convention for the ingest surface.
    */
  private def q242CrawlPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.{MainContent, Warc}
    import graft.operators.QualityRules
    import java.nio.charset.StandardCharsets.UTF_8
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("__clean", regexp_replace(trim(col("text")), "\\s+", " "))
      .select(col("source"), col("doc_id").cast("long"),
        chromePage(col("doc_id"), col("__clean")).as("page"))
      .as[(String, Long, String)]
    val blobs = docs.groupByKey(_._1).mapGroups { (src, it) =>
      val blob = it.toSeq.sortBy(_._2).iterator.map { case (_, id, page) =>
        Warc.writeHttpResponse(s"<urn:uuid:doc-$id>",
          s"http://example.com/$src/$id", page.getBytes(UTF_8))
      }.toArray.flatten
      (src, blob)
    }.toDF("source", "blob")
    val e = MainContent.extractColumn(col("payload_text"))
    val staged = Warc.records(blobs, "blob")
      .withColumn("main_text", e.getField("mainText"))
      .withColumn("extracted", col("main_text") =!= "")
      .withColumn("body", substring_index(col("main_text"), "\n", -1))
      .withColumn("body_md5", md5(col("body")))
      .withColumn("doc_id",
        element_at(split(col("target_uri"), "/"), -1).cast("long"))
    QualityRules.ruleTable(staged, "doc_id", "body",
        carryCols = Seq("source", "extracted", "body_md5"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_records"),
        sum(col("extracted").cast("long")).as("n_extracted"),
        sum((col("keep") && col("extracted")).cast("long")).as("n_quality"),
        count_distinct(when(col("keep") && col("extracted"), col("body_md5")))
          .as("n_unique"))
      .orderBy(col("source"))
  }

  /** Incremental crawl curation ([[graft.operators.Incremental.dedupDelta]]
    * composed with the q242 funnel): the corpus arrives as TWO WARC
    * batches split at half the id range (ids are the crawl's arrival
    * order); each batch flows WARC records → main-content extraction →
    * Gopher/C4 rules, and batch 2 is admitted against batch 1's
    * fingerprint index — O(delta) per batch, the corpus never
    * recomputed. The oracle is a COLD FULL RECOMPUTE of the same
    * curation (the q63 identity convention): fold-left admission must
    * be indistinguishable from curating the union in one pass.
    *
    * Two deliberate parameter choices keep every stage EXERCISED on the
    * synthetic corpus (a funnel identity over an empty set proves
    * nothing): the rule gate drops the stopword rule — the one rule
    * whose English prior zeroes this corpus (q239's table: stop_hits
    * passes 0/500, every other rule ≥ 277/500) — and the dedup
    * fingerprint is the md5 of the body's SORTED DISTINCT token set
    * (bag-of-words identity, 54 within-corpus collisions at sf0.01),
    * so the index probe admits and rejects real rows at both SFs.
    */
  private def q249IncrementalCrawl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Warc
    import graft.operators.Incremental
    import java.nio.charset.StandardCharsets.UTF_8
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("__clean", regexp_replace(trim(col("text")), "\\s+", " "))
      .select(col("source"), col("doc_id").cast("long"),
        chromePage(col("doc_id"), col("__clean")).as("page"))
      .as[(String, Long, String)]
    // one scalar for the batch boundary (bounded-collect convention)
    val cut = docs.toDF("source", "doc_id", "page")
      .agg(floor(max(col("doc_id")) / 2).cast("long")).collect()(0).getLong(0)

    // blob synthesis (test scaffolding) + the SHARED funnel transform
    // ([[graft.pipeline.CorpusCuration.curateWarcBlobs]] — the same
    // code path CrawlStream runs per micro-batch)
    def curatedBatch(batch: org.apache.spark.sql.Dataset[(String, Long, String)])
        : DataFrame = {
      val blobs = batch.groupByKey(_._1).mapGroups { (src, it) =>
        val blob = it.toSeq.sortBy(_._2).iterator.map { case (_, id, page) =>
          Warc.writeHttpResponse(s"<urn:uuid:doc-$id>",
            s"http://example.com/$src/$id", page.getBytes(UTF_8))
        }.toArray.flatten
        (src, blob)
      }.toDF("source", "blob")
      graft.pipeline.CorpusCuration.curateWarcBlobs(blobs)
    }

    // each curated batch feeds two plan branches of its dedupDelta
    // (fresh rows + winner mins) and batch 1 additionally feeds the
    // index — persist each ONCE or the WARC-parse/extraction map work
    // re-evaluates per branch (first cut of this query paid 3x)
    val curated1 = graft.Caches.track(
      curatedBatch(docs.filter(_._2 <= cut)).persist())
    val curated2 = graft.Caches.track(
      curatedBatch(docs.filter(_._2 > cut)).persist())
    val admitted1 = graft.Caches.track(Incremental.dedupDelta(
      curated1, Seq.empty[String].toDF("body_md5"),
      "doc_id", "body_md5").persist())
    val admitted2 = Incremental.dedupDelta(
      curated2, admitted1.select(col("body_md5")),
      "doc_id", "body_md5")
    admitted1.unionByName(admitted2)
      .select(col("doc_id"), col("source"), col("body_md5"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM tokenizer training ([[graft.operators.UnigramLm]],
    * Kudo '18 — the SentencePiece unigram model): seed vocabulary from
    * corpus substring scores (all chars + the top-100 multi-char
    * pieces), then ONE EM step over the segmentation lattice. The
    * oracle replays the ENTIRE train — seed selection, the
    * forward/backward E-step as recursive CTEs whose 4-term sums are
    * written in the operator's exact fold order (bit-identical
    * doubles), per-occurrence expected counts quantized to 10⁻⁹ units
    * (exact BIGINT sums), and the M-step renormalization — and
    * hash-matches every model cell.
    */
  private def q250UnigramEm(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.UnigramLm
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val model = UnigramLm.fit(docs, "text", maxPieceLen = 4,
      seedMulti = 100, iters = 1)
    UnigramLm.modelTable(s, model)
      .select(col("piece"), col("seed_score"), col("expq"), col("prob"))
      .orderBy(col("piece"))
  }

  /** Unigram-LM PRUNE round ([[graft.operators.UnigramLm.fitPruned]]
    * — the vocabulary-reduction half of Kudo '18): after the q250 EM
    * step, keep every single character plus the 50 multi-char pieces
    * with the highest expected counts (the likelihood-loss proxy),
    * renormalize over the survivors, and run one MORE EM step on the
    * pruned vocabulary. The oracle CHAINS two generated lattice
    * rounds (the q250 recursive-CTE block, parameterized by the
    * probability table it runs under) with the rank cut and
    * renormalization in between — the whole two-phase train
    * hash-matched cell by cell.
    */
  private def q252UnigramPrune(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.UnigramLm
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val model = UnigramLm.fitPruned(docs, "text", maxPieceLen = 4,
      seedMulti = 100, emIters = 1, keepMulti = 50, finalIters = 1)
    UnigramLm.modelTable(s, model)
      .select(col("piece"), col("seed_score"), col("expq"), col("prob"))
      .orderBy(col("piece"))
  }

  /** Unigram-LM Viterbi token counting
    * ([[graft.operators.UnigramLm.tokenCounts]]): the corpus tokenized
    * map-side under the q250 model in INTEGER micro-log space — path
    * scores are long sums, ties break to fewer tokens — so the oracle
    * replays Viterbi as a recursive CTE carrying (score, count) state
    * per position and the doc-level sums hash-match exactly. The
    * subword complement to the whitespace/BPE-regex counters (q29's
    * n_tokens, [[graft.functions.TextFunctions.bpeishTokenCount]]).
    */
  private def q251UnigramTokens(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.UnigramLm
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val model = UnigramLm.fit(docs, "text", maxPieceLen = 4,
      seedMulti = 100, iters = 1)
    UnigramLm.tokenCounts(docs, "doc_id", "text", model)
      .orderBy(col("doc_id"))
  }

  /** Deterministic n-best subword segmentations
    * ([[graft.operators.UnigramLm.nBestSegmentations]] — the
    * oracle-checkable half of Kudo '18 subword regularization: the
    * stochastic sampler draws from exactly this lattice, so a
    * deterministic k-best list with exact integer scores is the
    * replayable surface): up to k = 3 ranked segmentations per
    * distinct corpus word under the q250 model, total-ordered by
    * (score desc, fewer tokens, seg asc). The oracle extends the q251
    * Viterbi recursion to carry a LIST of top-k (ns, n, seg) structs
    * per lattice position — candidates concat, struct-sort, slice
    * [1:3] — and every rank's exact score, token count, and piece
    * sequence hash-matches.
    */
  private def q258UnigramNbest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.UnigramLm
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val model = UnigramLm.fit(docs, "text", maxPieceLen = 4,
      seedMulti = 100, iters = 1)
    UnigramLm.nBestTable(docs, "text", model, k = 3)
      .orderBy(col("w"), col("rk"))
  }

  /** CCNet-style per-language perplexity bucketing
    * ([[graft.operators.PerplexityBuckets]] over
    * [[graft.operators.LangNb]] routing and
    * [[graft.operators.UnigramLm.tokenScores]] — Wenzek et al. '20):
    * route documents by classifier margin (quarantine dropped, as
    * CCNet drops unidentified text), score each under the q250
    * unigram LM (exact integer micro-log likelihood — a LONG sum),
    * quantize the per-token mean NLL to milli-nats, and cut each
    * route into head/middle/tail terciles from the BOUNDED
    * (route, milli-nat) histogram — per-language thresholds carry
    * CCNet's per-language calibration; no corpus sort anywhere
    * (exact integer `ceil` cuts over the histogram's cumulative
    * window, broadcast joined back). The oracle stacks three proven
    * chains — NB scoring, the unigram train, the score-carrying
    * Viterbi — plus the histogram cut, and hash-matches per-route
    * bucket volumes, token mass, and thresholds.
    */
  private def q259CcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{LangNb, PerplexityBuckets, UnigramLm}
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val nbModel = LangNb.fit(docs, "text", "lang", n = 3, buckets = 1024)
    val lm = UnigramLm.fit(docs, "text", maxPieceLen = 4,
      seedMulti = 100, iters = 1)
    val routed = LangNb.predictMargins(docs, "text", nbModel)
      .withColumn("route",
        when(col("margin_q") >= 500000L, col("pred_lang"))
          .otherwise(lit(graft.operators.LangRouting.QuarantineRoute)))
      .filter(col("route") =!= graft.operators.LangRouting.QuarantineRoute)
      .select(col("doc_id").cast("long").as("doc_id"), col("route"))
    val scored = UnigramLm.tokenScores(docs, "doc_id", "text", lm)
      .join(routed, Seq("doc_id"))
      .filter(col("n_tokens") > 0)
      .withColumn("nll_milli", PerplexityBuckets.nllMilli())
    PerplexityBuckets.bucketed(scored, "route")
      .groupBy(col("route"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("t1_milli")).as("t1_milli"),
        min(col("t2_milli")).as("t2_milli"))
      .orderBy(col("route"), col("bucket"))
  }

  /** Tokenizer fertility by language
    * ([[graft.operators.UnigramLm.tokenCounts]] rolled up per lang):
    * subword tokens per whitespace word — THE standard
    * tokenizer-equity metric (a language whose fertility runs high
    * pays more sequence length per sentence, the SentencePiece eval
    * table every multilingual pipeline publishes). Counts are exact
    * longs from the integer-Viterbi path, so the oracle extends
    * q251's replayed chain with the label join and hash-matches; the
    * ratio is one exact-long division rounded at 6 dp.
    */
  private def q254TokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.UnigramLm
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val model = UnigramLm.fit(docs, "text", maxPieceLen = 4,
      seedMulti = 100, iters = 1)
    UnigramLm.tokenCounts(docs, "doc_id", "text", model)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("fertility",
        round(col("n_tokens").cast("double") / col("n_words"), 6))
      .orderBy(col("lang"))
  }

  /** Trained naive-Bayes language ID ([[graft.operators.LangNb]]):
    * multinomial NB over md5-hashed char-3-grams, trained in-engine on
    * the corpus's own labels and scored map-side against the broadcast
    * model. Every model cell is integer-quantized micro-log units, so
    * a document's class score is a SUM OF LONGS — exact and
    * summation-order-independent — and the oracle replays the full
    * train-then-score pipeline (gram buckets, smoothed counts, priors,
    * argmax with lang-ascending tie-break) in SQL and hash-matches the
    * exact scores. The trained complement to q30's stopword heuristic,
    * which LangNbSpec shows failing on short/no-stopword texts.
    */
  private def q248LangNb(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LangNb
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val model = LangNb.fit(docs, "text", "lang", n = 3, buckets = 1024)
    LangNb.predict(docs, "text", model)
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("score_q"))
      .orderBy(col("doc_id"))
  }

  /** Language routing audit ([[graft.operators.LangNb.predictMargins]]
    * composed with corpus statistics): the trained classifier routes
    * every document to its predicted language, and the per-route
    * rollup reports volume (docs, words), EXACT routing-confidence
    * mass (Σ winner-vs-runner-up margins — long sums of the q248
    * integer scores, so the oracle hash-matches them), and agreement
    * with the original labels — the audit a curation pipeline runs
    * before committing documents to per-language processing paths.
    */
  private def q253LangRouting(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LangNb
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val model = LangNb.fit(docs, "text", "lang", n = 3, buckets = 1024)
    LangNb.predictMargins(docs, "text", model)
      .withColumn("n_words",
        size(filter(split(lower(trim(col("text"))), "\\s+"),
          w => w =!= lit(""))).cast("long"))
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("sum_words"),
        sum(col("margin_q")).as("sum_margin_q"),
        sum((col("pred_lang") === col("lang")).cast("long")).as("n_label_agree"))
      .orderBy(col("pred_lang"))
  }

  /** Per-language ROUTED curation ([[graft.operators.LangRouting]] —
    * [[graft.operators.LangNb.predictMargins]] composed with
    * [[graft.operators.QualityRules]]): confidence margin ≥ τ routes a
    * document to its predicted language's rule thresholds — the
    * stopword rule (an English word list; q239's table shows it
    * passing 0/500 on this corpus) is active ONLY for the 'en' route,
    * every other route runs the 11 language-neutral rules — and
    * low-margin documents land in a quarantine bucket that never
    * silently keeps. τ = 500000 micro-log units (0.5 nats; ~7% of this
    * corpus quarantines, so both branches are exercised). ONE map-side
    * pass: the broadcast-model scorer's columns carry through the rule
    * projection — no join, no shuffle. The oracle chains the q253
    * scored CTEs with the q239 rule CTEs and replays route, per-route
    * keep, and the exact margin mass.
    */
  private def q257RoutedCuration(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{LangNb, LangRouting}
    val docs = t(s, dir, "documents").filter(col("text").isNotNull)
    val lined = docs.withColumn("__lt",
      regexp_replace(col("text"), "((?:\\S+ ){9}\\S+) ", "$1\n"))
    val model = LangNb.fit(docs, "text", "lang", n = 3, buckets = 1024)
    LangRouting.routedFunnel(lined, "doc_id", "__lt", model, tauQ = 500000L)
      .orderBy(col("route"))
  }

  /** URL canonicalization + URL-level dedup ([[graft.sources.Urls]] —
    * RFC 3986 §6 syntax normalization plus the C4/FineWeb crawl
    * conventions): five URL archetypes per document — mixed-case
    * host+scheme with default port, dot-segments and a fragment;
    * the already-canonical form; tracking params (`utm_*`); an
    * unreserved percent-encoding (`%63`→`c`); and a genuinely
    * different https page with a reserved encoding to uppercase
    * (`%3f`→`%3F`) — of which the first four collapse to ONE
    * canonical URL. Every canonical form is closed-form (the q243
    * fixed-archetype convention), so the oracle restates collapse
    * counts, the canonical string itself, and the min-id dedup
    * winners verbatim. Canonicalization is a pure per-row function
    * (map-side, no shuffle); the dedup adds the one canonical-key
    * hash aggregate.
    */
  private def q260UrlCanon(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Urls
    val docs = t(s, dir, "documents").select(col("doc_id").cast("long").as("doc_id"))
    def v(prefix: String, suffix: String): Column =
      concat(lit(prefix), col("doc_id"), lit(suffix))
    val rows = docs.select(col("doc_id"), posexplode(array(
        v("HTTP://Host", ".Example.COM:80/a/./b/../c?b=2&a=1#frag"),
        v("http://host", ".example.com/a/c?a=1&b=2"),
        v("http://host", ".example.com/a/b/../c?utm_source=x&b=2&a=1"),
        v("http://host", ".example.com:80/a/%63?a=1&b=2"),
        v("https://host", ".example.com:443/other%3f"))).as(Seq("v", "url")))
      .withColumn("row_id", (col("doc_id") * 10 + col("v")).cast("long"))
    val canoned = rows.withColumn("canon", Urls.canonical(col("url")))
    val winners = Urls.dedupByUrl(rows, "url", "row_id")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_winners"), min(col("row_id")).as("min_winner_id"))
    canoned.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_variants"),
        count_distinct(col("canon")).as("n_canon"),
        min(col("canon")).as("base_canon"))
      .join(winners, Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Robots-exclusion gate ([[graft.sources.RobotsTxt]], RFC 9309):
    * URLs synthesized per document (five path archetypes) against one
    * per-host policy exercising group selection, longest-match
    * specificity, the Allow tie-break, the wildcard/$ pattern, and the
    * unknown-agent fallback to `*` — every decision closed-form in the
    * oracle because the policy is a fixed literal. One host equi-join
    * + map-side eval (the operator's 100 TB shape).
    */
  private def q243RobotsGate(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.RobotsTxt
    val body = "User-agent: graftbot\nDisallow: /private\n" +
      "Allow: /private/ok\nDisallow: /*.tmp$\n\nUser-agent: *\nDisallow: /\n"
    val urls = t(s, dir, "documents")
      .select(col("doc_id"),
        concat(col("source"), lit(".example")).as("host"),
        concat(
          element_at(array(lit("/public/doc"), lit("/private/doc"),
            lit("/private/ok/doc"), lit("/tmp/doc"), lit("/archive/doc")),
            (pmod(col("doc_id"), lit(5)) + 1).cast("int")),
          col("doc_id"),
          when(pmod(col("doc_id"), lit(5)) === 3, lit(".tmp"))
            .otherwise(lit(""))).as("path"))
    val robots = urls.select(col("host")).distinct()
      .withColumn("body", lit(body))
    val g = RobotsTxt.allowUrls(urls, robots, "host", "path", "body",
        userAgent = "graftbot/1.0")
      .withColumnRenamed("allowed", "allowed_graftbot")
    RobotsTxt.allowUrls(g, robots, "host", "path", "body",
        userAgent = "strangerbot")
      .withColumnRenamed("allowed", "allowed_stranger")
      .select(col("doc_id"), col("host"), col("path"),
        col("allowed_graftbot"), col("allowed_stranger"))
      .orderBy(col("doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q243_robots_gate" -> (q243RobotsGate _),
    "q260_url_canon" -> (q260UrlCanon _),
    "q238_main_content" -> (q238MainContent _),
    "q239_gopher_rules" -> (q239GopherRules _),
    "q240_host_gate" -> (q240HostGate _),
    "q241_warc_ingest" -> (q241WarcIngest _),
    "q247_warc_gz_ingest" -> (q247WarcGzIngest _),
    "q255_warc_file_ingest" -> (q255WarcFileIngest _),
    "q242_crawl_pipeline" -> (q242CrawlPipeline _),
    "q249_incremental_crawl" -> (q249IncrementalCrawl _),
    "q29_text_stats" -> (q29TextStats _),
    "q30_lang_id" -> (q30LangId _),
    "q248_lang_nb" -> (q248LangNb _),
    "q253_lang_routing" -> (q253LangRouting _),
    "q257_routed_curation" -> (q257RoutedCuration _),
    "q250_unigram_em" -> (q250UnigramEm _),
    "q251_unigram_tokens" -> (q251UnigramTokens _),
    "q252_unigram_prune" -> (q252UnigramPrune _),
    "q258_unigram_nbest" -> (q258UnigramNbest _),
    "q259_ccnet_buckets" -> (q259CcnetBuckets _),
    "q254_tokenizer_fertility" -> (q254TokenizerFertility _),
    "q31_fingerprint" -> (q31Fingerprint _),
    "q36_multimodal" -> (q36Multimodal _),
    "q46_pii_scrub" -> (q46PiiScrub _),
    "q50_chunk_documents" -> (q50ChunkDocuments _),
    "q55_normalize_nfc" -> (q55NormalizeNfc _),
    "q64_repetition" -> (q64Repetition _),
    "q71_url_normalize" -> (q71UrlNormalize _),
    "q72_vocab_topk" -> (q72VocabTopk _),
    "q75_pmi_collocations" -> (q75PmiCollocations _),
    "q78_quality_model" -> (q78QualityModel _),
    "q79_token_entropy" -> (q79TokenEntropy _),
    "q109_audio_features" -> (q109AudioFeatures _),
    "q110_video_metadata" -> (q110VideoMetadata _),
    "q112_lm_crossentropy" -> (q112LmCrossEntropy _),
    "q261_kneser_ney" -> (q261KneserNey _),
    "q119_frame_sample" -> (q119FrameSample _),
    "q124_bpe_tokenize" -> (q124BpeTokenize _),
    "q256_byte_bpe" -> (q256ByteBpe _),
    "q262_wordpiece" -> (q262WordPiece _),
    "q134_image_pool" -> (q134ImagePool _),
    "q136_audio_spectrum" -> (q136AudioSpectrum _),
    "q161_stupid_backoff" -> (q161StupidBackoff _),
    "q163_image_dhash" -> (q163ImageDhash _),
    "q164_dhash_invariance" -> (q164DhashInvariance _),
    "q195_code_tokens" -> (q195CodeTokens _),
    "q198_bleu" -> (q198Bleu _),
    "q199_rouge" -> (q199Rouge _),
    "q200_corpus_bleu" -> (q200CorpusBleu _),
    "q201_self_bleu" -> (q201SelfBleu _),
    "q202_png_dhash" -> (q202PngDhash _),
    "q203_jpeg_dhash_stability" -> (q203JpegDhashStability _),
    "q204_png_pool" -> (q204PngPool _),
    "q205_chrf" -> (q205Chrf _),
    "q206_rouge_l" -> (q206RougeL _),
    "q207_wer" -> (q207Wer _),
    "q208_eval_rollup" -> (q208EvalRollup _),
    "q209_unicode_tokens" -> (q209UnicodeTokens _),
    "q210_unicode_vocab" -> (q210UnicodeVocab _),
    "q211_bleu_multi" -> (q211BleuMulti _),
    "q212_rouge_multi" -> (q212RougeMulti _),
    "q215_gif_dhash" -> (q215GifDhash _),
    "q217_sentence_chunks" -> (q217SentenceChunks _),
    "q218_wer_multi" -> (q218WerMulti _),
    "q219_blocklist" -> (q219Blocklist _))

  def oracleSql: Map[String, String] = Map(
    // q243: the policy is a fixed literal, so every RFC 9309 decision
    // restates closed-form per path archetype
    "q243_robots_gate" ->
      """SELECT doc_id,
        | source || '.example' AS host,
        | CASE doc_id % 5
        |  WHEN 0 THEN '/public/doc' || doc_id
        |  WHEN 1 THEN '/private/doc' || doc_id
        |  WHEN 2 THEN '/private/ok/doc' || doc_id
        |  WHEN 3 THEN '/tmp/doc' || doc_id || '.tmp'
        |  ELSE '/archive/doc' || doc_id END AS path,
        | doc_id % 5 IN (0, 2, 4) AS allowed_graftbot,
        | false AS allowed_stranger
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // q260: every archetype's canonical form is closed-form — the
    // first four collapse to the http base, the https page stands
    // alone, winners are the min row ids of the two groups
    "q260_url_canon" ->
      """SELECT doc_id,
        | 5::BIGINT AS n_variants,
        | 2::BIGINT AS n_canon,
        | 'http://host' || doc_id || '.example.com/a/c?a=1&b=2' AS base_canon,
        | 2::BIGINT AS n_winners,
        | (doc_id * 10)::BIGINT AS min_winner_id
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q238_main_content" ->
      """SELECT doc_id,
        | md5('Document ' || doc_id || chr(10) || clean) AS main_md5,
        | 'd' AS page_title,
        | 2::BIGINT AS n_blocks_total,
        | 2::BIGINT AS n_blocks_kept,
        | (len('Document ' || doc_id) + 1 + len(clean))::BIGINT AS main_chars
        |FROM (SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS clean
        |      FROM documents WHERE text IS NOT NULL) d
        |WHERE len(clean) >= 25
        |ORDER BY doc_id""".stripMargin,
    // q239: every Gopher/C4 rule replayed as a SQL predicate over the
    // same token/line/gram statistics (lines synthesized every 10
    // words, the q116 regex; grams via unnest+group, count fractions)
    "q239_gopher_rules" ->
      s"""WITH $gopherRulesCtes
        |SELECT doc_id, n_words, n_lines, mean_word_len,
        | r_word_count, r_mean_word_len, r_symbol_ratio, r_bullet_lines,
        | r_ellipsis_lines, r_alpha_words, r_stopwords, r_dup_lines,
        | r_top_2gram, r_top_3gram, r_no_brace, r_no_lorem, keep
        |FROM rules
        |ORDER BY doc_id""".stripMargin,
    // q240: the same rule table aggregated per host — keep counts,
    // per-rule failure counts, keep rate, and the host gate verdict
    "q240_host_gate" ->
      s"""WITH $gopherRulesCtes
        |SELECT source AS host,
        | count(*)::BIGINT AS n_docs,
        | sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_keep,
        | sum(CASE WHEN r_word_count THEN 0 ELSE 1 END)::BIGINT AS n_fail_word_count,
        | sum(CASE WHEN r_mean_word_len THEN 0 ELSE 1 END)::BIGINT AS n_fail_mean_word_len,
        | sum(CASE WHEN r_symbol_ratio THEN 0 ELSE 1 END)::BIGINT AS n_fail_symbol_ratio,
        | sum(CASE WHEN r_bullet_lines THEN 0 ELSE 1 END)::BIGINT AS n_fail_bullet_lines,
        | sum(CASE WHEN r_ellipsis_lines THEN 0 ELSE 1 END)::BIGINT AS n_fail_ellipsis_lines,
        | sum(CASE WHEN r_alpha_words THEN 0 ELSE 1 END)::BIGINT AS n_fail_alpha_words,
        | sum(CASE WHEN r_stopwords THEN 0 ELSE 1 END)::BIGINT AS n_fail_stopwords,
        | sum(CASE WHEN r_dup_lines THEN 0 ELSE 1 END)::BIGINT AS n_fail_dup_lines,
        | sum(CASE WHEN r_top_2gram THEN 0 ELSE 1 END)::BIGINT AS n_fail_top_2gram,
        | sum(CASE WHEN r_top_3gram THEN 0 ELSE 1 END)::BIGINT AS n_fail_top_3gram,
        | sum(CASE WHEN r_no_brace THEN 0 ELSE 1 END)::BIGINT AS n_fail_no_brace,
        | sum(CASE WHEN r_no_lorem THEN 0 ELSE 1 END)::BIGINT AS n_fail_no_lorem,
        | round(sum(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
        |   AS keep_rate,
        | sum(CASE WHEN keep THEN 1 ELSE 0 END)::DOUBLE / count(*) >= 0.5
        |   AS host_keep
        |FROM rules
        |GROUP BY source
        |ORDER BY host""".stripMargin,
    // q241: the WARC round trip is identity on record identities —
    // uri/status/body restate closed-form from the source table
    "q241_warc_ingest" ->
      """SELECT 'http://example.com/' || source || '/' || doc_id AS target_uri,
        | 200 AS http_status,
        | md5(text) AS payload_md5,
        | len(text)::BIGINT AS n_chars
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY target_uri""".stripMargin,
    // q250: the whole unigram-LM train replayed (seed selection,
    // bit-identical lattice sums, quantized E-step, M-step) — see
    // unigramModelCtes
    "q250_unigram_em" ->
      s"""WITH RECURSIVE $unigramModelCtes
        |SELECT piece, seed_score, expq, prob FROM model
        |ORDER BY piece""".stripMargin,
    // q251: Viterbi over the q250 model in integer micro-log space —
    // the recursion carries (score, count) for the last 4 positions;
    // candidates collapse via list_sort on (-score, count) structs, so
    // ties break to fewer tokens exactly as the operator's scan does
    "q251_unigram_tokens" ->
      s"""WITH RECURSIVE $unigramModelCtes,
        |$unigramViterbiCtes
        |SELECT m.doc_id,
        | COALESCE(a.n_words, 0)::BIGINT AS n_words,
        | COALESCE(a.n_tokens, 0)::BIGINT AS n_tokens
        |FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) m
        |LEFT JOIN agg a ON m.doc_id = a.doc_id
        |ORDER BY m.doc_id""".stripMargin,
    // q254: the q251 chain joined to the labels and rolled up per
    // language — exact long token sums, one rounded ratio
    "q254_tokenizer_fertility" ->
      s"""WITH RECURSIVE $unigramModelCtes,
        |$unigramViterbiCtes
        |SELECT doc.lang,
        | count(*)::BIGINT AS n_docs,
        | sum(COALESCE(a.n_words, 0))::BIGINT AS n_words,
        | sum(COALESCE(a.n_tokens, 0))::BIGINT AS n_tokens,
        | round(sum(COALESCE(a.n_tokens, 0))::DOUBLE
        |   / sum(COALESCE(a.n_words, 0)), 6) AS fertility
        |FROM (SELECT doc_id, lang FROM documents WHERE text IS NOT NULL) doc
        |LEFT JOIN agg a ON doc.doc_id = a.doc_id
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // q259: three proven chains stacked — NB route (q253's win/run2),
    // the unigram train + score-carrying Viterbi (q250/q251's agg,
    // now with llq) — then the CCNet tercile cut replayed over the
    // bounded milli-nat histogram with exact integer ceil arithmetic
    "q259_ccnet_buckets" ->
      s"""WITH RECURSIVE $langNbCtes,
        |$unigramModelCtes,
        |$unigramViterbiCtes,
        |win AS (SELECT doc_id, cand, score_q FROM sc WHERE rk = 1),
        |run2 AS (SELECT doc_id, score_q AS s2 FROM sc WHERE rk = 2),
        |routed AS (
        | SELECT w.doc_id, w.cand AS route
        | FROM win w LEFT JOIN run2 r2 ON w.doc_id = r2.doc_id
        | WHERE COALESCE(w.score_q - r2.s2, 0) >= 500000),
        |scored AS MATERIALIZED (
        | SELECT rt.route, a.doc_id, a.n_tokens,
        |  round(-(a.llq::DOUBLE) / (a.n_tokens::DOUBLE * 1000.0))::BIGINT AS nll_milli
        | FROM routed rt JOIN agg a ON rt.doc_id = a.doc_id
        | WHERE a.n_tokens > 0),
        |hist AS (SELECT route, nll_milli, count(*)::BIGINT AS c
        |         FROM scored GROUP BY 1, 2),
        |cumh AS (
        | SELECT route, nll_milli,
        |  sum(c) OVER (PARTITION BY route ORDER BY nll_milli
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
        | FROM hist),
        |tots AS (SELECT route, sum(c)::BIGINT AS n FROM hist GROUP BY 1),
        |t1 AS (
        | SELECT h.route, min(h.nll_milli) AS t1_milli
        | FROM cumh h JOIN tots t ON h.route = t.route
        | WHERE h.cum >= (t.n + 2) // 3 GROUP BY 1),
        |t2 AS (
        | SELECT h.route, min(h.nll_milli) AS t2_milli
        | FROM cumh h JOIN tots t ON h.route = t.route
        | WHERE h.cum >= (t.n * 2 + 2) // 3 GROUP BY 1),
        |bk AS (
        | SELECT s.route,
        |  CASE WHEN s.nll_milli <= t1.t1_milli THEN 'head'
        |       WHEN s.nll_milli <= t2.t2_milli THEN 'middle'
        |       ELSE 'tail' END AS bucket,
        |  s.n_tokens, t1.t1_milli, t2.t2_milli
        | FROM scored s
        | JOIN t1 ON s.route = t1.route
        | JOIN t2 ON s.route = t2.route)
        |SELECT route, bucket, count(*)::BIGINT AS n_docs,
        | sum(n_tokens)::BIGINT AS sum_tokens,
        | min(t1_milli)::BIGINT AS t1_milli,
        | min(t2_milli)::BIGINT AS t2_milli
        |FROM bk
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // q258: the q251 Viterbi recursion widened to n-best — each
    // lattice position carries a LIST of top-3 (ns, n, seg) structs
    // (ns = negated score so DuckDB's field-order struct sort ranks
    // score desc, then fewer tokens, then seg asc — the operator's
    // exact total order); candidates concat + sort + slice [1:3]
    "q258_unigram_nbest" ->
      s"""WITH RECURSIVE $unigramModelCtes,
        |llq AS (
        | SELECT piece, round(ln(prob) * 1000000)::BIGINT AS q
        | FROM model WHERE prob > 0),
        |nb AS (
        | SELECT w, len, 0 AS pos,
        |  [{'ns': 0::BIGINT, 'n': 0::BIGINT, 'seg': ''}] AS s0,
        |  []::STRUCT(ns BIGINT, n BIGINT, seg VARCHAR)[] AS s1,
        |  []::STRUCT(ns BIGINT, n BIGINT, seg VARCHAR)[] AS s2,
        |  []::STRUCT(ns BIGINT, n BIGINT, seg VARCHAR)[] AS s3
        | FROM wl
        | UNION ALL
        | SELECT v.w, v.len, v.pos + 1,
        |  list_sort(list_concat(list_concat(list_concat(
        |   list_transform(v.s0, c -> {'ns': c.ns - COALESCE(l1.q, -30000000),
        |    'n': c.n + 1,
        |    'seg': CASE WHEN c.seg = '' THEN substr(v.w, v.pos + 1, 1)
        |           ELSE c.seg || '|' || substr(v.w, v.pos + 1, 1) END}),
        |   CASE WHEN l2.q IS NOT NULL THEN
        |    list_transform(v.s1, c -> {'ns': c.ns - l2.q, 'n': c.n + 1,
        |     'seg': CASE WHEN c.seg = '' THEN substr(v.w, v.pos, 2)
        |            ELSE c.seg || '|' || substr(v.w, v.pos, 2) END})
        |   ELSE []::STRUCT(ns BIGINT, n BIGINT, seg VARCHAR)[] END),
        |   CASE WHEN l3.q IS NOT NULL THEN
        |    list_transform(v.s2, c -> {'ns': c.ns - l3.q, 'n': c.n + 1,
        |     'seg': CASE WHEN c.seg = '' THEN substr(v.w, v.pos - 1, 3)
        |            ELSE c.seg || '|' || substr(v.w, v.pos - 1, 3) END})
        |   ELSE []::STRUCT(ns BIGINT, n BIGINT, seg VARCHAR)[] END),
        |   CASE WHEN l4.q IS NOT NULL THEN
        |    list_transform(v.s3, c -> {'ns': c.ns - l4.q, 'n': c.n + 1,
        |     'seg': CASE WHEN c.seg = '' THEN substr(v.w, v.pos - 2, 4)
        |            ELSE c.seg || '|' || substr(v.w, v.pos - 2, 4) END})
        |   ELSE []::STRUCT(ns BIGINT, n BIGINT, seg VARCHAR)[] END))[1:3],
        |  v.s0, v.s1, v.s2
        | FROM nb v
        | LEFT JOIN llq l1 ON l1.piece = substr(v.w, v.pos + 1, 1)
        | LEFT JOIN llq l2 ON v.pos + 1 >= 2 AND l2.piece = substr(v.w, v.pos, 2)
        | LEFT JOIN llq l3 ON v.pos + 1 >= 3 AND l3.piece = substr(v.w, v.pos - 1, 3)
        | LEFT JOIN llq l4 ON v.pos + 1 >= 4 AND l4.piece = substr(v.w, v.pos - 2, 4)
        | WHERE v.pos < v.len),
        |fin AS (SELECT w, s0 FROM nb WHERE pos = len)
        |SELECT f.w AS w, i.i::BIGINT AS rk,
        | (-(f.s0[i.i].ns))::BIGINT AS score_q,
        | f.s0[i.i].n::BIGINT AS n_tokens,
        | f.s0[i.i].seg AS seg
        |FROM fin f, unnest(generate_series(1, len(f.s0))) AS i(i)
        |ORDER BY w, rk""".stripMargin,
    // q252: the prune round chained onto q250's model — rank cut on
    // expected counts, renormalize, one more generated lattice round
    "q252_unigram_prune" ->
      s"""WITH RECURSIVE $unigramModelCtes,
        |kept AS MATERIALIZED (
        | SELECT piece, seed_score, expq, prob FROM model WHERE len(piece) = 1
        | UNION ALL
        | SELECT piece, seed_score, expq, prob FROM (
        |  SELECT piece, seed_score, expq, prob,
        |   row_number() OVER (ORDER BY expq DESC, piece ASC) AS rk
        |  FROM model WHERE len(piece) > 1) t
        | WHERE rk <= 50),
        |ktot AS (SELECT sum(expq)::BIGINT AS t FROM kept),
        |probs2 AS MATERIALIZED (
        | SELECT k.piece,
        |  CASE WHEN ktot.t > 0 THEN k.expq::DOUBLE / ktot.t::DOUBLE
        |       ELSE k.prob END AS prob
        | FROM kept k, ktot),
        |${unigramLatticeCtes(sfx = "2", probs = "probs2")},
        |model2 AS (
        | SELECT k.piece, k.seed_score,
        |  COALESCE(m2.expq, 0)::BIGINT AS expq,
        |  CASE WHEN mtot2.t > 0
        |       THEN COALESCE(m2.expq, 0)::DOUBLE / mtot2.t::DOUBLE
        |       ELSE p2.prob END AS prob
        | FROM kept k
        | LEFT JOIN m2 ON k.piece = m2.piece
        | JOIN probs2 p2 ON k.piece = p2.piece, mtot2)
        |SELECT piece, seed_score, expq, prob FROM model2
        |ORDER BY piece""".stripMargin,
    // q249: the incremental path must be indistinguishable from a COLD
    // recompute — the oracle curates the whole corpus in one pass
    // (extraction floor, rules over the extracted body, min-id winner
    // per fingerprint) and never mentions batches
    "q249_incremental_crawl" ->
      s"""WITH d0 AS (
        | SELECT doc_id, source,
        |  regexp_replace(trim(text), '\\s+', ' ', 'g') AS clean
        | FROM documents WHERE text IS NOT NULL),
        |${gopherRulesCtesFrom(
          "SELECT doc_id, source, CASE WHEN len(clean) >= 25 THEN clean ELSE '' END AS t FROM d0")},
        |kept AS MATERIALIZED (
        | SELECT d0.doc_id, d0.source,
        |  md5(array_to_string(list_sort(list_distinct(
        |    string_split(lower(d0.clean), ' '))), ' ')) AS body_md5
        | FROM d0 JOIN rules r ON d0.doc_id = r.doc_id
        | WHERE len(d0.clean) >= 25
        |  AND r.r_word_count AND r.r_mean_word_len AND r.r_symbol_ratio
        |  AND r.r_bullet_lines AND r.r_ellipsis_lines AND r.r_alpha_words
        |  AND r.r_dup_lines AND r.r_top_2gram AND r.r_top_3gram
        |  AND r.r_no_brace AND r.r_no_lorem),
        |winners AS (SELECT body_md5, min(doc_id) AS doc_id FROM kept GROUP BY 1)
        |SELECT k.doc_id, k.source, k.body_md5
        |FROM kept k JOIN winners w
        |  ON k.doc_id = w.doc_id AND k.body_md5 = w.body_md5
        |ORDER BY k.doc_id""".stripMargin,
    // q248: the full NB train-then-score replayed — gram buckets from
    // md5 hex, add-one-smoothed counts and priors quantized to integer
    // micro-log units with round() (both engines round half away from
    // zero), scores as exact BIGINT sums, argmax tie-broken lang-asc
    "q248_lang_nb" ->
      s"""WITH $langNbCtes
        |SELECT doc_id, lang, cand AS pred_lang, score_q
        |FROM sc WHERE rk = 1
        |ORDER BY doc_id""".stripMargin,
    // q253: the q248 chain aggregated per PREDICTED language, with the
    // exact rk1−rk2 margin sums (ties margin 0, same as the operator).
    // run2 joins LEFT with a 0 fallback: a single-language corpus has
    // no rank-2 row, and the operator's convention there is margin 0 —
    // an inner join would return zero rows instead
    "q253_lang_routing" ->
      s"""WITH $langNbCtes,
        |win AS (SELECT doc_id, lang, cand, score_q FROM sc WHERE rk = 1),
        |run2 AS (SELECT doc_id, score_q AS s2 FROM sc WHERE rk = 2),
        |wc AS (
        | SELECT doc_id,
        |  len(list_filter(string_split(t, ' '), x -> x <> ''))::BIGINT AS n_words
        | FROM d)
        |SELECT w.cand AS pred_lang,
        | count(*)::BIGINT AS n_docs,
        | sum(wc.n_words)::BIGINT AS sum_words,
        | sum(COALESCE(w.score_q - r.s2, 0))::BIGINT AS sum_margin_q,
        | sum(CASE WHEN w.cand = w.lang THEN 1 ELSE 0 END)::BIGINT AS n_label_agree
        |FROM win w
        |LEFT JOIN run2 r ON w.doc_id = r.doc_id
        |JOIN wc ON w.doc_id = wc.doc_id
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // q257: the q253 scored chain composed with the q239 rule chain —
    // route = margin-thresholded predicted language (else quarantine),
    // keep under the route's OWN ruleset (stopword rule en-only,
    // quarantine never keeps), margins exact BIGINT sums
    "q257_routed_curation" ->
      s"""WITH $langNbCtes,
        |$gopherRulesCtes,
        |win AS (SELECT doc_id, cand, score_q FROM sc WHERE rk = 1),
        |run2 AS (SELECT doc_id, score_q AS s2 FROM sc WHERE rk = 2),
        |routed AS (
        | SELECT w.doc_id,
        |  CASE WHEN COALESCE(w.score_q - r2.s2, 0) >= 500000
        |       THEN w.cand ELSE 'quarantine' END AS route,
        |  COALESCE(w.score_q - r2.s2, 0) AS margin_q
        | FROM win w LEFT JOIN run2 r2 ON w.doc_id = r2.doc_id),
        |kr AS (
        | SELECT rt.route, rt.margin_q, r.r_stopwords,
        |  CASE WHEN rt.route = 'quarantine' THEN FALSE
        |       WHEN rt.route = 'en' THEN r.keep
        |       ELSE r.r_word_count AND r.r_mean_word_len AND r.r_symbol_ratio
        |        AND r.r_bullet_lines AND r.r_ellipsis_lines AND r.r_alpha_words
        |        AND r.r_dup_lines AND r.r_top_2gram AND r.r_top_3gram
        |        AND r.r_no_brace AND r.r_no_lorem END AS keep_routed
        | FROM routed rt JOIN rules r ON rt.doc_id = r.doc_id)
        |SELECT route,
        | count(*)::BIGINT AS n_docs,
        | sum(CASE WHEN keep_routed THEN 1 ELSE 0 END)::BIGINT AS n_keep,
        | sum(CASE WHEN r_stopwords THEN 0 ELSE 1 END)::BIGINT AS n_fail_stopwords,
        | sum(margin_q)::BIGINT AS sum_margin_q
        |FROM kr
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // q247: gzip must be invisible — the same closed-form identity as
    // q241 proves the member-chain inflater reproduces every record
    "q247_warc_gz_ingest" ->
      """SELECT 'http://example.com/' || source || '/' || doc_id AS target_uri,
        | 200 AS http_status,
        | md5(text) AS payload_md5,
        | len(text)::BIGINT AS n_chars
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY target_uri""".stripMargin,
    // q255: the CONTAINER must be invisible — the record-streamed
    // file reader must reproduce exactly what the q247 blob path (and
    // the q241 plain path) read, so all three share one closed-form
    // record identity
    "q255_warc_file_ingest" ->
      """SELECT 'http://example.com/' || source || '/' || doc_id AS target_uri,
        | 200 AS http_status,
        | md5(text) AS payload_md5,
        | len(text)::BIGINT AS n_chars
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY target_uri""".stripMargin,
    // q242: every funnel stage closed-form — extraction iff the
    // 25-char floor, rules over the extracted single-line body
    // (the parametrized seg), dedup on md5(body)
    "q242_crawl_pipeline" ->
      s"""WITH d0 AS (
        | SELECT doc_id, source,
        |  regexp_replace(trim(text), '\\s+', ' ', 'g') AS clean
        | FROM documents WHERE text IS NOT NULL),
        |${gopherRulesCtesFrom(
          "SELECT doc_id, source, CASE WHEN len(clean) >= 25 THEN clean ELSE '' END AS t FROM d0")}
        |SELECT d0.source AS source,
        | count(*)::BIGINT AS n_records,
        | sum(CASE WHEN len(d0.clean) >= 25 THEN 1 ELSE 0 END)::BIGINT AS n_extracted,
        | sum(CASE WHEN r.keep AND len(d0.clean) >= 25 THEN 1 ELSE 0 END)::BIGINT
        |   AS n_quality,
        | count(DISTINCT CASE WHEN r.keep AND len(d0.clean) >= 25
        |       THEN md5(d0.clean) END)::BIGINT AS n_unique
        |FROM d0 JOIN rules r ON d0.doc_id = r.doc_id
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q29_text_stats" ->
      """SELECT doc_id,
        | len(toks) AS n_tokens,
        | round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS uniq_ratio,
        | round(list_sum(list_transform(toks, t -> len(t))) * 1.0 / len(toks), 6) AS avg_token_len,
        | round(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) * 1.0 / len(toks), 6) AS stopword_ratio
        |FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents) d
        |ORDER BY doc_id""".stripMargin,
    "q30_lang_id" ->
      """SELECT doc_id, en_hits, de_hits,
        | CASE WHEN greatest(de_hits, en_hits, es_hits, fr_hits, zh_hits) = 0 THEN 'und'
        |      WHEN de_hits >= en_hits AND de_hits >= es_hits AND de_hits >= fr_hits AND de_hits >= zh_hits THEN 'de'
        |      WHEN en_hits >= es_hits AND en_hits >= fr_hits AND en_hits >= zh_hits THEN 'en'
        |      WHEN es_hits >= fr_hits AND es_hits >= zh_hits THEN 'es'
        |      WHEN fr_hits >= zh_hits THEN 'fr'
        |      ELSE 'zh' END AS pred_lang
        |FROM (SELECT doc_id,
        |  len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht','ein','eine','mit','von'))) AS de_hits,
        |  len(list_filter(toks, t -> t IN ('the','a','and','is','not','of','to','in','it','that'))) AS en_hits,
        |  len(list_filter(toks, t -> t IN ('el','la','los','las','y','es','no','un','una','de'))) AS es_hits,
        |  len(list_filter(toks, t -> t IN ('le','la','les','et','est','pas','un','une','dans','que'))) AS fr_hits,
        |  len(list_filter(toks, t -> t IN ('的','是','不','了','在','我','有','和','就','人'))) AS zh_hits
        | FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents) d) h
        |ORDER BY doc_id""".stripMargin,
    "q31_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // q36's media table is synthesized from pure arithmetic on media_id.
    // IMAGE rows are real 24-bit BMPs whose logical pixel-array byte p is
    // (i*31 + p*7) % 251 (UNSIGNED intensity); the engine's real BMP
    // decoder averages lane p%16 = 0, and the float32 feature lane is
    // replicated bit-exactly with a CAST to REAL (the lane mean is not a
    // /2^k fraction, so skipping the cast would flip round(...,4) on
    // boundary values). Audio/video keep the stub decode: body byte j is
    // the SIGNED cast of (i*31 + j*7) % 251 and feature[0] is the exact
    // integer sum / 256.0 (a /2^k fraction — float-exact, no cast).
    "q36_multimodal" ->
      """SELECT media_id, modality, w, h, frames_sampled, round(f0, 4) AS f0 FROM (
        | SELECT r.i AS media_id, 'image' AS modality,
        |  CAST(16 + (r.i % 6) * 8 AS INT) AS w,
        |  CAST(16 + (r.i % 5) * 8 AS INT) AS h,
        |  1 AS frames_sampled,
        |  CAST(CAST(sum((r.i * 31 + p.p * 7) % 251) AS DOUBLE) / count(*) AS REAL) AS f0
        | FROM range(300) r(i) CROSS JOIN range(8064) p(p)
        | WHERE r.i % 3 = 0 AND p.p % 16 = 0
        |   AND p.p < (16 + (r.i % 6) * 8) * (16 + (r.i % 5) * 8) * 3
        | GROUP BY r.i
        |UNION ALL
        | SELECT r.i AS media_id, 'audio' AS modality,
        |  CAST(8000 + (r.i % 4) * 4000 AS INT) AS w,
        |  CAST(1 + (r.i % 2) AS INT) AS h,
        |  CAST(200 + (r.i % 50) * 4 AS INT) AS frames_sampled,
        |  CAST(CAST(sum((r.i * 31 + j.j * 7) % 251 - 125) AS DOUBLE)
        |       / count(*) AS REAL) AS f0
        | FROM range(300) r(i) CROSS JOIN range(792) j(j)
        | WHERE r.i % 3 = 1 AND j.j % 16 = 0
        |   AND j.j < (200 + (r.i % 50) * 4) * (1 + (r.i % 2))
        | GROUP BY r.i
        |UNION ALL
        | SELECT r.i AS media_id, 'video' AS modality,
        |  CAST(64 + (r.i % 8) * 32 AS INT) AS w,
        |  CAST(64 + (r.i % 5) * 32 AS INT) AS h,
        |  CAST((8 + r.i % 4) // 2 AS INT) AS frames_sampled,
        |  sum(CASE WHEN (r.i * 31 + m.j * 112) % 251 > 127
        |           THEN (r.i * 31 + m.j * 112) % 251 - 256
        |           ELSE (r.i * 31 + m.j * 112) % 251 END) / 256.0 AS f0
        | FROM range(300) r(i) CROSS JOIN range(16) m(j)
        | WHERE r.i % 3 = 2
        | GROUP BY r.i) t
        |ORDER BY media_id""".stripMargin,
    // q46: identical synthetic-PII injection and the identical
    // RE2-compatible patterns, replayed in DuckDB (regexp_replace with
    // the 'g' flag = Spark's replace-all); scrub order matters and is
    // mirrored: emails -> ipv4 -> ipv6 -> cards -> date-shield ->
    // phones -> unshield (chr(1) = the \u0001 sentinel; backreference
    // syntax is \1 in DuckDB vs $1 in Java, same semantics — a
    // non-participating group substitutes empty on both engines)
    "q46_pii_scrub" ->
      """SELECT doc_id, md5(
        | regexp_replace(
        |  regexp_replace(
        |   regexp_replace(
        |    -- card redaction AFTER the date shield: adjacent dates form a
        |    -- card-shaped digit run and must already carry sentinels
        |    regexp_replace(
        |     -- second shield pass: the consuming boundary group makes one
        |     -- pass skip every other date in an adjacent run (the engine
        |     -- mirrors this with a double shieldDates)
        |     regexp_replace(
        |      regexp_replace(
        |       regexp_replace(
        |        regexp_replace(injected, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |        '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |       '\b(?:[0-9A-Fa-f]{0,4}:){2,7}[0-9A-Fa-f]{0,4}\b', '<IP>', 'g'),
        |      '(^|[^0-9./-])(?:([0-9]{4}[-/.])([0-9]{2}[-/.])([0-9]{2})|([0-9]{2}[-/.])([0-9]{2}[-/.])([0-9]{4}))([^0-9]|$)',
        |      '\1\2' || chr(1) || '\3' || chr(1) || '\4\5' || chr(1) || '\6' || chr(1) || '\7\8', 'g'),
        |     '(^|[^0-9./-])(?:([0-9]{4}[-/.])([0-9]{2}[-/.])([0-9]{2})|([0-9]{2}[-/.])([0-9]{2}[-/.])([0-9]{4}))([^0-9]|$)',
        |     '\1\2' || chr(1) || '\3' || chr(1) || '\4\5' || chr(1) || '\6' || chr(1) || '\7\8', 'g'),
        |    '\b[0-9](?:[0-9 -]{11,17})[0-9]\b', '<CARD>', 'g'),
        |   '\+?[0-9](?:[()\s.-]{0,2}[0-9]){6,}', '<PHONE>', 'g'),
        |  chr(1), '', 'g')) AS scrubbed_md5,
        | len(string_split_regex(injected, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) - 1 AS n_emails
        |FROM (
        | SELECT doc_id,
        |  text || ' Contact user' || CAST(doc_id AS VARCHAR)
        |       || '@example.com or call +1 (555) 010-'
        |       || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       || ' from 192.168.' || CAST(doc_id % 256 AS VARCHAR) || '.17 today.' AS injected
        | FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "q50_chunk_documents" ->
      """WITH d AS (
        | SELECT doc_id, string_split(text, ' ') AS toks
        | FROM documents WHERE doc_id < 2000),
        |st AS (SELECT doc_id, toks, unnest(range(0, len(toks), 16)) AS s FROM d)
        |SELECT doc_id, s // 16 AS chunk_id,
        | md5(array_to_string(toks[(s+1):(s+32)], ' ')) AS chunk_md5,
        | CAST(len(toks[(s+1):(s+32)]) AS BIGINT) AS n_tokens
        |FROM st
        |ORDER BY doc_id, chunk_id""".stripMargin,
    // q55: chr(769/776/778) = the combining marks injected engine-side;
    // nfc_normalize implements the same Unicode NFC algorithm as the
    // JDK Normalizer the engine wraps
    "q55_normalize_nfc" ->
      """SELECT doc_id, md5(nfc_normalize(injected)) AS norm_md5,
        | CAST(length(injected) - length(nfc_normalize(injected)) AS BIGINT) AS n_composed
        |FROM (SELECT doc_id,
        |        text || ' cafe' || chr(769) || ' u' || chr(776) || 'ni A' || chr(778) || ' end' AS injected
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    // q64: bigrams rebuilt positionally (1-based list indexing); docs
    // with < 2 tokens produce no bigram and no row, same as the engine
    "q64_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents),
        |b AS (SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS gram
        |      FROM t, unnest(range(1, len(toks))) AS u(i)),
        |c AS (SELECT doc_id, gram, count(*) AS cnt FROM b GROUP BY doc_id, gram)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_grams,
        | round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS BIGINT), 6) AS top_frac,
        | round(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(cnt) AS BIGINT), 6) AS dup_frac
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q71: the same normalization chain, step by step, on both raw
    // spellings (DuckDB regexp_replace needs the 'g' flag and \1
    // backreferences where Spark replaces all and uses $1)
    "q71_url_normalize" ->
      """WITH raw AS (
        | SELECT doc_id,
        |  'HTTPS://Example.COM/docs/' || doc_id || '/?utm_source=feed&ref=rss#top' AS a,
        |  'https://example.com/docs/' || doc_id AS b
        | FROM documents),
        |s1 AS (SELECT doc_id,
        |  lower(regexp_extract(a, '^([a-zA-Z]+://[^/?#]*)', 1)) || regexp_extract(a, '^[a-zA-Z]+://[^/?#]*(.*)$', 1) AS a,
        |  lower(regexp_extract(b, '^([a-zA-Z]+://[^/?#]*)', 1)) || regexp_extract(b, '^[a-zA-Z]+://[^/?#]*(.*)$', 1) AS b
        | FROM raw),
        |s2 AS (SELECT doc_id, regexp_replace(a, '#.*$', '', 'g') AS a,
        |                      regexp_replace(b, '#.*$', '', 'g') AS b FROM s1),
        |s3 AS (SELECT doc_id,
        |  regexp_replace(a, '([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g') AS a,
        |  regexp_replace(b, '([?&])(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '\1', 'g') AS b FROM s2),
        |s4 AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(a, '&&+', '&', 'g'), '\?&', '?', 'g'), '[?&]+$', '', 'g') AS a,
        |  regexp_replace(regexp_replace(regexp_replace(b, '&&+', '&', 'g'), '\?&', '?', 'g'), '[?&]+$', '', 'g') AS b FROM s3),
        |s5 AS (SELECT doc_id,
        |  regexp_replace(a, '(://[^/?#]+/.+?)/$', '\1', 'g') AS a,
        |  regexp_replace(b, '(://[^/?#]+/.+?)/$', '\1', 'g') AS b FROM s4)
        |SELECT doc_id, md5(a) AS norm_md5, a = b AS canonical_match
        |FROM s5 ORDER BY doc_id""".stripMargin,
    // q72: same tokenizer (lower+trim+split), empty tokens excluded;
    // deterministic top-100 boundary via the (tf DESC, token ASC) tie-break
    "q72_vocab_topk" ->
      """SELECT token, tf, df FROM (
        | SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
        | FROM (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        |       FROM documents) u
        | WHERE token <> ''
        | GROUP BY token) v
        |ORDER BY tf DESC, token
        |LIMIT 100""".stripMargin,
    // q75: bigrams rebuilt by list indexing; PMI with explicit double
    // casts (DuckDB integer division would truncate); same (pmi desc,
    // words) boundary tie-break
    "q75_pmi_collocations" ->
      """WITH toks AS (
        | SELECT string_split(lower(trim(text)), ' ') AS tk FROM documents),
        |bi AS (
        | SELECT tk[j] AS word_a, tk[j+1] AS word_b
        | FROM (SELECT tk, unnest(generate_series(1, len(tk) - 1)) AS j FROM toks) x
        | WHERE tk[j] <> '' AND tk[j+1] <> ''),
        |bc AS (SELECT word_a, word_b, count(*) AS c_ab FROM bi GROUP BY 1, 2
        |       HAVING count(*) >= 5),
        |uc AS (SELECT token, count(*) AS c
        |       FROM (SELECT unnest(tk) AS token FROM toks) u
        |       WHERE token <> '' GROUP BY token),
        |nu AS (SELECT CAST(sum(c) AS DOUBLE) AS n_uni FROM uc),
        |nb AS (SELECT CAST(sum(c_ab) AS DOUBLE) AS n_bi FROM bc)
        |SELECT word_a, word_b, c_ab,
        | round(ln((CAST(c_ab AS DOUBLE) / n_bi) /
        |          ((CAST(ca.c AS DOUBLE) / n_uni) * (CAST(cb.c AS DOUBLE) / n_uni))), 6) AS pmi
        |FROM bc
        |JOIN uc ca ON bc.word_a = ca.token
        |JOIN uc cb ON bc.word_b = cb.token, nu, nb
        |ORDER BY pmi DESC, word_a, word_b
        |LIMIT 100""".stripMargin,
    // q78: full feature vector + sigmoid recomputed (weights restated);
    // explicit double casts against integer division
    "q78_quality_model" ->
      """WITH f AS (
        | SELECT doc_id,
        |  CAST(len(toks) AS DOUBLE) AS n,
        |  CAST(len(list_distinct(toks)) AS DOUBLE) AS uq,
        |  CAST(list_sum(list_transform(toks, t -> len(t))) AS DOUBLE) AS sl,
        |  CAST(len(list_filter(toks, t -> t IN ('the','a','and','of','to'))) AS DOUBLE) AS st
        | FROM (SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents) d
        | WHERE len(toks) > 0),
        |z AS (
        | SELECT doc_id,
        |  -3.0 + 0.4 * ln(n + 1.0) + 2.0 * (uq / n) + 0.1 * (sl / n) + 4.0 * (st / n) AS z
        | FROM f)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS score,
        | 1.0 / (1.0 + exp(-z)) >= 0.5 AS keep
        |FROM z ORDER BY doc_id""".stripMargin,
    // q79: entropy from per-(doc, token) counts — H = (ln N − Σc·ln c / N)/ln 2
    "q79_token_entropy" ->
      """WITH c AS (
        | SELECT doc_id, token, count(*) AS c
        | FROM (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS token
        |       FROM documents) u
        | GROUP BY doc_id, token),
        |e AS (
        | SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
        |  sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS sclc
        | FROM c GROUP BY doc_id)
        |SELECT doc_id, n_grams,
        | round((ln(CAST(n_grams AS DOUBLE)) - sclc / n_grams) / ln(2.0), 6) AS entropy_bits
        |FROM e ORDER BY doc_id""".stripMargin,
    // q109: the engine decodes real RIFF/WAVE PCM bytes; the oracle
    // restates the synthetic sample closed form — flat sample j of
    // audio i is ((i*31 + j*7) % 251) - 125, N = nFrames*channels.
    // Integer stats (peak, sum_sq, duration_us) must match exactly;
    // RMS to 6 rounded decimals (sqrt+divide are IEEE in both engines).
    "q109_audio_features" ->
      """SELECT r.i AS media_id,
        | CAST(8000 + (r.i % 4) * 4000 AS INT) AS sample_rate,
        | CAST(1 + (r.i % 2) AS INT) AS channels,
        | 16 AS bits,
        | CAST(200 + (r.i % 50) * 4 AS INT) AS n_frames,
        | CAST((200 + (r.i % 50) * 4) * 1000000 // (8000 + (r.i % 4) * 4000) AS BIGINT) AS duration_us,
        | CAST(max(abs((r.i * 31 + j.j * 7) % 251 - 125)) AS INT) AS peak,
        | CAST(sum(((r.i * 31 + j.j * 7) % 251 - 125) * ((r.i * 31 + j.j * 7) % 251 - 125)) AS BIGINT) AS sum_sq,
        | round(sqrt(CAST(sum(((r.i * 31 + j.j * 7) % 251 - 125) * ((r.i * 31 + j.j * 7) % 251 - 125)) AS DOUBLE) / count(*)), 6) AS rms
        |FROM range(300) r(i) CROSS JOIN range(792) j(j)
        |WHERE r.i % 3 = 1
        |  AND j.j < (200 + (r.i % 50) * 4) * (1 + (r.i % 2))
        |GROUP BY r.i
        |ORDER BY media_id""".stripMargin,
    // q110: the engine walks real ISO BMFF boxes; the oracle restates
    // the synth geometry closed forms (Multimodal.synthMp4Geom) —
    // every column is integer arithmetic in media_id, matched exactly
    "q110_video_metadata" ->
      """SELECT r.i AS media_id,
        | CASE WHEN r.i % 2 = 0 THEN 'avc1' ELSE 'hev1' END AS codec,
        | CAST(1000 + (r.i % 5) * 200 AS BIGINT) AS timescale,
        | CAST((8 + r.i % 4) * (40 + r.i % 7) AS BIGINT) AS duration_ticks,
        | CAST(64 + (r.i % 8) * 32 AS INT) AS width,
        | CAST(64 + (r.i % 5) * 32 AS INT) AS height,
        | CAST(8 + r.i % 4 AS INT) AS n_frames,
        | CAST((8 + r.i % 4) * (40 + r.i % 7) * 1000000 // (1000 + (r.i % 5) * 200) AS BIGINT) AS duration_us
        |FROM range(300) r(i)
        |WHERE r.i % 3 = 2
        |ORDER BY media_id""".stripMargin,
    // q112: identical MLE ratio arithmetic — c(w1,w2)/c(w1 as context),
    // doc score = weighted mean -log2 over the doc's own bigrams
    "q112_lm_crossentropy" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
        |bg AS (
        | SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        | FROM toks, unnest(range(1, len(t))) AS u(i)),
        |d AS (SELECT doc_id, w1, w2, count(*) AS m FROM bg GROUP BY 1, 2, 3),
        |m12 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c12 FROM d GROUP BY 1, 2),
        |m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM m12 GROUP BY 1)
        |SELECT d.doc_id, CAST(sum(d.m) AS BIGINT) AS n_bigrams,
        | round(-sum(d.m * log2(m12.c12::DOUBLE / m1.c1)) / sum(d.m), 6) AS cross_entropy
        |FROM d
        |JOIN m12 ON d.w1 = m12.w1 AND d.w2 = m12.w2
        |JOIN m1 ON d.w1 = m1.w1
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q261: the q112 count chain extended with continuation-type
    // tables; the KN probability's parenthesization mirrors the
    // operator verbatim (bit-identical doubles before the micro-log
    // quantization), totals are exact BIGINT sums
    "q261_kneser_ney" ->
      """WITH toks AS (
        | SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM documents),
        |bg AS (
        | SELECT doc_id, t[i] AS w1, t[i+1] AS w2
        | FROM toks, unnest(range(1, len(t))) AS u(i)),
        |d AS (SELECT doc_id, w1, w2, count(*) AS m FROM bg GROUP BY 1, 2, 3),
        |m12 AS (SELECT w1, w2, CAST(sum(m) AS BIGINT) AS c12 FROM d GROUP BY 1, 2),
        |m1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
        |        count(*)::BIGINT AS n1fw FROM m12 GROUP BY 1),
        |mc AS (SELECT w2, count(*)::BIGINT AS n1bw FROM m12 GROUP BY 1),
        |mt AS (SELECT count(*)::BIGINT AS tot FROM m12),
        |ts AS (
        | SELECT m12.w1, m12.w2,
        |  round(ln(
        |   (greatest(m12.c12::DOUBLE - 0.75, 0.0) / m1.c1::DOUBLE) +
        |   (((0.75 * m1.n1fw::DOUBLE) / m1.c1::DOUBLE) *
        |    (mc.n1bw::DOUBLE / mt.tot::DOUBLE))
        |  ) * 1000000)::BIGINT AS llq
        | FROM m12 JOIN m1 ON m12.w1 = m1.w1 JOIN mc ON m12.w2 = mc.w2, mt)
        |SELECT d.doc_id, CAST(sum(d.m) AS BIGINT) AS n_bigrams,
        | CAST(sum(d.m * ts.llq) AS BIGINT) AS sum_llq,
        | round(-(CAST(sum(d.m * ts.llq) AS BIGINT)::DOUBLE)
        |   / (CAST(sum(d.m) AS BIGINT)::DOUBLE * 1000.0))::BIGINT AS nll_milli
        |FROM d JOIN ts ON d.w1 = ts.w1 AND d.w2 = ts.w2
        |GROUP BY d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q119: the synth sample table in closed form — per = 256 // n bytes
    // per frame (last frame takes the remainder), one chunk, dts = k·delta,
    // mdat byte at flat index j = (i·31 + j·7) mod 251 as a signed byte
    "q119_frame_sample" ->
      """WITH v AS (
        | SELECT r.i AS media_id, CAST(8 + r.i % 4 AS INT) AS n,
        |  40 + r.i % 7 AS delta, 1000 + (r.i % 5) * 200 AS mts
        | FROM range(300) r(i) WHERE r.i % 3 = 2),
        |e AS (
        | SELECT media_id, n, delta, mts, CAST(u.k AS INT) AS k, 256 // n AS per,
        |  CASE WHEN u.k = n - 1 THEN 256 - (256 // n) * (n - 1) ELSE 256 // n END AS sz,
        |  u.k * (256 // n) AS rel
        | FROM v, unnest(range(0, v.n)) AS u(k)
        | WHERE u.k % 2 = 0)
        |SELECT e.media_id, e.k AS sample_idx, CAST(0 AS INT) AS chunk_idx,
        | CAST(e.sz AS BIGINT) AS size,
        | CAST(e.rel AS BIGINT) AS offset_in_chunk,
        | CAST(e.k * e.delta AS BIGINT) AS dts_ticks,
        | CAST((e.k * e.delta * 1000000) // e.mts AS BIGINT) AS dts_us,
        | TRUE AS sync,
        | CAST((SELECT sum(CASE WHEN m > 127 THEN m - 256 ELSE m END)
        |       FROM (SELECT (e.media_id * 31 + j.j * 7) % 251 AS m
        |             FROM unnest(range(e.rel, e.rel + e.sz)) AS j(j)) q)
        |      AS BIGINT) AS byte_sum
        |FROM e
        |ORDER BY media_id, sample_idx""".stripMargin,
    // q124: banded oracle — DuckDB restates the whitespace-normalized
    // lowercase original (md5 + word count); lossless is the engine-side
    // verdict that detokenizing the BPE output reproduces it, asserted
    // TRUE (documents carry no exotic whitespace, verified per-SF)
    // q256: byte-level BPE's zero-OOV guarantee — the original text's
    // md5 and UTF-8 byte length restate verbatim; lossless and the
    // 1..n_bytes token-count band are the engine-side verdicts,
    // asserted TRUE per document
    "q256_byte_bpe" ->
      """SELECT doc_id,
        | md5(text) AS text_md5,
        | octet_length(encode(text))::BIGINT AS n_bytes,
        | TRUE AS tokens_bounded,
        | TRUE AS lossless
        |FROM documents WHERE text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    // q262: WordPiece — md5/word/char counts of the normalized text
    // restate verbatim; zero-UNK (full-corpus alphabet), the
    // n_words..n_chars token band, and greedy-decode losslessness are
    // the engine-side verdicts, asserted TRUE per document
    "q262_wordpiece" ->
      """WITH n AS (
        | SELECT doc_id,
        |  array_to_string(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), w -> len(w) > 0),
        |    ' ') AS norm
        | FROM documents WHERE text IS NOT NULL)
        |SELECT doc_id, md5(norm) AS norm_md5,
        | len(list_filter(string_split(norm, ' '), w -> len(w) > 0)) AS n_words,
        | len(replace(norm, ' ', '')) AS n_chars,
        | TRUE AS tokens_bounded,
        | TRUE AS zero_unk,
        | TRUE AS lossless
        |FROM n
        |ORDER BY doc_id""".stripMargin,
    "q124_bpe_tokenize" ->
      """WITH n AS (
        | SELECT doc_id,
        |  array_to_string(list_filter(
        |    regexp_split_to_array(lower(trim(text)), '\s+'), w -> len(w) > 0),
        |    ' ') AS norm
        | FROM documents)
        |SELECT doc_id, md5(norm) AS norm_md5,
        | len(list_filter(string_split(norm, ' '), w -> len(w) > 0)) AS n_words,
        | TRUE AS lossless
        |FROM n
        |ORDER BY doc_id""".stripMargin,
    // q134: every pooled cell recomputed from the closed-form synthetic
    // pixels — byte at logical position p of image i is (i*31 + 7p) mod
    // 251, rows are BGR (r at x*3+2), cell of pixel x is x*4 // w
    "q134_image_pool" -> poolClosedFormOracle,
    // q136: decode replayed in closed form — audio ids are i%3=1,
    // channels 1+i%2, frames 200+(i%50)*4, channel-0 flat sample index
    // n*channels, value (i*31+7j)%251-125; angle left-associated
    // exactly as the engine builds it
    "q136_audio_spectrum" ->
      """WITH a AS (
        | SELECT r.i AS media_id, CAST(1 + r.i % 2 AS INT) AS ch,
        |  CAST(200 + (r.i % 50) * 4 AS INT) AS nf
        | FROM range(300) r(i) WHERE r.i % 3 = 1),
        |x AS (
        | SELECT media_id, nf, CAST(nn.n AS INT) AS n,
        |  CAST(((media_id * 31 + 7 * (nn.n * ch)) % 251) - 125 AS DOUBLE) AS v
        | FROM a, unnest(range(0, a.nf)) nn(n)),
        |s AS (
        | SELECT media_id, b.bin, nf,
        |  sum(v * cos(2 * pi() * b.bin * n / nf)) AS c,
        |  sum(v * sin(2 * pi() * b.bin * n / nf)) AS sn
        | FROM x, (SELECT unnest([1, 2, 4, 8]) AS bin) b
        | GROUP BY 1, 2, 3)
        |SELECT media_id, CAST(bin AS INT) AS bin,
        | round(ln(1.0 + (c * c + sn * sn) / CAST(nf * nf AS DOUBLE)), 6) AS log_power
        |FROM s
        |ORDER BY media_id, bin""".stripMargin,
    // q161: the three count tables rebuilt from the same hash-train
    // partition, the backoff CASE replayed with explicit DOUBLE casts
    // (DuckDB 0.4 is DECIMAL; JVM alpha is double — cast before
    // multiplying so both engines run the identical IEEE ops)
    "q161_stupid_backoff" ->
      """WITH docs AS (
        | SELECT doc_id, text,
        |  CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS b
        | FROM documents),
        |tr AS (SELECT string_split(lower(trim(text)), ' ') AS t FROM docs WHERE b < 9000),
        |te AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS t FROM docs WHERE b >= 9000),
        |c3 AS (SELECT t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, count(*) AS c3
        |       FROM tr, unnest(range(1, len(t) - 1)) AS u(i) GROUP BY 1, 2, 3),
        |c2 AS (SELECT t[i] AS wa, t[i+1] AS wb, count(*) AS c2
        |       FROM tr, unnest(range(1, len(t))) AS u(i) GROUP BY 1, 2),
        |c1 AS (SELECT t[i] AS w, count(*) AS c1
        |       FROM tr, unnest(range(1, len(t) + 1)) AS u(i) GROUP BY 1),
        |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS T FROM c1),
        |trows AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2, t[i+2] AS w3, count(*) AS m
        |          FROM te, unnest(range(1, len(t) - 1)) AS u(i) GROUP BY 1, 2, 3, 4),
        |sc AS (SELECT r.doc_id, r.m,
        |        CASE WHEN g3.c3 IS NOT NULL THEN g3.c3::DOUBLE / g2c.c2
        |             WHEN g2b.c2 IS NOT NULL
        |              THEN CAST(0.4 AS DOUBLE) * g2b.c2::DOUBLE / g1c.c1
        |             ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) *
        |                  coalesce(g1t.c1, 1)::DOUBLE / tot.T END AS s
        |       FROM trows r
        |       LEFT JOIN c3 g3 ON r.w1 = g3.w1 AND r.w2 = g3.w2 AND r.w3 = g3.w3
        |       LEFT JOIN c2 g2c ON r.w1 = g2c.wa AND r.w2 = g2c.wb
        |       LEFT JOIN c2 g2b ON r.w2 = g2b.wa AND r.w3 = g2b.wb
        |       LEFT JOIN c1 g1c ON r.w2 = g1c.w
        |       LEFT JOIN c1 g1t ON r.w3 = g1t.w
        |       CROSS JOIN tot)
        |SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_trigrams,
        | round(-sum(m * log2(s)) / sum(m), 6) AS sb_cost
        |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q163: every dHash bit reconstructed from the closed-form pixel
    // generator — integer luma, cross-multiplied cell comparison, hex
    // nibbles assembled most-significant-first
    "q163_image_dhash" -> dhashClosedFormOracle,
    // q164: both bit grids rebuilt (raw and +24-clamped), hamming =
    // count of differing bits — no sign-bit arithmetic anywhere
    "q164_dhash_invariance" ->
      s"""WITH ${dhashBitCtes("", 0)},
         |${dhashBitCtes("s_", 24)}
         |SELECT a.media_id,
         | CAST(sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS BIGINT) AS hamming
         |FROM bits a JOIN s_bits b
         |  ON a.media_id = b.media_id AND a.cy = b.cy AND a.cx = b.cx
         |GROUP BY a.media_id
         |ORDER BY a.media_id""".stripMargin,
    // q195: the round-trip identity IS the oracle — codeTokens must
    // invert camelCasing exactly, so the joined-token md5 pins every
    // boundary rule
    "q195_code_tokens" ->
      """WITH a AS (SELECT doc_id,
        |  list_filter(string_split(lower(trim(text)), ' '),
        |    t -> regexp_full_match(t, '[a-z]{2,}')) AS alpha
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(alpha) AS BIGINT) AS n_alpha,
        | CAST(len(alpha) AS BIGINT) AS n_recovered,
        | true AS ok,
        | md5(array_to_string(alpha, ' ')) AS toks_md5
        |FROM a ORDER BY doc_id""".stripMargin,
    // q198: BLEU replayed in full — adjacent-pair lead window, per-order
    // gram lists, clipped counts via least(cand, ref) per distinct gram,
    // Lin-Och add-one smoothing for n >= 2, BP, geometric mean (same
    // IEEE op order as the engine: each log term divided by 4, summed
    // left to right)
    "q198_bleu" -> (bleuPairOracle + "\nORDER BY cand_id"),
    // q199: ROUGE-1/2 over the same pair harness and clipped-count CTEs
    // — one row per (pair, n); f1 from the UNROUNDED precision/recall,
    // matching the engine
    "q199_rouge" ->
      s"""WITH $ngramClipCtes,
        |j AS (
        | SELECT t.cand_id, t.n, COALESCE(cl.clipped, 0) AS ov, t.c_tot, t.r_tot,
        |  CASE WHEN t.c_tot = 0 THEN 0.0
        |       ELSE CAST(COALESCE(cl.clipped, 0) AS DOUBLE) / t.c_tot END AS prec,
        |  CASE WHEN t.r_tot = 0 THEN 0.0
        |       ELSE CAST(COALESCE(cl.clipped, 0) AS DOUBLE) / t.r_tot END AS rec
        | FROM tot t LEFT JOIN cl ON t.cand_id = cl.cand_id AND t.n = cl.n
        | WHERE t.n <= 2)
        |SELECT j.cand_id, pp.ref_id, CAST(j.n AS INTEGER) AS n,
        | CAST(j.ov AS BIGINT) AS overlap,
        | CAST(j.c_tot AS BIGINT) AS cand_total, CAST(j.r_tot AS BIGINT) AS ref_total,
        | round(j.prec, 6) AS "precision",
        | round(j.rec, 6) AS recall,
        | round(CASE WHEN j.prec + j.rec = 0.0 THEN 0.0
        |   ELSE 2.0 * j.prec * j.rec / (j.prec + j.rec) END, 6) AS f1
        |FROM j JOIN pp ON j.cand_id = pp.cand_id
        |ORDER BY j.cand_id, j.n""".stripMargin,
    // q200: micro-averaged corpus BLEU — exact long sums per source,
    // then the same smoothing/BP/geomean IEEE op order as the engine
    "q200_corpus_bleu" ->
      s"""WITH $ngramClipCtes,
        |per AS (
        | SELECT pp.source, t.cand_id, t.n, t.c_tot, t.r_tot,
        |  COALESCE(cl.clipped, 0) AS m
        | FROM tot t
        | LEFT JOIN cl ON t.cand_id = cl.cand_id AND t.n = cl.n
        | JOIN pp ON t.cand_id = pp.cand_id),
        |ag AS (
        | SELECT source,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs,
        |  CAST(sum(CASE WHEN n = 1 THEN c_tot END) AS BIGINT) AS c_len,
        |  CAST(sum(CASE WHEN n = 1 THEN r_tot END) AS BIGINT) AS r_len,
        |  CAST(sum(CASE WHEN n = 1 THEN m END) AS BIGINT) AS m1,
        |  CAST(sum(CASE WHEN n = 2 THEN m END) AS BIGINT) AS m2,
        |  CAST(sum(CASE WHEN n = 3 THEN m END) AS BIGINT) AS m3,
        |  CAST(sum(CASE WHEN n = 4 THEN m END) AS BIGINT) AS m4,
        |  CAST(sum(CASE WHEN n = 2 THEN c_tot END) AS BIGINT) AS ct2,
        |  CAST(sum(CASE WHEN n = 3 THEN c_tot END) AS BIGINT) AS ct3,
        |  CAST(sum(CASE WHEN n = 4 THEN c_tot END) AS BIGINT) AS ct4
        | FROM per GROUP BY source),
        |f AS (
        | SELECT *, CASE WHEN c_len = 0 THEN 0.0
        |   WHEN c_len > r_len THEN 1.0
        |   ELSE exp(1.0 - CAST(r_len AS DOUBLE) / c_len) END AS bp
        | FROM ag)
        |SELECT source, n_pairs, c_len, r_len, m1, m2, m3, m4,
        | round(bp, 6) AS bp,
        | round(CASE WHEN c_len = 0 OR m1 = 0 THEN 0.0
        |   ELSE bp * exp(ln(CAST(m1 AS DOUBLE) / c_len) / 4
        |               + ln(CAST(m2 + 1 AS DOUBLE) / (ct2 + 1)) / 4
        |               + ln(CAST(m3 + 1 AS DOUBLE) / (ct3 + 1)) / 4
        |               + ln(CAST(m4 + 1 AS DOUBLE) / (ct4 + 1)) / 4) END, 6) AS corpus_bleu
        |FROM f ORDER BY source""".stripMargin,
    // q201: per-pair BLEU replayed (the q198 pipeline), then the mean
    // over integer BLEU-micros — exact, order-independent
    "q201_self_bleu" ->
      s"""WITH $ngramClipCtes,
        |m AS (
        | SELECT t.cand_id,
        |  max(CASE WHEN t.n = 1 THEN t.c_tot END) AS c_len,
        |  max(CASE WHEN t.n = 1 THEN t.r_tot END) AS r_len,
        |  max(CASE WHEN t.n = 1 THEN COALESCE(cl.clipped, 0) END) AS m1,
        |  max(CASE WHEN t.n = 2 THEN COALESCE(cl.clipped, 0) END) AS m2,
        |  max(CASE WHEN t.n = 3 THEN COALESCE(cl.clipped, 0) END) AS m3,
        |  max(CASE WHEN t.n = 4 THEN COALESCE(cl.clipped, 0) END) AS m4,
        |  max(CASE WHEN t.n = 2 THEN t.c_tot END) AS ct2,
        |  max(CASE WHEN t.n = 3 THEN t.c_tot END) AS ct3,
        |  max(CASE WHEN t.n = 4 THEN t.c_tot END) AS ct4
        | FROM tot t LEFT JOIN cl ON t.cand_id = cl.cand_id AND t.n = cl.n
        | GROUP BY 1),
        |f AS (
        | SELECT pp.source, m.*,
        |  CASE WHEN m.c_len = 0 THEN 0.0
        |       WHEN m.c_len > m.r_len THEN 1.0
        |       ELSE exp(1.0 - CAST(m.r_len AS DOUBLE) / m.c_len) END AS bp
        | FROM m JOIN pp ON m.cand_id = pp.cand_id),
        |b AS (
        | SELECT source,
        |  round(CASE WHEN c_len = 0 OR m1 = 0 THEN 0.0
        |    ELSE bp * exp(ln(CAST(m1 AS DOUBLE) / c_len) / 4
        |                + ln(CAST(m2 + 1 AS DOUBLE) / (ct2 + 1)) / 4
        |                + ln(CAST(m3 + 1 AS DOUBLE) / (ct3 + 1)) / 4
        |                + ln(CAST(m4 + 1 AS DOUBLE) / (ct4 + 1)) / 4) END, 6) AS bleu
        | FROM f)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
        | round(CAST(sum(CAST(round(bleu * 1000000) AS BIGINT)) AS DOUBLE)
        |   / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS self_bleu
        |FROM b GROUP BY source ORDER BY source""".stripMargin,
    // q202: PNG is lossless -> the q163 closed-form bit reconstruction
    // applies verbatim to the ImageIO-decoded PNG corpus
    "q202_png_dhash" -> dhashClosedFormOracle,
    // q203: the verdict column is the oracle (q152 convention) — JPEG
    // codec output is not SQL-expressible; the engine must earn TRUE
    // for every image by actually decoding and hashing both payloads
    "q203_jpeg_dhash_stability" ->
      """SELECT r.i AS media_id, TRUE AS within_16_bits
        |FROM range(300) r(i) WHERE r.i % 3 = 0
        |ORDER BY media_id""".stripMargin,
    // q204: q134's closed-form cell means, decoded from PNG
    "q204_png_pool" -> poolClosedFormOracle,
    // q205: chrF2 replayed — char tokens (whitespace stripped), per-order
    // clipped counts for n=1..6, all-orders macro-average, beta=2 F
    "q205_chrf" -> (chrfPairOracle + "\nORDER BY m.cand_id"),
    // q206: the LCS dynamic program replayed as a recursive CTE over
    // anti-diagonals (diagonal d needs only d-1 and d-2, so each step
    // is one list_transform; dp[n][m] is the single entry of the last
    // diagonal), then Lin's F arithmetic in the engine's IEEE op order
    "q206_rouge_l" -> (rougeLPairOracle + "\nORDER BY cand_id"),
    // q207: the edit-distance DP replayed — q206's anti-diagonal
    // recursion with min/+1 costs and i/j base rows
    "q207_wer" -> (werPairOracle + "\nORDER BY cand_id"),
    // q208: the four per-pair metric oracles wrapped as CTEs, joined on
    // cand_id, integer-micro means per source — one replayed datacard
    "q208_eval_rollup" ->
      s"""WITH b AS ($bleuPairOracle),
        |c AS ($chrfPairOracle),
        |rl AS ($rougeLPairOracle),
        |w AS ($werPairOracle),
        |src AS (SELECT doc_id AS cand_id, source FROM documents)
        |SELECT src.source, CAST(count(*) AS BIGINT) AS n_pairs,
        | round(CAST(sum(CAST(round(b.bleu * 1000000) AS BIGINT)) AS DOUBLE)
        |   / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS bleu_mean,
        | round(CAST(sum(CAST(round(c.chrf * 1000000) AS BIGINT)) AS DOUBLE)
        |   / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS chrf_mean,
        | round(CAST(sum(CAST(round(rl.rouge_l * 1000000) AS BIGINT)) AS DOUBLE)
        |   / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS rouge_l_mean,
        | round(CAST(sum(CAST(round(w.wer * 1000000) AS BIGINT)) AS DOUBLE)
        |   / (CAST(count(*) AS DOUBLE) * 1000000.0), 6) AS wer_mean
        |FROM b
        | JOIN c USING (cand_id) JOIN rl USING (cand_id)
        | JOIN w USING (cand_id) JOIN src USING (cand_id)
        |GROUP BY src.source ORDER BY src.source""".stripMargin,
    // q209: the oracle corpus is pure single-space ASCII, so the
    // UAX#29 tokenizer must equal the whitespace tokenizer EXACTLY —
    // count + joined md5 replayed; the engine-side array-equality
    // verdict restated as TRUE (q195 round-trip convention); character
    // conservation via md5 of the space-stripped text
    "q209_unicode_tokens" ->
      """WITH a AS (SELECT doc_id,
        |  list_filter(string_split(lower(trim(text)), ' '), t -> t <> '') AS toks,
        |  text FROM documents)
        |SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS n_tokens,
        | md5(array_to_string(toks, ' ')) AS toks_md5,
        | true AS ws_equal,
        | md5(replace(trim(text), ' ', '')) AS chars_md5
        |FROM a ORDER BY doc_id""".stripMargin,
    // q210: q181's chao1 replay, which the Unicode-mode tokenizer must
    // reproduce bit-for-bit on the ASCII corpus (drop-in seam pin)
    "q210_unicode_vocab" ->
      """WITH tf AS (
        | SELECT tok AS token, count(*) AS freq
        | FROM (SELECT unnest(list_filter(string_split(lower(trim(text)), ' '),
        |                     t -> t <> '')) AS tok FROM documents)
        | GROUP BY 1)
        |SELECT CAST(sum(freq) AS BIGINT) AS n_tokens, count(*) AS vocab,
        | CAST(sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
        | CAST(sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
        | round(count(*) +
        |  (sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) * (sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END) - 1))
        |   / (2.0 * (sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END) + 1)), 6) AS chao1
        |FROM tf""".stripMargin,
    // q211: multi-ref BLEU replayed in full — two-lead pair harness,
    // per-ref gram counts MAX-merged per gram before clipping,
    // closest-length (ties shorter) effective reference for BP, then
    // the q198 smoothing/BP/geomean arithmetic
    "q211_bleu_multi" ->
      s"""WITH $multiRefPairCtes,
        |ns AS (SELECT unnest([1, 2, 3, 4]) AS n),
        |eff AS (
        | SELECT cand_id, len(ct) AS c_len,
        |  CASE WHEN abs(len(r1) - len(ct)) < abs(len(r2) - len(ct)) THEN len(r1)
        |       WHEN abs(len(r2) - len(ct)) < abs(len(r1) - len(ct)) THEN len(r2)
        |       ELSE least(len(r1), len(r2)) END AS eff_len
        | FROM pp),
        |tot AS (
        | SELECT e.cand_id, n, greatest(e.c_len - n + 1, 0) AS c_tot,
        |  greatest(e.eff_len - n + 1, 0) AS r_tot
        | FROM eff e, ns),
        |cg AS (
        | SELECT cand_id, n, g, count(*) AS cc FROM (
        |  SELECT cand_id, n, unnest(list_transform(range(greatest(len(ct) - n + 1, 0)),
        |   i -> array_to_string(ct[i+1 : i+n], ' '))) AS g
        |  FROM pp, ns)
        | GROUP BY 1, 2, 3),
        |rg AS (
        | SELECT cand_id, n, g, max(rc) AS rc FROM (
        |  SELECT cand_id, n, g, count(*) AS rc FROM (
        |   SELECT cand_id, n, unnest(list_transform(range(greatest(len(r1) - n + 1, 0)),
        |    i -> array_to_string(r1[i+1 : i+n], ' '))) AS g
        |   FROM pp, ns)
        |  GROUP BY 1, 2, 3
        |  UNION ALL
        |  SELECT cand_id, n, g, count(*) AS rc FROM (
        |   SELECT cand_id, n, unnest(list_transform(range(greatest(len(r2) - n + 1, 0)),
        |    i -> array_to_string(r2[i+1 : i+n], ' '))) AS g
        |   FROM pp, ns)
        |  GROUP BY 1, 2, 3)
        | GROUP BY 1, 2, 3),
        |cl AS (
        | SELECT cand_id, n, COALESCE(sum(least(cc, COALESCE(rc, 0))), 0) AS clipped
        | FROM cg LEFT JOIN rg USING (cand_id, n, g)
        | GROUP BY 1, 2),
        |m AS (
        | SELECT t.cand_id,
        |  max(CASE WHEN t.n = 1 THEN t.c_tot END) AS c_len,
        |  max(CASE WHEN t.n = 1 THEN t.r_tot END) AS r_len,
        |  max(CASE WHEN t.n = 1 THEN COALESCE(cl.clipped, 0) END) AS m1,
        |  max(CASE WHEN t.n = 2 THEN COALESCE(cl.clipped, 0) END) AS m2,
        |  max(CASE WHEN t.n = 3 THEN COALESCE(cl.clipped, 0) END) AS m3,
        |  max(CASE WHEN t.n = 4 THEN COALESCE(cl.clipped, 0) END) AS m4,
        |  max(CASE WHEN t.n = 2 THEN t.c_tot END) AS ct2,
        |  max(CASE WHEN t.n = 3 THEN t.c_tot END) AS ct3,
        |  max(CASE WHEN t.n = 4 THEN t.c_tot END) AS ct4
        | FROM tot t LEFT JOIN cl ON t.cand_id = cl.cand_id AND t.n = cl.n
        | GROUP BY 1),
        |f AS (
        | SELECT m.*,
        |  CASE WHEN m.c_len = 0 THEN 0.0
        |       WHEN m.c_len > m.r_len THEN 1.0
        |       ELSE exp(1.0 - CAST(m.r_len AS DOUBLE) / m.c_len) END AS bp
        | FROM m)
        |SELECT cand_id,
        | CAST(c_len AS BIGINT) AS c_len, CAST(r_len AS BIGINT) AS r_len,
        | CAST(m1 AS BIGINT) AS m1, CAST(m2 AS BIGINT) AS m2,
        | CAST(m3 AS BIGINT) AS m3, CAST(m4 AS BIGINT) AS m4,
        | round(bp, 6) AS bp,
        | round(CASE WHEN c_len = 0 OR m1 = 0 THEN 0.0
        |   ELSE bp * exp(ln(CAST(m1 AS DOUBLE) / c_len) / 4
        |               + ln(CAST(m2 + 1 AS DOUBLE) / (ct2 + 1)) / 4
        |               + ln(CAST(m3 + 1 AS DOUBLE) / (ct3 + 1)) / 4
        |               + ln(CAST(m4 + 1 AS DOUBLE) / (ct4 + 1)) / 4) END, 6) AS bleu
        |FROM f ORDER BY cand_id""".stripMargin,
    // q212: both per-reference ROUGE score sets replayed, the winner
    // picked by a (f1 DESC, ref_idx ASC) window — Lin's max-over-refs
    "q212_rouge_multi" ->
      s"""WITH $multiRefPairCtes,
        |ns AS (SELECT unnest([1, 2]) AS n),
        |cg AS (
        | SELECT cand_id, n, g, count(*) AS cc FROM (
        |  SELECT cand_id, n, unnest(list_transform(range(greatest(len(ct) - n + 1, 0)),
        |   i -> array_to_string(ct[i+1 : i+n], ' '))) AS g
        |  FROM pp, ns)
        | GROUP BY 1, 2, 3),
        |r1g AS (
        | SELECT cand_id, n, g, count(*) AS rc FROM (
        |  SELECT cand_id, n, unnest(list_transform(range(greatest(len(r1) - n + 1, 0)),
        |   i -> array_to_string(r1[i+1 : i+n], ' '))) AS g
        |  FROM pp, ns)
        | GROUP BY 1, 2, 3),
        |r2g AS (
        | SELECT cand_id, n, g, count(*) AS rc FROM (
        |  SELECT cand_id, n, unnest(list_transform(range(greatest(len(r2) - n + 1, 0)),
        |   i -> array_to_string(r2[i+1 : i+n], ' '))) AS g
        |  FROM pp, ns)
        | GROUP BY 1, 2, 3),
        |s AS (
        | SELECT cand_id, n, 0 AS ref_idx,
        |  greatest(len(ct) - n + 1, 0) AS c_tot,
        |  greatest(len(r1) - n + 1, 0) AS r_tot
        | FROM pp, ns
        | UNION ALL
        | SELECT cand_id, n, 1,
        |  greatest(len(ct) - n + 1, 0), greatest(len(r2) - n + 1, 0)
        | FROM pp, ns),
        |clp AS (
        | SELECT cand_id, n, 0 AS ref_idx, sum(least(cc, rc)) AS ov
        | FROM cg JOIN r1g USING (cand_id, n, g) GROUP BY 1, 2
        | UNION ALL
        | SELECT cand_id, n, 1, sum(least(cc, rc))
        | FROM cg JOIN r2g USING (cand_id, n, g) GROUP BY 1, 2),
        |j AS (
        | SELECT s.cand_id, s.n, s.ref_idx, COALESCE(clp.ov, 0) AS ov,
        |  s.c_tot, s.r_tot,
        |  CASE WHEN s.c_tot = 0 THEN 0.0
        |       ELSE CAST(COALESCE(clp.ov, 0) AS DOUBLE) / s.c_tot END AS prec,
        |  CASE WHEN s.r_tot = 0 THEN 0.0
        |       ELSE CAST(COALESCE(clp.ov, 0) AS DOUBLE) / s.r_tot END AS rec
        | FROM s LEFT JOIN clp
        |  ON s.cand_id = clp.cand_id AND s.n = clp.n AND s.ref_idx = clp.ref_idx),
        |jf AS (
        | SELECT j.*,
        |  CASE WHEN prec + rec = 0.0 THEN 0.0
        |       ELSE 2.0 * prec * rec / (prec + rec) END AS f1,
        |  row_number() OVER (PARTITION BY cand_id, n
        |   ORDER BY (CASE WHEN prec + rec = 0.0 THEN 0.0
        |             ELSE 2.0 * prec * rec / (prec + rec) END) DESC,
        |    ref_idx ASC) AS rn
        | FROM j)
        |SELECT cand_id, CAST(n AS INTEGER) AS n, CAST(ref_idx AS INTEGER) AS ref_idx,
        | CAST(ov AS BIGINT) AS overlap,
        | CAST(c_tot AS BIGINT) AS cand_total, CAST(r_tot AS BIGINT) AS ref_total,
        | round(prec, 6) AS "precision", round(rec, 6) AS recall,
        | round(f1, 6) AS f1
        |FROM jf WHERE rn = 1
        |ORDER BY cand_id, n""".stripMargin,
    // q215: the q163 dHash bit grid reconstructed from the 16-color GIF
    // palette closed form — j = (id + 3x + 5y) mod 16, rgb = (17j,
    // 37j mod 256, 53j mod 256); GIF is palette-exact so every bit must
    // match the generator
    "q215_gif_dhash" ->
      """WITH m AS (
        | SELECT r.i AS media_id, CAST(16 + (r.i % 6) * 8 AS INT) AS w,
        |  CAST(16 + (r.i % 5) * 8 AS INT) AS h
        | FROM range(300) r(i) WHERE r.i % 3 = 0),
        |px AS (
        | SELECT m.media_id, (xx.x * 9) // m.w AS cx, (yy.y * 8) // m.h AS cy,
        |    299 * (((m.media_id + 3 * xx.x + 5 * yy.y) % 16) * 17)
        |  + 587 * ((((m.media_id + 3 * xx.x + 5 * yy.y) % 16) * 37) % 256)
        |  + 114 * ((((m.media_id + 3 * xx.x + 5 * yy.y) % 16) * 53) % 256) AS luma
        | FROM m, unnest(range(0, m.w)) xx(x), unnest(range(0, m.h)) yy(y)),
        |cells AS (
        | SELECT media_id, cx, cy, CAST(sum(luma) AS BIGINT) AS s, count(*) AS n
        | FROM px GROUP BY 1, 2, 3),
        |bits AS (
        | SELECT a.media_id, a.cy, a.cx,
        |  CASE WHEN b.s * a.n > a.s * b.n THEN 1 ELSE 0 END AS bit
        | FROM cells a JOIN cells b
        |   ON a.media_id = b.media_id AND a.cy = b.cy AND b.cx = a.cx + 1
        | WHERE a.cx < 8),
        |nib AS (SELECT media_id, (cy * 8 + cx) // 4 AS ni,
        |         CAST(sum(bit << ((cy * 8 + cx) % 4)) AS INT) AS v
        |        FROM bits GROUP BY 1, 2)
        |SELECT media_id,
        | string_agg(substr('0123456789abcdef', v + 1, 1), '' ORDER BY ni DESC) AS dhash
        |FROM nib GROUP BY media_id ORDER BY media_id""".stripMargin,
    // q217: chunk-coverage md5 identity (chunks concat back to the raw
    // text), token-count conservation, and the budget verdict — the
    // md5-verdict convention for non-SQL-replayable segmentation
    "q217_sentence_chunks" ->
      """SELECT doc_id, md5(text) AS chunks_md5,
        | CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
        |   AS tok_total,
        | true AS ok_budget
        |FROM documents WHERE text IS NOT NULL AND text <> ''
        |ORDER BY doc_id""".stripMargin,
    // q218: both references' token-Levenshtein DPs replayed with the
    // q207 recursive anti-diagonal CTE, keyed by (cand, ref index);
    // winner = (wer ASC, idx ASC) row_number — the engine's array_min
    "q218_wer_multi" ->
      s"""WITH RECURSIVE $multiRefPairCtes,
        |ppr AS (
        | SELECT cand_id, j.ridx, ct,
        |  CASE WHEN j.ridx = 1 THEN r1 ELSE r2 END AS rt
        | FROM pp, (SELECT unnest([1, 2]) AS ridx) j),
        |ppm AS (SELECT cand_id, ridx, ct, rt, len(ct) AS n, len(rt) AS m
        |        FROM ppr),
        |rec AS (
        | SELECT cand_id, ridx, n, m, ct, rt, CAST(1 AS BIGINT) AS d,
        |  list_transform(range(greatest(0, 1 - m), least(n, 1) + 1),
        |   i -> CASE WHEN i = 0 THEN CAST(1 AS BIGINT) ELSE CAST(i AS BIGINT) END) AS cur,
        |  [CAST(0 AS BIGINT)] AS prev
        | FROM ppm WHERE n + m >= 1
        | UNION ALL
        | SELECT cand_id, ridx, n, m, ct, rt, d + 1,
        |  list_transform(range(greatest(0, d + 1 - m), least(n, d + 1) + 1),
        |   i -> CASE
        |     WHEN i = 0 THEN CAST(d + 1 AS BIGINT)
        |     WHEN d + 1 - i = 0 THEN CAST(i AS BIGINT)
        |     ELSE least(
        |       prev[CAST(i - 1 - greatest(0, d - 1 - m) + 1 AS INT)]
        |         + (CASE WHEN ct[CAST(i AS INT)] = rt[CAST(d + 1 - i AS INT)] THEN 0 ELSE 1 END),
        |       least(
        |         cur[CAST(i - 1 - greatest(0, d - m) + 1 AS INT)] + 1,
        |         cur[CAST(i - greatest(0, d - m) + 1 AS INT)] + 1)) END) AS cur,
        |  cur AS prev
        | FROM rec WHERE d < n + m),
        |ed AS (SELECT cand_id, ridx, cur[1] AS edits FROM rec WHERE d = n + m),
        |mt AS (
        | SELECT p.cand_id, p.ridx,
        |  CAST(p.n AS BIGINT) AS h_len, CAST(p.m AS BIGINT) AS r_len,
        |  CAST(CASE WHEN p.n + p.m = 0 THEN 0 ELSE e.edits END AS BIGINT) AS edits
        | FROM ppm p LEFT JOIN ed e ON p.cand_id = e.cand_id AND p.ridx = e.ridx),
        |sc AS (
        | SELECT cand_id, ridx, h_len, r_len, edits,
        |  CASE WHEN r_len > 0 THEN CAST(edits AS DOUBLE) / r_len
        |       WHEN h_len = 0 THEN 0.0 ELSE 1.0 END AS wer,
        |  row_number() OVER (PARTITION BY cand_id
        |    ORDER BY CASE WHEN r_len > 0 THEN CAST(edits AS DOUBLE) / r_len
        |               WHEN h_len = 0 THEN 0.0 ELSE 1.0 END ASC, ridx ASC) AS rn
        | FROM mt)
        |SELECT cand_id, h_len, CAST(ridx - 1 AS BIGINT) AS ref_idx, r_len,
        | edits, round(wer, 6) AS wer
        |FROM sc WHERE rn = 1
        |ORDER BY cand_id""".stripMargin,
    // all-occurrence counts (overlaps included) per pattern via a
    // position-range substring scan — the brute-force restatement of the
    // Aho–Corasick automaton's emit totals
    "q219_blocklist" -> {
      val pats = Seq("vector", "sort", "window sort", "batch batch",
        "customer", "hash join")
      val perPat = pats.map(p =>
        s"max(CASE WHEN pat = '$p' THEN cnt END)::BIGINT AS hits_${p.replace(' ', '_')}")
        .mkString(",\n ")
      val values = pats.map(p => s"('$p')").mkString(", ")
      s"""WITH pats AS (SELECT * FROM (VALUES $values) p(pat)),
        |hits AS (
        | SELECT d.doc_id, p.pat,
        |  CAST(len(list_filter(range(1, len(lower(d.text)) - len(p.pat) + 2),
        |   i -> substring(lower(d.text), CAST(i AS INT), CAST(len(p.pat) AS INT)) = p.pat)) AS BIGINT) AS cnt
        | FROM documents d CROSS JOIN pats p)
        |SELECT doc_id,
        | sum(cnt)::BIGINT AS hits_total,
        | sum(CASE WHEN cnt > 0 THEN 1 ELSE 0 END)::BIGINT AS patterns_hit,
        | coalesce(sum(cnt) > 0, false) AS blocked,
        | $perPat
        |FROM hits GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin
    })
}
