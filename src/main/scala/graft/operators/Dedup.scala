package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** Document deduplication family for LLM training-data pipelines — exact,
  * MinHash+LSH, SimHash, and exact n-gram/token Jaccard. No reference
  * implementation exists (SURVEY.md §7.4: spec'd from the Spark API and
  * published literature — Broder '97 MinHash, Charikar '02 SimHash,
  * Leskovec et al. "Mining of Massive Datasets" ch.3 LSH banding).
  *
  * Scale design (100 TB): signatures are computed PER ROW with higher-order
  * functions on the token array — no explode, no shuffle, no UDF. The only
  * shuffles are (a) the LSH band self-join, keyed on (band_idx, band_hash)
  * so AQE can handle bucket skew, and (b) the final distinct on candidate
  * pairs. Exact verification joins candidates back to the (doc_id → tokens)
  * projection twice — at 100 TB that join is shuffle-hash on doc_id; the
  * candidate side is orders of magnitude smaller than the corpus.
  */
object Dedup {

  /** Shuffle-partition count for a pair-mining stage, sized by the
    * MEASURED candidate-pair estimate (the Σdf² / Σ|block|² scalars the
    * cost-based strategy already computes) instead of the session
    * default. The failure mode this prevents (reproduced at the 10×
    * board on the default 8 GiB heap): per-task pair state is
    * `pairs ∕ partitions`, so at a FIXED partition count a 10× data
    * step grows every task's hash-map state ~100× until the final
    * aggregate's `BytesToBytesMap` cannot acquire its initial page and
    * the query hard-fails — the engine must size the fan-out from the
    * data, exactly as a real cluster does by scaling partitions with
    * input. Budget: ~2²⁰ pairs/task ≈ 64 MB of aggregate state (64 B
    * per entry: 16 B two-long key + map/pointer overhead), safely
    * inside the ≈150 MB execution-memory share a 32-thread 8 GiB
    * executor gives each task. Never BELOW the session default (small
    * corpora keep the pinned parallelism contract); capped at 2¹⁶
    * tasks — past that, task-launch overhead dominates and the
    * sort-based spill fallback is the right tool.
    */
  private[operators] def pairPartitions(spark: org.apache.spark.sql.SparkSession,
                                        estPairs: Long): Int = {
    val default = spark.sessionState.conf.numShufflePartitions.toLong
    val perTask = 1L << 20
    val needed = (math.max(0L, estPairs) + perTask - 1) / perTask
    math.min(1L << 16, math.max(default, needed)).toInt
  }

  /** Dense-path block self-join shared by [[containmentPairs]] and
    * [[winnowedOverlapPairs]] (extracted after commit 1688f12 shipped a
    * column-name drift between the two pasted copies): joins `side` —
    * a persisted `(id, blk, payload…)` frame — to itself on the block
    * key with `a.id < b.id`, so the caller projects the verification
    * kernel over the a/b-aliased result.
    *
    * The probe side repartitions to the [[pairPartitions]]-sized count
    * with an EXPLICIT count: the corpus often arrives as one file
    * split and a broadcast join inherits the stream side's
    * partitioning, while a bare `repartition(col)` is AQE-coalescible
    * and tiny input bytes would fold it back to one task — but the
    * work is quadratic in rows per task, not input-proportional, so
    * the fan-out must be pinned, and pinned to a DATA-sized count
    * (`estPairs` — the caller's already-measured Σ|block|²), not the
    * session default.
    *
    * The build side broadcasts only under a BYTES gate
    * ([[graft.Gates.DenseBlockBytes]]), never a row gate (a row bound
    * let a long-document corpus smuggle a multi-GB broadcast past it —
    * caught OOMing at the 10× scale-up):
    * `elemCount`·16 B covers each payload long + array overhead, plus
    * a 48 B/row fixed term for the row object itself — without it a
    * corpus of millions of one-element rows passes a pure element
    * gate yet broadcasts hundreds of MB of row overhead. One scalar
    * agg over the already-persisted frame — the bounded-collect
    * convention. Beyond the bound: plain shuffled join, AQE skew
    * split takes over.
    */
  private def denseBlockPairJoin(side: DataFrame, elemCount: Column,
                                 estPairs: Long): DataFrame = {
    val stream = side.repartition(
      pairPartitions(side.sparkSession, estPairs), col("id"))
    def estBytes: Long = {
      val r = side.agg(sum(elemCount.cast("long") * 16L + 48L)).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0) // null = empty corpus
    }
    val right =
      if (graft.Gates.under(side.sparkSession, estBytes, graft.Gates.DenseBlockBytes))
        broadcast(side)
      else side
    stream.as("a").join(right.as("b"),
      col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
  }

  /** The cost-based candidate strategy of [[containmentPairs]] and
    * [[winnowedOverlapPairs]]. Both have two exact candidate generators,
    * and which one is cheaper is a DATA property: a posting-keyed
    * inverted index wins on sparse corpora (web-scale vocabulary, low
    * per-key df), a block self-join ([[denseBlockPairJoin]]) on dense
    * ones (a small shared vocabulary, where the index degenerates to
    * MORE rows than the within-block pair space itself). So this
    * measures both pair-row counts — Σdf² over `postings`' `key` and
    * Σ|block|² over `sets`' `blk`, two scalar collects (bounded driver
    * state, the engine's gate pattern) — and runs `block` or `index`
    * with its own estimate.
    */
  private def blockOrIndex(sets: DataFrame, postings: DataFrame, key: String)(
      block: Long => DataFrame, index: Long => DataFrame): DataFrame = {
    def pairRows(counts: DataFrame): Long = {
      val r = counts.agg(sum(col("__d") * col("__d"))).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0) // null = empty corpus
    }
    val indexPairRows = pairRows(
      postings.groupBy(col(key)).agg(count(lit(1)).as("__d")))
    val blockPairRows = pairRows(
      sets.groupBy(col("blk")).agg(count(lit(1)).as("__d")))
    if (blockPairRows <= indexPairRows) block(blockPairRows)
    else index(indexPairRows)
  }

  /** The index path's candidate pairs ahead of their pair aggregate.
    * The aggregate's hash map holds the stage's pair state, so when the
    * measured estimate outgrows the session default the pairs fan out
    * to [[pairPartitions]] on the aggregate's own `keys` (one shuffle:
    * the aggregate reuses the exchange), keeping per-task state bounded
    * at any SF. Below that the bare aggregate keeps its map-side
    * partial combine, which an explicit repartition forfeits (measured
    * +12% on q174 at sf0.1).
    */
  private def fanOutPairs(pairs: DataFrame, estPairs: Long, keys: Column*): DataFrame = {
    val spark = pairs.sparkSession
    if (pairPartitions(spark, estPairs) > spark.sessionState.conf.numShufflePartitions)
      pairs.repartition(pairPartitions(spark, estPairs), keys: _*)
    else pairs
  }

  /** Whitespace-token set of a text column (lowercased, trimmed). */
  def tokenSet(text: Column): Column =
    array_distinct(split(lower(trim(text)), "\\s+"))

  /** Word n-gram shingles ("a b c", n=2 → ["a b","b c"]); a document
    * shorter than n yields NO shingles (not a partial one).
    */
  def shingles(text: Column, n: Int): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    when(size(toks) >= n,
      array_distinct(
        transform(
          sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
  }

  /** Sorted distinct `xxhash64` values of the word n-grams of a text
    * column via the fused native [[graft.expressions.ShingleHashes]]
    * kernel — one JIT'd pass, no intermediate shingle strings. Set-equal
    * to `array_sort(transform(<items>, xxhash64))` over [[tokenSet]]
    * (n=1) / [[shingles]] (n>1), which evaluated its lambdas interpreted
    * per element and dominated the miners' cost at bench. Null text:
    * null for n=1 (as tokenSet), empty for n>1 (as shingles).
    * `removeEmpty` drops the "" token a whitespace-only doc produces
    * (the [[simhashTable]] contract).
    */
  def hashedShingleSet(text: Column, n: Int,
                       removeEmpty: Boolean = false,
                       mode: graft.functions.Tokenize.Mode =
                         graft.functions.Tokenize.Whitespace): Column = {
    // the tokenizer seam: Unicode mode segments CJK/Thai into real word
    // tokens before shingling (drops empties itself, so removeEmpty is
    // a no-op there); both modes agree on space-separated ASCII, which
    // is what lets q216 reuse q23's brute-force oracle unchanged
    val raw0 = mode match {
      case graft.functions.Tokenize.Whitespace => split(lower(trim(text)), "\\s+")
      case graft.functions.Tokenize.Unicode => GraftFunctions.call("unicode_tokens", text)
    }
    val raw = if (removeEmpty) array_remove(raw0, "") else raw0
    val k = GraftFunctions.call("shingle_hashes", raw, lit(math.max(1, n)))
    if (n <= 1) k else coalesce(k, typedlit(Array.empty[Long]))
  }

  /** Engine-portable 64-bit token-set hash: the sorted distinct first-8-
    * byte md5 prefixes of the whitespace tokens, via the fused native
    * [[graft.expressions.Md5Hashes64]] kernel (one JIT'd pass per row).
    * xxhash64 ([[hashedShingleSet]]) is faster but exists only in Spark;
    * md5 exists everywhere, which is what makes a SimHash signature
    * oracle-checkable (the q25 oracle rebuilds it from SQL `md5()` as two
    * 32-bit halves so every intermediate fits a non-negative BIGINT).
    * [[md5TokenHashesDeclarative]] is the kernel's executable spec.
    */
  def md5TokenHashes(text: Column): Column =
    GraftFunctions.call("md5_hashes64", array_remove(split(lower(trim(text)), "\\s+"), ""))

  /** Declarative form of [[md5TokenHashes]] — two conv'd 32-bit hex
    * halves per token, interpreted HOF lambdas (measured 2.6× slower at
    * sf0.1); `DedupSpec` pins kernel ≡ declarative.
    */
  def md5TokenHashesDeclarative(text: Column): Column =
    array_sort(array_distinct(transform(
      array_remove(split(lower(trim(text)), "\\s+"), ""),
      t => shiftleft(conv(substring(md5(t), 1, 8), 16, 10).cast("long"), 32)
        .bitwiseOR(conv(substring(md5(t), 9, 8), 16, 10).cast("long")))))

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Exact dedup by content fingerprint: md5 of the normalized text. One
    * hash-shuffle on the (much narrower) fingerprint; keeps the minimum id
    * as the canonical representative — deterministic, unlike dropDuplicates
    * (which keeps an arbitrary first row per partition ordering).
    * Output: (fingerprint, keep_id, group_size).
    */
  def exactDedupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
        md5(lower(trim(col(textCol)))).as("fingerprint"),
        col(idCol))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** The deduplicated table itself: one row per distinct normalized text. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactDedupGroups(df, idCol, textCol)
      .select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ------------------------------------------------------------------
  // Exact Jaccard pair mining (token-level; the oracle-checkable baseline)
  // ------------------------------------------------------------------

  /** All pairs with token-set Jaccard ≥ threshold, blocked by `blockCol`
    * (pairs are only considered within a block — e.g. language). Inverted-
    * index style: explode tokens, self-join on (block, token), count shared
    * tokens per pair, then jaccard = shared / (|a| + |b| − shared).
    *
    * Scale: the token join is the classic hot spot — high-frequency tokens
    * fan out quadratically. At 100 TB drop the top-percentile document-
    * frequency tokens first (they carry no similarity signal); here the
    * corpus is uniform so no stop-list is needed.
    * Output: (id_a, id_b, jaccard) with id_a < id_b.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, threshold: Double): DataFrame = {
    val tok = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
      explode(tokenSet(col(textCol))).as("token"))
    val sizes = tok.groupBy("id").agg(count(lit(1)).as("n"))
    val shared = tok.as("a")
      .join(tok.as("b"),
        col("a.token") === col("b.token") &&
          col("a.blk") === col("b.blk") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    shared
      .join(sizes.withColumnsRenamed(Map("id" -> "id_a", "n" -> "na")), "id_a")
      .join(sizes.withColumnsRenamed(Map("id" -> "id_b", "n" -> "nb")), "id_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric containment pair mining: for each candidate pair the two
    * directional containments C(A⊆B) = |S(A)∩S(B)| / |S(A)| and C(B⊆A)
    * over distinct word n-gram shingles, keeping pairs where either
    * direction ≥ threshold. This is Broder '97's SECOND similarity
    * measure — resemblance (Jaccard) misses a short document embedded
    * verbatim in a long one (the intersection is tiny relative to the
    * union but equals the short side), which is exactly the quote/
    * boilerplate-inclusion shape LLM corpora are full of. MinHash cannot
    * estimate containment (it is a resemblance-LSH); the scale path for
    * candidates is the same blocked inverted index as [[jaccardPairs]]
    * (drop top-document-frequency shingles first at 100 TB — they carry
    * no signal and cause the quadratic fanout), with verification
    * candidate-sized.
    * Output: (id_a, id_b, cont_a, cont_b, jaccard), id_a < id_b, where
    * cont_a = shared/|S(A)| (how much of A lies inside B).
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       blockCol: String, n: Int, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Exact filter-verify under the cost-based candidate strategy
    // ([[blockOrIndex]]). Shingles are sorted distinct xxhash64 longs
    // via the fused kernel (no gram strings; 64-bit collisions need
    // ~|S|²/2⁶⁴ luck — negligible).
    //
    // The index path is an asymmetric prefix-filtered inverted index
    // (SSJoin/PPJoin prefix principle — Chaudhuri et al. ICDE'06, Xiao
    // et al. WWW'08 — adapted to the min-relative threshold). A
    // qualifying pair needs shared ≥ α = t·|small|, so the SMALL side's
    // prefix of length |small| − ⌈α⌉ + 1 under a global df-ascending
    // gram order must hit the large side's FULL postings (if no
    // intersection gram sat in the prefix, all ≥α of them would squeeze
    // into α−1 suffix slots). The symmetric both-prefixes scheme does
    // NOT hold for min-relative thresholds — a short doc fully inside a
    // long one can miss the long doc's own prefix (spec-pinned).
    // High-df grams fan out by (full-df × prefix-df), and df-ascending
    // ordering keeps them out of prefixes.
    //
    // Verification is identical and exact in both paths: one sorted-
    // array intersection per candidate. The 1e-9 bias on the floor
    // keeps float rounding on t·|x| from ever SHORTENING a prefix
    // (longer prefixes only add candidates; shorter would break
    // exactness).
    val base = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
        hashedShingleSet(col(textCol), n, removeEmpty = n == 1).as("grams"))
      .withColumn("n", size(col("grams")))
      .filter(col("n") > 0)
      .persist()
    // track for scope cleanup — untracked, the cache outlives the query
    // and the next query building the identical plan double-caches (the
    // q174→q175 CacheManager warning)
    graft.Caches.track(base)
    val tok = base.select(col("id"), col("blk"), col("n"),
      explode(col("grams")).as("g"))
    val verified = blockOrIndex(base, tok, "g")(
      // the intersection INLINE in the block join — no candidate
      // materialization, no array re-join
      blockPairRows =>
        denseBlockPairJoin(
            base.select(col("id"), col("blk"), col("n"), col("grams")),
            col("n"), blockPairRows)
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            col("a.n").as("na"), col("b.n").as("nb"),
            GraftFunctions.call("sorted_intersect_size",
              col("a.grams"), col("b.grams")).as("shared")),
      iiPairRows => {
        val dfreq = tok.groupBy(col("g")).agg(count(lit(1)).as("__df"))
        val prefix = tok.join(dfreq, Seq("g"))
          .withColumn("__rk", row_number().over(
            Window.partitionBy(col("id"))
              .orderBy(col("__df").asc, col("g").asc)))
          .filter(col("__rk") <=
            col("n") - floor(lit(threshold) * col("n") - 1e-9) + 1)
          .select(col("id"), col("blk"), col("n"), col("g"))
        // probe side = the ≤-size side (its own size IS the pair's
        // min, so its prefix bound is exact); equal sizes probe both
        // ways and the canonical projection + distinct dedupes
        val candidates = fanOutPairs(prefix.as("a")
            .join(tok.as("b"),
              col("a.g") === col("b.g") &&
                col("a.blk") === col("b.blk") &&
                (col("a.n") < col("b.n") ||
                  (col("a.n") === col("b.n") && col("a.id") =!= col("b.id"))))
            .select(least(col("a.id"), col("b.id")).as("id_a"),
              greatest(col("a.id"), col("b.id")).as("id_b")),
            iiPairRows, col("id_a"), col("id_b"))
          .distinct()
        candidates
          .join(base.select(col("id").as("id_a"), col("grams").as("__ga"),
            col("n").as("na")), Seq("id_a"))
          .join(base.select(col("id").as("id_b"), col("grams").as("__gb"),
            col("n").as("nb")), Seq("id_b"))
          .select(col("id_a"), col("id_b"), col("na"), col("nb"),
            GraftFunctions.call("sorted_intersect_size",
              col("__ga"), col("__gb")).as("shared"))
      })
    // lineage barrier: without it Catalyst pushes the threshold filter
    // INTO the join condition, re-evaluating the intersection kernel
    // per conjunct on every raw match instead of once per pair above
    // the join (measured 2.3× on q174). Lazy (no extra build job) and
    // tracked, so scope exit frees its blocks
    graft.Caches.track(verified.localCheckpoint(false))
      .withColumn("cont_a", col("shared").cast("double") / col("na"))
      .withColumn("cont_b", col("shared").cast("double") / col("nb"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .select(col("id_a"), col("id_b"), col("cont_a"), col("cont_b"), col("jaccard"))
  }

  /** MOSS-style overlap pairs (Schleimer et al. SIGMOD '03 winnowing):
    * document pairs sharing at least `minShared` winnowed fingerprints
    * — the plagiarism/local-copy detector. Winnowing guarantees any
    * shared run of ≥ w+k−1 tokens contributes a shared fingerprint, so
    * unlike whole-set resemblance this catches a copied PARAGRAPH
    * inside otherwise-different documents, with a fingerprint set ~1/w
    * the gram count.
    *
    * Scale: fingerprints are window-minima (selective by construction
    * — high-frequency grams are rarely a window minimum); the pair
    * join is a fingerprint-keyed inverted index and the count
    * aggregate is pair-sized. Uses the engine-portable md5 winnowing
    * so the result is externally checkable.
    * Output: (id_a, id_b, shared_fps), id_a < id_b.
    */
  def winnowedOverlapPairs(df: DataFrame, idCol: String, textCol: String,
                           blockCol: String, k: Int, w: Int,
                           minShared: Int): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // The cost-based candidate strategy ([[blockOrIndex]]), as in
    // [[containmentPairs]]: on a small shared vocabulary the window
    // minima concentrate on the globally smallest hash values, so a
    // fingerprint-keyed join degenerates past the within-block pair
    // space itself (measured 430 s vs 2 s at sf0.1 on the synthetic
    // corpus). Real web corpora are the sparse case; both paths are
    // exact.
    // winnowing STAGED through materialized columns: the one-Column
    // form (winnowingFingerprintsPortable) embeds the gram-array
    // expression inside the window lambda, and higher-order functions
    // re-evaluate captured subtrees PER ELEMENT — every window minimum
    // recomputed all ~L gram md5s, O(L²) md5 per document (measured
    // 440 s vs ~2 s at sf0.1). Staging each step as its own aliased
    // column makes the lambdas reference an attribute, evaluated once
    // per row; CollapseProject keeps the stages separate because the
    // aliases are non-cheap and multiply referenced.
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val grams = transform(
      sequence(lit(0), greatest(size(col("__toks")) - k, lit(0))),
      i => conv(substring(md5(array_join(slice(col("__toks"), i + 1, lit(k)), " ")),
        1, 8), 16, 10).cast("long"))
    val windows = transform(
      sequence(lit(0), greatest(size(col("__grams")) - w, lit(0))),
      j => array_min(slice(col("__grams"), j + 1, lit(w))))
    // no emptiness filter: an empty fps set explodes to no postings and
    // intersects to 0 < minShared — and a filter here would be PUSHED
    // below the staged projections with the whole winnowing expression
    // inlined into it, re-paying the quadratic form per row (measured)
    val base = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
        toks.as("__toks"))
      .withColumn("__grams", grams)
      .withColumn("fps", array_sort(array_distinct(windows)))
      .select(col("id"), col("blk"), col("fps"))
      .persist()
    graft.Caches.track(base) // scope cleanup (see containmentPairs)
    val tok = base.select(col("id"), col("blk"), explode(col("fps")).as("fp"))
    val counted = blockOrIndex(base, tok, "fp")(
      blockPairRows =>
        denseBlockPairJoin(
            base.select(col("id"), col("blk"), col("fps")),
            size(col("fps")), blockPairRows)
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
            GraftFunctions.call("sorted_intersect_size",
              col("a.fps"), col("b.fps")).cast("long").as("shared_fps")),
      fpPairRows =>
        fanOutPairs(tok.as("a")
            .join(tok.as("b"),
              col("a.fp") === col("b.fp") &&
                col("a.blk") === col("b.blk") && col("a.id") < col("b.id")),
            fpPairRows, col("a.id"), col("b.id"))
          .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .agg(count(lit(1)).as("shared_fps")))
    counted.filter(col("shared_fps") >= minShared)
  }

  /** Containment-based dedup filter: drops every document whose shingle
    * set is ≥ threshold contained in a LARGER document (larger shingle
    * set; doc-id ascending breaks exact-size ties, so mutual-containment
    * groups keep their minimum id — the [[exactDedupGroups]] convention).
    * Containment is not transitive, so the drop decision is per-edge
    * (inner side of any qualifying pair), not a connected-component
    * collapse: a doc contained in a dropped doc is still dropped (its
    * content survives inside the transitive container).
    */
  def containmentDedup(df: DataFrame, idCol: String, textCol: String,
                       blockCol: String, n: Int, threshold: Double): DataFrame = {
    val pairs = containmentPairs(df, idCol, textCol, blockCol, n, threshold)
    // inner side of each qualifying edge: the one whose containment met
    // the threshold; ties on both directions drop the larger id
    val drops = pairs.select(
      when(col("cont_a") >= col("cont_b"),
        when(col("cont_a") === col("cont_b"), greatest(col("id_a"), col("id_b")))
          .otherwise(col("id_a")))
        .otherwise(col("id_b")).as(idCol)).distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** The content-class table: `docs` — `(id, keys…, toks)` with `toks`
    * a sorted distinct hash set — grouped by identical set within
    * `keys`, as `(keys…, toks, ids, cls)` with `ids` sorted and `cls`
    * the class hash. Every pair inside a class is an exact duplicate
    * (jaccard 1.0, hamming 0) by construction, so the classed miners
    * run their quadratic candidate stage on distinct content only. A
    * document whose set is null or empty (null text, or fewer than n
    * tokens under n-gram shingling) joins no class: such documents
    * would otherwise form one giant class of spurious duplicates. At
    * n = 1 a blank text still hashes its one "" token and is kept, as
    * [[jaccardPairs]] keeps it.
    *
    * Deliberate materialization point, persisted and tracked: the table
    * feeds several plan branches (within-class pairs, both sides of the
    * candidate join, the verification or expansion joins); without the
    * persist each branch re-runs the scan + groupBy.
    */
  private def contentClasses(docs: DataFrame, keys: Column*): DataFrame = {
    val classKey = keys :+ col("toks")
    graft.Caches.track(docs
      .filter(size(col("toks")) > 0)
      .groupBy(classKey: _*)
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .withColumn("cls", xxhash64(classKey: _*))
      .persist())
  }

  /** Document pairs `(id_a, id_b, score)`, id_a < id_b, of a class table
    * and its qualifying class pairs `(ids_a, ids_b, score)`: every pair
    * inside a class scores `same`, and a class pair expands to every
    * cross pair of its members.
    */
  private def documentPairs(classes: DataFrame, classPairs: DataFrame,
                            score: String, same: Column): DataFrame = {
    val within = classes.filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .withColumn(score, same)
      .select("id_a", "id_b", score)
    val cross = classPairs
      .select(explode(col("ids_a")).as("ia"), col("ids_b"), col(score))
      .select(col("ia"), explode(col("ids_b")).as("ib"), col(score))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"), col(score))
    within.unionByName(cross)
  }

  /** The pairs of `pairs` whose exact Jaccard over the sorted distinct
    * hash sets in columns `a` and `b` reaches `threshold`. The sets are
    * sorted+distinct by construction, so the native O(n+m) merge kernel
    * computes the intersection (codegen) and |union| = |a| + |b| − inter
    * — array_intersect/array_union built a per-row hash set twice for
    * the same numbers. Two empty sets meet 0/0, which under ANSI
    * throws DIVIDE_BY_ZERO; `try_divide` makes that jaccard NULL, and it
    * falls out of the filter. Catalyst pushes the filter into the join
    * condition with `__inter` inlined, and a `nullif` on the union
    * evaluated the merge kernel there a third time per candidate.
    */
  private def jaccardAtLeast(a: String, b: String, threshold: Double)(
      pairs: DataFrame): DataFrame =
    pairs
      .withColumn("__inter",
        GraftFunctions.call("sorted_intersect_size", col(a), col(b)))
      .withColumn("jaccard", try_divide(col("__inter").cast("double"),
        size(col(a)) + size(col(b)) - col("__inter")))
      .filter(col("jaccard") >= threshold)

  /** Shared core of the classed Jaccard family: the
    * [[contentClasses]] table and the verified CLASS-level qualifying
    * pairs (no doc expansion). Returns (classes, classPairs) where
    * classes = (blk, toks, ids, cls) and classPairs =
    * (cls_a, cls_b, ids_a, ids_b, jaccard).
    */
  private def classedJaccardCore(df: DataFrame, idCol: String, textCol: String,
                                 blockCol: String, threshold: Double,
                                 ngram: Int,
                                 mode: graft.functions.Tokenize.Mode =
                                   graft.functions.Tokenize.Whitespace): (DataFrame, DataFrame) = {
    // ngram > 1 mines word-shingle Jaccard (sequence-sensitive) instead of
    // token-set Jaccard (bag-of-words); hashing is the fused native kernel
    val classes = contentClasses(
      df.select(col(idCol).as("id"), col(blockCol).as("blk"),
        hashedShingleSet(col(textCol), ngram, removeEmpty = false, mode).as("toks")),
      col("blk"))

    // cross-class pairs: all-pairs within block over class reps (bounded by
    // distinct-content count, not corpus size), jaccard on long arrays.
    // Join strategy is left to AQE's runtime size statistics: a small class
    // table (dup-heavy corpus — the intended regime) gets a broadcast hash
    // join and full map-side parallelism; a large one (mostly-unique corpus)
    // gets a shuffle join whose |blocks|-key skew AQE splits, instead of an
    // unconditional broadcast of the whole class table — which at 100 TB
    // would be the whole corpus in every executor. (For mostly-unique
    // corpora prefer [[minhashDupPairsClassed]] outright: all-pairs over
    // class reps is quadratic regardless of join strategy.)
    // size-ratio prefilter INSIDE the join condition (the similarity-
    // join length filter): J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so any
    // pair with min < t·max can never reach the threshold — pruned
    // BEFORE the per-pair merge intersect, which dominated the classed
    // family's CPU (q49/q95/q159/q171). Exact: exclusion uses a
    // necessary condition of jaccard ≥ t, never the estimate itself.
    val classPairs = classes.as("a").join(classes.as("b"),
        col("a.blk") === col("b.blk") && col("a.cls") < col("b.cls") &&
          least(size(col("a.toks")), size(col("b.toks"))).cast("double") >=
            lit(threshold) *
              greatest(size(col("a.toks")), size(col("b.toks"))))
      .transform(jaccardAtLeast("a.toks", "b.toks", threshold))
      .select(col("a.cls").as("cls_a"), col("b.cls").as("cls_b"),
        col("a.ids").as("ids_a"), col("b.ids").as("ids_b"), col("jaccard"))
    (classes, classPairs)
  }

  /** Exact Jaccard pair mining via equivalence-class collapse — the scale
    * path for corpora with repeated content (exactly what LLM training
    * data looks like): group documents by identical token SET first
    * (within-class pairs have jaccard 1.0 by construction), then mine
    * pairs between the (far fewer) class representatives and expand back
    * to document pairs. Compared to [[jaccardPairs]]'s inverted index this
    * replaces the token-fanout shuffle (quadratic in document frequency)
    * with a within-block class self-join on hashed-long token arrays.
    * Output contract identical to [[jaccardPairs]].
    */
  def jaccardPairsClassed(df: DataFrame, idCol: String, textCol: String,
                          blockCol: String, threshold: Double,
                          ngram: Int = 1,
                          mode: graft.functions.Tokenize.Mode =
                            graft.functions.Tokenize.Whitespace): DataFrame = {
    val (classes, classPairs) =
      classedJaccardCore(df, idCol, textCol, blockCol, threshold, ngram, mode)
    documentPairs(classes, classPairs, "jaccard", lit(1.0))
  }

  /** Near-dup clusters end-to-end, entirely on the CLASS graph: mine
    * qualifying class pairs, close them into connected components
    * ([[Components.connectedComponents]]), and only THEN expand to
    * documents. Output contract matches
    * `Components.dedupClusters(jaccardPairsClassed(...))` exactly
    * (DedupSpec asserts it) — but never materializes doc-level pairs,
    * which are quadratic in cluster size: at sf0.1 the doc-pair route
    * builds 759k pairs from 5k docs before collapsing them back into a
    * few hundred clusters; this route closes a ~|distinct-content| node
    * graph instead. Only clusters with ≥ 2 documents are emitted (a
    * singleton class with no qualifying neighbour is not a duplicate of
    * anything).
    */
  def dedupClustersClassed(df: DataFrame, idCol: String, textCol: String,
                           blockCol: String, threshold: Double,
                           ngram: Int = 1,
                           mode: graft.functions.Tokenize.Mode =
                             graft.functions.Tokenize.Whitespace): DataFrame = {
    val (classes, classPairs) =
      classedJaccardCore(df, idCol, textCol, blockCol, threshold, ngram, mode)
    val comp = Components.connectedComponents(
      classPairs.select(col("cls_a"), col("cls_b")), "cls_a", "cls_b",
      allIds = classes.select(col("cls")), idCol = "cls")
    Components.clusterRows(
        classes.join(comp, classes("cls") === comp("id"))
          .select(col("component"), explode(col("ids")).as("doc_id")),
        "doc_id")
      .filter(col("cluster_size") > 1)
  }

  /** Retention policy over near-dup clusters: which duplicate do we
    * KEEP? Min-id (the [[dedupClustersClassed]] default) is arbitrary;
    * real pipelines keep the best member by a quality signal (longest,
    * highest model score, freshest). Joins the cluster membership
    * against a (id, score) table and arg-maxes per cluster with a
    * deterministic low-id tie-break.
    *
    * Scale shape: membership rows (|duplicates|, far smaller than the
    * corpus) shuffle once on the id to meet the score table; the
    * per-cluster arg-max is a partial-aggregable `max_by` on a struct —
    * no window, no sort. Output: one row per cluster
    * (cluster_id, best_id, best_score, cluster_size, n_dropped).
    */
  def resolveClusters(clusters: DataFrame, scores: DataFrame, idCol: String,
                      scoreCol: String): DataFrame = {
    val members = clusters.select(col("keep_id").as("cluster_id"),
      col("cluster_size"), explode(col("member_ids")).as(idCol))
    members.join(scores, idCol)
      .groupBy(col("cluster_id"), col("cluster_size"))
      .agg(
        max_by(col(idCol), struct(col(scoreCol), -col(idCol))).as("best_id"),
        max(col(scoreCol)).as("best_score"))
      .select(col("cluster_id"), col("best_id"), col("best_score"),
        col("cluster_size"), (col("cluster_size") - 1).as("n_dropped"))
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** k-permutation MinHash signature of an item-set column, computed per
    * row with built-in higher-order functions (fully distributed, no
    * shuffle): signature[i] = min over items of xxhash64(item, i).
    * Interpreted per (slot, item) — the pair miners use the native
    * [[graft.expressions.MinHashSignature]] kernel on pre-hashed longs
    * instead; this declarative form is kept as the readable reference
    * (DedupSpec asserts the native kernel is bit-identical to it).
    */
  def minhashSignature(items: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(items, t => xxhash64(t, i))))

  /** LSH banding of a signature: `bands` rows of (band_idx, band_hash)
    * per document, where band_hash collapses `rowsPerBand` signature slots.
    * Two documents land in the same bucket for band j iff their signature
    * slices agree — P[candidate] = 1 − (1 − j^r)^b.
    */
  def lshBands(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      j => struct(j.as("band_idx"),
        xxhash64(slice(signature, j * rowsPerBand + 1, lit(rowsPerBand))).as("band_hash")))

  /** Threshold-aware banding: the largest rows-per-band r (the strongest
    * sub-threshold candidate filtering) whose per-pair miss probability
    * AT the threshold, (1 − t^r)^b, stays ≤ 1e-6. The old fixed
    * (32 hashes, 16 bands, r=2) default was tuned for recall only — at
    * t = 0.95 on a templated corpus it admitted 24% of ALL class pairs
    * as candidates (P[cand | j≈0.13] ≈ 1−(1−j²)¹⁶), making the band
    * join + distinct the miners' dominant cost; r=4 cuts that to ~0.4%
    * for the same verified output (measured 4× end-to-end at sf0.1).
    * Low thresholds (< ~0.55) floor at (48, 24): r=2, ~1e-3 at-threshold
    * miss — already 10× tighter than the old default, and pairs even
    * slightly above the threshold decay fast ((1−0.6²)²⁴ ≈ 2e-5 at
    * j=0.6). Below j≈0.5 LSH stops being selective and the classed
    * all-pairs miner is the honest tool.
    * Returns (numHashes, bands).
    */
  private[operators] def autoBanding(threshold: Double): (Int, Int) = {
    val configs = Seq((48, 6), (48, 8), (48, 12), (48, 16))
    configs.find { case (k, b) =>
      math.pow(1 - math.pow(threshold, (k / b).toDouble), b.toDouble) <= 1e-6
    }.getOrElse((48, 24))
  }

  /** The miners' (numHashes, bands): the caller's override, or
    * [[autoBanding]]'s for the threshold.
    */
  private def resolveBanding(threshold: Double, numHashes: Int, bands: Int): (Int, Int) = {
    require((numHashes > 0) == (bands > 0),
      s"numHashes and bands must be overridden together (got numHashes=$numHashes, bands=$bands) — " +
        "a half-specified banding would be silently replaced by the auto-tuned one")
    val (k, b) = if (numHashes > 0) (numHashes, bands) else autoBanding(threshold)
    require(k % b == 0, "bands must divide numHashes")
    (k, b)
  }

  /** The banding projection `(key, blk, band_idx, band_hash)`, one row
    * per band, from the fused signature+banding kernel
    * ([[graft.expressions.LshBandHashes]], bit-identical to [[lshBands]]
    * over [[minhashSignature]] — DedupSpec pins it) over the hashed
    * `items`. The two-step form let projection collapse inline the
    * signature into lshBands' interpreted transform lambda (no CSE
    * inside HOF lambdas), re-evaluating it once per band — b× the
    * kernel cost, with JIT-profile-dependent 8× bench swings.
    */
  private def bandRows(rows: DataFrame, key: Column, blk: Column, items: Column,
                       k: Int, b: Int): DataFrame =
    rows.select(key, blk,
        explode(GraftFunctions.call("lsh_band_hashes", items, lit(k), lit(b))).as("band"))
      .withColumn("band_idx", col("band.band_idx"))
      .withColumn("band_hash", col("band.band_hash"))
      .drop("band")

  /** Most-selective banding within a hash budget: the LARGEST rows-per-
    * band r (with the minimal band count b) whose at-threshold miss
    * probability (1 - t^r)^b stays ≤ `miss`. Returns (numHashes, bands)
    * for the miners' explicit-banding parameters.
    *
    * Why it exists: [[autoBanding]] caps the signature at 48 hashes,
    * which at low thresholds (t ≈ 0.5, the near-dup mining regime)
    * bottoms out at r = 2 — and a 2-row band admits unrelated pairs at
    * ~j²·b, a ~2.6% candidate floor on corpora whose unrelated docs
    * already share j ≈ 0.03 of their shingles (measured on the perturbed
    * 10× synthesis: 7.52M false admits over 293M same-lang class pairs,
    * SURVEY §9.1). Since the verify stage's cost is linear in ADMITTED
    * pairs — i.e. quadratic in corpus size once the floor dominates —
    * buying r = 3 with a bigger signature (t = 0.5 needs k = 312,
    * b = 104) cuts false admits by the per-pair-probability ratio
    * j·(104/24) ≈ 7× predicted, 4.8× measured (the overlap j varies by
    * pair), for a linear per-doc signature cost. The default stays 48:
    * at 48 hashes the small-corpus constant is better, and the trade
    * only wins when verify dominates. Callers opt in:
    * {{{
    *   val (k, b) = Dedup.selectiveBanding(0.5, maxHashes = 320)
    *   Dedup.minhashDupPairsClassed(df, "id", "text", "lang", 0.5,
    *     ngram = 2, numHashes = k, bands = b)
    * }}}
    */
  def selectiveBanding(threshold: Double, maxHashes: Int,
                       miss: Double = 1e-6): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(maxHashes >= 2, s"maxHashes must be >= 2, got $maxHashes")
    require(miss > 0.0 && miss < 1.0, s"miss must be in (0, 1), got $miss")
    val feasible = (2 to 32).flatMap { r =>
      val pr = math.pow(threshold, r.toDouble)
      // minimal b with (1 - pr)^b <= miss; log1p for t^r near 0
      val b = math.ceil(math.log(miss) / math.log1p(-pr)).toInt.max(1)
      if (r.toLong * b <= maxHashes) Some((r * b, b, r)) else None
    }
    feasible.maxByOption { case (_, _, r) => r }
      .map { case (k, b, _) => (k, b) }
      .getOrElse(autoBanding(threshold))
  }

  /** Candidate near-duplicate pairs via MinHash LSH, then EXACT token-set
    * Jaccard verification ≥ threshold (so the output has no false
    * positives; false negatives are bounded by the banding probability —
    * ≤ 1e-6 at the threshold under the [[autoBanding]] defaults, far
    * smaller for pairs above it). numHashes/bands = 0 (the default)
    * auto-tunes the banding from the threshold.
    * Same output contract as [[jaccardPairs]].
    */
  def minhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      blockCol: String, threshold: Double,
                      numHashes: Int = 0, bands: Int = 0): DataFrame = {
    val (k, b) = resolveBanding(threshold, numHashes, bands)
    // Banding rows stay NARROW (id, blk, band) — carrying the token arrays
    // through a bands×-amplified self-join + distinct was the dominant cost
    // at bench; token sets are joined back only for the deduped candidates.
    // Tokens are hashed to longs once, then the native signature kernel
    // runs (statistically equivalent to slot-hashing the strings directly;
    // candidates differ but the exact-Jaccard verify fixes the output).
    val withBand = bandRows(df, col(idCol).as("id"), col(blockCol).as("blk"),
      hashedShingleSet(col(textCol), 1), k, b)
    val candidates = withBand.as("a")
      .join(withBand.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.blk") === col("b.blk") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    // Verify on HASHED token sets: long equality is cheaper than string,
    // and the candidate-side shuffle shrinks ~2×. xxhash64 collisions
    // within one pair's union are ~1e-16 — numerically exact.
    val toks = df.select(col(idCol).as("id"),
      hashedShingleSet(col(textCol), 1).as("toks"))
    candidates
      .join(toks.withColumnsRenamed(Map("id" -> "id_a", "toks" -> "ta")), "id_a")
      .join(toks.withColumnsRenamed(Map("id" -> "id_b", "toks" -> "tb")), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("ta"), col("tb"))).cast("double") /
          size(array_union(col("ta"), col("tb"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** MinHash LSH over token-set equivalence classes ([[contentClasses]]):
    * identical token sets have identical signatures by construction, so
    * banding, candidate distinct, and exact verification all run on
    * class representatives (bounded by distinct-content count);
    * within-class doc pairs are jaccard 1.0 and emitted directly.
    * Output-identical to [[minhashDupPairs]] — same LSH guarantees,
    * strictly less work on duplicate-heavy corpora.
    */
  def minhashDupPairsClassed(df: DataFrame, idCol: String, textCol: String,
                             blockCol: String, threshold: Double,
                             numHashes: Int = 0, bands: Int = 0,
                             ngram: Int = 1): DataFrame = {
    val (k, b) = resolveBanding(threshold, numHashes, bands)
    val classes = contentClasses(
      df.select(col(idCol).as("id"), col(blockCol).as("blk"),
        hashedShingleSet(col(textCol), ngram).as("toks")),
      col("blk"))
    val banded = bandRows(classes, col("cls"), col("blk"), col("toks"), k, b)
    val candidates = banded.as("a").join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.blk") === col("b.blk") &&
          col("a.cls") < col("b.cls"))
      .select(col("a.cls").as("cls_a"), col("b.cls").as("cls_b"))
      .dropDuplicates("cls_a", "cls_b")
    val clsInfo = classes.select(col("cls"), col("toks"), col("ids"))
    val classPairs = candidates
      .join(clsInfo.withColumnsRenamed(Map("cls" -> "cls_a", "toks" -> "ta", "ids" -> "ids_a")), "cls_a")
      .join(clsInfo.withColumnsRenamed(Map("cls" -> "cls_b", "toks" -> "tb", "ids" -> "ids_b")), "cls_b")
      .transform(jaccardAtLeast("ta", "tb", threshold))
    documentPairs(classes, classPairs, "jaccard", lit(1.0))
  }

  // ------------------------------------------------------------------
  // Incremental dedup: persisted LSH index + new-batch probe
  // ------------------------------------------------------------------

  /** MinHash-LSH band index of a corpus — the PERSISTED artifact that
    * makes dedup INCREMENTAL: ingesting a new batch probes this index
    * instead of re-mining the whole corpus (the difference between
    * O(batch) and O(corpus) per ingestion cycle at 100 TB).
    *
    * Output: one narrow row per (document, band) —
    * `(id, blk, band_idx, band_hash, num_hashes, bands, ngram)`. The
    * banding parameters ride along as constant columns (dictionary/RLE-
    * encoded to ~nothing in parquet) so the index is SELF-DESCRIBING:
    * [[incrementalDupPairs]] reads them back and refuses a probe built
    * with mismatched banding — the production failure mode where a
    * config drift silently zeroes recall.
    *
    * Scale: persist via [[graft.sources.Tables.writeBucketed]] on
    * `(blk, band_idx, band_hash)` — the probe join then reads the
    * corpus-×-bands-sized index side WITHOUT an Exchange (only the
    * batch-sized probe side shuffles, to the bucket count). Appending a
    * new batch's own band rows (this function on the batch) keeps the
    * index current; compact small appends with
    * [[graft.sources.Compaction]].
    */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
                   blockCol: String, threshold: Double, ngram: Int = 1,
                   numHashes: Int = 0, bands: Int = 0): DataFrame = {
    val (k, b) = resolveBanding(threshold, numHashes, bands)
    bandRows(df, col(idCol).as("id"), col(blockCol).as("blk"),
        hashedShingleSet(col(textCol), ngram), k, b)
      .withColumn("num_hashes", lit(k))
      .withColumn("bands", lit(b))
      .withColumn("ngram", lit(ngram))
  }

  /** New-batch-vs-corpus near-duplicate pairs through a persisted
    * [[minhashIndex]]: band the batch with the INDEX's own recorded
    * parameters, join bands against the index, then verify candidates
    * with exact token/shingle Jaccard against the corpus text — so the
    * output has no false positives and the same ≤ `miss` banding recall
    * bound as the batch miners, but the corpus is never re-mined.
    * Within-batch pairs are deliberately NOT emitted (run a batch miner
    * on the batch for those — it is batch-sized work either way).
    *
    * Scale shape: the band join is candidate-generating (index side
    * shuffle-free when bucketed — see [[minhashIndex]]); the two verify
    * joins are CANDIDATE-sized lookups into corpus/batch text, orders of
    * magnitude below corpus size. One bounded driver read (a single
    * index row) validates banding compatibility.
    * Output: (corpus_id, new_id, jaccard).
    */
  def incrementalDupPairs(newDf: DataFrame, corpus: DataFrame, index: DataFrame,
                          idCol: String, textCol: String, blockCol: String,
                          threshold: Double, ngram: Int = 1): DataFrame = {
    val meta = index.select(col("num_hashes"), col("bands"), col("ngram")).head(1)
    require(meta.nonEmpty, "cannot probe an EMPTY index: build it with minhashIndex first")
    val (k, b, idxNgram) = (meta(0).getInt(0), meta(0).getInt(1), meta(0).getInt(2))
    require(idxNgram == ngram,
      s"index was built over $idxNgram-gram shingles but the probe asked for $ngram-gram — " +
        "signatures would be incomparable and recall silently zero")
    val probe = bandRows(newDf, col(idCol).as("id"), col(blockCol).as("blk"),
      hashedShingleSet(col(textCol), ngram), k, b)
    val candidates = probe.as("n")
      .join(index.as("x"),
        col("n.blk") === col("x.blk") &&
          col("n.band_idx") === col("x.band_idx") &&
          col("n.band_hash") === col("x.band_hash") &&
          col("n.id") =!= col("x.id"))
      .select(col("x.id").as("corpus_id"), col("n.id").as("new_id"))
      .dropDuplicates("corpus_id", "new_id")
    val ctoks = corpus.select(col(idCol).as("corpus_id"),
      hashedShingleSet(col(textCol), ngram).as("ta"))
    val ntoks = newDf.select(col(idCol).as("new_id"),
      hashedShingleSet(col(textCol), ngram).as("tb"))
    candidates
      .join(ctoks, "corpus_id")
      .join(ntoks, "new_id")
      .transform(jaccardAtLeast("ta", "tb", threshold))
      .select(col("corpus_id"), col("new_id"), col("jaccard"))
  }

  // ------------------------------------------------------------------
  // Line-level dedup (boilerplate removal)
  // ------------------------------------------------------------------

  /** Line-level deduplication in the CCNet/RefinedWeb mold: a line whose
    * normalized content appears in ≥ `minDocs` DISTINCT documents is
    * boilerplate (headers, footers, cookie banners, nav chrome) and is
    * removed from EVERY document; remaining lines are reassembled in
    * their original order. Doc-level dedup cannot see this — two pages
    * sharing a 40-line footer are not near-duplicates of each other.
    *
    * `delim` is the segmentation unit (literal, not a regex; "\n" for
    * real text — the caller owns segmentation, which is a property of
    * the corpus, not of the algorithm).
    *
    * Scale shape: lines explode map-side; the document-frequency pass is
    * a two-level aggregate on the 16-byte line fingerprint (never the
    * line text); the boilerplate filter is a left-anti hash join on that
    * fingerprint; reassembly is ONE shuffle of kept lines by doc id with
    * an `array_sort(collect_list(struct(pos, line)))` — no window, no
    * single-partition sort. Nothing is driver-side.
    * Output: (id, text_clean, lines_kept, lines_total) for every input
    * document — a doc whose every line was boilerplate keeps a row with
    * `text_clean = ""` so the caller decides the drop policy.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String, minDocs: Int,
                delim: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs) — at 1 every line is boilerplate")
    val splitter = split(col(textCol), java.util.regex.Pattern.quote(delim))
    val lines = df
      .select(col(idCol).as("id"), posexplode(splitter).as(Seq("pos", "line")))
      .withColumn("k", md5(lower(trim(col("line")))))
    // document frequency per line fingerprint: collapse (k, id) first so
    // a line repeated WITHIN one doc counts that doc once
    val boiler = lines.select("k", "id").distinct()
      .groupBy("k").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select("k")
    val rebuilt = lines.join(boiler, Seq("k"), "left_anti")
      .groupBy("id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            s => s("line")),
          delim).as("text_clean"),
        count(lit(1)).as("lines_kept"))
    df.select(col(idCol).as("id"), size(splitter).cast("long").as("lines_total"))
      .join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("lines_kept"), lit(0L)).as("lines_kept"),
        col("lines_total"))
  }

  /** Exact SUBSTRING dedup (the Lee, Ippolito et al. 2022
    * "Deduplicating Training Data Makes Language Models Better"
    * ExactSubstr shape, re-expressed as a distributed gram shuffle
    * instead of a single-machine suffix array): report, per document,
    * the maximal character spans whose every `minLen`-char window
    * occurs at ≥ 2 positions corpus-wide — the arbitrary-length rung
    * of the dedup ladder between fixed-token span dedup (q65) and
    * whole-line dedup (q116). The caller cuts or drops the reported
    * spans.
    *
    * Semantics, precisely: a position p in doc d is DUPLICATED when
    * the `minLen`-gram starting at p occurs at ≥ 2 (doc, pos) sites in
    * the corpus (same-doc repeats count — internal boilerplate is
    * duplication too, as in the paper). Maximal runs of consecutive
    * duplicated positions merge into one span covering
    * [start, last + minLen − 1], and spans that still overlap (two
    * islands closer than minLen) coalesce into one maximal covered
    * region ([[Intervals.coalesce]]) — output spans are DISJOINT per
    * doc. Every true repeated substring of
    * length ≥ minLen lies inside a reported span (its windows are all
    * duplicated); adjacent windows duplicated at DIFFERENT partner
    * sites can over-merge into one span — the standard gram-anchored
    * over-approximation that dedup tooling cuts on.
    *
    * Scale shape: the gram pass is map-side (one `(hash, id, pos)`
    * triple per character position — linear in corpus bytes, THE
    * honest cost of exact substring dedup; the suffix array it
    * replaces is also Θ(chars) but not shardable); the occurrence
    * count is a two-level aggregate on the gram hash (never gram
    * text); duplicated positions come back via left-semi hash join;
    * the gaps-and-islands merge windows per doc id — partition count =
    * document count. md5 grams keep the oracle restatable; at 100 TB
    * swap the key to the xxhash64 long (8 B vs 32 B shuffle keys, q74
    * convention) and pre-filter positions with a bloom of duplicated
    * hashes.
    * Output: (id, span_start, span_end, span_len), 1-based inclusive
    * character positions, one row per maximal duplicated span.
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
                     minLen: Int): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    import org.apache.spark.sql.expressions.Window
    // 16-byte BINARY md5 as the shuffle key: the full 128-bit identity
    // (collision-free at any corpus size, unlike a 64-bit hash at 10^14
    // grams) at half the bytes of the hex rendering; the oracle
    // recomputes duplicated POSITIONS with its own md5, so only the
    // identity semantics must agree, not the encoding. The fused
    // [[graft.expressions.CharGramHashes]] kernel computes all windows
    // in one JIT'd pass with a reused digest — the declarative
    // transform/substr/md5 lambda ran interpreted and built a fresh
    // MessageDigest per gram (~4 µs/gram, the dominant q147 cost).
    // FanOut: the gram kernel is row-proportional CPU evaluated in BOTH
    // plan branches below (dup counting and the semi-join back); on a
    // 1-split scan each pass ran as a single task
    val grams = FanOut(df
      .select(col(idCol).as("id"), col(textCol).as("__t"))
      .filter(length(col("__t")) >= minLen))
      .select(col("id"),
        posexplode(GraftFunctions.call("char_gram_hashes", col("__t"), lit(minLen))))
      .select(col("id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
    val dup = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2)
      .select(col("h"))
    val dupPos = grams.join(dup, Seq("h"), "left_semi")
      .select(col("id"), col("pos"))
    val islands = dupPos
      .withColumn("__grp",
        col("pos") - row_number().over(
          Window.partitionBy(col("id")).orderBy(col("pos"))))
      .groupBy(col("id"), col("__grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(minLen - 1).cast("long")).as("span_end"))
    // second merge level: two position islands closer than minLen yield
    // OVERLAPPING character spans (each span extends minLen−1 past its
    // last window start) — coalesce them so the output is a set of
    // disjoint maximal covered regions, the contract [[cutSpans]] and
    // any drop policy need
    Intervals.coalesce(islands.select(col("id"), col("span_start"), col("span_end")),
        Seq("id"), "span_start", "span_end")
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"))
  }

  /** The CUT step completing [[duplicateSpans]]'s ExactSubstr pipeline:
    * surgically remove the given character spans from each document's
    * text — kept segments concatenate in order, nothing else moves.
    * Mechanical by design: WHICH spans to cut is the dedup policy and
    * stays with the caller (pass every span for the drop-all-copies
    * decontamination policy; filter to non-canonical docs for a
    * keep-one policy — the span table carries (id, start, end), which
    * is exactly the metadata such a filter needs).
    *
    * Scale shape: spans collapse to one array per doc (`collect_list`
    * — span counts per doc are bounded by text length), the splice is
    * a map-side `aggregate` fold over that sorted array, and docs
    * without spans pass through via the left join. One shuffle (the
    * span groupBy), no window, no driver state.
    *
    * Contract: spans must be 1-based inclusive, within the text, and
    * non-overlapping per doc ([[duplicateSpans]] output satisfies all
    * three — its final [[Intervals.coalesce]] level exists exactly to
    * guarantee disjointness).
    * Output: (id, text_clean, n_spans, chars_removed) for EVERY input
    * document.
    */
  def cutSpans(df: DataFrame, idCol: String, textCol: String,
               spans: DataFrame): DataFrame = {
    val byDoc = spans
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(
        col("span_start").as("s"), col("span_end").as("e")))).as("__sp"))
    df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .join(byDoc, Seq("id"), "left")
      .select(col("id"),
        when(col("__sp").isNull, col("__t")).otherwise(
          // fold: carry (last cut end, accumulated kept text); each span
          // appends the gap before it, the finisher appends the tail
          aggregate(col("__sp"),
            struct(lit(0L).as("last"), lit("").as("acc")),
            (st, sp) => struct(
              sp.getField("e").as("last"),
              concat(st.getField("acc"),
                col("__t").substr(
                  (st.getField("last") + 1).cast("int"),
                  (sp.getField("s") - st.getField("last") - 1).cast("int")))
                .as("acc")),
            st => concat(st.getField("acc"),
              col("__t").substr(
                (st.getField("last") + 1).cast("int"),
                (length(col("__t")).cast("long") - st.getField("last"))
                  .cast("int"))))).as("text_clean"),
        coalesce(size(col("__sp")), lit(0)).cast("long").as("n_spans"),
        col("__t"))
      .select(col("id"), col("text_clean"), col("n_spans"),
        (length(col("__t")) - length(col("text_clean"))).cast("long")
          .as("chars_removed"))
  }

  // ------------------------------------------------------------------
  // Eval-set decontamination
  // ------------------------------------------------------------------

  /** n-gram-level train↔eval decontamination (the "13-gram overlap"
    * practice): training documents sharing at least one word n-gram
    * with ANY eval document, with the count of distinct shared n-grams.
    * Doc-level near-dup (q60's audit) misses partial inclusion — an
    * eval question quoted inside a long training document; n-gram
    * overlap is the standard remedy.
    *
    * Scale shape: an eval set is small by construction, so its distinct
    * n-gram hashes are broadcast into the join against the exploded
    * training n-grams — the training corpus shuffles once on the
    * aggregate key (its own doc id), never on the join. Pass
    * `broadcastEval = false` if the eval side outgrows the broadcast
    * budget (shuffle-hash join on the gram hash instead). Equality is
    * on xxhash64 n-gram hashes — the miners' standard ~1e-16-per-pair
    * collision equivalence.
    * Output: (id, n_shared), contaminated training docs only.
    */
  def ngramContamination(train: DataFrame, evalSet: DataFrame, idCol: String,
                         textCol: String, n: Int,
                         broadcastEval: Boolean = true): DataFrame = {
    val tGrams = train.select(col(idCol).as("id"),
      explode(hashedShingleSet(col(textCol), n)).as("__g"))
    val eGrams0 = evalSet
      .select(explode(hashedShingleSet(col(textCol), n)).as("__g"))
      .distinct()
    val eGrams = if (broadcastEval) broadcast(eGrams0) else eGrams0
    // per-doc grams are already distinct (hashedShingleSet contract), so
    // the count IS the distinct shared-gram count
    tGrams.join(eGrams, "__g")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** Scalable SimHash computation: hash each token once, then the native
    * codegen'd [[graft.expressions.SimHash64]] kernel folds all 64 bit
    * sums in ONE map-side pass per row — no explode, no shuffle, no row
    * amplification. (The previous explode + 64-conditional-sums hash
    * aggregate computed the same value but shuffled one row per (doc,
    * token); the per-row [[simhash64]] HOF variant is interpreted and two
    * orders of magnitude slower — both kept as cross-checked references.)
    * Output: (id, sh).
    */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
                   portableHash: Boolean = false): DataFrame = {
    // zero-token docs are EXCLUDED, matching the original explode+agg
    // formulation (no tokens -> no group -> no row). Without the filter
    // the per-row kernel emits sh=0 for every empty/whitespace-only doc,
    // and they all band together as spurious hamming-0 "duplicates".
    // (removeEmpty strips the "" token a whitespace-only doc yields, so
    // those docs size to 0 and drop; simhash is order-insensitive, so
    // the kernel's sorted hashes change nothing.)
    // portableHash picks md5-based token hashes ([[md5TokenHashes]]) so
    // the signature is reproducible outside Spark; the bit-fold kernel
    // is hash-agnostic (it folds whatever longs it is given)
    val tokHashes = if (portableHash) md5TokenHashes(col(textCol))
                    else hashedShingleSet(col(textCol), 1, removeEmpty = true)
    df.select(col(idCol).as("id"), tokHashes.as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("id"), GraftFunctions.call("simhash64", col("__toks")).as("sh"))
  }

  /** 64-bit SimHash of a token array: bit b of the hash is 1 iff the sum
    * over tokens of ±1 (sign of bit b of xxhash64(token)) is positive.
    * Pure per-row expression — no shuffle, no UDF. NOTE: interpreted and
    * O(64·n) hash calls — fine for small arrays / tests; use
    * [[simhashTable]] for corpus-scale pair mining.
    */
  def simhash64(items: Column): Column = {
    val bitCounts = transform(sequence(lit(0), lit(63)), b =>
      aggregate(items, lit(0),
        (acc, t) => acc + when(call_function("shiftright", xxhash64(t), b).bitwiseAND(1) === 1, 1).otherwise(-1)))
    aggregate(sequence(lit(0), lit(63)), lit(0L),
      (acc, b) => acc + when(element_at(bitCounts, b + 1) > 0,
        call_function("shiftleft", lit(1L), b)).otherwise(lit(0L)))
  }

  /** Near-dup pairs by SimHash Hamming distance ≤ maxDistance within a
    * block. Pair generation here is a blocked self-join on the (narrow)
    * (id, simhash) projection; at 100 TB use the standard prefix-rotation
    * trick (split the 64 bits into maxDistance+1 segments; equal-segment
    * join guarantees recall) — the block join below is the small-block
    * fallback. Output: (id_a, id_b, hamming).
    */
  def simhashDupPairs(df: DataFrame, idCol: String, textCol: String,
                      blockCol: String, maxDistance: Int,
                      portableHash: Boolean = false): DataFrame = {
    val sh = simhashTable(df, idCol, textCol, portableHash)
      .join(df.select(col(idCol).as("id"), col(blockCol).as("blk")), "id")
    sh.as("a").join(sh.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("hamming", bit_count(col("a.sh").bitwiseXOR(col("b.sh"))))
      .filter(col("hamming") <= maxDistance)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("hamming"))
  }

  /** Scalable SimHash candidate generation: segment-equality blocking
    * (pigeonhole — any pair within `maxDistance` bit flips agrees on at
    * least one of maxDistance+1 segments), then exact Hamming verify.
    * Recall 100%, unlike a prefix-only block. Documents are collapsed to
    * token-set classes first (identical sets ⇒ identical simhash ⇒
    * hamming 0), so the quadratic candidate stage runs on distinct
    * content only — same trick as the classed Jaccard/MinHash miners.
    */
  def simhashDupPairsSegmented(df: DataFrame, idCol: String, textCol: String,
                               maxDistance: Int,
                               portableHash: Boolean = false): DataFrame = {
    val nSeg = maxDistance + 1
    val segBits = 64 / nSeg
    // class collapse over the token set; zero-token docs (empty or
    // whitespace text, whose "" token removeEmpty strips) join no class
    // — same contract as [[simhashTable]]
    val tokHashes = if (portableHash) md5TokenHashes(col(textCol))
                    else hashedShingleSet(col(textCol), 1, removeEmpty = true)
    val classes = contentClasses(df.select(col(idCol).as("id"), tokHashes.as("toks")))
    // simhash per class: native one-pass kernel over the pre-hashed
    // tokens — map-side, replacing an explode + 64-sum hash aggregate
    // (one shuffled row per (class, token)) with zero shuffle
    val clsSh = classes.select(col("cls"),
      GraftFunctions.call("simhash64", col("toks")).as("sh"))
    val sh = clsSh
      .withColumn("seg", explode(transform(sequence(lit(0), lit(nSeg - 1)),
        s => struct(s.as("seg_idx"),
          call_function("shiftright", col("sh"), s * segBits)
            .bitwiseAND(if (segBits >= 64) -1L else (1L << segBits) - 1).as("seg_val")))))
    val crossCls = sh.as("a").join(sh.as("b"),
        col("a.seg.seg_idx") === col("b.seg.seg_idx") &&
          col("a.seg.seg_val") === col("b.seg.seg_val") &&
          col("a.cls") < col("b.cls"))
      .select(col("a.cls").as("cls_a"), col("b.cls").as("cls_b"),
        bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("hamming"))
      .dropDuplicates("cls_a", "cls_b")
      .filter(col("hamming") <= maxDistance)
    val clsIds = classes.select(col("cls"), col("ids"))
    documentPairs(classes,
      crossCls
        .join(clsIds.withColumnsRenamed(Map("cls" -> "cls_a", "ids" -> "ids_a")), "cls_a")
        .join(clsIds.withColumnsRenamed(Map("cls" -> "cls_b", "ids" -> "ids_b")), "cls_b"),
      "hamming", lit(0))
  }
}
