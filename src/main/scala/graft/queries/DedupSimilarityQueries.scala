package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GroupOps, Validation, ValidationRule}
import graft.sources.Tables

/** Deduplication, similarity/ANN, retrieval and graph queries (SURVEY.md §7.4 dedup + similarity families).
  *
  * One slice of [[graft.SparkEntry]]'s query surface (split from the
  * former 9.3k-line single file; pure move, no behavior change). Keys,
  * builders and oracle SQL are exactly the driver contract: every
  * `queries` entry that is SQL-expressible has a DuckDB `oracleSql`
  * twin with IDENTICAL column names (the compare hashes by sorted
  * column name).
  */
private[graft] object DedupSimilarityQueries extends QueryRegistry {

  // ------------------------------------------------------------------
  // LLM-data-pipeline extensions (SURVEY.md §7.4): dedup, similarity,
  // text analysis, JSON events, windowed time aggregation
  // ------------------------------------------------------------------

  /** Exact dedup groups by content fingerprint (md5 of normalized text). */
  private def q22DedupExact(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    Dedup.exactDedupGroups(t(s, dir, "documents"), "doc_id", "text")
      .orderBy(col("fingerprint"))
  }


  /** Exact token-set Jaccard near-dup pairs (threshold 0.95, lang-blocked),
    * via equivalence-class collapse (the inverted-index variant
    * `Dedup.jaccardPairs` computes the identical set; see DedupSpec).
    */
  private def q23JaccardPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    Dedup.jaccardPairsClassed(t(s, dir, "documents"), "doc_id", "text", "lang", 0.95)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }


  /** MinHash+LSH near-dup pairs with exact verification — same contract as
    * q23, so the DuckDB brute-force oracle checks LSH recall too
    * (banding auto-tuned from the threshold: 12 bands × 4 rows at 0.95,
    * P[miss | j≥0.95] < 2e-9 per pair — see Dedup.autoBanding).
    */
  private def q24MinhashLsh(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    Dedup.minhashDupPairsClassed(t(s, dir, "documents"), "doc_id", "text", "lang", 0.95)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }


  /** SimHash near-dup pairs (segmented candidate generation, exact Hamming
    * verify), on the engine-portable md5 token hash so the ORACLE can
    * rebuild the identical 64-bit signature (two 32-bit md5-prefix halves
    * — every intermediate fits a non-negative BIGINT in ANSI SQL) and
    * brute-force all pairs; segment blocking at maxDistance=3 has exact
    * recall (pigeonhole over 4 segments), so the sets must match
    * exactly. The xxhash64 kernel path stays the library scale default.
    */
  private def q25Simhash(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    Dedup.simhashDupPairsSegmented(t(s, dir, "documents"), "doc_id", "text", 3,
        portableHash = true)
      .orderBy(col("id_a"), col("id_b"))
  }


  /** Embedding near-dup pairs: cosine ≥ 0.35 over the full corpus, via
    * the exact IVF-blocked path (k-means-refined cells scaled to the
    * corpus, triangle-inequality cell-pair pruning, keyed shuffle join —
    * recall 1.0 guaranteed, no nested-loop cartesian; the all-pairs form
    * stays in the library for bounded pre-blocked sets). The achieved
    * pruned fraction is logged per run; on THIS corpus it is honestly 0
    * — the synthetic embeddings are directionally uniform, so exact
    * mining at 0.35 sits on the documented all-pairs floor — while the
    * clustered-corpus spec (SimilaritySpec) asserts the same code prunes
    * > 0.5 of cell pairs when duplicate families exist.
    */
  private def q26CosinePairs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    Similarity.cosinePairsAboveBlocked(t(s, dir, "embeddings"), "vec_id", "embedding", 0.35)
      .select(col("id_a"), col("id_b"), round(col("cosine_sim"), 6).as("cosine_sim"))
      .orderBy(col("id_a"), col("id_b"))
  }


  /** Brute-force cosine top-5 neighbours for a bounded query batch —
    * one corpus scan into per-partition heaps.
    */
  private def q27AnnTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbour_id"), round(col("cosine_sim"), 6).as("cosine_sim"))
      .orderBy(col("query_id"), col("neighbour_id"))
  }


  /** LSH-bucketed approximate top-k (the scale path), oracle-checked
    * against the EXACT top-k: at 64 tables × 4 planes the per-neighbour
    * miss probability is (1 − 0.582⁴)⁶⁴ ≈ 4e-4 even for the worst
    * neighbour in this corpus (cosine 0.255), and the hyperplanes are
    * seeded — so the LSH result deterministically equals the exact
    * result here, and the DuckDB exact-top-k SQL is a true end-to-end
    * recall gate (any recall regression breaks the hash match). The
    * ScalaTest suite separately checks recall at looser default params.
    */
  private def q28AnnLsh(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = t(s, dir, "embeddings")
    // single corpus pass + per-partition heaps, no nTables× row blowup
    Similarity.lshTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
        k = 5, dim = 64, nTables = 64, nPlanes = 4)
      .select(col("query_id"), col("neighbour_id"), round(col("cosine_sim"), 6).as("cosine_sim"))
      .orderBy(col("query_id"), col("neighbour_id"))
  }


  /** IVF coarse quantization: every vector assigned to its nearest of 8
    * centroid vectors (map-side argmax over the collected centroid array —
    * no shuffle, no row amplification), cell occupancy as output.
    */
  private def q43IvfAssign(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = t(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.ivfAssign(emb, "vec_id", "embedding", centroids, "cid", "cvec")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("cell"))
  }


  /** n-gram (bigram-shingle) Jaccard near-dup pairs — sequence-sensitive,
    * unlike the token-set variant (q23): only genuinely near-identical
    * word SEQUENCES survive (threshold 0.5; the corpus separates cleanly:
    * true near-dups ≥ 0.96, everything else ≤ 0.13).
    */
  private def q44NgramJaccard(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    // the LSH-classed miner wins once signatures run on the native
    // codegen'd kernel (4.3s vs 4.8s at sf0.1 — the interpreted-HOF
    // signature cost that previously made brute-force-classed faster is
    // gone), and unlike the |classes|² merge-intersect it stays subquadratic
    // on a mostly-unique shingle corpus. Recall is exact here: qualifying
    // pairs sit at jaccard ≥ 0.96 (P[band miss] < 1e-16 at b=16, r=2), and
    // the brute-force DuckDB oracle verifies that every round.
    Dedup.minhashDupPairsClassed(t(s, dir, "documents"), "doc_id", "text", "lang", 0.5, ngram = 2)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }


  /** Connected-components closure over near-dup pairs → dedup clusters
    * with canonical keep-ids: the step that turns PAIR mining into an
    * actually deduplicated corpus (near-dup is not transitive; dedup
    * policy closes it). Label propagation — one keyed aggregation per
    * round, no driver-side graph; the DuckDB oracle recomputes the
    * closure with a recursive CTE over the same brute-force pair set.
    */
  private def q49DedupComponents(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.dedupClustersClassed(
        t(s, dir, "documents"), "doc_id", "text", "lang", 0.8)
      .select(col("keep_id"), col("cluster_size"),
        element_at(col("member_ids"), -1).as("max_member"))
      .orderBy(col("keep_id"))


  /** BM25 relevance over the documents corpus for a fixed term bag — the
    * ranking primitive for query-targeted corpus extraction. The heavy
    * side (per-doc tf) is pruned to query terms before any shuffle;
    * document frequency and corpus stats are broadcast (see
    * [[graft.operators.Scoring]] for the 100 TB shape). The oracle
    * recomputes the identical formula in SQL — idf, length norm and all.
    */
  private def q57Bm25(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scoring.bm25(t(s, dir, "documents"), "doc_id", "text",
        Seq("vector", "stream", "window"))
      .select(col("doc_id"), col("n_matched"), round(col("score"), 6).as("score"))
      .orderBy(col("doc_id"))


  /** Symmetric int8 embedding quantization report — the 4× compression
    * pass before a vector corpus enters an ANN index. Pure map-side array
    * expressions (no UDF, no shuffle); the codes are pinned by (sum, L1)
    * and the dequantization error bound is part of the output contract.
    */
  private def q58QuantizeInt8(s: SparkSession, dir: String): DataFrame =
    graft.operators.Quantize.quantizeReport(t(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), round(col("scale"), 6).as("scale"),
        col("q_sum"), col("q_l1"), round(col("max_err"), 6).as("max_err"))
      .orderBy(col("vec_id"))


  /** Train/test contamination audit: near-dup pairs (MinHash-LSH classed
    * miner — the 100 TB path, recall-verified by q24) that STRADDLE the
    * deterministic hash split of q45 — the leakage check every training
    * pipeline needs before shipping an eval set. The oracle recomputes
    * the brute-force Jaccard pair set and the split labels independently.
    */
  private def q60Contamination(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Sampling}
    val docs = t(s, dir, "documents")
    val pairs = Dedup.minhashDupPairsClassed(docs, "doc_id", "text", "lang", 0.95)
    val splits = docs.select(col("doc_id"),
      Sampling.splitLabel(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"))
    pairs
      .join(splits.withColumnsRenamed(Map("doc_id" -> "id_a", "split" -> "split_a")), "id_a")
      .join(splits.withColumnsRenamed(Map("doc_id" -> "id_b", "split" -> "split_b")), "id_b")
      .filter(col("split_a") =!= col("split_b"))
      .select(col("id_a"), col("id_b"), col("split_a"), col("split_b"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }


  /** C4-style corpus-wide span dedup: every 8-token span that occurs
    * anywhere else in the corpus keeps only its global first occurrence;
    * documents are rebuilt from surviving spans. Output pins the rebuilt
    * text by md5; the oracle replays the identical selection in SQL.
    */
  private def q65SpanDedup(s: SparkSession, dir: String): DataFrame =
    graft.operators.Chunking.spanDedup(t(s, dir, "documents"), "doc_id", "text", 8)
      .select(col("doc_id"), col("n_kept"), col("n_dropped"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("doc_id"))


  /** One Lloyd k-means update step over the embeddings (cosine
    * assignment to the q43 seed centroids, then per-cell per-dimension
    * mean) — the training loop behind the IVF index q43/q28 consume.
    * The per-dim aggregation explodes (vector, dim) but partial hash
    * aggregation collapses each partition to k·d rows before the
    * shuffle — the 100 TB shape for centroid updates. The oracle
    * recomputes assignment AND means positionally in SQL.
    */
  private def q66KmeansStep(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = t(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", centroids, "cid", "cvec")
    val dims = assigned.select(col("cell"), posexplode(col("embedding")))
      .groupBy(col("cell"), col("pos"))
      .agg(avg(col("col").cast("double")).as("m"))
    val stats = dims.groupBy(col("cell"))
      .agg(round(sqrt(sum(col("m") * col("m"))), 6).as("centroid_norm"),
        round(sum(col("m")), 6).as("centroid_sum"))
    assigned.groupBy(col("cell")).agg(count(lit(1)).as("n_members"))
      .join(stats, "cell")
      .orderBy(col("cell"))
  }


  /** TF-IDF feature weights over the whole vocabulary, projected to a
    * bounded doc slice for the compare (the OPERATOR runs corpus-wide —
    * N and df come from all documents; the filter only trims the
    * output). Oracle restates the full formula in SQL.
    */
  private def q73TfIdf(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scoring.tfIdf(t(s, dir, "documents"), "doc_id", "text")
      .filter(col("doc_id") < 20 && col("term") =!= "")
      .select(col("doc_id"), col("term"), col("tf"),
        round(col("tf_idf"), 6).as("tf_idf"))
      .orderBy(col("doc_id"), col("term"))


  /** n-gram-level eval decontamination: train-split documents sharing
    * at least one 8-gram with any test-split document (GPT-3-style
    * "13-gram" decontamination, scaled to this corpus's doc lengths).
    * q60 audits DOC-level near-dup leakage; this catches partial
    * inclusion — an eval example quoted inside a long training doc.
    * The oracle rebuilds the split and the n-gram overlap from strings
    * (the engine joins on xxhash64 gram hashes — same doc set modulo
    * ~1e-16 collisions).
    */
  private def q74NgramDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Sampling}
    val labeled = t(s, dir, "documents").withColumn("split",
      Sampling.splitLabel(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    Dedup.ngramContamination(
        labeled.filter(col("split") === "train"),
        labeled.filter(col("split") === "test"),
        "doc_id", "text", 8)
      .select(col("id").as("doc_id"), col("n_shared"))
      .orderBy(col("doc_id"))
  }


  /** Typo-level fuzzy self-join over part names: all pairs within
    * Levenshtein distance 2, via deletion-neighborhood (SymSpell)
    * blocking + exact verify — never the all-pairs cross join the
    * oracle brute-forces.
    */
  private def q85EditDistancePairs(s: SparkSession, dir: String): DataFrame =
    graft.operators.FuzzyJoin.editDistancePairs(
        t(s, dir, "part").select(col("p_name")).distinct(),
        "p_name", "p_name", maxDist = 2)
      .select(col("id_a").as("name_a"), col("id_b").as("name_b"), col("dist"))
      .orderBy(col("name_a"), col("name_b"))


  /** Johnson–Lindenstrauss random projection 64→16 dims with the
    * deterministic md5-parity sign matrix — map-side fold per row,
    * zero shuffle; the oracle rebuilds the identical matrix in SQL and
    * recomputes every dot product through the (dIn·dOut)-exploded
    * join form this operator exists to avoid.
    */
  private def q89RandomProjection(s: SparkSession, dir: String): DataFrame =
    graft.operators.Projection.randomProject(
        t(s, dir, "embeddings"), "embedding", dIn = 64, dOut = 16, out = "proj")
      .select(col("vec_id"), posexplode(col("proj")))
      .select(col("vec_id"), col("pos").as("j"), round(col("col"), 6).as("p"))
      .orderBy(col("vec_id"), col("j"))


  /** IVF cell-probed top-k — the third ANN path next to exact heaps
    * (q27) and LSH buckets (q28). Codebook = the 16 lowest-id vectors
    * (deterministic, engine-reproducible); probing ALL 16 cells makes
    * the approximate path deterministically exact, so the q27-style
    * exact-top-k oracle doubles as an end-to-end gate on the whole
    * cell-partition → probe → join → re-rank machinery (q28
    * precedent). Partial-probe recall (≈0.93 at nProbe=8 here — this
    * corpus has weak cosine cluster structure) is asserted separately
    * in SimilaritySpec.
    */
  private def q90IvfTopK(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = t(s, dir, "embeddings")
    val codebook = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.ivfTopK(emb.filter(col("vec_id") < 20), emb, "vec_id", "embedding",
        codebook, "cid", "cvec", k = 5, nProbe = 16)
      .select(col("query_id"), col("neighbour_id"),
        round(col("cosine_sim"), 6).as("cosine_sim"))
      .orderBy(col("query_id"), col("neighbour_id"))
  }


  /** Duplicate-cluster retention: q49's near-dup clusters resolved by a
    * KEEP-LONGEST policy (arg-max n_chars, low-id tie-break) instead of
    * the arbitrary min-id — the "which duplicate survives" decision a
    * real curation pipeline makes. The oracle re-closes the clusters
    * with the recursive CTE and re-picks with the same policy.
    */
  private def q95ClusterResolve(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = t(s, dir, "documents")
    val clusters = Dedup.dedupClustersClassed(docs, "doc_id", "text", "lang", 0.8)
    Dedup.resolveClusters(clusters,
        docs.select(col("doc_id"), col("n_chars").cast("double").as("score")),
        "doc_id", "score")
      .orderBy(col("cluster_id"))
  }


  /** Inverted index over the document corpus: token → exact doc_freq +
    * the first 20 postings in doc-id order, hapax tail pruned at
    * df ≥ 5. The posting cap applies BEFORE collect_list (windowed
    * row_number over the same token-keyed sort), so no stopword's full
    * posting list is ever materialized.
    */
  private def q102InvertedIndex(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scoring.invertedIndex(t(s, dir, "documents"),
        "doc_id", "text", minDf = 5L, maxPostings = 20)
      .orderBy(col("token"))


  /** Filtered vector search (hybrid metadata + ANN): exact top-k among
    * only the corpus vectors satisfying a metadata predicate — the
    * PRE-filter form. Post-filtering an ANN result k-list loses recall
    * whenever the predicate's survivors are a minority (the classic
    * vector-DB trap); pre-filtering keeps exact recall and pushes the
    * predicate into the parquet scan, so the heap pass reads only the
    * matching fraction of the corpus.
    */
  private def q103FilteredAnn(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = t(s, dir, "embeddings")
    Similarity.bruteForceTopK(emb.filter(col("vec_id") < 20),
        emb.filter(col("label") === 3), "vec_id", "embedding", 5)
      .select(col("query_id"), col("neighbour_id"),
        round(col("cosine_sim"), 6).as("cosine_sim"))
      .orderBy(col("query_id"), col("neighbour_id"))
  }


  /** SemDeDup-style semantic dedup over the embedding corpus: IVF cells
    * from the 8 deterministic seed centroids (`vec_id < 8`, the q43
    * convention), then within-cell cosine dominance — a vector is
    * dropped iff a LOWER-id cell-mate is ≥ 0.40 similar, so the lowest
    * id in each near-duplicate neighbourhood survives. Pairwise work is
    * Σ|cell|², never corpus² (the SemDeDup scaling argument); the
    * oracle restates dominance as one NOT EXISTS over the same cell
    * assignment.
    */
  private def q111SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = t(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    Similarity.semanticDedup(emb, "vec_id", "embedding",
        centroids, "cid", "cvec", threshold = 0.40)
      .select(col("vec_id"), col("cell"))
      .orderBy(col("vec_id"))
  }


  /** Damped PageRank (3 power iterations, d = 0.85) over the
    * symmetrized part–supplier co-purchase graph from lineitem —
    * centrality over a corpus-derived graph, the link-analysis shape a
    * web-scale pipeline runs on its domain/dup graphs. Iterations are
    * constant-size stages with lineage truncated per step
    * ([[graft.operators.Graph.pageRank]]); the oracle unrolls the same
    * three iterations in SQL. Ranks scaled ×1000 before rounding so
    * six decimals keep real precision at N ≈ thousands of nodes.
    */
  private def q113PageRank(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Graph
    // node ids ride the whole iteration machinery as LONGS (even =
    // part 2p, odd = supplier 2s+1) and the namespaced strings are
    // reconstructed only on the final node-sized output — guide §2.3
    // narrower types: every distinct/join/aggregate hashes 8-byte longs
    // instead of "p:…"/"s:…" strings (the dominant CPU in the profile),
    // and the at-scale shuffles carry half the bytes. PageRank has no
    // id-ORDER-dependent logic, so ranks are unchanged (oracle-pinned);
    // q126's label propagation tie-breaks on id order and keeps strings.
    val li = t(s, dir, "lineitem")
      .select((col("l_partkey").cast("long") * 2).as("a"),
        (col("l_suppkey").cast("long") * 2 + 1).as("b"))
    val edges = li.unionByName(li.select(col("b").as("a"), col("a").as("b")))
    Graph.pageRank(edges, "a", "b", iterations = 3, damping = 0.85)
      .select(
        when(col("id").bitwiseAND(1) === 0,
          concat(lit("p:"), shiftright(col("id"), 1)))
          .otherwise(concat(lit("s:"), shiftright(col("id"), 1))).as("id"),
        round(col("pr") * 1000, 6).as("pr_milli"))
      .orderBy(col("id"))
  }


  /** HITS hubs-and-authorities ([[graft.operators.Graph.hits]],
    * Kleinberg '99) over the DIRECTED part→supplier endorsement graph
    * — the link-analysis complement of q113's symmetrized PageRank:
    * parts act as pure hubs (no in-links, authority 0), suppliers as
    * pure authorities (no out-links, hub 0), and two L1-normalized
    * mutual-reinforcement rounds rank suppliers by the hub quality of
    * the parts citing them, not raw in-degree. Fixed iterations + SUM
    * normalization keep every step a join + aggregate + scalar divide
    * the oracle unrolls verbatim (the q113 convention).
    */
  private def q263Hits(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Graph
    // long node ids through the iterations, strings only on the final
    // node-sized output — the q113 encoding (even = part, odd =
    // supplier); HITS has no id-order-dependent logic
    val edges = t(s, dir, "lineitem")
      .select((col("l_partkey").cast("long") * 2).as("a"),
        (col("l_suppkey").cast("long") * 2 + 1).as("b"))
    Graph.hits(edges, "a", "b", iterations = 2)
      .select(
        when(col("id").bitwiseAND(1) === 0,
          concat(lit("p:"), shiftright(col("id"), 1)))
          .otherwise(concat(lit("s:"), shiftright(col("id"), 1))).as("id"),
        round(col("auth") * 1000, 6).as("auth_milli"),
        round(col("hub") * 1000, 6).as("hub_milli"))
      .orderBy(col("id"))
  }


  /** The mining-regime LSH configuration itself, oracle-checked: same
    * near-dup contract as q44 (bigram shingles, threshold 0.5, classed
    * miner) but under [[graft.operators.Dedup.selectiveBanding]] inside
    * a 320-hash budget — r = 3 rows per band instead of autoBanding's
    * r = 2, the banding SURVEY §9.1 adjudicates as the 100 TB default
    * (measured ~4.5× candidate cut at identical output). Banding changes
    * candidate efficiency, never the verified output (miss ≤ 1e-6 at
    * threshold), so the brute-force bigram-Jaccard oracle must match
    * exactly — which is precisely the property that makes the scale
    * configuration safe to adopt.
    */
  private def q114SelectiveLsh(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val (k, b) = Dedup.selectiveBanding(0.5, maxHashes = 320)
    Dedup.minhashDupPairsClassed(t(s, dir, "documents"), "doc_id", "text", "lang", 0.5,
        numHashes = k, bands = b, ngram = 2)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }


  /** Incremental dedup through a persisted-shape MinHash band index:
    * the corpus (doc_id % 5 != 0) is indexed once, then the "new batch"
    * (doc_id % 5 == 0) probes it — corpus-vs-batch near-dup pairs at
    * token Jaccard ≥ 0.9 with exact verification. The oracle brute-
    * forces the cross-pairs; banding miss at the threshold is ≤ 1e-9
    * (autoBanding(0.9) → 16 bands × 3 rows), so the sets must match
    * exactly. The timed query includes the index build — the bench
    * measures both halves of the ingestion cycle.
    */
  private def q115IncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = t(s, dir, "documents")
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val index = Dedup.minhashIndex(corpus, "doc_id", "text", "lang", 0.9)
    Dedup.incrementalDupPairs(batch, corpus, index, "doc_id", "text", "lang", 0.9)
      .select(col("corpus_id"), col("new_id"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("corpus_id"), col("new_id"))
  }


  /** CCNet-style line-level boilerplate removal. The synthetic corpus is
    * single-line, so the query first segments every document into
    * 10-token lines (a deterministic regexp the oracle restates — the
    * segmentation is an input property, the operator takes any
    * delimiter), then drops lines whose normalized content appears in
    * ≥ 2 distinct documents and reassembles the rest in order.
    */
  private def q116LineDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val seg = t(s, dir, "documents").withColumn("text",
      regexp_replace(col("text"), "((?:\\S+ ){9}\\S+) ", "$1\n"))
    Dedup.lineDedup(seg, "doc_id", "text", minDocs = 2)
      .orderBy(col("doc_id"))
  }


  /** Product-quantization encode ([[graft.operators.Pq]]), oracle-
    * checked: codebooks are the 16 lowest-id corpus vectors' subvectors
    * (the deterministic-reference convention q43/q111 use for
    * centroids), so the per-subspace argmin is pure double arithmetic
    * DuckDB restates verbatim — including the lowest-index tie-break.
    * Output is one row per (vector, subspace) with its 4-bit code: the
    * 32x-compressed corpus representation ADC search (q122) scans
    * instead of raw embeddings.
    */
  private def q121PqEncode(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val ref = emb.filter(col("vec_id") < 16).orderBy("vec_id")
      .select(col("embedding")).as[Array[Float]].collect()
    val (m, dsub) = (8, 8)
    val cents = Array.tabulate(m, 16)((sp, j) =>
      java.util.Arrays.copyOfRange(ref(j), sp * dsub, (sp + 1) * dsub))
    Pq.encode(emb, "vec_id", "embedding", Pq.Codebooks(m, dsub, 16, cents)).toDF()
      .select(col("id").as("vec_id"), posexplode(col("code")))
      .select(col("vec_id"), col("pos").as("subspace"), col("col").as("code"))
      .orderBy(col("vec_id"), col("subspace"))
  }


  /** PQ asymmetric-distance search over the trained codebooks
    * ([[graft.operators.Pq.fit]], 5 Lloyd iterations on the
    * deterministic lowest-id sample): ADC shortlists 128 candidates per
    * query off CODES alone, then [[graft.operators.Pq.adcTopKRefined]]
    * re-ranks only those 128 by exact L2 — the FAISS search pipeline.
    * Training is engine-side k-means, so the CROSS-ENGINE row is the
    * BANDED comparison table: DuckDB restates the exact L2 top-10 per
    * query (md5 of the rank-ordered id list via `list_distance`) and
    * the `recall_ok` verdict asserts the refined PQ result recovers
    * ≥ 0.7 of that exact set — a codebook/encode/ADC regression drops
    * recall and fails the hash gate. PqSpec additionally pins the ADC
    * arithmetic against table-free reconstruction distances exactly.
    */
  private def q122PqAdc(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    val emb = t(s, dir, "embeddings")
    val cb = Pq.fit(emb, "vec_id", "embedding", m = 8, ksub = 16, iters = 5)
    val codes = Pq.encode(emb, "vec_id", "embedding", cb)
    val queries = emb.filter(col("vec_id") < 5)
    val refined = Pq
      .adcTopKRefined(queries, emb, codes, "vec_id", "embedding", cb,
        k = 10, shortlist = 128)
      .select(col("query_id"), col("neighbor_id"))
    bandedRecallVsExactL2(emb, queries, refined, hitFloor = 7)
  }


  /** The banded-recall comparison table shared by q122/q152: DuckDB
    * restates the exact L2 top-10 per query (self included, matching
    * the ADC corpus scans; same double ascending-dimension arithmetic
    * as `list_distance`); `recall_ok` asserts the approximate result
    * recovered ≥ `hitFloor` of those 10.
    */
  private def bandedRecallVsExactL2(emb: DataFrame, queries: DataFrame,
                                    approx: DataFrame, hitFloor: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = queries.select(col("vec_id").cast("long").as("query_id"),
      col("embedding").as("__qv"))
    val cv = emb.select(col("vec_id").cast("long").as("neighbor_id"),
      col("embedding").as("__nv"))
    val exact = broadcast(qv).join(cv)
      .withColumn("__d", aggregate(
        zip_with(col("__qv"), col("__nv"), (a, b) => {
          val d = a.cast("double") - b.cast("double")
          d * d
        }),
        lit(0.0), (acc, x) => acc + x))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("__d").asc, col("neighbor_id").asc)))
      .filter(col("rank") <= 10)
    val exactAgg = exact.groupBy(col("query_id"))
      .agg(md5(concat_ws(",",
        transform(array_sort(collect_list(struct(col("rank"), col("neighbor_id")))),
          x => x.getField("neighbor_id").cast("string")))).as("exact_top10_md5"))
    val hits = approx
      .join(exact.select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("__n_hit"))
    exactAgg.join(hits, Seq("query_id"), "left")
      .select(col("query_id"), col("exact_top10_md5"),
        (coalesce(col("__n_hit"), lit(0L)) >= lit(hitFloor.toLong)).as("recall_ok"))
      .orderBy(col("query_id"))
  }


  /** Retrieval-quality evaluation ([[graft.operators.Retrieval]]):
    * P@10 / R@10 / MRR / nDCG@10 of exact cosine top-10 against
    * label-match relevance — the eval loop every retrieval index
    * change reruns. The ranking is the q27 convention (cosine desc,
    * id asc), judgments are same-label pairs (grade 1), and the
    * oracle restates the whole metric arithmetic — DCG logs included
    * — in SQL.
    */
  private def q123RetrievalMetrics(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Retrieval, Similarity}
    import org.apache.spark.sql.expressions.Window
    val emb = t(s, dir, "embeddings")
    val results = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 10)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine_sim").desc, col("neighbour_id").asc)))
    val labels = emb.select(col("vec_id"), col("label"))
    val judgments = labels.filter(col("vec_id") < 5).as("q")
      .join(labels.as("c"),
        col("q.label") === col("c.label") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbour_id"),
        lit(1.0).as("grade"))
    Retrieval.rankingMetrics(results, judgments,
        "query_id", "neighbour_id", "rank", "grade", k = 10)
      .select(col("query_id"), col("n_relevant_total"), col("n_relevant_retrieved"),
        round(col("precision_k"), 6).as("precision_k"),
        round(col("recall_k"), 6).as("recall_k"),
        round(col("mrr"), 6).as("mrr"),
        round(col("ndcg"), 6).as("ndcg"))
      .orderBy(col("query_id"))
  }


  /** Synchronous label propagation ([[graft.operators.Graph
    * .labelPropagation]]) over the q113 symmetrized part–supplier
    * graph, 2 iterations — community detection on a corpus-derived
    * graph with the deterministic schedule (sync + smallest-label
    * ties) that lets the oracle unroll both iterations in SQL.
    */
  private def q126LabelProp(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Graph
    val li = t(s, dir, "lineitem")
      .select(concat(lit("p:"), col("l_partkey")).as("a"),
        concat(lit("s:"), col("l_suppkey")).as("b"))
    val edges = li.unionByName(li.select(col("b").as("a"), col("a").as("b")))
    Graph.labelPropagation(edges, "a", "b", iterations = 2)
      .orderBy(col("id"))
  }


  /** Triangle counts + local clustering coefficient over the part
    * co-order graph (parts sharing an order are linked) — cohesion
    * scoring for corpus graphs via [[graft.operators.Graph.triangleCounts]]'
    * degree-oriented wedge mining: O(m^{3/2}) wedge volume regardless of
    * hub skew, each triangle found once at its lowest-(degree,id) apex.
    * Exact, so the oracle brute-forces ordered triangles x<y<z with
    * three edge joins.
    */
  private def q129Triangles(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Graph
    val ps = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val edges = ps.as("x").join(ps.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b"))
    Graph.triangleCounts(edges, "a", "b")
      .select(col("id").as("part_id"), col("degree"), col("triangles"),
        round(col("lcc"), 6).as("lcc"))
      .orderBy(col("part_id"))
  }


  /** Hard-negative mining ([[graft.operators.Retrieval.hardNegatives]],
    * the DPR/ANCE recipe): top-20 exact candidates per query minus the
    * label-match positives, first 5 survivors re-ranked — the
    * contrastive-training byproduct of the q123 evaluation setup.
    * Fully deterministic (q27 ordering convention), so the oracle
    * restates the whole mine in SQL.
    */
  private def q132HardNegatives(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Retrieval, Similarity}
    import org.apache.spark.sql.expressions.Window
    val emb = t(s, dir, "embeddings")
    val results = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 20)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine_sim").desc, col("neighbour_id").asc)))
    val labels = emb.select(col("vec_id"), col("label"))
    val positives = labels.filter(col("vec_id") < 5).as("q")
      .join(labels.as("c"),
        col("q.label") === col("c.label") && col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbour_id"))
    Retrieval.hardNegatives(results, positives,
        "query_id", "neighbour_id", "rank", n = 5)
      .select(col("query_id"), col("neg_rank").cast("long").as("neg_rank"),
        col("neighbour_id"), round(col("cosine_sim"), 6).as("cosine_sim"))
      .orderBy(col("query_id"), col("neg_rank"))
  }


  /** Bounded k-core peeling ([[graft.operators.Graph.kCore]]) over the
    * part co-order graph: two rounds of delete-degree-<90, surviving
    * subgraph degrees out — the dense-core extractor for corpus
    * graphs, oracle-checked by unrolling both peels in SQL.
    */
  private def q139Kcore(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Graph
    val ps = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      .distinct()
    val edges = ps.as("x").join(ps.as("y"),
        col("x.o") === col("y.o") && col("x.p") < col("y.p"))
      .select(col("x.p").as("a"), col("y.p").as("b"))
    Graph.kCore(edges, "a", "b", k = 90, rounds = 2)
      .select(col("id").as("part_id"), col("degree"))
      .orderBy(col("part_id"))
  }


  /** Hybrid search via Reciprocal Rank Fusion
    * ([[graft.operators.Retrieval.rrfFusion]]): a lexical run (TOKEN-
    * KEYED distinct-token overlap — the inverted-index join shape, so
    * the cost is corpus-tokens × per-token query hits, never a
    * queries × corpus product; a doc sharing no token is simply not
    * retrieved, exactly like a posting-list scan) and a vector run
    * (exact cosine top-20, q27 convention) fused at k = 60 — no score
    * calibration across the two retrievers, the SIGIR 2009 recipe.
    * Every rank and the fusion arithmetic are deterministic, so the
    * oracle replays both runs and the merge exactly.
    */
  private def q141RrfFusion(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Retrieval, Similarity}
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        array_distinct(filter(split(lower(trim(col("text"))), " "),
          t => t =!= lit(""))).as("toks"))
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("toks").as("qtoks"))
    // inverted-index lexical run: corpus tokens shuffle once by token,
    // query tokens broadcast (bounded query set — the contract every
    // bounded-broadcast site in this codebase documents), overlap =
    // count of shared posting hits per (query, doc)
    val qtokens = queries.select(col("query_id"), explode(col("qtoks")).as("token"))
    val dtokens = docs.select(col("doc_id"), explode(col("toks")).as("token"))
    val lexical = dtokens.join(broadcast(qtokens), Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("overlap"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("overlap").desc, col("doc_id").asc)))
      .filter(col("rank") <= 20)
    val emb = t(s, dir, "embeddings")
    val vector = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 20)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine_sim").desc, col("neighbour_id").asc)))
      .select(col("query_id"), col("neighbour_id").as("doc_id"), col("rank"))
    Retrieval.rrfFusion(Seq(lexical.select("query_id", "doc_id", "rank"), vector),
        "query_id", "doc_id", "rank", k = 60, topN = 10)
      .select(col("query_id"), col("fused_rank").cast("long").as("fused_rank"),
        col("doc_id"), round(col("rrf_score"), 6).as("rrf_score"), col("n_runs"))
      .orderBy(col("query_id"), col("fused_rank"))
  }


  /** Topic labels for embedding clusters
    * ([[graft.operators.Scoring.clusterLabels]]): q43's deterministic
    * reference-centroid assignment joined back to document text, each
    * cluster labeled by its doc-frequency-lift top tokens — the
    * catalog step that turns opaque cell ids into auditable themes.
    * Assignment, counts, lift and ranks are all deterministic, so the
    * oracle replays the whole pipeline.
    */
  private def q142ClusterLabels(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Scoring, Similarity}
    val emb = t(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val assign = Similarity.ivfAssign(emb, "vec_id", "embedding",
        centroids, "cid", "cvec")
      .select(col("vec_id"), col("cell"))
    Scoring.clusterLabels(assign, "vec_id", "cell",
        t(s, dir, "documents"), "doc_id", "text", topN = 5, minDocs = 3)
      .select(col("cluster"), col("lift_rank").cast("long").as("lift_rank"),
        col("token"), col("df_c"), round(col("lift"), 6).as("lift"))
      .orderBy(col("cluster"), col("lift_rank"))
  }


  /** Exact substring dedup ([[graft.operators.Dedup.duplicateSpans]],
    * the Lee et al. 2022 ExactSubstr shape): maximal character spans
    * whose every 20-char window repeats somewhere in the corpus — the
    * arbitrary-length dedup rung between q65's fixed-token spans and
    * q116's whole lines. Gram hashing, occurrence counting and the
    * gaps-and-islands merge are all deterministic, so the oracle
    * replays the pipeline verbatim (substr + md5 + row_number).
    */
  private def q147SubstringDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    Dedup.duplicateSpans(t(s, dir, "documents"), "doc_id", "text", minLen = 20)
      .select(col("id").as("doc_id"), col("span_start"), col("span_end"),
        col("span_len"))
      .orderBy(col("doc_id"), col("span_start"))
  }


  /** The ExactSubstr CUT step ([[graft.operators.Dedup.cutSpans]]) over
    * q147's duplicated spans with the drop-all-copies policy — the
    * decontamination-grade surgery that turns the span REPORT into a
    * cleaned corpus. Splice arithmetic is deterministic, so the oracle
    * replays span detection, the gap/tail reconstruction, and both
    * accounting columns exactly.
    */
  private def q151SubstringCut(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    val docs = t(s, dir, "documents")
    val spans = Dedup.duplicateSpans(docs, "doc_id", "text", minLen = 20)
    Dedup.cutSpans(docs, "doc_id", "text", spans)
      .select(col("id").as("doc_id"), md5(col("text_clean")).as("clean_md5"),
        col("n_spans"), col("chars_removed"))
      .orderBy(col("doc_id"))
  }


  /** The full FAISS IVFPQ search pipeline
    * ([[graft.operators.Pq.ivfPqTopK]]): coarse cells (the q142
    * lowest-id centroid convention), RESIDUAL PQ codes per member,
    * ADC over only the 4 probed cells' codes per query, exact re-rank
    * of the 128 survivors — the architecture that at 100 TB scans a
    * compressed fraction of the corpus instead of raw vectors.
    * Training is engine-side, so the q122 banded pattern applies:
    * DuckDB restates the exact L2 top-10 id-list md5, `recall_ok`
    * asserts ≥ 0.7 recall through BOTH approximation layers (cell
    * probing and PQ), asserted TRUE.
    */
  private def q152IvfPq(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Pq
    val emb = t(s, dir, "embeddings")
    val centroids = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    val queries = emb.filter(col("vec_id") < 5)
    val hits = Pq.ivfPqTopK(queries, emb, "vec_id", "embedding",
        centroids, "cid", "cvec", m = 8, ksub = 16, iters = 5,
        k = 10, nProbe = 4, shortlist = 128)
      .select(col("query_id"), col("neighbor_id"))
    bandedRecallVsExactL2(emb, queries, hits, hitFloor = 7)
  }


  /** Content-defined chunking
    * ([[graft.operators.Chunking.contentDefinedChunks]], the
    * FastCDC/gear-hash base form, window 8 / modulus 64 ⇒ ~64-char
    * expected chunks): boundaries fall where windowed content hashes
    * hit the modulus condition, so edits shift ONE chunk instead of
    * re-aligning every fixed-width chunk after them — the chunk
    * fingerprints downstream chunk-level dedup joins on. Hash rule and
    * segment assembly are exact arithmetic the oracle replays verbatim
    * (q130's hash-prefix convention).
    */
  private def q157CdcChunks(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Chunking
    Chunking.contentDefinedChunks(t(s, dir, "documents"), "doc_id", "text",
        window = 8, modulus = 64)
      .select(col("id").as("doc_id"), col("chunk_idx"), col("chunk_start"),
        col("chunk_len"), col("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }


  /** Record linkage under transposition noise
    * ([[graft.operators.FuzzyJoin.jaroWinklerLinkage]]): every customer
    * name deterministically corrupted by an adjacent-digit swap at
    * position `10 + key % 8` (the typo/OCR error model Jaro's
    * transposition term exists for), then matched back to the clean
    * roster — sorted-character blocking (provably lossless for swap
    * noise), codegen'd DuckDB-parity [[graft.expressions.JaroWinkler]]
    * scoring, top-1 per dirty record by ppm-quantized score with id
    * tie-break. Anagram customers (same digit multiset) make real
    * ambiguity: when the swap lands on the last two digits the corrupt
    * form IS another customer's clean name and linkage correctly
    * prefers the exact hit — the oracle replays blocking, DuckDB's own
    * `jaro_winkler_similarity`, quantization, and the tie-break.
    */
  private def q158RecordLinkage(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.FuzzyJoin
    val cust = t(s, dir, "customer")
    val dirty = cust.select(col("c_custkey").as("dirty_id"),
      expr("""concat(substr(c_name, 1, cast(10 + c_custkey % 8 as int) - 1),
             |       substr(c_name, cast(10 + c_custkey % 8 as int) + 1, 1),
             |       substr(c_name, cast(10 + c_custkey % 8 as int), 1),
             |       substr(c_name, cast(10 + c_custkey % 8 as int) + 2))""".stripMargin)
        .as("dirty_name"))
    FuzzyJoin.jaroWinklerLinkage(dirty, "dirty_id", "dirty_name",
        cust, "c_custkey", "c_name", minScorePpm = 850000L)
      .orderBy(col("dirty_id"))
  }


  /** Leakage-safe train/val/test split
    * ([[graft.operators.Sampling.leakageSafeSplit]]): near-dup clusters
    * (q49's classed-Jaccard components) assign splits by cluster
    * REPRESENTATIVE, so no near-duplicate pair ever straddles
    * train/test — the contamination a plain per-doc hash split (q45)
    * silently permits. Doc-level output pins every assignment; the
    * oracle recomputes components via recursive SQL and replays the
    * md5 bucket arithmetic on the representative.
    */
  private def q159LeakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Dedup, Sampling}
    val docs = t(s, dir, "documents")
    val clusters = Dedup.dedupClustersClassed(docs, "doc_id", "text", "lang", 0.8)
    Sampling.leakageSafeSplit(docs, "doc_id", clusters,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("rep_id"), col("split"))
      .orderBy(col("doc_id"))
  }


  /** Matryoshka truncation evaluation: exact cosine top-10 under the
    * full 64-dim embedding vs exact top-10 under the first 16 dims
    * (the MRL deployment question — how much recall does a 4×-cheaper
    * prefix keep?). Output: per query, the overlap count of the two
    * neighbour sets — pure integers once both exact top-10s are fixed,
    * and the oracle recomputes both rankings with DuckDB list slicing.
    */
  private def q167MatryoshkaRecall(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = t(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 20)
    val full = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbour_id"))
    val trunc = Similarity.bruteForceTopK(
        queries.withColumn("embedding", slice(col("embedding"), 1, 16)),
        emb.withColumn("embedding", slice(col("embedding"), 1, 16)),
        "vec_id", "embedding", 10)
      .select(col("query_id"), col("neighbour_id"))
    full.join(trunc, Seq("query_id", "neighbour_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("hits_at_10"))
      .orderBy(col("query_id"))
  }


  /** Corpus datacard ([[graft.pipeline.CorpusCuration.dataCard]]): the
    * per-language release summary — volume, shape, and near-dup
    * hygiene in one exact-aggregate table, every cell restated by the
    * oracle (token stats in SQL, dup membership via the recursive q49
    * component machinery's pair set).
    */
  private def q171Datacard(s: SparkSession, dir: String): DataFrame =
    graft.pipeline.CorpusCuration.dataCard(
        t(s, dir, "documents"), "doc_id", "text", "lang")
      .orderBy(col("lang"))


  /** Asymmetric containment pairs
    * ([[graft.operators.Dedup.containmentPairs]]): both directional
    * containments over distinct word-2-gram shingles, blocked by lang,
    * kept where either direction ≥ 0.4 — Broder '97's second measure,
    * the one that catches a short document embedded verbatim in a long
    * one (resemblance misses it; MinHash cannot estimate it). The
    * oracle restates the shingle inverted index and both ratios in SQL.
    */
  private def q174ContainmentPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    Dedup.containmentPairs(t(s, dir, "documents"), "doc_id", "text",
        "lang", n = 2, threshold = 0.4)
      .select(col("id_a"), col("id_b"),
        round(col("cont_a"), 6).as("cont_a"),
        round(col("cont_b"), 6).as("cont_b"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }


  /** Containment-dedup survivor set
    * ([[graft.operators.Dedup.containmentDedup]]): documents whose
    * 2-gram shingle set is ≥ 0.4 contained in a larger document are
    * dropped per qualifying edge (containment is not transitive — no
    * component collapse), exact-size ties dropping the larger id. The
    * oracle replays the edge-side drop rule over the q174 pair SQL.
    */
  private def q175ContainmentDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    Dedup.containmentDedup(t(s, dir, "documents"), "doc_id", "text",
        "lang", n = 2, threshold = 0.4)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy(col("doc_id"))
  }


  /** MMR diversification ([[graft.operators.Retrieval.mmrDiversify]],
    * Carbonell-Goldstein '98): exact top-10 cosine candidates per query
    * (5 queries), greedily re-ranked to 5 diverse results at λ = 0.7.
    * The greedy rounds are pure max/compare over 6-dp-quantized cosines
    * (q26's parity bound) with 9-dp score quantization, so the oracle
    * unrolls the same five argmax rounds in SQL and hash-matches.
    */
  private def q188MmrDiversify(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Retrieval, Similarity}
    val emb = t(s, dir, "embeddings")
    val cands = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 10)
      .join(emb.select(col("vec_id").as("neighbour_id"), col("embedding")),
        Seq("neighbour_id"))
    // mmr_score stays at the operator's 9-dp quantization: re-rounding
    // a quantized decimal to fewer places parks ~10% of values exactly
    // on the half boundary, where engines' round implementations
    // legitimately disagree (double-rounding hazard)
    Retrieval.mmrDiversify(cands, "query_id", "neighbour_id", "cosine_sim",
        "embedding", lambda = 0.7, k = 5)
      .select(col("query_id"), col("mmr_rank"),
        col("neighbour_id").as("doc_id"), col("mmr_score"))
      .orderBy(col("query_id"), col("mmr_rank"))
  }


  /** Rank-Biased Overlap ([[graft.operators.Retrieval.rankBiasedOverlap]],
    * Webber '10): agreement between the exact cosine run and the
    * token-overlap lexical run from q141's machinery, truncated at
    * k = 10, p = 0.9 — top-weighted, unlike set overlap. Exact
    * geometric arithmetic the oracle restates per depth.
    */
  private def q192Rbo(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Retrieval, Similarity}
    import org.apache.spark.sql.expressions.Window
    val emb = t(s, dir, "embeddings")
    val vector = Similarity
      .bruteForceTopK(emb.filter(col("vec_id") < 5), emb, "vec_id", "embedding", 10)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine_sim").desc, col("neighbour_id").asc)))
      .select(col("query_id"), col("neighbour_id").as("doc_id"), col("rank"))
    val docs = t(s, dir, "documents")
      .select(col("doc_id"),
        array_distinct(filter(split(lower(trim(col("text"))), " "),
          t => t =!= lit(""))).as("toks"))
    val queries = docs.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), explode(col("toks")).as("token"))
    val lexical = docs.select(col("doc_id"), explode(col("toks")).as("token"))
      .join(broadcast(queries), Seq("token"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("overlap"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("overlap").desc, col("doc_id").asc)))
      .filter(col("rank") <= 10)
    Retrieval.rankBiasedOverlap(vector, lexical,
        "query_id", "doc_id", "rank", k = 10, p = 0.9)
      .select(col("query_id"), round(col("rbo"), 6).as("rbo"))
      .orderBy(col("query_id"))
  }


  /** Semantic decontamination
    * ([[graft.operators.Similarity.semanticDecontaminate]]): training
    * vectors (vec_id ≥ 20) too close to any held-out eval vector
    * (vec_id < 20) at cosine ≥ 0.35 — the paraphrase-leakage
    * complement to q74's n-gram decontamination. Exact cosines, eval
    * side broadcast, per-train argmax windowed by train id.
    */
  private def q196SemanticDecontam(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Similarity
    val emb = t(s, dir, "embeddings")
    Similarity.semanticDecontaminate(
        emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", threshold = 0.35)
      .select(col("vec_id"), col("eval_id"), round(col("cosine"), 6).as("cosine"))
      .orderBy(col("vec_id"))
  }


  /** MOSS winnowed-overlap pairs
    * ([[graft.operators.Dedup.winnowedOverlapPairs]]): documents
    * sharing ≥ 2 winnowing fingerprints (k = 3, w = 4) — the local
    * copied-paragraph detector; md5-portable winnowing replayed in
    * full by the oracle (gram hash, window minima, distinct set,
    * fingerprint join, pair counts).
    */
  private def q197WinnowedPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    Dedup.winnowedOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
        "lang", k = 3, w = 4, minShared = 2)
      .orderBy(col("id_a"), col("id_b"))
  }


  /** Near-dup mining through the Unicode tokenizer seam
    * ([[graft.operators.Dedup.jaccardPairsClassed]] with
    * [[graft.functions.Tokenize.Unicode]]): q23's classed Jaccard
    * miner with UAX#29 segmentation in place of whitespace split — on
    * CJK/Thai text whitespace "tokens" are whole clauses and near-dup
    * Jaccard silently collapses to exact-match (spec-pinned: a Chinese
    * near-dup pair scores 0 under whitespace, qualifies under
    * Unicode). Both modes agree bit-for-bit on the space-separated
    * ASCII oracle corpus, so the q23 brute-force oracle applies
    * UNCHANGED — the green row pins the seam as a drop-in.
    */
  private def q216UnicodeDedup(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Dedup
    import graft.functions.Tokenize
    Dedup.jaccardPairsClassed(t(s, dir, "documents"), "doc_id", "text", "lang",
        0.95, ngram = 1, mode = Tokenize.Unicode)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }


  /** Margin-based bitext mining ([[graft.operators.Bitext.marginMine]],
    * Artetxe & Schwenk '19 ratio margin): a bounded mining batch (even
    * vec_ids < 200, the incremental-alignment form) scored against the
    * odd-id side — forward top-4 by cosine, backward top-4 for the
    * candidates, margin = cos / mean of the two neighbourhood
    * averages, mutual-best both ways, threshold 1.0. Candidate
    * generation is the per-partition-heap exact top-k (query sets
    * bounded: 100 fwd, ≤400 bwd — the q27 collect contract; LSH/IVF
    * generators are the full-corpus 100 TB path, drop-in by column
    * contract). The oracle replays the entire construction — top-k
    * windows with the same (cos desc, id asc) tie-break, averages,
    * symmetric margins, two best-of windows, the mutual join.
    */
  private def q220BitextMargin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Bitext, Similarity}
    val emb = t(s, dir, "embeddings")
    val batch = emb.filter(col("vec_id") % 2 === 0 && col("vec_id") < 200)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    val fwd = Similarity.bruteForceTopK(batch, tgt, "vec_id", "embedding", 4)
    val bwdQueries = emb.join(
      fwd.select(col("neighbour_id").as("vec_id")).distinct(), "vec_id")
    val bwd = Similarity.bruteForceTopK(bwdQueries, batch, "vec_id", "embedding", 4)
    Bitext.marginMine(fwd, bwd, 1.0)
      .select(col("src_id"), col("tgt_id"),
        round(col("cosine_sim"), 6).as("cosine_sim"),
        round(col("margin"), 6).as("margin"))
      .orderBy(col("src_id"), col("tgt_id"))
  }


  /** q167's exact-ranking CTE body over an optional list slice. */
  private def matryoshkaRankSql(sliceExpr: String): String =
    s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
       |  row_number() OVER (PARTITION BY q.vec_id
       |    ORDER BY list_cosine_similarity(q.e$sliceExpr, c.e$sliceExpr) DESC,
       |             c.vec_id ASC) AS rn
       | FROM qf q JOIN cf c ON q.vec_id <> c.vec_id""".stripMargin


  /** Shared brute-force oracle for q23 (exact) and q24 (MinHash LSH +
    * exact verify): both must produce the identical pair set.
    */
  /** Brute-force token-set Jaccard pairs within lang blocks at a given
    * threshold — the shared subquery behind the q23/q24 oracle and the
    * q49 connected-components oracle.
    */
  /** Brute-force bigram-shingle Jaccard pairs at threshold 0.5 — the
    * shared oracle for q44 (autoBanding) and q114 (selectiveBanding):
    * banding must never change the verified pair set.
    */
  /** q188's oracle: the five greedy MMR argmax rounds unrolled as SQL
    * CTEs — same λ literal, same IEEE (1 − λ), same 6-dp cosine / 9-dp
    * score quantization, same doc-id tie-break as the engine.
    */
  private val mmrOracle: String = {
    val lam = "CAST(0.7 AS DOUBLE)"
    val mu = s"(1 - $lam)"
    val head =
      s"""WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
         |cand AS (SELECT qid, did, rel FROM (
         | SELECT q.vec_id AS qid, c.vec_id AS did,
         |  round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS rel,
         |  row_number() OVER (PARTITION BY q.vec_id
         |    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
         |             c.vec_id ASC) AS rn
         | FROM q JOIN embeddings c ON q.vec_id <> c.vec_id) t WHERE rn <= 10),
         |sims AS (SELECT a.qid, a.did, b.did AS db,
         |  round(list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]), 6) AS sim
         | FROM cand a JOIN cand b ON a.qid = b.qid AND a.did <> b.did
         | JOIN embeddings ea ON ea.vec_id = a.did
         | JOIN embeddings eb ON eb.vec_id = b.did),
         |p1 AS (SELECT qid, did, round($lam * rel - $mu * 0.0, 9) AS score,
         |  row_number() OVER (PARTITION BY qid
         |    ORDER BY round($lam * rel - $mu * 0.0, 9) DESC, did ASC) AS rn FROM cand),
         |s1 AS (SELECT qid, did, 1 AS mmr_rank, score FROM p1 WHERE rn = 1),
         |sel1 AS (SELECT qid, did FROM s1)""".stripMargin
    val rounds = (2 to 5).map { i =>
      s"""r$i AS (SELECT c.* FROM cand c WHERE NOT EXISTS (
         |  SELECT 1 FROM sel${i - 1} s WHERE s.qid = c.qid AND s.did = c.did)),
         |pen$i AS (SELECT s.qid, s.did, max(s.sim) AS pen
         |  FROM sims s JOIN sel${i - 1} x ON s.qid = x.qid AND s.db = x.did
         |  GROUP BY 1, 2),
         |p$i AS (SELECT r.qid, r.did,
         |  round($lam * r.rel - $mu * coalesce(p.pen, 0.0), 9) AS score,
         |  row_number() OVER (PARTITION BY r.qid
         |    ORDER BY round($lam * r.rel - $mu * coalesce(p.pen, 0.0), 9) DESC,
         |             r.did ASC) AS rn
         |  FROM r$i r LEFT JOIN pen$i p ON r.qid = p.qid AND r.did = p.did),
         |s$i AS (SELECT qid, did, $i AS mmr_rank, score FROM p$i WHERE rn = 1),
         |sel$i AS (SELECT qid, did FROM sel${i - 1} UNION ALL SELECT qid, did FROM s$i)""".stripMargin
    }.mkString(",\n", ",\n", "")
    val tail =
      """
        |SELECT qid AS query_id, CAST(mmr_rank AS BIGINT) AS mmr_rank,
        | did AS doc_id, score AS mmr_score
        |FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL
        |      SELECT * FROM s3 UNION ALL SELECT * FROM s4 UNION ALL
        |      SELECT * FROM s5) u
        |ORDER BY query_id, mmr_rank""".stripMargin
    head + rounds + tail
  }


  /** Shared CTE prefix for the q174/q175 oracles: the 2-gram shingle
    * inverted index (q44's oracle shape) extended with both directional
    * containment ratios, `qual` = pairs where either direction ≥ 0.4.
    */
  private val containmentPairsSql: String =
    """WITH g AS (
      | SELECT doc_id, lang,
      |  list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS grams
      | FROM (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS toks FROM documents) t
      |), tok AS (SELECT doc_id, lang, unnest(grams) AS g2 FROM g),
      |sz AS (SELECT doc_id, len(grams) AS n FROM g),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |          FROM tok a JOIN tok b ON a.g2 = b.g2 AND a.lang = b.lang AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |qual AS (
      | SELECT id_a, id_b, shared, sa.n AS na, sb.n AS nb,
      |  shared * 1.0 / sa.n AS ca, shared * 1.0 / sb.n AS cb
      | FROM pairs JOIN sz sa ON id_a = sa.doc_id JOIN sz sb ON id_b = sb.doc_id
      | WHERE greatest(shared * 1.0 / sa.n, shared * 1.0 / sb.n) >= 0.4)""".stripMargin


  private val ngramJaccardOracle: String =
    """WITH g AS (
      | SELECT doc_id, lang,
      |  list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])) AS grams
      | FROM (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS toks FROM documents) t
      |), tok AS (SELECT doc_id, lang, unnest(grams) AS g2 FROM g),
      |sz AS (SELECT doc_id, len(grams) AS n FROM g),
      |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
      |          FROM tok a JOIN tok b ON a.g2 = b.g2 AND a.lang = b.lang AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
      |FROM pairs
      |JOIN sz sa ON id_a = sa.doc_id
      |JOIN sz sb ON id_b = sb.doc_id
      |WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin


  private def jaccardPairsSql(threshold: String): String =
    s"""SELECT id_a, id_b, shared * 1.0 / (na + nb - shared) AS jaccard
       |FROM (
       | SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
       | FROM (SELECT doc_id, lang, unnest(list_distinct(string_split(lower(trim(text)), ' '))) AS token FROM documents) a
       | JOIN (SELECT doc_id, lang, unnest(list_distinct(string_split(lower(trim(text)), ' '))) AS token FROM documents) b
       |   ON a.token = b.token AND a.lang = b.lang AND a.doc_id < b.doc_id
       | GROUP BY 1, 2) p
       |JOIN (SELECT doc_id, len(list_distinct(string_split(lower(trim(text)), ' '))) AS na FROM documents) sa ON p.id_a = sa.doc_id
       |JOIN (SELECT doc_id, len(list_distinct(string_split(lower(trim(text)), ' '))) AS nb FROM documents) sb ON p.id_b = sb.doc_id
       |WHERE shared * 1.0 / (na + nb - shared) >= $threshold""".stripMargin


  private val jaccardOracle: String =
    s"""SELECT id_a, id_b, round(jaccard, 6) AS jaccard
       |FROM (${jaccardPairsSql("0.95")}) pairs
       |ORDER BY id_a, id_b""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q22_dedup_exact" -> (q22DedupExact _),
    "q23_jaccard_pairs" -> (q23JaccardPairs _),
    "q24_minhash_lsh" -> (q24MinhashLsh _),
    "q25_simhash" -> (q25Simhash _),
    "q26_cosine_pairs" -> (q26CosinePairs _),
    "q27_ann_topk" -> (q27AnnTopK _),
    "q28_ann_lsh" -> (q28AnnLsh _),
    "q43_ivf_assign" -> (q43IvfAssign _),
    "q44_ngram_jaccard" -> (q44NgramJaccard _),
    "q49_dedup_components" -> (q49DedupComponents _),
    "q57_bm25" -> (q57Bm25 _),
    "q58_quantize_int8" -> (q58QuantizeInt8 _),
    "q60_contamination" -> (q60Contamination _),
    "q65_span_dedup" -> (q65SpanDedup _),
    "q66_kmeans_step" -> (q66KmeansStep _),
    "q73_tfidf" -> (q73TfIdf _),
    "q74_ngram_decontaminate" -> (q74NgramDecontaminate _),
    "q85_edit_distance" -> (q85EditDistancePairs _),
    "q89_random_projection" -> (q89RandomProjection _),
    "q90_ivf_topk" -> (q90IvfTopK _),
    "q95_cluster_resolve" -> (q95ClusterResolve _),
    "q102_inverted_index" -> (q102InvertedIndex _),
    "q103_filtered_ann" -> (q103FilteredAnn _),
    "q111_semantic_dedup" -> (q111SemanticDedup _),
    "q113_pagerank" -> (q113PageRank _),
    "q263_hits" -> (q263Hits _),
    "q114_selective_lsh" -> (q114SelectiveLsh _),
    "q115_incremental_dedup" -> (q115IncrementalDedup _),
    "q116_line_dedup" -> (q116LineDedup _),
    "q121_pq_encode" -> (q121PqEncode _),
    "q122_pq_adc" -> (q122PqAdc _),
    "q123_retrieval_metrics" -> (q123RetrievalMetrics _),
    "q126_label_prop" -> (q126LabelProp _),
    "q129_triangles" -> (q129Triangles _),
    "q132_hard_negatives" -> (q132HardNegatives _),
    "q139_kcore" -> (q139Kcore _),
    "q141_rrf_fusion" -> (q141RrfFusion _),
    "q142_cluster_labels" -> (q142ClusterLabels _),
    "q147_substring_dedup" -> (q147SubstringDedup _),
    "q151_substring_cut" -> (q151SubstringCut _),
    "q152_ivfpq" -> (q152IvfPq _),
    "q157_cdc_chunks" -> (q157CdcChunks _),
    "q158_record_linkage" -> (q158RecordLinkage _),
    "q159_leakage_safe_split" -> (q159LeakageSafeSplit _),
    "q167_matryoshka_recall" -> (q167MatryoshkaRecall _),
    "q171_datacard" -> (q171Datacard _),
    "q174_containment_pairs" -> (q174ContainmentPairs _),
    "q175_containment_dedup" -> (q175ContainmentDedup _),
    "q188_mmr_diversify" -> (q188MmrDiversify _),
    "q192_rbo" -> (q192Rbo _),
    "q196_semantic_decontam" -> (q196SemanticDecontam _),
    "q197_winnowed_pairs" -> (q197WinnowedPairs _),
    "q216_unicode_dedup" -> (q216UnicodeDedup _),
    "q220_bitext_margin" -> (q220BitextMargin _))

  def oracleSql: Map[String, String] = Map(
    "q22_dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS fingerprint,
        | min(doc_id) AS keep_id, count(*) AS group_size
        |FROM documents
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q23_jaccard_pairs" -> jaccardOracle,
    "q24_minhash_lsh" -> jaccardOracle,
    // q25: rebuild the md5-based 64-bit SimHash signature bit by bit
    // (two 32-bit halves — BIGINT-safe) and brute-force ALL pairs; the
    // engine's segment blocking has exact recall at maxDistance=3, so
    // the pair sets must match exactly, not approximately
    "q25_simhash" ->
      """WITH th AS (
        | SELECT doc_id,
        |  CAST(('0x' || substring(md5(tok), 1, 8)) AS BIGINT) AS hi,
        |  CAST(('0x' || substring(md5(tok), 9, 8)) AS BIGINT) AS lo
        | FROM (SELECT doc_id, unnest(list_distinct(string_split(lower(trim(text)), ' '))) AS tok
        |       FROM documents) u
        | WHERE tok <> ''),
        |sums AS (
        | SELECT doc_id, j,
        |  sum(CASE WHEN ((CASE WHEN j < 32 THEN (lo >> j) ELSE (hi >> (j - 32)) END) & 1) = 1
        |           THEN 1 ELSE -1 END) AS s
        | FROM th, generate_series(0, 63) g(j)
        | GROUP BY 1, 2),
        |sig AS (
        | SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 AND j < 32 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS sig_lo,
        |  CAST(sum(CASE WHEN s > 0 AND j >= 32 THEN (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END) AS BIGINT) AS sig_hi
        | FROM sums GROUP BY 1)
        |SELECT id_a, id_b, hamming FROM (
        | SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.sig_hi, b.sig_hi)) + bit_count(xor(a.sig_lo, b.sig_lo)) AS INTEGER) AS hamming
        | FROM sig a JOIN sig b ON a.doc_id < b.doc_id) p
        |WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "q26_cosine_pairs" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        | round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine_sim
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        |  AND NOT isnan(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]))
        |ORDER BY id_a, id_b""".stripMargin,
    "q27_ann_topk" ->
      """SELECT query_id, neighbour_id, round(c, 6) AS cosine_sim FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
        |  list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS c,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |             c.vec_id ASC) AS rn
        | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        | WHERE q.vec_id < 20) t
        |WHERE rn <= 5
        |ORDER BY query_id, neighbour_id""".stripMargin,
    // q28's oracle is the EXACT top-k: the seeded 64x4 LSH params make the
    // approximate result deterministically identical on this corpus, so
    // the hash match doubles as a recall gate (see q28AnnLsh doc)
    "q28_ann_lsh" ->
      """SELECT query_id, neighbour_id, round(c, 6) AS cosine_sim FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
        |  list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS c,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |             c.vec_id ASC) AS rn
        | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        | WHERE q.vec_id < 20) t
        |WHERE rn <= 5
        |ORDER BY query_id, neighbour_id""".stripMargin,
    "q43_ivf_assign" ->
      """SELECT cid AS cell, count(*) AS n_vectors FROM (
        | SELECT e.vec_id, c.cid,
        |  row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]) DESC,
        |             c.cid ASC) AS rn
        | FROM embeddings e,
        |      (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8) c) t
        |WHERE rn = 1
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q44_ngram_jaccard" -> ngramJaccardOracle,
    // q49: the same brute-force pair set at 0.8, closed into connected
    // components with a recursive CTE (min reachable id per node = the
    // canonical keep id the engine's label propagation converges to)
    "q49_dedup_components" ->
      s"""WITH RECURSIVE pairs AS (${jaccardPairsSql("0.8")}),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         | SELECT id, id FROM nodes
         | UNION
         | SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT component AS keep_id, count(*) AS cluster_size, max(id) AS max_member
         |FROM comp GROUP BY component ORDER BY keep_id""".stripMargin,
    // q57: the full BM25 formula restated independently — Lucene-style
    // idf ln(1+(N-n+0.5)/(n+0.5)), k1=1.2, b=0.75 length norm
    "q57_bm25" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(lower(trim(text)), ' ') AS toks FROM documents),
        |dl AS (SELECT doc_id, len(toks) AS dl FROM docs),
        |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
        |tf AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(toks) AS token FROM docs)
        |  WHERE token IN ('vector', 'stream', 'window')
        |  GROUP BY doc_id, token),
        |dfreq AS (SELECT token, count(*) AS nt FROM tf GROUP BY token)
        |SELECT tf.doc_id, count(*) AS n_matched,
        | round(sum(ln(1 + (stats.n_docs - dfreq.nt + 0.5) / (dfreq.nt + 0.5))
        |   * (tf.tf * 2.2 / (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / stats.avgdl)))), 6) AS score
        |FROM tf JOIN dfreq USING (token) JOIN dl ON tf.doc_id = dl.doc_id
        |CROSS JOIN stats
        |GROUP BY tf.doc_id
        |ORDER BY tf.doc_id""".stripMargin,
    // q58: per-element recompute via unnest — scale, int8 codes
    // (round half away from zero in both engines), error bound. The
    // final left join keeps rows whose embedding is EMPTY (unnest emits
    // nothing; the kernel reports all-zeros) or NULL (kernel reports
    // nulls) so the row sets can never diverge from the engine
    "q58_quantize_int8" ->
      """WITH v AS (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x FROM embeddings),
        |s AS (SELECT vec_id, max(abs(x)) / 127.0 AS scale FROM v GROUP BY vec_id),
        |q AS (SELECT v.vec_id, s.scale, x,
        |        CASE WHEN s.scale = 0 THEN 0
        |             ELSE CAST(round(x / s.scale) AS INTEGER) END AS qi
        |      FROM v JOIN s USING (vec_id)),
        |agg AS (
        | SELECT vec_id, round(any_value(scale), 6) AS scale,
        |  CAST(sum(qi) AS BIGINT) AS q_sum,
        |  CAST(sum(abs(qi)) AS BIGINT) AS q_l1,
        |  round(max(abs(qi * scale - x)), 6) AS max_err
        | FROM q GROUP BY vec_id)
        |SELECT e.vec_id,
        | CASE WHEN e.embedding IS NULL THEN NULL ELSE coalesce(agg.scale, 0.0) END AS scale,
        | CASE WHEN e.embedding IS NULL THEN NULL ELSE coalesce(agg.q_sum, 0) END AS q_sum,
        | CASE WHEN e.embedding IS NULL THEN NULL ELSE coalesce(agg.q_l1, 0) END AS q_l1,
        | CASE WHEN e.embedding IS NULL THEN NULL ELSE coalesce(agg.max_err, 0.0) END AS max_err
        |FROM embeddings e LEFT JOIN agg USING (vec_id)
        |ORDER BY e.vec_id""".stripMargin,
    // q60: brute-force Jaccard pairs × independently recomputed split
    // labels; only straddling pairs survive
    "q60_contamination" ->
      s"""WITH splits AS (
         | SELECT doc_id,
         |  CASE WHEN b < 8000 THEN 'train'
         |       WHEN b < 9000 THEN 'val'
         |       ELSE 'test' END AS split
         | FROM (SELECT doc_id,
         |        CAST(('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), '__graft_null_key__')), 1, 8)) AS BIGINT) % 10000 AS b
         |       FROM documents) t)
         |SELECT p.id_a, p.id_b, sa.split AS split_a, sb.split AS split_b,
         | round(p.jaccard, 6) AS jaccard
         |FROM (${jaccardPairsSql("0.95")}) p
         |JOIN splits sa ON p.id_a = sa.doc_id
         |JOIN splits sb ON p.id_b = sb.doc_id
         |WHERE sa.split <> sb.split
         |ORDER BY p.id_a, p.id_b""".stripMargin,
    // q65: identical span selection — non-overlapping 8-token slices,
    // global first occurrence by packed (doc, chunk) key, rebuild in
    // chunk order
    "q65_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |c AS (SELECT doc_id, i AS chunk_id,
        |       array_to_string(toks[(i * 8 + 1):(i * 8 + 8)], ' ') AS chunk
        |      FROM t, unnest(range(0, (len(toks) + 7) // 8)) AS u(i)),
        |f AS (SELECT md5(chunk) AS h, min(doc_id * 1048576 + chunk_id) AS k_first
        |      FROM c GROUP BY md5(chunk)),
        |k AS (SELECT c.doc_id, c.chunk_id, c.chunk,
        |       (c.doc_id * 1048576 + c.chunk_id = f.k_first) AS keep
        |      FROM c JOIN f ON md5(c.chunk) = f.h)
        |SELECT doc_id,
        | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        | CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        | md5(coalesce(string_agg(CASE WHEN keep THEN chunk END, ' ' ORDER BY chunk_id), '')) AS text_md5
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q66: same cosine argmax assignment as q43, then positional means
    // per cell — one Lloyd update restated independently
    "q66_kmeans_step" ->
      """WITH a AS (
        | SELECT vec_id, embedding, cid AS cell FROM (
        |  SELECT e.vec_id, e.embedding, c.cid,
        |   row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]) DESC,
        |              c.cid ASC) AS rn
        |  FROM embeddings e,
        |       (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8) c) t
        | WHERE rn = 1),
        |d AS (
        | SELECT cell, i AS pos, avg(CAST(embedding[i] AS DOUBLE)) AS m
        | FROM a, unnest(range(1, len(embedding) + 1)) AS u(i)
        | GROUP BY cell, i),
        |s AS (
        | SELECT cell, round(sqrt(sum(m * m)), 6) AS centroid_norm,
        |        round(sum(m), 6) AS centroid_sum
        | FROM d GROUP BY cell)
        |SELECT a2.cell, count(*) AS n_members, s.centroid_norm, s.centroid_sum
        |FROM a a2 JOIN s ON a2.cell = s.cell
        |GROUP BY a2.cell, s.centroid_norm, s.centroid_sum
        |ORDER BY a2.cell""".stripMargin,
    // q73: full-corpus N and df (the WHERE trims output only), ln-smoothed
    // idf = ln(N / n_t), identical double evaluation order on both engines
    "q73_tfidf" ->
      """WITH t AS (
        | SELECT doc_id, term, count(*) AS tf
        | FROM (SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS term
        |       FROM documents) u
        | GROUP BY doc_id, term),
        |d AS (SELECT term, count(*) AS nt FROM t GROUP BY term),
        |n AS (SELECT count(*) AS nd FROM documents)
        |SELECT doc_id, term, tf, round(tf * ln(CAST(nd AS DOUBLE) / nt), 6) AS tf_idf
        |FROM t JOIN d USING (term), n
        |WHERE doc_id < 20 AND term <> ''
        |ORDER BY doc_id, term""".stripMargin,
    // q74: split labels replayed exactly as q45's oracle, 8-grams built
    // as strings (list slice + join) — per-doc DISTINCT matches the
    // engine's distinct hashed shingle sets
    "q74_ngram_decontaminate" ->
      """WITH labeled AS (
        | SELECT doc_id, text,
        |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
        | FROM (SELECT doc_id, text,
        |   CAST(('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), '__graft_null_key__')), 1, 8)) AS BIGINT) % 10000 AS b
        |  FROM documents) t),
        |toks AS (SELECT doc_id, split, string_split(lower(trim(text)), ' ') AS tk FROM labeled),
        |grams AS (
        | SELECT DISTINCT doc_id, split, array_to_string(tk[j:j+7], ' ') AS g
        | FROM (SELECT doc_id, split, tk,
        |        unnest(generate_series(1, len(tk) - 7)) AS j FROM toks) x)
        |SELECT tr.doc_id, count(*) AS n_shared
        |FROM (SELECT doc_id, g FROM grams WHERE split = 'train') tr
        |JOIN (SELECT DISTINCT g FROM grams WHERE split = 'test') te USING (g)
        |GROUP BY tr.doc_id
        |ORDER BY tr.doc_id""".stripMargin,
    // q85: brute-force all-pairs Levenshtein — the blocked join must
    // find the identical pair set (deletion neighborhoods have exact
    // recall at the verify threshold)
    "q85_edit_distance" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part)
        |SELECT a.p_name AS name_a, b.p_name AS name_b,
        | CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY name_a, name_b""".stripMargin,
    // q89: the identical md5-parity sign matrix rebuilt in SQL; dot
    // products via the exploded join the engine avoids (0.25 = 1/√16
    // exactly, so the scale is bit-identical)
    "q89_random_projection" ->
      """WITH sign AS (
        | SELECT i, j,
        |  CASE WHEN CAST(('0x' || substring(md5(i || '_' || j), 1, 1)) AS BIGINT) % 2 = 0
        |       THEN 0.25 ELSE -0.25 END AS s
        | FROM (SELECT unnest(generate_series(0, 63)) AS i) a,
        |      (SELECT unnest(generate_series(0, 15)) AS j) b),
        |el AS (
        | SELECT vec_id, k, CAST(embedding[k] AS DOUBLE) AS e
        | FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS k) ks),
        |p AS (
        | SELECT vec_id, j, sum(e * s) AS p
        | FROM el JOIN sign ON el.k - 1 = sign.i
        | GROUP BY vec_id, j)
        |SELECT vec_id, CAST(j AS INTEGER) AS j, round(p, 6) AS p
        |FROM p ORDER BY vec_id, j""".stripMargin,
    // q90: exact top-k — full-probe IVF must reproduce it bit-for-bit
    // (same oracle shape as q27/q28; see q90IvfTopK doc)
    "q90_ivf_topk" ->
      """SELECT query_id, neighbour_id, round(c, 6) AS cosine_sim FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
        |  list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS c,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |             c.vec_id ASC) AS rn
        | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        | WHERE q.vec_id < 20) t
        |WHERE rn <= 5
        |ORDER BY query_id, neighbour_id""".stripMargin,
    // q95: q49's recursive closure + the keep-longest pick restated
    "q95_cluster_resolve" ->
      s"""WITH RECURSIVE pairs AS (${jaccardPairsSql("0.8")}),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         | SELECT id, id FROM nodes
         | UNION
         | SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |best AS (
         | SELECT comp.component AS cluster_id, d.doc_id, d.n_chars,
         |  row_number() OVER (PARTITION BY comp.component
         |                     ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
         |  count(*) OVER (PARTITION BY comp.component) AS cluster_size
         | FROM comp JOIN documents d ON comp.id = d.doc_id)
         |SELECT cluster_id, doc_id AS best_id,
         | CAST(n_chars AS DOUBLE) AS best_score,
         | cluster_size, cluster_size - 1 AS n_dropped
         |FROM best WHERE rn = 1
         |ORDER BY cluster_id""".stripMargin,
    // q102: same tokenizer as the q23 family; windowed df + posting cap,
    // string_agg in numeric doc-id order = the engine's sorted concat_ws
    "q102_inverted_index" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(list_distinct(string_split(lower(trim(text)), ' '))) AS token
        | FROM documents),
        |w AS (
        | SELECT token, doc_id,
        |  row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn,
        |  count(*) OVER (PARTITION BY token) AS doc_freq
        | FROM tok WHERE token <> '')
        |SELECT token, doc_freq,
        | string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
        |FROM w WHERE doc_freq >= 5 AND rn <= 20
        |GROUP BY token, doc_freq
        |ORDER BY token""".stripMargin,
    // q103: q27's exact-top-k oracle with the metadata predicate applied
    // to the corpus side BEFORE ranking (pre-filter semantics)
    "q103_filtered_ann" ->
      """SELECT query_id, neighbour_id, round(c, 6) AS cosine_sim FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
        |  list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS c,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |             c.vec_id ASC) AS rn
        | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        | WHERE q.vec_id < 20 AND c.label = 3) t
        |WHERE rn <= 5
        |ORDER BY query_id, neighbour_id""".stripMargin,
    // q111: same cell assignment as the q43 oracle, then SemDeDup
    // dominance as one NOT EXISTS — survivor iff no lower-id cell-mate
    // is >= threshold cosine-similar
    "q111_semantic_dedup" ->
      """WITH a AS (
        | SELECT vec_id, embedding, cid AS cell FROM (
        |  SELECT e.vec_id, e.embedding, c.cid,
        |   row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]) DESC,
        |              c.cid ASC) AS rn
        |  FROM embeddings e,
        |       (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8) c) t
        | WHERE rn = 1)
        |SELECT x.vec_id, x.cell FROM a x
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM a y
        |  WHERE y.cell = x.cell AND y.vec_id < x.vec_id
        |    AND list_cosine_similarity(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) >= 0.40)
        |ORDER BY x.vec_id""".stripMargin,
    // q113: the same three power iterations unrolled — contribution
    // aggregate per step, teleport (1-0.85)/N, symmetrized edges
    "q113_pagerank" ->
      """WITH e0 AS (
        | SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
        | FROM lineitem),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |deg AS (SELECT src, count(*) AS d FROM e GROUP BY 1),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |r0 AS (SELECT id, 1.0::DOUBLE / nn.n AS pr FROM nodes, nn),
        |c1 AS (SELECT e.dst AS id, sum(r0.pr / deg.d) AS cin
        |       FROM e JOIN deg USING (src) JOIN r0 ON r0.id = e.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.id, (1 - 0.85)::DOUBLE / nn.n + 0.85::DOUBLE * coalesce(c1.cin, 0) AS pr
        |       FROM nodes CROSS JOIN nn LEFT JOIN c1 ON c1.id = nodes.id),
        |c2 AS (SELECT e.dst AS id, sum(r1.pr / deg.d) AS cin
        |       FROM e JOIN deg USING (src) JOIN r1 ON r1.id = e.src GROUP BY e.dst),
        |r2 AS (SELECT nodes.id, (1 - 0.85)::DOUBLE / nn.n + 0.85::DOUBLE * coalesce(c2.cin, 0) AS pr
        |       FROM nodes CROSS JOIN nn LEFT JOIN c2 ON c2.id = nodes.id),
        |c3 AS (SELECT e.dst AS id, sum(r2.pr / deg.d) AS cin
        |       FROM e JOIN deg USING (src) JOIN r2 ON r2.id = e.src GROUP BY e.dst),
        |r3 AS (SELECT nodes.id, (1 - 0.85)::DOUBLE / nn.n + 0.85::DOUBLE * coalesce(c3.cin, 0) AS pr
        |       FROM nodes CROSS JOIN nn LEFT JOIN c3 ON c3.id = nodes.id)
        |SELECT id, round(pr * 1000, 6) AS pr_milli FROM r3 ORDER BY id""".stripMargin,
    // q263: HITS unrolled — two L1-normalized mutual-reinforcement
    // rounds over the directed part→supplier graph, hub start 1/N,
    // raw sum → total → divide replayed with identical arithmetic
    "q263_hits" ->
      """WITH e0 AS (
        | SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
        | FROM lineitem),
        |nodes AS (SELECT src AS id FROM e0 UNION SELECT dst FROM e0),
        |nn AS (SELECT count(*) AS n FROM nodes),
        |h0 AS (SELECT id, 1.0::DOUBLE / nn.n AS hub FROM nodes, nn),
        |a1r AS (SELECT e0.dst AS id, sum(h0.hub) AS raw
        |        FROM e0 JOIN h0 ON h0.id = e0.src GROUP BY e0.dst),
        |a1t AS (SELECT sum(raw) AS tot FROM a1r),
        |a1 AS (SELECT nodes.id,
        |        CASE WHEN t.tot > 0 THEN coalesce(a1r.raw, 0) / t.tot
        |             ELSE 0 END AS auth
        |       FROM nodes LEFT JOIN a1r ON a1r.id = nodes.id CROSS JOIN a1t t),
        |h1r AS (SELECT e0.src AS id, sum(a1.auth) AS raw
        |        FROM e0 JOIN a1 ON a1.id = e0.dst GROUP BY e0.src),
        |h1t AS (SELECT sum(raw) AS tot FROM h1r),
        |h1 AS (SELECT nodes.id,
        |        CASE WHEN t.tot > 0 THEN coalesce(h1r.raw, 0) / t.tot
        |             ELSE 0 END AS hub
        |       FROM nodes LEFT JOIN h1r ON h1r.id = nodes.id CROSS JOIN h1t t),
        |a2r AS (SELECT e0.dst AS id, sum(h1.hub) AS raw
        |        FROM e0 JOIN h1 ON h1.id = e0.src GROUP BY e0.dst),
        |a2t AS (SELECT sum(raw) AS tot FROM a2r),
        |a2 AS (SELECT nodes.id,
        |        CASE WHEN t.tot > 0 THEN coalesce(a2r.raw, 0) / t.tot
        |             ELSE 0 END AS auth
        |       FROM nodes LEFT JOIN a2r ON a2r.id = nodes.id CROSS JOIN a2t t),
        |h2r AS (SELECT e0.src AS id, sum(a2.auth) AS raw
        |        FROM e0 JOIN a2 ON a2.id = e0.dst GROUP BY e0.src),
        |h2t AS (SELECT sum(raw) AS tot FROM h2r),
        |h2 AS (SELECT nodes.id,
        |        CASE WHEN t.tot > 0 THEN coalesce(h2r.raw, 0) / t.tot
        |             ELSE 0 END AS hub
        |       FROM nodes LEFT JOIN h2r ON h2r.id = nodes.id CROSS JOIN h2t t)
        |SELECT nodes.id, round(a2.auth * 1000, 6) AS auth_milli,
        | round(h2.hub * 1000, 6) AS hub_milli
        |FROM nodes JOIN a2 ON a2.id = nodes.id JOIN h2 ON h2.id = nodes.id
        |ORDER BY nodes.id""".stripMargin,
    // q114: same output contract as q44 — selectiveBanding changes the
    // candidate machinery only, so the identical brute-force oracle is
    // exactly the check that makes the scale banding adoptable
    "q114_selective_lsh" -> ngramJaccardOracle,
    "q115_incremental_dedup" ->
      """WITH toks AS (
        | SELECT doc_id, lang, list_distinct(string_split(lower(trim(text)), ' ')) AS ts
        | FROM documents),
        |ct AS (SELECT doc_id, lang, unnest(ts) AS token FROM toks WHERE doc_id % 5 <> 0),
        |nt AS (SELECT doc_id, lang, unnest(ts) AS token FROM toks WHERE doc_id % 5 = 0),
        |p AS (SELECT c.doc_id AS corpus_id, n.doc_id AS new_id, count(*) AS shared
        |      FROM ct c JOIN nt n ON c.token = n.token AND c.lang = n.lang
        |      GROUP BY 1, 2)
        |SELECT corpus_id, new_id,
        | round(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
        |FROM p
        |JOIN (SELECT doc_id, len(ts) AS n FROM toks WHERE doc_id % 5 <> 0) sa ON corpus_id = sa.doc_id
        |JOIN (SELECT doc_id, len(ts) AS n FROM toks WHERE doc_id % 5 = 0) sb ON new_id = sb.doc_id
        |WHERE shared * 1.0 / (sa.n + sb.n - shared) >= 0.9
        |ORDER BY corpus_id, new_id""".stripMargin,
    "q116_line_dedup" ->
      ("""WITH seg AS (
        | SELECT doc_id,
        |  regexp_replace(text, '((?:\S+ ){9}\S+) ', '\1' || chr(10), 'g') AS t
        | FROM documents),
        |l0 AS (SELECT doc_id, string_split(t, chr(10)) AS ls FROM seg),
        |lines AS (SELECT doc_id, unnest(ls) AS line,
        |          unnest(range(1, len(ls) + 1)) AS pos FROM l0),
        |keyed AS (SELECT doc_id, pos, line, md5(lower(trim(line))) AS k FROM lines),
        |boiler AS (SELECT k FROM (
        |  SELECT k, count(DISTINCT doc_id) AS d FROM keyed GROUP BY 1) f
        |  WHERE d >= 2),
        |reb AS (
        | SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean,
        |        count(*) AS lines_kept
        | FROM keyed WHERE k NOT IN (SELECT k FROM boiler)
        | GROUP BY 1)
        |SELECT l0.doc_id, coalesce(reb.text_clean, '') AS text_clean,
        | CAST(coalesce(reb.lines_kept, 0) AS BIGINT) AS lines_kept,
        | CAST(len(l0.ls) AS BIGINT) AS lines_total
        |FROM l0 LEFT JOIN reb ON l0.doc_id = reb.doc_id
        |ORDER BY l0.doc_id""").stripMargin,
    // q121: same double-precision per-subspace argmin over the 16
    // reference vectors' subvectors; row_number tie-break = lowest j,
    // matching encodeVec's strict-< first-wins scan. DuckDB lists are
    // 1-based: subspace s, dim t -> element s*8 + t + 1.
    "q121_pq_encode" ->
      """WITH cb AS (
        | SELECT vec_id AS j, embedding AS cv FROM embeddings WHERE vec_id < 16),
        |d AS (
        | SELECT e.vec_id, s.s AS subspace, cb.j,
        |  sum((CAST(e.embedding[s.s * 8 + t.t + 1] AS DOUBLE)
        |       - CAST(cb.cv[s.s * 8 + t.t + 1] AS DOUBLE)) ^ 2) AS d2
        | FROM embeddings e, unnest(range(8)) AS s(s), cb, unnest(range(8)) AS t(t)
        | GROUP BY 1, 2, 3),
        |r AS (
        | SELECT vec_id, subspace, j,
        |  row_number() OVER (PARTITION BY vec_id, subspace ORDER BY d2, j) AS rn
        | FROM d)
        |SELECT vec_id, CAST(subspace AS INT) AS subspace, CAST(j AS INT) AS code
        |FROM r WHERE rn = 1
        |ORDER BY vec_id, subspace""".stripMargin,
    // q122: banded oracle — DuckDB restates the exact L2 top-10 id list
    // per query (list_distance ordering = squared-L2 ordering, id
    // tie-break, self included to match the ADC corpus scan); recall_ok
    // is the engine-side verdict that PQ's refined result recovered
    // >= 7 of those 10, asserted TRUE
    "q122_pq_adc" ->
      """WITH d AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  list_distance(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS dist
        | FROM embeddings q, embeddings c
        | WHERE q.vec_id < 5),
        |r AS (
        | SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY dist ASC, neighbor_id ASC) AS rn
        | FROM d)
        |SELECT query_id,
        | md5(string_agg(CAST(neighbor_id AS VARCHAR), ',' ORDER BY rn)) AS exact_top10_md5,
        | TRUE AS recall_ok
        |FROM r WHERE rn <= 10
        |GROUP BY query_id
        |ORDER BY query_id""".stripMargin,
    // q123: the q27-convention top-10 per query, label-match relevance,
    // then the TREC arithmetic verbatim — gain 1/log2(rank+1) (grade 1),
    // IDCG over ranks 1..min(k, n_rel): range(n) is 0-based so the
    // rank-r term is 1/log2(i+2)
    "q123_retrieval_metrics" ->
      """WITH topk AS (
        | SELECT query_id, neighbour_id, rn FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |              c.vec_id ASC) AS rn
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5) t
        | WHERE rn <= 10),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |rel AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS doc_id
        | FROM lab q JOIN lab c ON q.label = c.label AND q.vec_id <> c.vec_id
        | WHERE q.vec_id < 5),
        |tot AS (SELECT query_id, count(*) AS n_rel FROM rel GROUP BY 1),
        |hits AS (
        | SELECT t.query_id, t.rn,
        |  CASE WHEN r.doc_id IS NULL THEN 0 ELSE 1 END AS g
        | FROM topk t LEFT JOIN rel r
        |   ON t.query_id = r.query_id AND t.neighbour_id = r.doc_id),
        |agg AS (
        | SELECT query_id, sum(g) AS n_rel_ret,
        |  sum(g * 1.0 / log2(rn + 1)) AS dcg,
        |  max(CASE WHEN g = 1 THEN 1.0 / rn ELSE 0 END) AS mrr
        | FROM hits GROUP BY 1),
        |ideal AS (
        | SELECT tot.query_id,
        |  (SELECT sum(1.0 / log2(i.i + 2))
        |   FROM unnest(range(least(10, tot.n_rel))) i(i)) AS idcg
        | FROM tot)
        |SELECT a.query_id,
        | CAST(tot.n_rel AS BIGINT) AS n_relevant_total,
        | CAST(a.n_rel_ret AS BIGINT) AS n_relevant_retrieved,
        | round(a.n_rel_ret / 10.0, 6) AS precision_k,
        | round(a.n_rel_ret * 1.0 / tot.n_rel, 6) AS recall_k,
        | round(a.mrr, 6) AS mrr,
        | round(a.dcg / ideal.idcg, 6) AS ndcg
        |FROM agg a JOIN tot USING (query_id) JOIN ideal USING (query_id)
        |ORDER BY query_id""".stripMargin,
    // q126: both synchronous iterations unrolled — neighbour label votes,
    // (count desc, label asc) winner, isolated fallthrough via coalesce
    "q126_label_prop" ->
      """WITH e0 AS (
        | SELECT DISTINCT 'p:' || l_partkey AS src, 's:' || l_suppkey AS dst
        | FROM lineitem),
        |e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |l0 AS (SELECT id, id AS label FROM nodes),
        |v1 AS (SELECT e.src AS id, l0.label, count(*) AS n
        |       FROM e JOIN l0 ON l0.id = e.dst GROUP BY 1, 2),
        |w1 AS (SELECT id, label FROM (
        |        SELECT id, label,
        |         row_number() OVER (PARTITION BY id ORDER BY n DESC, label ASC) AS rn
        |        FROM v1) t WHERE rn = 1),
        |l1 AS (SELECT l0.id, coalesce(w1.label, l0.label) AS label
        |       FROM l0 LEFT JOIN w1 ON w1.id = l0.id),
        |v2 AS (SELECT e.src AS id, l1.label, count(*) AS n
        |       FROM e JOIN l1 ON l1.id = e.dst GROUP BY 1, 2),
        |w2 AS (SELECT id, label FROM (
        |        SELECT id, label,
        |         row_number() OVER (PARTITION BY id ORDER BY n DESC, label ASC) AS rn
        |        FROM v2) t WHERE rn = 1),
        |l2 AS (SELECT l1.id, coalesce(w2.label, l1.label) AS label
        |       FROM l1 LEFT JOIN w2 ON w2.id = l1.id)
        |SELECT id, label FROM l2 ORDER BY id""".stripMargin,
    // q129: exact per-node triangle counts — brute-force ordered
    // triangles x<y<z over the undirected co-order edge set (each
    // triangle once), exploded back to its three corners
    "q129_triangles" ->
      """WITH ps AS (
        | SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (
        | SELECT DISTINCT x.p AS a, y.p AS b
        | FROM ps x JOIN ps y ON x.o = y.o AND x.p < y.p),
        |tri AS (
        | SELECT e1.a AS x, e1.b AS y, e2.b AS z
        | FROM e e1
        | JOIN e e2 ON e2.a = e1.b
        | JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
        |pern AS (
        | SELECT id, count(*) AS t FROM (
        |  SELECT x AS id FROM tri
        |  UNION ALL SELECT y FROM tri
        |  UNION ALL SELECT z FROM tri) u
        | GROUP BY 1),
        |deg AS (
        | SELECT id, count(*) AS degree FROM (
        |  SELECT a AS id FROM e UNION ALL SELECT b FROM e) d
        | GROUP BY 1)
        |SELECT deg.id AS part_id, deg.degree,
        | coalesce(pern.t, 0) AS triangles,
        | CASE WHEN deg.degree >= 2
        |      THEN round(2.0 * coalesce(pern.t, 0) / (deg.degree * (deg.degree - 1.0)), 6)
        |      ELSE 0.0 END AS lcc
        |FROM deg LEFT JOIN pern ON pern.id = deg.id
        |ORDER BY part_id""".stripMargin,
    // q132: top-20 exact candidates per query (q27 ordering convention),
    // label-match positives removed, negative ranks re-densified, top 5
    "q132_hard_negatives" ->
      """WITH cand AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbour_id,
        |  q.label AS ql, c.label AS cl,
        |  list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cs,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |             c.vec_id ASC) AS rn
        | FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        | WHERE q.vec_id < 5),
        |neg AS (
        | SELECT query_id, neighbour_id, cs,
        |  row_number() OVER (PARTITION BY query_id ORDER BY rn) AS neg_rank
        | FROM cand WHERE rn <= 20 AND ql <> cl)
        |SELECT query_id, neg_rank, neighbour_id, round(cs, 6) AS cosine_sim
        |FROM neg WHERE neg_rank <= 5
        |ORDER BY query_id, neg_rank""".stripMargin,
    // q139: both peel rounds unrolled — degrees over the current edge
    // set, survivors deg >= 90, edges restricted to survivors, repeat;
    // output = degrees over the round-2 subgraph
    "q139_kcore" ->
      """WITH ps AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT DISTINCT x.p AS a, y.p AS b
        |       FROM ps x JOIN ps y ON x.o = y.o AND x.p < y.p),
        |d1 AS (SELECT id, count(*) AS d FROM (
        |        SELECT a AS id FROM e0 UNION ALL SELECT b FROM e0) u GROUP BY 1),
        |s1 AS (SELECT id FROM d1 WHERE d >= 90),
        |e1 AS (SELECT e0.a, e0.b FROM e0
        |       JOIN s1 x ON x.id = e0.a JOIN s1 y ON y.id = e0.b),
        |d2 AS (SELECT id, count(*) AS d FROM (
        |        SELECT a AS id FROM e1 UNION ALL SELECT b FROM e1) u GROUP BY 1),
        |s2 AS (SELECT id FROM d2 WHERE d >= 90),
        |e2 AS (SELECT e1.a, e1.b FROM e1
        |       JOIN s2 x ON x.id = e1.a JOIN s2 y ON y.id = e1.b)
        |SELECT id AS part_id, count(*) AS degree FROM (
        | SELECT a AS id FROM e2 UNION ALL SELECT b FROM e2) u
        |GROUP BY 1
        |ORDER BY part_id""".stripMargin,
    // q141: both runs and the fusion replayed — token-keyed overlap
    // counts (only docs sharing >= 1 token are retrieved, the posting-
    // list semantics), ranks with doc tie-break, q27-convention cosine
    // ranks, 1/(60+r) contributions summed over the union, re-ranked,
    // top 10
    "q141_rrf_fusion" ->
      """WITH tok AS (
        | SELECT doc_id,
        |  unnest(list_distinct(list_filter(string_split(lower(trim(text)), ' '),
        |   t -> t <> ''))) AS token
        | FROM documents),
        |ov AS (
        | SELECT q.doc_id AS query_id, d.doc_id, count(*) AS overlap
        | FROM tok q JOIN tok d USING (token)
        | WHERE q.doc_id < 5 AND d.doc_id <> q.doc_id
        | GROUP BY 1, 2),
        |lex AS (
        | SELECT query_id, doc_id,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY overlap DESC, doc_id ASC) AS rnk
        | FROM ov),
        |vec AS (
        | SELECT e.vec_id AS query_id, c.vec_id AS doc_id,
        |  row_number() OVER (PARTITION BY e.vec_id
        |   ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |            c.vec_id ASC) AS rnk
        | FROM embeddings e JOIN embeddings c ON e.vec_id <> c.vec_id
        | WHERE e.vec_id < 5),
        |uni AS (
        | SELECT query_id, doc_id, 1.0 / (60 + rnk) AS c FROM lex WHERE rnk <= 20
        | UNION ALL
        | SELECT query_id, doc_id, 1.0 / (60 + rnk) FROM vec WHERE rnk <= 20),
        |fused AS (
        | SELECT query_id, doc_id, sum(c) AS rrf_score,
        |  CAST(count(*) AS BIGINT) AS n_runs
        | FROM uni GROUP BY 1, 2),
        |ranked AS (
        | SELECT query_id, doc_id, rrf_score, n_runs,
        |  row_number() OVER (PARTITION BY query_id
        |   ORDER BY rrf_score DESC, doc_id ASC) AS fr
        | FROM fused)
        |SELECT query_id, CAST(fr AS BIGINT) AS fused_rank, doc_id,
        | round(rrf_score, 6) AS rrf_score, n_runs
        |FROM ranked WHERE fr <= 10
        |ORDER BY query_id, fused_rank""".stripMargin,
    // q142: q43's assignment + distinct-token df tables + the lift
    // arithmetic and per-cluster rank, replayed end to end
    "q142_cluster_labels" ->
      """WITH a AS (
        | SELECT vec_id, cid AS cluster FROM (
        |  SELECT e.vec_id, c.cid,
        |   row_number() OVER (PARTITION BY e.vec_id
        |    ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]) DESC,
        |             c.cid ASC) AS rn
        |  FROM embeddings e,
        |       (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 8) c) t
        | WHERE rn = 1),
        |tok AS (
        | SELECT doc_id,
        |  unnest(list_distinct(list_filter(string_split(lower(trim(text)), ' '),
        |   x -> x <> ''))) AS token
        | FROM documents),
        |mem AS (SELECT d.doc_id, a.cluster
        |        FROM (SELECT doc_id FROM documents) d JOIN a ON a.vec_id = d.doc_id),
        |nc AS (SELECT cluster, count(*) AS n_c FROM mem GROUP BY 1),
        |nd AS (SELECT count(*) AS n FROM mem),
        |dfc AS (SELECT m.cluster, t.token, CAST(count(*) AS BIGINT) AS df_c
        |        FROM tok t JOIN mem m ON m.doc_id = t.doc_id GROUP BY 1, 2),
        |dfa AS (SELECT token, count(*) AS df_all FROM tok GROUP BY 1),
        |l AS (
        | SELECT dfc.cluster, dfc.token, dfc.df_c,
        |  (CAST(dfc.df_c AS DOUBLE) / nc.n_c) / (CAST(dfa.df_all AS DOUBLE) / nd.n) AS lift
        | FROM dfc JOIN nc USING (cluster) JOIN dfa USING (token), nd
        | WHERE dfc.df_c >= 3),
        |r AS (
        | SELECT cluster, token, df_c, lift,
        |  row_number() OVER (PARTITION BY cluster ORDER BY lift DESC, token ASC) AS rnk
        | FROM l)
        |SELECT cluster, CAST(rnk AS BIGINT) AS lift_rank, token, df_c,
        | round(lift, 6) AS lift
        |FROM r WHERE rnk <= 5
        |ORDER BY cluster, lift_rank""".stripMargin,
    // q147: the whole pipeline replayed — every 20-char gram's md5,
    // corpus-wide occurrence counts, duplicated positions, and the
    // gaps-and-islands merge to maximal 1-based inclusive spans
    "q147_substring_dedup" ->
      """WITH g AS (
        | SELECT doc_id, CAST(p.p AS BIGINT) AS pos,
        |  md5(substr(text, CAST(p.p AS INT), 20)) AS h
        | FROM documents, unnest(generate_series(1, len(text) - 19)) AS p(p)
        | WHERE len(text) >= 20),
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |d AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
        |r AS (
        | SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        | FROM d),
        |sp0 AS (
        | SELECT doc_id, min(pos) AS s0, max(pos) + 19 AS e0
        | FROM r GROUP BY doc_id, grp),
        |pm AS (
        | SELECT doc_id, s0, e0,
        |  max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        | FROM sp0),
        |isl AS (
        | SELECT doc_id, s0, e0,
        |  sum(CASE WHEN prev_max IS NULL OR s0 > prev_max THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        | FROM pm)
        |SELECT doc_id, min(s0) AS span_start, max(e0) AS span_end,
        | max(e0) - min(s0) + 1 AS span_len
        |FROM isl GROUP BY doc_id, isl
        |ORDER BY doc_id, span_start""".stripMargin,
    // q151: q147's spans re-derived, then the splice replayed — each
    // span contributes the gap before it (lag over span starts), the
    // tail follows the last span; docs without spans pass through
    "q151_substring_cut" ->
      """WITH g AS (
        | SELECT doc_id, CAST(p.p AS BIGINT) AS pos,
        |  md5(substr(text, CAST(p.p AS INT), 20)) AS h
        | FROM documents, unnest(generate_series(1, len(text) - 19)) AS p(p)
        | WHERE len(text) >= 20),
        |dup AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
        |d AS (SELECT doc_id, pos FROM g JOIN dup USING (h)),
        |r AS (
        | SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        | FROM d),
        |sp0 AS (
        | SELECT doc_id, min(pos) AS s0, max(pos) + 19 AS e0
        | FROM r GROUP BY doc_id, grp),
        |pm AS (
        | SELECT doc_id, s0, e0,
        |  max(e0) OVER (PARTITION BY doc_id ORDER BY s0, e0
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
        | FROM sp0),
        |isl AS (
        | SELECT doc_id, s0, e0,
        |  sum(CASE WHEN prev_max IS NULL OR s0 > prev_max THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY doc_id ORDER BY s0, e0
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
        | FROM pm),
        |sp AS (
        | SELECT doc_id, min(s0) AS s, max(e0) AS e
        | FROM isl GROUP BY doc_id, isl),
        |seg AS (
        | SELECT doc_id, s, e,
        |  lag(e, 1, 0) OVER (PARTITION BY doc_id ORDER BY s) AS prev_e
        | FROM sp),
        |kept AS (
        | SELECT doc.doc_id,
        |  coalesce(string_agg(
        |    substr(doc.text, CAST(seg.prev_e + 1 AS INT),
        |           CAST(seg.s - seg.prev_e - 1 AS INT)),
        |    '' ORDER BY seg.s), '')
        |  || substr(doc.text, CAST(coalesce(max(seg.e), 0) + 1 AS INT)) AS clean,
        |  CAST(count(seg.s) AS BIGINT) AS n_spans,
        |  len(doc.text) AS orig_len
        | FROM documents doc LEFT JOIN seg ON seg.doc_id = doc.doc_id
        | GROUP BY doc.doc_id, doc.text)
        |SELECT doc_id, md5(clean) AS clean_md5, n_spans,
        | CAST(orig_len - len(clean) AS BIGINT) AS chars_removed
        |FROM kept
        |ORDER BY doc_id""".stripMargin,
    // q152: the q122 banded pattern — exact L2 top-10 restated, the
    // recall_ok verdict covers both approximation layers (cell probe +
    // residual PQ), asserted TRUE
    "q152_ivfpq" ->
      """WITH d AS (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  list_distance(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS dist
        | FROM embeddings q, embeddings c
        | WHERE q.vec_id < 5),
        |r AS (
        | SELECT query_id, neighbor_id,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY dist ASC, neighbor_id ASC) AS rn
        | FROM d)
        |SELECT query_id,
        | md5(string_agg(CAST(neighbor_id AS VARCHAR), ',' ORDER BY rn)) AS exact_top10_md5,
        | TRUE AS recall_ok
        |FROM r WHERE rn <= 10
        |GROUP BY query_id
        |ORDER BY query_id""".stripMargin,
    // q157: gear-hash boundary rule (first 8 md5 hex chars as unsigned
    // int, mod 64) + segment assembly replayed — cuts, the non-empty
    // tail, lag-based starts, chunk md5s
    "q157_cdc_chunks" ->
      """WITH cuts AS (
        | SELECT doc_id, CAST(p.p + 7 AS BIGINT) AS e
        | FROM documents, unnest(generate_series(1, len(text) - 7)) AS p(p)
        | WHERE len(text) >= 8
        |  AND CAST(('0x' || substring(md5(substr(text, CAST(p.p AS INT), 8)), 1, 8)) AS BIGINT) % 64 = 0),
        |allends AS (
        | SELECT doc_id, e FROM cuts
        | UNION ALL
        | SELECT d.doc_id, CAST(len(d.text) AS BIGINT) FROM documents d
        | WHERE len(d.text) > 0 AND NOT EXISTS (
        |  SELECT 1 FROM cuts c
        |  WHERE c.doc_id = d.doc_id AND c.e = len(d.text))),
        |seg AS (
        | SELECT doc_id, e,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY e) - 1 AS chunk_idx,
        |  coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s
        | FROM allends)
        |SELECT seg.doc_id, chunk_idx, s AS chunk_start,
        | e - s + 1 AS chunk_len,
        | md5(substr(d.text, CAST(s AS INT), CAST(e - s + 1 AS INT))) AS chunk_md5
        |FROM seg JOIN documents d ON d.doc_id = seg.doc_id
        |WHERE e >= s
        |ORDER BY seg.doc_id, chunk_idx""".stripMargin,
    // q158: the whole linkage replayed in DuckDB — same corruption,
    // same sorted-character blocking (keys never cross engines; they
    // only have to induce the same blocks), DuckDB's OWN
    // jaro_winkler_similarity (the parity target the expression is
    // pinned to), same ppm quantization, same (score desc, id) top-1.
    "q158_record_linkage" ->
      """WITH dirty AS (
        | SELECT c_custkey AS dirty_id,
        |  substr(c_name, 1, p - 1) || substr(c_name, p + 1, 1) ||
        |  substr(c_name, p, 1) || substr(c_name, p + 2) AS dirty_name
        | FROM (SELECT c_custkey, c_name,
        |        CAST(10 + c_custkey % 8 AS INT) AS p FROM customer)),
        |kd AS (
        | SELECT dirty_id, dirty_name,
        |  array_to_string(list_sort(string_split_regex(dirty_name, '')), '') AS k
        | FROM dirty),
        |kc AS (
        | SELECT c_custkey AS match_id, c_name,
        |  array_to_string(list_sort(string_split_regex(c_name, '')), '') AS k
        | FROM customer),
        |scored AS (
        | SELECT dirty_id, match_id,
        |  CAST(floor(jaro_winkler_similarity(dirty_name, c_name) * 1e6) AS BIGINT) AS score_ppm
        | FROM kd JOIN kc USING (k))
        |SELECT dirty_id, match_id, score_ppm
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY dirty_id ORDER BY score_ppm DESC, match_id) AS rn
        |      FROM scored WHERE score_ppm >= 850000)
        |WHERE rn = 1
        |ORDER BY dirty_id""".stripMargin,
    // q159: components via recursive SQL (q49's oracle shape), then the
    // q45 bucket replay applied to the representative id
    "q159_leakage_safe_split" ->
      s"""WITH RECURSIVE pairs AS (${jaccardPairsSql("0.8")}),
         |edges AS (
         | SELECT id_a AS src, id_b AS dst FROM pairs
         | UNION SELECT id_b, id_a FROM pairs),
         |nodes AS (SELECT DISTINCT src AS id FROM edges),
         |reach(id, r) AS (
         | SELECT id, id FROM nodes
         | UNION
         | SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |rep AS (
         | SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep_id
         | FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
         |SELECT doc_id, rep_id,
         | CASE WHEN b < 8000 THEN 'train'
         |      WHEN b < 9000 THEN 'val'
         |      ELSE 'test' END AS split
         |FROM (SELECT doc_id, rep_id,
         |       CAST(('0x' || substring(md5(CAST(rep_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS b
         |      FROM rep) t
         |ORDER BY doc_id""".stripMargin,
    // q167: both exact rankings recomputed with list slicing; overlap
    // count is pure integers once the two top-10 sets are fixed
    "q167_matryoshka_recall" ->
      s"""WITH qf AS (SELECT vec_id, embedding::DOUBLE[] AS e
         |            FROM embeddings WHERE vec_id < 20),
         |cf AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |fr AS (${matryoshkaRankSql("")}),
         |tr AS (${matryoshkaRankSql("[1:16]")})
         |SELECT f.query_id, count(*) AS hits_at_10
         |FROM (SELECT query_id, neighbour_id FROM fr WHERE rn <= 10) f
         |JOIN (SELECT query_id, neighbour_id FROM tr WHERE rn <= 10) t2
         |  ON f.query_id = t2.query_id AND f.neighbour_id = t2.neighbour_id
         |GROUP BY f.query_id
         |ORDER BY f.query_id""".stripMargin,
    // q171: every datacard cell restated — token stats in plain SQL,
    // dup membership = distinct ids of the recursive pair set
    "q171_datacard" ->
      s"""WITH RECURSIVE pairs AS (${jaccardPairsSql("0.8")}),
         |d AS (
         | SELECT doc_id, lang, len(text) AS chars,
         |  len(string_split(lower(trim(text)), ' ')) AS toks
         | FROM documents),
         |dup AS (
         | SELECT DISTINCT id FROM (
         |  SELECT id_a AS id FROM pairs UNION SELECT id_b FROM pairs) u),
         |dl AS (
         | SELECT lang, count(*) AS dup_docs
         | FROM dup JOIN documents ON doc_id = id GROUP BY lang)
         |SELECT d.lang, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
         | round(avg(chars), 2) AS avg_chars, round(median(toks), 1) AS median_tokens,
         | CAST(coalesce(dl.dup_docs, 0) AS BIGINT) AS dup_docs,
         | coalesce(dl.dup_docs, 0) * 1000000 // count(*) AS dup_ppm
         |FROM d LEFT JOIN dl ON d.lang = dl.lang
         |GROUP BY d.lang, dl.dup_docs
         |ORDER BY d.lang""".stripMargin,
    // q174/q175: containment restated from the same 2-gram inverted
    // index as the q44 oracle, both directional ratios per pair
    "q174_containment_pairs" ->
      s"""$containmentPairsSql
        |SELECT id_a, id_b, round(ca, 6) AS cont_a, round(cb, 6) AS cont_b,
        | round(shared * 1.0 / (na + nb - shared), 6) AS jaccard
        |FROM qual
        |ORDER BY id_a, id_b""".stripMargin,
    "q175_containment_dedup" ->
      s"""$containmentPairsSql,
        |drops AS (
        | SELECT DISTINCT CASE WHEN ca > cb THEN id_a
        |                      WHEN cb > ca THEN id_b
        |                      ELSE greatest(id_a, id_b) END AS doc_id
        | FROM qual)
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM drops)
        |ORDER BY doc_id""".stripMargin,
    "q188_mmr_diversify" -> mmrOracle,
    // q192: RBO terms per depth — a common doc enters every prefix
    // depth >= max(rank_a, rank_b)
    "q192_rbo" ->
      """WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        |vec AS (SELECT qid, did, rank FROM (
        | SELECT q.vec_id AS qid, c.vec_id AS did,
        |  row_number() OVER (PARTITION BY q.vec_id
        |    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |             c.vec_id ASC) AS rank
        | FROM q JOIN embeddings c ON q.vec_id <> c.vec_id) t WHERE rank <= 10),
        |dt AS (SELECT doc_id,
        |  unnest(list_distinct(list_filter(string_split(lower(trim(text)), ' '),
        |    x -> x <> ''))) AS token FROM documents),
        |lexov AS (SELECT a.doc_id AS qid, b.doc_id AS did, count(*) AS ov
        | FROM dt a JOIN dt b ON a.token = b.token
        |  AND a.doc_id < 5 AND b.doc_id <> a.doc_id
        | GROUP BY 1, 2),
        |lex AS (SELECT qid, did, rank FROM (
        | SELECT qid, did, row_number() OVER (PARTITION BY qid
        |   ORDER BY ov DESC, did ASC) AS rank FROM lexov) t WHERE rank <= 10),
        |common AS (SELECT v.qid, v.did, greatest(v.rank, l.rank) AS mx
        | FROM vec v JOIN lex l ON v.qid = l.qid AND v.did = l.did),
        |depths AS (SELECT qid, unnest(range(mx, 11)) AS depth FROM common),
        |terms AS (SELECT qid, depth, count(*) AS ov FROM depths GROUP BY 1, 2),
        |rbo AS (SELECT qid,
        |  sum((1 - CAST(0.9 AS DOUBLE)) * pow(CAST(0.9 AS DOUBLE), depth - 1)
        |      * ov / depth) AS r
        | FROM terms GROUP BY 1),
        |uq AS (SELECT DISTINCT qid FROM vec UNION SELECT DISTINCT qid FROM lex)
        |SELECT uq.qid AS query_id, round(coalesce(r, 0.0), 6) AS rbo
        |FROM uq LEFT JOIN rbo ON uq.qid = rbo.qid
        |ORDER BY query_id""".stripMargin,
    "q196_semantic_decontam" ->
      """WITH ev AS (SELECT vec_id AS eval_id, embedding FROM embeddings WHERE vec_id < 20),
        |tr AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 20),
        |s AS (SELECT t.vec_id, ev.eval_id,
        |  list_cosine_similarity(t.embedding::DOUBLE[], ev.embedding::DOUBLE[]) AS c,
        |  row_number() OVER (PARTITION BY t.vec_id
        |    ORDER BY list_cosine_similarity(t.embedding::DOUBLE[], ev.embedding::DOUBLE[]) DESC,
        |             ev.eval_id ASC) AS rn
        | FROM tr t JOIN ev ON t.vec_id <> ev.eval_id)
        |SELECT vec_id, eval_id, round(c, 6) AS cosine
        |FROM s WHERE rn = 1 AND c >= 0.35
        |ORDER BY vec_id""".stripMargin,
    // q197: the full winnowing pipeline replayed — md5-prefix gram
    // hashes, w-window minima, distinct fingerprint sets, pair counts
    "q197_winnowed_pairs" ->
      """WITH t0 AS (SELECT doc_id, lang, string_split(lower(trim(text)), ' ') AS toks
        |            FROM documents),
        |t1 AS (SELECT doc_id, lang,
        |  list_transform(range(0, greatest(len(toks) - 3, 0) + 1),
        |    i -> CAST(('0x' || substring(md5(array_to_string(toks[i+1 : i+3], ' ')), 1, 8)) AS BIGINT)) AS grams
        | FROM t0),
        |g AS (SELECT doc_id, lang,
        |  list_distinct(list_transform(range(0, greatest(len(grams) - 4, 0) + 1),
        |    j -> list_min(grams[j+1 : j+4]))) AS fps
        | FROM t1),
        |fp AS (SELECT doc_id, lang, unnest(fps) AS fp FROM g)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared_fps
        |FROM fp a JOIN fp b ON a.fp = b.fp AND a.lang = b.lang AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY id_a, id_b""".stripMargin,
    // q216: the Unicode tokenizer degrades EXACTLY to whitespace tokens
    // on the single-space ASCII oracle corpus (the q209-pinned
    // contract), so the q23 brute-force Jaccard oracle applies verbatim
    "q216_unicode_dedup" -> jaccardOracle,
    "q220_bitext_margin" ->
      """WITH src AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  WHERE vec_id % 2 = 0 AND vec_id < 200),
        |tgt AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 2 = 1),
        |fwd AS (
        | SELECT x, y, c FROM (
        |  SELECT s.vec_id AS x, t.vec_id AS y,
        |   list_cosine_similarity(s.embedding::DOUBLE[], t.embedding::DOUBLE[]) AS c,
        |   row_number() OVER (PARTITION BY s.vec_id
        |     ORDER BY list_cosine_similarity(s.embedding::DOUBLE[], t.embedding::DOUBLE[]) DESC,
        |              t.vec_id ASC) AS rn
        |  FROM src s CROSS JOIN tgt t) f WHERE rn <= 4),
        |bwd AS (
        | SELECT x, y, c FROM (
        |  SELECT s.vec_id AS x, t.vec_id AS y,
        |   list_cosine_similarity(t.embedding::DOUBLE[], s.embedding::DOUBLE[]) AS c,
        |   row_number() OVER (PARTITION BY t.vec_id
        |     ORDER BY list_cosine_similarity(t.embedding::DOUBLE[], s.embedding::DOUBLE[]) DESC,
        |              s.vec_id ASC) AS rn
        |  FROM (SELECT e.vec_id, e.embedding FROM embeddings e
        |        JOIN (SELECT DISTINCT y FROM fwd) ys ON e.vec_id = ys.y) t
        |  CROSS JOIN src s) b WHERE rn <= 4),
        |af AS (SELECT x, avg(c) AS a_fwd FROM fwd GROUP BY x),
        |ab AS (SELECT y, avg(c) AS a_bwd FROM bwd GROUP BY y),
        |mf AS (SELECT f.x, f.y, f.c, f.c / ((af.a_fwd + ab.a_bwd) / 2) AS margin
        |       FROM fwd f JOIN af ON f.x = af.x JOIN ab ON f.y = ab.y),
        |mb AS (SELECT b.x, b.y, b.c / ((af.a_fwd + ab.a_bwd) / 2) AS margin
        |       FROM bwd b JOIN af ON b.x = af.x JOIN ab ON b.y = ab.y),
        |bf AS (SELECT x, y, c, margin FROM (
        |  SELECT *, row_number() OVER (PARTITION BY x ORDER BY margin DESC, y ASC) AS rn
        |  FROM mf) t WHERE rn = 1),
        |bb AS (SELECT x, y FROM (
        |  SELECT *, row_number() OVER (PARTITION BY y ORDER BY margin DESC, x ASC) AS rn
        |  FROM mb) t WHERE rn = 1)
        |SELECT bf.x AS src_id, bf.y AS tgt_id,
        | round(bf.c, 6) AS cosine_sim, round(bf.margin, 6) AS margin
        |FROM bf JOIN bb ON bf.x = bb.x AND bf.y = bb.y
        |WHERE bf.margin >= 1.0
        |ORDER BY src_id, tgt_id""".stripMargin)
}
