package graft

import org.scalatest.funsuite.AnyFunSuite

/** THE BROADCAST-GATE CONVENTION, enforced as a test.
  *
  * Every data-dependent `broadcast(...)` in this engine must bound the
  * broadcast in BYTES — either directly (a byte estimate over the
  * payload) or through a proven per-element bytes proxy (a count whose
  * per-element size is a compile-time constant). Row-count gates alone
  * are banned for variable-width payloads: the q175 incident (round 10)
  * let a long-document corpus smuggle a multi-GB gram-array broadcast
  * past a 2M-row gate and OOM at the 10× scale-up.
  *
  * Classification of every site:
  *
  *  - BOUNDED-BY-CONTRACT: the broadcast input is a scalar aggregate,
  *    a k-row parameter table (query set, centroids, breakpoints,
  *    top-k, per-column stats), a fixed-size sketch, or a static
  *    lookup — its bytes are bounded by an operator parameter or a
  *    constant, independent of corpus size. No runtime gate needed.
  *  - RUNTIME-GATED: the input scales with the data; a runtime check
  *    decides broadcast vs shuffle. The gate MUST bound bytes:
  *      * Dedup.denseBlockPairJoin — Σ(elemCount·16 B + 48 B/row)
  *        ≤ Gates.DenseBlockBytes, 128 MB (payload longs + array
  *        overhead + fixed row term).
  *      * Graph.triangleCounts — edge count ≤ Gates.AdjacencyEdges;
  *        a proven proxy: the adjacency payload is exactly one long
  *        (plus amortized row overhead) per oriented edge.
  *      * SkewJoins.adaptiveJoin — right side broadcast iff its
  *        Catalyst plan-stats sizeInBytes ≤ the broadcastBytes budget
  *        (unknown stats estimate HIGH, so the fallback is the safe
  *        shuffle).
  *  - CALLER-GATED: the flag is part of the documented API contract
  *    (Dedup.ngramContamination's `broadcastEval` — an eval set is
  *    small by construction; callers with a corpus-sized eval side
  *    pass false).
  *
  * The inventory below pins the per-file count of broadcast sites.
  * Adding a `broadcast(` anywhere in src/main fails this spec until
  * the new site is classified here — that forced review IS the
  * convention (commit 1688f12's drift showed copy-pasted gates rot).
  */
class BroadcastGateSpec extends AnyFunSuite {

  private val srcRoot = new java.io.File("src/main/scala")

  private def scalaFiles(dir: java.io.File): Seq[java.io.File] = {
    val (dirs, files) = dir.listFiles().toSeq.partition(_.isDirectory)
    files.filter(_.getName.endsWith(".scala")) ++ dirs.flatMap(scalaFiles)
  }

  /** Count `broadcast(` occurrences outside comment lines — the same
    * rule a reviewer applies. (Block-comment bodies start with `*` by
    * the repo's scaladoc style, so the line-prefix test suffices.)
    */
  private def siteCount(f: java.io.File): Int = {
    val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    src.linesIterator.map(_.trim)
      .filterNot(s => s.startsWith("//") || s.startsWith("*") || s.startsWith("/*"))
      .map(s => "broadcast\\(".r.findAllIn(s).size)
      .sum
  }

  /** file (relative to src/main/scala) -> (site count, classification).
    * Classifications: "contract" = every site bounded-by-contract;
    * "gated" / "caller" entries name the gate.
    */
  private val inventory: Map[String, (Int, String)] = Map(
    // the former SparkEntry.scala sites (15), split by query family —
    // all bounded-by-contract: dims (nation/region), query sets,
    // sketches, scalar aggs, top-k, q233's 1-row AUC pair
    "graft/queries/RelationalQueries.scala" -> (7,
      "contract: nation/region dims, scalar aggs, per-dim lookup tables"),
    "graft/queries/DedupSimilarityQueries.scala" -> (3,
      "contract: query sets / scalar aggs, parameter-sized"),
    "graft/queries/EventsStreamingQueries.scala" -> (1,
      "contract: stream-side dim table, caller-owned dim contract"),
    "graft/queries/StatsSamplingQueries.scala" -> (4,
      "contract: scalar aggs + q233's 1-row AUC pair"),
    "graft/functions/NocExtract.scala" -> (1, "contract: 33-entry static legacy-country map"),
    "graft/operators/Dedup.scala" -> (2,
      "gated: denseBlockPairJoin bytes gate (elems*16+48/row <= Gates.DenseBlockBytes); " +
        "caller: ngramContamination broadcastEval flag (eval set small by contract)"),
    "graft/operators/Drift.scala" -> (3, "contract: per-group bounds/stats, 9-row digit totals — group-count-sized"),
    "graft/operators/Dsir.scala" -> (4, "contract: hashed-bucket count tables, 2^b rows by parameter"),
    "graft/operators/Features.scala" -> (3, "contract: per-category stats, scalar agg, k breakpoints"),
    "graft/operators/Funnel.scala" -> (1, "contract: per-variant aggregate, variant-count-sized"),
    "graft/operators/Graph.scala" -> (4,
      "gated: broadcastIf, the one data-sized join broadcast, whose callers pass " +
        "their own Gates.under: triangleCounts' adjacency iff edges <= " +
        "Gates.AdjacencyEdges (bytes proxy: one long/edge), and hits' scores, " +
        "labelPropagation's labels/winner and triangleCounts' degrees iff nodes <= " +
        "Gates.NodeState (bytes proxy: one edge-width id + one fixed-width " +
        "score/label/degree per node); the two sc.broadcast sites of the dense " +
        "driver-array tier (dense's id index once per call, DenseGraph.round's " +
        "per-round state: pageRank's double[n] shares, kCore's n-bit alive set) " +
        "run only below Gates.NodeState (nodes; 2·edges for kCore), same proxy; " +
        "contract: hits' 1-row L1 total"),
    "graft/operators/GroupOps.scala" -> (6,
      "contract: per-group medians/MADs/percentile bounds over bounded dims, " +
        "scalar counts, per-column distinct counts keyed by column name"),
    "graft/operators/LangNb.scala" -> (3,
      "contract: 1-row doc-total aggregate for priors; the two scoring " +
        "model broadcasts (predict/predictMargins) bounded by the " +
        "classes x buckets fit gate"),
    "graft/operators/UnigramLm.scala" -> (3,
      "contract: token-count/score + n-best model broadcasts, seed-vocab-sized (chars + seedMulti pieces)"),
    "graft/operators/Pq.scala" -> (1, "contract: IVF centroid table (cells x d floats) — parameter-sized"),
    "graft/operators/PrefilterJoin.scala" -> (1, "contract: bloom filter, fixed bits by parameter"),
    "graft/operators/Sampling.scala" -> (7,
      "contract: scalar grand totals, per-domain plan (domain-count-sized), " +
        "unimax source-count scalar + 1-row m*/τ selections over the bounded source table"),
    "graft/operators/Scoring.scala" -> (13,
      "contract: vocab/df tables bounded by vocab contract, scalar corpus stats (incl. the KN bigram-type total), k candidates"),
    "graft/operators/Similarity.scala" -> (2,
      "contract: eval set, surviving cell-pair table — parameter-sized by API contract"),
    "graft/operators/TopK.scala" -> (1,
      "contract: the top-k query batch — query ids + per-query scoring state " +
        "(vectors/norms/LSH buckets, ADC tables, or per-cell probe tables) — bounded by the batch"),
    "graft/operators/SkewJoins.scala" -> (3,
      "contract: scalar total for key-share profile, fixed-size CMS sketch pair; " +
        "gated: adaptiveJoin broadcasts right iff Catalyst plan stats sizeInBytes <= broadcastBytes budget"),
    "graft/operators/Stats.scala" -> (12,
      "contract: scalar point estimates / agreement tables, ECE scalar (1-row agg over the nBins-row bin table), " +
        "binaryEval class totals (1-row agg over the distinct-score table), " +
        "chiSquare marginal row counts + N/r/c scalar (cell-table aggs, bounded dims), " +
        "psi cohort totals + PSI scalar (nBins-row grid aggs), " +
        "binaryEvalBootstrap point-AUC row (1-row binaryEval output)"),
    "graft/operators/Validation.scala" -> (1, "contract: rule table, rule-count-sized"),
    "graft/pipeline/Erasure.scala" -> (2, "contract: subject-key set (erasure requests, small by contract), scalar audit"),
    "graft/pipeline/OlympicCleanI.scala" -> (1, "contract: affiliation dim, bounded by distinct affiliations"),
    "graft/pipeline/OlympicCleanII.scala" -> (1, "contract: ISO lookup (~250 rows)"),
    "graft/streaming/EventStreams.scala" -> (1, "contract: stream-side dim table, caller-owned dim contract"),
    "graft/operators/PerplexityBuckets.scala" -> (1,
      "contract: per-group tercile thresholds — group-count-sized (languages)"),
    "graft/sources/Warc.scala" -> (1,
      "contract: serialized Hadoop Configuration for recordsFromFiles tasks — KB-sized, data-independent")
  )

  test("every broadcast( site in src/main is classified in the inventory") {
    val actual = scalaFiles(srcRoot).map { f =>
      val rel = srcRoot.toPath.relativize(f.toPath).toString.replace('\\', '/')
      rel -> siteCount(f)
    }.filter(_._2 > 0).toMap
    val missing = actual.keySet -- inventory.keySet
    val stale = inventory.keySet -- actual.keySet
    assert(missing.isEmpty,
      s"UNCLASSIFIED broadcast sites in: ${missing.mkString(", ")} — " +
        "classify them in BroadcastGateSpec.inventory (bytes gate, bytes " +
        "proxy, or bounded-by-contract) before shipping")
    assert(stale.isEmpty, s"stale inventory entries: ${stale.mkString(", ")}")
    for ((rel, n) <- actual) {
      assert(n == inventory(rel)._1,
        s"$rel has $n broadcast sites, inventory says ${inventory(rel)._1} — " +
          "re-classify the delta in BroadcastGateSpec")
    }
  }

  test("runtime-gated sites still carry their byte gates") {
    def read(rel: String): String = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(srcRoot, rel).toPath), java.nio.charset.StandardCharsets.UTF_8)
    val dedup = read("graft/operators/Dedup.scala")
    // the bytes estimate: per-element 16 B plus a 48 B/row fixed term,
    // compared against a byte budget — not a bare row count
    assert(dedup.contains("* 16L + 48L"),
      "Dedup.denseBlockPairJoin lost its per-element+per-row bytes estimate")
    // exactly one dense-path gate implementation — the twice-pasted
    // copies drifted once (commit 1688f12); keep it extracted
    assert("denseBlockPairJoin\\(".r.findAllIn(dedup).size == 3, // 1 def + 2 calls
      "denseBlockPairJoin should be defined once and called from both dense paths")
    // every gated site asks Gates whether its own size is under its gate
    // (the body of `def name(` runs to the next top-level member)
    def body(rel: String, name: String): String = {
      val src = read(rel)
      val start = src.indexOf(s"def $name(")
      assert(start >= 0, s"$rel: no def $name")
      val end = "\n  (?:private |final |/\\*\\*)".r.findFirstMatchIn(src.substring(start))
        .fold(src.length)(start + _.start)
      src.substring(start, end)
    }
    val sites = Seq(
      ("graft/operators/Graph.scala", "pageRank", Seq("NodeState")),
      ("graft/operators/Graph.scala", "hits", Seq("NodeState")),
      ("graft/operators/Graph.scala", "labelPropagation", Seq("NodeState")),
      ("graft/operators/Graph.scala", "kCore", Seq("NodeState")),
      ("graft/operators/Graph.scala", "triangleCounts", Seq("NodeState", "AdjacencyEdges")),
      ("graft/operators/FilterModel.scala", "logisticGd", Seq("NodeState")),
      ("graft/operators/Components.scala", "connectedComponents", Seq("UnionFindEdges")),
      ("graft/operators/Dedup.scala", "denseBlockPairJoin", Seq("DenseBlockBytes")))
    for ((rel, name, gates) <- sites; gate <- gates) {
      val b = body(rel, name)
      assert(s"Gates\\.under\\([^\\n]*\\n?[^\\n]*Gates\\.$gate\\b".r.findFirstIn(b).isDefined,
        s"$rel: $name no longer asks Gates.under about Gates.$gate")
    }
    // each gate value is defined once, in Gates, and nowhere else
    val all = scalaFiles(srcRoot).map(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
      java.nio.charset.StandardCharsets.UTF_8)).mkString("\n")
    for (c <- Seq("NodeState", "AdjacencyEdges", "UnionFindEdges", "DenseBlockBytes"))
      assert(s"val $c\\b".r.findAllIn(all).size == 1, s"Gates.$c should be defined once")
    for (literal <- Seq("4000000L", "8000000L", "5000000L", "128L * 1024 * 1024"))
      assert(all.indexOf(literal) == all.lastIndexOf(literal) &&
        read("graft/Gates.scala").contains(literal), s"$literal should appear only in Gates")
  }

  /** THE REPARTITION-BEFORE-FOLD CONVENTION, enforced the same way.
    *
    * Every repartition that feeds a sequential partition-local fold
    * (mapPartitions carrying running state per key/group) must pass an
    * EXPLICIT partition count: for a sequential fold the partition
    * count IS the parallelism, and a bare `repartition(col)` /
    * `repartitionByRange(cols)` is AQE-coalescible — tiny input BYTES
    * fold the shuffle back to one task while the per-task WORK is not
    * byte-proportional (quadratic block joins, per-key recurrences).
    * Round-11 regression: Rolling.ewma shipped with the bare form the
    * repo's own Dedup scaladoc bans.
    *
    * Enumerated fold sites (each must carry the explicit count):
    *  - Rolling.ewma           — per-key EWMA recurrence
    *  - Packing.lptShards      — per-group LPT placement loop
    *  - GroupOps.exclusivePrefixSum — two-phase global scan
    *  - Dedup.denseBlockPairJoin    — quadratic block self-join probe
    */
  test("sequential folds pin their repartition fan-out explicitly") {
    def read(rel: String): String = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(srcRoot, rel).toPath), java.nio.charset.StandardCharsets.UTF_8)
    // accepted pinning markers: the session default, or the data-sized
    // pair-estimate count (Dedup.pairPartitions — explicit by
    // construction, floored at the session default)
    val pinned = Seq("numShufflePartitions", "pairPartitions")
    val sites = Seq(
      "graft/operators/Rolling.scala" -> "repartition(",
      "graft/operators/Packing.scala" -> "repartition(",
      "graft/operators/GroupOps.scala" -> "repartitionByRange(",
      "graft/operators/Dedup.scala" -> "repartition(")
    for ((rel, call) <- sites) {
      // drop comment lines first (scaladoc discusses the bare form by
      // name), then require each call site to name the pinned count
      // among its arguments (within the next ~120 chars — calls wrap)
      val src = read(rel).linesIterator.map(_.trim)
        .filterNot(s => s.startsWith("//") || s.startsWith("*") || s.startsWith("/*"))
        .mkString("\n")
      val bare = java.util.regex.Pattern.quote(call).r
        .findAllMatchIn(src)
        .map(m => src.slice(m.start, math.min(src.length, m.start + 120)))
        .filterNot(w => pinned.exists(w.contains))
        .toSeq
      assert(bare.isEmpty,
        s"$rel has a bare (AQE-coalescible) $call ahead of a sequential " +
          s"fold — pass the explicit numShufflePartitions count: " +
          bare.mkString(" | "))
    }
  }
}
