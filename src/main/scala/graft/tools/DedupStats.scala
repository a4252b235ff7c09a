package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.expressions.GraftFunctions

/** LSH quality instrumentation for the SURVEY §9 scale adjudication:
  * measures, on a documents table (typically a [[ScaleUp]] `perturb`
  * synthesis — the realistic near-duplicate regime), the numbers that
  * decide whether MinHash-LSH is doing its job at scale:
  *
  *  - `cand_pairs`:     class-level candidate pairs the banding admits
  *                      (post-distinct — the verify stage's input size)
  *  - `verified_pairs`: candidates whose EXACT token-set Jaccard clears
  *                      the threshold (the output)
  *  - `precision`:      verified / candidates — how much verify work the
  *                      banding wastes
  *  - `exact_pairs` + `recall` (with the `exact` flag): ground truth from
  *                      the all-pairs classed miner; verification is
  *                      exact, so recall = verified / exact directly
  *
  * Class-level on purpose: the miners' own first move is the md5 content
  * collapse, so class pairs are the unit the LSH machinery actually
  * processes (doc-pair counts just multiply by class sizes).
  *
  * `ngram` selects the shingle width the signatures run on — the knob
  * that decides whether LSH survives a high-baseline-overlap corpus:
  * on synthetic small-vocab text, unrelated same-lang docs average
  * ~0.63 UNIGRAM token-set Jaccard (so near-threshold banding admits
  * almost every pair — measured 87%+ candidate rates), while their
  * BIGRAM-shingle Jaccard averages ~0.03 (banding admits ~nothing but
  * true near-dups). The 100 TB configuration is ngram >= 2.
  *
  * `selective=<maxHashes>` switches the banding from [[Dedup.autoBanding]]
  * (48-hash budget, the small-corpus default) to
  * [[Dedup.selectiveBanding]] inside the given hash budget — the
  * mining-regime configuration whose candidate-floor cut §9.1 measures.
  * Stage wall times (`cand_sec`, `verify_sec`, `exact_sec`) are in the
  * JSON so the adjudication can attribute cost to candidate generation
  * vs verification directly.
  *
  * `simhash` switches the measurement to the segmented SimHash miner
  * ([[Dedup.simhashDupPairsSegmented]], maxDistance = threshold arg
  * truncated, default 3): end-to-end pair count + wall time on the same
  * documents table — the q25 adjudication's perturbed-regime number.
  *
  * `noverify` stops after the candidate count (verify fields omitted) —
  * for measuring a banding's candidate floor where paying the verify
  * cost is the very thing being adjudicated against.
  *
  * Usage: runMain graft.tools.DedupStats <dir> [threshold] [ngram] [exact] [selective=N] [simhash] [noverify]
  * Prints ONE JSON line, same contract as Bench.
  */
object DedupStats {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(sys.error(
      "usage: DedupStats <dir> [threshold] [ngram] [exact] [selective=N]"))
    val threshold = args.lift(1).filter(_ != "simhash").map(_.toDouble).getOrElse(0.95)
    val ngram = args.lift(2).filter(a =>
        a != "exact" && a != "simhash" && a != "noverify" && !a.startsWith("selective="))
      .map(_.toInt).getOrElse(1)
    val wantExact = args.contains("exact")
    val noVerify = args.contains("noverify")
    val selectiveBudget = args.find(_.startsWith("selective="))
      .map(_.stripPrefix("selective=").toInt)
    val simhashMode = args.contains("simhash")
    val spark = graft.GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, appName = "graft-dedup-stats")
    try {
      if (simhashMode) runSimhash(spark, dir, threshold.toInt.max(1))
      else run(spark, dir, threshold, wantExact, ngram, selectiveBudget, noVerify)
    } finally spark.stop()
  }

  /** Times the segmented SimHash miner end-to-end (class collapse +
    * segment-bucket join + Hamming verify + id expansion). */
  def runSimhash(spark: SparkSession, dir: String, maxDistance: Int): Unit = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count()
    val t0 = System.nanoTime()
    val pairs = Dedup.simhashDupPairsSegmented(docs, "doc_id", "text", maxDistance).count()
    val sec = (System.nanoTime() - t0) / 1e9
    val json =
      s"""{"metric":"simhash_stats","dir":"$dir","max_distance":$maxDistance,""" +
      s""""n_docs":$nDocs,"dup_pairs":$pairs,"elapsed_sec":${f"$sec%.1f"}}"""
    println(json)
    sys.env.get("SPARK_GRAFT_STATS_OUT").foreach { p =>
      val w = new java.io.PrintWriter(p); try w.println(json) finally w.close()
    }
  }

  def run(spark: SparkSession, dir: String, threshold: Double,
          wantExact: Boolean, ngram: Int = 1,
          selectiveBudget: Option[Int] = None,
          noVerify: Boolean = false): Unit = {
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDocs = docs.count()
    // the miners' own first move: collapse identical content per block
    val reps = docs
      .groupBy(col("lang"), md5(trim(col("text"))).as("h"))
      .agg(min(col("doc_id")).as("cls"), first(col("text")).as("text"))
      .select(col("cls"), col("lang"), col("text"))
      .cache()
    val nClasses = reps.count()

    // banding: the miners' autoBanding default (48-hash budget), or the
    // opt-in selectiveBanding inside an explicit budget (mining regime)
    val (k, b) = selectiveBudget
      .map(Dedup.selectiveBanding(threshold, _))
      .getOrElse(Seq((48, 6), (48, 8), (48, 12), (48, 16)).find { case (kk, bb) =>
        val rr = kk / bb
        math.pow(1 - math.pow(threshold, rr.toDouble), bb.toDouble) <= 1e-6
      }.getOrElse((48, 24)))
    val r = k / b
    val t0 = System.nanoTime()
    def secsSince(start: Long): Double = (System.nanoTime() - start) / 1e9
    val withBand = reps.select(
      col("cls"), col("lang").as("blk"),
      GraftFunctions.call("minhash_signature",
        Dedup.hashedShingleSet(col("text"), ngram), lit(k)).as("sig"))
      .withColumn("band", explode(Dedup.lshBands(col("sig"), b, r)))
      .select(col("cls"), col("blk"),
        col("band.band_idx").as("band_idx"), col("band.band_hash").as("band_hash"))
    val candidates = withBand.as("a")
      .join(withBand.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.blk") === col("b.blk") &&
          col("a.cls") < col("b.cls"))
      .select(col("a.cls").as("id_a"), col("b.cls").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .cache()
    val candPairs = candidates.count()
    val candSec = secsSince(t0)

    val tVerify = System.nanoTime()
    val toks = reps.select(col("cls"),
      Dedup.hashedShingleSet(col("text"), ngram).as("toks"))
    val verifiedPairs =
      if (noVerify) -1L
      else candidates
        .join(toks.withColumnsRenamed(Map("cls" -> "id_a", "toks" -> "ta")), "id_a")
        .join(toks.withColumnsRenamed(Map("cls" -> "id_b", "toks" -> "tb")), "id_b")
        .withColumn("jaccard",
          size(array_intersect(col("ta"), col("tb"))).cast("double") /
            size(array_union(col("ta"), col("tb"))))
        .filter(col("jaccard") >= threshold)
        .count()
    val verifySec = secsSince(tVerify)

    // ground truth: the all-pairs classed miner on the SAME reps (each
    // class is one row, so its output IS class pairs). Quadratic-ish —
    // opt in explicitly.
    val tExact = System.nanoTime()
    val exactPairs =
      if (wantExact)
        Some(Dedup.jaccardPairsClassed(reps, "cls", "text", "lang", threshold, ngram).count())
      else None
    val exactSec = if (wantExact) Some(secsSince(tExact)) else None

    val precision = if (candPairs == 0) 1.0 else verifiedPairs.toDouble / candPairs
    val recall = exactPairs.map(e =>
      if (e == 0) 1.0 else verifiedPairs.toDouble / e)
    val banding = selectiveBudget.map(bd => s"selective($bd)").getOrElse("auto")
    val verifyJson =
      if (noVerify) ""
      else s""""verified_pairs":$verifiedPairs,"precision":${f"$precision%.6f"},""" +
        s""""verify_sec":${f"$verifySec%.1f"},"""
    val json =
      s"""{"metric":"dedup_stats","dir":"$dir","threshold":$threshold,"ngram":$ngram,""" +
      s""""banding":"$banding","num_hashes":$k,"bands":$b,"rows_per_band":$r,""" +
      s""""n_docs":$nDocs,"n_classes":$nClasses,""" +
      s""""cand_pairs":$candPairs,""" + verifyJson +
      s""""cand_sec":${f"$candSec%.1f"}""" +
      exactPairs.map(e => s""","exact_pairs":$e,"recall":${f"${recall.get}%.6f"}""" +
        s""","exact_sec":${f"${exactSec.get}%.1f"}""").getOrElse("") +
      "}"
    println(json)
    val out = sys.env.get("SPARK_GRAFT_STATS_OUT")
    out.foreach { p =>
      val w = new java.io.PrintWriter(p); try w.println(json) finally w.close()
    }
  }
}
