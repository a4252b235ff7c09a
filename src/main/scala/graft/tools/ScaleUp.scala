package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-factor synthesizer for the empirical 10× bench: unions every
  * base table `factor` times with DISJOINT key spaces (copy k offsets
  * each key domain by k·stride, stride = max(key)+1 computed from the
  * base data), so row counts, join fan-outs, group cardinalities, and
  * graph sizes all scale ×factor while every foreign key still
  * resolves inside its own copy. nation/region are fixed dimension
  * tables (the TPC-H convention) and are copied once, unscaled.
  *
  * Two properties of union-by-copy worth knowing when reading the
  * resulting bench numbers:
  *  - copy 0 is the base data verbatim, so queries with literal id
  *    predicates (q27/q103's `vec_id < 20` probe sets) keep their exact
  *    base-query working set while the corpus under them grows ×factor;
  *  - in the DEFAULT mode, text/embedding payloads are EXACT duplicates
  *    across copies — the dedup family therefore sees `factor`-sized
  *    identical classes (which the md5-class pre-pass collapses before
  *    any pair mining), measuring the scale path's class machinery
  *    rather than new near-dup structure;
  *  - PERTURB mode (`perturb` as the 4th arg) makes copies k>=1
  *    NEAR-duplicates instead: each document's text gets seeded token
  *    edits (~5% of tokens dropped, ~5% of adjacent pairs swapped —
  *    [[perturbText]], deterministic in (doc_id, copy)), `n_chars` is
  *    recomputed, and each embedding element gets a deterministic ±1%
  *    additive jitter. Copy 0 stays the base data verbatim either way.
  *    The dedup family then measures the real near-dup regime — LSH
  *    candidate selectivity and verify cost — instead of the exact-copy
  *    class collapse. Exact-dup classes mostly vanish under perturb
  *    (that is the point), so compare perturbed records only against
  *    other perturbed records.
  *
  * Usage: runMain graft.tools.ScaleUp <inDir> <outDir> <factor> [perturb]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val (inDir, outDir, factorS, perturb) = args match {
      case Array(i, o, f)            => (i, o, f, false)
      case Array(i, o, f, "perturb") => (i, o, f, true)
      case _ => sys.error(
        "usage: ScaleUp <inDir> <outDir> <factor> [perturb]")
    }
    val spark = graft.GraftSession.local(
      cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt, appName = "graft-scaleup")
    try run(spark, inDir, outDir, factorS.toInt, perturb)
    finally spark.stop()
  }

  /** Seeded token edits that turn an exact copy into a near-duplicate:
    * ~`dropRate` of tokens removed, ~`swapRate` of adjacent pairs
    * swapped, both driven by one `java.util.Random(seed)` so the result
    * is a pure function of (text, seed). Edit rates are per-token
    * probabilities, so expected Jaccard similarity against the original
    * stays high (~0.9 at the defaults) — exactly the regime MinHash/
    * SimHash near-dup mining is built for.
    */
  private[tools] def perturbText(text: String, seed: Long,
                                 dropRate: Double = 0.05,
                                 swapRate: Double = 0.05): String = {
    val rng = new java.util.Random(seed)
    val toks = scala.collection.mutable.ArrayBuffer.from(text.split(" ", -1))
    var i = toks.length - 1
    while (i >= 0) {
      if (toks.length > 1 && rng.nextDouble() < dropRate) toks.remove(i)
      i -= 1
    }
    var j = 0
    while (j < toks.length - 1) {
      if (rng.nextDouble() < swapRate) {
        val t = toks(j); toks(j) = toks(j + 1); toks(j + 1) = t
        j += 2 // a swapped pair is final — don't cascade the same token
      } else j += 1
    }
    toks.mkString(" ")
  }

  /** The scaling itself, session provided by the caller (main owns its
    * own; ScaleUpSpec passes the shared test session). `perturb` makes
    * copies k>=1 near- instead of exact duplicates (see object doc).
    */
  def run(spark: SparkSession, inDir: String, outDir: String, factor: Int,
          perturb: Boolean = false): Unit = {
    require(factor >= 1, s"factor must be >= 1, got $factor")

    def rd(n: String) = spark.read.parquet(s"$inDir/$n.parquet")
    def stride(table: String, c: String): Long = {
      val row = rd(table).agg(max(col(c).cast("long"))).head
      // max() over zero rows or an all-null key yields NULL — name the
      // offender instead of surfacing a bare NPE from getLong
      require(!row.isNullAt(0),
        s"ScaleUp: cannot derive a key stride for $table.$c " +
          "(empty table or all-null key column)")
      row.getLong(0) + 1L
    }

    // one stride per key DOMAIN (lineitem's l_orderkey shares the orders
    // domain, etc.) so cross-table references stay consistent
    val sCust = stride("customer", "c_custkey")
    val sOrd = stride("orders", "o_orderkey")
    val sPart = stride("part", "p_partkey")
    val sSupp = stride("supplier", "s_suppkey")
    val sDoc = stride("documents", "doc_id")
    val sVec = stride("embeddings", "vec_id")
    val sEv = stride("events", "event_id")
    val sUser = stride("events", "user_id")

    def scaled(name: String, offsets: Map[String, Long],
               copyTransform: (DataFrame, Int) => DataFrame = (df, _) => df): Unit = {
      val base = rd(name)
      val out = (0 until factor).map { k =>
        val off = offsets.foldLeft(base) { case (df, (c, s)) =>
          df.withColumn(c, col(c) + lit(s * k))
        }
        copyTransform(off, k)
      }.reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name x$factor" + (if (perturb) " (perturb)" else ""))
    }

    // perturb hooks: identity on copy 0 (base data verbatim) and in the
    // default exact-copy mode. Seed mixes the OFFSET doc_id with the
    // copy index, so copies of the same base doc get independent edits.
    val perturbTextUdf = udf((text: String, seed: Long) =>
      if (text == null) null else perturbText(text, seed))
    def perturbDocs(df: DataFrame, k: Int): DataFrame =
      if (!perturb || k == 0) df
      else df
        .withColumn("text",
          perturbTextUdf(col("text"), col("doc_id") * lit(1000003L) + lit(k.toLong)))
        .withColumn("n_chars", length(col("text")).cast("long"))
    // ±1% additive jitter, deterministic in (vec_id, element, copy) —
    // cosine similarity to the base vector stays ~0.999, squarely in
    // near-dup territory for the embedding-pair miners
    def jitterVecs(df: DataFrame, k: Int): DataFrame =
      if (!perturb || k == 0) df
      else df.withColumn("embedding", expr(
        s"""transform(embedding, (x, i) ->
           |  cast(x + (cast(pmod(xxhash64(vec_id, i, $k), 1001) as double) - 500.0)
           |           / 50000.0 as float))""".stripMargin))

    scaled("customer", Map("c_custkey" -> sCust))
    scaled("orders", Map("o_orderkey" -> sOrd, "o_custkey" -> sCust))
    scaled("lineitem", Map("l_orderkey" -> sOrd, "l_partkey" -> sPart, "l_suppkey" -> sSupp))
    scaled("part", Map("p_partkey" -> sPart))
    scaled("supplier", Map("s_suppkey" -> sSupp))
    scaled("documents", Map("doc_id" -> sDoc), perturbDocs)
    scaled("embeddings", Map("vec_id" -> sVec), jitterVecs)
    // user_id offsets too: per-user event counts stay constant under
    // scaling (the sessionization/funnel state bound scales in USERS,
    // not per-user list length — the shape a bigger corpus really has)
    scaled("events", Map("event_id" -> sEv, "user_id" -> sUser))
    // fixed dimensions: every copy's FKs point at the one true table
    Seq("nation", "region").foreach { n =>
      rd(n).write.mode("overwrite").parquet(s"$outDir/$n.parquet")
      println(s"[scaleup] $n x1 (dimension)")
    }
  }
}
