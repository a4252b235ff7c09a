package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "The quick brown fox jumps over the lazy dog", "en"),   // case dup of 1
      (3L, "the quick brown fox jumps over the lazy cat", "en"),   // near dup
      (4L, "completely different content about spark engines", "en"),
      (5L, "der schnelle braune fuchs", "de")
    ).toDF("doc_id", "text", "lang")
  }

  test("exactDedupGroups: case-insensitive exact dup found, min id kept") {
    val groups = Dedup.exactDedupGroups(docs, "doc_id", "text")
      .filter(col("group_size") > 1).collect()
    assert(groups.length == 1)
    assert(groups(0).getLong(1) == 1L && groups(0).getLong(2) == 2L)
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("shingles: word n-grams, distinct") {
    import spark.implicits._
    val got = Seq(Tuple1("a b c b c")).toDF("t")
      .select(Dedup.shingles(col("t"), 2).as("s")).collect()(0).getSeq[String](0)
    assert(got.toSet == Set("a b", "b c", "c b"))
  }

  test("jaccardPairs finds the near-dup pair, blocked by lang") {
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // docs 1/2 identical token sets (jac 1.0); 1-3 and 2-3 share 8 of 10
    assert(pairs == Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhash signature: identical token sets → identical signatures; " +
    "near sets → mostly agreeing slots") {
    import spark.implicits._
    val sigs = docs.select(col("doc_id"),
        Dedup.minhashSignature(Dedup.tokenSet(col("text")), 48).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L) == sigs(2L))
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree13 > 24, s"expected >half slots agreeing for jac≈0.8 pair, got $agree13/48")
    val agree14 = sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b }
    assert(agree14 < 10, s"unrelated docs should rarely agree, got $agree14/48")
  }

  test("lsh_band_hashes fused kernel == declarative lshBands(minhashSignature) " +
    "bit-for-bit, including empty token arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 64).map { i =>
      Tuple1(Seq.fill(if (i % 16 == 0) 0 else rnd.nextInt(80) + 1)(rnd.nextLong()))
    }
    val df = rows.toDF("toks")
    for ((k, b) <- Seq((48, 16), (312, 104), (48, 24))) {
      val fused = df.select(
        call_function("lsh_band_hashes", col("toks"), lit(k), lit(b)).as("bands"))
      val reference = df.select(
        Dedup.lshBands(Dedup.minhashSignature(col("toks"), k), b, k / b).as("bands"))
      assert(rowsOf(fused) == rowsOf(reference), s"banding mismatch at k=$k b=$b")
    }
  }

  test("jaccardPairsClassed == jaccardPairs (same pair set and values)") {
    val a = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", 0.5)
    val b = Dedup.jaccardPairsClassed(docs, "doc_id", "text", "lang", 0.5)
    assert(rowsOf(a) == rowsOf(b))
  }

  test("tokenizer seam: Unicode mode == whitespace mode on ASCII; finds the Chinese near-dup whitespace misses") {
    import spark.implicits._
    import graft.functions.Tokenize
    // ASCII degradation: identical pair sets and values
    val ws = Dedup.jaccardPairsClassed(docs, "doc_id", "text", "lang", 0.5)
    val uni = Dedup.jaccardPairsClassed(docs, "doc_id", "text", "lang", 0.5,
      ngram = 1, mode = Tokenize.Unicode)
    assert(rowsOf(ws) == rowsOf(uni))
    // Chinese near-dup: 9 of 10 Han chars shared, but the texts differ
    // as strings — whitespace mode sees one clause-token per doc
    // (jaccard 0 across docs), Unicode mode segments per Han char
    val zh = Seq(
      (1L, "我们明天一起去北京旅行", "zh"),
      (2L, "我们明天一起去上海旅行", "zh")).toDF("doc_id", "text", "lang")
    val zhWs = Dedup.jaccardPairsClassed(zh, "doc_id", "text", "lang", 0.5)
    assert(zhWs.count() == 0, "whitespace mode must miss the CJK near-dup")
    val zhUni = Dedup.jaccardPairsClassed(zh, "doc_id", "text", "lang", 0.5,
        ngram = 1, mode = Tokenize.Unicode)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // token sets {我,们,明,天,一,起,去,北,京,旅,行} vs {…,上,海,…}:
    // 9 shared of 13 distinct → jaccard 9/13
    assert(zhUni.toSeq == Seq((1L, 2L, 9.0 / 13)), zhUni.mkString(","))
  }

  test("jaccardPairsClassed on real documents == inverted-index variant") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = Dedup.jaccardPairs(real, "doc_id", "text", "lang", 0.9)
    val b = Dedup.jaccardPairsClassed(real, "doc_id", "text", "lang", 0.9)
    assert(rowsOf(a.select("id_a", "id_b")) == rowsOf(b.select("id_a", "id_b")))
  }

  test("minhashDupPairs == jaccardPairs at high threshold (recall check)") {
    val exact = Dedup.jaccardPairs(docs, "doc_id", "text", "lang", 0.7)
    val lsh = Dedup.minhashDupPairs(docs, "doc_id", "text", "lang", 0.7)
    assert(rowsOf(exact.select("id_a", "id_b")) == rowsOf(lsh.select("id_a", "id_b")))
  }

  test("minhashDupPairsClassed == minhashDupPairs on real documents") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val a = Dedup.minhashDupPairs(real, "doc_id", "text", "lang", 0.9)
    val b = Dedup.minhashDupPairsClassed(real, "doc_id", "text", "lang", 0.9)
    assert(rowsOf(a) == rowsOf(b))
  }

  test("simhash: identical texts → identical hash; near texts → small hamming") {
    import spark.implicits._
    val sh = docs.select(col("doc_id"), Dedup.simhash64(Dedup.tokenSet(col("text"))).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(hamming(sh(1L), sh(3L)) < hamming(sh(1L), sh(4L)),
      "near-dup must be closer in hamming space than unrelated doc")
  }

  test("hashedShingleSet kernel == declarative hash pipeline (n = 1, 2, 3)") {
    import spark.implicits._
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(Seq((900001L, ""), (900002L, "  one  "), (900003L, "a b"),
        (900004L, "tok tok tok")).toDF("doc_id", "text"))
    for (n <- Seq(1, 2, 3)) {
      val items = if (n <= 1) Dedup.tokenSet(col("text")) else Dedup.shingles(col("text"), n)
      val want = df.select(col("doc_id"),
        array_sort(transform(items, t => xxhash64(t))).as("h"))
      val got = df.select(col("doc_id"),
        Dedup.hashedShingleSet(col("text"), n).as("h"))
      assert(rowsOf(got) == rowsOf(want), s"n=$n")
    }
  }

  test("dedupClustersClassed == components over doc-level pairs") {
    val pairs = Dedup.jaccardPairsClassed(docs, "doc_id", "text", "lang", 0.5)
    val viaDocs = Components.dedupClusters(pairs, "id_a", "id_b")
    val viaClasses = Dedup.dedupClustersClassed(docs, "doc_id", "text", "lang", 0.5)
    assert(rowsOf(viaClasses) == rowsOf(viaDocs))
    assert(viaClasses.count() > 0)
    // and on real documents
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rp = Dedup.jaccardPairsClassed(real, "doc_id", "text", "lang", 0.8)
    assert(rowsOf(Dedup.dedupClustersClassed(real, "doc_id", "text", "lang", 0.8))
      == rowsOf(Components.dedupClusters(rp, "id_a", "id_b")))
    graft.Caches.unpersistAll()
  }

  test("simhashTable excludes zero-token docs (no spurious hamming-0 band)") {
    import spark.implicits._
    // contract from the original explode+agg formulation: no tokens ->
    // no group -> no row. The per-row kernel would otherwise emit sh=0
    // for every empty/whitespace doc and band them as hamming-0 "dups".
    val df = Seq((1L, "real text here"), (2L, ""), (3L, "   "),
      (4L, "other words")).toDF("doc_id", "text")
    val ids = Dedup.simhashTable(df, "doc_id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 4L), ids.toString)
    val pairs = Dedup.simhashDupPairsSegmented(df, "doc_id", "text", 3)
    assert(!pairs.collect().exists(r => Set(r.getLong(0), r.getLong(1)).exists(Set(2L, 3L))),
      "empty docs must not pair")
  }

  test("simhashDupPairsSegmented matches blocked all-pairs within distance") {
    val seg = Dedup.simhashDupPairsSegmented(docs, "doc_id", "text", 3)
      .select("id_a", "id_b")
    // all-pairs ground truth with one global block
    val full = Dedup.simhashDupPairs(docs.withColumn("one", lit(1)),
      "doc_id", "text", "one", 3).select("id_a", "id_b")
    assert(rowsOf(seg) == rowsOf(full))
  }

  test("portable md5 simhash: segmented == all-pairs; signature is md5-derived") {
    import spark.implicits._
    // the q25 path: md5-based token hashes so an external engine can
    // rebuild the signature (the xxhash64 kernel path is the scale default)
    val seg = Dedup.simhashDupPairsSegmented(docs, "doc_id", "text", 3,
      portableHash = true).select("id_a", "id_b")
    val full = Dedup.simhashDupPairs(docs.withColumn("one", lit(1)),
      "doc_id", "text", "one", 3, portableHash = true).select("id_a", "id_b")
    assert(rowsOf(seg) == rowsOf(full))
    // spot-check the token hash itself: first 16 md5 hex chars as a long
    val df1 = Seq("tok").toDF("t")
    val h = df1.select(explode(Dedup.md5TokenHashes(col("t"))).as("h"))
      .collect()(0).getLong(0)
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest("tok".getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
    assert(h == java.lang.Long.parseUnsignedLong(hex, 16), s"$h vs $hex")
  }

  test("autoBanding: recall ≤ 1e-6 at the threshold, filtering grows with t") {
    for (t <- Seq(0.5, 0.7, 0.8, 0.9, 0.95, 0.99)) {
      val (k, b) = Dedup.autoBanding(t)
      val r = k / b
      assert(k % b == 0, s"t=$t: $b must divide $k")
      val miss = math.pow(1 - math.pow(t, r.toDouble), b.toDouble)
      // sub-0.55 thresholds floor at (48, 24): ~1e-3 at-threshold miss
      // (LSH stops being selective down there; still 10× tighter than
      // the old fixed 16-band default)
      val target = if (t >= 0.7) 2e-6 else 2e-3
      assert(miss <= target, s"t=$t (k=$k,b=$b,r=$r): miss=$miss")
    }
    // higher thresholds must never get WEAKER filtering (smaller r)
    val rs = Seq(0.5, 0.7, 0.9, 0.95).map { t =>
      val (k, b) = Dedup.autoBanding(t); k / b
    }
    assert(rs == rs.sorted, s"rows-per-band should grow with threshold: $rs")
  }

  test("selectiveBanding: max rows-per-band within budget, miss bound holds") {
    // every returned config must hold the miss bound and fit the budget
    // (t=0.5 needs k >= 98 for ANY config — with a smaller budget the
    // helper falls back to autoBanding, tested separately above)
    for (t <- Seq(0.7, 0.9, 0.95); kMax <- Seq(48, 128, 320)) {
      val (k, b) = Dedup.selectiveBanding(t, kMax)
      val r = k / b
      assert(k % b == 0 && k <= kMax, s"t=$t kMax=$kMax: k=$k b=$b")
      val miss = math.pow(1 - math.pow(t, r.toDouble), b.toDouble)
      assert(miss <= 1e-6, s"t=$t kMax=$kMax (k=$k,b=$b,r=$r): miss=$miss")
    }
    for (kMax <- Seq(128, 320)) {
      val (k, b) = Dedup.selectiveBanding(0.5, kMax)
      val miss = math.pow(1 - math.pow(0.5, (k / b).toDouble), b.toDouble)
      assert(k <= kMax && miss <= 1e-6, s"t=0.5 kMax=$kMax (k=$k,b=$b): miss=$miss")
    }
    // the point of the bigger budget: t=0.5 gets r=2 at 48 hashes but
    // r=3 at 320 — an ~j-fold cut in baseline false-admit rate
    assert(Dedup.selectiveBanding(0.5, 48)._1 / Dedup.selectiveBanding(0.5, 48)._2 == 2)
    val (k320, b320) = Dedup.selectiveBanding(0.5, 320)
    assert(k320 / b320 == 3, s"expected r=3 at 320 hashes, got ($k320,$b320)")
    // a budget equal to autoBanding's never does worse than autoBanding
    for (t <- Seq(0.7, 0.9, 0.95)) {
      val (ka, ba) = Dedup.autoBanding(t)
      val (ks, bs) = Dedup.selectiveBanding(t, 48)
      assert(ks / bs >= ka / ba, s"t=$t: selective ($ks,$bs) vs auto ($ka,$ba)")
    }
  }

  test("ngramContamination flags partial inclusion doc-level dedup misses") {
    import spark.implicits._
    // eval question quoted VERBATIM inside a long training doc: jaccard
    // between the two docs is low (doc-level audit misses it), but the
    // 4-gram overlap catches it
    val evalQ = "what is the capital of france exactly"
    val train = Seq(
      (1L, s"lots of unrelated prose then $evalQ and then much more filler text after"),
      (2L, "completely clean document with no overlap at all"),
      (3L, "what is the weather like")).toDF("doc_id", "text")
    val evalSet = Seq((100L, evalQ)).toDF("doc_id", "text")
    val got = Dedup.ngramContamination(train, evalSet, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 7-token eval doc has 4 distinct 4-grams, all quoted in doc 1
    assert(got == Map(1L -> 4L), got.toString)
    // the broadcast-off path returns the same rows
    val shuffled = Dedup.ngramContamination(train, evalSet, "doc_id", "text", 4,
      broadcastEval = false).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shuffled == got)
  }

  test("md5_hashes64 kernel == declarative conv(md5) pipeline") {
    import spark.implicits._
    val texts = Seq("a b c", "dup dup dup", "Ünïcødé tøkens hére", "",
      "  spaced   out  ", "xyz").toDF("text")
    val both = texts.select(
      Dedup.md5TokenHashes(col("text")).as("k"),
      Dedup.md5TokenHashesDeclarative(col("text")).as("d"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"kernel ${r.getSeq[Long](0)} != declarative ${r.getSeq[Long](1)}")
    }
  }

  test("operator-internal caches are released by Caches.unpersistAll") {
    // the classed miners persist a class table per invocation; a session
    // running the whole dedup family must be able to drop them all once
    // each result is materialized (Bench/Verify call this per query)
    graft.Caches.unpersistAll() // clean slate from earlier tests
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    Dedup.jaccardPairsClassed(docs, "doc_id", "text", "lang", 0.5).count()
    Dedup.minhashDupPairsClassed(docs, "doc_id", "text", "lang", 0.5).count()
    Dedup.simhashDupPairsSegmented(docs, "doc_id", "text", 3).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "class tables should be cached while results are live")
    graft.Caches.unpersistAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "every operator-internal persist must be tracked and released")
  }

  test("selectiveBanding output == autoBanding output on real documents (q114 contract)") {
    // banding changes candidate efficiency only; the verified pair set
    // must be identical under either banding at the mining threshold
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val auto = Dedup.minhashDupPairsClassed(real, "doc_id", "text", "lang", 0.5, ngram = 2)
    val (k, b) = Dedup.selectiveBanding(0.5, maxHashes = 320)
    val sel = Dedup.minhashDupPairsClassed(real, "doc_id", "text", "lang", 0.5,
      numHashes = k, bands = b, ngram = 2)
    assert(rowsOf(auto) == rowsOf(sel))
  }

  test("incrementalDupPairs == brute-force cross pairs on real documents") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = real.filter(col("doc_id") % 5 =!= 0)
    val batch = real.filter(col("doc_id") % 5 === 0)
    val index = Dedup.minhashIndex(corpus, "doc_id", "text", "lang", 0.9)
    val got = Dedup.incrementalDupPairs(batch, corpus, index,
      "doc_id", "text", "lang", 0.9)
    // ground truth: all near-dup pairs of the FULL corpus, restricted to
    // (corpus, batch) cross pairs and reoriented to that contract
    val all = Dedup.jaccardPairs(real, "doc_id", "text", "lang", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = all.flatMap { case (a, b, j) =>
      if (a % 5 != 0 && b % 5 == 0) Some((a, b, j))
      else if (a % 5 == 0 && b % 5 != 0) Some((b, a, j))
      else None
    }.toSet
    val gotSet = got.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotSet == expect)
    assert(gotSet.nonEmpty, "fixture must actually exercise cross dups")
  }

  test("incrementalDupPairs refuses a probe with mismatched shingle width") {
    val index = Dedup.minhashIndex(docs, "doc_id", "text", "lang", 0.9, ngram = 2)
    val e = intercept[IllegalArgumentException] {
      Dedup.incrementalDupPairs(docs, docs, index, "doc_id", "text", "lang", 0.9, ngram = 1)
    }
    assert(e.getMessage.contains("incomparable"))
    intercept[IllegalArgumentException] {
      Dedup.incrementalDupPairs(docs, docs, index.limit(0), "doc_id", "text", "lang", 0.9, ngram = 2)
    }
  }

  test("bucketed index probe: no Exchange on the index side of the band join") {
    import graft.sources.Tables
    val corpus = docs.filter(col("doc_id") =!= 2L)
    val batch = docs.filter(col("doc_id") === 2L)
    val index = Dedup.minhashIndex(corpus, "doc_id", "text", "lang", 0.9)
    Tables.writeBucketed(index, "dedup_band_index",
      Seq("blk", "band_idx", "band_hash"), numBuckets = 4)
    // at fixture size every join broadcasts, which hides the very
    // shuffle bucketing removes — force the shuffle-join path the index
    // faces at scale (a 100 TB index side is never broadcastable)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val bucketed = spark.table("dedup_band_index")
      val viaBucketed = Dedup.incrementalDupPairs(batch, corpus, bucketed,
        "doc_id", "text", "lang", 0.9)
      val viaPlain = Dedup.incrementalDupPairs(batch, corpus, index,
        "doc_id", "text", "lang", 0.9)
      assert(rowsOf(viaBucketed) == rowsOf(viaPlain))
      val pB = viaBucketed.queryExecution.executedPlan.toString
      val pP = viaPlain.queryExecution.executedPlan.toString
      assert(pB.contains("Bucketed: true"),
        s"bucketed table scan should be planned as bucketed:\n$pB")
      val exB = "Exchange hashpartitioning".r.findAllIn(pB).length
      val exP = "Exchange hashpartitioning".r.findAllIn(pP).length
      assert(exB < exP,
        s"bucketed index must remove the index-side shuffle ($exB vs $exP):\n$pB")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS dedup_band_index")
    }
  }

  test("lineDedup removes corpus-frequent lines, preserves order and counts") {
    import spark.implicits._
    val lined = Seq(
      (1L, "COOKIE BANNER\nunique alpha\nshared footer\nunique beta"),
      (2L, "cookie banner\nanother thought\nshared footer"),
      (3L, "totally original text\nnothing shared here"),
      (4L, "shared footer")                       // boilerplate-only doc
    ).toDF("doc_id", "text")
    val got = Dedup.lineDedup(lined, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      // "COOKIE BANNER" matches "cookie banner" (normalized fingerprint)
      (1L, "unique alpha\nunique beta", 2L, 4L),
      (2L, "another thought", 1L, 3L),
      (3L, "totally original text\nnothing shared here", 2L, 2L),
      (4L, "", 0L, 1L)))
  }

  test("lineDedup: within-doc repeats count the doc once; minDocs boundary") {
    import spark.implicits._
    val lined = Seq(
      (1L, "chorus line\nchorus line\nverse one"),   // repeat inside ONE doc
      (2L, "verse two\nbridge")
    ).toDF("doc_id", "text")
    // "chorus line" appears twice but only in doc 1 -> df = 1 -> kept
    val got = Dedup.lineDedup(lined, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got(0) == (1L, "chorus line\nchorus line\nverse one"))
    // at minDocs = 2 a line in exactly 2 docs IS boilerplate
    val two = Seq((1L, "same\nown a"), (2L, "same\nown b")).toDF("doc_id", "text")
    val cleaned = Dedup.lineDedup(two, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").collect().map(_.getString(1))
    assert(cleaned.toSeq == Seq("own a", "own b"))
    intercept[IllegalArgumentException] {
      Dedup.lineDedup(two, "doc_id", "text", minDocs = 1)
    }
  }

  test("resolveClusters keeps the best-scoring member, low id on ties") {
    import spark.implicits._
    val clusters = Seq(
      (1L, Seq(1L, 2L, 3L), 3L),  // scores 5, 9, 9 -> best 2 (tie 2 vs 3)
      (4L, Seq(4L, 5L), 2L)       // scores 7, 1 -> best 4
    ).toDF("keep_id", "member_ids", "cluster_size")
    val scores = Seq((1L, 5.0), (2L, 9.0), (3L, 9.0), (4L, 7.0), (5L, 1.0))
      .toDF("doc_id", "score")
    val got = Dedup.resolveClusters(clusters, scores, "doc_id", "score")
      .orderBy("cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      (1L, 2L, 9.0, 3L, 2L),
      (4L, 4L, 7.0, 2L, 1L)))
  }

  test("duplicateSpans: cross-doc shared substring, internal repeat, " +
    "clean and short docs") {
    import spark.implicits._
    val shared = "0123456789abcdefghijklmno" // 25 chars, appears in d1 AND d2
    val rep = "zyxwvutsrqpo"                 // 12 chars, twice WITHIN d3
    val fixture = Seq(
      (1L, "PPPPP" + shared + "QQQQQ"),
      (2L, "RRRRR" + shared + "SSSSS"),
      (3L, "UUU" + rep + "VVV" + rep + "WWW"),
      (4L, "a clean unique doc with no repeats at all"),
      (5L, "short")                          // under minLen: skipped, no crash
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(fixture, "doc_id", "text", minLen = 10)
      .orderBy("id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // d1/d2: the shared block sits at 1-based [6, 30] in both — window
    // starts 6..21 are duplicated, merging to exactly the shared span.
    // d3: rep occupies [4, 15] and [19, 30]; window starts {4,5,6} and
    // {19,20,21} → two spans covering each occurrence exactly.
    assert(got.toSeq == Seq(
      (1L, 6L, 30L, 25L),
      (2L, 6L, 30L, 25L),
      (3L, 4L, 15L, 12L),
      (3L, 19L, 30L, 12L)))
  }

  test("char_gram_hashes kernel == declarative unhex(md5(substr)) pipeline, incl. multibyte") {
    import spark.implicits._
    // multibyte chars make code-point windows differ from byte windows —
    // the kernel's offset table must slice on code points like substr
    val df = Seq("hello world repeated text", "héllo wörld ünïcode",
      "ab", "", "exact len").toDF("t")
    val n = 3
    val kernel = df.select(call_function("char_gram_hashes", col("t"), lit(n)).as("k"))
      .collect().map(_.getSeq[Array[Byte]](0).map(_.toSeq))
    val decl = df.select(
      when(length(col("t")) >= n, transform(
        sequence(lit(1), length(col("t")) - lit(n - 1)),
        p => unhex(md5(col("t").substr(p, lit(n))))))
        .otherwise(array().cast("array<binary>")).as("d"))
      .collect().map(_.getSeq[Array[Byte]](0).map(_.toSeq))
    assert(kernel.toSeq == decl.toSeq)
  }

  test("duplicateSpans: islands closer than minLen coalesce into one disjoint span") {
    import spark.implicits._
    // d8's windows at pos 3,4 (shared with d9) and pos 6 (shared with
    // d10) are duplicated; pos 5 is not. Raw islands {3,4} and {6} give
    // spans [3,13] and [6,15] — OVERLAPPING — which must coalesce to
    // one [3,15] region (the cutSpans disjointness contract).
    val fixture = Seq(
      (8L, "qq" + "ABCDEFGHIJKLM" + "nn"),
      (9L, "xx" + "ABCDEFGHIJK" + "yy"),
      (10L, "zz" + "DEFGHIJKLM" + "ww")
    ).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(fixture, "doc_id", "text", minLen = 10)
      .orderBy("id", "span_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (8L, 3L, 15L, 13L),
      (9L, 3L, 13L, 11L),
      (10L, 3L, 12L, 10L)))
  }

  test("cutSpans: splices out exactly the listed spans; no-span and edge spans survive") {
    import spark.implicits._
    val fixture = Seq(
      (1L, "PPPPP0123456789abcdefghijklmnoQQQQQ"), // span [6,30] = the shared block
      (3L, "UUUzyxwvutsrqpoVVVzyxwvutsrqpoWWW"),    // spans [4,15], [19,30]
      (4L, "untouched"),
      (6L, "HEADtail")                              // spans at both string edges
    ).toDF("doc_id", "text")
    val spans = Seq(
      (1L, 6L, 30L), (3L, 4L, 15L), (3L, 19L, 30L),
      (6L, 1L, 4L), (6L, 5L, 8L)
    ).toDF("id", "span_start", "span_end")
    val got = Dedup.cutSpans(fixture, "doc_id", "text", spans)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "PPPPPQQQQQ", 1L, 25L),
      (3L, "UUUVVVWWW", 2L, 24L),
      (4L, "untouched", 0L, 0L),
      (6L, "", 2L, 8L)))
  }

  test("duplicateSpans then cutSpans: the full ExactSubstr pipeline deduplicates the fixture") {
    import spark.implicits._
    val shared = "0123456789abcdefghijklmno"
    val fixture = Seq(
      (1L, "PPPPP" + shared + "QQQQQ"),
      (2L, "RRRRR" + shared + "SSSSS")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(fixture, "doc_id", "text", minLen = 10)
    val clean = Dedup.cutSpans(fixture, "doc_id", "text", spans)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(clean.toSeq == Seq((1L, "PPPPPQQQQQ"), (2L, "RRRRRSSSSS")),
      "drop-all policy removes the shared block from both docs")
  }

  private def contDocs = {
    import spark.implicits._
    Seq(
      (10L, "alpha beta gamma delta epsilon zeta", "en"), // container
      (11L, "beta gamma delta", "en"),                    // phrase fully inside 10
      (12L, "completely unrelated content here now", "en"),
      (20L, "one two three four", "en"),                  // exact dup pair
      (21L, "one two three four", "en")
    ).toDF("doc_id", "text", "lang")
  }

  test("containmentPairs: short doc embedded in long doc found where jaccard misses it") {
    val pairs = Dedup.containmentPairs(contDocs, "doc_id", "text", "lang", 2, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getDouble(3), r.getDouble(4))).sortBy(p => (p._1, p._2))
    // 11's shingles {beta gamma, gamma delta} are a strict subset of 10's
    // five shingles: cont_b = 1.0 but jaccard only 2/5 — below any
    // resemblance threshold that would find it
    assert(pairs.toSeq == Seq(
      (10L, 11L, 0.4, 1.0, 0.4),
      (20L, 21L, 1.0, 1.0, 1.0)))
    val resemblance = Dedup.jaccardPairs(contDocs, "doc_id", "text", "lang", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!resemblance.contains((10L, 11L)),
      "the asymmetric pair must be invisible to the jaccard miner at the same bar")
  }

  test("containmentDedup: drops the contained side; exact-size tie drops the larger id") {
    val kept = Dedup.containmentDedup(contDocs, "doc_id", "text", "lang", 2, 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L, 12L, 20L))
  }

  /** Checks a pair miner against its brute-force predicate over every
    * document pair, on both tiers of the dense path's broadcast gate:
    * the default and [[atScale]].
    */
  private def checkPairsExact(texts: Int => String, nDocs: Int)(
      mine: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      qualifies: (String, String) => Boolean): Unit = {
    import spark.implicits._
    val docs = (0 until nDocs).map(i => (i.toLong, texts(i), "en"))
      .toDF("doc_id", "text", "lang")
    def pairs = mine(docs).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = pairs
    assert(atScale(pairs) == got, "the at-scale tier found other pairs")
    val local = (0 until nDocs).flatMap { i => (i + 1 until nDocs).map(j => (i, j)) }
      .collect { case (i, j) if qualifies(texts(i), texts(j)) => (i.toLong, j.toLong) }
      .toSet
    assert(local.nonEmpty, "fixture must produce qualifying pairs")
    assert(got == local, s"candidate strategy lost or invented pairs: " +
      s"missing=${local -- got} extra=${got -- local}")
  }

  private def checkContainmentExact(texts: Int => String, nDocs: Int,
                                    threshold: Double): Unit = {
    def sh(t: String): Set[String] =
      t.split(" ").sliding(2).map(_.mkString(" ")).toSet
    checkPairsExact(texts, nDocs)(
      Dedup.containmentPairs(_, "doc_id", "text", "lang", 2, threshold),
      { (x, y) =>
        val (a, b) = (sh(x), sh(y))
        val shared = (a intersect b).size
        math.max(shared.toDouble / a.size, shared.toDouble / b.size) >= threshold
      })
  }

  /** Winnowing's brute force: md5 word k-gram hashes (the first 32 bits,
    * as `winnowedOverlapPairs` takes them), their window-w minima, and
    * at least `minShared` fingerprints in common.
    */
  private def checkWinnowingExact(texts: Int => String, nDocs: Int, k: Int, w: Int,
                                  minShared: Int, blockPath: Boolean): Unit = {
    def fps(t: String): Set[Long] = {
      val toks = t.trim.toLowerCase.split("\\s+")
      val grams = (0 to math.max(toks.length - k, 0)).map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(toks.slice(i, i + k).mkString(" ").getBytes("UTF-8"))
        java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
      }
      (0 to math.max(grams.length - w, 0)).map(j => grams.slice(j, j + w).min).toSet
    }
    def mine(df: org.apache.spark.sql.DataFrame) = {
      val pairs = Dedup.winnowedOverlapPairs(df, "doc_id", "text", "lang", k, w, minShared)
      // the fingerprint index explodes the persisted fingerprint sets (a
      // Generate over the cached table); the block join does not
      val indexed = pairs.queryExecution.optimizedPlan.collectFirst {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }.isDefined
      assert(indexed != blockPath,
        s"expected the ${if (blockPath) "block join" else "fingerprint index"}")
      pairs
    }
    checkPairsExact(texts, nDocs)(mine, (x, y) => (fps(x) intersect fps(y)).size >= minShared)
  }

  test("containmentPairs is EXACT on a dense small-vocab corpus (block-join path)") {
    // 60 docs over a 12-token universe: every gram is common, so
    // Σ|block|² < Σdf² and the cost model must pick the block join
    val vocab = "v w x y z p q r s t u k".split(" ")
    checkContainmentExact(i =>
      (0 until 4 + i % 5).map(j => vocab((i * 7 + j * 3) % vocab.length)).mkString(" "),
      nDocs = 60, threshold = 0.5)
  }

  test("winnowedOverlapPairs: a copied paragraph between otherwise-different docs is caught") {
    import spark.implicits._
    val para = "the winnowing guarantee covers every shared run of tokens"
    val docs = Seq(
      (1L, s"totally unrelated opening text here $para and some trailing words", "en"),
      (2L, s"$para with a different continuation entirely unlike the first", "en"),
      (3L, "nothing in common with either document at all whatsoever today", "en")
    ).toDF("doc_id", "text", "lang")
    val pairs = Dedup.winnowedOverlapPairs(docs, "doc_id", "text", "lang",
        k = 3, w = 4, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L)),
      s"only the copied-paragraph pair qualifies: ${pairs.toSeq}")
    // winnowing guarantee: a shared run of >= w + k - 1 = 6 tokens
    // must contribute at least one shared fingerprint — the 9-token
    // paragraph gives several
    assert(pairs.head._3 >= 2)
  }

  test("winnowing portable ≡ xxhash winnowing in SELECTION (same positions picked)") {
    import spark.implicits._
    import graft.functions.TextFunctions
    // both variants must select the same NUMBER of fingerprints per doc
    // (selection is hash-value-dependent, so sets differ, but the
    // window-minimum structure bounds count identically) and be
    // deterministic across evaluations
    val df = Seq(Tuple1("a b c d e f g h i j k l m n o p")).toDF("t")
    val p1 = df.select(TextFunctions.winnowingFingerprintsPortable(col("t"), 3, 4))
      .collect()(0).getSeq[Long](0)
    val p2 = df.select(TextFunctions.winnowingFingerprintsPortable(col("t"), 3, 4))
      .collect()(0).getSeq[Long](0)
    assert(p1 == p2 && p1.nonEmpty)
    val x = df.select(TextFunctions.winnowingFingerprints(col("t"), 3, 4))
      .collect()(0).getSeq[Long](0)
    // 14 grams, 11 windows → between ceil(11/4) and 11 distinct minima
    assert(p1.size >= 3 && p1.size <= 11 && x.size >= 3 && x.size <= 11)
  }

  test("containmentPairs is EXACT on a sparse unique-vocab corpus (prefix-filter path)") {
    // per-doc-unique tokens (df ≈ 1) except every 4th doc embeds a
    // slice of its predecessor — Σdf² ≪ Σ|block|² picks the inverted
    // index, and the asymmetric small-prefix→full-postings rule must
    // still find the embedded (short ⊆ long) pairs exactly
    def text(i: Int): String =
      if (i % 4 == 1) {
        val prev = (0 until 8).map(j => s"t${i - 1}x$j").mkString(" ")
        prev.split(" ").slice(2, 6).mkString(" ")
      } else (0 until 8).map(j => s"t${i}x$j").mkString(" ")
    checkContainmentExact(text, nDocs = 60, threshold = 0.8)
  }

  test("winnowedOverlapPairs is EXACT on a dense small-vocab corpus (block-join path)") {
    // 60 docs over a 2-token universe: four bigram fingerprints carry
    // every document (Σdf² = 7,830 > Σ|block|² = 3,600), so the cost
    // model must pick the block join; 510 of the 1,770 pairs qualify
    val vocab = "x y".split(" ")
    checkWinnowingExact(i =>
      (0 until 6 + i % 9).map(j => vocab((i * 7 + j) * (j + 3) / 5 % 2)).mkString(" "),
      nDocs = 60, k = 2, w = 2, minShared = 3, blockPath = true)
  }

  test("winnowedOverlapPairs is EXACT on a sparse unique-vocab corpus (fingerprint-index path)") {
    // per-doc-unique tokens except every 4th doc, which copies a run of
    // its predecessor: df ≈ 1 per fingerprint (Σdf² = 370 < Σ|block|²
    // = 3,600), so the index is cheaper; 15 pairs qualify
    def text(i: Int): String =
      if (i % 4 == 1) {
        val prev = (0 until 12).map(j => s"t${i - 1}x$j").mkString(" ")
        s"fresh${i}a " + prev.split(" ").slice(2, 10).mkString(" ") + s" fresh${i}b"
      } else (0 until 12).map(j => s"t${i}x$j").mkString(" ")
    checkWinnowingExact(text, nDocs = 60, k = 2, w = 3, minShared = 2, blockPath = false)
  }

  test("classed miners on degenerate input: no throw, no empty-set document, " +
    "one hot class is every within-class pair") {
    import spark.implicits._
    def frame(texts: Seq[String]) = texts.zipWithIndex
      .map { case (t, i) => (i.toLong + 1, t, "en") }.toDF("doc_id", "text", "lang")
    val hot = 5
    val fixtures = Seq(
      "empty" -> frame(Nil),
      "all-null" -> frame(Seq(null, null, null)),
      // 6 and 7 are the real pair; the rest have one token (1, 3, 8),
      // none (4, 5: a blank text's one token is "", which n = 1 keeps,
      // so 4 and 5 pair there too) or no text (2)
      "sub-n" -> frame(Seq("alpha", null, "beta", "   ", "",
        "the same four words", "The same four words", "gamma")),
      "one row" -> frame(Seq("just one document")),
      "hot class" -> frame(Seq.fill(hot)("every row says this")))
    def pairsOf(out: org.apache.spark.sql.DataFrame, score: String) =
      out.select(col("id_a"), col("id_b"), col(score).cast("double")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    for ((fixture, df) <- fixtures; n <- Seq(1, 2)) {
      def setless(items: org.apache.spark.sql.Column): Set[Long] =
        df.filter(coalesce(size(items), lit(0)) <= 0).select("doc_id").as[Long].collect().toSet
      val subN = if (n == 1) Seq((4L, 5L), (6L, 7L)) else Seq((6L, 7L))
      val miners = Seq(
        ("jaccardPairsClassed", setless(Dedup.hashedShingleSet(col("text"), n)), 1.0, subN,
          () => pairsOf(Dedup.jaccardPairsClassed(df, "doc_id", "text", "lang", 0.5, ngram = n),
            "jaccard")),
        ("minhashDupPairsClassed", setless(Dedup.hashedShingleSet(col("text"), n)), 1.0, subN,
          () => pairsOf(Dedup.minhashDupPairsClassed(df, "doc_id", "text", "lang", 0.8,
            ngram = n), "jaccard"))) ++
        // SimHash mines the token set without "" (it takes no n): run it once
        (if (n == 1) Seq(("simhashDupPairsSegmented",
          setless(Dedup.hashedShingleSet(col("text"), 1, removeEmpty = true)), 0.0,
          Seq((6L, 7L)),
          () => pairsOf(Dedup.simhashDupPairsSegmented(df, "doc_id", "text", 3), "hamming")))
        else Nil)
      for ((miner, degenerate, same, subNPairs, run) <- miners) {
        val at = s"$miner, n=$n, $fixture"
        val pairs = run()
        assert(!pairs.exists(p => degenerate(p._1) || degenerate(p._2)),
          s"$at: a pair holds a document with no shingles: $pairs")
        if (fixture == "hot class")
          assert(pairs.size == hot * (hot - 1) / 2 && pairs.forall(_._3 == same), s"$at: $pairs")
        if (fixture == "sub-n")
          assert(pairs.map(p => (p._1, p._2)).sorted == subNPairs, s"$at: $pairs")
      }
      val degenerate = setless(Dedup.hashedShingleSet(col("text"), n))
      // the incremental probe has no class table: two empty sets meet
      // 0/0 in its Jaccard, and the pair must drop, not throw
      if (fixture == "sub-n") {
        val index = Dedup.minhashIndex(df, "doc_id", "text", "lang", 0.8, ngram = n)
        val probed = Dedup.incrementalDupPairs(df, df, index, "doc_id", "text", "lang", 0.8,
            ngram = n)
          .select("corpus_id", "new_id").as[(Long, Long)].collect().toSet
        assert(probed == subN.flatMap(p => Seq(p, p.swap)).toSet,
          s"incrementalDupPairs, n=$n: $probed")
      }
      val clusters = Dedup.dedupClustersClassed(df, "doc_id", "text", "lang", 0.5, ngram = n)
        .select("member_ids").as[Seq[Long]].collect().toSeq
      val at = s"dedupClustersClassed, n=$n, $fixture"
      assert(!clusters.flatten.exists(degenerate), s"$at: $clusters")
      if (fixture == "hot class") assert(clusters == Seq((1L to hot).toSeq), s"$at: $clusters")
      if (fixture == "sub-n")
        assert(clusters.toSet == subN.map(p => Seq(p._1, p._2)).toSet, s"$at: $clusters")
      graft.Caches.unpersistAll()
    }
  }

  test("pairPartitions scales with the measured pair estimate, floored at the session default") {
    val default = spark.sessionState.conf.numShufflePartitions
    // small corpora keep the pinned-parallelism contract
    assert(Dedup.pairPartitions(spark, 0L) == default)
    assert(Dedup.pairPartitions(spark, 1000L) == default)
    // ~2^20 pairs per task: a 2^30-pair estimate needs 1024 tasks
    assert(Dedup.pairPartitions(spark, 1L << 30) == 1024)
    // 10× the estimate → 10× the fan-out (per-task state stays constant)
    val p1 = Dedup.pairPartitions(spark, 100L << 20)
    val p10 = Dedup.pairPartitions(spark, 1000L << 20)
    assert(p1 == 100 && p10 == 1000)
    // capped: past 2^16 tasks, launch overhead dominates and the
    // sort-based spill fallback takes over
    assert(Dedup.pairPartitions(spark, Long.MaxValue / 2) == (1 << 16))
  }
}
