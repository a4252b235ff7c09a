package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ScoringSpec extends SparkSpec {

  test("bm25 matches a hand-computed score on a tiny corpus") {
    import spark.implicits._
    // 3 docs; "cat" in docs 1 (tf=2, dl=4) and 2 (tf=1, dl=2); N=3, avgdl=3
    val df = Seq(
      (1L, "cat sat cat mat"),
      (2L, "cat dog"),
      (3L, "dog dog fox")).toDF("doc_id", "text")
    val idf = math.log(1.0 + (3 - 2 + 0.5) / (2 + 0.5))
    def norm(tf: Double, dl: Double) =
      tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / 3.0))
    val got = Scoring.bm25(df, "doc_id", "text", Seq("cat"))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(got.keySet == Set(1L, 2L))
    assert(math.abs(got(1L) - idf * norm(2, 4)) < 1e-12)
    assert(math.abs(got(2L) - idf * norm(1, 2)) < 1e-12)
    // longer doc with same tf scores lower (length normalization)
    val longer = Scoring.bm25(
      Seq((1L, "cat a b c d e f g h"), (2L, "cat a")).toDF("doc_id", "text"),
      "doc_id", "text", Seq("cat")).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(longer(1L) < longer(2L))
  }

  test("bm25 ignores docs without query terms; multi-term scores sum") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta"),
      (2L, "gamma delta")).toDF("doc_id", "text")
    val single = Scoring.bm25(df, "doc_id", "text", Seq("alpha"))
      .collect().map(r => r.getLong(0)).toSet
    assert(single == Set(1L))
    val multi = Scoring.bm25(df, "doc_id", "text", Seq("alpha", "beta"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(multi == Map(1L -> 2L))
  }

  test("tfIdf: a term in every doc has weight 0; rare terms weigh more") {
    import spark.implicits._
    val df = Seq(
      (1L, "common rare"),
      (2L, "common common"),
      (3L, "common other")).toDF("doc_id", "text")
    val w = Scoring.tfIdf(df, "doc_id", "text")
      .collect().map(r => (r.getString(1), r.getLong(0)) -> r.getDouble(3)).toMap
    assert(math.abs(w(("common", 1L))) < 1e-12) // idf = ln(3/3) = 0
    // tf=1 · ln(3/1); tolerance: Spark's codegen'd log is StrictMath-
    // based and may differ from Math.log in the last ulp
    assert(math.abs(w(("rare", 1L)) - math.log(3.0)) < 1e-14)
    assert(w(("rare", 1L)) > w(("other", 3L)) - 1e-12)
  }

  test("vocabTable: tf counts occurrences, df counts docs, empties dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, "cat sat cat"),
      (2L, "cat dog"),
      (3L, ""),
      (4L, "   ")).toDF("doc_id", "text")
    val got = Scoring.vocabTable(df, "doc_id", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("cat" -> ((3L, 2L)), "sat" -> ((1L, 1L)), "dog" -> ((1L, 1L))),
      got.toString)
    // approx df stays within its advertised error on a small vocab
    val approx = Scoring.vocabTable(df, "doc_id", "text", exactDf = false)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(approx("cat") == 2L && approx("sat") == 1L)
  }

  test("pmiCollocations matches a hand-computed PMI; minCount floors") {
    import spark.implicits._
    // bigrams: (a b)×2, (b a)×1, (b c)×1 → N_bi=4; unigrams a×2, b×3, c×1 → N_uni=6
    val df = Seq((1L, "a b a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = Scoring.pmiCollocations(df, "text", minCount = 1)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(3)).toMap
    val expAB = math.log((2.0 / 4.0) / ((2.0 / 6.0) * (3.0 / 6.0)))
    assert(got.keySet == Set(("a", "b"), ("b", "a"), ("b", "c")))
    assert(math.abs(got(("a", "b")) - expAB) < 1e-12)
    // a count floor of 2 keeps only the repeated pair — and the totals
    // are computed AFTER the floor (they describe the mined table)
    val floored = Scoring.pmiCollocations(df, "text", minCount = 2)
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(floored.toSeq == Seq(("a", "b")))
  }

  test("pmiCollocations: single-token and empty docs contribute no bigram") {
    import spark.implicits._
    val df = Seq((1L, "solo"), (2L, ""), (3L, "x y")).toDF("doc_id", "text")
    val got = Scoring.pmiCollocations(df, "text", minCount = 1).collect()
    assert(got.map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("x", "y")))
  }

  test("tokenKlDivergence: identical slices diverge 0; KL >= 0 and asymmetric") {
    import spark.implicits._
    val df = Seq(
      (1L, "p", "a a b"), (2L, "q", "a a b"),      // identical distributions
      (3L, "r", "a a a a b"), (4L, "s", "a b c d") // very different
    ).toDF("id", "slice", "text")
    val same = Scoring.tokenKlDivergence(df, "slice", "text", "p", "q")
      .collect()(0)
    assert(math.abs(same.getAs[Double]("kl_divergence")) < 1e-12)
    assert(same.getAs[Long]("p_tokens") == 3L && same.getAs[Long]("q_tokens") == 3L)
    val rs = Scoring.tokenKlDivergence(df, "slice", "text", "r", "s")
      .collect()(0).getAs[Double]("kl_divergence")
    val sr = Scoring.tokenKlDivergence(df, "slice", "text", "s", "r")
      .collect()(0).getAs[Double]("kl_divergence")
    assert(rs > 0 && sr > 0 && math.abs(rs - sr) > 1e-6)
  }

  test("tokenKlDivergence smoothing: a token absent from q stays finite") {
    import spark.implicits._
    val df = Seq((1L, "p", "only here"), (2L, "q", "other words"))
      .toDF("id", "slice", "text")
    val kl = Scoring.tokenKlDivergence(df, "slice", "text", "p", "q")
      .collect()(0).getAs[Double]("kl_divergence")
    assert(!kl.isNaN && !kl.isInfinite && kl > 0)
  }

  test("heavyHitters returns the exact top-k when counts clear the MG bar") {
    import spark.implicits._
    // zipf-ish: item i appears 2^(10-i) times — every top-5 count far
    // exceeds N/(capacity+1)
    val rows = (0 until 10).flatMap(i => Seq.fill(1 << (10 - i))(s"item_$i"))
    val df = spark.sparkContext.parallelize(rows, 8).toDF("item")
    val got = Scoring.heavyHitters(df, "item", k = 5, capacity = 32)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == (0 until 5).map(i => s"item_$i" -> (1L << (10 - i))))
  }

  test("heavyHitters: exact counts, deterministic tie-break, nulls skipped") {
    import spark.implicits._
    val df = (Seq.fill(3)("b") ++ Seq.fill(3)("a") ++ Seq.fill(2)("c") ++
      Seq[String](null, null)).toDF("item")
    val got = Scoring.heavyHitters(df, "item", k = 3, capacity = 8)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq("a" -> 3L, "b" -> 3L, "c" -> 2L))
  }

  test("misra_gries sketch survives partial/final merge across many partitions") {
    import spark.implicits._
    // 40% 'hot' guarantees survival at capacity 4 regardless of the
    // partitioning of the remaining long tail
    val rows = Seq.fill(400)("hot") ++ (0 until 600).map(i => s"cold_$i")
    val df = spark.sparkContext.parallelize(scala.util.Random.shuffle(rows), 32).toDF("item")
    val sketch = df.agg(call_function("misra_gries", col("item"), lit(4)).as("sk"))
      .select(explode(col("sk")).as("c")).select(col("c.item"))
      .collect().map(_.getString(0))
    assert(sketch.contains("hot"), s"MG lost a 40% item: ${sketch.mkString(",")}")
    assert(sketch.length <= 4)
  }

  test("bm25 plan: dfreq and corpus stats are broadcast, tf side is not") {
    import spark.implicits._
    val df = Seq((1L, "x y"), (2L, "y z")).toDF("doc_id", "text")
    val plan = Scoring.bm25(df, "doc_id", "text", Seq("y"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"))
  }

  test("invertedIndex: exact df, sorted capped postings, hapax pruning") {
    import spark.implicits._
    val docs = Seq((10L, "a b"), (2L, "a c"), (3L, "a b b"), (4L, ""))
      .toDF("doc_id", "text")
    val got = Scoring.invertedIndex(docs, "doc_id", "text",
        minDf = 2L, maxPostings = 2)
      .orderBy("token").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    // 'a' df=3 capped to the 2 lowest ids; 'b' df=2 (duplicate tokens in
    // one doc count once); 'c' pruned at minDf; '' never indexed
    assert(got.toSeq == Seq(("a", 3L, "2,3"), ("b", 2L, "3,10")))
  }

  test("invertedIndex: the posting cap does not distort doc_freq") {
    import spark.implicits._
    val docs = (1L to 9L).map(i => (i, "tok")).toDF("doc_id", "text")
    val got = Scoring.invertedIndex(docs, "doc_id", "text", maxPostings = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(got.toSeq == Seq(("tok", 9L, "1,2,3")))
  }

  test("bigramCrossEntropy matches hand-computed MLE bigram scores") {
    import spark.implicits._
    // corpus bigrams: d1 "a b a b" -> (a,b) x2, (b,a); d2 "a b c" -> (a,b), (b,c)
    // model: c(a,b)=3 c(b,a)=1 c(b,c)=1; contexts c(a.)=3, c(b.)=2
    // P(b|a)=1 (log2=0), P(a|b)=1/2, P(c|b)=1/2 (log2=-1)
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = Scoring.bigramCrossEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L)._1 == 3L && got(2L)._1 == 2L)
    assert(math.abs(got(1L)._2 - 1.0 / 3) < 1e-12) // -(2*0 + 1*(-1))/3
    assert(math.abs(got(2L)._2 - 0.5) < 1e-12)     // -(0 + (-1))/2
  }

  test("bigramCrossEntropy: fully deterministic corpus scores 0; short docs drop") {
    import spark.implicits._
    val df = Seq((1L, "x y"), (2L, "x y"), (3L, "solo"), (4L, "")).toDF("doc_id", "text")
    val got = Scoring.bigramCrossEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // P(y|x) = 1 everywhere -> H = 0; one-token and empty docs have no
    // bigrams and produce no row
    assert(got.keySet == Set(1L, 2L))
    assert(got.values.forall(v => math.abs(v) < 1e-12))
  }

  test("bigramCrossEntropy: repeated doc bigrams weight the mean by multiplicity") {
    import spark.implicits._
    // model over both docs: c(a,b)=3, c(a,c)=1 -> P(b|a)=3/4, P(c|a)=1/4
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "a c"))
      .toDF("doc_id", "text")
    val got = Scoring.bigramCrossEntropy(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(math.abs(got(1L) - (-math.log(3.0 / 4) / math.log(2))) < 1e-12)
    assert(math.abs(got(4L) - 2.0) < 1e-12) // -log2(1/4)
  }

  test("clusterLabels: hand-computed lift, per-doc distinct df, minDocs floor") {
    import spark.implicits._
    val docs = Seq((1L, "x x y"), (2L, "x z"), (3L, "y z"), (4L, "z w"))
      .toDF("doc_id", "text")
    val assign = Seq((1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"))
      .toDF("id", "cl")
    val got = Scoring.clusterLabels(assign, "id", "cl", docs, "doc_id", "text",
        topN = 2, minDocs = 1)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    // df: x=2 (both A; "x x" counts once), y=2, z=3, w=1; n=4, n_A=n_B=2
    // A: x (2/2)/(2/4)=2.0 > y (1/2)/(2/4)=1.0 > z 0.667
    // B: w (1/2)/(1/4)=2.0 > z (2/2)/(3/4)=1.333 > y 1.0
    assert(got == Seq(
      ("A", 1, "x", 2L, 2.0), ("A", 2, "y", 1L, 1.0),
      ("B", 1, "w", 1L, 2.0), ("B", 2, "z", 2L, 2.0 / 1.5)))
    // minDocs = 2 drops every hapax-evidence label (w, and A's y/z)
    val floored = Scoring.clusterLabels(assign, "id", "cl", docs, "doc_id", "text",
        topN = 5, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(floored == Set(("A", "x"), ("B", "z")))
    // unassigned docs contribute to corpus df but join out of clusters
    val partial = Scoring.clusterLabels(assign.filter(col("id") < 3L), "id", "cl",
        docs, "doc_id", "text", topN = 5, minDocs = 1)
      .collect().map(r => r.getString(0)).toSet
    assert(partial == Set("A"))
  }

  test("stupidBackoff: all three backoff rungs plus the OOV floor, hand-checked") {
    import spark.implicits._
    // model: "a b c" x2 and "b c d" — T = 9 tokens
    val train = Seq((1L, "a b c"), (2L, "a b c"), (3L, "b c d")).toDF("id", "text")
    // scored doc hits every rung:
    //   (a b c): trigram in model        -> c3/c2(a,b) = 2/2 = 1
    //   (b c d): trigram in model        -> c3/c2(b,c) = 1/3
    //   (c d a): unseen trigram, bigram (d,a) unseen, unigram a seen
    //            -> 0.4^2 * c1(a)/T = 0.16 * 2/9
    //   (d a zz): everything unseen, zz OOV -> 0.16 * 1/9
    val scored = Seq((10L, "a b c d a zz")).toDF("id", "text")
    val got = Scoring.stupidBackoff(train, scored, "id", "text")
      .collect()
    assert(got.length == 1)
    val r = got(0)
    assert(r.getLong(0) == 10L)
    assert(r.getLong(1) == 4L, "4 trigrams scored")
    val expect = -(math.log(1.0) / math.log(2) + math.log(1.0 / 3.0) / math.log(2) +
      math.log(0.4 * 0.4 * 2.0 / 9.0) / math.log(2) +
      math.log(0.4 * 0.4 * 1.0 / 9.0) / math.log(2)) / 4.0
    assert(math.abs(r.getDouble(2) - expect) < 1e-9, s"sb_cost ${r.getDouble(2)} vs $expect")
  }

  test("stupidBackoff: bigram rung fires when trigram misses but bigram hits") {
    import spark.implicits._
    val train = Seq((1L, "x a b"), (2L, "y a b")).toDF("id", "text")
    // (z a b): trigram (z,a,b) unseen; bigram (a,b) count 2; c1(a) = 2
    //          -> 0.4 * 2/2 = 0.4
    val scored = Seq((10L, "z a b")).toDF("id", "text")
    val r = Scoring.stupidBackoff(train, scored, "id", "text").collect()(0)
    assert(r.getLong(1) == 1L)
    val expect = -math.log(0.4) / math.log(2)
    assert(math.abs(r.getDouble(2) - expect) < 1e-9)
  }

  test("stupidBackoff: docs under three tokens yield no row") {
    import spark.implicits._
    val train = Seq((1L, "a b c")).toDF("id", "text")
    val scored = Seq((10L, "a b"), (11L, "a"), (12L, "a b c")).toDF("id", "text")
    val ids = Scoring.stupidBackoff(train, scored, "id", "text")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(12L))
  }

  test("hashedFeatures matches a local md5 reference, drops zero-sum buckets") {
    import spark.implicits._
    def bucketSign(w: String, n: Int): (Long, Long) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hx = md.digest(w.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hx.substring(0, 8), 16) % n,
        if (java.lang.Long.parseLong(hx.substring(8, 16), 16) % 2 == 0) 1L else -1L)
    }
    val docs = Seq((1L, "spark scan merge spark spark"), (2L, "merge row")).toDF("id", "text")
    val got = Scoring.hashedFeatures(docs, "id", "text", nBuckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // local reference: signed tf per (doc, bucket), zero-sums removed
    val want = Seq(
      1L -> Seq("spark", "scan", "merge", "spark", "spark"),
      2L -> Seq("merge", "row"))
      .flatMap { case (id, ws) => ws.map { w =>
        val (b, s) = bucketSign(w, 64); ((id, b), s) } }
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).filter(_._2 != 0L).toMap
    assert(got == want)
    // a token pair colliding with opposite signs cancels out entirely
    val canceller = (0 to 5000).map(i => s"t$i").find { cand =>
      val (b0, s0) = bucketSign("spark", 64)
      val (b1, s1) = bucketSign(cand, 64)
      b0 == b1 && s1 == -s0 && cand != "spark"
    }
    assert(canceller.isDefined, "search space should contain an opposite-sign collision")
    val cdf = Seq((9L, s"spark ${canceller.get}")).toDF("id", "text")
    val cancelled = Scoring.hashedFeatures(cdf, "id", "text", nBuckets = 64)
      .filter(col("bucket") === bucketSign("spark", 64)._1)
    assert(cancelled.count() == 0L, "fully-cancelled bucket must be dropped")
  }

  test("mutualInformation: independent columns → 0; identical columns → entropy") {
    import spark.implicits._
    // perfectly independent 2x2 design, uniform
    val ind = Seq(("a", "x"), ("a", "y"), ("b", "x"), ("b", "y")).toDF("u", "v")
    val mi0 = Scoring.mutualInformation(ind, "u", "v").collect()(0)
    assert(mi0.getAs[Long]("n") == 4 && mi0.getAs[Long]("n_cells") == 4)
    assert(math.abs(mi0.getAs[Double]("mi")) < 1e-12)
    // y == x: MI equals the entropy of x = ln 2 for a uniform binary column
    val dep = Seq(("a", "a"), ("a", "a"), ("b", "b"), ("b", "b")).toDF("u", "v")
    val mi1 = Scoring.mutualInformation(dep, "u", "v")
      .collect()(0).getAs[Double]("mi")
    assert(math.abs(mi1 - math.log(2)) < 1e-12, s"got $mi1")
  }

  test("kneserNeyBigram: independent re-derivation + the continuation-count effect") {
    import spark.implicits._
    // 'fran' always follows 'san' (the paper's Francisco case);
    // 'dog' follows three different contexts
    val docs = Seq(
      (1L, "san fran san fran the dog a dog"),
      (2L, "my dog the cat"),
      (3L, "san fran")).toDF("doc_id", "text")
    val got = Scoring.kneserNeyBigram(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // independent reimplementation: plain Scala maps over the same corpus
    val corpus = Seq("san fran san fran the dog a dog".split(" ").toSeq,
      "my dog the cat".split(" ").toSeq, "san fran".split(" ").toSeq)
    val bigrams = corpus.flatMap(t => t.zip(t.tail))
    val c12 = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c12.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1fw = c12.keys.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val n1bw = c12.keys.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val tot = c12.size.toLong
    def llq(w1: String, w2: String): Long = {
      val p = (math.max(c12((w1, w2)).toDouble - 0.75, 0.0) / c1(w1)) +
        (((0.75 * n1fw(w1)) / c1(w1)) * (n1bw(w2).toDouble / tot))
      BigDecimal(math.log(p) * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    corpus.zipWithIndex.foreach { case (t, i) =>
      val bgs = t.zip(t.tail)
      val expect = (bgs.length.toLong, bgs.map { case (a, b) => llq(a, b) }.sum)
      assert(got(i + 1L)._1 == expect._1 && got(i + 1L)._2 == expect._2,
        s"doc ${i + 1}: got ${got(i + 1L)}, expected $expect")
    }
    // the Kneser-Ney point: 'dog' (3 distinct left contexts) gets a
    // larger continuation share than 'fran' (only ever after 'san'),
    // even though both appear 3 and 3 times — compare the fallback
    // factors directly
    assert(n1bw("dog") == 3 && n1bw("fran") == 1)
    assert(n1bw("dog").toDouble / tot > n1bw("fran").toDouble / tot,
      "dog's continuation probability must exceed fran's despite equal frequency")
  }
}
