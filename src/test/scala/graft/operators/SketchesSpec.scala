package graft.operators

import graft.SparkSpec
import graft.expressions.Bitmap64
import org.apache.spark.sql.functions._

class SketchesSpec extends SparkSpec {

  // deterministic key stream: clustered lows (exercise one chunk densely)
  // plus scattered highs and negatives (many sparse chunks)
  private def keys: Seq[Long] =
    (0L until 6000L) ++                       // chunk 0 dense (crosses 4096 promote)
      (0L until 500L).map(i => i * 70001L) ++ // scattered sparse chunks
      (1L to 50L).map(i => -i * 123457L) ++   // negative keys
      (0L until 6000L)                        // exact repeats — must not double-count

  test("Bitmap64: exact over promote boundary, negatives, repeats; wire roundtrip") {
    val sk = Bitmap64.empty()
    keys.foreach(Bitmap64.add(sk, _))
    val distinct = keys.toSet
    val bytes = Bitmap64.serialize(sk)
    assert(Bitmap64.cardinality(bytes) == distinct.size.toLong)
    // roundtrip re-serializes byte-identically (deterministic wire format)
    assert(java.util.Arrays.equals(Bitmap64.serialize(Bitmap64.deserialize(bytes)), bytes))
    // membership straight off the wire, present and absent, across chunk edges
    Seq(0L, 4095L, 4096L, 5999L, 70001L * 499, -123457L).foreach(v =>
      assert(Bitmap64.contains(bytes, v), s"expected present: $v"))
    Seq(6000L, 65536L * 3 + 1, -1L, 70001L * 500).foreach(v =>
      assert(!Bitmap64.contains(bytes, v), s"expected absent: $v"))
  }

  test("Bitmap64: merge of disjoint-and-overlapping sketches equals direct build") {
    val (a, b) = keys.splitAt(keys.length / 3) // uneven, overlapping content
    val skA = Bitmap64.empty(); a.foreach(Bitmap64.add(skA, _))
    val skB = Bitmap64.empty(); b.foreach(Bitmap64.add(skB, _))
    Bitmap64.mergeInto(skA, skB)
    val direct = Bitmap64.empty(); keys.foreach(Bitmap64.add(direct, _))
    assert(java.util.Arrays.equals(Bitmap64.serialize(skA), Bitmap64.serialize(direct)))
  }

  test("bitmapShards + bitmapRollup: exact distinct, merge == cold rebuild byte-for-byte") {
    import spark.implicits._
    val df = keys.zipWithIndex
      .map { case (k, i) => (s"g${i % 3}", s"d${i % 5}", k) }
      .toDF("grp", "shard", "key")
    val shards = Sketches.bitmapShards(df, Seq(col("grp"), col("shard")), col("key"))
    assert(shards.count() == 15) // 3 groups x 5 shards
    val rolled = Sketches.bitmapRollup(shards, Seq(col("grp")))
    val expected = df.groupBy("grp")
      .agg(countDistinct(col("key")).as("exact"),
        call_function("bitmap_build", col("key")).as("direct"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getAs[Array[Byte]](2)))).toMap
    rolled.collect().foreach { r =>
      val (exact, direct) = expected(r.getAs[String]("grp"))
      assert(r.getAs[Long]("n_distinct") == exact)
      assert(r.getAs[Long]("n_shards") == 5L)
      // the incremental union must be indistinguishable from a cold re-scan
      assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("sketch"), direct))
    }
  }

  test("bitmap_contains/bitmap_cardinality as SQL functions") {
    import spark.implicits._
    val row = Seq(1L, 5L, 100000L, 1L).toDF("k")
      .agg(call_function("bitmap_build", col("k")).as("sk"))
      .select(
        call_function("bitmap_cardinality", col("sk")).as("n"),
        call_function("bitmap_contains", col("sk"), lit(5L)).as("has5"),
        call_function("bitmap_contains", col("sk"), lit(6L)).as("has6"))
      .collect()(0)
    assert(row.getLong(0) == 3L && row.getBoolean(1) && !row.getBoolean(2))
  }

  test("Bitmap64.andCardinality: all container-mode pairings match set intersection") {
    def sk(vals: Iterable[Long]): Array[Byte] = {
      val s = Bitmap64.empty(); vals.foreach(Bitmap64.add(s, _)); Bitmap64.serialize(s)
    }
    // chunk 0 dense in A (5000 > promote) vs sparse in B; chunk 1
    // sparse in both; chunk 2 only in A; chunk 3 dense in both
    val a = (0L until 5000L) ++ (65536L to 65600L by 2) ++ Seq(131072L) ++
      (196608L until 201700L)
    val b = (2500L until 7000L) ++ (65536L to 65600L by 3) ++
      (196608L until 201800L by 1)
    val expected = (a.toSet intersect b.toSet).size.toLong
    assert(Bitmap64.andCardinality(sk(a), sk(b)) == expected)
    assert(Bitmap64.andCardinality(sk(b), sk(a)) == expected, "symmetric")
    assert(Bitmap64.andCardinality(sk(a), sk(Seq(999999999L))) == 0L, "disjoint")
  }

  test("bitmap retention end-to-end: sketch intersection == distinct-user intersection") {
    import spark.implicits._
    val df = (0 until 2000).map { i =>
      (s"g${i % 2}", i % 3 == 0, (i % 97).toLong) // period flag, user
    }.toDF("grp", "p1", "user")
    val got = df.groupBy("grp")
      .agg(call_function("bitmap_build", when(col("p1"), col("user"))).as("a"),
        call_function("bitmap_build", when(!col("p1"), col("user"))).as("b"))
      .select(col("grp"),
        call_function("bitmap_and_cardinality", col("a"), col("b")).as("ret"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = df.collect().groupBy(_.getString(0)).map { case (g, rows) =>
      val p1 = rows.filter(_.getBoolean(1)).map(_.getLong(2)).toSet
      val p2 = rows.filterNot(_.getBoolean(1)).map(_.getLong(2)).toSet
      g -> (p1 intersect p2).size.toLong
    }
    assert(got == exact)
  }

  test("rollingDistinct: hand-computed trailing windows; window sketch == direct build") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val rows = Seq(
      (d("2024-01-01"), 1L), (d("2024-01-01"), 2L),
      (d("2024-01-02"), 2L), (d("2024-01-02"), 3L),
      (d("2024-01-03"), 4L)).toDF("day", "user")
    val shards = Sketches.bitmapShards(rows, Seq(col("day")), col("user"))
    val got = Sketches.rollingDistinct(shards, "day", windowDays = 2)
      .collect().map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getAs[Array[Byte]]("sketch")))).toMap
    assert(got("2024-01-01")._1 == 2L)
    assert(got("2024-01-02")._1 == 3L, "{1,2} ∪ {2,3}")
    assert(got("2024-01-03")._1 == 3L, "{2,3} ∪ {4}")
    // the emitted window sketch is byte-identical to a cold build over
    // the window's raw keys (the union-≡-rebuild bitmap guarantee)
    val direct = rows.filter(col("day") >= d("2024-01-02"))
      .agg(call_function("bitmap_build", col("user")).as("sk"))
      .collect().head.getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(got("2024-01-03")._2, direct))
    // a one-day window degenerates to the shard table itself
    val w1 = Sketches.rollingDistinct(shards, "day", windowDays = 1)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(w1 == Map("2024-01-01" -> 2L, "2024-01-02" -> 2L, "2024-01-03" -> 1L))
  }

  test("cohortRetention: hand-computed matrix incl. explicit zero cells") {
    import spark.implicits._
    def d(s: String) = java.sql.Date.valueOf(s)
    val (w0, w1, w2) = (d("2024-01-01"), d("2024-01-08"), d("2024-01-15"))
    // u1: w0,w1,w2; u2: w0,w2; u3: w1 only
    val act = Seq((w0, 1L), (w1, 1L), (w2, 1L), (w0, 2L), (w2, 2L), (w1, 3L))
      .toDF("week", "user")
    val got = Sketches.cohortRetention(act, "user", "week", 7, maxOffset = 4)
      .collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got(("2024-01-01", 0L)) == ((2L, 2L, 1.0)))
    assert(got(("2024-01-01", 1L)) == ((2L, 1L, 0.5)), "only u1 returned in w1")
    assert(got(("2024-01-01", 2L)) == ((2L, 2L, 1.0)), "u2 came back in w2")
    assert(got(("2024-01-08", 0L)) == ((1L, 1L, 1.0)))
    assert(got(("2024-01-08", 1L)) == ((1L, 0L, 0.0)),
      "existing period with no returning members is an explicit zero cell")
    assert(got.size == 5, "cells exist only for observed periods within the offset cap")
  }

  test("DDSketch.psi: zero on identical, hand-computed two-bin case, alpha refusal") {
    import graft.expressions.DDSketch
    def sk(vals: Seq[Double], alpha: Double = 0.01): DDSketch.Sketch = {
      val s = new DDSketch.Sketch(alpha); vals.foreach(s.add(_)); s
    }
    val a = sk(Seq(1.0, 1.0, 2.0))
    assert(DDSketch.psi(a, sk(Seq(1.0, 1.0, 2.0))) == 0.0)
    // A: bins {b(1): 2/3, b(2): 1/3}; B swaps -> psi = (2/3)·ln 2
    val handPsi = (2.0 / 3) * math.log(2.0)
    assert(math.abs(DDSketch.psi(a, sk(Seq(1.0, 2.0, 2.0))) - handPsi) < 1e-12)
    // a full shift screams; equal-alpha is enforced
    assert(DDSketch.psi(a, sk(Seq(1000.0, 2000.0))) > 5)
    intercept[IllegalArgumentException](DDSketch.psi(a, sk(Seq(1.0), alpha = 0.02)))
  }

  test("DDSketch: relative-error bound across 9 orders of magnitude, sign handling") {
    import graft.expressions.DDSketch
    // log-spread positives: heavy tails are exactly where rank-error
    // sketches lose value accuracy and DDSketch must not
    val values = (0 until 5000).map(i => math.pow(10.0, -3.0 + 9.0 * i / 4999.0))
    val sk = new DDSketch.Sketch(0.01)
    values.foreach(sk.add(_))
    val sorted = values.sorted
    Seq(0.01, 0.25, 0.5, 0.9, 0.99, 1.0).foreach { q =>
      val trueV = sorted(math.round(q * (sorted.size - 1)).toInt)
      val est = sk.quantile(q)
      assert(math.abs(est / trueV - 1) <= 0.01 + 1e-9,
        s"q=$q: est $est vs true $trueV breaks the alpha bound")
    }
    // mixed signs + zeros: orderings preserved, zero band answered as 0
    val mixed = new DDSketch.Sketch(0.01)
    Seq(-100.0, -1.0, 0.0, 0.0, 1.0, 100.0).foreach(mixed.add(_))
    assert(mixed.quantile(0.0) < -99 && mixed.quantile(1.0) > 99)
    assert(mixed.quantile(0.5) == 0.0)
  }

  test("DDSketch: shard union byte-identical to direct build; collapse bounds size") {
    import graft.expressions.DDSketch
    val values = (0 until 3000).map(i => math.pow(10.0, -2.0 + 6.0 * i / 2999.0))
    val direct = new DDSketch.Sketch(0.01)
    values.foreach(direct.add(_))
    val parts = values.grouped(700).map { chunk =>
      val s = new DDSketch.Sketch(0.01); chunk.foreach(s.add(_)); s
    }.toSeq
    val merged = parts.head
    parts.tail.foreach(merged.mergeFrom)
    assert(java.util.Arrays.equals(merged.serialize(), direct.serialize()),
      "no-collapse regime: bin-wise union must equal the one-pass build")
    // wire roundtrip
    assert(java.util.Arrays.equals(
      DDSketch.deserialize(direct.serialize()).serialize(), direct.serialize()))
    // collapse: more distinct bins than MaxBins — size stays bounded and
    // the TAIL keeps its guarantee (collapse folds the smallest bins)
    val wide = new DDSketch.Sketch(0.01)
    val gamma = wide.gamma
    val big = (0 until DDSketch.MaxBins + 500).map(i => math.pow(gamma, i + 1.0))
    big.foreach(wide.add(_))
    assert(wide.pos.size() <= DDSketch.MaxBins)
    val sortedBig = big.sorted
    val trueP99 = sortedBig(math.round(0.99 * (sortedBig.size - 1)).toInt)
    assert(math.abs(wide.quantile(0.99) / trueP99 - 1) <= 0.01 + 1e-9)
  }

  test("ddsketchShards + ddsketchRollup: p50/p95/p99 within alpha of exact") {
    import spark.implicits._
    val df = (0 until 20000)
      .map(i => (s"g${i % 3}", s"d${i % 5}", math.pow(10.0, (i % 1000) / 200.0)))
      .toDF("grp", "shard", "v")
    val rolled = Sketches.ddsketchRollup(
      Sketches.ddsketchShards(df, Seq(col("grp"), col("shard")), col("v")),
      Seq(col("grp"))).collect()
    val exact = df.collect().groupBy(_.getString(0))
      .map { case (g, rows) => (g, rows.map(_.getDouble(2)).sorted) }
    rolled.foreach { r =>
      val sorted = exact(r.getAs[String]("grp"))
      assert(r.getAs[Long]("n_shards") == 5L)
      Seq(("p50", 0.5), ("p95", 0.95), ("p99", 0.99)).foreach { case (cn, q) =>
        val trueV = sorted(math.round(q * (sorted.length - 1)).toInt)
        val est = r.getAs[Double](cn)
        assert(math.abs(est / trueV - 1) <= 0.01 + 1e-9,
          s"$cn: est $est vs true $trueV for ${r.getAs[String]("grp")}")
      }
    }
  }

  test("hllShards + hllRollup: estimates within 2% of exact, rollup deterministic") {
    import spark.implicits._
    val df = (0L until 20000L).map(k => (s"s${k % 4}", k % 7001L)).toDF("shard", "key")
    def roll() = Sketches.hllRollup(
      Sketches.hllShards(df, Seq(col("shard"), (col("key") % 10).as("sub")), col("key")),
      Seq(col("shard"))).collect()
      .map(r => (r.getAs[String]("shard"), r.getAs[Long]("approx_distinct"))).toMap
    val rolled = roll()
    val direct = df.groupBy("shard")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("key"), lit(12))).as("est"),
        countDistinct(col("key")).as("exact"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    direct.foreach { case (shard, (directEst, exact)) =>
      val est = rolled(shard)
      // both routes land within the lgK=12 error bar; they need NOT be
      // equal — a streamed sketch answers with the HIP estimator, a
      // unioned one with the composite estimate (registers merge
      // losslessly, the estimator changes)
      assert(math.abs(est - exact.toDouble) / exact < 0.02,
        s"union estimate $est vs exact $exact off by >2%")
      assert(math.abs(directEst - exact.toDouble) / exact < 0.02,
        s"direct estimate $directEst vs exact $exact off by >2%")
    }
    // merge order / partitioning must not change the answer
    assert(roll() == rolled)
  }

  test("KmvSketch: exact below k for long and string keys; nulls skipped") {
    import spark.implicits._
    val df = (0L until 150L).map(i => (i % 100, s"u${i % 100}"))
      .toDF("lk", "sk")
      .union(Seq((java.lang.Long.valueOf(5L).longValue(), null.asInstanceOf[String]))
        .toDF("lk", "sk"))
    val r = df.agg(
      call_function("kmv_cardinality",
        call_function("kmv_build", col("lk"), lit(256))).as("el"),
      call_function("kmv_cardinality",
        call_function("kmv_build", col("sk"), lit(256))).as("es"))
      .collect().head
    // 100 distinct keys < k = 256: θ = 1, the sketch IS the set — exact
    assert(r.getDouble(0) == 100.0)
    assert(r.getDouble(1) == 100.0, "null string key must be skipped")
  }

  test("KmvSketch: full-sketch estimate within the O(1/√k) band; hand-replayed estimator") {
    import graft.expressions.KmvSketch
    val n = 20000
    val k = 512
    val b = new KmvSketch.Buffer(k)
    (0 until n).foreach(i => b.add(KmvSketch.hash60(i.toString)))
    val est = b.estimate
    assert(math.abs(est - n) / n < 3.0 / math.sqrt(k.toDouble),
      s"estimate $est vs $n outside 3/√k")
    // replay the estimator convention by hand: (k−1)/u(k-th smallest)
    val sorted = (0 until n).map(i => KmvSketch.hash60(i.toString)).distinct.sorted
    val expected = (k - 1) / (sorted(k - 1) / 1152921504606846976.0)
    assert(est == expected)
  }

  test("KmvSketch: shard union byte-identical to cold build; SQL merge path") {
    import spark.implicits._
    val df = (0L until 5000L).map(i => (s"s${i % 7}", i % 3001L)).toDF("shard", "key")
    val rolled = df.groupBy("shard")
      .agg(call_function("kmv_build", col("key"), lit(128)).as("sk"))
      .agg(call_function("kmv_merge_agg", col("sk")).as("sk"))
      .collect().head.getAs[Array[Byte]]("sk")
    val cold = df.agg(call_function("kmv_build", col("key"), lit(128)).as("sk"))
      .collect().head.getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(rolled, cold),
      "k-smallest of pooled k-smallests must equal k-smallest of the union")
  }

  test("KmvSketch: set ops exact when both sketches are below k (θ = 1)") {
    import graft.expressions.KmvSketch
    val a = new KmvSketch.Buffer(256)
    val b = new KmvSketch.Buffer(256)
    (0 until 100).foreach(i => a.add(KmvSketch.hash60(s"k$i")))
    (60 until 180).foreach(i => b.add(KmvSketch.hash60(s"k$i")))
    val sa = KmvSketch.serialize(a)
    val sb = KmvSketch.serialize(b)
    assert(KmvSketch.andEstimate(sa, sb) == 40.0)
    assert(KmvSketch.orEstimate(sa, sb) == 180.0)
    assert(KmvSketch.andEstimate(sa, sa) == 100.0)
    assert(KmvSketch.orEstimate(sa, KmvSketch.serialize(new KmvSketch.Buffer(256))) == 100.0)
  }

  test("KmvSketch: difference exact below k; A\\A = 0; A\\∅ = |A|; near truth when full") {
    import graft.expressions.KmvSketch
    val a = new KmvSketch.Buffer(256)
    val b = new KmvSketch.Buffer(256)
    (0 until 100).foreach(i => a.add(KmvSketch.hash60(s"k$i")))
    (60 until 180).foreach(i => b.add(KmvSketch.hash60(s"k$i")))
    val sa = KmvSketch.serialize(a)
    val sb = KmvSketch.serialize(b)
    assert(KmvSketch.andNotEstimate(sa, sb) == 60.0)
    assert(KmvSketch.andNotEstimate(sb, sa) == 80.0)
    assert(KmvSketch.andNotEstimate(sa, sa) == 0.0)
    assert(KmvSketch.andNotEstimate(sa,
      KmvSketch.serialize(new KmvSketch.Buffer(256))) == 100.0)
    // full sketches: |A| = 8000, |A \ B| = 4000
    val fa = new KmvSketch.Buffer(512)
    val fb = new KmvSketch.Buffer(512)
    (0 until 8000).foreach(i => fa.add(KmvSketch.hash60(s"x$i")))
    (4000 until 12000).foreach(i => fb.add(KmvSketch.hash60(s"x$i")))
    val est = KmvSketch.andNotEstimate(KmvSketch.serialize(fa), KmvSketch.serialize(fb))
    assert(math.abs(est - 4000) / 4000.0 < 0.35, s"difference estimate $est vs 4000")
  }

  test("KmvSketch: intersection estimate lands near truth on full sketches") {
    import graft.expressions.KmvSketch
    val k = 512
    val a = new KmvSketch.Buffer(k)
    val b = new KmvSketch.Buffer(k)
    // |A| = 8000, |B| = 8000, |A ∩ B| = 4000
    (0 until 8000).foreach(i => a.add(KmvSketch.hash60(s"x$i")))
    (4000 until 12000).foreach(i => b.add(KmvSketch.hash60(s"x$i")))
    val est = KmvSketch.andEstimate(KmvSketch.serialize(a), KmvSketch.serialize(b))
    // θ-cut sample of the intersection has ~k/4 hits — band is wider
    // than plain cardinality; 4/√(k/4) ≈ 0.35 relative
    assert(math.abs(est - 4000) / 4000.0 < 0.35, s"intersection estimate $est vs 4000")
    val uest = KmvSketch.orEstimate(KmvSketch.serialize(a), KmvSketch.serialize(b))
    assert(math.abs(uest - 12000) / 12000.0 < 0.2, s"union estimate $uest vs 12000")
  }

  test("Cms: collision-free estimates are exact; overcount-only under forced collisions") {
    import graft.expressions.Cms
    val keys = (0 until 40).map(i => s"key$i")
    val wide = new Cms.Buffer(4, 65536)
    keys.zipWithIndex.foreach { case (k, i) => wide.add(k, i + 1L) }
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(wide.estimate(k) == i + 1L, s"collision-free estimate must be exact: $k")
    }
    // w = 4 forces collisions: estimates never undercount
    val tiny = new Cms.Buffer(4, 4)
    keys.zipWithIndex.foreach { case (k, i) => tiny.add(k, i + 1L) }
    keys.zipWithIndex.foreach { case (k, i) =>
      assert(tiny.estimate(k) >= i + 1L, "CMS must never undercount")
    }
    assert(keys.zipWithIndex.exists { case (k, i) => tiny.estimate(k) > i + 1L },
      "40 keys in 4 buckets must collide somewhere")
  }

  test("Cms: estimate is the min over hand-rebuilt row cells") {
    import graft.expressions.Cms
    val counts = Map("a" -> 7L, "bb" -> 3L, "ccc" -> 11L, "dd" -> 1L)
    val b = new Cms.Buffer(3, 8)
    counts.foreach { case (k, c) => b.add(k, c) }
    counts.keys.foreach { k =>
      val expected = (0 until 3).map { i =>
        val bucket = Cms.hashBucket(i, k, 8)
        counts.collect { case (k2, c) if Cms.hashBucket(i, k2, 8) == bucket => c }.sum
      }.min
      assert(b.estimate(k) == expected)
    }
  }

  test("Cms: shard merge byte-identical to cold build; geometry mismatch refused") {
    import spark.implicits._
    val df = (0L until 3000L).map(i => (s"s${i % 5}", s"k${i % 97}")).toDF("shard", "key")
    val rolled = df.groupBy("shard")
      .agg(call_function("cms_build", col("key"), lit(64), lit(4)).as("sk"))
      .agg(call_function("cms_merge_agg", col("sk")).as("sk"))
      .collect().head.getAs[Array[Byte]]("sk")
    val cold = df.agg(call_function("cms_build", col("key"), lit(64), lit(4)).as("sk"))
      .collect().head.getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(rolled, cold),
      "grid addition must equal a cold one-pass build")
    // SQL estimate off the merged sketch equals the exact group count
    // (k % 97 over 3000 rows: some keys collide in w=64 — only assert >=)
    val est = df.crossJoin(
        df.agg(call_function("cms_build", col("key"), lit(64), lit(4)).as("sk")))
      .groupBy("key").agg(max(call_function("cms_estimate", col("sk"), col("key"))).as("e"),
        count(lit(1)).as("c"))
      .collect()
    est.foreach(r => assert(r.getAs[Long]("e") >= r.getAs[Long]("c")))
    import graft.expressions.Cms
    val a = new Cms.Buffer(4, 64)
    val c = new Cms.Buffer(4, 32)
    intercept[IllegalArgumentException](a.mergeFrom(c))
  }

  test("Cms.innerProduct: exact join size when collision-free; overcount-only; refusal") {
    import graft.expressions.Cms
    // A: key k_i appears i+1 times; B: overlapping subset with its own counts
    val a = new Cms.Buffer(4, 65536)
    val b = new Cms.Buffer(4, 65536)
    (0 until 30).foreach(i => a.add(s"k$i", i + 1L))
    (20 until 50).foreach(i => b.add(s"k$i", 2L * i))
    val exact = (20 until 30).map(i => (i + 1L) * (2L * i)).sum
    assert(Cms.innerProduct(Cms.serialize(a), Cms.serialize(b)) == exact,
      "collision-free grids give the exact equi-join size")
    // self inner product = sum of squared frequencies
    assert(Cms.innerProduct(Cms.serialize(a), Cms.serialize(a)) ==
      (0 until 30).map(i => (i + 1L) * (i + 1L)).sum)
    // forced collisions (w = 8) may only ADD cross terms
    val ta = new Cms.Buffer(4, 8)
    val tb = new Cms.Buffer(4, 8)
    (0 until 30).foreach(i => ta.add(s"k$i", i + 1L))
    (20 until 50).foreach(i => tb.add(s"k$i", 2L * i))
    assert(Cms.innerProduct(Cms.serialize(ta), Cms.serialize(tb)) >= exact)
    val other = new Cms.Buffer(4, 16)
    intercept[IllegalArgumentException](
      Cms.innerProduct(Cms.serialize(ta), Cms.serialize(other)))
  }

  test("BottomKSample: below k returns ALL distinct keys in hash order; repeats collapse") {
    import spark.implicits._
    import graft.expressions.KmvSketch
    val df = Seq("a", "b", "c", "b", "a", "a").toDF("key")
    val got = df.agg(call_function("sample_bottomk", col("key"), lit(10)).as("s"))
      .collect().head.getSeq[String](0)
    val expected = Seq("a", "b", "c").sortBy(k => (KmvSketch.hash60(k), k))
    assert(got == expected)
  }

  test("BottomKSample: pick rule is the k smallest (hash, key) pairs; deterministic") {
    import spark.implicits._
    import graft.expressions.KmvSketch
    val keys = (0 until 300).map(i => s"u$i")
    def sample(parts: Int) = keys.toDF("key").repartition(parts)
      .agg(call_function("sample_bottomk", col("key"), lit(7)).as("s"))
      .collect().head.getSeq[String](0)
    val expected = keys.sortBy(k => (KmvSketch.hash60(k), k)).take(7)
    assert(sample(1) == expected)
    assert(sample(17) == expected, "shard merges must reproduce the global bottom-k")
  }

  test("BottomKSample: nulls skipped; integral keys render in decimal") {
    import spark.implicits._
    val df = Seq(Some(42L), None, Some(7L), Some(42L)).toDF("key")
    val got = df.agg(call_function("sample_bottomk", col("key"), lit(5)).as("s"))
      .collect().head.getSeq[String](0)
    assert(got.toSet == Set("42", "7"))
  }

  test("Cms: sketch bytes are partitioning-invariant") {
    import spark.implicits._
    def build(parts: Int) = (0L until 2000L).map(i => s"t${i % 313}").toDF("key")
      .repartition(parts)
      .agg(call_function("cms_build", col("key"), lit(128), lit(4)).as("sk"))
      .collect().head.getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(build(1), build(11)))
  }

  test("KmvSketch: estimates are partitioning-invariant (deterministic bytes)") {
    import spark.implicits._
    def build(parts: Int) = (0L until 4000L).map(i => i % 2345L).toDF("key")
      .repartition(parts)
      .agg(call_function("kmv_build", col("key"), lit(64)).as("sk"))
      .collect().head.getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(build(1), build(17)))
  }
}
