package graft.expressions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CosineSimilaritySpec extends SparkSpec {

  test("native expression matches known geometry and the UDF kernel") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
      (Array(3.0f, 4.0f), Array(4.0f, 3.0f)),
      (Array(1.5f, -2.5f, 0.5f), Array(-0.5f, 1.0f, 2.0f))).toDF("a", "b")
    val got = df.select(
      call_function("cosine_similarity", col("a"), col("b")).as("native"),
      graft.operators.Similarity.cosine(col("a"), col("b")).as("udf"),
      graft.operators.Similarity.cosineExpr(col("a"), col("b")).as("hof")
    ).collect()
    got.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-14, "native vs udf")
      assert(math.abs(r.getDouble(0) - r.getDouble(2)) < 1e-14, "native vs hof")
    }
    assert(math.abs(got(0).getDouble(0) - 0.0) < 1e-14)
    assert(math.abs(got(1).getDouble(0) - 1.0) < 1e-14)
    assert(math.abs(got(2).getDouble(0) - 24.0 / 25.0) < 1e-14)
  }

  test("available from pure SQL after registration") {
    val r = spark.sql(
      "SELECT cosine_similarity(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)), " +
        "array(CAST(4.0 AS FLOAT), CAST(3.0 AS FLOAT)))").collect()(0).getDouble(0)
    assert(math.abs(r - 0.96) < 1e-14)
  }

  test("sorted_intersect_size: merge semantics on sorted long arrays") {
    import spark.implicits._
    val df = Seq(
      (Array(1L, 3L, 5L, 9L), Array(2L, 3L, 5L, 10L), 2),
      (Array(1L, 2L), Array(3L, 4L), 0),
      (Array.empty[Long], Array(1L), 0),
      (Array(-5L, 0L, 7L), Array(-5L, 0L, 7L), 3)).toDF("a", "b", "want")
    val got = df.select(call_function("sorted_intersect_size", col("a"), col("b")).as("n"), col("want"))
      .collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("null inputs yield null, not a crash") {
    val r = spark.sql(
      "SELECT cosine_similarity(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT)))")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("minhash_signature is bit-identical to the declarative HOF formulation") {
    import spark.implicits._
    val k = 32
    val rows = Seq(
      Array(7L, -3L, 99L, Long.MaxValue, 0L),
      Array(1L),
      Array.empty[Long])
    val df = rows.toDF("toks")
    val hof = transform(sequence(lit(0), lit(k - 1)),
      i => array_min(transform(col("toks"), h => xxhash64(h, i))))
    val got = df.select(
      call_function("minhash_signature", col("toks"), lit(k)).as("native"),
      hof.as("hof")).collect()
    got.foreach { r =>
      assert(r.getSeq[Any](0) == r.getSeq[Any](1),
        "native kernel must reproduce the xxhash64 chain exactly")
    }
    // empty token set → k nulls (array_min of empty is null)
    assert(got(2).getSeq[Any](0) == Seq.fill(k)(null))
  }

  test("simhash64 native kernel matches the interpreted HOF bit-for-bit") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "the quick brown fox", "lorem ipsum dolor sit amet",
      "a", "x y z w v u t s").toDF("text")
    val toks = graft.operators.Dedup.tokenSet(col("text"))
    val got = df.select(
      call_function("simhash64", transform(toks, t => xxhash64(t))).as("native"),
      graft.operators.Dedup.simhash64(toks).as("hof")).collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(got(0).getLong(0) == got(1).getLong(0), "identical text, identical hash")
  }

  test("mismatched dimensions yield null in every path (Expression and UDF)") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val r = df.select(
      call_function("cosine_similarity", col("a"), col("b")).as("native"),
      graft.operators.Similarity.cosine(col("a"), col("b")).as("udf")).collect()(0)
    assert(r.isNullAt(0), "native expression must null on dim mismatch")
    assert(r.isNullAt(1), "UDF kernel must null on dim mismatch")
  }

  test("TWO instances inline into one codegen function without local collisions") {
    // regression: doGenCode used fixed Java locals (i, n, dot, ...) — two
    // instances of the expression in one whole-stage-codegen function made
    // Janino fail ("Redefinition of local variable") and Spark silently
    // fell back to interpreted eval. fallback=false makes that failure a
    // test failure instead of a silent perf cliff.
    withCodegenFallbackDisabled {
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      // projection + pushed-down filter both referencing the expression,
      // plus a second independent instance in the same projection: 3
      // inlined copies in one generated function
      val df = emb.as("a").join(emb.as("b"), col("a.vec_id") === col("b.vec_id"))
        .select(
          call_function("cosine_similarity", col("a.embedding"), col("b.embedding")).as("c1"),
          call_function("cosine_similarity", col("b.embedding"), col("a.embedding")).as("c2"))
        .filter(col("c1") > 0.5 && col("c2") > 0.5)
      val rows = df.collect()
      assert(rows.nonEmpty)
      rows.foreach(r => assert(math.abs(r.getDouble(0) - 1.0) < 1e-9))

      val df2 = emb.as("a").join(emb.as("b"), col("a.vec_id") === col("b.vec_id"))
        .select(
          call_function("sorted_intersect_size",
            sort_array(array_distinct(transform(col("a.embedding"), x => x.cast("long")))),
            sort_array(array_distinct(transform(col("b.embedding"), x => x.cast("long"))))).as("s1"),
          call_function("sorted_intersect_size",
            sort_array(array_distinct(transform(col("b.embedding"), x => x.cast("long")))),
            sort_array(array_distinct(transform(col("a.embedding"), x => x.cast("long"))))).as("s2"))
        .filter(col("s1") === col("s2"))
      assert(df2.count() > 0)

      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      val df3 = docs.select(
          call_function("md5_hashes64", split(lower(col("text")), "\\s+")).as("h1"),
          call_function("md5_hashes64", split(upper(col("text")), "\\s+")).as("h2"))
        .filter(size(col("h1")) === size(col("h2")))
      assert(df3.count() > 0)
    }
  }

  // two fallback layers hide codegen failures: whole-stage compile
  // (spark.sql.codegen.fallback) AND per-expression-tree compile via
  // CodeGeneratorWithInterpretedFallback (spark.sql.codegen.factoryMode,
  // default FALLBACK). The local-variable collision surfaced through the
  // SECOND — so both must be strict for a compile error to fail the test.
  private def withCodegenFallbackDisabled[T](body: => T): T = {
    val conf = spark.conf
    val prev = Seq("spark.sql.codegen.fallback", "spark.sql.codegen.factoryMode")
      .map(k => k -> conf.getOption(k))
    conf.set("spark.sql.codegen.fallback", "false")
    conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try body finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  test("whole-stage codegen compiles the expression (no interpreter fallback)") {
    // a parquet scan source so ConvertToLocalRelation can't pre-evaluate
    // the projection on the driver
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = emb.as("a").join(emb.as("b"), col("a.vec_id") === col("b.vec_id"))
      .select(call_function("cosine_similarity", col("a.embedding"), col("b.embedding")).as("c"))
    // run first: AQE only materializes the final (codegen'd) plan on execution
    val sims = df.collect().map(_.getDouble(0))
    // self-similarity ≈ 1.0 for every vector — proves the generated code runs
    assert(sims.forall(s => math.abs(s - 1.0) < 1e-9))
    // '*(n)' prefixes mark WholeStageCodegen stages in simple-string plans
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*\\*\\(\\d+\\) Project \\[cosine_similarity.*"),
      s"expression must sit inside a codegen'd (starred) Project:\n$plan")
  }
}
