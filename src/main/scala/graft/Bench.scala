package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every declared query against
  * SPARK_GRAFT_SF_DIR with a noop sink and reports per-query wall time.
  *
  * Output contract: ONE JSON line on stdout AND the same JSON written to
  * a file (SPARK_GRAFT_BENCH_OUT, default bench_out.json in the CWD) —
  * stdout alone proved fragile: log4j stack traces interleave with the
  * metrics line and the driver's parser sees garbage.
  *
  * Failure contract: a query that throws is recorded in an "errors" map
  * with its exception class, and its time is NOT added to the total — a
  * failing query must never masquerade as a fast success.
  *
  * Noise contract: subset runs (SPARK_GRAFT_BENCH_ONLY) write to a
  * `.partial` sibling and never clobber the committed full record;
  * full runs time EVERY query in two measured passes (min-of-2 — the
  * r8-verdict mid-pack noise fix) and the 8 slowest once more
  * (min-of-3 for the tail), with the re-timed set declared in the
  * record as "retimed". Both layers are off for subset dev runs;
  * SPARK_GRAFT_BENCH_PASSES / SPARK_GRAFT_BENCH_REPEAT override
  * (1 / 0 disable) — pinned by BenchSpec.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    // steady-state measurement: one unmeasured flagship run warms JVM,
    // codegen compiler, and parquet reader paths
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => }
    // warm the OS page cache + parquet footers for THIS sf's tables: the
    // first query touching the largest file otherwise pays the whole
    // cold-IO cost (round 3 recorded q22 at 21 s vs 1.8 s steady-state
    // under a loaded machine) — we benchmark the operators, not the disk
    // listFiles is null (not empty) on a missing/non-dir path — degrade
    // to per-query error records like every other failure, never NPE
    Option(new java.io.File(sfDir).listFiles((_, n) => n.endsWith(".parquet")))
      .getOrElse(Array.empty).foreach { f =>
        try spark.read.parquet(f.getPath).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
      }
    // dev loop: SPARK_GRAFT_BENCH_ONLY=q44_ngram_jaccard,q24_minhash_lsh
    // restricts the run (comma-separated; substring match); unset = all
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.exists(n.contains)) }

    def time(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : (String, Double, Option[String]) = {
      // progress marker on stderr (the Verify convention): log4j
      // warnings interleave with these, so a CacheManager/broadcast
      // warning in the stream attributes to the query that logged it
      System.err.println(s"[bench] running $name")
      val t0 = System.nanoTime()
      // noop sink: full materialization of every output column (count()
      // would let Spark prune the projections being measured)
      // cache release is part of the measured query cost: an operator
      // that persists an intermediate pays for cleaning it up
      val err = Caches.withScope {
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); None }
        catch { case t: Throwable => Some(t.getClass.getSimpleName) }
      }
      (name, (System.nanoTime() - t0) / 1e9, err)
    }

    // per-scale-point state audit, OUTSIDE any timed region (it used to
    // ride inside q84's timing and skewed cross-round comparisons)
    try SparkEntry.funnelStateAudit(spark, sfDir)
    catch { case _: Throwable => }

    val runs = selected.map { case (name, fn) => time(name, fn) }
    val firstPass = runs.collect { case (name, sec, None) => name -> sec }
    val errors = runs.collect { case (name, _, Some(e)) => name -> e }
    val byName = selected.toMap
    // noise control, two layers (the r8 verdict's "retire the mid-pack
    // single-sample noise" task — single-sampled mid-pack queries swung
    // 6-10x under driver load and every round-over-round comparison had
    // to argue around them):
    //  1. EVERY ok query gets a full second measured pass; min-of-2
    //     recorded — a load spike must now hit the same query in both
    //     passes (minutes apart) to survive into the record.
    //  2. The N slowest then get one MORE timing (min-of-3): the tail
    //     dominates the total, so it earns the extra sample.
    // Default-on for full runs, off for subset dev loops;
    // SPARK_GRAFT_BENCH_PASSES / SPARK_GRAFT_BENCH_REPEAT override.
    val passes = sys.env.get("SPARK_GRAFT_BENCH_PASSES").map(_.toInt)
      .getOrElse(defaultPasses(only.isDefined))
    val secondPass: Map[String, Double] =
      if (passes <= 1) Map.empty
      else firstPass.flatMap { case (name, _) =>
        val (_, sec, err) = time(name, byName(name))
        if (err.isEmpty) Some(name -> sec) else None
      }.toMap
    val afterTwo = mergeRetimes(firstPass, secondPass)
    val repeat = sys.env.get("SPARK_GRAFT_BENCH_REPEAT").map(_.toInt)
      .getOrElse(defaultRepeat(only.isDefined))
    val tailPass: Map[String, Double] =
      if (repeat <= 0) Map.empty
      else afterTwo.sortBy(-_._2).take(repeat).flatMap { case (name, _) =>
        val (_, sec, err) = time(name, byName(name))
        if (err.isEmpty) Some(name -> sec) else None
      }.toMap
    val ok = mergeRetimes(afterTwo, tailPass)
    val retimed = secondPass.keySet ++ tailPass.keySet
    // a subset run is a partial record and must never clobber the
    // committed full one (bit the round-5 adjudication)
    val effOut = effectiveOutPath(outPath, only.isDefined)
    // full per-query detail goes to the file; stdout gets a compact line
    java.nio.file.Files.write(java.nio.file.Paths.get(effOut),
      (fullJson(ok, errors, sfDir, retimed) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val summary = summaryJson(ok, errors, sfDir, effOut)
    // stop BEFORE printing: Spark's shutdown logs (stderr) can't land
    // after the metrics line, so the JSON is the last line on stdout
    spark.stop()
    println(summary)
    System.out.flush()
    // a bench with failing queries is a failed bench run
    if (errors.nonEmpty) sys.exit(1)
  }

  /** Tail re-timing default: full runs give the 8 slowest one extra
    * timing on top of the global second pass (min-of-3 for the tail —
    * the committed record must never be single-sample under load, the
    * round-6 finding); subset dev runs stay single-pass for iteration
    * speed. `SPARK_GRAFT_BENCH_REPEAT` overrides either (0 disables).
    */
  private[graft] def defaultRepeat(isSubset: Boolean): Int = if (isSubset) 0 else 8

  /** Measured-pass default: full runs time EVERY query twice (min-of-2
    * — the r8-verdict mid-pack noise fix); subset dev runs once.
    * `SPARK_GRAFT_BENCH_PASSES` overrides (1 disables the second pass).
    */
  private[graft] def defaultPasses(isSubset: Boolean): Int = if (isSubset) 1 else 2

  private def ms(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** Where the record lands: subset runs (`SPARK_GRAFT_BENCH_ONLY` set)
    * divert to a `.partial` sibling so the full committed record is
    * never overwritten by a dev/adjudication rerun — even one that
    * happens to select everything.
    */
  private[graft] def effectiveOutPath(outPath: String, isSubset: Boolean): String =
    if (!isSubset) outPath
    else if (outPath.endsWith(".json")) outPath.stripSuffix(".json") + ".partial.json"
    else outPath + ".partial"

  /** Fold min-of-N re-timings into the first pass, preserving query
    * order; queries without a re-timing keep their first-pass time, and
    * a re-timing can only LOWER a time (a rerun that came out slower is
    * itself load noise — min is the point).
    */
  private[graft] def mergeRetimes(firstPass: Seq[(String, Double)],
                                  retimed: Map[String, Double]): Seq[(String, Double)] =
    firstPass.map { case (name, sec) =>
      name -> retimed.get(name).fold(sec)(math.min(sec, _))
    }

  /** The full record written to the bench-out file: every query, every
    * error, millisecond precision, plus which queries were re-timed
    * (min-of-3) so a record's noise treatment is self-describing.
    */
  private[graft] def fullJson(ok: Seq[(String, Double)],
                              errors: Seq[(String, String)], sfDir: String,
                              retimed: Set[String] = Set.empty): String = {
    val qs = ok.map { case (k, v) => s"\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val es = errors.map { case (k, e) => s"\"" + k + "\":\"" + e + "\"" }.mkString("{", ",", "}")
    val rt = retimed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${ms(ok.map(_._2).sum)},"unit":"sec","queries":$qs,"errors":$es,"retimed":$rt,"sf":"$sfDir"}"""
  }

  /** The final stdout line. CONTRACT (BenchSpec pins it): valid JSON,
    * under 1 KB for any outcome — the driver captures only the tail of
    * stdout, and a full per-query line overflowed its window every
    * round through r4 (BENCH "parsed": null). Summary = total, counts,
    * the first 5 errors (values are exception CLASS NAMES — no quoting
    * hazards — and a 108-query wipeout must not overflow the window the
    * summary exists to fit), the 5 slowest queries, and the path to the
    * full record.
    */
  private[graft] def summaryJson(ok: Seq[(String, Double)],
                                 errors: Seq[(String, String)],
                                 sfDir: String, outPath: String): String = {
    val slowest = ok.sortBy(-_._2).take(5)
      .map { case (k, v) => s"\"" + k + "\":" + ms(v) }.mkString("{", ",", "}")
    val esSummary = errors.take(5)
      .map { case (k, e) => s"\"" + k + "\":\"" + e + "\"" }.mkString("{", ",", "}")
    s"""{"metric":"total","value":${ms(ok.map(_._2).sum)},"unit":"sec","n_ok":${ok.size},"n_err":${errors.size},"errors":$esSummary,"slowest":$slowest,"sf":"$sfDir","queries_file":"$outPath"}"""
  }
}
