package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{GroupOps, Validation, ValidationRule}
import graft.sources.Tables
import graft.expressions.GraftFunctions

/** Relational core: scans, joins, aggregation, window, storage layout, snapshots/CDC, and data-governance queries (SURVEY.md §2.1–§2.12).
  *
  * One slice of [[graft.SparkEntry]]'s query surface (split from the
  * former 9.3k-line single file; pure move, no behavior change). Keys,
  * builders and oracle SQL are exactly the driver contract: every
  * `queries` entry that is SQL-expressible has a DuckDB `oracleSql`
  * twin with IDENTICAL column names (the compare hashes by sorted
  * column name).
  */
private[graft] object RelationalQueries extends QueryRegistry {

  // ------------------------------------------------------------------
  // Relational core (SURVEY.md §2.1–§2.10 operator inventory)
  // ------------------------------------------------------------------

  /** S1+C4+C7+A-agg: TPC-H Q1-style pricing summary. Filter reaches the
    * parquet scan (PushedFilters), aggregation is partial/final hash-agg.
    */
  private def q01PricingSummary(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }


  /** C1–C5: filter + projection, pushed down to the scan (no full-width read). */
  private def q02FilterProject(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity") > 45 && col("l_discount") < 0.05)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))


  /** J1-style star join: fact ⨝ orders ⨝ customer, broadcast dims. */
  private def q03JoinRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    val cust = t(s, dir, "customer")
    val nat = t(s, dir, "nation")
    val reg = t(s, dir, "region")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }


  /** J2-style left join + M3 coalesce: per-customer order stats incl. zero. */
  private def q04LeftJoinCounts(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val ord = t(s, dir, "orders")
    cust.join(ord, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total_spent"))
      .orderBy(col("c_custkey"))
  }


  /** J5/C8 anti join: customers with no orders (the scrape-resume pattern). */
  private def q05AntiJoin(s: SparkSession, dir: String): DataFrame =
    Tables.remaining(
        t(s, dir, "customer").withColumnRenamed("c_custkey", "k"),
        t(s, dir, "orders").withColumnRenamed("o_custkey", "k"), "k")
      .select(col("k").as("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))


  /** Semi join: customers having at least one high-value order. */
  private def q06SemiJoin(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val big = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
      .select(col("o_custkey").as("c_custkey"))
    cust.join(big, Seq("c_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }


  /** W2/O2 top-k per group (k=1): each customer's largest order. */
  private def q07TopOrderPerCustomer(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"))
  }


  /** A1 group-mode with the pandas lexicographic tie-break (SURVEY §2.13.3). */
  private def q08GroupMode(s: SparkSession, dir: String): DataFrame =
    GroupOps.groupMode(t(s, dir, "orders"), Seq("o_custkey"), "o_orderpriority", "mode_priority")
      .orderBy(col("o_custkey"))


  /** A2 exact grouped median (pandas `median()` parity, SURVEY §2.13.4). */
  private def q09GroupedMedian(s: SparkSession, dir: String): DataFrame =
    GroupOps.groupedMedian(t(s, dir, "orders"), Seq("o_orderpriority"), "o_totalprice", "median_price")
      .select(col("o_orderpriority"), round(col("median_price"), 4).as("median_price"))
      .orderBy(col("o_orderpriority"))


  /** A3 multi-column distinct. */
  private def q10Distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_linestatus"))
      .distinct()
      .orderBy(col("l_returnflag"), col("l_linestatus"))


  /** U1 union-by-name across drifted schemas (null-fill, SURVEY §2.13.10). */
  private def q11UnionByName(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    val a = ord.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val b = ord.filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_totalprice"))
    GroupOps.unionByNameAll(Seq(a, b))
      .orderBy(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
  }


  /** E1 split-explode (the reference's affiliation explode). */
  private def q12ExplodeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(explode(split(col("p_name"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .orderBy(col("word"))


  /** F7/F8/F9 regex extract + flag + cast with null-on-no-match parity. */
  private def q13RegexExtract(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.CleanFunctions
    t(s, dir, "orders")
      .select(
        col("o_orderkey"),
        CleanFunctions.positionNumber(col("o_orderpriority")).as("priority_num"),
        col("o_orderpriority").contains("URGENT").as("is_urgent"))
      .orderBy(col("o_orderkey"))
  }


  /** D1–D3 date parts + grouped agg. */
  private def q14DateParts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).as("order_year"),
        month(col("o_orderdate")).as("order_month"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("month_total"))
      .orderBy(col("order_year"), col("order_month"))


  /** C6 conditional column (when/otherwise chains). */
  private def q15Conditional(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .withColumn("balance_bucket",
        when(col("c_acctbal") < 0, "negative")
          .when(col("c_acctbal") < 5000, "mid")
          .otherwise("high"))
      .groupBy(col("c_mktsegment"), col("balance_bucket"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("c_mktsegment"), col("balance_bucket"))


  /** E2 wide pivot (explicit values keep the plan single-pass). */
  private def q16Pivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_linestatus"))
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(round(sum(col("l_quantity")), 2))
      .orderBy(col("l_linestatus"))


  /** A7 one-pass null-rate profile. */
  private def q17NullProfile(s: SparkSession, dir: String): DataFrame =
    GroupOps.nullProfile(t(s, dir, "events"))
      .select(col("column_name"), round(col("null_frac"), 6).as("null_frac"))
      .orderBy(col("column_name"))


  /** A9 duplicate detection (multiplicity > 1 groups). */
  private def q18Duplicates(s: SparkSession, dir: String): DataFrame =
    GroupOps.duplicateKeys(t(s, dir, "lineitem"), Seq("l_orderkey", "l_partkey"))
      .orderBy(col("l_orderkey"), col("l_partkey"))


  /** W1/W5 dense surrogate key at scale (no single-partition window). */
  private def q19DenseId(s: SparkSession, dir: String): DataFrame =
    GroupOps.denseId(
        t(s, dir, "orders").select(col("o_orderkey")),
        Seq(col("o_orderkey")), "order_sk")
      .orderBy(col("o_orderkey"))


  /** W4 forward-fill (the reference's results-page ffill). */
  private def q20Ffill(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("v", when(col("event_type") === "error", lit(null).cast("double"))
        .otherwise(col("value")))
    GroupOps.ffill(ev, Seq("user_id"), Seq(col("ts"), col("event_id")), "v")
      .select(col("event_id"), col("user_id"), col("v").as("value_filled"))
      .orderBy(col("event_id"))
  }


  /** §2.10 validation engine: one-pass violation counts over declared rules. */
  private def q21Validation(s: SparkSession, dir: String): DataFrame = {
    val rules = Seq(
      ValidationRule("positive_price", col("o_totalprice") > 0),
      ValidationRule("valid_status", col("o_orderstatus").isin("O", "F", "P")),
      ValidationRule("priority_format", col("o_orderpriority").rlike("^[1-5]-")),
      ValidationRule("date_range",
        col("o_orderdate").between(lit("1992-01-01").cast("timestamp"), lit("1998-12-31").cast("timestamp"))),
      ValidationRule("high_value_urgent",
        !(col("o_totalprice") > 450000.0) || col("o_orderpriority").isin("1-URGENT", "2-HIGH")))
    Validation.violationCounts(t(s, dir, "orders"), rules)
  }


  /** JSON property extraction from events.props (from_json → typed field). */
  private def q32JsonExtract(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType)))
    t(s, dir, "events")
      .withColumn("k", from_json(col("props"), schema).getField("k"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))
      .orderBy(col("k_mod"))
  }


  // ------------------------------------------------------------------
  // Beyond-reference OLAP coverage (SURVEY.md §2.12 negative list):
  // grouping sets, distinct aggregates, global top-k
  // ------------------------------------------------------------------

  /** ROLLUP hierarchy totals (region → nation → grand total). */
  private def q37Rollup(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer")
    val nat = t(s, dir, "nation")
    val reg = t(s, dir, "region")
    cust.join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"), round(sum(col("c_acctbal")), 2).as("total_balance"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }


  /** CUBE over two independent dimensions. */
  private def q38Cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 2).as("avg_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)


  /** Distinct aggregates: exact count-distinct per group (plus the
    * mergeable approx_count_distinct HLL as the documented 100 TB path —
    * not in the oracle output since sketches aren't engine-portable).
    */
  private def q39CountDistinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))


  /** Global top-k (ORDER BY ... LIMIT k): TakeOrderedAndProject — a
    * per-partition heap + driver merge, no global sort of the table.
    */
  private def q40GlobalTopK(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)


  /** As-of join (backward): each event gets the latest prior purchase
    * value of the same user — union-sort-ffill composition, one shuffle
    * (DuckDB native ASOF JOIN is the oracle). Ties (two purchases at the
    * same (user_id, ts)) break deterministically on max event_id; the
    * oracle mirrors that with an arg_max dedupe before its ASOF JOIN,
    * since DuckDB's ASOF itself leaves the tie pick undefined.
    */
  private def q41AsofJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TemporalJoins
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("purchase_value"))
    TemporalJoins.asofBackward(ev, purchases, Seq("user_id"), "ts",
        Seq("purchase_value"), tieCol = Some("event_id"))
      .select(col("event_id"), col("user_id"),
        round(col("asof_purchase_value"), 4).as("last_purchase_value"))
      .orderBy(col("event_id"))
  }


  /** Range join (point-in-interval): lineitems shipped within 2 days of
    * each distinct order date — bucketed equi-join, not a nested loop.
    */
  private def q42RangeJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TemporalJoins
    val epoch = lit("1970-01-01").cast("date")
    val li = t(s, dir, "lineitem").select(
      datediff(col("l_shipdate").cast("date"), epoch).cast("long").as("ship_day"))
    val iv = t(s, dir, "orders")
      .select(col("o_orderdate").cast("date").as("order_date")).distinct()
      .withColumn("s", datediff(col("order_date"), epoch).cast("long"))
      .withColumn("e", col("s") + 2)
    TemporalJoins.pointInIntervalJoin(li, "ship_day", iv, "s", "e", bucketSize = 2L)
      .groupBy(col("order_date").cast("string").as("order_date"))
      .agg(count(lit(1)).as("n_shipped"))
      .orderBy(col("order_date"))
  }


  /** Deterministic hash-split (train/val/test): membership is a pure
    * function of md5(doc_id) — same split on any cluster at any
    * parallelism, auditable by any engine with md5 (the oracle recomputes
    * it in DuckDB). Output: per-(split, lang) counts.
    */
  private def q45HashSplit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.split(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"), col("lang"))


  /** Salted skew join: lineitem ⨝ orders with the fact side salted and
    * the dim side replicated 8× — the explicit mitigation for hot keys
    * that broadcast and AQE's skew split can't reach. Salting must not
    * change the result, and the oracle (a plain SQL join) proves it.
    */
  private def q47SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SkewJoins
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey").as("k"), col("l_extendedprice"), col("l_discount"))
    val ord = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    SkewJoins.saltedJoin(li, ord, Seq("k"), salt = 8)
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
  }


  /** Stream-stream interval join, batch form (the unified-engine
    * contract: the identical expression runs micro-batched in
    * EventStreamsSpec; the oracle replays it as a plain SQL interval
    * join). Each purchase is attributed to the same user's views in the
    * preceding 30 minutes.
    */
  private def q48IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.streaming.EventStreams
    val ev = EventStreams.withEventTime(t(s, dir, "events"))
    EventStreams.purchaseAttribution(ev, "30 minutes")
      .select(col("purchase_id"), col("view_id"), col("user_id"),
        round(col("value"), 4).as("purchase_value"))
      .orderBy(col("purchase_id"), col("view_id"))
  }


  /** Bloom-prefiltered fact⨝dim join: the fact side is cut down by a
    * broadcast bloom over the filtered dim keys BEFORE the join shuffle;
    * false positives die in the exact join, so the oracle is the PLAIN
    * join — byte-identical results prove the prefilter is sound.
    */
  private def q51BloomJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val fact = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    // bloom sized from the dim side itself (a fixed expectedItems
    // saturates when the dim outgrows it — fpp → 1 at the 100× bench)
    graft.operators.PrefilterJoin.bloomJoin(fact, dim, "l_orderkey", "o_orderkey")
      .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("yr"))
  }


  /** CDC latest-wins merge with tombstones: the events table split into
    * a base snapshot (even ids) and a changelog (odd ids), folded back
    * with [[graft.operators.Merge.applyChangelog]] — a user whose LATEST
    * event is an error is tombstoned out. One shuffle; deterministic
    * tie-break mirrored in the oracle's window.
    */
  private def q53CdcMerge(s: SparkSession, dir: String): DataFrame = {
    // withEventTime canonicalizes ts to epoch-ns Long whatever the file's
    // physical encoding — the `ts div 1000` below needs integer ns
    val ev = Tables.withEventTime(t(s, dir, "events"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
    val merged = graft.operators.Merge.applyChangelog(
      ev.filter(col("event_id") % 2 === 0), ev.filter(col("event_id") % 2 === 1),
      keys = Seq("user_id"), versionCol = "ts", tieBreak = "event_id",
      opCol = "event_type", deleteOp = "error")
    merged.select(col("user_id"),
        expr("ts div 1000").as("last_ts_us"),
        round(col("value"), 4).as("last_value"),
        col("event_type").as("last_type"))
      .orderBy(col("user_id"))
  }


  /** Z-order (Morton) clustering key: the data-layout primitive behind
    * two-column data skipping. The engine computes the interleave with a
    * pure codegen'd bit expression; the oracle recomputes it from SQL
    * GENERATED BY THE SAME LOOP ([[graft.operators.Layout.zValue2Sql]]),
    * so engine and oracle agree bit-for-bit on every row.
    */
  private def q54Zorder(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 3000)
      .select((col("l_orderkey") % 4096).cast("long").as("x"),
        (col("l_partkey") % 4096).cast("long").as("y"))
      .withColumn("z", graft.operators.Layout.zValue2(col("x"), col("y"), 12))
      .orderBy(col("z"), col("x"), col("y"))


  /** Sketch-based quantiles with an accuracy contract, same gate shape
    * as q52: the output CLAIMS the approx p50/p95 are within 1% relative
    * of the exact interpolated percentiles per group, and the oracle
    * recomputes the exact values (quantile_cont — the same definition as
    * Spark's `percentile`) and expects both claims true. The sketch
    * (mergeable KLL-style, bounded memory) is the 100 TB path; exact
    * percentile shuffles every value.
    */
  private def q56ApproxQuantiles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      // BOTH percentiles per family in ONE aggregate buffer (array form):
      // separate calls each buffer/sort the column independently —
      // measured 2.1 s → 1.2 s warm at sf0.1 for the identical output
      .agg(
        expr("percentile(l_extendedprice, array(0.5, 0.95))").as("__p"),
        expr("percentile_approx(l_extendedprice, array(0.5, 0.95), 10000)").as("__a"))
      .select(col("l_returnflag"),
        element_at(col("__p"), 1).as("p50_exact"),
        element_at(col("__p"), 2).as("p95_exact"),
        element_at(col("__a"), 1).as("__a50"),
        element_at(col("__a"), 2).as("__a95"))
      .select(col("l_returnflag"),
        round(col("p50_exact"), 2).as("p50_exact"),
        round(col("p95_exact"), 2).as("p95_exact"),
        (abs(col("__a50") - col("p50_exact")) / col("p50_exact") <= 0.01).as("p50_ok"),
        (abs(col("__a95") - col("p95_exact")) / col("p95_exact") <= 0.01).as("p95_ok"))
      .orderBy(col("l_returnflag"))


  /** Hot-key-only salted join: a sampling pre-pass finds keys whose rows
    * would dominate a shuffle partition and salts ONLY those —
    * replication cost scales with the number of hot keys, not the whole
    * dim side (q47 is the salt-everything form). The threshold is
    * partition-relative (`hotKeySaltedJoinAuto`): an absolute one
    * classified every key hot at the 100× bench and salted the whole
    * join. On this uniform corpus nothing is hot at any scale, so the
    * measured cost is detection + the plain join; the salted path's
    * detection and result-invariance are pinned by SkewJoinsSpec on a
    * skewed corpus. The oracle is the plain join: salting must never
    * change the result.
    */
  private def q61HotkeySalt(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_suppkey").as("k"), col("l_extendedprice"), col("l_discount"))
    val sup = t(s, dir, "supplier").select(col("s_suppkey").as("k"), col("s_name"))
    graft.operators.SkewJoins.hotKeySaltedJoinAuto(li, sup, Seq("k"),
        salt = 4, sampleFraction = 0.2)
      .groupBy(col("s_name"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("s_name"))
  }


  /** Incremental aggregate maintenance: orders history is aggregated to
    * partial form (sum/cnt/min/max), a later delta batch is folded in by
    * the monoid merge, and avg is derived at read time — O(delta)
    * instead of O(history) per refresh. The oracle recomputes the same
    * aggregate from the FULL table in one pass: the merged result must
    * be indistinguishable from a cold recompute.
    */
  private def q63IncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Incremental
    val ord = t(s, dir, "orders")
    val cut = to_date(lit("1997-01-01"))
    val snapshot = Incremental.partialAgg(
      ord.filter(col("o_orderdate") < cut), Seq("o_orderpriority"), Seq("o_totalprice"))
    val delta = Incremental.partialAgg(
      ord.filter(col("o_orderdate") >= cut), Seq("o_orderpriority"), Seq("o_totalprice"))
    val merged = Incremental.withAvg(
      Incremental.mergeAdditive(snapshot, delta, Seq("o_orderpriority"), Seq("o_totalprice")),
      Seq("o_totalprice"))
    merged.select(col("o_orderpriority"), col("n_rows"),
        round(col("o_totalprice_sum"), 2).as("price_sum"),
        col("o_totalprice_cnt").as("price_cnt"),
        round(col("o_totalprice_min"), 2).as("price_min"),
        round(col("o_totalprice_max"), 2).as("price_max"),
        round(col("o_totalprice_avg"), 4).as("price_avg"))
      .orderBy(col("o_orderpriority"))
  }


  /** Exact quantile binning (ntile-4 by price) WITHOUT the single-
    * partition window `ntile` plans: the global rank comes from the
    * two-phase scan ([[graft.operators.GroupOps.denseId]]) and the
    * standard ntile group arithmetic is applied in closed form — same
    * output as `ntile(4) OVER (ORDER BY ...)`, which is exactly what the
    * oracle runs (fine at oracle scale, driver-melting at 100 TB).
    */
  private def q67QuantileBuckets(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GroupOps
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
    GroupOps.ntileBuckets(li,
        Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")), 4, "bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        round(min(col("l_extendedprice")), 2).as("price_min"),
        round(max(col("l_extendedprice")), 2).as("price_max"),
        round(sum(col("l_extendedprice")), 2).as("price_sum"))
      .orderBy(col("bucket"))
  }


  /** Set operations (INTERSECT / EXCEPT — §2.12 negative coverage made
    * positive): customers active in both 1996 and 1997 vs active in 1996
    * only. Both plan as joins over distinct sets (left-semi / left-anti),
    * not row comparisons — the shuffle is on the already-distinct keys.
    */
  private def q69SetOps(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    def activeIn(year: Int) = ord
      .filter(col("o_orderdate") >= to_date(lit(s"$year-01-01")) &&
        col("o_orderdate") < to_date(lit(s"${year + 1}-01-01")))
      .select(col("o_custkey"))
    val both = activeIn(1996).intersect(activeIn(1997))
      .withColumn("set_op", lit("both_years"))
    val onlyFirst = activeIn(1996).except(activeIn(1997))
      .withColumn("set_op", lit("only_1996"))
    both.unionByName(onlyFirst)
      .groupBy(col("set_op"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("set_op"))
  }


  /** Per-event trailing 1-hour rolling aggregates (count/sum/avg of the
    * same user's events) — one key-partitioned RANGE window over
    * event-time seconds, no self-join. Ties (same truncated second) are
    * frame peers, so the values are deterministic under any physical
    * row order.
    */
  private def q76RollingWindow(s: SparkSession, dir: String): DataFrame =
    graft.operators.Rolling.trailingAgg(
        graft.sources.Tables.withEventTime(t(s, dir, "events")),
        "user_id", "event_time", "value", 3600)
      .select(col("event_id"), col("user_id"), col("roll_count"),
        round(col("roll_sum"), 4).as("roll_sum"), round(col("roll_avg"), 6).as("roll_avg"))
      .orderBy(col("event_id"))


  /** SCD2 dimension history from the orders changelog: one validity
    * interval per ACTUAL priority change per customer (consecutive
    * same-priority orders collapse), `valid_to` = next version's start,
    * null while current. One shuffle on the key; both windows share it.
    */
  private def q77Scd2(s: SparkSession, dir: String): DataFrame =
    graft.operators.Merge.scd2(t(s, dir, "orders"),
        keys = Seq("o_custkey"), tsCol = "o_orderdate",
        tieBreak = "o_orderkey", tracked = Seq("o_orderpriority"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy(col("o_custkey"), col("valid_from"), col("o_orderkey"))


  /** Per-group winsorization: prices clipped into the group's exact
    * [p05, p95] band (SQL-standard interpolated percentiles — same
    * semantics DuckDB's quantile_cont implements); bounded group table
    * broadcast back, map-side clip.
    */
  private def q80Winsorize(s: SparkSession, dir: String): DataFrame =
    graft.operators.GroupOps.winsorize(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_extendedprice", "price_w")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        round(col("price_w"), 2).as("price_w"), col("price_w_clipped"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))


  /** Unpivot/melt (wide → long): lineitem's numeric measures to
    * (key, measure, value) rows — the reshape dual of q16's pivot,
    * via the native `unpivot` (an Expand node: map-side row
    * generation, zero shuffle beyond the output sort).
    */
  private def q86Unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("double").as("l_quantity"),
        col("l_extendedprice").cast("double").as("l_extendedprice"),
        col("l_discount").cast("double").as("l_discount"))
      .unpivot(
        ids = Array(col("l_orderkey"), col("l_linenumber")),
        values = Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        variableColumnName = "measure", valueColumnName = "value")
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"))


  /** The analytic rank-window family in one pass: rank / dense_rank /
    * percent_rank / cume_dist / lag / lead over (customer, order date)
    * — one key shuffle, every function sharing the same window sort.
    */
  private def q87RankFamily(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        round(percent_rank().over(w), 6).as("prnk"),
        round(cume_dist().over(w), 6).as("cdist"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }


  /** Calendar feature extraction (§2.8 date surface, widened): the
    * standard date-dimension columns in one map-side pass. Day-of-week
    * is normalized to ISO (1=Monday) — the one convention both engines
    * can express exactly.
    */
  private def q88DateFeatures(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select(col("o_orderkey"), col("o_orderdate"),
        year(col("o_orderdate")).as("yr"),
        quarter(col("o_orderdate")).as("qtr"),
        month(col("o_orderdate")).as("mo"),
        dayofmonth(col("o_orderdate")).as("dom"),
        // Spark dayofweek: 1=Sunday → ISO 1=Monday
        ((dayofweek(col("o_orderdate")) + 5) % 7 + 1).as("iso_dow"),
        dayofyear(col("o_orderdate")).as("doy"),
        weekofyear(col("o_orderdate")).as("iso_week"),
        date_trunc("month", col("o_orderdate")).cast("date").as("month_start"),
        last_day(col("o_orderdate")).as("month_end"),
        datediff(to_date(lit("1998-12-31")), col("o_orderdate")).as("days_to_eoy"))
      .orderBy(col("o_orderkey"))


  /** ANALYZE-style table profile of orders: one aggregate pass melted
    * to a row per column (rows / nulls / distinct / min / max,
    * string-rendered). Oracle recomputes each column's stats
    * independently. Distinct counts ride tableProfile's default size
    * gate (exact under 10M rows, HLL past it — the Components-style
    * hybrid): every oracle/bench scale here is far under the gate, so
    * the oracle's exact COUNT(DISTINCT) matches by construction; a
    * deployment profiling >10M-row tables against an exact oracle must
    * pin `exactDistinctMaxRows = Long.MaxValue`.
    */
  private def q91TableProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.GroupOps.tableProfile(t(s, dir, "orders"))
      .orderBy(col("column_name"))


  /** Full outer join (§2.3 completed): per-customer 1996 vs 1997 spend
    * side by side — customers active in only one year keep a null on
    * the other side; the USING key coalesces.
    */
  private def q92FullOuter(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    def spend(year: Int, out: String) = ord
      .filter(col("o_orderdate") >= to_date(lit(s"$year-01-01")) &&
        col("o_orderdate") < to_date(lit(s"${year + 1}-01-01")))
      .groupBy(col("o_custkey"))
      .agg(round(sum(col("o_totalprice")), 2).as(out))
    spend(1996, "spend_96")
      .join(spend(1997, "spend_97"), Seq("o_custkey"), "full_outer")
      .orderBy(col("o_custkey"))
  }


  /** Forward as-of join (merge_asof direction='forward'): every event
    * attaches the user's NEXT purchase value at-or-after it — the
    * mirror scan of q41's backward join, same one-shuffle shape. Tie
    * dedup mirrors too: first event_id per equal timestamp.
    */
  private def q93AsofForward(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TemporalJoins
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("purchase_value"))
    TemporalJoins.asofForward(ev, purchases, Seq("user_id"), "ts",
        Seq("purchase_value"), tieCol = Some("event_id"))
      .select(col("event_id"), col("user_id"),
        round(col("asof_purchase_value"), 4).as("next_purchase_value"))
      .orderBy(col("event_id"))
  }


  /** Nearest as-of join (merge_asof direction='nearest'): the closer of
    * the previous and next purchase by absolute time distance, equal
    * distance breaking backward — one shuffle, two in-partition scans.
    * The oracle composes DuckDB's backward and forward ASOF joins with
    * the identical pick rule.
    */
  private def q94AsofNearest(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TemporalJoins
    val ev = t(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id"),
        col("value").as("purchase_value"))
    TemporalJoins.asofNearest(ev, purchases, Seq("user_id"), "ts",
        Seq("purchase_value"), tieCol = Some("event_id"))
      .select(col("event_id"), col("user_id"),
        round(col("asof_purchase_value"), 4).as("nearest_purchase_value"))
      .orderBy(col("event_id"))
  }


  /** Exact stratified split: per-language 80/10/10 with boundaries at
    * floor(cumfrac·n) over a deterministic md5 rank — proportions exact
    * per stratum, unlike the binomial per-row hash split (q45). Output
    * aggregates membership (count + id-sum) per (lang, split).
    */
  private def q96StratifiedSplit(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling.stratifiedSplit(t(s, dir, "documents"), "doc_id", "lang",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"), col("split"))


  /** Snapshot diff: per-customer 1996 vs 1997 order aggregates
    * classified added / removed / changed / unchanged — the audit
    * primitive behind "what did this run change" (ship `added ∪
    * changed` only). Null-safe compare; one full-outer join on the key.
    */
  private def q97SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    def snap(year: Int) = ord
      .filter(col("o_orderdate") >= to_date(lit(s"$year-01-01")) &&
        col("o_orderdate") < to_date(lit(s"${year + 1}-01-01")))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("spend"))
    graft.operators.Merge.snapshotDiff(snap(1996), snap(1997),
        keys = Seq("o_custkey"), tracked = Seq("n_orders", "spend"))
      .orderBy(col("o_custkey"))
  }


  /** Gap-filled resample: per-user 6-hour event buckets DENSIFIED over
    * each user's [first, last] span — empty buckets appear with
    * n_events = 0 and the last observed sum carried forward
    * (`filled_sum`), the regular-grid contract windowed GROUP BY (q33)
    * cannot give. Buckets are integer epoch indices, so both engines do
    * pure integer arithmetic. The raw table shuffles once; the spine,
    * join and ffill all run over bucket-level rows.
    */
  private def q98GapfillResample(s: SparkSession, dir: String): DataFrame =
    graft.operators.Rolling.resample(
        Tables.withEventTime(t(s, dir, "events")),
        "user_id", "event_time", "value", bucketSeconds = 21600L)
      .select(col("user_id"), col("bucket_start"), col("n_events"),
        round(col("sum_value"), 4).as("sum_value"),
        round(col("filled_sum"), 4).as("filled_sum"))
      .orderBy(col("user_id"), col("bucket_start"))


  /** Interval coalescing (gaps-and-islands): each event padded to a
    * 30-minute interval, overlapping intervals merged into maximal
    * per-user activity spans. One shuffle on the key; running-max +
    * island-sum windows share the sort; the aggregate reuses the
    * partitioning.
    */
  private def q99MergeIntervals(s: SparkSession, dir: String): DataFrame = {
    val sec = unix_timestamp(col("event_time"))
    val iv = Tables.withEventTime(t(s, dir, "events"))
      .select(col("user_id"), sec.as("s"), (sec + 1800L).as("e"))
    graft.operators.Intervals.coalesce(iv, Seq("user_id"), "s", "e")
      .select(col("user_id"), col("span_start"), col("span_end"),
        col("n_intervals"))
      .orderBy(col("user_id"), col("span_start"))
  }


  /** Distribution-shape profile: per-returnflag mean / stddev /
    * skewness / excess kurtosis of lineitem quantity from centered
    * power sums — the two-pass form whose formula is pinned identically
    * in the oracle (built-in skewness/kurtosis conventions differ
    * between engines; raw-moment identities cancel catastrophically).
    */
  private def q101Moments(s: SparkSession, dir: String): DataFrame =
    graft.operators.GroupOps.momentStats(t(s, dir, "lineitem"),
        Seq("l_returnflag"), "l_quantity")
      .select(col("l_returnflag"), col("n"), round(col("mean"), 6).as("mean"),
        round(col("stddev"), 6).as("stddev"),
        round(col("skewness"), 6).as("skewness"),
        round(col("kurtosis"), 6).as("kurtosis"))
      .orderBy(col("l_returnflag"))


  /** Robust outlier detection: modified z-score (median/MAD) of event
    * values within each event type, outliers at the conventional
    * |z| > 3.5 cut. Median-based scoring resists the exact heavy tails
    * being hunted (mean/stddev z is circular: outliers inflate the
    * stddev that should expose them).
    */
  private def q105RobustOutliers(s: SparkSession, dir: String): DataFrame =
    graft.operators.GroupOps.robustZscore(t(s, dir, "events"),
        Seq("event_type"), "value")
      .filter(abs(col("robust_z")) > 3.5)
      .select(col("event_id"), col("event_type"),
        round(col("value"), 4).as("value"),
        round(col("robust_z"), 6).as("robust_z"))
      .orderBy(col("event_id"))


  /** Grouped top-k (k > 1, completing q07's top-1): each customer's 3
    * most expensive orders. The rank-then-filter form plans as
    * WindowGroupLimit (per-group top-k inside the sort — asserted for
    * q102), so no group's full order list is held beyond k rows.
    */
  private def q106TopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(s, dir, "orders")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("o_custkey"), col("rk"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("o_totalprice"))
      .orderBy(col("o_custkey"), col("rk"))
  }


  /** Contribution analysis (share-of-total): each nation's revenue as a
    * fraction of its region's and of the grand total — windowed sums
    * over the AGGREGATED rows (|nations|), so the two extra windows are
    * free; the raw table shuffles once for the group-by.
    */
  private def q107ShareOfTotal(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "customer")
      .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(col("o_totalprice")).as("rev"))
    val byRegion = org.apache.spark.sql.expressions.Window.partitionBy(col("r_name"))
    // bounded dim (region×nation) — the constant-key whole frame keeps
    // WindowExec's partitionSpec non-empty (no per-task warning)
    val overall = graft.operators.Windows.boundedGlobalWhole
    rev
      .withColumn("region_share", round(col("rev") / sum(col("rev")).over(byRegion), 6))
      .withColumn("total_share", round(col("rev") / sum(col("rev")).over(overall), 6))
      .select(col("r_name"), col("n_name"), round(col("rev"), 2).as("rev"),
        col("region_share"), col("total_share"))
      .orderBy(col("r_name"), col("n_name"))
  }


  /** Zone-map round trip through the custom FileIndex: lineitem is
    * range-clustered and written with a zone-map manifest, read back
    * through [[graft.sources.ZoneMapFileIndex]], and a plain `.filter`
    * prunes files inside the scan (the listing audit lives in
    * ZoneMapsSpec; this query oracle-checks the VALUES that survive the
    * whole write→manifest→prune→scan path). The oracle runs the same
    * predicate over the raw table — pruning must be invisible.
    */
  private def q108ZonemapScan(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.{ZoneMapFileIndex, ZoneMaps}
    // FIXED scratch path + overwrite mode: repeated bench/verify runs
    // reuse one directory instead of accumulating per-call temp copies
    // until /tmp fills (bench runs queries sequentially, so the single
    // path cannot race)
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_q108_zonemap"
    val li = t(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"))
      .repartitionByRange(8, col("l_orderkey"))
    ZoneMaps.writeWithZoneMap(li, tmp, Seq("l_orderkey"))
    ZoneMapFileIndex.read(s, tmp)
      .filter(col("l_orderkey") >= 100L && col("l_orderkey") <= 1000L)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .orderBy(col("l_returnflag"))
  }


  /** Join-size estimation from persisted key sketches
    * ([[graft.expressions.CmsInnerProduct]], the Cormode–Muthukrishnan
    * inner-product estimator): |A ⋈ B| = Σ_k f_A(k)·f_B(k) answered
    * from two 128 KB grids without touching either table — the
    * broadcast-vs-shuffle / skew-predetection input a join planner
    * wants. Measured against the exact join sizes for the
    * lineitem⋈orders FK join and the skewed lineitem self-join; the
    * deterministic grid makes the estimates exactly SQL-replayable.
    */
  private def q137JoinCardinality(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val ord = t(s, dir, "orders")
    def sk(df: DataFrame, key: String) =
      df.agg(GraftFunctions.call("cms_build", col(key), lit(4096), lit(4)).as("sk"))
    val cL = li.groupBy(col("l_orderkey").as("k")).agg(count(lit(1)).as("ca"))
    val cO = ord.groupBy(col("o_orderkey").as("k")).agg(count(lit(1)).as("cb"))
    val cP = li.groupBy(col("l_partkey").as("k")).agg(count(lit(1)).as("c"))
    val row1 = cL.join(cO, "k").agg(sum(col("ca") * col("cb")).as("exact"))
      .crossJoin(broadcast(sk(li, "l_orderkey").select(col("sk").as("a"))))
      .crossJoin(broadcast(sk(ord, "o_orderkey").select(col("sk").as("b"))))
      .select(lit("lineitem_orders_orderkey").as("join_key"), col("exact"),
        GraftFunctions.call("cms_inner_product", col("a"), col("b")).as("cms_est"))
    val row2 = cP.agg(sum(col("c") * col("c")).as("exact"))
      .crossJoin(broadcast(sk(li, "l_partkey").select(col("sk").as("a"))))
      .select(lit("lineitem_self_partkey").as("join_key"), col("exact"),
        GraftFunctions.call("cms_inner_product", col("a"), col("a")).as("cms_est"))
    row1.unionByName(row2).orderBy(col("join_key"))
  }


  /** Hilbert-curve linearization ([[graft.expressions.HilbertIndex2]],
    * codegen'd): the locality-preserving companion to q54's Morton
    * z-order — consecutive indices are always grid-adjacent, so range
    * partitions tile compactly. The oracle is the identical arithmetic
    * unrolled one SQL level per bit
    * ([[graft.operators.Layout.hilbertSqlLevels]], the q54 contract).
    */
  private def q140Hilbert(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "lineitem")
      .filter(col("l_orderkey") < 3000)
      .select((col("l_orderkey") % 256).cast("long").as("x"),
        (col("l_partkey") % 256).cast("long").as("y"))
    base.withColumn("h",
        graft.operators.Layout.hilbertValue2(col("x"), col("y"), 8))
      .orderBy(col("h"), col("x"), col("y"))
  }


  /** Key-skew profile over the events stream's user key
    * ([[graft.operators.SkewJoins.keySkewProfile]]) — the top-50
    * heaviest keys with row share and the salt factor a salted join
    * would need. All integer arithmetic (ppm shares and ceil via `div`)
    * restated verbatim by the oracle.
    */
  private def q160KeySkewProfile(s: SparkSession, dir: String): DataFrame =
    graft.operators.SkewJoins.keySkewProfile(t(s, dir, "events"), "user_id", 50)


  /** ORC round-trip ([[graft.sources.Tables.writeOrc]]/`orc`): orders
    * written to ORC and read back through Spark's vectorized ORC
    * reader, then aggregated — the oracle computes the same aggregate
    * straight from the PARQUET table, so a hash match pins cross-FORMAT
    * content equality (types, nulls, row set), not just that the write
    * didn't crash. The sink path is per-SF so Verify and Bench never
    * collide.
    */
  private def q165OrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val path = s"/tmp/graft_orc_rt/${dir.replaceAll("[^0-9a-zA-Z.]", "_")}/orders"
    Tables.writeOrc(t(s, dir, "orders"), path)
    Tables.orc(s, path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"),
        countDistinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("o_orderstatus"))
  }


  /** Time travel ([[graft.sources.VersionedTable]]): orders committed as
    * two snapshots (v0 = sub-100k orders, v1 = everything), then BOTH
    * read back — v0 by pinned version, v1 as latest — and aggregated.
    * The oracle recomputes both aggregates straight from parquet, so a
    * hash match pins the whole commit/marker/resolve protocol end to
    * end: staging rename, marker visibility, version resolution. The
    * table root is wiped first so reruns are idempotent.
    */
  private def q168TimeTravel(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.VersionedTable
    val path = s"/tmp/graft_vtable/${dir.replaceAll("[^0-9a-zA-Z.]", "_")}/orders"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val orders = t(s, dir, "orders")
    VersionedTable.write(s, orders.filter(col("o_totalprice") < 100000), path)
    VersionedTable.write(s, orders, path)
    def snap(df: DataFrame, v: Int): DataFrame =
      df.agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total_price"))
        .select(lit(v.toLong).as("version"), col("n_orders"), col("total_price"))
    snap(VersionedTable.read(s, path, Some(0L)), 0)
      .unionByName(snap(VersionedTable.read(s, path), 1))
      .orderBy(col("version"))
  }


  /** k-anonymity audit ([[graft.operators.Validation.kAnonymityAudit]])
    * over customer quasi-identifiers (nation, market segment): every
    * equivalence class with its size and the k=5 violation flag — the
    * release-gating table. Trivial SQL by design; the operator's value
    * is the generic policy surface.
    */
  private def q169KAnonymity(s: SparkSession, dir: String): DataFrame =
    graft.operators.Validation.kAnonymityAudit(t(s, dir, "customer"),
        Seq("c_nationkey", "c_mktsegment"), k = 5)
      .orderBy(col("c_nationkey"), col("c_mktsegment"))


  /** Hashing-trick features ([[graft.operators.Scoring.hashedFeatures]]):
    * signed 256-bucket token features over the q50 doc slice — the
    * vocabulary-free featurizer, every bucket and sign restated by the
    * oracle from the same md5 arithmetic.
    */
  private def q170HashedFeatures(s: SparkSession, dir: String): DataFrame =
    graft.operators.Scoring.hashedFeatures(
        t(s, dir, "documents").filter(col("doc_id") < 2000), "doc_id", "text", 256)
      .orderBy(col("doc_id"), col("bucket"))


  /** Referential-integrity audit
    * ([[graft.operators.Validation.refIntegrityAudit]]) over the star
    * schema's FK spine plus the events→customer linkage: child counts,
    * orphan counts, pass flags. The generator is consistent, so every
    * row reads ok=true — the AUDIT's arithmetic is what the oracle
    * pins; ValidationSpec wires a fixture with real orphans.
    */
  private def q172RefIntegrity(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Validation.{RefCheck, refIntegrityAudit}
    refIntegrityAudit(Seq(
      RefCheck("customer.c_nationkey->nation", t(s, dir, "customer"),
        "c_nationkey", t(s, dir, "nation"), "n_nationkey"),
      RefCheck("events.user_id->customer", t(s, dir, "events"),
        "user_id", t(s, dir, "customer"), "c_custkey"),
      RefCheck("lineitem.l_orderkey->orders", t(s, dir, "lineitem"),
        "l_orderkey", t(s, dir, "orders"), "o_orderkey"),
      RefCheck("orders.o_custkey->customer", t(s, dir, "orders"),
        "o_custkey", t(s, dir, "customer"), "c_custkey")))
      .orderBy(col("fk"))
  }


  /** GDPR erasure ([[graft.pipeline.Erasure.erase]]): every customer
    * whose key ends in 07 exercises the right to be forgotten; customer
    * and orders are rewritten without them as committed
    * [[graft.sources.VersionedTable]] snapshots and the audit table —
    * before/erased/after/version per table — is the query output. The
    * oracle restates the erasure arithmetic; the versioned commit is
    * deterministic (version 0 on a clean root).
    */
  private def q173GdprErase(s: SparkSession, dir: String): DataFrame = {
    import graft.pipeline.Erasure
    val path = s"/tmp/graft_gdpr/${dir.replaceAll("[^0-9a-zA-Z.]", "_")}"
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val cust = t(s, dir, "customer")
    val subjects = cust.filter(col("c_custkey") % 100 === 7)
    Erasure.erase(s, subjects, "c_custkey", Seq(
        Erasure.Scope("customer", cust, "c_custkey"),
        Erasure.Scope("orders", t(s, dir, "orders"), "o_custkey")), path)
      .orderBy(col("table_name"))
  }


  /** Leave-one-out target encoding
    * ([[graft.operators.Features.targetEncodeLoo]]): each order's
    * priority encoded as the mean total price of the OTHER orders with
    * that priority — the leakage-safe target statistic. The target is
    * pre-scaled to integer cents so the category sums are exact longs
    * (order-independent, bit-identical across engines); the oracle
    * restates the window-sum form of the same arithmetic.
    */
  private def q176TargetEncoding(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Features
    val orders = t(s, dir, "orders")
      .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
    Features.targetEncodeLoo(orders, "o_orderkey", "o_orderpriority", "cents")
      .select(col("o_orderkey"), col("o_orderpriority"),
        round(col("loo_enc") / 100.0, 6).as("loo_enc"))
      .orderBy(col("o_orderkey"))
  }


  /** Fitted equi-depth binning
    * ([[graft.operators.Features.quantileBins]]): 8 bins over order
    * total price — the K−1 breakpoints fit once (exact interpolated
    * percentiles, the q09 quantile_cont parity precedent), broadcast,
    * and applied map-side; the per-bin histogram pins both the fit and
    * the (lo, hi] boundary convention against DuckDB.
    */
  private def q177QuantileBins(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Features
    Features.quantileBins(t(s, dir, "orders"), "o_totalprice", 8)
      .groupBy(col("bin").cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"))
      .orderBy(col("bin"))
  }


  /** JSONL round-trip ([[graft.sources.Tables.writeJsonLines]]/
    * `jsonLines`): documents exported to JSON-lines (the release
    * interchange format) and read back with a pinned schema, then
    * aggregated — the oracle aggregates the PARQUET table, so a hash
    * match pins cross-format content equality (q165's ORC pattern).
    */
  private def q189JsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables
    val base = t(s, dir, "documents")
    val path = s"/tmp/graft_jsonl_rt/${dir.replaceAll("[^0-9a-zA-Z.]", "_")}/documents"
    Tables.writeJsonLines(base, path)
    Tables.jsonLines(s, path, base.schema)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"), col("source"))
  }


  /** ε-DP count release ([[graft.operators.Validation.dpNoisedCounts]]):
    * order counts by (priority, status) published with deterministic
    * Laplace(1/ε) noise — re-releases are byte-identical (an observer
    * can't average fresh noise away) and the oracle replays the md5
    * inverse-CDF draw and the noise arithmetic exactly.
    */
  private def q190DpCounts(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Validation
    Validation.dpNoisedCounts(t(s, dir, "orders"),
        Seq("o_orderpriority", "o_orderstatus"), epsilon = 1.0)
      .orderBy(col("o_orderpriority"), col("o_orderstatus"))
  }


  /** Incremental join maintenance
    * ([[graft.operators.Incremental.joinDelta]]): orders/customer each
    * split into a 95% snapshot and a 5% append; the operator emits the
    * join's NEW rows from delta-sized joins only — the oracle derives
    * the same rows from the FULL join filtered to pairs touching a
    * delta member, so the algebraic identity itself is what's checked.
    */
  private def q191DeltaJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Incremental
    val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey").as("custkey"))
    val c = t(s, dir, "customer").select(col("c_custkey").as("custkey"), col("c_nationkey"))
    Incremental.joinDelta(
        o.filter(col("o_orderkey") % 20 =!= 0), o.filter(col("o_orderkey") % 20 === 0),
        c.filter(col("custkey") % 25 =!= 0), c.filter(col("custkey") % 25 === 0),
        Seq("custkey"))
      .select(col("o_orderkey"), col("custkey"), col("c_nationkey"))
      .orderBy(col("o_orderkey"))
  }


  /** Robust MAD outlier gate ([[graft.operators.GroupOps.madOutliers]],
    * Hampel '74): event values more than 5 MADs from their type's
    * median — the gate outliers can't corrupt, unlike mean±kσ. Exact
    * medians (q09 interpolation parity).
    */
  private def q193MadOutliers(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.GroupOps
    GroupOps.madOutliers(Tables.withEventTime(t(s, dir, "events")),
        Seq("event_type"), "event_id", "value", c = 5.0)
      .select(col("event_type"), col("event_id"),
        round(col("value"), 6).as("value"), round(col("med"), 6).as("med"),
        round(col("mad"), 6).as("mad"), round(col("robust_z"), 6).as("robust_z"))
      .orderBy(col("event_type"), col("event_id"))
  }


  /** RFM customer-value features ([[graft.operators.Funnel.rfmTable]]):
    * recency/frequency/monetary per customer from orders, quintile
    * scores via FITTED breakpoints (no entity-wide ntile window — the
    * q177 machinery, scale-correct at a billion entities). Monetary
    * sums exact integer cents.
    */
  private def q194RfmFeatures(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Funnel
    Funnel.rfmTable(t(s, dir, "orders"), "o_custkey", "o_orderdate",
        "o_totalprice", anchorDate = "1998-08-02")
      .select(col("o_custkey"), col("recency_days"), col("frequency"),
        round(col("monetary"), 2).as("monetary"),
        col("r_score"), col("f_score"), col("m_score"))
      .orderBy(col("o_custkey"))
  }


  /** Measurement-driven adaptive join ([[graft.operators.SkewJoins
    * .adaptiveJoin]]): the planner measures (right-side bytes via
    * Catalyst stats, left row count, sampled hottest-key estimate) and
    * picks broadcast / plain / hot-key-salted itself — here on a
    * deliberately skewed key (every third lineitem rekeyed to one hot
    * key, ~⅓ of all rows, far above the 2× average-partition
    * threshold, so the salted path fires at every SF). Strategy choice
    * must never change WHICH rows meet: the oracle is the plain SQL
    * join of the same rekeyed tables (the q47 salt-invariance
    * precedent).
    */
  private def q214AdaptiveJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.SkewJoins
    val li = t(s, dir, "lineitem")
      .select(when(col("l_orderkey") % 3 === 0, lit(1L))
          .otherwise(col("l_orderkey")).as("k"),
        col("l_extendedprice"), col("l_discount"))
    val ord = t(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderpriority"))
    // broadcastBytes=0 pins the exercise to the shuffle-side planner:
    // at smoke SF the whole orders table fits any realistic budget and
    // the query would silently test the (already q03-covered)
    // broadcast path instead of the skew machinery
    SkewJoins.adaptiveJoin(li, ord, Seq("k"), broadcastBytes = 0L,
        sampleFraction = 0.2)
      .groupBy(col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("o_orderpriority"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_filter_project" -> (q02FilterProject _),
    "q03_join_revenue" -> (q03JoinRevenue _),
    "q04_left_join_counts" -> (q04LeftJoinCounts _),
    "q05_anti_join" -> (q05AntiJoin _),
    "q06_semi_join" -> (q06SemiJoin _),
    "q07_top_order_per_customer" -> (q07TopOrderPerCustomer _),
    "q08_group_mode" -> (q08GroupMode _),
    "q09_grouped_median" -> (q09GroupedMedian _),
    "q10_distinct" -> (q10Distinct _),
    "q11_union_by_name" -> (q11UnionByName _),
    "q12_explode_tokens" -> (q12ExplodeTokens _),
    "q13_regex_extract" -> (q13RegexExtract _),
    "q14_date_parts" -> (q14DateParts _),
    "q15_conditional" -> (q15Conditional _),
    "q16_pivot" -> (q16Pivot _),
    "q17_null_profile" -> (q17NullProfile _),
    "q18_duplicates" -> (q18Duplicates _),
    "q19_dense_id" -> (q19DenseId _),
    "q20_ffill" -> (q20Ffill _),
    "q21_validation" -> (q21Validation _),
    "q32_json_extract" -> (q32JsonExtract _),
    "q37_rollup" -> (q37Rollup _),
    "q38_cube" -> (q38Cube _),
    "q39_count_distinct" -> (q39CountDistinct _),
    "q40_global_topk" -> (q40GlobalTopK _),
    "q41_asof_join" -> (q41AsofJoin _),
    "q42_range_join" -> (q42RangeJoin _),
    "q45_hash_split" -> (q45HashSplit _),
    "q47_salted_join" -> (q47SaltedJoin _),
    "q48_interval_join" -> (q48IntervalJoin _),
    "q51_bloom_join" -> (q51BloomJoin _),
    "q53_cdc_merge" -> (q53CdcMerge _),
    "q54_zorder" -> (q54Zorder _),
    "q56_approx_quantiles" -> (q56ApproxQuantiles _),
    "q61_hotkey_salt" -> (q61HotkeySalt _),
    "q63_incremental_agg" -> (q63IncrementalAgg _),
    "q67_quantile_buckets" -> (q67QuantileBuckets _),
    "q69_set_ops" -> (q69SetOps _),
    "q76_rolling_window" -> (q76RollingWindow _),
    "q77_scd2" -> (q77Scd2 _),
    "q80_winsorize" -> (q80Winsorize _),
    "q86_unpivot" -> (q86Unpivot _),
    "q87_rank_family" -> (q87RankFamily _),
    "q88_date_features" -> (q88DateFeatures _),
    "q91_table_profile" -> (q91TableProfile _),
    "q92_full_outer" -> (q92FullOuter _),
    "q93_asof_forward" -> (q93AsofForward _),
    "q94_asof_nearest" -> (q94AsofNearest _),
    "q96_stratified_split" -> (q96StratifiedSplit _),
    "q97_snapshot_diff" -> (q97SnapshotDiff _),
    "q98_gapfill_resample" -> (q98GapfillResample _),
    "q99_merge_intervals" -> (q99MergeIntervals _),
    "q101_moments" -> (q101Moments _),
    "q105_robust_outliers" -> (q105RobustOutliers _),
    "q106_topk_per_group" -> (q106TopKPerGroup _),
    "q107_share_of_total" -> (q107ShareOfTotal _),
    "q108_zonemap_scan" -> (q108ZonemapScan _),
    "q137_join_cardinality" -> (q137JoinCardinality _),
    "q140_hilbert" -> (q140Hilbert _),
    "q160_key_skew_profile" -> (q160KeySkewProfile _),
    "q165_orc_roundtrip" -> (q165OrcRoundtrip _),
    "q168_time_travel" -> (q168TimeTravel _),
    "q169_k_anonymity" -> (q169KAnonymity _),
    "q170_hashed_features" -> (q170HashedFeatures _),
    "q172_ref_integrity" -> (q172RefIntegrity _),
    "q173_gdpr_erase" -> (q173GdprErase _),
    "q176_target_encoding" -> (q176TargetEncoding _),
    "q177_quantile_bins" -> (q177QuantileBins _),
    "q189_jsonl_roundtrip" -> (q189JsonlRoundtrip _),
    "q190_dp_counts" -> (q190DpCounts _),
    "q191_delta_join" -> (q191DeltaJoin _),
    "q193_mad_outliers" -> (q193MadOutliers _),
    "q194_rfm_features" -> (q194RfmFeatures _),
    "q214_adaptive_join" -> (q214AdaptiveJoin _))

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity > 45 AND l_discount < 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q03_join_revenue" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,
    "q04_left_join_counts" ->
      """SELECT c_custkey, c_name,
        | count(o_orderkey) AS n_orders,
        | round(coalesce(sum(o_totalprice), 0), 2) AS total_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin,
    "q05_anti_join" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q06_semi_join" ->
      """SELECT c_custkey, c_mktsegment
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q07_top_order_per_customer" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        | FROM orders) t
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "q08_group_mode" ->
      """SELECT o_custkey, o_orderpriority AS mode_priority FROM (
        | SELECT o_custkey, o_orderpriority,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY cnt DESC, o_orderpriority ASC) AS rn
        | FROM (SELECT o_custkey, o_orderpriority, count(*) AS cnt
        |       FROM orders WHERE o_orderpriority IS NOT NULL
        |       GROUP BY o_custkey, o_orderpriority) c) t
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,
    "q09_grouped_median" ->
      """SELECT o_orderpriority, round(median(o_totalprice), 4) AS median_price
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q10_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q11_union_by_name" ->
      """SELECT o_orderkey, o_orderpriority, CAST(NULL AS DOUBLE) AS o_totalprice
        |FROM orders WHERE o_orderpriority = '1-URGENT'
        |UNION ALL
        |SELECT o_orderkey, CAST(NULL AS VARCHAR), o_totalprice
        |FROM orders WHERE o_totalprice > 400000.0
        |ORDER BY o_orderkey, o_orderpriority, o_totalprice""".stripMargin,
    "q12_explode_tokens" ->
      """SELECT word, count(*) AS n
        |FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part) t
        |GROUP BY word
        |ORDER BY word""".stripMargin,
    "q13_regex_extract" ->
      """SELECT o_orderkey,
        | CAST(nullif(regexp_extract(o_orderpriority, '(\d+)', 1), '') AS INTEGER) AS priority_num,
        | (o_orderpriority LIKE '%URGENT%') AS is_urgent
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "q14_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
        | CAST(month(o_orderdate) AS INTEGER) AS order_month,
        | count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS month_total
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q15_conditional" ->
      """SELECT c_mktsegment,
        | CASE WHEN c_acctbal < 0 THEN 'negative'
        |      WHEN c_acctbal < 5000 THEN 'mid'
        |      ELSE 'high' END AS balance_bucket,
        | count(*) AS n_customers
        |FROM customer
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q16_pivot" ->
      """SELECT l_linestatus,
        | round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS "A",
        | round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS "N",
        | round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS "R"
        |FROM lineitem
        |GROUP BY l_linestatus
        |ORDER BY l_linestatus""".stripMargin,
    "q17_null_profile" ->
      """SELECT column_name, round(null_frac, 6) AS null_frac FROM (
        | SELECT 'event_id' AS column_name, avg(CASE WHEN event_id IS NULL THEN 1.0 ELSE 0.0 END) AS null_frac FROM events
        | UNION ALL SELECT 'ts', avg(CASE WHEN ts IS NULL THEN 1.0 ELSE 0.0 END) FROM events
        | UNION ALL SELECT 'user_id', avg(CASE WHEN user_id IS NULL THEN 1.0 ELSE 0.0 END) FROM events
        | UNION ALL SELECT 'event_type', avg(CASE WHEN event_type IS NULL THEN 1.0 ELSE 0.0 END) FROM events
        | UNION ALL SELECT 'value', avg(CASE WHEN value IS NULL THEN 1.0 ELSE 0.0 END) FROM events
        | UNION ALL SELECT 'props', avg(CASE WHEN props IS NULL THEN 1.0 ELSE 0.0 END) FROM events) t
        |ORDER BY column_name""".stripMargin,
    "q18_duplicates" ->
      """SELECT l_orderkey, l_partkey, count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_orderkey, l_partkey
        |HAVING count(*) > 1
        |ORDER BY l_orderkey, l_partkey""".stripMargin,
    "q19_dense_id" ->
      """SELECT o_orderkey,
        | row_number() OVER (ORDER BY o_orderkey) AS order_sk
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    "q20_ffill" ->
      """SELECT event_id, user_id,
        | last_value(v IGNORE NULLS) OVER (
        |   PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM (SELECT event_id, user_id, ts,
        |        CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |      FROM events) t
        |ORDER BY event_id""".stripMargin,
    "q21_validation" ->
      """SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations FROM (
        | SELECT 'positive_price' AS check_name,
        |   sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS n_violations FROM orders
        | UNION ALL SELECT 'valid_status',
        |   sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END) FROM orders
        | UNION ALL SELECT 'priority_format',
        |   sum(CASE WHEN regexp_matches(o_orderpriority, '^[1-5]-') THEN 0 ELSE 1 END) FROM orders
        | UNION ALL SELECT 'date_range',
        |   sum(CASE WHEN o_orderdate BETWEEN TIMESTAMP '1992-01-01' AND TIMESTAMP '1998-12-31' THEN 0 ELSE 1 END) FROM orders
        | UNION ALL SELECT 'high_value_urgent',
        |   sum(CASE WHEN NOT(o_totalprice > 450000.0) OR o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) FROM orders) t
        |ORDER BY check_name""".stripMargin,
    "q32_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        | count(*) AS n, round(avg(value), 4) AS avg_value
        |FROM events
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q37_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_customers,
        | round(sum(c_acctbal), 2) AS total_balance
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "q38_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(avg(o_totalprice), 2) AS avg_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q39_count_distinct" ->
      """SELECT l_returnflag,
        | count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_suppliers,
        | count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    "q40_global_topk" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC
        |LIMIT 20""".stripMargin,
    "q41_asof_join" ->
      """SELECT e.event_id, e.user_id,
        | round(p.value, 4) AS last_purchase_value
        |FROM events e
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, arg_max(value, event_id) AS value
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts) p
        |  ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,
    "q42_range_join" ->
      """SELECT CAST(od AS VARCHAR) AS order_date, count(*) AS n_shipped
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS od FROM orders) d
        |JOIN lineitem ON CAST(l_shipdate AS DATE) >= od
        |             AND CAST(l_shipdate AS DATE) < od + INTERVAL 2 DAY
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // q45: the split is a pure function of md5(doc_id) — the oracle
    // recomputes bucket and label from scratch (bounds for 0.8/0.1/0.1
    // over 10000 buckets: [0,8000) [8000,9000) [9000,10000))
    "q45_hash_split" ->
      """SELECT split, lang, count(*) AS n_docs FROM (
        | SELECT lang,
        |  CASE WHEN b < 8000 THEN 'train'
        |       WHEN b < 9000 THEN 'val'
        |       ELSE 'test' END AS split
        | FROM (SELECT lang,
        |        CAST(('0x' || substring(md5(coalesce(CAST(doc_id AS VARCHAR), '__graft_null_key__')), 1, 8)) AS BIGINT) % 10000 AS b
        |       FROM documents) t) s
        |GROUP BY split, lang
        |ORDER BY split, lang""".stripMargin,
    // q47: salting is invisible in the result — the oracle is the PLAIN join
    "q47_salted_join" ->
      """SELECT o_orderpriority,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // q48: stream-stream interval join, replayed as a SQL interval join
    // (ts is µs-aligned TIMESTAMP_NS on the DuckDB side, timestamp_micros
    // on the Spark side — boundaries compare exactly)
    "q48_interval_join" ->
      """SELECT p.event_id AS purchase_id, v.event_id AS view_id,
        | p.user_id, round(p.value, 4) AS purchase_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |JOIN (SELECT * FROM events WHERE event_type = 'view') v
        |  ON p.user_id = v.user_id
        | AND v.ts <= p.ts
        | AND v.ts >= p.ts - INTERVAL 30 MINUTE
        |ORDER BY purchase_id, view_id""".stripMargin,
    // q51: the oracle is the PLAIN join — bloom false positives must be
    // invisible in the result
    "q51_bloom_join" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q53_cdc_merge" ->
      """SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS last_ts_us,
        | round(value, 4) AS last_value, event_type AS last_type
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) t
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    // q54: the oracle's interleave expression is GENERATED from the same
    // loop as the engine's Column expression — one formula, two engines
    "q54_zorder" ->
      s"""SELECT x, y, ${graft.operators.Layout.zValue2Sql("x", "y", 12)} AS z
         |FROM (SELECT l_orderkey % 4096 AS x, l_partkey % 4096 AS y
         |      FROM lineitem WHERE l_orderkey < 3000) t
         |ORDER BY z, x, y""".stripMargin,
    // q56: quantile_cont = Spark's interpolated `percentile`; the oracle
    // recomputes the exact values and expects both accuracy claims true
    "q56_approx_quantiles" ->
      """SELECT l_returnflag,
        | round(quantile_cont(l_extendedprice, 0.5), 2) AS p50_exact,
        | round(quantile_cont(l_extendedprice, 0.95), 2) AS p95_exact,
        | TRUE AS p50_ok, TRUE AS p95_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q61: the oracle is the PLAIN join — hot-key salting must be
    // result-invariant (same contract as q47)
    "q61_hotkey_salt" ->
      """SELECT s_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,
    // q63: cold full-table recompute — the incrementally-merged
    // aggregate must be indistinguishable from it
    "q63_incremental_agg" ->
      """SELECT o_orderpriority, count(*) AS n_rows,
        | round(sum(o_totalprice), 2) AS price_sum,
        | count(o_totalprice) AS price_cnt,
        | round(min(o_totalprice), 2) AS price_min,
        | round(max(o_totalprice), 2) AS price_max,
        | round(sum(o_totalprice) / count(o_totalprice), 4) AS price_avg
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // q67: the oracle runs the ntile window the engine deliberately
    // avoids — closed-form arithmetic over a two-phase rank must equal it
    "q67_quantile_buckets" ->
      """SELECT bucket, count(*) AS n_rows,
        | round(min(l_extendedprice), 2) AS price_min,
        | round(max(l_extendedprice), 2) AS price_max,
        | round(sum(l_extendedprice), 2) AS price_sum
        |FROM (
        | SELECT l_extendedprice,
        |  CAST(ntile(4) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT) AS bucket
        | FROM lineitem) t
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    // q69: INTERSECT/EXCEPT restated natively
    "q69_set_ops" ->
      """WITH y96 AS (SELECT o_custkey FROM orders
         |  WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'),
         |y97 AS (SELECT o_custkey FROM orders
         |  WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01')
         |SELECT set_op, count(*) AS n_customers FROM (
         | SELECT 'both_years' AS set_op, o_custkey FROM (SELECT o_custkey FROM y96 INTERSECT SELECT o_custkey FROM y97) a
         | UNION ALL
         | SELECT 'only_1996', o_custkey FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y97) b) t
         |GROUP BY set_op ORDER BY set_op""".stripMargin,
    // q76: the same value-based frame over truncated epoch seconds
    // (Spark's unix_timestamp truncates; epoch() keeps microseconds)
    "q76_rolling_window" ->
      """SELECT event_id, user_id,
        | count(*) OVER w AS roll_count,
        | round(sum(value) OVER w, 4) AS roll_sum,
        | round(avg(value) OVER w, 6) AS roll_avg
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // q77: change detection via lag (IS DISTINCT FROM = Spark's null-safe
    // <=> negated), interval close via lead over the surviving versions
    "q77_scd2" ->
      """WITH w AS (
        | SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
        |  lag(o_orderpriority) OVER ck AS prev,
        |  lag(o_orderdate) OVER ck AS prev_ts
        | FROM orders
        | WINDOW ck AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |v AS (
        | SELECT * FROM w
        | WHERE prev_ts IS NULL OR prev IS DISTINCT FROM o_orderpriority)
        |SELECT o_custkey, o_orderkey, o_orderpriority,
        | o_orderdate AS valid_from,
        | lead(o_orderdate) OVER ck AS valid_to,
        | lead(o_orderdate) OVER ck IS NULL AS is_current
        |FROM v
        |WINDOW ck AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, valid_from, o_orderkey""".stripMargin,
    // q80: quantile_cont IS the SQL-standard interpolated percentile the
    // engine computes exactly (q56 pins the semantics equivalence)
    "q80_winsorize" ->
      """WITH b AS (
        | SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.05) AS lo,
        |  quantile_cont(l_extendedprice, 0.95) AS hi
        | FROM lineitem GROUP BY l_returnflag)
        |SELECT l_orderkey, l_linenumber, l_returnflag,
        | round(least(greatest(l_extendedprice, lo), hi), 2) AS price_w,
        | least(greatest(l_extendedprice, lo), hi) <> l_extendedprice AS price_w_clipped
        |FROM lineitem JOIN b USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // q86: melt restated as the portable UNION ALL (same rows, any engine)
    "q86_unpivot" ->
      """SELECT l_orderkey, l_linenumber, measure, value FROM (
        | SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
        |        CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_extendedprice',
        |        CAST(l_extendedprice AS DOUBLE) FROM lineitem
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'l_discount',
        |        CAST(l_discount AS DOUBLE) FROM lineitem) t
        |ORDER BY l_orderkey, l_linenumber, measure""".stripMargin,
    // q87: identical window family; DuckDB's rank-family returns BIGINT
    // (Spark side casts to long to match)
    "q87_rank_family" ->
      """SELECT o_custkey, o_orderkey, o_totalprice,
        | rank() OVER w AS rnk,
        | dense_rank() OVER w AS drnk,
        | round(percent_rank() OVER w, 6) AS prnk,
        | round(cume_dist() OVER w, 6) AS cdist,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // q88: calendar features; ISO day-of-week is the shared convention
    // (DuckDB isodow == Spark (dayofweek+5)%7+1)
    "q88_date_features" ->
      """SELECT o_orderkey, o_orderdate,
        | CAST(year(o_orderdate) AS INTEGER) AS yr,
        | CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
        | CAST(month(o_orderdate) AS INTEGER) AS mo,
        | CAST(day(o_orderdate) AS INTEGER) AS dom,
        | CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
        | CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        | CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
        | last_day(o_orderdate) AS month_end,
        | CAST(datediff('day', o_orderdate, DATE '1998-12-31') AS INTEGER) AS days_to_eoy
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // q91: each column's stats restated independently (count(col) is the
    // non-null count in both engines; distinct excludes nulls in both)
    "q91_table_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map { c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
           | count(*) - count($c) AS n_nulls,
           | count(DISTINCT $c) AS n_distinct,
           | CAST(min($c) AS VARCHAR) AS min_value,
           | CAST(max($c) AS VARCHAR) AS max_value FROM orders""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
    },
    // q92: the identical FULL JOIN; USING coalesces the key per the
    // SQL standard in both engines
    "q92_full_outer" ->
      """WITH s96 AS (
        | SELECT o_custkey, round(sum(o_totalprice), 2) AS spend_96 FROM orders
        | WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        | GROUP BY o_custkey),
        |s97 AS (
        | SELECT o_custkey, round(sum(o_totalprice), 2) AS spend_97 FROM orders
        | WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
        | GROUP BY o_custkey)
        |SELECT o_custkey, spend_96, spend_97
        |FROM s96 FULL JOIN s97 USING (o_custkey)
        |ORDER BY o_custkey""".stripMargin,
    // q93: DuckDB ASOF with the <= inequality is the forward direction;
    // tie dedup = arg_min (first event_id wins, mirroring q41's arg_max)
    "q93_asof_forward" ->
      """SELECT e.event_id, e.user_id,
        | round(p.value, 4) AS next_purchase_value
        |FROM events e
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, arg_min(value, event_id) AS value
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts) p
        |  ON e.user_id = p.user_id AND e.ts <= p.ts
        |ORDER BY e.event_id""".stripMargin,
    // q94: both directions composed with the same pick rule the engine
    // documents (equal distance -> backward)
    "q94_asof_nearest" ->
      """SELECT e.event_id, e.user_id,
        | round(CASE WHEN f.ts IS NULL
        |            OR (b.ts IS NOT NULL AND e.ts - b.ts <= f.ts - e.ts)
        |       THEN b.value ELSE f.value END, 4) AS nearest_purchase_value
        |FROM events e
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, arg_max(value, event_id) AS value
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts) b
        |  ON e.user_id = b.user_id AND e.ts >= b.ts
        |ASOF LEFT JOIN (
        |  SELECT user_id, ts, arg_min(value, event_id) AS value
        |  FROM events WHERE event_type = 'purchase'
        |  GROUP BY user_id, ts) f
        |  ON e.user_id = f.user_id AND e.ts <= f.ts
        |ORDER BY e.event_id""".stripMargin,
    // q96: identical rank + floor(cumfrac·n) boundaries (same IEEE
    // double literals ⇒ same floors)
    "q96_stratified_split" ->
      """WITH r AS (
        | SELECT lang, doc_id,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk,
        |  count(*) OVER (PARTITION BY lang) AS n
        | FROM documents)
        |SELECT lang, split, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
        |FROM (
        | SELECT lang, doc_id,
        |  -- (0.8 + 0.1), not 0.9: the engine folds cumulative weights by
        |  -- summation, and the floor must see the bit-identical double
        |  CASE WHEN rk <= floor(0.8 * n) THEN 'train'
        |       WHEN rk <= floor((0.8 + 0.1) * n) THEN 'val'
        |       ELSE 'test' END AS split
        | FROM r) t
        |GROUP BY lang, split
        |ORDER BY lang, split""".stripMargin,
    // q97: same FULL JOIN + null-safe compare; count(*) is never null,
    // so side presence can ride on it in SQL (the engine uses explicit
    // markers for the general all-null-attribute case)
    "q97_snapshot_diff" ->
      """WITH o AS (
        | SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
        | FROM orders
        | WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        | GROUP BY o_custkey),
        |n AS (
        | SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
        | FROM orders
        | WHERE o_orderdate >= DATE '1997-01-01' AND o_orderdate < DATE '1998-01-01'
        | GROUP BY o_custkey)
        |SELECT o_custkey,
        | o.n_orders AS old_n_orders, o.spend AS old_spend,
        | n.n_orders AS new_n_orders, n.spend AS new_spend,
        | CASE WHEN o.n_orders IS NULL THEN 'added'
        |      WHEN n.n_orders IS NULL THEN 'removed'
        |      WHEN o.n_orders IS DISTINCT FROM n.n_orders
        |        OR o.spend IS DISTINCT FROM n.spend THEN 'changed'
        |      ELSE 'unchanged' END AS change_type
        |FROM o FULL JOIN n USING (o_custkey)
        |ORDER BY o_custkey""".stripMargin,
    // q98: integer bucket indices (floor(floor(epoch)/b) == floor(epoch/b)
    // for integer b), generate_series spine, IGNORE NULLS ffill with the
    // default up-to-current-row frame = the engine's rowsBetween
    "q98_gapfill_resample" ->
      """WITH b AS (
        | SELECT user_id, CAST(floor(epoch(ts) / 21600) AS BIGINT) AS idx,
        |  count(*) AS n_events, sum(value) AS sum_value
        | FROM events GROUP BY 1, 2),
        |spine AS (
        | SELECT user_id, unnest(generate_series(min(idx), max(idx))) AS idx
        | FROM b GROUP BY user_id),
        |j AS (
        | SELECT s.user_id, s.idx, coalesce(b.n_events, 0) AS n_events, b.sum_value
        | FROM spine s LEFT JOIN b ON s.user_id = b.user_id AND s.idx = b.idx)
        |SELECT user_id, idx * 21600 AS bucket_start, n_events,
        | round(sum_value, 4) AS sum_value,
        | round(last_value(sum_value IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY idx), 4) AS filled_sum
        |FROM j
        |ORDER BY user_id, bucket_start""".stripMargin,
    // q99: the same two-window gaps-and-islands restated — running max
    // over strictly preceding rows opens islands, running sum numbers them
    "q99_merge_intervals" ->
      """WITH iv AS (
        | SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS s,
        |  CAST(floor(epoch(ts)) AS BIGINT) + 1800 AS e
        | FROM events),
        |m AS (
        | SELECT user_id, s, e,
        |  max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        | FROM iv),
        |isl AS (
        | SELECT user_id, s, e,
        |  sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        | FROM m)
        |SELECT user_id, min(s) AS span_start, max(e) AS span_end,
        | count(*) AS n_intervals
        |FROM isl GROUP BY user_id, island
        |ORDER BY user_id, span_start""".stripMargin,
    // q101: the pinned two-pass formula — group mean join, centered
    // power sums, population g1/g2 (built-in skewness/kurtosis
    // conventions differ between engines, so neither side uses them)
    "q101_moments" ->
      """WITH mu AS (
        | SELECT l_returnflag, avg(l_quantity) AS mu FROM lineitem GROUP BY 1),
        |c AS (
        | SELECT l.l_returnflag, mu.mu, l.l_quantity - mu.mu AS d
        | FROM lineitem l JOIN mu USING (l_returnflag))
        |SELECT l_returnflag, count(*) AS n, round(max(mu), 6) AS mean,
        | round(sqrt(sum(d*d) / nullif(count(*) - 1, 0)), 6) AS stddev,
        | round((sum(d*d*d) / count(*)) / nullif(pow(sum(d*d) / count(*), 1.5), 0), 6) AS skewness,
        | round((sum(d*d*d*d) / count(*)) / nullif(pow(sum(d*d) / count(*), 2), 0) - 3, 6) AS kurtosis
        |FROM c GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // q105: identical median/MAD arithmetic (DuckDB median ==
    // interpolated percentile 0.5 == Spark percentile); NULLIF pins the
    // MAD=0 degenerate case to NULL on both engines (Spark non-ANSI x/0
    // is NULL; DuckDB IEEE x/0 would be ±Inf and leak past the z cut)
    "q105_robust_outliers" ->
      """WITH m AS (
        | SELECT event_type, median(value) AS med FROM events GROUP BY 1),
        |d AS (
        | SELECT e.event_id, e.event_type, e.value, e.value - m.med AS sdev,
        |  abs(e.value - m.med) AS dev
        | FROM events e JOIN m USING (event_type)),
        |md AS (SELECT event_type, median(dev) AS mad FROM d GROUP BY 1)
        |SELECT d.event_id, d.event_type, round(d.value, 4) AS value,
        | round(0.6745 * d.sdev / nullif(md.mad, 0), 6) AS robust_z
        |FROM d JOIN md USING (event_type)
        |WHERE abs(0.6745 * d.sdev / nullif(md.mad, 0)) > 3.5
        |ORDER BY d.event_id""".stripMargin,
    "q106_topk_per_group" ->
      """SELECT o_custkey, rk, o_orderkey, round(o_totalprice, 2) AS o_totalprice
        |FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
        | FROM orders) t
        |WHERE rk <= 3
        |ORDER BY o_custkey, rk""".stripMargin,
    "q107_share_of_total" ->
      """WITH rev AS (
        | SELECT r.r_name, n.n_name, sum(o.o_totalprice) AS rev
        | FROM customer c
        | JOIN orders o ON c.c_custkey = o.o_custkey
        | JOIN nation n ON c.c_nationkey = n.n_nationkey
        | JOIN region r ON n.n_regionkey = r.r_regionkey
        | GROUP BY 1, 2)
        |SELECT r_name, n_name, round(rev, 2) AS rev,
        | round(rev / sum(rev) OVER (PARTITION BY r_name), 6) AS region_share,
        | round(rev / sum(rev) OVER (), 6) AS total_share
        |FROM rev
        |ORDER BY r_name, n_name""".stripMargin,
    // q108: the engine writes a zone-mapped copy and scans it through
    // the pruning FileIndex; the oracle applies the same predicate to
    // the raw table — file skipping must be value-invisible
    "q108_zonemap_scan" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        | round(CAST(sum(l_quantity) AS DOUBLE), 2) AS sum_qty,
        | round(CAST(sum(l_extendedprice) AS DOUBLE), 2) AS sum_price
        |FROM lineitem
        |WHERE l_orderkey >= 100 AND l_orderkey <= 1000
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // q137: the CM inner-product estimator replayed — per-row bucket
    // totals over each side's full key-frequency table, row-wise
    // product sums, min over the 4 rows; exact sizes from the count
    // tables directly
    "q137_join_cardinality" ->
      """WITH cl AS (SELECT l_orderkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |co AS (SELECT o_orderkey AS k, count(*) AS c FROM orders GROUP BY 1),
        |cp AS (SELECT l_partkey AS k, count(*) AS c FROM lineitem GROUP BY 1),
        |cellL AS (
        | SELECT r.i,
        |  CAST(('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 8))
        |   AS BIGINT) % 4096 AS b,
        |  CAST(sum(c) AS BIGINT) AS t
        | FROM cl, generate_series(0, 3) r(i) GROUP BY 1, 2),
        |cellO AS (
        | SELECT r.i,
        |  CAST(('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 8))
        |   AS BIGINT) % 4096 AS b,
        |  CAST(sum(c) AS BIGINT) AS t
        | FROM co, generate_series(0, 3) r(i) GROUP BY 1, 2),
        |cellP AS (
        | SELECT r.i,
        |  CAST(('0x' || substring(md5(CAST(r.i AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 8))
        |   AS BIGINT) % 4096 AS b,
        |  CAST(sum(c) AS BIGINT) AS t
        | FROM cp, generate_series(0, 3) r(i) GROUP BY 1, 2),
        |est1 AS (
        | SELECT CAST(min(s) AS BIGINT) AS e FROM (
        |  SELECT l.i, sum(l.t * o.t) AS s
        |  FROM cellL l JOIN cellO o ON o.i = l.i AND o.b = l.b GROUP BY 1) x),
        |est2 AS (
        | SELECT CAST(min(s) AS BIGINT) AS e FROM (
        |  SELECT i, sum(t * t) AS s FROM cellP GROUP BY 1) x),
        |ex1 AS (SELECT CAST(sum(cl.c * co.c) AS BIGINT) AS e
        |        FROM cl JOIN co USING (k)),
        |ex2 AS (SELECT CAST(sum(c * c) AS BIGINT) AS e FROM cp)
        |SELECT 'lineitem_orders_orderkey' AS join_key, ex1.e AS exact, est1.e AS cms_est
        |FROM ex1, est1
        |UNION ALL
        |SELECT 'lineitem_self_partkey', ex2.e, est2.e FROM ex2, est2
        |ORDER BY join_key""".stripMargin,
    // q140: the Hilbert walk unrolled one SQL level per bit by the same
    // generator the spec cross-checks against the codegen'd expression
    "q140_hilbert" -> (graft.operators.Layout.hilbertSqlLevels(
      Seq("x", "y"), "x", "y", 8,
      "(SELECT CAST(l_orderkey % 256 AS BIGINT) AS x, " +
        "CAST(l_partkey % 256 AS BIGINT) AS y " +
        "FROM lineitem WHERE l_orderkey < 3000) base") +
      " ORDER BY h, x, y"),
    // q160: counts, ppm shares and ceil-salt restated in the same
    // integer arithmetic (DuckDB // == Spark div on bigints)
    "q160_key_skew_profile" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS N, count(*) AS D FROM c)
        |SELECT user_id, cnt, cnt * 1000000 // N AS share_ppm,
        | (cnt * D + N - 1) // N AS salt_factor
        |FROM c CROSS JOIN t
        |ORDER BY cnt DESC, user_id
        |LIMIT 50""".stripMargin,
    // q165: the SAME aggregate straight off the parquet table — a hash
    // match means the ORC write+read preserved every row, type, and null
    "q165_orc_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS total_price,
        | count(DISTINCT o_custkey) AS n_customers
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin,
    // q168: both snapshots restated from parquet — the hash match pins
    // the commit/marker/resolve protocol, not just the aggregates
    "q168_time_travel" ->
      """SELECT CAST(0 AS BIGINT) AS version, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS total_price
        |FROM orders WHERE o_totalprice < 100000
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), count(*), round(sum(o_totalprice), 2)
        |FROM orders
        |ORDER BY version""".stripMargin,
    "q169_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
        | count(*) < 5 AS k_violation
        |FROM customer
        |GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,
    // q170: same md5 bucket/sign arithmetic over token occurrences;
    // zero-sum (fully cancelled) buckets dropped on both sides
    "q170_hashed_features" ->
      """WITH tok AS (
        | SELECT doc_id, unnest(string_split(lower(trim(text)), ' ')) AS w
        | FROM documents WHERE doc_id < 2000),
        |h AS (
        | SELECT doc_id,
        |  CAST(('0x' || substring(md5(w), 1, 8)) AS BIGINT) % 256 AS bucket,
        |  CASE WHEN CAST(('0x' || substring(md5(w), 9, 8)) AS BIGINT) % 2 = 0
        |       THEN 1 ELSE -1 END AS sign
        | FROM tok)
        |SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS feat
        |FROM h GROUP BY doc_id, bucket
        |HAVING CAST(sum(sign) AS BIGINT) <> 0
        |ORDER BY doc_id, bucket""".stripMargin,
    // q172: each relationship restated as a filtered count + NOT IN
    "q172_ref_integrity" ->
      """SELECT 'customer.c_nationkey->nation' AS fk, count(*) AS n_child,
        | count(*) FILTER (c_nationkey NOT IN (SELECT n_nationkey FROM nation)) AS n_orphans,
        | count(*) FILTER (c_nationkey NOT IN (SELECT n_nationkey FROM nation)) = 0 AS ok
        |FROM customer WHERE c_nationkey IS NOT NULL
        |UNION ALL
        |SELECT 'events.user_id->customer', count(*),
        | count(*) FILTER (user_id NOT IN (SELECT c_custkey FROM customer)),
        | count(*) FILTER (user_id NOT IN (SELECT c_custkey FROM customer)) = 0
        |FROM events WHERE user_id IS NOT NULL
        |UNION ALL
        |SELECT 'lineitem.l_orderkey->orders', count(*),
        | count(*) FILTER (l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        | count(*) FILTER (l_orderkey NOT IN (SELECT o_orderkey FROM orders)) = 0
        |FROM lineitem WHERE l_orderkey IS NOT NULL
        |UNION ALL
        |SELECT 'orders.o_custkey->customer', count(*),
        | count(*) FILTER (o_custkey NOT IN (SELECT c_custkey FROM customer)),
        | count(*) FILTER (o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
        |FROM orders WHERE o_custkey IS NOT NULL
        |ORDER BY fk""".stripMargin,
    // q173: the erasure arithmetic restated; version 0 is deterministic
    // on the freshly-wiped root
    "q173_gdpr_erase" ->
      """WITH subj AS (SELECT c_custkey FROM customer WHERE c_custkey % 100 = 7)
        |SELECT 'customer' AS table_name,
        | (SELECT count(*) FROM customer) AS n_before,
        | (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT c_custkey FROM subj)) AS n_erased,
        | (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT c_custkey FROM subj)) AS n_after,
        | CAST(0 AS BIGINT) AS version
        |UNION ALL
        |SELECT 'orders',
        | (SELECT count(*) FROM orders),
        | (SELECT count(*) FROM orders WHERE o_custkey IN (SELECT c_custkey FROM subj)),
        | (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM subj)),
        | CAST(0 AS BIGINT)
        |ORDER BY table_name""".stripMargin,
    // q176: window-sum restatement of the leave-one-out target
    // statistic over exact integer cents (order-independent sums)
    "q176_target_encoding" ->
      """WITH o AS (
        | SELECT o_orderkey, o_orderpriority,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders)
        |SELECT o_orderkey, o_orderpriority,
        | round((CASE WHEN count(*) OVER (PARTITION BY o_orderpriority) > 1
        |   THEN (sum(cents) OVER (PARTITION BY o_orderpriority) - cents) * 1.0
        |        / (count(*) OVER (PARTITION BY o_orderpriority) - 1)
        |   ELSE (sum(cents) OVER () - cents) * 1.0 / (count(*) OVER () - 1)
        |  END) / 100.0, 6) AS loo_enc
        |FROM o
        |ORDER BY o_orderkey""".stripMargin,
    "q177_quantile_bins" ->
      """WITH b AS (
        | SELECT quantile_cont(o_totalprice,
        |   [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875]) AS bps
        | FROM orders),
        |binned AS (
        | SELECT o_totalprice AS v,
        |  1 + len(list_filter((SELECT bps FROM b), bp -> o_totalprice > bp)) AS bin
        | FROM orders)
        |SELECT CAST(bin AS BIGINT) AS bin, count(*) AS n,
        | round(min(v), 2) AS min_price, round(max(v), 2) AS max_price
        |FROM binned GROUP BY bin ORDER BY bin""".stripMargin,
    // q189: content equality across the JSONL export/import edge,
    // pinned by aggregating the original parquet
    "q189_jsonl_roundtrip" ->
      """SELECT lang, source, count(*) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q190: the deterministic Laplace draw replayed — md5 uniform,
    // inverse CDF, the engine's exact operation order
    "q190_dp_counts" ->
      """WITH g AS (SELECT o_orderpriority, o_orderstatus, count(*) AS n
        |           FROM orders GROUP BY 1, 2),
        |w AS (SELECT o_orderpriority, o_orderstatus, n,
        | (CAST(('0x' || substring(md5(coalesce(CAST(o_orderpriority AS VARCHAR), ' null')
        |    || '|' || coalesce(CAST(o_orderstatus AS VARCHAR), ' null') || '|' || 'dp'), 1, 8)) AS BIGINT) + 0.5)
        |   / 4294967296.0 AS u
        | FROM g)
        |SELECT o_orderpriority, o_orderstatus,
        | round(n + ((-CAST(1.0 AS DOUBLE))
        |   * (CASE WHEN u > 0.5 THEN 1.0 WHEN u < 0.5 THEN -1.0 ELSE 0.0 END)
        |   * ln(1.0 - 2.0 * abs(u - 0.5))), 6) AS noised_count,
        | CAST(1.0 AS DOUBLE) AS epsilon
        |FROM w ORDER BY o_orderpriority, o_orderstatus""".stripMargin,
    // q191: the incremental-join identity checked against the full
    // join filtered to delta-touching pairs
    "q191_delta_join" ->
      """SELECT o_orderkey, o_custkey AS custkey, c_nationkey
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE (o.o_orderkey % 20 = 0) OR (c.c_custkey % 25 = 0)
        |ORDER BY o_orderkey""".stripMargin,
    "q193_mad_outliers" ->
      """WITH e AS (SELECT event_type, event_id, value FROM events
        |           WHERE value IS NOT NULL),
        |med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
        |        FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, event_id, value, med, abs(value - med) AS dev
        |      FROM e JOIN med USING (event_type)),
        |mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad
        |        FROM d GROUP BY 1)
        |SELECT d.event_type, event_id, round(value, 6) AS value,
        | round(med, 6) AS med, round(mad, 6) AS mad,
        | round(CASE WHEN mad > 0 THEN dev / mad END, 6) AS robust_z
        |FROM d JOIN mad USING (event_type)
        |WHERE dev > 5.0 * mad
        |ORDER BY event_type, event_id""".stripMargin,
    "q194_rfm_features" ->
      """WITH base AS (SELECT o_custkey,
        |  CAST(datediff('day', CAST(max(o_orderdate) AS DATE), DATE '1998-08-02') AS BIGINT) AS recency_days,
        |  count(*) AS frequency,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS monetary
        | FROM orders GROUP BY 1),
        |rb AS (SELECT quantile_cont(CAST(recency_days AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS bps FROM base),
        |fb AS (SELECT quantile_cont(CAST(frequency AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS bps FROM base),
        |mb AS (SELECT quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS bps FROM base)
        |SELECT o_custkey, recency_days, frequency, round(monetary, 2) AS monetary,
        | CAST(6 - (1 + len(list_filter((SELECT bps FROM rb), bp -> recency_days > bp))) AS BIGINT) AS r_score,
        | CAST(1 + len(list_filter((SELECT bps FROM fb), bp -> frequency > bp)) AS BIGINT) AS f_score,
        | CAST(1 + len(list_filter((SELECT bps FROM mb), bp -> monetary > bp)) AS BIGINT) AS m_score
        |FROM base ORDER BY o_custkey""".stripMargin,
    // q214: strategy choice must never change WHICH rows meet — the
    // oracle is the PLAIN join of the same rekeyed tables (q47/q61
    // salt-invariance precedent)
    "q214_adaptive_join" ->
      """WITH li AS (
        | SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_orderkey END AS k,
        |  l_extendedprice, l_discount
        | FROM lineitem),
        |o AS (SELECT o_orderkey AS k, o_orderpriority FROM orders)
        |SELECT o_orderpriority,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | count(*) AS n_items
        |FROM li JOIN o USING (k)
        |GROUP BY 1 ORDER BY 1""".stripMargin)
}
