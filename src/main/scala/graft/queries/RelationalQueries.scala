package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables._

/** Relational operator coverage (SURVEY.md §2.1): scan, filter, project,
  * hash-agg, joins (broadcast/shuffle/semi/anti), windows, set ops, rollup,
  * sessionization. These are all Spark built-ins — the point of the pack is
  * (a) to prove the engine doesn't break them while our extensions are
  * registered and (b) to exercise the DuckDB differential-oracle harness.
  *
  * Every query is written to be bit-deterministic across engines: integer
  * cents sums, fully-ordered window frames, tie-broken top-k.
  */
object RelationalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1-style pricing summary: partial-agg (map-side combine) +
    // single shuffle on the two low-cardinality group keys.
    "q01_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          centsSum(col("l_extendedprice")).as("sum_base_price"),
          centsSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          centsAvg(col("l_quantity")).as("avg_qty"),
          centsAvg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Top-k revenue orders: lineitem pre-agg, then broadcast-able joins to
    // orders/customer (both far smaller than lineitem at any SF).
    "q02_top_revenue" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev_cents"))
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      rev.join(o, rev("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_name"), (col("rev_cents") / 100.0).as("revenue"))
        .orderBy(col("rev_cents").desc, col("o_orderkey"))
        .limit(10)
    }),

    // Running windows over a fully-ordered frame (ties broken by unique key).
    "q03_window_running" -> ((s, dir) => {
      // quantity in the sort makes the order total even where the
      // synthetic data duplicates (orderkey, linenumber) — running sums
      // are tie-stable at every scale factor
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"))
      t(s, dir, "lineitem")
        .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          row_number().over(w).as("rn"),
          sum(col("l_quantity")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long").as("running_qty"))
    }),

    // Set operations: nations with customers vs nations with suppliers.
    "q04_setops" -> ((s, dir) => {
      val cn = t(s, dir, "customer").select(col("c_nationkey").as("nk")).distinct()
      val sn = t(s, dir, "supplier").select(col("s_nationkey").as("nk")).distinct()
      cn.intersect(sn).select(lit("both").as("tag"), col("nk"))
        .unionAll(cn.except(sn).select(lit("cust_only").as("tag"), col("nk")))
        .unionAll(sn.except(cn).select(lit("supp_only").as("tag"), col("nk")))
    }),

    // Anti join: customers with no high-value orders (every custkey has
    // SOME order in this data, so the filter keeps the result non-empty).
    "q05_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 300000.0)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // Semi join + agg: per-nation count of customers that have orders.
    "q06_semi_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_customers"))
    }),

    // ROLLUP over the region->nation hierarchy (multi-way broadcast joins).
    "q07_rollup" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), centsSum(col("c_acctbal")).as("sum_acctbal"))
    }),

    // Explicit GROUPING SETS + grouping() markers (rollup/cube's general
    // form; pure SQL so the parser path is exercised too)
    "q15_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("gs_orders")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          |  COUNT(*) AS n,
          |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
          |FROM gs_orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |  (o_orderstatus), (o_orderpriority), ())""".stripMargin)
    }),

    // Correlated EXISTS / NOT EXISTS subqueries (planned as semi/anti
    // joins — the decorrelation path)
    "q16_exists_subquery" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("ex_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("ex_lineitem")
      s.sql(
        """SELECT o_orderkey, o_orderstatus,
          |  CAST(round(o_totalprice*100) AS BIGINT) AS cents
          |FROM ex_orders o
          |WHERE EXISTS (SELECT 1 FROM ex_lineitem l
          |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
          |  AND NOT EXISTS (SELECT 1 FROM ex_lineitem l
          |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity <= 2)""".stripMargin)
    }),

    // TPC-H Q17 shape: correlated scalar subquery (per-part average
    // threshold) — Catalyst rewrites it to an aggregate + join, no
    // per-row re-scan. Money summed as exact integer cents.
    "q17_corr_scalar_subquery" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("c17_lineitem")
      t(s, dir, "part").createOrReplaceTempView("c17_part")
      s.sql(
        """SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
          |    AS cents_sum,
          |  COUNT(*) AS n_rows
          |FROM c17_lineitem l JOIN c17_part p ON p.p_partkey = l.l_partkey
          |WHERE p.p_size <= 5
          |  AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
          |                      FROM c17_lineitem l2
          |                      WHERE l2.l_partkey = l.l_partkey)""".stripMargin)
    }),

    // TPC-H Q18 shape: IN-subquery over a grouped HAVING aggregate
    "q18_having_in" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("c18_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("c18_lineitem")
      s.sql(
        """SELECT o_orderkey, o_orderstatus,
          |  CAST(round(o_totalprice*100) AS BIGINT) AS cents
          |FROM c18_orders
          |WHERE o_orderkey IN (
          |  SELECT l_orderkey FROM c18_lineitem
          |  GROUP BY l_orderkey HAVING SUM(l_quantity) >= 140)""".stripMargin)
    }),

    // TPC-H Q19 shape: disjunction of conjunctive join+filter branches —
    // the predicate the optimizer must NOT turn into a cartesian fallback
    "q19_disjunctive" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("c19_lineitem")
      t(s, dir, "part").createOrReplaceTempView("c19_part")
      s.sql(
        """SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
          |    AS cents_sum,
          |  COUNT(*) AS n_rows
          |FROM c19_lineitem l JOIN c19_part p ON l.l_partkey = p.p_partkey
          |WHERE (p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 1 AND 20)
          |   OR (p.p_size BETWEEN 11 AND 20 AND l.l_quantity BETWEEN 10 AND 30
          |       AND l.l_discount < 0.05)
          |   OR (p.p_size > 40 AND l.l_quantity >= 45)""".stripMargin)
    }),

    // TPC-H Q20 shape: nested IN-subqueries (semi-join chain) with a
    // grouped HAVING threshold in the middle
    "q20_nested_semi" -> ((s, dir) => {
      t(s, dir, "supplier").createOrReplaceTempView("c20_supplier")
      t(s, dir, "lineitem").createOrReplaceTempView("c20_lineitem")
      t(s, dir, "part").createOrReplaceTempView("c20_part")
      s.sql(
        """SELECT s_suppkey, s_name
          |FROM c20_supplier
          |WHERE s_suppkey IN (
          |  SELECT l_suppkey FROM c20_lineitem
          |  WHERE l_partkey IN (SELECT p_partkey FROM c20_part
          |                      WHERE p_name LIKE '%a%')
          |  GROUP BY l_suppkey HAVING COUNT(*) >= 20)""".stripMargin)
    }),

    // Backward as-of join (kdb aj / DuckDB ASOF shape): every left event
    // picks the latest right event of the same user at-or-before its
    // time within a 48h tolerance, left-outer, ties on (user, time)
    // resolved to the largest right id. operators.AsOfJoin = one hash
    // shuffle per side + per-key time-sorted merge — no quadratic range
    // join; the oracle restates it as a ranked candidate window.
    "q21_asof_join" -> ((s, dir) => {
      import graft.Tables
      val ev = Tables.events(s, dir)
      val l = ev.filter(col("event_id") % 3 === 0)
        .select(col("user_id"), col("event_id").as("l_event"),
          unix_micros(col("ts")).as("lts"), col("value").as("lvalue"))
      val r = ev.filter(col("event_id") % 3 === 1)
        .select(col("user_id"), col("event_id").as("r_event"),
          unix_micros(col("ts")).as("rts"), col("value").as("rvalue"))
      graft.operators.AsOfJoin.asofBackward(l, r, "user_id",
        "lts", "rts", "r_event", toleranceUs = 172800000000L)
    }),

    // Banded interval overlap join (per-user time ranges): both sides
    // explode to 4h cells, equi-join on (user, cell), exact-overlap
    // refine + reference-cell dedup — no theta-join/BNLJ ever planned.
    "q22_interval_join" -> ((s, dir) => {
      import graft.Tables
      val ev = Tables.events(s, dir)
      val hourUs = 3600000000L
      val l = ev.filter(col("event_id") % 4 === 0)
        .select(col("user_id").as("lu"), col("event_id").as("l_event"),
          unix_micros(col("ts")).as("ls"))
        .withColumn("le", col("ls") + (col("l_event") % 7 + 1) * hourUs)
      val r = ev.filter(col("event_id") % 4 === 1)
        .select(col("user_id").as("ru"), col("event_id").as("r_event"),
          unix_micros(col("ts")).as("rs"))
        .withColumn("re", col("rs") + (col("r_event") % 5 + 1) * hourUs)
      graft.operators.IntervalJoin.overlapJoin(l, r, "ls", "le", "rs", "re",
        key = Some(("lu", "ru")), cellWidth = 4L * hourUs)
        .select(col("l_event"), col("r_event"))
    }),

    // PLAIN SQL interval-overlap (no key, no equi-conjunct): Spark alone
    // would plan a quadratic BroadcastNestedLoopJoin; SpatialJoinStrategy
    // recognizes the opposing inequality pair as a range join and plans an
    // index join over the two sides' spans (broadcast while a side fits,
    // else partitioned), the whole condition as the exact refine — the
    // SQL front door to the q22 operator.
    "q23_band_range_join" -> ((s, dir) => {
      import graft.Tables
      val ev = Tables.events(s, dir)
      val hourUs = 3600000000L
      ev.filter(col("event_id") % 59 === 0)
        .select(col("event_id").as("l_event"), unix_micros(col("ts")).as("ls"))
        .withColumn("le", col("ls") + (col("l_event") % 7 + 1) * hourUs)
        .createOrReplaceTempView("q23_l")
      ev.filter(col("event_id") % 59 === 1)
        .select(col("event_id").as("r_event"), unix_micros(col("ts")).as("rs"))
        .withColumn("re", col("rs") + (col("r_event") % 5 + 1) * hourUs)
        .createOrReplaceTempView("q23_r")
      // NO conf window: the range join plans an index join at every size
      // (PlanAuditSpec pins it), and gates must execute what a later
      // .count() would replan
      s.sql(
        "SELECT l_event, r_event FROM q23_l JOIN q23_r ON ls <= re AND rs <= le")
    }),

    // PLAIN SQL backward as-of (the classic max-timestamp-<= correlated
    // subquery idiom): Catalyst decorrelates it into an extreme-value
    // aggregate over an inequality join — the quadratic part —
    // which the as-of rules rewrite into the q21 operator's as-of join
    // (hash shuffle + per-key sort + linear merge). The SQL front door to
    // the q21 operator.
    "q24_asof_sql" -> ((s, dir) => {
      import graft.Tables
      val ev = Tables.events(s, dir)
      ev.filter(col("event_id") % 3 === 0 && col("user_id") % 13 === 1)
        .select(col("user_id"), col("event_id").as("l_event"),
          unix_micros(col("ts")).as("lts"))
        .createOrReplaceTempView("q24_l")
      ev.filter(col("event_id") % 3 === 1 && col("user_id") % 13 === 1)
        .select(col("user_id"), col("event_id").as("r_event"),
          unix_micros(col("ts")).as("rts"), col("value").as("rvalue"))
        .createOrReplaceTempView("q24_r")
      s.sql("""SELECT l.user_id, l.l_event, l.lts, r.r_event, r.rts, r.rvalue
              |FROM q24_l l JOIN q24_r r ON l.user_id = r.user_id
              |WHERE r.rts = (SELECT max(r2.rts) FROM q24_r r2
              |               WHERE r2.user_id = l.user_id
              |                 AND r2.rts <= l.lts
              |                 AND l.lts - r2.rts <= 172800000000)""".stripMargin)
    }),

    // PLAIN SQL as-of over raw TIMESTAMP columns with a STRICT bound —
    // the production event-time shape. The as-of join compares the
    // TIMESTAMPs' micros (strict < as a strict comparison) and returns
    // the matched row's own TIMESTAMP; no caller-side pre-projection to
    // epoch integers is needed.
    "q25_asof_timestamp" -> ((s, dir) => {
      import graft.Tables
      val ev = Tables.events(s, dir)
      ev.filter(col("event_id") % 3 === 0 && col("user_id") % 17 === 2)
        .select(col("user_id"), col("event_id").as("l_event"), col("ts").as("lts"))
        .createOrReplaceTempView("q25_l")
      ev.filter(col("event_id") % 3 === 1 && col("user_id") % 17 === 2)
        .select(col("user_id"), col("event_id").as("r_event"), col("ts").as("rts"))
        .createOrReplaceTempView("q25_r")
      s.sql("""SELECT l.user_id, l.l_event, unix_micros(l.lts) AS lts_us,
              |  r.r_event, unix_micros(r.rts) AS rts_us
              |FROM q25_l l JOIN q25_r r ON l.user_id = r.user_id
              |WHERE r.rts = (SELECT max(r2.rts) FROM q25_r r2
              |               WHERE r2.user_id = l.user_id
              |                 AND r2.rts < l.lts)""".stripMargin)
    }),

    // PLAIN SQL LEFT OUTER range join (point BETWEEN interval, no equi
    // conjunct): the range join on the index joins, left rows streamed and
    // padded where unmatched, instead of Spark's quadratic BNLJ. Unmatched
    // left rows must survive.
    // PLAIN SQL as-of over DATE columns with a day-count staleness bound
    // (`datediff(l.ld, r2.rd) <= 30`) — the DATE analog of q24. The
    // AsOfAggregateRule matcher maps the DateDiff conjunct onto the
    // as-of join's tolerance in DATE days; without it the decorrelated
    // plan is a quadratic inequality join.
    "q27_asof_date" -> ((s, dir) => {
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 0 && col("o_custkey") % 5 === 2)
        .select((col("o_custkey") % 20).cast("long").as("user_id"),
          col("o_orderkey").cast("long").as("l_key"),
          to_date(col("o_orderdate")).as("ld"))
        .createOrReplaceTempView("q27_l")
      t(s, dir, "orders")
        .filter(col("o_orderkey") % 2 === 1 && col("o_custkey") % 5 === 2)
        .select((col("o_custkey") % 20).cast("long").as("user_id"),
          col("o_orderkey").cast("long").as("r_key"),
          to_date(col("o_orderdate")).as("rd"))
        .createOrReplaceTempView("q27_r")
      s.sql("""SELECT l.user_id, l.l_key, unix_date(l.ld) AS ld_d,
              |  r.r_key, unix_date(r.rd) AS rd_d
              |FROM q27_l l JOIN q27_r r ON l.user_id = r.user_id
              |WHERE r.rd = (SELECT max(r2.rd) FROM q27_r r2
              |              WHERE r2.user_id = l.user_id
              |                AND r2.rd <= l.ld
              |                AND datediff(l.ld, r2.rd) <= 30)""".stripMargin)
    }),

    "q26_range_left_outer" -> ((s, dir) => {
      import graft.Tables
      val ev = Tables.events(s, dir)
      val hourUs = 3600000000L
      ev.filter(col("event_id") % 41 === 0)
        .select(col("event_id").as("l_event"), unix_micros(col("ts")).as("lts"))
        .createOrReplaceTempView("q26_l")
      ev.filter(col("event_id") % 83 === 5)
        .select(col("event_id").as("r_event"), unix_micros(col("ts")).as("rs"))
        .withColumn("re", col("rs") + (col("r_event") % 3 + 1) * hourUs)
        .createOrReplaceTempView("q26_r")
      // NO conf window (see q23)
      s.sql(
        "SELECT l_event, r_event FROM q26_l LEFT JOIN q26_r " +
          "ON lts BETWEEN rs AND re")
    }),

    // Top-1-per-group via ranked window (deterministic tie-break).
    "q08_top_per_nation" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal").desc, col("c_custkey"))
      c.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name"), col("c_custkey"), col("c_acctbal"))
    }),

    // Tumbling-window event aggregation (batch form of the streaming agg;
    // the streaming variant is exercised in StreamingSpec).
    "q09_events_hourly" -> ((s, dir) => {
      events(s, dir)
        .groupBy(unix_seconds(date_trunc("hour", col("ts"))).as("hour_epoch"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), centsSum(col("value")).as("sum_value"))
    }),

    // Sessionization: 30-minute-gap sessions per user, built from lag +
    // running sum — the classic pattern that scales (one shuffle on user_id).
    "q10_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_us").isNull
            .or(unix_micros(col("ts")) - col("prev_us") > 30L * 60 * 1000000), 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"), max(col("event_id")).as("last_event_id"))
    }),

    // CUBE over two dimensions (grouping-set machinery).
    "q11_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), centsSum(col("o_totalprice")).as("sum_price"))
    }),

    // pivot: dynamic column-per-value aggregation.
    "q13_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("f"),
          coalesce(col("O"), lit(0L)).as("o"),
          coalesce(col("P"), lit(0L)).as("p"))
    }),

    // ordered statistics: continuous percentiles + ntile buckets.
    "q14_percentiles" -> ((s, dir) => {
      val l = t(s, dir, "lineitem")
      // ntile without a global-window single-reducer sort (ScalableRank:
      // range repartition + per-partition row_number + count offsets);
      // projected first so the ranged cache holds 4 numeric columns
      // opt r18 (§2.3 aggregate-before-shuffle): fused per-tile aggregate
      // — the ranked 600k-row projection and the row-wide groupBy(tile)
      // exchange are gone; each sorted range partition emits ≤4 partial
      // (tile, count, sum) rows. Sum over integral-valued doubles is
      // exact in any order, so results are bit-identical.
      val tiles = graft.operators.ScalableRank.globalNtileAgg(
          l.select(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"),
            col("l_quantity").cast("double").as("l_quantity")),
          Seq(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber")), 4,
          "l_quantity")
        .select(col("tile"), col("n"),
          col("sum_val").cast("long").as("sum_qty"))
      val pct = l.groupBy(col("l_returnflag"))
        .agg(round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.25)"), 4).as("p25_price"),
          round(expr("percentile(l_extendedprice, 0.75)"), 4).as("p75_price"))
      tiles.select(col("tile"), col("n"), col("sum_qty"),
          lit(null).cast("string").as("l_returnflag"),
          lit(null).cast("double").as("median_qty"),
          lit(null).cast("double").as("p25_price"),
          lit(null).cast("double").as("p75_price"))
        .unionAll(pct.select(lit(null).cast("int").as("tile"),
          lit(null).cast("long").as("n"), lit(null).cast("long").as("sum_qty"),
          col("l_returnflag"), col("median_qty"), col("p25_price"), col("p75_price")))
    }),

    // explode/unnest: token rows from part names, re-aggregated.
    "q12_explode" -> ((s, dir) => {
      t(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
        |  SUM(CAST(round(l_extendedprice*100) AS BIGINT))/100.0 AS sum_base_price,
        |  SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT))/100.0 AS sum_disc_price,
        |  SUM(CAST(round(l_quantity*100) AS BIGINT))/COUNT(*)/100.0 AS avg_qty,
        |  SUM(CAST(round(l_discount*100) AS BIGINT))/COUNT(*)/100.0 AS avg_disc,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_top_revenue" ->
      """WITH rev AS (
        |  SELECT l_orderkey,
        |         SUM(CAST(round(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS rev_cents
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT o.o_orderkey, c.c_name, rev.rev_cents/100.0 AS revenue
        |FROM rev JOIN orders o ON rev.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY rev.rev_cents DESC, o.o_orderkey LIMIT 10""".stripMargin,

    "q03_window_running" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(row_number() OVER w AS INT) AS rn,
        |  CAST(SUM(l_quantity) OVER (PARTITION BY l_suppkey
        |       ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty
        |FROM lineitem
        |WINDOW w AS (PARTITION BY l_suppkey
        |  ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity)""".stripMargin,

    "q04_setops" ->
      """WITH cn AS (SELECT DISTINCT c_nationkey AS nk FROM customer),
        |     sn AS (SELECT DISTINCT s_nationkey AS nk FROM supplier)
        |SELECT 'both' AS tag, nk FROM (SELECT nk FROM cn INTERSECT SELECT nk FROM sn)
        |UNION ALL
        |SELECT 'cust_only' AS tag, nk FROM (SELECT nk FROM cn EXCEPT SELECT nk FROM sn)
        |UNION ALL
        |SELECT 'supp_only' AS tag, nk FROM (SELECT nk FROM sn EXCEPT SELECT nk FROM cn)""".stripMargin,

    "q05_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000.0)""".stripMargin,

    "q06_semi_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_customers FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_nationkey""".stripMargin,

    "q07_rollup" ->
      """SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
        |  SUM(CAST(round(c.c_acctbal*100) AS BIGINT))/100.0 AS sum_acctbal
        |FROM customer c
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP(r.r_name, n.n_name)""".stripMargin,

    "q15_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |  CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority), ())""".stripMargin,

    "q16_exists_subquery" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l
        |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity <= 2)""".stripMargin,

    "q22_interval_join" ->
      """WITH l AS (SELECT user_id AS lu, event_id AS l_event,
        |    epoch_us(ts) AS ls,
        |    epoch_us(ts) + (event_id % 7 + 1) * 3600000000 AS le
        |  FROM events WHERE event_id % 4 = 0),
        |r AS (SELECT user_id AS ru, event_id AS r_event,
        |    epoch_us(ts) AS rs,
        |    epoch_us(ts) + (event_id % 5 + 1) * 3600000000 AS re
        |  FROM events WHERE event_id % 4 = 1)
        |SELECT l.l_event, r.r_event FROM l JOIN r
        |ON l.lu = r.ru AND l.ls <= r.re AND r.rs <= l.le""".stripMargin,

    "q21_asof_join" ->
      """WITH l AS (SELECT user_id, event_id AS l_event, epoch_us(ts) AS lts,
        |    value AS lvalue FROM events WHERE event_id % 3 = 0),
        |r AS (SELECT user_id, event_id AS r_event, epoch_us(ts) AS rts,
        |    value AS rvalue FROM events WHERE event_id % 3 = 1),
        |cand AS (SELECT l.user_id, l.l_event, l.lts, l.lvalue,
        |    r.r_event, r.rts, r.rvalue,
        |    row_number() OVER (PARTITION BY l.l_event
        |      ORDER BY r.rts DESC, r.r_event DESC) AS rn
        |  FROM l LEFT JOIN r ON l.user_id = r.user_id AND r.rts <= l.lts
        |    AND l.lts - r.rts <= 172800000000)
        |SELECT user_id, l_event, lts, lvalue, r_event, rts, rvalue
        |FROM cand WHERE rn = 1""".stripMargin,

    "q23_band_range_join" ->
      """WITH l AS (SELECT event_id AS l_event, epoch_us(ts) AS ls,
        |    epoch_us(ts) + (event_id % 7 + 1) * 3600000000 AS le
        |  FROM events WHERE event_id % 59 = 0),
        |r AS (SELECT event_id AS r_event, epoch_us(ts) AS rs,
        |    epoch_us(ts) + (event_id % 5 + 1) * 3600000000 AS re
        |  FROM events WHERE event_id % 59 = 1)
        |SELECT l.l_event, r.r_event FROM l JOIN r
        |ON l.ls <= r.re AND r.rs <= l.le""".stripMargin,

    "q24_asof_sql" ->
      """WITH l AS (SELECT user_id, event_id AS l_event, epoch_us(ts) AS lts
        |  FROM events WHERE event_id % 3 = 0 AND user_id % 13 = 1),
        |r AS (SELECT user_id, event_id AS r_event, epoch_us(ts) AS rts,
        |    value AS rvalue
        |  FROM events WHERE event_id % 3 = 1 AND user_id % 13 = 1)
        |SELECT l.user_id, l.l_event, l.lts, r.r_event, r.rts, r.rvalue
        |FROM l JOIN r ON l.user_id = r.user_id
        |WHERE r.rts = (SELECT max(r2.rts) FROM r r2
        |               WHERE r2.user_id = l.user_id AND r2.rts <= l.lts
        |                 AND l.lts - r2.rts <= 172800000000)""".stripMargin,

    "q25_asof_timestamp" ->
      """WITH l AS (SELECT user_id, event_id AS l_event, ts AS lts
        |  FROM events WHERE event_id % 3 = 0 AND user_id % 17 = 2),
        |r AS (SELECT user_id, event_id AS r_event, ts AS rts
        |  FROM events WHERE event_id % 3 = 1 AND user_id % 17 = 2)
        |SELECT l.user_id, l.l_event, epoch_us(l.lts) AS lts_us,
        |  r.r_event, epoch_us(r.rts) AS rts_us
        |FROM l JOIN r ON l.user_id = r.user_id
        |WHERE r.rts = (SELECT max(r2.rts) FROM r r2
        |               WHERE r2.user_id = l.user_id
        |                 AND r2.rts < l.lts)""".stripMargin,

    "q27_asof_date" ->
      """WITH l AS (SELECT CAST(o_custkey % 20 AS BIGINT) AS user_id,
        |    CAST(o_orderkey AS BIGINT) AS l_key,
        |    CAST(o_orderdate AS DATE) AS ld
        |  FROM orders WHERE o_orderkey % 2 = 0 AND o_custkey % 5 = 2),
        |r AS (SELECT CAST(o_custkey % 20 AS BIGINT) AS user_id,
        |    CAST(o_orderkey AS BIGINT) AS r_key,
        |    CAST(o_orderdate AS DATE) AS rd
        |  FROM orders WHERE o_orderkey % 2 = 1 AND o_custkey % 5 = 2)
        |SELECT l.user_id, l.l_key,
        |  CAST(l.ld - DATE '1970-01-01' AS BIGINT) AS ld_d,
        |  r.r_key, CAST(r.rd - DATE '1970-01-01' AS BIGINT) AS rd_d
        |FROM l JOIN r ON l.user_id = r.user_id
        |WHERE r.rd = (SELECT max(r2.rd) FROM r r2
        |              WHERE r2.user_id = l.user_id AND r2.rd <= l.ld
        |                AND l.ld - r2.rd <= 30)""".stripMargin,

    "q26_range_left_outer" ->
      """WITH l AS (SELECT event_id AS l_event, epoch_us(ts) AS lts
        |  FROM events WHERE event_id % 41 = 0),
        |r AS (SELECT event_id AS r_event, epoch_us(ts) AS rs,
        |    epoch_us(ts) + (event_id % 3 + 1) * 3600000000 AS re
        |  FROM events WHERE event_id % 83 = 5)
        |SELECT l.l_event, r.r_event FROM l LEFT JOIN r
        |ON l.lts BETWEEN r.rs AND r.re""".stripMargin,

    "q17_corr_scalar_subquery" ->
      """SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    AS cents_sum,
        |  COUNT(*) AS n_rows
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |WHERE p.p_size <= 5
        |  AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
        |                      FROM lineitem l2
        |                      WHERE l2.l_partkey = l.l_partkey)""".stripMargin,

    "q18_having_in" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem
        |  GROUP BY l_orderkey HAVING SUM(l_quantity) >= 140)""".stripMargin,

    "q19_disjunctive" ->
      """SELECT CAST(SUM(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |    AS cents_sum,
        |  COUNT(*) AS n_rows
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_size BETWEEN 1 AND 10 AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_size BETWEEN 11 AND 20 AND l.l_quantity BETWEEN 10 AND 30
        |       AND l.l_discount < 0.05)
        |   OR (p.p_size > 40 AND l.l_quantity >= 45)""".stripMargin,

    "q20_nested_semi" ->
      """SELECT s_suppkey, s_name
        |FROM supplier
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE '%a%')
        |  GROUP BY l_suppkey HAVING COUNT(*) >= 20)""".stripMargin,

    "q08_top_per_nation" ->
      """SELECT n.n_name, x.c_custkey, x.c_acctbal FROM (
        |  SELECT c_nationkey, c_custkey, c_acctbal,
        |         row_number() OVER (PARTITION BY c_nationkey
        |                            ORDER BY c_acctbal DESC, c_custkey) AS rk
        |  FROM customer) x
        |JOIN nation n ON x.c_nationkey = n.n_nationkey
        |WHERE x.rk = 1""".stripMargin,

    "q09_events_hourly" ->
      """SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch, event_type,
        |  COUNT(*) AS n_events,
        |  SUM(CAST(round(value*100) AS BIGINT))/100.0 AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q10_sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
        |           OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 30*60*1000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_id,
        |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM g)
        |SELECT user_id, session_id, COUNT(*) AS n_events, MAX(event_id) AS last_event_id
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    "q11_cube" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  SUM(CAST(round(o_totalprice*100) AS BIGINT))/100.0 AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,

    "q13_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS f,
        |  CAST(count(*) FILTER (o_orderstatus = 'O') AS BIGINT) AS o,
        |  CAST(count(*) FILTER (o_orderstatus = 'P') AS BIGINT) AS p
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q14_percentiles" ->
      """WITH tiles AS (
        |  SELECT ntile(4) OVER (ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS tile,
        |         l_quantity
        |  FROM lineitem),
        |t AS (SELECT tile, COUNT(*) AS n, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        |      FROM tiles GROUP BY tile),
        |p AS (SELECT l_returnflag,
        |        round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |        round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
        |        round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price
        |      FROM lineitem GROUP BY l_returnflag)
        |SELECT CAST(tile AS INT) AS tile, n, sum_qty,
        |       NULL AS l_returnflag, NULL::DOUBLE AS median_qty,
        |       NULL::DOUBLE AS p25_price, NULL::DOUBLE AS p75_price
        |FROM t
        |UNION ALL
        |SELECT NULL::INT, NULL::BIGINT, NULL::BIGINT,
        |       l_returnflag, median_qty, p25_price, p75_price
        |FROM p""".stripMargin,

    "q12_explode" ->
      """SELECT u.word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(p_name, ' ')) AS word FROM part) u
        |GROUP BY u.word""".stripMargin
  )
}
