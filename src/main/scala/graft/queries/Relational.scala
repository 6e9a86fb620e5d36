package graft.queries

import graft.{Num, QueryDef, Tables}
import graft.operators.{GraphMetrics, RangeJoin}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational / query-engine core (SURVEY.md §2): the warehouse-query surface
  * matchbox drives through its sources + DuckDB layer, re-expressed as
  * declarative Spark plans so Catalyst handles pushdown, join selection and
  * partial aggregation. Small dimensions are broadcast explicitly.
  */
object Relational {

  private def q1(s: SparkSession, dir: String): DataFrame = {
    val ext  = Num.cents(col("l_extendedprice"))
    val disc = Num.cents(col("l_discount"))
    val tax  = Num.cents(col("l_tax"))
    val qty  = Num.cents(col("l_quantity"))
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1999-12-31 00:00:00").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        // decimal(38,0) accumulators (Num.bigSum): one group here is a
        // quarter of lineitem, far past a long accumulator at the design
        // scale; DuckDB's HUGEINT sum is the oracle twin
        (Num.bigSum(qty) / 100.0).as("sum_qty"),
        (Num.bigSum(ext) / 100.0).as("sum_base_price"),
        (Num.bigSum(ext * (lit(100) - disc)) / 10000.0).as("sum_disc_price"),
        (Num.bigSum(ext * (lit(100) - disc) * (lit(100) + tax)) / 1000000.0).as("sum_charge"),
        (Num.bigSum(qty) / 100.0 / count(lit(1))).as("avg_qty"),
        (Num.bigSum(ext) / 100.0 / count(lit(1))).as("avg_price"),
        (Num.bigSum(disc) / 100.0 / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val q1Sql =
    s"""SELECT l_returnflag, l_linestatus,
       |  sum(${Num.centsSql("l_quantity")})/100.0 AS sum_qty,
       |  sum(${Num.centsSql("l_extendedprice")})/100.0 AS sum_base_price,
       |  sum(${Num.centsSql("l_extendedprice")} * (100 - ${Num.centsSql("l_discount")}))/10000.0 AS sum_disc_price,
       |  sum(${Num.centsSql("l_extendedprice")} * (100 - ${Num.centsSql("l_discount")}) * (100 + ${Num.centsSql("l_tax")}))/1000000.0 AS sum_charge,
       |  sum(${Num.centsSql("l_quantity")})/100.0/count(*) AS avg_qty,
       |  sum(${Num.centsSql("l_extendedprice")})/100.0/count(*) AS avg_price,
       |  sum(${Num.centsSql("l_discount")})/100.0/count(*) AS avg_disc,
       |  count(*) AS count_order
       |FROM lineitem
       |WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  private def q6(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(
        (Num.bigSum(Num.cents(col("l_extendedprice")) * Num.cents(col("l_discount"))) / 10000.0)
          .as("revenue"),
        count(lit(1)).as("n_items"))

  private val q6Sql =
    s"""SELECT
       |  sum(${Num.centsSql("l_extendedprice")} * ${Num.centsSql("l_discount")})/10000.0 AS revenue,
       |  count(*) AS n_items
       |FROM lineitem
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
       |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24""".stripMargin

  private def q3(s: SparkSession, dir: String): DataFrame = {
    val revenue = Num.bigSum(
      Num.cents(col("l_extendedprice")) * (lit(100) - Num.cents(col("l_discount")))) / 10000.0
    Tables(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < lit("1999-01-01 00:00:00").cast("timestamp"))
      .join(Tables(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > lit("1999-01-01 00:00:00").cast("timestamp"))
      .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
      .agg(revenue.as("revenue"))
      .select(
        col("l_orderkey"), col("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  private val q3Sql =
    s"""SELECT l_orderkey,
       |  sum(${Num.centsSql("l_extendedprice")} * (100 - ${Num.centsSql("l_discount")}))/10000.0 AS revenue,
       |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       |  o_orderpriority
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
       |  AND l_shipdate  > TIMESTAMP '1999-01-01 00:00:00'
       |GROUP BY l_orderkey, o_orderdate, o_orderpriority
       |ORDER BY revenue DESC, l_orderkey
       |LIMIT 10""".stripMargin

  private def q5(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(
        col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .join(Tables(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(
        broadcast(Tables(s, dir, "supplier")),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables(s, dir, "nation")), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg((Num.bigSum(
        Num.cents(col("l_extendedprice")) * (lit(100) - Num.cents(col("l_discount")))) / 10000.0)
        .as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))

  private val q5Sql =
    s"""SELECT n_name,
       |  sum(${Num.centsSql("l_extendedprice")} * (100 - ${Num.centsSql("l_discount")}))/10000.0 AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY n_name
       |ORDER BY revenue DESC, n_name""".stripMargin

  private def qWindow(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables(s, dir, "customer")
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .orderBy("c_mktsegment", "rnk")
  }

  private val qWindowSql =
    """SELECT c_mktsegment, c_custkey, c_acctbal, rnk FROM (
      |  SELECT c_mktsegment, c_custkey, c_acctbal,
      |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey) AS rnk
      |  FROM customer) t
      |WHERE rnk <= 5
      |ORDER BY c_mktsegment, rnk""".stripMargin

  private def qSemiAnti(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
    val big    = orders.filter(col("o_totalprice") > 50000).select("o_custkey")
    val filled = orders.filter(col("o_orderstatus") === "F").select("o_custkey")
    Tables(s, dir, "customer")
      .join(big, col("c_custkey") === big("o_custkey"), "left_semi")
      .join(filled, col("c_custkey") === filled("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  private val qSemiAntiSql =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 50000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  private def qRollup(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_items"),
        (Num.bigSum(Num.cents(col("l_quantity"))) / 100.0).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("n_items"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  private val qRollupSql =
    s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       |  coalesce(l_linestatus, 'ALL') AS linestatus,
       |  count(*) AS n_items,
       |  sum(${Num.centsSql("l_quantity")})/100.0 AS sum_qty
       |FROM lineitem
       |GROUP BY ROLLUP(l_returnflag, l_linestatus)
       |ORDER BY returnflag, linestatus""".stripMargin

  /** Full CUBE over two order dimensions with `grouping_id` markers — the
    * grouping-sets surface ROLLUP doesn't cover (every subset, plus the
    * bitmask telling report consumers which dimensions are aggregated
    * away). Same single-shuffle expansion as rollup: Spark's Expand node
    * replicates each input row once per grouping set map-side, partial
    * aggregation keeps the exchange at cardinality(sets)·|groups|.
    */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(
        grouping_id().cast("long").as("gid"),
        count(lit(1)).as("n_orders"),
        (Num.bigSum(Num.cents(col("o_totalprice"))) / 100.0).as("sum_price"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("orderstatus"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("orderpriority"),
        col("gid"), col("n_orders"), col("sum_price"))
      .orderBy("gid", "orderstatus", "orderpriority")

  private val qGroupingSetsSql =
    s"""SELECT coalesce(o_orderstatus, 'ALL') AS orderstatus,
       |  coalesce(o_orderpriority, 'ALL') AS orderpriority,
       |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       |  count(*) AS n_orders,
       |  sum(${Num.centsSql("o_totalprice")})/100.0 AS sum_price
       |FROM orders
       |GROUP BY CUBE(o_orderstatus, o_orderpriority)
       |ORDER BY gid, orderstatus, orderpriority""".stripMargin

  /** Hot-key-salted fact⋈dim join, oracle-proven exact (spec-only until
    * r7): `Skew.saltedJoin` splits each skewed probe key across `salts`
    * deterministic sub-keys and replicates the build side per salt, so a
    * single mega-key's rows spread over `salts` reducers instead of one.
    * The oracle is the plain unsalted join — same rows by construction,
    * now driver-checked. At 100 TB this is the manual fallback when AQE's
    * skew splitting can't apply (e.g. the skewed side feeds a
    * co-partitioned downstream agg).
    */
  private def qSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_suppkey").as("suppkey"), Num.cents(col("l_extendedprice")).as("cents"))
    val supp = Tables(s, dir, "supplier")
      .select(col("s_suppkey").as("suppkey"), col("s_nationkey"))
    graft.operators.Skew.saltedJoin(li, supp, "suppkey", salts = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n_items"), (Num.bigSum(col("cents")) / 100.0).as("revenue"))
      .orderBy("s_nationkey")
  }

  private val qSkewSaltedSql =
    s"""SELECT s_nationkey, count(*) AS n_items,
       |  sum(${Num.centsSql("l_extendedprice")})/100.0 AS revenue
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
       |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Forward fill (gap filling): carry each user's last observed non-null
    * reading forward in event order — the standard sparse→dense attribute
    * densification before feature extraction. Nulls are seeded
    * deterministically (every 3rd event), then `last_value IGNORE NULLS`
    * over the running frame fills them; one key shuffle + sort, the plain
    * windowed-aggregate cost. Readings ride exact cents so the fill is
    * bit-comparable.
    */
  private def qForwardFill(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        when(col("event_id") % 3 =!= 0, Num.cents(col("value"))).as("reading"))
      .withColumn("filled", last("reading", ignoreNulls = true).over(w))
      .select(col("event_id"), col("user_id"), col("reading"), col("filled"))
      .orderBy("event_id")
  }

  private val qForwardFillSql =
    s"""WITH e AS (
       |  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |    CASE WHEN event_id % 3 <> 0 THEN ${Num.centsSql("value")} END AS reading
       |  FROM events)
       |SELECT event_id, user_id, reading,
       |  last_value(reading IGNORE NULLS) OVER (
       |    PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
       |FROM e ORDER BY event_id""".stripMargin

  /** PIVOT: order totals cross-tabbed status × priority — the
    * report-shaping surface (`groupBy().pivot()`). Pivot values are pinned
    * (F/O/P) so the output schema is static: Spark then plans a single
    * hash aggregate over conditional sums — one shuffle, identical to the
    * hand-written CASE WHEN form the oracle uses, and no second pass to
    * discover pivot values (which at 100 TB would be a full extra scan;
    * pinning values is the scale idiom).
    */
  private def qPivot(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .groupBy(col("o_orderpriority").as("orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg((Num.bigSum(Num.cents(col("o_totalprice"))) / 100.0))
      .select(col("orderpriority"),
        coalesce(col("F"), lit(0.0)).as("price_f"),
        coalesce(col("O"), lit(0.0)).as("price_o"),
        coalesce(col("P"), lit(0.0)).as("price_p"))
      .orderBy("orderpriority")

  private val qPivotSql = {
    def branch(v: String) =
      s"coalesce(sum(CASE WHEN o_orderstatus = '$v' THEN ${Num.centsSql("o_totalprice")} END)/100.0, 0.0)"
    s"""SELECT o_orderpriority AS orderpriority,
       |  ${branch("F")} AS price_f,
       |  ${branch("O")} AS price_o,
       |  ${branch("P")} AS price_p
       |FROM orders GROUP BY o_orderpriority ORDER BY orderpriority""".stripMargin
  }

  /** Event-transition matrix (first-order Markov counts): for each user,
    * consecutive event pairs in time order, counted per (from, to) type —
    * the behaviour-model statistic. One lead window per user + one
    * aggregate; transition probability is emitted as exact per-mille of
    * the from-type's outgoing total.
    */
  private def qEventTransitions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("us", "event_id")
    val wFrom = Window.partitionBy("from_type")
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts")).as("us"), col("event_type").as("from_type"))
      .withColumn("to_type", lead("from_type", 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("p_milli", expr("(1000 * n) div sum(n) OVER (PARTITION BY from_type)"))
      .orderBy("from_type", "to_type")
  }

  private val qEventTransitionsSql =
    """WITH e AS (
      |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
      |    event_type AS from_type
      |  FROM events),
      |x AS (
      |  SELECT from_type,
      |    lead(from_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS to_type
      |  FROM e),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM x
      |  WHERE to_type IS NOT NULL GROUP BY from_type, to_type)
      |SELECT from_type, to_type, n,
      |  CAST((1000 * n) // sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_milli
      |FROM c ORDER BY from_type, to_type""".stripMargin

  /** Semi-structured JSON processing — the event-properties surface
    * (`props` carries a JSON payload): path extraction with
    * `get_json_object` feeding an exact-integer aggregate per event
    * type. Per-row codegen'd parsing, one aggregate shuffle; at scale
    * prefer `from_json` with an explicit schema so the parse happens
    * once per row, not per extracted path.
    */
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("k").as("sum_k"),
        max("k").as("max_k"),
        sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_over_50"))
      .orderBy("event_type")

  private val qJsonExtractSql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
      |  CAST(count(*) FILTER (CAST(json_extract_string(props, '$.k') AS BIGINT) > 50) AS BIGINT) AS n_over_50
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Correlated LATERAL subquery — the per-row dependent-subquery surface
    * (top customer by balance per nation, deterministic tiebreak). Spark
    * plans the correlated limit-sort via DecorrelateInnerQuery into a
    * ranked window join, not a per-row re-execution; DuckDB runs its
    * native LATERAL. Balances ride exact cents.
    */
  private def qLateralTopn(s: SparkSession, dir: String): DataFrame = {
    Tables(s, dir, "nation").createOrReplaceTempView("nation_v")
    Tables(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql(s"""SELECT n.n_name, c.c_custkey, CAST(c.bal AS DOUBLE) / 100.0 AS best_bal
      |FROM nation_v n,
      |LATERAL (SELECT c_custkey,
      |           CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal
      |         FROM customer_v WHERE c_nationkey = n.n_nationkey
      |         ORDER BY bal DESC, c_custkey LIMIT 1) c
      |ORDER BY n_name""".stripMargin)
  }

  private val qLateralTopnSql =
    """SELECT n.n_name, c.c_custkey, CAST(c.bal AS DOUBLE) / 100.0 AS best_bal
      |FROM nation n,
      |LATERAL (SELECT c_custkey,
      |           CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal
      |         FROM customer WHERE c_nationkey = n.n_nationkey
      |         ORDER BY bal DESC, c_custkey LIMIT 1) c
      |ORDER BY n_name""".stripMargin

  /** UNPIVOT (melt): the inverse reshaping of q_pivot — wide per-row
    * measures stacked to (measure, value) rows with `stack`, the map-side
    * Expand device (rows × measures, no shuffle until the aggregate).
    * Cents-exact values; the oracle is the UNION ALL rebuild.
    */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        Num.cents(col("l_extendedprice")).as("price_c"),
        Num.cents(col("l_discount")).as("disc_c"),
        Num.cents(col("l_tax")).as("tax_c"))
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("stack(3, 'price', price_c, 'discount', disc_c, 'tax', tax_c) AS (measure, cents)"))
      .groupBy("measure")
      .agg(count(lit(1)).as("n"), (Num.bigSum(col("cents")) / 100.0).as("total"))
      .orderBy("measure")

  private val qUnpivotSql =
    s"""WITH m AS (
       |  SELECT 'price' AS measure, ${Num.centsSql("l_extendedprice")} AS cents FROM lineitem
       |  UNION ALL
       |  SELECT 'discount', ${Num.centsSql("l_discount")} FROM lineitem
       |  UNION ALL
       |  SELECT 'tax', ${Num.centsSql("l_tax")} FROM lineitem)
       |SELECT measure, count(*) AS n, sum(cents)/100.0 AS total
       |FROM m GROUP BY measure ORDER BY measure""".stripMargin

  /** Native `session_window` sessionization — the one-shot session
    * aggregate Spark plans without a window-function sort pass (and the
    * exact batch twin of the streaming session-window state operator; the
    * streaming side is spec-gated in StreamingSpec). Semantics: a session
    * extends to last-event + gap, and an event exactly on that horizon
    * still MERGES — a new session needs a strictly larger gap
    * (spec-pinned in RelationalSpec with a crafted boundary event; the
    * test data itself has no exact-boundary ties). The oracle rebuilds
    * the same islands with lag/cumsum at µs precision using the same
    * strict `>` convention. Money rides exact cents; session bounds are
    * emitted as epoch-µs integers.
    */
  private def qSessionWindow(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        (Num.bigSum(Num.cents(col("value"))) / 100.0).as("sum_value"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"), col("sum_value"))
      .orderBy("user_id", "start_us")

  private val qSessionWindowSql =
    s"""WITH e AS (
       |  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |    ${Num.centsSql("value")} AS cents
       |  FROM events),
       |x AS (
       |  SELECT user_id, us, cents,
       |    lag(us) OVER (PARTITION BY user_id ORDER BY us) AS prev FROM e),
       |y AS (
       |  SELECT user_id, us, cents,
       |    CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS new_s
       |  FROM x),
       |z AS (
       |  SELECT user_id, us, cents,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY us
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |  FROM y)
       |SELECT user_id, min(us) AS start_us, max(us) + 1800000000 AS end_us,
       |  count(*) AS n_events, sum(cents)/100.0 AS sum_value
       |FROM z GROUP BY user_id, sid
       |ORDER BY user_id, start_us""".stripMargin

  /** Ordered conversion funnel view → click → purchase: each stage's
    * timestamp must strictly follow the previous stage's first completion
    * for the same user. Three per-user min-aggregates chained by joins —
    * every shuffle is on user_id and post-aggregate (one row per user),
    * so the plan is three cheap exchanges regardless of event volume; no
    * window sort, no event×event join. Conversion rates are emitted as
    * exact integer per-mille.
    */
  private def qEventsFunnel(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    // each stage frame is |users-at-stage| rows; checkpointing stops the
    // later stages (and the final count union) from replaying the event
    // scans of every earlier stage
    val (v, _) = graft.Ckpt.settle(ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("us").as("v_us"))).head
    val (c, _) = graft.Ckpt.settle(ev.filter(col("event_type") === "click").join(v, "user_id")
      .filter(col("us") > col("v_us"))
      .groupBy("user_id").agg(min("us").as("c_us"))).head
    val p = ev.filter(col("event_type") === "purchase").join(c, "user_id")
      .filter(col("us") > col("c_us"))
      .groupBy("user_id").agg(min("us").as("p_us"))
    // one declarative plan for the report row — no driver-side counting
    v.select(lit("v").as("st")).unionByName(c.select(lit("c").as("st")))
      .unionByName(p.select(lit("p").as("st")))
      .groupBy().pivot("st", Seq("v", "c", "p")).count()
      .select(
        coalesce(col("v"), lit(0L)).as("n_view"),
        coalesce(col("c"), lit(0L)).as("n_click_after"),
        coalesce(col("p"), lit(0L)).as("n_purchase_after"))
      .withColumn("click_rate_milli", expr("(1000 * n_click_after) div n_view"))
      .withColumn("purchase_rate_milli", expr("(1000 * n_purchase_after) div n_click_after"))
  }

  private val qEventsFunnelSql =
    """WITH e AS (
      |  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
      |v AS (SELECT user_id, min(us) AS v_us FROM e WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(us) AS c_us FROM e JOIN v USING (user_id)
      |  WHERE event_type = 'click' AND us > v_us GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(us) AS p_us FROM e JOIN c USING (user_id)
      |  WHERE event_type = 'purchase' AND us > c_us GROUP BY e.user_id)
      |SELECT CAST((SELECT count(*) FROM v) AS BIGINT) AS n_view,
      |  CAST((SELECT count(*) FROM c) AS BIGINT) AS n_click_after,
      |  CAST((SELECT count(*) FROM p) AS BIGINT) AS n_purchase_after,
      |  CAST(1000 * (SELECT count(*) FROM c) // (SELECT count(*) FROM v) AS BIGINT) AS click_rate_milli,
      |  CAST(1000 * (SELECT count(*) FROM p) // (SELECT count(*) FROM c) AS BIGINT) AS purchase_rate_milli""".stripMargin

  /** Cohort retention: users grouped by signup day, counted again if they
    * produce any event in days 1-7 after signup. Two per-user aggregates
    * and one semi-join — the cohort matrix never materialises user×day.
    */
  private def qEventsRetention(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("unix_micros(ts) div 86400000000").as("day"))
    val cohort = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("day").as("day0"))
    val retained = ev.join(cohort, "user_id")
      .filter(col("day") > col("day0") && col("day") <= col("day0") + 7)
      .select("user_id", "day0").distinct()
    cohort.groupBy("day0").agg(count(lit(1)).as("n_signup"))
      .join(
        retained.groupBy("day0").agg(count(lit(1)).as("n_retained")),
        Seq("day0"), "left")
      .select(col("day0"),
        col("n_signup"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"))
      .orderBy("day0")
  }

  private val qEventsRetentionSql =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events),
      |cohort AS (
      |  SELECT user_id, min(day) AS day0 FROM e WHERE event_type = 'signup' GROUP BY user_id),
      |retained AS (
      |  SELECT DISTINCT e.user_id, day0 FROM e JOIN cohort USING (user_id)
      |  WHERE day > day0 AND day <= day0 + 7),
      |s AS (SELECT day0, CAST(count(*) AS BIGINT) AS n_signup FROM cohort GROUP BY day0),
      |r AS (SELECT day0, CAST(count(*) AS BIGINT) AS n_retained FROM retained GROUP BY day0)
      |SELECT s.day0 AS day0, n_signup, coalesce(n_retained, 0) AS n_retained
      |FROM s LEFT JOIN r ON s.day0 = r.day0
      |ORDER BY day0""".stripMargin

  private def qSessionize(s: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run   = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables(s, dir, "events")
      .withColumn("es", unix_timestamp(col("ts")))
      .withColumn("prev", lag("es", 1).over(order))
      .withColumn(
        "new_s",
        when(col("prev").isNull || col("es") - col("prev") > 1800, 1).otherwise(0))
      .withColumn("session_id", sum("new_s").over(run))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"))
      .orderBy("user_id", "session_id")
  }

  private val qSessionizeSql =
    """WITH e AS (
      |  SELECT user_id, event_id, ts, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events),
      |x AS (
      |  SELECT user_id, event_id, ts, es,
      |    lag(es) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
      |y AS (
      |  SELECT user_id, event_id, ts,
      |    CASE WHEN prev IS NULL OR es - prev > 1800 THEN 1 ELSE 0 END AS new_s FROM x),
      |z AS (
      |  SELECT user_id, ts,
      |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM y)
      |SELECT user_id, session_id, count(*) AS n_events,
      |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
      |FROM z GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** Time-weighted average per user — the step-function mean the
    * event-analytics family was missing (sessionize/as-of/funnel/
    * retention/transitions/sequences cover ordering and cohorts; this
    * covers duration-weighted value): each reading holds until the next
    * one, so the mean weights each value by its holding interval in
    * epoch-µs. One key shuffle + per-key sort (the lead window), then a
    * plain aggregate. Exact integers end-to-end: cents × µs products
    * accumulate in decimal(38,0) (a year-long interval × a 6-digit cents
    * value overflows a long at corpus scale; the oracle's HUGEINT is the
    * same 128-bit accumulator), and the final floor division matches
    * DuckDB's `//` because values (and hence the numerator) are
    * non-negative in this schema.
    */
  private def qEventsTwavg(s: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy("us", "event_id")
    Tables(s, dir, "events")
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        Num.cents(col("value")).as("v"))
      .withColumn("dt", lead("us", 1).over(order) - col("us"))
      .filter(col("dt").isNotNull)
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_intervals"),
        sum("dt").as("w_us"),
        sum(col("v").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("dt"))
          .as("wv"))
      .filter(col("w_us") > 0)
      .select(col("user_id"), col("n_intervals"), col("w_us"),
        expr("CAST(wv div w_us AS BIGINT)").as("twavg_cents"))
      .orderBy("user_id")
  }

  private val qEventsTwavgSql =
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
       |    ${Num.centsSql("value")} AS v
       |  FROM events),
       |d AS (
       |  SELECT user_id, v,
       |    lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dt
       |  FROM e)
       |SELECT user_id, CAST(count(*) AS BIGINT) AS n_intervals,
       |  CAST(sum(dt) AS BIGINT) AS w_us,
       |  CAST(sum(CAST(v AS HUGEINT) * dt) // sum(dt) AS BIGINT) AS twavg_cents
       |FROM d WHERE dt IS NOT NULL
       |GROUP BY user_id HAVING sum(dt) > 0 ORDER BY user_id""".stripMargin

  /** Gaps-and-islands: per-user runs of CONSECUTIVE active days (the
    * classic streak analysis — DAU/engagement-streak reporting, and the
    * same island construction that powers contiguity checks on any
    * integer domain). The island key is `day − row_number()` — constant
    * exactly while days advance by 1 — so streaks fall out of one
    * per-user window pass over the DISTINCT (user, day) domain (≤ a few
    * thousand rows per user regardless of event volume; the raw events
    * are collapsed by the distinct BEFORE the window sort, which is what
    * keeps the sort tiny at corpus scale). The longest streak's start
    * day rides an integer argmax key (`len·10⁸ + (10⁸ − start)`: length
    * dominates, earlier start wins ties) so both engines extract it with
    * a plain `max` — no struct-ordering or window tiebreak semantics to
    * align cross-engine.
    */
  private def qGapsIslands(s: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy("day")
    Tables(s, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts) DIV 86400000000").as("day"))
      .distinct()
      .withColumn("grp", col("day") - row_number().over(order))
      .groupBy("user_id", "grp")
      .agg(count(lit(1)).as("len"), min("day").as("sd"))
      .groupBy("user_id")
      .agg(
        sum("len").as("active_days"),
        count(lit(1)).as("n_streaks"),
        // 10⁸−1−sd (not 10⁸−sd): keeps the low digits in [0, 10⁸) even at
        // sd = 0, so the key never carries into the length field. Domain
        // bound: 0 ≤ sd < 10⁸ (epoch days — holds until year 275760).
        max(col("len") * lit(100000000L) + (lit(99999999L) - col("sd"))).as("key"))
      .select(col("user_id"), col("active_days"), col("n_streaks"),
        expr("key DIV 100000000").as("longest_streak"),
        (lit(99999999L) - expr("key % 100000000")).as("longest_start_day"))
      .orderBy("user_id")
  }

  private val qGapsIslandsSql =
    """WITH d AS (
      |  SELECT DISTINCT user_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day
      |  FROM events),
      |x AS (
      |  SELECT user_id, day,
      |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
      |  FROM d),
      |i AS (
      |  SELECT user_id, grp, count(*) AS len, min(day) AS sd
      |  FROM x GROUP BY user_id, grp)
      |SELECT user_id, CAST(sum(len) AS BIGINT) AS active_days,
      |  count(*) AS n_streaks,
      |  CAST(max(len * 100000000 + (99999999 - sd)) // 100000000 AS BIGINT)
      |    AS longest_streak,
      |  CAST(99999999 - max(len * 100000000 + (99999999 - sd)) % 100000000
      |    AS BIGINT) AS longest_start_day
      |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin

  /** INTERVAL COVERAGE per user — union length of overlapping intervals
    * (the other standard sweep-line question next to `q_concurrency`'s
    * peak: "how much wall time was the user active", with each event
    * opening a 30-minute activity window; utilization/SLA math over any
    * interval data). Islands via the gaps-and-islands lag/cumsum scheme
    * on the per-user timeline — overlapping or touching windows merge,
    * covered seconds = Σ island extents, all exact integer epoch math.
    * The per-user window sorts one user's events, never the corpus; at
    * 100 TB the partition key is the user, the same distribution every
    * sessionization pass here uses.
    */
  private def qIntervalCoverage(s: SparkSession, dir: String): DataFrame = {
    val win = 1800000000L // 30 min in exact epoch MICROS (sub-second safe)
    val byUser = Window.partitionBy("user_id").orderBy("st")
    Tables(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("st"))
      .withColumn("prevMax",
        max(col("st") + win).over(byUser.rowsBetween(
          Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prevMax").isNull || col("st") > col("prevMax"), 1L)
          .otherwise(0L))
      .withColumn("island", sum("brk").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "island")
      .agg(min("st").as("lo"), max(col("st") + win).as("hi"),
        count(lit(1)).as("n_ev"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum("n_ev").as("n_intervals"),
        sum(col("hi") - col("lo")).as("covered_micros"))
      .orderBy("user_id")
  }

  private val qIntervalCoverageSql =
    """WITH iv AS (
      |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS st FROM events),
      |b AS (
      |  SELECT user_id, st,
      |    CASE WHEN max(st + 1800000000) OVER (PARTITION BY user_id ORDER BY st
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      |           OR st > max(st + 1800000000) OVER (PARTITION BY user_id ORDER BY st
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |         THEN 1 ELSE 0 END AS brk
      |  FROM iv),
      |i AS (
      |  SELECT user_id, st,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY st
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM b),
      |isl AS (
      |  SELECT user_id, island, min(st) AS lo, max(st + 1800000000) AS hi,
      |    count(*) AS n_ev
      |  FROM i GROUP BY user_id, island)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
      |  CAST(sum(n_ev) AS BIGINT) AS n_intervals,
      |  CAST(sum(hi - lo) AS BIGINT) AS covered_micros
      |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Peak concurrency per nation — the interval sweep-line: each order
    * is open for 30 days, and the question is the maximum number
    * simultaneously open (capacity planning over any interval data:
    * sessions, leases, loans). The scale-critical move is aggregating
    * the ±1 endpoint deltas down to the (nation, day) domain FIRST —
    * the running sum then scans at most |days| rows per nation, not
    * |orders|, so the per-partition window sort is over a compressed,
    * bounded domain no matter how many orders a nation has. Peak day
    * extraction uses the same integer argmax key as the streak query
    * (earliest day attaining the peak wins).
    */
  private def qConcurrency(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables(s, dir, "customer").select(col("c_custkey"), col("c_nationkey"))
    val opens = Tables(s, dir, "orders")
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nk"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long").as("sd"))
    val deltas = opens.select(col("nk"), col("sd").as("day"), lit(1L).as("d"))
      .unionAll(opens.select(col("nk"), (col("sd") + 30).as("day"), lit(-1L).as("d")))
      .groupBy("nk", "day")
      .agg(sum("d").as("net"))
    val run = Window.partitionBy("nk").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val nation = Tables(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    deltas
      .withColumn("conc", sum("net").over(run))
      .groupBy("nk")
      // same 10⁸−1−day argmax encoding as the streak query (day = 0 safe)
      .agg(max(col("conc") * lit(100000000L) + (lit(99999999L) - col("day"))).as("key"))
      .join(broadcast(nation), col("nk") === col("n_nationkey"))
      .select(col("n_name"),
        expr("key DIV 100000000").as("peak_open"),
        (lit(99999999L) - expr("key % 100000000")).as("peak_day"))
      .orderBy("n_name")
  }

  private val qConcurrencySql =
    """WITH o AS (
      |  SELECT c.c_nationkey AS nk,
      |    CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT) AS sd
      |  FROM orders JOIN customer c ON o_custkey = c_custkey),
      |del AS (
      |  SELECT nk, day, CAST(sum(d) AS BIGINT) AS net FROM (
      |    SELECT nk, sd AS day, 1 AS d FROM o
      |    UNION ALL
      |    SELECT nk, sd + 30 AS day, -1 AS d FROM o)
      |  GROUP BY nk, day),
      |r AS (
      |  SELECT nk, day,
      |    sum(net) OVER (PARTITION BY nk ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM del),
      |k AS (
      |  SELECT nk, max(conc * 100000000 + (99999999 - day)) AS key
      |  FROM r GROUP BY nk)
      |SELECT n_name,
      |  CAST(key // 100000000 AS BIGINT) AS peak_open,
      |  CAST(99999999 - key % 100000000 AS BIGINT) AS peak_day
      |FROM k JOIN nation ON nk = n_nationkey
      |ORDER BY n_name""".stripMargin

  /** Hierarchy traversal by POINTER DOUBLING — the recursive-CTE query
    * class (org charts, BOM explosion, category trees), done the way it
    * survives 100 TB: a sequential walk is O(depth) dependent joins, but
    * doubling composes ancestor pointers with themselves
    * (f_{r+1}(x) = f_r(f_r(x)), distances add), reaching any depth ≤ 2^r
    * in r self-joins — 7 shuffle rounds cover depth 128 where a CTE walk
    * would take 128. The hierarchy is synthesized deterministically over
    * customers (nodes ≤ 10 are roots; node k's parent is
    * 1 + h(k) mod (k−1), a random-ish id strictly below k, giving
    * E[depth] ≈ ln n ≈ 10 — 7 rounds have ~10× headroom). Output is the
    * per-depth census with each depth's node-id extremes; the oracle
    * walks the same parent function with a real recursive CTE, so any
    * doubling mistake (distance bookkeeping, root self-loops) breaks the
    * bit-exact integer compare.
    */
  private def qHierarchy(s: SparkSession, dir: String): DataFrame = {
    val parentOf =
      "1 + CAST(conv(substring(md5(CAST(c_custkey AS STRING)), 1, 4), 16, 10) AS BIGINT) % (c_custkey - 1)"
    val state0 = Tables(s, dir, "customer")
      .select(col("c_custkey").as("node"),
        when(col("c_custkey") <= 10, col("c_custkey"))
          .otherwise(expr(parentOf)).as("anc"),
        when(col("c_custkey") <= 10, 0L).otherwise(1L).as("d"))
    val state = graft.Ckpt.iterate("q_hierarchy", state0, 7) { (state, _) =>
      val jump = state.select(col("node").as("j_node"),
        col("anc").as("j_anc"), col("d").as("j_d"))
      state.join(jump, state("anc") === jump("j_node"))
        .select(col("node"), col("j_anc").as("anc"), (col("d") + col("j_d")).as("d"))
    }(graft.Ckpt.rows).frame
    state.groupBy(col("d").as("depth"))
      .agg(count(lit(1)).as("n_nodes"),
        min("node").as("min_node"), max("node").as("max_node"),
        countDistinct("anc").as("n_roots"))
      .orderBy("depth")
  }

  private val qHierarchySql =
    """WITH RECURSIVE walk(node, cur, d) AS (
      |  SELECT c_custkey, c_custkey, CAST(0 AS BIGINT) FROM customer
      |  UNION ALL
      |  SELECT w.node,
      |    1 + (((strpos('0123456789abcdef', substr(md5(CAST(w.cur AS VARCHAR)), 1, 1)) - 1) * 4096
      |      + (strpos('0123456789abcdef', substr(md5(CAST(w.cur AS VARCHAR)), 2, 1)) - 1) * 256
      |      + (strpos('0123456789abcdef', substr(md5(CAST(w.cur AS VARCHAR)), 3, 1)) - 1) * 16
      |      + strpos('0123456789abcdef', substr(md5(CAST(w.cur AS VARCHAR)), 4, 1)) - 1)
      |      % (w.cur - 1)) AS cur,
      |    w.d + 1
      |  FROM walk w WHERE w.cur > 10),
      |fin AS (
      |  SELECT node, cur AS root, d AS depth FROM walk WHERE cur <= 10)
      |SELECT depth, count(*) AS n_nodes,
      |  min(node) AS min_node, max(node) AS max_node,
      |  CAST(count(DISTINCT root) AS BIGINT) AS n_roots
      |FROM fin GROUP BY depth ORDER BY depth""".stripMargin

  /** Sliding-window running revenue: per customer, the sum of order totals
    * over a trailing 30-day RANGE frame — the moving-aggregate class
    * (RANGE, not ROWS: frame membership depends on the *value* distance,
    * so two orders on the same day always share a frame). Dates become
    * epoch days so the frame bound is integer arithmetic in both engines;
    * money sums ride the exact cents domain. One shuffle on the partition
    * key, one sort — the standard windowed-aggregate cost.
    */
  private def qWindowSliding(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("d")
      .rangeBetween(-30, Window.currentRow)
    Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1970-01-01")).as("d"),
        Num.cents(col("o_totalprice")).as("cents"))
      .withColumn("trailing_30d", (sum("cents").over(w) / 100.0))
      .select(col("o_orderkey"), col("o_custkey"), col("d"), col("trailing_30d"))
      .orderBy("o_orderkey")
  }

  private val qWindowSlidingSql =
    s"""SELECT o_orderkey, o_custkey,
       |  CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS INT) AS d,
       |  sum(${Num.centsSql("o_totalprice")}) OVER (
       |    PARTITION BY o_custkey
       |    ORDER BY datediff('day', DATE '1970-01-01', o_orderdate)
       |    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) / 100.0 AS trailing_30d
       |FROM orders ORDER BY o_orderkey""".stripMargin

  /** Discrete percentiles of price per return flag, via the mergeable
    * Greenwald–Khanna sketch (`approx_percentile`) — the 100 TB plan: a
    * bounded-memory map-side-combinable aggregate, never the exact
    * sort-based `percentile_disc` that buffers every group's values on one
    * reducer. The sketch returns an actual data element whose rank error
    * is ≤ N/accuracy. Because the DuckDB oracle computes the EXACT
    * `percentile_disc` element, this oracle instance derives accuracy from
    * the table's row count (≥ 2·N ⇒ rank error < 1 ⇒ bit-identical to
    * exact, at ANY scale factor the driver verifies); a footer-only
    * parquet count, not a data scan. At 100 TB a caller pins accuracy to
    * the rank-error budget instead (the production contract, driver-gated
    * by dx_percentile_gate / dx_percentile_group_gate) — exactness-by-
    * sizing is the oracle harness's need, not the operator's.
    */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame = {
    val n = Tables(s, dir, "lineitem").count()
    // ApproximatePercentile requires accuracy ∈ (0, Int.MaxValue]; past
    // ~1.07B rows the 2·N sizing would fail analysis (and its memory is the
    // sketch size), so clamp — above the clamp the query is an honest
    // sketch, no longer exact-by-sizing, which is the production contract
    // anyway (see scaladoc).
    val acc = math.min(math.max(100000L, 2L * n), Int.MaxValue.toLong)
    Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem_v")
    s.sql(s"""SELECT l_returnflag,
      |  approx_percentile(l_extendedprice, 0.5, $acc) AS p50,
      |  approx_percentile(l_extendedprice, 0.9, $acc) AS p90,
      |  approx_percentile(l_extendedprice, 0.99, $acc) AS p99,
      |  count(*) AS n
      |FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  private val qPercentilesSql =
    """SELECT l_returnflag,
      |  percentile_disc(0.5) WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
      |  percentile_disc(0.9) WITHIN GROUP (ORDER BY l_extendedprice) AS p90,
      |  percentile_disc(0.99) WITHIN GROUP (ORDER BY l_extendedprice) AS p99,
      |  count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Point-in-time attribution: each purchase joined to the most recent
    * prior (or same-instant) click by the same user — [[graft.operators
    * .AsOf]]'s backward join (one key shuffle + window sort; no range
    * explosion). Oracle is DuckDB's native ASOF LEFT JOIN. Spark reads the
    * TIMESTAMP(NANOS) column at microsecond precision, so the oracle casts
    * to µs timestamps before joining and both sides emit the gap via
    * epoch-microsecond arithmetic — bit-exact (no sub-µs ties exist in the
    * data at any sf).
    */
  private def qEventsAsof(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
    graft.operators.AsOf.joinBackward(purchases, clicks, Seq("user_id"),
        "ts", "cts", rightPrefix = "", rightTiebreak = Some("click_id"))
      .select(col("event_id"), col("user_id"), col("click_id"),
        (unix_micros(col("ts")) - unix_micros(col("cts"))).as("gap_us"))
      .orderBy("event_id")
  }

  private val qEventsAsofSql =
    """WITH p AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS cts
      |  FROM events WHERE event_type = 'click')
      |SELECT p.event_id, p.user_id, c.click_id,
      |  CAST(epoch_us(p.ts) - epoch_us(c.cts) AS BIGINT) AS gap_us
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.cts
      |ORDER BY event_id""".stripMargin

  /** Forward point-in-time join — the other as-of direction (spec-only
    * until r7): each click joined to the user's next purchase at-or-after
    * it, with a 2-hour tolerance so stale matches null out (left-join
    * semantics preserved). Same one-key-shuffle union + running-first
    * plan as the backward join; oracle is DuckDB's native ASOF with the
    * reversed inequality plus an explicit tolerance filter re-applied as
    * a projection (DuckDB ASOF has no tolerance parameter).
    */
  private def qEventsAsofFwd(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
    graft.operators.AsOf.joinForward(clicks, purchases, Seq("user_id"),
        "ts", "pts", rightPrefix = "", rightTiebreak = Some("purchase_id"),
        tolerance = Some(expr("INTERVAL 2 HOURS")))
      .select(col("event_id"), col("user_id"), col("purchase_id"),
        (unix_micros(col("pts")) - unix_micros(col("ts"))).as("gap_us"))
      .orderBy("event_id")
  }

  private val qEventsAsofFwdSql =
    """WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'click'),
      |p AS (SELECT user_id, event_id AS purchase_id, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |j AS (SELECT c.event_id, c.user_id, p.purchase_id,
      |    epoch_us(p.pts) - epoch_us(c.ts) AS gap_us
      |  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.pts)
      |SELECT event_id, user_id,
      |  CASE WHEN gap_us <= 7200000000 THEN purchase_id END AS purchase_id,
      |  CASE WHEN gap_us <= 7200000000 THEN CAST(gap_us AS BIGINT) END AS gap_us
      |FROM j ORDER BY event_id""".stripMargin

  /** Nearest-event as-of join — the bidirectional completion of the as-of
    * family (backward = state lookup, forward = next outcome, nearest =
    * closest reading in either direction, the sensor-fusion/alignment
    * semantics): each view event pairs with the user's temporally CLOSEST
    * purchase. Composed from the two directional [[graft.operators.AsOf]]
    * passes (each the one-key-shuffle union + running first/last plan —
    * no range explosion), then a per-row pick: smaller absolute gap wins,
    * exact ties go backward (the earlier purchase). The oracle composes
    * DuckDB's native ASOF both ways with the same tie rule, so the pick
    * logic itself is cross-engine checked.
    */
  private def qAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"))
    val back = graft.operators.AsOf.joinBackward(views, purchases, Seq("user_id"),
      "ts", "pts", rightPrefix = "b_", rightTiebreak = Some("pid"))
    val both = graft.operators.AsOf.joinForward(back, purchases, Seq("user_id"),
      "ts", "pts", rightPrefix = "f_", rightTiebreak = Some("pid"))
    both
      .withColumn("gb", unix_micros(col("ts")) - unix_micros(col("b_pts")))
      .withColumn("gf", unix_micros(col("f_pts")) - unix_micros(col("ts")))
      .withColumn("pick_b",
        col("gb").isNotNull && (col("gf").isNull || col("gb") <= col("gf")))
      .select(col("event_id"), col("user_id"),
        when(col("pick_b"), col("b_pid")).otherwise(col("f_pid")).as("purchase_id"),
        when(col("pick_b"), col("gb")).otherwise(col("gf")).as("gap_us"),
        when(col("pick_b"), lit("prev"))
          .when(col("f_pid").isNotNull, lit("next")).as("dir"))
      .orderBy("event_id")
  }

  private val qAsofNearestSql =
    """WITH v AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      |  FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS pid, CAST(ts AS TIMESTAMP) AS pts
      |  FROM events WHERE event_type = 'purchase'),
      |b AS (SELECT v.event_id, v.user_id, v.ts, p.pid AS b_pid,
      |    epoch_us(v.ts) - epoch_us(p.pts) AS gb
      |  FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.pts),
      |f AS (SELECT v.event_id, p.pid AS f_pid,
      |    epoch_us(p.pts) - epoch_us(v.ts) AS gf
      |  FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts <= p.pts)
      |SELECT b.event_id, b.user_id,
      |  CASE WHEN gb IS NOT NULL AND (gf IS NULL OR gb <= gf)
      |       THEN b_pid ELSE f_pid END AS purchase_id,
      |  CAST(CASE WHEN gb IS NOT NULL AND (gf IS NULL OR gb <= gf)
      |       THEN gb ELSE gf END AS BIGINT) AS gap_us,
      |  CASE WHEN gb IS NOT NULL AND (gf IS NULL OR gb <= gf) THEN 'prev'
      |       WHEN f_pid IS NOT NULL THEN 'next' END AS dir
      |FROM b JOIN f USING (event_id)
      |ORDER BY event_id""".stripMargin

  /** Common-neighbor link prediction over the linkage proximity graph
    * (Liben-Nowell & Kleinberg 2003's strongest simple baseline) — the
    * "which record pairs did blocking MISS" signal: two records sharing
    * many graph neighbors but no direct edge are prime candidates for a
    * follow-up comparison round. Candidates come from the wedge join
    * — with the wedge fan-out BOUNDED: each center node contributes
    * pairs only from its 32 smallest-id neighbors (the deterministic
    * hot-key cap, same convention as MinHashLSH's `maxBucket`), kept by
    * the bounded-heap [[graft.plans.TopK]] operator, never a per-node
    * sort. Uncapped, the sf1 replica's densified graph generates
    * Σd² ≈ 7.9e9 wedge rows and OOMs the aggregation; capped it is
    * Σ min(d,32)² ≈ 1.5e8 — this is what makes common-neighbor scoring
    * survivable on a hub-heavy 100 TB graph, at the documented cost that
    * counts THROUGH hub centers are computed over a deterministic
    * neighbor sample (counts are exact whenever every common neighbor
    * has degree ≤ 32, which holds at every driver sf). Each scored pair
    * carries an `is_edge` marker instead of anti-joining existing edges
    * away (predictions sort first; a dense small graph where every open
    * wedge closes then still yields the triangle-closure census rather
    * than an empty answer — the q_graph_kcore robustness convention),
    * and the top-20 is a bounded TakeOrdered, not a global sort. All
    * integer, deterministic tiebreak.
    */
  private def qGraphLinkpred(s: SparkSession, dir: String): DataFrame = {
    val (e, _) = graft.Ckpt.settle(graphEdges(s, dir)).head
    val e2 = e.select(col("a").as("s"), col("b").as("t"))
      .unionAll(e.select(col("b").as("s"), col("a").as("t")))
    val adj = graft.plans.TopK.perKey(e2, Seq("s"), "t", k = 32,
      descending = false, rankName = "rn").drop("rn")
    val wedges = adj.select(col("s").as("c"), col("t").as("a"))
      .join(adj.select(col("s").as("c2"), col("t").as("b")), col("c") === col("c2"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("common_neighbors"))
    wedges.join(e.withColumn("m", lit(1)), Seq("a", "b"), "left")
      .withColumn("is_edge", col("m").isNotNull)
      .select("a", "b", "common_neighbors", "is_edge")
      .orderBy(col("is_edge"), col("common_neighbors").desc, col("a"), col("b"))
      .limit(20)
  }

  // lazy: graphEdgesCte is declared later in the file
  private lazy val qGraphLinkpredSql =
    s"""WITH $graphEdgesCte,
      |e2 AS (SELECT a AS s, b AS t FROM e
      |       UNION ALL SELECT b AS s, a AS t FROM e),
      |adj AS (
      |  SELECT s, t FROM (
      |    SELECT s, t, row_number() OVER (PARTITION BY s ORDER BY t) AS rn
      |    FROM e2)
      |  WHERE rn <= 32),
      |w AS (
      |  SELECT x.t AS a, y.t AS b, count(*) AS common_neighbors
      |  FROM adj x JOIN adj y ON x.s = y.s
      |  WHERE x.t < y.t
      |  GROUP BY x.t, y.t)
      |SELECT w.a, w.b, w.common_neighbors, e.a IS NOT NULL AS is_edge
      |FROM w LEFT JOIN e ON w.a = e.a AND w.b = e.b
      |ORDER BY is_edge, common_neighbors DESC, w.a, w.b LIMIT 20""".stripMargin

  /** CUSUM changepoint detection (Page 1954) over daily event volumes —
    * the "did demand shift" detector, and the representative of the
    * recurrence class WINDOW FUNCTIONS CANNOT EXPRESS: the one-sided
    * CUSUM statistic s_t = max(0, s_{t−1} + (n_t − k)) depends on the
    * clamped prefix, not on any frame aggregate. The scale-correct shape:
    * events collapse to per-(type, day) counts first (partial-agg
    * shuffle), each type's day series becomes ONE ordered array, and the
    * recurrence runs as an in-row `aggregate` fold carrying
    * (s, best, best_day) struct state — per-group memory is the series
    * length (≤ |days|), never the event count, and the fold is exact
    * integer so the oracle's list_reduce twin (same-typed zero sentinel
    * prepended — DuckDB's fold has no init parameter) matches bit-exact.
    * Drift reference k is each type's floor-mean daily count; best_day
    * records the FIRST day attaining the final maximum (strict-greater
    * update).
    */
  private def qChangepoint(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(col("event_type"),
        expr("unix_micros(ts) DIV 86400000000").as("day"))
      .agg(count(lit(1)).as("n"))
      .groupBy("event_type")
      .agg(array_sort(collect_list(struct(col("day"), col("n")))).as("arr"))
      .withColumn("n_days", expr("CAST(size(arr) AS BIGINT)"))
      .withColumn("k", expr("aggregate(arr, 0L, (a, e) -> a + e.n) DIV n_days"))
      .withColumn("st", expr(
        """aggregate(arr,
          |  named_struct('s', 0L, 'best', 0L, 'bday', -1L),
          |  (acc, e) -> named_struct(
          |    's', greatest(0L, acc.s + e.n - k),
          |    'best', greatest(acc.best, greatest(0L, acc.s + e.n - k)),
          |    'bday', CASE WHEN greatest(0L, acc.s + e.n - k) > acc.best
          |                 THEN e.day ELSE acc.bday END))""".stripMargin))
      .select(col("event_type"), col("n_days"), col("k"),
        col("st.best").as("max_cusum"), col("st.bday").as("shift_day"))
      .orderBy("event_type")

  private val qChangepointSql =
    """WITH d AS (
      |  SELECT event_type,
      |    epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 AS day,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |g AS (
      |  SELECT event_type,
      |    list(struct_pack(day := day, n := CAST(n AS BIGINT)) ORDER BY day) AS arr
      |  FROM d GROUP BY event_type),
      |p AS (
      |  SELECT event_type, CAST(len(arr) AS BIGINT) AS n_days,
      |    list_reduce(list_transform(arr, e -> CAST(e.n AS BIGINT)),
      |      (a, b) -> a + b) // len(arr) AS k,
      |    arr
      |  FROM g),
      |f AS (
      |  -- field order matters: DuckDB 1.0 evaluates struct_pack fields
      |  -- SEQUENTIALLY, mutating acc in place (a later field referencing
      |  -- acc.s would see the updated value). With (bday, best, s) each
      |  -- expression reads only fields not yet written this step, so the
      |  -- fold is correct under sequential AND simultaneous semantics.
      |  SELECT event_type, n_days, k,
      |    list_reduce(
      |      list_prepend(
      |        struct_pack(bday := CAST(-1 AS BIGINT), best := CAST(0 AS BIGINT),
      |                    s := CAST(0 AS BIGINT)),
      |        list_transform(arr, e ->
      |          struct_pack(bday := CAST(e.day AS BIGINT), best := CAST(0 AS BIGINT),
      |                      s := CAST(e.n AS BIGINT)))),
      |      (acc, e) -> struct_pack(
      |        bday := CASE WHEN greatest(0, acc.s + e.s - k) > acc.best
      |                     THEN e.bday ELSE acc.bday END,
      |        best := greatest(acc.best, greatest(0, acc.s + e.s - k)),
      |        s := greatest(0, acc.s + e.s - k))) AS st
      |  FROM p)
      |SELECT event_type, n_days, CAST(k AS BIGINT) AS k,
      |  CAST(st.best AS BIGINT) AS max_cusum,
      |  CAST(st.bday AS BIGINT) AS shift_day
      |FROM f ORDER BY event_type""".stripMargin

  /** RFM customer segmentation — the classic behavioral cube (recency =
    * last purchase day, frequency = purchase count, monetary = cents
    * spent), each dimension scored 1-4 by its own quartiles. The
    * quartile thresholds ride the exactness-sized `approx_percentile`
    * sketch (accuracy ≥ 2n ⇒ the sketch returns exact data elements, the
    * q_percentiles contract) on a broadcast one-row aggregate — no
    * global sort, no rank pass; scoring is then a per-row comparison and
    * the segment census one small groupBy. Recency scores the user's
    * raw last-active day (later = higher), which needs no "today" anchor.
    * All integer, so the percentile_disc oracle matches bit-exact.
    */
  private def qRfmSegments(s: SparkSession, dir: String): DataFrame = {
    // feeds the threshold fit AND the scoring
    val (users, n) = graft.Ckpt.settle(Tables(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        max(expr("unix_micros(ts) DIV 86400000000")).as("last_day"),
        count(lit(1)).as("freq"),
        Num.bigSum(Num.cents(col("value"))).cast("long").as("cents"))).head
    val acc = math.min(math.max(100000L, 2L * n), Int.MaxValue.toLong)
    def qs(c: String) = Seq(0.25, 0.5, 0.75).map(p =>
      expr(s"approx_percentile($c, $p, $acc)").as(s"${c.head}q${(p * 4).toInt}"))
    val t = users.agg(qs("last_day").head,
      (qs("last_day").tail ++ qs("freq") ++ qs("cents")): _*)
    def score(v: String, p: String) =
      expr(s"CAST(1 + CAST($v > ${p}q1 AS INT) + CAST($v > ${p}q2 AS INT) + CAST($v > ${p}q3 AS INT) AS BIGINT)")
    users.crossJoin(broadcast(t))
      .select(col("user_id"),
        score("last_day", "l").as("r_score"),
        score("freq", "f").as("f_score"),
        score("cents", "c").as("m_score"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        min("user_id").as("min_user"), max("user_id").as("max_user"))
      .orderBy("r_score", "f_score", "m_score")
  }

  private val qRfmSegmentsSql =
    s"""WITH u AS (
       |  SELECT user_id,
       |    max(epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000) AS last_day,
       |    count(*) AS freq,
       |    CAST(sum(${Num.centsSql("value")}) AS BIGINT) AS cents
       |  FROM events WHERE event_type = 'purchase'
       |  GROUP BY user_id),
       |t AS (
       |  SELECT
       |    percentile_disc(0.25) WITHIN GROUP (ORDER BY last_day) AS lq1,
       |    percentile_disc(0.50) WITHIN GROUP (ORDER BY last_day) AS lq2,
       |    percentile_disc(0.75) WITHIN GROUP (ORDER BY last_day) AS lq3,
       |    percentile_disc(0.25) WITHIN GROUP (ORDER BY freq) AS fq1,
       |    percentile_disc(0.50) WITHIN GROUP (ORDER BY freq) AS fq2,
       |    percentile_disc(0.75) WITHIN GROUP (ORDER BY freq) AS fq3,
       |    percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS cq1,
       |    percentile_disc(0.50) WITHIN GROUP (ORDER BY cents) AS cq2,
       |    percentile_disc(0.75) WITHIN GROUP (ORDER BY cents) AS cq3
       |  FROM u),
       |sc AS (
       |  SELECT user_id,
       |    CAST(1 + (last_day > lq1)::INT + (last_day > lq2)::INT
       |       + (last_day > lq3)::INT AS BIGINT) AS r_score,
       |    CAST(1 + (freq > fq1)::INT + (freq > fq2)::INT
       |       + (freq > fq3)::INT AS BIGINT) AS f_score,
       |    CAST(1 + (cents > cq1)::INT + (cents > cq2)::INT
       |       + (cents > cq3)::INT AS BIGINT) AS m_score
       |  FROM u CROSS JOIN t)
       |SELECT r_score, f_score, m_score, count(*) AS n_users,
       |  min(user_id) AS min_user, max(user_id) AS max_user
       |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  private def qEventsWindow(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy(
        col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour_start"))
      .agg(
        count(lit(1)).as("n"),
        (Num.bigSum(Num.cents(col("value"))) / 100.0).as("sum_value"))
      .orderBy("event_type", "hour_start")

  private val qEventsWindowSql =
    s"""SELECT event_type,
       |  strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       |  count(*) AS n,
       |  sum(${Num.centsSql("value")})/100.0 AS sum_value
       |FROM events
       |GROUP BY event_type, hour_start
       |ORDER BY event_type, hour_start""".stripMargin

  /** Per-user ordered event sequences — the training-sequence construction
    * step of a behavioral/LM pipeline (group → order → serialize). One
    * shuffle on the grouping key; per-group state is the user's own event
    * list, so memory tracks the heaviest user, not the table.
    * `array_sort` over (ts, event_id, type) structs gives a deterministic
    * total order (event_id is unique); the oracle orders by epoch_us(ts) so
    * both engines compare timestamps at the same microsecond precision
    * (Spark reads the nanos column truncated to µs).
    */
  private def qEventSequences(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "events")
      .groupBy("user_id")
      .agg(array_sort(collect_list(
        struct(col("ts"), col("event_id"), col("event_type")))).as("evs"))
      .select(
        col("user_id"),
        size(col("evs")).cast("long").as("n_events"),
        expr("array_join(transform(evs, e -> e.event_type), '>')").as("sequence"))
      .orderBy("user_id")

  private val qEventSequencesSql =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      |  string_agg(event_type, '>' ORDER BY epoch_us(ts), event_id) AS sequence
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  private def q4(s: SparkSession, dir: String): DataFrame = {
    val orders = Tables(s, dir, "orders")
      .filter(
        col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
    val bigItems = Tables(s, dir, "lineitem")
      .filter(col("l_quantity") > 45).select("l_orderkey")
    orders
      .join(bigItems, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  private val q4Sql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  private def q13(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  private val q13Sql =
    """SELECT c_count, count(*) AS custdist FROM (
      |  SELECT c_custkey, count(o_orderkey) AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY c_custkey) t
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  private def q14(s: SparkSession, dir: String): DataFrame = {
    val ext = Num.cents(col("l_extendedprice"))
    Tables(s, dir, "lineitem")
      .filter(
        col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1996-07-01 00:00:00").cast("timestamp"))
      .join(broadcast(Tables(s, dir, "part")), col("l_partkey") === col("p_partkey"))
      .agg(
        (Num.bigSum(when(col("p_type").like("PROMO%"), ext).otherwise(lit(0L))) / 100.0)
          .as("promo_revenue"),
        (Num.bigSum(ext) / 100.0).as("total_revenue"))
  }

  private val q14Sql =
    s"""SELECT
       |  sum(CASE WHEN p_type LIKE 'PROMO%' THEN ${Num.centsSql("l_extendedprice")} ELSE 0 END)/100.0 AS promo_revenue,
       |  sum(${Num.centsSql("l_extendedprice")})/100.0 AS total_revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate <  TIMESTAMP '1996-07-01 00:00:00'""".stripMargin

  /** Q17 shape: lineitems below half their part's average quantity. The
    * comparison is done in exact integer space (qty_cents * 2 * n <
    * sum_cents) so no cross-engine float-average drift can flip a row.
    */
  private def q17(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
    val perPart = li.groupBy(col("l_partkey").as("pk"))
      .agg(
        sum(Num.cents(col("l_quantity"))).as("sum_qc"),
        count(lit(1)).as("n"))
    li.join(perPart, col("l_partkey") === col("pk"))
      .filter(Num.cents(col("l_quantity")) * lit(2) * col("n") < col("sum_qc"))
      .agg(
        count(lit(1)).as("n_small"),
        (Num.bigSum(Num.cents(col("l_extendedprice"))) / 100.0).as("small_revenue"))
  }

  private val q17Sql =
    s"""WITH pp AS (
       |  SELECT l_partkey AS pk,
       |    sum(${Num.centsSql("l_quantity")}) AS sum_qc,
       |    count(*) AS n
       |  FROM lineitem GROUP BY l_partkey)
       |SELECT count(*) AS n_small,
       |  sum(${Num.centsSql("l_extendedprice")})/100.0 AS small_revenue
       |FROM lineitem JOIN pp ON l_partkey = pk
       |WHERE ${Num.centsSql("l_quantity")} * 2 * n < sum_qc""".stripMargin

  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    def nations(seg: String) =
      Tables(s, dir, "customer").filter(col("c_mktsegment") === seg)
        .select(col("c_nationkey").as("nationkey"))
    val both = nations("BUILDING").intersect(nations("MACHINERY"))
    val only = nations("BUILDING").except(nations("AUTOMOBILE"))
    both.withColumn("set_op", lit("intersect"))
      .unionByName(only.withColumn("set_op", lit("except")))
      .orderBy("set_op", "nationkey")
  }

  private val qSetOpsSql =
    """SELECT nationkey, 'intersect' AS set_op FROM (
      |  SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  INTERSECT
      |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY')
      |UNION ALL
      |SELECT nationkey, 'except' FROM (
      |  SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |  EXCEPT
      |  SELECT c_nationkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
      |ORDER BY set_op, nationkey""".stripMargin

  // ---- round-2 TPC-H additions (columns restricted to the testdata's
  // TPC-H-ish schema: no partsupp / shipmode / commitdate variants) -------

  /** TPC-H Q7 volume shipping: bilateral trade volume between two nations
    * by ship year. Both nation dims broadcast.
    */
  private def q7(s: SparkSession, dir: String): DataFrame = {
    val n1 = Tables(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables(s, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .join(Tables(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .filter(
        (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        date_format(col("l_shipdate"), "yyyy").as("l_year"))
      .agg((Num.bigSum(Num.cents(col("l_extendedprice")) *
        (lit(100) - Num.cents(col("l_discount")))) / 10000.0).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  private val q7Sql =
    s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       |  strftime(l_shipdate, '%Y') AS l_year,
       |  sum(${Num.centsSql("l_extendedprice")} * (100 - ${Num.centsSql("l_discount")}))/10000.0 AS revenue
       |FROM lineitem
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON s_nationkey = n1.n_nationkey
       |JOIN nation n2 ON c_nationkey = n2.n_nationkey
       |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
       |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
       |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
       |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin

  /** TPC-H Q8 national market share: NATION_3's share of ECONOMY-part
    * revenue delivered into EUROPE customers, by order year. The share is a
    * single double division of two exact integer cent-sums (conditional
    * numerator via map-side `when`), so it is bit-identical across engines.
    * All dimension joins (part filter, both nation lookups, region) are
    * broadcasts; the only shuffles are the fact-fact joins and the final
    * per-year aggregate.
    */
  private def q8(s: SparkSession, dir: String): DataFrame = {
    val part = Tables(s, dir, "part")
      .filter(col("p_type") === "ECONOMY").select("p_partkey")
    val nationC = Tables(s, dir, "nation")
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
    val region = Tables(s, dir, "region")
      .filter(col("r_name") === "EUROPE").select("r_regionkey")
    val nationS = Tables(s, dir, "nation")
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val vol = Num.cents(col("l_extendedprice")) * (lit(100) - Num.cents(col("l_discount")))
    Tables(s, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(Tables(s, dir, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
            col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nationC), col("c_nationkey") === col("c_nk"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .join(Tables(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nationS), col("s_nationkey") === col("s_nk"))
      .groupBy(date_format(col("o_orderdate"), "yyyy").as("o_year"))
      .agg((Num.bigSum(when(col("supp_nation") === "NATION_3", vol).otherwise(lit(0L))).cast("double") /
        Num.bigSum(vol).cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  private val q8Sql =
    s"""SELECT strftime(o_orderdate, '%Y') AS o_year,
       |  sum(CASE WHEN n2.n_name = 'NATION_3'
       |      THEN ${Num.centsSql("l_extendedprice")} * (100 - ${Num.centsSql("l_discount")})
       |      ELSE 0 END)
       |  / sum(${Num.centsSql("l_extendedprice")} * (100 - ${Num.centsSql("l_discount")})) AS mkt_share
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation n1 ON c_nationkey = n1.n_nationkey
       |JOIN region ON n1.n_regionkey = r_regionkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation n2 ON s_nationkey = n2.n_nationkey
       |WHERE p_type = 'ECONOMY' AND r_name = 'EUROPE'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q10 returned items: revenue lost to returns per customer over a
    * quarter, top 20.
    */
  private def q10(s: SparkSession, dir: String): DataFrame = {
    val nation = Tables(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") >= lit("1999-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1999-04-01 00:00:00").cast("timestamp"))
      .join(Tables(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_returnflag") === "R")
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
      .agg((Num.bigSum(Num.cents(col("l_extendedprice")) *
        (lit(100) - Num.cents(col("l_discount")))) / 10000.0).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  private val q10Sql =
    s"""SELECT c_custkey, c_name, c_acctbal, n_name,
       |  sum(${Num.centsSql("l_extendedprice")} * (100 - ${Num.centsSql("l_discount")}))/10000.0 AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |JOIN nation ON c_nationkey = n_nationkey
       |WHERE o_orderdate >= TIMESTAMP '1999-01-01 00:00:00'
       |  AND o_orderdate <  TIMESTAMP '1999-04-01 00:00:00'
       |  AND l_returnflag = 'R'
       |GROUP BY 1, 2, 3, 4
       |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin

  /** TPC-H Q15 top supplier: suppliers achieving the maximum quarterly
    * revenue (ties kept). The max is a one-row broadcast, not a rescan.
    */
  private def q15(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1999-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1999-04-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg((Num.bigSum(Num.cents(col("l_extendedprice")) *
        (lit(100) - Num.cents(col("l_discount")))) / 10000.0).as("total_revenue"))
    val mx = rev.agg(max("total_revenue").as("max_revenue"))
    rev.join(broadcast(mx), col("total_revenue") === col("max_revenue"))
      .join(Tables(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
      .orderBy("s_suppkey")
  }

  private val q15Sql =
    s"""WITH rev AS (
       |  SELECT l_suppkey,
       |    sum(${Num.centsSql("l_extendedprice")} * (100 - ${Num.centsSql("l_discount")}))/10000.0 AS total_revenue
       |  FROM lineitem
       |  WHERE l_shipdate >= TIMESTAMP '1999-01-01 00:00:00'
       |    AND l_shipdate <  TIMESTAMP '1999-04-01 00:00:00'
       |  GROUP BY l_suppkey)
       |SELECT s_suppkey, s_name, total_revenue
       |FROM rev JOIN supplier ON l_suppkey = s_suppkey
       |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
       |ORDER BY s_suppkey""".stripMargin

  /** TPC-H Q18 large orders: customers whose orders exceed 250 total
    * quantity. The HAVING side is a semi-join driver, so only qualifying
    * orders rescan lineitem.
    */
  private def q18(s: SparkSession, dir: String): DataFrame = {
    val big = Tables(s, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg((Num.bigSum(Num.cents(col("l_quantity"))) / 100.0).as("total_qty"))
      .filter(col("total_qty") > 250)
    Tables(s, dir, "customer")
      .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .select(
        col("c_custkey"), col("c_name"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  private val q18Sql =
    s"""WITH big AS (
       |  SELECT l_orderkey, sum(${Num.centsSql("l_quantity")})/100.0 AS total_qty
       |  FROM lineitem GROUP BY l_orderkey
       |  HAVING sum(${Num.centsSql("l_quantity")})/100.0 > 250)
       |SELECT c_custkey, c_name, o_orderkey,
       |  strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_totalprice, total_qty
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN big ON o_orderkey = l_orderkey
       |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** TPC-H Q22-style idle wealthy customers: above-average balance, no
    * orders in the final year — per-nation count and exact balance sum.
    * The global average is a one-row broadcast; the "no recent orders" is a
    * left-anti join.
    */
  private def q22(s: SparkSession, dir: String): DataFrame = {
    val customer = Tables(s, dir, "customer")
    val avgBal = customer.filter(col("c_acctbal") > 0)
      .agg((Num.bigSum(Num.cents(col("c_acctbal"))) / 100.0 / count(lit(1))).as("avg_bal"))
    val recent = Tables(s, dir, "orders")
      .filter(col("o_orderdate") >= lit("2001-01-01 00:00:00").cast("timestamp"))
      .select(col("o_custkey")).distinct()
    customer
      .join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(
        count(lit(1)).as("n_custs"),
        (Num.bigSum(Num.cents(col("c_acctbal"))) / 100.0).as("total_bal"))
      .orderBy("c_nationkey")
  }

  private val q22Sql =
    s"""SELECT c_nationkey, count(*) AS n_custs,
       |  sum(${Num.centsSql("c_acctbal")})/100.0 AS total_bal
       |FROM customer
       |WHERE c_acctbal > (
       |    SELECT sum(${Num.centsSql("c_acctbal")})/100.0/count(*)
       |    FROM customer WHERE c_acctbal > 0)
       |  AND c_custkey NOT IN (
       |    SELECT o_custkey FROM orders
       |    WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00')
       |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** Pure range join (no equality conjunct): high-quantity shipments landing
    * inside each big order's 8-day order window. Spark's planner would pick
    * BroadcastNestedLoopJoin for the raw range predicate; `RangeJoin`
    * rewrites it to a 7-day band equi-join + exact verify (see
    * operators/RangeJoin.scala), so both sides shuffle-partition on the band
    * key and the candidate set is linear, not quadratic. Filters are applied
    * before the join so they push to the parquet scans.
    */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val epoch = lit("1970-01-01")
    val points = Tables(s, dir, "lineitem")
      .filter(col("l_quantity") >= 45)
      .select(
        datediff(col("l_shipdate").cast("date"), epoch).cast("long").as("ship_day"),
        col("l_quantity").cast("long").as("qty"))
    val intervals = Tables(s, dir, "orders")
      .filter(col("o_totalprice") > 400000)
      .select(
        col("o_orderkey"),
        datediff(col("o_orderdate").cast("date"), epoch).cast("long").as("start_day"))
      .withColumn("end_day", col("start_day") + 7)
    RangeJoin.pointInInterval(
        points, "ship_day", intervals, "start_day", "end_day", bandWidth = 7)
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_ship"), sum("qty").as("sum_qty"))
      .orderBy("o_orderkey")
  }

  private val qRangeJoinSql =
    """SELECT o_orderkey, count(*) AS n_ship,
      |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      |FROM orders JOIN lineitem
      |  ON l_shipdate >= o_orderdate
      | AND l_shipdate <= o_orderdate + INTERVAL 7 DAY
      |WHERE o_totalprice > 400000 AND l_quantity >= 45
      |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  // ---- round-9 TPC-H completions: the remaining plan shapes, adapted to
  // the testdata's schema (no partsupp/shipmode/commitdate — the
  // part-supplier relation derives from distinct lineitem pairs, and
  // lateness from l_shipdate vs o_orderdate) -----------------------------

  /** TPC-H Q9 (adapted): product-type profit by supplier nation and order
    * year. Profit = revenue − cost, both exact integer cent-products at
    * the 1e-4-dollar scale (cost proxy: retail price × quantity, there
    * being no ps_supplycost), so the signed sum is bit-exact. Dimension
    * joins broadcast; facts shuffle once.
    */
  private def q9(s: SparkSession, dir: String): DataFrame = {
    val part = Tables(s, dir, "part")
      .filter(col("p_name").contains("gear"))
      .select(col("p_partkey"), Num.cents(col("p_retailprice")).as("rc"))
    val nation = Tables(s, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val profit = Num.cents(col("l_extendedprice")) *
      (lit(100) - Num.cents(col("l_discount"))) -
      col("rc") * col("l_quantity").cast("long") * lit(100)
    Tables(s, dir, "lineitem")
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(Tables(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        date_format(col("o_orderdate"), "yyyy").as("o_year"))
      .agg((Num.bigSum(profit) / 10000.0).as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  private val q9Sql =
    s"""SELECT n_name AS nation, strftime(o_orderdate, '%Y') AS o_year,
       |  sum(${Num.centsSql("l_extendedprice")} * (100 - ${Num.centsSql("l_discount")})
       |      - ${Num.centsSql("p_retailprice")} * CAST(l_quantity AS BIGINT) * 100) / 10000.0
       |    AS sum_profit
       |FROM lineitem
       |JOIN part ON l_partkey = p_partkey
       |JOIN supplier ON l_suppkey = s_suppkey
       |JOIN nation ON s_nationkey = n_nationkey
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE p_name LIKE '%gear%'
       |GROUP BY 1, 2 ORDER BY 1 ASC, 2 DESC""".stripMargin

  /** TPC-H Q12 (adapted): shipping-delay classes × order priority — late
    * means shipped more than 30 days after the order date (no
    * receipt/commit dates in this schema). One fact-fact join, counts per
    * class; the CASE buckets evaluate map-side.
    */
  private def q12(s: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .withColumn("delay_class",
        when(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 30 DAYS"),
          "late").otherwise("ontime"))
      .groupBy("delay_class")
      .agg(
        sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(!high, 1L).otherwise(0L)).as("low_line_count"))
      .orderBy("delay_class")
  }

  private val q12Sql =
    """SELECT CASE WHEN l_shipdate > o_orderdate + INTERVAL 30 DAY
      |         THEN 'late' ELSE 'ontime' END AS delay_class,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TPC-H Q16 (adapted): supplier count per part attribute. The
    * part-supplier relation derives from DISTINCT (l_partkey, l_suppkey)
    * lineitem pairs (no partsupp table); brands under embargo are
    * excluded and the distinct-supplier count grouped by
    * (brand, type, size). Two shuffles: the pair distinct and the final
    * count-distinct aggregate.
    */
  private def q16(s: SparkSession, dir: String): DataFrame = {
    val ps = Tables(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
    Tables(s, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_brand") =!= "Brand#2" &&
        col("p_type") =!= "ECONOMY" &&
        col("p_size").isin(1, 5, 11, 20, 25, 30, 42, 49))
      .join(ps, col("p_partkey") === col("l_partkey"))
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  private val q16Sql =
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
      |SELECT p_brand, p_type, p_size,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
      |FROM part JOIN ps ON p_partkey = l_partkey
      |WHERE p_brand NOT IN ('Brand#1', 'Brand#2') AND p_type <> 'ECONOMY'
      |  AND p_size IN (1, 5, 11, 20, 25, 30, 42, 49)
      |GROUP BY 1, 2, 3 ORDER BY 4 DESC, 1, 2, 3""".stripMargin

  /** TPC-H Q19 (adapted): discounted revenue under an OR of conjunctive
    * brand/size/quantity branches — the disjunctive-predicate shape.
    * Catalyst pushes the common `l_partkey = p_partkey` equi-join through
    * the OR and evaluates the residual disjunction in the join's
    * post-filter; revenue is the exact cent-product sum.
    */
  private def q19(s: SparkSession, dir: String): DataFrame = {
    val branch = (
      (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
        col("l_quantity").between(1, 15)) ||
      (col("p_brand") === "Brand#13" && col("p_size").between(10, 25) &&
        col("l_quantity").between(10, 25)) ||
      (col("p_brand") === "Brand#25" && col("p_size").between(20, 40) &&
        col("l_quantity").between(20, 35)))
    Tables(s, dir, "lineitem")
      .join(Tables(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .filter(branch)
      .agg((Num.bigSum(Num.cents(col("l_extendedprice")) *
        (lit(100) - Num.cents(col("l_discount")))) / 10000.0).as("revenue"))
  }

  private val q19Sql =
    s"""SELECT sum(${Num.centsSql("l_extendedprice")}
       |    * (100 - ${Num.centsSql("l_discount")})) / 10000.0 AS revenue
       |FROM lineitem JOIN part ON l_partkey = p_partkey
       |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       |       AND l_quantity BETWEEN 1 AND 15)
       |   OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 25
       |       AND l_quantity BETWEEN 10 AND 25)
       |   OR (p_brand = 'Brand#25' AND p_size BETWEEN 20 AND 40
       |       AND l_quantity BETWEEN 20 AND 35)""".stripMargin

  /** TPC-H Q21 (adapted): suppliers who were the ONLY late supplier of a
    * multi-supplier order — late meaning shipped over 60 days after the
    * order date. The EXISTS is a left-semi join (another supplier shipped
    * in the order), the NOT EXISTS a left-anti join (no OTHER supplier was
    * late); both plan as one equi-join on the order key with the supplier
    * inequality and lateness as residual conditions — no correlated
    * re-execution.
    */
  private def q21(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
    val l1 = li
      .join(Tables(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"),
        col("o_orderdate").as("od"))
    val l2 = li.select(col("l_orderkey").as("ok2"), col("l_suppkey").as("sk2"))
    val l3 = li.select(col("l_orderkey").as("ok3"), col("l_suppkey").as("sk3"),
      col("l_shipdate").as("sd3"))
    l1
      .join(l2, col("ok") === col("ok2") && col("sk") =!= col("sk2"),
        "left_semi")
      .join(l3, col("ok") === col("ok3") && col("sk") =!= col("sk3") &&
        col("sd3") > col("od") + expr("INTERVAL 60 DAYS"), "left_anti")
      .join(Tables(s, dir, "supplier"), col("sk") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  private val q21Sql =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM lineitem l1
      |JOIN orders ON l1.l_orderkey = o_orderkey
      |JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |    WHERE l2.l_orderkey = l1.l_orderkey
      |      AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin

  /** TPC-H Q2 (adapted): for each SMALL part under size 15, the
    * cheapest-to-engage supplier — minimum account balance (suppkey
    * tiebreak) among suppliers who have actually shipped it (the derived
    * part-supplier relation). The min-per-group + join-back is ONE
    * aggregate on a struct ordering, not a correlated re-execution; the
    * balance rides as exact cents through the min and divides back out.
    */
  private def q2(s: SparkSession, dir: String): DataFrame = {
    val ps = Tables(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(Tables(s, dir, "supplier"),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"),
        struct(Num.cents(col("s_acctbal")).as("bal_c"),
          col("s_suppkey").as("sk"), col("s_name").as("sn")).as("cand"))
    val best = ps.groupBy("l_partkey").agg(min(col("cand")).as("best"))
    Tables(s, dir, "part")
      .filter(col("p_type") === "SMALL" && col("p_size") < 15)
      .join(best, col("p_partkey") === col("l_partkey"))
      .select(col("p_partkey"), col("p_name"),
        col("best.sn").as("s_name"),
        (col("best.bal_c").cast("double") / 100.0).as("s_acctbal"))
      .orderBy("p_partkey")
      .limit(25)
  }

  private val q2Sql =
    s"""WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
       |ranked AS (
       |  SELECT l_partkey, s_name, ${Num.centsSql("s_acctbal")} AS bal_c,
       |    row_number() OVER (PARTITION BY l_partkey
       |      ORDER BY ${Num.centsSql("s_acctbal")}, s_suppkey) AS rn
       |  FROM ps JOIN supplier ON l_suppkey = s_suppkey)
       |SELECT p_partkey, p_name, s_name,
       |  CAST(bal_c AS DOUBLE) / 100.0 AS s_acctbal
       |FROM part JOIN ranked ON p_partkey = l_partkey
       |WHERE p_type = 'SMALL' AND p_size < 15 AND rn = 1
       |ORDER BY p_partkey LIMIT 25""".stripMargin

  /** TPC-H Q11 (adapted): suppliers holding an "important" share of total
    * shipped value (retail price × quantity, exact cents) — above the
    * MEAN supplier share, so the threshold is scale-free (a fixed
    * fraction of the total empties as the supplier population grows with
    * sf, and the synthetic values are near-uniform). The HAVING decision
    * compares integers — value × n_suppliers > grand total — against a
    * broadcast one-row global aggregate, so no doubles enter it.
    */
  private def q11(s: SparkSession, dir: String): DataFrame = {
    val value = Tables(s, dir, "lineitem")
      .join(broadcast(Tables(s, dir, "part")
          .select(col("p_partkey"), Num.cents(col("p_retailprice")).as("rc"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(Num.bigSum(col("rc") * col("l_quantity").cast("long")).as("val_c"))
    val total = value.agg(sum(col("val_c")).as("total_c"),
      count(lit(1)).as("n_supp"))
    value.crossJoin(broadcast(total))
      // DECIMAL(38,0) product: a plain BIGINT multiply could silently
      // overflow at large sf where DuckDB's HUGEINT doesn't — 38 digits
      // covers any realistic total (≤1e18 cents × ≤1e9 suppliers = 1e27).
      .filter(col("val_c").cast("decimal(38,0)") * col("n_supp") >
        col("total_c").cast("decimal(38,0)"))
      .select(col("l_suppkey").as("s_suppkey"),
        (col("val_c").cast("double") / 100.0).as("value"))
      .orderBy(col("value").desc, col("s_suppkey"))
  }

  private val q11Sql =
    s"""WITH v AS (
       |  SELECT l_suppkey AS s_suppkey,
       |    sum(${Num.centsSql("p_retailprice")} * CAST(l_quantity AS BIGINT)) AS val_c
       |  FROM lineitem JOIN part ON l_partkey = p_partkey
       |  GROUP BY 1)
       |SELECT s_suppkey, CAST(val_c AS DOUBLE) / 100.0 AS value
       |FROM v
       |WHERE val_c * (SELECT count(*) FROM v) > (SELECT sum(val_c) FROM v)
       |ORDER BY value DESC, s_suppkey""".stripMargin

  /** TPC-H Q20 (adapted): suppliers who dominate a part — shipped more
    * than half of a red part's total 1997 quantity. Two aggregates over
    * the same filtered scan (per-(part, supplier) and per-part), an
    * integer 2q > total comparison, then a semi-join into supplier. The
    * part filter broadcasts; quantities stay integral.
    */
  private def q20(s: SparkSession, dir: String): DataFrame = {
    val red = Tables(s, dir, "part")
      .filter(col("p_name").startsWith("red")).select("p_partkey")
    val (shipped, _) = graft.Ckpt.settle(Tables(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .join(broadcast(red), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("long")).as("qty"))).head
    val totals = shipped.groupBy(col("l_partkey"))
      .agg(sum(col("qty")).as("total_qty"))
    val dominating = shipped.join(totals, "l_partkey")
      .filter(col("qty") * 2 > col("total_qty"))
      .select(col("l_suppkey")).distinct()
    Tables(s, dir, "supplier")
      .join(dominating, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select(col("s_suppkey"), col("s_name"))
      .orderBy("s_suppkey")
  }

  private val q20Sql =
    """WITH shipped AS (
      |  SELECT l_partkey, l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE p_name LIKE 'red%'
      |    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      |    AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      |  GROUP BY 1, 2),
      |tot AS (SELECT l_partkey, sum(qty) AS total_qty FROM shipped GROUP BY 1)
      |SELECT s_suppkey, s_name FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM shipped JOIN tot USING (l_partkey)
      |  WHERE qty * 2 > total_qty)
      |ORDER BY s_suppkey""".stripMargin

  // ---- graph metrics over a proximity pair graph ----------------------
  // Edge set: customers in the same nation whose balances sit within $200
  // of each other — the shape a blocking/linkage stage emits. Derived with
  // the banded range join (never a per-nation quadratic self-join: at
  // 100 TB a nation is millions of customers, but a $-band is bounded), so
  // both sides shuffle on (nation, band) and AQE can split hot bands.
  private val graphHalfWidthCents = 20000L

  private[graft] def graphEdges(s: SparkSession, dir: String): DataFrame = {
    // Fresh scan per side: distinct attribute ids keep the self-join's
    // `nat` equi-key unambiguous (same-plan reuse would alias both sides
    // to one attribute and degrade the key to a trivially-true predicate).
    def cust = Tables(s, dir, "customer").select(
      col("c_custkey").as("id"),
      col("c_nationkey").as("nat"),
      Num.cents(col("c_acctbal")).as("bal"))
    val c = cust
    val intervals = cust.select(
      col("id").as("iid"), col("nat"),
      (col("bal") - graphHalfWidthCents).as("lo"),
      (col("bal") + graphHalfWidthCents).as("hi"))
    // The containment predicate is symmetric, so keeping only the
    // point-id < interval-id orientation yields each unordered pair
    // exactly once — no distinct pass needed.
    RangeJoin.pointInInterval(
        c, "bal", intervals, "lo", "hi",
        bandWidth = graphHalfWidthCents, extraEquiKeys = Seq("nat"))
      .where(col("id") < col("iid"))
      .select(col("id").as("a"), col("iid").as("b"))
  }

  private val graphEdgesCte =
    """e AS (
      |  SELECT l.c_custkey AS a, r.c_custkey AS b
      |  FROM customer l JOIN customer r
      |    ON l.c_nationkey = r.c_nationkey
      |   AND l.c_custkey < r.c_custkey
      |   AND abs(CAST(round(l.c_acctbal * 100) AS BIGINT)
      |         - CAST(round(r.c_acctbal * 100) AS BIGINT)) <= 20000),
      |deg AS (
      |  SELECT n, count(*) AS d
      |  FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
      |  GROUP BY n)""".stripMargin

  /** WEAK MATCH EDGES — the transitive-closure chaining audit every ER
    * pipeline runs on its resolved graph (a match edge with ZERO triangle
    * support connects two records no third record corroborates; those are
    * the edges that chain unrelated entities into one cluster, splink's
    * cluster-studio "bridge" diagnostic): per edge of the linkage pair
    * graph, count common neighbors; emit the unsupported edges.
    *
    * Scale shape: the support count is the triangle-per-edge program —
    * adjacency both directions, one equi-join on the endpoint, one on
    * (other endpoint, shared neighbor), one pair-keyed aggregate; work is
    * Σ deg² like every triangle pass, bounded by the same degree cap the
    * pair graph's blocking already enforces. The weak set comes back via
    * one left anti-style join (left join + null filter keeps the count
    * column semantics explicit).
    *
    * SCALE DEFAULT (r17 verdict watch item 2): this exact row is the
    * verification anchor, NOT the everyday audit at cluster scale — on
    * the sf1 replica the exact pass measured 203 s against 9.7 s for
    * [[weakEdgesSampled]] (`mb_weak_edges_sampled`, BASELINE sf1 rows),
    * and Σ deg² grows faster than the corpus. A 100× deployment should
    * run the sampled audit by default (wedge work shrinks ~p² at 1-in-16)
    * and reserve this exact form for confirming the sampled survivors or
    * for bounded subgraphs.
    */
  private def weakEdges(s: SparkSession, dir: String): DataFrame =
    weakEdgesOver(graphEdges(s, dir))

  /** SAMPLED weak-edge audit — the `q_graph_triangles_doulion` device on
    * the chaining diagnostic: the 1-in-16 deterministic md5-digit edge
    * sample ([[GraphMetrics.edgeSamplePredicate]]), then the EXACT
    * oriented-credit weak-edge program on the sampled subgraph (the
    * oracle recomputes that same subgraph, so the row is bit-exact, not
    * an estimate with error bars). This is the scale path that makes the
    * audit runnable on graphs whose exact pass is cluster-scale: wedge
    * work shrinks ~p², so the sf1 row runs in seconds next to the 203 s
    * exact row. Semantics of the sampled audit: an edge unsupported in
    * the SAMPLE is a chaining-risk candidate to triage first — exactly
    * how DOULION-style sampling is used operationally (screen at 1/p
    * cost, confirm survivors exactly).
    */
  private def weakEdgesSampled(s: SparkSession, dir: String): DataFrame =
    weakEdgesOver(graphEdges(s, dir)
      .filter(GraphMetrics.edgeSamplePredicate(16)))

  private def weakEdgesOver(rawEdges: DataFrame): DataFrame = {
    // Degree-ordered orientation (the GraphMetrics.triangleStats scheme):
    // the naive both-directions adjacency join enumerates Σdeg² wedge
    // rows — measured 458 s at sf1 where this formulation runs in
    // seconds. Each triangle is FOUND once on its lowest-rank edge via
    // the bounded O(√m) oriented out-adjacencies, then credited to all
    // three of its edges; weak = edges never credited (one anti-join).
    val (e, _) = graft.Ckpt.settleBulk(rawEdges).head
    val (oriented, _) = graft.Ckpt.settleBulk(
      GraphMetrics.orient(e, GraphMetrics.degrees(e))).head
    val adj = oriented.groupBy("u")
      .agg(sort_array(collect_list(col("v"))).as("nbrs"))
    val tri = oriented
      .join(adj.select(col("u"), col("nbrs").as("nu")), Seq("u"))
      .join(adj.select(col("u").as("v"), col("nbrs").as("nv")), Seq("v"))
      .select(col("u"), col("v"),
        explode(array_intersect(col("nu"), col("nv"))).as("w"))
    val supported = tri.select(explode(array(
        struct(least(col("u"), col("v")).as("x"),
          greatest(col("u"), col("v")).as("y")),
        struct(least(col("u"), col("w")).as("x"),
          greatest(col("u"), col("w")).as("y")),
        struct(least(col("v"), col("w")).as("x"),
          greatest(col("v"), col("w")).as("y")))).as("p"))
      .select(col("p.x").as("a"), col("p.y").as("b")).distinct()
    e.join(supported, Seq("a", "b"), "left_anti")
      .orderBy("a", "b")
  }

  private val weakEdgesSql =
    s"""WITH $graphEdgesCte,
       |adj AS (SELECT a AS n, b AS x FROM e UNION ALL SELECT b, a FROM e),
       |supp AS (
       |  SELECT e.a, e.b, count(*) AS s
       |  FROM e
       |  JOIN adj p ON p.n = e.a
       |  JOIN adj q ON q.n = e.b AND q.x = p.x
       |  GROUP BY e.a, e.b)
       |SELECT e.a, e.b FROM e LEFT JOIN supp USING (a, b)
       |WHERE supp.s IS NULL
       |ORDER BY a, b""".stripMargin

  // The q_graph_triangles_doulion md5-digit sample replayed on the weak
  // edge audit: the oracle recomputes the SAMPLED subgraph, so the
  // sampled audit is bit-exact.
  private val edgeSampleSqlDuck =
    """(((strpos('0123456789abcdef', substr(md5(CAST(a AS VARCHAR) || ',' || CAST(b AS VARCHAR)), 1, 1)) - 1) * 4096
      | + (strpos('0123456789abcdef', substr(md5(CAST(a AS VARCHAR) || ',' || CAST(b AS VARCHAR)), 2, 1)) - 1) * 256
      | + (strpos('0123456789abcdef', substr(md5(CAST(a AS VARCHAR) || ',' || CAST(b AS VARCHAR)), 3, 1)) - 1) * 16
      | + strpos('0123456789abcdef', substr(md5(CAST(a AS VARCHAR) || ',' || CAST(b AS VARCHAR)), 4, 1)) - 1) % 16 = 0)""".stripMargin

  private val weakEdgesSampledSql =
    s"""WITH $graphEdgesCte,
       |se AS (SELECT a, b FROM e WHERE $edgeSampleSqlDuck),
       |adj AS (SELECT a AS n, b AS x FROM se UNION ALL SELECT b, a FROM se),
       |supp AS (
       |  SELECT se.a, se.b, count(*) AS s
       |  FROM se
       |  JOIN adj p ON p.n = se.a
       |  JOIN adj q ON q.n = se.b AND q.x = p.x
       |  GROUP BY se.a, se.b)
       |SELECT se.a, se.b FROM se LEFT JOIN supp USING (a, b)
       |WHERE supp.s IS NULL
       |ORDER BY a, b""".stripMargin

  private def qGraphTriangles(s: SparkSession, dir: String): DataFrame =
    GraphMetrics.triangleStats(graphEdges(s, dir))

  private val qGraphTrianglesSql =
    s"""WITH $graphEdgesCte
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
      |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
      |  (SELECT CAST(count(*) AS BIGINT)
      |   FROM e e1 JOIN e e2 ON e2.a = e1.b
      |             JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles,
      |  (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) FROM deg) AS n_wedges""".stripMargin

  /** Per-node triangle counts and Watts–Strogatz local clustering
    * coefficient over the same proximity graph
    * (GraphMetrics.localClustering): compact-forward orientation, common
    * out-neighborhoods materialised once per oriented edge and credited
    * to all three triangle corners — Σ t(n) = 3·triangles by
    * construction. Exact permille; NULL below the deg ≥ 2 domain. The
    * oracle recounts canonical (x<y<z) triangles and fans each out to
    * its corners.
    */
  private def qGraphClustering(s: SparkSession, dir: String): DataFrame =
    GraphMetrics.localClustering(graphEdges(s, dir)).orderBy("node_id")

  private val qGraphClusteringSql =
    s"""WITH $graphEdgesCte,
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b
       |            JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
       |tc AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS t FROM (
       |    SELECT x AS n FROM tri
       |    UNION ALL SELECT y FROM tri
       |    UNION ALL SELECT z FROM tri)
       |  GROUP BY n)
       |SELECT deg.n AS node_id, CAST(d AS BIGINT) AS degree,
       |  CAST(coalesce(t, 0) AS BIGINT) AS n_triangles,
       |  CAST(CASE WHEN d >= 2 THEN (2000 * coalesce(t, 0)) // (d * (d - 1)) END
       |    AS BIGINT) AS cc_permille
       |FROM deg LEFT JOIN tc ON tc.n = deg.n
       |ORDER BY node_id""".stripMargin

  /** DOULION edge-sampled triangle estimate over the same proximity graph
    * (GraphMetrics.triangleEstimateDoulion, KDD 2009): 1-in-16 edges by
    * the portable md5-digit hash (key-structure-independent — see the
    * operator Scaladoc for why a linear congruence is disqualified here),
    * EXACT compact-forward count on the sample (the oracle recomputes
    * it — that is the exactness gate), estimate = count·16³. This is the
    * scale path for the quadratic graph member: wedge work shrinks ~p²,
    * making the 1.69G-edge sf10 replica measurable on one box where the
    * exact count is cluster-scale.
    */
  private def qGraphTrianglesDoulion(s: SparkSession, dir: String): DataFrame =
    GraphMetrics.triangleEstimateDoulion(graphEdges(s, dir), invP = 16)

  private val qGraphTrianglesDoulionSql =
    s"""WITH $graphEdgesCte,
      |se AS (SELECT a, b FROM e WHERE
      |  (((strpos('0123456789abcdef', substr(md5(CAST(a AS VARCHAR) || ',' || CAST(b AS VARCHAR)), 1, 1)) - 1) * 4096
      |   + (strpos('0123456789abcdef', substr(md5(CAST(a AS VARCHAR) || ',' || CAST(b AS VARCHAR)), 2, 1)) - 1) * 256
      |   + (strpos('0123456789abcdef', substr(md5(CAST(a AS VARCHAR) || ',' || CAST(b AS VARCHAR)), 3, 1)) - 1) * 16
      |   + strpos('0123456789abcdef', substr(md5(CAST(a AS VARCHAR) || ',' || CAST(b AS VARCHAR)), 4, 1)) - 1) % 16 = 0)),
      |sdeg AS (
      |  SELECT n, count(*) AS d
      |  FROM (SELECT a AS n FROM se UNION ALL SELECT b AS n FROM se)
      |  GROUP BY n)
      |SELECT
      |  (SELECT CAST(count(*) AS BIGINT) FROM sdeg) AS sampled_nodes,
      |  (SELECT CAST(count(*) AS BIGINT) FROM se) AS sampled_edges,
      |  (SELECT CAST(count(*) AS BIGINT)
      |   FROM se e1 JOIN se e2 ON e2.a = e1.b
      |              JOIN se e3 ON e3.a = e1.a AND e3.b = e2.b) AS sampled_triangles,
      |  (SELECT CAST(count(*) * 4096 AS BIGINT)
      |   FROM se e1 JOIN se e2 ON e2.a = e1.b
      |              JOIN se e3 ON e3.a = e1.a AND e3.b = e2.b) AS est_triangles,
      |  (SELECT CAST(coalesce(sum(d * (d - 1) // 2), 0) AS BIGINT) FROM sdeg) AS sampled_wedges,
      |  CAST(16 AS BIGINT) AS inv_p""".stripMargin

  /** Integer-exact PageRank over the proximity graph: 5 fixed-point
    * iterations (scale 1e8, α = 85/100) entirely in BIGINT — floors are
    * engine-identical, so the top-20 ranks compare bit-exact against the
    * oracle's unrolled-iteration twin. Centrality over a candidate-pair
    * graph is the standard "which records anchor the most linkage mass"
    * signal (and, on web corpora, a quality prior for sampling).
    */
  private def qGraphPagerank(s: SparkSession, dir: String): DataFrame =
    GraphMetrics.pageRank(graphEdges(s, dir), iters = 5)
      .orderBy(col("r").desc, col("n"))
      .limit(20)
      .select(col("n"), col("r").as("rank_scaled"))

  private val qGraphPagerankSql = {
    // Same fixed-point recurrence, iterations unrolled as chained CTEs
    // (p0..p5). DuckDB promotes sum(BIGINT) to HUGEINT, hence the CAST
    // back each step; `//` floors on nonnegative exactly like Spark DIV.
    val steps = (1 to 5).map { i =>
      s"""p$i AS (
         |  SELECT e2.t AS n,
         |    CAST(15000000 + (85 * sum(p.r // dg.d)) // 100 AS BIGINT) AS r
         |  FROM p${i - 1} p JOIN deg dg ON dg.n = p.n
         |       JOIN e2 ON e2.s = p.n
         |  GROUP BY e2.t)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphEdgesCte,
      |e2 AS (SELECT a AS s, b AS t FROM e
      |       UNION ALL SELECT b AS s, a AS t FROM e),
      |p0 AS (SELECT n, CAST(100000000 AS BIGINT) AS r FROM deg),
      |$steps
      |SELECT n, r AS rank_scaled FROM p5
      |ORDER BY r DESC, n LIMIT 20""".stripMargin
  }

  /** Personalized PageRank from a seed set (every 20th customer): rank
    * mass teleports only to seeds and diffuses outward — the
    * seed-expansion primitive ("which records are most connected to the
    * curated set"). Same BIGINT fixed-point recurrence as
    * q_graph_pagerank, bit-exact against the unrolled oracle.
    */
  private def qGraphPpr(s: SparkSession, dir: String): DataFrame = {
    val seeds = Tables(s, dir, "customer")
      .where(col("c_custkey") % 20 === 0)
      .select(col("c_custkey").as("n"))
    GraphMetrics.pageRankPersonalized(graphEdges(s, dir), seeds, iters = 5)
      .orderBy(col("r").desc, col("n"))
      .limit(20)
      .select(col("n"), col("r").as("rank_scaled"))
  }

  private val qGraphPprSql = {
    val steps = (1 to 5).map { i =>
      s"""p$i AS (
         |  SELECT e2.t AS n,
         |    CAST((85 * sum(p.r // dg.d)) // 100
         |         + CASE WHEN e2.t IN (SELECT n FROM sd) THEN 15000000 ELSE 0 END
         |         AS BIGINT) AS r
         |  FROM p${i - 1} p JOIN deg dg ON dg.n = p.n
         |       JOIN e2 ON e2.s = p.n
         |  GROUP BY e2.t)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphEdgesCte,
      |e2 AS (SELECT a AS s, b AS t FROM e
      |       UNION ALL SELECT b AS s, a AS t FROM e),
      |sd AS (SELECT c_custkey AS n FROM customer WHERE c_custkey % 20 = 0),
      |p0 AS (SELECT n,
      |  CAST(CASE WHEN n IN (SELECT n FROM sd) THEN 100000000 ELSE 0 END
      |       AS BIGINT) AS r FROM deg),
      |$steps
      |SELECT n, r AS rank_scaled FROM p5
      |ORDER BY r DESC, n LIMIT 20""".stripMargin
  }

  /** Deterministic label-propagation communities over the proximity
    * graph: 4 synchronous min-tie-break iterations (see
    * [[GraphMetrics.labelPropagation]]), reported as the 20 largest
    * communities — the "how does the candidate graph decompose" view one
    * step finer than connected components (LPA splits a component along
    * sparse cuts; components never do). Pure integer labels/counts, so
    * bit-exact against the unrolled-iteration oracle.
    */
  private def qGraphCommunities(s: SparkSession, dir: String): DataFrame =
    GraphMetrics.labelPropagation(graphEdges(s, dir), iters = 4)
      .groupBy(col("lab").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(20)

  private val qGraphCommunitiesSql = {
    val steps = (1 to 4).map { i =>
      s"""l$i AS (
         |  SELECT n, lab FROM (
         |    SELECT e2.t AS n, l.lab, count(*) AS cnt,
         |      row_number() OVER (PARTITION BY e2.t
         |                         ORDER BY count(*) DESC, l.lab) AS rn
         |    FROM l${i - 1} l JOIN e2 ON e2.s = l.n
         |    GROUP BY e2.t, l.lab)
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH $graphEdgesCte,
      |e2 AS (SELECT a AS s, b AS t FROM e
      |       UNION ALL SELECT b AS s, a AS t FROM e),
      |l0 AS (SELECT DISTINCT s AS n, s AS lab FROM e2),
      |$steps
      |SELECT lab AS community, CAST(count(*) AS BIGINT) AS n_members
      |FROM l4 GROUP BY lab
      |ORDER BY n_members DESC, community LIMIT 20""".stripMargin
  }

  /** 3-core peeling of the proximity graph over 4 rounds
    * ([[GraphMetrics.kCorePeelStats]]): one `(round, n_nodes, n_edges)`
    * row per peel — the "dense core vs fringe" health view of a
    * candidate-pair graph, robust to the core collapsing to empty (the
    * summary stays 4 rows). Integer-exact, so bit-equal to the unrolled
    * peeling oracle; the Spark side early-exits once a round peels
    * nothing and replays the settled row.
    */
  private def qGraphKcore(s: SparkSession, dir: String): DataFrame =
    GraphMetrics.kCorePeelStats(graphEdges(s, dir), k = 3, rounds = 4)

  private val qGraphKcoreSql = {
    val steps = (1 to 4).map { i =>
      s"""k$i AS (
         |  SELECT n FROM (
         |    SELECT n, count(*) AS d
         |    FROM (SELECT a AS n FROM e${i - 1} UNION ALL SELECT b AS n FROM e${i - 1})
         |    GROUP BY n)
         |  WHERE d >= 3),
         |e$i AS (
         |  SELECT a, b FROM e${i - 1}
         |  WHERE a IN (SELECT n FROM k$i) AND b IN (SELECT n FROM k$i))""".stripMargin
    }.mkString(",\n")
    val statRows = (1 to 4).map { i =>
      s"""SELECT CAST($i AS INTEGER) AS round,
         |  (SELECT count(*) FROM (
         |     SELECT DISTINCT n
         |     FROM (SELECT a AS n FROM e$i UNION ALL SELECT b AS n FROM e$i))) AS n_nodes,
         |  (SELECT count(*) FROM e$i) AS n_edges""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $graphEdgesCte,
      |e0 AS (SELECT a, b FROM e),
      |$steps
      |$statRows
      |ORDER BY round""".stripMargin
  }

  private def qGraphDegrees(s: SparkSession, dir: String): DataFrame =
    GraphMetrics.degreeHistogram(graphEdges(s, dir))

  private val qGraphDegreesSql =
    s"""WITH $graphEdgesCte
      |SELECT d AS degree, CAST(count(*) AS BIGINT) AS n_nodes
      |FROM deg GROUP BY d ORDER BY degree""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q_graph_triangles", qGraphTriangles, Some(qGraphTrianglesSql)),
    QueryDef("q_graph_clustering", qGraphClustering, Some(qGraphClusteringSql)),
    QueryDef("q_graph_triangles_doulion", qGraphTrianglesDoulion,
      Some(qGraphTrianglesDoulionSql)),
    QueryDef("q_graph_degrees", qGraphDegrees, Some(qGraphDegreesSql)),
    QueryDef("q_graph_pagerank", qGraphPagerank, Some(qGraphPagerankSql)),
    QueryDef("q_graph_ppr", qGraphPpr, Some(qGraphPprSql)),
    QueryDef("q_graph_communities", qGraphCommunities, Some(qGraphCommunitiesSql)),
    QueryDef("q_graph_kcore", qGraphKcore, Some(qGraphKcoreSql)),
    QueryDef("q_range_join", qRangeJoin, Some(qRangeJoinSql)),
    QueryDef("q2_min_supplier", q2, Some(q2Sql)),
    QueryDef("q9_profit", q9, Some(q9Sql)),
    QueryDef("q11_important_share", q11, Some(q11Sql)),
    QueryDef("q12_priority_delay", q12, Some(q12Sql)),
    QueryDef("q16_supplier_cnt", q16, Some(q16Sql)),
    QueryDef("q19_disjunctive", q19, Some(q19Sql)),
    QueryDef("q20_dominant_supplier", q20, Some(q20Sql)),
    QueryDef("q21_waiting_supplier", q21, Some(q21Sql)),
    QueryDef("q7_volume_shipping", q7, Some(q7Sql)),
    QueryDef("q8_market_share", q8, Some(q8Sql)),
    QueryDef("q10_returned_items", q10, Some(q10Sql)),
    QueryDef("q15_top_supplier", q15, Some(q15Sql)),
    QueryDef("q18_large_orders", q18, Some(q18Sql)),
    QueryDef("q22_idle_customers", q22, Some(q22Sql)),
    QueryDef("q17_scalar_subquery", q17, Some(q17Sql)),
    QueryDef("q_set_ops", qSetOps, Some(qSetOpsSql)),
    QueryDef("q4_exists_agg", q4, Some(q4Sql)),
    QueryDef("q13_outer_agg", q13, Some(q13Sql)),
    QueryDef("q14_conditional_agg", q14, Some(q14Sql)),
    QueryDef("q1_agg", q1, Some(q1Sql)),
    QueryDef("q6_filter_agg", q6, Some(q6Sql)),
    QueryDef("q3_topk_join", q3, Some(q3Sql)),
    QueryDef("q5_multijoin", q5, Some(q5Sql)),
    QueryDef("q_window", qWindow, Some(qWindowSql)),
    QueryDef("q_window_sliding", qWindowSliding, Some(qWindowSlidingSql)),
    QueryDef("q_pivot", qPivot, Some(qPivotSql)),
    QueryDef("q_skew_salted", qSkewSalted, Some(qSkewSaltedSql)),
    QueryDef("q_forward_fill", qForwardFill, Some(qForwardFillSql)),
    QueryDef("q_unpivot", qUnpivot, Some(qUnpivotSql)),
    QueryDef("q_lateral_topn", qLateralTopn, Some(qLateralTopnSql)),
    QueryDef("q_json_extract", qJsonExtract, Some(qJsonExtractSql)),
    QueryDef("q_event_transitions", qEventTransitions, Some(qEventTransitionsSql)),
    QueryDef("q_session_window", qSessionWindow, Some(qSessionWindowSql)),
    QueryDef("q_semi_anti", qSemiAnti, Some(qSemiAntiSql)),
    QueryDef("q_rollup", qRollup, Some(qRollupSql)),
    QueryDef("q_grouping_sets", qGroupingSets, Some(qGroupingSetsSql)),
    QueryDef("q_events_sessionize", qSessionize, Some(qSessionizeSql)),
    QueryDef("q_events_window_agg", qEventsWindow, Some(qEventsWindowSql)),
    QueryDef("q_events_asof", qEventsAsof, Some(qEventsAsofSql)),
    QueryDef("q_events_asof_fwd", qEventsAsofFwd, Some(qEventsAsofFwdSql)),
    QueryDef("q_asof_nearest", qAsofNearest, Some(qAsofNearestSql)),
    QueryDef("q_graph_linkpred", qGraphLinkpred, Some(qGraphLinkpredSql)),
    QueryDef("mb_weak_edges", weakEdges, Some(weakEdgesSql)),
    QueryDef("mb_weak_edges_sampled", weakEdgesSampled, Some(weakEdgesSampledSql)),
    QueryDef("q_rfm_segments", qRfmSegments, Some(qRfmSegmentsSql)),
    QueryDef("q_changepoint", qChangepoint, Some(qChangepointSql)),
    QueryDef("q_events_funnel", qEventsFunnel, Some(qEventsFunnelSql)),
    QueryDef("q_events_retention", qEventsRetention, Some(qEventsRetentionSql)),
    QueryDef("q_events_sequences", qEventSequences, Some(qEventSequencesSql)),
    QueryDef("q_events_twavg", qEventsTwavg, Some(qEventsTwavgSql)),
    QueryDef("q_gaps_islands", qGapsIslands, Some(qGapsIslandsSql)),
    QueryDef("q_hierarchy", qHierarchy, Some(qHierarchySql)),
    QueryDef("q_concurrency", qConcurrency, Some(qConcurrencySql)),
    QueryDef("q_interval_coverage", qIntervalCoverage, Some(qIntervalCoverageSql)),
    QueryDef("q_percentiles", qPercentiles, Some(qPercentilesSql)))
}
