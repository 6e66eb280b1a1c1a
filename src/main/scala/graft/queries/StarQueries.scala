package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import Dsl._

/** Star-schema parity demos (SURVEY.md §2.3-§2.6 "absent in reference,
  * required of our engine": joins, grouped aggregations, windows, sorts,
  * set ops, date/math functions).
  *
  * Scale notes (100 TB design stance):
  *  - grouped aggs run as partial (map-side) + final — low-cardinality
  *    group keys make the shuffle tiny regardless of input size;
  *  - dimension joins (nation/region/part/supplier) are explicitly
  *    broadcast so the fact table never shuffles for them;
  *  - fact-fact joins (lineitem⋈orders) shuffle on the join key once and
  *    AQE handles skew; at cluster scale both sides would be bucketed by
  *    orderkey to eliminate that shuffle entirely;
  *  - windows partition by high-cardinality keys (custkey/suppkey) so
  *    state per partition stays bounded.
  */
object StarQueries extends QueryModule {

  /** TPC-H Q1-style pricing summary: scan + filter + partial/final agg. */
  private def aggPricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum2d(col("l_quantity")).as("sum_qty"),
        dsum2d(col("l_extendedprice")).as("sum_base_price"),
        dsum4d(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        davg2(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))

  private val aggPricingSummarySql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY l_returnflag, l_linestatus""".stripMargin

  /** Distinct aggregation (expand + two-phase agg under the hood). */
  private def aggDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_partkey"), col("l_suppkey")).as("n_part_supp"),
        count(lit(1)).as("n_rows"))

  private val aggDistinctSql =
    """SELECT l_returnflag,
      |  COUNT(DISTINCT l_orderkey) AS n_orders,
      |  COUNT(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
      |  COUNT(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** ROLLUP over two keys (grouping-sets expansion). */
  private def aggRollup(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum2d(col("o_totalprice")).as("total"))

  private val aggRollupSql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  /** CUBE over two keys. */
  private def aggCube(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))

  private val aggCubeSql =
    """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
      |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin

  /** Fact-fact equi-join (shuffle on orderkey; bucket-able at scale). */
  private def joinFactFact(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        dsum4(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))

  private val joinFactFactSql =
    """SELECT o_orderpriority,
      |  SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS revenue,
      |  COUNT(*) AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority""".stripMargin

  /** Broadcast dimension join: part is small → no shuffle of the fact. */
  private def joinBroadcastDim(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(dsum2d(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))

  private val joinBroadcastDimSql =
    """SELECT p_brand, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand""".stripMargin

  /** Multi-way star join: fact + 4 broadcast dims, revenue per region. */
  private def joinStarSchema(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        dsum4d(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        countDistinct(col("o_custkey")).as("n_customers"))

  private val joinStarSchemaSql =
    """SELECT r_name,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(DISTINCT o_custkey) AS n_customers
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  /** Left-semi join (EXISTS): customers having a high-value order. */
  private def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(s, dir).filter(col("o_totalprice") > 300000)
    Tables.customer(s, dir)
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_customers"))
  }

  private val joinSemiSql =
    """SELECT c_mktsegment, COUNT(*) AS n_customers
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
      |GROUP BY c_mktsegment""".stripMargin

  /** Left-anti join (NOT EXISTS): customers with no open order. */
  private def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val openOrders = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
    Tables.customer(s, dir)
      .join(openOrders, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
  }

  private val joinAntiSql =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')""".stripMargin

  /** Bloom-prefiltered semi join (runtime-filter pattern): orders with at
    * least one returned lineitem. The bloom over returned orderkeys cuts
    * the orders-side shuffle to the ~matching fraction before the exact
    * semi join clears false positives — result identical to a plain semi
    * join ([[graft.ops.BloomJoin]]). */
  private def joinBloomSemi(s: SparkSession, dir: String): DataFrame = {
    val returned = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    graft.ops.BloomJoin.semiJoin(
        Tables.orders(s, dir), returned,
        col("o_orderkey"), col("l_orderkey"), expectedItems = 200000L)
      .select(col("o_orderkey"), col("o_orderstatus"))
  }

  private val joinBloomSemiSql =
    """SELECT o_orderkey, o_orderstatus
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')""".stripMargin

  /** Bloom-shortcut anti join: orders with NO returned lineitem. Probe rows
    * the bloom rejects bypass the join shuffle entirely; only the
    * maybe-present fraction pays the exact anti join. */
  private def joinBloomAnti(s: SparkSession, dir: String): DataFrame = {
    val returned = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R").select(col("l_orderkey"))
    graft.ops.BloomJoin.antiJoin(
        Tables.orders(s, dir), returned,
        col("o_orderkey"), col("l_orderkey"), expectedItems = 200000L)
      .select(col("o_orderkey"), col("o_orderstatus"))
  }

  private val joinBloomAntiSql =
    """SELECT o_orderkey, o_orderstatus
      |FROM orders o
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
      |                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')""".stripMargin

  /** Window ranking: top-3 orders per customer (W1-family top-k). */
  /** Pivot (long→wide): document counts per language × source, with the
    * pivot columns pinned explicitly — the deterministic form (a
    * discovered-values pivot would make the schema data-dependent). */
  private def aggPivot(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy("source")
      .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
      .agg(count(lit(1)))
      .na.fill(0L)

  private val aggPivotSql = {
    val langs = Seq("de", "en", "es", "fr", "zh")
    val arms = langs.map(l =>
      s"""COUNT(*) FILTER (WHERE lang = '$l') AS "$l"""").mkString(",\n  ")
    s"SELECT source,\n  $arms\nFROM documents GROUP BY 1"
  }

  /** NTILE quartiles of order value per order-priority class. */
  private def windowNtile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), col("o_orderkey"),
        ntile(4).over(w).as("quartile"))
  }

  private val windowNtileSql =
    """SELECT o_orderpriority, o_orderkey,
      |  CAST(NTILE(4) OVER (PARTITION BY o_orderpriority
      |                      ORDER BY o_totalprice, o_orderkey) AS INT)
      |    AS quartile
      |FROM orders""".stripMargin

  private def windowRank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
  }

  private val windowRankSql =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rn
      |  FROM orders) t WHERE rn <= 3""".stripMargin

  /** Running (cumulative) sum per supplier in ship-date order. */
  private def windowRunning(s: SparkSession, dir: String): DataFrame = {
    // l_quantity closes the sort: the testdata carries duplicate
    // (orderkey, linenumber) rows at sf0.1+, and a running sum over a
    // non-total order is engine-dependent for the tied prefix — with
    // quantity as the final key, tied rows are interchangeable for the
    // cumulative sum and the result is order-independent again
    val w = Window.partitionBy(col("l_suppkey"))
      .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, dir)
      .withColumn("running_qty",
        sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double"))
      .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        col("running_qty"))
  }

  /** GROUPING SETS — the general form behind the gated rollup/cube
    * demos: an explicit, non-prefix set list ((flag, status), (flag),
    * ()) plus `grouping_id()` so consumers can tell a stored NULL from
    * an aggregated-out dimension. Both engines define the id as the
    * same aggregated-column bitmask — hash-compared, not assumed. */
  private def aggGroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("li_gsets")
    s.sql(
      """SELECT l_returnflag, l_linestatus,
        |  grouping_id() AS gid, COUNT(*) AS n,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
        |FROM li_gsets
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |                        (l_returnflag), ())""".stripMargin)
  }

  private val aggGroupingSetsSql =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
      |                        (l_returnflag), ())""".stripMargin

  /** RANGE-interval window frame (the frame class the rows-based demos
    * can't express): per user, event count and exact-decimal value sum
    * over the TRAILING HOUR of event time — frame membership is decided
    * by the ORDER-BY value (epoch seconds), not row position, so
    * same-second ties contribute symmetrically and the result is
    * order-independent without a tie-breaking sort key. */
  private def windowRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("tsec"))
      .rangeBetween(-3600L, 0L)
    Tables.events(s, dir)
      .withColumn("tsec", expr("unix_micros(ts) div 1000000"))
      .withColumn("hour_events", count(lit(1)).over(w))
      .withColumn("hour_value",
        dsum2(col("value")).over(w).cast("double"))
      .select("event_id", "user_id", "tsec", "hour_events", "hour_value")
  }

  private val windowRangeFrameSql =
    """SELECT event_id, user_id, epoch_us(ts) // 1000000 AS tsec,
      |  COUNT(*) OVER w AS hour_events,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS hour_value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts) // 1000000
      |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin

  private val windowRunningSql =
    """SELECT l_suppkey, l_orderkey, l_linenumber,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) OVER (
      |    PARTITION BY l_suppkey
      |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
      |FROM lineitem""".stripMargin

  /** lag/lead: gap in days between consecutive orders of a customer. */
  private def windowLag(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, dir)
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .withColumn("gap_days",
        datediff(col("o_orderdate").cast("date"), col("prev_date").cast("date")))
      .select(col("o_custkey"), col("o_orderkey"), col("gap_days"))
  }

  private val windowLagSql =
    """SELECT o_custkey, o_orderkey,
      |  CAST(DATEDIFF('day',
      |    CAST(LAG(o_orderdate, 1) OVER (PARTITION BY o_custkey
      |      ORDER BY o_orderdate, o_orderkey) AS DATE),
      |    CAST(o_orderdate AS DATE)) AS INT) AS gap_days
      |FROM orders""".stripMargin

  /** Global deterministic top-k (order + tiebreak + limit). */
  private def sortTopK(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .limit(25)

  private val sortTopKSql =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 25""".stripMargin

  /** UNION (distinct) of two key sets. */
  private def setUnion(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir).filter(col("o_totalprice") > 350000)
      .select(col("o_custkey").as("custkey"))
    val b = Tables.customer(s, dir).filter(col("c_acctbal") > 9000)
      .select(col("c_custkey").as("custkey"))
    a.union(b).distinct()
  }

  private val setUnionSql =
    """SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 350000
      |UNION
      |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 9000""".stripMargin

  /** INTERSECT of two key sets. */
  private def setIntersect(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    val b = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))
    a.intersect(b)
  }

  private val setIntersectSql =
    """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin

  /** EXCEPT of two key sets. */
  private def setExcept(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.customer(s, dir).select(col("c_custkey").as("custkey"))
    val b = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("custkey"))
    a.except(b)
  }

  private val setExceptSql =
    """SELECT c_custkey AS custkey FROM customer
      |EXCEPT
      |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin

  /** Multiset variants: EXCEPT ALL / INTERSECT ALL keep duplicate
    * cardinality (a customer with 3 orders minus 1 return leaves 2),
    * where the distinct forms collapse it — both native operators, both
    * planned as counted anti/semi aggregation, summarized to one row per
    * variant so the cardinality difference itself is what's gated. */
  private def setMultiset(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir).select(col("o_custkey").as("custkey"))
    val b = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("custkey"))
    a.exceptAll(b).agg(count(lit(1)).as("n"), sum("custkey").as("key_sum"))
      .withColumn("op", lit("except_all"))
      .unionByName(
        a.intersectAll(b)
          .agg(count(lit(1)).as("n"), sum("custkey").as("key_sum"))
          .withColumn("op", lit("intersect_all")))
      .select("op", "n", "key_sum")
  }

  private val setMultisetSql =
    """WITH a AS (SELECT o_custkey AS custkey FROM orders),
      |b AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'),
      |ea AS (SELECT custkey FROM a EXCEPT ALL SELECT custkey FROM b),
      |ia AS (SELECT custkey FROM a INTERSECT ALL SELECT custkey FROM b)
      |SELECT 'except_all' AS op, COUNT(*) AS n,
      |  CAST(SUM(custkey) AS BIGINT) AS key_sum FROM ea
      |UNION ALL
      |SELECT 'intersect_all', COUNT(*),
      |  CAST(SUM(custkey) AS BIGINT) FROM ia""".stripMargin

  /** Date bucketing: monthly revenue (date_trunc + exact decimal sum). */
  private def dateTruncRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(date_trunc("month", col("l_shipdate")).as("ship_month"))
      .agg(
        dsum4d(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))

  private val dateTruncRevenueSql =
    """SELECT DATE_TRUNC('month', l_shipdate) AS ship_month,
      |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Conditional aggregation: CASE WHEN inside SUM (A2-style weighting). */
  private def conditionalAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_linestatus"))
      .agg(
        dsum2(when(col("l_returnflag") === "R", col("l_extendedprice")).otherwise(0))
          .as("returned_price"),
        sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("n_discounted"),
        count(lit(1)).as("n"))

  private val conditionalAggSql =
    """SELECT l_linestatus,
      |  SUM(CAST(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0 END
      |      AS DECIMAL(18,2))) AS returned_price,
      |  CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_discounted,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY l_linestatus""".stripMargin

  /** Grouped-top-k via min_by/arg-min style: cheapest part per brand. */
  private def aggMinBy(s: SparkSession, dir: String): DataFrame =
    Tables.part(s, dir)
      .groupBy(col("p_brand"))
      .agg(
        min_by(col("p_name"), col("p_retailprice") * 1000000 + col("p_partkey"))
          .as("cheapest_part"),
        min(col("p_retailprice")).as("min_price"))

  private val aggMinBySql =
    """SELECT p_brand,
      |  MIN_BY(p_name, p_retailprice * 1000000 + p_partkey) AS cheapest_part,
      |  MIN(p_retailprice) AS min_price
      |FROM part GROUP BY p_brand""".stripMargin

  /** Custom typed Aggregator (UDAF extension point): one-pass
    * count/sum/min/max profile with exact scaled-cents sum. */
  private def aggTypedProfile(s: SparkSession, dir: String): DataFrame = {
    val profile = udaf(new graft.functions.Aggregators.NumericProfile)
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(profile(col("o_totalprice")).as("p"))
      .select(col("o_orderstatus"), col("p.n").as("n"),
        col("p.sum").cast("double").as("total"),
        col("p.min").as("min_price"), col("p.max").as("max_price"))
  }

  private val aggTypedProfileSql =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price
      |FROM orders GROUP BY 1""".stripMargin

  /** W1 via the custom TopKPerKey physical operator (bounded heap, no
    * sort) — must agree with the row_number window oracle. */
  private def windowTopKCustomOp(s: SparkSession, dir: String): DataFrame = {
    import graft.plans.GraftOps
    GraftOps.topKPerKey(Tables.orders(s, dir),
      Seq(col("o_custkey")),
      Seq(col("o_totalprice").desc, col("o_orderkey")), 2)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
  }

  private val windowTopKCustomOpSql =
    """SELECT o_custkey, o_orderkey, o_totalprice FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) t WHERE rn <= 2""".stripMargin

  /** Approximate sketches (HLL++): a foreign engine cannot hash-match the
    * sketch VALUE (different sketch internals by design), so the emitted
    * columns are the engine-exact ones — the exact distinct count and a
    * `within_bound` verdict comparing the sketch against it in-query.
    * The oracle recomputes the exact count and expects the verdict TRUE,
    * which puts the sketch's error contract itself on the hash gate: an
    * out-of-bound estimate flips the boolean and the compare fails. */
  private def aggApproxDistinct(s: SparkSession, dir: String): DataFrame =
    // Mixing countDistinct with the HLL sketch in ONE aggregate plans
    // the two-phase distinct shape whose FIRST exchange carries the
    // partial HLL buffer — 410 longs — per distinct (flag, orderkey)
    // pair (~3 KB/row × every order, measured round 19 as the whole
    // query's cost; guide §2.3 shuffle-fewer-bytes). HLL registers are
    // duplicate-insensitive (max over hashes), so BOTH aggregates
    // compute identically over the distinct pairs: dedup the narrow
    // pair first, then one plain aggregate — the exchange carries
    // 2 columns per pair plus 3 final HLL buffers. count(l_orderkey)
    // over the distinct pairs IS countDistinct, null-for-null (a
    // group of only-null keys still surfaces with 0, as before).
    Tables.spread(Tables.lineitem(s, dir))
      .select(col("l_returnflag"), col("l_orderkey"))
      .distinct()
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx_orders"),
        count(col("l_orderkey")).as("exact_orders"))
      .withColumn("within_bound",
        abs(col("approx_orders") - col("exact_orders")).cast("double") /
          col("exact_orders") < 0.05)
      .select("l_returnflag", "exact_orders", "within_bound")

  private val aggApproxDistinctSql =
    """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders,
      |  true AS within_bound
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Two-phase salted aggregation over the 3-value (maximally skewed)
    * return-flag key: salt → partial per (key, salt) → merge per key.
    * Decimal partials make the result bit-identical to the unsalted
    * GROUP BY the oracle runs — proving the skew-buster is a pure
    * plan-shape change. At scale this is the manual fallback when AQE's
    * skew handling can't apply (e.g. aggregation, not join). */
  private def aggSaltedSkew(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Tables.lineitem(s, dir)
      .withColumn("_salt", pmod(xxhash64(col("l_orderkey")), lit(16)))
      .groupBy(col("l_returnflag"), col("_salt"))
      .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).as("pq"),
        count(lit(1)).as("pn"))
      .groupBy("l_returnflag")
      .agg(sum("pq").cast("double").as("sum_qty"), sum("pn").as("n"))
  }

  private val aggSaltedSkewSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  COUNT(*) AS n
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Unpivot/melt parity: the wide per-flag metric row reshapes to long
    * (flag, metric, value) via `Dataset.unpivot` — pure metadata fan-out
    * after the aggregation, no extra shuffle. */
  private def aggUnpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(dsum2d(col("l_quantity")).as("sum_qty"),
        dsum2d(col("l_extendedprice")).as("sum_price"),
        dsum2d(col("l_discount")).as("sum_disc"))
    wide.unpivot(Array(col("l_returnflag")),
      Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
      "metric", "value")
  }

  private val aggUnpivotSql =
    """WITH wide AS (
      |  SELECT l_returnflag,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
      |    CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc
      |  FROM lineitem GROUP BY 1)
      |SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM wide
      |UNION ALL
      |SELECT l_returnflag, 'sum_price', sum_price FROM wide
      |UNION ALL
      |SELECT l_returnflag, 'sum_disc', sum_disc FROM wide""".stripMargin

  /** Pearson correlation + OLS slope from exact decimal co-moments:
    * built-in `corr()` merges float partials shuffle-order-dependently
    * (hash-unstable across engines), so the five sums accumulate as
    * decimals — exact, order-free — and the closed forms evaluate in
    * IEEE doubles identically on both engines. Same partial+final
    * aggregation shape as any grouped sum at scale. */
  private def aggCorr(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // The whole comoment algebra runs in EXACT integers (cents-scaled
    // longs summed into decimals; n·Σxy − Σx·Σy etc. in DECIMAL(38,0),
    // runtime-checked, values ≤ ~1e24) and doubles appear only for the
    // final division and sqrt — two IEEE ops over identical exact
    // inputs, so the result is bit-equal across engines AT ANY SCALE.
    // (The previous shape cast each sum to double first; at 10× data
    // the covariance terms exceed 2^53 and the five casts + ten float
    // ops drifted 1 ulp between engines.) Correlation and slope are
    // scale-invariant, so the cents scaling cancels exactly.
    val qc = (col("l_quantity").cast(DecimalType(18, 2)) * 100)
      .cast(DecimalType(18, 0))
    val pc = (col("l_extendedprice").cast(DecimalType(18, 2)) * 100)
      .cast(DecimalType(18, 0))
    val cents = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), qc.as("qc"), pc.as("pc"))
    val m = cents.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(col("qc")).as("a"), sum(col("pc")).as("b"),
        sum((col("qc") * col("pc")).cast(DecimalType(28, 0))).as("c"),
        sum((col("qc") * col("qc")).cast(DecimalType(28, 0))).as("d"),
        sum((col("pc") * col("pc")).cast(DecimalType(28, 0))).as("e"))
    val nDec = col("n").cast(DecimalType(10, 0))
    val cov = (nDec * col("c") - col("a") * col("b")).cast("double")
    val vx = (nDec * col("d") - col("a") * col("a")).cast("double")
    val vy = (nDec * col("e") - col("b") * col("b")).cast("double")
    m.select(col("l_returnflag"), col("n"),
      (cov / sqrt(vx * vy)).as("corr_qty_price"),
      (cov / vx).as("slope"))
  }

  private val aggCorrSql =
    """WITH r AS (
      |  SELECT l_returnflag,
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS HUGEINT) AS qc,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS HUGEINT) AS pc
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    SUM(qc) AS a, SUM(pc) AS b, SUM(qc * pc) AS c,
      |    SUM(qc * qc) AS d, SUM(pc * pc) AS e
      |  FROM r GROUP BY 1)
      |SELECT l_returnflag, n,
      |  CAST(n * c - a * b AS DOUBLE) /
      |    sqrt(CAST(n * d - a * a AS DOUBLE) * CAST(n * e - b * b AS DOUBLE))
      |    AS corr_qty_price,
      |  CAST(n * c - a * b AS DOUBLE) / CAST(n * d - a * a AS DOUBLE) AS slope
      |FROM m""".stripMargin

  /** Salted replicate join over a deliberately skewed key (80% of fact
    * rows share key 1): the fact side salts on a high-cardinality column,
    * the dim side replicates ×16 with one row per salt, and the join key
    * becomes (k, salt) — the hot key's rows now land on 16 tasks instead
    * of one. The manual fallback when AQE skew-join can't apply (first
    * shuffle of a multi-stage plan, or a non-AQE engine); bit-identical
    * to the unsalted join the oracle runs. */
  private def joinSaltedSkew(s: SparkSession, dir: String): DataFrame = {
    val salts = 16
    val fact = Tables.lineitem(s, dir).select(
      when(col("l_orderkey") % 10 < 8, lit(1L))
        .otherwise(col("l_orderkey") % 100).as("k"),
      col("l_quantity"),
      pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salts))
        .as("_salt"))
    val dim = s.range(100).select(col("id").as("k"),
        concat(lit("grp-"), col("id") % 7).as("grp"))
      .withColumn("_salt", explode(array((0 until salts).map(lit(_)): _*)))
    fact.join(dim, Seq("k", "_salt"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), dsum2d(col("l_quantity")).as("qty"))
  }

  private val joinSaltedSkewSql =
    """WITH fact AS (
      |  SELECT CASE WHEN l_orderkey % 10 < 8 THEN 1
      |              ELSE l_orderkey % 100 END AS k,
      |    l_quantity
      |  FROM lineitem),
      |dim AS (
      |  SELECT i AS k, 'grp-' || (i % 7) AS grp
      |  FROM generate_series(0, 99) AS t(i))
      |SELECT grp, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM fact JOIN dim USING (k)
      |GROUP BY 1""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_salted_skew"     -> aggSaltedSkew _,
    "join_salted_skew"    -> joinSaltedSkew _,
    "agg_corr"            -> aggCorr _,
    "agg_unpivot"         -> aggUnpivot _,
    "agg_approx_distinct" -> aggApproxDistinct _,
    "w1_topk_custom_op"   -> windowTopKCustomOp _,
    "agg_typed_profile"   -> aggTypedProfile _,
    "agg_pricing_summary" -> aggPricingSummary _,
    "agg_distinct"        -> aggDistinct _,
    "agg_rollup"          -> aggRollup _,
    "agg_cube"            -> aggCube _,
    "agg_grouping_sets"   -> aggGroupingSets _,
    "agg_conditional"     -> conditionalAgg _,
    "agg_min_by"          -> aggMinBy _,
    "join_fact_fact"      -> joinFactFact _,
    "join_broadcast_dim"  -> joinBroadcastDim _,
    "join_star_schema"    -> joinStarSchema _,
    "join_semi"           -> joinSemi _,
    "join_anti"           -> joinAnti _,
    "join_bloom_semi"     -> joinBloomSemi _,
    "join_bloom_anti"     -> joinBloomAnti _,
    "agg_pivot"           -> aggPivot _,
    "window_ntile"        -> windowNtile _,
    "window_rank"         -> windowRank _,
    "window_running"      -> windowRunning _,
    "window_range_frame"  -> windowRangeFrame _,
    "window_lag"          -> windowLag _,
    "sort_topk"           -> sortTopK _,
    "set_union"           -> setUnion _,
    "set_intersect"       -> setIntersect _,
    "set_except"          -> setExcept _,
    "set_multiset"        -> setMultiset _,
    "date_trunc_revenue"  -> dateTruncRevenue _)

  def oracles: Map[String, String] = Map(
    "agg_approx_distinct" -> aggApproxDistinctSql,
    "agg_salted_skew"     -> aggSaltedSkewSql,
    "join_salted_skew"    -> joinSaltedSkewSql,
    "agg_corr"            -> aggCorrSql,
    "agg_unpivot"         -> aggUnpivotSql,
    "w1_topk_custom_op"   -> windowTopKCustomOpSql,
    "agg_typed_profile"   -> aggTypedProfileSql,
    "agg_pricing_summary" -> aggPricingSummarySql,
    "agg_distinct"        -> aggDistinctSql,
    "agg_rollup"          -> aggRollupSql,
    "agg_cube"            -> aggCubeSql,
    "agg_grouping_sets"   -> aggGroupingSetsSql,
    "agg_conditional"     -> conditionalAggSql,
    "agg_min_by"          -> aggMinBySql,
    "join_fact_fact"      -> joinFactFactSql,
    "join_broadcast_dim"  -> joinBroadcastDimSql,
    "join_star_schema"    -> joinStarSchemaSql,
    "join_semi"           -> joinSemiSql,
    "join_anti"           -> joinAntiSql,
    "join_bloom_semi"     -> joinBloomSemiSql,
    "join_bloom_anti"     -> joinBloomAntiSql,
    "agg_pivot"           -> aggPivotSql,
    "window_ntile"        -> windowNtileSql,
    "window_rank"         -> windowRankSql,
    "window_running"      -> windowRunningSql,
    "window_range_frame"  -> windowRangeFrameSql,
    "window_lag"          -> windowLagSql,
    "sort_topk"           -> sortTopKSql,
    "set_union"           -> setUnionSql,
    "set_intersect"       -> setIntersectSql,
    "set_except"          -> setExceptSql,
    "set_multiset"        -> setMultisetSql,
    "date_trunc_revenue"  -> dateTruncRevenueSql)
}
