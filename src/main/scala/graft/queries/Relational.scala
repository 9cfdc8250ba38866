package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.{Exact, Tables}

/** Batch relational core — the declared Table-API/SQL surface of the reference
  * (`/root/reference/study/pom.xml:147-166`, flink-table-planner et al.)
  * re-expressed as declarative Spark DataFrame plans so Catalyst does the
  * optimizing (pushdown, pruning, join selection, AQE).
  *
  * Conventions shared with the DuckDB oracle (driver correctness gate):
  *  - every query ends in a deterministic total-order `orderBy`;
  *  - double aggregates are wrapped in `round(_, n)` so ulp-level differences
  *    in summation order between engines cannot flip the hash; money sums
  *    and integer ratios go through `graft.Exact`, which makes them exact;
  *  - every computed column is aliased identically in the Spark plan and the
  *    oracle SQL.
  *
  * Scale notes are per-query in the Scaladoc: the tiny dimensions
  * (region 5 / nation 25 / supplier 10 rows per sf0.001, FIXTURES.md) are
  * broadcast explicitly; fact-fact joins shuffle on their join keys, which is
  * the partitioning a 1000-executor cluster would want.
  */
object Relational {

  /** Flagship — the reference's own computation (word count,
    * `/root/reference/study/src/main/scala/group/xc/flink/stream/demo1/StreamSocket.scala:15`)
    * on bounded data: scan → split → explode → hash-shuffle on word → count → sort.
    * At 100 TB the shuffle key (word) is low-cardinality and skewed, but partial
    * aggregation (map-side combine, automatic in HashAggregateExec) reduces the
    * shuffle to |vocab| rows per partition, so the plan is scale-safe.
    */
  def wordCount(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.wordCount(Tables.documents(s, d), "text")
      .orderBy(col("cnt").desc, col("word").asc)

  /** TPC-H Q1 shape: scan-heavy single-pass aggregation over the fact table.
    * Filter + projection reach the parquet scan (PushedFilters/ReadSchema);
    * one shuffle on the 2-column grouping key; partial agg keeps it tiny. */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("2001-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        Exact.sumRound2(Exact.dec(col("l_extendedprice"))).as("sum_base_price"),
        Exact.sumRound2(Exact.dec(col("l_extendedprice"))
          * Exact.dec(lit(1) - col("l_discount"))).as("sum_disc_price"),
        Exact.sumRound2(Exact.dec(col("l_extendedprice"))
          * Exact.dec((lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        // exact decimal sum cast to double BEFORE the divide: both engines
        // then perform the identical IEEE division → identical rounding input
        round(sum(Exact.dec(col("l_extendedprice"))).cast("double") / count(lit(1)), 4)
          .as("avg_price"),
        round(sum(Exact.dec(col("l_discount"))).cast("double") / count(lit(1)), 4)
          .as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** TPC-H Q3 shape: selective dimension (customer, broadcast) → orders →
    * lineitem, then top-10 unshipped orders by revenue. The only real shuffle
    * is orders⋈lineitem on orderkey; customer fits in a broadcast at any SF
    * where it's a true dimension. */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord  = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
    val li   = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1998-01-01"))
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(Exact.sumRound2(Exact.dec(col("l_extendedprice"))
        * Exact.dec(lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** TPC-H Q5 shape: 6-way star join. region/nation/supplier/customer are
    * broadcast; the fact-side shuffles are lineitem⋈orders (orderkey) and the
    * re-key to custkey — exactly the two shuffles a distributed plan needs. */
  def q5LocalSupplier(s: SparkSession, d: String): DataFrame = {
    val r   = broadcast(Tables.region(s, d))
    val n   = broadcast(Tables.nation(s, d))
    val sup = broadcast(Tables.supplier(s, d))
    val c   = Tables.customer(s, d)
    val o   = Tables.orders(s, d).filter(col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1999-01-01"))
    val li  = Tables.lineitem(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(sup, li("l_suppkey") === sup("s_suppkey"))
      .join(c, o("o_custkey") === c("c_custkey") && c("c_nationkey") === sup("s_nationkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(Exact.sumRound2(Exact.dec(col("l_extendedprice"))
        * Exact.dec(lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  /** Left outer join: every order keeps its customer attributes (or null). */
  def joinLeft(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"), "left")
      .select(o("o_orderkey"), o("o_custkey"), c("c_name"), c("c_mktsegment"))
      .orderBy("o_orderkey")
  }

  /** Full outer join of two aggregates — exercises null-producing sides.
    * Both inputs are one-shuffle aggregates; join key is tiny (25 nations). */
  def joinFullOuter(s: SparkSession, d: String): DataFrame = {
    val byNationC = Tables.customer(s, d).groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_customers"))
    val byNationS = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("n_suppliers"))
    byNationC.join(byNationS, Seq("nationkey"), "full_outer")
      .select(col("nationkey"), col("n_customers"), col("n_suppliers"))
      .orderBy(col("nationkey").asc_nulls_first)
  }

  /** Left-semi join (EXISTS): customers that have at least one order. */
  def joinSemi(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** Left-anti join (NOT EXISTS): customers with no order since 2001. */
  def joinAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_orderdate") >= lit("2001-01-01"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** Cross join of the two tiny dimensions (5 × 25 rows) — semantics coverage;
    * at scale a cross join is only ever valid against broadcast-sized inputs. */
  def joinCross(s: SparkSession, d: String): DataFrame =
    Tables.region(s, d).crossJoin(broadcast(Tables.nation(s, d)))
      .select("r_regionkey", "r_name", "n_nationkey", "n_name")
      .orderBy("r_regionkey", "n_nationkey")

  /** Theta (non-equi) join: equi part on nationkey keeps the plan a hash join
    * with the range predicate as a post-join filter — the scalable shape for
    * band/range joins (never a pure cartesian). */
  def joinRange(s: SparkSession, d: String): DataFrame = {
    val sup = broadcast(Tables.supplier(s, d))
    val c = Tables.customer(s, d)
    c.join(sup, c("c_nationkey") === sup("s_nationkey") && c("c_acctbal") > sup("s_acctbal"))
      .groupBy("s_suppkey", "s_name")
      .agg(count(lit(1)).as("n_richer_customers"),
           round(avg(col("c_acctbal") - col("s_acctbal")), 4).as("avg_gap"))
      .orderBy("s_suppkey")
  }

  /** Aggregate family over orders: count/min/max/avg/sum + count distinct. */
  def aggStats(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        min("o_totalprice").as("min_price"),
        max("o_totalprice").as("max_price"),
        round(sum(Exact.dec(col("o_totalprice"))).cast("double") / count(lit(1)), 4)
          .as("avg_price"),
        Exact.sumRound2(Exact.dec(col("o_totalprice"))).as("sum_price"))
      .orderBy("o_orderstatus")

  /** Global multi-column distinct counts (one row). Two count-distincts force
    * an Expand — fine: each is a single shuffle on the counted key. */
  def distinctCounts(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  /** ROLLUP: hierarchical subtotals (status → priority → grand total). */
  def rollupSales(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Exact.sumRound2(Exact.dec(col("o_totalprice"))).as("total"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)

  /** CUBE: all grouping-set combinations of (returnflag, linestatus). */
  def cubeSales(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** Explicit GROUPING SETS via SQL (the Table-API surface D7 includes the SQL
    * entry point, so the engine exposes it through spark.sql too). */
  def groupingSets(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_gs")
    s.sql(
      """SELECT o_orderstatus, o_orderpriority, count(1) AS n
        |FROM graft_orders_gs
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST
        |""".stripMargin)
  }

  /** Window-function family: ranking, offsets, running totals. The partition
    * key (mktsegment) is the shuffle key; within-partition total order
    * (acctbal desc, custkey) makes lag/lead/row_number deterministic. */
  def windowFuncs(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    Tables.customer(s, d)
      .select(
        col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        lag("c_acctbal", 1).over(w).as("prev_bal"),
        lead("c_acctbal", 1).over(w).as("next_bal"),
        round(sum("c_acctbal").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2).as("running_bal"))
      .orderBy("c_mktsegment", "rn")
  }

  /** Per-group top-k (k=3) via row_number + filter — the scalable top-k idiom
    * (no global sort; one shuffle on the group key). */
  def topkPerGroup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").desc, col("p_partkey").asc)
    Tables.part(s, d)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("p_brand", "rn", "p_partkey", "p_retailprice")
      .orderBy("p_brand", "rn")
  }

  /** Global top-N: orderBy+limit → Spark plans TakeOrderedAndProject, which is
    * a per-partition top-N + driver merge (no full sort, no full shuffle). */
  def orderLimit(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)

  /** UNION (distinct) of two predicate-defined customer sets. */
  def setUnion(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      .union(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
      .distinct()
      .orderBy("c_custkey")
  }

  /** INTERSECT of the same two sets. */
  def setIntersect(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      .intersect(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
      .orderBy("c_custkey")
  }

  /** EXCEPT of the same two sets. */
  def setExcept(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      .except(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
      .orderBy("c_custkey")
  }

  /** DISTINCT (dropDuplicates) over a projection. */
  def distinctPairs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select("l_returnflag", "l_linestatus")
      .dropDuplicates()
      .orderBy("l_returnflag", "l_linestatus")

  /** Scalar string-function surface (lower/upper/substring/concat/replace/
    * split_part/regexp), evaluated inside whole-stage codegen. */
  def stringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        lower(substring(col("text"), 1, 20)).as("head_lower"),
        upper(col("lang")).as("lang_upper"),
        length(col("text")).as("text_len"),
        concat(col("source"), lit("/"), col("lang")).as("src_lang"),
        regexp_replace(substring(col("text"), 1, 40), " ", "_").as("head_snake"),
        expr("split_part(text, ' ', 1)").as("first_word"),
        substring(col("text"), 1, 1).as("first_char"))
      .orderBy("doc_id")

  /** Predicate surface: LIKE / IN / BETWEEN / CASE WHEN / null-safe equality. */
  def predicateFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .filter(col("p_size").between(10, 40))
      .filter(col("p_type").isin("ECONOMY", "PROMO", "STANDARD") || col("p_type").like("%AR%"))
      .select(
        col("p_partkey"), col("p_brand"), col("p_type"), col("p_size"),
        when(col("p_size") < 20, lit("small"))
          .when(col("p_size") < 35, lit("medium"))
          .otherwise(lit("large")).as("size_class"),
        nullif(col("p_size").cast("int"), lit(25)).as("size_or_null"),
        (nullif(col("p_size").cast("int"), lit(25)) <=> lit(null).cast("int")).as("is_25"))
      .orderBy("p_partkey")

  /** Date/time function surface over orders (month truncation, extract). */
  def dateFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy(
        date_trunc("month", col("o_orderdate")).as("order_month"),
        year(col("o_orderdate")).cast("int").as("order_year"))
      .agg(count(lit(1)).as("n"),
        Exact.sumRound2(Exact.dec(col("o_totalprice"))).as("total"))
      .orderBy("order_month")

  /** Math-function surface (abs/ceil/floor/sqrt/ln/pow/mod), row-level. */
  def mathFuncs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_orderkey") <= 100)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        abs(col("l_quantity") - 25).as("abs_dev"),
        ceil(col("l_extendedprice")).cast("long").as("price_ceil"),
        floor(col("l_extendedprice")).cast("long").as("price_floor"),
        round(sqrt(col("l_quantity")), 6).as("qty_sqrt"),
        round(log(col("l_extendedprice")), 6).as("price_ln"),
        round(pow(col("l_discount") + 1, 2), 6).as("disc_pow"),
        (col("l_orderkey") % 7).as("key_mod"))
      .orderBy("l_orderkey", "l_linenumber")

  /** JSON surface (D8): extract typed values from the events.props JSON blob. */
  def jsonFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("k").asc_nulls_first)

  /** Top customers by total order value — customer⋈orders aggregate + top-20.
    * orders shuffles on custkey once; customer side broadcasts. */
  def topCustomers(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    o.groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        Exact.sumRound2(Exact.dec(col("o_totalprice"))).as("revenue"))
      .join(broadcast(c), col("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("n_orders"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  /** Distribution window functions: ntile / percent_rank / cume_dist /
    * first_value / nth_value over a total within-partition order. */
  def windowDistribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("p_brand").orderBy(col("p_retailprice").asc, col("p_partkey").asc)
    Tables.part(s, d)
      .select(
        col("p_brand"), col("p_partkey"), col("p_retailprice"),
        ntile(4).over(w).as("quartile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cume"),
        first_value(col("p_partkey")).over(w).as("cheapest_key"),
        nth_value(col("p_partkey"), 2).over(w).as("second_key"))
      .orderBy("p_brand", "p_partkey")
  }

  /** Array set operations: overlap between the first and second 10-token
    * windows of each document (intersect as sets; sizes compared). */
  def arraySetOps(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .withColumn("toks", split(col("text"), " ", -1))
      .select(
        col("doc_id"),
        expr("array_distinct(slice(toks, 1, 10))").as("head_set"),
        expr("array_distinct(slice(toks, 11, 10))").as("next_set"))
      .select(
        col("doc_id"),
        size(col("head_set")).as("n_head"),
        size(col("next_set")).as("n_next"),
        size(expr("array_intersect(head_set, next_set)")).as("n_common"),
        size(expr("array_union(head_set, next_set)")).as("n_union"),
        size(expr("array_except(head_set, next_set)")).as("n_only_head"))
      .orderBy("doc_id")

  /** Ordered-set aggregates: exact interpolated percentiles (continuous
    * quantile — at 100 TB you'd switch to approx_percentile's fixed-size
    * sketch; the exact form is the correctness baseline). */
  def percentiles(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(expr("percentile(o_totalprice, 0.99)"), 4).as("p99"))
      .orderBy("o_orderstatus")

  /** Statistical aggregates: stddev/variance/correlation/covariance. */
  def statsAggs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("qty_stddev"),
        round(var_samp(col("l_quantity")), 4).as("qty_var"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("qty_price_corr"),
        round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("qty_disc_covar"))
      .orderBy("l_returnflag")

  /** Grouped collection: per-segment sorted key list via
    * array_sort(collect_list) — joined to a string so the comparison is
    * representation-stable across engines. */
  def groupedArrays(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_acctbal") > 9000)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        array_join(array_sort(collect_list(col("c_custkey"))), ",").as("custkeys"))
      .orderBy("c_mktsegment")

  /** Date arithmetic: month-end, month addition, day difference — on DATE
    * values derived from the NTZ order timestamps. */
  def dateArith(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        col("o_orderdate").cast("date").as("od"),
        last_day(col("o_orderdate").cast("date")).as("month_end"),
        add_months(col("o_orderdate").cast("date"), 3).as("plus3m"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_2002"))
      .orderBy("o_orderkey")

  /** Pivot: order counts per priority pivoted on status — groupBy().pivot()
    * with an explicit value list (at scale the value list must be explicit:
    * an implicit pivot scans the data twice to discover values). */
  def pivotStatus(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .count()
      .na.fill(0L)
      .orderBy("o_orderpriority")

  /** RANGE-frame window aggregate: for each customer, how many peers in the
    * same segment sit within ±500 of their balance (value-based frame, vs the
    * row-based frames in windowFuncs). */
  def windowRange(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .select(col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
        expr(
          """count(1) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal
            |  RANGE BETWEEN 500.0 PRECEDING AND 500.0 FOLLOWING)""".stripMargin)
          .as("peers_within_500"))
      .orderBy("c_mktsegment", "c_custkey")

  /** TPC-H Q6 shape: pure filter + global aggregate — the fully-pushed-down
    * scan benchmark (all three predicates reach the parquet reader). */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01"))
      .filter(col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .agg(Exact.sumRound2(Exact.dec(col("l_extendedprice"))
          * Exact.dec(col("l_discount"))).as("revenue"),
        count(lit(1)).as("n"))

  /** Map-function surface: parse the JSON props into a MAP column, then key
    * lookup / key-set ops — MapType as a first-class column type. */
  def mapFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("m", expr("from_json(props, 'map<string,int>')"))
      .select(
        col("event_id"),
        expr("m['k']").as("k_val"),
        size(map_keys(col("m"))).as("n_keys"),
        array_join(map_keys(col("m")), ",").as("key_list"))
      .orderBy("event_id")

  /** Skew-safe exact count-distinct: two-stage aggregation (group by
    * (key, value) first, then count per key). Plain count(DISTINCT) funnels
    * each key's whole value set through one reducer — the classic skew
    * bottleneck when one key dominates; the two-stage shape spreads stage 1
    * across (key, value) space, which is exactly the manual "salting" cure
    * (the distinct value IS the salt). Results identical. */
  def skewSafeDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select("event_type", "user_id").distinct()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")

  /** Correlated scalar subquery (decorrelated by Catalyst into a join):
    * orders priced above their own customer's average. */
  def subqueryCorrelated(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_sq")
    s.sql(
      """SELECT o_custkey, count(1) AS n_above,
        |  round(max(o_totalprice), 2) AS max_price
        |FROM graft_orders_sq o1
        |WHERE o_totalprice > (SELECT avg(o_totalprice) * 1.5
        |                      FROM graft_orders_sq o2
        |                      WHERE o2.o_custkey = o1.o_custkey)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
  }

  /** Array-function surface (size/slice/element_at + higher-order
    * transform/aggregate/exists) over the embedding vectors — all codegen'd
    * row-local compute. */
  def arrayFuncs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(
        col("vec_id"),
        size(col("embedding")).as("n_dims"),
        round(expr(
          "aggregate(transform(slice(embedding, 1, 3), x -> CAST(x AS DOUBLE)), 0D, (s, x) -> s + x)"),
          6).as("head3_sum"),
        expr("exists(embedding, x -> CAST(x AS DOUBLE) > 0.2D)").as("has_big"),
        round(array_max(col("embedding")).cast("double"), 4).as("max_v"),
        round(element_at(col("embedding"), 64).cast("double"), 4).as("last_v"))
      .orderBy("vec_id")

  /** HLL approximate distinct. At 100 TB this replaces exact
    * count-distinct wherever a ±2% answer is acceptable: no Expand,
    * single pass, fixed-size state. The sketch differs from DuckDB's, so
    * the ESTIMATE has no cross-engine twin — instead the query emits the
    * exact distinct count alongside and asserts the HLL estimate lands
    * within 5% relative error AS A COLUMN (`within_5pct`, integer compare
    * 20·|est−exact| ≤ exact); the oracle computes the exact side and
    * expects TRUE, turning the former rows-only row into a bounded-error
    * hash check. */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_orderkey"), 0.01).as("__approx"),
        countDistinct(col("l_orderkey")).as("exact_orders"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("exact_orders"), col("n"),
        (abs(col("__approx") - col("exact_orders")) * 20 <= col("exact_orders"))
          .as("within_5pct"))
      .orderBy("l_returnflag")

  /** MERGEABLE approximate-quantile sketch (percentile_approx — Spark's
    * Greenwald-Khanna variant) beside the exact reference: at 100 TB the
    * exact per-group percentile needs the group's full value multiset in
    * one place, while the sketch is one pass with O(accuracy) state that
    * MERGES across partitions — the only quantile path that scales. Same
    * bounded-error-oracle convention as approx_distinct: the row emits the
    * exact quantiles plus a `within_2pct` column asserting every sketch
    * estimate lands within 2% relative value error (accuracy 10⁴ ⇒ rank
    * error ≤ 10⁻⁴, far inside 2% in value on this price distribution);
    * the oracle computes the exact side and expects TRUE. */
  def sketchQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile_approx(l_extendedprice, array(0.25D, 0.5D, 0.75D), 10000)")
          .as("__aq"),
        expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))").as("__xq"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("n"),
        round(col("__xq").getItem(0), 4).as("q25"),
        round(col("__xq").getItem(1), 4).as("q50"),
        round(col("__xq").getItem(2), 4).as("q75"),
        (abs(col("__aq").getItem(0) - col("__xq").getItem(0)) * 50.0 <= col("__xq").getItem(0) &&
         abs(col("__aq").getItem(1) - col("__xq").getItem(1)) * 50.0 <= col("__xq").getItem(1) &&
         abs(col("__aq").getItem(2) - col("__xq").getItem(2)) * 50.0 <= col("__xq").getItem(2))
          .as("within_2pct"))
      .orderBy("l_returnflag")

  /** Correlated LATERAL subquery with per-row ORDER BY + LIMIT: each
    * customer's two priciest orders (D7's lateral/table-function surface).
    * Catalyst decorrelates the limit into a per-key window internally — the
    * same one-shuffle plan topk_per_group writes by hand. */
  def lateralJoin(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).filter(col("c_custkey") < 50)
      .createOrReplaceTempView("graft_cust_lat")
    Tables.orders(s, d).createOrReplaceTempView("graft_ord_lat")
    s.sql(
      """SELECT c_custkey, o.o_orderkey, o.o_totalprice
        |FROM graft_cust_lat, LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM graft_ord_lat
        |  WHERE o_custkey = c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) o
        |ORDER BY c_custkey, o_totalprice DESC, o_orderkey""".stripMargin)
  }

  /** CUBE with the grouping_id() bitmask (MSB = first grouping column):
    * distinguishes detail rows from each subtotal level — the indicator
    * every rollup report needs to render NULL-as-"ALL" correctly. */
  def groupingIdFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube("o_orderstatus", "o_orderpriority")
      .agg(grouping_id().cast("int").as("gid"), count(lit(1)).as("n"))
      .orderBy(col("gid"), col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** TPC-H Q4 shape (order-priority checking): orders in a quarter with an
    * EXISTS-correlated lineitem condition, counted per priority. Catalyst
    * rewrites the EXISTS into a left-semi join on orderkey — one fact-fact
    * shuffle, then a tiny aggregation. (The synthetic schema has no
    * commitdate/receiptdate, so the lineitem predicate is l_quantity > 45.) */
  def q4PriorityExists(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-07-01") &&
        col("o_orderdate") < lit("1996-10-01"))
    val li = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** TPC-H Q10 shape (returned-item reporting): revenue lost to returned
    * lineitems per customer over a quarter, top 20. lineitem⋈orders shuffles
    * on orderkey; customer/nation broadcast; top-k via TakeOrderedAndProject. */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1996-07-01"))
    val li = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(Exact.sumRound2(Exact.dec(col("l_extendedprice"))
        * Exact.dec(lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }
}
