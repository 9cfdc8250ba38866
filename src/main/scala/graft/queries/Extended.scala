package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Exact, Tables}

/** Round-2 widening of the relational surface (SURVEY.md §2.C "full relational
  * algebra" — declared via the reference's Table-planner dependency,
  * study/pom.xml:147-166): unpivot/melt, generator functions, deterministic
  * hash sampling, cryptographic hash functions, regex functions, bitwise
  * arithmetic, conditional/filtered aggregates, arg-min/max aggregates, and
  * fixed-width histograms. All built-in Catalyst expressions — every query is
  * scan → narrow codegen'd compute → at most one shuffle.
  */
object Extended {

  /** Unpivot (melt): the four lineitem measures as (metric, value) rows, then
    * per-metric stats — the wide→long reshape every feature pipeline needs.
    * Spark's native `unpivot` expands rows before the aggregation shuffle;
    * the expansion is row-local, so it scales with input splits. */
  def unpivotMetrics(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax"))
      .unpivot(Array.empty[org.apache.spark.sql.Column],
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .groupBy("metric")
      .agg(count(lit(1)).as("n"),
        Exact.sumRound2(Exact.dec(col("value"))).as("total"),
        round(sum(Exact.dec(col("value"))).cast("double") / count(lit(1)), 6)
          .as("avg_v"))
      .orderBy("metric")

  /** Generator function with ordinality: posexplode gives (position, token)
    * per document token — the UDTF surface (D7) beyond plain explode. */
  def generatorFuncs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ", -1)).as(Seq("pos", "token")))
      .orderBy("doc_id", "pos")

  /** Deterministic hash sampling: keep rows whose md5(key) falls in a fixed
    * hex-prefix range — a 2/16 systematic sample that is reproducible across
    * engines and runs (unlike TABLESAMPLE/rand()), composable per key, and
    * shuffle-free. This is how a 100 TB pipeline carves held-out slices. */
  def sampleHash(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1).isin("0", "1"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")

  /** Cryptographic hash functions: md5 / sha2-256 content digests — the
    * fingerprint surface for exact dedup and cache keys. */
  def hashFuncs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(col("text")).as("md5_hex"),
        sha2(col("text"), 256).as("sha256_hex"),
        length(md5(col("text"))).cast("int").as("md5_len"))
      .orderBy("doc_id")

  /** Regex surface: extract / extract-all-count / global replace / rlike. */
  def regexFuncs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        regexp_extract(col("text"), "([0-9]+)", 1).as("first_num"),
        size(expr("regexp_extract_all(text, '[0-9]+', 0)")).cast("int").as("n_nums"),
        substring(regexp_replace(col("text"), "[aeiou]", "_"), 1, 40).as("head_devowel"),
        col("text").rlike("the .* key").as("has_pattern"))
      .orderBy("doc_id")

  /** Bitwise arithmetic: and / or / xor / shifts / popcount over the key
    * column — codegen'd primitive ops (the SimHash/Bloom building blocks). */
  def bitwiseFuncs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 500)
      .select(col("o_orderkey"),
        col("o_orderkey").bitwiseAND(lit(255L)).as("k_and"),
        col("o_orderkey").bitwiseOR(lit(15L)).as("k_or"),
        col("o_orderkey").bitwiseXOR(lit(255L)).as("k_xor"),
        shiftleft(col("o_orderkey"), 2).as("k_shl"),
        shiftright(col("o_orderkey"), 2).as("k_shr"),
        bit_count(col("o_orderkey")).cast("int").as("k_bits"))
      .orderBy("o_orderkey")

  /** Conditional aggregates: count_if / bool_and / bool_or / filtered sum —
    * predicate-folded aggregation without a self-join. */
  def conditionalAggs(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        expr("count_if(o_totalprice > 100000)").as("n_big"),
        expr("bool_and(o_totalprice > 0)").as("all_positive"),
        expr("bool_or(o_orderpriority = '1-URGENT')").as("any_urgent"),
        Exact.sumRound2(when(col("o_orderpriority") === "1-URGENT",
          Exact.dec(col("o_totalprice"))).otherwise(lit(0).cast("decimal(18,4)")))
          .as("urgent_total"))
      .orderBy("o_orderstatus")

  /** Arg-min/arg-max aggregates (max_by / min_by): the order key of the
    * priciest / cheapest order per status. The ordering key adds a
    * key-scaled epsilon (1e-9·orderkey, far below the 0.01 price
    * granularity) so ties are broken deterministically in both engines. */
  def argMinMax(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .groupBy("o_orderstatus")
      .agg(
        expr("max_by(o_orderkey, o_totalprice + o_orderkey * 1e-9)").as("priciest_order"),
        expr("min_by(o_orderkey, o_totalprice + o_orderkey * 1e-9)").as("cheapest_order"),
        round(max("o_totalprice"), 2).as("max_price"),
        round(min("o_totalprice"), 2).as("min_price"))
      .orderBy("o_orderstatus")

  /** Fixed-width histogram: 50k-wide price buckets — single scan, bucket id
    * computed row-local, one shuffle on the (small) bucket key. */
  def histogramBuckets(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("bucket", floor(col("o_totalprice") / 50000).cast("int"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min("o_totalprice"), 2).as("lo"),
        round(max("o_totalprice"), 2).as("hi"))
      .orderBy("bucket")

  /** Generator over literal struct rows (`inline`): each order expanded into
    * a (kind, amt) breakdown — the UDTF shape for emitting N typed rows per
    * input row (row-local, codegen'd, no shuffle). */
  def inlineStack(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .filter(col("o_orderkey") <= 100)
      .select(col("o_orderkey"), inline(array(
        struct(lit("gross").as("kind"), col("o_totalprice").as("amt")),
        // ×2 is a binary-exact scale (exponent bump) — no rounding call, so
        // no HALF_UP/HALF_EVEN divergence between engines
        struct(lit("twice").as("kind"), (col("o_totalprice") * 2).as("amt")))))
      .orderBy("o_orderkey", "kind")

  /** Error-safe expressions: try_cast on untrusted JSON scalars and
    * try_divide's NULL-on-zero-divisor — the ingest-hardening surface (a bad
    * record yields NULL, never a task failure, at any scale). */
  def tryFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        expr("try_cast(get_json_object(props, '$.k') AS INT)").as("k_int"),
        // no round(): IEEE double division is bit-identical across engines,
        // while rounding a quotient can land on a half-way tie and diverge
        expr("try_divide(value, try_cast(get_json_object(props, '$.k') AS INT))")
          .as("v_per_k"))
      .orderBy("event_id")

  /** Map generator: parse the JSON props column into MapType and explode to
    * (key, value) rows — the dynamic-schema escape hatch for semi-structured
    * columns. */
  def mapExplode(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        explode(from_json(col("props"),
          org.apache.spark.sql.types.DataType.fromDDL("map<string,string>"))).as(Seq("k", "v")))
      .orderBy("event_id", "k")

  /** Skew-safe salted join: the fact side gets a deterministic salt in
    * [0, 8), the (small) build side is replicated across all 8 salts, and the
    * join key becomes (key, salt) — splitting any hot key's rows across 8
    * reducers. Result is identical to the unsalted join (the oracle asserts
    * it); this is the manual fallback when AQE's skew handling can't apply
    * (e.g. a skewed aggregation feeding a join). */
  def joinSalted(s: SparkSession, d: String): DataFrame =
    graft.api.Graft.saltedJoin(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice")),
        Tables.orders(s, d).select(col("o_orderkey"), col("o_orderpriority")),
        "l_orderkey", "o_orderkey", col("l_extendedprice"), nSalts = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        Exact.sumRound2(Exact.dec(col("l_extendedprice"))).as("total"))
      .orderBy("o_orderpriority")

  /** Linear-regression aggregates (regr_slope/intercept/r2/count): the
    * one-pass OLS fit per group — partial-aggregable moments, so map-side
    * combine keeps the shuffle at one moment-vector per (group, partition). */
  def regressionAggs(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("graft_lineitem_regr")
    s.sql(
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  regr_count(l_extendedprice, l_quantity) AS n
        |FROM graft_lineitem_regr
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
  }

  /** Bitwise aggregates (bit_and / bit_or / bit_xor): the set-digest
    * primitives (permission masks, feature flags, parity checks) — O(1)
    * state per group. */
  def bitAggs(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("graft_orders_bitagg")
    s.sql(
      """SELECT o_orderstatus,
        |  bit_and(o_orderkey) AS k_and,
        |  bit_or(o_orderkey) AS k_or,
        |  bit_xor(o_orderkey) AS k_xor,
        |  count(1) AS n
        |FROM graft_orders_bitagg
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)
  }

  /** Null-handling surface (DataFrameNaFunctions): inject NULLs with nullif,
    * then na.drop (row filter on a null key), na.replace (value remap) and
    * na.fill (default) — the cleanup steps every ingestion pipeline runs
    * first. All row-local. */
  def naFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        expr("nullif(event_type, 'view')").as("etype"),
        expr("CASE WHEN value < 50 THEN CAST(NULL AS DOUBLE) ELSE value END").as("v"))
      .na.drop(Seq("etype"))
      .na.replace("etype", Map("click" -> "tap"))
      .na.fill(Map("v" -> 0.0))
      .select(col("event_id"), col("etype"), round(col("v"), 2).as("v_filled"))
      .orderBy("event_id")

  /** Keyless interval join via time-bin bucketing (`Graft.binnedIntervalJoin`):
    * shipments falling inside sampled orders' 7-day fulfillment windows, with
    * NO key equality — the pure temporal join a theta/nested-loop plan makes
    * quadratic and binning makes linear (equi-join on the bin + residual
    * range filter; each 7-day interval lands in ≤2 7-day bins). */
  def joinRangeBinned(s: SparkSession, d: String): DataFrame = {
    val pts = Tables.lineitem(s, d).select(col("l_shipdate"), col("l_quantity"))
    val iv = Tables.orders(s, d)
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_orderdate").as("lo"),
        (col("o_orderdate") + expr("INTERVAL 7 DAYS")).as("hi"))
    graft.api.Graft.binnedIntervalJoin(pts, iv, "l_shipdate", "lo", "hi", 7L * 86400)
      .groupBy("o_orderkey")
      .agg(count(lit(1)).as("n_shipments"), round(sum("l_quantity"), 2).as("qty"))
      .orderBy("o_orderkey")
  }

  /** Multiset set-ops: INTERSECT ALL keeps duplicate multiplicity
    * (min(count_a, count_b) per value) — Catalyst plans both as aggregates
    * over counted rows, one shuffle each. */
  def setIntersectAll(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    c.filter(col("c_acctbal") > 5000).select("c_mktsegment")
      .intersectAll(c.filter(col("c_acctbal") > 8000).select("c_mktsegment"))
      .orderBy("c_mktsegment")
  }

  /** EXCEPT ALL: multiset difference (count_a − count_b per value). */
  def setExceptAll(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    c.filter(col("c_acctbal") > 5000).select("c_mktsegment")
      .exceptAll(c.filter(col("c_acctbal") > 8000).select("c_mktsegment"))
      .orderBy("c_mktsegment")
  }

  /** Schema-evolving union: `unionByName(allowMissingColumns = true)` aligns
    * by column NAME and null-fills columns absent on one side — the append
    * path when upstream schemas drift. */
  def unionByNameEvolved(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).filter(col("c_custkey") < 100)
    val a = c.select(col("c_custkey"), col("c_name"))
    val b = c.select(col("c_custkey"), col("c_acctbal").as("extra"), col("c_name"))
    a.unionByName(b, allowMissingColumns = true)
      .orderBy(col("c_custkey"), col("extra").asc_nulls_first)
  }

  /** Window navigation with IGNORE NULLS: per event, the most recent
    * purchase event id by the same user at or before it — the
    * last-observation-carried-forward primitive (also the core of
    * Graft.asofJoin). */
  def windowIgnoreNulls(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .withColumn("prev_purchase",
        last(when(col("event_type") === "purchase", col("event_id")),
          ignoreNulls = true).over(w))
      .select("event_id", "user_id", "prev_purchase")
      .orderBy("event_id")
  }

  /** Higher-order array functions over the embedding vectors: transform /
    * filter / aggregate (left fold) / zip_with / exists / forall — all
    * row-local, codegen'd lambda compute (D7's scalar-function surface for
    * ARRAY types). The fold-based sums are sequential left-to-right, which
    * DuckDB's list_reduce mirrors exactly (bit-identical doubles). */
  def higherOrderFuncs(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        round(expr("aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE) * 2)"), 6)
          .as("sum_scaled"),
        size(expr("filter(embedding, x -> x > 0)")).cast("int").as("n_pos"),
        round(expr("aggregate(embedding, 0D, (a, x) -> a + CAST(x AS DOUBLE))"), 6)
          .as("reduced_sum"),
        round(expr(
          "aggregate(zip_with(embedding, reverse(embedding), (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, v) -> a + v)"), 6)
          .as("dot_rev"),
        expr("exists(embedding, x -> x > 0.4)").as("any_big"),
        expr("forall(embedding, x -> x IS NOT NULL)").as("all_nonnull"))
      .orderBy("vec_id")

  /** Timestamp field extraction: epoch seconds + calendar parts — the
    * event-time bucketing primitives under every window operator. */
  def timeFuncs(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("epoch_s"),
        hour(col("ts")).cast("int").as("hr"),
        minute(col("ts")).cast("int").as("minu"),
        dayofmonth(col("ts")).cast("int").as("dom"),
        month(col("ts")).cast("int").as("mon"),
        quarter(col("ts")).cast("int").as("qtr"))
      .orderBy("event_id")
}
