package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Relational breadth on the driver's star schema (SURVEY §2.4-§2.6 and
  * §7.2 step 6): the join family (broadcast dim joins, sort-merge fact
  * join, semi/anti, as-of), set ops, group-by/rollup/cube, top-k per
  * group, scalar string/date/JSON functions.
  *
  * Determinism discipline (SURVEY §5.1/§7.4): every money/double aggregate
  * is computed over DECIMAL (exact, order-insensitive) then cast to double;
  * ratios are double divisions of those exact values, rounded to 6; every
  * query ends in a total ORDER BY with a unique tie-breaker.
  *
  * Scale notes are on each query: dims are `broadcast()` explicitly,
  * fact⋈fact goes sort-merge on the join key, per-group top-k compiles to
  * WindowGroupLimitExec so the limit is applied below the shuffle.
  */
object RelationalQueries {

  /** Exact 2-decimal view of a money/ratio double column. */
  private def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** (1-disc) / (1+tax)-style derived ratios have exactly 2 source
    * decimals; 4 decimals after one product — cast is exact both engines. */
  private def dec4(c: Column): Column = c.cast("decimal(9,4)")

  // --- q1: TPC-H Q1-style pricing summary (agg breadth) ------------------
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    l.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        // The scale-4 product sums are re-rounded to DECIMAL scale 2 (TPC-H's
        // money presentation scale) BEFORE the double cast: converting a
        // scale-4 decimal above ~1e10 to double lands between representable
        // doubles and the two engines' conversions can differ by one ULP
        // (observed at sf1, SCALING.md). At scale 2 the scaled integer stays
        // < 2^53 far past 100 TB magnitudes, so both conversions are the
        // single correctly-rounded division and agree bit-exactly. round(),
        // not a decimal down-cast: both engines' round() is half-away-from-
        // zero on decimals, while DuckDB's decimal CAST truncates ties
        // (1.005 → 1.00) and Spark's rounds them (→ 1.01).
        round(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount"))), 2)
          .cast("double").as("sum_disc_price"),
        round(sum(dec(col("l_extendedprice")) * dec4((lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))), 2)
          .cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .withColumn("avg_qty", round(col("sum_qty") / col("count_order"), 6))
      .withColumn("avg_price", round(col("sum_base_price") / col("count_order"), 6))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val pricingSummaryOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_disc_price,
      |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST((1.0 - l_discount)*(1.0 + l_tax) AS DECIMAL(9,4))), 2) AS DOUBLE) AS sum_charge,
      |  count(*) AS count_order,
      |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
      |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_price
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // --- q2: star join, broadcast dims ------------------------------------
  /** lineitem ⋈ orders (sort-merge, both big) ⋈ broadcast(customer ⋈
    * nation ⋈ region): revenue per region/nation. At 100 TB the dims stay
    * broadcast (KBs); only the fact⋈fact shuffle is unavoidable and AQE
    * coalesces its partitions. */
  def starRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val dims = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(dims), col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val starRevenueOracle: String =
    """SELECT r_name, n_name,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders   ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // --- q3: fact ⋈ fact sort-merge + agg ---------------------------------
  def orderPriorityStats(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_items"),
        sum(dec(col("l_quantity"))).cast("double").as("total_qty"))
      .orderBy(col("o_orderpriority"))
  }

  val orderPriorityStatsOracle: String =
    """SELECT o_orderpriority,
      |  count(DISTINCT o_orderkey) AS n_orders,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // --- q4: semi join -----------------------------------------------------
  def customersWithOpenOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "O")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
  }

  val customersWithOpenOrdersOracle: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
      |ORDER BY c_custkey""".stripMargin

  // --- q5: anti join -----------------------------------------------------
  def customersWithoutUrgentOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }

  val customersWithoutUrgentOrdersOracle: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  // --- q6: top-k per group (WindowGroupLimit) ----------------------------
  /** Top-3 parts by revenue within each brand. The rank<=3 predicate
    * compiles to WindowGroupLimitExec (Spark ≥3.5): each map task keeps
    * only its local top-3 per brand before the shuffle. */
  def topPartsPerBrand(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
    val p = Tables.part(spark, dir)
    val rev = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_partkey"))
      .agg(sum(dec(col("l_extendedprice")) * dec(lit(1.0) - col("l_discount")))
        .cast("double").as("revenue"))
    val w = Window.partitionBy("p_brand").orderBy(desc("revenue"), asc("p_partkey"))
    rev.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= 3)
      .orderBy(col("p_brand"), col("rank"))
  }

  val topPartsPerBrandOracle: String =
    """WITH rev AS (
      |  SELECT p_brand, p_partkey,
      |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY p_brand, p_partkey)
      |SELECT p_brand, p_partkey, revenue,
      |       CAST(row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS INTEGER) AS rank
      |FROM rev QUALIFY rank <= 3 ORDER BY p_brand, rank""".stripMargin

  // --- q7: set ops (intersect / except) ----------------------------------
  def setOpsCustomers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
    val finished = o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
    val both = urgent.intersect(finished).withColumn("tag", lit("both"))
    val onlyUrgent = urgent.except(finished).withColumn("tag", lit("only_urgent"))
    both.unionByName(onlyUrgent)
      .select(col("tag"), col("o_custkey"))
      .orderBy(col("tag"), col("o_custkey"))
  }

  val setOpsCustomersOracle: String =
    """WITH urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      |     fin    AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
      |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM urgent INTERSECT SELECT o_custkey FROM fin)
      |UNION ALL
      |SELECT 'only_urgent' AS tag, o_custkey FROM (SELECT o_custkey FROM urgent EXCEPT SELECT o_custkey FROM fin)
      |ORDER BY tag, o_custkey""".stripMargin

  // --- q8: rollup over region/nation -------------------------------------
  def rollupAcctbal(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
    c.rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        sum(dec(col("c_acctbal"))).cast("double").as("total_acctbal"))
      .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
  }

  val rollupAcctbalOracle: String =
    """SELECT r_name, n_name, count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP (r_name, n_name)
      |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin

  // --- q9: cube over documents -------------------------------------------
  def cubeDocuments(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"))
  }

  val cubeDocumentsOracle: String =
    """SELECT lang, source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents GROUP BY CUBE (lang, source)
      |ORDER BY lang ASC NULLS FIRST, source ASC NULLS FIRST""".stripMargin

  // --- q10: scalar-function family over documents (§2.6) ------------------
  def scalarFunctions(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        upper(col("lang")).as("lang_uc"),
        substring(trim(col("text")), 1, 20).as("head20"),
        length(col("text")).cast("bigint").as("text_len"),
        col("text").contains("spark").as("mentions_spark"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("bigint").as("n_distinct_tokens"),
        concat_ws("|", col("lang"), col("source")).as("lang_source"),
        format_string("doc-%05d", col("doc_id")).as("doc_tag"))
      .orderBy(col("doc_id"))
  }

  val scalarFunctionsOracle: String =
    """SELECT doc_id, upper(lang) AS lang_uc,
      |  substring(trim(text), 1, 20) AS head20,
      |  CAST(length(text) AS BIGINT) AS text_len,
      |  contains(text, 'spark') AS mentions_spark,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct_tokens,
      |  concat_ws('|', lang, source) AS lang_source,
      |  printf('doc-%05d', doc_id) AS doc_tag
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- q11: JSON + conditional agg over events ----------------------------
  def eventsJsonStats(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"),
        round(avg(col("k")), 6).as("avg_k"),
        sum(dec(col("value"))).cast("double").as("total_value"),
        sum(when(col("k") > 50, 1L).otherwise(0L)).as("n_high_k"))
      .orderBy(col("event_type"))
  }

  val eventsJsonStatsOracle: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
      |  round(avg(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)), 6) AS avg_k,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  CAST(sum(CASE WHEN CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) > 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- q12: date_trunc bucketing (S2 batch analog) -------------------------
  /** Timestamps cross the engine boundary as epoch micros (BIGINT): the
    * session is pinned UTC, so unix_micros(date_trunc(...)) here equals
    * DuckDB's epoch_us over its naive timestamps. */
  def eventsHourly(spark: SparkSession, dir: String): DataFrame = {
    Tables.events(spark, dir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(dec(col("value"))).cast("double").as("total_value"))
      .orderBy(col("hour_us"), col("event_type"))
  }

  val eventsHourlyOracle: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type""".stripMargin

  // --- q13: as-of join (events self, purchase ← latest prior error) --------
  /** For each purchase event, the most recent earlier-or-equal 'error'
    * event of the same user. Equi-join on user_id + range predicate +
    * row_number keeps the join keyed (shuffle on user_id, never a cross
    * join); per-user group sizes are bounded so the window is cheap. */
  def asofPurchaseError(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
    val joined = purchases.join(errors,
      col("user_id") === col("e_user") && col("e_ts") <= col("p_ts"), "inner")
    val w = Window.partitionBy("p_id").orderBy(desc("e_ts"), desc("e_id"))
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("p_id"), col("user_id"), col("e_id").as("last_error_id"),
        unix_micros(col("e_ts")).as("last_error_us"))
      .orderBy(col("p_id"))
  }

  /** q13's as-of semantics through the CUSTOM whole-operator path
    * (plans/AsOfJoinPlan): logical AsOfJoin node → planner strategy →
    * merge-based AsOfJoinExec. Same DuckDB oracle as q13 verbatim — the
    * custom physical operator is under the bit-exact gate. The composed
    * q13 stays registered as the built-ins baseline; see AsOfJoinPlan's
    * scaladoc for why the merge form wins at scale (O(L+R) vs the
    * composed O(L·R)-pairs-per-key join+window). */
  def asofMergeOperator(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
    graft.plans.AsOfJoinOps.asof(purchases, errors,
      leftKey = "user_id", rightKey = "e_user",
      leftTime = "p_ts", rightTime = "e_ts", rightTieBreak = "e_id")
      .select(col("p_id"), col("user_id"), col("e_id").as("last_error_id"),
        unix_micros(col("e_ts")).as("last_error_us"))
      .orderBy(col("p_id"))
  }

  /** q13b's operator in LEFT-OUTER mode (pandas merge_asof's default):
    * every purchase survives; those with no prior error carry nulls —
    * the unmatched population the inner form silently drops, measurable
    * instead of invisible. Own LEFT JOIN oracle. */
  def asofMergeOuterOperator(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val errors = e.filter(col("event_type") === "error")
      .select(col("event_id").as("e_id"), col("user_id").as("e_user"), col("ts").as("e_ts"))
    graft.plans.AsOfJoinOps.asof(purchases, errors,
      leftKey = "user_id", rightKey = "e_user",
      leftTime = "p_ts", rightTime = "e_ts", rightTieBreak = "e_id", outer = true)
      .select(col("p_id"), col("user_id"), col("e_id").as("last_error_id"),
        unix_micros(col("e_ts")).as("last_error_us"))
      .orderBy(col("p_id"))
  }

  val asofMergeOuterOracle: String =
    """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
      |     e AS (SELECT event_id AS e_id, user_id AS e_user, ts AS e_ts FROM events WHERE event_type = 'error'),
      |     j AS (SELECT p.p_id, p.user_id, e.e_id, e.e_ts,
      |                  row_number() OVER (PARTITION BY p.p_id ORDER BY e.e_ts DESC, e.e_id DESC) AS rn
      |           FROM p LEFT JOIN e ON p.user_id = e.e_user AND e.e_ts <= p.p_ts)
      |SELECT p_id, user_id, e_id AS last_error_id, epoch_us(e_ts) AS last_error_us
      |FROM j WHERE rn = 1 ORDER BY p_id""".stripMargin

  val asofPurchaseErrorOracle: String =
    """WITH p AS (SELECT event_id AS p_id, user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
      |     e AS (SELECT event_id AS e_id, user_id AS e_user, ts AS e_ts FROM events WHERE event_type = 'error'),
      |     j AS (SELECT p.p_id, p.user_id, e.e_id, e.e_ts,
      |                  row_number() OVER (PARTITION BY p.p_id ORDER BY e.e_ts DESC, e.e_id DESC) AS rn
      |           FROM p JOIN e ON p.user_id = e.e_user AND e.e_ts <= p.p_ts)
      |SELECT p_id, user_id, e_id AS last_error_id, epoch_us(e_ts) AS last_error_us
      |FROM j WHERE rn = 1 ORDER BY p_id""".stripMargin

  // --- registry -----------------------------------------------------------
  // --- q86: SCD2 dimension merge (upsert with history) ----------------------
  /** The warehouse MERGE every lakehouse dimension pipeline runs, in its
    * type-2 (history-keeping) form: an incoming batch of changed and
    * brand-new customers merges into the dimension, closing the old
    * version of each changed row (valid_to = effective date,
    * is_current = false) and opening a new one, while unchanged rows
    * pass through open-ended. The batch is derived deterministically
    * from the data so the whole merge is oracle-checkable: customers
    * with c_acctbal > 7000 move to segment 'PREMIUM'; synthetic new
    * customers (key + 1,000,000) arrive for c_acctbal > 9000.
    *
    * Shape: ONE left join of the dimension against the keyed update
    * batch (broadcast here — dim updates are the classic small side;
    * unhinted it would be a plain key-partitioned join at any scale),
    * then each matched row EXPLODES into its closed old version and
    * opened new version — no second scan of the dimension, no union of
    * three branches. Inserts append via a union of the (tiny) batch
    * remainder. */
  def scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val eff = 1706745600000000L // 2024-02-01 00:00:00 UTC in micros
    val c = Tables.customer(spark, dir)
    val updates = c.filter(col("c_acctbal") > 7000)
      .select(col("c_custkey").as("u_key"), lit("PREMIUM").as("u_segment"))
    val inserts = c.filter(col("c_acctbal") > 9000)
      .select((col("c_custkey") + 1000000L).as("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), lit("NEW").as("c_mktsegment"),
        lit(eff).as("valid_from_us"), lit(null).cast("bigint").as("valid_to_us"),
        lit(true).as("is_current"))
    val merged = c.join(broadcast(updates), col("c_custkey") === col("u_key"), "left")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"),
        explode(when(col("u_key").isNotNull, expr(
          s"""array(
             |  struct(c_mktsegment AS seg, 0L AS vf, ${eff}L AS vt, false AS cur),
             |  struct('PREMIUM' AS seg, ${eff}L AS vf, CAST(NULL AS BIGINT) AS vt, true AS cur))"""
            .stripMargin))
          .otherwise(expr(
            "array(struct(c_mktsegment AS seg, 0L AS vf, CAST(NULL AS BIGINT) AS vt, true AS cur))")))
          .as("v"))
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("v.seg").as("c_mktsegment"), col("v.vf").as("valid_from_us"),
        col("v.vt").as("valid_to_us"), col("v.cur").as("is_current"))
    merged.unionByName(inserts)
      .orderBy(col("c_custkey"), col("valid_from_us"))
  }

  val scd2MergeOracle: String =
    """WITH upd AS (SELECT c_custkey AS u_key FROM customer WHERE c_acctbal > 7000),
      |  closed AS (
      |    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |           CAST(0 AS BIGINT) AS valid_from_us,
      |           CAST(1706745600000000 AS BIGINT) AS valid_to_us, false AS is_current
      |    FROM customer JOIN upd ON c_custkey = u_key),
      |  opened AS (
      |    SELECT c_custkey, c_name, c_nationkey, c_acctbal, 'PREMIUM' AS c_mktsegment,
      |           CAST(1706745600000000 AS BIGINT) AS valid_from_us,
      |           CAST(NULL AS BIGINT) AS valid_to_us, true AS is_current
      |    FROM customer JOIN upd ON c_custkey = u_key),
      |  unchanged AS (
      |    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
      |           CAST(0 AS BIGINT) AS valid_from_us,
      |           CAST(NULL AS BIGINT) AS valid_to_us, true AS is_current
      |    FROM customer WHERE c_custkey NOT IN (SELECT u_key FROM upd)),
      |  inserted AS (
      |    SELECT c_custkey + 1000000 AS c_custkey, c_name, c_nationkey, c_acctbal,
      |           'NEW' AS c_mktsegment,
      |           CAST(1706745600000000 AS BIGINT) AS valid_from_us,
      |           CAST(NULL AS BIGINT) AS valid_to_us, true AS is_current
      |    FROM customer WHERE c_acctbal > 9000)
      |SELECT * FROM (
      |  SELECT * FROM closed UNION ALL SELECT * FROM opened
      |  UNION ALL SELECT * FROM unchanged UNION ALL SELECT * FROM inserted)
      |ORDER BY c_custkey, valid_from_us""".stripMargin

  // --- q121: market-basket co-occurrence over a BUCKETED lake table ---------
  /** The co-occurrence primitive (market-basket / co-click / co-cite)
    * and, with it, the 100 TB CO-LOCATION strategy as a first-class
    * oracle-checked operator instead of a spec-only claim: lineitem is
    * staged ONCE as a metastore table `bucketBy(8, l_orderkey)` +
    * `sortBy` (fingerprint-keyed name, created if absent — the
    * stagedBlobs discipline for tables), and the pair generation is a
    * SELF-JOIN on the bucket key with a merge hint: both sides read
    * the SAME co-located buckets, so the quadratic-per-order pair
    * expansion runs with ZERO exchange below the join (plan-asserted
    * in BucketedBasketSpec; the only shuffles are the pair aggregate's)
    * — on a cluster the join never moves fact bytes at all. Pair blowup
    * is bounded by lines-per-order (≤7 here, single digits in any real
    * basket corpus), so the expansion is O(n·k), not O(n²). Support
    * threshold 2 keeps the output the interesting co-occurrences. */
  /** lineitem staged ONCE per corpus fingerprint as a metastore table
    * bucketed+sorted on l_orderkey — the co-location layout q121's pair
    * expansion and q122's edge build both read shuffle-free. */
  private def bucketedLineitem(spark: SparkSession, dir: String): DataFrame =
    graft.core.Staging.bucketedTable(spark, "lineitem_bkt", dir, "lineitem",
      "l_orderkey", Seq("l_orderkey", "l_partkey"), "l_orderkey BIGINT, l_partkey BIGINT") {
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_partkey"))
    }

  /** The co-located pair expansion both q121 and q122 start from:
    * same-order part pairs (p1 < p2) via the bucket-key self-join —
    * zero exchange below the merge join. */
  private def colocatedPairs(spark: SparkSession, dir: String): DataFrame = {
    val t = bucketedLineitem(spark, dir)
    val a = t.select(col("l_orderkey"), col("l_partkey").as("p1"))
    val b = t.select(col("l_orderkey"), col("l_partkey").as("p2"))
    a.join(b.hint("merge"), Seq("l_orderkey"))
      .filter(col("p1") < col("p2"))
  }

  def basketPairs(spark: SparkSession, dir: String): DataFrame =
    colocatedPairs(spark, dir)
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .orderBy(col("p1"), col("p2"))

  val basketPairsOracle: String =
    """SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2 HAVING count(*) >= 2
      |ORDER BY p1, p2""".stripMargin

  // --- q122: fixed-point PageRank over the co-occurrence graph --------------
  /** Iterative graph analytics as a first-class oracle-checked operator:
    * 5 PageRank iterations (damping 0.85) over the undirected part
    * co-occurrence graph q121 surfaces — in FIXED-POINT micro-units
    * (rank 1.0 = 1,000,000; contribution = `r div deg`; update =
    * `150000 + (17 * Σ) div 20`). All-integer arithmetic is the
    * determinism trick production ranking systems use: double
    * summation is order-dependent across partitionings, integer sums
    * are not, so the result is BIT-EXACT on any cluster layout and
    * DuckDB replays it with 5 unrolled CTEs. Shape per iteration: one
    * hash-join edges⋈ranks (src), one aggregate on dst, one left join
    * back to nodes — at 100 TB the edge list partitions by src and the
    * per-iteration shuffles carry 16-byte (node, rank) pairs only.
    * Edges/degrees are lazily checkpointed once (q48's discipline) so
    * the 5 rounds and the bucketed edge build don't replan into one
    * mega-stage; isolated parts (single-line orders only) settle at
    * the 0.15 floor like every dangling node. */
  def pagerankFixedPoint(spark: SparkSession, dir: String): DataFrame =
    pagerankFixedPointN(spark, dir, 5)

  /** Iteration-parameterized form — RungAudit's buckets probe measures
    * exchange-count LINEARITY with it (constant exchanges per added
    * iteration, never an edge re-shuffle); the registered q122 is the
    * 5-iteration instance the oracle unrolls. */
  private[graft] def pagerankFixedPointN(
      spark: SparkSession, dir: String, iters: Int): DataFrame = {
    // r20: eager checkpoint — the lineitem self-join + distinct behind
    // colocatedPairs ran TWICE (once per direction of the union below)
    // before the edge checkpoint could materialize; now it runs once and
    // both directions derive narrowly (the same fix as r20
    // connectedComponents)
    val pairs = colocatedPairs(spark, dir).select(col("p1"), col("p2")).distinct()
      .localCheckpoint(true)
    // Edges are REPARTITIONED BY src before the one-time checkpoint:
    // localCheckpoint preserves outputPartitioning, so every iteration's
    // join on src reuses the edge layout with ZERO edge-side exchange —
    // the per-iteration shuffles carry only the (node, rank) pairs and
    // the (dst, partial-sum) aggregate, 16-byte rows both (RungAudit
    // `buckets` probes this at the rung: exchange count stays constant
    // per iteration and shuffle bytes ∝ nodes, not edges).
    val edges = pairs.select(col("p1").as("src"), col("p2").as("dst"))
      .unionAll(pairs.select(col("p2").as("src"), col("p1").as("dst")))
      .repartition(col("src"))
      .localCheckpoint(false) // materialized once, read by all 5 rounds
    // derived from the src-partitioned edges → aggregates map-side local
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // distinct() leaves nodes hash-partitioned on node; the checkpoint
    // pins that layout so the per-iteration left join never re-shuffles it
    val nodes = bucketedLineitem(spark, dir)
      .select(col("l_partkey").as("node")).distinct()
      .localCheckpoint(false)
    var r = nodes.withColumn("r", lit(1000000L))
    for (_ <- 1 to iters) {
      val sums = edges
        // shuffled-hash, not SMJ: all sides are already hash-partitioned
        // on src, so SMJ's per-partition sorts are pure waste (round-15
        // q116 lesson); build side is the 16-byte rank table
        .join(r.withColumnRenamed("node", "src").hint("shuffle_hash"), Seq("src"))
        .join(deg, Seq("src"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = nodes.join(sums.withColumnRenamed("dst", "node").hint("shuffle_hash"),
          Seq("node"), "left")
        .select(col("node"),
          expr("150000 + (17 * coalesce(s, 0)) div 20").as("r"))
    }
    r.orderBy(col("node"))
  }

  /** 5 unrolled iterations in DuckDB; `//` and `div` agree on the
    * non-negative fixed-point values, integer sums are order-free. */
  val pagerankFixedPointOracle: String = {
    val base =
      """WITH p AS (
        |  SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |e AS (SELECT p1 AS src, p2 AS dst FROM p
        |      UNION ALL SELECT p2, p1 FROM p),
        |dg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |n AS (SELECT DISTINCT l_partkey AS node FROM lineitem),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM n)""".stripMargin
    val iters = (1 to 5).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    CAST(150000 + (17 * coalesce(c.s, 0)) // 20 AS BIGINT) AS r
         |  FROM n LEFT JOIN (
         |    SELECT e.dst, sum(r${i - 1}.r // dg.deg) AS s
         |    FROM e JOIN r${i - 1} ON e.src = r${i - 1}.node
         |           JOIN dg ON e.src = dg.src
         |    GROUP BY 1) c ON n.node = c.dst)""".stripMargin
    }.mkString(",\n")
    s"$base,\n$iters\nSELECT node, r FROM r5 ORDER BY node"
  }

  // --- q124: degree-oriented triangle counting ------------------------------
  /** Triangle counting over the SUPPORTED co-occurrence graph (q121's
    * edge set, n_orders >= 2) with the degree-orientation trick that
    * makes the operator survive 100×: orient every undirected edge from
    * its lower-(degree, id) endpoint to the higher, enumerate wedges
    * only from each node's OUT-edges, and close them against the
    * oriented edge set. Orientation caps out-degree at O(sqrt m)
    * regardless of hub degree (a part in 10k baskets contributes
    * C(out,2) wedges, not C(10k,2)), so wedge volume — the operator's
    * real cost — is O(m^1.5) worst-case instead of Σ deg² (Suri &
    * Vassilvitskii, WWW'11). Each triangle is produced exactly once
    * (its three corners are totally ordered by (deg, id)), so no /3
    * correction and no double counting under any partitioning. Shape:
    * the oriented edge list is repartitioned by src and checkpointed
    * once (q122's discipline); the wedge self-join is shuffled-hash on
    * src over that shared layout, and the closing join ships only
    * (v, w) node pairs. Output is per-node triangle participation —
    * the local clustering numerator curation pipelines use to find
    * templated boilerplate rings in co-occurrence graphs. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame = {
    // r20: eager checkpoint — the supported-edge pipeline (lineitem
    // self-join + group + filter) was re-planned THREE times (both
    // degree-union branches + the orientation join); now it runs once
    val edges = colocatedPairs(spark, dir)
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 2)
      .select(col("p1"), col("p2"))
      .localCheckpoint(true)
    val deg = edges.select(col("p1").as("u")).unionAll(edges.select(col("p2").as("u")))
      .groupBy(col("u")).agg(count(lit(1)).as("d"))
    // orient: src = endpoint with the smaller (degree, id); carry the
    // dst endpoint's degree so the wedge join can order its two legs
    // by the same total order without re-joining degrees
    val d1 = deg.select(col("u").as("p1"), col("d").as("deg1"))
    val d2 = deg.select(col("u").as("p2"), col("d").as("deg2"))
    val fwd = col("deg1") < col("deg2") ||
      (col("deg1") === col("deg2") && col("p1") < col("p2"))
    val oriented = edges
      .join(d1.hint("shuffle_hash"), Seq("p1"))
      .join(d2.hint("shuffle_hash"), Seq("p2"))
      .select(
        when(fwd, col("p1")).otherwise(col("p2")).as("src"),
        when(fwd, col("p2")).otherwise(col("p1")).as("dst"),
        when(fwd, col("deg2")).otherwise(col("deg1")).as("ddeg"))
      .repartition(col("src"))
      .localCheckpoint(false) // read by both wedge legs AND the closer
    val e1 = oriented.select(col("src"), col("dst").as("v"), col("ddeg").as("dv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"), col("ddeg").as("dw"))
    val wedges = e1.join(e2.hint("shuffle_hash"), Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select(col("src").as("a"), col("v"), col("w"))
    // close the wedge: (v, w) ordered by (deg, id) means the edge, if
    // present, is oriented v -> w — one probe into the oriented set
    val closer = oriented.select(col("src").as("v"), col("dst").as("w"))
    val tris = wedges.join(closer, Seq("v", "w"))
    // r20: one corner row per triangle corner via a narrow explode — the
    // previous three-way unionAll planned THREE copies of the wedge join
    // (the operator's O(m^1.5) cost) because each union branch re-derived
    // `tris` (plans/r20/q124_triangles_before.txt: three identical
    // SortMergeJoin pipelines under the Union). Same multiset of corner
    // rows, one wedge join.
    tris.select(explode(array(col("a"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
      .orderBy(col("node"))
  }

  /** Canonical a<b<c triple join over the same supported edge set; each
    * triangle contributes one row per corner. */
  val triangleCountsOracle: String =
    """WITH p AS (
      |  SELECT a.l_partkey AS p1, b.l_partkey AS p2
      |  FROM lineitem a JOIN lineitem b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |t AS (SELECT e1.p1 AS a, e1.p2 AS b, e2.p2 AS c
      |      FROM p e1 JOIN p e2 ON e2.p1 = e1.p1 AND e2.p2 > e1.p2
      |                JOIN p e3 ON e3.p1 = e1.p2 AND e3.p2 = e2.p2),
      |n AS (SELECT a AS node FROM t UNION ALL SELECT b FROM t
      |      UNION ALL SELECT c FROM t)
      |SELECT node, count(*) AS n_tri FROM n GROUP BY 1 ORDER BY node""".stripMargin

  // --- q141: entity resolution (blocked fuzzy record linkage + CC) ----------
  /** The master-data / record-linkage operator: merge customer records
    * that denote the same real-world entity despite typos. The dirty side
    * derives deterministically (every 7th customer gains a re-keyed
    * variant whose name drops the character at position custkey mod
    * length — a single-deletion typo), so the oracle re-derives the same
    * record set and the resolution is a pure function of the corpus.
    *
    * Candidate generation is DELETION-NEIGHBORHOOD blocking (the SymSpell
    * family): every record emits its name plus each single-deletion
    * string as a blocking key, so any two records within one deletion of
    * each other MUST share a key — recall is structural, not
    * probabilistic, and block sizes are bounded by the deletion
    * neighborhood (≤ ~10·|name| insertions exist for any key) REGARDLESS
    * of corpus size; there is no all-pairs or per-nation quadratic path.
    * Verification then requires levenshtein ≤ 1 AND equal nation AND
    * equal account balance (multi-field agreement — the classic
    * Fellegi–Sunter shape with hard attributes); matches feed the
    * standing min-propagation connected components.
    *
    * 100 TB shape: keys shuffle as xxhash64(key, nation) longs with the
    * slim record struct; [[graft.analytics.Blocking.selfPairs]] caps task
    * size in hot blocks losslessly; CC shuffles (id, label) longs for
    * O(component diameter) rounds — components here are stars. */
  def entityResolution(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    // synthetic variant ids live ABOVE the real key space, derived from the
    // table's own max — a hard-coded +1e6 offset collides with real
    // custkeys once the table passes 1M rows (SF ≥ ~7) and silently
    // corrupts record identity; one column-pruned scalar agg (table-stats
    // material at 100 TB) keeps the id spaces disjoint at any SF.
    // max over zero rows is null — fail clearly, not with getLong's NPE
    val maxKeyRow = cust.agg(max(col("c_custkey")).cast("long")).head()
    require(!maxKeyRow.isNullAt(0),
      "entityResolution: empty customer table — no key space for variant ids")
    val maxKey = maxKeyRow.getLong(0)
    val base = cust.select(col("c_custkey").as("record_id"), col("c_name").as("name"),
      col("c_nationkey").as("nation"), col("c_acctbal").as("bal"))
    val variants = cust.filter(col("c_custkey") % 7 === 0)
      .withColumn("p", (col("c_custkey") % length(col("c_name"))).cast("int"))
      // +maxKey+1, not +maxKey: keys are 0-based, so custkey 0's variant
      // must land strictly above the base space
      .select((col("c_custkey") + maxKey + 1L).as("record_id"),
        concat(expr("substring(c_name, 1, p)"),
          expr("substring(c_name, p + 2, length(c_name))")).as("name"),
        col("c_nationkey").as("nation"), col("c_acctbal").as("bal"))
    val keyed = base.unionByName(variants)
      .withColumn("key", explode(array_distinct(concat(
        array(col("name")),
        expr("transform(sequence(0, length(name) - 1, 1), i -> " +
          "concat(substring(name, 1, i), substring(name, i + 2, length(name))))")))))
      .withColumn("block", xxhash64(col("key"), col("nation")))
      .drop("key")
    // deliberately NOT cached: both join sides recompute this projection +
    // explode — a cheap codegen pass — where caching would pin a 19×-corpus
    // exploded frame in memory at scale for no measured win (2.7 s either way)
    // plain block self-join, NOT Blocking.selfPairs: deletion-neighborhood
    // blocks are bounded by CONSTRUCTION (members of key k are the ≤
    // |alphabet|·|name| single-insertions of k present in the corpus, plus
    // k itself), so the hot-block task-capping machinery buys nothing here
    // — one equi-join shuffle replaces its count+join+double-explode chain
    // nation rides the join key alongside the hash: the block already
    // encodes xxhash64(key, nation), but a cross-(key, nation) 64-bit
    // collision would otherwise admit a spurious cross-nation edge —
    // carrying nation makes oracle parity structural, not probabilistic,
    // at zero extra shuffle cost (same key distribution)
    // r20: both sides are the SAME projection joined to itself via alias —
    // the two subtrees canonicalize identically, so the (block, nation)
    // exchange (and the 19×-explode map stage feeding it) is planned once
    // and REUSED for the other side (guide §2.4), where the r19 shape's
    // per-side renames planned two independent explode+exchange pipelines
    // (JobProfile: the two hottest stages, ~4.2 s aggregate task time
    // each, were the same explode computed twice)
    val slim = keyed.select(col("block"), col("nation"), col("record_id"),
      col("name"), col("bal"))
    val pairs = slim.as("a").join(slim.as("b"),
        col("a.block") === col("b.block") && col("a.nation") === col("b.nation"))
      .filter(col("a.record_id") < col("b.record_id"))
      .select(col("a.record_id").as("id1"), col("a.name").as("n1"),
        col("a.bal").as("b1"), col("b.record_id").as("id2"),
        col("b.name").as("n2"), col("b.bal").as("b2"))
    // no distinct here: a pair surfacing via several shared deletion keys
    // re-verifies cheaply and connectedComponents dedupes its (narrower)
    // edge list anyway — one wide shuffle saved
    val edges = pairs
      .filter(levenshtein(col("n1"), col("n2")) <= 1 && col("b1") === col("b2"))
      .select(col("id1"), col("id2"))
    graft.analytics.Clusters.connectedComponents(edges)
      .groupBy(col("canonical_id"))
      .agg(count(lit(1)).as("cluster_size"),
        sum(when(col("id") > maxKey, 1L).otherwise(0L)).as("n_variants"))
      .orderBy(col("canonical_id"))
  }

  /** The same derivation replayed naively: unnest the full deletion
    * neighborhood, equi-join keys, verify, transitive-close components
    * via recursive label propagation (q132's oracle pattern). */
  val entityResolutionOracle: String =
    """WITH RECURSIVE mk AS (SELECT max(c_custkey) AS maxkey FROM customer),
      |recs AS (
      |  SELECT c_custkey AS record_id, c_name AS name,
      |         c_nationkey AS nation, c_acctbal AS bal
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey + (SELECT maxkey FROM mk) + 1,
      |    substring(c_name, 1, CAST(c_custkey % length(c_name) AS INTEGER)) ||
      |    substring(c_name, CAST(c_custkey % length(c_name) AS INTEGER) + 2,
      |              length(c_name)),
      |    c_nationkey, c_acctbal
      |  FROM customer WHERE c_custkey % 7 = 0),
      |keys AS (
      |  SELECT record_id, name, nation, bal,
      |    unnest(list_distinct(list_append(
      |      list_transform(generate_series(0, length(name) - 1), i ->
      |        substring(name, 1, CAST(i AS INTEGER)) ||
      |        substring(name, CAST(i AS INTEGER) + 2, length(name))),
      |      name))) AS key
      |  FROM recs),
      |cand AS (
      |  SELECT DISTINCT a.record_id AS id1, a.name AS n1, a.bal AS b1,
      |                  b.record_id AS id2, b.name AS n2, b.bal AS b2
      |  FROM keys a JOIN keys b ON a.key = b.key AND a.nation = b.nation
      |   AND a.record_id < b.record_id),
      |mt AS (SELECT id1, id2 FROM cand WHERE levenshtein(n1, n2) <= 1 AND b1 = b2),
      |edges AS (SELECT id1 AS src, id2 AS dst FROM mt UNION SELECT id2, id1 FROM mt),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |lab(id, lab) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.src, l.lab FROM edges e JOIN lab l ON e.dst = l.id),
      |comp AS (SELECT id, min(lab) AS canonical_id FROM lab GROUP BY id)
      |SELECT canonical_id, count(*) AS cluster_size,
      |  CAST(sum(CASE WHEN id > (SELECT maxkey FROM mk) THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_variants
      |FROM comp GROUP BY 1 ORDER BY canonical_id""".stripMargin

  // --- q155: incremental entity resolution (batch vs persisted key index) ----
  /** q141's day-N+1 operational shape (the q101/q129/q130 incremental
    * family): today's arrival batch resolves against the STANDING
    * corpus's persisted deletion-key index — the index parquet stages
    * once per corpus fingerprint (record + its exploded deletion keys,
    * hashed with nation) and the batch joins batch×index ONLY; the
    * standing records are never re-paired against each other. Batch =
    * every 5th customer re-keyed: two thirds arrive as single-deletion
    * typos of their base (MUST merge — structural recall), one third
    * with reversed names (MUST resolve as new entities). Decision per
    * arrival: merged-into-canonical or new.
    *
    * 100 TB shape: index append/probe cost ∝ batch (the batch explodes
    * ~|name| keys per record and hash-joins the key-partitioned index);
    * verification and the min-canonical fold touch only candidate pairs. */
  private def erIndexLake(spark: SparkSession, dir: String): java.io.File =
    SourceQueries.stagedBlobs(dir, "erindex", srcTable = "customer") { staging =>
      erKeyed(Tables.customer(spark, dir).select(
          col("c_custkey").as("record_id"), col("c_name").as("name"),
          col("c_nationkey").as("nation"), col("c_acctbal").as("bal")))
        .write.mode("overwrite")
        .parquet(new java.io.File(staging, "keys").getAbsolutePath)
    }

  /** records(record_id, name, nation, bal) → exploded deletion-key rows
    * with the q141 blocking hash. */
  private def erKeyed(records: DataFrame): DataFrame = records
    .withColumn("key", explode(array_distinct(concat(
      array(col("name")),
      expr("transform(sequence(0, length(name) - 1, 1), i -> " +
        "concat(substring(name, 1, i), substring(name, i + 2, length(name))))")))))
    .withColumn("block", xxhash64(col("key"), col("nation")))
    .drop("key")

  def incrementalEr(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
    // batch ids above the standing key space, derived from the table max
    // (same rationale as q141: a fixed +2e6 offset collides with real
    // custkeys at SF ≥ ~14); ×2 keeps the q155 batch space disjoint from
    // q141's variant space too.
    // max over zero rows is null — fail clearly, not with getLong's NPE
    val maxKeyRow = cust.agg(max(col("c_custkey")).cast("long")).head()
    require(!maxKeyRow.isNullAt(0),
      "incrementalEr: empty customer table — no key space for batch ids")
    val maxKey = maxKeyRow.getLong(0)
    val index = spark.read.parquet(
      new java.io.File(erIndexLake(spark, dir), "keys").getAbsolutePath)
      .select(col("block"), col("nation"), col("record_id").as("iid"),
        col("name").as("iname"), col("bal").as("ibal"))
    val batch = cust.filter(col("c_custkey") % 5 === 0)
      .withColumn("p", ((col("c_custkey") * 3) % length(col("c_name"))).cast("int"))
      .select((col("c_custkey") + 2L * (maxKey + 1L)).as("record_id"),
        when(col("c_custkey") % 3 === 0, reverse(col("c_name")))
          .otherwise(concat(expr("substring(c_name, 1, p)"),
            expr("substring(c_name, p + 2, length(c_name))"))).as("name"),
        col("c_nationkey").as("nation"), col("c_acctbal").as("bal"))
    // join on (block, nation), not block alone — structural parity with
    // the oracle's key AND nation join (see q141's pairs comment)
    val matches = erKeyed(batch)
      .join(index, Seq("block", "nation"))
      .filter(levenshtein(col("name"), col("iname")) <= 1 && col("bal") === col("ibal"))
      .groupBy(col("record_id")).agg(min(col("iid")).as("canonical_id"))
    batch.select(col("record_id"))
      .join(matches, Seq("record_id"), "left")
      .select(col("record_id"),
        when(col("canonical_id").isNotNull, lit("merged")).otherwise(lit("new"))
          .as("decision"),
        coalesce(col("canonical_id"), lit(-1L)).as("canonical_id"))
      .orderBy(col("record_id"))
  }

  /** The same batch derivation, key join, and verification replayed. */
  val incrementalErOracle: String =
    """WITH mk AS (SELECT max(c_custkey) AS maxkey FROM customer),
      |base AS (SELECT c_custkey AS record_id, c_name AS name,
      |                c_nationkey AS nation, c_acctbal AS bal FROM customer),
      |ikeys AS (
      |  SELECT record_id AS iid, name AS iname, nation, bal AS ibal,
      |    unnest(list_distinct(list_append(
      |      list_transform(generate_series(0, length(name) - 1), i ->
      |        substring(name, 1, CAST(i AS INTEGER)) ||
      |        substring(name, CAST(i AS INTEGER) + 2, length(name))),
      |      name))) AS key
      |  FROM base),
      |batch AS (
      |  SELECT c_custkey + 2 * ((SELECT maxkey FROM mk) + 1) AS record_id,
      |    CASE WHEN c_custkey % 3 = 0 THEN reverse(c_name)
      |         ELSE substring(c_name, 1, CAST(c_custkey * 3 % length(c_name) AS INTEGER)) ||
      |              substring(c_name, CAST(c_custkey * 3 % length(c_name) AS INTEGER) + 2,
      |                        length(c_name)) END AS name,
      |    c_nationkey AS nation, c_acctbal AS bal
      |  FROM customer WHERE c_custkey % 5 = 0),
      |bkeys AS (
      |  SELECT record_id, name, nation, bal,
      |    unnest(list_distinct(list_append(
      |      list_transform(generate_series(0, length(name) - 1), i ->
      |        substring(name, 1, CAST(i AS INTEGER)) ||
      |        substring(name, CAST(i AS INTEGER) + 2, length(name))),
      |      name))) AS key
      |  FROM batch),
      |m AS (
      |  SELECT b.record_id, min(i.iid) AS canonical_id
      |  FROM bkeys b JOIN ikeys i ON b.key = i.key AND b.nation = i.nation
      |  WHERE levenshtein(b.name, i.iname) <= 1 AND b.bal = i.ibal
      |  GROUP BY 1)
      |SELECT batch.record_id,
      |  CASE WHEN m.canonical_id IS NOT NULL THEN 'merged' ELSE 'new' END AS decision,
      |  coalesce(m.canonical_id, -1) AS canonical_id
      |FROM batch LEFT JOIN m USING (record_id)
      |ORDER BY batch.record_id""".stripMargin

  // --- q149: GROUPING SETS (the general multi-grain aggregate) ---------------
  /** Completes the multi-grain family (rollup q8, cube q9): an explicit
    * GROUPING SETS aggregate — the four grains a reporting layer asks of
    * the lineitem flags, each tagged with grouping_id so consumers
    * distinguish a NULL key from a rolled-up one. One Expand + one
    * aggregate exchange; Spark's Expand emits one row per grain per
    * input row BEFORE the map-side partial, so the shuffle carries
    * |grains| × |distinct keys| aggregate rows, not data. */
  def groupingSetsFlags(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("qty"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  val groupingSetsOracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INTEGER) AS gid,
      |  count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
      |                        (l_linestatus), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  // --- q145: k-anonymity generalization ladder -------------------------------
  /** The privacy-governance audit a training-data release runs before
    * shipping records with quasi-identifiers: classify every customer by
    * the MINIMAL generalization level at which its quasi-identifier class
    * (nation, segment, balance bucket) reaches k ≥ 5 members — the
    * Samarati/Sweeney generalization ladder (L0 fine buckets → L1 coarse
    * buckets → L2 drop balance → L3 nation only → suppress). Output is
    * the per-level record census plus corpus share in basis points.
    *
    * 100 TB shape: the class-size tables are bounded by the
    * quasi-identifier DOMAIN (|nations|·|segments|·|buckets|), not the
    * corpus — each level is one map-side-partial aggregate and the
    * size tables broadcast back to the record scan; one row-linear pass,
    * no window over the corpus. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val k = 5
    val c = Tables.customer(spark, dir).select(
      col("c_custkey"), col("c_nationkey").as("nation"),
      col("c_mktsegment").as("seg"),
      floor(col("c_acctbal") / 500).cast("long").as("b500"),
      floor(col("c_acctbal") / 2000).cast("long").as("b2000"))
    def sizes(keys: Seq[String], n: String) =
      c.groupBy(keys.map(col): _*).agg(count(lit(1)).as(n))
    val tot = c.agg(count(lit(1)).as("total"))
    c.join(broadcast(sizes(Seq("nation", "seg", "b500"), "n0")), Seq("nation", "seg", "b500"))
      .join(broadcast(sizes(Seq("nation", "seg", "b2000"), "n1")), Seq("nation", "seg", "b2000"))
      .join(broadcast(sizes(Seq("nation", "seg"), "n2")), Seq("nation", "seg"))
      .join(broadcast(sizes(Seq("nation"), "n3")), Seq("nation"))
      .withColumn("level",
        when(col("n0") >= k, 0).when(col("n1") >= k, 1)
          .when(col("n2") >= k, 2).when(col("n3") >= k, 3).otherwise(4))
      .groupBy(col("level"))
      .agg(count(lit(1)).as("n_records"))
      .crossJoin(broadcast(tot))
      .withColumn("share_bp", expr("n_records * 10000 div total"))
      .select(col("level"), col("n_records"), col("share_bp"))
      .orderBy(col("level"))
  }

  /** Window-counted class sizes — the broadcast-join derivation must
    * equal the naive per-record window census exactly. */
  val kAnonymityOracle: String =
    """WITH c AS (SELECT c_custkey, c_nationkey AS nation, c_mktsegment AS seg,
      |    CAST(floor(c_acctbal / 500) AS BIGINT) AS b500,
      |    CAST(floor(c_acctbal / 2000) AS BIGINT) AS b2000
      |  FROM customer),
      |t AS (SELECT *,
      |    count(*) OVER (PARTITION BY nation, seg, b500) AS n0,
      |    count(*) OVER (PARTITION BY nation, seg, b2000) AS n1,
      |    count(*) OVER (PARTITION BY nation, seg) AS n2,
      |    count(*) OVER (PARTITION BY nation) AS n3
      |  FROM c),
      |l AS (SELECT CASE WHEN n0 >= 5 THEN 0 WHEN n1 >= 5 THEN 1
      |                  WHEN n2 >= 5 THEN 2 WHEN n3 >= 5 THEN 3
      |                  ELSE 4 END AS level FROM t)
      |SELECT CAST(level AS INTEGER) AS level, count(*) AS n_records,
      |  CAST(count(*) * 10000 // (SELECT count(*) FROM c) AS BIGINT) AS share_bp
      |FROM l GROUP BY 1 ORDER BY level""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q141_entity_resolution" -> ((s, d) => entityResolution(s, d)),
    "q145_k_anonymity" -> ((s, d) => kAnonymity(s, d)),
    "q149_grouping_sets" -> ((s, d) => groupingSetsFlags(s, d)),
    "q155_incremental_er" -> ((s, d) => incrementalEr(s, d)),
    "q121_basket_pairs" -> ((s, d) => basketPairs(s, d)),
    "q122_pagerank" -> ((s, d) => pagerankFixedPoint(s, d)),
    "q124_triangles" -> ((s, d) => triangleCounts(s, d)),
    "q1_pricing_summary" -> ((s, d) => pricingSummary(s, d)),
    "q2_star_revenue" -> ((s, d) => starRevenue(s, d)),
    "q3_order_priority" -> ((s, d) => orderPriorityStats(s, d)),
    "q4_semi_join" -> ((s, d) => customersWithOpenOrders(s, d)),
    "q5_anti_join" -> ((s, d) => customersWithoutUrgentOrders(s, d)),
    "q6_topk_per_group" -> ((s, d) => topPartsPerBrand(s, d)),
    "q7_set_ops" -> ((s, d) => setOpsCustomers(s, d)),
    "q8_rollup" -> ((s, d) => rollupAcctbal(s, d)),
    "q9_cube" -> ((s, d) => cubeDocuments(s, d)),
    "q10_scalar_funcs" -> ((s, d) => scalarFunctions(s, d)),
    "q11_events_json" -> ((s, d) => eventsJsonStats(s, d)),
    "q12_events_hourly" -> ((s, d) => eventsHourly(s, d)),
    "q13_asof_join" -> ((s, d) => asofPurchaseError(s, d)),
    "q13b_asof_merge" -> ((s, d) => asofMergeOperator(s, d)),
    "q13c_asof_merge_outer" -> ((s, d) => asofMergeOuterOperator(s, d)),
    "q86_scd2_merge" -> ((s, d) => scd2Merge(s, d))
  )

  def oracles: Map[String, String] = Map(
    "q121_basket_pairs" -> basketPairsOracle,
    "q122_pagerank" -> pagerankFixedPointOracle,
    "q124_triangles" -> triangleCountsOracle,
    "q141_entity_resolution" -> entityResolutionOracle,
    "q145_k_anonymity" -> kAnonymityOracle,
    "q149_grouping_sets" -> groupingSetsOracle,
    "q155_incremental_er" -> incrementalErOracle,
    "q1_pricing_summary" -> pricingSummaryOracle,
    "q2_star_revenue" -> starRevenueOracle,
    "q3_order_priority" -> orderPriorityStatsOracle,
    "q4_semi_join" -> customersWithOpenOrdersOracle,
    "q5_anti_join" -> customersWithoutUrgentOrdersOracle,
    "q6_topk_per_group" -> topPartsPerBrandOracle,
    "q7_set_ops" -> setOpsCustomersOracle,
    "q8_rollup" -> rollupAcctbalOracle,
    "q9_cube" -> cubeDocumentsOracle,
    "q10_scalar_funcs" -> scalarFunctionsOracle,
    "q11_events_json" -> eventsJsonStatsOracle,
    "q12_events_hourly" -> eventsHourlyOracle,
    "q13_asof_join" -> asofPurchaseErrorOracle,
    "q13b_asof_merge" -> asofPurchaseErrorOracle,
    "q13c_asof_merge_outer" -> asofMergeOuterOracle,
    "q86_scd2_merge" -> scd2MergeOracle
  )
}
