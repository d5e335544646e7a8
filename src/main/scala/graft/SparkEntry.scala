package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.operators._
import graft.functions.{BooleanQuery, TextFns}
import graft.oracles.{IngestSql, NlpSql, TrainSql}
import graft.sources.Ingest
import graft.streaming.{DocStream, EventStream}
import QuerySpec.{MemoWarm, Replay, Run, Tag}

/** One registered query, declared once in [[SparkEntry.registry]].
  *
  * @param oracle DuckDB SQL over the same parquet tables that returns the
  *               row's exact result; None where the semantics are not
  *               SQL-expressible (the row then gets a rows-only check)
  * @param cohort the bench cohort the row is timed in: the SQL cache is
  *               cleared at cohort boundaries
  */
final case class QuerySpec(name: String, run: Run, oracle: Option[String],
                           cohort: String, tags: Set[Tag])

object QuerySpec {
  type Run = (SparkSession, String) => DataFrame

  sealed trait Tag

  /** The row REPLAYS a stream to completion on every call (readStream →
    * sink → processAllAvailable). For these the bench's cold/warm
    * decomposition does not apply: the "warm" sweep re-consumes the whole
    * stream again — there is no materialized frame to be warm OVER — so
    * warm ≈ cold up to noise and warm > cold carries no meaning. The set
    * is emitted as `"replay"` in the cohort JSONL and the sidecar so the
    * artifact explains itself, and these rows are EXCLUDED from the
    * cohort_build (cold − warm) sums, which would otherwise absorb replay
    * noise as phantom build cost.
    */
  case object Replay extends Tag

  /** The row's derived-model memo is filled at the timed SF by one untimed
    * bench pass, so its timings measure the SERVE path (emitted as
    * `memo_warmed`; see `Bench.main`). Never widen this set.
    */
  case object MemoWarm extends Tag
}

/** The public query surface — see SURVEY.md §7.
  *
  * Every implemented operator from SURVEY.md §2 is exposed as a named query
  * over the driver test tables, with a DuckDB-equivalent oracle SQL where the
  * semantics are SQL-expressible (omitted → driver runs a rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The `message_pairs` view analog: window-paired view→click events.
    */
  def entry(spark: SparkSession): DataFrame =
    Views.eventPairs(spark, "/root/testdata/sf0.001")

  // ---- oracle SQL helpers (DuckDB dialect) ----

  /** Tokenizer as a DuckDB snippet: the same `\b[a-z]{3,}\b` regex and
    * stopword list as [[TextFns.tokens]].
    */
  private val stopwordsSql: String = TextFns.Stopwords.map(w => s"'$w'").mkString(", ")
  private def toksSql(src: String): String =
    s"""SELECT unnest(regexp_extract_all(lower(text), '\\b[a-z]{3,}\\b')) AS word
       |FROM $src""".stripMargin

  private def topicPredSql(kws: Seq[String]): String =
    kws.map(k => s"lower(text) LIKE '%$k%'").mkString("(", " OR ", ")")

  /** A row with an oracle, in the cohort named by its letter prefix
    * (`d12_random_sample` → `d`).
    */
  private def row(name: String, run: Run, oracle: String, tags: Tag*): QuerySpec =
    QuerySpec(name, run, Some(oracle), name.takeWhile(_.isLetter), tags.toSet)

  /** Cache-sharing cohorts inside the 100-query x family. Lexicographic
    * name order interleaves unrelated sub-groups (x2_jaccard lands after
    * x20..x29) and lets every sub-group's cached frames stay live for the
    * whole family, so the late-alphabet dedup queries pay the session's
    * accumulated memory/GC pressure — BENCH_r05 showed x33 at 7.35 s in
    * the sweep vs 1.64 s solo, same plan. Grouping by the frames a query
    * actually shares (the Dedup shingle/signature frames, the VectorSearch
    * embedding/centroid frames, the TextQuality termCounts frame, ...) and
    * clearing the SQL cache at cohort boundaries keeps reuse where it is
    * real and drops it where it is only history.
    */
  private def cohort(name: String)(rows: QuerySpec*): Seq[QuerySpec] =
    rows.map(_.copy(cohort = name))

  /** Every registered query, one [[QuerySpec]] each: the only place a
    * row's name, run function, oracle SQL, cohort and tags are declared.
    */
  val registry: Seq[QuerySpec] = Seq(
    // §1.2 derived views
    row("v1_event_pairs", Views.eventPairs _,
      """WITH ordered AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         lead(event_id)   OVER w AS next_id,
        |         lead(event_type) OVER w AS next_type,
        |         lead(ts)         OVER w AS next_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, event_id AS view_event_id, next_id AS click_event_id,
        |       CAST(floor(epoch(next_ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) AS gap_s
        |FROM ordered WHERE event_type = 'view' AND next_type = 'click'""".stripMargin),
    row("v2_user_summary", Views.userSummary _,
      """SELECT user_id,
        |       count(*) AS event_count,
        |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
        |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click_count,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase_count,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
        |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts,
        |       (CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT)) / 60.0 AS duration_min
        |FROM events GROUP BY user_id""".stripMargin),
    row("v3_length_stats", Views.lengthStats _,
      """SELECT user_id, event_type, count(*) AS n,
        |       avg(length(props)) AS avg_len, min(length(props)) AS min_len,
        |       max(length(props)) AS max_len, CAST(sum(length(props)) AS BIGINT) AS sum_len
        |FROM events GROUP BY user_id, event_type""".stripMargin),
    row("v4_time_activity", Views.timeActivity _,
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS date,
        |       count(*) AS event_count, count(DISTINCT user_id) AS active_users
        |FROM events GROUP BY 1, 2""".stripMargin),
    row("v4b_started_users", Views.startedUsers _,
      """WITH f AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id)
        |SELECT strftime(first_ts, '%Y-%m-%d') AS date, count(*) AS started_users
        |FROM f GROUP BY 1""".stripMargin),
    row("v5_type_usage", Views.typeUsage _,
      """SELECT event_type, count(*) AS use_count,
        |       count(DISTINCT user_id) AS distinct_users,
        |       round(avg(value), 6) AS avg_value, round(sum(value), 2) AS sum_value
        |FROM events WHERE event_type IS NOT NULL AND event_type <> ''
        |GROUP BY event_type""".stripMargin),
    // §2.3/§2.4/§2.6 relational pack (TPC-H-ish shapes)
    row("r1_pricing_summary", Relational.pricingSummary _,
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 4) AS DOUBLE) AS sum_disc_price,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / count(*), 6) AS avg_price,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin),
    row("r2_top_revenue_orders", Relational.topRevenueOrders _,
      """SELECT o.o_orderkey,
        |       CAST(round(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
        |       strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o.o_orderkey, o.o_orderdate
        |ORDER BY revenue DESC, o.o_orderkey LIMIT 10""".stripMargin),
    row("r3_region_revenue", Relational.regionRevenue _,
      """SELECT r_name,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),
    row("r4_order_status_pivot", Relational.orderStatusPivot _,
      """SELECT o_orderpriority,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS open_orders,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS filled_orders,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS pending_orders,
        |       count(*) AS total_orders
        |FROM orders GROUP BY o_orderpriority""".stripMargin),
    row("r5_customers_no_orders", Relational.customersWithoutOrders _,
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)""".stripMargin),
    row("r6_customers_with_orders", Relational.customersWithOrders _,
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment""".stripMargin),
    row("r7_customer_order_stats", Relational.customerOrderStats _,
      """SELECT c.c_custkey, c.c_name, count(o.o_totalprice) AS n_orders,
        |       coalesce(CAST(round(sum(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE), 0) AS total_spent
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey, c.c_name""".stripMargin),
    row("r8_top_parts_per_brand", Relational.topPartsPerBrand _,
      """SELECT p_brand, p_partkey, p_name, p_retailprice, rk FROM (
        |  SELECT p_brand, p_partkey, p_name, p_retailprice,
        |         row_number() OVER (PARTITION BY p_brand
        |                            ORDER BY p_retailprice DESC, p_partkey) AS rk
        |  FROM part) WHERE rk <= 3""".stripMargin),
    row("r9_monthly_revenue", Relational.monthlyRevenue _,
      """SELECT strftime(o_orderdate, '%Y-%m') AS month, count(*) AS n_orders,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1""".stripMargin),
    row("r10_supplier_nation_stats", Relational.supplierNationStats _,
      """SELECT n_name, count(*) AS n_suppliers,
        |       CAST(round(sum(CAST(s_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_balance,
        |       round(avg(s_acctbal), 6) AS avg_balance
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),
    row("r11_value_histogram", Relational.valueHistogram _,
      """SELECT event_type,
        |       CASE WHEN value < 50 THEN '00-50' WHEN value < 100 THEN '050-100'
        |            WHEN value < 200 THEN '100-200' WHEN value < 500 THEN '200-500'
        |            ELSE '500+' END AS bucket,
        |       count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin),
    row("r12_type_value_share", Relational.typeValueShare _,
      """WITH a AS (SELECT event_type, round(sum(value), 2) AS type_value
        |           FROM events GROUP BY 1)
        |SELECT event_type, type_value,
        |       round(type_value * 100.0 / sum(type_value) OVER (), 6) AS pct
        |FROM a""".stripMargin),
    row("r13_top_types_other", Relational.topTypesWithOther(_, _),
      """WITH totals AS (
        |  SELECT event_type, sum(value) AS total_value FROM events GROUP BY 1),
        |ranked AS (
        |  SELECT event_type, total_value,
        |         row_number() OVER (ORDER BY total_value DESC, event_type) AS rk
        |  FROM totals)
        |SELECT CASE WHEN rk <= 2 THEN event_type ELSE 'Other' END AS slice,
        |       round(sum(total_value), 2) AS value
        |FROM ranked GROUP BY 1""".stripMargin),
    row("r14_revenue_rollup", Relational.revenueRollup _,
      """SELECT coalesce(r_name, 'ALL') AS region,
        |       coalesce(n_name, 'ALL') AS nation,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(grouping(r_name) AS BIGINT) AS g_region,
        |       CAST(grouping(n_name) AS BIGINT) AS g_nation
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP (r_name, n_name)""".stripMargin),
    row("r15_revenue_cube", Relational.revenueCube _,
      """SELECT coalesce(r_name, 'ALL') AS region,
        |       coalesce(n_name, 'ALL') AS nation,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
        |       CAST(count(*) AS BIGINT) AS n_items,
        |       CAST(grouping(r_name) AS BIGINT) AS g_region,
        |       CAST(grouping(n_name) AS BIGINT) AS g_nation
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY CUBE (r_name, n_name)""".stripMargin),
    // r16 salts only the physical distribution; the logical result is r3's
    row("r16_revenue_salted", Relational.regionRevenueSalted _,
      """SELECT r_name,
        |       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))), 4) AS DOUBLE) AS revenue,
        |       count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin),
    // event-sequence operators
    row("e1_activity_heatmap", EventOps.activityHeatmap _,
      """SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hour, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin),
    row("e1b_heatmap_dense", EventOps.activityHeatmapDense _, {
      val cols = (0 to 23).map(h =>
        f"CAST(sum(CASE WHEN hour(ts) = $h THEN 1 ELSE 0 END) AS BIGINT) AS h$h%02d").mkString(",\n       ")
      s"""SELECT dayofweek(ts) + 1 AS dow,
         |       $cols
         |FROM events GROUP BY 1""".stripMargin
    }),
    row("e2_error_context", EventOps.errorContext(_, _),
      """WITH numbered AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |hits AS (SELECT user_id, event_id AS hit_event_id, rn AS hit_rn
        |         FROM numbered WHERE event_type = 'error')
        |SELECT h.hit_event_id, n.event_id AS ctx_event_id,
        |       n.event_type AS ctx_event_type, n.rn - h.hit_rn AS ctx_offset
        |FROM numbered n JOIN hits h
        |  ON n.user_id = h.user_id AND n.rn BETWEEN h.hit_rn - 2 AND h.hit_rn + 2""".stripMargin),
    row("e3_purchase_error_users", EventOps.purchaseErrorUsers _,
      """SELECT user_id,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        |       CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
        |FROM events GROUP BY user_id
        |HAVING sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) > 0
        |   AND sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) > 0""".stripMargin),
    row("e4_user_type_concat", EventOps.userTypeConcat _,
      """SELECT user_id,
        |       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
        |FROM events GROUP BY user_id""".stripMargin),
    // e5: the estimate itself is engine-specific, but its error contract
    // is oracle-checkable — exact count + a within-bound flag the oracle
    // pins to literal true (see EventOps.approxDistinctUsers).
    row("e5_approx_distinct", EventOps.approxDistinctUsers _,
      """SELECT event_type,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |       true AS approx_ok
        |FROM events GROUP BY event_type""".stripMargin),
    // e5b (sketch-only serving row) DELIBERATELY has no oracle: its
    // output is the raw HLL++ estimate, engine register state no DuckDB
    // SQL can reproduce, so it gets a rows-only check; the
    // estimate's bound rides e5's hash-checked oracle (same sketch, spec
    // asserts value equality between the two rows).
    QuerySpec("e5b_distinct_sketch", EventOps.approxDistinctUsersSketchOnly _,
      oracle = None, cohort = "e", tags = Set.empty),
    row("e6_distinct_skew_safe", EventOps.distinctUsersSkewSafe _,
      """SELECT event_type, count(DISTINCT user_id) AS distinct_user_id
        |FROM events GROUP BY event_type""".stripMargin),
    row("e7_asof_join", EventOps.asofViewBeforePurchase _,
      """WITH s AS (
        |  SELECT user_id, event_id, event_type, ts,
        |         max(CASE WHEN event_type = 'view' THEN ts END)
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS last_view_ts
        |  FROM events WHERE event_type IN ('view', 'purchase'))
        |SELECT user_id, event_id AS purchase_event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |       strftime(last_view_ts, '%Y-%m-%d %H:%M:%S') AS asof_view_ts,
        |       CAST(floor(epoch(ts)) AS BIGINT)
        |         - CAST(floor(epoch(last_view_ts)) AS BIGINT) AS view_to_purchase_s
        |FROM s WHERE event_type = 'purchase'""".stripMargin),
    // the native as-of operator, oracle-expressed as the standard
    // greatest-time-<= correlated form (no window trick)
    row("e7b_asof_native", EventOps.asofNative _,
      """WITH p AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |m AS (
        |  SELECT p.user_id, p.event_id, p.ts, max(v.ts) AS vts
        |  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
        |  GROUP BY p.user_id, p.event_id, p.ts)
        |SELECT user_id, event_id AS purchase_event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |       strftime(vts, '%Y-%m-%d %H:%M:%S') AS asof_view_ts,
        |       CAST(floor(epoch(ts)) AS BIGINT)
        |         - CAST(floor(epoch(vts)) AS BIGINT) AS view_to_purchase_s
        |FROM m""".stripMargin),
    // forward as-of with a 1-hour tolerance; the oracle's min(ts >= p.ts)
    // over the bounded window is tie-proof because only the TIME is output
    row("e7c_asof_forward", EventOps.asofForward _,
      """WITH p AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |m AS (
        |  SELECT p.user_id, p.event_id, p.ts, min(v.ts) AS vts
        |  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts >= p.ts
        |    AND v.ts <= p.ts + INTERVAL 1 HOUR
        |  GROUP BY p.user_id, p.event_id, p.ts)
        |SELECT user_id, event_id AS purchase_event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |       strftime(vts, '%Y-%m-%d %H:%M:%S') AS next_view_ts,
        |       CAST(floor(epoch(vts)) AS BIGINT)
        |         - CAST(floor(epoch(ts)) AS BIGINT) AS purchase_to_view_s
        |FROM m""".stripMargin),
    // nearest as-of: closer of the backward/forward candidates, micros
    // distance, exact tie -> the earlier (backward) view
    row("e7d_asof_nearest", EventOps.asofNearest _,
      """WITH p AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
        |m AS (
        |  SELECT p.user_id, p.event_id, p.ts,
        |         max(CASE WHEN v.ts <= p.ts THEN v.ts END) AS bts,
        |         min(CASE WHEN v.ts >= p.ts THEN v.ts END) AS fts
        |  FROM p LEFT JOIN v ON v.user_id = p.user_id
        |  GROUP BY p.user_id, p.event_id, p.ts),
        |c AS (
        |  SELECT user_id, event_id, ts,
        |         CASE WHEN bts IS NULL THEN fts
        |              WHEN fts IS NULL THEN bts
        |              WHEN epoch_us(ts) - epoch_us(bts)
        |                     <= epoch_us(fts) - epoch_us(ts) THEN bts
        |              ELSE fts END AS vts
        |  FROM m)
        |SELECT user_id, event_id AS purchase_event_id,
        |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |       strftime(vts, '%Y-%m-%d %H:%M:%S') AS nearest_view_ts,
        |       abs(CAST(floor(epoch(vts)) AS BIGINT)
        |         - CAST(floor(epoch(ts)) AS BIGINT)) AS distance_s
        |FROM c""".stripMargin),
    row("e8_value_percentiles", EventOps.valuePercentiles _,
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50,
        |       round(quantile_cont(value, 0.95), 6) AS p95,
        |       round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type""".stripMargin),
    row("e8b_approx_percentiles", EventOps.approxPercentiles _,
      """SELECT event_type,
        |       round(quantile_cont(value, 0.5), 6) AS p50_exact,
        |       round(quantile_cont(value, 0.95), 6) AS p95_exact,
        |       true AS p50_ok, true AS p95_ok
        |FROM events GROUP BY event_type""".stripMargin),
    row("e9_props_stats", EventOps.propsStats _, TrainSql.propsStatsSql),
    row("e10_retention", EventOps.retentionCohorts _, TrainSql.retentionSql),
    row("e11_funnel", EventOps.funnel _, TrainSql.funnelSql),
    row("e12_power_users", EventOps.powerUserPareto _, TrainSql.powerUserParetoSql),
    // document / search operators
    row("d1_word_frequency", DocOps.wordFrequency(_, _),
      s"""WITH toks AS (${toksSql("documents")})
         |SELECT word, count(*) AS n FROM toks
         |WHERE word NOT IN ($stopwordsSql)
         |GROUP BY word ORDER BY n DESC, word LIMIT 50""".stripMargin),
    row("d2_keyword_search", DocOps.keywordSearch(_, _),
      """SELECT doc_id, lang, n_chars,
        |       substr(text, greatest(strpos(lower(text), 'window') - 30, 1), 80) AS snippet
        |FROM documents WHERE lower(text) LIKE '%window%'
        |ORDER BY n_chars DESC, doc_id LIMIT 100""".stripMargin),
    row("d3_boolean_search", DocOps.booleanSearch _,
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE (lower(text) LIKE '%join%' AND lower(text) LIKE '%stream%')
        |   OR (lower(text) LIKE '%sort%' AND lower(text) NOT LIKE '%slow%')""".stripMargin),
    row("d4_date_range_stats", DocOps.dateRangeStats _,
      """SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY event_type""".stripMargin),
    row("d5_hits_hydrate", DocOps.hitsHydrate _,
      """WITH hits AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY n_chars DESC, doc_id) AS hit_rank
        |  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 10)
        |SELECT h.hit_rank, d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d JOIN hits h USING (doc_id)""".stripMargin),
    row("d6_topic_buckets", DocOps.topicBuckets _, {
      val cols = DocOps.Topics.map { case (name, kws) =>
        s"CAST(sum(CASE WHEN ${topicPredSql(kws)} THEN 1 ELSE 0 END) AS BIGINT) AS ${name}_docs"
      }.mkString(",\n       ")
      s"""SELECT lang, $cols,
         |       count(*) AS total_docs
         |FROM documents GROUP BY lang""".stripMargin
    }),
    row("d7_topic_cooccurrence", DocOps.topicCooccurrence _, {
      val flagCols = DocOps.Topics.map { case (name, kws) =>
        s"CASE WHEN ${topicPredSql(kws)} THEN 1 ELSE 0 END AS $name" }.mkString(", ")
      val pairs = for {
        i <- DocOps.Topics.indices; j <- DocOps.Topics.indices if i < j
      } yield (DocOps.Topics(i)._1, DocOps.Topics(j)._1)
      val selects = pairs.map { case (a, b) =>
        s"SELECT '$a' AS topic_a, '$b' AS topic_b, CAST(sum($a * $b) AS BIGINT) AS n_docs FROM flags"
      }.mkString("\nUNION ALL\n")
      s"WITH flags AS (SELECT $flagCols FROM documents)\n$selects"
    }),
    row("d8_vocab_overlap", DocOps.vocabOverlap _,
      s"""WITH en AS (
         |  SELECT word, count(*) AS en_n FROM (${toksSql("documents WHERE lang = 'en'")})
         |  WHERE word NOT IN ($stopwordsSql) GROUP BY word HAVING count(*) > 5),
         |fr AS (
         |  SELECT word, count(*) AS fr_n FROM (${toksSql("documents WHERE lang = 'fr'")})
         |  WHERE word NOT IN ($stopwordsSql) GROUP BY word HAVING count(*) > 2)
         |SELECT en.word, en_n, fr_n FROM en JOIN fr USING (word)""".stripMargin),
    row("d9_vocab_unique", DocOps.vocabUnique _,
      s"""WITH en AS (
         |  SELECT word, count(*) AS n FROM (${toksSql("documents WHERE lang = 'en'")})
         |  WHERE word NOT IN ($stopwordsSql) GROUP BY word HAVING count(*) > 5),
         |fr AS (
         |  SELECT word, count(*) AS n FROM (${toksSql("documents WHERE lang = 'fr'")})
         |  WHERE word NOT IN ($stopwordsSql) GROUP BY word HAVING count(*) > 2)
         |SELECT en.word, en.n FROM en
         |WHERE NOT EXISTS (SELECT 1 FROM fr WHERE fr.word = en.word)""".stripMargin),
    row("d10_doc_stats", DocOps.docStats _,
      """SELECT doc_id, n_sentences, n_words,
        |       CASE WHEN n_sentences > 0
        |            THEN round(n_words * 1.0 / n_sentences, 2) ELSE 0.0 END
        |         AS words_per_sentence
        |FROM (SELECT doc_id,
        |             length(text) - length(replace(text, '.', '')) AS n_sentences,
        |             length(text) - length(replace(text, ' ', '')) + 1 AS n_words
        |      FROM documents)""".stripMargin),
    row("d11_sentiment", DocOps.sentimentCounts _, {
      val cnt = (lex: Seq[String]) => {
        val pred = lex.map(k => s"w = '$k'").mkString("(", " OR ", ")")
        s"len(list_filter(regexp_extract_all(lower(text), '\\b[a-z]{3,}\\b'), w -> $pred))"
      }
      s"""WITH per_doc AS (
         |  SELECT lang, ${cnt(Seq("fast", "small"))} AS p, ${cnt(Seq("slow", "big"))} AS n,
         |         len(list_filter(regexp_extract_all(lower(text), '\\b[a-z]{3,}\\b'),
         |             w -> w NOT IN ($stopwordsSql))) AS t
         |  FROM documents)
         |SELECT lang, CAST(sum(p) AS BIGINT) AS pos_hits, CAST(sum(n) AS BIGINT) AS neg_hits,
         |       round(sum(p) * 100.0 / sum(t), 6) AS pos_pct,
         |       round(sum(n) * 100.0 / sum(t), 6) AS neg_pct
         |FROM per_doc GROUP BY lang""".stripMargin
    }),
    row("d12_random_sample", DocOps.randomSample(_, _),
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY md5('sample42_' || doc_id::VARCHAR), doc_id LIMIT 50""".stripMargin),
    row("d13_nested_json", Export.qNestedJson _,
      """SELECT user_id, count(*) AS n_events,
        |       '[' || string_agg('{"event_id":' || event_id || ',"event_type":"' ||
        |                         event_type || '"}', ',' ORDER BY event_id) || ']'
        |         AS events_json
        |FROM events GROUP BY user_id""".stripMargin),
    row("d14_markdown", Export.qMarkdown _,
      """SELECT doc_id,
        |       '# Doc ' || doc_id::VARCHAR || ' [' || lang || '/' || source || ']'
        |         || chr(10) || chr(10)
        |         || regexp_replace(text, '```(\w*)\n(.*?)```', '<pre>\2</pre>', 'gs')
        |         AS markdown
        |FROM documents""".stripMargin),
    row("d18_html", Export.qHtml _,
      """WITH t AS (
        |  SELECT doc_id,
        |    'Doc ' || doc_id::VARCHAR || ' [' || lang || '/' || source || ']' AS title,
        |    regexp_replace(
        |      regexp_replace(text, '```(\w*)\n(.*?)\n```', '<pre><code>\2</code></pre>', 'gs'),
        |      '\n', '<br>', 'g') AS body,
        |    replace(trim(regexp_replace(substring(split_part(text, chr(10), 1), 1, 32), '[^\w\s-]', '', 'g')), ' ', '_') AS file_name
        |  FROM documents)
        |SELECT doc_id, file_name,
        |  '<!DOCTYPE html>' || chr(10) || '<html>' || chr(10) || '<head>' || chr(10)
        |  || '<meta charset="UTF-8">' || chr(10) || '<title>' || title
        |  || '</title>' || chr(10) || '</head>' || chr(10) || '<body>' || chr(10)
        |  || '<div class="header"><h1>' || title
        |  || '</h1></div>' || chr(10) || '<div class="message"><div class="content">'
        |  || body
        |  || '</div></div>' || chr(10) || '</body>' || chr(10) || '</html>' AS html
        |FROM t""".stripMargin),
    row("d15_boolean_query", DocOps.booleanQuerySearch(_, _),
      s"""SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE ${BooleanQuery.toSql("text", DocOps.DefaultBooleanQuery)}""".stripMargin),
    row("d16_top_words_sketch", DocOps.topWordsSketch(_, _),
      s"""WITH toks AS (${toksSql("documents")})
         |SELECT word, count(*) AS cnt FROM toks
         |WHERE word NOT IN ($stopwordsSql)
         |GROUP BY word ORDER BY cnt DESC, word LIMIT 20""".stripMargin),
    row("d17_stratified_sample", DocOps.stratifiedSample(_, _),
      """SELECT doc_id, lang, source, n_chars, rk FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |         CAST(row_number() OVER (
        |           PARTITION BY lang
        |           ORDER BY md5('strat42_' || doc_id::VARCHAR), doc_id) AS INT) AS rk
        |  FROM documents)
        |WHERE rk <= 10""".stripMargin),
    // §2.9 NLP pipeline pack
    row("n1_tf", Relevance.qTf _, NlpSql.tfSql),
    row("n2_idf", Relevance.qIdf _, NlpSql.idfSql),
    row("n3_tfidf_top", Relevance.qTfidfTop _, NlpSql.tfidfTopSql),
    row("n4_relevance", Relevance.qRelevance _, NlpSql.relevanceQuerySql),
    row("n5_rank", Relevance.qRank _, NlpSql.rankQuerySql),
    row("n13_bm25", Relevance.qBm25 _, NlpSql.bm25Sql(Relevance.Keywords)),
    row("n6_dup_pairs", Duplicates.qDupPairs _, NlpSql.dupPairsSql()),
    row("n6b_pair_summary", Duplicates.qPairSummary _, NlpSql.dupPairSummarySql()),
    row("n7_near_dups", Duplicates.qNearDups _, NlpSql.nearDupsSql()),
    row("n8_priority", Priority.qClassify _, NlpSql.prioritySql),
    row("n9_priority_distribution", Priority.qDistribution _, NlpSql.priorityDistributionSql),
    row("n10_components", Duplicates.qComponents _, NlpSql.componentsSql(), MemoWarm),
    row("n11_unique_docs", Duplicates.qUniqueDocs _, NlpSql.uniqueDocsSql()),
    row("n12_semantic_search", SemanticSearch.qSemanticSearch _, NlpSql.semanticSearchSql(
      SemanticSearch.queryTf(SemanticSearch.DefaultQuery),
      SemanticSearch.VocabSize, SemanticSearch.Threshold, SemanticSearch.Limit)),
    // s1/s2/p1: the TextRank damped fixpoint rounds each iteration to 10
    // decimals (the x14 Lloyd technique), so the oracle replays it as a
    // DuckDB recursive CTE with the numpy-allclose stop applied per doc
    // via a windowed bool_and (see NlpSql.textrankCtes).
    row("s1_summaries", Summarizer.qSummaries _, NlpSql.summariesSql),
    row("s2_key_sentences", Summarizer.qKeySentences _, NlpSql.keySentencesSql),
    row("s3_sentences", Summarizer.qSentences _, NlpSql.sentencesSql),
    row("s4_sentence_sims", Summarizer.qSentenceSims _, NlpSql.sentenceSimsSql),
    row("p1_pipeline", Pipeline.qPipeline _, NlpSql.pipelineSql()),
    row("p1b_pipeline_graded", Pipeline.qPipelineGraded _, NlpSql.pipelineGradedSql()),
    row("p2_pipeline_stats", Pipeline.qPipelineStats _,
      NlpSql.pipelineStatsSql(Relevance.Keywords)),
    row("p3_prep_pipeline", CorpusPrep.qPrepPipeline _, TrainSql.prepPipelineSql),
    row("p4_ingest_pipeline", Pipeline.qIngestPipeline(_, _), TrainSql.ingestPipelineSql()),
    // multimodal plumbing
    row("m1_asset_meta", Multimodal.qAssetMeta _, TrainSql.assetMetaSql),
    // m2/m3/m4 stub shapes are pure byte arithmetic, so they ARE oracle-checked:
    row("m2_decoded_meta", Multimodal.qDecodedMeta _, TrainSql.decodedMetaSql),
    row("m3_frames", Multimodal.qFrames _,
      """WITH v AS (SELECT doc_id, octet_length(encode(text)) AS olen
        |           FROM documents WHERE doc_id % 3 = 2),
        |idx AS (SELECT doc_id, olen,
        |               unnest(range(0, CAST(ceil(olen / 64.0) AS BIGINT))) AS i
        |        FROM v)
        |SELECT doc_id AS asset_id, i AS frame_idx, i * 64 AS offset,
        |       least(64, olen - i * 64) AS n_bytes
        |FROM idx WHERE i % 4 = 0""".stripMargin),
    row("m4_resized", Multimodal.qResized _,
      """SELECT doc_id AS asset_id, 8 AS width, 8 AS height,
        |       CAST(64 AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id % 3 = 0""".stripMargin),
    // m5: the float32 histogram IS replicable — counts are exact float32
    // integers, the one k/n division is IEEE binary32 in both engines
    // (DuckDB REAL division verified bit-identical to JVM float), the
    // double widening exact. Byte buckets reduce to unicode(ch)//16 on
    // this ASCII corpus.
    row("m5_features", Multimodal.qFeatures _,
      """WITH spine AS (
        |  SELECT d.doc_id AS asset_id, b.bucket
        |  FROM documents d CROSS JOIN (SELECT unnest(range(16)) AS bucket) b),
        |by AS (
        |  SELECT doc_id AS asset_id, unicode(text[i+1]) // 16 AS bucket
        |  FROM (SELECT doc_id, text, unnest(range(length(text))) AS i FROM documents)),
        |cnt AS (SELECT asset_id, bucket, count(*) AS k FROM by GROUP BY 1, 2),
        |n AS (SELECT doc_id AS asset_id, greatest(length(text), 1) AS n FROM documents)
        |SELECT s.asset_id,
        |       CASE WHEN s.asset_id % 3 = 0 THEN 'image'
        |            WHEN s.asset_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(s.bucket AS BIGINT) AS bucket,
        |       round(CAST(CAST(coalesce(cnt.k, 0) AS REAL) / CAST(n.n AS REAL)
        |             AS DOUBLE), 6) AS f
        |FROM spine s
        |JOIN n USING (asset_id)
        |LEFT JOIN cnt ON cnt.asset_id = s.asset_id AND cnt.bucket = s.bucket""".stripMargin),
    row("m6_asset_dups", Multimodal.qExactAssetDups _, TrainSql.exactAssetDupsSql),
    // m7: fixture has no WAV payloads, so the oracle mirrors the
    // deterministic fake branch; the REAL WavDecoder arm is spec-driven
    row("m7_audio_meta", Multimodal.qAudioMeta _, TrainSql.audioMetaSql),
    // streaming (batch-equivalent entry; streaming form tested via memory sink)
    row("w1_daily_counts", EventStream.qDailyCounts _, TrainSql.dailyCountsSql),
    row("w2_sessions", EventStream.qSessions _,
      s"""WITH o AS (
         |  SELECT user_id, event_id, ts, value,
         |         CASE WHEN lag(ts) OVER w IS NULL
         |                OR epoch(ts) - epoch(lag(ts) OVER w) >= ${EventStream.SessionGapSeconds}
         |              THEN 1 ELSE 0 END AS ns
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         |s AS (
         |  SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
         |  FROM o)
         |SELECT user_id, session_idx, count(*) AS n_events,
         |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
         |       CAST(floor(epoch(max(ts))) AS BIGINT) - CAST(floor(epoch(min(ts))) AS BIGINT) AS duration_s,
         |       round(sum(value), 2) AS total_value
         |FROM s GROUP BY 1, 2""".stripMargin),
    // batch form of the stream-stream interval join (ts values are
    // whole-microsecond, so the range condition is engine-consistent)
    row("w3_view_click_join", EventStream.viewClickJoinBatch(_, _),
      """SELECT v.user_id, v.event_id AS view_event_id, c.event_id AS click_event_id,
        |       CAST(floor(epoch(c.ts)) AS BIGINT) - CAST(floor(epoch(v.ts)) AS BIGINT)
        |         AS gap_s
        |FROM events v JOIN events c
        |  ON v.user_id = c.user_id
        | AND v.event_type = 'view' AND c.event_type = 'click'
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 3600 SECONDS""".stripMargin),
    row("w4_moving_avg", EventStream.qMovingAvgDaily _, TrainSql.movingAvgDailySql),
    row("w10_ewma", EventStream.qEwmaDaily _, TrainSql.ewmaDailySql),
    row("w5_sliding_counts", EventStream.qSlidingCounts _, TrainSql.slidingCountsSql),
    row("w6_dense_daily", EventStream.qDenseDailySeries _, TrainSql.denseDailySeriesSql),
    row("w7_locf_fill", EventStream.qLocfFill _, TrainSql.locfFillSql),
    // raw-export ingest end-to-end (committed fixtures — testdata ships no raw exports)
    row("i1_ingest_normalize", Ingest.qIngestNormalize(_, _),
      IngestSql.ingestNormalizeSql(Ingest.FixtureDir)),
    row("i2_tree_stats", Ingest.qTreeStats(_, _), IngestSql.treeStatsSql(Ingest.FixtureDir)),
    row("i3_validation_report", Ingest.qValidationReport(_, _),
      IngestSql.validationReportSql(Ingest.FixtureDir)),
    row("i4_ingest_large", Ingest.qIngestNormalizeLarge(_, _),
      IngestSql.ingestNormalizeSql(s"${Ingest.FixtureDir}/large")),
    row("i5_tree_stats_large", Ingest.qTreeStatsLarge(_, _),
      IngestSql.treeStatsSql(s"${Ingest.FixtureDir}/large")),
    row("i6_detect_platform", Ingest.qDetectPlatform(_, _),
      IngestSql.detectPlatformSql(Ingest.FixtureDir)),
    // the Spark side dumps the CSV-sink round-trip; the oracle recomputes
    // the exported projection straight from parquet, so a hash match means
    // the sink preserved every value exactly
    row("d19_csv_roundtrip", Export.qCsvRoundtrip _,
      """SELECT doc_id, lang, source, n_chars,
        |       CAST(length(text) AS BIGINT) AS text_len,
        |       substr(text, 1, 80) AS head
        |FROM documents""".stripMargin),
    row("d20_context_window", DocOps.contextWindowSearch(_, _), NlpSql.contextWindowSql()),
    // d21/d22: the Spark side dumps JSON-sink round-trips (write → read
    // back); the oracles recompute the exported rows straight from
    // parquet, so a hash match proves the sink preserved every value
    row("d21_json_roundtrip", Export.qJsonRoundtrip _,
      """SELECT user_id, count(*) AS n_events,
        |       '[' || string_agg('{"event_id":' || event_id || ',"event_type":"' ||
        |                         event_type || '"}', ',' ORDER BY event_id) || ']'
        |         AS events_json
        |FROM events GROUP BY user_id""".stripMargin),
    row("d22_markdown_roundtrip", Export.qMarkdownRoundtrip _,
      """SELECT doc_id,
        |       '# Doc ' || doc_id::VARCHAR || ' [' || lang || '/' || source || ']'
        |         || chr(10) || chr(10)
        |         || regexp_replace(text, '```(\w*)\n(.*?)```', '<pre>\2</pre>', 'gs')
        |         AS markdown
        |FROM documents""".stripMargin),
    // streaming end-to-end: the dump is the memory-sink contents of a real
    // StreamingQuery; the oracle is the batch equivalent over the same data
    row("w8_stream_daily", EventStream.qStreamDailyDemo _,
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS date, event_type,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2""".stripMargin, Replay),
    // w9: the sink contents of a real stream-static broadcast join replay;
    // the oracle is the batch join over the same tables
    row("w9_stream_enriched", EventStream.qStreamEnriched _,
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS date,
        |       c.c_mktsegment AS mktsegment, CAST(count(*) AS BIGINT) AS n
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2""".stripMargin, Replay),
    // w11: the sink contents of a replayed streaming x10 quality gate;
    // counts are order-free so the batch formula is the exact oracle
    row("w11_stream_quality", DocStream.qQualityGate _, TrainSql.streamQualityGateSql(), Replay),
    // w12: the replayed admission stream's verdict table; the oracle is
    // the greedy (arrival-order) maximal-independent-set recursion over
    // the x3 LSH pair graph — NOT x45's transitive closure (see Scaladoc)
    row("w12_neardup_admission", DocStream.qNearDupAdmission _,
      TrainSql.nearDupAdmissionSql(), Replay),
    row("w13_kmv_stream", DocStream.qKmvStream _, TrainSql.kmvStreamSql(), Replay),
    // w14 must equal batch x77 exactly (stateless join + sink aggregate)
    row("w14_substr_decontam_stream", DocStream.qSubstrDecontamStream _,
      TrainSql.substrDecontaminateSql(), Replay),
    // w15 must equal batch x66 (static index, stateless probe stream)
    row("w15_incremental_admission", DocStream.qIncrementalAdmissionStream _,
      TrainSql.incrementalDedupSql(), Replay),
    // the training-data pipeline pack (beyond-reference), timed in the
    // cache-sharing sub-cohorts described at `cohort`
  ) ++ cohort("x-dedup")(
    row("x1_exact_digest", Dedup.qExactDups _, TrainSql.exactDigestSql),
    row("x2_jaccard_pairs", Dedup.qJaccardPairs _, TrainSql.jaccardPairsSql),
    row("x3_minhash_lsh", Dedup.qMinhashLsh _, TrainSql.minhashLshSql()),
    row("x4_simhash_pairs", Dedup.qSimhashPairs _, TrainSql.simhashPairsSql()),
    row("x33_dup_spans", Dedup.qDupSpans _, TrainSql.dupSpansSql()),
    row("x36_containment", Dedup.qContainmentPairs _, TrainSql.containmentPairsSql()),
    // capped-guard variants: x2/x3/x36 with the 100 TB hot-key caps
    // BINDING against a planted 200-copy duplicate family
    // x2b/x3b/x36b: the capped guards on the planted-hot-family fixture.
    // On this fixture the only over-cap keys are the family's; a family
    // member's (and a doc-0 near-duplicate's) candidate keys are all
    // family-hot, so capped mode equals the exact answer minus pairs
    // inside that hot neighborhood — which is what the oracle computes
    // (naive all-pairs + the same exclusion), verified at both SFs.
    row("x2b_jaccard_capped", Dedup.qJaccardCapped _, TrainSql.jaccardCappedSql()),
    row("x3b_minhash_lsh_capped", Dedup.qMinhashLshCapped _, TrainSql.minhashLshCappedSql()),
    row("x36b_containment_capped", Dedup.qContainmentCapped _, TrainSql.containmentCappedSql()),
    row("x45_minhash_dedup", Dedup.qMinhashDedup _, TrainSql.minhashDedupSql()),
    row("x45b_minhash_dedup_iter", Dedup.qMinhashDedupIterative _, TrainSql.minhashDedupIterSql()),
    // x45c runs the digest-first collapse on the identical planted corpus
    // — same oracle as x45b: the hash proves rep-graph ≡ member-graph
    row("x45c_minhash_dedup_digest", Dedup.qMinhashDedupDigestFirst _,
      TrainSql.minhashDedupIterSql()),
    row("x64_exact_substr", Dedup.qExactSubstrSpans _, TrainSql.exactSubstrSpansSql()),
    row("x65_dup_span_stats", Dedup.qDupSpanStats _, TrainSql.dupSpanStatsSql()),
    // x89: the span family's transform — islands excised from the token
    // stream, survivors re-joined in position order
    row("x89_remove_dup_spans", Dedup.qRemoveDupSpans _, TrainSql.removeDupSpansSql()),
    // x90 feeds the gate from the session's PERSISTED span table
    // (write-once parquet), so it shares x65's oracle verbatim: the hash
    // proves the written artifact carries the in-session computation's
    // full fidelity
    row("x90_span_stats_persisted", Dedup.qDupSpanStatsPersisted _, TrainSql.dupSpanStatsSql()),
    row("x77_substr_decontaminate", Dedup.qSubstrDecontaminate _,
      TrainSql.substrDecontaminateSql()),
    row("x66_incremental_dedup", Dedup.qIncrementalDedup _, TrainSql.incrementalDedupSql()),
    // x70 runs the identical computation through a persisted parquet index,
    // so it shares x66's oracle verbatim
    row("x70_incremental_persisted", Dedup.qIncrementalDedupPersisted _,
      TrainSql.incrementalDedupSql()),
    row("x71_family_sizes", Dedup.qFamilySizeStats _, TrainSql.familySizeStatsSql()),
    row("x76_minhash_calibration", Dedup.qMinhashCalibration _, TrainSql.minhashCalibrationSql()),
    row("x78_lsh_bucket_stats", Dedup.qLshBucketStats _, TrainSql.lshBucketStatsSql()),
    row("x67_novelty_curve", Sketches.qNoveltyCurve _, TrainSql.noveltyCurveSql()),
    // x60: x1 + x45 keep flags joined to token counts, one aggregate per
    // method (the minhash side embeds the full x45 closure oracle)
    row("x60_dedup_report", Dedup.qDedupReport _, TrainSql.dedupReportSql()),
    // x63: the x45 family closure re-kept by the x10 quality window
    row("x63_quality_keep", Dedup.qQualityKeepDedup _, TrainSql.qualityKeepDedupSql()),
  ) ++ cohort("x-vec")(
    row("x5_ann_topk", VectorSearch.qAnnTopK _, TrainSql.annTopKSql),
    row("x6_emb_near_dups", VectorSearch.qEmbNearDups _, TrainSql.embNearDupsSql),
    row("x7_ann_lsh", VectorSearch.qAnnLsh _, TrainSql.annLshSql()),
    // x14: recursive SQL can't aggregate in the recursive term, so the
    // fixed-iteration Lloyd chain is unrolled as chained CTEs; centroid
    // coordinates round to 6 decimals each iteration on both sides, which
    // is what makes the float fixpoint engine-reproducible.
    row("x14_ann_ivf", VectorSearch.qAnnIvf _, TrainSql.ivfTopKSql()),
    row("x68_ivf_cell_stats", VectorSearch.qIvfCellStats _, TrainSql.ivfCellStatsSql()),
    row("x15_quantized", VectorSearch.qQuantized _, TrainSql.quantizedSql),
    // x30: same Lloyd chain as x14, then within-cell pairwise cosine and
    // the greedy first-occurrence keep rule (deterministic on both sides).
    row("x30_semantic_dedup", VectorSearch.qSemanticDedup _, TrainSql.semanticDedupSql()),
    // x86: per-pair rounded cosines aggregate per corpus doc; engine-side
    // round(max) == oracle max(round) by round's monotonicity
    row("x86_semantic_decontam", VectorSearch.qSemanticDecontam _, TrainSql.semanticDecontamSql),
    // x86b: Lloyd chain trained on the eval split, nprobe cell candidates,
    // corpus-spine left join for the no-candidate verdict
    row("x86b_semantic_decontam_ivf", VectorSearch.qSemanticDecontamIvf _,
      TrainSql.semanticDecontamIvfSql()),
    // x86c: probe of the persisted eval index — same verdicts as a fresh
    // train-and-assign cycle, so the oracle is x86b's verbatim
    row("x86c_semantic_decontam_probe", VectorSearch.qSemanticDecontamProbeOnly _,
      TrainSql.semanticDecontamIvfSql()),
    row("x8_centroid_norms", VectorSearch.qLabelCentroidNorms _, TrainSql.centroidNormsSql),
    // x50: four prefixed Lloyd chains (one per subvector slice) + final
    // assignment per subspace; codes and distances join back on vec_id
    row("x50_pq_codes", VectorSearch.qPqCodes _, TrainSql.pqCodesSql()),
    // x51: same chains + per-subspace query→codeword LUTs; the scan is m
    // LUT joins on the code, never the original vectors
    row("x51_pq_adc_topk", VectorSearch.qPqAdcTopK _, TrainSql.pqAdcSql()),
    // x52: coarse chain + residual PQ chains + per-cell LUTs, scan
    // restricted to probed cells
    row("x52_ivfpq_topk", VectorSearch.qIvfPqTopK _, TrainSql.ivfPqSql()),
    // x88: x51's ADC query over-fetched to a 50-row shortlist, rejoined to
    // the raw vectors and re-sorted by exact distance (the refine stage)
    row("x88_pq_refine", VectorSearch.qPqAdcRefineTopK _, TrainSql.pqAdcRefineSql()),
    // x83 runs x52's computation through a persisted parquet index
    // (centroids + codebooks + cell-partitioned codes), so it shares
    // x52's oracle verbatim — the hash match proves lossless persistence
    row("x83_ivfpq_persisted", VectorSearch.qIvfPqTopKPersisted _, TrainSql.ivfPqSql()),
    // x83b is the probe-only serving half (index memoized per session) —
    // same oracle: the hash proves the memoized artifact serves exactly
    // what a fresh build would
    row("x83b_ivfpq_probe", VectorSearch.qIvfPqProbeOnly _, TrainSql.ivfPqSql()),
    // x55: doc-level x47 embedder + the shared Lloyd chain + class-based
    // TF-IDF ranked per cell on the rounded score
    row("x55_cluster_topics", ClusterTopics.qClusterTopics _, TrainSql.clusterTopicsSql()),
    row("x26_knn_join", VectorSearch.qKnnJoin _, TrainSql.knnJoinSql),
    // x37/x38: the x14 Lloyd chain + final assignment, then the ANN join
    // re-expressed as a cell equi-join (queries exploded into nprobe cells)
    row("x37_ivf_knn_join", VectorSearch.qIvfKnnJoin _, TrainSql.ivfKnnJoinSql()),
    // x82 is x37 through a persisted index (quantizer + cell-partitioned
    // corpus on parquet, probe-from-disk) — shares x37's oracle verbatim
    row("x82_ivf_persisted", VectorSearch.qIvfKnnJoinPersisted _, TrainSql.ivfKnnJoinSql()),
    // x82b: probe-only serving half, same oracle as x37/x82
    row("x82b_ivf_probe", VectorSearch.qIvfKnnJoinProbeOnly _, TrainSql.ivfKnnJoinSql()),
    row("x38_ann_recall", VectorSearch.qIvfRecall _, TrainSql.ivfRecallSql()),
    // x57: the x37 chain truncated to the top-poolK pool, label
    // anti-filter vs the query's label, re-rank
    row("x57_hard_negatives", VectorSearch.qHardNegatives _, TrainSql.hardNegativesSql()),
  ) ++ cohort("x-quality")(
    row("x9_lang_id", TextQuality.qLangId _, TrainSql.langIdSql),
    row("x10_quality", TextQuality.qQuality _, TrainSql.qualitySql),
    row("x11_token_counts", TextQuality.qTokenCounts _, TrainSql.tokenCountsSql),
    row("x12_fingerprints", TextQuality.qFingerprints _, TrainSql.fingerprintsSql),
    row("x16_repetition", TextQuality.qRepetition _, TrainSql.repetitionSql),
    row("x17_redact_pii", TextQuality.qRedactPii _, TrainSql.redactPiiSql),
    row("x18_chunks", TextQuality.qChunks _, TrainSql.chunksSql()),
    row("x22_c4_filter", TextQuality.qC4Filter _, TrainSql.c4FilterSql),
    row("x29_line_dedup", TextQuality.qLineDedup _, TrainSql.lineDedupSql),
    row("x13_domain_stats", TextQuality.qDomainStats _,
      """WITH h AS (
        |  SELECT doc_id, source,
        |         list_transform(regexp_extract_all(text, 'https?://[^\s]+'),
        |           u -> lower(regexp_extract(u, 'https?://([^/\s]+)', 1))) AS hosts
        |  FROM documents),
        |u AS (
        |  SELECT doc_id, unnest(
        |    CASE WHEN len(hosts) > 0 THEN hosts ELSE [lower(source)] END) AS domain
        |  FROM h)
        |SELECT domain, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_mentions
        |FROM u GROUP BY domain
        |ORDER BY n_mentions DESC, domain LIMIT 50""".stripMargin),
    row("x23_gopher_rules", TextQuality.qGopherRules _, TrainSql.gopherRulesSql),
    row("x25_unigram_lm", TextQuality.qUnigramLogprob _, TrainSql.unigramLogprobSql),
    row("x31_ccnet_buckets", TextQuality.qCcnetBuckets _, TrainSql.ccnetBucketsSql),
    // x39: fixed-iteration GD unrolled as chained CTEs; weights round to
    // 8 dp per update on both engines (the Lloyd/TextRank determinism
    // recipe applied to model training)
    row("x39_quality_distill", Classifier.qQualityDistill _, TrainSql.qualityDistillSql()),
    // x39b: the same distillation with the 100 TB label cut — a
    // quantile_cont(0.5) broadcast threshold instead of the global ntile
    // window (Classifier.lmLabelsQuantile's Scaladoc carries the
    // agreement and determinism argument)
    row("x39b_quality_distill_aq", Classifier.qQualityDistillAq _,
      TrainSql.qualityDistillSql(quantileLabels = true)),
    row("x40_normalize", TextQuality.qNormalize _, TrainSql.normalizeSql),
    row("x43_bigram_lm", TextQuality.qBigramLm _, TrainSql.bigramLmSql),
    row("x79_worst_spans", TextQuality.qWorstSpans _, TrainSql.worstSpansSql()),
    // x59: x43's CTEs + context marginal / continuation counts + MLE
    // unigram; p mirrors the engine's operator order exactly
    row("x59_interp_bigram", TextQuality.qInterpBigramLm _, TrainSql.interpBigramLmSql()),
    // x56: bottom-k per source over the shared shingle-hash CTEs; the
    // estimator itself is hash-checked, not just rows
    row("x56_kmv_distinct", Sketches.qKmvShingleDistinct _, TrainSql.kmvShingleDistinctSql()),
    // x58: source-pair equi-join on the shared shingle-hash set
    row("x58_source_overlap", Sketches.qSourceOverlap _, TrainSql.sourceOverlapSql),
    row("x69_source_drift", Sketches.qSourceDrift _, TrainSql.sourceDriftSql),
    row("x81_term_zipf", Sketches.qTermZipf _, TrainSql.termZipfSql),
    row("x27_ngram_rep", TextQuality.qNgramRepetition _, TrainSql.ngramRepetitionSql()),
  ) ++ cohort("x-prep")(
    row("x19_decontaminate", CorpusPrep.qDecontaminate _, TrainSql.decontaminateSql()),
    // bloom prefilter + exact verify is result-identical to the exact
    // join, so x34 shares x19's oracle semantics
    row("x34_decontaminate_bloom", CorpusPrep.qDecontaminateBloom _, TrainSql.decontaminateSql()),
    row("x20_split", CorpusPrep.qAssignSplit _, TrainSql.assignSplitSql),
    row("x87_training_order", CorpusPrep.qTrainingOrder _, TrainSql.trainingOrderSql),
    row("x21_packing", CorpusPrep.qPackOffsets _, TrainSql.packOffsetsSql()),
    row("x24_mix_sources", CorpusPrep.qMixSources _, TrainSql.mixSourcesSql),
    row("x35_mix_temperature", CorpusPrep.qMixTemperature _, TrainSql.mixTemperatureSql),
    row("x32_token_budget", CorpusPrep.qTokenBudget _, TrainSql.tokenBudgetSql(1000L)),
    row("x42_weighted_sample", CorpusPrep.qWeightedSample _, TrainSql.weightedSampleSql()),
    // x49: grams compare by string in DuckDB (the engine key is internal
    // xxhash64); split buckets replay x20's salted md5-60
    row("x49_split_novelty", CorpusPrep.qSplitNovelty _, TrainSql.splitNoveltySql()),
    // x53/x54: hashed unigram+bigram bucket distributions (target vs raw),
    // add-1-smoothed log-likelihood-ratio scoring, Gumbel-top-k resample
    row("x53_dsir_weights", Dsir.qDsirWeights _, TrainSql.dsirWeightsSql()),
    row("x54_dsir_sample", Dsir.qDsirSample _, TrainSql.dsirSampleSql()),
    // x84: both snapshot versions derive from the committed table; the
    // diff classifies by md5 digest through a full-outer doc_id join
    row("x84_corpus_diff", Snapshots.qCorpusDiff _, TrainSql.corpusDiffSql),
    // x85: order-independent sum-mod-2^63 / XOR fingerprints per source
    row("x85_corpus_manifest", Snapshots.qCorpusManifest _, TrainSql.corpusManifestSql),
    // x62: integer block arithmetic per candidate context length
    row("x62_packing_efficiency", CorpusPrep.qPackingEfficiency _, TrainSql.packingEfficiencySql()),
    row("x28_crossdoc_dup", CorpusPrep.qCrossDocDuplication _, TrainSql.crossDocDuplicationSql()),
  ) ++ cohort("x-retrieval")(
    row("x41_phrase_search", SearchIndex.qPhraseSearch _,
      TrainSql.phraseSearchSql(SearchIndex.DefaultPhrase)),
    // x41b serves x41 from the persisted positional index (built once per
    // corpus fingerprint) — same oracle: the hash proves the written index
    // answers exactly what the inline build would
    row("x41b_phrase_probe", ServedSearch.qPhraseProbeOnly _,
      TrainSql.phraseSearchSql(SearchIndex.DefaultPhrase)),
    row("x44_hybrid_search", HybridSearch.qHybridSearch _, NlpSql.hybridSearchSql(
      SemanticSearch.queryTf(SemanticSearch.DefaultQuery),
      SemanticSearch.tokenize(SemanticSearch.DefaultQuery).distinct,
      SemanticSearch.VocabSize, SemanticSearch.Threshold)),
    // x44b serves x44 from the same persisted index — same oracle
    row("x44b_hybrid_probe", ServedSearch.qHybridProbeOnly _, NlpSql.hybridSearchSql(
      SemanticSearch.queryTf(SemanticSearch.DefaultQuery),
      SemanticSearch.tokenize(SemanticSearch.DefaultQuery).distinct,
      SemanticSearch.VocabSize, SemanticSearch.Threshold)),
    // x47: the RAG capstone — chunk → hashed-TF-IDF embed → IVF retrieve
    // → RRF fuse, replayed end-to-end in DuckDB (the Lloyd chain trains
    // over the DERIVED chunk embeddings; 6-dp rounding at embedding
    // construction is what keeps the trained pipeline hash-reproducible)
    row("x47_rag_retrieve", Rag.qRagRetrieve _, TrainSql.ragRetrieveSql()),
    // x46: the BPE training loop unrolled as chained MATERIALIZED CTEs
    // (the x39 recipe); replace() is the same greedy non-overlapping merge
    // in both engines thanks to the two-space symbol separator
    row("x46_bpe_merges", Bpe.qBpeMerges _, TrainSql.bpeMergesSql(), MemoWarm),
    // x48: the same chain's final state is the segmented vocabulary;
    // documents join it on the word key (the apply pass runs per vocab
    // word, never per token)
    row("x48_bpe_segment", Bpe.qBpeSegment _, TrainSql.bpeSegmentSql()),
    row("x72_wp_vocab", Wordpiece.qWordpieceVocab _, TrainSql.wordpieceVocabSql()),
    row("x73_wp_segment", Wordpiece.qWordpieceSegment _, TrainSql.wordpieceSegmentSql()),
    row("x74_unigram_viterbi", UnigramLm.qUnigramViterbi _, TrainSql.unigramViterbiSql()),
    row("x75_tokenizer_report", UnigramLm.qTokenizerReport _, TrainSql.tokenizerReportSql()),
    row("x80_unigram_em", UnigramLm.qEmStep _, TrainSql.emStepSql()),
    // x61: base BM25 -> feedback top-k -> rounded-TF-IDF expansion terms
    // -> terms-CTE BM25 re-rank
    row("x61_prf_bm25", Relevance.qPrfBm25 _, NlpSql.prfBm25Sql(Relevance.Keywords)),
  )

  /** Run function per row name. */
  lazy val queries: Map[String, Run] = registry.map(q => q.name -> q.run).toMap

  /** Oracle SQL per row name, for every row that has one. */
  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Names of the rows carrying `tag`, in registry order. */
  def tagged(tag: Tag): Seq[String] = registry.filter(_.tags(tag)).map(_.name)
}
