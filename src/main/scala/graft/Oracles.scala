package graft

/** DuckDB oracle SQL for every entry in [[Queries.all]] — including the
  * hash/LSH/sketch-based queries, which project to deterministic
  * SQL-predictable surfaces (planted-duplicate recovery sets, exact
  * reference values + in-bound booleans) so nothing is left to the
  * driver's weaker rows-only check.
  *
  * Each statement is written to be value-identical to the Spark query:
  * decimal-exact sums cast to DOUBLE, identical rounding scales, identical
  * CASE/null semantics, identical ORDER BY keys, and explicit ::INT casts
  * where DuckDB widens to BIGINT (len/length/row_number/date_diff).
  */
object Oracles {

  private val monthlyCte =
    """WITH m AS (
      |  SELECT o_custkey AS custkey,
      |         date_trunc('month', o_orderdate::DATE)::DATE AS month_dt,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amt,
      |         max(o_orderpriority) AS pmax,
      |         count(*) AS cnt
      |  FROM orders GROUP BY 1, 2)""".stripMargin

  /** q_text_bpe_tokens encode replay: each word becomes the
    * separator-wrapped symbol string `~c~~c~...~</w>~` (every symbol
    * wrapped on both sides, so multi-char symbols can never be matched
    * across a boundary), then the FIXED merge table
    * ([[graft.text.Bpe.FixedMerges]]) is applied once per rule in rank
    * order as `replace('~a~~b~' -> '~ab~')` — equivalent to greedy
    * lowest-rank BPE inference because every rule's compound constituent
    * is produced only by an earlier rule (asserted in BpeSpec). Token
    * count = separator-count / 2. `~` is verified absent from the corpus
    * alphabet (BpeSpec). */
  private val bpeReplayExpr: String = {
    val wrapped = """'~' || regexp_replace(w, '(.)', '\1~~', 'g') || '</w>~'"""
    graft.text.Bpe.FixedMerges.foldLeft(wrapped) { case (s, (a, b)) =>
      s"replace($s, '~$a~~$b~', '~$a$b~')"
    }
  }

  val all: Map[String, String] = Map(

    "q_text_bpe_tokens" ->
      s"""WITH words AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS w
         |  FROM documents),
         |enc AS (SELECT doc_id, $bpeReplayExpr AS s FROM words),
         |cnt AS (SELECT doc_id,
         |  (sum((length(s) - length(replace(s, '~', ''))) // 2))::INT AS bpe_tokens
         |  FROM enc GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(c.bpe_tokens, 0) AS bpe_tokens
         |FROM documents d LEFT JOIN cnt c USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q_s1_ingest_scan" ->
      """SELECT l_orderkey, l_linenumber AS line_no, l_quantity, l_extendedprice, l_returnflag
        |FROM lineitem WHERE l_quantity > 30 ORDER BY l_orderkey, line_no""".stripMargin,

    "q_s6_sql_scan" ->
      """SELECT o_orderkey AS order_id, o_custkey AS customer,
        |       o_totalprice AS amount, o_orderpriority AS priority
        |FROM orders
        |WHERE o_custkey IS NOT NULL AND o_orderstatus = 'O' AND o_totalprice > 50000
        |ORDER BY order_id""".stripMargin,

    "q_f14_yearmonth" ->
      """SELECT o_orderkey,
        |  strptime(year(o_orderdate)::VARCHAR || lpad(month(o_orderdate)::VARCHAR, 2, '0'),
        |    '%Y%m')::DATE AS ym_date,
        |  date_diff('month', DATE '1995-01-01', o_orderdate::DATE)::INT AS months_since_epoch,
        |  TRUE AS has_age
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_j6_agg_over" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey) AS DOUBLE)
        |    AS cust_total,
        |  count(*) OVER (PARTITION BY o_custkey) AS cust_orders
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_p2_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem ORDER BY 1, 2",

    "q_p5_expr_filter" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > 150000 AND o_orderstatus = 'F' AND o_custkey IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    "q_p7_max_value_filter" ->
      """SELECT o_orderkey, o_custkey, o_date FROM
        |(SELECT o_orderkey, o_custkey, o_orderdate::DATE AS o_date FROM orders)
        |WHERE o_date = (SELECT max(o_orderdate::DATE) FROM orders) ORDER BY o_orderkey""".stripMargin,

    "q_p9_dedup_first" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |QUALIFY row_number() OVER (PARTITION BY l_orderkey
        |  ORDER BY l_linenumber, l_quantity, l_extendedprice) = 1
        |ORDER BY l_orderkey""".stripMargin,

    "q_p10_na_standardize" ->
      """SELECT c_custkey,
        |  CASE WHEN c_mktsegment IN ('MACHINERY') THEN 'unknown' ELSE c_mktsegment END AS c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_f_textnorm" -> {
      // the full utils.py:344-368 accent fold replayed in DuckDB: lower →
      // ligature replaces (æ→ae, œ→oe) → 1→1 translate — byte-identical
      // to TextNorm.deaccent; phrases interpolated from Queries
      // .AccentPhrases so query and oracle can never drift apart
      val from = "áéíóúàèìòùäëïöüâêîôûãõñçøåāēīōūẽĩũ"
      val to = "aeiouaeiouaeiouaeiouaoncoaaeioueiu"
      val phraseCase = Queries.AccentPhrases.zipWithIndex.map { case (p, i) =>
        s"WHEN $i THEN '${p.replace("'", "''")}'"
      }.mkString("CASE p_partkey % 5 ", " ", " END")
      def fold(e: String) =
        s"translate(replace(replace(lower(trim($e)), 'æ', 'ae'), 'œ', 'oe'), '$from', '$to')"
      def collapse(e: String) =
        s"""regexp_replace(regexp_replace(regexp_replace($e,
           |    '[\\[\\]()* :.;<?/,''&-]', '_', 'g'), '_+', '_', 'g'), '^_+|_+$$', '', 'g')""".stripMargin
      s"""WITH ph AS (SELECT *, $phraseCase AS phrase FROM part)
         |SELECT p_partkey,
         |  ${collapse(fold("p_name"))} AS name_norm,
         |  ${fold("p_brand || ' ' || p_type")} AS brand_type,
         |  ${collapse(fold("phrase"))} AS accent_norm,
         |  ${fold("phrase")} AS accent_soft,
         |  lpad(p_size::VARCHAR, 4, '0') AS size_pad
         |FROM ph ORDER BY p_partkey""".stripMargin
    },

    "q_f7_casemap" ->
      """SELECT c_custkey,
        |  CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 1 WHEN 'BUILDING' THEN 2
        |    WHEN 'FURNITURE' THEN 3 WHEN 'HOUSEHOLD' THEN 4 WHEN 'MACHINERY' THEN 5
        |    ELSE 0 END AS segment_code,
        |  CASE WHEN c_nationkey IN (1, 3, 5, 7) THEN 1 ELSE 0 END AS nation_flag,
        |  CASE WHEN c_name LIKE '%1%' THEN 'has1' ELSE 'no1' END AS name_tag,
        |  1::INT AS const_one
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_f9_shift_date" ->
      """WITH o AS (SELECT o_orderkey, o_orderdate::DATE AS o_date,
        |  (date_trunc('month', o_orderdate::DATE) + INTERVAL 1 MONTH)::DATE AS release_dt FROM orders)
        |SELECT o_orderkey, o_date, release_dt,
        |  strftime(release_dt, '%Y%m') AS release_yyyymm,
        |  date_diff('month', DATE '1995-01-01', release_dt)::INT AS month_idx,
        |  date_diff('day', o_date, release_dt)::INT AS shift_days
        |FROM o ORDER BY o_orderkey""".stripMargin,

    "q_f15_schema_qq" ->
      """SELECT o_orderkey AS order_id,
        |  strptime(strftime(o_orderdate::DATE, '%Y-%m-')
        |    || CASE WHEN day(o_orderdate::DATE) < 16 THEN '01' ELSE '16' END,
        |    '%Y-%m-%d')::DATE AS half_month_dt,
        |  o_totalprice AS amount
        |FROM orders ORDER BY order_id""".stripMargin,

    "q_f16_year_date" ->
      """SELECT o_orderkey,
        |  strptime(year(o_orderdate::DATE)::VARCHAR || '-12-01', '%Y-%m-%d')::DATE
        |    AS year_anchor_dt
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_j5_dim_join" ->
      """SELECT c_custkey, n_name AS nation_name, c_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY c_custkey""".stripMargin,

    "q_f17_safe_ratio" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_quantity <> 0
        |    THEN floor(l_extendedprice / l_quantity * 10000.0 + 0.5) / 10000.0 END AS unit_price,
        |  CASE WHEN l_discount <> 0
        |    THEN floor(l_tax / l_discount * 10000.0 + 0.5) / 10000.0 END AS tax_to_disc_ratio,
        |  round(l_discount / 1.0 * 100, 4) AS disc_pct,
        |  CASE WHEN l_discount <> 0
        |    THEN floor(l_tax / l_discount * 10000.0 + 0.5) / 10000.0 ELSE 0.0 END AS tax_to_disc_or0
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q_f_json" ->
      """SELECT event_id, json_extract_string(props, '$.k')::INT AS prop_k
        |FROM events ORDER BY event_id""".stripMargin,

    "q_j1_scaffold" ->
      """WITH opens AS (SELECT o_custkey AS c_custkey, min(o_orderdate::DATE) AS open_dt
        |    FROM orders GROUP BY 1),
        |  cust AS (SELECT c.c_custkey, open_dt FROM customer c JOIN opens USING (c_custkey)),
        |  months AS (SELECT unnest(generate_series(DATE '1995-01-01', DATE '1995-12-01',
        |    INTERVAL 1 MONTH))::DATE AS release_dt)
        |SELECT c_custkey, release_dt FROM cust CROSS JOIN months
        |WHERE release_dt >= open_dt ORDER BY c_custkey, release_dt""".stripMargin,

    "q_j2_equi_join" ->
      """SELECT o_orderkey, o_custkey AS c_custkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey ORDER BY o_orderkey""".stripMargin,

    "q_j3_pit_join" ->
      """WITH monthly AS (
        |  SELECT o_custkey AS user_id, date_trunc('month', o_orderdate::DATE)::DATE AS month_dt,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amt
        |  FROM orders GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.ts::DATE AS event_date,
        |       m.month_dt AS asof_month, m.amt AS monthly_total
        |FROM events e ASOF LEFT JOIN monthly m
        |  ON e.user_id = m.user_id AND m.month_dt <= e.ts::DATE
        |ORDER BY event_id""".stripMargin,

    // skewed PIT: two hot entities, unique (entity, day) history → ASOF
    // replay is tie-unambiguous
    "q_j3_pit_skew" ->
      """WITH lft AS (SELECT event_id, user_id % 2 AS entity,
        |    ts::DATE AS event_date FROM events),
        |  rgt AS (SELECT user_id % 2 AS entity, ts::DATE AS day,
        |    count(*)::BIGINT AS n_ev FROM events GROUP BY 1, 2)
        |SELECT l.event_id, l.entity, l.event_date,
        |       r.day AS asof_day, r.n_ev
        |FROM lft l ASOF LEFT JOIN rgt r
        |  ON l.entity = r.entity AND r.day <= l.event_date
        |ORDER BY event_id""".stripMargin,

    "q_j4_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01')
        |ORDER BY c_custkey""".stripMargin,

    "q_j7_outer_compare" ->
      """WITH a AS (SELECT date_trunc('month', o_orderdate::DATE)::DATE AS month_dt,
        |    count(*) AS orders_cnt FROM orders GROUP BY 1),
        |  b AS (SELECT date_trunc('month', l_shipdate::DATE)::DATE AS month_dt,
        |    count(*) AS ship_cnt FROM lineitem GROUP BY 1)
        |SELECT COALESCE(a.month_dt, b.month_dt) AS month_dt,
        |  COALESCE(orders_cnt, 0) AS orders_cnt, COALESCE(ship_cnt, 0) AS ship_cnt
        |FROM a FULL OUTER JOIN b ON a.month_dt = b.month_dt ORDER BY month_dt""".stripMargin,

    "q_j8_union_by_name" ->
      """SELECT okey, amount, src, qty FROM (
        |  SELECT o_orderkey AS okey, o_totalprice AS amount, 'orders' AS src, NULL::DOUBLE AS qty
        |  FROM orders
        |  UNION ALL
        |  SELECT l_orderkey, l_extendedprice, NULL, l_quantity FROM lineitem)
        |ORDER BY okey, amount, COALESCE(src, ''), COALESCE(qty, -1.0)""".stripMargin,

    "q_a1_grouped_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
        |  count(*) AS cnt
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_a2_config_agg" ->
      """SELECT o_orderstatus,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS o_totalprice_sum,
        |  CAST(min(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS o_totalprice_min,
        |  CAST(max(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS o_totalprice_max,
        |  count(o_totalprice) AS o_totalprice_count
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_a3_conditional_pivot" ->
      """SELECT o_custkey,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN p ELSE 0 END) AS DOUBLE) AS f_total,
        |  CAST(sum(CASE WHEN o_orderstatus = 'O' THEN p ELSE 0 END) AS DOUBLE) AS o_total,
        |  CAST(sum(CASE WHEN o_orderstatus = 'P' THEN p ELSE 0 END) AS DOUBLE) AS p_total,
        |  sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) > 0 AS ind_f_order,
        |  sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) > 0 AS ind_o_order,
        |  sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) > 0 AS ind_p_order,
        |  CAST(sum(p) AS DOUBLE) AS price_sum_m
        |FROM (SELECT o_custkey, o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_a4_pivot" ->
      """SELECT o_custkey,
        |  count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS "1-URGENT",
        |  count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS "2-HIGH",
        |  count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS "3-MEDIUM",
        |  count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
        |  count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS "5-LOW"
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_a5_scalar_agg" ->
      """SELECT count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  min(l_shipdate::DATE) AS min_ship, max(l_shipdate::DATE) AS max_ship,
        |  count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem""".stripMargin,

    "q_a6_group_counts" ->
      """SELECT event_type, count(*) AS count FROM events GROUP BY 1 ORDER BY 1""",

    "q_a7_distinct_values" ->
      "SELECT DISTINCT o_orderpriority FROM orders ORDER BY 1",

    "q_w1_lag_features" -> (monthlyCte +
      """
        |SELECT custkey, month_dt, amt,
        |  lag(amt, 1) OVER w AS amt_lag_1m,
        |  amt - lag(amt, 1) OVER w AS amt_diff_1m,
        |  CASE WHEN lag(amt, 1) OVER w <> 0
        |    THEN round((amt - lag(amt, 1) OVER w) / (lag(amt, 1) OVER w), 4) END AS amt_roc_1m,
        |  lag(amt, 3) OVER w AS amt_lag_3m,
        |  amt - lag(amt, 3) OVER w AS amt_diff_3m,
        |  CASE WHEN lag(amt, 3) OVER w <> 0
        |    THEN round((amt - lag(amt, 3) OVER w) / (lag(amt, 3) OVER w), 4) END AS amt_roc_3m
        |FROM m WINDOW w AS (PARTITION BY custkey ORDER BY month_dt)
        |ORDER BY custkey, month_dt""".stripMargin),

    "q_w4_rolling_stats" -> (monthlyCte +
      """
        |SELECT custkey, month_dt, amt, pmax,
        |  round(CAST(sum(CAST(amt AS DECIMAL(18,2))) OVER f AS DOUBLE)
        |    / (count(*) OVER f), 4) AS amt_ravg_3m,
        |  round(CASE WHEN count(*) OVER f > 1 THEN
        |    sqrt(greatest(
        |      (CAST(sum(CAST(amt * amt AS DECIMAL(28,4))) OVER f AS DOUBLE)
        |       - CAST(sum(CAST(amt AS DECIMAL(18,2))) OVER f AS DOUBLE)
        |         * CAST(sum(CAST(amt AS DECIMAL(18,2))) OVER f AS DOUBLE) / (count(*) OVER f))
        |      / (count(*) OVER f - 1), 0.0)) END, 4) AS amt_rstd_3m,
        |  min(pmax) OVER f AS pmax_rmin_3m,
        |  max(pmax) OVER f AS pmax_rmax_3m
        |FROM m WINDOW f AS (PARTITION BY custkey ORDER BY month_dt
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY custkey, month_dt""".stripMargin),

    "q_w7_rsi" -> (monthlyCte +
      """,
        |  d AS (SELECT custkey, month_dt,
        |    amt - lag(amt, 1) OVER (PARTITION BY custkey ORDER BY month_dt) AS delta FROM m),
        |  g AS (SELECT custkey, month_dt,
        |    CASE WHEN delta > 0 THEN delta ELSE 0.0 END AS gain,
        |    CASE WHEN delta < 0 THEN abs(delta) ELSE 0.0 END AS loss FROM d)
        |SELECT custkey, month_dt,
        |  round(100.0 - 100.0 / (1.0 + (avg(gain) OVER f)
        |    / COALESCE(CASE WHEN avg(loss) OVER f <> 0 THEN avg(loss) OVER f END, 1.0)), 4)
        |    AS amt_rsi_6m
        |FROM g WINDOW f AS (PARTITION BY custkey ORDER BY month_dt
        |  ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
        |ORDER BY custkey, month_dt""".stripMargin),

    "q_w9_group_max" -> (monthlyCte +
      """,
        |  r AS (SELECT custkey, month_dt,
        |    row_number() OVER (PARTITION BY custkey ORDER BY month_dt)::INT AS seq FROM m)
        |SELECT custkey, month_dt, seq,
        |  max(seq) OVER (PARTITION BY custkey) AS seq_max,
        |  max(seq) OVER (PARTITION BY custkey) - seq AS lags_num,
        |  'lag_' || (max(seq) OVER (PARTITION BY custkey) - seq)::VARCHAR AS lag_label
        |FROM r ORDER BY custkey, month_dt""".stripMargin),

    "q_w11_sliding" -> (monthlyCte +
      """
        |SELECT custkey, month_dt, amt,
        |  round(CAST(sum(CAST(amt AS DECIMAL(18,2))) OVER f AS DOUBLE)
        |    / (count(*) OVER f), 4) AS amt_smean_c1
        |FROM m WINDOW f AS (PARTITION BY custkey ORDER BY month_dt
        |  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        |ORDER BY custkey, month_dt""".stripMargin),

    "q_o1_top1" ->
      """SELECT event_id, event_type, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str
        |FROM events ORDER BY ts DESC, event_id DESC LIMIT 1""".stripMargin,

    "q_stream_tumbling" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        |  event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_stream_sliding" ->
      """WITH exploded AS (
        |  SELECT unnest([time_bucket(INTERVAL '30 minutes', ts),
        |                 time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'])
        |      AS win_start,
        |    event_type, value
        |  FROM events)
        |SELECT strftime(win_start, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM exploded GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_pipeline_monthly" ->
      """WITH i AS (SELECT o_custkey, date_trunc('month', o_orderdate::DATE)::DATE AS month_dt,
        |    o_totalprice FROM orders
        |    WHERE o_custkey IS NOT NULL AND o_custkey <> 999999999),
        |  mo AS (SELECT o_custkey AS customer, month_dt, count(*) AS orders_cnt,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amt_sum
        |    FROM i GROUP BY 1, 2),
        |  f AS (SELECT customer, month_dt, orders_cnt, amt_sum,
        |    CASE WHEN orders_cnt <> 0 THEN round(amt_sum / orders_cnt, 4) END AS avg_order_value,
        |    round(CAST(sum(CAST(amt_sum AS DECIMAL(18,2))) OVER f3 AS DOUBLE)
        |      / (count(*) OVER f3), 4) AS amt_ravg_3m,
        |    CASE WHEN lag(amt_sum, 1) OVER w <> 0
        |      THEN round((amt_sum - lag(amt_sum, 1) OVER w) / (lag(amt_sum, 1) OVER w), 4)
        |      END AS amt_roc_1m
        |    FROM mo WINDOW w AS (PARTITION BY customer ORDER BY month_dt),
        |      f3 AS (PARTITION BY customer ORDER BY month_dt ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
        |SELECT customer::INT AS pk_customer, month_dt AS tpk_release_dt,
        |  orders_cnt::INT AS cord_orders_cnt, amt_sum AS cord_amt_sum,
        |  avg_order_value AS cord_avg_order_value, amt_ravg_3m AS cord_amt_ravg_3m,
        |  amt_roc_1m AS cord_amt_roc_1m
        |FROM f ORDER BY 1, 2""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |  length(text)::INT AS n_chars_calc,
        |  len(regexp_split_to_array(trim(text), '\s+'))::INT AS n_tokens_ws,
        |  round(length(regexp_replace(text, '\s+', '', 'g'))
        |    / greatest(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
        |        x -> x <> '')), 1)::DOUBLE, 4) AS mean_word_len,
        |  round(len(regexp_extract_all(text, '[.,;:!?"''`()\[\]-]'))
        |    / greatest(length(text), 1)::DOUBLE, 4) AS punct_ratio,
        |  round(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |        'that','was','for','on','with','as','at','by','be'], x)))
        |    / greatest(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |        x -> x <> '')), 1)::DOUBLE, 4) AS stopword_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_langid" ->
      """WITH s AS (SELECT doc_id, lang,
        |  len(list_filter(regexp_split_to_array(lower(text), '[^a-záéíóúñü]+'),
        |    x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |      'that','was','for','on','with','as','at','by','be'], x))) AS en_hits,
        |  len(list_filter(regexp_split_to_array(lower(text), '[^a-záéíóúñü]+'),
        |    x -> list_contains(['el','la','los','las','un','una','y','o','de','del',
        |      'que','en','es','por','con','para','se','su','al'], x))) AS es_hits
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE WHEN en_hits = 0 AND es_hits = 0 THEN 'unknown'
        |       WHEN en_hits >= es_hits THEN 'en' ELSE 'es' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_text_repetition" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS words,
        |    regexp_split_to_array(regexp_replace(lower(trim(text)),
        |      '[^a-z0-9áéíóúñü ]', '', 'g'), '\s+') AS toks
        |  FROM documents),
        |seg AS (SELECT doc_id,
        |    len(words) AS nw, len(list_distinct(words)) AS ndw,
        |    coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS cw,
        |    coalesce(list_sum(list_transform(list_distinct(words),
        |      x -> length(x))), 0) AS cdw
        |  FROM d),
        |g AS (SELECT doc_id, length(array_to_string(toks, ' ')) AS nchars,
        |    list_transform(range(1,
        |        (CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END) + 1),
        |      i -> array_to_string(list_slice(toks, i, i + 1), ' ')) AS g2,
        |    list_transform(range(1,
        |        (CASE WHEN len(toks) >= 3 THEN len(toks) - 2 ELSE 0 END) + 1),
        |      i -> array_to_string(list_slice(toks, i, i + 2), ' ')) AS g3
        |  FROM d),
        |a2 AS (SELECT doc_id, max(cnt * glen) AS topcover FROM (
        |    SELECT doc_id, gram, count(*) AS cnt, length(gram) AS glen
        |    FROM (SELECT doc_id, unnest(g2) AS gram FROM g) GROUP BY doc_id, gram)
        |  GROUP BY doc_id),
        |a3 AS (SELECT doc_id,
        |    sum(CASE WHEN cnt > 1 THEN cnt * glen END) AS dupchars,
        |    sum(cnt * glen) AS totchars
        |  FROM (SELECT doc_id, gram, count(*) AS cnt, length(gram) AS glen
        |    FROM (SELECT doc_id, unnest(g3) AS gram FROM g) GROUP BY doc_id, gram)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |  floor((seg.nw - seg.ndw) / greatest(seg.nw, 1)::DOUBLE * 10000 + 0.5)
        |    / 10000 AS dup_word_frac,
        |  floor((seg.cw - seg.cdw) / greatest(seg.cw, 1)::DOUBLE * 10000 + 0.5)
        |    / 10000 AS dup_word_char_frac,
        |  coalesce(floor(a2.topcover / greatest(g.nchars, 1)::DOUBLE * 10000 + 0.5)
        |    / 10000, 0.0) AS top_2gram_char_frac,
        |  coalesce(floor(a3.dupchars / greatest(a3.totchars, 1)::DOUBLE * 10000 + 0.5)
        |    / 10000, 0.0) AS dup_3gram_char_frac
        |FROM d LEFT JOIN seg USING (doc_id) LEFT JOIN g USING (doc_id)
        |  LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_text_redact" ->
      """WITH aug AS (SELECT doc_id,
        |    text || ' contact user' || doc_id::VARCHAR
        |      || '@example.com or call +1 555 01' || (doc_id % 100)::VARCHAR
        |      || ' at 192.168.0.' || (doc_id % 256)::VARCHAR
        |      || ' ref 123456' AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g'),
        |    '\+?[0-9][0-9()\-\. ]{5,}[0-9]', '[PHONE]', 'g'),
        |    '[0-9]{6,}', '[NUMBER]', 'g') AS text_redacted,
        |  len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::INT AS n_emails,
        |  len(regexp_extract_all(text,
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))::INT AS n_ips,
        |  len(regexp_extract_all(text,
        |    '\+?[0-9][0-9()\-\. ]{5,}[0-9]'))::INT AS n_phones,
        |  len(regexp_extract_all(text, '[0-9]{6,}'))::INT AS n_digit_runs
        |FROM aug ORDER BY doc_id""".stripMargin,

    "q_text_boilerplate" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS words
        |  FROM documents),
        |freq AS (SELECT word, count(DISTINCT doc_id) AS df
        |  FROM (SELECT doc_id, unnest(words) AS word FROM d) GROUP BY word),
        |total AS (SELECT count(*) AS n FROM documents),
        |bp AS (SELECT coalesce(list(word), []::VARCHAR[]) AS bad
        |  FROM freq, total WHERE df >= 0.3 * n)
        |SELECT doc_id,
        |  coalesce(array_to_string(list_filter(d.words,
        |    w -> NOT list_contains(bp.bad, w)), ' '), '') AS text_clean,
        |  (len(d.words) - len(list_filter(d.words,
        |    w -> NOT list_contains(bp.bad, w))))::INT AS n_removed
        |FROM d CROSS JOIN bp ORDER BY doc_id""".stripMargin,

    // scrubAdjacentRepeats replay: 1-based index lambda keeps a token iff
    // it differs from its predecessor
    "q_text_scrub_repeats" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |k AS (SELECT doc_id, toks,
        |    list_filter(toks, (x, i) -> i = 1 OR x <> toks[i - 1]) AS kept
        |  FROM d)
        |SELECT doc_id,
        |  coalesce(array_to_string(kept, ' '), '') AS text_scrubbed,
        |  (len(toks) - len(kept))::INT AS n_removed
        |FROM k ORDER BY doc_id""".stripMargin,

    // withCompressionSignals replay: per-code-point unnest → per-(doc, char)
    // counts → the same micro-unit fixed-point entropy terms as the
    // CharEntropy kernel (integer sums, one ln per distinct char; the
    // max(0,·) clamp mirrors the kernel's rounding-slack guard);
    // 5545176 = 8 · 693147 (micro-unit ln 2)
    "q_text_compress_ratio" ->
      """WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |  FROM documents),
        |c AS (SELECT doc_id, ch, count(*)::BIGINT AS cnt
        |  FROM ch GROUP BY doc_id, ch),
        |d AS (SELECT doc_id,
        |    CAST(sum(cnt) AS BIGINT) AS n_chars,
        |    count(*)::INT AS n_distinct_chars,
        |    CAST(sum(CAST(floor(cnt * ln(cnt) * 1e6 + 0.5) AS BIGINT))
        |      AS BIGINT) AS s
        |  FROM c GROUP BY doc_id),
        |e AS (SELECT doc_id, n_chars, n_distinct_chars,
        |    greatest(0, n_chars * CAST(floor(ln(n_chars) * 1e6 + 0.5)
        |      AS BIGINT) - s) // n_chars AS entropy_nats_x1e6
        |  FROM d)
        |SELECT doc.doc_id,
        |  coalesce(e.n_chars, 0) AS n_chars,
        |  coalesce(e.n_distinct_chars, 0) AS n_distinct_chars,
        |  coalesce(e.entropy_nats_x1e6, 0) AS entropy_nats_x1e6,
        |  coalesce((e.entropy_nats_x1e6 * 10000) // 5545176, 0)
        |    AS compress_ratio_x10000
        |FROM documents doc LEFT JOIN e ON doc.doc_id = e.doc_id
        |ORDER BY doc.doc_id""".stripMargin,

    // vocabGrowth: first-seen doc per token -> doc-rank slice -> rollup +
    // running sum; same tokenization as q_text_rarity
    "q_vocab_growth" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |    '\s+'), x -> x <> '')) AS token FROM documents),
        |f AS (SELECT token, min(doc_id) AS first_id FROM tok GROUP BY token),
        |r AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS pos
        |  FROM documents),
        |n AS (SELECT count(*) AS total FROM documents),
        |b AS (SELECT f.token, CAST((r.pos * 10) // n.total + 1 AS INT)
        |    AS corpus_slice
        |  FROM f JOIN r ON f.first_id = r.doc_id, n),
        |g AS (SELECT corpus_slice, count(*) AS new_types FROM b
        |  GROUP BY corpus_slice)
        |SELECT corpus_slice, new_types,
        |  CAST(sum(new_types) OVER (ORDER BY corpus_slice
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_types
        |FROM g ORDER BY corpus_slice""".stripMargin,

    // vocabCoverage: same tokenization as q_text_rarity; running coverage
    // over the (cnt desc, token) vocabulary order
    "q_vocab_coverage" ->
      """WITH tok AS (SELECT unnest(list_filter(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |    '\s+'), x -> x <> '')) AS token FROM documents),
        |c AS (SELECT token, count(*)::BIGINT AS cnt FROM tok GROUP BY token),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
        |r AS (SELECT token, cnt,
        |    row_number() OVER (ORDER BY cnt DESC, token)::INT AS rank,
        |    CAST(sum(cnt) OVER (ORDER BY cnt DESC, token
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_cnt
        |  FROM c)
        |SELECT rank, token, cnt, cum_cnt,
        |  CAST(cum_cnt * 10000 // t.total AS BIGINT) AS coverage_x10000
        |FROM r, t WHERE rank <= 30 ORDER BY rank""".stripMargin,

    "q_text_rarity" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(regexp_replace(lower(trim(text)),
        |      '[^a-z0-9áéíóúñü ]', '', 'g'), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |tot AS (SELECT count(*) AS t FROM tok),
        |r AS (SELECT doc_id, length(((t // c))::VARCHAR) AS rar
        |  FROM tok JOIN cnt USING (token) CROSS JOIN tot),
        |agg AS (SELECT doc_id, count(*) AS n, sum(rar) AS rsum, max(rar) AS rmax
        |  FROM r GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(agg.n, 0)::INT AS n_tokens_lm,
        |  coalesce(floor(agg.rsum / agg.n::DOUBLE * 10000 + 0.5) / 10000, 0.0)
        |    AS rarity_mean,
        |  coalesce(agg.rmax, 0)::INT AS rarity_max
        |FROM d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_text_quantile_filter" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |WHERE rn <= ceil(0.25 * n)
        |ORDER BY doc_id""".stripMargin,

    "q_text_inverted" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(regexp_replace(lower(trim(text)),
        |      '[^a-z0-9áéíóúñü ]', '', 'g'), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |tf AS (SELECT token, doc_id, count(*)::INT AS tf
        |  FROM tok GROUP BY token, doc_id),
        |total AS (SELECT count(*) AS n FROM documents),
        |p AS (SELECT token, doc_id, tf,
        |    row_number() OVER (PARTITION BY token ORDER BY doc_id)::INT
        |      AS posting_rank,
        |    count(*) OVER (PARTITION BY token)::INT AS doc_freq
        |  FROM tf)
        |SELECT token, doc_id, tf, posting_rank, doc_freq
        |FROM p CROSS JOIN total WHERE doc_freq < 0.1 * n
        |ORDER BY token, doc_id""".stripMargin,

    "q_text_tfidf" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(regexp_replace(lower(trim(text)),
        |      '[^a-z0-9áéíóúñü ]', '', 'g'), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |tf AS (SELECT token, doc_id, count(*) AS tf
        |  FROM tok GROUP BY token, doc_id),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
        |total AS (SELECT count(*) AS n FROM documents),
        |s AS (SELECT tf.doc_id,
        |    tf.tf * length(((n // df))::VARCHAR) AS score
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN total),
        |agg AS (SELECT doc_id, sum(score) AS ts, max(score) AS tm
        |  FROM s GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(agg.ts, 0)::INT AS tfidf_sum,
        |  coalesce(agg.tm, 0)::INT AS tfidf_max
        |FROM d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // fixed-point BM25 replay: same digit-count idf bucket as tfidf,
    // k1=1.2/b=0.75 as x10/x100 fixed points, every division an integer
    // DIV in the same order as the Spark side
    "q_text_bm25" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(regexp_replace(lower(trim(text)),
        |      '[^a-z0-9áéíóúñü ]', '', 'g'), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |lens AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM d),
        |totals AS (SELECT count(*)::BIGINT AS n_docs,
        |    sum(dl)::BIGINT AS total_dl FROM lens),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |tf AS (SELECT token, doc_id, count(*)::BIGINT AS tf FROM tok
        |  WHERE token IN ('join', 'vector', 'slow') GROUP BY 1, 2),
        |p AS (SELECT token, doc_id, tf,
        |    count(*) OVER (PARTITION BY token)::BIGINT AS doc_freq FROM tf),
        |s AS (SELECT p.doc_id,
        |    (length((n_docs // doc_freq)::VARCHAR) * tf * 22 * 100000)
        |      // (tf * 1000 + 12 * (25 + (75 * dl) // (total_dl // n_docs)))
        |      AS term_x1000
        |  FROM p JOIN lens USING (doc_id) CROSS JOIN totals),
        |agg AS (SELECT doc_id, sum(term_x1000)::BIGINT AS bm25_x1000
        |  FROM s GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(agg.bm25_x1000, 0)::BIGINT AS bm25_x1000
        |FROM d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """WITH aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text, lang, source, n_chars FROM documents WHERE doc_id < 50)
        |SELECT doc_id, n_chars FROM aug
        |QUALIFY row_number() OVER (
        |  PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |  ORDER BY doc_id) = 1
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_ngram_jaccard" ->
      """WITH aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' graftmarker', lang, source, n_chars
        |  FROM documents WHERE doc_id < 50),
        |  p AS (SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM aug),
        |  j AS (SELECT a.id AS id_a, b.id AS id_b,
        |    floor(len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))::DOUBLE)
        |      * 10000 + 0.5) / 10000 AS jaccard
        |  FROM p a JOIN p b ON a.id < b.id)
        |SELECT id_a, id_b, jaccard FROM j WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // ordered-pair containment |A∩B|/|A| over the same gram CTE; quotes
    // are raw-word prefixes so quote→source containment is exactly 1.0
    "q_dedup_containment" ->
      """WITH aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 30000,
        |    array_to_string(list_slice(
        |      regexp_split_to_array(text, '\s+'), 1, 12), ' '),
        |    lang, source, n_chars
        |  FROM documents WHERE doc_id < 50),
        |  p AS (SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM aug),
        |  j AS (SELECT a.id AS id_a, b.id AS id_b,
        |    len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / len(a.grams) AS c
        |  FROM p a JOIN p b ON a.id <> b.id)
        |SELECT id_a, id_b, floor(c * 10000 + 0.5) / 10000 AS containment
        |FROM j WHERE c >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // recall report at the deterministic 0.9 thresholds: the oracle
    // replays the EXACT pair counts brute-force and asserts full recovery
    // (n_banded = n_hit = n_exact, recall 10000) — see qDedupRecallReport
    // Scaladoc for why recovery is deterministic in this regime; the
    // probabilistic region is measured by datagen.RecallMeasure, not
    // oracle-asserted
    "q_dedup_recall_report" ->
      """WITH aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' graftmarker', lang, source, n_chars
        |  FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT doc_id + 30000,
        |    array_to_string(list_slice(
        |      regexp_split_to_array(text, '\s+'), 1, 12), ' '),
        |    lang, source, n_chars
        |  FROM documents WHERE doc_id < 50),
        |  p AS (SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM aug),
        |  jx AS (SELECT count(*)::BIGINT AS n FROM p a JOIN p b ON a.id < b.id
        |    WHERE floor(len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))::DOUBLE)
        |      * 10000 + 0.5) / 10000 >= 0.9),
        |  cx AS (SELECT count(*)::BIGINT AS n FROM p a JOIN p b ON a.id <> b.id
        |    WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / len(a.grams) >= 0.9)
        |SELECT 'containment_winnow' AS method, n AS n_exact, n AS n_banded,
        |  n AS n_hit, 10000::BIGINT AS recall_x10000 FROM cx
        |UNION ALL
        |SELECT 'minhash_banding', n, n, n, 10000::BIGINT FROM jx
        |ORDER BY method""".stripMargin,

    // production winnow-candidate path, projected to planted quote→source
    // recovery: brute-force containment on the quote/source slice — the
    // lossy candidate stage must recover every pair (winnowing guarantee)
    // and the exact verifier must agree with the brute-force value
    "q_dedup_containment_lsh" ->
      """WITH q AS (
        |  SELECT doc_id + 30000 AS id_a, doc_id AS id_b,
        |    array_to_string(list_slice(
        |      regexp_split_to_array(text, '\s+'), 1, 12), ' ') AS qtext,
        |    text AS stext
        |  FROM documents WHERE doc_id < 50),
        |  p AS (SELECT id_a, id_b,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(qtext)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(qtext)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS ga,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(stext)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(stext)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS gb
        |    FROM q)
        |SELECT id_a, id_b,
        |  floor(len(list_intersect(ga, gb))::DOUBLE / len(ga) * 10000 + 0.5)
        |    / 10000 AS containment
        |FROM p
        |WHERE len(list_intersect(ga, gb))::DOUBLE / len(ga) >= 0.8
        |ORDER BY id_a""".stripMargin,

    // incremental probe replay: ordered batch(quote)→corpus brute force —
    // the persisted-index path must recover exactly the one-shot slice
    "q_dedup_inc_containment" ->
      """WITH q AS (
        |  SELECT doc_id + 30000 AS id,
        |    array_to_string(list_slice(
        |      regexp_split_to_array(text, '\s+'), 1, 12), ' ') AS text
        |  FROM documents WHERE doc_id < 50),
        |  pq AS (SELECT id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM q),
        |  pc AS (SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM documents),
        |  j AS (SELECT a.id AS probe_id, b.id AS id,
        |    len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / len(a.grams) AS c
        |  FROM pq a CROSS JOIN pc b)
        |SELECT probe_id, id, floor(c * 10000 + 0.5) / 10000 AS containment
        |FROM j WHERE c >= 0.8
        |ORDER BY probe_id, id""".stripMargin,

    // the banded incremental probe's planted diagonal: brute-force
    // quote→source containment restricted to b.doc_id = a.id - 30000 —
    // the winnowing guarantee (12 raw words ≥ w+n−1) makes banded
    // recovery of exactly these pairs deterministic, so a candidate-stage
    // miss is a row-count mismatch, not a tolerated loss
    "q_dedup_inc_containment_banded" ->
      """WITH q AS (
        |  SELECT doc_id + 30000 AS id,
        |    array_to_string(list_slice(
        |      regexp_split_to_array(text, '\s+'), 1, 12), ' ') AS text
        |  FROM documents WHERE doc_id < 50),
        |  pq AS (SELECT id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM q),
        |  pc AS (SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM documents),
        |  j AS (SELECT a.id AS probe_id, b.id AS id,
        |    len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / len(a.grams) AS c
        |  FROM pq a JOIN pc b ON b.id = a.id - 30000)
        |SELECT probe_id, id, floor(c * 10000 + 0.5) / 10000 AS containment
        |FROM j WHERE c >= 0.8
        |ORDER BY probe_id""".stripMargin,

    // thresholdCurve replay: same gram/jaccard CTE at candidate threshold
    // 0.4; band recovered from the fixed-point integer j4 (j4 div 1000),
    // docs touched = distinct ids over both pair sides per band
    "q_dedup_threshold_curve" ->
      """WITH aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' graftmarker', lang, source, n_chars
        |  FROM documents WHERE doc_id < 50),
        |  p AS (SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM aug),
        |  j AS (SELECT a.id AS id_a, b.id AS id_b,
        |    floor(len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))::DOUBLE)
        |      * 10000 + 0.5)::BIGINT AS j4
        |  FROM p a JOIN p b ON a.id < b.id),
        |  f AS (SELECT id_a, id_b, (j4 // 1000)::INT AS band FROM j
        |    WHERE j4 >= 4000),
        |  pp AS (SELECT band, count(*)::BIGINT AS n_pairs FROM f GROUP BY band),
        |  dd AS (SELECT band, count(*)::BIGINT AS n_docs FROM
        |    (SELECT DISTINCT band, id FROM
        |      (SELECT band, id_a AS id FROM f
        |       UNION ALL SELECT band, id_b AS id FROM f))
        |    GROUP BY band)
        |SELECT band, n_pairs, n_docs FROM pp JOIN dd USING (band)
        |ORDER BY band""".stripMargin,

    "q_dedup_clusters" ->
      """WITH RECURSIVE aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' graftmarker', lang, source, n_chars
        |  FROM documents WHERE doc_id < 50),
        |  p AS (SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM aug),
        |  pair AS (SELECT a.id AS id_a, b.id AS id_b
        |    FROM p a JOIN p b ON a.id < b.id
        |    WHERE floor(len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))::DOUBLE)
        |      * 10000 + 0.5) / 10000 >= 0.5),
        |  edges AS (SELECT id_a AS src, id_b AS dst FROM pair
        |    UNION SELECT id_b, id_a FROM pair),
        |  reach(id, label) AS (
        |    SELECT DISTINCT src, src FROM edges
        |    UNION
        |    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id)
        |SELECT id, min(label) AS cluster_id FROM reach GROUP BY id
        |ORDER BY id""".stripMargin,

    "q_dedup_inc_exact" ->
      """WITH corpus AS (
        |  SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        |  FROM documents WHERE doc_id % 4 != 0),
        |batch AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nt
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT doc_id + 30000, regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |  FROM documents WHERE doc_id < 50 AND doc_id % 4 != 0
        |  UNION ALL
        |  SELECT doc_id + 40000, regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |  FROM documents WHERE doc_id < 50 AND doc_id % 4 = 0)
        |SELECT b.doc_id,
        |  (b.nt IN (SELECT nt FROM corpus)) AS dup_of_corpus,
        |  (b.nt NOT IN (SELECT nt FROM corpus)
        |    AND b.doc_id = min(b.doc_id) OVER (PARTITION BY b.nt)) AS kept
        |FROM batch b ORDER BY doc_id""".stripMargin,

    "q_dedup_inc_minhash" ->
      """SELECT doc_id + 50000 AS doc_id,
        |  true AS dup_of_corpus, false AS kept
        |FROM documents WHERE doc_id < 50 AND doc_id % 4 != 0
        |ORDER BY doc_id""".stripMargin,

    // planted recovery, deterministic: pigeonhole chunking is
    // recall-COMPLETE for Hamming <= 10 and the one-token-edit markers
    // measure <= 9 from their sources (q_dedup_simhash_pairs contract)
    "q_dedup_inc_simhash" ->
      """SELECT doc_id + 20000 AS doc_id,
        |  true AS dup_of_corpus, false AS kept
        |FROM documents WHERE doc_id < 50
        |ORDER BY doc_id""".stripMargin,

    // incremental SemDeDup: FULL SQL replication (the q_sem_dedup oracle
    // argument extended by the int8 signature stage) — integer-argmin
    // cluster assignment, int8 codes/scale as correctly-rounded IEEE ops,
    // reconstructed-cosine gate; corpus dup = same-cluster stored signature
    // within 0.9, within-batch smaller-id-wins among all batch rows
    "q_dedup_inc_embedding" ->
      """WITH base AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |bat AS (SELECT vec_id + 10000 AS vec_id,
        |    list_transform(range(1, 65),
        |      i -> CASE WHEN i = 1 THEN v[i] + 0.1 ELSE v[i] END) AS v
        |  FROM base WHERE vec_id < 20),
        |allv AS (SELECT 0 AS side, vec_id, v FROM base
        |  UNION ALL SELECT 1 AS side, vec_id, v FROM bat),
        |qv AS (SELECT side, vec_id, v,
        |    list_transform(v, x -> CAST(round(x*1000000) AS BIGINT)) AS q
        |  FROM allv),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, q AS cq
        |  FROM qv WHERE side = 0 AND vec_id < 8),
        |d AS (SELECT qv.side, qv.vec_id, qv.v, c.cidx,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (qv.q[i]-c.cq[i])*(qv.q[i]-c.cq[i]))) AS dist
        |  FROM qv CROSS JOIN c),
        |a AS (SELECT side, vec_id, v, cidx AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY side, vec_id
        |      ORDER BY dist, cidx) AS rn FROM d)
        |  WHERE rn = 1),
        |sg AS (SELECT side, vec_id, cluster,
        |    CASE WHEN ma = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
        |      ELSE list_transform(v,
        |        x -> floor(x * 127.0 / ma + 0.5) * (ma / 127.0))
        |    END AS d8
        |  FROM (SELECT side, vec_id, cluster, v,
        |      list_max(list_transform(v, x -> abs(x))) AS ma FROM a)),
        |cd AS (SELECT DISTINCT b.vec_id
        |  FROM sg b JOIN sg o
        |    ON b.side = 1 AND o.side = 0 AND b.cluster = o.cluster
        |  WHERE list_sum(list_transform(range(1,65), i -> b.d8[i]*o.d8[i]))
        |    / (sqrt(list_sum(list_transform(range(1,65), i -> b.d8[i]*b.d8[i])))
        |     * sqrt(list_sum(list_transform(range(1,65), i -> o.d8[i]*o.d8[i]))))
        |    >= 0.9),
        |bd AS (SELECT DISTINCT y.vec_id
        |  FROM sg x JOIN sg y
        |    ON x.side = 1 AND y.side = 1
        |    AND x.cluster = y.cluster AND x.vec_id < y.vec_id
        |  WHERE list_sum(list_transform(range(1,65), i -> x.d8[i]*y.d8[i]))
        |    / (sqrt(list_sum(list_transform(range(1,65), i -> x.d8[i]*x.d8[i])))
        |     * sqrt(list_sum(list_transform(range(1,65), i -> y.d8[i]*y.d8[i]))))
        |    >= 0.9)
        |SELECT b.vec_id,
        |  (b.vec_id IN (SELECT vec_id FROM cd)) AS dup_of_corpus,
        |  (b.vec_id NOT IN (SELECT vec_id FROM cd)
        |    AND b.vec_id NOT IN (SELECT vec_id FROM bd)) AS kept
        |FROM sg b WHERE b.side = 1 ORDER BY vec_id""".stripMargin,

    "q_pack_chunks" ->
      """WITH d AS (SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents),
        |  c AS (SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
        |  FROM d)
        |SELECT doc_id, n_tokens::INT AS n_tokens, tok_start::BIGINT AS tok_start,
        |  floor(tok_start / 512)::BIGINT AS chunk_first,
        |  greatest(floor((tok_start + n_tokens - 1) / 512),
        |    floor(tok_start / 512))::BIGINT AS chunk_last
        |FROM c ORDER BY doc_id""".stripMargin,

    // shardAssignments replay: Spark's md5(concat_ws('|', doc_id, '42'))
    // order with doc_id tie-break; round-robin shard, integer-div position
    "q_pack_shards" ->
      """WITH r AS (SELECT doc_id,
        |    md5(doc_id::VARCHAR || '|42') AS k FROM documents),
        |  o AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY k, doc_id) - 1 AS r0 FROM r)
        |SELECT doc_id, (r0 % 8)::INT AS shard, (r0 // 8)::BIGINT AS shard_pos
        |FROM o ORDER BY doc_id""".stripMargin,

    // JSONL round-trip: the sink must reproduce exactly the md5-order
    // placement over the SOURCE rows plus the source content — any byte
    // lost or reordered by the JSON encode/decode breaks the hash.
    "q_pack_jsonl_roundtrip" ->
      """WITH r AS (SELECT doc_id,
        |    md5(doc_id::VARCHAR || '|42') AS k FROM documents),
        |  o AS (SELECT doc_id,
        |    row_number() OVER (ORDER BY k, doc_id) - 1 AS r0 FROM r)
        |SELECT d.doc_id, (o.r0 % 8)::INT AS shard, (o.r0 // 8)::BIGINT AS shard_pos,
        |  d.n_chars::BIGINT AS n_chars, d.text
        |FROM o JOIN documents d USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,

    "q_pack_chunks_bpe" ->
      s"""WITH words AS (
         |  SELECT doc_id, unnest(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS w
         |  FROM documents),
         |enc AS (SELECT doc_id, $bpeReplayExpr AS s FROM words),
         |bpe AS (SELECT doc_id,
         |  (sum((length(s) - length(replace(s, '~', ''))) // 2))::INT AS n_tokens
         |  FROM enc GROUP BY doc_id),
         |d AS (SELECT dd.doc_id, coalesce(b.n_tokens, 0) AS n_tokens
         |  FROM documents dd LEFT JOIN bpe b USING (doc_id)),
         |c AS (SELECT doc_id, n_tokens,
         |  coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
         |  FROM d)
         |SELECT doc_id, n_tokens::INT AS n_tokens, tok_start::BIGINT AS tok_start,
         |  floor(tok_start / 512)::BIGINT AS chunk_first,
         |  greatest(floor((tok_start + n_tokens - 1) / 512),
         |    floor(tok_start / 512))::BIGINT AS chunk_last
         |FROM c ORDER BY doc_id""".stripMargin,

    // chunkManifest replay: q_pack_chunks' running-sum CTE + unnest over
    // each doc's [chunk_first, chunk_last] range, span clamps inline
    "q_pack_manifest" ->
      """WITH d AS (SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS tok_start
        |  FROM d),
        |e AS (SELECT doc_id, n_tokens, tok_start,
        |    unnest(range(floor(tok_start / 512)::BIGINT,
        |      greatest(floor((tok_start + n_tokens - 1) / 512),
        |        floor(tok_start / 512))::BIGINT + 1)) AS chunk_id
        |  FROM c WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens::INT AS n_tokens, chunk_id,
        |  greatest(tok_start - chunk_id * 512, 0)::BIGINT AS start_in_chunk,
        |  least(tok_start + n_tokens - chunk_id * 512, 512)::BIGINT AS end_in_chunk
        |FROM e ORDER BY doc_id, chunk_id""".stripMargin,

    // SFT-prep pipeline: scrub → gopher structural gate → md5 train split
    // → length buckets, each stage the verbatim replay of its standalone
    // oracle, chained
    "q_pipe_sft_prep" ->
      """WITH d0 AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sc AS (SELECT doc_id, coalesce(array_to_string(
        |    list_filter(toks, (x, i) -> i = 1 OR x <> toks[i - 1]), ' '), '')
        |    AS text
        |  FROM d0),
        |g0 AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')
        |      AS words,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS n_chars_nws,
        |    len(regexp_extract_all(text, '#'))
        |      + len(regexp_extract_all(text, '\.\.\.|…')) AS n_symbols
        |  FROM sc),
        |gate AS (SELECT doc_id, len(words) AS n_tokens FROM g0
        |  WHERE len(words) >= 20 AND len(words) <= 100000
        |    AND 3 * len(words) <= n_chars_nws
        |    AND n_chars_nws <= 10 * len(words)
        |    AND 10 * n_symbols < len(words)
        |    AND 5 * len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
        |      >= 4 * len(words)),
        |tr AS (SELECT doc_id, n_tokens FROM gate
        |  WHERE ('0x' || substr(md5(concat_ws('|', doc_id, '42')), 1, 15))::UBIGINT
        |    % 1000000000 < 800000000),
        |b AS (SELECT doc_id, n_tokens,
        |    CASE WHEN least(n_tokens, 64) <= 16 THEN 16
        |         WHEN least(n_tokens, 64) <= 32 THEN 32 ELSE 64 END AS bucket_len
        |  FROM tr),
        |r AS (SELECT doc_id, n_tokens, bucket_len,
        |    bucket_len - least(n_tokens, 64) AS pad_tokens,
        |    row_number() OVER (PARTITION BY bucket_len ORDER BY doc_id) - 1
        |      AS seq_in_bucket
        |  FROM b)
        |SELECT doc_id, n_tokens::INT AS n_tokens, bucket_len::INT AS bucket_len,
        |  seq_in_bucket::BIGINT AS seq_in_bucket,
        |  (seq_in_bucket // greatest(1, 256 // bucket_len))::BIGINT
        |    AS batch_in_bucket,
        |  pad_tokens::INT AS pad_tokens
        |FROM r ORDER BY doc_id""".stripMargin,

    // lengthBuckets replay: same ws token count as q_pack_chunks; the
    // {16,32,64} ladder as a CASE; one window per bucket at oracle scale
    "q_pack_length_buckets" ->
      """WITH d AS (SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens
        |  FROM documents),
        |b AS (SELECT doc_id, n_tokens,
        |    CASE WHEN least(n_tokens, 64) <= 16 THEN 16
        |         WHEN least(n_tokens, 64) <= 32 THEN 32 ELSE 64 END AS bucket_len
        |  FROM d),
        |r AS (SELECT doc_id, n_tokens, bucket_len,
        |    bucket_len - least(n_tokens, 64) AS pad_tokens,
        |    n_tokens > 64 AS truncated,
        |    row_number() OVER (PARTITION BY bucket_len ORDER BY doc_id) - 1
        |      AS seq_in_bucket
        |  FROM b)
        |SELECT doc_id, n_tokens::INT AS n_tokens, bucket_len::INT AS bucket_len,
        |  seq_in_bucket::BIGINT AS seq_in_bucket,
        |  (seq_in_bucket // greatest(1, 256 // bucket_len))::BIGINT
        |    AS batch_in_bucket,
        |  pad_tokens::INT AS pad_tokens, truncated
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_text_decontaminate" ->
      """WITH aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' graftmarker', lang, source, n_chars
        |  FROM documents WHERE doc_id < 50),
        |  p AS (SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 4, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 4), ' '))) AS grams
        |    FROM aug),
        |  bench AS (SELECT list_distinct(flatten(list(grams))) AS bg
        |    FROM p WHERE id < 10)
        |SELECT id, len(list_intersect(p.grams, bench.bg))::BIGINT AS n_overlap
        |FROM p, bench
        |WHERE len(list_intersect(p.grams, bench.bg)) >= 2
        |ORDER BY id""".stripMargin,

    // positional replay of the surgical spans: 5-gram stream with
    // 0-based positions, hit set vs the benchmark gram set, consecutive
    // runs via the pos − row_number island trick, minRun filter
    "q_text_contam_spans" ->
      """WITH corp AS (SELECT doc_id AS id,
        |    regexp_split_to_array(regexp_replace(lower(trim(text)),
        |      '[^a-z0-9áéíóúñü ]', '', 'g'), '\s+') AS w
        |  FROM documents),
        |g AS (SELECT id, u.i - 1 AS pos,
        |    array_to_string(list_slice(w, u.i, u.i + 4), ' ') AS gram
        |  FROM corp, unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS u(i)),
        |bq AS (SELECT array_to_string(list_slice(
        |    regexp_split_to_array(text, '\s+'), 5, 12), ' ') AS text
        |  FROM documents WHERE doc_id < 20),
        |bw AS (SELECT regexp_split_to_array(regexp_replace(lower(trim(text)),
        |    '[^a-z0-9áéíóúñü ]', '', 'g'), '\s+') AS w FROM bq),
        |bg AS (SELECT DISTINCT array_to_string(list_slice(w, u.i, u.i + 4), ' ')
        |    AS gram
        |  FROM bw, unnest(range(1, greatest(len(w) - 4, 0) + 1)) AS u(i)),
        |hits AS (SELECT id, pos FROM g JOIN bg USING (gram)),
        |runs AS (SELECT id, pos,
        |    pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS grp
        |  FROM hits)
        |SELECT id, min(pos)::INT AS tok_start,
        |  (max(pos) + 5)::INT AS tok_end,
        |  count(*) AS n_grams
        |FROM runs GROUP BY id, grp
        |HAVING count(*) >= 2
        |ORDER BY id, tok_start""".stripMargin,

    // keepBestPerCluster: the q_dedup_clusters recursive-CTE CC labelling
    // plus one row_number window (score DESC, id ASC) — exactly the
    // Dedup.keepBestPerCluster semantics (singletons self-cluster via the
    // coalesce).
    "q_dedup_keep_best" ->
      """WITH RECURSIVE aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' graftmarker', lang, source, n_chars
        |  FROM documents WHERE doc_id < 50),
        |  p AS (SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM aug),
        |  pair AS (SELECT a.id AS id_a, b.id AS id_b
        |    FROM p a JOIN p b ON a.id < b.id
        |    WHERE floor(len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))::DOUBLE)
        |      * 10000 + 0.5) / 10000 >= 0.5),
        |  edges AS (SELECT id_a AS src, id_b AS dst FROM pair
        |    UNION SELECT id_b, id_a FROM pair),
        |  reach(id, label) AS (
        |    SELECT DISTINCT src, src FROM edges
        |    UNION
        |    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
        |  cl AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
        |SELECT a.doc_id, coalesce(cl.cluster_id, a.doc_id) AS cluster_id,
        |  (row_number() OVER (PARTITION BY coalesce(cl.cluster_id, a.doc_id)
        |     ORDER BY a.n_chars DESC, a.doc_id) = 1) AS kept
        |FROM aug a LEFT JOIN cl ON cl.id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    // LSH chain end-to-end: brute-force exact pairs → CC (recursive CTE) →
    // keep-best window. The Spark side generates candidates by banding and
    // verifies them exactly; the replay can brute-force because at oracle
    // scale all-pairs is feasible — equality rests on banding recall being
    // complete on THIS corpus (every true ≥0.5 pair sits at exact
    // Jaccard ≥ 0.8; TextSimSpec pins LSH-verified ≡ prefix-exact pairs).
    "q_dedup_lsh_clusters" ->
      """WITH RECURSIVE aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' graftmarker', lang, source, n_chars
        |  FROM documents WHERE doc_id < 50),
        |  p AS (SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM aug),
        |  pair AS (SELECT a.id AS id_a, b.id AS id_b
        |    FROM p a JOIN p b ON a.id < b.id
        |    WHERE floor(len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))::DOUBLE)
        |      * 10000 + 0.5) / 10000 >= 0.5),
        |  edges AS (SELECT id_a AS src, id_b AS dst FROM pair
        |    UNION SELECT id_b, id_a FROM pair),
        |  reach(id, label) AS (
        |    SELECT DISTINCT src, src FROM edges
        |    UNION
        |    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
        |  cl AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
        |SELECT a.doc_id, coalesce(cl.cluster_id, a.doc_id) AS cluster_id,
        |  (row_number() OVER (PARTITION BY coalesce(cl.cluster_id, a.doc_id)
        |     ORDER BY a.n_chars DESC, a.doc_id) = 1) AS kept
        |FROM aug a LEFT JOIN cl ON cl.id = a.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    // DSIR importance score replay: same tokenizer as the dedup family,
    // unigrams++bigrams with multiplicity, the portable md5-prefix bucket
    // gate (functions.DsirBuckets), densified add-1-smoothed bucket counts, and
    // the integer decimal-digit-count decade weights — per-doc sums are
    // exact BIGINT so the hash matches bit-for-bit.
    "q_dsir_score" ->
      """WITH docs AS (SELECT doc_id, text, lang FROM documents),
        |toks AS (SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(
        |      regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |      '\s+'), t -> t != '') AS tk
        |  FROM docs),
        |grams AS (SELECT doc_id, lang, unnest(
        |      tk || CASE WHEN len(tk) >= 2 THEN
        |        list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
        |        ELSE []::VARCHAR[] END) AS g
        |  FROM toks),
        |b AS (SELECT doc_id, lang,
        |    (('0x' || substr(md5(g), 1, 15))::UBIGINT % 1024)::BIGINT AS bucket
        |  FROM grams),
        |tcnt AS (SELECT r.range AS bucket, coalesce(c.cnt, 0)::BIGINT AS tcnt
        |  FROM range(1024) r LEFT JOIN
        |    (SELECT bucket, count(*) AS cnt FROM b WHERE lang = 'en' GROUP BY bucket) c
        |    ON r.range = c.bucket),
        |rcnt AS (SELECT r.range AS bucket, coalesce(c.cnt, 0)::BIGINT AS rcnt
        |  FROM range(1024) r LEFT JOIN
        |    (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket) c
        |    ON r.range = c.bucket),
        |tot AS (SELECT ((SELECT sum(tcnt) FROM tcnt) + 1024)::BIGINT AS tt,
        |               ((SELECT sum(rcnt) FROM rcnt) + 1024)::BIGINT AS rt),
        |w AS (SELECT t.bucket,
        |    (length((tot.rt // (r.rcnt + 1))::VARCHAR)
        |     - length((tot.tt // (t.tcnt + 1))::VARCHAR))::INT AS weight
        |  FROM tcnt t JOIN rcnt r ON t.bucket = r.bucket, tot),
        |per AS (SELECT b.doc_id, count(*) AS n, sum(w.weight) AS s
        |  FROM b JOIN w ON b.bucket = w.bucket GROUP BY b.doc_id)
        |SELECT d.doc_id, coalesce(per.n, 0)::INT AS n_grams,
        |  coalesce(per.s, 0)::BIGINT AS dsir_score
        |FROM docs d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // NB log-count-ratio classifier replay: unigram token stream through
    // the same md5 bucket gate, densified conditional counts, w_micro =
    // floor(Δln·1e6 + 0.5) computed once per bucket (one det-rounded
    // double per bucket, the woeTable precedent) — per-doc logit sums are
    // exact BIGINT.
    "q_text_classifier" ->
      """WITH docs AS (SELECT doc_id, text, lang FROM documents),
        |b AS (SELECT doc_id, (lang = 'en') AS pos,
        |    (('0x' || substr(md5(t.tok), 1, 15))::UBIGINT % 512)::BIGINT AS bucket
        |  FROM docs, unnest(list_filter(regexp_split_to_array(
        |      regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |      '\s+'), x -> x != '')) AS t(tok)),
        |cnt AS (SELECT r.range AS bucket,
        |    coalesce(c.n_pos, 0)::BIGINT AS n_pos,
        |    coalesce(c.n_neg, 0)::BIGINT AS n_neg
        |  FROM range(512) r LEFT JOIN
        |    (SELECT bucket, count(*) FILTER (pos) AS n_pos,
        |       count(*) FILTER (NOT pos) AS n_neg
        |     FROM b GROUP BY bucket) c
        |    ON r.range = c.bucket),
        |tot AS (SELECT ((SELECT sum(n_pos) FROM cnt) + 512)::BIGINT AS pt,
        |               ((SELECT sum(n_neg) FROM cnt) + 512)::BIGINT AS nt),
        |w AS (SELECT cnt.bucket,
        |    floor((ln((cnt.n_pos + 1)::DOUBLE / tot.pt)
        |         - ln((cnt.n_neg + 1)::DOUBLE / tot.nt)) * 1e6 + 0.5)::BIGINT AS w_micro
        |  FROM cnt, tot),
        |per AS (SELECT b.doc_id, count(*) AS n, sum(w.w_micro) AS s
        |  FROM b JOIN w ON b.bucket = w.bucket GROUP BY b.doc_id)
        |SELECT d.doc_id, coalesce(per.n, 0)::INT AS n_tokens,
        |  coalesce(per.s, 0)::BIGINT AS logit_micro,
        |  (coalesce(per.s, 0) > 0) AS pred
        |FROM docs d LEFT JOIN per ON d.doc_id = per.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // DSIR resample: the q_dsir_score replay + the per-source top-10%
    // window (integer score DESC, doc_id tie → kept set is exact).
    "q_dsir_resample" ->
      """WITH docs AS (SELECT doc_id, text, lang, source FROM documents),
        |toks AS (SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(
        |      regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |      '\s+'), t -> t != '') AS tk
        |  FROM docs),
        |grams AS (SELECT doc_id, lang, unnest(
        |      tk || CASE WHEN len(tk) >= 2 THEN
        |        list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
        |        ELSE []::VARCHAR[] END) AS g
        |  FROM toks),
        |b AS (SELECT doc_id, lang,
        |    (('0x' || substr(md5(g), 1, 15))::UBIGINT % 1024)::BIGINT AS bucket
        |  FROM grams),
        |tcnt AS (SELECT r.range AS bucket, coalesce(c.cnt, 0)::BIGINT AS tcnt
        |  FROM range(1024) r LEFT JOIN
        |    (SELECT bucket, count(*) AS cnt FROM b WHERE lang = 'en' GROUP BY bucket) c
        |    ON r.range = c.bucket),
        |rcnt AS (SELECT r.range AS bucket, coalesce(c.cnt, 0)::BIGINT AS rcnt
        |  FROM range(1024) r LEFT JOIN
        |    (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket) c
        |    ON r.range = c.bucket),
        |tot AS (SELECT ((SELECT sum(tcnt) FROM tcnt) + 1024)::BIGINT AS tt,
        |               ((SELECT sum(rcnt) FROM rcnt) + 1024)::BIGINT AS rt),
        |w AS (SELECT t.bucket,
        |    (length((tot.rt // (r.rcnt + 1))::VARCHAR)
        |     - length((tot.tt // (t.tcnt + 1))::VARCHAR))::INT AS weight
        |  FROM tcnt t JOIN rcnt r ON t.bucket = r.bucket, tot),
        |per AS (SELECT b.doc_id, count(*) AS n, sum(w.weight) AS s
        |  FROM b JOIN w ON b.bucket = w.bucket GROUP BY b.doc_id),
        |sel AS (SELECT d.doc_id, d.source, coalesce(per.n, 0)::INT AS n_grams,
        |    coalesce(per.s, 0)::BIGINT AS dsir_score
        |  FROM docs d LEFT JOIN per ON d.doc_id = per.doc_id),
        |rk AS (SELECT *,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY dsir_score DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM sel)
        |SELECT doc_id, source, n_grams, dsir_score FROM rk
        |WHERE rn <= ceil(0.1 * n)
        |ORDER BY doc_id""".stripMargin,

    // CCNet-style tiers: the q_dsir_score replay + per-language ntile(3)
    // over (score DESC, doc_id) — standard SQL ntile matches the
    // rankBucketsExact histogram identity tile(i)=floor((i-1)B/n)+1.
    "q_curate_tiers" ->
      """WITH docs AS (SELECT doc_id, text, lang FROM documents),
        |toks AS (SELECT doc_id, lang,
        |    list_filter(regexp_split_to_array(
        |      regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |      '\s+'), t -> t != '') AS tk
        |  FROM docs),
        |grams AS (SELECT doc_id, lang, unnest(
        |      tk || CASE WHEN len(tk) >= 2 THEN
        |        list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
        |        ELSE []::VARCHAR[] END) AS g
        |  FROM toks),
        |b AS (SELECT doc_id, lang,
        |    (('0x' || substr(md5(g), 1, 15))::UBIGINT % 1024)::BIGINT AS bucket
        |  FROM grams),
        |tcnt AS (SELECT r.range AS bucket, coalesce(c.cnt, 0)::BIGINT AS tcnt
        |  FROM range(1024) r LEFT JOIN
        |    (SELECT bucket, count(*) AS cnt FROM b WHERE lang = 'en' GROUP BY bucket) c
        |    ON r.range = c.bucket),
        |rcnt AS (SELECT r.range AS bucket, coalesce(c.cnt, 0)::BIGINT AS rcnt
        |  FROM range(1024) r LEFT JOIN
        |    (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket) c
        |    ON r.range = c.bucket),
        |tot AS (SELECT ((SELECT sum(tcnt) FROM tcnt) + 1024)::BIGINT AS tt,
        |               ((SELECT sum(rcnt) FROM rcnt) + 1024)::BIGINT AS rt),
        |w AS (SELECT t.bucket,
        |    (length((tot.rt // (r.rcnt + 1))::VARCHAR)
        |     - length((tot.tt // (t.tcnt + 1))::VARCHAR))::INT AS weight
        |  FROM tcnt t JOIN rcnt r ON t.bucket = r.bucket, tot),
        |per AS (SELECT b.doc_id, sum(w.weight) AS s
        |  FROM b JOIN w ON b.bucket = w.bucket GROUP BY b.doc_id),
        |sel AS (SELECT d.doc_id, d.lang,
        |    coalesce(per.s, 0)::BIGINT AS dsir_score
        |  FROM docs d LEFT JOIN per ON d.doc_id = per.doc_id)
        |SELECT doc_id, lang, dsir_score,
        |  ntile(3) OVER (PARTITION BY lang
        |    ORDER BY dsir_score DESC, doc_id)::INT AS tier
        |FROM sel ORDER BY doc_id""".stripMargin,

    // C4 line filter: line verdicts + page rollup + rebuilt text replayed
    // with the same split/filter/join string surgery.
    "q_text_c4_filter" ->
      """WITH d AS (SELECT doc_id, text,
        |    string_split(text, chr(10)) AS lines FROM documents),
        |k AS (SELECT doc_id, text, lines,
        |    list_filter(lines, l ->
        |      regexp_matches(rtrim(l), '[.!?"]$')
        |      AND len(list_filter(regexp_split_to_array(trim(l), '\s+'),
        |            w -> w <> '')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM d)
        |SELECT doc_id,
        |  len(lines)::INT AS n_lines,
        |  len(kept)::INT AS n_lines_kept,
        |  coalesce(array_to_string(kept, chr(10)), '') AS clean_text,
        |  contains(lower(text), 'lorem ipsum') AS has_lorem_ipsum,
        |  contains(text, '{') AS has_brace,
        |  (NOT contains(lower(text), 'lorem ipsum') AND NOT contains(text, '{')
        |    AND len(kept) >= 1) AS keep_page
        |FROM k ORDER BY doc_id""".stripMargin,

    // bigram-LM stupid backoff: corpus bigram/unigram counts from the
    // ORIGINAL documents, the aug (corpus ∪ clones) frame scored with the
    // three-level integer decade rule.
    "q_text_bigram_rarity" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' graftmarker'
        |  FROM documents WHERE doc_id < 50),
        |ctoks AS (SELECT list_filter(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |    '\s+'), t -> t != '') AS tk FROM documents),
        |uni AS (SELECT t.tok AS b, count(*)::BIGINT AS c1
        |  FROM ctoks, unnest(tk) AS t(tok) GROUP BY t.tok),
        |big AS (SELECT g.bg, count(*)::BIGINT AS c2
        |  FROM (SELECT unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i + 1])) AS bg
        |    FROM ctoks WHERE len(tk) >= 2) g GROUP BY g.bg),
        |tot AS (SELECT (SELECT sum(c2) FROM big)::BIGINT AS t2,
        |               (SELECT sum(c1) FROM uni)::BIGINT AS t1),
        |stoks AS (SELECT doc_id, list_filter(regexp_split_to_array(
        |    regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |    '\s+'), t -> t != '') AS tk FROM aug),
        |strans AS (SELECT doc_id, g.bg,
        |    string_split(g.bg, ' ')[2] AS b
        |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |      i -> tk[i] || ' ' || tk[i + 1])) AS bg
        |    FROM stoks WHERE len(tk) >= 2) g),
        |sc AS (SELECT s.doc_id,
        |    CASE WHEN big.c2 IS NOT NULL
        |           THEN length((tot.t2 // big.c2)::VARCHAR)
        |         WHEN uni.c1 IS NOT NULL
        |           THEN 1 + length((tot.t1 // uni.c1)::VARCHAR)
        |         ELSE 2 + length(tot.t1::VARCHAR) END::BIGINT AS r
        |  FROM strans s
        |  LEFT JOIN big ON s.bg = big.bg
        |  LEFT JOIN uni ON s.b = uni.b, tot),
        |per AS (SELECT doc_id, count(*) AS n, sum(r) AS s, max(r) AS m
        |  FROM sc GROUP BY doc_id)
        |SELECT a.doc_id, coalesce(per.n, 0)::INT AS n_transitions,
        |  coalesce(per.s, 0)::BIGINT AS bigram_rarity,
        |  coalesce(per.m, 0)::INT AS bigram_rarity_max
        |FROM aug a LEFT JOIN per ON a.doc_id = per.doc_id
        |ORDER BY a.doc_id""".stripMargin,

    // recall@10 of int8-quantized search vs exact: BOTH candidate sets
    // are full SQL replications — quantization is the bit-exact
    // q_sim_int8_quantize replay, dequantization one IEEE multiply, and
    // both rankings reuse the round-6 + neighbor-id tie rule of the green
    // q_sim_bruteforce_topk; recall is integer set arithmetic on top.
    "q_sim_recall_int8" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) AS maxabs
        |  FROM e),
        |dq AS (SELECT vec_id,
        |    CASE WHEN maxabs = 0.0 THEN list_transform(v, x -> 0.0)
        |      ELSE list_transform(v,
        |        x -> floor(x * 127.0 / maxabs + 0.5) * (maxabs / 127.0))
        |    END AS v
        |  FROM m),
        |ex AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      round(list_dot_product(c.v, q.v)
        |        / (sqrt(list_dot_product(c.v, c.v))
        |         * sqrt(list_dot_product(q.v, q.v))), 6) AS cs
        |    FROM e c CROSS JOIN e q
        |    WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) <= 10),
        |ap AS (SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      round(list_dot_product(c.v, q.v)
        |        / (sqrt(list_dot_product(c.v, c.v))
        |         * sqrt(list_dot_product(q.v, q.v))), 6) AS cs
        |    FROM dq c CROSS JOIN dq q
        |    WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id)
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY cs DESC, neighbor_id) <= 10)
        |SELECT x.query_id, count(*)::INT AS n_exact,
        |  count(a.neighbor_id)::INT AS n_hits,
        |  ((count(a.neighbor_id) * 100) // 10)::INT AS recall_pct
        |FROM ex x LEFT JOIN ap a
        |  ON x.query_id = a.query_id AND x.neighbor_id = a.neighbor_id
        |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin,

    // temperature mixture: keep_n = min(n, floor(3·√n)) per language —
    // sqrt/multiply are correctly-rounded IEEE ops, the draw order is the
    // md5 portable-hash convention of q_p14_group_sample.
    "q_curate_temperature" ->
      """WITH cnt AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |k AS (SELECT lang,
        |    least(n, CAST(floor(3.0 * sqrt(CAST(n AS DOUBLE))) AS BIGINT))
        |      AS keep_n
        |  FROM cnt),
        |r AS (SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(concat_ws('|', CAST(doc_id AS VARCHAR), '42')),
        |        doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, lang FROM r JOIN k USING (lang)
        |WHERE rn <= keep_n ORDER BY doc_id""".stripMargin,

    // unimaxAllocation replay: the integer greedy as a recursive CTE —
    // groups ascending by (n, lang), each takes min(cap·n, rem/left)
    "q_mix_unimax" ->
      """WITH RECURSIVE t AS (
        |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |o AS (SELECT lang, n,
        |    CAST(row_number() OVER (ORDER BY n, lang) AS INT) AS i,
        |    CAST(count(*) OVER () AS INT) AS k
        |  FROM t),
        |g AS (
        |  SELECT 0 AS i,
        |    CAST((SELECT sum(n) FROM t) * 50 // 100 AS BIGINT) AS rem,
        |    CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS n,
        |    CAST(NULL AS BIGINT) AS alloc
        |  UNION ALL
        |  SELECT o.i,
        |    g.rem - least(o.n * 120 // 100, g.rem // (o.k - g.i)),
        |    o.lang, o.n,
        |    least(o.n * 120 // 100, g.rem // (o.k - g.i))
        |  FROM g JOIN o ON o.i = g.i + 1)
        |SELECT lang, n AS n_units, alloc AS alloc_units,
        |  CAST(alloc * 10000 // n AS BIGINT) AS epochs_x10000
        |FROM g WHERE lang IS NOT NULL ORDER BY lang""".stripMargin,

    // unimaxRepetitionPlan replay: the allocation CTE + a per-language
    // md5-order running sum; +1 repeat while cum-before < remainder
    "q_mix_unimax_plan" ->
      """WITH RECURSIVE t AS (
        |  SELECT lang, CAST(sum(n_chars) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |o AS (SELECT lang, n,
        |    CAST(row_number() OVER (ORDER BY n, lang) AS INT) AS i,
        |    CAST(count(*) OVER () AS INT) AS k
        |  FROM t),
        |g AS (
        |  SELECT 0 AS i,
        |    CAST((SELECT sum(n) FROM t) * 50 // 100 AS BIGINT) AS rem,
        |    CAST(NULL AS VARCHAR) AS lang, CAST(NULL AS BIGINT) AS n,
        |    CAST(NULL AS BIGINT) AS alloc
        |  UNION ALL
        |  SELECT o.i,
        |    g.rem - least(o.n * 120 // 100, g.rem // (o.k - g.i)),
        |    o.lang, o.n,
        |    least(o.n * 120 // 100, g.rem // (o.k - g.i))
        |  FROM g JOIN o ON o.i = g.i + 1),
        |a AS (SELECT lang, alloc // n AS f, alloc % n AS r
        |  FROM g WHERE lang IS NOT NULL),
        |c AS (SELECT doc_id, lang, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY lang
        |      ORDER BY md5(concat_ws('|', doc_id, '42')), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM documents)
        |SELECT c.doc_id, c.lang, c.n_chars,
        |  CAST(a.f + CASE WHEN c.cb < a.r THEN 1 ELSE 0 END AS BIGINT)
        |    AS n_repeats
        |FROM c JOIN a USING (lang) ORDER BY c.doc_id""".stripMargin,

    // fuzzyContamination planted recovery (diagonal projection, same
    // contract as q_dedup_minhash_pairs): every original (doc_id < 50)
    // must recover its own +50000 clone; the unprojected edge list also
    // (correctly) flags natural near-dups of the cloned docs, which are
    // not SQL-predictable — TextSimSpec covers that surface
    "q_decontam_fuzzy" ->
      """SELECT doc_id AS id, doc_id + 50000 AS bench_id
        |FROM documents WHERE doc_id < 50 ORDER BY id""".stripMargin,

    // incremental probe over the seeded band/signature stores recovers
    // the identical plant (probe ≡ one-shot equality is spec-asserted)
    "q_decontam_inc" ->
      """SELECT doc_id AS id, doc_id + 50000 AS bench_id
        |FROM documents WHERE doc_id < 50 ORDER BY id""".stripMargin,

    // version-diff replay: rebuild both snapshot versions as CTEs and
    // compare column-by-column (IS DISTINCT FROM = the null-aware compare
    // the store implements as a null-indicator-folded hash)
    "q_store_version_diff" ->
      """WITH v0 AS (
        |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier),
        |v1 AS (
        |  SELECT s_suppkey, s_name, s_nationkey,
        |    CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 10
        |         ELSE s_acctbal END AS s_acctbal
        |  FROM supplier WHERE s_suppkey % 7 <> 0
        |  UNION ALL
        |  SELECT -s_suppkey - 1, s_name, s_nationkey, s_acctbal
        |  FROM supplier WHERE s_suppkey < 10),
        |j AS (SELECT coalesce(v0.s_suppkey, v1.s_suppkey) AS s_suppkey,
        |    CASE WHEN v0.s_suppkey IS NULL THEN 'added'
        |         WHEN v1.s_suppkey IS NULL THEN 'removed'
        |         WHEN v0.s_name IS DISTINCT FROM v1.s_name
        |           OR v0.s_nationkey IS DISTINCT FROM v1.s_nationkey
        |           OR v0.s_acctbal IS DISTINCT FROM v1.s_acctbal
        |           THEN 'updated' END AS change
        |  FROM v0 FULL OUTER JOIN v1 ON v0.s_suppkey = v1.s_suppkey)
        |SELECT s_suppkey, change FROM j WHERE change IS NOT NULL
        |ORDER BY s_suppkey""".stripMargin,

    // data card: all-integer per-source rollup; duplicate mass counted on
    // the md5 normalized-text fingerprint (q_text_fingerprint_md5 replay).
    "q_data_card" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(text)) AS BIGINT) AS total_chars,
        |  CAST(min(len(text)) AS INT) AS min_chars,
        |  CAST(max(len(text)) AS INT) AS max_chars,
        |  CAST((sum(len(text)) * 100) // count(*) AS BIGINT) AS mean_chars_x100,
        |  CAST(count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS INT)
        |    AS n_distinct_texts,
        |  CAST(count(*) - count(DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))) AS INT)
        |    AS n_dup_docs,
        |  CAST(count(DISTINCT lang) AS INT) AS n_distinct_lang
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // incremental IVF postings: seeding the corpus then upserting the
    // batch must equal the one-shot fixed-centroid assignment (integer
    // argmin makes increment order invisible) — the q_cluster_assign
    // replay over the whole table, keyed as (id, cluster).
    "q_sim_inc_index" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        |  FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, v AS cv
        |  FROM q WHERE vec_id < 8),
        |d AS (SELECT q.vec_id, c.cidx,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]))) AS dist
        |  FROM q CROSS JOIN c),
        |r AS (SELECT vec_id, cidx,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cidx) AS rn
        |  FROM d)
        |SELECT vec_id AS id, CAST(cidx AS INT) AS cluster FROM r WHERE rn = 1
        |ORDER BY id""".stripMargin,

    // IVF drift statistic: distance to the ASSIGNED centroid is the argmin
    // distance, so aggregate the winning row's exact integer dist per
    // cluster; sum div n on non-negative BIGINTs is engine-identical
    "q_sim_ivf_drift" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        |  FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, v AS cv
        |  FROM q WHERE vec_id < 8),
        |d AS (SELECT q.vec_id, c.cidx,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]))) AS dist
        |  FROM q CROSS JOIN c),
        |r AS (SELECT vec_id, cidx, dist,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cidx) AS rn
        |  FROM d)
        |SELECT CAST(cidx AS INT) AS cluster, count(*) AS n,
        |  (CAST(sum(dist) AS BIGINT) // count(*)) AS mean_sqdist
        |FROM r WHERE rn = 1 GROUP BY cidx ORDER BY cluster""".stripMargin,

    // tokenizer fertility: chars per proxy-BPE token, integer DIV of
    // exact BIGINT sums (regex replay of the green q_text_fingerprint
    // n_tokens_bpe convention).
    "q_token_fertility" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(len(text)) AS BIGINT) AS total_chars,
        |  CAST(sum(len(regexp_extract_all(text,
        |    '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))) AS BIGINT)
        |    AS total_tokens_bpe,
        |  CAST(CASE WHEN sum(len(regexp_extract_all(text,
        |      '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))) = 0 THEN NULL
        |    ELSE (sum(len(text)) * 100) // sum(len(regexp_extract_all(text,
        |      '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]')))
        |    END AS BIGINT) AS chars_per_token_x100
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // flagship curation pipeline: md5-fingerprint keep-first → langid +
    // length gate → temperature mixture per predicted language — every
    // stage reuses an already-green oracle fragment; the hash certifies
    // the COMPOSITION.
    "q_pipe_curation" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
        |s1 AS (SELECT doc_id, text,
        |    row_number() OVER (
        |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |      ORDER BY doc_id) = 1 AS kept_dedup
        |  FROM aug),
        |l AS (SELECT doc_id, kept_dedup, len(text) AS n_chars,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-záéíóúñü]+'),
        |      x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |        'that','was','for','on','with','as','at','by','be'], x))) AS en_hits,
        |    len(list_filter(regexp_split_to_array(lower(text), '[^a-záéíóúñü]+'),
        |      x -> list_contains(['el','la','los','las','un','una','y','o','de','del',
        |        'que','en','es','por','con','para','se','su','al'], x))) AS es_hits
        |  FROM s1),
        |s2 AS (SELECT doc_id,
        |    CASE WHEN en_hits = 0 AND es_hits = 0 THEN 'unknown'
        |         WHEN en_hits >= es_hits THEN 'en' ELSE 'es' END AS lang_pred,
        |    kept_dedup,
        |    kept_dedup AND NOT (en_hits = 0 AND es_hits = 0)
        |      AND n_chars >= 200 AS kept_quality
        |  FROM l),
        |surv AS (SELECT doc_id, lang_pred FROM s2 WHERE kept_quality),
        |k AS (SELECT lang_pred,
        |    least(n, CAST(floor(4.0 * sqrt(CAST(n AS DOUBLE))) AS BIGINT))
        |      AS keep_n
        |  FROM (SELECT lang_pred, count(*) AS n FROM surv GROUP BY lang_pred)),
        |r AS (SELECT doc_id, lang_pred,
        |    row_number() OVER (PARTITION BY lang_pred
        |      ORDER BY md5(concat_ws('|', CAST(doc_id AS VARCHAR), '42')),
        |        doc_id) AS rn
        |  FROM surv)
        |SELECT s2.doc_id, s2.lang_pred, s2.kept_dedup, s2.kept_quality,
        |  coalesce(r.rn <= k.keep_n, FALSE) AS kept_sample
        |FROM s2
        |LEFT JOIN r ON s2.doc_id = r.doc_id
        |LEFT JOIN k ON r.lang_pred = k.lang_pred
        |ORDER BY s2.doc_id""".stripMargin,

    // cross-source 3-gram overlap: distinct (source, gram) sets, pair
    // counts via the gram self-join, Jaccard as the repo-standard
    // tie-free fixed-point round (token/gram replay verbatim from the
    // green q_dedup_ngram_jaccard oracle).
    "q_source_overlap" ->
      """WITH g AS (SELECT source,
        |    unnest(list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' ')))) AS gram
        |  FROM documents),
        |d AS (SELECT DISTINCT source, gram FROM g),
        |t AS (SELECT source, count(*) AS n FROM d GROUP BY source),
        |s AS (SELECT a.source AS group_a, b.source AS group_b,
        |    count(*) AS shared_grams
        |  FROM d a JOIN d b ON a.gram = b.gram AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT group_a, group_b, shared_grams, ta.n AS n_a, tb.n AS n_b,
        |  floor(shared_grams::DOUBLE / (ta.n + tb.n - shared_grams) * 10000
        |    + 0.5) / 10000 AS jaccard
        |FROM s
        |JOIN t ta ON s.group_a = ta.source
        |JOIN t tb ON s.group_b = tb.source
        |ORDER BY group_a, group_b""".stripMargin,

    // vocabulary frequency spectrum: the q_text_rarity token/count replay
    // collapsed by digit-count decade — all-integer.
    "q_vocab_spectrum" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(regexp_replace(lower(trim(text)),
        |      '[^a-z0-9áéíóúñü ]', '', 'g'), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(toks) AS token FROM d),
        |cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY token)
        |SELECT CAST(length(c::VARCHAR) AS INT) AS freq_decade,
        |  count(*) AS n_types, CAST(sum(c) AS BIGINT) AS n_tokens
        |FROM cnt GROUP BY 1 ORDER BY 1""".stripMargin,

    // per-doc novelty: distinct (doc, 3-gram) pairs, gram attributed to
    // its min doc_id; clones at +10000 score 0 new grams by construction.
    "q_doc_novelty" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text FROM documents WHERE doc_id < 50),
        |p AS (SELECT doc_id,
        |    unnest(list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' ')))) AS gram
        |  FROM aug),
        |f AS (SELECT gram, min(doc_id) AS first_id FROM p GROUP BY gram),
        |a AS (SELECT doc_id, count(*) AS n_grams,
        |    sum(CASE WHEN doc_id = first_id THEN 1 ELSE 0 END) AS n_new
        |  FROM p JOIN f USING (gram) GROUP BY doc_id)
        |SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
        |  CAST(n_new AS BIGINT) AS n_new,
        |  CAST((n_new * 10000) // n_grams AS INT) AS novelty_x10000
        |FROM a ORDER BY doc_id""".stripMargin,

    // classifier→curation: NB weights fitted on the doc_id%3=0 labeled
    // split only, the disjoint remainder scored and filtered to pred.
    "q_clf_curate" ->
      """WITH docs AS (SELECT doc_id, text, lang FROM documents),
        |b AS (SELECT doc_id, (lang = 'en') AS pos,
        |    (('0x' || substr(md5(t.tok), 1, 15))::UBIGINT % 512)::BIGINT AS bucket
        |  FROM docs, unnest(list_filter(regexp_split_to_array(
        |      regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |      '\s+'), x -> x != '')) AS t(tok)),
        |cnt AS (SELECT r.range AS bucket,
        |    coalesce(c.n_pos, 0)::BIGINT AS n_pos,
        |    coalesce(c.n_neg, 0)::BIGINT AS n_neg
        |  FROM range(512) r LEFT JOIN
        |    (SELECT bucket, count(*) FILTER (pos) AS n_pos,
        |       count(*) FILTER (NOT pos) AS n_neg
        |     FROM b WHERE doc_id % 3 = 0 GROUP BY bucket) c
        |    ON r.range = c.bucket),
        |tot AS (SELECT ((SELECT sum(n_pos) FROM cnt) + 512)::BIGINT AS pt,
        |               ((SELECT sum(n_neg) FROM cnt) + 512)::BIGINT AS nt),
        |w AS (SELECT cnt.bucket,
        |    floor((ln((cnt.n_pos + 1)::DOUBLE / tot.pt)
        |         - ln((cnt.n_neg + 1)::DOUBLE / tot.nt)) * 1e6 + 0.5)::BIGINT AS w_micro
        |  FROM cnt, tot),
        |per AS (SELECT b.doc_id, count(*) AS n, sum(w.w_micro) AS s
        |  FROM b JOIN w ON b.bucket = w.bucket
        |  WHERE b.doc_id % 3 != 0 GROUP BY b.doc_id)
        |SELECT d.doc_id, coalesce(per.n, 0)::INT AS n_tokens,
        |  coalesce(per.s, 0)::BIGINT AS logit_micro
        |FROM docs d LEFT JOIN per ON d.doc_id = per.doc_id
        |WHERE d.doc_id % 3 != 0 AND coalesce(per.s, 0) > 0
        |ORDER BY d.doc_id""".stripMargin,

    // calibration: the q_clf_curate train+score replay rolled up into
    // signed-magnitude-decade bins (no signed division — floor-vs-truncate
    // differs across engines) with exact positive rates
    "q_clf_calibration" ->
      """WITH docs AS (SELECT doc_id, text, lang FROM documents),
        |b AS (SELECT doc_id, (lang = 'en') AS pos,
        |    (('0x' || substr(md5(t.tok), 1, 15))::UBIGINT % 512)::BIGINT AS bucket
        |  FROM docs, unnest(list_filter(regexp_split_to_array(
        |      regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |      '\s+'), x -> x != '')) AS t(tok)),
        |cnt AS (SELECT r.range AS bucket,
        |    coalesce(c.n_pos, 0)::BIGINT AS n_pos,
        |    coalesce(c.n_neg, 0)::BIGINT AS n_neg
        |  FROM range(512) r LEFT JOIN
        |    (SELECT bucket, count(*) FILTER (pos) AS n_pos,
        |       count(*) FILTER (NOT pos) AS n_neg
        |     FROM b WHERE doc_id % 3 = 0 GROUP BY bucket) c
        |    ON r.range = c.bucket),
        |tot AS (SELECT ((SELECT sum(n_pos) FROM cnt) + 512)::BIGINT AS pt,
        |               ((SELECT sum(n_neg) FROM cnt) + 512)::BIGINT AS nt),
        |w AS (SELECT cnt.bucket,
        |    floor((ln((cnt.n_pos + 1)::DOUBLE / tot.pt)
        |         - ln((cnt.n_neg + 1)::DOUBLE / tot.nt)) * 1e6 + 0.5)::BIGINT AS w_micro
        |  FROM cnt, tot),
        |per AS (SELECT b.doc_id, sum(w.w_micro) AS s
        |  FROM b JOIN w ON b.bucket = w.bucket
        |  WHERE b.doc_id % 3 != 0 GROUP BY b.doc_id),
        |sc AS (SELECT d.doc_id, (d.lang = 'en') AS is_en,
        |    coalesce(per.s, 0)::BIGINT AS logit
        |  FROM docs d LEFT JOIN per ON d.doc_id = per.doc_id
        |  WHERE d.doc_id % 3 != 0),
        |bb AS (SELECT (CASE WHEN logit = 0 THEN 0
        |    ELSE (CASE WHEN logit > 0 THEN 1 ELSE -1 END)
        |      * length(abs(logit)::VARCHAR) END)::INT AS bin, is_en
        |  FROM sc)
        |SELECT bin, count(*)::BIGINT AS n_docs,
        |  (count(*) FILTER (is_en))::BIGINT AS n_true,
        |  ((count(*) FILTER (is_en)) * 10000 // count(*))::BIGINT
        |    AS true_rate_x10000
        |FROM bb GROUP BY bin ORDER BY bin""".stripMargin,

    // Gopher rule battery: integer cross-multiplication verdicts replayed
    // over the same tokenizations (whitespace words, newline lines).
    "q_text_gopher_rules" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(trim(text), '\s+'),
        |      x -> x <> '') AS words,
        |    string_split(text, chr(10)) AS lines,
        |    length(regexp_replace(text, '\s+', '', 'g')) AS n_chars_nws,
        |    len(regexp_extract_all(text, '#'))
        |      + len(regexp_extract_all(text, '\.\.\.|…')) AS n_symbols
        |  FROM documents),
        |c AS (SELECT doc_id,
        |    len(words)::INT AS n_words,
        |    n_chars_nws::INT AS n_chars_nws,
        |    n_symbols::INT AS n_symbols,
        |    len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::INT
        |      AS n_alpha_words,
        |    len(list_intersect(list_distinct(list_transform(words, x -> lower(x))),
        |      ['the','be','to','of','and','that','have','with']))::INT
        |      AS n_req_stopwords,
        |    len(lines)::INT AS n_lines,
        |    len(list_filter(lines, l -> regexp_matches(ltrim(l), '^(•|\*\s|-\s)')))::INT
        |      AS n_bullet_lines,
        |    len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\.\.\.|…)$')))::INT
        |      AS n_ellipsis_lines
        |  FROM d)
        |SELECT doc_id, n_words, n_chars_nws, n_symbols, n_alpha_words,
        |  n_req_stopwords,
        |  (n_words >= 20 AND n_words <= 100000) AS r_word_count,
        |  (3 * n_words <= n_chars_nws AND n_chars_nws <= 10 * n_words)
        |    AS r_mean_word_len,
        |  (10 * n_symbols < n_words) AS r_symbol_ratio,
        |  (5 * n_alpha_words >= 4 * n_words) AS r_alpha_words,
        |  (10 * n_bullet_lines <= 9 * n_lines) AS r_bullet_lines,
        |  (10 * n_ellipsis_lines <= 3 * n_lines) AS r_ellipsis_lines,
        |  (n_req_stopwords >= 2) AS r_stopwords,
        |  ((n_words >= 20 AND n_words <= 100000)
        |   AND (3 * n_words <= n_chars_nws AND n_chars_nws <= 10 * n_words)
        |   AND (10 * n_symbols < n_words)
        |   AND (5 * n_alpha_words >= 4 * n_words)
        |   AND (10 * n_bullet_lines <= 9 * n_lines)
        |   AND (10 * n_ellipsis_lines <= 3 * n_lines)
        |   AND (n_req_stopwords >= 2)) AS pass
        |FROM c ORDER BY doc_id""".stripMargin,

    // int8 quantization: maxabs selection + one correctly-rounded divide/
    // multiply per element — bit-exact replay, codes and scale both.
    "q_sim_int8_quantize" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |    coalesce(list_max(list_transform(v, x -> abs(x))), 0.0) AS maxabs
        |  FROM e)
        |SELECT vec_id, maxabs / 127.0 AS scale,
        |  coalesce(array_to_string(
        |    CASE WHEN maxabs = 0.0 THEN list_transform(v, x -> '0')
        |      ELSE list_transform(v,
        |        x -> (floor(x * 127.0 / maxabs + 0.5)::INT)::VARCHAR)
        |    END, ','), '') AS codes_csv
        |FROM m ORDER BY vec_id""".stripMargin,

    "q_sim_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |    FROM embeddings WHERE vec_id < 5),
        |  c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |  scored AS (SELECT query_id, neighbor_id,
        |    round(list_dot_product(cv, qv)
        |      / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6)
        |      AS cosine_sim
        |    FROM c CROSS JOIN q WHERE neighbor_id <> query_id)
        |SELECT query_id, neighbor_id, cosine_sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id)::INT
        |    AS rank
        |FROM scored
        |QUALIFY rank <= 10
        |ORDER BY query_id, rank""".stripMargin,

    // hardNegativesTopK: same full-SQL cosine replica as bruteforce_topk,
    // restricted to label-mismatched pairs
    // knnDensity replay: cosine to the full anchor panel, rank window with
    // the (sim desc, anchor id) tie rule, keep exactly rank k = 8
    "q_sim_knn_density" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings),
        |  a AS (SELECT vec_id AS aid, embedding::DOUBLE[] AS av
        |    FROM embeddings WHERE vec_id < 64),
        |  s AS (SELECT v.vec_id, a.aid,
        |    round(list_dot_product(vv, av)
        |      / (sqrt(list_dot_product(vv, vv)) * sqrt(list_dot_product(av, av))), 6)
        |      AS sim
        |    FROM v CROSS JOIN a WHERE v.vec_id <> a.aid),
        |  r AS (SELECT vec_id, sim,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, aid) AS rn
        |    FROM s)
        |SELECT vec_id, sim AS knn_sim FROM r WHERE rn = 8
        |ORDER BY vec_id""".stripMargin,

    "q_sim_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv,
        |      label AS qlabel
        |    FROM embeddings WHERE vec_id < 30),
        |  c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv,
        |      label AS neighbor_label
        |    FROM embeddings),
        |  scored AS (SELECT query_id, neighbor_id, neighbor_label,
        |    round(list_dot_product(cv, qv)
        |      / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6)
        |      AS cosine_sim
        |    FROM c CROSS JOIN q WHERE neighbor_label <> qlabel)
        |SELECT query_id, neighbor_id, neighbor_label, cosine_sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id)::INT
        |    AS rank
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // Rag.contextAssembly replay: brute-force cosine top-8 (the
    // q_sim_bruteforce_topk CTE), doc join on vec_id ↔ doc_id, rank-order
    // running-sum budget gate (rank 1 always kept), rank-ordered id CSV
    "q_rag_context" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
        |    FROM embeddings WHERE vec_id < 5),
        |  c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
        |  scored AS (SELECT query_id, neighbor_id,
        |    round(list_dot_product(cv, qv)
        |      / (sqrt(list_dot_product(cv, cv)) * sqrt(list_dot_product(qv, qv))), 6)
        |      AS cs
        |    FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
        |  topk AS (SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id)
        |      AS rank
        |    FROM scored QUALIFY rank <= 8),
        |  d AS (SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), '\s+'))::BIGINT AS n_tokens
        |    FROM documents),
        |  j AS (SELECT query_id, rank, neighbor_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY query_id ORDER BY rank) AS running
        |    FROM topk JOIN d ON d.doc_id = topk.neighbor_id)
        |SELECT query_id, count(*)::INT AS n_ctx_docs,
        |  sum(n_tokens)::BIGINT AS ctx_tokens,
        |  string_agg(neighbor_id::VARCHAR, ',' ORDER BY rank) AS ctx_doc_ids
        |FROM j WHERE running <= 250 OR rank = 1
        |GROUP BY query_id ORDER BY query_id""".stripMargin,

    // prototypeFilter replay: exact micro-unit mean over the seed set
    // (the q_sim_mean_vector CTE with one group), det-rounded cosine to
    // the prototype, exact top-10% with (sim DESC, vec_id) tie rule
    "q_sim_prototype" ->
      """WITH s AS (SELECT list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        |    FROM embeddings WHERE vec_id < 32),
        |  e AS (SELECT unnest(range(1, 65)) AS i, v FROM s),
        |  m AS (SELECT i,
        |    (CAST(sum(v[i]) AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE) AS mean
        |    FROM e GROUP BY i),
        |  proto AS (SELECT list(mean ORDER BY i) AS pv FROM m),
        |  sc AS (SELECT vec_id, label,
        |    round(list_dot_product(embedding::DOUBLE[], pv)
        |      / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |         * sqrt(list_dot_product(pv, pv))), 6) AS proto_sim
        |    FROM embeddings, proto),
        |  r AS (SELECT vec_id, label, proto_sim,
        |    row_number() OVER (ORDER BY proto_sim DESC, vec_id) AS rn,
        |    count(*) OVER () AS n
        |    FROM sc)
        |SELECT vec_id, label, proto_sim FROM r
        |WHERE rn <= ceil(0.1 * n)
        |ORDER BY vec_id""".stripMargin,

    // -------- planted-recovery oracles: the hash/LSH-based dedup and ANN
    // queries project to their deterministic planted-duplicate recovery
    // sets, which ARE exactly SQL-predictable even though the underlying
    // signatures are not (see Queries.qDedupMinhashPairs doc)

    "q_dedup_minhash_pairs" ->
      """SELECT doc_id AS id_a, doc_id + 20000 AS id_b FROM documents
        |WHERE doc_id < 50 ORDER BY id_a""".stripMargin,

    "q_dedup_simhash_pairs" ->
      """SELECT doc_id AS id_a, doc_id + 20000 AS id_b FROM documents
        |WHERE doc_id < 50 ORDER BY id_a""".stripMargin,

    "q_sim_embedding_dedup" ->
      """SELECT vec_id AS id_a, vec_id + 10000 AS id_b FROM embeddings
        |WHERE vec_id < 20 ORDER BY id_a""".stripMargin,

    // cluster assignment / SemDeDup: FULL SQL replication (not a planted
    // prediction) — the integer micro-unit quantization makes the argmin
    // exact, so DuckDB recomputes the identical assignment, including
    // which perturbed clones cross a cluster boundary

    "q_cluster_assign" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        |  FROM embeddings),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, v AS cv
        |  FROM q WHERE vec_id < 8),
        |d AS (SELECT q.vec_id, c.cidx,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (q.v[i]-c.cv[i])*(q.v[i]-c.cv[i]))) AS dist
        |  FROM q CROSS JOIN c),
        |r AS (SELECT vec_id, cidx,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cidx) AS rn
        |  FROM d)
        |SELECT vec_id, CAST(cidx AS INT) AS cluster FROM r WHERE rn = 1
        |ORDER BY vec_id""".stripMargin,

    "q_sem_dedup" ->
      """WITH base AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |aug AS (SELECT vec_id, v FROM base
        |  UNION ALL
        |  SELECT vec_id + 10000,
        |    list_transform(range(1, 65),
        |      i -> CASE WHEN i = 1 THEN v[i] + 0.1 ELSE v[i] END)
        |  FROM base WHERE vec_id < 20),
        |qv AS (SELECT vec_id, v,
        |    list_transform(v, x -> CAST(round(x*1000000) AS BIGINT)) AS q
        |  FROM aug),
        |c AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, q AS cq
        |  FROM qv WHERE vec_id < 8),
        |d AS (SELECT qv.vec_id, qv.v, c.cidx,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (qv.q[i]-c.cq[i])*(qv.q[i]-c.cq[i]))) AS dist
        |  FROM qv CROSS JOIN c),
        |a AS (SELECT vec_id, v, cidx AS cluster FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY dist, cidx) AS rn FROM d)
        |  WHERE rn = 1),
        |p AS (SELECT x.vec_id AS id_a, y.vec_id AS id_b
        |  FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        |  WHERE list_sum(list_transform(range(1,65), i -> x.v[i]*y.v[i]))
        |    / (sqrt(list_sum(list_transform(range(1,65), i -> x.v[i]*x.v[i])))
        |     * sqrt(list_sum(list_transform(range(1,65), i -> y.v[i]*y.v[i]))))
        |    >= 0.9)
        |SELECT id_a, id_b FROM p WHERE id_b = id_a + 10000
        |ORDER BY id_a""".stripMargin,

    "q_curate_buckets" ->
      """SELECT doc_id, source, n_chars,
        |  CAST(ntile(10) OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS INT) AS bucket
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_curate_mixture" ->
      """WITH w(source, wt) AS (VALUES
        |  ('src0', CAST(0.5 AS DOUBLE)),
        |  ('src1', CAST(0.25 AS DOUBLE)),
        |  ('src2', CAST(0.25 AS DOUBLE))),
        |cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |tot AS (SELECT min(CAST(floor(n / wt) AS BIGINT)) AS total
        |  FROM cnt JOIN w USING (source)),
        |k AS (SELECT source, CAST(floor(wt * total) AS BIGINT) AS keep_n
        |  FROM w CROSS JOIN tot),
        |r AS (SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents WHERE source IN (SELECT source FROM w))
        |SELECT doc_id, source, n_chars FROM r JOIN k USING (source)
        |WHERE rn <= keep_n ORDER BY doc_id""".stripMargin,

    "q_pack_sliding" ->
      """WITH c AS (SELECT doc_id, n_chars,
        |    unnest(range(0, n_chars, 100)) AS chunk_start
        |  FROM documents WHERE n_chars > 0)
        |SELECT doc_id, CAST(chunk_start // 100 AS INT) AS chunk_idx,
        |  chunk_start, least(chunk_start + 200, n_chars) AS chunk_end
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "q_sim_lsh_topk" ->
      """SELECT vec_id + 10000 AS query_id, vec_id AS neighbor_id FROM embeddings
        |WHERE vec_id < 20 ORDER BY query_id""".stripMargin,

    "q_sim_ivf_topk" ->
      """SELECT vec_id + 10000 AS query_id, vec_id AS neighbor_id FROM embeddings
        |WHERE vec_id < 20 ORDER BY query_id""".stripMargin,

    "q_sim_ivf2_topk" ->
      """SELECT vec_id + 10000 AS query_id, vec_id AS neighbor_id FROM embeddings
        |WHERE vec_id < 20 ORDER BY query_id""".stripMargin,

    // hardNegativesIvf planted recovery: the same-label original is
    // filtered, the planted other-label clone (vec_id+20000) must win rank 1
    "q_sim_hard_negatives_ivf" ->
      """SELECT vec_id + 10000 AS query_id, vec_id + 20000 AS neighbor_id,
        |  CAST(-1 AS INT) AS neighbor_label
        |FROM embeddings WHERE vec_id < 20 ORDER BY query_id""".stripMargin,

    "q_text_fingerprint" ->
      """WITH aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text, lang, source, n_chars FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        |  (count(*) OVER (
        |    PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))::INT
        |    AS n_fp_dups,
        |  len(regexp_extract_all(text, '[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9\s]'))::INT
        |    AS n_tokens_bpe
        |FROM aug ORDER BY doc_id""".stripMargin,

    "q_sketch_cardinality" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users_exact,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_sketch_quantiles" ->
      """WITH r AS (SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events)
        |SELECT event_type,
        |  max(CASE WHEN rn = floor((n*50 + 99)/100.0) THEN value END) AS p50_exact,
        |  max(CASE WHEN rn = floor((n*90 + 99)/100.0) THEN value END) AS p90_exact,
        |  max(CASE WHEN rn = floor((n*99 + 99)/100.0) THEN value END) AS p99_exact,
        |  TRUE AS approx_ok_p50, TRUE AS approx_ok_p90, TRUE AS approx_ok_p99
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_mm_binary_meta" ->
      """SELECT doc_id, octet_length(text::BLOB)::INT AS n_bytes, md5(text) AS checksum,
        |  substr(md5(text), 1, 8) AS shard_key, source
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_w12_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events),
        |  b AS (SELECT user_id, event_id, ts,
        |    CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w > 1800000000
        |      THEN 1 ELSE 0 END AS boundary
        |    FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |  sess AS (SELECT user_id, ts,
        |    sum(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_seq
        |    FROM b)
        |SELECT user_id, session_seq::BIGINT AS session_seq, count(*) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start
        |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_j9_range_join" ->
      """WITH bands AS (SELECT band_id, band_id * 12.0 AS lo, band_id * 12.0 + 20.0 AS hi
        |    FROM range(0, 41) t(band_id))
        |SELECT band_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // intervalOverlapJoin is result-identical to the plain non-equi
    // overlap join — the oracle is exactly that
    "q_j12_interval_overlap" ->
      """WITH li AS (SELECT l_quantity,
        |    datediff('day', DATE '1970-01-01', l_shipdate) AS ship_d,
        |    datediff('day', DATE '1970-01-01', l_shipdate)
        |      + 1 + (l_orderkey % 10) AS rcpt_d
        |  FROM lineitem),
        |w AS (SELECT o_orderkey AS win_id,
        |    datediff('day', DATE '1970-01-01', o_orderdate) AS win_lo,
        |    datediff('day', DATE '1970-01-01', o_orderdate) + 5 AS win_hi
        |  FROM orders WHERE o_orderkey < 300)
        |SELECT win_id, count(*) AS n_overlapping,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM li JOIN w ON ship_d < win_hi AND win_lo < rcpt_d
        |GROUP BY win_id ORDER BY win_id""".stripMargin,

    // running-max boundary flag + island running sum + rollup — island
    // membership is a set property, so (lo, hi) ties can't change it
    "q_w18_interval_merge" ->
      """WITH iv AS (SELECT l_suppkey,
        |    datediff('day', DATE '1970-01-01', l_shipdate)::INT AS lo,
        |    (datediff('day', DATE '1970-01-01', l_shipdate)
        |      + 1 + (l_orderkey % 10))::INT AS hi
        |  FROM lineitem),
        |b AS (SELECT l_suppkey, lo, hi,
        |    CASE WHEN lo > coalesce(max(hi) OVER (PARTITION BY l_suppkey
        |        ORDER BY lo, hi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |        -2147483648) THEN 1 ELSE 0 END AS brk
        |  FROM iv),
        |isl AS (SELECT l_suppkey, lo, hi,
        |    sum(brk) OVER (PARTITION BY l_suppkey ORDER BY lo, hi
        |      ROWS UNBOUNDED PRECEDING) AS island
        |  FROM b)
        |SELECT l_suppkey, min(lo) AS island_start, max(hi) AS island_end,
        |  count(*) AS n_intervals
        |FROM isl GROUP BY l_suppkey, island
        |ORDER BY l_suppkey, island_start""".stripMargin,

    // saltedEquiJoin is result-identical to the plain join by construction
    // — the oracle is the UNSALTED join, which is the whole point
    "q_j10_salted_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_extendedprice,
        |  o.o_totalprice, o.o_orderstatus
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |ORDER BY l.l_orderkey, l.l_linenumber, l.l_quantity,
        |  l.l_extendedprice""".stripMargin,

    // nearestEventJoin replay: rank candidates by (|Δ| asc, forward asc,
    // direction-dependent id order) — the window form's exact tie rules
    "q_j11_nearest_event" ->
      """WITH l AS (SELECT user_id, event_id, ts, epoch_us(ts) AS lt
        |    FROM events WHERE event_type = 'click'),
        |r AS (SELECT user_id, event_id AS err_event_id, epoch_us(ts) AS rt
        |    FROM events WHERE event_type = 'error'),
        |cand AS (SELECT l.user_id, l.event_id, r.err_event_id,
        |    abs(r.rt - l.lt) AS dist,
        |    row_number() OVER (PARTITION BY l.user_id, l.event_id
        |      ORDER BY abs(r.rt - l.lt), (r.rt > l.lt),
        |        CASE WHEN r.rt > l.lt THEN r.err_event_id
        |             ELSE -r.err_event_id END) AS rn
        |  FROM l JOIN r ON l.user_id = r.user_id),
        |best AS (SELECT user_id, event_id, err_event_id, dist
        |  FROM cand WHERE rn = 1)
        |SELECT l.user_id, l.event_id,
        |  strftime(l.ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
        |  CASE WHEN b.dist <= 600000000 THEN b.err_event_id END AS err_event_id,
        |  (CASE WHEN b.dist <= 600000000 THEN b.dist END)::BIGINT AS dist_micros
        |FROM l LEFT JOIN best b USING (user_id, event_id)
        |ORDER BY l.user_id, l.event_id""".stripMargin,

    "q_text_vocab" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '[^a-z]+')) AS token
        |  FROM documents),
        |  by_token AS (
        |    SELECT token, count(*)::BIGINT AS n_occurrences,
        |      count(DISTINCT doc_id)::BIGINT AS n_docs
        |    FROM toks WHERE token <> '' GROUP BY token)
        |SELECT row_number() OVER (ORDER BY n_docs DESC, n_occurrences DESC, token)::INT
        |    AS rank, token, n_docs, n_occurrences
        |FROM by_token
        |QUALIFY rank <= 25
        |ORDER BY rank""".stripMargin,

    "q_docs_pipeline" ->
      """WITH aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text, lang, source, n_chars FROM documents WHERE doc_id < 50),
        |  deduped AS (
        |    SELECT * FROM aug
        |    QUALIFY row_number() OVER (
        |      PARTITION BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g')
        |      ORDER BY doc_id) = 1),
        |  scored AS (SELECT doc_id, source,
        |    CASE WHEN len(list_filter(regexp_split_to_array(lower(text), '[^a-záéíóúñü]+'),
        |        x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |          'that','was','for','on','with','as','at','by','be'], x))) = 0
        |      AND len(list_filter(regexp_split_to_array(lower(text), '[^a-záéíóúñü]+'),
        |        x -> list_contains(['el','la','los','las','un','una','y','o','de','del',
        |          'que','en','es','por','con','para','se','su','al'], x))) = 0 THEN 'unknown'
        |      WHEN len(list_filter(regexp_split_to_array(lower(text), '[^a-záéíóúñü]+'),
        |        x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |          'that','was','for','on','with','as','at','by','be'], x)))
        |        >= len(list_filter(regexp_split_to_array(lower(text), '[^a-záéíóúñü]+'),
        |        x -> list_contains(['el','la','los','las','un','una','y','o','de','del',
        |          'que','en','es','por','con','para','se','su','al'], x)))
        |      THEN 'en' ELSE 'es' END AS lang_pred,
        |    len(regexp_split_to_array(trim(text), '\s+'))::INT AS n_tokens,
        |    round(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |        x -> list_contains(['the','a','an','and','or','of','to','in','is','it',
        |          'that','was','for','on','with','as','at','by','be'], x)))
        |      / greatest(len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
        |          x -> x <> '')), 1)::DOUBLE, 4) AS stopword_ratio,
        |    length(text)::INT AS n_chars_m
        |    FROM deduped)
        |SELECT lang_pred, source, count(*) AS n_docs,
        |  sum(n_tokens)::BIGINT AS sum_tokens, sum(n_chars_m)::BIGINT AS sum_chars
        |FROM scored
        |WHERE lang_pred <> 'unknown' AND stopword_ratio >= 0.05 AND n_chars_m >= 100
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_feat_minmax" ->
      """WITH s AS (SELECT
        |    CAST(min(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qmin,
        |    CAST(max(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qmax,
        |    CAST(min(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS pmin,
        |    CAST(max(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS pmax
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  CASE WHEN qmax <> qmin
        |    THEN (l_quantity - qmin) / (qmax - qmin) END AS l_quantity_scaled,
        |  CASE WHEN pmax <> pmin
        |    THEN (l_extendedprice - pmin) / (pmax - pmin) END AS l_extendedprice_scaled
        |FROM lineitem CROSS JOIN s
        |WHERE l_orderkey < 600
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "q_feat_zscore" ->
      """WITH st AS (SELECT o_orderpriority,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) *
        |             CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS q,
        |    count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  floor(CASE WHEN n >= 2
        |    AND (q - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0) > 0.0
        |    THEN (o_totalprice - s / CAST(n AS DOUBLE)) /
        |      sqrt((q - s * s / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0))
        |  END * 1e6 + 0.5) / 1e6 AS o_totalprice_z
        |FROM orders JOIN st USING (o_orderpriority)
        |WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin,

    "q_feat_target_encode" ->
      """WITH g AS (SELECT
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS gs,
        |    CAST(count(*) AS DOUBLE) AS gn FROM orders),
        |c AS (SELECT o_orderpriority,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |    count(*) AS n
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, n,
        |  (s + 16.0 * (gs / gn)) / (CAST(n AS DOUBLE) + 16.0) AS enc
        |FROM c CROSS JOIN g
        |ORDER BY o_orderpriority""".stripMargin,

    "q_feat_woe_iv" ->
      """WITH c AS (SELECT o_orderpriority,
        |    count(*) FILTER (WHERE NOT (o_totalprice > 150000)) AS n_good,
        |    count(*) FILTER (WHERE o_totalprice > 150000) AS n_bad
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n_good) AS DOUBLE) AS tg,
        |             CAST(sum(n_bad) AS DOUBLE) AS tb FROM c)
        |SELECT o_orderpriority, n_good, n_bad,
        |  CAST(n_good AS DOUBLE) / tg AS pct_good,
        |  CAST(n_bad AS DOUBLE) / tb AS pct_bad,
        |  CASE WHEN n_good > 0 AND n_bad > 0 THEN
        |    floor(ln((CAST(n_bad AS DOUBLE) / tb) / (CAST(n_good AS DOUBLE) / tg))
        |      * 1e6 + 0.5) / 1e6 END AS woe,
        |  CASE WHEN n_good > 0 AND n_bad > 0 THEN
        |    floor((CAST(n_bad AS DOUBLE) / tb - CAST(n_good AS DOUBLE) / tg) *
        |      ln((CAST(n_bad AS DOUBLE) / tb) / (CAST(n_good AS DOUBLE) / tg))
        |      * 1e6 + 0.5) / 1e6 END AS iv_term
        |FROM c CROSS JOIN t
        |ORDER BY o_orderpriority""".stripMargin,

    "q_feat_psi" ->
      """WITH b AS (
        |  SELECT CAST(least(greatest(floor(value / 50.0), 0), 9) AS BIGINT) AS bin,
        |         'e' AS side
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16'
        |  UNION ALL
        |  SELECT CAST(least(greatest(floor(value / 50.0), 0), 9) AS BIGINT) AS bin,
        |         'a' AS side
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16'),
        |c AS (SELECT bin,
        |    greatest(coalesce(count(*) FILTER (WHERE side = 'e'), 0), 1) AS n_expected,
        |    greatest(coalesce(count(*) FILTER (WHERE side = 'a'), 0), 1) AS n_actual
        |  FROM b GROUP BY bin),
        |t AS (SELECT CAST(sum(n_expected) AS DOUBLE) AS te,
        |             CAST(sum(n_actual) AS DOUBLE) AS ta FROM c)
        |SELECT bin, n_expected, n_actual,
        |  CAST(n_expected AS DOUBLE) / te AS pct_expected,
        |  CAST(n_actual AS DOUBLE) / ta AS pct_actual,
        |  floor((CAST(n_actual AS DOUBLE) / ta - CAST(n_expected AS DOUBLE) / te) *
        |    ln((CAST(n_actual AS DOUBLE) / ta) / (CAST(n_expected AS DOUBLE) / te))
        |    * 1e6 + 0.5) / 1e6 AS psi_term
        |FROM c CROSS JOIN t
        |ORDER BY bin""".stripMargin,

    "q_feat_corr" -> corrPairsSql(
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"), "lineitem"),

    "q_scale_zorder" ->
      s"""WITH p AS (SELECT p_partkey,
        |    CAST(p_size AS BIGINT) AS zx,
        |    CAST(floor(p_retailprice) AS BIGINT) - 900 AS zy
        |  FROM part)
        |SELECT p_partkey, zx, zy, ${zOrderSql("zx", "zy", 7)} AS zval
        |FROM p ORDER BY p_partkey""".stripMargin,

    // threeWaySplit replay: the q_p12 portable md5 gate cut at per-mille
    // boundaries instead of one threshold
    "q_pack_curriculum" ->
      """SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS curriculum_pos
        |FROM documents ORDER BY doc_id""".stripMargin,

    // leakageSafeSplit replay: the q_dedup_clusters recursive CTE supplies
    // the cluster labels; the q_p16 md5 per-mille CASE gates on the
    // coalesced cluster key (singletons self-key)
    "q_split_leakage_safe" ->
      """WITH RECURSIVE aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000, text || ' graftmarker', lang, source, n_chars
        |  FROM documents WHERE doc_id < 50),
        |  p AS (SELECT doc_id AS id,
        |    list_distinct(list_transform(
        |      range(1, greatest(len(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+')) - 2, 1) + 1),
        |      i -> array_to_string(list_slice(regexp_split_to_array(
        |        regexp_replace(lower(trim(text)), '[^a-z0-9áéíóúñü ]', '', 'g'),
        |        '\s+'), i, i + 2), ' '))) AS grams
        |    FROM aug),
        |  pair AS (SELECT a.id AS id_a, b.id AS id_b
        |    FROM p a JOIN p b ON a.id < b.id
        |    WHERE floor(len(list_intersect(a.grams, b.grams))::DOUBLE
        |      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))::DOUBLE)
        |      * 10000 + 0.5) / 10000 >= 0.5),
        |  edges AS (SELECT id_a AS src, id_b AS dst FROM pair
        |    UNION SELECT id_b, id_a FROM pair),
        |  reach(id, label) AS (
        |    SELECT DISTINCT src, src FROM edges
        |    UNION
        |    SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id),
        |  clu AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY id)
        |SELECT a.doc_id,
        |  CASE WHEN ('0x' || substr(md5(concat_ws('|',
        |         coalesce(c.cluster_id, a.doc_id), '42')), 1, 15))::UBIGINT
        |         % 1000000000 < 800000000 THEN 'train'
        |       WHEN ('0x' || substr(md5(concat_ws('|',
        |         coalesce(c.cluster_id, a.doc_id), '42')), 1, 15))::UBIGINT
        |         % 1000000000 < 900000000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM aug a LEFT JOIN clu c ON a.doc_id = c.id
        |ORDER BY a.doc_id""".stripMargin,

    "q_p16_three_way_split" ->
      """SELECT doc_id, lang,
        |  CASE WHEN ('0x' || substr(md5(concat_ws('|', doc_id, '42')), 1, 15))::UBIGINT
        |         % 1000000000 < 800000000 THEN 'train'
        |       WHEN ('0x' || substr(md5(concat_ws('|', doc_id, '42')), 1, 15))::UBIGINT
        |         % 1000000000 < 900000000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // preferencePairs replay: the aggregation's argmax/argmin tie rules
    // (best: smallest id among max score; worst: largest id among min)
    // as two ranked windows
    "q_pref_pairs" ->
      """WITH c AS (SELECT source, doc_id AS chosen_id, n_chars AS chosen_score
        |    FROM documents QUALIFY row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) = 1),
        |r AS (SELECT source, doc_id AS rejected_id, n_chars AS rejected_score
        |    FROM documents QUALIFY row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars, doc_id DESC) = 1),
        |n AS (SELECT source FROM documents GROUP BY source HAVING count(*) >= 2)
        |SELECT c.source, chosen_id, chosen_score, rejected_id, rejected_score,
        |  chosen_score - rejected_score AS margin
        |FROM c JOIN r USING (source) JOIN n USING (source)
        |ORDER BY c.source""".stripMargin,

    "q_p12_portable_sample" ->
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE ('0x' || substr(md5(concat_ws('|', c_custkey, '7')), 1, 15))::UBIGINT
        |  % 1000000000 < 250000000
        |ORDER BY c_custkey""".stripMargin,

    "q_dedup_blocks" ->
      """WITH d AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |b AS (SELECT doc_id, ((len(w) + 4) // 5)::INT AS n_blocks, w FROM d),
        |blk AS (SELECT doc_id, unnest(range(n_blocks)) AS pos, w FROM b),
        |blocks AS (SELECT doc_id, pos::INT AS pos,
        |    array_to_string(w[pos*5+1 : pos*5+5], ' ') AS block FROM blk),
        |kept AS (SELECT doc_id, pos, block FROM blocks
        |  QUALIFY row_number() OVER (PARTITION BY block ORDER BY doc_id, pos) = 1),
        |rebuilt AS (SELECT doc_id,
        |    string_agg(block, ' ' ORDER BY pos) AS text_dedup,
        |    count(*)::INT AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT b.doc_id, coalesce(r.text_dedup, '') AS text_dedup,
        |       b.n_blocks, coalesce(r.n_kept, 0)::INT AS n_kept
        |FROM b LEFT JOIN rebuilt r USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_stream_drift" -> streamDriftSql(nBins = 10, width = 50.0, basePct = "0.1"),

    "q_feat_impute" ->
      """WITH m AS (SELECT o_orderkey, o_orderpriority,
        |    CASE WHEN o_orderkey % 7 <> 0 THEN o_totalprice END AS amt
        |  FROM orders),
        |st AS (SELECT o_orderpriority,
        |    CAST(sum(CAST(amt AS DECIMAL(18,2))) AS DOUBLE) AS s,
        |    count(amt) AS n
        |  FROM m GROUP BY 1)
        |SELECT o_orderkey, o_orderpriority,
        |  coalesce(amt, CASE WHEN n > 0 THEN s / CAST(n AS DOUBLE) END) AS amt
        |FROM m JOIN st USING (o_orderpriority)
        |WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin,

    "q_feat_auc" ->
      """WITH r AS (SELECT o_orderpriority,
        |    (o_orderstatus = 'F') AS y,
        |    2 * rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice)
        |      + count(*) OVER (PARTITION BY o_orderpriority, o_totalprice) - 1 AS tar
        |  FROM orders),
        |a AS (SELECT o_orderpriority,
        |    count(*) FILTER (WHERE y) AS n_pos,
        |    count(*) FILTER (WHERE NOT y) AS n_neg,
        |    sum(tar) FILTER (WHERE y) AS s2
        |  FROM r GROUP BY 1)
        |SELECT o_orderpriority, n_pos, n_neg,
        |  CASE WHEN n_pos > 0 AND n_neg > 0 THEN
        |    CAST(s2 - n_pos * (n_pos + 1) AS DOUBLE) /
        |      (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) END AS auc
        |FROM a ORDER BY o_orderpriority""".stripMargin,

    "q_feat_onehot" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS oh_1_urgent,
        |  CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS oh_2_high,
        |  CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END AS oh_3_medium,
        |  CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END AS oh_4_not_specified,
        |  CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS oh_5_low
        |FROM orders WHERE o_orderkey < 300
        |ORDER BY o_orderkey""".stripMargin,

    "q_sim_mean_vector" ->
      """WITH q AS (SELECT label,
        |    list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE)*1000000) AS BIGINT)) AS v
        |  FROM embeddings),
        |e AS (SELECT label, unnest(range(1, 65)) AS i, v FROM q),
        |t AS (SELECT label, CAST(i - 1 AS INT) AS dim, v[i] AS qv FROM e)
        |SELECT label, dim, CAST(sum(qv) AS BIGINT) AS sum_q, count(*) AS n,
        |  (CAST(sum(qv) AS DOUBLE) / 1000000.0) / CAST(count(*) AS DOUBLE) AS mean
        |FROM t GROUP BY label, dim
        |ORDER BY label, dim""".stripMargin,

    "q_feat_rank_norm" ->
      """WITH r AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rk,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders)
        |SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CASE WHEN n > 1
        |    THEN CAST(rk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |    ELSE 0.0 END AS rank_norm
        |FROM r WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin,

    "q_feat_lift" ->
      """WITH b AS (SELECT
        |    (ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey))::INT AS bucket,
        |    (o_orderstatus = 'F') AS y
        |  FROM orders),
        |p AS (SELECT bucket, count(*) AS n,
        |    count(*) FILTER (WHERE y) AS n_pos
        |  FROM b GROUP BY bucket),
        |t AS (SELECT CAST(sum(n) AS DOUBLE) AS tn,
        |             CAST(sum(n_pos) AS DOUBLE) AS tp FROM p),
        |c AS (SELECT bucket, n, n_pos,
        |    sum(n_pos) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cp,
        |    sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cn
        |  FROM p)
        |SELECT bucket, n, n_pos,
        |  CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE) AS pos_rate,
        |  floor(((CAST(cp AS DOUBLE) / CAST(cn AS DOUBLE)) / (tp / tn))
        |    * 1e6 + 0.5) / 1e6 AS cum_lift
        |FROM c CROSS JOIN t
        |ORDER BY bucket""".stripMargin,

    "q_sketch_topk" ->
      """WITH c AS (SELECT event_type, CAST(user_id % 50 AS VARCHAR) AS item,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT event_type, item, cnt,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY cnt DESC, item) - 1 AS rank
        |  FROM c)
        |SELECT event_type, rank::INT AS rank, item, cnt, 0::BIGINT AS err
        |FROM r WHERE rank < 10
        |ORDER BY event_type, rank""".stripMargin,

    // exact replay of the md5-hex-prefix Count-Min cells: estimates match
    // collision-for-collision, not just as an upper bound
    "q_sketch_cms" ->
      """WITH ds AS (SELECT unnest(range(0, 4)) AS d),
        |cells AS (SELECT d,
        |    substr(md5(d::VARCHAR || '|' || l_suppkey::VARCHAR), 1, 2)
        |      AS bucket,
        |    count(*) AS cnt
        |  FROM lineitem CROSS JOIN ds GROUP BY 1, 2),
        |probes AS (SELECT DISTINCT s_suppkey AS item FROM supplier
        |  WHERE s_suppkey < 20),
        |pe AS (SELECT item, d,
        |    substr(md5(d::VARCHAR || '|' || item::VARCHAR), 1, 2) AS bucket
        |  FROM probes CROSS JOIN ds)
        |SELECT item, min(coalesce(cnt, 0))::BIGINT AS est
        |FROM pe LEFT JOIN cells USING (d, bucket)
        |GROUP BY item ORDER BY item""".stripMargin,

    "q_w14_range_frame" ->
      """SELECT event_id, user_id,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
        |    PARTITION BY user_id ORDER BY epoch_us(ts)
        |    RANGE BETWEEN 259200000000 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trailing_sum
        |FROM events ORDER BY event_id""".stripMargin,

    "q_text_fingerprint_md5" ->
      """WITH aug AS (
        |  SELECT * FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000, text, lang, source, n_chars FROM documents WHERE doc_id < 50),
        |fp AS (SELECT doc_id,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM aug)
        |SELECT doc_id, fp,
        |  (count(*) OVER (PARTITION BY fp))::INT AS n_fp_dups
        |FROM fp ORDER BY doc_id""".stripMargin,

    // k-anonymity / l-diversity: exact group size + distinct sensitive
    // values per quasi-identifier combination (count DISTINCT excludes
    // nulls in both engines)
    "q_privacy_kanon" ->
      """SELECT c_nationkey, c_mktsegment,
        |  count(*)::BIGINT AS n_rows,
        |  count(DISTINCT c_acctbal)::BIGINT AS n_sensitive,
        |  count(*) >= 5 AS k_anonymous,
        |  count(DISTINCT c_acctbal) >= 3 AS l_diverse
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "q_v_profile" -> profileSql("orders", Seq(
      ("o_orderkey", true), ("o_orderstatus", false),
      ("o_totalprice", true), ("o_orderpriority", false))),

    "q_v_quarantine" ->
      """WITH m AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 <> 0 THEN o_custkey END AS ck,
        |    CASE WHEN o_orderkey % 101 = 0 THEN -o_totalprice
        |         ELSE o_totalprice END AS price,
        |    o_orderstatus
        |  FROM orders),
        |r AS (SELECT o_orderkey,
        |    array_to_string(list_filter([
        |      CASE WHEN NOT coalesce(ck IS NOT NULL AND ck <> 999999999, false)
        |        THEN 'custkey_valid' END,
        |      CASE WHEN NOT coalesce(price > 0, false) THEN 'price_positive' END,
        |      CASE WHEN NOT coalesce(o_orderstatus IN ('O','F','P'), false)
        |        THEN 'status_known' END
        |    ], x -> x IS NOT NULL), ',') AS failed_checks
        |  FROM m)
        |SELECT o_orderkey, failed_checks FROM r
        |WHERE failed_checks <> '' ORDER BY o_orderkey""".stripMargin,

    "q_w13_forward_fill" ->
      """SELECT event_id, user_id,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS v_filled
        |FROM (SELECT event_id, user_id, ts,
        |        CASE WHEN event_id % 7 <> 0 THEN value END AS v
        |      FROM events)
        |ORDER BY event_id""".stripMargin,

    "q_fs_training_set" ->
      """WITH labels AS (
        |  SELECT o_orderkey, o_custkey, o_orderdate::DATE AS label_date, o_totalprice
        |  FROM orders WHERE o_orderkey < 1500),
        |monthly AS (
        |  SELECT o_custkey, date_trunc('month', o_orderdate::DATE)::DATE AS m_month_dt,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS m_amt,
        |         count(*) AS m_cnt
        |  FROM orders GROUP BY 1, 2),
        |daily AS (
        |  SELECT o_custkey, o_orderdate::DATE AS h_snap_date, count(*) AS d
        |  FROM orders GROUP BY 1, 2),
        |history AS (
        |  SELECT o_custkey, h_snap_date,
        |         CAST(sum(d) OVER (PARTITION BY o_custkey ORDER BY h_snap_date
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS h_cum_orders
        |  FROM daily)
        |SELECT l.o_orderkey, l.o_custkey, l.label_date, l.o_totalprice,
        |       m.m_month_dt, m.m_amt, m.m_cnt,
        |       h.h_snap_date, h.h_cum_orders
        |FROM labels l
        |ASOF LEFT JOIN monthly m
        |  ON l.o_custkey = m.o_custkey AND m.m_month_dt <= l.label_date
        |ASOF LEFT JOIN history h
        |  ON l.o_custkey = h.o_custkey AND h.h_snap_date <= l.label_date
        |ORDER BY o_orderkey""".stripMargin,

    "q_feat_robust" ->
      """WITH r AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders),
        |s AS (SELECT o_orderpriority,
        |    CAST(max(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT)
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS q1,
        |    CAST(max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS med,
        |    CAST(max(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT)
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS q3
        |  FROM r GROUP BY 1)
        |SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  CASE WHEN q3 <> q1 THEN (o_totalprice - med) / (q3 - q1) END
        |    AS o_totalprice_robust
        |FROM orders JOIN s USING (o_orderpriority)
        |WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin,

    "q_feat_hist" ->
      """WITH b AS (SELECT
        |    CAST(least(greatest(floor((o_totalprice - 0.0) / 25000.0), 0.0), 19.0)
        |      AS INT) AS bin
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT bin, 0.0 + CAST(bin AS DOUBLE) * CAST(25000.0 AS DOUBLE) AS bin_lo,
        |  0.0 + CAST(bin + 1 AS DOUBLE) * CAST(25000.0 AS DOUBLE) AS bin_hi,
        |  count(*) AS cnt
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    "q_p14_group_sample" ->
      """WITH r AS (SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY md5(concat_ws('|', CAST(event_id AS VARCHAR), '42')),
        |        event_id) AS rn
        |  FROM events)
        |SELECT event_id, event_type FROM r WHERE rn <= 20
        |ORDER BY event_type, event_id""".stripMargin,

    "q_p13_time_split" ->
      """SELECT event_id,
        |  CASE WHEN ts < TIMESTAMP '2024-01-20' THEN 'train'
        |       WHEN ts < TIMESTAMP '2024-01-26' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM events WHERE event_id < 3000
        |ORDER BY event_id""".stripMargin,

    "q_fs_serving" ->
      """WITH m AS (
        |  SELECT o_custkey, date_trunc('month', o_orderdate::DATE)::DATE AS month_dt,
        |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amt,
        |         count(*) AS cnt
        |  FROM orders GROUP BY 1, 2),
        |f AS (SELECT * FROM m
        |  WHERE month_dt <= DATE '2001-07-15' AND month_dt >= DATE '2001-07-15' - 92),
        |r AS (SELECT *, max(month_dt) OVER (PARTITION BY o_custkey) AS mx FROM f)
        |SELECT o_custkey, month_dt AS m_month_dt, amt AS m_amt, cnt AS m_cnt
        |FROM r WHERE month_dt = mx
        |ORDER BY o_custkey""".stripMargin,

    "q_er_fuzzy_join" ->
      """WITH dirty AS (SELECT c_custkey AS d_key,
        |    substr(c_name, 1, 9) || substr(c_name, 11, 8) AS d_name
        |  FROM customer WHERE c_custkey % 10 = 0)
        |SELECT d_key, d_name, c_custkey, c_name,
        |  CAST(levenshtein(d_name, c_name) AS INT) AS lev_dist
        |FROM dirty JOIN customer ON levenshtein(d_name, c_name) <= 1
        |ORDER BY d_key, c_custkey""".stripMargin,

    "q_sim_pq_encode" -> pqEncodeSql,
    "q_sim_mmr_rerank" -> mmrRerankSql(nQueries = 10, shortlist = 12,
      k = 4, lam = 50),

    "q_sim_ivfadc_topk" ->
      """SELECT vec_id + 10000 AS query_id, vec_id AS neighbor_id FROM embeddings
        |WHERE vec_id < 20 ORDER BY query_id""".stripMargin,

    "q_v_outliers" ->
      """WITH c AS (SELECT o_orderkey, o_orderpriority,
        |    CASE WHEN o_orderkey % 250 = 0 THEN o_totalprice * 20
        |         ELSE o_totalprice END AS amt
        |  FROM orders),
        |r AS (SELECT o_orderkey, o_orderpriority, amt,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY amt, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM c),
        |s AS (SELECT o_orderpriority,
        |    CAST(max(CASE WHEN rn = CAST(ceil(n * 0.25) AS BIGINT)
        |      THEN CAST(amt AS DECIMAL(18,2)) END) AS DOUBLE) AS q1,
        |    CAST(max(CASE WHEN rn = CAST(ceil(n * 0.75) AS BIGINT)
        |      THEN CAST(amt AS DECIMAL(18,2)) END) AS DOUBLE) AS q3
        |  FROM r GROUP BY 1),
        |f AS (SELECT o_orderpriority,
        |    q1 - CAST(1.5 AS DOUBLE) * (q3 - q1) AS fence_lo,
        |    q3 + CAST(1.5 AS DOUBLE) * (q3 - q1) AS fence_hi FROM s)
        |SELECT o_orderkey, o_orderpriority, amt, fence_lo, fence_hi
        |FROM c JOIN f USING (o_orderpriority)
        |WHERE amt < fence_lo OR amt > fence_hi
        |ORDER BY o_orderkey""".stripMargin,

    "q_a8_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amt,
        |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT)
        |    AS grouping_id
        |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY grouping_id, o_orderpriority NULLS FIRST,
        |  o_orderstatus NULLS FIRST""".stripMargin,

    "q_w15_rolling_z" -> (monthlyCte +
      """,
        |r AS (SELECT custkey, month_dt, amt,
        |  CASE WHEN count(*) OVER f >= 1 THEN
        |    round(CAST(sum(CAST(amt AS DECIMAL(18,2))) OVER f AS DOUBLE)
        |      / (count(*) OVER f), 4) END AS ravg,
        |  round(CASE WHEN count(*) OVER f > 1 THEN
        |    sqrt(greatest(
        |      (CAST(sum(CAST(amt * amt AS DECIMAL(28,4))) OVER f AS DOUBLE)
        |       - CAST(sum(CAST(amt AS DECIMAL(18,2))) OVER f AS DOUBLE)
        |         * CAST(sum(CAST(amt AS DECIMAL(18,2))) OVER f AS DOUBLE) / (count(*) OVER f))
        |      / (count(*) OVER f - 1), 0.0)) END, 4) AS rstd
        |  FROM m WINDOW f AS (PARTITION BY custkey ORDER BY month_dt
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING))
        |SELECT custkey, month_dt, amt,
        |  CASE WHEN rstd > 0
        |    THEN floor((amt - ravg) / rstd * 10000.0 + 0.5) / 10000.0 END AS amt_rz_3m,
        |  coalesce(CASE WHEN rstd > 0
        |    THEN abs(floor((amt - ravg) / rstd * 10000.0 + 0.5) / 10000.0) > 1.5 END,
        |    false) AS amt_anomaly
        |FROM r ORDER BY custkey, month_dt""".stripMargin),

    "q_sketch_hll_union" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_exact, true AS in_bound
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_w16_decay_sum" -> (monthlyCte +
      """
        |SELECT custkey, month_dt, amt,
        |  floor((coalesce(amt, 0) * 1.0
        |    + coalesce(lag(amt, 1) OVER w, 0) * 0.5
        |    + coalesce(lag(amt, 2) OVER w, 0) * 0.25
        |    + coalesce(lag(amt, 3) OVER w, 0) * 0.125) * 1e6 + 0.5) / 1e6
        |    AS amt_decay_4
        |FROM m WINDOW w AS (PARTITION BY custkey ORDER BY month_dt)
        |ORDER BY custkey, month_dt""".stripMargin),

    "q_feat_hash_encode" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15))::UBIGINT
        |    % 64 AS INT) AS o_custkey_hashed
        |FROM orders WHERE o_orderkey < 2000
        |ORDER BY o_orderkey""".stripMargin,

    "q_ea_funnel" ->
      """WITH s1 AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t1
        |  FROM events GROUP BY 1),
        |s2 AS (SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1 THEN e.ts END) AS t2
        |  FROM events e JOIN s1 USING (user_id) GROUP BY 1),
        |s3 AS (SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2 THEN e.ts END) AS t3
        |  FROM events e JOIN s2 USING (user_id) GROUP BY 1)
        |SELECT user_id, epoch_us(t1) AS step1_us, epoch_us(t2) AS step2_us,
        |  epoch_us(t3) AS step3_us
        |FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id)
        |ORDER BY user_id""".stripMargin,

    "q_ea_cohort" ->
      """WITH a AS (SELECT DISTINCT o_custkey,
        |    date_trunc('month', o_orderdate::DATE)::DATE AS p FROM orders),
        |c AS (SELECT o_custkey, min(p) AS cohort_period FROM a GROUP BY 1),
        |s AS (SELECT cohort_period, count(*) AS cohort_size FROM c GROUP BY 1),
        |j AS (SELECT a.o_custkey, a.p, c.cohort_period FROM a JOIN c USING (o_custkey))
        |SELECT cohort_period,
        |  CAST(datediff('month', cohort_period, p) AS INT) AS period_offset,
        |  count(*) AS n_active, cohort_size,
        |  CAST(count(*) AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
        |FROM j JOIN s USING (cohort_period)
        |GROUP BY cohort_period, period_offset, cohort_size
        |ORDER BY cohort_period, period_offset""".stripMargin,

    "q_feat_neg_sample" ->
      """WITH pos AS (SELECT DISTINCT o_custkey, l_partkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey < 300),
        |u AS (SELECT p_partkey AS l_partkey,
        |    row_number() OVER (ORDER BY p_partkey) - 1 AS idx FROM part),
        |cand AS (SELECT o_custkey, CAST(s AS INT) AS slot,
        |    CAST(('0x' || substr(md5(concat_ws('|', o_custkey, s, '42')), 1, 15))::UBIGINT
        |      % (SELECT count(*) FROM part) AS BIGINT) AS idx
        |  FROM (SELECT DISTINCT o_custkey FROM pos), unnest(range(0, 5)) AS t(s))
        |SELECT c.o_custkey, c.slot, u.l_partkey
        |FROM cand c JOIN u USING (idx)
        |ANTI JOIN pos ON pos.o_custkey = c.o_custkey AND pos.l_partkey = u.l_partkey
        |ORDER BY o_custkey, slot""".stripMargin,

    "q_ea_funnel_summary" ->
      """WITH s1 AS (SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t1
        |  FROM events GROUP BY 1),
        |s2 AS (SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1 THEN e.ts END) AS t2
        |  FROM events e JOIN s1 USING (user_id) GROUP BY 1),
        |s3 AS (SELECT e.user_id,
        |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2 THEN e.ts END) AS t3
        |  FROM events e JOIN s2 USING (user_id) GROUP BY 1),
        |j AS (SELECT * FROM s1 JOIN s2 USING (user_id) JOIN s3 USING (user_id))
        |SELECT 1 AS step_no, 'view' AS step, count(t1) AS n_reached FROM j
        |UNION ALL SELECT 2, 'click', count(t2) FROM j
        |UNION ALL SELECT 3, 'purchase', count(t3) FROM j
        |ORDER BY step_no""".stripMargin,

    "q_w17_share" -> (monthlyCte +
      """
        |SELECT custkey, month_dt, amt,
        |  amt / CAST(sum(CAST(amt AS DECIMAL(18,2)))
        |    OVER (PARTITION BY custkey) AS DOUBLE) AS amt_share
        |FROM m ORDER BY custkey, month_dt""".stripMargin),

    "q_feat_winsor" ->
      """WITH r AS (SELECT o_orderkey, o_orderpriority, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice, o_orderkey) AS rn,
        |    count(*) OVER (PARTITION BY o_orderpriority) AS n
        |  FROM orders),
        |s AS (SELECT o_orderpriority,
        |    CAST(max(CASE WHEN rn = CAST(ceil(n * 0.05) AS BIGINT)
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS lo,
        |    CAST(max(CASE WHEN rn = CAST(ceil(n * 0.95) AS BIGINT)
        |      THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS hi
        |  FROM r GROUP BY 1)
        |SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  least(greatest(o_totalprice, lo), hi) AS o_totalprice_wins
        |FROM orders JOIN s USING (o_orderpriority)
        |WHERE o_orderkey < 1000
        |ORDER BY o_orderkey""".stripMargin,

    "q_a9_cube" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amt,
        |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT)
        |    AS grouping_id
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
        |ORDER BY grouping_id, o_orderpriority NULLS FIRST,
        |  o_orderstatus NULLS FIRST""".stripMargin,

    "q_a10_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amt,
        |  CAST(GROUPING(o_orderpriority) * 2 + GROUPING(o_orderstatus) AS INT)
        |    AS grouping_id
        |FROM orders GROUP BY GROUPING SETS ((o_orderpriority),
        |  (o_orderstatus), (o_orderpriority, o_orderstatus))
        |ORDER BY grouping_id, o_orderpriority NULLS FIRST,
        |  o_orderstatus NULLS FIRST""".stripMargin,

    "q_p15_weighted_sample" ->
      """WITH w AS (SELECT o_orderkey,
        |    least(o_totalprice / 250000.0, 1.0) AS w
        |  FROM orders)
        |SELECT o_orderkey, w FROM w
        |WHERE CAST(('0x' || substr(md5(concat_ws('|', o_orderkey, '42')), 1, 15))::UBIGINT
        |    % 1000000000 AS DOUBLE) / 1e9 < w
        |ORDER BY o_orderkey""".stripMargin,

    // session_window semantics: an event merges into the running session
    // iff its ts is STRICTLY before last_ts + gap, so an exactly-gap-wide
    // silence breaks the session (hence >= in the break condition).
    "q_stream_session" ->
      """WITH o AS (SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |                >= INTERVAL '30 minutes'
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS grp FROM o)
        |SELECT strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts) + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S') AS session_end,
        |  user_id, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM g GROUP BY user_id, grp
        |ORDER BY user_id, session_start""".stripMargin,

    "q_scd2_build" -> scd2RebuildSql,

    // scd2Merge's contract IS row-identity with the full rebuild — the
    // incremental Spark path and this rebuild oracle hashing equal is
    // the point of the entry.
    "q_scd2_merge" -> scd2RebuildSql,

    "q_scd2_asof" ->
      s"""${scd2DimCte()}
         |SELECT user_id, version::INT AS version, event_type, tier,
         |  epoch_us(valid_from) AS valid_from_us
         |FROM dim
         |WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
         |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
         |ORDER BY user_id""".stripMargin,

    "q_ea_transitions" ->
      """WITH seq AS (SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |p AS (SELECT event_type AS cur_type, next_type, count(*) AS n_pairs
        |  FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT cur_type, next_type, n_pairs,
        |  ((n_pairs * 1000000)
        |    // sum(n_pairs) OVER (PARTITION BY cur_type))::BIGINT AS p_micros
        |FROM p ORDER BY cur_type, next_type""".stripMargin,

    "q_basket_rules" ->
      """WITH m0 AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |    FROM lineitem),
        |sz AS (SELECT basket FROM m0 GROUP BY basket HAVING count(*) <= 64),
        |m AS (SELECT m0.* FROM m0 JOIN sz USING (basket)),
        |tot AS (SELECT count(DISTINCT basket) AS n_baskets FROM m),
        |ic AS (SELECT item, count(*) AS n_item FROM m GROUP BY 1),
        |pc AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_ab
        |  FROM m a JOIN m b ON a.basket = b.basket AND a.item < b.item
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d AS (SELECT item_a, item_b, n_ab FROM pc
        |  UNION ALL SELECT item_b, item_a, n_ab FROM pc)
        |SELECT d.item_a, d.item_b, d.n_ab,
        |  ((d.n_ab * 1000000) // t.n_baskets)::BIGINT AS support_micros,
        |  ((d.n_ab * 1000000) // ia.n_item)::BIGINT AS confidence_micros,
        |  ((((d.n_ab * 1000000) // ia.n_item) * t.n_baskets)
        |    // ib.n_item)::BIGINT AS lift_micros
        |FROM d JOIN ic ia ON d.item_a = ia.item
        |  JOIN ic ib ON d.item_b = ib.item
        |  CROSS JOIN tot t
        |ORDER BY d.item_a, d.item_b""".stripMargin,

    "q_feat_ks" ->
      """WITH f AS (SELECT o_totalprice AS v, o_orderpriority AS g
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |per AS (SELECT v,
        |    count(CASE WHEN g = '1-URGENT' THEN 1 END) AS ca,
        |    count(CASE WHEN g = '5-LOW' THEN 1 END) AS cb
        |  FROM f GROUP BY 1),
        |tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM per),
        |c AS (SELECT
        |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb
        |  FROM per)
        |SELECT tot.na::BIGINT AS n_a, tot.nb::BIGINT AS n_b,
        |  ((max(abs(cuma * tot.nb - cumb * tot.na)) * 1000000)
        |    // (tot.na * tot.nb))::BIGINT AS ks_micros
        |FROM c CROSS JOIN tot GROUP BY tot.na, tot.nb""".stripMargin,

    "q_feat_cvm" ->
      """WITH f AS (SELECT o_totalprice AS v, o_orderpriority AS g
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |per AS (SELECT v,
        |    count(CASE WHEN g = '1-URGENT' THEN 1 END) AS ca,
        |    count(CASE WHEN g = '5-LOW' THEN 1 END) AS cb
        |  FROM f GROUP BY 1),
        |tot AS (SELECT sum(ca)::HUGEINT AS na, sum(cb)::HUGEINT AS nb
        |  FROM per),
        |c AS (SELECT ca, cb,
        |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb
        |  FROM per)
        |SELECT tot.na::BIGINT AS n_a, tot.nb::BIGINT AS n_b,
        |  (CASE WHEN tot.na > 0 AND tot.nb > 0 THEN
        |    (sum((ca + cb)::HUGEINT
        |        * (cuma::HUGEINT * tot.nb - cumb::HUGEINT * tot.na)
        |        * (cuma::HUGEINT * tot.nb - cumb::HUGEINT * tot.na))
        |      * 1000000)
        |      // (tot.na * tot.nb * (tot.na + tot.nb) * (tot.na + tot.nb))
        |  END)::BIGINT AS cvm_micros
        |FROM c CROSS JOIN tot GROUP BY tot.na, tot.nb""".stripMargin,

    "q_feat_drift_battery" ->
      """WITH d AS (SELECT source, lang, n_chars,
        |    length(text) - length(replace(text, ' ', '')) AS n_spaces
        |  FROM documents WHERE source IN ('src0', 'src1')),
        |pc AS (SELECT n_chars AS v,
        |    count(CASE WHEN source = 'src0' THEN 1 END) AS ca,
        |    count(CASE WHEN source = 'src1' THEN 1 END) AS cb
        |  FROM d GROUP BY 1),
        |tc AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM pc),
        |cc AS (SELECT
        |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb
        |  FROM pc),
        |r1 AS (SELECT 'n_chars' AS feature, 'ks' AS kind,
        |    tc.na::BIGINT AS n_ref, tc.nb::BIGINT AS n_cur,
        |    ((max(abs(cuma * tc.nb - cumb * tc.na)) * 1000000)
        |      // (tc.na * tc.nb))::BIGINT AS stat_micros
        |  FROM cc CROSS JOIN tc GROUP BY tc.na, tc.nb),
        |ps AS (SELECT n_spaces AS v,
        |    count(CASE WHEN source = 'src0' THEN 1 END) AS ca,
        |    count(CASE WHEN source = 'src1' THEN 1 END) AS cb
        |  FROM d GROUP BY 1),
        |ts AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM ps),
        |cs AS (SELECT
        |    sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cuma,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb
        |  FROM ps),
        |r2 AS (SELECT 'n_spaces' AS feature, 'ks' AS kind,
        |    ts.na::BIGINT, ts.nb::BIGINT,
        |    ((max(abs(cuma * ts.nb - cumb * ts.na)) * 1000000)
        |      // (ts.na * ts.nb))::BIGINT
        |  FROM cs CROSS JOIN ts GROUP BY ts.na, ts.nb),
        |pl AS (SELECT lang AS c,
        |    count(CASE WHEN source = 'src0' THEN 1 END) AS ca,
        |    count(CASE WHEN source = 'src1' THEN 1 END) AS cb
        |  FROM d GROUP BY 1),
        |wl AS (SELECT ca, cb, sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        |  FROM pl),
        |r3 AS (SELECT 'lang' AS feature, 'tvd' AS kind,
        |    max(na)::BIGINT, max(nb)::BIGINT,
        |    (CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
        |      (sum(abs(ca::HUGEINT * nb::HUGEINT - cb::HUGEINT * na::HUGEINT))
        |        * 1000000)
        |        // (2 * max(na)::HUGEINT * max(nb)::HUGEINT)
        |    END)::BIGINT
        |  FROM wl)
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL
        |SELECT * FROM r3 ORDER BY feature""".stripMargin,

    "q_feat_robust_stats" ->
      """WITH per AS (SELECT (o_totalprice::DECIMAL(18,2) * 100)::HUGEINT
        |      AS v, count(*) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
        |w AS (SELECT v, c,
        |    sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS n
        |  FROM per),
        |q AS (SELECT max(n) AS n,
        |    min(CASE WHEN cum >= (25 * n + 99) // 100 THEN v END) AS q1,
        |    min(CASE WHEN cum >= (50 * n + 99) // 100 THEN v END) AS med,
        |    min(CASE WHEN cum >= (75 * n + 99) // 100 THEN v END) AS q3
        |  FROM w)
        |SELECT q.n::BIGINT AS n, q.q1::BIGINT AS q1_cents,
        |  q.med::BIGINT AS median_cents, q.q3::BIGINT AS q3_cents,
        |  (q.q3 - q.q1)::BIGINT AS iqr_cents,
        |  (SELECT coalesce(sum(c), 0) FROM per
        |    WHERE 2 * v < 2 * q.q1 - 3 * (q.q3 - q.q1))::BIGINT
        |    AS n_low_outliers,
        |  (SELECT coalesce(sum(c), 0) FROM per
        |    WHERE 2 * v > 2 * q.q3 + 3 * (q.q3 - q.q1))::BIGINT
        |    AS n_high_outliers
        |FROM q""".stripMargin,

    "q_feat_mad" ->
      """WITH per AS (SELECT (o_totalprice::DECIMAL(18,2) * 100)::HUGEINT
        |      AS v, count(*) AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL GROUP BY 1),
        |w AS (SELECT v, c,
        |    sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS n
        |  FROM per),
        |q AS (SELECT max(n) AS n,
        |    min(CASE WHEN cum >= (50 * n + 99) // 100 THEN v END) AS med
        |  FROM w),
        |dev AS (SELECT abs(per.v - q.med) AS v, sum(per.c) AS c
        |  FROM per CROSS JOIN q GROUP BY 1),
        |w2 AS (SELECT v, c,
        |    sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum,
        |    sum(c) OVER () AS n
        |  FROM dev),
        |q2 AS (SELECT min(CASE WHEN cum >= (50 * n + 99) // 100 THEN v END)
        |    AS mad FROM w2)
        |SELECT q.n::BIGINT AS n, q.med::BIGINT AS median_cents,
        |  q2.mad::BIGINT AS mad_cents
        |FROM q CROSS JOIN q2""".stripMargin,

    "q_j11_join_health" ->
      """WITH f AS (SELECT l_orderkey AS k, count(*) AS fc
        |  FROM lineitem GROUP BY 1),
        |d AS (SELECT o_orderkey AS k, count(*) AS dc
        |  FROM orders WHERE o_orderstatus = 'F' GROUP BY 1),
        |j AS (SELECT coalesce(f.k, d.k) AS k, f.fc, d.dc, f.k AS fk
        |  FROM f FULL OUTER JOIN d ON f.k = d.k)
        |SELECT
        |  (SELECT count(*) FROM lineitem)::BIGINT AS n_fact,
        |  sum(coalesce(dc, 0))::BIGINT AS n_dim,
        |  sum(CASE WHEN fk IS NULL AND dc IS NULL
        |    THEN coalesce(fc, 0) ELSE 0 END)::BIGINT AS n_fact_null_key,
        |  count(CASE WHEN k IS NOT NULL AND dc > 1 THEN 1 END)::BIGINT
        |    AS n_dim_dup_keys,
        |  coalesce(sum(CASE WHEN dc IS NULL AND fk IS NOT NULL THEN fc END),
        |    0)::BIGINT AS n_orphan_fact,
        |  coalesce(max(CASE WHEN dc IS NOT NULL THEN fc END), 0)::BIGINT
        |    AS max_fanout,
        |  (CASE WHEN count(CASE WHEN dc IS NOT NULL AND fc IS NOT NULL
        |      THEN 1 END) > 0 THEN
        |    (sum(CASE WHEN dc IS NOT NULL THEN coalesce(fc, 0) END)
        |      * 1000000)
        |      // count(CASE WHEN dc IS NOT NULL AND fc IS NOT NULL THEN 1
        |        END)
        |  END)::BIGINT AS avg_fanout_micros
        |FROM j""".stripMargin,

    "q_feat_mw" ->
      """WITH f AS (SELECT o_totalprice AS v, o_orderpriority AS g
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
        |per AS (SELECT v,
        |    count(CASE WHEN g = '1-URGENT' THEN 1 END) AS ca,
        |    count(CASE WHEN g = '5-LOW' THEN 1 END) AS cb
        |  FROM f GROUP BY 1),
        |c AS (SELECT ca, cb,
        |    sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumb
        |  FROM per),
        |t AS (SELECT sum(ca) AS na, sum(cb) AS nb,
        |    sum(ca::HUGEINT * (2 * (cumb - cb) + cb)) AS u2,
        |    sum((ca + cb)::HUGEINT * (ca + cb) * (ca + cb) - (ca + cb))
        |      AS ties
        |  FROM c)
        |SELECT na::BIGINT AS n_a, nb::BIGINT AS n_b, u2::BIGINT AS u2_a,
        |  CASE WHEN na > 0 AND nb > 0 AND na + nb > 1 AND
        |    (((na + nb)::DOUBLE + 1.0)
        |      - ties::DOUBLE
        |        / ((na + nb)::DOUBLE * ((na + nb)::DOUBLE - 1.0))) > 0.0
        |  THEN
        |    (u2::DOUBLE - na::DOUBLE * nb::DOUBLE)
        |      / (2.0 * sqrt((na::DOUBLE * nb::DOUBLE / 12.0)
        |        * (((na + nb)::DOUBLE + 1.0)
        |          - ties::DOUBLE
        |            / ((na + nb)::DOUBLE * ((na + nb)::DOUBLE - 1.0)))))
        |  END AS z
        |FROM t""".stripMargin,

    "q_w19_running_distinct" ->
      """WITH f AS (SELECT event_id, user_id, event_type, ts,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS fs
        |  FROM events)
        |SELECT event_id, user_id, event_type,
        |  sum(fs) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
        |    AS distinct_so_far
        |FROM f ORDER BY event_id""".stripMargin,

    "q_ts_backtest" ->
      """WITH daily AS (SELECT event_type AS series, ts::DATE AS day,
        |    count(*) AS actual
        |  FROM events GROUP BY 1, 2),
        |j AS (SELECT d.series, d.actual, f.actual AS forecast
        |  FROM daily d JOIN daily f ON f.series = d.series
        |    AND f.day + 7 = d.day)
        |SELECT series, count(*)::BIGINT AS n_days,
        |  sum(actual)::BIGINT AS total_actual,
        |  ((sum(abs(actual - forecast)) * 1000000)
        |    // sum(actual))::BIGINT AS wape_micros,
        |  (sum((abs(actual - forecast) * 1000000) // actual)
        |    // count(*))::BIGINT AS mape_micros
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ea_attribution" ->
      """WITH conv AS (SELECT user_id, min(ts) AS conv_ts FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1),
        |t AS (SELECT e.event_type,
        |    row_number() OVER (PARTITION BY e.user_id
        |      ORDER BY e.ts, e.event_id) AS pos,
        |    count(*) OVER (PARTITION BY e.user_id) AS n
        |  FROM events e JOIN conv USING (user_id)
        |  WHERE e.ts < conv.conv_ts AND e.event_type <> 'purchase'),
        |c AS (SELECT event_type AS channel,
        |    CASE WHEN pos = 1 THEN 1000000 ELSE 0 END AS f,
        |    CASE WHEN pos = n THEN 1000000 ELSE 0 END AS l,
        |    (1000000 // n)
        |      + (CASE WHEN pos <= 1000000 % n THEN 1 ELSE 0 END) AS lin
        |  FROM t)
        |SELECT channel, sum(f)::BIGINT AS first_micros,
        |  sum(l)::BIGINT AS last_micros,
        |  sum(lin)::BIGINT AS linear_micros,
        |  count(*)::BIGINT AS n_touches
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ab_report" ->
      """WITH units AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY 1),
        |v AS (SELECT CASE WHEN
        |    ('0x' || substr(md5(concat_ws('|', user_id, 'ab')), 1, 15))
        |      ::UBIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant, converted
        |  FROM units),
        |per AS (SELECT variant, count(*) AS n_units,
        |    count(CASE WHEN converted = 1 THEN 1 END) AS n_conv
        |  FROM v GROUP BY 1),
        |per2 AS (SELECT variant, n_units, n_conv,
        |    ((n_conv * 1000000) // n_units)::BIGINT AS rate_micros FROM per),
        |c AS (SELECT n_units AS nc, n_conv AS cc FROM per2
        |  WHERE variant = 'A')
        |SELECT p.variant, p.n_units, p.n_conv, p.rate_micros,
        |  (CASE WHEN p.variant = 'A' THEN NULL
        |    ELSE p.rate_micros - ((c.cc * 1000000) // c.nc)
        |    END)::BIGINT AS delta_micros,
        |  CASE WHEN p.variant = 'A' OR NOT
        |    sqrt(((p.n_conv + c.cc)::DOUBLE / (p.n_units + c.nc)::DOUBLE)
        |      * (1.0 - (p.n_conv + c.cc)::DOUBLE
        |          / (p.n_units + c.nc)::DOUBLE)
        |      * (1.0 / p.n_units::DOUBLE + 1.0 / c.nc::DOUBLE)) > 0
        |  THEN NULL ELSE
        |    (p.n_conv::DOUBLE / p.n_units::DOUBLE
        |      - c.cc::DOUBLE / c.nc::DOUBLE)
        |    / sqrt(((p.n_conv + c.cc)::DOUBLE / (p.n_units + c.nc)::DOUBLE)
        |      * (1.0 - (p.n_conv + c.cc)::DOUBLE
        |          / (p.n_units + c.nc)::DOUBLE)
        |      * (1.0 / p.n_units::DOUBLE + 1.0 / c.nc::DOUBLE))
        |  END AS z_stat
        |FROM per2 p CROSS JOIN c
        |ORDER BY p.variant""".stripMargin,

    "q_ea_survival" ->
      """WITH RECURSIVE subj AS (SELECT user_id,
        |    date_diff('day', min(ts)::DATE, max(ts)::DATE)::INT AS dur,
        |    CASE WHEN max(ts)::DATE <=
        |      (SELECT max(ts)::DATE - 7 FROM events) THEN 1 ELSE 0
        |      END AS obs
        |  FROM events GROUP BY 1),
        |per AS (SELECT dur AS duration,
        |    count(CASE WHEN obs = 1 THEN 1 END) AS d,
        |    count(CASE WHEN obs = 0 THEN 1 END) AS c
        |  FROM subj GROUP BY 1),
        |o AS (SELECT duration, d, c,
        |    sum(d + c) OVER (ORDER BY duration DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n,
        |    row_number() OVER (ORDER BY duration) AS rn
        |  FROM per),
        |rec AS (
        |  SELECT rn, duration, n, d, c,
        |    (1000000 * (n - d)) // n AS s
        |  FROM o WHERE rn = 1
        |  UNION ALL
        |  SELECT o.rn, o.duration, o.n, o.d, o.c,
        |    (r.s * (o.n - o.d)) // o.n
        |  FROM rec r JOIN o ON o.rn = r.rn + 1)
        |SELECT duration, n::BIGINT AS n_risk, d::BIGINT AS n_events,
        |  c::BIGINT AS n_censored, s::BIGINT AS survival_micros
        |FROM rec ORDER BY duration""".stripMargin,

    "q_feat_clf_report" ->
      """WITH d AS (SELECT source, n_chars,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM documents),
        |c AS (SELECT source,
        |    count(CASE WHEN n_chars >= 300 AND y = 1 THEN 1 END) AS tp,
        |    count(CASE WHEN n_chars >= 300 AND y = 0 THEN 1 END) AS fp,
        |    count(CASE WHEN n_chars < 300 AND y = 1 THEN 1 END) AS fn,
        |    count(CASE WHEN n_chars < 300 AND y = 0 THEN 1 END) AS tn
        |  FROM d GROUP BY 1)
        |SELECT source, tp, fp, fn, tn,
        |  (CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp)
        |    END)::BIGINT AS precision_micros,
        |  (CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn)
        |    END)::BIGINT AS recall_micros,
        |  (CASE WHEN 2 * tp + fp + fn > 0 THEN
        |    (2 * tp * 1000000) // (2 * tp + fp + fn)
        |    END)::BIGINT AS f1_micros,
        |  ((tp + tn) * 1000000 // (tp + fp + fn + tn))::BIGINT
        |    AS accuracy_micros
        |FROM c ORDER BY source""".stripMargin,

    "q_stat_chi2" ->
      """WITH cells AS (SELECT o_orderpriority AS a, o_orderstatus AS b,
        |    count(*) AS o
        |  FROM orders GROUP BY 1, 2),
        |m AS (SELECT a, b, o,
        |    sum(o) OVER (PARTITION BY a) AS ra,
        |    sum(o) OVER (PARTITION BY b) AS cb,
        |    sum(o) OVER () AS n
        |  FROM cells),
        |c AS (SELECT a, b, o, ra, cb, n,
        |    (ra::HUGEINT * cb::HUGEINT * 1000000) // n::HUGEINT AS e
        |  FROM m),
        |d AS (SELECT a, b, n, e, o::HUGEINT * 1000000 - e AS diff FROM c),
        |agg AS (SELECT max(n) AS n,
        |    count(DISTINCT a) AS k, count(DISTINCT b) AS m,
        |    sum(CASE WHEN e > 0 THEN (diff * diff) // e END) AS chi2
        |  FROM d)
        |SELECT n::BIGINT AS n,
        |  ((k - 1) * (m - 1))::BIGINT AS dof,
        |  chi2::BIGINT AS chi2_micros,
        |  CASE WHEN least(k, m) > 1 THEN
        |    sqrt((chi2::DOUBLE / 1000000.0)
        |      / (n::DOUBLE * (least(k, m) - 1)::DOUBLE))
        |  END AS cramers_v
        |FROM agg""".stripMargin,

    "q_stat_tvd" ->
      """WITH f AS (SELECT lang AS c, source AS g FROM documents
        |  WHERE source IN ('src0', 'src1')),
        |per AS (SELECT c,
        |    count(CASE WHEN g = 'src0' THEN 1 END) AS ca,
        |    count(CASE WHEN g = 'src1' THEN 1 END) AS cb
        |  FROM f GROUP BY 1),
        |w AS (SELECT ca, cb, sum(ca) OVER () AS na, sum(cb) OVER () AS nb
        |  FROM per)
        |SELECT max(na)::BIGINT AS n_a, max(nb)::BIGINT AS n_b,
        |  (CASE WHEN max(na) > 0 AND max(nb) > 0 THEN
        |    (sum(abs(ca::HUGEINT * nb::HUGEINT - cb::HUGEINT * na::HUGEINT))
        |      * 1000000)
        |      // (2 * max(na)::HUGEINT * max(nb)::HUGEINT)
        |  END)::BIGINT AS tvd_micros
        |FROM w""".stripMargin,

    "q_ab_cuped" ->
      """WITH units AS (SELECT o_custkey,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '1998-01-01'
        |      THEN o_totalprice::DECIMAL(18,2)
        |      ELSE 0::DECIMAL(18,2) END) AS pre_spend,
        |    sum(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01'
        |      THEN o_totalprice::DECIMAL(18,2)
        |      ELSE 0::DECIMAL(18,2) END) AS post_spend
        |  FROM orders GROUP BY 1),
        |v AS (SELECT CASE WHEN
        |    ('0x' || substr(md5(concat_ws('|', o_custkey, 'cuped')), 1, 15))
        |      ::UBIGINT % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
        |    (pre_spend * 100)::HUGEINT AS x,
        |    (post_spend * 100)::HUGEINT AS y
        |  FROM units),
        |per AS (SELECT variant, count(*) AS n_units, sum(x) AS sx,
        |    sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx
        |  FROM v GROUP BY 1),
        |g AS (SELECT sum(n_units)::HUGEINT AS n, sum(sx) AS gx,
        |    sum(sy) AS gy, sum(sxy) AS gxy, sum(sxx) AS gxx FROM per),
        |g2 AS (SELECT n, gx, n*gxx - gx*gx AS varx,
        |    n*gxy - gx*gy AS cov FROM g),
        |g3 AS (SELECT n, (gx * 10000) // n AS gmx,
        |    CASE WHEN varx > 0 THEN
        |      CASE WHEN cov >= 0 THEN (cov * 1000000) // varx
        |        ELSE -(((-cov) * 1000000) // varx) END
        |    END AS theta FROM g2),
        |adj AS (SELECT p.variant, p.n_units,
        |    (p.sy * 10000) // p.n_units::HUGEINT AS mean_m, g3.theta,
        |    (p.sx * 10000) // p.n_units::HUGEINT - g3.gmx AS dx
        |  FROM per p CROSS JOIN g3),
        |adj2 AS (SELECT variant, n_units, mean_m, theta,
        |    CASE WHEN theta IS NULL THEN mean_m
        |      ELSE mean_m - (CASE WHEN theta * dx >= 0
        |        THEN (theta * dx) // 1000000
        |        ELSE -(((-(theta * dx))) // 1000000) END)
        |    END AS adj_m
        |  FROM adj),
        |c AS (SELECT adj_m AS ctrl FROM adj2 WHERE variant = 'A')
        |SELECT a.variant, a.n_units, a.mean_m::BIGINT AS mean_micros,
        |  a.adj_m::BIGINT AS adj_mean_micros, a.theta::BIGINT AS theta_micros,
        |  (CASE WHEN a.variant = 'A' THEN NULL
        |    ELSE a.adj_m - c.ctrl END)::BIGINT AS adj_delta_micros
        |FROM adj2 a CROSS JOIN c ORDER BY a.variant""".stripMargin,

    "q_stat_bh" ->
      """WITH hyp AS (SELECT DISTINCT event_type,
        |    (ts::DATE)::VARCHAR AS day FROM events),
        |p AS (SELECT event_type, day,
        |    (('0x' || substr(md5(concat_ws('|', event_type, day, 'pv')),
        |      1, 15))::UBIGINT % 1000000)::BIGINT AS p_micros
        |  FROM hyp),
        |r AS (SELECT event_type, day, p_micros,
        |    row_number() OVER (ORDER BY p_micros, event_type, day) AS rk,
        |    count(*) OVER () AS m
        |  FROM p),
        |t2 AS (SELECT *, least(1000000,
        |    (p_micros::HUGEINT * m) // rk::HUGEINT) AS term FROM r),
        |t3 AS (SELECT *, min(term) OVER (ORDER BY rk DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS padj
        |  FROM t2),
        |k AS (SELECT coalesce(max(CASE WHEN p_micros::HUGEINT * m
        |      <= rk::HUGEINT * 50000 THEN rk END), 0) AS kstar FROM t3)
        |SELECT t3.event_type, t3.day, t3.p_micros,
        |  t3.rk::BIGINT AS p_rank, t3.padj::BIGINT AS padj_micros,
        |  t3.rk <= k.kstar AS is_discovery
        |FROM t3 CROSS JOIN k ORDER BY t3.rk""".stripMargin,

    "q_stat_gini" ->
      """WITH per AS (SELECT o_custkey,
        |    (sum(o_totalprice::DECIMAL(18,2)) * 100)::HUGEINT AS v
        |  FROM orders GROUP BY 1),
        |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn
        |  FROM per WHERE v >= 0),
        |a AS (SELECT count(*)::HUGEINT AS n, sum(v) AS t,
        |    sum(v * rn::HUGEINT) AS rs FROM r)
        |SELECT n::BIGINT AS n, t::BIGINT AS total_cents,
        |  (CASE WHEN n > 0 AND t > 0 THEN
        |    ((2*rs - (n+1)*t) * 1000000) // (n*t) END)::BIGINT AS gini_micros
        |FROM a""".stripMargin,

    "q_clf_isotonic" ->
      """WITH b AS (SELECT (n_chars // 100)::BIGINT AS bin,
        |    count(*) AS n, count(CASE WHEN lang = 'en' THEN 1 END) AS pos
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1),
        |idx AS (SELECT bin, n, pos, row_number() OVER (ORDER BY bin) AS i,
        |    sum(n) OVER (ORDER BY bin) AS cw,
        |    sum(pos) OVER (ORDER BY bin) AS cs
        |  FROM b),
        |-- window [j..k] pooled mean as an exact fraction
        |f AS (SELECT j.i AS j, k.i AS k,
        |    (k.cs - j.cs + j.pos)::HUGEINT AS num,
        |    (k.cw - j.cw + j.n)::HUGEINT AS den
        |  FROM idx j JOIN idx k ON j.i <= k.i),
        |-- minimax identity: iso(i) = max_{j<=i} min_{k>=i} mean[j..k];
        |-- the 1e15-scaled key is injective on distinct fractions at
        |-- these denominators, and (num*1e15 // den) // 1e9 ==
        |-- num*1e6 // den exactly (nested floor-division identity)
        |tri AS (SELECT m.i AS i, f.j,
        |    (f.num * 1000000000000000) // f.den AS key
        |  FROM f JOIN idx m ON f.j <= m.i AND m.i <= f.k),
        |inn AS (SELECT i, j, min(key) AS mn FROM tri GROUP BY 1, 2),
        |iso AS (SELECT i, max(mn) AS mx FROM inn GROUP BY 1)
        |SELECT idx.bin, idx.n::BIGINT AS n, idx.pos::BIGINT AS pos,
        |  ((idx.pos::HUGEINT * 1000000) // idx.n::HUGEINT)::BIGINT
        |    AS rate_micros,
        |  (iso.mx // 1000000000)::BIGINT AS iso_micros
        |FROM idx JOIN iso ON idx.i = iso.i ORDER BY idx.bin""".stripMargin,

    "q_stat_did" ->
      """WITH o AS (SELECT
        |    ('0x' || substr(md5(concat_ws('|', o_custkey, 'did')), 1, 15))
        |      ::UBIGINT % 2 = 0 AS t,
        |    o_orderdate >= TIMESTAMP '1998-01-01' AS p,
        |    (o_totalprice::DECIMAL(18,2) * 100)::HUGEINT AS cents
        |  FROM orders),
        |a AS (SELECT
        |    count(CASE WHEN t AND NOT p THEN 1 END) AS n_treat_pre,
        |    count(CASE WHEN t AND p THEN 1 END) AS n_treat_post,
        |    count(CASE WHEN NOT t AND NOT p THEN 1 END) AS n_ctrl_pre,
        |    count(CASE WHEN NOT t AND p THEN 1 END) AS n_ctrl_post,
        |    sum(CASE WHEN t AND NOT p THEN cents END) AS s_t0,
        |    sum(CASE WHEN t AND p THEN cents END) AS s_t1,
        |    sum(CASE WHEN NOT t AND NOT p THEN cents END) AS s_c0,
        |    sum(CASE WHEN NOT t AND p THEN cents END) AS s_c1
        |  FROM o),
        |m AS (SELECT n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
        |    (CASE WHEN n_treat_pre > 0 THEN
        |      (s_t0 * 10000) // n_treat_pre::HUGEINT END)::BIGINT AS m_t0,
        |    (CASE WHEN n_treat_post > 0 THEN
        |      (s_t1 * 10000) // n_treat_post::HUGEINT END)::BIGINT AS m_t1,
        |    (CASE WHEN n_ctrl_pre > 0 THEN
        |      (s_c0 * 10000) // n_ctrl_pre::HUGEINT END)::BIGINT AS m_c0,
        |    (CASE WHEN n_ctrl_post > 0 THEN
        |      (s_c1 * 10000) // n_ctrl_post::HUGEINT END)::BIGINT AS m_c1
        |  FROM a)
        |SELECT n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
        |  m_t0 AS mean_treat_pre_micros, m_t1 AS mean_treat_post_micros,
        |  m_c0 AS mean_ctrl_pre_micros, m_c1 AS mean_ctrl_post_micros,
        |  (m_t1 - m_t0 - (m_c1 - m_c0))::BIGINT AS did_micros
        |FROM m""".stripMargin,

    "q_stat_lorenz" ->
      """WITH per AS (SELECT o_custkey,
        |    (sum(o_totalprice::DECIMAL(18,2)) * 100)::HUGEINT AS v
        |  FROM orders GROUP BY 1),
        |f AS (SELECT v, count(*)::HUGEINT AS c FROM per
        |  WHERE v >= 0 GROUP BY 1),
        |w AS (SELECT v, c,
        |    sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum,
        |    sum(v * c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cumw,
        |    sum(c) OVER () AS n, sum(v * c) OVER () AS t
        |  FROM f),
        |d AS (SELECT unnest(range(1, 11))::INT AS decile)
        |SELECT d.decile,
        |  ((d.decile * w.n + 9) // 10)::BIGINT AS n_cum,
        |  (CASE WHEN w.t > 0 THEN
        |    ((w.cumw - (w.cum - (d.decile * w.n + 9) // 10) * w.v)
        |      * 1000000) // w.t
        |  END)::BIGINT AS wealth_share_micros
        |FROM d JOIN w
        |  ON w.cum >= (d.decile * w.n + 9) // 10
        |  AND w.cum - w.c < (d.decile * w.n + 9) // 10
        |ORDER BY d.decile""".stripMargin,

    "q_stat_bootstrap" ->
      """WITH rep AS (SELECT unnest(range(32))::INT AS replicate),
        |x AS (SELECT o_orderkey, o_totalprice::DECIMAL(18,2) AS v
        |  FROM orders),
        |d AS (SELECT r.replicate, x.v,
        |    ('0x' || substr(md5(concat_ws('|', x.o_orderkey, r.replicate,
        |      '42')), 1, 15))::UBIGINT % 1000000000 AS u
        |  FROM x CROSS JOIN rep r),
        |w AS (SELECT replicate, v,
        |    CASE WHEN u < 367879441 THEN 0 WHEN u < 735758882 THEN 1
        |         WHEN u < 919698602 THEN 2 WHEN u < 981011843 THEN 3
        |         WHEN u < 996340153 THEN 4 WHEN u < 999405815 THEN 5
        |         WHEN u < 999916758 THEN 6 WHEN u < 999989750 THEN 7
        |         ELSE 8 END AS wt
        |  FROM d)
        |SELECT replicate, sum(wt)::BIGINT AS n_eff,
        |  (sum(wt * v))::DOUBLE / (sum(wt))::DOUBLE AS wmean
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_feat_rfm" ->
      """WITH per AS (SELECT o_custkey AS customer,
        |    date_diff('day', max(o_orderdate)::DATE,
        |      DATE '2001-09-01')::BIGINT AS recency_days,
        |    count(*) AS frequency,
        |    sum(o_totalprice::DECIMAL(18,2)) AS mon
        |  FROM orders GROUP BY 1),
        |sc AS (SELECT customer, recency_days, frequency, mon,
        |    ntile(5) OVER (ORDER BY recency_days, customer)::INT AS r_score,
        |    ntile(5) OVER (ORDER BY frequency DESC, customer)::INT AS f_score,
        |    ntile(5) OVER (ORDER BY mon DESC, customer)::INT AS m_score
        |  FROM per)
        |SELECT customer, recency_days, frequency, mon::DOUBLE AS monetary,
        |  r_score, f_score, m_score,
        |  (r_score * 100 + f_score * 10 + m_score)::INT AS rfm_cell
        |FROM sc ORDER BY customer""".stripMargin,

    "q_graph_triangles" ->
      """WITH m0 AS (SELECT DISTINCT l_orderkey AS basket, l_partkey AS item
        |    FROM lineitem),
        |sz AS (SELECT basket FROM m0 GROUP BY basket HAVING count(*) <= 64),
        |m AS (SELECT m0.* FROM m0 JOIN sz USING (basket)),
        |e AS (SELECT DISTINCT a.item AS u, b.item AS v
        |  FROM m a JOIN m b ON a.basket = b.basket AND a.item < b.item),
        |d AS (SELECT node, count(*) AS deg FROM
        |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY 1),
        |t AS (SELECT ab.u AS a, ab.v AS b, bc.v AS c
        |  FROM e ab JOIN e bc ON bc.u = ab.v
        |    JOIN e ac ON ac.u = ab.u AND ac.v = bc.v),
        |corners AS (SELECT a AS node FROM t
        |  UNION ALL SELECT b FROM t UNION ALL SELECT c FROM t),
        |tc AS (SELECT node, count(*) AS n_tri FROM corners GROUP BY 1)
        |SELECT d.node AS item, d.deg,
        |  coalesce(tc.n_tri, 0)::BIGINT AS n_tri,
        |  (CASE WHEN d.deg < 2 THEN 0
        |    ELSE (2 * coalesce(tc.n_tri, 0) * 1000000)
        |      // (d.deg * (d.deg - 1)) END)::BIGINT AS clustering_micros
        |FROM d LEFT JOIN tc USING (node)
        |ORDER BY item""".stripMargin,

    "q_scd2_pit_join" ->
      s"""${scd2DimCte(" WHERE event_type <> 'purchase'")}
         |SELECT e.event_id, e.user_id, epoch_us(e.ts) AS fact_ts_us,
         |  d.version::INT AS version, d.tier AS profile_tier,
         |  d.event_type AS profile_event_type
         |FROM events e JOIN dim d ON e.user_id = d.user_id
         |  AND d.valid_from <= e.ts
         |  AND (d.valid_to IS NULL OR e.ts < d.valid_to)
         |WHERE e.event_type = 'purchase'
         |ORDER BY e.event_id""".stripMargin,

    "q_graph_degree" ->
      """WITH e AS (SELECT DISTINCT 'c:' || o_custkey::VARCHAR AS src,
        |    's:' || l_suppkey::VARCHAR AS dst
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |n AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |o AS (SELECT src AS node, count(*) AS outd FROM e GROUP BY 1),
        |i AS (SELECT dst AS node, count(*) AS ind FROM e GROUP BY 1)
        |SELECT n.node, coalesce(o.outd, 0)::BIGINT AS out_degree,
        |  coalesce(i.ind, 0)::BIGINT AS in_degree
        |FROM n LEFT JOIN o ON n.node = o.node LEFT JOIN i ON n.node = i.node
        |ORDER BY n.node""".stripMargin,

    "q_graph_pagerank" ->
      s"""WITH e0 AS (SELECT DISTINCT 'c:' || o_custkey::VARCHAR AS src,
         |    's:' || l_suppkey::VARCHAR AS dst
         |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         |e AS (SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |n AS (SELECT DISTINCT src AS node FROM e),
         |d AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
         |r0 AS (SELECT node, 1000000::BIGINT AS r FROM n),
         |${prIterSql("r0", "r1")},
         |${prIterSql("r1", "r2")},
         |${prIterSql("r2", "r3")}
         |SELECT node, r AS rank_micros FROM r3 ORDER BY node""".stripMargin,
  )

  /** The SCD2 dimension rebuild as a DuckDB CTE chain — the shared body
    * of the build/merge/as-of oracles. Mirrors `ops/Scd.scd2Build` over
    * the banded event change log: lag-suppression of unchanged
    * (event_type, tier) pairs, then version/validity windows, all
    * ordered (ts, event_id) per user. */
  private def scd2DimCte(where: String = ""): String =
    s"""WITH log AS (SELECT user_id, event_id, ts, event_type,
      |    CASE WHEN value < 50 THEN 'lo' WHEN value < 100 THEN 'mid'
      |         ELSE 'hi' END AS tier
      |  FROM events$where),
      |flagged AS (SELECT *, row_number() OVER w AS rn,
      |    lag(event_type) OVER w AS p_type, lag(tier) OVER w AS p_tier
      |  FROM log WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |kept AS (SELECT user_id, ts, event_id, event_type, tier FROM flagged
      |  WHERE rn = 1 OR event_type IS DISTINCT FROM p_type
      |     OR tier IS DISTINCT FROM p_tier),
      |dim AS (SELECT user_id, row_number() OVER w AS version, event_type,
      |    tier, ts AS valid_from, lead(ts) OVER w AS valid_to
      |  FROM kept WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin

  private def scd2RebuildSql: String =
    s"""${scd2DimCte()}
       |SELECT user_id, version::INT AS version, event_type, tier,
       |  epoch_us(valid_from) AS valid_from_us,
       |  epoch_us(valid_to) AS valid_to_us,
       |  (valid_to IS NULL)::INT AS is_current
       |FROM dim ORDER BY user_id, version""".stripMargin

  /** One unrolled fixed-point PageRank round: integer micro-unit ranks,
    * truncating integral division (`//` — operands are all positive, so
    * DuckDB's floor division equals Spark's truncating `div`). */
  private def prIterSql(prev: String, cur: String): String =
    s"""$cur AS (SELECT n.node,
       |    (150000 + (85 * coalesce(f.inflow, 0)) // 100)::BIGINT AS r
       |  FROM n LEFT JOIN (
       |    SELECT e.dst AS node, sum(r.r // d.outdeg)::BIGINT AS inflow
       |    FROM e JOIN $prev r ON e.src = r.node JOIN d ON e.src = d.src
       |    GROUP BY 1) f ON n.node = f.node)""".stripMargin

  /** SQL replication of the MMR greedy (q_sim_mmr_rerank): the brute-force
    * rounded-cosine shortlist feeds integer micro-unit similarities over
    * QUANTIZED UNIT vectors; each greedy step is an unrolled CTE — argmax
    * of `λ·sim_q − (1−λ)·max-pairwise-sim-to-selected`, all BIGINT, ties
    * to the smallest candidate id. Exactly the Spark aggregate-walk
    * semantics, step by step. */
  private def mmrRerankSql(nQueries: Int, shortlist: Int, k: Int,
                           lam: Int): String = {
    val lamC = 100 - lam
    def pair(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, 65), i -> $a.cv[i] * $b.cv[i])) AS BIGINT)"
    val steps = (2 to k).map { n =>
      val prevSel = (1 until n)
        .map(i => s"SELECT query_id, cand_id, cv FROM s$i")
        .mkString(" UNION ALL ")
      s"""sel$n AS ($prevSel),
         |p$n AS (SELECT c.query_id, c.cand_id,
         |    $lam * max(c.sq) - $lamC * max(${pair("c", "s")}) AS o,
         |    max(c.sq) AS sq
         |  FROM c JOIN sel$n s ON s.query_id = c.query_id
         |  WHERE NOT EXISTS (SELECT 1 FROM sel$n x
         |    WHERE x.query_id = c.query_id AND x.cand_id = c.cand_id)
         |  GROUP BY c.query_id, c.cand_id),
         |s$n AS (SELECT p.query_id, p.cand_id, cc.cv, p.sq, $n AS rnk
         |  FROM p$n p JOIN c cc
         |    ON cc.query_id = p.query_id AND cc.cand_id = p.cand_id
         |  QUALIFY row_number() OVER (PARTITION BY p.query_id
         |    ORDER BY p.o DESC, p.cand_id) = 1)""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to k)
      .map(i => s"SELECT query_id, cand_id, sq, rnk FROM s$i")
      .mkString(" UNION ALL ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS dv FROM embeddings),
       |u AS (SELECT vec_id,
       |    CASE WHEN list_dot_product(dv, dv) > 0
       |      THEN list_transform(dv,
       |        x -> CAST(round(x / sqrt(list_dot_product(dv, dv)) * 1000000) AS BIGINT))
       |      ELSE list_transform(dv, x -> CAST(0 AS BIGINT)) END AS uv
       |  FROM e),
       |sc AS (SELECT query_id, neighbor_id FROM (
       |    SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      round(list_dot_product(c.dv, qq.dv)
       |        / (sqrt(list_dot_product(c.dv, c.dv))
       |         * sqrt(list_dot_product(qq.dv, qq.dv))), 6) AS cs
       |    FROM e c CROSS JOIN e qq
       |    WHERE qq.vec_id < $nQueries AND c.vec_id <> qq.vec_id)
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY cs DESC, neighbor_id) <= $shortlist),
       |c AS (SELECT sc.query_id, sc.neighbor_id AS cand_id, cu.uv AS cv,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> cu.uv[i] * qu.uv[i])) AS BIGINT) AS sq
       |  FROM sc JOIN u cu ON cu.vec_id = sc.neighbor_id
       |          JOIN u qu ON qu.vec_id = sc.query_id),
       |s1 AS (SELECT query_id, cand_id, cv, sq, 1 AS rnk FROM c
       |  QUALIFY row_number() OVER (PARTITION BY query_id
       |    ORDER BY $lam * sq DESC, cand_id) = 1),
       |$steps
       |SELECT query_id, rnk AS mmr_rank, cand_id AS neighbor_id,
       |  sq AS sim_q_int
       |FROM ($unionAll)
       |ORDER BY query_id, mmr_rank""".stripMargin
  }

  /** SQL replication of the fixed-codebook PQ encode (q_sim_pq_encode):
    * per 32-dim subspace, integer micro-unit quantization then argmin
    * over the four constant-component centroids — every distance is an
    * exact BIGINT, so list_position(list_min) picks the identical code
    * in any engine. */
  private def pqEncodeSql: String = {
    val cents = Seq(-30000L, -10000L, 10000L, 30000L)
    def dists(sv: String) = cents.map(c =>
      s"list_sum(list_transform($sv, x -> (x - ($c)) * (x - ($c))))")
      .mkString("[", ", ", "]")
    s"""WITH q AS (SELECT vec_id,
       |    list_transform(embedding,
       |      x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings),
       |s AS (SELECT vec_id, v[1:32] AS s0, v[33:64] AS s1 FROM q),
       |d AS (SELECT vec_id, ${dists("s0")} AS d0, ${dists("s1")} AS d1 FROM s)
       |SELECT vec_id,
       |  CAST(list_position(d0, list_min(d0)) - 1 AS INT) AS code0,
       |  CAST(list_position(d1, list_min(d1)) - 1 AS INT) AS code1
       |FROM d ORDER BY vec_id""".stripMargin
  }

  /** One UNION ALL branch per profiled column, mirroring
    * Validation.profile's long format ((name, isNumeric) pairs). */
  private def profileSql(table: String, cols: Seq[(String, Boolean)]): String = {
    val branches = cols.map { case (c, isNum) =>
      val (minNum, maxNum, minStr, maxStr) =
        if (isNum) (s"CAST(min($c) AS DOUBLE)", s"CAST(max($c) AS DOUBLE)",
          "NULL::VARCHAR", "NULL::VARCHAR")
        else ("NULL::DOUBLE", "NULL::DOUBLE",
          s"CAST(min($c) AS VARCHAR)", s"CAST(max($c) AS VARCHAR)")
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |  count(*) FILTER (WHERE $c IS NULL) AS n_null,
         |  count(DISTINCT $c) AS n_distinct,
         |  $minNum AS min_num, $maxNum AS max_num,
         |  $minStr AS min_str, $maxStr AS max_str
         |FROM $table""".stripMargin
    }
    branches.mkString("\nUNION ALL\n") + "\nORDER BY \"column\""
  }

  /** Batch replay of Streaming.driftMonitor: per-bin floored conditional
    * counts, then the SAME left-fold summation order as Spark's
    * `aggregate()` so the double arithmetic is expression-identical. */
  private def streamDriftSql(nBins: Int, width: Double, basePct: String): String = {
    val fs = (0 until nBins).map(b =>
      s"greatest(count(*) FILTER (WHERE bin = $b), 1) AS f$b").mkString(",\n        |    ")
    val tot = s"CAST(${(0 until nBins).map(b => s"f$b").mkString(" + ")} AS DOUBLE)"
    def term(b: Int) =
      s"((CAST(f$b AS DOUBLE) / $tot - $basePct) * ln((CAST(f$b AS DOUBLE) / $tot) / $basePct))"
    val fold = (0 until nBins).foldLeft("0.0")((acc, b) => s"($acc + ${term(b)})")
    s"""WITH e AS (SELECT date_trunc('day', ts) AS win,
        |    CAST(least(greatest(floor(value / $width), 0), ${nBins - 1}) AS BIGINT) AS bin
        |  FROM events),
        |c AS (SELECT win, count(*) AS n_events,
        |    $fs
        |  FROM e GROUP BY win)
        |SELECT strftime(win, '%Y-%m-%d') AS win_day, n_events,
        |  floor($fold * 1e6 + 0.5) / 1e6 AS psi
        |FROM c ORDER BY win_day""".stripMargin
  }

  /** Unrolled Morton interleave, bit-identical to Scale.zOrderValue. */
  private def zOrderSql(x: String, y: String, bits: Int): String =
    (0 until bits).flatMap(b => Seq(
      s"((($x >> $b) & 1) << ${2 * b})",
      s"((($y >> $b) & 1) << ${2 * b + 1})")).mkString(" | ")

  /** Single-pass pairwise Pearson, same formula shape as
    * Features.corrPairs (decimal-exact sums → fixed double expression). */
  private def corrPairsSql(cols: Seq[String], table: String): String = {
    def s(c: String) = s"s_$c"
    def p(i: Int, j: Int) = s"p_${i}_$j"
    val sumSelects = cols.map(c =>
      s"CAST(sum(CAST($c AS DECIMAL(18,2))) AS DOUBLE) AS ${s(c)}")
    val prodSelects = for { i <- cols.indices; j <- i until cols.size } yield
      s"CAST(sum(CAST(${cols(i)} AS DECIMAL(18,2)) * " +
        s"CAST(${cols(j)} AS DECIMAL(18,2))) AS DOUBLE) AS ${p(i, j)}"
    val pairRows = for { i <- cols.indices; j <- (i + 1) until cols.size } yield {
      val (sx, sy) = (s(cols(i)), s(cols(j)))
      val cov = s"(nd * ${p(i, j)} - $sx * $sy)"
      val vx = s"(nd * ${p(i, i)} - $sx * $sx)"
      val vy = s"(nd * ${p(j, j)} - $sy * $sy)"
      s"SELECT '${cols(i)}' AS col_x, '${cols(j)}' AS col_y, n, " +
        s"floor(CASE WHEN $vx > 0.0 AND $vy > 0.0 THEN $cov / (sqrt($vx) * sqrt($vy)) END " +
        s"* 1e9 + 0.5) / 1e9 AS corr FROM st"
    }
    s"""WITH st AS (SELECT ${(sumSelects ++ prodSelects).mkString(", ")},
       |  count(*) AS n, CAST(count(*) AS DOUBLE) AS nd FROM $table)
       |${pairRows.mkString("\nUNION ALL\n")}
       |ORDER BY col_x, col_y""".stripMargin
  }
}
