"""DuckDB oracle SQL, one entry per oracle-checkable query in
plans/queries.py.  These encode the SAME semantics with the SAME
determinism rules (see queries.py header); the driver runs them over
parquet views named region/nation/customer/supplier/part/orders/
lineitem/events/documents/embeddings.

Queries with no entry here (MinHash/SimHash/LSH families, multimodal)
are hash-seeded or Python-vectorized and get rows-only checks plus
planted-fixture tests (SURVEY.md §7 'LSH correctness').
"""

from __future__ import annotations


def _dsum(expr: str, alias: str, scale: int = 2) -> str:
    """Order-independent money sum — mirror of functions.money.decimal_sum."""
    return f"CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(38,6))), {scale}) AS DOUBLE) AS {alias}"


def _davg(expr: str, alias: str, scale: int = 6) -> str:
    """Mirror of functions.money.decimal_avg."""
    return (
        f"CAST(ROUND(CAST(SUM(CAST(({expr}) AS DECIMAL(38,6))) AS DOUBLE) "
        f"/ COUNT({expr}), {scale}) AS DOUBLE) AS {alias}"
    )


# tokens: trim → split on whitespace runs → drop empties (= texttools.tokens_expr)
_TOKS = r"list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')"

_REVENUE = "l_extendedprice * (1 - l_discount)"

_DIM_PART = (
    "SELECT CAST(row_number() OVER (ORDER BY p_partkey) AS INT) AS PartKey, "
    "p_partkey AS Source_PartKey, p_name AS PartName, p_brand AS Brand, "
    "p_type AS PartType, p_size AS PartSize, CAST(p_retailprice AS DOUBLE) AS RetailPrice "
    "FROM part"
)

_FACT = f"""
SELECT l_orderkey AS Source_OrderKey, l_partkey AS Source_PartKey,
       dp.PartKey AS PartKey, l_linenumber AS LineNumber,
       o_orderdate AS OrderDate, l_shipdate AS ShipDate,
       l_quantity AS Quantity, l_discount AS Discount,
       {_REVENUE} AS ExtendedPrice
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
LEFT JOIN ({_DIM_PART}) dp ON l_partkey = dp.Source_PartKey
"""

ORACLES: dict[str, str] = {
    # ------------------------------------------------------------- reference
    "flagship_revenue_by_nation": f"""
        SELECT n_name, {_dsum(_REVENUE, "total_revenue")}
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        GROUP BY n_name
        ORDER BY total_revenue DESC, n_name
    """,
    "star_revenue_by_brand": f"""
        SELECT p_brand AS Brand, {_dsum(_REVENUE, "TotalSalesRevenue")}
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY TotalSalesRevenue DESC, Brand
    """,
    "sql_flagship_revenue": f"""
        SELECT p_brand AS Brand, {_dsum(_REVENUE, "TotalSalesRevenue")}
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand
        ORDER BY TotalSalesRevenue DESC, Brand
    """,
    "star_dim_category": """
        SELECT CAST(row_number() OVER (ORDER BY r_regionkey) AS INT) AS CategoryKey,
               r_regionkey AS Source_CategoryID, r_name AS CategoryName
        FROM region
    """,
    "star_dim_part": _DIM_PART,
    "star_fact_order_metrics": _FACT,
    "fact_rowcount": f"SELECT COUNT(*) AS n_rows FROM ({_FACT})",
    "topk_extendedprice": f"""
        SELECT Source_OrderKey, LineNumber, ExtendedPrice, Quantity, Discount
        FROM ({_FACT})
        ORDER BY ExtendedPrice DESC, Source_OrderKey, LineNumber
        LIMIT 10
    """,
    "nullkey_audit": """
        SELECT l_orderkey, l_linenumber, l_partkey
        FROM lineitem
        WHERE l_partkey NOT IN (SELECT p_partkey FROM part)
    """,
    "null_key_invariant": f"""
        SELECT CAST(SUM(CASE WHEN PartKey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_keys
        FROM ({_FACT})
    """,
    "semi_join_active_customers": """
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
    "extended_price_3factor": """
        SELECT l_orderkey, l_linenumber,
               ROUND(l_quantity * (l_extendedprice / NULLIF(l_quantity, 0.0))
                     * (1 - l_discount), 6) AS ExtendedPrice
        FROM lineitem
    """,
    "null_coercing_cast": """
        SELECT doc_id,
               TRY_CAST(CASE WHEN n_chars % 2 = 0 THEN CAST(n_chars AS VARCHAR)
                             ELSE lang END AS INT) AS mixed_int,
               TRY_CAST(n_chars AS SMALLINT) AS n_chars_small
        FROM documents
    """,
    "counts_all_tables": """
        SELECT 'region' AS tbl, COUNT(*) AS n_rows FROM region
        UNION ALL SELECT 'nation', COUNT(*) FROM nation
        UNION ALL SELECT 'customer', COUNT(*) FROM customer
        UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
        UNION ALL SELECT 'part', COUNT(*) FROM part
        UNION ALL SELECT 'orders', COUNT(*) FROM orders
        UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        UNION ALL SELECT 'events', COUNT(*) FROM events
        UNION ALL SELECT 'documents', COUNT(*) FROM documents
        UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
    """,
    # ------------------------------------------------------------- TPC-H-ish
    "q1_pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               {_dsum("l_quantity", "sum_qty")},
               {_dsum("l_extendedprice", "sum_base_price")},
               {_dsum(_REVENUE, "sum_disc_price")},
               {_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
               {_davg("l_quantity", "avg_qty")},
               {_davg("l_extendedprice", "avg_price")},
               {_davg("l_discount", "avg_disc")},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "q3_shipping_priority": f"""
        SELECT l_orderkey, {_dsum(_REVENUE, "revenue")}, o_orderdate, o_orderpriority
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
          AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    "q5_local_supplier_volume": f"""
        SELECT n_name, {_dsum(_REVENUE, "revenue")}
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation   ON s_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
    """,
    "q6_forecast_revenue": f"""
        SELECT {_dsum("l_extendedprice * l_discount", "revenue")}
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.02 AND 0.06
          AND l_quantity < 24
    """,
    "window_topn_per_group": """
        SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
            SELECT c_mktsegment, c_custkey, c_acctbal,
                   CAST(row_number() OVER (
                       PARTITION BY c_mktsegment
                       ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
            FROM customer)
        WHERE rn <= 3
    """,
    "distinct_flag_status": "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "full_outer_nation_suppliers": """
        SELECT n_nationkey, n_name, n_suppliers
        FROM nation
        FULL OUTER JOIN (
            SELECT s_nationkey, COUNT(*) AS n_suppliers
            FROM supplier GROUP BY s_nationkey) s
        ON n_nationkey = s.s_nationkey
    """,
    "cross_join_flag_region": """
        SELECT r_name, l_returnflag
        FROM region CROSS JOIN (SELECT DISTINCT l_returnflag FROM lineitem)
    """,
    "customer_display_names": """
        SELECT c_custkey,
               upper(substring(c_mktsegment, 1, 3)) || '-' ||
                   lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS display_id,
               replace(c_name, 'Customer', 'Cust') AS short_name,
               length(c_name) AS name_len
        FROM customer
    """,
    "acctbal_buckets": f"""
        SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                    WHEN c_acctbal < 1000 THEN 'low'
                    WHEN c_acctbal < 5000 THEN 'mid'
                    ELSE 'high' END AS balance_bucket,
               COUNT(*) AS n_customers,
               {_dsum("c_acctbal", "total_balance")}
        FROM customer
        GROUP BY 1
    """,
    "pivot_flag_by_status": f"""
        SELECT l_returnflag,
               CAST(ROUND(SUM(CASE WHEN l_linestatus = 'F'
                    THEN CAST({_REVENUE} AS DECIMAL(38,6)) END), 2) AS DOUBLE) AS rev_F,
               CAST(ROUND(SUM(CASE WHEN l_linestatus = 'O'
                    THEN CAST({_REVENUE} AS DECIMAL(38,6)) END), 2) AS DOUBLE) AS rev_O
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    "order_latency_by_priority": """
        SELECT o_orderpriority,
               CAST(ROUND(CAST(SUM(CAST(date_diff('day', o_orderdate, l_shipdate)
                    AS DECIMAL(38,6))) AS DOUBLE)
                    / COUNT(date_diff('day', o_orderdate, l_shipdate)), 6) AS DOUBLE)
                   AS avg_lag_days,
               CAST(MAX(date_diff('day', o_orderdate, l_shipdate)) AS INT)
                   AS max_lag_days
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "profile_lineitem": """
        SELECT 'l_quantity' AS col_name,
               CAST(ROUND(MIN(l_quantity), 6) AS DOUBLE) AS min_val,
               CAST(ROUND(MAX(l_quantity), 6) AS DOUBLE) AS max_val,
               CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
               COUNT(DISTINCT l_quantity) AS n_distinct
        FROM lineitem
        UNION ALL
        SELECT 'l_extendedprice',
               CAST(ROUND(MIN(l_extendedprice), 6) AS DOUBLE),
               CAST(ROUND(MAX(l_extendedprice), 6) AS DOUBLE),
               CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT l_extendedprice)
        FROM lineitem
        UNION ALL
        SELECT 'l_discount',
               CAST(ROUND(MIN(l_discount), 6) AS DOUBLE),
               CAST(ROUND(MAX(l_discount), 6) AS DOUBLE),
               CAST(SUM(CASE WHEN l_discount IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT l_discount)
        FROM lineitem
        UNION ALL
        SELECT 'l_tax',
               CAST(ROUND(MIN(l_tax), 6) AS DOUBLE),
               CAST(ROUND(MAX(l_tax), 6) AS DOUBLE),
               CAST(SUM(CASE WHEN l_tax IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               COUNT(DISTINCT l_tax)
        FROM lineitem
    """,
    "quantiles_quantity": """
        SELECT l_returnflag,
               ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25,
               ROUND(quantile_cont(l_quantity, 0.50), 6) AS p50,
               ROUND(quantile_cont(l_quantity, 0.75), 6) AS p75,
               ROUND(quantile_cont(l_quantity, 0.95), 6) AS p95
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "running_monthly_revenue": f"""
        WITH monthly AS (
            -- CAST: duckdb date_trunc('month') yields DATE; Spark yields
            -- a timestamp — align the types for the value hash
            SELECT n_name, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
                   {_dsum(_REVENUE, "monthly_revenue")}
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name, CAST(date_trunc('month', o_orderdate) AS TIMESTAMP))
        SELECT n_name, month, monthly_revenue,
               CAST(ROUND(SUM(CAST(monthly_revenue AS DECIMAL(38,6))) OVER (
                   PARTITION BY n_name ORDER BY month
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS DOUBLE) AS running_revenue
        FROM monthly
    """,
    "moving_avg_order_value": """
        SELECT o_custkey, o_orderkey,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER w AS DOUBLE)
                     / COUNT(*) OVER w, 6) AS moving_avg_3
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """,
    "rollup_revenue": f"""
        SELECT l_returnflag, l_linestatus, {_dsum(_REVENUE, "revenue")},
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "cube_revenue": f"""
        SELECT l_returnflag, l_linestatus, {_dsum(_REVENUE, "revenue")},
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "grouping_sets_revenue": f"""
        SELECT l_returnflag, l_linestatus, {_dsum(_REVENUE, "revenue")},
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    "map_props_exploded": """
        SELECT 'k' AS key, COUNT(*) AS n_rows,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT)
                   AS value_sum
        FROM events
        WHERE json_extract_string(props, '$.k') IS NOT NULL
    """,
    "null_safe_join_props": """
        WITH ev AS (
            SELECT event_id,
                   CAST(json_extract_string(props, '$.k') AS INT) AS prop_k
            FROM events),
        keys AS (
            SELECT DISTINCT prop_k - prop_k % 10 AS ref_k FROM ev)
        SELECT ref_k, COUNT(*) AS n_matched
        FROM ev JOIN keys ON ev.prop_k IS NOT DISTINCT FROM keys.ref_k
        GROUP BY ref_k
    """,
    "set_ops_brands": """
        (SELECT p_brand AS brand FROM part WHERE p_size >= 25
         INTERSECT
         SELECT p_brand AS brand FROM part WHERE p_size <= 10)
        EXCEPT
        SELECT p_brand AS brand FROM part WHERE p_size >= 49
    """,
    # ---------------------------------------------------------------- events
    "tumbling_event_counts": f"""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events, {_dsum("value", "sum_value")}
        FROM events
        GROUP BY 1, 2
    """,
    # Sliding windows: every event belongs to the 4 slide-aligned
    # window starts in (ts - 1 h, ts]; time_bucket's 2000-01-03 origin
    # is a whole number of days from the epoch, so 15-minute buckets
    # align with Spark's epoch-aligned F.window starts exactly.
    "sliding_event_counts": f"""
        SELECT time_bucket(INTERVAL '15 minutes', CAST(ts AS TIMESTAMP))
                 - (k * INTERVAL '15 minutes') AS window_start,
               event_type,
               COUNT(*) AS n_events, {_dsum("value", "sum_value")}
        FROM events, generate_series(0, 3) AS t(k)
        GROUP BY 1, 2
    """,
    "session_stats": f"""
        WITH ordered AS (
            SELECT user_id, event_id, ts, value,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events),
        flagged AS (
            SELECT *, CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts > INTERVAL 30 MINUTE
                           THEN 1 ELSE 0 END AS new_sess
            FROM ordered),
        sessioned AS (
            SELECT *, CAST(SUM(new_sess) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
            FROM flagged)
        SELECT user_id, session_id,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               COUNT(*) AS n_events, {_dsum("value", "sum_value")}
        FROM sessioned
        GROUP BY user_id, session_id
    """,
    "json_prop_histogram": """
        SELECT CAST(json_extract_string(props, '$.k') AS INT) AS prop_k,
               COUNT(*) AS n_events
        FROM events
        GROUP BY 1
    """,
    "event_value_histogram": f"""
        SELECT CAST(floor(value / 10) AS INT) AS bucket,
               COUNT(*) AS n_events, {_dsum("value", "sum_value")}
        FROM events
        GROUP BY 1
    """,
    "bigram_freq_top20": f"""
        WITH t AS (SELECT {_TOKS} AS toks FROM documents),
        bg AS (
            SELECT unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 1, 0)),
                       i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bigram
            FROM t)
        SELECT bigram, COUNT(*) AS n
        FROM bg
        GROUP BY bigram
        ORDER BY n DESC, bigram
        LIMIT 20
    """,
    "top_users_by_value": f"""
        SELECT user_id, COUNT(*) AS n_events, {_dsum("value", "sum_value")}
        FROM events
        GROUP BY user_id
        ORDER BY sum_value DESC, user_id
        LIMIT 20
    """,
    # ------------------------------------------------------------- documents
    "dedup_exact_docs": """
        SELECT md5(text) AS text_md5, MIN(doc_id) AS doc_id
        FROM documents
        GROUP BY md5(text)
    """,
    "dedup_hash_docs": r"""
        SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_hash,
               MIN(doc_id) AS doc_id, COUNT(*) AS n_copies
        FROM documents
        GROUP BY 1
    """,
    # Chunk grammar mirror of operators/chunking.py (chunk_size=32,
    # stride=24): starts at token 1, 1+24, ...; both engines truncate
    # the negative-numerator division and clamp with greatest(0, ·);
    # list slices are 1-based and clamp past the end in DuckDB exactly
    # like Spark's slice(arr, start, len).
    "chunk_docs": f"""
        WITH toks AS (
            SELECT doc_id, {_TOKS} AS tk FROM documents
        ), spec AS (
            SELECT doc_id, tk,
                   1 + greatest(0, (len(tk) - 32 + 23) // 24) AS n_chunks
            FROM toks
        ), chunks AS (
            SELECT doc_id, tk,
                   CAST(unnest(range(0, n_chunks)) AS INT) AS chunk_id
            FROM spec
        )
        SELECT doc_id, chunk_id,
               CAST(len(tk[chunk_id*24+1 : chunk_id*24+32]) AS INT)
                   AS n_chunk_tokens,
               md5(array_to_string(tk[chunk_id*24+1 : chunk_id*24+32], ' '))
                   AS chunk_md5
        FROM chunks
    """,
    # Mirrors operators/redact.py (patterns valid+identical in Java
    # regex and RE2) over the doc_id-seeded text of
    # queries._pii_seeded_docs; counts on the original text, redaction
    # applied in REDACTION_ORDER (email -> url -> ipv4 -> phone) with
    # the 'g' flag matching Spark's always-global regexp_replace.
    "pii_redaction_stats": r"""
        WITH seeded AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com or https://ex' || CAST(doc_id AS VARCHAR)
                        || '.com/a b node 10.1.2.' || CAST(doc_id % 256 AS VARCHAR)
                        || ' call +1-555-'
                        || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                        || '-0199' AS text
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
                   AS n_email,
               CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INT)
                   AS n_url,
               CAST(len(regexp_extract_all(text,
                    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INT)
                   AS n_ipv4,
               CAST(len(regexp_extract_all(text,
                    '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS INT)
                   AS n_phone,
               md5(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(text,
                         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                         '<EMAIL>', 'g'),
                       'https?://[^\s]+', '<URL>', 'g'),
                     '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}',
                     '<IP>', 'g'),
                   '\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')
               ) AS redacted_md5
        FROM seeded
    """,
    "train_eval_split": """
        SELECT doc_id,
               CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
                   % 100 AS split_bucket,
               CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                          AS BIGINT) % 100 < 80
                    THEN 'train' ELSE 'eval' END AS split
        FROM documents
    """,
    # Mirrors operators/fuzzy.py exactly: lower/trim normalize, distinct
    # char 3-grams (short strings contribute themselves), df-capped
    # posting lists, distinct candidate pairs, levenshtein verify.
    "fuzzy_name_match_pairs": """
        WITH base AS (
          SELECT c_custkey AS id, lower(trim(c_name)) AS name FROM customer),
        g AS (
          SELECT id, unnest(list_distinct(list_transform(
                     generate_series(1, greatest(length(name) - 2, 1)),
                     i -> substr(name, i, 3)))) AS gram
          FROM base),
        live AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 100),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM g a JOIN live USING (gram) JOIN g b USING (gram)
          WHERE a.id < b.id)
        SELECT id_a, id_b, levenshtein(na.name, nb.name) AS edit_distance
        FROM cand
        JOIN base na ON na.id = id_a
        JOIN base nb ON nb.id = id_b
        WHERE levenshtein(na.name, nb.name) <= 1
    """,
    "contamination_check": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 0)),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS shingle
            FROM t),
        split AS (
            SELECT doc_id,
                   CASE WHEN CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                              AS BIGINT) % 100 < 80
                        THEN 'train' ELSE 'eval' END AS split
            FROM documents),
        tr AS (SELECT sh.doc_id AS train_id, shingle
               FROM sh JOIN split USING (doc_id) WHERE split = 'train'),
        ev AS (SELECT sh.doc_id AS eval_id, shingle
               FROM sh JOIN split USING (doc_id) WHERE split = 'eval'),
        -- mirror of the engine's eval-side max_df hot-shingle cutoff
        live AS (SELECT shingle FROM ev GROUP BY shingle HAVING COUNT(*) <= 500)
        SELECT train_id, eval_id, COUNT(*) AS n_shared
        FROM tr
        JOIN live USING (shingle)
        JOIN ev USING (shingle)
        GROUP BY train_id, eval_id
        HAVING COUNT(*) >= 2
    """,
    "doc_repetition_stats": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
        tf AS (SELECT doc_id, term, COUNT(*) AS c FROM terms GROUP BY 1, 2),
        uni AS (
            SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
                   ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_term_frac
            FROM tf GROUP BY doc_id),
        bgs AS (
            SELECT doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 1, 0)),
                       i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bg
            FROM t),
        bf AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY 1, 2),
        btop AS (
            SELECT doc_id,
                   ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top_bigram_frac
            FROM bf GROUP BY doc_id)
        SELECT uni.doc_id, n_tokens, top_term_frac, b.top_bigram_frac
        FROM uni LEFT JOIN btop b ON b.doc_id = uni.doc_id
    """,
    "text_quality_stats": f"""
        WITH t AS (SELECT doc_id, text, {_TOKS} AS toks FROM documents)
        SELECT doc_id,
               length(text) AS n_chars_calc,
               CAST(len(toks) AS INT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS INT) AS n_uniq_tokens,
               ROUND(len(list_distinct(toks)) / NULLIF(CAST(len(toks) AS DOUBLE), 0.0), 6)
                   AS uniq_ratio,
               ROUND(CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
                     / NULLIF(CAST(len(toks) AS DOUBLE), 0.0), 6) AS avg_token_len,
               length(regexp_replace(text, '[^!,.;:?]', '', 'g')) AS n_punct,
               ROUND(len(list_filter(toks,
                         x -> x IN ('the','a','and','of','to','is','in','it')))
                     / NULLIF(CAST(len(toks) AS DOUBLE), 0.0), 6) AS stopword_ratio
        FROM t
    """,
    "lang_distribution": f"""
        SELECT lang, COUNT(*) AS n_docs, {_davg("n_chars", "avg_chars")}
        FROM documents
        GROUP BY lang
    """,
    # lang_id_pred is registered below (needs the frozen langid weight
    # lists embedded as SQL literals — see _langid_oracle_sql)
    "token_counts": f"""
        SELECT doc_id, CAST(len({_TOKS}) AS INT) AS n_tokens FROM documents
    """,
    "token_count_bpe_docs": f"""
        SELECT doc_id,
               CAST(list_sum(list_transform({_TOKS},
                    x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_pieces
        FROM documents
    """,
    "term_freq_top20": f"""
        SELECT term, COUNT(*) AS term_count
        FROM (SELECT unnest({_TOKS}) AS term FROM documents)
        GROUP BY term
        ORDER BY term_count DESC, term
        LIMIT 20
    """,
    "tfidf_scores": f"""
        WITH terms AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT doc_id, term, tf,
               ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tf_idf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    """,
    "unigram_surprisal_scores": f"""
        WITH terms AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
        counts AS (SELECT term, COUNT(*) AS tc FROM terms GROUP BY term),
        total AS (SELECT COUNT(*) AS n_total FROM terms),
        lp AS (
            SELECT doc_id, ln(CAST(tc AS DOUBLE) / n_total) AS ln_p
            FROM terms JOIN counts USING (term) CROSS JOIN total)
        SELECT doc_id,
               ROUND(CAST(-SUM(CAST(ln_p AS DECIMAL(38,12))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_surprisal,
               COUNT(*) AS n_tokens
        FROM lp
        GROUP BY doc_id
    """,
    "bigram_surprisal_scores": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        bgs AS (
            SELECT doc_id, unnest(list_transform(
                       generate_series(1, greatest(len(toks) - 1, 0)),
                       i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS bg
            FROM t),
        c2 AS (SELECT bg, COUNT(*) AS c2 FROM bgs GROUP BY bg),
        c1 AS (SELECT split_part(bg, ' ', 1) AS w1, CAST(SUM(c2) AS BIGINT) AS c1
               FROM c2 GROUP BY 1),
        vocab AS (SELECT COUNT(DISTINCT term) AS v
                  FROM (SELECT unnest(toks) AS term FROM t)),
        lp AS (
            SELECT doc_id,
                   ln(CAST(c2 + 1 AS DOUBLE) / (c1 + v)) AS ln_p
            FROM bgs
            JOIN c2 USING (bg)
            JOIN c1 ON split_part(bg, ' ', 1) = c1.w1
            CROSS JOIN vocab)
        SELECT doc_id,
               ROUND(CAST(-SUM(CAST(ln_p AS DECIMAL(38,12))) AS DOUBLE)
                     / COUNT(*), 6) AS mean_bigram_surprisal,
               COUNT(*) AS n_bigrams
        FROM lp
        GROUP BY doc_id
    """,
    "doc_fingerprints": """
        SELECT doc_id,
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ''),
                                      c -> CAST(ascii(c) AS BIGINT))),
                   (h, x) -> (h * 31 + x) % 1000000007) AS roll_hash,
               md5(text) AS md5_hex
        FROM documents
    """,
    "ngram_jaccard_pairs": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        sh AS (
            SELECT doc_id, unnest(list_distinct(list_transform(
                       generate_series(1, greatest(len(toks) - 2, 0)),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')))) AS shingle
            FROM t),
        sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
        -- mirror of the engine's max_df hot-shingle cutoff (dedup.py::
        -- ngram_jaccard, default 500): shingles in more docs than that
        -- carry no near-dup signal and are excluded from |∩| evidence
        live AS (
            SELECT shingle FROM sh GROUP BY shingle
            HAVING COUNT(*) BETWEEN 2 AND 500),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            JOIN live l ON l.shingle = a.shingle
            GROUP BY 1, 2)
        SELECT id_a, id_b,
               ROUND(CAST(n_inter AS DOUBLE)
                     / (sa.set_size + sb.set_size - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE ROUND(CAST(n_inter AS DOUBLE)
                    / (sa.set_size + sb.set_size - n_inter), 6) >= 0.2
    """,
    # ------------------------------------------------------------ multimodal
    # Byte-stat features over utf-8 blobs: DuckDB has no direct byte
    # indexing on BLOB, so bytes are recovered from hex() pairs — an
    # independent derivation that value-matches the numpy path
    # (operators/multimodal.py::extract_blob_features) exactly.
    "multimodal_blob_features": """
        WITH b AS (
          SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS h
          FROM documents),
        bytes AS (
          SELECT doc_id, n,
                 (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(h, 2*i,   1)) - 1) AS byte
          FROM b, unnest(generate_series(1, n)) AS t(i)),
        counts AS (SELECT doc_id, n, byte, COUNT(*) AS c FROM bytes GROUP BY 1, 2, 3),
        stats AS (
          SELECT doc_id,
                 CAST(SUM(byte * c) AS BIGINT) AS byte_sum,
                 ROUND(-SUM((c / CAST(n AS DOUBLE)) * log2(c / CAST(n AS DOUBLE))), 4)
                     AS byte_entropy_q
          FROM counts GROUP BY doc_id)
        SELECT b.doc_id, b.n AS n_bytes,
               CAST(COALESCE(s.byte_sum, 0) AS BIGINT) AS byte_sum,
               COALESCE(s.byte_entropy_q, 0.0) AS byte_entropy_q
        FROM b LEFT JOIN stats s ON s.doc_id = b.doc_id
    """,
    # The P6 render is deterministic: width 16 (48-byte RGB rows),
    # height = ceil(n/48) (min 1), pixels = the utf-8 text bytes with a
    # zero-padded final row.  Padding contributes 0 to every channel
    # sum, so per-channel sums over the REAL n bytes (byte i belongs to
    # channel (i-1) % 3) equal the decoded image's channel sums — the
    # oracle checks the decode round-trip without building any image.
    "multimodal_image_stats": """
        WITH b AS (
          SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS h
          FROM documents),
        bytes AS (
          SELECT doc_id, CAST((i - 1) % 3 AS INT) AS ch,
                 (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(h, 2*i,   1)) - 1) AS byte
          FROM b, unnest(generate_series(1, n)) AS t(i)),
        sums AS (
          SELECT doc_id,
                 CAST(COALESCE(SUM(byte) FILTER (WHERE ch = 0), 0) AS BIGINT) AS sum_r,
                 CAST(COALESCE(SUM(byte) FILTER (WHERE ch = 1), 0) AS BIGINT) AS sum_g,
                 CAST(COALESCE(SUM(byte) FILTER (WHERE ch = 2), 0) AS BIGINT) AS sum_b
          FROM bytes GROUP BY doc_id)
        SELECT b.doc_id,
               CAST(16 AS INT) AS width,
               CAST(GREATEST((b.n + 47) // 48, 1) AS INT) AS height,
               CAST(3 AS INT) AS channels,
               CAST(COALESCE(s.sum_r, 0) AS BIGINT) AS sum_r,
               CAST(COALESCE(s.sum_g, 0) AS BIGINT) AS sum_g,
               CAST(COALESCE(s.sum_b, 0) AS BIGINT) AS sum_b
        FROM b LEFT JOIN sums s ON s.doc_id = b.doc_id
    """,
    # Frame sampling is deterministic byte arithmetic (every 4th
    # 32-byte chunk of the utf-8 blob; a lone short blob yields one
    # partial frame; chunks past floor(L/32) are never emitted), so the
    # Python 1→N mapInPandas expansion is checkable without exploding:
    #   n_chunks = max(L // 32, 1); n_frames = ceil(n_chunks / 4);
    #   every emitted frame is full 32 bytes unless L < 32.
    "multimodal_frame_stats": """
        WITH b AS (SELECT doc_id, octet_length(encode(text)) AS L FROM documents),
        c AS (SELECT doc_id, L, greatest(L // 32, 1) AS n_chunks FROM b)
        SELECT doc_id,
               (n_chunks + 3) // 4 AS n_frames,
               CASE WHEN L >= 32 THEN ((n_chunks + 3) // 4) * 32
                    ELSE L END AS total_frame_bytes
        FROM c
    """,
    # ------------------------------------------------------------ embeddings
    "embedding_norms": """
        SELECT vec_id,
               ROUND(sqrt(list_sum(list_transform(embedding,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 6) AS l2_norm
        FROM embeddings
    """,
    "knn_bruteforce_topk": """
        WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        scored AS (
            SELECT vec_id,
                   list_sum(list_transform(generate_series(1, len(embedding)),
                        i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
                   / NULLIF(
                     sqrt(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                     * sqrt(list_sum(list_transform(qv,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0) AS cos_raw
            FROM embeddings, q)
        SELECT vec_id, ROUND(cos_raw, 6) AS cosine
        FROM scored
        ORDER BY cosine DESC, vec_id
        LIMIT 10
    """,
    # ----------------------------------------------------- temporal joins
    # asof_last_touch: DuckDB's NATIVE ASOF JOIN (same inclusive >= tie
    # rule as the union+window implementation) — a cross-engine check
    # against a purpose-built as-of operator, not a SQL re-derivation.
    "asof_last_touch": """
        WITH touches AS (
            SELECT user_id, ts AS touch_ts,
                   MAX(event_id) AS touch_event_id,
                   max_by(event_type, event_id) AS touch_type
            FROM events
            WHERE event_type <> 'purchase'
            GROUP BY user_id, ts),
        p AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase')
        SELECT p.user_id, p.ts, p.event_id,
               t.touch_ts, t.touch_event_id, t.touch_type
        FROM p ASOF LEFT JOIN touches t
          ON p.user_id = t.user_id AND p.ts >= t.touch_ts
    """,
    # forward twin: nearest touch AT OR AFTER the purchase (<=)
    "asof_next_touch": """
        WITH touches AS (
            SELECT user_id, ts AS touch_ts,
                   MAX(event_id) AS touch_event_id,
                   max_by(event_type, event_id) AS touch_type
            FROM events
            WHERE event_type <> 'purchase'
            GROUP BY user_id, ts),
        p AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase')
        SELECT p.user_id, p.ts, p.event_id,
               t.touch_ts, t.touch_event_id, t.touch_type
        FROM p ASOF LEFT JOIN touches t
          ON p.user_id = t.user_id AND p.ts <= t.touch_ts
    """,
    # session_overlap_pairs: the binned interval-overlap join vs a plain
    # inequality self-join over the SAME session CTE as session_stats.
    "session_overlap_pairs": """
        WITH ordered AS (
            SELECT user_id, event_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
            FROM events),
        flagged AS (
            SELECT *, CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts > INTERVAL 30 MINUTE
                           THEN 1 ELSE 0 END AS new_sess
            FROM ordered),
        sessioned AS (
            SELECT *, CAST(SUM(new_sess) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS session_id
            FROM flagged),
        sess AS (
            SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
            FROM sessioned GROUP BY user_id, session_id)
        SELECT a.user_id AS user_id_a, a.session_id AS session_id_a,
               b.user_id AS user_id_b, b.session_id AS session_id_b,
               greatest(a.s, b.s) AS overlap_start,
               least(a.e, b.e) AS overlap_end
        FROM sess a JOIN sess b
          ON a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
    """,
    # scd2_user_event_history: the window-pass history build vs the
    # same lag-collapse + lead-close shape in SQL.
    "scd2_user_event_history": """
        WITH changes AS (
            SELECT user_id, ts, max_by(event_type, event_id) AS event_type
            FROM events GROUP BY user_id, ts),
        collapsed AS (
            SELECT user_id, ts, event_type FROM (
                SELECT user_id, ts, event_type,
                       lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_type
                FROM changes)
            WHERE prev_type IS NULL OR prev_type <> event_type)
        SELECT user_id, event_type, ts AS eff_from,
               lead(ts) OVER w AS eff_to,
               CAST(row_number() OVER w AS INT) AS version,
               (lead(ts) OVER w IS NULL) AS is_current
        FROM collapsed
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """,
    # order_value_rank_stats: ranking windows with a total order so
    # ntile's positional assignment is engine-independent.
    "order_value_rank_stats": """
        SELECT o_orderkey, o_orderpriority,
               ROUND(percent_rank() OVER w, 6) AS pct_rank,
               ROUND(cume_dist() OVER w, 6) AS cume,
               CAST(ntile(10) OVER w AS INT) AS decile
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    # revenue_trend_by_nation: applyInPandas per-group OLS vs DuckDB's
    # regr_slope/regr_intercept over the identical monthly aggregate.
    "revenue_trend_by_nation": """
        WITH monthly AS (
            SELECT n_name,
                   CAST((year(o_orderdate) - 1995) * 12
                        + month(o_orderdate) - 1 AS BIGINT) AS x,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2)
                        AS DOUBLE) AS y
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            GROUP BY n_name, x)
        SELECT n_name, COUNT(*) AS n_points,
               ROUND(regr_slope(y, x), 4) AS slope,
               ROUND(regr_intercept(y, x), 4) AS intercept
        FROM monthly
        GROUP BY n_name
    """,

    # ------------------------------------------------ r03 TPC-H suite
    # (plans/tpch.py; adapted to the partsupp-less testdata schema)
    "q4_late_order_priority": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
    "q7_volume_shipping": f"""
        SELECT supp_nation, cust_nation, l_year, {_dsum("volume", "revenue")}
        FROM (
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS INTEGER) AS l_year,
                   {_REVENUE} AS volume
            FROM supplier
            JOIN lineitem ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN customer ON c_custkey = o_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') OR
                   (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00') shipping
        GROUP BY supp_nation, cust_nation, l_year
        ORDER BY supp_nation, cust_nation, l_year
    """,
    "q8_market_share": f"""
        SELECT o_year,
               CAST(ROUND(
                   CAST(SUM(CAST(CASE WHEN nation = 'NATION_2' THEN volume
                                      ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
                   / CAST(SUM(CAST(volume AS DECIMAL(38,6))) AS DOUBLE),
                   6) AS DOUBLE) AS mkt_share
        FROM (
            SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   {_REVENUE} AS volume, n2.n_name AS nation
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON c_nationkey = n1.n_nationkey
            JOIN region   ON n1.n_regionkey = r_regionkey
            JOIN nation n2 ON s_nationkey = n2.n_nationkey
            WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00') all_nations
        GROUP BY o_year
        ORDER BY o_year
    """,
    "q9_product_type_profit": f"""
        SELECT nation, o_year, {_dsum("amount", "sum_profit")}
        FROM (
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS INTEGER) AS o_year,
                   {_REVENUE} AS amount
            FROM part
            JOIN lineitem ON p_partkey = l_partkey
            JOIN supplier ON s_suppkey = l_suppkey
            JOIN orders   ON o_orderkey = l_orderkey
            JOIN nation   ON s_nationkey = n_nationkey
            WHERE p_name LIKE '%ring%') profit
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
    """,
    "q10_returned_items": f"""
        SELECT c_custkey, c_name, {_dsum(_REVENUE, "revenue")}, c_acctbal, n_name
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN nation   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
          AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
    """,
    "q13_customer_order_counts": """
        SELECT c_count, COUNT(*) AS custdist
        FROM (SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer
              LEFT OUTER JOIN orders
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
    """,
    "q14_promo_revenue": f"""
        SELECT CAST(ROUND(
            100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO' THEN {_REVENUE}
                                       ELSE 0 END AS DECIMAL(38,6))) AS DOUBLE)
            / CAST(SUM(CAST({_REVENUE} AS DECIMAL(38,6))) AS DOUBLE),
            6) AS DOUBLE) AS promo_revenue
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'
    """,
    "q15_top_supplier": f"""
        WITH revenue AS (
            SELECT l_suppkey AS supplier_no, {_dsum(_REVENUE, "total_revenue")}
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
            GROUP BY l_suppkey)
        SELECT s_suppkey, s_name, total_revenue
        FROM supplier
        JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        ORDER BY s_suppkey
    """,
    "q16_supplier_part_variety": """
        SELECT p_brand, p_type, p_size,
               CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
    # threshold avg below is decimal-sum/count — the same
    # order-independent formula the Spark side computes, so the strict
    # < cannot flip on FP summation order (see tpch.q17 docstring).
    "q17_small_quantity_revenue": """
        SELECT CAST(ROUND(
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0,
            2) AS DOUBLE) AS avg_yearly
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#3'
          AND l_quantity < 0.2 * (
              SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE)
                     / COUNT(l_quantity)
              FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)
    """,
    "q18_large_volume_customers": f"""
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               {_dsum("l_quantity", "sum_qty")}
        FROM customer
        JOIN orders   ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                             GROUP BY l_orderkey
                             HAVING SUM(l_quantity) > 250)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        LIMIT 100
    """,
    "q19_disjunctive_revenue": f"""
        SELECT {_dsum(_REVENUE, "revenue")}
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
               AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#3'  AND p_size BETWEEN 1 AND 35
               AND l_quantity BETWEEN 20 AND 30)
    """,
    "q20_promo_part_suppliers": """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_suppkey IN (
            SELECT l_suppkey
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE p_type = 'PROMO'
              AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_suppkey
            HAVING SUM(l_quantity) > 300)
        ORDER BY s_suppkey
    """,
    # correlated original of the set-based Spark plan (tpch.q21): the
    # cross-engine check that the per-order aggregate collapse is an
    # exact equivalent of the EXISTS / NOT EXISTS pair.
    "q21_late_supplier": """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
    """,
    "q22_dormant_customers": """
        SELECT c_mktsegment, COUNT(*) AS numcust,
               CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(38,6))), 2)
                    AS DOUBLE) AS totacctbal
        FROM customer
        WHERE c_acctbal > (
                SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                       / COUNT(c_acctbal)
                FROM customer WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders
                          WHERE o_custkey = c_custkey
                            AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment
    """,
    # -------------------------------------- r03 post-rotation additions
    # hypertable rollup: spine via generate_series, LOCF via
    # last_value IGNORE NULLS — mirrors operators/timeseries.py.
    "daily_user_value_gapfill": """
        WITH per AS (
            SELECT user_id, date_trunc('day', ts) AS day,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2)
                        AS DOUBLE) AS v
            FROM events GROUP BY user_id, day),
        bounds AS (
            SELECT user_id, MIN(day) AS mn, MAX(day) AS mx
            FROM per GROUP BY user_id),
        spine AS (
            SELECT user_id,
                   unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day
            FROM bounds)
        SELECT s.user_id, s.day,
               COALESCE(p.v, 0.0) AS value_sum,
               LAST_VALUE(p.v IGNORE NULLS) OVER (
                   PARTITION BY s.user_id ORDER BY s.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS locf_sum
        FROM spine s
        LEFT JOIN per p ON s.user_id = p.user_id AND s.day = p.day
        ORDER BY s.user_id, s.day
    """,
    "part_measures_unpivot": """
        SELECT p_partkey, 'p_size' AS measure,
               CAST(p_size AS DOUBLE) AS measure_value
        FROM part
        UNION ALL
        SELECT p_partkey, 'p_retailprice' AS measure,
               CAST(p_retailprice AS DOUBLE) AS measure_value
        FROM part
        ORDER BY p_partkey, measure
    """,
    # raw-SQL twin of q21 (Catalyst RewritePredicateSubquery path);
    # same correlated oracle.
    "sql_q21_late_supplier": """
        SELECT s_name, COUNT(*) AS numwait
        FROM supplier
        JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
        JOIN orders ON o_orderkey = l1.l_orderkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F' AND n_name = 'NATION_3'
          AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
          AND EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
    """,
    # embedding class cohesion: centroid per label (dim-wise avg),
    # avg member→centroid cosine; DuckDB indexes the list with a
    # 1..64 cross join (its UNNEST lacks ORDINALITY) and scores with
    # list_cosine_similarity — an independent cosine implementation
    # against the Spark zip_with/aggregate fold.
    "label_centroid_cosine": """
        WITH idxs AS (
            SELECT unnest(generate_series(1, 64)) AS idx),
        dims AS (
            SELECT label, idx, AVG(CAST(embedding[idx] AS DOUBLE)) AS m
            FROM embeddings CROSS JOIN idxs
            GROUP BY label, idx),
        cent AS (
            SELECT label, list(m ORDER BY idx) AS centroid
            FROM dims GROUP BY label)
        SELECT e.label, COUNT(*) AS n_vecs,
               CAST(ROUND(AVG(list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), c.centroid)), 5)
                    AS DOUBLE) AS avg_cos
        FROM embeddings e JOIN cent c ON e.label = c.label
        GROUP BY e.label
        ORDER BY e.label
    """,
    # ------------------------------------------ r05 additions
    # q2 shape on the synthesized partsupp bridge (min unit price per
    # part×supplier from lineitem); the correlated min-per-group is the
    # textbook correlated scalar subquery here, vs the Spark window-MIN.
    "q2_min_cost_supplier": """
        WITH ps AS (
            SELECT l_partkey, l_suppkey,
                   MIN(l_extendedprice / l_quantity) AS supplycost
            FROM lineitem WHERE l_quantity > 0
            GROUP BY l_partkey, l_suppkey)
        SELECT s.s_acctbal, s.s_name, n.n_name AS nation,
               p.p_partkey, p.p_name, ps.supplycost
        FROM ps
        JOIN part p ON ps.l_partkey = p.p_partkey
        JOIN supplier s ON ps.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
          AND r.r_name = 'EUROPE'
          AND ps.supplycost = (
              SELECT MIN(ps2.supplycost)
              FROM ps ps2
              JOIN supplier s2 ON ps2.l_suppkey = s2.s_suppkey
              JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
              JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
              WHERE ps2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
        ORDER BY s.s_acctbal DESC, nation, s.s_name, p.p_partkey
        LIMIT 100
    """,
    # q11 shape: HAVING vs a global scalar subquery over the same
    # grouped relation; decimal sums, double threshold compare.  The
    # cut is 2x the MEAN part value (scale-free), not a fixed share of
    # the total (vacuously empty at larger SF).
    "q11_important_parts": """
        WITH g AS (
            SELECT l_partkey,
                   SUM(CAST(l_extendedprice * (1 - l_discount)
                            AS DECIMAL(38,6))) AS v
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name = 'NATION_3'
            GROUP BY l_partkey)
        SELECT l_partkey AS p_partkey,
               CAST(ROUND(v, 2) AS DOUBLE) AS part_value
        FROM g
        WHERE CAST(v AS DOUBLE) >
              2.0 * (SELECT CAST(SUM(v) AS DOUBLE) / COUNT(*) FROM g)
        ORDER BY part_value DESC, p_partkey
    """,
    "conversion_funnel_counts": """
        WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
              JOIN v USING (user_id)
              WHERE e.event_type = 'click' AND e.ts > v.t1
                AND e.ts <= v.t1 + INTERVAL 12 HOUR
              GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
              JOIN c USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > c.t2
                AND e.ts <= c.t2 + INTERVAL 12 HOUR
              GROUP BY e.user_id)
        SELECT 1 AS step, 'view' AS step_name,
               CAST(COUNT(*) AS BIGINT) AS n_users FROM v
        UNION ALL
        SELECT 2, 'click_after_view', CAST(COUNT(*) AS BIGINT) FROM c
        UNION ALL
        SELECT 3, 'purchase_after_click', CAST(COUNT(*) AS BIGINT) FROM p
        ORDER BY step
    """,
    "weekly_retention_cohorts": """
        WITH a AS (SELECT DISTINCT user_id,
                          CAST(date_trunc('week', ts) AS TIMESTAMP) AS week
                   FROM events),
        f AS (SELECT user_id, MIN(week) AS cohort_week FROM a GROUP BY user_id)
        SELECT cohort_week,
               CAST(date_diff('day', cohort_week, week) / 7 AS INT)
                   AS week_offset,
               CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active_users
        FROM a JOIN f USING (user_id)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
    "event_anomaly_flags": """
        WITH daily AS (
            SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                       AS day_value
            FROM events GROUP BY 1, 2),
        scored AS (
            SELECT user_id, day, day_value,
                   AVG(day_value) OVER w AS mu,
                   STDDEV_SAMP(day_value) OVER w AS sd
            FROM daily
            WINDOW w AS (PARTITION BY user_id ORDER BY day
                         ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        SELECT user_id, day,
               ROUND(day_value, 2) AS day_value,
               ROUND((day_value - mu) / sd, 6) AS z_score,
               (abs(ROUND((day_value - mu) / sd, 6)) > 2.0) AS is_anomaly
        FROM scored
        WHERE sd IS NOT NULL AND sd > 0
    """,
    "ewma_user_value": """
        WITH daily AS (
            SELECT user_id, date_trunc('day', ts) AS bucket,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS x
            FROM events GROUP BY 1, 2),
        series AS (
            SELECT user_id, list(x ORDER BY bucket) AS xs
            FROM daily GROUP BY user_id)
        SELECT user_id,
               CAST(len(xs) AS INT) AS n_buckets,
               ROUND(list_reduce(xs, (acc, x) ->
                     CAST(0.3 AS DOUBLE) * x + CAST(0.7 AS DOUBLE) * acc), 6)
                   AS ewma_value
        FROM series
    """,
    "weighted_sample_docs": """
        SELECT doc_id, lang, n_chars
        FROM documents
        WHERE (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                    AS BIGINT) % 1000000) / 1000000.0
              < least(1.0, n_chars / 200.0)
    """,
    "packed_batch_stats": f"""
        WITH d AS (
            SELECT doc_id, len({_TOKS}) AS n_tokens FROM documents),
        a AS (
            SELECT doc_id, n_tokens,
                   CAST(floor(n_tokens / 16) AS INT) AS bucket,
                   CAST(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                             AS BIGINT) % 4 AS INT) AS shard
            FROM d),
        c AS (
            SELECT *, COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY bucket, shard
                       ORDER BY n_tokens, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                     0) AS tokens_before
            FROM a)
        SELECT bucket, shard,
               CAST(floor(tokens_before / 256) AS INT) AS batch_id,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS batch_tokens
        FROM c
        GROUP BY 1, 2, 3
    """,
    "gopher_quality_verdicts": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        terms AS (SELECT doc_id, unnest(toks) AS term FROM t),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        sig AS (
            SELECT doc_id,
                   CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   CAST(SUM(length(term) * tf) AS DOUBLE) / SUM(tf) AS awl,
                   CAST(SUM(CASE WHEN term IN
                            ('the','a','and','of','to','is','in','it')
                            THEN tf ELSE 0 END) AS DOUBLE) / SUM(tf) AS swr,
                   CAST(MAX(tf) AS DOUBLE) / SUM(tf) AS ttf
            FROM tf GROUP BY doc_id)
        SELECT doc_id, n_tokens,
               (n_tokens >= 20 AND n_tokens <= 100000) AS ok_len,
               (awl >= 3.0 AND awl <= 5.0) AS ok_word_len,
               (swr >= 0.01) AS ok_stopwords,
               (ttf <= 0.15) AS ok_repetition,
               ((n_tokens >= 20 AND n_tokens <= 100000)
                AND (awl >= 3.0 AND awl <= 5.0)
                AND (swr >= 0.01) AND (ttf <= 0.15)) AS passes
        FROM sig
    """,
    "dup_ngram_coverage": f"""
        WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
        g AS (SELECT doc_id, len(toks) AS n_tokens,
                     unnest(list_transform(
                         generate_series(1, greatest(len(toks) - 4, 0)),
                         i -> md5(array_to_string(list_slice(toks, i, i + 4), ' ')))) AS gram_h,
                     unnest(generate_series(0, greatest(len(toks) - 4, 0) - 1)) AS start
              FROM t),
        dup AS (SELECT gram_h FROM g GROUP BY gram_h
                HAVING COUNT(DISTINCT doc_id) > 1),
        hits AS (SELECT doc_id, n_tokens, start,
                        lead(start) OVER (PARTITION BY doc_id ORDER BY start) AS nxt
                 FROM g JOIN dup USING (gram_h)),
        cov AS (SELECT doc_id, n_tokens, start,
                       CASE WHEN nxt IS NULL THEN 5
                            ELSE least(nxt - start, 5) END AS c
                FROM hits)
        SELECT doc_id,
               CAST(MIN(n_tokens) AS INT) AS n_tokens,
               CAST(COUNT(*) AS BIGINT) AS dup_positions,
               CAST(SUM(c) AS BIGINT) AS covered_tokens,
               ROUND(CAST(SUM(c) AS DOUBLE) / MIN(n_tokens), 6) AS coverage_frac
        FROM cov
        GROUP BY doc_id
    """,
    "q12_shipmode_priority": """
        SELECT l_returnflag,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM orders
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    # Streaming twins, driver-checked: the STREAMING engine's output
    # (availableNow drain) must hash-match the batch SQL on the same
    # parquet — arrival order and micro-batching must be invisible.
    "stream_tumbling_event_counts": f"""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               COUNT(*) AS n_events, {_dsum("value", "sum_value")}
        FROM events
        GROUP BY 1, 2
    """,
    "stream_click_attribution_outer": """
        WITH wm AS (
            SELECT least(
                (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
                (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
            ) - INTERVAL 2 HOUR AS w)
        SELECT p.user_id,
               p.event_id AS purchase_id, p.ts AS purchase_ts,
               c.event_id AS click_id, c.ts AS click_ts
        FROM events p
        LEFT JOIN events c
          ON p.user_id = c.user_id
         AND c.event_type = 'click'
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 30 MINUTE
        CROSS JOIN wm
        WHERE p.event_type = 'purchase'
          AND (c.event_id IS NOT NULL OR p.ts < wm.w)
    """,
    "stream_dedup_events": """
        SELECT event_id, ts, user_id, event_type, value, props
        FROM events
    """,
    "stream_click_attribution": """
        SELECT p.user_id,
               p.event_id AS purchase_id, p.ts AS purchase_ts,
               c.event_id AS click_id, c.ts AS click_ts
        FROM events p
        JOIN events c
          ON p.user_id = c.user_id
         AND c.ts <= p.ts
         AND c.ts >= p.ts - INTERVAL 30 MINUTE
        WHERE p.event_type = 'purchase' AND c.event_type = 'click'
    """,
    # Native session_window semantics, NOT the batch sessionize ones:
    # an event's window is half-open [ts, ts+gap), so a gap of EXACTLY
    # 30 min starts a new session (>=, where batch session_stats uses
    # >); session_end = last event + gap; append mode emits only
    # sessions the final watermark (max ts - 2 h) closed
    # (session_end < watermark) — trailing sessions stay in state.
    "stream_session_stats": """
        WITH ordered AS (
            SELECT user_id, ts,
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
            FROM events),
        flagged AS (
            SELECT *, CASE WHEN prev_ts IS NULL
                             OR ts - prev_ts >= INTERVAL 30 MINUTE
                           THEN 1 ELSE 0 END AS new_sess
            FROM ordered),
        sessioned AS (
            SELECT *, SUM(new_sess) OVER (
                PARTITION BY user_id ORDER BY ts
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM flagged)
        SELECT MIN(ts) AS session_start,
               MAX(ts) + INTERVAL 30 MINUTE AS session_end,
               user_id,
               COUNT(*) AS n_events
        FROM sessioned
        GROUP BY user_id, sid
        HAVING MAX(ts) + INTERVAL 30 MINUTE <
               (SELECT MAX(ts) - INTERVAL 2 HOUR FROM events)
    """,
    "stream_user_counts": """
        SELECT user_id, COUNT(*) AS events_seen
        FROM events
        GROUP BY user_id
    """,
    # Gaps-and-islands: day - row_number is constant within a run of
    # consecutive days — identical trick on both engines.
    "user_activity_islands": """
        WITH days AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        anchored AS (
            SELECT user_id, day,
                   day - CAST(row_number() OVER (
                       PARTITION BY user_id ORDER BY day) AS INT) AS anchor
            FROM days),
        islands AS (
            SELECT user_id, anchor, COUNT(*) AS streak_days
            FROM anchored GROUP BY user_id, anchor)
        SELECT streak_days, COUNT(*) AS n_islands,
               COUNT(DISTINCT user_id) AS n_users
        FROM islands GROUP BY streak_days ORDER BY streak_days
    """,
    # The salted two-phase plan must equal the plain COUNT(DISTINCT):
    # the salt hash-partitions the VALUE space into disjoint classes,
    # so the partial distinct counts sum exactly.
    "salted_distinct_users": """
        SELECT event_type, COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    # The merged history+delta states must equal aggregating the union
    # directly (same decimal-domain rules as every money aggregate).
    "incremental_order_stats": f"""
        SELECT o_orderpriority,
               {_dsum("o_totalprice", "price_total")},
               COUNT(o_totalprice) AS price_count,
               {_davg("o_totalprice", "price_avg")},
               CAST(MIN(o_totalprice) AS DOUBLE) AS price_min,
               CAST(MAX(o_totalprice) AS DOUBLE) AS price_max
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    # The bloom pre-cut admits false positives only; after the exact
    # semi-join the result is the plain semi-join.
    "bloom_filtered_orders": f"""
        SELECT o_orderpriority, COUNT(*) AS n_orders,
               {_dsum("o_totalprice", "total_price")}
        FROM orders
        WHERE o_custkey IN (
            SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    # Identical step-interpolated weighting: exact integral-microsecond
    # durations (epoch_us ≡ unix_micros), one IEEE multiply, decimal-
    # domain weighted sum, (ts, value) tie-break on both engines.
    "time_weighted_user_value": """
        WITH s AS (
            SELECT user_id, value,
                   lead(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, value)
                   - epoch_us(ts) AS dur
            FROM events),
        t AS (SELECT user_id, value, dur FROM s WHERE dur IS NOT NULL)
        SELECT user_id, COUNT(*) AS n_intervals,
               ROUND(CAST(SUM(CAST(value * dur AS DECIMAL(38,6))) AS DOUBLE)
                     / CAST(SUM(dur) AS DOUBLE), 6) AS twa_value
        FROM t GROUP BY user_id ORDER BY user_id
    """,
    # Mirror of operators/lines.py::remove_boilerplate_lines over the
    # line-seeded docs of queries._line_seeded_docs (HEADER/FOOTER on
    # every doc, 10-token body lines, PROMO on every third doc; keep
    # the seeding in sync).  min_df_frac=0.05 → the integer-exact test
    # line_df*20 >= total_docs*1; line keys are md5(lower(trim(line)))
    # so every keep/drop decision and the reassembled md5 agree
    # bit-for-bit.  Ordinality pos is 1-based here vs posexplode's
    # 0-based — only used for ordering, never emitted.
    "boilerplate_cleaned_docs": f"""
        WITH tk AS (
            SELECT doc_id, {_TOKS} AS t FROM documents
        ), seeded AS (
            SELECT doc_id,
                   ['HEADER nav menu home']
                   || list_transform(
                        range(0, greatest(1, (len(t)+9)//10)),
                        i -> array_to_string(
                             t[CAST(i*10+1 AS INT) : CAST(i*10+10 AS INT)],
                             ' '))
                   || ['FOOTER copyright all rights reserved']
                   || (CASE WHEN doc_id % 3 = 0
                            THEN ['PROMO subscribe to the newsletter']
                            ELSE [] END) AS ls
            FROM tk
        ), lines0 AS (
            SELECT doc_id, ls,
                   CAST(unnest(range(1, len(ls)+1)) AS INT) AS pos
            FROM seeded
        ), lines AS (
            SELECT doc_id, pos, ls[pos] AS line
            FROM lines0 WHERE trim(ls[pos]) <> ''
        ), keyed AS (
            SELECT doc_id, pos, line,
                   md5(lower(trim(line))) AS line_key
            FROM lines
        ), total AS (
            SELECT COUNT(*) AS total_docs FROM documents
        ), freq AS (
            SELECT line_key, COUNT(DISTINCT doc_id) AS line_df
            FROM keyed GROUP BY 1
        ), boiler AS (
            SELECT line_key FROM freq, total
            WHERE line_df * 20 >= total_docs * 1
        ), kept AS (
            SELECT k.* FROM keyed k
            WHERE k.line_key NOT IN (SELECT line_key FROM boiler)
        ), per_all AS (
            -- from seeded (not keyed): one row per INPUT doc even when
            -- every line is blank — mirrors the operator's contract
            SELECT doc_id,
                   CAST(len(list_filter(ls, x -> trim(x) <> '')) AS INT)
                       AS n_lines
            FROM seeded
        ), per_kept AS (
            SELECT doc_id, CAST(COUNT(*) AS INT) AS n_kept,
                   string_agg(line, chr(10) ORDER BY pos) AS cleaned_text
            FROM kept GROUP BY 1
        )
        SELECT a.doc_id, a.n_lines,
               COALESCE(k.n_kept, 0) AS n_kept,
               CAST(a.n_lines - COALESCE(k.n_kept, 0) AS INT) AS n_dropped,
               md5(COALESCE(k.cleaned_text, '')) AS cleaned_md5
        FROM per_all a LEFT JOIN per_kept k USING (doc_id)
        ORDER BY a.doc_id
    """,
    # Mirror of operators/cms.py: cell = first-13-md5-nibbles of
    # "{row}:"||term (exact in IEEE doubles AND bigints — the KMV
    # nibble discipline) mod 1024; sketch = SUM per (row, cell);
    # estimate = MIN over the term's 4 cells.  Every counter and MIN
    # must agree bit-for-bit with Spark's conv(substring(md5(…),1,13),
    # 16,10) % 1024 path.
    "cms_term_counts": f"""
        WITH toks AS (
            SELECT unnest({_TOKS}) AS term FROM documents
        ), tf AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY term
        ), rws AS (
            SELECT unnest(range(0, 4)) AS rw
        ), cells AS (
            SELECT r.rw, f.term, f.n,
                   CAST((SELECT SUM((strpos('0123456789abcdef',
                              substr(md5(CAST(r.rw AS VARCHAR) || ':' || f.term),
                                     i, 1)) - 1)
                              * POWER(16.0, 13 - i))
                         FROM generate_series(1, 13) t(i)) AS BIGINT)
                   % 1024 AS cell
            FROM tf f, rws r
        ), sketch AS (
            SELECT rw, cell, CAST(SUM(n) AS BIGINT) AS cnt
            FROM cells GROUP BY 1, 2
        ), top AS (
            SELECT term, n FROM tf ORDER BY n DESC, term LIMIT 20
        ), est AS (
            SELECT t.term, t.n, MIN(s.cnt) AS cms_n
            FROM top t
            JOIN cells c ON c.term = t.term
            JOIN sketch s ON s.rw = c.rw AND s.cell = c.cell
            GROUP BY t.term, t.n
        )
        SELECT term, n AS exact_n, CAST(cms_n AS BIGINT) AS cms_n,
               CAST(cms_n - n AS BIGINT) AS overcount
        FROM est ORDER BY exact_n DESC, term
    """,
    # Mirror of multimodal.sample_frames (every 4th 32-byte chunk,
    # n_frames = max(1, len/32), tail clamp) + scene_changes (byte-sum
    # feature, lag, |Δ| > 200).  Bytes recovered from hex(encode(text))
    # — the multimodal_blob_features trick — so the frame sums are
    # exact whatever the encoding.
    "multimodal_scene_changes": """
        WITH b AS (
            SELECT doc_id, octet_length(encode(text)) AS n,
                   hex(encode(text)) AS h
            FROM documents
        ), fr AS (
            SELECT doc_id, n, h, CAST(u.i AS INT) AS frame_idx
            FROM b, unnest(range(0, greatest(n // 32, 1), 4)) AS u(i)
        ), bytes AS (
            SELECT doc_id, frame_idx,
                   (strpos('0123456789ABCDEF', substr(h, 2*p-1, 1)) - 1) * 16
                 + (strpos('0123456789ABCDEF', substr(h, 2*p,   1)) - 1) AS byte
            FROM fr, unnest(generate_series(frame_idx*32 + 1,
                                 least((frame_idx+1)*32, CAST(n AS INT))))
                     AS q(p)
        ), sums0 AS (
            SELECT doc_id, frame_idx, SUM(byte) AS f_sum
            FROM bytes GROUP BY 1, 2
        ), sums AS (
            -- LEFT JOIN back to fr: an empty frame (0-byte text still
            -- yields one frame, mirroring sample_frames' max(1, ·))
            -- must survive with f_sum = 0, not vanish
            SELECT f.doc_id, f.frame_idx, COALESCE(s.f_sum, 0) AS f_sum
            FROM fr f LEFT JOIN sums0 s
              ON s.doc_id = f.doc_id AND s.frame_idx = f.frame_idx
        ), lagd AS (
            SELECT doc_id, f_sum,
                   lag(f_sum) OVER (PARTITION BY doc_id ORDER BY frame_idx)
                       AS prev
            FROM sums
        )
        SELECT doc_id, CAST(COUNT(*) AS INT) AS n_frames,
               CAST(SUM(CASE WHEN prev IS NOT NULL AND abs(f_sum - prev) > 200
                             THEN 1 ELSE 0 END) AS INT) AS n_scene_changes
        FROM lagd GROUP BY doc_id ORDER BY doc_id
    """,
    # Single-window form of ranking.global_row_number's two-phase
    # range-partition + offset shape (equal under the total order
    # (count desc, term)).
    "term_vocabulary_ids": f"""
        WITH tf AS (
            SELECT term, CAST(COUNT(*) AS BIGINT) AS term_count
            FROM (SELECT unnest({_TOKS}) AS term FROM documents)
            GROUP BY term
        )
        SELECT term, term_count,
               row_number() OVER (ORDER BY term_count DESC, term) AS term_id
        FROM tf ORDER BY term_id
    """,
    # Single-window form of sampling.group_sample's two-phase ranking
    # (top-k of per-salt-slice top-k's == global top-k; equality pinned
    # in tests) — same md5 order, same id tie-break.
    "per_source_doc_sample": """
        WITH r AS (
            SELECT source, doc_id,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
            FROM documents)
        SELECT source, doc_id, CAST(rk AS INT) AS sample_rank
        FROM r WHERE rk <= 20 ORDER BY source, sample_rank
    """,
    # The streamed, batch-by-batch-merged state must equal the plain
    # batch aggregate.  min/max go through the same DECIMAL(38,6)
    # rounding the Spark states carry (events.value has full double
    # precision — a raw MIN would differ in the 7th decimal).
    "stream_incremental_user_value": f"""
        SELECT user_id,
               {_dsum("value", "value_total")},
               COUNT(value) AS value_count,
               {_davg("value", "value_avg")},
               CAST(CAST(MIN(value) AS DECIMAL(38,6)) AS DOUBLE) AS value_min,
               CAST(CAST(MAX(value) AS DECIMAL(38,6)) AS DOUBLE) AS value_max
        FROM events GROUP BY user_id ORDER BY user_id
    """,
    # Each expectation recomputed directly; the Spark side folds the
    # four row-local rules into one scan, but the COUNTS must agree.
    "orders_expectations": """
        WITH r AS (
            SELECT 'not_null(o_custkey)' AS rule,
                   CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_violations
            FROM orders
            UNION ALL
            SELECT 'in_range(o_totalprice)',
                   CAST(SUM(CASE WHEN o_totalprice IS NOT NULL
                                  AND (o_totalprice < 0 OR o_totalprice > 600000)
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'in_set(o_orderstatus)',
                   CAST(SUM(CASE WHEN o_orderstatus IS NOT NULL
                                  AND o_orderstatus NOT IN ('O', 'F', 'P')
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'matches(o_orderpriority)',
                   CAST(SUM(CASE WHEN o_orderpriority IS NOT NULL
                                  AND NOT regexp_matches(o_orderpriority,
                                                         '^[1-5]-[A-Z ]+$')
                                 THEN 1 ELSE 0 END) AS BIGINT)
            FROM orders
            UNION ALL
            SELECT 'unique(o_orderkey)',
                   CAST(COALESCE(SUM(c - 1), 0) AS BIGINT)
            FROM (SELECT COUNT(*) AS c FROM orders
                  GROUP BY o_orderkey HAVING COUNT(*) > 1)
            UNION ALL
            SELECT 'foreign_key(o_custkey)', CAST(COUNT(*) AS BIGINT)
            FROM orders
            WHERE o_custkey IS NOT NULL
              AND o_custkey NOT IN (SELECT c_custkey FROM customer))
        SELECT rule, n_violations FROM r ORDER BY rule
    """,
    # Binned two-sample KS: identical 8-wide bins, identical cumulative
    # sums, identical division sequence — bit-identical statistics.
    "source_length_drift": """
        WITH cnt AS (
            SELECT source AS g,
                   LEAST(127, GREATEST(0,
                       CAST(FLOOR(CAST(n_chars AS DOUBLE) / 8.0) AS INT))) AS b,
                   COUNT(*) AS c
            FROM documents GROUP BY 1, 2),
        bins AS (SELECT DISTINCT b FROM cnt),
        groups AS (
            SELECT g, SUM(c) AS n_g, SUM(SUM(c)) OVER () AS n_all
            FROM cnt GROUP BY g),
        filled AS (
            SELECT groups.g, groups.n_g, groups.n_all, bins.b,
                   COALESCE(cnt.c, 0) AS c
            FROM groups CROSS JOIN bins
            LEFT JOIN cnt ON cnt.g = groups.g AND cnt.b = bins.b),
        cum AS (
            SELECT g, n_g, n_all, b, c,
                   SUM(c) OVER (PARTITION BY g ORDER BY b
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum_g
            FROM filled),
        tot AS (
            SELECT b, SUM(ct) OVER (ORDER BY b
                                    RANGE BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum_all
            FROM (SELECT b, SUM(c) AS ct FROM filled GROUP BY b)),
        diffs AS (
            SELECT cum.g, cum.n_g,
                   ABS(cum.cum_g / cum.n_g
                       - (tot.cum_all - cum.cum_g) / (cum.n_all - cum.n_g)) AS d
            FROM cum JOIN tot ON cum.b = tot.b)
        SELECT g AS source,
               CAST(MAX(n_g) AS BIGINT) AS n_docs,
               ROUND(MAX(d), 6) AS ks_stat
        FROM diffs GROUP BY g ORDER BY source
    """,
    # KMV overlap: membership tests are md5-string equality, the
    # estimator is two divisions and a multiply on exact doubles —
    # the oracle replays the identical sequence.
    "kmv_overlap_customers": """
        WITH a AS (
            SELECT DISTINCT md5(CAST(c_custkey AS VARCHAR)) AS hx
            FROM customer WHERE c_mktsegment = 'BUILDING'),
        b AS (
            SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS hx
            FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01'),
        u AS (SELECT hx FROM a UNION SELECT hx FROM b),
        r AS (SELECT hx, row_number() OVER (ORDER BY hx) AS rn FROM u),
        bott AS (SELECT hx, rn FROM r WHERE rn <= 64),
        m AS (
            SELECT COUNT(*) AS kprime,
                   SUM(CASE WHEN hx IN (SELECT hx FROM a)
                             AND hx IN (SELECT hx FROM b)
                            THEN 1 ELSE 0 END) AS n_matched,
                   MAX(CASE WHEN rn = 64 THEN hx END) AS kth
            FROM bott),
        est AS (
            SELECT kprime, n_matched,
                   CASE WHEN kprime < 64 THEN CAST(kprime AS DOUBLE)
                        ELSE CAST(63 AS DOUBLE) /
                             ((SELECT SUM((strpos('0123456789abcdef',
                                                  substr(kth, i, 1)) - 1)
                                          * POWER(16.0, 13 - i))
                               FROM generate_series(1, 13) t(i))
                              / POWER(16.0, 13))
                   END AS raw_union
            FROM m)
        SELECT CAST(n_matched AS BIGINT) AS n_matched,
               ROUND(raw_union, 4) AS est_union,
               ROUND((n_matched / kprime) * raw_union, 4) AS est_intersection,
               ROUND(n_matched / kprime, 4) AS est_jaccard
        FROM est
    """,
    # Identical fixed-bin histogram quantiles: width 1024 is exactly
    # representable, so bin ids and midpoints are the same integers /
    # exact doubles in both engines.  ceil(q·n) is one IEEE multiply +
    # ceil on both sides — identical sequence, identical result.
    "incremental_price_quantiles": """
        WITH b AS (
            SELECT o_orderpriority,
                   LEAST(511, GREATEST(0,
                       CAST(FLOOR(CAST(o_totalprice AS DOUBLE) / 1024.0) AS INT)
                   )) AS bin
            FROM orders),
        c AS (
            SELECT o_orderpriority, bin, COUNT(*) AS cnt
            FROM b GROUP BY o_orderpriority, bin),
        w AS (
            SELECT o_orderpriority, bin,
                   SUM(cnt) OVER (PARTITION BY o_orderpriority ORDER BY bin
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   SUM(cnt) OVER (PARTITION BY o_orderpriority) AS n
            FROM c)
        SELECT o_orderpriority,
               (MIN(CASE WHEN cum >= CEIL(CAST(0.5 AS DOUBLE) * n) THEN bin END)
                + CAST(0.5 AS DOUBLE)) * CAST(1024 AS DOUBLE) AS p50,
               (MIN(CASE WHEN cum >= CEIL(CAST(0.9 AS DOUBLE) * n) THEN bin END)
                + CAST(0.5 AS DOUBLE)) * CAST(1024 AS DOUBLE) AS p90,
               (MIN(CASE WHEN cum >= CEIL(CAST(0.99 AS DOUBLE) * n) THEN bin END)
                + CAST(0.5 AS DOUBLE)) * CAST(1024 AS DOUBLE) AS p99
        FROM w GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    # Salting only reroutes rows; the join result is the plain join's.
    "salted_join_revenue": f"""
        SELECT c_mktsegment, COUNT(*) AS n_orders,
               {_dsum("o_totalprice", "total_price")}
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    # KMV sketch: md5 is bit-standard and hex strings order identically,
    # so the oracle reproduces the k-th smallest hash AND the estimate
    # exactly.  U_k uses 13 nibbles (52 bits): the integer, its double
    # rendering, and the division are exact IEEE ops in both engines.
    "kmv_distinct_users": """
        WITH h AS (
            SELECT DISTINCT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
            FROM events WHERE user_id IS NOT NULL),
        r AS (
            SELECT event_type, hx,
                   row_number() OVER (PARTITION BY event_type ORDER BY hx) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS nd
            FROM h),
        kth AS (
            SELECT event_type,
                   MAX(CASE WHEN rn = 16 THEN hx END) AS kth_hash,
                   MAX(nd) AS nd
            FROM r WHERE rn <= 16 GROUP BY event_type),
        u AS (
            SELECT event_type, nd, kth_hash,
                   (SELECT SUM((strpos('0123456789abcdef', substr(kth_hash, i, 1)) - 1)
                               * POWER(16.0, 13 - i))
                    FROM generate_series(1, 13) t(i)) / POWER(16.0, 13) AS uk
            FROM kth)
        SELECT event_type,
               CASE WHEN nd < 16 THEN CAST(nd AS DOUBLE)
                    ELSE ROUND(15.0 / uk, 4) END AS est_distinct,
               CASE WHEN nd < 16 THEN NULL ELSE kth_hash END AS kth_hash
        FROM u ORDER BY event_type
    """,
    # Direct FULL OUTER JOIN diff of the same deterministic mutation;
    # only o_totalprice ever changes, so comparing it alone classifies
    # 'changed' exactly as the full-row hash does.
    "table_diff_summary": """
        WITH newt AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   CASE WHEN o_orderkey % 101 = 0 THEN o_totalprice + 1
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 97 <> 0
            UNION ALL
            SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority
            FROM orders WHERE o_orderkey % 103 = 0),
        j AS (
            SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
                        WHEN n.o_orderkey IS NULL THEN 'removed'
                        WHEN o.o_totalprice <> n.o_totalprice THEN 'changed'
                        ELSE 'unchanged' END AS state
            FROM orders o FULL OUTER JOIN newt n
              ON o.o_orderkey = n.o_orderkey)
        SELECT CAST(COUNT(*) FILTER (WHERE state = 'added') AS BIGINT) AS n_added,
               CAST(COUNT(*) FILTER (WHERE state = 'removed') AS BIGINT) AS n_removed,
               CAST(COUNT(*) FILTER (WHERE state = 'changed') AS BIGINT) AS n_changed,
               CAST(COUNT(*) FILTER (WHERE state = 'unchanged') AS BIGINT) AS n_unchanged
        FROM j
    """,
    # Replays the identical CDC batch with a row_number() last-wins
    # resolution (seq DESC — the Spark side's struct-max picks the same
    # winner: seqs are distinct per key except where the seq-10 delete
    # outranks both updates) and rebuilds via anti-join + union — the
    # naive form of merge.py's broadcast-anti plan.
    "merge_upsert_orders": """
        WITH ch AS (
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice + 1 AS o_totalprice, o_orderdate,
                   o_orderpriority, 1 AS seq, 'U' AS op
            FROM orders WHERE o_orderkey % 101 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus,
                   o_totalprice + 5, o_orderdate, o_orderpriority, 2, 'U'
            FROM orders WHERE o_orderkey % 101 = 0
            UNION ALL
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority, 10, 'D'
            FROM orders WHERE o_orderkey % 97 = 0
            UNION ALL
            SELECT -o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderdate, o_orderpriority, 1, 'I'
            FROM orders WHERE o_orderkey % 103 = 0),
        resolved AS (
            SELECT * FROM (
                SELECT ch.*, row_number() OVER (
                    PARTITION BY o_orderkey
                    ORDER BY seq DESC, op DESC) AS rn
                FROM ch) WHERE rn = 1)
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM resolved)
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM resolved WHERE op <> 'D'
        ORDER BY o_orderkey
    """,
    # Same tokens contract (_TOKS), same conjunction, same total order.
    "keyword_search_docs": f"""
        WITH s AS (
            SELECT doc_id,
                   CAST(len(list_filter({_TOKS}, x -> x = 'merge')) AS BIGINT) AS tf_merge,
                   CAST(len(list_filter({_TOKS}, x -> x = 'vector')) AS BIGINT) AS tf_vector,
                   CAST(len(list_filter({_TOKS}, x -> x = 'dup')) AS BIGINT) AS tf_dup
            FROM documents)
        SELECT doc_id, tf_merge, tf_vector, tf_dup,
               tf_merge + tf_vector + tf_dup AS score
        FROM s
        WHERE tf_merge > 0 AND tf_vector > 0 AND tf_dup > 0
        ORDER BY score DESC, doc_id
        LIMIT 20
    """,
    # Same blocking as fuzzy_name_match_pairs over the DISTINCT-name
    # dictionary; the verifier is DuckDB's NATIVE jaro_winkler_similarity
    # — the Spark side's Python implementation is pinned bit-identical
    # to it in tests/test_fuzzy_jw.py, so this is a true cross-engine
    # check of the metric, not a replay of our own arithmetic.
    "jaro_winkler_part_pairs": """
        WITH base AS (
          SELECT min(p_partkey) AS id, lower(trim(p_name)) AS name
          FROM part GROUP BY lower(trim(p_name))),
        g AS (
          SELECT id, unnest(list_distinct(list_transform(
                     generate_series(1, greatest(length(name) - 2, 1)),
                     i -> substr(name, i, 3)))) AS gram
          FROM base),
        live AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 100),
        cand AS (
          SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM g a JOIN live USING (gram) JOIN g b USING (gram)
          WHERE a.id < b.id)
        SELECT id_a, id_b,
               ROUND(jaro_winkler_similarity(na.name, nb.name), 6) AS jw
        FROM cand
        JOIN base na ON na.id = id_a
        JOIN base nb ON nb.id = id_b
        WHERE jaro_winkler_similarity(na.name, nb.name) >= 0.85
        ORDER BY id_a, id_b
    """,
    # The sorted-neighborhood form over the same dictionary: a plain
    # row_number over the identical (name, id) total order, candidates
    # = rank distance <= 5, DuckDB's NATIVE jaro_winkler_similarity as
    # the verifier — cross-engine on both the distributed ranking
    # (global_row_number's two-phase range form ≡ the single window) and
    # the string metric.
    "sorted_neighborhood_part_pairs": """
        WITH base AS (
          SELECT min(p_partkey) AS id, lower(trim(p_name)) AS name
          FROM part GROUP BY lower(trim(p_name))),
        r AS (
          SELECT id, name,
                 row_number() OVER (ORDER BY name, id) AS rk
          FROM base)
        SELECT a.id AS id_a, b.id AS id_b,
               ROUND(jaro_winkler_similarity(a.name, b.name), 6) AS jw
        FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 5
        WHERE jaro_winkler_similarity(a.name, b.name) >= 0.85
        ORDER BY id_a, id_b
    """,
    # The trap form the pigeonhole pattern must equal: one full-vocab
    # GROUP BY with a scale-free HAVING.  `(a + b - 1) // b` is the
    # same exact BIGINT ceil-div Spark computes with DIV.
    "heavy_hitter_terms": f"""
        WITH toks AS (SELECT unnest({_TOKS}) AS term FROM documents),
        tot AS (SELECT (COUNT(*) + 299) // 300 AS T FROM toks)
        SELECT term, COUNT(*) AS cnt, (SELECT T FROM tot) AS threshold
        FROM toks
        GROUP BY term
        HAVING COUNT(*) >= (SELECT T FROM tot)
        ORDER BY cnt DESC, term
    """,
    # Identical ANSI recursive-CTE closure body as hierarchy.closure_sql,
    # with the edge/root construction inlined as leading CTEs (WITH
    # RECURSIVE prefixes the whole list in DuckDB; only `closure` is
    # actually recursive).
    "recursive_nation_hierarchy": """
        WITH RECURSIVE
        edges(parent_key, child_key, child_name) AS (
            SELECT CAST(n_regionkey AS BIGINT) + 100,
                   CAST(n_nationkey AS BIGINT) + 200, n_name FROM nation
            UNION ALL
            SELECT CAST(c_nationkey AS BIGINT) + 200,
                   CAST(c_custkey + 1000000 AS BIGINT), c_name
            FROM customer WHERE c_acctbal > 9900),
        roots(key, name) AS (
            SELECT CAST(r_regionkey AS BIGINT) + 100, r_name FROM region),
        closure(key, name, path, depth) AS (
            SELECT key, name, concat('/', name), 0
            FROM roots
            UNION ALL
            SELECT e.child_key, e.child_name,
                   concat(c.path, '/', e.child_name), c.depth + 1
            FROM closure c
            JOIN edges e ON e.parent_key = c.key
            WHERE c.depth < 2
        )
        SELECT key, name, path, CAST(depth AS INT) AS depth
        FROM closure
        ORDER BY depth, path
    """,
    # Verbatim the same text Spark runs (queries.LATERAL_TOPK_SQL) —
    # both engines implement ANSI correlated LATERAL with LIMIT.
    "lateral_topk_customers": """
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation n, LATERAL (
            SELECT c_custkey, c_acctbal
            FROM customer c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey
            LIMIT 2
        ) t
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey
    """,
    # Recomputes every URL component from the doc_id seed formula —
    # cross-checking Spark's regexp_extract_all + parse_url chain, not
    # replaying it.  The .org URL carries no query string, so src is
    # NULL there (and n_src0 counts only the .com family).
    "url_host_stats": """
        WITH u AS (
            SELECT doc_id,
                   'h' || (doc_id % 7) || '.example.com' AS host,
                   '/p/' || doc_id AS path,
                   's' || (doc_id % 3) AS src
            FROM documents
            UNION ALL
            SELECT doc_id,
                   'm' || (doc_id % 5) || '.example.org' AS host,
                   '/q/' || doc_id AS path,
                   NULL AS src
            FROM documents)
        SELECT host,
               COUNT(*) AS n_urls,
               COUNT(DISTINCT doc_id) AS n_docs,
               CAST(SUM(CASE WHEN src = 's0' THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_src0,
               CAST(MAX(length(path)) AS INT) AS max_path_len
        FROM u
        GROUP BY host
        ORDER BY host
    """,
    # DuckDB's native NFC vs the Arrow-batched unicodedata normalizer:
    # md5(normalized) pins byte equality of two independent NFC
    # implementations; chr(769) is the combining acute the Spark side
    # seeds as '\\u0301', chr(252) the precomposed u-umlaut.
    "unicode_nfc_stats": """
        WITH s AS (
            SELECT doc_id,
                   text || ' ' ||
                   repeat('e' || chr(769), CAST(doc_id % 3 + 1 AS INT)) ||
                   ' ' || chr(252) AS text
            FROM documents),
        n AS (SELECT doc_id, text, nfc_normalize(text) AS t2 FROM s)
        SELECT doc_id,
               CAST(length(text) AS INT) AS len_raw,
               CAST(length(t2) AS INT) AS len_nfc,
               CAST(length(text) - length(t2) AS INT) AS n_composed,
               text <> t2 AS changed,
               md5(t2) AS nfc_md5
        FROM n
        ORDER BY doc_id
    """,
}


# The textbook self-join form the array-local basket expansion must
# equal (DISTINCT first: a part repeated on two lines of one order is
# still one co-occurrence).
ORACLES["copurchase_part_pairs"] = """
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
          FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)
    SELECT part_a, part_b, COUNT(*) AS n_orders
    FROM p GROUP BY part_a, part_b
    HAVING COUNT(*) >= 2
    ORDER BY n_orders DESC, part_a, part_b
"""

# The IVM decomposition proven, not replayed: the view delta computed
# independently as (new ⋈ new) EXCEPT ALL (old ⋈ old), then the same
# decimal aggregate.
ORACLES["incremental_join_revenue"] = f"""
    WITH oo AS (SELECT * FROM orders WHERE o_orderkey % 101 <> 0),
    od AS (SELECT * FROM orders WHERE o_orderkey % 101 = 0),
    co AS (SELECT * FROM customer WHERE c_custkey % 97 <> 0),
    cd AS (SELECT * FROM customer WHERE c_custkey % 97 = 0),
    newv AS (
        SELECT c_nationkey, o_totalprice
        FROM (SELECT * FROM oo UNION ALL SELECT * FROM od) o
        JOIN (SELECT * FROM co UNION ALL SELECT * FROM cd) c
        ON o.o_custkey = c.c_custkey),
    oldv AS (
        SELECT c_nationkey, o_totalprice
        FROM oo JOIN co ON oo.o_custkey = co.c_custkey),
    delta AS (
        SELECT * FROM newv EXCEPT ALL SELECT * FROM oldv)
    SELECT c_nationkey, COUNT(*) AS n_rows,
           {_dsum("o_totalprice", "delta_revenue")}
    FROM delta
    GROUP BY c_nationkey
    ORDER BY c_nationkey
"""

# Connected components by an INDEPENDENT algorithm: the same JW pair
# graph (native jaro_winkler_similarity, same blocking) closed with a
# recursive-CTE reachability closure + MIN — cross-checking the
# pointer-jumping min-label propagation hash-for-hash.  UNION (not
# UNION ALL) recursion terminates on the finite closure; closure size
# is bounded by the sum of squared component sizes of the name
# dictionary (tiny).
ORACLES["entity_resolution_clusters"] = """
    WITH RECURSIVE
    base AS (
      SELECT min(p_partkey) AS id, lower(trim(p_name)) AS name
      FROM part GROUP BY lower(trim(p_name))),
    g AS (
      SELECT id, unnest(list_distinct(list_transform(
                 generate_series(1, greatest(length(name) - 2, 1)),
                 i -> substr(name, i, 3)))) AS gram
      FROM base),
    live AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(*) BETWEEN 2 AND 100),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM g a JOIN live USING (gram) JOIN g b USING (gram)
      WHERE a.id < b.id),
    pairs AS (
      SELECT id_a, id_b
      FROM cand
      JOIN base na ON na.id = id_a
      JOIN base nb ON nb.id = id_b
      WHERE jaro_winkler_similarity(na.name, nb.name) >= 0.85),
    e AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT src, src FROM e
      UNION
      SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst
    )
    SELECT id, MIN(r) AS cluster
    FROM reach
    GROUP BY id
    ORDER BY id
"""

# Entropy with the surprisal decimal discipline: ln p quantized to
# DECIMAL(26,12) before the ×count weighting, exact decimal sum, one
# double division at the end.
ORACLES["source_entropy_stats"] = f"""
    WITH t AS (SELECT source, unnest({_TOKS}) AS term FROM documents),
    c AS (SELECT source, term, COUNT(*) AS ct FROM t GROUP BY 1, 2),
    n AS (SELECT source, SUM(ct) AS n_tok, COUNT(*) AS vocab
          FROM c GROUP BY 1)
    SELECT c.source,
           CAST(n.n_tok AS BIGINT) AS n_tokens,
           CAST(n.vocab AS BIGINT) AS vocab,
           ROUND(
               CAST(-SUM(CAST(ln(CAST(ct AS DOUBLE) / n.n_tok)
                              AS DECIMAL(26,12))
                         * CAST(ct AS DECIMAL(10,0))) AS DOUBLE)
               / n.n_tok, 6) AS entropy
    FROM c JOIN n USING (source)
    GROUP BY c.source, n.n_tok, n.vocab
    ORDER BY source
"""

# Rules over the same DISTINCT relation: confidence = pair/s_a, lift
# = pair·N/(s_a·s_c), each one integer product + one division — the
# identical IEEE steps the Spark side computes.
ORACLES["copurchase_rules"] = """
    WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    p AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                 COUNT(*) AS n_orders
          FROM d a JOIN d b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    s AS (SELECT l_partkey, COUNT(*) AS sup FROM d GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS tot FROM d),
    directed AS (
        SELECT part_a AS antecedent, part_b AS consequent, n_orders FROM p
        UNION ALL
        SELECT part_b, part_a, n_orders FROM p)
    SELECT antecedent, consequent, n_orders AS pair_orders,
           ROUND(n_orders / sa.sup, 6) AS confidence,
           ROUND((n_orders * n.tot) / (sa.sup * sc.sup), 6) AS lift
    FROM directed
    JOIN s sa ON sa.l_partkey = antecedent
    JOIN s sc ON sc.l_partkey = consequent
    CROSS JOIN n
    ORDER BY pair_orders DESC, antecedent, consequent
"""

# Two stacked leads, same total order, top-20 totally ordered.
ORACLES["event_path_trigrams"] = """
    WITH s AS (
        SELECT event_type AS e1,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT e1, e2, e3, COUNT(*) AS cnt
    FROM s WHERE e3 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY cnt DESC, e1, e2, e3
    LIMIT 20
"""

# The identical lead() + row-normalized division, replayed.
ORACLES["event_transition_matrix"] = """
    WITH s AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        FROM events),
    c AS (SELECT from_type, to_type, COUNT(*) AS cnt
          FROM s WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
    t AS (SELECT from_type, SUM(cnt) AS tot FROM c GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.cnt,
           ROUND(c.cnt / t.tot, 6) AS prob
    FROM c JOIN t USING (from_type)
    ORDER BY from_type, to_type
"""


# The per-group k-th element by its row_number definition (k =
# ceil(0.9·n_g), the quantile_disc convention group_kth_smallest uses).
ORACLES["exact_p90_price_by_priority"] = """
    WITH t AS (SELECT o_orderpriority AS g, o_totalprice AS v
               FROM orders WHERE o_totalprice IS NOT NULL),
    r AS (SELECT g, v,
                 row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                 COUNT(*) OVER (PARTITION BY g) AS n
          FROM t)
    SELECT g AS o_orderpriority, v AS p90_price,
           CAST(rn AS BIGINT) AS k, CAST(n AS BIGINT) AS n
    FROM r
    WHERE rn = GREATEST(1, CAST(ceil(0.9 * n) AS BIGINT))
    ORDER BY o_orderpriority
"""

# Blocking-quality evaluation: BOTH blockings replayed (the q-gram
# posting CTE from jaro_winkler_part_pairs, the rank-window CTE from
# sorted_neighborhood_part_pairs), ground truth = DuckDB's native JW
# >= 0.85 over the candidate UNION, ratios the identical single
# double divisions.
ORACLES["blocking_quality_metrics"] = """
    WITH base AS (
      SELECT min(p_partkey) AS id, lower(trim(p_name)) AS name
      FROM part GROUP BY lower(trim(p_name))),
    nn AS (SELECT COUNT(*) AS n FROM base),
    g AS (
      SELECT id, unnest(list_distinct(list_transform(
                 generate_series(1, greatest(length(name) - 2, 1)),
                 i -> substr(name, i, 3)))) AS gram
      FROM base),
    live AS (SELECT gram FROM g GROUP BY gram
             HAVING COUNT(*) BETWEEN 2 AND 100),
    gc AS (
      SELECT DISTINCT a.id AS lo, b.id AS hi
      FROM g a JOIN live USING (gram) JOIN g b USING (gram)
      WHERE a.id < b.id),
    r AS (SELECT id, name,
                 row_number() OVER (ORDER BY name, id) AS rk
          FROM base),
    sc AS (
      SELECT DISTINCT least(a.id, b.id) AS lo, greatest(a.id, b.id) AS hi
      FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 5),
    uc AS (SELECT lo, hi FROM gc UNION SELECT lo, hi FROM sc),
    tp AS (
      SELECT u.lo, u.hi
      FROM uc u JOIN base x ON x.id = u.lo JOIN base y ON y.id = u.hi
      WHERE jaro_winkler_similarity(x.name, y.name) >= 0.85),
    tn AS (SELECT COUNT(*) AS t FROM tp),
    m AS (
      SELECT 'qgram' AS method,
             (SELECT COUNT(*) FROM gc) AS n_candidates,
             (SELECT COUNT(*) FROM gc JOIN tp USING (lo, hi))
                 AS n_true_found
      UNION ALL
      SELECT 'snm',
             (SELECT COUNT(*) FROM sc),
             (SELECT COUNT(*) FROM sc JOIN tp USING (lo, hi)))
    SELECT method,
           CAST(n_candidates AS BIGINT) AS n_candidates,
           CAST(n_true_found AS BIGINT) AS n_true_found,
           1.0 - CAST(n_candidates AS DOUBLE) * 2.0
                 / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE))
               AS reduction_ratio,
           CAST(n_true_found AS DOUBLE) / CAST(t AS DOUBLE)
               AS relative_recall
    FROM m, nn, tn
    ORDER BY method
"""

# Exact-moment Pearson/OLS: the five sums in the decimal domain
# (identical casts), then the identical fixed sequence of double IEEE
# steps — cast-each-sum-once, then only correctly-rounded ·,−,/,sqrt.
ORACLES["price_quantity_corr"] = """
    WITH s AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(14,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(14,2))) AS sxy,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(14,2))
                 * CAST(l_extendedprice AS DECIMAL(14,2))) AS syy
      FROM lineitem
      WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    d AS (
      SELECT CAST(n AS BIGINT) AS n,
             CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sx,
             CAST(sy AS DOUBLE) AS sy, CAST(sxy AS DOUBLE) AS sxy,
             CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy
      FROM s)
    SELECT n,
           (nd*sxy - sx*sy)
             / (sqrt(nd*sxx - sx*sx) * sqrt(nd*syy - sy*sy)) AS corr,
           (nd*sxy - sx*sy) / (nd*sxx - sx*sx) AS slope,
           (sy - ((nd*sxy - sx*sy) / (nd*sxx - sx*sx)) * sx) / nd
               AS intercept
    FROM d
"""

# The set-similarity join DEFINITION — a quadratic self-join with
# exact list intersections.  The Spark side's prefix filter must find
# every one of these pairs (the no-false-negative lemma); the
# threshold test is the same integer cross-multiplication and the
# jaccard column the same single int/int double division.
ORACLES["jaccard_prefix_join_pairs"] = f"""
    WITH t AS (
      SELECT doc_id, list_sort(list_distinct({_TOKS})) AS ts
      FROM documents),
    tn AS (SELECT doc_id, ts, len(ts) AS n FROM t WHERE len(ts) > 0),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.ts, b.ts)) AS inter,
             a.n + b.n - len(list_intersect(a.ts, b.ts)) AS uni
      FROM tn a JOIN tn b ON a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
           inter / uni AS jaccard
    FROM p
    WHERE inter * 10 >= 9 * uni
    ORDER BY doc_a, doc_b
"""

# Identical definitional join on the vocabulary-salted derivation —
# list_transform replays texttools.salted_vocabulary_text (the salt is
# appended BEFORE dedup/sort, exactly as the Spark side tokenizes the
# rebuilt text); doc_id % 100 is non-negative on this corpus so both
# engines' % agree.
ORACLES["jaccard_prefix_join_diverse"] = f"""
    WITH t AS (
      SELECT doc_id,
             list_sort(list_distinct(list_transform({_TOKS},
               x -> x || '_g' || CAST(doc_id % 100 AS VARCHAR)))) AS ts
      FROM documents),
    tn AS (SELECT doc_id, ts, len(ts) AS n FROM t WHERE len(ts) > 0),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.ts, b.ts)) AS inter,
             a.n + b.n - len(list_intersect(a.ts, b.ts)) AS uni
      FROM tn a JOIN tn b ON a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(inter AS BIGINT) AS inter, CAST(uni AS BIGINT) AS uni,
           inter / uni AS jaccard
    FROM p
    WHERE inter * 10 >= 9 * uni
    ORDER BY doc_a, doc_b
"""

# The skyline definition itself — quadratic NOT EXISTS dominance
# (maximize date, maximize price; >= both, > at least one).  The Spark
# side's sort-based algorithm must equal this exactly; all comparisons
# are native date/decimal, no float arithmetic on either side.
ORACLES["order_value_skyline"] = """
    SELECT p.o_orderkey, p.o_orderdate, p.o_totalprice
    FROM orders p
    WHERE p.o_orderdate IS NOT NULL AND p.o_totalprice IS NOT NULL
      AND NOT EXISTS (
        SELECT 1 FROM orders q
        WHERE q.o_orderdate IS NOT NULL AND q.o_totalprice IS NOT NULL
          AND q.o_orderdate >= p.o_orderdate
          AND q.o_totalprice >= p.o_totalprice
          AND (q.o_orderdate > p.o_orderdate
               OR q.o_totalprice > p.o_totalprice))
    ORDER BY p.o_orderdate DESC, p.o_orderkey
"""

# Robust median/MAD outliers: both medians replayed as the per-group
# row_number definition at rn = (n+1)//2 (lower median, the selection
# operator's convention); deviations and the 3·MAD comparison are
# plain double IEEE steps identical in both engines.  The median pass
# orders the DECIMAL column (order-preserved under the double cast the
# Spark side returns); the MAD pass orders the derived double.
ORACLES["robust_outliers_by_priority"] = """
    WITH t AS (SELECT o_orderpriority AS g,
                      CAST(o_totalprice AS DOUBLE) AS v
               FROM orders WHERE o_totalprice IS NOT NULL),
    m AS (SELECT g, v AS med FROM (
            SELECT g, v,
                   row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM t)
          WHERE rn = (n + 1) // 2),
    d AS (SELECT t.g, t.v, m.med, abs(t.v - m.med) AS adev
          FROM t JOIN m USING (g)),
    s AS (SELECT g, adev AS mad FROM (
            SELECT g, adev,
                   row_number() OVER (PARTITION BY g ORDER BY adev) AS rn,
                   COUNT(*) OVER (PARTITION BY g) AS n
            FROM d)
          WHERE rn = (n + 1) // 2)
    SELECT d.g AS o_orderpriority, d.med AS median_price, s.mad AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * s.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           COUNT(*) AS n
    FROM d JOIN s USING (g)
    GROUP BY d.g, d.med, s.mad
    ORDER BY o_orderpriority
"""

# The unambiguous k-th-element definition the sortless selection must
# land on exactly: ORDER BY with OFFSET (n+1)//2 - 1 (lower median).
ORACLES["exact_median_order_price"] = """
    WITH t AS (SELECT o_totalprice AS v FROM orders
               WHERE o_totalprice IS NOT NULL),
    n AS (SELECT COUNT(*) AS n_rows FROM t)
    SELECT (SELECT v FROM t ORDER BY v
            LIMIT 1 OFFSET (SELECT (n_rows + 1) // 2 - 1 FROM n))
               AS median_price,
           (SELECT (n_rows + 1) // 2 FROM n) AS k,
           (SELECT n_rows FROM n) AS n
"""


# G.711 mu-law roundtrip, bit-exact: samples recovered from hex(text)
# byte pairs (the multimodal_audio_stats machinery), then the CCITT
# companding formula replayed in integer arithmetic — encode: 14-bit
# floor(s/4), clip 8159, bias 33, 8-segment log code, XOR mask;
# decode: (mantissa·8 + 132) << exponent, re-signed.  Verified
# identical to stdlib audioop over ALL 65536 int16 inputs
# (tests/test_g711.py), so a hash match here checks a real lossy
# codec end to end.  LEFT JOIN keeps zero-sample docs (the scene-
# change oracle lesson).
ORACLES["multimodal_g711_stats"] = """
    WITH b AS (
        SELECT doc_id, octet_length(encode(text)) AS nbytes,
               hex(encode(text)) AS h
        FROM documents),
    samples AS (
        SELECT doc_id,
               (strpos('0123456789ABCDEF', substr(h, 4*i-3, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 4*i-2, 1)) - 1) AS lo,
               (strpos('0123456789ABCDEF', substr(h, 4*i-1, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 4*i,   1)) - 1) AS hi
        FROM b, unnest(generate_series(1, nbytes // 2)) AS t(i)),
    signed AS (
        SELECT doc_id,
               CASE WHEN lo + 256 * hi >= 32768
                    THEN lo + 256 * hi - 65536
                    ELSE lo + 256 * hi END AS s
        FROM samples),
    q1 AS (SELECT doc_id, s, CAST(FLOOR(s / 4.0) AS BIGINT) AS p14
           FROM signed),
    e AS (SELECT doc_id, s,
                 CASE WHEN p14 < 0 THEN 127 ELSE 255 END AS mask,
                 LEAST(ABS(p14), 8159) + 33 AS pb
          FROM q1),
    seg AS (SELECT doc_id, s, mask, pb,
                 CASE WHEN pb <= 63 THEN 0 WHEN pb <= 127 THEN 1
                      WHEN pb <= 255 THEN 2 WHEN pb <= 511 THEN 3
                      WHEN pb <= 1023 THEN 4 WHEN pb <= 2047 THEN 5
                      WHEN pb <= 4095 THEN 6 WHEN pb <= 8191 THEN 7
                      ELSE 8 END AS sg
            FROM e),
    u AS (SELECT doc_id, s,
                 CASE WHEN sg >= 8 THEN xor(127, mask)
                      ELSE xor(sg * 16
                               + ((pb // CAST(POW(2, sg + 1) AS BIGINT))
                                  % 16),
                               mask) END AS uval
          FROM seg),
    dec AS (SELECT doc_id, s,
                 CASE WHEN (255 - uval) >= 128
                      THEN 132 - (((255 - uval) % 16) * 8 + 132)
                               * CAST(POW(2, ((255 - uval) // 16) % 8)
                                      AS BIGINT)
                      ELSE (((255 - uval) % 16) * 8 + 132)
                               * CAST(POW(2, ((255 - uval) // 16) % 8)
                                      AS BIGINT) - 132
                 END AS dv
            FROM u),
    agg AS (SELECT doc_id, COUNT(*) AS ns, SUM(dv) AS sd,
                   MAX(ABS(s - dv)) AS mae
            FROM dec GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(COALESCE(agg.ns, 0) AS INT) AS n_samples,
           CAST(12 + COALESCE(agg.ns, 0) AS INT) AS ulaw_bytes,
           CAST(COALESCE(agg.sd, 0) AS BIGINT) AS sum_decoded,
           CAST(COALESCE(agg.mae, 0) AS INT) AS max_abs_err
    FROM b LEFT JOIN agg USING (doc_id)
    ORDER BY b.doc_id
"""


# A-law twin: 13-bit floor(s/8), negative values map to -p-1, clip
# 4095, linear first segment (uval = p//2 under 32), log segments
# above, even-bit inversion xor 0x55 (plus the sign bit 0x80 folded
# into the positive mask 0xD5); decode re-expands (2m+1 | 2m+33 <<
# seg-1) * 8 with sign from the inverted byte.  Verified ≡ audioop
# over ALL 65536 int16 inputs (tests/test_g711.py).
ORACLES["multimodal_alaw_stats"] = """
    WITH b AS (
        SELECT doc_id, octet_length(encode(text)) AS nbytes,
               hex(encode(text)) AS h
        FROM documents),
    samples AS (
        SELECT doc_id,
               (strpos('0123456789ABCDEF', substr(h, 4*i-3, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 4*i-2, 1)) - 1) AS lo,
               (strpos('0123456789ABCDEF', substr(h, 4*i-1, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 4*i,   1)) - 1) AS hi
        FROM b, unnest(generate_series(1, nbytes // 2)) AS t(i)),
    signed AS (
        SELECT doc_id,
               CASE WHEN lo + 256 * hi >= 32768
                    THEN lo + 256 * hi - 65536
                    ELSE lo + 256 * hi END AS s
        FROM samples),
    q1 AS (SELECT doc_id, s, CAST(FLOOR(s / 8.0) AS BIGINT) AS p13
           FROM signed),
    e AS (SELECT doc_id, s,
                 CASE WHEN p13 >= 0 THEN 213 ELSE 85 END AS mask,
                 LEAST(CASE WHEN p13 >= 0 THEN p13 ELSE -p13 - 1 END,
                       4095) AS pm
          FROM q1),
    u AS (SELECT doc_id, s, mask,
                 CASE WHEN pm < 32 THEN pm // 2
                      ELSE (CASE WHEN pm <= 63 THEN 1 WHEN pm <= 127 THEN 2
                                 WHEN pm <= 255 THEN 3 WHEN pm <= 511 THEN 4
                                 WHEN pm <= 1023 THEN 5 WHEN pm <= 2047 THEN 6
                                 ELSE 7 END) * 16
                           + ((pm // CAST(POW(2, CASE WHEN pm <= 63 THEN 1
                                 WHEN pm <= 127 THEN 2 WHEN pm <= 255 THEN 3
                                 WHEN pm <= 511 THEN 4 WHEN pm <= 1023 THEN 5
                                 WHEN pm <= 2047 THEN 6 ELSE 7 END)
                                 AS BIGINT)) % 16)
                 END AS uval
          FROM e),
    d0 AS (SELECT doc_id, s, xor(xor(uval, mask), 85) AS a FROM u),
    dec AS (SELECT doc_id, s,
                 (CASE WHEN (a // 16) % 8 = 0
                       THEN 2 * (a % 16) + 1
                       ELSE (2 * (a % 16) + 33)
                            * CAST(POW(2, (a // 16) % 8 - 1) AS BIGINT)
                  END) * 8
                 * (CASE WHEN a >= 128 THEN 1 ELSE -1 END) AS dv
            FROM d0),
    agg AS (SELECT doc_id, COUNT(*) AS ns, SUM(dv) AS sd,
                   MAX(ABS(s - dv)) AS mae
            FROM dec GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(COALESCE(agg.ns, 0) AS INT) AS n_samples,
           CAST(12 + COALESCE(agg.ns, 0) AS INT) AS alaw_bytes,
           CAST(COALESCE(agg.sd, 0) AS BIGINT) AS sum_decoded,
           CAST(COALESCE(agg.mae, 0) AS INT) AS max_abs_err
    FROM b LEFT JOIN agg USING (doc_id)
    ORDER BY b.doc_id
"""


# Stream-static enrichment must equal the plain batch CASE rollup —
# the broadcast dim join adds nothing the batch mapping doesn't.
ORACLES["stream_enriched_event_counts"] = f"""
    SELECT CASE WHEN event_type IN ('view', 'click') THEN 'browse'
                WHEN event_type IN ('signup', 'purchase') THEN 'convert'
                ELSE 'other' END AS stage,
           COUNT(*) AS n_events,
           {_dsum("value", "total_value")}
    FROM events
    GROUP BY 1
    ORDER BY stage
"""


# Shared base for the graph-analytics oracles: directed nation-pair
# lineitem counts (the q7 join shape) + the integer-exact above-mean
# edge rule (cnt · n_pairs > total — no decimal average crosses the
# engine boundary).
_TRADE_PAIRS = """
    pair AS (
      SELECT cn.n_name AS src, sn.n_name AS dst, COUNT(*) AS cnt
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey
      WHERE cn.n_nationkey <> sn.n_nationkey
      GROUP BY 1, 2),
    tot AS (SELECT COUNT(*) AS np, SUM(cnt) AS tc FROM pair),
    dedges AS (SELECT src, dst FROM pair, tot WHERE cnt * np > tc)
"""


def _pagerank_sql(iterations: int = 8, num: int = 85, den: int = 100,
                  scale: int = 10**12) -> str:
    """Unroll the EXACT integer recurrence of graph.pagerank_fixed_point
    as chained CTEs — every DIV, multiply, and SUM replayed, so the
    hash comparison checks all 8 iterations bit-for-bit."""
    base = (scale * (den - num)) // den
    ctes = [
        _TRADE_PAIRS,
        """nodes AS (SELECT src AS node FROM dedges
                     UNION SELECT dst FROM dedges)""",
        """odeg AS (SELECT src AS node, COUNT(*) AS od
                    FROM dedges GROUP BY src)""",
        f"r0 AS (SELECT node, CAST({scale} AS BIGINT) AS rank FROM nodes)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(f"""
        r{k} AS (
          SELECT n.node,
                 CAST({base} + ({num} * COALESCE(s.m, 0)) // {den} AS BIGINT)
                     AS rank
          FROM nodes n
          LEFT JOIN (
              SELECT e.dst AS node, SUM(r.rank // d.od) AS m
              FROM r{k - 1} r
              JOIN dedges e ON e.src = r.node
              JOIN odeg d ON d.node = r.node
              GROUP BY e.dst) s
          ON s.node = n.node)""")
    return (
        "WITH " + ",".join(ctes)
        + f" SELECT node, rank FROM r{iterations} ORDER BY rank DESC, node"
    )


ORACLES["nation_trade_pagerank"] = _pagerank_sql()

def _sssp_sql(iterations: int = 24) -> str:
    """Unroll the Bellman-Ford min-plus recurrence (graph.sssp_weighted)
    as chained CTEs — d_{k+1}(v) = MIN(d_k(v), MIN_{u→v}(d_k(u)+w)),
    every BIGINT sum and MIN replayed.  24 iterations ≥ |V|−1 for the
    ≤25-node nation graph; iterations past the fixed point are no-ops,
    so this equals the Spark side's early-stopped loop exactly."""
    # Each d_k references d_{k-1} TWICE — without MATERIALIZED DuckDB
    # inlines CTEs and the plan (and its parquet file handles) doubles
    # per iteration: 2^24 expansion, "Too many open files".
    ctes = [
        _TRADE_PAIRS,
        """wedges AS MATERIALIZED (
              SELECT p.src, p.dst, p.cnt AS w
              FROM pair p, tot WHERE p.cnt * tot.np > tot.tc)""",
        """root AS (SELECT MIN(src) AS node FROM wedges)""",
        "d0 AS (SELECT node, CAST(0 AS BIGINT) AS cost FROM root)",
    ]
    for k in range(1, iterations + 1):
        ctes.append(f"""
        d{k} AS MATERIALIZED (
          SELECT node, MIN(cost) AS cost FROM (
            SELECT node, cost FROM d{k - 1}
            UNION ALL
            SELECT e.dst AS node, d.cost + e.w
            FROM d{k - 1} d JOIN wedges e ON e.src = d.node)
          GROUP BY node)""")
    return (
        "WITH " + ",".join(ctes)
        + f" SELECT node, cost FROM d{iterations} ORDER BY cost, node"
    )


ORACLES["nation_trade_sssp"] = _sssp_sql()

# BFS hop distances closed by an INDEPENDENT algorithm: the Spark side
# runs frontier BFS (level order, anti-join on visited), the oracle
# enumerates depth-bounded walks with a recursive CTE and takes
# MIN(d).  UNION (distinct) dedups (node, d) states and the d+1 <
# |nodes| bound terminates cycles, so the state space is ≤ |V|².
ORACLES["nation_trade_bfs_hops"] = (
    "WITH RECURSIVE "
    + _TRADE_PAIRS.strip()
    + """,
    nn AS (SELECT COUNT(*) AS n FROM
             (SELECT src AS x FROM dedges UNION SELECT dst FROM dedges)),
    root AS (SELECT MIN(src) AS node FROM dedges),
    walk AS (
      SELECT node, 0 AS d FROM root
      UNION
      SELECT e.dst, w.d + 1
      FROM walk w JOIN dedges e ON e.src = w.node
      WHERE w.d + 1 < (SELECT n FROM nn)
    )
    SELECT node, CAST(MIN(d) AS BIGINT) AS hops
    FROM walk GROUP BY node ORDER BY hops, node
"""
)

# The naive a<b<c three-way self-join the oriented enumeration must
# exactly equal (each triangle found once, lexicographically sorted).
ORACLES["nation_trade_triangles"] = f"""
    WITH {_TRADE_PAIRS},
    upair AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                     SUM(cnt) AS ucnt
              FROM pair GROUP BY 1, 2),
    utot AS (SELECT COUNT(*) AS np, SUM(ucnt) AS tc FROM upair),
    ue AS (SELECT a, b FROM upair, utot WHERE ucnt * np > tc)
    SELECT e1.a AS n1, e1.b AS n2, e2.b AS n3
    FROM ue e1
    JOIN ue e2 ON e2.a = e1.b
    JOIN ue e3 ON e3.a = e1.a AND e3.b = e2.b
    ORDER BY n1, n2, n3
"""

# The PNG round-trip must land on the SAME pixels as the uncompressed
# P6 path — one deterministic render, two codecs, one oracle.  A bug in
# either encode_png or decode_png shows up as a sum divergence here.
ORACLES["multimodal_png_stats"] = ORACLES["multimodal_image_stats"]

# The incremental CDC merge must reproduce the full rebuild exactly —
# one history, two build paths, one oracle.  Any divergence in the
# replay/anti-join/renumber logic shows up as a hash mismatch here.
ORACLES["scd2_incremental_merge"] = ORACLES["scd2_user_event_history"]

# WAV path: samples are byte pairs of the utf-8 text, little-endian
# signed int16 (odd tail byte dropped) — pure byte arithmetic, so the
# oracle rebuilds every sample and the codec round-trip must agree.
ORACLES["multimodal_audio_stats"] = """
    WITH b AS (
        SELECT doc_id, octet_length(encode(text)) AS n, hex(encode(text)) AS h
        FROM documents),
    samples AS (
        SELECT doc_id,
               (strpos('0123456789ABCDEF', substr(h, 4*i-3, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 4*i-2, 1)) - 1) AS lo,
               (strpos('0123456789ABCDEF', substr(h, 4*i-1, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 4*i,   1)) - 1) AS hi
        FROM b, unnest(generate_series(1, n // 2)) AS t(i)),
    signed AS (
        SELECT doc_id,
               CASE WHEN lo + 256 * hi >= 32768
                    THEN lo + 256 * hi - 65536
                    ELSE lo + 256 * hi END AS s
        FROM samples),
    agg AS (
        SELECT doc_id, CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
               CAST(MAX(ABS(s)) AS INT) AS max_abs
        FROM signed GROUP BY doc_id)
    SELECT b.doc_id,
           CAST(8000 AS INT) AS sample_rate,
           CAST(b.n // 2 AS INT) AS n_samples,
           CAST(COALESCE(a.sum_abs, 0) AS BIGINT) AS sum_abs,
           CAST(COALESCE(a.max_abs, 0) AS INT) AS max_abs
    FROM b LEFT JOIN agg a ON a.doc_id = b.doc_id
"""

# k-anonymity audit: the definitional GROUP BY on the QI tuple with
# the class_size < k filter.  QI derivations (nation int cast,
# balance-sign CASE) are byte-identical expressions in both engines;
# COUNT(*) is BIGINT in DuckDB already, cast kept for explicitness.
ORACLES["kanonymity_risky_classes"] = """
    WITH qi AS (
      SELECT CAST(c_nationkey AS INT) AS nation,
             c_mktsegment AS segment,
             CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END
               AS balance_sign
      FROM customer),
    cls AS (
      SELECT nation, segment, balance_sign, COUNT(*) AS class_size
      FROM qi GROUP BY nation, segment, balance_sign)
    SELECT nation, segment, balance_sign,
           CAST(class_size AS BIGINT) AS class_size
    FROM cls
    WHERE class_size < 5
    ORDER BY nation, segment, balance_sign
"""

# Suppression-ladder stats: the Spark side's single ROLLUP pass must
# equal the four definitional per-level GROUP BYs unioned — the
# replay deliberately does NOT use rollup so the two engines reach
# the same table by different routes.
ORACLES["kanonymity_level_stats"] = """
    WITH qi AS (
      SELECT CAST(c_nationkey AS INT) AS nation,
             c_mktsegment AS segment,
             CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END
               AS balance_sign
      FROM customer),
    l0 AS (SELECT COUNT(*) AS c FROM qi
           GROUP BY nation, segment, balance_sign),
    l1 AS (SELECT COUNT(*) AS c FROM qi GROUP BY nation, segment),
    l2 AS (SELECT COUNT(*) AS c FROM qi GROUP BY nation),
    l3 AS (SELECT COUNT(*) AS c FROM qi),
    s AS (
      SELECT 0 AS level, COUNT(*) AS n, MIN(c) AS m FROM l0
      UNION ALL SELECT 1, COUNT(*), MIN(c) FROM l1
      UNION ALL SELECT 2, COUNT(*), MIN(c) FROM l2
      UNION ALL SELECT 3, COUNT(*), MIN(c) FROM l3)
    SELECT CAST(level AS INT) AS level,
           CAST(n AS BIGINT) AS n_classes,
           CAST(m AS BIGINT) AS min_class_size,
           m >= 5 AS meets_k
    FROM s ORDER BY level
"""

# Distinct l-diversity: the same two-level GROUP BY the Spark side
# runs (NOT COUNT(DISTINCT) — NULL counts as a sensitive value by the
# operator's documented semantics).  The balance bucket is the shared
# 3-IEEE-step binning: +1000.0, /1000.0, floor — bit-identical here.
ORACLES["ldiversity_risky_classes"] = """
    WITH qi AS (
      SELECT CAST(c_nationkey AS INT) AS nation,
             CAST(FLOOR((c_acctbal + 1000.0) / 1000.0) AS INT)
               AS balance_bucket,
             c_mktsegment AS segment
      FROM customer),
    pv AS (
      SELECT nation, balance_bucket, segment, COUNT(*) AS c
      FROM qi GROUP BY 1, 2, 3),
    cls AS (
      SELECT nation, balance_bucket,
             CAST(SUM(c) AS BIGINT) AS class_size,
             CAST(COUNT(*) AS BIGINT) AS distinct_sensitive
      FROM pv GROUP BY 1, 2)
    SELECT nation, balance_bucket, class_size, distinct_sensitive
    FROM cls
    WHERE distinct_sensitive < 4
    ORDER BY nation, balance_bucket
"""

# t-closeness TVD replay: identical integer cross-multiplication
# (absent segments folded in as n_c * (N - sum of present N_v)) and
# the identical single double division — every value before the final
# division is an exact integer < 2^53, so the doubles match
# bit-for-bit.
ORACLES["tcloseness_class_distances"] = """
    WITH qi AS (
      SELECT CAST(c_nationkey AS INT) AS nation,
             CASE WHEN c_acctbal < 0 THEN 'neg' ELSE 'nonneg' END
               AS balance_sign,
             c_mktsegment AS segment
      FROM customer),
    pv AS (
      SELECT nation, balance_sign, segment, COUNT(*) AS n_cv
      FROM qi GROUP BY 1, 2, 3),
    marg AS (SELECT segment, SUM(n_cv) AS n_v FROM pv GROUP BY 1),
    tot AS (SELECT SUM(n_v) AS n FROM marg),
    cls AS (
      SELECT nation, balance_sign, SUM(n_cv) AS n_c
      FROM pv GROUP BY 1, 2),
    per_class AS (
      SELECT pv.nation, pv.balance_sign,
             CAST(cls.n_c AS BIGINT) AS class_size,
             CAST(tot.n AS BIGINT) AS n,
             SUM(ABS(CAST(pv.n_cv AS DECIMAL(19,0)) * CAST(tot.n AS DECIMAL(19,0))
                     - CAST(marg.n_v AS DECIMAL(19,0)) * CAST(cls.n_c AS DECIMAL(19,0))))
               AS numer_present,
             SUM(CAST(marg.n_v AS DECIMAL(19,0))) AS present_nv
      FROM pv
      JOIN marg ON marg.segment = pv.segment
      JOIN cls ON cls.nation = pv.nation
              AND cls.balance_sign = pv.balance_sign
      CROSS JOIN tot
      GROUP BY 1, 2, 3, 4)
    SELECT nation, balance_sign, class_size,
           CAST(numer_present
                + CAST(class_size AS DECIMAL(19,0))
                  * (CAST(n AS DECIMAL(19,0)) - present_nv) AS DOUBLE)
           / CAST(2 * CAST(class_size AS DECIMAL(19,0))
                  * CAST(n AS DECIMAL(19,0)) AS DOUBLE) AS tvd,
           (CAST(numer_present
                 + CAST(class_size AS DECIMAL(19,0))
                   * (CAST(n AS DECIMAL(19,0)) - present_nv) AS DOUBLE)
            / CAST(2 * CAST(class_size AS DECIMAL(19,0))
                   * CAST(n AS DECIMAL(19,0)) AS DOUBLE)) <= 0.15 AS meets_t
    FROM per_class
    ORDER BY nation, balance_sign
"""

# Laplace-mechanism replay: the identical md5 noise map (chr(31) is
# the concat_ws separator, '0x'||hex cast is the conv(16,10) twin),
# identical IEEE steps, the identical DECIMAL(14,12) ln quantization
# and (8,6) scale — every noisy count matches bit-for-bit.  Widths
# are chosen so each decimal product stays within DuckDB's strict
# 38-digit combined-width rule.
# Trained language-ID: replay the whole scorer — char trigrams of
# lower(text) (spaces kept, multiplicity kept), signed md5 hashing
# into 256 buckets, per-language dot products against the SAME
# source-frozen integer weight lists the Spark plan embeds
# (functions/langid_weights.py), argmax with first-in-(de,en,es,fr,zh)
# tie-break, 'und' for docs with no trigram.  Margins are exact
# BIGINT both sides.
def _langid_scorer_ctes() -> tuple[str, str]:
    """(WITH-body CTE chain ending in `m` margins, argmax CASE arms) —
    shared by the lang_id_pred oracle and every downstream consumer of
    the scorer's predictions (langid_agreement_kappa)."""
    from ..functions.langid_weights import LANGID_LANGS, LANGID_WEIGHTS

    lists = {
        lang: "[" + ", ".join(str(int(w)) for w in LANGID_WEIGHTS[lang]) + "]"
        for lang in LANGID_LANGS
    }
    margin_cols = ",\n            ".join(
        f"CAST(SUM(w * ({lists[lang]})[bucket + 1]) AS BIGINT) AS s_{lang}"
        for lang in LANGID_LANGS
    )
    all_s = ", ".join(f"s_{lang}" for lang in LANGID_LANGS)
    case_arms = "\n                ".join(
        f"WHEN s_{lang} = greatest({all_s}) THEN '{lang}'"
        for lang in LANGID_LANGS
    )
    ctes = f"""g AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, length(lower(text)) - 1),
                        i -> substring(lower(text), i, 3))) AS gram
          FROM documents),
        f AS (
          SELECT doc_id,
                 CAST(CAST('0x' || substring(md5(gram), 1, 8) AS BIGINT)
                      % 256 AS INT) AS bucket,
                 CASE WHEN CAST('0x' || substring(md5(gram), 9, 1) AS BIGINT)
                           % 2 = 0 THEN 1 ELSE -1 END AS s
          FROM g),
        c AS (SELECT doc_id, bucket, CAST(SUM(s) AS BIGINT) AS w
              FROM f GROUP BY 1, 2),
        m AS (SELECT doc_id,
            {margin_cols}
          FROM c GROUP BY doc_id)"""
    return ctes, case_arms


def _langid_oracle_sql() -> str:
    from ..functions.langid_weights import LANGID_LANGS

    ctes, case_arms = _langid_scorer_ctes()
    coalesced = ", ".join(
        f"COALESCE(s_{lang}, 0) AS s_{lang}" for lang in LANGID_LANGS
    )
    return f"""
        WITH {ctes}
        SELECT d.doc_id,
               CASE WHEN m.doc_id IS NULL THEN 'und'
                {case_arms}
                END AS lang_pred,
               {coalesced}
        FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        ORDER BY d.doc_id
    """


ORACLES["lang_id_pred"] = _langid_oracle_sql()

# DP noisy counts: the ln comes from the SAME source-frozen
# DECIMAL(14,12) literal table the Spark plan embeds
# (functions/lnlut.py) — zero runtime transcendentals in the hash
# path on either engine (the r07 libm-ulp lesson).  The grid index
# floor(t*1024) is exact IEEE integer arithmetic both sides.
def _laplace_lut_sql() -> str:
    from ..functions.lnlut import LAPLACE_LN_LUT

    return (
        "["
        + ", ".join(
            f"CAST('{v}' AS DECIMAL(14,12))" for v in LAPLACE_LN_LUT
        )
        + "]"
    )


ORACLES["dp_noisy_nation_counts"] = f"""
    WITH cnt AS (
      SELECT CAST(c_nationkey AS INT) AS nation, COUNT(*) AS n
      FROM customer GROUP BY 1),
    nz AS (
      SELECT nation, n,
             (CAST(CAST('0x' || substring(md5(
                    CAST(nation AS VARCHAR) || chr(31) || 'release-r06'
                ), 1, 8) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS u
      FROM cnt),
    gq AS (
      SELECT nation, n, u,
             CAST(floor((1.0 - 2.0 * abs(u - 0.5)) * 1024.0) AS INT) AS g
      FROM nz)
    SELECT nation,
           CAST(CAST(CAST(n AS DECIMAL(19,0))
                + (CAST(0 AS DECIMAL(2,0))
                   - CASE WHEN u - 0.5 >= 0
                          THEN CAST(1 AS DECIMAL(2,0))
                          ELSE CAST(-1 AS DECIMAL(2,0)) END)
                  * ({_laplace_lut_sql()}[g + 1])
                  * CAST('2.0' AS DECIMAL(8,6))
                AS DECIMAL(38,12)) AS DOUBLE) AS noisy_count
    FROM gq ORDER BY nation
"""

# Hashing-trick replay: same tokenization macro, same md5 digest split
# (first 8 hex = bucket, 9th nibble parity = sign), same integer sums.
ORACLES["hashed_doc_features"] = f"""
    WITH terms AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tc AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    h AS (
      SELECT doc_id,
             CAST(CAST('0x' || substring(md5(term), 1, 8) AS BIGINT)
                  % 64 AS INT) AS bucket,
             CASE WHEN CAST('0x' || substring(md5(term), 9, 1) AS BIGINT)
                       % 2 = 0
                  THEN CAST(tf AS BIGINT) ELSE -CAST(tf AS BIGINT)
             END AS s
      FROM tc)
    SELECT doc_id, bucket, CAST(SUM(s) AS BIGINT) AS weight
    FROM h GROUP BY 1, 2
    ORDER BY doc_id, bucket
"""

# Equal-frequency binning replay: identical total order (price, key),
# identical (rank-1)*10 // n assignment, per-bin count/min/max.
ORACLES["order_price_decile_bins"] = """
    WITH r AS (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER () AS total
      FROM orders WHERE o_totalprice IS NOT NULL)
    SELECT CAST(((rn - 1) * 10) // total AS INT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(o_totalprice) AS lo,
           MAX(o_totalprice) AS hi
    FROM r GROUP BY 1 ORDER BY bin
"""

# Smoothed target encoding replay: identical quantization, identical
# cross-multiplied decimal numerator/denominator, one double division.
ORACLES["nation_balance_target_encoding"] = """
    WITH per AS (
      SELECT CAST(c_nationkey AS INT) AS nation,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(24,6))) AS DECIMAL(24,6)) AS s,
             CAST(COUNT(c_acctbal) AS DECIMAL(13,0)) AS n
      FROM customer GROUP BY 1),
    g AS (
      SELECT CAST(SUM(s) AS DECIMAL(24,6)) AS s_all,
             CAST(SUM(n) AS DECIMAL(13,0)) AS n_all
      FROM per)
    SELECT nation, CAST(n AS BIGINT) AS n,
           CAST(s * n_all + CAST(10 AS DECIMAL(13,0)) * s_all AS DOUBLE)
           / CAST(n_all * (n + CAST(10 AS DECIMAL(13,0))) AS DOUBLE)
             AS encoding
    FROM per CROSS JOIN g
    ORDER BY nation
"""

# LOO target encoding replay: identical window sums and the identical
# (S - x)/(n - 1) step; singleton classes and NULL targets are NULL.
ORACLES["priority_price_loo_encoding"] = """
    WITH w AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DECIMAL(24,6)) AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(24,6)))
                  OVER (PARTITION BY o_orderpriority) AS DECIMAL(24,6)) AS s,
             COUNT(CAST(o_totalprice AS DECIMAL(24,6)))
                  OVER (PARTITION BY o_orderpriority) AS n
      FROM orders)
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN x IS NOT NULL AND n > 1
                THEN CAST(s - x AS DOUBLE) / CAST(n - 1 AS DOUBLE)
           END AS loo_encoding
    FROM w ORDER BY o_orderkey
"""

# Data-mixing replay: identical integer unit/quota arithmetic and the
# single-window form of the identical (md5(id), id) ranking.
ORACLES["mixture_sampled_docs"] = """
    WITH w(source, wt) AS (VALUES ('src0', 4), ('src1', 2), ('src2', 1)),
    c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
    m AS (
      SELECT MIN(COALESCE(n, 0) // wt) AS m
      FROM w LEFT JOIN c USING (source)),
    q AS (
      SELECT w.source, wt * m.m AS k
      FROM w JOIN c USING (source) CROSS JOIN m),
    r AS (
      SELECT d.doc_id, d.source, q.k,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
      FROM documents d JOIN q ON q.source = d.source)
    SELECT doc_id, source, CAST(rn AS INT) AS sample_rank
    FROM r WHERE rn <= k
    ORDER BY source, sample_rank
"""

# Token-budget mixing replay: identical integer budgets and the
# identical (md5(id), id) running-sum prefix window.
ORACLES["mixture_budget_docs"] = """
    WITH w(source, wt) AS (VALUES ('src3', 3), ('src4', 1)),
    t AS (
      SELECT source, SUM(CAST(COALESCE(n_chars, 0) AS BIGINT)) AS tot
      FROM documents GROUP BY 1),
    m AS (
      SELECT MIN(COALESCE(tot, 0) // wt) AS m
      FROM w LEFT JOIN t USING (source)),
    q AS (SELECT w.source, wt * m.m AS k FROM w CROSS JOIN m),
    r AS (
      SELECT d.doc_id, d.source,
             CAST(COALESCE(d.n_chars, 0) AS BIGINT) AS weight, q.k,
             SUM(CAST(COALESCE(d.n_chars, 0) AS BIGINT)) OVER (
               PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_weight
      FROM documents d JOIN q ON q.source = d.source)
    SELECT doc_id, source, weight,
           CAST(cum_weight AS BIGINT) AS cum_weight
    FROM r WHERE cum_weight <= k
    ORDER BY source, cum_weight
"""

# Wilson-bound replay: the identical funnel CTEs and the IDENTICAL
# fixed IEEE expression tree (z = 1.96 literal, same op order), so
# rate and both bounds match bit-for-bit from the integer counts.
ORACLES["funnel_wilson_bounds"] = """
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
          JOIN v USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > v.t1
            AND e.ts <= v.t1 + INTERVAL 12 HOUR
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
          JOIN c USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
            AND e.ts <= c.t2 + INTERVAL 12 HOUR
          GROUP BY e.user_id),
    steps(transition, k, n) AS (
      SELECT 'click_after_view',
             (SELECT COUNT(*) FROM c), (SELECT COUNT(*) FROM v)
      UNION ALL
      SELECT 'purchase_after_click',
             (SELECT COUNT(*) FROM p), (SELECT COUNT(*) FROM c)),
    d AS (
      SELECT transition, CAST(k AS BIGINT) AS k, CAST(n AS BIGINT) AS n,
             CAST(k AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd
      FROM steps)
    SELECT transition, k, n,
           kd / nd AS rate,
           CASE WHEN n > 0 THEN
             ((kd / nd + (1.96 * 1.96) / (2.0 * nd))
              - 1.96 * sqrt((kd / nd) * (1.0 - kd / nd) / nd
                            + (1.96 * 1.96) / (4.0 * nd * nd)))
             / (1.0 + (1.96 * 1.96) / nd)
           END AS wilson_lo,
           CASE WHEN n > 0 THEN
             ((kd / nd + (1.96 * 1.96) / (2.0 * nd))
              + 1.96 * sqrt((kd / nd) * (1.0 - kd / nd) / nd
                            + (1.96 * 1.96) / (4.0 * nd * nd)))
             / (1.0 + (1.96 * 1.96) / nd)
           END AS wilson_hi
    FROM d ORDER BY transition
"""

# Contingency-statistics replay: identical exact-decimal differences,
# identical double chains, identical per-cell quantization before the
# order-independent decimal sums.
ORACLES["segment_nation_contingency"] = """
    WITH cells AS (
      SELECT c_mktsegment AS x, CAST(c_nationkey AS INT) AS y,
             COUNT(*) AS n_xy
      FROM customer
      WHERE c_mktsegment IS NOT NULL AND c_nationkey IS NOT NULL
      GROUP BY 1, 2),
    m AS (
      SELECT n_xy, x, y,
             SUM(n_xy) OVER (PARTITION BY x) AS nx,
             SUM(n_xy) OVER (PARTITION BY y) AS ny,
             SUM(n_xy) OVER () AS n
      FROM cells),
    c AS (
      SELECT x, y, n_xy, nx, ny, n,
             CAST(CAST(n_xy AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                  - CAST(nx AS DECIMAL(19,0)) * CAST(ny AS DECIMAL(19,0))
                  AS DOUBLE) AS d,
             CAST(n AS DOUBLE) * CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)
               AS den,
             CAST(CAST(n_xy AS DECIMAL(19,0)) * CAST(n AS DECIMAL(19,0))
                  AS DOUBLE)
             / CAST(CAST(nx AS DECIMAL(19,0)) * CAST(ny AS DECIMAL(19,0))
                    AS DOUBLE) AS ratio
      FROM m)
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           CAST((COUNT(DISTINCT x) - 1) * (COUNT(DISTINCT y) - 1) AS BIGINT)
             AS dof,
           CAST(SUM(CAST((d * d) / den AS DECIMAL(26,12))) AS DOUBLE)
             + (CAST(MAX(n) AS DOUBLE)
                - CAST(SUM(CAST(CAST(nx AS DECIMAL(19,0))
                                * CAST(ny AS DECIMAL(19,0))
                                AS DECIMAL(38,0))) AS DOUBLE)
                  / CAST(MAX(n) AS DOUBLE)) AS chi2,
           CAST(SUM(CAST(ln(ratio) AS DECIMAL(14,12))
                    * CAST(n_xy AS DECIMAL(13,0))) AS DOUBLE)
           / CAST(MAX(n) AS DOUBLE) AS mi_nats
    FROM c
"""

# Leakage-safe split: the bucket rides the GROUP key md5(text) (both
# engines emit lowercase-hex md5), then the standard '0x'-prefix
# 8-hex-char bucket; group grain first so max_group_size is exact.
ORACLES["leakage_safe_split_stats"] = """
    WITH g AS (
      SELECT md5(text) AS gk, COUNT(*) AS n_docs,
             CASE WHEN CAST('0x' || substring(md5(md5(text)), 1, 8)
                        AS BIGINT) % 100 < 80
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents GROUP BY md5(text))
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(MAX(n_docs) AS BIGINT) AS max_group_size
    FROM g GROUP BY split ORDER BY split
"""

# GroupKFold on user_id: same md5-prefix bucket mod k; user_id casts
# to VARCHAR identically (integer column, no sign/locale surface).
ORACLES["user_group_kfold_counts"] = """
    SELECT CAST(CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
                AS BIGINT) % 5 AS INT) AS fold,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1 ORDER BY fold
"""

# HTML extraction: the identical wrap + strip chain (script/style/
# comment blocks first, tags to single spaces, the five entities in
# &amp;-last order, whitespace collapse) — DuckDB regexp_replace needs
# the explicit 'g' flag where Spark replaces all matches by default.
ORACLES["html_extract_stats"] = """
    WITH h AS (
      SELECT doc_id,
             '<html><head><title>doc-' || CAST(doc_id AS VARCHAR)
             || '</title><style>p{margin:0}</style>'
             || '<script>var x = 1 &lt; 2;</script></head>'
             || '<body><!-- nav boilerplate --><h1>Docs &amp; friends</h1><p>'
             || text
             || '</p><a href="https://example.com/d/'
             || CAST(doc_id AS VARCHAR)
             || '?ref=corpus">next</a><a href="/local">up</a></body></html>'
               AS html
      FROM documents),
    s AS (
      SELECT doc_id, html,
             trim(regexp_replace(
               replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       regexp_replace(html,
                         '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                       '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
                     '(?s)<!--.*?-->', ' ', 'g'),
                   '<[^>]+>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&amp;', '&'),
               '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g')) AS clean
      FROM h)
    SELECT doc_id,
           regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
           CAST(len(regexp_extract_all(html, 'href="')) AS BIGINT) AS n_links,
           clean AS clean_text,
           CAST(length(clean) AS BIGINT) AS clean_len
    FROM s ORDER BY doc_id
"""

# Per-host quota: host recomputed from the seed formula (the
# url_host_stats contract), ranking replayed as the identical
# single-window md5 row_number group_sample runs (WindowGroupLimit
# supplies the pre-shuffle limit engine-side).
ORACLES["per_host_doc_quota"] = """
    WITH d AS (
      SELECT doc_id,
             'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS host
      FROM documents),
    r AS (
      SELECT host, doc_id,
             row_number() OVER (
               PARTITION BY host
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM d)
    SELECT host, doc_id, CAST(rk AS INT) AS sample_rank
    FROM r WHERE rk <= 25 ORDER BY host, sample_rank
"""

# Definitional three-way self-join over distinct (order, item) — the
# form frequent_triples must equal despite its Apriori thinning.
ORACLES["copurchase_part_triples"] = """
    WITH b AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem)
    SELECT a.i AS item_a, b2.i AS item_b, c.i AS item_c,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM b a
    JOIN b b2 ON a.o = b2.o AND a.i < b2.i
    JOIN b c  ON a.o = c.o  AND b2.i < c.i
    GROUP BY 1, 2, 3 HAVING COUNT(*) >= 2
    ORDER BY item_a, item_b, item_c
"""

# Hardest negative per anchor: the knn float recipe (sequential
# double-fold dot, norms, one final ROUND) + the deterministic
# (cosine DESC, vec_id ASC) argmax replayed as a window.
ORACLES["hard_negative_mining"] = """
    WITH a AS (
      SELECT vec_id AS anchor_id, label AS anchor_label,
             embedding AS avec
      FROM embeddings WHERE vec_id % 50 = 0),
    s AS (
      SELECT anchor_id, anchor_label, e.vec_id, e.label,
             ROUND(
               list_sum(list_transform(generate_series(1, len(e.embedding)),
                    i -> CAST(e.embedding[i] AS DOUBLE)
                         * CAST(avec[i] AS DOUBLE)))
               / NULLIF(
                 sqrt(list_sum(list_transform(e.embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
                 * sqrt(list_sum(list_transform(avec,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))),
                 0.0), 6) AS cosine
      FROM embeddings e JOIN a ON e.label <> anchor_label),
    r AS (
      SELECT *, row_number() OVER (
        PARTITION BY anchor_id ORDER BY cosine DESC, vec_id) AS rn
      FROM s)
    SELECT anchor_id, anchor_label,
           CAST(vec_id AS BIGINT) AS negative_id,
           label AS negative_label, cosine
    FROM r WHERE rn = 1 ORDER BY anchor_id
"""

# Winsorize: ranks from the identical GREATEST(1, ceil(q*n)) rule (rank
# VALUES are tie-stable even though row_number among equals is not),
# clip, decimal-exact sum, the one double division last.
ORACLES["winsorized_price_stats"] = """
    WITH t AS (SELECT o_orderpriority AS g, o_totalprice AS v
               FROM orders WHERE o_totalprice IS NOT NULL),
    r AS (SELECT g, v,
                 row_number() OVER (PARTITION BY g ORDER BY v) AS rn,
                 COUNT(*) OVER (PARTITION BY g) AS n
          FROM t),
    b AS (SELECT g,
                 MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.05 * n) AS BIGINT))
                          THEN v END) AS lo,
                 MAX(CASE WHEN rn = GREATEST(1, CAST(ceil(0.95 * n) AS BIGINT))
                          THEN v END) AS hi
          FROM r GROUP BY g)
    SELECT g AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(SUM(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           CAST(SUM(CAST(LEAST(GREATEST(v, lo), hi) AS DECIMAL(38,6)))
                AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS winsorized_mean
    FROM t JOIN b USING (g)
    GROUP BY g ORDER BY g
"""

# Energy VAD: int16 samples recovered from hex(text) (the g711
# discipline), full frames only, integer energies with the planted
# mute formula, islands via f - row_number over active frames.
ORACLES["multimodal_vad_segments"] = """
    WITH b AS (
        SELECT doc_id, octet_length(encode(text)) AS nbytes,
               hex(encode(text)) AS h
        FROM documents),
    fr AS (SELECT doc_id, (nbytes // 2) // 80 AS n_frames FROM b),
    samples AS (
        SELECT doc_id, (i - 1) // 80 AS f,
               (strpos('0123456789ABCDEF', substr(h, 4*i-3, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 4*i-2, 1)) - 1) AS lo,
               (strpos('0123456789ABCDEF', substr(h, 4*i-1, 1)) - 1) * 16
             + (strpos('0123456789ABCDEF', substr(h, 4*i,   1)) - 1) AS hi
        FROM b JOIN fr USING (doc_id),
             unnest(generate_series(1, (nbytes // 2 // 80) * 80)) AS t(i)),
    signed AS (
        SELECT doc_id, f,
               CASE WHEN lo + 256 * hi >= 32768
                    THEN lo + 256 * hi - 65536
                    ELSE lo + 256 * hi END AS s
        FROM samples),
    energy AS (
        SELECT doc_id, f,
               CASE WHEN (doc_id + f * 2654435761) % 4 = 0 THEN 0
                    ELSE SUM(s * s) END AS e
        FROM signed GROUP BY doc_id, f),
    act AS (
        SELECT doc_id, f,
               f - row_number() OVER (PARTITION BY doc_id ORDER BY f)
                 AS island
        FROM energy WHERE e > 40000000000),
    runs AS (
        SELECT doc_id, island, COUNT(*) AS run_len
        FROM act GROUP BY doc_id, island),
    agg AS (
        SELECT doc_id,
               CAST(SUM(run_len) AS INT) AS active_frames,
               CAST(COUNT(*) AS INT) AS n_segments,
               CAST(MAX(run_len) AS INT) AS longest_segment
        FROM runs GROUP BY doc_id)
    SELECT fr.doc_id, CAST(fr.n_frames AS INT) AS n_frames,
           COALESCE(active_frames, 0) AS active_frames,
           COALESCE(n_segments, 0) AS n_segments,
           COALESCE(longest_segment, 0) AS longest_segment
    FROM fr LEFT JOIN agg ON fr.doc_id = agg.doc_id
    ORDER BY fr.doc_id
"""

# Chained streaming cascade: 6h windows whose end <= max(ts) - 2h (the
# availableNow final watermark), aggregated over raw events — every
# inner hourly window of an emitted outer window has already closed,
# so the cascade equals this batch rollup (cutoff measured: 473 rows
# at sf0.001 under <=; the decimal sum keeps values order-independent).
ORACLES["stream_two_level_counts"] = """
    WITH wm AS (SELECT max(ts) - INTERVAL 2 HOUR AS v FROM events)
    SELECT time_bucket(INTERVAL 6 HOUR, ts) AS window_start, event_type,
           COUNT(*) AS n_events,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) AS DOUBLE)
             AS sum_value
    FROM events, wm
    GROUP BY 1, 2
    HAVING time_bucket(INTERVAL 6 HOUR, MIN(ts)) + INTERVAL 6 HOUR
           <= MAX(v)
    ORDER BY 1, 2
"""

# JSONL quarantine audit computed directly from the parquet: the fault
# injection is the pure predicate event_id % 97 = 0, and to_json's
# shortest-round-trip double repr makes re-parsed values bit-identical
# to the originals, so the good-row decimal sum matches exactly.
ORACLES["events_jsonl_corrupt_stats"] = """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_corrupt,
           CAST(SUM(CASE WHEN event_id % 97 <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_good,
           CAST(ROUND(SUM(CASE WHEN event_id % 97 <> 0
                               THEN CAST(value AS DECIMAL(38,6)) END), 2)
                AS DOUBLE) AS sum_value_good
    FROM events
"""

# Linear scorer: the hashed-features CTE + the identical in-plan
# integer weight formula; margins are exact BIGINTs.
ORACLES["linear_quality_margin"] = f"""
    WITH terms AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tc AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    h AS (
      SELECT doc_id,
             CAST(CAST('0x' || substring(md5(term), 1, 8) AS BIGINT)
                  % 64 AS BIGINT) AS bucket,
             CASE WHEN CAST('0x' || substring(md5(term), 9, 1) AS BIGINT)
                       % 2 = 0
                  THEN CAST(tf AS BIGINT) ELSE -CAST(tf AS BIGINT)
             END AS s
      FROM tc),
    f AS (SELECT doc_id, bucket, SUM(s) AS weight FROM h GROUP BY 1, 2)
    SELECT doc_id,
           CAST(SUM(weight * ((bucket * 2654435761) % 1001 - 500))
                AS BIGINT) AS margin,
           CAST(SUM(weight * ((bucket * 2654435761) % 1001 - 500))
                AS BIGINT) > 0 AS keep
    FROM f GROUP BY doc_id ORDER BY doc_id
"""

# Per-source top terms: the single-window definition the two-phase
# salted ranking must equal bit-for-bit (total order: n desc, term).
ORACLES["top_terms_per_source"] = f"""
    WITH terms AS (SELECT source, unnest({_TOKS}) AS term FROM documents),
    c AS (SELECT source, term, COUNT(*) AS n FROM terms GROUP BY 1, 2),
    r AS (SELECT source, term, CAST(n AS BIGINT) AS n,
                 row_number() OVER (
                   PARTITION BY source ORDER BY n DESC, term) AS rank
          FROM c)
    SELECT source, term, n, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 10 ORDER BY source, rank
"""

# Synchronous LPA unrolled: 4 identical rounds as CTEs (count labels
# over in-neighbors, argmax with MAX-label tie-break via row_number —
# the struct-max rule the Spark loop uses, COALESCE for isolated
# nodes) over the same undirected above-mean edge set as the
# triangles oracle.
_LPA_ROUNDS = 4
_LPA_ROUND_SQL = """,
    c{i} AS (SELECT e.b AS node, l.label, COUNT(*) AS c
             FROM de e JOIN l{j} l ON e.a = l.node GROUP BY 1, 2),
    p{i} AS (SELECT node, label FROM (
               SELECT node, label,
                      row_number() OVER (
                        PARTITION BY node ORDER BY c DESC, label DESC) AS rn
               FROM c{i}) t WHERE rn = 1),
    l{i} AS (SELECT l.node, COALESCE(p.label, l.label) AS label
             FROM l{j} l LEFT JOIN p{i} p ON l.node = p.node)"""
ORACLES["nation_trade_communities"] = (
    f"""
    WITH {_TRADE_PAIRS},
    upair AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                     SUM(cnt) AS ucnt
              FROM pair GROUP BY 1, 2),
    utot AS (SELECT COUNT(*) AS np, SUM(ucnt) AS tc FROM upair),
    ue AS (SELECT a, b FROM upair, utot WHERE ucnt * np > tc),
    de AS (SELECT a, b FROM ue UNION ALL SELECT b, a FROM ue),
    l0 AS (SELECT node, node AS label FROM (
             SELECT a AS node FROM de GROUP BY 1) n)"""
    + "".join(
        _LPA_ROUND_SQL.format(i=i, j=i - 1) for i in range(1, _LPA_ROUNDS + 1)
    )
    + f"""
    SELECT node, label FROM l{_LPA_ROUNDS} ORDER BY node
"""
)

# int8 quantization: identical IEEE step order (abs-max scale,
# floor(x/s*127 + 0.5), err = x - q*s/127, sequential squared-error
# fold, one final division by dim).
ORACLES["embedding_int8_quant_stats"] = """
    WITH q AS (
      SELECT vec_id,
             list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) AS scale,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd,
             len(embedding) AS dim
      FROM embeddings)
    SELECT vec_id, scale,
           CASE WHEN scale > 0 THEN
             CAST(list_sum(list_transform(xd,
                  x -> CAST(floor(x / scale * 127 + 0.5) AS BIGINT)))
                  AS BIGINT)
           ELSE 0 END AS sum_code,
           CASE WHEN scale > 0 THEN
             list_sum(list_transform(xd,
                  x -> pow(x - floor(x / scale * 127 + 0.5)
                               * scale / 127, 2)))
             / CAST(dim AS DOUBLE)
           ELSE 0.0 END AS mse
    FROM q ORDER BY vec_id
"""

# Span removal: the coverage oracle's gram CTEs + exploded covered
# positions, anti-filtered token stream, ordered string_agg rebuild
# md5'd — empty survivors COALESCE to md5('').
ORACLES["dedup_span_removed_docs"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    tok AS (SELECT doc_id, len(toks) AS n_tokens,
                   u.i - 1 AS pos, toks[u.i] AS tok
            FROM t, unnest(generate_series(1, greatest(len(toks), 1)))
                 AS u(i)
            WHERE u.i <= len(toks)),
    g AS (SELECT doc_id,
                 unnest(list_transform(
                     generate_series(1, greatest(len(toks) - 4, 0)),
                     i -> md5(array_to_string(
                            list_slice(toks, i, i + 4), ' ')))) AS gram_h,
                 unnest(generate_series(0, greatest(len(toks) - 4, 0) - 1))
                   AS start
          FROM t),
    dup AS (SELECT gram_h FROM g GROUP BY gram_h
            HAVING COUNT(DISTINCT doc_id) > 1),
    cov AS (SELECT DISTINCT doc_id, start + v.o AS pos
            FROM g JOIN dup USING (gram_h),
                 unnest(generate_series(0, 4)) AS v(o)),
    kept AS (SELECT tok.doc_id, tok.pos, tok.tok
             FROM tok LEFT JOIN cov
               ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos
             WHERE cov.pos IS NULL)
    SELECT t.doc_id,
           CAST(len(t.toks) AS INT) AS n_tokens,
           CAST(COUNT(kept.tok) AS BIGINT) AS kept_tokens,
           md5(COALESCE(string_agg(kept.tok, ' ' ORDER BY kept.pos), ''))
             AS cleaned_md5
    FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id
    GROUP BY t.doc_id, len(t.toks)
    ORDER BY t.doc_id
"""


# ======================================================= r08 additions

# BM25-shaped retrieval: the IDENTICAL expression tree Spark builds —
# every intermediate one correctly-rounded IEEE op on exact integers
# (k1=1.25, b=0.75, k1+1=2.25, 1-b=0.25 all binary-exact), per-term
# weights summed left to right in query-term order.
def _bm25_oracle_sql(terms: list[str], k: int) -> str:
    tf_cols = ",\n               ".join(
        f"CAST(len(list_filter(toks, x -> x = '{t}')) AS INT) AS tf_{t}"
        for t in terms
    )
    df_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{t}"
        for t in terms
    )
    w = {
        t: (
            f"(((CAST(tf_{t} AS DOUBLE) * 2.25)"
            f" / (CAST(tf_{t} AS DOUBLE) + 1.25 * (0.25 + 0.75 *"
            f" (CAST(dl AS DOUBLE) / (CAST(sumdl AS DOUBLE)"
            f" / CAST(n AS DOUBLE))))))"
            f" * ((CAST(n AS DOUBLE) - CAST(df_{t} AS DOUBLE) + 0.5)"
            f" / (CAST(df_{t} AS DOUBLE) + 0.5)))"
        )
        for t in terms
    }
    score = w[terms[0]]
    for t in terms[1:]:
        score = f"({score} + {w[t]})"
    any_match = " OR ".join(f"tf_{t} > 0" for t in terms)
    tf_list = ", ".join(f"tf_{t}" for t in terms)
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (SELECT doc_id, CAST(len(toks) AS INT) AS dl,
               {tf_cols}
             FROM t),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) AS BIGINT) AS sumdl,
               {df_cols}
           FROM base)
    SELECT doc_id, {tf_list}, dl, {score} AS score
    FROM base, st
    WHERE {any_match}
    ORDER BY score DESC, doc_id LIMIT {k}
"""


ORACLES["bm25_keyword_topk"] = _bm25_oracle_sql(["merge", "vector", "dup"], 20)

# RRF fusion: both bounded rankings replayed (keyword conjunctive
# top-100, knn-recipe cosine top-100), ranks as INT row_numbers over
# total orders, reciprocal contributions as single c.r. divisions.
ORACLES["rrf_fused_topk"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    kws AS (SELECT doc_id,
              CAST(len(list_filter(toks, x -> x = 'merge')) AS INT) AS tfm,
              CAST(len(list_filter(toks, x -> x = 'vector')) AS INT) AS tfv
            FROM t),
    kw AS (SELECT doc_id, tfm + tfv AS score FROM kws
           WHERE tfm > 0 AND tfv > 0
           ORDER BY score DESC, doc_id LIMIT 100),
    la AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
               AS rank_a
           FROM kw),
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    sc AS (SELECT vec_id AS doc_id,
             list_sum(list_transform(generate_series(1, len(embedding)),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
             / NULLIF(
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(qv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0)
               AS cos
           FROM embeddings, q),
    tb AS (SELECT doc_id, cos FROM sc ORDER BY cos DESC, doc_id LIMIT 100),
    lb AS (SELECT doc_id,
             CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT)
               AS rank_b
           FROM tb),
    fused AS (SELECT COALESCE(la.doc_id, lb.doc_id) AS doc_id,
                rank_a, rank_b,
                (CASE WHEN rank_a IS NOT NULL
                      THEN 1.0 / (60.0 + CAST(rank_a AS DOUBLE))
                      ELSE 0.0 END)
                + (CASE WHEN rank_b IS NOT NULL
                        THEN 1.0 / (60.0 + CAST(rank_b AS DOUBLE))
                        ELSE 0.0 END) AS rrf_score
              FROM la FULL OUTER JOIN lb ON la.doc_id = lb.doc_id)
    SELECT doc_id, rank_a, rank_b, rrf_score
    FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 20
"""

# Normalized dedup: the exact regexp chain (lowercase, digits->0,
# strip non-[a-z0 ], explicit-class whitespace collapse) over the
# seeded twin corpus.
ORACLES["dedup_normalized_docs"] = """
    WITH seeded AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, upper(text) || ' !!!' FROM documents
      UNION ALL
      SELECT doc_id + 2000000, text || ' build 42' FROM documents
      UNION ALL
      SELECT doc_id + 3000000, text || ' build 77' FROM documents),
    keyed AS (
      SELECT doc_id,
             md5(trim(regexp_replace(regexp_replace(regexp_replace(
                 lower(text),
                 '[0-9]', '0', 'g'),
                 '[^a-z0 \\t\\n\\f\\r\\x0B]', ' ', 'g'),
                 '[ \\t\\n\\f\\r\\x0B]+', ' ', 'g'))) AS norm_key
      FROM seeded)
    SELECT norm_key, CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(doc_id) AS min_doc
    FROM keyed GROUP BY 1 HAVING COUNT(*) >= 2
    ORDER BY norm_key
"""

# Global line dedup: the boilerplate fixture's seeded lines, first
# occurrence = row_number 1 over (doc, pos) per md5 line key, rebuilt
# text digested per doc.
ORACLES["global_line_dedup_docs"] = f"""
    WITH tk AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    seeded AS (
      SELECT doc_id,
             ['HEADER nav menu home']
             || list_transform(
                  range(0, greatest(1, (len(t)+9)//10)),
                  i -> array_to_string(
                       t[CAST(i*10+1 AS INT) : CAST(i*10+10 AS INT)], ' '))
             || ['FOOTER copyright all rights reserved']
             || (CASE WHEN doc_id % 3 = 0
                      THEN ['PROMO subscribe to the newsletter']
                      ELSE [] END) AS ls
      FROM tk),
    lines0 AS (SELECT doc_id, ls,
                 CAST(unnest(range(1, len(ls)+1)) AS INT) AS pos
               FROM seeded),
    lines AS (SELECT doc_id, pos, ls[pos] AS line
              FROM lines0 WHERE trim(ls[pos]) <> ''),
    keyed AS (SELECT doc_id, pos, line,
                md5(lower(trim(line))) AS line_key
              FROM lines),
    kept AS (SELECT doc_id, pos, line FROM (
               SELECT k.*, row_number() OVER (
                        PARTITION BY line_key ORDER BY doc_id, pos) AS rn
               FROM keyed k) WHERE rn = 1),
    tot AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_lines
            FROM keyed GROUP BY 1),
    reb AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS kept_lines,
              md5(string_agg(line, chr(10) ORDER BY pos)) AS cleaned_md5
            FROM kept GROUP BY 1)
    SELECT t.doc_id, t.n_lines,
           COALESCE(reb.kept_lines, 0) AS kept_lines,
           COALESCE(reb.cleaned_md5, md5('')) AS cleaned_md5
    FROM tot t LEFT JOIN reb USING (doc_id)
    ORDER BY t.doc_id
"""


# Cohen's kappa between lang labels and the scorer's predictions: the
# whole scorer replayed via the shared CTE fragment, then exact
# contingency arithmetic with three c.r. double steps.
def _kappa_oracle_sql() -> str:
    ctes, case_arms = _langid_scorer_ctes()
    return f"""
    WITH {ctes},
    pred AS (SELECT d.doc_id, d.lang,
               CASE WHEN m.doc_id IS NULL THEN 'und'
                {case_arms}
                END AS lang_pred
             FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id),
    cell AS (SELECT lang AS a, lang_pred AS b, COUNT(*) AS n_ab
             FROM pred GROUP BY 1, 2),
    tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n,
              CAST(SUM(CASE WHEN a = b THEN n_ab ELSE 0 END) AS BIGINT)
                AS agree
            FROM cell),
    ma AS (SELECT a, CAST(SUM(n_ab) AS BIGINT) AS na FROM cell GROUP BY 1),
    mb AS (SELECT b, CAST(SUM(n_ab) AS BIGINT) AS nb FROM cell GROUP BY 1),
    pe AS (SELECT CAST(COALESCE(SUM(na * nb), 0) AS BIGINT) AS pe_num
           FROM ma JOIN mb ON ma.a = mb.b)
    SELECT n, agree,
           CAST(agree AS DOUBLE) / CAST(n AS DOUBLE) AS p_o,
           CAST(pe_num AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS p_e,
           CASE WHEN (CAST(pe_num AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) < 1.0
                THEN ((CAST(agree AS DOUBLE) / CAST(n AS DOUBLE))
                      - (CAST(pe_num AS DOUBLE)
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                     / (1.0 - (CAST(pe_num AS DOUBLE)
                               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                ELSE 0.0 END AS kappa
    FROM tot, pe
"""


ORACLES["langid_agreement_kappa"] = _kappa_oracle_sql()


# Sparse RP: the SAME source-frozen sign matrix (functions/vectors.py::
# rp_signs — deterministic hashlib, no RNG), one list_sum fold per
# output dim (list_sum ≡ Spark's sequential aggregate fold, proven by
# the int8/knn oracles).
def _rp_oracle_sql() -> str:
    from ..functions.vectors import rp_signs

    signs = rp_signs(64, 8)
    cols = []
    for j, row in enumerate(signs):
        arr = "[" + ", ".join(f"{float(s):.1f}" for s in row) + "]"
        cols.append(
            f"list_sum(list_transform(generate_series(1, 64),\n"
            f"    i -> CAST(embedding[i] AS DOUBLE) * ({arr})[i]))"
            f" AS y{j:02d}"
        )
    col_sql = ",\n           ".join(cols)
    return f"""
    SELECT vec_id,
           {col_sql}
    FROM embeddings ORDER BY vec_id
"""


ORACLES["embedding_rp_projection"] = _rp_oracle_sql()

# Split-conformal threshold: margins replayed (the linear_quality_
# margin recipe), md5-half calibration split, k-th smallest via
# row_number (the kth_smallest definition), exact coverage counts.
ORACLES["margin_conformal_threshold"] = f"""
    WITH terms AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tc AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    h AS (SELECT doc_id,
            CAST(CAST('0x' || substring(md5(term), 1, 8) AS BIGINT)
                 % 64 AS BIGINT) AS bucket,
            CASE WHEN CAST('0x' || substring(md5(term), 9, 1) AS BIGINT)
                      % 2 = 0
                 THEN CAST(tf AS BIGINT) ELSE -CAST(tf AS BIGINT)
            END AS s
          FROM tc),
    f AS (SELECT doc_id, bucket, SUM(s) AS weight FROM h GROUP BY 1, 2),
    m AS (SELECT doc_id,
            CAST(SUM(weight * ((bucket * 2654435761) % 1001 - 500))
                 AS BIGINT) AS margin,
            CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                 AS BIGINT) % 2 = 0 AS cal
          FROM f GROUP BY doc_id),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM m WHERE cal),
    kk AS (SELECT LEAST((9 * (n_cal + 1) + 9) // 10, n_cal) AS k, n_cal
           FROM nc),
    th AS (SELECT margin AS threshold FROM (
             SELECT margin,
                    row_number() OVER (ORDER BY margin) AS rn
             FROM m WHERE cal) r JOIN kk ON r.rn = kk.k),
    ev AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_eval,
             CAST(SUM(CASE WHEN margin >= threshold THEN 1 ELSE 0 END)
                  AS BIGINT) AS covered
           FROM m, th WHERE NOT cal)
    SELECT kk.n_cal, kk.k, th.threshold, ev.n_eval, ev.covered,
           CAST(ev.covered AS DOUBLE) / CAST(ev.n_eval AS DOUBLE)
             AS coverage
    FROM kk, th, ev
"""

# Key-skew profile: exact rank identity for the Gini over counts
# sorted by (count, key); HUGEINT exact integer arithmetic cast to
# double (≡ Spark's DECIMAL(38,0) route — both correctly-rounded
# casts of the same integer).
ORACLES["order_key_skew_profile"] = """
    WITH c AS (SELECT o_custkey AS k, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM orders GROUP BY 1),
    r AS (SELECT cnt, row_number() OVER (ORDER BY cnt, k) AS i FROM c),
    a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
                 CAST(SUM(cnt) AS BIGINT) AS n_rows,
                 CAST(MAX(cnt) AS BIGINT) AS max_count,
                 SUM(CAST(i AS HUGEINT) * CAST(cnt AS HUGEINT)) AS ix
          FROM r),
    t10 AS (SELECT CAST(SUM(cnt) AS BIGINT) AS top10
            FROM r, a WHERE i > n_keys - 10)
    SELECT n_keys, n_rows, max_count,
           CAST(max_count AS DOUBLE) / CAST(n_rows AS DOUBLE) AS max_share,
           CAST(top10 AS DOUBLE) / CAST(n_rows AS DOUBLE) AS top10_share,
           CAST(2 * ix - (CAST(n_keys AS HUGEINT) + 1)
                         * CAST(n_rows AS HUGEINT) AS DOUBLE)
             / (CAST(n_keys AS DOUBLE) * CAST(n_rows AS DOUBLE)) AS gini
    FROM a, t10
"""


# k-core peel: the communities oracle's edge derivation + 4 unrolled
# delete-degree-<2 rounds.
def _kcore_oracle_sql(k: int, rounds: int) -> str:
    peel = []
    for r in range(1, rounds + 1):
        prev = f"e{r - 1}"
        peel.append(
            f"""d{r} AS (SELECT s, COUNT(*) AS deg FROM {prev} GROUP BY 1),
    kp{r} AS (SELECT s AS node FROM d{r} WHERE deg >= {k}),
    e{r} AS (SELECT e.s, e.d FROM {prev} e
             JOIN kp{r} x ON e.s = x.node
             JOIN kp{r} y ON e.d = y.node)"""
        )
    peel_sql = ",\n    ".join(peel)
    return f"""
    WITH {_TRADE_PAIRS},
    upair AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                     SUM(cnt) AS ucnt
              FROM pair GROUP BY 1, 2),
    utot AS (SELECT COUNT(*) AS np, SUM(ucnt) AS tc FROM upair),
    ue AS (SELECT a, b FROM upair, utot WHERE ucnt * np > tc),
    de AS (SELECT a, b FROM ue UNION ALL SELECT b, a FROM ue),
    e0 AS (SELECT a AS s, b AS d FROM de),
    {peel_sql}
    SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS deg
    FROM e{rounds} GROUP BY 1 HAVING COUNT(*) >= {k}
    ORDER BY node
"""


ORACLES["nation_trade_kcore"] = _kcore_oracle_sql(2, 4)

# Weighted median: the unambiguous cumulative-weight definition — the
# running SUM(weight) window's RANGE frame includes ties, matching
# "smallest v with total weight of values <= v reaching k".
ORACLES["quantity_weighted_median_price"] = """
    WITH w AS (
      SELECT CAST(l_extendedprice AS DOUBLE) AS v,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND CAST(l_quantity AS BIGINT) != 0),
    tot AS (SELECT CAST(SUM(wt) AS BIGINT) AS tw FROM w),
    kk AS (SELECT (tw + 1) // 2 AS k, tw FROM tot),
    c AS (SELECT v, SUM(wt) OVER (ORDER BY v) AS cum FROM w)
    SELECT v AS wmedian_price, kk.k, kk.tw AS total_weight
    FROM c, kk WHERE cum >= kk.k
    ORDER BY v LIMIT 1
"""

# Weekday seasonality: exact decimal revenue + squared sums, then the
# corr/OLS finalizer (one double cast per exact sum, c.r. steps,
# greatest(var, 0) guard) and a 7-row window total for the share.
ORACLES["weekday_revenue_seasonality"] = """
    WITH per AS (
      SELECT dayofweek(o_orderdate) AS weekday,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS revenue,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))
                 * CAST(o_totalprice AS DECIMAL(18,2))) AS s2
      FROM orders GROUP BY 1),
    t AS (SELECT *, SUM(revenue) OVER () AS total FROM per)
    SELECT weekday, n_orders,
           CAST(revenue AS DOUBLE) AS revenue,
           CAST(revenue AS DOUBLE) / CAST(n_orders AS DOUBLE) AS mean_price,
           sqrt(greatest(
             CAST(s2 AS DOUBLE) / CAST(n_orders AS DOUBLE)
             - (CAST(revenue AS DOUBLE) / CAST(n_orders AS DOUBLE))
               * (CAST(revenue AS DOUBLE) / CAST(n_orders AS DOUBLE)),
             0.0)) AS std_price,
           CAST(revenue AS DOUBLE) / CAST(total AS DOUBLE) AS revenue_share
    FROM t ORDER BY weekday
"""

# Half-sample CI: md5-parity membership per (orderkey, replica),
# exact decimal replica sums, one c.r. division per mean, row_number
# percentile picks over the 64-row frame.
ORACLES["revenue_half_sample_ci"] = """
    WITH b AS (SELECT unnest(generate_series(0, 63)) AS b),
    kept AS (
      SELECT b.b, o_totalprice
      FROM orders, b
      WHERE CAST('0x' || substring(md5(
              CAST(o_orderkey AS VARCHAR) || '|' || CAST(b.b AS VARCHAR)
            ), 1, 8) AS BIGINT) % 2 = 0),
    means AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mean_b
      FROM kept GROUP BY b),
    r AS (SELECT mean_b,
            row_number() OVER (ORDER BY mean_b, b) AS rn FROM means),
    picks AS (SELECT MAX(CASE WHEN rn = 2 THEN mean_b END) AS ci_lo,
                     MAX(CASE WHEN rn = 63 THEN mean_b END) AS ci_hi
              FROM r),
    f AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
              / CAST(COUNT(*) AS DOUBLE) AS mean_full
          FROM orders)
    SELECT CAST(64 AS INT) AS replicas, n, mean_full, ci_lo, ci_hi
    FROM f, picks
"""

# Golden records: the fuzzy blocking + levenshtein pairs (the
# fuzzy_name_match_pairs oracle) closed by a recursive CTE (the
# entity_resolution pattern), singleton spine via COALESCE, then
# arg_max survivorship with the SAME null-gating CASE as max_by.
ORACLES["golden_customer_records"] = """
    WITH RECURSIVE
    base AS (
      SELECT c_custkey AS id, lower(trim(c_name)) AS name FROM customer),
    g AS (
      SELECT id, unnest(list_distinct(list_transform(
                 generate_series(1, greatest(length(name) - 2, 1)),
                 i -> substr(name, i, 3)))) AS gram
      FROM base),
    live AS (SELECT gram FROM g GROUP BY gram
             HAVING COUNT(*) BETWEEN 2 AND 100),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM g a JOIN live USING (gram) JOIN g b USING (gram)
      WHERE a.id < b.id),
    pairs AS (
      SELECT id_a, id_b FROM cand
      JOIN base na ON na.id = id_a
      JOIN base nb ON nb.id = id_b
      WHERE levenshtein(na.name, nb.name) <= 1),
    e AS (SELECT id_a AS src, id_b AS dst FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
    reach(id, r) AS (
      SELECT src, src FROM e
      UNION
      SELECT e.src, reach.r FROM e JOIN reach ON reach.id = e.dst),
    cc AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id),
    seeded AS (
      SELECT c_custkey, c_name,
             CASE WHEN c_custkey % 7 != 0 THEN c_acctbal END AS c_acctbal,
             c_mktsegment,
             COALESCE(cc.cluster, c_custkey) AS cluster
      FROM customer LEFT JOIN cc ON cc.id = c_custkey)
    SELECT cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           MAX(c_custkey) AS golden_key,
           arg_max(c_name,
                   CASE WHEN c_name IS NOT NULL THEN c_custkey END)
             AS golden_c_name,
           arg_max(c_acctbal,
                   CASE WHEN c_acctbal IS NOT NULL THEN c_custkey END)
             AS golden_c_acctbal,
           arg_max(c_mktsegment,
                   CASE WHEN c_mktsegment IS NOT NULL THEN c_custkey END)
             AS golden_c_mktsegment
    FROM seeded
    GROUP BY cluster
    ORDER BY cluster
"""

# FD audit: the same null-sentinel keys (chr(31) separator, chr(0)
# null stand-in — the dp key recipe) so both engines count the same
# distinct sets; violations = n_pairs - n_lhs.
ORACLES["orders_fd_audit"] = """
    WITH o AS (SELECT *, year(o_orderdate) AS o_orderyear FROM orders),
    c1 AS (SELECT 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
             CAST(COUNT(DISTINCT md5(COALESCE('v' || CAST(o_orderkey AS VARCHAR), 'n'))) AS BIGINT) AS n_lhs,
             CAST(COUNT(DISTINCT (md5(COALESCE('v' || CAST(o_orderkey AS VARCHAR), 'n'))
               || md5(COALESCE('v' || CAST(o_custkey AS VARCHAR), 'n')))) AS BIGINT) AS n_pairs
           FROM o),
    c2 AS (SELECT 'o_orderdate', 'o_orderyear',
             CAST(COUNT(DISTINCT md5(COALESCE('v' || CAST(o_orderdate AS VARCHAR), 'n'))) AS BIGINT),
             CAST(COUNT(DISTINCT (md5(COALESCE('v' || CAST(o_orderdate AS VARCHAR), 'n'))
               || md5(COALESCE('v' || CAST(o_orderyear AS VARCHAR), 'n')))) AS BIGINT)
           FROM o),
    c3 AS (SELECT 'o_custkey', 'o_orderpriority',
             CAST(COUNT(DISTINCT md5(COALESCE('v' || CAST(o_custkey AS VARCHAR), 'n'))) AS BIGINT),
             CAST(COUNT(DISTINCT (md5(COALESCE('v' || CAST(o_custkey AS VARCHAR), 'n'))
               || md5(COALESCE('v' || CAST(o_orderpriority AS VARCHAR), 'n')))) AS BIGINT)
           FROM o),
    c4 AS (SELECT 'o_orderpriority', 'o_orderstatus',
             CAST(COUNT(DISTINCT md5(COALESCE('v' || CAST(o_orderpriority AS VARCHAR), 'n'))) AS BIGINT),
             CAST(COUNT(DISTINCT (md5(COALESCE('v' || CAST(o_orderpriority AS VARCHAR), 'n'))
               || md5(COALESCE('v' || CAST(o_orderstatus AS VARCHAR), 'n')))) AS BIGINT)
           FROM o),
    u AS (SELECT * FROM c1 UNION ALL SELECT * FROM c2
          UNION ALL SELECT * FROM c3 UNION ALL SELECT * FROM c4)
    SELECT lhs, rhs, n_lhs, n_pairs,
           n_pairs - n_lhs AS violations,
           n_pairs = n_lhs AS holds
    FROM u ORDER BY lhs, rhs
"""

# Join-size estimate: same md5 hash buckets, same per-bucket Selinger
# containment formula in integer arithmetic, actual from the real
# join.
ORACLES["orders_customer_join_estimate"] = """
    WITH lb AS (
      SELECT CAST(CAST('0x' || substring(md5(CAST(o_custkey AS VARCHAR)),
                 1, 8) AS BIGINT) % 64 AS INT) AS b,
             o_custkey
      FROM orders WHERE o_custkey IS NOT NULL),
    rb AS (
      SELECT CAST(CAST('0x' || substring(md5(CAST(c_custkey AS VARCHAR)),
                 1, 8) AS BIGINT) % 64 AS INT) AS b,
             c_custkey
      FROM customer WHERE c_custkey IS NOT NULL),
    ls AS (SELECT b, COUNT(*) AS n1, COUNT(DISTINCT o_custkey) AS d1
           FROM lb GROUP BY 1),
    rs AS (SELECT b, COUNT(*) AS n2, COUNT(DISTINCT c_custkey) AS d2
           FROM rb GROUP BY 1),
    est AS (SELECT CAST(SUM((n1 * n2) // greatest(d1, d2, 1)) AS BIGINT)
              AS est_rows
            FROM ls JOIN rs USING (b)),
    act AS (SELECT CAST(COUNT(*) AS BIGINT) AS actual_rows
            FROM orders JOIN customer ON o_custkey = c_custkey
            WHERE o_custkey IS NOT NULL),
    sz AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_left,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM customer) AS n_right)
    SELECT CAST(64 AS INT) AS buckets, est_rows, actual_rows,
           n_left, n_right
    FROM est, act, sz
"""

# OHLC bars: DuckDB's arg_min/arg_max reject struct ordering keys, so
# the oracle replays the same (ts, event_id) total order with two
# row_number windows (first/last per hour) — an INDEPENDENT plan shape
# for the same definition, which is the stronger check anyway.
ORACLES["hourly_value_ohlc"] = """
    WITH r AS (
      SELECT date_trunc('hour', ts) AS ws, value,
             row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts, event_id) AS rf,
             row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY ts DESC, event_id DESC) AS rl
      FROM events)
    SELECT ws AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(CASE WHEN rf = 1 THEN value END) AS open,
           MAX(CASE WHEN rl = 1 THEN value END) AS close,
           MAX(value) AS high,
           MIN(value) AS low
    FROM r GROUP BY ws ORDER BY ws
"""


# --- r09 additions ----------------------------------------------------

# Quantized DSIR replay: same md5 bucket map, same dense 256-bucket
# spine, same exact integer grid index ((c+1)*1024 // (N+256)), the
# SAME frozen DECIMAL(14,12) ln LUT literals, the same decimal
# tf*(lnp_t - lnp_r) sum, one final cast to DOUBLE.
def _dsir_oracle_sql() -> str:
    lut = _laplace_lut_sql()
    model = """
    {name}_cnt AS (
      SELECT s.bucket, COALESCE(x.c, 0) AS c
      FROM spine s LEFT JOIN (
        SELECT bucket, CAST(SUM(tf) AS BIGINT) AS c
        FROM {src} GROUP BY 1) x USING (bucket)),
    {name}_tot AS (SELECT CAST(SUM(c) + 256 AS BIGINT) AS t
                   FROM {name}_cnt),
    {name}_model AS (
      SELECT bucket,
             {lut}[least(1023, ((c + 1) * 1024) // t) + 1] AS lnp_{name}
      FROM {name}_cnt, {name}_tot)"""
    return f"""
    WITH terms AS (SELECT doc_id, unnest({_TOKS}) AS term FROM documents),
    tc AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    db AS (SELECT doc_id,
             CAST(CAST('0x' || substring(md5(term), 1, 8) AS BIGINT)
                  % 256 AS INT) AS bucket,
             CAST(SUM(tf) AS BIGINT) AS tf
           FROM tc GROUP BY 1, 2),
    eterms AS (SELECT doc_id, unnest({_TOKS}) AS term
               FROM documents WHERE lang = 'en'),
    etc AS (SELECT doc_id, term, COUNT(*) AS tf FROM eterms GROUP BY 1, 2),
    edb AS (SELECT doc_id,
              CAST(CAST('0x' || substring(md5(term), 1, 8) AS BIGINT)
                   % 256 AS INT) AS bucket,
              CAST(SUM(tf) AS BIGINT) AS tf
            FROM etc GROUP BY 1, 2),
    spine AS (SELECT unnest(generate_series(0, 255)) AS bucket),
    {model.format(name='t', src='edb', lut=lut)},
    {model.format(name='r', src='db', lut=lut)}
    SELECT db.doc_id,
           CAST(SUM(tf) AS BIGINT) AS n_tokens,
           CAST(CAST(SUM(CAST(tf AS DECIMAL(20,0)) * (lnp_t - lnp_r))
                AS DECIMAL(38,12)) AS DOUBLE) AS log_weight
    FROM db
    JOIN t_model USING (bucket)
    JOIN r_model USING (bucket)
    GROUP BY 1 ORDER BY doc_id
"""


ORACLES["dsir_en_importance_weights"] = _dsir_oracle_sql()

# Greedy max-coverage replay: the same 5 rounds unrolled as CTEs —
# argmax (count desc, doc_id asc) over tokens not yet covered, covered
# set grown per round.  Exact integers throughout.
ORACLES["greedy_coverage_docs"] = f"""
    WITH dt AS (SELECT DISTINCT doc_id, unnest({_TOKS}) AS term
                FROM documents),
    s1 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g
           FROM dt GROUP BY 1 ORDER BY g DESC, doc_id LIMIT 1),
    c1 AS (SELECT DISTINCT term FROM dt
           WHERE doc_id = (SELECT doc_id FROM s1)),
    s2 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g
           FROM dt WHERE term NOT IN (SELECT term FROM c1)
           GROUP BY 1 ORDER BY g DESC, doc_id LIMIT 1),
    c2 AS (SELECT term FROM c1 UNION
           SELECT term FROM dt WHERE doc_id = (SELECT doc_id FROM s2)),
    s3 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g
           FROM dt WHERE term NOT IN (SELECT term FROM c2)
           GROUP BY 1 ORDER BY g DESC, doc_id LIMIT 1),
    c3 AS (SELECT term FROM c2 UNION
           SELECT term FROM dt WHERE doc_id = (SELECT doc_id FROM s3)),
    s4 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g
           FROM dt WHERE term NOT IN (SELECT term FROM c3)
           GROUP BY 1 ORDER BY g DESC, doc_id LIMIT 1),
    c4 AS (SELECT term FROM c3 UNION
           SELECT term FROM dt WHERE doc_id = (SELECT doc_id FROM s4)),
    s5 AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS g
           FROM dt WHERE term NOT IN (SELECT term FROM c4)
           GROUP BY 1 ORDER BY g DESC, doc_id LIMIT 1),
    c5 AS (SELECT term FROM c4 UNION
           SELECT term FROM dt WHERE doc_id = (SELECT doc_id FROM s5))
    SELECT * FROM (
      SELECT 1 AS round, doc_id, g AS gain,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS covered_total
      FROM s1
      UNION ALL
      SELECT 2, doc_id, g,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c2) FROM s2
      UNION ALL
      SELECT 3, doc_id, g,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c3) FROM s3
      UNION ALL
      SELECT 4, doc_id, g,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c4) FROM s4
      UNION ALL
      SELECT 5, doc_id, g,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM c5) FROM s5
    ) ORDER BY round
"""


# ES weighted reservoir replay: same md5 u-map, same exact integer
# grid index, same frozen ln LUT, ONE c.r. double division per key,
# same (key DESC, id ASC) top-40.
ORACLES["weighted_reservoir_docs"] = f"""
    WITH w AS (
      SELECT doc_id,
             CAST(length({_TOKS}) AS BIGINT) AS weight
      FROM documents),
    keyed AS (
      SELECT doc_id, weight,
             CAST({_laplace_lut_sql()}[
                    CAST((1024 * CAST('0x' || substring(md5(
                        CAST(doc_id AS VARCHAR) || ':wres'), 1, 8)
                      AS BIGINT) + 512) // 4294967296 AS INT) + 1]
                  AS DOUBLE) / CAST(weight AS DOUBLE) AS sample_key
      FROM w WHERE weight > 0)
    SELECT doc_id AS sample_id, weight, sample_key
    FROM keyed ORDER BY sample_key DESC, sample_id LIMIT 40
"""

# Neyman allocation replay: exact decimal moments, the corr/OLS double
# chain, DECIMAL(28,6) re-quantization before the across-strata total,
# identical largest-remainder rounding.
ORACLES["segment_sample_allocation"] = """
    WITH per AS (
      SELECT c_mktsegment AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             SUM(CAST(c_acctbal AS DECIMAL(24,2))) AS s1,
             SUM(CAST(c_acctbal AS DECIMAL(24,2))
                 * CAST(c_acctbal AS DECIMAL(24,2))) AS s2
      FROM customer WHERE c_acctbal IS NOT NULL GROUP BY 1),
    m AS (
      SELECT stratum, n_rows,
             sqrt(greatest(
               CAST(s2 AS DOUBLE) / CAST(n_rows AS DOUBLE)
               - (CAST(s1 AS DOUBLE) / CAST(n_rows AS DOUBLE))
                 * (CAST(s1 AS DOUBLE) / CAST(n_rows AS DOUBLE)),
               0.0)) AS std
      FROM per),
    q AS (SELECT *,
            CAST(CAST(n_rows AS DOUBLE) * std AS DECIMAL(28,6)) AS nhsh
          FROM m),
    sh AS (SELECT *,
             -- all-zero-std fallback mirrors the Spark side:
             -- proportional-to-size when the Neyman total vanishes
             CASE WHEN SUM(nhsh) OVER () = 0
                  THEN CAST(n_rows AS DOUBLE)
                       / CAST(SUM(n_rows) OVER () AS DOUBLE)
                  ELSE CAST(nhsh AS DOUBLE)
                       / CAST(SUM(nhsh) OVER () AS DOUBLE)
             END AS alloc_share
           FROM q),
    b AS (SELECT *,
            CAST(floor(1000.0 * alloc_share) AS BIGINT) AS base,
            1000.0 * alloc_share
              - CAST(floor(1000.0 * alloc_share) AS DOUBLE) AS rem
          FROM sh),
    r AS (SELECT *,
            1000 - SUM(base) OVER () AS leftover,
            row_number() OVER (ORDER BY rem DESC, stratum) AS rk
          FROM b)
    SELECT stratum, n_rows, std, alloc_share,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS n_alloc
    FROM r ORDER BY stratum
"""


# Isotonic calibration by the MINIMAX characterization — an
# independent algorithm from the Spark side's PAVA (equal as
# rationals; equal as doubles because c.r. division of the same
# rational gives the same double).  Margins replayed via the shared
# langid scorer CTEs.
def _isotonic_oracle_sql() -> str:
    ctes, _ = _langid_scorer_ctes()
    return f"""
    WITH {ctes},
    sc AS (SELECT d.doc_id, COALESCE(m.s_en, 0) AS score,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
           FROM documents d LEFT JOIN m USING (doc_id)),
    r AS (SELECT *, row_number() OVER (ORDER BY score, doc_id) AS rn,
            COUNT(*) OVER () AS total
          FROM sc),
    binned AS (SELECT CAST(((rn - 1) * 16) // total AS INT) AS bin,
                 score, y FROM r),
    per AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(y) AS BIGINT) AS pos,
              MIN(score) AS lo_score, MAX(score) AS hi_score
            FROM binned GROUP BY 1),
    seg AS (SELECT a.bin AS k, b.bin AS j FROM per a JOIN per b
            ON a.bin <= b.bin),
    mu AS (SELECT seg.k, seg.j,
             CAST(SUM(c.pos) AS DOUBLE) / CAST(SUM(c.n) AS DOUBLE) AS mu
           FROM seg JOIN per c ON c.bin BETWEEN seg.k AND seg.j
           GROUP BY 1, 2),
    mm AS (SELECT mu.k, p.bin AS i, MIN(mu.mu) AS lo
           FROM mu JOIN per p ON mu.j >= p.bin AND mu.k <= p.bin
           GROUP BY 1, 2),
    iso AS (SELECT i AS bin, MAX(lo) AS iso_rate FROM mm GROUP BY 1)
    SELECT per.bin, n, pos, lo_score, hi_score,
           CAST(pos AS DOUBLE) / CAST(n AS DOUBLE) AS rate,
           iso_rate
    FROM per JOIN iso USING (bin) ORDER BY per.bin
"""


ORACLES["langid_margin_calibration"] = _isotonic_oracle_sql()


# Bidelta IVM: the oracle computes the NEW view's aggregate DIRECTLY
# from the post-change snapshots — maintenance ≡ recompute, the
# independent-derivation check (the Spark side never materializes the
# new view; it merges old state with four signed delta joins).
ORACLES["incremental_join_revenue_bidelta"] = """
    WITH a_new AS (
      SELECT * FROM orders
      WHERE o_orderkey % 101 = 0
         OR (o_orderkey % 101 <> 0 AND o_orderkey % 89 <> 0)),
    b_new AS (
      SELECT * FROM customer
      WHERE c_custkey % 97 = 0
         OR (c_custkey % 97 <> 0 AND c_custkey % 83 <> 0))
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2)
                AS DOUBLE) AS revenue
    FROM a_new JOIN b_new ON o_custkey = c_custkey
    GROUP BY 1 ORDER BY c_nationkey
"""


# U-shaped attribution replay: identical (ts, event_id) path order,
# identical fixed credit chain, identical DECIMAL(18,12) quantization
# before the order-independent rollup.
ORACLES["attribution_credit_by_type"] = """
    WITH p AS (
      SELECT event_type,
             COUNT(*) OVER (PARTITION BY user_id) AS n,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events),
    c AS (
      SELECT event_type,
             CAST(CASE WHEN n = 1 THEN 1.0
                       WHEN rn = 1 OR rn = n THEN
                            CASE WHEN n = 2 THEN 0.5 ELSE 0.4 END
                       ELSE 0.2 / CAST(n - 2 AS DOUBLE)
                  END AS DECIMAL(18,12)) AS credit
      FROM p)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(CAST(SUM(credit) AS DECIMAL(38,12)) AS DOUBLE) AS credit
    FROM c GROUP BY 1 ORDER BY event_type
"""


# Bitemporal snapshots replayed with row_number windows (independent
# of the Spark side's max_by(struct) aggregation), same deterministic
# late-record seeding, same (valid_from, event_id) tie order.
ORACLES["bitemporal_user_state"] = """
    WITH base AS (
      SELECT user_id, ts AS valid_from, event_id, value,
             CASE WHEN event_id % 7 = 0
                  THEN ts + INTERVAL 4 HOUR ELSE ts END AS txn_ts
      FROM events
      WHERE ts <= TIMESTAMP '2024-01-15 00:00:00'),
    s1 AS (
      SELECT user_id, value AS value_t1, valid_from AS from_t1
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY valid_from DESC, event_id DESC) AS rn
            FROM base
            WHERE txn_ts <= TIMESTAMP '2024-01-15 00:00:00')
      WHERE rn = 1),
    s2 AS (
      SELECT user_id, value AS value_t2, valid_from AS from_t2
      FROM (SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY valid_from DESC, event_id DESC) AS rn
            FROM base
            WHERE txn_ts <= TIMESTAMP '2024-01-15 06:00:00')
      WHERE rn = 1)
    SELECT s1.user_id, value_t1, from_t1, value_t2, from_t2,
           (value_t1 <> value_t2 OR from_t1 <> from_t2) AS revised
    FROM s1 JOIN s2 USING (user_id)
    ORDER BY s1.user_id
"""


# Greedy k-center unrolled: every round re-derives its center from
# the previous argmax inside SQL; distances rounded to 6 decimals
# before min/argmax (the knn float recipe) so fold-order ulps never
# reach a comparison.
ORACLES["kcenter_coreset_vectors"] = """
    WITH c1 AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
    d2 AS (SELECT e.vec_id, round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c1.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c1.v[i] AS DOUBLE)))), 6) AS d
           FROM embeddings e, c1),
    s2 AS (SELECT vec_id, d FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
    c2 AS (SELECT embedding AS v FROM embeddings WHERE vec_id = (SELECT vec_id FROM s2)),
    d3 AS (SELECT e.vec_id, least(round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c1.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c1.v[i] AS DOUBLE)))), 6), round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c2.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c2.v[i] AS DOUBLE)))), 6)) AS d
           FROM embeddings e, c1, c2),
    s3 AS (SELECT vec_id, d FROM d3 ORDER BY d DESC, vec_id LIMIT 1),
    c3 AS (SELECT embedding AS v FROM embeddings WHERE vec_id = (SELECT vec_id FROM s3)),
    d4 AS (SELECT e.vec_id, least(round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c1.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c1.v[i] AS DOUBLE)))), 6), round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c2.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c2.v[i] AS DOUBLE)))), 6), round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c3.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c3.v[i] AS DOUBLE)))), 6)) AS d
           FROM embeddings e, c1, c2, c3),
    s4 AS (SELECT vec_id, d FROM d4 ORDER BY d DESC, vec_id LIMIT 1),
    c4 AS (SELECT embedding AS v FROM embeddings WHERE vec_id = (SELECT vec_id FROM s4)),
    d5 AS (SELECT e.vec_id, least(round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c1.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c1.v[i] AS DOUBLE)))), 6), round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c2.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c2.v[i] AS DOUBLE)))), 6), round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c3.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c3.v[i] AS DOUBLE)))), 6), round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c4.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c4.v[i] AS DOUBLE)))), 6)) AS d
           FROM embeddings e, c1, c2, c3, c4),
    s5 AS (SELECT vec_id, d FROM d5 ORDER BY d DESC, vec_id LIMIT 1),
    c5 AS (SELECT embedding AS v FROM embeddings WHERE vec_id = (SELECT vec_id FROM s5)),
    d6 AS (SELECT e.vec_id, least(round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c1.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c1.v[i] AS DOUBLE)))), 6), round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c2.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c2.v[i] AS DOUBLE)))), 6), round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c3.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c3.v[i] AS DOUBLE)))), 6), round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c4.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c4.v[i] AS DOUBLE)))), 6), round(list_sum(list_transform(generate_series(1, 64), i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c5.v[i] AS DOUBLE)) * (CAST(e.embedding[i] AS DOUBLE) - CAST(c5.v[i] AS DOUBLE)))), 6)) AS d
           FROM embeddings e, c1, c2, c3, c4, c5),
    s6 AS (SELECT vec_id, d FROM d6 ORDER BY d DESC, vec_id LIMIT 1)
    SELECT 1 AS round, CAST(0 AS BIGINT) AS vec_id, CAST(NULL AS DOUBLE) AS radius
    UNION ALL SELECT 2, vec_id, d FROM s2
    UNION ALL SELECT 3, vec_id, d FROM s3
    UNION ALL SELECT 4, vec_id, d FROM s4
    UNION ALL SELECT 5, vec_id, d FROM s5
    UNION ALL SELECT 6, vec_id, d FROM s6
    ORDER BY round
"""


# CUSUM replay: identical daily micro-scaled BIGINT series, identical
# scaled fold via list_reduce with a struct accumulator (the EWMA
# list_reduce pattern on exact integers), one c.r. double division for
# the released final value.
ORACLES["event_value_cusum_alarms"] = """
    WITH daily AS (
      SELECT event_type, date_trunc('day', ts) AS bucket,
             CAST(CAST(SUM(CAST(value AS DECIMAL(38,6))) * 1000000
                  AS DECIMAL(38,0)) AS BIGINT) AS xq
      FROM events GROUP BY 1, 2),
    s AS (
      SELECT event_type,
             list_transform(
               list_sort(list(struct_pack(b := bucket, x := xq))),
               r -> r.x) AS xs
      FROM daily GROUP BY 1),
    g AS (
      SELECT event_type,
             CAST(len(xs) AS BIGINT) AS n,
             CAST(list_sum(xs) AS BIGINT) AS total,
             -- pack-factor guard, mirroring the Spark-side raise: a
             -- series of >= 2048 buckets would overflow the packed
             -- alarm counter into S'
             CASE WHEN len(xs) >= 2048
                  THEN error('cusum: series length >= pack factor 2048')
                  ELSE xs END AS xs
      FROM s),
    -- packed-BIGINT accumulator (S*2048 + alarms): DuckDB 1.0's
    -- list_reduce mis-evaluates the second field of a STRUCT
    -- accumulator when the lambda references correlated columns (the
    -- s branch folds right, the a branch sees stale values — found
    -- building this oracle), so both engines fold the identical
    -- packed-integer recursion instead.
    f AS (
      SELECT event_type, n,
             list_reduce(
               [CAST(0 AS BIGINT)] || xs,
               (acc, x) -> greatest(CAST(0 AS BIGINT),
                             (acc - acc % 2048) // 2048 + n * x - total)
                           * 2048 + acc % 2048
                           + CASE WHEN greatest(CAST(0 AS BIGINT),
                                    (acc - acc % 2048) // 2048
                                    + n * x - total)
                                  > n * CAST(1000000000 AS BIGINT)
                             THEN 1 ELSE 0 END) AS st
      FROM g)
    SELECT event_type, n AS n_buckets,
           CAST(st % 2048 AS BIGINT) AS n_alarms,
           CAST((st - st % 2048) // 2048 AS DOUBLE)
             / CAST(n * 1000000 AS DOUBLE) AS cusum_final
    FROM f ORDER BY event_type
"""


# OOV replay: same tokenization, same (count DESC, term ASC) top-1000
# vocabulary cut, same membership test and one c.r. division.
ORACLES["oov_rate_by_source"] = f"""
    WITH toks AS (SELECT source, unnest({_TOKS}) AS term FROM documents),
    vocab AS (
      SELECT term FROM (
        SELECT term, COUNT(*) AS c FROM toks GROUP BY 1
        ORDER BY c DESC, term LIMIT 1000)),
    flagged AS (
      SELECT source,
             CASE WHEN term IN (SELECT term FROM vocab)
                  THEN 0 ELSE 1 END AS oov
      FROM toks)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM flagged GROUP BY 1 ORDER BY source
"""


# Z-order locality replay: identical exact integer binning, identical
# 4-bit Morton interleave via shift/mask arithmetic, identical span
# aggregation; one c.r. division per released average.
ORACLES["zorder_locality_report"] = """
    WITH base AS (
      SELECT CAST(o_custkey AS BIGINT) AS ck,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
      FROM orders),
    st AS (SELECT MIN(ck) AS ck_min, MAX(ck) - MIN(ck) + 1 AS ck_rng,
                  MIN(pc) AS pc_min, MAX(pc) - MIN(pc) + 1 AS pc_rng
           FROM base),
    binned AS (
      SELECT ((ck - ck_min) * 16) // ck_rng AS bx,
             ((pc - pc_min) * 16) // pc_rng AS by
      FROM base, st),
    coded AS (SELECT bx, by, (((bx >> 0) & 1) << 0) + (((by >> 0) & 1) << 1) + (((bx >> 1) & 1) << 2) + (((by >> 1) & 1) << 3) + (((bx >> 2) & 1) << 4) + (((by >> 2) & 1) << 5) + (((bx >> 3) & 1) << 6) + (((by >> 3) & 1) << 7) AS z FROM binned),
    zper AS (SELECT z // 16 AS b,
               MAX(bx) - MIN(bx) + 1 AS sx, MAX(by) - MIN(by) + 1 AS sy
             FROM coded GROUP BY 1),
    lper AS (SELECT bx AS b,
               MAX(bx) - MIN(bx) + 1 AS sx, MAX(by) - MIN(by) + 1 AS sy
             FROM coded GROUP BY 1),
    zrep AS (SELECT 'zorder' AS scheme, CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(sx) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_span_x,
               CAST(SUM(sy) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_span_y,
               CAST(SUM(sx * sy) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_box
             FROM zper),
    lrep AS (SELECT 'lexicographic' AS scheme,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(SUM(sx) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_span_x,
               CAST(SUM(sy) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_span_y,
               CAST(SUM(sx * sy) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_box
             FROM lper)
    SELECT * FROM lrep UNION ALL SELECT * FROM zrep
    ORDER BY scheme
"""


# Modularity: the SAME unrolled LPA rounds as nation_trade_communities,
# then per-community integer modularity arithmetic with one c.r.
# division per contribution.
_LPA_GRAPH_CTES = f"""
    WITH {_TRADE_PAIRS},
    upair AS (SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                     SUM(cnt) AS ucnt
              FROM pair GROUP BY 1, 2),
    utot AS (SELECT COUNT(*) AS np, SUM(ucnt) AS tc FROM upair),
    ue AS (SELECT a, b FROM upair, utot WHERE ucnt * np > tc),
    de AS (SELECT a, b FROM ue UNION ALL SELECT b, a FROM ue),
    l0 AS (SELECT node, node AS label FROM (
             SELECT a AS node FROM de GROUP BY 1) n)"""

ORACLES["trade_community_modularity"] = (
    _LPA_GRAPH_CTES
    + "".join(
        _LPA_ROUND_SQL.format(i=i, j=i - 1) for i in range(1, _LPA_ROUNDS + 1)
    )
    + f""",
    lab AS (SELECT node, label FROM l{_LPA_ROUNDS}),
    deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM de GROUP BY 1),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM ue),
    perc AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(deg) AS BIGINT) AS degree_sum
             FROM deg JOIN lab USING (node) GROUP BY 1),
    ein AS (SELECT la.label, CAST(COUNT(*) AS BIGINT) AS e_in
            FROM ue JOIN lab la ON ue.a = la.node
                    JOIN lab lb ON ue.b = lb.node
            WHERE la.label = lb.label GROUP BY 1)
    SELECT p.label, n_nodes,
           CAST(COALESCE(e_in, 0) AS BIGINT) AS internal_edges,
           degree_sum,
           CAST(4 * m * COALESCE(e_in, 0) - degree_sum * degree_sum
                AS DOUBLE)
             / CAST(4 * m * m AS DOUBLE) AS contribution
    FROM perc p LEFT JOIN ein USING (label), mm
    ORDER BY p.label
"""
)

# Assortativity: identical exact integer moments + the corr finalizer.
ORACLES["trade_degree_assortativity"] = (
    _LPA_GRAPH_CTES
    + """,
    deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM de GROUP BY 1),
    e AS (SELECT d1.deg AS dx, d2.deg AS dy
          FROM de JOIN deg d1 ON de.a = d1.node
                  JOIN deg d2 ON de.b = d2.node),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
              CAST(SUM(dx) AS BIGINT) AS sx,
              CAST(SUM(dy) AS BIGINT) AS sy,
              CAST(SUM(dx * dy) AS BIGINT) AS sxy,
              CAST(SUM(dx * dx) AS BIGINT) AS sxx,
              CAST(SUM(dy * dy) AS BIGINT) AS syy
            FROM e)
    SELECT n_edges,
           (CAST(sxy AS DOUBLE) / CAST(n_edges AS DOUBLE)
            - (CAST(sx AS DOUBLE) / CAST(n_edges AS DOUBLE))
              * (CAST(sy AS DOUBLE) / CAST(n_edges AS DOUBLE)))
           / sqrt(greatest(CAST(sxx AS DOUBLE) / CAST(n_edges AS DOUBLE)
                  - (CAST(sx AS DOUBLE) / CAST(n_edges AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / CAST(n_edges AS DOUBLE)), 0.0)
                  * greatest(CAST(syy AS DOUBLE) / CAST(n_edges AS DOUBLE)
                  - (CAST(sy AS DOUBLE) / CAST(n_edges AS DOUBLE))
                    * (CAST(sy AS DOUBLE) / CAST(n_edges AS DOUBLE)), 0.0))
             AS assortativity
    FROM agg
"""
)


# Quantile normalization: identical total orders via row_number,
# identical integer ceil formula, identical every-25th sampling.
ORACLES["doc_length_quantile_norm"] = """
    WITH d AS (SELECT doc_id, source, CAST(n_chars AS BIGINT) AS raw
               FROM documents),
    pooled AS (SELECT *, row_number() OVER (ORDER BY raw, doc_id)
                 AS grank FROM d),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS N FROM d),
    ranked AS (SELECT p.*, N,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY raw, doc_id) AS srank,
                 COUNT(*) OVER (PARTITION BY source) AS sn
               FROM pooled p, nn),
    t AS (SELECT doc_id, source, raw, grank,
            (srank * N + sn - 1) // sn AS target
          FROM ranked),
    lk AS (SELECT grank AS target, raw AS normalized FROM pooled)
    SELECT doc_id, source, raw, normalized
    FROM t JOIN lk USING (target)
    WHERE grank % 25 = 0
    ORDER BY grank
"""


def _confusion_oracle_sql() -> str:
    ctes, case_arms = _langid_scorer_ctes()
    return f"""
    WITH {ctes},
    pred AS (SELECT d.doc_id, d.lang,
               CASE WHEN m.doc_id IS NULL THEN 'und'
                {case_arms}
                END AS lang_pred
             FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id),
    cells AS (SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
              FROM pred GROUP BY 1, 2)
    SELECT lang, lang_pred, n,
           CAST(n AS DOUBLE)
             / CAST(SUM(n) OVER (PARTITION BY lang) AS DOUBLE)
             AS frac_of_true
    FROM cells ORDER BY lang, lang_pred
"""


ORACLES["langid_confusion_matrix"] = _confusion_oracle_sql()


# PMI collocations: identical top-100 vocabulary cut, bounded pair
# join, identical 1024-grid quantized ln's from the frozen LUT.
ORACLES["term_pmi_collocations"] = f"""
    WITH dt AS (SELECT DISTINCT doc_id, unnest({_TOKS}) AS term
                FROM documents),
    vocab AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df
              FROM dt GROUP BY 1 ORDER BY df DESC, term LIMIT 100),
    iv AS (SELECT dt.doc_id, dt.term, v.df
           FROM dt JOIN vocab v USING (term)),
    pairs AS (
      SELECT a.term AS term_a, b.term AS term_b,
             CAST(COUNT(*) AS BIGINT) AS n_xy,
             MAX(a.df) AS df_x, MAX(b.df) AS df_y
      FROM iv a JOIN iv b ON a.doc_id = b.doc_id AND a.term < b.term
      GROUP BY 1, 2 HAVING COUNT(*) >= 5),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT term_a, term_b, n_xy,
           CAST({_laplace_lut_sql()}[least(1023, (n_xy * 1024) // n) + 1]
                - {_laplace_lut_sql()}[least(1023, (df_x * 1024) // n) + 1]
                - {_laplace_lut_sql()}[least(1023, (df_y * 1024) // n) + 1]
                AS DOUBLE) AS pmi
    FROM pairs, nd
    ORDER BY pmi DESC, term_a, term_b LIMIT 20
"""

# Benford audit: identical integer CASE ladder for the leading digit,
# identical frozen DECIMAL probability literals, identical c.r. chains.
def _benford_oracle_sql() -> str:
    from .queries import _BENFORD_P

    plist = ", ".join(f"CAST('{p}' AS DECIMAL(14,12))" for p in _BENFORD_P)
    arms = "\n             ".join(
        f"WHEN cents >= {10**k} THEN cents // {10**k}"
        for k in range(12, -1, -1)
    )
    return f"""
    WITH c AS (
      SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders),
    lead AS (
      -- positive magnitudes only, mirroring the Spark-side filter
      SELECT CAST(CASE {arms} ELSE 0 END AS INT) AS digit FROM c
      WHERE cents > 0),
    per AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS observed
            FROM lead GROUP BY 1),
    t AS (SELECT *, SUM(observed) OVER () AS n FROM per)
    SELECT digit, observed,
           CAST(n AS DOUBLE) * CAST([{plist}][digit] AS DOUBLE) AS expected,
           (CAST(observed AS DOUBLE)
              - CAST(n AS DOUBLE) * CAST([{plist}][digit] AS DOUBLE))
           * (CAST(observed AS DOUBLE)
              - CAST(n AS DOUBLE) * CAST([{plist}][digit] AS DOUBLE))
           / (CAST(n AS DOUBLE) * CAST([{plist}][digit] AS DOUBLE))
             AS chi2_term
    FROM t ORDER BY digit
"""


ORACLES["orders_benford_audit"] = _benford_oracle_sql()


# ------------------------------------------------------------------ r10
# lakehouse + training-export batch.

# Compaction plan replay: identical modeled monthly inventory (exact
# integer byte model), identical running-sum-before window over the
# bounded inventory, identical integral DIV binning.
_INV_BYTES = "40 + length(o_orderstatus) + length(o_orderpriority) + o_custkey % 32"

ORACLES["orders_compaction_plan"] = f"""
    WITH inv AS (
      SELECT date_trunc('month', o_orderdate) AS f,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM({_INV_BYTES}) AS BIGINT) AS b
      FROM orders GROUP BY 1),
    c AS (
      SELECT *, COALESCE(SUM(b) OVER (ORDER BY f
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS before
      FROM inv)
    SELECT CAST(before // 65536 AS BIGINT) AS out_bin,
           CAST(COUNT(*) AS BIGINT) AS n_input_files,
           CAST(SUM(b) AS BIGINT) AS total_bytes,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows
    FROM c GROUP BY 1 ORDER BY out_bin
"""

# Size histogram replay: floor(log2) as length(binary digits) − 1 on
# both sides (bin() here, conv base-2 there), one c.r. share division.
ORACLES["orders_file_size_histogram"] = f"""
    WITH inv AS (
      SELECT date_trunc('month', o_orderdate) AS f,
             CAST(SUM({_INV_BYTES}) AS BIGINT) AS b
      FROM orders GROUP BY 1),
    per AS (
      SELECT CAST(length(bin(b)) - 1 AS INT) AS log2_bytes,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(SUM(b) AS BIGINT) AS bucket_bytes
      FROM inv WHERE b > 0 GROUP BY 1)
    SELECT log2_bytes, n_files, bucket_bytes,
           CAST(bucket_bytes AS DOUBLE)
             / CAST(SUM(bucket_bytes) OVER () AS DOUBLE) AS byte_share
    FROM per ORDER BY log2_bytes
"""

# Zone-map skipping replay: identical per-file min/max inventories for
# both layouts, identical skip predicate, identical sweep-identity
# depth against the sorted endpoint lists.
def _zonemap_layout_sql(inv_cte: str, layout: str) -> str:
    return f"""
    SELECT '{layout}' AS layout,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN skip THEN 1 ELSE 0 END) AS BIGINT)
             AS n_skipped,
           CAST(SUM(CASE WHEN skip THEN 0 ELSE n_rows END) AS BIGINT)
             AS rows_scanned,
           CAST(SUM(n_rows) AS BIGINT) AS rows_total,
           CAST(SUM(depth) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS avg_overlap_depth,
           CAST(MAX(depth) AS BIGINT) AS max_overlap_depth
    FROM (
      SELECT i.n_rows,
             (i.zmax < TIMESTAMP '1998-01-01 00:00:00'
              OR i.zmin > TIMESTAMP '1998-03-31 23:59:59') AS skip,
             CAST(len(list_filter(e.mins, m -> m <= i.zmax))
                  - len(list_filter(e.maxs, m -> m < i.zmin)) AS BIGINT)
               AS depth
      FROM {inv_cte} i, (
        SELECT list_sort(list(zmin)) AS mins,
               list_sort(list(zmax)) AS maxs
        FROM {inv_cte}) e)
"""


ORACLES["shipdate_zonemap_skipping"] = f"""
    WITH inv_w AS (
      SELECT date_trunc('week', l_shipdate) AS f,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(l_shipdate) AS zmin, MAX(l_shipdate) AS zmax
      FROM lineitem GROUP BY 1),
    inv_u AS (
      SELECT CAST('0x' || substring(
               md5(CAST(l_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 52 AS f,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             MIN(l_shipdate) AS zmin, MAX(l_shipdate) AS zmax
      FROM lineitem GROUP BY 1)
    {_zonemap_layout_sql('inv_w', 'clustered_by_week')}
    UNION ALL
    {_zonemap_layout_sql('inv_u', 'unclustered_md5')}
    ORDER BY layout
"""

# Versioned event log shared by expiration/changelog: the bitemporal
# late-correction seeding (event_id % 7 commits 4 h late), tombstone =
# event_type 'error'.
_VLOG = """
      SELECT user_id, event_id, event_type, value,
             CASE WHEN event_id % 7 = 0
                  THEN ts + INTERVAL 4 HOUR ELSE ts END AS txn_ts
      FROM events
"""

ORACLES["events_snapshot_expiration"] = f"""
    WITH log AS ({_VLOG}),
    l2 AS (
      SELECT user_id,
             lead(txn_ts) OVER (PARTITION BY user_id
                                ORDER BY txn_ts, event_id) AS nxt
      FROM log),
    f AS (
      SELECT user_id,
             CASE WHEN nxt IS NULL THEN 'live'
                  WHEN nxt <= TIMESTAMP '2024-01-20 00:00:00'
                    THEN 'reclaimable'
                  ELSE 'retained' END AS version_status
      FROM l2)
    SELECT version_status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM f GROUP BY 1 ORDER BY version_status
"""


def _changelog_state_sql(at: str) -> str:
    """Latest-version user state as of `at` with tombstone removal —
    an INDEPENDENT row_number plan for snapshot_state's max_by."""
    return f"""
      SELECT user_id, value FROM (
        SELECT user_id, value, (event_type = 'error') AS dead,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY txn_ts DESC, event_id DESC) AS rn
        FROM log WHERE txn_ts <= TIMESTAMP '{at}')
      WHERE rn = 1 AND NOT dead
"""


ORACLES["events_snapshot_changelog"] = f"""
    WITH log AS ({_VLOG}),
    s1 AS ({_changelog_state_sql('2024-01-10 00:00:00')}),
    s2 AS ({_changelog_state_sql('2024-01-20 00:00:00')}),
    j AS (
      SELECT COALESCE(a.user_id, b.user_id) AS user_id,
             a.value AS old_value, b.value AS new_value,
             a.user_id IS NOT NULL AS in_old,
             b.user_id IS NOT NULL AS in_new
      FROM s1 a FULL OUTER JOIN s2 b ON a.user_id = b.user_id)
    SELECT user_id,
           CASE WHEN NOT in_old THEN 'insert'
                WHEN NOT in_new THEN 'delete'
                WHEN old_value IS DISTINCT FROM new_value THEN 'update'
           END AS change_type,
           old_value, new_value
    FROM j
    WHERE (NOT in_old) OR (NOT in_new)
          OR (old_value IS DISTINCT FROM new_value)
    ORDER BY user_id
"""

# Merge-on-read replay: identical modeled positions, identical md5
# membership predicate, the standard decimal revenue macro.
ORACLES["lineitem_deletion_vector_read"] = f"""
    WITH li AS (
      SELECT *, l_orderkey * 8 + l_linenumber AS pos FROM lineitem),
    kept AS (
      SELECT * FROM li
      WHERE CAST('0x' || substring(md5(CAST(pos AS VARCHAR)), 1, 8)
                 AS BIGINT) % 20 <> 0)
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           {_dsum(_REVENUE, "revenue")}
    FROM kept GROUP BY 1 ORDER BY l_returnflag
"""

# Schema-evolution replay: the merged read's NULL backfill recomputed
# logically from the orders view (the parquet hop is a lossless
# round-trip for these exact decimal/int columns).
ORACLES["orders_schema_evolution_read"] = f"""
    WITH v AS (
      SELECT CASE WHEN year(o_orderdate) < 1998 THEN 1 ELSE 2 END
               AS version,
             o_totalprice,
             CASE WHEN year(o_orderdate) >= 1998
                  THEN o_orderpriority END AS pri
      FROM orders)
    SELECT version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN pri IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_priority,
           {_dsum("o_totalprice", "sum_price")}
    FROM v GROUP BY 1 ORDER BY version
"""

# Manifest replay: the proven mixture CTE + the shard/part running-sum
# arithmetic + a row_number dominant-source replay (an independent
# plan for the struct max).
ORACLES["training_manifest_shards"] = f"""
    WITH w(source, wt) AS (VALUES ('src0', 4), ('src1', 2), ('src2', 1)),
    c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
    m AS (
      SELECT MIN(COALESCE(n, 0) // wt) AS m
      FROM w LEFT JOIN c USING (source)),
    q AS (
      SELECT w.source, wt * m.m AS k
      FROM w JOIN c USING (source) CROSS JOIN m),
    r AS (
      SELECT d.doc_id, d.source, q.k,
             ROW_NUMBER() OVER (
               PARTITION BY d.source
               ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn
      FROM documents d JOIN q ON q.source = d.source),
    sel AS (SELECT doc_id, source FROM r WHERE rn <= k),
    toks AS (
      SELECT s.doc_id, s.source,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             md5(CAST(s.doc_id AS VARCHAR)) AS ok,
             CAST(CAST('0x' || substring(
               md5(CAST(s.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 4
               AS INT) AS shard
      FROM sel s JOIN documents USING (doc_id)),
    cum AS (
      SELECT *, COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY ok, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS before
      FROM toks),
    a AS (
      SELECT shard, CAST(before // 4096 AS INT) AS part, source, n_tokens
      FROM cum),
    ps AS (
      SELECT shard, part, source,
             CAST(COUNT(*) AS BIGINT) AS src_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS src_tokens
      FROM a GROUP BY 1, 2, 3),
    top AS (
      SELECT shard, part, source, src_docs,
             row_number() OVER (PARTITION BY shard, part
               ORDER BY src_docs DESC, source DESC) AS rk
      FROM ps)
    SELECT p.shard, p.part,
           CAST(SUM(p.src_docs) AS BIGINT) AS n_docs,
           CAST(SUM(p.src_tokens) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           MAX(t.source) AS top_source,
           CAST(MAX(t.src_docs) AS BIGINT) AS top_source_docs
    FROM ps p JOIN top t ON t.shard = p.shard AND t.part = p.part
                         AND t.rk = 1
    GROUP BY p.shard, p.part
    ORDER BY p.shard, p.part
"""

# Interleave schedule replay: identical largest-remainder quotas,
# identical even-spacing positions, identical closed-form rank terms.
ORACLES["mixture_schedule_steps"] = """
    WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS c
               FROM documents GROUP BY 1),
    t AS (SELECT SUM(c) AS n_tot FROM c),
    b AS (SELECT source, c, (c * 1000) // n_tot AS base,
                 (c * 1000) % n_tot AS rem
          FROM c, t),
    lo AS (SELECT 1000 - SUM(base) AS leftover FROM b),
    q AS (SELECT source,
                 base + CASE WHEN row_number() OVER
                        (ORDER BY rem DESC, source) <= leftover
                        THEN 1 ELSE 0 END AS n_s
          FROM b, lo),
    qq AS (SELECT source, n_s FROM q WHERE n_s > 0),
    occ AS (SELECT source, n_s,
                   unnest(range(1, CAST(n_s + 1 AS BIGINT))) AS j
            FROM qq),
    op AS (SELECT source, n_s, j,
                  (j * 1000 + n_s - 1) // n_s AS p
           FROM occ),
    contrib AS (
      -- LEFT join mirrors the Spark side: with a single source the
      -- rank term is plain j
      SELECT o.source, o.j, o.p,
             CAST(SUM(COALESCE(((o.p - 1) * x.n_s) // 1000
                  + CASE WHEN x.source < o.source
                         THEN (o.p * x.n_s) // 1000
                              - ((o.p - 1) * x.n_s) // 1000
                         ELSE 0 END, 0)) AS BIGINT) AS ahead
      FROM op o LEFT JOIN qq x ON x.source <> o.source
      GROUP BY 1, 2, 3)
    SELECT CAST(j + ahead AS BIGINT) AS step, source,
           CAST(j AS BIGINT) AS occurrence
    FROM contrib WHERE j + ahead <= 40
    ORDER BY step
"""


def _kll_oracle_sql() -> str:
    """Six unrolled halving rounds (md5-bit coins, conditional on the
    group exceeding capacity) + the cumulative-weight quantile read."""
    rounds = []
    prev = "r0"
    for lvl in range(6):
        cur = f"r{lvl + 1}"
        nib, bit = lvl // 4 + 1, lvl % 4
        rounds.append(f"""
    {cur} AS (
      SELECT grp, value, id,
             CASE WHEN cnt > 256 THEN weight * 2 ELSE weight END AS weight
      FROM (SELECT *, COUNT(*) OVER (PARTITION BY grp) AS cnt FROM {prev})
      WHERE cnt <= 256
         OR (CAST('0x' || substring(md5(CAST(id AS VARCHAR)), {nib}, 1)
              AS BIGINT) >> {bit}) % 2 = 0)""")
        prev = cur
    chain = ",".join(rounds)
    return f"""
    WITH r0 AS (
      SELECT o_orderpriority AS grp, o_totalprice AS value,
             o_orderkey AS id, CAST(1 AS BIGINT) AS weight
      FROM orders),{chain},
    cum AS (
      SELECT *, SUM(weight) OVER (PARTITION BY grp ORDER BY value, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
             SUM(weight) OVER (PARTITION BY grp) AS tot_w
      FROM {prev}),
    qx AS (
      SELECT grp,
             CAST(COUNT(*) AS BIGINT) AS n_sketch_rows,
             CAST(MAX(tot_w) AS BIGINT) AS total_weight,
             MIN(CASE WHEN cum_w * 100 >= tot_w * 50
                      THEN CAST(value AS DOUBLE) END) AS p50,
             MIN(CASE WHEN cum_w * 100 >= tot_w * 90
                      THEN CAST(value AS DOUBLE) END) AS p90,
             MIN(CASE WHEN cum_w * 100 >= tot_w * 99
                      THEN CAST(value AS DOUBLE) END) AS p99
      FROM cum GROUP BY 1),
    n AS (SELECT o_orderpriority AS grp, CAST(COUNT(*) AS BIGINT)
            AS n_rows FROM orders GROUP BY 1)
    SELECT qx.grp AS priority, n.n_rows, qx.n_sketch_rows,
           qx.total_weight, qx.p50, qx.p90, qx.p99
    FROM qx JOIN n ON n.grp = qx.grp
    ORDER BY priority
"""


ORACLES["priority_price_kll_quantiles"] = _kll_oracle_sql()


# ------------------------------------------------------------ r10 batch 2

# Bloom file-skipping replay: identical salted md5 probes, identical
# word/bit split (bits < 62 — DuckDB's shift is overflow-checked),
# identical bit_or signatures and membership tests.
def _bloom_oracle_sql() -> str:
    keys = [1, 2, 3, 5, 8, 13, 21, 34, 999983, 999979, 999961, 999959]
    klist = ", ".join(f"({k}::BIGINT)" for k in keys)

    def bit(expr: str, salt: str) -> tuple[str, str]:
        h = (
            f"(CAST('0x' || substring(md5('{salt}:' || CAST({expr} AS VARCHAR)"
            f"), 1, 8) AS BIGINT) % 248)"
        )
        return f"({h} // 62)", f"({h} % 62)"

    contrib = []
    for w in range(4):
        parts = []
        for salt in ("b1", "b2"):
            word, b = bit("o_custkey", salt)
            parts.append(
                f"CASE WHEN {word} = {w} THEN (1::BIGINT << {b})"
                " ELSE 0::BIGINT END"
            )
        contrib.append(f"bit_or({' | '.join(parts)}) AS w{w}")
    passes = []
    for salt in ("b1", "b2"):
        word, b = bit("query_key", salt)
        arms = " OR ".join(
            f"({word} = {w} AND (w{w} & (1::BIGINT << {b}))"
            f" = (1::BIGINT << {b}))"
            for w in range(4)
        )
        passes.append(f"({arms})")
    return f"""
    WITH blooms AS (
      SELECT date_trunc('month', o_orderdate) AS f, {', '.join(contrib)}
      FROM orders GROUP BY 1),
    qk(query_key) AS (VALUES {klist}),
    probed AS (
      SELECT query_key, ({' AND '.join(passes)}) AS pass
      FROM blooms, qk),
    bc AS (
      SELECT query_key, CAST(COUNT(*) AS BIGINT) AS n_files_total,
             CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_files_bloom_pass
      FROM probed GROUP BY 1),
    act AS (
      SELECT CAST(o_custkey AS BIGINT) AS query_key,
             CAST(COUNT(DISTINCT date_trunc('month', o_orderdate))
                  AS BIGINT) AS n_actual
      FROM orders WHERE o_custkey IN (SELECT query_key FROM qk)
      GROUP BY 1)
    SELECT bc.query_key, bc.n_files_total, bc.n_files_bloom_pass,
           CAST(COALESCE(act.n_actual, 0) AS BIGINT) AS n_files_actual,
           CAST(bc.n_files_bloom_pass - COALESCE(act.n_actual, 0)
                AS BIGINT) AS n_false_positive_files
    FROM bc LEFT JOIN act USING (query_key)
    ORDER BY query_key
"""


ORACLES["custkey_bloom_file_skipping"] = _bloom_oracle_sql()

# Ingestion-lag quantile replay: identical deterministic lag seeding;
# the per-type row_number definition of the q-quantile (k = ceil(q*n))
# is an INDEPENDENT plan for group_kth_smallest's histogram search.
ORACLES["event_ingestion_lag_quantiles"] = """
    WITH lag AS (
      SELECT event_type,
             CAST((event_id % 600) * 1000000
                  + CASE WHEN event_id % 7 = 0
                         THEN 14400000000 ELSE 0 END AS BIGINT) AS lag_us
      FROM events),
    r AS (
      SELECT event_type, lag_us,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY lag_us) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM lag)
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                    THEN lag_us END) AS DOUBLE) / 1e6 AS p50_lag_s,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                    THEN lag_us END) AS DOUBLE) / 1e6 AS p95_lag_s
    FROM r GROUP BY 1 ORDER BY event_type
"""


def _sketch_rollup_oracle_sql() -> str:
    """Per-(priority, week) 6-round compaction chains + the MERGED
    per-priority cumulative read — the weekly_price_sketch_rollup
    replay (capacity 64)."""
    rounds = []
    prev = "r0"
    for lvl in range(6):
        cur = f"r{lvl + 1}"
        nib, bit = lvl // 4 + 1, lvl % 4
        rounds.append(f"""
    {cur} AS (
      SELECT grp, value, id,
             CASE WHEN cnt > 64 THEN weight * 2 ELSE weight END AS weight
      FROM (SELECT *, COUNT(*) OVER (PARTITION BY grp) AS cnt FROM {prev})
      WHERE cnt <= 64
         OR (CAST('0x' || substring(md5(CAST(id AS VARCHAR)), {nib}, 1)
              AS BIGINT) >> {bit}) % 2 = 0)""")
        prev = cur
    chain = ",".join(rounds)
    return f"""
    WITH r0 AS (
      SELECT o_orderpriority || '|'
               || CAST(date_trunc('week', o_orderdate) AS VARCHAR) AS grp,
             o_totalprice AS value, o_orderkey AS id,
             CAST(1 AS BIGINT) AS weight
      FROM orders),{chain},
    merged AS (
      SELECT string_split(grp, '|')[1] AS grp, value, id, weight
      FROM {prev}),
    cum AS (
      SELECT *, SUM(weight) OVER (PARTITION BY grp ORDER BY value, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
             SUM(weight) OVER (PARTITION BY grp) AS tot_w
      FROM merged)
    SELECT grp AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_sketch_rows,
           CAST(MAX(tot_w) AS BIGINT) AS total_weight,
           MIN(CASE WHEN cum_w * 100 >= tot_w * 50
                    THEN CAST(value AS DOUBLE) END) AS p50,
           MIN(CASE WHEN cum_w * 100 >= tot_w * 90
                    THEN CAST(value AS DOUBLE) END) AS p90
    FROM cum GROUP BY 1 ORDER BY priority
"""


ORACLES["weekly_price_sketch_rollup"] = _sketch_rollup_oracle_sql()

# GDPR sweep replay: identical md5 request predicate, anti-join as
# NOT IN over the bounded request set, residual identically counted.
ORACLES["gdpr_erasure_audit"] = """
    WITH f AS (
      SELECT event_type, user_id,
             (CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % 37 = 0) AS erase
      FROM events),
    req AS (SELECT DISTINCT user_id FROM f WHERE erase),
    a AS (SELECT * FROM f WHERE user_id NOT IN (SELECT user_id FROM req)),
    bt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_before
           FROM f GROUP BY 1),
    at AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_after,
                  CAST(COUNT(DISTINCT CASE WHEN erase THEN user_id END)
                       AS BIGINT) AS residual_users
           FROM a GROUP BY 1)
    SELECT event_type, n_before, n_after,
           CAST(n_before - n_after AS BIGINT) AS n_erased, residual_users
    FROM bt JOIN at USING (event_type)
    ORDER BY event_type
"""

# Late-event replay: identical arrival seeding, identical tumbling
# window + delay cutoff, one c.r. division.
ORACLES["late_event_audit"] = """
    WITH e AS (
      SELECT event_type,
             (ts + (event_id % 600) * INTERVAL 1 SECOND
                 + CASE WHEN event_id % 7 = 0 THEN INTERVAL 4 HOUR
                        ELSE INTERVAL 0 SECOND END)
               > (date_trunc('hour', ts) + INTERVAL 2 HOUR) AS late
      FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
           CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS late_frac
    FROM e GROUP BY 1 ORDER BY event_type
"""

# Funnel-latency replay: identical chained min aggregations; the
# quantiles by their ORDER BY / OFFSET definition (k = ceil(q*n)).
ORACLES["funnel_latency_quantiles"] = """
    WITH s AS (
      SELECT user_id, MIN(ts) AS t_signup FROM events
      WHERE event_type = 'signup' GROUP BY 1),
    p AS (
      SELECT e.user_id,
             MIN(e.ts) AS t_purchase, MIN(s.t_signup) AS t_signup
      FROM events e JOIN s ON s.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.t_signup
      GROUP BY 1),
    lat AS (
      SELECT epoch_us(t_purchase) - epoch_us(t_signup) AS lat_us FROM p),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM lat),
    r AS (SELECT lat_us, row_number() OVER (ORDER BY lat_us) AS rn FROM lat)
    SELECT n.n AS n_converted,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                    THEN lat_us END) AS DOUBLE) / 1e6 AS p50_latency_s,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT)
                    THEN lat_us END) AS DOUBLE) / 1e6 AS p90_latency_s
    FROM r, n GROUP BY n.n
"""

# Dup-rate replay: same md5 digest key, one c.r. chain per source.
ORACLES["dup_rate_by_source"] = """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct,
           1.0 - CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS dup_rate
    FROM documents GROUP BY 1 ORDER BY source
"""

# Column-stats replay: per-column exact counts, unioned.
ORACLES["lineitem_column_stats"] = " UNION ALL ".join(
    f"""
    SELECT '{c}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS ndv
    FROM lineitem"""
    for c in [
        "l_orderkey", "l_partkey", "l_quantity", "l_returnflag",
        "l_shipdate", "l_suppkey",
    ]
) + " ORDER BY column_name"


# ------------------------------------------------------------------ r10
# batch 3: robust trend / survival / experimentation / drift / HITS /
# retrieval eval / URL canonicalization.


# Theil–Sen + Mann–Kendall: identical micros quantization, identical
# (double-quotient, dy, dx) total order, lower median.
ORACLES["daily_value_trend_robust"] = """
    WITH daily AS (
      SELECT event_type,
             CAST(CAST(date_trunc('day', ts) AS DATE)
                  - DATE '1970-01-01' AS BIGINT) AS di,
             CAST(SUM(CAST(value AS DECIMAL(38,6))) * 1000000 AS BIGINT)
                 AS yq
      FROM events GROUP BY 1, 2),
    pairs AS (
      SELECT a.event_type, b.yq - a.yq AS dy, b.di - a.di AS dx
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.di < b.di),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN dy > 0 THEN 1
                           WHEN dy < 0 THEN -1 ELSE 0 END) AS BIGINT)
                 AS mk_s
      FROM pairs GROUP BY 1),
    nb AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets
           FROM daily GROUP BY 1),
    ranked AS (
      SELECT event_type,
             CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) / 1000000.0 AS slope,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY CAST(dy AS DOUBLE) / CAST(dx AS DOUBLE) / 1000000.0
                        ASC, dy ASC, dx ASC) AS rn
      FROM pairs)
    SELECT r.event_type, nb.n_buckets, s.n_pairs, s.mk_s,
           r.slope AS sen_slope
    FROM ranked r
    JOIN stats s USING (event_type)
    JOIN nb USING (event_type)
    WHERE r.rn = (s.n_pairs + 1) // 2
    ORDER BY event_type
"""


# Kaplan–Meier: identical risk-set windows and the same frozen ln grid
# cell per event time; log-survival is the exact DECIMAL running sum.
ORACLES["signup_conversion_survival"] = f"""
    WITH ep AS (SELECT user_id, event_type, epoch_us(ts) AS us
                FROM events),
    s AS (SELECT user_id, MIN(us) AS st FROM ep
          WHERE event_type = 'signup' GROUP BY 1),
    p AS (SELECT user_id, MIN(us) AS pt FROM ep
          WHERE event_type = 'purchase' GROUP BY 1),
    e AS (SELECT MAX(us) AS obs_end FROM ep),
    subj AS (
      SELECT CASE WHEN pt > st THEN (pt - st) // 3600000000
                  ELSE (obs_end - st) // 3600000000 END AS duration,
             CASE WHEN pt > st THEN 1 ELSE 0 END AS observed
      FROM s LEFT JOIN p USING (user_id), e),
    clamped AS (
      -- mirrored in-plan guard (the cusum error() pattern): a
      -- negative duration fails BOTH engines identically
      SELECT CASE WHEN LEAST(duration, 72) < 0
                  THEN error('km_log_survival: negative duration')
                  ELSE LEAST(duration, 72) END AS t,
             CASE WHEN duration <= 72 THEN observed ELSE 0 END AS obs
      FROM subj),
    per_t AS (
      SELECT t, CAST(SUM(obs) AS BIGINT) AS d_events,
             CAST(SUM(1 - obs) AS BIGINT) AS n_censored_at_t
      FROM clamped GROUP BY 1),
    risk AS (
      SELECT *, CAST(SUM(d_events + n_censored_at_t) OVER (
                 ORDER BY t DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_risk
      FROM per_t),
    ev AS (
      SELECT *, {_laplace_lut_sql()}[
                 CAST(((n_risk - d_events) * 1024) // n_risk AS INT) + 1]
                 AS lnq
      FROM risk WHERE d_events > 0)
    SELECT t, n_risk, d_events, n_censored_at_t,
           CAST(SUM(lnq) OVER (
             ORDER BY t ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS DOUBLE) AS log_survival
    FROM ev ORDER BY t
"""


def _hits_sql(iterations: int = 4) -> str:
    """Unroll graph.hits_fixed_point's integer recurrence as chained
    CTEs over the shared trade-edge rule — h_0 = 1, then alternating
    auth/hub sums with COALESCE-0 for isolated sides, every BIGINT sum
    replayed."""
    ctes = [
        _TRADE_PAIRS,
        """nodes AS (SELECT src AS node FROM dedges
                     UNION SELECT dst FROM dedges)""",
        """nc AS (SELECT COUNT(*) AS n_nodes FROM nodes)""",
        """h0 AS (SELECT node,
                    CASE WHEN nc.n_nodes > 215
                         THEN error('hits_fixed_point: nodes'
                                    ' overflow BIGINT at 4'
                                    ' iterations')
                         ELSE CAST(1 AS BIGINT) END AS hub
                  FROM nodes, nc)""",
    ]
    for k in range(1, iterations + 1):
        ctes.append(f"""
        a{k} AS (
          SELECT n.node, CAST(COALESCE(s.m, 0) AS BIGINT) AS auth
          FROM nodes n
          LEFT JOIN (
            SELECT e.dst AS node, SUM(h.hub) AS m
            FROM h{k - 1} h JOIN dedges e ON e.src = h.node
            GROUP BY e.dst) s
          ON s.node = n.node)""")
        ctes.append(f"""
        h{k} AS (
          SELECT n.node, CAST(COALESCE(s.m, 0) AS BIGINT) AS hub
          FROM nodes n
          LEFT JOIN (
            SELECT e.src AS node, SUM(a.auth) AS m
            FROM a{k} a JOIN dedges e ON e.dst = a.node
            GROUP BY e.src) s
          ON s.node = n.node)""")
    return (
        "WITH " + ",".join(ctes)
        + f""" SELECT h.node, h.hub, a.auth
          FROM h{iterations} h JOIN a{iterations} a ON a.node = h.node
          ORDER BY a.auth DESC, h.hub DESC, h.node"""
    )


ORACLES["nation_trade_hits"] = _hits_sql()


# URL canonicalization: the seed formula AND every normalization step
# (scheme/host lowering, default-port strip, fragment drop, tracking-
# param filter, byte sort, trailing-slash strip) replayed in RE2/SQL.
ORACLES["canonical_url_dup_groups"] = r"""
    WITH u AS (
      SELECT CASE CAST(doc_id % 4 AS INT)
        WHEN 0 THEN 'https://WWW.Shop.example.com:443/p/'
                    || CAST(doc_id // 4 AS VARCHAR) || '/?b=2&a=1'
        WHEN 1 THEN 'https://www.shop.example.com/p/'
                    || CAST(doc_id // 4 AS VARCHAR)
                    || '?a=1&b=2&utm_source=s' || CAST(doc_id % 3 AS VARCHAR)
        WHEN 2 THEN 'HTTPS://www.shop.example.com/p/'
                    || CAST(doc_id // 4 AS VARCHAR)
                    || '/?a=1&b=2#sec' || CAST(doc_id % 5 AS VARCHAR)
        ELSE 'https://www.shop.example.com:443/p/'
             || CAST(doc_id // 4 AS VARCHAR) || '?utm_campaign=c&b=2&a=1'
      END AS url FROM documents),
    parts AS (
      SELECT regexp_extract(url, '^([^?#]*)', 1) AS head,
             regexp_extract(url, '^[^?#]*\?([^#]*)', 1) AS query
      FROM u),
    comp0 AS (
      SELECT lower(regexp_extract(head,
                 '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(head,
                 '^[A-Za-z][A-Za-z0-9+.-]*://([^/]*)', 1)) AS hostport,
             regexp_extract(head,
                 '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$', 1) AS path0,
             query
      FROM parts),
    comp AS (
      SELECT scheme,
             CASE WHEN scheme = 'https' AND hostport LIKE '%:443'
                    THEN substring(hostport, 1, length(hostport) - 4)
                  WHEN scheme = 'http' AND hostport LIKE '%:80'
                    THEN substring(hostport, 1, length(hostport) - 3)
                  ELSE hostport END AS host,
             CASE WHEN path0 = '' THEN '/'
                  WHEN length(path0) > 1 AND path0 LIKE '%/'
                    THEN substring(path0, 1, length(path0) - 1)
                  ELSE path0 END AS path,
             array_to_string(
               list_sort(list_filter(string_split(query, '&'),
                 x -> x <> '' AND NOT regexp_matches(x,
                   '^(utm_[a-z]+|gclid|fbclid|msclkid|ref_src|ref_url|mc_[a-z]+)='))),
               '&') AS qcanon
      FROM comp0),
    canon AS (
      SELECT scheme || '://' || host || path
             || CASE WHEN qcanon <> '' THEN '?' || qcanon ELSE '' END
               AS canonical_url
      FROM comp),
    groups AS (
      SELECT canonical_url, CAST(COUNT(*) AS BIGINT) AS group_size
      FROM canon GROUP BY 1)
    SELECT group_size, CAST(COUNT(*) AS BIGINT) AS n_groups,
           MIN(canonical_url) AS min_url, MAX(canonical_url) AS max_url
    FROM groups GROUP BY 1 ORDER BY group_size
"""


# CUPED: identical md5 arm buckets, exact midpoint split, exact decimal
# moments, identical double finalizer tree.
ORACLES["experiment_cuped_readout"] = """
    WITH ep AS (SELECT user_id, epoch_us(ts) AS us,
                       CAST(value AS DECIMAL(18,6)) AS v FROM events),
    rng AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ep),
    pu AS (
      SELECT user_id,
             -- DECIMAL(19,6), not the Spark side's (16,6): DuckDB
             -- executes p<=18 decimal multiplication in int64 and
             -- overflows on x*y; width 19 forces the int128 kernel.
             -- The widening cast changes no value, both engines'
             -- products stay exact, and only the final doubles are
             -- hashed.
             -- mirrored in-plan guard (the cusum error() pattern): a
             -- per-user half-period sum >= 1e10 would overflow the
             -- Spark side's DECIMAL(16,6); both engines now raise
             -- identically instead of diverging on oversized input
             CASE WHEN abs(SUM(CASE WHEN us < mid THEN v
                                    ELSE CAST(0 AS DECIMAL(18,6)) END))
                       >= 10000000000
                  THEN error('experiment_cuped_readout: per-user x sum'
                             || ' exceeds DECIMAL(16,6) range')
                  ELSE CAST(SUM(CASE WHEN us < mid THEN v
                                     ELSE CAST(0 AS DECIMAL(18,6)) END)
                            AS DECIMAL(19,6)) END AS x,
             CASE WHEN abs(SUM(CASE WHEN us >= mid THEN v
                                    ELSE CAST(0 AS DECIMAL(18,6)) END))
                       >= 10000000000
                  THEN error('experiment_cuped_readout: per-user y sum'
                             || ' exceeds DECIMAL(16,6) range')
                  ELSE CAST(SUM(CASE WHEN us >= mid THEN v
                                     ELSE CAST(0 AS DECIMAL(18,6)) END)
                            AS DECIMAL(19,6)) END AS y
      FROM ep, rng GROUP BY 1),
    arms AS (
      SELECT CASE WHEN CAST('0x' || substring(
                       md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
                       % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm, x, y
      FROM pu),
    pa AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM arms GROUP BY 1),
    tot AS (
      SELECT *, CAST(SUM(n_users) OVER () AS DOUBLE) AS tn,
             CAST(SUM(sx) OVER () AS DOUBLE) AS tsx,
             CAST(SUM(sy) OVER () AS DOUBLE) AS tsy,
             CAST(SUM(sxy) OVER () AS DOUBLE) AS tsxy,
             CAST(SUM(sxx) OVER () AS DOUBLE) AS tsxx
      FROM pa)
    SELECT arm, n_users,
           CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE) AS mean_post,
           CAST(sy AS DOUBLE) / CAST(n_users AS DOUBLE)
             - (CASE WHEN tn * tsxx - tsx * tsx > 0
                     THEN (tn * tsxy - tsx * tsy)
                          / (tn * tsxx - tsx * tsx)
                     ELSE 0.0 END)
               * (CAST(sx AS DOUBLE) / CAST(n_users AS DOUBLE) - tsx / tn)
             AS mean_adjusted,
           CASE WHEN tn * tsxx - tsx * tsx > 0
                THEN (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)
                ELSE 0.0 END AS theta
    FROM tot ORDER BY arm
"""


# PSI: identical fixed bucket grid, add-one smoothing, denominator-
# cleared exact decimal sum, same frozen ln cells.
ORACLES["events_value_psi_drift"] = f"""
    WITH ep AS (SELECT event_type, epoch_us(ts) AS us, value FROM events),
    rng AS (SELECT (MIN(us) + MAX(us)) // 2 AS mid FROM ep),
    fr AS (
      SELECT event_type,
             CASE WHEN us >= mid THEN 1 ELSE 0 END AS w,
             CAST(LEAST(9, GREATEST(0,
                 CAST(FLOOR(value / 50.0) AS BIGINT))) AS INT) AS b
      FROM ep, rng),
    counts AS (SELECT event_type, w, b, CAST(COUNT(*) AS BIGINT) AS c
               FROM fr GROUP BY 1, 2, 3),
    totals AS (SELECT event_type, w,
                      CASE WHEN SUM(c) + 10 >= 2147483648
                           THEN error('psi_by_group: window size'
                                      ' >= 2^31')
                           ELSE CAST(SUM(c) AS BIGINT) END AS n
               FROM counts GROUP BY 1, 2),
    grid AS (
      SELECT t.event_type, t.w, t.n, g.b, COALESCE(c.c, 0) AS c
      FROM totals t
      CROSS JOIN (SELECT UNNEST(range(0, 10)) AS b) g
      LEFT JOIN counts c
        ON c.event_type = t.event_type AND c.w = t.w AND c.b = g.b),
    p0 AS (SELECT event_type, b, c AS c0, n AS n0 FROM grid WHERE w = 0),
    p1 AS (SELECT event_type, b, c AS c1, n AS n1 FROM grid WHERE w = 1),
    rows_ AS (
      SELECT p0.event_type, n0, n1,
             CAST((c0 + 1) * (n1 + 10) - (c1 + 1) * (n0 + 10)
                  AS DECIMAL(20,0)) AS num,
             ({_laplace_lut_sql()}[CAST(LEAST(1023,
                 ((c0 + 1) * 1024) // (n0 + 10)) AS INT) + 1]
              - {_laplace_lut_sql()}[CAST(LEAST(1023,
                 ((c1 + 1) * 1024) // (n1 + 10)) AS INT) + 1]) AS dln
      FROM p0 JOIN p1 ON p0.event_type = p1.event_type AND p0.b = p1.b)
    SELECT event_type,
           CAST(MAX(n0) AS BIGINT) AS n_baseline,
           CAST(MAX(n1) AS BIGINT) AS n_comparison,
           CAST(SUM(num * dln) AS DOUBLE)
             / (CAST(MAX(n0) + 10 AS DOUBLE) * CAST(MAX(n1) + 10 AS DOUBLE))
             AS psi
    FROM rows_ GROUP BY 1 ORDER BY event_type
"""


def _ndcg_sql() -> str:
    """nDCG@10 over the bm25_keyword_topk scoring tree: the same
    ranked list (LIMIT 10 of the identical score expression), graded
    relevance min(3, Σ tf), the corpus ideal ordering, and the frozen
    1/log2(i+1) discount literals in exact integer×DECIMAL cumulative
    sums."""
    from .queries import _NDCG_W

    wlist = ", ".join(f"CAST('{w}' AS DECIMAL(14,12))" for w in _NDCG_W)
    avgdl = "(CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))"

    def wterm(t: str) -> str:
        return (
            f"(((CAST(tf_{t} AS DOUBLE) * 2.25) / (CAST(tf_{t} AS DOUBLE)"
            f" + 1.25 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / {avgdl}))))"
            f" * ((CAST(n AS DOUBLE) - CAST(df_{t} AS DOUBLE) + 0.5)"
            f" / (CAST(df_{t} AS DOUBLE) + 0.5)))"
        )

    score = f"(({wterm('merge')} + {wterm('vector')}) + {wterm('dup')})"
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    base AS (SELECT doc_id, CAST(len(toks) AS INT) AS dl,
               CAST(len(list_filter(toks, x -> x = 'merge')) AS INT)
                 AS tf_merge,
               CAST(len(list_filter(toks, x -> x = 'vector')) AS INT)
                 AS tf_vector,
               CAST(len(list_filter(toks, x -> x = 'dup')) AS INT)
                 AS tf_dup
             FROM t),
    st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(dl) AS BIGINT) AS sumdl,
               CAST(SUM(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS df_merge,
               CAST(SUM(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS df_vector,
               CAST(SUM(CASE WHEN tf_dup > 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS df_dup
           FROM base),
    ranked AS (
      SELECT doc_id,
             CAST(LEAST(3, tf_merge + tf_vector + tf_dup) AS INT) AS rel,
             {score} AS score
      FROM base, st
      WHERE tf_merge > 0 OR tf_vector > 0 OR tf_dup > 0
      ORDER BY score DESC, doc_id LIMIT 10),
    rpos AS (
      SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
                AS INT) AS pos
      FROM ranked),
    ideal AS (
      SELECT CAST(LEAST(3, tf_merge + tf_vector + tf_dup) AS INT)
               AS ideal_rel,
             doc_id AS idoc
      FROM base ORDER BY ideal_rel DESC, doc_id LIMIT 10),
    ipos AS (
      SELECT ideal_rel, CAST(ROW_NUMBER() OVER (
               ORDER BY ideal_rel DESC, idoc) AS INT) AS pos
      FROM ideal),
    joined AS (
      SELECT r.pos, r.doc_id, r.rel, i.ideal_rel,
             r.rel * [{wlist}][r.pos] AS g,
             i.ideal_rel * [{wlist}][r.pos] AS ig
      FROM rpos r JOIN ipos i USING (pos))
    SELECT pos, doc_id, rel, ideal_rel,
           CAST(SUM(g) OVER (ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE)
           / CAST(SUM(ig) OVER (ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS ndcg
    FROM joined ORDER BY pos
"""


ORACLES["bm25_ndcg_eval"] = _ndcg_sql()


# JSD: identical top-100 occurrence vocabulary, full source×term grid,
# denominator-cleared exact decimal sums, ln(2p/(p+q)) = LUT + ln2.
ORACLES["source_term_jsd_pairs"] = f"""
    WITH occ AS (SELECT source, unnest({_TOKS}) AS term FROM documents),
    vocab AS (SELECT term FROM (
        SELECT term, COUNT(*) AS tot FROM occ
        GROUP BY 1 ORDER BY tot DESC, term LIMIT 100)),
    st AS (SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
           FROM occ JOIN vocab USING (term) GROUP BY 1, 2),
    totals AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
               FROM st GROUP BY 1),
    grid AS (
      SELECT t.source, t.n, v.term, COALESCE(s.c, 0) AS c
      FROM totals t CROSS JOIN vocab v
      LEFT JOIN st s ON s.source = t.source AND s.term = v.term),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.c AS ca, a.n AS na, b.c AS cb, b.n AS nb
      FROM grid a JOIN grid b
        ON a.term = b.term AND a.source < b.source),
    terms_ AS (
      SELECT source_a, source_b,
             CASE WHEN na >= 67108864 OR nb >= 67108864
                  THEN error('source_term_jsd_pairs: source token'
                             ' count >= 2^26')
                  ELSE na END AS na,
             nb,
             CAST(ca AS DECIMAL(20,0)) AS cad,
             CAST(cb AS DECIMAL(20,0)) AS cbd,
             ca * nb AS xa, cb * na AS xb
      FROM pairs WHERE ca + cb > 0),
    contrib AS (
      SELECT source_a, source_b, na, nb,
             cad * ({_laplace_lut_sql()}[CAST(LEAST(1023,
                 (xa * 1024) // (xa + xb)) AS INT) + 1]
               + CAST('0.693147180560' AS DECIMAL(14,12))) AS ta,
             cbd * ({_laplace_lut_sql()}[CAST(LEAST(1023,
                 (xb * 1024) // (xb + xa)) AS INT) + 1]
               + CAST('0.693147180560' AS DECIMAL(14,12))) AS tb
      FROM terms_)
    SELECT source_a, source_b,
           CAST(MAX(na) AS BIGINT) AS n_a,
           CAST(MAX(nb) AS BIGINT) AS n_b,
           CAST(SUM(ta) AS DOUBLE) / (2.0 * CAST(MAX(na) AS DOUBLE))
             + CAST(SUM(tb) AS DOUBLE) / (2.0 * CAST(MAX(nb) AS DOUBLE))
             AS jsd
    FROM contrib GROUP BY 1, 2 ORDER BY source_a, source_b
"""


# ------------------------------------------------------------------ r10
# batch 4: ML-eval + audit statistics.


def _quality_scored_sql() -> str:
    """Shared scored frame: the linear_quality_margin oracle joined
    with the gopher verdict oracle (both replayed verbatim as
    subqueries)."""
    return f"""(
      SELECT m.doc_id, m.margin AS s,
             CASE WHEN g.passes THEN 1 ELSE 0 END AS pos
      FROM ({ORACLES["linear_quality_margin"]}) m
      JOIN ({ORACLES["gopher_quality_verdicts"]}) g USING (doc_id))"""


# AUC: identical midrank-doubled rank sums (2·below + cnt + 1), same
# DECIMAL(38,0) summation, same double finalizer tree.
ORACLES["quality_margin_auc"] = f"""
    WITH scored AS (SELECT * FROM {_quality_scored_sql()}),
    tot_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM scored),
    bym AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS cnt,
                   CASE WHEN MAX(nt) >= 1073741824
                        THEN error('auc_exact: shard the eval')
                        ELSE CAST(SUM(pos) AS BIGINT) END AS np
            FROM scored, tot_ GROUP BY 1),
    run AS (SELECT *, CAST(SUM(cnt) OVER (
              ORDER BY s ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum FROM bym),
    agg AS (SELECT
              SUM(CAST(np * (2 * (cum - cnt) + cnt + 1)
                  AS DECIMAL(38,0))) AS s2,
              CAST(SUM(np) AS BIGINT) AS n_pos,
              CAST(SUM(cnt - np) AS BIGINT) AS n_neg
            FROM run)
    SELECT n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0
                THEN (CAST(s2 AS DOUBLE)
                      - CAST(n_pos AS DOUBLE)
                        * (CAST(n_pos AS DOUBLE) + 1.0))
                     / (2.0 * CAST(n_pos AS DOUBLE)
                        * CAST(n_neg AS DOUBLE))
                ELSE 0.5 END AS auc
    FROM agg
"""


# Gains: identical (score desc, id) total order, integral-DIV decile
# boundaries, 10-row cumulative window, same gain/lift double chains.
ORACLES["quality_margin_gains"] = f"""
    WITH scored AS (SELECT * FROM {_quality_scored_sql()}),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt,
                   CAST(SUM(pos) AS BIGINT) AS npt FROM scored),
    ranked AS (SELECT pos,
                 ROW_NUMBER() OVER (ORDER BY s DESC, doc_id ASC) AS r
               FROM scored),
    binned AS (SELECT CASE WHEN nt >= 1073741824
                           THEN error('cumulative_gains: shard the'
                                      ' eval')
                           ELSE CAST(((r - 1) * 10) // nt AS INT)
                           END AS bin,
                      pos, nt, npt
               FROM ranked, tot),
    per AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(pos) AS BIGINT) AS n_pos,
                   MAX(nt) AS n_total, MAX(npt) AS n_pos_total
            FROM binned GROUP BY 1),
    cum AS (SELECT *, CAST(SUM(n_pos) OVER (
              ORDER BY bin
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_pos FROM per)
    SELECT bin, n_docs, n_pos, cum_pos,
           CASE WHEN n_pos_total > 0
                THEN CAST(cum_pos AS DOUBLE)
                     / CAST(n_pos_total AS DOUBLE)
                ELSE 0.0 END AS gain,
           CASE WHEN n_pos_total > 0
                THEN (CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE))
                     / (CAST(n_pos_total AS DOUBLE)
                        / CAST(n_total AS DOUBLE))
                ELSE 0.0 END AS lift
    FROM cum ORDER BY bin
"""


# Mutual information: identical fixed bucket grid, the two-cell
# ln(a/b) split on the frozen grid, exact decimal sums.
ORACLES["type_value_mutual_info"] = f"""
    WITH fr AS (
      SELECT event_type,
             CAST(LEAST(9, GREATEST(0,
                 CAST(FLOOR(value / 50.0) AS BIGINT))) AS INT) AS bucket
      FROM events),
    cxy AS (SELECT event_type, bucket, CAST(COUNT(*) AS BIGINT) AS cxy
            FROM fr GROUP BY 1, 2),
    cx AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cx
           FROM fr GROUP BY 1),
    cy AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS cy
           FROM fr GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM fr),
    j AS (SELECT c.event_type, c.bucket,
                 CASE WHEN n.nn >= 67108864
                      THEN error('mutual_information: N >= 2^26')
                      ELSE c.cxy END AS cxy,
                 x.cx, y.cy, n.nn,
                 c.cxy * n.nn AS a, x.cx * y.cy AS b
          FROM cxy c JOIN cx x USING (event_type)
          JOIN cy y USING (bucket), n),
    t AS (SELECT event_type, cx, nn,
            CAST(cxy AS DECIMAL(20,0))
              * ({_laplace_lut_sql()}[CAST(LEAST(1023,
                    (a * 1024) // (a + b)) AS INT) + 1]
                 - {_laplace_lut_sql()}[CAST(LEAST(1023,
                    (b * 1024) // (a + b)) AS INT) + 1]) AS term
          FROM j)
    SELECT event_type, CAST(MAX(cx) AS BIGINT) AS n_event_type,
           CAST(SUM(term) AS DOUBLE) / CAST(MAX(nn) AS DOUBLE) AS mi_part
    FROM t GROUP BY 1 ORDER BY event_type
"""


# Krippendorff's alpha: the lang_id_pred oracle replayed as the second
# rater; identical pooled-frequency expected disagreement and double
# finalizer order.
ORACLES["langid_agreement_alpha"] = f"""
    WITH pred AS ({ORACLES["lang_id_pred"]}),
    pairs AS (SELECT d.lang AS a, p.lang_pred AS b
              FROM documents d JOIN pred p USING (doc_id)),
    base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(CASE WHEN a <> b THEN 1 ELSE 0 END)
                         AS BIGINT) AS d
             FROM pairs),
    pooled AS (
      SELECT SUM(CAST(nv AS DECIMAL(38,0))
                 * CAST(nv - 1 AS DECIMAL(38,0))) AS s
      FROM (SELECT v, CAST(COUNT(*) AS BIGINT) AS nv
            FROM (SELECT a AS v FROM pairs
                  UNION ALL SELECT b FROM pairs)
            GROUP BY 1))
    SELECT n AS n_units, d AS n_disagree,
           CAST(d AS DOUBLE) / CAST(n AS DOUBLE) AS d_o,
           (2.0 * CAST(n AS DOUBLE) * (2.0 * CAST(n AS DOUBLE) - 1.0)
              - CAST(s AS DOUBLE))
           / (2.0 * CAST(n AS DOUBLE) * (2.0 * CAST(n AS DOUBLE) - 1.0))
             AS d_e,
           CASE WHEN 2.0 * CAST(n AS DOUBLE)
                       * (2.0 * CAST(n AS DOUBLE) - 1.0)
                     - CAST(s AS DOUBLE) = 0
                THEN 0.0
                ELSE 1.0 - (CAST(d AS DOUBLE) / CAST(n AS DOUBLE))
                     / ((2.0 * CAST(n AS DOUBLE)
                         * (2.0 * CAST(n AS DOUBLE) - 1.0)
                         - CAST(s AS DOUBLE))
                        / (2.0 * CAST(n AS DOUBLE)
                           * (2.0 * CAST(n AS DOUBLE) - 1.0)))
                END AS alpha
    FROM base, pooled
"""


# Runs test: identical micros quantization, in-plan lower median over
# the (yq, bucket) total order, identical run counting and z chain.
ORACLES["daily_revenue_runs_test"] = """
    WITH daily AS (
      SELECT date_trunc('day', o_orderdate) AS b,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) * 1000000
                  AS BIGINT) AS yq
      FROM orders GROUP BY 1),
    nrow AS (SELECT CAST(COUNT(*) AS BIGINT) AS nb FROM daily),
    ranked AS (SELECT yq,
                 ROW_NUMBER() OVER (ORDER BY yq ASC, b ASC) AS r
               FROM daily),
    med AS (SELECT yq AS med FROM ranked, nrow
            WHERE r = (nb + 1) // 2),
    signs AS (SELECT b, CASE WHEN yq > med THEN 1 ELSE 0 END AS s
              FROM daily, med WHERE yq <> med),
    seq AS (SELECT s, LAG(s) OVER (ORDER BY b ASC) AS prev FROM signs),
    -- degenerate all-equal-median series: explicit zeros, not NULLs
    -- (mirrors the Spark-side coalesce; n_runs pinned to 0 when the
    -- sign sequence is empty)
    runs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_used,
                    CAST(COALESCE(SUM(s), 0) AS BIGINT) AS n1,
                    CAST(COALESCE(SUM(1 - s), 0) AS BIGINT) AS n0,
                    CASE WHEN COUNT(*) = 0 THEN CAST(0 AS BIGINT)
                         ELSE CAST(1 + SUM(CASE WHEN prev IS NOT NULL
                                                AND s <> prev
                                           THEN 1 ELSE 0 END) AS BIGINT)
                    END AS n_runs
             FROM seq)
    SELECT nb AS n_buckets, n1 AS n_above, n0 AS n_below, n_runs,
           CASE WHEN (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
                        / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0
                      - 1.0)
                     * (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
                        / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) + 1.0
                        - 2.0)
                     / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE) - 1.0) > 0
                THEN (CAST(n_runs AS DOUBLE)
                      - (2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
                         / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE))
                         + 1.0))
                     / sqrt((2.0 * CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)
                             / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE))
                             + 1.0 - 1.0)
                            * (2.0 * CAST(n1 AS DOUBLE)
                               * CAST(n0 AS DOUBLE)
                               / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE))
                               + 1.0 - 2.0)
                            / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)
                               - 1.0))
                ELSE 0.0 END AS z_stat
    FROM runs, nrow
"""


# ------------------------------------------------------------------ r11
# Mergeable Misra-Gries top-k: the oracle rebuilds the per-shard
# compress (t_s = the 21st-largest local count), the counter-addition
# merge, the summed error bound, AND the exact counts — the
# within_bound verdict is recomputed, not echoed.
ORACLES["user_topk_mergeable"] = """
    WITH base AS (
      SELECT user_id,
             CAST('0x' || substring(md5(CAST(event_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 8 AS shard
      FROM events),
    counts AS (SELECT shard, user_id, CAST(COUNT(*) AS BIGINT) AS c
               FROM base GROUP BY 1, 2),
    ranked AS (SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY shard ORDER BY c DESC, user_id ASC) AS r
               FROM counts),
    ts AS (SELECT shard, c AS t FROM ranked WHERE r = 21),
    tall AS (SELECT s.shard, COALESCE(ts.t, 0) AS t
             FROM (SELECT DISTINCT shard FROM counts) s
             LEFT JOIN ts USING (shard)),
    comp AS (SELECT rk.shard, rk.user_id, rk.c - tall.t AS cnt
             FROM ranked rk JOIN tall USING (shard)
             WHERE rk.c > tall.t),
    err AS (SELECT CAST(COALESCE(SUM(t), 0) AS BIGINT) AS err_bound
            FROM tall),
    merged AS (SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS est_count
               FROM comp GROUP BY 1),
    topk AS (SELECT user_id, est_count FROM merged
             ORDER BY est_count DESC, user_id ASC LIMIT 20),
    exact AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
              FROM events GROUP BY 1)
    SELECT t.user_id, t.est_count, e.exact_count, err.err_bound,
           (t.est_count <= e.exact_count
            AND e.exact_count <= t.est_count + err.err_bound)
             AS within_bound
    FROM topk t JOIN exact e USING (user_id), err
    ORDER BY t.est_count DESC, t.user_id ASC
"""

# md5-MinHash band machinery, shared by the two entries below: the
# oracle rebuilds shingles -> 12 per-seed md5 minima -> 4 band keys
# exactly as dedup.py::minhash_signatures_md5 / band_keys_md5 do.
_MINHASH_BANDS = f"""
    t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> array_to_string(list_slice(toks, i, i + 2), ' '))))
             AS shingle
           FROM t),
    sig AS (SELECT doc_id, g.i,
                   MIN(md5(CAST(g.i AS VARCHAR) || '|' || shingle)) AS m
            FROM sh, generate_series(0, 11) g(i) GROUP BY 1, 2),
    band AS (SELECT doc_id, CAST(i // 3 AS INT) AS band,
                    md5(string_agg(m, '|' ORDER BY i)) AS bucket
             FROM sig GROUP BY doc_id, i // 3)
"""

# the in-plan max_bucket guard of dedup.py::delta_candidate_pairs,
# mirrored (the rp_lsh_recall_eval error() pattern) so a hot bucket
# fails BOTH engines instead of diverging; `probe` is the delta's
# distinct (band, bucket) set — the guard is delta-scoped exactly
# like the Spark side's semi-join.
_DELTA_GUARD = """
    guard AS (
      SELECT COALESCE(MAX(CASE WHEN c <= 256 THEN 0
                 ELSE error('delta_candidate_pairs: band bucket size '
                            || CAST(c AS VARCHAR)
                            || ' exceeds max_bucket=256') END), 0) AS z
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
            FROM band b
            WHERE EXISTS (SELECT 1 FROM probe p
                          WHERE p.band = b.band AND p.bucket = b.bucket)
            GROUP BY b.band, b.bucket))
"""

ORACLES["minhash_delta_candidates"] = f"""
    WITH {_MINHASH_BANDS},
    delta AS (SELECT * FROM band WHERE doc_id % 10 >= 8),
    probe AS (SELECT DISTINCT band, bucket FROM delta),
    {_DELTA_GUARD},
    hits AS (SELECT DISTINCT d.band,
                    least(d.doc_id, o.doc_id) AS id_a,
                    greatest(d.doc_id, o.doc_id) AS id_b
             FROM delta d
             JOIN band o ON d.band = o.band AND d.bucket = o.bucket
                        AND d.doc_id <> o.doc_id),
    pairs AS (SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS n_shared_bands
              FROM hits GROUP BY 1, 2)
    SELECT id_a + guard.z AS id_a, id_b, n_shared_bands
    FROM pairs, guard ORDER BY 1, 2
"""

ORACLES["minhash_band_recall_eval"] = f"""
    WITH {_MINHASH_BANDS},
    probe AS (SELECT DISTINCT band, bucket FROM band),
    {_DELTA_GUARD},
    -- ground truth: exact shingle-Jaccard under the identical
    -- max_df=500 hot-shingle discipline as dedup.py::ngram_jaccard,
    -- thresholded on the SAME ROUND(j, 6) the Spark side releases
    -- (ngram_jaccard rounds before filtering)
    live AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING COUNT(*) > 1 AND COUNT(*) <= 500),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS s
           FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS i
              FROM sh a
              JOIN live l ON l.shingle = a.shingle
              JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    jac AS (SELECT id_a, id_b,
                   ROUND(CAST(i AS DOUBLE) / (sa.s + sb.s - i), 6)
                     AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE ROUND(CAST(i AS DOUBLE) / (sa.s + sb.s - i), 6) >= 0.5),
    cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                    greatest(a.doc_id, b.doc_id) AS id_b
             FROM band a
             JOIN band b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id <> b.doc_id),
    hitj AS (SELECT j.jaccard FROM jac j
             JOIN cand c ON j.id_a = c.id_a AND j.id_b = c.id_b),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
    taus AS (SELECT CAST(0.5 AS DOUBLE) AS tau
             UNION ALL SELECT CAST(0.8 AS DOUBLE)),
    nt AS (SELECT t.tau,
                  CAST(COALESCE(SUM(CASE WHEN j.jaccard >= t.tau
                                         THEN 1 ELSE 0 END), 0)
                       AS BIGINT) AS n_true_pairs
           FROM taus t LEFT JOIN jac j ON TRUE GROUP BY t.tau),
    nh AS (SELECT t.tau,
                  CAST(COALESCE(SUM(CASE WHEN h.jaccard >= t.tau
                                         THEN 1 ELSE 0 END), 0)
                       AS BIGINT) AS n_hits
           FROM taus t LEFT JOIN hitj h ON TRUE GROUP BY t.tau)
    SELECT nt.tau, nt.n_true_pairs,
           nc.n_candidates + guard.z AS n_candidates, nh.n_hits,
           ROUND(CAST(nh.n_hits AS DOUBLE)
                 / NULLIF(CAST(nt.n_true_pairs AS DOUBLE), 0.0), 6)
             AS recall,
           ROUND(CAST(nh.n_hits AS DOUBLE)
                 / NULLIF(CAST(nc.n_candidates AS DOUBLE), 0.0), 6)
             AS precision
    FROM nt JOIN nh ON nt.tau = nh.tau, nc, guard
    ORDER BY nt.tau
"""

# int8 recall@10: codes replay the int8_quant_exprs rounding chain
# (floor(x/scale*127 + 0.5), every step one correctly-rounded IEEE
# op); quantized cosine is integer-dot / sqrt(int*int) — scales
# cancel — and the float ranking reuses the knn oracle's fold shape.
ORACLES["int8_ann_recall_eval"] = """
    WITH e AS (
      SELECT vec_id, embedding,
             list_max(list_transform(embedding,
                 x -> abs(CAST(x AS DOUBLE)))) AS scale
      FROM embeddings),
    coded AS (
      SELECT vec_id, embedding,
             CASE WHEN scale > 0
                  THEN list_transform(embedding,
                       x -> CAST(floor(CAST(x AS DOUBLE) / scale * 127
                                       + 0.5) AS BIGINT))
                  ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
             END AS codes
      FROM e),
    q AS (SELECT vec_id AS query_id, embedding AS qv, codes AS qcodes
          FROM coded WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.query_id, c.vec_id,
             list_sum(list_transform(generate_series(1, len(c.embedding)),
                  i -> CAST(c.embedding[i] AS DOUBLE)
                       * CAST(q.qv[i] AS DOUBLE)))
             / NULLIF(
               sqrt(list_sum(list_transform(c.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0)
               AS cos_f,
             CAST(list_sum(list_transform(generate_series(1, len(c.codes)),
                  i -> c.codes[i] * q.qcodes[i])) AS DOUBLE)
             / NULLIF(
               sqrt(CAST(list_sum(list_transform(c.codes, x -> x * x))
                         AS DOUBLE)
                    * CAST(list_sum(list_transform(q.qcodes, x -> x * x))
                           AS DOUBLE)), 0.0) AS cos_q
      FROM coded c, q),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_f DESC, vec_id ASC) AS rf,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_q DESC, vec_id ASC) AS rq
      FROM scored),
    hits AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM ranked WHERE rf <= 10 AND rq <= 10 GROUP BY 1)
    SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 10.0, 6)
             AS recall_at_10
    FROM q LEFT JOIN hits h USING (query_id)
    ORDER BY q.query_id
"""

ORACLES["host_license_rollup"] = """
    WITH base AS (
      SELECT 'h' || CAST(doc_id % 23 AS VARCHAR) || '.example.org' AS host,
             CASE WHEN b < 40 THEN 'cc-by'
                  WHEN b < 60 THEN 'cc-by-sa'
                  WHEN b < 72 THEN 'cc0'
                  WHEN b < 90 THEN 'all-rights-reserved'
                  ELSE 'noai' END AS license,
             n_chars
      FROM (SELECT doc_id, n_chars,
                   CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                          1, 8) AS BIGINT) % 100 AS b
            FROM documents)),
    agg AS (
      SELECT host,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS weight,
             CAST(SUM(CASE WHEN license IN
                    ('cc-by', 'cc-by-sa', 'cc0', 'public-domain')
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_permissive,
             CAST(SUM(CASE WHEN license IN
                    ('noai', 'all-rights-reserved')
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked
      FROM base GROUP BY 1)
    SELECT host, n_docs, weight, n_permissive, n_blocked,
           ROUND(CAST(n_permissive AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
             AS permissive_frac,
           ROUND(CAST(n_blocked AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
             AS blocked_frac,
           (n_blocked = 0) AS train_eligible
    FROM agg ORDER BY host
"""

# Longest-prefix robots match: rules VALUES + LIKE prefix join; the
# most specific (longest, then lexicographically greatest) matching
# prefix wins — identical to web.py::longest_prefix_match's max_by.
ORACLES["robots_block_rate"] = """
    WITH rules_raw(prefix, verdict) AS (VALUES
      ('/', 'allow'), ('/admin', 'deny'), ('/static', 'deny'),
      ('/static/css', 'allow'), ('/p', 'allow'), ('/p/private', 'deny')),
    -- mirrored duplicate-prefix dedupe (web.py::longest_prefix_match):
    -- conflicting duplicates resolve to MIN verdict ('allow' first)
    rules AS (SELECT prefix, MIN(verdict) AS verdict
              FROM rules_raw GROUP BY prefix),
    base AS (
      SELECT doc_id,
             'h' || CAST(doc_id % 7 AS VARCHAR) || '.example.org' AS host,
             CASE CAST(doc_id % 5 AS INT)
               WHEN 0 THEN '/p/' || CAST(doc_id % 97 AS VARCHAR)
               WHEN 1 THEN '/admin/job' || CAST(doc_id % 97 AS VARCHAR)
               WHEN 2 THEN '/static/css/s' || CAST(doc_id % 97 AS VARCHAR)
               WHEN 3 THEN '/p/private/doc' || CAST(doc_id % 97 AS VARCHAR)
               ELSE '/' END AS path
      FROM documents),
    matched AS (
      SELECT doc_id, host, path, verdict,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                 ORDER BY length(prefix) DESC, prefix DESC) AS r
      FROM base JOIN rules ON base.path LIKE rules.prefix || '%'),
    agg AS (
      SELECT host, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN verdict = 'deny' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_blocked
      FROM matched WHERE r = 1 GROUP BY 1)
    SELECT host, n_docs, n_blocked,
           ROUND(CAST(n_blocked AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
             AS block_rate
    FROM agg ORDER BY host
"""


# Sign-LSH recall on planted twins: same literal sign matrix as the
# rp_projection oracle; the twin rebuild replays Spark's exact chain
# (double add, then one float32 rounding via CAST AS REAL).
def _rp_lsh_oracle_sql() -> str:
    from ..functions.vectors import rp_signs

    signs = rp_signs(64, 8)
    ycols = []
    for j, row in enumerate(signs):
        arr = "[" + ", ".join(f"{float(s):.1f}" for s in row) + "]"
        ycols.append(
            f"list_sum(list_transform(generate_series(1, 64),\n"
            f"    i -> CAST(embedding[i] AS DOUBLE) * ({arr})[i]))"
            f" AS y{j:02d}"
        )
    y_sql = ",\n           ".join(ycols)
    bucket_sql = " + ".join(
        f"(CASE WHEN y{j:02d} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(8)
    )
    return f"""
    WITH allv AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000,
             [CAST(CAST(embedding[1] AS DOUBLE) + 0.001 AS REAL)]
               || embedding[2:]
      FROM embeddings),
    proj AS (
      SELECT vec_id,
           {y_sql}
      FROM allv),
    bk AS (SELECT vec_id, {bucket_sql} AS bucket FROM proj),
    guard AS (
      SELECT MAX(CASE WHEN c <= 4096 THEN 0
                      ELSE error('rp_lsh_recall_eval: bucket size '
                                 || CAST(c AS VARCHAR)
                                 || ' exceeds 4096') END) AS z
      FROM (SELECT COUNT(*) AS c FROM bk GROUP BY bucket)),
    cand AS (SELECT a.vec_id AS ia, b.vec_id AS ib
             FROM bk a JOIN bk b ON a.bucket = b.bucket
                                AND a.vec_id < b.vec_id),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs
           FROM embeddings),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand),
    nh AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
           FROM cand WHERE ib = ia + 1000000)
    SELECT n_true_pairs + guard.z AS n_true_pairs, n_candidates, n_hits,
           ROUND(CAST(n_hits AS DOUBLE)
                 / NULLIF(CAST(n_true_pairs AS DOUBLE), 0.0), 6) AS recall,
           ROUND(CAST(n_hits AS DOUBLE)
                 / NULLIF(CAST(n_candidates AS DOUBLE), 0.0), 6)
             AS precision
    FROM nt, nc, nh, guard
"""


ORACLES["rp_lsh_recall_eval"] = _rp_lsh_oracle_sql()


# KLL accuracy eval: the SAME six unrolled halving rounds as the
# priority_price_kll_quantiles oracle, then each released quantile
# value joined to its exact strict rank over the raw data.
def _kll_eval_oracle_sql() -> str:
    rounds = []
    prev = "r0"
    for lvl in range(6):
        cur = f"r{lvl + 1}"
        nib, bit = lvl // 4 + 1, lvl % 4
        rounds.append(f"""
    {cur} AS (
      SELECT grp, value, id,
             CASE WHEN cnt > 256 THEN weight * 2 ELSE weight END AS weight
      FROM (SELECT *, COUNT(*) OVER (PARTITION BY grp) AS cnt FROM {prev})
      WHERE cnt <= 256
         OR (CAST('0x' || substring(md5(CAST(id AS VARCHAR)), {nib}, 1)
              AS BIGINT) >> {bit}) % 2 = 0)""")
        prev = cur
    chain = ",".join(rounds)
    qcases = ",\n             ".join(
        f"MIN(CASE WHEN cum_w * 100 >= tot_w * {p}\n"
        f"                      THEN CAST(value AS DOUBLE) END) AS p{p}"
        for p in (25, 50, 75, 90)
    )
    punion = " UNION ALL ".join(
        f"SELECT grp, {p} AS pct, p{p} AS sketch_val FROM qx"
        for p in (25, 50, 75, 90)
    )
    return f"""
    WITH r0 AS (
      SELECT o_orderpriority AS grp, o_totalprice AS value,
             o_orderkey AS id, CAST(1 AS BIGINT) AS weight
      FROM orders),{chain},
    cum AS (
      SELECT *, SUM(weight) OVER (PARTITION BY grp ORDER BY value, id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_w,
             SUM(weight) OVER (PARTITION BY grp) AS tot_w
      FROM {prev}),
    qx AS (
      SELECT grp,
             {qcases}
      FROM cum GROUP BY 1),
    qlong AS ({punion}),
    ranks AS (
      SELECT q.grp, q.pct, q.sketch_val,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN CAST(o.o_totalprice AS DOUBLE)
                                < q.sketch_val
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_below
      FROM qlong q JOIN orders o ON o.o_orderpriority = q.grp
      GROUP BY 1, 2, 3)
    SELECT grp AS priority, CAST(pct AS INT) AS pct, sketch_val,
           n_rows, n_below,
           ROUND(abs(CAST(n_below AS DOUBLE) * 100.0
                     / CAST(n_rows AS DOUBLE)
                     - CAST(pct AS DOUBLE)), 6) AS rank_err_pct,
           (abs(CAST(n_below AS DOUBLE) * 100.0 / CAST(n_rows AS DOUBLE)
                - CAST(pct AS DOUBLE)) <= 5.0) AS within_tol
    FROM ranks ORDER BY priority, pct
"""


ORACLES["kll_quantile_error_eval"] = _kll_eval_oracle_sql()


ORACLES["license_token_budget"] = f"""
    WITH lic AS (
      SELECT CASE WHEN b < 40 THEN 'cc-by'
                  WHEN b < 60 THEN 'cc-by-sa'
                  WHEN b < 72 THEN 'cc0'
                  WHEN b < 90 THEN 'all-rights-reserved'
                  ELSE 'noai' END AS license,
             CAST(len(toks) AS BIGINT) AS n_tokens
      FROM (SELECT {_TOKS} AS toks,
                   CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                          1, 8) AS BIGINT) % 100 AS b
            FROM documents)),
    per AS (
      SELECT license AS clazz, CAST(SUM(n_tokens) AS BIGINT) AS w
      FROM lic WHERE license NOT IN ('noai', 'all-rights-reserved')
      GROUP BY 1),
    tot AS (SELECT SUM(w) AS wt, (SUM(w) * 1) // 2 AS bt,
                   MAX(w) AS wmax FROM per),
    -- mirrored in-plan overflow guard (sampling.py::
    -- largest_remainder_allocation): bt*w must stay inside int64
    tchk AS (SELECT wt,
                    CASE WHEN bt <= 9223372036854775807 // greatest(wmax, 1)
                         THEN bt
                         ELSE error('largest_remainder_allocation: '
                                    || 'budget*weight exceeds int64 (total '
                                    || 'weight ' || CAST(wt AS VARCHAR)
                                    || ') — rescale weights before '
                                    || 'apportioning') END AS bt
             FROM tot),
    quoted AS (
      SELECT clazz, w, wt, bt,
             (bt * w) // wt AS base_q, (bt * w) % wt AS rem
      FROM per, tchk),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem DESC, clazz ASC) AS rk,
             bt - SUM(base_q) OVER () AS leftover
      FROM quoted)
    SELECT clazz AS license, w AS weight,
           CAST(base_q AS BIGINT) AS base_alloc,
           CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra,
           CAST(base_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS final_alloc
    FROM ranked ORDER BY license
"""


# md5-SimHash band pairs: token votes from md5's leading 16 hex chars
# as two 32-bit halves; 64-char bit string (bit 63 first); 4 x 16-bit
# substring bands; exact hamming over positions.
def _simhash_md5_oracle_sql() -> str:
    votes = []
    for b in range(64):
        half = 1 if b >= 32 else 9  # hex offset of the 32-bit half
        shift = b % 32
        votes.append(
            f"CAST(SUM(CASE WHEN (CAST('0x' || substring(h, {half}, 8)"
            f" AS BIGINT) >> {shift}) % 2 = 1 THEN c ELSE -c END)"
            f" AS BIGINT) AS v{b}"
        )
    vote_sql = ",\n             ".join(votes)
    bit_sql = " || ".join(
        f"(CASE WHEN v{b} > 0 THEN '1' ELSE '0' END)"
        for b in range(63, -1, -1)
    )
    return f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    occ AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    cnt AS (SELECT doc_id, md5(tok) AS h, CAST(COUNT(*) AS BIGINT) AS c
            FROM occ GROUP BY 1, 2),
    agg AS (SELECT doc_id,
             {vote_sql}
            FROM cnt GROUP BY 1),
    fp AS (SELECT doc_id, {bit_sql} AS bits FROM agg),
    banded AS (
      SELECT doc_id, g.b AS band, substring(bits, 1 + 16 * g.b, 16) AS key
      FROM fp, generate_series(0, 3) g(b)),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(COUNT(DISTINCT a.band) AS BIGINT) AS n_shared_bands
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.key = b.key
                   AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    ham AS (
      SELECT p.id_a, p.id_b, p.n_shared_bands,
             CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> CASE WHEN substring(fa.bits, i, 1)
                                 <> substring(fb.bits, i, 1)
                            THEN 1 ELSE 0 END)) AS INT) AS hamming
      FROM pairs p
      JOIN fp fa ON fa.doc_id = p.id_a
      JOIN fp fb ON fb.doc_id = p.id_b)
    SELECT id_a, id_b, n_shared_bands, hamming
    FROM ham WHERE hamming <= 8 ORDER BY id_a, id_b
"""


ORACLES["simhash_md5_band_pairs"] = _simhash_md5_oracle_sql()


ORACLES["minhash_erasure_impact"] = f"""
    WITH {_MINHASH_BANDS},
    probe AS (SELECT DISTINCT band, bucket FROM band),
    {_DELTA_GUARD},
    cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                    greatest(a.doc_id, b.doc_id) AS id_b
             FROM band a
             JOIN band b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id <> b.doc_id),
    directed AS (
      SELECT id_a AS owner, id_b AS partner FROM cand
      UNION ALL
      SELECT id_b AS owner, id_a AS partner FROM cand),
    impact AS (
      SELECT owner AS doc_id,
             CAST(SUM(CASE WHEN partner % 17 = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS partners_lost,
             CAST(SUM(CASE WHEN partner % 17 = 0 THEN 0 ELSE 1 END)
                  AS BIGINT) AS partners_left
      FROM directed WHERE owner % 17 <> 0 GROUP BY 1)
    SELECT doc_id + guard.z AS doc_id, partners_lost, partners_left
    FROM impact, guard WHERE partners_lost >= 1 ORDER BY 1
"""


ORACLES["source_temperature_budget"] = f"""
    WITH per AS (
      SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS raw_tokens
      FROM documents GROUP BY 1),
    tempered AS (
      SELECT source, raw_tokens,
             CAST(floor(sqrt(CAST(raw_tokens AS DOUBLE)) * 1048576.0)
                  AS BIGINT) AS temp_weight
      FROM per),
    tot AS (SELECT SUM(temp_weight) AS wt,
                   (SUM(temp_weight) * 1) // 2 AS bt,
                   MAX(temp_weight) AS wmax FROM tempered),
    -- mirrored in-plan overflow guard (sampling.py::
    -- largest_remainder_allocation): bt*w must stay inside int64
    tchk AS (SELECT wt,
                    CASE WHEN bt <= 9223372036854775807 // greatest(wmax, 1)
                         THEN bt
                         ELSE error('largest_remainder_allocation: '
                                    || 'budget*weight exceeds int64 (total '
                                    || 'weight ' || CAST(wt AS VARCHAR)
                                    || ') — rescale weights before '
                                    || 'apportioning') END AS bt
             FROM tot),
    quoted AS (
      SELECT source, raw_tokens, temp_weight, wt, bt,
             (bt * temp_weight) // wt AS base_q,
             (bt * temp_weight) % wt AS rem
      FROM tempered, tchk),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk,
             bt - SUM(base_q) OVER () AS leftover
      FROM quoted)
    SELECT source, raw_tokens, temp_weight,
           CAST(base_q AS BIGINT) AS base_alloc,
           CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra,
           CAST(base_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS final_alloc
    FROM ranked ORDER BY source
"""


# ---------------------------------------------------------------- r12:
# rows-only shrink — the md5-deterministic twins that upgrade three
# long-standing rows-only entries to full hash verification.

ORACLES["stratified_sample_docs"] = """
    SELECT doc_id, lang FROM documents
    WHERE (CAST('0x' || substring(md5('strat|' || CAST(doc_id AS VARCHAR)),
                                  1, 8) AS BIGINT) % 1000000) / 1000000.0
          < CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.5
                      WHEN 'fr' THEN 0.5 WHEN 'es' THEN 0.5
                      WHEN 'zh' THEN 0.5 END
"""


# ann_lsh_topk: the md5-frozen sign planes (functions/vectors.py::
# rp_signs, seed "ann-lsh-r12") embedded as literals; buckets, the
# hamming<=2 multiprobe set, and the cosine top-k all replayed exactly
# (the knn fold + rp_lsh sign-matrix disciplines combined).
def _ann_lsh_topk_oracle_sql() -> str:
    from ..functions.vectors import rp_signs

    signs = rp_signs(64, 6, seed="ann-lsh-r12")
    ycols = []
    for j, row in enumerate(signs):
        arr = "[" + ", ".join(f"{float(s):.1f}" for s in row) + "]"
        ycols.append(
            f"list_sum(list_transform(generate_series(1, 64),\n"
            f"    i -> CAST(embedding[i] AS DOUBLE) * ({arr})[i]))"
            f" AS y{j:02d}"
        )
    y_sql = ",\n           ".join(ycols)
    bucket_sql = " + ".join(
        f"(CASE WHEN y{j:02d} > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(6)
    )
    ham_sql = " + ".join(
        f"(CASE WHEN ((b.bucket // {1 << j}) % 2)"
        f" <> ((q.bucket // {1 << j}) % 2) THEN 1 ELSE 0 END)"
        for j in range(6)
    )
    return f"""
    WITH proj AS (
      SELECT vec_id, embedding,
           {y_sql}
      FROM embeddings),
    bk AS (SELECT vec_id, embedding, {bucket_sql} AS bucket FROM proj),
    q AS (SELECT bucket, embedding AS qv FROM bk WHERE vec_id = 0),
    cand AS (SELECT b.vec_id, b.embedding, q.qv FROM bk b, q
             WHERE {ham_sql} <= 2),
    scored AS (
      SELECT vec_id,
             list_sum(list_transform(generate_series(1, len(embedding)),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(qv[i] AS DOUBLE)))
             / NULLIF(
               sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(qv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0)
               AS cos_raw
      FROM cand)
    SELECT vec_id, ROUND(cos_raw, 6) AS cosine
    FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
"""


ORACLES["ann_lsh_topk"] = _ann_lsh_topk_oracle_sql()


# duplicate_cluster_sizes: md5 band candidates (the _MINHASH_BANDS /
# _DELTA_GUARD machinery) + the ITERATIVE min-label closure replayed
# as a recursive transitive-closure CTE — cluster = min reachable id,
# exactly duplicate_clusters' fixed point.
ORACLES["duplicate_cluster_sizes"] = f"""
    WITH RECURSIVE {_MINHASH_BANDS},
    probe AS (SELECT DISTINCT band, bucket FROM band),
    {_DELTA_GUARD},
    cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                    greatest(a.doc_id, b.doc_id) AS id_b
             FROM band a
             JOIN band b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id <> b.doc_id),
    edges AS (SELECT id_a AS u, id_b AS v FROM cand
              UNION SELECT id_b AS u, id_a AS v FROM cand),
    walk(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u),
    comp AS (SELECT u AS doc, LEAST(u, MIN(v)) AS cluster
             FROM walk GROUP BY u),
    sizes AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS cluster_size
              FROM comp GROUP BY 1)
    SELECT cluster_size,
           CAST(COUNT(*) AS BIGINT) + guard.z AS n_clusters
    FROM sizes, guard GROUP BY cluster_size, guard.z
    ORDER BY cluster_size
"""


# ---------------------------------------------------------------- r12:
# §2c-undecies batch A.

ORACLES["ngram_containment_pairs"] = f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(toks) - 2, 0)),
               i -> array_to_string(list_slice(toks, i, i + 2), ' '))))
             AS shingle
           FROM t),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
    live AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING COUNT(*) BETWEEN 2 AND 500),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     COUNT(*) AS n_inter
              FROM sh a
              JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              JOIN live l ON l.shingle = a.shingle
              GROUP BY 1, 2),
    directed AS (
      SELECT id_a AS src, id_b AS dst, n_inter FROM inter
      UNION ALL
      SELECT id_b AS src, id_a AS dst, n_inter FROM inter)
    SELECT src AS id_a, dst AS id_b,
           ROUND(CAST(n_inter AS DOUBLE) / s.set_size, 6) AS containment
    FROM directed d JOIN sizes s ON s.doc_id = d.src
    WHERE s.set_size >= 5
      AND ROUND(CAST(n_inter AS DOUBLE) / s.set_size, 6) >= 0.8
    ORDER BY 1, 2
"""

ORACLES["source_copy_rate"] = """
    WITH keyed AS (SELECT source, doc_id, md5(text) AS h FROM documents),
    firsts AS (SELECT h, MIN(doc_id) AS first_id FROM keyed GROUP BY h),
    fl AS (SELECT source,
                  CASE WHEN doc_id > first_id THEN 1 ELSE 0 END AS cp
           FROM keyed JOIN firsts USING (h))
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(cp) AS BIGINT) AS n_copies,
           ROUND(CAST(SUM(cp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS copy_rate
    FROM fl GROUP BY source ORDER BY source
"""

ORACLES["matryoshka_recall_eval"] = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.query_id, e.vec_id,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
                  i -> CAST(e.embedding[i] AS DOUBLE)
                       * CAST(q.qv[i] AS DOUBLE)))
             / NULLIF(
               sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0)
               AS cos_f,
             list_sum(list_transform(generate_series(1, 16),
                  i -> CAST(e.embedding[i] AS DOUBLE)
                       * CAST(q.qv[i] AS DOUBLE)))
             / NULLIF(
               sqrt(list_sum(list_transform(generate_series(1, 16),
                    i -> CAST(e.embedding[i] AS DOUBLE)
                         * CAST(e.embedding[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(generate_series(1, 16),
                    i -> CAST(q.qv[i] AS DOUBLE)
                         * CAST(q.qv[i] AS DOUBLE)))), 0.0)
               AS cos_t
      FROM embeddings e, q),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_f DESC, vec_id ASC) AS rf,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_t DESC, vec_id ASC) AS rt
      FROM scored),
    hits AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM ranked WHERE rf <= 10 AND rt <= 10 GROUP BY 1)
    SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 10.0, 6)
             AS recall_at_10
    FROM q LEFT JOIN hits h USING (query_id)
    ORDER BY q.query_id
"""

ORACLES["srm_split_balance"] = """
    WITH s AS (
      SELECT lang,
             CASE WHEN (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                                               1, 8) AS BIGINT) % 100) < 50
                  THEN 1 ELSE 0 END AS tr
      FROM documents),
    a AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_total,
                 CAST(SUM(tr) AS BIGINT) AS n_train
          FROM s GROUP BY 1)
    SELECT lang, n_total, n_train,
           CAST(n_total - n_train AS BIGINT) AS n_eval,
           ROUND((CAST(n_train AS DOUBLE) - CAST(n_total AS DOUBLE) * 0.5)
                 / sqrt(CAST(n_total AS DOUBLE) * 0.5 * 0.5), 6) AS z,
           abs(ROUND((CAST(n_train AS DOUBLE)
                      - CAST(n_total AS DOUBLE) * 0.5)
                 / sqrt(CAST(n_total AS DOUBLE) * 0.5 * 0.5), 6)) > 3.0
             AS srm_flag
    FROM a ORDER BY lang
"""

ORACLES["term_topk_churn"] = f"""
    WITH t AS (SELECT CASE WHEN doc_id % 2 = 0 THEN 'a' ELSE 'b' END
                 AS side,
               unnest({_TOKS}) AS term
               FROM documents),
    c AS (SELECT side, term AS key, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM t GROUP BY 1, 2),
    r AS (SELECT side, key, cnt,
                 ROW_NUMBER() OVER (PARTITION BY side
                                    ORDER BY cnt DESC, key ASC) AS rk
          FROM c),
    ka AS (SELECT key, cnt AS count_a, CAST(rk AS INT) AS rank_a
           FROM r WHERE side = 'a' AND rk <= 20),
    kb AS (SELECT key, cnt AS count_b, CAST(rk AS INT) AS rank_b
           FROM r WHERE side = 'b' AND rk <= 20)
    SELECT COALESCE(ka.key, kb.key) AS key,
           count_a, rank_a, count_b, rank_b,
           CASE WHEN rank_a IS NULL THEN 'in'
                WHEN rank_b IS NULL THEN 'out'
                WHEN rank_a = rank_b THEN 'held'
                ELSE 'moved' END AS status
    FROM ka FULL OUTER JOIN kb ON ka.key = kb.key
    ORDER BY COALESCE(rank_a, 21), COALESCE(ka.key, kb.key)
"""

ORACLES["event_lag_burn_rate"] = """
    WITH f AS (
      SELECT ts,
             CASE WHEN (event_id % 600)
                       + (CASE WHEN event_id % 7 = 0
                               THEN 14400 ELSE 0 END) > 600
                  THEN 1 ELSE 0 END AS viol
      FROM events),
    a AS (SELECT date_trunc('hour', ts) AS window_start,
                 CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(viol) AS BIGINT) AS n_viol,
                 CAST(SUM(CASE WHEN EXTRACT(minute FROM ts) >= 55
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
                 CAST(SUM(CASE WHEN EXTRACT(minute FROM ts) >= 55
                               THEN viol ELSE 0 END) AS BIGINT)
                   AS n_tail_viol
          FROM f GROUP BY 1)
    SELECT window_start, n, n_viol,
           ROUND(CAST(n_viol AS DOUBLE) / CAST(n AS DOUBLE) / 0.14, 6)
             AS burn_full,
           n_tail, n_tail_viol,
           ROUND(CAST(n_tail_viol AS DOUBLE)
                 / NULLIF(CAST(n_tail AS DOUBLE), 0.0) / 0.14, 6)
             AS burn_tail,
           (ROUND(CAST(n_viol AS DOUBLE) / CAST(n AS DOUBLE) / 0.14, 6)
              > 1.0)
           AND COALESCE(
               ROUND(CAST(n_tail_viol AS DOUBLE)
                     / NULLIF(CAST(n_tail AS DOUBLE), 0.0) / 0.14, 6)
                 > 1.0, FALSE) AS alert
    FROM a ORDER BY window_start
"""

ORACLES["floored_mixture_budget"] = f"""
    WITH per AS (
      SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS w
      FROM documents GROUP BY 1),
    tot AS (SELECT SUM(w) AS wt, (SUM(w) * 1) // 2 AS bt,
                   COUNT(*) AS nc, MAX(w) AS wmax FROM per),
    -- mirrored in-plan guards (sampling.py::floored_allocation):
    -- floor feasibility, then the Hamilton int64 overflow bound
    spec AS (SELECT wt, wmax, bt,
                    CASE WHEN 5 * nc <= 100 THEN (bt * 5) // 100
                         ELSE error('floored_allocation: floor_pct=5 x '
                                    || CAST(nc AS VARCHAR)
                                    || ' classes exceeds 100% of the '
                                    || 'budget') END AS fl,
                    bt - ((bt * 5) // 100) * nc AS rest
             FROM tot),
    spec2 AS (SELECT wt, bt, fl,
                     CASE WHEN rest <= 9223372036854775807
                                       // greatest(wmax, 1)
                          THEN rest
                          ELSE error('floored_allocation: rest*weight '
                                     || 'exceeds int64') END AS rb
              FROM spec),
    quoted AS (
      SELECT source, w, fl, (rb * w) // wt AS base_q,
             (rb * w) % wt AS rem, rb
      FROM per, spec2),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem DESC, source ASC) AS rk,
             rb - SUM(base_q) OVER () AS leftover
      FROM quoted)
    SELECT source, w AS weight,
           CAST(fl AS BIGINT) AS floor_alloc,
           CAST(base_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS prop_alloc,
           CAST(fl + base_q + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS final_alloc
    FROM ranked ORDER BY source
"""


# §2c-undecies batch B.

ORACLES["dedup_canonical_docs"] = f"""
    WITH RECURSIVE {_MINHASH_BANDS},
    probe AS (SELECT DISTINCT band, bucket FROM band),
    {_DELTA_GUARD},
    cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                    greatest(a.doc_id, b.doc_id) AS id_b
             FROM band a
             JOIN band b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id <> b.doc_id),
    edges AS (SELECT id_a AS u, id_b AS v FROM cand
              UNION SELECT id_b AS u, id_a AS v FROM cand),
    walk(u, v) AS (
        SELECT u, v FROM edges
        UNION
        SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u),
    comp AS (SELECT u AS doc, LEAST(u, MIN(v)) AS cluster
             FROM walk GROUP BY u),
    member AS (SELECT c.doc, c.cluster, d.n_chars
               FROM comp c JOIN documents d ON d.doc_id = c.doc),
    pick AS (SELECT cluster, doc, n_chars,
                    ROW_NUMBER() OVER (PARTITION BY cluster
                        ORDER BY n_chars DESC, doc ASC) AS rn,
                    COUNT(*) OVER (PARTITION BY cluster) AS n_members
             FROM member)
    SELECT cluster + guard.z AS cluster, doc AS canonical_id,
           CAST(n_members AS BIGINT) AS n_members,
           CAST(n_members - 1 AS BIGINT) AS n_dropped
    FROM pick, guard WHERE rn = 1 ORDER BY 1
"""


# lsh_band_sweep_eval: per-config band keys re-derived from the SAME
# sig CTE; each config carries the mirrored delta-guard on its own
# buckets, and truth thresholds on ROUND(j, 6) like ngram_jaccard.
def _lsh_band_sweep_oracle_sql() -> str:
    truth = """
    live AS (SELECT shingle FROM sh GROUP BY shingle
             HAVING COUNT(*) > 1 AND COUNT(*) <= 500),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS s
           FROM sh GROUP BY 1),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(COUNT(*) AS BIGINT) AS i
              FROM sh a
              JOIN live l ON l.shingle = a.shingle
              JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    truth AS (SELECT id_a, id_b FROM inter
              JOIN sz sa ON sa.doc_id = id_a
              JOIN sz sb ON sb.doc_id = id_b
              WHERE ROUND(CAST(i AS DOUBLE) / (sa.s + sb.s - i), 6) >= 0.5),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs FROM truth)"""
    blocks, selects = [], []
    for bands in (2, 3, 4, 6):
        r = 12 // bands
        blocks.append(f"""
    band{bands} AS (SELECT doc_id, CAST(i // {r} AS INT) AS band,
                    md5(string_agg(m, '|' ORDER BY i)) AS bucket
             FROM sig GROUP BY doc_id, i // {r}),
    guard{bands} AS (
      SELECT COALESCE(MAX(CASE WHEN c <= 256 THEN 0
                 ELSE error('delta_candidate_pairs: band bucket size '
                            || CAST(c AS VARCHAR)
                            || ' exceeds max_bucket=256') END), 0) AS z
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c
            FROM band{bands} GROUP BY band, bucket)),
    cand{bands} AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                    greatest(a.doc_id, b.doc_id) AS id_b
             FROM band{bands} a
             JOIN band{bands} b ON a.band = b.band AND a.bucket = b.bucket
                        AND a.doc_id <> b.doc_id),
    nc{bands} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates
                  FROM cand{bands}),
    nh{bands} AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits
                  FROM truth t JOIN cand{bands} c
                    ON t.id_a = c.id_a AND t.id_b = c.id_b)""")
        selects.append(f"""
    SELECT CAST({bands} AS INT) AS bands,
           CAST({r} AS INT) AS rows_per_band,
           nt.n_true_pairs,
           nc{bands}.n_candidates + guard{bands}.z AS n_candidates,
           nh{bands}.n_hits,
           ROUND(CAST(nh{bands}.n_hits AS DOUBLE)
                 / NULLIF(CAST(nt.n_true_pairs AS DOUBLE), 0.0), 6)
             AS recall,
           ROUND(CAST(nh{bands}.n_hits AS DOUBLE)
                 / NULLIF(CAST(nc{bands}.n_candidates AS DOUBLE), 0.0), 6)
             AS precision
    FROM nt, nc{bands}, nh{bands}, guard{bands}""")
    union = "\n    UNION ALL\n".join(selects)
    return (
        f"""
    WITH {_MINHASH_BANDS},
    {truth},
    {','.join(blocks)}
    SELECT * FROM (
    {union}
    ) ORDER BY bands
"""
    )


ORACLES["lsh_band_sweep_eval"] = _lsh_band_sweep_oracle_sql()

ORACLES["pq_ann_recall_eval"] = """
    WITH cb AS (SELECT vec_id AS c, embedding AS cv
                FROM embeddings WHERE vec_id < 16),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id % 50 = 0),
    dist AS (
      SELECT e.vec_id, s.s, cb.c,
             list_sum(list_transform(generate_series(1, 8),
                 i -> (CAST(e.embedding[s.s * 8 + i] AS DOUBLE)
                       - CAST(cb.cv[s.s * 8 + i] AS DOUBLE))
                      * (CAST(e.embedding[s.s * 8 + i] AS DOUBLE)
                         - CAST(cb.cv[s.s * 8 + i] AS DOUBLE)))) AS d
      FROM embeddings e, generate_series(0, 7) s(s), cb),
    asg AS (SELECT vec_id, s, c AS a FROM (
              SELECT vec_id, s, c,
                     ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                        ORDER BY d ASC, c ASC) AS rn
              FROM dist)
            WHERE rn = 1),
    term AS (
      SELECT q.query_id, a.vec_id, a.s,
             list_sum(list_transform(generate_series(1, 8),
                 i -> CAST(q.qv[a.s * 8 + i] AS DOUBLE)
                      * CAST(cb.cv[a.s * 8 + i] AS DOUBLE))) AS t
      FROM asg a JOIN cb ON cb.c = a.a, q),
    adc AS (
      SELECT query_id, vec_id,
             MAX(CASE WHEN s = 0 THEN t END) AS t0,
             MAX(CASE WHEN s = 1 THEN t END) AS t1,
             MAX(CASE WHEN s = 2 THEN t END) AS t2,
             MAX(CASE WHEN s = 3 THEN t END) AS t3,
             MAX(CASE WHEN s = 4 THEN t END) AS t4,
             MAX(CASE WHEN s = 5 THEN t END) AS t5,
             MAX(CASE WHEN s = 6 THEN t END) AS t6,
             MAX(CASE WHEN s = 7 THEN t END) AS t7
      FROM term GROUP BY 1, 2),
    ex AS (
      SELECT q.query_id, e.vec_id,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
                 i -> CAST(e.embedding[i] AS DOUBLE)
                      * CAST(q.qv[i] AS DOUBLE))) AS dot_exact
      FROM embeddings e, q),
    scored AS (
      SELECT ex.query_id, ex.vec_id, ex.dot_exact,
             ((((((adc.t0 + adc.t1) + adc.t2) + adc.t3) + adc.t4)
               + adc.t5) + adc.t6) + adc.t7 AS dot_adc
      FROM ex JOIN adc ON adc.query_id = ex.query_id
                      AND adc.vec_id = ex.vec_id),
    ranked AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot_exact DESC, vec_id ASC) AS re,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY dot_adc DESC, vec_id ASC) AS ra
      FROM scored),
    hits AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_hits
             FROM ranked WHERE re <= 10 AND ra <= 10 GROUP BY 1)
    SELECT q.query_id, COALESCE(h.n_hits, 0) AS n_hits,
           ROUND(CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / 10.0, 6)
             AS recall_at_10
    FROM q LEFT JOIN hits h USING (query_id)
    ORDER BY q.query_id
"""

ORACLES["ivf_ann_recall_eval"] = """
    WITH ct AS (SELECT vec_id AS j, embedding AS cv
                FROM embeddings WHERE vec_id < 8),
    d AS (
      SELECT e.vec_id, ct.j,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
                 i -> (CAST(e.embedding[i] AS DOUBLE)
                       - CAST(ct.cv[i] AS DOUBLE))
                      * (CAST(e.embedding[i] AS DOUBLE)
                         - CAST(ct.cv[i] AS DOUBLE)))) AS d
      FROM embeddings e, ct),
    asg AS (SELECT vec_id, j AS a FROM (
              SELECT vec_id, j, d,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY d ASC, j ASC) AS rn
              FROM d)
            WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv
          FROM embeddings WHERE vec_id % 50 = 0),
    qd AS (SELECT q.query_id, d.j, d.d FROM d
           JOIN q ON d.vec_id = q.query_id),
    pr AS (
      SELECT qa.query_id, v.vec_id,
             1 + SUM(CASE WHEN (qd.d < qa.d)
                            OR (qd.d = qa.d AND qd.j < v.a)
                          THEN 1 ELSE 0 END) AS rank_a
      FROM asg v
      JOIN qd qa ON qa.j = v.a
      JOIN qd ON qd.query_id = qa.query_id
      GROUP BY 1, 2, qa.d, v.a),
    scanned AS (SELECT query_id, vec_id, (rank_a <= 3) AS scanned
                FROM pr),
    cosf AS (
      SELECT q.query_id, e.vec_id,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
                  i -> CAST(e.embedding[i] AS DOUBLE)
                       * CAST(q.qv[i] AS DOUBLE)))
             / NULLIF(
               sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0)
               AS cos_f
      FROM embeddings e, q),
    ranked_e AS (
      SELECT query_id, vec_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_f DESC, vec_id ASC) AS re
      FROM cosf),
    ranked_a AS (
      SELECT c.query_id, c.vec_id,
             ROW_NUMBER() OVER (PARTITION BY c.query_id
                                ORDER BY c.cos_f DESC, c.vec_id ASC) AS ra
      FROM cosf c JOIN scanned s ON s.query_id = c.query_id
                                AND s.vec_id = c.vec_id
      WHERE s.scanned),
    perq AS (
      SELECT e.query_id,
             CAST(SUM(CASE WHEN e.re <= 10 AND a.ra <= 10
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM ranked_e e
      LEFT JOIN ranked_a a ON a.query_id = e.query_id
                          AND a.vec_id = e.vec_id
      GROUP BY 1),
    scn AS (SELECT query_id,
                   CAST(SUM(CASE WHEN scanned THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_scanned,
                   CAST(COUNT(*) AS BIGINT) AS n_total
            FROM scanned GROUP BY 1)
    SELECT q.query_id, COALESCE(p.n_hits, 0) AS n_hits,
           ROUND(CAST(COALESCE(p.n_hits, 0) AS DOUBLE) / 10.0, 6)
             AS recall_at_10,
           s.n_scanned,
           ROUND(CAST(s.n_scanned AS DOUBLE)
                 / CAST(s.n_total AS DOUBLE), 6) AS scan_frac
    FROM q
    LEFT JOIN perq p ON p.query_id = q.query_id
    JOIN scn s ON s.query_id = q.query_id
    ORDER BY q.query_id
"""


# §2c-undecies batch 2: concentration/tail/drift diagnostics, CDC
# composition, rank-similarity eval.

ORACLES["customer_revenue_gini"] = """
    WITH cents AS (
      SELECT o_custkey AS clazz,
             CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS w
      FROM orders GROUP BY 1),
    ranked AS (SELECT clazz, w,
                      ROW_NUMBER() OVER (ORDER BY w ASC, clazz ASC) AS i
               FROM cents),
    agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
                   CAST(SUM(w) AS BIGINT) AS total_weight,
                   MAX(w) AS wmax,
                   CAST(SUM(i * w) AS BIGINT) AS iw
            FROM ranked),
    -- mirrored in-plan overflow guard (profiling.py::gini_by_weight)
    chk AS (SELECT n_classes, total_weight,
                   CASE WHEN n_classes * n_classes
                             <= 9223372036854775807 // greatest(wmax, 1)
                        THEN iw
                        ELSE error('gini_by_weight: n^2 * wmax exceeds '
                                   || 'int64') END AS iw
            FROM agg)
    SELECT n_classes, total_weight,
           ROUND((2.0 * CAST(iw AS DOUBLE)
                  - (CAST(n_classes AS DOUBLE) + 1.0)
                    * CAST(total_weight AS DOUBLE))
                 / (CAST(n_classes AS DOUBLE)
                    * CAST(total_weight AS DOUBLE)), 6) AS gini
    FROM chk
"""

ORACLES["price_tail_hill_index"] = """
    WITH top AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
      WHERE o_totalprice IS NOT NULL
        AND CAST(o_totalprice AS DOUBLE) > 0
      ORDER BY v DESC LIMIT 101),
    arr AS (SELECT list_reverse_sort(list(v)) AS a FROM top)
    SELECT CAST(100 AS INT) AS k,
           ROUND(a[101], 6) AS threshold,
           ROUND(100.0 / list_sum(list_transform(a[1:100],
                 x -> ln(x / a[101]))), 6) AS alpha
    FROM arr
"""

ORACLES["length_ks_by_source"] = """
    WITH base AS (SELECT source AS grp, n_chars AS v FROM documents
                  WHERE n_chars IS NOT NULL),
    counts AS (SELECT grp, v, CAST(COUNT(*) AS BIGINT) AS c
               FROM base GROUP BY 1, 2),
    spine AS (SELECT DISTINCT v FROM base),
    groups AS (SELECT grp, CAST(SUM(c) AS BIGINT) AS n_g
               FROM counts GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM counts),
    grid AS (SELECT g.grp, s.v, g.n_g, COALESCE(c.c, 0) AS c
             FROM spine s CROSS JOIN groups g
             LEFT JOIN counts c ON c.grp = g.grp AND c.v = s.v),
    cum AS (SELECT grp, v, n_g,
                   CAST(SUM(c) OVER (PARTITION BY grp ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS cum_g
            FROM grid),
    cum2 AS (SELECT *,
                    CAST(SUM(cum_g) OVER (PARTITION BY v) AS BIGINT)
                      AS cum_all
             FROM cum),
    ks AS (SELECT grp, n_g,
                  ROUND(MAX(ABS(
                      CAST(cum_g AS DOUBLE) / CAST(n_g AS DOUBLE)
                      - CAST(cum_all - cum_g AS DOUBLE)
                        / CAST(n_all - n_g AS DOUBLE))), 6) AS ks
           FROM cum2, tot GROUP BY 1, 2)
    SELECT grp AS source, n_g AS n_group, ks, ks > 0.1 AS drifted
    FROM ks ORDER BY source
"""

ORACLES["changelog_net_effect"] = f"""
    WITH log AS ({_VLOG}),
    s1 AS (
      SELECT user_id, value FROM (
        SELECT user_id, value, (event_type = 'error') AS dead,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY txn_ts DESC, event_id DESC) AS rn
        FROM log WHERE txn_ts <= TIMESTAMP '2024-01-05 00:00:00')
      WHERE rn = 1 AND NOT dead
),
    s2 AS (
      SELECT user_id, value FROM (
        SELECT user_id, value, (event_type = 'error') AS dead,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY txn_ts DESC, event_id DESC) AS rn
        FROM log WHERE txn_ts <= TIMESTAMP '2024-01-12 00:00:00')
      WHERE rn = 1 AND NOT dead
),
    s3 AS (
      SELECT user_id, value FROM (
        SELECT user_id, value, (event_type = 'error') AS dead,
               row_number() OVER (PARTITION BY user_id
                 ORDER BY txn_ts DESC, event_id DESC) AS rn
        FROM log WHERE txn_ts <= TIMESTAMP '2024-01-19 00:00:00')
      WHERE rn = 1 AND NOT dead
),
    d12 AS (
      SELECT COALESCE(a.user_id, b.user_id) AS user_id,
             CASE WHEN a.user_id IS NULL THEN 'insert'
                  WHEN b.user_id IS NULL THEN 'delete'
                  WHEN a.value IS DISTINCT FROM b.value THEN 'update'
             END AS change_type,
             a.value AS old_value, b.value AS new_value
      FROM s1 a FULL OUTER JOIN s2 b ON a.user_id = b.user_id
      WHERE a.user_id IS NULL OR b.user_id IS NULL
            OR (a.value IS DISTINCT FROM b.value)
),
    d23 AS (
      SELECT COALESCE(a.user_id, b.user_id) AS user_id,
             CASE WHEN a.user_id IS NULL THEN 'insert'
                  WHEN b.user_id IS NULL THEN 'delete'
                  WHEN a.value IS DISTINCT FROM b.value THEN 'update'
             END AS change_type,
             a.value AS old_value, b.value AS new_value
      FROM s2 a FULL OUTER JOIN s3 b ON a.user_id = b.user_id
      WHERE a.user_id IS NULL OR b.user_id IS NULL
            OR (a.value IS DISTINCT FROM b.value)
),
    comp AS (
      SELECT COALESCE(a.user_id, b.user_id) AS user_id,
             CASE WHEN a.user_id IS NOT NULL
                  THEN a.change_type <> 'insert'
                  ELSE b.change_type <> 'insert' END AS in_old,
             CASE WHEN b.user_id IS NOT NULL
                  THEN b.change_type <> 'delete'
                  ELSE a.change_type <> 'delete' END AS in_new,
             CASE WHEN a.user_id IS NOT NULL
                  THEN a.old_value ELSE b.old_value END AS old_value,
             CASE WHEN b.user_id IS NOT NULL
                  THEN b.new_value ELSE a.new_value END AS new_value
      FROM d12 a FULL OUTER JOIN d23 b ON a.user_id = b.user_id),
    net AS (
      SELECT user_id,
             CASE WHEN NOT in_old AND in_new THEN 'insert'
                  WHEN in_old AND NOT in_new THEN 'delete'
                  WHEN in_old AND in_new
                       AND (old_value IS DISTINCT FROM new_value)
                  THEN 'update' END AS change_type,
             old_value, new_value
      FROM comp),
    netf AS (SELECT * FROM net WHERE change_type IS NOT NULL),
    direct AS (
      SELECT COALESCE(a.user_id, b.user_id) AS user_id,
             CASE WHEN a.user_id IS NULL THEN 'insert'
                  WHEN b.user_id IS NULL THEN 'delete'
                  WHEN a.value IS DISTINCT FROM b.value THEN 'update'
             END AS change_type,
             a.value AS old_value, b.value AS new_value
      FROM s1 a FULL OUTER JOIN s3 b ON a.user_id = b.user_id
      WHERE a.user_id IS NULL OR b.user_id IS NULL
            OR (a.value IS DISTINCT FROM b.value)
)
    SELECT n.user_id, n.change_type, n.old_value, n.new_value,
           (d.user_id IS NOT NULL) AS matches_direct
    FROM netf n LEFT JOIN direct d
      ON n.user_id = d.user_id AND n.change_type = d.change_type
     AND n.old_value IS NOT DISTINCT FROM d.old_value
     AND n.new_value IS NOT DISTINCT FROM d.new_value
    ORDER BY n.user_id
"""

ORACLES["matryoshka_rbo_eval"] = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv
               FROM embeddings WHERE vec_id % 50 = 0),
    scored AS (
      SELECT q.query_id, e.vec_id,
             list_sum(list_transform(generate_series(1, len(e.embedding)),
                  i -> CAST(e.embedding[i] AS DOUBLE)
                       * CAST(q.qv[i] AS DOUBLE)))
             / NULLIF(
               sqrt(list_sum(list_transform(e.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
               * sqrt(list_sum(list_transform(q.qv,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 0.0)
               AS cos_f,
             list_sum(list_transform(generate_series(1, 16),
                  i -> CAST(e.embedding[i] AS DOUBLE)
                       * CAST(q.qv[i] AS DOUBLE)))
             / NULLIF(
               sqrt(list_sum(list_transform(generate_series(1, 16),
                    i -> CAST(e.embedding[i] AS DOUBLE)
                         * CAST(e.embedding[i] AS DOUBLE))))
               * sqrt(list_sum(list_transform(generate_series(1, 16),
                    i -> CAST(q.qv[i] AS DOUBLE)
                         * CAST(q.qv[i] AS DOUBLE)))), 0.0)
               AS cos_t
      FROM embeddings e, q),
    ranked AS (
      SELECT query_id,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_f DESC, vec_id ASC) AS rf,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_t DESC, vec_id ASC) AS rt
      FROM scored),
    agg AS (
      SELECT query_id,
             CAST(COALESCE(SUM(CASE WHEN rf <= 1 AND rt <= 1 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o1,
             CAST(COALESCE(SUM(CASE WHEN rf <= 2 AND rt <= 2 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o2,
             CAST(COALESCE(SUM(CASE WHEN rf <= 3 AND rt <= 3 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o3,
             CAST(COALESCE(SUM(CASE WHEN rf <= 4 AND rt <= 4 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o4,
             CAST(COALESCE(SUM(CASE WHEN rf <= 5 AND rt <= 5 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o5,
             CAST(COALESCE(SUM(CASE WHEN rf <= 6 AND rt <= 6 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o6,
             CAST(COALESCE(SUM(CASE WHEN rf <= 7 AND rt <= 7 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o7,
             CAST(COALESCE(SUM(CASE WHEN rf <= 8 AND rt <= 8 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o8,
             CAST(COALESCE(SUM(CASE WHEN rf <= 9 AND rt <= 9 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o9,
             CAST(COALESCE(SUM(CASE WHEN rf <= 10 AND rt <= 10 THEN 1 ELSE 0 END), 0) AS BIGINT) AS o10
      FROM ranked GROUP BY 1)
    SELECT query_id, o10 AS overlap_at_10,
           ROUND((0.09999999999999998) * (((((((((((1.0) * (CAST(o1 AS DOUBLE) / 1.0)) + ((0.9) * (CAST(o2 AS DOUBLE) / 2.0))) + ((0.81) * (CAST(o3 AS DOUBLE) / 3.0))) + ((0.7290000000000001) * (CAST(o4 AS DOUBLE) / 4.0))) + ((0.6561) * (CAST(o5 AS DOUBLE) / 5.0))) + ((0.5904900000000001) * (CAST(o6 AS DOUBLE) / 6.0))) + ((0.531441) * (CAST(o7 AS DOUBLE) / 7.0))) + ((0.4782969000000001) * (CAST(o8 AS DOUBLE) / 8.0))) + ((0.4304672100000001) * (CAST(o9 AS DOUBLE) / 9.0))) + ((0.3874204890000001) * (CAST(o10 AS DOUBLE) / 10.0))), 6) AS rbo
    FROM agg ORDER BY query_id
"""

# ---------------------------------------------------------------- md5-HLL
# (r12 batch 3): the register scheme, merge, and BOTH estimator branches
# are imported from operators/hll.py so every constant — the frozen
# alpha·m²·2^61 numerator, the 256-cell linear-counting ln table, the
# string-domain rho chain — exists verbatim in both engines (the lnlut
# discipline).
from ..operators.hll import (  # noqa: E402
    estimate_sql as _hll_est,
    reg_sql as _hll_reg,
    rho_sql as _hll_rho,
    ssmall_sql as _hll_ssmall,
)

_HLL_EV_STATE = f"""
      SELECT event_type, {_hll_reg('hx')} AS reg, MAX({_hll_rho('hx')}) AS maxrho
      FROM (SELECT event_type, md5(CAST(user_id AS VARCHAR)) AS hx
            FROM events WHERE user_id IS NOT NULL)
      GROUP BY 1, 2"""

ORACLES["approx_distinct_users"] = f"""
    WITH st AS ({_HLL_EV_STATE}),
    a AS (SELECT event_type, COUNT(*) AS npres,
                 {_hll_ssmall('maxrho')} AS ssmall
          FROM st GROUP BY 1)
    SELECT event_type,
           ROUND({_hll_est('npres', 'ssmall')}, 4) AS approx_users
    FROM a ORDER BY event_type
"""

ORACLES["hll_md5_error_eval"] = f"""
    WITH st AS ({_HLL_EV_STATE}),
    a AS (SELECT event_type, COUNT(*) AS npres,
                 {_hll_ssmall('maxrho')} AS ssmall
          FROM st GROUP BY 1),
    est AS (SELECT event_type,
                   ROUND({_hll_est('npres', 'ssmall')}, 4) AS approx_users
            FROM a),
    ex AS (SELECT event_type,
                  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
           FROM events WHERE user_id IS NOT NULL GROUP BY 1)
    SELECT e.event_type, e.approx_users, x.exact_users,
           ROUND(abs(e.approx_users - CAST(x.exact_users AS DOUBLE))
                 / CAST(x.exact_users AS DOUBLE), 6) AS rel_error,
           (ROUND(abs(e.approx_users - CAST(x.exact_users AS DOUBLE))
                  / CAST(x.exact_users AS DOUBLE), 6) <= 0.195)
             AS within_3sigma
    FROM est e JOIN ex x USING (event_type)
    ORDER BY e.event_type
"""

ORACLES["hll_sketch_rollup_users"] = f"""
    WITH daily AS (
      SELECT day, event_type, {_hll_reg('hx')} AS reg,
             MAX({_hll_rho('hx')}) AS maxrho
      FROM (SELECT date_trunc('day', ts) AS day, event_type,
                   md5(CAST(user_id AS VARCHAR)) AS hx
            FROM events WHERE user_id IS NOT NULL)
      GROUP BY 1, 2, 3),
    rolled AS (SELECT event_type, reg, MAX(maxrho) AS maxrho
               FROM daily GROUP BY 1, 2),
    direct AS ({_HLL_EV_STATE}),
    nd AS (SELECT event_type, CAST(COUNT(DISTINCT day) AS BIGINT)
                  AS n_daily_sketches
           FROM daily GROUP BY 1),
    eq AS (SELECT COALESCE(r.event_type, d.event_type) AS event_type,
                  MIN(CASE WHEN r.maxrho = d.maxrho THEN 1 ELSE 0 END)
                    AS all_eq
           FROM rolled r FULL OUTER JOIN direct d
             ON r.event_type = d.event_type AND r.reg = d.reg
           GROUP BY 1),
    a AS (SELECT event_type, COUNT(*) AS npres,
                 {_hll_ssmall('maxrho')} AS ssmall
          FROM rolled GROUP BY 1)
    SELECT a.event_type,
           ROUND({_hll_est('npres', 'ssmall')}, 4) AS approx_users,
           nd.n_daily_sketches, (eq.all_eq = 1) AS matches_direct
    FROM a JOIN nd USING (event_type) JOIN eq USING (event_type)
    ORDER BY a.event_type
"""

ORACLES["sliding_distinct_users_hll"] = f"""
    WITH daily AS (
      SELECT day, {_hll_reg('hx')} AS reg, MAX({_hll_rho('hx')}) AS maxrho
      FROM (SELECT CAST(ts AS DATE) AS day,
                   md5(CAST(user_id AS VARCHAR)) AS hx
            FROM events WHERE user_id IS NOT NULL)
      GROUP BY 1, 2),
    spine AS (SELECT DISTINCT day FROM daily),
    win AS (SELECT s.day, d.reg, MAX(d.maxrho) AS maxrho
            FROM spine s JOIN daily d
              ON d.day <= s.day AND d.day >= s.day - 6
            GROUP BY 1, 2),
    a AS (SELECT day, COUNT(*) AS npres, {_hll_ssmall('maxrho')} AS ssmall
          FROM win GROUP BY 1)
    SELECT day, ROUND({_hll_est('npres', 'ssmall')}, 4) AS approx_users_7d
    FROM a ORDER BY day
"""

ORACLES["hll_click_purchase_overlap"] = f"""
    WITH sa AS (
      SELECT {_hll_reg('hx')} AS reg, MAX({_hll_rho('hx')}) AS maxrho
      FROM (SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events
            WHERE user_id IS NOT NULL AND event_type = 'click')
      GROUP BY 1),
    sb AS (
      SELECT {_hll_reg('hx')} AS reg, MAX({_hll_rho('hx')}) AS maxrho
      FROM (SELECT md5(CAST(user_id AS VARCHAR)) AS hx FROM events
            WHERE user_id IS NOT NULL AND event_type = 'purchase')
      GROUP BY 1),
    su AS (SELECT reg, MAX(maxrho) AS maxrho
           FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb)
           GROUP BY 1),
    ea AS (SELECT ROUND({_hll_est('COUNT(*)', _hll_ssmall('maxrho'))}, 4)
                    AS est_click_users FROM sa),
    eb AS (SELECT ROUND({_hll_est('COUNT(*)', _hll_ssmall('maxrho'))}, 4)
                    AS est_purchase_users FROM sb),
    eu AS (SELECT ROUND({_hll_est('COUNT(*)', _hll_ssmall('maxrho'))}, 4)
                    AS est_union FROM su),
    ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_intersection FROM (
             SELECT user_id FROM events
             WHERE user_id IS NOT NULL AND event_type = 'click'
             INTERSECT
             SELECT user_id FROM events
             WHERE user_id IS NOT NULL AND event_type = 'purchase'))
    SELECT est_click_users, est_purchase_users, est_union,
           ROUND(est_click_users + est_purchase_users - est_union, 4)
             AS est_intersection,
           exact_intersection,
           ROUND(abs(ROUND(est_click_users + est_purchase_users - est_union,
                           4)
                     - CAST(exact_intersection AS DOUBLE)), 4) AS abs_error
    FROM ea, eb, eu, ex
"""

# GK approx-quantile contract check (r12 rows-only upgrade): the
# estimate is engine-private, so the oracle releases the replayable
# columns — exact percentile (quantile_cont, the quantiles_quantity
# mirror), group size, and the in_band verdict ASSERTED from Spark's
# documented rank guarantee (rank error <= n/accuracy); a GK bound
# violation makes the Spark side emit false and the row go red.
ORACLES["approx_quantiles_quantity"] = """
    WITH qs AS (SELECT CAST(0.25 AS DOUBLE) AS q
                UNION ALL SELECT 0.5 UNION ALL SELECT 0.75),
    ex AS (SELECT l_returnflag,
                  ROUND(quantile_cont(l_quantity, 0.25), 6) AS e25,
                  ROUND(quantile_cont(l_quantity, 0.50), 6) AS e50,
                  ROUND(quantile_cont(l_quantity, 0.75), 6) AS e75,
                  CAST(COUNT(*) AS BIGINT) AS n_rows
           FROM lineitem GROUP BY 1)
    SELECT ex.l_returnflag, qs.q,
           CASE qs.q WHEN 0.25 THEN e25 WHEN 0.5 THEN e50
                     ELSE e75 END AS exact_pct,
           ex.n_rows, TRUE AS in_band
    FROM ex, qs
    ORDER BY ex.l_returnflag, qs.q
"""

# AMS tug-of-war F2 (r12 batch 3): md5-parity signs, exact BIGINT
# counters, DECIMAL(38,0) squares, one cast + one division — the whole
# estimator replays, so the verdict is measured on both engines.
ORACLES["ams_f2_sketch_eval"] = """
    WITH signs AS (
      SELECT js.j,
             CAST(SUM(1 - 2*(CAST('0x' || substring(
                 md5((CASE WHEN js.j < 32 THEN 'a|' ELSE 'b|' END)
                     || CAST(e.user_id AS VARCHAR)),
                 CAST(js.j % 32 + 1 AS INT), 1) AS INT) % 2))
               AS BIGINT) AS x
      FROM events e, (SELECT range AS j FROM range(64)) js
      WHERE e.user_id IS NOT NULL
      GROUP BY js.j),
    est AS (
      SELECT ROUND(CAST(SUM(CAST(CAST(x AS DECIMAL(19,0))
                                 * CAST(x AS DECIMAL(19,0))
                            AS DECIMAL(38,0))) AS DOUBLE) / 64.0, 4)
               AS est_f2
      FROM signs),
    ex AS (
      SELECT CAST(SUM(CAST(CAST(f AS DECIMAL(19,0))
                           * CAST(f AS DECIMAL(19,0))
                      AS DECIMAL(38,0))) AS DOUBLE) AS exact_f2
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS f FROM events
            WHERE user_id IS NOT NULL GROUP BY user_id))
    SELECT est_f2, exact_f2,
           ROUND(abs(est_f2 - exact_f2) / exact_f2, 6) AS rel_error,
           (ROUND(abs(est_f2 - exact_f2) / exact_f2, 6) <= 0.53033)
             AS within_3sigma
    FROM est, ex
"""

# Bloom FPR eval (r12 batch 3): the oracle rebuilds the filter as a
# bit SET (membership is equivalent to the word signature), the same
# 8-nibble md5 probe arithmetic, and the identical one-sqrt verdict
# chain — so measured FPR, load, and the 3-sigma verdict all replay.
_BLOOM_NBITS = 64 * 62


def _bloom_bit(salt: str, expr: str) -> str:
    return (
        f"(CAST('0x' || substring(md5('{salt}:' || CAST(({expr}) AS VARCHAR)),"
        f" 1, 8) AS BIGINT) % {_BLOOM_NBITS})"
    )


ORACLES["bloom_fpr_eval"] = f"""
    WITH keys AS (SELECT c_custkey AS k FROM customer
                  WHERE c_custkey IS NOT NULL),
    bits AS (SELECT DISTINCT bit FROM (
               SELECT {_bloom_bit('b1', 'k')} AS bit FROM keys
               UNION ALL
               SELECT {_bloom_bit('b2', 'k')} AS bit FROM keys)),
    nk AS (SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS n_keys FROM keys),
    bs AS (SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM bits),
    probes AS (SELECT -CAST(range AS BIGINT) AS p FROM range(1, 2049)),
    pb AS (SELECT p, {_bloom_bit('b1', 'p')} AS bit1,
                  {_bloom_bit('b2', 'p')} AS bit2
           FROM probes),
    pa AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
                  CAST(SUM(CASE WHEN bit1 IN (SELECT bit FROM bits)
                                 AND bit2 IN (SELECT bit FROM bits)
                                THEN 1 ELSE 0 END) AS BIGINT)
                    AS n_false_pass
           FROM pb)
    SELECT nk.n_keys, CAST({_BLOOM_NBITS} AS BIGINT) AS n_bits, bs.bits_set,
           ROUND(CAST(bs.bits_set AS DOUBLE) / {float(_BLOOM_NBITS)!r}, 6)
             AS load_rho,
           pa.n_probes, pa.n_false_pass,
           ROUND(CAST(pa.n_false_pass AS DOUBLE)
                 / CAST(pa.n_probes AS DOUBLE), 6) AS measured_fpr,
           ROUND((CAST(bs.bits_set AS DOUBLE) / {float(_BLOOM_NBITS)!r})
                 * (CAST(bs.bits_set AS DOUBLE) / {float(_BLOOM_NBITS)!r}), 6)
             AS expected_fpr,
           (abs(CAST(pa.n_false_pass AS DOUBLE)
                  / CAST(pa.n_probes AS DOUBLE)
                - (CAST(bs.bits_set AS DOUBLE) / {float(_BLOOM_NBITS)!r})
                  * (CAST(bs.bits_set AS DOUBLE) / {float(_BLOOM_NBITS)!r}))
            <= 3.0 * sqrt(((CAST(bs.bits_set AS DOUBLE)
                              / {float(_BLOOM_NBITS)!r})
                           * (CAST(bs.bits_set AS DOUBLE)
                              / {float(_BLOOM_NBITS)!r}))
                          * (1.0 - (CAST(bs.bits_set AS DOUBLE)
                                      / {float(_BLOOM_NBITS)!r})
                                   * (CAST(bs.bits_set AS DOUBLE)
                                      / {float(_BLOOM_NBITS)!r}))
                          / CAST(pa.n_probes AS DOUBLE))
               + 2.0 / CAST(pa.n_probes AS DOUBLE)) AS within_3sigma
    FROM nk, bs, pa
"""

# daily-revenue ACF (r12 batch 3): exact decimal daily sums + per-lag
# decimal moments, one double cast each, the closed_form_corr_ols
# finalizer chain verbatim (nd*sxy - sx*sy over sqrt*sqrt), NULL on a
# zero-variance side in both engines.
ORACLES["daily_revenue_acf"] = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    lags AS (SELECT CAST(range AS INT) AS lag FROM range(1, 8)),
    pairs AS (
      SELECT l.lag, a.rev AS x, b.rev AS y
      FROM daily a CROSS JOIN lags l
      JOIN daily b ON b.day = a.day + l.lag),
    s AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x*y) AS DOUBLE) AS sxy,
             CAST(SUM(x*x) AS DOUBLE) AS sxx,
             CAST(SUM(y*y) AS DOUBLE) AS syy
      FROM pairs GROUP BY lag)
    SELECT lag, n_pairs,
           ROUND(CASE WHEN sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                           * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)
                          <> 0.0
                      THEN (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
                           / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                              * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy))
                 END, 6) AS acf
    FROM s ORDER BY lag
"""

# LTTB k=7 (r12 rows-only upgrade): the 5-pick recurrence unrolled as
# chained CTEs over integer cents — bucket boundaries, scaled-integer
# doubled areas (DECIMAL(19,0)x(19,0) cross products), earliest-index
# tie-break, every pick replayed.


def _lttb_stage_sql(b: int, prev: str) -> str:
    """One pick stage: candidates of bucket b x prev pick x centroid
    stats -> rank-1 by (area2 DESC, i ASC)."""
    return f"""
    s{b} AS (
      SELECT c.user_id, c.i, c.v,
             abs(CAST(CAST(c.i - p.pi AS DECIMAL(19,0))
                      * CAST(cs.csy{b} - cs.cc{b} * p.py AS DECIMAL(19,0))
                  AS DECIMAL(38,0))
                 - CAST(CAST(cs.csx{b} - cs.cc{b} * p.pi AS DECIMAL(19,0))
                        * CAST(c.v - p.py AS DECIMAL(19,0))
                    AS DECIMAL(38,0))) AS a2
      FROM cands c
      JOIN {prev} p USING (user_id)
      JOIN cstats cs USING (user_id)
      WHERE c.b = {b}),
    p{b + 1} AS (
      SELECT user_id, i AS pi, v AS py FROM (
        SELECT user_id, i, v,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY a2 DESC, i ASC) AS rk
        FROM s{b})
      WHERE rk = 1)"""


def _lttb_bound(b: int) -> str:
    return f"(1 + (({b} * (n - 2)) // 5))"


_LTTB_CENT_COLS = ",\n".join(
    f"""           SUM(CASE WHEN i >= {_lttb_bound(b + 1)}
                    AND i < {_lttb_bound(b + 2) if b < 4 else 'n'}
                   THEN i END) AS csx{b},
           SUM(CASE WHEN i >= {_lttb_bound(b + 1)}
                    AND i < {_lttb_bound(b + 2) if b < 4 else 'n'}
                   THEN v END) AS csy{b},
           SUM(CASE WHEN i >= {_lttb_bound(b + 1)}
                    AND i < {_lttb_bound(b + 2) if b < 4 else 'n'}
                   THEN 1 ELSE 0 END) AS cc{b}"""
    for b in range(5)
)

_LTTB_STAGES = ",".join(
    _lttb_stage_sql(b, f"p{b}") for b in range(5)
)

ORACLES["lttb_daily_value_downsample"] = f"""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             CAST(ROUND(SUM(CAST(value AS DECIMAL(38,6))), 2) * 100
                  AS BIGINT) AS cents
      FROM events GROUP BY 1, 2),
    series AS (
      SELECT user_id, day, cents,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) - 1 AS i,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM daily),
    cands AS (
      SELECT user_id, i, cents AS v,
             CASE WHEN i < {_lttb_bound(1)} THEN 0
                  WHEN i < {_lttb_bound(2)} THEN 1
                  WHEN i < {_lttb_bound(3)} THEN 2
                  WHEN i < {_lttb_bound(4)} THEN 3
                  ELSE 4 END AS b
      FROM series WHERE n > 7 AND i >= 1 AND i <= n - 2),
    cstats AS (
      SELECT user_id,
{_LTTB_CENT_COLS}
      FROM (SELECT user_id, i, cents AS v, n FROM series WHERE n > 7)
      GROUP BY user_id),
    p0 AS (SELECT user_id, i AS pi, cents AS py FROM series
           WHERE n > 7 AND i = 0),
    {_LTTB_STAGES},
    lastp AS (SELECT user_id, i AS pi, cents AS py FROM series
              WHERE n > 7 AND i = n - 1),
    sel AS (SELECT user_id, pi FROM p0
            UNION ALL SELECT user_id, pi FROM p1
            UNION ALL SELECT user_id, pi FROM p2
            UNION ALL SELECT user_id, pi FROM p3
            UNION ALL SELECT user_id, pi FROM p4
            UNION ALL SELECT user_id, pi FROM p5
            UNION ALL SELECT user_id, pi FROM lastp)
    SELECT s.user_id, s.day,
           CAST(s.cents AS DOUBLE) / 100.0 AS daily_value,
           CAST(s.i AS INT) AS sel_index
    FROM series s
    LEFT JOIN sel ON sel.user_id = s.user_id AND sel.pi = s.i
    WHERE s.n <= 7 OR sel.pi IS NOT NULL
    ORDER BY s.user_id, s.day
"""

# DP noisy mean (r12 batch 4): the dp_noisy_counts chain twice — two
# independent keyed-noise lanes (salt|sum, salt|count), exact decimal
# clipping/sums, frozen-LUT ln, one double division with the count
# floored at 1.
ORACLES["dp_avg_order_value"] = f"""
    WITH agg AS (
      SELECT o_orderpriority AS priority,
             CAST(SUM(LEAST(GREATEST(CAST(o_totalprice AS DECIMAL(24,2)),
                                     CAST(0 AS DECIMAL(24,2))),
                            CAST('500000.0' AS DECIMAL(24,2))))
                  AS DECIMAL(24,2)) AS s,
             COUNT(*) AS n
      FROM orders GROUP BY 1),
    nz AS (
      SELECT priority, s, n,
             (CAST(CAST('0x' || substring(md5(
                    priority || chr(31) || 'avg-r12|sum'
                ), 1, 8) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS us,
             (CAST(CAST('0x' || substring(md5(
                    priority || chr(31) || 'avg-r12|count'
                ), 1, 8) AS BIGINT) AS DOUBLE) + 0.5) / 4294967296.0 AS uc
      FROM agg),
    gq AS (
      SELECT *,
             CAST(floor((1.0 - 2.0 * abs(us - 0.5)) * 1024.0) AS INT) AS gs,
             CAST(floor((1.0 - 2.0 * abs(uc - 0.5)) * 1024.0) AS INT) AS gc
      FROM nz),
    noised AS (
      SELECT priority,
             CAST(CAST(s AS DECIMAL(30,12))
                  + (CAST(0 AS DECIMAL(2,0))
                     - CASE WHEN us - 0.5 >= 0
                            THEN CAST(1 AS DECIMAL(2,0))
                            ELSE CAST(-1 AS DECIMAL(2,0)) END)
                    * ({_laplace_lut_sql()}[gs + 1])
                    * CAST('2000000.0' AS DECIMAL(14,6))
                  AS DECIMAL(38,12)) AS ns,
             CAST(CAST(n AS DECIMAL(19,0))
                  + (CAST(0 AS DECIMAL(2,0))
                     - CASE WHEN uc - 0.5 >= 0
                            THEN CAST(1 AS DECIMAL(2,0))
                            ELSE CAST(-1 AS DECIMAL(2,0)) END)
                    * ({_laplace_lut_sql()}[gc + 1])
                    * CAST('4.0' AS DECIMAL(14,6))
                  AS DECIMAL(38,12)) AS nn
      FROM gq)
    SELECT priority,
           CAST(ROUND(ns, 6) AS DOUBLE) AS noisy_sum,
           CAST(ROUND(nn, 6) AS DOUBLE) AS noisy_count,
           ROUND(CAST(ROUND(ns, 6) AS DOUBLE)
                 / CAST(ROUND(GREATEST(nn, CAST(1 AS DECIMAL(38,12))), 6)
                        AS DOUBLE), 6) AS noisy_avg
    FROM noised ORDER BY priority
"""

# r12 batch 4 time-series diagnostics: the shared exact-cents daily
# aggregate, STL-style decomposition (scale-7 integer detrending),
# Durbin-Levinson PACF over the ACF entry's own moment chain, and the
# seasonal-naive MASE gate.
_DAILY_CENTS = """
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(38,6))), 2) * 100
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1"""

ORACLES["daily_revenue_stl_profile"] = f"""
    WITH daily AS ({_DAILY_CENTS}),
    wt AS (
      SELECT day, cents, dayofweek(day) + 1 AS weekday,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN SUM(cents) OVER w END AS s7
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    wd AS (SELECT *, 7 * cents - s7 AS d7 FROM wt),
    seas AS (SELECT weekday, SUM(d7) AS sw, CAST(COUNT(*) AS BIGINT) AS nw
             FROM wd WHERE s7 IS NOT NULL GROUP BY 1)
    SELECT wd.day,
           CAST(wd.cents AS DOUBLE) / 100.0 AS revenue,
           ROUND(CAST(wd.s7 AS DOUBLE) / 700.0, 6) AS trend,
           ROUND(CAST(seas.sw AS DOUBLE)
                 / (CAST(seas.nw AS DOUBLE) * 700.0), 6) AS seasonal,
           ROUND(CAST(wd.cents AS DOUBLE) / 100.0
                 - CAST(wd.s7 AS DOUBLE) / 700.0
                 - CAST(seas.sw AS DOUBLE)
                   / (CAST(seas.nw AS DOUBLE) * 700.0), 6) AS residual
    FROM wd LEFT JOIN seas USING (weekday)
    ORDER BY wd.day
"""

ORACLES["daily_revenue_pacf"] = """
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
      FROM orders GROUP BY 1),
    lags AS (SELECT CAST(range AS INT) AS lag FROM range(1, 4)),
    pairs AS (
      SELECT l.lag, a.rev AS x, b.rev AS y
      FROM daily a CROSS JOIN lags l
      JOIN daily b ON b.day = a.day + l.lag),
    s AS (
      SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x*y) AS DOUBLE) AS sxy,
             CAST(SUM(x*x) AS DOUBLE) AS sxx,
             CAST(SUM(y*y) AS DOUBLE) AS syy
      FROM pairs GROUP BY lag),
    acf AS (
      SELECT lag,
             ROUND(CASE WHEN sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                             * sqrt(CAST(n_pairs AS DOUBLE) * syy - sy * sy)
                            <> 0.0
                        THEN (CAST(n_pairs AS DOUBLE) * sxy - sx * sy)
                             / (sqrt(CAST(n_pairs AS DOUBLE) * sxx - sx * sx)
                                * sqrt(CAST(n_pairs AS DOUBLE) * syy
                                       - sy * sy))
                   END, 6) AS acf
      FROM s),
    piv AS (
      SELECT MAX(CASE WHEN lag = 1 THEN acf END) AS r1,
             MAX(CASE WHEN lag = 2 THEN acf END) AS r2,
             MAX(CASE WHEN lag = 3 THEN acf END) AS r3
      FROM acf),
    d AS (
      SELECT r1, r2, r3,
             CASE WHEN 1.0 - r1 * r1 <> 0.0
                  THEN (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi22
      FROM piv),
    e AS (SELECT *, r1 * (1.0 - phi22) AS phi21 FROM d)
    SELECT ROUND(r1, 6) AS pacf1,
           ROUND(phi22, 6) AS pacf2,
           ROUND(CASE WHEN 1.0 - phi21 * r1 - phi22 * r2 <> 0.0
                      THEN (r3 - phi21 * r2 - phi22 * r1)
                           / (1.0 - phi21 * r1 - phi22 * r2) END, 6)
             AS pacf3
    FROM e
"""

ORACLES["seasonal_naive_mase"] = f"""
    WITH daily AS ({_DAILY_CENTS}),
    lagged AS (
      SELECT cents,
             LAG(cents, 7) OVER (ORDER BY day) AS l7,
             LAG(cents, 1) OVER (ORDER BY day) AS l1
      FROM daily),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             SUM(abs(cents - l7)) AS s7,
             SUM(CASE WHEN l7 IS NOT NULL THEN abs(cents - l1) END) AS s1,
             CAST(SUM(CASE WHEN l7 IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n7
      FROM lagged)
    SELECT n_days,
           ROUND(CASE WHEN n7 > 0
                      THEN CAST(s7 AS DOUBLE) / CAST(n7 AS DOUBLE) END
                 / 100.0, 6) AS mae_seasonal,
           ROUND(CASE WHEN n7 > 0
                      THEN CAST(s1 AS DOUBLE) / CAST(n7 AS DOUBLE) END
                 / 100.0, 6) AS mae_naive,
           ROUND(CASE WHEN (CASE WHEN n7 > 0
                                 THEN CAST(s1 AS DOUBLE)
                                      / CAST(n7 AS DOUBLE) END) <> 0.0
                      THEN (CASE WHEN n7 > 0
                                 THEN CAST(s7 AS DOUBLE)
                                      / CAST(n7 AS DOUBLE) END)
                           / (CASE WHEN n7 > 0
                                   THEN CAST(s1 AS DOUBLE)
                                        / CAST(n7 AS DOUBLE) END)
                 END, 6) AS mase
    FROM agg
"""
