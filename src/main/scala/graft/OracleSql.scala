package graft

/** DuckDB oracle SQL for each SparkEntry.queries entry (driver contract).
  *
  * Every statement is the ANSI-SQL re-statement of the corresponding Spark
  * query, written to be *bit-identical* under the driver's compare
  * (sort columns by name, hash values):
  *  - identical output column names and ORDER BY clauses;
  *  - identical arithmetic shapes (same decimal casts, same double ops);
  *  - explicit integer casts where DuckDB widens (len() -> BIGINT but Spark
  *    size() -> INT; SUM(int) -> HUGEINT but Spark -> BIGINT);
  *  - regexp_replace carries the 'g' flag (Spark replaces all by default);
  *  - no nulls exist in the testdata, so null-ordering differences between
  *    Spark (ASC NULLS FIRST) and DuckDB (ASC NULLS LAST) only matter for
  *    generated-null columns, none of which are sort keys.
  *
  * The sketch queries (q40/q41/q43/q44) are oracle-able because each runs
  * on an engine-portable footing:
  *  - q40's LSH banding (r=2, 32 bands) has candidate recall >= 0.9999 at
  *    its 0.5 threshold, and exactly 1.0 on this corpus (verified against
  *    the exact pair set at sf0.001/0.01/0.1) — so the verified output
  *    equals the full exact-Jaccard pair set, which plain SQL computes;
  *  - q41 hashes tokens with md5 (first 15 hex chars -> 60-bit ints);
  *  - q43/q44 use integer-quantized embeddings and ±1 Rademacher SRP
  *    planes, inlined below as constants FROM THE SAME GENERATOR the Spark
  *    kernel uses (Similarity.rademacherPlanes) — the SQL cannot drift
  *    from the engine.
  */
object OracleSql {

  import graft.operators.Similarity

  /** The engine's whitespace class, spelled out: Java's ASCII `\s` is
    * exactly `[ \t\n\x0B\f\r]`, while RE2's `\s` (DuckDB) omits `\x0B` —
    * an explicit class is the only spelling the two dialects agree on
    * (a document containing a vertical tab would otherwise tokenize
    * differently in the oracle than in the engine). */
  private val ws = """[ \t\n\x0b\f\r]"""

  /** Shared DuckDB snippet: lowercased whitespace tokens of `text`
    * (mirrors TextFns.tokens). */
  private val toks =
    s"""list_filter(regexp_split_to_array(lower(trim(text)), '$ws+'), x -> length(x) > 0)"""

  /** Integer-quantized embedding (mirrors VectorFns.quantize). */
  private def quantized(scale: Int) =
    s"list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * $scale) AS BIGINT))"

  /** Packed integer-SRP bucket over a quantized list column: bit i = sign
    * of the dot product with ±1 plane i (mirrors VectorFns.srpBucketInt). */
  private def intBucketExpr(vecCol: String, planes: Seq[Array[Int]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lst = p.mkString("[", ",", "]")
      s"(CASE WHEN list_sum(list_transform(range(1, len($vecCol)+1), j -> $vecCol[j] * ($lst)[j])) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** Shared DuckDB snippet: word-3-gram shingles of a `toks` column
    * (mirrors TextFns.shingles(_, 3)). */
  private val shingles3 =
    """CASE WHEN len(toks) >= 3
       THEN list_transform(generate_series(1, len(toks) - 2), i -> array_to_string(list_slice(toks, i, i + 2), ' '))
       ELSE [array_to_string(toks, ' ')] END"""

  private val base: Map[String, String] = Map(

    "q01_scan_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
         ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice""",

    "q02_union_conform" ->
      """SELECT * FROM (
           SELECT c_custkey AS id, c_name AS name, c_acctbal AS acctbal, 'customer' AS kind FROM customer
           UNION ALL
           SELECT s_suppkey AS id, s_name AS name, s_acctbal AS acctbal, 'supplier' AS kind FROM supplier
         ) ORDER BY kind, id""",

    "q03_rename_conform" ->
      """SELECT o_orderkey AS order_id, o_custkey AS customer_id,
                o_totalprice AS total_price, CAST(NULL AS VARCHAR) AS currency
         FROM orders ORDER BY order_id""",

    "q04_lit_inject" ->
      """SELECT r_regionkey, r_name, 'Stock Analysis' AS source,
                DATE '2026-01-28' AS scrape_date
         FROM region ORDER BY r_regionkey""",

    "q05_vertical_split" ->
      """SELECT p_partkey, p_name, p_brand, p_type FROM part ORDER BY p_partkey""",

    "q06_null_key_drop" ->
      """SELECT event_id, user_id, event_type FROM events
         WHERE user_id IS NOT NULL AND event_type IS NOT NULL
         ORDER BY event_id""",

    "q07_validate_domain" ->
      """SELECT doc_id, lang, NULLIF(CONCAT_WS(';',
           CASE WHEN NOT COALESCE(lang IN ('en','es','de'), FALSE) THEN 'bad_lang' END,
           CASE WHEN NOT COALESCE(LENGTH(TRIM(text)) > 0, FALSE) THEN 'empty_text' END,
           CASE WHEN NOT COALESCE(n_chars > 0 AND n_chars < 100000, FALSE) THEN 'bad_len' END
         ), '') AS validation_issues
         FROM documents ORDER BY doc_id""",

    "q08_numeric_sanity" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
         FROM lineitem
         WHERE l_quantity > 0 AND l_extendedprice > 0
           AND l_shipdate <= TIMESTAMP '2001-01-01'
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""",

    "q09_semi_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
         WHERE EXISTS (SELECT 1 FROM customer c
                       WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
         ORDER BY o_orderkey""",

    "q10_anti_join" ->
      """SELECT c_custkey, c_name FROM customer c
         WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
         ORDER BY c_custkey""",

    "q11_contains_reject" ->
      """SELECT doc_id, n_chars FROM documents
         WHERE NOT CONTAINS(LOWER(text), 'spark')
         ORDER BY doc_id""",

    "q12_merge_upsert" ->
      """WITH t AS (
           SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS total_price,
                  o_orderstatus AS status
           FROM orders WHERE o_orderkey % 3 <> 0
         ), th AS (
           SELECT *, sha256(CONCAT_WS('|', CAST(o_orderkey AS VARCHAR),
                    CAST(total_price AS VARCHAR), status)) AS row_hash FROM t
         ), u AS (
           SELECT o_orderkey,
                  CAST(CAST(o_totalprice AS DECIMAL(12,2)) +
                       CASE WHEN o_orderkey % 4 = 0 THEN 1 ELSE 0 END AS DECIMAL(12,2)) AS total_price,
                  o_orderstatus AS status
           FROM orders WHERE o_orderkey % 2 = 0
         ), uh AS (
           SELECT *, sha256(CONCAT_WS('|', CAST(o_orderkey AS VARCHAR),
                    CAST(total_price AS VARCHAR), status)) AS row_hash FROM u
         )
         SELECT
           CASE WHEN uh.o_orderkey IS NOT NULL AND (th.o_orderkey IS NULL OR th.row_hash IS DISTINCT FROM uh.row_hash)
                THEN uh.o_orderkey ELSE th.o_orderkey END AS o_orderkey,
           CAST(CASE WHEN uh.o_orderkey IS NOT NULL AND (th.o_orderkey IS NULL OR th.row_hash IS DISTINCT FROM uh.row_hash)
                THEN uh.total_price ELSE th.total_price END AS DOUBLE) AS total_price,
           CASE WHEN uh.o_orderkey IS NOT NULL AND (th.o_orderkey IS NULL OR th.row_hash IS DISTINCT FROM uh.row_hash)
                THEN uh.status ELSE th.status END AS status,
           CASE WHEN uh.o_orderkey IS NOT NULL AND (th.o_orderkey IS NULL OR th.row_hash IS DISTINCT FROM uh.row_hash)
                THEN uh.row_hash ELSE th.row_hash END AS row_hash
         FROM th FULL OUTER JOIN uh ON th.o_orderkey = uh.o_orderkey
         ORDER BY o_orderkey""",

    "q13_dedup_keep_first" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity FROM (
           SELECT *, row_number() OVER (PARTITION BY l_orderkey
             ORDER BY l_linenumber, l_partkey, l_quantity, l_extendedprice, l_suppkey, l_shipdate) AS rn
           FROM lineitem) WHERE rn = 1
         ORDER BY l_orderkey""",

    "q14_dedup_keep_last" ->
      """SELECT user_id, event_id, event_type, ts FROM (
           SELECT *, row_number() OVER (PARTITION BY user_id
             ORDER BY ts DESC, event_id DESC) AS rn
           FROM events) WHERE rn = 1
         ORDER BY user_id""",

    "q15_watermark_max" ->
      """SELECT o_custkey, MAX(o_orderdate) AS max_orderdate
         FROM orders GROUP BY o_custkey ORDER BY o_custkey""",

    "q16_group_count" ->
      """SELECT o_orderpriority, COUNT(*) AS n
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q17_decimal_agg" ->
      """SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5)) AS DOUBLE) / 10000.0 AS sum_disc_price,
           CAST(SUM(FLOOR(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 10000.0 + 0.5)) AS DOUBLE) / 10000.0 AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
           COUNT(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",

    "q18_join_agg_topk" ->
      """SELECT l_orderkey, o_orderdate,
           CAST(SUM(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5)) AS DOUBLE) / 10000.0 AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1997-07-01'
           AND l_shipdate > TIMESTAMP '1997-07-01'
         GROUP BY l_orderkey, o_orderdate
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",

    "q19_star_join" ->
      """SELECT n_name,
           CAST(SUM(FLOOR(l_extendedprice * (1.0 - l_discount) * 10000.0 + 0.5)) AS DOUBLE) / 10000.0 AS revenue,
           COUNT(*) AS n_items
         FROM customer, orders, lineitem, supplier, nation, region
         WHERE c_custkey = o_custkey AND o_orderkey = l_orderkey
           AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           AND c_nationkey = n_nationkey AND n_regionkey = r_regionkey
           AND r_name = 'EUROPE'
         GROUP BY n_name ORDER BY n_name""",

    "q20_rollup" ->
      """SELECT c_mktsegment, c_nationkey, COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal,
           CAST(GROUPING(c_mktsegment, c_nationkey) AS BIGINT) AS gid
         FROM customer
         GROUP BY ROLLUP (c_mktsegment, c_nationkey)
         ORDER BY c_mktsegment ASC NULLS FIRST, c_nationkey ASC NULLS FIRST""",

    "q21_window_topk" ->
      """SELECT l_suppkey, "rank", l_orderkey, l_linenumber, l_extendedprice FROM (
           SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             CAST(row_number() OVER (PARTITION BY l_suppkey
               ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC, l_partkey ASC) AS INTEGER) AS "rank"
           FROM lineitem) WHERE "rank" <= 3
         ORDER BY l_suppkey, "rank"""",

    "q22_last_by_time" ->
      """SELECT l_partkey, l_shipdate, l_orderkey, l_extendedprice FROM (
           SELECT *, row_number() OVER (PARTITION BY l_partkey
             ORDER BY l_shipdate DESC, l_orderkey DESC, l_linenumber DESC, l_extendedprice DESC) AS rn
           FROM lineitem) WHERE rn = 1
         ORDER BY l_partkey""",

    "q23_multi_sort_limit" ->
      """SELECT l_returnflag, l_shipdate, l_orderkey, l_linenumber, l_partkey, l_extendedprice
         FROM lineitem
         ORDER BY l_returnflag ASC, l_shipdate DESC, l_orderkey ASC,
                  l_linenumber ASC, l_partkey ASC, l_extendedprice ASC
         LIMIT 100""",

    "q24_hash_md5" ->
      """SELECT o_orderkey, md5(CONCAT(
           COALESCE(CAST(o_orderkey AS VARCHAR), ''),
           COALESCE(o_orderstatus, ''),
           COALESCE(o_orderpriority, ''))) AS row_hash
         FROM orders ORDER BY o_orderkey""",

    "q25_hash_sha2" ->
      """SELECT l_orderkey, l_linenumber, sha256(CONCAT_WS('|',
           CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
           CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR),
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR))) AS row_hash
         FROM lineitem ORDER BY l_orderkey, l_linenumber, row_hash""",

    "q26_string_clean" ->
      """SELECT doc_id, UPPER(TRIM(lang)) AS lang_norm,
           CASE source WHEN 'src0' THEN 'Financial Times'
                       WHEN 'src1' THEN 'Yahoo Finance'
                       WHEN 'src2' THEN 'Stock Analysis'
                       ELSE source END AS source_norm,
           CASE WHEN LOWER(TRIM(lang)) IN ('--','-','','nan','none','null','n/a')
                THEN NULL ELSE lang END AS lang_clean
         FROM documents ORDER BY doc_id""",

    "q27_json_extract" ->
      """SELECT event_id, event_type,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
         FROM events ORDER BY event_id""",

    "q28_date_funcs" ->
      """SELECT event_id,
           CAST(date_trunc('day', ts) AS DATE) AS day,
           strftime(ts, '%Y-%m') AS month_str,
           CAST(ts AS DATE) + 7 AS plus7,
           CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS INTEGER) AS days_since
         FROM events ORDER BY event_id""",

    "q29_display_parse" ->
      """WITH p AS (
           SELECT p_partkey,
             LOWER(TRIM(CAST(CAST(ROUND(p_retailprice / 1000.0, 3) AS DECIMAL(10,3)) AS VARCHAR) || 'k USD')) AS s,
             TRIM(CAST(p_size AS VARCHAR) || '%') AS pct
           FROM part)
         SELECT p_partkey,
           CAST(REPLACE(regexp_extract(s, '([0-9][0-9,]*\.?[0-9]*)', 1), ',', '') AS DOUBLE) *
             (CASE WHEN regexp_matches(s, '[0-9]\s*t') THEN 1e12
                   WHEN regexp_matches(s, '[0-9]\s*b') THEN 1e9
                   WHEN regexp_matches(s, '[0-9]\s*m') THEN 1e6
                   WHEN regexp_matches(s, '[0-9]\s*k') THEN 1e3
                   ELSE 1.0 END) AS aum_value,
           CAST(regexp_replace(pct, '[%,+\s]', '', 'g') AS DOUBLE) AS pct_value
         FROM p ORDER BY p_partkey""",

    "q30_eav_melt" ->
      """SELECT * FROM (
           SELECT l_orderkey, l_linenumber, 'quantity' AS metric, l_quantity AS value FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'extendedprice' AS metric, l_extendedprice AS value FROM lineitem
           UNION ALL
           SELECT l_orderkey, l_linenumber, 'discount' AS metric, l_discount AS value FROM lineitem
         ) ORDER BY l_orderkey, l_linenumber, metric, value""",

    "q31_window_agg" ->
      """SELECT date_trunc('hour', ts) AS ws, event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
         FROM events GROUP BY 1, 2 ORDER BY ws, event_type""",

    "q32_sessionize" ->
      """WITH e AS (
           SELECT user_id, event_id, ts,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts
           FROM events
         ), s AS (
           SELECT *, CASE WHEN prev_ts IS NULL OR ts > prev_ts + INTERVAL 30 MINUTE
                          THEN 1 ELSE 0 END AS new_session FROM e
         ), c AS (
           SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM s
         )
         SELECT user_id, session_id, COUNT(*) AS n_events,
                MIN(ts) AS session_start, MAX(ts) AS session_end
         FROM c GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",

    "q33_status_lifecycle" ->
      """WITH m AS (
           SELECT o_custkey, CAST(MAX(o_orderdate) AS DATE) AS last_seen,
             'Customer#' || CAST(o_custkey AS VARCHAR) AS name,
             CASE WHEN o_custkey % 5 = 0 THEN 'new' ELSE 'active' END AS status
           FROM orders GROUP BY o_custkey)
         SELECT o_custkey, last_seen,
           CASE WHEN status = 'active' AND last_seen < DATE '2001-08-01' - 7 THEN 'inactive'
                WHEN status = 'new' AND LENGTH(TRIM(COALESCE(name, ''))) > 0 THEN 'active'
                ELSE status END AS status
         FROM m ORDER BY o_custkey""",

    "q34_token_stats" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents)
         SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0b\\f\\r]')) AS INTEGER) AS n_piece_tokens,
           CAST(length(trim(regexp_replace(lower(text), '$ws+', ' ', 'g'))) AS INTEGER) AS n_chars_norm,
           ROUND(CASE WHEN len(toks) > 0
             THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
             ELSE 0.0 END, 6) AS mean_word_len,
           list_min(list_transform($shingles3,
             s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT))) AS doc_sig
         FROM t ORDER BY doc_id""",

    "q35_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text, $toks AS toks FROM documents),
         u AS (SELECT doc_id, text,
           CASE WHEN len(toks) > 0
             THEN CAST(len(list_filter(toks, x -> list_contains(
                    ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','was','at','by'], x))) AS DOUBLE)
                  / CAST(len(toks) AS DOUBLE)
             ELSE 0.0 END AS swr,
           CASE WHEN length(text) > 0
             THEN CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE)
             ELSE 0.0 END AS pr
          FROM t)
         SELECT doc_id, ROUND(swr, 6) AS stopword_ratio, ROUND(pr, 6) AS punct_ratio,
           ROUND((LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                + LEAST(swr * 5.0, 1.0)
                + GREATEST(0.0, 1.0 - pr * 4.0)) / 3.0, 6) AS quality
         FROM u ORDER BY doc_id""",

    "q36_lang_id" ->
      """WITH h AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\b(the|a|is|and|of)\b')) AS INTEGER) AS en_hits,
             CAST(len(regexp_extract_all(lower(text), '\b(el|la|de|que|es)\b')) AS INTEGER) AS es_hits,
             CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS INTEGER) AS de_hits
           FROM documents)
         SELECT doc_id, en_hits, es_hits, de_hits,
           CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                WHEN es_hits >= de_hits THEN 'es'
                ELSE 'de' END AS predicted
         FROM h ORDER BY doc_id""",

    "q37_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
           MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
         FROM documents GROUP BY 1 ORDER BY fp""",

    "q38_shingle_stats" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents)
         SELECT doc_id, CAST(len(list_distinct($shingles3)) AS INTEGER) AS n_shingles
         FROM t ORDER BY doc_id""",

    "q39_dedup_jaccard" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id AS id, unnest(list_distinct($shingles3)) AS sh FROM t),
         sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS cnt
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id)
         SELECT id_a, id_b,
           ROUND(CAST(cnt AS DOUBLE) / CAST(sa.sz + sb.sz - cnt AS DOUBLE), 6) AS jaccard
         FROM pairs
         JOIN sizes sa ON sa.id = id_a
         JOIN sizes sb ON sb.id = id_b
         WHERE CAST(cnt AS DOUBLE) / CAST(sa.sz + sb.sz - cnt AS DOUBLE) >= 0.2
         ORDER BY id_a, id_b""",

    // q122: containment (one-sided overlap coefficient) pairs — q39's
    // shingle replay with the integer threshold predicate
    // inter·den >= num·min(szA,szB), so the boundary is float-free on
    // both engines. Replays Dedup.containmentPairs.
    "q122_containment_pairs" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id AS id, unnest(list_distinct($shingles3)) AS sh FROM t),
         sizes AS (SELECT id, CAST(COUNT(*) AS INTEGER) AS sz FROM sh GROUP BY id),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS cnt
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id)
         SELECT id_a, id_b, CAST(cnt AS BIGINT) AS inter,
           sa.sz AS sz_a, sb.sz AS sz_b,
           ROUND(CAST(cnt AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6)
             AS containment
         FROM pairs
         JOIN sizes sa ON sa.id = id_a
         JOIN sizes sb ON sb.id = id_b
         WHERE cnt * 10 >= 5 * LEAST(sa.sz, sb.sz)
         ORDER BY id_a, id_b""",

    // q128: incremental containment == the FULL corpus containment set
    // (the q122 derivation verbatim) restricted to pairs touching the
    // day-2 batch (doc_id % 5 = 0) — proving the O(batch) probe loses
    // and invents nothing. Replays Dedup.containmentIncremental.
    "q128_containment_incremental" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id AS id, unnest(list_distinct($shingles3)) AS sh FROM t),
         sizes AS (SELECT id, CAST(COUNT(*) AS INTEGER) AS sz FROM sh GROUP BY id),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS cnt
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id)
         SELECT id_a, id_b, CAST(cnt AS BIGINT) AS inter,
           sa.sz AS sz_a, sb.sz AS sz_b,
           ROUND(CAST(cnt AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE), 6)
             AS containment
         FROM pairs
         JOIN sizes sa ON sa.id = id_a
         JOIN sizes sb ON sb.id = id_b
         WHERE cnt * 10 >= 5 * LEAST(sa.sz, sb.sz)
           AND (id_a % 5 = 0 OR id_b % 5 = 0)
         ORDER BY id_a, id_b""",

    // q40: the LSH-candidate + exact-verify output provably equals the full
    // exact-Jaccard pair set at threshold 0.5 (recall == 1 on this corpus,
    // see object Scaladoc) — the oracle computes that set directly.
    "q40_dedup_minhash" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id AS id, unnest(list_distinct($shingles3)) AS sh FROM t),
         sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS cnt
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id)
         SELECT id_a, id_b,
           ROUND(CAST(cnt AS DOUBLE) / CAST(sa.sz + sb.sz - cnt AS DOUBLE), 6) AS jaccard
         FROM pairs
         JOIN sizes sa ON sa.id = id_a
         JOIN sizes sb ON sb.id = id_b
         WHERE CAST(cnt AS DOUBLE) / CAST(sa.sz + sb.sz - cnt AS DOUBLE) >= 0.5
         ORDER BY id_a, id_b""",

    // q41: 60-bit md5 SimHash — token hash = first 15 hex chars of md5
    // parsed base-16, frequency-weighted ±1 votes per bit, pigeonhole
    // blocking into 4 chunks of 15 bits (mirrors Dedup.simhashPortable /
    // simhashNearDupsPortable).
    "q41_dedup_simhash" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h FROM tok),
         bs AS (SELECT doc_id, bb.b AS b,
                  SUM(CASE WHEN (h >> bb.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
                FROM h CROSS JOIN (SELECT unnest(range(60)) AS b) bb
                GROUP BY doc_id, bb.b),
         sim AS (SELECT doc_id, SUM(CASE WHEN s >= 0 THEN (1::BIGINT << b) ELSE 0 END) AS simhash
                 FROM bs GROUP BY doc_id),
         blocked AS (SELECT doc_id, simhash, cc.c AS c, (simhash >> (cc.c * 15)) & 32767 AS chunk_val
                     FROM sim CROSS JOIN (SELECT unnest(range(4)) AS c) cc),
         pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
                   FROM blocked a JOIN blocked b
                     ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id)
         SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
         ORDER BY id_a, id_b""",

    "q42_ann_bruteforce" ->
      """WITH v AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings),
         s AS (
           SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, len(c.qv) + 1), i -> c.qv[i] * q.qv[i])) AS BIGINT) AS qdot
           FROM v c, v q WHERE q.vec_id < 10),
         r AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY qdot DESC, neighbor_id ASC) AS INTEGER) AS "rank" FROM s)
         SELECT query_id, neighbor_id, qdot, "rank" FROM r WHERE "rank" <= 5
         ORDER BY query_id, "rank"""",

    // q43: integer-SRP ANN — same ±1 planes as Similarity.srpTopKInt
    // (seed 42, 6 bits, dim 64), quantize scale 10000, integer-dot re-rank.
    "q43_ann_lsh" -> {
      val bucket = intBucketExpr("qv", Similarity.rademacherPlanes(64, 6, 42L))
      s"""WITH v AS (SELECT vec_id, ${quantized(10000)} AS qv FROM embeddings),
         b AS (SELECT vec_id, qv, $bucket AS bucket FROM v),
         s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 CAST(list_sum(list_transform(range(1, len(c.qv) + 1), i -> c.qv[i] * q.qv[i])) AS BIGINT) AS qdot
               FROM b c JOIN b q ON c.bucket = q.bucket WHERE q.vec_id < 10),
         r AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                 ORDER BY qdot DESC, neighbor_id ASC) AS INTEGER) AS "rank" FROM s)
         SELECT query_id, neighbor_id, qdot, "rank" FROM r WHERE "rank" <= 5
         ORDER BY query_id, "rank""""
    },

    // q44: integer-SRP near-dup pairs — 3 seeds of ±1 planes (42/43/44,
    // 6 bits), quantize scale 1000, all-integer cosine >= 3/10 test:
    // qdot > 0 AND 100*qdot^2 >= 9*|a|^2*|b|^2.
    "q44_embed_neardup" -> {
      val buckets = Seq(42L, 43L, 44L).map(s =>
        intBucketExpr("qv", Similarity.rademacherPlanes(64, 6, s)))
      s"""WITH v AS (SELECT vec_id, ${quantized(1000)} AS qv FROM embeddings),
         b AS (SELECT vec_id, qv, ${buckets(0)} AS b0, ${buckets(1)} AS b1, ${buckets(2)} AS b2 FROM v),
         cand AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b, a.qv AS qa, c.qv AS qb
                  FROM b a JOIN b c ON a.vec_id < c.vec_id
                    AND (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2)),
         s AS (SELECT id_a, id_b,
                 CAST(list_sum(list_transform(range(1, len(qa) + 1), i -> qa[i] * qb[i])) AS BIGINT) AS qdot,
                 CAST(list_sum(list_transform(qa, x -> x * x)) AS BIGINT) AS na2,
                 CAST(list_sum(list_transform(qb, x -> x * x)) AS BIGINT) AS nb2
               FROM cand)
         SELECT id_a, id_b, qdot FROM s
         WHERE qdot > 0 AND qdot * qdot * 100 >= 9 * na2 * nb2
         ORDER BY id_a, id_b"""
    },

    "q45_multimodal_meta" ->
      """SELECT doc_id,
           CAST(strlen(text) AS INTEGER) AS byte_len,
           md5(text) AS content_md5,
           CAST(n_chars % 640 AS INTEGER) AS fake_width,
           CAST((n_chars * 7) % 480 AS INTEGER) AS fake_height
         FROM documents ORDER BY doc_id""",

    "q46_asof_join" ->
      """WITH l AS (
           SELECT l_orderkey, l_linenumber, l_partkey, l_shipdate
           FROM lineitem WHERE l_orderkey % 7 = 0),
         r AS (
           SELECT l_partkey, l_shipdate,
                  MAX(CAST(l_extendedprice AS DECIMAL(12,2))) AS ref_price
           FROM lineitem WHERE l_orderkey % 7 <> 0
           GROUP BY l_partkey, l_shipdate)
         SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_shipdate,
                CAST(r.ref_price AS DOUBLE) AS ref_price, r.l_shipdate AS asof_time
         FROM l ASOF LEFT JOIN r
           ON l.l_partkey = r.l_partkey AND l.l_shipdate >= r.l_shipdate
         ORDER BY 1, 2, 3, 4, 5""",

    // q47: the oracle states the range join as the plain interval
    // predicate — the binned equi-join must produce the identical set.
    "q47_range_join" ->
      """WITH p AS (
           SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ship_day
           FROM lineitem WHERE l_orderkey % 31 = 0),
         w AS (
           SELECT o_orderkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS lo_day
           FROM orders WHERE o_orderkey % 211 = 0)
         SELECT p.l_orderkey, p.l_linenumber, p.ship_day, w.o_orderkey, w.lo_day
         FROM p JOIN w ON p.ship_day >= w.lo_day AND p.ship_day < w.lo_day + 30
         ORDER BY 1, 2, 3, 4, 5""",

    // q48: the salted join's result multiset is exactly the plain join's.
    "q48_salted_join" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_suppkey, s.s_name, s.s_acctbal
         FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
         WHERE l.l_orderkey % 17 = 0
         ORDER BY 1, 2, 3""",

    // q49: unique (partkey, day) after the groupBy -> every window order is
    // total; ROWS frames stated explicitly to match Spark's.
    "q49_window_analytics" ->
      """WITH daily AS (
           SELECT l_partkey,
             CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS ship_day,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS day_qty
           FROM lineitem WHERE l_partkey % 199 = 0
           GROUP BY 1, 2)
         SELECT l_partkey, ship_day, day_qty,
           lag(day_qty, 1) OVER w AS prev_qty,
           lead(day_qty, 1) OVER w AS next_qty,
           CAST(SUM(day_qty) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_qty,
           ROUND(AVG(day_qty) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS ma3_qty,
           CAST(rank() OVER (PARTITION BY l_partkey ORDER BY day_qty DESC, ship_day) AS INTEGER) AS qty_rank,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
         FROM daily
         WINDOW w AS (PARTITION BY l_partkey ORDER BY ship_day)
         ORDER BY l_partkey, ship_day""",

    // q50: pivot(melt(x)) == per-key conditional aggregation of the
    // original columns — the oracle states it directly.
    "q50_eav_pivot" ->
      """SELECT l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS quantity,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS extendedprice,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) AS discount
         FROM lineitem WHERE l_orderkey % 23 = 0
         GROUP BY 1, 2
         ORDER BY 1, 2, 3, 4, 5""",

    // q51: exact percentiles — DuckDB quantile_cont uses the same linear
    // interpolation at h = (n-1)*p as Spark's percentile.
    "q51_percentiles" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS qty_p25,
           quantile_cont(l_quantity, 0.5) AS qty_median,
           quantile_cont(l_quantity, 0.75) AS qty_p75,
           quantile_cont(l_extendedprice, 0.95) AS price_p95,
           COUNT(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    // q52: non-distinct word bigrams (short docs fall back to the whole
    // text as one gram, mirroring TextFns.shingles); global counts joined
    // back per doc — all-integer.
    "q52_bigram_corpus_score" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         g AS (SELECT doc_id, unnest(
             CASE WHEN len(toks) >= 2
               THEN list_transform(generate_series(1, len(toks) - 1), i -> array_to_string(list_slice(toks, i, i + 1), ' '))
               ELSE [array_to_string(toks, ' ')] END) AS bigram
           FROM t),
         c AS (SELECT bigram, COUNT(*) AS gf FROM g GROUP BY 1)
         SELECT g.doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(c.gf) AS BIGINT) AS corpus_freq_sum
         FROM g JOIN c ON g.bigram = c.bigram
         GROUP BY g.doc_id ORDER BY g.doc_id""",

    // q53: connected components over the exact >= 0.5 Jaccard pair set
    // (q40's edge set) via recursive transitive closure; canonical = min
    // reachable id (incl. self), plus cluster sizes.
    "q53_dedup_clusters" ->
      s"""WITH RECURSIVE
         t AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id AS id, unnest(list_distinct($shingles3)) AS sh FROM t),
         sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         cand AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS cnt
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id),
         edges AS (
           SELECT id_a, id_b FROM cand
           JOIN sizes sa ON sa.id = id_a
           JOIN sizes sb ON sb.id = id_b
           WHERE CAST(cnt AS DOUBLE) / CAST(sa.sz + sb.sz - cnt AS DOUBLE) >= 0.5),
         sym AS (SELECT id_a AS a, id_b AS b FROM edges
                 UNION ALL SELECT id_b, id_a FROM edges),
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         comp AS (
           SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS canonical_id
           FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
           GROUP BY d.doc_id),
         csize AS (SELECT canonical_id, COUNT(*) AS cluster_size
                   FROM comp GROUP BY 1)
         SELECT c.doc_id, c.canonical_id, s.cluster_size
         FROM comp c JOIN csize s USING (canonical_id)
         ORDER BY c.doc_id""",

    // q110: q53's clusters RELABELED to the best-quality survivor —
    // per cluster, canonical = argmax(q35 quality) with min-id
    // tie-break (row_number over (quality DESC, id ASC)). Replays
    // Dedup.dedupClustersKeepBest(priority = qualityScore).
    "q110_dedup_keep_best" ->
      s"""WITH RECURSIVE
         t AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id AS id, unnest(list_distinct($shingles3)) AS sh FROM t),
         sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         cand AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS cnt
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id),
         edges AS (
           SELECT id_a, id_b FROM cand
           JOIN sizes sa ON sa.id = id_a
           JOIN sizes sb ON sb.id = id_b
           WHERE CAST(cnt AS DOUBLE) / CAST(sa.sz + sb.sz - cnt AS DOUBLE) >= 0.5),
         sym AS (SELECT id_a AS a, id_b AS b FROM edges
                 UNION ALL SELECT id_b, id_a FROM edges),
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         comp AS (
           SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS canonical_id
           FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
           GROUP BY d.doc_id),
         csize AS (SELECT canonical_id, COUNT(*) AS cluster_size
                   FROM comp GROUP BY 1),
         u AS (SELECT doc_id, text, $toks AS toks FROM documents),
         q AS (SELECT doc_id AS id,
           ROUND((LEAST(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                + LEAST((CASE WHEN len(toks) > 0
                    THEN CAST(len(list_filter(toks, x -> list_contains(
                           ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','was','at','by'], x))) AS DOUBLE)
                         / CAST(len(toks) AS DOUBLE)
                    ELSE 0.0 END) * 5.0, 1.0)
                + GREATEST(0.0, 1.0 - (CASE WHEN length(text) > 0
                    THEN CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
                         / CAST(length(text) AS DOUBLE)
                    ELSE 0.0 END) * 4.0)) / 3.0, 6) AS quality
           FROM u),
         ranked AS (SELECT c.doc_id, c.canonical_id,
             row_number() OVER (PARTITION BY c.canonical_id
               ORDER BY q.quality DESC, c.doc_id ASC) AS rn
           FROM comp c JOIN q ON q.id = c.doc_id),
         best AS (SELECT canonical_id, doc_id AS best_id
                  FROM ranked WHERE rn = 1)
         SELECT c.doc_id, b.best_id AS canonical_id, s.cluster_size
         FROM comp c JOIN best b USING (canonical_id)
                     JOIN csize s USING (canonical_id)
         ORDER BY c.doc_id""",

    // q54: the capstone corpus filter — language argmax (q36), quality
    // composite (q35), dedup-survivor test (q53's components), first
    // failing gate as drop_reason.
    "q54_corpus_filter" ->
      s"""WITH RECURSIVE
         t AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id AS id, unnest(list_distinct($shingles3)) AS sh FROM t),
         sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         cand AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS cnt
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id),
         edges AS (
           SELECT id_a, id_b FROM cand
           JOIN sizes sa ON sa.id = id_a
           JOIN sizes sb ON sb.id = id_b
           WHERE CAST(cnt AS DOUBLE) / CAST(sa.sz + sb.sz - cnt AS DOUBLE) >= 0.5),
         sym AS (SELECT id_a AS a, id_b AS b FROM edges
                 UNION ALL SELECT id_b, id_a FROM edges),
         reach(a, b) AS (
           SELECT a, b FROM sym
           UNION
           SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
         comp AS (
           SELECT d.doc_id,
             LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS canonical_id
           FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
           GROUP BY d.doc_id),
         lang AS (
           SELECT doc_id,
             CAST(len(regexp_extract_all(lower(text), '\\b(the|a|is|and|of)\\b')) AS INTEGER) AS en_hits,
             CAST(len(regexp_extract_all(lower(text), '\\b(el|la|de|que|es)\\b')) AS INTEGER) AS es_hits,
             CAST(len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS INTEGER) AS de_hits
           FROM documents),
         q AS (
           SELECT d.doc_id, d.text, $toks AS toks FROM documents d),
         qs AS (
           SELECT doc_id,
             CASE WHEN len(toks) > 0
               THEN CAST(len(list_filter(toks, x -> list_contains(
                      ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','was','at','by'], x))) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE)
               ELSE 0.0 END AS swr,
             CASE WHEN length(text) > 0
               THEN CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
                    / CAST(length(text) AS DOUBLE)
               ELSE 0.0 END AS pr,
             length(text) AS n_chars
           FROM q),
         scored AS (
           SELECT l.doc_id,
             CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                  WHEN es_hits >= de_hits THEN 'es'
                  ELSE 'de' END AS predicted,
             ROUND((LEAST(CAST(n_chars AS DOUBLE) / 500.0, 1.0)
                  + LEAST(swr * 5.0, 1.0)
                  + GREATEST(0.0, 1.0 - pr * 4.0)) / 3.0, 6) AS quality
           FROM lang l JOIN qs USING (doc_id)),
         gated AS (
           SELECT s.doc_id, s.predicted, s.quality, c.canonical_id,
             CASE WHEN s.predicted <> 'en' THEN 'non_english'
                  WHEN s.quality < 0.5 THEN 'low_quality'
                  WHEN s.doc_id <> c.canonical_id THEN 'duplicate'
                  ELSE NULL END AS drop_reason
           FROM scored s JOIN comp c USING (doc_id))
         SELECT doc_id, predicted, quality, canonical_id, drop_reason,
           (drop_reason IS NULL) AS keep
         FROM gated ORDER BY doc_id""",

    // q55: deterministic md5-derived stratified sampling (en 40%,
    // minority languages kept whole).
    "q55_hash_sample" ->
      """WITH lang AS (
           SELECT doc_id,
             CASE WHEN len(regexp_extract_all(lower(text), '\b(the|a|is|and|of)\b'))
                    >= len(regexp_extract_all(lower(text), '\b(el|la|de|que|es)\b'))
                   AND len(regexp_extract_all(lower(text), '\b(the|a|is|and|of)\b'))
                    >= len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b'))
                  THEN 'en'
                  WHEN len(regexp_extract_all(lower(text), '\b(el|la|de|que|es)\b'))
                    >= len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b'))
                  THEN 'es'
                  ELSE 'de' END AS predicted,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 100 AS sample_bucket
           FROM documents)
         SELECT doc_id, predicted, sample_bucket FROM lang
         WHERE (predicted = 'en' AND sample_bucket < 40) OR predicted <> 'en'
         ORDER BY doc_id""",

    // q56: approx-sketch error envelope — the oracle replays the EXACT
    // statistics and pins the in-bounds booleans at TRUE; Spark's side
    // computes them from its HLL++/approx-percentile sketches, so a
    // sketch drifting outside its envelope hash-fails the row.
    "q56_approx_sketch" ->
      """SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_distinct,
           TRUE AS distinct_in_bounds,
           quantile_cont(l_quantity, 0.5) AS exact_p50,
           TRUE AS p50_in_bounds,
           COUNT(*) AS n
         FROM lineitem GROUP BY 1 ORDER BY 1""",

    // q57: intra-doc repetition signals (distinct-word ratio, top-word
    // share) — per-(doc, token) counts rolled up per doc; docs with zero
    // tokens drop out of unnest on both engines.
    "q57_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         g AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         pc AS (SELECT doc_id, tok, COUNT(*) AS c FROM g GROUP BY 1, 2),
         agg AS (SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_words,
             COUNT(*) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top_count
           FROM pc GROUP BY 1)
         SELECT doc_id, n_words, n_distinct,
           ROUND(CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS distinct_ratio,
           ROUND(CAST(top_count AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS top_word_ratio
         FROM agg ORDER BY doc_id""",

    // q58: benchmark decontamination — 3-gram shingle overlap of every
    // non-benchmark doc against the benchmark slice (doc_id % 50 = 0).
    "q58_decontaminate" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id, unnest(list_distinct($shingles3)) AS sh FROM t),
         bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id % 50 = 0),
         ov AS (SELECT s.doc_id, COUNT(*) AS hits
                FROM sh s JOIN bench b ON s.sh = b.sh
                WHERE s.doc_id % 50 <> 0 GROUP BY 1)
         SELECT d.doc_id,
           CAST(COALESCE(ov.hits, 0) AS BIGINT) AS n_overlap,
           COALESCE(ov.hits, 0) > 0 AS contaminated
         FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
         WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""",

    // q59: PII scrub — deterministic injected email/phone, RE2-safe
    // patterns, md5 of the doubly-redacted text.
    "q59_pii_scrub" ->
      """WITH r AS (
           SELECT doc_id,
             text || ' contact: user' || CAST(doc_id AS VARCHAR)
               || '@example.com tel: +1 (555) 01'
               || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') AS raw
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_emails,
           CAST(len(regexp_extract_all(raw, '\+[0-9][0-9()\- ]{7,}[0-9]')) AS INTEGER) AS n_phones,
           md5(regexp_replace(
             regexp_replace(raw, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             '\+[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g')) AS scrub_md5
         FROM r ORDER BY doc_id""",

    // q60: cross-doc boilerplate (sentences in >= 3 distinct docs).
    "q60_boilerplate" ->
      """WITH s0 AS (
           SELECT doc_id, trim(unnest(regexp_split_to_array(text, '\.'))) AS sent
           FROM documents),
         sents AS (SELECT DISTINCT doc_id, sent FROM s0 WHERE length(sent) > 0),
         boiler AS (SELECT sent FROM (
             SELECT sent, COUNT(*) AS df FROM sents GROUP BY 1) WHERE df >= 3),
         nb AS (SELECT doc_id, COUNT(*) AS n_boilerplate
                FROM sents JOIN boiler USING (sent) GROUP BY 1),
         ns AS (SELECT doc_id, COUNT(*) AS n_sentences FROM sents GROUP BY 1)
         SELECT ns.doc_id, ns.n_sentences,
           CAST(COALESCE(nb.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
           ROUND(CAST(COALESCE(nb.n_boilerplate, 0) AS DOUBLE)
             / CAST(ns.n_sentences AS DOUBLE), 6) AS boilerplate_ratio
         FROM ns LEFT JOIN nb ON ns.doc_id = nb.doc_id
         ORDER BY ns.doc_id""",

    // q61: concat-and-chunk sequence packing over the global token
    // prefix sum (window form here; the engine computes the same numbers
    // with the distributed two-phase scan). Integer // division.
    "q61_sequence_pack" ->
      s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         c AS (SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM t)
         SELECT doc_id, n_tokens, cum_tokens,
           (cum_tokens - n_tokens) // 2048 AS seq_first,
           (cum_tokens - 1) // 2048 AS seq_last,
           (cum_tokens - n_tokens) % 2048 AS tok_offset
         FROM c WHERE n_tokens > 0 ORDER BY doc_id""",

    // q62: IVF-Flat ANN — seed centroids = 8 lowest-id vectors, squared-L2
    // argmin assignment (ties to lowest cid), nProbe=2 probe lists, exact
    // integer re-rank. Mirrors Similarity.ivfTopKInt(k=5, nCentroids=8,
    // nProbe=2, scale=1000) arithmetic step for step.
    "q62_ann_ivf" ->
      s"""WITH v AS (SELECT vec_id, ${quantized(1000)} AS qv FROM embeddings),
         cent AS (SELECT vec_id AS cid, qv AS cv FROM v ORDER BY vec_id LIMIT 8),
         d AS (
           SELECT v.vec_id, v.qv, cent.cid,
             CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
               i -> (v.qv[i] - cent.cv[i]) * (v.qv[i] - cent.cv[i]))) AS BIGINT) AS d2
           FROM v, cent),
         r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d),
         assign AS (SELECT vec_id AS neighbor_id, qv AS cv2, cid AS centroid_id FROM r WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, qv AS qv2, cid AS centroid_id
                    FROM r WHERE vec_id < 10 AND rn <= 2),
         cand AS (
           SELECT p.query_id, a.neighbor_id,
             CAST(list_sum(list_transform(range(1, len(p.qv2) + 1),
               i -> (p.qv2[i] - a.cv2[i]) * (p.qv2[i] - a.cv2[i]))) AS BIGINT) AS dist2
           FROM probes p JOIN assign a USING (centroid_id)),
         rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY dist2, neighbor_id) AS INTEGER) AS "rank" FROM cand)
         SELECT query_id, neighbor_id, dist2, "rank" FROM rk WHERE "rank" <= 5
         ORDER BY query_id, "rank"""",

    // q136: persisted IVF index lifecycle — centroids FROZEN at build
    // time from the DAY-1 corpus only (vec_id % 5 <> 0, lowest-id
    // seeds), then ALL vectors (day-1 + the appended day-2 batch,
    // merged exactly once — the replayed append is a ledger no-op)
    // assign to those centroids and the q62 probe runs over the merged
    // set. A hash match proves the artifact's build/append/replay/probe
    // semantics end to end.
    "q136_ivf_index_lifecycle" ->
      s"""WITH v AS (SELECT vec_id, ${quantized(1000)} AS qv FROM embeddings),
         cent AS (SELECT vec_id AS cid, qv AS cv FROM v
           WHERE vec_id % 5 <> 0 ORDER BY vec_id LIMIT 8),
         d AS (
           SELECT v.vec_id, v.qv, cent.cid,
             CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
               i -> (v.qv[i] - cent.cv[i]) * (v.qv[i] - cent.cv[i]))) AS BIGINT) AS d2
           FROM v, cent),
         r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d),
         assign AS (SELECT vec_id AS neighbor_id, qv AS cv2, cid AS centroid_id FROM r WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, qv AS qv2, cid AS centroid_id
                    FROM r WHERE vec_id < 10 AND rn <= 2),
         cand AS (
           SELECT p.query_id, a.neighbor_id,
             CAST(list_sum(list_transform(range(1, len(p.qv2) + 1),
               i -> (p.qv2[i] - a.cv2[i]) * (p.qv2[i] - a.cv2[i]))) AS BIGINT) AS dist2
           FROM probes p JOIN assign a USING (centroid_id)),
         rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY dist2, neighbor_id) AS INTEGER) AS "rank" FROM cand)
         SELECT query_id, neighbor_id, dist2, "rank" FROM rk WHERE "rank" <= 5
         ORDER BY query_id, "rank"""",

    // q63: k-means Lloyd assignment sums — same argmin assignment as q62,
    // then per (centroid, dimension) SUM + COUNT of the quantized
    // components (division-free: no floor/truncate semantics to diverge).
    // pos is 0-based to match Spark's posexplode.
    "q63_kmeans_step" ->
      s"""WITH v AS (SELECT vec_id, ${quantized(1000)} AS qv FROM embeddings),
         cent AS (SELECT vec_id AS cid, qv AS cv FROM v ORDER BY vec_id LIMIT 8),
         d AS (
           SELECT v.vec_id, v.qv, cent.cid,
             CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
               i -> (v.qv[i] - cent.cv[i]) * (v.qv[i] - cent.cv[i]))) AS BIGINT) AS d2
           FROM v, cent),
         r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d),
         assign AS (SELECT cid AS centroid_id, qv FROM r WHERE rn = 1),
         e AS (
           SELECT centroid_id, CAST(i - 1 AS INTEGER) AS pos, qv[i] AS v
           FROM assign, (SELECT UNNEST(range(1, 65)) AS i))
         SELECT centroid_id, pos,
           CAST(SUM(v) AS BIGINT) AS sum_q, COUNT(*) AS n
         FROM e GROUP BY centroid_id, pos
         ORDER BY centroid_id, pos""",

    // q64: domain-mixture sampling — per-source integer keep_threshold =
    // (B * w * granularity) // (W * tokens), keep iff md5-bucket(doc_id)
    // < threshold. Weights fall linearly with the source index; // is
    // floor division on positive operands in both engines.
    "q64_domain_mix" ->
      s"""WITH t AS (
           SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens
           FROM documents),
         tot AS (
           SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS source_tokens,
             (20000 * (20 - CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT)) * 10000)
               // (210 * CAST(SUM(n_tokens) AS BIGINT)) AS keep_threshold
           FROM t GROUP BY source)
         SELECT doc_id, t.source, n_tokens, source_tokens, keep_threshold,
           CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 10000 AS sample_bucket
         FROM t JOIN tot USING (source)
         WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
             % 10000 < keep_threshold
         ORDER BY doc_id""",

    // q65: incremental dedup — banding recall is exactly 1 at the q40
    // config (cap disabled), so the incremental result equals the FULL
    // exact-Jaccard pair set restricted to pairs touching the new batch
    // (doc_id % 5 = 0). Same replay as q40 plus that restriction.
    "q65_incremental_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         sh AS (SELECT doc_id AS id, unnest(list_distinct($shingles3)) AS sh FROM t),
         sizes AS (SELECT id, COUNT(*) AS sz FROM sh GROUP BY id),
         pairs AS (
           SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS cnt
           FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
           GROUP BY a.id, b.id)
         SELECT id_a, id_b,
           ROUND(CAST(cnt AS DOUBLE) / CAST(sa.sz + sb.sz - cnt AS DOUBLE), 6) AS jaccard
         FROM pairs
         JOIN sizes sa ON sa.id = id_a
         JOIN sizes sb ON sb.id = id_b
         WHERE CAST(cnt AS DOUBLE) / CAST(sa.sz + sb.sz - cnt AS DOUBLE) >= 0.5
           AND (id_a % 5 = 0 OR id_b % 5 = 0)
         ORDER BY id_a, id_b""",

    // q66: mixture RESAMPLING — rate_myriad uncapped; full copies =
    // rate div granularity, plus one iff md5-bucket < rate mod
    // granularity; epoch = unnest(range(n_copies)).
    "q66_mixture_resample" ->
      s"""WITH t AS (
           SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens
           FROM documents),
         tot AS (
           SELECT source,
             (60000 * (20 - CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT)) * 10000)
               // (210 * CAST(SUM(n_tokens) AS BIGINT)) AS rate_myriad
           FROM t GROUP BY source),
         j AS (
           SELECT doc_id, t.source, n_tokens, rate_myriad,
             rate_myriad // 10000
               + CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                   % 10000 < rate_myriad % 10000 THEN 1 ELSE 0 END AS n_copies
           FROM t JOIN tot USING (source))
         SELECT doc_id, source, n_tokens, rate_myriad, n_copies,
           unnest(range(n_copies)) AS epoch
         FROM j WHERE n_copies > 0
         ORDER BY doc_id, epoch""",

    // q67: budget-constrained greedy selection — per-source token budget
    // B*w/210, docs taken in (n_tokens DESC, doc_id) order while the
    // integer running sum stays within budget.
    "q67_budget_select" ->
      s"""WITH t AS (
           SELECT doc_id, source, CAST(len($toks) AS BIGINT) AS n_tokens,
             (20000 * (20 - CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT))) // 210
               AS source_budget
           FROM documents),
         c AS (
           SELECT *, CAST(SUM(n_tokens) OVER (
             PARTITION BY source ORDER BY n_tokens DESC, doc_id
             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
           FROM t)
         SELECT doc_id, source, n_tokens, source_budget, cum_tokens
         FROM c WHERE cum_tokens <= source_budget
         ORDER BY doc_id""",

    // q68: fixed-K deterministic stratified sample — rank within stratum
    // by (md5 bucket, id), keep the first 7. row_number CAST to INTEGER
    // (DuckDB widens to BIGINT; Spark's is int).
    "q68_stratified_k" ->
      """WITH t AS (
           SELECT doc_id, source,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 1000000 AS sample_bucket
           FROM documents),
         r AS (
           SELECT *, CAST(row_number() OVER (
             PARTITION BY source ORDER BY sample_bucket, doc_id) AS INTEGER)
             AS sample_rank
           FROM t)
         SELECT doc_id, source, sample_bucket, sample_rank
         FROM r WHERE sample_rank <= 7
         ORDER BY doc_id""",

    // q69: exact duplicated 8-token spans (Lee et al. 2022 substring
    // dedup granularity) — a window is duplicated when its exact text
    // occurs > 1 time corpus-wide; per-doc coverage quantized to myriads.
    // Replays Dedup.duplicatedSpans(hashWindows = false) bit-for-bit.
    "q69_span_dedup" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         w AS (
           SELECT doc_id,
             unnest(list_transform(generate_series(1, greatest(len(toks) - 7, 0)),
               i -> array_to_string(toks[i:i+7], ' '))) AS win
           FROM t),
         d AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) > 1),
         pd AS (SELECT doc_id, COUNT(*) AS n_dup
                FROM w JOIN d USING (win) GROUP BY doc_id)
         SELECT t.doc_id,
           CAST(greatest(len(toks) - 7, 0) AS INTEGER) AS n_windows,
           CAST(COALESCE(n_dup, 0) AS INTEGER) AS n_dup_windows,
           CAST(floor(10000.0 * COALESCE(n_dup, 0)
             / greatest(len(toks) - 7, 1) + 0.5) AS INTEGER) AS dup_frac_myriad
         FROM t LEFT JOIN pd USING (doc_id)
         ORDER BY doc_id""",

    // q70: SemDeDup — q62's centroid assignment (8 lowest-id seeds,
    // squared-L2 argmin, ties to lowest cid) + q44's all-integer cosine
    // test at 3/10 restricted to same-cluster pairs; a vector is dropped
    // iff an EARLIER cluster-mate is within the threshold, and dup_of is
    // the lowest such witness.
    "q70_semdedup" ->
      s"""WITH v AS (SELECT vec_id, ${quantized(1000)} AS qv FROM embeddings),
         cent AS (SELECT vec_id AS cid, qv AS cv FROM v ORDER BY vec_id LIMIT 8),
         d AS (
           SELECT v.vec_id, v.qv, cent.cid,
             CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
               i -> (v.qv[i] - cent.cv[i]) * (v.qv[i] - cent.cv[i]))) AS BIGINT) AS d2
           FROM v, cent),
         r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d),
         assign AS (
           SELECT vec_id, qv, cid AS centroid_id,
             CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
           FROM r WHERE rn = 1),
         s AS (
           SELECT a.vec_id, b.vec_id AS b_id, a.n2 AS na2, b.n2 AS nb2,
             CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
               i -> a.qv[i] * b.qv[i])) AS BIGINT) AS qdot
           FROM assign a JOIN assign b
             ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id),
         dropped AS (
           SELECT vec_id, MIN(b_id) AS dup_of FROM s
           WHERE qdot > 0 AND qdot * qdot * 100 >= 9 * na2 * nb2
           GROUP BY vec_id)
         SELECT a.vec_id, a.centroid_id, (dup_of IS NULL) AS kept, dup_of
         FROM assign a LEFT JOIN dropped USING (vec_id)
         ORDER BY a.vec_id""",

    // q72: substring-dedup rewrite — remove every occurrence of a
    // duplicated 8-token window except the canonical lowest (doc, pos)
    // one, rebuild text from surviving tokens in index order. Parallel
    // unnests in one SELECT zip positionally (pos paired with its
    // window); canonical = row_number over (win ORDER BY doc, pos) = 1.
    "q72_span_rewrite" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         w AS (
           SELECT doc_id,
             unnest(generate_series(1, greatest(len(toks) - 7, 0))) - 1 AS pos,
             unnest(list_transform(generate_series(1, greatest(len(toks) - 7, 0)),
               i -> array_to_string(toks[i:i+7], ' '))) AS win
           FROM t),
         m AS (
           SELECT doc_id, pos,
             COUNT(*) OVER (PARTITION BY win) AS occ,
             row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
           FROM w),
         cov AS (
           SELECT DISTINCT doc_id, unnest(generate_series(pos, pos + 7)) AS idx
           FROM m WHERE occ > 1 AND rn > 1),
         tok AS (
           SELECT doc_id, unnest(generate_series(1, len(toks))) - 1 AS idx,
             unnest(toks) AS tok
           FROM t),
         kept AS (
           SELECT tok.doc_id, tok.idx, tok.tok
           FROM tok LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.idx = cov.idx
           WHERE cov.doc_id IS NULL),
         reb AS (
           SELECT doc_id, COUNT(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY idx) AS kept_text
           FROM kept GROUP BY doc_id)
         SELECT t.doc_id, CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(len(toks) - COALESCE(n_kept, 0) AS INTEGER) AS n_removed,
           COALESCE(kept_text, '') AS kept_text
         FROM t LEFT JOIN reb USING (doc_id)
         ORDER BY t.doc_id""",

    // q71: compaction bin packing — files (modeled by the documents
    // listing) cut into target-size bins at exact byte boundaries within
    // each partition: bin = floor(cum_bytes_before / 2000), never across
    // sources. Replays Compaction.binPack.
    "q71_compaction_plan" ->
      """SELECT doc_id, source, n_chars AS bytes,
           CAST(SUM(n_chars) OVER w - n_chars AS BIGINT) AS cum_before,
           CAST((SUM(n_chars) OVER w - n_chars) // 2000 AS BIGINT) AS bin
         FROM documents
         WINDOW w AS (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         ORDER BY doc_id""",

    // q73: overlapping token-window chunking, size 32 / stride 24; chunk
    // count = 1 if n<=32 else ceil((n-32)/24)+1; chunk k covers tokens
    // [k*24, k*24+32). Empty docs keep one empty chunk.
    "q73_chunking" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         c AS (SELECT doc_id, toks,
           CASE WHEN len(toks) <= 32 THEN 1
                ELSE ((len(toks) - 32 + 23) // 24) + 1 END AS n_chunks
           FROM t)
         SELECT doc_id,
           CAST(k AS INTEGER) AS chunk_id,
           array_to_string(toks[k*24 + 1 : k*24 + 32], ' ') AS chunk_text,
           CAST(len(toks[k*24 + 1 : k*24 + 32]) AS INTEGER) AS n_chunk_tokens
         FROM (SELECT doc_id, toks,
                 unnest(generate_series(0, n_chunks - 1)) AS k
               FROM c)
         ORDER BY doc_id, chunk_id""",

    // q74: deterministic global shuffle + 64-doc shard layout; position =
    // md5(doc_id) rank (tie-free: ids unique). Replays Sharding.shardPlan.
    "q74_shard_plan" ->
      """WITH r AS (
           SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
             row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR))) - 1 AS pos
           FROM documents)
         SELECT doc_id, shuffle_key, CAST(pos AS BIGINT) AS pos,
           CAST(pos // 64 AS BIGINT) AS shard_id,
           CAST(pos % 64 AS BIGINT) AS pos_in_shard
         FROM r ORDER BY doc_id""",

    // q75: hashed linear classifier, 2^12 buckets; per-token integer
    // weight w(b) = (h32('w:'||b) % 2001) - 1000 with b = h32(seed:tok) %
    // 4096; exact integer sum, sigmoid(mean*4) rounded to 6. Replays
    // QualityModel.hashedLinearScore.
    "q75_classifier_score" ->
      s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
         s AS (SELECT doc_id,
           CAST(len(toks) AS INTEGER) AS n_tokens,
           CAST(COALESCE(list_sum(list_transform(toks, x ->
             (CAST('0x' || substr(md5('w:' || CAST(
                CAST('0x' || substr(md5('graft-q75:' || x), 1, 8) AS BIGINT) % 4096
              AS VARCHAR)), 1, 8) AS BIGINT) % 2001) - 1000)), 0) AS BIGINT) AS w_sum
           FROM t)
         SELECT doc_id, n_tokens, w_sum,
           CASE WHEN n_tokens > 0 THEN
             ROUND(1.0 / (1.0 + exp(-(CAST(w_sum AS DOUBLE) / (n_tokens * 1000.0)) * 4.0)), 6)
           ELSE NULL END AS score
         FROM s ORDER BY doc_id""",

    // q76: per-doc cross-entropy under the corpus add-one unigram LM:
    // P(t) = (cnt+1)/(N+V); per-token -ln P quantized to 1e-6 bigint
    // before the per-doc sum (order-independent), empty docs omitted.
    // Replays QualityModel.unigramCrossEntropy.
    "q76_lm_perplexity" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
         g AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS vocab FROM c),
         lp AS (SELECT doc_id,
             CAST(ROUND((ln(CAST(n_total + vocab AS DOUBLE))
               - ln(CAST(cnt + 1 AS DOUBLE))) * 1e6) AS BIGINT) AS lp_i
           FROM t JOIN c USING (tok) CROSS JOIN g),
         d AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
             SUM(lp_i) AS lp_sum FROM lp GROUP BY doc_id)
         SELECT doc_id, n_tokens,
           ROUND(CAST(lp_sum AS DOUBLE) / (n_tokens * 1e6), 6) AS xent,
           ROUND(exp(CAST(lp_sum AS DOUBLE) / (n_tokens * 1e6)), 4) AS ppl
         FROM d ORDER BY doc_id""",

    // q106: per-doc cross-entropy under the corpus INTERPOLATED BIGRAM
    // LM: P(cur|prev) = ½(c2+1)/(c1(prev)+V) + ½(c1(cur)+1)/(N+V) over
    // positions 2..n; -ln P quantized to 1e-6 bigint per position before
    // the per-doc sum; docs with < 2 tokens omitted. Replays
    // QualityModel.bigramCrossEntropy (identical left-associated
    // interpolation arithmetic; generate_series(1,0) = [] covers the
    // short docs).
    "q106_bigram_perplexity" ->
      s"""WITH b AS (SELECT doc_id, $toks AS toks FROM documents),
         t AS (SELECT doc_id, unnest(toks) AS tok FROM b),
         c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
         g AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS vocab FROM c),
         p2 AS (SELECT doc_id, pc.p AS p, pc.c AS c FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(p := toks[i], c := toks[i + 1]))) AS pc
             FROM b)),
         bg AS (SELECT p, c, COUNT(*) AS bcnt FROM p2 GROUP BY p, c),
         lp AS (SELECT doc_id,
             CAST(ROUND(-ln(
               0.5 * CAST(bcnt + 1 AS DOUBLE) / CAST(pcnt + vocab AS DOUBLE)
               + 0.5 * CAST(ccnt + 1 AS DOUBLE) / CAST(n_total + vocab AS DOUBLE)
             ) * 1e6) AS BIGINT) AS lp_i
           FROM p2
           JOIN (SELECT tok AS p, cnt AS pcnt FROM c) USING (p)
           JOIN (SELECT tok AS c, cnt AS ccnt FROM c) USING (c)
           JOIN bg USING (p, c) CROSS JOIN g),
         d AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms,
             SUM(lp_i) AS lp_sum FROM lp GROUP BY doc_id)
         SELECT doc_id, n_terms,
           ROUND(CAST(lp_sum AS DOUBLE) / (n_terms * 1e6), 6) AS xent,
           ROUND(exp(CAST(lp_sum AS DOUBLE) / (n_terms * 1e6)), 4) AS ppl
         FROM d ORDER BY doc_id""",

    // q109: FROZEN-LM scoring with OOV smoothing — counts from the
    // ORIGINAL corpus, scores over text+OovSuffix (four provably-unseen
    // tokens per row); an unseen token takes the add-one miss mass:
    // -ln((0+1)/(N+V)) = ln(N+V), i.e. COALESCE(cnt, 0) in the shared
    // lp formula. Replays QualityModel.trainUnigramLm+frozenScore
    // (the engine side additionally round-trips the persisted artifact,
    // which the hash match then verifies too).
    "q109_frozen_lm_oov" -> {
      val suffix = graft.SparkEntry.OovSuffix.codePoints().toArray
        .map(cp => s"chr($cp)").mkString(" || ")
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
         g AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS vocab FROM c),
         aug AS (SELECT doc_id, text || $suffix AS text FROM documents),
         t2 AS (SELECT doc_id, unnest($toks) AS tok FROM aug),
         lp AS (SELECT doc_id,
             CAST(ROUND((ln(CAST(n_total + vocab AS DOUBLE))
               - ln(CAST(COALESCE(cnt, 0) + 1 AS DOUBLE))) * 1e6) AS BIGINT)
               AS lp_i
           FROM t2 LEFT JOIN c USING (tok) CROSS JOIN g),
         d AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
             SUM(lp_i) AS lp_sum FROM lp GROUP BY doc_id)
         SELECT doc_id, n_tokens,
           CAST(floor(CAST(lp_sum AS DOUBLE) / n_tokens + 0.5) AS BIGINT)
             AS xent_micro
         FROM d ORDER BY doc_id"""
    },

    // q111: FROZEN BIGRAM-LM scoring with OOV — both count frames from
    // the ORIGINAL corpus (q106's interpolation), scores over
    // text+OovSuffix so every row's conditional stream ends in
    // provably-unseen pairs; unseen unigrams/bigrams take COALESCE(cnt,0)
    // in the same add-one interpolation. Replays
    // QualityModel.trainBigramLm + frozenBigramScore (the engine side
    // additionally round-trips the persisted two-table artifact, which
    // the hash match then verifies too).
    "q111_frozen_bigram_lm" -> {
      val suffix = graft.SparkEntry.OovSuffix.codePoints().toArray
        .map(cp => s"chr($cp)").mkString(" || ")
      s"""WITH b AS (SELECT doc_id, $toks AS toks FROM documents),
         t AS (SELECT doc_id, unnest(toks) AS tok FROM b),
         c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
         g AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS vocab FROM c),
         p2 AS (SELECT doc_id, pc.p AS p, pc.c AS c FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(p := toks[i], c := toks[i + 1]))) AS pc
             FROM b)),
         bg AS (SELECT p, c, COUNT(*) AS bcnt FROM p2 GROUP BY p, c),
         aug AS (SELECT doc_id, text || $suffix AS text FROM documents),
         b2 AS (SELECT doc_id, $toks AS toks FROM aug),
         p3 AS (SELECT doc_id, pc.p AS p, pc.c AS c FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(p := toks[i], c := toks[i + 1]))) AS pc
             FROM b2)),
         lp AS (SELECT doc_id,
             CAST(ROUND(-ln(
               0.5 * CAST(COALESCE(bcnt, 0) + 1 AS DOUBLE)
                 / CAST(COALESCE(pcnt, 0) + vocab AS DOUBLE)
               + 0.5 * CAST(COALESCE(ccnt, 0) + 1 AS DOUBLE)
                 / CAST(n_total + vocab AS DOUBLE)
             ) * 1e6) AS BIGINT) AS lp_i
           FROM p3
           LEFT JOIN (SELECT tok AS p, cnt AS pcnt FROM c) USING (p)
           LEFT JOIN (SELECT tok AS c, cnt AS ccnt FROM c) USING (c)
           LEFT JOIN bg USING (p, c) CROSS JOIN g),
         d AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms,
             SUM(lp_i) AS lp_sum FROM lp GROUP BY doc_id)
         SELECT doc_id, n_terms,
           CAST(floor(CAST(lp_sum AS DOUBLE) / n_terms + 0.5) AS BIGINT)
             AS xent_micro
         FROM d ORDER BY doc_id"""
    },

    // q77/q78: DSIR importance weights against the doc_id%7==0 target
    // slice — hashed unigram+bigram buckets (2^10), add-one-smoothed
    // log-likelihood ratio quantized to 1e-6 per bucket, exact integer
    // per-doc sums, md5-derived Gumbel noise. Replays
    // Dsir.importanceWeights / Dsir.resample.
    "q77_dsir_weights" ->
      s"""$dsirWeightsCte
         SELECT doc_id, n_feats, w_sum, w, gumbel, score
         FROM scored ORDER BY doc_id""",

    "q78_dsir_resample" ->
      s"""$dsirWeightsCte
         SELECT * FROM (
           SELECT doc_id, n_feats, w_sum, w, gumbel, score
           FROM scored ORDER BY score DESC, doc_id LIMIT 40)
         ORDER BY doc_id""",

    // q79: CCNet perplexity thirds — ntile(3) over (xent, doc_id); the
    // engine computes the identical assignment with the two-phase
    // PrefixSum rank (floor((rank-1)*3/N)+1 == ntile). Replays
    // QualityModel.perplexityBuckets.
    "q79_ppl_buckets" ->
      s"""WITH t AS (SELECT doc_id, unnest($toks) AS tok FROM documents),
         c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
         g AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS vocab FROM c),
         lp AS (SELECT doc_id,
             CAST(ROUND((ln(CAST(n_total + vocab AS DOUBLE))
               - ln(CAST(cnt + 1 AS DOUBLE))) * 1e6) AS BIGINT) AS lp_i
           FROM t JOIN c USING (tok) CROSS JOIN g),
         d AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
             SUM(lp_i) AS lp_sum FROM lp GROUP BY doc_id),
         x AS (SELECT doc_id, n_tokens,
             ROUND(CAST(lp_sum AS DOUBLE) / (n_tokens * 1e6), 6) AS xent,
             ROUND(exp(CAST(lp_sum AS DOUBLE) / (n_tokens * 1e6)), 4) AS ppl
           FROM d)
         SELECT doc_id, n_tokens, xent, ppl,
           CAST(ntile(3) OVER (ORDER BY xent, doc_id) AS INTEGER) AS bucket
         FROM x ORDER BY doc_id""",

    // q80: corpus totals + Zipf slope over the top-100 frequency head on
    // 1e-4 fixed-point logs (exact integer regression, one rounded
    // division). Replays CorpusStats.zipfStats.
    "q80_zipf_stats" ->
      s"""WITH t AS (SELECT unnest($toks) AS tok FROM documents),
         c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
         tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(MAX(cnt) AS BIGINT) AS top1_cnt FROM c),
         h AS (SELECT cnt,
             row_number() OVER (ORDER BY cnt DESC, tok) AS rank
           FROM c ORDER BY cnt DESC, tok LIMIT 100),
         q AS (SELECT
             CAST(ROUND(ln(CAST(rank AS DOUBLE)) * 1e4) AS BIGINT) AS x,
             CAST(ROUND(ln(CAST(cnt AS DOUBLE)) * 1e4) AS BIGINT) AS y
           FROM h),
         f AS (SELECT COUNT(*) AS n, CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sxx FROM q)
         SELECT n_tokens, vocab, top1_cnt,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 4) AS zipf_slope
         FROM tot CROSS JOIN f""",

    // q81: per-doc top-3 tf-idf keywords, idf = ln((N+1)/(df+1))
    // quantized to 1e-6 so score_i = tf * idf_i is an exact integer.
    // Replays CorpusStats.tfidfTopK.
    "q81_tfidf_topk" ->
      s"""WITH tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM (SELECT doc_id, unnest($toks) AS tok FROM documents)
           GROUP BY doc_id, tok),
         dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df
           FROM tf GROUP BY tok),
         nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
         s AS (SELECT doc_id, tok, tf, df,
             tf * CAST(ROUND((ln(CAST(n AS DOUBLE) + 1.0)
               - ln(CAST(df AS DOUBLE) + 1.0)) * 1e6) AS BIGINT) AS score_i
           FROM tf JOIN dfq USING (tok) CROSS JOIN nd),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY score_i DESC, tok) AS rn FROM s)
         SELECT doc_id, tok, tf, df, score_i
         FROM r WHERE rn <= 3 ORDER BY doc_id, tok""",

    // q82: exact brute-force kNN label audit (the engine's nCentroids=1
    // config) — neighbor order by quantized dot desc / id asc (the q42
    // convention), majority vote tie-broken toward the smallest label.
    // Replays Similarity.labelNoiseKnn.
    "q82_label_noise" ->
      s"""WITH v AS (SELECT vec_id, label, ${quantized(1000)} AS qv
           FROM embeddings),
         p AS (SELECT a.vec_id AS ida, a.label AS la,
             b.vec_id AS idb, b.label AS lb,
             CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
               i -> a.qv[i] * b.qv[i])) AS BIGINT) AS qdot
           FROM v a, v b WHERE a.vec_id <> b.vec_id),
         r AS (SELECT ida, la, lb, row_number() OVER (PARTITION BY ida
             ORDER BY qdot DESC, idb) AS rn FROM p),
         votes AS (SELECT ida, la, lb, CAST(COUNT(*) AS INTEGER) AS votes
           FROM r WHERE rn <= 5 GROUP BY ida, la, lb),
         agg AS (SELECT ida, la, lb, votes,
             CAST(SUM(votes) OVER (PARTITION BY ida) AS INTEGER) AS k_eff,
             row_number() OVER (PARTITION BY ida
               ORDER BY votes DESC, lb) AS vr
           FROM votes)
         SELECT ida AS vec_id, la AS label, lb AS knn_label, votes, k_eff,
           (la <> lb) AS mislabeled
         FROM agg WHERE vr = 1 ORDER BY vec_id""",

    // q83: scraped-text cleanup — the mojibake chr()-replace chain is
    // GENERATED from TextFns.MojibakeFixes (same table the engine
    // compiles to a Column replace chain), then C0 strip + whitespace
    // canonicalization with chr(10) replacements (a '\n' replacement
    // literal is escape-ambiguous across engines).
    "q83_text_cleanup" ->
      s"""SELECT doc_id, ${cleanTextSql("text")} AS text_clean,
           CAST(length(text) AS BIGINT) AS n_before,
           CAST(length(${cleanTextSql("text")}) AS BIGINT) AS n_after
         FROM documents ORDER BY doc_id""",

    // q85: incremental embedding near-dups — the q44 pair computation
    // restricted to pairs touching the vec_id%5==0 batch (banding recall
    // exactly 1 at the uncapped portable config, so incremental-vs-index
    // provably equals the full run's touching subset — the q65 argument
    // for vectors). Replays Similarity.incrementalEmbedNearDups.
    "q85_incr_embed_dedup" -> {
      val buckets = Seq(42L, 43L, 44L).map(s =>
        intBucketExpr("qv", Similarity.rademacherPlanes(64, 6, s)))
      s"""WITH v AS (SELECT vec_id, ${quantized(1000)} AS qv FROM embeddings),
         b AS (SELECT vec_id, qv, ${buckets(0)} AS b0, ${buckets(1)} AS b1, ${buckets(2)} AS b2 FROM v),
         cand AS (SELECT a.vec_id AS id_a, c.vec_id AS id_b, a.qv AS qa, c.qv AS qb
                  FROM b a JOIN b c ON a.vec_id < c.vec_id
                    AND (a.b0 = c.b0 OR a.b1 = c.b1 OR a.b2 = c.b2)
                    AND (a.vec_id % 5 = 0 OR c.vec_id % 5 = 0)),
         s AS (SELECT id_a, id_b,
                 CAST(list_sum(list_transform(range(1, len(qa) + 1), i -> qa[i] * qb[i])) AS BIGINT) AS qdot,
                 CAST(list_sum(list_transform(qa, x -> x * x)) AS BIGINT) AS na2,
                 CAST(list_sum(list_transform(qb, x -> x * x)) AS BIGINT) AS nb2
               FROM cand)
         SELECT id_a, id_b, qdot FROM s
         WHERE qdot > 0 AND qdot * qdot * 100 >= 9 * na2 * nb2
         ORDER BY id_a, id_b"""
    },

    // q84: deterministic 90/5/5 split — md5 bucket in [0,100), band by
    // cumulative weight. Replays Mixture.deterministicSplit.
    "q84_split_assign" ->
      """SELECT doc_id, CASE
           WHEN b < 90 THEN 'train'
           WHEN b < 95 THEN 'val'
           ELSE 'test' END AS split
         FROM (SELECT doc_id,
           CAST('0x' || substr(md5('graft-q84:' || CAST(doc_id AS VARCHAR)),
             1, 15) AS BIGINT) % 100 AS b FROM documents)
         ORDER BY doc_id""",

    // q113: BM25 top-25 for the fixed query {merge, vector, stream} —
    // non-negative idf (Lucene variant), k1=1.2, b=0.75. Each term's
    // contribution is quantized (×1e6, BIGINT) BEFORE the cross-term
    // sum, so double addition order never matters; the arithmetic shape
    // (association order, literal spellings) mirrors
    // CorpusStats.bm25TopK exactly. Replays CorpusStats.bm25TopK.
    "q113_bm25_topk" -> {
      val terms = Seq("merge", "vector", "stream")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
      }.mkString(",\n             ")
      val dfCols = terms.indices.map(i =>
        s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
        .mkString(", ")
      val contribs = terms.indices.map { i =>
        s"""CAST(ROUND(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
               / (CAST(df$i AS DOUBLE) + 0.5))
             * ((tf$i * (1.2 + 1.0)) / (tf$i + 1.2 * ((1.0 - 0.75)
               + 0.75 * dl / avgdl))) * 1e6) AS BIGINT)"""
      }.mkString("\n             + ")
      val hits = terms.indices
        .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (SELECT doc_id, $toks AS toks FROM documents),
         f AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             $tfCols
           FROM b),
         g AS (SELECT COUNT(*) AS n, SUM(CAST(dl AS BIGINT)) AS sdl,
             $dfCols FROM f),
         s AS (SELECT doc_id,
             CAST(($hits) AS INTEGER) AS n_hits,
             $contribs AS score_i
           FROM f CROSS JOIN
             (SELECT n, CAST(sdl AS DOUBLE) / n AS avgdl, ${terms.indices.map(i => s"df$i").mkString(", ")} FROM g))
         SELECT doc_id, n_hits, score_i FROM s WHERE n_hits > 0
         ORDER BY score_i DESC, doc_id LIMIT 25"""
    },

    // q114: interpolated TRIGRAM-LM cross-entropy — q106's recipe one
    // Markov order up: each position 3..n contributes the fixed-point
    // -ln of the equal-weight add-one interpolation of trigram, bigram
    // and unigram evidence. This SQL is the same five-join formulation
    // the engine runs. Replays
    // QualityModel.trigramCrossEntropy. The reused CTEs are
    // MATERIALIZED: DuckDB inlines CTEs by default, and five join
    // inputs each re-deriving the regex-tokenize chain multiplied the
    // work past any timeout (measured: q106's 3-join shape survives
    // inlining, this 5-join shape does not; materialized = 0.4 s).
    "q114_trigram_perplexity" ->
      s"""WITH b AS MATERIALIZED (SELECT doc_id, $toks AS toks FROM documents),
         t AS (SELECT doc_id, unnest(toks) AS tok FROM b),
         c AS MATERIALIZED (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
         g AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS vocab FROM c),
         p2 AS (SELECT doc_id, pc.p AS p, pc.c AS c FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(p := toks[i], c := toks[i + 1]))) AS pc
             FROM b)),
         bg AS MATERIALIZED (SELECT p, c, COUNT(*) AS bcnt FROM p2 GROUP BY p, c),
         p3 AS MATERIALIZED (SELECT doc_id, tr.p2 AS p2, tr.p1 AS p1, tr.c AS c FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 2),
               i -> struct_pack(p2 := toks[i], p1 := toks[i + 1],
                 c := toks[i + 2]))) AS tr
             FROM b)),
         tg AS MATERIALIZED (SELECT p2, p1, c, COUNT(*) AS tcnt
           FROM p3 GROUP BY p2, p1, c),
         lp AS (SELECT doc_id,
             CAST(ROUND(-ln(
               (1.0/3) * CAST(tcnt + 1 AS DOUBLE) / CAST(ctxcnt + vocab AS DOUBLE)
               + (1.0/3) * CAST(bcnt + 1 AS DOUBLE) / CAST(p1cnt + vocab AS DOUBLE)
               + (1.0/3) * CAST(ccnt + 1 AS DOUBLE) / CAST(n_total + vocab AS DOUBLE)
             ) * 1e6) AS BIGINT) AS lp_i
           FROM p3
           JOIN (SELECT tok AS p1, cnt AS p1cnt FROM c) USING (p1)
           JOIN (SELECT tok AS c, cnt AS ccnt FROM c) USING (c)
           JOIN (SELECT p AS p2, c AS p1, bcnt AS ctxcnt FROM bg) USING (p2, p1)
           JOIN (SELECT p AS p1, c, bcnt FROM bg) USING (p1, c)
           JOIN tg USING (p2, p1, c) CROSS JOIN g),
         d AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms,
             SUM(lp_i) AS lp_sum FROM lp GROUP BY doc_id)
         SELECT doc_id, n_terms,
           ROUND(CAST(lp_sum AS DOUBLE) / (n_terms * 1e6), 6) AS xent,
           ROUND(exp(CAST(lp_sum AS DOUBLE) / (n_terms * 1e6)), 4) AS ppl
         FROM d ORDER BY doc_id""",

    // q115: exact integer covariance/moment frame over quantized
    // embeddings — one row per coordinate pair i <= j (1-based) with
    // count, first moments, raw second moment and the centered
    // numerator n*s_ij - s_i*s_j. All-integer, so any partitioning of
    // the engine's aggregate hashes identically. Replays
    // Pca.embedCovariance.
    "q115_embed_cov" ->
      s"""WITH v AS (SELECT ${quantized(1000)} AS q FROM embeddings),
         e AS (SELECT q, unnest(generate_series(1, len(q))) AS i FROM v),
         x AS MATERIALIZED (SELECT i, q[i] AS qi, q FROM e),
         p AS (SELECT i, qi, unnest(generate_series(i, len(q))) AS j, q
           FROM x),
         p2 AS (SELECT i, j, qi, q[j] AS qj FROM p),
         m2 AS MATERIALIZED (SELECT i, j, CAST(SUM(qi * qj) AS BIGINT) AS sij
           FROM p2 GROUP BY i, j),
         m1 AS MATERIALIZED (SELECT i, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(qi) AS BIGINT) AS si
           FROM x GROUP BY i)
         SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
           n, si, sj, sij, n * sij - si * sj AS cov_num
         FROM m2 JOIN m1 USING (i)
         JOIN (SELECT i AS j, si AS sj FROM m1) USING (j)
         ORDER BY i, j""",

    // q117: FROZEN TRIGRAM-LM scoring with OOV — all three count frames
    // from the ORIGINAL corpus (q114's interpolation), scores over
    // text+OovSuffix so every row's order-3 stream ends in provably-
    // unseen triples; unseen unigrams/pairs/triples take
    // COALESCE(cnt, 0) in the same add-one interpolation. MATERIALIZED
    // CTEs (the q114 inlining lesson). Replays
    // QualityModel.trainTrigramLm + frozenTrigramScore (the engine side
    // additionally round-trips the persisted artifact, which the hash
    // match then verifies too).
    "q117_frozen_trigram_lm" -> {
      val suffix = graft.SparkEntry.OovSuffix.codePoints().toArray
        .map(cp => s"chr($cp)").mkString(" || ")
      s"""WITH b AS MATERIALIZED (SELECT doc_id, $toks AS toks FROM documents),
         t AS (SELECT doc_id, unnest(toks) AS tok FROM b),
         c AS MATERIALIZED (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
         g AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS vocab FROM c),
         p2 AS (SELECT doc_id, pc.p AS p, pc.c AS c FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 1),
               i -> struct_pack(p := toks[i], c := toks[i + 1]))) AS pc
             FROM b)),
         bg AS MATERIALIZED (SELECT p, c, COUNT(*) AS bcnt FROM p2 GROUP BY p, c),
         tr0 AS (SELECT doc_id, tr.p2 AS p2, tr.p1 AS p1, tr.c AS c FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 2),
               i -> struct_pack(p2 := toks[i], p1 := toks[i + 1],
                 c := toks[i + 2]))) AS tr
             FROM b)),
         tg AS MATERIALIZED (SELECT p2, p1, c, COUNT(*) AS tcnt
           FROM tr0 GROUP BY p2, p1, c),
         aug AS (SELECT doc_id, text || $suffix AS text FROM documents),
         b2 AS (SELECT doc_id, $toks AS toks FROM aug),
         s3 AS MATERIALIZED (SELECT doc_id, tr.p2 AS p2, tr.p1 AS p1, tr.c AS c FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - 2),
               i -> struct_pack(p2 := toks[i], p1 := toks[i + 1],
                 c := toks[i + 2]))) AS tr
             FROM b2)),
         lp AS (SELECT doc_id,
             CAST(ROUND(-ln(
               (1.0/3) * CAST(COALESCE(tcnt, 0) + 1 AS DOUBLE)
                 / CAST(COALESCE(ctxcnt, 0) + vocab AS DOUBLE)
               + (1.0/3) * CAST(COALESCE(bcnt, 0) + 1 AS DOUBLE)
                 / CAST(COALESCE(p1cnt, 0) + vocab AS DOUBLE)
               + (1.0/3) * CAST(COALESCE(ccnt, 0) + 1 AS DOUBLE)
                 / CAST(n_total + vocab AS DOUBLE)
             ) * 1e6) AS BIGINT) AS lp_i
           FROM s3
           LEFT JOIN (SELECT tok AS p1, cnt AS p1cnt FROM c) USING (p1)
           LEFT JOIN (SELECT tok AS c, cnt AS ccnt FROM c) USING (c)
           LEFT JOIN (SELECT p AS p2, c AS p1, bcnt AS ctxcnt FROM bg) USING (p2, p1)
           LEFT JOIN (SELECT p AS p1, c, bcnt FROM bg) USING (p1, c)
           LEFT JOIN tg USING (p2, p1, c) CROSS JOIN g),
         d AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_terms,
             SUM(lp_i) AS lp_sum FROM lp GROUP BY doc_id)
         SELECT doc_id, n_terms,
           CAST(floor(CAST(lp_sum AS DOUBLE) / n_terms + 0.5) AS BIGINT)
             AS xent_micro
         FROM d ORDER BY doc_id"""
    },

    // q118: BATCHED BM25 — q113's arithmetic over the distinct term set
    // of SparkEntry.Bm25BatchQueries (ONE shared definition, so the SQL
    // cannot drift), one row per MATCHING (query, doc), per-qid top-10
    // via row_number. Replays CorpusStats.bm25TopKQueries.
    "q118_bm25_batch" -> {
      val queries = graft.SparkEntry.Bm25BatchQueries
      val terms = queries.flatMap(_._2).distinct
      val ti = terms.zipWithIndex.toMap
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
      }.mkString(",\n             ")
      val dfCols = terms.indices.map(i =>
        s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      def contribSql(i: Int): String =
        s"""CAST(ROUND(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
               / (CAST(df$i AS DOUBLE) + 0.5))
             * ((tf$i * (1.2 + 1.0)) / (tf$i + 1.2 * ((1.0 - 0.75)
               + 0.75 * dl / avgdl))) * 1e6) AS BIGINT)"""
      val branches = queries.map { case (qid, ts) =>
        val idxs = ts.map(ti)
        val hits = idxs
          .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")
        val score = idxs.map(contribSql).mkString("\n             + ")
        s"""SELECT doc_id, '$qid' AS qid,
             CAST(($hits) AS INTEGER) AS n_hits,
             $score AS score_i
           FROM fx"""
      }.mkString("\n         UNION ALL\n         ")
      s"""WITH b AS (SELECT doc_id, $toks AS toks FROM documents),
         f AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             $tfCols
           FROM b),
         g AS (SELECT COUNT(*) AS n, SUM(CAST(dl AS BIGINT)) AS sdl,
             $dfCols FROM f),
         fx AS MATERIALIZED (SELECT f.* , gg.* FROM f CROSS JOIN
           (SELECT n, CAST(sdl AS DOUBLE) / n AS avgdl,
             ${terms.indices.map(i => s"df$i").mkString(", ")} FROM g) gg),
         u AS ($branches),
         r AS (SELECT *, row_number() OVER (PARTITION BY qid
             ORDER BY score_i DESC, doc_id) AS rn
           FROM u WHERE n_hits > 0)
         SELECT qid, doc_id, n_hits, score_i FROM r WHERE rn <= 10
         ORDER BY qid, score_i DESC, doc_id"""
    },

    // q120: the persisted BM25 index lifecycle — stats built on the
    // day-1 slice, incrementally merged with day-2 (N/Σdl/df all add
    // over disjoint doc sets), then q113's scoring replayed from the
    // MERGED stats. Structurally mirrors the engine's
    // train→save→update→load→query path: g1/g2 are the two artifact
    // states, g the post-update one. Replays CorpusStats.bm25BuildIndex
    // + bm25UpdateIndex + bm25TopKIndexed.
    "q120_bm25_index" -> {
      val terms = Seq("join", "filter", "sort")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
      }.mkString(",\n             ")
      val dfCols = terms.indices.map(i =>
        s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
        .mkString(", ")
      val dfMerge = terms.indices.map(i =>
        s"g1.df$i + g2.df$i AS df$i").mkString(", ")
      val contribs = terms.indices.map { i =>
        s"""CAST(ROUND(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
               / (CAST(df$i AS DOUBLE) + 0.5))
             * ((tf$i * (1.2 + 1.0)) / (tf$i + 1.2 * ((1.0 - 0.75)
               + 0.75 * dl / avgdl))) * 1e6) AS BIGINT)"""
      }.mkString("\n             + ")
      val hits = terms.indices
        .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (SELECT doc_id, $toks AS toks FROM documents),
         f AS MATERIALIZED (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             $tfCols
           FROM b),
         g1 AS (SELECT COUNT(*) AS n, SUM(CAST(dl AS BIGINT)) AS sdl,
             $dfCols FROM f WHERE doc_id % 5 <> 0),
         g2 AS (SELECT COUNT(*) AS n, SUM(CAST(dl AS BIGINT)) AS sdl,
             $dfCols FROM f WHERE doc_id % 5 = 0),
         g AS (SELECT g1.n + g2.n AS n, g1.sdl + g2.sdl AS sdl,
             $dfMerge FROM g1 CROSS JOIN g2),
         s AS (SELECT doc_id,
             CAST(($hits) AS INTEGER) AS n_hits,
             $contribs AS score_i
           FROM f CROSS JOIN
             (SELECT n, CAST(sdl AS DOUBLE) / n AS avgdl, ${terms.indices.map(i => s"df$i").mkString(", ")} FROM g))
         SELECT doc_id, n_hits, score_i FROM s WHERE n_hits > 0
         ORDER BY score_i DESC, doc_id LIMIT 25"""
    },

    // q123: more-like-this — the seed doc's top-3 tf·idf terms (q81
    // arithmetic, (score desc, tok) ties) become the BM25 query,
    // scored in the JOIN-GENERIC shape (per-(doc,term) contribution
    // rows summed per doc): the engine's unrolled per-term columns sum
    // zero contributions that the join simply omits — same sum, and
    // the hash match proves it. Replays CorpusStats.moreLikeThis.
    "q123_more_like_this" ->
      s"""WITH b AS MATERIALIZED (SELECT doc_id, $toks AS toks FROM documents),
         seed AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM (SELECT unnest(toks) AS tok FROM b WHERE doc_id = 42)
           GROUP BY tok),
         nd AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
         ex AS MATERIALIZED (SELECT DISTINCT doc_id, tok FROM
           (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM b)),
         dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM ex
           WHERE tok IN (SELECT tok FROM seed) GROUP BY tok),
         ranked AS (SELECT tok, row_number() OVER (ORDER BY
             tf * CAST(ROUND((ln(CAST(n AS DOUBLE) + 1.0)
               - ln(CAST(df AS DOUBLE) + 1.0)) * 1e6) AS BIGINT) DESC,
             tok) AS rn
           FROM seed JOIN dfq USING (tok) CROSS JOIN nd),
         q AS (SELECT tok FROM ranked WHERE rn <= 3),
         f AS MATERIALIZED (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM b),
         g AS (SELECT COUNT(*) AS n, SUM(CAST(dl AS BIGINT)) AS sdl FROM f),
         bdf AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS bm_df
           FROM ex JOIN q USING (tok) GROUP BY tok),
         tfq AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM (SELECT doc_id, unnest(toks) AS tok FROM b) JOIN q USING (tok)
           GROUP BY doc_id, tok),
         contrib AS (SELECT doc_id,
             CAST(ROUND(ln(1.0 + (CAST(n AS DOUBLE) - bm_df + 0.5)
               / (bm_df + 0.5))
             * ((tf * (1.2 + 1.0)) / (tf + 1.2 * ((1.0 - 0.75)
               + 0.75 * dl / avgdl))) * 1e6) AS BIGINT) AS c
           FROM tfq JOIN bdf USING (tok) JOIN f USING (doc_id)
           CROSS JOIN (SELECT n, CAST(sdl AS DOUBLE) / n AS avgdl FROM g)),
         s AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_hits,
             CAST(SUM(c) AS BIGINT) AS score_i
           FROM contrib GROUP BY doc_id)
         SELECT doc_id, n_hits, score_i FROM s WHERE n_hits > 0
         ORDER BY score_i DESC, doc_id LIMIT 15""",

    // q124: per-source corpus health — the q34/q35 per-doc signal
    // replay, quality quantized ×1e6 BEFORE the per-source sum (double
    // sums across groups are order-sensitive; integer sums are not),
    // grouped by source. Replays CorpusStats.sourceHealth.
    "q124_source_health" ->
      s"""WITH t AS (SELECT source, text, $toks AS toks FROM documents),
         u AS (SELECT source,
             CAST(len(toks) AS BIGINT) AS ntok,
             CAST(length(text) AS BIGINT) AS nchars,
             CASE WHEN len(toks) > 0
               THEN CAST(len(list_filter(toks, x -> list_contains(
                      ['the','a','an','and','or','of','to','in','is','it','for','on','with','as','was','at','by'], x))) AS DOUBLE)
                    / CAST(len(toks) AS DOUBLE)
               ELSE 0.0 END AS swr,
             CASE WHEN length(text) > 0
               THEN CAST(length(text) - length(regexp_replace(text, '[!-/:-@\\[-`{-~]', '', 'g')) AS DOUBLE)
                    / CAST(length(text) AS DOUBLE)
               ELSE 0.0 END AS pr
           FROM t),
         q AS (SELECT source, ntok, nchars,
             CAST(FLOOR(ROUND((LEAST(CAST(nchars AS DOUBLE) / 500.0, 1.0)
                  + LEAST(swr * 5.0, 1.0)
                  + GREATEST(0.0, 1.0 - pr * 4.0)) / 3.0, 6) * 1e6 + 0.5)
               AS BIGINT) AS q6
           FROM u)
         SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(ntok) AS BIGINT) AS n_tokens,
           CAST(SUM(nchars) AS BIGINT) AS n_chars,
           CAST(SUM(q6) AS BIGINT) AS quality_q6_sum,
           MIN(ntok) AS min_tokens, MAX(ntok) AS max_tokens
         FROM q GROUP BY source ORDER BY source""",

    // q125: char-level Shannon entropy — per-(doc,char) GROUP BY, each
    // distinct char's term quantized with the IDENTICAL expression
    // (k·(ln n − ln k)/n · 1e6, floored at +0.5) before the integer
    // sum, so char iteration order can never matter. Replays
    // TextFns.charEntropy.
    "q125_char_entropy" ->
      """WITH c AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, length(text)),
               i -> substring(text, i, 1))) AS ch
           FROM documents),
         k AS (SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS k
           FROM c GROUP BY doc_id, ch),
         n AS (SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_distinct
           FROM k GROUP BY doc_id),
         e AS (SELECT k.doc_id,
             CAST(SUM(CAST(FLOOR(CAST(k AS DOUBLE)
               * (ln(CAST(n AS DOUBLE)) - ln(CAST(k AS DOUBLE)))
               / CAST(n AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
               AS entropy_q6
           FROM k JOIN n ON k.doc_id = n.doc_id GROUP BY k.doc_id)
         SELECT d.doc_id,
           COALESCE(n.n, 0) AS n_chars,
           COALESCE(n.n_distinct, 0) AS n_distinct,
           COALESCE(e.entropy_q6, 0) AS entropy_q6
         FROM documents d
         LEFT JOIN n ON n.doc_id = d.doc_id
         LEFT JOIN e ON e.doc_id = d.doc_id
         ORDER BY d.doc_id""",

    // q121: word-n-gram repetition signals — per-doc GROUP BYs over
    // space-joined n-grams replay the native kernel's per-row hash maps
    // exactly: gram identity = array_to_string(gram, ' ') (tokens are
    // whitespace-split so the join is injective), gram_chars = the
    // joined gram's code-point length, top = MAX(cnt)/MAX(cnt·chars),
    // dup = SUM(cnt·chars) where cnt >= 2. All integers — no floats to
    // diverge. Replays TextFns.repetitionStats.
    "q121_repetition_stats" -> {
      def gramCte(n: Int): String =
        s"""g$n AS (SELECT doc_id, array_to_string(g, ' ') AS gram FROM (
             SELECT doc_id, unnest(list_transform(
               generate_series(1, len(toks) - ${n - 1}),
               i -> list_slice(toks, i, i + ${n - 1}))) AS g
             FROM b WHERE len(toks) >= $n)),
         c$n AS (SELECT doc_id, gram, COUNT(*) AS cnt
           FROM g$n GROUP BY doc_id, gram)"""
      val topCtes = Seq(2, 3, 4).map(n =>
        s"""t$n AS (SELECT doc_id, CAST(MAX(cnt) AS BIGINT) AS top${n}_cnt,
             CAST(MAX(cnt * length(gram)) AS BIGINT) AS top${n}_chars
           FROM c$n GROUP BY doc_id)""").mkString(",\n         ")
      val dupCtes = Seq(5, 10).map(n =>
        s"""d$n AS (SELECT doc_id, CAST(SUM(cnt * length(gram)) AS BIGINT) AS dup${n}_chars
           FROM c$n WHERE cnt >= 2 GROUP BY doc_id)""").mkString(",\n         ")
      s"""WITH b AS MATERIALIZED (SELECT doc_id, $toks AS toks FROM documents),
         base AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(toks, x -> length(x))), 0)
               AS BIGINT) AS n_word_chars
           FROM b),
         ${Seq(2, 3, 4, 5, 10).map(gramCte).mkString(",\n         ")},
         $topCtes,
         $dupCtes
         SELECT base.doc_id, n_words, n_word_chars,
           COALESCE(top2_cnt, 0) AS top2_cnt,
           COALESCE(top2_chars, 0) AS top2_chars,
           COALESCE(top3_cnt, 0) AS top3_cnt,
           COALESCE(top3_chars, 0) AS top3_chars,
           COALESCE(top4_cnt, 0) AS top4_cnt,
           COALESCE(top4_chars, 0) AS top4_chars,
           COALESCE(dup5_chars, 0) AS dup5_chars,
           COALESCE(dup10_chars, 0) AS dup10_chars
         FROM base
         LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
         LEFT JOIN t4 USING (doc_id) LEFT JOIN d5 USING (doc_id)
         LEFT JOIN d10 USING (doc_id)
         ORDER BY doc_id"""
    },

    // q130: the q123 more-like-this replay, re-parameterized for the
    // INDEXED engine path (seed 7, 4 terms, top-20): the engine scores
    // from a Bm25Index's persisted statistics (nDocs = corpus row
    // count, df from the artifact frame) and ranks seed terms
    // driver-side — this oracle re-derives everything from the corpus
    // directly, so the hash match proves the indexed path equals the
    // direct derivation bit-for-bit. N is COUNT(*) (the index counts
    // rows at build; doc_id is unique in `documents`, so q123's
    // COUNT(DISTINCT) is the same number by construction).
    "q130_mlt_indexed" ->
      s"""WITH b AS MATERIALIZED (SELECT doc_id, $toks AS toks FROM documents),
         seed AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS tf
           FROM (SELECT unnest(toks) AS tok FROM b WHERE doc_id = 7)
           GROUP BY tok),
         nd AS (SELECT COUNT(*) AS n FROM documents),
         ex AS MATERIALIZED (SELECT DISTINCT doc_id, tok FROM
           (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM b)),
         dfq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM ex
           WHERE tok IN (SELECT tok FROM seed) GROUP BY tok),
         ranked AS (SELECT tok, row_number() OVER (ORDER BY
             tf * CAST(ROUND((ln(CAST(n AS DOUBLE) + 1.0)
               - ln(CAST(df AS DOUBLE) + 1.0)) * 1e6) AS BIGINT) DESC,
             tok) AS rn
           FROM seed JOIN dfq USING (tok) CROSS JOIN nd),
         q AS (SELECT tok FROM ranked WHERE rn <= 4),
         f AS MATERIALIZED (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl FROM b),
         g AS (SELECT COUNT(*) AS n, SUM(CAST(dl AS BIGINT)) AS sdl FROM f),
         bdf AS (SELECT tok, CAST(COUNT(*) AS DOUBLE) AS bm_df
           FROM ex JOIN q USING (tok) GROUP BY tok),
         tfq AS (SELECT doc_id, tok, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM (SELECT doc_id, unnest(toks) AS tok FROM b) JOIN q USING (tok)
           GROUP BY doc_id, tok),
         contrib AS (SELECT doc_id,
             CAST(ROUND(ln(1.0 + (CAST(n AS DOUBLE) - bm_df + 0.5)
               / (bm_df + 0.5))
             * ((tf * (1.2 + 1.0)) / (tf + 1.2 * ((1.0 - 0.75)
               + 0.75 * dl / avgdl))) * 1e6) AS BIGINT) AS c
           FROM tfq JOIN bdf USING (tok) JOIN f USING (doc_id)
           CROSS JOIN (SELECT n, CAST(sdl AS DOUBLE) / n AS avgdl FROM g)),
         s AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_hits,
             CAST(SUM(c) AS BIGINT) AS score_i
           FROM contrib GROUP BY doc_id)
         SELECT doc_id, n_hits, score_i FROM s WHERE n_hits > 0
         ORDER BY score_i DESC, doc_id LIMIT 20""",

    // q129: URL dedup — re-derives the deterministic messy-URL view
    // (md5-keyed variants off doc_id) and replays EVERY normalization
    // rule of UrlDedup.normalizeUrl in SQL: fragment strip,
    // scheme/host lowercase, www/default-port strip, trailing-slash
    // strip, tracking-param drop + bytewise param sort. Then the same
    // canonical groupBy (count, min id) and host extraction.
    "q129_url_dedup" -> {
      val schemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
      val trackRe = "^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$$"
      s"""WITH u AS (SELECT doc_id,
           CAST(CAST('0x' || substr(md5('graft-q129:'
             || CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT) AS INTEGER) AS v1,
           'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS h
           FROM documents),
         raw AS (SELECT doc_id,
           (CASE v1 % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS'
             ELSE 'Https' END)
           || '://'
           || (CASE WHEN v1 % 2 = 0 THEN 'www.' ELSE '' END)
           || (CASE WHEN v1 % 5 = 0 THEN upper(h) ELSE h END)
           || (CASE WHEN v1 % 7 = 0 THEN ':443' ELSE '' END)
           || '/page/' || CAST(doc_id % 23 AS VARCHAR)
           || (CASE WHEN v1 % 3 = 0 THEN '/' ELSE '' END)
           || (CASE WHEN v1 % 2 = 1 AND (doc_id % 161) % 3 = 0
                 THEN '?utm_source=feed&z=1&a=2'
               WHEN v1 % 2 = 1 THEN '?utm_source=feed'
               WHEN (doc_id % 161) % 3 = 0 THEN '?z=1&a=2'
               ELSE '' END)
           || (CASE WHEN v1 % 4 = 0 THEN '#sec2' ELSE '' END) AS url
           FROM u),
         parts AS (SELECT doc_id,
             regexp_extract(nf, '^([^?]*)', 1) AS base,
             CASE WHEN contains(nf, '?')
               THEN regexp_extract(nf, '\\?(.*)$$', 1) ELSE '' END AS query
           FROM (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS nf
             FROM raw)),
         norm AS (SELECT doc_id,
             CASE WHEN regexp_matches(base, '$schemeRe') THEN
               lower(regexp_extract(base, '$schemeRe', 1)) || '://'
               || regexp_replace(regexp_replace(lower(regexp_extract(base,
                    '$schemeRe([^/]*)', 2)), '^www\\.', ''), ':(80|443)$$', '')
               || regexp_replace(regexp_extract(base,
                    '$schemeRe[^/]*(.*)$$', 2), '/+$$', '')
               || (CASE WHEN len(q) > 0 THEN '?' || q ELSE '' END)
             ELSE NULL END AS canon_url
           FROM (SELECT doc_id, base, array_to_string(list_sort(
               list_filter(string_split(query, '&'),
                 p -> p <> '' AND NOT regexp_matches(p, '$trackRe'))),
               '&') AS q
             FROM parts)),
         g AS (SELECT canon_url, CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(doc_id) AS keep_id
           FROM norm WHERE canon_url IS NOT NULL GROUP BY canon_url)
         SELECT canon_url,
           regexp_replace(regexp_replace(lower(regexp_extract(canon_url,
             '$schemeRe([^/?#]*)', 2)), '^www\\.', ''), ':(80|443)$$', '')
             AS host,
           n_docs, keep_id
         FROM g ORDER BY canon_url"""
    },

    // q133: URL dedup, keep-best — the q129 view plus a deterministic
    // fetch_ts priority and MALFORMED URLs on every 11th doc. Replays
    // the scheme guard (non-absolute URL -> NULL canon -> pass
    // through), every normalization rule, and the keep-best argmax
    // (max fetch_ts, min doc_id tie-break) as a window rank.
    "q133_url_keep_best" -> {
      val schemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
      val trackRe = "^(utm_[^=]*|fbclid|gclid|ref)(=.*)?$$"
      s"""WITH u AS (SELECT doc_id,
           CAST(CAST('0x' || substr(md5('graft-q133:'
             || CAST(doc_id AS VARCHAR)), 1, 2) AS BIGINT) AS INTEGER) AS v1,
           'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com' AS h
           FROM documents),
         raw AS (SELECT doc_id,
           CASE WHEN doc_id % 11 = 0 THEN
             (CASE v1 % 4
               WHEN 0 THEN 'relative/page/' || CAST(doc_id % 23 AS VARCHAR)
               WHEN 1 THEN 'mailto:user@example.com'
               WHEN 2 THEN h || '/x'
               ELSE '' END)
           ELSE
             (CASE v1 % 3 WHEN 0 THEN 'https' WHEN 1 THEN 'HTTPS'
               ELSE 'Https' END)
             || '://'
             || (CASE WHEN v1 % 2 = 0 THEN 'www.' ELSE '' END)
             || (CASE WHEN v1 % 5 = 0 THEN upper(h) ELSE h END)
             || (CASE WHEN v1 % 7 = 0 THEN ':443' ELSE '' END)
             || '/page/' || CAST(doc_id % 23 AS VARCHAR)
             || (CASE WHEN v1 % 3 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN v1 % 2 = 1 AND (doc_id % 161) % 3 = 0
                   THEN '?utm_source=feed&z=1&a=2'
                 WHEN v1 % 2 = 1 THEN '?utm_source=feed'
                 WHEN (doc_id % 161) % 3 = 0 THEN '?z=1&a=2'
                 ELSE '' END)
             || (CASE WHEN v1 % 4 = 0 THEN '#sec2' ELSE '' END)
           END AS url,
           CAST(v1 % 5 AS BIGINT) AS fetch_ts
           FROM u),
         parts AS (SELECT doc_id, url, fetch_ts,
             regexp_extract(nf, '^([^?]*)', 1) AS base,
             CASE WHEN contains(nf, '?')
               THEN regexp_extract(nf, '\\?(.*)$$', 1) ELSE '' END AS query
           FROM (SELECT doc_id, url, fetch_ts,
             regexp_replace(url, '#.*$$', '') AS nf FROM raw)),
         norm AS (SELECT doc_id, url, fetch_ts,
             CASE WHEN regexp_matches(base, '$schemeRe') THEN
               lower(regexp_extract(base, '$schemeRe', 1)) || '://'
               || regexp_replace(regexp_replace(lower(regexp_extract(base,
                    '$schemeRe([^/]*)', 2)), '^www\\.', ''), ':(80|443)$$', '')
               || regexp_replace(regexp_extract(base,
                    '$schemeRe[^/]*(.*)$$', 2), '/+$$', '')
               || (CASE WHEN len(q) > 0 THEN '?' || q ELSE '' END)
             ELSE NULL END AS canon_url
           FROM (SELECT doc_id, url, fetch_ts, base, array_to_string(
               list_sort(list_filter(string_split(query, '&'),
                 p -> p <> '' AND NOT regexp_matches(p, '$trackRe'))),
               '&') AS q
             FROM parts)),
         ranked AS (SELECT doc_id, url, fetch_ts,
             row_number() OVER (PARTITION BY canon_url
               ORDER BY fetch_ts DESC, doc_id) AS rn
           FROM norm WHERE canon_url IS NOT NULL)
         SELECT doc_id, url, fetch_ts FROM norm WHERE canon_url IS NULL
         UNION ALL
         SELECT doc_id, url, fetch_ts FROM ranked WHERE rn = 1
         ORDER BY doc_id"""
    },

    // q127: hybrid retrieval — the q113 BM25 ranking (terms
    // merge/vector/stream, top-20) and the q42 integer-dot dense
    // ranking (query vec 3, top-20) fused by reciprocal rank:
    // rrf_i = Σ floor(1e6 / (60 + rank)), absent list contributes 0.
    // Replays Retrieval.hybridTopK end to end — both rankings AND the
    // integer fusion, bit for bit.
    "q127_hybrid_rrf" -> {
      val terms = Seq("merge", "vector", "stream")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
      }.mkString(",\n             ")
      val dfCols = terms.indices.map(i =>
        s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
        .mkString(", ")
      val contribs = terms.indices.map { i =>
        s"""CAST(ROUND(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
               / (CAST(df$i AS DOUBLE) + 0.5))
             * ((tf$i * (1.2 + 1.0)) / (tf$i + 1.2 * ((1.0 - 0.75)
               + 0.75 * dl / avgdl))) * 1e6) AS BIGINT)"""
      }.mkString("\n             + ")
      val hits = terms.indices
        .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (SELECT doc_id, $toks AS toks FROM documents),
         f AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             $tfCols
           FROM b),
         g AS (SELECT COUNT(*) AS n, SUM(CAST(dl AS BIGINT)) AS sdl,
             $dfCols FROM f),
         s AS (SELECT doc_id,
             CAST(($hits) AS INTEGER) AS n_hits,
             $contribs AS score_i
           FROM f CROSS JOIN
             (SELECT n, CAST(sdl AS DOUBLE) / n AS avgdl, ${terms.indices.map(i => s"df$i").mkString(", ")} FROM g)),
         sp AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_i DESC,
             doc_id) AS INTEGER) AS sparse_rank
           FROM (SELECT doc_id, score_i FROM s WHERE n_hits > 0
             ORDER BY score_i DESC, doc_id LIMIT 20)),
         v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
           FROM embeddings),
         dd AS (SELECT c.vec_id AS doc_id,
             CAST(list_sum(list_transform(range(1, len(c.qv) + 1),
               i -> c.qv[i] * q.qv[i])) AS BIGINT) AS qdot
           FROM v c, v q WHERE q.vec_id = 3),
         dn AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY qdot DESC,
             doc_id) AS INTEGER) AS dense_rank
           FROM (SELECT doc_id, qdot FROM dd
             ORDER BY qdot DESC, doc_id LIMIT 20))
         SELECT doc_id,
           COALESCE(CAST(floor(1000000.0 / (60 + sparse_rank)) AS BIGINT), 0)
             + COALESCE(CAST(floor(1000000.0 / (60 + dense_rank)) AS BIGINT), 0)
             AS rrf_i,
           sparse_rank, dense_rank
         FROM sp FULL OUTER JOIN dn USING (doc_id)
         ORDER BY rrf_i DESC, doc_id LIMIT 15"""
    },

    // q137: FULLY-INDEXED hybrid retrieval — q127's sparse leg (the
    // q113 BM25 ranking; the persisted-index replay is statistics-
    // identical when the index covers exactly the queried corpus, the
    // q120 equivalence) fused with the PERSISTED IVF dense leg: 8
    // lowest-id seed centroids over the full embeddings, query vec 3
    // probes its 2 nearest lists, candidates rank by (L2 dist2 ASC,
    // id ASC) — the q62 convention — top-20 → dense_rank; RRF fusion
    // identical to q127.
    "q137_hybrid_indexed" -> {
      val terms = Seq("merge", "vector", "stream")
      val tfCols = terms.zipWithIndex.map { case (t, i) =>
        s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
      }.mkString(",\n             ")
      val dfCols = terms.indices.map(i =>
        s"SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
        .mkString(", ")
      val contribs = terms.indices.map { i =>
        s"""CAST(ROUND(ln(1.0 + (CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5)
               / (CAST(df$i AS DOUBLE) + 0.5))
             * ((tf$i * (1.2 + 1.0)) / (tf$i + 1.2 * ((1.0 - 0.75)
               + 0.75 * dl / avgdl))) * 1e6) AS BIGINT)"""
      }.mkString("\n             + ")
      val hits = terms.indices
        .map(i => s"(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH b AS (SELECT doc_id, $toks AS toks FROM documents),
         f AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
             $tfCols
           FROM b),
         g AS (SELECT COUNT(*) AS n, SUM(CAST(dl AS BIGINT)) AS sdl,
             $dfCols FROM f),
         s AS (SELECT doc_id,
             CAST(($hits) AS INTEGER) AS n_hits,
             $contribs AS score_i
           FROM f CROSS JOIN
             (SELECT n, CAST(sdl AS DOUBLE) / n AS avgdl, ${terms.indices.map(i => s"df$i").mkString(", ")} FROM g)),
         sp AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY score_i DESC,
             doc_id) AS INTEGER) AS sparse_rank
           FROM (SELECT doc_id, score_i FROM s WHERE n_hits > 0
             ORDER BY score_i DESC, doc_id LIMIT 20)),
         v AS (SELECT vec_id, ${quantized(1000)} AS qv FROM embeddings),
         cent AS (SELECT vec_id AS cid, qv AS cv FROM v
           ORDER BY vec_id LIMIT 8),
         dc AS (
           SELECT v.vec_id, v.qv, cent.cid,
             CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
               i -> (v.qv[i] - cent.cv[i]) * (v.qv[i] - cent.cv[i]))) AS BIGINT) AS d2
           FROM v, cent),
         r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
             ORDER BY d2, cid) AS rn FROM dc),
         assign AS (SELECT vec_id AS neighbor_id, qv AS cv2,
             cid AS centroid_id FROM r WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, qv AS qv2, cid AS centroid_id
                    FROM r WHERE vec_id = 3 AND rn <= 2),
         cand AS (
           SELECT p.query_id, a.neighbor_id,
             CAST(list_sum(list_transform(range(1, len(p.qv2) + 1),
               i -> (p.qv2[i] - a.cv2[i]) * (p.qv2[i] - a.cv2[i]))) AS BIGINT) AS dist2
           FROM probes p JOIN assign a USING (centroid_id)),
         dn AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY dist2,
             doc_id) AS INTEGER) AS dense_rank
           FROM (SELECT neighbor_id AS doc_id, dist2 FROM cand
             ORDER BY dist2, neighbor_id LIMIT 20))
         SELECT doc_id,
           COALESCE(CAST(floor(1000000.0 / (60 + sparse_rank)) AS BIGINT), 0)
             + COALESCE(CAST(floor(1000000.0 / (60 + dense_rank)) AS BIGINT), 0)
             AS rrf_i,
           sparse_rank, dense_rank
         FROM sp FULL OUTER JOIN dn USING (doc_id)
         ORDER BY rrf_i DESC, doc_id LIMIT 15"""
    }
  )

  /** q86 shares q65's oracle verbatim: the sidecar-probed
    * incrementalNearDupsIndexed is result-equal to incrementalNearDups by
    * construction (DedupSpec pins the equality), so the driver's DuckDB
    * gate hash-verifies the NEW probe path against the same exact
    * full-corpus Jaccard replay restricted to batch-touching pairs. */
  private val staticAll: Map[String, String] =
    base + ("q86_incremental_dedup_indexed" -> base("q65_incremental_dedup"))

  /** q105: the hashed-logistic TRAINER replayed in full — features, then
    * every epoch's per-doc margins, quantized errors, per-bucket
    * quantized gradients, and clamped integer updates, unrolled as CTEs
    * from zero weights (the q87 induction discipline applied to gradient
    * descent). Constants mirror QualityModel.trainHashedLogistic's
    * contract verbatim: err6 = floor((sigmoid(4·ws/(n·1000)) − y)·10^6
    * + 0.5), per-(doc,bucket) term floor(err6·c/n + 0.5), update
    * floor((G·lrM)·4/(N·10^7) + 0.5), clamp ±1000. */
  private def qualityTrainSql(bits: Int, epochs: Int, lrM: Long,
                              seed: String, ngrams: Int = 1): String = {
    val nb = 1 << bits
    // feature stream: tokens, plus space-joined word bigrams at ngrams=2
    // (mirrors QualityModel.featureStream — fastText's -wordNgrams 2)
    val featExpr =
      if (ngrams == 1) "toks"
      else """list_concat(toks, list_transform(
             generate_series(1, len(toks) - 1),
             i -> toks[i] || ' ' || toks[i + 1]))"""
    val sql = new StringBuilder(
      s"""WITH d0 AS (SELECT doc_id,
           CASE WHEN text LIKE '%spark%' THEN 1 ELSE 0 END AS y,
           $toks AS toks FROM documents),
         f0 AS (SELECT doc_id, y, unnest($featExpr) AS t FROM d0),
         feats AS (SELECT doc_id, y,
             CAST('0x' || substr(md5('$seed:' || t), 1, 8) AS BIGINT) % $nb AS b,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM f0 GROUP BY doc_id, y, b),
         dn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n
           FROM feats GROUP BY doc_id),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM dn),
         w0 AS (SELECT CAST(unnest(range(0, $nb)) AS BIGINT) AS b,
           CAST(0 AS BIGINT) AS w)""")
    (0 until epochs).foreach { k =>
      sql.append(s""",
         m$k AS (SELECT f.doc_id, f.y, CAST(SUM(f.c * w.w) AS BIGINT) AS ws
           FROM feats f JOIN w$k w USING (b) GROUP BY f.doc_id, f.y),
         e$k AS (SELECT m.doc_id,
             CAST(floor((1.0 / (1.0 + exp(-4.0 * ws / (n * 1000.0))) - y)
               * 1000000.0 + 0.5) AS BIGINT) AS err6, d.n
           FROM m$k m JOIN dn d USING (doc_id)),
         g$k AS (SELECT f.b, CAST(SUM(CAST(floor(
               e.err6 * f.c / CAST(e.n AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT) AS g
           FROM feats f JOIN e$k e USING (doc_id) GROUP BY f.b),
         w${k + 1} AS (SELECT w.b,
             GREATEST(CAST(-1000 AS BIGINT), LEAST(CAST(1000 AS BIGINT),
               w.w - CAST(floor(CAST(COALESCE(g.g, 0) * $lrM AS DOUBLE) * 4.0
                 / (nn.nd * 10000000.0) + 0.5) AS BIGINT))) AS w
           FROM w$k w LEFT JOIN g$k g USING (b) CROSS JOIN nn)""")
    }
    sql.append(s"""
         SELECT CAST(b AS INTEGER) AS bucket, CAST(w AS BIGINT) AS weight
         FROM w$epochs ORDER BY bucket""")
    sql.toString
  }

  /** q112: the TRAINED language-ID replayed in full — teacher labels
    * (q36's marker argmax), char-3-gram hashed features over lower(text)
    * into one shared 2^bits bucket space, TRAINING on the doc_id % 5
    * seed slice (the realistic labeled-seed shape; also the honest
    * bench cost), then THREE independent one-vs-rest training runs (the
    * qualityTrainSql CTE chain per language, from zero weights), then
    * the shared-feature scoring joins over ALL docs and the
    * en ≥ es ≥ de argmax. Mirrors QualityModel.trainLangId +
    * langScoresTrained constants verbatim. */
  private def langIdTrainSql(bits: Int, epochs: Int, lrM: Long,
                             seed: String, charN: Int): String = {
    val nb = 1 << bits
    val langs = Seq("en", "es", "de")
    val grams = s"""list_transform(generate_series(1, length(t) - ${charN - 1}),
           i -> substr(t, i, $charN))"""
    val sql = new StringBuilder(
      s"""WITH d0 AS (SELECT doc_id, lower(text) AS t,
           CAST(len(regexp_extract_all(lower(text), '\\b(the|a|is|and|of)\\b')) AS INTEGER) AS en_hits,
           CAST(len(regexp_extract_all(lower(text), '\\b(el|la|de|que|es)\\b')) AS INTEGER) AS es_hits,
           CAST(len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS INTEGER) AS de_hits
           FROM documents),
         d1 AS (SELECT doc_id, t,
           CASE WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
                WHEN es_hits >= de_hits THEN 'es'
                ELSE 'de' END AS lang FROM d0),
         f0 AS (SELECT doc_id, lang, unnest($grams) AS g FROM d1
           WHERE doc_id % 5 = 0),
         feats AS (SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y_en,
             CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS y_es,
             CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS y_de,
             CAST('0x' || substr(md5('$seed:' || g), 1, 8) AS BIGINT) % $nb AS b,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM f0 GROUP BY doc_id, y_en, y_es, y_de, b),
         dn AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n
           FROM feats GROUP BY doc_id),
         nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM dn),
         fS0 AS (SELECT doc_id, unnest($grams) AS g FROM d1),
         featsS AS (SELECT doc_id,
             CAST('0x' || substr(md5('$seed:' || g), 1, 8) AS BIGINT) % $nb AS b,
             CAST(COUNT(*) AS BIGINT) AS c
           FROM fS0 GROUP BY doc_id, b)""")
    langs.foreach { l =>
      sql.append(s""",
         w${l}0 AS (SELECT CAST(unnest(range(0, $nb)) AS BIGINT) AS b,
           CAST(0 AS BIGINT) AS w)""")
      (0 until epochs).foreach { k =>
        sql.append(s""",
         m$l$k AS (SELECT f.doc_id, MAX(f.y_$l) AS y,
             CAST(SUM(f.c * w.w) AS BIGINT) AS ws
           FROM feats f JOIN w$l$k w USING (b) GROUP BY f.doc_id),
         e$l$k AS (SELECT m.doc_id,
             CAST(floor((1.0 / (1.0 + exp(-4.0 * ws / (n * 1000.0))) - y)
               * 1000000.0 + 0.5) AS BIGINT) AS err6, d.n
           FROM m$l$k m JOIN dn d USING (doc_id)),
         g$l$k AS (SELECT f.b, CAST(SUM(CAST(floor(
               e.err6 * f.c / CAST(e.n AS DOUBLE) + 0.5) AS BIGINT)) AS BIGINT) AS g
           FROM feats f JOIN e$l$k e USING (doc_id) GROUP BY f.b),
         w$l${k + 1} AS (SELECT w.b,
             GREATEST(CAST(-1000 AS BIGINT), LEAST(CAST(1000 AS BIGINT),
               w.w - CAST(floor(CAST(COALESCE(g.g, 0) * $lrM AS DOUBLE) * 4.0
                 / (nn.nd * 10000000.0) + 0.5) AS BIGINT))) AS w
           FROM w$l$k w LEFT JOIN g$l$k g USING (b) CROSS JOIN nn)""")
      }
    }
    sql.append(s""",
         sc AS (SELECT f.doc_id, CAST(SUM(f.c) AS INTEGER) AS n_feats,
             CAST(SUM(f.c * we.w) AS BIGINT) AS ws_en,
             CAST(SUM(f.c * ws2.w) AS BIGINT) AS ws_es,
             CAST(SUM(f.c * wd.w) AS BIGINT) AS ws_de
           FROM featsS f
           JOIN wen$epochs we USING (b)
           JOIN wes$epochs ws2 USING (b)
           JOIN wde$epochs wd USING (b)
           GROUP BY f.doc_id)
         SELECT d.doc_id,
           COALESCE(n_feats, 0) AS n_feats,
           COALESCE(ws_en, 0) AS ws_en,
           COALESCE(ws_es, 0) AS ws_es,
           COALESCE(ws_de, 0) AS ws_de,
           CASE WHEN COALESCE(ws_en, 0) >= COALESCE(ws_es, 0)
                 AND COALESCE(ws_en, 0) >= COALESCE(ws_de, 0) THEN 'en'
                WHEN COALESCE(ws_es, 0) >= COALESCE(ws_de, 0) THEN 'es'
                ELSE 'de' END AS lang_pred
         FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY doc_id""")
    sql.toString
  }

  /** Full oracle map. The BPE entries (q87-q104) are GENERATED from the
    * primed merge tables ([[primeBpe]] — Verify primes before dumping);
    * un-primed, this THROWS rather than silently omitting them (an
    * omission would quietly downgrade those queries to the driver's
    * rows-only check). q105 is self-contained (the oracle re-derives the
    * whole training run from the corpus — nothing to prime). */
  def all: Map[String, String] = staticAll ++ bpeEntries ++ pcaEntries ++
    unigramEntries +
    ("q105_quality_train" -> qualityTrainSql(10, 4, 20000L, "graft-q105")) +
    ("q107_quality_train_bigrams" ->
      qualityTrainSql(10, 4, 20000L, "graft-q107", ngrams = 2)) +
    ("q112_lang_id_trained" -> langIdTrainSql(8, 3, 20000L, "graft-q112", 3))

  // -------------------------------------- unigram-LM tokenizer (q126/q131)
  //
  // Same soundness argument as the BPE block: the oracle replays
  // TRAINING by INDUCTION — round 0 (substring seeding) is re-derived
  // from the corpus directly, and each EM round k is re-derived by
  // DuckDB's own Viterbi DP + count + prune + re-price arithmetic from
  // the ENGINE's round-(k-1) table injected as VALUES — so a hash match
  // on the union of all rounds proves every round's E-step and M-step
  // given the previous state, and the chain grounds out in the corpus.
  // The DP is unrolled one CTE per word position (maxWordLen bounds
  // it — words past the bound segment per char on both sides).

  private var unigramModelOpt: Option[graft.functions.UnigramLm.Model] = None
  private var unigramFaithfulOpt: Option[graft.functions.UnigramLm.Model] = None

  /** Train (memoized per JVM) the unigram tokenizers — word model AND
    * the faithful pretoken twin (q138) — whose round tables seed the
    * q126/q131/q134/q135/q138 oracle SQL. Deterministic — primed and
    * query models are the same cached instances. */
  def primeUnigram(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    unigramModelOpt = Some(graft.functions.UnigramLm.trainCached(
      spark.read.parquet(s"$sfDir/documents.parquet"), sfDir, "text",
      graft.SparkEntry.UnigramSeedSize, graft.SparkEntry.UnigramVocabSize,
      graft.SparkEntry.UnigramEmRounds))
    unigramFaithfulOpt = Some(graft.functions.UnigramLm.trainCached(
      spark.read.parquet(s"$sfDir/documents.parquet"), sfDir, "text",
      graft.SparkEntry.UnigramSeedSize, graft.SparkEntry.UnigramVocabSize,
      graft.SparkEntry.UnigramEmRounds, faithful = true))
  }

  /** One Viterbi pass as unrolled CTEs (suffix `sfx` isolates rounds).
    * Requires `wv$sfx` (word, cnt — len <= maxWordLen) and `pv$sfx`
    * (piece, logp_q; MATERIALIZED) upstream. Emits `fin$sfx`
    * (word, cnt, score) and `seg$sfx` (word, cnt, pos, previ, piece).
    * Tie-break: per position, row_number over (score DESC, previ ASC)
    * — exactly the kernel's first-maximum-at-ascending-i rule.
    * `unkFallback = true` additionally replays the kernel's
    * unknown-code-point rule (UnigramLm.viterbi: ONLY when no piece
    * reaches position j does the single char at j-1 price at UnkLogpQ)
    * — needed by the q134 OOV replay; training corpora are always
    * covered, so the other callers keep the cheaper join-only form. */
  private def unigramDpCtes(sfx: String, maxPieceLen: Int,
                            maxWordLen: Int,
                            unkFallback: Boolean = false): String = {
    val sb = new StringBuilder
    sb.append(s""",
       a0$sfx AS (SELECT word, cnt, 0 AS pos, CAST(0 AS BIGINT) AS score,
         0 AS previ FROM wv$sfx)""")
    for (j <- 1 to maxWordLen) {
      if (unkFallback) sb.append(s""",
       c$j$sfx AS MATERIALIZED (SELECT a.word, a.cnt,
           a.score + p.logp_q AS score, a.pos AS previ
         FROM a${j - 1}$sfx a JOIN pv$sfx p
           ON p.piece = substr(a.word, a.pos + 1, $j - a.pos)
         WHERE a.pos >= $j - $maxPieceLen AND a.pos < $j
           AND len(a.word) >= $j),
       d$j$sfx AS (SELECT word, cnt, $j AS pos, score, previ FROM (
         SELECT word, cnt, score, previ, row_number() OVER (
           PARTITION BY word ORDER BY score DESC, previ ASC) AS rn
         FROM c$j$sfx) WHERE rn = 1
         UNION ALL
         SELECT a.word, a.cnt, $j AS pos,
           a.score + (${graft.functions.UnigramLm.UnkLogpQ}) AS score,
           a.pos AS previ
         FROM a${j - 1}$sfx a
         WHERE a.pos = $j - 1 AND len(a.word) >= $j
           AND a.word NOT IN (SELECT word FROM c$j$sfx)),
       a$j$sfx AS MATERIALIZED (SELECT * FROM a${j - 1}$sfx
         UNION ALL SELECT * FROM d$j$sfx)""")
      else sb.append(s""",
       d$j$sfx AS (SELECT word, cnt, $j AS pos, score, previ FROM (
         SELECT t.word, t.cnt, t.score, t.previ, row_number() OVER (
           PARTITION BY t.word ORDER BY t.score DESC, t.previ ASC) AS rn
         FROM (SELECT a.word, a.cnt, a.score + p.logp_q AS score,
             a.pos AS previ
           FROM a${j - 1}$sfx a JOIN pv$sfx p
             ON p.piece = substr(a.word, a.pos + 1, $j - a.pos)
           WHERE a.pos >= $j - $maxPieceLen AND a.pos < $j
             AND len(a.word) >= $j) t)
         WHERE rn = 1),
       a$j$sfx AS MATERIALIZED (SELECT * FROM a${j - 1}$sfx
         UNION ALL SELECT * FROM d$j$sfx)""")
    }
    sb.append(s""",
       fin$sfx AS (SELECT word, cnt, score FROM a$maxWordLen$sfx
         WHERE pos = len(word) AND pos > 0),
       b0$sfx AS (SELECT word, cnt, pos, previ FROM a$maxWordLen$sfx
         WHERE pos = len(word) AND pos > 0)""")
    for (s <- 1 until maxWordLen) {
      sb.append(s""",
       b$s$sfx AS (SELECT b.word, b.cnt, a.pos, a.previ
         FROM b${s - 1}$sfx b JOIN a$maxWordLen$sfx a
           ON a.word = b.word AND a.pos = b.previ
         WHERE b.previ > 0)""")
    }
    sb.append(s""",
       seg$sfx AS (SELECT word, cnt, pos, previ,
         substr(word, previ + 1, pos - previ) AS piece FROM (
         ${(0 until maxWordLen).map(s => s"SELECT * FROM b$s$sfx")
        .mkString("\n         UNION ALL ")}))""")
    sb.toString
  }

  /** VALUES table of one engine round: (piece, logp_q). */
  private def unigramValues(pieces: Seq[graft.functions.UnigramLm.Piece]): String =
    pieces.map(p => s"(${bpeSqlStr(p.piece)}, CAST(${p.logpQ} AS BIGINT))")
      .mkString(", ")

  private def unigramEntries: Map[String, String] = unigramModelOpt match {
    case None => throw new IllegalStateException(
      "OracleSql.primeUnigram(spark, sfDir) must run before OracleSql.all: " +
        "the q126/q131 oracle SQL is generated from the corpus-trained " +
        "unigram tokenizer's round tables and cannot be built without it")
    case Some(model) =>
      val p = model.maxPieceLen
      val lw = model.maxWordLen
      val s = model.seedSize
      val v = model.vocabSize
      val base = s"""WITH v AS MATERIALIZED (SELECT word,
           CAST(COUNT(*) AS BIGINT) AS cnt FROM
           (SELECT unnest($bpeWords) AS word FROM documents) GROUP BY word),
         wvx AS MATERIALIZED (SELECT word, cnt FROM v WHERE len(word) <= $lw),
         wlx AS (SELECT word, cnt FROM v WHERE len(word) > $lw)"""
      // ---- round 0: substring seeding, re-derived from the corpus ----
      val round0 = s""",
         sub AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS freq
           FROM (SELECT cnt, unnest(flatten(list_transform(
               range(1, len(word) + 1), st -> list_transform(
                 range(1, least($p, len(word) - st + 1) + 1), l ->
                   substr(word, st, l))))) AS piece
             FROM v) GROUP BY piece),
         c0 AS MATERIALIZED (SELECT piece, freq FROM sub WHERE len(piece) = 1),
         m0 AS (SELECT piece, freq FROM (SELECT piece, freq, row_number()
             OVER (ORDER BY freq DESC, piece) AS rn FROM sub
             WHERE len(piece) >= 2)
           WHERE rn <= $s - (SELECT COUNT(*) FROM c0)),
         k0 AS MATERIALIZED (SELECT * FROM c0 UNION ALL SELECT * FROM m0),
         t0 AS (SELECT CAST(SUM(freq) AS BIGINT) AS tot FROM k0),
         r0 AS (SELECT piece, freq, CAST(floor((ln(CAST(freq AS DOUBLE))
             - ln(CAST(tot AS DOUBLE))) * 1e6 + 0.5) AS BIGINT)
             + (len(piece) - 1) * 4000000 AS logp_q
           FROM k0 CROSS JOIN t0)"""
      // ---- EM rounds: induction from the engine's round-(k-1) table ----
      val emRounds = (1 until model.rounds.size).map { k =>
        val sfx = s"_r$k"
        s""",
         pv$sfx AS MATERIALIZED (SELECT * FROM (VALUES
           ${unigramValues(model.rounds(k - 1))}) t(piece, logp_q)),
         wv$sfx AS (SELECT * FROM wvx)${unigramDpCtes(sfx, p, lw)},
         lp$sfx AS (SELECT substr(word, st, 1) AS piece, cnt FROM
           (SELECT word, cnt, unnest(range(1, len(word) + 1)) AS st
            FROM wlx)),
         es$sfx AS MATERIALIZED (SELECT piece, CAST(SUM(cnt) AS BIGINT) AS c
           FROM (SELECT piece, cnt FROM seg$sfx
             UNION ALL SELECT piece, cnt FROM lp$sfx) GROUP BY piece),
         ch$sfx AS MATERIALIZED (SELECT pv.piece, COALESCE(es.c, 0) AS c
           FROM pv$sfx pv LEFT JOIN es$sfx es USING (piece)
           WHERE len(pv.piece) = 1),
         mu$sfx AS (SELECT piece, c FROM (SELECT es.piece, es.c,
             row_number() OVER (ORDER BY es.c DESC, es.piece) AS rn
           FROM es$sfx es JOIN pv$sfx pv USING (piece)
           WHERE len(es.piece) >= 2 AND es.c >= 1)
           WHERE rn <= ${
        if (k == model.rounds.size - 1) s"$v"
        else s"greatest($v, (3 * (SELECT COUNT(*) FROM pv$sfx) + 3) // 4)"
      } - (SELECT COUNT(*) FROM ch$sfx)),
         kept$sfx AS MATERIALIZED (SELECT * FROM ch$sfx
           UNION ALL SELECT * FROM mu$sfx),
         tot$sfx AS (SELECT CAST(SUM(c) AS BIGINT) AS tot,
           COUNT(*) AS nk FROM kept$sfx),
         r$k AS (SELECT piece, c AS freq,
             CAST(floor((ln(CAST(c + 1 AS DOUBLE))
               - ln(CAST(tot + nk AS DOUBLE))) * 1e6 + 0.5) AS BIGINT)
               AS logp_q
           FROM kept$sfx CROSS JOIN tot$sfx)"""
      }.mkString
      val trainSelect = model.rounds.indices.map(k =>
        s"SELECT CAST($k AS INTEGER) AS round, piece, freq, logp_q FROM r$k")
        .mkString("\n         UNION ALL ")
      val trainSql =
        s"$base$round0$emRounds\n         $trainSelect ORDER BY round, piece"
      // ---- encode: one DP pass under the FINAL primed table ----
      val encodeSql = s"""$base,
         pv_e AS MATERIALIZED (SELECT * FROM (VALUES
           ${unigramValues(model.pieces)}) t(piece, logp_q)),
         wv_e AS (SELECT * FROM wvx)${unigramDpCtes("_e", p, lw)},
         short_e AS (SELECT f.word, f.cnt,
             CAST(COUNT(*) AS BIGINT) AS n_pieces,
             string_agg(s.piece, '|' ORDER BY s.pos) AS pieces,
             f.score AS score_q
           FROM fin_e f JOIN seg_e s USING (word)
           GROUP BY f.word, f.cnt, f.score),
         long_e AS (SELECT u.word, u.cnt,
             CAST(len(u.word) AS BIGINT) AS n_pieces,
             string_agg(substr(u.word, u.st, 1), '|' ORDER BY u.st) AS pieces,
             CAST(SUM(p.logp_q) AS BIGINT) AS score_q
           FROM (SELECT word, cnt, unnest(range(1, len(word) + 1)) AS st
             FROM wlx) u
           JOIN pv_e p ON p.piece = substr(u.word, u.st, 1)
           GROUP BY u.word, u.cnt)
         SELECT word, cnt, n_pieces, pieces, score_q FROM short_e
         UNION ALL SELECT word, cnt, n_pieces, pieces, score_q FROM long_e
         ORDER BY word"""
      // ---- packed token ids: the q97 packing replay with the unigram
      // Viterbi encode under it (per-word DP → row_number ids in
      // binary piece order → per-doc resequencing in word order →
      // global prefix-sum → 8192-token slices) ----
      val packSql = s"""$base,
         pv_e AS MATERIALIZED (SELECT * FROM (VALUES
           ${unigramValues(model.pieces)}) t(piece, logp_q)),
         wv_e AS (SELECT * FROM wvx)${unigramDpCtes("_e", p, lw)},
         wpp AS MATERIALIZED (
           SELECT word, piece, CAST(row_number() OVER (PARTITION BY word
             ORDER BY pos) AS BIGINT) AS ppos FROM seg_e
           UNION ALL
           SELECT word, substr(word, st, 1) AS piece, CAST(st AS BIGINT)
             AS ppos FROM (SELECT word, unnest(range(1, len(word) + 1))
             AS st FROM wlx)),
         vid AS (SELECT piece, CAST(row_number() OVER (ORDER BY piece) - 1
             AS INTEGER) AS id FROM pv_e),
         wq AS (SELECT doc_id, unnest(words) AS wd,
             unnest(range(1, len(words) + 1)) AS wpos
           FROM (SELECT doc_id, $bpeWords AS words FROM documents)),
         tok AS (SELECT q.doc_id, q.wpos, pp.ppos, pp.piece
           FROM wq q JOIN wpp pp ON pp.word = q.wd),
         ti AS (SELECT doc_id, piece, row_number() OVER (
             PARTITION BY doc_id ORDER BY wpos, ppos) AS pos FROM tok),
         idsq AS (SELECT ti.doc_id, ti.pos, vid.id
           FROM ti JOIN vid ON ti.piece = vid.piece),
         dn AS (SELECT doc_id, COUNT(*) AS n FROM idsq GROUP BY doc_id),
         cum AS (SELECT doc_id,
             SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
               AS strt FROM dn),
         g AS (SELECT (c.strt + i.pos - 1) AS gpos, i.id
           FROM idsq i JOIN cum c USING (doc_id))
         SELECT CAST(gpos // 8192 AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS INTEGER) AS n_tokens,
           string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) AS token_ids
         FROM g GROUP BY 1 ORDER BY seq_id"""
      // ---- marked decodable stream + OOV byte fallback (q134): the
      // q100/q103 discipline applied to unigram. Replays the Viterbi DP
      // WITH the kernel's unk rule over the OovSuffix-augmented corpus,
      // assembles ids in the marked byte-fallback layout (piece id =
      // 256 + binary rank, word-initial += markShift, unknown code
      // point = its UTF-8 bytes with the first byte marked when
      // word-initial), and derives the roundtrip INDEPENDENTLY from the
      // word model — pinning that decode(encode(text)) is the word text.
      val nPieces = model.pieces.size
      val ms = 256 + nPieces // markShift = |base| = byte block + pieces
      val suffix = graft.SparkEntry.OovSuffix.codePoints().toArray
        .map(cp => s"chr($cp)").mkString(" || ")
      val markedRoundtripSql = s"""WITH aug AS MATERIALIZED (
           SELECT doc_id, text || $suffix AS text FROM documents),
         v AS MATERIALIZED (SELECT word,
           CAST(COUNT(*) AS BIGINT) AS cnt FROM
           (SELECT unnest($bpeWords) AS word FROM aug) GROUP BY word),
         wv_m AS MATERIALIZED (SELECT word, cnt FROM v WHERE len(word) <= $lw),
         wl_m AS (SELECT word, cnt FROM v WHERE len(word) > $lw),
         pv_m AS MATERIALIZED (SELECT * FROM (VALUES
           ${unigramValues(model.pieces)}) t(piece, logp_q))${
        unigramDpCtes("_m", p, lw, unkFallback = true)},
         wpp AS MATERIALIZED (
           SELECT word, piece, CAST(row_number() OVER (PARTITION BY word
             ORDER BY pos) AS BIGINT) AS ppos FROM seg_m
           UNION ALL
           SELECT word, substr(word, st, 1) AS piece, CAST(st AS BIGINT)
             AS ppos FROM (SELECT word, unnest(range(1, len(word) + 1))
             AS st FROM wl_m)),
         vid AS (SELECT piece, CAST(255 + row_number() OVER (ORDER BY piece)
             AS INTEGER) AS id FROM pv_m),
         wq AS (SELECT doc_id, unnest(words) AS wd,
             unnest(range(1, len(words) + 1)) AS wpos
           FROM (SELECT doc_id, $bpeWords AS words FROM aug)),
         tok AS (SELECT q.doc_id, q.wpos, pp.ppos, pp.piece
           FROM wq q JOIN wpp pp ON pp.word = q.wd),
         bl AS (SELECT t.doc_id, t.wpos, t.ppos,
             CASE WHEN v.id IS NOT NULL THEN [v.id]
               WHEN unicode(t.piece) < 128 THEN [unicode(t.piece)]
               WHEN unicode(t.piece) < 2048 THEN
                 [192 + unicode(t.piece) // 64, 128 + unicode(t.piece) % 64]
               WHEN unicode(t.piece) < 65536 THEN
                 [224 + unicode(t.piece) // 4096,
                  128 + (unicode(t.piece) // 64) % 64,
                  128 + unicode(t.piece) % 64]
               ELSE
                 [240 + unicode(t.piece) // 262144,
                  128 + (unicode(t.piece) // 4096) % 64,
                  128 + (unicode(t.piece) // 64) % 64,
                  128 + unicode(t.piece) % 64] END AS ids0
           FROM tok t LEFT JOIN vid v ON t.piece = v.piece),
         idl AS (SELECT doc_id, wpos, ppos,
             CASE WHEN ppos = 1
               THEN list_prepend(ids0[1] + $ms, ids0[2:])
               ELSE ids0 END AS ids
           FROM bl),
         flat AS (SELECT doc_id, wpos, ppos, unnest(ids) AS id,
             unnest(range(1, len(ids) + 1)) AS bpos FROM idl),
         ord AS (SELECT doc_id, id, row_number() OVER (
             PARTITION BY doc_id ORDER BY wpos, ppos, bpos) AS pos FROM flat),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ids,
             CAST(SUM(CASE WHEN id % $ms < 256 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fallback,
             string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS token_ids
           FROM ord GROUP BY doc_id),
         rt AS (SELECT doc_id, array_to_string($bpeWords, ' ') AS roundtrip
           FROM aug)
         SELECT agg.doc_id, agg.n_ids, agg.n_fallback, agg.token_ids,
           rt.roundtrip
         FROM agg JOIN rt USING (doc_id) ORDER BY doc_id"""
      // ---- marked packed training file (q135): the q132 packing replay
      // under the MARKED byte-fallback ids (piece id = 256 + rank,
      // word-initial += markShift; corpus text is covered, so no byte
      // expansion occurs and the stream length equals q132's) — the
      // exact artifact CorpusPipeline's pack_ids stage emits when the
      // unigram family is selected.
      val markedPackSql = s"""$base,
         pv_e AS MATERIALIZED (SELECT * FROM (VALUES
           ${unigramValues(model.pieces)}) t(piece, logp_q)),
         wv_e AS (SELECT * FROM wvx)${unigramDpCtes("_e", p, lw)},
         wpp AS MATERIALIZED (
           SELECT word, piece, CAST(row_number() OVER (PARTITION BY word
             ORDER BY pos) AS BIGINT) AS ppos FROM seg_e
           UNION ALL
           SELECT word, substr(word, st, 1) AS piece, CAST(st AS BIGINT)
             AS ppos FROM (SELECT word, unnest(range(1, len(word) + 1))
             AS st FROM wlx)),
         vid AS (SELECT piece, CAST(255 + row_number() OVER (ORDER BY piece)
             AS INTEGER) AS id FROM pv_e),
         wq AS (SELECT doc_id, unnest(words) AS wd,
             unnest(range(1, len(words) + 1)) AS wpos
           FROM (SELECT doc_id, $bpeWords AS words FROM documents)),
         tok AS (SELECT q.doc_id, q.wpos, pp.ppos, pp.piece
           FROM wq q JOIN wpp pp ON pp.word = q.wd),
         ti AS (SELECT doc_id, piece, ppos, row_number() OVER (
             PARTITION BY doc_id ORDER BY wpos, ppos) AS pos FROM tok),
         idsq AS (SELECT ti.doc_id, ti.pos,
             CASE WHEN ti.ppos = 1 THEN vid.id + $ms ELSE vid.id END AS id
           FROM ti JOIN vid ON ti.piece = vid.piece),
         dn AS (SELECT doc_id, COUNT(*) AS n FROM idsq GROUP BY doc_id),
         cum AS (SELECT doc_id,
             SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
               AS strt FROM dn),
         g AS (SELECT (c.strt + i.pos - 1) AS gpos, i.id
           FROM idsq i JOIN cum c USING (doc_id))
         SELECT CAST(gpos // 8192 AS BIGINT) AS seq_id,
           CAST(COUNT(*) AS INTEGER) AS n_tokens,
           string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) AS token_ids
         FROM g GROUP BY 1 ORDER BY seq_id"""
      // ---- FAITHFUL flat stream + OOV byte fallback (q138): the q103
      // device for the unigram family. The faithful-trained table's DP
      // replays over PRETOKEN words (case/whitespace preserved, the
      // bpePretoks RE2 tiling) with the unk rule; ids assemble flat
      // (piece id = 256 + binary rank, unknown code point = UTF-8
      // bytes, NO marking — pretokens carry their own space); the
      // roundtrip is derived independently as the stripped input text.
      val fm = unigramFaithfulOpt.getOrElse(throw new IllegalStateException(
        "primeUnigram trains both word models — faithful model missing"))
      val fp2 = fm.maxPieceLen
      val flw = fm.maxWordLen
      val faithfulRoundtripSql = s"""WITH aug AS MATERIALIZED (
           SELECT doc_id, text || $suffix AS text FROM documents),
         v AS MATERIALIZED (SELECT word,
           CAST(COUNT(*) AS BIGINT) AS cnt FROM
           (SELECT unnest(${bpePretoks("text")}) AS word FROM aug)
           GROUP BY word),
         wv_f AS MATERIALIZED (SELECT word, cnt FROM v WHERE len(word) <= $flw),
         wl_f AS (SELECT word, cnt FROM v WHERE len(word) > $flw),
         pv_f AS MATERIALIZED (SELECT * FROM (VALUES
           ${unigramValues(fm.pieces)}) t(piece, logp_q))${
        unigramDpCtes("_f", fp2, flw, unkFallback = true)},
         wpp AS MATERIALIZED (
           SELECT word, piece, CAST(row_number() OVER (PARTITION BY word
             ORDER BY pos) AS BIGINT) AS ppos FROM seg_f
           UNION ALL
           SELECT word, substr(word, st, 1) AS piece, CAST(st AS BIGINT)
             AS ppos FROM (SELECT word, unnest(range(1, len(word) + 1))
             AS st FROM wl_f)),
         vid AS (SELECT piece, CAST(255 + row_number() OVER (ORDER BY piece)
             AS INTEGER) AS id FROM pv_f),
         wq AS (SELECT doc_id, unnest(words) AS wd,
             unnest(range(1, len(words) + 1)) AS wpos
           FROM (SELECT doc_id, ${bpePretoks("text")} AS words FROM aug)),
         tok AS (SELECT q.doc_id, q.wpos, pp.ppos, pp.piece
           FROM wq q JOIN wpp pp ON pp.word = q.wd),
         idl AS (SELECT t.doc_id, t.wpos, t.ppos,
             CASE WHEN v.id IS NOT NULL THEN [v.id]
               WHEN unicode(t.piece) < 128 THEN [unicode(t.piece)]
               WHEN unicode(t.piece) < 2048 THEN
                 [192 + unicode(t.piece) // 64, 128 + unicode(t.piece) % 64]
               WHEN unicode(t.piece) < 65536 THEN
                 [224 + unicode(t.piece) // 4096,
                  128 + (unicode(t.piece) // 64) % 64,
                  128 + unicode(t.piece) % 64]
               ELSE
                 [240 + unicode(t.piece) // 262144,
                  128 + (unicode(t.piece) // 4096) % 64,
                  128 + (unicode(t.piece) // 64) % 64,
                  128 + unicode(t.piece) % 64] END AS ids
           FROM tok t LEFT JOIN vid v ON t.piece = v.piece),
         flat AS (SELECT doc_id, wpos, ppos, unnest(ids) AS id,
             unnest(range(1, len(ids) + 1)) AS bpos FROM idl),
         ord AS (SELECT doc_id, id, row_number() OVER (
             PARTITION BY doc_id ORDER BY wpos, ppos, bpos) AS pos FROM flat),
         agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ids,
             CAST(SUM(CASE WHEN id < 256 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fallback,
             string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS token_ids
           FROM ord GROUP BY doc_id)
         SELECT g.doc_id, a.n_ids, a.n_fallback, a.token_ids,
           regexp_replace(g.text, '[\\x01\\x02]', '', 'g') AS roundtrip
         FROM aug g JOIN agg a USING (doc_id) ORDER BY g.doc_id"""
      Map("q126_unigram_train" -> trainSql,
        "q131_unigram_encode" -> encodeSql,
        "q132_unigram_pack_ids" -> packSql,
        "q134_unigram_marked_roundtrip" -> markedRoundtripSql,
        "q135_unigram_marked_pack" -> markedPackSql,
        "q138_unigram_faithful_roundtrip" -> faithfulRoundtripSql)
  }

  // ------------------------------------------------------ BPE (q87-q99)
  //
  // Soundness of generating the TRAINING oracle from the engine's own
  // merge table (q87): the SQL re-derives round k's argmax pair IN DUCKDB
  // from the corpus, GIVEN merges 0..k-1 as the applied replace chain. If
  // the engine's table diverges from true greedy BPE at any first round j,
  // the oracle's round-j row (true argmax under the agreed prefix) differs
  // from the engine's row j and the driver's hash compare fails. So a full
  // match proves, by induction over rounds, that the engine's table IS the
  // greedy-BPE merge sequence of the corpus — the inlined merges are an
  // induction hypothesis, not a trusted input. (Caveat, documented: the
  // oracle does not re-check the trainer's minCount early-stop — at the
  // test SFs all 32 rounds clear minCount=2 by orders of magnitude.)
  //
  // Encoding replay (q88/q89): a word is delimiterized to
  // <L>c<R><L>c<R>... (<L>=chr(1), <R>=chr(2), both stripped from input
  // text first, so they cannot occur in a symbol) and each merge (x, y) is
  // ONE literal replace('<L>x<R><L>y<R>' -> '<L>xy<R>') applied in rank
  // order — exactly the kernel's documented algorithm (BpeKernel scaladoc
  // proves chain == greedy). Token count = occurrences of <R>.

  @volatile private var bpeMerges: Option[Seq[graft.functions.Bpe.Merge]] = None
  @volatile private var bpeMergesFaithful: Option[Seq[graft.functions.Bpe.Merge]] = None
  @volatile private var pcaPlanes: Option[Seq[Array[Long]]] = None

  /** Train (or refresh) the PCA plane constants the q116 oracle embeds —
    * FROM THE SAME TRAINER the engine query uses (the q43/q44 inlined-
    * constants discipline: the SQL cannot drift from the engine). Must
    * run before [[all]], like [[primeBpe]]. */
  def primePca(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit =
    pcaPlanes = Some(graft.operators.Pca.train(
      spark.read.parquet(s"$sfDir/embeddings.parquet"), "embedding",
      dim = 64, p = 4, scale = 1000).planes)

  private def pcaEntries: Map[String, String] = pcaPlanes match {
    // FAIL LOUDLY un-primed — the bpeEntries rationale: a silent
    // omission would downgrade q116 to the rows-only check.
    case None => throw new IllegalStateException(
      "OracleSql.primePca(spark, sfDir) must run before OracleSql.all: " +
        "the q116 oracle SQL embeds the engine-trained PCA planes and " +
        "cannot be built without them")
    case Some(planes) =>
      val pcCols = planes.zipWithIndex.map { case (pl, k) =>
        val lst = pl.mkString("[", ",", "]")
        s"CAST(list_sum(list_transform(range(1, len(q) + 1), i -> q[i] * ($lst)[i])) AS BIGINT) AS pc${k + 1}"
      }.mkString(",\n           ")
      // q119's 4-dim re-quantized vector: project (exact long), divide by
      // scale*eigQuant (1e9 — one IEEE division, same shape as the
      // engine's withProjection), then semDedup's x1000 quantization.
      val pvList = planes.map { pl =>
        val lst = pl.mkString("[", ",", "]")
        s"CAST(ROUND(CAST(list_sum(list_transform(range(1, len(q) + 1), i -> q[i] * ($lst)[i])) AS DOUBLE) / 1000000000.0 * 1000) AS BIGINT)"
      }.mkString("list_value(", ",\n             ", ")")
      Map(
        "q116_pca_project" ->
          s"""SELECT vec_id, $pcCols
             FROM (SELECT vec_id, ${quantized(1000)} AS q FROM embeddings)
             ORDER BY vec_id""",
        // q119: q70's semDedup SQL over the PCA-reduced (p=4) vectors —
        // projection planes from the SAME trainer (primePca). Replays
        // Pca.withProjection + Similarity.semDedup.
        "q119_pca_semdedup" ->
          s"""WITH e AS (SELECT vec_id, ${quantized(1000)} AS q FROM embeddings),
             v AS (SELECT vec_id, $pvList AS qv FROM e),
             cent AS (SELECT vec_id AS cid, qv AS cv FROM v ORDER BY vec_id LIMIT 8),
             d AS (
               SELECT v.vec_id, v.qv, cent.cid,
                 CAST(list_sum(list_transform(range(1, len(v.qv) + 1),
                   i -> (v.qv[i] - cent.cv[i]) * (v.qv[i] - cent.cv[i]))) AS BIGINT) AS d2
               FROM v, cent),
             r AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d),
             assign AS (
               SELECT vec_id, qv, cid AS centroid_id,
                 CAST(list_sum(list_transform(qv, x -> x * x)) AS BIGINT) AS n2
               FROM r WHERE rn = 1),
             s AS (
               SELECT a.vec_id, b.vec_id AS b_id, a.n2 AS na2, b.n2 AS nb2,
                 CAST(list_sum(list_transform(range(1, len(a.qv) + 1),
                   i -> a.qv[i] * b.qv[i])) AS BIGINT) AS qdot
               FROM assign a JOIN assign b
                 ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id),
             dropped AS (
               SELECT vec_id, MIN(b_id) AS dup_of FROM s
               WHERE qdot > 0 AND qdot * qdot * 100 >= 9 * na2 * nb2
               GROUP BY vec_id)
             SELECT a.vec_id, a.centroid_id, (dup_of IS NULL) AS kept, dup_of
             FROM assign a LEFT JOIN dropped USING (vec_id)
             ORDER BY a.vec_id""")
  }

  /** Train (or reuse the per-JVM memo of) the merge tables — word model
    * AND the faithful pretoken model (q103/q104) — for `sfDir` so the
    * q87-q104 oracle SQL can be generated. Deterministic, so the primed
    * tables equal what the query fns derive from the same dir. */
  def primeBpe(spark: org.apache.spark.sql.SparkSession, sfDir: String): Unit = {
    bpeMerges = Some(graft.functions.Bpe.trainMergesCached(
      spark.read.parquet(s"$sfDir/documents.parquet"), sfDir, "text",
      graft.SparkEntry.BpeNumMerges))
    bpeMergesFaithful = Some(graft.functions.Bpe.trainMergesCached(
      spark.read.parquet(s"$sfDir/documents.parquet"), sfDir, "text",
      graft.SparkEntry.BpeNumMerges, faithful = true))
  }

  /** Shared DuckDB snippet: words of `text` under the BPE word model
    * (mirrors Bpe.words = TextFns.tokens after stripping U+0001/U+0002). */
  private val bpeWords =
    raw"""list_filter(regexp_split_to_array(lower(trim(regexp_replace(text, '[\x01\x02]', '', 'g'))), '$ws+'), x -> length(x) > 0)"""

  /** Shared DuckDB snippet: FAITHFUL pretokens of `text` — the RE2 replay
    * of BpeKernel.pretokens' documented lookahead-free pattern (explicit
    * code-point classes; leftmost-first alternation and greedy
    * quantifiers agree between RE2 and the kernel's scanner — BpeSpec
    * pins the scanner against a literal Java-regex implementation of the
    * SAME pattern). The matches TILE the stripped text, so concatenating
    * them reconstructs it — the property q103's roundtrip column rests
    * on. */
  private val bpePretokPattern =
    raw""" ?[A-Za-z\x80-\x{10FFFF}]+| ?[0-9]+| ?[^A-Za-z0-9\x80-\x{10FFFF} \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+"""
  private def bpePretoks(textExpr: String): String =
    s"""regexp_extract_all(regexp_replace($textExpr, '[\\x01\\x02]', '', 'g'), '$bpePretokPattern')"""

  private def bpeSqlStr(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Delimiterize a word expression: chr(1) before and chr(2) after every
    * CODE POINT (RE2 '.' is codepoint-wise, matching the kernel; `(?s)`
    * because Unicode line separators survive the ASCII whitespace split
    * and must delimiterize like any other symbol — RE2's bare '.'
    * excludes \n, Java's excludes U+0085/U+2028/U+2029 too). */
  private def bpeDelim(expr: String): String =
    s"regexp_replace($expr, '(?s)(.)', chr(1) || '" + "\\1" + s"' || chr(2), 'g')"

  /** Rank-order replace chain applying `merges` to a delimiterized-word
    * expression. */
  private def bpeChain(expr: String, merges: Seq[graft.functions.Bpe.Merge]): String =
    merges.foldLeft(expr) { (acc, m) =>
      val pat = s"chr(1)||${bpeSqlStr(m.left)}||chr(2)||chr(1)||${bpeSqlStr(m.right)}||chr(2)"
      val rep = s"chr(1)||${bpeSqlStr(m.left + m.right)}||chr(2)"
      s"replace($acc, $pat, $rep)"
    }

  /** Per-word BPE token count: number of chr(2) symbol terminators in the
    * fully-merged encoding. */
  private def bpeCountWord(wordExpr: String, merges: Seq[graft.functions.Bpe.Merge]): String =
    s"len(string_split(${bpeChain(bpeDelim(wordExpr), merges)}, chr(2))) - 1"

  /** Per-doc BPE token count over the `text` column. */
  private def bpeCountDoc(merges: Seq[graft.functions.Bpe.Merge]): String =
    s"""CAST(COALESCE(list_sum(list_transform($bpeWords,
         wd -> ${bpeCountWord("wd", merges)})), 0) AS BIGINT)"""

  /** Per-doc BPE token LIST over the `text` column (mirrors Bpe.tokens:
    * per-word encodings concatenated in word order). Each encoded word is
    * `\x01 t \x02 \x01 t \x02 …`; strip the anchored lead/tail delimiters
    * and split on the `\x02\x01` inter-token seam — token strings
    * themselves can never contain the delimiters (bpeWords strips them
    * from the input). */
  private def bpeToksDoc(merges: Seq[graft.functions.Bpe.Merge]): String =
    s"""flatten(list_transform($bpeWords,
         wd -> string_split(regexp_replace(${bpeChain(bpeDelim("wd"), merges)},
           '^\\x01|\\x02$$', '', 'g'), chr(2)||chr(1))))"""

  /** q87: the induction over training rounds — e0 = delimiterized vocab;
    * e(k+1) = e(k) + engine merge k; p(k) = DuckDB's own argmax over
    * e(k)'s adjacent-pair weighted counts (count DESC, then binary-order
    * (l, r) — DuckDB default collation is binary, same total order as
    * Spark's UTF8String sort). */
  private def bpeTrainSql(merges: Seq[graft.functions.Bpe.Merge]): String = {
    if (merges.isEmpty)
      return """SELECT CAST(0 AS INTEGER) AS merge_rank, '' AS left_sym,
        '' AS right_sym, CAST(0 AS BIGINT) AS cnt WHERE 1=0"""
    val ctes = new StringBuilder(
      s"""WITH v AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM
           (SELECT unnest($bpeWords) AS word FROM documents) GROUP BY word),
         e0 AS (SELECT cnt, ${bpeDelim("word")} AS sym FROM v)""")
    merges.indices.foreach { k =>
      ctes.append(s""",
         p$k AS (SELECT CAST($k AS INTEGER) AS merge_rank, l AS left_sym,
             r AS right_sym, c AS cnt FROM (
           SELECT pr.l AS l, pr.r AS r, CAST(SUM(cnt) AS BIGINT) AS c FROM (
             SELECT cnt, unnest(list_transform(range(1, len(syms)),
               i -> {'l': syms[i], 'r': syms[i+1]})) AS pr
             FROM (SELECT cnt, string_split(regexp_replace(sym,
               '^\\x01|\\x02$$', '', 'g'), chr(2)||chr(1)) AS syms FROM e$k)
             WHERE len(syms) >= 2)
           GROUP BY pr.l, pr.r)
           ORDER BY c DESC, l, r LIMIT 1)""")
      if (k + 1 < merges.length) {
        val m = merges(k)
        ctes.append(s""",
         e${k + 1} AS (SELECT cnt, replace(sym,
           chr(1)||${bpeSqlStr(m.left)}||chr(2)||chr(1)||${bpeSqlStr(m.right)}||chr(2),
           chr(1)||${bpeSqlStr(m.left + m.right)}||chr(2)) AS sym FROM e$k)""")
      }
    }
    ctes.append("\n         " +
      merges.indices.map(k => s"SELECT * FROM p$k").mkString(" UNION ALL ") +
      " ORDER BY merge_rank")
    ctes.toString
  }

  /** q103/q104: the FAITHFUL-model oracles. Vocabulary layout re-derived
    * from scratch — byte ids 0..255 reserved, the faithful alphabet
    * (distinct delimiterized pretoken symbols: case variants, spaces,
    * newlines all distinct symbols) at 256.. in binary order, merge
    * products after — and the encode replayed as the same rank-order
    * replace chain over PRETOKENS instead of lowercased words. q103
    * additionally emits `roundtrip` = the stripped original text (plus
    * the shared OovSuffix): the engine side puts its decode(encode(text))
    * there, so a hash match proves byte-exact reconstruction with the
    * two sides computed by entirely different machinery. */
  private def bpeFaithfulEntries(merges: Seq[graft.functions.Bpe.Merge]): Map[String, String] = {
    val mergeVals =
      if (merges.isEmpty) ""
      else merges.map(m => s"(${bpeSqlStr(m.left + m.right)}, ${m.rank})")
        .mkString(", ")
    val mergedVocab =
      if (merges.isEmpty) ""
      else s"""
         UNION ALL SELECT v.tok,
           CAST(256 + (SELECT COUNT(*) FROM alpha) + v.rank AS INTEGER) AS id
         FROM (VALUES $mergeVals) v(tok, rank)"""
    val suffix = graft.SparkEntry.OovSuffix.codePoints().toArray
      .map(cp => s"chr($cp)").mkString(" || ")
    val alphaCte = s"""tw0 AS (SELECT unnest(${bpePretoks("text")}) AS wd FROM documents),
       alpha AS (SELECT c,
           CAST(255 + row_number() OVER (ORDER BY c) AS INTEGER) AS id
         FROM (SELECT DISTINCT unnest(string_split(regexp_replace(
           ${bpeDelim("wd")}, '^\\x01|\\x02$$', '', 'g'),
           chr(2)||chr(1))) AS c FROM tw0)),
       vocab AS (SELECT c AS tok, id FROM alpha$mergedVocab)"""
    val encCtes = s"""tw AS (SELECT doc_id, unnest(words) AS wd,
           unnest(range(1, len(words) + 1)) AS wpos FROM w),
       enc AS (SELECT doc_id, wpos, string_split(regexp_replace(
           ${bpeChain(bpeDelim("wd"), merges)}, '^\\x01|\\x02$$', '', 'g'),
           chr(2)||chr(1)) AS ts FROM tw),
       tok AS (SELECT doc_id, wpos, unnest(ts) AS tok,
           unnest(range(1, len(ts) + 1)) AS tpos FROM enc),
       idl AS (SELECT t.doc_id, t.wpos, t.tpos,
           CASE WHEN v.id IS NOT NULL THEN [v.id]
             WHEN unicode(t.tok) < 128 THEN [unicode(t.tok)]
             WHEN unicode(t.tok) < 2048 THEN
               [192 + unicode(t.tok) // 64, 128 + unicode(t.tok) % 64]
             WHEN unicode(t.tok) < 65536 THEN
               [224 + unicode(t.tok) // 4096,
                128 + (unicode(t.tok) // 64) % 64,
                128 + unicode(t.tok) % 64]
             ELSE
               [240 + unicode(t.tok) // 262144,
                128 + (unicode(t.tok) // 4096) % 64,
                128 + (unicode(t.tok) // 64) % 64,
                128 + unicode(t.tok) % 64] END AS ids
         FROM tok t LEFT JOIN vocab v ON t.tok = v.tok),
       flat AS (SELECT doc_id, wpos, tpos, unnest(ids) AS id,
           unnest(range(1, len(ids) + 1)) AS bpos FROM idl),
       ord AS (SELECT doc_id, id, row_number() OVER (
           PARTITION BY doc_id ORDER BY wpos, tpos, bpos) AS pos FROM flat)"""
    Map(
      "q103_bpe_faithful_roundtrip" ->
        s"""WITH $alphaCte,
           aug AS (SELECT doc_id, text || $suffix AS text FROM documents),
           w AS (SELECT doc_id, ${bpePretoks("text")} AS words FROM aug),
           $encCtes,
           agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ids,
               CAST(SUM(CASE WHEN id < 256 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_fallback,
               string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS token_ids
             FROM ord GROUP BY doc_id)
           SELECT g.doc_id, a.n_ids, a.n_fallback, a.token_ids,
             regexp_replace(g.text, '[\\x01\\x02]', '', 'g') AS roundtrip
           FROM aug g JOIN agg a USING (doc_id) ORDER BY g.doc_id""",
      "q104_bpe_faithful_pack" ->
        s"""WITH $alphaCte,
           w AS (SELECT doc_id, ${bpePretoks("text")} AS words FROM documents),
           $encCtes,
           dn AS (SELECT doc_id, COUNT(*) AS n FROM ord GROUP BY doc_id),
           cum AS (SELECT doc_id,
               SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                 AS strt FROM dn),
           g AS (SELECT (c.strt + i.pos - 1) AS gpos, i.id
             FROM ord i JOIN cum c USING (doc_id))
           SELECT CAST(gpos // 8192 AS BIGINT) AS seq_id,
             CAST(COUNT(*) AS INTEGER) AS n_tokens,
             string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) AS token_ids
           FROM g GROUP BY 1 ORDER BY seq_id""",

      // q108: q104 + a reserved EOS id (256 + |alphabet| + |merges| —
      // one past the open vocabulary) appended to EVERY document's id
      // stream (empty docs contribute just their EOS), so per-doc
      // lengths are n+1 and every coordinate shifts accordingly.
      "q108_bpe_eos_pack" ->
        s"""WITH $alphaCte,
           w AS (SELECT doc_id, ${bpePretoks("text")} AS words FROM documents),
           $encCtes,
           dn AS (SELECT d.doc_id, COUNT(i.id) + 1 AS n
             FROM documents d LEFT JOIN ord i USING (doc_id)
             GROUP BY d.doc_id),
           allp AS (SELECT doc_id, id, pos FROM ord
             UNION ALL SELECT doc_id,
               CAST(256 + (SELECT COUNT(*) FROM alpha) + ${merges.size}
                 AS INTEGER) AS id, n AS pos FROM dn),
           cum AS (SELECT doc_id,
               SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                 AS strt FROM dn),
           g AS (SELECT (c.strt + i.pos - 1) AS gpos, i.id
             FROM allp i JOIN cum c USING (doc_id))
           SELECT CAST(gpos // 8192 AS BIGINT) AS seq_id,
             CAST(COUNT(*) AS INTEGER) AS n_tokens,
             string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) AS token_ids
           FROM g GROUP BY 1 ORDER BY seq_id""")
  }

  private def bpeEntries: Map[String, String] = bpeMerges match {
    // FAIL LOUDLY un-primed: silently omitting the generated q87-q99
    // oracles would degrade those queries to the driver's weaker
    // rows-only check with no error signal — any dump path must call
    // primeBpe (or accept this exception), never lose oracles quietly.
    case None => throw new IllegalStateException(
      "OracleSql.primeBpe(spark, sfDir) must run before OracleSql.all: " +
        "the q87-q99 oracle SQL is generated from the corpus-trained BPE " +
        "merge table and cannot be built without it")
    case Some(merges) =>
      // Precondition of the chain == greedy-encode equivalence (see
      // BpeKernel scaladoc): no duplicate (left, right) table entry. The
      // kernel's rank dict collapses a duplicate to its first rank while
      // the generated replace chain would re-apply it later — reject
      // loudly rather than replay SQL that could diverge from the engine.
      require(merges.map(m => (m.left, m.right)).distinct.size == merges.size,
        "BPE merge table contains a duplicate pair — the replace-chain " +
          "oracle would diverge from the kernel's dict-greedy encode")
      val fMerges = bpeMergesFaithful.getOrElse(throw new IllegalStateException(
        "primeBpe trains both tables — faithful table missing"))
      require(fMerges.map(m => (m.left, m.right)).distinct.size == fMerges.size,
        "faithful BPE merge table contains a duplicate pair")
      bpeFaithfulEntries(fMerges) ++ Map(
      "q87_bpe_train" -> bpeTrainSql(merges),
      "q88_bpe_token_count" ->
        s"""WITH w AS (SELECT doc_id, $bpeWords AS words FROM documents)
           SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(words,
               wd -> ${bpeCountWord("wd", merges)})), 0) AS BIGINT) AS n_bpe_tokens
           FROM w ORDER BY doc_id""",
      // q64's mixture replay with the token column re-denominated in BPE
      // tokens (budget 80000, same weights and integer keep test)
      "q89_bpe_mixture" ->
        s"""WITH t AS (
             SELECT doc_id, source, ${bpeCountDoc(merges)} AS n_bpe_tokens
             FROM documents),
           tot AS (
             SELECT source, CAST(SUM(n_bpe_tokens) AS BIGINT) AS source_tokens,
               (80000 * (20 - CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT)) * 10000)
                 // (210 * CAST(SUM(n_bpe_tokens) AS BIGINT)) AS keep_threshold
             FROM t GROUP BY source)
           SELECT doc_id, t.source, n_bpe_tokens, source_tokens, keep_threshold,
             CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 10000 AS sample_bucket
           FROM t JOIN tot USING (source)
           WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
               % 10000 < keep_threshold
           ORDER BY doc_id""",
      // q90: budget chunking — per-word BPE counts, within-doc running
      // total (window), floor-div bin at 64 tokens, ordered re-join.
      // Replays Chunker.chunkByTokenBudget(wordsFn = Bpe.words).
      "q90_bpe_chunk" ->
        s"""WITH w AS (SELECT doc_id, unnest(words) AS word,
               unnest(range(1, len(words) + 1)) AS pos
             FROM (SELECT doc_id, $bpeWords AS words FROM documents)),
           t AS (SELECT doc_id, pos, word,
               CAST(${bpeCountWord("word", merges)} AS BIGINT) AS wt FROM w),
           c AS (SELECT doc_id, pos, word, wt,
               CAST(SUM(wt) OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - wt
                 AS BIGINT) AS cum_before
             FROM t)
           SELECT doc_id, CAST(cum_before // 64 AS INTEGER) AS chunk_id,
             string_agg(word, ' ' ORDER BY pos) AS chunk_text,
             CAST(SUM(wt) AS BIGINT) AS n_chunk_tokens,
             CAST(COUNT(*) AS INTEGER) AS n_chunk_words
           FROM c GROUP BY doc_id, chunk_id
           ORDER BY doc_id, chunk_id""",
      // q91: q61's sequence packing re-denominated in BPE tokens —
      // same global prefix sum and integer // binning, 8192-token
      // sequences (~q61's 2048 words at this corpus's tokens-per-word)
      "q91_bpe_pack" ->
        s"""WITH t AS (SELECT doc_id, ${bpeCountDoc(merges)} AS n_bpe_tokens
             FROM documents),
           c AS (SELECT doc_id, n_bpe_tokens,
               CAST(SUM(n_bpe_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             FROM t)
           SELECT doc_id, n_bpe_tokens, cum_tokens,
             (cum_tokens - n_bpe_tokens) // 8192 AS seq_first,
             (cum_tokens - 1) // 8192 AS seq_last,
             (cum_tokens - n_bpe_tokens) % 8192 AS tok_offset
           FROM c WHERE n_bpe_tokens > 0 ORDER BY doc_id""",
      // q92: q67's greedy budget fill re-denominated in BPE tokens —
      // per-source budget B*w/210 with B = 80000 BPE tokens
      "q92_bpe_budget_select" ->
        s"""WITH t AS (
             SELECT doc_id, source, ${bpeCountDoc(merges)} AS n_bpe_tokens,
               (80000 * (20 - CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT))) // 210
                 AS source_budget
             FROM documents),
           c AS (
             SELECT *, CAST(SUM(n_bpe_tokens) OVER (
               PARTITION BY source ORDER BY n_bpe_tokens DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             FROM t)
           SELECT doc_id, source, n_bpe_tokens, source_budget, cum_tokens
           FROM c WHERE cum_tokens <= source_budget
           ORDER BY doc_id""",
      // q93: q66's up/down-resampling re-denominated in BPE tokens —
      // budget 240000 (~2.2x the corpus in BPE tokens), uncapped
      // rate_myriad, epoch = unnest(range(n_copies))
      "q93_bpe_resample" ->
        s"""WITH t AS (
             SELECT doc_id, source, ${bpeCountDoc(merges)} AS n_bpe_tokens
             FROM documents),
           tot AS (
             SELECT source,
               (240000 * (20 - CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT)) * 10000)
                 // (210 * CAST(SUM(n_bpe_tokens) AS BIGINT)) AS rate_myriad
             FROM t GROUP BY source),
           j AS (
             SELECT doc_id, t.source, n_bpe_tokens, rate_myriad,
               rate_myriad // 10000
                 + CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 10000 < rate_myriad % 10000 THEN 1 ELSE 0 END AS n_copies
             FROM t JOIN tot USING (source))
           SELECT doc_id, source, n_bpe_tokens, rate_myriad, n_copies,
             unnest(range(n_copies)) AS epoch
           FROM j WHERE n_copies > 0
           ORDER BY doc_id, epoch""",
      // q94: q76's unigram-LM cross-entropy with the BPE tokenization as
      // the token unit (the real CCNet shape — LM over tokenizer output).
      // Replays QualityModel.unigramCrossEntropy(tokensOf = Bpe.tokens).
      "q94_bpe_lm_perplexity" ->
        s"""WITH t AS (SELECT doc_id, unnest(${bpeToksDoc(merges)}) AS tok
             FROM documents),
           c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
           g AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS vocab FROM c),
           lp AS (SELECT doc_id,
               CAST(ROUND((ln(CAST(n_total + vocab AS DOUBLE))
                 - ln(CAST(cnt + 1 AS DOUBLE))) * 1e6) AS BIGINT) AS lp_i
             FROM t JOIN c USING (tok) CROSS JOIN g),
           d AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
               SUM(lp_i) AS lp_sum FROM lp GROUP BY doc_id)
           SELECT doc_id, n_tokens,
             ROUND(CAST(lp_sum AS DOUBLE) / (n_tokens * 1e6), 6) AS xent,
             ROUND(exp(CAST(lp_sum AS DOUBLE) / (n_tokens * 1e6)), 4) AS ppl
           FROM d ORDER BY doc_id""",
      // q95: q79's CCNet thirds over the BPE-token LM — ntile(3) by
      // (xent, doc_id). Replays perplexityBuckets(tokensOf = Bpe.tokens).
      "q95_bpe_ppl_buckets" ->
        s"""WITH t AS (SELECT doc_id, unnest(${bpeToksDoc(merges)}) AS tok
             FROM documents),
           c AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
           g AS (SELECT SUM(cnt) AS n_total, COUNT(*) AS vocab FROM c),
           lp AS (SELECT doc_id,
               CAST(ROUND((ln(CAST(n_total + vocab AS DOUBLE))
                 - ln(CAST(cnt + 1 AS DOUBLE))) * 1e6) AS BIGINT) AS lp_i
             FROM t JOIN c USING (tok) CROSS JOIN g),
           d AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
               SUM(lp_i) AS lp_sum FROM lp GROUP BY doc_id),
           x AS (SELECT doc_id, n_tokens,
               ROUND(CAST(lp_sum AS DOUBLE) / (n_tokens * 1e6), 6) AS xent,
               ROUND(exp(CAST(lp_sum AS DOUBLE) / (n_tokens * 1e6)), 4) AS ppl
             FROM d)
           SELECT doc_id, n_tokens, xent, ppl,
             CAST(ntile(3) OVER (ORDER BY xent, doc_id) AS INTEGER) AS bucket
           FROM x ORDER BY doc_id""",
      // q96: temperature-scaled mixture at α = 1/2 — w_s = √n_s via
      // IEEE-correctly-rounded sqrt quantized to 1e-3 (bit-identical in
      // the JVM and DuckDB), then pure integer rate/copy math; the
      // >64-bit product runs in HUGEINT (engine side: DECIMAL(38,0)).
      // Replays Mixture.temperatureResampleSqrt, budget 240000.
      "q96_bpe_temperature_mix" ->
        s"""WITH t AS (
             SELECT doc_id, source, ${bpeCountDoc(merges)} AS n_bpe_tokens
             FROM documents),
           tot AS (
             SELECT source, CAST(SUM(n_bpe_tokens) AS BIGINT) AS source_tokens,
               CAST(ROUND(sqrt(CAST(SUM(n_bpe_tokens) AS DOUBLE)) * 1000) AS BIGINT) AS sq
             FROM t GROUP BY source
             HAVING CAST(SUM(n_bpe_tokens) AS BIGINT) > 0),
           z AS (SELECT CAST(SUM(sq) AS BIGINT) AS z FROM tot),
           r AS (SELECT source, source_tokens,
               CAST((CAST(240000 AS HUGEINT) * sq * 10000)
                 // (CAST(z AS HUGEINT) * source_tokens) AS BIGINT) AS rate_myriad
             FROM tot CROSS JOIN z),
           j AS (SELECT doc_id, t.source, n_bpe_tokens, source_tokens, rate_myriad,
               rate_myriad // 10000
                 + CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT)
                     % 10000 < rate_myriad % 10000 THEN 1 ELSE 0 END AS n_copies
             FROM t JOIN r USING (source))
           SELECT doc_id, source, n_bpe_tokens, source_tokens, rate_myriad,
             n_copies, unnest(range(n_copies)) AS epoch
           FROM j WHERE n_copies > 0
           ORDER BY doc_id, epoch""",
      // q97: packed token-ID sequences — the vocabulary's id order is
      // RE-DERIVED here (alphabet = distinct single-codepoint symbols in
      // binary order, then merge products by rank), so a hash match
      // verifies Bpe.vocab's assignment, the per-token lookup, the
      // global coordinates AND the piece reassembly end to end. Replays
      // Bpe.tokenIds + Packer.packTokenIds at budget 8192.
      "q97_bpe_pack_ids" -> {
        val mergeVals = merges
          .map(m => s"(${bpeSqlStr(m.left + m.right)}, ${m.rank})")
          .mkString(", ")
        val mergedVocab =
          if (merges.isEmpty) ""
          else s"""
             UNION ALL SELECT v.tok,
               CAST((SELECT COUNT(*) FROM alpha) + v.rank AS INTEGER) AS id
             FROM (VALUES $mergeVals) v(tok, rank)"""
        s"""WITH w AS (SELECT doc_id, $bpeWords AS words FROM documents),
           tw AS (SELECT doc_id, unnest(words) AS wd,
               unnest(range(1, len(words) + 1)) AS wpos FROM w),
           alpha AS (SELECT c,
               CAST(row_number() OVER (ORDER BY c) - 1 AS INTEGER) AS id
             FROM (SELECT DISTINCT unnest(string_split(regexp_replace(
               ${bpeDelim("wd")}, '^\\x01|\\x02$$', '', 'g'),
               chr(2)||chr(1))) AS c FROM tw)),
           vocab AS (SELECT c AS tok, id FROM alpha$mergedVocab),
           enc AS (SELECT doc_id, wpos, string_split(regexp_replace(
               ${bpeChain(bpeDelim("wd"), merges)}, '^\\x01|\\x02$$', '', 'g'),
               chr(2)||chr(1)) AS ts FROM tw),
           tok AS (SELECT doc_id, wpos, unnest(ts) AS tok,
               unnest(range(1, len(ts) + 1)) AS tpos FROM enc),
           ti AS (SELECT doc_id, tok, row_number() OVER (
               PARTITION BY doc_id ORDER BY wpos, tpos) AS pos FROM tok),
           ids AS (SELECT ti.doc_id, ti.pos, vocab.id
             FROM ti JOIN vocab ON ti.tok = vocab.tok),
           dn AS (SELECT doc_id, COUNT(*) AS n FROM ids GROUP BY doc_id),
           cum AS (SELECT doc_id,
               SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                 AS strt FROM dn),
           g AS (SELECT (c.strt + i.pos - 1) AS gpos, i.id
             FROM ids i JOIN cum c USING (doc_id))
           SELECT CAST(gpos // 8192 AS BIGINT) AS seq_id,
             CAST(COUNT(*) AS INTEGER) AS n_tokens,
             string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) AS token_ids
           FROM g GROUP BY 1 ORDER BY seq_id"""
      },
      // q101: q97's packing with the document order SHUFFLED by
      // md5(seed || doc_id) — same alphabet/merge id re-derivation, but
      // the global token coordinates follow the hash permutation (hex
      // is ASCII: DuckDB's binary varchar collation == Spark's UTF8
      // ordering), so a hash match verifies the seeded shuffle AND the
      // permuted packing end to end.
      "q101_bpe_shuffled_pack" -> {
        val mergeVals = merges
          .map(m => s"(${bpeSqlStr(m.left + m.right)}, ${m.rank})")
          .mkString(", ")
        val mergedVocab =
          if (merges.isEmpty) ""
          else s"""
             UNION ALL SELECT v.tok,
               CAST((SELECT COUNT(*) FROM alpha) + v.rank AS INTEGER) AS id
             FROM (VALUES $mergeVals) v(tok, rank)"""
        s"""WITH w AS (SELECT doc_id,
               md5('graft-q101:' || CAST(doc_id AS VARCHAR)) AS ord,
               $bpeWords AS words FROM documents),
           tw AS (SELECT doc_id, ord, unnest(words) AS wd,
               unnest(range(1, len(words) + 1)) AS wpos FROM w),
           alpha AS (SELECT c,
               CAST(row_number() OVER (ORDER BY c) - 1 AS INTEGER) AS id
             FROM (SELECT DISTINCT unnest(string_split(regexp_replace(
               ${bpeDelim("wd")}, '^\\x01|\\x02$$', '', 'g'),
               chr(2)||chr(1))) AS c FROM tw)),
           vocab AS (SELECT c AS tok, id FROM alpha$mergedVocab),
           enc AS (SELECT doc_id, ord, wpos, string_split(regexp_replace(
               ${bpeChain(bpeDelim("wd"), merges)}, '^\\x01|\\x02$$', '', 'g'),
               chr(2)||chr(1)) AS ts FROM tw),
           tok AS (SELECT doc_id, ord, wpos, unnest(ts) AS tok,
               unnest(range(1, len(ts) + 1)) AS tpos FROM enc),
           ti AS (SELECT doc_id, ord, tok, row_number() OVER (
               PARTITION BY doc_id ORDER BY wpos, tpos) AS pos FROM tok),
           ids AS (SELECT ti.doc_id, ti.ord, ti.pos, vocab.id
             FROM ti JOIN vocab ON ti.tok = vocab.tok),
           dn AS (SELECT doc_id, ord, COUNT(*) AS n FROM ids
             GROUP BY doc_id, ord),
           cum AS (SELECT doc_id,
               SUM(n) OVER (ORDER BY ord ROWS UNBOUNDED PRECEDING) - n
                 AS strt FROM dn),
           g AS (SELECT (c.strt + i.pos - 1) AS gpos, i.id
             FROM ids i JOIN cum c USING (doc_id))
           SELECT CAST(gpos // 8192 AS BIGINT) AS seq_id,
             CAST(COUNT(*) AS INTEGER) AS n_tokens,
             string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) AS token_ids
           FROM g GROUP BY 1 ORDER BY seq_id"""
      },
      // q102: q97's packing with per-sequence DOCUMENT BOUNDARIES — the
      // attention-mask contract: n_docs + each document-piece's 0-based
      // offset within its sequence, re-derived from the same prefix-sum
      // coordinates the ids are rebuilt from (piece start =
      // greatest(doc start, seq_id * B) - seq_id * B).
      "q102_bpe_pack_boundaries" -> {
        val mergeVals = merges
          .map(m => s"(${bpeSqlStr(m.left + m.right)}, ${m.rank})")
          .mkString(", ")
        val mergedVocab =
          if (merges.isEmpty) ""
          else s"""
             UNION ALL SELECT v.tok,
               CAST((SELECT COUNT(*) FROM alpha) + v.rank AS INTEGER) AS id
             FROM (VALUES $mergeVals) v(tok, rank)"""
        s"""WITH w AS (SELECT doc_id, $bpeWords AS words FROM documents),
           tw AS (SELECT doc_id, unnest(words) AS wd,
               unnest(range(1, len(words) + 1)) AS wpos FROM w),
           alpha AS (SELECT c,
               CAST(row_number() OVER (ORDER BY c) - 1 AS INTEGER) AS id
             FROM (SELECT DISTINCT unnest(string_split(regexp_replace(
               ${bpeDelim("wd")}, '^\\x01|\\x02$$', '', 'g'),
               chr(2)||chr(1))) AS c FROM tw)),
           vocab AS (SELECT c AS tok, id FROM alpha$mergedVocab),
           enc AS (SELECT doc_id, wpos, string_split(regexp_replace(
               ${bpeChain(bpeDelim("wd"), merges)}, '^\\x01|\\x02$$', '', 'g'),
               chr(2)||chr(1)) AS ts FROM tw),
           tok AS (SELECT doc_id, wpos, unnest(ts) AS tok,
               unnest(range(1, len(ts) + 1)) AS tpos FROM enc),
           ti AS (SELECT doc_id, tok, row_number() OVER (
               PARTITION BY doc_id ORDER BY wpos, tpos) AS pos FROM tok),
           ids AS (SELECT ti.doc_id, ti.pos, vocab.id
             FROM ti JOIN vocab ON ti.tok = vocab.tok),
           dn AS (SELECT doc_id, COUNT(*) AS n FROM ids GROUP BY doc_id),
           cum AS (SELECT doc_id, n,
               SUM(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                 AS strt FROM dn),
           g AS (SELECT (c.strt + i.pos - 1) AS gpos, i.id
             FROM ids i JOIN cum c USING (doc_id)),
           seqs AS (SELECT CAST(gpos // 8192 AS BIGINT) AS seq_id,
               CAST(COUNT(*) AS INTEGER) AS n_tokens,
               string_agg(CAST(id AS VARCHAR), ' ' ORDER BY gpos) AS token_ids
             FROM g GROUP BY 1),
           pieces AS (SELECT doc_id,
               unnest(range(CAST(strt // 8192 AS BIGINT),
                 CAST((strt + n - 1) // 8192 + 1 AS BIGINT)))
                 AS seq_id, strt FROM cum),
           bounds AS (SELECT seq_id, CAST(COUNT(*) AS INTEGER) AS n_docs,
               string_agg(CAST(greatest(strt, seq_id * 8192)
                 - seq_id * 8192 AS VARCHAR), ' '
                 ORDER BY greatest(strt, seq_id * 8192)) AS doc_starts
             FROM pieces GROUP BY seq_id)
           SELECT s.seq_id, s.n_tokens, b.n_docs, b.doc_starts, s.token_ids
           FROM seqs s JOIN bounds b USING (seq_id) ORDER BY s.seq_id"""
      },
      // q98: per-source fertility (BPE tokens per word) and compression
      // (word chars per token), myriad-quantized — integer sums first,
      // ONE double multiply/divide/floor at the end, identical operand
      // order on both engines.
      "q98_bpe_fertility" ->
        s"""WITH d AS (SELECT source,
             CAST(len($bpeWords) AS BIGINT) AS w,
             ${bpeCountDoc(merges)} AS t,
             CAST(length(array_to_string($bpeWords, '')) AS BIGINT) AS c
           FROM documents),
           g AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(w) AS BIGINT) AS n_words,
             CAST(SUM(t) AS BIGINT) AS n_bpe_tokens,
             CAST(SUM(c) AS BIGINT) AS n_word_chars
           FROM d GROUP BY source)
           SELECT source, n_docs, n_words, n_bpe_tokens, n_word_chars,
             CAST(floor(n_bpe_tokens * 10000.0 / n_words + 0.5) AS BIGINT)
               AS fertility_myriad,
             CAST(floor(n_word_chars * 10000.0 / n_bpe_tokens + 0.5) AS BIGINT)
               AS chars_per_token_myriad
           FROM g WHERE n_words > 0 AND n_bpe_tokens > 0 ORDER BY source""",
      // q100: OPEN-vocabulary encode with UTF-8 byte fallback — vocab
      // layout re-derived from scratch (byte ids 0..255 reserved;
      // alphabet of the ORIGINAL corpus at 256.. in binary order; merge
      // products after), every document encoded with the shared
      // OovSuffix appended so out-of-alphabet code points of every
      // UTF-8 width flow through the fallback: a token missing from the
      // derived vocab becomes its UTF-8 bytes via pure arithmetic on
      // unicode(tok) (the standard encoding formulas — DuckDB has no
      // per-byte string builtin, and arithmetic is engine-portable).
      "q100_bpe_byte_fallback" -> {
        val mergeVals = merges
          .map(m => s"(${bpeSqlStr(m.left + m.right)}, ${m.rank})")
          .mkString(", ")
        val mergedVocab =
          if (merges.isEmpty) ""
          else s"""
             UNION ALL SELECT v.tok,
               CAST(256 + (SELECT COUNT(*) FROM alpha) + v.rank AS INTEGER) AS id
             FROM (VALUES $mergeVals) v(tok, rank)"""
        val suffix = graft.SparkEntry.OovSuffix.codePoints().toArray
          .map(cp => s"chr($cp)").mkString(" || ")
        s"""WITH tw0 AS (SELECT unnest($bpeWords) AS wd FROM documents),
           alpha AS (SELECT c,
               CAST(255 + row_number() OVER (ORDER BY c) AS INTEGER) AS id
             FROM (SELECT DISTINCT unnest(string_split(regexp_replace(
               ${bpeDelim("wd")}, '^\\x01|\\x02$$', '', 'g'),
               chr(2)||chr(1))) AS c FROM tw0)),
           vocab AS (SELECT c AS tok, id FROM alpha$mergedVocab),
           aug AS (SELECT doc_id, text || $suffix AS text FROM documents),
           w AS (SELECT doc_id, $bpeWords AS words FROM aug),
           tw AS (SELECT doc_id, unnest(words) AS wd,
               unnest(range(1, len(words) + 1)) AS wpos FROM w),
           enc AS (SELECT doc_id, wpos, string_split(regexp_replace(
               ${bpeChain(bpeDelim("wd"), merges)}, '^\\x01|\\x02$$', '', 'g'),
               chr(2)||chr(1)) AS ts FROM tw),
           tok AS (SELECT doc_id, wpos, unnest(ts) AS tok,
               unnest(range(1, len(ts) + 1)) AS tpos FROM enc),
           idl AS (SELECT t.doc_id, t.wpos, t.tpos,
               CASE WHEN v.id IS NOT NULL THEN [v.id]
                 WHEN unicode(t.tok) < 128 THEN [unicode(t.tok)]
                 WHEN unicode(t.tok) < 2048 THEN
                   [192 + unicode(t.tok) // 64, 128 + unicode(t.tok) % 64]
                 WHEN unicode(t.tok) < 65536 THEN
                   [224 + unicode(t.tok) // 4096,
                    128 + (unicode(t.tok) // 64) % 64,
                    128 + unicode(t.tok) % 64]
                 ELSE
                   [240 + unicode(t.tok) // 262144,
                    128 + (unicode(t.tok) // 4096) % 64,
                    128 + (unicode(t.tok) // 64) % 64,
                    128 + unicode(t.tok) % 64] END AS ids
             FROM tok t LEFT JOIN vocab v ON t.tok = v.tok),
           flat AS (SELECT doc_id, wpos, tpos, unnest(ids) AS id,
               unnest(range(1, len(ids) + 1)) AS bpos FROM idl),
           ord AS (SELECT doc_id, id, row_number() OVER (
               PARTITION BY doc_id ORDER BY wpos, tpos, bpos) AS pos FROM flat)
           SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_ids,
             CAST(SUM(CASE WHEN id < 256 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_fallback,
             string_agg(CAST(id AS VARCHAR), ' ' ORDER BY pos) AS token_ids
           FROM ord GROUP BY doc_id ORDER BY doc_id"""
      },
      // q99: q58's decontamination in BPE-token 5-grams — grams joined on
      // a chr(1) seam (stripped from input text by the word model, so no
      // token can contain it); docs shorter than 5 tokens contribute
      // their whole encoding as one gram, mirroring the engine fallback.
      "q99_bpe_decontaminate" ->
        s"""WITH t AS (SELECT doc_id, ${bpeToksDoc(merges)} AS toks
             FROM documents),
           sh AS (SELECT doc_id, unnest(list_distinct(
               CASE WHEN len(toks) >= 5 THEN
                 list_transform(range(1, len(toks) - 3), i ->
                   array_to_string(list_slice(toks, i, i + 4), chr(1)))
               ELSE [array_to_string(toks, chr(1))] END)) AS g FROM t),
           bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 0),
           ov AS (SELECT s.doc_id, COUNT(*) AS hits
             FROM sh s JOIN bench b ON s.g = b.g
             WHERE s.doc_id % 50 <> 0 GROUP BY 1)
           SELECT d.doc_id,
             CAST(COALESCE(ov.hits, 0) AS BIGINT) AS n_overlap_grams,
             COALESCE(ov.hits, 0) > 0 AS contaminated
           FROM documents d LEFT JOIN ov ON d.doc_id = ov.doc_id
           WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""")
  }

  /** Every char as chr(codepoint), '||'-joined — unambiguous for the
    * unprintable mojibake sequences. */
  private def chrConcat(s: String): String =
    s.map(c => s"chr(${c.toInt})").mkString(" || ")

  /** DuckDB replay of TextFns.cleanText over column `c`: mojibake
    * replace chain (from the shared MojibakeFixes table) -> C0-control
    * strip -> whitespace canonicalization. */
  private def cleanTextSql(c: String): String = {
    val fixed = graft.functions.TextFns.MojibakeFixes.foldLeft(c) {
      case (acc, (bad, good)) =>
        s"replace($acc, ${chrConcat(bad)}, ${chrConcat(good)})"
    }
    // normal (escape-processed) strings: "\\x00" emits \x00 into the SQL
    val stripped =
      s"regexp_replace($fixed, '[\\x00-\\x08\\x0B-\\x1F\\x7F]', '', 'g')"
    s"trim(regexp_replace(regexp_replace(regexp_replace($stripped," +
      s" '[ \\t]+', ' ', 'g'), ' ?\\n ?', chr(10), 'g')," +
      s" '\\n{3,}', chr(10) || chr(10), 'g'))"
  }

  /** Shared q77/q78 CTE chain: hashed unigram+bigram features (2^10
    * buckets, seed graft-q77), per-bucket add-one LLR vs the doc_id%7==0
    * target slice, exact integer per-doc sums, md5 Gumbel noise.
    * (A `def`, not a `val`: `all` above initializes first — a forward
    * val reference would interpolate null into the SQL.) */
  private def dsirWeightsCte =
    s"""WITH f AS (
         SELECT doc_id, unnest(list_transform(
             list_concat(toks, CASE WHEN len(toks) >= 2
               THEN list_transform(range(1, len(toks)),
                 i -> toks[i] || ' ' || toks[i + 1])
               ELSE [] END),
             t -> CAST('0x' || substr(md5('graft-q77:' || t), 1, 8) AS BIGINT)
               % 1024)) AS bucket
         FROM (SELECT doc_id, $toks AS toks FROM documents)),
       raw AS (SELECT * FROM f WHERE doc_id % 7 <> 0),
       tgt AS (SELECT * FROM f WHERE doc_id % 7 = 0),
       rc AS (SELECT bucket, COUNT(*) AS r_cnt FROM raw GROUP BY bucket),
       tc AS (SELECT bucket, COUNT(*) AS t_cnt FROM tgt GROUP BY bucket),
       rt AS (SELECT CAST(SUM(r_cnt) AS BIGINT) AS n_raw FROM rc),
       tt AS (SELECT CAST(SUM(t_cnt) AS BIGINT) AS n_target FROM tc),
       lam AS (SELECT bucket,
           CAST(ROUND((ln(CAST(COALESCE(t_cnt, 0) AS DOUBLE) + 1.0)
             - ln(CAST(n_target AS DOUBLE) + 1024.0)
             - ln(CAST(COALESCE(r_cnt, 0) AS DOUBLE) + 1.0)
             + ln(CAST(n_raw AS DOUBLE) + 1024.0)) * 1e6) AS BIGINT)
             AS lambda_i
         FROM rc FULL OUTER JOIN tc USING (bucket)
         CROSS JOIN rt CROSS JOIN tt),
       w AS (SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_feats,
           CAST(SUM(lambda_i) AS BIGINT) AS w_sum
         FROM raw JOIN lam USING (bucket) GROUP BY doc_id),
       scored AS (SELECT doc_id, n_feats, w_sum,
           ROUND(CAST(w_sum AS DOUBLE) / 1e6, 6) AS w,
           ROUND(-ln(-ln((CAST('0x' || substr(md5('graft-q77:g:'
             || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 0.5)
             / 1152921504606846976.0)), 6) AS gumbel,
           ROUND(CAST(w_sum AS DOUBLE) / 1e6
             + ROUND(-ln(-ln((CAST('0x' || substr(md5('graft-q77:g:'
               || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) + 0.5)
               / 1152921504606846976.0)), 6), 6) AS score
         FROM w)"""
}
