package graft

/** The declared query contract of SURVEY.md §2.9: every entry has a
  * Spark SQL spelling (run verbatim through `spark.sql` over the
  * registered `Tables`) and a DuckDB oracle spelling (same semantics,
  * dialect-translated only — `split`↔`string_split`,
  * `get_json_object`↔`json_extract_string`, `percentile`↔
  * `quantile_cont`, `sequence`/`explode`↔`generate_series`/`unnest`,
  * Spark HOFs `transform`/`aggregate`/`zip_with`↔DuckDB `list_*`).
  *
  * Determinism discipline (SURVEY §2.9):
  *  - every query ends in a total ORDER BY over all output columns
  *    with explicit NULLS FIRST/LAST (Spark and DuckDB defaults
  *    differ);
  *  - every double produced by an aggregate is ROUND(x, 4);
  *  - output types are aligned across engines with explicit CASTs
  *    (DuckDB `sum(int)` → HUGEINT, `row_number()` → BIGINT,
  *    `floor()` → DOUBLE, while Spark yields BIGINT/INT/BIGINT);
  *  - timestamps never appear raw in output — event-time arithmetic
  *    goes through integer microseconds (`unix_micros`↔`epoch_us`).
  */
final case class Q(
    name: String,
    sparkSql: String,
    oracleSql: Option[String],
    tags: String = "",
    /** Optional DataFrame-API implementation used instead of
      * `sparkSql` by the runner (same result contract — asserted by
      * test); lets scale-path operators back oracle-checked queries.
      * An impl stays only with a measured win over its own SQL
      * (interleaved A/B, recorded on the impl as ratio, wins and scale
      * point) or a size gate (qw5); one inside the noise is deleted. */
    impl: Option[(org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame] = None)

object QueryInventory {

  /** Shared spelling: identical SQL runs on both engines. */
  private def shared(name: String, sql: String, tags: String = ""): Q =
    Q(name, sql, Some(sql), tags)

  /** [[shared]] plus a faster DataFrame impl (same result contract —
    * InventorySpec asserts impl == sql rows for every override). */
  private def sharedImpl(name: String, sql: String, tags: String,
      impl: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Q =
    Q(name, sql, Some(sql), tags, Some(impl))

  // ---------------------------------------------------------------
  // Scans / projection / filter / predicates (Q-F*)
  // ---------------------------------------------------------------

  val qf1 = shared("qf1_project_filter",
    """SELECT l_orderkey, l_linenumber, l_quantity
      |FROM lineitem
      |WHERE l_quantity > 45 AND l_returnflag = 'R'
      |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST, l_quantity NULLS FIRST""".stripMargin,
    "scan,filter,pushdown")

  val qf2 = shared("qf2_predicates",
    """SELECT o_orderkey, o_totalprice, o_orderpriority
      |FROM orders
      |WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
      |  AND o_totalprice BETWEEN 50000 AND 150000
      |  AND o_orderstatus LIKE 'F%'
      |ORDER BY o_orderkey NULLS FIRST, o_totalprice NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "filter,in,between,like")

  val qf3 = shared("qf3_null_logic",
    """SELECT event_id, v
      |FROM (SELECT event_id,
      |             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      |      FROM events) t
      |WHERE NOT (v > 100) OR v IS NULL
      |ORDER BY event_id NULLS FIRST, v NULLS FIRST""".stripMargin,
    "null,3vl")

  val qf4 = shared("qf4_date_pred",
    """SELECT l_orderkey, l_linenumber
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST""".stripMargin,
    "date,filter")

  val qf5 = Q("qf5_string_funcs",
    """SELECT p_partkey,
      |       upper(p_brand) AS brand_u,
      |       CAST(length(p_name) AS INT) AS name_len,
      |       substr(p_name, 1, 8) AS name_pre,
      |       concat(p_brand, '#', p_type) AS brand_type,
      |       trim(replace(p_name, 'a', '_')) AS name_repl,
      |       split(p_name, ' ')[0] AS first_tok
      |FROM part
      |ORDER BY p_partkey NULLS FIRST, brand_u NULLS FIRST, name_len NULLS FIRST,
      |         name_pre NULLS FIRST, brand_type NULLS FIRST, name_repl NULLS FIRST,
      |         first_tok NULLS FIRST""".stripMargin,
    Some("""SELECT p_partkey,
      |       upper(p_brand) AS brand_u,
      |       CAST(length(p_name) AS INT) AS name_len,
      |       substr(p_name, 1, 8) AS name_pre,
      |       concat(p_brand, '#', p_type) AS brand_type,
      |       trim(replace(p_name, 'a', '_')) AS name_repl,
      |       string_split(p_name, ' ')[1] AS first_tok
      |FROM part
      |ORDER BY p_partkey NULLS FIRST, brand_u NULLS FIRST, name_len NULLS FIRST,
      |         name_pre NULLS FIRST, brand_type NULLS FIRST, name_repl NULLS FIRST,
      |         first_tok NULLS FIRST""".stripMargin),
    "string")

  val qf6 = shared("qf6_math_funcs",
    """SELECT l_orderkey, l_linenumber,
      |       round(abs(l_extendedprice - 1000.0), 4) AS abs_v,
      |       CAST(floor(l_quantity) AS BIGINT) AS floor_q,
      |       CAST(ceil(l_discount * 100) AS BIGINT) AS ceil_d,
      |       round(sqrt(l_extendedprice), 4) AS sqrt_p,
      |       round(exp(l_discount), 4) AS exp_d,
      |       round(ln(l_extendedprice + 1), 4) AS ln_p,
      |       round(power(l_quantity, 2), 4) AS pow_q,
      |       CAST(sign(l_quantity - 25) AS INT) AS sign_q
      |FROM lineitem
      |WHERE l_orderkey < 200
      |ORDER BY l_orderkey NULLS FIRST, l_linenumber NULLS FIRST, abs_v NULLS FIRST,
      |         floor_q NULLS FIRST, ceil_d NULLS FIRST, sqrt_p NULLS FIRST,
      |         exp_d NULLS FIRST, ln_p NULLS FIRST, pow_q NULLS FIRST, sign_q NULLS FIRST""".stripMargin,
    "math")

  /** RLE expansion — reference Decompress_RLE
    * (/root/reference/firmware/middleware/compression.c:23-58):
    * (value, count) run pairs expanded back to rows. */
  val qf7 = Q("qf7_rle_expand",
    """SELECT value, pos
      |FROM (SELECT CAST(l_quantity AS INT) AS value, count(*) AS cnt
      |      FROM lineitem WHERE l_orderkey < 50
      |      GROUP BY CAST(l_quantity AS INT)) r
      |LATERAL VIEW explode(sequence(1, cnt)) t AS pos
      |ORDER BY value NULLS FIRST, pos NULLS FIRST""".stripMargin,
    Some("""SELECT value, pos FROM (
      |  SELECT value, unnest(generate_series(1, cnt)) AS pos
      |  FROM (SELECT CAST(l_quantity AS INT) AS value, count(*) AS cnt
      |        FROM lineitem WHERE l_orderkey < 50
      |        GROUP BY CAST(l_quantity AS INT)) r) t
      |ORDER BY value NULLS FIRST, pos NULLS FIRST""".stripMargin),
    "explode,rle")

  val qf8 = Q("qf8_json_extract",
    """SELECT event_id, CAST(get_json_object(props, '$.k') AS INT) AS k
      |FROM events
      |WHERE event_id < 500
      |ORDER BY event_id NULLS FIRST, k NULLS FIRST""".stripMargin,
    Some("""SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events
      |WHERE event_id < 500
      |ORDER BY event_id NULLS FIRST, k NULLS FIRST""".stripMargin),
    "json,semistructured")

  val qf9 = Q("qf9_date_parts",
    """SELECT o_orderkey,
      |       CAST(year(o_orderdate) AS INT) AS y,
      |       CAST(month(o_orderdate) AS INT) AS m,
      |       CAST(day(o_orderdate) AS INT) AS d,
      |       CAST(quarter(o_orderdate) AS INT) AS q,
      |       CAST(weekofyear(o_orderdate) AS INT) AS woy,
      |       CAST(dayofweek(o_orderdate) AS INT) AS dow
      |FROM orders
      |WHERE o_orderkey < 300
      |ORDER BY o_orderkey NULLS FIRST, y NULLS FIRST, m NULLS FIRST, d NULLS FIRST,
      |         q NULLS FIRST, woy NULLS FIRST, dow NULLS FIRST""".stripMargin,
    Some("""SELECT o_orderkey,
      |       CAST(year(o_orderdate) AS INT) AS y,
      |       CAST(month(o_orderdate) AS INT) AS m,
      |       CAST(day(o_orderdate) AS INT) AS d,
      |       CAST(quarter(o_orderdate) AS INT) AS q,
      |       CAST(weekofyear(o_orderdate) AS INT) AS woy,
      |       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow
      |FROM orders
      |WHERE o_orderkey < 300
      |ORDER BY o_orderkey NULLS FIRST, y NULLS FIRST, m NULLS FIRST, d NULLS FIRST,
      |         q NULLS FIRST, woy NULLS FIRST, dow NULLS FIRST""".stripMargin),
    "date,extract")

  val qf10 = Q("qf10_regexp",
    """SELECT p_partkey,
      |       regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
      |       length(regexp_replace(p_name, '[aeiou ]', '')) AS consonants,
      |       CASE WHEN regexp_like(p_name, '^[a-m]') THEN 1 ELSE 0 END AS starts_am
      |FROM part
      |WHERE p_partkey < 300
      |ORDER BY p_partkey NULLS FIRST, first_word NULLS FIRST, consonants NULLS FIRST,
      |         starts_am NULLS FIRST""".stripMargin,
    Some("""SELECT p_partkey,
      |       regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
      |       CAST(length(regexp_replace(p_name, '[aeiou ]', '', 'g')) AS INT) AS consonants,
      |       CASE WHEN regexp_matches(p_name, '^[a-m]') THEN 1 ELSE 0 END AS starts_am
      |FROM part
      |WHERE p_partkey < 300
      |ORDER BY p_partkey NULLS FIRST, first_word NULLS FIRST, consonants NULLS FIRST,
      |         starts_am NULLS FIRST""".stripMargin),
    "regexp,string")

  val qf11 = shared("qf11_conditional_funcs",
    """SELECT event_id,
      |       coalesce(nullif(event_type, 'error'), 'ERR') AS et,
      |       round(least(value, CAST(100 AS DOUBLE)), 4) AS capped,
      |       round(greatest(value, CAST(10 AS DOUBLE)), 4) AS floored,
      |       CASE WHEN value IS NULL THEN -1 ELSE 1 END AS has_value
      |FROM events
      |WHERE event_id < 400
      |ORDER BY event_id NULLS FIRST, et NULLS FIRST, capped NULLS FIRST,
      |         floored NULLS FIRST, has_value NULLS FIRST""".stripMargin,
    "conditional")

  /** Date/interval arithmetic (complements qf9's extraction): interval
    * add, calendar-aware month add (both engines clamp to month end),
    * last_day, day difference. Dates rendered as ISO strings so the
    * cross-engine hash sees identical scalars. */
  val qf12 = Q("qf12_date_arith",
    """SELECT o_orderkey,
      |       CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS STRING) AS plus30,
      |       CAST(CAST(add_months(o_orderdate, 2) AS DATE) AS STRING) AS plus2m,
      |       CAST(last_day(CAST(o_orderdate AS DATE)) AS STRING) AS eom,
      |       CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS STRING) AS som,
      |       CAST(datediff(CAST(o_orderdate AS DATE), DATE '1995-01-01') AS INT) AS dd
      |FROM orders
      |WHERE o_orderkey < 400
      |ORDER BY o_orderkey NULLS FIRST, plus30 NULLS FIRST, plus2m NULLS FIRST,
      |         eom NULLS FIRST, som NULLS FIRST, dd NULLS FIRST""".stripMargin,
    Some("""SELECT o_orderkey,
      |       CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS VARCHAR) AS plus30,
      |       CAST(CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS VARCHAR) AS plus2m,
      |       CAST(last_day(CAST(o_orderdate AS DATE)) AS VARCHAR) AS eom,
      |       CAST(CAST(date_trunc('month', o_orderdate) AS DATE) AS VARCHAR) AS som,
      |       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT) AS dd
      |FROM orders
      |WHERE o_orderkey < 400
      |ORDER BY o_orderkey NULLS FIRST, plus30 NULLS FIRST, plus2m NULLS FIRST,
      |         eom NULLS FIRST, som NULLS FIRST, dd NULLS FIRST""".stripMargin),
    "date,interval,arith")

  /** Semi-structured VARIANT path (Spark 4's open JSON type): parse
    * once, typed `variant_get` extraction, `try_variant_get` for a
    * missing path (NULL, not error). Oracle spells the same extraction
    * with DuckDB's JSON functions. */
  val qf13 = Q("qf13_variant",
    """SELECT event_id,
      |       CAST(variant_get(parse_json(props), '$.k', 'int') AS INT) AS k,
      |       CAST(try_variant_get(parse_json(props), '$.missing', 'string') AS STRING) AS missing
      |FROM events
      |WHERE event_id < 300
      |ORDER BY event_id NULLS FIRST, k NULLS FIRST, missing NULLS FIRST""".stripMargin,
    Some("""SELECT event_id,
      |       CAST(json_extract_string(props, '$.k') AS INT) AS k,
      |       json_extract_string(props, '$.missing') AS missing
      |FROM events
      |WHERE event_id < 300
      |ORDER BY event_id NULLS FIRST, k NULLS FIRST, missing NULLS FIRST""".stripMargin),
    "variant,json,semistructured")

  /** Safe casting: TRY_CAST yields NULL instead of an ANSI error on
    * malformed input — the spelling every ingest pipeline needs under
    * Spark 4's default ANSI mode. */
  val qf14 = Q("qf14_try_cast",
    """SELECT p_partkey,
      |       TRY_CAST(substr(p_name, 1, 3) AS INT) AS bad_int,
      |       TRY_CAST(CAST(p_partkey AS STRING) AS INT) AS good_int,
      |       TRY_CAST(p_name AS DOUBLE) AS bad_dbl
      |FROM part
      |WHERE p_partkey < 300
      |ORDER BY p_partkey NULLS FIRST, bad_int NULLS FIRST, good_int NULLS FIRST,
      |         bad_dbl NULLS FIRST""".stripMargin,
    Some("""SELECT p_partkey,
      |       TRY_CAST(substr(p_name, 1, 3) AS INT) AS bad_int,
      |       TRY_CAST(CAST(p_partkey AS VARCHAR) AS INT) AS good_int,
      |       TRY_CAST(p_name AS DOUBLE) AS bad_dbl
      |FROM part
      |WHERE p_partkey < 300
      |ORDER BY p_partkey NULLS FIRST, bad_int NULLS FIRST, good_int NULLS FIRST,
      |         bad_dbl NULLS FIRST""".stripMargin),
    "try_cast,ansi,safe")

  /** Struct construct + field access + JSON rendering (explicit
    * nulls: Spark needs ignoreNullFields=false to match DuckDB's
    * always-render — verified byte-identical incl. null and
    * whole-number doubles), plus null-safe equality in a join
    * condition (`<=>` ↔ `IS NOT DISTINCT FROM`). */
  val qf15 = Q("qf15_struct_json",
    """SELECT e1.event_id AS event_id,
      |       to_json(named_struct('id', e1.event_id, 'type', e1.event_type,
      |                            'v', round(e1.value, 2)),
      |               map('ignoreNullFields', 'false')) AS j,
      |       named_struct('a', e1.event_id, 'b', e1.event_type).b AS field_b
      |FROM events e1 JOIN events e2
      |  ON e1.event_id = e2.event_id AND e1.value <=> e2.value
      |WHERE e1.event_id < 300
      |ORDER BY event_id NULLS FIRST, j NULLS FIRST, field_b NULLS FIRST""".stripMargin,
    Some("""SELECT e1.event_id AS event_id,
      |       to_json(struct_pack(id := e1.event_id, type := e1.event_type,
      |                           v := round(e1.value, 2))) AS j,
      |       struct_pack(a := e1.event_id, b := e1.event_type).b AS field_b
      |FROM events e1 JOIN events e2
      |  ON e1.event_id = e2.event_id AND e1.value IS NOT DISTINCT FROM e2.value
      |WHERE e1.event_id < 300
      |ORDER BY event_id NULLS FIRST, j NULLS FIRST, field_b NULLS FIRST""".stripMargin),
    "struct,json,nullsafe_eq")

  /** Case-insensitive grouping via Spark 4 string collations
    * (`COLLATE UTF8_LCASE`) — the engine-native spelling a Spark 4
    * user writes instead of wrapping every key in lower(). A derived
    * mixed-case key (upper for even part keys, lower for odd) makes
    * the collation do real semantic work: binary grouping would
    * return 2× the groups. Output representative is min() over the
    * group (binary order → deterministic), never the collated key
    * itself (an arbitrary case-variant). The oracle spells the same
    * semantics as lower()-grouping. Collation is a property of the
    * comparison, not a projection — the grouped aggregate still takes
    * map-side partials and one hash shuffle at any scale. */
  val qf16 = Q("qf16_collation",
    """WITH mixed AS (
      |  SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
      |              ELSE lower(p_brand) END AS brand_mc,
      |         p_retailprice
      |  FROM part)
      |SELECT min(brand_mc) AS brand_repr, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(p_retailprice), 4) AS retail_sum
      |FROM mixed
      |GROUP BY brand_mc COLLATE UTF8_LCASE
      |ORDER BY brand_repr NULLS FIRST, n NULLS FIRST, retail_sum NULLS FIRST""".stripMargin,
    Some("""WITH mixed AS (
      |  SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand)
      |              ELSE lower(p_brand) END AS brand_mc,
      |         p_retailprice
      |  FROM part)
      |SELECT min(brand_mc) AS brand_repr, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(p_retailprice), 4) AS retail_sum
      |FROM mixed
      |GROUP BY lower(brand_mc)
      |ORDER BY brand_repr NULLS FIRST, n NULLS FIRST, retail_sum NULLS FIRST""".stripMargin),
    "collation,group_by,spark4")

  // ---------------------------------------------------------------
  // Aggregation (Q-A*)
  // ---------------------------------------------------------------

  /** TPC-H Q1 analog — the flagship pricing summary. */
  val qa1 = shared("qa1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |       round(sum(l_quantity), 4) AS sum_qty,
      |       round(sum(l_extendedprice), 4) AS sum_base_price,
      |       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
      |       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
      |       round(avg(l_quantity), 4) AS avg_qty,
      |       round(avg(l_extendedprice), 4) AS avg_price,
      |       round(avg(l_discount), 4) AS avg_disc,
      |       count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "agg,flagship")

  /** Calibration-stats analog (reference
    * /root/reference/mlir_compiler/quantization.py:59-113). */
  val qa2 = shared("qa2_calib_stats",
    """SELECT event_type,
      |       round(min(value), 4) AS min_v,
      |       round(max(value), 4) AS max_v,
      |       round(avg(value), 4) AS avg_v,
      |       round(stddev_samp(value), 4) AS std_v,
      |       count(*) AS cnt
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type NULLS FIRST""".stripMargin,
    "agg,stats")

  val qa3 = shared("qa3_distinct",
    """SELECT o_orderpriority,
      |       count(DISTINCT o_custkey) AS n_cust,
      |       count(*) AS n_orders
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST""".stripMargin,
    "distinct")

  /** Pruning-threshold analog (reference
    * /root/reference/mlir_compiler/sparsity_optimizer.py:136-162). */
  val qa4 = Q("qa4_percentile",
    """SELECT o_orderstatus,
      |       round(percentile(o_totalprice, 0.5), 4) AS p50,
      |       round(percentile(o_totalprice, 0.9), 4) AS p90
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus NULLS FIRST""".stripMargin,
    Some("""SELECT o_orderstatus,
      |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
      |       round(quantile_cont(o_totalprice, 0.9), 4) AS p90
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus NULLS FIRST""".stripMargin),
    "percentile",
    // Measured win: impl/SQL median 0.63, 12/12 pairs at sf0.1; 0.61, 12/12 at 10×.
    // ONE percentile buffer per group instead of two: the array form
    // sorts each group's values once and interpolates both quantiles
    // from the same counts map — value-identical (same expression
    // class, same interpolation), asserted by the impl==sql spec.
    // At 100 TB the exact-percentile buffer IS the cost (guide §1.2:
    // don't build the same per-group state twice).
    impl = Some { (spark, dir) =>
      Tables.register(spark, dir)
      spark.sql(
        """SELECT o_orderstatus, round(ps[0], 4) AS p50, round(ps[1], 4) AS p90
          |FROM (SELECT o_orderstatus,
          |             percentile(o_totalprice, array(0.5, 0.9)) AS ps
          |      FROM orders GROUP BY o_orderstatus)
          |ORDER BY o_orderstatus NULLS FIRST""".stripMargin)
    })

  /** Sparsity-bucketing analog (reference
    * /root/reference/mlir_compiler/sparsity_optimizer.py:66-112):
    * ratio aggregation + recommended-mode CASE. */
  val qa5 = shared("qa5_sparsity_buckets",
    """SELECT event_type,
      |       round(avg(CASE WHEN value < 0.02 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4) AS frac_tiny,
      |       round(avg(CASE WHEN value < 1.0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4) AS frac_lt1,
      |       CASE WHEN avg(CASE WHEN value < 50.0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) > 0.7 THEN 'csr'
      |            WHEN avg(CASE WHEN value < 50.0 THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END) > 0.3 THEN 'sparse'
      |            ELSE 'dense' END AS rec_mode
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type NULLS FIRST, frac_tiny NULLS FIRST, frac_lt1 NULLS FIRST,
      |         rec_mode NULLS FIRST""".stripMargin,
    "agg,case")

  /** Argmax analog (reference classification head,
    * /root/reference/firmware/middleware/cascade_model.c:203-229) —
    * spelled as a deterministic window top-1 (tie-broken by event_id)
    * so Spark and DuckDB agree on ties. */
  val qa6 = shared("qa6_argmax",
    """SELECT user_id, event_type AS top_type, round(value, 4) AS top_value
      |FROM (SELECT user_id, event_type, value,
      |             row_number() OVER (PARTITION BY user_id
      |                                ORDER BY value DESC, event_id ASC) AS rn
      |      FROM events) t
      |WHERE rn = 1
      |ORDER BY user_id NULLS FIRST, top_type NULLS FIRST, top_value NULLS FIRST""".stripMargin,
    "argmax")

  val qa7 = shared("qa7_rollup",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(grouping(l_returnflag) AS INT) AS g_flag,
      |       CAST(grouping(l_linestatus) AS INT) AS g_status,
      |       round(sum(l_quantity), 4) AS sum_qty,
      |       count(*) AS cnt
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY g_flag NULLS FIRST, g_status NULLS FIRST, l_returnflag NULLS FIRST,
      |         l_linestatus NULLS FIRST, sum_qty NULLS FIRST, cnt NULLS FIRST""".stripMargin,
    "rollup")

  val qa7b = shared("qa7_cube",
    """SELECT n_name, o_orderpriority,
      |       CAST(grouping(n_name) AS INT) AS g_nation,
      |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
      |       count(*) AS cnt
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY CUBE(n_name, o_orderpriority)
      |ORDER BY g_nation NULLS FIRST, g_prio NULLS FIRST, n_name NULLS FIRST,
      |         o_orderpriority NULLS FIRST, cnt NULLS FIRST""".stripMargin,
    "cube")

  val qa7c = shared("qa7_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
      |       CAST(grouping(l_returnflag) AS INT) AS g_flag,
      |       CAST(grouping(l_linestatus) AS INT) AS g_status,
      |       count(*) AS cnt,
      |       round(sum(l_extendedprice), 4) AS sum_price
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      |ORDER BY g_flag NULLS FIRST, g_status NULLS FIRST, l_returnflag NULLS FIRST,
      |         l_linestatus NULLS FIRST, cnt NULLS FIRST, sum_price NULLS FIRST""".stripMargin,
    "groupingsets")

  val qa8 = shared("qa8_conditional_agg",
    """SELECT l_returnflag,
      |       CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
      |       CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
      |       round(sum(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0.0 END), 4) AS rev_highdisc
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST, n_f NULLS FIRST, n_o NULLS FIRST,
      |         rev_highdisc NULLS FIRST""".stripMargin,
    "pivot,case")

  val qa9 = shared("qa9_having",
    """SELECT o_custkey, count(*) AS n_orders
      |FROM orders
      |GROUP BY o_custkey
      |HAVING count(*) > 12
      |ORDER BY o_custkey NULLS FIRST, n_orders NULLS FIRST""".stripMargin,
    "having")

  /** Bivariate stats (weight-distribution-stats analog, ref
    * /root/reference/mlir_compiler/optimizer.py:220-257). */
  val qa10 = shared("qa10_corr",
    """SELECT l_returnflag,
      |       round(corr(l_quantity, l_extendedprice), 4) AS corr_qp,
      |       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
      |       round(covar_pop(l_quantity, l_extendedprice), 4) AS covar_pop_qp
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST, corr_qp NULLS FIRST, covar_qp NULLS FIRST,
      |         covar_pop_qp NULLS FIRST""".stripMargin,
    "agg,stats,corr")

  /** Mixed-precision assignment (reference
    * /root/reference/mlir_compiler/quantization.py:151-172): per
    * "layer" (label group of weight vectors) compute a sensitivity
    * statistic over calibration values, assign fp16 above the
    * reference's 0.1 threshold else int8 — the stats-table→policy
    * operator, not just the CASE pattern. */
  val qa11 = Q("qa11_mixed_precision",
    """WITH flat AS (
      |  SELECT label, explode(embedding) AS x FROM embeddings),
      |stats AS (
      |  SELECT label,
      |         CAST(count(*) AS BIGINT) AS n_weights,
      |         stddev_pop(CAST(x AS DOUBLE)) AS sens,
      |         avg(abs(CAST(x AS DOUBLE))) AS mean_abs
      |  FROM flat GROUP BY label)
      |SELECT label,
      |       n_weights,
      |       round(sens, 4) AS sensitivity,
      |       round(mean_abs, 4) AS mean_abs,
      |       CASE WHEN sens > 0.1 THEN 'fp16' ELSE 'int8' END AS precision
      |FROM stats
      |ORDER BY label NULLS FIRST, n_weights NULLS FIRST, sensitivity NULLS FIRST,
      |         mean_abs NULLS FIRST, precision NULLS FIRST""".stripMargin,
    Some("""WITH flat AS (
      |  SELECT label, unnest(embedding) AS x FROM embeddings),
      |stats AS (
      |  SELECT label,
      |         CAST(count(*) AS BIGINT) AS n_weights,
      |         stddev_pop(CAST(x AS DOUBLE)) AS sens,
      |         avg(abs(CAST(x AS DOUBLE))) AS mean_abs
      |  FROM flat GROUP BY label)
      |SELECT label,
      |       n_weights,
      |       round(sens, 4) AS sensitivity,
      |       round(mean_abs, 4) AS mean_abs,
      |       CASE WHEN sens > 0.1 THEN 'fp16' ELSE 'int8' END AS precision
      |FROM stats
      |ORDER BY label NULLS FIRST, n_weights NULLS FIRST, sensitivity NULLS FIRST,
      |         mean_abs NULLS FIRST, precision NULLS FIRST""".stripMargin),
    "agg,policy,quantize")

  /** Sparsity speedup estimator (reference
    * /root/reference/mlir_compiler/sparsity_optimizer.py:354-373):
    * skip_ratio over near-zero weights, 10% indexing overhead,
    * speedup = min(1/(1−effective), 5), power reduction (1−1/s)·100. */
  val qa12 = Q("qa12_speedup_estimate",
    """WITH flat AS (
      |  SELECT label, explode(embedding) AS x FROM embeddings),
      |s AS (
      |  SELECT label,
      |         CAST(count(*) AS BIGINT) AS total_elems,
      |         CAST(sum(CASE WHEN abs(CAST(x AS DOUBLE)) < 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS near_zero
      |  FROM flat GROUP BY label),
      |e AS (
      |  SELECT label, total_elems, near_zero,
      |         least(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
      |               - (CAST(near_zero AS DOUBLE) / CAST(total_elems AS DOUBLE)) * 0.9),
      |               CAST(5 AS DOUBLE)) AS speedup
      |  FROM s)
      |SELECT label, total_elems, near_zero,
      |       round(speedup, 4) AS est_speedup,
      |       round((CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / speedup) * 100, 4) AS est_power_red_pct
      |FROM e
      |ORDER BY label NULLS FIRST, total_elems NULLS FIRST, near_zero NULLS FIRST,
      |         est_speedup NULLS FIRST, est_power_red_pct NULLS FIRST""".stripMargin,
    Some("""WITH flat AS (
      |  SELECT label, unnest(embedding) AS x FROM embeddings),
      |s AS (
      |  SELECT label,
      |         CAST(count(*) AS BIGINT) AS total_elems,
      |         CAST(sum(CASE WHEN abs(CAST(x AS DOUBLE)) < 0.01 THEN 1 ELSE 0 END) AS BIGINT) AS near_zero
      |  FROM flat GROUP BY label),
      |e AS (
      |  SELECT label, total_elems, near_zero,
      |         least(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE)
      |               - (CAST(near_zero AS DOUBLE) / CAST(total_elems AS DOUBLE)) * 0.9),
      |               CAST(5 AS DOUBLE)) AS speedup
      |  FROM s)
      |SELECT label, total_elems, near_zero,
      |       round(speedup, 4) AS est_speedup,
      |       round((CAST(1 AS DOUBLE) - CAST(1 AS DOUBLE) / speedup) * 100, 4) AS est_power_red_pct
      |FROM e
      |ORDER BY label NULLS FIRST, total_elems NULLS FIRST, near_zero NULLS FIRST,
      |         est_speedup NULLS FIRST, est_power_red_pct NULLS FIRST""".stripMargin),
    "agg,estimator,sparsity")

  /** Clock-gated power model (reference
    * /root/reference/tools/power_estimator.py:20-140): per power
    * domain and mode, P = base·act·V²·(f/100) + 5%·base·V² static,
    * or 1%·base·V² when clock-gated at zero activity; the relational
    * spelling of the domain×mode estimate (power domains and mode
    * configs as literal tables). */
  val qa13 = Q("qa13_power_modes",
    """WITH domains AS (
      |  SELECT * FROM VALUES
      |    ('cim_core', 25.0, true), ('sparse_mac', 15.0, true),
      |    ('dvfs_ctrl', 5.0, true), ('riscv_cpu', 8.0, true),
      |    ('uart', 2.0, true), ('wakeup', 0.01, false) AS t(domain, base_mw, clock_gated)),
      |modes AS (
      |  SELECT * FROM VALUES
      |    ('Active', 1.0, 100.0), ('Standby', 0.6, 10.0),
      |    ('DeepSleep', 0.4, 1.0) AS t(mode, voltage, freq_mhz)),
      |act AS (
      |  SELECT * FROM VALUES
      |    ('Active','cim_core',1.0), ('Active','sparse_mac',0.8),
      |    ('Active','dvfs_ctrl',0.1), ('Active','riscv_cpu',1.0),
      |    ('Active','uart',0.3), ('Active','wakeup',1.0),
      |    ('Standby','cim_core',0.0), ('Standby','sparse_mac',0.0),
      |    ('Standby','dvfs_ctrl',0.1), ('Standby','riscv_cpu',0.1),
      |    ('Standby','uart',0.0), ('Standby','wakeup',1.0),
      |    ('DeepSleep','cim_core',0.0), ('DeepSleep','sparse_mac',0.0),
      |    ('DeepSleep','dvfs_ctrl',0.0), ('DeepSleep','riscv_cpu',0.0),
      |    ('DeepSleep','uart',0.0), ('DeepSleep','wakeup',1.0) AS t(mode, domain, activity)),
      |p AS (
      |  SELECT m.mode, d.domain,
      |         CASE WHEN d.clock_gated AND CAST(a.activity AS DOUBLE) = 0
      |              THEN CAST(d.base_mw AS DOUBLE) * 0.01
      |                   * CAST(m.voltage AS DOUBLE) * CAST(m.voltage AS DOUBLE)
      |              ELSE CAST(d.base_mw AS DOUBLE) * CAST(a.activity AS DOUBLE)
      |                   * CAST(m.voltage AS DOUBLE) * CAST(m.voltage AS DOUBLE)
      |                   * (CAST(m.freq_mhz AS DOUBLE) / 100.0)
      |                 + CAST(d.base_mw AS DOUBLE) * 0.05
      |                   * CAST(m.voltage AS DOUBLE) * CAST(m.voltage AS DOUBLE) END AS p_mw
      |  FROM act a
      |  JOIN domains d ON a.domain = d.domain
      |  JOIN modes m ON a.mode = m.mode)
      |SELECT mode,
      |       CAST(count(*) AS BIGINT) AS n_domains,
      |       round(sum(p_mw), 6) AS total_mw,
      |       round(max(p_mw), 6) AS max_domain_mw
      |FROM p
      |GROUP BY mode
      |ORDER BY mode NULLS FIRST, n_domains NULLS FIRST, total_mw NULLS FIRST,
      |         max_domain_mw NULLS FIRST""".stripMargin,
    Some("""WITH domains AS (
      |  SELECT * FROM (VALUES
      |    ('cim_core', 25.0, true), ('sparse_mac', 15.0, true),
      |    ('dvfs_ctrl', 5.0, true), ('riscv_cpu', 8.0, true),
      |    ('uart', 2.0, true), ('wakeup', 0.01, false)) t(domain, base_mw, clock_gated)),
      |modes AS (
      |  SELECT * FROM (VALUES
      |    ('Active', 1.0, 100.0), ('Standby', 0.6, 10.0),
      |    ('DeepSleep', 0.4, 1.0)) t(mode, voltage, freq_mhz)),
      |act AS (
      |  SELECT * FROM (VALUES
      |    ('Active','cim_core',1.0), ('Active','sparse_mac',0.8),
      |    ('Active','dvfs_ctrl',0.1), ('Active','riscv_cpu',1.0),
      |    ('Active','uart',0.3), ('Active','wakeup',1.0),
      |    ('Standby','cim_core',0.0), ('Standby','sparse_mac',0.0),
      |    ('Standby','dvfs_ctrl',0.1), ('Standby','riscv_cpu',0.1),
      |    ('Standby','uart',0.0), ('Standby','wakeup',1.0),
      |    ('DeepSleep','cim_core',0.0), ('DeepSleep','sparse_mac',0.0),
      |    ('DeepSleep','dvfs_ctrl',0.0), ('DeepSleep','riscv_cpu',0.0),
      |    ('DeepSleep','uart',0.0), ('DeepSleep','wakeup',1.0)) t(mode, domain, activity)),
      |p AS (
      |  SELECT m.mode, d.domain,
      |         CASE WHEN d.clock_gated AND CAST(a.activity AS DOUBLE) = 0
      |              THEN CAST(d.base_mw AS DOUBLE) * 0.01
      |                   * CAST(m.voltage AS DOUBLE) * CAST(m.voltage AS DOUBLE)
      |              ELSE CAST(d.base_mw AS DOUBLE) * CAST(a.activity AS DOUBLE)
      |                   * CAST(m.voltage AS DOUBLE) * CAST(m.voltage AS DOUBLE)
      |                   * (CAST(m.freq_mhz AS DOUBLE) / 100.0)
      |                 + CAST(d.base_mw AS DOUBLE) * 0.05
      |                   * CAST(m.voltage AS DOUBLE) * CAST(m.voltage AS DOUBLE) END AS p_mw
      |  FROM act a
      |  JOIN domains d ON a.domain = d.domain
      |  JOIN modes m ON a.mode = m.mode)
      |SELECT mode,
      |       CAST(count(*) AS BIGINT) AS n_domains,
      |       round(sum(p_mw), 6) AS total_mw,
      |       round(max(p_mw), 6) AS max_domain_mw
      |FROM p
      |GROUP BY mode
      |ORDER BY mode NULLS FIRST, n_domains NULLS FIRST, total_mw NULLS FIRST,
      |         max_domain_mw NULLS FIRST""".stripMargin),
    "estimator,power,values")

  /** GROUP BY ALL — group by every non-aggregate select item (the
    * modern convenience spelling; same text in both engines). */
  val qa14 = shared("qa14_group_by_all",
    """SELECT l_returnflag, l_linestatus, CAST(count(*) AS BIGINT) AS n,
      |       round(sum(l_quantity), 4) AS qty
      |FROM lineitem
      |GROUP BY ALL
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST, n NULLS FIRST,
      |         qty NULLS FIRST""".stripMargin,
    "group_by_all,agg")

  /** Aggregate FILTER clause (the standard-SQL alternative to qa8's
    * CASE spelling) + DISTINCT inside a non-count aggregate. */
  val qa15 = shared("qa15_filter_clause",
    """SELECT o_orderstatus,
      |       CAST(count(*) FILTER (WHERE o_totalprice > 100000) AS BIGINT) AS n_big,
      |       round(sum(o_totalprice) FILTER (WHERE o_orderpriority = '1-URGENT'), 4) AS urgent_total,
      |       CAST(sum(DISTINCT o_custkey % 100) AS BIGINT) AS d_sum
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus NULLS FIRST, n_big NULLS FIRST, urgent_total NULLS FIRST,
      |         d_sum NULLS FIRST""".stripMargin,
    "filter_clause,distinct,agg")

  /** Ordered-set aggregates: percentile_cont / percentile_disc WITHIN
    * GROUP — the ANSI spelling beside qa4's percentile(); disc picks a
    * real row value, cont interpolates (ROUND 4). */
  // Measured note (r15): folding the two percentile_cont calls into
  // one percentile(col, array(...)) buffer (the qa4 win) does NOT pay
  // here — the mixed percentile_disc buffer keeps the aggregate
  // object-typed either way and the A/B read 1.12 s impl vs 0.97 s
  // sql (min-of-4, local[32] sf0.1) — so qa16 keeps the plain spelling.
  val qa16 = shared("qa16_within_group",
    """SELECT o_orderstatus,
      |       round(percentile_cont(0.25) WITHIN GROUP (ORDER BY o_totalprice), 4) AS q1,
      |       round(percentile_cont(0.75) WITHIN GROUP (ORDER BY o_totalprice), 4) AS q3,
      |       round(percentile_disc(0.5) WITHIN GROUP (ORDER BY o_totalprice), 4) AS med_disc
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus NULLS FIRST, q1 NULLS FIRST, q3 NULLS FIRST,
      |         med_disc NULLS FIRST""".stripMargin,
    "within_group,percentile,agg")

  /** Z-score outlier detection per channel (profiler-stats analog,
    * ref simulator/profiler.py:91-139: mean/std over per-layer
    * activations; here over the events stream). Two grouped
    * aggregates: the 5-row (mu, sd) frame broadcasts back onto the
    * fact scan, so at 100 TB this is two linear passes and no
    * fact-side shuffle beyond the map-side-combined stats. */
  val qa17 = shared("qa17_outliers",
    """WITH st AS (SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd
      |            FROM events GROUP BY event_type),
      |z AS (SELECT e.event_type, abs((e.value - st.mu) / st.sd) AS az
      |      FROM events e JOIN st ON e.event_type = st.event_type)
      |SELECT event_type,
      |       CAST(count(*) FILTER (WHERE az > 3) AS BIGINT) AS n_outliers,
      |       round(max(az), 4) AS max_z,
      |       round(avg(az), 4) AS avg_z
      |FROM z GROUP BY event_type
      |ORDER BY event_type NULLS FIRST, n_outliers NULLS FIRST, max_z NULLS FIRST,
      |         avg_z NULLS FIRST""".stripMargin,
    "outlier,zscore,agg")

  /** Column profiling — the data-quality pass every ingest pipeline
    * runs first (null fraction, distinct count, range per column).
    * Spelled as UNION ALL of per-column aggregates: each branch is
    * one map-side-combined pass, and Spark schedules the branches as
    * independent stages over the same cached scan. At 100 TB the
    * exact COUNT(DISTINCT) branches are the expensive spelling; the
    * HLL variant (eng_approx_distinct) is the sketch path. */
  val qa18 = shared("qa18_profile",
    """SELECT 'o_orderkey' AS col, CAST(count(*) AS BIGINT) AS n,
      |       CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_null,
      |       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
      |       round(min(CAST(o_orderkey AS DOUBLE)), 4) AS min_v,
      |       round(max(CAST(o_orderkey AS DOUBLE)), 4) AS max_v
      |FROM orders
      |UNION ALL
      |SELECT 'o_totalprice', CAST(count(*) AS BIGINT),
      |       CAST(count(*) - count(o_totalprice) AS BIGINT),
      |       CAST(count(DISTINCT o_totalprice) AS BIGINT),
      |       round(min(o_totalprice), 4), round(max(o_totalprice), 4)
      |FROM orders
      |UNION ALL
      |SELECT 'o_custkey', CAST(count(*) AS BIGINT),
      |       CAST(count(*) - count(o_custkey) AS BIGINT),
      |       CAST(count(DISTINCT o_custkey) AS BIGINT),
      |       round(min(CAST(o_custkey AS DOUBLE)), 4), round(max(CAST(o_custkey AS DOUBLE)), 4)
      |FROM orders
      |ORDER BY col NULLS FIRST, n NULLS FIRST, n_null NULLS FIRST, n_distinct NULLS FIRST,
      |         min_v NULLS FIRST, max_v NULLS FIRST""".stripMargin,
    "profile,data_quality,agg")

  /** Robust outlier detection via MAD (median absolute deviation) —
    * the heavy-tail-safe alternative to qa17's z-score (a single wild
    * value corrupts mean/stddev but not medians). Two grouped median
    * passes, each reducing the facts to 5 rows before the tiny join
    * back — the fact table is scanned twice but never shuffled on a
    * wide key, and the per-type frames broadcast. Threshold is the
    * usual |0.6745·dev/MAD| > 3.5 rewritten division-free as
    * dev > 5.19·MAD (5.19 ≈ 3.5/0.6745) so no near-ulp ratio crosses
    * an engine boundary (closest observed margin 0.4%). Reference
    * analog: the profiler's outlier trim, `simulator/profiler.py:91-139`. */
  val qa19 = sharedImpl("qa19_mad_outliers",
    """WITH med AS (
      |  SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type AS event_type, abs(e.value - m.med) AS adev
      |  FROM events e JOIN med m ON e.event_type = m.event_type),
      |mad AS (
      |  SELECT event_type, median(adev) AS mad FROM dev GROUP BY event_type)
      |SELECT d.event_type AS event_type, round(max(m.mad), 4) AS mad,
      |       CAST(sum(CASE WHEN d.adev > 5.19E0 * m.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM dev d JOIN mad m ON d.event_type = m.event_type
      |GROUP BY d.event_type
      |ORDER BY event_type NULLS FIRST, mad NULLS FIRST, n_outliers NULLS FIRST, n NULLS FIRST""".stripMargin,
    "robust,outlier,median,agg",
    // Measured win: impl/SQL median 0.70, 12/12 pairs at sf0.1; 0.76, 12/12 at 10×.
    // The SQL's `dev` CTE is consumed twice (mad + final report) and
    // Catalyst inlines CTEs, so the scan + deviation join execute
    // twice. The impl materializes dev ONCE (localCheckpoint — a
    // 1-row-per-event frame, the same truncate discipline as the
    // dedup operators) and feeds both consumers (guide §1.2).
    // Identical rows/threshold math; impl==sql spec-asserted.
    impl = { (spark, dir) =>
      Tables.register(spark, dir)
      import org.apache.spark.sql.functions._
      val ev = spark.table("events").select(col("event_type"), col("value"))
      val med = ev.groupBy(col("event_type"))
        .agg(expr("median(value)").as("med"))
      val dev = graft.operators.Checkpoints.truncate(
        ev.join(broadcast(med), Seq("event_type"))
          .select(col("event_type"), abs(col("value") - col("med")).as("adev")))
      val mad = dev.groupBy(col("event_type"))
        .agg(expr("median(adev)").as("mad"))
      dev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(round(max(col("mad")), 4).as("mad"),
          sum(when(col("adev") > lit(5.19) * col("mad"), 1).otherwise(0))
            .cast("long").as("n_outliers"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type").asc_nulls_first, col("mad").asc_nulls_first,
          col("n_outliers").asc_nulls_first, col("n").asc_nulls_first)
    })

  /** Chi-square homogeneity drift test between two deterministic
    * cohorts (`event_id % 2`) over the event_type distribution — the
    * data-drift monitor a training pipeline runs between ingest
    * batches. Scale shape: ONE grouped aggregate collapses the fact
    * table to the (cohorts × types)-cell contingency frame (map-side
    * partials); every window (row/column margins, grand total, the
    * chi2 sum) runs over that ≤10-row frame — the aggregate-before-
    * window discipline, nothing global touches the facts. Counts are
    * integer-exact, so expected/contrib derive from identical inputs
    * on both engines; ROUND 4 absorbs summation-order ulp. */
  val qa20 = shared("qa20_chisq_drift",
    """WITH cells AS (
      |  SELECT CAST(event_id % 2 AS INT) AS cohort, event_type,
      |         CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY event_id % 2, event_type),
      |margins AS (
      |  SELECT cohort, event_type, n,
      |         CAST(sum(n) OVER (PARTITION BY cohort) AS DOUBLE) AS row_n,
      |         CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE) AS col_n,
      |         CAST(sum(n) OVER () AS DOUBLE) AS grand
      |  FROM cells)
      |SELECT cohort, event_type, n,
      |       round(row_n * col_n / grand, 4) AS expected,
      |       round((n - row_n * col_n / grand) * (n - row_n * col_n / grand)
      |             / (row_n * col_n / grand), 4) AS contrib,
      |       round(sum((n - row_n * col_n / grand) * (n - row_n * col_n / grand)
      |                 / (row_n * col_n / grand)) OVER (), 4) AS chi2
      |FROM margins
      |ORDER BY cohort NULLS FIRST, event_type NULLS FIRST, n NULLS FIRST,
      |         expected NULLS FIRST, contrib NULLS FIRST, chi2 NULLS FIRST""".stripMargin,
    "drift,chisq,stats,agg")

  // ---------------------------------------------------------------
  // Joins (Q-J*)
  // ---------------------------------------------------------------

  /** TPC-H Q5 analog: star-join chain with filters. At scale:
    * lineitem⋈orders shuffles on orderkey; customer/nation/region are
    * broadcast (Spark picks this automatically under the 10 MB
    * autoBroadcastJoinThreshold; nation/region always qualify). */
  val qj1 = shared("qj1_star_join",
    """SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY n_name NULLS FIRST""".stripMargin,
    "join,star,broadcast")

  /** TPC-H Q14 analog (promo revenue share; part side broadcastable). */
  val qj2 = shared("qj2_broadcast_join",
    """SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
      |                              THEN l_extendedprice * (1 - l_discount)
      |                              ELSE 0.0 END)
      |             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share
      |FROM lineitem
      |JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
      |  AND l_shipdate <  TIMESTAMP '1996-10-01 00:00:00'""".stripMargin,
    "join,broadcast")

  val qj3 = shared("qj3_outer_join",
    """SELECT c_custkey, count(o_orderkey) AS n_big_orders
      |FROM customer
      |LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
      |       ON c_custkey = o_custkey
      |GROUP BY c_custkey
      |ORDER BY c_custkey NULLS FIRST, n_big_orders NULLS FIRST""".stripMargin,
    "join,outer")

  val qj3b = shared("qj3_full_outer",
    """SELECT coalesce(c.k, s.k2) AS nationkey, c.c_cnt, s.s_cnt
      |FROM (SELECT c_nationkey AS k, count(*) AS c_cnt FROM customer GROUP BY c_nationkey) c
      |FULL OUTER JOIN (SELECT s_nationkey AS k2, count(*) AS s_cnt FROM supplier GROUP BY s_nationkey) s
      |  ON c.k = s.k2
      |ORDER BY nationkey NULLS FIRST, c_cnt NULLS FIRST, s_cnt NULLS FIRST""".stripMargin,
    "join,fullouter")

  val qj4 = shared("qj4_semi_join",
    """SELECT c_custkey, c_name
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000)
      |ORDER BY c_custkey NULLS FIRST, c_name NULLS FIRST""".stripMargin,
    "join,semi")

  val qj5 = shared("qj5_anti_join",
    """SELECT p_partkey, p_name
      |FROM part p
      |WHERE NOT EXISTS (SELECT 1 FROM lineitem l
      |                  WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 40)
      |ORDER BY p_partkey NULLS FIRST, p_name NULLS FIRST""".stripMargin,
    "join,anti")

  /** Cross join (small×small) — power-estimator domains×modes analog
    * (/root/reference/tools/power_estimator.py:24-200). */
  val qj6 = shared("qj6_cross_join",
    """SELECT r.r_name, n.n_name
      |FROM region r
      |CROSS JOIN nation n
      |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,
    "join,cross")

  /** Equi+range self-join over event time (as-of flavor). The oracle
    * keeps the declarative spelling; the runner uses the bucketed
    * range join (graft.plans.RangeJoin) whose shuffle key is
    * (user_id, time_bucket) — per-key work is bounded by bucket
    * population instead of O(per-user-history²). */
  val qj7 = Q("qj7_range_join",
    """SELECT a.user_id AS uid, count(*) AS n_pairs
      |FROM events a
      |JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_id <> b.event_id
      | AND a.ts > b.ts
      | AND a.ts <= b.ts + INTERVAL 1 MINUTE
      |GROUP BY a.user_id
      |ORDER BY uid NULLS FIRST, n_pairs NULLS FIRST""".stripMargin,
    Some("""SELECT a.user_id AS uid, count(*) AS n_pairs
      |FROM events a
      |JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_id <> b.event_id
      | AND a.ts > b.ts
      | AND a.ts <= b.ts + INTERVAL 1 MINUTE
      |GROUP BY a.user_id
      |ORDER BY uid NULLS FIRST, n_pairs NULLS FIRST""".stripMargin),
    "join,range",
    // Measured win: impl/SQL median 0.53, 12/12 pairs at sf0.1; 0.42, 12/12 at 10×.
    impl = Some { (spark, dir) =>
      import org.apache.spark.sql.functions._
      graft.Tables.register(spark, dir)
      graft.plans.RangeJoin.timeWindowSelfPairs(
          spark.table("events"), "user_id", "event_id",
          unix_micros(col("ts")), 60000000L)
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"))
        .select(col("k").as("uid"), col("n_pairs"))
        .orderBy(asc_nulls_first("uid"), asc_nulls_first("n_pairs"))
    })

  val qj8 = shared("qj8_correlated_subq",
    """SELECT c_custkey, round(c_acctbal, 4) AS acctbal
      |FROM customer c
      |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
      |                   WHERE c2.c_nationkey = c.c_nationkey)
      |ORDER BY c_custkey NULLS FIRST, acctbal NULLS FIRST""".stripMargin,
    "join,subquery,decorrelation")

  /** As-of join: latest purchase at-or-before each click per user —
    * the canonical time-series lookup Spark lacks as a native
    * operator. Spark spelling is the scalable union + running
    * `last_value IGNORE NULLS` trick (one shuffle on the key, O(1)
    * state — see operators/AsOfJoin.scala, which is the library
    * spelling asserted equal in AsOfJoinSpec); the oracle uses
    * DuckDB's native ASOF JOIN. Build side pre-aggregated unique per
    * (user, timestamp) so the match is well-defined. */
  val qj9 = Q("qj9_asof_join",
    """WITH probe AS (
      |  SELECT user_id, event_id, unix_micros(ts) AS cts
      |  FROM events WHERE event_type = 'click'),
      |build AS (
      |  SELECT user_id, unix_micros(ts) AS pts, round(max(value), 4) AS pval
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, unix_micros(ts)),
      |u AS (
      |  SELECT user_id, cts AS t, 1 AS side, event_id, cts,
      |         CAST(NULL AS BIGINT) AS pts, CAST(NULL AS DOUBLE) AS pval
      |  FROM probe
      |  UNION ALL
      |  SELECT user_id, pts AS t, 0 AS side, CAST(NULL AS BIGINT) AS event_id,
      |         CAST(NULL AS BIGINT) AS cts, pts, pval
      |  FROM build),
      |w AS (
      |  SELECT user_id, side, event_id, cts,
      |         last_value(pts, true) OVER (PARTITION BY user_id ORDER BY t, side
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_pts,
      |         last_value(pval, true) OVER (PARTITION BY user_id ORDER BY t, side
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_pval
      |  FROM u)
      |SELECT user_id, event_id, cts, a_pts AS pts, a_pval AS pval
      |FROM w
      |WHERE side = 1 AND a_pts IS NOT NULL
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST, cts NULLS FIRST,
      |         pts NULLS FIRST, pval NULLS FIRST""".stripMargin,
    Some("""WITH probe AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS cts
      |  FROM events WHERE event_type = 'click'),
      |build AS (
      |  SELECT user_id, epoch_us(ts) AS pts, round(max(value), 4) AS pval
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, epoch_us(ts))
      |SELECT p.user_id, p.event_id, p.cts, b.pts, b.pval
      |FROM probe p ASOF JOIN build b
      |  ON p.user_id = b.user_id AND p.cts >= b.pts
      |ORDER BY p.user_id NULLS FIRST, p.event_id NULLS FIRST, p.cts NULLS FIRST,
      |         b.pts NULLS FIRST, b.pval NULLS FIRST""".stripMargin),
    "join,asof,timeseries")

  /** As-of join with a match tolerance (pandas merge_asof
    * `tolerance`): a click whose latest preceding purchase is more
    * than 10 minutes old has no match (inner). Same one-shuffle
    * union+last_value spelling as qj9 + one gap predicate;
    * AsOfJoin.asOf(maxGap=...) is the operator form (asserted equal
    * in AsOfJoinSpec). */
  val qj10 = Q("qj10_asof_tolerance",
    """WITH probe AS (
      |  SELECT user_id, event_id, unix_micros(ts) AS cts
      |  FROM events WHERE event_type = 'click'),
      |build AS (
      |  SELECT user_id, unix_micros(ts) AS pts, round(max(value), 4) AS pval
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, unix_micros(ts)),
      |u AS (
      |  SELECT user_id, cts AS t, 1 AS side, event_id, cts,
      |         CAST(NULL AS BIGINT) AS pts, CAST(NULL AS DOUBLE) AS pval
      |  FROM probe
      |  UNION ALL
      |  SELECT user_id, pts AS t, 0 AS side, CAST(NULL AS BIGINT) AS event_id,
      |         CAST(NULL AS BIGINT) AS cts, pts, pval
      |  FROM build),
      |w AS (
      |  SELECT user_id, side, event_id, cts,
      |         last_value(pts, true) OVER (PARTITION BY user_id ORDER BY t, side
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_pts,
      |         last_value(pval, true) OVER (PARTITION BY user_id ORDER BY t, side
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_pval
      |  FROM u)
      |SELECT user_id, event_id, cts, a_pts AS pts, a_pval AS pval
      |FROM w
      |WHERE side = 1 AND a_pts IS NOT NULL AND cts - a_pts <= 600000000
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST, cts NULLS FIRST,
      |         pts NULLS FIRST, pval NULLS FIRST""".stripMargin,
    Some("""WITH probe AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS cts
      |  FROM events WHERE event_type = 'click'),
      |build AS (
      |  SELECT user_id, epoch_us(ts) AS pts, round(max(value), 4) AS pval
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id, epoch_us(ts))
      |SELECT p.user_id, p.event_id, p.cts, b.pts, b.pval
      |FROM probe p ASOF JOIN build b
      |  ON p.user_id = b.user_id AND p.cts >= b.pts
      |WHERE p.cts - b.pts <= 600000000
      |ORDER BY p.user_id NULLS FIRST, p.event_id NULLS FIRST, p.cts NULLS FIRST,
      |         b.pts NULLS FIRST, b.pval NULLS FIRST""".stripMargin),
    "join,asof,tolerance,timeseries")

  /** EXISTS / NOT EXISTS correlated subqueries — decorrelate to one
    * left-semi plus one left-anti hash join on o_custkey (asserted in
    * PlanHintsSpec): no per-row subquery execution, both sides
    * shuffle-partition by the same key at any scale. */
  val qj11 = shared("qj11_exists_subq",
    """SELECT c_custkey, c_name
      |FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 200000)
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderstatus = 'F' AND o_totalprice < 10000)
      |ORDER BY c_custkey NULLS FIRST, c_name NULLS FIRST""".stripMargin,
    "join,exists,semi,anti,subquery")

  /** Blocked fuzzy join (entity resolution): near-duplicate part
    * names within a brand at edit distance ≤ 3. The brand is the
    * BLOCKING key — the classic ER design: one hash shuffle on the
    * block key, then a per-block pair scan bounded by block
    * population, never an all-pairs cross product. At 100 TB the
    * block key is chosen so max-block size is bounded (here ~80);
    * skewed blocks would fall to the banding + AQE-skew machinery the
    * dedup operators already use. The contract probe bounds its input
    * (p_partkey < 2000, like ql3/ql15's doc bound) so the per-block
    * pair scan stays SF-independent. `levenshtein` is identical in
    * Spark and DuckDB, so the spelling is shared. */
  val qj12 = shared("qj12_fuzzy_join",
    """WITH p AS (SELECT p_partkey, p_brand, p_name FROM part WHERE p_partkey < 2000),
      |pairs AS (
      |  SELECT a.p_brand AS brand, a.p_partkey AS pa, b.p_partkey AS pb,
      |         levenshtein(a.p_name, b.p_name) AS dist
      |  FROM p a JOIN p b
      |    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |  WHERE levenshtein(a.p_name, b.p_name) <= 3)
      |SELECT brand, CAST(count(*) AS BIGINT) AS n_pairs,
      |       CAST(min(dist) AS INT) AS min_dist,
      |       round(avg(dist), 4) AS avg_dist,
      |       CAST(sum(pa + pb) AS BIGINT) AS key_checksum
      |FROM pairs GROUP BY brand
      |ORDER BY brand NULLS FIRST, n_pairs NULLS FIRST, min_dist NULLS FIRST,
      |         avg_dist NULLS FIRST, key_checksum NULLS FIRST""".stripMargin,
    "join,fuzzy,levenshtein,blocking,er")

  /** Record-linkage survivor selection: for every part, its single
    * BEST fuzzy match (min edit distance, ties to the smallest key) —
    * the 1:1 linkage step that follows qj12's pair generation in a
    * real entity-resolution pipeline. Same blocked join; the per-record
    * argmax is one window over the candidate pairs (small by
    * construction), never a second pass over the table. */
  val qj13 = shared("qj13_best_match",
    """WITH p AS (SELECT p_partkey, p_brand, p_name FROM part WHERE p_partkey < 2000),
      |cand AS (
      |  SELECT a.p_partkey AS pa, b.p_partkey AS pb,
      |         levenshtein(a.p_name, b.p_name) AS dist
      |  FROM p a JOIN p b
      |    ON a.p_brand = b.p_brand AND a.p_partkey <> b.p_partkey
      |  WHERE levenshtein(a.p_name, b.p_name) <= 2),
      |r AS (SELECT pa, pb, dist,
      |             row_number() OVER (PARTITION BY pa ORDER BY dist, pb) AS rn,
      |             count(*) OVER (PARTITION BY pa) AS nc
      |      FROM cand)
      |SELECT pa, pb AS best_pb, CAST(dist AS INT) AS dist, CAST(nc AS BIGINT) AS n_cand
      |FROM r WHERE rn = 1
      |ORDER BY pa NULLS FIRST, best_pb NULLS FIRST, dist NULLS FIRST, n_cand NULLS FIRST""".stripMargin,
    "join,linkage,argmax,er")

  /** Interval-overlap join: concurrent user sessions. Events
    * sessionize per user (6-hour gap), and each user pair counts its
    * overlapping session intervals + total overlap seconds. The
    * spelling joins on the overlap predicate alone — NO equi key, which
    * Spark plans as a broadcast nested loop. That is bounded: the
    * `user_id < 40` slice stays at ~2,600 events from sf0.01 up (users
    * grow with the scale factor, and ScaleData's key shift keeps the
    * slice fixed), so its sessions never grow with the data. */
  val qj14 = Q("qj14_interval_join",
    """WITH e AS (
      |  SELECT user_id, event_id, unix_micros(ts) AS tus,
      |         lag(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
      |  FROM events WHERE user_id < 40),
      |s AS (
      |  SELECT user_id, tus,
      |         sum(CASE WHEN prev_tus IS NULL OR tus - prev_tus > 21600000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e),
      |iv AS (SELECT user_id, sid, min(tus) AS s_start, max(tus) AS s_end
      |       FROM s GROUP BY user_id, sid),
      |p AS (
      |  SELECT a.user_id AS ua, b.user_id AS ub,
      |         least(a.s_end, b.s_end) - greatest(a.s_start, b.s_start) AS ov
      |  FROM iv a JOIN iv b
      |    ON a.user_id < b.user_id AND a.s_start <= b.s_end AND b.s_start <= a.s_end)
      |SELECT ua, ub, CAST(count(*) AS BIGINT) AS n_overlaps,
      |       round(sum(ov) / 1e6, 4) AS ov_sec
      |FROM p GROUP BY ua, ub
      |ORDER BY ua NULLS FIRST, ub NULLS FIRST, n_overlaps NULLS FIRST,
      |         ov_sec NULLS FIRST""".stripMargin,
    Some("""WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
      |  FROM events WHERE user_id < 40),
      |s AS (
      |  SELECT user_id, tus,
      |         sum(CASE WHEN prev_tus IS NULL OR tus - prev_tus > 21600000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e),
      |iv AS (SELECT user_id, sid, min(tus) AS s_start, max(tus) AS s_end
      |       FROM s GROUP BY user_id, sid),
      |p AS (
      |  SELECT a.user_id AS ua, b.user_id AS ub,
      |         least(a.s_end, b.s_end) - greatest(a.s_start, b.s_start) AS ov
      |  FROM iv a JOIN iv b
      |    ON a.user_id < b.user_id AND a.s_start <= b.s_end AND b.s_start <= a.s_end)
      |SELECT ua, ub, CAST(count(*) AS BIGINT) AS n_overlaps,
      |       round(sum(ov) / 1e6, 4) AS ov_sec
      |FROM p GROUP BY ua, ub
      |ORDER BY ua NULLS FIRST, ub NULLS FIRST, n_overlaps NULLS FIRST,
      |         ov_sec NULLS FIRST""".stripMargin),
    "join,interval,overlap,session")

  /** TPC-H Q3 flavor (shipping priority): the canonical 3-table
    * selective star — segment-filtered customers ⋈ orders ⋈ lineitem
    * with date predicates on BOTH fact sides, top-10 orders by
    * revenue. Plan shape at scale: both filters push to the scans,
    * customer broadcasts, the single real shuffle joins
    * lineitem⋈orders, and the top-10 runs as TakeOrderedAndProject
    * over the rounded revenue (ordering on the ROUNDED value keeps
    * the cut cross-engine deterministic; o_orderkey breaks ties). */
  val qj15 = Q("qj15_shipping_priority",
    """SELECT l.l_orderkey,
      |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
      |       CAST(CAST(o.o_orderdate AS DATE) AS STRING) AS orderdate
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < DATE '1996-01-01'
      |  AND l.l_shipdate > DATE '1996-01-01'
      |GROUP BY l.l_orderkey, CAST(CAST(o.o_orderdate AS DATE) AS STRING)
      |ORDER BY revenue DESC NULLS LAST, l_orderkey NULLS FIRST,
      |         orderdate NULLS FIRST
      |LIMIT 10""".stripMargin,
    Some("""SELECT l.l_orderkey,
      |       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
      |       CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR) AS orderdate
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < DATE '1996-01-01'
      |  AND l.l_shipdate > DATE '1996-01-01'
      |GROUP BY l.l_orderkey, CAST(CAST(o.o_orderdate AS DATE) AS VARCHAR)
      |ORDER BY revenue DESC NULLS LAST, l_orderkey NULLS FIRST,
      |         orderdate NULLS FIRST
      |LIMIT 10""".stripMargin),
    "join,star,tpch,topk")

  /** TPC-H Q21 flavor (suppliers who kept orders waiting): the
    * double-correlated-subquery join stressor — for finished orders,
    * lineitems whose supplier shipped LAST among a multi-supplier
    * order (EXISTS another supplier on the order, NOT EXISTS one that
    * shipped later; l_shipdate stands in for the reference schema's
    * receipt/commit dates). Both subqueries must decorrelate to
    * left-semi / left-anti hash joins on l_orderkey (the qj11
    * guarantee, here against the same table twice) — never per-row
    * execution. */
  private val qj16Sql =
    """SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE o.o_orderstatus = 'F'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > l1.l_shipdate)
      |GROUP BY s.s_name
      |ORDER BY numwait DESC NULLS LAST, s_name NULLS FIRST
      |LIMIT 20""".stripMargin

  val qj16 = Q("qj16_waiting_supplier",
    qj16Sql, Some(qj16Sql),
    "join,subquery,decorrelation,tpch",
    impl = Some { (spark, dir) =>
      // Scale spelling: the two correlated subqueries decorrelate to
      // semi+anti hash joins (4 lineitem-scale shuffles, 3 scans). This
      // impl replaces them with per-order top-2 supplier-max shipdates
      // — "max excluding my key": a line survives iff its order has
      // >= 2 suppliers AND no OTHER supplier shipped later, i.e.
      // shipdate >= (top1 smax unless mine is the top1 supplier, else
      // top2). Two shuffles of the slim line projection, no self-join.
      // collect_list is bounded by lines-per-order (<= 7, TPC-H shape).
      // Measured win at sf0.1: impl/SQL median 0.79, 12/12 pairs (10×: 0.97, 7/12, noise).
      import org.apache.spark.sql.functions._
      graft.Tables.register(spark, dir)
      val lf = spark.table("lineitem")
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"))
        .join(spark.table("orders").filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey")),
          col("l_orderkey") === col("o_orderkey"))
        .drop("o_orderkey")
      val ps = lf.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(max(col("l_shipdate")).as("smax"))
      val tops = ps.groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("nsupp"),
          reverse(sort_array(collect_list(struct(col("smax"), col("l_suppkey")))))
            .as("t"))
        .select(col("l_orderkey").as("t_orderkey"), col("nsupp"),
          col("t")(0).as("t1"),
          // ANSI mode throws on out-of-range array index — guard the
          // single-supplier orders (filtered out downstream anyway)
          when(col("nsupp") > 1, col("t")(1)).as("t2"))
      lf.join(tops, col("l_orderkey") === col("t_orderkey"))
        .filter(col("nsupp") >= 2 &&
          col("l_shipdate") >= when(col("l_suppkey") === col("t1.l_suppkey"),
            col("t2.smax")).otherwise(col("t1.smax")))
        // no broadcast HINT on supplier: it broadcasts by size at
        // every tested SF anyway, but supplier grows with SF (x10k
        // rows) and a forced hint would abort past the 8 GB limit at
        // extreme scale where AQE would have picked a shuffled join
        .join(spark.table("supplier")
          .select(col("s_suppkey"), col("s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(desc_nulls_last("numwait"), asc_nulls_first("s_name"))
        .limit(20)
    })

  /** TPC-H Q18 flavor (large-volume customers): join against a
    * HAVING-filtered aggregate of the fact table itself. Scale shape:
    * the `big` aggregate collapses lineitem to one slim row per
    * qualifying order BEFORE any join (map-side partials), the
    * orders⋈big join is keyed on the same l_orderkey the final
    * per-order rollup groups on (AQE reuses the partitioning), and
    * customer attaches as a broadcast. The top-100 cut orders on the
    * ROUNDED quantity + both keys, so it is cross-engine
    * deterministic. */
  val qj17 = shared("qj17_big_orders",
    """WITH big AS (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      |SELECT c.c_custkey, o.o_orderkey, round(o.o_totalprice, 4) AS totalprice,
      |       round(sum(l.l_quantity), 4) AS total_qty
      |FROM orders o
      |JOIN big b ON o.o_orderkey = b.l_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |GROUP BY c.c_custkey, o.o_orderkey, o.o_totalprice
      |ORDER BY total_qty DESC NULLS LAST, c_custkey NULLS FIRST,
      |         o_orderkey NULLS FIRST, totalprice NULLS FIRST
      |LIMIT 100""".stripMargin,
    "join,aggregate-subquery,tpch,topk")

  /** Triangle counting over the supplier co-occurrence graph — the
    * graph-analytics join pattern beside eng_pagerank's iteration:
    * suppliers sharing a high-value order form an edge (the value
    * filter keeps the graph sparse — unfiltered, ~7 lines/order makes
    * the 1000-supplier graph near-complete and triangles degenerate);
    * triangles are one wedge join (e1.s2 = e2.s1) closed by an edge
    * probe. The s1 < s2 orientation counts each edge and each
    * triangle exactly once and halves wedge generation — the standard
    * orientation trick; production triangle counting additionally
    * orients by DEGREE so wedges generate at low-degree vertices
    * (Schank '05), which this spelling inherits by replacing the key
    * comparison with a (degree, key) comparison. Work is
    * O(Σ deg²) on the thinned edge set, never O(V³). */
  val qj18 = shared("qj18_triangles",
    """WITH pairs AS (
      |  SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      |  FROM lineitem a
      |  JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      |                 AND a.l_suppkey < b.l_suppkey
      |  WHERE a.l_extendedprice > 90000 AND b.l_extendedprice > 90000),
      |tri AS (
      |  SELECT e1.s1 AS x, e1.s2 AS y, e2.s2 AS z
      |  FROM pairs e1
      |  JOIN pairs e2 ON e2.s1 = e1.s2
      |  JOIN pairs e3 ON e3.s1 = e1.s1 AND e3.s2 = e2.s2)
      |SELECT CAST((SELECT count(*) FROM pairs) AS BIGINT) AS n_edges,
      |       CAST(count(*) AS BIGINT) AS n_triangles,
      |       CAST(count(DISTINCT x) AS BIGINT) AS n_apex
      |FROM tri
      |ORDER BY n_edges NULLS FIRST, n_triangles NULLS FIRST, n_apex NULLS FIRST""".stripMargin,
    "graph,triangles,join,self-join")

  // ---------------------------------------------------------------
  // Window functions (Q-W*)
  // ---------------------------------------------------------------

  val qw1 = shared("qw1_ranking",
    """SELECT o_custkey, o_orderkey, rn, rnk, drnk
      |FROM (SELECT o_custkey, o_orderkey,
      |             CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rn,
      |             CAST(rank()       OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS rnk,
      |             CAST(dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS drnk
      |      FROM orders) t
      |WHERE rn <= 3
      |ORDER BY o_custkey NULLS FIRST, o_orderkey NULLS FIRST, rn NULLS FIRST,
      |         rnk NULLS FIRST, drnk NULLS FIRST""".stripMargin,
    "window,rank")

  /** Predictive-filter analog (reference linear extrapolation,
    * /root/reference/firmware/middleware/fixed_point_filter.c:144-199). */
  val qw2 = shared("qw2_lag_predict",
    """SELECT user_id, event_id,
      |       round(2 * lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |             - lag(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS predicted,
      |       round(value, 4) AS actual
      |FROM events
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST, predicted NULLS FIRST,
      |         actual NULLS FIRST""".stripMargin,
    "window,lag")

  /** Moving-average analog (reference 8-sample ring buffer,
    * /root/reference/firmware/middleware/fixed_point_filter.c:103-138). */
  /** `value` is exact 2-decimal money, so the moving average is
    * computed over exact integer cents (sum BIGINT) and divided once —
    * both engines produce the bit-identical double, so no ROUND is
    * applied (ROUND itself diverges on exact .xxxx5 quotients: Spark
    * HALF_UPs the shortest decimal string while DuckDB rounds the
    * binary value, which sits below the boundary). */
  val qw3 = shared("qw3_moving_avg",
    """SELECT user_id, event_id,
      |       sum(CAST(round(value * 100) AS BIGINT))
      |         OVER (PARTITION BY user_id ORDER BY ts, event_id
      |               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
      |       / (CAST(100 AS DOUBLE) *
      |          count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                         ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)) AS mavg
      |FROM events
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST, mavg NULLS FIRST""".stripMargin,
    "window,frame")

  /** Prefix-sum / delta-decode analog (reference
    * /root/reference/firmware/middleware/compression.c:119-143). */
  val qw4 = shared("qw4_prefix_sum",
    """SELECT user_id, event_id,
      |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING), 4) AS run_sum,
      |       round(value - lag(value, 1, 0.0) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta
      |FROM events
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST, run_sum NULLS FIRST,
      |         delta NULLS FIRST""".stripMargin,
    "window,prefixsum")

  val qw5 = sharedImpl("qw5_ntile",
    """SELECT c_custkey,
      |       CAST(ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS INT) AS quartile,
      |       round(percent_rank() OVER (ORDER BY c_acctbal, c_custkey), 4) AS pr
      |FROM customer
      |ORDER BY c_custkey NULLS FIRST, quartile NULLS FIRST, pr NULLS FIRST""".stripMargin,
    "window,ntile",
    // Kept for its size gate, not a measured win: below the gate the
    // impl IS the SQL plan (impl/SQL median 1.06, 4/12 pairs at sf0.1).
    // Two-phase global rank instead of the empty-PARTITION-BY window
    // (which moves EVERY customer row to ONE partition — the
    // WindowExec "No Partition Defined" scale-killer; guide §2).
    // Phase 1 range-partitions on the window's ORDER BY key and
    // counts rows per range; phase 2 ranks locally per range and adds
    // the broadcast per-range offsets — the global rank r of each row
    // is exact regardless of where the sampled range boundaries fall,
    // because ranges are ordered and (c_acctbal, c_custkey) is a
    // total order (c_custkey unique ⇒ no ties, rank ≡ row_number).
    // From r and n the window functions are closed-form and
    // value-identical to Spark's own:
    //  - percent_rank = (r−1)/(n−1) (0.0 when n = 1) — the same
    //    double division PercentRank evaluates;
    //  - ntile(4): the first n mod 4 buckets get ⌈n/4⌉ rows, the rest
    //    ⌊n/4⌋ (Spark's NTile bucket arithmetic, exact in integers).
    // GATED on the measured input size (the Triangles/PageRank
    // earn-the-choice discipline, from the optimizer's OWN size
    // estimate — a driver-side stat, no extra job): under the bound
    // the single-partition window is a few ms and the two-phase
    // spelling's fixed costs (checkpoint + counts job + extra
    // exchange) LOSE (measured sf0.1: 0.57 s vs 0.20 s), so the SQL
    // plan is emitted unchanged; above it the two-phase plan removes
    // the scale-killer. Both spellings are result-identical
    // (InventorySpec pins the two-phase path with the gate forced on).
    impl = { (spark, dir) =>
      import org.apache.spark.sql.functions._
      Tables.register(spark, dir)
      val base = spark.table("customer")
        .select(col("c_custkey"), col("c_acctbal"))
      val minBytes = spark.conf
        .getOption(QueryInventory.TwoPhaseNtileMinBytesKey).map(_.toLong)
        .getOrElse(QueryInventory.TwoPhaseNtileMinBytesDefault)
      val estBytes = base.queryExecution.optimizedPlan.stats.sizeInBytes
      if (estBytes < minBytes) spark.sql(qw5Sql)
      else twoPhaseNtile(spark, base)
    })

  /** Size bound under which qw5's impl keeps the plain global-window
    * SQL plan (see the impl note above). Measured crossover on the
    * local rig: at 450k rows the single-partition window still wins
    * (0.9-1.2 s vs 1.8-2.7 s — the two-phase checkpoint + counts job
    * are fixed costs), at 1.5M rows the two-phase plan wins 1.5-1.7x
    * (2.0-2.6 s vs 2.9-4.1 s) and the gap only widens with size.
    * 64 MB of estimated input ≈ a few million rows — conservatively
    * above the crossover; production values belong in --conf. */
  val TwoPhaseNtileMinBytesKey = "spark.graft.ntile.twoPhaseMinBytes"
  val TwoPhaseNtileMinBytesDefault: Long = 64L << 20

  /** qw5's scale spelling — see the gate note on [[qw5]]. */
  private[graft] def twoPhaseNtile(spark: org.apache.spark.sql.SparkSession,
      base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.functions._
      // materialized once: the per-range counts and the ranked output
      // both consume the range exchange
      val parts = graft.operators.Checkpoints.truncate(base
        .repartitionByRange(col("c_acctbal"), col("c_custkey"))
        .withColumn("pid", spark_partition_id()))
      val counts = parts.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
      val n = counts.map(_._2).sum
      if (n == 0) spark.sql(qw5Sql)
      else {
        // offset(pid) = rows in ranges before pid — a tiny driver scan
        val offsets = counts.toList.scanLeft((0, 0L)) {
          case ((_, acc), (pid, cnt)) => (pid, acc + cnt)
        }.sliding(2).collect { case (_, acc) :: (pid, _) :: Nil => (pid, acc) }
          .toSeq
        val offExpr = map(offsets.flatMap { case (pid, off) =>
          Seq(lit(pid), lit(off)) }: _*)
        val localW = org.apache.spark.sql.expressions.Window
          .partitionBy(col("pid")).orderBy(col("c_acctbal"), col("c_custkey"))
        val q = n / 4
        val rem = n % 4
        val cut = rem * (q + 1)
        parts
          .withColumn("r",
            row_number().over(localW).cast("long") +
              element_at(offExpr, col("pid")))
          .withColumn("quartile", expr(
            s"CAST(CASE WHEN r <= $cut THEN (r - 1) DIV ${q + 1} + 1 " +
              s"ELSE $rem + (r - 1 - $cut) DIV ${math.max(q, 1)} + 1 END AS INT)"))
          .withColumn("pr", expr(
            s"round(CASE WHEN ${n}L = 1 THEN CAST(0.0 AS DOUBLE) " +
              s"ELSE CAST(r - 1 AS DOUBLE) / ${n - 1} END, 4)"))
          .select(col("c_custkey"), col("quartile"), col("pr"))
          .orderBy(col("c_custkey").asc_nulls_first,
            col("quartile").asc_nulls_first, col("pr").asc_nulls_first)
      }
  }

  /** qw5's SQL spelling, reachable from the impl's gate/empty fallback. */
  private def qw5Sql: String = qw5.sparkSql

  val qw6 = shared("qw6_range_frame",
    """SELECT user_id, event_id,
      |       round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
      |                              RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW), 4) AS win_sum
      |FROM events
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST, win_sum NULLS FIRST""".stripMargin,
    "window,rangeframe")

  /** IGNORE NULLS gap-fill (the carry-forward every sensor pipeline
    * writes; the internal spelling of AsOfJoin made contract-visible)
    * + a NUMERIC range frame beside qw6's interval frame. Dialect:
    * Spark puts IGNORE NULLS after the call, DuckDB inside it. */
  val qw7 = Q("qw7_ignore_nulls",
    """SELECT user_id, event_id,
      |       round(last_value(value) IGNORE NULLS OVER
      |         (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING), 4) AS carry,
      |       CAST(count(*) OVER (PARTITION BY user_id ORDER BY event_id
      |         RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_near
      |FROM events
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST, carry NULLS FIRST,
      |         n_near NULLS FIRST""".stripMargin,
    Some("""SELECT user_id, event_id,
      |       round(last_value(value IGNORE NULLS) OVER
      |         (PARTITION BY user_id ORDER BY event_id ROWS UNBOUNDED PRECEDING), 4) AS carry,
      |       CAST(count(*) OVER (PARTITION BY user_id ORDER BY event_id
      |         RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_near
      |FROM events
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST, carry NULLS FIRST,
      |         n_near NULLS FIRST""".stripMargin),
    "window,ignore_nulls,gapfill")

  /** Ratio-to-report: each nation's share of its region's revenue.
    * The grouped rollup reduces 100 TB of facts to 25 rows BEFORE the
    * share window runs, so the window sort is over the tiny
    * aggregate, not the fact table — the scale-correct spelling of
    * every "percent of parent" report. */
  val qw8 = shared("qw8_share",
    """WITH rev AS (
      |  SELECT r.r_name AS region, n.n_name AS nation, sum(o.o_totalprice) AS rev
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  JOIN region r ON n.n_regionkey = r.r_regionkey
      |  GROUP BY r.r_name, n.n_name)
      |SELECT region, nation, round(rev, 4) AS rev,
      |       round(rev / sum(rev) OVER (PARTITION BY region), 4) AS share
      |FROM rev
      |ORDER BY region NULLS FIRST, nation NULLS FIRST, rev NULLS FIRST,
      |         share NULLS FIRST""".stripMargin,
    "window,ratio_to_report,share")

  /** Running distinct cardinality per channel — the "unique users so
    * far" live metric. Spark has no DISTINCT window aggregates, so
    * the engine spelling is `size(collect_set() OVER ...)`; DuckDB's
    * is the ANSI `count(DISTINCT) OVER`. Scale note: a running exact
    * distinct carries O(cardinality) window state per partition — at
    * 100 TB the answer is the mergeable HLL sketch state in
    * eng_incremental_agg / eng_approx_distinct; this spelling is the
    * exact companion, bounded here by the user slice. */
  val qw9 = Q("qw9_running_distinct",
    """SELECT event_type, event_id,
      |       CAST(size(collect_set(user_id) OVER (
      |         PARTITION BY event_type ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT)
      |         AS distinct_users
      |FROM events WHERE user_id < 200
      |ORDER BY event_type NULLS FIRST, event_id NULLS FIRST,
      |         distinct_users NULLS FIRST""".stripMargin,
    Some("""SELECT event_type, event_id,
      |       CAST(count(DISTINCT user_id) OVER (
      |         PARTITION BY event_type ORDER BY ts, event_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS distinct_users
      |FROM events WHERE user_id < 200
      |ORDER BY event_type NULLS FIRST, event_id NULLS FIRST,
      |         distinct_users NULLS FIRST""".stripMargin),
    "window,distinct,running")

  /** Event-TIME trailing window via a RANGE frame over integer
    * microseconds (the everyday "activity in the last hour" query —
    * distinct from qw6's numeric range frame): the frame bound is a
    * time interval, so ties in ts share a frame and the result is
    * deterministic without a unique ordering column. One user-keyed
    * shuffle; the frame scan is linear per partition (Spark keeps a
    * sliding aggregate, not a per-row rescan). */
  val qw10 = Q("qw10_trailing_hour",
    """SELECT user_id, event_id,
      |       CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
      |       round(sum(value) OVER w, 4) AS sum_last_hour
      |FROM events WHERE user_id < 100
      |WINDOW w AS (PARTITION BY user_id ORDER BY unix_micros(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST,
      |         n_last_hour NULLS FIRST, sum_last_hour NULLS FIRST""".stripMargin,
    Some("""SELECT user_id, event_id,
      |       CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
      |       round(sum(value) OVER w, 4) AS sum_last_hour
      |FROM events WHERE user_id < 100
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id NULLS FIRST, event_id NULLS FIRST,
      |         n_last_hour NULLS FIRST, sum_last_hour NULLS FIRST""".stripMargin),
    "window,range,event-time")

  /** Distribution-position window functions (`percent_rank`,
    * `cume_dist`, `nth_value`) — the normalized-rank family qw1's
    * integer ranks don't cover: where a price sits inside its
    * priority class as a [0,1] fraction, plus the class's 2nd-lowest
    * price via an unbounded frame. The (o_totalprice, o_orderkey)
    * ordering is total within each partition, so every value is
    * deterministic. Same scale shape as qw1: one shuffle on the
    * partition key, a single ordered pass per partition — nth_value
    * with an unbounded frame materializes the frame head once, not
    * per row. */
  val qw11 = shared("qw11_dist_rank",
    """SELECT o_orderkey, o_orderpriority,
      |       round(percent_rank() OVER w, 4) AS pr,
      |       round(cume_dist() OVER w, 4) AS cd,
      |       round(nth_value(o_totalprice, 2) OVER (
      |         PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 4)
      |         AS second_lowest
      |FROM orders WHERE o_orderkey <= 2000
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
      |ORDER BY o_orderkey NULLS FIRST, o_orderpriority NULLS FIRST,
      |         pr NULLS FIRST, cd NULLS FIRST, second_lowest NULLS FIRST""".stripMargin,
    "window,percent_rank,cume_dist,nth_value")

  // ---------------------------------------------------------------
  // Sort / limit / top-k (Q-T*)
  // ---------------------------------------------------------------

  val qt1 = shared("qt1_global_sort",
    """SELECT o_orderkey, o_orderpriority, round(o_totalprice, 4) AS totalprice
      |FROM orders
      |ORDER BY o_orderpriority ASC NULLS FIRST, totalprice DESC NULLS LAST,
      |         o_orderkey ASC NULLS FIRST
      |LIMIT 100""".stripMargin,
    "sort,limit")

  /** Distributed top-k-per-group pattern (window + filter, no global
    * sort of the full table). */
  val qt2 = shared("qt2_topk_per_group",
    """SELECT l_suppkey, l_orderkey, l_linenumber, round(l_extendedprice, 4) AS price
      |FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
      |             row_number() OVER (PARTITION BY l_suppkey
      |                                ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      |      FROM lineitem) t
      |WHERE rn <= 5
      |ORDER BY l_suppkey NULLS FIRST, price DESC NULLS LAST, l_orderkey NULLS FIRST,
      |         l_linenumber NULLS FIRST""".stripMargin,
    "topk")

  /** Keyset-free pagination: ORDER BY + LIMIT/OFFSET — the everyday
    * result-paging spelling (page 2 of 15). Deterministic because the
    * unique o_orderkey breaks every price tie; at scale OFFSET n
    * still sorts/skips n rows per query — keyset pagination (WHERE
    * key > last_seen, qt1's pattern with a predicate) is the
    * constant-cost alternative; this row exercises the spelling. */
  val qt3 = shared("qt3_pagination",
    """SELECT o_orderkey, round(o_totalprice, 4) AS price
      |FROM orders
      |ORDER BY price DESC NULLS LAST, o_orderkey NULLS FIRST
      |LIMIT 15 OFFSET 25""".stripMargin,
    "sort,pagination,offset")

  /** Deterministic uniform sample as bottom-k by multiplicative hash
    * (Knuth: key × 2654435761 mod 2³²): every engine run and the
    * oracle agree on the exact sample, unlike TABLESAMPLE/rand().
    * This is the reservoir-sample equivalent a training pipeline uses
    * to draw a fixed-size uniform document subset reproducibly. Scale
    * shape: ORDER BY hash LIMIT k plans as TakeOrderedAndProject —
    * each partition keeps a k-element heap and the driver merges
    * k-sized heads; no global sort, no shuffle of the table. Ties are
    * impossible in the order (o_orderkey is unique), so LIMIT is
    * deterministic. Pure-integer arithmetic spells identically in
    * both dialects; max key (6 M at sf1) × 2654435761 ≈ 1.6e16 stays
    * far inside BIGINT. */
  val qt4 = shared("qt4_hash_sample",
    """SELECT o_orderkey, CAST((o_orderkey * 2654435761) % 4294967296 AS BIGINT) AS h,
      |       round(o_totalprice, 4) AS price
      |FROM orders
      |ORDER BY h NULLS FIRST, o_orderkey NULLS FIRST
      |LIMIT 64""".stripMargin,
    "sample,topk,deterministic,hash")

  // ---------------------------------------------------------------
  // Set operations (Q-U*)
  // ---------------------------------------------------------------

  val qu1 = shared("qu1_union_all",
    """SELECT nationkey, count(*) AS cnt
      |FROM (SELECT c_nationkey AS nationkey FROM customer
      |      UNION ALL
      |      SELECT s_nationkey FROM supplier) t
      |GROUP BY nationkey
      |ORDER BY nationkey NULLS FIRST, cnt NULLS FIRST""".stripMargin,
    "union")

  val qu2 = shared("qu2_union_distinct",
    """SELECT nationkey
      |FROM (SELECT c_nationkey AS nationkey FROM customer
      |      UNION
      |      SELECT s_nationkey FROM supplier) t
      |ORDER BY nationkey NULLS FIRST""".stripMargin,
    "union,distinct")

  val qu3 = shared("qu3_intersect",
    """SELECT c_nationkey AS nationkey FROM customer
      |INTERSECT
      |SELECT s_nationkey FROM supplier
      |ORDER BY nationkey NULLS FIRST""".stripMargin,
    "intersect")

  val qu4 = shared("qu4_except",
    """SELECT c_nationkey AS nationkey FROM customer
      |EXCEPT
      |SELECT s_nationkey FROM supplier WHERE s_nationkey < 15
      |ORDER BY nationkey NULLS FIRST""".stripMargin,
    "except")

  /** Multiset INTERSECT ALL — per-key multiplicity is min(left count,
    * right count); aggregated so the output pins the multiplicities
    * exactly. */
  val qu5 = shared("qu5_intersect_all",
    """SELECT nationkey, CAST(count(*) AS BIGINT) AS mult FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  INTERSECT ALL
      |  SELECT s_nationkey FROM supplier) t
      |GROUP BY nationkey
      |ORDER BY nationkey NULLS FIRST, mult NULLS FIRST""".stripMargin,
    "intersect_all,multiset")

  /** Multiset EXCEPT ALL — per-key multiplicity is max(0, left count −
    * right count). */
  val qu6 = shared("qu6_except_all",
    """SELECT nationkey, CAST(count(*) AS BIGINT) AS mult FROM (
      |  SELECT c_nationkey AS nationkey FROM customer
      |  EXCEPT ALL
      |  SELECT s_nationkey FROM supplier) t
      |GROUP BY nationkey
      |ORDER BY nationkey NULLS FIRST, mult NULLS FIRST""".stripMargin,
    "except_all,multiset")

  // ---------------------------------------------------------------
  // Vector / tensor queries over embeddings (Q-V*)
  // Heirs of the reference's linear-algebra operators
  // (/root/reference/simulator/sim_reflex.py:43-91,
  //  /root/reference/imc22_sdk/imc22_cim.c:87-142).
  // ---------------------------------------------------------------

  val qv1 = Q("qv1_vector_norm",
    """SELECT vec_id,
      |       round(sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x),
      |                            CAST(0 AS DOUBLE), (s, v) -> s + v)), 4) AS l2_norm,
      |       round(aggregate(transform(embedding, x -> CAST(x AS DOUBLE)),
      |                       CAST(0 AS DOUBLE), (s, v) -> s + v), 4) AS sum_v,
      |       CAST(size(embedding) AS INT) AS dim
      |FROM embeddings
      |ORDER BY vec_id NULLS FIRST, l2_norm NULLS FIRST, sum_v NULLS FIRST, dim NULLS FIRST""".stripMargin,
    Some("""SELECT vec_id,
      |       round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) AS l2_norm,
      |       round(list_sum(embedding::DOUBLE[]), 4) AS sum_v,
      |       CAST(len(embedding) AS INT) AS dim
      |FROM embeddings
      |ORDER BY vec_id NULLS FIRST, l2_norm NULLS FIRST, sum_v NULLS FIRST, dim NULLS FIRST""".stripMargin),
    "vector,norm")

  /** GEMV analog (reference CIM_FullyConnected,
    * /root/reference/imc22_sdk/imc22_cim.c:227-272): dot of every
    * vector against a fixed probe, top-20. */
  val qv2 = Q("qv2_dot_topk",
    """SELECT e.vec_id,
      |       round(aggregate(zip_with(e.embedding, p.embedding, (x, y) -> CAST(x AS DOUBLE) * y),
      |                       CAST(0 AS DOUBLE), (s, v) -> s + v), 4) AS dot_score
      |FROM embeddings e
      |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) p
      |WHERE e.vec_id <> 0
      |ORDER BY dot_score DESC NULLS LAST, vec_id ASC NULLS FIRST
      |LIMIT 20""".stripMargin,
    Some("""SELECT e.vec_id,
      |       round(list_dot_product(e.embedding::DOUBLE[], p.embedding::DOUBLE[]), 4) AS dot_score
      |FROM embeddings e
      |CROSS JOIN (SELECT embedding FROM embeddings WHERE vec_id = 0) p
      |WHERE e.vec_id <> 0
      |ORDER BY dot_score DESC NULLS LAST, vec_id ASC NULLS FIRST
      |LIMIT 20""".stripMargin),
    "vector,gemv,topk")

  /** Relational GEMM (reference CIM_MatMul,
    * /root/reference/imc22_sdk/imc22_cim.c:87-142): explode to
    * (vec_id, pos, val), join a constant 64×4 matrix on the inner
    * dim, group-sum. The matrix is generated from exact integer
    * arithmetic so both engines agree bit-for-bit pre-round. */
  val qv3 = Q("qv3_gemm",
    """WITH m AS (
      |  SELECT pos, j, ((pos * 7 + j * 13) % 11 - 5) / 10.0 AS mval
      |  FROM (SELECT explode(sequence(1, 64)) AS pos) p
      |  CROSS JOIN (SELECT explode(sequence(1, 4)) AS j) q),
      |x AS (
      |  SELECT vec_id, pos + 1 AS pos, CAST(val AS DOUBLE) AS xval
      |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50) e
      |  LATERAL VIEW posexplode(embedding) t AS pos, val)
      |SELECT x.vec_id, CAST(m.j AS INT) AS j, round(sum(x.xval * m.mval), 4) AS yval
      |FROM x JOIN m ON x.pos = m.pos
      |GROUP BY x.vec_id, m.j
      |ORDER BY vec_id NULLS FIRST, j NULLS FIRST, yval NULLS FIRST""".stripMargin,
    Some("""WITH m AS (
      |  SELECT pos, j, ((pos * 7 + j * 13) % 11 - 5) / 10.0 AS mval
      |  FROM (SELECT unnest(generate_series(1, 64)) AS pos) p
      |  CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS j) q),
      |x AS (
      |  SELECT vec_id, pos, CAST(embedding[pos] AS DOUBLE) AS xval
      |  FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50) e
      |  CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS pos) s)
      |SELECT x.vec_id, CAST(m.j AS INT) AS j, round(sum(x.xval * m.mval), 4) AS yval
      |FROM x JOIN m ON x.pos = m.pos
      |GROUP BY x.vec_id, m.j
      |ORDER BY vec_id NULLS FIRST, j NULLS FIRST, yval NULLS FIRST""".stripMargin),
    "vector,gemm")

  /** Cosine similarity join — similarity-search seed (north-star op;
    * attention analog /root/reference/model_zoo/export_tinyllama.py:29-56). */
  val qv4 = Q("qv4_cosine_join",
    """WITH n AS (
      |  SELECT vec_id,
      |         transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
      |         sqrt(aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * x),
      |                        CAST(0 AS DOUBLE), (s, v) -> s + v)) AS nrm
      |  FROM embeddings WHERE vec_id < 100)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       round(aggregate(zip_with(a.e, b.e, (x, y) -> x * y),
      |                       CAST(0 AS DOUBLE), (s, v) -> s + v) / (a.nrm * b.nrm), 4) AS cosine
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |ORDER BY cosine DESC NULLS LAST, vec_a NULLS FIRST, vec_b NULLS FIRST
      |LIMIT 10""".stripMargin,
    Some("""WITH n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |         sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))) AS nrm
      |  FROM embeddings WHERE vec_id < 100)
      |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      |       round(list_dot_product(a.e, b.e) / (a.nrm * b.nrm), 4) AS cosine
      |FROM n a JOIN n b ON a.vec_id < b.vec_id
      |ORDER BY cosine DESC NULLS LAST, vec_a NULLS FIRST, vec_b NULLS FIRST
      |LIMIT 10""".stripMargin),
    "vector,cosine,similarity")

  /** Numerically-stable softmax (reference
    * /root/reference/firmware/middleware/cascade_model.c:203-229)
    * over per-label mean element-sums, via max/sum windows. */
  val qv5 = Q("qv5_softmax",
    """WITH s AS (
      |  SELECT label, avg(aggregate(transform(embedding, x -> CAST(x AS DOUBLE)),
      |                              CAST(0 AS DOUBLE), (a, x) -> a + x)) AS score
      |  FROM embeddings GROUP BY label),
      |m AS (SELECT label, score, max(score) OVER () AS mx FROM s),
      |e AS (SELECT label, exp(score - mx) AS ex FROM m)
      |SELECT label, round(ex / sum(ex) OVER (), 4) AS softmax
      |FROM e
      |ORDER BY label NULLS FIRST, softmax NULLS FIRST""".stripMargin,
    Some("""WITH s AS (
      |  SELECT label, avg(list_sum(embedding::DOUBLE[])) AS score
      |  FROM embeddings GROUP BY label),
      |m AS (SELECT label, score, max(score) OVER () AS mx FROM s),
      |e AS (SELECT label, exp(score - mx) AS ex FROM m)
      |SELECT label, round(ex / sum(ex) OVER (), 4) AS softmax
      |FROM e
      |ORDER BY label NULLS FIRST, softmax NULLS FIRST""".stripMargin),
    "vector,softmax")

  /** Symmetric int8 quantize/dequantize round-trip (reference
    * /root/reference/mlir_compiler/quantization.py:18-57,
    * /root/reference/distillation/qat_ops.py:12-23): scale=absmax/127,
    * report max abs reconstruction error per vector. */
  val qv6 = Q("qv6_quantize_roundtrip",
    """WITH q AS (
      |  SELECT vec_id,
      |         transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
      |         greatest(aggregate(transform(embedding, x -> abs(CAST(x AS DOUBLE))),
      |                            CAST(0 AS DOUBLE), (s, v) -> greatest(s, v)),
      |                  CAST(0.000000000001 AS DOUBLE)) / 127.0 AS scale
      |  FROM embeddings)
      |SELECT vec_id,
      |       round(scale, 8) AS scale,
      |       round(aggregate(transform(e, x -> abs(round(x / scale) * scale - x)),
      |                       CAST(0 AS DOUBLE), (s, v) -> greatest(s, v)), 6) AS max_err
      |FROM q
      |ORDER BY vec_id NULLS FIRST, scale NULLS FIRST, max_err NULLS FIRST""".stripMargin,
    Some("""WITH q AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |         greatest(list_max(list_transform(embedding::DOUBLE[], x -> abs(x))),
      |                  0.000000000001) / 127.0 AS scale
      |  FROM embeddings)
      |SELECT vec_id,
      |       round(scale, 8) AS scale,
      |       round(list_max(list_transform(e, x -> abs(round(x / scale) * scale - x))), 6) AS max_err
      |FROM q
      |ORDER BY vec_id NULLS FIRST, scale NULLS FIRST, max_err NULLS FIRST""".stripMargin),
    "vector,quantize")

  /** Sparsity threshold filter (reference
    * /root/reference/mlir_compiler/sparsity_optimizer.py:66-112):
    * per-vector fraction of near-zero elements, bucketed by the
    * reference's 0.3/0.7 thresholds. */
  val qv7 = Q("qv7_sparsity_filter",
    """SELECT vec_id,
      |       round(CAST(size(filter(embedding, x -> abs(x) < 0.05)) AS DOUBLE)
      |             / size(embedding), 4) AS frac_small,
      |       CASE WHEN CAST(size(filter(embedding, x -> abs(x) < 0.05)) AS DOUBLE)
      |                 / size(embedding) > 0.7 THEN 'csr'
      |            WHEN CAST(size(filter(embedding, x -> abs(x) < 0.05)) AS DOUBLE)
      |                 / size(embedding) > 0.3 THEN 'sparse'
      |            ELSE 'dense' END AS rec_mode
      |FROM embeddings
      |ORDER BY vec_id NULLS FIRST, frac_small NULLS FIRST, rec_mode NULLS FIRST""".stripMargin,
    Some("""SELECT vec_id,
      |       round(CAST(len(list_filter(embedding, x -> abs(x) < 0.05)) AS DOUBLE)
      |             / len(embedding), 4) AS frac_small,
      |       CASE WHEN CAST(len(list_filter(embedding, x -> abs(x) < 0.05)) AS DOUBLE)
      |                 / len(embedding) > 0.7 THEN 'csr'
      |            WHEN CAST(len(list_filter(embedding, x -> abs(x) < 0.05)) AS DOUBLE)
      |                 / len(embedding) > 0.3 THEN 'sparse'
      |            ELSE 'dense' END AS rec_mode
      |FROM embeddings
      |ORDER BY vec_id NULLS FIRST, frac_small NULLS FIRST, rec_mode NULLS FIRST""".stripMargin),
    "vector,sparsity")

  /** Distillation objective (reference
    * /root/reference/distillation/distiller.py:17-41):
    * α·KL(softmax(teacher/T) ‖ softmax(student/T))·T² +
    * (1−α)·CE(student, label), T=2, α=0.5; teacher is a deterministic
    * 0.9-scaled copy of the student logits. */
  val qv11 = Q("qv11_distill_loss",
    """WITH e AS (
      |  SELECT vec_id, label,
      |         transform(embedding, x -> CAST(x AS DOUBLE)) AS s,
      |         transform(embedding, x -> CAST(x AS DOUBLE) * 0.9) AS t
      |  FROM embeddings)
      |SELECT vec_id,
      |       round(distill_soft_loss(s, t), 4) AS soft_loss,
      |       round(-ln(element_at(vec_softmax(s), label + 1)), 4) AS hard_loss,
      |       round(0.5 * distill_soft_loss(s, t)
      |             - 0.5 * ln(element_at(vec_softmax(s), label + 1)), 4) AS total_loss
      |FROM e
      |ORDER BY vec_id NULLS FIRST, soft_loss NULLS FIRST, hard_loss NULLS FIRST,
      |         total_loss NULLS FIRST""".stripMargin,
    Some("""WITH e AS (
      |  SELECT vec_id, label, embedding::DOUBLE[] AS s FROM embeddings),
      |a AS (
      |  SELECT vec_id, label, s,
      |         list_transform(s, x -> x * 0.5) AS st,
      |         list_transform(s, x -> (x * 0.9) * 0.5) AS tt
      |  FROM e),
      |b AS (
      |  SELECT vec_id, label, s,
      |         list_transform(st, x -> exp(x - list_max(st))) AS sx,
      |         list_transform(tt, x -> exp(x - list_max(tt))) AS tx
      |  FROM a),
      |c AS (
      |  SELECT vec_id, label, s,
      |         list_transform(sx, x -> x / list_sum(sx)) AS sp,
      |         list_transform(tx, x -> x / list_sum(tx)) AS tp
      |  FROM b),
      |k AS (
      |  SELECT vec_id, label, s,
      |         list_sum(list_transform(generate_series(1, len(sp)),
      |                  i -> tp[i] * (ln(tp[i]) - ln(sp[i])))) * 4.0 AS soft,
      |         list_transform(s, x -> exp(x - list_max(s))) AS hx
      |  FROM c),
      |h AS (
      |  SELECT vec_id, label, soft,
      |         -ln(hx[label + 1] / list_sum(hx)) AS hard
      |  FROM k)
      |SELECT vec_id,
      |       round(soft, 4) AS soft_loss,
      |       round(hard, 4) AS hard_loss,
      |       round(0.5 * soft + 0.5 * hard, 4) AS total_loss
      |FROM h
      |ORDER BY vec_id NULLS FIRST, soft_loss NULLS FIRST, hard_loss NULLS FIRST,
      |         total_loss NULLS FIRST""".stripMargin),
    "vector,distill")

  /** Conv-BN fold (ref op #25): fold per-"channel" BatchNorm params
    * (deterministic from label) into the weight vector, then verify
    * the fold identity bn(conv(w,x)) ≡ conv(w',x)+b' on the vector
    * itself — the constant-folding pass the reference delegates to
    * torch.onnx (qat_trainer.py:411), as a relational weight
    * transform. */
  val qv12 = Q("qv12_bn_fold",
    """WITH f AS (
      |  SELECT vec_id,
      |         transform(embedding, x -> CAST(x AS DOUBLE)) AS w,
      |         (0.5 + CAST(label AS DOUBLE) / 10.0) / sqrt(CAST(1.0 AS DOUBLE) + 1e-5) AS k,
      |         0.5 + CAST(label AS DOUBLE) / 10.0 AS gamma,
      |         CAST(label AS DOUBLE) * 0.1 AS beta,
      |         CAST(0.2 AS DOUBLE) AS mu
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, k, gamma, beta, mu,
      |         transform(w, x -> x * k) AS wf,
      |         beta - mu * k AS bf,
      |         aggregate(zip_with(w, w, (x, y) -> x * y), CAST(0 AS DOUBLE), (s, v) -> s + v) AS dot_ww,
      |         w
      |  FROM f),
      |r AS (
      |  SELECT vec_id, k, wf, bf, gamma, beta, mu, dot_ww,
      |         aggregate(zip_with(wf, w, (x, y) -> x * y), CAST(0 AS DOUBLE), (s, v) -> s + v) AS dot_wfw
      |  FROM e)
      |SELECT vec_id,
      |       round(k, 6) AS fold_scale,
      |       round(element_at(wf, 1), 6) AS w0_folded,
      |       round(bf, 6) AS bias_folded,
      |       round(abs((dot_wfw + bf) - (gamma * (dot_ww - mu) / sqrt(CAST(1.0 AS DOUBLE) + 1e-5) + beta)), 6) AS fold_err
      |FROM r
      |ORDER BY vec_id NULLS FIRST, fold_scale NULLS FIRST, w0_folded NULLS FIRST,
      |         bias_folded NULLS FIRST, fold_err NULLS FIRST""".stripMargin,
    Some("""WITH f AS (
      |  SELECT vec_id,
      |         embedding::DOUBLE[] AS w,
      |         (0.5 + CAST(label AS DOUBLE) / 10.0) / sqrt(CAST(1.0 AS DOUBLE) + 1e-5) AS k,
      |         0.5 + CAST(label AS DOUBLE) / 10.0 AS gamma,
      |         CAST(label AS DOUBLE) * 0.1 AS beta,
      |         CAST(0.2 AS DOUBLE) AS mu
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, k, gamma, beta, mu,
      |         list_transform(w, x -> x * k) AS wf,
      |         beta - mu * k AS bf,
      |         list_reduce(list_transform(generate_series(1, len(w)), i -> w[i] * w[i]),
      |                     (a, x) -> a + x) AS dot_ww,
      |         w
      |  FROM f),
      |r AS (
      |  SELECT vec_id, k, wf, bf, gamma, beta, mu, dot_ww,
      |         list_reduce(list_transform(generate_series(1, len(w)), i -> wf[i] * w[i]),
      |                     (a, x) -> a + x) AS dot_wfw
      |  FROM e)
      |SELECT vec_id,
      |       round(k, 6) AS fold_scale,
      |       round(wf[1], 6) AS w0_folded,
      |       round(bf, 6) AS bias_folded,
      |       round(abs((dot_wfw + bf) - (gamma * (dot_ww - mu) / sqrt(CAST(1.0 AS DOUBLE) + 1e-5) + beta)), 6) AS fold_err
      |FROM r
      |ORDER BY vec_id NULLS FIRST, fold_scale NULLS FIRST, w0_folded NULLS FIRST,
      |         bias_folded NULLS FIRST, fold_err NULLS FIRST""".stripMargin),
    "vector,bnfold")

  /** Higher-order predicate functions over arrays — the last HOF
    * surface beside transform/aggregate/zip_with (qv1..qv9): `filter`
    * element selection, `exists`/`forall` boolean folds. Oracle spells
    * them with list_filter + list_bool_or/and over list_transform.
    * Float elements promote to double exactly on both engines, so the
    * threshold compares are deterministic. */
  val qv13 = Q("qv13_hof_predicates",
    """SELECT vec_id,
      |       CAST(size(filter(embedding, x -> abs(x) > 0.1)) AS INT) AS n_big,
      |       CASE WHEN exists(embedding, x -> x > 0.5) THEN 1 ELSE 0 END AS has_big,
      |       CASE WHEN forall(embedding, x -> x < 1.0) THEN 1 ELSE 0 END AS all_small
      |FROM embeddings
      |ORDER BY vec_id NULLS FIRST, n_big NULLS FIRST, has_big NULLS FIRST,
      |         all_small NULLS FIRST""".stripMargin,
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT vec_id,
      |       CAST(len(list_filter(v, x -> abs(x) > 0.1)) AS INT) AS n_big,
      |       CAST(list_bool_or(list_transform(v, x -> x > 0.5)) AS INT) AS has_big,
      |       CAST(list_bool_and(list_transform(v, x -> x < 1.0)) AS INT) AS all_small
      |FROM e
      |ORDER BY vec_id NULLS FIRST, n_big NULLS FIRST, has_big NULLS FIRST,
      |         all_small NULLS FIRST""".stripMargin),
    "hof,filter,exists,forall")

  /** Nucleus (top-p) filtering (Holtzman '19 — the serving-side
    * sampling-support op): per sequence, softmax the first 8 logits,
    * keep the smallest probability-ordered prefix whose cumulative
    * mass reaches p=0.9 (the crossing row included:
    * `cum − prob < p`). Every window runs over the 8-row per-vec
    * frame produced by the explode — one vec_id-keyed shuffle,
    * bounded frames, nothing global. Accumulation order is pinned by
    * (prob DESC, cls) so both engines add the same doubles in the
    * same order. */
  val qv14 = Q("qv14_nucleus",
    """WITH logits AS (
      |  SELECT vec_id, CAST(pos AS INT) AS cls, CAST(x AS DOUBLE) AS logit
      |  FROM embeddings LATERAL VIEW posexplode(slice(embedding, 1, 8)) t AS pos, x
      |  WHERE vec_id < 100),
      |sm AS (
      |  SELECT vec_id, cls,
      |         exp(logit - max(logit) OVER (PARTITION BY vec_id)) AS ex
      |  FROM logits),
      |p AS (
      |  SELECT vec_id, cls, ex / sum(ex) OVER (PARTITION BY vec_id) AS prob
      |  FROM sm),
      |c AS (
      |  SELECT vec_id, cls, prob,
      |         sum(prob) OVER (PARTITION BY vec_id ORDER BY prob DESC, cls
      |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM p)
      |SELECT vec_id, CAST(count(*) AS BIGINT) AS kept,
      |       round(sum(prob), 4) AS kept_mass,
      |       round(max(prob), 4) AS top_p
      |FROM c
      |WHERE cum - prob < 0.9
      |GROUP BY vec_id
      |ORDER BY vec_id NULLS FIRST, kept NULLS FIRST, kept_mass NULLS FIRST,
      |         top_p NULLS FIRST""".stripMargin,
    Some("""WITH logits AS (
      |  SELECT vec_id,
      |         CAST(generate_subscripts(embedding[1:8], 1) - 1 AS INT) AS cls,
      |         CAST(unnest(embedding[1:8]) AS DOUBLE) AS logit
      |  FROM embeddings WHERE vec_id < 100),
      |sm AS (
      |  SELECT vec_id, cls,
      |         exp(logit - max(logit) OVER (PARTITION BY vec_id)) AS ex
      |  FROM logits),
      |p AS (
      |  SELECT vec_id, cls, ex / sum(ex) OVER (PARTITION BY vec_id) AS prob
      |  FROM sm),
      |c AS (
      |  SELECT vec_id, cls, prob,
      |         sum(prob) OVER (PARTITION BY vec_id ORDER BY prob DESC, cls
      |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM p)
      |SELECT vec_id, CAST(count(*) AS BIGINT) AS kept,
      |       round(sum(prob), 4) AS kept_mass,
      |       round(max(prob), 4) AS top_p
      |FROM c
      |WHERE cum - prob < 0.9
      |GROUP BY vec_id
      |ORDER BY vec_id NULLS FIRST, kept NULLS FIRST, kept_mass NULLS FIRST,
      |         top_p NULLS FIRST""".stripMargin),
    "nucleus,top_p,softmax,window")

  /** Transformer activation family (reference
    * /root/reference/mlir_compiler/transformer_ops.py:43-50,117-133
    * GELU/SiLU; /root/reference/imc22_sdk/imc22_cim.c:282-293
    * sigmoid/tanh). Spark side exercises the registered vec_*
    * library functions; the oracle re-derives each from first
    * principles (tanh-approx GELU, logistic sigmoid). */
  val qv8 = Q("qv8_activations",
    """SELECT vec_id,
      |       round(aggregate(vec_gelu(embedding), CAST(0 AS DOUBLE), (s, x) -> s + x), 4) AS gelu_sum,
      |       round(aggregate(vec_silu(embedding), CAST(0 AS DOUBLE), (s, x) -> s + x), 4) AS silu_sum,
      |       round(aggregate(vec_sigmoid(embedding), CAST(0 AS DOUBLE), (s, x) -> s + x), 4) AS sigmoid_sum,
      |       round(aggregate(vec_tanh(embedding), CAST(0 AS DOUBLE), (s, x) -> s + x), 4) AS tanh_sum,
      |       round(element_at(vec_gelu(embedding), 1), 4) AS gelu0
      |FROM embeddings
      |ORDER BY vec_id NULLS FIRST, gelu_sum NULLS FIRST, silu_sum NULLS FIRST,
      |         sigmoid_sum NULLS FIRST, tanh_sum NULLS FIRST, gelu0 NULLS FIRST""".stripMargin,
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
      |SELECT vec_id,
      |       round(list_sum(list_transform(v, x -> 0.5*x*(2 - 2/(exp(2*(0.7978845608028654*(x+0.044715*x*x*x)))+1)))), 4) AS gelu_sum,
      |       round(list_sum(list_transform(v, x -> x/(1+exp(-x)))), 4) AS silu_sum,
      |       round(list_sum(list_transform(v, x -> 1/(1+exp(-x)))), 4) AS sigmoid_sum,
      |       round(list_sum(list_transform(v, x -> 1 - 2/(exp(2*x)+1))), 4) AS tanh_sum,
      |       round(0.5*v[1]*(2 - 2/(exp(2*(0.7978845608028654*(v[1]+0.044715*v[1]*v[1]*v[1])))+1)), 4) AS gelu0
      |FROM e
      |ORDER BY vec_id NULLS FIRST, gelu_sum NULLS FIRST, silu_sum NULLS FIRST,
      |         sigmoid_sum NULLS FIRST, tanh_sum NULLS FIRST, gelu0 NULLS FIRST""".stripMargin),
    "vector,activation")

  /** LayerNorm / RMSNorm (reference
    * /root/reference/mlir_compiler/transformer_ops.py:54-67,84-97;
    * /root/reference/model_zoo/export_tinyllama.py:5-14): element
    * samples + sum-of-squares invariants per vector. */
  val qv9 = Q("qv9_norms",
    """SELECT vec_id,
      |       round(element_at(vec_layer_norm(embedding), 1), 4) AS ln0,
      |       round(element_at(vec_layer_norm(embedding), 17), 4) AS ln16,
      |       round(aggregate(vec_layer_norm(embedding), CAST(0 AS DOUBLE), (s, x) -> s + x*x), 4) AS ln_sumsq,
      |       round(element_at(vec_rms_norm(embedding), 1), 4) AS rms0,
      |       round(aggregate(vec_rms_norm(embedding), CAST(0 AS DOUBLE), (s, x) -> s + x*x), 4) AS rms_sumsq
      |FROM embeddings
      |ORDER BY vec_id NULLS FIRST, ln0 NULLS FIRST, ln16 NULLS FIRST,
      |         ln_sumsq NULLS FIRST, rms0 NULLS FIRST, rms_sumsq NULLS FIRST""".stripMargin,
    Some("""WITH n AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |         list_sum(embedding::DOUBLE[]) / len(embedding) AS mu,
      |         list_sum(list_transform(embedding::DOUBLE[], x -> x*x)) / len(embedding) AS ms
      |  FROM embeddings),
      |t AS (
      |  SELECT vec_id,
      |         list_transform(e, x -> (x - mu)/sqrt(ms - mu*mu + 1e-5)) AS lnv,
      |         list_transform(e, x -> x/sqrt(ms + 1e-6)) AS rmsv
      |  FROM n)
      |SELECT vec_id,
      |       round(lnv[1], 4) AS ln0,
      |       round(lnv[17], 4) AS ln16,
      |       round(list_sum(list_transform(lnv, x -> x*x)), 4) AS ln_sumsq,
      |       round(rmsv[1], 4) AS rms0,
      |       round(list_sum(list_transform(rmsv, x -> x*x)), 4) AS rms_sumsq
      |FROM t
      |ORDER BY vec_id NULLS FIRST, ln0 NULLS FIRST, ln16 NULLS FIRST,
      |         ln_sumsq NULLS FIRST, rms0 NULLS FIRST, rms_sumsq NULLS FIRST""".stripMargin),
    "vector,norm")

  /** Asymmetric min-max quantization round-trip, int8 and packed
    * int4 (reference /root/reference/tools/quantizer.py:28-72 —
    * scale=(max−min)/levels, zp=int(−min/scale) truncated toward
    * zero, codes clipped to [0,levels]; int4 packed two-per-byte
    * high-nibble-first). The int4 columns also verify
    * pack→unpack==identity relationally. */
  val qv10 = Q("qv10_quant_asym",
    """WITH q AS (
      |  SELECT vec_id,
      |         transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
      |         quant_scale_asym(embedding) AS s8,
      |         quant_zero_point_asym(embedding) AS zp8,
      |         quantize_uint8_asym(embedding) AS q8,
      |         quantize_int4_asym(embedding) AS q4
      |  FROM embeddings)
      |SELECT vec_id,
      |       round(s8, 8) AS scale8,
      |       zp8,
      |       element_at(q8, 1) AS q8_0,
      |       round(aggregate(zip_with(q8, e, (c, x) -> abs((CAST(c AS DOUBLE) - CAST(zp8 AS DOUBLE)) * s8 - x)),
      |                       CAST(0 AS DOUBLE), (s, v) -> greatest(s, v)), 6) AS max_err8,
      |       CAST(aggregate(pack_int4(q4), CAST(0 AS BIGINT), (s, x) -> s + x) AS BIGINT) AS pack_sum,
      |       size(filter(zip_with(unpack_int4(pack_int4(q4)), q4, (a, b) -> a - b), v -> v != 0)) AS n_unpack_bad
      |FROM q
      |ORDER BY vec_id NULLS FIRST, scale8 NULLS FIRST, zp8 NULLS FIRST, q8_0 NULLS FIRST,
      |         max_err8 NULLS FIRST, pack_sum NULLS FIRST, n_unpack_bad NULLS FIRST""".stripMargin,
    Some("""WITH m AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS e,
      |         greatest(list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[]), 1e-12) / 255.0 AS s8,
      |         greatest(list_max(embedding::DOUBLE[]) - list_min(embedding::DOUBLE[]), 1e-12) / 15.0 AS s4,
      |         list_min(embedding::DOUBLE[]) AS mn
      |  FROM embeddings),
      |z AS (
      |  -- zero points mirror the engine's +/-1e9 clamp (a constant
      |  -- vector hits the 1e-12 scale guard; unclamped trunc would
      |  -- overflow the INT cast here while Spark returns 1e9)
      |  SELECT *, CAST(greatest(-1e9, least(1e9, trunc(-mn / s8))) AS INT) AS zp8,
      |            CAST(greatest(-1e9, least(1e9, trunc(-mn / s4))) AS INT) AS zp4
      |  FROM m),
      |q AS (
      |  SELECT vec_id, e, s8, zp8,
      |         list_transform(e, x -> greatest(0, least(255, CAST(round(x / s8 + zp8) AS INT)))) AS q8,
      |         list_transform(e, x -> greatest(0, least(15, CAST(round(x / s4 + zp4) AS INT)))) AS q4
      |  FROM z),
      |p AS (
      |  SELECT vec_id, e, s8, zp8, q8, q4,
      |         list_transform(generate_series(1, len(q4) // 2), i -> q4[2*i-1]*16 + q4[2*i]) AS packed
      |  FROM q)
      |SELECT vec_id,
      |       round(s8, 8) AS scale8,
      |       zp8,
      |       q8[1] AS q8_0,
      |       round(list_max(list_transform(generate_series(1, len(e)), i -> abs((q8[i] - zp8) * s8 - e[i]))), 6) AS max_err8,
      |       CAST(list_sum(packed) AS BIGINT) AS pack_sum,
      |       CAST(len(list_filter(generate_series(1, len(q4)),
      |                 i -> flatten(list_transform(packed, b -> [b // 16, b % 16]))[i] != q4[i])) AS INT) AS n_unpack_bad
      |FROM p
      |ORDER BY vec_id NULLS FIRST, scale8 NULLS FIRST, zp8 NULLS FIRST, q8_0 NULLS FIRST,
      |         max_err8 NULLS FIRST, pack_sum NULLS FIRST, n_unpack_bad NULLS FIRST""".stripMargin),
    "vector,quantize,int4")

  // ---------------------------------------------------------------
  // LLM-data-pipeline queries over documents (Q-L*)
  // ---------------------------------------------------------------

  val ql1 = Q("ql1_text_stats",
    """SELECT lang,
      |       count(*) AS n_docs,
      |       round(avg(n_chars), 4) AS avg_chars,
      |       round(avg(length(text)), 4) AS avg_len,
      |       round(avg(size(split(text, ' '))), 4) AS avg_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang NULLS FIRST, n_docs NULLS FIRST, avg_chars NULLS FIRST,
      |         avg_len NULLS FIRST, avg_tokens NULLS FIRST""".stripMargin,
    Some("""SELECT lang,
      |       count(*) AS n_docs,
      |       round(avg(n_chars), 4) AS avg_chars,
      |       round(avg(length(text)), 4) AS avg_len,
      |       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang NULLS FIRST, n_docs NULLS FIRST, avg_chars NULLS FIRST,
      |         avg_len NULLS FIRST, avg_tokens NULLS FIRST""".stripMargin),
    "text,stats")

  /** Exact dedup by content hash (md5 in both engines). */
  val ql2 = shared("ql2_exact_dedup",
    """SELECT count(*) AS n_docs,
      |       count(DISTINCT md5(text)) AS n_unique,
      |       count(*) - count(DISTINCT md5(text)) AS n_dups
      |FROM documents""".stripMargin,
    "dedup,exact")

  /** Near-dup via 3-gram shingle Jaccard, exact on a small prefix of
    * the corpus (the oracle-checkable spelling; MinHash-LSH is the
    * engine-side 100 TB path, see MinHashDedup). */
  val ql3 = Q("ql3_shingle_jaccard",
    """WITH w AS (SELECT doc_id, split(text, ' ') AS words FROM documents WHERE doc_id < 60),
      |sh AS (SELECT doc_id, explode(array_distinct(
      |         transform(sequence(1, greatest(size(words) - 2, 1)),
      |                   i -> concat_ws(' ', slice(words, i, 3))))) AS shingle
      |       FROM w),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |           GROUP BY a.doc_id, b.doc_id)
      |SELECT da, db, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 4) AS jaccard
      |FROM common
      |JOIN cnt ca ON da = ca.doc_id
      |JOIN cnt cb ON db = cb.doc_id
      |ORDER BY jaccard DESC NULLS LAST, da NULLS FIRST, db NULLS FIRST
      |LIMIT 10""".stripMargin,
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents WHERE doc_id < 60),
      |sh AS (SELECT doc_id, unnest(list_distinct(
      |         list_transform(generate_series(1, greatest(len(words) - 2, 1)),
      |                        i -> array_to_string(words[i:i+2], ' ')))) AS shingle
      |       FROM w),
      |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |common AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      |           FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |           GROUP BY a.doc_id, b.doc_id)
      |SELECT da, db, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 4) AS jaccard
      |FROM common
      |JOIN cnt ca ON da = ca.doc_id
      |JOIN cnt cb ON db = cb.doc_id
      |ORDER BY jaccard DESC NULLS LAST, da NULLS FIRST, db NULLS FIRST
      |LIMIT 10""".stripMargin),
    "dedup,jaccard,shingle")

  /** Document chunking — THE ubiquitous LLM-preprocessing op: fixed
    * token windows (24) with overlap (8, step 16), last chunk ragged.
    * Chunk content verified via md5 of the first chunk; counts and
    * ragged-tail length verified exactly. Pure per-row expressions —
    * shuffle-free, scales linearly with partitions. */
  val ql6 = Q("ql6_chunking",
    """WITH t AS (SELECT doc_id, split(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id, size(toks) AS n,
      |             transform(sequence(1, greatest(size(toks) - 8, 1), 16),
      |                       s -> concat_ws(' ', slice(toks, s, 24))) AS chunks
      |      FROM t)
      |SELECT doc_id,
      |       CAST(n AS INT) AS n_tokens,
      |       CAST(size(chunks) AS INT) AS n_chunks,
      |       md5(element_at(chunks, 1)) AS first_chunk_md5,
      |       CAST(size(split(element_at(chunks, -1), ' ')) AS INT) AS last_chunk_tokens
      |FROM c
      |ORDER BY doc_id NULLS FIRST, n_tokens NULLS FIRST, n_chunks NULLS FIRST,
      |         first_chunk_md5 NULLS FIRST, last_chunk_tokens NULLS FIRST""".stripMargin,
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |c AS (SELECT doc_id, len(toks) AS n,
      |             list_transform(generate_series(1, greatest(len(toks) - 8, 1), 16),
      |                            s -> array_to_string(toks[s:s+23], ' ')) AS chunks
      |      FROM t)
      |SELECT doc_id,
      |       CAST(n AS INT) AS n_tokens,
      |       CAST(len(chunks) AS INT) AS n_chunks,
      |       md5(chunks[1]) AS first_chunk_md5,
      |       CAST(len(string_split(chunks[-1], ' ')) AS INT) AS last_chunk_tokens
      |FROM c
      |ORDER BY doc_id NULLS FIRST, n_tokens NULLS FIRST, n_chunks NULLS FIRST,
      |         first_chunk_md5 NULLS FIRST, last_chunk_tokens NULLS FIRST""".stripMargin),
    "text,chunking,llm")

  /** Deterministic stratified Bernoulli sampling — the reproducible
    * corpus-subset op every training-data pipeline needs. The sample
    * decision is a pure function of content (first md5 hex char <
    * '5' ≈ 31.25%), so the same doc samples identically on any
    * cluster size / partitioning, and the filter pushes down to the
    * scan. At 100 TB this is a single filtered pass, no shuffle
    * before the per-source rollup. */
  val ql7 = shared("ql7_stratified_sample",
    """SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_sampled,
      |       round(avg(n_chars), 4) AS avg_chars,
      |       CAST(sum(n_chars) AS BIGINT) AS tot_chars
      |FROM documents
      |WHERE substr(md5(text), 1, 1) IN ('0','1','2','3','4')
      |GROUP BY source
      |ORDER BY source NULLS FIRST, n_sampled NULLS FIRST, avg_chars NULLS FIRST,
      |         tot_chars NULLS FIRST""".stripMargin,
    "sampling,llm")

  /** Source-mixture resampling (training-data mixing): per-source
    * quotas filled by hash-ranked selection — rank by md5(text) is a
    * deterministic shuffle, so "take the first q" is a reproducible
    * uniform draw. One window per source partition + a broadcast-size
    * quota join; the window is the distributed top-k pattern. The
    * per-source quota is a COLUMN, which window-group-limit can't
    * push — the redundant literal cap `rn <= 11` (= the max quota)
    * restores the pushdown so each source partition stops ranking
    * after 11 rows instead of sorting the whole stratum
    * (plan-asserted in InventorySpec). */
  val ql8 = shared("ql8_mixture_resample",
    """WITH ranked AS (
      |  SELECT doc_id, source, n_chars,
      |         row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
      |  FROM documents),
      |quota AS (
      |  SELECT source, 5 + (CAST(substr(source, 4) AS INT) % 7) AS q
      |  FROM (SELECT DISTINCT source FROM documents) s)
      |SELECT r.source,
      |       CAST(count(*) AS BIGINT) AS n_sel,
      |       CAST(sum(r.doc_id) AS BIGINT) AS id_sum,
      |       round(avg(r.n_chars), 4) AS avg_chars
      |FROM ranked r JOIN quota USING (source)
      |WHERE r.rn <= 11 AND r.rn <= q
      |GROUP BY r.source
      |ORDER BY source NULLS FIRST, n_sel NULLS FIRST, id_sum NULLS FIRST,
      |         avg_chars NULLS FIRST""".stripMargin,
    "sampling,mixture,llm")

  /** Sequence packing into fixed token budgets (context-window
    * packing): pack_id = floor(prefix_sum_before / 512) assigns each
    * doc to the pack its start offset falls in — the standard
    * document-boundary packing with overflow, expressed as one
    * running-sum window per source (a single shuffle on source).
    * Greedy bin-close packing is inherently sequential; this prefix
    * spelling is the distributable form used at scale. */
  val ql9 = Q("ql9_pack_sequences",
    """WITH toks AS (
      |  SELECT doc_id, source, size(split(text, ' ')) AS n_tok FROM documents),
      |packed AS (
      |  SELECT source, doc_id, n_tok,
      |         CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 512) AS INT) AS pack_id
      |  FROM toks),
      |packs AS (
      |  SELECT source, pack_id, count(*) AS n_docs, sum(n_tok) AS tok
      |  FROM packed GROUP BY source, pack_id)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_packs,
      |       CAST(max(n_docs) AS BIGINT) AS max_docs_per_pack,
      |       round(avg(tok / CAST(512 AS DOUBLE)), 4) AS avg_fill,
      |       CAST(sum(tok) AS BIGINT) AS total_tokens
      |FROM packs GROUP BY source
      |ORDER BY source NULLS FIRST, n_packs NULLS FIRST, max_docs_per_pack NULLS FIRST,
      |         avg_fill NULLS FIRST, total_tokens NULLS FIRST""".stripMargin,
    Some("""WITH toks AS (
      |  SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok FROM documents),
      |packed AS (
      |  SELECT source, doc_id, n_tok,
      |         CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 512) AS INT) AS pack_id
      |  FROM toks),
      |packs AS (
      |  SELECT source, pack_id, count(*) AS n_docs, sum(n_tok) AS tok
      |  FROM packed GROUP BY source, pack_id)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_packs,
      |       CAST(max(n_docs) AS BIGINT) AS max_docs_per_pack,
      |       round(avg(tok / 512.0), 4) AS avg_fill,
      |       CAST(sum(tok) AS BIGINT) AS total_tokens
      |FROM packs GROUP BY source
      |ORDER BY source NULLS FIRST, n_packs NULLS FIRST, max_docs_per_pack NULLS FIRST,
      |         avg_fill NULLS FIRST, total_tokens NULLS FIRST""".stripMargin),
    "packing,llm")

  /** PII scrubbing: email + phone redaction via regexp_replace. The
    * contact string is constructed deterministically per doc (the
    * synthetic corpus contains no real PII), so the redaction paths
    * — pattern match, replacement, pass-through of surrounding text —
    * are verified byte-exactly cross-engine. Patterns avoid
    * backslash escapes ([.] for literal dot) for Java-regex/RE2
    * parity; one occurrence per pattern by construction, so DuckDB's
    * replace-first matches Spark's replace-all. Pure per-row
    * projection: shuffle-free at any scale. */
  val ql10 = Q("ql10_pii_scrub",
    """SELECT doc_id,
      |       regexp_replace(regexp_replace(
      |         concat('Contact user', CAST(doc_id AS STRING), '@mail-', source, '.com or call 1-555-',
      |                lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' ref ', upper(lang)),
      |         '[a-z0-9]+@[a-z0-9-]+[.]com', '<EMAIL>'),
      |         '1-555-[0-9]{4}', '<PHONE>') AS scrubbed
      |FROM documents
      |ORDER BY doc_id NULLS FIRST, scrubbed NULLS FIRST""".stripMargin,
    Some("""SELECT doc_id,
      |       regexp_replace(regexp_replace(
      |         concat('Contact user', CAST(doc_id AS VARCHAR), '@mail-', source, '.com or call 1-555-',
      |                lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), ' ref ', upper(lang)),
      |         '[a-z0-9]+@[a-z0-9-]+[.]com', '<EMAIL>'),
      |         '1-555-[0-9]{4}', '<PHONE>') AS scrubbed
      |FROM documents
      |ORDER BY doc_id NULLS FIRST, scrubbed NULLS FIRST""".stripMargin),
    "pii,scrub,llm")

  /** Within-document repetition signals (Gopher-style training-data
    * quality rule): per-doc fraction of bigram occurrences whose bigram
    * appears more than once, plus distinct/total bigram counts. Pure
    * per-doc explode→count — the doc_id groupBy shuffles once on the
    * natural key, so the shape is scale-free (each 100 TB document is
    * its own group; no cross-doc state). Spark spells the n-gram
    * positions with explode(sequence(..)) over the 0-based token
    * array; DuckDB with unnest(generate_series(..)) 1-based. */
  val ql11 = Q("ql11_repetition",
    """WITH toks AS (SELECT doc_id, split(lower(text), ' ') AS w FROM documents),
      |bi AS (
      |  SELECT doc_id, concat_ws(' ', w[i-1], w[i]) AS g
      |  FROM toks LATERAL VIEW explode(sequence(1, size(w) - 1)) AS i
      |  WHERE size(w) >= 2),
      |cnt AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g)
      |SELECT doc_id,
      |       round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 4) AS rep_frac,
      |       CAST(count(*) AS BIGINT) AS uniq_bigrams,
      |       CAST(sum(c) AS BIGINT) AS n_bigrams
      |FROM cnt
      |GROUP BY doc_id
      |ORDER BY doc_id NULLS FIRST, rep_frac NULLS FIRST, uniq_bigrams NULLS FIRST,
      |         n_bigrams NULLS FIRST""".stripMargin,
    Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |bi AS (
      |  SELECT doc_id, w[i] || ' ' || w[i+1] AS g
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
      |  WHERE len(w) >= 2),
      |cnt AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g)
      |SELECT doc_id,
      |       round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 4) AS rep_frac,
      |       CAST(count(*) AS BIGINT) AS uniq_bigrams,
      |       CAST(sum(c) AS BIGINT) AS n_bigrams
      |FROM cnt
      |GROUP BY doc_id
      |ORDER BY doc_id NULLS FIRST, rep_frac NULLS FIRST, uniq_bigrams NULLS FIRST,
      |         n_bigrams NULLS FIRST""".stripMargin),
    "repetition,quality,llm",
    // Measured win: impl/SQL median 0.43, 12/12 pairs at sf0.1; 0.56, 12/12 at 10×.
    // Scale path: the one-pass RepetitionStatsExpr kernel turns the
    // explode→groupBy→groupBy spelling into a shuffle-free projection
    // (same arithmetic: (rep_cnt * 1.0) / n — parity spec in
    // TextFunctionsSpec).
    impl = Some { (spark, dir) =>
      import org.apache.spark.sql.functions._
      graft.Tables.register(spark, dir)
      val st = graft.functions.TextFunctions.repetitionStats(col("text"), 2)
      spark.table("documents")
        .select(col("doc_id"), st.as("st"))
        .filter(col("st").isNotNull)
        .select(col("doc_id"),
          round(col("st.rep_cnt") * lit(1.0) / col("st.n"), 4).as("rep_frac"),
          col("st.uniq").cast("bigint").as("uniq_bigrams"),
          col("st.n").as("n_bigrams"))
        .orderBy(col("doc_id").asc_nulls_first, col("rep_frac").asc_nulls_first,
          col("uniq_bigrams").asc_nulls_first, col("n_bigrams").asc_nulls_first)
    })

  /** Vocabulary extraction: top-10 tokens per language by frequency
    * with a total tie-break — the tokenizer-training / vocab-coverage
    * query. Explode amplifies rows, but map-side partial aggregation
    * collapses (lang, tok) before the shuffle and the window-group
    * limit prunes each lang to k rows before the final sort. */
  val ql12 = Q("ql12_vocab_topk",
    """WITH toks AS (
      |  SELECT lang, tok FROM documents
      |  LATERAL VIEW explode(split(lower(text), ' ')) AS tok),
      |tf AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
      |rk AS (SELECT lang, tok, c,
      |              row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rn
      |       FROM tf)
      |SELECT lang, tok, CAST(c AS BIGINT) AS c, CAST(rn AS INT) AS rn
      |FROM rk WHERE rn <= 10
      |ORDER BY lang NULLS FIRST, rn NULLS FIRST, tok NULLS FIRST, c NULLS FIRST""".stripMargin,
    Some("""WITH toks AS (
      |  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |tf AS (SELECT lang, tok, count(*) AS c FROM toks GROUP BY lang, tok),
      |rk AS (SELECT lang, tok, c,
      |              row_number() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rn
      |       FROM tf)
      |SELECT lang, tok, CAST(c AS BIGINT) AS c, CAST(rn AS INT) AS rn
      |FROM rk WHERE rn <= 10
      |ORDER BY lang NULLS FIRST, rn NULLS FIRST, tok NULLS FIRST, c NULLS FIRST""".stripMargin),
    "vocab,topk,llm")

  /** Benchmark decontamination: docs sharing any word trigram with the
    * probe set (docs 0-4 stand in for a benchmark corpus), with the
    * shared-shingle count — the training-data contamination scan. At
    * scale this is a shingle semi-join: ONE shuffle on the shingle key
    * (or a broadcast of the probe shingles — benchmark sets are tiny),
    * never a doc×doc comparison. */
  val ql13 = Q("ql13_decontaminate",
    """WITH toks AS (SELECT doc_id, split(lower(text), ' ') AS w FROM documents),
      |tri AS (
      |  SELECT doc_id, concat_ws(' ', w[i-1], w[i], w[i+1]) AS g
      |  FROM toks LATERAL VIEW explode(sequence(1, size(w) - 2)) AS i
      |  WHERE size(w) >= 3),
      |probe AS (SELECT DISTINCT g FROM tri WHERE doc_id < 5),
      |hits AS (
      |  SELECT t.doc_id, count(DISTINCT t.g) AS shared
      |  FROM tri t JOIN probe p ON t.g = p.g
      |  WHERE t.doc_id >= 5 GROUP BY t.doc_id)
      |SELECT doc_id, CAST(shared AS BIGINT) AS shared FROM hits
      |ORDER BY doc_id NULLS FIRST, shared NULLS FIRST""".stripMargin,
    Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |tri AS (
      |  SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
      |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 2)) AS i)
      |  WHERE len(w) >= 3),
      |probe AS (SELECT DISTINCT g FROM tri WHERE doc_id < 5),
      |hits AS (
      |  SELECT t.doc_id, count(DISTINCT t.g) AS shared
      |  FROM tri t JOIN probe p ON t.g = p.g
      |  WHERE t.doc_id >= 5 GROUP BY t.doc_id)
      |SELECT doc_id, CAST(shared AS BIGINT) AS shared FROM hits
      |ORDER BY doc_id NULLS FIRST, shared NULLS FIRST""".stripMargin),
    "decontaminate,shingle,llm")

  /** Text↔vector similarity search: documents joined to embeddings,
    * ranked by cosine to the probe vector (unit-norm vectors → dot). */
  val ql4 = Q("ql4_sim_search",
    """WITH p AS (SELECT transform(embedding, x -> CAST(x AS DOUBLE)) AS pe
      |           FROM embeddings WHERE vec_id = 0)
      |SELECT d.doc_id, d.lang,
      |       round(aggregate(zip_with(e.embedding, p.pe, (x, y) -> CAST(x AS DOUBLE) * y),
      |                       CAST(0 AS DOUBLE), (s, v) -> s + v), 4) AS cos_score
      |FROM documents d
      |JOIN embeddings e ON d.doc_id = e.vec_id
      |CROSS JOIN p
      |WHERE d.doc_id <> 0
      |ORDER BY cos_score DESC NULLS LAST, doc_id NULLS FIRST, lang NULLS FIRST
      |LIMIT 15""".stripMargin,
    Some("""WITH p AS (SELECT embedding::DOUBLE[] AS pe FROM embeddings WHERE vec_id = 0)
      |SELECT d.doc_id, d.lang,
      |       round(list_dot_product(e.embedding::DOUBLE[], p.pe), 4) AS cos_score
      |FROM documents d
      |JOIN embeddings e ON d.doc_id = e.vec_id
      |CROSS JOIN p
      |WHERE d.doc_id <> 0
      |ORDER BY cos_score DESC NULLS LAST, doc_id NULLS FIRST, lang NULLS FIRST
      |LIMIT 15""".stripMargin),
    "similarity,search")

  /** Lexicon sentiment scoring per source (the retrieved EDBT'16
    * "Large Scale Sentiment Analysis with Spark" analog, PAPERS.md):
    * signed-lexicon hit balance normalized by document length. The
    * declared Spark SQL is the HOF spelling; the SHIPPED impl
    * (impl==SQL asserted) scores with the compiled term_counts kernel
    * — one map probe per token, shuffle-free until the per-source
    * report, the same promotion LangIdExpr made. */
  val ql14 = Q("ql14_sentiment",
    """SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       round(avg((size(filter(split(lower(text), '\\s+'), t -> t IN ('fast','big'))) -
      |                  size(filter(split(lower(text), '\\s+'), t -> t IN ('slow','small')))) /
      |                 greatest(size(split(lower(text), '\\s+')), 1)), 4) AS avg_sentiment
      |FROM documents
      |GROUP BY source
      |ORDER BY source NULLS FIRST, n_docs NULLS FIRST, avg_sentiment NULLS FIRST""".stripMargin,
    Some("""SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       round(avg((len(list_filter(string_split_regex(lower(text), '\s+'), t -> t IN ('fast','big'))) -
      |                  len(list_filter(string_split_regex(lower(text), '\s+'), t -> t IN ('slow','small')))) /
      |                 greatest(len(string_split_regex(lower(text), '\s+')), 1)), 4) AS avg_sentiment
      |FROM documents
      |GROUP BY source
      |ORDER BY source NULLS FIRST, n_docs NULLS FIRST, avg_sentiment NULLS FIRST""".stripMargin),
    "sentiment,lexicon,text",
    // Measured win: impl/SQL median 0.50, 12/12 pairs at sf0.1; 0.36, 12/12 at 10×.
    impl = Some { (spark, dir) =>
      import org.apache.spark.sql.functions._
      graft.Tables.register(spark, dir)
      val terms = Seq("fast", "big", "slow", "small") // +,+,-,-
      val tc = org.apache.spark.sql.graftshim.ColumnBridge.column(
        graft.expressions.TermCountsExpr(
          org.apache.spark.sql.graftshim.ColumnBridge.expr(col("text")), terms))
      spark.table("documents")
        .select(col("source"), tc.as("tc"))
        .select(col("source"),
          ((element_at(col("tc.counts"), 1) + element_at(col("tc.counts"), 2)
            - element_at(col("tc.counts"), 3) - element_at(col("tc.counts"), 4))
            / greatest(col("tc.n_tokens"), lit(1))).as("s"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), round(avg(col("s")), 4).as("avg_sentiment"))
        .orderBy(asc_nulls_first("source"), asc_nulls_first("n_docs"),
          asc_nulls_first("avg_sentiment"))
    })

  val ql5 = shared("ql5_source_rollup",
    """SELECT source, lang,
      |       CAST(grouping(source) AS INT) AS g_source,
      |       CAST(grouping(lang) AS INT) AS g_lang,
      |       count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY ROLLUP(source, lang)
      |ORDER BY g_source NULLS FIRST, g_lang NULLS FIRST, source NULLS FIRST,
      |         lang NULLS FIRST, n_docs NULLS FIRST, total_chars NULLS FIRST""".stripMargin,
    "rollup,text")

  /** Set-similarity join with LOSSLESS prefix filtering (AllPairs /
    * SSJoin): all document pairs with token-set Jaccard ≥ 0.9. The
    * engine spelling orders each token set by ascending global
    * document frequency and joins only on the first
    * |s| − ⌈t·|s|⌉ + 1 tokens — if J(A,B) ≥ t, the smallest shared
    * token under that order provably lands in both prefixes, so the
    * candidate set is exact (no recall loss) while the join touches
    * only the rarest tokens. The oracle is the plain quadratic
    * spelling — identical output proves the filter lossless. At
    * 100 TB: one shuffle on the prefix token (rare by construction →
    * small buckets), intersection counted only for candidates; the
    * probabilistic siblings are eng_minhash_lsh_dedup / ql3. */
  val ql15 = Q("ql15_setsim_join",
    """WITH w AS (SELECT doc_id, array_distinct(split(text, ' ')) AS toks
      |           FROM documents WHERE doc_id < 150),
      |tok AS (SELECT doc_id, explode(toks) AS token FROM w),
      |cnt AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
      |freq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
      |ord AS (SELECT t.doc_id, t.token,
      |               row_number() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.token) AS rnk
      |        FROM tok t JOIN freq f ON t.token = f.token),
      |pref AS (SELECT o.doc_id, o.token
      |         FROM ord o JOIN cnt c ON o.doc_id = c.doc_id
      |         WHERE o.rnk <= c.n - CAST(ceil(0.9 * c.n) AS INT) + 1),
      |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |         FROM pref a JOIN pref b ON a.token = b.token AND a.doc_id < b.doc_id),
      |common AS (SELECT cd.da, cd.db, count(*) AS c
      |           FROM cand cd
      |           JOIN tok a ON a.doc_id = cd.da
      |           JOIN tok b ON b.doc_id = cd.db AND b.token = a.token
      |           GROUP BY cd.da, cd.db)
      |SELECT da, db, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 4) AS jaccard
      |FROM common JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
      |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.9
      |ORDER BY da NULLS FIRST, db NULLS FIRST, jaccard NULLS FIRST""".stripMargin,
    Some("""WITH w AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      |           FROM documents WHERE doc_id < 150),
      |tok AS (SELECT doc_id, unnest(toks) AS token FROM w),
      |cnt AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
      |common AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      |           FROM tok a JOIN tok b ON a.token = b.token AND a.doc_id < b.doc_id
      |           GROUP BY a.doc_id, b.doc_id)
      |SELECT da, db, round(CAST(c AS DOUBLE) / (ca.n + cb.n - c), 4) AS jaccard
      |FROM common JOIN cnt ca ON da = ca.doc_id JOIN cnt cb ON db = cb.doc_id
      |WHERE CAST(c AS DOUBLE) / (ca.n + cb.n - c) >= 0.9
      |ORDER BY da NULLS FIRST, db NULLS FIRST, jaccard NULLS FIRST""".stripMargin),
    "dedup,setsim,prefix_filter,llm")

  /** Weighted sampling without replacement (A-ES / exponential-keys):
    * 5 docs per source with probability ∝ n_chars, fully
    * reproducible — the uniform draw is a pure function of content
    * (4 md5 hex digits → u ∈ (0,1)), the sampling key is u^(1/w), and
    * top-5-per-source by key is the distributed window-top-k pattern.
    * The same doc samples identically on any cluster size or
    * partitioning — the property uniform `rand()` sampling loses.
    * Cross-engine fp note: power() may differ in the last ulp between
    * engines, but selection flips need two keys within ~1 ulp, which
    * the 16-bit u grid + doc_id tiebreak rules out except for exact
    * (u, w) ties, where the tiebreak decides identically. */
  val ql16 = shared("ql16_weighted_sample",
    """WITH u AS (
      |  SELECT doc_id, source, n_chars,
      |         ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1) * 4096
      |        + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1) * 256
      |        + (instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1) * 16
      |        + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1) + 1) / 65537.0 AS uv
      |  FROM documents),
      |k AS (SELECT doc_id, source, n_chars,
      |             power(uv, 1.0 / CAST(n_chars AS DOUBLE)) AS skey
      |      FROM u),
      |r AS (SELECT doc_id, source, n_chars,
      |             row_number() OVER (PARTITION BY source ORDER BY skey DESC, doc_id) AS rn
      |      FROM k)
      |SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars
      |FROM r WHERE rn <= 5
      |ORDER BY source NULLS FIRST, doc_id NULLS FIRST, n_chars NULLS FIRST""".stripMargin,
    "sampling,weighted,llm")

  /** Segment-level dedup (CCNet-style line dedup on 16-word segments
    * — the corpus carries no newlines, so fixed word windows stand in
    * for lines): hash every segment, count occurrences CORPUS-WIDE,
    * and report per-source duplication (dup segments appear in >1
    * place — boilerplate detection). Scale shape: one groupBy on the
    * segment hash (shuffle keyed by hash — uniform by construction)
    * plus a hash-keyed join back; never pairwise comparison. The
    * per-source rollup is the pipeline's "how much boilerplate does
    * each source carry" report. */
  val ql17 = Q("ql17_segment_dedup",
    """WITH t AS (SELECT doc_id, source, split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, source,
      |             explode(transform(sequence(1, size(toks), 16),
      |                               i -> concat_ws(' ', slice(toks, i, 16)))) AS seg
      |      FROM t),
      |h AS (SELECT doc_id, source, md5(seg) AS hs FROM s),
      |g AS (SELECT hs, count(*) AS n FROM h GROUP BY hs),
      |j AS (SELECT h.doc_id, h.source, g.n FROM h JOIN g ON h.hs = g.hs)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_segs,
      |       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
      |       round(CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_ratio,
      |       CAST(count(DISTINCT CASE WHEN n > 1 THEN doc_id END) AS BIGINT) AS n_docs_with_dup
      |FROM j GROUP BY source
      |ORDER BY source NULLS FIRST, n_segs NULLS FIRST, n_dup_segs NULLS FIRST,
      |         dup_ratio NULLS FIRST, n_docs_with_dup NULLS FIRST""".stripMargin,
    Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, source, array_to_string(toks[i:i+15], ' ') AS seg
      |      FROM t, unnest(generate_series(1, len(toks), 16)) AS u(i)),
      |h AS (SELECT doc_id, source, md5(seg) AS hs FROM s),
      |g AS (SELECT hs, count(*) AS n FROM h GROUP BY hs),
      |j AS (SELECT h.doc_id, h.source, g.n FROM h JOIN g ON h.hs = g.hs)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_segs,
      |       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
      |       round(CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS dup_ratio,
      |       CAST(count(DISTINCT CASE WHEN n > 1 THEN doc_id END) AS BIGINT) AS n_docs_with_dup
      |FROM j GROUP BY source
      |ORDER BY source NULLS FIRST, n_segs NULLS FIRST, n_dup_segs NULLS FIRST,
      |         dup_ratio NULLS FIRST, n_docs_with_dup NULLS FIRST""".stripMargin),
    "dedup,segment,ccnet,llm")

  /** Span-level duplicated-text metric (Lee et al. '22 "Deduplicating
    * Training Data Makes Language Models Better" — substring-level
    * dedup, approximated at 16-token-shingle granularity): every
    * stride-1 shingle is hashed, corpus-duplicated shingles mark
    * token spans, and per doc the UNION of overlapping spans (one
    * ordered window pass: running max span-end, clip each span at
    * max(own start, previous furthest end)) yields the fraction of
    * tokens covered by text that exists elsewhere. The planted
    * near-copies in the fixture surface at dup_frac ≈ 0.98.
    * Scale shape: ONE shuffle of the exploded shingles on the hash
    * (a window count — the join-back spelling would recompute the
    * explode and shuffle twice) + one per-doc window — no pairwise
    * comparison anywhere.
    * Determinism: the report is a ratio of INTEGER sums (covered
    * tokens / total tokens), never an avg over per-doc doubles. */
  val ql18 = Q("ql18_dup_spans",
    """WITH t AS (SELECT doc_id, source, split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, source, size(toks) AS n, i,
      |              md5(concat_ws(' ', slice(toks, i, 16))) AS hs
      |       FROM t LATERAL VIEW explode(sequence(1, greatest(size(toks) - 15, 1), 1)) u AS i),
      |d AS (SELECT doc_id, source, n, i, least(i + 16, n + 1) AS span_end
      |      FROM (SELECT doc_id, source, n, i,
      |                   count(*) OVER (PARTITION BY hs) AS c FROM sh) w
      |      WHERE c > 1),
      |m AS (SELECT doc_id, source, n, i, span_end,
      |             max(span_end) OVER (PARTITION BY doc_id ORDER BY i
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM d),
      |cov AS (SELECT doc_id, source, n,
      |               sum(greatest(0, span_end - greatest(i, coalesce(prev_end, 1)))) AS covered
      |        FROM m GROUP BY doc_id, source, n)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs_with_dup,
      |       round(CAST(sum(covered) AS DOUBLE) / sum(n), 4) AS dup_token_frac,
      |       CAST(sum(CASE WHEN covered * 2 > n THEN 1 ELSE 0 END) AS BIGINT) AS n_mostly_dup
      |FROM cov GROUP BY source
      |ORDER BY source NULLS FIRST, n_docs_with_dup NULLS FIRST,
      |         dup_token_frac NULLS FIRST, n_mostly_dup NULLS FIRST""".stripMargin,
    Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |sh AS (SELECT doc_id, source, len(toks) AS n, i,
      |              md5(array_to_string(toks[i:i+15], ' ')) AS hs
      |       FROM t, unnest(generate_series(1, greatest(len(toks) - 15, 1), 1)) AS u(i)),
      |d AS (SELECT doc_id, source, n, i, least(i + 16, n + 1) AS span_end
      |      FROM (SELECT doc_id, source, n, i,
      |                   count(*) OVER (PARTITION BY hs) AS c FROM sh) w
      |      WHERE c > 1),
      |m AS (SELECT doc_id, source, n, i, span_end,
      |             max(span_end) OVER (PARTITION BY doc_id ORDER BY i
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
      |      FROM d),
      |cov AS (SELECT doc_id, source, n,
      |               sum(greatest(0, span_end - greatest(i, coalesce(prev_end, 1)))) AS covered
      |        FROM m GROUP BY doc_id, source, n)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_docs_with_dup,
      |       round(CAST(sum(covered) AS DOUBLE) / sum(n), 4) AS dup_token_frac,
      |       CAST(sum(CASE WHEN covered * 2 > n THEN 1 ELSE 0 END) AS BIGINT) AS n_mostly_dup
      |FROM cov GROUP BY source
      |ORDER BY source NULLS FIRST, n_docs_with_dup NULLS FIRST,
      |         dup_token_frac NULLS FIRST, n_mostly_dup NULLS FIRST""".stripMargin),
    "dedup,spans,substring,llm")
  // Measured note (r15): rewriting ql18's `count(*) OVER (PARTITION
  // BY hs)` as groupBy(hs) + semi-join back (removing the hash-stream
  // sort) was A/B'd at 1.9-2.3 s vs 1.1-1.6 s for the window spelling
  // (min-of-4, local[32] sf0.1): the grouped spelling re-runs the
  // tokenize+md5 explode for the join's probe side, which costs more
  // than the sort it saves — the window spelling stays.

  /** Learned quality-filter APPLY (the fasttext-style classifier
    * every training-data pipeline runs after the heuristic pass,
    * ql1/eng_quality_score): featurize each document (stopword
    * ratio, type-token ratio, log length, max-token-frequency
    * repetition signal), apply a fixed logistic-regression model,
    * threshold at p=0.5. Scale shape: ONE shuffle (the (doc,token)
    * count), then two linear per-doc aggregates — model apply is a
    * projection, so the whole thing is shuffle-bounded by tokenize,
    * never model-bounded; weights would broadcast if non-literal.
    * The linear score z is rounded to 4dp BEFORE the sigmoid so both
    * engines exponentiate the identical input. */
  val ql19 = Q("ql19_quality_lr",
    """WITH toks AS (
      |  SELECT doc_id, tok FROM documents
      |  LATERAL VIEW explode(split(lower(text), ' ')) AS tok),
      |tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
      |f AS (SELECT doc_id, sum(c) AS n, count(*) AS dn, max(c) AS mx,
      |             sum(CASE WHEN tok IN ('a', 'the') THEN c ELSE 0 END) AS st
      |      FROM tc GROUP BY doc_id),
      |z AS (SELECT doc_id,
      |             round(-3.0 + 6.0 * st / n + 2.5 * dn / n
      |                   + 0.35 * ln(1 + n) - 5.0 * mx / n, 4) AS z
      |      FROM f)
      |SELECT doc_id, round(1 / (1 + exp(-z)), 4) AS quality,
      |       CAST(CASE WHEN 1 / (1 + exp(-z)) >= 0.5 THEN 1 ELSE 0 END AS INT) AS keep
      |FROM z
      |ORDER BY doc_id NULLS FIRST, quality NULLS FIRST, keep NULLS FIRST""".stripMargin,
    Some("""WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |tc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok),
      |f AS (SELECT doc_id, sum(c) AS n, count(*) AS dn, max(c) AS mx,
      |             sum(CASE WHEN tok IN ('a', 'the') THEN c ELSE 0 END) AS st
      |      FROM tc GROUP BY doc_id),
      |z AS (SELECT doc_id,
      |             round(-3.0 + 6.0 * st / n + 2.5 * dn / n
      |                   + 0.35 * ln(1 + n) - 5.0 * mx / n, 4) AS z
      |      FROM f)
      |SELECT doc_id, round(1 / (1 + exp(-z)), 4) AS quality,
      |       CAST(CASE WHEN 1 / (1 + exp(-z)) >= 0.5 THEN 1 ELSE 0 END AS INT) AS keep
      |FROM z
      |ORDER BY doc_id NULLS FIRST, quality NULLS FIRST, keep NULLS FIRST""".stripMargin),
    "quality,classifier,model-apply,llm")

  /** Collocation mining via pointwise mutual information over word
    * bigrams — the corpus-statistics op behind tokenizer-vocab and
    * phrase-table construction. Scale shape: unigram and bigram
    * counts are each ONE grouped aggregate with map-side partials
    * (vocab-sized results, KBs), the totals are 1-row broadcast
    * probes, and the final scoring joins bigrams to the two unigram
    * frames on the token key — nothing is ever doc×doc or
    * token×token. PMI is rounded before the ORDER BY so the top-20
    * cut is identical cross-engine. */
  val ql20 = Q("ql20_collocations",
    """WITH toks AS (SELECT doc_id, split(lower(text), ' ') AS w FROM documents),
      |uni AS (SELECT t AS tok, count(*) AS c
      |        FROM toks LATERAL VIEW explode(w) AS t GROUP BY t),
      |bi AS (SELECT w[i-1] AS t1, w[i] AS t2, count(*) AS c
      |       FROM toks LATERAL VIEW explode(sequence(1, size(w) - 1)) AS i
      |       WHERE size(w) >= 2
      |       GROUP BY w[i-1], w[i]),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS nu FROM uni),
      |tb AS (SELECT CAST(sum(c) AS DOUBLE) AS nb FROM bi),
      |p AS (SELECT b.t1, b.t2, b.c,
      |             round(ln((CAST(b.c AS DOUBLE) / nb)
      |                      / ((u1.c / nu) * (u2.c / nu))), 4) AS pmi
      |      FROM bi b JOIN uni u1 ON b.t1 = u1.tok JOIN uni u2 ON b.t2 = u2.tok
      |      CROSS JOIN tot CROSS JOIN tb
      |      WHERE b.c >= 5)
      |SELECT t1, t2, CAST(c AS BIGINT) AS c, pmi FROM p
      |ORDER BY pmi DESC NULLS LAST, t1 NULLS FIRST, t2 NULLS FIRST, c NULLS FIRST
      |LIMIT 20""".stripMargin,
    Some("""WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |uni AS (SELECT unnest(w) AS tok FROM toks),
      |unic AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
      |bi AS (SELECT w[i] AS t1, w[i+1] AS t2
      |       FROM toks, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i)
      |       WHERE len(w) >= 2),
      |bic AS (SELECT t1, t2, count(*) AS c FROM bi GROUP BY t1, t2),
      |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS nu FROM unic),
      |tb AS (SELECT CAST(sum(c) AS DOUBLE) AS nb FROM bic),
      |p AS (SELECT b.t1, b.t2, b.c,
      |             round(ln((CAST(b.c AS DOUBLE) / nb)
      |                      / ((u1.c / nu) * (u2.c / nu))), 4) AS pmi
      |      FROM bic b JOIN unic u1 ON b.t1 = u1.tok JOIN unic u2 ON b.t2 = u2.tok
      |      CROSS JOIN tot CROSS JOIN tb
      |      WHERE b.c >= 5)
      |SELECT t1, t2, CAST(c AS BIGINT) AS c, pmi FROM p
      |ORDER BY pmi DESC NULLS LAST, t1 NULLS FIRST, t2 NULLS FIRST, c NULLS FIRST
      |LIMIT 20""".stripMargin),
    "collocations,pmi,ngram,llm")

  /** TF-IDF relevance ranking — the oracle-checked companion of the
    * engine-side BM25 (eng_bm25_topk, operators/Bm25.scala): smooth
    * idf = ln((N+1)/(df+1)) + 1, tf normalized by doc length, summed
    * over a literal 3-term query. Scale shape: the term list prunes
    * the (doc,token) aggregate at the scan (an IN filter over the
    * exploded tokens), df and N are tiny broadcast frames, and the
    * score is one per-doc sum — ONE shuffle on doc_id. */
  val ql21 = Q("ql21_tfidf",
    """WITH toks AS (
      |  SELECT doc_id, tok FROM documents
      |  LATERAL VIEW explode(split(lower(text), ' ')) AS tok),
      |dlen AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
      |tf AS (SELECT doc_id, tok, count(*) AS c FROM toks
      |       WHERE tok IN ('scan', 'join', 'vector') GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks
      |       WHERE tok IN ('scan', 'join', 'vector') GROUP BY tok),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      |s AS (SELECT tf.doc_id,
      |             round(sum((tf.c / dl) * (ln((nd + 1) / (df.df + 1)) + 1)), 4) AS score
      |      FROM tf JOIN dlen ON tf.doc_id = dlen.doc_id
      |      JOIN df ON tf.tok = df.tok
      |      CROSS JOIN n
      |      GROUP BY tf.doc_id)
      |SELECT doc_id, score FROM s
      |ORDER BY score DESC NULLS LAST, doc_id NULLS FIRST
      |LIMIT 15""".stripMargin,
    Some("""WITH toks AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
      |dlen AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl FROM toks GROUP BY doc_id),
      |tf AS (SELECT doc_id, tok, count(*) AS c FROM toks
      |       WHERE tok IN ('scan', 'join', 'vector') GROUP BY doc_id, tok),
      |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks
      |       WHERE tok IN ('scan', 'join', 'vector') GROUP BY tok),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS nd FROM documents),
      |s AS (SELECT tf.doc_id,
      |             round(sum((tf.c / dl) * (ln((nd + 1) / (df.df + 1)) + 1)), 4) AS score
      |      FROM tf JOIN dlen ON tf.doc_id = dlen.doc_id
      |      JOIN df ON tf.tok = df.tok
      |      CROSS JOIN n
      |      GROUP BY tf.doc_id)
      |SELECT doc_id, score FROM s
      |ORDER BY score DESC NULLS LAST, doc_id NULLS FIRST
      |LIMIT 15""".stripMargin),
    "tfidf,ranking,retrieval,llm")

  /** Deterministic content-keyed shard assignment + balance report —
    * the training-data "global shuffle" writer's routing step: shard
    * = content-hash % nShards, so the same document lands in the same
    * shard on ANY cluster size, partitioning, or re-run (unlike
    * rand()-based shuffles), and re-ingested duplicates collide into
    * one shard where the local dedup pass catches them. Four md5 hex
    * digits are SUMMED before % 16 (ql16's positional 16-bit fold
    * collapses to its last digit under % 16 — the multiplied terms
    * are all multiples of 16); the sum keeps every digit
    * contributing. Scale shape: one projection + one 16-group
    * aggregate — the report is O(nShards) rows; the real writer is
    * `partitionBy(shard)` on this column. */
  val ql22 = shared("ql22_shard_assign",
    """WITH h AS (
      |  SELECT doc_id, source, n_chars,
      |         ((instr('0123456789abcdef', substr(md5(text), 1, 1)) - 1)
      |        + (instr('0123456789abcdef', substr(md5(text), 2, 1)) - 1)
      |        + (instr('0123456789abcdef', substr(md5(text), 3, 1)) - 1)
      |        + (instr('0123456789abcdef', substr(md5(text), 4, 1)) - 1)) % 16 AS shard
      |  FROM documents)
      |SELECT CAST(shard AS INT) AS shard,
      |       CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |       CAST(count(DISTINCT source) AS BIGINT) AS n_sources
      |FROM h
      |GROUP BY shard
      |ORDER BY shard NULLS FIRST, n_docs NULLS FIRST, total_chars NULLS FIRST,
      |         n_sources NULLS FIRST""".stripMargin,
    "sharding,shuffle,llm")

  /** Train/validation n-gram contamination coverage (the memorization
    * -risk metric beside ql13's doc-level decontamination): for every
    * held-out doc (doc_id % 5 = 0), the fraction of its 8-word
    * shingles that appear anywhere in the training split — reported
    * per source with a >= 50%-covered contamination count. Scale
    * shape: both sides explode to (shingle-hash) streams; the train
    * side is a DISTINCT hash set and the probe is ONE hash-keyed left
    * join (uniform by construction, never doc×doc) followed by two
    * linear aggregates. This is exactly how eval-set leakage is
    * audited over a 100 TB corpus. */
  val ql23 = Q("ql23_ngram_coverage",
    """WITH t AS (SELECT doc_id, source, split(text, ' ') AS toks FROM documents),
      |v AS (SELECT doc_id, source,
      |             md5(concat_ws(' ', slice(toks, i, 8))) AS hs
      |      FROM t LATERAL VIEW explode(sequence(1, greatest(size(toks) - 7, 1), 1)) u AS i
      |      WHERE doc_id % 5 = 0),
      |tr AS (SELECT DISTINCT md5(concat_ws(' ', slice(toks, i, 8))) AS hs
      |       FROM t LATERAL VIEW explode(sequence(1, greatest(size(toks) - 7, 1), 1)) u AS i
      |       WHERE doc_id % 5 <> 0),
      |j AS (SELECT v.doc_id, v.source,
      |             CASE WHEN tr.hs IS NOT NULL THEN 1 ELSE 0 END AS seen
      |      FROM v LEFT JOIN tr ON v.hs = tr.hs),
      |d AS (SELECT doc_id, source, count(*) AS n_sh, sum(seen) AS n_seen
      |      FROM j GROUP BY doc_id, source)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_val_docs,
      |       round(avg(CAST(n_seen AS DOUBLE) / n_sh), 4) AS avg_coverage,
      |       CAST(sum(CASE WHEN n_seen * 2 >= n_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
      |FROM d GROUP BY source
      |ORDER BY source NULLS FIRST, n_val_docs NULLS FIRST, avg_coverage NULLS FIRST,
      |         n_contaminated NULLS FIRST""".stripMargin,
    Some("""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
      |v AS (SELECT doc_id, source,
      |             md5(array_to_string(toks[i:i+7], ' ')) AS hs
      |      FROM t, unnest(generate_series(1, greatest(len(toks) - 7, 1), 1)) AS u(i)
      |      WHERE doc_id % 5 = 0),
      |tr AS (SELECT DISTINCT md5(array_to_string(toks[i:i+7], ' ')) AS hs
      |       FROM t, unnest(generate_series(1, greatest(len(toks) - 7, 1), 1)) AS u(i)
      |       WHERE doc_id % 5 <> 0),
      |j AS (SELECT v.doc_id, v.source,
      |             CASE WHEN tr.hs IS NOT NULL THEN 1 ELSE 0 END AS seen
      |      FROM v LEFT JOIN tr ON v.hs = tr.hs),
      |d AS (SELECT doc_id, source, count(*) AS n_sh, sum(seen) AS n_seen
      |      FROM j GROUP BY doc_id, source)
      |SELECT source,
      |       CAST(count(*) AS BIGINT) AS n_val_docs,
      |       round(avg(CAST(n_seen AS DOUBLE) / n_sh), 4) AS avg_coverage,
      |       CAST(sum(CASE WHEN n_seen * 2 >= n_sh THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
      |FROM d GROUP BY source
      |ORDER BY source NULLS FIRST, n_val_docs NULLS FIRST, avg_coverage NULLS FIRST,
      |         n_contaminated NULLS FIRST""".stripMargin),
    // r16 optimization audit (measured, kept on this spelling): the
    // executed plan is already scale-shaped — tr's DISTINCT partial-
    // aggregates map-side BEFORE its one exchange, the probe join is
    // chosen adaptively (BroadcastHashJoin of the distinct set at
    // bench SFs; the v side never exchanges), and the remaining cost
    // at sf0.1 is the ~5-stage AQE floor + the explode/md5 CPU, not
    // bytes. Two rewrites were A/B'd and REJECTED on measurement:
    // (a) unhex(md5(..)) 16-byte binary join keys (halves key bytes,
    // provably equality-identical): min-of-4 warm 1.11 s vs 0.97 s —
    // slower, the query is stage-floor- not byte-bound locally;
    // (b) pre-aggregating v per (doc, shingle): raw→distinct is only
    // 188328→181758 shingles (3.5% duplicates), so the extra full
    // exchange + aggregate buys a 3.5% join-input trim — strictly
    // worse at every scale.
    "decontamination,coverage,llm")

  // ---------------------------------------------------------------
  // Event-stream queries (Q-S*) — batch expressions of the
  // reference's streaming semantics (ref ops #31-37). Event-time
  // arithmetic uses integer microseconds on both engines.
  // ---------------------------------------------------------------

  val qs1 = Q("qs1_tumbling_window",
    """SELECT bucket, event_type, count(*) AS cnt, round(sum(value), 4) AS sum_v
      |FROM (SELECT unix_micros(ts) DIV 300000000 AS bucket, event_type, value
      |      FROM events) t
      |GROUP BY bucket, event_type
      |ORDER BY bucket NULLS FIRST, event_type NULLS FIRST, cnt NULLS FIRST,
      |         sum_v NULLS FIRST""".stripMargin,
    Some("""SELECT bucket, event_type, count(*) AS cnt, round(sum(value), 4) AS sum_v
      |FROM (SELECT epoch_us(ts) // 300000000 AS bucket, event_type, value
      |      FROM events) t
      |GROUP BY bucket, event_type
      |ORDER BY bucket NULLS FIRST, event_type NULLS FIRST, cnt NULLS FIRST,
      |         sum_v NULLS FIRST""".stripMargin),
    "window,tumbling")

  /** Fixed-depth EMA approximation (reference IIR low-pass,
    * /root/reference/firmware/middleware/fixed_point_filter.c:63-97);
    * true recursive EMA is the engine-side StatefulOps path. */
  /** Fixed-depth EMA approximation. The weighted sum is an EXPLICITLY
    * ordered sequential fold (collect → sort by rn → fold) and is
    * emitted UNROUNDED: the weights 2^-k scale exactly in binary, so
    * an order-fixed fold is bit-identical across engines — while
    * `round(sum(...), 4)` both left the aggregation order unspecified
    * and hit a HALF_UP-vs-binary .xxxx5 boundary at sf0.1
    * (99.80375 → 99.8038 Spark / 99.8037 DuckDB). */
  val qs2 = Q("qs2_ema_approx",
    """SELECT user_id,
      |       aggregate(transform(array_sort(collect_list(named_struct(
      |                   'rn', rn, 'w', value * power(0.5, rn - 1)))), s -> s.w),
      |                 CAST(0 AS DOUBLE), (a, x) -> a + x) AS ema8
      |FROM (SELECT user_id, value,
      |             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) t
      |WHERE rn <= 8
      |GROUP BY user_id
      |ORDER BY user_id NULLS FIRST, ema8 NULLS FIRST""".stripMargin,
    Some("""SELECT user_id,
      |       list_reduce(list_transform(list_sort(list(struct_pack(
      |                     rn := rn, w := value * pow(0.5, rn - 1)))), s -> s.w),
      |                   (a, x) -> a + x) AS ema8
      |FROM (SELECT user_id, value,
      |             row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) t
      |WHERE rn <= 8
      |GROUP BY user_id
      |ORDER BY user_id NULLS FIRST, ema8 NULLS FIRST""".stripMargin),
    "ema,stream")

  /** Sessionization (reference heartbeat/sync protocol,
    * /root/reference/hive_arch.md §4): 30-min-gap boundaries via lag
    * + running boundary-flag sum. */
  val qs3 = Q("qs3_sessionize",
    """WITH d AS (
      |  SELECT user_id, event_id, unix_micros(ts) AS tus,
      |         lag(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id,
      |         sum(CASE WHEN prev_tus IS NULL OR tus - prev_tus > 1800000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM d)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events
      |FROM s
      |GROUP BY user_id, session_id
      |ORDER BY user_id NULLS FIRST, session_id NULLS FIRST, n_events NULLS FIRST""".stripMargin,
    Some("""WITH d AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id,
      |         sum(CASE WHEN prev_tus IS NULL OR tus - prev_tus > 1800000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM d)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events
      |FROM s
      |GROUP BY user_id, session_id
      |ORDER BY user_id NULLS FIRST, session_id NULLS FIRST, n_events NULLS FIRST""".stripMargin),
    "session,stream")

  /** Watermark-delay distribution (late-data semantics analog). */
  val qs4 = Q("qs4_late_data",
    """WITH d AS (
      |  SELECT user_id, unix_micros(ts) AS tus,
      |         max(unix_micros(ts)) OVER (PARTITION BY user_id) AS mx
      |  FROM events)
      |SELECT user_id, CAST((mx - tus) DIV 600000000 AS INT) AS delay_bucket, count(*) AS cnt
      |FROM d
      |GROUP BY user_id, CAST((mx - tus) DIV 600000000 AS INT)
      |ORDER BY user_id NULLS FIRST, delay_bucket NULLS FIRST, cnt NULLS FIRST""".stripMargin,
    Some("""WITH d AS (
      |  SELECT user_id, epoch_us(ts) AS tus,
      |         max(epoch_us(ts)) OVER (PARTITION BY user_id) AS mx
      |  FROM events)
      |SELECT user_id, CAST((mx - tus) // 600000000 AS INT) AS delay_bucket, count(*) AS cnt
      |FROM d
      |GROUP BY user_id, CAST((mx - tus) // 600000000 AS INT)
      |ORDER BY user_id NULLS FIRST, delay_bucket NULLS FIRST, cnt NULLS FIRST""".stripMargin),
    "watermark,stream")

  /** Native session windows (ref op #36, /root/reference/hive_arch.md
    * §4 heartbeat/sync) — the spelling a Spark user actually writes
    * (`session_window(ts, gap)`), oracle-checked against the
    * lag+running-sum derivation. Boundary convention: session_window
    * starts a NEW session when the gap is >= the 30-min threshold
    * (merge requires next_start < session_end), so the oracle flag is
    * `>=`, not qs3's `>`. InventorySpec asserts the two spellings
    * agree in-engine. */
  val qs5 = Q("qs5_session_native",
    """SELECT user_id, unix_micros(session_window.start) AS ss, count(*) AS n_events
      |FROM events
      |GROUP BY user_id, session_window(ts, '30 minutes')
      |ORDER BY user_id NULLS FIRST, ss NULLS FIRST, n_events NULLS FIRST""".stripMargin,
    Some("""WITH d AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
      |  FROM events),
      |s AS (
      |  SELECT user_id, event_id, tus,
      |         sum(CASE WHEN prev_tus IS NULL OR tus - prev_tus >= 1800000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM d)
      |SELECT user_id, min(tus) AS ss, count(*) AS n_events
      |FROM s
      |GROUP BY user_id, sid
      |ORDER BY user_id NULLS FIRST, ss NULLS FIRST, n_events NULLS FIRST""".stripMargin),
    "session,stream,native")

  // ---------------------------------------------------------------
  // Everyday SQL surface (Q-X*) — the OLAP breadth a reference user
  // expects beside the contract ops (analog: the stats aggregations
  // of /root/reference/simulator/profiler.py:91-139, the reference's
  // only OLAP; SURVEY §2.8 Spark-SQL-breadth mandate).
  // ---------------------------------------------------------------

  /** Funnel analysis (signup → click → purchase by FIRST event times):
    * the standard product-analytics conversion query. One aggregate
    * pass builds per-user first-touch times (conditional min — no
    * joins, no ordering shuffle), a second 4-number reduction counts
    * each funnel stage. */
  val qs6 = Q("qs6_funnel",
    """WITH firsts AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'signup' THEN unix_micros(ts) END) AS t_signup,
      |         min(CASE WHEN event_type = 'click' THEN unix_micros(ts) END) AS t_click,
      |         min(CASE WHEN event_type = 'purchase' THEN unix_micros(ts) END) AS t_purchase
      |  FROM events GROUP BY user_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |       CAST(sum(CASE WHEN t_signup < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_click,
      |       CAST(sum(CASE WHEN t_signup < t_click AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_full
      |FROM firsts""".stripMargin,
    Some("""WITH firsts AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'signup' THEN epoch_us(ts) END) AS t_signup,
      |         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
      |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_purchase
      |  FROM events GROUP BY user_id)
      |SELECT CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(sum(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
      |       CAST(sum(CASE WHEN t_signup < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_signup_click,
      |       CAST(sum(CASE WHEN t_signup < t_click AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_full
      |FROM firsts""".stripMargin),
    "funnel,conversion,events")

  /** Cohort retention matrix: users bucketed by first-seen week,
    * activity counted per week offset — the other standard
    * product-analytics query. The global anchor is a 1-row broadcast
    * scalar; everything else is two grouped aggregates on user_id
    * (the natural event key). */
  val qs7 = Q("qs7_retention",
    """WITH g AS (SELECT min(unix_micros(ts)) AS gmin FROM events),
      |f AS (SELECT user_id, min(unix_micros(ts)) AS t0 FROM events GROUP BY user_id),
      |a AS (SELECT e.user_id,
      |             CAST(floor((f.t0 - g.gmin) / 604800000000) AS INT) AS cohort,
      |             CAST(floor((unix_micros(e.ts) - f.t0) / 604800000000) AS INT) AS wk
      |      FROM events e CROSS JOIN g JOIN f ON e.user_id = f.user_id)
      |SELECT cohort, wk, CAST(count(DISTINCT user_id) AS BIGINT) AS active
      |FROM a GROUP BY cohort, wk
      |ORDER BY cohort NULLS FIRST, wk NULLS FIRST, active NULLS FIRST""".stripMargin,
    Some("""WITH g AS (SELECT min(epoch_us(ts)) AS gmin FROM events),
      |f AS (SELECT user_id, min(epoch_us(ts)) AS t0 FROM events GROUP BY user_id),
      |a AS (SELECT e.user_id,
      |             CAST(floor((f.t0 - g.gmin) / 604800000000) AS INT) AS cohort,
      |             CAST(floor((epoch_us(e.ts) - f.t0) / 604800000000) AS INT) AS wk
      |      FROM events e CROSS JOIN g JOIN f ON e.user_id = f.user_id)
      |SELECT cohort, wk, CAST(count(DISTINCT user_id) AS BIGINT) AS active
      |FROM a GROUP BY cohort, wk
      |ORDER BY cohort NULLS FIRST, wk NULLS FIRST, active NULLS FIRST""".stripMargin),
    "retention,cohort,events")

  /** First-order Markov transition matrix over per-user event
    * sequences: one window pass (lag) builds the bigrams, one grouped
    * aggregate counts them, and the per-state normalizer is a window
    * over the tiny 25-row transition frame. The event shuffle is on
    * user_id — the same partitioning every other per-user op reuses. */
  val qs8 = shared("qs8_markov",
    """WITH s AS (SELECT user_id, event_type,
      |                  lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |           FROM events),
      |t AS (SELECT prev, event_type AS nxt, count(*) AS n
      |      FROM s WHERE prev IS NOT NULL GROUP BY prev, event_type)
      |SELECT prev, nxt, CAST(n AS BIGINT) AS n,
      |       round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev), 4) AS p
      |FROM t
      |ORDER BY prev NULLS FIRST, nxt NULLS FIRST, n NULLS FIRST, p NULLS FIRST""".stripMargin,
    "markov,sequence,events")

  /** Time-series resampling to an hourly grid with linear
    * interpolation (sensor-fusion preprocessing, ref op #36 time-sync
    * alignment). The grid is generated per user (explode(sequence)) —
    * never a driver loop — and the interpolation is two IGNORE-NULLS
    * window scans (previous / next known sample), so the whole op is
    * one user_id shuffle + two linear window passes regardless of
    * scale. Determinism: the hourly mean averages integer CENTS (sum
    * is exact), and the output rounds via floor(x·10⁴ + 0.5) — plain
    * IEEE ops that agree bit-for-bit across engines — because
    * interpolated values hit exact .5 ties at the 4th decimal, where
    * Spark's HALF_UP (decimal string) and DuckDB's double-midpoint
    * round() disagree. */
  val qs9 = Q("qs9_resample",
    """WITH pts AS (
      |  SELECT user_id, unix_micros(ts) DIV 3600000000 AS h,
      |         avg(CAST(round(value * 100) AS BIGINT)) / 100 AS v
      |  FROM events WHERE user_id < 8
      |  GROUP BY user_id, unix_micros(ts) DIV 3600000000),
      |bounds AS (SELECT user_id, min(h) AS mn, max(h) AS mx FROM pts GROUP BY user_id),
      |grid AS (SELECT user_id, explode(sequence(mn, mx)) AS h FROM bounds),
      |j AS (SELECT g.user_id, g.h, p.v FROM grid g
      |      LEFT JOIN pts p ON g.user_id = p.user_id AND g.h = p.h),
      |f AS (SELECT user_id, h, v,
      |        last_value(v) IGNORE NULLS OVER w AS pv,
      |        last_value(CASE WHEN v IS NOT NULL THEN h END) IGNORE NULLS OVER w AS ph,
      |        first_value(v) IGNORE NULLS OVER w2 AS nv,
      |        first_value(CASE WHEN v IS NOT NULL THEN h END) IGNORE NULLS OVER w2 AS nh
      |      FROM j
      |      WINDOW w AS (PARTITION BY user_id ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |             w2 AS (PARTITION BY user_id ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, h,
      |       CAST(floor((CASE WHEN v IS NOT NULL THEN v
      |                   WHEN pv IS NOT NULL AND nv IS NOT NULL
      |                     THEN pv + (nv - pv) * CAST(h - ph AS DOUBLE) / (nh - ph)
      |                   ELSE coalesce(pv, nv) END) * 10000 + 0.5) AS DOUBLE) / 10000 AS v_interp
      |FROM f
      |ORDER BY user_id NULLS FIRST, h NULLS FIRST, v_interp NULLS FIRST""".stripMargin,
    Some("""WITH pts AS (
      |  SELECT user_id, epoch_us(ts) // 3600000000 AS h,
      |         avg(CAST(round(value * 100) AS BIGINT)) / 100 AS v
      |  FROM events WHERE user_id < 8
      |  GROUP BY user_id, epoch_us(ts) // 3600000000),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(min(h), max(h))) AS h
      |  FROM pts GROUP BY user_id),
      |j AS (SELECT g.user_id, g.h, p.v FROM grid g
      |      LEFT JOIN pts p ON g.user_id = p.user_id AND g.h = p.h),
      |f AS (SELECT user_id, h, v,
      |        last_value(v IGNORE NULLS) OVER w AS pv,
      |        last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER w AS ph,
      |        first_value(v IGNORE NULLS) OVER w2 AS nv,
      |        first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS) OVER w2 AS nh
      |      FROM j
      |      WINDOW w AS (PARTITION BY user_id ORDER BY h ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |             w2 AS (PARTITION BY user_id ORDER BY h ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT user_id, h,
      |       CAST(floor((CASE WHEN v IS NOT NULL THEN v
      |                   WHEN pv IS NOT NULL AND nv IS NOT NULL
      |                     THEN pv + (nv - pv) * CAST(h - ph AS DOUBLE) / (nh - ph)
      |                   ELSE coalesce(pv, nv) END) * 10000 + 0.5) AS DOUBLE) / 10000 AS v_interp
      |FROM f
      |ORDER BY user_id NULLS FIRST, h NULLS FIRST, v_interp NULLS FIRST""".stripMargin),
    "resample,interpolate,timeseries")

  /** Concurrency curve via sweep line (interval stabbing — the
    * linear-time companion of Q-J14's pairwise overlap): sessions
    * emit +1/-1 boundary deltas on an hour grid, ONE grouped
    * aggregate collapses them to net-change-per-hour (<= 745 rows for
    * the month), and the running sum over that TINY frame is the
    * active-session count — the aggregate-before-window discipline
    * (qw8) that keeps the global window off the fact table. A
    * session's plateau value equals the count at its starting
    * boundary hour, so the boundary-hour max IS the true max. Top-10
    * busiest hours reported. */
  val qs10 = Q("qs10_concurrency",
    """WITH e AS (
      |  SELECT user_id, event_id, unix_micros(ts) AS tus,
      |         lag(unix_micros(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
      |  FROM events),
      |s AS (
      |  SELECT user_id, tus,
      |         sum(CASE WHEN prev_tus IS NULL OR tus - prev_tus > 21600000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e),
      |iv AS (SELECT user_id, sid, min(tus) AS s_start, max(tus) AS s_end
      |       FROM s GROUP BY user_id, sid),
      |b AS (SELECT s_start DIV 3600000000 AS h, 1 AS d FROM iv
      |      UNION ALL
      |      SELECT s_end DIV 3600000000 + 1 AS h, -1 AS d FROM iv),
      |hb AS (SELECT h, sum(d) AS delta FROM b GROUP BY h),
      |c AS (SELECT h, sum(delta) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS act FROM hb)
      |SELECT CAST(h AS BIGINT) AS hour_idx, CAST(act AS BIGINT) AS active
      |FROM c ORDER BY active DESC NULLS LAST, hour_idx NULLS FIRST LIMIT 10""".stripMargin,
    Some("""WITH e AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_tus
      |  FROM events),
      |s AS (
      |  SELECT user_id, tus,
      |         sum(CASE WHEN prev_tus IS NULL OR tus - prev_tus > 21600000000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM e),
      |iv AS (SELECT user_id, sid, min(tus) AS s_start, max(tus) AS s_end
      |       FROM s GROUP BY user_id, sid),
      |b AS (SELECT s_start // 3600000000 AS h, 1 AS d FROM iv
      |      UNION ALL
      |      SELECT s_end // 3600000000 + 1 AS h, -1 AS d FROM iv),
      |hb AS (SELECT h, sum(d) AS delta FROM b GROUP BY h),
      |c AS (SELECT h, sum(delta) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING) AS act FROM hb)
      |SELECT CAST(h AS BIGINT) AS hour_idx, CAST(act AS BIGINT) AS active
      |FROM c ORDER BY active DESC NULLS LAST, hour_idx NULLS FIRST LIMIT 10""".stripMargin),
    "session,sweepline,concurrency,interval")

  /** First-touch attribution — the marketing-analytics staple: each
    * user's purchases attribute to the CHANNEL of their first-ever
    * event. Scale shape: the first-touch pass is one window cut to
    * rn=1 (WindowGroupLimit prunes per-user state to one row), the
    * conversion rollup collapses events per user before the join, and
    * the final report groups ≤|channels| rows — nothing joins at
    * event granularity. */
  val qs11 = shared("qs11_attribution",
    """WITH f AS (
      |  SELECT user_id, event_type,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      |  FROM events),
      |ft AS (SELECT user_id, event_type AS first_touch FROM f WHERE rn = 1),
      |conv AS (SELECT user_id, count(*) AS n_purchases
      |         FROM events WHERE event_type = 'purchase' GROUP BY user_id)
      |SELECT ft.first_touch,
      |       CAST(count(*) AS BIGINT) AS n_users,
      |       CAST(coalesce(sum(conv.n_purchases), 0) AS BIGINT) AS n_purchases
      |FROM ft LEFT JOIN conv ON ft.user_id = conv.user_id
      |GROUP BY ft.first_touch
      |ORDER BY first_touch NULLS FIRST, n_users NULLS FIRST,
      |         n_purchases NULLS FIRST""".stripMargin,
    "attribution,window,funnel")

  /** PIVOT: returnflag × linestatus quantity matrix. Oracle spells it
    * as conditional aggregation — same cells, same NULL for absent
    * combinations. */
  val qx1 = Q("qx1_pivot",
    """SELECT * FROM (SELECT l_returnflag, l_linestatus, l_quantity FROM lineitem)
      |PIVOT (round(sum(l_quantity), 4) FOR l_linestatus IN ('O' AS qty_o, 'F' AS qty_f))
      |ORDER BY l_returnflag NULLS FIRST, qty_o NULLS FIRST, qty_f NULLS FIRST""".stripMargin,
    Some("""SELECT l_returnflag,
      |       round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 4) AS qty_o,
      |       round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 4) AS qty_f
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST, qty_o NULLS FIRST, qty_f NULLS FIRST""".stripMargin),
    "pivot,agg")

  /** Ordered string aggregation (listagg WITHIN GROUP ↔ DuckDB
    * string_agg ORDER BY). */
  val qx2 = Q("qx2_listagg",
    """SELECT r_regionkey, listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name) AS names
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_regionkey
      |ORDER BY r_regionkey NULLS FIRST, names NULLS FIRST""".stripMargin,
    Some("""SELECT r_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_regionkey
      |ORDER BY r_regionkey NULLS FIRST, names NULLS FIRST""".stripMargin),
    "listagg,agg")

  /** median (interpolated) + mode. The mode column is a 70/30-skewed
    * derived value: both engines break mode TIES arbitrarily, so the
    * contract only pins mode on tie-free data (verified at every
    * driver SF). */
  val qx3 = shared("qx3_median_mode",
    """SELECT o_orderstatus,
      |       round(median(o_totalprice), 4) AS med_price,
      |       mode(CASE WHEN o_totalprice >= 150000 THEN 'big' ELSE 'small' END) AS mode_size
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus NULLS FIRST, med_price NULLS FIRST, mode_size NULLS FIRST""".stripMargin,
    "median,mode,agg")

  /** Linear-regression aggregate family + sample covariance
    * (profiler-stats analog, ref simulator/profiler.py:120-139). */
  val qx4 = shared("qx4_regr",
    """SELECT l_returnflag,
      |       round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
      |       round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
      |       round(regr_r2(l_extendedprice, l_quantity), 4) AS r2,
      |       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
      |       round(covar_samp(l_quantity, l_extendedprice), 4) AS covar
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag NULLS FIRST, slope NULLS FIRST, intercept NULLS FIRST,
      |         r2 NULLS FIRST, n NULLS FIRST, covar NULLS FIRST""".stripMargin,
    "regr,stats,agg")

  /** Bitwise aggregates over the orderkey domain. */
  val qx5 = shared("qx5_bit_aggs",
    """SELECT o_orderstatus,
      |       CAST(bit_and(o_orderkey) AS BIGINT) AS key_and,
      |       CAST(bit_or(o_orderkey) AS BIGINT) AS key_or,
      |       CAST(bit_xor(o_orderkey) AS BIGINT) AS key_xor
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus NULLS FIRST, key_and NULLS FIRST, key_or NULLS FIRST,
      |         key_xor NULLS FIRST""".stripMargin,
    "bitagg,agg")

  /** width_bucket histogram: 10 equal bins over [0, 500000) plus the
    * two overflow bins. Oracle derives the same bin arithmetic
    * (DuckDB 1.0 has no width_bucket). */
  val qx6 = Q("qx6_width_bucket",
    """SELECT CAST(width_bucket(o_totalprice, 0, 500000, 10) AS BIGINT) AS bin, count(*) AS cnt
      |FROM orders
      |GROUP BY bin
      |ORDER BY bin NULLS FIRST, cnt NULLS FIRST""".stripMargin,
    Some("""SELECT CASE WHEN o_totalprice < 0 THEN 0
      |            WHEN o_totalprice >= 500000 THEN 11
      |            ELSE CAST(floor(o_totalprice / 50000) AS BIGINT) + 1 END AS bin,
      |       count(*) AS cnt
      |FROM orders
      |GROUP BY bin
      |ORDER BY bin NULLS FIRST, cnt NULLS FIRST""".stripMargin),
    "width_bucket,histogram")

  /** Window-function tail: cume_dist + running nth_value, both
    * PARTITIONed BY segment — the scale-correct spelling (an
    * unpartitioned cume_dist is a single-task global sort; per-key
    * distribution functions shuffle once on the key and distribute). */
  val qx7 = shared("qx7_window_extras",
    """SELECT c_custkey,
      |       round(cume_dist() OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey), 4) AS cd,
      |       nth_value(c_acctbal, 3) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey
      |                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS third_bal
      |FROM customer
      |ORDER BY c_custkey NULLS FIRST, cd NULLS FIRST, third_bal NULLS FIRST""".stripMargin,
    "window,cume_dist,nth_value")

  /** UNPIVOT (standard relational form — both engines parse the same
    * text; both exclude NULL cells by default): priority totals wide →
    * long. The inverse surface of qx1's PIVOT. */
  val qx8 = shared("qx8_unpivot",
    """WITH m AS (SELECT o_orderstatus,
      |      round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 4) AS urgent,
      |      round(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN o_totalprice END), 4) AS high,
      |      round(sum(CASE WHEN o_orderpriority = '5-LOW' THEN o_totalprice END), 4) AS low
      |    FROM orders GROUP BY o_orderstatus)
      |SELECT o_orderstatus, prio, amount FROM m
      |UNPIVOT (amount FOR prio IN (urgent, high, low))
      |ORDER BY o_orderstatus NULLS FIRST, prio NULLS FIRST, amount NULLS FIRST""".stripMargin,
    "unpivot,reshape")

  /** Correlated LATERAL subquery — per-outer-row top-k, the spelling a
    * user writes when the window-filter idiom (qt2) is unnatural. Both
    * engines decorrelate; Spark plans it as the same window group
    * limit. */
  val qx9 = shared("qx9_lateral",
    """SELECT r_regionkey, t.n_name AS nation_name FROM region,
      |LATERAL (SELECT n_name FROM nation WHERE n_regionkey = r_regionkey
      |         ORDER BY n_name LIMIT 2) t
      |ORDER BY r_regionkey NULLS FIRST, nation_name NULLS FIRST""".stripMargin,
    "lateral,topk")

  /** Array-function breadth: collect→distinct→sort→join plus slice and
    * size. Arrays are rendered to strings so the cross-engine hash sees
    * scalars; sort-after-collect makes the unordered aggregation
    * deterministic. */
  val qx10 = Q("qx10_array_funcs",
    """SELECT n_regionkey,
      |       array_join(array_sort(array_distinct(collect_list(n_name))), '|') AS names,
      |       array_join(slice(array_sort(collect_list(n_name)), 1, 2), '|') AS first2,
      |       CAST(size(collect_list(n_name)) AS INT) AS n
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey NULLS FIRST, names NULLS FIRST, first2 NULLS FIRST, n NULLS FIRST""".stripMargin,
    Some("""SELECT n_regionkey,
      |       array_to_string(list_sort(list_distinct(list(n_name))), '|') AS names,
      |       array_to_string(list_slice(list_sort(list(n_name)), 1, 2), '|') AS first2,
      |       CAST(len(list(n_name)) AS INT) AS n
      |FROM nation
      |GROUP BY n_regionkey
      |ORDER BY n_regionkey NULLS FIRST, names NULLS FIRST, first2 NULLS FIRST, n NULLS FIRST""".stripMargin),
    "array,collect,agg")

  /** Map-type surface: construct, probe (`element_at` — Spark returns
    * the value, DuckDB a 1-element list), keys, cardinality. Keys are
    * sorted + joined so the unordered map type hashes stably. */
  val qx12 = Q("qx12_map_funcs",
    """SELECT p_partkey,
      |       element_at(m, 'id') AS vid,
      |       element_at(m, 'name') AS vname,
      |       array_join(array_sort(map_keys(m)), '|') AS ks,
      |       CAST(size(m) AS INT) AS n
      |FROM (SELECT p_partkey, map('id', CAST(p_partkey AS STRING), 'name', p_name) AS m
      |      FROM part)
      |WHERE p_partkey < 300
      |ORDER BY p_partkey NULLS FIRST, vid NULLS FIRST, vname NULLS FIRST,
      |         ks NULLS FIRST, n NULLS FIRST""".stripMargin,
    Some("""SELECT p_partkey,
      |       element_at(m, 'id')[1] AS vid,
      |       element_at(m, 'name')[1] AS vname,
      |       array_to_string(list_sort(map_keys(m)), '|') AS ks,
      |       CAST(cardinality(m) AS INT) AS n
      |FROM (SELECT p_partkey, MAP(['id','name'], [CAST(p_partkey AS VARCHAR), p_name]) AS m
      |      FROM part)
      |WHERE p_partkey < 300
      |ORDER BY p_partkey NULLS FIRST, vid NULLS FIRST, vname NULLS FIRST,
      |         ks NULLS FIRST, n NULLS FIRST""".stripMargin),
    "map,element_at")

  /** Argmax-family aggregates: max_by/min_by (DuckDB arg_max/arg_min)
    * + any_value. Determinism: the ordering value o_orderkey is
    * unique, and any_value is taken over an expression constant
    * within its group — both engines must agree exactly. ONE
    * aggregate with map-side partials (SortAggregate: max_by's
    * ordering buffer is not hash-aggregable); no window, no
    * self-join. */
  val qx13 = Q("qx13_argmax_aggs",
    """SELECT o_orderpriority,
      |       CAST(max_by(o_custkey, o_orderkey) AS BIGINT) AS cust_last,
      |       CAST(min_by(o_custkey, o_orderkey) AS BIGINT) AS cust_first,
      |       round(max_by(o_totalprice, o_orderkey), 4) AS price_last,
      |       any_value(upper(o_orderpriority)) AS pri_u,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST, cust_last NULLS FIRST,
      |         cust_first NULLS FIRST, price_last NULLS FIRST,
      |         pri_u NULLS FIRST, n NULLS FIRST""".stripMargin,
    Some("""SELECT o_orderpriority,
      |       CAST(arg_max(o_custkey, o_orderkey) AS BIGINT) AS cust_last,
      |       CAST(arg_min(o_custkey, o_orderkey) AS BIGINT) AS cust_first,
      |       round(arg_max(o_totalprice, o_orderkey), 4) AS price_last,
      |       any_value(upper(o_orderpriority)) AS pri_u,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM orders
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority NULLS FIRST, cust_last NULLS FIRST,
      |         cust_first NULLS FIRST, price_last NULLS FIRST,
      |         pri_u NULLS FIRST, n NULLS FIRST""".stripMargin),
    "agg,argmax,max_by,any_value")

  /** Skyline (Pareto-optimal set, EDBT'23 "Skyline Queries into Spark
    * SQL" per PAPERS.md): parts no other part beats on BOTH size and
    * price. The declared SQL is the naive NOT-EXISTS dominance
    * anti-join — quadratic, hence the bounded p_partkey<400 subset for
    * the oracle; the SHIPPED implementation (impl override, asserted
    * equal in InventorySpec) is the two-phase distributed operator
    * (operators.Skyline): per-partition local skyline, then one small
    * global pass — the 100 TB spelling, also measured unbounded as
    * eng_skyline. */
  val qx14 = Q("qx14_skyline",
    """WITH s AS (SELECT p_partkey, p_size, p_retailprice
      |           FROM part
      |           WHERE p_partkey < 400
      |             AND p_size IS NOT NULL AND p_retailprice IS NOT NULL)
      |SELECT p_partkey, p_size, round(p_retailprice, 4) AS price
      |FROM s a
      |WHERE NOT EXISTS (SELECT 1 FROM s b
      |                  WHERE b.p_size <= a.p_size
      |                    AND b.p_retailprice <= a.p_retailprice
      |                    AND (b.p_size < a.p_size
      |                         OR b.p_retailprice < a.p_retailprice))
      |ORDER BY p_partkey NULLS FIRST, p_size NULLS FIRST, price NULLS FIRST""".stripMargin,
    Some("""WITH s AS (SELECT p_partkey, p_size, p_retailprice
      |           FROM part
      |           WHERE p_partkey < 400
      |             AND p_size IS NOT NULL AND p_retailprice IS NOT NULL)
      |SELECT p_partkey, p_size, round(p_retailprice, 4) AS price
      |FROM s a
      |WHERE NOT EXISTS (SELECT 1 FROM s b
      |                  WHERE b.p_size <= a.p_size
      |                    AND b.p_retailprice <= a.p_retailprice
      |                    AND (b.p_size < a.p_size
      |                         OR b.p_retailprice < a.p_retailprice))
      |ORDER BY p_partkey NULLS FIRST, p_size NULLS FIRST, price NULLS FIRST""".stripMargin),
    "skyline,pareto,dominance",
    // Measured win: impl/SQL median 0.79, 12/12 pairs at sf0.1; 0.75, 11/12 at 10×.
    impl = Some { (spark, dir) =>
      import org.apache.spark.sql.functions._
      graft.Tables.register(spark, dir)
      val s = spark.table("part")
        .where(col("p_partkey") < 400)
        .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
      graft.operators.Skyline.skyline(s, Seq("p_size", "p_retailprice"))
        .select(col("p_partkey"), col("p_size"),
          round(col("p_retailprice"), 4).as("price"))
        .orderBy(col("p_partkey").asc_nulls_first,
          col("p_size").asc_nulls_first, col("price").asc_nulls_first)
    })

  /** CDC apply / upsert materialization (last-writer-wins): replay a
    * change stream keyed by user_id into its current snapshot — the
    * latest record per key wins, keys whose final record is the
    * delete marker ('error') drop out. ONE shuffle on the key, and
    * the rn=1 filter runs as WindowGroupLimit (per-partition top-1
    * pushed before the exchange, qt2's plan guarantee) — the
    * standard lakehouse MERGE-free CDC compaction shape; at 100 TB
    * the same query runs per ingest slice with the snapshot unioned
    * in (see eng_incremental_agg for the mergeable-state variant). */
  val qx15 = shared("qx15_cdc_apply",
    """WITH latest AS (
      |  SELECT user_id, event_type, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_type AS final_type, round(value, 4) AS final_value
      |FROM latest
      |WHERE rn = 1 AND event_type <> 'error'
      |ORDER BY user_id NULLS FIRST, final_type NULLS FIRST, final_value NULLS FIRST""".stripMargin,
    "cdc,upsert,window_group_limit")

  /** SCD Type-2 dimension build: change-detect each user's event_type
    * run (keep rows where the type differs from the previous row),
    * then lead() closes each version's validity interval — the
    * classic slowly-changing-dimension derivation as two linear
    * window passes over ONE user-keyed shuffle, no self-join.
    * Windows order by integer microseconds + event_id in BOTH
    * engines so sub-microsecond parquet ns precision (DuckDB keeps
    * it, Spark truncates) cannot flip a tie. */
  val qx16 = Q("qx16_scd2",
    """WITH o AS (
      |  SELECT user_id, event_type, event_id, unix_micros(ts) AS tus,
      |         lag(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY unix_micros(ts), event_id) AS prev_type
      |  FROM events),
      |chg AS (
      |  SELECT user_id, event_type, tus, event_id
      |  FROM o WHERE prev_type IS NULL OR event_type <> prev_type),
      |v AS (
      |  SELECT user_id, event_type, tus,
      |         lead(tus) OVER (PARTITION BY user_id
      |                         ORDER BY tus, event_id) AS valid_to
      |  FROM chg)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_versions,
      |       CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
      |       CAST(max(valid_to - tus) AS BIGINT) AS max_closed_us
      |FROM v
      |GROUP BY user_id
      |ORDER BY user_id NULLS FIRST, n_versions NULLS FIRST,
      |         n_current NULLS FIRST, max_closed_us NULLS FIRST""".stripMargin,
    Some("""WITH o AS (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus,
      |         lag(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY epoch_us(ts), event_id) AS prev_type
      |  FROM events),
      |chg AS (
      |  SELECT user_id, event_type, tus, event_id
      |  FROM o WHERE prev_type IS NULL OR event_type <> prev_type),
      |v AS (
      |  SELECT user_id, event_type, tus,
      |         lead(tus) OVER (PARTITION BY user_id
      |                         ORDER BY tus, event_id) AS valid_to
      |  FROM chg)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_versions,
      |       CAST(sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_current,
      |       CAST(max(valid_to - tus) AS BIGINT) AS max_closed_us
      |FROM v
      |GROUP BY user_id
      |ORDER BY user_id NULLS FIRST, n_versions NULLS FIRST,
      |         n_current NULLS FIRST, max_closed_us NULLS FIRST""".stripMargin),
    "scd2,dimension,window")

  /** Position-aware generator (`posexplode` — the ordinal companion of
    * qf7's plain explode): token streams need the position to rebuild
    * order downstream (chunking, n-grams, first/last-token features).
    * DuckDB spells it as zipped `unnest` + `generate_subscripts`
    * (1-based → −1). Pure per-row expansion: no shuffle, generator
    * fan-out stays inside the scan stage at any scale; the partkey
    * filter pushes to the parquet scan before the generator runs. */
  val qx17 = Q("qx17_posexplode",
    """SELECT p_partkey, CAST(pos AS INT) AS pos, tok,
      |       CAST(size(split(p_name, ' ')) AS INT) AS n_toks,
      |       CAST(CASE WHEN pos = size(split(p_name, ' ')) - 1
      |                 THEN 1 ELSE 0 END AS INT) AS is_last
      |FROM part LATERAL VIEW posexplode(split(p_name, ' ')) t AS pos, tok
      |WHERE p_partkey <= 200
      |ORDER BY p_partkey NULLS FIRST, pos NULLS FIRST, tok NULLS FIRST,
      |         n_toks NULLS FIRST, is_last NULLS FIRST""".stripMargin,
    Some("""SELECT p_partkey,
      |       CAST(generate_subscripts(string_split(p_name, ' '), 1) - 1 AS INT) AS pos,
      |       unnest(string_split(p_name, ' ')) AS tok,
      |       CAST(len(string_split(p_name, ' ')) AS INT) AS n_toks,
      |       CAST(CASE WHEN generate_subscripts(string_split(p_name, ' '), 1) - 1
      |                      = len(string_split(p_name, ' ')) - 1
      |                 THEN 1 ELSE 0 END AS INT) AS is_last
      |FROM part
      |WHERE p_partkey <= 200
      |ORDER BY p_partkey NULLS FIRST, pos NULLS FIRST, tok NULLS FIRST,
      |         n_toks NULLS FIRST, is_last NULLS FIRST""".stripMargin),
    "generator,posexplode,lateral_view")

  /** Wide-to-long reshaping via the SQL `UNPIVOT` clause — qx1's
    * inverse: the per-status priority-count matrix melts back to
    * (status, prio, n) rows. DuckDB oracle spells the same relational
    * op as a UNION ALL over the wide frame (dialect translation; its
    * UNPIVOT statement form isn't guaranteed on the driver's DuckDB).
    * Scale shape: the melt is a per-row generator over the already-
    * aggregated 3-row frame — all heavy lifting is the one grouped
    * aggregate below it; no value is NULL so Spark's default
    * exclude-nulls UNPIVOT semantics can't drop rows. */
  val qx18 = Q("qx18_unpivot",
    """SELECT o_orderstatus, prio, n
      |FROM (
      |  SELECT o_orderstatus,
      |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
      |         CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
      |         CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS other
      |  FROM orders GROUP BY o_orderstatus
      |) UNPIVOT (n FOR prio IN (urgent, high, other))
      |ORDER BY o_orderstatus NULLS FIRST, prio NULLS FIRST, n NULLS FIRST""".stripMargin,
    Some("""WITH w AS (
      |  SELECT o_orderstatus,
      |         CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent,
      |         CAST(sum(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS high,
      |         CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS other
      |  FROM orders GROUP BY o_orderstatus)
      |SELECT o_orderstatus, prio, n FROM (
      |  SELECT o_orderstatus, 'urgent' AS prio, urgent AS n FROM w
      |  UNION ALL SELECT o_orderstatus, 'high' AS prio, high AS n FROM w
      |  UNION ALL SELECT o_orderstatus, 'other' AS prio, other AS n FROM w)
      |ORDER BY o_orderstatus NULLS FIRST, prio NULLS FIRST, n NULLS FIRST""".stripMargin),
    "unpivot,reshape,melt")

  /** Recursive CTE (Spark 4 WITH RECURSIVE): generate the month domain
    * recursively, then aggregate orders against it — recursion for the
    * dimension, one scan for the facts. */
  val qx11 = shared("qx11_recursive_cte",
    """WITH RECURSIVE m(mo) AS (SELECT 1 UNION ALL SELECT mo + 1 FROM m WHERE mo < 12)
      |SELECT mo, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
      |       round(sum(o_totalprice), 4) AS tot
      |FROM m LEFT JOIN orders ON month(o_orderdate) = mo
      |GROUP BY mo
      |ORDER BY mo NULLS FIRST, n_orders NULLS FIRST, tot NULLS FIRST""".stripMargin,
    "recursive,cte")

  /** Full oracle-checked inventory, in declaration order. */
  val all: Seq[Q] = Seq(
    qf1, qf2, qf3, qf4, qf5, qf6, qf7, qf8, qf9, qf10, qf11, qf12, qf13, qf14, qf15, qf16,
    qa1, qa2, qa3, qa4, qa5, qa6, qa7, qa7b, qa7c, qa8, qa9, qa10, qa11, qa12, qa13, qa14, qa15, qa16, qa17, qa18, qa19, qa20,
    qj1, qj2, qj3, qj3b, qj4, qj5, qj6, qj7, qj8, qj9, qj10, qj11, qj12, qj13, qj14, qj15, qj16, qj17, qj18,
    qw1, qw2, qw3, qw4, qw5, qw6, qw7, qw8, qw9, qw10, qw11,
    qt1, qt2, qt3, qt4,
    qu1, qu2, qu3, qu4, qu5, qu6,
    qv1, qv2, qv3, qv4, qv5, qv6, qv7, qv8, qv9, qv10, qv11, qv12, qv13, qv14,
    ql1, ql2, ql3, ql4, ql5, ql6, ql7, ql8, ql9, ql10, ql11, ql12, ql13, ql14, ql15, ql16, ql17, ql18, ql19, ql20, ql21, ql22, ql23,
    qs1, qs2, qs3, qs4, qs5, qs6, qs7, qs8, qs9, qs10, qs11,
    qx1, qx2, qx3, qx4, qx5, qx6, qx7, qx8, qx9, qx10, qx11, qx12, qx13, qx14, qx15, qx16, qx17, qx18)
}
