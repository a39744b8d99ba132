package graft.queries

import org.apache.spark.sql.functions._
import graft.{ChSql, Tables}

/** Scalar-function family coverage (SURVEY.md §2.8, ref `src/Functions/`
  * ~810 registered names). Each query exercises one family through the
  * Spark SQL surface with a DuckDB oracle; the ClickHouse-name → Spark
  * mapping itself lives in `graft.functions.ChFunctions`.
  */
object FunctionQueries {

  val all: Seq[Q] = Seq(

    // ---- string family (ref src/Functions/{lower,upper,substring,concat,
    // trim,reverse,repeat,leftPad}.cpp …) ----
    Q.sql("q_fn_string",
      """SELECT p_partkey,
        |       lower(p_name)                 AS lo,
        |       upper(p_type)                 AS up,
        |       length(p_name)                AS len,
        |       substring(p_name, 1, 8)       AS sub,
        |       concat(p_brand, '#', p_type)  AS cat,
        |       replace(p_type, 'a', '_')     AS rep,
        |       reverse(p_brand)              AS rev,
        |       lpad(p_brand, 12, '*')        AS pad,
        |       trim(p_name)                  AS tr,
        |       CASE WHEN p_name LIKE '%old%' THEN 1 ELSE 0 END AS has_old
        |FROM part ORDER BY p_partkey""".stripMargin),

    // search/replace (ref position.cpp, like.cpp, match.cpp,
    // replaceRegexpAll.cpp, countSubstrings.cpp)
    Q.sql2("q_fn_string_search",
      """SELECT p_partkey,
        |       locate('o', p_name)                          AS pos_o,
        |       regexp_extract(p_type, '([a-z]+)', 1)        AS first_word,
        |       regexp_replace(p_brand, '[0-9]+', '#')       AS brand_norm,
        |       CASE WHEN p_type RLIKE '^[a-z]+ ' THEN 1 ELSE 0 END AS re_match,
        |       CAST((length(p_name) - length(replace(p_name, 'a', '')))
        |            AS BIGINT)                              AS count_a
        |FROM part ORDER BY p_partkey""".stripMargin,
      """SELECT p_partkey,
        |       position('o' IN p_name)                      AS pos_o,
        |       coalesce(regexp_extract(p_type, '([a-z]+)', 1), '') AS first_word,
        |       regexp_replace(p_brand, '[0-9]+', '#', 'g')  AS brand_norm,
        |       CASE WHEN regexp_matches(p_type, '^[a-z]+ ') THEN 1 ELSE 0 END AS re_match,
        |       CAST((length(p_name) - length(replace(p_name, 'a', '')))
        |            AS BIGINT)                              AS count_a
        |FROM part ORDER BY p_partkey""".stripMargin),

    // split / join (ref FunctionsStringArray.h splitByChar, arrayStringConcat)
    Q.sql2("q_fn_split",
      """SELECT doc_id,
        |       size(split(text, ' '))                        AS n_tokens,
        |       element_at(split(text, ' '), 1)               AS first_tok,
        |       element_at(split(text, ' '), -1)              AS last_tok,
        |       array_join(slice(split(text, ' '), 1, 3), '-') AS first3
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |       CAST(len(string_split(text, ' ')) AS INT)     AS n_tokens,
        |       string_split(text, ' ')[1]                    AS first_tok,
        |       string_split(text, ' ')[-1]                   AS last_tok,
        |       array_to_string(string_split(text, ' ')[1:3], '-') AS first3
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ---- math (ref src/Functions/{abs,exp,log,sqrt,pow,sin}.cpp,
    // FunctionsRound.h) ----
    Q.sql("q_fn_math",
      """SELECT o_orderkey,
        |       abs(o_totalprice - 200000)            AS dist,
        |       round(sqrt(o_totalprice), 6)          AS sq,
        |       round(ln(o_totalprice), 6)            AS lg,
        |       round(log10(o_totalprice), 6)         AS lg10,
        |       round(power(o_totalprice / 100000, 2), 6) AS pw,
        |       CAST(floor(o_totalprice / 1000) AS BIGINT) AS flr,
        |       CAST(ceil(o_totalprice / 1000) AS BIGINT)  AS cl,
        |       round(sin(o_orderkey % 10), 6)        AS sn,
        |       CAST(sign(o_totalprice - 200000) AS INT) AS sgn,
        |       greatest(o_totalprice, 250000.0)      AS gr,
        |       least(CAST(o_orderkey % 7 AS BIGINT),
        |             CAST(o_orderkey % 5 AS BIGINT)) AS ls,
        |       CAST(o_orderkey % 7 AS BIGINT)        AS md
        |FROM orders WHERE o_orderkey <= 500 ORDER BY o_orderkey""".stripMargin),

    // intDiv / modulo / integer arithmetic (ref intDiv.cpp, modulo.cpp)
    Q.sql2("q_fn_intarith",
      """SELECT l_orderkey, l_linenumber,
        |       CAST(l_orderkey DIV 7 AS BIGINT)  AS idiv,
        |       l_orderkey % 7                    AS imod,
        |       l_orderkey * 3 + l_linenumber     AS lin,
        |       -l_orderkey                       AS neg
        |FROM lineitem WHERE l_orderkey <= 200
        |ORDER BY l_orderkey, l_linenumber, idiv""".stripMargin,
      """SELECT l_orderkey, l_linenumber,
        |       l_orderkey // 7                   AS idiv,
        |       l_orderkey % 7                    AS imod,
        |       l_orderkey * 3 + l_linenumber     AS lin,
        |       -l_orderkey                       AS neg
        |FROM lineitem WHERE l_orderkey <= 200
        |ORDER BY l_orderkey, l_linenumber, idiv""".stripMargin),

    // ---- conditional (ref if.cpp, multiIf.cpp, coalesce.cpp, nullIf) ----
    Q.sql("q_fn_conditional",
      """SELECT c_custkey,
        |       CASE WHEN c_acctbal < 0 THEN 'neg'
        |            WHEN c_acctbal < 5000 THEN 'low'
        |            ELSE 'high' END                  AS bal_band,
        |       coalesce(nullif(c_mktsegment, 'AUTOMOBILE'), 'CAR') AS seg,
        |       CASE WHEN c_nationkey % 2 = 0 THEN c_acctbal ELSE -c_acctbal END AS signed_bal
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ---- date/time (ref DateTimeTransforms.h, toStartOfInterval.cpp,
    // addDays.cpp, dateDiff.cpp, formatDateTime.cpp) ----
    Q.sql2("q_fn_datetime",
      """SELECT o_orderkey,
        |       year(o_orderdate)                      AS y,
        |       quarter(o_orderdate)                   AS q,
        |       month(o_orderdate)                     AS m,
        |       day(o_orderdate)                       AS d,
        |       hour(o_orderdate)                      AS h,
        |       dayofyear(o_orderdate)                 AS doy,
        |       date_trunc('month', o_orderdate)       AS month_start,
        |       date_trunc('week', o_orderdate)        AS monday,
        |       o_orderdate + INTERVAL 3 DAY           AS plus3d,
        |       o_orderdate - INTERVAL 2 HOUR          AS minus2h,
        |       date_format(o_orderdate, 'yyyy-MM')    AS ym,
        |       unix_timestamp(o_orderdate)            AS epoch_s,
        |       last_day(o_orderdate)                  AS eom
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin,
      """SELECT o_orderkey,
        |       CAST(year(o_orderdate) AS INT)         AS y,
        |       CAST(quarter(o_orderdate) AS INT)      AS q,
        |       CAST(month(o_orderdate) AS INT)        AS m,
        |       CAST(day(o_orderdate) AS INT)          AS d,
        |       CAST(hour(o_orderdate) AS INT)         AS h,
        |       CAST(dayofyear(o_orderdate) AS INT)    AS doy,
        |       date_trunc('month', o_orderdate)       AS month_start,
        |       date_trunc('week', o_orderdate)        AS monday,
        |       o_orderdate + INTERVAL 3 DAY           AS plus3d,
        |       o_orderdate - INTERVAL 2 HOUR          AS minus2h,
        |       strftime(o_orderdate, '%Y-%m')         AS ym,
        |       CAST(epoch(o_orderdate) AS BIGINT)     AS epoch_s,
        |       CAST(last_day(o_orderdate) AS TIMESTAMP) AS eom
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin),

    // dateDiff / age (ref dateDiff.cpp) + toStartOfInterval 15-minute bucket
    Q.sql2("q_fn_datediff",
      """SELECT e.event_id,
        |       CAST(datediff(e.ts, TIMESTAMP '2024-01-01 00:00:00') AS BIGINT) AS days_since,
        |       CAST(floor(unix_timestamp(e.ts) / 900) * 900 AS BIGINT)         AS bucket15m,
        |       date_trunc('hour', e.ts)                                        AS hour_start
        |FROM events e WHERE e.event_id <= 200 ORDER BY e.event_id""".stripMargin,
      """SELECT e.event_id,
        |       date_diff('day', TIMESTAMP '2024-01-01 00:00:00', e.ts) AS days_since,
        |       CAST(floor(epoch(e.ts) / 900) * 900 AS BIGINT)          AS bucket15m,
        |       date_trunc('hour', e.ts)                                AS hour_start
        |FROM events e WHERE e.event_id <= 200 ORDER BY e.event_id""".stripMargin),

    // ---- CAST family incl. OrNull/OrZero (ref FunctionsConversion.h) ----
    Q.sql("q_fn_cast",
      """SELECT p_partkey,
        |       CAST(p_size AS DOUBLE)                         AS size_f,
        |       CAST(floor(p_retailprice) AS BIGINT)           AS price_i,
        |       CAST(CAST(p_partkey AS STRING) AS BIGINT)      AS roundtrip,
        |       try_cast(p_brand AS BIGINT)                    AS brand_num,
        |       coalesce(try_cast(substring(p_brand, 7, 2) AS BIGINT), 0) AS or_zero,
        |       CAST(p_size > 25 AS INT)                       AS flag
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- array family (ref src/Functions/array/, 65 files) ----
    Q.sql2("q_fn_array",
      """SELECT doc_id,
        |       size(array_distinct(split(text, ' ')))            AS n_uniq,
        |       size(array_intersect(split(text, ' '),
        |            array('table','query','spark')))             AS n_kw,
        |       CAST(array_contains(split(text, ' '), 'spark') AS INT) AS has_spark,
        |       array_join(slice(sort_array(array_distinct(split(text, ' '))), 1, 5), ',')
        |         AS top5_alpha,
        |       array_position(split(text, ' '), 'table')         AS first_table_idx
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |       CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS n_uniq,
        |       CAST(len(list_intersect(string_split(text, ' '),
        |            ['table','query','spark'])) AS INT)          AS n_kw,
        |       CASE WHEN list_contains(string_split(text, ' '), 'spark')
        |            THEN 1 ELSE 0 END                            AS has_spark,
        |       array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:5], ',')
        |         AS top5_alpha,
        |       CAST(coalesce(list_position(string_split(text, ' '), 'table'), 0) AS BIGINT)
        |         AS first_table_idx
        |FROM documents ORDER BY doc_id""".stripMargin),

    // higher-order lambdas (ref FunctionArrayMapped.h arrayMap/Filter/…)
    Q.sql2("q_fn_lambda",
      """SELECT doc_id,
        |       size(filter(split(text, ' '), w -> length(w) > 4))       AS n_long,
        |       aggregate(transform(split(text, ' '), w -> length(w)),
        |                 0, (a, x) -> a + x)                            AS total_chars,
        |       CAST(exists(split(text, ' '), w -> w = 'merge') AS INT)  AS has_merge
        |FROM documents ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |       CAST(len(list_filter(string_split(text, ' '),
        |                w -> length(w) > 4)) AS INT)                    AS n_long,
        |       CAST(list_sum(list_transform(string_split(text, ' '),
        |                w -> length(w))) AS INT)                        AS total_chars,
        |       CASE WHEN list_contains(string_split(text, ' '), 'merge')
        |            THEN 1 ELSE 0 END                                   AS has_merge
        |FROM documents ORDER BY doc_id""".stripMargin),

    // sequence/range generation (ref array/range.cpp; numbers table function)
    Q.sql2("q_fn_sequence",
      """SELECT r_regionkey, size(sequence(1, r_regionkey + 2)) AS n,
        |       aggregate(sequence(1, r_regionkey + 2), 0, (a, x) -> a + x) AS tri
        |FROM region ORDER BY r_regionkey""".stripMargin,
      """SELECT r_regionkey, CAST(len(range(1, r_regionkey + 3)) AS INT) AS n,
        |       CAST(list_sum(range(1, r_regionkey + 3)) AS INT) AS tri
        |FROM region ORDER BY r_regionkey""".stripMargin),

    // arrayJoin/explode (ref src/Functions/array/arrayJoin.cpp,
    // ArrayJoinTransform.h) — ARRAY JOIN ≈ explode + aggregate over tokens
    Q.sql2("q_array_join_explode",
      """SELECT tok, count(*) AS cnt
        |FROM (SELECT explode(split(text, ' ')) AS tok FROM documents) t
        |WHERE length(tok) > 3
        |GROUP BY tok HAVING count(*) > 100 ORDER BY tok""".stripMargin,
      """SELECT tok, count(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |WHERE length(tok) > 3
        |GROUP BY tok HAVING count(*) > 100 ORDER BY tok""".stripMargin),

    // ---- JSON family (ref FunctionsJSON.cpp JSONExtract*) ----
    Q.sql2("q_fn_json",
      """SELECT event_id,
        |       get_json_object(props, '$.k')                      AS k_str,
        |       CAST(get_json_object(props, '$.k') AS BIGINT)      AS k_int,
        |       CAST(get_json_object(props, '$.missing') IS NULL AS INT) AS miss
        |FROM events WHERE event_id <= 300 ORDER BY event_id""".stripMargin,
      """SELECT event_id,
        |       json_extract_string(props, '$.k')                  AS k_str,
        |       CAST(json_extract_string(props, '$.k') AS BIGINT)  AS k_int,
        |       CASE WHEN json_extract_string(props, '$.missing') IS NULL
        |            THEN 1 ELSE 0 END                             AS miss
        |FROM events WHERE event_id <= 300 ORDER BY event_id""".stripMargin),

    // ---- URL family (ref src/Functions/URL/: domain, path, queryString,
    // extractURLParameter) over synthesized URLs ----
    Q.sql2("q_fn_url",
      """SELECT p_partkey, url,
        |       parse_url(url, 'HOST')        AS host,
        |       parse_url(url, 'PATH')        AS path,
        |       parse_url(url, 'QUERY')       AS qs,
        |       parse_url(url, 'QUERY', 'b')  AS param_b
        |FROM (SELECT p_partkey,
        |             concat('https://shop', CAST(p_partkey % 5 AS STRING),
        |                    '.example.com/cat/', CAST(p_size AS STRING),
        |                    '?a=1&b=', CAST(p_partkey % 7 AS STRING)) AS url
        |      FROM part) t
        |ORDER BY p_partkey""".stripMargin,
      """SELECT p_partkey, url,
        |       regexp_extract(url, '^[a-z]+://([^/]+)', 1)   AS host,
        |       regexp_extract(url, '^[a-z]+://[^/]+(/[^?#]*)', 1) AS path,
        |       regexp_extract(url, '\?([^#]*)', 1)           AS qs,
        |       regexp_extract(url, '[?&]b=([^&#]*)', 1)      AS param_b
        |FROM (SELECT p_partkey,
        |             concat('https://shop', CAST(p_partkey % 5 AS VARCHAR),
        |                    '.example.com/cat/', CAST(p_size AS VARCHAR),
        |                    '?a=1&b=', CAST(p_partkey % 7 AS VARCHAR)) AS url
        |      FROM part) t
        |ORDER BY p_partkey""".stripMargin),

    // ---- hash / encoding (ref FunctionsHashing.h, base64*.cpp,
    // FunctionsBinaryRepresentation.cpp) ----
    Q.sql2("q_fn_hash",
      """SELECT p_partkey,
        |       md5(p_name)                      AS h_md5,
        |       sha2(p_name, 256)                AS h_sha256,
        |       hex(encode(p_brand, 'UTF-8'))    AS brand_hex,
        |       base64(encode(p_brand, 'UTF-8')) AS brand_b64
        |FROM part ORDER BY p_partkey""".stripMargin,
      """SELECT p_partkey,
        |       md5(p_name)                      AS h_md5,
        |       sha256(p_name)                   AS h_sha256,
        |       hex(CAST(p_brand AS BLOB))       AS brand_hex,
        |       to_base64(CAST(p_brand AS BLOB)) AS brand_b64
        |FROM part ORDER BY p_partkey""".stripMargin),

    // ---- bit functions (ref bitAnd.cpp …, bitCount.cpp) ----
    Q.sql2("q_fn_bit",
      """SELECT o_orderkey,
        |       o_orderkey & 255                  AS b_and,
        |       o_orderkey | 16                   AS b_or,
        |       CAST(o_orderkey AS INT) ^ 5       AS b_xor,
        |       shiftleft(o_orderkey, 2)          AS shl,
        |       shiftright(o_orderkey, 3)         AS shr,
        |       bit_count(o_orderkey)             AS pop
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin,
      """SELECT o_orderkey,
        |       o_orderkey & 255                  AS b_and,
        |       o_orderkey | 16                   AS b_or,
        |       CAST(xor(CAST(o_orderkey AS INT), 5) AS INT) AS b_xor,
        |       o_orderkey << 2                   AS shl,
        |       o_orderkey >> 3                   AS shr,
        |       CAST(bit_count(o_orderkey) AS INT) AS pop
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin),

    // ---- transform/value-remap (ref src/Functions/transform.cpp) ----
    Q.sql("q_fn_transform_map",
      """SELECT o_orderkey,
        |       CASE o_orderstatus WHEN 'O' THEN 'open'
        |                          WHEN 'F' THEN 'filled'
        |                          WHEN 'P' THEN 'pending'
        |                          ELSE 'other' END AS status_name
        |FROM orders WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin),

    // ---- map type surface (ref src/Functions/map.cpp; Map(K,V) §1.2) ----
    Q.sql2("q_fn_map",
      """SELECT doc_id,
        |       element_at(m, 'lang')   AS lang_v,
        |       element_at(m, 'src')    AS src_v,
        |       size(map_keys(m))       AS n_keys
        |FROM (SELECT doc_id, map('lang', lang, 'src', source) AS m
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,
      """SELECT doc_id,
        |       m['lang'][1]                     AS lang_v,
        |       m['src'][1]                      AS src_v,
        |       CAST(cardinality(m) AS INT)      AS n_keys
        |FROM (SELECT doc_id, MAP {'lang': lang, 'src': source} AS m
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin),

    // ---- struct/tuple (ref tuple.cpp, tupleElement) ----
    Q.sql2("q_fn_struct",
      """SELECT o_orderkey, s.price AS price, s.status AS status
        |FROM (SELECT o_orderkey,
        |             named_struct('price', o_totalprice,
        |                          'status', o_orderstatus) AS s
        |      FROM orders) t
        |WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin,
      """SELECT o_orderkey, s.price AS price, s.status AS status
        |FROM (SELECT o_orderkey,
        |             {'price': o_totalprice, 'status': o_orderstatus} AS s
        |      FROM orders) t
        |WHERE o_orderkey <= 300 ORDER BY o_orderkey""".stripMargin),

    // wave-2 scalar functions (ref FunctionsBinaryRepresentation.cpp,
    // dateName.cpp, extractGroups.cpp): byte-padded bin, named date
    // parts, complete-unit age, ISO week/year, match counting
    Q.df("q_fn_wave2",
      """SELECT o_orderkey,
        |  lpad(bin(CAST(o_custkey % 256 AS INT)),
        |       CAST(((length(bin(CAST(o_custkey % 256 AS INT))) + 7) // 8) * 8
        |            AS INT),
        |       '0') AS bin_key,
        |  monthname(o_orderdate) AS month_name,
        |  CAST(date_diff('day', o_orderdate,
        |                 o_orderdate + INTERVAL 40 DAY) AS BIGINT) AS age_days,
        |  CAST(week(o_orderdate) AS INT) AS iso_week,
        |  CAST(isoyear(o_orderdate) AS INT) AS iso_year,
        |  CAST(length(regexp_extract_all(o_orderpriority, '[A-Z]+'))
        |       AS BIGINT) AS n_words
        |FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey""".stripMargin) {
      (s, dir) =>
        import graft.functions.ch
        Tables.load(s, dir, "orders").filter(col("o_orderkey") <= 2000)
          .select(col("o_orderkey"),
            ch.binCh((col("o_custkey") % 256).cast("int")).as("bin_key"),
            ch.dateName("month", col("o_orderdate")).as("month_name"),
            ch.ageCh("day", col("o_orderdate"),
              date_add(col("o_orderdate"), 40)).as("age_days"),
            ch.toISOWeek(col("o_orderdate")).as("iso_week"),
            ch.toISOYear(col("o_orderdate")).as("iso_year"),
            ch.countMatches(col("o_orderpriority"), "[A-Z]+").as("n_words"))
          .orderBy("o_orderkey")
    },

    // encrypt/decrypt round trip (ref FunctionsAES.h) — the oracle is the
    // plaintext identity, which is exactly what a correct
    // decrypt(encrypt(x)) must produce
    Q.df("q_encrypt_roundtrip",
      """SELECT c_custkey, c_name AS plain FROM customer
        |ORDER BY c_custkey LIMIT 20""".stripMargin) { (s, dir) =>
      ChSql.sql(s,
        """SELECT c_custkey,
          |       CAST(decrypt('aes-128-ecb',
          |              encrypt('aes-128-ecb', c_name, '0123456789abcdef'),
          |              '0123456789abcdef') AS STRING) AS plain
          |FROM customer ORDER BY c_custkey LIMIT 20""".stripMargin, dir)
    },

    // vector norm/distance family over embeddings (ref arrayNorm.cpp,
    // arrayDistance.cpp) — DuckDB's list lambdas are the oracle
    Q.df("q_vector_norms",
      """SELECT vec_id,
        |  round(list_aggregate(list_transform(embedding,
        |        x -> abs(CAST(x AS DOUBLE))), 'sum'), 4) AS l1,
        |  round(sqrt(list_aggregate(list_transform(embedding,
        |        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')), 4)
        |    AS l2,
        |  round(list_aggregate(list_transform(embedding,
        |        x -> abs(CAST(x AS DOUBLE))), 'max'), 4) AS linf,
        |  round(pow(list_aggregate(list_transform(embedding,
        |        x -> pow(abs(CAST(x AS DOUBLE)), 3)), 'sum'),
        |        1.0/3.0), 4) AS l3
        |FROM embeddings WHERE vec_id < 50 ORDER BY vec_id""".stripMargin) {
      (s, dir) =>
      ChSql.sql(s,
        """SELECT vec_id,
          |       round(L1Norm(emb), 4) AS l1,
          |       round(L2Norm(emb), 4) AS l2,
          |       round(LinfNorm(emb), 4) AS linf,
          |       round(LpNorm(emb, 3.0), 4) AS l3
          |FROM (SELECT vec_id,
          |             transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
          |      FROM embeddings)
          |WHERE vec_id < 50 ORDER BY vec_id""".stripMargin, dir)
    },

    // Object('json') subcolumn access over events.props (SURVEY §1.1 —
    // dynamic JSON paths map to get_json_object/JSONExtract*)
    Q.df("q_json_subcolumns",
      """SELECT event_type,
        |       CAST(sum(CAST(json_extract_string(props, '$.k') AS INT))
        |            AS BIGINT) AS sk,
        |       CAST(max(CAST(json_extract_string(props, '$.k') AS INT))
        |            AS BIGINT) AS mk,
        |       count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
      ChSql.sql(s,
        """SELECT event_type,
          |       sum(JSONExtractInt(props, 'k')) AS sk,
          |       CAST(max(JSONExtractInt(props, 'k')) AS BIGINT) AS mk,
          |       count() AS n
          |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
        dir)
    },

    // H3 table-free family (functions/H3Ch.scala): the oracle pins the
    // reference's own outputs (00926/01040/01070/02155/02165 fixtures) as
    // literals — DuckDB has no H3, but the expected values are constants
    Q.df("q_h3_family",
      """SELECT * FROM (VALUES
        |  ('base_cell',   CAST(12 AS BIGINT)),
        |  ('center15',    CAST(644542512295313408 AS BIGINT)),
        |  ('is_pentagon', CAST(1 AS BIGINT)),
        |  ('is_valid',    CAST(1 AS BIGINT)),
        |  ('num_hex10',   CAST(33897029882 AS BIGINT)),
        |  ('parent0',     CAST(576918149140578303 AS BIGINT)),
        |  ('parent3',     CAST(590398848891879423 AS BIGINT)),
        |  ('res10',       CAST(10 AS BIGINT)),
        |  ('string_to',   CAST(617420388351344639 AS BIGINT))
        |) AS t(op, v) ORDER BY op""".stripMargin) { (s, dir) =>
      // outer subquery: CH binds a trailing ORDER BY to the LAST union
      // branch, so the global sort needs the wrap (same in both dialects)
      ChSql.sql(s,
        """SELECT op, v FROM (
        |SELECT 'base_cell' AS op,
        |       toInt64(h3GetBaseCell(612916788725809151)) AS v
        |UNION ALL SELECT 'center15',
        |       toInt64(h3ToCenterChild(577023702256844799, 15))
        |UNION ALL SELECT 'is_pentagon',
        |       toInt64(h3IsPentagon(stringToH3('821c07fffffffff')))
        |UNION ALL SELECT 'is_valid',
        |       toInt64(h3IsValid(581276613233082367))
        |UNION ALL SELECT 'num_hex10', toInt64(h3NumHexagons(10))
        |UNION ALL SELECT 'parent0',
        |       toInt64(h3ToParent(599405990164561919, 0))
        |UNION ALL SELECT 'parent3',
        |       toInt64(h3ToParent(599405990164561919, 3))
        |UNION ALL SELECT 'res10',
        |       toInt64(h3GetResolution(621807531097128959))
        |UNION ALL SELECT 'string_to',
        |       toInt64(stringToH3('89184926cc3ffff'))
        |) ORDER BY op""".stripMargin, dir)
    }
  )
}
