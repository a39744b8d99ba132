package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.GraphiteRollup

/** Aggregate-combinator and remaining engine-family coverage
  * (SURVEY §2.4 combinators, §2.1 VersionedCollapsing and Graphite; ref
  * registerAggregateFunctions.cpp:84-94).
  */
object CombinatorQueries {

  val all: Seq[Q] = Seq(

    // -Distinct combinator: sumDistinct/avgDistinct
    Q.sql("q_agg_distinct",
      """SELECT l_returnflag,
        |       round(sum(DISTINCT l_quantity), 2) AS sum_d,
        |       round(avg(DISTINCT l_quantity), 4) AS avg_d,
        |       count(DISTINCT l_quantity)         AS n_d
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // -Array combinator: aggregate over array elements (explode path)
    Q.sql2("q_agg_array",
      """SELECT lang,
        |       CAST(sum(size(split(text, ' '))) AS BIGINT) AS total_tokens,
        |       CAST(max(size(split(text, ' '))) AS INT)    AS max_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
      """SELECT lang,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       CAST(max(len(string_split(text, ' '))) AS INT)    AS max_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // groupArrayMovingAvg/MovingSum (ref AggregateFunctionMovingAvg) —
    // windowed forms
    Q.sql("q_moving_agg",
      """SELECT o_custkey, o_orderkey,
        |       round(avg(o_totalprice) OVER w, 4) AS moving_avg,
        |       round(sum(o_totalprice) OVER w, 2) AS moving_sum
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // deltaSum (ref AggregateFunctionDeltaSum): sum of positive deltas in
    // order — lag window + conditional sum
    Q.sql("q_delta_sum",
      """SELECT user_id, round(sum(CASE WHEN d > 0 THEN d ELSE 0 END), 4)
        |         AS delta_sum
        |FROM (SELECT user_id,
        |             value - lag(value) OVER (PARTITION BY user_id
        |                                      ORDER BY ts, event_id) AS d
        |      FROM events) t
        |GROUP BY user_id ORDER BY user_id""".stripMargin),

    // VersionedCollapsingMergeTree (ref VersionedCollapsingSortedAlgorithm):
    // cancel sign pairs per (key, version), keep uncancelled state rows
    Q.sql("q_versioned_collapsing",
      """SELECT user_id, version, CAST(sum(sign) AS BIGINT) AS net
        |FROM (SELECT user_id, event_id % 5 AS version,
        |             CASE WHEN event_id % 2 = 0 THEN 1 ELSE -1 END AS sign
        |      FROM events) t
        |GROUP BY user_id, version HAVING sum(sign) <> 0
        |ORDER BY user_id, version""".stripMargin),

    // Object('json') dynamic subcolumns (ref DataTypeObject.h §1.2):
    // typed extraction from the JSON column
    Q.sql2("q_json_object",
      """SELECT event_id, j.k AS k
        |FROM (SELECT event_id, from_json(props, 'k INT') AS j FROM events) t
        |WHERE event_id <= 200 ORDER BY event_id""".stripMargin,
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events WHERE event_id <= 200 ORDER BY event_id""".stripMargin),

    // anyLast/any per group with deterministic order (ref
    // AggregateFunctionAny) — first/last value by explicit ordering
    Q.sql2("q_any_last",
      """SELECT user_id,
        |       min_by(event_type, struct(ts, event_id))  AS first_event,
        |       max_by(event_type, struct(ts, event_id))  AS last_event
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
      """SELECT user_id,
        |       first(event_type ORDER BY ts, event_id) AS first_event,
        |       last(event_type ORDER BY ts, event_id)  AS last_event
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // -OrDefault / -OrNull combinators (ref AggregateFunctionOrFill.h):
    // sum over an empty selection yields the fill value, not NULL/0-row
    Q.df("q_agg_or_default",
      """SELECT CAST(coalesce(sum(CASE WHEN l_quantity > 1000 THEN l_quantity END), 0)
        |            AS BIGINT) AS sum_or_default,
        |       CAST(CASE WHEN count(CASE WHEN l_quantity > 1000 THEN 1 END) = 0
        |                 THEN NULL
        |                 ELSE count(CASE WHEN l_quantity > 1000 THEN 1 END)
        |            END AS BIGINT) AS count_or_null,
        |       round(coalesce(avg(CASE WHEN l_quantity > 30 THEN l_quantity END),
        |                      -1.0), 4) AS avg_populated
        |FROM lineitem""".stripMargin) { (s, dir) =>
      import graft.functions.Combinators
      val li = Tables.load(s, dir, "lineitem")
      val over1000 = col("l_quantity") > 1000
      li.agg(
        Combinators.orDefault(sum(when(over1000, col("l_quantity"))), lit(0))
          .cast("bigint").as("sum_or_default"),
        Combinators.countOrNull(over1000).cast("bigint").as("count_or_null"),
        round(Combinators.orDefault(
          avg(when(col("l_quantity") > 30, col("l_quantity"))), lit(-1.0)), 4)
          .as("avg_populated"))
    },

    // -Resample combinator (ref AggregateFunctionResample.h):
    // sumResample(0, 50, 10)(l_extendedprice, l_quantity) — one aggregate
    // per quantity bucket in a single aggregation pass; array projected to
    // a joined string for the driver comparator
    Q.df("q_agg_resample",
      """SELECT concat_ws(',',
        |  CAST(round(sum(CASE WHEN l_quantity >= 0  AND l_quantity < 10 THEN l_extendedprice END), 2) AS DECIMAL(18,2)),
        |  CAST(round(sum(CASE WHEN l_quantity >= 10 AND l_quantity < 20 THEN l_extendedprice END), 2) AS DECIMAL(18,2)),
        |  CAST(round(sum(CASE WHEN l_quantity >= 20 AND l_quantity < 30 THEN l_extendedprice END), 2) AS DECIMAL(18,2)),
        |  CAST(round(sum(CASE WHEN l_quantity >= 30 AND l_quantity < 40 THEN l_extendedprice END), 2) AS DECIMAL(18,2)),
        |  CAST(round(sum(CASE WHEN l_quantity >= 40 AND l_quantity < 50 THEN l_extendedprice END), 2) AS DECIMAL(18,2))
        |  ) AS sums FROM lineitem""".stripMargin) { (s, dir) =>
      import graft.functions.Combinators
      val li = Tables.load(s, dir, "lineitem")
      val arr = Combinators.resample(col("l_quantity"), 0, 50, 10)(c =>
        round(sum(when(c, col("l_extendedprice"))), 2)
          .cast("decimal(18,2)").cast("string"))
      li.agg(array_join(arr, ",").as("sums"))
    },

    // quantileTDigest/percentile_approx (ref QuantileTDigest.h:52) —
    // sketch internals differ engine-to-engine → rows-only; the spec
    // asserts relative error vs exact percentile
    Q.dfOnly("q_quantile_approx") { (s, dir) =>
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000))
          .as("p50_approx"))
        .orderBy("l_returnflag")
    },

    // sumCount (ref AggregateFunctionSumCount.h): (sum, count) tuple in
    // one pass; projected to columns for the comparator
    Q.df("q_sum_count",
      """SELECT l_returnflag,
        |       round(sum(l_quantity), 2)  AS sc_sum,
        |       count(l_quantity)          AS sc_count
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
      import graft.functions.NicheAggs
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(NicheAggs.sumCount(col("l_quantity")).as("sc"))
        .select(col("l_returnflag"),
          round(col("sc.sum"), 2).as("sc_sum"),
          col("sc.count").as("sc_count"))
        .orderBy("l_returnflag")
    },

    // singleValueOrNull (ref AggregateFunctionMinMaxAny.h): the value if
    // the group has exactly one distinct value, else NULL
    Q.df("q_single_value",
      """SELECT l_orderkey,
        |       CASE WHEN count(DISTINCT l_returnflag) = 1
        |            THEN min(l_returnflag) END AS sv
        |FROM lineitem WHERE l_orderkey < 1000
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin) { (s, dir) =>
      import graft.functions.NicheAggs
      Tables.load(s, dir, "lineitem").filter(col("l_orderkey") < 1000)
        .groupBy("l_orderkey")
        .agg(NicheAggs.singleValueOrNull(col("l_returnflag")).as("sv"))
        .orderBy("l_orderkey")
    },

    // anyHeavy (ref AggregateFunctionMinMaxAny.h AnyHeavyData): heavy
    // hitter — deterministic exactly when a true majority exists, which
    // the 80/20 split below guarantees; both sides compute the mode
    Q.df("q_any_heavy",
      """SELECT l_returnflag,
        |       mode(CASE WHEN l_quantity <= 40 THEN 'common'
        |                 ELSE 'rare-' || CAST(l_linenumber AS VARCHAR) END)
        |         AS heavy
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
      import graft.functions.NicheAggs
      Tables.load(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(NicheAggs.anyHeavy(
          when(col("l_quantity") <= 40, lit("common"))
            .otherwise(concat(lit("rare-"),
              col("l_linenumber").cast("string")))).as("heavy"))
        .orderBy("l_returnflag")
    },

    // intervalLengthSum (ref AggregateFunctionIntervalLengthSum.h): union
    // length of the group's intervals, overlaps merged. Integer intervals
    // derived from event_id so both sides are exact.
    Q.df("q_interval_sum",
      """WITH iv AS (SELECT user_id, event_id % 1000 AS b,
        |                   (event_id % 1000) + (event_id % 13) AS e
        |            FROM events WHERE event_id % 13 <> 0),
        |w AS (SELECT user_id, b, e,
        |             max(e) OVER (PARTITION BY user_id ORDER BY b, e
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |               AS pmax
        |      FROM iv)
        |SELECT user_id,
        |       CAST(sum(greatest(e - greatest(b, coalesce(pmax, b)), 0))
        |            AS BIGINT) AS ilen
        |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import graft.functions.NicheAggs
      Tables.load(s, dir, "events")
        .filter(col("event_id") % 13 =!= 0)
        .select(col("user_id"), (col("event_id") % 1000).as("b"),
          ((col("event_id") % 1000) + (col("event_id") % 13)).as("e"))
        .groupBy("user_id")
        .agg(NicheAggs.intervalLengthSum(col("b"), col("e"))
          .cast("bigint").as("ilen"))
        .orderBy("user_id")
    },

    // boundingRatio (ref AggregateFunctionBoundingRatio.h): slope between
    // the leftmost and rightmost (x, y) points; event_id is unique per
    // group so the endpoints are well-defined
    Q.df("q_bounding_ratio",
      """SELECT user_id,
        |       round((arg_max(value, event_id) - arg_min(value, event_id)) /
        |             (max(event_id) - min(event_id)), 6) AS br
        |FROM events GROUP BY user_id HAVING count(*) > 1
        |ORDER BY user_id""".stripMargin) { (s, dir) =>
      import graft.functions.NicheAggs
      Tables.load(s, dir, "events")
        .groupBy("user_id")
        .agg(round(NicheAggs.boundingRatio(col("event_id"), col("value")), 6)
          .as("br"), count(lit(1)).as("n"))
        .filter(col("n") > 1).drop("n")
        .orderBy("user_id")
    },

    // maxIntersections (ref AggregateFunctionMaxIntersections.h): peak
    // number of simultaneously overlapping intervals, endpoint sweep
    // sorted by (position, weight) so touching intervals don't intersect
    Q.df("q_max_intersections",
      """WITH iv AS (SELECT user_id, event_id % 1000 AS b,
        |                   (event_id % 1000) + (event_id % 13) AS e
        |            FROM events WHERE event_id % 13 <> 0),
        |pts AS (SELECT user_id, b AS p, 1 AS d FROM iv
        |        UNION ALL SELECT user_id, e, -1 FROM iv),
        |r AS (SELECT user_id, sum(d) OVER (PARTITION BY user_id
        |          ORDER BY p, d ROWS UNBOUNDED PRECEDING) AS run
        |      FROM pts)
        |SELECT user_id, CAST(max(run) AS BIGINT) AS mi
        |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import graft.functions.NicheAggs
      Tables.load(s, dir, "events")
        .filter(col("event_id") % 13 =!= 0)
        .select(col("user_id"), (col("event_id") % 1000).as("b"),
          ((col("event_id") % 1000) + (col("event_id") % 13)).as("e"))
        .groupBy("user_id")
        .agg(NicheAggs.maxIntersections(col("b"), col("e")).as("mi"))
        .orderBy("user_id")
    },

    // groupArrayLast(n): ring buffer of the last n values in RAW slot
    // order (ref AggregateFunctionGroupArray.h last semantics) — slot j
    // holds the newest element with insert index ≡ j (mod n). Input is
    // sorted single-partition so insertion order is deterministic.
    Q.df("q_group_array_last",
      """WITH e AS (SELECT user_id, event_id,
        |            row_number() OVER (PARTITION BY user_id
        |                               ORDER BY event_id) - 1 AS idx,
        |            count(*) OVER (PARTITION BY user_id) AS m
        |     FROM events WHERE user_id < 5)
        |SELECT user_id,
        |       array_to_string(
        |         CASE WHEN max(m) <= 5
        |              THEN list(event_id ORDER BY idx)
        |              ELSE list(event_id ORDER BY idx % 5)
        |         END, ',') AS ring
        |FROM e WHERE idx >= m - 5 OR m <= 5
        |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      import graft.functions.NicheAggs
      // Serialized to CSV text: the driver's pandas comparator cannot
      // sort bare array cells, so both sides emit a scalar string.
      Tables.load(s, dir, "events").filter(col("user_id") < 5)
        .orderBy("user_id", "event_id").coalesce(1)
        .groupBy("user_id")
        .agg(array_join(NicheAggs.groupArrayLast(col("event_id"), lit(5))
          .cast("array<string>"), ",").as("ring"))
        .orderBy("user_id")
    },

    // analysisOfVariance (ref AggregateFunctionAnalysisOfVariance.h):
    // one-way ANOVA F statistic; DuckDB recomputes it from two-level
    // aggregation (no F CDF there, so the p-value is spec-covered)
    Q.df("q_anova",
      """WITH g AS (SELECT event_id % 3 AS grp, value FROM events),
        |per AS (SELECT grp, count(*) AS c, avg(value) AS m
        |        FROM g GROUP BY grp),
        |tot AS (SELECT count(*) AS n, avg(value) AS gm,
        |               count(DISTINCT grp) AS k FROM g),
        |b AS (SELECT sum(c * (m - gm) * (m - gm)) AS ssb,
        |             max(k) AS k, max(n) AS n FROM per, tot),
        |w AS (SELECT sum((value - m) * (value - m)) AS ssw
        |      FROM g JOIN per USING (grp))
        |SELECT round((b.ssb / (b.k - 1)) / (w.ssw / (b.n - b.k)), 4)
        |         AS f_stat
        |FROM b, w""".stripMargin) { (s, dir) =>
      import graft.functions.{AnovaAgg}
      import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
      val an = udaf(new AnovaAgg, ExpressionEncoder[(Double, Long)]())
      Tables.load(s, dir, "events")
        .agg(an(col("value").cast("double"), col("event_id") % 3).as("a"))
        .select(round(col("a._1"), 4).as("f_stat"))
    },

    // -OrDefault combinator through the chain synthesizer (ref
    // AggregateFunctionOrFill.h kind=kDefault): an empty -If selection
    // yields the return type's default, not NULL — exercises
    // ChDefaultIfNull where plain sum's zero-coalesce doesn't apply
    Q.df("q_or_default_chain",
      """SELECT coalesce(min(CASE WHEN l_quantity > 100000
        |                         THEN CAST(l_quantity AS DOUBLE) END), 0)
        |         AS min_or_default,
        |       coalesce(max(CASE WHEN l_quantity > 100000
        |                         THEN CAST(l_quantity AS DOUBLE) END), 0)
        |         AS max_or_default
        |FROM lineitem""".stripMargin) { (s, dir) =>
      import graft.functions.CombinatorChain
      Tables.load(s, dir, "lineitem")
        .agg(
          CombinatorChain.build("minIfOrDefault",
            Seq(col("l_quantity").cast("double"),
              col("l_quantity") > 100000)).as("min_or_default"),
          CombinatorChain.build("maxIfOrDefault",
            Seq(col("l_quantity").cast("double"),
              col("l_quantity") > 100000)).as("max_or_default"))
    },

    // GraphiteMergeTree retention rollup (ref
    // GraphiteRollupSortedAlgorithm.h): 1-minute buckets under a day old,
    // hourly to a week, daily beyond — one CASE projection + one hash agg
    Q.df("q_graphite_rollup",
      """WITH b AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) AS ep,
        |         CAST(floor(epoch(TIMESTAMP '2024-01-31 12:00:00'))
        |              AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) AS age,
        |         value
        |  FROM events)
        |SELECT event_type,
        |       CASE WHEN age >= 604800 THEN ep - ep % 86400
        |            WHEN age >= 86400  THEN ep - ep % 3600
        |            ELSE ep - ep % 60 END AS bucket,
        |       round(avg(value), 4) AS v
        |FROM b GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin) { (s, dir) =>
      val rolled = GraphiteRollup.rollup(
        Tables.load(s, dir, "events"),
        pathCol = "event_type", timeCol = "ts", valueCol = "value",
        retentions = Seq((0L, 60L), (86400L, 3600L), (604800L, 86400L)),
        aggFn = "avg", now = lit("2024-01-31 12:00:00").cast("timestamp"))
      rolled.select(col("event_type"), col("ts").as("bucket"),
          round(col("value"), 4).as("v"))
        .orderBy("event_type", "bucket")
    }
  )
}
