package graft.queries

import org.apache.spark.sql.functions._
import graft.ChSql

/** Aggregate-function families through the CH dialect: the weighted/
  * variant quantile family and parameterized-aggregate call syntax,
  * co-moment matrices, moment statistics (skew/kurt), sparkbar, the
  * stochastic regression family and the SQL-callable sumMap — each
  * against a DuckDB oracle that re-implements the reference semantics
  * cited in the function's Scaladoc.
  */
object AggregateQueries {

  val all: Seq[Q] = Seq(

    // exact order-statistic variants (ref QuantileExact.h): Low/High at
    // the median (differ on even counts), the discrete quantileExact pick
    // at 0.77, each per group. The oracle replays sorted[n] by list index.
    Q.df("q_quantile_exact_variants",
      """WITH g AS (SELECT l_returnflag AS rf,
        |                  list(CAST(l_quantity AS DOUBLE) ORDER BY l_quantity) AS l,
        |                  count(*) AS n
        |           FROM lineitem GROUP BY 1)
        |SELECT rf,
        |       round(l[CAST(CASE WHEN n % 2 = 1 THEN n // 2
        |                         ELSE n // 2 - 1 END AS INT) + 1], 2) AS qlow,
        |       round(l[CAST(n // 2 AS INT) + 1], 2) AS qhigh,
        |       round(l[CAST(floor(CAST(0.77 AS DOUBLE) * n) AS INT) + 1], 2)
        |         AS qexact
        |FROM g ORDER BY rf""".stripMargin) { (s, dir) =>
      ChSql.sql(s,
        """SELECT l_returnflag AS rf,
          |       round(toFloat64(quantileExactLow(0.5)(l_quantity)), 2) AS qlow,
          |       round(toFloat64(quantileExactHigh(0.5)(l_quantity)), 2) AS qhigh,
          |       round(toFloat64(quantileExact(0.77)(l_quantity)), 2) AS qexact
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin, dir)
    },

    // Inclusive (R-7, = quantile_cont) and Exclusive (R-6) interpolated
    // variants (ref QuantileExact.h QuantileExactInclusive/Exclusive):
    // the oracle restates the h = level·(n±1) arithmetic in Float64
    Q.df("q_quantile_interp_variants",
      """WITH g AS (SELECT l_returnflag AS rf,
        |                  list(CAST(l_quantity AS DOUBLE) ORDER BY l_quantity) AS l,
        |                  count(*) AS n,
        |                  quantile_cont(CAST(l_quantity AS DOUBLE), 0.77) AS qc
        |           FROM lineitem GROUP BY 1),
        |h AS (SELECT rf, l, n, qc,
        |             CAST(0.77 AS DOUBLE) * (n + 1) AS hh FROM g)
        |SELECT rf,
        |       round(qc, 4) AS qinc,
        |       round(CASE WHEN floor(hh) >= n THEN l[CAST(n AS INT)]
        |                  WHEN floor(hh) < 1 THEN l[1]
        |                  ELSE l[CAST(floor(hh) AS INT)] + (hh - floor(hh)) *
        |                       (l[CAST(floor(hh) AS INT) + 1] -
        |                        l[CAST(floor(hh) AS INT)])
        |             END, 4) AS qexc
        |FROM h ORDER BY rf""".stripMargin) { (s, dir) =>
      ChSql.sql(s,
        """SELECT l_returnflag AS rf,
          |       round(quantileExactInclusive(0.77)(l_quantity), 4) AS qinc,
          |       round(quantileExactExclusive(0.77)(l_quantity), 4) AS qexc
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin, dir)
    },

    // weighted quantiles (ref QuantileExactWeighted.h discrete pick,
    // QuantileInterpolatedWeighted.h distribution interpolation): the
    // oracle rebuilds the cumulative-weight walk with window functions
    Q.df("q_quantile_weighted_variants",
      """WITH b AS (SELECT l_returnflag AS rf,
        |                  CAST(l_quantity AS DOUBLE) AS v,
        |                  CAST(l_linenumber AS DOUBLE) AS wt
        |           FROM lineitem),
        |c AS (SELECT rf, v,
        |             sum(wt) OVER (PARTITION BY rf ORDER BY v) AS cum,
        |             ceil(CAST(0.6 AS DOUBLE) *
        |                  sum(wt) OVER (PARTITION BY rf)) AS th
        |      FROM b),
        |disc AS (SELECT rf, round(min(CASE WHEN cum >= th THEN v END), 2)
        |                  AS qw
        |         FROM c GROUP BY rf),
        |d AS (SELECT rf, v, sum(wt) AS w FROM b GROUP BY rf, v),
        |x AS (SELECT rf, v, w,
        |             sum(w) OVER (PARTITION BY rf ORDER BY v) AS cum,
        |             sum(w) OVER (PARTITION BY rf) AS tot
        |      FROM d),
        |p AS (SELECT rf, v, (cum - 0.5 * w) / tot AS xx FROM x),
        |seg AS (SELECT rf, v AS yl, xx AS xl,
        |               lead(v) OVER (PARTITION BY rf ORDER BY xx) AS yr,
        |               lead(xx) OVER (PARTITION BY rf ORDER BY xx) AS xr
        |        FROM p),
        |lim AS (SELECT rf, min(xx) AS mn, arg_min(v, xx) AS firstv,
        |               arg_max(v, xx) AS lastv
        |        FROM p GROUP BY rf),
        |itp AS (SELECT rf,
        |               max(yl + (yr - yl) * (0.5 - xl) / (xr - xl)) AS iv
        |        FROM seg WHERE xl <= 0.5 AND xr >= 0.5 GROUP BY rf)
        |SELECT l.rf AS rf, disc.qw AS qw,
        |       round(coalesce(itp.iv,
        |             CASE WHEN 0.5 < l.mn THEN l.firstv ELSE l.lastv END), 4)
        |         AS qi
        |FROM lim l
        |LEFT JOIN itp ON l.rf = itp.rf
        |JOIN disc ON l.rf = disc.rf
        |ORDER BY rf""".stripMargin) { (s, dir) =>
      ChSql.sql(s,
        """SELECT l_returnflag AS rf,
          |       round(toFloat64(quantileExactWeighted(0.6)(l_quantity,
          |             l_linenumber)), 2) AS qw,
          |       round(toFloat64(quantileInterpolatedWeighted(0.5)(
          |             l_quantity, l_linenumber)), 4) AS qi
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin, dir)
    },

    // quantileTimingWeighted (ref QuantileTiming.h): value discretization
    // (exact < 1024, 16-wide buckets to 30000) + element at rank
    // floor(level·N) of the weight-expanded multiset
    Q.df("q_quantile_timing_weighted",
      """WITH b AS (SELECT user_id % 4 AS g,
        |                  CASE WHEN event_id % 5000 > 30000 THEN 30000
        |                       WHEN event_id % 5000 < 1024 THEN event_id % 5000
        |                       ELSE 1024 + ((event_id % 5000 - 1024) // 16) * 16
        |                  END AS v,
        |                  CAST(event_id % 7 + 1 AS DOUBLE) AS wt
        |           FROM events),
        |c AS (SELECT g, v,
        |             sum(wt) OVER (PARTITION BY g ORDER BY v) AS cum,
        |             floor(CAST(0.9 AS DOUBLE) *
        |                   sum(wt) OVER (PARTITION BY g)) + 1 AS r
        |      FROM b)
        |SELECT g, CAST(min(CASE WHEN cum >= r THEN v END) AS DOUBLE) AS qt
        |FROM c GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
      ChSql.sql(s,
        """SELECT user_id % 4 AS g,
          |       quantileTimingWeighted(0.9)(event_id % 5000,
          |                                   event_id % 7 + 1) AS qt
          |FROM events GROUP BY user_id % 4
          |ORDER BY g""".stripMargin, dir)
    },

    // co-moment matrix family (ref AggregateFunctionVarianceMatrix.cpp):
    // the oracle assembles pairwise corr()/covar_pop() into the same
    // flattened upper-row form
    Q.df("q_corr_matrix",
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS c12,
        |       round(corr(l_quantity, l_discount), 6) AS c13,
        |       round(corr(l_extendedprice, l_discount), 6) AS c23,
        |       round(covar_pop(l_quantity, l_extendedprice), 4) AS p12,
        |       round(covar_samp(l_quantity, l_discount), 6) AS s13
        |FROM lineitem""".stripMargin) { (s, dir) =>
      ChSql.sql(s,
        """SELECT round(corrMatrix(l_quantity, l_extendedprice,
          |                        l_discount)[1][2], 6) AS c12,
          |       round(corrMatrix(l_quantity, l_extendedprice,
          |                        l_discount)[1][3], 6) AS c13,
          |       round(corrMatrix(l_quantity, l_extendedprice,
          |                        l_discount)[2][3], 6) AS c23,
          |       round(covarPopMatrix(l_quantity,
          |                        l_extendedprice)[1][2], 4) AS p12,
          |       round(covarSampMatrix(l_quantity,
          |                        l_discount)[1][2], 6) AS s13
          |FROM lineitem""".stripMargin, dir)
    },

    // sparkbar re-expressed in DuckDB SQL (bucket index, integer-division
    // bucket average, 7-level scaling — AggregateFunctionSparkbar.h
    // semantics hold in plain SQL because y here is always positive, so
    // the auto range equals min/max of the grouped points); stem's output
    // on a constant input is a constant
    Q.df("q_sparkbar_stem",
      """WITH pts AS (
        |  SELECT user_id % 50 AS x, SUM(event_id % 100 + 1) AS y
        |  FROM events GROUP BY 1
        |), rng AS (
        |  SELECT MIN(x) AS fromx, MAX(x) AS tox FROM pts
        |), hist AS (
        |  SELECT LEAST(CAST(trunc(10.0 / (tox - fromx + 1) * (x - fromx))
        |           AS BIGINT), 9) AS idx,
        |         SUM(y) // COUNT(*) AS v
        |  FROM pts, rng GROUP BY 1
        |), buckets AS (
        |  SELECT CAST(i AS BIGINT) AS i, COALESCE(v, 0) AS v
        |  FROM (SELECT unnest(range(0, 10)) AS i) ix
        |  LEFT JOIN hist ON idx = i
        |)
        |SELECT string_agg(CASE WHEN v <= 0 THEN ' '
        |    ELSE substring(' ▁▂▃▄▅▆▇█',
        |      CAST(v * 7 // (SELECT MAX(v) FROM buckets WHERE v > 0) + 1
        |        AS INT) + 1, 1) END, '' ORDER BY i) AS bar,
        |  'collect' AS st
        |FROM buckets""".stripMargin) { (s, dir) =>
      ChSql.sql(s,
        """SELECT sparkbar(10)(user_id % 50, event_id % 100 + 1) AS bar,
          |       stem('en', 'collection') AS st
          |FROM events""".stripMargin, dir)
    },

    // stochastic regression family (functions/MLRegression.scala): the
    // linear path is closed-form ridge — deterministic, so the exact
    // prediction on exact planar data is a pinnable constant (the value
    // the reference's SGD converges toward; no cross-engine SGD oracle
    // is possible). lineitem-derived planar target keeps it on fixtures.
    Q.df("q_ml_regression",
      "SELECT CAST(32.0 AS DOUBLE) AS p") { (s, dir) =>
      import org.apache.spark.sql.functions._
      graft.Tables.register(s, dir)
      s.range(400).select(
        (col("id") % 20).cast("double").as("x1"),
        (col("id") / 20).cast("double").as("x2"))
        .withColumn("y", col("x1") * 2 + col("x2") * 3 + 1)
        .createOrReplaceTempView("mlr_q")
      ChSql.sql(s,
        """WITH (SELECT stochasticLinearRegression(0.1, 0.0, 5, 'SGD')(y, x1, x2)
          |      FROM mlr_q) AS model
          |SELECT round(evalMLMethod(model, 5.0, 7.0), 4) AS p""".stripMargin,
        dir)
    },

    // skewPop/skewSamp/kurtPop/kurtSamp (ref
    // AggregateFunctionsStatisticsSimple.h) — runs through ChSql so the
    // SQL-registered CH names are what's exercised; the oracle computes
    // the same statistics from raw power sums in DuckDB
    Q.df("q_skew_kurt",
      """WITH m AS (
        |  SELECT l_returnflag,
        |         CAST(count(*) AS DOUBLE) AS n,
        |         avg(l_quantity) AS m1,
        |         avg(l_quantity * l_quantity) AS m2,
        |         avg(pow(l_quantity, 3)) AS m3,
        |         avg(pow(l_quantity, 4)) AS m4
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag,
        |  round((m3 - 3*m1*m2 + 2*pow(m1,3)) / pow(m2 - m1*m1, 1.5), 6)
        |    AS skew_pop,
        |  round(((m3 - 3*m1*m2 + 2*pow(m1,3)) * n/(n-1))
        |        / pow((m2 - m1*m1) * n/(n-1), 1.5), 6) AS skew_samp,
        |  round((m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*pow(m1,4))
        |        / pow(m2 - m1*m1, 2), 6) AS kurt_pop,
        |  round(((m4 - 4*m1*m3 + 6*m1*m1*m2 - 3*pow(m1,4)) * n/(n-1))
        |        / pow((m2 - m1*m1) * n/(n-1), 2), 6) AS kurt_samp
        |FROM m ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
      ChSql.sql(s,
        """SELECT l_returnflag,
          |       round(skewPop(l_quantity), 6) AS skew_pop,
          |       round(skewSamp(l_quantity), 6) AS skew_samp,
          |       round(kurtPop(l_quantity), 6) AS kurt_pop,
          |       round(kurtSamp(l_quantity), 6) AS kurt_samp
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin, dir)
    },

    // CH parameterized-aggregate call syntax through the dialect shim
    // (ref ASTFunction.h `parameters`): quantile(p)(x) and
    // quantileExactWeighted(p)(x, w); the weighted oracle replays the
    // reference's DISCRETE pick — first value whose cumulative weight
    // reaches ceil(level·W) (ref QuantileExactWeighted.h get)
    Q.df("q_quantile_param",
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.9), 2) AS p90,
        |       (SELECT round(v, 2) FROM (
        |          SELECT l_extendedprice AS v,
        |                 sum(l_linenumber) OVER (ORDER BY l_extendedprice) AS c,
        |                 ceil(0.5 * sum(l_linenumber) OVER ()) AS th
        |          FROM lineitem l WHERE l.l_returnflag = o.l_returnflag)
        |        WHERE c >= th ORDER BY v LIMIT 1) AS wmed
        |FROM lineitem o GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
      ChSql.sql(s,
        """SELECT l_returnflag,
          |       round(quantile(0.9)(l_extendedprice), 2) AS p90,
          |       round(quantileExactWeighted(0.5)(l_extendedprice,
          |             l_linenumber), 2) AS wmed
          |FROM lineitem GROUP BY l_returnflag
          |ORDER BY l_returnflag""".stripMargin, dir)
    },

    // sumMap as a SQL-callable aggregate (ref AggregateFunctionSumMap.h):
    // the drop-in name collects the per-group pair list and fans keys out
    // in the finishing expression — the SCALABLE formulation for huge
    // groups stays explode+groupBy (q_sum_map); this pins the CH-shaped
    // (sorted keys, values) tuple surface
    Q.df("q_summap_sql",
      """SELECT l_returnflag,
        |       array_to_string(list(l_linestatus ORDER BY l_linestatus), ',')
        |         AS ks,
        |       array_to_string(list(CAST(round(s, 2) AS VARCHAR)
        |                            ORDER BY l_linestatus), ',') AS vs
        |FROM (SELECT l_returnflag, l_linestatus,
        |             sum(CAST(l_quantity AS DOUBLE)) AS s
        |      FROM lineitem GROUP BY l_returnflag, l_linestatus)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) {
      (s, dir) =>
      ChSql.sql(s,
        """SELECT l_returnflag,
          |       array_join(m.keys, ',') AS ks,
          |       array_join(transform(m.values,
          |                    x -> CAST(round(x, 2) AS STRING)), ',') AS vs
          |FROM (SELECT l_returnflag,
          |             sumMap(array(l_linestatus),
          |                    array(CAST(l_quantity AS DOUBLE))) AS m
          |      FROM lineitem GROUP BY l_returnflag)
          |ORDER BY l_returnflag""".stripMargin, dir)
    }
  )
}
