"""Event/session/graph queries.

Split out of the monolithic harness.py (registration order preserved
within each family; see harness/__init__.py for the module order).
"""
from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window

from whatsapp_vectordb_spark.session import local_df
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    euclidean_distance,
    l2_norm,
)
from whatsapp_vectordb_spark.operators.search import topk, topk_batched

from whatsapp_vectordb_spark.harness._core import ORACLES, _events, _oracle_scratch, _register, _t  # noqa: E501



# ==========================================================================
# Event-time windowed aggregation over `events` — the batch twin of the
# Structured Streaming pipeline in streaming/ops.py (same window semantics;
# the streaming variant adds a watermark). Window starts are emitted as
# formatted strings for engine-portable hashing.
# ==========================================================================


@_register(
    "events_hourly_windows",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def events_hourly_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@_register(
    "events_sessionized_counts",
    """
WITH t AS (
  SELECT user_id, ts, event_id,
         CASE WHEN LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                      > 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
s AS (SELECT user_id, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM t)
SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
FROM s GROUP BY user_id
""",
)
def events_sessionized_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.events import sessionized_counts

    return sessionized_counts(_events(spark, sf_dir), gap_minutes=30)


@_register(
    "events_session_windows",
    """
WITH t AS (SELECT user_id, ts, event_id, value FROM events),
m AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w >= 1800000000
              THEN 1 ELSE 0 END AS brk
  FROM t
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts, value,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM m
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(MAX(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM s GROUP BY user_id, sid
""",
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (``F.session_window``, 30-min gap): the
    streaming-capable sessionizer — on a stream this exact expression runs
    with watermark-evicted state; here the batch result is checked against
    a gaps-and-islands oracle. Session end = last event + gap, and an
    event landing exactly on the closing boundary opens a NEW session
    (Spark's [start, end) contract — the oracle breaks on >= gap)."""
    ev = _events(spark, sf_dir)
    agg = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
    return agg.select(
        "user_id",
        F.date_format("w.start", _TS_FMT_SPARK).alias("session_start"),
        F.date_format("w.end", _TS_FMT_SPARK).alias("session_end"),
        "n_events",
        "sum_value",
    )


_HLL_M = 1024
_HLL_ALPHA = 0.7213 / (1 + 1.079 / _HLL_M)  # identical literal in both engines

# Engine-portable HyperLogLog: registers from the portable md5 hash, the
# harmonic sum as an EXACT integer sum of 2^(W+1-rho_max) — bit-identical
# across engines (unlike approx_count_distinct, whose registers are
# engine-private). ltrim-of-bin gives the 1-based first-one-bit rank with
# no float log2 in either engine.
@_register(
    "events_hll_users",
    f"""
WITH h AS (
  SELECT ('0x' || substr(md5('0:' || CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
),
r AS (SELECT h % {_HLL_M} AS bucket, (h >> 10) & ((1::BIGINT << 44) - 1) AS rest FROM h),
rho AS (
  SELECT bucket,
         CASE WHEN rest = 0 THEN 45 ELSE 44 - length(ltrim(bin(rest), '0')) + 1 END AS rho
  FROM r
),
maxes AS (SELECT bucket, MAX(rho) AS rho_max FROM rho GROUP BY bucket),
filled AS (
  SELECT b.b AS bucket, COALESCE(m.rho_max, 0) AS rho_max
  FROM range(0, {_HLL_M}) b(b) LEFT JOIN maxes m ON m.bucket = b.b
),
agg AS (
  SELECT SUM(1::BIGINT << (45 - rho_max)) AS s,
         SUM(CASE WHEN rho_max = 0 THEN 1 ELSE 0 END) AS zeros
  FROM filled
),
est AS (
  SELECT CASE WHEN (CAST({(_HLL_ALPHA * _HLL_M * _HLL_M) * float(1 << 45)!r} AS DOUBLE) / s) <= CAST({2.5 * _HLL_M!r} AS DOUBLE)
                   AND zeros > 0
              THEN CAST({_HLL_M} AS DOUBLE) * ln(CAST({_HLL_M} AS DOUBLE) / zeros)
              ELSE CAST({(_HLL_ALPHA * _HLL_M * _HLL_M) * float(1 << 45)!r} AS DOUBLE) / s
         END AS e
  FROM agg
)
SELECT ROUND(e, 4) AS hll_estimate,
       (SELECT COUNT(DISTINCT user_id) FROM events) AS exact_distinct
FROM est
""",
)
def events_hll_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate distinct users via the portable HLL sketch, alongside
    the exact count — the profiling aggregate a 100 TB corpus runs
    per-partition and merges with MAX(register)."""
    from whatsapp_vectordb_spark.operators.sketches import hll_distinct_estimate

    ev = _events(spark, sf_dir)
    est = hll_distinct_estimate(ev, "user_id", log2m=10)
    exact = ev.agg(F.countDistinct("user_id").alias("exact_distinct"))
    return est.crossJoin(exact)


# ==========================================================================
# As-of join (operators/asof.py): latest purchase at-or-before each click,
# per user. Oracle: DuckDB's native ASOF LEFT JOIN.
# ==========================================================================

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


@_register(
    "events_asof_purchase",
    f"""
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase')
SELECT c.event_id, c.user_id,
       strftime(c.ts, '{_TS_FMT_DUCK}') AS click_ts,
       strftime(p.ts, '{_TS_FMT_DUCK}') AS purchase_ts
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
""",
)
def events_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "ts")
    joined = asof_join(clicks, purchases, on="user_id", left_ts="ts", right_ts="ts")
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("click_ts"),
        F.date_format("ts_matched", _TS_FMT_SPARK).alias("purchase_ts"),
    )


# ==========================================================================
# Bucketed range join (operators/rangejoin.py): clicks within the 5 minutes
# before each error, per user — an equi-join on (key, time-bucket) + exact
# range filter, never a nested-loop inequality join.
# ==========================================================================


@_register(
    "events_range_join",
    """
WITH e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'),
     c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
SELECT e.event_id, COUNT(c.ts) AS n_recent_clicks
FROM e LEFT JOIN c
  ON c.user_id = e.user_id
 AND c.ts >= e.ts - INTERVAL 5 MINUTE AND c.ts <= e.ts
GROUP BY e.event_id
""",
)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.rangejoin import interval_join

    ev = _events(spark, sf_dir)
    errors = ev.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = ev.where(F.col("event_type") == "click").select("user_id", "ts")
    pairs = interval_join(errors, clicks, on="user_id", lower_s=-300.0, upper_s=0.0)
    counts = pairs.groupBy("event_id").agg(F.count("*").alias("n_recent_clicks"))
    return (
        errors.select("event_id")
        .join(counts, "event_id", "left")
        .select("event_id", F.coalesce("n_recent_clicks", F.lit(0)).alias("n_recent_clicks"))
    )


# ==========================================================================
# Sliding (hopping) event-time windows + numeric distribution queries.
# ==========================================================================


@_register(
    "events_sliding_windows",
    """
WITH x AS (
  SELECT ts, event_type, value, unnest([0, 1, 2, 3]) AS i FROM events
),
w AS (
  SELECT make_timestamp((epoch_us(ts) - epoch_us(ts) % 900000000) - CAST(i AS BIGINT) * 900000000) AS ws,
         event_type, value
  FROM x
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS sum_value
FROM w GROUP BY 1, 2
""",
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows hopping every 15 minutes: each event lands in 4
    overlapping windows — Spark's F.window(slideDuration) expansion, the
    same operator Structured Streaming uses for hopping aggregations."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


# Ordered funnel: first view → first click AFTER it → first purchase
# AFTER that, per user; the sequential-pattern query every event
# analytics stack needs. Three tiny per-user min-aggregates chained by
# time inequality joins — each stage's frame is |users| rows, so the
# chain broadcasts; timestamps compare as epoch micros (exact integers).
@_register(
    "events_funnel",
    """
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY 1
),
c AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.t1
  GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.t2
  GROUP BY 1
)
SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
       (SELECT COUNT(*) FROM c) AS n_clicked_after,
       (SELECT COUNT(*) FROM p) AS n_purchased_after
""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("tus").alias("t1"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(F.broadcast(v), "user_id")
        .where(F.col("tus") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t2"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(F.broadcast(c), "user_id")
        .where(F.col("tus") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("tus").alias("t3"))
    )
    return (
        v.agg(F.count("*").alias("n_viewed"))
        .crossJoin(c.agg(F.count("*").alias("n_clicked_after")))
        .crossJoin(p.agg(F.count("*").alias("n_purchased_after")))
    )


# Robust outlier detection: |value − median| > 3·1.4826·MAD (the MAD
# z-score with the normal-consistency constant, folded to one literal
# 4.4478 so both engines associate identically). Median/MAD resist the
# very outliers they detect — the right data-quality gate for a corpus
# where mean/stddev would be dragged by the tail.
@_register(
    "events_value_outliers",
    """
WITH e AS (SELECT event_type, value FROM events WHERE value IS NOT NULL),
med AS (SELECT event_type, quantile_cont(value, 0.5) AS med FROM e GROUP BY 1),
j AS (
  SELECT e.event_type, e.value, abs(e.value - m.med) AS absdev
  FROM e JOIN med m ON m.event_type = e.event_type
),
mad AS (SELECT event_type, quantile_cont(absdev, 0.5) AS mad FROM j GROUP BY 1)
SELECT j.event_type,
       COUNT(*) AS n_outliers,
       ROUND(MIN(j.value), 4) AS min_outlier,
       ROUND(MAX(j.value), 4) AS max_outlier
FROM j JOIN mad ON mad.event_type = j.event_type
WHERE j.absdev > 4.4478 * mad.mad
GROUP BY 1
""",
)
def events_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).where(F.col("value").isNotNull()).select(
        "event_type", "value"
    )
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5)").alias("med"))
    j = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = j.groupBy("event_type").agg(F.expr("percentile(absdev, 0.5)").alias("mad"))
    return (
        j.join(F.broadcast(mad), "event_type")
        .where(F.col("absdev") > F.lit(4.4478) * F.col("mad"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_outliers"),
            F.round(F.min("value"), 4).alias("min_outlier"),
            F.round(F.max("value"), 4).alias("max_outlier"),
        )
    )


@_register(
    "events_value_histogram",
    """
SELECT event_type,
       CAST(FLOOR(value / 10.0) AS BIGINT) AS bucket,
       COUNT(*) AS n
FROM events WHERE value IS NOT NULL
GROUP BY 1, 2
""",
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.where(F.col("value").isNotNull())
        .groupBy(
            "event_type",
            F.floor(F.col("value") / 10.0).cast("long").alias("bucket"),
        )
        .agg(F.count("*").alias("n"))
    )


@_register(
    "events_json_props",
    """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k,
       CAST(MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS min_k,
       CAST(MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS INTEGER) AS max_k
FROM events
WHERE props IS NOT NULL
GROUP BY event_type
""",
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar functions over the events.props payload (green-field —
    SURVEY.md §2.10 lists JSON functions as absent in the reference)."""
    ev = _events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.where(F.col("props").isNotNull())
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# ==========================================================================
# Round 3: integer-exact PageRank over the approximate kNN graph
# (operators/graph.py pagerank) — the centrality/density curation signal.
# The oracle nests the bit-exact kNN-graph SQL (ORACLES["ann_knn_graph"])
# as the edge list and unrolls the fixed iterations as chained CTEs (no
# aggregation inside a recursive term needed), all arithmetic BIGINT.
# ==========================================================================

def _pagerank_oracle_sql(iters: int, scale: int, num: int, den: int) -> str:
    base = scale * (den - num) // den
    steps = []
    prev = "r0"
    for t in range(1, iters + 1):
        steps.append(
            f"""r{t} AS (
  SELECT n.node,
         CAST({base} + ({num} * COALESCE(s.inc, 0)) // {den} AS BIGINT) AS r
  FROM nodes n LEFT JOIN (
    SELECT e.d AS node, SUM(r.r // e.outdeg) AS inc
    FROM e2 e JOIN {prev} r ON r.node = e.s
    GROUP BY 1
  ) s ON s.node = n.node
)"""
        )
        prev = f"r{t}"
    return f"""
WITH knn AS ({ORACLES['ann_knn_graph']}),
edges AS (SELECT src AS s, nbr AS d FROM knn),
deg AS (SELECT s, COUNT(*) AS outdeg FROM edges GROUP BY 1),
e2 AS (SELECT e.s, e.d, g.outdeg FROM edges e JOIN deg g ON g.s = e.s),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT s AS node FROM edges UNION ALL SELECT d AS node FROM edges
  )
),
r0 AS (SELECT node, CAST({scale} AS BIGINT) AS r FROM nodes),
{",".join(steps)}
SELECT node, r AS rank_scaled FROM {prev}
"""


@_register("graph_pagerank_knn", _pagerank_oracle_sql(3, 1_000_000, 85, 100))
def graph_pagerank_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.ann import knn_graph_lsh
    from whatsapp_vectordb_spark.operators.graph import pagerank

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    edges = knn_graph_lsh(emb, k=5, n_planes=32, bands=4, dim=64).select(
        "src", F.col("nbr").alias("dst")
    )
    return pagerank(edges, iters=3, scale=1_000_000, damping_num=85, damping_den=100)


# ==========================================================================
# Round 3: histogram quantiles (operators/sketches.py histogram_quantiles)
# — fixed-width mergeable histogram, integer-exact rank selection; the
# portable answer to percentile_approx (whose interpolation is
# implementation-defined and hence un-oracle-able).
# ==========================================================================

@_register(
    "events_value_quantiles",
    """
WITH b AS (
  SELECT event_type, CAST(floor(value::DOUBLE * 10) AS BIGINT) AS bin
  FROM events
),
counts AS (SELECT event_type, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
cum AS (
  SELECT event_type, bin, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM counts
),
totals AS (SELECT event_type, SUM(c) AS total FROM counts GROUP BY 1),
pcts AS (SELECT unnest([50, 90, 99]) AS pct),
hit AS (
  SELECT cu.event_type, p.pct, MIN(cu.bin) AS qbin
  FROM cum cu JOIN totals t ON t.event_type = cu.event_type
  CROSS JOIN pcts p
  WHERE cu.cum >= (p.pct * t.total + 99) // 100
  GROUP BY 1, 2
)
SELECT event_type, CAST(pct AS INTEGER) AS pct,
       ROUND((qbin + 1) / 10.0, 6) AS quantile_est
FROM hit
""",
)
def events_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.sketches import histogram_quantiles

    return histogram_quantiles(
        _t(spark, sf_dir, "events"), value_col="value", group_col="event_type"
    )


# ==========================================================================
# Round 3: Z-order layout planning (operators/layout.py) — Morton-key
# clustering + deterministic ntile file assignment; the output is the
# per-file min/max envelope (the parquet-footer stats a 2-D predicate
# would prune with). Pure integer bit math — bit-identical in SQL.
# ==========================================================================

def _morton_sql(x: str, y: str, bits: int = 16) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@_register(
    "events_zorder_layout",
    f"""
WITH keyed AS (
  SELECT user_id AS x, CAST(floor(value::DOUBLE * 10) AS BIGINT) AS y, event_id,
         {_morton_sql('user_id', 'CAST(floor(value::DOUBLE * 10) AS BIGINT)')} AS z
  FROM events
),
assigned AS (
  SELECT x, y, NTILE(16) OVER (ORDER BY z ASC, event_id ASC) AS file_id
  FROM keyed
)
SELECT CAST(file_id AS INTEGER) AS file_id, COUNT(*) AS n_rows,
       MIN(x) AS min_x, MAX(x) AS max_x, MIN(y) AS min_y, MAX(y) AS max_y
FROM assigned GROUP BY 1
""",
)
def events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.layout import zorder_file_stats

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.floor(F.col("value").cast("double") * 10).cast("long").alias("vbin"),
    )
    return zorder_file_stats(
        ev, x_col="user_id", y_col="vbin", order_id_col="event_id", n_files=16
    )


# ==========================================================================
# Round 3: PSI drift detection (operators/sketches.py population_stability)
# — per-type drift between the "last snapshot" (user_id < 750) and a
# deterministically drifted current population (value × 1.25 for the
# rest). Bin PSI terms are integer-quantized before summation, so the
# cross-bin sum is associative and engine-exact.
# ==========================================================================

@_register(
    "events_value_drift",
    """
WITH ref AS (
  SELECT event_type, CAST(floor(value::DOUBLE * 10) AS BIGINT) AS bin
  FROM events WHERE user_id < 750
),
cur AS (
  SELECT event_type, CAST(floor(value::DOUBLE * 1.25 * 10) AS BIGINT) AS bin
  FROM events WHERE user_id >= 750
),
br AS (SELECT event_type AS g, bin, COUNT(*) AS c_r FROM ref GROUP BY 1, 2),
bc AS (SELECT event_type AS g, bin, COUNT(*) AS c_c FROM cur GROUP BY 1, 2),
j AS (
  SELECT COALESCE(br.g, bc.g) AS g, COALESCE(br.bin, bc.bin) AS bin,
         COALESCE(c_r, 0) AS c_r, COALESCE(c_c, 0) AS c_c
  FROM br FULL OUTER JOIN bc ON br.g = bc.g AND br.bin = bc.bin
),
t AS (SELECT g, SUM(c_r) AS t_r, SUM(c_c) AS t_c, COUNT(*) AS n_bins FROM j GROUP BY 1),
terms AS (
  SELECT j.g, t.n_bins,
         CAST(round(
           ((c_c + 1.0) / (t_c + n_bins) - (c_r + 1.0) / (t_r + n_bins))
           * ln(((c_c + 1.0) / (t_c + n_bins)) / ((c_r + 1.0) / (t_r + n_bins)))
           * 1000000000) AS BIGINT) AS tq
  FROM j JOIN t ON j.g = t.g
)
SELECT g AS event_type, n_bins, ROUND(SUM(tq) / 1000000000.0, 6) AS psi
FROM terms GROUP BY 1, 2
""",
)
def events_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from whatsapp_vectordb_spark.operators.sketches import population_stability

    ev = _t(spark, sf_dir, "events")
    ref = ev.where(F.col("user_id") < 750)
    cur = ev.where(F.col("user_id") >= 750).withColumn(
        "value", F.col("value").cast("double") * 1.25
    )
    return population_stability(ref, cur, value_col="value", group_col="event_type")


@_register(
    "events_retention_cohorts",
    """
WITH e AS (
  SELECT user_id, ts,
         MIN(ts) OVER (PARTITION BY user_id) AS first_ts
  FROM events
),
c AS (
  SELECT user_id,
         strftime(date_trunc('week', first_ts), '%Y-%m-%d') AS cohort_week,
         CAST(datediff('day', date_trunc('week', first_ts), date_trunc('week', ts)) // 7
              AS BIGINT) AS week_offset
  FROM e
)
SELECT cohort_week, week_offset,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active_users,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM c GROUP BY cohort_week, week_offset
""",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (operators/events.py
    retention_cohorts): one user-keyed shuffle for the first-event
    window, then a weeks²-sized aggregate."""
    from whatsapp_vectordb_spark.operators.events import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir))


@_register(
    "events_markov_transitions",
    """
WITH seq AS (
  SELECT event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
c AS (
  SELECT src, dst, COUNT(*) AS n FROM seq WHERE dst IS NOT NULL GROUP BY src, dst
)
SELECT src, dst, CAST(n AS BIGINT) AS n_transitions,
       ROUND(n / CAST(SUM(n) OVER (PARTITION BY src) AS DOUBLE), 6) AS p
FROM c
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type Markov chain per user sequence, tie-broken
    on (ts, event_id) in both engines (operators/events.py
    markov_transitions)."""
    from whatsapp_vectordb_spark.operators.events import markov_transitions

    return markov_transitions(_events(spark, sf_dir))


# ==========================================================================
# Round 5 (batch 7): sketch rollup tables — persisted per-day HLL registers
# MAX-merged to weekly estimates without rescanning raw events (the 100 TB
# pre-aggregation pattern), checked against exact weekly distincts.
# ==========================================================================

_HLL_ROLLUP_DIR = _oracle_scratch("hll_rollup_oracle")


@_register(
    "events_hll_daily_rollup",
    f"""
WITH regs AS (
  SELECT day, bucket, rho_max
  FROM read_parquet('{_HLL_ROLLUP_DIR}/daily/*.parquet')
),
wk AS (
  SELECT strftime(date_trunc('week', CAST(day AS DATE)), '%Y-%m-%d') AS week,
         bucket, MAX(rho_max) AS rho
  FROM regs GROUP BY 1, 2
),
agg AS (
  SELECT week,
         CAST(SUM(1::BIGINT << (45 - rho)) AS BIGINT) AS s_ne,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM wk GROUP BY week
),
est AS (
  SELECT week,
         s_ne + ({_HLL_M} - cnt) * (1::BIGINT << 45) AS s,
         {_HLL_M} - cnt AS zeros
  FROM agg
),
e2 AS (
  SELECT week,
         CASE WHEN (CAST({(_HLL_ALPHA * _HLL_M * _HLL_M) * float(1 << 45)!r} AS DOUBLE) / s)
                   <= CAST({2.5 * _HLL_M!r} AS DOUBLE) AND zeros > 0
              THEN CAST({_HLL_M} AS DOUBLE) * ln(CAST({_HLL_M} AS DOUBLE) / zeros)
              ELSE CAST({(_HLL_ALPHA * _HLL_M * _HLL_M) * float(1 << 45)!r} AS DOUBLE) / s
         END AS e
  FROM est
),
ex AS (
  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT e2.week, ROUND(e2.e, 4) AS hll_estimate, ex.exact_distinct
FROM e2 JOIN ex ON e2.week = ex.week
""",
)
def events_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch rollup table: per-DAY sparse HLL registers are persisted
    once (the tiny pre-aggregate a 100 TB pipeline stores instead of raw
    ids), then WEEKLY distinct-user estimates are answered purely by
    MAX-merging the stored registers — the raw events are only touched
    for the exact-count comparison column. Register merge is associative,
    so day→week→month rollups all read sketch rows, never data
    (operators/sketches.py hll_grouped_registers /
    hll_estimate_from_sparse)."""
    from whatsapp_vectordb_spark.operators.sketches import (
        hll_estimate_from_sparse,
        hll_grouped_registers,
    )

    ev = _events(spark, sf_dir)
    daily = hll_grouped_registers(
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")),
        "user_id",
        ["day"],
        log2m=10,
    )
    path = os.path.join(_HLL_ROLLUP_DIR, "daily")
    daily.write.mode("overwrite").parquet(path)

    stored = spark.read.parquet(path)
    weekly = (
        stored.withColumn(
            "week", F.date_format(F.date_trunc("week", F.to_date("day")), "yyyy-MM-dd")
        )
        .groupBy("week", "bucket")
        .agg(F.max("rho_max").alias("rho_max"))
    )
    est = hll_estimate_from_sparse(weekly, ["week"], log2m=10)
    exact = (
        ev.select(
            F.date_format(F.date_trunc("week", "ts"), "yyyy-MM-dd").alias("week"),
            "user_id",
        )
        .groupBy("week")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_distinct"))
    )
    return est.join(exact, "week")


_TRI_DIR = _oracle_scratch("triangle_oracle")


@_register(
    "graph_triangle_count",
    f"""
WITH raw AS (SELECT src, dst FROM read_parquet('{_TRI_DIR}/edges/*.parquet')),
und AS (
  SELECT DISTINCT LEAST(src, dst) AS lo, GREATEST(src, dst) AS hi
  FROM raw WHERE src <> dst
),
tris AS (
  SELECT COUNT(*) AS n
  FROM und e1
  JOIN und e2 ON e2.lo = e1.hi                -- (a,b) + (b,c)
  JOIN und e3 ON e3.lo = e1.lo AND e3.hi = e2.hi  -- close (a,c)
)
SELECT CAST(tris.n AS BIGINT) AS n_triangles,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM und) AS n_edges,
       (SELECT CAST(COUNT(DISTINCT v) AS BIGINT)
        FROM (SELECT lo AS v FROM und UNION ALL SELECT hi FROM und)) AS n_nodes
FROM tris
""",
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the kNN graph: edges persisted once, then two
    id-oriented equi-joins count each triangle exactly once
    (operators/graph.py triangle_count) — the local-density signal next
    to PageRank; both engines read the identical persisted edge list."""
    from whatsapp_vectordb_spark.operators.ann import knn_graph_lsh
    from whatsapp_vectordb_spark.operators.graph import triangle_count

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    edges = knn_graph_lsh(emb, k=5, n_planes=32, bands=4, dim=64).select(
        F.col("src").cast("long").alias("src"), F.col("nbr").cast("long").alias("dst")
    )
    path = os.path.join(_TRI_DIR, "edges")
    edges.write.mode("overwrite").parquet(path)
    return triangle_count(spark.read.parquet(path))


@_register(
    "events_top_paths",
    """
WITH seq AS (
  SELECT event_type AS e1,
         LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
         LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
  FROM events
)
SELECT e1 || '>' || e2 || '>' || e3 AS path, CAST(COUNT(*) AS BIGINT) AS n
FROM seq WHERE e3 IS NOT NULL
GROUP BY 1
ORDER BY n DESC, path ASC
LIMIT 20
""",
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-event paths across user sequences (the longer-range sibling
    of the Markov transition matrix): one user-keyed window shuffle
    computes both leads, then a |types|³-bounded aggregate and a
    deterministic top-20 cut."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = _events(spark, sf_dir).select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.where(F.col("e3").isNotNull())
        .select(F.concat_ws(">", "e1", "e2", "e3").alias("path"))
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(20)
    )


@_register(
    "events_quantile_calibration",
    """
WITH b AS (
  SELECT event_type, CAST(FLOOR(value * 10) AS BIGINT) AS bin FROM events
),
counts AS (SELECT event_type, bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
cum AS (
  SELECT event_type, bin,
         SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cumc
  FROM counts
),
tot AS (SELECT event_type, COUNT(*) AS total FROM events GROUP BY 1),
pcts(pct) AS (VALUES (50), (90), (99)),
hit AS (
  SELECT c.event_type, p.pct, MIN(c.bin) AS qbin
  FROM cum c JOIN tot t ON t.event_type = c.event_type
  CROSS JOIN pcts p
  WHERE c.cumc >= (p.pct * t.total + 99) // 100
  GROUP BY 1, 2
),
ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn
  FROM events
),
exact AS (
  SELECT r.event_type, p.pct, ROUND(r.value, 6) AS exact_q
  FROM ranked r
  JOIN tot t ON t.event_type = r.event_type
  CROSS JOIN pcts p
  WHERE r.rn = (p.pct * t.total + 99) // 100
)
SELECT h.event_type, CAST(h.pct AS INTEGER) AS pct,
       ROUND((h.qbin + 1) / 10.0, 6) AS quantile_est,
       x.exact_q,
       ROUND(ABS(ROUND((h.qbin + 1) / 10.0, 6) - x.exact_q), 6) AS abs_err
FROM hit h JOIN exact x ON x.event_type = h.event_type AND x.pct = h.pct
""",
)
def events_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-vs-exact quantile calibration: the mergeable histogram
    sketch's p50/p90/p99 against the true rank-selected value per event
    type, with the absolute error — the measured bound (≤ bin width)
    that justifies replacing a full sort with a sketch at 100 TB. Both
    sides use the same integer rank rule, so the comparison itself can't
    disagree across engines."""
    from whatsapp_vectordb_spark.operators.sketches import histogram_quantiles

    ev = _events(spark, sf_dir)
    est = histogram_quantiles(ev, percents=(50, 90, 99), bin_scale=10)
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").cast("double"), "event_id"
    )
    ranked = ev.select(
        "event_type", "value", F.row_number().over(w).alias("_rn")
    )
    totals = ev.groupBy("event_type").agg(F.count("*").alias("_total"))
    pcts = local_df(spark, [(50,), (90,), (99,)], "pct int")
    exact = (
        ranked.join(totals, "event_type")
        .join(F.broadcast(pcts))
        .where(F.col("_rn") == F.expr("(pct * _total + 99) div 100"))
        .select("event_type", "pct", F.round("value", 6).alias("exact_q"))
    )
    return est.join(exact, ["event_type", "pct"]).select(
        "event_type",
        "pct",
        "quantile_est",
        "exact_q",
        F.round(F.abs(F.col("quantile_est") - F.col("exact_q")), 6).alias("abs_err"),
    )


@_register(
    "events_cusum_changepoints",
    """
WITH daily AS (
  SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, SUM(n) AS tot, COUNT(*) AS n_days FROM daily GROUP BY 1
),
y AS (
  SELECT d.event_type, d.day, d.n,
         CAST(1000000 * d.n - (1000000 * s.tot) // s.n_days AS BIGINT) AS yv
  FROM daily d JOIN stats s ON s.event_type = d.event_type
),
p AS (
  SELECT event_type, day, n,
         CAST(SUM(yv) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT) AS pv
  FROM y
),
s AS (
  SELECT event_type, day, n,
         CAST(pv - LEAST(0, MIN(pv) OVER (PARTITION BY event_type ORDER BY day))
              AS BIGINT) AS cusum_micro
  FROM p
)
SELECT event_type, day, CAST(n AS BIGINT) AS n_events, cusum_micro,
       cusum_micro > 0 AS alarm
FROM s
""",
)
def events_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential rate-shift detection (one-sided CUSUM) over daily event
    volumes per type, with the recursion replaced by its closed form
    ``P − min(0, running_min(P))`` — two window functions, all-integer
    micro-units, bit-identical in both engines (operators/events.py
    cusum_changepoints)."""
    from whatsapp_vectordb_spark.operators.events import cusum_changepoints

    return cusum_changepoints(_events(spark, sf_dir))
