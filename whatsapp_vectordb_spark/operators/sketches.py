"""Engine-portable cardinality sketches (green-field extension surface —
profiling a 100 TB corpus needs approximate distinct counts, and unlike
``approx_count_distinct`` (whose HLL++ registers are engine-private),
this HyperLogLog is built on the portable md5 hash, so two engines —
or two *runs* — produce bit-identical estimates. Determinism tricks:

- register index and rank come from one 60-bit md5-derived integer;
- the harmonic sum Σ 2^(-ρ_max) is computed as an INTEGER sum of
  2^(W+1-ρ_max) (dyadic terms scaled to int64) — order-independent and
  exact, unlike a float fold;
- only the final α·m²/S division and the small-range ``ln`` touch
  floating point, and the result is rounded before output.

Flajolet et al. 2007 (HyperLogLog), small-range linear-counting
correction per the original paper. Standard error ≈ 1.04/√m.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.functions.text import portable_hash64
from whatsapp_vectordb_spark.functions.vector import array_lit

# rank width: the 60-bit hash splits into log2m register bits + W rank bits
HLL_W = 44


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1 + 1.079 / m)


def hll_register_terms(
    df: DataFrame, value_col: Column | str, log2m: int = 10, seed: int = 0
) -> DataFrame:
    """Per-register scaled harmonic terms ``(bucket, term)`` with
    ``term = 2^(W+1-ρ_max)`` as int64 — the mergeable state. Empty
    registers (ρ_max = 0) are filled in via a range join so the harmonic
    sum always covers all m registers."""
    m = 1 << log2m
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    h = portable_hash64(c.cast("string"), seed=seed)
    bucket = F.pmod(h, F.lit(m))
    rest = F.shiftright(h, log2m).bitwiseAND(F.lit((1 << HLL_W) - 1))
    # ρ = position of the first 1-bit in the W-bit rest (1-based); W+1 if 0.
    # bin() gives the minimal binary string, so ρ = W - len(bin(rest)) + 1 —
    # pure integer/string ops, no float log2.
    rho = F.when(rest == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W) - F.length(F.bin(rest)) + 1
    )
    maxes = (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("rho_max"))
    )
    spark = df.sparkSession
    all_buckets = spark.range(m).select(F.col("id").alias("bucket"))
    filled = all_buckets.join(maxes, "bucket", "left").select(
        "bucket", F.coalesce(F.col("rho_max"), F.lit(0)).alias("rho_max")
    )
    # 2^(W+1-ρ) via pow: exact in double for exponents ≤ 52, cast back to
    # the int64 term (shiftleft needs a literal shift amount)
    return filled.select(
        "bucket",
        F.pow(F.lit(2.0), F.lit(HLL_W + 1) - F.col("rho_max")).cast("long").alias("term"),
    )


def hll_distinct_estimate(
    df: DataFrame, value_col: str, log2m: int = 10, seed: int = 0, round_to: int = 4
) -> DataFrame:
    """One-row ``(hll_estimate,)``: the HLL cardinality of ``value_col``
    with small-range linear counting. One narrow shuffle (m-register max
    aggregate); registers merge across partitions/days with MAX — the
    sketch property that makes this free to maintain incrementally."""
    m = 1 << log2m
    terms = hll_register_terms(df, value_col, log2m, seed)
    agg = terms.agg(
        F.sum("term").alias("s"),
        F.sum(F.when(F.col("term") == (1 << (HLL_W + 1)), 1).otherwise(0)).alias(
            "zeros"
        ),
    )
    alpha = _alpha(m)
    # raw = α·m² / Σ2^(-ρ) = K / S with K folded to ONE double constant,
    # associated identically in the SQL oracle (S is the exact integer sum)
    k_const = (alpha * m * m) * float(1 << (HLL_W + 1))
    raw = F.lit(k_const) / F.col("s")
    small = F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("zeros"))
    est = F.when(
        (raw <= 2.5 * m) & (F.col("zeros") > 0), small
    ).otherwise(raw)
    return agg.select(F.round(est, round_to).alias("hll_estimate"))


# ---------------------------------------------------------------------------
# Count-min sketch — the frequency twin of the HLL: d independent hash rows
# × w counters; est(x) = min_r counter[r][h_r(x)]. Counters are integer
# SUMs (order-independent, mergeable with +), hashes are portable md5, so
# estimates are bit-identical across engines. Overestimates only:
# est ≥ true, and est ≤ true + εN w.p. 1-δ with w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉
# (Cormode & Muthukrishnan 2005).
# ---------------------------------------------------------------------------

CMS_D = 4


def cms_counters(
    df: DataFrame, value_col: Column | str, width: int = 1024
) -> DataFrame:
    """The sketch state: ``(row, col, cnt)`` for d=4 hash rows — one
    explode to (row, col) pairs then a narrow integer count aggregate.
    Merge two sketches by summing cnt on (row, col)."""
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    rows = [
        F.struct(
            F.lit(r).alias("row"),
            F.pmod(portable_hash64(c.cast("string"), seed=r), F.lit(width)).alias("col"),
        )
        for r in range(CMS_D)
    ]
    return (
        df.select(F.explode(F.array(*rows)).alias("rc"))
        .select(F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
        .groupBy("row", "col")
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    counters: DataFrame, probes: DataFrame, value_col: str, width: int = 1024
) -> DataFrame:
    """Point-frequency estimates for the ``probes`` values: joins each
    probe's d (row, col) cells against the counters and takes the min —
    the probe side is tiny and broadcasts."""
    c = F.col(value_col)
    cells = [
        F.struct(
            F.lit(r).alias("row"),
            F.pmod(portable_hash64(c.cast("string"), seed=r), F.lit(width)).alias("col"),
        )
        for r in range(CMS_D)
    ]
    probe_cells = probes.select(
        c.alias("probe"), F.explode(F.array(*cells)).alias("rc")
    ).select("probe", F.col("rc.row").alias("row"), F.col("rc.col").alias("col"))
    # LEFT join + zero-fill: a probe hashing to an empty cell has true
    # estimate 0 (sparse sketches leave most cells empty when the
    # vocabulary is smaller than d×w) — an inner join would silently drop
    # the empty cells and overestimate absent values from the others
    return (
        probe_cells.join(counters, ["row", "col"], "left")
        .select("probe", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
        .groupBy("probe")
        .agg(F.min("cnt").alias("est_count"))
    )


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    min_count: int,
    width: int = 256,
) -> DataFrame:
    """Sketch-accelerated EXACT heavy hitters: values occurring ≥
    ``min_count`` times, with the same result as a plain
    ``GROUP BY … HAVING`` — CMS never undercounts, so the sketch pass has
    no false negatives, and the exact pass removes its false positives.

    The pattern at 100 TB: pass 1 folds the corpus into the d×w counter
    grid (tiny shuffle); the counters — bounded sketch state, ≤ d·w rows
    BY DESIGN — come back to the driver and ride into pass 2 as literal
    arrays, so the candidate check is a map-side expression and the exact
    count shuffles ONLY candidate occurrences, not the full multiset.
    """
    from whatsapp_vectordb_spark.functions.text import portable_hash64

    grid = [[0] * width for _ in range(CMS_D)]
    for r in cms_counters(df, value_col, width=width).collect():
        grid[r["row"]][r["col"]] = r["cnt"]
    c = F.col(value_col)
    ests = [
        F.element_at(
            array_lit(grid[r], "int"),
            (F.pmod(portable_hash64(c.cast("string"), seed=r), F.lit(width)) + 1).cast(
                "int"
            ),
        )
        for r in range(CMS_D)
    ]
    candidate = F.least(*ests) >= min_count
    return (
        df.where(candidate)
        .groupBy(c.alias("value"))
        .agg(F.count("*").alias("n"))
        .where(F.col("n") >= min_count)
    )


def histogram_quantiles(
    df: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    percents: tuple[int, ...] = (50, 90, 99),
    bin_scale: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Distributed quantiles via a fixed-width histogram sketch: values
    bin to ``floor(v·bin_scale)``, the per-group bin counts form a
    mergeable sketch, and the p-th percentile is the upper edge of the
    first bin whose cumulative count reaches ``ceil(p%·total)`` — error
    bounded by the bin width ``1/bin_scale``, *rank* selection exact.

    Percents are INTEGERS and the target rank is computed with integer
    arithmetic (``(p·total + 99) DIV 100``), so the chosen bin — and hence
    the result — is bit-identical in any engine; no floating ceil at a
    rank boundary can disagree. This is the engine-portable answer to
    `percentile_approx`, whose interpolation is implementation-defined.

    Scale shape: one count-groupBy on (group, bin) — thousands of cells
    regardless of row count, with map-side partial aggregation — then a
    per-group running sum over the bounded bin list. The sketch merges by
    addition, so it composes with streaming/foreachBatch maintenance the
    same way the top-k leaderboard does.
    """
    from pyspark.sql import Window

    b = df.select(
        F.col(group_col),
        F.floor(F.col(value_col).cast("double") * bin_scale).cast("long").alias("_bin"),
    )
    counts = b.groupBy(group_col, "_bin").agg(F.count("*").alias("_c"))
    w = (
        Window.partitionBy(group_col)
        .orderBy("_bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("_cum", F.sum("_c").over(w))
    totals = counts.groupBy(group_col).agg(F.sum("_c").alias("_total"))
    pcts = df.sparkSession.createDataFrame([(int(p),) for p in percents], "pct int")
    hit = (
        cum.join(totals, group_col)
        .join(F.broadcast(pcts))
        .where(F.col("_cum") >= F.expr("(pct * _total + 99) div 100"))
        .groupBy(group_col, "pct")
        .agg(F.min("_bin").alias("_qbin"))
    )
    return hit.select(
        group_col,
        "pct",
        F.round((F.col("_qbin") + 1) / F.lit(bin_scale), round_to).alias("quantile_est"),
    )


def population_stability(
    df_ref: DataFrame,
    df_cur: DataFrame,
    value_col: str = "value",
    group_col: str = "event_type",
    bin_scale: int = 10,
    term_scale: int = 1_000_000_000,
    round_to: int = 6,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    population, per group — the standard drift alarm for a training-data
    pipeline (did this source's value distribution shift since the last
    snapshot?). ``PSI = Σ_bins (p_cur − p_ref)·ln(p_cur / p_ref)`` over
    the fixed-width histogram bins, with add-one smoothing so bins present
    on only one side contribute finitely. Rule of thumb: <0.1 stable,
    0.1–0.25 drifting, >0.25 investigate.

    Determinism: proportions are exact integer ratios (smoothed count over
    smoothed total), each bin's PSI term is quantized to an integer at
    ``term_scale`` BEFORE summation, and the cross-bin sum is therefore
    associative — engine- and partitioning-exact (a raw float Σ would
    depend on reduction order).

    Scale shape: two count-groupBys on (group, bin) — histogram sketches,
    mergeable, thousands of cells regardless of row count — one outer join
    of the two sketches on (group, bin), one sum per group.
    """

    def _bins(df: DataFrame, side: str) -> DataFrame:
        return (
            df.select(
                F.col(group_col).alias("g"),
                F.floor(F.col(value_col).cast("double") * bin_scale)
                .cast("long")
                .alias("bin"),
            )
            .groupBy("g", "bin")
            .agg(F.count("*").alias(f"c_{side}"))
        )

    return population_stability_from_sketches(
        _bins(df_ref, "r"),
        _bins(df_cur, "c"),
        group_col=group_col,
        term_scale=term_scale,
        round_to=round_to,
    )


def population_stability_from_sketches(
    ref_bins: DataFrame,
    cur_bins: DataFrame,
    group_col: str = "event_type",
    term_scale: int = 1_000_000_000,
    round_to: int = 6,
) -> DataFrame:
    """PSI from two PRE-BINNED histogram sketches ``(g, bin, c_r)`` /
    ``(g, bin, c_c)`` — the mergeable form a streaming monitor accumulates
    (per-batch counts append; the merged sketch is a sum-groupBy, so
    batch-split order can't change the result). Same math, smoothing, and
    integer-quantized terms as ``population_stability``."""
    joined = ref_bins.join(cur_bins, ["g", "bin"], "full_outer").select(
        "g",
        "bin",
        F.coalesce("c_r", F.lit(0)).alias("c_r"),
        F.coalesce("c_c", F.lit(0)).alias("c_c"),
    )
    tot = joined.groupBy("g").agg(
        F.sum("c_r").alias("t_r"),
        F.sum("c_c").alias("t_c"),
        F.count("*").alias("n_bins"),
    )
    p_r = (F.col("c_r") + 1) / (F.col("t_r") + F.col("n_bins"))
    p_c = (F.col("c_c") + 1) / (F.col("t_c") + F.col("n_bins"))
    term_q = F.round((p_c - p_r) * F.log(p_c / p_r) * term_scale).cast("long")
    return (
        joined.join(tot, "g")
        .select("g", "n_bins", term_q.alias("_tq"))
        .groupBy("g", "n_bins")
        .agg(F.round(F.sum("_tq") / term_scale, round_to).alias("psi"))
        .select(F.col("g").alias(group_col), "n_bins", "psi")
    )


def hll_grouped_registers(
    df: DataFrame,
    value_col: Column | str,
    group_cols: list[str],
    log2m: int = 10,
    seed: int = 0,
) -> DataFrame:
    """SPARSE per-group HLL registers ``(*group_cols, bucket, rho_max)``
    — the storable/mergeable sketch state for rollup tables: keep one
    ≤m-row register set per (day, dimension) cell and answer any
    coarser-grain distinct-count by MAX-merging registers, never
    rescanning the raw data. Sparse (empty registers omitted) so a
    low-cardinality cell costs rows ∝ its distinct count, not m.
    """
    m = 1 << log2m
    c = F.col(value_col) if isinstance(value_col, str) else value_col
    h = portable_hash64(c.cast("string"), seed=seed)
    bucket = F.pmod(h, F.lit(m))
    rest = F.shiftright(h, log2m).bitwiseAND(F.lit((1 << HLL_W) - 1))
    rho = F.when(rest == 0, F.lit(HLL_W + 1)).otherwise(
        F.lit(HLL_W) - F.length(F.bin(rest)) + 1
    )
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("rho_max"))
    )


def hll_estimate_from_sparse(
    registers: DataFrame,
    group_cols: list[str],
    log2m: int = 10,
    round_to: int = 4,
) -> DataFrame:
    """Cardinality estimate per group from SPARSE registers (as produced
    by :func:`hll_grouped_registers`, possibly MAX-merged across finer
    groups first). Missing registers count as ρ=0 via
    ``zeros = m − |present|`` and the harmonic sum gets
    ``zeros · 2^(W+1)`` added — integer-exact, so both engines divide
    the same constant by the same integer.
    """
    m = 1 << log2m
    term = F.pow(F.lit(2.0), F.lit(HLL_W + 1) - F.col("rho_max")).cast("long")
    agg = registers.groupBy(*group_cols).agg(
        F.sum(term).alias("_s_ne"), F.count("*").alias("_cnt")
    )
    zeros = F.lit(m) - F.col("_cnt")
    s = F.col("_s_ne") + zeros * F.lit(1 << (HLL_W + 1))
    k_const = (_alpha(m) * m * m) * float(1 << (HLL_W + 1))
    raw = F.lit(k_const) / s
    small = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    est = F.when((raw <= 2.5 * m) & (zeros > 0), small).otherwise(raw)
    return agg.select(*group_cols, F.round(est, round_to).alias("hll_estimate"))
