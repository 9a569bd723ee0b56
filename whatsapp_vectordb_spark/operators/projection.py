"""Dimensionality reduction for embedding pipelines (extension surface).

Two standard tiers in front of ANN / near-dup search:

- ``jl_project`` — Johnson-Lindenstrauss random projection with a ±1 sign
  matrix derived from md5 (Achlioptas 2003: database-friendly random
  projections; ±1 entries preserve distances like Gaussian ones). The
  sign matrix is a pure FUNCTION of (seed, i, j) — no state, no training
  — and inputs are integer-quantized first, so every projected coordinate
  is an exact BIGINT sum, bit-reproducible in any engine with md5.
- ``pca_train`` / ``pca_project_long`` — exact PCA on a bounded unbiased
  training sample (the codebook-training pattern, operators/ann.py
  ``_train_sample``): mean + covariance + eigh driver-side, components
  broadcast back as literals; projection is one map-only pass.

Scale shape: both projections are map-only (no shuffle); JL's sign matrix
is an (out_dim × in_dim) int64 constant of the Arrow kernel, PCA's
components are a (c × dim) broadcast literal. At 100 TB both run at
scan speed and cut every downstream ANN/dedup shuffle by dim_out/dim_in.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

QUANT = 1_000_000


def _jl_sign(seed: int, i: int, j: int) -> int:
    """±1 from the low bit of the first md5 hex char of 'seed_i_j' —
    reproducible in SQL as
    ``('0x' || substr(md5('{seed}_' || i || '_' || j), 1, 1))::INT % 2``."""
    import hashlib

    h = hashlib.md5(f"{seed}_{i}_{j}".encode()).hexdigest()
    return 1 if int(h[0], 16) % 2 == 0 else -1


def jl_project(
    df: DataFrame,
    in_dim: int,
    out_dim: int,
    seed: int = 7,
    vec_col: str = "embedding",
    out_col: str = "proj",
) -> DataFrame:
    """Append ``out_col``: ``ARRAY<BIGINT>`` of length ``out_dim`` where
    ``proj[j] = Σ_i sign(seed,i,j) · round(vec[i]·10⁶)`` — an exact
    integer JL projection (the 1/√out_dim scale is a no-op for cosine/
    rank purposes and is left to the caller).

    One int64 matmul per Arrow batch. The per-coordinate sums are
    integers, so results are identical across engines and partitionings
    (the SQL oracle replays them with ``jl_sign_sql``). A NULL vector
    gives a NULL ``out_col``.
    """
    from pyspark.sql.types import ArrayType, LongType, StructField, StructType

    smat = np.asarray(
        [[_jl_sign(seed, i, j) for i in range(in_dim)] for j in range(out_dim)],
        dtype=np.int64,
    )  # (out_dim, in_dim)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, ArrayType(LongType()), True)]
    )

    def project(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ok = pdf[vec_col].notna().to_numpy()
            x = np.asarray(pdf[vec_col][ok].tolist(), dtype=np.float64)
            x = x.reshape(int(ok.sum()), in_dim)  # also when no row is left
            # np.rint = round-half-even differs from Spark/DuckDB
            # round-half-away at exact .5 — use floor(|x|+0.5) sign-fixed
            q = (np.sign(x) * np.floor(np.abs(x) * QUANT + 0.5)).astype(np.int64)
            proj = iter(q @ smat.T)  # exact int64
            out = pdf.copy()
            out[out_col] = [next(proj) if k else None for k in ok]
            yield out

    return df.mapInPandas(project, schema=out_schema)


def jl_sign_sql(seed: int, i_expr: str, j_expr: str) -> str:
    """The DuckDB twin of ``_jl_sign`` for oracle SQL."""
    return (
        f"CASE WHEN ('0x' || substr(md5('{seed}_' || {i_expr} || '_' || {j_expr}), 1, 1))"
        f"::INT % 2 = 0 THEN 1 ELSE -1 END"
    )


def pca_train(
    df: DataFrame,
    n_components: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 2048,
) -> tuple[np.ndarray, np.ndarray]:
    """Exact PCA on a bounded UNBIASED sample (hash-ranked, the
    ``_train_sample`` draw): returns ``(mean (dim,), components
    (n_components, dim))`` — eigenvectors of the sample covariance,
    descending eigenvalue order, sign-canonicalized (largest-|coord|
    entry positive) so results are deterministic across LAPACK builds."""
    from whatsapp_vectordb_spark.operators.ann import _train_sample

    x = _train_sample(df, id_col, vec_col, sample_rows)
    mean = x.mean(axis=0)
    xc = x - mean
    cov = (xc.T @ xc) / max(1, len(x) - 1)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:n_components]
    comps = vecs[:, order].T  # (c, dim)
    for r in range(comps.shape[0]):  # canonical sign
        k = int(np.abs(comps[r]).argmax())
        if comps[r, k] < 0:
            comps[r] = -comps[r]
    return mean, comps


def pca_project_long(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Project each vector onto the components — LONG output ``(id,
    comp_id, coord)`` with ``coord = round(<vec − mean, comp>, round_to)``.

    The dot product folds left-to-right over the array (``F.aggregate``),
    matching DuckDB's ``list_dot_product`` order exactly — the same
    float-parity contract every knn query in the harness relies on. Mean
    subtraction is folded into a constant offset per component
    (⟨x−m, c⟩ = ⟨x, c⟩ − ⟨m, c⟩), so the per-row work is c dots in ONE
    scan (posexplode of the coordinate array — no per-component re-scan).
    """
    dots = []
    for cid in range(components.shape[0]):
        comp = [float(v) for v in components[cid]]
        offset = float(np.dot(mean, components[cid]))
        dot = F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.lit(comp).cast("array<double>"),
                lambda x, c: x.cast("double") * c,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        dots.append(F.round(dot - F.lit(offset), round_to))
    return df.select(
        F.col(id_col), F.posexplode(F.array(*dots)).alias("comp_id", "coord")
    ).select(F.col(id_col), F.col("comp_id").cast("long").alias("comp_id"), "coord")


def mrl_truncate(
    df: DataFrame,
    prefix_dim: int,
    vec_col: str = "embedding",
    out_col: str = "mrl_vec",
) -> DataFrame:
    """Matryoshka prefix truncation (Kusupati et al. 2022, MRL): keep the
    first ``prefix_dim`` coordinates of an MRL-trained embedding — the
    cheapest dimensionality reduction there is (a slice; no projection
    matrix, no training, no shuffle). MRL-trained models pack coarse
    similarity into the prefix, so a prefix-cosine shortlist + full-dim
    re-rank is the standard two-stage scale path; the recall gate
    measures exactly what the truncation costs on THIS corpus (ours is
    synthetic, not MRL-trained — the gate, not the slice, is the
    contract).
    """
    return df.withColumn(out_col, F.slice(F.col(vec_col), 1, prefix_dim))
