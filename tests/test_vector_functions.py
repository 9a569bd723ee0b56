from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    euclidean_distance,
    l2_norm,
    l2_normalize,
)


@pytest.fixture(scope="module")
def pairs(spark):
    rows = [
        (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
        (2, [1.0, 0.0], [0.0, 1.0]),
        (3, [1.0, 1.0], [1.0, 1.0]),
        (4, [0.0, 0.0], [1.0, 2.0]),  # zero-norm left side
    ]
    return spark.createDataFrame(rows, "id int, a array<float>, b array<float>")


def _one(df, col):
    return {r["id"]: r[col] for r in df.collect()}


def test_dot_product(pairs):
    got = _one(pairs.select("id", dot_product("a", "b").alias("v")), "v")
    assert got[1] == pytest.approx(32.0)
    assert got[2] == pytest.approx(0.0)
    assert got[3] == pytest.approx(2.0)


def test_cosine(pairs):
    got = _one(pairs.select("id", cosine_similarity("a", "b").alias("v")), "v")
    assert got[1] == pytest.approx(32.0 / (math.sqrt(14) * math.sqrt(77)))
    assert got[2] == pytest.approx(0.0)
    assert got[3] == pytest.approx(1.0)
    assert got[4] is None  # zero-norm → NULL, not NaN


def test_euclidean(pairs):
    got = _one(pairs.select("id", euclidean_distance("a", "b").alias("v")), "v")
    assert got[1] == pytest.approx(math.sqrt(27.0))
    assert got[2] == pytest.approx(math.sqrt(2.0))
    assert got[3] == pytest.approx(0.0)


def test_normalize(pairs):
    got = _one(pairs.select("id", l2_norm(l2_normalize("a")).alias("v")), "v")
    assert got[1] == pytest.approx(1.0)
    assert got[4] is None


def test_self_cosine_is_one_on_real_data(embeddings):
    bad = (
        embeddings.select(cosine_similarity("embedding", "embedding").alias("c"))
        .where(F.abs(F.col("c") - 1.0) > 1e-9)
        .count()
    )
    assert bad == 0


def test_int8_quantization_roundtrip_error(spark, embeddings):
    from whatsapp_vectordb_spark.functions.vector import (
        cosine_similarity,
        dequantize_int8,
        quantize_int8,
    )

    emb = embeddings.limit(50).select("vec_id", "embedding")
    deq = emb.select(
        "vec_id",
        "embedding",
        dequantize_int8(quantize_int8("embedding")).alias("deq"),
    )
    errs = deq.select(
        F.min(cosine_similarity("embedding", "deq")).alias("worst")
    ).head()
    assert errs["worst"] > 0.999  # int8 keeps cosine geometry


def test_int8_quantization_null_for_zero_vector(spark):
    from whatsapp_vectordb_spark.functions.vector import quantize_int8

    df = spark.createDataFrame([([0.0, 0.0],), ([1.0, -2.0],)], "v array<float>")
    rows = df.select(quantize_int8("v").alias("q")).collect()
    assert rows[0]["q"] is None
    assert rows[1]["q"]["values"] == [64, -127]


def test_sparse_roundtrip_and_cosine_matches_dense(spark, embeddings):
    from whatsapp_vectordb_spark.functions.vector import (
        cosine_similarity,
        dense_to_sparse,
        sparse_cosine,
        sparse_dot,
        sparse_to_dense,
    )

    emb = embeddings.limit(20).select("vec_id", "embedding")
    # threshold 0 keeps every non-zero component -> roundtrip is exact
    rt = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("orig"),
        sparse_to_dense(dense_to_sparse("embedding", threshold=0.0), dim=64).alias("back"),
    )
    bad = rt.where(
        F.exists(F.zip_with("orig", "back", lambda a, b: F.abs(a - b) > 1e-12), lambda x: x)
    ).count()
    assert bad == 0

    # sparse cosine at threshold 0 == dense cosine
    q = emb.where(F.col("vec_id") == emb.head()["vec_id"]).select(
        F.col("embedding").alias("qv"),
        dense_to_sparse("embedding", threshold=0.0).alias("qsp"),
    )
    both = emb.crossJoin(q).select(
        F.round(cosine_similarity("embedding", "qv"), 9).alias("dense"),
        F.round(sparse_cosine(dense_to_sparse("embedding", 0.0), F.col("qsp")), 9).alias(
            "sparse"
        ),
    )
    assert both.where(F.col("dense") != F.col("sparse")).count() == 0

    # disjoint index sets -> dot 0
    from pyspark.sql import Row

    two = spark.createDataFrame(
        [
            Row(a={"indices": [0, 2], "values": [1.0, 2.0]},
                b={"indices": [1, 3], "values": [5.0, 7.0]}),
        ],
        "a struct<indices:array<int>,values:array<float>>, "
        "b struct<indices:array<int>,values:array<float>>",
    )
    assert two.select(sparse_dot("a", "b").alias("d")).head()["d"] == 0.0


def test_centroid_outliers_flag_planted_outlier(spark):
    import numpy as np

    from whatsapp_vectordb_spark.functions.vector import centroid_distance_outliers

    rng = np.random.default_rng(3)
    rows = []
    for label in (0, 1):
        center = rng.standard_normal(8)
        for i in range(20):
            v = center + rng.standard_normal(8) * 0.05
            rows.append((label, label * 100 + i, [float(x) for x in v]))
        # the planted corrupt vector, far from its label's cluster
        rows.append((label, label * 100 + 99, [float(x) for x in center + 5.0]))
    emb = spark.createDataFrame(rows, "label int, vec_id long, embedding array<float>")
    out = centroid_distance_outliers(emb, top_n=1)
    flagged = {(r["label"], r["vec_id"]) for r in out.collect()}
    assert flagged == {(0, 99), (1, 199)}
    for r in out.collect():
        assert r["dist"] > 3 * r["med_dist"]


@pytest.mark.parametrize(
    "element_type, values, per_element",
    [
        (
            "double",
            [-0.0, 5e-324, 1.7976931348623157e308, -1.7976931348623157e308,
             1 / 3, float("nan"), float("inf"), float("-inf"), 0.1],
            lambda v: F.array(*[F.lit(float(x)) for x in v]),
        ),
        (
            "int",
            [-(2**31), 2**31 - 1, 0, -1, 1],
            lambda v: F.array(*[F.lit(int(x)) for x in v]),
        ),
        (
            "bigint",
            [-(2**63), 2**63 - 1, 0, -1, 1],
            lambda v: F.array(*[F.lit(x).cast("long") for x in v]),
        ),
    ],
)
def test_array_lit_matches_per_element_literals(spark, element_type, values, per_element):
    """``array_lit`` is the per-element literal array sent in one call:
    same element type (nullability included) and the same values, bit for
    bit — signed zero, subnormals, NaN, infinities, integer extremes."""
    import struct

    from whatsapp_vectordb_spark.functions.vector import array_lit

    df = spark.range(1).select(
        per_element(values).alias("old"), array_lit(values, element_type).alias("new")
    )
    assert df.schema["new"].dataType == df.schema["old"].dataType
    row = df.head()

    def bits(xs):
        return [struct.pack("<d", x) if isinstance(x, float) else x for x in xs]

    assert bits(row["new"]) == bits(row["old"])
    assert bits(row["new"]) == bits([type(row["old"][0])(v) for v in values])
