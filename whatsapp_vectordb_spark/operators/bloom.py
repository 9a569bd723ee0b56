"""Portable Bloom-filter semi-join pruning.

The 100 TB join problem this solves: a selective dimension-side predicate
(e.g. "urgent orders") should prune the FACT side's scan before the
shuffle, not after. Spark's own runtime row-level filtering
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) injects exactly
this plan; here the filter is built EXPLICITLY with engine-portable
md5-derived bit positions, so the pruning decision is bit-reproducible
in a SQL oracle — and usable from any engine that can evaluate md5.

Construction: k bit positions per key from non-overlapping 4-hex-char
slices of ``md5(key)`` mod ``n_bits``; the bitmap packs 32 bits per
int64 word (shifts stay < 2³², positive in every engine). The built
bitmap is a ``n_bits/32``-row aggregate — a few KB — collected and
inlined as a literal array, so the probe side evaluates a map-only
filter: zero shuffle, zero extra scan, exactly like the codegen'd
might-contain of the built-in bloom join.

False positives pass the filter and are eliminated by the real join
downstream (semantics preserved); false negatives are impossible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.functions.vector import array_lit

WORD_BITS = 32

def _pow2() -> Column:
    """pyspark's shiftleft() takes only a literal shift amount, so
    1 << (p % 32) is a 32-entry power-of-two lookup instead — same
    integers in any engine. One constant-folded ArrayType literal, not 32
    child Literal nodes — keeps expression trees codegen-small."""
    return array_lit([1 << b for b in range(WORD_BITS)], "bigint")


def _positions(key: Column, n_bits: int, k: int) -> list[Column]:
    """k integer bit-positions from md5 hex slices.

    Fast path (the defaults): ONE 15-hex-char parse (60 bits) sliced into
    k 15-bit positions by shift/mod — one ``conv`` per row instead of k
    (measured ~2× on the probe scan; ``conv`` dominates the per-row cost).
    Requires ``n_bits`` to divide 2^15 and ``15·k ≤ 60``; other shapes fall
    back to one 4-hex parse per position."""
    md5 = F.md5(key.cast("string"))
    if 15 * k <= 60 and (1 << 15) % n_bits == 0:
        h = F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
        return [F.shiftright(h, 15 * i) % n_bits for i in range(k)]
    return [
        F.conv(F.substring(md5, 1 + 4 * i, 4), 16, 10).cast("long") % n_bits
        for i in range(k)
    ]


def bloom_words(df: DataFrame, key_col: str, n_bits: int = 32768, k: int = 4) -> DataFrame:
    """Build the bitmap: ``(word, bits)`` rows, one per non-empty 32-bit
    word. Distinct keys first (set semantics), then a bit_or aggregate —
    the whole build shuffles ≤ ``distinct_keys × k`` small integers."""
    keys = df.select(F.col(key_col).alias("_k")).dropDuplicates()
    pos = keys.select(
        F.explode(F.array(*_positions(F.col("_k"), n_bits, k))).alias("_p")
    )
    return (
        pos.select(
            (F.col("_p") / WORD_BITS).cast("long").alias("word"),
            F.element_at(_pow2(), (F.col("_p") % WORD_BITS).cast("int") + 1).alias("_bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("_bit").alias("bits"))
    )


def bloom_might_contain(
    words: list[tuple[int, int]], key: Column, n_bits: int = 32768, k: int = 4
) -> Column:
    """Map-only membership predicate from a collected ``(word, bits)``
    list: true iff ALL k of the key's bit positions are set. The bitmap
    rides into the plan as a literal array (n_bits/32 longs — KBs), the
    Spark analog of the broadcast bloom in a runtime-filtered join."""
    dense = [0] * (n_bits // WORD_BITS)
    for w, b in words:
        dense[int(w)] = int(b)
    # ONE constant-folded ArrayType literal: a ~4k-node expression tree of
    # per-element casts (referenced k times) blew past codegen limits and
    # fell back to interpreted eval — measured 2.4× slower end-to-end
    arr = array_lit(dense, "bigint")
    cond = F.lit(True)
    for p in _positions(key, n_bits, k):
        word = F.element_at(arr, (p / WORD_BITS).cast("int") + 1)
        bit = F.element_at(_pow2(), (p % WORD_BITS).cast("int") + 1)
        cond = cond & (word.bitwiseAND(bit) != 0)
    return cond
