"""Deduplication operators for LLM training-data pipelines.

Green-field extension surface (the reference has no dedup; SURVEY.md §2.10
— mandated by BASELINE.json's north star). Five tiers, cheapest first:

- ``exact_duplicates``      — hash-groupBy on normalized text. One shuffle.
- ``simhash_signatures``    — 48-bit SimHash over word shingles; near-dups
                              = small hamming distance. Map-only signature.
- ``minhash_near_duplicates`` — MinHash+LSH banding: shingle → H portable
                              min-hashes → B bands → candidates share a
                              band key → verify exact Jaccard. The banded
                              self-join touches only colliding keys —
                              never the O(n²) cross product.
- ``jaccard_near_duplicates`` — exact n-gram Jaccard over pairs sharing a
                              shingle (inverted-index join); the
                              verification oracle for MinHash.
- ``embedding_near_duplicates`` — cosine ≥ τ pairs; exact all-pairs here,
                              LSH-bucketed variant in ``ann`` for scale.

Scale design: every op is shuffle-by-key (shingle, band key, hash) with
map-side ``array_distinct`` shrinking exploded rows; hot shingles (stop
phrases) are the skew risk — ``max_shingle_freq`` drops shingles shared by
more than a fraction of docs (they generate candidate pairs quadratically
and carry no dedup signal). All hashes are md5-derived (portable_hash) so
a SQL oracle reproduces them bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.functions.text import (
    normalize_text,
    portable_hash,
    shingles_from_tokens,
    tokens,
)
from whatsapp_vectordb_spark.functions.vector import cosine_similarity


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Groups of ids sharing identical normalized text.

    Returns ``(dup_hash, doc_id, group_size)`` for groups of size ≥ 2 —
    one partial+final hash aggregate; the md5 is computed map-side so the
    shuffle carries 32-byte keys, not full documents.
    """
    h = F.md5(normalize_text(text_col)).alias("dup_hash")
    w = Window.partitionBy("dup_hash")
    return (
        df.select(h, F.col(id_col))
        .withColumn("group_size", F.count("*").over(w))
        .where(F.col("group_size") >= 2)
        .select("dup_hash", id_col, "group_size")
    )


def _distinct_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Explode distinct word n-grams, repartitioned by id first: the
    shingle construction is the CPU-heavy map of every dedup op, and small
    inputs otherwise run it on a handful of scan partitions. Hash
    partitioning by id also pre-satisfies the groupBy(id) distribution of
    the signature aggregate (no second shuffle).

    Tokenization is a separate projection from shingling on purpose:
    Catalyst keeps the split() materialized once per row instead of
    re-evaluating it per shingle (CollapseProject skips non-cheap
    duplicating merges) — ~10× on shingle-heavy corpora."""
    toked = df.repartition(F.col(id_col)).select(
        F.col(id_col), tokens(text_col).alias("_tk")
    )
    return toked.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_from_tokens(F.col("_tk"), n))).alias("shingle"),
    )


def _hashed_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct shingles reduced to integers with ONE md5 per shingle:
    ``(_x1, _x2)`` are the digest's two leading 32-bit halves (the MinHash
    inputs) and ``_h`` is the leading 60 bits as a positive int64 —
    the 8-byte key the Jaccard verify joins on instead of ~30-byte shingle
    strings (smaller shuffles, long-vs-string comparisons). Collisions on
    60 bits are ~n²/2⁶¹ per doc pair — beyond-negligible at any corpus the
    inverted index itself survives."""
    sh = _distinct_shingles(df, text_col, id_col, n)
    md5 = F.md5(F.col("shingle"))
    return sh.select(
        F.col(id_col),
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("_x1"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("_x2"),
    ).withColumn("_h", F.shiftleft(F.col("_x1"), 28) + F.shiftright(F.col("_x2"), 4))


def _signatures_from_hashed(hashed: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """H min-hashes from the one-md5-per-shingle halves via double hashing
    (Kirsch-Mitzenmacher): h_i = (x1 + i·x2) mod 2^32. 16× fewer digest
    computations than independent seeded hashes, identical SQL
    portability."""
    mask = F.lit((1 << 32) - 1)
    aggs = [
        F.min((F.col("_x1") + F.lit(i) * F.col("_x2")).bitwiseAND(mask)).alias(f"s{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: columns ``s0..s{H-1}`` = min over the
    doc's distinct shingles of portable_hash(shingle, seed=i)."""
    return _signatures_from_hashed(
        _hashed_shingles(df, text_col, id_col, shingle_n), id_col, num_hashes
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs ``(id_a, id_b, jaccard)``.

    Candidates = pairs agreeing on all rows of ≥1 band (band key = md5 of
    the band's signature slice); each candidate is verified with the exact
    Jaccard over distinct shingles, keeping pairs ≥ ``threshold``.
    LSH guarantee: a pair with true Jaccard j collides w.p.
    1-(1-j^r)^b (r = H/b rows per band) — tune (H, b) to put the S-curve
    knee at the threshold.
    """
    rows_per_band = num_hashes // bands
    # the hashed-shingle table is the shared expensive intermediate: cache
    # it (3 longs per row, not shingle strings) and derive both the
    # signatures and the Jaccard verification from it.
    sh = _hashed_shingles(df, text_col, id_col, shingle_n).cache()
    sig = _signatures_from_hashed(sh, id_col, num_hashes)
    # one map producing all band keys, exploded — the signature lineage
    # (shingle explode + H hash mins) is evaluated once, not once per band
    # per join side; `banded` is tiny (docs × bands) and cached for the
    # self-join.
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"s{i}").cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key"))
    banded = banded.cache()

    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    return _verify_jaccard(cand, sh, id_col, threshold, round_to)


def _verify_jaccard(
    cand: DataFrame, hashed: DataFrame, id_col: str, threshold: float, round_to: int
) -> DataFrame:
    """Exact Jaccard for candidate pairs via inverted-index join on the
    60-bit int64 shingle ids — both verify joins shuffle 8-byte keys, not
    shingle strings."""
    sizes = hashed.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    sa = hashed.select(F.col(id_col).alias("id_a"), "_h")
    sb = hashed.select(F.col(id_col).alias("_sb_id"), F.col("_h").alias("_h_b"))
    inter = (
        cand.join(sa, "id_a")
        .join(sb, (F.col("id_b") == F.col("_sb_id")) & (F.col("_h") == F.col("_h_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                round_to,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def jaccard_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    round_to: int = 6,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs via inverted-index join (no LSH): the
    candidate set is every pair sharing ≥1 (non-hot) shingle. This is the
    ground truth MinHash approximates; quadratic only in per-shingle
    collision counts, bounded by ``max_shingle_freq``."""
    # ONE hashed-shingle build serves candidate generation AND verification
    # (the hot-shingle cap filters candidates only; the Jaccard itself is
    # always over the full shingle sets)
    full = _hashed_shingles(df, text_col, id_col, shingle_n).cache()
    sh = full
    if max_shingle_freq is not None:
        hot = (
            full.groupBy("_h")
            .agg(F.count("*").alias("freq"))
            .where(F.col("freq") > max_shingle_freq)
            .select("_h")
        )
        sh = full.join(F.broadcast(hot), "_h", "left_anti")
    a = sh.select(F.col(id_col).alias("id_a"), "_h")
    b = sh.select(F.col(id_col).alias("id_b"), "_h")
    cand = (
        a.join(b, "_h")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_jaccard(cand, full, id_col, threshold, round_to)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    shingle_n: int = 3,
    impl: str = "expr",
) -> DataFrame:
    """``bits``-bit SimHash over distinct word ``shingle_n``-grams: bit j of
    the signature is the sign of Σ_features (±1 by bit j of
    portable_hash(feature)).

    Near-duplicate docs differ in few bits (compare with ``simhash_pairs``).
    Map + one aggregate; no joins. Shingle features (not unigrams) matter:
    corpora with a shared vocabulary put honest non-dups within small
    hamming of each other under bag-of-words SimHash (measured: 12% of all
    pairs ≤ 3 bits on the synthetic corpus); 3-gram features keep unrelated
    docs ~bits/2 apart while one-token edits stay hamming-close.

    ``impl='expr'`` folds the per-bit sums as ``bits`` aggregate
    expressions (codegen'd, exactly reproducible in the SQL oracle);
    ``impl='pandas'`` keeps the md5 hashing JVM-side but folds the bit
    sums as ONE vectorized numpy popcount per doc group — identical
    integer arithmetic, bit-for-bit the same signature, severalfold
    cheaper than ``bits`` aggregates per row at scale.
    """
    if bits > 60:
        raise ValueError("bits must be <= 60 (int64 signature)")
    tok = _distinct_shingles(df, text_col, id_col, shingle_n).select(
        F.col(id_col), F.col("shingle").alias("tok")
    )
    h = portable_hash(F.col("tok"), nibbles=(bits + 3) // 4).alias("h")
    tok = tok.select(id_col, h)
    if impl == "pandas":
        return _simhash_fold_pandas(tok, id_col, bits)
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(bits)
    ]
    agg = tok.groupBy(id_col).agg(*bit_sums)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"b{j}") >= 0, F.lit(2 ** j)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return agg.select(F.col(id_col), sim.cast("long").alias("simhash"))


def _simhash_fold_pandas(tok: DataFrame, id_col: str, bits: int) -> DataFrame:
    """Per-doc sign fold of already-hashed shingle values: one
    (n_shingles × bits) ±1 matrix sum per group. The groupBy distribution
    is already satisfied by ``_distinct_shingles``'s repartition(id), so
    this adds no extra shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    out_schema = StructType([tok.schema[id_col], StructField("simhash", LongType())])
    j = np.arange(bits, dtype=np.int64)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        hs = pdf["h"].to_numpy(dtype=np.int64)
        signs = (((hs[:, None] >> j) & 1) * 2 - 1).sum(axis=0)
        sim = int((((signs >= 0).astype(np.int64)) << j).sum())
        return pd.DataFrame({id_col: [pdf[id_col].iloc[0]], "simhash": [sim]})

    return tok.groupBy(id_col).applyInPandas(fold, schema=out_schema)


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 48,
    max_hamming: int = 3,
    band_bits: int = 12,
    shingle_n: int = 3,
    impl: str = "expr",
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Candidates via banding the signature into ``bits/band_bits`` chunks
    (pigeonhole: distance ≤ bands-1 guarantees one identical chunk), then
    exact popcount verify — never all-pairs.
    """
    sig = simhash_signatures(df, text_col, id_col, bits, shingle_n, impl=impl)
    n_bands = bits // band_bits
    mask = (1 << band_bits) - 1
    # one explode (NOT a per-band union of selects: each union branch would
    # re-execute the whole shingle+aggregate lineage, 2·bands times across
    # the self-join); cache the tiny banded table for both join sides
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask)).alias("chunk"),
        )
        for b in range(n_bands)
    ]
    banded = (
        sig.select(F.col(id_col), "simhash", F.explode(F.array(*band_structs)).alias("bk"))
        .select(id_col, "simhash", F.col("bk.band").alias("band"), F.col("bk.chunk").alias("chunk"))
        .cache()
    )
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.chunk") == F.col("b.chunk"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("id_a", "id_b", ham.alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
    )


def embedding_near_duplicates(
    emb_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    round_to: int = 6,
) -> DataFrame:
    """Exact cosine near-dup pairs ``(id_a, id_b, cos_sim)`` with
    cos ≥ threshold. All-pairs — correct at verification scale; at 100 TB
    use ``ann.portable_lsh_join`` to generate candidates first and this
    verify on the survivors."""
    a = emb_df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = emb_df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    return pairs.select(
        "id_a",
        "id_b",
        F.round(cosine_similarity("va", "vb"), round_to).alias("cos_sim"),
    ).where(F.col("cos_sim") >= threshold)


def benchmark_contamination(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 13,
    round_to: int = 6,
) -> DataFrame:
    """Training-corpus decontamination: flag documents that share any
    ``shingle_n``-gram with a held-out benchmark/eval set (the 13-gram
    overlap rule used for GPT-3-style decontamination; Brown et al. 2020,
    appendix C). Returns per-doc ``(doc_id, n_shingles, n_hits,
    contamination)`` for every corpus document, hits ≥ 1 meaning "remove
    or audit before training".

    Scale shape: both sides reduce to 60-bit int64 shingle ids (one md5
    per shingle, map-side); the benchmark side is distinct-ed and is tiny
    relative to the corpus — the join shuffles 8-byte keys and the
    benchmark side broadcasts when it fits. Documents shorter than
    ``shingle_n`` tokens fall back to their full-text shingle, so short
    benchmark strings still match verbatim copies.
    """
    d = _hashed_shingles(df, text_col, id_col, shingle_n)
    b = (
        _hashed_shingles(bench_df, text_col, id_col, shingle_n)
        .select("_h")
        .dropDuplicates(["_h"])
    )
    sizes = d.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    # the benchmark shingle set is tiny next to the corpus (eval suites are
    # MBs); broadcast it explicitly so the corpus-side shingles never shuffle
    hits = d.join(F.broadcast(b), "_h").groupBy(id_col).agg(F.count("*").alias("n_hits"))
    return (
        sizes.join(hits, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n_shingles"), round_to
            ).alias("contamination"),
        )
    )


# shared with textops.rm3_search — see operators/_checkpoint.py
from whatsapp_vectordb_spark.operators._checkpoint import (  # noqa: E402
    free_local_checkpoint as _free_local_checkpoint,
)

# winnow_fingerprints packs (hash, position) into one int64 so a plain
# window MIN selects "smallest hash, rightmost position" in one pass:
# key = hash·PBASE + (PBASE-1-pos). portable_hash is 32-bit, so
# hash·2^20 ≤ 2^52 — comfortably inside int64 for documents up to
# PBASE shingles (1M-token docs; longer ones should be chunked upstream).
_WINNOW_PBASE = 1 << 20


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS local fingerprinting algorithm): hash every
    POSITIONAL ``k``-token shingle, slide a window of ``w`` consecutive
    hashes over the sequence, and in each window select the minimum hash
    (rightmost occurrence on ties, per the paper — the fixed tie rule is
    what makes selections REPRODUCIBLE across documents, so two copies of
    a tie-heavy passage still pick the same positions). Guarantee: any
    verbatim run of at least
    ``w + k - 1`` shared tokens between two documents yields at least one
    SHARED selected fingerprint, so substring-level duplication is
    detectable from the fingerprint sets alone — unlike
    ``textops.fingerprints``'s single content_fp (the degenerate w=∞
    case) or MinHash (whole-document Jaccard, blind to a copied
    paragraph inside an otherwise-novel document; Lee et al. 2022's
    motivation for substring dedup).

    Returns ``(id_col, fp_pos, fp_hash)`` — the 0-based shingle position
    and 32-bit portable hash of each selected fingerprint, distinct per
    document.

    Scale shape: tokenize/shingle/hash are map-only; the only shuffle is
    the per-document window (``partitionBy(doc_id)`` — bounded partitions,
    documents are bounded; no global window). The min-of-window runs on a
    packed int64 (see ``_WINNOW_PBASE``) so tie-breaking needs no struct
    ordering — the same plain ``MIN`` works verbatim in the SQL oracle.
    Documents shorter than ``k`` tokens contribute their full token
    string as a single position-0 shingle (the ``shingles_from_tokens``
    convention), so nothing silently drops out.
    """
    toks = df.select(F.col(id_col), tokens(text_col).alias("_tk"))
    posed = toks.select(
        id_col,
        F.posexplode(shingles_from_tokens(F.col("_tk"), k)).alias("pos", "gram"),
    )
    # Loud failure instead of silent key corruption: pos ≥ PBASE would
    # drive (PBASE-1-pos) negative, breaking both the window MIN ordering
    # and the fp_pos/fp_hash unpack. assert_true evaluates to NULL on
    # every valid row (so the filter keeps them all) and fails the job on
    # the first over-long document — chunk such docs upstream.
    posed = posed.where(
        F.assert_true(
            F.col("pos") < _WINNOW_PBASE,
            F.lit(
                f"winnow_fingerprints: document exceeds {_WINNOW_PBASE} "
                "shingles; chunk over-long documents upstream"
            ),
        ).isNull()
    )
    h = portable_hash("gram")
    keyed = posed.select(
        id_col,
        "pos",
        (h * F.lit(_WINNOW_PBASE) + (F.lit(_WINNOW_PBASE - 1) - F.col("pos"))).alias(
            "_hkey"
        ),
    )
    win = Window.partitionBy(id_col).orderBy("pos").rowsBetween(0, w - 1)
    per_doc = Window.partitionBy(id_col)
    picked = (
        keyed.withColumn("_m", F.min("_hkey").over(win))
        .withColumn("_n", F.count("*").over(per_doc))
        # full windows only (window STARTS at pos ≤ n-w); short documents
        # (n < w) degenerate to one min over all their hashes, anchored
        # at pos 0 so exactly one window fires
        .where((F.col("pos") <= F.col("_n") - w) | ((F.col("_n") < w) & (F.col("pos") == 0)))
    )
    return picked.select(
        id_col,
        (F.lit(_WINNOW_PBASE - 1) - F.col("_m") % _WINNOW_PBASE).alias("fp_pos"),
        F.expr(f"_m div {_WINNOW_PBASE}").alias("fp_hash"),
    ).distinct()


def winnow_duplicate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
    release_cache: bool = True,
    durable_path: str | None = None,
) -> DataFrame:
    """Substring-level duplicate pairs from shared winnowing fingerprints:
    documents sharing at least ``min_shared`` distinct selected hashes
    (each shared hash witnesses a shared ≥k-token run) are emitted as
    ``(id_a, id_b, n_shared)`` with ``id_a < id_b``.

    Scale shape: the candidate join is an equi-join on the 32-bit
    fingerprint hash — an inverted index, never the O(n²) cross product.
    Skew guard: ``max_df`` drops fingerprints present in more than that
    many documents before the self-join (boilerplate/license headers
    select the same minima in MILLIONS of documents and would contribute
    ~df² pair rows each while carrying no dup signal — same rationale as
    ``max_shingle_freq`` in the Jaccard path). At 100 TB set it to a few
    hundred; the gate-scale registry query leaves it off so the oracle
    stays a 3-CTE replay.

    Cache lifecycle: the ``max_df`` branch caches the fingerprint table
    (one expensive window pass serves both the hot-set aggregation and
    the candidate join). With ``release_cache=True`` (default) the result
    is eagerly materialized via ``localCheckpoint`` and the cache dropped
    before returning — long-lived sessions / incremental pipelines don't
    accumulate cached fingerprint partitions per call (ADVICE r11).
    Pass ``release_cache=False`` to keep the whole computation lazy (the
    fingerprint cache then lives until the caller clears it — plan-audit
    and single-query sessions only).

    DURABILITY CAVEAT (ADVICE r12): ``release_cache=True`` also changes
    the failure semantics, not just the lifecycle — the call becomes
    EAGER (the pairs job runs here, at call time) and the returned frame
    is pinned to ``localCheckpoint`` blocks, which are NOT fault
    tolerant: they live on executors with no lineage to recompute from,
    so losing an executor after return fails any later action on the
    result instead of transparently recomputing it. ``durable_path``
    (r14) is the fault-tolerant alternative: the bounded pair set is
    written to that parquet path and the RE-READ frame returned — any
    later action replays from storage, surviving executor churn, and
    the fingerprint cache is still released. Use it for long jobs that
    consume the pairs much later; localCheckpoint remains the default
    because it skips the write round-trip for consume-now callers.
    """
    fps = (
        winnow_fingerprints(df, text_col, id_col, k=k, w=w)
        .select(id_col, "fp_hash")
        .distinct()
    )
    cached = None
    if max_df is not None:
        # ONE fingerprint build serves the df count AND the join (the
        # per-doc window pass is the expensive part — cache it). Guard in
        # the max_shingle_freq idiom: broadcast the HOT set and anti-join.
        # Hot boilerplate fingerprints are the rare case by construction,
        # so the broadcast stays small; broadcasting the QUALIFYING set
        # instead would be O(all distinct fingerprints) — unbroadcastable
        # at corpus scale.
        cached = fps = fps.cache()
        hot = (
            fps.groupBy("fp_hash")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_df)
            .select("fp_hash")
        )
        fps = fps.join(F.broadcast(hot), "fp_hash", "left_anti")
    a = fps.select(F.col(id_col).alias("id_a"), "fp_hash")
    b = fps.select(F.col(id_col).alias("id_b"), "fp_hash")
    pairs = (
        a.join(b, "fp_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    if durable_path is not None:
        # fault-tolerant materialization: pairs land in storage and the
        # returned frame replays from there (no executor-pinned blocks)
        pairs.write.mode("overwrite").parquet(durable_path)
        pairs = df.sparkSession.read.parquet(durable_path)
        if cached is not None and release_cache:
            # release_cache=False keeps the fingerprint cache for
            # follow-up queries, exactly as on the localCheckpoint path
            cached.unpersist()
    elif cached is not None and release_cache:
        # pairs is bounded (duplicate pairs above min_shared, not corpus
        # rows) — materialize it, then drop the fingerprint cache so it
        # can't pile up across calls in a long-lived session
        pairs = pairs.localCheckpoint(eager=True)
        cached.unpersist()
    return pairs


def winnow_shared_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    max_gap: int | None = None,
    min_fps: int = 2,
    max_df: int | None = None,
    release_cache: bool = True,
) -> DataFrame:
    """WHERE the copy is, not just that it exists: collinear shared
    winnowing fingerprints grouped into maximal spans — the span-level
    output that makes substring dedup actionable (ExactSubstr, Lee et al.
    2022, CUTS the duplicated bytes; a pair verdict alone can't say what
    to cut, and ``duplicate_spans``'s per-window coverage fraction can't
    say what matches WHOM).

    Method: shared fingerprints between two documents that come from one
    verbatim run match at a CONSTANT position offset (``pos_a - pos_b``),
    so grouping matches by (pair, offset) and island-splitting on
    ``pos_a`` gaps > ``max_gap`` (default ``w`` — inside a shared run
    winnowing selects ≥1 fingerprint per ``w`` consecutive windows, so
    true runs never gap wider) yields one row per copied region:
    ``(id_a, id_b, start_a, end_a, start_b, end_b, n_fps)`` with
    inclusive 0-based TOKEN bounds (``end = last fp pos + k - 1``).
    ``min_fps`` (default 2) drops single-fingerprint islands — a lone
    shared k-gram is coincidence-grade evidence.

    Scale shape: identical to ``winnow_duplicate_pairs`` up to the
    inverted-index equi-join (``max_df`` hot-fingerprint anti-join guard
    included); the island windows partition by (id_a, id_b, offset) —
    bounded by per-document fingerprint counts, never global. The
    ``release_cache`` semantics — including the eager-execution and
    non-fault-tolerant ``localCheckpoint`` caveat for long-lived
    consumers — are exactly ``winnow_duplicate_pairs``'s (ADVICE r12:
    write the spans to scratch parquet if the result must survive
    executor loss).
    """
    gap = w if max_gap is None else max_gap
    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    cached = None
    if max_df is not None:
        cached = fps = fps.cache()
        hot = (
            fps.select(id_col, "fp_hash")
            .distinct()
            .groupBy("fp_hash")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") > max_df)
            .select("fp_hash")
        )
        fps = fps.join(F.broadcast(hot), "fp_hash", "left_anti")
    a = fps.select(
        F.col(id_col).alias("id_a"), F.col("fp_pos").alias("pos_a"), "fp_hash"
    )
    b = fps.select(
        F.col(id_col).alias("id_b"), F.col("fp_pos").alias("pos_b"), "fp_hash"
    )
    m = (
        a.join(b, "fp_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            "pos_a",
            (F.col("pos_a") - F.col("pos_b")).alias("_off"),
        )
    )
    wseq = Window.partitionBy("id_a", "id_b", "_off").orderBy("pos_a")
    isl = (
        m.withColumn(
            "_brk",
            F.when(F.col("pos_a") - F.lag("pos_a").over(wseq) > gap, 1).otherwise(0),
        ).withColumn(
            "_isl",
            F.sum("_brk").over(wseq.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    spans = (
        isl.groupBy("id_a", "id_b", "_off", "_isl")
        .agg(
            F.min("pos_a").alias("start_a"),
            (F.max("pos_a") + F.lit(k - 1)).alias("end_a"),
            F.count("*").alias("n_fps"),
        )
        .where(F.col("n_fps") >= min_fps)
        .select(
            "id_a",
            "id_b",
            "start_a",
            "end_a",
            (F.col("start_a") - F.col("_off")).alias("start_b"),
            (F.col("end_a") - F.col("_off")).alias("end_b"),
            "n_fps",
        )
    )
    if cached is not None and release_cache:
        # same lifecycle as winnow_duplicate_pairs: spans are bounded by
        # actual duplication, so eager-materialize and drop the cache
        spans = spans.localCheckpoint(eager=True)
        cached.unpersist()
    return spans


def bloom_decontaminate(
    df: DataFrame,
    bench_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 13,
    m_bits: int = 1 << 20,
    k_hashes: int = 3,
) -> DataFrame:
    """``benchmark_contamination``'s at-scale twin: instead of joining the
    corpus shingles against the benchmark shingle table, compress the
    benchmark side into an ``m_bits``-bit Bloom filter and broadcast THAT
    — a corpus shingle is a hit iff all ``k_hashes`` of its bits are set.
    Same output shape ``(doc_id, n_shingles, n_hits, contamination)``;
    ``n_hits`` now includes the filter's false positives (rate
    ≈ (1-e^(-k·n/m))^k — at the 13-gram GPT-3 decontamination rule's
    typical |bench| ≈ 10⁷ shingles, m=2³⁰/k=3 gives ~1e-4, i.e. audit
    noise, not a correctness risk, and tunable with one parameter).

    Why it matters at 100 TB: the join form ships the benchmark shingle
    table to every join task (fine for MB-scale eval suites, dead at a
    multi-GB held-out corpus); the Bloom form broadcasts ``m/8`` bytes
    ONCE (128 KB at 2²⁰ bits, 128 MB at 2³⁰) and the corpus side becomes
    a pure map — no shuffle, no join, bounded memory, same plan cost as a
    filter. The membership test is the one place built-ins can't express
    a bitmap lookup, so it is an Arrow-batched pandas UDF over the k
    hash columns (never per-row Python).

    Determinism (and the oracle): bit positions reuse
    ``_hashed_shingles``'s md5 halves via Kirsch-Mitzenmacher double
    hashing — bit_j = (x1 + j·x2) mod m, m a power of two — so the SQL
    oracle sets/tests the EXACT same bits and reproduces every false
    positive bit-for-bit (the registry query's hash check covers them).
    """
    if m_bits & (m_bits - 1):
        raise ValueError(f"m_bits must be a power of two, got {m_bits}")
    mask = m_bits - 1

    def bits_of(hashed: DataFrame) -> DataFrame:
        return hashed.select(
            F.explode(
                F.array(
                    *[
                        ((F.col("_x1") + j * F.col("_x2")).bitwiseAND(mask)).alias(
                            f"_b{j}"
                        )
                        for j in range(k_hashes)
                    ]
                )
            ).alias("_bit")
        )

    import numpy as np

    # Build the bitmap EXECUTOR-SIDE as packed byte chunks (1 bit per bit,
    # not numpy-bool's byte per bit): group set bits by 64 Kbit chunk,
    # pack each chunk to its 8 KiB byte image in an Arrow-batched
    # grouped-map UDF, and OR-assemble the ≤ m/2¹⁶ chunk rows on the
    # driver. Driver transfer is O(m/8) bytes FLAT — never
    # O(|bench shingles|·k) rows (at the 10⁷-shingle eval suites above,
    # a per-bit collect would be ~3·10⁷ driver Rows; this is ≤ 128 MiB
    # at m=2³⁰ no matter how large the bench side grows).
    chunk_bits = min(m_bits, 1 << 16)
    chunk_bytes = chunk_bits >> 3
    chunk_shift = chunk_bits.bit_length() - 1

    def _pack_chunk(pdf):
        import pandas as pd

        arr = np.zeros(chunk_bytes, dtype=np.uint8)
        off = pdf["_off"].to_numpy(dtype=np.int64)
        np.bitwise_or.at(arr, off >> 3, (1 << (off & 7)).astype(np.uint8))
        return pd.DataFrame(
            {"_chunk": pdf["_chunk"].iloc[:1], "_packed": [arr.tobytes()]}
        )

    parts = (
        bits_of(_hashed_shingles(bench_df, text_col, id_col, shingle_n))
        .select(
            F.shiftright("_bit", chunk_shift).alias("_chunk"),
            F.col("_bit").bitwiseAND(chunk_bits - 1).alias("_off"),
        )
        .groupBy("_chunk")
        .applyInPandas(_pack_chunk, "_chunk long, _packed binary")
        .collect()
    )
    bitmap = np.zeros(m_bits >> 3, dtype=np.uint8)
    for row in parts:
        lo = row["_chunk"] * chunk_bytes
        bitmap[lo : lo + chunk_bytes] = np.frombuffer(row["_packed"], dtype=np.uint8)
    bc = df.sparkSession.sparkContext.broadcast(bitmap)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("boolean")
    def bloom_contains(x1, x2):  # pd.Series[int64] × 2 → pd.Series[bool]
        import pandas as pd

        bmap = bc.value  # packed: bit p lives at bmap[p >> 3], lane p & 7
        a = x1.to_numpy(dtype=np.int64)
        b = x2.to_numpy(dtype=np.int64)
        pos = (a[:, None] + np.arange(k_hashes, dtype=np.int64)[None, :] * b[:, None]) & mask
        hit = (bmap[pos >> 3] >> (pos & 7)) & 1
        return pd.Series(hit.all(axis=1).astype(bool))

    d = _hashed_shingles(df, text_col, id_col, shingle_n)
    flagged = d.select(id_col, bloom_contains("_x1", "_x2").alias("_hit"))
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.col("_hit").cast("int")).alias("n_hits"),
        F.round(
            F.sum(F.col("_hit").cast("int")) / F.count("*"), 6
        ).alias("contamination"),
    )


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected dup-pair graph by hash-min
    label propagation: every node starts labeled with its own id; each
    round a node takes the minimum label among itself and its neighbors;
    converged when no label changes. Returns ``(node, component)`` where
    ``component`` is the smallest node id in the cluster.

    This is the step that turns pairwise near-dup evidence (MinHash/SimHash/
    cosine pairs) into a keep/drop decision — one canonical doc per cluster.

    Scale shape: each round is one join edges⋈labels + one min-groupBy,
    followed by a POINTER-DOUBLING shortcut (label ← min(label,
    label[label]) — the path-halving trick from Kiveris et al.'s
    star-contraction family): shuffles are keyed by node id, state is
    O(|V|), and rounds are O(log diameter) instead of O(diameter), so a
    pathological 1000-link duplicate chain (a boilerplate page mutated
    incrementally across a crawl) converges in ~10 rounds instead of
    blowing past ``max_iter``. The shortcut cannot change the fixpoint:
    labels only ever decrease, and label[v] is always the id of a node in
    v's component (neighbor labels by edge-reachability, label-of-label by
    transitivity), so the limit is the same per-component minimum the
    plain propagation reaches. Iteration happens on the driver but every
    round is a distributed plan — no per-node Python. Each round's label
    frames are checkpointed (see the plan-size note at the loop) and every
    SUPERSEDED round's blocks are released eagerly, so live storage is
    ≤ 2 copies of the O(|V|) label table at any time; convergence is one
    count() of changed labels per round.
    """
    if max_iter < 1:
        # changed is pre-initialized to 0, so a zero-iteration run would
        # "converge" with every node its own component — wrong labels
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    # one explode, not a self-union (r18): the union form put the whole
    # `edges` subtree in the plan twice — an expensive pair computation
    # fed here would run once per branch even under the cache (the
    # doubling is inside the cached plan's first materialization)
    und = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("node"), F.col(dst).alias("nbr")),
                    F.struct(F.col(dst).alias("node"), F.col(src).alias("nbr")),
                )
            ).alias("e")
        )
        .select("e.node", "e.nbr")
        .dropDuplicates(["node", "nbr"])
        .cache()
    )
    # per-round lineage MUST be truncated to a leaf (localCheckpoint, not
    # cache): the shortcut self-join puts the round's subtree in the plan
    # TWICE, so with growing lineage the LOGICAL plan doubles per round —
    # caching bounds execution but Catalyst still analyzes the whole tree,
    # and analysis time/heap explodes exponentially (measured: round 5 of
    # a 30-chain took 45 s and a 120-chain OOM'd the driver). A checkpoint
    # leaf keeps every round's plan constant-size.
    labels = (
        und.select("node")
        .dropDuplicates()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    changed = 0
    for _ in range(max_iter):
        prop = und.join(
            labels.withColumnRenamed("node", "nbr").withColumnRenamed("label", "nbr_label"),
            "nbr",
        ).select("node", F.col("nbr_label").alias("label"))
        stepped = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint()
        )
        # pointer doubling: label ← min(label, label[label]). label[label]
        # exists whenever label ≠ node (every propagated label is itself a
        # node), so a LEFT join + coalesce keeps self-labeled roots intact.
        new_labels = (
            stepped.alias("l1")
            .join(
                stepped.select(
                    F.col("node").alias("_ln"), F.col("label").alias("_ll")
                ).alias("l2"),
                F.col("l1.label") == F.col("_ln"),
                "left",
            )
            .select(
                F.col("l1.node").alias("node"),
                F.least(
                    F.col("l1.label"), F.coalesce(F.col("_ll"), F.col("l1.label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.join(labels.withColumnRenamed("label", "old"), "node")
            .where(F.col("label") != F.col("old"))
            .count()
        )
        # new_labels is materialized (eager checkpoint) and changed is
        # counted — this round's stepped and the previous labels are dead
        _free_local_checkpoint(stepped)
        _free_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    und.unpersist()
    if changed != 0:
        # partially-propagated labels are WRONG labels — downstream
        # keep/drop verdicts would silently split clusters
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            f"({changed} labels still changing); raise max_iter — rounds "
            "needed ≈ graph diameter"
        )
    return labels.select("node", F.col("label").alias("component"))


def canonicalize_duplicates(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Per-node dedup verdict from pairwise evidence: cluster the dup graph
    (``connected_components``), elect the minimum id as the cluster's
    canonical representative, and emit ``(id, canonical_id, cluster_size,
    is_canonical)``. Downstream keeps rows where ``is_canonical = 1`` (or
    anti-joins the rest away); singleton docs never enter the graph and are
    implicitly kept."""
    comp = connected_components(pairs, src=src, dst=dst, max_iter=max_iter)
    w = Window.partitionBy("component")
    return comp.select(
        F.col("node").alias("id"),
        F.col("component").alias("canonical_id"),
        F.count("*").over(w).alias("cluster_size"),
        F.when(F.col("node") == F.col("component"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("is_canonical"),
    )


def containment_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.6,
    round_to: int = 6,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT
    ``|A∩B| / |A|`` — the measure that catches a document that is an
    excerpt/quote/subset of another (Broder's containment, the companion
    to resemblance/Jaccard). Jaccard misses these: a paragraph inside a
    book has tiny Jaccard but containment ≈ 1, and a training corpus
    full of partial copies still memorizes.

    Returns one row per unordered candidate pair with BOTH directions —
    ``(id_a, id_b, containment_a, containment_b)`` where ``containment_a``
    is the fraction of A's shingles found in B — filtered to pairs whose
    larger direction clears ``threshold``.

    Scale shape: identical to ``jaccard_near_duplicates`` — inverted-index
    candidate join on 60-bit int64 shingle ids (hot shingles droppable
    from candidate generation only; the containment itself is always over
    full sets), per-pair counts shuffled on 8-byte keys.
    """
    full = _hashed_shingles(df, text_col, id_col, shingle_n).cache()
    sh = full
    if max_shingle_freq is not None:
        hot = (
            full.groupBy("_h")
            .agg(F.count("*").alias("freq"))
            .where(F.col("freq") > max_shingle_freq)
            .select("_h")
        )
        sh = full.join(F.broadcast(hot), "_h", "left_anti")
    a = sh.select(F.col(id_col).alias("id_a"), "_h")
    b = sh.select(F.col(id_col).alias("id_b"), "_h")
    cand = (
        a.join(b, "_h")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sizes = full.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    sa = full.select(F.col(id_col).alias("id_a"), "_h")
    sb = full.select(F.col(id_col).alias("_sb_id"), F.col("_h").alias("_h_b"))
    inter = (
        cand.join(sa, "id_a")
        .join(sb, (F.col("id_b") == F.col("_sb_id")) & (F.col("_h") == F.col("_h_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    out = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(F.col("n_common").cast("double") / F.col("n_a"), round_to).alias(
                "containment_a"
            ),
            F.round(F.col("n_common").cast("double") / F.col("n_b"), round_to).alias(
                "containment_b"
            ),
        )
    )
    return out.where(
        F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold
    )


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_n: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Per-document duplicated-span coverage, the ExactSubstr measure of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") at n-gram granularity: a positional ``span_n``-token window is
    *duplicated* when the identical window occurs in at least one OTHER
    document. Returns ``(doc_id, n_spans, n_dup_spans, dup_fraction)``
    where ``n_spans`` counts every position (NOT distinct — a window
    repeated 5 times that is duplicated elsewhere contributes 5 to the
    numerator, matching span coverage semantics), so ``dup_fraction`` is
    the fraction of the doc's token windows that exist verbatim elsewhere.

    This complements document-level dedup (MinHash/SimHash find mostly-
    duplicate *documents*) by quantifying partial copying — boilerplate,
    quoted passages, licence headers — which document-level Jaccard dilutes
    away but which still drives memorization in training.

    Scale shape: windows reduce map-side to 60-bit int64 ids (one md5
    each); the cross-doc occurrence test is a distinct + groupBy on the
    8-byte id (never the string), and the hit join shuffles only ids.
    No pairwise expansion anywhere — cost is O(total tokens), the same
    asymptotic shape as a suffix-array ExactSubstr pass but expressed as
    two key-shuffles Catalyst/AQE can plan.
    """
    toked = df.repartition(F.col(id_col)).select(
        F.col(id_col), tokens(text_col).alias("_tk")
    )
    md5 = F.md5(F.col("_sp"))
    grams = (
        toked.select(
            F.col(id_col),
            F.explode(shingles_from_tokens(F.col("_tk"), span_n)).alias("_sp"),
        )
        .select(
            F.col(id_col),
            F.conv(F.substring(md5, 1, 15), 16, 10).cast("long").alias("_h"),
        )
        .cache()
    )
    dup_ids = (
        grams.select(id_col, "_h")
        .distinct()
        .groupBy("_h")
        .agg(F.count("*").alias("_nd"))
        .where(F.col("_nd") >= 2)
        .select("_h")
    )
    sizes = grams.groupBy(id_col).agg(F.count("*").alias("n_spans"))
    hits = grams.join(dup_ids, "_h").groupBy(id_col).agg(
        F.count("*").alias("n_dup_spans")
    )
    return sizes.join(hits, id_col, "left").select(
        id_col,
        "n_spans",
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).alias("n_dup_spans"),
        F.round(
            F.coalesce(F.col("n_dup_spans"), F.lit(0)) / F.col("n_spans"), round_to
        ).alias("dup_fraction"),
    )


def semantic_dedup(
    emb: DataFrame,
    cluster_col: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication scoped to
    clusters — drop any item that has a LOWER-id neighbor in the same
    cluster with cosine ≥ ``threshold``; the lowest-id member of each
    near-duplicate group survives. Output: one row per dropped item,
    ``(vec_id, keeper, cos_sim)`` with ``keeper`` its lowest-id
    above-threshold neighbor (deterministic, oracle-replayable).

    This is the scale path for embedding-level dedup: the quadratic pair
    generation is confined to each cluster (shuffle keyed by
    ``cluster_col``; cost Σ|cluster|², not N²). Clusters come from any
    assignment — k-means cells, LSH buckets, or an existing label. Pair a
    hot-cluster guard (cap or re-split oversized clusters) in ingest when
    cluster sizes are unbounded; similarity is rounded BEFORE the
    threshold so both engines make identical keep/drop calls.
    """
    from whatsapp_vectordb_spark.functions.vector import cosine_similarity

    a = emb.select(
        F.col(cluster_col).alias("_c"),
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
    )
    b = emb.select(
        F.col(cluster_col).alias("_c"),
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
    )
    pairs = (
        a.join(b, "_c")
        .where(F.col("_ida") < F.col("_idb"))
        .select(
            "_ida",
            "_idb",
            F.round(cosine_similarity(F.col("_va"), F.col("_vb")), round_to).alias(
                "cos_sim"
            ),
        )
        .where(F.col("cos_sim") >= threshold)
    )
    w = Window.partitionBy("_idb").orderBy(F.col("_ida").asc())
    return (
        pairs.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            F.col("_idb").alias(id_col),
            F.col("_ida").alias("keeper"),
            "cos_sim",
        )
    )


def binary_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    dim: int = 64,
    band_bits: int = 16,
    max_hamming: int = 3,
) -> DataFrame:
    """Perceptual-hash-style near-dup pairs over sign-bit signatures:
    quantize each vector to 64 bits (``ann.binary_signature``), split the
    signature into ``64/band_bits`` bands, equi-join on any exact band
    match, then verify Hamming ≤ ``max_hamming`` with XOR+popcount. The
    media analogue of pHash dedup: two assets whose features nearly agree
    share a signature within a few bits.

    Recall is GUARANTEED, not probabilistic: with ``max_hamming <
    n_bands``, ≤ max_hamming differing bits cannot touch every band
    (pigeonhole), so every qualifying pair shares at least one exact
    band and survives candidate generation.

    Scale shape: candidates come from an equi-join on (band, 16-bit
    value) — never all-pairs; the verify reads the two 8-byte signatures
    already carried through the join (no join back to vectors). Large
    exact-duplicate groups make their band value hot with O(group²)
    candidate pairs — the same bound any pairwise dedup output has.
    """
    from whatsapp_vectordb_spark.operators.ann import binary_signature

    n_bands = dim // band_bits
    if max_hamming >= n_bands:
        raise ValueError(
            f"max_hamming={max_hamming} needs < n_bands={n_bands} for "
            "guaranteed banding recall"
        )
    lo, hi = binary_signature(vec_col, dim)
    sigs = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), lo.alias("lo"), hi.alias("hi")
    )
    # ONE pass producing every band row (explode, not an n_bands-way
    # self-union which evaluated the upstream — for the multimodal row,
    # the whole decode pipeline — once per band per join side; r18), and
    # a cache so the self-join's two sides share that single evaluation
    band_structs = []
    for b in range(n_bands):
        src = F.col("lo") if b * band_bits < 32 else F.col("hi")
        shift = (b * band_bits) % 32
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(src, shift)
                .bitwiseAND(F.lit((1 << band_bits) - 1))
                .alias("bval"),
            )
        )
    banded = (
        sigs.select(
            "id", "lo", "hi", F.explode(F.array(*band_structs)).alias("bk")
        )
        .select(
            "id", "lo", "hi",
            F.col("bk.band").alias("band"),
            F.col("bk.bval").alias("bval"),
        )
        .cache()
    )
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.lo").alias("la"),
            F.col("a.hi").alias("ha"),
            F.col("b.lo").alias("lb"),
            F.col("b.hi").alias("hb"),
        )
        .distinct()
    )
    ham = (
        F.bit_count(F.col("la").bitwiseXOR(F.col("lb")))
        + F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    ).cast("long")
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def minhash_calibration(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Sketch-quality calibration curve: for every LSH candidate pair,
    compare the MinHash ESTIMATE (number of agreeing signature rows, the
    unbiased Jaccard estimator k/H) against the EXACT Jaccard, aggregated
    per agreement level — the evidence that tells you what a 12/16
    signature match actually means on THIS corpus before trusting the
    sketch at 100 TB (where the exact verify is what you're trying to
    avoid paying for most pairs).

    Output: ``(n_match, n_pairs, mean_jaccard_micro)`` — mean exact
    Jaccard in integer micro-units per pair (half-away rounded BEFORE
    the sum, floor-divided by the count), so every engine aggregates
    identical integers in any order.
    """
    rows_per_band = num_hashes // bands
    sh = _hashed_shingles(df, text_col, id_col, shingle_n).cache()
    sig = _signatures_from_hashed(sh, id_col, num_hashes)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"s{i}").cast("string")
                        for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                    ],
                )
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    banded = sig.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )
    a, b_ = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b_,
            on=[
                F.col("a.band") == F.col("b.band"),
                F.col("a.band_key") == F.col("b.band_key"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )

    siga = sig.select(
        F.col(id_col).alias("id_a"), *[F.col(f"s{i}").alias(f"_a{i}") for i in range(num_hashes)]
    )
    sigb = sig.select(
        F.col(id_col).alias("id_b"), *[F.col(f"s{i}").alias(f"_b{i}") for i in range(num_hashes)]
    )
    n_match = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    est = cand.join(siga, "id_a").join(sigb, "id_b").select(
        "id_a", "id_b", n_match.cast("int").alias("n_match")
    )

    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    sa = sh.select(F.col(id_col).alias("id_a"), "_h")
    sb = sh.select(F.col(id_col).alias("_sb_id"), F.col("_h").alias("_h_b"))
    inter = (
        cand.join(sa, "id_a")
        .join(sb, (F.col("id_b") == F.col("_sb_id")) & (F.col("_h") == F.col("_h_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    exact = (
        cand.join(inter, ["id_a", "id_b"], "left")
        .join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
            (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_common"), F.lit(0))).alias(
                "n_union"
            ),
        )
        .select(
            "id_a",
            "id_b",
            F.expr("(2000000 * n_common + n_union) div (2 * n_union)")
            .cast("long")
            .alias("j_micro"),
        )
    )
    return (
        est.join(exact, ["id_a", "id_b"])
        .groupBy("n_match")
        .agg(F.count("*").cast("long").alias("n_pairs"), F.sum("j_micro").alias("_sj"))
        .select(
            "n_match",
            "n_pairs",
            F.expr("_sj div n_pairs").cast("long").alias("mean_jaccard_micro"),
        )
    )


def novelty_vs_reference(
    df: DataFrame,
    ref_cond,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 5,
) -> DataFrame:
    """Memorization/novelty audit: for every NON-reference document, the
    fraction of its distinct word ``shingle_n``-grams that do NOT occur
    anywhere in the reference slice (``ref_cond`` rows) — the standard
    check that generated/synthetic data adds new content instead of
    replaying its sources (the inverse of benchmark decontamination:
    there overlap is the crime, here it's the baseline).

    Output: ``(id, n_shingles, n_novel, novelty_micro)`` with the ratio
    half-away-rounded in integer micro-units. Scale shape: the reference
    shingle set is a distinct 60-bit int64 column; novelty is one
    anti-join on that 8-byte key — no strings shuffle, no broadcast
    assumption (the reference may itself be corpus-sized).
    """
    sh = _hashed_shingles(df, text_col, id_col, shingle_n)
    flagged = df.select(F.col(id_col), ref_cond.alias("_is_ref")).join(
        sh, id_col
    )
    ref_h = flagged.where(F.col("_is_ref")).select("_h").distinct()
    tgt = flagged.where(~F.col("_is_ref")).select(id_col, "_h")
    totals = tgt.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    novel = (
        tgt.join(ref_h, "_h", "left_anti")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_novel"))
    )
    return (
        totals.join(novel, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty_micro",
            F.expr("(2000000 * n_novel + n_shingles) div (2 * n_shingles)").cast("long"),
        )
    )


def elect_canonical(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    cluster_col: str = "canonical_id",
    score_col: str = "score",
) -> DataFrame:
    """Quality-based canonical election over duplicate clusters: where
    ``canonicalize_duplicates`` keeps the MINIMUM id (arbitrary but
    deterministic), this keeps the best-scoring member — the curation
    behavior real pipelines want (among near-identical copies, keep the
    cleanest/longest/highest-quality one; see e.g. CCNet's keep-best-perplexity
    convention). Ties break to the lower id, so with an integer or rounded
    score the election is engine-portable.

    Input: ``clusters`` = (id, cluster) membership (one row per clustered
    doc), ``scores`` = (id, score). Output: one row per cluster —
    ``(cluster_id, cluster_size, elected_id, elected_score)``.

    Unscored members: ``scores`` is LEFT-joined, so a member missing from
    the scores table still counts toward ``cluster_size`` and still loses
    the election to any scored member (NULL sorts last); a cluster whose
    members are ALL unscored still appears, with the min-id member elected
    and ``elected_score`` NULL — no cluster silently disappears.

    Scale shape: one hash join on id (skinny), one shuffle keyed by the
    cluster id for the window — per-cluster rows are duplicate-group-sized,
    never corpus-sized.
    """
    joined = clusters.select(
        F.col(id_col).alias("_id"), F.col(cluster_col).alias("cluster_id")
    ).join(
        scores.select(F.col(id_col).alias("_id"), F.col(score_col).alias("_s")),
        "_id",
        "left",
    )
    w = Window.partitionBy("cluster_id")
    rn = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(
            F.col("_s").desc_nulls_last(), F.col("_id").asc()
        )
    )
    return (
        joined.select(
            "cluster_id",
            F.count("*").over(w).alias("cluster_size"),
            F.col("_id").alias("elected_id"),
            F.col("_s").alias("elected_score"),
            rn.alias("_rn"),
        )
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def winnow_cut_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    max_gap: int | None = None,
    min_fps: int = 2,
    max_df: int | None = None,
    release_cache: bool = True,
) -> DataFrame:
    """ExactSubstr dedup end-to-end (Lee et al. 2022): not just find the
    copied regions (``winnow_shared_spans``) but CUT them — the lower id
    of each pair keeps its text, the higher id loses the shared span, so
    every duplicated passage survives exactly once in the corpus.
    Returns ``(doc_id, n_tokens, n_removed, text_deduped)`` for EVERY
    input document (uncut docs pass through with n_removed = 0);
    ``text_deduped`` is the kept tokens space-joined — a tokenizer-level
    reconstruction (case/punctuation normalize away), which is the right
    currency for a training corpus that tokenizes anyway.

    Shape: spans → b-side cut regions → per-doc interval merge (sorted
    window + running-max island split, bounded per doc) → one HOF filter
    over each doc's token array against its interval ARRAY (collected
    per doc — spans per doc are few by construction; no position-level
    join, so no non-equi join blow-up at scale).
    """
    spans = winnow_shared_spans(
        df, text_col, id_col, k=k, w=w, max_gap=max_gap,
        min_fps=min_fps, max_df=max_df, release_cache=release_cache,
    )
    cuts = spans.select(
        F.col("id_b").alias(id_col),
        F.col("start_b").alias("_s"),
        F.col("end_b").alias("_e"),
    ).distinct()
    # merge overlapping/adjacent intervals: island = running max of _e
    # over earlier rows; a gap strictly wider than 1 token starts a new one
    wseq = Window.partitionBy(id_col).orderBy("_s", "_e")
    prevmax = F.max("_e").over(wseq.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        cuts.withColumn(
            "_brk",
            F.when(prevmax.isNull() | (F.col("_s") > prevmax + 1), 1).otherwise(0),
        )
        .withColumn(
            "_isl", F.sum("_brk").over(wseq.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "_isl")
        .agg(F.min("_s").alias("_s"), F.max("_e").alias("_e"))
        .groupBy(id_col)
        .agg(F.collect_list(F.struct("_s", "_e")).alias("_ivs"))
    )
    toks = df.select(F.col(id_col), tokens(text_col).alias("_tk"))
    joined = toks.join(merged, id_col, "left").select(
        id_col,
        "_tk",
        F.coalesce(
            F.col("_ivs"), F.array().cast("array<struct<_s:bigint,_e:bigint>>")
        ).alias("_ivs"),
    )
    kept_pos = F.filter(
        F.sequence(F.lit(0), F.size("_tk") - 1),
        lambda i: ~F.exists(
            F.col("_ivs"), lambda iv: (i >= iv["_s"]) & (i <= iv["_e"])
        ),
    )
    return joined.where(F.size("_tk") > 0).select(
        id_col,
        F.size("_tk").cast("long").alias("n_tokens"),
        (F.size("_tk") - F.size(kept_pos)).cast("long").alias("n_removed"),
        F.array_join(
            F.transform(kept_pos, lambda i: F.element_at("_tk", i + 1)), " "
        ).alias("text_deduped"),
    )
