"""Vector index lifecycle — the Pinecone analog (SURVEY.md §2.4, §2.6).

An index is a parquet-backed table of :data:`VECTOR_RECORD_SCHEMA` rows
plus a registry row ``{name, dimension, metric, created_at}`` (reference
index DDL, upsert/upsert.go:68-72). Operators:

- ``create_or_get``  — get-or-create DDL (reference upsert/upsert.go:38-111)
- ``upsert``         — replace-by-id, last writer wins (upsert/upsert.go:113-215)
- ``fetch``          — point lookup by ids (main.go:141-180, debug-commands.txt:15-18)
- ``stats``          — vector counts, per-namespace (debug-commands.txt:10-12)
- ``list_indexes``   — catalog listing (debug-commands.txt:1-3)

Scale design: the table is partitioned by ``namespace`` (the reference
models namespaces but never uses them, main.go:54 — here they do real
partition-pruning work) and upsert rewrites only the id-buckets that
received new rows when ``num_id_buckets`` is set, not the whole table —
the plain-parquet stand-in for Delta ``MERGE INTO``.
"""

from __future__ import annotations

import datetime as _dt
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window

from whatsapp_vectordb_spark.session import local_df
from pyspark.sql import functions as F

from whatsapp_vectordb_spark.commitlog import _writer_lease
from whatsapp_vectordb_spark.types import DEFAULT_METRIC, METRICS


def _single_writer(verb: str):
    """Run a VectorIndex mutation under the house writer lease (r17 —
    the enforced single-writer contract the serving layouts and dedup
    indexes carry): concurrent dynamic-partition overwrites or
    generation-dir swaps would silently lose one writer's rows. The
    lock file lives BESIDE the data dir (``<path>.writer.lock``) because
    the unbucketed upsert replaces the dir wholesale — a lock inside it
    would vanish with the old generation mid-hold."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(self, *args, **kwargs):
            with _writer_lease(
                self.path, verb, lock_path=self.path + ".writer.lock"
            ):
                return fn(self, *args, **kwargs)

        return wrapper

    return deco


class VectorIndex:
    """Handle to one named vector index under a filesystem root."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        dimension: int,
        metric: str,
        num_id_buckets: int = 0,
    ):
        self.spark = spark
        self.root = root
        self.name = name
        self.dimension = dimension
        self.metric = metric
        self.num_id_buckets = num_id_buckets
        self.path = os.path.join(root, "indexes", name)

    # -- DDL ----------------------------------------------------------------

    @staticmethod
    def _registry_path(root: str) -> str:
        return os.path.join(root, "_registry")

    @classmethod
    def create_or_get(
        cls,
        spark: SparkSession,
        root: str,
        name: str,
        dimension: int,
        metric: str = DEFAULT_METRIC,
        num_id_buckets: int = 0,
    ) -> "VectorIndex":
        """Get-or-create semantics (reference upsert/upsert.go:38-111): if the
        registry already has ``name``, return it (existing dimension/metric/
        bucketing win); otherwise register it. ``num_id_buckets > 0`` stores
        rows hash-bucketed by id (see ``upsert``) — fixed at creation, like
        the dimension."""
        if metric not in METRICS:
            raise ValueError(f"metric must be one of {METRICS}, got {metric!r}")
        existing = cls.list_indexes(spark, root)
        row = next((r for r in existing if r["name"] == name), None)
        if row is not None:
            return cls(
                spark, root, name, row["dimension"], row["metric"],
                int(row.get("num_id_buckets") or 0),
            )
        reg = local_df(spark, 
            [(
                name, dimension, metric, num_id_buckets,
                _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None),
            )],
            "name string, dimension int, metric string, num_id_buckets int, created_at timestamp",
        )
        reg.coalesce(1).write.mode("append").parquet(cls._registry_path(root))
        return cls(spark, root, name, dimension, metric, num_id_buckets)

    @classmethod
    def list_indexes(cls, spark: SparkSession, root: str) -> list[dict]:
        """A1: list all indexes (reference debug-commands.txt:1-3)."""
        p = cls._registry_path(root)
        if not os.path.exists(p):
            return []
        return [r.asDict() for r in spark.read.parquet(p).collect()]

    @classmethod
    def exists(cls, spark: SparkSession, root: str, name: str) -> bool:
        """A2: index existence (reference upsert/upsert.go:40-61)."""
        return any(r["name"] == name for r in cls.list_indexes(spark, root))

    # -- data ---------------------------------------------------------------

    def _empty(self) -> DataFrame:
        from whatsapp_vectordb_spark.types import VECTOR_RECORD_SCHEMA

        return local_df(self.spark, [], VECTOR_RECORD_SCHEMA)

    def read(self) -> DataFrame:
        df = self._read_raw()
        return df.drop("_bucket") if "_bucket" in df.columns else df

    def _read_raw(self) -> DataFrame:
        if not os.path.exists(self.path):
            return self._empty()
        return self.spark.read.parquet(self.path)

    @staticmethod
    def _bucket_of(id_col, n: int):
        return F.pmod(F.xxhash64(id_col), F.lit(n))

    @_single_writer("upsert")
    def upsert(self, batch: DataFrame) -> None:
        """K3: write a batch of ``(id, embedding, text, metadata, namespace)``
        rows; an id already present is *replaced* (Pinecone upsert contract,
        reference upsert/upsert.go:23). Last writer within the batch wins by
        ``_ingest_seq`` if present, else arbitrary-but-deterministic.

        Plain-parquet MERGE, two layouts chosen at index creation:

        - **unbucketed** (default): partitioned by ``namespace`` (tenant
          pruning); each upsert merges against the full table and swaps a
          fresh generation directory in — correct but O(table) rewrite.
        - **``num_id_buckets > 0``**: partitioned by ``_bucket =
          pmod(xxhash64(id), B)``. An upsert reads and rewrites ONLY the
          buckets its batch touches (dynamic partition overwrite) — the
          plain-parquet stand-in for Delta ``MERGE INTO``, with rewrite
          cost O(touched buckets), not O(table). Point fetch prunes to the
          ids' buckets. Trade-off: no namespace partition pruning.
        """
        cols = ["id", "embedding", "text", "metadata", "namespace"]
        if "embedding" in batch.columns:
            # enforce the index DDL dimension (reference upsert.go:68-72 —
            # Pinecone rejects wrong-dim vectors server-side; here it's one
            # cheap aggregate before any write)
            bad = batch.where(
                F.col("embedding").isNotNull() & (F.size("embedding") != self.dimension)
            ).count()
            if bad:
                raise ValueError(
                    f"{bad} vector(s) do not match index dimension {self.dimension}"
                )
        batch = batch.select(
            *[
                (F.col(c) if c in batch.columns else F.lit(None)).alias(c)
                for c in cols
            ],
            (
                F.col("_ingest_seq")
                if "_ingest_seq" in batch.columns
                else F.monotonically_increasing_id()
            ).alias("_seq"),
        ).withColumn("_gen", F.lit(1))
        if self.num_id_buckets > 0:
            self._upsert_bucketed(batch, cols)
            return
        existing = self.read().select(*cols).withColumn("_seq", F.lit(-1)).withColumn(
            "_gen", F.lit(0)
        )
        winner = self._merge(batch, existing, cols)
        tmp = self.path + ".staging"
        # namespace is the partition column (the reference models namespaces
        # but never uses them, main.go:54 — here they buy file pruning for
        # single-tenant reads; see test_index.test_namespace_partition_pruning)
        winner = winner.withColumn("namespace", F.coalesce(F.col("namespace"), F.lit("")))
        # cluster rows by their partition value before the partitioned write:
        # otherwise every shuffle partition emits a file per namespace it
        # touches (tiny-file explosion at fan-out; same fix at 100 TB)
        winner.repartition(F.col("namespace")).write.partitionBy("namespace").mode(
            "overwrite"
        ).parquet(tmp)
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        os.rename(tmp, self.path)

    @staticmethod
    def _merge(batch: DataFrame, existing: DataFrame, cols: list[str]) -> DataFrame:
        merged = batch.unionByName(existing)
        w = Window.partitionBy("id").orderBy(F.col("_gen").desc(), F.col("_seq").desc())
        return (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(*cols)
        )

    def _upsert_bucketed(self, batch: DataFrame, cols: list[str]) -> None:
        """Bounded-rewrite merge: only the batch's id-buckets are read,
        merged, and overwritten (dynamic partition overwrite replaces
        exactly the partitions present in the output — and every touched
        bucket IS present, since the batch has rows in it)."""
        b = self._bucket_of(F.col("id"), self.num_id_buckets)
        batch = batch.withColumn("_bucket", b)
        touched = [r["_bucket"] for r in batch.select("_bucket").distinct().collect()]
        raw = self._read_raw()
        if "_bucket" in raw.columns:
            existing = (
                raw.where(F.col("_bucket").isin(touched))  # partition-pruned read
                .select(*cols)
                .withColumn("_seq", F.lit(-1))
                .withColumn("_gen", F.lit(0))
                .withColumn("_bucket", b)
            )
            batch = batch.unionByName(existing)
        w = Window.partitionBy("id").orderBy(F.col("_gen").desc(), F.col("_seq").desc())
        winner = (
            batch.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .select(*cols, "_bucket")
        )
        prev = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            winner.repartition(F.col("_bucket")).write.partitionBy("_bucket").mode(
                "overwrite"
            ).parquet(self.path)
        finally:
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    @_single_writer("delete")
    def delete(self, ids: list[str]) -> int:
        """Delete vectors by id (the Pinecone ``vectors/delete`` verb — the
        lifecycle complement of the K3 upsert; the reference's curl admin
        surface stops at fetch/stats, debug-commands.txt:1-19). Returns the
        number of rows removed.

        Bucketed layout: prunes to the ids' hash buckets, rewrites ONLY
        those buckets minus the ids (dynamic partition overwrite) — same
        O(touched buckets) bound as upsert. A bucket emptied entirely is
        removed explicitly (dynamic overwrite only replaces partitions
        PRESENT in the output, so an all-deleted bucket would otherwise
        keep its stale files — the classic dynamic-overwrite pitfall).
        Unbucketed layout: full merge-and-swap, O(table) like its upsert.
        """
        if not ids:
            return 0
        ids_df = local_df(self.spark, [(i,) for i in ids], "id string")
        raw = self._read_raw()
        if "_bucket" in raw.columns:
            b = self._bucket_of(F.col("id"), self.num_id_buckets)
            touched = [
                r["_b"]
                for r in ids_df.select(b.alias("_b")).distinct().collect()
            ]
            pruned = raw.where(F.col("_bucket").isin(touched))
            n_before = pruned.count()
            keep = pruned.join(F.broadcast(ids_df), "id", "left_anti")
            return self._rewrite_touched_buckets(touched, keep, n_before)
        existing = self.read()
        n_before = existing.count()
        keep = existing.join(F.broadcast(ids_df), "id", "left_anti")
        return self._swap_full(keep, n_before)

    @_single_writer("delete_where")
    def delete_where(self, condition) -> int:
        """Delete by metadata predicate (the Pinecone ``vectors/delete``
        ``filter=`` form — TTL expiry, tenant offboarding, label purges).
        Returns the number of rows removed.

        Unlike delete-by-id, a metadata predicate can't prune buckets
        up front; ONE scan finds the buckets containing matches, then only
        those are rewritten (dynamic partition overwrite) — so a
        predicate touching 2 of 64 buckets still costs 2 bucket rewrites,
        and a predicate matching nothing rewrites nothing. NULL
        predicate rows are KEPT (a null TTL is "no expiry", and silently
        dropping null-metadata rows would be data loss).
        """
        raw = self._read_raw()
        cond_true = F.coalesce(condition, F.lit(False))
        if "_bucket" in raw.columns:
            touched = [
                r["_bucket"]
                for r in raw.where(cond_true).select("_bucket").distinct().collect()
            ]
            if not touched:
                return 0
            pruned = raw.where(F.col("_bucket").isin(touched))
            n_before = pruned.count()
            keep = pruned.where(~cond_true)
            return self._rewrite_touched_buckets(touched, keep, n_before)
        existing = self.read()
        n_before = existing.count()
        keep = existing.where(~cond_true)
        return self._swap_full(keep, n_before)

    def _rewrite_touched_buckets(self, touched, keep, n_before: int) -> int:
        """Shared bounded-rewrite tail of the delete paths: checkpoint the
        keep-set, dynamically overwrite only the touched buckets, and
        remove buckets emptied entirely (dynamic overwrite only replaces
        partitions PRESENT in the output — the classic pitfall)."""
        keep = keep.localCheckpoint(eager=True)  # pin before overwrite
        n_after = keep.count()
        kept_buckets = {
            r["_bucket"] for r in keep.select("_bucket").distinct().collect()
        }
        prev = self.spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static"
        )
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            if n_after:
                keep.repartition(F.col("_bucket")).write.partitionBy(
                    "_bucket"
                ).mode("overwrite").parquet(self.path)
        finally:
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        for bkt in set(touched) - kept_buckets:  # emptied buckets
            d = os.path.join(self.path, f"_bucket={bkt}")
            if os.path.exists(d):
                shutil.rmtree(d)
        return n_before - n_after

    def _swap_full(self, keep, n_before: int) -> int:
        """Unbucketed delete tail: full merge-and-swap, O(table)."""
        keep = keep.withColumn(
            "namespace", F.coalesce(F.col("namespace"), F.lit(""))
        ).localCheckpoint(eager=True)
        n_after = keep.count()
        tmp = self.path + ".staging"
        keep.repartition(F.col("namespace")).write.partitionBy("namespace").mode(
            "overwrite"
        ).parquet(tmp)
        if os.path.exists(self.path):
            shutil.rmtree(self.path)
        os.rename(tmp, self.path)
        return n_before - n_after

    def fetch(self, ids: list[str]) -> DataFrame:
        """S3: point fetch by id (reference main.go:141-180) — an IN filter
        that parquet pushes down to row-group/dictionary pruning; on a
        bucketed index the lookup first prunes to the ids' hash buckets
        (file-level pruning), then filters ids within them."""
        df = self._read_raw()
        if self.num_id_buckets > 0 and "_bucket" in df.columns:
            tiny = local_df(self.spark, [(i,) for i in ids], "id string")
            buckets = [
                r["b"]
                for r in tiny.select(
                    self._bucket_of(F.col("id"), self.num_id_buckets).alias("b")
                )
                .distinct()
                .collect()
            ]
            return (
                df.where(F.col("_bucket").isin(buckets))
                .where(F.col("id").isin(ids))
                .drop("_bucket")
            )
        return self.read().where(F.col("id").isin(ids))

    def scan_page(self, after_id: str | None = None, page_size: int = 100) -> DataFrame:
        """Keyset-paginated scan (the Pinecone ``vectors/list`` verb): the
        next ``page_size`` ids strictly after ``after_id`` in id order.
        Keyset beats OFFSET at scale — each page is a pushed-down range
        filter + TakeOrderedAndProject, O(page) not O(pages_seen); OFFSET
        re-scans and discards everything before it. The caller passes the
        last id of one page as the cursor for the next."""
        df = self.read().select("id")
        if after_id is not None:
            df = df.where(F.col("id") > after_id)
        return df.orderBy(F.col("id").asc()).limit(page_size)

    @_single_writer("compact")
    def compact(self, max_files_per_partition: int = 1) -> int:
        """Maintenance: rewrite partitions that have accumulated more than
        ``max_files_per_partition`` parquet files (repeated bounded-rewrite
        upserts leave one file generation per batch). Returns the number of
        partitions compacted. Same dynamic-overwrite trick as the bucketed
        upsert — untouched partitions are not rewritten."""
        if not os.path.exists(self.path):
            return 0
        part_cols = [
            d.split("=")[0]
            for d in os.listdir(self.path)
            if "=" in d and not d.startswith(".")
        ][:1]
        if not part_cols:  # unpartitioned or empty — nothing partition-wise to do
            return 0
        pcol = part_cols[0]
        crowded = []
        for d in os.listdir(self.path):
            if not d.startswith(f"{pcol}="):
                continue
            full = os.path.join(self.path, d)
            n = sum(1 for f in os.listdir(full) if f.endswith(".parquet"))
            if n > max_files_per_partition:
                crowded.append(d.split("=", 1)[1])
        if not crowded:
            return 0
        raw = self._read_raw()
        subset = raw.where(F.col(pcol).isin(*crowded))
        prev = self.spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            subset.repartition(F.col(pcol)).write.partitionBy(pcol).mode(
                "overwrite"
            ).parquet(self.path)
        finally:
            self.spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        return len(crowded)

    def stats(self) -> DataFrame:
        """A3: describe_index_stats (reference debug-commands.txt:10-12):
        total vector count plus per-namespace counts."""
        df = self.read()
        return df.groupBy(F.coalesce(F.col("namespace"), F.lit("")).alias("namespace")).agg(
            F.count("*").alias("vector_count")
        )

    def query(self, query_text: str, k: int = 1, seed: int = 42):
        """The reference's end-to-end query (main.go:89-184): embed text,
        rank by this index's metric, return top-k with text payload
        (hydration in the same select — no fetch loop)."""
        from whatsapp_vectordb_spark.operators.search import search_text

        return search_text(
            self.read(),
            query_text,
            k=k,
            metric=self.metric,
            dim=self.dimension,
            seed=seed,
            id_col="id",
            vec_col="embedding",
            payload_cols=("text",),
        )
