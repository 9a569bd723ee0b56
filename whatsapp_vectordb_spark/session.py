"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every config below is chosen for the
1000-executor / 100 TB case and is safe (or strictly better) locally too:

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting.
- Arrow on: the embedding pandas UDF moves columnar batches, not rows.
- ``spark.sql.shuffle.partitions`` is a *starting* value; AQE coalesces it
  down locally and scales it up via ``advisoryPartitionSizeInBytes`` on a
  real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def local_scratch_root() -> str:
    """Fast local scratch for Spark shuffle/spill dirs, harness staging,
    and temp corpora. Defaults to ``<repo>/.scratch`` (gitignored);
    override with ``SPARK_GRAFT_SCRATCH``.

    Why not ``/tmp``: on sandboxed/overlay hosts ``/tmp`` can be an
    order-of-magnitude slower write path than the repo filesystem
    (measured r16: 7-100 MB/s buffered writes to /tmp vs 1.6-3.0 GB/s to
    the repo dir on the SAME block device — every shuffle write and
    staged-commit parquet was riding the slow path and inflating
    write-heavy query timings). Pinning scratch to a known-fast local
    disk is the same decision a real cluster makes with
    ``SPARK_LOCAL_DIRS`` on executor NVMe."""
    root = os.environ.get("SPARK_GRAFT_SCRATCH")
    if root is None:
        root = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            ".scratch",
        )
    os.makedirs(root, exist_ok=True)
    return root


def _schema_field_names(schema: str) -> list[str]:
    """Top-level field names of a DDL schema string ("a bigint, b
    array<int>") — bracket-aware so nested type commas don't split.
    Handles backtick-quoted names (spaces inside) and the ``name: type``
    colon DDL form (ADVICE r17)."""
    names: list[str] = []
    depth = 0
    start = 0
    s = schema.strip()
    in_bt = False
    for i, ch in enumerate(s + ","):
        if ch == "`":
            in_bt = not in_bt
        if in_bt:
            continue
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            field = s[start:i].strip()
            if field:
                if field.startswith("`") and field.count("`") >= 2:
                    names.append(field[1 : field.index("`", 1)])
                else:
                    names.append(field.split()[0].rstrip(":").strip("`"))
            start = i + 1
    return names


def local_df(spark: SparkSession, data, schema=None):
    """``spark.createDataFrame`` for DRIVER-LOCAL rows, routed through a
    pandas frame so the transfer rides Arrow (guide §6 "Arrow for driver
    transfers"). The list-of-tuples path pickles rows into an RDD and
    pays a Python-worker round trip on EVERY action over the frame —
    measured in this environment at ~0.5 s per action and ~5 s per tiny
    side-file write, against ~0.2 s through Arrow; the engine's
    registry rows write dozens of such probe/LUT/centroid side files.
    Semantics are unchanged: the explicit schema is applied either way,
    and anything this helper cannot convert (empty input, non-list
    data, exotic schemas) falls back to the original call."""
    if isinstance(data, (list, tuple)) and schema is not None:
        try:
            import pandas as pd

            from pyspark.sql.types import StructType

            bare_names = False
            if isinstance(schema, str):
                names = _schema_field_names(schema)
            elif isinstance(schema, StructType):
                names = schema.fieldNames()
            elif isinstance(schema, (list, tuple)) and all(
                isinstance(n, str) for n in schema
            ):
                names = list(schema) if data else None
                bare_names = True
            else:
                names = None
            if names is not None and all(
                not isinstance(r, dict) and len(r) == len(names) for r in data
            ):
                # bare-names schema: Spark infers types, and the pandas
                # detour would change them — a None in an otherwise-int
                # column coerces the column to float64, so Spark infers
                # DOUBLE where the row path infers LONG with a null
                # (ADVICE r17). Fall back whenever a None is present.
                if bare_names and any(
                    v is None for r in data for v in r
                ):
                    return spark.createDataFrame(data, schema)
                # float NaN is folded to NULL by the pandas/Arrow detour
                # (pyarrow treats NaN-as-null) where the row path keeps
                # NaN — the r17-verdict latent edge; fall back on any NaN
                # at any list/tuple depth (array<array<double>>, structs;
                # these frames are driver-local kilobytes, the scan is free)
                def _nan(v):
                    if isinstance(v, float):
                        return v != v
                    if isinstance(v, (list, tuple)):
                        return any(_nan(x) for x in v)
                    return False

                if any(_nan(v) for r in data for v in r):
                    return spark.createDataFrame(data, schema)
                pdf = pd.DataFrame(
                    {n: [r[i] for r in data] for i, n in enumerate(names)},
                    columns=names,
                )
                return spark.createDataFrame(pdf, schema=schema)
        except Exception:
            pass  # fall back to the exact original path below
    return spark.createDataFrame(data, schema)


def get_spark(
    app_name: str = "whatsapp-vectordb-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # testdata events.parquet stores TIMESTAMP(NANOS); read as long and
        # convert with integer DIV (see harness._events) for exactness
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # shuffle/spill on the fast local disk, never a slow /tmp overlay
        # (see local_scratch_root; SPARK_LOCAL_DIRS env still wins if set)
        .config(
            "spark.local.dir",
            os.environ.get(
                "SPARK_LOCAL_DIRS",
                os.path.join(local_scratch_root(), "spark-local"),
            ),
        )
        # java.io.tmpdir too: spark.local.dir does NOT cover everything —
        # un-located streaming checkpoints (writeStream without
        # checkpointLocation) and other JVM temp files land in
        # java.io.tmpdir, which stays /tmp otherwise (r16: measured
        # 10-100× slower than the repo filesystem on this host)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(local_scratch_root(), 'jvm-tmp')}",
        )
    )
    os.makedirs(os.path.join(local_scratch_root(), "jvm-tmp"), exist_ok=True)
    # session-creation-time overrides (e.g. the stress tools re-enable the
    # UI so its REST API can report per-stage shuffle bytes); ignored if a
    # session already exists in the process, like every .config above
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
