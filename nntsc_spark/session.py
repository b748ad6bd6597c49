"""SparkSession factory with scale-oriented defaults.

The engine targets 1000-executor clusters over ~100 TB of fact data; the
settings here are the ones that matter at that scale and are harmless on
``local[*]``:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting) — the
  reference hand-rolled per-stream partition pruning instead
  (reference: libnntsc/dbselect.py:674-723); we let Catalyst + AQE do it.
- small shuffle partition count locally; on a real cluster this should be
  ~2-3x total cores or left to AQE's coalescing.
- Arrow enabled for the (rare) pandas-UDF paths.

It also holds :func:`local_frame`, the one way the engine turns rows built
on the driver into a DataFrame.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "sparktsc",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start every shuffle WIDE and let AQE coalesce down: with only
        # shuffle.partitions=cores, a 100x data step makes each shuffle
        # partition 100x bigger and the heavy dedup/contamination
        # aggregations spill (measured 13.7x step for 10x data at x100;
        # 2.8x with enough partitions — tools/scaling_probe.py).  AQE
        # merges small post-shuffle partitions at runtime, so wide
        # defaults cost small queries nothing.  On a real cluster raise
        # this to ~2-3x total cores or beyond; it is an upper bound, not
        # a target.  A sweep of {64, 128, 512} at 32 cores moved nothing
        # outside the host's run-to-run band (OPTIMIZATION_r16.md).
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(16 * int(cpus)),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOT enabled: spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold
        # (AQE's runtime SMJ->SHJ conversion).  Measured on the planted
        # x1000 near-dup cell — the workload whose re-attach joins looked
        # like the textbook case (wide vector probe rows, scalar build
        # side): min-of-2 warm 246 s with SMJ vs 395 s with the
        # conversion at 128m.  The sort spills SEQUENTIALLY at disk
        # bandwidth while the hash build+probe pays random access, so on
        # spill-bound single-box shapes SMJ wins; leave the default off
        # and re-evaluate on a cluster where build maps live in memory.
        # Without this, AQE is OFF inside every .persist()ed plan (cached
        # plans pin their output partitioning by default), so the wide
        # initial above would freeze 512 tiny partitions into small-scale
        # caches (measured ~2x slowdown on the cached dedup pipeline at
        # sf0.1) AND the pipeline caches could never coalesce.  Cache
        # reuse still works; only the cached plan's partitioning becomes
        # AQE-managed like everything else.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # shuffle/spill/broadcast block codec: lz4, MEASURED
        # (SCALING.md r15, tools/planted_probe.py): zstd is ~14% faster
        # on the planted x100 cell but a wash (500.0 vs 496.5 s) at the
        # spill-bound x1000 decade that motivated the experiment — the
        # job is CPU-saturated while spilling, so zstd's compression CPU
        # eats what its ratio saves at disk speed.  Counters bit-
        # identical under both.  lz4 stays for artifact comparability;
        # re-measure on a cluster where network bytes also pay.
        .config("spark.io.compression.codec", "lz4")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver-built ``rows`` (tuples) as a DataFrame typed by the DDL
    ``schema``, shipped to the JVM as one Arrow table.

    ``createDataFrame(list)`` pickles the rows into defaultParallelism
    slices of a Python RDD and re-serializes them through a Python
    ``map``, so every job that reads the frame runs one Python-worker
    task per slice.  That fixed cost dominates tiny tables: an export
    request's 4-slice label map spent ~1.3 s of task time per job for
    ~15 ms of CPU, and a 16-row centroid table took 4.2 s to write on
    local[32] against 0.36 s from a single slice.  An Arrow table
    becomes a JVM-side local relation (``ParallelCollectionRDD`` under
    its scan, no ``PythonRDD``), so no job waits on a Python worker:
    the same centroid write takes 0.30 s on local[4], against 0.52 s
    from a single pickled slice.

    Values and schema, nullability included, are what
    ``createDataFrame(rows, schema)`` gives; zero rows give the declared
    schema over zero partitions.  pyarrow's converter raises on a row
    of the wrong length, a string in a numeric column, a bool in an
    integer column or an out-of-range integer, as the list path's
    verifier does, and also on a number in a string column, which that
    verifier stores as its ``str()``.  Unlike the verifier it accepts an
    int in a double column and truncates a float in an integer column,
    so callers pass ``int()``/``float()`` values.
    """
    struct = StructType.fromDDL(schema)
    arrow = pa.struct(to_arrow_schema(struct))
    table = pa.Table.from_struct_array(pa.array(rows, type=arrow))
    return spark.createDataFrame(table, struct)
