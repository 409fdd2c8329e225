"""Parquet table loaders for the driver-generated test corpus.

Tables (one parquet per table, see TESTDATA.md): TPC-H-ish star schema
``region nation customer supplier part orders lineitem`` plus ``events``
(streaming-shaped), ``documents`` (text corpus) and ``embeddings``
(64-dim float vectors).

At cluster scale these would be partitioned datasets / catalog tables;
the loader API is the same — Catalyst still gets pushdown + pruning
because we always go through ``spark.read.parquet``.
"""

from __future__ import annotations

import json
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

from .. import fsio

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def widen_cpu_dense(df: DataFrame, factor: int = 1) -> DataFrame:
    """Widen a CPU-DENSE map stage's input beyond its bytes-sized scan
    split (SCALING.md round-6 rule): text compresses ~10×, so a 5 MB
    parquet of 50 MB text opens as 2 partitions and any heavy per-row
    stage over it (embedders, tokenize/gram expressions, Arrow
    kernels) runs on 2 cores. Repartitions to the cluster's default
    parallelism ONLY when the scan is narrower than that — a no-op on
    pre-split 100 TB corpora (many files ⇒ partitioning already
    exceeds it); the one text shuffle it costs is the same bytes the
    scan already moves, repaid many times over by the widened map
    stage. Apply to the input of the dense stage only, never to
    pruned/filter-first reads (it would defeat pushdown).

    ``factor`` over-partitions to ``factor ×`` the core count for
    LONG corpus-sized dense passes (the standard straggler-granularity
    rule: with one task per core, one uneven native parquet split sets
    the stage's wall; at 4× granularity the scheduler rebalances the
    tail — measured 18% off the sf25 dedup-index signature pass,
    SCALING.md round 8). Leave at 1 for batch-sized inputs, where task
    overhead would dominate the smoothing."""
    par = df.sparkSession.sparkContext.defaultParallelism * max(1, int(factor))
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


#: Ceiling (bytes, plan-size estimate) under which a partitioned APPEND
#: collapses onto its partition column before the write (one file per
#: touched partition — the round-15 small-files discipline). Above it
#: the append keeps the caller's full write parallelism: hashing a
#: corpus-sized frame onto ≤ distinct-partition-value reducers would
#: serialize the write into a handful of tasks with one hot partition
#: per task (round-15 verdict, "what's wrong" #1). It bounds a
#: collapsed append at ~512 MB across the touched partitions —
#: micro-batch scale by construction.
APPEND_COLLAPSE_MAX_BYTES = 512 * 1024**2


def plan_size_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate for ``df`` (driver-side metadata,
    no job), or ``None`` when the JVM surface is unreachable (Spark
    Connect has no ``_jdf``; a bare Py4J error is a gateway/protocol
    fault). An error the JVM raised while evaluating the plan
    (``Py4JJavaError``) and any other exception propagate — a genuine
    analysis error must surface, never silently change a size-gated
    plan decision."""
    try:
        return int(
            str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
    except AttributeError:  # Spark Connect: no _jdf
        return None
    except Exception as e:  # Py4J protocol faults vs JVM-raised errors
        if type(e).__name__ == "Py4JJavaError":
            raise
        if type(e).__name__.startswith("Py4J"):
            return None
        raise


#: Target rows per partition when narrowing a batch-side checkpoint
#: (see narrow_materialized). ~6k rows/task keeps every downstream
#: probe and join over a micro-batch checkpoint at a handful of tasks
#: while corpus-sized frames keep full parallelism.
NARROW_ROWS_PER_PART = 6144


def narrow_materialized(df: DataFrame, n_rows: int) -> DataFrame:
    """Post-materialization narrow of a batch-side checkpoint (round
    16, guide §1.2/§2): kernel inputs are WIDENED to the cluster's
    parallelism so the CPU-dense pass uses every core — correct — but
    the resulting checkpoint keeps those partitions, so every one of
    the downstream probe/join jobs over a micro-batch checkpoint
    schedules a full-width task wave over near-empty blocks (measured:
    32-task stages over 1.5k-row blocks dominated the verified dedup
    filter's final collect at sf0.1; the round-15 widen A/B tripled the
    small planted corpora for exactly this reason). ``coalesce`` AFTER
    ``localCheckpoint`` is a narrow, zero-shuffle remap of the
    already-materialized blocks — the kernel's parallelism is untouched
    — and the width derives from the measured row count, so a
    corpus-sized frame keeps every partition (scale-adaptive, never a
    local[32] constant)."""
    import math

    cur = df.rdd.getNumPartitions()
    want = max(1, min(cur, math.ceil(n_rows / NARROW_ROWS_PER_PART)))
    return df.coalesce(want) if want < cur else df


def append_repartition(df: DataFrame, partition_col: str | None = None) -> DataFrame:
    """Size-gated partitioned-append discipline (round 16): micro-batch
    appends collapse onto the partition column so each touched partition
    lands ONE file per append (measured round 15: 256 files/1.63 s → 8
    files/0.50 s on a 190-doc band append) — but ONLY while the frame's
    size estimate stays under ``APPEND_COLLAPSE_MAX_BYTES``. A
    corpus-sized frame pushed through an append API routes to the BUILD
    discipline instead (keep the caller's write parallelism; compaction
    owns file hygiene), so nothing can serialize a big write onto
    ≤ distinct-partition-value tasks. An unreachable size estimate is
    treated as big — the scale-safe failure mode (extra small files,
    never a collapsed corpus write). Without ``partition_col`` (an
    unpartitioned append) the collapse is a narrow ``coalesce(1)``: one
    file, no shuffle."""
    from pyspark.sql import functions as F

    est = plan_size_bytes(df)
    if est is None or est > APPEND_COLLAPSE_MAX_BYTES:
        return df
    if partition_col is None:
        return df.coalesce(1)
    return df.repartition(F.col(partition_col))


@contextmanager
def overlapped(spark: SparkSession):
    """Run independent writes as overlapped Spark jobs (guide §2.6 —
    actions are only sequential because the driver calls them
    sequentially): ``submit(fn)`` starts ``fn`` on its own
    ``pyspark.InheritableThread`` while the block goes on, and the
    block's exit joins them all.

    Each thread carries the caller's local properties — its job group
    and description, e.g. a streaming query's — so its jobs are
    attributed to the caller and cancelling the caller's group cancels
    them too (a bare pool thread starts from an empty JVM thread and
    escapes both), and the caller's session is its active one. Every
    job is read on exit: the first failure (the block's own, if any) is
    raised and each further one is attached to it as a note, so a
    second failure never vanishes."""
    from pyspark import InheritableThread

    jobs: list[tuple[InheritableThread, list]] = []

    def submit(fn) -> None:
        failed: list = []

        def run() -> None:
            try:
                # The active session is thread-local in the JVM: without
                # it, fsio calls that take no ``spark`` would fail here.
                spark._jvm.org.apache.spark.sql.SparkSession.setActiveSession(
                    spark._jsparkSession
                )
                fn()
            except BaseException as e:  # re-raised by the caller on exit
                failed.append(e)

        t = InheritableThread(run, session=spark)
        t.start()
        jobs.append((t, failed))

    errors: list[BaseException] = []
    try:
        yield submit
    except BaseException as e:
        errors.append(e)
    finally:
        for t, failed in jobs:
            t.join()
            errors += failed
        if errors:
            for e in errors[1:]:
                errors[0].add_note(f"an overlapped write also failed: {e!r}")
            raise errors[0]


def read_layout(
    spark: SparkSession,
    root: str,
    schema_json: str,
    part_col: str | None = None,
    values=None,
) -> DataFrame:
    """Read a partitioned index layout (IVF ``cell_id=``, LSH and
    inverted ``bucket=``) with the schema persisted at build time.

    Without ``values`` this is the whole layout: the root read, well
    typed even after a delete has emptied every partition directory
    (schema inference over an empty partitioned root raises
    UNABLE_TO_INFER_SCHEMA).

    With ``values`` (the integer partition values a query probes) only
    the probed ``part_col=v`` directories that exist are read, under
    ``basePath`` so ``part_col`` is still a discovered partition column.
    One Hadoop glob of ``root/part_col={v1,…}`` on the driver finds them
    (``fsio.existing_children``): the root's listing stays inside the
    JVM, and only the matches cross py4j. Spark's own discovery of the
    root lists every partition directory (a parallel listing job once
    they outnumber
    ``spark.sql.sources.parallelPartitionDiscovery.threshold``), and
    walking the root's listing through py4j costs about four calls per
    entry. So a question's cost follows its probes, not the layout's
    partition count, in Spark jobs and in py4j calls alike
    (tests/test_roundtrips.py). The ``isin`` filter is still applied, so
    the scan keeps its PartitionFilters (plan-pinned in
    tests/test_plans.py). When no probed directory exists (a cell or
    bucket emptied by a delete) the result is an empty frame of the
    layout schema. Nothing is cached: each call globs afresh, so appends
    are visible at once.

    ``spark.read`` globs every path it is given, so each read path goes
    through ``fsio.glob_escape``: a root holding ``[``, ``{``, ``*`` or
    ``?`` reads itself, not the siblings its name matches as a pattern."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    reader = spark.read.schema(StructType.fromJson(json.loads(schema_json)))
    if values is None:
        return reader.parquet(fsio.glob_escape(root))
    values = [int(v) for v in values]
    names = fsio.existing_children(root, (f"{part_col}={v}" for v in values), spark)
    dirs = [fsio.glob_escape(f"{root}/{n}") for n in names]
    # no probed directory: zero paths read as an empty frame of the schema
    df = reader.option("basePath", root).parquet(*dirs)
    return df.filter(F.col(part_col).isin(values))


def restore_event_ts(df: DataFrame) -> DataFrame:
    """Normalize events.ts to Spark's microsecond TimestampType.

    The driver's corpus has shipped two shapes across rounds: TIMESTAMP
    (NANOS) — which Spark 4 only reads as a raw int64 under legacy
    nanosAsLong, so we truncate ns → µs with *integer* division (the
    value is ~1.7e18, beyond double precision; float division would
    corrupt it) — and native timestamp[us], which arrives as
    TIMESTAMP_NTZ and only needs a cast (UTC session timezone makes the
    cast value-preserving)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    if isinstance(df.schema["ts"].dataType, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nanosAsLong is a no-op for µs data; set defensively so the NANOS
    # corpus shape works under any caller's session, not just ours.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return restore_event_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view so ``spark.sql`` queries work."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
