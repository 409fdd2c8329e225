"""Layout describe/stats: the reference's collection-stats surface (S9,
``get_collection_stats`` /root/reference/src/app.py:472-495 —
``describe_collection`` + a true row count) extended to the package's
persisted index layouts, where the operational questions actually live
at scale: how much of the layout is live vs tombstoned (delete debt),
how skewed are its partitions (hot cells/buckets/band keys), and how
many files has append traffic accumulated (compaction debt).

Every stat here is computed as ONE aggregation plan per underlying
side-table — a pruned columnar scan + a map-side-combined groupBy, never
a collect of layout rows — so ``layout_stats`` over a 100 TB layout
costs what a count(*) costs, not what a rebuild costs. The result is a
tall ``(stat, value)`` frame: tiny, unionable across layouts, and
directly comparable against an oracle recomputation from the source
documents.

Logical vs physical: ``layout_stats`` reports LOGICAL state (row/doc/
partition counts through the same deletion-vector view the search
paths use, index/deletes.py::live — what a fresh compaction would
preserve; tombstone counts read through the same module).
``layout_file_count`` reports the PHYSICAL file count (what append
traffic accumulated and compaction would collapse); it is driver-side
filesystem metadata via fsio, one recursive listing, no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from . import deletes


def _melt(one_row: DataFrame) -> DataFrame:
    """1-row agg frame → tall (stat, value double) rows."""
    cols = one_row.columns
    pairs = ", ".join(f"'{c}', double(`{c}`)" for c in cols)
    return one_row.selectExpr(f"stack({len(cols)}, {pairs}) as (stat, value)")


def _count_row(df: DataFrame, name: str) -> DataFrame:
    return df.agg(F.count(F.lit(1)).cast("double").alias(name))


def _tombstone_count(index, layout: DataFrame) -> DataFrame:
    """1-row distinct-victim count of ``index``'s tombstone table, read
    typed by the id field of ``layout`` (a frame over the layout);
    absent table ⇒ 0 (pre-first-delete layouts have no tombstone table
    by contract)."""
    tomb = deletes.tombstoned(layout, index.tombstones_path, index.id_col)
    if tomb is None:
        return layout.sparkSession.range(1).select(
            F.lit(0.0).alias("docs_tombstoned")
        )
    return tomb.agg(
        F.countDistinct(index.id_col).cast("double").alias("docs_tombstoned")
    )


def dedup_layout_stats(
    spark: SparkSession, index, candidate_cap: int = 64
) -> DataFrame:
    """Stats for the incremental-dedup layout (index/dedupidx.py):
    live/tombstoned doc counts, live band rows, band-key cardinality and
    skew, and the count of keys over ``candidate_cap`` — the mega-key
    pressure that routes the verified filter's auto-flag path (a rising
    count means boilerplate is accumulating and compaction or a bigger
    cap review is due)."""
    from .dedupidx import _live, _read_bands, _read_sigs

    sigs = _read_sigs(spark, index)
    docs = _live(index, sigs).agg(
        F.countDistinct(index.id_col).cast("double").alias("docs_live")
    )
    per_key = (
        _live(index, _read_bands(spark, index))
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    bands = per_key.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("double").alias("band_rows_live"),
        F.count(F.lit(1)).cast("double").alias("distinct_band_keys"),
        F.coalesce(F.max("n"), F.lit(0)).cast("double").alias("max_band_key_docs"),
        F.coalesce(
            F.sum((F.col("n") > candidate_cap).cast("int")), F.lit(0)
        )
        .cast("double")
        .alias("band_keys_over_cap"),
    )
    tomb = _tombstone_count(index, sigs)
    return _melt(docs).unionByName(_melt(bands)).unionByName(_melt(tomb))


def inverted_layout_stats(spark: SparkSession, index) -> DataFrame:
    """Stats for the term-bucket inverted layout (index/inverted.py):
    live doc/posting counts, term cardinality, the hottest term's
    document frequency (bucket skew driver), and exact token totals —
    ``avg_doclen`` as an exact integer-sum quotient, the same number
    BM25's stored stats should agree with after any append/delete
    sequence."""
    from .inverted import _live, _read_doclens, _read_postings

    postings = _read_postings(spark, index)
    live_posts = _live(index, postings)
    per_term = live_posts.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    posts = per_term.agg(
        F.coalesce(F.sum("df"), F.lit(0)).cast("double").alias("postings_live"),
        F.count(F.lit(1)).cast("double").alias("distinct_terms"),
        F.coalesce(F.max("df"), F.lit(0)).cast("double").alias("max_term_df"),
    )
    tomb = _tombstone_count(index, postings)
    if index.positional:
        # Positional-only layouts carry no doclens/stats side-tables
        # (build_positional_index contract; routed on the persisted
        # flag, never a filesystem probe). Doc counts and per-doc token
        # positions come from the postings themselves.
        dl = live_posts.agg(
            F.countDistinct(index.id_col).cast("double").alias("docs_live"),
            F.coalesce(F.sum(F.size("positions")), F.lit(0))
            .cast("double")
            .alias("total_tokens"),
        )
    else:
        doclens = _live(index, _read_doclens(spark, index))
        dl = doclens.agg(
            F.countDistinct(index.id_col).cast("double").alias("docs_live"),
            F.coalesce(F.sum("__dl"), F.lit(0)).cast("double").alias("total_tokens"),
            F.round(
                F.coalesce(F.sum("__dl"), F.lit(0)).cast("double")
                / F.greatest(F.count(F.lit(1)), F.lit(1)).cast("double"),
                6,
            ).alias("avg_doclen"),
        )
    return _melt(posts).unionByName(_melt(dl)).unionByName(_melt(tomb))


def ivf_layout_stats(spark: SparkSession, index) -> DataFrame:
    """Stats for the IVF layout (index/ivf.py): live row count, declared
    vs non-empty cell counts, and the hottest cell's row count — the
    skew signal ``split_hot_cells`` acts on."""
    from .ivf import _ivf_live, _read_layout

    layout = _read_layout(spark, index)
    per_cell = (
        _ivf_live(index, layout)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cells = per_cell.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("double").alias("rows_live"),
        F.count(F.lit(1)).cast("double").alias("cells_nonempty"),
        F.coalesce(F.max("n"), F.lit(0)).cast("double").alias("max_cell_rows"),
    )
    declared = spark.range(1).select(
        F.lit(float(len(index.centroids))).alias("cells_declared")
    )
    tomb = _tombstone_count(index, layout)
    return _melt(cells).unionByName(_melt(declared)).unionByName(_melt(tomb))


def lsh_layout_stats(spark: SparkSession, index) -> DataFrame:
    """Stats for the LSH bucket layout (index/lsh.py): live row count,
    declared vs non-empty bucket counts, hottest bucket. No tombstone
    stat — LSH deletes are eager per-bucket rewrites (``lsh_delete``),
    so the layout is always fully live."""
    from .lsh import _read_layout

    per_bucket = (
        _read_layout(spark, index).groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    )
    buckets = per_bucket.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("double").alias("rows_live"),
        F.count(F.lit(1)).cast("double").alias("buckets_nonempty"),
        F.coalesce(F.max("n"), F.lit(0)).cast("double").alias("max_bucket_rows"),
    )
    declared = spark.range(1).select(
        F.lit(float(2 ** index.n_planes)).alias("buckets_declared")
    )
    return _melt(buckets).unionByName(_melt(declared))


def layout_stats(spark: SparkSession, layout, candidate_cap: int = 64) -> DataFrame:
    """Dispatch on the layout dataclass — one describe/stats entry point
    for every mutable persisted layout, mirroring the reference's single
    ``get_collection_stats`` call shape."""
    from .dedupidx import DedupIndex
    from .inverted import InvertedIndex
    from .ivf import IVFIndex
    from .lsh import LSHIndex

    if isinstance(layout, DedupIndex):
        return dedup_layout_stats(spark, layout, candidate_cap)
    if isinstance(layout, InvertedIndex):
        return inverted_layout_stats(spark, layout)
    if isinstance(layout, IVFIndex):
        return ivf_layout_stats(spark, layout)
    if isinstance(layout, LSHIndex):
        return lsh_layout_stats(spark, layout)
    raise TypeError(f"no stats for layout type {type(layout).__name__}")


def layout_file_count(path: str, spark: SparkSession | None = None) -> int:
    """PHYSICAL data-file count under ONE layout root — compaction debt.
    Counts non-hidden files (skipping any ``_``/``.`` path component:
    meta JSON, commit markers, _SUCCESS, checksums), recursively, via
    the Hadoop FileSystem so scheme-addressed layouts count the same
    as local ones. Driver-side metadata only — no Spark job.

    Root-ONLY by contract: layouts whose side-tables are deliberate
    sibling directories (the dedup layout's ``{path}_sigs`` /
    ``{path}_tombstones``, the IVF tombstone table) are NOT included —
    pass the handle to ``layout_total_file_count`` for the full debt
    figure a compaction would actually collapse."""
    fs, root, _jvm = fsio._fs(path, spark)
    if not fs.exists(root):
        return 0
    root_uri = fs.makeQualified(root).toUri().getPath()
    it = fs.listFiles(root, True)
    n = 0
    while it.hasNext():
        p = it.next().getPath()
        rel = p.toUri().getPath()[len(root_uri) :].lstrip("/")
        if any(seg.startswith(("_", ".")) for seg in rel.split("/")):
            continue
        n += 1
    return n


def layout_total_file_count(layout, spark: SparkSession | None = None) -> int:
    """Full PHYSICAL file count for a layout HANDLE: the root plus every
    sibling side-table its appends also accumulate and its compactor
    also rewrites — the dedup layout's ``_sigs``/``_tombstones``
    siblings, the IVF tombstone table (the inverted/LSH layouts keep
    their side-tables UNDER the root, so the root listing already covers
    them). This is the number to watch for compaction debt; the
    path-level ``layout_file_count`` deliberately reports one root only
    (advisor finding, round 9).

    Unknown handle types raise TypeError — same contract as
    ``layout_stats`` — so a future layout with sibling side-tables can
    never silently under-report its debt as a root-only count (advisor
    finding, round 10)."""
    from .dedupidx import DedupIndex
    from .inverted import InvertedIndex
    from .ivf import IVFIndex
    from .lsh import LSHIndex

    if not isinstance(layout, (DedupIndex, InvertedIndex, IVFIndex, LSHIndex)):
        raise TypeError(f"no file count for layout type {type(layout).__name__}")
    total = layout_file_count(layout.path, spark)
    if isinstance(layout, DedupIndex):
        total += layout_file_count(layout.sigs_path, spark)
    if isinstance(layout, (DedupIndex, IVFIndex)):
        total += layout_file_count(layout.tombstones_path, spark)
    return total
