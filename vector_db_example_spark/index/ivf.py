"""IVF_FLAT analog on Spark (SURVEY.md §1.3, M4).

The reference's index is Milvus IVF_FLAT: k-means partition the vectors
into ``nlist`` cells, search scans the ``nprobe`` nearest cells exactly
(/root/reference/src/app.py:105-111 nlist=128, metric L2; nprobe=20 at
src/app.py:253). The Spark-native equivalent is a *storage layout*, not a
server-side index:

* build — MLlib KMeans learns ``nlist`` centroids; every vector gets a
  ``cell_id``; the corpus is written as Parquet **partitioned by
  cell_id**. Centroids (nlist × dim floats) are tiny and live driver-side.
* search — the query's ``nprobe`` nearest centroids are computed on the
  driver (numpy over a few KB), and the scan reads ONLY those partitions:
  Parquet partition pruning is the nprobe mechanism. Within the probed
  cells the search is exact L2 → identical semantics to IVF_FLAT,
  including the invariant nprobe=nlist ⇒ exact search (which is what the
  oracle checks).
* append — new rows are assigned to their nearest *existing* centroid
  via a pure-expression argmin (no Python, no refit); refitting is an
  offline compaction job, mirroring Milvus's data-node indexing
  (doc/milvus介绍.md:27).

At 100 TB: the corpus shuffle happens ONCE at build (partitionBy write);
every query then touches nprobe/nlist of the data with zero shuffle —
scan + TakeOrderedAndProject only. The file listing follows the probes
too: a question lists the layout root once on the driver and reads only
its probed ``cell_id=`` directories, so its listing cost is proportional
to nprobe, not nlist (Spark's own discovery of the root would list every
cell, as a parallel listing job above 32 of them). Skewed cells (hot
regions of the embedding space) can be split by re-running KMeans within
a cell; AQE handles moderate skew at read time.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from . import deletes
from ..operators.knn import knn_exact
from ..sources.tables import append_repartition, read_layout


@dataclass
class IVFIndex:
    path: str
    centroids: np.ndarray  # (nlist, dim) float64
    vector_col: str
    id_col: str
    #: Layout schema (StructType JSON) persisted at build time so reads
    #: stay well-defined after a delete empties every cell partition —
    #: schema inference over an empty partitioned directory raises
    #: UNABLE_TO_INFER_SCHEMA (found by the lifecycle property sweep in
    #: tests/test_properties.py). Every build and compaction sets it,
    #: and ``load`` rejects a meta without it.
    schema_json: str | None = None

    @property
    def nlist(self) -> int:
        return len(self.centroids)

    @property
    def tombstones_path(self) -> str:
        """Sibling directory, NOT a subdirectory: the layout root holds
        the ``cell_id=`` partition dirs, and Spark's partition discovery
        would read a stray ``tombstones/`` subdir as (schema-less) data."""
        return f"{self.path}_tombstones"

    def save_meta(self) -> None:
        meta = {
            "vector_col": self.vector_col,
            "id_col": self.id_col,
            "centroids": self.centroids.tolist(),
            "schema": self.schema_json,
        }
        # Hadoop-FS IO (fsio): layout meta lives wherever the layout's
        # parquet lives — any scheme, not just the local filesystem.
        fsio.write_text(f"{self.path}/_ivf_meta.json", json.dumps(meta))

    @classmethod
    def load(cls, path: str) -> "IVFIndex":
        meta = json.loads(fsio.read_text(f"{path}/_ivf_meta.json"))
        if meta.get("schema") is None:
            raise ValueError(f"{path}: IVF meta has no schema; rebuild it")
        return cls(
            path=path,
            centroids=np.asarray(meta["centroids"], dtype=np.float64),
            vector_col=meta["vector_col"],
            id_col=meta["id_col"],
            schema_json=meta["schema"],
        )


def _read_layout(
    spark: SparkSession, index: IVFIndex, cells: list[int] | None = None
) -> DataFrame:
    """The layout with its persisted schema (well typed after a delete
    empties every cell); ``cells`` lists and reads only those probed
    cells (sources/tables.py::read_layout)."""
    return read_layout(spark, index.path, index.schema_json, "cell_id", cells)


def _train_centroids(
    vecs: np.ndarray, nlist: int, seed: int, max_iter: int
) -> np.ndarray:
    """k-means++ init + Lloyd iterations, vectorized numpy (distances via
    the |x|²−2x·c+|c|² matmul identity, never an n×k×dim tensor)."""
    X = np.asarray(vecs, dtype=np.float64)
    n = len(X)
    if n < nlist:
        raise ValueError(
            f"need at least nlist={nlist} training vectors, got {n} — "
            "lower nlist or raise train_sample (FAISS guidance: ≥39×nlist)"
        )
    rng = np.random.RandomState(seed)
    cents = np.empty((nlist, X.shape[1]))
    cents[0] = X[rng.randint(n)]
    d2 = ((X - cents[0]) ** 2).sum(axis=1)
    for j in range(1, nlist):
        total = d2.sum()
        probs = d2 / total if total > 0 else np.full(n, 1.0 / n)
        cents[j] = X[rng.choice(n, p=probs)]
        d2 = np.minimum(d2, ((X - cents[j]) ** 2).sum(axis=1))
    xx = (X * X).sum(axis=1, keepdims=True)
    for _ in range(max_iter):
        d = xx - 2.0 * (X @ cents.T) + (cents * cents).sum(axis=1)
        assign = d.argmin(axis=1)
        counts = np.bincount(assign, minlength=nlist)
        sums = np.zeros_like(cents)
        np.add.at(sums, assign, X)
        new = cents.copy()
        nz = counts > 0
        new[nz] = sums[nz] / counts[nz, None]
        if (~nz).any():  # re-seed empty cells at the farthest points
            far = np.argsort(d[np.arange(n), assign])[::-1]
            new[~nz] = X[far[: (~nz).sum()]]
        if np.array_equal(new, cents):
            break
        cents = new
    return cents


def _train_centroids_mllib(
    df: DataFrame, vector_col: str, nlist: int, seed: int, max_iter: int
) -> np.ndarray:
    """Distributed KMeans (MLlib) — for training sets too large to sample
    to the driver. Costs ~2 Spark jobs per iteration, so prefer the
    sampled numpy trainer whenever a bounded sample is representative
    (it almost always is for IVF — FAISS trains on ~256×nlist)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = df.withColumn(
        "__fv", array_to_vector(F.col(vector_col).cast("array<double>"))
    )
    model = KMeans(
        k=nlist, seed=seed, maxIter=max_iter, featuresCol="__fv"
    ).fit(feat)
    return np.vstack([c for c in model.clusterCenters()])


def build_ivf_index(
    df: DataFrame,
    path: str,
    nlist: int = 128,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    max_iter: int = 20,
    train_sample: int = 25_600,
    trainer: str = "sample",
    dim: int | None = None,
    clamp_nlist: bool = False,
) -> IVFIndex:
    """Train centroids, assign cells distributed, write the corpus
    partitioned by cell_id.

    ``trainer="sample"`` (default) is the standard IVF build split (FAISS
    trains on ~256×nlist sampled vectors): training is
    O(sample × nlist × iters) driver-side numpy — independent of corpus
    size — and the full corpus is touched exactly once, by a vectorized
    (BLAS matmul per Arrow batch) nearest-centroid map feeding the
    partitioned write. No per-iteration Spark jobs over 100 TB, no
    shuffle beyond the one layout write. ``trainer="mllib"`` trains
    distributed instead, for when no driver-sized sample is acceptable.

    Declare-then-ingest lifecycle (the reference's create-collection +
    create-index before any insert, src/app.py): an EMPTY corpus with
    ``dim=`` given writes an empty layout with a single zero centroid —
    every later append lands in cell 0, searches are exact over it, and
    the first ``compact_ivf_index(nlist=...)`` after data arrives
    retrains real centroids. An empty corpus without ``dim`` raises a
    ValueError naming that contract instead of crashing in the trainer.
    ``clamp_nlist=True`` clamps ``nlist`` to the training-sample size (a
    layout cannot have more cells than training vectors): compaction
    passes it, because it delegates here with the OLD nlist, which may
    exceed the surviving row count after deletes — while direct builds
    keep the loud undersized-training-set error (an explicit nlist
    bigger than the corpus is a config mistake, pinned in
    tests/test_ivf.py)."""
    from pyspark.sql.functions import pandas_udf

    if trainer == "mllib":
        head = df.select(vector_col).head(1)
        if not head:
            centroids = _declared_empty_centroids(dim)
        else:
            centroids = _train_centroids_mllib(
                df, vector_col, nlist=nlist, seed=seed, max_iter=max_iter
            )
    elif trainer == "sample":
        rows = df.select(vector_col).limit(train_sample).collect()
        if not rows:
            centroids = _declared_empty_centroids(dim)
        else:
            train = np.vstack([np.asarray(r[0], dtype=np.float64) for r in rows])
            nlist_eff = min(nlist, len(train)) if clamp_nlist else nlist
            centroids = _train_centroids(
                train, nlist=nlist_eff, seed=seed, max_iter=max_iter
            )
    else:
        raise ValueError(f"unknown trainer {trainer!r}")

    assigned = df.withColumn("cell_id", cell_assigner(centroids)(F.col(vector_col)))
    assigned.write.partitionBy("cell_id").mode("overwrite").parquet(path)
    index = IVFIndex(
        path=path,
        centroids=centroids,
        vector_col=vector_col,
        id_col=id_col,
        schema_json=assigned.schema.json(),
    )
    index.save_meta()
    return index


def _declared_empty_centroids(dim: int | None) -> np.ndarray:
    """Centroids for a declare-empty build: one zero centroid so every
    future append assigns to cell 0 (searches over the single cell are
    exact). The trainer cannot learn ``dim`` from zero rows, so it must
    be declared — exactly like the reference collection schema's
    FieldSchema(dim=...) that exists before any insert."""
    if dim is None:
        raise ValueError(
            "cannot build an IVF layout over an empty corpus without dim= — "
            "declare the layout with dim (single zero centroid; first "
            "compaction after data arrives retrains), or build after the "
            "first insert"
        )
    return np.zeros((1, int(dim)), dtype=np.float64)


def _ivf_live(index: IVFIndex, df: DataFrame) -> DataFrame:
    """``df`` without the lazily deleted rows (index/deletes.py::live)."""
    return deletes.live(df, index.tombstones_path, index.id_col)


def ivf_delete_lazy(spark: SparkSession, index: IVFIndex, ids) -> int:
    """Delete-by-id as DELETION VECTORS — the O(k) alternative to
    ``ivf_delete``'s eager per-cell rewrite (both designs live in
    index/deletes.py): victim ids append to a tiny sibling table; every
    search/pair/compaction read anti-joins it; and
    ``compact_ivf_index`` folds the tombstones in for real, restoring
    zero read-side cost. Use this when deletes are frequent relative to
    compactions; use the eager path when they are rare and you want the
    search plan permanently join-free.

    Idempotent: victims resolve through the LIVE view, so re-deleting a
    tombstoned id is a no-op. Returns the number of ids newly
    tombstoned."""
    live_ids = _ivf_live(index, _read_layout(spark, index).select(index.id_col))
    return deletes.tombstone(live_ids, ids, index.tombstones_path, index.id_col)


def nearest_cells(index: IVFIndex, query_vec, nprobe: int) -> list[int]:
    """Driver-side probe-list computation (nlist × dim is a few KB —
    SURVEY.md §4: no custom Catalyst rule needed, just an IN-filter)."""
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((index.centroids - q) ** 2).sum(axis=1)
    order = np.argsort(d2, kind="stable")[:nprobe]
    return [int(c) for c in order]


def ivf_search(
    spark: SparkSession,
    index: IVFIndex,
    query_vec,
    k: int = 5,
    nprobe: int = 20,
    score_threshold: float | None = None,
    where: Column | None = None,
) -> DataFrame:
    """IVF search: partition-pruned scan of the nprobe nearest cells +
    exact L2 top-k within them (the FLAT part of IVF_FLAT).

    ``where`` is an optional metadata predicate (Milvus filtered-search
    semantics: the filter applies BEFORE the top-k, so the result is the
    k nearest rows *satisfying* it). It lands on the pruned scan, where
    Catalyst pushes it into the parquet reader alongside the partition
    filter — filtering never widens the scan."""
    probe = nearest_cells(index, query_vec, nprobe)
    corpus = _ivf_live(index, _read_layout(spark, index, probe))
    if where is not None:
        corpus = corpus.filter(where)
    return knn_exact(
        corpus,
        query_vec,
        k=k,
        vector_col=index.vector_col,
        score_threshold=score_threshold,
        id_col=index.id_col,
    )


def cell_assigner(centroids: np.ndarray):
    """Nearest-centroid assignment as an Arrow-batched BLAS matmul
    (argmin of ||x||² − 2xCᵀ + ||c||² per batch). The ONE cell-assignment
    path for builds, appends, and streaming ingest: the centroid matrix
    rides in the UDF closure (broadcast once per executor), so cost is
    independent of nlist×dim in the PLAN — a Catalyst-literal encoding at
    the reference's real config (nlist=128 × dim=384 ≈ 49k literal nodes)
    produces a pathological expression tree."""
    from pyspark.sql.functions import pandas_udf

    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    cc = (cents * cents).sum(axis=1)

    @pandas_udf("int")
    def cell_of(vs: pd.Series) -> pd.Series:
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in vs])
        d = (X * X).sum(axis=1, keepdims=True) - 2.0 * (X @ cents.T) + cc
        return pd.Series(d.argmin(axis=1).astype(np.int32))

    return cell_of


def assign_cells(index: IVFIndex, vector: Column) -> Column:
    """Cell assignment for appends without refit (reference post-insert
    visibility semantics, SURVEY.md §3.3) — same BLAS pandas_udf as the
    build path."""
    return cell_assigner(index.centroids)(vector)


def ivf_bucketed_pairs(
    spark: SparkSession,
    index: IVFIndex,
    max_distance: float,
) -> DataFrame:
    """Embedding near-dup candidate pairs WITHIN cells only — the
    100 TB-scale replacement for the O(n²) similarity self-join: pairs
    are generated per cell (co-partitioned, no global shuffle) and
    verified with exact L2."""
    from ..functions.vector import l2_distance

    base = _ivf_live(index, _read_layout(spark, index))
    a = base.select(
        F.col("cell_id"),
        F.col(index.id_col).alias("a_id"),
        F.col(index.vector_col).alias("a_vec"),
    )
    b = base.select(
        F.col("cell_id"),
        F.col(index.id_col).alias("b_id"),
        F.col(index.vector_col).alias("b_vec"),
    )
    return (
        a.join(b, ["cell_id"])
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("distance", l2_distance(F.col("a_vec"), F.col("b_vec")))
        .filter(F.col("distance") <= max_distance)
        .select("cell_id", "a_id", "b_id", "distance")
    )


def ivf_append(index: IVFIndex, rows: DataFrame) -> None:
    """Append rows to the layout without refit: nearest-EXISTING-centroid
    assignment (pure expression), partitioned append — the next query
    sees the rows immediately (reference post-insert visibility,
    SURVEY.md §3.3). Cell quality degrades as data drifts; fix with
    compact_ivf_index offline."""
    assigned = rows.withColumn(
        "cell_id", assign_cells(index, F.col(index.vector_col))
    )
    # Size-gated shuffle onto the partition column first: one file per
    # touched cell per micro-batch append instead of (tasks × cells)
    # shards (round 15); a frame over the collapse ceiling keeps full
    # write parallelism instead of serializing onto ≤ nlist tasks
    # (round 16 — sources/tables.py::append_repartition).
    append_repartition(assigned, "cell_id").write.partitionBy("cell_id").mode(
        "append"
    ).parquet(index.path)


def compact_ivf_index(
    spark: SparkSession,
    index: IVFIndex,
    new_path: str,
    nlist: int | None = None,
    seed: int = 42,
) -> IVFIndex:
    """Offline compaction: refit centroids over the CURRENT corpus
    (including appended rows) and write a fresh layout at ``new_path`` —
    write-new-then-swap-pointer, never rewrite a layout in place (readers
    of the old path stay consistent; the Milvus data-node indexing analog,
    doc/milvus介绍.md:27). FOLDS DELETION VECTORS IN: lazily-deleted rows
    (``ivf_delete_lazy``) are dropped for real, and the fresh layout
    starts with no tombstone sibling. CLEARS AT-LEAST-ONCE REPLAY
    DUPLICATES: a crash in the streaming sink's append→marker window
    (streaming/ingest.py) can replay a whole batch, laying down
    byte-identical rows twice; the engine has no row-update op, so a
    repeated row IS a replay of the same insert — ``distinct()`` over
    the full row collapses it (deterministic, unlike a keep-one-of-
    differing-payloads rule), the same healing contract as
    ``compact_inverted_index``'s max(tf) rule."""
    corpus = (
        _ivf_live(index, _read_layout(spark, index)).drop("cell_id").distinct()
    )
    if corpus.isEmpty():
        # Delete-to-empty lifecycle: a fully-tombstoned layout has zero
        # training vectors, so delegating to build_ivf_index would crash
        # in the sample trainer (np.vstack over nothing). Write an empty
        # layout reusing the OLD centroids and schema instead — searches
        # over it return zero rows through the same well-typed
        # schema-persisted read path the inverted and LSH compactors
        # already use for their empty cases. The one isEmpty probe is a
        # limit-1 job, noise next to the full rewrite it gates.
        assigned = corpus.withColumn(
            "cell_id", cell_assigner(index.centroids)(F.col(index.vector_col))
        )
        assigned.write.partitionBy("cell_id").mode("overwrite").parquet(new_path)
        out = IVFIndex(
            path=new_path,
            centroids=index.centroids,
            vector_col=index.vector_col,
            id_col=index.id_col,
            schema_json=index.schema_json,
        )
        out.save_meta()
        return out
    return build_ivf_index(
        corpus,
        path=new_path,
        nlist=nlist or index.nlist,
        vector_col=index.vector_col,
        id_col=index.id_col,
        seed=seed,
        # Delete-down-to-few: the surviving corpus may hold fewer rows
        # than the old nlist; compaction clamps rather than crashing the
        # trainer (direct builds stay strict).
        clamp_nlist=True,
    )


#: Sentinel coordinate for retired centroids: distance to anything is
#: astronomically large, so a dead cell can never be nearest — keeping
#: cell ids stable (they are row indices into the centroid matrix)
#: without renumbering live cells' partition directories.
_DEAD_CENTROID_COORD = 1.0e30


def split_hot_cells(
    spark: SparkSession,
    index: IVFIndex,
    max_cell_rows: int,
    sub_nlist: int = 4,
    seed: int = 42,
    train_sample: int = 25_600,
) -> IVFIndex:
    """Targeted skew repair: split every cell holding more than
    ``max_cell_rows`` rows into ``sub_nlist`` sub-cells (k-means within
    the cell), touching ONLY the hot partitions — the surgical
    alternative to ``compact_ivf_index``'s full rebuild when one hot
    region of embedding space (a crawl's boilerplate cluster, a viral
    template) swamps its cell while the other 99% of the layout is fine.

    Mechanics: per hot cell, train sub-centroids on a bounded sample of
    that cell, append its rows re-assigned to NEW cell ids (rows appended
    to the centroid matrix), drop the old partition directory, and
    retire the old centroid by moving it to an unreachable sentinel
    point — probe lists and appends can then never select it, and live
    cell ids stay stable (they are positions in the centroid matrix, and
    the cold partitions on disk are never touched or renamed).

    The rewrite is write-then-delete per cell (new sub-partitions land
    before the hot directory is removed); as with the streaming sink's
    commit markers, a crash between the two leaves a recoverable
    duplicate window that a real deployment closes with a transactional
    table format — and that ``compact_ivf_index`` now clears offline
    (its full-row distinct() runs after dropping cell_id, so the same
    row duplicated across an old cell and its sub-cell collapses).
    Single-writer assumption, documented.

    Returns a NEW IVFIndex (same path, extended centroid matrix); the
    old in-memory index object is stale after this call.
    """
    counts = {
        int(r["cell_id"]): int(r["n"])
        for r in _read_layout(spark, index)
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    hot = sorted(c for c, n in counts.items() if n > max_cell_rows)
    if not hot:
        return index

    centroids = index.centroids.copy()
    for cell in hot:
        part = _read_layout(spark, index).filter(F.col("cell_id") == cell)
        part = part.drop("cell_id").localCheckpoint(eager=True)
        train = np.vstack(
            [
                np.asarray(r[0], dtype=np.float64)
                for r in part.select(index.vector_col)
                .limit(train_sample)
                .collect()
            ]
        )
        sub = _train_centroids(
            train, nlist=min(sub_nlist, len(train)), seed=seed, max_iter=20
        )
        base_id = len(centroids)
        centroids = np.vstack([centroids, sub])
        # assign within the hot cell against the SUB centroids only, then
        # offset into the global id space
        assigned = part.withColumn(
            "cell_id", cell_assigner(sub)(F.col(index.vector_col)) + F.lit(base_id)
        )
        assigned.write.partitionBy("cell_id").mode("append").parquet(index.path)
        fsio.delete(f"{index.path}/cell_id={cell}")
        centroids[cell] = _DEAD_CENTROID_COORD  # retire; never nearest again

    out = IVFIndex(
        path=index.path,
        centroids=centroids,
        vector_col=index.vector_col,
        id_col=index.id_col,
        schema_json=index.schema_json,
    )
    out.save_meta()
    return out


def ivf_search_batch(
    spark: SparkSession,
    index: IVFIndex,
    queries: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 20,
) -> DataFrame:
    """Batched IVF search: N queries against the layout in ONE scan.

    The probe lists are driver-side (numpy over the tiny centroid
    matrix); the scan is pruned to the UNION of all probed cells
    (partition pruning), each corpus row is scored only for the queries
    actually probing its cell, and a per-query rank window takes top-k.
    Scan cost is amortized across the whole query batch — the MPP
    proxy-aggregation pattern (SURVEY.md §4) instead of N sequential
    searches. Scaffolding (schema derivation, empty/duplicate guards,
    pruned scan, kernel loop, rank window) is shared with the LSH batch
    path via index/batchsearch.py; the distance block here is the L2
    kernel — a left-to-right fold over dimensions, bit-identical to the
    l2_distance expression (SCALING.md round-4 rule: Arrow kernel, not
    an interpreted higher-order lambda), so the exact-parity oracles
    (nprobe=nlist ⇒ exact) stay hash-green. Deletion vectors are
    honored exactly like the single-query path (the pruned scan is
    wrapped in the live view)."""
    from .batchsearch import batch_topk_over_layout

    def make_l2_block(Q: np.ndarray):
        dim = Q.shape[1]

        def block(Xp: np.ndarray, qi: list[int]) -> np.ndarray:
            Qc = Q[qi]
            acc = np.zeros((Xp.shape[0], Qc.shape[0]))
            for j in range(dim):
                diff = Xp[:, j][:, None] - Qc[:, j][None, :]
                acc += diff * diff
            return np.sqrt(acc)

        return block

    return batch_topk_over_layout(
        lambda cells: _read_layout(spark, index, cells),
        partition_col="cell_id",
        id_col=index.id_col,
        vector_col=index.vector_col,
        queries=queries,
        k=k,
        probes_for=lambda vec: nearest_cells(index, vec, nprobe),
        make_distance_block=make_l2_block,
        live=lambda df: _ivf_live(index, df),
    )


def ivf_delete(spark: SparkSession, index: IVFIndex, ids) -> int:
    """Delete rows by id from the layout (Milvus delete-by-pk semantics,
    served eagerly): rewrite ONLY the cell partitions holding the ids,
    without the victims, and leave every other partition's files
    untouched (index/deletes.py::rewrite_partitions_without). Cost is
    O(rows in affected cells) — for a k-id delete that is k cells' worth
    of data, not the corpus.

    Returns the number of rows deleted. The deletion-vector design
    (``ivf_delete_lazy``) makes deletes O(k) at the price of a read-side
    anti-join; eager rewrite keeps every search plan unchanged, which is
    the right trade for rare deletes. Victims resolve through the LIVE
    view, so the count excludes rows a prior ``ivf_delete_lazy`` already
    tombstoned (the rewrite may carry such rows physically; they stay
    hidden until compaction)."""
    layout = _ivf_live(index, _read_layout(spark, index))
    return deletes.rewrite_partitions_without(
        layout, index.path, "cell_id", ids, index.id_col
    )
