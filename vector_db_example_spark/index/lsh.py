"""Random-hyperplane LSH for cosine ANN (north-star similarity search —
the LSH-bucketed scale path next to the IVF layout in index/ivf.py).

Semantics (SimHash-for-vectors, Charikar 2002): ``n_planes`` fixed random
hyperplanes; a vector's bucket is the bit-pattern of sign(v·h_i). Cosine-
similar vectors agree on most signs, so a query only scans its own bucket
plus all buckets within Hamming distance ``probe_radius`` (multiprobe),
then reranks exactly.

Scale design:

* The plane matrix is (n_planes × dim) floats — tiny, driver-side. For
  one-off scans the bucketing is a pure JVM expression column
  (``bucket_expr``); for repeated querying ``build_lsh_layout`` writes
  the corpus as Parquet **partitioned by bucket** (the IVF layout's
  twin), assigning buckets via an Arrow-batched sign(X·Pᵀ) matmul.
* A query's probe set is computed driver-side (tiny combinatorics); a
  layout search filters ``bucket IN probes`` on the partition column —
  Parquet partition pruning, identical machinery to IVF nprobe. The scan
  reads only the probed directories; nothing else is opened.
* Expected scan fraction ≈ Σ_{i<=r} C(n_planes, i) / 2^n_planes — tune
  n_planes to corpus size (buckets ≈ a few hundred rows each) and
  probe_radius to the recall target.
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from itertools import combinations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from . import deletes
from ..functions.vector import vector_literal
from ..operators.knn import knn_exact
from ..sources.tables import append_repartition, read_layout


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    """Deterministic Gaussian hyperplane matrix (n_planes × dim)."""
    return np.random.RandomState(seed).randn(n_planes, dim)


def bucket_expr(vector: Column, planes: np.ndarray) -> Column:
    """Bucket id = sign-bit pattern of v·h_i, as a pure expression (one
    dot product per plane via zip_with/aggregate — JVM-side, no Python)."""
    bits = []
    for i, plane in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(vector_literal(plane), vector, lambda p, v: p * v.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def bucket_of(vec, planes: np.ndarray) -> int:
    """Driver-side bucket of a query vector (same sign convention)."""
    dots = planes @ np.asarray(vec, dtype=np.float64)
    return int(sum(1 << i for i, d in enumerate(dots) if d >= 0))


def probe_buckets(bucket: int, n_planes: int, probe_radius: int = 1) -> list[int]:
    """Multiprobe set: all buckets within Hamming distance probe_radius."""
    probes = [bucket]
    for r in range(1, probe_radius + 1):
        for flips in combinations(range(n_planes), r):
            b = bucket
            for i in flips:
                b ^= 1 << i
            probes.append(b)
    return probes


def lsh_ann_search(
    corpus: DataFrame,
    query_vec,
    planes: np.ndarray,
    k: int = 10,
    probe_radius: int = 1,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Layout-free ANN top-k by cosine: compute buckets on the fly and
    prune to the multiprobe set with a map-side filter. This still READS
    the whole corpus (the filter discards, it does not skip) — it is the
    one-shot form for a corpus that will be queried once. Repeated
    querying should build ``build_lsh_layout`` once and use
    ``lsh_layout_search``, where the same probe list becomes Parquet
    partition pruning and unprobed buckets are never opened."""
    probes = probe_buckets(
        bucket_of(query_vec, planes), len(planes), probe_radius
    )
    bucketed = corpus.withColumn("bucket", bucket_expr(F.col(vector_col), planes))
    pruned = bucketed.filter(F.col("bucket").isin(probes))
    return knn_exact(
        pruned,
        query_vec,
        k=k,
        vector_col=vector_col,
        metric="cosine",
        score_threshold=None,
        id_col=id_col,
    )


@dataclass
class LSHIndex:
    """Bucket-partitioned LSH layout on disk (the IVF layout's twin —
    index/ivf.py:45). ``planes`` is the (n_planes × dim) hyperplane
    matrix; buckets are Parquet partition directories ``bucket=<id>``."""

    path: str
    planes: np.ndarray
    vector_col: str
    id_col: str
    #: Layout schema (StructType JSON) persisted at build time — the
    #: IVF twin of index/ivf.py::IVFIndex.schema_json: a delete that
    #: empties every ``bucket=`` directory must leave reads well-typed
    #: instead of raising UNABLE_TO_INFER_SCHEMA. Every build and
    #: compaction sets it, and ``load`` rejects a meta without it.
    schema_json: str | None = None

    @property
    def n_planes(self) -> int:
        return len(self.planes)

    def save_meta(self) -> None:
        meta = {
            "vector_col": self.vector_col,
            "id_col": self.id_col,
            "planes": self.planes.tolist(),
            "schema": self.schema_json,
        }
        # Hadoop-FS IO (fsio): layout meta lives wherever the layout's
        # parquet lives — any scheme, not just the local filesystem.
        fsio.write_text(f"{self.path}/_lsh_meta.json", json.dumps(meta))

    @classmethod
    def load(cls, path: str) -> "LSHIndex":
        meta = json.loads(fsio.read_text(f"{path}/_lsh_meta.json"))
        if meta.get("schema") is None:
            raise ValueError(f"{path}: LSH meta has no schema; rebuild it")
        return cls(
            path=path,
            planes=np.asarray(meta["planes"], dtype=np.float64),
            vector_col=meta["vector_col"],
            id_col=meta["id_col"],
            schema_json=meta["schema"],
        )


def _read_layout(
    spark: SparkSession, index: LSHIndex, buckets: list[int] | None = None
) -> DataFrame:
    """The layout with its persisted schema (well typed after
    ``lsh_delete`` removes every bucket); ``buckets`` lists and reads
    only those probed buckets (sources/tables.py::read_layout)."""
    return read_layout(spark, index.path, index.schema_json, "bucket", buckets)


def bucket_assigner(planes: np.ndarray):
    """Bucket assignment as an Arrow-batched BLAS matmul: sign bits of
    X·Pᵀ packed into an int per batch. The build-path twin of
    index/ivf.py:218 ``cell_assigner`` — the plane matrix rides in the
    UDF closure (broadcast once per executor) instead of a literal
    expression tree, so the plan stays O(1) regardless of
    n_planes × dim (the reference shape is 384-dim — see the IVF literal
    -matrix lesson in that docstring). Sign convention matches
    ``bucket_of``/``bucket_expr``: bit set iff dot >= 0."""
    from pyspark.sql.functions import pandas_udf

    P = np.ascontiguousarray(planes, dtype=np.float64)
    weights = (1 << np.arange(len(P))).astype(np.int64)

    @pandas_udf("int")
    def bucket_of_batch(vs: pd.Series) -> pd.Series:
        X = np.vstack([np.asarray(v, dtype=np.float64) for v in vs])
        bits = (X @ P.T) >= 0
        return pd.Series((bits @ weights).astype(np.int32))

    return bucket_of_batch


def build_lsh_layout(
    df: DataFrame,
    path: str,
    dim: int,
    n_planes: int = 8,
    seed: int = 42,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> LSHIndex:
    """Assign every vector its hyperplane bucket (one Arrow-batched map
    pass) and write the corpus as Parquet partitioned by ``bucket`` —
    after which every multiprobe search is partition pruning, not a
    full-scan filter. One shuffle-free pass at build time, zero scans of
    unprobed buckets forever after (exactly the IVF build contract,
    index/ivf.py:136)."""
    planes = hyperplanes(dim, n_planes=n_planes, seed=seed)
    bucketed = df.withColumn("bucket", bucket_assigner(planes)(F.col(vector_col)))
    bucketed.write.partitionBy("bucket").mode("overwrite").parquet(path)
    index = LSHIndex(
        path=path,
        planes=planes,
        vector_col=vector_col,
        id_col=id_col,
        schema_json=bucketed.schema.json(),
    )
    index.save_meta()
    return index


def lsh_append(index: LSHIndex, rows: DataFrame) -> None:
    """Append rows to the bucket-partitioned layout without any refit —
    the hyperplanes are FIXED at build time (unlike IVF centroids there
    is no drift: a vector's bucket is a pure function of the planes), so
    appends never degrade search quality and no compaction is ever
    needed for correctness. Same post-insert visibility contract as
    ``ivf_append`` (index/ivf.py:278): the next search's partition
    pruning sees the new rows immediately."""
    assigned = rows.withColumn(
        "bucket", bucket_assigner(index.planes)(F.col(index.vector_col))
    )
    # One file per touched bucket per micro-batch append, full write
    # parallelism above the collapse ceiling (the package-wide
    # size-gated append discipline — sources/tables.py).
    append_repartition(assigned, "bucket").write.partitionBy("bucket").mode(
        "append"
    ).parquet(index.path)


def lsh_layout_search(
    spark: SparkSession,
    index: LSHIndex,
    query_vec,
    k: int = 10,
    probe_radius: int = 1,
) -> DataFrame:
    """ANN top-k against the bucket-partitioned layout: the driver-side
    probe list becomes an IN-filter on the PARTITION column, so the scan
    opens only the probed ``bucket=`` directories (plan-pinned in
    tests/test_plans.py) and reranks exactly within them — identical
    semantics to ``lsh_ann_search``, IVF-nprobe mechanics."""
    probes = probe_buckets(
        bucket_of(query_vec, index.planes), index.n_planes, probe_radius
    )
    pruned = _read_layout(spark, index, probes)
    return knn_exact(
        pruned,
        query_vec,
        k=k,
        vector_col=index.vector_col,
        metric="cosine",
        score_threshold=None,
        id_col=index.id_col,
    )


def compact_lsh_layout(
    spark: SparkSession, index: LSHIndex, new_path: str
) -> LSHIndex:
    """Offline compaction — completes the LSH maintenance trio
    (append / delete / compact) to parity with the IVF and inverted
    layouts: collapses the small files a long append history leaves in
    each bucket directory, and CLEARS AT-LEAST-ONCE REPLAY DUPLICATES
    (full-row ``distinct()``, the same healing contract as
    ``compact_ivf_index`` — the engine has no row-update op, so a
    repeated row IS a replay of the same insert).

    Unlike the IVF compactor there is NOTHING to refit: buckets are a
    pure function of the fixed hyperplanes, so the stored assignments
    are reused as-is and the rewrite is one distinct + partitioned
    write — no re-hash, no training pass. Write-new-then-swap-pointer
    like every compactor here; readers of the old path stay consistent
    and the caller swaps the serving pointer (index/manifest.py)."""
    corpus = _read_layout(spark, index).distinct()
    corpus.write.partitionBy("bucket").mode("overwrite").parquet(new_path)
    out = LSHIndex(
        path=new_path,
        planes=index.planes,
        vector_col=index.vector_col,
        id_col=index.id_col,
        schema_json=index.schema_json,
    )
    out.save_meta()
    return out


def lsh_delete(spark: SparkSession, index: LSHIndex, ids) -> int:
    """Delete rows by id from the bucket-partitioned layout — the same
    eager per-partition rewrite as ``ivf_delete``
    (index/deletes.py::rewrite_partitions_without): a vector lives in
    exactly ONE bucket directory, so a k-id delete rewrites only the
    affected buckets and every other partition's files stay untouched.
    Search plans stay join-free afterwards. The layout has no tombstone
    table: the deletion-vector half of index/deletes.py would need its
    reads wrapped in ``deletes.live`` first. Single-writer assumption as
    every layout mutation here.

    Returns the number of rows deleted."""
    return deletes.rewrite_partitions_without(
        _read_layout(spark, index), index.path, "bucket", ids, index.id_col
    )


def lsh_layout_search_batch(
    spark: SparkSession,
    index: LSHIndex,
    queries,
    k: int = 10,
    probe_radius: int = 1,
) -> DataFrame:
    """Batched multiprobe ANN against the bucket-partitioned layout —
    the LSH twin of ``ivf_search_batch`` (same amortized-scan pattern):
    the UNION of every query's Hamming-ball probe set becomes ONE
    partition-pruned scan, each row is scored only for the queries
    actually probing its bucket, and a per-query rank window keeps k.
    N sequential searches would open shared bucket directories N times;
    the batch opens each once. Scaffolding is shared with the IVF batch
    path via index/batchsearch.py; the distance block here is the
    cosine kernel.

    ``queries`` is a list of (query_id, vector). Returns
    (query_id, id, distance, score, rank) with distance = cosine
    distance. The kernel's per-dimension left-to-right fold is
    bit-identical to the ``cosine_similarity`` expression
    (functions/vector.py:40-51 — zip_with product, aggregate sum), so
    the full-radius run (probes = every bucket ⇒ exact) hash-matches a
    brute-force SQL oracle; tests/test_lsh.py pins the pruned-radius
    recall. Zero-norm vectors (query or corpus) raise — cosine distance
    is undefined for them, and the sequential path's expression form
    raises too (ANSI divide-by-zero), so the batch must not silently
    rank them on NaN instead."""
    from .batchsearch import batch_topk_over_layout

    def make_cosine_block(Q: np.ndarray):
        dim = Q.shape[1]
        # query norms once, with the SAME left-to-right fold the kernel
        # uses for row norms (not np.linalg.norm, whose pairwise
        # summation can differ in the last ulp)
        qnorm_acc = np.zeros(Q.shape[0])
        for j in range(dim):
            qnorm_acc += Q[:, j] * Q[:, j]
        if (qnorm_acc == 0.0).any():
            raise ValueError("zero-norm query vector: cosine is undefined")
        qnorms = np.sqrt(qnorm_acc)

        def block(Xp: np.ndarray, qi: list[int]) -> np.ndarray:
            Qb = Q[qi]
            dot = np.zeros((Xp.shape[0], Qb.shape[0]))
            xnorm_acc = np.zeros(Xp.shape[0])
            for j in range(dim):
                dot += Xp[:, j][:, None] * Qb[:, j][None, :]
                xnorm_acc += Xp[:, j] * Xp[:, j]
            if (xnorm_acc == 0.0).any():
                raise ValueError(
                    "zero-norm corpus vector: cosine is undefined"
                )
            xnorms = np.sqrt(xnorm_acc)
            return 1.0 - dot / (xnorms[:, None] * qnorms[qi][None, :])

        return block

    return batch_topk_over_layout(
        lambda buckets: _read_layout(spark, index, buckets),
        partition_col="bucket",
        id_col=index.id_col,
        vector_col=index.vector_col,
        queries=queries,
        k=k,
        probes_for=lambda vec: probe_buckets(
            bucket_of(vec, index.planes), index.n_planes, probe_radius
        ),
        make_distance_block=make_cosine_block,
    )
