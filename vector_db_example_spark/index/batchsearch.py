"""Shared scaffolding for batched layout search (IVF cells, LSH buckets).

Both batch paths have the same shape — guard empty/duplicate batches,
prune ONE scan to the union of every query's probed partitions (whose
schema types the output), run an Arrow distance kernel
grouped by partition value (each row scored only for the queries probing
its partition), and keep k per query with a rank window. Only the probe
computation and the distance fold differ, so they are injected; keeping
the scaffolding in one place means a fix to the empty-batch schema, the
duplicate-id guard, the tile/repeat emission alignment, or the window
tail propagates to every layout's batch search at once.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def batch_topk_over_layout(
    read_probed: Callable[[list[int]], DataFrame],
    *,
    partition_col: str,
    id_col: str,
    vector_col: str,
    queries: list[tuple[int, list[float]]],
    k: int,
    probes_for: Callable[[list[float]], list[int]],
    make_distance_block: Callable[[np.ndarray], Callable],
    live: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Batched top-k against a partition-pruned layout scan.

    ``read_probed(values)`` is called ONCE with the sorted union of every
    query's probed partition values and returns the layout pruned to
    them (sources/tables.py::read_layout: only those directories are
    listed and read); its schema also types the output. ``probes_for(vec)``
    returns the partition values a query probes; values are deduplicated
    here, so a probe list that names the same partition twice still
    scores each row once. Partition values and query ids must be
    int-castable (they are carried as int64 through the Arrow kernel and
    the ``isin`` pruning filter) — a layout with a string partition
    column needs its own scaffold. ``make_distance_block(Q)`` is called
    once with the stacked (nq, dim) float64 query matrix and returns
    ``block(Xp, qi) -> (rows, len(qi))`` distances for a partition's row
    block against the query subset at positions ``qi`` — its fold must
    be bit-identical to the caller's JVM expression form so exact-probe
    runs stay hash-green against SQL oracles. ``live`` optionally wraps
    the pruned scan (deletion-vector filtering), so batched search
    honors tombstones exactly like the single-query path.
    """
    from ..functions.vector import score_from_distance

    qid_list = [int(qid) for qid, _ in queries]
    # deduplicate on the EMITTED (truncated-to-int) ids: two float qids
    # that collide after int() would otherwise pass a raw-value check
    # and silently merge their candidate sets under one query_id
    if len(set(qid_list)) != len(queries):
        raise ValueError("duplicate query ids in batch")
    # partition value → positions of the queries probing it (tiny;
    # rides the UDF closure like the centroid/plane matrices do)
    probe_positions: dict[int, list[int]] = {}
    for pos, (_, vec) in enumerate(queries):
        # set() first: a probes_for that returns the same partition twice
        # must not append the query position twice, or every row in that
        # partition would be scored (and ranked) twice for the query.
        for part in {int(p) for p in probes_for(vec)}:
            probe_positions.setdefault(part, []).append(pos)
    pruned = read_probed(sorted(probe_positions))
    id_type = pruned.schema[id_col].dataType.simpleString()
    kernel_schema = f"query_id long, `{id_col}` {id_type}, distance double"
    out_cols = ["query_id", id_col, "distance", "score", "rank"]
    if not queries:
        # np.vstack([]) below would raise; return an empty frame with
        # the output schema instead (same contract as knn_batch).
        return pruned.sparkSession.createDataFrame(
            [], kernel_schema + ", score double, rank int"
        )
    Q = np.vstack(
        [np.asarray([float(x) for x in vec], dtype=np.float64) for _, vec in queries]
    )
    qids_arr = np.asarray(qid_list, dtype=np.int64)
    if live is not None:
        pruned = live(pruned)
    block = make_distance_block(Q)

    def _distances(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vector_col]]
            )
            ids = pdf[id_col].to_numpy()
            parts = pdf[partition_col].to_numpy()
            for part in np.unique(parts):
                qi = probe_positions.get(int(part))
                if not qi:
                    continue
                mask = parts == part
                D = block(X[mask], qi)
                yield pd.DataFrame(
                    {
                        "query_id": np.tile(qids_arr[qi], int(mask.sum())),
                        id_col: ids[mask].repeat(len(qi)),
                        "distance": D.ravel(),
                    }
                )

    cand = pruned.select(partition_col, id_col, vector_col).mapInPandas(
        _distances, kernel_schema
    ).withColumn("score", score_from_distance("distance"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("distance").asc(), F.col(id_col).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(*out_cols)
    )
