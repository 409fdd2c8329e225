"""SQ8 scalar quantization (the IVF_SQ8 family — Milvus's memory-
compressed index type; see also FAISS ScalarQuantizer QT_8bit).

Each dimension is affinely mapped to an 8-bit code using per-dimension
[min, max] trained from the corpus:

    scale_d = max((max_d - min_d) / 256, eps)
    code_d  = clip(floor((x_d - min_d) / scale_d), 0, 255)
    deq_d   = min_d + (code_d + 0.5) * scale_d      (bin midpoint)

which cuts vector memory/IO 4× (float32 → uint8) at a small recall
cost. Search is two-stage: approximate top-(k·overfetch) on dequantized
codes (map-side expression + TakeOrdered, corpus never shuffled), then
an exact rerank of those few candidates against the original vectors.

Everything is closed-form deterministic — floor (not round) avoids
round-half divergence between engines, so the DuckDB oracle reproduces
codes, approximate distances, and the final reranked top-k bit-exactly.

The train step collects 2·dim floats to the driver (like the IVF
centroid matrix — a few KB); codes are computed corpus-side as a pure
expression. At 100 TB the codes table is what you persist and scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import vector_literal

EPS = 1e-12


def train_sq8_params(
    corpus: DataFrame, vector_col: str = "embedding"
) -> tuple[list[float], list[float]]:
    """Per-dimension (mins, scales) from the corpus — one narrow
    aggregation (explode to (dim, value), partial min/max combine
    map-side, 2·dim rows to the driver)."""
    stats = (
        corpus.select(F.posexplode(vector_col).alias("d", "x"))
        .groupBy("d")
        .agg(F.min("x").cast("double").alias("mn"), F.max("x").cast("double").alias("mx"))
        .orderBy("d")
        .collect()
    )
    mins = [r.mn for r in stats]
    scales = [max((r.mx - r.mn) / 256.0, EPS) for r in stats]
    return mins, scales


def sq8_codes(vector: Column, mins: list[float], scales: list[float]) -> Column:
    """array<float> → array<int> of 8-bit codes (pure expression; the
    2·dim literals are KBs, nothing like a centroid matrix)."""
    mn = vector_literal(mins).alias("mn")
    sc = vector_literal(scales).alias("sc")
    zipped = F.arrays_zip(vector.cast("array<double>").alias("x"), mn, sc)
    return F.transform(
        zipped,
        lambda t: F.greatest(
            F.lit(0),
            F.least(F.lit(255), F.floor((t["x"] - t["mn"]) / t["sc"]).cast("int")),
        ),
    )


def sq8_distance(codes: Column, query_vec, mins: list[float], scales: list[float]) -> Column:
    """Asymmetric L2: float query vs dequantized (bin-midpoint) codes."""
    qv = vector_literal(query_vec).alias("q")
    mn = vector_literal(mins).alias("mn")
    sc = vector_literal(scales).alias("sc")
    zipped = F.arrays_zip(codes.alias("c"), qv, mn, sc)
    diff = lambda t: t["q"] - (  # noqa: E731
        t["mn"] + (t["c"].cast("double") + 0.5) * t["sc"]
    )
    sq = F.aggregate(zipped, F.lit(0.0), lambda acc, t: acc + diff(t) * diff(t))
    return F.sqrt(sq)


def sq8_search(
    corpus: DataFrame,
    query_vec,
    k: int = 10,
    overfetch: int = 3,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage SQ8 search: approximate top-(k·overfetch) on codes,
    exact rerank on the original vectors. Returns (id, distance) — the
    exact distances of the reranked winners."""
    from ..functions.vector import l2_distance

    mins, scales = train_sq8_params(corpus, vector_col)
    coded = corpus.select(
        F.col(id_col),
        F.col(vector_col),
        sq8_codes(F.col(vector_col), mins, scales).alias("codes"),
    )
    approx = (
        coded.withColumn(
            "approx_distance", sq8_distance(F.col("codes"), query_vec, mins, scales)
        )
        .orderBy(F.col("approx_distance").asc(), F.col(id_col).asc())
        .limit(k * overfetch)
    )
    qlit = vector_literal(query_vec)
    return (
        approx.withColumn("distance", l2_distance(F.col(vector_col), qlit))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "distance")
    )


def build_ivf_sq8_index(
    df: DataFrame,
    path: str,
    nlist: int = 16,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    **build_kw,
):
    """IVF_SQ8 proper: train global SQ8 params, store the 8-bit codes AS
    A COLUMN of the cell-partitioned IVF layout. Returns
    (IVFIndex, mins, scales). The approximate search stage then scans
    ONLY (cell_id, id, codes) — partition pruning cuts rows, column
    pruning cuts the float vectors, which is where the 4x IO saving
    actually lands at scale.

    Declare-then-ingest: an empty corpus with ``dim=`` (forwarded to the
    IVF builder) writes the empty layout with trivial per-dimension
    params (mins 0, scales 1 — any real corpus retrains them at the
    first compaction/rebuild, same contract as the zero centroid)."""
    from .ivf import build_ivf_index

    mins, scales = train_sq8_params(df, vector_col)
    if not mins:  # zero-dimension stats ⇒ empty corpus
        d = build_kw.get("dim")
        if d is None:
            raise ValueError(
                "cannot train SQ8 params over an empty corpus without dim= — "
                "declare the layout with dim, or build after the first insert"
            )
        mins, scales = [0.0] * int(d), [1.0] * int(d)
    coded = df.withColumn("sq8_codes", sq8_codes(F.col(vector_col), mins, scales))
    index = build_ivf_index(
        coded, path, nlist=nlist, vector_col=vector_col, id_col=id_col, **build_kw
    )
    return index, mins, scales


def ivf_sq8_search(
    spark,
    index,
    mins: list[float],
    scales: list[float],
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    overfetch: int = 3,
) -> DataFrame:
    """Two-stage IVF_SQ8 search: partition-pruned scan of the nprobe
    nearest cells reading only the code column (approximate top-
    (k·overfetch)), then exact rerank of just those candidates against
    the float vectors (broadcast candidate-id semi-join into the same
    pruned cells). Deletion vectors are honored exactly like the
    flat/batched IVF paths (the pruned scan is wrapped in the live
    view) — a lazily-deleted row must not resurface via the quantized
    route."""
    from ..functions.vector import l2_distance
    from .ivf import _ivf_live, _read_layout, nearest_cells

    probe = nearest_cells(index, query_vec, nprobe)
    pruned = _ivf_live(index, _read_layout(spark, index, probe))
    approx = (
        pruned.select(index.id_col, "sq8_codes")
        .withColumn(
            "approx_distance",
            sq8_distance(F.col("sq8_codes"), query_vec, mins, scales),
        )
        .orderBy(F.col("approx_distance").asc(), F.col(index.id_col).asc())
        .limit(k * overfetch)
    )
    qlit = vector_literal(query_vec)
    return (
        pruned.select(index.id_col, index.vector_col)
        .join(F.broadcast(approx.select(index.id_col)), index.id_col)
        .withColumn("distance", l2_distance(F.col(index.vector_col), qlit))
        .orderBy(F.col("distance").asc(), F.col(index.id_col).asc())
        .limit(k)
        .select(index.id_col, "distance")
    )
