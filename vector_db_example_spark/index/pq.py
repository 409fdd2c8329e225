"""Product quantization (the IVF_PQ family — Milvus's highest-compression
index type; see FAISS ``IndexPQ`` / ``IndexIVFPQ``).

The 64-dim vector is split into ``m`` subspaces of ``dim/m`` components;
each subspace is quantized independently against a ``ksub``-entry
codebook, so a vector becomes ``m`` small integer codes (here 8 one-byte
codes vs 256 bytes of float32 — a 32× compression, far beyond SQ8's 4×). Search is asymmetric (ADC): the float query is compared
against *reconstructed* vectors (per-subspace codeword patchwork), the
top-(k·overfetch) candidates are reranked exactly.

Codebook choice: the per-subspace codewords are the subvectors of a FIXED
deterministic sample of corpus rows (FAISS's random-subset k-means init,
with the Lloyd refinement deliberately parked: iterative cluster means
are not bit-reproducible across engines, while the sampled-init codebook
is closed-form — so the entire encode → ADC → rerank path hash-matches a
DuckDB oracle, like the SQ8 path. Refinement belongs in an offline
compaction job, exactly like the IVF centroid refit).

Everything is a Catalyst expression: encoding is zip_with + slice +
aggregate folds (left-to-right, double math), ADC reconstruction is 64
``element_at`` lookups into ksub-entry literal arrays. At 100 TB the
codes table (m bytes/row) is what you persist and scan; the float vectors
are touched only for the k·overfetch rerank rows.

Reference parity: the reference's collection is Milvus IVF_FLAT
(/root/reference/src/app.py:105-111); IVF_PQ is the same index family's
compressed variant, selectable by the same ``index_type`` knob.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import l2_distance, vector_literal

#: Deterministic codebook sample: ksub=32 spread vec_ids, present at every
#: test scale factor. Codeword k = the k-th entry (ascending id order).
DEFAULT_SAMPLE_IDS: tuple[int, ...] = tuple(7 + 15 * k for k in range(32))


def train_pq_codebook(
    corpus: DataFrame,
    sample_ids: tuple[int, ...] = DEFAULT_SAMPLE_IDS,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[float]]:
    """Collect the sampled codeword rows (ksub full vectors — a few KB,
    like the IVF centroid matrix). Codeword k is the row with the k-th
    smallest sampled id; per-subspace codebooks are views into these."""
    rows = (
        corpus.filter(F.col(id_col).isin(list(sample_ids)))
        .select(id_col, vector_col)
        .orderBy(id_col)
        .collect()
    )
    if len(rows) != len(sample_ids):
        raise ValueError(
            f"codebook sample incomplete: {len(rows)}/{len(sample_ids)} ids found"
        )
    return [[float(x) for x in r[1]] for r in rows]


def pq_codes(
    vector: Column, codebook: list[list[float]], m: int = 8
) -> Column:
    """array<float> → array<int> of ``m`` codes: per subspace j, the
    argmin over codewords of the squared L2 on that subspace's slice
    (ties → smallest code, exact on bit-identical doubles)."""
    dim = len(codebook[0])
    dsub = dim // m
    x = vector.cast("array<double>")
    # Per codeword: one zip_with over the full vector (squared diffs),
    # then per subspace a slice + fold — reuses the 64-wide diff array
    # across the m folds instead of m*ksub independent expressions.
    sqd = [
        F.zip_with(
            x,
            vector_literal(cw),
            lambda a, b: (a - b) * (a - b),
        )
        for cw in codebook
    ]
    codes = []
    for j in range(m):
        dists_j = F.array(
            *[
                F.aggregate(
                    F.slice(d2, j * dsub + 1, dsub),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                for d2 in sqd
            ]
        )
        codes.append(
            (F.array_position(dists_j, F.array_min(dists_j)) - 1).cast("int")
        )
    return F.array(*codes)


def pq_reconstruct(
    codes: Column, codebook: list[list[float]], m: int = 8
) -> Column:
    """Codes → the patchwork reconstruction: element i comes from the
    selected codeword of i's subspace. 64 element_at lookups into
    ksub-entry literal arrays (tiny expression, dynamic index)."""
    dim = len(codebook[0])
    dsub = dim // m
    elems = []
    for i in range(dim):
        j = i // dsub
        options = vector_literal([cw[i] for cw in codebook])
        elems.append(F.element_at(options, F.element_at(codes, j + 1) + 1))
    return F.array(*elems)


def pq_adc_distance(
    codes: Column, query_vec, codebook: list[list[float]], m: int = 8
) -> Column:
    """Asymmetric distance: float query vs the reconstruction, as the
    standard left-to-right 64-fold (bit-exact vs the oracle; numerically
    identical to the per-subspace LUT sum, but with a fixed add order)."""
    qv = vector_literal(query_vec)
    return l2_distance(pq_reconstruct(codes, codebook, m), qv)


def pq_search(
    corpus: DataFrame,
    query_vec,
    k: int = 10,
    overfetch: int = 5,
    m: int = 8,
    sample_ids: tuple[int, ...] = DEFAULT_SAMPLE_IDS,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage PQ search: ADC approximate top-(k·overfetch) on codes
    (map-side + TakeOrdered, corpus never shuffled), exact rerank on the
    original vectors. Returns (id, distance) with exact distances."""
    codebook = train_pq_codebook(corpus, sample_ids, vector_col, id_col)
    coded = corpus.select(
        F.col(id_col),
        F.col(vector_col),
        pq_codes(F.col(vector_col), codebook, m).alias("codes"),
    )
    approx = (
        coded.withColumn(
            "approx_distance",
            pq_adc_distance(F.col("codes"), query_vec, codebook, m),
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


def build_ivf_pq_index(
    df: DataFrame,
    path: str,
    nlist: int = 16,
    m: int = 8,
    sample_ids: tuple[int, ...] = DEFAULT_SAMPLE_IDS,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    codebook: list[list[float]] | None = None,
    **build_kw,
):
    """IVF_PQ proper (Milvus's ``index_type="IVF_PQ"``): train the PQ
    codebook, store the ``m`` codes AS A COLUMN of the cell-partitioned
    IVF layout. Returns (IVFIndex, codebook). The approximate stage then
    scans ONLY (cell_id, id, pq_codes) — partition pruning cuts rows,
    column pruning cuts the float vectors; with m bytes vs 4·dim, that is
    the 32× IO cut where IVF_PQ's scale win actually lands."""
    from .ivf import build_ivf_index

    if codebook is None:
        # Training needs corpus rows; an empty corpus raises the clear
        # "codebook sample incomplete: 0/N" error here. Declare-then-
        # ingest instead passes a pre-trained codebook= (+ dim= for the
        # IVF builder) — a PQ codebook, unlike the zero centroid, has no
        # meaningful data-free default.
        codebook = train_pq_codebook(df, sample_ids, vector_col, id_col)
    coded = df.withColumn("pq_codes", pq_codes(F.col(vector_col), codebook, m))
    index = build_ivf_index(
        coded, path, nlist=nlist, vector_col=vector_col, id_col=id_col, **build_kw
    )
    return index, codebook


def ivf_pq_search(
    spark,
    index,
    codebook: list[list[float]],
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    overfetch: int = 5,
    m: int = 8,
) -> DataFrame:
    """Two-stage IVF_PQ search: partition-pruned scan of the nprobe
    nearest cells reading only the code column (ADC approximate top-
    (k·overfetch)), then exact rerank of just those candidates against
    the float vectors (broadcast candidate-id semi-join into the same
    pruned cells). Deletion vectors are honored exactly like the
    flat/batched IVF paths (the pruned scan is wrapped in the live
    view) — a lazily-deleted row must not resurface via the quantized
    route."""
    from .ivf import _ivf_live, _read_layout, nearest_cells

    probe = nearest_cells(index, query_vec, nprobe)
    pruned = _ivf_live(index, _read_layout(spark, index, probe))
    approx = (
        pruned.select(index.id_col, "pq_codes")
        .withColumn(
            "approx_distance",
            pq_adc_distance(F.col("pq_codes"), query_vec, codebook, m),
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


def refine_pq_codebook(
    corpus: DataFrame,
    codebook: list[list[float]],
    m: int = 8,
    iters: int = 2,
    vector_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd refinement of the sampled codebook — the offline-compaction
    step (exactly like the IVF centroid refit): per iteration, assign
    codes corpus-side (pure expression), then recompute each subspace
    codeword as the mean of its assigned subvectors in ONE distributed
    aggregation (inline the m (j, code, subvector) structs per row,
    posexplode, groupBy(j, code, d) avg — m·ksub·dsub ≈ 2k rows to the
    driver). Iterative means are engine-local (float-sum order), so the
    refined codebook backs the recall path, not the hash-checked oracle
    query; centroids are rounded to de-noise run-to-run fold order.

    Empty clusters keep their previous codeword (FAISS behavior)."""
    dim = len(codebook[0])
    dsub = dim // m
    ksub = len(codebook)
    cb = [list(cw) for cw in codebook]
    for _ in range(iters):
        # bind the (expensive) pq_codes expression through a one-element
        # outer transform: lambdas don't CSE outer subtrees, so
        # referencing `codes` directly from the per-subspace lambda would
        # re-run the full encode m times per row (the shingles/bigram
        # lesson — SCALING.md)
        codes = pq_codes(F.col(vector_col), cb, m)

        def per_codes(cs):
            return F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.alias("j"),
                    F.element_at(cs, j + 1).alias("code"),
                    F.slice(
                        F.col(vector_col).cast("array<double>"), j * dsub + 1, dsub
                    ).alias("sub"),
                ),
            )

        parts = F.inline(
            F.element_at(F.transform(F.array(codes), per_codes), 1)
        )
        rows = (
            corpus.select(parts)
            .select("j", "code", F.posexplode("sub").alias("d", "x"))
            .groupBy("j", "code", "d")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        for r in rows:
            if 0 <= r.code < ksub:
                cb[r.code][r.j * dsub + r.d] = round(r.mu, 9)
    # NOTE: codeword k's subspace-j block is refined independently per
    # (j, k) — the codebook stops being "rows of the corpus" after the
    # first iteration, which is exactly the point.
    return cb
