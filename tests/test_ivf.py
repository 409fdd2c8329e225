"""IVF index correctness: the nprobe=nlist identity, recall vs exact,
expression-based cell assignment parity with MLlib, and the append path
(SURVEY.md §5.2 and hard parts (a))."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def ivf(spark, tmp_path_factory):
    from vector_db_example_spark.index.ivf import build_ivf_index
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    return build_ivf_index(emb, path=path, nlist=16)


def _exact_topk(spark, query_vec, k=10):
    from vector_db_example_spark.operators.knn import knn_exact
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    return knn_exact(emb, query_vec, k=k, score_threshold=None)


def _qvec(spark, vec_id):
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    return emb.filter(F.col("vec_id") == vec_id).head().embedding


def test_nprobe_equals_nlist_is_exact(spark, ivf):
    from vector_db_example_spark.index.ivf import ivf_search

    for qid in (0, 11, 42):
        q = _qvec(spark, qid)
        exact = [(r.vec_id, round(r.distance, 9)) for r in _exact_topk(spark, q).collect()]
        approx = [
            (r.vec_id, round(r.distance, 9))
            for r in ivf_search(spark, ivf, q, k=10, nprobe=16).collect()
        ]
        assert exact == approx, f"query {qid}: IVF(nprobe=nlist) != exact"


def test_pruned_probe_recall(spark, ivf):
    from vector_db_example_spark.index.ivf import ivf_search

    recalls = []
    for qid in (0, 11, 42, 99, 123):
        q = _qvec(spark, qid)
        exact_ids = {r.vec_id for r in _exact_topk(spark, q).collect()}
        got = {r.vec_id for r in ivf_search(spark, ivf, q, k=10, nprobe=4).collect()}
        recalls.append(len(exact_ids & got) / len(exact_ids))
    avg = sum(recalls) / len(recalls)
    # 4/16 cells scanned; random unit vectors cluster weakly, so demand a
    # floor well above the 25% scan fraction but below perfect.
    assert avg >= 0.5, f"recall@10 with nprobe=4/16 too low: {recalls}"


def test_assign_cells_matches_kmeans(spark, ivf):
    """The append-path argmin expression must reproduce MLlib's own
    nearest-centroid prediction on the indexed corpus."""
    from vector_db_example_spark.index.ivf import assign_cells

    indexed = spark.read.parquet(ivf.path)
    mismatch = (
        indexed.withColumn("assigned", assign_cells(ivf, F.col("embedding")))
        .filter(F.col("assigned") != F.col("cell_id"))
        .count()
    )
    assert mismatch == 0


def test_assign_cells_at_reference_config(spark):
    """nlist=128 × dim=384 (the reference's real index config,
    /root/reference/src/app.py:105-111): cell assignment must go through
    the BLAS pandas_udf, not a Catalyst literal matrix (~49k literal
    nodes at this shape), and must agree with a numpy argmin oracle."""
    import numpy as np

    from vector_db_example_spark.index.ivf import IVFIndex, assign_cells

    rng = np.random.default_rng(7)
    cents = rng.standard_normal((128, 384))
    index = IVFIndex(path="unused", centroids=cents, vector_col="v", id_col="i")
    vecs = rng.standard_normal((64, 384)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)], "i long, v array<float>"
    )
    out = df.withColumn("cell", assign_cells(index, F.col("v")))
    assert "ArrowEvalPython" in out._jdf.queryExecution().executedPlan().toString()
    got = {r.i: r.cell for r in out.collect()}
    d = ((vecs.astype(np.float64) ** 2).sum(axis=1, keepdims=True)
         - 2.0 * vecs.astype(np.float64) @ cents.T
         + (cents * cents).sum(axis=1))
    want = d.argmin(axis=1)
    assert got == {i: int(want[i]) for i in range(len(vecs))}


def test_append_visible_in_next_search(spark, ivf):
    """S6/3.3 semantics: an appended vector (nearest-centroid assignment,
    no refit) is found by the next search."""
    from vector_db_example_spark.index.ivf import assign_cells, ivf_search

    q = _qvec(spark, 7)
    new_row = spark.createDataFrame(
        [(999999, [float(x) for x in q], 0)],
        "vec_id long, embedding array<float>, label int",
    ).withColumn("cell_id", assign_cells(ivf, F.col("embedding")))
    new_row.write.partitionBy("cell_id").mode("append").parquet(ivf.path)
    hits = ivf_search(spark, ivf, q, k=2, nprobe=16).collect()
    assert {r.vec_id for r in hits} == {7, 999999}  # both at distance 0


def test_batch_search_pruned_recall(spark, ivf):
    """Batched probe search (nprobe=4): per-query recall vs exact, same
    discipline as the single-query path."""
    from vector_db_example_spark.index.ivf import ivf_search_batch
    from vector_db_example_spark.operators.knn import knn_exact
    from vector_db_example_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, SF_SMOKE, "embeddings")
    qids = (3, 11, 23, 42)
    queries = []
    for qid in qids:
        queries.append(
            (qid, emb.filter(F.col("vec_id") == qid).collect()[0]["embedding"])
        )
    hits = ivf_search_batch(spark, ivf, queries, k=10, nprobe=4).collect()
    recalls = []
    for qid, qv in queries:
        exact = {
            r["vec_id"]
            for r in knn_exact(emb, qv, k=10, score_threshold=None).collect()
        }
        got = {r["vec_id"] for r in hits if r["query_id"] == qid}
        recalls.append(len(exact & got) / 10)
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_batch_search_empty_queries(spark, ivf):
    """An empty query batch returns an empty frame with the normal
    output schema instead of raising from np.vstack([]) (the
    pure-expression plan's old behavior, kept through the Arrow
    kernel rewrite)."""
    from vector_db_example_spark.index.ivf import ivf_search_batch

    out = ivf_search_batch(spark, ivf, [], k=10, nprobe=4)
    assert out.columns == ["query_id", "vec_id", "distance", "score", "rank"]
    assert out.count() == 0


def test_append_then_compact(spark, ivf, tmp_path):
    """Appends are nearest-existing-centroid (visible immediately);
    compaction refits over the appended corpus into a fresh layout with
    every row present and the exact-search identity intact."""
    from vector_db_example_spark.index.ivf import (
        compact_ivf_index,
        ivf_append,
        ivf_search,
    )

    base = spark.read.parquet(ivf.path)
    n0 = base.count()
    new_rows = spark.createDataFrame(
        [(7_000_001, [0.25] * 64, 99)], "vec_id long, embedding array<float>, label int"
    )
    ivf_append(ivf, new_rows)
    assert spark.read.parquet(ivf.path).count() == n0 + 1

    compacted = compact_ivf_index(spark, ivf, new_path=str(tmp_path / "ivf_v2"))
    assert spark.read.parquet(compacted.path).count() == n0 + 1
    hits = ivf_search(
        spark, compacted, [0.25] * 64, k=1, nprobe=compacted.nlist
    ).collect()
    assert hits[0]["vec_id"] == 7_000_001 and hits[0]["distance"] == 0.0


def test_compact_fully_tombstoned_layout(spark, tmp_path):
    """Delete-to-empty lifecycle closes for IVF compaction too (advisor
    finding, round 6): compacting a layout whose every row is lazily
    tombstoned must write a searchable EMPTY layout reusing the old
    centroids — not crash in the sample trainer's np.vstack over zero
    collected vectors. The inverted and LSH compactors already handle
    empty; this pins the IVF one."""
    import numpy as np

    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        compact_ivf_index,
        ivf_delete_lazy,
        ivf_search,
    )

    rows = [(i, [float(i), float(i % 3)], i % 2) for i in range(10)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    idx = build_ivf_index(df, path=str(tmp_path / "ivf"), nlist=2)
    assert ivf_delete_lazy(spark, idx, list(range(10))) == 10

    compacted = compact_ivf_index(spark, idx, str(tmp_path / "ivf_v2"))
    assert np.array_equal(compacted.centroids, idx.centroids)
    assert spark.read.schema(
        spark.read.parquet(idx.path).schema
    ).parquet(compacted.path).count() == 0
    hits = ivf_search(spark, compacted, [0.0, 0.0], k=5, nprobe=2)
    assert hits.count() == 0


def test_mllib_trainer_exact_identity(spark, tmp_path):
    """The distributed-MLlib-trained layout satisfies the same
    nprobe=nlist ⇒ exact invariant (centroid quality affects recall,
    never correctness)."""
    from vector_db_example_spark.index.ivf import build_ivf_index, ivf_search
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    idx = build_ivf_index(
        emb, path=str(tmp_path / "ivf_mllib"), nlist=8, trainer="mllib"
    )
    qv = _qvec(spark, 11)
    exact = [(r.vec_id, round(r.distance, 6)) for r in _exact_topk(spark, qv).collect()]
    got = [
        (r.vec_id, round(r.distance, 6))
        for r in ivf_search(spark, idx, qv, k=10, nprobe=8).collect()
    ]
    assert got == exact


def test_build_rejects_undersized_training_set(spark, tmp_path):
    from vector_db_example_spark.index.ivf import build_ivf_index
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(5)
    with pytest.raises(ValueError, match="nlist"):
        build_ivf_index(emb, path=str(tmp_path / "x"), nlist=16)


def test_ivf_sq8_exact_identity_and_column_pruning(spark, tmp_path):
    """IVF_SQ8 with nprobe=nlist and a generous overfetch must reproduce
    the exact top-k, and its approximate stage must scan ONLY the code
    column (the float vectors stay unread until the rerank) — partition
    pruning cuts rows, column pruning cuts bytes."""
    from vector_db_example_spark.index.sq8 import (
        build_ivf_sq8_index,
        ivf_sq8_search,
    )
    from vector_db_example_spark.operators.knn import knn_exact
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index, mins, scales = build_ivf_sq8_index(
        emb, path=str(tmp_path / "ivfsq8"), nlist=8
    )
    q = emb.filter(F.col("vec_id") == 11).head().embedding

    hits = ivf_sq8_search(
        spark, index, mins, scales, q, k=10, nprobe=8, overfetch=5
    )
    got = [(r.vec_id, round(r.distance, 9)) for r in hits.collect()]
    exact = [
        (r.vec_id, round(r.distance, 9))
        for r in knn_exact(emb, q, k=10, score_threshold=None).collect()
    ]
    assert got == exact

    plan = hits._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    code_scans = [ln for ln in scans if "sq8_codes" in ln and "embedding" not in ln]
    assert code_scans, f"approx stage must not read float vectors: {scans}"
    assert all("PartitionFilters" in ln and "cell_id" in ln for ln in scans)


def test_pq_overfetch_all_is_exact(spark):
    """PQ with overfetch covering the whole corpus must reproduce the
    exact top-k: the ADC stage then only orders candidates, and the
    rerank is a plain exact knn — the PQ analog of nprobe=nlist."""
    from vector_db_example_spark.index.pq import pq_search
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    q = _qvec(spark, 11)
    got = [
        (r.vec_id, round(r.distance, 9))
        for r in pq_search(emb, q, k=10, overfetch=n).collect()
    ]
    exact = [
        (r.vec_id, round(r.distance, 9))
        for r in _exact_topk(spark, q, k=10).collect()
    ]
    assert got == exact


def test_pq_codes_shape_and_reconstruction_bound(spark):
    """Codes are m small ints in [0, ksub); the reconstruction error is
    bounded by the distance to the nearest sampled codeword per subspace
    (sanity: on unit vectors the patchwork must be non-degenerate)."""
    from vector_db_example_spark.index.pq import (
        pq_codes,
        pq_reconstruct,
        train_pq_codebook,
    )
    from vector_db_example_spark.functions.vector import l2_distance
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cb = train_pq_codebook(emb)
    assert len(cb) == 32 and len(cb[0]) == 64
    coded = emb.select(
        "vec_id",
        "embedding",
        pq_codes(F.col("embedding"), cb).alias("codes"),
    )
    stats = coded.select(
        F.min(F.array_min("codes")).alias("lo"),
        F.max(F.array_max("codes")).alias("hi"),
        F.min(F.size("codes")).alias("m"),
        F.max(
            l2_distance(pq_reconstruct(F.col("codes"), cb), F.col("embedding"))
        ).alias("max_err"),
    ).head()
    assert stats.lo >= 0 and stats.hi <= 31 and stats.m == 8
    # unit vectors: worst-case patchwork error is far below the 2.0
    # diameter; a broken argmin would push this toward sqrt(2)+
    assert stats.max_err < 1.5


def test_pq_recall_beats_random(spark):
    """ADC top-50 candidates must contain most of the exact top-10 on
    average — recall >= 0.6 over a query panel (random 50 of 500 would
    give ~0.1; near-random unit vectors are PQ's worst case, so the
    per-query spread is wide by nature)."""
    from vector_db_example_spark.index.pq import pq_search
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    recalls = []
    for vid in (3, 11, 42, 99, 200):
        q = _qvec(spark, vid)
        got = {r.vec_id for r in pq_search(emb, q, k=10, overfetch=5).collect()}
        exact = {r.vec_id for r in _exact_topk(spark, q, k=10).collect()}
        recalls.append(len(got & exact) / len(exact))
    assert sum(recalls) / len(recalls) >= 0.6, recalls


def test_ivf_pq_exact_identity_and_column_pruning(spark, tmp_path):
    """IVF_PQ with nprobe=nlist and overfetch covering the corpus must
    reproduce the exact top-k, and its ADC stage must scan ONLY the code
    column (the float vectors stay unread until the rerank)."""
    from vector_db_example_spark.index.pq import (
        build_ivf_pq_index,
        ivf_pq_search,
    )
    from vector_db_example_spark.operators.knn import knn_exact
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    index, codebook = build_ivf_pq_index(
        emb, path=str(tmp_path / "ivfpq"), nlist=8
    )
    q = _qvec(spark, 11)

    hits = ivf_pq_search(
        spark, index, codebook, q, k=10, nprobe=8, overfetch=n
    )
    got = [(r.vec_id, round(r.distance, 9)) for r in hits.collect()]
    exact = [
        (r.vec_id, round(r.distance, 9))
        for r in knn_exact(emb, q, k=10, score_threshold=None).collect()
    ]
    assert got == exact

    plan = hits._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    code_scans = [ln for ln in scans if "pq_codes" in ln and "embedding" not in ln]
    assert code_scans, f"ADC stage must not read float vectors: {scans}"
    assert all("PartitionFilters" in ln and "cell_id" in ln for ln in scans)


def test_bq_overfetch_all_is_exact_and_codes_bounded(spark):
    """BQ with overfetch covering the whole corpus must reproduce the
    exact top-k (rerank over everything), and the packed sign codes must
    be 2 words of 32 bits each."""
    from vector_db_example_spark.index.bq import bq_codes, bq_search
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    q = _qvec(spark, 13)
    got = [
        (r.vec_id, round(r.distance, 9))
        for r in bq_search(emb, q, k=10, overfetch=n).collect()
    ]
    exact = [
        (r.vec_id, round(r.distance, 9))
        for r in _exact_topk(spark, q, k=10).collect()
    ]
    assert got == exact

    stats = emb.select(bq_codes(F.col("embedding")).alias("c")).select(
        F.min(F.size("c")).alias("nw"),
        F.max(F.array_max("c")).alias("hi"),
        F.min(F.array_min("c")).alias("lo"),
    ).head()
    assert stats.nw == 2 and stats.lo >= 0 and stats.hi < (1 << 32)

    # A generator query vector must behave like a list (the function
    # materializes it once; a naive triple-iteration would silently see
    # an empty vector on passes 2 and 3).
    got_gen = [
        (r.vec_id, round(r.distance, 9))
        for r in bq_search(emb, (x for x in q), k=10, overfetch=n).collect()
    ]
    assert got_gen == exact


def test_knn_pages_partition_the_topk(spark):
    """Pages 1 and 2 together must equal the exact top-20, in order,
    with no overlap — the search_iterator contract."""
    from vector_db_example_spark.operators.knn import knn_page

    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    q = _qvec(spark, 9)
    p1 = [(r.vec_id, round(r.distance, 9)) for r in knn_page(emb, q, k=10, offset=0).collect()]
    p2 = [(r.vec_id, round(r.distance, 9)) for r in knn_page(emb, q, k=10, offset=10).collect()]
    top20 = [
        (r.vec_id, round(r.distance, 9))
        for r in _exact_topk(spark, q, k=20).collect()
    ]
    assert p1 + p2 == top20


def test_pq_lloyd_refinement_reduces_quantization_error(spark):
    """Lloyd's objective (total squared reconstruction error) is
    non-increasing per iteration on ANY data — refine_pq_codebook must
    not be worse than the sampled init, and must actually move the
    codewords off the corpus rows."""
    from vector_db_example_spark.index.pq import (
        pq_codes,
        pq_reconstruct,
        refine_pq_codebook,
        train_pq_codebook,
    )
    from vector_db_example_spark.functions.vector import l2_distance_sq
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")

    def sse(cb):
        coded = emb.select(
            "embedding", pq_codes(F.col("embedding"), cb).alias("codes")
        )
        return coded.select(
            F.sum(
                l2_distance_sq(
                    pq_reconstruct(F.col("codes"), cb), F.col("embedding")
                )
            ).alias("s")
        ).head().s

    cb0 = train_pq_codebook(emb)
    cb1 = refine_pq_codebook(emb, cb0, iters=2)
    e0, e1 = sse(cb0), sse(cb1)
    assert e1 <= e0 * 1.0000001, (e0, e1)
    assert cb1 != cb0
    # a real improvement, not a no-op: random-unit-vector corpora still
    # shed a few percent of SSE in two Lloyd steps
    assert e1 < e0 * 0.995, (e0, e1)


@pytest.mark.slow
def test_reference_shape_nlist128_dim384(spark, tmp_path):
    """Perf smoke at the reference's REAL index config (Milvus IVF_FLAT
    nlist=128, dim=384, nprobe=20 — /root/reference/src/app.py:105-111,
    253): a 10k x 384 synthetic corpus builds in one BLAS-assignment pass
    (the literal-matrix encoding at this shape was pathological — this
    pins the pandas_udf path), the nprobe=20 search prunes partitions,
    and nprobe=nlist reproduces the exact top-k. Budget: the whole test
    must stay well under a minute locally."""
    import time

    import numpy as np
    import pandas as pd

    from vector_db_example_spark.index.ivf import build_ivf_index, ivf_search
    from vector_db_example_spark.operators.knn import knn_exact

    DIM, N = 384, 10_000

    X = np.random.RandomState(7).randn(N, DIM).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": np.arange(N, dtype=np.int64), "embedding": list(X)}
    )
    corpus = (
        spark.createDataFrame(pdf)
        .select("vec_id", F.col("embedding").cast("array<float>"))
        .repartition(8)
        .localCheckpoint(eager=True)
    )

    t0 = time.perf_counter()
    index = build_ivf_index(
        corpus,
        path=str(tmp_path / "ivf384"),
        nlist=128,
        train_sample=5_120,
    )
    build_s = time.perf_counter() - t0
    assert index.centroids.shape == (128, DIM)

    qv = [float(x) for x in corpus.filter(F.col("vec_id") == 42).head().embedding]

    t0 = time.perf_counter()
    hits = ivf_search(spark, index, qv, k=10, nprobe=20)
    rows = hits.collect()
    search_s = time.perf_counter() - t0
    assert len(rows) == 10 and rows[0].vec_id == 42 and rows[0].distance == 0.0

    plan = hits._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert scans and "cell_id" in scans[0]

    # nprobe=nlist identity holds at the production shape too
    exact = [
        (r.vec_id, round(r.distance, 6))
        for r in knn_exact(corpus, qv, k=10, score_threshold=None).collect()
    ]
    full = [
        (r.vec_id, round(r.distance, 6))
        for r in ivf_search(spark, index, qv, k=10, nprobe=128).collect()
    ]
    assert full == exact

    # generous ceilings — this is a does-it-degenerate check, not a bench
    assert build_s < 45, f"build took {build_s:.1f}s at nlist=128/dim=384"
    assert search_s < 15, f"search took {search_s:.1f}s at nprobe=20"


def test_split_hot_cells_repairs_skew(spark, tmp_path):
    """A layout with one swamped cell (a hot template cluster) is
    repaired by splitting ONLY that cell: max partition size drops, cold
    partitions' files are untouched, every row survives exactly once,
    and the nprobe=nlist identity still reproduces the exact top-k
    (retired centroids are unreachable, sub-cells carry their rows)."""
    import os

    import numpy as np
    import pandas as pd

    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        ivf_search,
        split_hot_cells,
    )
    from vector_db_example_spark.operators.knn import knn_exact

    rng = np.random.RandomState(3)
    # 4 natural clusters of 50 + one hot cluster of 600 packed tight
    cold = [rng.randn(64) + 8.0 * np.eye(64)[i % 4] * 5 for i in range(200)]
    hot = [np.full(64, -6.0) + 0.1 * rng.randn(64) for _ in range(600)]
    X = [v.astype(np.float32) for v in cold + hot]
    pdf = pd.DataFrame(
        {"vec_id": np.arange(len(X), dtype=np.int64), "embedding": X}
    )
    corpus = spark.createDataFrame(pdf).select(
        "vec_id", F.col("embedding").cast("array<float>")
    )

    index = build_ivf_index(
        corpus, path=str(tmp_path / "skew"), nlist=8, train_sample=800
    )
    sizes0 = {
        int(r["cell_id"]): int(r["n"])
        for r in spark.read.parquet(index.path)
        .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert max(sizes0.values()) > 150  # the hot cluster swamped a cell
    cold_cells = [c for c, n in sizes0.items() if n <= 150]
    cold_files = {
        c: sorted(os.listdir(os.path.join(index.path, f"cell_id={c}")))
        for c in cold_cells
    }

    index2 = split_hot_cells(spark, index, max_cell_rows=150, sub_nlist=4)
    sizes1 = {
        int(r["cell_id"]): int(r["n"])
        for r in spark.read.parquet(index2.path)
        .groupBy("cell_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # every row survives exactly once; skew strictly reduced
    assert sum(sizes1.values()) == len(X)
    assert max(sizes1.values()) < max(sizes0.values())
    out = spark.read.parquet(index2.path)
    assert out.select("vec_id").distinct().count() == len(X)
    # cold partitions untouched on disk (same files, byte-identical names)
    for c in cold_cells:
        assert (
            sorted(os.listdir(os.path.join(index2.path, f"cell_id={c}")))
            == cold_files[c]
        )

    # exactness: nprobe = full (extended) centroid count ≡ brute force
    qv = [float(x) for x in X[777]]
    exact = [
        (r.vec_id, round(r.distance, 6))
        for r in knn_exact(corpus, qv, k=5, score_threshold=None).collect()
    ]
    got = [
        (r.vec_id, round(r.distance, 6))
        for r in ivf_search(
            spark, index2, qv, k=5, nprobe=len(index2.centroids)
        ).collect()
    ]
    assert got == exact
    # and a pruned probe still finds the hot-cluster row itself
    hits = ivf_search(spark, index2, qv, k=1, nprobe=1).collect()
    assert hits[0].vec_id == 777 and hits[0].distance == 0.0


def test_ivf_delete_rewrites_only_affected_cells(spark, tmp_path):
    """Delete-by-id must remove exactly the victims, keep every other
    row, leave unaffected cell partitions' files untouched, and keep
    pruned search correct afterwards."""
    import os

    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        ivf_delete,
        ivf_search,
    )
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = build_ivf_index(emb, path=str(tmp_path / "ivf"), nlist=8)
    total = emb.count()

    victims = [7, 11, 123]
    layout = spark.read.parquet(index.path)
    victim_cells = {
        int(r["cell_id"])
        for r in layout.filter(F.col("vec_id").isin(victims))
        .select("cell_id")
        .distinct()
        .collect()
    }
    untouched_cell = next(
        c
        for c in range(8)
        if c not in victim_cells
        and os.path.isdir(tmp_path / "ivf" / f"cell_id={c}")
    )
    before_files = sorted(os.listdir(tmp_path / "ivf" / f"cell_id={untouched_cell}"))

    n = ivf_delete(spark, index, victims)
    assert n == len(victims)
    after = spark.read.parquet(index.path)
    assert after.count() == total - len(victims)
    assert after.filter(F.col("vec_id").isin(victims)).count() == 0
    assert (
        sorted(os.listdir(tmp_path / "ivf" / f"cell_id={untouched_cell}"))
        == before_files
    )

    # deleted vector no longer findable; its exact twin search still works
    qv = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    hits = ivf_search(spark, index, qv, k=3, nprobe=8).collect()
    assert all(h["vec_id"] != 7 for h in hits)


def test_ivf_delete_large_batch_broadcast_path(spark, tmp_path):
    """A delete batch above _DELETE_ISIN_MAX must take the broadcast
    semi/anti-join path (no giant IN literal in the plan) and still
    yield exact search parity with a brute-force scan of the survivors."""
    from vector_db_example_spark.index.deletes import _DELETE_ISIN_MAX
    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        ivf_delete,
        ivf_search,
    )
    from vector_db_example_spark.operators.knn import knn_exact
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = build_ivf_index(emb, path=str(tmp_path / "ivf"), nlist=8)
    total = emb.count()

    # 10^5 ids: every even id in [0, 2e5) — far above the isin cutoff;
    # most are absent from the corpus, which the path must tolerate
    ids = list(range(0, 200_000, 2))
    assert len(ids) > _DELETE_ISIN_MAX
    expected_victims = emb.filter(
        (F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 200_000)
    ).count()
    assert expected_victims > 0

    n = ivf_delete(spark, index, ids)
    assert n == expected_victims
    after = spark.read.parquet(index.path)
    assert after.count() == total - expected_victims
    assert after.filter(F.col("vec_id") % 2 == 0).count() == 0

    # unchanged search parity: nprobe=nlist over the post-delete layout
    # == brute force over the surviving rows
    qv = emb.filter(F.col("vec_id") == 11).collect()[0]["embedding"]
    survivors = emb.filter(F.col("vec_id") % 2 != 0)
    want = [
        (r.vec_id, round(r.distance, 9))
        for r in knn_exact(survivors, qv, k=10, score_threshold=None).collect()
    ]
    got = [
        (r.vec_id, round(r.distance, 9))
        for r in ivf_search(spark, index, qv, k=10, nprobe=8).collect()
    ]
    assert got == want


def test_ivf_delete_lazy_tombstones(spark, tmp_path):
    """Deletion vectors on the IVF layout: after ivf_delete_lazy the
    victims vanish from searches and bucketed pairs (broadcast anti-join
    at read), re-deletes are no-ops, compaction folds the tombstones in
    for real, and a tombstone-free index keeps its join-free scan plan."""
    from conftest import job_names

    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        compact_ivf_index,
        ivf_delete_lazy,
        ivf_search,
    )
    from vector_db_example_spark.operators.knn import knn_exact
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = build_ivf_index(emb, path=str(tmp_path / "ivf"), nlist=8)

    # no tombstones yet: the search plan must stay join-free
    plan = (
        ivf_search(spark, index, _qvec(spark, 11), k=5, nprobe=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Join" not in plan

    victims = [7, 11, 123]
    assert ivf_delete_lazy(spark, index, victims) == len(victims)
    assert ivf_delete_lazy(spark, index, victims) == 0        # idempotent
    assert ivf_delete_lazy(spark, index, [999999]) == 0       # unknown id

    qv = _qvec(spark, 7)
    survivors = emb.filter(~F.col("vec_id").isin(victims))
    want = [
        (r.vec_id, round(r.distance, 9))
        for r in knn_exact(survivors, qv, k=10, score_threshold=None).collect()
    ]
    rows = []
    # the tombstone table is read with a declared schema: no
    # schema-inference (``parquet at …``) job per search
    names = job_names(
        spark,
        lambda: rows.extend(ivf_search(spark, index, qv, k=10, nprobe=8).collect()),
    )
    assert not [n for n in names if n.startswith("parquet")], names
    got = [(r.vec_id, round(r.distance, 9)) for r in rows]
    assert got == want

    # compaction folds the deletion vectors in: same answers, no
    # tombstone sibling, physical rows gone
    import os

    compacted = compact_ivf_index(spark, index, str(tmp_path / "compact"))
    assert not os.path.isdir(f"{compacted.path}_tombstones")
    layout = spark.read.parquet(compacted.path)
    assert layout.filter(F.col("vec_id").isin(victims)).count() == 0
    got2 = [
        (r.vec_id, round(r.distance, 9))
        for r in ivf_search(spark, compacted, qv, k=10, nprobe=8).collect()
    ]
    assert got2 == want


def test_ivf_batch_search_honors_tombstones(spark, tmp_path):
    """The BATCHED search must honor deletion vectors exactly like the
    single-query path (it previously scanned the raw layout directly,
    so lazily-deleted rows kept appearing in batch results)."""
    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        ivf_delete_lazy,
        ivf_search_batch,
    )
    from vector_db_example_spark.operators.knn import knn_exact
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = build_ivf_index(emb, path=str(tmp_path / "ivfb"), nlist=8)
    qv = _qvec(spark, 7)
    victims = [
        r.vec_id
        for r in ivf_search_batch(spark, index, [(7, qv)], k=3, nprobe=8).collect()
    ]
    ivf_delete_lazy(spark, index, victims)
    survivors = emb.filter(~F.col("vec_id").isin(victims))
    want = [
        (r.vec_id, round(r.distance, 9))
        for r in knn_exact(survivors, qv, k=5, score_threshold=None).collect()
    ]
    got = [
        (r.vec_id, round(r.distance, 9))
        for r in sorted(
            ivf_search_batch(spark, index, [(7, qv)], k=5, nprobe=8).collect(),
            key=lambda r: r.rank,
        )
    ]
    assert got == want


def test_batch_scaffold_dedupes_probe_partitions(spark, tmp_path):
    """A probes_for that names the same partition twice must not score
    (and rank) that partition's rows twice for the query — the shared
    scaffold dedupes probe values per query (advisor finding, round 6).
    Identity: duplicated probes ≡ distinct probes, and no (query_id, id)
    pair appears at two ranks."""
    from vector_db_example_spark.index.batchsearch import batch_topk_over_layout
    from vector_db_example_spark.index.ivf import build_ivf_index, ivf_search_batch
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = build_ivf_index(emb, path=str(tmp_path / "ivfdup"), nlist=4)
    qv = _qvec(spark, 7)
    layout = spark.read.parquet(index.path)

    def make_l2_block(Q):
        import numpy as np

        def block(Xp, qi):
            Qc = Q[qi]
            acc = ((Xp[:, None, :] - Qc[None, :, :]) ** 2).sum(axis=2)
            return np.sqrt(acc)

        return block

    def run(probes_for):
        hits = batch_topk_over_layout(
            lambda cells: layout.filter(F.col("cell_id").isin(cells)),
            partition_col="cell_id",
            id_col="vec_id",
            vector_col="embedding",
            queries=[(7, qv)],
            k=5,
            probes_for=probes_for,
            make_distance_block=make_l2_block,
        )
        return [(r.query_id, r.vec_id, r.rank) for r in hits.collect()]

    clean = run(lambda vec: [0, 1, 2, 3])
    duped = run(lambda vec: [0, 0, 1, 1, 2, 2, 3, 3, 0])
    assert duped == clean
    pairs = [(q, i) for q, i, _ in duped]
    assert len(pairs) == len(set(pairs))


def test_quantized_searches_honor_tombstones(spark, tmp_path):
    """Lazily-deleted rows must not resurface through the quantized
    routes — the same bug class the batched IVF path fixed in round 5
    (index/batchsearch.py): ivf_sq8_search / ivf_pq_search wrap their
    pruned scans in the live view, so both stages (approx + rerank)
    see the same post-delete corpus as the flat path."""
    from vector_db_example_spark.index.ivf import ivf_delete_lazy
    from vector_db_example_spark.index.pq import build_ivf_pq_index, ivf_pq_search
    from vector_db_example_spark.index.sq8 import build_ivf_sq8_index, ivf_sq8_search
    from vector_db_example_spark.operators.knn import knn_exact
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    n = emb.count()
    q = emb.filter(F.col("vec_id") == 11).head().embedding
    live_exact = [
        (r.vec_id, round(r.distance, 9))
        for r in knn_exact(
            emb.filter(F.col("vec_id") != 11), q, k=10, score_threshold=None
        ).collect()
    ]

    sq8_idx, mins, scales = build_ivf_sq8_index(
        emb, path=str(tmp_path / "sq8"), nlist=8
    )
    assert ivf_delete_lazy(spark, sq8_idx, [11]) == 1
    got = [
        (r.vec_id, round(r.distance, 9))
        for r in ivf_sq8_search(
            spark, sq8_idx, mins, scales, q, k=10, nprobe=8, overfetch=5
        ).collect()
    ]
    assert got == live_exact

    pq_idx, codebook = build_ivf_pq_index(emb, path=str(tmp_path / "pq"), nlist=8)
    assert ivf_delete_lazy(spark, pq_idx, [11]) == 1
    got = [
        (r.vec_id, round(r.distance, 9))
        for r in ivf_pq_search(
            spark, pq_idx, codebook, q, k=10, nprobe=8, overfetch=n
        ).collect()
    ]
    assert got == live_exact


def test_declare_empty_then_ingest_search_compact(spark, tmp_path):
    """The reference's create-collection + create-index BEFORE any insert
    (src/app.py: collection schema with dim declared up front): an IVF
    layout declared over an EMPTY corpus (dim= required — there are no
    rows to infer it from) must search to zero rows, accept appends into
    its single zero-centroid cell, search those exactly, and retrain
    real centroids at the first compaction."""
    import numpy as np

    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        compact_ivf_index,
        ivf_append,
        ivf_search,
    )
    from vector_db_example_spark.operators.knn import knn_exact
    from vector_db_example_spark.sources.tables import load_table

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    idx = build_ivf_index(empty, path=str(tmp_path / "declared"), dim=64)
    assert idx.nlist == 1 and not np.any(idx.centroids)

    q = _qvec(spark, 3)
    assert ivf_search(spark, idx, q, k=5, nprobe=1).count() == 0

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(200)
    ivf_append(idx, emb)
    exact = [
        (r.vec_id, round(r.distance, 9))
        for r in knn_exact(emb, q, k=5, score_threshold=None).collect()
    ]
    got = [
        (r.vec_id, round(r.distance, 9))
        for r in ivf_search(spark, idx, q, k=5, nprobe=1).collect()
    ]
    assert got == exact  # one cell holds everything ⇒ search is exact

    compacted = compact_ivf_index(spark, idx, str(tmp_path / "compacted"), nlist=8)
    assert compacted.nlist == 8  # real centroids, not the declaration stub
    got2 = [
        (r.vec_id, round(r.distance, 9))
        for r in ivf_search(spark, compacted, q, k=5, nprobe=8).collect()
    ]
    assert got2 == exact


def test_declare_empty_without_dim_raises(spark, tmp_path):
    from vector_db_example_spark.index.ivf import build_ivf_index

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="dim"):
        build_ivf_index(empty, path=str(tmp_path / "x"))


def test_compact_after_delete_below_nlist(spark, tmp_path):
    """Delete-down-to-few: compacting a layout whose LIVE corpus has
    fewer rows than the old nlist must clamp the retrain (a layout
    cannot have more cells than training vectors), not crash the
    trainer — while a direct undersized build stays a loud error
    (test_build_rejects_undersized_training_set)."""
    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        compact_ivf_index,
        ivf_delete_lazy,
        ivf_search,
    )
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings").limit(40)
    idx = build_ivf_index(emb, path=str(tmp_path / "idx"), nlist=16)
    survivors = [r.vec_id for r in emb.select("vec_id").collect()][:5]
    victims = [r.vec_id for r in emb.select("vec_id").collect()][5:]
    ivf_delete_lazy(spark, idx, victims)

    compacted = compact_ivf_index(spark, idx, str(tmp_path / "c"))
    assert compacted.nlist == 5  # clamped to the surviving row count
    q = _qvec(spark, survivors[0])
    hits = ivf_search(spark, compacted, q, k=5, nprobe=5)
    assert sorted(r.vec_id for r in hits.collect()) == sorted(survivors)


def test_sq8_declare_empty_and_reject_without_dim(spark, tmp_path):
    from vector_db_example_spark.index.sq8 import build_ivf_sq8_index, ivf_sq8_search

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="dim"):
        build_ivf_sq8_index(empty, path=str(tmp_path / "no"))

    idx, mins, scales = build_ivf_sq8_index(
        empty, path=str(tmp_path / "sq8"), dim=64
    )
    assert len(mins) == 64 and len(scales) == 64
    q = _qvec(spark, 3)
    assert ivf_sq8_search(spark, idx, mins, scales, q, k=5).count() == 0


def test_pq_empty_raises_and_explicit_codebook_skips_training(spark, tmp_path):
    from vector_db_example_spark.index.pq import build_ivf_pq_index

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="codebook sample incomplete"):
        build_ivf_pq_index(empty, path=str(tmp_path / "no"))

    # Declare-then-ingest for PQ: a pre-trained codebook (here any
    # deterministic 32×64 matrix) + dim= builds the empty layout without
    # touching the (empty) corpus for training.
    codebook = [[float(k + d) for d in range(64)] for k in range(32)]
    idx, cb = build_ivf_pq_index(
        empty, path=str(tmp_path / "pq"), codebook=codebook, dim=64
    )
    assert cb is codebook
    assert idx.nlist == 1


def _cell_dirs(path) -> set[int]:
    import os

    return {int(n.split("=")[1]) for n in os.listdir(path) if n.startswith("cell_id=")}


def test_search_lists_only_probed_cells_in_one_job(spark, tmp_path):
    """A question lists only the cells it probes. With more cell
    directories than Spark's parallel-discovery threshold (32), reading
    the layout root would run a 1-task-per-cell listing job per
    question; ivf_search runs exactly one job (the pruned scan), and the
    batch search runs no ``parquet`` (listing or schema) job at all."""
    from conftest import job_names

    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        ivf_search,
        ivf_search_batch,
    )
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = build_ivf_index(emb, path=str(tmp_path / "ivf48"), nlist=48)
    assert len(_cell_dirs(tmp_path / "ivf48")) > 32
    q = _qvec(spark, 11)

    # the search is built inside the job group: the layout is listed
    # when the frame is made, not when it is collected
    rows = []
    names = job_names(
        spark,
        lambda: rows.extend(ivf_search(spark, index, q, k=10, nprobe=4).collect()),
    )
    assert len(names) == 1, names
    assert len(rows) == 10

    queries = [(1, q), (2, _qvec(spark, 42))]
    names = job_names(
        spark, lambda: ivf_search_batch(spark, index, queries, k=5, nprobe=4).collect()
    )
    assert names and not [n for n in names if n.startswith("parquet")], names


def test_search_over_emptied_cell_then_append(spark, tmp_path):
    """A probe list that hits a cell ivf_delete emptied (its directory is
    removed) answers over the cells that remain; one that hits only that
    cell returns no rows, with the schema of a normal answer. No listing
    is cached on the handle: an ivf_append that recreates the directory
    is visible to the next search on the same handle."""
    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        ivf_append,
        ivf_delete,
        ivf_search,
        ivf_search_batch,
        nearest_cells,
    )
    from vector_db_example_spark.operators.knn import knn_exact
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = build_ivf_index(emb, path=str(tmp_path / "ivf"), nlist=8)
    layout = spark.read.parquet(index.path)
    cell = layout.filter(F.col("vec_id") == 7).head().cell_id
    victims = [r.vec_id for r in layout.filter(F.col("cell_id") == cell).collect()]
    assert ivf_delete(spark, index, victims) == len(victims)
    assert cell not in _cell_dirs(tmp_path / "ivf")

    q = _qvec(spark, 7)
    got = ivf_search(spark, index, q, k=10, nprobe=8)
    want = knn_exact(
        emb.filter(~F.col("vec_id").isin(victims)), q, k=10, score_threshold=None
    )
    assert [(r.vec_id, round(r.distance, 9)) for r in got.collect()] == [
        (r.vec_id, round(r.distance, 9)) for r in want.collect()
    ]

    centroid = index.centroids[cell].tolist()
    assert nearest_cells(index, centroid, 1) == [cell]
    none = ivf_search(spark, index, centroid, k=10, nprobe=1)
    assert none.collect() == [] and none.schema == got.schema
    batch = ivf_search_batch(spark, index, [(1, centroid)], k=5, nprobe=1)
    assert batch.collect() == []

    ivf_append(index, emb.filter(F.col("vec_id") == 7))
    assert cell in _cell_dirs(tmp_path / "ivf")
    hit = ivf_search(spark, index, q, k=1, nprobe=8).head()
    assert (hit.vec_id, hit.distance) == (7, 0.0)
