"""Random-hyperplane LSH ANN: bucket semantics, scan fraction, recall
vs the exact cosine baseline (the approximate-op testing discipline from
SURVEY.md §5.2 — same as the IVF recall harness)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from vector_db_example_spark.index.lsh import (
    bucket_expr,
    bucket_of,
    hyperplanes,
    lsh_ann_search,
    probe_buckets,
)
from vector_db_example_spark.operators.knn import knn_exact
from vector_db_example_spark.sources.tables import load_table

N_PLANES = 8
PLANES = hyperplanes(64, n_planes=N_PLANES, seed=42)


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings").cache()


def test_bucket_expr_matches_numpy(emb):
    rows = (
        emb.withColumn("bucket", bucket_expr(F.col("embedding"), PLANES))
        .select("vec_id", "embedding", "bucket")
        .limit(50)
        .collect()
    )
    for r in rows:
        assert r["bucket"] == bucket_of(r["embedding"], PLANES)
        assert 0 <= r["bucket"] < 2**N_PLANES


def test_probe_buckets_hamming_ball():
    probes = probe_buckets(0b1010, N_PLANES, probe_radius=2)
    assert len(probes) == 1 + 8 + 28  # C(8,0)+C(8,1)+C(8,2)
    assert len(set(probes)) == len(probes)
    for p in probes:
        assert bin(p ^ 0b1010).count("1") <= 2


def test_lsh_recall_vs_exact(spark, emb):
    """Recall@10 over several queries. Random 64-dim data is LSH-hostile
    (top-k neighbors of random points are only weakly similar), so the
    contract is: a solid floor at the production radius (3 → ~36% of
    buckets scanned, measured avg recall 0.68) AND strict improvement
    over the cheapest radius — the knob actually buys recall."""

    def avg_recall(radius: int) -> float:
        recalls = []
        for qid in (3, 7, 11, 23, 42):
            qv = emb.filter(F.col("vec_id") == qid).collect()[0]["embedding"]
            exact = {
                r["vec_id"]
                for r in knn_exact(
                    emb, qv, k=10, metric="cosine", score_threshold=None
                ).collect()
            }
            got = {
                r["vec_id"]
                for r in lsh_ann_search(
                    emb, qv, PLANES, k=10, probe_radius=radius
                ).collect()
            }
            recalls.append(len(exact & got) / len(exact))
        return sum(recalls) / len(recalls)

    r1, r3 = avg_recall(1), avg_recall(3)
    assert r3 >= 0.55, f"recall@10 at radius 3 too low: {r3}"
    assert r3 > r1, f"multiprobe radius must buy recall: r1={r1} r3={r3}"


def test_lsh_full_probe_is_exact(spark, emb):
    """probe_radius = n_planes covers every bucket ⇒ identical to exact
    cosine top-k (the LSH analog of the IVF nprobe=nlist identity)."""
    qv = emb.filter(F.col("vec_id") == 11).collect()[0]["embedding"]
    exact = [
        r["vec_id"]
        for r in knn_exact(
            emb, qv, k=10, metric="cosine", score_threshold=None
        ).collect()
    ]
    got = [
        r["vec_id"]
        for r in lsh_ann_search(
            emb, qv, PLANES, k=10, probe_radius=N_PLANES
        ).collect()
    ]
    assert got == exact


def test_lsh_layout_matches_expression_path(spark, emb, tmp_path):
    """The bucket-partitioned layout must return exactly what the
    layout-free expression path returns (same planes, same probes, same
    rerank) — the layout changes IO shape, never semantics. Also pins
    the Arrow-batched bucket assigner to the expression bucketing."""
    from vector_db_example_spark.index.lsh import (
        LSHIndex,
        build_lsh_layout,
        bucket_assigner,
        lsh_layout_search,
    )

    index = build_lsh_layout(
        emb, path=str(tmp_path / "lsh"), dim=64, n_planes=N_PLANES, seed=42
    )
    qv = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    for radius in (1, 3, N_PLANES):
        got = [
            (r.vec_id, round(r.distance, 9))
            for r in lsh_layout_search(
                spark, index, qv, k=10, probe_radius=radius
            ).collect()
        ]
        ref = [
            (r.vec_id, round(r.distance, 9))
            for r in lsh_ann_search(
                emb, qv, PLANES, k=10, probe_radius=radius
            ).collect()
        ]
        assert got == ref, f"radius={radius}"

    # assigner (BLAS batch) == expression bucketing, row for row
    both = (
        emb.withColumn("b_expr", bucket_expr(F.col("embedding"), PLANES))
        .withColumn("b_udf", bucket_assigner(PLANES)(F.col("embedding")))
        .filter(F.col("b_expr") != F.col("b_udf"))
        .count()
    )
    assert both == 0

    # meta roundtrip: a fresh process reloads the same planes
    loaded = LSHIndex.load(str(tmp_path / "lsh"))
    assert np.array_equal(loaded.planes, index.planes)
    assert loaded.vector_col == "embedding" and loaded.id_col == "vec_id"


def test_lsh_scan_fraction(emb):
    """The pruned candidate set must actually be a small fraction of the
    corpus (the point of the index)."""
    qv = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    probes = probe_buckets(bucket_of(qv, PLANES), N_PLANES, probe_radius=2)
    n_scanned = (
        emb.withColumn("bucket", bucket_expr(F.col("embedding"), PLANES))
        .filter(F.col("bucket").isin(probes))
        .count()
    )
    total = emb.count()
    assert n_scanned < 0.45 * total, f"scanned {n_scanned}/{total}"


def test_lsh_append_immediately_searchable(spark, emb, tmp_path):
    """Rows appended to the layout (fixed planes, no refit) are found by
    the next pruned search at distance 0 — the post-insert visibility
    contract, and the layout twin of the IVF append test."""
    from vector_db_example_spark.index.lsh import (
        build_lsh_layout,
        lsh_append,
        lsh_layout_search,
    )

    half = emb.filter(F.col("vec_id") < 250)
    rest = emb.filter(F.col("vec_id") >= 250)
    index = build_lsh_layout(
        half, path=str(tmp_path / "lsh"), dim=64, n_planes=N_PLANES, seed=42
    )
    n0 = spark.read.parquet(index.path).count()
    lsh_append(index, rest)
    assert spark.read.parquet(index.path).count() == n0 + rest.count()

    qv = emb.filter(F.col("vec_id") == 400).collect()[0]["embedding"]
    hits = lsh_layout_search(spark, index, qv, k=1, probe_radius=0).collect()
    assert hits[0]["vec_id"] == 400 and round(hits[0]["distance"], 9) == 0.0


def test_lsh_delete_rewrites_only_affected_buckets(spark, tmp_path):
    """Delete-by-id on the LSH layout: victims gone from full-radius
    (exact) search, every other row kept, unaffected bucket partitions'
    files untouched."""
    _check_lsh_delete(spark, tmp_path)


def test_lsh_delete_broadcast_ids_route(spark, tmp_path, monkeypatch):
    """The same delete with the ids cut-off at 0, so victims and
    survivors resolve through the broadcast ids joins."""
    from vector_db_example_spark.index import deletes

    monkeypatch.setattr(deletes, "_DELETE_ISIN_MAX", 0)
    _check_lsh_delete(spark, tmp_path)


def _check_lsh_delete(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from vector_db_example_spark.index.lsh import (
        build_lsh_layout,
        lsh_delete,
        lsh_layout_search,
    )
    from vector_db_example_spark.sources.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    index = build_lsh_layout(
        emb, path=str(tmp_path / "lsh"), dim=64, n_planes=6
    )
    total = emb.count()

    victims = [7, 42, 123]
    layout = spark.read.parquet(index.path)
    victim_buckets = {
        int(r["bucket"])
        for r in layout.filter(F.col("vec_id").isin(victims))
        .select("bucket")
        .distinct()
        .collect()
    }
    untouched = next(
        b
        for b in range(2**6)
        if b not in victim_buckets
        and os.path.isdir(tmp_path / "lsh" / f"bucket={b}")
    )
    before_files = sorted(os.listdir(tmp_path / "lsh" / f"bucket={untouched}"))

    n = lsh_delete(spark, index, victims)
    assert n == len(victims)
    assert lsh_delete(spark, index, [999999]) == 0
    after = spark.read.parquet(index.path)
    assert after.count() == total - len(victims)
    assert after.filter(F.col("vec_id").isin(victims)).count() == 0
    assert (
        sorted(os.listdir(tmp_path / "lsh" / f"bucket={untouched}"))
        == before_files
    )

    # full-radius search (== exact cosine) no longer returns a victim
    qv = emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]
    hits = lsh_layout_search(
        spark, index, qv, k=5, probe_radius=index.n_planes
    ).collect()
    assert all(h["vec_id"] != 7 for h in hits)


def test_lsh_batch_matches_sequential_and_keeps_recall(spark, emb, tmp_path):
    """The batched layout search must return exactly what N sequential
    layout searches return at the SAME radius (amortization changes IO
    shape, never semantics) — at a pruned radius AND at the full radius;
    and empty/duplicate query batches behave like ivf_search_batch."""
    from vector_db_example_spark.index.lsh import (
        build_lsh_layout,
        lsh_layout_search,
        lsh_layout_search_batch,
    )

    index = build_lsh_layout(
        emb, path=str(tmp_path / "lshb"), dim=64, n_planes=N_PLANES, seed=42
    )
    qids = (3, 11, 42)
    vecs = {
        r.vec_id: r.embedding
        for r in emb.filter(F.col("vec_id").isin(*qids)).collect()
    }
    for radius in (2, N_PLANES):
        batch = lsh_layout_search_batch(
            spark, index, [(q, vecs[q]) for q in qids], k=5, probe_radius=radius
        ).collect()
        got = {
            q: [(r.vec_id, round(r.distance, 9)) for r in sorted(
                (x for x in batch if x.query_id == q), key=lambda x: x.rank)]
            for q in qids
        }
        for q in qids:
            ref = [
                (r.vec_id, round(r.distance, 9))
                for r in lsh_layout_search(
                    spark, index, vecs[q], k=5, probe_radius=radius
                ).collect()
            ]
            assert got[q] == ref, f"qid={q} radius={radius}"

    assert lsh_layout_search_batch(spark, index, [], k=5).count() == 0
    with pytest.raises(ValueError, match="duplicate query ids"):
        lsh_layout_search_batch(
            spark, index, [(3, vecs[3]), (3, vecs[11])], k=5
        )

    # zero-norm QUERY: driver-side refusal before any scan (cosine is
    # undefined; the sequential expression path raises ANSI
    # divide-by-zero, so the batch must not silently rank NaN)
    with pytest.raises(ValueError, match="zero-norm query"):
        lsh_layout_search_batch(spark, index, [(1, [0.0] * 64)], k=5)

    # zero-norm CORPUS vector: the kernel raises at action time (the
    # sequential path fails on the same input — ANSI divide-by-zero in
    # the cosine expression — so failing loudly IS batch/sequential
    # parity; silently excluding a NaN row would not be)
    from vector_db_example_spark.index.lsh import lsh_append

    fields = [f.name for f in emb.schema.fields]
    vals = {"vec_id": 999999, "label": 0, "embedding": [0.0] * 64}
    zero = spark.createDataFrame([tuple(vals[f] for f in fields)], emb.schema)
    lsh_append(index, zero)
    with pytest.raises(Exception, match="zero-norm corpus"):
        lsh_layout_search_batch(
            spark, index, [(1, vecs[3])], k=5, probe_radius=N_PLANES
        ).collect()

