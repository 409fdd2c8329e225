"""Layout describe/stats (index/stats.py): every mutable layout's
logical stats must equal a direct recomputation after arbitrary
append/delete sequences, and the physical file count must track append
traffic and collapse under compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_db_example_spark.functions.text import extract_tokens
from vector_db_example_spark.index.stats import layout_file_count, layout_stats

DOC_SCHEMA = "doc_id long, text string"

DOCS = [
    (0, "relational algebra closed operators typed relations"),
    (1, "physical data independence storage layout schema"),
    (2, "physical data independence storage layout schema"),  # exact dup of 1
    (3, "candidate keys identify tuples"),
]


def _stats(spark, layout, **kw):
    return {r["stat"]: r["value"] for r in layout_stats(spark, layout, **kw).collect()}


def test_dedup_layout_stats(spark, tmp_path):
    from vector_db_example_spark.index.dedupidx import (
        build_dedup_index,
        dedup_index_delete,
    )

    docs = spark.createDataFrame(DOCS, DOC_SCHEMA)
    idx = build_dedup_index(docs, str(tmp_path / "idx"))
    s = _stats(spark, idx, candidate_cap=1)
    assert s["docs_live"] == 4.0
    assert s["docs_tombstoned"] == 0.0
    assert s["band_rows_live"] == 32.0  # 8 bands x 4 docs
    # docs 1 and 2 share all 8 keys; the other two docs contribute 8 each
    assert s["distinct_band_keys"] == 24.0
    assert s["max_band_key_docs"] == 2.0
    assert s["band_keys_over_cap"] == 8.0  # the shared keys, cap=1

    assert dedup_index_delete(spark, idx, [2]) == 1
    s = _stats(spark, idx, candidate_cap=1)
    assert s["docs_live"] == 3.0
    assert s["docs_tombstoned"] == 1.0
    assert s["band_rows_live"] == 24.0
    assert s["distinct_band_keys"] == 24.0
    assert s["max_band_key_docs"] == 1.0
    assert s["band_keys_over_cap"] == 0.0  # delete cleared the hot keys


def test_inverted_layout_stats(spark, tmp_path):
    from vector_db_example_spark.index.inverted import (
        append_to_inverted_index,
        build_inverted_index,
        delete_from_inverted_index,
    )

    base = spark.createDataFrame(DOCS[:2], DOC_SCHEMA)
    extra = spark.createDataFrame(DOCS[3:], DOC_SCHEMA)
    idx = build_inverted_index(base, str(tmp_path / "idx"))
    append_to_inverted_index(idx, extra)
    delete_from_inverted_index(idx, [1])

    live = spark.createDataFrame([DOCS[0], DOCS[3]], DOC_SCHEMA)
    tok = live.select("doc_id", F.explode(extract_tokens(F.col("text"))).alias("t"))
    n_tokens = tok.count()
    n_postings = tok.distinct().count()
    n_terms = tok.select("t").distinct().count()

    s = _stats(spark, idx)
    assert s["docs_live"] == 2.0
    assert s["docs_tombstoned"] == 1.0
    assert s["postings_live"] == float(n_postings)
    assert s["distinct_terms"] == float(n_terms)
    assert s["max_term_df"] == 1.0  # disjoint vocabularies between live docs
    assert s["total_tokens"] == float(n_tokens)
    assert s["avg_doclen"] == round(n_tokens / 2, 6)


def test_ivf_layout_stats(spark, tmp_path):
    from vector_db_example_spark.index.ivf import build_ivf_index, ivf_delete_lazy

    rows = [(i, [float(i % 2) * 10, float(i)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = build_ivf_index(df, str(tmp_path / "idx"), nlist=2, train_sample=100)
    assert ivf_delete_lazy(spark, idx, [0, 2]) == 2
    s = _stats(spark, idx)
    assert s["rows_live"] == 6.0
    assert s["cells_declared"] == 2.0
    assert s["cells_nonempty"] == 2.0
    assert s["max_cell_rows"] + (6.0 - s["max_cell_rows"]) == 6.0
    assert s["docs_tombstoned"] == 2.0


def test_lsh_layout_stats(spark, tmp_path):
    from vector_db_example_spark.index.lsh import build_lsh_layout

    rows = [(i, [float(i), float(8 - i)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = build_lsh_layout(df, str(tmp_path / "idx"), dim=2, n_planes=4)
    s = _stats(spark, idx)
    assert s["rows_live"] == 8.0
    assert s["buckets_declared"] == 16.0
    assert 1.0 <= s["buckets_nonempty"] <= 8.0
    assert s["max_bucket_rows"] >= 1.0


def test_positional_layout_stats(spark, tmp_path):
    """Positional layouts share the InvertedIndex class; the stats path
    must count their (term, doc) postings identically."""
    from vector_db_example_spark.index.inverted import build_positional_index

    docs = spark.createDataFrame(DOCS[:2], DOC_SCHEMA)
    idx = build_positional_index(docs, str(tmp_path / "idx"))
    s = _stats(spark, idx)
    tok = docs.select("doc_id", F.explode(extract_tokens(F.col("text"))).alias("t"))
    assert s["docs_live"] == 2.0
    assert s["postings_live"] == float(tok.distinct().count())
    assert s["total_tokens"] == float(tok.count())


def test_declared_empty_layout_stats(spark, tmp_path):
    """A declared-empty dedup layout (first-crawl bootstrap) reports
    well-typed zeros, not a schema error."""
    from vector_db_example_spark.index.dedupidx import build_dedup_index

    idx = build_dedup_index(
        spark.createDataFrame([], DOC_SCHEMA), str(tmp_path / "idx")
    )
    s = _stats(spark, idx)
    assert s == {
        "docs_live": 0.0,
        "docs_tombstoned": 0.0,
        "band_rows_live": 0.0,
        "distinct_band_keys": 0.0,
        "max_band_key_docs": 0.0,
        "band_keys_over_cap": 0.0,
    }


def test_file_count_tracks_appends_and_compaction(spark, tmp_path):
    from vector_db_example_spark.index.dedupidx import (
        build_dedup_index,
        dedup_index_append,
        dedup_index_compact,
    )

    docs = spark.createDataFrame(DOCS, DOC_SCHEMA)
    idx = build_dedup_index(docs, str(tmp_path / "idx"))
    base_files = layout_file_count(idx.path, spark)
    assert base_files > 0
    for n in range(3):
        dedup_index_append(
            idx,
            spark.createDataFrame(
                [(100 + n, f"append generation number {n} tokens")], DOC_SCHEMA
            ),
        )
    grown = layout_file_count(idx.path, spark)
    assert grown > base_files
    out = dedup_index_compact(spark, idx, str(tmp_path / "idx2"))
    assert layout_file_count(out.path, spark) < grown
    assert layout_file_count(str(tmp_path / "nonexistent"), spark) == 0


def test_dispatch_rejects_unknown_layouts(spark):
    with pytest.raises(TypeError):
        layout_stats(spark, object())


def test_total_file_count_includes_dedup_siblings(spark, tmp_path):
    """The dedup layout's every append also grows the _sigs sibling —
    by exactly one file, however the appended ids spread —
    layout_total_file_count must see that debt while the root-only
    layout_file_count by contract does not (advisor finding, round 9)."""
    import glob

    from vector_db_example_spark.index.dedupidx import (
        build_dedup_index,
        dedup_index_append,
        dedup_index_delete,
    )
    from vector_db_example_spark.index.stats import layout_total_file_count

    docs = spark.createDataFrame(DOCS, DOC_SCHEMA)
    idx = build_dedup_index(docs, str(tmp_path / "idx"))
    base_total = layout_total_file_count(idx, spark)
    assert base_total > layout_file_count(idx.path, spark)

    def sig_files():
        return len(glob.glob(f"{idx.sigs_path}/**/*.parquet", recursive=True))

    base_sig_files = sig_files()
    # ids 100..107 fall in 8 distinct residues mod 64; read back from a
    # file, as a crawl batch is, so the append's size gate has an estimate
    spark.createDataFrame(
        [(100 + i, f"sibling growth probe tokens {i}") for i in range(8)], DOC_SCHEMA
    ).write.parquet(str(tmp_path / "batch"))
    dedup_index_append(idx, spark.read.parquet(str(tmp_path / "batch")))
    assert sig_files() == base_sig_files + 1
    grown_total = layout_total_file_count(idx, spark)
    assert grown_total > base_total
    dedup_index_delete(spark, idx, [100])
    assert layout_total_file_count(idx, spark) > grown_total


def test_total_file_count_rejects_unknown_layouts(spark):
    """layout_total_file_count shares layout_stats' TypeError contract:
    a future layout with sibling side-tables must not silently
    under-report its compaction debt as a root-only count (advisor
    finding, round 10)."""
    from vector_db_example_spark.index.stats import layout_total_file_count

    class NotALayout:
        path = "/tmp/nowhere"

    with pytest.raises(TypeError):
        layout_total_file_count(NotALayout(), spark)


CODEC = "spark.sql.parquet.compression.codec"
CODEC_BASE = [
    (0, "relational algebra defines closed operators over typed relations"),
    (1, "physical data independence separates storage layout from schema"),
    (2, "a candidate key uniquely identifies every tuple in a relation"),
    (3, "write ahead logging makes committed transactions durable"),
    (4, "snapshot isolation reads a consistent version without locking"),
]
CODEC_APPEND = [
    (5, "bloom filters answer set membership with one sided error"),
    (6, "cost based optimizers enumerate join orders with dynamic programming"),
]
CODEC_BATCH = [
    (10, CODEC_BASE[1][1]),  # copy of a built doc
    (11, CODEC_APPEND[1][1]),  # copy of an appended doc
    (12, "cost based optimizers enumerate join orders with greedy programming"),
    (13, "log structured merge trees batch random writes into runs"),
]


def _codec_layouts(spark, root, build_codec=None):
    """IVF, inverted and dedup layouts over ``CODEC_BASE`` (built under
    ``build_codec`` when given), then ``CODEC_APPEND`` appended under the
    session default."""
    from vector_db_example_spark.functions.embedding import hashing_embedder
    from vector_db_example_spark.index.dedupidx import (
        build_dedup_index,
        dedup_index_append,
    )
    from vector_db_example_spark.index.inverted import (
        append_to_inverted_index,
        build_inverted_index,
    )
    from vector_db_example_spark.index.ivf import build_ivf_index, ivf_append

    def embedded(df):
        return df.withColumn("embedding", hashing_embedder(64)(F.col("text")))

    base = spark.createDataFrame(CODEC_BASE, DOC_SCHEMA)
    default = spark.conf.get(CODEC)
    if build_codec:
        spark.conf.set(CODEC, build_codec)
    try:
        ivf = build_ivf_index(
            embedded(base), f"{root}/ivf", nlist=2, id_col="doc_id", train_sample=100
        )
        inv = build_inverted_index(base, f"{root}/inv", n_buckets=4)
        dedup = build_dedup_index(base, f"{root}/dedup")
    finally:
        spark.conf.set(CODEC, default)
    extra = spark.createDataFrame(CODEC_APPEND, DOC_SCHEMA)
    ivf_append(ivf, embedded(extra))
    append_to_inverted_index(inv, extra)
    dedup_index_append(dedup, extra)
    return ivf, inv, dedup


def _codec_answers(spark, ivf, inv, dedup):
    """Exhaustive IVF search (ids and distances: a compaction refits the
    cells), BM25 ids and scores, and the dedup verdicts at thresholds 0
    and 0.5 of ``CODEC_BATCH``."""
    from vector_db_example_spark.functions.embedding import hash_embed_one
    from vector_db_example_spark.index.dedupidx import dedup_index_filter
    from vector_db_example_spark.index.inverted import bm25_search_inverted
    from vector_db_example_spark.index.ivf import ivf_search

    q = hash_embed_one("join orders and committed transactions", 64)
    batch = spark.createDataFrame(CODEC_BATCH, DOC_SCHEMA)
    return (
        [
            tuple(r)
            for r in ivf_search(spark, ivf, q, k=5, nprobe=2)
            .select("doc_id", "distance")
            .collect()
        ],
        [
            tuple(r)
            for r in bm25_search_inverted(
                spark, inv, ["join", "transactions", "storage"], k=5
            ).collect()
        ],
        [
            sorted(
                map(tuple, dedup_index_filter(spark, dedup, batch, threshold=t)[0].collect())
            )
            for t in (0.0, 0.5)
        ],
    )


def test_mixed_codec_layouts_answer_like_zstd_ones(spark, tmp_path):
    """Parquet records the codec per column chunk, so a layout built
    under snappy keeps working when zstd appends land in it: it answers
    exactly like the same corpus built and appended under zstd, and its
    compaction rewrites every file as zstd with unchanged answers."""
    from conftest import parquet_codecs

    from vector_db_example_spark.index.dedupidx import dedup_index_compact
    from vector_db_example_spark.index.inverted import compact_inverted_index
    from vector_db_example_spark.index.ivf import compact_ivf_index

    mixed = _codec_layouts(spark, tmp_path / "mixed", build_codec="snappy")
    chunks = set().union(*parquet_codecs(tmp_path / "mixed").values())
    assert chunks == {"SNAPPY", "ZSTD"}
    want = _codec_answers(spark, *_codec_layouts(spark, tmp_path / "zstd"))
    assert set().union(*parquet_codecs(tmp_path / "zstd").values()) == {"ZSTD"}
    assert want[0] and want[1] and any(v[1] for v in want[2][0])
    assert _codec_answers(spark, *mixed) == want

    ivf, inv, dedup = mixed
    out = tmp_path / "compacted"
    compacted = (
        compact_ivf_index(spark, ivf, f"{out}/ivf"),
        compact_inverted_index(spark, inv, f"{out}/inv"),
        dedup_index_compact(spark, dedup, f"{out}/dedup"),
    )
    codecs = parquet_codecs(out)
    assert codecs and set().union(*codecs.values()) == {"ZSTD"}
    assert _codec_answers(spark, *compacted) == want
