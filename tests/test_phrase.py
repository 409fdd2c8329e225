"""Positional-index phrase search: the driver oracle pins one 2-term
phrase (text_phrase_search); here the operator is checked against a
brute-force sliding-window count for harder shapes — repeated terms
(one term filling two phrase slots), 3-term phrases, single-term
degenerate, and no-match phrases."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from vector_db_example_spark.functions.text import extract_tokens
from vector_db_example_spark.index.inverted import (
    build_positional_index,
    phrase_search_positional,
)
from vector_db_example_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def positional(spark, tmp_path_factory):
    docs = load_table(spark, SF_SMOKE, "documents")
    path = str(tmp_path_factory.mktemp("pos") / "idx")
    return build_positional_index(docs, path, n_buckets=16)


def _brute_counts(spark, phrase):
    """Sliding-window occurrence count straight off the token arrays."""
    docs = load_table(spark, SF_SMOKE, "documents")
    n = len(phrase)
    toks = F.col("__toks")
    tokenized = docs.select(
        "doc_id", extract_tokens(F.col("text")).alias("__toks")
    )
    starts = F.filter(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        lambda i: F.aggregate(
            F.sequence(F.lit(0), F.lit(n - 1)),
            F.lit(True),
            lambda acc, j: acc
            & (
                F.element_at(toks, (i + j).cast("int"))
                == F.element_at(F.array(*[F.lit(t) for t in phrase]), (j + 1).cast("int"))
            ),
        ),
    )
    return {
        r["doc_id"]: r["n"]
        for r in tokenized.select(
            "doc_id", F.size(starts).alias("n")
        ).collect()
        if r["n"] > 0
    }


@pytest.mark.parametrize(
    "phrase",
    [
        ("table", "hash"),
        ("table", "table"),          # repeated term: one posting list, two slots
        ("value", "table", "part"),  # 3-term
        ("vector",),                 # degenerate single term == tf ranking
        ("zzzznotaword", "table"),   # no match: empty result
    ],
)
def test_phrase_matches_brute_force(spark, positional, phrase):
    want = _brute_counts(spark, phrase)
    got_rows = phrase_search_positional(
        spark, positional, phrase, k=10_000
    ).collect()
    got = {r["doc_id"]: r["phrase_matches"] for r in got_rows}
    assert got == want, f"phrase {phrase}: {len(got)} vs {len(want)} docs"


def test_phrase_empty_raises(spark, positional):
    with pytest.raises(ValueError):
        phrase_search_positional(spark, positional, [], k=10)


def test_positional_append_equals_full_build(spark, tmp_path):
    """70% build + 30% append must answer phrase queries identically to
    a full build (positions are per-doc, so appends can't go stale)."""
    from vector_db_example_spark.index.inverted import (
        append_to_positional_index,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    part1 = docs.filter(F.col("doc_id") % 10 < 7)
    part2 = docs.filter(F.col("doc_id") % 10 >= 7)
    idx = build_positional_index(part1, str(tmp_path / "incr"), n_buckets=16)
    append_to_positional_index(idx, part2)
    full = build_positional_index(docs, str(tmp_path / "full"), n_buckets=16)

    for phrase in [("table", "hash"), ("value", "table", "part")]:
        got = phrase_search_positional(spark, idx, phrase, k=10_000).collect()
        want = phrase_search_positional(spark, full, phrase, k=10_000).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_positional_delete_rides_shared_tombstones(spark, tmp_path):
    """delete_from_inverted_index on a POSITIONAL-ONLY layout (no
    doclens/stats side-tables) resolves victims against the postings'
    live ids, is idempotent, and phrase search hides the tombstoned doc
    — equal to a fresh build without it."""
    _check_positional_delete(spark, tmp_path)


def test_positional_delete_broadcast_ids_route(spark, tmp_path, monkeypatch):
    """The same positional delete with the ids cut-off at 0, so victims
    resolve through the broadcast ids join."""
    from vector_db_example_spark.index import deletes

    monkeypatch.setattr(deletes, "_DELETE_ISIN_MAX", 0)
    _check_positional_delete(spark, tmp_path)


def _check_positional_delete(spark, tmp_path):
    from vector_db_example_spark.index.inverted import (
        delete_from_inverted_index,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = build_positional_index(docs, str(tmp_path / "pos"), n_buckets=16)
    phrase = ("table", "hash")
    before = [
        r.doc_id
        for r in phrase_search_positional(spark, idx, phrase, k=10_000).collect()
    ]
    assert before, "need a matching doc for the test to bite"
    victim = before[0]

    assert delete_from_inverted_index(idx, [victim]) == 1
    assert delete_from_inverted_index(idx, [victim]) == 0  # idempotent
    assert delete_from_inverted_index(idx, [10**12]) == 0  # unknown id

    survivors = build_positional_index(
        docs.filter(F.col("doc_id") != victim), str(tmp_path / "fresh"), n_buckets=16
    )
    got = phrase_search_positional(spark, idx, phrase, k=10_000).collect()
    want = phrase_search_positional(spark, survivors, phrase, k=10_000).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert victim not in {r.doc_id for r in got}


def test_layout_kind_persisted_not_probed(spark, tmp_path):
    """Delete routing reads the PERSISTED layout kind, never a local
    os.path.isdir(doclens) probe (advisor finding, round 6 — the probe
    silently misroutes layouts on s3://or hdfs://). The flag
    round-trips through save_meta/load for both layout kinds."""
    from vector_db_example_spark.index.inverted import (
        InvertedIndex,
        build_inverted_index,
    )

    docs = load_table(spark, SF_SMOKE, "documents").limit(50)
    pos = build_positional_index(docs, str(tmp_path / "pos"), n_buckets=8)
    bm25 = build_inverted_index(docs, str(tmp_path / "bm25"), n_buckets=8)
    assert pos.positional and not bm25.positional
    assert InvertedIndex.load(pos.path).positional
    assert not InvertedIndex.load(bm25.path).positional


def test_positional_compaction_folds_tombstones_and_heals_replay(spark, tmp_path):
    """compact_positional_index completes the positional lifecycle:
    build → append → REPLAY the same append (at-least-once crash
    window) → tombstone-delete a matching doc → compact. The compacted
    layout must answer phrase queries identically to a fresh build
    over the survivors, with no tombstone table left behind."""
    import os

    from vector_db_example_spark.index.inverted import (
        append_to_positional_index,
        compact_positional_index,
        delete_from_inverted_index,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    head = docs.filter(F.col("doc_id") % 10 < 7)
    tail = docs.filter(F.col("doc_id") % 10 >= 7)
    idx = build_positional_index(head, str(tmp_path / "pos"), n_buckets=16)
    append_to_positional_index(idx, tail)
    phrase = ("table", "hash")
    clean = phrase_search_positional(spark, idx, phrase, k=10_000).collect()
    append_to_positional_index(idx, tail)  # at-least-once replay
    # reads must SURVIVE the crash window, identically (the replayed
    # rows are byte-identical, so the read-side distinct absorbs them;
    # without it map_from_entries throws DUPLICATED_MAP_KEY)
    dirty = phrase_search_positional(spark, idx, phrase, k=10_000).collect()
    assert sorted(map(tuple, dirty)) == sorted(map(tuple, clean))
    victim = dirty[0].doc_id
    assert delete_from_inverted_index(idx, [victim]) == 1

    compacted = compact_positional_index(spark, idx, str(tmp_path / "compacted"))
    assert not os.path.isdir(str(tmp_path / "compacted" / "tombstones"))
    fresh = build_positional_index(
        docs.filter(F.col("doc_id") != victim), str(tmp_path / "fresh"), n_buckets=16
    )
    got = phrase_search_positional(spark, compacted, phrase, k=10_000).collect()
    want = phrase_search_positional(spark, fresh, phrase, k=10_000).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_phrase_scan_prunes_buckets_through_distinct(spark, tmp_path):
    """The replay-tolerance distinct must not widen the scan: the
    phrase query's postings read still prunes to its terms' bucket
    partitions (PartitionFilters) with the term filter pushed down."""
    docs = load_table(spark, SF_SMOKE, "documents")
    idx = build_positional_index(docs, str(tmp_path / "plan"), n_buckets=64)
    plan = (
        phrase_search_positional(spark, idx, ("table", "hash"), k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scans
    assert all(
        "PartitionFilters" in ln and "bucket" in ln.split("PartitionFilters")[1][:80]
        for ln in scans
    ), scans
    assert any("term" in ln and "IN (table,hash)" in ln for ln in scans), scans
