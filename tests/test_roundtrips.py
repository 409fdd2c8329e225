"""py4j round trips per single question.

An interactive client asks one question at a time, and every question
pays a fixed driver↔JVM cost before Spark runs anything: each py4j call
costs about 0.1 ms of CPU on the two sides. These tests count the calls
at the py4j connection, from every Python thread (py4j's finalizer
thread included, which sends the deletes of collected JVM references),
around one vector, keyword and hybrid question, and pin a budget per
kind. They also pin that a keyword question's count does not grow with
the layout's bucket count: a probed read resolves only the probed
partition directories."""

from __future__ import annotations

import gc
import threading
import time

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from conftest import SF_SMOKE

DIM = 64
TOP_K = 10
NPROBE = 8

#: calls per question after the warm-up, with margin over the measured
#: 253 / 495 / 937 (vector / keyword / hybrid; two-term keyword legs,
#: PySpark 4.1). With PySpark's DataFrame debugging on, the layout root
#: listed through py4j and one F.lit per vector component they were
#: 875 / 1,433 / 2,772.
BUDGET = {"vector": 400, "keyword": 700, "hybrid": 1300}


def _drain(spark) -> None:
    """Collect unreachable JVM references and wait until py4j's
    finalizer thread has sent their deletes."""
    gc.collect()
    pending = spark.sparkContext._gateway._gateway_client.finalizer_deque
    deadline = time.monotonic() + 30
    while pending and time.monotonic() < deadline:
        time.sleep(0.01)
    time.sleep(0.1)  # the delete popped last may still be in flight


def round_trips(spark, action) -> int:
    """The py4j calls sent while ``action()`` runs, counting the deletes
    of the references it dropped."""
    from py4j.clientserver import ClientServerConnection

    orig = ClientServerConnection.send_command
    lock = threading.Lock()
    n = 0

    def counted(self, command):
        nonlocal n
        with lock:
            n += 1
        return orig(self, command)

    _drain(spark)
    ClientServerConnection.send_command = counted
    try:
        action()
        _drain(spark)
    finally:
        ClientServerConnection.send_command = orig
    return n


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    from vector_db_example_spark.functions.embedding import hashing_embedder
    from vector_db_example_spark.index.inverted import build_inverted_index
    from vector_db_example_spark.index.ivf import build_ivf_index

    root = tmp_path_factory.mktemp("roundtrips")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    docs.withColumn("embedding", hashing_embedder(DIM)(F.col("text"))).write.parquet(
        str(root / "embeddings")
    )
    ivf = build_ivf_index(
        spark.read.parquet(str(root / "embeddings")), str(root / "ivf"), nlist=16,
        id_col="doc_id",
    )
    inverted = {
        nb: build_inverted_index(docs, str(root / f"inverted{nb}"), n_buckets=nb)
        for nb in (16, 64)
    }
    return ivf, inverted, _terms(spark, inverted[16], inverted[64])


def _terms(spark, index16, index64) -> list[str]:
    """Two common corpus terms whose posting lists sit in distinct
    buckets at both bucket counts, so both layouts probe two
    directories."""
    from vector_db_example_spark.index.inverted import _query_buckets

    common = [
        r["term"]
        for r in spark.read.parquet(index16.postings_path)
        .groupBy("term")
        .count()
        .orderBy(F.desc("count"), "term")
        .limit(40)
        .collect()
    ]
    for a in common:
        for b in common:
            pair = [a, b]
            if a < b and all(len(_query_buckets(ix, pair)) == 2 for ix in (index16, index64)):
                return pair
    raise AssertionError("no two common terms in distinct buckets")


def _ask(spark, ivf, inverted, kind: str, qvec, terms) -> None:
    from vector_db_example_spark.index.inverted import bm25_search_inverted
    from vector_db_example_spark.index.ivf import ivf_search
    from vector_db_example_spark.operators.hybrid import rrf_fuse

    def vec():
        return ivf_search(spark, ivf, qvec, k=TOP_K, nprobe=NPROBE, score_threshold=None)

    def kw():
        return bm25_search_inverted(spark, inverted, terms, k=TOP_K)

    if kind == "vector":
        rows = vec().collect()
    elif kind == "keyword":
        rows = kw().collect()
    else:
        ranked = {
            "vector": vec().withColumn(
                "rank", F.row_number().over(Window.orderBy("distance", "doc_id"))
            ),
            "keyword": kw().withColumn(
                "rank", F.row_number().over(Window.orderBy(F.desc("bm25"), "doc_id"))
            ),
        }
        rows = rrf_fuse(ranked, id_col="doc_id", top_k=TOP_K).collect()
    assert len(rows) == TOP_K


def test_question_round_trips_within_budget(spark, layouts):
    from vector_db_example_spark.functions.embedding import hash_embed_one

    ivf, inverted, terms = layouts
    warm_vec = hash_embed_one("a warm-up question about parquet layouts", DIM)
    qvec = hash_embed_one(" ".join(terms) + " retrieval", DIM)
    for kind in BUDGET:  # the first question of a kind pays one-off costs
        _ask(spark, ivf, inverted[64], kind, warm_vec, terms[:1])
    counts = {
        kind: round_trips(spark, lambda kind=kind: _ask(spark, ivf, inverted[64], kind, qvec, terms))
        for kind in BUDGET
    }
    print("py4j round trips per question:", counts)
    over = {k: (n, BUDGET[k]) for k, n in counts.items() if n > BUDGET[k]}
    assert not over, f"round trips over budget (count, budget): {over}"


def test_keyword_round_trips_independent_of_bucket_count(spark, layouts):
    ivf, inverted, terms = layouts
    counts = {}
    for nb, index in inverted.items():
        _ask(spark, ivf, index, "keyword", None, terms)
        # the fewer of two: a call from anything else running in the
        # process adds to one count, never takes from it
        counts[nb] = min(
            round_trips(spark, lambda index=index: _ask(spark, ivf, index, "keyword", None, terms))
            for _ in range(2)
        )
    print("py4j round trips per keyword question by n_buckets:", counts)
    assert counts[16] == counts[64], counts
