"""Persisted incremental-dedup layout (index/dedupidx.py): the
build → filter → append → re-filter lifecycle must match a pure-Python
model of the documented semantics for ANY corpus/batch, and the filter's
layout-side scan must never re-read corpus text."""

from __future__ import annotations

import hashlib

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from vector_db_example_spark.index.dedupidx import (
    DedupIndex,
    build_dedup_index,
    dedup_index_append,
    dedup_index_filter,
)

PROP = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
)
# None is a null text: an all-NULL signature whose band keys are all md5("")
texts = st.none() | st.lists(words, min_size=0, max_size=10).map(" ".join)


# --- pure-Python model of the layout's documented semantics -------------


def model_sig(text: str | None, k: int = 3, n_hashes: int = 16):
    if text is None:
        return [None] * n_hashes
    toks = text.strip().split(" ") if text.strip() else [""]
    if len(toks) - (k - 1) >= 1:
        sh = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
    else:
        sh = {" ".join(toks)}
    return [
        min(hashlib.md5(f"{s}|{x}".encode()).hexdigest() for x in sh)
        for s in range(1, n_hashes + 1)
    ]


def model_bands(
    text: str | None, k: int = 3, n_hashes: int = 16, bands: int = 8
):
    """md5 of each signature slice; ``array_join`` drops NULLs, so every
    band of a null text hashes the empty string."""
    sig = model_sig(text, k, n_hashes)
    rpb = n_hashes // bands
    return {
        (
            b,
            hashlib.md5(
                "".join(x for x in sig[b * rpb : (b + 1) * rpb] if x is not None).encode()
            ).hexdigest(),
        )
        for b in range(bands)
    }


def model_filter(corpus_keys: set, batch: list[tuple[int, str]]):
    """The module-docstring semantics: corpus_dup = any band hit on the
    layout; within_dup = shares a band with a lower-id non-corpus-dup
    batch doc (pessimistic one-pass — the suppressor need not itself
    survive)."""
    bands = {i: model_bands(t) for i, t in batch}
    corpus_dup = {i for i in bands if bands[i] & corpus_keys}
    new = [i for i, _ in batch if i not in corpus_dup]
    within = {
        i
        for i in new
        if any(min(j for j in new if bk in bands[j]) < i for bk in bands[i])
    }
    return {
        i: (i in corpus_dup, i in within) for i, _ in batch
    }


def _verdicts(spark, index, batch_df):
    return {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"])
        for r in dedup_index_filter(spark, index, batch_df)[0].collect()
    }


@PROP
@given(
    corpus=st.lists(texts, min_size=0, max_size=6),
    batch1=st.lists(texts, min_size=1, max_size=6),
    batch2=st.lists(texts, min_size=1, max_size=4),
)
@example(corpus=["alpha beta"], batch1=[None, "alpha", None], batch2=[None, "beta"])
def test_lifecycle_matches_model(spark, corpus, batch1, batch2, tmp_path_factory):
    """build → filter → append-survivors → re-filter equals the model at
    every stage, for any word-soup corpus (duplicate texts across and
    within frames arise naturally from the 8-word vocabulary)."""
    d = str(tmp_path_factory.mktemp("dedupidx"))
    cdocs = [(i, t) for i, t in enumerate(corpus)]
    b1 = [(100 + i, t) for i, t in enumerate(batch1)]
    b2 = [(200 + i, t) for i, t in enumerate(batch2)]

    cdf = spark.createDataFrame(cdocs or [], "doc_id long, text string")
    index = build_dedup_index(cdf, f"{d}/idx")

    keys = set().union(*(model_bands(t) for _, t in cdocs)) if cdocs else set()
    expect1 = model_filter(keys, b1)
    b1df = spark.createDataFrame(b1, "doc_id long, text string")
    assert _verdicts(spark, index, b1df) == expect1

    surv1 = [(i, t) for i, t in b1 if expect1[i] == (False, False)]
    dedup_index_append(
        index, spark.createDataFrame(surv1 or [], "doc_id long, text string")
    )
    keys2 = keys.union(*(model_bands(t) for _, t in surv1)) if surv1 else keys
    expect2 = model_filter(keys2, b2)
    b2df = spark.createDataFrame(b2, "doc_id long, text string")
    assert _verdicts(spark, DedupIndex.load(f"{d}/idx"), b2df) == expect2


def test_exact_copies_always_flagged(spark, tmp_path_factory):
    """Identical text ⇒ identical signature ⇒ every band collides: an
    exact copy of an indexed doc is ALWAYS corpus_dup, and an exact
    within-batch copy is ALWAYS within_dup on the higher id —
    deterministically, not probabilistically."""
    d = str(tmp_path_factory.mktemp("dedupidx_exact"))
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog"),
            (11, "spark writes band partitioned parquet layouts for dedup"),
            (12, "spark writes band partitioned parquet layouts for dedup"),
        ],
        "doc_id long, text string",
    )
    got = _verdicts(spark, index, batch)
    assert got == {10: (True, False), 11: (False, False), 12: (False, True)}


def test_declared_empty_bootstrap(spark, tmp_path_factory):
    """First-crawl bootstrap: a layout built over ZERO documents filters
    its first batch (nothing is corpus_dup; within-batch still applies),
    and the reloaded handle behaves identically."""
    d = str(tmp_path_factory.mktemp("dedupidx_empty"))
    empty = spark.createDataFrame([], "doc_id long, text string")
    build_dedup_index(empty, f"{d}/idx")
    index = DedupIndex.load(f"{d}/idx")
    batch = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three four"), (3, "five six")],
        "doc_id long, text string",
    )
    assert _verdicts(spark, index, batch) == {
        1: (False, False),
        2: (False, True),
        3: (False, False),
    }


def model_filter_verified(
    corpus: list[tuple[int, str]],
    batch: list[tuple[int, str]],
    threshold: float,
    cap: int,
):
    """The verified filter's documented semantics: band-collision
    candidates verified by the signature-equality fraction, with
    count-first mega-key routing (over-cap keys flag unverified). At
    ``threshold <= 0`` every colliding key counts as over the cap."""
    from collections import defaultdict

    if threshold <= 0:
        cap = -1
    bb = {i: model_bands(t) for i, t in batch}
    bsig = {i: model_sig(t) for i, t in batch}
    csig = {i: model_sig(t) for i, t in corpus}
    keyowners = defaultdict(set)
    for i, t in corpus:
        for bk in model_bands(t):
            keyowners[bk].add(i)
    over = {bk for bk, o in keyowners.items() if len(o) > cap}

    def sim(a, b):
        # Spark's NULL algebra: a null text's estimate is NULL, never >= t
        if None in a or None in b:
            return float("-inf")
        return sum(x == y for x, y in zip(a, b)) / len(a)

    corpus_dup = set()
    for i, _ in batch:
        if bb[i] & over:
            corpus_dup.add(i)
        elif any(
            sim(bsig[i], csig[c]) >= threshold
            for bk in bb[i]
            for c in keyowners.get(bk, ())
        ):
            corpus_dup.add(i)
    new = [i for i, _ in batch if i not in corpus_dup]
    wowners = defaultdict(set)
    for i in new:
        for bk in bb[i]:
            wowners[bk].add(i)
    within = set()
    for i in new:
        for bk in bb[i]:
            grp = wowners[bk]
            if len(grp) > cap:
                if i > min(grp):
                    within.add(i)
                    break
            elif any(j < i and sim(bsig[i], bsig[j]) >= threshold for j in grp):
                within.add(i)
                break
    return {i: (i in corpus_dup, i in within) for i, _ in batch}


@PROP
@given(
    corpus=st.lists(texts, min_size=0, max_size=6),
    batch=st.lists(texts, min_size=1, max_size=6),
    threshold=st.sampled_from([0.0, 0.25, 0.5, 1.0]),
    cap=st.sampled_from([0, 1, 64]),
)
@example(corpus=[None, "alpha beta"], batch=[None, None, "alpha beta"], threshold=0.0, cap=64)
@example(corpus=[None, "alpha beta"], batch=[None, None, "alpha beta"], threshold=0.5, cap=64)
def test_verified_filter_matches_model(
    spark, corpus, batch, threshold, cap, tmp_path_factory
):
    """The verified filter equals the model for any corpus/batch,
    threshold, and candidate cap — including cap=0, where every
    colliding key routes through the unverified mega-key path and the
    verdicts must collapse to the band-only filter's."""
    d = str(tmp_path_factory.mktemp("dedupidx_v"))
    cdocs = [(i, t) for i, t in enumerate(corpus)]
    b = [(100 + i, t) for i, t in enumerate(batch)]
    index = build_dedup_index(
        spark.createDataFrame(cdocs or [], "doc_id long, text string"), f"{d}/idx"
    )
    bdf = spark.createDataFrame(b, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"])
        for r in dedup_index_filter(
            spark, index, bdf, threshold=threshold, candidate_cap=cap
        )[0].collect()
    }
    assert got == model_filter_verified(cdocs, b, threshold, cap)
    if cap == 0 or threshold <= 0:
        # collapses to the band-only semantics: cap=0 and threshold=0
        # both flag every collision unverified, null texts included.
        keys = set().union(*(model_bands(t) for _, t in cdocs)) if cdocs else set()
        assert got == model_filter(keys, b)


def test_post_append_filter_sees_appends_in_one_action(spark, tmp_path_factory):
    """The exchange-reuse hazard from the module docstring: a pre-append
    filter MATERIALIZED via localCheckpoint, unioned with a post-append
    filter and collected in ONE action, must still show the post-append
    side the appended bands (file scans canonicalize by root path, so an
    unmaterialized pre-append scan can be substituted for the fresh one
    and silently hide the append)."""
    d = str(tmp_path_factory.mktemp("dedupidx_reuse"))
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    batch1 = spark.createDataFrame(
        [(10, "one two three four five six seven")], "doc_id long, text string"
    )
    v1 = dedup_index_filter(spark, index, batch1)[0].localCheckpoint(eager=True)
    dedup_index_append(index, batch1)  # 10 survived; accept it
    batch2 = spark.createDataFrame(
        [(20, "one two three four five six seven")], "doc_id long, text string"
    )
    v2 = dedup_index_filter(spark, index, batch2)[0]
    rows = {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"])
        for r in v1.unionByName(v2).collect()  # ONE action over both stages
    }
    assert rows == {10: (False, False), 20: (True, False)}


def test_filter_never_rereads_corpus_text(spark, tmp_path_factory):
    """The whole point of persisting band keys: checking a batch reads
    ONLY (band, key) from the layout — the accepted corpus's text is
    never re-shingled. Every parquet scan in the plans the filter runs
    (its materialized frames and the verdicts) must be text-free."""
    from tests.conftest import checkpointed_plans

    d = str(tmp_path_factory.mktemp("dedupidx_plan"))
    corpus = spark.createDataFrame(
        [(i, f"document number {i} alpha beta gamma") for i in range(20)],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    batch = spark.createDataFrame(
        [(100, "document number 3 alpha beta gamma")], "doc_id long, text string"
    )
    for threshold in (0.0, 0.5):
        def run():
            verdicts, _ = dedup_index_filter(spark, index, batch, threshold=threshold)
            verdicts.localCheckpoint(eager=True)

        plans = checkpointed_plans(spark, run)
        scans = [ln for p in plans for ln in p.splitlines() if "ReadSchema" in ln]
        assert any("key:binary" in ln for ln in scans), "expected a layout scan"
        assert all("text" not in ln for ln in scans), scans


# --- delete / compact lifecycle (round 8) --------------------------------


def test_delete_stops_suppressing_near_duplicates(spark, tmp_path_factory):
    """THE takedown/retention contract: after a corpus doc is deleted, a
    batch doc that exactly duplicates it must SURVIVE (pre-delete it was
    corpus_dup) — in both filter modes, immediately (tombstone read
    path) and after compaction (folded in, tombstone sibling gone)."""
    from vector_db_example_spark.index.dedupidx import (
        dedup_index_compact,
        dedup_index_delete,
    )
    from vector_db_example_spark import fsio

    d = str(tmp_path_factory.mktemp("dedupidx_del"))
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "entirely different corpus text about spark layouts"),
        ],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )

    def verdict(idx, mode):
        threshold = 0.0 if mode == "band" else 0.5
        [r] = dedup_index_filter(spark, idx, batch, threshold=threshold)[0].collect()
        return (r["corpus_dup"], r["within_dup"])

    assert verdict(index, "band") == (True, False)
    assert verdict(index, "verified") == (True, False)

    assert dedup_index_delete(spark, index, [1]) == 1
    assert verdict(index, "band") == (False, False)
    assert verdict(index, "verified") == (False, False)
    # idempotent: re-deleting a tombstoned id (or an absent one) is a no-op
    assert dedup_index_delete(spark, index, [1, 999]) == 0

    compacted = dedup_index_compact(spark, index, f"{d}/idx_v2")
    assert not fsio.exists(compacted.tombstones_path, spark)
    assert verdict(compacted, "band") == (False, False)
    assert verdict(compacted, "verified") == (False, False)
    # doc 2 survived the compaction: its exact copy is still flagged
    [r] = dedup_index_filter(
        spark,
        compacted,
        spark.createDataFrame(
            [(20, "entirely different corpus text about spark layouts")],
            "doc_id long, text string",
        ),
    )[0].collect()
    assert (r["corpus_dup"], r["within_dup"]) == (True, False)


def test_delete_clears_stale_mega_key_counts(spark, tmp_path_factory):
    """A deleted boilerplate cluster must not keep its band key over the
    candidate cap: pre-delete, a colliding batch doc is auto-flagged
    unverified (mega-key route); post-delete the survivors are under the
    cap and the SIMILARITY ESTIMATE decides — a dissimilar doc that
    merely shares one lucky band must now survive."""
    from vector_db_example_spark.index.dedupidx import dedup_index_delete

    d = str(tmp_path_factory.mktemp("dedupidx_mega"))
    boiler = "terms of service apply to all documents here"
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(5)] + [(100, "unrelated corpus doc")],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    batch = spark.createDataFrame([(10, boiler)], "doc_id long, text string")
    [r] = dedup_index_filter(
        spark, index, batch, threshold=0.5, candidate_cap=3
    )[0].collect()
    assert r["corpus_dup"]  # 5 copies > cap=3: auto-flagged via mega-key
    # delete 3 of the 5 boilerplate copies: the key drops to 2 ≤ cap, so
    # candidates now route through verification — an exact copy still
    # clears the estimate (sim=1.0) ...
    assert dedup_index_delete(spark, index, [0, 1, 2]) == 3
    [r] = dedup_index_filter(
        spark, index, batch, threshold=0.5, candidate_cap=3
    )[0].collect()
    assert r["corpus_dup"]
    # ... and deleting ALL copies frees the batch doc entirely
    assert dedup_index_delete(spark, index, [3, 4]) == 2
    [r] = dedup_index_filter(
        spark, index, batch, threshold=0.5, candidate_cap=3
    )[0].collect()
    assert not r["corpus_dup"]


def test_compact_heals_replay_duplicates_and_collapses_files(
    spark, tmp_path_factory
):
    """At-least-once replay lays the same append down twice (byte-
    identical rows). Compaction collapses them — one sig row and one
    band row per (doc, band) — without changing any verdict."""
    from vector_db_example_spark.index.dedupidx import (
        _read_bands,
        _read_sigs,
        dedup_index_compact,
    )

    d = str(tmp_path_factory.mktemp("dedupidx_replay"))
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    batch = spark.createDataFrame(
        [(10, "one two three four five")], "doc_id long, text string"
    )
    dedup_index_append(index, batch)
    dedup_index_append(index, batch)  # the replay
    assert _read_sigs(spark, index).filter("doc_id = 10").count() == 2
    compacted = dedup_index_compact(spark, index, f"{d}/idx_v2")
    assert _read_sigs(spark, compacted).filter("doc_id = 10").count() == 1
    bands = _read_bands(spark, compacted)
    assert bands.count() == bands.distinct().count() == 2 * index.bands
    got = {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"])
        for r in dedup_index_filter(
            spark,
            compacted,
            spark.createDataFrame(
                [(20, "one two three four five"), (21, "six seven eight")],
                "doc_id long, text string",
            ),
        )[0].collect()
    }
    assert got == {20: (True, False), 21: (False, False)}


def test_compact_delete_to_empty(spark, tmp_path_factory):
    """Fully-tombstoned layout compacts to a well-typed EMPTY layout (the
    declared-empty read path): the next batch sees no corpus_dup and
    within-batch semantics still apply."""
    from vector_db_example_spark.index.dedupidx import (
        dedup_index_compact,
        dedup_index_delete,
    )

    d = str(tmp_path_factory.mktemp("dedupidx_empty2"))
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    assert dedup_index_delete(spark, index, [1, 2]) == 2
    compacted = dedup_index_compact(spark, index, f"{d}/idx_v2")
    got = _verdicts(
        spark,
        compacted,
        spark.createDataFrame(
            [(10, "alpha beta gamma delta"), (11, "alpha beta gamma delta")],
            "doc_id long, text string",
        ),
    )
    assert got == {10: (False, False), 11: (False, True)}


@PROP
@given(
    corpus=st.lists(texts, min_size=1, max_size=6),
    batch=st.lists(texts, min_size=1, max_size=6),
    n_del=st.integers(min_value=0, max_value=6),
)
@example(corpus=[None, "alpha beta gamma", None], batch=[None, "alpha beta gamma"], n_del=1)
def test_delete_compact_match_model(
    spark, corpus, batch, n_del, tmp_path_factory
):
    """delete → filter → compact → re-filter equals the pure-Python model
    evaluated over the SURVIVING corpus only, for any word-soup corpus
    and any delete subset — in both filter modes (threshold=0.5 with the
    default cap for the verified one)."""
    d = str(tmp_path_factory.mktemp("dedupidx_dm"))
    cdocs = [(i, t) for i, t in enumerate(corpus)]
    victims = [i for i, _ in cdocs[:n_del]]
    survivors = cdocs[n_del:]
    b = [(100 + i, t) for i, t in enumerate(batch)]

    from vector_db_example_spark.index.dedupidx import (
        dedup_index_compact,
        dedup_index_delete,
    )

    index = build_dedup_index(
        spark.createDataFrame(cdocs, "doc_id long, text string"), f"{d}/idx"
    )
    assert dedup_index_delete(spark, index, victims) == len(victims)
    keys = (
        set().union(*(model_bands(t) for _, t in survivors)) if survivors else set()
    )
    bdf = spark.createDataFrame(b, "doc_id long, text string")
    expect = model_filter(keys, b)
    expect_v = model_filter_verified(survivors, b, 0.5, 64)
    for idx in (index, dedup_index_compact(spark, index, f"{d}/idx_v2")):
        assert _verdicts(spark, idx, bdf) == expect
        got_v = {
            r["doc_id"]: (r["corpus_dup"], r["within_dup"])
            for r in dedup_index_filter(
                spark, idx, bdf, threshold=0.5
            )[0].collect()
        }
        assert got_v == expect_v


def _layout_scan_to_join(plan: str) -> list[list[str]]:
    """For every layout scan in an executed-plan tree string (a parquet
    scan reading ``key``), the node lines from the scan up to its
    nearest join ancestor, scan first."""
    import re

    lines = plan.splitlines()
    col = [len(ln) - len(ln.lstrip(" :+-")) for ln in lines]
    # node text without the tree drawing and the codegen stage marker
    node = [re.sub(r"^\*\(\d+\) ", "", ln.lstrip(" :+-")) for ln in lines]
    chains = []
    for i, ln in enumerate(node):
        if not ln.startswith("FileScan parquet") or "key:binary" not in ln:
            continue
        chain, j = [ln], i
        while not chain[-1].split(" ")[0].endswith("Join"):
            j = max((k for k in range(j) if col[k] < col[j]), default=None)
            if j is None:
                break
            chain.append(node[j])
        chains.append(chain)
    return chains


def test_band_filter_never_shuffles_layout(spark, tmp_path_factory):
    """The filter's corpus test must stream the layout scan map-side
    through ``layout ⋉ broadcast(batch keys)`` — an explicit hint, so
    the layout is NEVER exchanged even when it is too big for
    auto-broadcast. Pinned with autoBroadcastJoinThreshold disabled, in
    band-only and verified mode: every layout scan in the frames the
    filter materializes feeds a ``BroadcastHashJoin`` LeftSemi with no
    Exchange between them (the layout is scanned inside the key-count
    checkpoint, so the final verdict plan alone does not show it; an
    unhinted plan degrades to a SortMergeJoin that re-shuffles the
    whole corpus band table per batch)."""
    from tests.conftest import checkpointed_plans

    d = str(tmp_path_factory.mktemp("dedupidx_noshuffle"))
    corpus = spark.createDataFrame(
        [(i, f"document number {i} alpha beta gamma") for i in range(30)],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    batch = spark.createDataFrame(
        [
            (100, "document number 3 alpha beta gamma"),
            (101, "fresh unrelated content entirely"),
        ],
        "doc_id long, text string",
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        for threshold in (0.0, 0.5):
            out = {}

            def run():
                out["v"] = dedup_index_filter(
                    spark, index, batch, threshold=threshold
                )[0].localCheckpoint(eager=True)

            plans = checkpointed_plans(spark, run)
            chains = [c for p in plans for c in _layout_scan_to_join(p)]
            assert chains, plans
            for chain in chains:
                assert chain[-1].startswith("BroadcastHashJoin"), chain
                assert "LeftSemi" in chain[-1], chain
                assert not any("Exchange" in n for n in chain), chain
            got = {
                r["doc_id"]: (r["corpus_dup"], r["within_dup"])
                for r in out["v"].collect()
            }
            assert got == {100: (True, False), 101: (False, False)}
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_append_and_delete_match_model_at_both_thresholds(spark, tmp_path_factory):
    """build → append (a null text included) → filter at thresholds 0
    and 0.5 with ``candidate_cap`` 3 equals the model: the boilerplate
    cluster takes the mega-key route, null texts collide, a within-batch
    pair and a copy of the appended doc are flagged. A delete tombstones
    through the side-car (re-deleting is a no-op), and the next filter
    equals the model over the surviving corpus."""
    from vector_db_example_spark.index.dedupidx import dedup_index_delete

    d = str(tmp_path_factory.mktemp("dedupidx_model"))
    boiler = "shared boilerplate footer text for every page"
    corpus = (
        [(i, f"corpus doc {i} alpha beta gamma delta") for i in range(12)]
        + [(20 + i, f"{boiler} {i}") for i in range(5)]
        + [(30, None), (31, "w31a w31b w31c w31d w31e")]
    )
    extra = [(200, "appended later with its own words"), (201, None)]
    batch = [
        (100, "corpus doc 3 alpha beta gamma delta"),  # exact corpus dup
        (101, "corpus doc 4 alpha beta gamma omega"),  # near dup
        (102, f"{boiler} 99"),  # boilerplate collider
        (103, None),
        (104, "fresh words nobody has written before"),
        (105, "fresh words nobody has written before"),
        (106, "w31a w31b w31c w31d w31e"),  # dup of doc 31
        (107, "appended later with its own words"),  # dup of the append
    ]
    schema = "doc_id long, text string"
    index = build_dedup_index(spark.createDataFrame(corpus, schema), f"{d}/idx")
    dedup_index_append(index, spark.createDataFrame(extra, schema))
    batch_df = spark.createDataFrame(batch, schema)

    def verdicts():
        return {
            t: {
                r["doc_id"]: (r["corpus_dup"], r["within_dup"])
                for r in dedup_index_filter(
                    spark, index, batch_df, threshold=t, candidate_cap=3
                )[0].collect()
            }
            for t in (0.0, 0.5)
        }

    def model(docs):
        return {t: model_filter_verified(docs, batch, t, 3) for t in (0.0, 0.5)}

    want = model(corpus + extra)
    assert want[0.0] != want[0.5]
    assert want[0.5][106] == want[0.5][107] == (True, False)
    assert verdicts() == want

    assert dedup_index_delete(spark, index, [31, 999]) == 1
    assert dedup_index_delete(spark, index, [31]) == 0
    after = model([c for c in corpus if c[0] != 31] + extra)
    assert after[0.5][106] == (False, False)
    assert verdicts() == after


# --- round-12: count-first verified filter --------------------------------


def test_verified_filter_checkpoints_only_batch_bounded_frames(
    spark, tmp_path_factory, monkeypatch
):
    """The verified filter must never materialize a collision-proportional
    frame (VERDICT r11 gap #1): against a corpus holding a 60-copy
    boilerplate cluster, every localCheckpoint the filter takes has to be
    bounded by the BATCH (signatures, per-key counts, under-cap candidate
    pairs) — the pre-round-12 shape checkpointed the full restricted
    collision frame first (8 bands x 60 copies = 480 rows here, and
    near-corpus rows on a real boilerplate-heavy batch) before the
    mega-key cap routed it away."""
    # patch the CONCRETE class (pyspark.sql.DataFrame is an abstract
    # facade in PySpark 4; method lookup resolves on the classic class)
    SparkDF = type(spark.range(1))

    d = str(tmp_path_factory.mktemp("dedupidx_cf"))
    boiler = [(i, "lorem ipsum dolor sit amet consectetur") for i in range(60)]
    distinct = [(100, "one two three four five six"), (101, "seven eight nine ten")]
    index = build_dedup_index(
        spark.createDataFrame(boiler + distinct, "doc_id long, text string"),
        f"{d}/idx",
    )
    counts: list[int] = []
    orig = SparkDF.localCheckpoint

    def spy(self, eager=True):
        out = orig(self, eager=eager)
        counts.append(out.count())
        return out

    monkeypatch.setattr(SparkDF, "localCheckpoint", spy)
    batch = spark.createDataFrame(
        [
            (200, "lorem ipsum dolor sit amet consectetur"),  # hot-key collider
            (201, "entirely fresh content nothing shared"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"])
        for r in dedup_index_filter(
            spark, index, batch, threshold=0.5, candidate_cap=2
        )[0].collect()
    }
    assert got == {200: (True, False), 201: (False, False)}
    # sig/band rows (16), key_counts (<= 16 batch keys); no candidate
    # pairs here - the hot key is over-cap. The old shape would have
    # recorded 480.
    assert counts, "expected the filter to materialize its bounded frames"
    assert max(counts) <= 32, counts


def test_plan_size_bytes_error_discipline(spark):
    """``sources/tables.py::plan_size_bytes`` — the package's one JVM
    size probe: a real frame reports its optimizer estimate; an
    unreachable estimate reports ``None`` (Spark Connect has no
    ``_jdf``; a bare Py4JError is a gateway/protocol fault — the JVM
    never answered); but an error the JVM raised while evaluating the
    plan (Py4JJavaError ⊂ Py4JError) and any other exception SURFACE
    rather than silently flipping a size-gated plan decision."""
    import pytest
    from py4j.protocol import Py4JError, Py4JJavaError

    from vector_db_example_spark.sources.tables import plan_size_bytes

    assert plan_size_bytes(spark.range(100)) > 0

    def raising(exc):
        class _Frame:
            @property
            def _jdf(self):
                raise exc

        return _Frame()

    assert plan_size_bytes(raising(AttributeError("no classic JVM handle"))) is None
    assert plan_size_bytes(raising(Py4JError("gateway connection refused"))) is None

    class _FakeJavaException:  # Py4JJavaError.__init__ reads _target_id
        _target_id = "o0"

    with pytest.raises(Py4JJavaError):
        plan_size_bytes(
            raising(Py4JJavaError("analysis exception", _FakeJavaException()))
        )
    with pytest.raises(RuntimeError):
        plan_size_bytes(raising(RuntimeError("analysis exploded")))


def test_over_ceiling_fallback_matches_broadcast_path(
    spark, tmp_path_factory, monkeypatch
):
    """Both filters fall back to plain shuffle joins when the batch's
    key count exceeds _BROADCAST_KEYS_MAX (the round-10 advisor fix; the
    round-12 count-first rewrite added an un-broadcast `under` leg to
    that branch). Forcing the ceiling to 0 must change the PLAN only:
    verdicts identical to the broadcast path in both modes."""
    import vector_db_example_spark.index.dedupidx as dd

    d = str(tmp_path_factory.mktemp("dedupidx_ceiling"))
    corpus = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(12)]
        + [(100 + i, "shared boilerplate text alpha beta") for i in range(5)],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    batch = spark.createDataFrame(
        [
            (200, "w3a w3b w3c w3d w3e"),          # exact plant
            (201, "shared boilerplate text alpha beta"),  # mega-key collider
            (202, "fresh unseen content entirely"),
            (203, "fresh unseen content entirely"),  # within-batch dup
        ],
        "doc_id long, text string",
    )

    def run_both():
        band = {
            r["doc_id"]: (r["corpus_dup"], r["within_dup"])
            for r in dedup_index_filter(spark, index, batch)[0].collect()
        }
        ver = {
            r["doc_id"]: (r["corpus_dup"], r["within_dup"])
            for r in dedup_index_filter(
                spark, index, batch, threshold=0.5, candidate_cap=2
            )[0].collect()
        }
        return band, ver

    band_bc, ver_bc = run_both()
    monkeypatch.setattr(dd, "_BROADCAST_KEYS_MAX", 0)
    band_fb, ver_fb = run_both()
    assert band_fb == band_bc
    assert ver_fb == ver_bc
    assert band_bc[200] == (True, False)
    assert ver_bc[201] == (True, False)  # mega-key auto route
    assert ver_bc[203] == (False, True)


def test_legacy_unbucketed_layout_still_works(spark, tmp_path_factory):
    """A binary layout whose meta still records ``sig_buckets`` 0 (as
    unbucketed builds of earlier rounds wrote it) loads and filters like
    a fresh build; a meta of a bucketed or hex layout is refused."""
    import json
    import os

    d = str(tmp_path_factory.mktemp("dedupidx_legacy"))
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    build_dedup_index(corpus, f"{d}/idx")
    meta_path = f"{d}/idx/_dedup_meta.json"
    meta = json.loads(open(meta_path).read())
    crc = f"{d}/idx/._dedup_meta.json.crc"  # hadoop LocalFS checksum sibling

    def write_meta(m):
        open(meta_path, "w").write(json.dumps(m))
        if os.path.exists(crc):
            os.remove(crc)

    write_meta({**meta, "sig_buckets": 0})
    loaded = DedupIndex.load(f"{d}/idx")
    batch = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"), (11, "unrelated")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"])
        for r in dedup_index_filter(
            spark, loaded, batch, threshold=0.5
        )[0].collect()
    }
    assert got == {10: (True, False), 11: (False, False)}

    write_meta({**meta, "sig_buckets": 8})
    with pytest.raises(ValueError, match="sig_buckets"):
        DedupIndex.load(f"{d}/idx")
    write_meta({k: v for k, v in meta.items() if k != "hash_format"})
    with pytest.raises(ValueError, match="hash_format"):
        DedupIndex.load(f"{d}/idx")


def test_verified_filter_skips_sig_subtree_when_no_under_cap_key(
    spark, tmp_path_factory, monkeypatch
):
    """When every colliding (band, key) is over-cap — or nothing collides
    at all — the candidate set is provably empty, so the filter must not
    touch the signature side-car: no ``_read_sigs`` call, hence no
    side-car scan over provably-empty frames (advisor finding, round 12). At
    ``threshold=0`` every colliding key is routed unverified, so even an
    under-cap collider and a within-batch pair must build neither the
    side-car read nor the similarity estimator. At ``threshold > 0`` an
    under-cap collider must still trigger the read."""
    import vector_db_example_spark.index.dedupidx as dd

    d = str(tmp_path_factory.mktemp("dedupidx_skip"))
    corpus = spark.createDataFrame(
        [(i, "lorem ipsum dolor sit amet consectetur") for i in range(10)]
        + [(50, "one two three four five six seven")],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    calls: list[int] = []
    orig = dd._read_sigs

    def spy(sp, idx):
        calls.append(1)
        return orig(sp, idx)

    monkeypatch.setattr(dd, "_read_sigs", spy)
    # every collision hits the over-cap boilerplate key; the fresh doc
    # collides with nothing — no under-cap key anywhere
    hot = spark.createDataFrame(
        [
            (200, "lorem ipsum dolor sit amet consectetur"),
            (201, "entirely fresh content nothing shared here"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"])
        for r in dedup_index_filter(
            spark, index, hot, threshold=0.5, candidate_cap=2
        )[0].collect()
    }
    assert got == {200: (True, False), 201: (False, False)}
    assert calls == [], "side-car read on a provably-empty candidate set"
    # band-only mode: an under-cap corpus collider and an under-cap
    # within-batch pair still flag, with no side-car read or estimator
    est_calls: list[int] = []
    orig_est = dd._est_sim

    def est_spy(a, b, n):
        est_calls.append(1)
        return orig_est(a, b, n)

    monkeypatch.setattr(dd, "_est_sim", est_spy)
    mixed = spark.createDataFrame(
        [
            (400, "one two three four five six seven"),
            (401, "alpha beta gamma delta epsilon"),
            (402, "alpha beta gamma delta epsilon"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"])
        for r in dedup_index_filter(
            spark, index, mixed, threshold=0.0, candidate_cap=2
        )[0].collect()
    }
    assert got == {400: (True, False), 401: (False, False), 402: (False, True)}
    assert calls == [], "side-car read at threshold 0"
    assert est_calls == [], "estimator built into a threshold-0 plan"
    # an under-cap collider (the singleton corpus doc) re-arms the read
    probe = spark.createDataFrame(
        [(300, "one two three four five six seven")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"])
        for r in dedup_index_filter(
            spark, index, probe, threshold=0.5, candidate_cap=2
        )[0].collect()
    }
    assert got == {300: (True, False)}
    assert calls, "under-cap collider must reach the verification join"


def test_verified_filter_fresh_batch_plan_collapses(
    spark, tmp_path_factory, monkeypatch
):
    """Fresh-path short-circuits (round 14): a batch where nothing
    collides with the layout AND no (band, key) is shared by two batch
    docs must return a verdict plan that never scans the layout (the
    over-cap semi-join is dropped once the materialized key counts are
    empty) and never builds the similarity estimator into the plan (the
    within-batch algebra is provably empty when every batch group has
    size 1). A within-batch duplicate pair must re-arm the estimator."""
    import vector_db_example_spark.index.dedupidx as dd

    d = str(tmp_path_factory.mktemp("dedupidx_fresh"))
    corpus = spark.createDataFrame(
        [(i, f"w{i}a w{i}b w{i}c w{i}d w{i}e") for i in range(10)],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    calls: list[int] = []
    orig = dd._est_sim

    def spy(a, b, n):
        calls.append(1)
        return orig(a, b, n)

    monkeypatch.setattr(dd, "_est_sim", spy)
    fresh = spark.createDataFrame(
        [
            (200, "alpha beta gamma delta epsilon zeta"),
            (201, "eta theta iota kappa lambda mu nu"),
        ],
        "doc_id long, text string",
    )
    v = dedup_index_filter(
        spark, index, fresh, threshold=0.5, candidate_cap=2
    )[0]
    plan = v._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert f"{d}/idx" not in plan, plan  # no layout scan in the verdict plan
    got = {r["doc_id"]: (r["corpus_dup"], r["within_dup"]) for r in v.collect()}
    assert got == {200: (False, False), 201: (False, False)}
    assert calls == [], "estimator built into a provably-empty plan"
    # a within-batch duplicate pair re-arms the within algebra (and the
    # verdict still assembles correctly alongside the empty corpus side)
    wb = spark.createDataFrame(
        [
            (300, "one two three four five six"),
            (301, "one two three four five six"),
            (302, "totally different content goes here now"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"])
        for r in dedup_index_filter(
            spark, index, wb, threshold=0.5, candidate_cap=2
        )[0].collect()
    }
    assert got == {
        300: (False, False),
        301: (False, True),
        302: (False, False),
    }
    assert calls, "within-batch pair must reach the verification estimator"


#: Adversarial texts for the kernel/expression equivalences: Java-vs-
#: Python ``\\s`` class edges (tab, vertical tab, form feed, CR/LF, and the
#: UNICODE spaces Java's ASCII class must NOT split on), space-only trim
#: edges, short/empty texts, multi-byte UTF-8, and NULL.
KERNEL_ROWS = [
    (0, "plain three word text here"),
    (1, "two words"),
    (2, "one"),
    (3, ""),
    (4, "   "),
    (5, " \t leading mixed\twhitespace\n and trailing \t "),
    (6, "a\u00a0b c d"),          # NBSP: Java \s does NOT split it
    (7, "a\u2003b c d"),          # EM space: same
    (8, "tabs\tonly\there"),
    (9, "cr\rand\nlf\x0band\x0cfeeds split like java"),
    (10, "unicode \u4e00\u4e8c\u4e09 \u9fff tokens mixed in"),
    (11, "dup dup dup dup dup"),
    (12, None),
]

KERNEL_INDEX = DedupIndex(
    path="/unused", shingle_k=3, n_hashes=16, bands=8,
    id_col="doc_id", text_col="text",
)


def test_python_sig_kernel_matches_catalyst_expression(spark):
    """The round-15 mapInPandas signature kernel must equal the original
    Catalyst ``minhash_signature(shingles(...))`` expression byte-for-byte
    on adversarial inputs (``KERNEL_ROWS``; NULL is a length-n array of
    NULLs, not a null array). The kernel emits 16-byte digests; their
    hex is the expression's string."""
    from vector_db_example_spark.index.dedupidx import signature_rows
    from vector_db_example_spark.operators.dedup import (
        minhash_signature,
        shingles,
    )

    docs = spark.createDataFrame(KERNEL_ROWS, "doc_id long, text string")
    got = {
        r["doc_id"]: (
            [None if d is None else bytes(d).hex() for d in r["sig"]]
            if r["sig"] is not None
            else None
        )
        for r in signature_rows(KERNEL_INDEX, docs).collect()
    }
    want = {
        r["doc_id"]: (list(r["sig"]) if r["sig"] is not None else None)
        for r in docs.select(
            "doc_id",
            minhash_signature(
                shingles(F.col("text"), k=3), n_hashes=16
            ).alias("sig"),
        ).collect()
    }
    assert got == want


def test_kernel_band_keys_match_catalyst_expression(spark):
    """The batch kernel's band keys (``_sig_band_rows``) and the build's
    unrolled read-back derivation (``_bands_of_sigs``) both equal
    ``unhex(lsh_band_keys(minhash_signature(shingles(text))))`` on the
    adversarial rows, NULL included (every band ``md5("")``); the sig
    rides only the band-0 row and equals the signature kernel's."""
    from vector_db_example_spark.index.dedupidx import (
        _bands_of_sigs,
        _sig_band_rows,
        signature_rows,
    )
    from vector_db_example_spark.operators.dedup import (
        lsh_band_keys,
        minhash_signature,
        shingles,
    )

    docs = spark.createDataFrame(KERNEL_ROWS, "doc_id long, text string")
    want = sorted(
        (r["doc_id"], r["band"], bytes(r["key"]))
        for r in docs.select(
            "doc_id",
            F.explode(
                lsh_band_keys(
                    minhash_signature(shingles(F.col("text"), k=3), n_hashes=16),
                    8,
                    2,
                )
            ).alias("bk"),
        )
        .select("doc_id", "bk.band", F.unhex("bk.key").alias("key"))
        .collect()
    )
    assert len(want) == 8 * len(KERNEL_ROWS)
    null_key = hashlib.md5(b"").digest()
    assert {k for i, _, k in want if i == 12} == {null_key}

    rows = _sig_band_rows(KERNEL_INDEX, docs).collect()
    assert sorted((r["doc_id"], r["band"], bytes(r["key"])) for r in rows) == want
    sigs = signature_rows(KERNEL_INDEX, docs)
    assert {
        r["doc_id"]: r["sig"] for r in rows if r["band"] == 0
    } == {r["doc_id"]: r["sig"] for r in sigs.collect()}
    assert all(r["sig"] is None for r in rows if r["band"] != 0)
    derived = _bands_of_sigs(KERNEL_INDEX, sigs).collect()
    assert sorted((r["doc_id"], r["band"], bytes(r["key"])) for r in derived) == want


def test_persisted_schema_is_binary_digests(spark, tmp_path_factory):
    """The layout stores each band key as a 16-byte binary digest and
    each signature as an ``array<binary>`` of ``n_hashes`` 16-byte
    digests — in the parquet files themselves, for the build and for
    an append; the signature side-car is one unpartitioned table; and
    the meta stamps the format."""
    import json
    import os

    from pyspark.sql import types as T

    d = str(tmp_path_factory.mktemp("dedupidx_schema"))
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None)], "doc_id long, text string"
    )
    index = build_dedup_index(corpus, f"{d}/idx")
    dedup_index_append(
        index,
        spark.createDataFrame([(3, "epsilon zeta eta theta")], "doc_id long, text string"),
    )
    meta = json.load(open(f"{d}/idx/_dedup_meta.json"))
    assert meta["hash_format"] == "binary" and "sig_buckets" not in meta
    assert not any(p.startswith("sig_bucket=") for p in os.listdir(index.sigs_path))
    bands = spark.read.parquet(index.path)
    sigs = spark.read.parquet(index.sigs_path)
    assert bands.schema["key"].dataType == T.BinaryType()
    assert sigs.schema["sig"].dataType == T.ArrayType(T.BinaryType())
    assert {len(r["key"]) for r in bands.collect()} == {16}
    got = {r["doc_id"]: r["sig"] for r in sigs.collect()}
    assert sorted(got) == [1, 2, 3]
    for i in (1, 3):
        assert len(got[i]) == index.n_hashes
        assert {len(x) for x in got[i]} == {16}
    assert got[2] == [None] * index.n_hashes


def test_unrolled_est_sim_matches_zip_with_form(spark):
    """``_est_sim`` (one sum unrolled over the positions) equals the
    former ``zip_with`` + ``aggregate`` lambda form on random digest
    arrays with planted equal positions, and on arrays with NULL
    elements, where both are NULL."""
    import random

    from pyspark.sql import types as T

    from vector_db_example_spark.index.dedupidx import _est_sim

    def old_form(a, b, n):
        eq = F.zip_with(a, b, lambda x, y: (x == y).cast("int"))
        return F.aggregate(eq, F.lit(0), lambda acc, x: acc + x).cast("double") / float(n)

    rng = random.Random(7)
    n = 16
    rows = []
    for i in range(60):
        a = [rng.randbytes(16) for _ in range(n)]
        b = [x if rng.random() < i / 60 else rng.randbytes(16) for x in a]
        if i % 7 == 0:
            b[rng.randrange(n)] = None
        if i % 11 == 0:
            a = [None] * n
        rows.append((i, a, b))
    df = spark.createDataFrame(
        rows,
        T.StructType(
            [
                T.StructField("i", T.LongType()),
                T.StructField("a", T.ArrayType(T.BinaryType())),
                T.StructField("b", T.ArrayType(T.BinaryType())),
            ]
        ),
    )
    out = df.select(
        "i",
        _est_sim(F.col("a"), F.col("b"), n).alias("new"),
        old_form(F.col("a"), F.col("b"), n).alias("old"),
    ).collect()
    assert all(r["new"] == r["old"] for r in out if r["old"] is not None)
    assert [r["i"] for r in out if r["new"] is None] == [
        r["i"] for r in out if r["old"] is None
    ]
    assert any(r["new"] is None for r in out)
    assert len({r["new"] for r in out}) > 5


def test_append_rows_equals_recompute_append(spark, tmp_path_factory):
    """``dedup_index_append_rows`` (the crawl loop's zero-recompute
    append, fed from the filter's materialized checkpoint) must leave a
    layout whose sig AND band contents equal the recompute append's —
    and a subsequent filter must return identical verdicts either way."""
    from vector_db_example_spark.index.dedupidx import (
        _read_bands,
        _read_sigs,
        dedup_index_append_rows,
        dedup_index_filter,
    )

    base = str(tmp_path_factory.mktemp("dedupidx_rows"))
    corpus = spark.createDataFrame(
        [(i, f"c{i}x c{i}y c{i}z c{i}w c{i}v") for i in range(8)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, f"b{i}p b{i}q b{i}r b{i}s {'c0x c0y c0z c0w c0v' if i == 0 else 'fresh'}")
         for i in range(6)]
        + [(200, "c1x c1y c1z c1w c1v")],  # exact corpus dup: not appended
        "doc_id long, text string",
    )
    probe = spark.createDataFrame(
        [(300, "b1p b1q b1r b1s fresh"), (301, "never seen words only here")],
        "doc_id long, text string",
    )
    layouts = {}
    for mode in ("docs", "rows"):
        idx = build_dedup_index(corpus, f"{base}/{mode}")
        verdicts, rows = dedup_index_filter(spark, idx, batch)
        verdicts = verdicts.localCheckpoint(eager=True)
        surv = verdicts.filter("NOT corpus_dup AND NOT within_dup").select(
            "doc_id"
        )
        if mode == "docs":
            dedup_index_append(idx, batch.join(surv, "doc_id"))
        else:
            dedup_index_append_rows(idx, rows.join(surv, "doc_id", "left_semi"))
        layouts[mode] = (
            sorted(map(tuple, _read_bands(spark, idx).collect())),
            sorted(
                (r["doc_id"], tuple(r["sig"]))
                for r in _read_sigs(spark, idx).select("doc_id", "sig").collect()
            ),
            sorted(
                map(
                    tuple,
                    dedup_index_filter(spark, idx, probe)[0].collect(),
                )
            ),
        )
    assert layouts["docs"] == layouts["rows"]


def test_append_repartition_size_gate(spark, tmp_path):
    """Round-16 size gate on the partitioned-append collapse
    (sources/tables.py::append_repartition): a micro-batch append still
    lands ONE file per touched band partition (the round-15 small-files
    discipline), while a frame whose size estimate exceeds the collapse
    ceiling keeps the caller's write parallelism — it must NOT
    serialize onto ≤ distinct-partition-value tasks."""
    import glob

    from vector_db_example_spark.sources import tables
    from vector_db_example_spark.index.dedupidx import build_dedup_index, dedup_index_append

    def band_files(root: str) -> dict[int, int]:
        return {
            b: len(glob.glob(f"{root}/band={b}/*.parquet"))
            for b in range(8)
        }

    docs = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta text "), F.col("id").cast("string")).alias("text"),
    )
    batch = spark.range(64, 128).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("epsilon zeta eta theta text "), F.col("id").cast("string")).alias("text"),
    ).repartition(8).localCheckpoint(eager=True)

    # micro-batch append: the default ceiling collapses the write
    idx = build_dedup_index(docs, str(tmp_path / "idx_micro"))
    before = band_files(idx.path)
    dedup_index_append(idx, batch)
    delta_micro = {
        b: n - before[b] for b, n in band_files(idx.path).items()
    }
    assert all(n <= 1 for n in delta_micro.values()), delta_micro

    # "corpus-sized" append (ceiling patched to 1 byte): the collapse is
    # bypassed and the band write keeps the 8-partition input
    # parallelism — more than one file may land per band partition
    old = tables.APPEND_COLLAPSE_MAX_BYTES
    tables.APPEND_COLLAPSE_MAX_BYTES = 1
    try:
        idx2 = build_dedup_index(docs, str(tmp_path / "idx_big"))
        before2 = band_files(idx2.path)
        dedup_index_append(idx2, batch)
        delta_big = {
            b: n - before2[b] for b, n in band_files(idx2.path).items()
        }
    finally:
        tables.APPEND_COLLAPSE_MAX_BYTES = old
    # at 8 input partitions and 8 bands, at least one band partition
    # receives rows from >1 task — parallelism was preserved
    assert max(delta_big.values()) > 1, delta_big
    # and the two layouts hold identical rows either way
    from vector_db_example_spark.index.dedupidx import _read_bands

    rows_micro = sorted(map(tuple, _read_bands(spark, idx).collect()))
    rows_big = sorted(map(tuple, _read_bands(spark, idx2).collect()))
    assert rows_micro == rows_big


def test_narrow_materialized_rows_and_width(spark):
    """Round-16 post-checkpoint narrow (sources/tables.py): rows are
    untouched, micro-batch checkpoints coalesce to a row-count-derived
    width, and corpus-sized frames keep every partition (the
    scale-adaptive contract — never a local[32] constant)."""
    from vector_db_example_spark.sources.tables import (
        NARROW_ROWS_PER_PART,
        narrow_materialized,
    )

    ckpt = spark.range(0, 1000, 1, 32).localCheckpoint(eager=True)
    narrowed = narrow_materialized(ckpt, 1000)
    assert narrowed.rdd.getNumPartitions() == 1
    assert sorted(r["id"] for r in narrowed.collect()) == list(range(1000))

    # two target partitions' worth of rows -> width 2
    n2 = 2 * NARROW_ROWS_PER_PART
    ckpt2 = spark.range(0, n2, 1, 32).localCheckpoint(eager=True)
    assert narrow_materialized(ckpt2, n2).rdd.getNumPartitions() == 2

    # "corpus-sized" count: never widen, never shrink below current
    ckpt3 = spark.range(0, 64, 1, 4).localCheckpoint(eager=True)
    assert (
        narrow_materialized(ckpt3, 10_000_000).rdd.getNumPartitions() == 4
    )
