"""Dedup-gated crawl ingestion (streaming/crawl.py): multi-batch
sequencing, cross-run checkpoint resume, replay idempotence, and
end-to-end search parity of the composed intake loop."""

from __future__ import annotations

import glob
import json
import math
import os
import shutil

import pytest
from pyspark.sql import functions as F

from vector_db_example_spark.functions.embedding import hash_embed_one
from vector_db_example_spark.functions.embedding import hashing_embedder
from vector_db_example_spark.index.dedupidx import build_dedup_index
from vector_db_example_spark.index.ivf import build_ivf_index, ivf_search
from vector_db_example_spark.streaming.crawl import stream_crawl_ingest

DOC_SCHEMA = "doc_id long, text string"

# Distinct multi-token texts: exact copies collide on every band;
# distinct texts share no shingles, so they cannot collide (a band key
# is an md5 of minhash slices over the shingle set).
CORPUS = [
    (0, "relational algebra defines closed operators over typed relations"),
    (1, "physical data independence separates storage layout from schema"),
    (2, "a candidate key uniquely identifies every tuple in a relation"),
]
FRESH_B0 = (100, "write ahead logging makes committed transactions durable")
DUP_OF_CORPUS_B0 = (101, CORPUS[1][1])
WITHIN_A_B0 = (102, "cost based optimizers enumerate join orders with dynamic programming")
WITHIN_B_B0 = (103, "cost based optimizers enumerate join orders with dynamic programming")
COPY_OF_B0_SURVIVOR_B1 = (200, FRESH_B0[1])
FRESH_B1 = (201, "snapshot isolation reads a consistent version without locking")
COPY_OF_B1_SURVIVOR_B2 = (300, FRESH_B1[1])
FRESH_B2 = (301, "bloom filters answer set membership with one sided error")


def _write_batch_file(spark, tmp_path, name, rows, mtime):
    """One parquet file per crawl batch, modification time pinned so the
    FileStreamSource admission order (mtime ascending) is deterministic."""
    stage = str(tmp_path / f"_stage_{name}")
    spark.createDataFrame(rows, DOC_SCHEMA).coalesce(1).write.mode("overwrite").parquet(
        stage
    )
    src_dir = tmp_path / "src"
    src_dir.mkdir(exist_ok=True)
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    dest = str(src_dir / f"{name}.parquet")
    shutil.copyfile(part, dest)
    os.utime(dest, (mtime, mtime))
    shutil.rmtree(stage, ignore_errors=True)
    return str(src_dir)


def _build_indexes(spark, tmp_path):
    corpus = spark.createDataFrame(CORPUS, DOC_SCHEMA)
    didx = build_dedup_index(corpus, str(tmp_path / "dedup"))
    embedded = corpus.withColumn("embedding", hashing_embedder(64)(F.col("text")))
    vidx = build_ivf_index(
        embedded, str(tmp_path / "ivf"), nlist=2, id_col="doc_id", train_sample=100
    )
    return didx, vidx


def _verdict_map(spark, verdict_path):
    rows = spark.read.parquet(verdict_path).collect()
    return {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"], r["__batch_id"]) for r in rows
    }


@pytest.fixture()
def crawl_env(spark, tmp_path):
    didx, vidx = _build_indexes(spark, tmp_path)
    src_dir = _write_batch_file(spark, tmp_path, "b0", [FRESH_B0, DUP_OF_CORPUS_B0, WITHIN_A_B0, WITHIN_B_B0], 1_000_000_000)
    _write_batch_file(spark, tmp_path, "b1", [COPY_OF_B0_SURVIVOR_B1, FRESH_B1], 1_000_000_100)
    return didx, vidx, src_dir


def test_in_run_sequencing_and_verdicts(spark, tmp_path, crawl_env):
    """maxFilesPerTrigger=1 splits the backlog into mtime-ordered
    micro-batches; batch 1's filter must see batch 0's survivor bands
    (the within-run append-visibility contract)."""
    didx, vidx, src_dir = crawl_env
    verdicts = str(tmp_path / "verdicts")
    totals = stream_crawl_ingest(
        spark,
        src_dir,
        didx,
        vidx,
        str(tmp_path / "ckpt"),
        verdict_path=verdicts,
        max_files_per_trigger=1,
    )
    assert totals == {"batches": 2, "seen": 6, "accepted": 3}
    vm = _verdict_map(spark, verdicts)
    # b0: fresh survives; corpus plant flagged; within pair keeps min id.
    assert vm[100] == (False, False, 0)
    assert vm[101] == (True, False, 0)
    assert vm[102] == (False, False, 0)
    assert vm[103] == (False, True, 0)
    # b1: the copy of b0's survivor is now a CORPUS dup (bands appended
    # by the earlier micro-batch of the same run); the fresh doc lives.
    assert vm[200] == (True, False, 1)
    assert vm[201] == (False, False, 1)


def test_cross_run_resume_and_search_parity(spark, tmp_path, crawl_env):
    """Second availableNow run against the same checkpoint admits only
    the file that arrived in between; the final IVF layout answers
    exactly like brute force over corpus + every accepted survivor."""
    didx, vidx, src_dir = crawl_env
    ckpt = str(tmp_path / "ckpt")
    verdicts = str(tmp_path / "verdicts")
    t1 = stream_crawl_ingest(
        spark, src_dir, didx, vidx, ckpt, verdict_path=verdicts,
        max_files_per_trigger=1,
    )
    assert t1["accepted"] == 3
    _write_batch_file(
        spark, tmp_path, "b2", [COPY_OF_B1_SURVIVOR_B2, FRESH_B2], 1_000_000_200
    )
    t2 = stream_crawl_ingest(
        spark, src_dir, didx, vidx, ckpt, verdict_path=verdicts,
        max_files_per_trigger=1,
    )
    # Only b2 is new: its survivor-copy is suppressed, its fresh doc kept.
    assert t2 == {"batches": 1, "seen": 2, "accepted": 1}
    vm = _verdict_map(spark, verdicts)
    assert vm[300][:2] == (True, False)
    assert vm[301][:2] == (False, False)

    accepted = {0, 1, 2, 100, 102, 201, 301}
    qtext = "bloom filters answer membership"
    qv = hash_embed_one(qtext, 64)
    hits = ivf_search(spark, vidx, qv, k=4, nprobe=2).collect()
    texts = dict(CORPUS + [FRESH_B0, WITHIN_A_B0, FRESH_B1, FRESH_B2])
    brute = sorted(
        (
            math.sqrt(
                sum((a - b) ** 2 for a, b in zip(hash_embed_one(texts[i], 64), qv))
            ),
            i,
        )
        for i in accepted
    )[:4]
    assert [(h["doc_id"]) for h in hits] == [i for _, i in brute]
    assert [round(h["distance"], 6) for h in hits] == [round(d, 6) for d, _ in brute]


def test_replay_is_a_noop(spark, tmp_path, crawl_env):
    """A third run with no new files must process nothing and leave both
    layouts byte-stable (markers short-circuit replayed batches)."""
    didx, vidx, src_dir = crawl_env
    ckpt = str(tmp_path / "ckpt")
    stream_crawl_ingest(spark, src_dir, didx, vidx, ckpt, max_files_per_trigger=1)
    bands_before = spark.read.parquet(didx.path).count()
    ivf_before = spark.read.parquet(vidx.path).count()
    t = stream_crawl_ingest(spark, src_dir, didx, vidx, ckpt, max_files_per_trigger=1)
    assert t == {"batches": 0, "seen": 0, "accepted": 0}
    assert spark.read.parquet(didx.path).count() == bands_before
    assert spark.read.parquet(vidx.path).count() == ivf_before


def test_late_crash_replay_never_duplicates(spark, tmp_path, crawl_env):
    """The worst at-least-once window: a crash AFTER every data write
    but BEFORE the commit marker. The replayed filter sees the batch's
    own survivor bands (dedup append is deliberately the LAST data
    write), so the replay appends nothing anywhere — layouts stay
    byte-stable — and the verdict partition over-reports corpus_dup for
    the replayed batch, the documented safe direction."""
    didx, vidx, src_dir = crawl_env
    ckpt = str(tmp_path / "ckpt")
    verdicts = str(tmp_path / "verdicts")
    stream_crawl_ingest(
        spark, src_dir, didx, vidx, ckpt, verdict_path=verdicts,
        max_files_per_trigger=1,
    )
    bands_before = spark.read.parquet(didx.path).count()
    ivf_before = spark.read.parquet(vidx.path).count()
    # Simulate the crash window: the streaming checkpoint is gone (the
    # job died before checkpointing progress) and no markers exist, so
    # BOTH batches redeliver against fully-committed layout state.
    shutil.rmtree(ckpt)
    for f in glob.glob(f"{didx.path}/_crawl_committed/*/batch_*"):
        os.remove(f)
    t = stream_crawl_ingest(
        spark, src_dir, didx, vidx, ckpt, verdict_path=verdicts,
        max_files_per_trigger=1,
    )
    assert t["accepted"] == 0  # every former survivor reads corpus_dup
    assert spark.read.parquet(didx.path).count() == bands_before
    assert spark.read.parquet(vidx.path).count() == ivf_before
    vm = _verdict_map(spark, verdicts)
    assert vm[100][:2] == (True, False)  # over-reported, documented
    assert vm[101][:2] == (True, False)


def test_crawl_stream_matches_model(spark, tmp_path):
    """The whole streamed loop — N sequential crawl runs against one
    checkpoint — must produce exactly the verdicts of the pure-Python
    band model (test_dedupidx's model_filter) iterated batch-by-batch,
    and the IVF layout must hold exactly the model's survivor set.
    Word-soup texts over a tiny vocabulary make cross-batch duplicates
    arise naturally."""
    from test_dedupidx import model_bands, model_filter

    corpus = [
        (0, "alpha beta gamma delta"),
        (1, "beta gamma delta epsilon"),
        (2, "zeta eta theta alpha"),
    ]
    batches = [
        [(100, "alpha beta gamma delta"), (101, "eta theta alpha beta"),
         (102, "eta theta alpha beta")],
        [(200, "eta theta alpha beta"), (201, "delta epsilon zeta eta")],
        [(300, "delta epsilon zeta eta"), (301, "gamma beta alpha")],
    ]
    cdf = spark.createDataFrame(corpus, DOC_SCHEMA)
    didx = build_dedup_index(cdf, str(tmp_path / "dedup"))
    empty = spark.createDataFrame([], "doc_id long, text string, embedding array<float>")
    vidx = build_ivf_index(empty, str(tmp_path / "ivf"), dim=64, id_col="doc_id")
    ckpt = str(tmp_path / "ckpt")
    verdicts = str(tmp_path / "verdicts")

    keys = set().union(*(model_bands(t) for _, t in corpus))
    expected_accepted: set[int] = set()
    for n, batch in enumerate(batches):
        src_dir = _write_batch_file(
            spark, tmp_path, f"b{n}", batch, 1_000_000_000 + 100 * n
        )
        stream_crawl_ingest(
            spark, src_dir, didx, vidx, ckpt, verdict_path=verdicts,
            max_files_per_trigger=1,
        )
        expect = model_filter(keys, batch)
        got = {
            r["doc_id"]: (r["corpus_dup"], r["within_dup"])
            for r in spark.read.parquet(verdicts)
            .filter(F.col("__batch_id") == n)
            .collect()
        }
        assert got == expect, f"batch {n}"
        surv = [(i, t) for i, t in batch if expect[i] == (False, False)]
        keys |= set().union(*(model_bands(t) for _, t in surv)) if surv else set()
        expected_accepted |= {i for i, _ in surv}

    ivf_ids = {r["doc_id"] for r in spark.read.parquet(vidx.path).collect()}
    assert ivf_ids == expected_accepted


def test_takedown_between_runs_readmits(spark, tmp_path):
    """The operational takedown sequence at the crawl-loop level: a doc
    admitted by run 1 is deleted from the dedup layout (takedown); run
    2's copy of it must be READMITTED (and re-indexed) instead of being
    suppressed by the removed doc's stale bands."""
    from vector_db_example_spark.index.dedupidx import dedup_index_delete

    didx, vidx = _build_indexes(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")
    src_dir = _write_batch_file(spark, tmp_path, "b0", [FRESH_B0], 1_000_000_000)
    t0 = stream_crawl_ingest(spark, src_dir, didx, vidx, ckpt, max_files_per_trigger=1)
    assert t0["accepted"] == 1
    assert dedup_index_delete(spark, didx, [FRESH_B0[0]]) == 1
    _write_batch_file(
        spark, tmp_path, "b1", [(999, FRESH_B0[1])], 1_000_000_100
    )
    t1 = stream_crawl_ingest(spark, src_dir, didx, vidx, ckpt, max_files_per_trigger=1)
    assert t1 == {"batches": 1, "seen": 1, "accepted": 1}
    ivf_ids = {r["doc_id"] for r in spark.read.parquet(vidx.path).collect()}
    # Both generations are in the vector layout (the takedown's vector-
    # side removal is ivf_delete_lazy's job, out of the dedup gate's
    # scope); the dedup layout admits the re-crawled text exactly once.
    assert {FRESH_B0[0], 999} <= ivf_ids


def test_first_crawl_bootstrap_from_declared_empty_layouts(spark, tmp_path):
    """The very first crawl: BOTH layouts declared empty before any
    document exists (the reference's create-collection-then-insert
    lifecycle). Batch 0 dedups only against itself, its survivors seed
    the layouts, and batch 1 dedups against them — no special-case code
    anywhere, the declared-empty read paths just work."""
    from vector_db_example_spark.index.dedupidx import build_dedup_index
    from vector_db_example_spark.index.ivf import build_ivf_index

    didx = build_dedup_index(
        spark.createDataFrame([], DOC_SCHEMA), str(tmp_path / "dedup")
    )
    vidx = build_ivf_index(
        spark.createDataFrame([], "doc_id long, text string, embedding array<float>"),
        str(tmp_path / "ivf"),
        dim=64,
        id_col="doc_id",
    )
    src_dir = _write_batch_file(
        spark, tmp_path, "b0", [FRESH_B0, WITHIN_A_B0, WITHIN_B_B0], 1_000_000_000
    )
    _write_batch_file(
        spark, tmp_path, "b1", [COPY_OF_B0_SURVIVOR_B1, FRESH_B1], 1_000_000_100
    )
    verdicts = str(tmp_path / "verdicts")
    totals = stream_crawl_ingest(
        spark, src_dir, didx, vidx, str(tmp_path / "ckpt"),
        verdict_path=verdicts, max_files_per_trigger=1,
    )
    assert totals == {"batches": 2, "seen": 5, "accepted": 3}
    vm = _verdict_map(spark, verdicts)
    assert vm[100] == (False, False, 0)   # nothing to collide with
    assert vm[103] == (False, True, 0)    # within pair still applies
    assert vm[200] == (True, False, 1)    # batch 0's survivor suppresses
    ivf_ids = {r["doc_id"] for r in spark.read.parquet(vidx.path).collect()}
    assert ivf_ids == {100, 102, 201}


def test_decontamination_gate_blocks_benchmark_docs(spark, tmp_path):
    """A batch doc whose normalized-prefix fingerprint collides with the
    benchmark set is flagged contaminated and never admitted — while
    flags stay independent (a corpus dup that is also benchmark text
    reads both) and contaminated docs still exert within-batch band
    suppression (the pessimistic one-pass rule)."""
    from vector_db_example_spark.operators.dedup import contamination_fingerprint

    didx, vidx = _build_indexes(spark, tmp_path)
    bench_text = "snapshot isolation reads a consistent version without locking"
    bench = spark.createDataFrame([(bench_text,)], "text string").select(
        contamination_fingerprint(F.col("text")).alias("fp")
    )
    batch = [
        (100, bench_text),               # contaminated only
        (101, bench_text),               # contaminated AND within (100 suppresses)
        (102, CORPUS[0][1]),             # corpus dup only
        (103, "bloom filters answer set membership with one sided error"),  # clean
    ]
    src_dir = _write_batch_file(spark, tmp_path, "b0", batch, 1_000_000_000)
    verdicts = str(tmp_path / "verdicts")
    totals = stream_crawl_ingest(
        spark, src_dir, didx, vidx, str(tmp_path / "ckpt"),
        verdict_path=verdicts, max_files_per_trigger=1, benchmark_fps=bench,
    )
    assert totals == {"batches": 1, "seen": 4, "accepted": 1}
    rows = {
        r["doc_id"]: (r["corpus_dup"], r["within_dup"], r["contaminated"])
        for r in spark.read.parquet(verdicts).collect()
    }
    assert rows[100] == (False, False, True)
    assert rows[101] == (False, True, True)
    assert rows[102] == (True, False, False)
    assert rows[103] == (False, False, False)
    ivf_ids = {r["doc_id"] for r in spark.read.parquet(vidx.path).collect()}
    assert 103 in ivf_ids and not {100, 101, 102} & ivf_ids


def test_inverted_sink_makes_survivors_text_searchable(spark, tmp_path, crawl_env):
    """With the inverted sink attached, streamed survivors must answer a
    BM25 query exactly like an index freshly built over corpus +
    survivors — the intake loop feeding BOTH retrieval modes."""
    from vector_db_example_spark.index.inverted import (
        bm25_search_inverted,
        build_inverted_index,
    )

    didx, vidx, src_dir = crawl_env
    corpus = spark.createDataFrame(CORPUS, DOC_SCHEMA)
    iidx = build_inverted_index(corpus, str(tmp_path / "inv"))
    totals = stream_crawl_ingest(
        spark, src_dir, didx, vidx, str(tmp_path / "ckpt"),
        max_files_per_trigger=1, inverted_index=iidx,
    )
    assert totals["accepted"] == 3
    survivors = spark.createDataFrame(
        [FRESH_B0, WITHIN_A_B0, FRESH_B1], DOC_SCHEMA
    )
    fresh = build_inverted_index(
        corpus.unionByName(survivors), str(tmp_path / "inv_fresh")
    )
    terms = ["logging", "transactions", "storage"]
    got = [
        (r["doc_id"], round(r["bm25"], 9))
        for r in bm25_search_inverted(spark, iidx, terms, k=5).collect()
    ]
    want = [
        (r["doc_id"], round(r["bm25"], 9))
        for r in bm25_search_inverted(spark, fresh, terms, k=5).collect()
    ]
    assert got == want and len(got) > 0


def test_marker_records_batch_counts(spark, tmp_path, crawl_env):
    """Commit markers carry the per-batch admission report (the crawl
    job's operational breadcrumb)."""
    didx, vidx, src_dir = crawl_env
    stream_crawl_ingest(
        spark, src_dir, didx, vidx, str(tmp_path / "ckpt"), max_files_per_trigger=1
    )
    marker_root = f"{didx.path}/_crawl_committed"
    files = glob.glob(f"{marker_root}/*/batch_*")
    assert len(files) == 2
    reports = sorted(
        (json.loads(open(f).read()) for f in files), key=lambda r: r["seen"]
    )
    assert reports == [{"seen": 2, "accepted": 1}, {"seen": 4, "accepted": 2}]


def test_overlapped_writes_keep_the_callers_job_group(spark):
    """A write submitted through ``sources/tables.py::overlapped`` runs
    with the caller's local properties: its jobs land in the caller's
    job group (so cancelling a streaming query's group cancels them),
    where a bare pool thread starts from an empty JVM thread."""
    import uuid
    from concurrent.futures import ThreadPoolExecutor

    from vector_db_example_spark.sources.tables import overlapped

    sc = spark.sparkContext
    group = f"overlap-{uuid.uuid4().hex}"
    seen = {}

    def job(tag):
        def run():
            seen[tag] = sc.getLocalProperty("spark.jobGroup.id")
            spark.range(10).count()

        return run

    sc.setJobGroup(group, group)
    try:
        with overlapped(spark) as submit:
            submit(job("overlapped"))
        with ThreadPoolExecutor(max_workers=1) as pool:
            pool.submit(job("bare")).result()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert seen == {"overlapped": group, "bare": None}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1


def test_overlapped_writes_see_the_callers_session(spark, tmp_path):
    """A function submitted through ``overlapped`` runs with the
    caller's session active on its thread, so an ``fsio`` call that
    takes no ``spark`` works there as it does on the caller's thread."""
    from vector_db_example_spark import fsio
    from vector_db_example_spark.sources.tables import overlapped

    seen = []
    with overlapped(spark) as submit:
        submit(lambda: seen.append(fsio.exists(str(tmp_path))))
    assert seen == [True]


def test_failing_inverted_append_surfaces_ivf_failure(
    spark, tmp_path, crawl_env, monkeypatch
):
    """The postings append runs on the sink's own thread while the IVF
    append overlaps it. When both fail, the postings failure is raised
    and the IVF failure is attached to it, never dropped."""
    from vector_db_example_spark.index import inverted
    from vector_db_example_spark.index.inverted import build_inverted_index
    from vector_db_example_spark.streaming import crawl

    didx, vidx, src_dir = crawl_env
    iidx = build_inverted_index(
        spark.createDataFrame(CORPUS, DOC_SCHEMA), str(tmp_path / "inv")
    )

    def fail(what):
        def raise_(*a, **k):
            raise RuntimeError(f"{what} append failed")

        return raise_

    monkeypatch.setattr(inverted, "append_to_inverted_index", fail("postings"))
    monkeypatch.setattr(crawl, "append_repartition", fail("ivf"))
    with pytest.raises(Exception) as err:
        stream_crawl_ingest(
            spark, src_dir, didx, vidx, str(tmp_path / "ckpt"),
            max_files_per_trigger=1, inverted_index=iidx,
        )
    assert "postings append failed" in str(err.value)
    assert "ivf append failed" in str(err.value)


def test_mismatched_id_cols_raise(spark, tmp_path, crawl_env):
    """An IVF handle whose id column differs from the dedup handle's
    must be rejected up front — the append would otherwise persist rows
    missing the column the IVF schema expects (NULL ids on every read;
    advisor finding, round 9)."""
    didx, _vidx, src_dir = crawl_env
    corpus = spark.createDataFrame(CORPUS, DOC_SCHEMA)
    embedded = corpus.withColumn(
        "embedding", hashing_embedder(64)(F.col("text"))
    ).withColumnRenamed("doc_id", "vec_id")
    bad_vidx = build_ivf_index(
        embedded, str(tmp_path / "ivf_bad"), nlist=2, train_sample=100
    )
    with pytest.raises(ValueError, match="id_col"):
        stream_crawl_ingest(
            spark, src_dir, didx, bad_vidx, str(tmp_path / "ckpt_bad")
        )


def test_custom_column_names_roundtrip(spark, tmp_path):
    """Handles with non-default column names flow through the whole
    loop: the source schema defaults from the dedup handle, the IVF
    append writes the handle's vector_col, and a post-ingest search
    reads back real ids and vectors (the silent-NULL corruption the
    round-9 advisor flagged)."""
    schema = "docid long, body string"
    corpus = spark.createDataFrame(
        [(i, t) for i, t in CORPUS], schema
    )
    didx = build_dedup_index(
        corpus, str(tmp_path / "dedup_c"), id_col="docid", text_col="body"
    )
    embedded = corpus.withColumn("vec", hashing_embedder(64)(F.col("body")))
    vidx = build_ivf_index(
        embedded,
        str(tmp_path / "ivf_c"),
        nlist=2,
        vector_col="vec",
        id_col="docid",
        train_sample=100,
    )
    stage = str(tmp_path / "_stage_c")
    spark.createDataFrame(
        [FRESH_B0, DUP_OF_CORPUS_B0], schema
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    src_dir = tmp_path / "src_c"
    src_dir.mkdir()
    part = glob.glob(f"{stage}/part-*.parquet")[0]
    shutil.copyfile(part, str(src_dir / "b0.parquet"))
    totals = stream_crawl_ingest(
        spark, str(src_dir), didx, vidx, str(tmp_path / "ckpt_c")
    )
    assert totals == {"batches": 1, "seen": 2, "accepted": 1}
    qv = hash_embed_one(FRESH_B0[1], 64)
    hits = ivf_search(spark, vidx, qv, k=1, nprobe=2).collect()
    assert [r["docid"] for r in hits] == [FRESH_B0[0]]
    assert math.isclose(hits[0]["distance"], 0.0, abs_tol=1e-9)


# A deterministic band-collision/low-similarity pair (found by offline
# search over the exact md5 shingle/minhash algebra): BAND_NEARMISS
# shares exactly one LSH band key with CORPUS_A but only 5/16 signature
# positions (estimate 0.3125) — the band-only gate false-drops it, the
# verified gate admits it.
CORPUS_A = (
    10,
    "distributed query engines partition relational data across many worker nodes for scale",
)
BAND_NEARMISS = (
    110,
    "distributed query engines partition relational data across many bravo foxtrot oscar delta kilo oscar oscar",
)
EXACT_COPY_OF_A = (111, CORPUS_A[1])


def _verified_env(spark, tmp_path):
    corpus = spark.createDataFrame([CORPUS_A] + CORPUS, DOC_SCHEMA)
    didx = build_dedup_index(corpus, str(tmp_path / "dedup"))
    embedded = corpus.withColumn("embedding", hashing_embedder(64)(F.col("text")))
    vidx = build_ivf_index(
        embedded, str(tmp_path / "ivf"), nlist=2, id_col="doc_id", train_sample=100
    )
    return didx, vidx


def test_verified_mode_admits_band_near_miss(spark, tmp_path):
    """The precision dial: a batch doc that shares ONE lucky band with a
    corpus doc but fails the similarity estimate is dropped by the
    band-only gate and ADMITTED by the verified gate; an exact copy is
    dropped by both (sim=1.0)."""
    rows = [BAND_NEARMISS, EXACT_COPY_OF_A, FRESH_B0]
    for mode, expect_nearmiss_dropped in ((False, True), (True, False)):
        sub = str(tmp_path / f"m{int(mode)}")
        os.makedirs(sub)
        from pathlib import Path

        base = Path(sub)
        didx, vidx = _verified_env(spark, base)
        src_dir = _write_batch_file(spark, base, "b0", rows, 1_000_000_000)
        stream_crawl_ingest(
            spark,
            src_dir,
            didx,
            vidx,
            f"{sub}/ckpt",
            verdict_path=f"{sub}/verdicts",
            verified=mode,
        )
        v = _verdict_map(spark, f"{sub}/verdicts")
        assert v[EXACT_COPY_OF_A[0]][0] is True  # exact copy: both modes drop
        assert v[FRESH_B0[0]] == (False, False, 0)  # fresh: both modes admit
        assert v[BAND_NEARMISS[0]][0] is expect_nearmiss_dropped


def test_verified_mode_cross_batch_sequencing(spark, tmp_path):
    """Verified mode's batch-1 verification join must see batch 0's
    APPENDED signatures (not just band keys): an exact copy of a batch-0
    survivor arriving in batch 1 verifies at sim=1.0 and is dropped."""
    didx, vidx = _verified_env(spark, tmp_path)
    src_dir = _write_batch_file(spark, tmp_path, "b0", [FRESH_B0], 1_000_000_000)
    _write_batch_file(spark, tmp_path, "b1", [COPY_OF_B0_SURVIVOR_B1, FRESH_B1], 1_000_000_100)
    totals = stream_crawl_ingest(
        spark,
        src_dir,
        didx,
        vidx,
        str(tmp_path / "ckpt"),
        verdict_path=str(tmp_path / "verdicts"),
        max_files_per_trigger=1,
        verified=True,
    )
    assert totals == {"batches": 2, "seen": 3, "accepted": 2}
    v = _verdict_map(spark, str(tmp_path / "verdicts"))
    assert v[FRESH_B0[0]] == (False, False, 0)
    assert v[COPY_OF_B0_SURVIVOR_B1[0]] == (True, False, 1)
    assert v[FRESH_B1[0]] == (False, False, 1)


def test_production_bench_twin_reruns_are_byte_identical(spark):
    """The bench twin reuses session-cached PRISTINE index builds and
    gives every run a throwaway copy (queries/streaming_q.py
    ``reuse_builds``). The hazard being pinned: the stream APPENDS
    survivors to its layouts, so any accidental reuse of a mutated
    layout would flip the second run's verdicts (every survivor would
    read as corpus_dup) and change both retrieval legs. Two consecutive
    runs must return identical rows — and actually exercise the cache
    (one pristine build, present in the memo after the first run)."""
    from vector_db_example_spark.queries import QUERIES
    from vector_db_example_spark.queries.streaming_q import (
        _PRISTINE_PRODUCTION_BUILDS,
        _PRODUCTION_BENCH_SLICE,
    )

    fn = QUERIES["stream_crawl_production_bench"].fn
    sf_dir = "/root/testdata/sf0.001"
    r1 = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert ("/root/testdata/sf0.001", _PRODUCTION_BENCH_SLICE) in (
        _PRISTINE_PRODUCTION_BUILDS
    )
    r2 = sorted(map(tuple, fn(spark, sf_dir).collect()))
    assert r1 == r2
    assert len(r1) > 0
    # survivors exist in this configuration — the second run re-admitting
    # them is exactly what the pristine copy guarantees
    assert any(row[0] == "b0" and row[2] == 0 and row[3] == 0 for row in r1)


def test_every_engine_write_is_zstd(spark, tmp_path, crawl_env):
    """The session default makes every parquet file the engine writes
    zstd-compressed: the builds, appends and compactions of the IVF,
    inverted, dedup and LSH layouts (side-tables included) and one
    crawl batch with its verdict sink. Parquet records the codec per
    column chunk, so every chunk's footer is checked."""
    from conftest import parquet_codecs

    from vector_db_example_spark.index.dedupidx import dedup_index_compact
    from vector_db_example_spark.index.inverted import (
        build_inverted_index,
        compact_inverted_index,
    )
    from vector_db_example_spark.index.ivf import compact_ivf_index
    from vector_db_example_spark.index.lsh import (
        build_lsh_layout,
        compact_lsh_layout,
        lsh_append,
    )

    didx, vidx, src_dir = crawl_env
    corpus = spark.createDataFrame(CORPUS, DOC_SCHEMA)
    iidx = build_inverted_index(corpus, str(tmp_path / "inv"))
    embed = hashing_embedder(64)
    lidx = build_lsh_layout(
        corpus.withColumn("embedding", embed(F.col("text"))),
        str(tmp_path / "lsh"), dim=64, id_col="doc_id",
    )
    lsh_append(
        lidx,
        spark.createDataFrame([FRESH_B2], DOC_SCHEMA).withColumn(
            "embedding", embed(F.col("text"))
        ),
    )
    totals = stream_crawl_ingest(
        spark, src_dir, didx, vidx, str(tmp_path / "ckpt"),
        verdict_path=str(tmp_path / "verdicts"), inverted_index=iidx,
    )
    assert totals["batches"] == 1 and totals["accepted"] > 0
    compact_ivf_index(spark, vidx, str(tmp_path / "ivf_c"))
    compact_inverted_index(spark, iidx, str(tmp_path / "inv_c"))
    dedup_index_compact(spark, didx, str(tmp_path / "dedup_c"))
    compact_lsh_layout(spark, lidx, str(tmp_path / "lsh_c"))

    codecs = parquet_codecs(tmp_path)
    roots = {p.split(os.sep)[0] for p, chunks in codecs.items() if chunks}
    assert {
        "ivf", "ivf_c", "inv", "inv_c", "dedup", "dedup_sigs", "dedup_c",
        "dedup_c_sigs", "lsh", "lsh_c", "verdicts",
    } <= roots
    assert {p: c for p, c in codecs.items() if c - {"ZSTD"}} == {}
