"""Dedup-gated crawl ingestion: the full training-data intake loop as
ONE Structured Streaming pipeline.

The reference's ingestion lifecycle is insert-then-search over an
accumulating collection (batched insert src/app.py:230, single insert
src/app.py:409, search src/app.py:248) with no admission control — every
row that arrives is embedded and stored. A 100 TB crawl pipeline cannot
afford that: the single highest-leverage transformation on raw crawl
data is refusing to store what it already has. This module composes the
package's persisted layouts into that intake loop, per micro-batch:

1. **filter** the batch against the persisted incremental-dedup layout
   (index/dedupidx.py::dedup_index_filter — one narrow (band, key)
   corpus scan restricted to the batch's keys by a broadcast
   semi-join, plus in verified mode a signature check that joins the
   candidates against a narrow scan of the signature side-car; the
   accepted corpus's text is never re-read),
2. **report** the per-document verdicts to a partitioned verdict sink
   (the curation audit trail: every dropped doc_id is attributable to a
   corpus collision or a within-batch collision),
3. **embed** the survivors (Arrow-batched pandas UDF,
   functions/embedding.py) and **append** them to the IVF layout via
   nearest-existing-centroid assignment (index/ivf.py::assign_cells) —
   survivors are vector-searchable at the next query with correct
   partition pruning, no refit,
4. **append** the survivors' band keys + signatures to the dedup layout
   (O(batch) blind partitioned append) — the NEXT micro-batch's filter
   sees them, so a duplicate arriving twice across batches is admitted
   exactly once.

Per-batch cost is O(batch) but for narrow scans: the corpus-sized
structures are touched only through column-pruned reads of derived
tables (dedup band keys, and signatures in verified mode — never the
corpus text) and partitioned appends (IVF cells), so a crawl batch's
admission cost grows far slower than what was already accepted
(measured curve: SCALING.md round-8, corpus 25× → band-filter 2.1×).

Delivery: foreachBatch is at-least-once, guarded by per-checkpoint
commit markers (fsio.canonical_token namespacing — the convention shared
with streaming/ingest.py and rollup.py). A replayed COMMITTED batch is a
no-op. A crash inside the multi-write window replays with these
outcomes. The verdict sink, IVF append, and postings append run as
OVERLAPPED jobs (sources/tables.py::overlapped, guide §2.6): their
relative order never mattered for replay because each is independently
idempotent, and a crash can interrupt any subset:

- verdict sink: per-batch dynamic partition overwrite — the replay
  rewrites its own ``__batch_id=`` partition, never duplicates.
- IVF append: the replay re-appends byte-identical rows;
  ``compact_ivf_index`` heals exactly that (full-row distinct over
  replayed rows — the package-wide at-least-once contract).
- dedup append (LAST data write, deliberately — it strictly follows
  the joined completion of the overlapped writes): if the crash hit
  after it, the replayed filter sees the batch's own survivor bands and
  flags them corpus_dup — the dedup re-append and IVF re-append are
  skipped (nothing duplicates; the IVF rows landed before the crash),
  and the replayed VERDICT partition over-reports corpus_dup for that
  one batch. Over-suppression in an audit row for a crash-replayed
  batch is the safe direction; ``dedup_index_compact`` /
  ``compact_ivf_index`` owe nothing here.

Batch sequencing: each foreachBatch invocation is a separate job, so a
filter planned in batch N+1 lists the dedup layout's files AFTER batch
N's append — the append-visibility hazard documented in
index/dedupidx.py (exchange reuse across pre/post-append scans) cannot
arise across micro-batches. Within one batch, the verdict frame is
eagerly materialized before any append, per the same rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsio
from ..functions.embedding import hashing_embedder
from ..index.dedupidx import (
    DedupIndex,
    dedup_index_append_rows,
    dedup_index_filter,
)
from ..index.ivf import IVFIndex, assign_cells
from ..sources.tables import append_repartition, overlapped


def stream_crawl_ingest(
    spark: SparkSession,
    source_dir: str,
    dedup_index: DedupIndex,
    ivf_index: IVFIndex,
    checkpoint_path: str,
    *,
    verdict_path: str | None = None,
    dim: int = 64,
    max_files_per_trigger: int | None = None,
    source_schema: str | None = None,
    benchmark_fps: DataFrame | None = None,
    inverted_index=None,
    verified: bool = False,
    sim_threshold: float = 0.5,
    candidate_cap: int = 64,
) -> dict[str, int]:
    """Run the dedup-gated intake loop over ``source_dir`` to completion
    (``availableNow`` — the periodic crawl-intake job shape: each
    invocation against the same checkpoint admits only files that
    arrived since the last run) and return
    ``{"batches": …, "seen": …, "accepted": …}`` totals for THIS run.

    ``max_files_per_trigger`` splits a backlog into bounded micro-batches
    (admission order = file modification time, the FileStreamSource
    contract) so one giant catch-up run cannot build a batch bigger than
    executor memory; each micro-batch still sees every earlier batch's
    survivors in the dedup layout.

    ``inverted_index`` optionally makes survivors TEXT-searchable too:
    each batch's admitted documents append their postings into the
    term-bucket layout (index/inverted.py::append_to_inverted_index —
    BM25-correct stats bumps, bucket-pruned reads), so the intake loop
    feeds BOTH retrieval modes the reference's hybrid search uses
    (vector src/app.py:248 + keyword fan-out src/app.py:313). It runs
    overlapped with the IVF append, strictly before the dedup-band
    append: a crash-window replay either re-appends byte-identical
    postings (healed by ``compact_inverted_index``, the package
    contract) or — past the dedup append — skips everything, same as
    the IVF story.

    ``benchmark_fps`` is the optional DECONTAMINATION gate: a 1-column
    ``(fp)`` frame of held-out benchmark fingerprints
    (operators/dedup.py::contamination_fingerprint over the benchmark
    corpus — compute once, reuse every run). Batch docs whose
    fingerprint collides are flagged ``contaminated`` and never
    admitted; the check is a broadcast semi-join per micro-batch, no
    batch shuffle. The three verdict flags are INDEPENDENT: a
    contaminated doc still participates in the within-batch band
    suppression (the pessimistic one-pass rule — over-suppression is
    the safe direction), and a doc can read both corpus_dup and
    contaminated. Without the gate the column is present and all-false,
    so the verdict sink's schema never depends on configuration.

    ``verified`` is the admission PRECISION dial: band collision alone
    proposes a drop, the MinHash similarity estimate disposes
    (index/dedupidx.py::dedup_index_filter at ``threshold=sim_threshold``
    — signature-equality fraction ≥ ``sim_threshold``, with
    ``candidate_cap`` mega-key routing so boilerplate keys auto-flag
    without pair enumeration). ``verified=False`` runs the same filter
    at ``threshold=0.0``, where every colliding key flags unverified
    and ``candidate_cap`` has no effect: the cheap recall-biased mode — on a
    replica-saturated corpus it suppressed 10,000/10,000 batch docs
    (SCALING.md round 9), the designed direction there, but a diverse
    real crawl false-drops genuinely new documents on single lucky
    bands — measured vs exact-Jaccard ground truth at sf0.1 (5,000
    distinct texts): band-only threw away 10.3% of a genuinely-new
    batch, verified mode 0% at 1.36× the filter wall
    (tools/false_drop_measure.py; SCALING.md round 10). Set
    ``verified=True`` for production crawls on diverse data; keep the
    default for replica-heavy backfills where over-suppression is the
    point. Verified mode joins the candidate pairs (≤ cap·batch_bands)
    against a narrow ``(id, sig)`` scan of the persisted signature
    side-car, so the corpus text is never re-read: like the band-key
    scan, it is a column-pruned read of a derived table, and each
    batch's append adds one file to it.

    ``source_schema`` defaults to the dedup handle's column names
    (``{id_col} long, {text_col} string``) — every sink stage addresses
    columns via the handle, so a custom-named index works without a
    matching schema string; pass one only when the crawl files carry
    extra columns.
    """
    if ivf_index.id_col != dedup_index.id_col:
        # Fail loudly up front: the IVF append below writes survivor rows
        # keyed by the dedup id column, so a handle pair whose id columns
        # disagree would persist parquet files lacking the column the IVF
        # layout's schema_json expects — every streamed row would read
        # back a NULL id (silent search corruption).
        raise ValueError(
            f"ivf_index.id_col={ivf_index.id_col!r} must equal "
            f"dedup_index.id_col={dedup_index.id_col!r}: the IVF append "
            "persists survivor rows keyed by the dedup id column"
        )
    embed = hashing_embedder(dim)
    id_col = dedup_index.id_col
    vec_col = ivf_index.vector_col
    if source_schema is None:
        source_schema = f"{id_col} long, {dedup_index.text_col} string"
    marker_dir = (
        f"{dedup_index.path}/_crawl_committed/{fsio.canonical_token(checkpoint_path)}"
    )
    fsio.mkdirs(marker_dir, spark)
    if benchmark_fps is not None:
        # Materialize the decontamination fingerprint set ONCE per run
        # (round 16, guide §1.2): the caller hands a lazy frame —
        # typically a full benchmark-corpus scan + md5 + distinct — and
        # the per-batch broadcast semi-join used to re-evaluate that
        # whole subtree every micro-batch. The values are deterministic
        # (md5 of fixed text), so the checkpoint changes nothing but
        # where the work happens: one job per run instead of one
        # benchmark-corpus pass per batch.
        benchmark_fps = benchmark_fps.localCheckpoint(eager=True)
    totals = {"batches": 0, "seen": 0, "accepted": 0}

    def sink_batch(batch: DataFrame, batch_id: int) -> None:
        marker = f"{marker_dir}/batch_{batch_id}"
        if fsio.exists(marker, spark):
            return
        # One evaluation of the filter's shingle+minhash kernel feeding
        # the verdict write, the survivor join, the counts, AND the
        # closing dedup append (the filter returns its materialized
        # (id, band, key, sig) checkpoint) — and a pre-append
        # materialization, so no later read of the layout can be
        # substituted for this one (index/dedupidx.py hazard note).
        verdicts, sig_rows = dedup_index_filter(
            spark,
            dedup_index,
            batch,
            threshold=sim_threshold if verified else 0.0,
            candidate_cap=candidate_cap,
        )
        if benchmark_fps is not None:
            from ..operators.dedup import contamination_fingerprint

            hits = (
                batch.select(
                    id_col,
                    contamination_fingerprint(F.col(dedup_index.text_col)).alias(
                        "fp"
                    ),
                )
                .join(F.broadcast(benchmark_fps), "fp", "left_semi")
                .select(id_col)
                .distinct()
            )
            verdicts = (
                verdicts.join(hits.withColumn("_b", F.lit(True)), id_col, "left")
                .withColumn("contaminated", F.coalesce("_b", F.lit(False)))
                .drop("_b")
            )
        else:
            verdicts = verdicts.withColumn("contaminated", F.lit(False))
        verdicts = verdicts.localCheckpoint(eager=True)

        def _write_verdicts() -> None:
            (
                verdicts.withColumn("__batch_id", F.lit(int(batch_id)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__batch_id")
                .parquet(verdict_path)
            )

        survivors = batch.join(
            verdicts.filter(
                ~F.col("corpus_dup")
                & ~F.col("within_dup")
                & ~F.col("contaminated")
            ).select(id_col),
            id_col,
        )
        # The verdict write, the embed+IVF leg, and the postings append
        # are mutually independent given the materialized verdicts, so
        # they run as OVERLAPPED jobs (sources/tables.py::overlapped —
        # in the streaming query's job group, every failure surfaced):
        # the next job's tasks back-fill executors freed by the previous
        # job's tail, and the driver-side commit phases overlap instead
        # of queueing. At-least-once replay is unchanged: ALL of these
        # precede the dedup-band append (still strictly LAST, below) and
        # each one replays idempotently on its own — verdicts via the
        # dynamic-partition overwrite, IVF and postings via compaction's
        # full-row distinct — whatever subset a crash interrupts (module
        # docstring).
        with overlapped(spark) as submit:
            if verdict_path is not None:
                submit(_write_verdicts)
            # Embed + assign once (localCheckpoint), feeding the IVF
            # append and the accepted count.
            assigned = (
                survivors.withColumn(
                    vec_col, embed(F.col(dedup_index.text_col))
                )
                .withColumn("cell_id", assign_cells(ivf_index, F.col(vec_col)))
                .localCheckpoint(eager=True)
            )
            n_seen, n_acc = verdicts.count(), assigned.count()

            def _append_ivf() -> None:
                # One file per touched cell per micro-batch, full
                # parallelism above the collapse ceiling (the
                # package-wide size-gated append discipline —
                # sources/tables.py::append_repartition).
                append_repartition(assigned, "cell_id").write.partitionBy(
                    "cell_id"
                ).mode("append").parquet(ivf_index.path)

            submit(_append_ivf)
            if inverted_index is not None and n_acc:
                from ..index.inverted import append_to_inverted_index

                append_to_inverted_index(
                    inverted_index, assigned.drop(vec_col, "cell_id")
                )
        # Dedup append LAST (module docstring: the crash-replay outcomes
        # depend on this ordering). Feeds the filter's own materialized
        # sig/band checkpoint restricted to the survivors — zero
        # recompute, byte-identical rows (dedup_index_append_rows).
        dedup_index_append_rows(
            dedup_index,
            sig_rows.join(
                F.broadcast(assigned.select(id_col)), id_col, "left_semi"
            ),
        )
        fsio.write_text(marker, f'{{"seen": {n_seen}, "accepted": {n_acc}}}', spark)
        totals["batches"] += 1
        totals["seen"] += n_seen
        totals["accepted"] += n_acc

    stream = (
        spark.readStream.schema(source_schema)
        .format("parquet")
        .option("pathGlobFilter", "*.parquet")
    )
    if max_files_per_trigger is not None:
        stream = stream.option("maxFilesPerTrigger", int(max_files_per_trigger))
    q = (
        stream.load(source_dir)
        .writeStream.foreachBatch(sink_batch)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return totals
