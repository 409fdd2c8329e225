"""Persisted incremental-dedup layout: MinHash band keys as an index.

The batch dedup operators (operators/dedup.py) answer "which documents in
THIS frame are near-duplicates of each other" — one shot, whole corpus.
A 100 TB training-data pipeline almost never asks that question twice:
after the first global pass, every subsequent crawl batch needs "which of
these NEW documents duplicate anything we already kept?", and
re-shingling petabytes of accepted corpus per batch is exactly the
recompute this layout exists to avoid (the reference's collection is the
same shape: an accumulating store that new inserts extend and later
queries are checked against — create_collection src/app.py:81, batched
insert src/app.py:230, single insert src/app.py:409).

The layout persists the corpus's LSH band keys — ``(id, band, key)``,
one 16-byte md5 digest per band (8 by default) per document via the
same shingle → minhash → band pipeline as ``minhash_near_duplicates``
(operators/dedup.py:84,99) — partitioned by ``band``, plus a signature
side-car ``(id, sig)`` of ``n_hashes`` 16-byte digests, one unpartitioned
table. Every hash is the binary form of the hex string the
batch operators and the SQL oracles compute (``key = unhex(
lsh_band_keys(...).key)``, ``sig[i] = unhex(minhash_signature(...)[i])``
— a bijection, so every equality the layout tests is the hex one), at
half the bytes. This is the one stored format: ``DedupIndex.load``
rejects a meta from before it (rebuild such a layout to upgrade).
``dedup_index_filter`` checks a batch with:

1. one narrow scan of the layout reading just ``(band, key)`` (column
   pruning; the text/shingles of the accepted corpus are never touched
   again), streamed through a broadcast semi-join against the batch's
   own keys and counted per colliding key,
2. at ``threshold > 0``, a MinHash similarity check of the under-cap
   candidates, joined against a narrow scan of the signature side-car,
3. a groupBy-min within the batch for the intra-batch verdicts
   (map-side combine; never a collect).

Appending accepted survivors is a blind partitioned parquet append of
their band and signature rows — O(batch), never a corpus rewrite.

Semantics (documented, deterministic, single-pass), for the filter's
``threshold`` t and ``candidate_cap`` c:

- ``corpus_dup``: the document shares ≥1 ``(band, key)`` with the live
  layout — the standard LSH candidate test — and either that key is
  held by more than c corpus docs (a mega-key: flagged unverified) or
  the MinHash estimate against one of its holders is ≥ t. Exact
  duplicates always collide (identical text ⇒ identical signature ⇒
  all bands equal); near-duplicates collide with the usual banding
  probability.
- ``within_dup`` (among non-corpus-dup batch docs only): the document
  shares ≥1 band key with a LOWER-id batch document that is itself not
  a corpus dup, under the same cap/estimate rule. This is the
  pessimistic one-pass rule — a doc can be suppressed by an earlier
  doc that was itself suppressed by a still earlier one — chosen
  because it needs no iteration (greedy-sequential semantics need a
  transitive closure; the batch CC operators, operators/dedup.py:360,
  provide that when exactness of the survivor set matters more than
  one extra shuffle). Over-suppression is the safe direction for
  dedup.
- ``t <= 0`` is band-only mode: every colliding key takes the
  unverified route, so a shared band key alone flags, and the
  signature side-car is never read.
- Null texts: the signature is an array of NULLs and ``array_join``
  skips NULLs, so every band key of a null text is ``md5("")`` — null
  texts collide with each other in every band (the kernel and the
  build's key derivation skip NULLs the same way). Band-only mode flags
  them like any collision; at ``t > 0`` their estimate is NULL and
  never verifies, so they flag only through a mega-key.
- survivors: neither flag set. ``dedup_index_append`` persists their
  rows so the next batch sees them.

Same lifecycle conventions as the IVF/LSH/inverted layouts: meta via
fsio (any filesystem scheme), persisted layout schema so a declared
EMPTY index (first-crawl bootstrap: build over zero documents, filter
the very first batch against nothing) reads well-typed, and the full
maintenance pair — ``dedup_index_delete`` (tombstone deletion vectors:
takedown/retention removals stop suppressing future near-duplicates
immediately, O(k) not O(corpus)) and ``dedup_index_compact``
(write-new-then-swap rewrite that folds tombstones in, heals
at-least-once replay duplicates, and collapses per-append small
files).

Append-visibility hazard (regression-pinned in tests/test_dedupidx.py):
each ``dedup_index_filter`` call lists the layout's files when the
DataFrame is CREATED, so a filter built after an append sees it — but
file scans canonicalize by root path, NOT by file listing, so if a
pre-append filter and a post-append filter of the same layout execute
in ONE action (a union collected once), exchange reuse can substitute
the pre-append scan for the post-append one and the appended bands
silently vanish. Materialize pre-append verdicts (``localCheckpoint`` /
collect) before combining them with post-append reads — in a real
pipeline the stages are separate jobs and the hazard cannot arise.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import fsio
from ..operators.dedup import _py_minhash_digests, _py_shingles
from ..sources.tables import (
    append_repartition,
    narrow_materialized,
    widen_cpu_dense,
)
from . import deletes


@dataclass
class DedupIndex:
    """Band-partitioned dedup layout on disk (the dedup twin of
    index/lsh.py::LSHIndex): 16-byte md5 digests, and an unpartitioned
    signature side-car."""

    path: str
    shingle_k: int
    n_hashes: int
    bands: int
    id_col: str
    text_col: str

    @property
    def rows_per_band(self) -> int:
        return self.n_hashes // self.bands

    # Both side-tables are sibling directories, NOT subdirectories: the
    # layout root holds the ``band=`` partition dirs and Spark's
    # partition discovery would trip over a foreign child.
    @property
    def sigs_path(self) -> str:
        return f"{self.path}_sigs"

    @property
    def tombstones_path(self) -> str:
        return f"{self.path}_tombstones"

    def save_meta(self) -> None:
        meta = {
            "shingle_k": self.shingle_k,
            "n_hashes": self.n_hashes,
            "bands": self.bands,
            "id_col": self.id_col,
            "text_col": self.text_col,
            # Format stamp: a hex-digest meta is the one that lacks it.
            "hash_format": "binary",
        }
        fsio.write_text(f"{self.path}/_dedup_meta.json", json.dumps(meta))

    @classmethod
    def load(cls, path: str) -> "DedupIndex":
        """Reopen a layout from its meta. A meta of an earlier stored
        format (hex digests, or a ``sig_bucket``-partitioned side-car)
        raises ``ValueError``: rebuild the layout to upgrade it."""
        meta = json.loads(fsio.read_text(f"{path}/_dedup_meta.json"))
        if meta.pop("hash_format", None) != "binary":
            raise ValueError(
                f"{path}: dedup meta has no hash_format 'binary' (a hex-digest "
                "layout); rebuild it"
            )
        if meta.pop("sig_buckets", 0):
            raise ValueError(
                f"{path}: dedup meta has sig_buckets > 0 (a bucketed signature "
                "side-car); rebuild it"
            )
        return cls(path=path, **meta)


def _band_schema(index: DedupIndex) -> T.StructType:
    """The layout schema is fully determined by the meta — no JSON blob
    needed (unlike the vector layouts, whose payload columns vary)."""
    return T.StructType(
        [
            T.StructField(index.id_col, T.LongType(), True),
            T.StructField("key", T.BinaryType(), True),
            T.StructField("band", T.IntegerType(), True),
        ]
    )


def _minhash_sig_of_text(
    text, k: int, n_hashes: int, prefixes: list[bytes]
) -> list:
    """One text → its n_hashes MinHash signature as 16-byte md5
    digests, EXACTLY ``unhex`` of each element the Catalyst expression
    tree produces (``minhash_signature(shingles(text, k))``) — built
    from the shared pure-Python twins in operators/dedup.py
    (``_py_shingles`` / ``_py_minhash_digests``, which pin the
    Java-tokenization and byte-order equivalences). Null text mirrors
    the expression tree's null algebra: a length-n array of NULLs (not
    a null array)."""
    if not isinstance(text, str):
        return [None] * n_hashes
    return _py_minhash_digests(_py_shingles(text, k), prefixes)


def _band_keys_of_sig(sig: list, bands: int, rows_per_band: int) -> list[bytes]:
    """The band keys of one signature: the md5 digest of each slice's
    concatenated hex — ``unhex`` of ``lsh_band_keys``' keys. NULL
    elements are skipped as ``array_join`` skips them, so every band of
    a null text's all-NULL signature is ``md5("")``."""
    return [
        hashlib.md5(
            b"".join(
                d
                for d in sig[b * rows_per_band : (b + 1) * rows_per_band]
                if d is not None
            )
            .hex()
            .encode()
        ).digest()
        for b in range(bands)
    ]


def _kernel_input(index: DedupIndex, docs: DataFrame, widen_factor: int) -> DataFrame:
    """(id, text) only, widened first (SCALING.md round-6 rule): text
    compresses ~10×, so a batch read from parquet opens as a couple of
    scan splits and the md5 storm would run on a couple of cores —
    measured 2.2 s → 0.3 s for a 2.4k-doc batch on local[32]. A no-op
    on pre-split 100 TB corpora and on frames already at cluster
    parallelism. ``widen_factor`` over-partitions corpus-sized passes
    (the full-build path) so one uneven scan split can't set the stage
    wall — SCALING.md round 8 measured an 18% straggler tail on the
    sf25 build at 1×."""
    return widen_cpu_dense(docs, factor=widen_factor).select(
        F.col(index.id_col).cast("long").alias(index.id_col),
        F.col(index.text_col),
    )


def signature_rows(
    index: DedupIndex, docs: DataFrame, widen_factor: int = 1
) -> DataFrame:
    """``(id, sig)`` — the n_hashes-digest MinHash signature per doc,
    the build's one expensive pass.

    Since round 15 the kernel is an Arrow-batched ``mapInPandas`` over
    (id, text) only, computing the md5 signatures through C-backed
    ``hashlib`` (``_minhash_sig_of_text`` pins the equivalences). The
    previous shape — the ``minhash_signature(shingles(...))`` Catalyst
    expression — is higher-order lambdas, which Spark INTERPRETS per
    element with boxed values (the SCALING.md round-4 lesson): at 16
    seeds × ~50 shingles that interpretation overhead is the whole
    stage. Measured on the 6,000-doc bench batch: 2.1 s → 0.68 s wall
    for the signature pass (noop sink, min-of-3), bit-identical output
    at sf0.01 and sf0.1 — the guide-§4.2 move (vectorize opaque per-row
    work in native code behind an Arrow boundary, projecting only the
    columns it reads)."""
    import pandas as pd

    id_col, text_col, k, n = index.id_col, index.text_col, index.shingle_k, index.n_hashes
    prefixes = [f"{s}|".encode() for s in range(1, n + 1)]

    def kernel(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "sig": [
                        _minhash_sig_of_text(t, k, n, prefixes) for t in pdf[text_col]
                    ],
                }
            )

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), True),
            T.StructField("sig", T.ArrayType(T.BinaryType()), True),
        ]
    )
    return _kernel_input(index, docs, widen_factor).mapInPandas(kernel, out_schema)


def _bands_of_sigs(index: DedupIndex, sigs: DataFrame) -> DataFrame:
    """``(id, band, key)`` from an ``(id, sig)`` frame — md5 of signature
    slices, an ``inline`` away; never re-touches text. One expression
    unrolled over the bands (no lambda to interpret per element):
    ``concat_ws`` skips NULLs the way ``array_join`` does, so null
    texts keep their ``md5("")`` keys."""
    rpb, sig = index.rows_per_band, F.col("sig")

    def key(b: int):
        return F.unhex(
            F.md5(
                F.concat_ws(
                    "", *[F.lower(F.hex(sig[i])) for i in range(b * rpb, (b + 1) * rpb)]
                )
            )
        )

    return sigs.select(
        index.id_col,
        F.inline(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), key(b).alias("key"))
                    for b in range(index.bands)
                ]
            )
        ),
    )


def _sig_band_rows(index: DedupIndex, docs: DataFrame) -> DataFrame:
    """``(id, band, key, sig)`` in ONE kernel pass — the single
    batch-side materialization shape of the filter and of the appends.
    The kernel emits these final rows itself (band keys hashed from the
    digests in the same Python loop, ``_band_keys_of_sig``). The
    signature rides ONLY on each doc's band-0 row (``sig`` is null
    elsewhere), so checkpointing this frame costs the band table PLUS
    one sig array per doc — not bands × sig — while every downstream
    subtree reads bands DIRECTLY from the checkpoint and the
    verification joins and the sig append recover ``(id, sig)`` with a
    narrow ``band = 0`` filter: no shuffle, no second kernel run."""
    import numpy as np
    import pandas as pd

    id_col, text_col, k, n = index.id_col, index.text_col, index.shingle_k, index.n_hashes
    bands, rpb = index.bands, index.rows_per_band
    prefixes = [f"{s}|".encode() for s in range(1, n + 1)]
    no_sigs = [None] * (bands - 1)

    def kernel(batches):
        for pdf in batches:
            keys, sigs = [], []
            for t in pdf[text_col]:
                sig = _minhash_sig_of_text(t, k, n, prefixes)
                keys += _band_keys_of_sig(sig, bands, rpb)
                sigs.append(sig)
                sigs += no_sigs
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].repeat(bands).reset_index(drop=True),
                    "band": np.tile(np.arange(bands, dtype=np.int32), len(pdf)),
                    "key": keys,
                    "sig": sigs,
                }
            )

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType(), True),
            T.StructField("band", T.IntegerType(), True),
            T.StructField("key", T.BinaryType(), True),
            T.StructField("sig", T.ArrayType(T.BinaryType()), True),
        ]
    )
    return _kernel_input(index, docs, 1).mapInPandas(kernel, out_schema)


def _sig_schema(index: DedupIndex) -> T.StructType:
    return T.StructType(
        [
            T.StructField(index.id_col, T.LongType(), True),
            T.StructField("sig", T.ArrayType(T.BinaryType()), True),
        ]
    )


def _read_bands(spark: SparkSession, index: DedupIndex) -> DataFrame:
    """Read the band-partitioned root with the meta-derived schema, so a
    declared-empty layout (zero parquet footers) stays well-typed."""
    return (
        spark.read.schema(_band_schema(index))
        .option("basePath", index.path)
        .parquet(fsio.glob_escape(index.path))
    )


def _read_sigs(spark: SparkSession, index: DedupIndex) -> DataFrame:
    """The signature side-car ``(id, sig)``."""
    return spark.read.schema(_sig_schema(index)).parquet(
        fsio.glob_escape(index.sigs_path)
    )


def _live(index: DedupIndex, df: DataFrame) -> DataFrame:
    """``df`` without the deleted documents (index/deletes.py::live):
    both filter modes read the layout through it, so the filter plans
    are unchanged until the first delete."""
    return deletes.live(df, index.tombstones_path, index.id_col)


def _persist(index: DedupIndex, docs: DataFrame) -> None:
    """The build's writes: one shingle+minhash pass total. The sig
    table is written first and the band table derives from a READ-BACK
    of it — never a second pass over the text (the
    fingerprint_overlap_stats lesson: the two consumers' subtrees can't
    ReusedExchange, so an unmaterialized sig frame would run the kernel
    twice), and streaming 256 B/doc back through the executors scales
    to a corpus-sized build where no in-memory materialization could.
    The sig table is one unpartitioned side-car."""
    # Corpus-sized pass: over-partition 4× so one uneven scan split
    # can't set the build's wall (_kernel_input docstring; measured
    # 18% off the sf25 sigs pass, SCALING.md round 8).
    signature_rows(index, docs, widen_factor=4).write.mode("overwrite").parquet(
        index.sigs_path
    )
    _bands_of_sigs(index, _read_sigs(docs.sparkSession, index)).write.partitionBy(
        "band"
    ).mode("overwrite").parquet(index.path)


def build_dedup_index(
    docs: DataFrame,
    path: str,
    *,
    shingle_k: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DedupIndex:
    """Shingle+minhash the accepted corpus ONCE and persist its band
    keys partitioned by ``band`` plus the unpartitioned signature
    side-car. An empty ``docs`` declares an empty layout (first-crawl
    bootstrap) — the schema is meta-derived, so reads and the first
    filter work before any append."""
    if n_hashes % bands:
        raise ValueError(f"n_hashes={n_hashes} not divisible by bands={bands}")
    index = DedupIndex(
        path=path,
        shingle_k=shingle_k,
        n_hashes=n_hashes,
        bands=bands,
        id_col=id_col,
        text_col=text_col,
    )
    _persist(index, docs)
    index.save_meta()
    return index


def _est_sim(a, b, n_hashes: int):
    """MinHash similarity estimate: the fraction of equal signature
    positions — an unbiased Jaccard estimator, one sum unrolled over the
    positions (no lambda). A NULL element makes the estimate NULL, so a
    null text never verifies."""
    eq = [(a[i] == b[i]).cast("int") for i in range(n_hashes)]
    return sum(eq, F.lit(0)).cast("double") / float(n_hashes)


#: Above this many batch band keys, the filter's corpus
#: restriction switches from an explicit broadcast hint to a plain
#: shuffle semi-join: the hint bypasses autoBroadcastJoinThreshold, and
#: an unbounded catch-up batch (no max_files_per_trigger) could
#: otherwise broadcast an arbitrarily large key set (advisor finding,
#: round 10). 1M 16-byte keys ≈ tens of MB broadcast — the safe ceiling.
_BROADCAST_KEYS_MAX = 1_000_000


def dedup_index_filter(
    spark: SparkSession,
    index: DedupIndex,
    batch: DataFrame,
    *,
    threshold: float = 0.0,
    candidate_cap: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """Per-document verdicts ``(id, corpus_dup, within_dup)`` for a new
    batch against the accepted corpus (module docstring pins the
    semantics). Survivors are the rows with neither flag.

    A band collision proposes a drop; the MinHash similarity estimate
    against the persisted signature side-car (fraction of equal
    signature positions ≥ ``threshold``) disposes — 8×2 banding alone
    false-positives on a single lucky band. The corpus text is never
    re-touched either way.

    Mega-key routing (the count-first discipline of
    operators/dedup.py:148): a ``(band, key)`` held by more than
    ``candidate_cap`` live corpus docs — boilerplate — auto-flags its
    batch colliders as corpus_dup WITHOUT pair enumeration
    (over-suppression is the safe direction); only under-cap keys
    enumerate (batch × corpus) candidate pairs, so the pair count is
    bounded by cap · batch_bands. Within-batch keys over the cap
    likewise flag everything above the group min unverified.

    ``threshold <= 0`` is band-only mode: every colliding key takes the
    unverified mega-key route (an effective cap of -1) on both the
    corpus and the within-batch side. A shared band key alone flags,
    null texts included, and the signature side-car and the estimator
    never enter the plan.

    Plan shape: every corpus-side computation is restricted FIRST to
    layout rows whose (band, key) appears in the batch — the layout
    scan, read as ``(band, key)`` only, streams through a broadcast
    hash semi-join against the batch's O(8·batch) key set, so the
    layout is never shuffled (falling back to a plain shuffle
    semi-join when the batch's key count exceeds
    ``_BROADCAST_KEYS_MAX``, so an unbounded catch-up run cannot OOM
    the driver on the hint). The per-key collision counts aggregate
    on that streamed scan and are the only thing materialized from it
    — bounded by the batch's own key count, never by a hot key's
    corpus frequency. A second pruned pass restricted to the UNDER-cap
    keys feeds the enumeration (≤ cap · batch_bands rows by
    construction). The candidates' corpus signatures come from a plain
    join against a narrow ``(id, sig)`` scan of the side-car: no
    checkpoint, collect or listing job of its own.

    Batch side: ONE materialization shared by bands and signatures
    (``_sig_band_rows`` — sig rides the band-0 rows), and two probes
    over already-materialized frames collapse the final plan when no
    under-cap key collides: an empty ``key_counts`` drops the over-cap
    semi-join, and a batch with no repeated (band, key) drops the
    entire within-batch groupBy/self-join algebra (provably empty —
    group sizes in ``new_bands`` only shrink vs ``bands``).

    Returns ``(verdicts, sig_band_rows)`` — the second element is the
    batch's MATERIALIZED ``(id, band, key, sig)`` checkpoint, which
    ``dedup_index_append_rows`` takes restricted to the survivors, so
    an ingest loop never runs the shingle+minhash kernel twice over
    one batch."""
    id_col = index.id_col
    # Band-only mode routes every colliding key through the unverified
    # leg: verifying at threshold <= 0 would still drop null texts,
    # whose estimate is NULL.
    cap = candidate_cap if threshold > 0 else -1
    sb = _sig_band_rows(index, batch).localCheckpoint(eager=True)
    # One count over the materialized checkpoint serves the broadcast
    # decision below AND the checkpoint-width decision
    # (narrow_materialized: wide kernel, narrow downstream).
    n_rows = sb.count()
    sb = narrow_materialized(sb, n_rows)
    bands = sb.select(id_col, "band", "key")
    # (id, sig): a narrow filter over the checkpoint — one row per doc,
    # no shuffle, no second kernel run.
    bsigs = sb.filter(F.col("band") == 0).select(id_col, "sig")
    # Tombstoned docs drop out of BOTH the candidate enumeration and the
    # mega-key counts — a deleted boilerplate cluster must not keep its
    # band key over the cap and auto-suppress future batches.
    layout = _live(index, _read_bands(spark, index))
    # No distinct on the probe side: the semi-joins are unchanged by
    # duplicate probe keys, and the dedup exchange cost more than the
    # ≤ docs·bands extra broadcast rows.
    batch_keys = bands.select("band", "key")
    # sb is materialized, so its count (= docs · bands) is a cheap upper
    # bound on the distinct key count — no extra shuffle to decide the
    # join strategy.
    small_batch = n_rows <= _BROADCAST_KEYS_MAX
    if small_batch:
        batch_keys = F.broadcast(batch_keys)
    # Count-first: the per-key collision counts aggregate directly on
    # the STREAMED ``layout ⋉ batch_keys`` scan (map-side partial
    # combine); an over-cap key routes to the no-enumeration path
    # having only ever existed as one count row.
    key_counts = (
        layout.join(batch_keys, ["band", "key"], "left_semi")
        .groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .localCheckpoint(eager=True)
    )
    over = key_counts.filter(F.col("_n") > cap).select("band", "key")
    under = key_counts.filter(F.col("_n") <= cap).select("band", "key")
    # ONE aggregate over the materialized counts answers both "any
    # under-cap key?" and "any collision at all?" — never a job against
    # the layout.
    kc_probe = key_counts.agg(
        F.count(F.lit(1)).alias("_nk"),
        F.count(F.when(F.col("_n") <= cap, True)).alias("_nu"),
    ).head()
    no_under = kc_probe["_nu"] == 0
    if small_batch:
        # ≤ the batch's key count by construction (a subset of
        # key_counts), so the small-batch guard covers it too.
        under = F.broadcast(under)
    # No inner distinct: corpus_hits' outer union-distinct below is the
    # one load-bearing dedup.
    auto_hits = bands.join(over, ["band", "key"], "left_semi").select(id_col)
    if no_under:
        # No under-cap colliding key ⇒ the candidate set is provably
        # empty: skip the second layout pass AND the whole
        # signature-verification subtree (always so at threshold <= 0).
        verified_hits = bands.select(id_col).limit(0)
        if kc_probe["_nk"] == 0:
            # Nothing collided at all (the fresh-batch common case):
            # drop the over-cap semi-join from the final plan too.
            auto_hits = verified_hits
    else:
        # Second pruned layout pass reads ONLY under-cap keys' colliding
        # rows — ≤ cap · batch_bands rows by construction, so the
        # enumeration input is bounded BEFORE anything is materialized.
        cand = (
            bands.alias("b")
            .join(
                layout.join(under, ["band", "key"], "left_semi").alias("c"),
                ["band", "key"],
            )
            .select(
                F.col(f"b.{id_col}").alias(id_col), F.col(f"c.{id_col}").alias("_cid")
            )
            .distinct()
        )
        csigs = _read_sigs(spark, index).toDF("_cid", "_cs")
        verified_hits = (
            cand.join(bsigs.withColumnRenamed("sig", "_bs"), id_col)
            .join(csigs, "_cid")
            .filter(_est_sim(F.col("_bs"), F.col("_cs"), index.n_hashes) >= threshold)
            .select(id_col)
        )
    corpus_hits = auto_hits.unionByName(verified_hits).distinct()

    # Within-batch short-circuit, fresh path only (when the corpus side
    # ran verification, the within joins are marginal — no new probe
    # job on the collision-rich profile): if NO (band, key) is shared
    # by two batch docs, every within-batch group has size 1 in
    # ``bands`` and hence in its subset ``new_bands``. The probe is one
    # batch-bounded agg over the materialized checkpoint.
    no_within = no_under and (
        bands.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .limit(1)
        .count()
        == 0
    )
    new_bands = bands.join(corpus_hits, id_col, "left_anti")
    if no_within:
        within_hits = bands.select(id_col).limit(0)
    else:
        wcounts = new_bands.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("_n"), F.min(id_col).alias("_min_id")
        )
        wover = wcounts.filter(F.col("_n") > cap)
        within_hits = (
            new_bands.join(wover.select("band", "key", "_min_id"), ["band", "key"])
            .filter(F.col(id_col) > F.col("_min_id"))
            .select(id_col)
        )
        if cap >= 0:
            wunder = wcounts.filter(F.col("_n") <= cap).select("band", "key")
            wpairs = (
                new_bands.join(wunder, ["band", "key"], "left_semi")
                .alias("l")
                .join(
                    new_bands.join(wunder, ["band", "key"], "left_semi").alias("r"),
                    ["band", "key"],
                )
                .filter(F.col(f"l.{id_col}") > F.col(f"r.{id_col}"))
                .select(
                    F.col(f"l.{id_col}").alias(id_col),
                    F.col(f"r.{id_col}").alias("_rid"),
                )
                .distinct()
            )
            wverified = (
                wpairs.join(bsigs.withColumnRenamed("sig", "_ls"), id_col)
                .join(
                    bsigs.select(
                        F.col(id_col).alias("_rid"), F.col("sig").alias("_rs")
                    ),
                    "_rid",
                )
                .filter(
                    _est_sim(F.col("_ls"), F.col("_rs"), index.n_hashes) >= threshold
                )
                .select(id_col)
            )
            within_hits = within_hits.unionByName(wverified)
        within_hits = within_hits.distinct()
    verdicts = (
        batch.select(F.col(id_col).cast("long").alias(id_col))
        .join(corpus_hits.withColumn("_c", F.lit(True)), id_col, "left")
        .join(within_hits.withColumn("_w", F.lit(True)), id_col, "left")
        .select(
            id_col,
            F.coalesce("_c", F.lit(False)).alias("corpus_dup"),
            F.coalesce("_w", F.lit(False)).alias("within_dup"),
        )
    )
    return verdicts, sb


def dedup_index_append_rows(index: DedupIndex, sig_band_rows: DataFrame) -> None:
    """Persist band rows AND signatures from an ALREADY-COMPUTED
    ``(id, band, key, sig)`` frame (the ``_sig_band_rows`` shape: one
    row per (doc, band), the sig array riding each doc's band-0 row).
    An ingest loop that just filtered the batch passes the filter's
    materialized checkpoint restricted to the surviving ids, so the
    append runs no shingle+minhash kernel and no extra materialization
    job. The caller must pass MATERIALIZED rows — the writes below are
    two separate actions and an unmaterialized frame would recompute
    between them.

    Both writes are size-gated collapses
    (sources/tables.py::append_repartition): a micro-batch append lands
    ONE file in the unpartitioned side-car and one per ``band``
    partition, instead of (tasks × partitions) shards; a frame over the
    collapse ceiling keeps full write parallelism (compaction owns its
    file hygiene)."""
    id_col = index.id_col
    sigs = sig_band_rows.filter(F.col("band") == 0).select(id_col, "sig")
    append_repartition(sigs).write.mode("append").parquet(index.sigs_path)
    append_repartition(
        sig_band_rows.select(id_col, "band", "key"), "band"
    ).write.partitionBy("band").mode("append").parquet(index.path)


def dedup_index_append(index: DedupIndex, docs: DataFrame) -> None:
    """Persist the band rows AND signatures of newly accepted documents
    — blind appends, O(batch); the existing layout is never read or
    rewritten. The batch is fingerprinted once and materialized, then
    written by ``dedup_index_append_rows``.

    Doc ids are assumed unique for the layout's lifetime (the
    package-wide contract, same as IVF/LSH/inverted): appending a NEW
    document under a previously-DELETED id would be suppressed by that
    id's tombstone until the next compaction — standard deletion-vector
    semantics, so don't recycle ids."""
    dedup_index_append_rows(
        index, _sig_band_rows(index, docs).localCheckpoint(eager=True)
    )


def dedup_index_delete(spark: SparkSession, index: DedupIndex, ids) -> int:
    """Remove documents from the accepted corpus — takedowns/retention,
    the reference's drop lifecycle next to its inserts (drop_collection
    src/app.py:87 vs insert src/app.py:230,409). Without this, a deleted
    document's band+sig rows stay behind and silently OVER-SUPPRESS
    every future batch that near-duplicates it: the batch doc reads as
    corpus_dup against a document the corpus no longer contains.

    Deletion vectors, not a rewrite (the O(k) design of
    index/deletes.py, shared with ``ivf_delete_lazy`` and the inverted
    tombstones): victim ids append to a tiny sibling table; both filter
    modes broadcast-anti-join it on the corpus side (band rows AND mega-key
    counts — a deleted boilerplate cluster must not keep its key over
    the candidate cap); ``dedup_index_compact`` folds tombstones in for
    real. A doc's band rows span every ``band=`` partition, so an eager
    rewrite would touch the whole layout — exactly what the tombstone
    defers until one compaction amortizes it.

    Idempotent: victims resolve through the LIVE sig table (one narrow
    id-column scan of the side-car root), so re-deleting a tombstoned
    or absent id is a no-op. Returns the number of ids newly
    tombstoned."""
    live_ids = _live(index, _read_sigs(spark, index).select(index.id_col))
    return deletes.tombstone(live_ids, ids, index.tombstones_path, index.id_col)


def dedup_index_compact(
    spark: SparkSession, index: DedupIndex, new_path: str
) -> DedupIndex:
    """Offline maintenance: rewrite the band table and signature side-car
    at ``new_path`` — write-new-then-swap-pointer, never in place
    (readers of the old path stay consistent; the same contract as
    ``compact_ivf_index`` / ``compact_lsh_layout``). Three debts settle
    in one pass, none of which re-touches corpus TEXT (both tables are
    already derived — compaction is a filter + shuffle, no re-shingle):

    - FOLDS DELETION VECTORS IN: tombstoned docs' band+sig rows are
      dropped for real and the fresh layout starts with no tombstone
      sibling, restoring the no-anti-join filter plan.
    - CLEARS AT-LEAST-ONCE REPLAY DUPLICATES: a crashed append can lay
      down byte-identical rows twice; full-row ``distinct()`` collapses
      them deterministically (the package-wide healing contract —
      replayed rows are byte-identical by construction).
    - COLLAPSES SMALL FILES: every ``dedup_index_append`` adds one file
      set per batch; the rewrite shuffles on ``(band, key)`` so each
      ``band=`` partition lands in parallel bounded-count files sized by
      ``spark.sql.shuffle.partitions``, independent of how many appends
      accumulated.

    Delete-to-empty is well-typed: a fully-tombstoned layout writes
    zero data files and reads back through the meta-derived schema, the
    same declared-empty path the first-crawl bootstrap uses."""
    out = DedupIndex(
        path=new_path,
        shingle_k=index.shingle_k,
        n_hashes=index.n_hashes,
        bands=index.bands,
        id_col=index.id_col,
        text_col=index.text_col,
    )
    sigs = _live(index, _read_sigs(spark, index)).distinct()
    sigs.repartition(F.col(index.id_col)).write.mode("overwrite").parquet(
        out.sigs_path
    )
    bands = _live(index, _read_bands(spark, index)).distinct()
    bands.repartition(F.col("band"), F.col("key")).write.partitionBy("band").mode(
        "overwrite"
    ).parquet(out.path)
    out.save_meta()
    return out
