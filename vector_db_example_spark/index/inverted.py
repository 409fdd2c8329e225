"""Term-bucket-partitioned inverted index (posting lists) for lexical
retrieval — the lexical twin of the IVF layout for dense vectors.

Extension beyond the reference surface (the reference delegates lexical
relevance to its vector store; Milvus 2.5-class engines ship exactly
this: a tokenized inverted index scored with BM25). The scan-based
scorer (operators/bm25.py) reads the whole corpus per query; at 100 TB
the index inverts that: postings `(term, doc_id, tf)` are written
partitioned by `bucket = crc32(term) % n_buckets`, so a query's reads
are the partitions of ITS OWN terms — partition pruning at the parquet
source (pinned in tests/test_plans.py), cost proportional to the query
terms' posting lists, not the corpus. The file listing is query-scoped
too: a question lists the postings root once on the driver and reads
only its terms' ``bucket=`` directories, so its listing cost is
proportional to the query's buckets, not ``n_buckets`` (Spark's own
discovery of the root would list every bucket, as a parallel listing
job above 32 of them), and the 1-row stats table is read with its
declared schema instead of an inferred one.

Alongside the postings the build stores the two scoring side-tables BM25
needs: per-doc token lengths (`doclens/`, doc-partitioned like any other
corpus table) and the 1-row corpus stats (`stats/`: N, total tokens).
Per-term document frequencies are NOT stored — they are one tiny
aggregate over the (already pruned) posting lists at query time, which
keeps the index append-friendly: adding documents appends postings and
doclen rows and rewrites one stats row, with no global recount.

The per-doc token length is ALSO denormalized onto every posting row
(``__dl`` — the Lucene-norms design, round 11): BM25 needs each
candidate's length, and joining candidates against the corpus-sized
``doclens/`` table was the one corpus-proportional step left in the
query path — at billions of documents that join re-shuffles the whole
doclens table per query, the same ceiling class the dedup filters shed
this round. With ``__dl`` on the posting row, the pruned postings read
carries everything scoring needs and the query plan has NO corpus-sized
operand at all (plan-pinned in tests/test_inverted.py). ``doclens/``
stays authoritative for maintenance — stats recomputes, delete's victim
resolution and stats decrement, layout stats — none of which are on the
query path, and each reads it with a declared schema (the postings' id
field plus ``__dl int``), so none pays a schema-inference job.

One stored format per layout kind: ``InvertedIndex.load`` rejects a
meta from before it (no ``positional`` flag, no persisted postings
schema, or BM25 postings without ``__dl``) with a ``ValueError`` that
names the field; rebuild such a layout to upgrade it.

Determinism: `crc32` here is java.util.zip.CRC32 (Spark's `F.crc32`),
the same polynomial as Python's `zlib.crc32` — the driver computes query
buckets with zlib and they match the layout's partition values exactly.
"""

from __future__ import annotations

import json
import zlib
from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .. import fsio
from . import deletes
from ..functions.text import extract_tokens
from ..operators.bm25 import bm25_score_expr, bm25_score_expr_for
from ..sources.tables import append_repartition, overlapped, read_layout

#: Declared schema of the 1-row ``stats/`` table: reads name it instead
#: of inferring it, which would cost a footer-reading Spark job.
_STATS_SCHEMA = "__n double, __tot double"


@dataclass(frozen=True)
class InvertedIndex:
    path: str
    n_buckets: int
    id_col: str = "doc_id"
    #: Name of the document text column — persisted on the handle so the
    #: append/compact/streaming-ingest paths tokenize the SAME column the
    #: index was built on (an index built on a custom column must not
    #: silently fall back to "text").
    text_col: str = "text"
    #: Postings schema (StructType JSON) captured at build time — the
    #: inverted twin of IVFIndex.schema_json: postings are the one layout
    #: piece written partitionBy (zero rows ⇒ zero files), so compacting
    #: a fully-tombstoned index, merging empty segments, or building over
    #: an empty corpus leaves a directory schema inference cannot read
    #: (doclens/stats are non-partitioned; an empty write still leaves a
    #: schema footer). Every build, compaction and merge sets it, and
    #: ``load`` rejects a meta without it.
    postings_schema: str | None = None
    #: True for POSITIONAL-ONLY layouts (build_positional_index): no
    #: doclens/stats side-tables exist, so deletes must not attempt the
    #: BM25 stats decrement. Persisted in ``_inverted_meta.json`` —
    #: routing on a local-filesystem ``os.path.isdir(doclens_path)``
    #: probe would silently misroute layouts on s3://, hdfs://, or any
    #: non-local store (advisor finding, round 6).
    positional: bool = False

    @property
    def postings_path(self) -> str:
        return f"{self.path}/postings"

    @property
    def doclens_path(self) -> str:
        return f"{self.path}/doclens"

    @property
    def stats_path(self) -> str:
        return f"{self.path}/stats"

    @property
    def tombstones_path(self) -> str:
        return f"{self.path}/tombstones"

    def save_meta(self) -> None:
        meta = {
            "n_buckets": self.n_buckets,
            "id_col": self.id_col,
            "text_col": self.text_col,
            "postings_schema": self.postings_schema,
            "positional": self.positional,
        }
        # Hadoop-FS IO (fsio): layout meta lives wherever the layout's
        # parquet lives — any scheme, not just the local filesystem.
        fsio.write_text(f"{self.path}/_inverted_meta.json", json.dumps(meta))

    @classmethod
    def load(cls, path: str) -> "InvertedIndex":
        """Reopen a layout from its persisted meta — same cross-process
        handle story as IVFIndex.load / LSHIndex.load. A meta of an
        earlier stored format raises ``ValueError`` naming the field
        (module docstring)."""
        meta = json.loads(fsio.read_text(f"{path}/_inverted_meta.json"))
        for field in ("positional", "postings_schema"):
            if meta.get(field) is None:
                raise ValueError(f"{path}: inverted meta has no {field}; rebuild it")
        posts = T.StructType.fromJson(json.loads(meta["postings_schema"]))
        if not meta["positional"] and "__dl" not in posts.fieldNames():
            raise ValueError(
                f"{path}: BM25 postings_schema has no __dl field; rebuild it"
            )
        return cls(path=path, **meta)


def _read_postings(
    spark: SparkSession, index: InvertedIndex, buckets: list[int] | None = None
) -> DataFrame:
    """The postings with their persisted schema (well typed after an
    empty build, or a compaction/merge that folded every document away);
    ``buckets`` lists and reads only those term buckets
    (sources/tables.py::read_layout)."""
    return read_layout(
        spark, index.postings_path, index.postings_schema, "bucket", buckets
    )


def _query_buckets(index: InvertedIndex, terms) -> list[int]:
    """The crc32 buckets holding ``terms``' posting lists."""
    return sorted({zlib.crc32(t.encode("utf-8")) % index.n_buckets for t in terms})


def _read_stats(spark: SparkSession, index: InvertedIndex) -> DataFrame:
    return spark.read.schema(_STATS_SCHEMA).parquet(fsio.glob_escape(index.stats_path))


def _read_doclens(spark: SparkSession, index: InvertedIndex) -> DataFrame:
    """The ``doclens/`` table, read with a declared schema — the
    postings' id field plus ``__dl int`` — instead of an inferred one."""
    posts = T.StructType.fromJson(json.loads(index.postings_schema))
    schema = T.StructType(
        [posts[index.id_col], T.StructField("__dl", T.IntegerType(), True)]
    )
    return spark.read.schema(schema).parquet(fsio.glob_escape(index.doclens_path))


def _doc_postings(
    docs: DataFrame, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """``(term, id, tf, __dl, bucket)`` posting rows for a document
    frame — the shared build/append kernel. One tokenize pass: the
    per-doc token count is computed map-side and exploded alongside the
    terms, so the tf groupBy carries it at zero extra shuffle keys
    (every copy within a (term, doc) group is equal; ``max`` picks it
    deterministically)."""
    tok = docs.select(
        F.col(id_col), extract_tokens(F.col(text_col)).alias("__toks")
    ).select(
        id_col,
        F.size("__toks").alias("__dl"),
        F.explode("__toks").alias("term"),
    )
    return (
        tok.groupBy("term", id_col)
        .agg(F.count(F.lit(1)).alias("tf"), F.max("__dl").alias("__dl"))
        .withColumn("bucket", F.crc32(F.col("term").cast("binary")) % n_buckets)
    )


def build_inverted_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> InvertedIndex:
    """One tokenize pass feeds all three outputs: bucketed postings
    (one (term, doc) shuffle for the tf groupBy), per-doc lengths
    (map-side `size()`), and the 1-row corpus stats. The doc's token
    count rides every exploded row into the groupBy (``max`` — all
    copies are equal) so the posting row carries its ``__dl`` and the
    scorers never join the corpus-sized doclens table (module
    docstring)."""
    postings = _doc_postings(docs, id_col, text_col, n_buckets)
    (
        postings.write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )
    docs.select(
        F.col(id_col), F.size(extract_tokens(F.col(text_col))).alias("__dl")
    ).write.mode("overwrite").parquet(f"{path}/doclens")
    docs.select(
        F.count(F.lit(1)).cast("double").alias("__n"),
        # coalesce: sum over ZERO docs is null, and the append path's
        # stats bump does float(old __tot) — an empty build must write
        # 0.0 like the compact/merge stats recompute already does
        F.coalesce(F.sum(F.size(extract_tokens(F.col(text_col)))), F.lit(0))
        .cast("double")
        .alias("__tot"),
    ).write.mode("overwrite").parquet(f"{path}/stats")
    index = InvertedIndex(
        path=path,
        n_buckets=n_buckets,
        id_col=id_col,
        text_col=text_col,
        postings_schema=postings.schema.json(),
    )
    index.save_meta()
    return index


def bm25_search_inverted(
    spark: SparkSession,
    index: InvertedIndex,
    query_terms: Sequence[str],
    k: int = 10,
) -> DataFrame:
    """Top-``k`` by BM25, reading ONLY the query terms' posting-list
    partitions. Identical scores to the scan-based
    ``operators.bm25.bm25_topk`` (shared score expression over the same
    integer-exact inputs) — which is what lets the driver oracle state
    exact parity with the full-scan SQL.

    Plan shape: the candidate's doc length (``__dl`` on the posting
    rows) comes out of the SAME pruned postings read as its tf — no
    operand in the plan is corpus-sized (module docstring)."""
    terms = list(dict.fromkeys(query_terms))
    if not terms:
        raise ValueError("query_terms must be non-empty")
    id_col = index.id_col

    posts = _live(
        index,
        _read_postings(spark, index, _query_buckets(index, terms))
        .filter(F.col("term").isin(terms)),  # within-bucket residual filter
    )

    tf = posts.groupBy(id_col).agg(
        *[
            F.sum(F.when(F.col("term") == t, F.col("tf")).otherwise(0))
            .cast("double")
            .alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
        # every posting row of a doc carries the same __dl; max picks it
        # without widening the groupBy key
        F.max("__dl").alias("__dl"),
    )
    dfs = posts.groupBy().agg(
        *[
            F.count_distinct(F.when(F.col("term") == t, F.col(id_col)))
            .cast("double")
            .alias(f"__df{i}")
            for i, t in enumerate(terms)
        ]
    )
    stats = _read_stats(spark, index)
    scored = tf.crossJoin(F.broadcast(dfs)).crossJoin(F.broadcast(stats))
    return (
        scored.select(
            F.col(id_col), F.round(bm25_score_expr(len(terms)), 6).alias("bm25")
        )
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def append_to_inverted_index(index: InvertedIndex, docs: DataFrame) -> None:
    """Append new documents to the layout without any global recount:
    their postings append into the same bucket partitions, their lengths
    append to `doclens/`, and the 1-row stats are replaced by the summed
    row (old stats + the increment — both tiny driver-side reads). Terms
    the corpus has never seen land in their crc32 bucket like any other;
    document frequencies stay correct because they are computed from
    postings at query time, never stored.

    Same single-writer assumption as the IVF append path: concurrent
    appends to one layout need a transactional table format underneath.

    Partial-append visibility (advisor note, round 11): with ``__dl``
    on the posting rows, a document becomes searchable as soon as its
    postings land — BEFORE the doclens and stats writes below complete
    — so in the crash/replay window a reader can score it against the
    pre-append ``__n``/``__tot`` (slightly stale idf/avgdl; the doc's
    own length is already exact on its rows). The window is narrow
    (single-writer, three tiny writes — postings and doclens
    overlapped, stats after both), the scores involved are
    marginally-stale corpus constants rather than wrong per-doc
    inputs, and replay + compaction heal it — but it IS a visibility
    change to be aware of when pointing concurrent readers at a layout
    mid-append. The stats bump stays strictly LAST deliberately: it is
    a read-modify-write, so data-writes-first keeps a crash BEFORE the
    bump replayable (re-append duplicates heal via compaction's
    full-row distinct; a pre-bumped stats row would double-count on
    replay). Postings vs doclens relative order never mattered for
    replay — both re-append byte-identically — so they overlap.
    """
    spark = docs.sparkSession
    id_col, text_col = index.id_col, index.text_col
    new_posts = _doc_postings(docs, id_col, text_col, index.n_buckets)

    def _append_postings() -> None:
        (
            # One file per touched bucket per micro-batch append, full
            # write parallelism above the collapse ceiling (the
            # package-wide size-gated append discipline —
            # sources/tables.py::append_repartition).
            append_repartition(new_posts, "bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(index.postings_path)
        )

    # Postings ∥ doclens (round 16, guide §2.6): the two appends target
    # independent sinks and both strictly precede the stats bump, so
    # overlapping them (sources/tables.py::overlapped) changes no replay
    # outcome — a crash leaving either (or both) behind re-appends
    # byte-identical rows on replay, healed by compaction's
    # max(tf)/max(__dl) rule exactly as before. Only the stats
    # read-modify-write must stay LAST (docstring above).
    with overlapped(spark) as submit:
        submit(_append_postings)
        docs.select(
            F.col(id_col), F.size(extract_tokens(F.col(text_col))).alias("__dl")
        ).write.mode("append").parquet(index.doclens_path)

    # The summed stats row is aggregated AND materialized (one job:
    # the increment aggregate cross-joined with the old 1-row table —
    # no driver collect of either) BEFORE the overwrite is issued, so a
    # failure in the tokenize/aggregate job can no longer destroy
    # stats_path without a replacement (advisor finding, round 15: the
    # round-15 fused shape deleted the old row first and recomputed
    # over ``docs`` inside the overwrite). The sums stay double-exact:
    # same two addends in the same increment-plus-old order as every
    # earlier shape.
    new_stats = (
        docs.select(
            F.count(F.lit(1)).cast("double").alias("_inc_n"),
            F.coalesce(F.sum(F.size(extract_tokens(F.col(text_col)))), F.lit(0))
            .cast("double")
            .alias("_inc_tot"),
        )
        .crossJoin(_read_stats(spark, index))
        .select(
            (F.col("_inc_n") + F.col("__n")).alias("__n"),
            (F.col("_inc_tot") + F.col("__tot")).alias("__tot"),
        )
        .localCheckpoint(eager=True)
    )
    new_stats.write.mode("overwrite").parquet(index.stats_path)


def sparse_dot_topk(
    spark: SparkSession,
    index: InvertedIndex,
    query_weights: dict[str, float],
    k: int = 10,
) -> DataFrame:
    """Sparse-vector retrieval over the posting-list layout (the
    SPLADE / Milvus sparse-embedding query shape): score(d) = Σ_t w_t ·
    tf_td for the query's nonzero terms. Reads only the query terms'
    bucket partitions; per-term products pivot into fixed columns and
    sum in one deterministic order (doc-side tf is integer-exact, so the
    double score is bit-reproducible for the oracle).

    Returns (id, sparse_score) rounded to 6, score desc / id asc, top-k.
    """
    if not query_weights:
        raise ValueError("query_weights must be non-empty")
    terms = list(query_weights)
    id_col = index.id_col
    posts = _live(
        index,
        _read_postings(spark, index, _query_buckets(index, terms))
        .filter(F.col("term").isin(terms)),
    )
    tf = posts.groupBy(id_col).agg(
        *[
            F.sum(F.when(F.col("term") == t, F.col("tf")).otherwise(0))
            .cast("double")
            .alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ]
    )
    score = F.lit(float(query_weights[terms[0]])) * F.col("__tf0")
    for i, t in enumerate(terms[1:], start=1):
        score = score + F.lit(float(query_weights[t])) * F.col(f"__tf{i}")
    return (
        tf.select(F.col(id_col), F.round(score, 6).alias("sparse_score"))
        .orderBy(F.col("sparse_score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def compact_inverted_index(
    spark: SparkSession, index: InvertedIndex, new_path: str
) -> InvertedIndex:
    """Offline compaction after many appends: re-read the current
    postings/doclens/stats and write a fresh layout at ``new_path`` —
    write-new-then-swap-pointer, same policy as the IVF compactor (never
    rewrite a layout in place; readers of the old path stay consistent).
    FOLDS DELETION VECTORS IN (tombstoned docs are dropped for real; the
    fresh layout starts with no tombstones), collapses the per-bucket
    small files, and CLEARS AT-LEAST-ONCE REPLAY DUPLICATES: a crash in
    the streaming sink's append→marker window can replay a whole append,
    laying down byte-identical (term, doc, tf) posting rows and (doc,
    __dl) doclen rows a second time (and double-bumping the stats row).
    The append path only ever writes a doc's postings whole — the engine
    has no doc-update op (re-adding an id means delete → compact →
    append) — so a repeated (term, doc) row IS a replay of the same
    indexing event: compaction keeps max(tf) per (term, doc) and
    max(__dl) per doc (identical rows, so max == the true value) and
    RECOMPUTES the stats row from the deduplicated doclens instead of
    copying the possibly double-bumped one. After compaction, BM25
    scores are exactly those of a clean build on the live docs."""
    doclens = (
        _live(index, _read_doclens(spark, index))
        .groupBy(index.id_col)
        .agg(F.max("__dl").alias("__dl"))
    )
    posts = (
        _live(index, _read_postings(spark, index))
        .groupBy("term", index.id_col, "bucket")
        .agg(F.max("tf").alias("tf"), F.max("__dl").alias("__dl"))
        .select("term", index.id_col, "tf", "__dl", "bucket")
    )
    out = InvertedIndex(
        path=new_path,
        n_buckets=index.n_buckets,
        id_col=index.id_col,
        text_col=index.text_col,
        postings_schema=posts.schema.json(),
    )
    posts.write.mode("overwrite").partitionBy("bucket").parquet(out.postings_path)
    doclens.write.mode("overwrite").parquet(out.doclens_path)
    # stats from the deduped doclens (integer-exact counts cast to double,
    # same math as the build path) — heals any replayed stats bumps
    (
        _read_doclens(spark, out)
        .select(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.coalesce(F.sum("__dl"), F.lit(0)).cast("double").alias("__tot"),
        )
        .write.mode("overwrite")
        .parquet(out.stats_path)
    )
    out.save_meta()
    return out


def delete_from_inverted_index(index: InvertedIndex, ids) -> int:
    """Delete documents by id — the DELETION-VECTOR design of
    index/deletes.py (contrast with ivf_delete's eager partition
    rewrite): a doc's postings spread across ~every term bucket, so an
    eager rewrite would be O(layout). Instead the ids append to a tiny
    tombstone table; searches anti-join it; and
    ``compact_inverted_index`` folds tombstones in for real, restoring
    zero read-side cost. The stats row is decremented eagerly (it is one
    row) so BM25's N/avgdl stay correct while tombstones exist.

    Idempotent: victims are resolved through the LIVE view (anti-joined
    against existing tombstones), so re-deleting an already-deleted id is
    a no-op — no duplicate tombstone row, no second stats decrement.

    Works on POSITIONAL-ONLY layouts too (build_positional_index writes
    no doclens/stats side-tables — the docstring there routes deletes
    here): victims then resolve against the postings' live doc ids and
    only the tombstone table is written (``deletes.tombstone``). That
    resolve is a full postings scan (no query terms to prune by), fine
    for an offline delete; ``compact_positional_index`` folds the
    tombstones in for real.

    Returns the number of ids newly tombstoned."""
    spark = SparkSession.getActiveSession()
    # Route on the PERSISTED layout kind, never a filesystem probe: an
    # os.path.isdir(doclens_path) check is local-FS-only — a BM25 layout
    # on s3:// or hdfs:// would silently take the positional branch and
    # skip the doclens/stats decrement, corrupting BM25's N/avgdl.
    if index.positional:
        live_ids = _live(index, _read_postings(spark, index).select(index.id_col))
        return deletes.tombstone(live_ids, ids, index.tombstones_path, index.id_col)
    ids = [int(i) for i in ids]
    if not ids:
        return 0
    doclens = _live(index, _read_doclens(spark, index))
    victims = deletes.matching(doclens, ids, index.id_col)
    # The decremented stats row is aggregated AND materialized (one job:
    # the victims' decrement cross-joined with the old 1-row table, no
    # driver collect of either) BEFORE the tombstones land and the
    # overwrite is issued — the append path's shape, so a failure in the
    # aggregate can never leave stats_path without a replacement. Same
    # two double operands, same order, as the decrement always had.
    new_stats = (
        victims.select(
            F.count(F.lit(1)).cast("double").alias("_dn"),
            F.coalesce(F.sum("__dl"), F.lit(0)).cast("double").alias("_dtot"),
        )
        .crossJoin(_read_stats(spark, index))
        .select(
            (F.col("__n") - F.col("_dn")).alias("__n"),
            (F.col("__tot") - F.col("_dtot")).alias("__tot"),
            "_dn",
        )
        .localCheckpoint(eager=True)
    )
    n = int(new_stats.head()["_dn"])
    if n == 0:
        return 0
    victims.select(index.id_col).write.mode("append").parquet(index.tombstones_path)
    new_stats.drop("_dn").write.mode("overwrite").parquet(index.stats_path)
    return n


def _live(index: InvertedIndex, df: DataFrame) -> DataFrame:
    """``df`` without the deleted documents (index/deletes.py::live)."""
    return deletes.live(df, index.tombstones_path, index.id_col)


def build_positional_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = 64,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> InvertedIndex:
    """Positional postings — the phrase-query extension of the term-bucket
    layout (the Milvus 2.5 / Lucene ``match_phrase`` capability): one
    tokenize pass stores each (term, doc) with its SORTED in-document
    position list, partitioned by the same ``crc32(term) % n_buckets``
    scheme, so a phrase query's reads prune to ITS terms' buckets exactly
    like BM25's. Positions are indexes into the token sequence (after the
    tokenizer's length filter), 0-based.

    Returns an :class:`InvertedIndex` handle over the same layout shape;
    the BM25 side-tables (doclens/stats) are not written — a deployment
    wanting both scores and phrases builds both from the one tokenize
    pass."""
    tok = docs.select(
        id_col, F.posexplode(extract_tokens(F.col(text_col))).alias("pos", "term")
    )
    postings = (
        tok.groupBy("term", id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumn("bucket", F.crc32(F.col("term").cast("binary")) % n_buckets)
    )
    (
        postings.write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(f"{path}/postings")
    )
    index = InvertedIndex(
        path=path,
        n_buckets=n_buckets,
        id_col=id_col,
        text_col=text_col,
        postings_schema=postings.schema.json(),
        positional=True,
    )
    index.save_meta()
    return index


def append_to_positional_index(index: InvertedIndex, docs: DataFrame) -> None:
    """Append documents to the positional layout with no rebuild: their
    (term, doc, positions) rows land in the same crc32 bucket partitions,
    so the next phrase query's bucket pruning sees them immediately.
    There are no side-tables to maintain (phrase matching needs no corpus
    statistics), which makes the positional layout append-only-trivial;
    deletes ride the shared tombstone mechanism (``_live`` is applied by
    ``phrase_search_positional``). Same single-writer assumption as every
    layout append here."""
    id_col, text_col = index.id_col, index.text_col
    tok = docs.select(
        id_col, F.posexplode(extract_tokens(F.col(text_col))).alias("pos", "term")
    )
    (
        tok.groupBy("term", id_col)
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
        .withColumn("bucket", F.crc32(F.col("term").cast("binary")) % index.n_buckets)
        .write.mode("append")
        .partitionBy("bucket")
        .parquet(index.postings_path)
    )


def compact_positional_index(
    spark: SparkSession, index: InvertedIndex, new_path: str
) -> InvertedIndex:
    """Offline compaction for POSITIONAL-ONLY layouts — folds the
    shared tombstones in for real (restoring the join-free read plan)
    and collapses at-least-once replay duplicates (full-row distinct:
    a replayed append's (term, doc, positions) rows are byte-identical,
    the same no-row-update contract as every compactor here). BM25
    layouts use ``compact_inverted_index``, which also heals their
    doclens/stats side-tables; positional layouts have none, so
    compaction is one distinct + partitioned write — the same plan
    shape as the LSH compactor. Write-new-then-swap as everywhere."""
    posts = _live(index, _read_postings(spark, index)).distinct()
    posts.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{new_path}/postings"
    )
    out = InvertedIndex(
        path=new_path,
        n_buckets=index.n_buckets,
        id_col=index.id_col,
        text_col=index.text_col,
        postings_schema=index.postings_schema,
        positional=True,
    )
    out.save_meta()
    return out


def phrase_search_positional(
    spark: SparkSession,
    index: InvertedIndex,
    phrase: Sequence[str],
    k: int = 10,
) -> DataFrame:
    """Exact-phrase top-``k`` from the positional layout: docs where the
    tokens of ``phrase`` occur CONSECUTIVELY, ranked by occurrence count.

    Plan shape: the scan prunes to the phrase terms' bucket partitions;
    one groupBy(doc) pivots each term's position list into a map; the
    match count is then pure array algebra — start positions =
    positions(t₀) ∩ (positions(t₁) − 1) ∩ … ∩ (positions(tₙ₋₁) − (n−1)),
    all JVM-side (no UDF). A doc missing any phrase term yields a null
    intersection and drops out. Cost is the phrase terms' posting lists,
    never the corpus — the property that makes phrase queries cheap at
    100 TB.

    Returns (id_col, phrase_matches) with matches > 0, ordered by count
    desc / id asc, top-k."""
    terms = [t for t in phrase]
    if not terms:
        raise ValueError("phrase must be non-empty")
    id_col = index.id_col
    uniq = list(dict.fromkeys(terms))
    posts = _live(
        index,
        _read_postings(spark, index, _query_buckets(index, uniq))
        .filter(F.col("term").isin(uniq))
        # distinct: a replayed append (the at-least-once crash window)
        # lays down byte-identical (term, doc, positions) rows twice,
        # and map_from_entries below throws DUPLICATED_MAP_KEY on them —
        # reads must survive the window, not crash until compaction
        # folds it away. Cost is bounded by the query terms' postings,
        # already pruned above.
        .distinct(),
    )
    per_doc = posts.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct("term", "positions"))
        ).alias("__pos")
    )

    def _shift(offset: int):
        # factory pins the offset — a bare 2-arg lambda would receive the
        # array index as its second argument from F.transform
        return lambda p: p - offset

    starts = F.element_at(F.col("__pos"), terms[0])
    for i, t in enumerate(terms[1:], start=1):
        starts = F.array_intersect(
            starts, F.transform(F.element_at(F.col("__pos"), t), _shift(i))
        )
    return (
        per_doc.select(F.col(id_col), F.size(starts).alias("phrase_matches"))
        .filter(F.col("phrase_matches") > 0)
        .orderBy(F.col("phrase_matches").desc(), F.col(id_col).asc())
        .limit(k)
    )


def bm25_search_inverted_batch(
    spark: SparkSession,
    index: InvertedIndex,
    queries: dict[int, Sequence[str]],
    k: int = 10,
) -> DataFrame:
    """N lexical queries against the layout in ONE scan — the lexical
    twin of the IVF batch search's amortized-scan pattern: the postings
    read prunes to the UNION of every query's term buckets, ONE
    groupBy(doc) pivots every distinct term's tf into its own column,
    each query's score is its own fixed-order expression over its terms'
    columns (bit-exact, same discipline as the single-query path), and a
    per-query rank window takes top-k. Scan + doc-shuffle cost is paid
    once for the whole batch.

    Returns (query_id, id_col, bm25) with per-query rank ≤ k.
    """
    if not queries:
        raise ValueError("queries must be non-empty")
    qterms = {qid: list(dict.fromkeys(ts)) for qid, ts in queries.items()}
    all_terms = sorted({t for ts in qterms.values() for t in ts})
    tcol = {t: i for i, t in enumerate(all_terms)}
    id_col = index.id_col

    posts = _live(
        index,
        _read_postings(spark, index, _query_buckets(index, all_terms))
        .filter(F.col("term").isin(all_terms)),
    )
    tf = posts.groupBy(id_col).agg(
        *[
            F.sum(F.when(F.col("term") == t, F.col("tf")).otherwise(0))
            .cast("double")
            .alias(f"__tf{tcol[t]}")
            for t in all_terms
        ],
        F.max("__dl").alias("__dl"),
    )
    dfs = posts.groupBy().agg(
        *[
            F.count_distinct(F.when(F.col("term") == t, F.col(id_col)))
            .cast("double")
            .alias(f"__df{tcol[t]}")
            for t in all_terms
        ]
    )
    base = tf.crossJoin(F.broadcast(dfs)).crossJoin(
        F.broadcast(_read_stats(spark, index))
    )
    scored = base.select(
        F.col(id_col),
        *[
            bm25_score_expr_for(
                [f"__tf{tcol[t]}" for t in ts],
                [f"__df{tcol[t]}" for t in ts],
            ).alias(f"__s{qid}")
            for qid, ts in qterms.items()
        ],
    )
    stack_args = ", ".join(f"{int(qid)}, __s{qid}" for qid in qterms)
    long = scored.select(
        F.col(id_col),
        F.expr(f"stack({len(qterms)}, {stack_args}) AS (query_id, __raw)"),
    )
    # a doc with NO terms of a given query scores exactly 0 there (and a
    # doc with >=1 scores strictly positive — Lucene idf > 0): filter the
    # RAW score so each query's result holds exactly the docs containing
    # at least one of ITS terms, matching the single-query path
    long = long.filter(F.col("__raw") > 0).withColumn(
        "bm25", F.round(F.col("__raw"), 6)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        long.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", id_col, "bm25")
    )


def merge_inverted_indexes(
    spark: SparkSession,
    segments: Sequence[InvertedIndex],
    new_path: str,
    n_buckets: int | None = None,
) -> InvertedIndex:
    """Merge independently built index SEGMENTS into one layout — the
    LSM-style maintenance step for segmented ingest at 100 TB, where
    each arrival window (a day of crawl, a shard of a backfill) is
    indexed as its own segment in parallel and merged off the hot path.

    Contract: segment document sets are DISJOINT (the engine has no
    doc-update op, and an id lives in exactly one segment — same
    single-owner rule as the IVF layout). Each segment's deletion
    vectors are folded in on read, so the merged layout starts
    tombstone-free; per-segment replay duplicates collapse under the
    same max(tf)/max(__dl) rule as compaction; and the stats row is
    recomputed from the merged doclens. The result is bit-identical to
    a fresh build over the union of the segments' live documents
    (hash-checked by the text_inverted_merge_parity driver query).

    One shuffle over the unioned postings (the term-bucket groupBy,
    which also re-buckets when segments disagree on ``n_buckets`` or a
    different output ``n_buckets`` is requested), one over doclens.
    Write-new-then-swap like compaction: readers of the source segments
    stay consistent; the caller swaps the serving pointer.
    """
    if not segments:
        raise ValueError("segments must be non-empty")
    first = segments[0]
    for seg in segments[1:]:
        if seg.id_col != first.id_col or seg.text_col != first.text_col:
            raise ValueError(
                "segments disagree on id_col/text_col — merging indexes built "
                "over different document shapes is a rebuild, not a merge"
            )
    out_buckets = int(n_buckets or first.n_buckets)
    id_col = first.id_col

    posts = None
    for seg in segments:
        p = _live(seg, _read_postings(spark, seg)).select("term", id_col, "tf", "__dl")
        posts = p if posts is None else posts.unionByName(p)
    merged_posts = (
        posts.groupBy("term", id_col)
        .agg(F.max("tf").alias("tf"), F.max("__dl").alias("__dl"))
        .withColumn("bucket", F.crc32(F.col("term").cast("binary")) % out_buckets)
    )
    out = InvertedIndex(
        path=new_path,
        n_buckets=out_buckets,
        id_col=id_col,
        text_col=first.text_col,
        postings_schema=merged_posts.schema.json(),
    )
    merged_posts.write.mode("overwrite").partitionBy("bucket").parquet(
        out.postings_path
    )

    lens = None
    for seg in segments:
        d = _live(seg, _read_doclens(spark, seg))
        lens = d if lens is None else lens.unionByName(d)
    (
        lens.groupBy(id_col)
        .agg(F.max("__dl").alias("__dl"))
        .write.mode("overwrite")
        .parquet(out.doclens_path)
    )
    (
        _read_doclens(spark, out)
        .select(
            F.count(F.lit(1)).cast("double").alias("__n"),
            F.coalesce(F.sum("__dl"), F.lit(0)).cast("double").alias("__tot"),
        )
        .write.mode("overwrite")
        .parquet(out.stats_path)
    )
    out.save_meta()
    return out
