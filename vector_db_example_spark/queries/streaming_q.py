"""Structured Streaming query inventory (SURVEY.md §1.4/§2.9 M6).

The reference has no streaming surface (verified in SURVEY.md §2.9); these
are the engine's continuous-ingest and event-analytics extensions. Each
query here runs a REAL streaming plan (``readStream`` → stateful op →
sink) to completion with ``availableNow`` and returns the materialized
result, so the driver's DuckDB oracle can check that the streaming
answer on a static input is exactly the batch answer — the equivalence
Structured Streaming guarantees by design.

Scale note: on a cluster the only change is the source/sink format
(Kafka / partitioned tables); the stateful plan — watermark, window agg,
session windows, foreachBatch embed+append — is identical, and state
stays bounded by the watermark.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..streaming.events import (
    interval_join_clicks_before_purchases,
    read_events_stream,
    run_to_memory,
    session_windows,
    stateful_user_topk,
    windowed_type_counts,
)
from ..streaming.ingest import stream_ingest_documents
from .registry import register
from .vector_q import _l2_sql as _l2


@register(
    "stream_events_tumbling_window",
    oracle="""
SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "events", "window"),
)
def stream_events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window × event_type as a STREAMING plan
    (withWatermark → groupBy(window) → memory sink, availableNow). On the
    static test input this must equal the batch `events_tumbling_window`
    — the same DuckDB oracle checks both."""
    stream = read_events_stream(spark, sf_dir)
    return run_to_memory(windowed_type_counts(stream), name="tumbling")


@register(
    "stream_events_sliding_window",
    oracle="""
WITH w AS (
  SELECT time_bucket(INTERVAL 15 MINUTE, ts::TIMESTAMP)
           - k.k * INTERVAL 15 MINUTE AS window_start,
         event_type, value
  FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS k(k)
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS total_value
FROM w GROUP BY 1, 2
""",
    tags=("streaming", "events", "window", "sliding"),
)
def stream_events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour/15-minute window as a STREAMING plan — same
    watermarked stateful agg as the tumbling form, with 4 overlapping
    windows of state per key. Must equal the batch
    `events_sliding_window` (same oracle)."""
    stream = read_events_stream(spark, sf_dir)
    return run_to_memory(
        windowed_type_counts(stream, slide="15 minutes"), name="sliding"
    )


@register(
    "stream_events_sessionization",
    oracle="""
WITH e AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events),
gaps AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
  FROM e
),
marked AS (
  SELECT user_id, ts,
         CASE WHEN prev_ts IS NULL OR ts - prev_ts >= INTERVAL 10 MINUTE
              THEN 1 ELSE 0 END AS new_session
  FROM gaps
),
sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       count(*)::BIGINT AS n_events
FROM sess GROUP BY user_id, sid
""",
    tags=("streaming", "events", "session"),
)
def stream_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native `session_window` (gap-based, 10 min) as a streaming plan.
    Session extension is half-open [t, t+gap): an event exactly gap later
    opens a new session, so the oracle's gap test is `>=`."""
    stream = read_events_stream(spark, sf_dir)
    return run_to_memory(session_windows(stream), name="sessions")


@register(
    "stream_events_dedup",
    oracle="""
SELECT event_type, count(*)::BIGINT AS n
FROM events
GROUP BY event_type
""",
    tags=("streaming", "events", "dedup"),
)
def stream_events_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup: the events stream unioned with
    itself (every row arrives twice) → watermarked dropDuplicates on
    event_id → the per-type counts must equal the UN-duplicated batch
    counts. This is the at-least-once-source → exactly-once-sink pattern
    (dedup state bounded by the watermark)."""
    a = read_events_stream(spark, sf_dir)
    b = read_events_stream(spark, sf_dir)
    deduped = (
        a.unionByName(b)
        .withWatermark("ts", "2 hours")
        .dropDuplicates(["event_id"])
    )
    out = run_to_memory(
        deduped.select("event_id", "event_type"), name="dedup", output_mode="append"
    )
    return out.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@register(
    "stream_events_interval_join",
    oracle="""
WITH p AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events
           WHERE event_type = 'purchase'),
c AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts, value FROM events
      WHERE event_type = 'click')
SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id,
       c.value AS click_value
FROM p JOIN c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
 AND c.ts <  p.ts
""",
    tags=("streaming", "join", "interval"),
)
def stream_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchases x preceding clicks) as a
    REAL streaming plan — double-watermarked, time-bounded state. On the
    static input this equals the batch inner range join (same oracle
    family as the bucketed batch form)."""
    purchases = read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    clicks = read_events_stream(spark, sf_dir).filter(F.col("event_type") == "click")
    joined = interval_join_clicks_before_purchases(purchases, clicks)
    return run_to_memory(joined, name="interval_join", output_mode="append")


@register(
    "stream_user_topk_state",
    oracle="""
WITH ranked AS (
  SELECT user_id, value, event_type, event_id,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events WHERE value IS NOT NULL
)
SELECT user_id, rank::INTEGER AS rank, value, event_type, event_id
FROM ranked WHERE rank <= 3
""",
    tags=("streaming", "state", "applyInPandasWithState"),
)
def stream_user_topk_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user top-3 events by value held as explicit O(k) group state.
    On the static input this must equal the batch window top-k — the
    oracle is a plain row_number window."""
    stream = read_events_stream(spark, sf_dir)
    return run_to_memory(
        stateful_user_topk(stream, k=3), name="user_topk", output_mode="update"
    )


@register(
    "stream_ingest_documents",
    oracle="""
WITH cleaned AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(text, '[^\\w一-鿿\\s.,!?;:，。！？；：]', '', 'g'),
                             '\\s+', ' ', 'g')) AS clean_text
  FROM documents
)
SELECT doc_id, length(clean_text)::BIGINT AS clean_len, 384 AS emb_dim
FROM cleaned
WHERE length(clean_text) >= 10
""",
    tags=("streaming", "pipeline", "S5", "F1", "F7"),
)
def stream_ingest_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest (S5 as foreachBatch: clean → filter → embed →
    append) run to completion, then the sink read back. The oracle checks
    the surviving row set, cleaned lengths, and the embedding arity; the
    embedding values themselves are covered by the pytest hashing-embedder
    oracle (not SQL-expressible)."""
    work = tempfile.mkdtemp(prefix="stream_ingest_")
    try:
        stream_ingest_documents(
            spark,
            sf_dir,
            sink_path=f"{work}/sink",
            checkpoint_path=f"{work}/ckpt",
        )
        out = spark.read.parquet(f"{work}/sink").select(
            "doc_id",
            F.length("text").cast("long").alias("clean_len"),
            F.size("embedding").alias("emb_dim"),
        )
        # Materialize before the temp dir disappears (Spark scans lazily).
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "stream_events_enrich_dim",
    oracle="""
SELECT c.c_mktsegment, e.event_type,
       count(*)::BIGINT AS n_events,
       round(sum(e.value), 2) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
    tags=("streaming", "events", "join", "enrichment"),
)
def stream_events_enrich_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment: streaming events joined per-batch
    against the static customer dimension (broadcast, stateless — no
    watermark or join state needed), rolled up to revenue per market
    segment × event type. The batch oracle is the exact same join+agg."""
    from ..sources.tables import load_table
    from ..streaming.events import enrich_against_dimension

    stream = read_events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    out = enrich_against_dimension(
        stream,
        customer,
        stream["user_id"] == customer["c_custkey"],
        "c_mktsegment",
    )
    return run_to_memory(out, name="enrich_dim")


@register(
    "stream_events_rollup_upsert",
    oracle="""
SELECT strftime(ts::DATE, '%Y-%m-%d') AS event_date,
       strftime(time_bucket(INTERVAL 1 HOUR, ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S')
         AS hour_ts,
       event_type,
       count(*)::BIGINT AS n,
       round(sum(value), 2) AS value_sum,
       round(min(value), 2) AS value_min,
       round(max(value), 2) AS value_max
FROM events
GROUP BY 1, 2, 3
""",
    tags=("streaming", "events", "rollup", "hypertable"),
)
def stream_events_rollup_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: the events table is replayed as
    a THREE-batch stream (source split on event_id % 3, one file per
    trigger — so hours genuinely span batches) through the merge-upsert
    rollup sink (streaming/rollup.py), then the maintained layout is read
    back. The oracle states the equivalent one-shot hourly aggregation —
    if cross-batch partial merging dropped or double-counted anything,
    counts and sums would differ."""
    import tempfile

    from ..sources.tables import load_table, restore_event_ts
    from ..streaming.rollup import read_rollup, stream_rollup_maintenance

    ev = load_table(spark, sf_dir, "events")
    work = tempfile.mkdtemp(prefix="stream_rollup_")
    try:
        src = f"{work}/src"
        for i in range(3):
            ev.filter(F.col("event_id") % 3 == i).write.mode("append").parquet(src)
        raw_schema = spark.read.parquet(src).schema
        stream = restore_event_ts(
            spark.readStream.schema(raw_schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_rollup_maintenance(
            spark, stream, rollup_path=f"{work}/rollup", checkpoint_path=f"{work}/ckpt"
        )
        out = read_rollup(spark, f"{work}/rollup").select(
            "event_date",
            "hour_ts",
            "event_type",
            "n",
            F.round("value_sum", 2).alias("value_sum"),
            F.round("value_min", 2).alias("value_min"),
            F.round("value_max", 2).alias("value_max"),
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _cms_oracle() -> str:
    from .text_q import CMS_HH_ORACLE

    return CMS_HH_ORACLE


@register(
    "stream_cms_documents",
    oracle=_cms_oracle(),
    tags=("streaming", "sketch", "count-min"),
)
def stream_cms_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of agg_count_min_heavy_hitters: the documents
    table replays as a THREE-batch stream (doc_id % 3, one file per
    trigger), each micro-batch writes its own depth×width partial
    counter block (idempotent per batch id — no state store needed),
    and the served sketch is the partition-discovered SUM. The oracle is
    the one-shot batch sketch SQL: if cross-batch merging dropped or
    double-counted any counter, the estimates would differ — sketch
    mergeability exercised through the streaming engine itself."""
    from ..functions.text import extract_tokens
    from ..operators.sketch import cms_estimates
    from ..sources.tables import load_table
    from ..streaming.ingest import (
        DOCUMENTS_SCHEMA,
        read_count_min,
        stream_count_min_maintenance,
    )

    docs = load_table(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="stream_cms_")
    try:
        src = f"{work}/src"
        for i in range(3):
            docs.filter(F.col("doc_id") % 3 == i).write.mode("append").parquet(src)
        stream = (
            spark.readStream.schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        stream_count_min_maintenance(
            spark, stream, sketch_path=f"{work}/sketch",
            checkpoint_path=f"{work}/ckpt",
        )
        sketch = read_count_min(spark, f"{work}/sketch")
        tok = docs.select(F.explode(extract_tokens(F.col("text"))).alias("t"))
        exact = (
            tok.groupBy("t")
            .agg(F.count(F.lit(1)).alias("exact_count"))
            .orderBy(F.col("exact_count").desc(), F.col("t").asc())
            .limit(20)
        )
        est = cms_estimates(sketch, exact.select("t"), depth=4, width=16)
        out = exact.join(est, "t").select(
            F.col("t").alias("token"), "exact_count", "cms_estimate"
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "stream_ivf_ingest_search_parity",
    # the streamed layout must answer EXACTLY like brute force over the
    # whole corpus: seed (30%) and stream (70%) are disjoint by the
    # vec_id mod split, so integrity failures (lost/duplicated/corrupted
    # streamed rows) break the hash
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 33),
d AS (
  SELECT e.vec_id, e.label, {_l2('e.embedding', 'q.qv')} AS dist
  FROM embeddings e CROSS JOIN q
)
SELECT vec_id, label, round(dist, 6) AS distance
FROM d ORDER BY dist, vec_id LIMIT 10
""",
    tags=("streaming", "vector", "ivf", "ingest"),
)
def stream_ivf_ingest_search_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingest INTO the ANN layout, hash-checked end to end:
    build the IVF layout on 30% of the embeddings (centroids train on
    the seed), replay the other 70% through the Structured Streaming
    ingest (micro-batched nearest-centroid assignment + cell-partitioned
    append, streaming/ingest.py::stream_ingest_embeddings_into_ivf),
    then an exhaustive-probe search must equal brute-force L2 top-10
    over the WHOLE corpus — the log-to-index pipeline answering as if
    freshly built on everything it has ever ingested. Selective ingest
    uses the ``where`` predicate, pushed onto the streaming scan."""
    from ..index.ivf import build_ivf_index, ivf_search
    from ..sources.tables import load_table
    from ..streaming.ingest import stream_ingest_embeddings_into_ivf
    from .vector_q import _query_vec

    emb = load_table(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir, 33)
    work = tempfile.mkdtemp(prefix="stream_ivf_")
    try:
        index = build_ivf_index(
            emb.filter(F.col("vec_id") % 10 < 3), f"{work}/idx", nlist=8
        )
        stream_ingest_embeddings_into_ivf(
            spark, sf_dir, index, checkpoint_path=f"{work}/ckpt",
            where=F.col("vec_id") % 10 >= 3,
        )
        hits = ivf_search(spark, index, qv, k=10, nprobe=8)
        out = hits.select(
            "vec_id", "label", F.round("distance", 6).alias("distance")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "vector_ivf_declared_empty_ingest_parity",
    # both lifecycle stages must answer EXACTLY like brute force over
    # everything ever ingested: 'streamed' hash-pins the declared-empty
    # layout (zero-centroid cell 0) after the full corpus arrived
    # through the at-least-once sink, 'compacted' hash-pins the first
    # retrain (stub centroid -> real nlist=8 cells, distinct() healing)
    oracle=f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 47),
d AS (
  SELECT e.vec_id, e.label, {_l2('e.embedding', 'q.qv')} AS dist
  FROM embeddings e CROSS JOIN q
),
topk AS (
  SELECT vec_id, label, round(dist, 6) AS distance
  FROM d ORDER BY dist, vec_id LIMIT 10
)
SELECT s.stage, t.vec_id, t.label, t.distance
FROM topk t CROSS JOIN (VALUES ('streamed'), ('compacted')) AS s(stage)
""",
    tags=("streaming", "vector", "ivf", "ingest", "lifecycle"),
)
def vector_ivf_declared_empty_ingest_parity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The reference's full collection lifecycle — declare the schema
    (dim) and index BEFORE any insert (create_collection +
    create_index precede the first insert in src/app.py), then ingest,
    search, and compact:

    1. ``build_ivf_index(dim=64)`` over an EMPTY frame declares the
       layout (single zero centroid — the data-free stub).
    2. The whole embeddings table replays through the Structured
       Streaming ingest sink; every batch assigns to cell 0.
    3. A k=10 search over the streamed layout must equal brute-force L2
       over the full corpus (one cell ⇒ the pruned scan IS exact).
    4. ``compact_ivf_index(nlist=8)`` retrains real centroids from the
       ingested corpus; the exhaustive-probe search must STILL equal
       brute force.

    Both stages' top-10 are returned under a ``stage`` column, so one
    hash verdict covers the declared-empty read path, the streamed
    appends' integrity, and the stub→real-centroid retrain."""
    from ..index.ivf import build_ivf_index, compact_ivf_index, ivf_search
    from ..streaming.ingest import stream_ingest_embeddings_into_ivf
    from .vector_q import _query_vec

    qv = _query_vec(spark, sf_dir, 47)
    work = tempfile.mkdtemp(prefix="stream_ivf_declared_")
    try:
        empty = spark.createDataFrame(
            [], "vec_id long, embedding array<float>, label int"
        )
        index = build_ivf_index(empty, f"{work}/idx", dim=64)
        stream_ingest_embeddings_into_ivf(
            spark, sf_dir, index, checkpoint_path=f"{work}/ckpt"
        )
        streamed = ivf_search(spark, index, qv, k=10, nprobe=1).select(
            F.lit("streamed").alias("stage"),
            "vec_id",
            "label",
            F.round("distance", 6).alias("distance"),
        )
        compacted_idx = compact_ivf_index(spark, index, f"{work}/idx_c", nlist=8)
        compacted = ivf_search(spark, compacted_idx, qv, k=10, nprobe=8).select(
            F.lit("compacted").alias("stage"),
            "vec_id",
            "label",
            F.round("distance", 6).alias("distance"),
        )
        out = streamed.unionByName(compacted)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _crawl_oracle() -> str:
    """The dedup-gated crawl pipeline's DuckDB mirror, assembled from the
    shared fragments: the incremental-dedup band SQL (dedup_q._bands_sql,
    bit-exact with index/dedupidx.py) iterated over two sequential
    batches — batch 1's index side includes batch 0's survivors — plus
    the hashing-embedder mirror (pipeline_q) for the final search stage
    over everything ever accepted."""
    from .dedup_q import _bands_sql
    from .pipeline_q import _EMBED64_VEC_SQL, _embed64_pairs_sql

    l2 = (
        "sqrt(list_sum(list_transform(range(1, 65), "
        "i -> (a.vector[i]::DOUBLE - q.qvec[i]::DOUBLE)"
        " * (a.vector[i]::DOUBLE - q.qvec[i]::DOUBLE))))"
    )
    return f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
),
fresh0 AS (
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 2 = 0
),
b0 AS (
  SELECT * FROM fresh0
  UNION ALL
  SELECT id + 1000000 AS id, text FROM corpus WHERE id % 7 = 0
  UNION ALL
  SELECT id + 2000000 AS id, text FROM fresh0 WHERE id % 5 = 0
),
b1 AS (
  SELECT id + 3000000 AS id, text FROM fresh0
  UNION ALL
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 2 = 1
  UNION ALL
  SELECT new_id AS id, new_text AS text
  FROM (SELECT id + 4000000 AS new_id, text || ' zz' || id AS new_text
        FROM corpus WHERE id % 11 = 0)
),
cb AS ({_bands_sql('corpus')}),
b0b AS ({_bands_sql('b0')}),
hit0 AS (SELECT DISTINCT b.id FROM b0b b
         JOIN cb c ON b.band = c.band AND b.key = c.key),
new0 AS (SELECT * FROM b0b WHERE id NOT IN (SELECT id FROM hit0)),
gm0 AS (SELECT band, key, min(id) AS min_id FROM new0 GROUP BY band, key),
w0 AS (SELECT DISTINCT n.id FROM new0 n
       JOIN gm0 g ON n.band = g.band AND n.key = g.key
       WHERE n.id > g.min_id),
surv0 AS (SELECT id, text FROM b0
          WHERE id NOT IN (SELECT id FROM hit0)
            AND id NOT IN (SELECT id FROM w0)),
sb0 AS ({_bands_sql('surv0')}),
idx1 AS (SELECT band, key FROM cb UNION ALL SELECT band, key FROM sb0),
b1b AS ({_bands_sql('b1')}),
hit1 AS (SELECT DISTINCT b.id FROM b1b b
         JOIN idx1 c ON b.band = c.band AND b.key = c.key),
new1 AS (SELECT * FROM b1b WHERE id NOT IN (SELECT id FROM hit1)),
gm1 AS (SELECT band, key, min(id) AS min_id FROM new1 GROUP BY band, key),
w1 AS (SELECT DISTINCT n.id FROM new1 n
       JOIN gm1 g ON n.band = g.band AND n.key = g.key
       WHERE n.id > g.min_id),
surv1 AS (SELECT id, text FROM b1
          WHERE id NOT IN (SELECT id FROM hit1)
            AND id NOT IN (SELECT id FROM w1)),
accepted AS (
  SELECT * FROM corpus
  UNION ALL SELECT * FROM surv0
  UNION ALL SELECT * FROM surv1
),
ap AS (SELECT id, {_embed64_pairs_sql('text')} AS ps FROM accepted),
av AS (SELECT id, {_EMBED64_VEC_SQL} AS vector FROM ap),
qt AS (
  SELECT array_to_string((string_split_regex(trim(text), '\\s+'))[1:8], ' ')
         AS question
  FROM documents WHERE doc_id = 0
),
qp AS (SELECT {_embed64_pairs_sql('question')} AS ps FROM qt),
qv AS (SELECT {_EMBED64_VEC_SQL} AS qvec FROM qp),
dist AS (
  SELECT a.id, {l2} AS d FROM av a CROSS JOIN qv q
),
top10 AS (SELECT id, round(d, 6) AS metric FROM dist ORDER BY d, id LIMIT 10)
SELECT 'b0' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM hit0))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM w0))::INTEGER AS within_dup,
       (-1.0)::DOUBLE AS metric
FROM b0 b
UNION ALL
SELECT 'b1' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM hit1))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM w1))::INTEGER AS within_dup,
       (-1.0)::DOUBLE AS metric
FROM b1 b
UNION ALL
SELECT 'search' AS stage, id AS doc_id,
       -1 AS corpus_dup, -1 AS within_dup, metric
FROM top10
"""


@register(
    "stream_crawl_dedup_gated_ingest",
    # One hash verdict over the whole intake loop: both micro-batches'
    # per-document admission verdicts (batch 1's filter must see batch
    # 0's survivor bands — the streamed append-visibility contract) AND
    # a final exhaustive-probe vector search that must rank exactly like
    # brute force over corpus + every accepted survivor (integrity of
    # the dedup-gated IVF appends: nothing lost, nothing admitted twice,
    # nothing a dup verdict should have dropped).
    oracle=_crawl_oracle(),
    tags=("streaming", "dedup", "ivf", "ingest", "pipeline", "training-data"),
)
def stream_crawl_dedup_gated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-data intake loop (streaming/crawl.py) as one
    driver-checked lifecycle: build the dedup layout + IVF layout over
    an accepted corpus (doc_id % 3 < 2), then replay two crawl batches
    through the dedup-gated Structured Streaming sink —

    - batch b0: fresh docs + exact corpus plants (→ corpus_dup) + exact
      within-batch plants (→ within_dup on the higher id),
    - batch b1: exact copies of b0's fresh docs (→ corpus_dup ONLY
      because b0's surviving bands were appended by the earlier
      micro-batch), more fresh docs, and near-dup suffix variants of
      corpus docs (landing wherever banding puts them — identically on
      both engines)

    — and finally search the IVF layout (nprobe = nlist, exhaustive)
    for a corpus-derived question embedding. Stages share one verdict:
    ``(stage, doc_id, corpus_dup, within_dup, metric)`` with metric =
    −1 for admission rows and the rounded L2 distance for search rows."""
    import glob as _glob
    import os as _os

    from ..functions.embedding import hash_embed_one
    from ..index.dedupidx import build_dedup_index
    from ..index.ivf import build_ivf_index, ivf_search
    from ..functions.embedding import hashing_embedder
    from ..sources.tables import load_table, widen_cpu_dense
    from ..streaming.crawl import stream_crawl_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 < 2)
    fresh0 = docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 2 == 0))
    b0 = fresh0.unionByName(
        corpus.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        fresh0.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    b1 = (
        fresh0.select((F.col("doc_id") + 3000000).alias("doc_id"), "text")
        .unionByName(
            docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 2 == 1))
        )
        .unionByName(
            corpus.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 4000000).alias("doc_id"),
                F.concat(
                    "text", F.lit(" zz"), F.col("doc_id").cast("string")
                ).alias("text"),
            )
        )
    )
    qrow = (
        docs.filter(F.col("doc_id") == 0)
        .select(
            F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 8), " ").alias(
                "q"
            )
        )
        .head()
    )
    qv = hash_embed_one(qrow["q"], 64)

    def _drop_file(df: DataFrame, src_dir: str, name: str, mtime: int) -> None:
        """One parquet file per crawl batch, mtime-pinned so the
        FileStreamSource admission order is deterministic."""
        stage_dir = f"{src_dir}_stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(stage_dir)
        part = _glob.glob(f"{stage_dir}/part-*.parquet")[0]
        dest = f"{src_dir}/{name}.parquet"
        shutil.copyfile(part, dest)
        _os.utime(dest, (mtime, mtime))
        shutil.rmtree(stage_dir, ignore_errors=True)

    work = tempfile.mkdtemp(prefix="crawl_gate_")
    try:
        didx = build_dedup_index(corpus, f"{work}/dedup")
        embedded = widen_cpu_dense(corpus).withColumn(
            "embedding", hashing_embedder(64)(F.col("text"))
        )
        vidx = build_ivf_index(embedded, f"{work}/ivf", nlist=8, id_col="doc_id")
        src_dir = f"{work}/src"
        _os.makedirs(src_dir)
        _drop_file(b0, src_dir, "b0", 1_000_000_000)
        _drop_file(b1, src_dir, "b1", 1_000_000_100)
        stream_crawl_ingest(
            spark,
            src_dir,
            didx,
            vidx,
            f"{work}/ckpt",
            verdict_path=f"{work}/verdicts",
            max_files_per_trigger=1,
        )
        stage = F.when(F.col("__batch_id") == 0, "b0").otherwise("b1")
        admissions = spark.read.parquet(f"{work}/verdicts").select(
            stage.alias("stage"),
            "doc_id",
            F.col("corpus_dup").cast("int").alias("corpus_dup"),
            F.col("within_dup").cast("int").alias("within_dup"),
            F.lit(-1.0).alias("metric"),
        )
        search = ivf_search(spark, vidx, qv, k=10, nprobe=8).select(
            F.lit("search").alias("stage"),
            "doc_id",
            F.lit(-1).alias("corpus_dup"),
            F.lit(-1).alias("within_dup"),
            F.round("distance", 6).alias("metric"),
        )
        out = admissions.unionByName(search)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _crawl_decontaminated_oracle() -> str:
    """One admission stage with BOTH gates mirrored: the LSH band filter
    (dedup_q._bands_sql) and the decontamination fingerprint (the same
    normalized-prefix md5 the dedup_decontaminate oracle states), plus
    the embed-and-search stage over corpus + survivors."""
    from .dedup_q import _bands_sql
    from .pipeline_q import _EMBED64_VEC_SQL, _embed64_pairs_sql

    fp = "md5(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), 1, 64))"
    l2 = (
        "sqrt(list_sum(list_transform(range(1, 65), "
        "i -> (a.vector[i]::DOUBLE - q.qvec[i]::DOUBLE)"
        " * (a.vector[i]::DOUBLE - q.qvec[i]::DOUBLE))))"
    )
    return f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
),
fresh0 AS (
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 2 = 0
),
b0 AS (
  SELECT * FROM fresh0
  UNION ALL
  SELECT id + 1000000 AS id, text FROM corpus WHERE id % 7 = 0
  UNION ALL
  SELECT id + 5000000 AS id, text FROM corpus WHERE id % 13 = 0
  UNION ALL
  SELECT id + 2000000 AS id, text FROM fresh0 WHERE id % 5 = 0
),
bench AS (SELECT DISTINCT {fp} AS fp FROM documents WHERE doc_id % 13 = 0),
cont AS (
  SELECT DISTINCT id FROM (SELECT id, {fp} AS fp FROM b0)
  WHERE fp IN (SELECT fp FROM bench)
),
cb AS ({_bands_sql('corpus')}),
b0b AS ({_bands_sql('b0')}),
hit0 AS (SELECT DISTINCT b.id FROM b0b b
         JOIN cb c ON b.band = c.band AND b.key = c.key),
new0 AS (SELECT * FROM b0b WHERE id NOT IN (SELECT id FROM hit0)),
gm0 AS (SELECT band, key, min(id) AS min_id FROM new0 GROUP BY band, key),
w0 AS (SELECT DISTINCT n.id FROM new0 n
       JOIN gm0 g ON n.band = g.band AND n.key = g.key
       WHERE n.id > g.min_id),
surv AS (SELECT id, text FROM b0
         WHERE id NOT IN (SELECT id FROM hit0)
           AND id NOT IN (SELECT id FROM w0)
           AND id NOT IN (SELECT id FROM cont)),
accepted AS (SELECT * FROM corpus UNION ALL SELECT * FROM surv),
ap AS (SELECT id, {_embed64_pairs_sql('text')} AS ps FROM accepted),
av AS (SELECT id, {_EMBED64_VEC_SQL} AS vector FROM ap),
qt AS (
  SELECT array_to_string((string_split_regex(trim(text), '\\s+'))[1:8], ' ')
         AS question
  FROM documents WHERE doc_id = 0
),
qp AS (SELECT {_embed64_pairs_sql('question')} AS ps FROM qt),
qv AS (SELECT {_EMBED64_VEC_SQL} AS qvec FROM qp),
dist AS (SELECT a.id, {l2} AS d FROM av a CROSS JOIN qv q),
top10 AS (SELECT id, round(d, 6) AS metric FROM dist ORDER BY d, id LIMIT 10)
SELECT 'b0' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM hit0))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM w0))::INTEGER AS within_dup,
       (b.id IN (SELECT id FROM cont))::INTEGER AS contaminated,
       (-1.0)::DOUBLE AS metric
FROM b0 b
UNION ALL
SELECT 'search' AS stage, id AS doc_id,
       -1 AS corpus_dup, -1 AS within_dup, -1 AS contaminated, metric
FROM top10
"""


@register(
    "stream_crawl_decontaminated_ingest",
    # The intake loop with BOTH admission gates: near-dup banding AND
    # benchmark decontamination. Corpus plants that are also benchmark
    # members pin flag independence (corpus_dup AND contaminated on one
    # row); the search stage proves no flagged doc reached the vector
    # layout.
    oracle=_crawl_decontaminated_oracle(),
    tags=("streaming", "dedup", "decontamination", "ivf", "ingest", "pipeline",
          "training-data"),
)
def stream_crawl_decontaminated_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl admission loop with the decontamination gate armed
    (streaming/crawl.py ``benchmark_fps``): the held-out benchmark set
    is the doc_id % 13 == 0 slice's normalized-prefix fingerprints
    (operators/dedup.py::contamination_fingerprint — the same key the
    batch audit dedup_decontaminate uses). One crawl batch carries
    fresh docs, exact corpus plants (corpus_dup), copies of
    benchmark-member corpus docs (corpus_dup AND contaminated — the
    flags are independent), within-batch plants (within_dup), and
    benchmark-member fresh docs (contaminated via the natural slice
    overlap). Verdicts plus an exhaustive-probe search over
    corpus + survivors share one hash verdict."""
    import glob as _glob
    import os as _os

    from ..functions.embedding import hash_embed_one, hashing_embedder
    from ..index.dedupidx import build_dedup_index
    from ..index.ivf import build_ivf_index, ivf_search
    from ..operators.dedup import contamination_fingerprint
    from ..sources.tables import load_table, widen_cpu_dense
    from ..streaming.crawl import stream_crawl_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 < 2)
    fresh0 = docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 2 == 0))
    b0 = (
        fresh0.unionByName(
            corpus.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            corpus.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 5000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            fresh0.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    bench = (
        docs.filter(F.col("doc_id") % 13 == 0)
        .select(contamination_fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    qrow = (
        docs.filter(F.col("doc_id") == 0)
        .select(
            F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 8), " ").alias(
                "q"
            )
        )
        .head()
    )
    qv = hash_embed_one(qrow["q"], 64)

    work = tempfile.mkdtemp(prefix="crawl_decon_")
    try:
        didx = build_dedup_index(corpus, f"{work}/dedup")
        embedded = widen_cpu_dense(corpus).withColumn(
            "embedding", hashing_embedder(64)(F.col("text"))
        )
        vidx = build_ivf_index(embedded, f"{work}/ivf", nlist=8, id_col="doc_id")
        src_dir = f"{work}/src"
        _os.makedirs(src_dir)
        stage_dir = f"{work}/stage_b0"
        b0.coalesce(1).write.mode("overwrite").parquet(stage_dir)
        part = _glob.glob(f"{stage_dir}/part-*.parquet")[0]
        shutil.copyfile(part, f"{src_dir}/b0.parquet")
        stream_crawl_ingest(
            spark,
            src_dir,
            didx,
            vidx,
            f"{work}/ckpt",
            verdict_path=f"{work}/verdicts",
            benchmark_fps=bench,
        )
        admissions = spark.read.parquet(f"{work}/verdicts").select(
            F.lit("b0").alias("stage"),
            "doc_id",
            F.col("corpus_dup").cast("int").alias("corpus_dup"),
            F.col("within_dup").cast("int").alias("within_dup"),
            F.col("contaminated").cast("int").alias("contaminated"),
            F.lit(-1.0).alias("metric"),
        )
        search = ivf_search(spark, vidx, qv, k=10, nprobe=8).select(
            F.lit("search").alias("stage"),
            "doc_id",
            F.lit(-1).alias("corpus_dup"),
            F.lit(-1).alias("within_dup"),
            F.lit(-1).alias("contaminated"),
            F.round("distance", 6).alias("metric"),
        )
        out = admissions.unionByName(search)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _crawl_verified_oracle() -> str:
    """The VERIFIED crawl admission loop's DuckDB mirror: the
    dedup_incremental_verified_filter algebra (dedup_q — signature
    estimate ≥ 0.5, candidate_cap=2 mega-key routing) iterated over two
    sequential batches, batch 1's index side (band layout, signature
    side-car, AND the mega-key counts) including batch 0's survivors.

    The signature and band CTEs are ``MATERIALIZED``: each is read by
    several later CTEs, and an inlined one re-runs its md5 MinHash per
    reference (DuckDB 1.0 inlines by default) — 118 s → 0.5 s for the
    whole oracle at sf0.01, identical rows."""
    from .dedup_q import _BANDS_OF_SIGS_SQL, _SIM_SQL, _sigs_sql

    return f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
  UNION ALL
  SELECT 500000 + g.i AS id, d.text
  FROM (SELECT text FROM documents WHERE doc_id = 0) d
  CROSS JOIN generate_series(1, 5) AS g(i)
),
fresh0 AS (
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 2 = 0
),
b0 AS (
  SELECT * FROM fresh0
  UNION ALL
  SELECT doc_id + 1000000 AS id, text
  FROM documents WHERE doc_id % 3 < 2 AND doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS id, text || ' zzq zzw' AS text
  FROM documents WHERE doc_id % 3 < 2 AND doc_id % 11 = 0
  UNION ALL
  SELECT id + 3000000 AS id, text FROM fresh0 WHERE id % 5 = 0
),
b1 AS (
  SELECT id + 4000000 AS id, text FROM fresh0
  UNION ALL
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 2 = 1
),
csig AS MATERIALIZED ({_sigs_sql('corpus')}),
b0sig AS MATERIALIZED ({_sigs_sql('b0')}),
cb AS MATERIALIZED ({_BANDS_OF_SIGS_SQL.format(sigs='csig')}),
b0b AS MATERIALIZED ({_BANDS_OF_SIGS_SQL.format(sigs='b0sig')}),
counts0 AS (SELECT band, key, count(*) AS n FROM cb GROUP BY band, key),
over0 AS (SELECT band, key FROM counts0 WHERE n > 2),
auto0 AS (
  SELECT DISTINCT b.id FROM b0b b
  JOIN over0 o ON b.band = o.band AND b.key = o.key
),
cand0 AS (
  SELECT DISTINCT b.id AS bid, c.id AS cid
  FROM b0b b
  JOIN (SELECT cb.* FROM cb
        LEFT JOIN over0 o ON cb.band = o.band AND cb.key = o.key
        WHERE o.band IS NULL) c
    ON b.band = c.band AND b.key = c.key
),
vhits0 AS (
  SELECT DISTINCT cand0.bid AS id
  FROM cand0
  JOIN b0sig bs ON bs.id = cand0.bid
  JOIN csig cs ON cs.id = cand0.cid
  WHERE {_SIM_SQL} >= 0.5
),
cdup0 AS (SELECT id FROM auto0 UNION SELECT id FROM vhits0),
nb0 AS (SELECT * FROM b0b WHERE id NOT IN (SELECT id FROM cdup0)),
wc0 AS (
  SELECT band, key, count(*) AS n, min(id) AS min_id
  FROM nb0 GROUP BY band, key
),
wauto0 AS (
  SELECT DISTINCT n.id FROM nb0 n
  JOIN wc0 w ON n.band = w.band AND n.key = w.key
  WHERE w.n > 2 AND n.id > w.min_id
),
wp0 AS (
  SELECT DISTINCT l.id AS lid, r.id AS rid
  FROM nb0 l
  JOIN nb0 r ON l.band = r.band AND l.key = r.key AND l.id > r.id
  JOIN wc0 w ON l.band = w.band AND l.key = w.key
  WHERE w.n <= 2
),
wv0 AS (
  SELECT DISTINCT wp0.lid AS id
  FROM wp0
  JOIN b0sig bs ON bs.id = wp0.lid
  JOIN b0sig cs ON cs.id = wp0.rid
  WHERE {_SIM_SQL} >= 0.5
),
wdup0 AS (SELECT id FROM wauto0 UNION SELECT id FROM wv0),
surv0 AS (SELECT id FROM b0
          WHERE id NOT IN (SELECT id FROM cdup0)
            AND id NOT IN (SELECT id FROM wdup0)),
csig2 AS MATERIALIZED (
  SELECT * FROM csig
  UNION ALL
  SELECT * FROM b0sig WHERE id IN (SELECT id FROM surv0)
),
cb2 AS MATERIALIZED (
  SELECT * FROM cb
  UNION ALL
  SELECT * FROM b0b WHERE id IN (SELECT id FROM surv0)
),
b1sig AS MATERIALIZED ({_sigs_sql('b1')}),
b1b AS MATERIALIZED ({_BANDS_OF_SIGS_SQL.format(sigs='b1sig')}),
counts1 AS (SELECT band, key, count(*) AS n FROM cb2 GROUP BY band, key),
over1 AS (SELECT band, key FROM counts1 WHERE n > 2),
auto1 AS (
  SELECT DISTINCT b.id FROM b1b b
  JOIN over1 o ON b.band = o.band AND b.key = o.key
),
cand1 AS (
  SELECT DISTINCT b.id AS bid, c.id AS cid
  FROM b1b b
  JOIN (SELECT cb2.* FROM cb2
        LEFT JOIN over1 o ON cb2.band = o.band AND cb2.key = o.key
        WHERE o.band IS NULL) c
    ON b.band = c.band AND b.key = c.key
),
vhits1 AS (
  SELECT DISTINCT cand1.bid AS id
  FROM cand1
  JOIN b1sig bs ON bs.id = cand1.bid
  JOIN csig2 cs ON cs.id = cand1.cid
  WHERE {_SIM_SQL} >= 0.5
),
cdup1 AS (SELECT id FROM auto1 UNION SELECT id FROM vhits1),
nb1 AS (SELECT * FROM b1b WHERE id NOT IN (SELECT id FROM cdup1)),
wc1 AS (
  SELECT band, key, count(*) AS n, min(id) AS min_id
  FROM nb1 GROUP BY band, key
),
wauto1 AS (
  SELECT DISTINCT n.id FROM nb1 n
  JOIN wc1 w ON n.band = w.band AND n.key = w.key
  WHERE w.n > 2 AND n.id > w.min_id
),
wp1 AS (
  SELECT DISTINCT l.id AS lid, r.id AS rid
  FROM nb1 l
  JOIN nb1 r ON l.band = r.band AND l.key = r.key AND l.id > r.id
  JOIN wc1 w ON l.band = w.band AND l.key = w.key
  WHERE w.n <= 2
),
wv1 AS (
  SELECT DISTINCT wp1.lid AS id
  FROM wp1
  JOIN b1sig bs ON bs.id = wp1.lid
  JOIN b1sig cs ON cs.id = wp1.rid
  WHERE {_SIM_SQL} >= 0.5
),
wdup1 AS (SELECT id FROM wauto1 UNION SELECT id FROM wv1)
SELECT 'b0' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM cdup0))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM wdup0))::INTEGER AS within_dup
FROM b0 b
UNION ALL
SELECT 'b1' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM cdup1))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM wdup1))::INTEGER AS within_dup
FROM b1 b
"""


@register(
    "stream_crawl_verified_ingest",
    # The intake loop's PRECISION dial under the hash discipline: two
    # sequential micro-batches admitted through the verified filter
    # (signature estimate >= 0.5, candidate_cap=2) — five planted doc-0
    # copies in the corpus exercise the mega-key auto route, exact
    # plants the verified route (sim=1.0), and batch 1's copies of
    # batch 0's survivors prove the appended signature side-car (not
    # just the bands) is live for the NEXT batch's verification join.
    oracle=_crawl_verified_oracle(),
    tags=("streaming", "dedup", "verified", "ingest", "pipeline", "training-data"),
)
def stream_crawl_verified_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-gated intake loop with ``verified=True``
    (streaming/crawl.py): band collision proposes, the MinHash
    similarity estimate disposes (index/dedupidx.py::
    dedup_index_filter at threshold 0.5), so a single lucky band no longer
    drops a genuinely new document — the precision dial a diverse
    real crawl needs (the band-only gate suppressed 10,000/10,000 on a
    replica-saturated sf25 corpus; SCALING.md round 9/10). Two
    mtime-ordered micro-batches share one hash verdict: b0 exercises
    both corpus routes (mega-key auto-flag via five planted doc-0
    copies at candidate_cap=2; signature-verified exact plants) plus
    the capped within-batch pair route, then b1 replays b0's fresh
    docs — corpus_dup for those rows proves batch 0's survivor
    SIGNATURES (the verify join's side-car, not just the band keys)
    were appended and are live.

    Reference analog: the over-fetch-then-verify recall heuristic
    /root/reference/src/app.py:251-260 — propose cheaply, verify before
    committing to a drop."""
    import glob as _glob
    import os as _os

    from ..functions.embedding import hashing_embedder
    from ..index.dedupidx import build_dedup_index
    from ..index.ivf import build_ivf_index
    from ..sources.tables import load_table, widen_cpu_dense
    from ..streaming.crawl import stream_crawl_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 < 2)
    boiler = (
        docs.filter(F.col("doc_id") == 0)
        .crossJoin(spark.range(1, 6).select((F.col("id") + 500000).alias("new_id")))
        .select(F.col("new_id").alias("doc_id"), "text")
    )
    corpus = base.unionByName(boiler)
    fresh0 = docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 2 == 0))
    b0 = (
        fresh0.unionByName(
            base.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat("text", F.lit(" zzq zzw")).alias("text"),
            )
        )
        .unionByName(
            fresh0.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"), "text"
            )
        )
    )
    b1 = fresh0.select((F.col("doc_id") + 4000000).alias("doc_id"), "text").unionByName(
        docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 2 == 1))
    )

    def _drop_file(df: DataFrame, src_dir: str, name: str, mtime: int) -> None:
        stage_dir = f"{src_dir}_stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(stage_dir)
        part = _glob.glob(f"{stage_dir}/part-*.parquet")[0]
        dest = f"{src_dir}/{name}.parquet"
        shutil.copyfile(part, dest)
        _os.utime(dest, (mtime, mtime))
        shutil.rmtree(stage_dir, ignore_errors=True)

    work = tempfile.mkdtemp(prefix="crawl_verified_")
    try:
        didx = build_dedup_index(corpus, f"{work}/dedup")
        embedded = widen_cpu_dense(corpus).withColumn(
            "embedding", hashing_embedder(64)(F.col("text"))
        )
        vidx = build_ivf_index(embedded, f"{work}/ivf", nlist=8, id_col="doc_id")
        src_dir = f"{work}/src"
        _os.makedirs(src_dir)
        _drop_file(b0, src_dir, "b0", 1_000_000_000)
        _drop_file(b1, src_dir, "b1", 1_000_000_100)
        stream_crawl_ingest(
            spark,
            src_dir,
            didx,
            vidx,
            f"{work}/ckpt",
            verdict_path=f"{work}/verdicts",
            max_files_per_trigger=1,
            verified=True,
            sim_threshold=0.5,
            candidate_cap=2,
        )
        stage = F.when(F.col("__batch_id") == 0, "b0").otherwise("b1")
        out = spark.read.parquet(f"{work}/verdicts").select(
            stage.alias("stage"),
            "doc_id",
            F.col("corpus_dup").cast("int").alias("corpus_dup"),
            F.col("within_dup").cast("int").alias("within_dup"),
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _crawl_bm25_oracle() -> str:
    """The crawl loop's THIRD retrieval mode under the hash discipline:
    survivors of the two-batch band-gated admission (the _crawl_oracle
    algebra) unioned with the corpus, scored by the full BM25 SQL mirror
    (text_q._bm25_oracle_ctes over the ``accepted`` relation) — streamed
    postings/doclens/stats appends must answer exactly like a fresh
    corpus-plus-survivors build."""
    from .dedup_q import _bands_sql
    from .text_q import _bm25_oracle_ctes

    return f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
),
fresh0 AS (
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 2 = 0
),
b0 AS (
  SELECT * FROM fresh0
  UNION ALL
  SELECT id + 1000000 AS id, text FROM corpus WHERE id % 7 = 0
  UNION ALL
  SELECT id + 2000000 AS id, text FROM fresh0 WHERE id % 5 = 0
),
b1 AS (
  SELECT id + 3000000 AS id, text FROM fresh0
  UNION ALL
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 2 = 1
  UNION ALL
  SELECT new_id AS id, new_text AS text
  FROM (SELECT id + 4000000 AS new_id, text || ' zz' || id AS new_text
        FROM corpus WHERE id % 11 = 0)
),
cb AS ({_bands_sql('corpus')}),
b0b AS ({_bands_sql('b0')}),
hit0 AS (SELECT DISTINCT b.id FROM b0b b
         JOIN cb c ON b.band = c.band AND b.key = c.key),
new0 AS (SELECT * FROM b0b WHERE id NOT IN (SELECT id FROM hit0)),
gm0 AS (SELECT band, key, min(id) AS min_id FROM new0 GROUP BY band, key),
w0 AS (SELECT DISTINCT n.id FROM new0 n
       JOIN gm0 g ON n.band = g.band AND n.key = g.key
       WHERE n.id > g.min_id),
surv0 AS (SELECT id, text FROM b0
          WHERE id NOT IN (SELECT id FROM hit0)
            AND id NOT IN (SELECT id FROM w0)),
sb0 AS ({_bands_sql('surv0')}),
idx1 AS (SELECT band, key FROM cb UNION ALL SELECT band, key FROM sb0),
b1b AS ({_bands_sql('b1')}),
hit1 AS (SELECT DISTINCT b.id FROM b1b b
         JOIN idx1 c ON b.band = c.band AND b.key = c.key),
new1 AS (SELECT * FROM b1b WHERE id NOT IN (SELECT id FROM hit1)),
gm1 AS (SELECT band, key, min(id) AS min_id FROM new1 GROUP BY band, key),
w1 AS (SELECT DISTINCT n.id FROM new1 n
       JOIN gm1 g ON n.band = g.band AND n.key = g.key
       WHERE n.id > g.min_id),
surv1 AS (SELECT id, text FROM b1
          WHERE id NOT IN (SELECT id FROM hit1)
            AND id NOT IN (SELECT id FROM w1)),
accepted AS (
  SELECT id AS doc_id, text FROM corpus
  UNION ALL SELECT id AS doc_id, text FROM surv0
  UNION ALL SELECT id AS doc_id, text FROM surv1
),
{_bm25_oracle_ctes(rel='accepted')}
SELECT doc_id, round(bm25, 6) AS bm25
FROM bm25_scored
ORDER BY round(bm25, 6) DESC, doc_id ASC
LIMIT 10
"""


@register(
    "stream_crawl_bm25_ingest_parity",
    # The intake loop's inverted sink under the hash discipline
    # (VERDICT r9 task 3): the same two-batch admission as
    # stream_crawl_dedup_gated_ingest, with the postings sink attached —
    # the streamed layout's BM25 top-10 must equal a full-scan SQL
    # recompute over corpus + survivors (stats bumps, doclen appends,
    # and bucket-pruned posting reads all inside the verdict).
    oracle=_crawl_bm25_oracle(),
    tags=("streaming", "dedup", "bm25", "inverted-index", "ingest", "pipeline",
          "training-data"),
)
def stream_crawl_bm25_ingest_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-gated intake loop with the inverted-postings sink
    attached (streaming/crawl.py ``inverted_index``): two mtime-ordered
    crawl batches flow filter → IVF append → postings append → band
    append, then the TEXT retrieval mode is asked the fixed 3-term BM25
    query (text_q._BM25_TERMS) straight off the streamed layout. The
    oracle recomputes BM25 from scratch over corpus + the band-filter
    survivors — exact parity proves the per-batch postings appends,
    BM25-stat bumps (N, total doclen), and doclen rows compose to the
    same index a batch build would produce (the reference's hybrid
    keyword leg, /root/reference/src/app.py:313, fed by the intake loop
    instead of a one-shot insert)."""
    import glob as _glob
    import os as _os

    from ..functions.embedding import hashing_embedder
    from ..index.dedupidx import build_dedup_index
    from ..index.inverted import bm25_search_inverted, build_inverted_index
    from ..index.ivf import build_ivf_index
    from ..sources.tables import load_table, widen_cpu_dense
    from ..streaming.crawl import stream_crawl_ingest
    from .text_q import _BM25_TERMS

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 < 2)
    fresh0 = docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 2 == 0))
    b0 = fresh0.unionByName(
        corpus.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    ).unionByName(
        fresh0.filter(F.col("doc_id") % 5 == 0).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    b1 = (
        fresh0.select((F.col("doc_id") + 3000000).alias("doc_id"), "text")
        .unionByName(
            docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 2 == 1))
        )
        .unionByName(
            corpus.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 4000000).alias("doc_id"),
                F.concat(
                    "text", F.lit(" zz"), F.col("doc_id").cast("string")
                ).alias("text"),
            )
        )
    )

    def _drop_file(df: DataFrame, src_dir: str, name: str, mtime: int) -> None:
        stage_dir = f"{src_dir}_stage_{name}"
        df.coalesce(1).write.mode("overwrite").parquet(stage_dir)
        part = _glob.glob(f"{stage_dir}/part-*.parquet")[0]
        dest = f"{src_dir}/{name}.parquet"
        shutil.copyfile(part, dest)
        _os.utime(dest, (mtime, mtime))
        shutil.rmtree(stage_dir, ignore_errors=True)

    work = tempfile.mkdtemp(prefix="crawl_bm25_")
    try:
        didx = build_dedup_index(corpus, f"{work}/dedup")
        embedded = widen_cpu_dense(corpus).withColumn(
            "embedding", hashing_embedder(64)(F.col("text"))
        )
        vidx = build_ivf_index(embedded, f"{work}/ivf", nlist=8, id_col="doc_id")
        iidx = build_inverted_index(corpus, f"{work}/inv")
        src_dir = f"{work}/src"
        _os.makedirs(src_dir)
        _drop_file(b0, src_dir, "b0", 1_000_000_000)
        _drop_file(b1, src_dir, "b1", 1_000_000_100)
        stream_crawl_ingest(
            spark,
            src_dir,
            didx,
            vidx,
            f"{work}/ckpt",
            max_files_per_trigger=1,
            inverted_index=iidx,
        )
        out = bm25_search_inverted(spark, iidx, list(_BM25_TERMS), k=10).select(
            "doc_id", F.round("bm25", 6).alias("bm25")
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _crawl_verified_decon_oracle() -> str:
    """BOTH admission gates armed at once — the verified filter's
    algebra (dedup_q._verified_ctes at cap=2, threshold 0.5, over a
    boilerplate-planted corpus) composed with the decontamination
    fingerprint gate, plus the embed-and-search stage proving no
    flagged doc reached the vector layout. The flags stay INDEPENDENT
    (streaming/crawl.py contract): a contaminated doc still feeds the
    within-batch suppression, and a doc can read corpus_dup AND
    contaminated on one row."""
    from .dedup_q import _verified_ctes
    from .pipeline_q import _EMBED64_VEC_SQL, _embed64_pairs_sql

    fp = "md5(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), 1, 64))"
    l2 = (
        "sqrt(list_sum(list_transform(range(1, 65), "
        "i -> (a.vector[i]::DOUBLE - q.qvec[i]::DOUBLE)"
        " * (a.vector[i]::DOUBLE - q.qvec[i]::DOUBLE))))"
    )
    # _verified_ctes names its relations `corpus` and `batch`; its
    # verdict sets are cdup/wdup.
    return f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
  UNION ALL
  SELECT 500000 + g.i AS id, d.text
  FROM (SELECT text FROM documents WHERE doc_id = 0) d
  CROSS JOIN generate_series(1, 5) AS g(i)
),
base AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2),
fresh0 AS (
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 2 = 0
),
batch AS (
  SELECT * FROM fresh0
  UNION ALL
  SELECT id + 1000000 AS id, text FROM base WHERE id % 7 = 0
  UNION ALL
  SELECT new_id AS id, new_text AS text
  FROM (SELECT id + 2000000 AS new_id, text || ' zzq zzw' AS new_text
        FROM base WHERE id % 11 = 0)
  UNION ALL
  SELECT id + 5000000 AS id, text FROM base WHERE id % 13 = 0
  UNION ALL
  SELECT id + 3000000 AS id, text FROM fresh0 WHERE id % 5 = 0
),
bench AS (SELECT DISTINCT {fp} AS fp FROM documents WHERE doc_id % 13 = 0),
cont AS (
  SELECT DISTINCT id FROM (SELECT id, {fp} AS fp FROM batch)
  WHERE fp IN (SELECT fp FROM bench)
),
{_verified_ctes(2)},
surv AS (SELECT id, text FROM batch
         WHERE id NOT IN (SELECT id FROM cdup)
           AND id NOT IN (SELECT id FROM wdup)
           AND id NOT IN (SELECT id FROM cont)),
accepted AS (SELECT * FROM corpus UNION ALL SELECT * FROM surv),
ap AS (SELECT id, {_embed64_pairs_sql('text')} AS ps FROM accepted),
av AS (SELECT id, {_EMBED64_VEC_SQL} AS vector FROM ap),
qt AS (
  SELECT array_to_string((string_split_regex(trim(text), '\\s+'))[1:8], ' ')
         AS question
  FROM documents WHERE doc_id = 0
),
qp AS (SELECT {_embed64_pairs_sql('question')} AS ps FROM qt),
qv AS (SELECT {_EMBED64_VEC_SQL} AS qvec FROM qp),
dist AS (SELECT a.id, {l2} AS d FROM av a CROSS JOIN qv q),
top10 AS (SELECT id, round(d, 6) AS metric FROM dist ORDER BY d, id LIMIT 10)
SELECT 'b0' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM cdup))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM wdup))::INTEGER AS within_dup,
       (b.id IN (SELECT id FROM cont))::INTEGER AS contaminated,
       (-1.0)::DOUBLE AS metric
FROM batch b
UNION ALL
SELECT 'search' AS stage, id AS doc_id,
       -1 AS corpus_dup, -1 AS within_dup, -1 AS contaminated, metric
FROM top10
"""


@register(
    "stream_crawl_verified_decontaminated_ingest",
    # The intake loop with BOTH gates armed AND verified admission
    # (VERDICT r10 task 4): each gate configuration already has its own
    # hash-green query; this one proves the independent-flags contract
    # (streaming/crawl.py) holds when verification and decontamination
    # compose. Corpus plants that are also benchmark members pin
    # corpus_dup AND contaminated on one row; the mega-key route fires
    # via six total doc-0 copies at cap=2; the search stage proves no
    # flagged doc reached the vector layout.
    oracle=_crawl_verified_decon_oracle(),
    tags=("streaming", "dedup", "verified", "decontamination", "ivf",
          "ingest", "pipeline", "training-data"),
)
def stream_crawl_verified_decontaminated_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The crawl admission loop with ``verified=True`` AND
    ``benchmark_fps`` together (streaming/crawl.py) — the composition
    the per-gate oracles never exercised. The corpus carries five
    planted copies of doc 0 (its band keys go over candidate_cap=2, so
    colliders take the unverified mega-key route) while every other
    collision routes through the signature estimate; the benchmark set
    is the doc_id % 13 == 0 slice's normalized-prefix fingerprints.
    One batch carries fresh docs, exact corpus plants (verified
    corpus_dup), near plants (' zzq zzw' suffix — the estimator
    decides), copies of benchmark-member corpus docs (corpus_dup AND
    contaminated — independent flags), within-batch plants, and
    benchmark-member fresh docs (contaminated only). Verdicts plus an
    exhaustive-probe search over corpus + survivors share one hash
    verdict."""
    import glob as _glob
    import os as _os

    from ..functions.embedding import hash_embed_one, hashing_embedder
    from ..index.dedupidx import build_dedup_index
    from ..index.ivf import build_ivf_index, ivf_search
    from ..operators.dedup import contamination_fingerprint
    from ..sources.tables import load_table, widen_cpu_dense
    from ..streaming.crawl import stream_crawl_ingest

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 < 2)
    boiler = (
        docs.filter(F.col("doc_id") == 0)
        .crossJoin(spark.range(1, 6).select((F.col("id") + 500000).alias("new_id")))
        .select(F.col("new_id").alias("doc_id"), "text")
    )
    corpus = base.unionByName(boiler)
    fresh0 = docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 2 == 0))
    b0 = (
        fresh0.unionByName(
            base.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat("text", F.lit(" zzq zzw")).alias("text"),
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 5000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            fresh0.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"), "text"
            )
        )
    )
    bench = (
        docs.filter(F.col("doc_id") % 13 == 0)
        .select(contamination_fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    qrow = (
        docs.filter(F.col("doc_id") == 0)
        .select(
            F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 8), " ").alias(
                "q"
            )
        )
        .head()
    )
    qv = hash_embed_one(qrow["q"], 64)

    work = tempfile.mkdtemp(prefix="crawl_vdecon_")
    try:
        didx = build_dedup_index(corpus, f"{work}/dedup")
        embedded = widen_cpu_dense(corpus).withColumn(
            "embedding", hashing_embedder(64)(F.col("text"))
        )
        vidx = build_ivf_index(embedded, f"{work}/ivf", nlist=8, id_col="doc_id")
        src_dir = f"{work}/src"
        _os.makedirs(src_dir)
        stage_dir = f"{work}/stage_b0"
        b0.coalesce(1).write.mode("overwrite").parquet(stage_dir)
        part = _glob.glob(f"{stage_dir}/part-*.parquet")[0]
        shutil.copyfile(part, f"{src_dir}/b0.parquet")
        stream_crawl_ingest(
            spark,
            src_dir,
            didx,
            vidx,
            f"{work}/ckpt",
            verdict_path=f"{work}/verdicts",
            benchmark_fps=bench,
            verified=True,
            sim_threshold=0.5,
            candidate_cap=2,
        )
        admissions = spark.read.parquet(f"{work}/verdicts").select(
            F.lit("b0").alias("stage"),
            "doc_id",
            F.col("corpus_dup").cast("int").alias("corpus_dup"),
            F.col("within_dup").cast("int").alias("within_dup"),
            F.col("contaminated").cast("int").alias("contaminated"),
            F.lit(-1.0).alias("metric"),
        )
        search = ivf_search(spark, vidx, qv, k=10, nprobe=8).select(
            F.lit("search").alias("stage"),
            "doc_id",
            F.lit(-1).alias("corpus_dup"),
            F.lit(-1).alias("within_dup"),
            F.lit(-1).alias("contaminated"),
            F.round("distance", 6).alias("metric"),
        )
        out = admissions.unionByName(search)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _crawl_production_oracle(max_doc_id: int | None = None) -> str:
    """The FULL production intake configuration in one SQL mirror —
    verified admission (dedup_q._verified_ctes at cap=2, threshold 0.5)
    AND the decontamination fingerprint gate AND BOTH retrieval sinks:
    the embed-and-L2-search stage (vector leg) plus the full BM25 CTE
    chain (text_q._bm25_oracle_ctes) over corpus + survivors (keyword
    leg). Assembled from the per-gate oracles' fragments (VERDICT r11
    task 5: the composition matrix's last uncovered cell).

    ``max_doc_id`` mirrors _production_ingest's slice by SHADOWING the
    ``documents`` view with a filtered CTE — every downstream fragment
    (corpus/base/fresh0/bench and the query row) resolves against the
    slice, so the two engines see byte-identical inputs."""
    _shadow_slice = (
        # main.-qualified: DuckDB reads an unqualified same-name
        # reference inside the CTE as a circular self-reference. This
        # assumes the harness registers tables in DuckDB's main schema
        # — CREATE VIEW, as tests/conftest.py and the driver both do; a
        # harness using con.register() (temp schema) would break ONLY
        # this oracle's resolution (advisor note, round 14).
        f"documents AS (SELECT * FROM main.documents"
        f" WHERE doc_id < {int(max_doc_id)}),\n"
        if max_doc_id is not None
        else ""
    )
    from .dedup_q import _verified_ctes
    from .pipeline_q import _EMBED64_VEC_SQL, _embed64_pairs_sql
    from .text_q import _bm25_oracle_ctes

    fp = "md5(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), 1, 64))"
    l2 = (
        "sqrt(list_sum(list_transform(range(1, 65), "
        "i -> (a.vector[i]::DOUBLE - q.qvec[i]::DOUBLE)"
        " * (a.vector[i]::DOUBLE - q.qvec[i]::DOUBLE))))"
    )
    return f"""
WITH {_shadow_slice}corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
  UNION ALL
  SELECT 500000 + g.i AS id, d.text
  FROM (SELECT text FROM documents WHERE doc_id = 0) d
  CROSS JOIN generate_series(1, 5) AS g(i)
),
base AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2),
fresh0 AS (
  SELECT doc_id AS id, text FROM documents
  WHERE doc_id % 3 = 2 AND doc_id % 2 = 0
),
batch AS (
  SELECT * FROM fresh0
  UNION ALL
  SELECT id + 1000000 AS id, text FROM base WHERE id % 7 = 0
  UNION ALL
  SELECT new_id AS id, new_text AS text
  FROM (SELECT id + 2000000 AS new_id, text || ' zzq zzw' AS new_text
        FROM base WHERE id % 11 = 0)
  UNION ALL
  SELECT id + 5000000 AS id, text FROM base WHERE id % 13 = 0
  UNION ALL
  SELECT id + 3000000 AS id, text FROM fresh0 WHERE id % 5 = 0
),
bench AS (SELECT DISTINCT {fp} AS fp FROM documents WHERE doc_id % 13 = 0),
cont AS (
  SELECT DISTINCT id FROM (SELECT id, {fp} AS fp FROM batch)
  WHERE fp IN (SELECT fp FROM bench)
),
{_verified_ctes(2)},
surv AS (SELECT id, text FROM batch
         WHERE id NOT IN (SELECT id FROM cdup)
           AND id NOT IN (SELECT id FROM wdup)
           AND id NOT IN (SELECT id FROM cont)),
accepted AS (SELECT * FROM corpus UNION ALL SELECT * FROM surv),
acc_docs AS (SELECT id AS doc_id, text FROM accepted),
ap AS (SELECT id, {_embed64_pairs_sql('text')} AS ps FROM accepted),
av AS (SELECT id, {_EMBED64_VEC_SQL} AS vector FROM ap),
qt AS (
  SELECT array_to_string((string_split_regex(trim(text), '\\s+'))[1:8], ' ')
         AS question
  FROM documents WHERE doc_id = 0
),
qp AS (SELECT {_embed64_pairs_sql('question')} AS ps FROM qt),
qv AS (SELECT {_EMBED64_VEC_SQL} AS qvec FROM qp),
dist AS (SELECT a.id, {l2} AS d FROM av a CROSS JOIN qv q),
top10 AS (SELECT id, round(d, 6) AS metric FROM dist ORDER BY d, id LIMIT 10),
{_bm25_oracle_ctes(rel='acc_docs')},
bm25_top10 AS (
  SELECT doc_id, round(bm25, 6) AS metric
  FROM bm25_scored
  ORDER BY round(bm25, 6) DESC, doc_id ASC
  LIMIT 10
)
SELECT 'b0' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM cdup))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM wdup))::INTEGER AS within_dup,
       (b.id IN (SELECT id FROM cont))::INTEGER AS contaminated,
       (-1.0)::DOUBLE AS metric
FROM batch b
UNION ALL
SELECT 'search' AS stage, id AS doc_id,
       -1 AS corpus_dup, -1 AS within_dup, -1 AS contaminated, metric
FROM top10
UNION ALL
SELECT 'bm25' AS stage, doc_id,
       -1 AS corpus_dup, -1 AS within_dup, -1 AS contaminated, metric
FROM bm25_top10
"""


@register(
    "stream_crawl_production_ingest",
    # The FULL production intake configuration under one hash verdict
    # (VERDICT r11 task 5): verified admission + decontamination gate +
    # IVF sink + inverted-postings sink in ONE streamed run. Each
    # pairwise composition already has its own green row; this closes
    # the crawl-gate composition matrix — the recommended production
    # setup is now oracle-checked end-to-end, with BOTH retrieval legs
    # (vector top-10, BM25 top-10) answered off the streamed layouts.
    oracle=_crawl_production_oracle(),
    tags=("streaming", "dedup", "verified", "decontamination", "ivf",
          "inverted-index", "bm25", "ingest", "pipeline", "training-data"),
)
def stream_crawl_production_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The crawl admission loop in its recommended PRODUCTION shape —
    ``verified=True`` AND ``benchmark_fps`` AND ``inverted_index`` all
    armed at once (streaming/crawl.py): one batch flows verified filter
    → decontamination gate → verdict audit → Arrow embed → IVF append →
    postings append → dedup-band append, then BOTH retrieval modes are
    asked off the streamed layouts (exhaustive-probe vector top-10 and
    the fixed 3-term BM25 top-10). The corpus carries five planted doc-0
    copies (mega-key auto route at candidate_cap=2); the batch carries
    fresh docs, exact plants (verified corpus_dup), near plants (the
    estimator decides), benchmark-member plants (corpus_dup AND
    contaminated — independent flags), and within-batch plants. One
    hash verdict covers admission verdicts + both search stages, so a
    flagged doc reaching EITHER sink breaks parity.

    Reference analog: the accumulating collection serving BOTH
    retrieval modes of the hybrid search (vector
    /root/reference/src/app.py:248 + keyword fan-out src/app.py:313)
    fed by its insert lifecycle (src/app.py:230,409) — here with the
    admission control a 100 TB crawl needs in front."""
    return _production_ingest(spark, sf_dir)


#: Session-lifetime cache of pristine (never-streamed-into) production
#: builds, keyed by (sf_dir, max_doc_id) — see the reuse_builds note in
#: _production_ingest. Directories live in the process tempdir for the
#: session's lifetime, like queries/index_q.py's cached layouts, and an
#: atexit hook removes them on interpreter exit so repeated sessions
#: don't accumulate abandoned builds in the OS tempdir (advisor
#: finding, round 14).
_PRISTINE_PRODUCTION_BUILDS: dict[tuple[str, int | None], str] = {}


@atexit.register
def _cleanup_pristine_builds() -> None:
    for d in _PRISTINE_PRODUCTION_BUILDS.values():
        shutil.rmtree(d, ignore_errors=True)
    _PRISTINE_PRODUCTION_BUILDS.clear()


def _production_ingest(
    spark: SparkSession,
    sf_dir: str,
    max_doc_id: int | None = None,
    reuse_builds: bool = False,
) -> DataFrame:
    """Shared body of the production intake composition.

    ``max_doc_id`` slices the documents table FIRST (both engines: the
    oracle shadows ``documents`` with the same predicate), so the bench
    twin runs the identical composed DAG — verified filter →
    decontamination gate → audit → Arrow embed → IVF append → postings
    append → band append → both retrieval legs — over a FIXED-size
    corpus/batch regardless of the sf-dir's scale. That fixed batch
    size is the point: the per-batch intake cost is corpus-independent
    (the flatness curves in SCALING.md rounds 12–13), so a bounded
    slice is the honest bench unit for the composed path, and a
    wall-clock regression in the gates+sinks DAG shows up in
    BENCH_r{N} deltas instead of only in the self-run loop tool
    (VERDICT r13 task 3)."""
    import glob as _glob
    import os as _os

    from ..functions.embedding import hash_embed_one, hashing_embedder
    from ..index.dedupidx import build_dedup_index
    from ..index.inverted import bm25_search_inverted, build_inverted_index
    from ..index.ivf import build_ivf_index, ivf_search
    from ..operators.dedup import contamination_fingerprint
    from ..sources.tables import load_table, widen_cpu_dense
    from ..streaming.crawl import stream_crawl_ingest
    from .text_q import _BM25_TERMS

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    if max_doc_id is not None:
        docs = docs.filter(F.col("doc_id") < max_doc_id)
    base = docs.filter(F.col("doc_id") % 3 < 2)
    boiler = (
        docs.filter(F.col("doc_id") == 0)
        .crossJoin(spark.range(1, 6).select((F.col("id") + 500000).alias("new_id")))
        .select(F.col("new_id").alias("doc_id"), "text")
    )
    corpus = base.unionByName(boiler)
    fresh0 = docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 2 == 0))
    b0 = (
        fresh0.unionByName(
            base.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat("text", F.lit(" zzq zzw")).alias("text"),
            )
        )
        .unionByName(
            base.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 5000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            fresh0.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 3000000).alias("doc_id"), "text"
            )
        )
    )
    bench = (
        docs.filter(F.col("doc_id") % 13 == 0)
        .select(contamination_fingerprint(F.col("text")).alias("fp"))
        .distinct()
    )
    qrow = (
        docs.filter(F.col("doc_id") == 0)
        .select(
            F.array_join(F.slice(F.split(F.trim("text"), r"\s+"), 1, 8), " ").alias(
                "q"
            )
        )
        .head()
    )
    qv = hash_embed_one(qrow["q"], 64)

    from ..index.dedupidx import DedupIndex
    from ..index.inverted import InvertedIndex
    from ..index.ivf import IVFIndex

    def _build_into(root: str) -> None:
        """Pristine layouts + the staged micro-batch file under one root
        (all paths relative to ``root`` so a copy relocates cleanly)."""
        build_dedup_index(corpus, f"{root}/dedup")
        embedded = widen_cpu_dense(corpus).withColumn(
            "embedding", hashing_embedder(64)(F.col("text"))
        )
        build_ivf_index(embedded, f"{root}/ivf", nlist=8, id_col="doc_id")
        build_inverted_index(corpus, f"{root}/inv")
        _os.makedirs(f"{root}/src")
        stage_dir = f"{root}/stage_b0"
        b0.coalesce(1).write.mode("overwrite").parquet(stage_dir)
        part = _glob.glob(f"{stage_dir}/part-*.parquet")[0]
        shutil.copyfile(part, f"{root}/src/b0.parquet")
        shutil.rmtree(stage_dir, ignore_errors=True)

    work = tempfile.mkdtemp(prefix="crawl_prod_")
    try:
        if reuse_builds:
            # Bench shape: the one-time index builds are NOT the thing
            # the bench line measures — the composed per-batch intake
            # DAG is. Build pristine layouts once per (sf_dir, slice)
            # for the session, then give every call its own throwaway
            # COPY (the stream appends survivors, so reusing a mutated
            # layout would change the next run's verdicts; a fresh copy
            # keeps every run byte-identical — driver/oracle parity and
            # idempotent bench reruns).
            key = (sf_dir, max_doc_id)
            pristine = _PRISTINE_PRODUCTION_BUILDS.get(key)
            if pristine is None:
                pristine = tempfile.mkdtemp(prefix="crawl_prod_pristine_")
                _build_into(pristine)
                _PRISTINE_PRODUCTION_BUILDS[key] = pristine
            for d in ("dedup", "dedup_sigs", "ivf", "inv", "src"):
                shutil.copytree(f"{pristine}/{d}", f"{work}/{d}")
        else:
            _build_into(work)
        didx = DedupIndex.load(f"{work}/dedup")
        vidx = IVFIndex.load(f"{work}/ivf")
        iidx = InvertedIndex.load(f"{work}/inv")
        src_dir = f"{work}/src"
        stream_crawl_ingest(
            spark,
            src_dir,
            didx,
            vidx,
            f"{work}/ckpt",
            verdict_path=f"{work}/verdicts",
            benchmark_fps=bench,
            inverted_index=iidx,
            verified=True,
            sim_threshold=0.5,
            candidate_cap=2,
        )
        admissions = spark.read.parquet(f"{work}/verdicts").select(
            F.lit("b0").alias("stage"),
            "doc_id",
            F.col("corpus_dup").cast("int").alias("corpus_dup"),
            F.col("within_dup").cast("int").alias("within_dup"),
            F.col("contaminated").cast("int").alias("contaminated"),
            F.lit(-1.0).alias("metric"),
        )
        search = ivf_search(spark, vidx, qv, k=10, nprobe=8).select(
            F.lit("search").alias("stage"),
            "doc_id",
            F.lit(-1).alias("corpus_dup"),
            F.lit(-1).alias("within_dup"),
            F.lit(-1).alias("contaminated"),
            F.round("distance", 6).alias("metric"),
        )
        bm25 = bm25_search_inverted(spark, iidx, list(_BM25_TERMS), k=10).select(
            F.lit("bm25").alias("stage"),
            "doc_id",
            F.lit(-1).alias("corpus_dup"),
            F.lit(-1).alias("within_dup"),
            F.lit(-1).alias("contaminated"),
            # explicit rounding contract with the oracle's round(bm25, 6)
            # — idempotent over the searcher's internal round, but the
            # parity must not hinge on that implicit detail (advisor,
            # round 12)
            F.round("bm25", 6).alias("metric"),
        )
        out = admissions.unionByName(search).unionByName(bm25)
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


#: The bench twin's fixed slice: documents with doc_id < 1000, so the
#: composed intake DAG is timed over the SAME corpus/batch size at any
#: sf-dir — the per-batch cost is corpus-independent by design
#: (SCALING.md flatness curves), so a fixed slice is the honest unit.
_PRODUCTION_BENCH_SLICE = 1000


@register(
    "stream_crawl_production_bench",
    # Identical composition to stream_crawl_production_ingest, sliced
    # (the documents view shadowed with doc_id < slice on BOTH
    # engines). Registered for the bench headline set (VERDICT r13
    # task 3): the flagship gates+sinks DAG finally has a
    # BENCH_r{N} line, so a wall-clock regression in the composed path
    # shows in per-round deltas instead of only in the self-run
    # crawl-loop tool. Excluded from the driver surface — the FULL
    # production row is the driver anchor; this row is oracle-checked
    # locally by tests/test_oracle_parity.py like every exclusion.
    oracle=_crawl_production_oracle(max_doc_id=_PRODUCTION_BENCH_SLICE),
    tags=("streaming", "dedup", "verified", "decontamination", "ivf",
          "inverted-index", "bm25", "ingest", "pipeline", "training-data",
          "bench-twin"),
    bench=True,
)
def stream_crawl_production_bench(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded bench configuration of the production intake: one
    micro-batch through verified filter → decontamination gate → audit
    → Arrow embed → IVF append → postings append → band append, plus
    both retrieval legs, over the fixed doc_id < 1000 slice
    (_production_ingest docstring). ``reuse_builds``: the one-time
    index builds come from a session-cached pristine copy, so the timed
    wall is the composed per-batch intake DAG — the thing the bench
    line exists to regression-watch — not the build step the bench
    already times separately (ivf_index_build)."""
    return _production_ingest(
        spark, sf_dir, max_doc_id=_PRODUCTION_BENCH_SLICE, reuse_builds=True
    )
