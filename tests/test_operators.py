"""Behavioral tests for operators beyond oracle parity: do the dedup
operators actually find planted duplicates, do the text functions
reproduce the reference's regex semantics (including CJK)?"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_minhash_finds_planted_near_dups(spark):
    from vector_db_example_spark.operators.dedup import minhash_near_duplicates

    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa EXTRA"),
        (3, "completely different words nothing shared here at all truly"),
        (4, "lambda mu nu xi omicron pi rho sigma tau upsilon"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_near_duplicates(df, threshold=0.5).collect()
    found = {(r.a_id, r.b_id) for r in pairs}
    assert (1, 2) in found
    assert all(p == (1, 2) for p in found), f"false positives: {found}"


def test_minhash_degenerate_bucket_is_capped(spark):
    """A boilerplate string duplicated many times lands in one LSH band
    bucket; without the cap that bucket alone emits O(n²) pairs from a
    single task. Over-cap buckets switch to star expansion: the min id
    is paired with every other member (O(n) pairs, no silent recall
    loss — connected components recovers the cluster transitively)."""
    from vector_db_example_spark.operators.dedup import minhash_near_duplicates

    boiler = "subscribe to our newsletter for updates and exclusive offers today"
    rows = [(i, boiler) for i in range(40)] + [
        (100, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (101, "alpha beta gamma delta epsilon zeta eta theta iota kappa EXTRA"),
        (102, "completely different words nothing shared here at all truly"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_near_duplicates(df, threshold=0.5, max_bucket_size=10).collect()
    found = {(r.a_id, r.b_id) for r in pairs}
    assert (100, 101) in found
    boiler_pairs = sorted(p for p in found if p[0] < 40 and p[1] < 40)
    # star shape only: every boiler pair anchors at the min id (0), one
    # per other member — 39 pairs, not 40*39/2
    assert boiler_pairs == [(0, i) for i in range(1, 40)], boiler_pairs
    # uncapped control: the same corpus explodes to 40*39/2 boilerplate pairs
    uncapped = minhash_near_duplicates(df, threshold=0.5, max_bucket_size=10_000)
    assert uncapped.filter((F.col("a_id") < 40) & (F.col("b_id") < 40)).count() == 780


def test_minhash_mega_bucket_memory_bounded(spark):
    """10⁵ copies of one boilerplate doc — the pathological bucket the
    count-first routing exists for. Every band bucket is the full
    corpus, so the old collect-then-cap plan would materialize a
    100k-id array per bucket in ONE aggregation buffer before capping;
    the count-first route never collects over-cap buckets at all (the
    star pass is pure narrow row traffic). Pair count must equal the
    star expansion (n-1, hub = min id), and connected components must
    recover the whole clique from those pairs — nothing silently
    dropped."""
    from vector_db_example_spark.operators.dedup import (
        connected_components_star,
        minhash_near_duplicates,
    )

    n = 100_000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit(
            "subscribe to our newsletter for updates and exclusive offers"
        ).alias("text"),
    )
    pairs = minhash_near_duplicates(docs, threshold=0.5, max_bucket_size=1000)
    pairs = pairs.localCheckpoint(eager=True)  # reused by CC below
    assert pairs.count() == n - 1
    assert pairs.filter(F.col("a_id") != 0).count() == 0  # star hub = min id
    comp = connected_components_star(pairs)
    assert comp.select("comp").distinct().count() == 1
    assert comp.count() == n


def test_connected_components_chains_and_convergence(spark):
    """a-b, b-c (no a-c edge) must collapse into one cluster labelled by
    the min id; disjoint chains stay separate; a longer path converges
    within the iteration bound."""
    from vector_db_example_spark.operators.dedup import connected_components

    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)]
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    comp = {r.id: r.comp for r in connected_components(df).collect()}
    assert comp == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20, 23: 20, 24: 20,
    }


def test_connected_components_raises_when_unconverged(spark):
    """A chain longer than max_iter hops must fail loudly, not silently
    return split clusters."""
    import pytest

    from vector_db_example_spark.operators.dedup import connected_components

    chain = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(chain, "a_id long, b_id long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)


def test_simhash_identical_docs_hamming_zero(spark):
    from vector_db_example_spark.operators.dedup import simhash_near_duplicates

    rows = [
        (1, "spark query engine with columnar execution and codegen"),
        (2, "spark query engine with columnar execution and codegen"),
        (3, "utterly unrelated text about cooking pasta with tomatoes basil"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = simhash_near_duplicates(df, max_hamming=3).collect()
    found = {(r.a_id, r.b_id): r.hamming for r in pairs}
    assert found.get((1, 2)) == 0
    assert (1, 3) not in found and (2, 3) not in found


def test_exact_dedup_deterministic_survivor(spark):
    from vector_db_example_spark.operators.dedup import exact_dedup

    rows = [(5, "same text"), (2, "same text"), (9, "other text")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = exact_dedup(df, F.col("text"), id_col="doc_id").collect()
    assert sorted(r.doc_id for r in kept) == [2, 9]  # min-id survivor


def test_clean_content_reference_semantics(spark):
    """F1: strip chars outside word/CJK/whitespace/base-punct, collapse
    whitespace, trim (reference src/app.py:190-203)."""
    from vector_db_example_spark.functions.text import clean_content

    rows = [
        (1, "  数据库@#系统   概论！  extra   spaces\t here  "),
        (2, None),
        (3, "abc***def"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    out = {r.id: r.c for r in df.select("id", clean_content("text").alias("c")).collect()}
    assert out[1] == "数据库系统 概论！ extra spaces here"
    assert out[2] == ""  # null guard → empty string
    assert out[3] == "abcdef"


def test_extract_tokens_reference_semantics(spark):
    """F2: CJK runs >=2, latin words >=3 (reference src/app.py:334)."""
    from vector_db_example_spark.functions.text import extract_tokens

    df = spark.createDataFrame(
        [(1, "数据库系统 is the best DB of 关系模型 x yz abc")], "id long, text string"
    )
    toks = df.select(extract_tokens("text").alias("t")).head().t
    assert toks == ["数据库系统", "the", "best", "关系模型", "abc"]


def test_chapter_header_detection(spark):
    """F6: 第X章 pattern or 章节 marker (reference src/app.py:567)."""
    from vector_db_example_spark.functions.text import is_chapter_header

    rows = [(1, "第一章 绪论"), (2, "第十二章 SQL"), (3, "随便一行"), (4, "本章节介绍")]
    df = spark.createDataFrame(rows, "id long, line string")
    out = {r.id: r.h for r in df.select("id", is_chapter_header("line").alias("h")).collect()}
    assert out == {1: True, 2: True, 3: False, 4: True}


def test_token_windows_cover_all_tokens(spark):
    from vector_db_example_spark.functions.text import token_windows

    df = spark.createDataFrame([(1, " ".join(f"w{i}" for i in range(40)),)], "id long, text string")
    chunks = df.select(token_windows("text", 16).alias("c")).head().c
    assert len(chunks) == 3
    rejoined = " ".join(chunks)
    assert rejoined == " ".join(f"w{i}" for i in range(40))


def test_knn_exact_reference_constants(spark):
    """J1 defaults mirror the reference: top_k=5, threshold=0.3 (i.e.
    distance<=0.7), over-fetch handled by the plan (src/app.py:240-274)."""
    from vector_db_example_spark.operators.knn import knn_exact

    rows = [
        (1, [0.0, 0.0], "exact"),
        (2, [0.5, 0.0], "near"),
        (3, [3.0, 4.0], "far — distance 5, score -4, filtered"),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, note string")
    hits = knn_exact(df, [0.0, 0.0], vector_col="embedding").collect()
    assert [r.vec_id for r in hits] == [1, 2]
    assert hits[0].score == 1.0


def test_vector_literal_keeps_every_bit(spark):
    """The query vector literal (one SQL ``array(…D)`` expression) reads
    back bit-for-bit, and matches the per-component ``F.lit`` form in
    value, type and analyzed plan; a vector with NaN or ±inf reads back
    as the ``F.lit`` form does."""
    import math
    import struct

    import numpy as np

    from vector_db_example_spark.functions.vector import vector_literal

    def bits(xs):
        return [struct.pack("<d", x) for x in xs]

    def lit_form(vec):
        return F.array(*[F.lit(float(x)) for x in vec])

    def analyzed(col):
        return spark.range(1).select(col.alias("v"))._jdf.queryExecution().analyzed().toString()

    finite = [
        -0.0, 0.0, 5e-324, -5e-324, 2.2250738585072014e-308, 1e308,
        1.7976931348623157e308, 0.1 + 0.2, -1.5, -1e-7, 1e16, -123456.789e-20,
    ]
    for vec in (finite, np.array(finite[:4]), np.array([0.1, -0.0, 3e-38], dtype=np.float32)):
        expected = [float(x) for x in vec]
        row = spark.range(1).select(
            vector_literal(vec).alias("v"), lit_form(vec).alias("w")
        ).head()
        assert bits(row.v) == bits(expected) == bits(row.w)
        df = spark.range(1).select(vector_literal(vec).alias("v"))
        assert df.schema == spark.range(1).select(lit_form(vec).alias("v")).schema
        strip_ids = lambda s: s.split(" AS v#")[0]  # noqa: E731
        assert strip_ids(analyzed(vector_literal(vec))) == strip_ids(analyzed(lit_form(vec)))
    for vec in ([float("nan"), 1.0], [float("inf"), -float("inf"), -0.0]):
        got, want = spark.range(1).select(
            vector_literal(vec).alias("v"), lit_form(vec).alias("w")
        ).head()
        assert [math.isnan(x) for x in got] == [math.isnan(x) for x in want]
        assert bits(x for x in got if not math.isnan(x)) == bits(
            x for x in want if not math.isnan(x)
        )


def test_parse_chapter_text_s7(spark):
    """S7: pasted text → (chapter, content) rows; preamble lines before
    the first header are dropped (reference batch parser semantics,
    src/app.py:549-599)."""
    from vector_db_example_spark.sources.csv_source import parse_chapter_text

    text = """preamble line ignored
第一章 概述
databases store structured data
they support transactions
第二章 模型
the relational model uses tables
章节三
constraints enforce integrity
"""
    rows = {(r.chapter, r.content) for r in parse_chapter_text(spark, text).collect()}
    assert rows == {
        ("第一章 概述", "databases store structured data"),
        ("第一章 概述", "they support transactions"),
        ("第二章 模型", "the relational model uses tables"),
        ("章节三", "constraints enforce integrity"),
    }

    empty = parse_chapter_text(spark, "no headers here\njust text")
    assert empty.count() == 0


def test_skew_resistant_count_distinct(spark):
    """Two-stage distinct count must equal the direct countDistinct,
    including under a pathologically hot key."""
    from vector_db_example_spark.operators.skew import skew_resistant_count_distinct

    rows = [(1, v % 7) for v in range(1000)] + [(2, 1), (2, 2), (3, 5)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = {
        r.k: r.n_distinct
        for r in skew_resistant_count_distinct(df, "k", "v").collect()
    }
    assert got == {1: 7, 2: 2, 3: 1}


def test_salted_topk_handles_hot_key(spark):
    """One key with 10000 rows, others tiny: the salted path must return
    exactly the unsalted window's answer."""
    from pyspark.sql import Window
    from vector_db_example_spark.operators.skew import salted_topk

    rows = [(1, i, float(i % 997)) for i in range(10_000)]
    rows += [(2, 20_000 + i, float(i)) for i in range(5)]
    df = spark.createDataFrame(rows, "k long, id long, score double")
    order = [F.col("score").desc(), F.col("id").asc()]

    salted = salted_topk(df, "k", order, k=3, n_salt=8, salt_on=F.col("id"))
    w = Window.partitionBy("k").orderBy(*order)
    plain = (
        df.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 3)
    )
    key = lambda r: (r.k, r.rank)
    assert sorted(map(tuple, salted.select("k", "id", "score", "rank").collect())) == \
        sorted(map(tuple, plain.select("k", "id", "score", "rank").collect()))


def test_corpus_curation_removes_all_planted_dups(spark):
    """End-to-end curation removes every planted duplicate (200 exact +
    200 near) AND the corpus's own 3 natural near-dup pairs (the test
    generator plants doc pairs at jaccard 0.95-0.98: (61,185), (87,134),
    (152,178) at sf0.01) — so exactly 197 of the 200 originals survive."""
    from tests.conftest import SF_CORRECTNESS
    from vector_db_example_spark.queries import QUERIES

    out = QUERIES["pipeline_corpus_curation"].fn(spark, SF_CORRECTNESS).collect()
    assert sum(r.n_docs for r in out) == 197


import pytest


@pytest.mark.parametrize(
    "base",
    [
        1_700_000_000_000_000,  # 2023
        -1_000_000_123_000,  # pre-1970: negative micros, non-bucket-aligned
    ],
)
def test_bucketed_range_join_matches_bruteforce(spark, base):
    """Bucketed range join == brute-force range join, including the
    boundary semantics (>= ts-W inclusive, < ts exclusive), pairs
    straddling a bucket boundary, and pre-1970 timestamps (bucket id
    must be FLOOR division — a truncating cast mis-buckets negatives)."""
    from vector_db_example_spark.operators.rangejoin import bucketed_range_join

    W = 60  # 1-minute window
    left_rows = [(i, 1, base + i * 37_000_000) for i in range(40)]
    right_rows = [(100 + j, 1, base + j * 13_000_000) for j in range(120)]
    # plus exact-boundary probes: right at exactly ts-W (in) and ts (out)
    right_rows += [(900, 1, left_rows[5][2] - W * 1_000_000), (901, 1, left_rows[5][2])]
    left = spark.createDataFrame(left_rows, "lid long, user_id long, t long").select(
        "lid", "user_id", F.timestamp_micros("t").alias("ts")
    )
    right = spark.createDataFrame(right_rows, "rid long, user_id long, t long").select(
        "rid", "user_id", F.timestamp_micros("t").alias("ts")
    )
    got = {
        (r.lid, r.rid)
        for r in bucketed_range_join(
            left, right, key="user_id", window_seconds=W
        ).collect()
    }
    brute = {
        (r.lid, r.rid)
        for r in left.join(right.withColumnRenamed("ts", "rts"), "user_id")
        .filter(
            (F.unix_micros("rts") >= F.unix_micros("ts") - W * 1_000_000)
            & (F.unix_micros("rts") < F.unix_micros("ts"))
        )
        .collect()
    }
    assert got == brute and (5, 900) in got and (5, 901) not in got


def test_connected_components_star_matches_min_label(spark):
    """The O(log n)-round large/small-star variant must produce exactly
    the same (id, comp) labelling as min-label propagation on random
    graphs, and must converge on a 300-hop chain that min-label's
    20-iteration default could never finish."""
    import random

    from vector_db_example_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    rng = random.Random(17)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "a_id long, b_id long")
    ref = {r.id: r.comp for r in connected_components(df, max_iter=50).collect()}
    got = {r.id: r.comp for r in connected_components_star(df).collect()}
    assert got == ref

    # 300-hop chain: diameter 300, star converges in O(log n) rounds
    chain = [(i, i + 1) for i in range(300)]
    cdf = spark.createDataFrame(chain, "a_id long, b_id long")
    labels = {r.id: r.comp for r in connected_components_star(cdf).collect()}
    assert set(labels) == set(range(301))
    assert set(labels.values()) == {0}


def test_corpus_line_dedup_keeps_global_first(spark):
    from pyspark.sql import functions as F

    from vector_db_example_spark.operators.dedup import corpus_line_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h x y"),   # lines: "a..h", "x y"
            (2, "a b c d e f g h"),       # duplicate of doc 1's first line
            (3, "x y"),                   # duplicate of doc 1's second line
            (4, "p q"),                   # unique
        ],
        "doc_id bigint, text string",
    )
    out = corpus_line_dedup(docs, tokens_per_line=8).collect()
    survivors = {(r.doc_id, r.line_no, r.line) for r in out}
    # one survivor per distinct line, and it is the (id, line_no)-first one
    assert survivors == {
        (1, 0, "a b c d e f g h"),
        (1, 1, "x y"),
        (4, 0, "p q"),
    }


def test_line_dedup_kept_stats_includes_zero_survivor_docs(spark):
    from vector_db_example_spark.operators.dedup import line_dedup_kept_stats

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h x y"),  # both lines globally first
            (2, "a b c d e f g h"),      # fully duplicate: zero survivors
            (3, "x y"),                  # fully duplicate: zero survivors
            (4, "a b c d e f g h p q"),  # first line dup of doc 1, "p q" unique
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in line_dedup_kept_stats(docs, 8).collect()}
    # every input document gets a row — including the zero-survivor ones,
    # which the survivor set alone cannot produce
    assert set(out) == {1, 2, 3, 4}
    assert (out[1].n_lines, out[1].kept_lines, out[1].kept_frac) == (2, 2, 1.0)
    assert (out[2].n_lines, out[2].kept_lines, out[2].kept_frac) == (1, 0, 0.0)
    assert (out[3].n_lines, out[3].kept_lines, out[3].kept_frac) == (1, 0, 0.0)
    assert (out[4].n_lines, out[4].kept_lines, out[4].kept_frac) == (2, 1, 0.5)


def test_dup_span_stats_fraction_bounds(spark):
    from vector_db_example_spark.operators.dedup import dup_span_stats

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14"
    docs = spark.createDataFrame(
        [
            (1, base),                     # duplicated verbatim by doc 2
            (2, base),
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13"),  # unique
            (4, "s1 s2 s3"),               # too short: no 13-token window
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r for r in dup_span_stats(docs, n=13).collect()}
    assert set(rows) == {1, 2, 3}  # doc 4 has no full window
    assert rows[1].n_spans == 2 and rows[1].dup_spans == 2
    assert rows[1].dup_frac == 1.0 and rows[2].dup_frac == 1.0
    assert rows[3].n_spans == 1 and rows[3].dup_spans == 0
    assert rows[3].dup_frac == 0.0


def test_knn_batch_arrow_equals_expr_both_metrics(spark):
    """The Arrow distance kernel must be BIT-identical to the Catalyst
    zip_with/aggregate expression for l2 and cosine (same left-to-right
    fold over dimensions) — ranks, distances and payload columns all
    equal, including per-query metadata ride-through."""
    from vector_db_example_spark.operators.knn import knn_batch
    from vector_db_example_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = (
        emb.filter(F.col("vec_id") < 4)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
            (F.col("vec_id") * 10).alias("tag"),  # metadata ride-through
        )
    )
    for metric in ("l2", "cosine"):
        a = knn_batch(emb, queries, k=5, metric=metric, impl="expr")
        b = knn_batch(emb, queries, k=5, metric=metric, impl="arrow")
        cols = sorted(a.columns)
        assert cols == sorted(b.columns)
        ra = sorted(tuple(r) for r in a.select(*cols).collect())
        rb = sorted(tuple(r) for r in b.select(*cols).collect())
        assert ra == rb, f"metric={metric}"


def test_knn_batch_rejects_reserved_column_names(spark):
    """A corpus or query-meta column named distance/score/rank would
    either collide in the arrow path's final select or be silently
    overwritten by the expr path's withColumn — knn_batch must refuse it
    up front with a clear message instead."""
    import pytest

    from vector_db_example_spark.operators.knn import knn_batch
    from vector_db_example_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.limit(2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    with pytest.raises(ValueError, match="reserved|collide"):
        knn_batch(emb.withColumn("score", F.lit(1.0)), queries, k=3)
    with pytest.raises(ValueError, match="reserved|collide"):
        knn_batch(emb, queries.withColumn("rank", F.lit(1)), k=3)


def test_knn_batch_empty_queries_column_order(spark):
    """The empty-query fallback must present the SAME column order as
    the arrow path (query_id, id, distance, score, meta..., rank,
    payload...) — positional consumers (union by position,
    toPandas().iloc) must not see an ordering that depends on whether
    the query batch was empty."""
    from vector_db_example_spark.operators.knn import knn_batch
    from vector_db_example_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    queries = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        (F.col("vec_id") * 10).alias("tag"),
    )
    nonempty = knn_batch(emb, queries.filter(F.col("query_id") < 2), k=3)
    empty = knn_batch(emb, queries.filter(F.lit(False)), k=3)
    assert empty.columns == nonempty.columns
    assert empty.count() == 0
    ne_np = knn_batch(
        emb, queries.filter(F.col("query_id") < 2), k=3, with_payload=False
    )
    e_np = knn_batch(emb, queries.filter(F.lit(False)), k=3, with_payload=False)
    assert e_np.columns == ne_np.columns


def test_bpe_train_classic_example():
    """The BPE paper's worked example: {'low':5, 'lower':2, 'newest':6,
    'widest':3}. First merges must pair the most frequent adjacent
    symbols: ('e','s') count 9, then ('es','t') 9, then ('est','</w>')
    9, then ('l','o') 7, ('lo','w') 7 — the canonical sequence."""
    from vector_db_example_spark.operators.bpe import bpe_train

    merges = bpe_train(
        [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)],
        num_merges=5,
    )
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", "</w>"),
        ("l", "o"),
        ("lo", "w"),
    ]


def test_bpe_encode_roundtrip_and_determinism(spark):
    """Encoding the training corpus must (a) concatenate back to the
    original words (merges never cross `</w>`), and (b) be identical
    whether segmented by the greedy encoder or by replaying training —
    plus the Spark query's merge table must be reproducible."""
    from vector_db_example_spark.operators.bpe import (
        END_OF_WORD,
        bpe_encoder,
        bpe_segment_word,
        bpe_train,
        word_frequencies,
    )
    from vector_db_example_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents").limit(100)
    freqs = [(r["word"], r["freq"]) for r in word_frequencies(docs).collect()]
    merges = bpe_train(sorted(freqs), num_merges=30)
    assert merges == bpe_train(sorted(freqs), num_merges=30)  # deterministic
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    for word, _ in freqs[:50]:
        seg = bpe_segment_word(word, ranks)
        assert "".join(seg) == word + END_OF_WORD  # lossless

    enc = bpe_encoder(merges)
    row = (
        docs.limit(5)
        .select("doc_id", enc(F.col("text")).alias("toks"), "text")
        .collect()
    )
    # The encoder tokenizes with the SAME regex the trainer counted
    # words from (TOKEN_PATTERN), so the decoded stream is exactly the
    # extract_tokens word sequence — never a whitespace split that would
    # feed the encoder punctuation-attached words the trainer never saw.
    import re

    from vector_db_example_spark.functions.text import TOKEN_PATTERN

    for r in row:
        joined = "".join(r["toks"]).replace(END_OF_WORD, " ").strip()
        assert joined == " ".join(re.findall(TOKEN_PATTERN, str(r["text"])))


def test_bpe_word_freqs_rank1_is_first_merge(spark):
    """The hash-anchor query's contract: rank 1 of text_bpe_word_freqs
    (pair counts over word+`</w>`, ordered count desc then lexicographic)
    must BE bpe_train's first merge — the same argmax + tiebreak the
    sequential trainer applies, now stated in closed form."""
    from vector_db_example_spark.operators.bpe import bpe_train, word_frequencies
    from vector_db_example_spark.queries import QUERIES
    from vector_db_example_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    out = QUERIES["text_bpe_word_freqs"].fn(spark, SF_SMOKE).collect()
    r1 = next(r for r in out if r["rank"] == 1)
    docs = load_table(spark, SF_SMOKE, "documents")
    freqs = [(r["word"], r["freq"]) for r in word_frequencies(docs).collect()]
    first = bpe_train(sorted(freqs), num_merges=1)[0]
    assert (r1["left_sym"], r1["right_sym"]) == first
    # ordering is total (count desc, pair asc): no count ties straddle
    # equal rank rows out of order
    counts = [r["pair_count"] for r in sorted(out, key=lambda r: r["rank"])]
    assert counts == sorted(counts, reverse=True)


def test_naive_bayes_learns_separable_languages(spark):
    """On a corpus whose labels ARE expressed in the text (disjoint
    vocabularies per language), the NB classifier must be perfect on its
    training data; the synthetic driver corpus only proves hash-parity
    of the machinery, so the learning claim is pinned here."""
    from vector_db_example_spark.operators.textstats import (
        naive_bayes_lang_predictions,
    )

    rows = []
    vocab = {
        "en": ["the", "house", "water", "green"],
        "de": ["das", "haus", "wasser", "gruen"],
        "fr": ["les", "maison", "eau", "vert"],
    }
    i = 0
    for lang, words in vocab.items():
        for k in range(6):
            text = " ".join(words[j % len(words)] for j in range(k, k + 5))
            rows.append((i, lang, text))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, text string")
    preds = naive_bayes_lang_predictions(docs).collect()
    assert len(preds) == 18
    assert all(r["pred_lang"] == r["lang"] for r in preds)


def test_count_min_never_undercounts_and_merges(spark):
    """CMS guarantees: estimate ≥ exact for every token, and the sketch
    built on a union equals the row-wise sum of per-part sketches
    (mergeability — the property that lets segments/streams sum into
    one matrix)."""
    from vector_db_example_spark.functions.text import extract_tokens
    from vector_db_example_spark.operators.sketch import (
        cms_estimates,
        count_min_sketch,
    )
    from vector_db_example_spark.sources.tables import load_table

    from tests.conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    tok = docs.select(F.explode(extract_tokens(F.col("text"))).alias("t"))
    sketch = count_min_sketch(tok, depth=4, width=16)
    exact = tok.groupBy("t").agg(F.count(F.lit(1)).alias("exact_count"))
    joined = (
        cms_estimates(sketch, exact.select("t"), depth=4, width=16)
        .join(exact, "t")
        .collect()
    )
    assert joined and all(r["cms_estimate"] >= r["exact_count"] for r in joined)

    a = tok.filter(F.crc32(F.col("t").cast("binary")) % 2 == 0)
    b = tok.filter(F.crc32(F.col("t").cast("binary")) % 2 == 1)
    merged = (
        count_min_sketch(a, depth=4, width=16)
        .unionByName(count_min_sketch(b, depth=4, width=16))
        .groupBy("d", "bucket")
        .agg(F.sum("c").alias("c"))
    )
    full = {(r["d"], r["bucket"]): r["c"] for r in sketch.collect()}
    got = {(r["d"], r["bucket"]): r["c"] for r in merged.collect()}
    assert got == full


def test_winnow_arrow_kernel_equals_expression_path(spark):
    """The Arrow fingerprint kernel must be row-identical to the
    pure-expression winnowing path on the real corpus (same md5-prefix
    family, same window minima) — the knn_batch impl-parity discipline
    applied to the fingerprint operator."""
    from tests.conftest import SF_SMOKE

    from vector_db_example_spark.operators.fingerprint import (
        fingerprint_overlap_stats,
    )
    from vector_db_example_spark.sources.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    a = sorted(map(tuple, fingerprint_overlap_stats(docs, impl="arrow").collect()))
    b = sorted(map(tuple, fingerprint_overlap_stats(docs, impl="expr").collect()))
    assert a == b and len(a) > 0


def test_py_shingles_matches_expression(spark):
    """_py_shingles (the round-15 kernel's tokenizer/shingler) must equal
    the ``shingles`` expression ELEMENT-FOR-ELEMENT, including the
    first-occurrence order of array_distinct, on whitespace/short-text
    edges (Java ASCII \\s split of a space-trimmed string, trailing
    empties kept, < k tokens collapse to one shingle)."""
    from pyspark.sql import functions as F

    from vector_db_example_spark.operators.dedup import _py_shingles, shingles

    texts = [
        "plain three word text here",
        "two words",
        "one",
        "",
        "   ",
        " \t leading mixed\twhitespace\n and trailing \t ",
        "a b c d",          # NBSP is NOT a Java \s separator
        "tabs\tonly\there",
        "cr\rand\nlf\x0band\x0cfeeds split like java",
        "dup dup dup dup dup dup",
        "unicode 一二三 鿿 tokens mixed in",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    for k in (1, 2, 3):
        want = {
            r["i"]: list(r["sh"])
            for r in df.select(
                "i", shingles(F.col("text"), k).alias("sh")
            ).collect()
        }
        got = {i: _py_shingles(t, k) for i, t in enumerate(texts)}
        assert got == want, f"k={k}"


def test_py_simhash_matches_expression(spark):
    """_py_simhash (the round-16 Arrow kernel's fingerprint) must equal
    the ``simhash64`` expression VALUE-FOR-VALUE — same Java ASCII \\s
    tokenization, same md5-prefix 60-bit token hash, same
    occurrence-weighted bit votes, same null algebra — on the
    adversarial whitespace/unicode edge set."""
    from pyspark.sql import functions as F

    from vector_db_example_spark.operators.dedup import _py_simhash, simhash64

    texts = [
        "plain three word text here",
        "two words",
        "one",
        "",
        "   ",
        " \t leading mixed\twhitespace\n and trailing \t ",
        "a b c d",  # NBSP is NOT a Java \s separator
        "tabs\tonly\there",
        "cr\rand\nlf\x0band\x0cfeeds split like java",
        "dup dup dup dup dup dup",
        "unicode 一二三 鿿 tokens mixed in",
        None,
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    want = {
        r["i"]: r["sim"]
        for r in df.select("i", simhash64("text").alias("sim")).collect()
    }
    memo: dict = {}
    got = {i: _py_simhash(t, memo) for i, t in enumerate(texts)}
    assert got == want
    # and the memo path is pure: a fresh memo gives identical values
    assert got == {i: _py_simhash(t, {}) for i, t in enumerate(texts)}


def test_simhash_near_duplicates_kernel_matches_expression_pairs(spark):
    """The kernelized simhash_near_duplicates must produce exactly the
    pair set of the pure-expression pipeline (blocking + Hamming check
    run over expression fingerprints)."""
    from pyspark.sql import functions as F

    from vector_db_example_spark.operators.dedup import (
        simhash64,
        simhash_near_duplicates,
    )

    docs = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog"),
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over a lazy dog"),
            (3, "completely different text about spark and parquet files"),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        (r["a_id"], r["b_id"], r["hamming"])
        for r in simhash_near_duplicates(docs, max_hamming=3).collect()
    )
    # expression-path reference: same blocking algebra over simhash64
    base = docs.select(F.col("doc_id").alias("id"), simhash64("text").alias("sim"))
    blocks = base.select(
        "id",
        "sim",
        F.explode(
            F.expr(
                "transform(sequence(0, 3), b -> struct(cast(b as int) as block, "
                "shiftright(sim, b * 15) & 32767 as bkey))"
            )
        ).alias("blk"),
    ).select("id", "sim", F.col("blk.block").alias("block"), F.col("blk.bkey").alias("bkey"))
    l, r = blocks.alias("l"), blocks.alias("r")
    want = sorted(
        (x["a_id"], x["b_id"], x["hamming"])
        for x in (
            l.join(
                r,
                (F.col("l.block") == F.col("r.block"))
                & (F.col("l.bkey") == F.col("r.bkey"))
                & (F.col("l.id") < F.col("r.id")),
            )
            .select(
                F.col("l.id").alias("a_id"),
                F.col("r.id").alias("b_id"),
                F.bit_count(F.col("l.sim").bitwiseXOR(F.col("r.sim"))).alias(
                    "hamming"
                ),
            )
            .distinct()
            .filter(F.col("hamming") <= 3)
        ).collect()
    )
    assert got == want
    assert (0, 1, 0) in got  # identical plant at Hamming 0
