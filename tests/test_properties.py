"""Property tests (SURVEY.md §5.4): invariants that must hold for ANY
input, checked over hypothesis-generated corpora.

max_examples is kept small — each example is a real Spark job — but the
generators cover the nasty shapes: empty strings, duplicate ids/texts,
ties in scores, single-row inputs."""

from __future__ import annotations

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

PROP = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta"]
)
texts = st.lists(words, min_size=0, max_size=12).map(" ".join)
vectors = st.lists(
    st.floats(-2.0, 2.0, allow_nan=False, width=32), min_size=4, max_size=4
)


@PROP
@given(rows=st.lists(st.tuples(st.integers(0, 50), texts), min_size=1, max_size=20))
def test_exact_dedup_idempotent(spark, rows):
    """dedup(dedup(x)) == dedup(x), and survivors are the min-id per key."""
    from vector_db_example_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(i, t) for idx, (i, t) in enumerate(rows)], "doc_id long, text string"
    ).dropDuplicates(["doc_id"])
    key = F.md5(F.coalesce(F.col("text"), F.lit("")))
    once = exact_dedup(df, key).collect()
    twice = exact_dedup(
        exact_dedup(df, key), key
    ).collect()
    assert sorted(map(tuple, once)) == sorted(map(tuple, twice))
    by_key = {}
    for r in df.collect():
        by_key.setdefault(r.text or "", []).append(r.doc_id)
    expected = {min(ids) for ids in by_key.values()}
    assert {r.doc_id for r in once} == expected


@PROP
@given(
    corpus=st.lists(
        st.tuples(st.integers(0, 1000), vectors), min_size=2, max_size=25
    ),
    qv=vectors,
)
def test_knn_threshold_monotone_and_topk_prefix(spark, corpus, qv):
    """Higher score threshold ⇒ subset of hits; top-5 is a prefix of
    top-10 (the over-fetch/re-limit semantics are stable)."""
    from vector_db_example_spark.operators.knn import knn_exact

    df = spark.createDataFrame(
        [(i, v) for i, v in corpus], "vec_id long, embedding array<float>"
    ).dropDuplicates(["vec_id"])
    lo = knn_exact(df, qv, k=100, score_threshold=-10.0).collect()
    hi = knn_exact(df, qv, k=100, score_threshold=0.3).collect()
    assert {r.vec_id for r in hi} <= {r.vec_id for r in lo}
    assert all(r.score >= 0.3 - 1e-9 for r in hi)

    top10 = [r.vec_id for r in knn_exact(df, qv, k=10, score_threshold=None).collect()]
    top5 = [r.vec_id for r in knn_exact(df, qv, k=5, score_threshold=None).collect()]
    assert top5 == top10[:5]


@PROP
@given(
    corpus=st.lists(
        st.tuples(st.integers(0, 1000), vectors), min_size=2, max_size=20
    ),
    qv=vectors,
)
def test_knn_distance_is_true_l2(spark, corpus, qv):
    """The in-plan distance expression agrees with driver-side math."""
    from vector_db_example_spark.operators.knn import knn_exact

    df = spark.createDataFrame(
        [(i, v) for i, v in corpus], "vec_id long, embedding array<float>"
    ).dropDuplicates(["vec_id"])
    vec_by_id = {r.vec_id: r.embedding for r in df.collect()}
    for r in knn_exact(df, qv, k=5, score_threshold=None).collect():
        v = vec_by_id[r.vec_id]
        expected = math.sqrt(sum((float(a) - float(b)) ** 2 for a, b in zip(v, qv)))
        assert abs(r.distance - expected) < 1e-4


@PROP
@given(
    rows=st.lists(st.tuples(st.integers(0, 30), texts), min_size=1, max_size=15),
    radius=st.sampled_from([0.3, 0.6, 0.9]),
)
def test_jaccard_threshold_monotone(spark, rows, radius):
    """Pairs at a higher Jaccard threshold are a subset of a lower one,
    and every reported pair's jaccard respects the threshold."""
    from vector_db_example_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in rows], "doc_id long, text string"
    ).dropDuplicates(["doc_id"]).filter(F.length(F.trim("text")) > 0)
    if df.count() < 2:
        return
    lo = {(r.a_id, r.b_id) for r in ngram_jaccard_pairs(df, threshold=radius).collect()}
    hi_pairs = ngram_jaccard_pairs(df, threshold=min(radius + 0.3, 1.0)).collect()
    hi = {(r.a_id, r.b_id) for r in hi_pairs}
    assert hi <= lo
    assert all(r.jaccard >= radius - 1e-9 for r in hi_pairs)


@PROP
@given(rows=st.lists(texts, min_size=1, max_size=10))
def test_corpus_line_dedup_idempotent_and_distinct(spark, rows):
    """Survivor lines are globally distinct, and re-running line dedup on
    the reassembled survivor corpus changes nothing (idempotence)."""
    from vector_db_example_spark.operators.dedup import corpus_line_dedup

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id bigint, text string"
    )
    out = corpus_line_dedup(docs, tokens_per_line=4)
    lines = [r["line"] for r in out.collect()]
    assert len(lines) == len(set(lines))  # globally distinct

    rebuilt = (
        out.groupBy("doc_id")
        .agg(F.array_join(F.sort_array(F.collect_list(F.struct("line_no", "line"))).getField("line"), " ").alias("text"))
    )
    again = corpus_line_dedup(rebuilt, tokens_per_line=4)
    a = sorted((r["doc_id"], r["line"]) for r in out.collect())
    b = sorted((r["doc_id"], r["line"]) for r in again.collect())
    assert a == b


@PROP
@given(rows=st.lists(texts, min_size=1, max_size=10))
def test_line_kept_stats_consistent_with_survivors(spark, rows):
    """The survival report agrees with the survivor set on any corpus:
    one row per input document, sum(kept_lines) == |survivors|,
    0 <= kept <= total, and the corpus-wide kept fraction is < 1 exactly
    when some line was deduplicated away."""
    from vector_db_example_spark.operators.dedup import (
        corpus_line_dedup,
        line_dedup_kept_stats,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id bigint, text string"
    )
    stats = line_dedup_kept_stats(docs, tokens_per_line=4).collect()
    survivors = corpus_line_dedup(docs, tokens_per_line=4).count()
    assert len(stats) == len(rows)  # every doc reports, even zero-kept
    assert sum(r.kept_lines for r in stats) == survivors
    for r in stats:
        assert 0 <= r.kept_lines <= r.n_lines
        assert r.kept_frac == r.kept_lines / r.n_lines


@PROP
@given(rows=st.lists(texts, min_size=1, max_size=8))
def test_dup_span_fraction_bounds_and_symmetry(spark, rows):
    """0 ≤ dup_frac ≤ 1; duplicating the whole corpus drives every doc's
    dup_frac to exactly 1.0 (each span now occurs at least twice)."""
    from vector_db_example_spark.operators.dedup import dup_span_stats

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id bigint, text string"
    )
    base = dup_span_stats(docs, n=3).collect()
    for r in base:
        assert 0.0 <= r["dup_frac"] <= 1.0
        assert r["dup_spans"] <= r["n_spans"]

    doubled = docs.unionByName(
        docs.select((F.col("doc_id") + 1000).alias("doc_id"), "text")
    )
    for r in dup_span_stats(doubled, n=3).collect():
        assert r["dup_frac"] == 1.0


@PROP
@given(
    vals=st.lists(
        st.floats(-100, 100, allow_nan=False, width=32), min_size=1, max_size=40
    )
)
def test_exact_percentile_matches_numpy_type7(spark, vals):
    """The exact-quantile anchor's claim that Spark's percentile is
    type-7 linear interpolation, checked against numpy independently of
    the DuckDB oracle (rel 1e-12 — numpy's lerp reassociates the last
    bit for t≥0.5; DuckDB parity is the bit-exact bar)."""
    import math

    import numpy as np

    df = spark.createDataFrame([(float(v),) for v in vals], "value double")
    row = df.agg(
        F.percentile("value", 0.25).alias("p25"),
        F.percentile("value", 0.50).alias("p50"),
        F.percentile("value", 0.75).alias("p75"),
        F.percentile("value", 0.95).alias("p95"),
    ).collect()[0]
    arr = np.asarray([float(v) for v in vals], dtype=np.float64)
    for p, name in ((25, "p25"), (50, "p50"), (75, "p75"), (95, "p95")):
        want = float(np.percentile(arr, p, method="linear"))
        assert math.isclose(row[name], want, rel_tol=1e-12, abs_tol=1e-12), (
            name,
            row[name],
            want,
        )


@PROP
@given(
    events=st.lists(
        st.tuples(st.integers(1, 5), st.integers(0, 20)),
        min_size=1,
        max_size=60,
    )
)
def test_retention_cohort_invariants(spark, events, tmp_path_factory):
    """Cohort-retention triangle invariants for ANY event log: every
    cohort has a day_offset-0 row whose active_users equals the cohort's
    user count (first activity defines the cohort), no negative offsets,
    and no later offset exceeds the cohort size (retention never exceeds
    100%)."""
    import datetime

    from vector_db_example_spark.queries.events_q import events_retention_cohorts

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (u, base + datetime.timedelta(days=d, hours=u % 24))
        for u, d in events
    ]
    sf_dir = str(tmp_path_factory.mktemp("retention"))
    spark.createDataFrame(
        rows, "user_id bigint, ts timestamp"
    ).write.mode("overwrite").parquet(f"{sf_dir}/events.parquet")

    out = events_retention_cohorts(spark, sf_dir).collect()
    first_day = {}
    for u, d in events:
        first_day[u] = min(first_day.get(u, d), d)
    cohort_sizes = {}
    for u, d0 in first_day.items():
        key = (base + datetime.timedelta(days=d0)).strftime("%Y-%m-%d")
        cohort_sizes[key] = cohort_sizes.get(key, 0) + 1
    day0 = {
        r["cohort_date"]: r["active_users"] for r in out if r["day_offset"] == 0
    }
    assert day0 == cohort_sizes
    for r in out:
        assert r["day_offset"] >= 0
        assert 1 <= r["active_users"] <= cohort_sizes[r["cohort_date"]]


@PROP
@given(assign=st.lists(st.integers(0, 3), min_size=2, max_size=24))
def test_minhash_cap_preserves_clique_clusters(spark, assign):
    """For EXACT-duplicate cliques (identical texts), the star-capped
    LSH path must recover exactly the same duplicate clusters as the
    uncapped all-pairs path — via connected components, for ANY cap:
    identical docs share every band bucket, the star keeps each bucket
    connected through its min-id hub, and the Jaccard verify passes at
    1.0 — so the cap reshapes edges but can never split a clique."""
    from vector_db_example_spark.operators.dedup import (
        connected_components,
        minhash_near_duplicates,
    )

    templates = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "iota kappa lambda mu nu xi omicron pi",
        "rho sigma tau upsilon phi chi psi omega",
        "one two three four five six seven eight",
    ]
    docs = spark.createDataFrame(
        [(i, templates[t]) for i, t in enumerate(assign)],
        "doc_id long, text string",
    )
    groups: dict[int, list[int]] = {}
    for i, t in enumerate(assign):
        groups.setdefault(t, []).append(i)
    want = {frozenset(ids) for ids in groups.values() if len(ids) > 1}
    for cap in (2, 10_000):
        pairs = minhash_near_duplicates(
            docs, threshold=0.9, max_bucket_size=cap
        )
        got: dict[int, set[int]] = {}
        for r in connected_components(pairs).collect():
            got.setdefault(r["comp"], set()).add(r["id"])
        assert {frozenset(v) for v in got.values()} == want, cap


def _semantic_corpus(spark):
    """Skewed synthetic corpus for the cluster-cap tests: one degenerate
    cluster holding a 120-member identical-vector clique (ids 100-219,
    the mass near-dup boilerplate SemDeDup targets), a similarity CHAIN
    hanging off it (mid ~ base, tail ~ mid, tail !~ base), and one far
    singleton — all assigned to a single centroid."""
    base = [1.0, 0.0, 0.0, 0.0]
    mid = [0.7, 0.7, 0.0, 0.0]      # cos(base, mid) ≈ 0.707 ≥ 0.6
    tail = [0.0, 1.0, 0.0, 0.0]     # cos(base, tail) = 0;  cos(mid, tail) ≈ 0.707
    far = [0.0, 0.0, 1.0, 0.0]      # similar to nothing
    rows = [(100 + i, base) for i in range(120)]
    rows += [(300, mid), (301, tail), (302, far)]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def test_semantic_dedup_cap_bounds_degenerate_cluster(spark):
    """Star policy on an over-cap cluster: for the pure near-dup CLIQUE
    the capped kept-set is IDENTICAL to the uncapped one (everything but
    the min-id representative dropped — rep-similarity transitively
    stands in for lower-id similarity at clique granularity), and rows
    dissimilar to everything stay kept. The cap changes O(n²) per-key
    pair fan-out to O(n) without changing the clique outcome."""
    from vector_db_example_spark.operators.dedup import semantic_dedup

    corpus = _semantic_corpus(spark)
    capped = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(
            corpus, [[1.0, 0.2, 0.2, 0.2]], 0.6, max_cluster_size=50
        ).collect()
    }
    assert capped[100] is True                       # clique representative
    assert all(capped[i] is False for i in range(101, 220))  # clique dropped
    assert capped[302] is True                       # dissimilar row kept


def test_semantic_dedup_capped_vs_uncapped_recall(spark):
    """Kept-set agreement between the capped and uncapped paths on the
    skewed corpus: the only legal divergence is a chain member similar
    to SOME lower-id row but not to the representative (star keeps it —
    conservative, never over-drops), so agreement stays ≥ 95% and the
    capped kept-set is a superset of the uncapped one."""
    from vector_db_example_spark.operators.dedup import semantic_dedup

    corpus = _semantic_corpus(spark)
    centroids = [[1.0, 0.2, 0.2, 0.2]]
    kept = {}
    for name, cap in (("capped", 50), ("uncapped", 10**9)):
        kept[name] = {
            r["vec_id"]: r["kept"]
            for r in semantic_dedup(
                corpus, centroids, 0.6, max_cluster_size=cap
            ).collect()
        }
    ids = sorted(kept["capped"])
    assert ids == sorted(kept["uncapped"])
    agree = [i for i in ids if kept["capped"][i] == kept["uncapped"][i]]
    assert len(agree) / len(ids) >= 0.95, (len(agree), len(ids))
    # star never over-drops: anything uncapped keeps, capped keeps too
    for i in ids:
        if kept["uncapped"][i]:
            assert kept["capped"][i], i
    # the one designed divergence: the chain tail (similar to mid, not
    # to the representative) — uncapped drops it, capped keeps it
    assert kept["uncapped"][301] is False
    assert kept["capped"][301] is True


@PROP
@given(
    cents=st.lists(st.integers(0, 50_000_000), min_size=1, max_size=200),
    scale=st.sampled_from([100, 10000, 1000000]),
)
def test_exact_units_snaps_and_sum_is_order_independent(spark, cents, scale):
    """exact_units must recover the EXACT integer for any non-negative
    fixed-decimal double (the floor(x*scale+0.5) form ≡ true rounding
    wherever the argument is near an integer), and the BIGINT sum must
    be identical under any partition order — the invariant the
    large-addend money aggregates rely on (SCALING.md round 6)."""
    from vector_db_example_spark.functions.exactsum import exact_units

    # n/scale is the worst-case fixed-decimal double: the stored value
    # is the nearest double to an exact multiple of 1/scale
    df = spark.createDataFrame([(n,) for n in cents], "n long").select(
        F.col("n"), (F.col("n") / F.lit(float(scale))).alias("x")
    )
    got = df.select("n", exact_units(F.col("x"), scale).alias("u")).collect()
    assert all(r.u == r.n for r in got), [
        (r.n, r.u) for r in got if r.u != r.n
    ][:5]
    # order independence: sum over shuffled partitionings is bit-equal
    total = sum(cents)
    for parts in (1, 7):
        s = (
            df.repartition(parts)
            .select(exact_units(F.col("x"), scale).alias("u"))
            .agg(F.sum("u").alias("s"))
            .first()
            .s
        )
        assert s == total


@PROP
@given(
    ops=st.lists(
        st.one_of(
            st.tuples(st.just("publish"), st.integers(0, 9)),
            st.tuples(st.just("rollback"), st.integers(1, 12)),
        ),
        min_size=1,
        max_size=15,
    )
)
def test_manifest_pointer_matches_model(spark, ops, tmp_path_factory):
    """The versioned serving pointer vs a trivial Python model under any
    publish/rollback sequence: current() always resolves the model's
    head, history is append-only (versions 1..n, prior entries never
    rewritten), and rollback to an out-of-range version raises without
    changing state."""
    from vector_db_example_spark.index import manifest as m

    root = str(tmp_path_factory.mktemp("manifest_prop"))
    model: list[str] = []  # version v serves model[v-1]
    for op, arg in ops:
        if op == "publish":
            path = f"/layouts/l{arg}"
            v = m.publish(root, "serving", path)
            model.append(path)
            assert v == len(model)
        else:
            if 1 <= arg <= len(model):
                v = m.rollback(root, "serving", arg)
                model.append(model[arg - 1])
                assert v == len(model)
            else:
                before = m.history(root, "serving")
                try:
                    m.rollback(root, "serving", arg)
                    raise AssertionError("rollback past history must raise")
                except (KeyError, FileNotFoundError):
                    pass
                assert m.history(root, "serving") == before
        hist = m.history(root, "serving")
        assert [e.version for e in hist] == list(range(1, len(model) + 1))
        assert [e.path for e in hist] == model
        if model:
            assert m.current(root, "serving") == model[-1]
            for i, p in enumerate(model, 1):
                assert m.version(root, "serving", i) == p


@PROP
@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 6),           # day offset
            st.integers(0, 23),          # hour
            st.sampled_from(["click", "view"]),
            st.integers(0, 10_000),      # value in cents
        ),
        min_size=1,
        max_size=40,
    ),
    cut=st.integers(0, 7),               # retention cutoff day offset
    tail=st.integers(0, 7),              # report tail-from day offset
)
def test_hypertable_retention_report_matches_recompute(
    spark, events, cut, tail, tmp_path_factory
):
    """For ANY event set, retention cutoff, and report tail split:
    drop_chunks removes exactly 2 directories per pre-cutoff day
    (raw + rollup, O(days dropped)), and the closed-from-rollup ∪
    open-from-raw report over the survivors equals a direct per-day
    recompute over exactly the retained events — the rollup path loses
    nothing and double-counts nothing wherever the tail boundary lands
    relative to the cutoff."""
    import datetime

    from vector_db_example_spark.index.hypertable import (
        build_hypertable,
        drop_chunks,
        hypertable_report,
    )

    base = datetime.date(2024, 3, 1)
    rows = [
        (
            datetime.datetime(2024, 3, 1 + d, h, 30, 0),
            t,
            c / 100.0,
        )
        for d, h, t, c in events
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    root = str(tmp_path_factory.mktemp("ht_prop"))
    table = build_hypertable(df, root)

    cutoff = (base + datetime.timedelta(days=cut)).isoformat()
    tail_from = (base + datetime.timedelta(days=tail)).isoformat()
    pre_days = {d for d, _, _, _ in events if 1 + d < 1 + cut}
    n_dropped = drop_chunks(spark, table, cutoff)
    assert n_dropped == 2 * len(pre_days)

    got = {
        (r.event_date, r.event_type): (r.n, r.total, r.vmin, r.vmax)
        for r in hypertable_report(spark, table, tail_from).collect()
    }
    # direct recompute over exactly the retained events
    agg: dict[tuple[str, str], list] = {}
    for (ts, t, v) in rows:
        if ts.date() < datetime.date.fromisoformat(cutoff):
            continue
        key = (ts.date().isoformat(), t)
        cur = agg.setdefault(key, [0, 0.0, v, v])
        cur[0] += 1
        cur[1] += v
        cur[2] = min(cur[2], v)
        cur[3] = max(cur[3], v)
    want = {
        k: (n, round(s, 2), round(lo, 2), round(hi, 2))
        for k, (n, s, lo, hi) in agg.items()
    }
    assert got == want


def _fold_l2(a, b) -> float:
    """Bit-exact replica of functions/vector.py::l2_distance: strict
    left-to-right double fold of squared diffs, then one sqrt."""
    acc = 0.0
    for x, y in zip(a, b):
        d = float(x) - float(y)
        acc = acc + d * d
    return math.sqrt(acc)


def _fold_cosine(a, b) -> float:
    """Bit-exact replica of functions/vector.py::cosine_distance:
    1 - dot/(sqrt(dot(a,a)) * sqrt(dot(b,b))), each fold left-to-right."""

    def dot(u, v):
        acc = 0.0
        for x, y in zip(u, v):
            acc = acc + float(x) * float(y)
        return acc

    return 1.0 - (dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))


#: Integer-coordinate vectors: squared distances and dot products are
#: exact in float64, so the Python models above are bit-identical to the
#: engine's double math and rank comparisons need no tolerance.
int_vectors = st.lists(
    st.integers(-4, 4).map(float), min_size=4, max_size=4
)

_ivf_op = st.one_of(
    st.tuples(st.just("append"), st.lists(int_vectors, min_size=1, max_size=3)),
    st.tuples(st.just("lazy_delete"), st.lists(st.integers(0, 40), min_size=1, max_size=4)),
    st.tuples(st.just("eager_delete"), st.lists(st.integers(0, 40), min_size=1, max_size=4)),
    st.tuples(st.just("compact"), st.none()),
    st.tuples(st.just("split"), st.none()),
)


@PROP
@given(
    corpus=st.lists(int_vectors, min_size=2, max_size=6),
    ops=st.lists(_ivf_op, max_size=4),
    qv=int_vectors,
)
def test_ivf_lifecycle_matches_brute_force(spark, corpus, ops, qv, tmp_path_factory):
    """ANY interleaving of append / lazy-delete / eager-delete /
    compact / split-hot-cells against a dict model: every delete returns
    exactly the number of still-live victims (idempotent re-deletes are
    no-ops), compaction folds tombstones away, and a full-probe search —
    sequential AND the shared batch scaffold — returns the model's exact
    brute-force ranking (distance asc, id asc). Covers the
    empty-layout states (delete-all then search/append) that motivated
    IVFIndex.schema_json."""
    import os as _os

    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        compact_ivf_index,
        ivf_append,
        ivf_delete,
        ivf_delete_lazy,
        ivf_search,
        ivf_search_batch,
        split_hot_cells,
    )

    root = str(tmp_path_factory.mktemp("ivf_prop"))
    schema = "vec_id long, embedding array<float>"
    model = {i: tuple(v) for i, v in enumerate(corpus)}
    next_id = len(corpus)
    df = spark.createDataFrame([(i, list(v)) for i, v in sorted(model.items())], schema)
    idx = build_ivf_index(df, f"{root}/gen0", nlist=2, train_sample=100)
    gen = 0
    for op, arg in ops:
        if op == "append":
            rows = [(next_id + j, list(v)) for j, v in enumerate(arg)]
            ivf_append(idx, spark.createDataFrame(rows, schema))
            model.update((i, tuple(v)) for i, v in rows)
            next_id += len(rows)
        elif op in ("lazy_delete", "eager_delete"):
            targets = sorted({i % next_id for i in arg})
            expected = sum(1 for t in targets if t in model)
            fn = ivf_delete_lazy if op == "lazy_delete" else ivf_delete
            assert fn(spark, idx, targets) == expected
            for t in targets:
                model.pop(t, None)
        elif op == "compact" and model:
            gen += 1
            idx = compact_ivf_index(
                spark, idx, f"{root}/gen{gen}", nlist=min(2, len(model))
            )
            assert not _os.path.isdir(idx.tombstones_path)
        elif op == "split":
            idx = split_hot_cells(spark, idx, max_cell_rows=2, sub_nlist=2)
    want = sorted(
        ((i, _fold_l2(v, qv)) for i, v in model.items()), key=lambda t: (t[1], t[0])
    )
    got = [
        (r.vec_id, r.distance)
        for r in ivf_search(
            spark, idx, list(qv), k=len(model) + 3, nprobe=10**6
        ).collect()
    ]
    assert got == want
    got_batch = [
        (r.vec_id, r.distance)
        for r in ivf_search_batch(spark, idx, [(0, list(qv))], k=3, nprobe=10**6)
        .orderBy("rank")
        .collect()
    ]
    assert got_batch == want[:3]


_nz_vectors = int_vectors.filter(lambda v: any(x != 0.0 for x in v))

_lsh_op = st.one_of(
    st.tuples(st.just("append"), st.lists(_nz_vectors, min_size=1, max_size=3)),
    st.tuples(st.just("delete"), st.lists(st.integers(0, 40), min_size=1, max_size=4)),
    st.tuples(st.just("compact"), st.none()),
)


@PROP
@given(
    corpus=st.lists(_nz_vectors, min_size=1, max_size=6),
    ops=st.lists(_lsh_op, max_size=4),
    qv=_nz_vectors,
)
def test_lsh_lifecycle_matches_brute_force(spark, corpus, ops, qv, tmp_path_factory):
    """ANY append/delete/compact interleaving on the bucket-partitioned
    LSH layout vs a dict model: deletes return exactly the live-victim
    count, compaction preserves the live set, and a full-radius search
    (probes = every bucket => exact) — sequential AND batch — returns
    the model's cosine ranking. Covers delete-to-empty followed by
    search and append (LSHIndex.schema_json)."""
    from vector_db_example_spark.index.lsh import (
        build_lsh_layout,
        compact_lsh_layout,
        lsh_append,
        lsh_delete,
        lsh_layout_search,
        lsh_layout_search_batch,
    )

    root = str(tmp_path_factory.mktemp("lsh_prop"))
    schema = "vec_id long, embedding array<float>"
    model = {i: tuple(v) for i, v in enumerate(corpus)}
    next_id = len(corpus)
    df = spark.createDataFrame([(i, list(v)) for i, v in sorted(model.items())], schema)
    idx = build_lsh_layout(df, f"{root}/layout", dim=4, n_planes=3)
    gen = 0
    for op, arg in ops:
        if op == "append":
            rows = [(next_id + j, list(v)) for j, v in enumerate(arg)]
            lsh_append(idx, spark.createDataFrame(rows, schema))
            model.update((i, tuple(v)) for i, v in rows)
            next_id += len(rows)
        elif op == "delete":
            targets = sorted({i % next_id for i in arg})
            expected = sum(1 for t in targets if t in model)
            assert lsh_delete(spark, idx, targets) == expected
            for t in targets:
                model.pop(t, None)
        else:
            gen += 1
            idx = compact_lsh_layout(spark, idx, f"{root}/gen{gen}")
    want = sorted(
        ((i, _fold_cosine(v, qv)) for i, v in model.items()),
        key=lambda t: (t[1], t[0]),
    )
    got = [
        (r.vec_id, r.distance)
        for r in lsh_layout_search(
            spark, idx, list(qv), k=len(model) + 3, probe_radius=3
        ).collect()
    ]
    assert got == want
    got_batch = [
        (r.vec_id, r.distance)
        for r in lsh_layout_search_batch(
            spark, idx, [(0, list(qv))], k=3, probe_radius=3
        )
        .orderBy("rank")
        .collect()
    ]
    assert got_batch == want[:3]


_inv_docs = st.lists(words, min_size=1, max_size=6).map(" ".join)

_inv_op = st.one_of(
    st.tuples(st.just("append"), st.lists(_inv_docs, min_size=1, max_size=3)),
    st.tuples(st.just("delete"), st.lists(st.integers(0, 40), min_size=1, max_size=4)),
    st.tuples(st.just("compact"), st.none()),
)


@PROP
@given(
    corpus=st.lists(_inv_docs, min_size=1, max_size=5),
    ops=st.lists(_inv_op, max_size=4),
    qterms=st.lists(words, min_size=1, max_size=2, unique=True),
)
def test_inverted_lifecycle_equals_fresh_build(
    spark, corpus, ops, qterms, tmp_path_factory
):
    """ANY append / tombstone-delete / compact interleaving must be
    BM25-indistinguishable from a FRESH build over exactly the surviving
    documents (the compaction docstring's contract): tombstoned docs
    contribute nothing to tf/df/doclens/stats even BEFORE compaction
    folds them in, deletes return the live-victim count, and the
    delete-everything state stays searchable (postings_schema)."""
    from vector_db_example_spark.index.inverted import (
        append_to_inverted_index,
        bm25_search_inverted,
        build_inverted_index,
        compact_inverted_index,
        delete_from_inverted_index,
    )

    root = str(tmp_path_factory.mktemp("inv_prop"))
    schema = "doc_id long, text string"
    model = {i: t for i, t in enumerate(corpus)}
    next_id = len(corpus)
    idx = build_inverted_index(
        spark.createDataFrame(sorted(model.items()), schema), f"{root}/gen0", n_buckets=4
    )
    gen = 0
    for op, arg in ops:
        if op == "append":
            rows = [(next_id + j, t) for j, t in enumerate(arg)]
            append_to_inverted_index(idx, spark.createDataFrame(rows, schema))
            model.update(rows)
            next_id += len(rows)
        elif op == "delete":
            targets = sorted({i % next_id for i in arg})
            expected = sum(1 for t in targets if t in model)
            assert delete_from_inverted_index(idx, targets) == expected
            for t in targets:
                model.pop(t, None)
        else:
            gen += 1
            idx = compact_inverted_index(spark, idx, f"{root}/gen{gen}")
    fresh = build_inverted_index(
        spark.createDataFrame(sorted(model.items()), schema), f"{root}/fresh", n_buckets=4
    )
    got = [
        (r.doc_id, r.bm25)
        for r in bm25_search_inverted(spark, idx, qterms, k=50).collect()
    ]
    want = [
        (r.doc_id, r.bm25)
        for r in bm25_search_inverted(spark, fresh, qterms, k=50).collect()
    ]
    assert got == want


_replay_batches = st.lists(
    st.tuples(st.lists(int_vectors, min_size=1, max_size=3), st.booleans()),
    min_size=1,
    max_size=3,
)


@PROP
@given(
    seed_vecs=st.lists(int_vectors, min_size=2, max_size=4),
    batches=_replay_batches,
    qv=int_vectors,
)
def test_ivf_compaction_heals_replayed_appends(
    spark, seed_vecs, batches, qv, tmp_path_factory
):
    """The streaming sink's crash window (streaming/ingest.py: append
    lands, crash before the commit marker, batch replays) lays down
    byte-identical rows twice. The documented recovery is the offline
    compaction rebuild — so after ANY append sequence with replays,
    compact + full-probe search must return the model's ranking with
    each id EXACTLY ONCE."""
    from vector_db_example_spark.index.ivf import (
        build_ivf_index,
        compact_ivf_index,
        ivf_append,
        ivf_search,
    )

    root = str(tmp_path_factory.mktemp("ivf_replay"))
    schema = "vec_id long, embedding array<float>"
    model = {i: tuple(v) for i, v in enumerate(seed_vecs)}
    next_id = len(seed_vecs)
    idx = build_ivf_index(
        spark.createDataFrame(sorted((i, list(v)) for i, v in model.items()), schema),
        f"{root}/gen0",
        nlist=2,
        train_sample=100,
    )
    for vecs, replayed in batches:
        rows = [(next_id + j, list(v)) for j, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, schema)
        ivf_append(idx, df)
        if replayed:  # at-least-once re-delivery of the SAME batch
            ivf_append(idx, df)
        model.update((i, tuple(v)) for i, v in rows)
        next_id += len(rows)
    idx = compact_ivf_index(spark, idx, f"{root}/compacted", nlist=2)
    want = sorted(
        ((i, _fold_l2(v, qv)) for i, v in model.items()), key=lambda t: (t[1], t[0])
    )
    got = [
        (r.vec_id, r.distance)
        for r in ivf_search(
            spark, idx, list(qv), k=len(model) + 3, nprobe=10**6
        ).collect()
    ]
    assert got == want


@PROP
@given(
    batches=st.lists(
        st.tuples(st.lists(_inv_docs, min_size=1, max_size=3), st.booleans()),
        min_size=1,
        max_size=3,
    ),
    qterms=st.lists(words, min_size=1, max_size=2, unique=True),
)
def test_inverted_compaction_heals_replayed_appends(
    spark, batches, qterms, tmp_path_factory
):
    """Same crash window on the lexical sink: a replayed append lays
    down duplicate (term, doc, tf) postings and doclen rows and
    double-bumps the stats row. Compaction's max(tf)/max(__dl) rule and
    stats recompute must restore BM25 bit-parity with a fresh build
    over the live docs, for ANY mix of replayed and clean batches
    (starting from an EMPTY build — the postings_schema path)."""
    from vector_db_example_spark.index.inverted import (
        append_to_inverted_index,
        bm25_search_inverted,
        build_inverted_index,
        compact_inverted_index,
    )

    root = str(tmp_path_factory.mktemp("inv_replay"))
    schema = "doc_id long, text string"
    model: dict[int, str] = {}
    next_id = 0
    idx = build_inverted_index(
        spark.createDataFrame([], schema), f"{root}/gen0", n_buckets=4
    )
    for docs, replayed in batches:
        rows = [(next_id + j, t) for j, t in enumerate(docs)]
        df = spark.createDataFrame(rows, schema)
        append_to_inverted_index(idx, df)
        if replayed:
            append_to_inverted_index(idx, df)
        model.update(rows)
        next_id += len(rows)
    idx = compact_inverted_index(spark, idx, f"{root}/compacted")
    fresh = build_inverted_index(
        spark.createDataFrame(sorted(model.items()), schema), f"{root}/fresh", n_buckets=4
    )
    got = [
        (r.doc_id, r.bm25)
        for r in bm25_search_inverted(spark, idx, qterms, k=50).collect()
    ]
    want = [
        (r.doc_id, r.bm25)
        for r in bm25_search_inverted(spark, fresh, qterms, k=50).collect()
    ]
    assert got == want


@PROP
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), min_size=1, max_size=40
    )
)
def test_connected_components_both_algorithms_match_union_find(spark, edges):
    """For ANY edge list (self-loops, duplicate/reversed edges, long
    chains, dense blobs): min-label propagation and the
    large-star/small-star algorithm must both label every node with the
    union-find model's min-id component — identical outputs from two
    independent algorithms, anchored to a third implementation."""
    from vector_db_example_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}

    df = spark.createDataFrame(edges, "a_id long, b_id long")
    got_minlabel = {r.id: r.comp for r in connected_components(df).collect()}
    got_star = {r.id: r.comp for r in connected_components_star(df).collect()}
    assert got_minlabel == want
    assert got_star == want


@PROP
@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["s1", "s2"]), texts), min_size=1, max_size=25
    ),
    budget=st.integers(1, 12),
)
def test_pack_sequences_matches_model(spark, rows, budget):
    """Concat-and-chunk packing vs a direct per-stream model: for ANY
    docs (including empty texts — one token under the engine's split
    semantics) and ANY budget, pack_id = floor(cum_before / budget) with
    id-ascending order, and the per-pack stats aggregate exactly."""
    from vector_db_example_spark.operators.packing import pack_sequences

    docs = [(i, s, t) for i, (s, t) in enumerate(rows)]
    model: dict[tuple[str, int], list] = {}
    cum: dict[str, int] = {}
    for i, s, t in docs:  # ids are already ascending per stream
        stripped = t.strip()
        ntok = 1 if stripped == "" else len(stripped.split())
        pack = cum.get(s, 0) // budget
        cur = model.setdefault((s, pack), [0, 0, i])
        cur[0] += 1
        cur[1] += ntok
        cum[s] = cum.get(s, 0) + ntok
    want = {k: tuple(v) for k, v in model.items()}

    df = spark.createDataFrame(docs, "doc_id long, source string, text string")
    got = {
        (r.stream, r.pack_id): (r.n_docs, r.pack_tokens, r.first_doc)
        for r in pack_sequences(df, budget=budget).collect()
    }
    assert got == want


@PROP
@given(
    docs=st.lists(texts, min_size=1, max_size=12),
    w=st.integers(1, 5),
)
def test_corpus_line_dedup_matches_model(spark, docs, w):
    """C4-style global line dedup vs a direct model: for ANY corpus and
    window size, every distinct token-window line survives exactly once,
    at its lexicographically-first (doc_id, line_no) occurrence —
    including empty documents (one empty-string line under the engine's
    split semantics)."""
    import re

    from vector_db_example_spark.operators.dedup import corpus_line_dedup

    def windows(text: str) -> list[str]:
        stripped = text.strip()
        toks = [""] if stripped == "" else re.split(r"\s+", stripped)
        k = max((len(toks) - 1) // w, 0)
        return [" ".join(toks[i * w : i * w + w]) for i in range(k + 1)]

    first: dict[str, tuple[int, int]] = {}
    for i, t in enumerate(docs):
        for ln, line in enumerate(windows(t)):
            if line not in first or (i, ln) < first[line]:
                first[line] = (i, ln)
    want = {(i, ln, line) for line, (i, ln) in first.items()}

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        (r.doc_id, r.line_no, r.line)
        for r in corpus_line_dedup(df, tokens_per_line=w).collect()
    }
    assert got == want


@PROP
@given(tokens=st.lists(words, min_size=1, max_size=60))
def test_cms_estimate_dominates_true_count(spark, tokens):
    """The count-min invariant, for ANY token stream: every point
    estimate is >= the true count (collisions only ever ADD), and a
    token absent from the stream estimates >= 0 (its buckets may still
    collide with real mass, but the coalesce floor holds)."""
    from collections import Counter

    from vector_db_example_spark.operators.sketch import (
        cms_estimates,
        count_min_sketch,
    )

    true = Counter(tokens)
    df = spark.createDataFrame([(t,) for t in tokens], "t string")
    sketch = count_min_sketch(df, depth=3, width=8)
    queries = spark.createDataFrame(
        [(t,) for t in sorted(true)] + [("__never_seen__",)], "t string"
    )
    got = {
        r.t: r.cms_estimate
        for r in cms_estimates(sketch, queries, depth=3, width=8).collect()
    }
    for t, n in true.items():
        assert got[t] >= n, (t, got[t], n)
    assert got["__never_seen__"] >= 0
    # total mass conservation per hash row: sum of estimates can exceed,
    # but no single estimate can exceed the stream length
    for t, est in got.items():
        assert est <= len(tokens)


@settings(max_examples=200, deadline=None)
@given(
    word_freqs=st.lists(
        st.tuples(st.text(alphabet="abcde", min_size=1, max_size=6), st.integers(1, 5)),
        min_size=1,
        max_size=10,
    ),
    num_merges=st.integers(0, 30),
    probe=st.text(alphabet="abcde", min_size=1, max_size=8),
)
def test_bpe_segmentation_lossless_and_equals_merge_replay(
    word_freqs, num_merges, probe
):
    """Pure-Python BPE invariants, checked densely: (1) segmentation is
    LOSSLESS — concatenating the tokens restores word + </w> for any
    trained merge table and any word, seen or unseen; (2) the encoder's
    greedy lowest-rank-first loop equals replaying the merges in
    training order (the bpe_segment_word docstring's claim that encode
    segments exactly as training did)."""
    from vector_db_example_spark.operators.bpe import (
        END_OF_WORD,
        _merge_word,
        bpe_segment_word,
        bpe_train,
    )

    merges = bpe_train(word_freqs, num_merges)
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    for w in [w for w, _ in word_freqs] + [probe]:
        seg = bpe_segment_word(w, ranks)
        assert "".join(seg) == w + END_OF_WORD
        replay = tuple(w) + (END_OF_WORD,)
        for pair in merges:
            replay = _merge_word(replay, pair)
        assert tuple(seg) == replay, (w, seg, replay)


@settings(max_examples=200, deadline=None)
@given(data=st.data())
def test_ppm_roundtrip_and_resize_invariants(data):
    """Pure-Python multimodal kernels, checked densely: PPM encode →
    decode is lossless for any RGB array; nearest-neighbor resize
    yields exactly the requested shape, blends nothing (every output
    pixel IS an input pixel), and same-size resize is the identity."""
    import numpy as np

    from vector_db_example_spark.operators.multimodal import (
        _resize_nearest,
        decode_ppm,
        encode_ppm,
    )

    h = data.draw(st.integers(1, 6), label="h")
    w = data.draw(st.integers(1, 6), label="w")
    px = data.draw(
        st.lists(st.integers(0, 255), min_size=h * w * 3, max_size=h * w * 3),
        label="pixels",
    )
    arr = np.asarray(px, dtype=np.uint8).reshape(h, w, 3)
    assert (decode_ppm(encode_ppm(arr)) == arr).all()

    H = data.draw(st.integers(1, 6), label="H")
    W = data.draw(st.integers(1, 6), label="W")
    out = _resize_nearest(arr, width=W, height=H)
    assert out.shape == (H, W, 3)
    in_px = {tuple(int(c) for c in p) for p in arr.reshape(-1, 3)}
    assert all(tuple(int(c) for c in p) in in_px for p in out.reshape(-1, 3))
    assert (_resize_nearest(arr, width=w, height=h) == arr).all()
    assert decode_ppm(encode_ppm(out)).shape == (H, W, 3)


@PROP
@given(
    corpus=st.lists(_inv_docs, min_size=1, max_size=8),
    q1=st.lists(words, min_size=1, max_size=2, unique=True),
    q2=st.lists(words, min_size=1, max_size=3, unique=True),
)
def test_bm25_batch_equals_sequential(spark, corpus, q1, q2, tmp_path_factory):
    """The batched BM25 path (one pruned scan, per-query score columns,
    stack + rank window) must be row-identical to N sequential searches
    for ANY corpus and query pair — including queries sharing terms,
    single-term queries, and queries matching nothing."""
    from vector_db_example_spark.index.inverted import (
        bm25_search_inverted,
        bm25_search_inverted_batch,
        build_inverted_index,
    )

    root = str(tmp_path_factory.mktemp("bm25_batch"))
    idx = build_inverted_index(
        spark.createDataFrame(list(enumerate(corpus)), "doc_id long, text string"),
        f"{root}/idx",
        n_buckets=4,
    )
    batch = bm25_search_inverted_batch(spark, idx, {0: q1, 1: q2}, k=50)
    got = {
        qid: sorted((r.doc_id, r.bm25) for r in rows)
        for qid, rows in (
            (0, batch.filter(F.col("query_id") == 0).collect()),
            (1, batch.filter(F.col("query_id") == 1).collect()),
        )
    }
    for qid, terms in ((0, q1), (1, q2)):
        want = sorted(
            (r.doc_id, r.bm25)
            for r in bm25_search_inverted(spark, idx, terms, k=50).collect()
        )
        assert got[qid] == want, (qid, terms)


@PROP
@given(
    docs=st.lists(texts, min_size=1, max_size=8),
    phrases=st.lists(
        st.lists(words, min_size=1, max_size=3).map(" ".join),
        min_size=1,
        max_size=3,
    ),
)
def test_maxsim_topk_matches_model(spark, docs, phrases):
    """ColBERT-style MaxSim vs a direct Python model: for ANY corpus and
    query phrases, score(d) = sum_i max_j <q_i, chunk_j> with the
    engine's exact fold (left-to-right double dot over float32
    components, per-phrase maxima, left-to-right sum, HALF_UP round to
    6), ranked desc / id asc."""
    import re
    from decimal import ROUND_HALF_UP, Decimal

    from vector_db_example_spark.functions.embedding import hash_embed_one
    from vector_db_example_spark.operators.late_interaction import maxsim_topk

    W, DIM = 16, 16

    def windows(text: str) -> list[str]:
        stripped = text.strip()
        toks = [""] if stripped == "" else re.split(r"\s+", stripped)
        k = max((len(toks) - 1) // W, 0)
        return [" ".join(toks[i * W : i * W + W]) for i in range(k + 1)]

    def dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + float(x) * float(y)
        return acc

    qvecs = [hash_embed_one(p, DIM) for p in phrases]
    scores: dict[int, float] = {}
    for i, t in enumerate(docs):
        wvecs = [hash_embed_one(wt, DIM) for wt in windows(t)]
        total = None
        for qv in qvecs:
            m = max(dot(wv, qv) for wv in wvecs)
            total = m if total is None else total + m
        scores[i] = float(
            Decimal(repr(total)).quantize(Decimal("0.000001"), ROUND_HALF_UP)
        )
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = [
        (r.doc_id, r.maxsim)
        for r in maxsim_topk(df, phrases, k=5, dim=DIM, window=W).collect()
    ]
    assert got == [(i, s) for i, s in want]


@PROP
@given(
    corpus=st.lists(int_vectors, min_size=2, max_size=8),
    queries=st.lists(int_vectors, min_size=1, max_size=3),
    nz_queries=st.lists(_nz_vectors, min_size=1, max_size=3),
)
def test_batch_search_multi_query_matches_model(
    spark, corpus, queries, nz_queries, tmp_path_factory
):
    """The shared batch scaffold under a MULTI-query load: with full
    probes, every query's ranked top-k must equal the brute-force model
    independently — exercises the probe-union pruning and the
    tile/repeat emission alignment across query subsets, on both the
    IVF (L2) and LSH (cosine) kernels."""
    from vector_db_example_spark.index.ivf import build_ivf_index, ivf_search_batch
    from vector_db_example_spark.index.lsh import (
        build_lsh_layout,
        lsh_layout_search_batch,
    )

    root = str(tmp_path_factory.mktemp("batch_prop"))
    schema = "vec_id long, embedding array<float>"
    df = spark.createDataFrame(list(enumerate(map(list, corpus))), schema)
    k = 3

    idx = build_ivf_index(df, f"{root}/ivf", nlist=2, train_sample=100)
    batch = ivf_search_batch(
        spark, idx, [(qi, list(q)) for qi, q in enumerate(queries)], k=k, nprobe=10**6
    ).collect()
    for qi, q in enumerate(queries):
        want = sorted(
            ((i, _fold_l2(v, q)) for i, v in enumerate(corpus)),
            key=lambda t: (t[1], t[0]),
        )[:k]
        got = sorted(
            ((r.vec_id, r.distance) for r in batch if r.query_id == qi),
            key=lambda t: (t[1], t[0]),
        )
        assert got == want, (qi, q)

    nz_corpus = [v for v in corpus if any(x != 0.0 for x in v)]
    if nz_corpus:
        nz_df = spark.createDataFrame(list(enumerate(map(list, nz_corpus))), schema)
        lidx = build_lsh_layout(nz_df, f"{root}/lsh", dim=4, n_planes=3)
        lbatch = lsh_layout_search_batch(
            spark,
            lidx,
            [(qi, list(q)) for qi, q in enumerate(nz_queries)],
            k=k,
            probe_radius=3,
        ).collect()
        for qi, q in enumerate(nz_queries):
            want = sorted(
                ((i, _fold_cosine(v, q)) for i, v in enumerate(nz_corpus)),
                key=lambda t: (t[1], t[0]),
            )[:k]
            got = sorted(
                ((r.vec_id, r.distance) for r in lbatch if r.query_id == qi),
                key=lambda t: (t[1], t[0]),
            )
            assert got == want, (qi, q)


@PROP
@given(
    docs=st.lists(texts, min_size=1, max_size=8),
    phrases=st.lists(
        st.lists(words, min_size=1, max_size=3).map(" ".join),
        min_size=1,
        max_size=2,
    ),
)
def test_maxsim_layout_path_equals_inline(spark, docs, phrases, tmp_path_factory):
    """The materialized chunk-embedding layout (embed once at ingest,
    score many queries) must be row-identical to the inline MaxSim path
    for ANY corpus and phrases — two code paths, one semantic."""
    from vector_db_example_spark.operators.late_interaction import (
        build_chunk_embedding_layout,
        maxsim_topk,
        maxsim_topk_from_layout,
    )

    root = str(tmp_path_factory.mktemp("maxsim_layout"))
    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    inline = [
        (r.doc_id, r.maxsim)
        for r in maxsim_topk(df, phrases, k=5, dim=16, window=16).collect()
    ]
    path = build_chunk_embedding_layout(df, f"{root}/chunks", dim=16, window=16)
    layout = [
        (r.doc_id, r.maxsim)
        for r in maxsim_topk_from_layout(path, spark, phrases, k=5, dim=16).collect()
    ]
    assert layout == inline


@PROP
@given(
    seed_vecs=st.lists(_nz_vectors, min_size=1, max_size=4),
    batches=st.lists(
        st.tuples(st.lists(_nz_vectors, min_size=1, max_size=3), st.booleans()),
        min_size=1,
        max_size=3,
    ),
    qv=_nz_vectors,
)
def test_lsh_compaction_heals_replayed_appends(
    spark, seed_vecs, batches, qv, tmp_path_factory
):
    """The at-least-once crash window on the LSH layout: replayed
    append batches lay down byte-identical rows twice; compaction's
    full-row distinct must restore the model's exact full-radius
    ranking with each id EXACTLY ONCE (the IVF replay-heal twin)."""
    from vector_db_example_spark.index.lsh import (
        build_lsh_layout,
        compact_lsh_layout,
        lsh_append,
        lsh_layout_search,
    )

    root = str(tmp_path_factory.mktemp("lsh_replay"))
    schema = "vec_id long, embedding array<float>"
    model = {i: tuple(v) for i, v in enumerate(seed_vecs)}
    next_id = len(seed_vecs)
    idx = build_lsh_layout(
        spark.createDataFrame(
            sorted((i, list(v)) for i, v in model.items()), schema
        ),
        f"{root}/layout",
        dim=4,
        n_planes=3,
    )
    for vecs, replayed in batches:
        rows = [(next_id + j, list(v)) for j, v in enumerate(vecs)]
        df = spark.createDataFrame(rows, schema)
        lsh_append(idx, df)
        if replayed:
            lsh_append(idx, df)
        model.update((i, tuple(v)) for i, v in rows)
        next_id += len(rows)
    idx = compact_lsh_layout(spark, idx, f"{root}/compacted")
    want = sorted(
        ((i, _fold_cosine(v, qv)) for i, v in model.items()),
        key=lambda t: (t[1], t[0]),
    )
    got = [
        (r.vec_id, r.distance)
        for r in lsh_layout_search(
            spark, idx, list(qv), k=len(model) + 3, probe_radius=3
        ).collect()
    ]
    assert got == want


@PROP
@given(
    corpus=st.lists(int_vectors, min_size=2, max_size=8),
    maxd=st.sampled_from([1.0, 2.0, 4.0]),
)
def test_ivf_bucketed_pairs_nlist1_equals_all_pairs(
    spark, corpus, maxd, tmp_path_factory
):
    """With nlist=1 (one cell = the whole corpus) the bucketed
    near-dup pair generator must equal the brute-force all-pairs model:
    every a<b pair within max_distance, with the engine's exact L2 —
    the identity that justifies trusting the nlist>1 path's per-cell
    semantics."""
    from vector_db_example_spark.index.ivf import build_ivf_index, ivf_bucketed_pairs

    root = str(tmp_path_factory.mktemp("pairs_prop"))
    schema = "vec_id long, embedding array<float>"
    df = spark.createDataFrame(list(enumerate(map(list, corpus))), schema)
    idx = build_ivf_index(df, f"{root}/idx", nlist=1, train_sample=100)
    want = {
        (a, b, _fold_l2(corpus[a], corpus[b]))
        for a in range(len(corpus))
        for b in range(a + 1, len(corpus))
        if _fold_l2(corpus[a], corpus[b]) <= maxd
    }
    got = {
        (r.a_id, r.b_id, r.distance)
        for r in ivf_bucketed_pairs(spark, idx, max_distance=maxd).collect()
    }
    assert got == want


@PROP
@given(
    batches=st.lists(
        st.lists(st.tuples(words, texts), min_size=1, max_size=4),
        min_size=1,
        max_size=4,
    ),
    drops=st.booleans(),
)
def test_catalog_insert_lifecycle_matches_model(spark, batches, drops, tmp_path_factory):
    """The collection catalog under ANY insert sequence: every insert
    returns its batch size, engine-assigned ids stay globally unique
    and disjoint from existing rows across batches, the stored
    (chapter, content) multiset equals the model, create is idempotent
    (existing data survives a second create), and force_recreate wipes."""
    from collections import Counter

    from vector_db_example_spark.catalog import CollectionCatalog

    cat = CollectionCatalog(spark, str(tmp_path_factory.mktemp("catalog_prop")))
    assert cat.create("kb") is True
    assert cat.create("kb") is False  # idempotent reuse
    model: Counter = Counter()
    for batch in batches:
        df = spark.createDataFrame(batch, "chapter string, content string")
        assert cat.insert("kb", df) == len(batch)
        model.update(batch)
        rows = cat.read("kb").collect()
        assert len({r.id for r in rows}) == len(rows)  # ids globally unique
        assert Counter((r.chapter, r.content) for r in rows) == model
        assert cat.stats("kb")["row_count"] == sum(model.values())
    if drops:
        assert cat.create("kb", force_recreate=True) is True
        assert cat.stats("kb")["row_count"] == 0


def _winnow_model(text: str, k: int = 5, w: int = 4) -> list[int]:
    """Direct Python winnowing: same md5-prefix hash family, same
    window minima, first-occurrence distinct order."""
    import hashlib

    grams = [text[i : i + k] for i in range(max(len(text) - k + 1, 1))]
    hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
    out: list[int] = []
    for j in range(max(len(hs) - w + 1, 1)):
        m = min(hs[j : j + w])
        if m not in out:
            out.append(m)
    return out


@PROP
@given(docs=st.lists(texts, min_size=1, max_size=10))
def test_winnow_fingerprints_match_model_and_guarantee(spark, docs):
    """Winnowing vs a direct Python model for ANY corpus (bit-identical
    fingerprint arrays, order included), plus the Schleimer et al.
    guarantee on a planted pair: two documents sharing a substring of
    length >= k + w - 1 (here 8) must share a fingerprint."""
    from pyspark.sql import functions as F

    from vector_db_example_spark.operators.fingerprint import winnow_fingerprints

    df = spark.createDataFrame(list(enumerate(docs)), "doc_id long, text string")
    got = {
        r.doc_id: list(r.fps)
        for r in df.select(
            "doc_id", winnow_fingerprints(F.col("text")).alias("fps")
        ).collect()
    }
    for i, t in enumerate(docs):
        assert got[i] == _winnow_model(t), (i, t)

    shared = "winnowing guarantee substring"  # len >= 8
    a, b = "prefix one " + shared, shared + " suffix two"
    pair = spark.createDataFrame(
        [(0, a), (1, b)], "doc_id long, text string"
    ).select("doc_id", winnow_fingerprints(F.col("text")).alias("fps"))
    fps = {r.doc_id: set(r.fps) for r in pair.collect()}
    assert fps[0] & fps[1], "shared substring of length >= k+w-1 must collide"
    assert set(_winnow_model(a)) & set(_winnow_model(b))
