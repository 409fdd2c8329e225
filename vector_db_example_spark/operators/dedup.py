"""Deduplication operators for LLM training-data pipelines (north star):

* exact duplicates          — hash-groupBy on a normalization key
* MinHash + LSH near-dup    — shingle → minhash signature → band buckets →
                              bucket-join candidates → exact-Jaccard verify
* n-gram Jaccard            — exact pairwise set similarity (the verifier /
                              small-scale baseline)
* SimHash                   — 60-bit fingerprints + Hamming-radius pairs
* embedding near-dup        — cosine-threshold pairs (see also
                              operators.knn.similarity_self_join)

Scale design: the MinHash path is the 100 TB shape — signatures are one
narrow map stage (nested higher-order expressions, no Python), candidate
generation shuffles only (id, band_key) pairs, and the exact-Jaccard
verify joins shingle arrays back for *candidates only*. The all-pairs
operators are deliberately the oracle-checkable baselines for small
inputs; never run them raw at scale.

md5 is used as the hash family everywhere (seeded by prefix) because it is
deterministic and engine-portable — the DuckDB oracle computes the exact
same signatures, so even the LSH path is hash-checkable.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import numpy as np

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.text import token_windows


def _ws_tokens(text: Column) -> Column:
    return F.split(F.trim(text), r"\s+")


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct space-joined token k-grams (array<string>). Documents with
    fewer than k tokens yield their full token string as one shingle.

    The token array is BOUND via a single-element outer transform before
    the per-start lambda indexes it: higher-order functions do not
    subexpression-eliminate across the lambda boundary, so referencing
    the raw split subtree from inside the lambda re-tokenizes the text
    once per shingle — O(tokens²) per doc (measured 11x slower at sf1.0;
    SCALING.md records the rule)."""

    def per_toks(toks: Column) -> Column:
        starts = F.sequence(F.lit(1), F.greatest(F.size(toks) - (k - 1), F.lit(1)))
        return F.array_distinct(
            F.transform(starts, lambda i: F.array_join(F.slice(toks, i, k), " "))
        )

    return F.element_at(F.transform(F.array(_ws_tokens(text)), per_toks), 1)


def exact_dedup(
    df: DataFrame, key: Column, id_col: str = "doc_id", keep: str = "min"
) -> DataFrame:
    """Keep one representative per exact-duplicate group (deterministic:
    lowest/highest id wins — never ``dropDuplicates``, whose survivor is
    arbitrary under distributed execution; SURVEY.md §2.7 U2 note)."""
    order = F.col(id_col).asc() if keep == "min" else F.col(id_col).desc()
    w = Window.partitionBy("__key").orderBy(order)
    return (
        df.withColumn("__key", key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__key", "__rn")
    )


def exact_dup_groups(df: DataFrame, key: Column, id_col: str = "doc_id") -> DataFrame:
    """Duplicate groups: key, group size, representative (min id)."""
    return (
        df.groupBy(key.alias("dup_key"))
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min(id_col).alias("representative"),
        )
        .filter(F.col("group_size") > 1)
    )


def minhash_signature(shingle_arr: Column, n_hashes: int = 16) -> Column:
    """MinHash signature: for each seed, the lexicographic min of
    md5(seed || '|' || shingle). array<string> of length n_hashes."""
    seeds = F.sequence(F.lit(1), F.lit(n_hashes))
    return F.transform(
        seeds,
        lambda s: F.array_min(
            F.transform(
                shingle_arr,
                lambda sh: F.md5(F.concat(s.cast("string"), F.lit("|"), sh)),
            )
        ),
    )


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Band keys: md5 of each contiguous signature slice.
    array<struct<band:int, key:string>>."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"),
            F.md5(
                F.array_join(F.slice(signature, b * rows_per_band + 1, rows_per_band), "")
            ).alias("key"),
        ),
    )


#: Java-regex ``\s`` is the ASCII class ``[ \t\n\x0B\f\r]`` (Spark's
#: ``split`` compiles plain Java regex, no UNICODE flag) — the Python
#: kernels below must tokenize byte-for-byte like
#: ``split(trim(text), '\\s+')`` or signatures drift.
_JAVA_WS_RE = re.compile(r"[ \t\n\x0B\f\r]+")


def _py_shingles(text: str, k: int) -> list:
    """Pure-Python twin of ``shingles``: first-occurrence-distinct
    space-joined k-gram windows over Java-semantics tokens (ASCII space
    trim, ASCII ``\\s+`` split, trailing empties kept); < k tokens ⇒ the
    whole token string as one shingle. Byte-identical to the expression
    (pinned with the minhash twin in tests/test_dedupidx.py and
    tests/test_operators.py)."""
    toks = _JAVA_WS_RE.split(text.strip(" "))
    nt = len(toks)
    if nt > k - 1:
        return list(dict.fromkeys(" ".join(toks[i : i + k]) for i in range(nt - k + 1)))
    return [" ".join(toks)]


def _py_minhash_digests(sh: list, prefixes: list) -> list:
    """Per seed prefix, the min over shingles of md5(seed || '|' ||
    shingle) as a 16-byte digest. Hex is byte-order-preserving, so this
    min is the expression's lexicographic ``array_min`` over hex
    strings — C-backed hashlib instead of per-element interpreted
    Catalyst lambdas (guide §4.2; measured 3× on the dedup-index
    kernel, SCALING.md round 15)."""
    md5 = hashlib.md5
    shb = [x.encode("utf-8") for x in sh]
    return [min(md5(p + b).digest() for b in shb) for p in prefixes]


def _py_minhash(sh: list, prefixes: list) -> list:
    """Pure-Python twin of ``minhash_signature`` over a shingle list:
    ``_py_minhash_digests`` with each winner hexed once."""
    return [d.hex() for d in _py_minhash_digests(sh, prefixes)]


def _sh_sig_kernel(id_col: str, text_col: str, k: int, n_hashes: int):
    """mapInPandas body emitting ``(id, sh, sig)`` in ONE pass — the
    batch kernel behind ``minhash_near_duplicates``. Null text mirrors
    the expression tree's null algebra: ``sh = [NULL]`` (the
    ``shingles`` expression yields a one-null array) and a length-n
    all-NULL sig."""
    import pandas as pd

    prefixes = [f"{s}|".encode() for s in range(1, n_hashes + 1)]

    def kernel(batches):
        for pdf in batches:
            shs, sigs = [], []
            for t in pdf[text_col]:
                if not isinstance(t, str):
                    shs.append([None])
                    sigs.append([None] * n_hashes)
                    continue
                sh = _py_shingles(t, k)
                shs.append(sh)
                sigs.append(_py_minhash(sh, prefixes))
            yield pd.DataFrame({"id": pdf[id_col], "sh": shs, "sig": sigs})

    return kernel


def contamination_fingerprint(text: Column) -> Column:
    """Benchmark-decontamination fingerprint: md5 of the normalized
    64-char prefix (lowercase, whitespace-collapsed) — the standard
    near-exact key. ONE definition shared by the batch decontamination
    audit (queries/dedup_q.py::dedup_decontaminate) and the crawl
    admission gate (streaming/crawl.py), so the two can never drift."""
    return F.md5(
        F.encode(
            F.substring(F.lower(F.regexp_replace(text, r"\s+", " ")), 1, 64),
            "UTF-8",
        )
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two *distinct-element* arrays, in double."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a).cast("double") + F.size(b).cast("double") - inter
    return inter / union


def overlap_coefficient(a: Column, b: Column) -> Column:
    """Overlap (Szymkiewicz-Simpson) coefficient over two
    *distinct-element* arrays: |A∩B| / min(|A|, |B|) — the containment of
    the smaller set in the larger. Near 1.0 when one document is an
    EXCERPT of another, a case Jaccard under-scores (a 100-token quote
    inside a 10k-token doc has Jaccard ≈ 0.01 but containment 1.0)."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    return inter / F.least(F.size(a).cast("double"), F.size(b).cast("double"))


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    materialize: bool = True,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    Returns (a_id, b_id, jaccard) for candidate pairs sharing >=1 LSH band
    whose true shingle Jaccard >= threshold.

    ``max_bucket_size`` bounds the worst case: a degenerate band bucket
    (e.g. one boilerplate string duplicated millions of times) would emit
    O(|bucket|²) pairs from one task. Buckets over the cap switch from
    all-pairs to *star* expansion — the bucket's min id is paired with
    every other member, O(|bucket|) pairs — so per-task pair fan-out is
    bounded at O(cap²) regardless of corpus skew, and nothing is dropped
    silently: every over-cap member still reaches the Jaccard verify via
    its representative, and downstream ``connected_components`` recovers
    the full cluster transitively. (A band collision only pins 2 of 16
    minhashes, so over-cap members are *usually*, not provably,
    near-identical — star keeps recall at cluster granularity where a
    wholesale drop would silently lose it.)

    The cap bounds MEMORY as well as fan-out: bucket sizes and min-id
    representatives are computed FIRST with count/min aggregates (both
    partial-combine map-side — no arrays, skew-immune), and only
    under-cap buckets ever run ``collect_set`` — so a mega-bucket never
    materializes its full member-id array in one aggregation buffer (at
    10⁸ identical boilerplate docs that array alone would be multi-GB in
    a single task). Over-cap buckets take a dedicated star pass that is
    pure narrow row traffic: (rep, member) pairs straight off the
    size-routed join, no aggregation at all.

    ``materialize`` snapshots the one (id, shingles, signature) kernel
    table before fan-out: it feeds five consumer subtrees (both sides
    of the Jaccard verify join, and the banding that the size
    aggregate + two routed passes each re-derive as a narrow map), and
    Spark does not share subplans across a join, so an unmaterialized
    plan re-runs the kernel once per consumer. This is the
    staged-materialization practice of production dedup pipelines — at
    cluster scale the same role is played by writing the
    shingle/signature table to storage once (localCheckpoint is the
    in-session form; it costs a recompute on executor loss, which a
    real pipeline avoids by checkpointing to reliable storage).
    ``materialize=False`` keeps the plan pure-lazy (no jobs at call
    time) at the price of re-evaluating the kernel once per consumer —
    use it only for plan inspection or trivially small inputs.
    """
    rows_per_band = n_hashes // bands
    # ONE Arrow-batched Python kernel pass computes shingles AND the
    # minhash signature per doc (round 15 — _sh_sig_kernel: C-backed
    # md5 instead of the interpreted shingles/minhash_signature Catalyst
    # lambdas, so the one expensive pass runs at native speed; the
    # previous shape checkpointed shingles alone and still re-ran the
    # signature lambdas on top).
    # The input's partitioning is the CALLER's contract: this operator
    # does not widen. Round 15 measured a bare widen TRIPLING the small
    # fixed-size planted corpora; round 16 re-tested widen WITH a
    # row-count-adaptive post-checkpoint narrow (the fix for the
    # inherited-partition poison) and it STILL lost interleaved —
    # minhash_lsh ×1.3, simhash ×1.36, curation flat (OPTIMIZATION_r16.md):
    # the widen shuffle + extra count job cost more than the kernel
    # parallelism buys at these batch sizes. Corpus-scale callers widen
    # their own input, as index/dedupidx.py's kernels do internally.
    id_type = df.schema[id_col].dataType
    kernel_schema = T.StructType(
        [
            T.StructField("id", id_type, True),
            T.StructField("sh", T.ArrayType(T.StringType()), True),
            T.StructField("sig", T.ArrayType(T.StringType()), True),
        ]
    )
    base = df.select(id_col, text_col).mapInPandas(
        _sh_sig_kernel(id_col, text_col, shingle_k, n_hashes), kernel_schema
    )
    if materialize:
        base = base.localCheckpoint(eager=True)
    # Bucket-grouped pair expansion, NOT a self-join: a self-join would
    # evaluate the kernel subtree twice (Spark doesn't share subplans
    # across join sides) and shuffle `banded` twice. The narrow banded
    # (id, band, key) table is snapshotted too — the count-first
    # routing reads it three times (size aggregate, under route, star
    # route), and re-deriving it from the base snapshot would re-read
    # the wide shingle arrays each time (A/B: +0.25 s on the 300-doc
    # bench corpus).
    banded = base.select(
        "id", F.explode(lsh_band_keys(F.col("sig"), bands, rows_per_band)).alias("bk")
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    if materialize:
        banded = banded.localCheckpoint(eager=True)
    # Count-first routing: bucket sizes/representatives via count+min
    # (map-side partial combine, no arrays) BEFORE any collect, so a
    # mega-bucket never materializes its member-id array in one buffer.
    # The over-cap bucket list is intrinsically TINY — each over-cap
    # bucket implies ≥ cap near-identical docs, so their count is
    # bounded by corpus_size / cap (at 10⁹ docs and cap 1000 that is
    # ≤ 10⁶ rows, tens of MB) — so both routing joins broadcast it and
    # the star pass costs ZERO extra shuffles.
    over = (
        banded.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("__n"), F.min("id").alias("__rep"))
        .filter(F.col("__n") > max_bucket_size)
        .select("band", "key", "__rep")
    )
    # `over` feeds TWO broadcast joins below with different projections,
    # which defeats ReuseExchange — unsnapshotted, the corpus-scale
    # count/min aggregate over `banded` would execute once per consumer.
    # The table itself is the tiny over-cap bucket list, so the snapshot
    # is cheap.
    if materialize:
        over = over.localCheckpoint(eager=True)
    ids = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.size(ids) - 1),
            lambda i: F.transform(
                F.slice(ids, i + 1, F.size(ids) - i),
                lambda other: F.struct(
                    F.element_at(ids, i).alias("a_id"), other.alias("b_id")
                ),
            ),
        )
    )
    # Under-cap route: strip over-cap buckets (broadcast anti-join),
    # then the bounded collect + sorted all-pairs expansion.
    cand_under = (
        banded.join(
            F.broadcast(over.select("band", "key")), ["band", "key"], "left_anti"
        )
        .groupBy("band", "key")
        .agg(F.array_sort(F.collect_set("id")).alias("ids"))
        .filter(F.size(ids) > 1)
        .select(F.explode(pair_structs).alias("p"))
        .select("p.a_id", "p.b_id")
    )
    # Over-cap star pass: (min-id representative, member) pairs straight
    # off the broadcast routing join — narrow rows, zero aggregation
    # buffers, zero shuffles.
    cand_over = (
        banded.join(F.broadcast(over), ["band", "key"])
        .filter(F.col("id") != F.col("__rep"))
        .select(F.col("__rep").alias("a_id"), F.col("id").alias("b_id"))
    )
    candidates = cand_under.unionByName(cand_over).distinct()
    sh_a = base.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b"))
    verified = (
        candidates.join(sh_a, "a_id")
        .join(sh_b, "b_id")
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("a_id", "b_id", "jaccard")
    )
    return verified


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 1,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact all-pairs n-gram Jaccard >= threshold (broadcast baseline —
    O(n²); the oracle/verifier for the MinHash path)."""
    base = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_k).alias("sh")
    )
    a = base.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b"))
    return (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("a_id", "b_id", "jaccard")
    )


#: SQL expression: array of per-token 60-bit hashes (md5 hex → bigint).
_TOK_HASHES_SQL = (
    r"transform(split(trim({text}), '\\s+'), "
    "t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"
)

#: SQL expression: SimHash from a precomputed hash array column — per-bit
#: signed vote over tokens, then bit assembly. Written as SQL because the
#: Python shiftright/shiftleft wrappers only take literal shift amounts,
#: while the SQL functions accept column expressions.
_SIMHASH_FROM_HASHES_SQL = (
    "aggregate(zip_with("
    "transform(sequence(0, 59), b -> aggregate({hashes}, 0, "
    "(acc, h) -> acc + cast(((shiftright(h, b) & 1) * 2 - 1) as int))), "
    "sequence(0, 59), "
    "(v, b) -> IF(v > 0, shiftleft(cast(1 as bigint), b), cast(0 as bigint))), "
    "cast(0 as bigint), (acc, x) -> acc + x)"
)


def simhash64(text_expr: str) -> Column:
    """60-bit SimHash over whitespace tokens of the column named by
    ``text_expr``. Token hashes are computed once per row; the 60-way bit
    vote runs over that array. This is the pure-expression form — kept
    as the equivalence reference; the hot path is ``_py_simhash`` (the
    round-16 Arrow kernel twin, pinned byte-identical in
    tests/test_operators.py)."""
    hashes = _TOK_HASHES_SQL.format(text=text_expr)
    return F.expr(_SIMHASH_FROM_HASHES_SQL.format(hashes=hashes))


#: Bit positions of the 60-bit SimHash vote, shared by every call.
_SIMHASH_SHIFTS = np.arange(60, dtype=np.int64)


def _py_simhash(text, memo: dict) -> int | None:
    """Pure-Python twin of ``simhash64``: 60-bit fingerprint from the
    per-token md5-prefix hashes, with the bit votes weighted by token
    occurrence count (the expression votes once per occurrence; grouping
    by distinct token and multiplying by its count is the same sum).
    Tokenization is the Java ``\\s`` ASCII class over a space-only trim,
    trailing empties kept — the ``_py_shingles`` pinning. Null/non-str
    text mirrors the expression's null algebra: the NULL token-hash
    array makes every per-bit vote NULL, ``IF(NULL > 0, …, 0)`` takes
    the zero branch, and the bit sum folds to **0** (pinned in
    tests/test_operators.py::test_py_simhash_matches_expression)."""
    if not isinstance(text, str):
        return 0
    votes = np.zeros(60, dtype=np.int64)
    for tok, cnt in Counter(_JAVA_WS_RE.split(text.strip(" "))).items():
        h = memo.get(tok)
        if h is None:
            # first 15 hex chars of md5 == the expression's
            # conv(substring(md5(t), 1, 15), 16, 10) — a 60-bit value
            h = int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
            memo[tok] = h
        votes += cnt * (2 * ((h >> _SIMHASH_SHIFTS) & 1) - 1)
    return int(((votes > 0).astype(np.int64) << _SIMHASH_SHIFTS).sum())


def _simhash_kernel(id_col: str, text_col: str):
    """mapInPandas body for the SimHash fingerprint pass: whole Arrow
    batches of (id, text) → (id, sim) through C-backed ``hashlib`` —
    the guide-§4.2 move the minhash kernel proved in round 15 (the
    ``_SIMHASH_FROM_HASHES_SQL`` expression is 60 interpreted
    ``aggregate`` lambdas per document). A per-task token memo turns
    ~1 md5/occurrence into ~1 md5/distinct-token (natural-language
    batches repeat tokens heavily), identical output — md5 is pure."""
    import pandas as pd

    def kernel(batches):
        memo: dict = {}
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf[id_col],
                    "sim": pd.array(
                        [_py_simhash(t, memo) for t in pdf[text_col]],
                        dtype="Int64",
                    ),
                }
            )

    return kernel


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    materialize: bool = True,
) -> DataFrame:
    """SimHash pairs within a Hamming radius. Candidate generation blocks
    on 4 × 15-bit sub-fingerprints (pigeonhole: any pair within Hamming 3
    shares at least one of 4 blocks exactly) — the scalable shape; the
    final Hamming check is exact via bit_count(xor).

    The fingerprint pass runs as ONE Arrow-batched Python kernel over
    (id, text) (round 16 — the same §4.2 recipe as the round-15 minhash
    kernel; ``_py_simhash`` pins byte-equivalence to the ``simhash64``
    expression on adversarial inputs in tests/test_operators.py).
    ``materialize`` snapshots the (id, sim) table before the self-join —
    the l/r sides are separate subtrees, so an unmaterialized plan runs
    the fingerprint pass twice (the ``minhash_near_duplicates``
    staged-materialization practice); the snapshot is 16 bytes/doc."""
    id_type = df.schema[id_col].dataType
    base = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
        _simhash_kernel(id_col, text_col),
        T.StructType(
            [
                T.StructField("id", id_type, True),
                T.StructField("sim", T.LongType(), True),
            ]
        ),
    )
    if materialize:
        # caller-partitioning contract, same as minhash_near_duplicates
        # (the round-16 widen+narrow A/B lost here too — see the note
        # there)
        base = base.localCheckpoint(eager=True)
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
    return (
        l.join(
            r,
            (F.col("l.block") == F.col("r.block"))
            & (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("a_id"),
            F.col("r.id").alias("b_id"),
            F.bit_count(F.col("l.sim").bitwiseXOR(F.col("r.sim"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a duplicate-pair edge list → the
    canonical "duplicate clusters" step after any pairwise dedup pass
    (a~b and b~c must collapse into ONE cluster even when a~c was never
    emitted as a pair).

    Returns (id, component) for every node appearing in ``edges``, where
    ``component`` is the minimum node id of the cluster (the survivor a
    keep-first policy retains).

    Algorithm: iterative min-label propagation — each round every node
    takes the min of its own label and its neighbors' labels; converges
    in O(diameter) rounds. Duplicate clusters have tiny diameters (near-
    dup relations are locally dense), so the loop exits after 2-3 rounds
    in practice, and ``max_iter`` bounds the adversarial case. Each
    round is one shuffle of the (symmetrized) edge list; labels are
    re-materialized per round (localCheckpoint) so lineage stays flat.
    Convergence is detected by a label-set signature (count + bit_xor of
    xxhash64(id, comp) — the star variant's trick): one tiny agg over
    the just-checkpointed labels instead of a join+count of new vs old,
    saving a join job per round. At extreme scale use
    ``connected_components_star`` (same contract, O(log n) rounds
    regardless of diameter).
    """
    sym = edges.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).unionByName(edges.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst")))
    sym = sym.distinct().localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
        .localCheckpoint(eager=True)
    )
    def _sig(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(id, comp))").alias("h"),
        ).head()
        return (row["n"], row["h"])

    prev_sig = _sig(labels)
    for _ in range(max_iter):
        nbr = sym.join(labels, sym["dst"] == labels["id"]).select(
            F.col("src").alias("id"), F.col("comp")
        )
        labels = (
            labels.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"))
            .localCheckpoint(eager=True)
        )
        sig = _sig(labels)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # max_iter exhausted with labels still moving: clusters whose
        # diameter exceeds max_iter would be returned split. Loudly fail
        # rather than hand back wrong clusters with no signal.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "raise max_iter or switch to the large-star/small-star "
            "variant for high-diameter graphs"
        )
    return labels


def connected_components_star(
    edges: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the extreme-scale twin of ``connected_components``: the
    same (id, comp=min id of cluster) contract, but convergence in
    O(log n) rounds REGARDLESS of graph diameter, where min-label
    propagation needs O(diameter) rounds (a 10^6-hop chain of near-dup
    docs is pathological there and routine here).

    Per round (two narrow groupBy-min shuffles of the edge list):

    * large-star: every node u computes m = min(Γ(u) ∪ {u}) over its
      full neighborhood and re-points each LARGER neighbor v > u at m;
    * small-star: on edges held larger→smaller, u re-points its smaller
      neighbors (and itself) at their minimum.

    The fixed point is a forest of stars — every node points straight at
    its component's minimum id. Convergence is detected by an edge-set
    signature (count + bit_xor of xxhash64): one tiny agg per round
    instead of a set-difference join.
    """
    e = (
        edges.select(
            F.col(a_col).cast("long").alias("u"),
            F.col(b_col).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
    )
    # node set from the RAW edges, not the self-loop-filtered ones: the
    # contract is one row per node APPEARING in edges, and a node whose
    # only edge is a self-loop is its own singleton cluster (caught by
    # the union-find property test in tests/test_properties.py)
    nodes = (
        edges.select(F.col(a_col).cast("long").alias("id"))
        .unionByName(edges.select(F.col(b_col).cast("long").alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    cur = (
        e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    prev_sig = None
    for _ in range(max_iter):
        # --- large-star ---
        sym = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        ls = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # --- small-star (edges normalized larger-first; all v < u) ---
        ss_in = (
            ls.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        mins2 = ss_in.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ss_in.join(mins2, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        sig_row = ss.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).head()
        cur = ss
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} "
            "rounds — not expected for any graph of < 2^50 nodes; check "
            "the edge list for pathological input"
        )
    parents = cur.select(F.col("u").alias("id"), F.col("v").alias("comp"))
    return nodes.join(parents, "id", "left").select(
        "id", F.coalesce("comp", "id").alias("comp")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 1,
    threshold: float = 0.9,
) -> DataFrame:
    """Exact all-pairs overlap-coefficient >= threshold (broadcast
    baseline — O(n²), the excerpt-detection twin of ngram_jaccard_pairs;
    at scale the candidate pairs come from the MinHash/LSH path and only
    the containment VERIFY step uses this formula)."""
    base = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_k).alias("sh")
    )
    a = base.select(F.col("id").alias("a_id"), F.col("sh").alias("sh_a"))
    b = base.select(F.col("id").alias("b_id"), F.col("sh").alias("sh_b"))
    return (
        a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .withColumn("containment", overlap_coefficient(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("containment") >= F.lit(threshold))
        .select("a_id", "b_id", "containment")
    )


def semantic_dedup(
    corpus: DataFrame,
    centroids: list[list[float]],
    sim_threshold: float,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
    max_cluster_size: int = 1000,
    materialize: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then within each
    cluster drop every item whose cosine similarity to a LOWER-id item
    reaches ``sim_threshold`` (deterministic keep-first policy — the
    paper keeps one representative per semantic near-dup group; keep-
    first makes that choice reproducible and oracle-checkable).

    Returns (id_col, cluster, kept) for EVERY corpus row — callers
    filter ``kept`` to materialize the pruned corpus.

    ``max_cluster_size`` bounds the worst case exactly like the MinHash
    path's ``max_bucket_size`` (``minhash_near_duplicates`` above): a
    degenerate cluster — mass near-dup boilerplate, precisely what
    SemDeDup targets — would emit O(|cluster|²) pairs from one key.
    Clusters over the cap switch from all-pairs to *star* policy: every
    member is compared against the cluster's min-id representative only,
    O(|cluster|) comparisons, and is dropped iff its similarity to that
    representative reaches the threshold. Nothing is dropped silently —
    every over-cap member is still similarity-checked (via the
    representative), and because a degenerate cluster is by construction
    a near-dup clique, rep-similarity transitively stands in for
    lower-id-similarity at cluster granularity (the same recall argument
    as the MinHash star expansion; tests/test_properties.py measures
    kept-set agreement between the capped and uncapped paths on a skewed
    corpus). The capped policy is itself oracle-checked — the
    dedup_semantic_prune oracle encodes the same size switch.

    Plan shape: cluster assignment is an ``array_min`` over per-centroid
    squared-L2 structs (struct ordering = argmin with ties to the
    smallest centroid index) — pure JVM expressions, bit-reproducible
    against the SQL oracle's window-rank form. Pairs are generated
    per-cluster only (the bucketed-pairs discipline; never global
    O(n²)). Cluster sizes/representatives are one count/min aggregate
    over the bounded centroid count — a tiny broadcastable table, and
    both the size routing and the over-cap rep comparison are broadcast
    joins. ``materialize`` snapshots the assigned table once so the
    centroid-distance expression is not re-evaluated per consumer
    (size agg, both pair sides, over-cap pass, final join-back — the
    staged-materialization practice from ``minhash_near_duplicates``).

    At 100 TB the assignment runs once at layout-build time (this IS the
    IVF cell assignment — index/ivf.py stores it as the partition
    column), so semantic dedup is one per-cell pair pass over an
    existing layout plus an anti-join on the dropped ids (left join
    below — AQE picks broadcast when the dropped set is small and a
    shuffle join when, as in a heavy-dup corpus, it is not); the
    expression-literal centroid form here is the oracle-exact policy
    layer for a bounded centroid count."""
    from ..functions.vector import cosine_similarity, l2_distance_sq, vector_literal

    if not centroids:
        raise ValueError("centroids must be non-empty")
    structs = F.array(
        *[
            F.struct(
                l2_distance_sq(F.col(vector_col), vector_literal(c)).alias("d"),
                F.lit(ci).alias("c"),
            )
            for ci, c in enumerate(centroids)
        ]
    )
    assigned = corpus.select(
        F.col(id_col), F.col(vector_col), F.array_min(structs)["c"].alias("cluster")
    )
    if materialize:
        assigned = assigned.localCheckpoint(eager=True)
    # (cluster, size, min-id representative): row count ≤ len(centroids),
    # and count/min both partial-combine map-side — skew-immune however
    # degenerate the cluster. Snapshotted so its TWO consumers below
    # (under-cap key route, over-cap rep route) don't each re-scan the
    # corpus-scale assigned table to rebuild the same tiny aggregate.
    sizes = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("__n"), F.min(id_col).alias("__rep")
    )
    if materialize:
        sizes = sizes.localCheckpoint(eager=True)
    under_keys = F.broadcast(
        sizes.filter(F.col("__n") <= max_cluster_size).select("cluster")
    )
    a = assigned.join(under_keys, "cluster").select(
        F.col("cluster"),
        F.col(id_col).alias("a_id"),
        F.col(vector_col).alias("a_vec"),
    )
    b = assigned.join(under_keys, "cluster").select(
        F.col("cluster"),
        F.col(id_col).alias("b_id"),
        F.col(vector_col).alias("b_vec"),
    )
    dropped_under = (
        a.join(b, ["cluster"])
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            cosine_similarity(F.col("a_vec"), F.col("b_vec"))
            >= F.lit(float(sim_threshold))
        )
        .select(F.col("b_id").alias(id_col))
    )
    # Over-cap clusters: star policy — each member vs the min-id
    # representative only. The rep table (cluster, rep id, rep vector)
    # has ≤ len(centroids) rows: fetch the vectors with one broadcast
    # equi-join and ride them to every member via a second broadcast.
    reps = assigned.select(
        F.col(id_col).alias("__rep"), F.col(vector_col).alias("__rep_vec")
    ).join(
        F.broadcast(sizes.filter(F.col("__n") > max_cluster_size)), "__rep"
    )
    dropped_over = (
        assigned.join(F.broadcast(reps), "cluster")
        .filter(F.col(id_col) != F.col("__rep"))
        .filter(
            cosine_similarity(F.col(vector_col), F.col("__rep_vec"))
            >= F.lit(float(sim_threshold))
        )
        .select(F.col(id_col))
    )
    dropped = (
        dropped_under.unionByName(dropped_over)
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return assigned.join(dropped, id_col, "left").select(
        id_col, "cluster", F.col("__dropped").isNull().alias("kept")
    )


def corpus_line_dedup(
    docs: DataFrame,
    tokens_per_line: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style GLOBAL duplicate-line removal: split every document into
    fixed token-window "lines" and keep only the globally-first
    occurrence of each distinct line — first by document id, then by
    position within the document (C4 deduplicated its corpus at the
    line/span level across ALL documents, not per-document; the
    reference has only the per-result content[:50] dedup,
    src/app.py:291-299 — this is the corpus-curation generalization).

    Returns surviving ``(id, line_no, line)`` rows; callers reassemble
    the cleaned text with ``array_join(collect_list(...))`` ordered by
    ``line_no``, or compute kept/total per document by joining a
    ``groupBy(id).count()`` over the pre-dedup exploded lines (the
    total-lines side is per-document, not derivable from survivors —
    a fully-duplicate document keeps zero rows here).

    Scale: ONE shuffle, keyed by the line text (short fixed-token
    strings), and the keep-first policy is a ``min(struct(id, line_no))``
    AGGREGATE, not a window: min has a map-side partial combine, so each
    input partition contributes at most one candidate per distinct line
    to the shuffle and a boilerplate line occurring in half the corpus
    (the exact heavy hitter this operator exists for) costs the reducer
    O(partitions), never O(occurrences) — the window form would sort the
    full occurrence list of the hottest line in one task. The struct
    ordering is lexicographic (id, then line_no) — deterministic global
    first-occurrence under any partitioning, unlike ``dropDuplicates``
    whose survivor is arbitrary."""
    lines = docs.select(
        id_col,
        F.posexplode(token_windows(F.col(text_col), tokens_per_line)).alias(
            "line_no", "line"
        ),
    )
    return (
        lines.groupBy("line")
        .agg(
            F.min(F.struct(F.col(id_col), F.col("line_no"))).alias("__w")
        )
        .select(
            F.col(f"__w.{id_col}").alias(id_col),
            F.col("__w.line_no").alias("line_no"),
            "line",
        )
    )


def line_dedup_kept_stats(
    docs: DataFrame,
    tokens_per_line: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document survival statistics for ``corpus_line_dedup``: one row
    per input document with ``(id, n_lines, kept_lines, kept_frac)`` —
    the curation-report side of C4-style line dedup (how much of each
    document is corpus-globally novel). Documents whose every line first
    occurred elsewhere keep zero rows in the survivor set, so the totals
    side must come from the PRE-dedup corpus; this is the join-back
    pattern the ``corpus_line_dedup`` docstring describes, packaged.

    Scale: the totals side is ``size(token_windows(text))`` — a per-row
    expression, NO second explode and no aggregation, because
    ``token_windows`` always yields >=1 window so the array length IS the
    exploded line count. Survivor counts reuse the one line-keyed shuffle
    inside ``corpus_line_dedup`` plus a per-document count (map-side
    partial combine on a unique-ish key — skew-free). The final join is
    keyed by the unique document id, which AQE handles like any ordinary
    equi-join."""
    totals = docs.select(
        F.col(id_col),
        F.size(token_windows(F.col(text_col), tokens_per_line))
        .cast("long")
        .alias("n_lines"),
    )
    kept = (
        corpus_line_dedup(docs, tokens_per_line, id_col, text_col)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("kept_lines"))
    )
    zero = F.lit(0).cast("long")
    return totals.join(kept, id_col, "left").select(
        F.col(id_col),
        F.col("n_lines"),
        F.coalesce(F.col("kept_lines"), zero).alias("kept_lines"),
        (
            F.coalesce(F.col("kept_lines"), zero).cast("double")
            / F.col("n_lines").cast("double")
        ).alias("kept_frac"),
    )


def dup_span_stats(
    docs: DataFrame,
    n: int = 13,
    id_col: str = "doc_id",
    text_col: str = "text",
    materialize: bool = True,
) -> DataFrame:
    """Duplicate n-gram SPAN statistics (the detection half of exact
    substring deduplication, Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better" — their dedup unit is the
    50-token span; 13 is the classic contamination n-gram size): every
    OVERLAPPING n-token window of every document, counted globally; a
    span position is "duplicated" if its text occurs more than once in
    the corpus (cross-document boilerplate or within-document
    repetition). Returns per-document ``(id, n_spans, dup_spans,
    dup_frac)`` for documents with at least one full window.

    Scale: no pairwise joins on documents anywhere — the global-count
    formulation is what makes exact substring-level dedup tractable at
    100 TB where pairwise comparison is not. Span occurrences collapse
    to (doc, span, count) FIRST (count has a map-side partial combine,
    so within-doc repetition never inflates the shuffle); the
    corpus-wide count is then a groupBy(span) SUM joined back on span —
    NOT a window over span: a window partition cannot be skew-split by
    AQE, so one ultra-hot boilerplate span (present in millions of
    documents) would land its whole collapsed row set in a single task,
    whereas the aggregate partial-combines map-side and the join-back is
    an ordinary shuffle join AQE splits on skew. ``materialize``
    snapshots the collapsed (doc, span, count) table once so the explode
    is not evaluated on both join sides (the staged-materialization
    practice from ``minhash_near_duplicates``). Per-doc fractions are
    one final aggregate."""
    toks = _ws_tokens(F.col(text_col))

    def per_toks(t: Column) -> Column:
        starts = F.sequence(F.lit(1), F.size(t) - (n - 1))
        return F.transform(starts, lambda i: F.array_join(F.slice(t, i, n), " "))

    spans = docs.filter(F.size(toks) >= n).select(
        id_col,
        F.explode(
            F.element_at(F.transform(F.array(toks), per_toks), 1)
        ).alias("span"),
    )
    per_doc_span = spans.groupBy(id_col, "span").agg(
        F.count(F.lit(1)).alias("__c")
    )
    if materialize:
        per_doc_span = per_doc_span.localCheckpoint(eager=True)
    span_totals = per_doc_span.groupBy("span").agg(F.sum("__c").alias("__cs"))
    return (
        per_doc_span.join(span_totals, "span")
        .groupBy(id_col)
        .agg(
            F.sum("__c").alias("n_spans"),
            F.sum(
                F.when(F.col("__cs") > 1, F.col("__c")).otherwise(F.lit(0))
            ).alias("dup_spans"),
        )
        .withColumn(
            "dup_frac",
            F.round(F.col("dup_spans").cast("double") / F.col("n_spans"), 6),
        )
    )
