"""Deduplication query inventory (north-star operators).

The synthetic corpus has no natural duplicates (all 500 texts distinct),
so exact/minhash/simhash queries plant duplicates *in-plan* — deriving a
perturbed copy of the corpus inside the query, identically on both
engines — while the n-gram-Jaccard and embedding-cosine queries run on
the natural similarity structure of the data.

Every dedup query is oracle-checkable because the hash family is md5
(engine-portable): DuckDB's ``('0x'||substring(md5(t),1,N))::BIGINT``
equals Spark's ``conv(substring(md5(t),1,N),16,10)``, which covers even
SimHash's 60-bit fingerprint arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import (
    connected_components,
    exact_dup_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_near_duplicates,
)
from ..operators.knn import similarity_self_join
from ..sources.tables import load_table
from .registry import register

#: Shared in-plan duplicate plantings (must match the SQL CTEs verbatim).
_PLANT_SUFFIX = " zzq zzw zzr"
_PLANT_SUFFIX2 = " zzx zzy zzz"


def _planted_corpus(spark: SparkSession, sf_dir: str, limit_id: int = 150) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < limit_id)
    variant = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_PLANT_SUFFIX)).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(variant)


_SHINGLE_SQL = (
    "list_distinct(list_transform(range(1, greatest(len(toks) - 2, 1) + 1), "
    "i -> array_to_string(toks[i:i+2], ' ')))"
)


@register(
    "dedup_exact_groups",
    oracle="""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS id, upper(text) AS text FROM documents
),
k AS (SELECT id, md5(lower(text)) AS dup_key FROM corpus)
SELECT dup_key, count(*)::BIGINT AS group_size, min(id) AS representative
FROM k GROUP BY dup_key HAVING count(*) > 1
""",
    tags=("dedup", "exact"),
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalization-key hash-groupBy: corpus ∪ uppercased
    copy → every doc forms a group of 2 under md5(lower(text)). At scale
    this is one shuffle on the 16-byte key — the cheapest dedup there is."""
    docs = load_table(spark, sf_dir, "documents")
    variant = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), F.upper("text").alias("text")
    )
    corpus = docs.select("doc_id", "text").unionByName(variant)
    return exact_dup_groups(corpus, F.md5(F.lower(F.col("text"))), id_col="doc_id")


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 100000 AS id, text || '{_PLANT_SUFFIX}' AS text
  FROM documents WHERE doc_id < 150
),
base AS (
  SELECT id, {_SHINGLE_SQL} AS sh
  FROM (SELECT id, string_split_regex(trim(text), '\\s+') AS toks FROM corpus)
),
sig AS (
  SELECT id, sh,
         list_transform(range(1, 17),
           s -> list_min(list_transform(sh, x -> md5(s::VARCHAR || '|' || x)))) AS sg
  FROM base
),
banded AS (
  SELECT id, b::INTEGER AS band,
         md5(array_to_string(sg[(b*2+1):(b*2+2)], '')) AS key
  FROM sig CROSS JOIN generate_series(0, 7) AS g(b)
),
cand AS (
  SELECT DISTINCT l.id AS a_id, r.id AS b_id
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.id < r.id
),
v AS (
  SELECT a_id, b_id,
         len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))::DOUBLE
           / (len(sa.sh) + len(sb.sh)
              - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) AS j
  FROM cand
  JOIN base sa ON cand.a_id = sa.id
  JOIN base sb ON cand.b_id = sb.id
)
SELECT a_id, b_id, round(j, 6) AS jaccard FROM v WHERE j >= 0.6
""",
    tags=("dedup", "minhash", "lsh"),
    bench=True,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: 3-gram shingles → 16-hash md5 minhash
    signature → 8 bands × 2 rows → bucket-join candidates → exact-Jaccard
    verify at 0.6. The planted variants (3 appended tokens) sit at
    j≈0.67–0.94; unrelated word-soup pairs fall far below."""
    corpus = _planted_corpus(spark, sf_dir)
    pairs = minhash_near_duplicates(
        corpus,
        text_col="text",
        id_col="doc_id",
        shingle_k=3,
        n_hashes=16,
        bands=8,
        threshold=0.6,
    )
    return pairs.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


@register(
    "dedup_ngram_jaccard",
    oracle="""
WITH t AS (
  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS sh
  FROM documents WHERE doc_id < 150
),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         len(list_filter(a.sh, x -> list_contains(b.sh, x)))::DOUBLE
           / (len(a.sh) + len(b.sh)
              - len(list_filter(a.sh, x -> list_contains(b.sh, x)))) AS j
  FROM t a JOIN t b ON a.doc_id < b.doc_id
)
SELECT a_id, b_id, round(j, 6) AS jaccard FROM p WHERE j >= 0.8
""",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set (1-gram) Jaccard pairs >= 0.8 on the natural
    corpus — the all-pairs baseline that verifies the LSH path."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    pairs = ngram_jaccard_pairs(
        docs, text_col="text", id_col="doc_id", shingle_k=1, threshold=0.8
    )
    return pairs.select("a_id", "b_id", F.round("jaccard", 6).alias("jaccard"))


@register(
    "dedup_simhash",
    # DuckDB mirrors the full 60-bit fingerprint math: hex→int64 via the
    # ('0x'||…)::BIGINT cast (== Spark's conv(…,16,10)), shifts/votes via
    # list_transform, Hamming via bit_count(xor(…)::BIT). The oracle skips
    # the 4×15-bit blocking on purpose — pigeonhole guarantees blocking is
    # lossless at Hamming <= 3, so all-pairs is an INDEPENDENT check that
    # the blocked path drops nothing.
    oracle=r"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 100000 AS id, text FROM documents WHERE doc_id < 150
),
h AS (
  SELECT id, list_transform(string_split_regex(trim(text), '\s+'),
          t -> ('0x' || substring(md5(t), 1, 15))::BIGINT) AS hs
  FROM corpus
),
sim AS (
  SELECT id,
         list_sum(list_transform(range(0, 60),
           b -> CASE WHEN list_sum(list_transform(hs,
                       x -> ((x >> b) & 1) * 2 - 1)) > 0
                THEN (1::BIGINT << b) ELSE 0::BIGINT END))::BIGINT AS sim
  FROM h
)
SELECT l.id AS a_id, r.id AS b_id,
       bit_count(xor(l.sim, r.sim)::BIT)::INTEGER AS hamming
FROM sim l JOIN sim r ON l.id < r.id
WHERE bit_count(xor(l.sim, r.sim)::BIT) <= 3
""",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit fingerprint, 4×15-bit pigeonhole blocking,
    Hamming <= 3. Planted identical copies land at Hamming 0."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    copy = docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    corpus = docs.select("doc_id", "text").unionByName(copy)
    return simhash_near_duplicates(corpus, max_hamming=3)


#: Most loser ids ``pipeline_corpus_curation`` broadcasts into its
#: anti-join (8-byte ids: ≈ 8 MB); above it the join is left to the
#: planner.
_LOSERS_BROADCAST_MAX = 1_000_000


@register(
    "pipeline_corpus_curation",
    oracle=f"""
WITH raw AS (
  SELECT doc_id AS id, source, text FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 100000 AS id, source, text || '{_PLANT_SUFFIX}' AS text
  FROM documents WHERE doc_id < 200
  UNION ALL
  SELECT doc_id + 200000 AS id, source, upper(text) AS text
  FROM documents WHERE doc_id < 200
),
cleaned AS (
  SELECT id, source,
         trim(regexp_replace(regexp_replace(text, '[^\\w一-鿿\\s.,!?;:，。！？；：]', '', 'g'),
                             '\\s+', ' ', 'g')) AS text
  FROM raw
),
quality AS (
  SELECT * FROM cleaned
  WHERE length(text) >= 10
    AND len(string_split_regex(trim(text), '\\s+')) >= 5
),
exact_w AS (
  SELECT *, row_number() OVER (PARTITION BY md5(lower(text)) ORDER BY id) AS rn
  FROM quality
),
exact_d AS (SELECT id, source, text FROM exact_w WHERE rn = 1),
base AS (
  SELECT id, {_SHINGLE_SQL} AS sh
  FROM (SELECT id, string_split_regex(trim(text), '\\s+') AS toks FROM exact_d)
),
sig AS (
  SELECT id, sh,
         list_transform(range(1, 17),
           s -> list_min(list_transform(sh, x -> md5(s::VARCHAR || '|' || x)))) AS sg
  FROM base
),
banded AS (
  SELECT id, b::INTEGER AS band,
         md5(array_to_string(sg[(b*2+1):(b*2+2)], '')) AS key
  FROM sig CROSS JOIN generate_series(0, 7) AS g(b)
),
cand AS (
  SELECT DISTINCT l.id AS a_id, r.id AS b_id
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.id < r.id
),
neardup AS (
  SELECT DISTINCT b_id
  FROM cand
  JOIN base sa ON cand.a_id = sa.id
  JOIN base sb ON cand.b_id = sb.id
  WHERE len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))::DOUBLE
        / (len(sa.sh) + len(sb.sh)
           - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) >= 0.6
),
curated AS (
  SELECT e.* FROM exact_d e LEFT JOIN neardup n ON e.id = n.b_id
  WHERE n.b_id IS NULL
)
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(len(string_split_regex(trim(text), '\\s+')))::BIGINT AS total_tokens
FROM curated GROUP BY source
""",
    tags=("dedup", "pipeline", "curation"),
    bench=True,
)
def pipeline_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB training-data pipeline as ONE DAG: clean (F1) →
    quality gate (length + token count) → exact dedup (hash-groupBy,
    min-id survivor) → MinHash-LSH near-dedup (drop the higher id of
    each verified pair) → per-source corpus stats. Planted exact
    (uppercased) and near (suffixed) duplicates must all be removed.
    Deterministic end to end — the oracle replays every stage."""
    from ..functions.text import clean_content
    from ..operators.dedup import exact_dedup, minhash_near_duplicates

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    raw = (
        docs.select(F.col("doc_id").alias("id"), "source", "text")
        .unionByName(
            docs.select(
                (F.col("doc_id") + 100000).alias("id"),
                "source",
                F.concat("text", F.lit(_PLANT_SUFFIX)).alias("text"),
            )
        )
        .unionByName(
            docs.select(
                (F.col("doc_id") + 200000).alias("id"),
                "source",
                F.upper("text").alias("text"),
            )
        )
    )
    cleaned = raw.withColumn("text", clean_content(F.col("text")))
    quality = cleaned.filter(
        (F.length("text") >= 10)
        & (F.size(F.split(F.trim("text"), r"\s+")) >= 5)
    )
    exact_d = exact_dedup(quality, F.md5(F.lower("text")), id_col="id")
    # The exact-dedup survivors feed four consumers (minhash shingling,
    # both anti-join sides, the final agg); snapshot once instead of
    # re-running clean→quality→window per consumer. See the materialize
    # note on minhash_near_duplicates — at cluster scale this is "write
    # the curated-stage table once", the normal shape of a staged
    # curation pipeline.
    exact_d = exact_d.localCheckpoint(eager=True)
    pairs = minhash_near_duplicates(
        exact_d, text_col="text", id_col="id",
        shingle_k=3, n_hashes=16, bands=8, threshold=0.6,
    )
    losers = (
        pairs.select(F.col("b_id").alias("id")).distinct().localCheckpoint(eager=True)
    )
    # Broadcast hint (guide §3.1, round 16): the loser set is an
    # aggregated dup-id list — usually small (bounded by the near-dup
    # pair count) — but its size ESTIMATE flows through the whole LSH
    # verify DAG, so the planner used to pick a SortMergeJoin LeftAnti
    # that exchanged AND sorted the checkpointed corpus per run. The
    # hint turns it into a broadcast anti-join: zero corpus movement.
    # It bypasses autoBroadcastJoinThreshold, so it is gated on the
    # MATERIALIZED loser count: a dup-heavy corpus above the gate takes
    # the plain anti-join instead of broadcasting an unbounded id set.
    if losers.count() <= _LOSERS_BROADCAST_MAX:
        losers = F.broadcast(losers)
    curated = exact_d.join(losers, "id", "left_anti")
    return curated.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split(F.trim("text"), r"\s+"))).alias("total_tokens"),
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
WITH s AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
p AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         1.0 - (list_sum(list_transform(range(1, 65),
             i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
           / (sqrt(list_sum(list_transform(range(1, 65),
                i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE)))
              * sqrt(list_sum(list_transform(range(1, 65),
                  i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))))) AS dist
  FROM s a JOIN s b ON a.vec_id < b.vec_id
)
SELECT a_id, b_id, round(dist, 6) AS distance FROM p WHERE dist <= 0.7
""",
    tags=("dedup", "embedding"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine distance <= 0.7, i.e.
    similarity >= 0.3). Exact baseline; the IVF-bucketed variant in
    index.ivf is the 100 TB path."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    pairs = similarity_self_join(emb, max_distance=0.7, metric="cosine")
    return pairs.select("a_id", "b_id", F.round("distance", 6).alias("distance"))


@register(
    "dedup_decontaminate",
    oracle="""
WITH norm AS (
  SELECT doc_id, source,
         md5(substr(lower(regexp_replace(text, '\\s+', ' ', 'g')), 1, 64)) AS fp
  FROM documents
),
bench AS (SELECT DISTINCT fp FROM norm WHERE doc_id % 13 = 0),
train AS (SELECT * FROM norm WHERE doc_id % 13 <> 0)
SELECT source,
       count(*)::BIGINT AS n_train,
       count(*) FILTER (WHERE fp IN (SELECT fp FROM bench))::BIGINT
         AS n_contaminated,
       count(*) FILTER (WHERE fp NOT IN (SELECT fp FROM bench))::BIGINT
         AS n_kept
FROM train GROUP BY source
""",
    tags=("dedup", "decontamination"),
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop training docs whose normalized
    64-char-prefix fingerprint (lowercase, whitespace-collapsed — the
    standard near-exact key) collides with a held-out benchmark set (here
    the doc_id % 13 == 0 slice stands in for the benchmark corpus).

    Scale shape: the benchmark fingerprint set is small and broadcast, so
    the contamination check is a broadcast join over the training corpus
    with NO shuffle of the corpus itself; the per-source audit counts are
    one partial+final aggregation. At 100 TB this is the plan you want —
    the alternative (shuffle-dedup on fingerprint) moves the whole corpus.
    """
    from ..operators.dedup import contamination_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    norm = docs.select(
        "doc_id", "source", contamination_fingerprint(F.col("text")).alias("fp")
    )
    bench = (
        norm.filter(F.col("doc_id") % 13 == 0)
        .select("fp")
        .distinct()
        .withColumn("is_bench", F.lit(1))
    )
    train = norm.filter(F.col("doc_id") % 13 != 0)
    flagged = train.join(F.broadcast(bench), "fp", "left")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(F.when(F.col("is_bench").isNotNull(), 1).otherwise(0)).alias(
            "n_contaminated"
        ),
        F.sum(F.when(F.col("is_bench").isNull(), 1).otherwise(0)).alias("n_kept"),
    )


@register(
    "dedup_duplicate_clusters",
    # Same bit-exact md5 minhash pair generation as dedup_minhash_lsh,
    # over a THREE-level planted corpus (base, +3 tokens, +6 tokens),
    # then a recursive-CTE transitive closure: cluster_id = min reachable
    # id — the independent oracle for the iterative min-label propagation.
    oracle=f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 100000 AS id, text || '{_PLANT_SUFFIX}' AS text
  FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT doc_id + 200000 AS id, text || '{_PLANT_SUFFIX}{_PLANT_SUFFIX2}' AS text
  FROM documents WHERE doc_id < 150
),
base AS (
  SELECT id, {_SHINGLE_SQL} AS sh
  FROM (SELECT id, string_split_regex(trim(text), '\\s+') AS toks FROM corpus)
),
sig AS (
  SELECT id, sh,
         list_transform(range(1, 17),
           s -> list_min(list_transform(sh, x -> md5(s::VARCHAR || '|' || x)))) AS sg
  FROM base
),
banded AS (
  SELECT id, b::INTEGER AS band,
         md5(array_to_string(sg[(b*2+1):(b*2+2)], '')) AS key
  FROM sig CROSS JOIN generate_series(0, 7) AS g(b)
),
cand AS (
  SELECT DISTINCT l.id AS a_id, r.id AS b_id
  FROM banded l JOIN banded r
    ON l.band = r.band AND l.key = r.key AND l.id < r.id
),
pairs AS (
  SELECT a_id, b_id
  FROM cand
  JOIN base sa ON cand.a_id = sa.id
  JOIN base sb ON cand.b_id = sb.id
  WHERE len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))::DOUBLE
          / (len(sa.sh) + len(sb.sh)
             - len(list_filter(sa.sh, x -> list_contains(sb.sh, x)))) >= 0.5
),
sym AS (
  SELECT a_id AS a, b_id AS b FROM pairs
  UNION
  SELECT b_id, a_id FROM pairs
),
nodes AS (SELECT DISTINCT a AS id FROM sym),
reach(id, r) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
),
comp AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
SELECT cluster_id,
       count(*)::BIGINT AS cluster_size,
       max(id) AS max_member
FROM comp GROUP BY cluster_id
""",
    tags=("dedup", "clusters", "graph"),
)
def dedup_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not just pairs: MinHash near-dup pairs over a
    three-level planted corpus (base ~ +3-token variant ~ +6-token
    variant) are closed under transitivity by iterative min-label
    propagation (operators.dedup.connected_components), yielding one row
    per cluster with its keep-first survivor id as cluster_id. This is
    the step every production dedup pipeline needs between "pairs" and
    "drop list" — a~b and b~c must collapse even when a~c was never
    emitted."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    lvl1 = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_PLANT_SUFFIX)).alias("text"),
    )
    lvl2 = docs.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_PLANT_SUFFIX + _PLANT_SUFFIX2)).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(lvl1).unionByName(lvl2)
    pairs = minhash_near_duplicates(
        corpus,
        text_col="text",
        id_col="doc_id",
        shingle_k=3,
        n_hashes=16,
        bands=8,
        threshold=0.5,
    )
    comps = connected_components(pairs)
    return comps.groupBy(F.col("comp").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max("id").alias("max_member"),
    )


@register(
    "dedup_ngram_containment",
    oracle="""
WITH t AS (
  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS sh
  FROM documents WHERE doc_id < 150
),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         len(list_filter(a.sh, x -> list_contains(b.sh, x)))::DOUBLE
           / least(len(a.sh), len(b.sh)) AS c
  FROM t a JOIN t b ON a.doc_id < b.doc_id
)
SELECT a_id, b_id, round(c, 6) AS containment FROM p WHERE c >= 0.97
""",
    tags=("dedup", "containment", "excerpt"),
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set overlap-coefficient pairs >= 0.97 — the
    excerpt-duplication detector Jaccard under-scores (containment of
    the smaller doc in the larger). All-pairs oracle baseline, same
    quarantine as dedup_ngram_jaccard; the scale path is MinHash
    candidates + containment verify."""
    from ..operators.dedup import ngram_containment_pairs

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    pairs = ngram_containment_pairs(
        docs, text_col="text", id_col="doc_id", shingle_k=1, threshold=0.97
    )
    return pairs.select(
        "a_id", "b_id", F.round("containment", 6).alias("containment")
    )


#: Deterministic semantic-dedup centroid sample (same convention as the
#: PQ codebook: a fixed arithmetic id ladder — k-means init without the
#: Lloyd step, because iterated means are not bit-reproducible across
#: engines). 8 centroids, ids present at every test SF.
_SEM_CENTROID_IDS = tuple(7 + 15 * k for k in range(8))

_SEM_DOT = (
    "list_sum(list_transform(range(1, 65), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)
_SEM_L2SQ = (
    "list_sum(list_transform(range(1, 65), "
    "i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) * ({a}[i]::DOUBLE - {b}[i]::DOUBLE)))"
)


#: Cluster-size cap pinned in BOTH the Spark call and the oracle below:
#: the star policy for over-cap clusters is itself hash-checked, so the
#: capped path stays oracle-exact at every SF, including ones where the
#: cap actually triggers (operators/dedup.py::semantic_dedup).
_SEM_CLUSTER_CAP = 1000

@register(
    "dedup_semantic_prune",
    oracle=f"""
WITH c AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, embedding AS cv
  FROM embeddings WHERE vec_id IN {_SEM_CENTROID_IDS}
),
d AS (
  SELECT e.vec_id, c.cidx,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {_SEM_L2SQ.format(a='e.embedding', b='c.cv')}, c.cidx
         ) AS rn
  FROM embeddings e CROSS JOIN c
),
a AS (SELECT vec_id, cidx AS cluster FROM d WHERE rn = 1),
sz AS (
  SELECT cluster, count(*) AS n, min(vec_id) AS rep FROM a GROUP BY cluster
),
dropped AS (
  -- under-cap clusters: keep-first vs ANY lower-id member
  SELECT DISTINCT y.vec_id AS b_id
  FROM a x JOIN a y ON x.cluster = y.cluster AND x.vec_id < y.vec_id
  JOIN sz ON sz.cluster = x.cluster
  JOIN embeddings ex ON ex.vec_id = x.vec_id
  JOIN embeddings ey ON ey.vec_id = y.vec_id
  WHERE sz.n <= {_SEM_CLUSTER_CAP}
    AND {_SEM_DOT.format(a='ex.embedding', b='ey.embedding')}
        / (sqrt({_SEM_DOT.format(a='ex.embedding', b='ex.embedding')})
           * sqrt({_SEM_DOT.format(a='ey.embedding', b='ey.embedding')}))
        >= 0.4
  UNION
  -- over-cap clusters: star policy — vs the min-id representative only
  SELECT y.vec_id AS b_id
  FROM a y JOIN sz ON sz.cluster = y.cluster
  JOIN embeddings er ON er.vec_id = sz.rep
  JOIN embeddings ey ON ey.vec_id = y.vec_id
  WHERE sz.n > {_SEM_CLUSTER_CAP} AND y.vec_id <> sz.rep
    AND {_SEM_DOT.format(a='er.embedding', b='ey.embedding')}
        / (sqrt({_SEM_DOT.format(a='er.embedding', b='er.embedding')})
           * sqrt({_SEM_DOT.format(a='ey.embedding', b='ey.embedding')}))
        >= 0.4
)
SELECT a.vec_id, a.cluster::INTEGER AS cluster,
       a.vec_id NOT IN (SELECT b_id FROM dropped) AS kept
FROM a
""",
    tags=("dedup", "semantic", "embedding", "semdedup"),
)
def dedup_semantic_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning over the embeddings table: assign
    every vector to its nearest of 8 deterministic centroids, then drop
    any vector whose within-cluster cosine similarity to a lower-id
    vector reaches 0.4 (keep-first). Fully closed-form, so clustering,
    per-cluster pair generation, AND the keep policy are all hash-checked
    — the training-data-curation twin of vector_ivf_bucketed_pairs
    (operators/dedup.py::semantic_dedup for the plan shape and the
    100 TB note: in production the cluster id IS the IVF layout's
    partition column)."""
    from ..operators.dedup import semantic_dedup
    from .vector_q import _query_vecs

    emb = load_table(spark, sf_dir, "embeddings")
    vecs = _query_vecs(spark, sf_dir, _SEM_CENTROID_IDS)
    centroids = [vecs[i] for i in sorted(_SEM_CENTROID_IDS)]
    # cap passed EXPLICITLY so the call site pins the same constant the
    # oracle encodes — retuning the operator default cannot desync them
    return semantic_dedup(
        emb, centroids, sim_threshold=0.4, max_cluster_size=_SEM_CLUSTER_CAP
    )


# The 8-token line derivation, shared by BOTH line-dedup oracles below so
# the two cannot silently diverge (one edit point — the
# generate_series→range bound rewrite had to touch every copy). The
# per-row unnest(range(...)) mirrors Spark's sequence(): the bound is
# derived from each document's own token count, never a fixed cap.
_LINE8_CTES = r"""t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
),
l AS (
  SELECT doc_id, i::INTEGER AS line_no,
         array_to_string(toks[(i*8+1):(i*8+8)], ' ') AS line
  FROM (
    SELECT doc_id, toks,
           unnest(range(0, greatest((len(toks) - 1) // 8, 0) + 1)) AS i
    FROM t
  )
)"""


@register(
    "dedup_line_first_occurrence",
    oracle=f"""
WITH {_LINE8_CTES},
k AS (
  SELECT doc_id, line_no, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
  FROM l
)
SELECT doc_id, line_no, line FROM k WHERE rn = 1
""",
    tags=("dedup", "c4", "line-level", "training-data"),
)
def dedup_line_first_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-global line dedup: 8-token "lines", keep only the
    globally-first occurrence of each distinct line (by doc id, then
    position) — the surviving cleaned corpus. The keep-first policy is
    itself hash-checked: the window's deterministic (id, line_no) order
    is what distinguishes this from ``dropDuplicates``' arbitrary
    survivor (operators/dedup.py::corpus_line_dedup for the one-shuffle
    scale shape)."""
    from ..operators.dedup import corpus_line_dedup

    docs = load_table(spark, sf_dir, "documents")
    return corpus_line_dedup(docs, tokens_per_line=8)


@register(
    "dedup_line_kept_fraction",
    oracle=f"""
WITH {_LINE8_CTES},
k AS (
  SELECT doc_id, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, line_no) AS rn
  FROM l
),
tot AS (SELECT doc_id, count(*) AS n_lines FROM l GROUP BY doc_id),
kpt AS (SELECT doc_id, count(*) AS kept_lines FROM k WHERE rn = 1 GROUP BY doc_id)
SELECT tot.doc_id, tot.n_lines,
       coalesce(kpt.kept_lines, 0) AS kept_lines,
       coalesce(kpt.kept_lines, 0)::DOUBLE / tot.n_lines::DOUBLE AS kept_frac
FROM tot LEFT JOIN kpt ON kpt.doc_id = tot.doc_id
""",
    tags=("dedup", "c4", "line-level", "training-data", "curation-report"),
)
def dedup_line_kept_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation report for the C4-style line dedup: per document, how
    many of its 8-token lines survive corpus-global keep-first dedup —
    including zero-survivor documents, which the survivor set alone
    cannot produce (their totals come from the pre-dedup side of a left
    join). Exercises the documented ``corpus_line_dedup`` caller pattern
    end-to-end with every count and fraction hash-checked
    (operators/dedup.py::line_dedup_kept_stats for the no-second-explode
    totals shape)."""
    from ..operators.dedup import line_dedup_kept_stats

    docs = load_table(spark, sf_dir, "documents")
    return line_dedup_kept_stats(docs, tokens_per_line=8)


@register(
    "dedup_dup_span_fraction",
    oracle=r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
),
-- per-row unnest(range(...)) mirrors Spark's sequence(): the bound is
-- derived from each document's own token count, never a fixed cap
s AS (
  SELECT doc_id, array_to_string(toks[i:(i+12)], ' ') AS span
  FROM (
    SELECT doc_id, toks, unnest(range(1, len(toks) - 11)) AS i
    FROM t WHERE len(toks) >= 13
  )
),
c AS (
  SELECT doc_id, span, count(*) OVER (PARTITION BY span) AS cnt FROM s
)
SELECT doc_id, count(*)::BIGINT AS n_spans,
       sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_spans,
       round(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
         AS dup_frac
FROM c GROUP BY doc_id
""",
    tags=("dedup", "exact-substring", "ngram-span", "training-data"),
)
def dedup_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication statistics (Lee et al. 2022):
    per document, the fraction of overlapping 13-token spans whose text
    occurs more than once in the whole corpus. The global span count is
    one window aggregate — no pairwise join — which is the formulation
    that keeps exact span-level dedup tractable at 100 TB
    (operators/dedup.py::dup_span_stats)."""
    from ..operators.dedup import dup_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return dup_span_stats(docs, n=13)


def _bands_sql(rel: str) -> str:
    """Band keys of a (id, text) relation — the EXACT SQL mirror of the
    band keys index/dedupidx.py persists, in hex (the layout stores
    their 16-byte digests; same shingle/minhash/band pipeline as the
    dedup_minhash_lsh oracle above, k=3, 16 hashes, 8 bands x 2)."""
    return f"""
SELECT id, b::INTEGER AS band,
       md5(array_to_string(sg[(b*2+1):(b*2+2)], '')) AS key
FROM (
  SELECT id, list_transform(range(1, 17),
         s -> list_min(list_transform(sh, x -> md5(s::VARCHAR || '|' || x)))) AS sg
  FROM (SELECT id, {_SHINGLE_SQL} AS sh
        FROM (SELECT id, string_split_regex(trim(text), '\\s+') AS toks FROM {rel}))
) CROSS JOIN generate_series(0, 7) AS g(b)
"""


@register(
    "dedup_incremental_index_filter",
    # Two-stage lifecycle in one hash verdict: stage b1 filters a new
    # batch against the persisted corpus bands (exact plants of corpus
    # docs => corpus_dup; exact within-batch plants => within_dup on the
    # higher id), survivors are APPENDED, and stage b2 re-filters copies
    # of every b1 doc plus near-dup variants — proving the appended
    # bands are live without any corpus recompute.
    oracle=f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
),
b1 AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id + 1000000 AS id, text
  FROM documents WHERE doc_id % 3 < 2 AND doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS id, text
  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 0
),
cb AS ({_bands_sql('corpus')}),
b1b AS ({_bands_sql('b1')}),
hit1 AS (SELECT DISTINCT b.id FROM b1b b
         JOIN cb c ON b.band = c.band AND b.key = c.key),
new1 AS (SELECT * FROM b1b WHERE id NOT IN (SELECT id FROM hit1)),
gm1 AS (SELECT band, key, min(id) AS min_id FROM new1 GROUP BY band, key),
w1 AS (SELECT DISTINCT n.id FROM new1 n
       JOIN gm1 g ON n.band = g.band AND n.key = g.key
       WHERE n.id > g.min_id),
surv1 AS (SELECT id, text FROM b1
          WHERE id NOT IN (SELECT id FROM hit1)
            AND id NOT IN (SELECT id FROM w1)),
b2 AS (
  SELECT id + 3000000 AS id, text FROM b1
  UNION ALL
  SELECT doc_id + 4000000 AS id, text || ' zz' || doc_id AS text
  FROM documents WHERE doc_id % 3 < 2 AND doc_id % 13 = 0
),
sb AS ({_bands_sql('surv1')}),
idx2 AS (SELECT band, key FROM cb UNION ALL SELECT band, key FROM sb),
b2b AS ({_bands_sql('b2')}),
hit2 AS (SELECT DISTINCT b.id FROM b2b b
         JOIN idx2 c ON b.band = c.band AND b.key = c.key),
new2 AS (SELECT * FROM b2b WHERE id NOT IN (SELECT id FROM hit2)),
gm2 AS (SELECT band, key, min(id) AS min_id FROM new2 GROUP BY band, key),
w2 AS (SELECT DISTINCT n.id FROM new2 n
       JOIN gm2 g ON n.band = g.band AND n.key = g.key
       WHERE n.id > g.min_id)
SELECT 'b1' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM hit1))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM w1))::INTEGER AS within_dup
FROM b1 b
UNION ALL
SELECT 'b2' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM hit2))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM w2))::INTEGER AS within_dup
FROM b2 b
""",
    tags=("dedup", "minhash", "lsh", "index", "lifecycle", "training-data"),
)
def dedup_incremental_index_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a PERSISTED band index — the crawl-
    ingest loop a 100 TB pipeline actually runs (index/dedupidx.py):
    shingle the accepted corpus once, then each new batch is one narrow
    (band, key) scan + one shuffle join, and accepting survivors is a
    blind partitioned append. Two filter stages share one hash verdict:
    b1 (fresh docs + exact corpus plants + exact within-batch plants)
    against the built index, then — after appending b1's survivors —
    b2 (copies of every b1 doc + near-dup variants) must see the
    appended bands, proving no corpus recompute is ever needed."""
    import shutil
    import tempfile

    from ..index.dedupidx import (
        build_dedup_index,
        dedup_index_append,
        dedup_index_filter,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 < 2)
    b1 = (
        docs.filter(F.col("doc_id") % 3 == 2)
        .unionByName(
            corpus.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 5 == 0)).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )
    b2 = b1.select((F.col("doc_id") + 3000000).alias("doc_id"), "text").unionByName(
        corpus.filter(F.col("doc_id") % 13 == 0).select(
            (F.col("doc_id") + 4000000).alias("doc_id"),
            F.concat("text", F.lit(" zz"), F.col("doc_id").cast("string")).alias(
                "text"
            ),
        )
    )

    def flags(df: DataFrame, stage: str) -> DataFrame:
        return df.select(
            F.lit(stage).alias("stage"),
            "doc_id",
            F.col("corpus_dup").cast("int").alias("corpus_dup"),
            F.col("within_dup").cast("int").alias("within_dup"),
        )

    work = tempfile.mkdtemp(prefix="dedup_incr_")
    try:
        index = build_dedup_index(corpus, f"{work}/idx")
        # Materialize the pre-append verdicts NOW (one evaluation feeding
        # both the survivor join and the output): combining a pre-append
        # scan with a post-append scan of the same layout root in ONE
        # action lets exchange reuse silently substitute the stale file
        # listing for the fresh one (index/dedupidx.py module docstring;
        # regression-pinned in tests/test_dedupidx.py).
        v1 = dedup_index_filter(spark, index, b1)[0].localCheckpoint(eager=True)
        surv1 = b1.join(
            v1.filter(~F.col("corpus_dup") & ~F.col("within_dup")).select("doc_id"),
            "doc_id",
        )
        dedup_index_append(index, surv1)
        v2 = dedup_index_filter(spark, index, b2)[0]
        out = flags(v1, "b1").unionByName(flags(v2, "b2"))
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _sigs_sql(rel: str) -> str:
    """MinHash signatures of a (id, text) relation — the shared head of
    `_bands_sql`, exposed so the verified-filter oracle can join raw
    signatures for the similarity estimate."""
    return f"""
SELECT id, list_transform(range(1, 17),
       s -> list_min(list_transform(sh, x -> md5(s::VARCHAR || '|' || x)))) AS sg
FROM (SELECT id, {_SHINGLE_SQL} AS sh
      FROM (SELECT id, string_split_regex(trim(text), '\\s+') AS toks FROM {rel}))
"""


_BANDS_OF_SIGS_SQL = """
SELECT id, b::INTEGER AS band,
       md5(array_to_string(sg[(b*2+1):(b*2+2)], '')) AS key
FROM {sigs} CROSS JOIN generate_series(0, 7) AS g(b)
"""

_SIM_SQL = (
    "list_sum(list_transform(range(1, 17), "
    "i -> CASE WHEN bs.sg[i] = cs.sg[i] THEN 1 ELSE 0 END))::DOUBLE / 16.0"
)


def _verified_ctes(cap: int, threshold: float = 0.5) -> str:
    """The verified-filter algebra as a CTE-chain fragment over
    relations named ``corpus`` and ``batch`` (csig → wdup) — the exact
    SQL mirror of index/dedupidx.py::dedup_index_filter at threshold > 0:
    mega-key counts and routing at ``cap``, signature-estimate
    verification at ``threshold``, and the pessimistic one-pass
    within-batch rule. Shared by the verified-filter oracle and the
    bench-tracked verified batch-filter oracle below. The signature and
    band CTEs are ``MATERIALIZED``: several CTEs read each, and DuckDB
    1.0 re-runs an inlined one's md5 MinHash per reference."""
    return f"""csig AS MATERIALIZED ({_sigs_sql('corpus')}),
bsig AS MATERIALIZED ({_sigs_sql('batch')}),
cb AS MATERIALIZED ({_BANDS_OF_SIGS_SQL.format(sigs='csig')}),
bb AS MATERIALIZED ({_BANDS_OF_SIGS_SQL.format(sigs='bsig')}),
counts AS (SELECT band, key, count(*) AS n FROM cb GROUP BY band, key),
over_keys AS (SELECT band, key FROM counts WHERE n > {cap}),
auto_hits AS (
  SELECT DISTINCT b.id FROM bb b
  JOIN over_keys o ON b.band = o.band AND b.key = o.key
),
cand AS (
  SELECT DISTINCT b.id AS bid, c.id AS cid
  FROM bb b
  JOIN (SELECT cb.* FROM cb
        LEFT JOIN over_keys o ON cb.band = o.band AND cb.key = o.key
        WHERE o.band IS NULL) c
    ON b.band = c.band AND b.key = c.key
),
vhits AS (
  SELECT DISTINCT cand.bid AS id
  FROM cand
  JOIN bsig bs ON bs.id = cand.bid
  JOIN csig cs ON cs.id = cand.cid
  WHERE {_SIM_SQL} >= {threshold}
),
cdup AS (SELECT id FROM auto_hits UNION SELECT id FROM vhits),
nb AS (SELECT * FROM bb WHERE id NOT IN (SELECT id FROM cdup)),
wcounts AS (
  SELECT band, key, count(*) AS n, min(id) AS min_id
  FROM nb GROUP BY band, key
),
wauto AS (
  SELECT DISTINCT n.id FROM nb n
  JOIN wcounts w ON n.band = w.band AND n.key = w.key
  WHERE w.n > {cap} AND n.id > w.min_id
),
wpairs AS (
  SELECT DISTINCT l.id AS lid, r.id AS rid
  FROM nb l
  JOIN nb r ON l.band = r.band AND l.key = r.key AND l.id > r.id
  JOIN wcounts w ON l.band = w.band AND l.key = w.key
  WHERE w.n <= {cap}
),
wver AS (
  SELECT DISTINCT wpairs.lid AS id
  FROM wpairs
  JOIN bsig bs ON bs.id = wpairs.lid
  JOIN bsig cs ON cs.id = wpairs.rid
  WHERE {_SIM_SQL} >= {threshold}
),
wdup AS (SELECT id FROM wauto UNION SELECT id FROM wver)"""


@register(
    "dedup_incremental_verified_filter",
    # One filter stage, BOTH mega-key routes exercised deterministically:
    # five exact copies of doc 0 planted in the corpus push its band
    # keys over candidate_cap=2 (auto-flag, no pair enumeration), while
    # every other collision routes through signature verification at
    # threshold 0.5. Exact batch plants pin sim=1.0; suffix variants land
    # wherever the estimator puts them — identically on both engines.
    oracle=f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
  UNION ALL
  SELECT 500000 + g.i AS id, d.text
  FROM (SELECT text FROM documents WHERE doc_id = 0) d
  CROSS JOIN generate_series(1, 5) AS g(i)
),
batch AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id + 1000000 AS id, text
  FROM documents WHERE doc_id % 3 < 2 AND doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS id, text || ' zzq zzw' AS text
  FROM documents WHERE doc_id % 3 < 2 AND doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS id, text
  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 0
),
{_verified_ctes(2)}
SELECT b.id AS doc_id,
       (b.id IN (SELECT id FROM cdup))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM wdup))::INTEGER AS within_dup
FROM batch b
""",
    tags=("dedup", "minhash", "lsh", "index", "verified", "training-data"),
)
def dedup_incremental_verified_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verified incremental-dedup filter
    (index/dedupidx.py::dedup_index_filter, threshold 0.5): band-collision
    candidates must clear the MinHash similarity estimate (signature-
    equality fraction ≥ 0.5) before a document is dropped, with
    count-first mega-key routing — five exact copies of document 0
    planted in the corpus push its band keys over candidate_cap=2, so
    batch colliders on those keys flag WITHOUT pair enumeration while
    everything else routes through signature verification. One hash
    verdict covers the estimator, both routing paths, and the
    pessimistic within-batch rule."""
    import shutil
    import tempfile

    from ..index.dedupidx import build_dedup_index, dedup_index_filter

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 < 2)
    boiler = (
        docs.filter(F.col("doc_id") == 0)
        .crossJoin(spark.range(1, 6).select((F.col("id") + 500000).alias("new_id")))
        .select(F.col("new_id").alias("doc_id"), "text")
    )
    corpus = base.unionByName(boiler)
    batch = (
        docs.filter(F.col("doc_id") % 3 == 2)
        .unionByName(
            docs.filter((F.col("doc_id") % 3 < 2) & (F.col("doc_id") % 7 == 0)).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.filter((F.col("doc_id") % 3 < 2) & (F.col("doc_id") % 11 == 0)).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat("text", F.lit(" zzq zzw")).alias("text"),
            )
        )
        .unionByName(
            docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 5 == 0)).select(
                (F.col("doc_id") + 3000000).alias("doc_id"), "text"
            )
        )
    )
    work = tempfile.mkdtemp(prefix="dedup_incr_v_")
    try:
        index = build_dedup_index(corpus, f"{work}/idx")
        out = dedup_index_filter(
            spark, index, batch, threshold=0.5, candidate_cap=2
        )[0].select(
            "doc_id",
            F.col("corpus_dup").cast("int").alias("corpus_dup"),
            F.col("within_dup").cast("int").alias("within_dup"),
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "dedup_incremental_verified_fresh_filter",
    # The round-13 SHORT-CIRCUIT configuration under the hash discipline:
    # every batch-corpus collision lands on the over-cap boilerplate
    # keys (6 corpus copies of doc 0's text > cap=2), and the rest of
    # the batch is synthesized-unique md5 text that collides with
    # NOTHING — so no under-cap colliding key exists and the filter's
    # under-cap emptiness probe skips the second layout pass and the
    # whole signature-verification subtree. Planted within-batch pairs
    # (consecutive fresh ids share one synthesized text) keep the
    # within-batch verification algebra doing real work, so the oracle
    # — the full _verified_ctes mirror, which computes the same answers
    # whether or not the engine short-circuits — is not tautological.
    oracle=f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
  UNION ALL
  SELECT 500000 + g.i AS id, d.text
  FROM (SELECT text FROM documents WHERE doc_id = 0) d
  CROSS JOIN generate_series(1, 5) AS g(i)
),
batch AS (
  SELECT doc_id AS id,
         array_to_string(list_transform(range(0, 10),
           i -> md5((doc_id - (doc_id % 6))::VARCHAR || '|' || i::VARCHAR)),
           ' ') AS text
  FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT doc_id + 1000000 AS id,
         (SELECT text FROM documents WHERE doc_id = 0) AS text
  FROM documents WHERE doc_id % 3 = 2 AND doc_id % 5 = 0
),
{_verified_ctes(2)}
SELECT b.id AS doc_id,
       (b.id IN (SELECT id FROM cdup))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM wdup))::INTEGER AS within_dup
FROM batch b
""",
    tags=("dedup", "minhash", "lsh", "index", "verified", "short-circuit",
          "training-data"),
)
def dedup_incremental_verified_fresh_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The verified filter on the FRESH-batch shape the round-13
    short-circuit optimizes (index/dedupidx.py): boilerplate colliders
    hit only the over-cap doc-0 keys (auto-route, no enumeration) and
    every other batch doc is synthesized-unique md5 text colliding with
    nothing, so no under-cap colliding key exists and the second layout
    pass plus the whole signature subtree are provably skippable —
    the common diverse-crawl case. Within-batch pairs (consecutive
    fresh ids share a synthesized text) still route through the
    pessimistic one-pass verification, so one hash verdict covers the
    short-circuited corpus side AND the live within-batch algebra.
    The skip itself is pinned by a ``_read_sigs`` spy in
    tests/test_dedupidx.py; this row pins that skipping never changes
    an answer, at every driver SF."""
    import shutil
    import tempfile

    from ..index.dedupidx import build_dedup_index, dedup_index_filter

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 3 < 2)
    boiler = (
        docs.filter(F.col("doc_id") == 0)
        .crossJoin(spark.range(1, 6).select((F.col("id") + 500000).alias("new_id")))
        .select(F.col("new_id").alias("doc_id"), "text")
    )
    corpus = base.unionByName(boiler)
    fresh = docs.filter(F.col("doc_id") % 3 == 2).select(
        "doc_id",
        F.array_join(
            F.transform(
                F.sequence(F.lit(0), F.lit(9)),
                lambda i: F.md5(
                    F.concat_ws(
                        "|",
                        (F.col("doc_id") - F.col("doc_id") % 6).cast("string"),
                        i.cast("string"),
                    )
                ),
            ),
            " ",
        ).alias("text"),
    )
    colliders = (
        docs.filter((F.col("doc_id") % 3 == 2) & (F.col("doc_id") % 5 == 0))
        .select((F.col("doc_id") + 1000000).alias("doc_id"))
        .crossJoin(
            F.broadcast(docs.filter(F.col("doc_id") == 0).select("text"))
        )
    )
    batch = fresh.unionByName(colliders)
    work = tempfile.mkdtemp(prefix="dedup_incr_sc_")
    try:
        index = build_dedup_index(corpus, f"{work}/idx")
        out = dedup_index_filter(
            spark, index, batch, threshold=0.5, candidate_cap=2
        )[0].select(
            "doc_id",
            F.col("corpus_dup").cast("int").alias("corpus_dup"),
            F.col("within_dup").cast("int").alias("within_dup"),
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


@register(
    "dedup_incremental_delete_compact",
    # Three stages in one hash verdict: 'pre' filters the batch against
    # the full corpus (exact plants of soon-to-be-deleted docs flag
    # corpus_dup); 'post' re-filters after deleting every corpus doc
    # with id % 7 = 0 — a batch doc that duplicated ONLY deleted docs
    # must now SURVIVE (the takedown contract) while survivors' copies
    # stay flagged; 'compacted' re-filters on the rewritten layout and
    # must equal 'post' (tombstone read path ≡ folded-in rewrite).
    oracle=f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
),
surv AS (SELECT * FROM corpus WHERE id % 7 <> 0),
batch AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 = 2
  UNION ALL
  SELECT id + 1000000 AS id, text FROM corpus WHERE id % 7 = 0
  UNION ALL
  SELECT id + 2000000 AS id, text FROM corpus WHERE id % 7 = 1
),
cb AS ({_bands_sql('corpus')}),
sb AS ({_bands_sql('surv')}),
bb AS ({_bands_sql('batch')}),
hit0 AS (SELECT DISTINCT b.id FROM bb b
         JOIN cb c ON b.band = c.band AND b.key = c.key),
new0 AS (SELECT * FROM bb WHERE id NOT IN (SELECT id FROM hit0)),
gm0 AS (SELECT band, key, min(id) AS min_id FROM new0 GROUP BY band, key),
w0 AS (SELECT DISTINCT n.id FROM new0 n
       JOIN gm0 g ON n.band = g.band AND n.key = g.key
       WHERE n.id > g.min_id),
hit1 AS (SELECT DISTINCT b.id FROM bb b
         JOIN sb c ON b.band = c.band AND b.key = c.key),
new1 AS (SELECT * FROM bb WHERE id NOT IN (SELECT id FROM hit1)),
gm1 AS (SELECT band, key, min(id) AS min_id FROM new1 GROUP BY band, key),
w1 AS (SELECT DISTINCT n.id FROM new1 n
       JOIN gm1 g ON n.band = g.band AND n.key = g.key
       WHERE n.id > g.min_id)
SELECT 'pre' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM hit0))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM w0))::INTEGER AS within_dup
FROM batch b
UNION ALL
SELECT 'post' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM hit1))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM w1))::INTEGER AS within_dup
FROM batch b
UNION ALL
SELECT 'compacted' AS stage, b.id AS doc_id,
       (b.id IN (SELECT id FROM hit1))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM w1))::INTEGER AS within_dup
FROM batch b
""",
    tags=("dedup", "minhash", "lsh", "index", "lifecycle", "training-data"),
)
def dedup_incremental_delete_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup index's maintenance pair
    (index/dedupidx.py::dedup_index_delete / dedup_index_compact) —
    takedown/retention, the reference's drop lifecycle next to its
    inserts (src/app.py:87 vs src/app.py:230,409). Deleting a corpus doc
    must IMMEDIATELY stop it suppressing near-duplicate batch docs (its
    band+sig rows tombstone out of the filter's corpus side, O(k) not
    O(corpus)), and compaction must fold the tombstones in with
    identical verdicts. The delete set (corpus ids with id % 7 = 0) is a
    driver-side list by contract — takedown lists are small; above 10k
    ids the delete switches to a broadcast semi-join, exercised at
    sf5."""
    import shutil
    import tempfile

    from ..index.dedupidx import (
        build_dedup_index,
        dedup_index_compact,
        dedup_index_delete,
        dedup_index_filter,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 < 2)
    batch = (
        docs.filter(F.col("doc_id") % 3 == 2)
        .unionByName(
            corpus.filter(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            corpus.filter(F.col("doc_id") % 7 == 1).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        )
    )

    def flags(df: DataFrame, stage: str) -> DataFrame:
        return df.select(
            F.lit(stage).alias("stage"),
            "doc_id",
            F.col("corpus_dup").cast("int").alias("corpus_dup"),
            F.col("within_dup").cast("int").alias("within_dup"),
        )

    work = tempfile.mkdtemp(prefix="dedup_incr_dc_")
    try:
        index = build_dedup_index(corpus, f"{work}/idx")
        # Materialize each stage before the next mutation (the
        # exchange-reuse discipline from index/dedupidx.py's docstring).
        v0 = dedup_index_filter(spark, index, batch)[0].localCheckpoint(eager=True)
        victims = [
            r[0]
            for r in corpus.filter(F.col("doc_id") % 7 == 0)
            .select("doc_id")
            .collect()
        ]
        assert dedup_index_delete(spark, index, victims) == len(victims)
        v1 = dedup_index_filter(spark, index, batch)[0].localCheckpoint(eager=True)
        compacted = dedup_index_compact(spark, index, f"{work}/idx_v2")
        v2 = dedup_index_filter(spark, compacted, batch)[0]
        out = (
            flags(v0, "pre")
            .unionByName(flags(v1, "post"))
            .unionByName(flags(v2, "compacted"))
        )
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(work, ignore_errors=True)


#: Process-wide cache of the bench/parity dedup layout per sf_dir (the
#: get_ivf_index pattern, queries/index_q.py:33): the accepted-corpus
#: index is an ingest-time artifact — a crawl pipeline builds it once
#: and filters every batch against it — so the bench line below times
#: the FILTER, not a rebuild (min-of-2 drops the first run's build).
_DEDUP_INDEX_CACHE: dict = {}


def get_dedup_index(spark: SparkSession, sf_dir: str):
    from hashlib import md5

    from ..index.dedupidx import build_dedup_index

    if sf_dir not in _DEDUP_INDEX_CACHE:
        tag = md5(sf_dir.encode()).hexdigest()[:8]
        corpus = (
            load_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .filter(F.col("doc_id") % 3 < 2)
        )
        _DEDUP_INDEX_CACHE[sf_dir] = build_dedup_index(
            corpus, f"/tmp/spark_graft_dedupidx_{tag}"
        )
    return _DEDUP_INDEX_CACHE[sf_dir]


@register(
    "dedup_incremental_batch_filter",
    # The single-stage crawl-ingest step, bench-tracked: one FIXED-SIZE
    # batch (doc_id < 5000 — replica 0 of the tiled scale corpora, so
    # byte-identical at every SF ≥ 0.1 — plus exact within-batch
    # plants) filtered against the PREBUILT persisted corpus index.
    # A fixed batch is the point: the bench line isolates the
    # corpus-side cost (one narrow (band, key) scan + one shuffle
    # join), which the layout's design says stays FLAT as the corpus
    # grows — an SF-proportional batch would just re-measure kernel
    # throughput. Batch docs whose id is also in the corpus (% 3 < 2)
    # are exact corpus plants; % 3 = 2 docs are fresh; the +2000000
    # copies pin within_dup (or corpus_dup when their base is planted).
    oracle=f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
),
b1 AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 5000
  UNION ALL
  SELECT doc_id + 2000000 AS id, text
  FROM documents WHERE doc_id < 5000 AND doc_id % 5 = 0
),
cb AS ({_bands_sql('corpus')}),
b1b AS ({_bands_sql('b1')}),
hit1 AS (SELECT DISTINCT b.id FROM b1b b
         JOIN cb c ON b.band = c.band AND b.key = c.key),
new1 AS (SELECT * FROM b1b WHERE id NOT IN (SELECT id FROM hit1)),
gm1 AS (SELECT band, key, min(id) AS min_id FROM new1 GROUP BY band, key),
w1 AS (SELECT DISTINCT n.id FROM new1 n
       JOIN gm1 g ON n.band = g.band AND n.key = g.key
       WHERE n.id > g.min_id)
SELECT b.id AS doc_id,
       (b.id IN (SELECT id FROM hit1))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM w1))::INTEGER AS within_dup
FROM b1 b
""",
    tags=("dedup", "minhash", "lsh", "index", "bench", "training-data"),
    bench=True,
)
def dedup_incremental_batch_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The north-star crawl-ingest operator on the bench headline set:
    filter one FIXED-SIZE batch against the persisted corpus band index
    (index/dedupidx.py::dedup_index_filter). The index is an ingest-time
    artifact (built once per corpus, cached like the bench IVF layout)
    and the batch is pinned to replica 0 (identical bytes at every
    tiled SF), so this line tracks the per-batch cost as the CORPUS
    grows — the layout's design claim is that the line stays flat,
    because the corpus side is a pruned two-column columnar scan, never
    a re-shingle. Measured flat at 3.5 s from a 45k to a 245k corpus
    and 7.3 s at 1.245M while the batch re-dedup baseline went
    26 s → 83 s → DNF (SCALING.md round 8)."""
    from ..index.dedupidx import dedup_index_filter

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") < 5000).unionByName(
        docs.filter((F.col("doc_id") < 5000) & (F.col("doc_id") % 5 == 0)).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    index = get_dedup_index(spark, sf_dir)
    return dedup_index_filter(spark, index, b1)[0].select(
        "doc_id",
        F.col("corpus_dup").cast("int").alias("corpus_dup"),
        F.col("within_dup").cast("int").alias("within_dup"),
    )


@register(
    "dedup_incremental_verified_batch_filter",
    # The bench=True VERIFIED twin of dedup_incremental_batch_filter:
    # the SAME fixed-size batch (replica 0 + within-batch plants)
    # against the SAME prebuilt cached corpus index, admitted through
    # the production-recommended verified mode (signature estimate
    # >= 0.5, default cap 64). The per-round bench line this adds is
    # the cost record the recommended crawl mode was missing (VERDICT
    # r10 task 2): the verified path's extra work — the candidate
    # semi-join and the BUCKET-PRUNED signature fetch — now shows up
    # in BENCH deltas, so a regression in the verify join is visible.
    oracle=f"""
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id % 3 < 2
),
batch AS (
  SELECT doc_id AS id, text FROM documents WHERE doc_id < 5000
  UNION ALL
  SELECT doc_id + 2000000 AS id, text
  FROM documents WHERE doc_id < 5000 AND doc_id % 5 = 0
),
{_verified_ctes(64)}
SELECT b.id AS doc_id,
       (b.id IN (SELECT id FROM cdup))::INTEGER AS corpus_dup,
       (b.id IN (SELECT id FROM wdup))::INTEGER AS within_dup
FROM batch b
""",
    tags=("dedup", "minhash", "lsh", "index", "verified", "bench",
          "training-data"),
    bench=True,
)
def dedup_incremental_verified_batch_filter(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The crawl-ingest cost line in PRODUCTION mode: the fixed replica-0
    batch filtered through dedup_index_filter (threshold 0.5,
    cap 64) against the prebuilt cached corpus index — the verified twin
    of dedup_incremental_batch_filter, sharing its corpus layout and
    batch bytes so the two lines isolate exactly the verification
    premium (candidate enumeration + the signature fetch,
    index/dedupidx.py). Neither line re-reads corpus text: the corpus
    side is a batch-key-restricted (band, key) scan, and the signature
    fetch joins the candidates against a narrow (id, sig) scan of the
    unpartitioned side-car."""
    from ..index.dedupidx import dedup_index_filter

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") < 5000).unionByName(
        docs.filter((F.col("doc_id") < 5000) & (F.col("doc_id") % 5 == 0)).select(
            (F.col("doc_id") + 2000000).alias("doc_id"), "text"
        )
    )
    index = get_dedup_index(spark, sf_dir)
    return dedup_index_filter(
        spark, index, b1, threshold=0.5, candidate_cap=64
    )[0].select(
        "doc_id",
        F.col("corpus_dup").cast("int").alias("corpus_dup"),
        F.col("within_dup").cast("int").alias("within_dup"),
    )
