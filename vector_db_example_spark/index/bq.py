"""Binary quantization (Milvus 2.4+ ``BIN_FLAT`` / binary-embedding
support, and the BQ compression mode of recent vector stores).

Each vector becomes one sign bit per dimension, packed into 32-bit words
stored as longs (64 dims → 2 words = 8 bytes vs 256 bytes float32, the
same 32× cut as PQ but with a trivial, training-free codec). Approximate
distance is the Hamming distance between packed codes — XOR + popcount,
the cheapest similarity primitive there is — followed by an exact rerank
of the top-(k·overfetch) candidates.

Everything is exact integer math (bit sums and popcounts), so unlike the
float-distance indexes there is no fold-order subtlety at all: the DuckDB
oracle reproduces codes and Hamming distances by construction.

At 100 TB the packed-code column is what you scan (map-side XOR/popcount
+ TakeOrdered, no shuffle); float vectors are read only for the rerank
rows. Reference parity: the reference's collection is float IVF_FLAT
(/root/reference/src/app.py:105-111); binary embeddings are the same
Milvus collection surface with ``DataType.BINARY_VECTOR``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.vector import l2_distance, vector_literal

WORD_BITS = 32


def bq_codes(vector: Column, dim: int = 64) -> Column:
    """array<float> → array<bigint> of packed sign bits: word w holds
    dims [w·32, (w+1)·32), bit b set iff the component is > 0. Pure
    integer sums of distinct powers of two — order-independent, exact."""
    nwords = (dim + WORD_BITS - 1) // WORD_BITS
    x = vector.cast("array<double>")
    words = []
    for w in range(nwords):
        lo = w * WORD_BITS
        width = min(WORD_BITS, dim - lo)
        pows = F.array(*[F.lit(1 << b).cast("long") for b in range(width)])
        masked = F.zip_with(
            F.slice(x, lo + 1, width),
            pows,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
        )
        words.append(
            F.aggregate(masked, F.lit(0).cast("long"), lambda acc, v: acc + v)
        )
    return F.array(*words)


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between packed codes: per-word XOR + popcount,
    summed (exact integers)."""
    per_word = F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y)))
    return F.aggregate(
        per_word, F.lit(0).cast("integer"), lambda acc, v: acc + v.cast("integer")
    )


def bq_search(
    corpus: DataFrame,
    query_vec,
    k: int = 10,
    overfetch: int = 5,
    vector_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage BQ search: Hamming approximate top-(k·overfetch) on
    packed sign codes (map-side XOR/popcount + TakeOrdered), exact L2
    rerank on the original vectors. Returns (id, distance) with exact
    distances."""
    # Materialize once: a generator input would be exhausted after the
    # first pass and silently yield an empty query array downstream.
    query_vec = [float(x) for x in query_vec]
    dim = len(query_vec)
    qcode = bq_codes(vector_literal(query_vec), dim)
    coded = corpus.select(
        F.col(id_col),
        F.col(vector_col),
        bq_codes(F.col(vector_col), dim).alias("bq"),
    )
    approx = (
        coded.withColumn("hamming", hamming_distance(F.col("bq"), qcode))
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k * overfetch)
    )
    qlit = vector_literal(query_vec)
    return (
        approx.withColumn("distance", l2_distance(F.col(vector_col), qlit))
        .orderBy(F.col("distance").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "distance")
    )
