"""Measure the crawl admission gate's false-drop rate against exact
n-gram-Jaccard ground truth (VERDICT round-9 task 4).

The sf25 intake run suppressed 10,000/10,000 batch docs on band
collisions alone (SCALING.md round 9) — designed direction on a
replica-saturated corpus, but the open question for a DIVERSE crawl is:
when the corpus has NO planted replicas, how many genuinely-new
documents does each admission mode drop?

Setup (no planted replicas anywhere):
- corpus  = documents with doc_id % 3 < 2  (all distinct synthetic texts)
- batch   = documents with doc_id % 3 == 2 (all distinct, none in corpus)

Modes measured, same persisted index, both through
index/dedupidx.py::dedup_index_filter:
- band-only  (threshold 0.0) — one lucky band key proposes AND
  disposes;
- verified   (threshold --threshold, default 0.5; cap --cap, default
  64) — band collision proposes, the MinHash estimate disposes.

Ground truth: a batch doc is a TRUE near-duplicate iff its exact
3-shingle Jaccard against some corpus doc is >= 0.5. Exact Jaccard is
computed only for docs either mode flagged (a pair at Jaccard >= 0.5
shares shingles, so the flagged docs' shingle-join candidates cover
every pair that could make a flag true; unflagged docs need no
verdict). false drops = flagged as corpus_dup with max exact Jaccard
< 0.5 — documents a production crawl would have silently thrown away.

Prints one aligned table row per mode: suppressed counts, false drops,
false-drop rate over the batch, and filter wall time. Recorded in
SCALING.md round 10; cited from streaming/crawl.py's docstring.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/tmp/sf1.0")
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--cap", type=int, default=64)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from vector_db_example_spark.session import get_spark
    from vector_db_example_spark.operators.dedup import shingles
    from vector_db_example_spark.index.dedupidx import (
        build_dedup_index,
        dedup_index_filter,
    )

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    corpus = docs.filter(F.col("doc_id") % 3 < 2).localCheckpoint(eager=True)
    batch = docs.filter(F.col("doc_id") % 3 == 2).localCheckpoint(eager=True)
    n_batch = batch.count()

    work = tempfile.mkdtemp(prefix="false_drop_")
    try:
        index = build_dedup_index(corpus, f"{work}/idx")

        results = {}
        for mode, threshold in (("band-only", 0.0), ("verified", args.threshold)):
            t0 = time.monotonic()
            v = dedup_index_filter(
                spark, index, batch, threshold=threshold, candidate_cap=args.cap
            )[0].localCheckpoint(eager=True)
            wall = time.monotonic() - t0
            results[mode] = {
                "verdicts": v,
                "wall": wall,
                "corpus_dup": v.filter("corpus_dup").count(),
                "within_dup": v.filter("within_dup").count(),
            }

        # Exact-Jaccard ground truth for every doc either mode flagged
        # corpus_dup: shingle-join flagged batch docs against the corpus
        # (a >= 0.5 pair must share shingles), exact Jaccard per
        # candidate pair via array set algebra, max per batch doc.
        flagged = (
            results["band-only"]["verdicts"].filter("corpus_dup").select("doc_id")
            .unionByName(
                results["verified"]["verdicts"].filter("corpus_dup").select("doc_id")
            )
            .distinct()
        )
        bsh = (
            batch.join(flagged, "doc_id")
            .select("doc_id", shingles(F.col("text"), k=3).alias("sh"))
            .localCheckpoint(eager=True)
        )
        csh = corpus.select(
            F.col("doc_id").alias("cid"), shingles(F.col("text"), k=3).alias("csh")
        )
        pairs = (
            bsh.select("doc_id", F.explode("sh").alias("s"))
            .join(
                csh.select("cid", F.explode("csh").alias("s")).hint("shuffle_hash"),
                "s",
            )
            .select("doc_id", "cid")
            .distinct()
        )
        jac = (
            pairs.join(bsh, "doc_id")
            .join(csh, "cid")
            .select(
                "doc_id",
                (
                    F.size(F.array_intersect("sh", "csh")).cast("double")
                    / F.size(F.array_union("sh", "csh")).cast("double")
                ).alias("j"),
            )
            .groupBy("doc_id")
            .agg(F.max("j").alias("max_j"))
        )
        true_dups = {
            r["doc_id"]
            for r in jac.filter(F.col("max_j") >= args.threshold).collect()
        }

        print(
            f"sf_dir={args.sf_dir} corpus={corpus.count()} batch={n_batch} "
            f"threshold={args.threshold} cap={args.cap} "
            f"flagged_union={flagged.count()} true_dups={len(true_dups)}"
        )
        print(
            f"{'mode':<10} {'corpus_dup':>10} {'within_dup':>10} "
            f"{'false_drops':>11} {'fd_rate':>8} {'wall_s':>7}"
        )
        for mode, r in results.items():
            flagged_ids = {
                x["doc_id"]
                for x in r["verdicts"].filter("corpus_dup").select("doc_id").collect()
            }
            fd = len(flagged_ids - true_dups)
            print(
                f"{mode:<10} {r['corpus_dup']:>10} {r['within_dup']:>10} "
                f"{fd:>11} {fd / n_batch:>8.4%} {r['wall']:>7.2f}"
            )
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
