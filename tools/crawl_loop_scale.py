"""Per-batch intake-loop cost at scale: band-only vs verified vs production.

The crawl loop's design claim is that per-batch admission cost is
O(batch) — flat as the accepted corpus grows — in EVERY configuration.
Round 9 measured the band-only loop near-flat to an 833k-doc corpus
(SCALING.md); the verified mode (the documented production
recommendation) had no large-corpus data point until round 11, and the
full PRODUCTION configuration — verified + decontamination gate +
inverted-postings sink + IVF sink, the stream_crawl_production_ingest
shape — had none until round 13 (VERDICT r12 task 2: its extra
per-batch costs are the postings append + the stats read-modify-write
and the nearest-centroid IVF append, all designed O(batch)). This tool
runs the REAL streaming loop (streaming/crawl.py, availableNow, one
file per micro-batch) over a scale tile and reports seconds/batch per
mode, so the SCALING.md table can show all three curves side by side.

Each mode gets its OWN copy of the freshly built dedup + IVF (+
inverted, in production mode) layouts — the loop appends survivors, so
sharing a layout would make mode B filter against mode A's admissions.

Usage:
    python tools/crawl_loop_scale.py --sf-dir /tmp/sf25 \
        [--batch-docs 5000] [--batches 2] \
        [--modes band verified production]
"""

from __future__ import annotations

import argparse
import glob
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--batch-docs", type=int, default=5000)
    ap.add_argument("--batches", type=int, default=2)
    ap.add_argument("--modes", nargs="*", default=["band", "verified"])
    ap.add_argument(
        "--fresh",
        action="store_true",
        help="synthesize genuinely-unique batch texts (40 md5-derived "
        "letter words per doc) instead of slicing tile texts. The "
        "replica-built scale tiles suppress every batch doc (the "
        "admission-cost profile); this profile makes every doc a "
        "SURVIVOR so the post-admission sinks — embed, IVF append, "
        "postings append + stats bump, dedup-band append — do full "
        "per-batch work (the production-mode sink-cost profile).",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from vector_db_example_spark.functions.embedding import hashing_embedder
    from vector_db_example_spark.index.dedupidx import (
        DedupIndex,
        build_dedup_index,
    )
    from vector_db_example_spark.index.inverted import (
        InvertedIndex,
        build_inverted_index,
    )
    from vector_db_example_spark.index.ivf import IVFIndex, build_ivf_index
    from vector_db_example_spark.operators.dedup import contamination_fingerprint
    from vector_db_example_spark.session import get_spark
    from vector_db_example_spark.sources.tables import load_table, widen_cpu_dense
    from vector_db_example_spark.streaming.crawl import stream_crawl_ingest

    spark = get_spark(app_name="crawl-loop-scale")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="crawl_scale_")
    try:
        docs = load_table(spark, args.sf_dir, "documents").select("doc_id", "text")
        corpus = docs.filter(F.col("doc_id") % 3 < 2)
        n_corpus = corpus.count()
        t0 = time.perf_counter()
        build_dedup_index(corpus, f"{work}/dedup")
        t_dedup = time.perf_counter() - t0
        embedded = widen_cpu_dense(corpus).withColumn(
            "embedding", hashing_embedder(64)(F.col("text"))
        )
        t0 = time.perf_counter()
        build_ivf_index(embedded, f"{work}/ivf", nlist=16, id_col="doc_id")
        t_ivf = time.perf_counter() - t0
        print(
            f"corpus={n_corpus} docs  dedup build {t_dedup:.1f}s  "
            f"ivf build {t_ivf:.1f}s",
            flush=True,
        )
        bench_fps = None
        if "production" in args.modes:
            # the production configuration's extra sinks/gates: an
            # inverted-postings layout over the same corpus and a
            # held-out benchmark fingerprint set (broadcast per batch)
            t0 = time.perf_counter()
            build_inverted_index(corpus, f"{work}/inv")
            t_inv = time.perf_counter() - t0
            bench_fps = (
                docs.filter(F.col("doc_id") % 13 == 0)
                .select(contamination_fingerprint(F.col("text")).alias("fp"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            print(f"inverted build {t_inv:.1f}s", flush=True)

        # Crawl batches: fresh (%3==2) texts, disjoint slices per batch,
        # suffixed within-batch variants so both filter paths do real work.
        # Under --fresh, replace each text with 40 unique letter-only
        # words (md5 of doc_id+position, digits translated to letters so
        # the [a-zA-Z]{3,} tokenizer keeps them): zero band collisions,
        # so every doc survives admission and the sinks do full work.
        fresh = docs.filter(F.col("doc_id") % 3 == 2)
        if args.fresh:
            fresh = fresh.select(
                "doc_id",
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(39)),
                        lambda i: F.translate(
                            F.md5(
                                F.concat_ws("|", F.col("doc_id").cast("string"),
                                            i.cast("string"))
                            ),
                            "0123456789",
                            "ghijklmnop",
                        ),
                    ),
                    " ",
                ).alias("text"),
            )
        src_master = f"{work}/src"
        os.makedirs(src_master)
        for b in range(args.batches):
            bdf = (
                fresh.filter((F.col("doc_id") % args.batches) == b)
                .limit(args.batch_docs)
                .select(
                    (F.col("doc_id") + (b + 1) * 100_000_000).alias("doc_id"),
                    "text",
                )
            )
            stage = f"{work}/stage_{b}"
            bdf.coalesce(1).write.mode("overwrite").parquet(stage)
            part = glob.glob(f"{stage}/part-*.parquet")[0]
            dest = f"{src_master}/b{b}.parquet"
            shutil.copyfile(part, dest)
            os.utime(dest, (1_000_000_000 + b * 100, 1_000_000_000 + b * 100))
            shutil.rmtree(stage, ignore_errors=True)

        for mode in args.modes:
            mdir = f"{work}/{mode}"
            shutil.copytree(f"{work}/dedup", f"{mdir}/dedup")
            shutil.copytree(DedupIndex.load(f"{work}/dedup").sigs_path,
                            f"{mdir}/dedup_sigs")
            shutil.copytree(f"{work}/ivf", f"{mdir}/ivf")
            didx = DedupIndex.load(f"{mdir}/dedup")
            vidx = IVFIndex.load(f"{mdir}/ivf")
            iidx = None
            if mode == "production":
                shutil.copytree(f"{work}/inv", f"{mdir}/inv")
                iidx = InvertedIndex.load(f"{mdir}/inv")
            t0 = time.perf_counter()
            totals = stream_crawl_ingest(
                spark,
                src_master,
                didx,
                vidx,
                f"{mdir}/ckpt",
                verdict_path=f"{mdir}/verdicts",
                max_files_per_trigger=1,
                verified=(mode in ("verified", "production")),
                benchmark_fps=bench_fps if mode == "production" else None,
                inverted_index=iidx,
            )
            wall = time.perf_counter() - t0
            per_batch = wall / max(totals["batches"], 1)
            print(
                f"{mode:9s} batches={totals['batches']} "
                f"seen={totals['seen']} accepted={totals['accepted']} "
                f"wall={wall:.2f}s  per-batch={per_batch:.2f}s",
                flush=True,
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
