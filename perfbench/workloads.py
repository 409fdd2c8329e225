"""The benchmark's workloads: set-up, the closed measuring loop and the
output checks. Each drives the package only through public functions,
on files written by ``gen``.

A workload object goes through ``prepare()`` (writes the input files;
pure Python, so it overlaps the JVM start), ``setup(spark)`` (both
timed together as ``setup_s``), ``step()`` repeated by the loop in
``run.py`` (each call is one operation, timed), and ``finish()`` after
the loop, which runs the checks that need Spark and returns the
workload's quality figures.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import gen
import tracing as tr

DIM = 64
NLIST = 64
NPROBE = 8
TOP_K = 10

BASE_DOCS = 2000
BATCH_DOCS = 800
WARM_BATCH_DOCS = 100
MAX_BATCHES = 6
APPEND_DOCS = 700
QUESTIONS = 36
WARM_QUESTIONS = 3  # one of each kind
RECALL_QUERIES = 192
BM25_SAMPLE = 1


@dataclass
class Op:
    """One timed operation of the loop."""

    kind: str
    wall: float
    traced: bool
    ok: bool = True
    detail: dict = field(default_factory=dict)
    cpu: float = 0.0


class Workload:
    name = ""
    #: The loop only stops after a whole round of operations.
    round = 1

    def __init__(self, work: str, seed: int, tracer: tr.Tracer) -> None:
        self.spark = None
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.gen = gen.Generator(seed)
        self.input_bytes = 0
        self.build_wall = 0.0
        self.ops: list[Op] = []

    # -- shared set-up: corpus files and the base layouts ------------------

    def _corpus(self) -> tuple[list[int], list[str]]:
        ids, texts = self.gen.corpus(BASE_DOCS)
        self.corpus_dir = f"{self.work}/input/corpus"
        self.input_bytes += gen.write_docs(f"{self.corpus_dir}/part-0.parquet", ids, texts)
        return list(ids), list(texts)

    def _build(self, with_dedup: bool) -> None:
        """Embeddings table, IVF layout, inverted layout and (for the
        crawl) the dedup layout over the corpus: the bulk index path."""
        from pyspark.sql import functions as F

        from vector_db_example_spark.functions.embedding import hashing_embedder
        from vector_db_example_spark.index.dedupidx import build_dedup_index
        from vector_db_example_spark.index.inverted import build_inverted_index
        from vector_db_example_spark.index.ivf import build_ivf_index

        spark, span, w = self.spark, self.tracer.span, self.work
        docs = spark.read.parquet(self.corpus_dir)
        t0 = time.perf_counter()
        with span("embedding.embed"):
            docs.withColumn("embedding", hashing_embedder(DIM)(F.col("text"))).write.mode(
                "overwrite"
            ).parquet(f"{w}/embeddings")
        with span("ivf.build"):
            self.ivf = build_ivf_index(
                spark.read.parquet(f"{w}/embeddings"), f"{w}/ivf", nlist=NLIST,
                id_col="doc_id",
            )
        if with_dedup:
            with span("dedupidx.build"):
                self.dedup = build_dedup_index(docs, f"{w}/dedup")
        with span("inverted.build"):
            self.inverted = build_inverted_index(docs, f"{w}/inverted")
        self.build_wall = time.perf_counter() - t0

    def layout_dirs(self) -> list[str]:
        w = self.work
        return [f"{w}/ivf", f"{w}/ivf_tombstones", f"{w}/inverted"]

    def index_bytes_per_input_byte(self) -> float:
        return tr.du_bytes(*self.layout_dirs()) / self.input_bytes

    def layout_files(self) -> dict[str, float]:
        from vector_db_example_spark.index.stats import layout_total_file_count

        out = {"ivf.layout_files": float(layout_total_file_count(self.ivf, self.spark))}
        dedup = getattr(self, "dedup", None)
        out["dedupidx.layout_files"] = (
            float(layout_total_file_count(dedup, self.spark)) if dedup else 0.0
        )
        return out

    def traced_op(self, index: int) -> bool:
        return True


class CrawlIntake(Workload):
    """Closed loop of periodic crawl-intake jobs: each step drops one
    file of ``BATCH_DOCS`` documents into the source directory and runs
    ``stream_crawl_ingest`` once (verified mode, decontamination gate,
    inverted sink)."""

    name = "crawl_intake"

    def prepare(self) -> None:
        self._corpus()
        g = self.gen
        self.bench_dir = f"{self.work}/input/benchmark"
        gen.write_docs(
            f"{self.bench_dir}/part-0.parquet",
            list(range(10**12, 10**12 + len(g.benchmark_texts))),
            g.benchmark_texts,
        )
        # batch 0 is set-up's warm-up intake
        self.batches = [g.batch(WARM_BATCH_DOCS)]
        self.batches += [g.batch(BATCH_DOCS) for _ in range(MAX_BATCHES)]
        self.stage = f"{self.work}/input/stage"
        self.batch_bytes = [
            gen.write_docs(f"{self.stage}/b{i:03d}.parquet", b.ids, b.texts)
            for i, b in enumerate(self.batches)
        ]
        self.source = f"{self.work}/input/crawl"
        os.makedirs(self.source)

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from vector_db_example_spark.operators.dedup import contamination_fingerprint

        self.spark = spark
        self._build(with_dedup=True)
        self.fps = spark.read.parquet(self.bench_dir).select(
            contamination_fingerprint(F.col("text")).alias("fp")
        )
        self.next_batch = 0
        # The first intake of a process is far slower (stream machinery
        # and Python workers warming up), so set-up runs a small one.
        self._ingest()
        self.window_from = self.next_batch

    def _ingest(self) -> dict:
        from vector_db_example_spark.streaming.crawl import stream_crawl_ingest

        i = self.next_batch
        self.next_batch += 1
        dest = f"{self.source}/b{i:03d}.parquet"
        shutil.copyfile(f"{self.stage}/b{i:03d}.parquet", dest)
        os.utime(dest, (1_000_000_000 + i, 1_000_000_000 + i))
        self.input_bytes += self.batch_bytes[i]
        with self.tracer.span("crawl.call", batch=i):
            return stream_crawl_ingest(
                self.spark,
                self.source,
                self.dedup,
                self.ivf,
                f"{self.work}/checkpoint",
                verdict_path=f"{self.work}/verdicts",
                dim=DIM,
                benchmark_fps=self.fps,
                inverted_index=self.inverted,
                verified=True,
            )

    def can_step(self) -> bool:
        return self.next_batch < len(self.batches)

    def step(self, traced: bool) -> Op:
        i = self.next_batch
        t0 = time.perf_counter()
        totals = self._ingest()
        wall = time.perf_counter() - t0
        size = len(self.batches[i].ids)
        ok = totals.get("batches") == 1 and totals.get("seen") == size
        return Op("batch", wall, traced, ok, {"batch": i, **totals})

    def layout_dirs(self) -> list[str]:
        w = self.work
        return super().layout_dirs() + [f"{w}/dedup", f"{w}/dedup_sigs",
                                        f"{w}/dedup_tombstones"]

    def finish(self) -> dict[str, float]:
        """Checks every measured batch against its planted labels and
        the layouts; marks failed operations; returns quality figures."""
        from pyspark.sql import functions as F

        spark = self.spark
        verdicts = {
            r["doc_id"]: r
            for r in spark.read.parquet(f"{self.work}/verdicts")
            .select("doc_id", "corpus_dup", "within_dup", "contaminated")
            .collect()
        }
        first_id = self.batches[self.window_from].ids[0]
        ivf_ids = {
            r[0]
            for r in spark.read.parquet(self.ivf.path)
            .filter(F.col("doc_id") >= first_id)
            .select("doc_id")
            .collect()
        }
        inv_ids = {
            r[0]
            for r in spark.read.parquet(self.inverted.doclens_path)
            .filter(F.col("doc_id") >= first_id)
            .select("doc_id")
            .collect()
        }
        markers = {}
        for path in glob.glob(f"{self.dedup.path}/_crawl_committed/*/batch_*"):
            with open(path) as fh:
                markers[int(path.rsplit("_", 1)[1])] = json.load(fh)

        right = total = dups = dups_flagged = fresh = fresh_kept = 0
        for op in self.ops:
            i = op.detail["batch"]
            batch = self.batches[i]
            marker = markers.get(i, {})
            ok = op.ok and marker.get("seen") == len(batch.ids)
            for doc_id, label in zip(batch.ids, batch.labels):
                v = verdicts.get(doc_id)
                if v is None:
                    ok = False
                    continue
                dropped = v["corpus_dup"] or v["within_dup"] or v["contaminated"]
                total += 1
                right += dropped == (label != "fresh")
                if label in gen.DUP_KINDS:
                    dups += 1
                    dups_flagged += bool(dropped)
                if label == "fresh":
                    fresh += 1
                    fresh_kept += not dropped
                if label == "exact" and not v["corpus_dup"]:
                    ok = False
                if label == "contaminated" and not v["contaminated"]:
                    ok = False
                if not dropped and (doc_id not in ivf_ids or doc_id not in inv_ids):
                    ok = False
            op.ok = ok
            op.detail["flagged_frac"] = (
                sum(1 for d in batch.ids if d in verdicts and any(
                    verdicts[d][c] for c in ("corpus_dup", "within_dup", "contaminated")
                )) / len(batch.ids)
            )
        return {
            "answer_quality": right / max(total, 1),
            "quality.dup_recall": dups_flagged / max(dups, 1),
            "quality.fresh_kept_frac": fresh_kept / max(fresh, 1),
            "quality.ivf_recall_at_10": 0.0,
        }


class Retrieval(Workload):
    """Single questions from one closed-loop client, rotating vector
    (``ivf_search``, nprobe 8 of 64), keyword (``bm25_search_inverted``)
    and hybrid (``rrf_fuse`` of both legs). The layouts are a build plus
    two appends through the public append functions the crawl sink
    uses."""

    name = "retrieval"
    #: vector, keyword, hybrid with common terms, then with rare terms,
    #: twice over
    round = 12

    def prepare(self) -> None:
        from vector_db_example_spark.functions.embedding import hash_embed_one

        all_ids, all_texts = self._corpus()
        self.append_dirs = []
        for a in range(2):
            ids, texts = self.gen.fresh(APPEND_DOCS)
            d = f"{self.work}/input/append{a}"
            self.input_bytes += gen.write_docs(f"{d}/part-0.parquet", ids, texts)
            self.append_dirs.append(d)
            all_ids += ids
            all_texts += texts
        questions = self.gen.questions(QUESTIONS + WARM_QUESTIONS, all_texts, TOP_K)
        self.questions = questions[:QUESTIONS]
        self.warm_questions = questions[QUESTIONS:]
        self.qvec = {
            q.qid: hash_embed_one(q.text, DIM) for q in questions if q.kind != "keyword"
        }
        # Extra passage queries that only the recall figure uses, so it
        # averages over RECALL_QUERIES queries rather than a handful.
        for qid in range(len(questions), len(questions) + RECALL_QUERIES - len(self.qvec)):
            self.qvec[qid] = hash_embed_one(self.gen.passage(all_texts), DIM)
        self.exact = exact_top_k(
            all_ids, [hash_embed_one(t, DIM) for t in all_texts], self.qvec, TOP_K
        )

    def setup(self, spark) -> None:
        from pyspark.sql import functions as F

        from vector_db_example_spark.functions.embedding import hashing_embedder
        from vector_db_example_spark.index.inverted import append_to_inverted_index
        from vector_db_example_spark.index.ivf import ivf_append
        from vector_db_example_spark.operators.bm25 import bm25_topk

        self.spark = spark
        append_dirs = self.append_dirs
        self._build(with_dedup=False)
        for d in append_dirs:
            docs = spark.read.parquet(d)
            with self.tracer.span("ivf.append"):
                ivf_append(
                    self.ivf,
                    docs.withColumn("embedding", hashing_embedder(DIM)(F.col("text"))),
                )
            with self.tracer.span("inverted.append"):
                append_to_inverted_index(self.inverted, docs)

        # BM25 reference answers for a sample of keyword questions.
        docs_all = spark.read.parquet(self.corpus_dir, *append_dirs)
        sample = [q for q in self.questions if q.kind == "keyword"][:BM25_SAMPLE]
        with self.tracer.span("truth.bm25_topk"):
            self.bm25_expected = {
                q.qid: [(r["doc_id"], r["bm25"])
                        for r in bm25_topk(docs_all, q.terms, k=TOP_K).collect()]
                for q in sample
            }
        # Untraced warm-up questions of their own, one of each kind: the
        # first question of a kind in a process pays one-off start-up costs.
        tracing, self.tracer.enabled = self.tracer.enabled, False
        for q in self.warm_questions:
            self._ask(q)
        self.tracer.enabled = tracing
        self.next_q = 0

    def can_step(self) -> bool:
        return True

    def traced_op(self, index: int) -> bool:
        # alternate whole rounds, so traced and untraced questions have
        # the same mix of kinds
        return (index // self.round) % 2 == 0

    def _ranked(self, df, order):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        return df.withColumn("rank", F.row_number().over(Window.orderBy(*order)))

    def step(self, traced: bool) -> Op:
        q = self.questions[self.next_q % len(self.questions)]
        self.next_q += 1
        t0 = time.perf_counter()
        rows = self._ask(q)
        wall = time.perf_counter() - t0
        return Op(q.kind, wall, traced, self._check(q, rows), self._detail(q, rows))

    def _ask(self, q: gen.Question) -> list:
        from pyspark.sql import functions as F

        from vector_db_example_spark.index.inverted import bm25_search_inverted
        from vector_db_example_spark.index.ivf import ivf_search
        from vector_db_example_spark.operators.hybrid import rrf_fuse

        spark, span = self.spark, self.tracer.span
        with span(f"question.{q.kind}", qid=q.qid):
            if q.kind == "vector":
                with span("ivf.search"):
                    rows = ivf_search(spark, self.ivf, self.qvec[q.qid], k=TOP_K,
                                      nprobe=NPROBE, score_threshold=None).collect()
            elif q.kind == "keyword":
                with span("inverted.search"):
                    rows = bm25_search_inverted(spark, self.inverted, q.terms, k=TOP_K).collect()
            else:
                with span("ivf.search"):
                    vec = self._ranked(
                        ivf_search(spark, self.ivf, self.qvec[q.qid], k=TOP_K,
                                   nprobe=NPROBE, score_threshold=None),
                        ["distance", "doc_id"],
                    )
                with span("inverted.search"):
                    kw = self._ranked(
                        bm25_search_inverted(spark, self.inverted, q.terms, k=TOP_K),
                        [F.desc("bm25"), "doc_id"],
                    )
                with span("hybrid.fuse"):
                    rows = rrf_fuse({"vector": vec, "keyword": kw}, id_col="doc_id",
                                    top_k=TOP_K).collect()
        return rows

    def _check(self, q: gen.Question, rows) -> bool:
        if len(rows) != TOP_K:
            return False
        if q.kind == "vector":
            keys = [(r["distance"], r["doc_id"]) for r in rows]
        elif q.kind == "keyword":
            keys = [(-r["bm25"], r["doc_id"]) for r in rows]
            want = self.bm25_expected.get(q.qid)
            if want is not None and [(r["doc_id"], r["bm25"]) for r in rows] != want:
                return False
        else:
            keys = [(-r["rrf_score"], r["doc_id"]) for r in rows]
        return keys == sorted(keys)

    def _detail(self, q: gen.Question, rows) -> dict:
        return {"qid": q.qid, "ids": [r["doc_id"] for r in rows]}

    def finish(self) -> dict[str, float]:
        """IVF recall@10 at nprobe 8 over ``RECALL_QUERIES`` vector queries,
        through ``ivf_search_batch`` (one scan; the same probe lists and
        exact L2 within the probed cells as ``ivf_search``), against the
        exact top-10 from set-up. Each measured vector answer must equal
        the batch answer for its query."""
        from vector_db_example_spark.index.ivf import ivf_search_batch

        batch: dict[int, list[tuple[int, int]]] = {}
        for r in ivf_search_batch(
            self.spark, self.ivf, list(self.qvec.items()), k=TOP_K, nprobe=NPROBE
        ).collect():
            batch.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"]))
        approx = {q: [d for _, d in sorted(v)] for q, v in batch.items()}
        recall = statistics.fmean(
            len(set(approx.get(q, [])) & set(ids)) / TOP_K for q, ids in self.exact.items()
        )
        for op in self.ops:
            if op.kind == "vector" and op.detail["ids"] != approx.get(op.detail["qid"]):
                op.ok = False
        return {
            "answer_quality": recall,
            "quality.dup_recall": 0.0,
            "quality.fresh_kept_frac": 0.0,
            "quality.ivf_recall_at_10": recall,
        }


def exact_top_k(ids: list[int], vectors: list[list[float]],
                queries: dict[int, list[float]], k: int) -> dict[int, list[int]]:
    """Exact top-``k`` ids by L2 distance for each query, ties by id:
    brute force over the same hashed embeddings the layouts hold
    (``hash_embed_one`` is the embedding UDF's math, driver-side)."""
    order = np.argsort(np.asarray(ids), kind="stable")
    ids_sorted = np.asarray(ids)[order]
    docs = np.asarray(vectors, dtype=np.float64)[order]
    out = {}
    for qid, vec in queries.items():
        d = ((docs - np.asarray(vec, dtype=np.float64)) ** 2).sum(axis=1)
        out[qid] = [int(i) for i in ids_sorted[np.argsort(d, kind="stable")[:k]]]
    return out


WORKLOADS = {w.name: w for w in (CrawlIntake, Retrieval)}
