"""Seeded input generator: Zipf-text documents, crawl batches with
planted duplicates, and retrieval questions.

Everything here is pure Python/numpy/pyarrow: the package under test
receives only the parquet files written by ``write_docs``. The same seed
always yields the same files and the same planted labels.

Planted labels of a crawl batch document:

- ``fresh``        new text; must be admitted
- ``exact``        byte copy of a corpus document's text
- ``near``         a corpus document with two tokens replaced
                   (word 3-shingle Jaccard about 0.8)
- ``within``       byte copy of a fresh document of the same batch,
                   with a higher id than its original
- ``contaminated`` shares its first 64 characters with a held-out
                   benchmark document (the decontamination fingerprint)
- ``boilerplate``  a shared template plus a two-token suffix; the corpus
                   holds ``BOILERPLATE_CORPUS`` such documents, so their
                   band keys are over ``candidate_cap``
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 20_000
ZIPF_S = 1.07
DOC_TOKENS = (40, 90)
BOILERPLATE_CORPUS = 150
BENCHMARK_DOCS = 400

#: Share of each planted kind in a crawl batch (the rest is fresh).
BATCH_MIX = {
    "exact": 0.08,
    "near": 0.08,
    "within": 0.05,
    "contaminated": 0.04,
    "boilerplate": 0.05,
}

#: Kinds the dedup gate must flag (``dup_recall``'s denominator).
DUP_KINDS = ("exact", "near", "within", "boilerplate")

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass
class Batch:
    ids: list[int]
    texts: list[str]
    labels: list[str]


@dataclass
class Question:
    qid: int
    kind: str  # vector | keyword | hybrid
    terms: list[str]
    rarity: str  # common | rare
    passage: str = ""

    @property
    def text(self) -> str:
        """What the vector leg embeds: the terms plus a passage."""
        return " ".join([*self.terms, self.passage]).strip()


@dataclass
class TextModel:
    """Zipf unigram model over a seeded letter-only vocabulary (every
    word matches the package tokenizer's ``[a-zA-Z]{3,}``)."""

    rng: np.random.RandomState
    vocab: np.ndarray = field(init=False)
    cdf: np.ndarray = field(init=False)

    def __post_init__(self) -> None:
        words: dict[str, None] = {}
        while len(words) < VOCAB_SIZE:
            n = self.rng.randint(3, 10)
            words.setdefault("".join(self.rng.choice(_LETTERS, n)), None)
        self.vocab = np.array(list(words))
        w = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
        self.cdf = np.cumsum(w / w.sum())

    def tokens(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random_sample(n), side="right")
        return list(self.vocab[np.minimum(idx, VOCAB_SIZE - 1)])

    def doc(self) -> str:
        return " ".join(self.tokens(self.rng.randint(*DOC_TOKENS)))

    def docs(self, n: int) -> list[str]:
        return [self.doc() for _ in range(n)]

    def near_copy(self, text: str) -> str:
        toks = text.split()
        for pos in self.rng.choice(len(toks), 2, replace=False):
            toks[pos] = self.tokens(1)[0] + "q"  # never the original token
        return " ".join(toks)


def write_docs(path: str, ids: list[int], texts: list[str]) -> int:
    """One parquet file ``(doc_id long, text string)``; returns its size."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.table(
        {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
    )
    pq.write_table(table, path)
    return os.path.getsize(path)


class Generator:
    """All inputs of one run, derived from one seed."""

    def __init__(self, seed: int) -> None:
        self.model = TextModel(np.random.RandomState(seed))
        rng = self.model.rng
        self.template = " ".join(self.model.tokens(60))
        self.benchmark_texts = self.model.docs(BENCHMARK_DOCS)
        self._next_id = 0
        self._rng = rng

    def _ids(self, n: int) -> list[int]:
        out = list(range(self._next_id, self._next_id + n))
        self._next_id += n
        return out

    def _boilerplate(self) -> str:
        return f"{self.template} {' '.join(self.model.tokens(2))}"

    def corpus(self, n: int) -> tuple[list[int], list[str]]:
        """``n`` documents, the last ``BOILERPLATE_CORPUS`` of them
        boilerplate (so the template's band keys are over the cap)."""
        n_boiler = min(BOILERPLATE_CORPUS, n // 10)
        texts = self.model.docs(n - n_boiler)
        texts += [self._boilerplate() for _ in range(n_boiler)]
        self.corpus_texts = texts
        self.n_plain = n - n_boiler
        return self._ids(n), texts

    def batch(self, size: int) -> Batch:
        """One crawl file's documents. Ids continue after the corpus and
        every earlier batch, so ids never repeat."""
        rng = self._rng
        counts = {k: int(round(size * f)) for k, f in BATCH_MIX.items()}
        n_fresh = size - sum(counts.values())
        texts, labels = self.model.docs(n_fresh), ["fresh"] * n_fresh
        for src in rng.choice(self.n_plain, counts["exact"], replace=False):
            texts.append(self.corpus_texts[src])
            labels.append("exact")
        for src in rng.choice(self.n_plain, counts["near"], replace=False):
            texts.append(self.model.near_copy(self.corpus_texts[src]))
            labels.append("near")
        for src in rng.choice(BENCHMARK_DOCS, counts["contaminated"], replace=False):
            head = self.benchmark_texts[src]
            texts.append(f"{head} {' '.join(self.model.tokens(5))}")
            labels.append("contaminated")
        for _ in range(counts["boilerplate"]):
            texts.append(self._boilerplate())
            labels.append("boilerplate")
        order = rng.permutation(len(texts))
        texts = [texts[i] for i in order]
        labels = [labels[i] for i in order]
        # Within-batch copies take the highest ids, so each one has a
        # lower-id original that the gate admits.
        fresh_pos = [i for i, lab in enumerate(labels) if lab == "fresh"]
        for pos in rng.choice(fresh_pos, counts["within"], replace=False):
            texts.append(texts[pos])
            labels.append("within")
        return Batch(self._ids(len(texts)), texts, labels)

    def fresh(self, n: int) -> tuple[list[int], list[str]]:
        """``n`` new documents with new ids (what the gate admits)."""
        return self._ids(n), self.model.docs(n)

    def passage(self, texts: list[str], n_tokens: int = 16) -> str:
        toks = texts[self._rng.randint(len(texts))].split()
        start = self._rng.randint(max(1, len(toks) - n_tokens))
        return " ".join(toks[start:start + n_tokens])

    def questions(self, n: int, texts: list[str], k: int) -> list[Question]:
        """``n`` questions rotating vector → keyword → hybrid; each kind
        alternates common terms (ranks 10–300) and rare terms (ranks
        500–3000 that occur in at least ``k`` of ``texts``, so every
        keyword answer has ``k`` rows). Vector and hybrid questions also
        carry a 16-token passage of a random document: a few terms alone
        embed to a near-empty hashed vector whose neighbours are
        near-ties, and recall over ties measures tie order, not the
        index."""
        rng = self._rng
        df: dict[str, int] = {}
        for t in texts:
            for w in set(t.split()):
                df[w] = df.get(w, 0) + 1
        rare = np.array([w for w in self.model.vocab[500:3000] if df.get(w, 0) >= k])
        common = self.model.vocab[10:300]
        kinds = ("vector", "keyword", "hybrid")
        out = []
        for qid in range(n):
            rarity = "common" if (qid // len(kinds)) % 2 == 0 else "rare"
            pool, m = (common, 3) if rarity == "common" else (rare, 2)
            terms = [str(w) for w in rng.choice(pool, m, replace=False)]
            kind = kinds[qid % len(kinds)]
            passage = self.passage(texts) if kind != "keyword" else ""
            out.append(Question(qid, kind, terms, rarity, passage))
        return out
