"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed gives
the same inputs, so two runs (or two commits) measured on one seed did the
same work.  The program under test receives only what these functions
produce.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Passage windows of build_passage_index's defaults (size 300, overlap 50).
PASSAGE_SIZE = 300
PASSAGE_STEP = 250

# Pseudo-words are consonant-vowel syllables: they always end in a vowel,
# so none can match a word the cleaning battery truncates or strips at
# ("references", "methods", "funding", ...).
_CONSONANTS = "bdfgklmnprstvz"
_VOWELS = "aeiou"
_SYLLABLES = [c + v for c in _CONSONANTS for v in _VOWELS]
VOCAB = [a + b for a in _SYLLABLES for b in _SYLLABLES] + [
    a + b + c for a in _SYLLABLES[:40] for b in _SYLLABLES for c in _SYLLABLES[:8]
]

# One stream per purpose, so changing how many documents one workload
# draws leaves every other stream unchanged.
_STREAMS = {"docs": 1, "questions": 2, "warm_docs": 3, "warm_questions": 4, "sample": 5, "ask": 6}


def rng_for(seed: int, purpose: str) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAMS[purpose]])


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str


@dataclass(frozen=True)
class Question:
    query_id: str
    query_text: str
    expected_doc_id: int


def generate_docs(
    base_texts: list[str], rng: np.random.Generator, n_docs: int, first_id: int
) -> list[Doc]:
    """Documents built from the base corpus: 1-3 base texts concatenated,
    interleaved with half as many words drawn from a per-document topic of
    6-20 pseudo-words.  The base corpus has a tiny shared vocabulary; the
    topic words make each document's bag of words its own, and the number
    of base texts varies the length about threefold."""
    docs = []
    vocab = len(VOCAB)
    for i in range(n_docs):
        parts = rng.integers(0, len(base_texts), size=int(rng.integers(1, 4)))
        words = " ".join(base_texts[p] for p in parts).split()
        topic = rng.integers(0, vocab, size=int(rng.integers(6, 21)))
        injected = [VOCAB[t] for t in rng.choice(topic, size=len(words) // 2)]
        merged = np.array(words + injected, dtype=object)
        merged = merged[rng.permutation(len(merged))]
        docs.append(Doc(first_id + i, " ".join(merged)))
    return docs


def n_passages(text: str) -> int:
    """Passage count build_passage_index gives a clean single-spaced text."""
    return len(range(0, max(len(text) - 1, 0) + 1, PASSAGE_STEP)) if text else 0


def generate_questions(
    docs: list[Doc], rng: np.random.Generator, n: int, prefix: str
) -> list[Question]:
    """Questions that are word-aligned substrings of one passage window of a
    generated document, each labelled with its document's id."""
    out = []
    picks = rng.choice(len(docs), size=n, replace=len(docs) < n)
    for j, d in enumerate(picks):
        doc = docs[int(d)]
        k = int(rng.integers(0, n_passages(doc.text)))
        start, end = k * PASSAGE_STEP, k * PASSAGE_STEP + PASSAGE_SIZE
        window = doc.text[start:end].split(" ")
        # drop words the window edges cut
        if start > 0 and doc.text[start - 1] != " ":
            window = window[1:]
        if end < len(doc.text) and doc.text[end] != " ":
            window = window[:-1]
        window = [w for w in window if w]
        if len(window) < 6:  # short tail window: ask about the document head
            window = doc.text[:PASSAGE_SIZE].split(" ")[:-1] or doc.text.split(" ")
        span = max(1, math.ceil(len(window) * rng.uniform(0.6, 0.9)))
        lo = int(rng.integers(0, len(window) - span + 1))
        out.append(Question(f"{prefix}{j}", " ".join(window[lo : lo + span]), doc.doc_id))
    return out


def write_docs(path: str, docs: list[Doc]) -> None:
    os.makedirs(path, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d.doc_id for d in docs], pa.int64()),
                "text": pa.array([d.text for d in docs], pa.string()),
            }
        ),
        os.path.join(path, "part-0.parquet"),
    )


def write_months(root: str, months: list[tuple[int, int, list[Doc]]]) -> None:
    """A year=/month= partitioned parquet source, one file per month."""
    for year, month, docs in months:
        write_docs(os.path.join(root, f"year={year}", f"month={month}"), docs)


def month_sequence(n: int, start_year: int = 2020) -> list[tuple[int, int]]:
    return [(start_year + i // 12, i % 12 + 1) for i in range(n)]


def sample_queries(
    costs: dict[str, dict[str, float]],
    rng: np.random.Generator,
    size: int,
    tolerance: float,
) -> list[str]:
    """A sample of registry queries, stratified by plans module, whose
    reference sum, geometric mean and median costs each lie within
    ``tolerance`` of the whole pool's scaled to ``size``.

    ``costs`` maps name → {"module", "cost"}; stratification draws each
    module's share of ``size`` (largest remainders first), and the balance
    test keeps different seeds from drawing very different amounts of
    work.  Names are returned in a seeded order.
    """
    by_module: dict[str, list[str]] = {}
    for name in sorted(costs):
        by_module.setdefault(costs[name]["module"], []).append(name)
    total = len(costs)
    quotas = {m: size * len(v) / total for m, v in by_module.items()}
    counts = {m: int(q) for m, q in quotas.items()}
    for m in sorted(quotas, key=lambda m: (counts[m] - quotas[m], m))[: size - sum(counts.values())]:
        counts[m] += 1

    pool = np.array([costs[n]["cost"] for n in sorted(costs)])
    target_sum = pool.mean() * size
    target_log = np.log(pool).mean()
    target_med = float(np.median(pool))
    for _ in range(200_000):
        names = [
            n
            for m in sorted(by_module)
            for n in rng.choice(by_module[m], size=counts[m], replace=False)
        ]
        c = np.array([costs[n]["cost"] for n in names])
        if (
            abs(c.sum() / target_sum - 1) <= tolerance
            and abs(math.exp(np.log(c).mean() - target_log) - 1) <= tolerance
            and abs(float(np.median(c)) / target_med - 1) <= tolerance
        ):
            return [names[i] for i in rng.permutation(len(names))]
    raise RuntimeError("no balanced query sample found; widen the tolerance")
