"""Tests of the benchmark's input generator.

    python3 -m pytest perfbench/test_gen.py -q

Run from the repository root; the gate test starts a local[2] session.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import workloads  # noqa: E402


@pytest.fixture(scope="module")
def texts():
    return workloads.base_texts()


def _inputs(texts, seed):
    docs = gen.generate_docs(texts, gen.rng_for(seed, "docs"), 200, 0)
    questions = gen.generate_questions(docs, gen.rng_for(seed, "questions"), 50, "q")
    with open(workloads.QUERY_COSTS) as fh:
        costs = json.load(fh)["pool"]
    sample = gen.sample_queries(costs, gen.rng_for(seed, "sample"), 15, workloads.QUERY_SAMPLE_TOLERANCE)
    return docs, questions, sample


def test_same_seed_same_inputs_other_seed_other_inputs(texts):
    a, b, c = _inputs(texts, 7), _inputs(texts, 7), _inputs(texts, 8)
    assert a == b
    for x, y in zip(a, c):
        assert x != y


def test_documents_differ_in_words_and_length(texts):
    docs = gen.generate_docs(texts, gen.rng_for(3, "docs"), 300, 0)
    bags = {frozenset(d.text.split()) for d in docs}
    assert len(bags) == len(docs)
    lengths = sorted(len(d.text) for d in docs)
    assert lengths[-len(lengths) // 10] > 3 * lengths[len(lengths) // 10]


def test_questions_are_substrings_of_their_document(texts):
    docs = gen.generate_docs(texts, gen.rng_for(4, "docs"), 100, 500)
    by_id = {d.doc_id: d.text for d in docs}
    for q in gen.generate_questions(docs, gen.rng_for(4, "questions"), 200, "q"):
        assert q.query_text and q.query_text in by_id[q.expected_doc_id]


def test_query_sample_is_stratified_and_memo_free():
    with open(workloads.QUERY_COSTS) as fh:
        table = json.load(fh)
    costs = table["pool"]
    for seed in range(5):
        sample = gen.sample_queries(costs, gen.rng_for(seed, "sample"), 15, workloads.QUERY_SAMPLE_TOLERANCE)
        assert len(set(sample)) == 15
        for group in table["memo_groups"]:
            assert len(set(group) & set(sample)) <= 1


def test_gate_passes_at_the_benchmark_size(texts, tmp_path):
    from knowledge_model_spark.pipelines import RECALL_FLOOR, continuous_update
    from knowledge_model_spark.session import get_spark

    spark = get_spark("perfbench-test", cpus=2)
    rng = gen.rng_for(11, "docs")
    months = [
        (y, m, gen.generate_docs(texts, rng, workloads.INGEST_DOCS_PER_MONTH, i * workloads.INGEST_DOCS_PER_MONTH))
        for i, (y, m) in enumerate(gen.month_sequence(2))
    ]
    gen.write_months(str(tmp_path / "source"), months)
    source = spark.read.parquet(str(tmp_path / "source"))
    qrng = gen.rng_for(11, "questions")
    for i in range(2):
        seen = [d for _, _, docs in months[: i + 1] for d in docs]
        qs = gen.generate_questions(seen, qrng, workloads.INGEST_EVAL_QUESTIONS, f"t{i}q")
        report = continuous_update(
            spark, source, str(tmp_path / "sink"), eval_queries=workloads.questions_df(spark, qs)
        )
        assert report.recall >= RECALL_FLOOR
        assert report.n_docs == len(months[i][2])


def test_tick_copy_follows_continuous_update():
    # IngestMonthly._tick_in_pieces copies continuous_update's steps; when
    # the package changes the tick, update the copy and the recorded hash
    assert workloads.continuous_update_sha256() == workloads.CONTINUOUS_UPDATE_SHA256
