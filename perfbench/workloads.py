"""The benchmark workloads: ingest_monthly and query_mix.

Each workload generates its inputs from the seed, warms up on inputs
disjoint from the timed ones, and then exposes a fixed list of ops that the
runner times in a closed loop with one client.  The amount of work is a
function of ``--seconds`` only, sized so that the timed section takes about
that long on a 4-core x86 box at local[4]; the same seed and seconds give
the same ops on every commit, so ``wall_s`` compares like with like.

In the traced run every call into the package sits inside a span named
after the layer that owns the function, and work that a span cannot split
(one lazy plan forced by one action) is split by forcing nested prefixes of
the plan after the clock stops.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import statistics
import time

import numpy as np
import pandas as pd

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
QUERY_COSTS = os.path.join(HERE, "query_costs.json")

# Nominal seconds per op at local[4] on the reference box; they only turn
# --seconds into an op count and never change once published.  QUERY_S
# includes eval_chrf's share (about 3 s of every sample).
INGEST_TICK_S = 4.0
QUERY_S = 1.45

INGEST_DOCS_PER_MONTH = 1000
INGEST_WARM_DOCS = 200
INGEST_EVAL_QUESTIONS = 12
ASK_QUESTIONS = 16
ASK_PACK_BUDGET = 200  # tokens, as in __spark_entry__.entry
QUERY_SAMPLE_TOLERANCE = 0.03
# Sampled queries warm up on sf0.01 and are timed on sf0.1.  The fixed ones
# join every sample on smaller tables: eval_chrf takes about 10 s at sf0.1,
# more than the pool's cost cap, but it is the chrF kernel's only yardstick.
QUERY_SAMPLED_SFS = ("sf0.01", "sf0.1")
QUERY_FIXED = {"eval_chrf": ("sf0.001", "sf0.01")}
WARM_ID_OFFSET = 1_000_000_000
# sha256 of pipelines.continuous_update's source when IngestMonthly._tick_in_pieces
# was last made to follow it; a traced run fails while the two differ.
CONTINUOUS_UPDATE_SHA256 = "7e2d5e94ced87204f8fe955a71129fdafe332d9704009a8a683e3a604b21ccc6"


def hash_fold(df):
    """bench.py's forcing action for large outputs: every output value is
    computed, only 8 bytes reach the driver."""
    from pyspark.sql import functions as F

    return df.agg(F.bit_xor(F.xxhash64(F.struct(*df.columns)))).collect()[0][0]


def base_texts() -> list[str]:
    """The sf0.1 documents' texts in doc_id order.  The generator reads them
    with pyarrow: making inputs is the benchmark's work, not the package's."""
    import pyarrow.parquet as pq

    from knowledge_model_spark.session import DEFAULT_SF_DIR

    table = pq.read_table(os.path.join(DEFAULT_SF_DIR, "documents.parquet"), columns=["doc_id", "text"])
    return table.sort_by("doc_id").column("text").to_pylist()


def questions_df(spark, questions: list[gen.Question]):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "query_id": [q.query_id for q in questions],
                "query_text": [q.query_text for q in questions],
                "expected_doc_id": [q.expected_doc_id for q in questions],
            }
        )
    )


def timed_prefixes(prefixes: list) -> list[float]:
    """Force each plan with the hash fold; return the time each added over
    the previous one, i.e. the self time of the step it appends."""
    out, prev = [], 0.0
    for df in prefixes:
        t0 = time.perf_counter()
        hash_fold(df)
        dt = time.perf_counter() - t0
        out.append(dt - prev)
        prev = dt
    return out


def passage_probe(docs) -> dict[str, float]:
    """Nested prefixes of build_passage_index's plan (scan → +clean_text →
    +explode_passages → +hash_embed), with exact counts."""
    from pyspark.sql import functions as F

    from knowledge_model_spark.functions.chunking import explode_passages
    from knowledge_model_spark.functions.text_cleaning import clean_text
    from knowledge_model_spark.functions.vectors import hash_embed

    scan = docs.select("doc_id", "text")
    cleaned = scan.select("doc_id", clean_text(F.col("text")).alias("clean_text"))
    chunked = explode_passages(cleaned, "clean_text", ["doc_id"], 300, 50)
    embedded = chunked.withColumn("vector", hash_embed(F.col("chunk_text"), 64))
    _, clean_s, chunk_s, embed_s = timed_prefixes([scan, cleaned, chunked, embedded])
    tokens = F.filter(F.split(F.lower("chunk_text"), r"[^a-z0-9]+"), lambda w: F.length(w) > 0)
    counts = chunked.agg(
        F.count_distinct("doc_id").alias("docs"),
        F.count("*").alias("passages"),
        F.sum(F.size(tokens)).alias("tokens"),
    ).first()
    return {
        "functions.clean_s": clean_s,
        "functions.chunk_s": chunk_s,
        "functions.embed_s": embed_s,
        "functions.docs_in": counts["docs"],
        "functions.passages_out": counts["passages"],
        "functions.tokens_embedded": counts["tokens"],
    }


def ask_prefixes(index, queries) -> list:
    """The __spark_entry__.entry dataflow over ``index`` as its three
    nested prefixes: retrieve, +rerank_top_k, +pack_context."""
    from pyspark.sql import functions as F

    from knowledge_model_spark.operators.retrieval import (
        lexical_overlap_scorer,
        pack_context,
        rerank_top_k,
        retrieve,
    )

    hits = retrieve(index, queries, k=8)
    passages = index.select(
        F.concat_ws("#", F.col("doc_id"), F.col("chunk_index")).alias("__pid"), "chunk_text"
    )
    reranked = rerank_top_k(
        hits.join(queries.select("query_id", "query_text"), "query_id").join(F.broadcast(passages), "__pid"),
        lexical_overlap_scorer(),
        k=5,
        query_text="query_text",
        doc_text="chunk_text",
        tiebreak="__pid",
    )
    packed = pack_context(reranked, budget=ASK_PACK_BUDGET, order_col="re_score")
    return [hits, reranked, packed]


def ask_probe(index, queries, n_questions: int) -> dict[str, float]:
    """Self times of the ask dataflow's operators, and how many of the
    question × passage pairs brute-force scoring attempts reach the
    fallback threshold (the useful rows)."""
    from pyspark.sql import functions as F

    from knowledge_model_spark.functions.vectors import hash_embed
    from knowledge_model_spark.operators.retrieval import FALLBACK_MIN_SCORE
    from knowledge_model_spark.operators.similarity import brute_force_top_k

    prefixes = ask_prefixes(index, queries)
    hash_fold(prefixes[-1])  # untimed: starts the scorer's Python workers
    retrieve_s, rerank_s, pack_s = timed_prefixes(prefixes)
    n_passages = index.count()
    kept = brute_force_top_k(
        index.withColumn("__pid", F.concat_ws("#", "doc_id", "chunk_index")),
        queries.select("query_id", hash_embed(F.col("query_text"), 64).alias("qvec")),
        corpus_id="__pid",
        corpus_vec="vector",
        query_id="query_id",
        query_vec="qvec",
        k=n_passages,
        min_score=FALLBACK_MIN_SCORE,
        normalized=True,
    ).count()
    pairs = n_questions * n_passages
    return {
        "operators.retrieve_s": retrieve_s,
        "operators.rerank_s": rerank_s,
        "operators.pack_s": pack_s,
        "operators.pairs_scored": pairs,
        "operators.candidates_kept": kept,
        "operators.keep_ratio": kept / pairs,
    }


class Workload:
    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.n_ops = 0

    def setup(self) -> None:
        raise NotImplementedError

    def run_op(self, i: int) -> int:
        """Run op ``i`` and return the items it completed."""
        raise NotImplementedError

    def check(self) -> tuple[list[str], set[int], dict]:
        """Output checks after the clock stops: (failures, failed op
        indices, extra figures)."""
        raise NotImplementedError

    def probe(self) -> dict[str, float]:
        """Traced run only, after the clock: per-layer figures that need
        extra forcing actions."""
        return {}

    def hygiene(self) -> dict:
        return {}


class IngestMonthly(Workload):
    """One op is one continuous_update tick over one generated month, into
    a sink that starts empty.  An item is one document ingested."""

    name = "ingest_monthly"

    def setup(self) -> None:
        from knowledge_model_spark.pipelines import continuous_update

        seed, work = self.ctx.seed, self.ctx.work
        self.n_ops = max(2, round(self.ctx.seconds / INGEST_TICK_S))
        texts = base_texts()
        rng = gen.rng_for(seed, "docs")
        self.months = [
            (y, m, gen.generate_docs(texts, rng, INGEST_DOCS_PER_MONTH, i * INGEST_DOCS_PER_MONTH))
            for i, (y, m) in enumerate(gen.month_sequence(self.n_ops))
        ]
        self.source_dir = os.path.join(work, "source")
        self.sink = os.path.join(work, "sink")
        gen.write_months(self.source_dir, self.months)
        # the eval set of tick i asks about every month ingested by then
        qrng = gen.rng_for(seed, "questions")
        self.evals = [
            questions_df(
                self.spark,
                gen.generate_questions(
                    [d for _, _, docs in self.months[: i + 1] for d in docs], qrng, INGEST_EVAL_QUESTIONS, f"t{i}q"
                ),
            )
            for i in range(self.n_ops)
        ]
        self.source = self.spark.read.parquet(self.source_dir)

        # warm-up: two small ticks (empty sink, then non-empty) on other
        # documents, so both paths of first_missing_month are compiled
        wrng = gen.rng_for(seed, "warm_docs")
        warm = [
            (y, m, gen.generate_docs(texts, wrng, INGEST_WARM_DOCS, WARM_ID_OFFSET + i * INGEST_WARM_DOCS))
            for i, (y, m) in enumerate(gen.month_sequence(2))
        ]
        warm_dir = os.path.join(work, "warm_source")
        gen.write_months(warm_dir, warm)
        warm_source = self.spark.read.parquet(warm_dir)
        wq = gen.rng_for(seed, "warm_questions")
        for i in range(2):
            seen = [d for _, _, docs in warm[: i + 1] for d in docs]
            eq = questions_df(self.spark, gen.generate_questions(seen, wq, INGEST_EVAL_QUESTIONS, f"w{i}q"))
            continuous_update(self.spark, warm_source, os.path.join(work, "warm_sink"), eval_queries=eq)
        self.warm_ids = {d.doc_id for _, _, docs in warm for d in docs}
        self.reports = []

    def run_op(self, i: int) -> int:
        if self.tracer.enabled:
            report = self._tick_in_pieces(i)
        else:
            from knowledge_model_spark.pipelines import continuous_update

            report = continuous_update(self.spark, self.source, self.sink, eval_queries=self.evals[i])
        self.reports.append(report)
        y, m, _ = self.months[i]
        if report is None or (report.year, report.month) != (y, m):
            raise RuntimeError(f"tick {i} processed {report} instead of {y}-{m:02d}")
        return report.n_docs

    def _tick_in_pieces(self, i: int):
        """continuous_update's public pieces called in its order, one span
        each, so the traced run splits a tick without changing it.  Keep it
        in step with continuous_update and CONTINUOUS_UPDATE_SHA256."""
        from pyspark.sql import functions as F

        from knowledge_model_spark.operators.retrieval import recall_at_k, retrieve
        from knowledge_model_spark.pipelines import (
            RECALL_FLOOR,
            MonthReport,
            RecallGateError,
            first_missing_month,
            process_month,
        )

        span = self.tracer.span
        with span("pipelines.first_missing_month"):
            year, month = first_missing_month(self.spark, self.source, self.sink)
        with span("pipelines.process_write"):
            passages = process_month(self.source, year, month)
            passages.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
                "year", "month"
            ).parquet(self.sink)
            written = self.spark.read.parquet(self.sink).filter(
                (F.col("year") == year) & (F.col("month") == month)
            )
            n_passages = written.count()
            n_docs = written.select("doc_id").distinct().count()
        with span("pipelines.gate"):
            hits = retrieve(self.spark.read.parquet(self.sink), self.evals[i]).withColumn(
                "doc_id", F.split(F.col("__pid"), "#").getItem(0).cast("long")
            )
            recall = float(recall_at_k(hits, self.evals[i], k=10).first()["recall"])
        if recall < RECALL_FLOOR:
            raise RecallGateError(f"recall@10 {recall:.3f} < floor {RECALL_FLOOR}")
        return MonthReport(year, month, n_docs, n_passages, recall)

    def check(self):
        from pyspark.sql import functions as F

        if not os.path.isdir(self.sink):
            return ["no sink was written"], set(range(self.n_ops)), {"recall_at_10": 0.0}
        failures = []
        present = sorted(
            (int(y.split("=")[1]), int(m.split("=")[1]))
            for y in os.listdir(self.sink)
            if y.startswith("year=")
            for m in os.listdir(os.path.join(self.sink, y))
            if m.startswith("month=")
        )
        wanted = [(y, m) for y, m, _ in self.months]
        if present != wanted:
            failures.append(f"sink months {present} != generated {wanted}")
        sink = self.spark.read.parquet(self.sink)
        per_month = {
            (r["year"], r["month"]): r["n"]
            for r in sink.groupBy("year", "month").agg(F.count_distinct("doc_id").alias("n")).collect()
        }
        failed_ops = set()
        for i, (y, m, docs) in enumerate(self.months):
            if per_month.get((y, m)) != len(docs):
                failures.append(f"{y}-{m:02d}: {per_month.get((y, m))} docs in sink, generated {len(docs)}")
                failed_ops.add(i)
        keys = sink.select("doc_id", "chunk_index")
        if keys.count() != keys.distinct().count():
            failures.append("(doc_id, chunk_index) is not unique in the sink")
        recalls = [r.recall for r in self.reports if r is not None]
        return failures, failed_ops, {"recall_at_10": statistics.fmean(recalls) if recalls else 0.0}

    def probe(self):
        # the last tick's month, so a traced run stays well inside its time limit
        y, m, _ = self.months[-1]
        out = passage_probe(self.source.filter((self.source.year == y) & (self.source.month == m)))
        # the ask dataflow reads the layout ingest wrote
        all_docs = [d for _, _, docs in self.months for d in docs]
        qs = gen.generate_questions(all_docs, gen.rng_for(self.ctx.seed, "ask"), ASK_QUESTIONS, "a")
        out.update(ask_probe(self.spark.read.parquet(self.sink), questions_df(self.spark, qs), len(qs)))
        return out

    def hygiene(self):
        timed = {d.doc_id for _, _, docs in self.months for d in docs}
        out = {"warmup_disjoint": not (timed & self.warm_ids)}
        if self.tracer.enabled:
            out["tick_copy_current"] = continuous_update_sha256() == CONTINUOUS_UPDATE_SHA256
        return out


class QueryMix(Workload):
    """A seeded, module-stratified sample of registry queries, plus the
    fixed queries of QUERY_FIXED.  Set-up warms every query on its warm-up
    tables; one op builds and forces one of them on its timed tables, as
    bench.py does.  An item is one query."""

    name = "query_mix"

    def setup(self) -> None:
        import bench
        from knowledge_model_spark.plans import load_registry
        from knowledge_model_spark.session import DEFAULT_SF_DIR, load_tables

        self.force_collect = bench.HEADLINE
        self.registry = load_registry()
        root = os.path.dirname(DEFAULT_SF_DIR.rstrip("/"))
        with open(QUERY_COSTS) as fh:
            table = json.load(fh)
        self.memo_groups = table["memo_groups"]
        if self.ctx.queries:
            sampled, fixed = list(self.ctx.queries), {}
        else:
            size = max(4, round(self.ctx.seconds / QUERY_S)) - len(QUERY_FIXED)
            rng = gen.rng_for(self.ctx.seed, "sample")
            sampled = gen.sample_queries(table["pool"], rng, size, QUERY_SAMPLE_TOLERANCE)
            fixed = QUERY_FIXED
        plan = [(n, *QUERY_SAMPLED_SFS) for n in sampled] + [(n, *sfs) for n, sfs in fixed.items()]
        # (name, warm-up tables, timed tables)
        self.plan = [(n, os.path.join(root, w), os.path.join(root, t)) for n, w, t in plan]
        self.sample = [n for n, _, _ in self.plan]
        self.n_ops = len(self.plan)
        for sf in sorted({sf for _, w, t in self.plan for sf in (w, t)}):
            with self.tracer.span("session.load_tables"):
                load_tables(self.spark, sf)
        self.warm_calls, self.timed_calls = set(), set()
        self.warm_rows = {}  # name → (tables, output) of the oracled queries
        for name, warm, _ in self.plan:
            self.warm_calls.add((name, warm))
            df = self.registry[name].fn(self.spark, warm)
            if self.registry[name].oracle is not None:
                self.warm_rows[name] = (warm, df.toPandas())
            else:
                self._force(name, df)
            self.spark.catalog.clearCache()

    def _force(self, name, df):
        return df.collect() if self.force_collect[name] else hash_fold(df)

    def run_op(self, i: int) -> int:
        name, _, timed = self.plan[i]
        self.timed_calls.add((name, timed))
        module = self.registry[name].fn.__module__.rsplit(".", 1)[-1].removesuffix("_queries")
        with self.tracer.span(f"plans.{module}.build"):
            df = self.registry[name].fn(self.spark, timed)
        with self.tracer.span(f"plans.{module}.exec"):
            self._force(name, df)
        return 1

    def check(self):
        from tests.test_oracle_parity import _canon, _duck, _values_equal

        failures = []
        for sf in sorted({sf for sf, _ in self.warm_rows.values()}):
            con = _duck(sf)
            try:
                for name, (rows_sf, sdf) in self.warm_rows.items():
                    if rows_sf != sf:
                        continue
                    tables = os.path.basename(sf)
                    odf = con.execute(self.registry[name].oracle).df()
                    if sorted(sdf.columns) != sorted(odf.columns) or len(sdf) != len(odf):
                        failures.append(f"{name}: shape differs from its oracle at {tables}")
                        continue
                    sc, oc = _canon(sdf), _canon(odf)
                    if not all(
                        _values_equal(a, b) for c in sc.columns for a, b in zip(sc[c].tolist(), oc[c].tolist())
                    ):
                        failures.append(f"{name}: values differ from its oracle at {tables}")
            finally:
                con.close()
        failed_ops = {i for i, n in enumerate(self.sample) if any(f.startswith(n + ":") for f in failures)}
        return failures, failed_ops, {"oracled": len(self.warm_rows), "sample": self.sample}

    def hygiene(self):
        return {
            # no query ran on the same tables in the warm-up and the timed section
            "warmup_disjoint": not (self.warm_calls & self.timed_calls),
            # at most one query of each group that shares a module-level memo
            "memo_groups_disjoint": all(len(set(g) & set(self.sample)) <= 1 for g in self.memo_groups),
        }


WORKLOADS = {w.name: w for w in (IngestMonthly, QueryMix)}


def continuous_update_sha256() -> str:
    from knowledge_model_spark.pipelines import continuous_update

    return hashlib.sha256(inspect.getsource(continuous_update).encode()).hexdigest()


def geomean(xs: list[float]) -> float:
    return float(np.exp(np.mean(np.log(xs))))
