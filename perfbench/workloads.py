"""The benchmark's workloads, each driven through the engine's public
functions from one process.

- ``batch_jobs`` runs three batch jobs back to back in every pass: GLUE
  training (:class:`GlueTrain`), corpus preparation (:class:`CorpusPrep`)
  and the vector index (:class:`VectorIndex`).
- ``classify_requests`` (:class:`ClassifyRequests`) serves an exported
  model to one closed-loop client; one pass is one request.

A workload has four steps, called by ``run.py``:

- ``prepare``: the first part of set-up: load and count the inputs.
- ``warm``: the rest of set-up: a full unmeasured pass (for serving, the
  model fit, export and the first requests), so code generation and JIT
  finish before timing.
- ``run_pass``: one measured unit of work, returning the seconds spent in
  engine calls and the number of items it processed.  Output checks run
  outside the timed region and feed the ledger.
- ``probe``: traced runs only; extra counts that need their own actions.

Every engine call goes through ``Ledger.run`` so that an error or a
failed check counts as a failed operation instead of ending the run.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any

import numpy as np

import gen
from measure import Ledger
from spans import NullTracer, patched


@dataclass
class Ctx:
    spark: Any
    data: str  # generated inputs: the sf_dir the registered queries read
    out: str  # scratch output directory for sinks
    truth: dict
    seed: int
    ledger: Ledger


class Workload:
    name = ""
    kinds: tuple[str, ...] = ()
    items_noun = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def prepare(self, tracer: NullTracer) -> None:
        raise NotImplementedError

    def warm(self, tracer: NullTracer) -> None:
        self.run_pass(tracer)

    def run_pass(self, tracer: NullTracer) -> tuple[float, int]:
        raise NotImplementedError

    def quality(self) -> float:
        raise NotImplementedError

    def probe(self, tracer: NullTracer) -> dict[str, float]:
        return {}


def _expect(cond: bool, msg: str) -> str | None:
    return None if cond else msg


def _parquet_rows(path: str) -> int:
    """Row count of a Parquet directory, read from the file footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def _run_queries(w: Workload, queries: dict[str, str], tracer: NullTracer) -> float:
    """Run each registered query (name -> span) into pandas, checking its
    output with ``w._check``; returns the seconds spent in the queries."""
    from pyspark_text_classification_spark.all_queries import QUERIES

    seconds = 0.0
    for query, span in queries.items():
        def op(query=query, span=span):
            with tracer.span(span):
                return QUERIES[query](w.ctx.spark, w.ctx.data).toPandas()

        _, dt = w.ctx.ledger.run(query, op, lambda pdf, q=query: w._check(q, pdf))
        seconds += dt
    return seconds


# ---------------------------------------------------------------------------
# glue_train: the reference's own train-and-evaluate job
# ---------------------------------------------------------------------------

GLUE_TASKS = ("sst2", "qqp")
AUC_FLOOR = {"sst2": 0.70, "qqp": 0.85}


class GlueTrain(Workload):
    name = "glue_train"
    kinds = ("glue",)

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.auc: dict[str, float] = {}

    def _path(self, task: str, split: str) -> str:
        return os.path.join(self.ctx.data, task, f"{split}.tsv")

    def prepare(self, tracer: NullTracer) -> None:
        from pyspark_text_classification_spark import runner

        spark, truth = self.ctx.spark, self.ctx.truth["glue"]
        for task in GLUE_TASKS:
            for split in ("train", "dev"):
                def load(task=task, split=split):
                    with tracer.span("runner.load_glue_task"):
                        return runner.load_glue_task(spark, task, self._path(task, split)).count()

                want = truth[task][split]
                self.ctx.ledger.run(
                    f"load_glue_task.{task}.{split}",
                    load,
                    lambda n, want=want: _expect(n == want, f"{n} rows, want {want}"),
                )

    def run_pass(self, tracer: NullTracer) -> tuple[float, int]:
        from pyspark_text_classification_spark import runner

        spark, truth = self.ctx.spark, self.ctx.truth["glue"]
        layers = [
            (runner, "fit_text_classifier",
             lambda train, recipe="sst2", *a, **k: f"ml.pipelines.fit_text_classifier.{recipe}"),
            (runner, "binary_metrics", "ml.evaluate.binary_metrics"),
            (runner, "write_parquet", "sources.parquet.write_parquet"),
            (runner, "write_csv", "sources.csv.write_csv"),
            (runner, "save_model", "ml.pipelines.save_model"),
        ]
        seconds = 0.0
        for task in GLUE_TASKS:
            out_dir = os.path.join(self.ctx.out, "glue", task)

            def job(task=task, out_dir=out_dir):
                with patched(tracer, layers), tracer.span(f"runner.run_glue_task.{task}"):
                    return runner.run_glue_task(
                        spark, task, self._path(task, "train"), self._path(task, "dev"), out_dir
                    )

            def check(metrics, task=task, out_dir=out_dir):
                n = _parquet_rows(os.path.join(out_dir, "predictions.parquet"))
                want = truth[task]["dev"]
                if n != want:
                    return f"{n} dev predictions, want {want}"
                self.auc[task] = metrics["auc"]
                return _expect(
                    metrics["auc"] >= AUC_FLOOR[task],
                    f"dev AUC {metrics['auc']:.4f} below floor {AUC_FLOOR[task]}",
                )

            _, dt = self.ctx.ledger.run(f"run_glue_task.{task}", job, check)
            seconds += dt
        return seconds, sum(truth[t]["train"] for t in GLUE_TASKS)

    def quality(self) -> float:
        """Mean dev AUC over the two recipes."""
        return sum(self.auc.values()) / len(self.auc) if self.auc else 0.0

    def probe(self, tracer: NullTracer) -> dict[str, float]:
        return {"ml.evaluate.dev_auc": self.quality()}


# ---------------------------------------------------------------------------
# corpus_prep: the LLM data-prep extension
# ---------------------------------------------------------------------------

CORPUS_QUERIES = {
    "pipeline_full_prep": "operators.pipeline.pipeline_full_prep",
    "dedup_minhash_lsh": "operators.dedup.dedup_minhash_lsh",
    "dedup_simhash": "operators.dedup.dedup_simhash",
    "text_quality": "operators.textstats.text_quality",
}
LSH_THRESHOLD = 0.8


class CorpusPrep(Workload):
    name = "corpus_prep"
    kinds = ("docs",)

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        t = ctx.truth["docs"]
        self.n_docs = t["n_docs"]
        # planted near-duplicate pairs the 0.8 threshold should return
        self.near = {(a, b): j for a, b, j in t["near_pairs"] if j >= LSH_THRESHOLD}
        self.recall = 0.0
        self.n_pairs = 0

    def prepare(self, tracer: NullTracer) -> None:
        from pyspark_text_classification_spark.sources.parquet import load_table

        def load():
            with tracer.span("sources.parquet.load_table"):
                return load_table(self.ctx.spark, self.ctx.data, "documents").count()

        self.ctx.ledger.run(
            "load_table.documents", load,
            lambda n: _expect(n == self.n_docs, f"{n} documents, want {self.n_docs}"),
        )

    def _check(self, query: str, pdf) -> str | None:
        truth = self.ctx.truth["docs"]
        if query == "pipeline_full_prep":
            absorbed = int(pdf["dup_copies_absorbed"].sum())
            kept = int(pdf["n_docs"].sum())
            want = truth["exact_dup_copies"]
            return _expect(
                absorbed == want and kept == self.n_docs - want,
                f"absorbed {absorbed} copies and kept {kept} docs, want {want} and {self.n_docs - want}",
            )
        if query == "dedup_minhash_lsh":
            if len(pdf) and float(pdf["jaccard"].min()) < LSH_THRESHOLD:
                return "pair below the Jaccard threshold"
            got = dict(zip(zip(pdf["doc_a"].tolist(), pdf["doc_b"].tolist()), pdf["jaccard"].tolist()))
            wrong = [p for p, j in self.near.items() if p in got and abs(got[p] - j) > 1e-4]
            if wrong:
                return f"{len(wrong)} planted pairs with a wrong Jaccard, e.g. {wrong[0]}"
            self.n_pairs = len(pdf)
            self.recall = sum(p in got for p in self.near) / len(self.near)
            return _expect(self.recall >= 0.9, f"planted-pair recall {self.recall:.4f} below 0.9")
        if query == "dedup_simhash":
            return _expect(
                len(pdf) == self.n_docs and pdf["doc_id"].is_unique,
                f"{len(pdf)} fingerprints for {self.n_docs} documents",
            )
        scores = pdf["quality_score"]
        return _expect(
            len(pdf) == self.n_docs and bool(((scores >= 0) & (scores <= 1)).all()),
            f"{len(pdf)} quality rows for {self.n_docs} documents, or a score outside [0, 1]",
        )

    def run_pass(self, tracer: NullTracer) -> tuple[float, int]:
        return _run_queries(self, CORPUS_QUERIES, tracer), self.n_docs

    def quality(self) -> float:
        """Share of planted near-duplicate pairs (true Jaccard >= 0.8)
        that dedup_minhash_lsh returns."""
        return self.recall

    def probe(self, tracer: NullTracer) -> dict[str, float]:
        from pyspark_text_classification_spark.operators.dedup import (
            lsh_candidate_pairs,
            minhash_band_signatures,
            shingle_hashes,
        )
        from pyspark_text_classification_spark.sources.parquet import load_table

        def count():
            with tracer.span("operators.dedup.lsh_candidate_pairs"):
                docs = load_table(self.ctx.spark, self.ctx.data, "documents")
                return lsh_candidate_pairs(minhash_band_signatures(shingle_hashes(docs, 2))).count()

        n, _ = self.ctx.ledger.run("lsh_candidate_pairs", count, lambda n: _expect(n >= self.n_pairs, f"{n} candidates < {self.n_pairs} verified pairs"))
        n = n or 0
        return {
            "operators.dedup.dup_recall": self.recall,
            "operators.dedup.lsh_candidate_pairs": float(n),
            "operators.dedup.lsh_useful_ratio": self.n_pairs / n if n else 0.0,
        }


# ---------------------------------------------------------------------------
# vector_index: IVF index build and serve (reads) next to append and delete
# (writes)
# ---------------------------------------------------------------------------

VECTOR_QUERIES = {
    "similarity_ann_ivf_auto": "operators.similarity.similarity_ann_ivf_auto",
    "similarity_ivf_pq_auto": "operators.pq.similarity_ivf_pq_auto",
    "similarity_ivf_append": "operators.similarity.similarity_ivf_append",
    "similarity_ivf_delete": "operators.similarity.similarity_ivf_delete",
}
TOP_K = 5
RECALL_FLOOR = 0.8


class VectorIndex(Workload):
    name = "vector_index"
    kinds = ("vecs",)

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.n = ctx.truth["vecs"]["n_vectors"]
        vecs, _ = gen.embedding_matrix(ctx.seed, self.n)
        # the served batch is every vector (n is below the 4096 batch cap)
        self.exact = gen.exact_topk(vecs, np.arange(self.n), TOP_K)
        self.recall = 0.0

    def prepare(self, tracer: NullTracer) -> None:
        from pyspark_text_classification_spark.sources.parquet import load_table

        def load():
            with tracer.span("sources.parquet.load_table"):
                return load_table(self.ctx.spark, self.ctx.data, "embeddings").count()

        self.ctx.ledger.run(
            "load_table.embeddings", load,
            lambda n: _expect(n == self.n, f"{n} vectors, want {self.n}"),
        )

    def _check(self, query: str, pdf) -> str | None:
        n = self.n
        if query == "similarity_ann_ivf_auto":
            if len(pdf) != n * TOP_K or (pdf["vec_id"] == pdf["neighbor_id"]).any():
                return f"{len(pdf)} neighbour rows for {n} queries, or a self match"
            got = pdf.sort_values(["vec_id", "rank"])["neighbor_id"].to_numpy().reshape(n, TOP_K)
            hits = sum(len(np.intersect1d(g, e)) for g, e in zip(got, self.exact))
            self.recall = hits / (n * TOP_K)
            return _expect(self.recall >= RECALL_FLOOR, f"recall@5 {self.recall:.4f} below {RECALL_FLOOR}")
        if query == "similarity_ivf_pq_auto":
            from pyspark_text_classification_spark.operators.pq import PQ_QUERY_MOD

            want = len(range(0, n, PQ_QUERY_MOD)) * TOP_K
            return _expect(
                len(pdf) == want and bool((pdf["q_id"] % PQ_QUERY_MOD == 0).all()),
                f"{len(pdf)} PQ neighbour rows, want {want}",
            )
        if query == "similarity_ivf_append":
            total, appended = int(pdf["n_total"].sum()), int(pdf["n_appended"].sum())
            return _expect(
                total == n and appended == n - n // 2,
                f"n_total sums to {total} and n_appended to {appended}, want {n} and {n - n // 2}",
            )
        from pyspark_text_classification_spark.operators.similarity import DELETE_MOD, DELETE_REM

        members, deleted = int(pdf["n_members"].sum()), int(pdf["n_deleted"].sum())
        want = len(range(DELETE_REM, n, DELETE_MOD))
        return _expect(
            members == n and deleted == want,
            f"{members} members and {deleted} tombstones, want {n} and {want}",
        )

    def run_pass(self, tracer: NullTracer) -> tuple[float, int]:
        return _run_queries(self, VECTOR_QUERIES, tracer), self.n

    def quality(self) -> float:
        """recall@5 of similarity_ann_ivf_auto against the exact top-5."""
        return self.recall

    def probe(self, tracer: NullTracer) -> dict[str, float]:
        return {"operators.similarity.recall_at_5": self.recall}


# ---------------------------------------------------------------------------
# batch_jobs: the three batch jobs, back to back in one pass
# ---------------------------------------------------------------------------


class BatchJobs(Workload):
    name = "batch_jobs"
    parts = (GlueTrain, CorpusPrep, VectorIndex)
    kinds = tuple(k for p in parts for k in p.kinds)
    items_noun = "input rows (GLUE train rows, documents and vectors)"

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.jobs = [p(ctx) for p in self.parts]

    def prepare(self, tracer: NullTracer) -> None:
        for job in self.jobs:
            job.prepare(tracer)

    def warm(self, tracer: NullTracer) -> None:
        """One untraced pass of each job, the three jobs run concurrently.
        Run one after another they take about 54 s instead of about 35 s
        on 4 cores, and 48 runs of this workload and ``classify_requests``
        then need more than an hour."""
        with ThreadPoolExecutor(len(self.jobs)) as pool:
            for f in [pool.submit(job.run_pass, NullTracer()) for job in self.jobs]:
                f.result()

    def run_pass(self, tracer: NullTracer) -> tuple[float, int]:
        seconds, items = 0.0, 0
        for job in self.jobs:
            dt, n = job.run_pass(tracer)
            seconds += dt
            items += n
        return seconds, items

    def quality(self) -> float:
        """Product of the jobs' quality ratios (dev AUC, near-duplicate
        recall, recall@5), so a relative loss in any one shows at full size."""
        return float(np.prod([job.quality() for job in self.jobs]))

    def probe(self, tracer: NullTracer) -> dict[str, float]:
        out: dict[str, float] = {}
        for job in self.jobs:
            out.update(job.probe(tracer))
        return out


# ---------------------------------------------------------------------------
# classify_requests: closed-loop serving of an exported model
# ---------------------------------------------------------------------------

REQUEST_TEXTS = 256
POOL = 4096
WARM_REQUESTS = 10


class ClassifyRequests(Workload):
    name = "classify_requests"
    kinds = ("requests",)
    items_noun = "texts"

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.texts, self.planted = gen.sst2_texts(ctx.seed, POOL)
        self.expected: np.ndarray | None = None
        self.p1: np.ndarray | None = None
        self.served = 0
        self.correct = 0
        self.i = 0

    def _train_path(self) -> str:
        return os.path.join(self.ctx.data, "requests", "sst2", "train.tsv")

    def prepare(self, tracer: NullTracer) -> None:
        from pyspark_text_classification_spark import runner

        want = self.ctx.truth["requests"]["sst2"]["train"]

        def load():
            with tracer.span("runner.load_glue_task"):
                return runner.load_glue_task(self.ctx.spark, "sst2", self._train_path()).count()

        self.ctx.ledger.run("load_glue_task.sst2.train", load, lambda n: _expect(n == want, f"{n} rows, want {want}"))

    def warm(self, tracer: NullTracer) -> None:
        """Fit and export the model, label the request pool with
        ``model.transform`` for the checks, then send the first requests."""
        import pandas as pd
        from pyspark.ml.functions import vector_to_array
        from pyspark.sql import functions as F

        from pyspark_text_classification_spark import runner
        from pyspark_text_classification_spark.ml.inference import (
            ExportedScorerFactory,
            export_lr_scorer,
        )
        from pyspark_text_classification_spark.ml.pipelines import fit_text_classifier

        spark = self.ctx.spark

        def fit():
            train = runner.load_glue_task(spark, "sst2", self._train_path())
            with tracer.span("ml.pipelines.fit_text_classifier.sst2"):
                model = fit_text_classifier(train, recipe="sst2")
            return model, ExportedScorerFactory(export_lr_scorer(model))

        (self.model, self.factory), _ = self.ctx.ledger.run(
            "fit_and_export", fit,
            lambda mf: _expect(len(mf[1].export["vocab"]) > 0, "empty exported vocabulary"),
        )
        pool = spark.createDataFrame(pd.DataFrame({"doc_id": np.arange(POOL, dtype=np.int64), "text": self.texts}))

        def expected():
            return (
                self.model.transform(pool)
                .select("doc_id", "prediction", vector_to_array(F.col("probability"))[1].alias("p1"))
                .toPandas()
                .sort_values("doc_id")
            )

        pdf, _ = self.ctx.ledger.run(
            "expected_labels", expected,
            lambda pdf: _expect(len(pdf) == POOL, f"{len(pdf)} expected labels, want {POOL}"),
        )
        self.expected = pdf["prediction"].to_numpy().astype(np.int64)
        self.p1 = pdf["p1"].to_numpy()
        for _ in range(WARM_REQUESTS):
            self.run_pass(tracer)
        self.served = self.correct = 0

    def run_pass(self, tracer: NullTracer) -> tuple[float, int]:
        import pandas as pd

        from pyspark_text_classification_spark.ml.inference import batch_infer

        spark = self.ctx.spark
        lo = (self.i * REQUEST_TEXTS) % POOL
        self.i += 1
        ids = np.arange(lo, lo + REQUEST_TEXTS, dtype=np.int64)
        pdf = pd.DataFrame({"doc_id": ids, "text": [self.texts[j] for j in ids]})

        def request():
            with tracer.span("client.create_df"):
                df = spark.createDataFrame(pdf)
            with tracer.span("ml.inference.batch_infer"):
                return batch_infer(df, model_factory=self.factory).collect()

        def check(rows):
            if len(rows) != REQUEST_TEXTS:
                return f"{len(rows)} responses for {REQUEST_TEXTS} texts"
            got = np.array([r.predicted_label for r in rows], dtype=np.int64)
            idx = np.array([r.doc_id for r in rows], dtype=np.int64)
            if sorted(idx.tolist()) != ids.tolist():
                return "responses do not cover the request's ids"
            decided = np.abs(self.p1[idx] - 0.5) > 1e-9
            bad = int(((got != self.expected[idx]) & decided).sum())
            self.served += len(rows)
            self.correct += int((got == np.asarray(self.planted)[idx]).sum())
            return _expect(bad == 0, f"{bad} labels differ from model.transform")

        _, dt = self.ctx.ledger.run("request", request, check)
        return dt, REQUEST_TEXTS

    def quality(self) -> float:
        """Accuracy of the served labels against the planted labels."""
        return self.correct / self.served if self.served else 0.0


WORKLOADS = {w.name: w for w in (BatchJobs, ClassifyRequests)}
