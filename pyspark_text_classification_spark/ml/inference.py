"""Batched model inference: the engine's replacement for the reference's
grouped-map HF-pipeline UDF (SURVEY.md §2.8 A5/U4/U6;
transformers_test.py:102-213).

Reference shape and its scale defects:
- ``groupby(id % 20).apply(grouped_map_udf)`` forces a full shuffle just to
  batch rows, loads the model once PER TASK (transformers_test.py:123-131),
  predicts row-by-row, and drops the confidence score it computed
  (defect #1, SURVEY §2.8).

Engine shape:
- ``mapInPandas`` — NO shuffle: every input partition streams through the
  Python worker as Arrow batches.
- per-WORKER lazy model singleton (module-level cache survives across
  batches and tasks in the same Python worker process).
- vectorized predict over the whole batch, ``confidence`` carried through.

The heavy model dependency (torch/transformers) is not available in this
environment, so the model factory is pluggable: ``deterministic_stub_model``
is a hash-based fake with the real interface (texts -> labels+confidences),
making the Spark-side plumbing — schema, Arrow batching, singleton
lifecycle — fully real and testable.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from collections.abc import Callable, Hashable, Iterator
from typing import Any, Protocol

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame

INFER_SCHEMA = "doc_id LONG, predicted_label INT, confidence DOUBLE"


class TextClassifier(Protocol):
    def predict(self, texts: list[str]) -> tuple[list[int], list[float]]: ...


class DeterministicStubModel:
    """Stand-in for a transformer classifier: label = parity of a cheap
    text hash, confidence in [0.5, 1.0) derived from the same hash.
    Deterministic across workers/engines — used by tests and the declared
    rows-only query. Replace via ``model_factory`` for a real model, e.g.::

        def hf_factory():
            from transformers import pipeline          # heavy import,
            return HFWrapper(pipeline("text-classification", ...))  # per worker
    """

    def predict(self, texts: list[str]) -> tuple[list[int], list[float]]:
        labels, confs = [], []
        for t in texts:
            h = 0
            for ch in t[:256]:
                h = (h * 31 + ord(ch)) % 2_147_483_647
            labels.append(h % 2)
            confs.append(0.5 + (h % 1000) / 2000.0)
        return labels, confs


# entries per process in each cache below; a retrain adds a key
_CACHE_BOUND = 4

_MODEL_CACHE: OrderedDict[tuple[str, str], TextClassifier] = OrderedDict()
_UDF_CACHE: OrderedDict[tuple, Any] = OrderedDict()
_CACHE_LOCK = threading.Lock()  # a serving driver may call from many threads


def _lru(cache: OrderedDict, key: Hashable, build: Callable[[], Any]) -> Any:
    """``cache[key]``, built on a miss; past ``_CACHE_BOUND`` entries the
    least recently used one is dropped."""
    with _CACHE_LOCK:
        if key in cache:
            cache.move_to_end(key)
            return cache[key]
        value = cache[key] = build()
        if len(cache) > _CACHE_BOUND:
            cache.popitem(last=False)
        return value


def _model_key(factory: Callable[[], TextClassifier]) -> tuple[str, str]:
    """A factory's cache identity: its (module, qualname), always hashable.

    NOT ``id(factory)``: every task deserializes its own copy of a
    closure-captured factory, so an identity key would miss on every task
    and silently reload per task — exactly the reference defect this
    module exists to fix. Classes and module-level functions pickle by
    reference and name-key identically; an instance without a
    ``__qualname__`` falls back to its ``repr``. Two DIFFERENT factories
    must therefore be distinct named functions (or carry a content
    digest in their qualname, as :class:`ExportedScorerFactory` does),
    not one closure instantiated with different captured state."""
    return (
        getattr(factory, "__module__", "?"),
        getattr(factory, "__qualname__", repr(factory)),
    )


def _get_model(factory: Callable[[], TextClassifier]) -> TextClassifier:
    """Per-worker lazy singleton: one model load per Python worker process,
    not per task (the reference reloads per task deserialization), keyed by
    :func:`_model_key`.

    The cache is a bounded LRU: each retrain gets a new digest key, and a
    long-lived worker keeps only the ``_CACHE_BOUND`` most recent models."""
    return _lru(_MODEL_CACHE, _model_key(factory), factory)


def _score(model: TextClassifier, ids: pd.Series, texts: pd.Series) -> pd.DataFrame:
    """One Arrow batch through ``model``. A null or NaN text gets a null
    label and confidence; the batch's other rows are scored as usual."""
    keep = texts.notna().to_numpy()
    labels = np.zeros(len(texts), dtype="int32")
    confs = np.zeros(len(texts), dtype="float64")
    if keep.any():
        labels[keep], confs[keep] = model.predict(texts[keep].tolist())
    return pd.DataFrame(
        {
            "doc_id": ids,
            "predicted_label": pd.arrays.IntegerArray(labels, ~keep),
            "confidence": pd.arrays.FloatingArray(confs, ~keep),
        }
    )


def _infer_udf(
    model_factory: Callable[[], TextClassifier], text_col: str, id_col: str
) -> Any:
    """The ``SQL_MAP_PANDAS_ITER_UDF`` that ``mapInPandas`` would build,
    made once so its JVM function is reused across requests."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.util import PythonEvalType

    def infer(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = _get_model(model_factory)
        for pdf in batches:
            yield _score(model, pdf[id_col], pdf[text_col])

    return pandas_udf(
        infer,
        returnType=INFER_SCHEMA,
        functionType=PythonEvalType.SQL_MAP_PANDAS_ITER_UDF,
    )


def batch_infer(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    model_factory: Callable[[], TextClassifier] = DeterministicStubModel,
) -> DataFrame:
    """Distributed batched inference with confidence carried through.

    No shuffle, no grouped-map, no driver collection: Arrow batches flow
    partition-local through the Python worker. At 100 TB the parallelism
    is the input partition count; repartition upstream only if partitions
    are too coarse for the model's throughput. A driver-local input (a
    pandas-built request) keeps Spark's own split (see ``fan_out``).

    A null or NaN text gets a null ``predicted_label`` and ``confidence``
    instead of failing the request.

    The plan is built once per model: the pandas UDF, and with it the
    pickled factory and its JVM function, is cached per (application,
    ``model_factory``'s name key — the one the worker's model cache uses,
    see ``_model_key`` — ``text_col``, ``id_col``) in a bounded LRU, so a
    request pays only for attaching it to the input's plan, also when it
    rebuilds its factory from the same export. Keying on the applicationId
    keeps a restarted session from reusing a dead function.
    """
    from pyspark_text_classification_spark.sources.parquet import fan_out

    spark = df.sparkSession
    # fan_out (a single-file scan would otherwise feed ONE Python worker)
    # before the select: isLocal() only holds at the LocalRelation itself
    src = fan_out(df).select(id_col, text_col)
    app = spark.sparkContext.applicationId
    key = (app, *_model_key(model_factory), text_col, id_col)
    udf = _lru(_UDF_CACHE, key, lambda: _infer_udf(model_factory, text_col, id_col))
    col = udf(src[id_col], src[text_col])
    # DataFrame.mapInPandas minus its per-call pandas_udf: the same JVM call
    # pyspark/sql/pandas/map_ops.py makes (re-check on a PySpark upgrade)
    return DataFrame(src._jdf.mapInPandas(col._jc, False, None), spark)  # noqa: SLF001


# ---------------------------------------------------------------------------
# exported-weights serving: train with MLlib, serve through the same
# mapInPandas lifecycle with NO JVM/MLlib dependency in the worker
# ---------------------------------------------------------------------------


def export_lr_scorer(model) -> dict:
    """Serialize a fitted sst2-recipe PipelineModel (RegexTokenizer →
    StopWords → CountVectorizer → IDF → LogisticRegression) into plain
    Python data — the train-on-cluster / export / serve-anywhere loop the
    reference never closes (its grouped-map UDF reloads a full HF pipeline
    per task, transformers_test.py:123-131).

    The export is a dict of (tokenizer params, stopword set, vocab→index,
    idf weights, LR coefficients+intercept): a few hundred KB for a 3000-
    term vocabulary, broadcast to workers by pickling into the factory —
    the lightweight analogue of shipping distilled model weights."""
    stages = model.stages
    tok, sw, cv, idf, lr = (
        stages[0], stages[1], stages[2], stages[3], stages[-1]
    )
    return {
        "min_token_length": tok.getMinTokenLength(),
        "stopwords": frozenset(sw.getStopWords()),
        "vocab": {t: i for i, t in enumerate(cv.vocabulary)},
        "idf": [float(x) for x in idf.idf],
        "coef": [float(x) for x in lr.coefficients],
        "intercept": float(lr.intercept),
    }


class ExportedLRScorer:
    """Worker-side scorer over an :func:`export_lr_scorer` dict.

    Reproduces the MLlib math exactly: Java-default ``\\W`` tokenization
    ([^A-Za-z0-9_] — Python's ``\\W`` is Unicode-aware, Java's default is
    not), stopword filter, per-doc term counts over the exported vocab,
    tf·idf, then an index-ASCENDING ordered dot product — the same
    accumulation order as MLlib's sparse-dense BLAS dot, so probabilities
    agree to the last ulp instead of "within tolerance"."""

    _SPLIT = None  # compiled lazily (re import stays off the hot path)

    def __init__(self, export: dict):
        self.e = export

    def predict(self, texts: list[str]) -> tuple[list[int], list[float]]:
        import math
        import re

        if ExportedLRScorer._SPLIT is None:
            ExportedLRScorer._SPLIT = re.compile(r"[^A-Za-z0-9_]")
        split = ExportedLRScorer._SPLIT
        e = self.e
        vocab, stop = e["vocab"], e["stopwords"]
        idf, coef, b = e["idf"], e["coef"], e["intercept"]
        min_len = e["min_token_length"]
        labels, confs = [], []
        for t in texts:
            counts: dict[int, int] = {}
            for tok in split.split(t.lower()):
                if len(tok) >= min_len and tok not in stop:
                    i = vocab.get(tok)
                    if i is not None:
                        counts[i] = counts.get(i, 0) + 1
            z = b
            for i in sorted(counts):  # MLlib sparse dot: ascending index
                z += counts[i] * idf[i] * coef[i]
            # guarded sigmoid: math.exp(-z) overflows for z < ~-709 (an
            # unregularized LR can produce such margins on long docs
            # repeating a high-idf term); MLlib returns 0.0/1.0 there.
            if z >= 0.0:
                p1 = 1.0 / (1.0 + math.exp(-z))
            else:
                ez = math.exp(z)
                p1 = ez / (1.0 + ez)
            label = 1 if p1 > 0.5 else 0
            labels.append(label)
            confs.append(p1 if label else 1.0 - p1)
        return labels, confs


class ExportedScorerFactory:
    """Pickles the export INTO the factory so every worker can build the
    scorer with no JVM access; carries a stable ``__qualname__`` derived
    from the export content so the per-worker singleton cache
    (:func:`_get_model`) hits across tasks instead of keying on a
    per-task ``repr`` and silently reloading."""

    def __init__(self, export: dict):
        import hashlib
        import json

        self.export = export
        self.__module__ = __name__
        # content digest over the full weight set: vocab size + intercept
        # alone collide once the vocab is capped (always 3000 terms), and
        # a long-lived worker serving two retrains would silently reuse
        # the first model's coefficients
        digest = hashlib.sha256(
            json.dumps(
                [export["idf"], export["coef"], export["intercept"]]
            ).encode()
        ).hexdigest()[:16]
        self.__qualname__ = f"ExportedScorerFactory[{digest}]"

    def __call__(self) -> ExportedLRScorer:
        return ExportedLRScorer(self.export)
