"""ML layer tests: pipeline recipes (metric tolerance — SURVEY.md §5),
custom Transformer semantics + persistence, distributed evaluation,
batched inference."""

from __future__ import annotations

import os
import tempfile
from collections import OrderedDict

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from pyspark_text_classification_spark.ml.evaluate import (
    binary_metrics,
    confusion_matrix_df,
    top_k_coefficients,
)
from pyspark_text_classification_spark.ml.featurize import EmptyTokenGuard
from pyspark_text_classification_spark.ml import inference
from pyspark_text_classification_spark.ml.inference import (
    DeterministicStubModel,
    ExportedScorerFactory,
    batch_infer,
)
from pyspark_text_classification_spark.ml.pipelines import fit_text_classifier
from pyspark_text_classification_spark.sources.parquet import load_table


@pytest.fixture(scope="module")
def labeled_docs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", "text", (F.col("lang") == "en").cast("double").alias("label")
    ).cache()


def test_empty_token_guard_semantics(spark):
    df = spark.createDataFrame(
        [(["a", "b"],), ([],)], schema="toks array<string>"
    )
    out = EmptyTokenGuard(inputCol="toks", outputCol="fixed").transform(df)
    rows = {tuple(r.fixed) for r in out.collect()}
    assert rows == {("a", "b"), ("unknown",)}


def test_empty_token_guard_persistence_roundtrip(spark):
    g = EmptyTokenGuard(inputCol="toks", outputCol="fixed")
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/guard"
        g.write().overwrite().save(path)
        loaded = EmptyTokenGuard.load(path)
    assert loaded.getInputCol() == "toks"
    assert loaded.getOutputCol() == "fixed"


def test_sst2_recipe_learns_signal(spark):
    """Metric-tolerance test (the oracle can't hash iterative LR): on a
    corpus with a real lexical signal the TF-IDF+LR recipe must score
    near-perfectly. (The sf documents' lang label is uncorrelated with
    their shared-vocabulary text, so signal comes from a built fixture.)"""
    pos_words = ["great", "excellent", "wonderful", "superb", "amazing"]
    neg_words = ["awful", "terrible", "horrible", "dreadful", "poor"]
    rows = []
    for i in range(120):
        w = pos_words if i % 2 == 0 else neg_words
        text = " ".join(w[(i + j) % 5] for j in range(8)) + f" filler{i % 7}"
        rows.append((text, float(i % 2 == 0)))
    df = spark.createDataFrame(rows, schema="text string, label double")
    model = fit_text_classifier(df, recipe="sst2")
    m = binary_metrics(model.transform(df))
    assert m["accuracy"] >= 0.95
    assert m["auc"] >= 0.95


def test_qqp_recipe_runs(spark, labeled_docs):
    model = fit_text_classifier(labeled_docs.limit(200), recipe="qqp")
    assert model.transform(labeled_docs.limit(50)).count() == 50


def test_qnli_recipe_survives_empty_tokens(spark):
    """The qnli recipe's guard must keep Word2Vec alive on degenerate text
    (empty, punctuation-only, all-stopwords — FIXTURES.md F1 edge rows)."""
    rows = [
        ("good solid table merge query", 1.0),
        ("...", 0.0),
        ("", 0.0),
        ("the of and a", 1.0),
        ("!!!", 1.0),
    ] * 10
    df = spark.createDataFrame(rows, schema="text string, label double")
    model = fit_text_classifier(df, recipe="qnli")
    assert model.transform(df).count() == 50


def test_confusion_matrix_counts(spark):
    df = spark.createDataFrame(
        [(1.0, 1.0), (1.0, 0.0), (0.0, 0.0), (0.0, 0.0)],
        schema="label double, prediction double",
    )
    cm = {
        (r.label, r.prediction): r.cnt
        for r in confusion_matrix_df(df).collect()
    }
    assert cm == {(1.0, 1.0): 1, (1.0, 0.0): 1, (0.0, 0.0): 2}


def test_topk_coefficients_shape(spark, labeled_docs):
    model = fit_text_classifier(labeled_docs.limit(300), recipe="sst2")
    vocab = model.stages[2].vocabulary
    out = top_k_coefficients(spark, model.stages[-1], vocab, k=5).collect()
    assert len(out) == 10
    pos = [r.coefficient for r in out if r.direction == "positive"]
    neg = [r.coefficient for r in out if r.direction == "negative"]
    assert pos == sorted(pos, reverse=True)
    assert neg == sorted(neg)


def test_batch_infer_matches_stub_locally(spark):
    """mapInPandas output == driver-side stub model output (Arrow path
    preserves values), and confidence is present (reference defect #1)."""
    rows = [(i, f"text number {i}") for i in range(37)]
    df = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = {
        r.doc_id: (r.predicted_label, r.confidence)
        for r in batch_infer(df).collect()
    }
    stub = DeterministicStubModel()
    for i, text in rows:
        labels, confs = stub.predict([text])
        assert got[i] == (labels[0], confs[0])


def test_model_loads_once_per_worker_not_per_task(spark, tmp_path):
    """The scale claim batch_infer's docstring makes, proven: a 'heavy'
    factory injected through model_factory loads AT MOST once per Python
    worker process across many tasks — never once per task (the reference
    reloads per task, transformers_test.py:123-131). Each factory call
    appends a line to a pid-named marker file; worker reuse means a pid's
    file must hold exactly one line."""
    marker_dir = str(tmp_path / "loads")
    os.makedirs(marker_dir, exist_ok=True)

    def counting_factory():
        import os as _os

        with open(f"{marker_dir}/{_os.getpid()}", "a") as fh:
            fh.write("load\n")
        return DeterministicStubModel()

    # > local[32]'s worker count so loads-per-worker < tasks is provable
    # (and > defaultParallelism so batch_infer's fan_out keeps the count)
    n_tasks = 64
    rows = [(i, f"text number {i}") for i in range(480)]
    df = spark.createDataFrame(
        rows, schema="doc_id long, text string"
    ).repartition(n_tasks)
    out = batch_infer(df, model_factory=counting_factory)
    assert out.count() == 480

    marker_files = os.listdir(marker_dir)
    loads_per_worker = [
        len(open(f"{marker_dir}/{f}").readlines()) for f in marker_files
    ]
    n_loads = sum(loads_per_worker)
    assert 0 < n_loads < n_tasks, (
        f"{n_loads} loads for {n_tasks} tasks — looks per-task, not per-worker"
    )
    assert all(n == 1 for n in loads_per_worker), (
        f"a worker loaded the model more than once: {loads_per_worker}"
    )


def _tiny_export(intercept: float = 0.0) -> dict:
    """A hand-built export_lr_scorer dict: two weighted terms, no fit."""
    return {
        "min_token_length": 1,
        "stopwords": frozenset({"the"}),
        "vocab": {"good": 0, "bad": 1},
        "idf": [1.0, 1.5],
        "coef": [2.0, -2.0],
        "intercept": intercept,
    }


def test_model_cache_is_a_bounded_lru(monkeypatch):
    """Each retrain gets a new digest key; a long-lived worker keeps only
    the most recent models instead of every model it ever served."""
    monkeypatch.setattr(inference, "_MODEL_CACHE", OrderedDict())
    bound = inference._CACHE_BOUND
    factories = [
        ExportedScorerFactory(_tiny_export(float(i))) for i in range(bound + 1)
    ]
    models = [inference._get_model(f) for f in factories]

    keys = [(f.__module__, f.__qualname__) for f in factories]
    assert len(inference._MODEL_CACHE) == bound
    assert keys[0] not in inference._MODEL_CACHE
    assert keys[-1] in inference._MODEL_CACHE
    assert inference._get_model(factories[-1]) is models[-1]


def test_lru_stays_bounded_under_concurrent_callers():
    """Threads sharing one cache (a threaded serving driver) never see a
    lost entry or an overfull cache."""
    import sys
    import threading

    cache: OrderedDict = OrderedDict()
    errors: list[BaseException] = []

    def hammer(offset: int) -> None:
        try:
            for i in range(2000):
                key = (offset + i) % (2 * inference._CACHE_BOUND)
                assert inference._lru(cache, key, lambda: key) == key
                assert len(cache) <= inference._CACHE_BOUND
        except BaseException as exc:  # reported by the main thread
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=hammer, args=(k,)) for k in range(16)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[0]


@pytest.mark.parametrize(
    "factory",
    [DeterministicStubModel, ExportedScorerFactory(_tiny_export())],
    ids=["stub", "exported_lr"],
)
def test_batch_infer_serves_null_and_nan_text_as_null(spark, factory):
    """A null or NaN text gets a null label and confidence; every other
    row of the request is served exactly as the model scores it alone."""
    texts = ["good film", None, "the bad ending", float("nan"), "good good"]
    pdf = pd.DataFrame({"doc_id": np.arange(len(texts)), "text": texts})
    got = {
        r.doc_id: (r.predicted_label, r.confidence)
        for r in batch_infer(
            spark.createDataFrame(pdf), model_factory=factory
        ).collect()
    }
    assert got[1] == got[3] == (None, None)
    model = factory()
    for i in (0, 2, 4):
        labels, confs = model.predict([texts[i]])
        assert got[i] == (labels[0], confs[0])


@pytest.fixture
def udf_builds(monkeypatch):
    """Counts pyspark's _wrap_function calls (pickle the factory, build
    its SimplePythonFunction) over an empty classify-UDF cache."""
    import pyspark.sql.udf as udf_module

    builds = []
    wrap_function = udf_module._wrap_function

    def counting(*args, **kwargs):
        builds.append(1)
        return wrap_function(*args, **kwargs)

    monkeypatch.setattr(udf_module, "_wrap_function", counting)
    monkeypatch.setattr(inference, "_UDF_CACHE", OrderedDict())
    return builds


def _serve_rows(spark, n: int = 40, **kwargs) -> list:
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n),
            "text": [f"text number {i}" for i in range(n)],
            "title": [f"title {i}" for i in range(n)],
        }
    )
    return sorted(batch_infer(spark.createDataFrame(pdf), **kwargs).collect())


def test_batch_infer_builds_udf_once_per_model(spark, udf_builds):
    """Repeat requests reuse the pandas UDF's JVM function: it is built
    once per (model, columns), not once per request."""

    def factory():
        return DeterministicStubModel()

    def other_factory():
        return DeterministicStubModel()

    served = [_serve_rows(spark, model_factory=factory) for _ in range(5)]
    assert len(udf_builds) == 1
    assert all(rows == served[0] for rows in served)
    assert len(served[0]) == 40

    _serve_rows(spark, model_factory=other_factory)
    assert len(udf_builds) == 2
    _serve_rows(spark, model_factory=factory, text_col="title")
    assert len(udf_builds) == 3
    _serve_rows(spark, model_factory=factory)
    assert len(udf_builds) == 3


def test_batch_infer_keys_its_udf_on_the_factory_name(spark, udf_builds):
    """The UDF cache uses the worker model cache's name key, not the
    factory object: an unhashable (dataclass) factory serves, and a
    factory rebuilt from the same export reuses the cached function."""
    from dataclasses import dataclass

    @dataclass
    class StubFactory:  # eq=True leaves it unhashable
        name: str

        def __call__(self) -> DeterministicStubModel:
            return DeterministicStubModel()

    stub_rows = _serve_rows(spark, model_factory=DeterministicStubModel)
    builds = len(udf_builds)
    assert _serve_rows(spark, model_factory=StubFactory("a")) == stub_rows
    assert _serve_rows(spark, model_factory=StubFactory("a")) == stub_rows
    assert len(udf_builds) == builds + 1
    _serve_rows(spark, model_factory=StubFactory("b"))
    assert len(udf_builds) == builds + 2

    export = _tiny_export(0.25)
    first = _serve_rows(spark, model_factory=ExportedScorerFactory(export))
    again = _serve_rows(spark, model_factory=ExportedScorerFactory(dict(export)))
    assert again == first
    assert len(udf_builds) == builds + 3


def test_pipeline_model_save_load_roundtrip(spark, tmp_path):
    """S6: a fitted pipeline (incl. the custom EmptyTokenGuard stage)
    persists and reloads to identical predictions."""
    from pyspark_text_classification_spark.ml.pipelines import (
        fit_text_classifier,
        load_model,
        save_model,
    )

    train = spark.createDataFrame(
        [("good great fine", 1), ("bad awful poor", 0)] * 20,
        schema="text string, label int",
    )
    model = fit_text_classifier(train, recipe="sst2")
    path = str(tmp_path / "model")
    save_model(model, path)
    reloaded = load_model(path)
    test = spark.createDataFrame(
        [("great stuff",), ("awful stuff",)], schema="text string"
    )
    a = [r.prediction for r in model.transform(test).collect()]
    b = [r.prediction for r in reloaded.transform(test).collect()]
    assert a == b


def test_write_comparison_report(tmp_path):
    """The multi-task report writer (generate_report parity): records
    JSON with numeric metrics preserved, plot gated on matplotlib."""
    import json as _json

    from pyspark_text_classification_spark.ml.reporting import (
        write_comparison_report,
    )

    results = {
        "sst2": {"accuracy": 0.7752, "auc": 0.8528, "n": 872},
        "qqp": {"accuracy": 0.7057, "auc": 0.7252, "n": 39972},
    }
    records = write_comparison_report(results, str(tmp_path / "report"))
    assert [r["task"] for r in records] == ["sst2", "qqp"]
    on_disk = _json.load(open(tmp_path / "report" / "report.json"))
    assert on_disk == records
    assert isinstance(on_disk[0]["accuracy"], float)  # numbers, not strings


@pytest.fixture(scope="module")
def sst2_fit(spark, sf_dir):
    """(labeled documents, sst2 PipelineModel fitted on them), fitted once."""
    from pyspark_text_classification_spark.ml.queries import (
        _labeled_documents,
    )

    labeled = _labeled_documents(spark, sf_dir)
    return labeled, fit_text_classifier(labeled, recipe="sst2")


def _assert_serving_parity(want, got):
    """want/got: key -> (label, p1) from transform() / (label, confidence)
    from the exported scorer.  Confidence to 1e-9; labels exactly away
    from the 0.5 boundary."""
    assert set(got) == set(want)
    for key, (label, p1) in want.items():
        g_label, g_conf = got[key]
        w_conf = p1 if label else 1.0 - p1
        assert abs(g_conf - w_conf) < 1e-9, (key, g_conf, w_conf)
        if abs(p1 - 0.5) > 1e-9:
            assert g_label == label, (key, p1)


def test_exported_scorer_matches_mllib_transform(spark, sf_dir, sst2_fit):
    """Train-export-serve parity: the exported-weights scorer served
    through batch_infer must reproduce the fitted PipelineModel's own
    transform() — labels exactly (away from the 0.5 boundary) and
    probabilities to float precision, because the export replays the
    identical tokenize/stopword/count/idf/dot math in the same
    accumulation order."""
    from pyspark.ml.functions import vector_to_array

    from pyspark_text_classification_spark.ml.inference import (
        export_lr_scorer,
    )

    labeled, model = sst2_fit
    want = {
        r.doc_id: (int(r.prediction), float(r.p1))
        for r in model.transform(labeled)
        .select(
            "doc_id",
            "prediction",
            vector_to_array("probability")[1].alias("p1"),
        )
        .collect()
    }

    docs = load_table(spark, sf_dir, "documents")
    export = export_lr_scorer(model)
    got = {
        r.doc_id: (int(r.predicted_label), float(r.confidence))
        for r in batch_infer(
            docs, model_factory=ExportedScorerFactory(export)
        ).collect()
    }

    _assert_serving_parity(want, got)


# non-ASCII letters whose lowercase differs between engines if either
# side got Unicode handling wrong: dotted capital I (lowercases to two
# code points), sharp s, the Kelvin sign (lowercases to ASCII 'k'),
# full-width Latin, final sigma, a ligature
_NON_ASCII = ["İ", "ß", "\u212a", "Ｋｅｙ", "ｗ", "ΟΔΟΣ", "ﬁ", "é", "Ⅻ"]
_PUNCT = st.text(alphabet="!?.,;:'\"()[]{}-_*/\\@#&%$^~` \t\n", max_size=12)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_exported_scorer_matches_mllib_on_adversarial_text(
    spark, sst2_fit, data
):
    """The exported scorer reproduces transform() on text built to split
    the engines: vocabulary words in any case glued to non-ASCII letters
    (Java's ASCII \\W vs Python's Unicode one, Java vs Python
    lowercasing), punctuation-only and empty texts, and long repeats of
    one high-idf term (extreme margins)."""
    from pyspark.ml.functions import vector_to_array

    from pyspark_text_classification_spark.ml.inference import (
        ExportedLRScorer,
        export_lr_scorer,
    )

    _, model = sst2_fit
    export = export_lr_scorer(model)
    vocab, idf = export["vocab"], export["idf"]
    high_idf = sorted(vocab, key=lambda t: idf[vocab[t]], reverse=True)[:20]
    word = st.sampled_from(list(vocab)).flatmap(
        lambda w: st.sampled_from([w, w.upper(), w.title()])
    )
    affix = st.sampled_from(["", *_NON_ASCII])
    glued = st.tuples(affix, word, affix).map("".join)
    sentence = st.lists(st.one_of(glued, _PUNCT), max_size=8).map(" ".join)
    repeat = st.tuples(
        st.sampled_from(high_idf), st.integers(50, 3000)
    ).map(lambda tn: " ".join([tn[0]] * tn[1]))
    texts = data.draw(
        st.lists(st.one_of(sentence, _PUNCT, st.just(""), repeat),
                 min_size=1, max_size=8)
    )

    rows = model.transform(
        spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    ).select(
        "doc_id", "prediction", vector_to_array("probability")[1].alias("p1")
    ).collect()
    want = {r.doc_id: (int(r.prediction), float(r.p1)) for r in rows}
    labels, confs = ExportedLRScorer(export).predict(texts)
    _assert_serving_parity(want, dict(enumerate(zip(labels, confs))))
