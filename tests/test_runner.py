"""End-to-end GLUE runner tests: three tiny task-shaped TSV fixtures
through load -> fit -> eval -> sinks (SURVEY.md §5 fixture hazards:
quoted QQP fields, string QNLI labels, null rows)."""

from __future__ import annotations

import json
import os

import pytest

from pyspark_text_classification_spark.runner import (
    load_glue_task,
    run_glue_task,
)

POS = "great wonderful film truly moving and excellent"
NEG = "dull terrible mess boring and awful throughout"


def _write(tmp_path, name, text):
    p = tmp_path / name
    p.write_text(text)
    return str(p)


@pytest.fixture()
def sst2_files(tmp_path):
    rows = [f"{POS} {i}\t1" for i in range(12)] + [
        f"{NEG} {i}\t0" for i in range(12)
    ]
    body = "sentence\tlabel\n" + "\n".join(rows) + "\n"
    return _write(tmp_path, "train.tsv", body), _write(
        tmp_path, "dev.tsv", body
    )


def test_load_sst2_drops_nulls(spark, tmp_path):
    p = _write(
        tmp_path, "s.tsv", "sentence\tlabel\ngood\t1\n\t0\nbad\t\n"
    )
    out = load_glue_task(spark, "sst2", p)
    assert out.columns == ["text", "label"]
    assert out.count() == 1  # null sentence and null label rows dropped


def test_load_qqp_quoted_and_sep(spark, tmp_path):
    p = _write(
        tmp_path,
        "q.tsv",
        "id\tqid1\tqid2\tquestion1\tquestion2\tis_duplicate\n"
        '1\t10\t11\t"what\tis it"\thow so\t1\n'
        "2\t12\t13\t\tmissing q1\t0\n",
    )
    out = load_glue_task(spark, "qqp", p).collect()
    assert len(out) == 1  # null question1 row dropped (subset na.drop)
    assert out[0].text == "what\tis it [SEP] how so"


def test_load_qnli_label_case_and_concat(spark, tmp_path):
    p = _write(
        tmp_path,
        "n.tsv",
        "index\tquestion\tsentence\tlabel\n"
        "0\t q? \t s. \tentailment\n"
        "1\tx\ty\tnot_entailment\n"
        "2\tu\tv\tbogus\n",
    )
    rows = {r.text: r.label for r in load_glue_task(spark, "qnli", p).collect()}
    assert rows == {"q? s.": 0.0, "x y": 1.0}  # trimmed concat; bogus dropped


def test_run_glue_task_end_to_end(spark, sst2_files, tmp_path):
    train, dev = sst2_files
    out_dir = str(tmp_path / "out")
    metrics = run_glue_task(spark, "sst2", train, dev, out_dir)
    # separable fixture: the TF-IDF+LR recipe must fit it near-perfectly
    assert metrics["accuracy"] >= 0.9
    assert metrics["auc"] >= 0.9
    report = json.load(open(os.path.join(out_dir, "metrics.json")))
    assert report["run"] == "sst2"
    back = spark.read.parquet(os.path.join(out_dir, "predictions.parquet"))
    assert {"text", "label", "prediction", "positive_prob"} <= set(back.columns)
    assert os.path.isdir(os.path.join(out_dir, "model"))
    conf = spark.read.parquet(os.path.join(out_dir, "confusion.parquet"))
    assert conf.count() <= 4


def test_run_glue_task_qnli_end_to_end(spark, tmp_path):
    """QNLI shape: string labels, pair concat, Word2Vec recipe (the
    heaviest reference pipeline) survives end to end on a tiny fixture."""
    qs = [("why is sky blue", "rayleigh scattering of light", "entailment"),
          ("why is sky blue", "bananas are yellow fruit", "not_entailment")]
    rows = []
    for i in range(10):
        for q, s, lab in qs:
            rows.append(f"{len(rows)}\t{q} {i}\t{s} {i}\t{lab}")
    body = "index\tquestion\tsentence\tlabel\n" + "\n".join(rows) + "\n"
    train = _write(tmp_path, "train.tsv", body)
    dev = _write(tmp_path, "dev.tsv", body)
    out_dir = str(tmp_path / "out_qnli")
    metrics = run_glue_task(
        spark, "qnli", train, dev, out_dir, write_csv_copy=False
    )
    # Word2Vec on a toy corpus won't separate well; the contract is the
    # pipeline RUNS and emits sane artifacts, not model quality
    assert 0.0 <= metrics["accuracy"] <= 1.0
    assert os.path.isdir(os.path.join(out_dir, "model"))


def test_registry_import_reads_no_data_files():
    """Importing the registry reads code only: no non-Python file under
    the repo root is opened, so the registry's order is its import order
    and no artifact in the checkout can change what it holds."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import os, sys
root = {root!r} + os.sep
opened = []

def hook(event, args):
    if event == "open" and isinstance(args[0], (str, bytes, os.PathLike)):
        path = os.path.abspath(os.fsdecode(args[0]))
        if path.startswith(root) and not path.endswith((".py", ".pyc")):
            opened.append(path)

sys.addaudithook(hook)
import pyspark_text_classification_spark.all_queries
print(*opened, sep="\\n")
"""
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=root,
        capture_output=True,
        text=True,
        check=True,
    )
    assert out.stdout.split() == []


# sha256 of json.dumps(sorted(ORACLES.items())): a change that edits an
# oracle string on purpose updates this pin and says why in CHANGES.md
ORACLE_DIGEST = "f5dd869a55d57f57cfd28efddc7fa215f9f5c13742f56392b79412236f6f25b1"


def test_oracle_dict_is_pinned():
    """Outputs do not change unless a change says why: the registry keeps
    its 285 queries and 282 DuckDB oracles, and the oracle strings hash
    to the pinned digest, byte for byte."""
    import hashlib

    from pyspark_text_classification_spark.all_queries import ORACLES, QUERIES

    assert (len(QUERIES), len(ORACLES)) == (285, 282)
    blob = json.dumps(sorted(ORACLES.items())).encode()
    assert hashlib.sha256(blob).hexdigest() == ORACLE_DIGEST


@pytest.mark.parametrize("module", ["__spark_entry__", "bench"])
def test_driver_contract_refuses_audit_pin(monkeypatch, module):
    """The batch-cap env pin is scale-audit-only (ADVICE r10): importing
    the driver contract OR the bench under it must fail fast, so pinned
    hashes/timings can never masquerade as recorded artifacts.  Both
    module-level fences are exercised (ADVICE r11: the bench copy used
    to be untested and could silently drift)."""
    import importlib
    import sys

    monkeypatch.setenv("SPARK_GRAFT_QUERY_BATCH_CAP", "63")
    saved = sys.modules.pop(module, None)
    try:
        with pytest.raises(RuntimeError, match="scale-audit|not comparable"):
            importlib.import_module(module)
    finally:
        sys.modules.pop(module, None)
        if saved is not None:
            sys.modules[module] = saved


def test_bench_summary_line_fits_driver_tail():
    """The grading driver stores a 2000-char stdout TAIL and parses the
    final JSON line out of it (BENCH_r02.json: a 6 KB line came back
    front-truncated and unparseable).  The r12 summary line adds the
    frozen CORE_50 per-query dict; this pins (a) that at pessimistic
    magnitudes (99.99 s for every core query, noisy-host totals) the
    compact line still fits the tail with the dict intact, and (b) that
    the summary_line guard drops the dict — never the totals — if the
    line would ever exceed the 1900-char budget."""
    import json

    import bench

    assert set(bench.CORE_50) <= set(bench.HEADLINE)

    def skeleton(core_val):
        summary = {
            "metric": "headline_queries_total",
            "value": 21199.8888,
            "unit": "sec",
            "n_queries": 212,
            "core50_total": 4999.5,
            "core50_queries": {n: core_val for n in bench.CORE_50},
        }
        for k in (
            "ann_macro_recall pq_macro_recall ivf_pq_macro_recall "
            "ivf_pq_auto_macro_recall ann_ivf_auto_macro_recall "
            "rerank_macro_recall auto_rerank_macro_recall "
            "ivf_append_macro_recall ivf_delete_macro_recall knn_accuracy "
            "knn_best_accuracy bloom_fpp_micro"
        ).split():
            summary[k] = 0.7264
        summary["loadavg1"] = 31.99
        summary["loadavg1_end"] = 31.99
        summary["sf"] = 0.1
        summary["knn_best_config"] = "weighted@99"
        return summary

    # (a) pessimistic-but-sane: every core query at 99.99s — dict kept
    line = bench.summary_line(skeleton(99.99))
    assert len(line) < 1900, len(line)
    assert "core50_queries" in json.loads(line)
    # (b) absurd magnitudes trip the guard: totals survive, dict dropped
    big = bench.summary_line(skeleton(999999999.99))
    parsed = json.loads(big)
    assert len(big) < 1900
    assert "core50_queries" not in parsed
    assert parsed["value"] == 21199.8888
