"""Source/sink layer tests (SURVEY.md §2.1): schema-declared TSV read
incl. the QQP quote/escape mode, column-mapping normalizer, parquet
round-trip, and the reporting sinks."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from pyspark_text_classification_spark.ml.reporting import (
    log_to_mlflow,
    roc_points,
    write_metrics_report,
)
from pyspark_text_classification_spark.sources.csv import (
    normalize_columns,
    read_tsv,
)
from pyspark_text_classification_spark.sources.parquet import (
    fan_out,
    load_table,
    write_parquet,
)


def test_read_tsv_plain(spark, tmp_path):
    p = tmp_path / "plain.tsv"
    p.write_text("sentence\tlabel\nhello world\t1\nbad stuff\t0\n")
    df = read_tsv(spark, str(p), schema="sentence STRING, label INT")
    rows = {(r.sentence, r.label) for r in df.collect()}
    assert rows == {("hello world", 1), ("bad stuff", 0)}


def test_read_tsv_quoted_embedded_tab_and_quote(spark, tmp_path):
    """The QQP hazard (qqp_test.py:29-30): quoted fields containing tabs
    and doubled quotes must parse as single values."""
    p = tmp_path / "quoted.tsv"
    p.write_text(
        'id\tquestion\n'
        '1\t"has\tan embedded tab"\n'
        '2\t"a ""quoted"" word"\n'
    )
    df = read_tsv(spark, str(p), schema="id INT, question STRING", quoted=True)
    rows = dict((r.id, r.question) for r in df.collect())
    assert rows == {1: "has\tan embedded tab", 2: 'a "quoted" word'}


def test_normalize_columns(spark):
    df = spark.createDataFrame(
        [("q?", "s.", "entailment")],
        schema="question string, sentence string, label string",
    )
    out = normalize_columns(
        df, {"question": "text", "sentence": "context", "label": "label"}
    )
    assert out.columns == ["text", "context", "label"]
    assert out.first().text == "q?"


def test_fan_out_keeps_local_input_without_rdd_probe(spark, monkeypatch):
    """A pandas-built request is a LocalRelation that Spark already splits
    over min(rows, defaultParallelism) tasks: fan_out hands back the same
    DataFrame and never builds a Python RDD to count its partitions."""
    import pandas as pd

    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]})
    )

    def no_rdd(self):
        raise AssertionError("fan_out built a Python RDD")

    monkeypatch.setattr(type(df), "rdd", property(no_rdd))
    assert fan_out(df) is df


def test_fan_out_repartitions_single_file_scan(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() == 1  # one small parquet file
    assert (
        fan_out(docs).rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def test_parquet_roundtrip_partitioned(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")],
        schema="id long, v string, part string",
    )
    path = str(tmp_path / "out")
    write_parquet(df, path, partition_by=["part"])
    assert os.path.isdir(f"{path}/part=x")  # partition-pruned layout
    back = spark.read.parquet(path)
    assert back.count() == 3
    pruned = spark.read.parquet(path).filter(F.col("part") == "x")
    assert pruned.count() == 2


def test_roc_points_small(spark):
    preds = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (0, 0.3), (0, 0.6), (1, 0.2), (0, 0.1)],
        schema="label int, positive_prob double",
    )
    pts = roc_points(preds, n_bins=10).collect()
    assert 0 < len(pts) <= 10
    top = max(pts, key=lambda r: r.threshold)
    assert top.cum_pos <= 3 and top.cum_neg <= 3


def test_roc_plot_writer_from_aggregated_points(spark, tmp_path):
    """save_roc_plot consumes the ~n_bins roc_points aggregate (never raw
    predictions); matplotlib-gated — absent => clean False, present =>
    the PNG lands on disk."""
    from pyspark_text_classification_spark.ml.reporting import save_roc_plot

    preds = spark.createDataFrame(
        [(1, 0.9), (1, 0.8), (0, 0.3), (0, 0.6), (1, 0.2), (0, 0.1)],
        schema="label int, positive_prob double",
    )
    path = str(tmp_path / "roc.png")
    wrote = save_roc_plot(roc_points(preds, n_bins=10), path)
    assert wrote in (True, False)
    assert wrote == os.path.exists(path)
    # degenerate single-class input: no curve, no file, no crash
    one_class = spark.createDataFrame(
        [(1, 0.9), (1, 0.2)], schema="label int, positive_prob double"
    )
    assert save_roc_plot(roc_points(one_class, n_bins=10),
                         str(tmp_path / "none.png")) is False


def test_metrics_report_and_optional_mlflow(tmp_path):
    path = str(tmp_path / "report.json")
    write_metrics_report({"accuracy": 0.9}, path, run_name="t")
    data = json.load(open(path))
    assert data["metrics"]["accuracy"] == 0.9
    # mlflow absent in this build -> clean no-op False (or True if present)
    assert log_to_mlflow({"accuracy": 0.9}) in (True, False)


def test_write_csv_roundtrip(spark, tmp_path):
    from pyspark_text_classification_spark.sources.csv import write_csv

    df = spark.createDataFrame(
        [(1, "a,b", 0.5), (2, "plain", 1.5)], schema="id int, s string, v double"
    )
    path = str(tmp_path / "csv_out")
    write_csv(df, path)
    back = spark.read.option("header", "true").csv(
        path, inferSchema=True
    )
    rows = {(r.id, r.s, r.v) for r in back.collect()}
    assert rows == {(1, "a,b", 0.5), (2, "plain", 1.5)}


def test_jsonl_roundtrip_and_corrupt_quarantine(spark, tmp_path):
    """JSONL source/sink: explicit-schema round-trip preserves values
    (incl. nested meta), and a malformed line lands in _corrupt_record
    for quarantine instead of silently vanishing."""
    from pyspark_text_classification_spark.sources.jsonl import (
        corrupt_line_stats,
        read_jsonl,
        write_jsonl,
    )

    df = spark.createDataFrame(
        [(1, "hello world", ("en", 2)), (2, 'quote " and\ttab', ("de", 7))],
        schema="doc_id long, text string, "
        "meta struct<lang: string, score: long>",
    )
    out = str(tmp_path / "corpus")
    write_jsonl(df, out)
    back = read_jsonl(
        spark, out,
        "doc_id long, text string, meta struct<lang: string, score: long>",
    )
    got = {(r.doc_id, r.text, r.meta.lang, r.meta.score) for r in back.collect()}
    assert got == {(1, "hello world", "en", 2), (2, 'quote " and\ttab', "de", 7)}

    # corrupt line: valid JSONL + one junk line in the same directory
    bad = tmp_path / "mixed"
    os.makedirs(bad)
    with open(bad / "part-0.jsonl", "w") as f:
        f.write('{"doc_id": 1, "text": "ok"}\n')
        f.write("this is not json\n")
        f.write('{"doc_id": 2, "text": "also ok"}\n')
    mixed = read_jsonl(
        spark, str(bad), "doc_id long, text string", keep_corrupt=True
    )
    stats = corrupt_line_stats(mixed).first()
    assert (stats.n_rows, stats.n_corrupt, stats.n_nonnull_doc_id) == (3, 1, 2)
    kept = {r.doc_id for r in mixed.filter("_corrupt_record IS NULL").collect()}
    assert kept == {1, 2}


def test_orc_roundtrip_partitioned_and_pushdown(spark, tmp_path):
    from pyspark_text_classification_spark.sources.orc import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y"), (3, "c", "x")],
        schema="id long, v string, part string",
    )
    path = str(tmp_path / "orc_out")
    write_orc(df, path, partition_by=["part"])
    assert os.path.isdir(f"{path}/part=x")  # hive-style pruned layout
    back = read_orc(spark, path, schema="id long, v string, part string")
    assert back.count() == 3
    pruned = read_orc(spark, path).filter(F.col("part") == "x")
    assert pruned.count() == 2
    # predicate pushdown reaches the ORC scan
    plan = (
        read_orc(spark, path)
        .filter(F.col("id") > 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,1)]" in plan, plan


def test_compact_files_merges_small_files(spark, tmp_path):
    from pyspark_text_classification_spark.sources.parquet import compact_files

    src = str(tmp_path / "many")
    # 20 tiny files (one per partition)
    spark.range(0, 2000).repartition(20).write.parquet(src)
    assert len([f for f in os.listdir(src) if f.endswith(".parquet")]) == 20

    dst = str(tmp_path / "compacted")
    n = compact_files(spark, src, dst, target_bytes_per_file=10 * 1024 * 1024)
    out_files = [f for f in os.listdir(dst) if f.endswith(".parquet")]
    assert len(out_files) == n == 1  # tiny input -> one right-sized file
    assert spark.read.parquet(dst).count() == 2000
    # values preserved exactly
    assert (
        spark.read.parquet(dst).agg(F.sum("id")).first()[0]
        == sum(range(2000))
    )


def test_read_text_lines_and_whole_file(spark, tmp_path):
    from pyspark_text_classification_spark.sources.text import read_text_lines

    d = tmp_path / "raw"
    os.makedirs(d)
    (d / "a.txt").write_text("line one\nline two\n")
    (d / "b.txt").write_text("solo document")

    lines = read_text_lines(spark, str(d), with_file=True)
    got = {(r.value, os.path.basename(r.file.replace("file://", ""))) 
           for r in lines.collect()}
    assert got == {
        ("line one", "a.txt"), ("line two", "a.txt"), ("solo document", "b.txt")
    }

    docs = read_text_lines(spark, str(d), whole_file=True)
    texts = sorted(r.value for r in docs.collect())
    assert texts == ["line one\nline two\n", "solo document"]


def test_read_binary_files_glob_recursive_and_meta(spark, tmp_path):
    from pyspark_text_classification_spark.sources.binary import (
        binary_files_meta,
        read_binary_files,
    )

    (tmp_path / "sub").mkdir()
    (tmp_path / "a.png").write_bytes(b"\x89PNG\r\n" + b"\x00" * 10)
    (tmp_path / "b.txt").write_bytes(b"not media")
    (tmp_path / "sub" / "c.png").write_bytes(b"\x89PNG\r\n" + b"\xff" * 100)

    flat = read_binary_files(spark, str(tmp_path), glob="*.png")
    rows = {r["path"].rsplit("/", 1)[-1]: r for r in flat.collect()}
    assert set(rows) == {"a.png"}  # glob filtered, non-recursive
    assert rows["a.png"]["length"] == 16
    assert bytes(rows["a.png"]["content"]).startswith(b"\x89PNG")

    rec = read_binary_files(spark, str(tmp_path), glob="*.png", recursive=True)
    assert {r["path"].rsplit("/", 1)[-1] for r in rec.collect()} == {
        "a.png",
        "c.png",
    }

    capped = read_binary_files(
        spark, str(tmp_path), glob="*.png", recursive=True, max_bytes=50
    )
    assert [r["path"].rsplit("/", 1)[-1] for r in capped.collect()] == ["a.png"]

    meta = binary_files_meta(rec)
    assert set(meta.columns) == {"path", "name", "length"}
    assert {r["name"] for r in meta.collect()} == {"a.png", "c.png"}


def test_read_tsv_quarantine_splits_malformed(spark, tmp_path):
    from pyspark_text_classification_spark.sources.csv import (
        read_tsv_quarantine,
    )

    p = tmp_path / "feed.tsv"
    p.write_text(
        "id\tqty\tname\n"
        "1\t10\talpha\n"
        "2\tnot_a_number\tbeta\n"   # uncastable cell
        "3\t30\tgamma\n"
    )
    clean, quarantine = read_tsv_quarantine(
        spark, str(p), "id INT, qty INT, name STRING"
    )
    got = {r.id for r in clean.collect()}
    assert got == {1, 3}
    bad = [r.raw_line for r in quarantine.collect()]
    assert bad == ["2\tnot_a_number\tbeta"]


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located join via bucketing: after both fact tables are written
    bucketBy(8, orderkey), the equi-join on the bucket key must plan as a
    SortMergeJoin with NO Exchange on either side — the write-once shuffle
    replaced the per-join one.  (Broadcast is disabled so the planner
    can't sidestep the claim.)"""
    from pyspark_text_classification_spark.sources.bucketed import (
        read_bucketed,
        write_bucketed,
    )
    from pyspark_text_classification_spark.sources.parquet import load_table

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", 8, str(tmp_path / "bo"))
    write_bucketed(li, "b_li", "l_orderkey", 8, str(tmp_path / "bl"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = read_bucketed(spark, "b_orders")
        b = read_bucketed(spark, "b_li")
        j = a.join(b, a.o_orderkey == b.l_orderkey)
        assert j.count() == li.count()  # every line item has its order
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_li")
