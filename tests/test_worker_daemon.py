"""Python-worker start-up: stamp-gated zip cache invalidation
(``worker_daemon``) and worker imports from any working directory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

from pyspark_text_classification_spark import worker_daemon

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def _import_from(importer, name: str):
    spec = importer.find_spec(name)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def _count_directory_reads(monkeypatch) -> list[str]:
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_invalidate_rereads_zip_only_after_it_changed(tmp_path, monkeypatch):
    # restored after the test: install() patches the process's zipimport
    monkeypatch.setattr(zipimport, "_read_directory", zipimport._read_directory)
    monkeypatch.setattr(
        zipimport.zipimporter,
        "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    worker_daemon.install()

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"a": "VALUE = 'a'"})
    importer = zipimport.zipimporter(archive)
    assert _import_from(importer, "a").VALUE == "a"

    reads = _count_directory_reads(monkeypatch)
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [], "unchanged archive was re-read"

    _write_zip(archive, {"a": "VALUE = 'a'", "b": "VALUE = 'b'"})
    importer.invalidate_caches()
    assert reads == [archive]
    assert _import_from(importer, "b").VALUE == "b"


def test_worker_invalidate_caches_rereads_no_archive(spark):
    """Inside a Python worker (which already ran the per-task
    ``invalidate_caches``), a further call re-reads no archive: counted,
    not timed, so it cannot flake."""

    def count_rereads(batches):
        import importlib
        import zipimport as zi

        import pandas as pd

        for _ in batches:
            pass
        reads = []
        read_directory = zi._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zi._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zi._read_directory = read_directory
        yield pd.DataFrame({"rereads": [len(reads)]})

    rows = (
        spark.range(4)
        .repartition(4)
        .mapInPandas(count_rereads, "rereads long")
        .collect()
    )
    assert len(rows) == 4
    assert [r.rereads for r in rows] == [0, 0, 0, 0]


def test_batch_infer_from_any_working_directory(tmp_path):
    """A driver outside the repo, with no PYTHONPATH, still runs Python
    UDFs: the workers find both the daemon module and the engine."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {REPO_ROOT!r})
        from pyspark_text_classification_spark.ml.inference import batch_infer
        from pyspark_text_classification_spark.session import get_session

        spark = get_session(master="local[2]", shuffle_partitions=2)
        df = spark.createDataFrame(
            [(i, f"text {{i}}") for i in range(10)], "doc_id long, text string"
        )
        print("ROWS", len(batch_infer(df).collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    env["SPARK_GRAFT_WAREHOUSE"] = str(tmp_path / "warehouse")
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS 10" in out.stdout.splitlines()
