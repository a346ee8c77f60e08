"""End-to-end import pipeline: full run, resume skip, metrics."""

import os

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrameWriter

from cadastre_pg_spark.pipeline import DEP_PARTS, import_metrics, run_import
from cadastre_pg_spark.plans.audit import executed_census, execution_ids
from conftest import persisted_rdd_ids


def test_import_and_resume(spark, tmp_path):
    base = str(tmp_path / "lake")
    r1 = run_import(spark, base, run_id="r1", n_pages=600, n_parcels=60)
    assert r1["extract"] == 600
    assert r1["placement"] > 0

    # resume: identical input -> nothing recommitted, outputs intact
    r2 = run_import(spark, base, run_id="r2", n_pages=600, n_parcels=60)
    assert r2["extract"] == 0
    assert r2["placement"] == 0
    placed = spark.read.parquet(r1["out_dir"])
    assert placed.count() == r1["placement"]

    # lineage metrics table
    m = {r.stage: r for r in import_metrics(spark, base).collect()}
    assert m["extract"].rows == 600
    assert m["placement"].rows == r1["placement"]
    assert m["extract"].n_partitions == 16


def test_import_extraction_invariant(spark, tmp_path):
    """The committed extract partition carries byte-identical text."""
    import hashlib

    base = str(tmp_path / "lake")
    run_import(spark, base, run_id="r1", n_pages=100, n_parcels=20)
    rows = spark.read.parquet(f"{base}/extract").collect()
    assert len(rows) == 100
    for r in rows[:20]:
        assert hashlib.sha256(r.text.encode()).hexdigest() == r.text_sha


def test_placement_scans_extract_output_once(spark, tmp_path):
    """url and dep_part ride through the spatial join, so placement's
    executed plan reads the extract output once: no join-back on
    point_id (which read it, and re-ran the dedup window, again). The
    join is one probe pass: one cover broadcast and no union."""
    base = str(tmp_path / "lake")
    # plan strings abbreviate a scan's location past this many chars
    spark.conf.set("spark.sql.maxMetadataStringLength", "1000")
    try:
        before = execution_ids(spark)
        r = run_import(spark, base, run_id="r1", n_pages=300, n_parcels=40)
        census = executed_census(spark, before, scan=os.path.join(base, "extract"))
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert r["placement"] > 0
    assert census["scans"] == 1, census
    assert census["broadcasts"] == 1, census
    assert census["unions"] == 0, census


def test_derive_status_reference_matrix():
    """Truth table of report.rs:211-226 finalize()."""
    from cadastre_pg_spark.pipeline import derive_status

    # (has_fatal, has_errors, has_success) -> status
    assert derive_status(True, True, True) == "Failed"
    assert derive_status(True, True, False) == "Failed"
    assert derive_status(True, False, True) == "Failed"
    assert derive_status(True, False, False) == "Failed"
    assert derive_status(False, True, True) == "PartialSuccess"
    assert derive_status(False, True, False) == "Failed"
    assert derive_status(False, False, True) == "Success"
    assert derive_status(False, False, False) == "Success"


def test_finalize_report_statuses(spark, tmp_path):
    from cadastre_pg_spark.pipeline import finalize_report, run_import

    base = str(tmp_path / "imp")
    run_import(spark, base, "runA", n_pages=60, n_parcels=20)
    m, status = finalize_report(spark, base)
    assert status == "Success"
    errs = spark.createDataFrame(
        [("Error", "bad row")], "level string, message string"
    )
    _, status = finalize_report(spark, base, errs)
    assert status == "PartialSuccess"
    fatal = spark.createDataFrame(
        [("Fatal", "boom")], "level string, message string"
    )
    _, status = finalize_report(spark, base, fatal)
    assert status == "Failed"
    # a base dir with nothing committed + errors -> Failed
    _, status = finalize_report(spark, str(tmp_path / "empty"), errs)
    assert status == "Failed"


def test_failed_placement_write_releases_build_side(spark, tmp_path, monkeypatch):
    """The placement stage persists its build side (parcels, cover);
    a write that raises must not leave it behind."""
    parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        if path.endswith("placement"):
            raise RuntimeError("placement write failed")
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    before = persisted_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="placement write failed"):
        run_import(spark, str(tmp_path / "lake"), "r1", n_pages=300, n_parcels=40)
    assert not persisted_rdd_ids(spark) - before


def _extract_files(base: str) -> dict:
    root = os.path.join(base, "extract")
    return {
        d: [f for f in os.listdir(os.path.join(root, d)) if f.startswith("part-")]
        for d in os.listdir(root)
        if d.startswith("_pid=")
    }


def test_extract_writes_one_file_per_partition(spark, tmp_path):
    """From a single-file pages scan (the benchmark's input shape), the
    extraction runs as one writer: every extract/_pid=<k> directory
    holds one data file, and a resume rewrites none of them."""
    from cadastre_pg_spark.data.pages import generate_pages

    pages = str(tmp_path / "pages.parquet")
    generate_pages(spark, 600).coalesce(1).write.parquet(pages)
    base = str(tmp_path / "lake")

    def run(run_id):
        return run_import(
            spark, base, run_id=run_id, n_parcels=20, pages_df=spark.read.parquet(pages)
        )

    assert run("r1")["extract"] == 600
    files = _extract_files(base)
    assert len(files) == DEP_PARTS  # 600 pages reach every dep_part
    assert all(len(f) == 1 for f in files.values()), files

    r2 = run("r2")
    assert r2["extract"] == 0 and r2["placement"] == 0
    assert _extract_files(base) == files
