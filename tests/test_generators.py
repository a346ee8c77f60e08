"""Synthetic pages/parcels generators: determinism + the byte-identical
text-extraction invariant (distributed engine == single-process oracle,
BASELINE.json input_hint)."""

import hashlib
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from cadastre_pg_spark.data.pages import generate_pages, make_page
from cadastre_pg_spark.data.parcels import generate_parcels, make_parcel
from cadastre_pg_spark.kernels.geomhash import geometry_hash
from cadastre_pg_spark.kernels.pip import points_in_polygon
from cadastre_pg_spark.kernels.textextract import extract_text
from cadastre_pg_spark.session import one_wave
from cadastre_pg_spark.worker_daemon import archive_free


def test_pages_byte_identity(spark):
    """Distributed re-extraction of html must equal the stored text
    byte-for-byte per url — the engine's core per-row invariant."""
    n = 500
    pages = generate_pages(spark, n, partitions=8)

    @F.pandas_udf("string")
    def extract_udf(html: pd.Series) -> pd.Series:
        return pd.Series([extract_text(h, "8859-15") for h in html])

    checked = pages.select(
        "url",
        F.sha2(F.col("text"), 256).alias("stored_sha"),
        F.sha2(extract_udf(F.col("html")), 256).alias("extracted_sha"),
    )
    mismatches = checked.filter(
        F.col("stored_sha") != F.col("extracted_sha")
    ).count()
    assert mismatches == 0
    assert checked.count() == n


def test_pages_deterministic_vs_oracle(spark):
    rows = {
        r["url"]: r
        for r in generate_pages(spark, 50, partitions=4).collect()
    }
    for i in range(50):
        exp = make_page(i)
        got = rows[exp["url"]]
        assert got.text == exp["text"]
        assert bytes(got.html) == exp["html"]
        assert got.lang == exp["lang"]
        assert got.dep == exp["dep"]
    # accented content survived the 8859-15 round trip
    assert any("finé" in r.text for r in rows.values())


def test_parcels_generator(spark):
    n = 400
    df = generate_parcels(spark, n, partitions=4).collect()
    assert len(df) == n
    paths = {r.repair_path for r in df}
    assert any("stitched" in p for p in paths)  # ring stitching exercised
    assert any("hole" in p for p in paths)  # holes exercised
    for r in df[:50]:
        xs = np.asarray(r.xs)
        ys = np.asarray(r.ys)
        offs = np.asarray(r.ring_offsets, dtype=np.int64)
        # rings closed
        for j in range(len(offs) - 1):
            a, b = offs[j], offs[j + 1]
            assert xs[a] == xs[b - 1] and ys[a] == ys[b - 1]
        # hash matches recomputation (determinism)
        assert bytes(r.geometry_hash) == geometry_hash(xs, ys, offs)
    # hole interior excluded: the hole bbox midpoint (rings are radial /
    # star-shaped around the generation center) must be outside the
    # polygon under the even-odd rule
    holed = next(r for r in df if "hole" in r.repair_path)
    xs = np.asarray(holed.xs)
    ys = np.asarray(holed.ys)
    offs = np.asarray(holed.ring_offsets, dtype=np.int64)
    hole = slice(offs[1], offs[2])
    cx = (xs[hole].min() + xs[hole].max()) / 2
    cy = (ys[hole].min() + ys[hole].max()) / 2
    assert not points_in_polygon([cx], [cy], xs, ys, offs)[0]


def test_parcels_deterministic(spark):
    a = make_parcel(17)
    b = make_parcel(17)
    assert a["geometry_hash"] == b["geometry_hash"]
    assert a["xs"] == b["xs"]


def _range_slices(df) -> int:
    plan = df._jdf.queryExecution().analyzed()
    while plan.nodeName() != "Range":
        plan = plan.child()
    return plan.numSlices().get()


@pytest.mark.parametrize("n", [0, 1, 100])
def test_generators_default_to_one_wave(spark, n):
    """Both Python generators default to one wave of tasks: at most the
    session's cores, never more than n rows, at least one. (An empty
    range plans no partition at all, so n=0 checks the requested count.)"""
    want = max(1, min(spark.sparkContext.defaultParallelism, n))
    for df in (generate_parcels(spark, n), generate_pages(spark, n)):
        assert _range_slices(df) == want
        if n:
            assert df.rdd.getNumPartitions() == want


def test_generators_default_rows_equal_fixed_partitions(spark):
    """The default partitioning changes no row (order-independent)."""

    def rows(df, key):
        return sorted((r.asDict() for r in df.collect()), key=lambda d: d[key])

    assert rows(generate_parcels(spark, 100), "parcel_id") == rows(
        generate_parcels(spark, 100, partitions=16), "parcel_id"
    )
    assert rows(generate_pages(spark, 100), "url") == rows(
        generate_pages(spark, 100, partitions=16), "url"
    )


def test_python_workers_import_pyspark_from_directory(spark):
    """A one-wave Python task imports pyspark from its installed
    directory, and its worker holds no path entry or cached importer of
    the archives under SPARK_HOME (pyspark.zip, the py4j zip, the
    jars), which every task's importlib.invalidate_caches would re-read."""
    home = os.path.realpath(os.environ["SPARK_HOME"]) + os.sep

    def probe(it):
        import pyspark

        for _ in it:
            pass
        archived = sorted(
            k
            for k in {*sys.path, *sys.path_importer_cache}
            if (".zip" in k or ".jar" in k) and os.path.realpath(k).startswith(home)
        )
        yield pa.RecordBatch.from_pydict(
            {"file": [pyspark.__file__], "archived": [archived]}
        )

    n = 4
    rows = (
        spark.range(0, n, 1, one_wave(spark, n))
        .mapInArrow(probe, "file string, archived array<string>")
        .collect()
    )
    assert rows
    for r in rows:
        assert os.path.isfile(r.file), r.file
        assert r.archived == [], r.archived


def _fake_locate(found):
    """locate() over fake path lists: `found[(name, entry)]` is the
    (version, from a directory) of `name` at `entry`; the first entry
    that holds it wins, as on sys.path."""

    def locate(name, entries):
        return next((found[name, e] for e in entries if (name, e) in found), None)

    return locate


HOME = "/spark"
SPARK_PATH = [
    "/work",
    "/spark/python/lib/pyspark.zip",
    "/spark/python/lib/py4j-src.zip",
    "/spark/jars/spark-core.jar",
    "/spark/python/extra",
    "/deps/user.zip",
    "/py/lib/python311.zip",
    "/py/site-packages",
]
ZIPPED = {
    ("pyspark", "/spark/python/lib/pyspark.zip"): ("4.1.2", False),
    ("py4j", "/spark/python/lib/py4j-src.zip"): ("0.10.9.9", False),
}


def test_worker_daemon_drops_spark_archives():
    """With the same pyspark and py4j installed in a directory, only the
    archives under SPARK_HOME leave the path; a directory under it, a
    zip on PYTHONPATH and the interpreter's own zip stay, in order."""
    locate = _fake_locate(
        {
            **ZIPPED,
            ("pyspark", "/py/site-packages"): ("4.1.2", True),
            ("py4j", "/py/site-packages"): ("0.10.9.9", True),
        }
    )
    assert archive_free(SPARK_PATH, HOME, locate) == [
        "/work",
        "/spark/python/extra",
        "/deps/user.zip",
        "/py/lib/python311.zip",
        "/py/site-packages",
    ]


@pytest.mark.parametrize(
    "site, home",
    [
        # pyspark is not importable from a directory once the zips go
        ({("py4j", "/py/site-packages"): ("0.10.9.9", True)}, HOME),
        # the only other pyspark is itself archived (a zip on PYTHONPATH)
        (
            {
                ("pyspark", "/deps/user.zip"): ("4.1.2", False),
                ("py4j", "/py/site-packages"): ("0.10.9.9", True),
            },
            HOME,
        ),
        # the installed pyspark is another version than pyspark.zip's
        (
            {
                ("pyspark", "/py/site-packages"): ("4.0.0", True),
                ("py4j", "/py/site-packages"): ("0.10.9.9", True),
            },
            HOME,
        ),
        # py4j is only in Spark's zip
        ({("pyspark", "/py/site-packages"): ("4.1.2", True)}, HOME),
        # no SPARK_HOME: nothing is known to be Spark's
        (
            {
                ("pyspark", "/py/site-packages"): ("4.1.2", True),
                ("py4j", "/py/site-packages"): ("0.10.9.9", True),
            },
            None,
        ),
    ],
)
def test_worker_daemon_falls_back_to_the_path_as_is(site, home):
    locate = _fake_locate({**ZIPPED, **site})
    assert archive_free(SPARK_PATH, home, locate) is SPARK_PATH
