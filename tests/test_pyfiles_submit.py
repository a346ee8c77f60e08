"""spark-submit --py-files ship-path smoke test (north rule: the
engine ships to a cluster as --py-files modules, scripts/
submit_example.sh). Builds the zip exactly as the ship script does,
then runs a real spark-submit from a scratch cwd where the repo
checkout is NOT importable — the driver asserts the package resolved
from the zip and builds its session through session.get_spark, which
keeps Spark's stock worker daemon there, and a mapInPandas stage
proves EXECUTOR-side workers import the kernels from the shipped zip
too (distributed cell == kernel cell, the house invariant, through the
ship path)."""

import os
import subprocess
import sys
import zipfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

JOB = """\
import pyspark.sql.functions as F

import cadastre_pg_spark
from cadastre_pg_spark.data import synthetic as S
from cadastre_pg_spark.session import get_spark

# must come from the shipped zip, not a checkout on sys.path
assert ".zip" in cadastre_pg_spark.__file__, cadastre_pg_spark.__file__

spark = get_spark(app="pyfiles_smoke", cores=4)
# a worker daemon cannot import the zipped package when it starts, so
# the session keeps Spark's stock daemon
conf = spark.sparkContext.getConf()
daemon = conf.get("spark.python.daemon.module", "pyspark.daemon")
assert daemon == "pyspark.daemon", daemon

LEVEL = 5
key = F.col("id").cast("long")
pts = spark.range(2000).select(
    F.col("id"),
    S.lon_col(key).alias("lon"),
    S.lat_col(key).alias("lat"),
)
jvm = pts.select(
    "id", S.grid_cell_col(F.col("lon"), F.col("lat"), LEVEL).alias("cell_jvm")
)


def kernel_cells(it):
    # executor-side import from the --py-files zip
    from cadastre_pg_spark.kernels import cells as K

    for pdf in it:
        out = pdf[["id"]].copy()
        out["cell"] = K.grid_cell(
            pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), LEVEL
        )
        yield out


ker = pts.mapInPandas(kernel_cells, "id long, cell long")
diff = jvm.join(ker, "id").filter(F.col("cell_jvm") != F.col("cell")).count()
assert diff == 0, f"{diff} cells disagree between JVM column and kernel"
print("PYFILES_SMOKE_OK rows=%d" % jvm.count())
spark.stop()
"""


def test_spark_submit_pyfiles(tmp_path):
    zip_path = tmp_path / "cadastre_pg_spark.zip"
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for p in sorted((REPO / "cadastre_pg_spark").rglob("*.py")):
            if "__pycache__" in p.parts:
                continue
            zf.write(p, p.relative_to(REPO))
    job = tmp_path / "job.py"
    job.write_text(JOB)

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # the zip must be the only source
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            "spark-submit",
            "--master",
            "local[4]",
            "--py-files",
            str(zip_path),
            "--conf",
            "spark.ui.enabled=false",
            "--conf",
            "spark.sql.shuffle.partitions=8",
            str(job),
        ],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "PYFILES_SMOKE_OK" in proc.stdout, (
        proc.stdout[-1000:] + proc.stderr[-2000:]
    )
