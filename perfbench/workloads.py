"""The benchmark's workloads: inputs from a seed, one timed iteration,
and the correctness gate against a reference computed once.

Every iteration rebuilds its DataFrames from scratch through the
engine's public entry points and ends in an action that reads the
computed columns (count + checksum, see reference.py): a bare count()
would let Catalyst prune the work being measured.

Sizes are chosen for a 4-core host. Neither workload reaches a join
gate: tile_burn joins no points, and import_resume places its pages
against 100 parcels, far below BROADCAST_PARCEL_LIMIT (300k parcels),
so its cell_spatial_join takes the broadcast path.
"""

import os
import shutil
import time

import numpy as np
from pyspark.sql import functions as F

from cadastre_pg_spark import pipeline
from cadastre_pg_spark.data import synthetic as S
from cadastre_pg_spark.data.pages import make_page
from cadastre_pg_spark.lineage.checkpoints import CheckpointLog, new_run_id
from cadastre_pg_spark.operators import tiling

from . import reference as R
from . import trace as T

LEVEL = 10  # cell level of run_import's spatial join
FINE_LEVEL, TILE_LEVEL = 10, 7

BURN_POLYGONS = 2_000  # star polygons, size_scale 20: 2.5-4 s per iteration
BURN_SCALE = 20.0
BURN_TILE_POINTS = 2_000  # seeded points whose level-7 tiles are extracted
# a warm first run_import costs ~12 s of fixed per-call work (~94
# jobs) plus ~0.3 ms per page on 4 cores, a cold one 30-35 s: the run
# budget (see README.md) caps the size
IMPORT_PAGES = 10_000
IMPORT_PARCELS = 100  # run_import's own parcel set (size_scale 20)
IMPORT_SCALE = 20.0  # the size_scale run_import uses for its parcels


def seed_offset(seed: int, stride: int) -> int:
    """Seeded start of an id range. Keys stay below ~1e9 so the
    multiplicative hashes in data/synthetic.py cannot overflow a long."""
    return (seed % 997) * stride


class Workload:
    """One workload. `generate` writes the seeded inputs (part of
    set-up), `reference` computes the expected digests from them
    (untimed), `iterate` runs one timed iteration and returns its
    record."""

    name = ""
    rows = 0  # input rows completed by one iteration
    min_iterations = 3  # measured iterations per run, however long they take
    resume = None  # a step run once after the measured iterations, if any

    def __init__(self, seed: int, data_dir: str, tracer: T.Tracer):
        self.seed = seed
        self.dir = data_dir
        self.tracer = tracer
        self.ref = None

    def generate(self) -> None:
        raise NotImplementedError

    def reference(self) -> None:
        raise NotImplementedError

    def iterate(self, spark, it: int) -> dict:
        raise NotImplementedError

    def check(self, spark, rec: dict) -> bool:
        """Correctness of a finished iteration (untimed part)."""
        return rec["ok"]

    def layer_metrics(self, spark, it: int, rec: dict) -> dict:
        """Per-layer counts of a traced iteration, read after its clock
        stopped. rec["sql_before"] holds the SQL execution ids that
        existed before the iteration started."""
        return {}


class TileBurn(Workload):
    """raster_burn then tile_extract over seeded star polygons read
    from parquet; no points are placed and no PIP runs."""

    name = "tile_burn"
    rows = BURN_POLYGONS

    @property
    def _path(self):
        return os.path.join(self.dir, "stars.parquet")

    def generate(self) -> None:
        """Star polygons from the DuckDB twin of star_parcel_cols
        (data/synthetic.py keeps the two bit-identical), written with
        closed rings and the periodic hole as PARCEL_SCHEMA lays out."""
        import duckdb

        lo = seed_offset(self.seed, 100_000)
        m, cx, cy, _, _, vx, vy = S.star_vertices_sql("j", BURN_SCALE)
        hole = f"(j % {S.STAR_HOLE_PERIOD} = {S.STAR_HOLE_RESIDUE})"
        hs = f"CAST('{S.STAR_HOLE_SCALE!r}' AS DOUBLE)"
        sql = f"""
            WITH v AS (
              SELECT j, {m} AS m, {cx} AS cx, {cy} AS cy, {hole} AS has_hole,
                     list_concat({vx}, {vx}[1:1]) AS ex,
                     list_concat({vy}, {vy}[1:1]) AS ey
              FROM range({lo}, {lo + BURN_POLYGONS}) t(j)
            )
            SELECT j AS parcel_id,
                   CASE WHEN has_hole THEN list_concat(ex, [cx + {hs} * (x - cx) for x in ex])
                        ELSE ex END AS xs,
                   CASE WHEN has_hole THEN list_concat(ey, [cy + {hs} * (y - cy) for y in ey])
                        ELSE ey END AS ys,
                   CASE WHEN has_hole THEN [0, m + 1, 2 * (m + 1)] ELSE [0, m + 1] END
                     :: INTEGER[] AS ring_offsets
            FROM v
        """
        con = duckdb.connect()
        try:
            con.execute(f"COPY ({sql}) TO '{self._path}' (FORMAT parquet)")
        finally:
            con.close()

    def _tiles(self, spark):
        lo = seed_offset(self.seed, 1_000_000)
        key = F.col("id").cast("long")
        return spark.range(lo, lo + BURN_TILE_POINTS, 1, 4).select(
            S.grid_cell_col(S.lon_col(key), S.lat_col(key), TILE_LEVEL).alias("tile")
        )

    def reference(self) -> None:
        import pyarrow.parquet as pq

        from cadastre_pg_spark.kernels.cells import grid_cell

        tab = pq.read_table(self._path).to_pydict()
        polys = zip(tab["parcel_id"], tab["xs"], tab["ys"], tab["ring_offsets"])
        lo = seed_offset(self.seed, 1_000_000)
        tiles = grid_cell(*R.points_np(lo, lo + BURN_TILE_POINTS), TILE_LEVEL)
        self.ref = R.burn_reference(polys, tiles, FINE_LEVEL, TILE_LEVEL)

    def iterate(self, spark, it: int) -> dict:
        with self.tracer.span("bench.read_input"):
            polys = spark.read.parquet(self._path)
        burn = tiling.raster_burn(polys, fine_level=FINE_LEVEL, tile_level=TILE_LEVEL).persist()
        burn_agg = burn.agg(*R.digest_cols("parcel_id", "tile", "n_cells"))
        with self.tracer.span("tiling.burn_action"):
            b = burn_agg.collect()[0]
        ext = tiling.tile_extract(self._tiles(spark), burn)
        ext_agg = ext.agg(*R.digest_cols("tile", "parcel_id", "n_cells"))
        with self.tracer.span("tiling.extract_action"):
            e = ext_agg.collect()[0]
        with self.tracer.span("bench.release"):
            burn.unpersist()
        got_b = (int(b["n"]), int(b["checksum"] or 0))
        got_e = (int(e["n"]), int(e["checksum"] or 0))
        ok = got_b == self.ref["burn"] and got_e == self.ref["extract"]
        return {"ok": ok, "got": (got_b, got_e), "df": burn_agg}

    def layer_metrics(self, spark, it: int, rec: dict) -> dict:
        pb = T.python_bytes_since(spark, rec["sql_before"])
        cover = T.polyfill_counts(T.plan_nodes(rec["df"]))
        js = rec["jobs"]
        tr = self.tracer
        return {
            "tiling.burn_s": tr.total(it, "tiling.raster_burn") + tr.total(it, "tiling.burn_action"),
            "tiling.extract_s": tr.total(it, "tiling.tile_extract")
            + tr.total(it, "tiling.extract_action"),
            "tiling.fine_cells": cover["rows"],
            "tiling.jobs": js["jobs"],
            "tiling.tasks": js["tasks"],
            "tiling.shuffle_write_bytes": js["shuffle_write_bytes"],
            "tiling.spill_bytes": js["spill_bytes"],
            "spatial_join.polyfill_s": cover["python_s"],
            "python.bytes_to_worker": pb["bytes_to_worker"],
            "python.bytes_from_worker": pb["bytes_from_worker"],
        }


class ImportResume(Workload):
    """run_import over a seeded pages parquet into a fresh base_dir per
    iteration; after the measured iterations, resume() makes the same
    call again on the last base_dir (the resume, which must commit
    nothing). One resume per run, not one per iteration: a warm resume
    costs about 12 s here whatever the input size, and a run has to fit
    the benchmark's time budget."""

    name = "import_resume"
    rows = IMPORT_PAGES
    # a warm first call (~17 s) outlasts --seconds; the budget of
    # 4 + 22 runs per workload in 3420 s leaves room for one per run
    min_iterations = 1

    @property
    def _pages(self):
        return os.path.join(self.dir, "pages.parquet")

    def generate(self) -> None:
        """Pages from make_page, the generator generate_pages runs per
        row, built in the driver and written as one parquet file."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        lo = seed_offset(self.seed, 100_000)
        schema = pa.schema(
            [
                ("url", pa.string()),
                ("warc_ts", pa.timestamp("us", tz="UTC")),
                ("html", pa.binary()),
                ("text", pa.string()),
                ("lang", pa.string()),
                ("dep", pa.string()),
            ]
        )
        rows = [make_page(i) for i in range(lo, lo + IMPORT_PAGES)]
        pq.write_table(pa.Table.from_pylist(rows, schema), self._pages)

    def reference(self) -> None:
        import pyarrow.parquet as pq

        tab = pq.read_table(self._pages, columns=["url", "html"]).to_pydict()
        self.ref = R.import_reference(tab["url"], tab["html"], IMPORT_PARCELS, IMPORT_SCALE)

    def _run(self, spark, base: str) -> tuple:
        run_id = new_run_id()
        rep = pipeline.run_import(
            spark,
            base,
            run_id,
            n_parcels=IMPORT_PARCELS,
            level=LEVEL,
            pages_df=spark.read.parquet(self._pages),
        )
        return rep, run_id

    def iterate(self, spark, it: int) -> dict:
        base = os.path.join(self.dir, f"import-{it}")
        shutil.rmtree(base, ignore_errors=True)
        first, run_id = self._run(spark, base)
        self._last = (base, run_id)
        return {"first": first, "base": base}

    def resume(self, spark, it: int) -> dict:
        base, first_id = self._last
        resume, run_id = self._run(spark, base)
        return {"resume": resume, "base": base, "run_ids": (first_id, run_id)}

    def check(self, spark, rec: dict) -> bool:
        """The placement output equals the reference; a resume commits
        0 rows and leaves that output unchanged."""
        report = rec.get("resume") or rec["first"]
        out = R.digest_of(spark.read.parquet(report["out_dir"]).select("point_id", "parcel_id"))
        rec["got"] = out
        ok = out == self.ref
        if "resume" in rec:
            ok = ok and report["extract"] == 0 and report["placement"] == 0
        return ok

    def layer_metrics(self, spark, it: int, rec: dict) -> dict:
        if "resume" in rec:
            log = CheckpointLog(spark, rec["base"]).read()
            per_run = {
                r["run_id"]: r["n"]
                for r in log.groupBy("run_id").agg(F.count(F.lit(1)).alias("n")).collect()
            }
            first_parts = per_run.get(rec["run_ids"][0], 0)
            resume_parts = per_run.get(rec["run_ids"][1], 0)
            return {
                "pipeline.jobs_resume": rec["jobs"]["jobs"],
                "pipeline.resume_s": rec["seconds"],
                "lineage.skip_ratio": 1.0 - resume_parts / first_parts if first_parts else 0.0,
            }
        pb = T.python_bytes_since(spark, rec["sql_before"])
        on_disk = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(rec["base"]) for f in fs
        )
        tr = self.tracer
        return {
            "pipeline.stage_s.extract": tr.total(it, "pipeline.stage.extract"),
            "pipeline.stage_s.placement": tr.total(it, "pipeline.stage.placement"),
            "pipeline.jobs_first": rec["jobs"]["jobs"],
            "lineage.bytes_on_disk": on_disk,
            "spatial_join.build_s": tr.total(it, "spatial_join.build"),
            "python.bytes_to_worker": pb["bytes_to_worker"],
            "python.bytes_from_worker": pb["bytes_from_worker"],
        }


WORKLOADS = {w.name: w for w in (TileBurn, ImportResume)}


def kernel_rates(seed: int) -> dict:
    """Single-process throughput of the three NumPy/Python kernels the
    workloads push through the Python boundary, on seeded inputs."""
    from cadastre_pg_spark.data.parcels import make_parcel
    from cadastre_pg_spark.kernels.cover import grid_cover
    from cadastre_pg_spark.kernels.pip import build_edge_matrix, points_in_polygons_rowwise
    from cadastre_pg_spark.kernels.textextract import extract_text

    rng = np.random.default_rng(seed)
    lo = seed_offset(seed, 1_000)
    polys = [make_parcel(lo + i, 20.0) for i in range(100)]
    rings = [(p["xs"], p["ys"], p["ring_offsets"]) for p in polys]

    n_pts = 200_000
    pidx = rng.integers(0, len(polys), n_pts)
    cx = np.array([np.mean(p["xs"]) for p in polys])
    cy = np.array([np.mean(p["ys"]) for p in polys])
    px = cx[pidx] + rng.uniform(-0.2, 0.2, n_pts)
    py = cy[pidx] + rng.uniform(-0.2, 0.2, n_pts)
    t = time.perf_counter()
    X1, Y1, X2, Y2 = build_edge_matrix(rings)
    points_in_polygons_rowwise(px, py, pidx, X1, Y1, X2, Y2)
    pip_s = time.perf_counter() - t

    t = time.perf_counter()
    for xs, ys, offs in rings:
        grid_cover(np.asarray(xs), np.asarray(ys), np.asarray(offs), FINE_LEVEL)
    cover_s = time.perf_counter() - t

    pages = [make_page(lo + i)["html"] for i in range(1_000)]
    t = time.perf_counter()
    for html in pages:
        extract_text(html, "8859-15")
    text_s = time.perf_counter() - t
    return {
        "kernels.pip.points_per_s": n_pts / pip_s,
        "kernels.cover.polygons_per_s": len(rings) / cover_s,
        "kernels.textextract.pages_per_s": len(pages) / text_s,
    }
