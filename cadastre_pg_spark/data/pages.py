"""Deterministic Common-Crawl-style `pages` generator (FIXTURES.md §1).

Analog of the reference's EDIGEO archives (edigeo/src/archive.rs:13-26):
raw bytes in, decoded text out. Deterministic per row index (seed-free
hash arithmetic — no RNG state crosses partitions), so the distributed
engine and the single-process oracle can regenerate identical rows.

Columns per BASELINE.json input_hint:
  url string, warc_ts timestamp, html binary, text string, lang string
plus `dep` (département partition key, P2/P9 analog: 2-3 chars incl.
2A/2B — edigeo/src/lib.rs:41-78).
"""

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..session import one_wave

PAGE_SCHEMA = (
    "url string, warc_ts timestamp, html binary, text string, lang string, dep string"
)

_WORDS = (
    "cadastre parcelle section commune déjà forêt château être préfecture "
    "mairie plan feuille bâti propriété voirie rivière clôture numéro côté"
).split()

_DEPS = [f"{i:02d}" for i in range(1, 96) if i != 20] + ["2A", "2B"]

_LANGS = ["fr"] * 9 + ["en", "de"]  # ~82% fr by hash bucket


def _h(i: int, salt: int) -> int:
    return int.from_bytes(
        hashlib.sha256(f"{salt}:{i}".encode()).digest()[:8], "little"
    )


def make_page(i: int) -> dict:
    """Single-process oracle for one page row — pure function of i."""
    dep = _DEPS[_h(i, 1) % len(_DEPS)]
    url = f"https://dep{dep}.example.fr/p/{i:08d}"
    lang = _LANGS[_h(i, 2) % len(_LANGS)]
    nw = 8 + _h(i, 3) % 40
    words = [_WORDS[_h(i, 100 + k) % len(_WORDS)] for k in range(nw)]
    body = " ".join(words)
    title = f"Page {i:08d} ({dep})"
    html = (
        f"<html><head><title>{title}</title>"
        f"<script>var x_{i} = '<b>ignored</b>';</script>"
        f"<style>.c{{color:red}}</style></head>"
        f"<!-- commentaire {i} -->"
        f"<body><h1>{title}</h1><p>{body} &amp; fin&eacute;</p></body></html>"
    ).encode("iso-8859-15")
    from ..kernels.textextract import extract_text

    text = extract_text(html, "8859-15")
    ts = np.datetime64("2026-01-01T00:00:00") + np.timedelta64(
        _h(i, 4) % 31536000, "s"
    )
    return {
        "url": url,
        "warc_ts": pd.Timestamp(ts),
        "html": html,
        "text": text,
        "lang": lang,
        "dep": dep,
    }


def extract_text_udf(encoding: str = "8859-15"):
    """Arrow-batched text-extraction UDF (defined here, without
    `from __future__ import annotations`, so the pd.Series type hints
    stay resolvable by pyspark's signature inspection)."""
    from pyspark.sql import functions as F

    from ..kernels.textextract import extract_text

    @F.pandas_udf("string")
    def _extract(html: pd.Series) -> pd.Series:
        return pd.Series([extract_text(h, encoding) for h in html])

    return _extract


def generate_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed generator: spark.range -> mapInPandas building the
    same rows make_page builds (test asserts byte equality). The
    generator is a Python stage, so by default it runs in one wave:
    `one_wave(spark, n)` partitions, i.e. at most the session's cores
    and never more than n."""

    def gen(batches):
        for pdf in batches:
            rows = [make_page(int(i)) for i in pdf["id"].values]
            yield pd.DataFrame(rows)

    if partitions is None:
        partitions = one_wave(spark, n)
    return spark.range(0, n, 1, partitions).mapInPandas(gen, schema=PAGE_SCHEMA)
