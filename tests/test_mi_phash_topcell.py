"""mutual_info / ahash_pairs / top_per_cell: reference parity tests."""

import math

import pytest
from pyspark.sql import functions as F

from cadastre_pg_spark.operators.held import release_cached
from cadastre_pg_spark.operators.multimodal import (
    AHASH_BITS,
    _fake_decode_wide,
    ahash_pairs,
    image_features,
)
from cadastre_pg_spark.operators.stats import mutual_info
from cadastre_pg_spark.operators.tiling import top_per_cell


# ------------------------------------------------------------- mutual_info


def _mi_rows(spark, pairs):
    df = spark.createDataFrame(pairs, "a string, b int")
    out = mutual_info(df, "a", "b")
    rows = {(r.a, r.b): r for r in out.collect()}
    release_cached(out)
    return rows


def _u(x):
    return round(math.log(x) * 1e6)


def test_mi_independent_is_near_zero(spark):
    # perfectly independent 2x2 -> every cell contribution ~0
    pairs = [(a, b) for a in ("x", "y") for b in (0, 1) for _ in range(10)]
    rows = _mi_rows(spark, pairs)
    n, na, nb, nab = 40, 20, 20, 10
    want = nab * (_u(nab) + _u(n) - _u(na) - _u(nb))
    for r in rows.values():
        assert (r.n_ab, r.n_a, r.n_b, r.mi_u) == (nab, na, nb, want)
    assert abs(sum(r.mi_u for r in rows.values())) <= 4  # rounding only


def test_mi_deterministic_function_is_high(spark):
    # b = f(a): MI = H(a) = ln 2 for the uniform 2-value case
    pairs = [("x", 0)] * 15 + [("y", 1)] * 15
    rows = _mi_rows(spark, pairs)
    total = sum(r.mi_u for r in rows.values())
    assert total / (30 * 1e6) == pytest.approx(math.log(2), abs=1e-5)


def test_mi_matches_reference_census(spark):
    pairs = [(("a", "b", "c")[i % 3], (i * i) % 4) for i in range(60)]
    rows = _mi_rows(spark, pairs)
    from collections import Counter

    nab = Counter(pairs)
    na = Counter(a for a, _ in pairs)
    nb = Counter(b for _, b in pairs)
    n = len(pairs)
    assert set(rows) == set(nab)
    for (a, b), c in nab.items():
        r = rows[(a, b)]
        want = c * (_u(c) + _u(n) - _u(na[a]) - _u(nb[b]))
        assert (r.n_ab, r.n_a, r.n_b, r.mi_u) == (c, na[a], nb[b], want)


# ------------------------------------------------------------- ahash_pairs


def _feat_df(spark, vectors):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "media_id long, features array<double>",
    )


def _vec_from_bits(bits_int):
    # bit j set -> feature 0.9 else 0.1; mean in (0.1, 0.9) strictly
    # for any non-constant vector, so aHash reproduces bits_int
    return [0.9 if (bits_int >> j) & 1 else 0.1 for j in range(AHASH_BITS)]


def test_ahash_exact_and_near_pairs(spark):
    base = (1 << 30) | (1 << 3) | 1
    vecs = [
        _vec_from_bits(base),
        _vec_from_bits(base),          # identical -> hamming 0
        _vec_from_bits(base ^ (1 << 7)),   # hamming 1
        _vec_from_bits(base ^ (1 << 7) ^ (1 << 40) ^ (1 << 55)),  # 3 from base
        _vec_from_bits(base ^ 0xFF),   # hamming 8 -> excluded
    ]
    out = ahash_pairs(_feat_df(spark, vecs))
    got = {(r.media_a, r.media_b): r.hamming for r in out.collect()}
    assert got[(0, 1)] == 0
    assert got[(0, 2)] == 1 and got[(1, 2)] == 1
    assert got[(0, 3)] == 3 and got[(1, 3)] == 3 and got[(2, 3)] == 2
    assert (0, 4) not in got and (1, 4) not in got


def test_ahash_banding_complete_at_radius(spark):
    # every weight-<=3 perturbation must be found (pigeonhole)
    base = 0b101 | (1 << 20) | (1 << 45)
    vecs = [_vec_from_bits(base)]
    flips = [(5,), (5, 17), (5, 17, 33), (2, 31, 59)]
    for fl in flips:
        x = base
        for b in fl:
            x ^= 1 << b
        vecs.append(_vec_from_bits(x))
    out = ahash_pairs(_feat_df(spark, vecs))
    got = {(r.media_a, r.media_b): r.hamming for r in out.collect()}
    for k, fl in enumerate(flips, start=1):
        assert got[(0, k)] == len(fl)


def test_ahash_through_fake_decode_plumbing(spark):
    # two identical payloads through the real mapInPandas decode stage
    rows = [(0, b"pay-A"), (1, b"pay-A"), (2, b"pay-B")]
    media = spark.createDataFrame(rows, "media_id long, payload binary")
    feats = image_features(media, dim=AHASH_BITS, decode_fn=_fake_decode_wide)
    got = {(r.media_a, r.media_b): r.hamming for r in ahash_pairs(feats).collect()}
    assert got.get((0, 1)) == 0
    assert all(a == 0 and b == 1 for a, b in got)  # B is hash-far from A


def test_fake_decode_wide_no_period_8_repeat(spark):
    v = _fake_decode_wide(b"xyz", 60)
    assert len(v) == 60 and list(v[:8]) != list(v[8:16])


# ------------------------------------------------------------ top_per_cell


def test_top_per_cell_rank_and_ties(spark):
    rows = [
        (1, 100, 0.9),
        (2, 100, 0.9),   # tie -> lower doc_id ranks first
        (3, 100, 0.5),
        (4, 100, 0.4),   # rank 4 -> cut at k=3
        (5, 200, 0.1),
    ]
    df = spark.createDataFrame(rows, "doc_id long, cell long, score double")
    got = sorted(
        (r.cell, r.rank, r.doc_id) for r in top_per_cell(df, k=3).collect()
    )
    assert got == [(100, 1, 1), (100, 2, 2), (100, 3, 3), (200, 1, 5)]


def test_resize_images_shape_determinism_and_injection(spark):
    import numpy as np

    from cadastre_pg_spark.operators.multimodal import (
        generate_media,
        resize_images,
    )

    media = generate_media(spark, 60)
    out = resize_images(media, out_w=8, out_h=4).collect()
    n_imgs = media.filter("kind = 'image'").count()
    assert len(out) == n_imgs and n_imgs > 0
    for r in out:
        assert r.out_w == 8 and r.out_h == 4
        assert len(r.pixels) == 32
        assert all(0.0 <= p < 1.0 for p in r.pixels)
    # deterministic across partitioning
    again = resize_images(media.repartition(5), out_w=8, out_h=4).collect()
    assert {r.media_id: tuple(r.pixels) for r in out} == {
        r.media_id: tuple(r.pixels) for r in again
    }
    # codec injection point: a constant-gradient decoder resizes to
    # the exact nearest-neighbor subsample of its grid
    def fake(payload, w, h):
        return np.arange(w * h, dtype=np.float64).reshape(h, w) / (w * h)

    inj = resize_images(media, out_w=2, out_h=2, decode_fn=fake).collect()
    r0 = inj[0]
    meta = {
        m.media_id: (m.width, m.height)
        for m in media.filter("kind = 'image'").collect()
    }
    w, h = meta[r0.media_id]
    grid = np.arange(w * h, dtype=np.float64).reshape(h, w) / (w * h)
    ys, xs = (np.arange(2) * h) // 2, (np.arange(2) * w) // 2
    assert list(grid[np.ix_(ys, xs)].ravel()) == list(r0.pixels)


def test_resize_images_strict_mode_raises(spark):
    import pytest as _pytest

    from cadastre_pg_spark.operators.multimodal import (
        generate_media,
        resize_images,
    )

    media = generate_media(spark, 12)
    with _pytest.raises(Exception) as ei:
        resize_images(media, strict=True).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )
