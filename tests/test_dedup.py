"""Near-dup operator tests: minhash-LSH (incl. the degenerate-bucket
cap), simhash determinism, and hashed-set Jaccard == string-set
Jaccard on collision-free data. The NumPy brute-force oracle here is
the single-process ground truth (kernels import no Spark)."""

import itertools

import pytest
from pyspark.sql import functions as F

from cadastre_pg_spark.operators import dedup as D
from cadastre_pg_spark.operators.held import release_cached, skipped
from conftest import SF_UNIT


def _brute_jaccard(texts, n=3):
    """{(i, j): jaccard} over word-3-gram sets, i < j, pure Python."""

    def sset(t):
        toks = t.split()
        return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 0))}

    sets = {i: sset(t) for i, t in texts.items()}
    out = {}
    for i, j in itertools.combinations(sorted(sets), 2):
        a, b = sets[i], sets[j]
        if a or b:
            out[(i, j)] = len(a & b) / len(a | b)
    return out


BASE = "the quick brown fox jumps over the lazy dog near the old stone bridge every morning"


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    rows = []
    for i in range(40):
        words = (BASE + f" filler{i} " + " ".join(f"w{i}_{k}" for k in range(10))).split()
        rows.append((i, " ".join(words)))
    # planted near-dups: doc 100+i = doc i plus one appended word
    # (jaccard ~0.89 — banding recall there is 1 - (1-j^4)^8 ~ 0.9996;
    # the fixture is deterministic, so a observed pass is stable)
    for i in range(5):
        rows.append((100 + i, rows[i][1] + " postscript"))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.mark.parametrize("hash_fn", ["xxhash64", "md5"])
def test_minhash_lsh_finds_planted_pairs(spark, near_dup_docs, hash_fn):
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.minhash_lsh_pairs(
            near_dup_docs, threshold=0.5, hash_fn=hash_fn
        ).collect()
    }
    texts = {r.doc_id: r.text for r in near_dup_docs.collect()}
    want = {p: j for p, j in _brute_jaccard(texts).items() if j >= 0.5}
    # every planted pair is high-jaccard; banding must recall them all
    assert set(want) == set(got)
    for p, j in want.items():
        assert got[p] == pytest.approx(j, abs=1e-6)


def test_minhash_signatures_deterministic_and_hash_mode(spark, near_dup_docs):
    a = D.minhash_signatures(near_dup_docs, hash_fn="md5").collect()
    b = D.minhash_signatures(near_dup_docs, hash_fn="md5").collect()
    assert sorted((r.doc_id, tuple(r.sig)) for r in a) == sorted(
        (r.doc_id, tuple(r.sig)) for r in b
    )
    assert all(len(r.sig) == D.N_HASHES for r in a)
    assert all(0 <= v < D.MINHASH_PRIME for r in a for v in r.sig)


def test_minhash_mega_bucket_is_capped_and_reported(spark):
    """Boilerplate mega-bucket: 300 identical docs would fan out to
    300^2/2 pairs per band without the cap. With max_bucket below the
    clone count the bucket is SKIPPED (exact-dup territory — A7/J3
    handle identical content), the skip is REPORTED as a metric, and
    genuine near-dups outside the mega-bucket are still found."""
    rows = [(i, "standard cookie banner text repeated verbatim " * 5) for i in range(300)]
    distinct = "an actual article about cadastral parcels in the old town center"
    rows.append((1000, distinct + " with one extra trailing clause"))
    rows.append((1001, distinct + " with one extra trailing clause!"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.minhash_lsh_pairs(docs, threshold=0.5, max_bucket=64)
    pairs = {(r.doc_a, r.doc_b) for r in out.collect()}
    sk = skipped(out).collect()
    assert (1000, 1001) in pairs
    assert not any(a < 300 and b < 300 for a, b in pairs), "mega-bucket leaked pairs"
    assert len(sk) >= D.BANDS  # every band bucket of the clones reported
    assert all(r.n == 300 for r in sk)


def test_simhash_modes_and_hamming_locality(spark):
    rows = [(i, BASE + f" tail{i}") for i in range(5)]  # near-dups of BASE
    rows += [
        (100 + i, " ".join(f"unrelated{i}_{k} token{i * 7 + k}" for k in range(30)))
        for i in range(5)
    ]  # pairwise-disjoint vocabularies
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for hash_fn in ("xxhash64", "md5"):
        fp = {r.doc_id: r.simhash for r in D.simhash(docs, hash_fn=hash_fn).collect()}
        assert len(fp) == 10

        def ham(a, b):
            return bin(a ^ b).count("1")

        near = [ham(fp[0], fp[i]) for i in range(1, 5)]
        far = [ham(fp[0], fp[100 + i]) for i in range(5)]
        assert max(near) < min(far)


def test_ngram_band_cap_skips_and_reports(spark):
    """A mega-band (300 same-length clones) would be a 300²/2 pair grid;
    with max_band below the clone count the band is SKIPPED and
    reported, while near-dups in other bands are still found exactly."""
    # clones: 30 tokens -> band 3; planted pair: 50 tokens -> band 6
    rows = [(i, "standard cookie banner text repeated verbatim " * 5) for i in range(300)]
    distinct = "an actual article about cadastral parcels " + " ".join(
        f"tok{k}" for k in range(43)
    )
    rows.append((1000, distinct + " trailing"))
    rows.append((1001, distinct + " trailing!"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.ngram_jaccard_pairs(docs, threshold=0.5, max_band=64)
    pairs = {(r.doc_a, r.doc_b) for r in out.collect()}
    sk = skipped(out).collect()
    assert (1000, 1001) in pairs
    assert not any(a < 300 and b < 300 for a, b in pairs), "mega-band leaked pairs"
    assert len(sk) == 1 and sk[0].n == 300


def test_ngram_size_prefilter_is_exact(spark, near_dup_docs):
    """The size-ratio prune inside the join condition must be
    result-identical to the brute-force jaccard threshold filter."""
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()
    }
    texts = {r.doc_id: r.text for r in near_dup_docs.collect()}
    want = {p: j for p, j in _brute_jaccard(texts).items() if j >= 0.5}
    # token-count bands: every planted pair differs by ONE word, so the
    # pair can straddle a band edge — restrict the check to same-band
    def band(t):
        return len(t.split()) // 8

    want = {
        (i, j): v for (i, j), v in want.items() if band(texts[i]) == band(texts[j])
    }
    assert set(got) == set(want)
    for p, j in want.items():
        assert got[p] == pytest.approx(j, abs=1e-6)


def test_ngram_lsh_prefilter_matches_exact_mode(spark, near_dup_docs):
    """prefilter='minhash' (the past-the-cap scale path) must find the
    same pairs with the same exact jaccard values as the exact
    within-band grid on this fixture (planted pairs at j~0.89: banding
    recall 1-(1-j^4)^8 ~ 0.9996, deterministic fixture => stable)."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in D.ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()
    }
    lsh = D.ngram_jaccard_pairs(near_dup_docs, threshold=0.5, prefilter="minhash")
    got = {(r.doc_a, r.doc_b): r.jaccard for r in lsh.collect()}
    assert got == exact
    assert skipped(lsh).count() == 0


def test_embedding_neardup_mega_bucket_capped(spark):
    """Adversarial cluster collapse: 500 near-identical vectors land in
    ONE sign bucket. With max_bucket below that, the bucket is skipped
    and reported instead of running a 500²/2 verify; pairs outside the
    collapsed bucket are still found."""
    import numpy as np

    base = np.linspace(0.1, 1.0, 8)
    rows = [(i, (base + 1e-6 * (i % 3)).tolist()) for i in range(500)]
    # a distinct pair in a different orthant (negate half the dims)
    flip = base.copy()
    flip[::2] *= -1
    rows.append((1000, flip.tolist()))
    rows.append((1001, (flip * 1.0001).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = D.embedding_neardup_pairs(emb, threshold=0.999, n_planes=4, max_bucket=64)
    pairs = {(r.vec_a, r.vec_b) for r in out.collect()}
    sk = skipped(out).collect()
    assert (1000, 1001) in pairs
    assert not any(a < 500 and b < 500 for a, b in pairs), "mega-bucket leaked"
    assert len(sk) == 1 and sk[0].n == 500


def test_derive_n_planes_tracks_count():
    assert D.derive_n_planes(0) == 4
    assert D.derive_n_planes(100) == 4
    assert D.derive_n_planes(1_000) == 4  # ceil(log2(1000/128)) = 3 -> lo
    assert D.derive_n_planes(20_000) == 8
    assert D.derive_n_planes(1_000_000) == 13
    assert D.derive_n_planes(10**12) == 24  # clamped: caller must shard


def test_md5_hash32_matches_python(spark):
    """The md5-prefix 32-bit hash (oracle-parity mode) equals Python's
    hashlib on the same strings."""
    import hashlib

    rows = [(i, s) for i, s in enumerate(["a b c", "déjà vu", "", "x"])]
    df = spark.createDataFrame(rows, "i long, s string").select(
        "i", "s", D.shingle_hash32(F.col("s"), "md5").alias("h")
    )
    for r in df.collect():
        assert r.h == int(hashlib.md5(r.s.encode()).hexdigest()[:8], 16)


def test_incremental_neardup_equals_batch_restriction(spark):
    """incremental(new, store(old)) == batch pairs over (old + new)
    restricted to pairs involving a new doc."""
    from cadastre_pg_spark.operators.dedup import (
        incremental_neardup,
        minhash_lsh_pairs,
        minhash_store,
    )

    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    store = minhash_store(old).persist()
    inc = incremental_neardup(new, store, threshold=0.4)
    got = {(r.doc_a, r.doc_b, r.jaccard) for r in inc.collect()}
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    batch = minhash_lsh_pairs(docs, threshold=0.4)
    exp = {
        (r.doc_a, r.doc_b, r.jaccard)
        for r in batch.collect()
        if r.doc_a in new_ids or r.doc_b in new_ids
    }
    assert got == exp and len(got) > 0
    store.unpersist()


def test_incremental_neardup_never_pairs_store_with_itself(spark):
    """Two near-identical STORE docs must not appear; a new doc pairs
    with its store twin; the append rows cover exactly the new docs."""
    from cadastre_pg_spark.operators.dedup import incremental_neardup, minhash_store

    base = " ".join(f"w{k}" for k in range(40))
    old = spark.createDataFrame(
        [(1, base), (2, base), (3, " ".join(f"z{k}" for k in range(40)))],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base + " extra"), (11, "totally different stuff here " * 8)],
        "doc_id long, text string",
    )
    inc = incremental_neardup(new, minhash_store(old), threshold=0.5)
    pairs = {(r.doc_a, r.doc_b) for r in inc.collect()}
    assert pairs == {(1, 10), (2, 10)}  # never (1, 2)
    assert {r.doc_id for r in inc._new_store_rows.select("doc_id").collect()} == {10, 11}


def _line_docs(spark):
    # doc 0/1 share "the same boilerplate"; doc 1 repeats a private
    # line twice (must NOT count as cross-doc); doc 2 is pure
    # boilerplate; doc 3 has blank lines around unique content.
    rows = [
        (0, "the same boilerplate\nalpha unique zero"),
        (1, "private line\nprivate line\nthe same boilerplate"),
        (2, "the same boilerplate"),
        (3, "\nbravo unique three\n"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_line_dedup_newline_rules(spark):
    out = {
        r["doc_id"]: r
        for r in D.line_dedup(_line_docs(spark), min_docs=2).collect()
    }
    # shared line dropped from EVERY doc, including the survivor set
    assert out[0]["clean_text"] == "alpha unique zero"
    assert (out[0]["n_kept"], out[0]["n_dropped"]) == (1, 1)
    # within-doc repetition alone never reaches min_docs=2
    assert out[1]["clean_text"] == "private line\nprivate line"
    assert out[1]["n_dropped"] == 1
    # a doc that was pure boilerplate still gets a row, emptied
    assert out[2]["clean_text"] == ""
    assert (out[2]["n_kept"], out[2]["n_dropped"]) == (0, 1)
    # blank lines are never dup-counted or dropped (order preserved)
    assert out[3]["clean_text"] == "\nbravo unique three\n"
    assert out[3]["n_dropped"] == 0


def test_line_dedup_hash_modes_agree(spark):
    docs = _line_docs(spark)
    a = sorted(D.line_dedup(docs, hash_fn="xxhash64").collect())
    b = sorted(D.line_dedup(docs, hash_fn="md5").collect())
    assert a == b


def test_line_dedup_token_segmenter(spark):
    # 2-token windows: "a b|c d|e" — "a b" and "c d" shared by both
    # docs, tails differ; reassembly joins with single spaces.
    rows = [(0, "a b c d e"), (1, "a b c d zz")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in D.line_dedup(
            docs, min_docs=2, segmenter="tokens", seg_tokens=2
        ).collect()
    }
    assert out[0]["clean_text"] == "e"
    assert out[1]["clean_text"] == "zz"
    assert out[0]["n_dropped"] == out[1]["n_dropped"] == 2


def test_line_dedup_threshold_three_docs(spark):
    rows = [(i, "common to all\nonly %d" % i) for i in range(3)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = D.line_dedup(docs, min_docs=4).collect()
    assert all(r["n_dropped"] == 0 for r in out)  # below threshold
    out2 = D.line_dedup(docs, min_docs=3).collect()
    assert all(r["n_dropped"] == 1 for r in out2)


def test_line_dedup_exchange_key_is_hash_not_text(spark):
    """Both hash exchanges (dup census + anti join) must partition on
    the 8-byte lh, never the line text (dedup.line_dedup scale rule)."""
    from cadastre_pg_spark.plans.audit import explain_string

    plan = explain_string(D.line_dedup(_line_docs(spark)), mode="simple")
    seen = 0
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            seen += 1
            key = ln.split("Exchange hashpartitioning(", 1)[1]
            key = key.split(")", 1)[0]  # partition key expr list only
            assert "line#" not in key and "text#" not in key, ln
    assert seen >= 2


# ---------------------------------------------------------- setsim


def _setsim(spark, texts, num=9, den=10):
    from cadastre_pg_spark.operators.dedup import setsim_join

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = setsim_join(df, threshold_num=num, threshold_den=den)
    return {(r.a_id, r.b_id): r for r in out.collect()}


def _brute_setsim(texts, num, den):
    sets = [set(t.split()) for t in texts]
    out = {}
    for i in range(len(sets)):
        for j in range(i + 1, len(sets)):
            inter = len(sets[i] & sets[j])
            uni = len(sets[i] | sets[j])
            if den * inter >= num * uni:
                out[(i, j)] = (inter, uni)
    return out


def test_setsim_identical_and_near(spark):
    texts = [
        "a b c d e f g h i j",
        "a b c d e f g h i j",          # identical: jaccard 1
        "a b c d e f g h i k",          # 9/11 < 0.9
        "x y z q w",                     # unrelated
    ]
    got = _setsim(spark, texts)
    assert set(got) == {(0, 1)}
    assert got[(0, 1)].jaccard == 1.0 and got[(0, 1)].inter == 10


def test_setsim_threshold_boundary_exact(spark):
    # |a|=9, |b|=10, inter=9 -> jaccard = 9/10 == threshold: KEPT
    texts = ["a b c d e f g h i", "a b c d e f g h i j"]
    got = _setsim(spark, texts)
    assert set(got) == {(0, 1)}
    assert got[(0, 1)].uni == 10


def test_setsim_lossless_vs_brute_force(spark):
    # pseudorandom overlapping vocab; prefix filter must drop nothing
    vocab = [f"w{k}" for k in range(30)]
    texts = [
        " ".join(vocab[(i * 3 + j) % 30] for j in range(8 + (i % 5)))
        for i in range(40)
    ]
    for num, den in [(1, 2), (7, 10), (9, 10)]:
        got = _setsim(spark, texts, num, den)
        want = _brute_setsim(texts, num, den)
        assert set(got) == set(want), (num, den)
        for k, (inter, uni) in want.items():
            assert (got[k].inter, got[k].uni) == (inter, uni)


def test_setsim_max_bucket_caps_degenerate_vocab_loudly(spark):
    from cadastre_pg_spark.operators.dedup import setsim_join

    # adversarial corpus: EVERY doc is the same 5-token set, so every
    # token's prefix bucket holds all 40 docs — rarity ordering cannot
    # bound it. With max_bucket=10 the mega-buckets are dropped and
    # reported; the join stays bounded instead of 40x40 per token.
    texts = ["alpha beta gamma delta eps"] * 40 + ["zz yy xx ww vv qq"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    out = setsim_join(df, max_bucket=10)
    assert out.count() == 0  # the only candidates lived in capped buckets
    # at t=0.9 and |s|=5 the prefix is ONE token; all-tied df=40 breaks
    # by token asc, so the single mega-bucket is "alpha" with 40 rows
    sk = {r.ptok: r.n for r in skipped(out).collect()}
    assert sk == {"alpha": 40}
    release_cached(out)


def test_setsim_max_bucket_above_occupancy_is_lossless(spark):
    from cadastre_pg_spark.operators.dedup import setsim_join

    # a cap above every bucket's occupancy must change nothing
    vocab = [f"w{k}" for k in range(30)]
    texts = [
        " ".join(vocab[(i * 3 + j) % 30] for j in range(8 + (i % 5)))
        for i in range(40)
    ]
    got = _setsim(spark, texts, 7, 10)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    capped = setsim_join(df, threshold_num=7, max_bucket=10_000)
    got_capped = {(r.a_id, r.b_id): (r.inter, r.uni) for r in capped.collect()}
    assert got_capped == {k: (v.inter, v.uni) for k, v in got.items()}
    release_cached(capped)


def test_setsim_duplicate_tokens_collapse(spark):
    # repeated tokens count once (distinct-set semantics)
    texts = ["a a a b b c", "c b a"]
    got = _setsim(spark, texts, 1, 1)
    assert set(got) == {(0, 1)}
    assert got[(0, 1)].inter == 3 and got[(0, 1)].uni == 3


def test_minhash_calibration_exact_dups_zero_error(spark):
    from cadastre_pg_spark.operators.dedup import minhash_calibration

    # identical docs: signature estimate 32/32 and exact jaccard 1.0
    # agree exactly -> every error term is 0
    rows = [(i, "the quick brown fox jumps over the dog") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = minhash_calibration(df)
    r = out.collect()[0]
    assert r.n_pairs == 15  # C(6,2)
    assert (r.mae, r.bias, r.max_abs_err) == (0.0, 0.0, 0.0)
    release_cached(out)


def test_minhash_calibration_estimator_is_roughly_unbiased(spark):
    from cadastre_pg_spark.operators.dedup import minhash_calibration

    docs = spark.read.parquet(f"{SF_UNIT}/documents.parquet")
    out = minhash_calibration(docs)
    r = out.collect()[0]
    assert r.n_pairs > 0
    # the minhash estimator's stderr at N_HASHES=32 is ~0.09 per pair;
    # averaged over pairs the bias must be well inside one stderr and
    # the MAE inside ~one stderr
    assert abs(r.bias) < 0.05
    assert 0.0 <= r.mae < 0.1
    assert r.max_abs_err <= 0.5
    release_cached(out)
