"""Round-4 batch 7: readability features and binary-quantized ANN."""

import math

import numpy as np
import pytest

from cadastre_pg_spark.operators.held import skipped

# ------------------------------------------------------- readability ----


def _py_readability(text: str):
    import re

    nw = max(1, len(re.split(r"\s+", text.strip())))
    ns = max(1, len(re.findall(r"[.!?]+", text)))
    sy = max(1, len(re.findall(r"[aeiouy]+", text.lower())))
    wps = nw / ns
    spw = sy / nw
    return (
        nw,
        ns,
        sy,
        round(206.835 - 1.015 * wps - 84.6 * spw, 6),
        round(0.39 * wps + 11.8 * spw - 15.59, 6),
    )


def test_readability_matches_python_reference(spark):
    from cadastre_pg_spark.operators.textanalysis import readability

    texts = [
        "The cat sat on the mat. It was happy!",
        "Antidisestablishmentarianism notwithstanding, proceed.",
        "one two three",  # no terminal punctuation -> 1 sentence floor
        "???",  # no words beyond the token itself, no vowels -> floors
        "A b? C d! E f.",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r.doc_id: r for r in readability(docs).collect()}
    assert len(out) == len(texts)
    for i, t in enumerate(texts):
        nw, ns, sy, fl, fk = _py_readability(t)
        r = out[i]
        assert (r.n_words, r.n_sentences, r.n_syllables) == (nw, ns, sy), t
        assert r.flesch == pytest.approx(fl, abs=1e-9)
        assert r.fk_grade == pytest.approx(fk, abs=1e-9)


def test_readability_simple_beats_dense_prose(spark):
    from cadastre_pg_spark.operators.textanalysis import readability

    docs = spark.createDataFrame(
        [
            (0, "The dog ran. The cat sat. We all saw it."),
            (
                1,
                "Notwithstanding extraordinary administrative "
                "considerations, implementation methodologies "
                "necessitate comprehensive organizational evaluation "
                "frameworks continuously.",
            ),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in readability(docs).collect()}
    assert out[0].flesch > out[1].flesch  # simple prose reads easier
    assert out[0].fk_grade < out[1].fk_grade


# ----------------------------------------------------------- bq ANN ----


def _toy_embeddings(spark, n=120, d=64, seed=7):
    rng = np.random.default_rng(seed)
    mat = rng.normal(size=(n, d)).astype(np.float32)
    rows = [(int(i), [float(x) for x in mat[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    return df, mat


def test_bq_sign_masks_pack_numpy_parity(spark):
    from cadastre_pg_spark.operators.similarity import bq_sign_masks

    df, mat = _toy_embeddings(spark)
    got = {r.vec_id: (r.lo, r.hi) for r in bq_sign_masks(df).collect()}
    bits = (mat > 0).astype(np.int64)
    w = 1 << np.arange(32, dtype=np.int64)
    for i in range(mat.shape[0]):
        assert got[i] == (int(bits[i, :32] @ w), int(bits[i, 32:] @ w))
    # every packed half fits in 32 bits (the BIGINT-parity invariant)
    assert all(0 <= v < (1 << 32) for pair in got.values() for v in pair)


def test_bq_sign_masks_rejects_wrong_dim(spark):
    from cadastre_pg_spark.operators.similarity import bq_sign_masks

    df = spark.createDataFrame(
        [(0, [1.0, -1.0, 2.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="64 dims"):
        bq_sign_masks(df).collect()


def _brute_bq(mat, k, qmod, radius, cand):
    """Single-process NumPy oracle of bq_topk (the kernel invariant:
    distributed == kernel)."""
    n, d = mat.shape
    bits = (mat > 0).astype(np.int8)
    exp = []
    for q in range(0, n, qmod):
        ham = (bits ^ bits[q]).sum(axis=1)
        cands = [
            (int(ham[j]), j) for j in range(n) if j != q and ham[j] <= radius
        ]
        cands.sort()
        cands = cands[:cand]
        rer = []
        for h, j in cands:
            diff = mat[q].astype(np.float64) - mat[j].astype(np.float64)
            rer.append((round(float((diff * diff).sum()), 6), j, h))
        rer.sort()
        for rank, (d6, j, h) in enumerate(rer[:k], start=1):
            exp.append((q, j, h, d6, rank))
    return exp


def test_bq_topk_matches_brute_force(spark):
    from cadastre_pg_spark.operators.similarity import bq_topk

    df, mat = _toy_embeddings(spark, n=120)
    # radius 40 keeps the candidate sets non-trivial on iid gaussian
    # vectors (hamming concentrates near 32)
    out = bq_topk(df, k=3, qmod=30, radius=40, cand=16).collect()
    got = sorted(
        (r.q_id, r.vec_id, r.hamming, r.dist6, r.rank) for r in out
    )
    exp = sorted(_brute_bq(mat, k=3, qmod=30, radius=40, cand=16))
    assert [g[:3] + (g[4],) for g in got] == [
        e[:3] + (e[4],) for e in exp
    ]
    for g, e in zip(got, exp):
        assert math.isclose(g[3], e[3], abs_tol=1e-9)


def test_bq_topk_radius_prunes(spark):
    from cadastre_pg_spark.operators.similarity import bq_topk

    df, mat = _toy_embeddings(spark, n=80)
    # radius 0 keeps only exact sign-mask twins; iid gaussians have none
    assert bq_topk(df, k=3, qmod=20, radius=0).count() == 0


# -------------------------------------------------- calibration_ece ----


def test_calibration_ece_hand_computed(spark):
    from cadastre_pg_spark.operators.stats import calibration_ece

    # bin 0: scores ~0.05, 1/4 positive -> gap = 0.25 - 0.05 = 0.2
    # bin 9: scores ~0.95, 3/4 positive -> gap = 0.75 - 0.95 = -0.2
    rows = [(0.05, True)] + [(0.05, False)] * 3
    rows += [(0.95, True)] * 3 + [(0.95, False)]
    df = spark.createDataFrame(rows, "score double, gold boolean")
    out = {r.bin: r for r in calibration_ece(df, "score", "gold").collect()}
    assert set(out) == {0, 9}
    assert out[0].n == 4 and out[9].n == 4
    assert out[0].frac_pos == pytest.approx(0.25)
    assert out[0].mean_score == pytest.approx(0.05)
    assert out[0].gap == pytest.approx(0.2)
    assert out[9].gap == pytest.approx(-0.2)
    # ece = (4/8)*0.2 + (4/8)*0.2 = 0.2, identical on every row
    assert out[0].ece == pytest.approx(0.2)
    assert out[9].ece == out[0].ece


def test_calibration_ece_perfectly_calibrated(spark):
    from cadastre_pg_spark.operators.stats import calibration_ece

    # per bin, frac_pos == mean score -> ece ~ 0 (within quantization)
    rows = []
    for b in range(10):
        p = b / 10 + 0.05
        n_pos = round(p * 20)
        rows += [(p, True)] * n_pos + [(p, False)] * (20 - n_pos)
    df = spark.createDataFrame(rows, "score double, gold boolean")
    out = calibration_ece(df, "score", "gold").collect()
    assert len(out) == 10
    assert all(abs(r.ece) <= 0.05 for r in out)


def test_calibration_ece_clamps_out_of_range(spark):
    from cadastre_pg_spark.operators.stats import calibration_ece

    df = spark.createDataFrame(
        [(1.0, True), (0.0, False)], "score double, gold boolean"
    )
    out = {r.bin: r for r in calibration_ece(df, "score", "gold").collect()}
    assert set(out) == {0, 9}  # score 1.0 clamps into the top bin


# ------------------------------------------------------ cohen_kappa ----


def test_cohen_kappa_textbook_example(spark):
    from cadastre_pg_spark.operators.stats import cohen_kappa

    # classic 2x2: [[20, 5], [10, 15]] -> po = 0.7,
    # pe = (30*25 + 20*25)/2500 = 0.5 -> kappa = 0.4
    rows = (
        [("a", "a")] * 20 + [("a", "b")] * 5
        + [("b", "a")] * 10 + [("b", "b")] * 15
    )
    df = spark.createDataFrame(rows, "gold string, pred string")
    r = cohen_kappa(df, "gold", "pred").collect()[0]
    assert r.n == 50
    assert r.po == pytest.approx(0.7)
    assert r.pe == pytest.approx(0.5)
    assert r.kappa == pytest.approx(0.4)


def test_cohen_kappa_degenerate_single_class_is_null(spark):
    from cadastre_pg_spark.operators.stats import cohen_kappa

    df = spark.createDataFrame(
        [("a", "a")] * 7, "gold string, pred string"
    )
    r = cohen_kappa(df, "gold", "pred").collect()[0]
    assert r.po == pytest.approx(1.0) and r.pe == pytest.approx(1.0)
    assert r.kappa is None  # pe = 1 -> undefined, stated not silent


def test_cohen_kappa_perfect_and_chance(spark):
    from cadastre_pg_spark.operators.stats import cohen_kappa

    perfect = spark.createDataFrame(
        [("a", "a")] * 5 + [("b", "b")] * 5, "gold string, pred string"
    )
    assert cohen_kappa(perfect, "gold", "pred").collect()[0].kappa == 1.0
    # independent labelers at 50/50 -> kappa ~ 0
    chance = spark.createDataFrame(
        [("a", "a")] * 5 + [("a", "b")] * 5
        + [("b", "a")] * 5 + [("b", "b")] * 5,
        "gold string, pred string",
    )
    assert chance.count() == 20
    assert cohen_kappa(chance, "gold", "pred").collect()[0].kappa == 0.0


# ------------------------------------------------------ mrl_overlap ----


def _brute_mrl(mat, k, qmod, trunc):
    def topk(m, q):
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        cos = np.round(mn @ mn[q], 6)
        order = sorted(
            (( -cos[j], j) for j in range(len(m)) if j != q)
        )[:k]
        return {j for _, j in order}

    out = {}
    for q in range(0, mat.shape[0], qmod):
        full = topk(mat.astype(np.float64), q)
        tr = topk(mat[:, :trunc].astype(np.float64), q)
        out[q] = (len(full), len(full & tr))
    return out


def test_mrl_overlap_matches_brute_force(spark):
    from cadastre_pg_spark.operators.similarity import mrl_overlap

    df, mat = _toy_embeddings(spark, n=90)
    q = df.filter("vec_id % 30 = 0")
    got = {
        r.query_id: (r.n_full, r.n_common, r.overlap)
        for r in mrl_overlap(df, q, k=4, trunc_dim=16).collect()
    }
    exp = _brute_mrl(mat, k=4, qmod=30, trunc=16)
    assert set(got) == set(exp)
    for qid, (nf, nc) in exp.items():
        assert got[qid][0] == nf and got[qid][1] == nc
        assert got[qid][2] == pytest.approx(round(nc / nf, 6))


def test_mrl_overlap_full_width_truncation_is_identity(spark):
    from cadastre_pg_spark.operators.similarity import mrl_overlap

    df, _ = _toy_embeddings(spark, n=40)
    q = df.filter("vec_id % 10 = 0")
    out = mrl_overlap(df, q, k=3, trunc_dim=64).collect()
    assert len(out) == 4
    assert all(r.overlap == 1.0 and r.n_common == r.n_full for r in out)


# ----------------------------------------------- lsh_threshold_sweep ----


def _sweep_docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(0, base), (1, base)]  # exact dup pair -> est = 32 everywhere
    rows += [
        (2, base.replace("dog", "cat").replace("today", "now")),  # near dup
        (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (4, "one two three four five six seven eight nine ten eleven"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_lsh_threshold_sweep_exact_dup_in_every_layout(spark):
    from cadastre_pg_spark.operators.dedup import lsh_threshold_sweep

    out = {
        (r.bands, r.rows_per_band): r
        for r in lsh_threshold_sweep(_sweep_docs(spark)).collect()
    }
    # the exact-dup pair collides in EVERY layout (identical signature)
    assert set(out) >= {(16, 2), (8, 4), (4, 8)}
    for r in out.values():
        assert r.n_pairs >= 1
        assert r.n_above >= 1  # est=32 clears every midpoint
        assert 0.0 <= r.mean_est <= 1.0 * 32
    # S-curve midpoints: (1/16)^(1/2)=0.25 < (1/8)^(1/4) < (1/4)^(1/8)
    assert out[(16, 2)].threshold == pytest.approx(0.25)
    assert out[(8, 4)].threshold == pytest.approx((1 / 8) ** 0.25, abs=1e-6)
    assert out[(4, 8)].threshold == pytest.approx((1 / 4) ** 0.125, abs=1e-6)


def test_lsh_threshold_sweep_pairs_monotone_in_selectivity(spark):
    from cadastre_pg_spark.operators.dedup import lsh_threshold_sweep

    # aligned layouts nest: a (4,8) band collision implies the two
    # (8,4) half-bands collide, which implies four (16,2) bands do —
    # so candidate sets shrink as rows_per_band grows
    out = {
        (r.bands, r.rows_per_band): r.n_pairs
        for r in lsh_threshold_sweep(_sweep_docs(spark)).collect()
    }
    assert out[(16, 2)] >= out.get((8, 4), 0) >= out.get((4, 8), 0)


def test_lsh_threshold_sweep_rejects_oversized_config(spark):
    from cadastre_pg_spark.operators.dedup import lsh_threshold_sweep

    with pytest.raises(ValueError):
        lsh_threshold_sweep(_sweep_docs(spark), configs=((32, 2),))


# -------------------------------------------------------- bpe_apply ----


def _py_bpe(text, merges):
    import re

    s = re.sub(r"\s+", "#", text.strip())
    s = " ".join(s)  # space every char, '#' marks word boundaries
    for a, b in merges:
        s = s.replace(f"{a} {b}", a + b)
    n_words = len(re.split(r"\s+", text.strip()))
    n_chars = len(re.sub(r"\s+", "", text.strip()))
    n_units = len(s.split(" "))
    n_symbols = n_units - n_words + 1
    return n_words, n_chars, n_symbols


def test_bpe_apply_matches_python_reference(spark):
    from cadastre_pg_spark.operators.textanalysis import (
        BPE_APPLY_MERGES,
        bpe_apply,
    )

    texts = [
        "the then and in another era",
        "sort order store stream rest",
        "xyz qqq zz",  # no merge applies -> one symbol per char
        "thethethe",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    out = {r.doc_id: r for r in bpe_apply(docs).collect()}
    for i, t in enumerate(texts):
        nw, nc, ns = _py_bpe(t, BPE_APPLY_MERGES)
        r = out[i]
        assert (r.n_words, r.n_chars, r.n_symbols) == (nw, nc, ns), t
        assert r.cpr == pytest.approx(round(nc / ns, 6))


def test_bpe_apply_known_encodings(spark):
    from cadastre_pg_spark.operators.textanalysis import bpe_apply

    # 'the' collapses via t+h then th+e into ONE symbol; merges never
    # cross the '#' word boundary ('cat the' keeps c,a,t separate)
    docs = spark.createDataFrame(
        [(0, "the"), (1, "cat the"), (2, "thethethe")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bpe_apply(docs).collect()}
    assert out[0].n_symbols == 1
    assert out[1].n_symbols == 4  # c a t + the
    assert out[2].n_symbols == 3  # the the the, repeated merges


# --------------------------------------------------- vocab_coverage ----


def test_vocab_coverage_hand_computed(spark):
    from cadastre_pg_spark.operators.textanalysis import vocab_coverage

    # frequencies: a=6, b=3, c=1 -> total 10
    docs = spark.createDataFrame(
        [(0, "a a a b b"), (1, "a a a b c")], "doc_id long, text string"
    )
    out = {r.k: r for r in vocab_coverage(docs, ks=(1, 2, 3)).collect()}
    assert out[1].covered == 6 and out[1].coverage == pytest.approx(0.6)
    assert out[2].covered == 9 and out[2].coverage == pytest.approx(0.9)
    assert out[3].covered == 10 and out[3].coverage == pytest.approx(1.0)
    assert out[3].n_types == 3


def test_vocab_coverage_k_beyond_vocab(spark):
    from cadastre_pg_spark.operators.textanalysis import vocab_coverage

    docs = spark.createDataFrame([(0, "x y")], "doc_id long, text string")
    out = {r.k: r for r in vocab_coverage(docs, ks=(10,)).collect()}
    assert out[10].n_types == 2 and out[10].coverage == pytest.approx(1.0)


# ---------------------------------------------------- audio_features ----


def test_audio_features_shape_determinism_and_injection(spark):
    from cadastre_pg_spark.operators.multimodal import (
        audio_features,
        generate_media,
    )

    media = generate_media(spark, 30)
    out = audio_features(media, sample_rate=8000, frame=256).collect()
    n_audio = media.filter("kind = 'audio'").count()
    assert len(out) == n_audio and n_audio > 0
    for r in out:
        assert r.n_samples == r.n_frames * 256 + r.n_samples % 256
        assert 0.0 <= r.rms <= 1.0 and 0.0 <= r.zcr <= 1.0
        assert r.peak <= 1.0
    # partitioning-invariant: same rows from a different layout
    again = audio_features(
        media.repartition(7), sample_rate=8000, frame=256
    ).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    # codec injection point: a constant waveform has rms == peak and
    # zero crossings == 0
    const = audio_features(
        media, decode_fn=lambda p, n: np.full(n, 0.5)
    ).collect()
    assert all(
        r.rms == pytest.approx(0.5) and r.zcr == 0.0 and r.peak == 0.5
        for r in const
    )


def test_audio_features_strict_mode_raises(spark):
    from cadastre_pg_spark.operators.multimodal import (
        audio_features,
        generate_media,
    )

    media = generate_media(spark, 6)
    with pytest.raises(Exception, match="ffmpeg|librosa"):
        audio_features(media, strict=True).collect()


# ------------------------------------------------ heldout_perplexity ----


def test_heldout_perplexity_matches_python_reference(spark):
    import math

    from cadastre_pg_spark.operators.textanalysis import heldout_perplexity

    texts = {
        0: "a b a b c",        # val (0 % 5 == 0)
        1: "a b a b a b",      # train
        2: "b c b c d",        # train
        3: "x y z",            # train
        5: "a b x q",          # val: seen, unseen-cont, unseen-ctx
        4: "q",                # train single token -> no bigrams
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in heldout_perplexity(docs, qmod=5).collect()
    }
    # python reference: add-one bigram LM on train docs
    train = [t.split() for d, t in texts.items() if d % 5 != 0]
    nb, nu, vocab = {}, {}, set()
    for ws in train:
        vocab.update(ws)
        for a, b in zip(ws, ws[1:]):
            nb[(a, b)] = nb.get((a, b), 0) + 1
            nu[a] = nu.get(a, 0) + 1
    V = len(vocab) + 1

    def u(m):
        return round(math.log(m) * 1e6)

    for d in (0, 5):
        ws = texts[d].split()
        terms = [
            u(nu.get(a, 0) + V) - u(nb.get((a, b), 0) + 1)
            for a, b in zip(ws, ws[1:])
        ]
        assert out[d].n_bigrams == len(terms)
        assert out[d].surprisal_ho == pytest.approx(
            round(sum(terms) / len(terms) / 1e6, 6), abs=1e-9
        )
    assert set(out) == {0, 5}  # train docs never scored


def test_heldout_perplexity_unseen_scores_higher(spark):
    from cadastre_pg_spark.operators.textanalysis import heldout_perplexity

    # doc 0 repeats the training distribution; doc 5 is all-unseen
    rows = [(i, "a b a b a b a b") for i in range(1, 5)]
    rows += [(0, "a b a b"), (5, "zz qq ww rr")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r.surprisal_ho
        for r in heldout_perplexity(docs, qmod=5).collect()
    }
    assert out[5] > out[0]


# -------------------------------------------------------- psi_drift ----


def _py_psi(vals_a, vals_b, cuts):
    import math

    nb = len(cuts) + 1

    def binof(v):
        return sum(1 for c in cuts if v >= c)

    na = [0] * nb
    nbb = [0] * nb
    for v in vals_a:
        na[binof(v)] += 1
    for v in vals_b:
        nbb[binof(v)] += 1
    ta, tb = sum(na), sum(nbb)
    psi_u = 0
    for i in range(nb):
        pa = (na[i] + 1) / (ta + nb)
        pb = (nbb[i] + 1) / (tb + nb)
        lnr = (
            round(math.log(na[i] + 1) * 1e6)
            + round(math.log(tb + nb) * 1e6)
            - round(math.log(ta + nb) * 1e6)
            - round(math.log(nbb[i] + 1) * 1e6)
        )
        psi_u += math.floor((pa - pb) * (lnr / 1e6) * 1e9)
    return round(psi_u / 1e9, 6)


def test_psi_drift_matches_python_reference(spark):
    from cadastre_pg_spark.operators.stats import psi_drift

    cuts = (10.0, 20.0)
    rows = [(float(v), True) for v in (1, 5, 12, 15, 25, 30, 8, 11)]
    rows += [(float(v), False) for v in (22, 25, 28, 30, 12, 3)]
    df = spark.createDataFrame(rows, "value double, s boolean")
    out = psi_drift(df, "value", "s", cuts=cuts).collect()
    assert len(out) == 3  # every bin present even when empty one side
    exp = _py_psi(
        [r[0] for r in rows if r[1]], [r[0] for r in rows if not r[1]], cuts
    )
    assert all(r.psi == pytest.approx(exp, abs=1e-9) for r in out)
    assert out[0].psi > 0.1  # these two samples genuinely differ


def test_psi_drift_identical_populations_near_zero(spark):
    from cadastre_pg_spark.operators.stats import psi_drift

    rows = [(float(v % 40), v % 2 == 0) for v in range(400)]
    df = spark.createDataFrame(rows, "value double, s boolean")
    out = psi_drift(df, "value", "s", cuts=(10.0, 20.0, 30.0)).collect()
    assert all(abs(r.psi) < 0.01 for r in out)
    # marginals add up
    assert sum(r.n_a for r in out) == 200
    assert sum(r.n_b for r in out) == 200


# ------------------------------------------------- gini_concentration ----


def test_gini_uniform_is_zero_and_skewed_is_high(spark):
    from cadastre_pg_spark.operators.stats import gini_concentration

    uniform = spark.createDataFrame(
        [(f"k{i % 10}",) for i in range(100)], "k string"
    )
    g0 = gini_concentration(uniform, "k").collect()[0]
    assert g0.n_keys == 10 and g0.total == 100
    assert g0.gini == pytest.approx(0.0)
    # one key holds 91 of 100 rows -> strong inequality
    skewed = spark.createDataFrame(
        [("hot",)] * 91 + [(f"k{i}",) for i in range(9)], "k string"
    )
    g1 = gini_concentration(skewed, "k").collect()[0]
    assert g1.gini > 0.8


def test_gini_matches_closed_form(spark):
    from cadastre_pg_spark.operators.stats import gini_concentration

    # counts 1,2,3,4 -> sorted r*x = 1+4+9+16 = 30, n=4, total=10
    # G = (2*30 - 5*10) / (4*10) = 0.25
    rows = (
        [("a",)] * 1 + [("b",)] * 2 + [("c",)] * 3 + [("d",)] * 4
    )
    df = spark.createDataFrame(rows, "k string")
    g = gini_concentration(df, "k").collect()[0]
    assert g.gini == pytest.approx(0.25)


def test_gini_single_key_is_null(spark):
    from cadastre_pg_spark.operators.stats import gini_concentration

    df = spark.createDataFrame([("only",)] * 5, "k string")
    assert gini_concentration(df, "k").collect()[0].gini is None


# ---------------------------------------------------------- edges ----


def test_heldout_perplexity_empty_train_split(spark):
    from cadastre_pg_spark.operators.textanalysis import heldout_perplexity

    # every doc_id % 5 == 0 -> no train docs: V = 1, every smoothed
    # term is u(0+1) - u(0+1) = 0 — defined, not a crash (ANSI)
    docs = spark.createDataFrame(
        [(0, "a b c"), (5, "d e f")], "doc_id long, text string"
    )
    out = heldout_perplexity(docs, qmod=5).collect()
    assert {r.doc_id for r in out} == {0, 5}
    assert all(r.surprisal_ho == 0.0 for r in out)


def test_lsh_threshold_sweep_bucket_cap_skips_loudly(spark):
    from cadastre_pg_spark.operators.dedup import lsh_threshold_sweep

    docs = _sweep_docs(spark)
    out = lsh_threshold_sweep(docs, max_bucket=1)
    rows = out.collect()
    # cap 1 kills every multi-doc bucket -> no candidate pairs at all
    assert rows == []
    sk = skipped(out).collect()
    assert len(sk) > 0  # the dropped work is metered, not silent
    assert all(r.n > 1 for r in sk)


# ---------------------------------------------------- pr_thresholds ----


def test_pr_thresholds_hand_computed(spark):
    from cadastre_pg_spark.operators.stats import pr_thresholds

    # 4 positives at scores .9 .8 .4 .2; 4 negatives at .7 .3 .2 .1
    rows = [(0.9, True), (0.8, True), (0.4, True), (0.2, True),
            (0.7, False), (0.3, False), (0.2, False), (0.1, False)]
    df = spark.createDataFrame(rows, "score double, gold boolean")
    out = {r.thr: r for r in pr_thresholds(df, "score", "gold", (0.5, 0.75)).collect()}
    r5 = out[0.5]
    assert (r5.tp, r5.fp, r5.fn, r5.tn) == (2, 1, 2, 3)
    assert r5.prec == pytest.approx(round(2 / 3, 6))
    assert r5.recall == pytest.approx(0.5)
    assert r5.f1 == pytest.approx(round(4 / 7, 6))
    r75 = out[0.75]
    assert (r75.tp, r75.fp) == (2, 0) and r75.prec == 1.0


def test_pr_thresholds_degenerate_guards(spark):
    from cadastre_pg_spark.operators.stats import pr_thresholds

    # no positives at all -> recall/f1 guarded NULL above the top cut
    df = spark.createDataFrame(
        [(0.2, False), (0.4, False)], "score double, gold boolean"
    )
    out = {r.thr: r for r in pr_thresholds(df, "score", "gold", (0.9,)).collect()}
    r = out[0.9]
    assert (r.tp, r.fp) == (0, 0)
    assert r.prec is None and r.recall is None and r.f1 is None


# ---------------------------------------------------- simhash_pairs ----


def test_simhash_pairs_pigeonhole_complete(spark):
    from cadastre_pg_spark.operators.dedup import simhash, simhash_pairs

    base = "the quick brown fox jumps over the lazy dog by the river"
    rows = [(0, base), (1, base)]  # identical -> hamming 0
    rows += [(2, base.replace("dog", "cat"))]  # near dup
    rows += [(i, f"doc {i} " + " ".join(f"w{i}_{j}" for j in range(12)))
             for i in range(3, 40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(docs, radius=3).collect()
    }
    # brute-force ground truth over the SAME fingerprints: banding is
    # lossless for hamming <= radius (pigeonhole), so sets must match
    sigs = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    ids = sorted(sigs)
    exp = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= 3:
                exp[(a, b)] = h
    assert got == exp
    assert got[(0, 1)] == 0  # the planted identical pair


def test_simhash_pairs_rejects_unsplittable_bits(spark):
    from cadastre_pg_spark.operators.dedup import simhash_pairs

    docs = spark.createDataFrame([(0, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        simhash_pairs(docs, radius=2, bits=32)  # 32 % 3 != 0
