"""Text extraction kernel: determinism + encoding handling
(the byte-identical per-url invariant, BASELINE.json input_hint)."""

import hashlib

import pytest
from conftest import SF_CORRECT, SF_UNIT

from cadastre_pg_spark.kernels.textextract import (
    DEFAULT_ENCODING,
    extract_text,
    extract_text_series,
    resolve_encoding,
)


def test_resolve_encoding():
    assert resolve_encoding(None) == DEFAULT_ENCODING
    assert resolve_encoding("UTF-8") == "utf-8"
    assert resolve_encoding("latin9") == "iso-8859-15"
    assert resolve_encoding("nonsense") == DEFAULT_ENCODING
    # the reference quirks (thf.rs:48-50,57): French EDIGEO labels decode
    # as Latin-9; 8859-9 is the windows-1254 Turkish superset
    assert resolve_encoding("IRV") == "iso-8859-15"
    assert resolve_encoding("646-france") == "iso-8859-15"
    assert resolve_encoding("8859-1") == "iso-8859-15"
    assert resolve_encoding("8859-9") == "cp1254"


def test_charset_map_decode_parity():
    """One golden byte per non-Latin charset label: the decoded char
    must match the reference's target encoding (thf.rs:48-61), not a
    Latin-9 fallback."""
    goldens = {
        # 0xA3 and friends differ across the 8859 family
        "8859-2": (b"\xb3", "ł"),   # ł  (latin small l with stroke)
        "8859-3": (b"\xbb", "ğ"),   # ğ (latin-3 g-breve)
        "8859-4": (b"\xbb", "ģ"),   # ģ
        "8859-5": (b"\xb4", "Д"),   # Д (cyrillic capital de)
        "8859-6": (b"\xc8", "ب"),   # ب (arabic beh)
        "8859-7": (b"\xe1", "α"),   # α (greek alpha)
        "8859-8": (b"\xe0", "א"),   # א (hebrew alef)
        "8859-9": (b"\xf0", "ğ"),   # ğ (turkish g-breve, cp1254)
        "8859-15": (b"\xa4", "€"),  # € (the Latin-9 marker byte)
        "8859-1": (b"\xa4", "€"),   # reference: 8859-1 label -> Latin-9
        "IRV": (b"\xa4", "€"),
        "646-FRANCE": (b"\xa4", "€"),
    }
    for label, (byte, want) in goldens.items():
        got = extract_text(b"<p>" + byte + b"</p>", label)
        assert got == want, f"{label}: {got!r} != {want!r}"


def test_extract_basic():
    html = b"<html><body><h1>Title</h1><p>Hello   world</p></body></html>"
    assert extract_text(html) == "Title Hello world"


def test_extract_strips_script_style_comments():
    html = (
        b"<html><script>var x = '<p>no</p>';</script>"
        b"<style>p { color: red }</style>"
        b"<!-- secret --><p>kept</p></html>"
    )
    assert extract_text(html) == "kept"


def test_extract_entities_and_encoding():
    html = "<p>caf\xe9 &amp; cr&egrave;me &lt;3</p>".encode("iso-8859-15")
    assert extract_text(html, "8859-15") == "café & crème <3"
    html_utf8 = "<p>café</p>".encode("utf-8")
    assert extract_text(html_utf8, "UTF-8") == "café"


def test_extract_deterministic_bytes():
    html = "<div>d\xe9terministe  \n\t ok</div>".encode("iso-8859-15")
    h1 = hashlib.sha256(extract_text(html).encode("utf-8")).hexdigest()
    h2 = hashlib.sha256(extract_text(html).encode("utf-8")).hexdigest()
    assert h1 == h2
    out = extract_text_series([html, html], ["8859-15", "8859-15"])
    assert out[0] == out[1] == "déterministe ok"


def test_repetition_scores_planted(spark):
    from cadastre_pg_spark.operators.textanalysis import repetition_scores

    rows = [
        (1, "a a a a"),            # 1-gram: 1 distinct/4 -> 0.75 dup
        (2, "a b c d"),            # all distinct -> 0.0
        (3, "a b a b a"),          # 2-grams: [ab,ba,ab,ba] -> 0.5 dup
        (4, "x"),                  # no 2/3-grams -> 0.0 there
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.dup_1gram_frac, r.dup_2gram_frac, r.dup_3gram_frac)
           for r in repetition_scores(df).collect()}
    assert got[1] == (0.75, round(1 - 1 / 3, 6), round(1 - 1 / 2, 6))
    assert got[2] == (0.0, 0.0, 0.0)
    assert got[3] == (round(1 - 2 / 5, 6), 0.5, round(1 - 2 / 3, 6))
    assert got[4] == (0.0, 0.0, 0.0)


def test_bm25_matches_reference_formula(spark):
    """bm25_score vs an independent pure-Python BM25 on a hand corpus
    (tf counted the same whole-token way)."""
    import math

    from cadastre_pg_spark.operators.textanalysis import bm25_score

    # NB: no immediately-adjacent repeated terms — the replace-length
    # tf counts non-overlapping " t " matches, so "data data" counts
    # once (SQL twin identical, parity unaffected; documented limit).
    corpus = {
        0: "data join data filter",
        1: "window scan sort",
        2: "data window data scan join big join",
        3: "alpha beta gamma",
    }
    terms, k1, b = ["data", "join"], 1.2, 0.75
    docs = spark.createDataFrame(
        list(corpus.items()), "doc_id long, text string"
    )
    got = {r["doc_id"]: r["bm25"] for r in bm25_score(docs, terms, k1, b).collect()}

    toks = {d: t.split() for d, t in corpus.items()}
    n = len(corpus)
    avgdl = sum(len(t) for t in toks.values()) / n
    for d, t in toks.items():
        want = 0.0
        for term in terms:
            tf = t.count(term)
            if tf == 0:
                continue
            df = sum(1 for tt in toks.values() if term in tt)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            want += idf * tf * (k1 + 1.0) / (
                tf + k1 * (1.0 - b + b * len(t) / avgdl)
            )
        assert abs(got[d] - round(want, 6)) < 2e-6, (d, got[d], want)
    assert got[3] == 0.0


def test_bm25_is_one_broadcast_no_corpus_shuffle(spark):
    """The stats row must broadcast back; the corpus side may not be
    exchanged (map pass + 1-row join only)."""
    from cadastre_pg_spark.operators.textanalysis import bm25_score
    from cadastre_pg_spark.plans.audit import explain_string

    docs = spark.createDataFrame(
        [(0, "data join"), (1, "scan")], "doc_id long, text string"
    )
    plan = explain_string(bm25_score(docs, ["data"]), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # only the single-row stats aggregate may exchange (SinglePartition)
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            raise AssertionError(f"unexpected corpus shuffle: {ln}")


def test_gopher_rules_flags_each_failure_mode(spark):
    from cadastre_pg_spark.operators.textanalysis import gopher_rules

    clean = " ".join(["word"] * 30)                       # passes all
    short = "only four words here"                        # fails r_words
    bullets = "\n".join(f"- item {i}" for i in range(30)) # fails r_bullet
    symbols = " ".join(["##tag##"] * 30)                  # fails r_symbol
    numbers = " ".join(["1234"] * 30)                     # fails r_alpha
    dots = "\n".join("trailing line..." for _ in range(30))  # r_ellipsis
    rows = [
        (1, clean), (2, short), (3, bullets),
        (4, symbols), (5, numbers), (6, dots),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in gopher_rules(df, min_words=20).collect()}
    assert out[1].keep == 1
    assert out[2].r_words == 0 and out[2].keep == 0
    assert out[3].r_bullet == 0 and out[3].keep == 0
    assert out[4].r_symbol == 0 and out[4].keep == 0
    assert out[5].r_alpha == 0 and out[5].keep == 0
    assert out[6].r_ellipsis == 0 and out[6].keep == 0
    # rule flags are 0/1 ints and keep == product of flags
    for r in out.values():
        flags = [r.r_words, r.r_mwl, r.r_symbol, r.r_bullet,
                 r.r_ellipsis, r.r_alpha]
        assert set(flags) <= {0, 1}
        want = 1
        for f_ in flags:
            want *= f_
        assert r.keep == want


def test_gopher_rules_empty_text_no_division_crash(spark):
    from cadastre_pg_spark.operators.textanalysis import gopher_rules

    df = spark.createDataFrame([(1, ""), (2, "   ")],
                               "doc_id long, text string")
    out = gopher_rules(df).collect()
    assert len(out) == 2 and all(r.keep == 0 for r in out)


def test_script_ratios_multiscript_and_duckdb_parity(spark):
    import duckdb

    from cadastre_pg_spark.operators.textanalysis import script_ratios

    rows = [
        (1, "hello world"),                      # pure latin
        (2, "你好世界 ok"),      # CJK + 2 latin
        (3, "привет 123"),  # cyrillic + digits
        (4, "مرحبا"),   # arabic
        (5, ""),                                 # empty: all ratios 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in script_ratios(df).collect()}
    assert got[1].latin_ratio == 1.0 and got[1].cjk_ratio == 0.0
    assert got[2].cjk_ratio == round(4 / 6, 6)
    assert got[2].latin_ratio == round(2 / 6, 6)
    assert got[3].cyrillic_ratio == round(6 / 9, 6)
    assert got[3].digit_ratio == round(3 / 9, 6)
    assert got[4].arabic_ratio == 1.0
    assert got[5].n_chars == 0 and got[5].latin_ratio == 0.0
    # cross-engine parity on NON-ASCII text (the parquet corpus is
    # pure ASCII, so the driver compare never exercises these classes)
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    import __spark_entry__ as E

    want = con.execute(E.oracle_sql()["script_ratios"]).fetchall()
    want_by_id = {r[0]: r for r in want}
    for r in script_ratios(df).collect():
        w = want_by_id[r.doc_id]
        assert (
            r.n_chars, r.latin_ratio, r.digit_ratio, r.cjk_ratio,
            r.cyrillic_ratio, r.arabic_ratio,
        ) == tuple(w[1:]), r.doc_id


def test_bigram_surprisal_hand_computed_and_ordering(spark):
    import math

    from cadastre_pg_spark.operators.textanalysis import bigram_surprisal

    # doc 1 "a b a b a": bigrams ab,ba,ab,ba; doc 2 "a c": bigram ac.
    # census: n(a,b)=2 n(b,a)=2 n(a,c)=1; n(prev=a)=3 n(prev=b)=2
    df = spark.createDataFrame(
        [(1, "a b a b a"), (2, "a c"), (3, "solo")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in bigram_surprisal(df).collect()}
    assert set(out) == {1, 2}  # <2 tokens -> no bigrams -> excluded
    u = lambda n: round(math.log(n) * 1e6)
    d1 = round((2 * (u(3) - u(2)) + 2 * (u(2) - u(2))) / 4 / 1e6, 6)
    d2 = round((u(3) - u(1)) / 1 / 1e6, 6)
    assert out[1].n_bigrams == 4 and abs(out[1].surprisal2 - d1) < 1e-9
    assert out[2].n_bigrams == 1 and abs(out[2].surprisal2 - d2) < 1e-9
    # ordering: verbatim-repeated boilerplate is near-zero surprisal;
    # an unseen-order token salad over the same vocabulary is higher
    boiler = ("the quick brown fox " * 10).strip()
    salad = "quick the fox brown the brown quick fox the fox quick brown"
    df2 = spark.createDataFrame(
        [(1, boiler), (2, boiler), (3, salad)], "doc_id long, text string"
    )
    got = {r.doc_id: r.surprisal2 for r in bigram_surprisal(df2).collect()}
    assert got[1] < got[3]


def test_novelty_score_copies_score_zero_first_scores_one(spark):
    from cadastre_pg_spark.operators.textanalysis import novelty_score

    orig = "one two three four five six seven eight"
    half = "one two three four five nine ten eleven twelve thirteen"
    rows = [(1, orig), (2, orig), (3, half), (4, "too few")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in novelty_score(df).collect()}
    assert set(out) == {1, 2, 3}  # doc 4: < 5 tokens, no 5-grams
    assert out[1].novelty == 1.0          # first occurrence of everything
    assert out[2].novelty == 0.0          # verbatim copy of doc 1
    # doc 3: 6 distinct 5-grams, exactly one ("one two three four five")
    # already seen in doc 1
    assert out[3].n_ngrams == 6
    assert out[3].novelty == round(5 / 6, 6)


def test_text_zoo_robustness_new_ops(spark):
    """Adversarial text zoo through every round-4 text operator in one
    batch: no crash (ANSI mode), ratios in range, flags are 0/1, and
    the disjoint script censuses never sum past 1."""
    from cadastre_pg_spark.operators.corpus import dsir_logratio
    from cadastre_pg_spark.operators.textanalysis import (
        bigram_surprisal,
        gopher_rules,
        novelty_score,
        script_ratios,
    )

    zoo = [
        "", " ", "\n", "\n\n\n", "a", "###", "...", "....", "a" * 5000,
        "word " * 2000, "\t\r\n mixed \t ws", "- bullet\n* bullet\nplain",
        "ends with dots...\nand again...", "你好 мир hello 123 مرحبا",
        "🙂 emoji only 🙂", "a\x00b", "'quote' \"dquote\" \\backslash",
        "% percent _ underscore", "0" * 64, ". . . . . .",
    ]
    rows = [(i, t, "en" if i % 2 else "fr") for i, t in enumerate(zoo)]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")

    g = gopher_rules(df).collect()
    assert len(g) == len(zoo)
    for r in g:
        for f_ in (r.r_words, r.r_mwl, r.r_symbol, r.r_bullet,
                   r.r_ellipsis, r.r_alpha, r.keep):
            assert f_ in (0, 1)
        for v in (r.symbol_ratio, r.bullet_ratio, r.ellipsis_ratio,
                  r.alpha_ratio):
            assert v >= 0.0

    s = script_ratios(df).collect()
    for r in s:
        total = (r.latin_ratio + r.digit_ratio + r.cjk_ratio
                 + r.cyrillic_ratio + r.arabic_ratio)
        assert -1e-9 <= r.latin_ratio <= 1.0
        # each of the 5 ratios rounds at 6 dp: headroom 5 * 0.5e-6
        assert total <= 1.0 + 2.5e-6, (r.doc_id, total)

    n = novelty_score(df).collect()
    for r in n:
        assert 0.0 <= r.novelty <= 1.0 and r.n_ngrams > 0

    b = bigram_surprisal(df).collect()
    for r in b:
        assert r.surprisal2 is not None and r.n_bigrams > 0
        assert r.surprisal2 >= -1e-9  # -ln p >= 0 up to quantization

    d = dsir_logratio(df, __import__("pyspark.sql.functions",
                                     fromlist=["col"]).col("lang") == "en")
    got = d.collect()
    assert len(got) == len(zoo)
    assert all(r.logratio is not None for r in got)


def test_text_zoo_robustness_batch4_ops(spark):
    """The adversarial zoo through this round's text operators: no
    ANSI crash, counts non-negative, fractions in range, entropy
    defined for every input including empty and single-char texts."""
    from cadastre_pg_spark.operators.corpus import blocklist_filter
    from cadastre_pg_spark.operators.dedup import (
        line_dedup,
        sorted_neighborhood,
    )
    from cadastre_pg_spark.operators.textanalysis import (
        char_entropy,
        lang_mix,
        token_fertility,
    )

    zoo = [
        "", " ", "\n", "a", "###", "a" * 5000, "word " * 2000,
        "你好 мир hello 123 مرحبا", "🙂 emoji only 🙂", "a\x00b",
        "'q' \"d\" \\b", ". . . . . .", "0" * 64,
        "the the the the", "slow big dup slow big dup",
    ]
    rows = [(i, t, "en" if i % 2 else "fr", f"s{i % 3}")
            for i, t in enumerate(zoo)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )

    ce = char_entropy(df).collect()
    # empty text explodes to zero char rows -> no output row: defined
    assert len(ce) == len([t for t in zoo if len(t) > 0])
    for r in ce:
        assert r.entropy >= -1e-9 and r.n_chars_counted > 0

    bl = blocklist_filter(df, ["slow", "big", "dup"]).collect()
    assert len(bl) == len(zoo)
    for r in bl:
        assert 0 <= r.n_distinct_flagged <= 3
        assert r.n_flagged >= r.n_distinct_flagged or r.n_flagged >= 0

    tf = token_fertility(df).collect()
    for r in tf:
        assert r.sum_tokens >= 0

    lm = lang_mix(df, seg_tokens=4).collect()
    assert len(lm) == len(zoo)
    for r in lm:
        assert 0.0 < r.major_frac <= 1.0 and r.n_langs >= 1

    hb = line_dedup(
        df, min_docs=2, segmenter="tokens", seg_tokens=3,
        group_col="source",
    ).collect()
    assert len(hb) == len(zoo)

    snm = sorted_neighborhood(df, window=2, prefix_len=2).collect()
    for r in snm:
        assert 0.0 <= r.jaccard <= 1.0


# ---- the one whitespace tokenizer (dedup.words / words_or_empty) ----------
# Spark's trim strips spaces only, so a tab or newline at either end
# survives it and the \s+ split leaves an empty token at that end.

TOKENIZER_GOLDEN = [
    # text, words, n_words, words_or_empty
    ("", [""], 1, []),
    ("   ", [""], 1, []),
    ("a", ["a"], 1, ["a"]),
    (" a\t b\n", ["a", "b", ""], 3, ["a", "b", ""]),
    (None, None, None, []),
]


@pytest.mark.parametrize("text,toks,n,guarded", TOKENIZER_GOLDEN)
def test_tokenizer_golden(spark, text, toks, n, guarded):
    from pyspark.sql import functions as F

    from cadastre_pg_spark.operators.dedup import n_words, words, words_or_empty

    t = F.col("text")
    r = (
        spark.createDataFrame([(text,)], "text string")
        .select(
            words(t).alias("w"), n_words(t).alias("n"), words_or_empty(t).alias("g")
        )
        .first()
    )
    assert (r.w, r.n, r.g) == (toks, n, guarded)


@pytest.mark.parametrize("sf", [SF_UNIT, SF_CORRECT])
def test_documents_have_no_vertical_tab(sf):
    """Data precondition of every \\s+ split's DuckDB oracle: Java's \\s
    matches \\x0B and RE2's does not, so no generated document may
    contain one (see dedup.words)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    text = pq.read_table(f"{sf}/documents.parquet", columns=["text"])["text"]
    assert len(text) > 0
    assert not pc.any(pc.match_substring(text, "\x0b")).as_py()
