"""Text-analysis operators over the `documents` table — the web-text
payload side of the engine (training-data pipeline ops). Everything
here is JVM-side (`pyspark.sql.functions` only, whole-stage codegen);
each op has an exactly-matching DuckDB SQL oracle in __spark_entry__.

Reference lineage: these generalize the reference's config-driven
scalar derivations (P-group, cadastre-pg/src/cli.rs:842-910,984-1021)
from cadastre attributes to web-text quality signals.
"""

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import (
    n_words,
    segment_lines,
    shingle_hash_rows,
    shingles,
    token_hashes,
    words,
    words_or_empty,
)
from .held import hold
from .stats import entropy_census, ln_u, pmi_census

# (lang, keyword) stopword table for the n-gram language heuristic.
# Occurrence counting uses the replace-length trick so the identical
# expression exists in ANSI SQL (no regexp dialect divergence).
LANG_KEYWORDS = {
    "en": [" the ", " and ", " of "],
    "fr": [" le ", " la ", " et "],
    "de": [" der ", " die ", " und "],
}

PUNCT_CHARS = ".!?,;:"


def occurrences(col: Column, kw: str) -> Column:
    """Count of (non-overlapping) keyword occurrences via length diff."""
    return (F.length(col) - F.length(F.replace(col, F.lit(kw), F.lit("")))) / F.lit(
        len(kw)
    )


def occurrences_sql(expr: str, kw: str) -> str:
    kw_sql = kw.replace("'", "''")
    return (
        f"(length({expr}) - length(replace({expr}, '{kw_sql}', ''))) / {len(kw)}"
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Length / punctuation / stopword quality signals + composite score.

    All ratios are single-division doubles over integer counts, so the
    DuckDB oracle reproduces them bit-for-bit."""
    text = F.col("text")
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    n_chars = F.length(text).cast("long")
    n_tokens = n_words(text)
    n_punct = (
        F.length(text) - F.length(F.regexp_replace(text, "[.!?,;:]", ""))
    ).cast("long")
    n_stop = sum(
        (occurrences(padded, kw) for kws in LANG_KEYWORDS.values() for kw in kws),
        F.lit(0.0),
    )
    punct_ratio = n_punct.cast("double") / n_chars.cast("double")
    stop_ratio = n_stop / n_tokens.cast("double")
    score = (
        F.least(n_tokens.cast("double") / F.lit(64.0), F.lit(1.0))
        * (F.lit(1.0) - punct_ratio)
    )
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_obs"),
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(score, 6).alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-count language heuristic: argmax of per-language keyword
    hits (ties -> 'und' = undetermined), computed as a CASE chain."""
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    scores = {
        lang: sum((occurrences(padded, kw) for kw in kws), F.lit(0.0))
        for lang, kws in LANG_KEYWORDS.items()
    }
    en, fr, de = scores["en"], scores["fr"], scores["de"]
    pred = (
        F.when((en > fr) & (en > de), F.lit("en"))
        .when((fr > en) & (fr > de), F.lit("fr"))
        .when((de > en) & (de > fr), F.lit("de"))
        .otherwise(F.lit("und"))
    )
    return docs.select("doc_id", pred.alias("pred_lang"))


def lang_id_sql(table: str = "documents") -> str:
    padded = "(' ' || text || ' ')"
    s = {
        lang: " + ".join(occurrences_sql(padded, kw) for kw in kws)
        for lang, kws in LANG_KEYWORDS.items()
    }
    return f"""
SELECT doc_id,
  CASE
    WHEN ({s['en']}) > ({s['fr']}) AND ({s['en']}) > ({s['de']}) THEN 'en'
    WHEN ({s['fr']}) > ({s['en']}) AND ({s['fr']}) > ({s['de']}) THEN 'fr'
    WHEN ({s['de']}) > ({s['en']}) AND ({s['de']}) > ({s['fr']}) THEN 'de'
    ELSE 'und'
  END AS pred_lang
FROM {table}
"""


def quality_score_sql(table: str = "documents") -> str:
    padded = "(' ' || text || ' ')"
    n_stop = " + ".join(
        occurrences_sql(padded, kw)
        for kws in LANG_KEYWORDS.values()
        for kw in kws
    )
    return f"""
SELECT doc_id,
  CAST(length(text) AS BIGINT) AS n_chars_obs,
  CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens,
  CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
  round(CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
        / CAST(length(text) AS DOUBLE), 6) AS punct_ratio,
  round((0.0 + {n_stop}) / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE), 6) AS stop_ratio,
  round(least(CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) / 64.0, 1.0)
        * (1.0 - CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS DOUBLE)
                 / CAST(length(text) AS DOUBLE)), 6) AS quality
FROM {table}
"""


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """sha256 content fingerprint per doc — the distributed half of the
    byte-identity invariant (same hex the oracle computes)."""
    return docs.select("doc_id", F.sha2(F.col("text"), 256).alias("text_sha"))


def repetition_scores(docs: DataFrame, max_n: int = 3) -> DataFrame:
    """Gopher-style within-document repetition signals: for n in
    1..max_n, the fraction of duplicate token n-grams
    (1 - distinct/total, 0.0 for docs with no n-gram), rounded to 6 dp.
    High duplicate fractions mark boilerplate/spam for quality
    filtering. Pure JVM array algebra (split -> slice n-grams ->
    array_distinct), one scan, no shuffle; exact DuckDB twin in
    __spark_entry__.
    """
    cols = []
    for n in range(1, max_n + 1):
        sg = shingles(F.col("text"), n)
        total = F.size(sg)
        dup_frac = F.when(
            total > 0,
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(sg)).cast("double")
                / total.cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0))
        cols.append(dup_frac.alias(f"dup_{n}gram_frac"))
    return docs.select("doc_id", *cols)


def repetition_scores_sql(table: str = "documents", max_n: int = 3) -> str:
    """DuckDB twin of repetition_scores (same list comprehension
    n-grams, same 1 - distinct/total arithmetic)."""
    inner = []
    outer = []
    for n in range(1, max_n + 1):
        inner.append(
            f"[array_to_string(t[i+1:i+{n}], ' ') "
            f"for i in range(0, greatest(len(t) - {n - 1}, 0))] AS sg{n}"
        )
        outer.append(
            f"CASE WHEN len(sg{n}) > 0 THEN "
            f"round(1.0 - CAST(len(list_distinct(sg{n})) AS DOUBLE)"
            f" / CAST(len(sg{n}) AS DOUBLE), 6) "
            f"ELSE 0.0 END AS dup_{n}gram_frac"
        )
    return rf"""
        WITH tok AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
          FROM {table}
        ),
        sg AS (SELECT doc_id, {", ".join(inner)} FROM tok)
        SELECT doc_id, {", ".join(outer)} FROM sg
    """


def bm25_score(
    docs: DataFrame, terms: list[str], k1: float = 1.2, b: float = 0.75
) -> DataFrame:
    """BM25 relevance of every document to a literal term set — the
    retrieval scorer a corpus-search / data-curation pass runs at full
    scale (e.g. "find docs about X" over 100 TB).

    Shape: ONE map-side pass computes per-term tf (replace-length
    trick, dialect-free) and doc length; ONE single-row aggregate
    yields N / Σdl / per-term df; the row broadcasts back (1-row
    nested-loop join — no shuffle of the corpus). Scoring is pure
    whole-stage-codegen arithmetic. ln() differs from DuckDB by ~1 ulp
    so the score is rounded to 6 dp on both sides (engine float
    policy, __spark_entry__ docstring).

    Returns (doc_id, n_tokens, bm25).
    """
    text = F.col("text")
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    dl = n_words(text)
    tf_cols = [
        occurrences(padded, f" {t} ").alias(f"tf_{i}") for i, t in enumerate(terms)
    ]
    base = docs.select("doc_id", dl.alias("dl"), *tf_cols)
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum(F.col("dl").cast("decimal(28,0)")).cast("double").alias("sum_dl"),
        *[
            F.sum(F.when(F.col(f"tf_{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"df_{i}")
            for i in range(len(terms))
        ],
    )
    j = base.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    parts = []
    for i in range(len(terms)):
        tf = F.col(f"tf_{i}")
        dfc = F.col(f"df_{i}")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - dfc + F.lit(0.5)) / (dfc + F.lit(0.5))
        )
        denom = tf + F.lit(k1) * (
            F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl").cast("double") / avgdl
        )
        parts.append(
            F.when(tf > 0, idf * tf * F.lit(k1 + 1.0) / denom).otherwise(F.lit(0.0))
        )
    score = parts[0]
    for p in parts[1:]:
        score = score + p
    return j.select(
        "doc_id",
        F.col("dl").alias("n_tokens"),
        F.round(score, 6).alias("bm25"),
    )


def bm25_score_sql(
    terms: list[str], k1: float = 1.2, b: float = 0.75, table: str = "documents"
) -> str:
    """DuckDB twin of bm25_score — identical op order, constants CAST
    to DOUBLE (engine invariant), ln behind the shared 6-dp round."""
    k1s = f"CAST('{k1!r}' AS DOUBLE)"
    bs = f"CAST('{b!r}' AS DOUBLE)"
    k11 = f"CAST('{k1 + 1.0!r}' AS DOUBLE)"
    half = "CAST('0.5' AS DOUBLE)"
    one = "CAST('1.0' AS DOUBLE)"
    tf_exprs = ",\n                 ".join(
        f"{occurrences_sql('p', ' ' + t + ' ')} AS tf_{i}"
        for i, t in enumerate(terms)
    )
    df_exprs = ",\n                 ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_{i}"
        for i in range(len(terms))
    )
    parts = []
    for i in range(len(terms)):
        idf = f"ln({one} + (n_docs - df_{i} + {half}) / (df_{i} + {half}))"
        denom = (
            f"(tf_{i} + {k1s} * ({one} - {bs} + {bs} *"
            f" CAST(dl AS DOUBLE) / (sum_dl / n_docs)))"
        )
        parts.append(
            f"(CASE WHEN tf_{i} > 0 THEN {idf} * tf_{i} * {k11} / {denom}"
            f" ELSE CAST('0.0' AS DOUBLE) END)"
        )
    score = " + ".join(parts)
    return f"""
        WITH d AS (
          SELECT doc_id,
                 ' ' || text || ' ' AS p,
                 CAST(len(regexp_split_to_array(trim(text), '\\s+'))
                      AS BIGINT) AS dl
          FROM {table}
        ),
        tf AS (
          SELECT doc_id, dl,
                 {tf_exprs}
          FROM d
        ),
        st AS (
          SELECT CAST(count(*) AS DOUBLE) AS n_docs,
                 CAST(sum(dl) AS DOUBLE) AS sum_dl,
                 {df_exprs}
          FROM tf
        )
        SELECT doc_id, dl AS n_tokens,
               round({score}, 6) AS bm25
        FROM tf, st
    """


# --------------------------------------------------------------- PII scrub

# conservative intersection of Java (Spark) and RE2 (DuckDB) regex
# dialects: character classes, bounded repetition, no backrefs — both
# engines produce identical non-overlapping leftmost match sets
EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
PHONE_RE = r"\+[0-9]{7,15}"


def redact_pii(docs: DataFrame) -> DataFrame:
    """PII scrub — the redaction pass a web-corpus pipeline runs before
    training-data release (reference analog: the P4/P8 cleanup family;
    masking instead of numeric cast). Map-only JVM regex: counts each
    PII class, then masks in a fixed order (emails first so a phone
    inside a local-part can't double-mask). Returns doc_id + counts +
    the redacted text for downstream stages."""
    t = F.col("text")
    red = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0)).alias("n_phones"),
        red.alias("redacted"),
    )


def surprisal(docs: DataFrame, hash_fn: str = "xxhash64") -> DataFrame:
    """Per-document mean unigram surprisal -> (doc_id, n_tokens,
    surprisal): mean over tokens of -ln p(tok) under the corpus's own
    hash-bucketed unigram model (the KenLM-lite quality signal that
    flags gibberish-high and boilerplate-low documents). p(tok) =
    n_bucket / N over 32-bit token-hash buckets — the standard hashing
    trick; collisions merge rare tokens and are part of the defined
    semantics (both engines hash identically).

    Numeric rule: ln is taken ONCE PER DISTINCT BUCKET on the census
    and quantized to integer micro-nats (`stats.ln_u`), so the
    per-document accumulation is an exact integer sum —
    order-independent, replayed exactly by the DuckDB twin; the final
    (lnN - su/T)/1e6 is three correctly-rounded double ops behind a
    6 dp round (the hll_distinct ln-behind-round policy).

    Scale shape (100 TB): tokens explode to narrow (doc_id, h) rows;
    the census is a map-side-partial count on the 4-byte hash; the
    token->bucket join is Zipfian-skewed by construction (stopword
    buckets), which is exactly the shape AQE's skew-join split
    handles — the build side is one row per bucket, the probe side
    splits. One final doc_id aggregate. No Python, no collect.
    """
    ex = token_hashes(docs, hash_fn)
    census = ex.groupBy("h").agg(F.count(F.lit(1)).alias("n"))
    cu = census.select("h", ln_u(F.col("n")).alias("u"))
    tot = census.agg(ln_u(F.sum("n")).alias("ln_n_u"))
    per = (
        ex.join(cu, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("u").cast("long").alias("su"),
        )
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "n_tokens",
        F.round(
            (
                F.col("ln_n_u").cast("double")
                - F.col("su").cast("double") / F.col("n_tokens").cast("double")
            )
            / F.lit(1e6),
            6,
        ).alias("surprisal"),
    )


# GPT-2-style pretokenizer, restricted to syntax Java regex and RE2
# share (no lookahead — GPT-2's \s+(?!\S) term is dropped and pure-
# whitespace runs are simply not tokens): contractions, optionally
# space-prefixed letter runs, digit runs, and punctuation runs.
BPE_PRETOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def bpe_token_count(docs: DataFrame) -> DataFrame:
    """BPE-ish pretoken count per doc — the second tokenizer the
    whitespace split can't provide: "don't stop!" counts [don]['t]
    [ stop][!] = 4, digits split from letters, punctuation runs are
    tokens, and an empty text counts 0 (the whitespace split's ['']
    artifact does not occur). One JVM regexp_extract_all in
    whole-stage codegen; the DuckDB twin runs the identical pattern
    under RE2 (the shared leftmost-first subset — verified by the
    driver oracle on the corpus).
    """
    return docs.select(
        "doc_id",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0))
        )
        .cast("long")
        .alias("n_tokens"),
    )


def collocations(docs: DataFrame, min_count: int = 2) -> DataFrame:
    """Adjacent-token collocation census with pointwise mutual
    information — the phrase/named-entity discovery signal for corpus
    curation ("new york" vs chance co-occurrence). One row per bigram
    with n_ab >= min_count: (a, b, n_ab, n_a, n_b, pmi_u) where
    pmi_u = ln_u(n_ab) + ln_u(N) - ln_u(n_a) - ln_u(n_b) in integer
    MICRO-NATS (`stats.ln_u` once per distinct count, then exact
    integer adds); n_a / n_b are the left/right positional marginals
    over ALL bigrams, N the total bigram count.

    The skip-gram census at window 1: its scale shape is
    skipgram_pmi's with one in-row arrays_zip.
    """
    return skipgram_pmi(docs, window=1, min_count=min_count)


def skipgram_pmi(docs: DataFrame, window: int = 3, min_count: int = 2) -> DataFrame:
    """Directional skip-gram co-occurrence census with PMI — the
    word2vec/GloVe context statistic generalizing collocations from
    adjacent bigrams to all ordered pairs (a, b) where b follows a
    within `window` positions (distances pooled, the standard context
    window). Output one row per pair with n_ab >= min_count:
    (a, b, n_ab, n_a, n_b, pmi_u) from `stats.pmi_census` (the census
    mutual_info reads); n_a / n_b are left/right positional marginals
    over ALL skip-gram pairs, N their total.

    Scale shape: pairs come from `window` in-row arrays_zip slices
    flattened and exploded in one projection (no self-join on
    position, no window function); the (a, b) census is the only
    full-data exchange — fan-out x window over collocations.
    """
    base = docs.select(words(F.col("text")).alias("t")).where(F.size("t") >= 2)
    nsz = F.size("t")
    per_d = [
        F.arrays_zip(
            F.slice(F.col("t"), 1, F.greatest(nsz - F.lit(d), F.lit(0))).alias("a"),
            F.slice(
                F.col("t"), 1 + d, F.greatest(nsz - F.lit(d), F.lit(0))
            ).alias("b"),
        )
        for d in range(1, window + 1)
    ]
    sg = base.select(
        F.explode(F.flatten(F.array(*per_d))).alias("p")
    ).select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    return pmi_census(sg, min_count)


def gopher_rules(
    docs: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mwl: float = 3.0,
    max_mwl: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_ratio: float = 0.9,
    max_ellipsis_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1;
    the same family Dolma/FineWeb apply): per-document rule flags plus
    the composite keep decision. Returns (doc_id, n_words,
    mean_word_len, symbol_ratio, bullet_ratio, ellipsis_ratio,
    alpha_ratio, r_words, r_mwl, r_symbol, r_bullet, r_ellipsis,
    r_alpha, keep) with flags as 0/1 ints (driver-compare no-boolean
    rule).

    Two rules are re-grounded on character counts so the whole op
    stays in closed-form JVM regexp arithmetic (no per-word
    higher-order fold — Catalyst folds are interpreted, ~30k rows/s):
    mean word length = nonspace_chars / n_words, and the 80 %%-alpha-
    words rule becomes alpha_chars / nonspace_chars >= min_alpha_ratio
    (the vectorizable analog; a gibberish/symbol page fails both
    forms). Ratios are exact integer counts behind ONE double division
    + 6 dp round, so the DuckDB twin replays bitwise.

    Scale shape (100 TB): map-only — pure pyspark.sql.functions
    column expressions over (doc_id, text); no shuffle, no Python, no
    explode (line censuses use regexp_count, not split+explode)."""
    text = F.col("text")
    nw = n_words(text)
    nonspace = F.length(F.regexp_replace(text, r"\s", "")).cast("long")
    alpha = F.length(F.regexp_replace(text, "[^A-Za-z]", "")).cast("long")
    n_hash = (
        F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    ).cast("long")
    n_ellip = (
        (F.length(text) - F.length(F.regexp_replace(text, r"\.\.\.", "")))
        / F.lit(3)
    ).cast("long")
    # one "line" per newline + the final line; regexp_count avoids the
    # split+explode row blow-up
    n_lines = (
        F.length(text) - F.length(F.regexp_replace(text, "\n", "")) + F.lit(1)
    ).cast("long")
    n_bullet = F.regexp_count(text, F.lit(r"(^|\n)[-*] ")).cast("long")
    n_ellip_line = F.regexp_count(text, F.lit(r"\.\.\.(\n|$)")).cast("long")

    def ratio(num, den):
        return F.round(
            num.cast("double")
            / F.when(den > 0, den).otherwise(F.lit(1)).cast("double"),
            6,
        )

    mwl = ratio(nonspace, nw)
    sym = ratio(n_hash + n_ellip, nw)
    bul = ratio(n_bullet, n_lines)
    ell = ratio(n_ellip_line, n_lines)
    alf = ratio(alpha, nonspace)
    r_words = (
        (nw >= min_words) & (nw <= max_words)
    ).cast("int")
    r_mwl = (
        (mwl >= F.lit(float(min_mwl))) & (mwl <= F.lit(float(max_mwl)))
    ).cast("int")
    r_symbol = (sym <= F.lit(float(max_symbol_ratio))).cast("int")
    r_bullet = (bul <= F.lit(float(max_bullet_ratio))).cast("int")
    r_ellipsis = (ell <= F.lit(float(max_ellipsis_ratio))).cast("int")
    r_alpha = (alf >= F.lit(float(min_alpha_ratio))).cast("int")
    keep = (
        r_words * r_mwl * r_symbol * r_bullet * r_ellipsis * r_alpha
    ).cast("int")
    return docs.select(
        "doc_id",
        nw.alias("n_words"),
        mwl.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        bul.alias("bullet_ratio"),
        ell.alias("ellipsis_ratio"),
        alf.alias("alpha_ratio"),
        r_words.alias("r_words"),
        r_mwl.alias("r_mwl"),
        r_symbol.alias("r_symbol"),
        r_bullet.alias("r_bullet"),
        r_ellipsis.alias("r_ellipsis"),
        r_alpha.alias("r_alpha"),
        keep.alias("keep"),
    )


def script_ratios(docs: DataFrame) -> DataFrame:
    """Unicode-script composition per document: fractions of non-space
    characters that are Basic-Latin letters, digits, CJK ideographs
    (U+4E00-9FFF), Cyrillic (U+0400-04FF), or Arabic (U+0600-06FF) —
    the script-detection signal language-ID pipelines gate on before
    any model-based classifier (a page whose dominant script
    contradicts its declared lang tag is mislabeled).

    Exact integer census per class (length-difference after a
    character-class regexp_replace), one guarded division each behind
    a 6 dp round — bitwise-replayable in DuckDB. Scale shape: map-only
    scan-level column arithmetic; no shuffle, no Python, no explode.
    """
    text = F.col("text")
    nonspace = F.length(F.regexp_replace(text, r"\s", "")).cast("long")

    def census(cls: str):
        return (
            F.length(text)
            - F.length(F.regexp_replace(text, cls, ""))
        ).cast("long")

    n_latin = census("[A-Za-z]")
    n_digit = census("[0-9]")
    n_cjk = census("[\\x{4e00}-\\x{9fff}]")
    n_cyr = census("[\\x{0400}-\\x{04ff}]")
    n_arab = census("[\\x{0600}-\\x{06ff}]")

    def ratio(num):
        return F.round(
            num.cast("double")
            / F.when(nonspace > 0, nonspace).otherwise(F.lit(1)).cast("double"),
            6,
        )

    return docs.select(
        "doc_id",
        nonspace.alias("n_chars"),
        ratio(n_latin).alias("latin_ratio"),
        ratio(n_digit).alias("digit_ratio"),
        ratio(n_cjk).alias("cjk_ratio"),
        ratio(n_cyr).alias("cyrillic_ratio"),
        ratio(n_arab).alias("arabic_ratio"),
    )


def _bigrams(ex: DataFrame) -> DataFrame:
    """(doc_id, hp, h): every token hash of a (doc_id, pos, h) stream
    after the first of its document, with its predecessor's hash hp —
    one doc_id window exchange over narrow int rows."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        ex.withColumn("hp", F.lag("h").over(w))
        .filter(F.col("hp").isNotNull())
        .select("doc_id", "hp", "h")
    )


def bigram_surprisal(docs: DataFrame, hash_fn: str = "xxhash64") -> DataFrame:
    """Per-document mean CONDITIONAL bigram surprisal -> (doc_id,
    n_bigrams, surprisal2): mean over adjacent token pairs of
    -ln p(tok | prev) under the corpus's own hash-bucketed bigram
    model, p(tok|prev) = n(prev,tok)/n(prev) — the next quality rung
    above the unigram `surprisal` (repetitive boilerplate scores LOW,
    incoherent token salads score HIGH even when each word is common).
    Every scored bigram is part of the census (self-trained), so
    n(prev,tok) >= 1 and no smoothing/backoff is needed.

    Numeric rule (the surprisal policy): ln is quantized to integer
    micro-nats (`stats.ln_u`) once per distinct census entry for BOTH
    censuses, so each pair contributes the exact
    integer u(prev) - u(prev,tok) and the per-document accumulation is
    an order-independent BIGINT sum; the final mean is one division
    behind a 6 dp round, replayed exactly by the DuckDB twin.

    Scale shape (100 TB): one exchange on doc_id for the lag window
    (tokens stay narrow (doc_id, pos, h) ints); bigram/unigram
    censuses are map-side-partial counts on 8/16-byte keys; the two
    scoring joins are Zipf-skewed probe-vs-small-build (AQE skew
    territory); one final doc_id aggregate. No Python, no collect."""
    pairs = _bigrams(token_hashes(docs, hash_fn, pos=True))
    big = pairs.groupBy("hp", "h").agg(F.count(F.lit(1)).alias("nb"))
    uni = pairs.groupBy("hp").agg(F.count(F.lit(1)).alias("nu"))
    bu = big.select("hp", "h", ln_u(F.col("nb")).alias("ub"))
    uu = uni.select("hp", ln_u(F.col("nu")).alias("uu"))
    per = (
        pairs.join(bu, ["hp", "h"])
        .join(uu, "hp")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.col("uu") - F.col("ub")).cast("long").alias("su"),
        )
    )
    return per.select(
        "doc_id",
        "n_bigrams",
        F.round(
            F.col("su").cast("double")
            / F.col("n_bigrams").cast("double")
            / F.lit(1e6),
            6,
        ).alias("surprisal2"),
    )


def novelty_score(
    docs: DataFrame, n_shingle: int = 5, hash_fn: str = "xxhash64"
) -> DataFrame:
    """Corpus-order novelty per document -> (doc_id, n_ngrams,
    novelty): the fraction of the document's DISTINCT word n-grams
    whose first corpus occurrence (minimum doc_id over the whole
    input) is this document. Verbatim boilerplate and quotations of
    earlier documents score near 0, fresh text near 1 — the
    "novel n-grams" pruning signal used alongside dedup (an exact
    census twin of what Lee et al.'s dedup paper measures
    approximately). Docs with fewer than n_shingle tokens have no
    n-grams and are excluded (the surprisal convention).

    Numeric rule: counts are exact integers; novelty is ONE division
    behind a 6 dp round — bitwise in DuckDB. Scale shape (100 TB):
    per-doc distinct n-gram hashes explode to narrow (doc_id, h) rows;
    the first-seen census is a map-side-partial min on the 8-byte
    hash; one join back on h (Zipf-skewed boilerplate keys — AQE
    skew-join shape); one final doc_id aggregate. No Python.

    Construction note: the n-gram rows are dedup.shingle_hash_rows'
    (codegen concat/hash, never an interpreted transform() lambda);
    the per-(doc, h) dedup is one extra narrow 16-byte-row exchange
    instead of in-row array_distinct."""
    ex = shingle_hash_rows(docs, n_shingle, hash_fn).distinct()
    first = ex.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    per = (
        ex.join(first, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_first"),
        )
    )
    return per.select(
        "doc_id",
        "n_ngrams",
        F.round(
            F.col("n_first").cast("double") / F.col("n_ngrams").cast("double"),
            6,
        ).alias("novelty"),
    )


def tfidf_topk(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k TF-IDF terms per document — the classic keyword /
    representative-term extraction step (feature selection for corpus
    clustering, index-term picking). Output one row per kept term:
    (doc_id, token, tf, df, score_u, rnk), rnk 1..k ordered by
    score_u desc then token asc.

    Numeric rule: idf is taken ONCE PER DISTINCT TOKEN on the census
    and quantized to integer micro-nats (round(ln(N/df)*1e6) BIGINT —
    `stats.ln_u`'s rounding over a ratio, not a count), so score_u =
    tf * idf_u is EXACT integer arithmetic and the per-doc ranking has
    no float ties — the DuckDB twin replays it bit-for-bit.

    Scale shape (100 TB): two hash aggregates with map-side partials
    — (doc, token) term counts, then the vocabulary-sized token
    census; N arrives as a broadcast one-row cross join (no collect);
    idf attaches by a token equi-join (vocabulary build side — AQE
    broadcasts when it fits); the final top-k is a per-doc window over
    each document's own DISTINCT terms (bounded by doc length, never
    corpus-sized partitions)."""
    tok = docs.select(
        "doc_id",
        F.explode(words(F.col("text"))).alias("token"),
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("nd"))
    dfreq = (
        tf.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "token",
            "df",
            F.round(
                F.log(F.col("nd").cast("double") / F.col("df").cast("double"))
                * F.lit(1e6)
            )
            .cast("long")
            .alias("idf_u"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_u").desc(), F.col("token").asc()
    )
    return (
        tf.join(dfreq, "token")
        .select(
            "doc_id",
            "token",
            "tf",
            "df",
            (F.col("tf") * F.col("idf_u")).alias("score_u"),
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= F.lit(k))
        .select(
            "doc_id", "token", "tf", "df", "score_u",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


def char_entropy(docs: DataFrame) -> DataFrame:
    """Per-document character-level Shannon entropy in nats ->
    (doc_id, n_chars_counted, n_distinct_chars, entropy): the
    compression-proxy quality signal (gibberish and key-mash pages
    score near-uniform-high; template/repeat pages score low) that
    corpus filters like CCNet/Gopher pair with token-level rules.

    entropy = ln(n) - (1/n) * sum_c count_c * ln(count_c), computed
    from `stats.entropy_census` over (doc_id, ch): ln is quantized to
    micro-nats (`stats.ln_u`) once per (doc, char) count, so the
    accumulation is an exact order-independent integer sum; the
    closing (ln_u(n) - s/n)/1e6 is three correctly-rounded double ops
    behind a 6 dp round (the engine-parity policy).

    Scale shape (100 TB): text explodes to narrow (doc_id, ch) rows
    via sequence+substring (pure codegen, no Python); the census
    counts (doc_id, ch), a cardinality bounded by n_docs * |alphabet|.
    Text itself never becomes a shuffle key.
    """
    # explode the index sequence FIRST, substring on exploded rows:
    # a transform(sequence, substr) array build would be an
    # interpreted Catalyst lambda per character (CLAUDE.md); this way
    # sequence/explode/substring are all whole-stage codegen.
    # Spark's sequence(1, 0) yields a DESCENDING [1, 0] (step -1 is
    # inferred), so an empty text must be gated to an empty array --
    # DuckDB's generate_series(1, 0) is empty, and the defined
    # semantics are "no census row for an empty document".
    n_ch = F.length(F.col("text"))
    idx = F.when(n_ch >= 1, F.sequence(F.lit(1), n_ch)).otherwise(
        F.array().cast("array<int>")
    )
    chars = docs.select(
        "doc_id",
        F.col("text").alias("_t"),
        F.explode(idx).alias("i"),
    ).select("doc_id", F.col("_t").substr(F.col("i"), F.lit(1)).alias("ch"))
    n = F.col("n")
    return entropy_census(chars, ["doc_id"], "ch").select(
        "doc_id",
        n.alias("n_chars_counted"),
        F.col("n_distinct").alias("n_distinct_chars"),
        F.round(
            (ln_u(n) - F.col("s").cast("double") / n.cast("double")) / F.lit(1e6),
            6,
        ).alias("entropy"),
    )


def token_fertility(docs: DataFrame) -> DataFrame:
    """Tokenizer fertility per language -> (lang, n_docs, sum_chars,
    sum_tokens, fertility): mean characters per BPE-ish pretoken, the
    standard multilingual-tokenizer health metric (a language whose
    fertility balloons is under-served by the vocab and will dominate
    sequence length budgets). sum_chars counts the characters the
    pretokenizer actually consumed (sum of token lengths, so
    whitespace collapsing can't skew the ratio); fertility is one
    correctly-rounded double division of two exact BIGINT sums behind
    a 6 dp round -- bitwise identical cross-engine.

    Scale shape (100 TB): per-doc token extraction is one JVM
    regexp_extract_all in whole-stage codegen; the aggregate is a
    map-side-partial sum on the tiny lang key. No explode, no Python.
    """
    toks = F.regexp_extract_all(
        F.col("text"), F.lit(BPE_PRETOKEN_RE), F.lit(0)
    )
    per = docs.select(
        "lang",
        F.size(toks).cast("long").alias("nt"),
        # sum of token lengths == length of the concatenation: one
        # codegen concat_ws+length, not an interpreted Catalyst fold
        # (CLAUDE.md: higher-order aggregate runs ~30k rows/s).
        F.length(F.concat_ws("", toks)).cast("long").alias("nc"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("nc").cast("long").alias("sum_chars"),
            F.sum("nt").cast("long").alias("sum_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "sum_chars",
            "sum_tokens",
            F.round(
                F.col("sum_chars").cast("double")
                / F.col("sum_tokens").cast("double"),
                6,
            ).alias("fertility"),
        )
    )


def lang_pred_col(text_col) -> Column:
    """The lang_id keyword-argmax heuristic as a reusable Column over
    any string expression (ties -> 'und')."""
    padded = F.concat(F.lit(" "), text_col, F.lit(" "))
    scores = {
        lang: sum((occurrences(padded, kw) for kw in kws), F.lit(0.0))
        for lang, kws in LANG_KEYWORDS.items()
    }
    en, fr, de = scores["en"], scores["fr"], scores["de"]
    return (
        F.when((en > fr) & (en > de), F.lit("en"))
        .when((fr > en) & (fr > de), F.lit("fr"))
        .when((de > en) & (de > fr), F.lit("de"))
        .otherwise(F.lit("und"))
    )


def lang_pred_sql(expr: str) -> str:
    """SQL twin of lang_pred_col over an arbitrary string expression."""
    padded = f"(' ' || {expr} || ' ')"
    s = {
        lang: " + ".join(occurrences_sql(padded, kw) for kw in kws)
        for lang, kws in LANG_KEYWORDS.items()
    }
    return f"""CASE
    WHEN ({s['en']}) > ({s['fr']}) AND ({s['en']}) > ({s['de']}) THEN 'en'
    WHEN ({s['fr']}) > ({s['en']}) AND ({s['fr']}) > ({s['de']}) THEN 'fr'
    WHEN ({s['de']}) > ({s['en']}) AND ({s['de']}) > ({s['fr']}) THEN 'de'
    ELSE 'und'
  END"""


def lang_mix(docs: DataFrame, seg_tokens: int = 16) -> DataFrame:
    """Chunk-level language consistency -> (doc_id, n_chunks,
    n_langs, major_lang, major_frac): run the keyword lang-id per
    non-overlapping seg_tokens-token chunk and summarize per document
    -- the mixed-language detector (code-switching pages, bilingual
    boilerplate, template wrappers around foreign content) that a
    doc-level lang-id by construction cannot see; pipelines route
    high-mix documents to splitting rather than a single language
    bucket.

    major_lang is the most frequent chunk prediction with ties to the
    LEXICOGRAPHICALLY SMALLEST tag ('und' counts as a language -- a
    document of undetermined chunks is majority-undetermined);
    major_frac = major count / n_chunks, one correctly-rounded double
    division of exact ints behind a 6 dp round.

    Scale shape (100 TB): chunking is the segment_lines codegen
    explode; the lang CASE chain is pure JVM string arithmetic per
    chunk; one (doc_id, lang) count with map-side partials and one
    doc_id aggregate picking the winner via max(struct(n, rev_lang))
    -- no window, no Python.
    """
    segs = segment_lines(docs, "tokens", seg_tokens)
    pred = segs.select(
        "doc_id", lang_pred_col(F.col("line")).alias("lg")
    )
    cnt = pred.groupBy("doc_id", "lg").agg(F.count(F.lit(1)).alias("n"))
    # ties -> smallest tag: max(struct(n, neg)) where neg inverts the
    # lexicographic order of the (ascii, fixed) language tags
    inv = F.ascii(F.substring(F.col("lg"), 1, 1)) * F.lit(-1)
    win = cnt.groupBy("doc_id").agg(
        F.sum("n").cast("long").alias("n_chunks"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.max(F.struct(F.col("n"), inv.alias("inv"), F.col("lg"))).alias("s"),
    )
    return win.select(
        "doc_id",
        "n_chunks",
        "n_langs",
        F.col("s.lg").alias("major_lang"),
        F.round(
            F.col("s.n").cast("double") / F.col("n_chunks").cast("double"), 6
        ).alias("major_frac"),
    )


def retrieval_eval(
    docs: DataFrame, terms: list[str], k: int = 10
) -> DataFrame:
    """Retrieval quality of the BM25 ranking -> ONE row (k, n_docs,
    n_relevant, first_rel_rank, mrr, recall_at_k): ground truth is
    exact conjunctive containment (a document is relevant iff EVERY
    query term occurs), the ranking is bm25_score with (score desc,
    doc_id asc) tie-break, and the metrics are the standard eval pair
    -- reciprocal rank of the first relevant hit in the top k, and the
    fraction of all relevant documents the top k recovers.

    Scale shape (100 TB): the crucial choice is NO GLOBAL WINDOW --
    ranking the corpus with row_number() would serialize into one
    partition; instead the top k arrives via orderBy().limit(k)
    (TakeOrderedAndProject: per-partition heaps + one k-row merge) and
    only those k rows see a window (bounded by k, not by data). The
    relevance census is one map-side aggregate. first_rel_rank is 0
    (and mrr 0.0) when no relevant doc makes the cut -- a defined,
    portable miss value.
    """
    scored = bm25_score(docs, terms)
    padded = F.concat(F.lit(" "), F.col("text"), F.lit(" "))
    is_rel = None
    for t in terms:
        c = occurrences(padded, f" {t} ") > 0
        is_rel = c if is_rel is None else (is_rel & c)
    rel = docs.select("doc_id", is_rel.alias("rel"))
    totals = rel.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("rel").cast("long")).cast("long").alias("n_relevant"),
    )
    topk = (
        scored.orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(k)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy().orderBy(
                    F.col("bm25").desc(), F.col("doc_id").asc()
                )
            ),
        )
        .join(rel, "doc_id")
    )
    hits = topk.agg(
        F.min(F.when(F.col("rel"), F.col("rnk"))).alias("first_rel"),
        F.sum(F.col("rel").cast("long")).cast("long").alias("n_hit"),
    )
    return totals.crossJoin(F.broadcast(hits)).select(
        F.lit(k).cast("long").alias("k"),
        "n_docs",
        "n_relevant",
        F.coalesce(F.col("first_rel"), F.lit(0)).cast("long").alias(
            "first_rel_rank"
        ),
        F.when(
            F.col("first_rel").isNotNull(),
            F.round(F.lit(1.0) / F.col("first_rel").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("mrr"),
        F.when(
            F.col("n_relevant") > 0,
            F.round(
                F.col("n_hit").cast("double")
                / F.col("n_relevant").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("recall_at_k"),
    )


def inverted_index(
    docs: DataFrame,
    k: int = 5,
    min_df: int = 2,
    n_salts: int = 8,
) -> DataFrame:
    """Capped postings-list construction — the index-build op that
    turns a crawl corpus into the (term -> top documents) table a
    retrieval stack (BM25 serving, dedup forensics, corpus search)
    consumes. One row per surviving (term, rank): (term, df, cf,
    rank, doc_id, tf). Per-term postings are capped at the top-`k`
    documents by (tf DESC, doc_id ASC) and terms appearing in fewer
    than `min_df` documents are dropped (the rare-term tail that
    dominates a web vocabulary).

    Generalizes the reference's per-type staging censuses
    (cadastre-pg/src/report.rs per-table counters, A3) to a full
    term-level index artifact.

    Scale shape (100 TB): the (term, doc) tf census partial-aggregates
    map-side, so the first exchange carries per-document term counts,
    never token occurrences. The top-k is a SALTED TWO-PHASE rank:
    phase 1 ranks inside (term, pmod(xxhash64(doc_id), n_salts))
    partitions and keeps k rows per salt — a stopword's postings
    spread over `n_salts` tasks instead of melting one hot window
    partition — and phase 2 ranks the <= k * n_salts survivors per
    term. Lossless by the standard argument: any global top-k row is
    necessarily within the top-k of its own salt partition. df/cf
    come from a skew-immune map-side-combining groupBy, joined back
    on term against the capped survivors only (bounded rows). The
    oracle replays the single-window formulation, which equals the
    salted one exactly.

    The (term, doc) census feeds BOTH branches (rank and stats), so it
    is persisted once (the heavy_hitters house pattern) instead of
    re-tokenizing the corpus per consumer; call
    `release_cached(result)` after the terminal action."""
    tf = (
        docs.select(
            "doc_id",
            F.explode(words(F.col("text"))).alias("term"),
        )
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .persist()
    )
    stats = (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("tf").cast("long").alias("cf"),
        )
        .where(F.col("df") >= min_df)
    )
    w1 = Window.partitionBy("term", "salt").orderBy(
        F.desc("tf"), F.asc("doc_id")
    )
    w2 = Window.partitionBy("term").orderBy(F.desc("tf"), F.asc("doc_id"))
    top = (
        tf.withColumn(
            "salt", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(n_salts))
        )
        .withColumn("r1", F.row_number().over(w1))
        .where(F.col("r1") <= k)
        .withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
    )
    out = top.join(stats, "term").select(
        "term",
        "df",
        "cf",
        F.col("rank").cast("long").alias("rank"),
        "doc_id",
        "tf",
    )
    return hold(out, tf)


def linear_score(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int = 1 << 16,
    bias_u: int = 0,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Apply a pretrained fastText-style LINEAR text classifier at
    corpus scale — the "quality classifier" stage of a web pipeline
    (pages scored by a model distilled from curated seeds). Features
    are hashed unigrams AND bigrams sharing one bucket space
    (`bucket = hash32(feature) % n_buckets`, the fastText trick);
    `weights` is a (bucket BIGINT, w BIGINT) table of INTEGER
    MICRO-UNIT weights (1e-6), `bias_u` the intercept in the same
    units. Returns (doc_id, n_feats, logit, label): n_feats counts
    hashed feature OCCURRENCES (missing buckets score 0), logit the
    micro-unit-exact score in units of 1.0 (6 dp), label the sign
    test logit_u + bias_u > 0 — an integer comparison, so no float
    boundary can flip it between engines.

    Scale shape (100 TB): the model is a BROADCAST hash join (a
    65k-bucket weight table is ~1 MB — every executor holds it; the
    corpus never shuffles for the lookup), feature extraction is the
    narrow shingle_hash_rows codegen shape (arrays_zip shifted slices
    + concat_ws + hash — one (doc_id, h) long-pair per occurrence,
    never a carried token array, never an interpreted lambda), and
    the per-doc sum partial-aggregates map-side so the one exchange
    carries per-doc partials. Exact BIGINT sums — order-independent,
    replayed verbatim by the DuckDB twin."""
    feats = (
        shingle_hash_rows(docs, 1, hash_fn)
        .unionByName(shingle_hash_rows(docs, 2, hash_fn))
        .select(
            "doc_id",
            F.pmod(F.col("h"), F.lit(n_buckets)).alias("bucket"),
        )
    )
    scored = feats.join(F.broadcast(weights), "bucket", "left").groupBy(
        "doc_id"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_feats"),
        F.sum(F.coalesce(F.col("w"), F.lit(0))).cast("long").alias("s_u"),
    )
    logit_u = F.col("s_u") + F.lit(int(bias_u))
    return scored.select(
        "doc_id",
        "n_feats",
        F.round(logit_u.cast("double") / F.lit(1e6), 6).alias("logit"),
        (logit_u > 0).alias("label"),
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Per-class evaluation of the lang-ID heuristic against the gold
    `lang` column — the drift check a pipeline runs when the corpus
    mix shifts (a heuristic tuned on en/fr/de silently degrades when
    es/zh arrive). One row per GOLD class: (lang, n_gold, n_pred, tp,
    prec, recall, f1); n_pred counts predictions of that label over
    the whole table (0 for classes the heuristic can never emit, so
    prec is NULL there — stated, not silent).

    Scale shape (100 TB): the corpus collapses to the (gold, pred)
    confusion census in ONE map-side-partial groupBy (#langs² cells);
    every metric derives from that tiny table — the row/column
    marginals are sub-aggregates of the census, the join runs on
    #langs rows. Exact integer counts; each metric is one rounded
    division."""
    cells = (
        docs.select(
            F.col("lang").alias("gold"),
            lang_pred_col(F.col("text")).alias("pred"),
        )
        .groupBy("gold", "pred")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .persist()
    )
    by_gold = cells.groupBy("gold").agg(
        F.sum("n").cast("long").alias("n_gold"),
        F.sum(F.when(F.col("pred") == F.col("gold"), F.col("n")).otherwise(0))
        .cast("long")
        .alias("tp"),
    )
    by_pred = cells.groupBy("pred").agg(
        F.sum("n").cast("long").alias("n_pred")
    )
    out = (
        by_gold.join(by_pred, by_gold.gold == by_pred.pred, "left")
        .select(
            F.col("gold").alias("lang"),
            "n_gold",
            F.coalesce(F.col("n_pred"), F.lit(0)).cast("long").alias("n_pred"),
            "tp",
            F.when(
                F.coalesce(F.col("n_pred"), F.lit(0)) > 0,
                F.round(
                    F.col("tp").cast("double") / F.col("n_pred").cast("double"),
                    6,
                ),
            ).alias("prec"),
            F.when(
                F.col("n_gold") > 0,
                F.round(
                    F.col("tp").cast("double") / F.col("n_gold").cast("double"),
                    6,
                ),
            ).alias("recall"),
            F.when(
                F.coalesce(F.col("n_pred"), F.lit(0)) + F.col("n_gold") > 0,
                F.round(
                    (F.lit(2) * F.col("tp")).cast("double")
                    / (F.coalesce(F.col("n_pred"), F.lit(0)) + F.col("n_gold"))
                    .cast("double"),
                    6,
                ),
            ).alias("f1"),
        )
    )
    return hold(out, cells)


def bpe_merges(docs: DataFrame, k: int = 3) -> DataFrame:
    """Learn the first `k` BPE merges from the corpus — tokenizer
    TRAINING as a distributed operator (bpe_token_count only APPLIES a
    fixed segmenter; this derives the merge table a tokenizer build
    starts from). Classic Sennrich BPE on the word vocabulary: words
    split to character symbols, each round merges the globally most
    frequent adjacent symbol pair (count weighted by word frequency;
    ties -> lexicographically smallest (lhs, rhs)), applied greedily
    left-to-right within each word. Returns the merge table
    (rnd, lhs, rhs, n) — k rows.

    Greedy left-to-right application is made ORDER-FREE by the run-
    parity rule: overlapping occurrences exist only when lhs == rhs
    (an occurrence at sequence position i overlaps one at i+1 only if
    the pair is (x, x)), so within each maximal run of row-adjacent
    occurrences exactly the 1st, 3rd, 5th ... survive — a window
    expression, not a sequential scan, and the DuckDB twin replays it
    with identical windows.

    Scale shape (100 TB): the corpus is touched ONCE (the word-count
    census, map-side partial agg; the exchange carries (word, count)
    partials — the vocabulary, not token occurrences). Every round
    then runs over the symbol table (vocab_size x avg_word_len rows):
    one pair census (partial-agg), one TakeOrdered(1) argmax whose
    single row CROSS-JOINS back in as a broadcast (no driver
    round-trip in the plan), and word-partitioned windows (bounded by
    word length) for the merge application. localCheckpoint truncates
    per-round lineage like every iterative operator here."""
    if k < 1:
        raise ValueError("bpe_merges: k must be >= 1")
    wc = (
        docs.select(
            F.explode(words(F.col("text"))).alias("word")
        )
        # empty-word gate: split('') yields [''], and Spark's
        # sequence(1, 0) is the DESCENDING [1, 0] — an empty/
        # whitespace-only doc would inject two empty-string symbol
        # rows where the oracle's range(1,1) yields none
        .where(F.length("word") >= 1)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    stream = wc.select(
        "word",
        "cnt",
        F.explode(F.sequence(F.lit(1), F.length("word"))).alias("pos"),
    ).select(
        "word",
        "cnt",
        "pos",
        F.substring(F.col("word"), F.col("pos"), 1).alias("sym"),
    )
    stream = stream.localCheckpoint(eager=True)
    cached = [stream]
    w_seq = Window.partitionBy("word").orderBy("pos")
    merges = []
    for rnd in range(1, k + 1):
        pr = stream.select(
            "word",
            "cnt",
            "pos",
            "sym",
            F.lead("sym").over(w_seq).alias("nxt"),
            F.row_number().over(w_seq).alias("rn"),
        )
        m = (
            pr.where(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("cnt").cast("long").alias("n"))
            .orderBy(F.desc("n"), F.asc("sym"), F.asc("nxt"))
            .limit(1)
            .select(
                F.col("sym").alias("a"), F.col("nxt").alias("b"), "n"
            )
            .localCheckpoint(eager=True)
        )
        cached.append(m)
        merges.append(m.select(F.lit(rnd).cast("long").alias("rnd"),
                               F.col("a").alias("lhs"),
                               F.col("b").alias("rhs"), "n"))
        j = pr.crossJoin(F.broadcast(m))
        occ = j.where((F.col("sym") == F.col("a")) & (F.col("nxt") == F.col("b")))
        w_occ = Window.partitionBy("word").orderBy("rn")
        runs = occ.withColumn("grp", F.col("rn") - F.row_number().over(w_occ))
        w_run = Window.partitionBy("word", "grp").orderBy("rn")
        keep = (
            runs.withColumn("kk", F.row_number().over(w_run))
            .where(F.pmod(F.col("kk"), F.lit(2)) == 1)
            .select("word", F.col("rn").alias("keep_rn"))
        )
        nxt_stream = (
            j.join(
                keep.select(F.col("word").alias("kw"), "keep_rn"),
                (F.col("word") == F.col("kw"))
                & (F.col("rn") == F.col("keep_rn")),
                "left",
            )
            .join(
                keep.select(
                    F.col("word").alias("cw"), F.col("keep_rn").alias("crn")
                ),
                (F.col("word") == F.col("cw"))
                & (F.col("rn") == F.col("crn") + 1),
                "left",
            )
            .where(F.col("crn").isNull())  # drop consumed rows
            .select(
                "word",
                "cnt",
                "pos",
                F.when(
                    F.col("keep_rn").isNotNull(),
                    F.concat(F.col("sym"), F.col("nxt")),
                )
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .localCheckpoint(eager=True)
        )
        cached.append(nxt_stream)
        stream = nxt_stream
    out = merges[0]
    for mdf in merges[1:]:
        out = out.unionByName(mdf)
    return hold(out, *cached)


def heaps_law(docs: DataFrame, n_buckets: int = 20) -> DataFrame:
    """Vocabulary growth curve + Heaps' law exponent — the
    tokenizer-planning diagnostic (how fast does the vocabulary grow
    as the corpus grows; beta far from ~0.5 flags boilerplate or ID
    spray). The corpus is cut into `n_buckets` doc_id-range buckets
    (arrival order); per bucket the curve row is the CUMULATIVE
    (docs, tokens, distinct vocabulary) up to that bucket, and the
    fit is OLS of ln(vocab_cum) on ln(tokens_cum) over the curve
    points: V = k * N^beta. Output (bucket, docs_cum, tokens_cum,
    vocab_cum, beta, lnk) — fit columns repeated per row, NULL when
    fewer than 3 usable points or a degenerate spread (stated, not
    0/0: every division is gated for ANSI mode).

    Numeric rule (the zipf_fit precedent): ln outputs on exact
    integer inputs are floor-quantized to micro-nats (BIGINT), the
    OLS sums are exact integer aggregates, and slope/intercept close
    in fixed-order double arithmetic — bitwise-replayable in DuckDB.

    Scale shape (100 TB): two corpus passes, both map-side-partial
    groupBys (per-bucket token census; per-term min-bucket census —
    the exchange carries vocabulary-sized partials). The cumulative
    prefix runs on the DRIVER over n_buckets rows (scale-free, the
    concurrency_profile pattern), and the fit aggregates <= n_buckets
    points. No window ever touches corpus-sized data."""
    spark = docs.sparkSession
    toks = words(F.col("text"))
    mx = docs.agg(F.max("doc_id").alias("mx"))
    bucket = F.floor(
        (F.col("doc_id") * F.lit(n_buckets)).cast("double")
        / (F.col("mx") + F.lit(1)).cast("double")
    ).cast("long")
    b = docs.crossJoin(F.broadcast(mx)).select(
        "doc_id", toks.alias("t"), bucket.alias("bucket")
    )
    tb = {
        r.bucket: (r.docs, r.toks)
        for r in b.select(
            "bucket", F.size("t").cast("long").alias("nt")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs"),
            F.sum("nt").cast("long").alias("toks"),
        )
        .collect()
    }
    nv = {
        r.fb: r.nv
        for r in b.select("bucket", F.explode("t").alias("term"))
        .groupBy("term")
        .agg(F.min("bucket").alias("fb"))
        .groupBy("fb")
        .agg(F.count(F.lit(1)).cast("long").alias("nv"))
        .collect()
    }
    dc = tc = vc = 0
    rows = []
    for bk in sorted(tb):
        dc += tb[bk][0]
        tc += tb[bk][1]
        vc += nv.get(bk, 0)
        rows.append((bk, dc, tc, vc))
    curve = spark.createDataFrame(
        rows, "bucket long, docs_cum long, tokens_cum long, vocab_cum long"
    )
    x = F.floor(
        F.log(F.col("tokens_cum").cast("double")) * F.lit(1e6)
    ).cast("long")
    y = F.floor(
        F.log(F.col("vocab_cum").cast("double")) * F.lit(1e6)
    ).cast("long")
    fit = (
        curve.where((F.col("tokens_cum") > 0) & (F.col("vocab_cum") > 0))
        .select(x.alias("x"), y.alias("y"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.coalesce(F.sum("x"), F.lit(0)).alias("sx"),
            F.coalesce(F.sum("y"), F.lit(0)).alias("sy"),
            F.coalesce(F.sum(F.col("x") * F.col("y")), F.lit(0)).alias("sxy"),
            F.coalesce(F.sum(F.col("x") * F.col("x")), F.lit(0)).alias("sxx"),
        )
    )
    kd = F.col("k").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxyd, sxxd = F.col("sxy").cast("double"), F.col("sxx").cast("double")
    den = kd * sxxd - sxd * sxd
    slope = (kd * sxyd - sxd * syd) / den
    ok = (F.col("k") >= 3) & (den > 0)
    return curve.crossJoin(F.broadcast(fit)).select(
        "bucket",
        "docs_cum",
        "tokens_cum",
        "vocab_cum",
        F.when(ok, F.round(slope, 6)).alias("beta"),
        F.when(
            ok, F.round((syd - slope * sxd) / (kd * F.lit(1e6)), 6)
        ).alias("lnk"),
    )


def readability(docs: DataFrame) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document.

    Classic readability features for data-quality classifiers (the
    FineWeb-Edu-style signal family).  Syllables are approximated by
    vowel-group runs ([aeiouy]+, the standard regex proxy), sentences
    by terminal-punctuation runs, and both are floored at 1 so
    headline-style fragments read as one sentence instead of being a
    division hazard (ANSI).  All three counts are JVM `regexp_count`
    (whole-stage codegen — single narrow map stage, no shuffle, no
    Python; scales linearly with the scan), and the two rates are
    single IEEE divisions, so the DuckDB oracle replays them exactly
    via len(regexp_extract_all(...)) over the identical patterns
    (shared Java/RE2 regex subset: character classes + greedy runs).

    Reference lineage: extends the reference's per-row derived scalar
    family (cadastre-pg/src/cli.rs:842-910) with the standard text-
    quality derivations a web corpus needs.
    """
    text = F.col("text")
    one = F.lit(1).cast("long")
    nw = F.greatest(one, n_words(text))
    n_sent = F.greatest(
        one, F.regexp_count(text, F.lit(r"[.!?]+")).cast("long")
    )
    n_syll = F.greatest(
        one, F.regexp_count(F.lower(text), F.lit("[aeiouy]+")).cast("long")
    )
    wps = nw.cast("double") / n_sent.cast("double")
    spw = n_syll.cast("double") / nw.cast("double")
    flesch = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    fk = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    return docs.select(
        "doc_id",
        nw.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_syll.alias("n_syllables"),
        F.round(flesch, 6).alias("flesch"),
        F.round(fk, 6).alias("fk_grade"),
    )


def readability_sql(table: str = "documents") -> str:
    """Exact DuckDB twin of readability(): identical patterns, the
    same greatest(1, ...) floors, the same left-associated constant
    arithmetic (constants enter as CAST('...' AS DOUBLE) per the
    oracle-parity house rule)."""
    nw = (
        "greatest(CAST(1 AS BIGINT), "
        "CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT))"
    )
    ns = (
        "greatest(CAST(1 AS BIGINT), "
        "CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))"
    )
    sy = (
        "greatest(CAST(1 AS BIGINT), "
        "CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT))"
    )
    wps = f"(CAST({nw} AS DOUBLE) / CAST({ns} AS DOUBLE))"
    spw = f"(CAST({sy} AS DOUBLE) / CAST({nw} AS DOUBLE))"
    c = lambda v: f"CAST('{v}' AS DOUBLE)"  # noqa: E731
    return f"""
SELECT doc_id,
  {nw} AS n_words,
  {ns} AS n_sentences,
  {sy} AS n_syllables,
  round({c('206.835')} - {c('1.015')} * {wps} - {c('84.6')} * {spw}, 6)
    AS flesch,
  round({c('0.39')} * {wps} + {c('11.8')} * {spw} - {c('15.59')}, 6)
    AS fk_grade
FROM {table}
"""


# default merge ranks for bpe_apply's driver query: English-ish bigram
# merges in learned-rank order (each may build on earlier results)
BPE_APPLY_MERGES = (
    ("t", "h"),
    ("th", "e"),
    ("a", "n"),
    ("an", "d"),
    ("i", "n"),
    ("e", "r"),
    ("o", "n"),
    ("r", "e"),
    ("o", "r"),
    ("s", "t"),
)


def bpe_apply(docs: DataFrame, merges=BPE_APPLY_MERGES) -> DataFrame:
    """Apply a TRAINED BPE merge list to the corpus — the tokenizer-
    APPLY stage that pairs with bpe_merges' tokenizer-TRAIN stage (a
    pipeline trains merges once, then encodes 100 TB with them).
    Returns (doc_id, n_words, n_chars, n_symbols, cpr): symbol count
    after all merges and chars-per-symbol compression.

    Encoding = the canonical BPE replace chain: the doc becomes its
    word-boundary-marked spaced form ("c a t # d o g" — '#' interrupts
    any cross-word adjacency), then each merge (a, b) in rank order is
    one literal `replace(s, 'a b', 'ab')` — left-to-right non-
    overlapping in Spark, DuckDB and Python alike, so the whole encode
    is an exact cross-engine replay and a pure whole-stage-codegen
    string pipeline: no UDF, no shuffle, linear in corpus bytes (the
    ideal 100 TB map shape). Symbol counts are derived from the final
    string: n_symbols = len(split(s, ' ')) - n_words + 1 (the '#'
    markers are separators, not symbols).

    Reference lineage: extends the reference's per-row derived-scalar
    family (cadastre-pg/src/cli.rs:842-910) with the tokenizer-apply
    derivation a MULTI-PASS trained pipeline needs."""
    spaced = F.regexp_replace(
        F.regexp_replace(F.trim(F.col("text")), r"\s+", "#"),
        "(.)",
        "$1 ",
    )
    s = F.trim(spaced)
    for a, b in merges:
        s = F.replace(s, F.lit(f"{a} {b}"), F.lit(a + b))
    nw = n_words(F.col("text"))
    n_chars = F.length(
        F.regexp_replace(F.trim(F.col("text")), r"\s+", "")
    ).cast("long")
    n_units = F.size(F.split(s, " ")).cast("long")
    n_symbols = n_units - nw + F.lit(1).cast("long")
    return docs.select(
        "doc_id",
        nw.alias("n_words"),
        n_chars.alias("n_chars"),
        n_symbols.alias("n_symbols"),
        F.when(
            n_symbols > 0,
            F.round(n_chars.cast("double") / n_symbols.cast("double"), 6),
        ).alias("cpr"),
    )


def bpe_apply_sql(
    table: str = "documents", merges=BPE_APPLY_MERGES
) -> str:
    """Exact DuckDB twin of bpe_apply: the same marker/spacing regexes
    (DuckDB needs the 'g' flag and \\1 backrefs where Spark defaults
    to global $1) and the identical literal replace chain."""
    s = (
        rf"trim(regexp_replace(regexp_replace(trim(text), '\s+', '#', 'g'),"
        rf" '(.)', '\1 ', 'g'))"
    )
    for a, b in merges:
        s = f"replace({s}, '{a} {b}', '{a}{b}')"
    nw = rf"CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)"
    nc = rf"CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS BIGINT)"
    nsym = f"(CAST(len(string_split({s}, ' ')) AS BIGINT) - {nw} + 1)"
    return f"""
SELECT doc_id,
  {nw} AS n_words,
  {nc} AS n_chars,
  {nsym} AS n_symbols,
  CASE WHEN {nsym} > 0 THEN
    round(CAST({nc} AS DOUBLE) / CAST({nsym} AS DOUBLE), 6)
  END AS cpr
FROM {table}
"""


def vocab_coverage(docs: DataFrame, ks=(100, 1000, 4000)) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer/vocab-sizing figure:
    for each k, the share of TOKEN OCCURRENCES covered by the k most
    frequent types (ties at the frequency boundary break by token
    string). One row per k: (k, n_types, covered, coverage).

    Scale shape (100 TB): the corpus collapses to the type census in
    one map-side-partial groupBy; the global ranking touches ONLY the
    top-max(k) survivors via orderBy().limit() (TakeOrderedAndProject
    — never a corpus- or vocab-wide row_number, the eval-top-k
    playbook rule), and the per-k sums run over those <= max(k) rows
    joined to a literal k table. Integer counts; coverage is one
    rounded division."""
    max_k = max(ks)
    tok = docs.select(
        F.explode(words(F.col("text"))).alias("tok")
    )
    census = tok.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("n"))
    total = census.agg(F.sum("n").cast("long").alias("total"))
    top = census.orderBy(F.col("n").desc(), F.col("tok").asc()).limit(max_k)
    w = Window.orderBy(F.col("n").desc(), F.col("tok").asc())
    ranked = top.withColumn("rnk", F.row_number().over(w).cast("long"))
    ksdf = docs.sparkSession.createDataFrame(
        [(int(k),) for k in sorted(ks)], "k long"
    )
    per = (
        ranked.crossJoin(F.broadcast(ksdf))
        .filter(F.col("rnk") <= F.col("k"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum("n").cast("long").alias("covered"),
        )
    )
    return per.crossJoin(F.broadcast(total)).select(
        "k",
        "n_types",
        "covered",
        F.when(
            F.col("total") > 0,
            F.round(
                F.col("covered").cast("double") / F.col("total").cast("double"),
                6,
            ),
        ).alias("coverage"),
    )


def vocab_coverage_sql(table: str = "documents", ks=(100, 1000, 4000)) -> str:
    """DuckDB twin of vocab_coverage: same census, same (n DESC, tok
    ASC) ranking truncated at max(k), same per-k conditional sums."""
    max_k = max(ks)
    klist = ", ".join(f"CAST({int(k)} AS BIGINT)" for k in sorted(ks))
    return rf"""
        WITH tok AS (
          SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
          FROM {table}
        ),
        c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
        r AS (
          SELECT tok, n, CAST(row_number() OVER (ORDER BY n DESC, tok ASC)
                 AS BIGINT) AS rnk
          FROM c
        ),
        top AS (SELECT * FROM r WHERE rnk <= {max_k}),
        ks AS (SELECT unnest([{klist}]) AS k)
        SELECT ks.k, CAST(count(*) AS BIGINT) AS n_types,
               CAST(sum(top.n) AS BIGINT) AS covered,
               CASE WHEN max(tot.total) > 0 THEN
                 round(CAST(sum(top.n) AS DOUBLE)
                       / CAST(max(tot.total) AS DOUBLE), 6)
               END AS coverage
        FROM top JOIN ks ON top.rnk <= ks.k CROSS JOIN tot
        GROUP BY 1
    """


# heldout_perplexity's split: docs with doc_id % HELDOUT_MOD == 0 are
# held out
HELDOUT_MOD = 5


def heldout_perplexity(docs: DataFrame, hash_fn: str = "xxhash64") -> DataFrame:
    """HELD-OUT bigram LM surprisal — the cross-split sibling of
    bigram_surprisal (which scores the corpus under its own census):
    an add-one-smoothed bigram model is trained on the doc_id %
    HELDOUT_MOD != 0 split and scores the held-out docs, so unseen
    contexts and unseen continuations are actually exercised (the
    shape of a perplexity-based quality filter scored by a model that
    never saw the doc). One row per held-out doc with >= 1 bigram:
    (doc_id, n_bigrams, surprisal_ho) — mean -ln p(tok|prev) with
    p = (n(prev,tok) + 1) / (n(prev) + V), V = train vocab + 1.

    Numeric rule (the surprisal policy): ln is quantized to integer
    micro-nats (`stats.ln_u`) per distinct integer argument, every
    per-bigram term is the exact integer
    u(n(prev)+V) - u(n(prev,tok)+1), sums are order-independent
    BIGINTs, the final mean one rounded division. Scale shape
    (100 TB): the (doc_id, pos, h) token table persists ONCE and
    feeds the lag window, both train censuses and the vocab count
    (multi-pass playbook rule); the two scoring joins are Zipf-skewed
    probe-vs-small-build left joins; V broadcasts as a one-row cross
    join. No Python anywhere."""
    ex = token_hashes(docs, hash_fn, pos=True).persist()
    pairs = _bigrams(ex)
    is_val = F.pmod(F.col("doc_id"), F.lit(HELDOUT_MOD)) == 0
    tr = pairs.filter(~is_val)
    va = pairs.filter(is_val)
    vocab = ex.filter(F.pmod(F.col("doc_id"), F.lit(HELDOUT_MOD)) != 0).agg(
        (F.countDistinct("h") + F.lit(1)).cast("long").alias("V")
    )
    nb = tr.groupBy("hp", "h").agg(F.count(F.lit(1)).cast("long").alias("nb"))
    nu = tr.groupBy("hp").agg(F.count(F.lit(1)).cast("long").alias("nu"))
    term = ln_u(F.coalesce(F.col("nu"), F.lit(0)) + F.col("V")) - ln_u(
        F.coalesce(F.col("nb"), F.lit(0)) + F.lit(1)
    )
    per = (
        va.join(nb, ["hp", "h"], "left")
        .join(nu, "hp", "left")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum(term).cast("long").alias("su"),
        )
    )
    out = per.select(
        "doc_id",
        "n_bigrams",
        F.round(
            F.col("su").cast("double")
            / F.col("n_bigrams").cast("double")
            / F.lit(1e6),
            6,
        ).alias("surprisal_ho"),
    )
    return hold(out, ex)


def bleu_eval(docs: DataFrame) -> DataFrame:
    """Doc-level BLEU-2 of an aggressive normalization (lowercase +
    punctuation-strip + whitespace-collapse) against the original
    tokenization — the generation-eval primitive (clipped modified
    n-gram precision + brevity penalty), used here as a curation
    diagnostic: how much surface form does the cleaning rewrite
    destroy per document. Reference lineage: extends the reference's
    per-feature text normalization checks (cadastre-pg cli.rs
    P-group scalar derivations) to a scored hypothesis/reference
    comparison.

    Output one row per doc: (doc_id, ref_len, hyp_len, p1_num,
    p2_num, bleu2) where p1/p2 are clipped unigram/bigram match
    counts (denominators hyp_len and hyp_len-1), and bleu2 =
    BP * sqrt(p1 * p2) rounded to 6 dp, BP = exp(1 - ref_len /
    hyp_len) when the hypothesis is shorter (cosine-family rounding
    policy: sqrt and division are correctly rounded IEEE, exp ~1ulp
    — empirically exact behind the 1e-6 grid on the fixed data).

    Scale shape: tokenization is persisted ONCE; four explode
    branches (ref/hyp x unigram/bigram) union into ONE
    (doc_id, order, g1, g2) hash aggregate with map-side partials
    (side-tagged conditional counts — no hyp-vs-ref join), then a
    doc-level rollup; bigrams come from in-row zip-slices
    (collocations topology), never a window or self-join. All
    codegen: no higher-order lambdas, no Python.
    """
    hyp_txt = F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", " ")
    base = docs.select(
        "doc_id",
        words_or_empty(F.col("text")).alias("tr"),
        words_or_empty(hyp_txt).alias("th"),
    ).persist()

    def _uni(col: str, side: str) -> DataFrame:
        return base.select(
            "doc_id",
            F.lit(1).alias("ord"),
            F.explode(col).alias("g1"),
            F.lit("").alias("g2"),
            F.lit(side).alias("side"),
        )

    def _bi(col: str, side: str) -> DataFrame:
        n = F.size(col)
        return (
            base.where(n >= 2)
            .select(
                "doc_id",
                F.explode(
                    F.arrays_zip(
                        F.slice(F.col(col), 1, n - 1).alias("g1"),
                        F.slice(F.col(col), 2, n - 1).alias("g2"),
                    )
                ).alias("p"),
                F.lit(side).alias("side"),
            )
            .select(
                "doc_id",
                F.lit(2).alias("ord"),
                F.col("p.g1").alias("g1"),
                F.col("p.g2").alias("g2"),
                "side",
            )
        )

    # neutral seed row per doc (side 'x' counts into neither h nor r)
    # so empty / all-punct docs still emit a scored output row
    seed = base.select(
        "doc_id",
        F.lit(1).alias("ord"),
        F.lit("").alias("g1"),
        F.lit("").alias("g2"),
        F.lit("x").alias("side"),
    )
    grams = (
        seed.unionByName(_uni("tr", "r"))
        .unionByName(_uni("th", "h"))
        .unionByName(_bi("tr", "r"))
        .unionByName(_bi("th", "h"))
    )
    per_gram = grams.groupBy("doc_id", "ord", "g1", "g2").agg(
        F.count(F.when(F.col("side") == "h", 1)).alias("h"),
        F.count(F.when(F.col("side") == "r", 1)).alias("r"),
    )
    per_doc = per_gram.groupBy("doc_id").agg(
        F.sum(F.when(F.col("ord") == 1, F.col("r")).otherwise(0))
        .cast("long")
        .alias("ref_len"),
        F.sum(F.when(F.col("ord") == 1, F.col("h")).otherwise(0))
        .cast("long")
        .alias("hyp_len"),
        F.sum(
            F.when(F.col("ord") == 1, F.least("h", "r")).otherwise(0)
        )
        .cast("long")
        .alias("p1_num"),
        F.sum(
            F.when(F.col("ord") == 2, F.least("h", "r")).otherwise(0)
        )
        .cast("long")
        .alias("p2_num"),
    )
    hl = F.col("hyp_len").cast("double")
    rl = F.col("ref_len").cast("double")
    p1 = F.col("p1_num").cast("double") / hl
    p2 = F.col("p2_num").cast("double") / (hl - F.lit(1.0))
    bp = F.when(F.col("hyp_len") >= F.col("ref_len"), F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - rl / hl)
    )
    bleu = F.when(
        (F.col("hyp_len") < 2) | (F.col("p1_num") == 0) | (F.col("p2_num") == 0),
        F.lit(0.0),
    ).otherwise(bp * F.sqrt(p1 * p2))
    out = per_doc.select(
        "doc_id",
        "ref_len",
        "hyp_len",
        "p1_num",
        "p2_num",
        F.round(bleu, 6).alias("bleu2"),
    )
    return hold(out, base)
