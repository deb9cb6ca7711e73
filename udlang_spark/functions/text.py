"""Text-analysis column functions for LLM training-data pipelines.

All pure Column expressions (JVM-side, whole-stage codegen — no Python in
the hot path). The reference ships zero built-in functions (stdlib is
roadmap 0.3 — reference roadmap.md:51), so this module is engine extension
surface (SURVEY.md §2.3 "ext" row), designed for 100 TB: every function is
row-local (no shuffle), so it scales linearly with input splits.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# deterministic small stopword sets (shared with the DuckDB oracles)
STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "on", "for")

LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "que", "los", "y"),
    "fr": ("le", "les", "et", "des", "une"),
    "zh": ("de5", "shi4", "le5", "zai4", "wo3"),  # romanized markers
}
LANG_PRIORITY = ("en", "de", "es", "fr", "zh")


def words(col: Column | str) -> Column:
    """Whitespace tokenization, lowercased — NON-EMPTY tokens only
    (regexp_extract_all of \\S+ runs, not split on \\s+): split keeps
    leading/trailing empty strings, so a doc differing only by a trailing
    newline would get a different token count, shingle set, and simhash
    than its trimmed twin — silently missed near-dups. DuckDB's 2-arg
    regexp_extract_all has identical semantics for the oracle side."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(r"\S+"), 0)


# Spark SQL form of the oracles' alphanumeric-run tokenizer (lowercased
# [a-z0-9]+ runs over a `text` column; 3-arg regexp_extract_all)
ALNUM_WORDS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"


def token_count(col: Column | str) -> Column:
    return F.size(words(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish regex token count: alphanumeric runs + isolated symbols."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"))


def stopword_count(col: Column | str, stops: tuple[str, ...] = STOPWORDS) -> Column:
    return F.size(F.filter(words(col), lambda w: w.isin(*stops)))


def mean_token_len(col: Column | str) -> Column:
    w = words(col)
    total = F.aggregate(F.transform(w, F.length), F.lit(0), lambda acc, x: acc + x)
    return total.cast("double") / F.size(w)


def quality_features(col: Column | str) -> list[Column]:
    """Length/stopword/char-class quality signals, one aliased column each.
    Ratios are NULL for empty/whitespace-only docs (words() yields no
    tokens) — guarded explicitly so both engines agree instead of relying
    on engine-specific divide-by-zero behavior."""
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c)
    return [
        F.length(c).alias("n_chars_calc"),
        n_tok.alias("n_tokens"),
        F.when(n_tok > 0, stopword_count(c).cast("double") / n_tok).alias(
            "stop_ratio"
        ),
        F.when(n_tok > 0, mean_token_len(c)).alias("mean_token_len"),
        F.when(
            F.length(c) > 0,
            F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("double")
            / F.length(c),
        ).alias("digit_ratio"),
        ((n_tok >= 10) & (n_tok <= 10000) & (stopword_count(c) > 0)).alias("quality_ok"),
    ]


def lang_scores(col: Column | str) -> list[Column]:
    w = words(col)
    return [
        F.size(F.filter(w, lambda x: x.isin(*markers))).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    ]


def _lang_win_conds(lang: str) -> tuple[list[str], list[str]]:
    """(strictly-beaten earlier langs, tied-or-beaten later langs) for the
    argmax win condition of `lang`."""
    i = LANG_PRIORITY.index(lang)
    return LANG_PRIORITY[:i], LANG_PRIORITY[i + 1 :]


def lang_predict() -> Column:
    """TRUE argmax over the score_* columns with fixed priority tie-break:
    the winner strictly beats every earlier-priority language AND at least
    ties every later one — exactly one language satisfies this, the
    maximum scorer (ties resolve to the earliest priority). The earlier
    form compared each language only against HIGHER-priority ones, so one
    German marker could out-vote five Spanish markers."""
    pred: Column = F.lit(LANG_PRIORITY[0])
    for lang in reversed(LANG_PRIORITY[1:]):
        earlier, later = _lang_win_conds(lang)
        cond = F.lit(True)
        for e in earlier:
            cond = cond & (F.col(f"score_{lang}") > F.col(f"score_{e}"))
        for lt in later:
            cond = cond & (F.col(f"score_{lang}") >= F.col(f"score_{lt}"))
        pred = F.when(cond, F.lit(lang)).otherwise(pred)
    return pred


def lang_predict_case_sql() -> str:
    """The identical argmax as lang_predict(), as an ANSI CASE expression
    over score_* columns — the single source both DuckDB oracle builders
    use, so Spark and oracle semantics cannot drift."""
    cases = []
    for lang in LANG_PRIORITY[1:]:
        earlier, later = _lang_win_conds(lang)
        conds = [f"score_{lang} > score_{e}" for e in earlier] + [
            f"score_{lang} >= score_{lt}" for lt in later
        ]
        cases.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    return "CASE " + " ".join(cases) + f" ELSE '{LANG_PRIORITY[0]}' END"


URL_RE = r"https?://\S+"
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"


def scrub(col: Column | str) -> list[Column]:
    """Boilerplate/PII scrub for corpus prep: strip URLs and email
    addresses, collapse whitespace runs. Returns [cleaned, n_urls,
    n_emails] — all single-pass regex Columns (JVM-side, codegen; both
    patterns are RE2-safe so a DuckDB oracle can mirror them when the
    corpus contains any)."""
    c = F.col(col) if isinstance(col, str) else col
    n_urls = F.size(F.regexp_extract_all(c, F.lit(URL_RE), F.lit(0)))
    no_urls = F.regexp_replace(c, URL_RE, " ")
    n_emails = F.size(F.regexp_extract_all(no_urls, F.lit(EMAIL_RE), F.lit(0)))
    cleaned = F.trim(
        F.regexp_replace(F.regexp_replace(no_urls, EMAIL_RE, " "), r"\s+", " ")
    )
    return [
        cleaned.alias("cleaned"),
        n_urls.alias("n_urls"),
        n_emails.alias("n_emails"),
    ]


def fingerprint(col: Column | str) -> Column:
    """Exact-dup fingerprint: md5 of whitespace-normalized lowercase text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.regexp_replace(F.lower(F.trim(c)), r"\s+", " "))


def rolling_fingerprint(col_name: str, k: int = 4, gram: int = 8) -> Column:
    """Winnowing-style document fingerprint: md5 of the k smallest hashes of
    all character `gram`-grams (rolling window). Robust to small edits —
    shared fingerprints ⇒ likely near-dups. Row-local; SQL-expressible."""
    # greatest(…, 1): Spark's sequence(1, 0) would run DESCENDING → [1, 0];
    # clamping to 1 yields one whole-text gram for short docs, matching the
    # oracle's generate_series(1, greatest(len-7, 1)).
    return F.expr(
        f"md5(array_join(slice(array_sort(transform("
        f"  sequence(1, greatest(length({col_name}) - {gram - 1}, 1)),"
        f"  i -> md5(substring({col_name}, i, {gram})))), 1, {k}), '|'))"
    )


def let1(val: Column, f) -> Column:
    """Expression-level `let`: evaluate `val` ONCE and bind it as the
    lambda variable of a single-element transform — Catalyst has no sharing
    inside one expression tree, so a subexpression referenced k times is
    otherwise evaluated k times (HOF arguments like zip_with/aggregate run
    interpreted, where there is no codegen CSE to save you)."""
    return F.element_at(F.transform(F.array(val), f), 1)


def shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (default 3): the unit for jaccard /
    MinHash dedup. Empty array for docs with fewer than n words.

    Implementation notes: built from n aligned `slice`s zipped together,
    NOT `transform(sequence, i -> element_at(w, i+j))` — in the latter `w`
    (the regex split) sits INSIDE the lambda and is re-evaluated on every
    element access, ~3·|w| regex splits per row; slices are HOF
    *arguments*, so the split runs n times per row total (~50× faster on
    real documents). The split itself is bound ONCE via let1 (round 11):
    the n+2 references below would otherwise each re-run
    regexp_extract_all over the text — measured 1.9× on the sf0.1
    gram-explode stage, value-identical."""

    def build(w: Column) -> Column:
        sz = F.size(w)
        m = sz - (n - 1)  # number of shingles
        grams = F.slice(w, 1, m)
        for j in range(1, n):
            grams = F.zip_with(
                grams,
                F.slice(w, j + 1, m),
                lambda a, b: F.concat(a, F.lit(" "), b),
            )
        return F.when(sz >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return let1(words(col), build)


def simhash_bits(col: Column | str, n_bits: int = 16) -> Column:
    """n_bits-wide SimHash over word tokens (n_bits ≤ 64): bit p is the sign
    of the sum over tokens of ±1 by the parity of hex digit p of md5(token)
    (bits 33-64 come from a second, salted md5). Row-local (aggregate over
    the token array — no explode, no shuffle); 1-2 md5 per token.

    Single-pass: ONE aggregate whose input is `transform(words, md5)` (md5
    computed once per token), whose accumulator is the n_bits running
    bit-sums, and whose `finish` lambda renders the bit string — lambda
    variables are bound values, so nothing is re-evaluated per bit. The
    naive form (one aggregate per bit) re-splits the text and re-hashes
    every token for every bit: n_bits× the work."""
    if not 1 <= n_bits <= 64:
        raise ValueError("two md5s supply 64 hex digits: 1 <= n_bits <= 64")
    w = words(col)
    if n_bits <= 32:
        mds = F.transform(w, F.md5)
    else:
        mds = F.transform(
            w, lambda x: F.concat(F.md5(x), F.md5(F.concat(F.lit("x:"), x)))
        )

    def merge(acc: Column, h: Column) -> Column:
        # acc[p] += parity(hex digit p of h); h is a bound md5 hex string
        return F.zip_with(
            acc,
            F.sequence(F.lit(1), F.lit(n_bits)),
            lambda a, p: a
            + (F.conv(F.substring(h, p, F.lit(1)), 16, 10).cast("int") % 2 * 2 - 1),
        )

    def finish(acc: Column) -> Column:
        return F.concat(
            *[
                F.when(F.element_at(acc, p) > 0, F.lit("1")).otherwise(F.lit("0"))
                for p in range(1, n_bits + 1)
            ]
        )

    return F.aggregate(mds, F.array_repeat(F.lit(0), n_bits), merge, finish)


def simhash16(col: Column | str) -> Column:
    """16-bit SimHash (see simhash_bits)."""
    return simhash_bits(col, 16)
