"""Text-analysis operators for training-data pipelines: language ID,
quality scoring, token counting, document fingerprinting.

All native Column expressions (regexp/split/length — whole-stage codegen);
no reference counterpart (AutoPrepAD's nearest string op is the char-class
pattern encoder, CategoricalPatterns.py:46-92, exposed in
functions.patterns). Every function is deterministic and SQL-portable so
the DuckDB oracle can replicate it exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from autoprepad_spark.operators.dedup import normalize_text

#: tiny deterministic stopword profiles for the n-gram language heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "as"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"],
    "fr": ["le", "la", "les", "et", "des", "est", "dans", "pour", "que", "une"],
    "es": ["el", "la", "los", "y", "de", "que", "en", "un", "por", "con"],
}


def whitespace_token_count(col: Column | str) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: count of word pieces + digits + punctuation
    runs (regexp_count — one pass, codegen'd)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.when(F.length(c) == 0, F.lit(0.0)).otherwise(
        F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]")) / F.length(c)
    )


def mean_word_length(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    words = F.split(normalize_text(c), " ")
    total = F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
    return F.when(F.size(words) == 0, F.lit(0.0)).otherwise(
        total.cast("double") / F.size(words)
    )


def quality_score(col: Column | str) -> Column:
    """Composite 0-1 quality heuristic: length band + low punctuation +
    plausible mean word length. Deterministic, SQL-portable."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    len_ok = F.when((n >= 50) & (n <= 10000), F.lit(1.0)).otherwise(
        F.when(n > 0, F.lit(0.5)).otherwise(F.lit(0.0))
    )
    punct_ok = F.when(punct_ratio(c) <= 0.2, F.lit(1.0)).otherwise(F.lit(0.0))
    mwl = mean_word_length(c)
    mwl_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.0))
    return (len_ok + punct_ok + mwl_ok) / F.lit(3.0)


def lang_scores(col: Column | str) -> list[Column]:
    """Per-language stopword-hit counts (whole-word regexp, one pass per
    language)."""
    c = F.col(col) if isinstance(col, str) else col
    out = []
    for lang, words in LANG_STOPWORDS.items():
        pat = r"\b(" + "|".join(words) + r")\b"
        out.append(F.regexp_count(F.lower(c), F.lit(pat)).alias(f"score_{lang}"))
    return out


def lang_id(col: Column | str) -> Column:
    """argmax language by stopword hits; 'und' (undetermined) when all 0."""
    scores = lang_scores(col)
    langs = list(LANG_STOPWORDS.keys())
    pairs = F.array(
        *[F.struct(s.alias("score"), F.lit(lang).alias("lang")) for s, lang in zip(scores, langs)]
    )
    # array_max on struct compares lexicographically (score first);
    # ties broken by lang name — deterministic.
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def doc_fingerprint(col: Column | str) -> Column:
    """Stable content fingerprint: md5 of the normalized text.

    md5 (not xxhash64) so heterogeneous engines agree — the fingerprint
    is a cross-system contract, not an internal shuffle key.
    """
    return F.md5(normalize_text(col))


def text_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass per-document text feature frame."""
    c = F.col(text_col)
    return df.select(
        "*",
        whitespace_token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_bpe_tokens"),
        F.round(punct_ratio(c), 6).alias("punct_ratio"),
        F.round(mean_word_length(c), 6).alias("mean_word_len"),
        F.round(quality_score(c), 6).alias("quality"),
        lang_id(c).alias("lang_pred"),
        doc_fingerprint(c).alias("fingerprint"),
    )


def top_k_terms(
    df: DataFrame,
    *,
    text_col: str = "text",
    group_col: str = "lang",
    k: int = 5,
    min_len: int = 1,
) -> DataFrame:
    """Per-group heavy hitters: the k most frequent terms with counts.

    (group, term, n, rank) — explode words -> one (group, term) hash agg
    (map-side combine collapses the explode before the shuffle) -> top-k
    via a window PARTITIONED by group (no global ordering anywhere; each
    group's ranking is an independent partition of the tiny aggregated
    frame). Ties broken by term ascending for determinism. The corpus
    analysis step of a training pipeline (vocabulary drift, boilerplate
    detection) at any scale: the shuffled data is |groups| x |terms|,
    never the corpus.
    """
    from pyspark.sql import Window as W

    from autoprepad_spark.operators.dedup import normalize_text

    words = df.select(
        F.col(group_col).alias("grp"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    ).filter(F.length("term") >= min_len)
    counts = words.groupBy("grp", "term").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("grp").orderBy(F.desc("n"), F.asc("term"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("grp").alias(group_col), "term", "n", "rank")
    )


def duplicate_line_fraction(col: Column | str) -> Column:
    """Fraction of a doc's lines that are repeats of an earlier line —
    the Gopher-style boilerplate signal (nav bars, cookie banners repeat
    verbatim). Pure array expressions: split on newline, drop blanks,
    compare distinct-count to count. 0.0 for docs with <= 1 line."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.filter(F.split(c, "\n"), lambda x: F.length(F.trim(x)) > 0)

    def body(ls: Column) -> Column:
        # bind the split/filter ONCE per row (lambda var reference) —
        # naming it in the expression tree re-evaluates it per mention
        n = F.size(ls)
        return F.when(
            n > 1, (n - F.size(F.array_distinct(ls))) / n.cast("double")
        ).otherwise(F.lit(0.0))

    return F.transform(F.array(lines), body)[0]


def top_ngram_fraction(col: Column | str, n: int = 2) -> Column:
    """Fraction of the doc's word-n-gram occurrences taken by its single
    most frequent n-gram — high values mean templated/repetitive text
    (the Gopher rep-n rule; n=2..4 in the paper). Expression-only: build
    the n-gram array, then aggregate max-count via a nested
    TRANSFORM/FILTER comparison — no explode, no shuffle, evaluated
    row-local. O(grams x distinct) per doc, i.e. bounded by the doc.
    0.0 for docs with <= n words.

    N-grams are compared by identity only, so they are represented as
    64-bit hashes of n consecutive word-hash longs (element_at, no
    per-gram string/array allocation — allocation inside interpreted
    lambdas caps multi-core scaling; see word_shingle_hashes)."""
    from autoprepad_spark.operators.dedup import normalize_text

    words = F.split(normalize_text(col if isinstance(col, str) else col), " ")

    def with_words(ws: Column) -> Column:
        nw = F.size(ws)
        wh = F.transform(ws, lambda w: F.xxhash64(w))
        return F.transform(F.array(wh), lambda whb: with_wh(whb, nw))[0]

    def with_wh(wh: Column, nw: Column) -> Column:
        # the nw > n guard must wrap the gram CONSTRUCTION: element_at
        # past the array end throws under ANSI (slice truncated quietly)
        idx = F.sequence(F.lit(1), F.greatest(nw - (n - 1), F.lit(1)))
        grams = F.when(
            nw > n,
            F.transform(
                idx,
                lambda i: F.xxhash64(
                    *[F.element_at(wh, i + j) for j in range(n)]
                ),
            ),
        ).otherwise(F.array().cast("array<bigint>"))

        def with_grams(bg: Column) -> Column:
            # bg is bound once; writing `grams` inside the counts
            # lambda would rebuild the n-gram array (and re-split the
            # text) per DISTINCT n-gram — O(n^2) regex evals per doc
            counts = F.transform(
                F.array_distinct(bg),
                lambda d: F.size(F.filter(bg, lambda b: b == d)),
            )
            return F.when(
                nw > n, F.array_max(counts) / F.size(bg).cast("double")
            ).otherwise(F.lit(0.0))

        return F.transform(F.array(grams), with_grams)[0]

    return F.transform(F.array(words), with_words)[0]


def dup_ngram_char_fraction(col: Column | str, n: int = 5) -> Column:
    """Fraction of the doc's characters attributable to REPEATED
    word-n-grams: for every distinct n-gram occurring more than once,
    its non-first occurrences contribute their character length; the
    total is divided by the doc's (normalized) character count and
    clipped at 1.0. This is the RedPajama/Dolma formulation of Gopher's
    dup-n-gram signal (n=5..10 in the paper) — overlap-agnostic,
    deterministic, and cheap enough to evaluate row-local.

    Expression-only, zero shuffle, O(grams^2) worst case per doc (same
    order as the distinct-scan it replaces). N-grams are compared by
    identity, so they live as 64-bit hashes of n consecutive word-hash
    longs, with a parallel per-gram char-length array (word lengths +
    n-1 separators) standing in for length(gram) — no per-gram string
    or array allocation (allocation inside interpreted lambdas caps
    multi-core scaling; see word_shingle_hashes). A position's n-gram
    counts as duplicated when an EARLIER position holds the same hash:
    that marks exactly the c-1 non-first occurrences of each distinct
    gram, so the char mass matches the (c-1)*length(gram) formulation.
    0.0 for docs with <= n words."""
    from autoprepad_spark.operators.dedup import normalize_text

    norm = normalize_text(col if isinstance(col, str) else col)

    def with_pair(bg: Column, bl: Column, nw: Column, nt: Column) -> Column:
        pos = F.sequence(F.lit(1), F.size(bg))
        repeat_chars = F.transform(
            pos,
            lambda p: F.when(
                F.exists(
                    F.sequence(F.lit(1), F.greatest(p - 1, F.lit(1))),
                    lambda q: (q < p)
                    & (F.element_at(bg, q) == F.element_at(bg, p)),
                ),
                F.element_at(bl, p).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )
        dup_chars = F.aggregate(
            repeat_chars, F.lit(0).cast("long"), lambda acc, x: acc + x
        )
        return F.when(
            nw > n,
            F.least(
                dup_chars / F.greatest(F.length(nt), F.lit(1)).cast("double"),
                F.lit(1.0),
            ),
        ).otherwise(F.lit(0.0))

    def with_arrs(wh: Column, wl: Column, nw: Column, nt: Column) -> Column:
        # the nw > n guard must wrap the gram CONSTRUCTION: element_at
        # past the array end throws under ANSI (slice truncated quietly)
        idx = F.sequence(F.lit(1), F.greatest(nw - (n - 1), F.lit(1)))
        bg = F.transform(
            idx,
            lambda i: F.xxhash64(*[F.element_at(wh, i + j) for j in range(n)]),
        )
        sep = F.lit(n - 1)
        bl = F.transform(
            idx,
            lambda i: sum(
                (F.element_at(wl, i + j) for j in range(n)), start=sep
            ),
        )
        return F.when(
            nw > n,
            F.transform(
                F.array(F.struct(bg.alias("g"), bl.alias("l"))),
                lambda s: with_pair(s["g"], s["l"], nw, nt),
            )[0],
        ).otherwise(F.lit(0.0))

    def with_text(nt: Column) -> Column:
        ws = F.split(nt, " ")

        def with_words(wsb: Column) -> Column:
            nw = F.size(wsb)
            wh = F.transform(wsb, lambda w: F.xxhash64(w))
            wl = F.transform(wsb, lambda w: F.length(w))
            return F.transform(
                F.array(F.struct(wh.alias("h"), wl.alias("l"))),
                lambda s: with_arrs(s["h"], s["l"], nw, nt),
            )[0]

        return F.transform(F.array(ws), with_words)[0]

    return F.transform(F.array(norm), with_text)[0]


def repetition_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc repetition signals — the Gopher quality-gate inputs a
    corpus pipeline thresholds on: dup-line fraction, top-2/3/4-gram
    occurrence fractions, and dup-5/10-gram character fractions.
    Row-local expressions only: scales as a pure map, no shuffle."""
    return df.select(
        "*",
        F.round(duplicate_line_fraction(text_col), 6).alias("dup_line_frac"),
        F.round(top_ngram_fraction(text_col, 2), 6).alias("top_bigram_frac"),
        F.round(top_ngram_fraction(text_col, 3), 6).alias("top_3gram_frac"),
        F.round(top_ngram_fraction(text_col, 4), 6).alias("top_4gram_frac"),
        F.round(dup_ngram_char_fraction(text_col, 5), 6).alias(
            "dup_5gram_char_frac"
        ),
        F.round(dup_ngram_char_fraction(text_col, 10), 6).alias(
            "dup_10gram_char_frac"
        ),
    )


#: C4's default page-level blocklist is the public "bad words" list; the
#: container has no copy, so ship a tiny deterministic placeholder and
#: take the real list as a parameter.
C4_DEFAULT_BADWORDS = ("lorem ipsum",)

_TERMINAL_RE = r'[.!?"”]\s*$'


def c4_clean_lines(col: Column | str, *, min_words: int = 3) -> Column:
    """C4 line-level cleaning (Raffel et al. 2020, arXiv:1910.10683
    §2.2): keep only lines that end in a terminal punctuation mark
    (., !, ?, closing quote), contain at least ``min_words`` words, and
    do not mention "javascript" (case-insensitive); surviving lines are
    trimmed and rejoined with a single newline.

    Pure row-local expression (split / filter / rejoin inside one
    whole-stage-codegen projection) — scales as a map, zero shuffle."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.transform(F.split(c, "\n"), lambda l: F.trim(l))

    def body(ls: Column) -> Column:
        kept = F.filter(
            ls,
            lambda l: l.rlike(_TERMINAL_RE)
            & (F.size(F.split(l, r"\s+")) >= min_words)
            & ~F.lower(l).contains("javascript"),
        )
        return F.array_join(kept, "\n")

    return F.transform(F.array(lines), body)[0]


def c4_page_filter(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = 3,
    min_sentences: int = 5,
    badwords: tuple[str, ...] = C4_DEFAULT_BADWORDS,
) -> DataFrame:
    """The C4 page pipeline: line cleaning (c4_clean_lines) + page-level
    drop rules — fewer than ``min_sentences`` sentences after cleaning,
    any blocklisted phrase, or a curly brace (code markup) anywhere on
    the ORIGINAL page. Emits per-page diagnostics instead of silently
    dropping, so a corpus pipeline can filter on ``c4_keep`` and audit
    the reasons:

      c4_text (cleaned), n_sentences, has_badword, has_brace, c4_keep

    Sentence count = terminal-punctuation marks in the cleaned text
    (C4's own sentence proxy). All row-local expressions; the operator
    is a pure map over the corpus — the 100-TB plan is scan → project →
    filter with every rule inside whole-stage codegen."""
    cleaned = c4_clean_lines(text_col, min_words=min_words)
    lowered = F.lower(F.col(text_col))
    has_bad = F.lit(False)
    for w in badwords:
        has_bad = has_bad | lowered.contains(w.lower())
    out = (
        df.withColumn("c4_text", cleaned)
        .withColumn(
            "n_sentences",
            F.size(
                F.filter(
                    F.split(F.col("c4_text"), r'\n|(?<=[.!?"”])\s+'),
                    lambda s: s.rlike(_TERMINAL_RE),
                )
            ),
        )
        .withColumn("has_badword", has_bad)
        .withColumn("has_brace", F.col(text_col).contains("{"))
    )
    return out.withColumn(
        "c4_keep",
        (F.col("n_sentences") >= min_sentences)
        & ~F.col("has_badword")
        & ~F.col("has_brace"),
    )


#: Gopher's "must contain 2 of these" stopword probe (Rae et al. 2021,
#: arXiv:2112.11446 Table A1).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_filter(
    df: DataFrame,
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The Gopher document-quality rules (Rae et al. 2021,
    arXiv:2112.11446 Table A1 — the gate MassiveWeb applies before the
    repetition signals in ``repetition_profile``): word-count band,
    mean-word-length band, symbol-to-word ratio (# and ellipsis),
    bullet-started and ellipsis-ended line fractions, fraction of words
    with an alphabetic character, and a can't-miss stopword probe.

    Emits one diagnostic column per rule plus ``gopher_keep`` so a
    pipeline can threshold AND audit. Every signal is a row-local
    whole-stage-codegen expression over ONE words array and ONE lines
    array bound per row (see the lambda-binding note on word_shingles)
    — the operator is a pure map: no shuffle, no UDF, scales linearly.
    """
    out = df.withColumn("_g", gopher_signals(text_col)).select(
        "*", "_g.*"
    ).drop("_g")
    keep = (
        (F.col("n_words") >= min_words)
        & (F.col("n_words") <= max_words)
        & (F.col("mean_word_len") >= min_mean_word_len)
        & (F.col("mean_word_len") <= max_mean_word_len)
        & (F.col("symbol_word_ratio") <= max_symbol_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("stopword_hits") >= min_stopword_hits)
    )
    return out.withColumn("gopher_keep", keep)


def gopher_signals(col: Column | str) -> Column:
    """The seven Gopher Table-A1 document signals as ONE struct-typed
    row-local expression (see gopher_quality_filter for semantics)."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.split(c, "\n")
    words = F.split(F.trim(c), r"\s+")

    def with_arrays(ws: Column, ls: Column) -> Column:
        n_words = F.when(F.length(F.trim(c)) == 0, F.lit(0)).otherwise(
            F.size(ws)
        )
        nw = F.greatest(n_words, F.lit(1)).cast("double")
        mean_wl = (
            F.aggregate(ws, F.lit(0), lambda a, w: a + F.length(w)) / nw
        )
        symbol_ratio = (
            F.regexp_count(c, F.lit(r"#|\.\.\.|…")) / nw
        )
        n_lines = F.greatest(F.size(ls), F.lit(1)).cast("double")
        bullet_frac = (
            F.size(F.filter(ls, lambda l: F.trim(l).rlike(r"^[-*•‣▪]")))
            / n_lines
        )
        ellipsis_frac = (
            F.size(F.filter(ls, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$")))
            / n_lines
        )
        alpha_frac = (
            F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))) / nw
        )
        stop_hits = F.size(
            F.filter(
                F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
                lambda s: F.array_contains(
                    F.transform(ws, lambda w: F.lower(w)), s
                ),
            )
        )
        return F.struct(
            n_words.alias("n_words"),
            F.round(mean_wl, 6).alias("mean_word_len"),
            F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
            F.round(bullet_frac, 6).alias("bullet_line_frac"),
            F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
            F.round(alpha_frac, 6).alias("alpha_word_frac"),
            stop_hits.alias("stopword_hits"),
        )

    # bind both arrays once per row; referencing `words`/`lines` directly
    # inside the signal lambdas would re-split the text per element in
    # the interpreted higher-order-function path (no CSE — see
    # word_shingles)
    return F.transform(
        F.array(F.struct(words.alias("w"), lines.alias("l"))),
        lambda p: with_arrays(p["w"], p["l"]),
    )[0]
