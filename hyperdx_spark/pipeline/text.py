"""Text analysis over document tables — language-ID, quality scoring, token
counting, fingerprinting.

Everything is built-in `pyspark.sql.functions` (JVM-side, whole-stage
codegen); no Python UDFs in any hot path. Tokenization uses the same
non-alphanumeric split as the search language's token search so full-text
semantics and corpus statistics agree.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_SPLIT = "[^a-zA-Z0-9]+"

# compact English stopword list used by the n-gram/stopword language heuristic
EN_STOPWORDS = (
    "the a an and or of to in is are was were be been it that this with as for"
    " on at by from not but had has have he she they we you i his her its"
).split()


def tokens(col: Column | str) -> Column:
    """Lower-cased alphanumeric tokens; empty strings filtered."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT), lambda t: t != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def char_classes(col: Column | str) -> dict[str, Column]:
    """Counts of character classes (quality-signal building blocks)."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    alpha = n - F.length(F.regexp_replace(c, "[A-Za-z]", ""))
    digit = n - F.length(F.regexp_replace(c, "[0-9]", ""))
    space = n - F.length(F.regexp_replace(c, r"\s", ""))
    punct = n - alpha - digit - space
    return {"n_chars": n, "alpha": alpha, "digit": digit, "space": space, "punct": punct}


def stopword_ratio(col: Column | str, stopwords: list[str] = EN_STOPWORDS) -> Column:
    """Fraction of tokens that are (English) stopwords."""
    toks = tokens(col)
    sw = F.array(*[F.lit(w) for w in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits.cast("double") / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def quality_score(col: Column | str) -> Column:
    """Heuristic document quality in [0, 1]: penalize very short docs, high
    punctuation/digit density and stopword-free (non-prose) text. The exact
    blend is a policy choice; each term is independently useful."""
    cc = char_classes(col)
    n = cc["n_chars"].cast("double")
    length_term = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(
        cc["punct"].cast("double") / F.greatest(n, F.lit(1.0)) * 5.0, F.lit(1.0)
    )
    digit_term = F.lit(1.0) - F.least(
        cc["digit"].cast("double") / F.greatest(n, F.lit(1.0)) * 5.0, F.lit(1.0)
    )
    sw_term = F.least(stopword_ratio(col) * F.lit(4.0), F.lit(1.0))
    return (length_term + punct_term + digit_term + sw_term) / F.lit(4.0)


# Character-trigram profiles (space-padded, lowercase) of the highest-
# frequency trigrams per language — the classic Cavnar-Trenkle n-gram
# category profile, abbreviated to a compact discriminative set per
# language (top trigrams from public frequency tables). Scoring is profile
# overlap weighted by document trigram counts.
LANG_TRIGRAM_PROFILES: dict[str, list[str]] = {
    "en": [" th", "the", "he ", "ing", "ng ", " an", "and", "nd ", " of",
           "of ", " to", "to ", "ed ", " in", "ion", "ent", "er ", "is ",
           " co", "at "],
    "de": ["er ", "en ", "ch ", "der", " de", "ein", "ich", "nde", " di",
           "die", "sch", "ung", " un", "und", "ie ", "ne ", "che", " ei",
           "er.", "ten"],
    "fr": [" de", "de ", "es ", "le ", " le", "ent", "nt ", "et ", " et",
           "la ", " la", "ion", "on ", "re ", " pa", "tio", " qu", "que",
           "les", " co"],
    "es": [" de", "de ", "os ", "la ", " la", "el ", " el", " co", "es ",
           "as ", " en", "en ", "ent", "aci", "ion", "cio", " es", "que",
           " qu", "ado"],
    "it": [" di", "di ", " de", "to ", "la ", " la", "re ", "one", "ion",
           "zio", " co", "che", " ch", "ell", "del", "ne ", "ato", " in",
           "ta ", "li "],
}


def detect_language_ngram(
    col: Column | str,
    *,
    profiles: dict[str, list[str]] | None = None,
    min_score: float = 0.02,
) -> Column:
    """Character-trigram language ID (Cavnar-Trenkle style): slide a
    3-char window over the lowercased space-collapsed text, count hits
    against each language's trigram profile, and pick the language with
    the highest hits-per-trigram rate (``unknown`` below ``min_score``).

    r16: evaluated in an Arrow worker.  The original built-in-function
    form (``transform``/``substring`` trigrams, then per language a
    ``filter`` + ``array_contains`` over a literal profile array) runs
    interpreted — |text| × |profile| × |languages| expression steps per
    document, measured 142 s for 5k docs at sf0.1, the single largest
    cost in the whole dedup gate query.  The worker counts trigram hits
    through one dict lookup per trigram (~100× less work) and reproduces
    the Column semantics exactly: same normalization (space trim, full
    lowercase, ASCII ``\\s+`` collapse — the Java regex class), same
    1-based length-3 substrings truncated at the tail (short tail grams
    inflate the denominator and can match nothing), integer hit counts ÷
    the same double total, ties broken like ``array_max`` over
    ``struct(score, lang)`` (score, then lexicographic lang), NULL →
    ``unknown``.  The pytest oracle and the ``langid`` gate part replay
    the assignment per document, so any divergence fails the gate.
    Non-ASCII boundary: Python ``str.lower`` vs the JVM's — identical on
    ASCII and all common scripts (the :func:`corpus_signals` contract).
    """
    profs = profiles or LANG_TRIGRAM_PROFILES
    c = F.col(col) if isinstance(col, str) else col
    langs = sorted(profs)
    gram_masks: dict = {}
    for li, lang in enumerate(langs):
        for t in profs[lang]:
            gram_masks[t] = gram_masks.get(t, 0) | (1 << li)
    ms = float(min_score)

    def _worker(texts):
        import pandas as pd

        ws = re.compile(r"\s+", re.ASCII)  # Java \s class
        out = []
        for t in texts:
            if t is None:
                out.append("unknown")
                continue
            norm = " " + ws.sub(" ", t.lower().strip(" ")) + " "
            n = len(norm)
            hi = max(n - 2, 1)
            counts = [0] * len(langs)
            for i in range(hi):
                m = gram_masks.get(norm[i:i + 3])
                if m:
                    li = 0
                    while m:
                        if m & 1:
                            counts[li] += 1
                        m >>= 1
                        li += 1
            total = float(hi)
            # array_max over struct(score, lang): score first, then the
            # lexicographically greatest language name on ties
            best_score, best_lang = max(
                (cnt / total, lang) for cnt, lang in zip(counts, langs)
            )
            out.append(
                best_lang if n > 2 and best_score >= ms else "unknown"
            )
        return pd.Series(out)

    return F.pandas_udf(_worker, "string")(c)


def fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of NFC-ish normalized text (lower, collapsed
    whitespace). Stable across engines — usable as an exact-dedup key."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    return F.md5(normalized)


# GPT-2-style byte-pair-encoding pre-tokenizer pattern (the public pattern
# from the GPT-2 release), minus its trailing-whitespace lookahead branch
# `\s+(?!\S)` — RE2 (DuckDB) has no lookahead, and dropping it only changes
# how runs of whitespace split, which the count below excludes anyway. The
# remaining branches are identical: contractions, optionally space-prefixed
# letter runs / digit runs / symbol runs, whitespace runs.
BPE_PRETOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[\p{L}]+| ?[\p{N}]+| ?[^\s\p{L}\p{N}]+|\s+"
)


def bpe_pretokens(col: Column | str) -> Column:
    """GPT-2-style pre-token pieces (whitespace-run matches excluded).

    This is the splitting stage every byte-level BPE tokenizer runs before
    its merge table; each piece maps to >= 1 BPE tokens, so `size()` of this
    is a lower-bound token-count proxy for LLM budget estimation (multiply
    by a corpus-calibrated ~1.1-1.4 for a merge-table-free estimate).
    Verified to split identically under Java regex (Spark) and RE2 (DuckDB),
    so pipelines keyed on it stay oracle-checkable."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_extract_all(c, F.lit(BPE_PRETOKEN_PATTERN), F.lit(0))
    # rlike \S, not trim() != '': trim strips only 0x20, so tab/newline runs
    # would otherwise count as tokens (newline-heavy text inflates budgets)
    return F.filter(pieces, lambda p: p.rlike(r"\S"))


def bpe_token_count(col: Column | str) -> Column:
    """Count of BPE pre-token pieces — the ``token counting (BPE-ish
    regex)`` tier next to the whitespace/alnum :func:`token_count`."""
    return F.size(bpe_pretokens(col))


# common entities worth decoding without an HTML parser dependency.
# ORDER MATTERS: '&amp;' must decode LAST or doubly-escaped markup like
# '&amp;lt;' would double-decode ('&amp;lt;' -> '&lt;' -> '<'), corrupting
# text that should render as a literal '&lt;'.
_HTML_ENTITIES = [
    ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
    ("&quot;", '"'), ("&#39;", "'"), ("&apos;", "'"), ("&amp;", "&"),
]


def strip_html(col: Column | str) -> Column:
    """Plain text from an HTML-ish document: drop script/style/comment
    blocks, remove tags, decode the common entities, collapse whitespace.
    A regexp_replace chain (JVM-side, zero shuffles) — the pragmatic
    web-corpus preprocessor, not a spec-complete HTML5 parser (CDATA and
    exotic entities pass through; documented divergence)."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.regexp_replace(c, r"(?is)<(script|style)\b[^>]*>.*?</\1\s*>", " ")
    out = F.regexp_replace(out, r"(?s)<!--.*?-->", " ")
    # block-level closers become newlines so line-based rules (C4, Gopher
    # bullet/ellipsis fractions) still see document structure
    out = F.regexp_replace(
        out, r"(?i)</(p|div|li|h[1-6]|tr|table|ul|ol|blockquote)\s*>|<br\s*/?>",
        "\n",
    )
    out = F.regexp_replace(out, r"(?s)<[^>]+>", " ")
    for ent, rep in _HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(rep))
    out = F.regexp_replace(out, r"[ \t]+", " ")
    out = F.regexp_replace(out, r" ?\n ?", "\n")
    # F.trim strips spaces only; block-closer newlines need the regex form
    return F.regexp_replace(out, r"^\s+|\s+$", "")


def link_density(col: Column | str) -> Column:
    """Fraction of the visible text that sits inside <a> anchors — the
    classic boilerplate/navigation signal (menus and footers are link-
    dense, body prose is not). Computed pre-strip on the raw HTML; 0.0
    for documents with no visible text."""
    c = F.col(col) if isinstance(col, str) else col
    anchors = F.regexp_extract_all(
        c, F.lit(r"(?is)<a\b[^>]*>(.*?)</a\s*>"), F.lit(1)
    )
    anchor_text = F.aggregate(
        F.transform(anchors, lambda a: F.length(strip_html(a))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    total = F.length(strip_html(c))
    return F.when(
        total > 0, anchor_text.cast("double") / total.cast("double")
    ).otherwise(F.lit(0.0))


def vocabulary(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_df_frac: float = 1.0,
    limit: int | None = None,
) -> DataFrame:
    """Corpus vocabulary: one row per token with ``tf`` (total occurrences)
    and ``df`` (documents containing it), filtered by ``min_df`` and
    ``max_df_frac`` (the stop-word band — the same df-capping idea
    ngram_jaccard's max_shingle_df uses for stop-shingles).

    Plan: one token explode, one (token, doc) pre-aggregate (map-side
    combinable), one token aggregate — two shuffles keyed by token, no
    driver-side state; ``limit`` caps via TakeOrderedAndProject (per-
    partition top-n, driver merges n rows). The standard vocabulary-build
    shape for tokenizer training / stop-list discovery over a corpus.
    """
    n_docs = df.count()
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t")
    )
    per_doc = toks.groupBy("t", "id").agg(F.count("*").alias("n"))
    vocab = per_doc.groupBy("t").agg(
        F.sum("n").alias("tf"), F.count("*").alias("df")
    )
    vocab = vocab.where(F.col("df") >= min_df)
    if max_df_frac < 1.0:
        vocab = vocab.where(F.col("df") <= int(max_df_frac * n_docs))
    vocab = vocab.withColumn(
        "idf",
        F.log((F.lit(float(n_docs)) + 1.0) / (F.col("df") + 1.0)) + 1.0,
    )
    if limit is not None:
        vocab = vocab.orderBy(F.desc("tf"), F.asc("t")).limit(limit)
    return vocab


def tfidf_top_terms(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    top: int = 5,
    min_df: int = 1,
    max_df_frac: float = 1.0,
) -> DataFrame:
    """Per-document top characteristic terms by tf-idf (smoothed idf,
    sklearn convention: ``ln((N+1)/(df+1)) + 1``). Returns
    (id, term, tf, tfidf, rank) — the keyword-extraction primitive for
    corpus exploration and topic-ish grouping.

    Shape: the vocabulary aggregate joins back to the per-(doc, token)
    counts on the token key (both sides partitioned by token — co-located
    join), then a per-doc rank window. No broadcast of anything
    corpus-sized."""
    from pyspark.sql import Window

    vocab = vocabulary(
        df, text_col=text_col, id_col=id_col,
        min_df=min_df, max_df_frac=max_df_frac,
    ).select("t", "idf")
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t")
    )
    per_doc = toks.groupBy("id", "t").agg(F.count("*").alias("tf"))
    scored = per_doc.join(vocab, on="t").withColumn(
        "tfidf", F.col("tf") * F.col("idf")
    )
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("t"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top)
        .select(F.col("id").alias(id_col), F.col("t").alias("term"),
                "tf", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# Corpus filters — Gopher quality rules (Rae et al. 2021, A1.1) and C4
# heuristics (Raffel et al. 2020, §2.2). Every rule is a built-in-function
# Column (JVM-side, DuckDB-replayable); thresholds default to the papers'.
# ---------------------------------------------------------------------------

GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def words(col: Column | str) -> Column:
    """Whitespace-delimited words (the unit Gopher/C4 rules count),
    as opposed to :func:`tokens` (alphanumeric runs)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def _nonempty_lines(c: Column) -> Column:
    return F.filter(F.split(c, "\n"), lambda l: F.trim(l) != "")


def gopher_flags(
    col: Column | str,
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    _staged: tuple[Column, Column, Column] | None = None,
) -> dict[str, Column]:
    """Per-rule booleans of the Gopher quality filter (Rae et al. 2021,
    Appendix A1.1) plus the ``pass`` conjunction. Returned keys:
    word_count, mean_word_len, symbol_ratio, bullet_lines, ellipsis_lines,
    alpha_words, stopwords, pass. (The paper's repetition rules live in
    :func:`repetition_stats` / :func:`duplicate_line_fraction`.)

    Single-expression form re-derives the word/line/token splits inside
    each rule (no CSE across Column references) — fine for a few rules;
    :func:`gopher_filter` stages the three arrays once per row first.
    """
    c = F.col(col) if isinstance(col, str) else col
    if _staged is not None:
        ws, lines_c, toks = _staged
    else:
        ws, lines_c, toks = words(c), _nonempty_lines(c), tokens(c)
    n = F.size(ws)
    nd = n.cast("double")
    total_len = F.aggregate(ws, F.lit(0), lambda a, x: a + F.length(x))
    mean_len = F.when(n > 0, total_len.cast("double") / nd).otherwise(F.lit(0.0))
    hash_cnt = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    ell_cnt = (
        F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = F.when(
        n > 0, (hash_cnt + ell_cnt).cast("double") / nd
    ).otherwise(F.lit(0.0))
    lines = lines_c
    nl = F.size(lines).cast("double")
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.ltrim(l).startswith("-")
            | F.ltrim(l).startswith("*")
            | F.ltrim(l).startswith("•"),
        )
    )
    ellipsis_l = F.size(
        F.filter(
            lines,
            lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"),
        )
    )
    bullet_frac = F.when(nl > 0, bullet / nl).otherwise(F.lit(0.0))
    ellipsis_frac = F.when(nl > 0, ellipsis_l / nl).otherwise(F.lit(0.0))
    alpha_frac = F.when(
        n > 0,
        F.size(F.filter(ws, lambda x: x.rlike("[A-Za-z]"))).cast("double") / nd,
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
            lambda s: F.array_contains(toks, s),
        )
    )
    flags = {
        "word_count": (n >= min_words) & (n <= max_words),
        "mean_word_len": (mean_len >= min_mean_word_len)
        & (mean_len <= max_mean_word_len),
        "symbol_ratio": symbol_ratio <= max_symbol_ratio,
        "bullet_lines": bullet_frac <= max_bullet_line_frac,
        "ellipsis_lines": ellipsis_frac <= max_ellipsis_line_frac,
        "alpha_words": alpha_frac >= min_alpha_word_frac,
        "stopwords": stop_hits >= min_stopword_hits,
    }
    acc = F.lit(True)
    for v in flags.values():
        acc = acc & v
    flags["pass"] = acc
    return flags


def gopher_filter(
    df: DataFrame, text_col: str = "text", *, keep_only: bool = False, **thresholds
) -> DataFrame:
    """Attach ``gopher_<rule>`` boolean columns + ``gopher_pass``;
    ``keep_only=True`` filters to passing documents (the paper's action).

    Stages the word/line/token arrays in one projection so every rule reads
    the same evaluated arrays instead of re-running the splits (the
    CollapseProject optimizer keeps the stage because the arrays are
    non-cheap and multiply referenced)."""
    staged = df.withColumns({
        "__gf_ws": words(text_col),
        "__gf_lines": _nonempty_lines(F.col(text_col)),
        "__gf_toks": tokens(text_col),
    })
    flags = gopher_flags(
        text_col,
        _staged=(F.col("__gf_ws"), F.col("__gf_lines"), F.col("__gf_toks")),
        **thresholds,
    )
    out = staged
    for name, colv in flags.items():
        out = out.withColumn(f"gopher_{name}", colv)
    out = out.drop("__gf_ws", "__gf_lines", "__gf_toks")
    return out.where(F.col("gopher_pass")) if keep_only else out


def c4_clean_lines(
    col: Column | str, *, min_words_per_line: int = 3
) -> Column:
    """C4's line filter (Raffel et al. 2020 §2.2): keep only lines that end
    in terminal punctuation and have at least ``min_words_per_line`` words;
    returns the retained lines re-joined with newlines."""
    c = F.col(col) if isinstance(col, str) else col
    kept = F.filter(
        _nonempty_lines(c),
        lambda l: (
            F.rtrim(l).endswith(".")
            | F.rtrim(l).endswith("!")
            | F.rtrim(l).endswith("?")
            | F.rtrim(l).endswith('"')
        )
        & (F.size(words(l)) >= min_words_per_line),
    )
    return F.array_join(kept, "\n")


def c4_flags(
    col: Column | str,
    *,
    min_sentences: int = 5,
    min_words_per_line: int = 3,
    _cleaned: Column | None = None,
) -> dict[str, Column]:
    """C4 page-level keep/drop booleans: no 'lorem ipsum', no curly brace
    (code), and >= min_sentences sentences AFTER the line filter; plus the
    ``keep`` conjunction. (C4's bad-word list and its 3-sentence-span dedup
    are policy/dedup-tier concerns — the hook is the same flag shape.)

    ``_cleaned`` lets :func:`c4_filter` pass its staged ``text_c4`` column
    so the line filter runs once per row (the gopher_flags _staged
    pattern); standalone use derives it inline."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = (
        _cleaned
        if _cleaned is not None
        else c4_clean_lines(c, min_words_per_line=min_words_per_line)
    )
    sentences = F.size(
        F.filter(F.split(cleaned, "[.!?]"), lambda s: F.trim(s) != "")
    )
    flags = {
        "no_lorem": ~F.lower(c).contains("lorem ipsum"),
        "no_brace": ~c.contains("{"),
        "min_sentences": sentences >= min_sentences,
    }
    flags["keep"] = flags["no_lorem"] & flags["no_brace"] & flags["min_sentences"]
    return flags


def c4_filter(
    df: DataFrame,
    text_col: str = "text",
    *,
    keep_only: bool = False,
    min_words_per_line: int = 3,
    min_sentences: int = 5,
) -> DataFrame:
    """Attach ``text_c4`` (line-filtered text) + ``c4_<rule>`` booleans +
    ``c4_keep``; ``keep_only=True`` drops failing pages."""
    out = df.withColumn(
        "text_c4", c4_clean_lines(text_col, min_words_per_line=min_words_per_line)
    )
    # one rule source (c4_flags); the staged text_c4 column keeps the line
    # filter to one evaluation per row
    flags = c4_flags(
        text_col, min_sentences=min_sentences,
        min_words_per_line=min_words_per_line, _cleaned=F.col("text_c4"),
    )
    for name, colv in flags.items():
        out = out.withColumn(f"c4_{name}", colv)
    return out.where(F.col("c4_keep")) if keep_only else out


def winnow_fingerprint_rows(
    df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 16,
) -> DataFrame:
    """(id, f) winnowing fingerprint rows (Schleimer, Wilkerson & Aiken,
    SIGMOD'03 — the MOSS local document-fingerprinting algorithm).

    Rolling k-gram hashes over the normalized text (lower, trim, whitespace
    runs collapsed); from every window of ``w`` consecutive gram hashes keep
    the minimum. Guarantee: any substring match of length >= w + k - 1
    between two documents contributes at least one SHARED fingerprint — so
    fingerprint-set overlap detects partial copies (quote/boilerplate reuse)
    that whole-document hashing misses and word-shingle Jaccard
    under-weights. Hashes are the md5-prefix 60-bit integers used across the
    pipeline (`sampling.py` keys) — bit-identical in DuckDB, so winnow joins
    stay inside the oracle gate. Empty/whitespace-only text yields no rows.

    Plan shape: one projection evaluates the k-gram md5 hashes ONCE per
    document (``posexplode`` of the gram array), then the w-window minimum
    slides via a codegen'd frame aggregate
    (``min(h) OVER (PARTITION BY id ORDER BY pos ROWS w-1 FOLLOWING)``) and
    window starts beyond ``max(m-w+1, 1)`` are dropped. Everything after
    the explode is whole-stage codegen; the per-document shuffle+sort
    partitions by id, so documents process independently at any corpus
    size. (A single-expression Column form re-evaluates the gram array per
    window — O(len^2) md5 calls — because interpreted HOFs get no common
    subexpression elimination.)
    """
    from pyspark.sql import Window

    c = F.col(text_col)
    norm = F.regexp_replace(F.trim(F.lower(c)), r"\s+", " ")
    # gram hashes, evaluated once per document at the explode
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - F.lit(k - 1), F.lit(1))),
        lambda i: F.conv(
            F.substring(F.md5(F.substring(norm, i, k)), 1, 15), 16, 10
        ).cast("long"),
    )
    rows = (
        df.where(F.length(norm) > 0)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(grams).alias("pos", "h"),
        )
    )
    win = (
        Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    )
    cnt = Window.partitionBy("id")
    return (
        rows.withColumn("f", F.min("h").over(win))
        .withColumn("__m", F.count("*").over(cnt))
        .where(F.col("pos") <= F.greatest(F.col("__m") - F.lit(w), F.lit(0)))
        .select("id", "f")
        .distinct()
    )


def analyze(
    df: DataFrame, text_col: str = "text", lang_threshold: float = 0.08
) -> DataFrame:
    """Text-analysis projection: token stats, char classes, quality,
    language, fingerprint.

    Staged so each expensive primitive — the tokenize regex, the stopword
    scan, each char-class regex — is evaluated ONCE per row and shared
    (naively composing the per-column functions re-runs the tokenizer up to
    7× per row; Catalyst keeps these projections apart because the
    intermediate columns are referenced repeatedly)."""
    cc = char_classes(text_col)
    sw = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    staged = df.select(
        "*",
        tokens(text_col).alias("__toks"),
        cc["n_chars"].alias("__n_chars"),
        cc["punct"].alias("n_punct"),
        cc["digit"].alias("n_digit"),
    ).select(
        "*",
        F.size("__toks").alias("n_tokens"),
        F.size(F.array_distinct("__toks")).alias("n_unique_tokens"),
        F.size(F.filter("__toks", lambda t: F.array_contains(sw, t))).alias("__sw_hits"),
    )
    n = F.col("__n_chars").cast("double")
    ratio = F.when(
        F.col("n_tokens") > 0,
        F.col("__sw_hits").cast("double") / F.col("n_tokens"),
    ).otherwise(F.lit(0.0))
    length_term = F.least(n / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(
        F.col("n_punct").cast("double") / F.greatest(n, F.lit(1.0)) * 5.0, F.lit(1.0)
    )
    digit_term = F.lit(1.0) - F.least(
        F.col("n_digit").cast("double") / F.greatest(n, F.lit(1.0)) * 5.0, F.lit(1.0)
    )
    staged = staged.withColumn("stopword_ratio", ratio)
    sw_term = F.least(F.col("stopword_ratio") * F.lit(4.0), F.lit(1.0))
    return (
        staged.withColumn(
            "quality", (length_term + punct_term + digit_term + sw_term) / F.lit(4.0)
        )
        .withColumn(
            "lang_pred",
            F.when(F.col("stopword_ratio") >= lang_threshold, F.lit("en")).otherwise(
                F.lit("unknown")
            ),
        )
        .withColumn("fp", fingerprint(text_col))
        .drop("__toks", "__n_chars", "__sw_hits")
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules; Rae et al. 2021, table A1)
# ---------------------------------------------------------------------------


def duplicate_line_fraction(col: Column | str) -> Column:
    """Fraction of a document's non-empty lines that are duplicates of an
    earlier line (row-local array math — no shuffle)."""
    c = F.col(col) if isinstance(col, str) else col
    lines = F.filter(F.split(c, "\n"), lambda l: F.trim(l) != "")
    n = F.size(lines)
    return F.when(
        n > 0,
        (n - F.size(F.array_distinct(lines))).cast("double") / n,
    ).otherwise(F.lit(0.0))


def repetition_stats(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 2,
) -> DataFrame:
    """Per-document repetition metrics: duplicate-line fraction plus the
    character fraction covered by the single most frequent word n-gram
    (the Gopher "top n-gram char fraction" rule — high values flag
    boilerplate/spam).

    Shape: one explode + one (doc, gram) aggregate + one doc aggregate —
    two shuffles keyed by doc id, posting lists bounded per document, so
    the plan is the same at 5k docs and at 100 TB.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("__text"),
        F.length(text_col).alias("__chars"),
        duplicate_line_fraction(text_col).alias("dup_line_frac"),
    )
    toks = base.withColumn("__toks", tokens("__text"))
    grams = toks.select(
        "id",
        "__chars",
        "dup_line_frac",
        F.explode(
            F.when(
                F.size("__toks") >= ngram,
                F.transform(
                    F.sequence(F.lit(0), F.size("__toks") - ngram),
                    lambda i: F.concat_ws(
                        " ", F.slice(F.col("__toks"), i + 1, ngram)
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("gram"),
    )
    counts = grams.groupBy("id", "__chars", "dup_line_frac", "gram").agg(
        F.count("*").alias("__n")
    )
    top = counts.groupBy("id", "__chars", "dup_line_frac").agg(
        F.max_by(F.struct(F.col("__n"), F.col("gram")), F.struct(F.col("__n"), F.col("gram"))).alias("__top")
    )
    frac = F.when(
        F.col("__chars") > 0,
        (F.col("__top.__n") * F.length("__top.gram")).cast("double")
        / F.col("__chars"),
    ).otherwise(F.lit(0.0))
    out = top.select(
        F.col("id").alias(id_col),
        "dup_line_frac",
        F.col("__top.gram").alias("top_ngram"),
        F.col("__top.__n").alias("top_ngram_count"),
        F.least(frac, F.lit(1.0)).alias("top_ngram_char_frac"),
    )
    # documents with fewer than `ngram` tokens have no grams at all — they
    # drop out of the aggregate; re-attach them with zero metrics
    missing = base.join(
        out.select(F.col(id_col).alias("id")), on="id", how="left_anti"
    ).select(
        F.col("id").alias(id_col),
        "dup_line_frac",
        F.lit(None).cast("string").alias("top_ngram"),
        F.lit(0).cast("long").alias("top_ngram_count"),
        F.lit(0.0).alias("top_ngram_char_frac"),
    )
    return out.unionByName(missing)


GOPHER_REPETITION_SCHEMA = (
    "dup_line_frac double, dup_para_frac double, "
    "dup_line_char_frac double, dup_para_char_frac double, "
    "top_2gram_char_frac double, top_3gram_char_frac double, "
    "top_4gram_char_frac double, "
    "dup_5gram_char_frac double, dup_6gram_char_frac double, "
    "dup_7gram_char_frac double, dup_8gram_char_frac double, "
    "dup_9gram_char_frac double, dup_10gram_char_frac double, "
    "repetition_pass boolean"
)

# Rae et al. 2021 (Gopher), Table A1 "repetition" thresholds: a document
# fails when ANY signal exceeds its cap
GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_para_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def gopher_repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    *,
    out_col: str = "__rep",
    chunk_chars: int | None = None,
) -> DataFrame:
    """The full Gopher repetition-filter family (Rae'21 A1.1) in one
    Arrow-batched pass — the 13 signals every large-corpus pipeline cuts
    boilerplate/spam with, plus the paper-threshold conjunction:

    * ``dup_line_frac`` / ``dup_para_frac`` — fraction of non-empty lines /
      paragraphs (split on ``\\n`` / ``\\n\\n``, space-stripped) that repeat
      an earlier element;
    * ``dup_line_char_frac`` / ``dup_para_char_frac`` — characters in the
      repeated occurrences (every occurrence after the first of each
      distinct element) over the characters of all elements;
    * ``top_{2,3,4}gram_char_frac`` — characters covered by the single most
      frequent word n-gram (count × gram char length, gram length = word
      chars + n-1 separators; ties break to the lexicographically smallest
      gram) over the document length — 0.0 unless the top gram occurs at
      least twice (a document of all-unique grams has no repetition; the
      Dolma convention);
    * ``dup_{5..10}gram_char_frac`` — characters of words covered by ANY
      occurrence of an n-gram that appears more than once (overlapping
      occurrences counted once) over the document length.

    Words are maximal non-whitespace runs (ASCII ``\\s``, the engine's Java
    convention). NULL text yields all-zero signals with
    ``repetition_pass = false`` (conservative, same style as
    :func:`corpus_signals`' Gopher conjunction). Definitions follow the
    common open reimplementation of the paper's Table A1 (Dolma/datatrove
    formulation); the pytest oracle re-derives every signal independently.

    Scale shape: row-local (no shuffle) pandas UDF; Arrow batches are split
    into ``chunk_chars`` code-point chunks (default ``_CHUNK_CHAR_BUDGET``)
    so peak worker memory is byte-bounded exactly like
    :func:`corpus_signals`. Per-doc work is O(words × 6) dict counting —
    C-level, no quadratic scans.
    """
    sig = _gopher_repetition_udf(chunk_chars)
    return df.withColumn(out_col, sig(F.col(text_col)))


_WS_SPLIT = re.compile(r"\s+", re.ASCII)  # Java \s = ASCII whitespace class


def _gopher_repetition_udf(chunk_chars: int | None = None):
    budget = _CHUNK_CHAR_BUDGET if chunk_chars is None else int(chunk_chars)
    thresholds = GOPHER_REPETITION_THRESHOLDS

    def _one(t):
        if t is None:
            return (0.0,) * 13 + (False,)
        n_chars = len(t)

        def dup_fracs(parts):
            parts = [p for p in parts if p.strip(" ")]
            if not parts:
                return 0.0, 0.0
            seen = set()
            dup_n = 0
            dup_c = 0
            total_c = 0
            for p in parts:
                total_c += len(p)
                if p in seen:
                    dup_n += 1
                    dup_c += len(p)
                else:
                    seen.add(p)
            return dup_n / len(parts), (dup_c / total_c if total_c else 0.0)

        dlf, dlcf = dup_fracs(t.split("\n"))
        dpf, dpcf = dup_fracs(t.split("\n\n"))

        # grams are counted as id-sequences, never joined strings (the
        # joined-string form churned ~10 GB of strings per 1k-doc batch of
        # 100 KB docs); the join is materialized only for the winning
        # top-gram candidates. Two exact-identical paths: small docs use
        # tuple-keyed dict counting (numpy call overhead dominates there —
        # the r5 finding); large docs map words to dense ids once, then
        # grow gram ids incrementally — pack (prev-gram id, next word id)
        # into one int64 and np.unique it per level (collision-free: both
        # halves are dense ids < 2^31, no hashing) — so all nine n values
        # cost nine int64 sorts instead of nine python passes. Both paths
        # produce the same exact integers and apply the same float ops, so
        # results are bit-identical (hypothesis-fuzzed across the 128-word
        # cutover).
        words = [w for w in _WS_SPLIT.split(t) if w]  # ASCII \s, Java conv.
        wlens = [len(w) for w in words]
        nw = len(words)
        use_np = nw >= 128
        pos_cnts: dict = {}  # n -> per-start occurrence count of its gram
        if use_np and n_chars > 0:
            import numpy as np

            word_id: dict = {}
            ids = np.empty(nw, np.int64)
            for i, w in enumerate(words):
                ids[i] = word_id.setdefault(w, len(word_id))
            wlens_np = np.fromiter(wlens, np.int64, nw)
            g = ids  # dense ids of 1-grams
            for n in range(2, 11):
                if nw < n:
                    break
                key = (g[:-1] << 32) | ids[n - 1:]
                _, inv, cnt = np.unique(
                    key, return_inverse=True, return_counts=True
                )
                g = inv.astype(np.int64)  # dense ids of n-grams
                pos_cnts[n] = cnt[inv]
        elif n_chars > 0:
            for n in range(2, 11):
                if nw < n:
                    break
                counts: dict = {}
                for i in range(nw - n + 1):
                    gt = tuple(words[i:i + n])
                    counts[gt] = counts.get(gt, 0) + 1
                pos_cnts[n] = [
                    counts[tuple(words[i:i + n])] for i in range(nw - n + 1)
                ]

        tops = []
        for n in (2, 3, 4):
            pos_cnt = pos_cnts.get(n)
            if pos_cnt is None:
                tops.append(0.0)
                continue
            mx = int(max(pos_cnt))
            if mx < 2:  # the top gram must actually REPEAT (Dolma conv.;
                tops.append(0.0)  # else short unique docs fail trivially)
                continue
            # materialize strings only for the max-count candidates
            if use_np:
                import numpy as np

                idxs = np.flatnonzero(np.asarray(pos_cnt) == mx)
            else:
                idxs = [i for i, c in enumerate(pos_cnt) if c == mx]
            top_g = min(" ".join(words[i:i + n]) for i in idxs)
            frac = mx * len(top_g) / n_chars
            tops.append(min(frac, 1.0))
        dups = []
        for n in (5, 6, 7, 8, 9, 10):
            pos_cnt = pos_cnts.get(n)
            if pos_cnt is None:
                dups.append(0.0)
                continue
            if use_np:
                import numpy as np

                starts = np.flatnonzero(np.asarray(pos_cnt) >= 2)
                d = (
                    np.bincount(starts, minlength=nw + 1)
                    - np.bincount(starts + n, minlength=nw + 1)
                )
                covered_mask = np.cumsum(d[:nw]) > 0
                dup_chars = int(wlens_np[covered_mask].sum())
            else:
                covered = bytearray(nw)
                for i, c in enumerate(pos_cnt):
                    if c >= 2:
                        covered[i:i + n] = b"\x01" * n
                dup_chars = sum(wl for wl, m in zip(wlens, covered) if m)
            dups.append(min(dup_chars / n_chars, 1.0))

        vals = (dlf, dpf, dlcf, dpcf, *tops, *dups)
        keys = list(thresholds)
        ok = all(v <= thresholds[k] for v, k in zip(vals, keys, strict=True))
        return (*vals, bool(ok))

    def _worker(texts):
        import pandas as pd

        tlist = texts.tolist()
        char_lens = [len(t) if t is not None else 0 for t in tlist]
        rows = []
        for s, e in _chunk_bounds(char_lens, budget):
            rows.extend(_one(t) for t in tlist[s:e])
        return pd.DataFrame(
            rows,
            columns=list(GOPHER_REPETITION_THRESHOLDS) + ["repetition_pass"],
        )

    return F.pandas_udf(_worker, GOPHER_REPETITION_SCHEMA)


def gopher_repetition_filter(
    df: DataFrame, text_col: str = "text", *, keep_only: bool = True
) -> DataFrame:
    """Apply the Gopher repetition cut (Rae'21 A1.1 paper thresholds):
    keep documents whose 13 repetition signals all sit under their caps.
    ``keep_only=False`` returns every row with the signals attached."""
    out = gopher_repetition_signals(df, text_col)
    if keep_only:
        return out.where(F.col("__rep.repetition_pass")).drop("__rep")
    return out


# ---------------------------------------------------------------------------
# PII redaction (standard pretraining preprocessing)
# ---------------------------------------------------------------------------

# conservative, high-precision patterns (Java regex; no lookaround so the
# same patterns run under RE2-style engines too). Insertion order IS the
# application order: the most specific shapes first — card before phone, or
# the phone pattern would eat a 16-digit card number's prefix
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "card": r"\b(?:\d[ -]?){13,16}\b",
    # phone requires a real telephone shape — either E.164 (+ and 8-15
    # digits) or a 3-3-4 grouping with optional country code / parens.
    # A bare digit-run pattern (\+?\d[\d .-]{7,14}\d) matches ISO
    # timestamps ('2024-01-02 03:..') and other benign numerics that
    # log-style corpora are full of, so those shapes are deliberately
    # NOT matched.
    "phone": r"(?:\+\d{1,3}[ .-]?)?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}\b|\+\d{8,15}\b",
}


def redact_pii(
    col: Column | str, *, kinds: list[str] | None = None
) -> Column:
    """Replace matches of each PII pattern with ``<KIND>`` tokens —
    row-local ``regexp_replace`` chain, JVM-side, zero shuffles. Patterns
    apply in PII_PATTERNS insertion order (most specific first)."""
    c = F.col(col) if isinstance(col, str) else col
    for kind in kinds or list(PII_PATTERNS):
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"<{kind.upper()}>")
    return c


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-kind match counts (audit metric for redaction runs)."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        kind: F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        for kind, pat in PII_PATTERNS.items()
    }


def char_entropy(col: Column | str, *, arrow: bool = False) -> Column:
    """Shannon entropy (bits/char) of the document's character distribution
    — a cheap perplexity proxy: very low entropy flags repetitive junk,
    very high flags random/binary content. Row-local and O(n log n): one
    ``array_sort`` then a single run-length fold, using the identity
    H = log2(n) - (1/n) * sum_c count(c) * log2(count(c)).
    (A per-distinct-char refilter would be O(distinct x n) — ~1e8 element
    ops for a 1 MB doc — so the histogram is folded in one pass instead.)

    ``arrow=True`` switches to a vectorized Pandas-UDF path (numpy
    ``unique(return_counts=True)`` over UTF-32 code points, ~3 ms per 1 MB
    doc vs ~1 s for the interpreted Catalyst fold). Same values to 1e-9.
    Use it for large-document corpora; the default Column expression keeps
    short-document paths JVM-only and SQL-translatable."""
    if arrow:
        return _char_entropy_arrow(
            F.col(col) if isinstance(col, str) else col
        )
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    chars = F.array_sort(F.split(c, ""))
    n = F.size(chars).cast("double")

    def run_term(run: Column) -> Column:
        return F.when(run > 0, run * F.log2(run)).otherwise(F.lit(0.0))

    def merge(acc: Column, x: Column) -> Column:
        same = acc["prev"].isNotNull() & (acc["prev"] == x)
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1).otherwise(F.lit(1.0)).alias("run"),
            F.when(same, acc["acc"])
            .otherwise(acc["acc"] + run_term(acc["run"]))
            .alias("acc"),
        )

    zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0.0).alias("run"),
        F.lit(0.0).alias("acc"),
    )
    sum_clogc = F.aggregate(
        chars, zero, merge, lambda acc: acc["acc"] + run_term(acc["run"])
    )
    ent = F.log2(n) - sum_clogc / n
    return F.when(n > 0, ent).otherwise(F.lit(0.0))


def _char_entropy_arrow(c: Column) -> Column:
    """Arrow-batched entropy worker: np.unique over UTF-32 code points.

    C-speed sort per document; lowercase/NULL semantics match the
    Column-expression path exactly — NULL and empty text both yield 0.0
    (the Column form's `when(n > 0, ...).otherwise(0.0)` sends NULL to the
    otherwise branch, and the DuckDB oracle's CASE does the same, so the
    aggregate avg() sees identical row sets in all three).
    The pandas_udf is built lazily — decorating at import time would
    require an active SparkSession just to parse the return-type DDL."""

    def _worker(texts):  # pd.Series -> pd.Series
        import numpy as np

        def one(t):
            if t is None or not t:
                return 0.0
            cp = np.frombuffer(t.lower().encode("utf-32-le"), dtype=np.uint32)
            _, counts = np.unique(cp, return_counts=True)
            p = counts / counts.sum()
            return float(-(p * np.log2(p)).sum())

        return texts.map(one)

    return F.pandas_udf(_worker, "double")(c)


# ---------------------------------------------------------------------------
# Fused corpus signal pass (one Arrow worker, one text decode per doc)
# ---------------------------------------------------------------------------

CORPUS_SIGNALS_SCHEMA = (
    "n_tokens int, stopword_ratio double, quality double, lang_pred string,"
    " char_entropy double, dup_line_frac double,"
    " gopher_pass boolean, c4_keep boolean"
)


def corpus_signals(
    df: DataFrame,
    text_col: str = "text",
    *,
    lang_threshold: float = 0.08,
    out_col: str = "__sig",
    min_parallelism: int | None = None,
    chunk_chars: int | None = None,
) -> DataFrame:
    """All eight per-document corpus signals in ONE Arrow-batched pass:
    token count, stopword ratio, quality score, language label
    (:func:`analyze`), character entropy (:func:`char_entropy`),
    duplicate-line fraction (:func:`duplicate_line_fraction`), the Gopher
    quality conjunction (:func:`gopher_flags`, paper thresholds) and the C4
    page-keep flag (:func:`c4_flags`). Appends ``out_col`` as a struct
    (CORPUS_SIGNALS_SCHEMA); read fields with ``F.col(out_col + ".quality")``
    or flatten with ``.select("*", out_col + ".*")``.

    Why it exists: composing the individual Column operators re-derives the
    token / word / line arrays per signal family, and Catalyst's
    higher-order functions evaluate interpreted (no whole-stage codegen),
    so the composed 12-signal projection costs ~5× this worker per byte
    (measured; the round-4 `q_text_stats` profile). Here each document is
    decoded once, the char-class histogram and entropy come from one numpy
    code-point array, and the token/word/line splits run once through
    C-compiled regex — the `_char_entropy_arrow` pattern widened to the
    whole signal family.

    Exact-match contract: every signal reproduces the corresponding Column
    operator bit-for-bit on ASCII text (IEEE ops in the same order, Java-\\s
    via re.ASCII, Spark's space-only trim via ``.strip(' ')``); the pytest
    suite asserts equality signal-by-signal against the composed operators.
    Divergence boundary: non-ASCII case folding uses Python's str.lower()
    (full Unicode simple case map) vs the JVM's — identical on ASCII and on
    all common scripts, may differ on locale-special forms (dotted-İ).
    NULL text yields the composed operators' NULL row (ANSI-off session) —
    n_tokens -1, stopword_ratio 0.0, quality 0.25, lang "unknown",
    entropy 0.0, dup_line_frac 0.0, gopher_pass false, c4_keep false —
    NOT an all-NULL struct, so aggregates over the signal fields see the
    same row set as the composed Columns (ADVICE r5).

    ``min_parallelism``: repartition the input up to this width when the
    scan delivers fewer partitions (pass
    ``spark.sparkContext.defaultParallelism``). Unlike codegen'd column
    expressions, the worker's throughput is bounded by task count — a
    single-row-group parquet file otherwise funnels the whole corpus
    through one or two Python workers. At real corpus scale the scan
    already has far more tasks than cores, so the rule is a no-op there;
    it only rescues the small-file case.

    ``chunk_chars``: byte-bound on the worker's vectorized tier (VERDICT
    r7 #1). Arrow caps batches by record count only, so the per-batch
    transients (code-point arrays, position maps, joined-string copies —
    ~25-30 B/char) would otherwise scale with TOTAL batch characters: a
    10k-record batch of 100 KB documents is ~1 B chars ≈ multi-GB in one
    Python worker. The worker splits each Arrow batch into contiguous
    chunks of at most this many code points (default
    ``_CHUNK_CHAR_BUDGET`` = 4 M ≈ ~200 MB peak transients, measured) and
    processes them independently — per-doc signals are chunk-invariant,
    so results are bit-identical at any chunk size.
    """
    if min_parallelism and not df.isStreaming:
        from hyperdx_spark.io import num_partitions

        n = num_partitions(df)  # None under Spark Connect -> leave as-is
        if n is not None and n < min_parallelism:
            df = df.repartition(min_parallelism)
    sig = _corpus_signals_udf(float(lang_threshold), chunk_chars)
    c = F.col(text_col)
    return df.withColumn(out_col, sig(c))


_CHUNK_CHAR_BUDGET = 4_000_000
"""Max summed code points per vectorized sub-batch inside the corpus-signal
worker. Arrow caps batches by RECORD count (default 10k) with no byte cap,
so a batch of 100 KB web documents is ~1 B chars — and the worker's
transients (uint32 code-point arrays, int32 position maps, joined-string
copies) are proportional to total batch characters, not records. Chunking
by cumulative chars bounds peak transient allocation to ~15 MB of fixed
code-point lookup tables + ~45 B x budget (~200 MB at 4 M chars, measured
via tracemalloc) regardless of document size (VERDICT r7 #1)."""

_ENT_TABLE_MAX_BYTES = 256 << 20
"""Byte cap on the entropy fast path's (docs x distinct-chars) int64
bincount table; batches whose table would exceed it take the sort-based
fallback (identical counts, no dense table)."""


def _chunk_bounds(lens, budget):
    """Contiguous [start, end) spans over ``lens`` whose summed values stay
    <= ``budget``; a single over-budget document gets its own span. Pure
    function of the per-doc char counts — deterministic, unit-testable."""
    bounds = []
    start, acc = 0, 0
    for i, n in enumerate(lens):
        if i > start and acc + n > budget:
            bounds.append((start, i))
            start, acc = i, 0
        acc += n
    if start < len(lens):
        bounds.append((start, len(lens)))
    return bounds


def _corpus_signals_udf(lang_threshold: float, chunk_chars: int | None = None):
    """Build the pandas_udf lazily (needs an active session to parse the
    return DDL — the `_char_entropy_arrow` convention)."""
    budget = _CHUNK_CHAR_BUDGET if chunk_chars is None else int(chunk_chars)

    def _worker_chunk(tlist):  # list[str | None] -> list[tuple]
        import re

        import numpy as np

        tok_split = re.compile(r"[^a-zA-Z0-9]+")
        ws_split = re.compile(r"\s+", re.ASCII)  # Java \s = ASCII class
        sent_split = re.compile(r"[.!?]")
        sw_set = frozenset(EN_STOPWORDS)
        gopher_sw = GOPHER_STOPWORDS

        # ------------------------------------------------------------------
        # Batch tier (VERDICT r5 #4): char-class histograms, entropy run-
        # lengths, and the Gopher word statistics are computed ONCE over an
        # offsets-concatenated code-point array for the whole Arrow batch —
        # per-doc numpy calls on ~300-char documents were dominated by call
        # overhead (measured ~60% of the worker). Every quantity that feeds
        # a float expression is an exact integer here, so the per-doc
        # assembly below reproduces the previous per-doc op order (and the
        # composed Column operators) bit for bit. Per-doc signals only —
        # the caller splits the Arrow batch into char-budgeted chunks, so
        # results are chunk-invariant and peak memory is byte-bounded.
        # ------------------------------------------------------------------
        nd = len(tlist)
        safe = [t if t is not None else "" for t in tlist]
        lowers = [t.lower() for t in safe]
        lens = np.fromiter((len(t) for t in safe), np.int64, nd)
        off = np.zeros(nd + 1, np.int64)
        np.cumsum(lens, out=off[1:])
        cp = np.frombuffer("".join(safe).encode("utf-32-le"), dtype=np.uint32)
        # int32 position map: chunking bounds total chars (and hence nd)
        # far below 2^31, and int32 halves the largest transient
        doc_of_pos = np.repeat(np.arange(nd, dtype=np.int32), lens)

        # char classes in ONE bincount: classify every code point through a
        # 1.1 MB lookup table (0 other, 1 alpha, 2 digit, 3 \s, 4 '#',
        # 5 '.'), then count (doc, class) pairs — replaces four boolean-
        # mask cumsums over the batch (measured 4x on this section).
        # Java/Spark \s = {9, 10, 11, 12, 13, 32}.
        cls_table = np.zeros(0x110000, np.uint8)
        cls_table[65:91] = 1
        cls_table[97:123] = 1
        cls_table[48:58] = 2
        cls_table[[9, 10, 11, 12, 13, 32]] = 3
        cls_table[35] = 4
        cls_table[46] = 5
        cls = cls_table[cp]
        cls_counts = np.bincount(
            doc_of_pos * 8 + cls, minlength=nd * 8
        ).reshape(nd, 8)
        alpha_c = cls_counts[:, 1]
        digit_c = cls_counts[:, 2]
        space_c = cls_counts[:, 3]
        hash_c = cls_counts[:, 4]

        # word runs (maximal non-\s runs == split(\s+) with empties
        # filtered; strip(' ') only removes empties, so run semantics are
        # identical), bounded at document starts
        doc_starts = off[:-1][lens > 0]
        ns = cls != 3
        prev = np.empty(cp.size, dtype=bool)
        if cp.size:
            prev[0] = False
            prev[1:] = ns[:-1]
            prev[doc_starts] = False
        wstart = ns & ~prev
        w_pos = np.flatnonzero(wstart)
        n_words = np.bincount(doc_of_pos[w_pos], minlength=nd)
        word_chars = lens - space_c  # sum of word lengths per doc
        if w_pos.size:
            word_id = np.cumsum(wstart) - 1
            word_has_alpha = (
                np.bincount(word_id[cls == 1], minlength=w_pos.size) > 0
            )
            alpha_words = np.bincount(
                doc_of_pos[w_pos][word_has_alpha], minlength=nd
            )
        else:
            alpha_words = np.zeros(nd, np.int64)

        # "..." occurrences (greedy left-to-right, = str.replace): per
        # maximal dot run of length r, r // 3 matches
        dot = cls == 5
        prevd = np.empty(cp.size, dtype=bool)
        if cp.size:
            prevd[0] = False
            prevd[1:] = dot[:-1]
            prevd[doc_starts] = False
        dstart = dot & ~prevd
        d_pos = np.flatnonzero(dstart)
        if d_pos.size:
            drun_len = np.bincount(np.cumsum(dstart)[dot] - 1, minlength=d_pos.size)
            ell_c = np.bincount(
                doc_of_pos[d_pos], weights=drun_len // 3, minlength=nd
            )
        else:
            ell_c = np.zeros(nd, np.float64)

        # entropy run-lengths, np.unique's exact per-doc layout (ascending
        # code point, int64 counts) without per-doc sorts. Fast path: remap
        # the batch's distinct lower-case chars to dense ids (one global
        # bincount finds them, ascending), then ONE bincount over
        # doc*K + dense_id. Guarded by the (docs x distinct-chars) table
        # size — unicode-heavy batches fall back to a single global sort,
        # still far cheaper than per-doc np.unique.
        llens = np.fromiter((len(t) for t in lowers), np.int64, nd)
        ldoc = np.repeat(np.arange(nd, dtype=np.int32), llens)
        lcp = np.frombuffer(
            "".join(lowers).encode("utf-32-le"), dtype=np.uint32
        )
        present = np.bincount(lcp, minlength=0x110000)
        distinct_cp = np.flatnonzero(present)
        K = distinct_cp.size
        # guard the dense table in BYTES (int64 cells), not cells — the
        # table is the worker's single largest possible transient
        if K and nd * K * 8 <= _ENT_TABLE_MAX_BYTES:
            dense = np.zeros(0x110000, np.int32)
            dense[distinct_cp] = np.arange(K, dtype=np.int32)
            binc = np.bincount(ldoc * K + dense[lcp], minlength=nd * K)
            ent_counts = binc.reshape(nd, K)
            runs = run_bounds = None
        else:
            sk = np.sort((ldoc.astype(np.int64) << 21) | lcp.astype(np.int64))
            if sk.size:
                rs = np.flatnonzero(np.r_[True, sk[1:] != sk[:-1]])
                runs = np.diff(np.r_[rs, sk.size])
                run_doc = sk[rs] >> 21
            else:
                runs = np.zeros(0, np.int64)
                run_doc = np.zeros(0, np.int64)
            run_bounds = np.searchsorted(run_doc, np.arange(nd + 1))
            ent_counts = None

        def one(d, t):
            if t is None:
                # Composed-operator NULL semantics under the engine's
                # ANSI-off session (RUNTIME_CONFS re-asserts it), field by
                # field (ADVICE r5 — an all-NULL row would drop out of
                # avg() where the composed Columns and the DuckDB oracle's
                # CASE contribute 0.0): size(tokens(NULL)) is -1 (legacy
                # sizeOfNull); the when() guards send ratio/entropy/
                # dup_line_frac to 0.0; quality's least() drops its NULL
                # terms so (1.0+0+0+0)/4 = 0.25; `50 <= NULL` makes the
                # Gopher conjunction false; C4's NULL-propagating contains
                # is ANDed with the false sentence-count term → false.
                return (-1, 0.0, 0.25, "unknown", 0.0, 0.0, False, False)
            # ---- char classes + entropy from the batch tier (exact ints /
            # identical per-doc float op order as the per-doc numpy it
            # replaced)
            n = int(lens[d])
            nd = float(n)
            alpha = int(alpha_c[d])
            digit = int(digit_c[d])
            space = int(space_c[d])
            punct = n - alpha - digit - space
            lower = lowers[d]
            if n:
                if ent_counts is not None:
                    full = ent_counts[d]
                    counts = full[full > 0]
                else:
                    counts = runs[run_bounds[d]:run_bounds[d + 1]]
                p = counts / counts.sum()
                entropy = float(-(p * np.log2(p)).sum())
            else:
                entropy = 0.0
            # ---- tokens (lowercased alnum runs), once
            toks = [x for x in tok_split.split(lower) if x]
            n_toks = len(toks)
            sw_hits = sum(1 for x in toks if x in sw_set)
            ratio = (sw_hits / n_toks) if n_toks > 0 else 0.0
            # quality — same IEEE ops in the same order as analyze()
            length_term = min(nd / 500.0, 1.0)
            punct_term = 1.0 - min(float(punct) / max(nd, 1.0) * 5.0, 1.0)
            digit_term = 1.0 - min(float(digit) / max(nd, 1.0) * 5.0, 1.0)
            sw_term = min(ratio * 4.0, 1.0)
            quality = (length_term + punct_term + digit_term + sw_term) / 4.0
            lang = "en" if ratio >= lang_threshold else "unknown"
            # ---- non-empty lines (Spark trim strips 0x20 only), once
            lines = [l for l in t.split("\n") if l.strip(" ")]
            nl = len(lines)
            dup = ((nl - len(set(lines))) / nl) if nl else 0.0
            # ---- Gopher conjunction (Rae'21 A1.1 thresholds) — word
            # stats from the batch run-length tier: word_chars/n_words are
            # exact word-length/count integers, hash_c counts '#', ell_c
            # is the greedy "..." count (== the str.replace formulation:
            # (3k)/3 is exactly k in IEEE), alpha_words counts words
            # containing [A-Za-z]
            nw = int(n_words[d])
            nwd = float(nw)
            if nw:
                mean_len = int(word_chars[d]) / nwd
                symbol_ratio = (int(hash_c[d]) + float(ell_c[d])) / nwd
                alpha_frac = int(alpha_words[d]) / nwd
            else:
                mean_len = symbol_ratio = alpha_frac = 0.0
            if nl:
                bullet_frac = sum(
                    1 for l in lines
                    if l.lstrip(" ").startswith(("-", "*", "•"))
                ) / float(nl)
                ellipsis_frac = sum(
                    1 for l in lines
                    if l.rstrip(" ").endswith(("...", "…"))
                ) / float(nl)
            else:
                bullet_frac = ellipsis_frac = 0.0
            tok_set = set(toks)
            stop_hits = sum(1 for s in gopher_sw if s in tok_set)
            gopher = (
                50 <= nw <= 100_000
                and 3.0 <= mean_len <= 10.0
                and symbol_ratio <= 0.1
                and bullet_frac <= 0.9
                and ellipsis_frac <= 0.3
                and alpha_frac >= 0.8
                and stop_hits >= 2
            )
            # ---- C4 page keep (Raffel'20 §2.2)
            kept = [
                l for l in lines
                if l.rstrip(" ").endswith((".", "!", "?", '"'))
                and len([w for w in ws_split.split(l.strip(" ")) if w]) >= 3
            ]
            cleaned = "\n".join(kept)
            sentences = sum(
                1 for s in sent_split.split(cleaned) if s.strip(" ")
            )
            c4 = (
                "lorem ipsum" not in lower
                and "{" not in t
                and sentences >= 5
            )
            return (
                n_toks, ratio, quality, lang, entropy, dup, bool(gopher),
                bool(c4),
            )

        return [one(d, t) for d, t in enumerate(tlist)]

    def _worker(texts):  # pd.Series[str] -> pd.DataFrame
        import pandas as pd

        tlist = texts.tolist()
        char_lens = [len(t) if t is not None else 0 for t in tlist]
        rows = []
        for s, e in _chunk_bounds(char_lens, budget):
            rows.extend(_worker_chunk(tlist[s:e]))
        return pd.DataFrame(
            rows,
            columns=[
                "n_tokens", "stopword_ratio", "quality", "lang_pred",
                "char_entropy", "dup_line_frac", "gopher_pass", "c4_keep",
            ],
        )

    return F.pandas_udf(_worker, CORPUS_SIGNALS_SCHEMA)


def top_ngrams(
    df,
    n: int = 5,
    k: int = 100,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_doc_freq: int = 1,
):
    """Corpus-wide most-frequent word n-grams: (g, n_occurrences, n_docs),
    ordered by occurrences desc (ties: gram asc), limited to *k* — the
    boilerplate/contamination audit view ("which 5-grams dominate this
    crawl?") that decides stop-gram caps and C4-style span-dedup targets.

    Scale shape: gram assembly is the codegen'd lead-window form
    (``dedup.ngram_rows_strict``), the count is ONE partial-aggregated
    groupBy on the gram, and the top-k is ``orderBy().limit(k)`` =
    TakeOrderedAndProject — per-partition heaps merged on the driver, never
    a global sort of all distinct grams. ``min_doc_freq`` drops the
    singleton-gram long tail before the ordering.
    """
    from hyperdx_spark.pipeline.dedup import ngram_rows_strict

    grams = ngram_rows_strict(df, text_col, id_col, n)
    agg = grams.groupBy("g").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("id").alias("n_docs"),
    )
    if min_doc_freq > 1:
        agg = agg.where(F.col("n_docs") >= min_doc_freq)
    return agg.orderBy(F.desc("n_occurrences"), F.asc("g")).limit(k)
