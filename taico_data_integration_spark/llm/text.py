"""Text-analysis expressions for training-data pipelines: language-ID by
stopword hits, quality scoring, token counting, deterministic document
fingerprinting.

Each expression has one definition, a ``*_sql`` builder that returns a
Spark SQL string over SQL sub-expressions; callers use it through
selectExpr or F.expr. A whole expression stack is then one parse (one py4j
round trip) at plan build instead of one call per Column node, and it runs
JVM-side: one scan per metric set, no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sqlquote import sql_ident, sql_str

# Tiny per-language stopword lists for the n-gram/stopword language heuristic.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "un", "est", "pour", "que", "dans", "sur"],
}
LANGS = ("en", "de", "es", "fr")

WORD_SPLIT_RE = r"\s+"
# BPE-ish tokenizer regex: letter runs, digit runs, single punctuation marks.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def norm_sql(text: str) -> str:
    """lower + trim + collapse whitespace of the string expression `text` —
    the canonical text form."""
    return f"regexp_replace(lower(trim({text})), {sql_str(WORD_SPLIT_RE)}, ' ')"


def tokens_sql(text: str) -> str:
    """Whitespace tokens of the normalized text (array<string>)."""
    return f"split({norm_sql(text)}, ' ')"


def token_count_sql(toks: str) -> str:
    """BIGINT length of the array expression `toks`."""
    return f"CAST(size({toks}) AS BIGINT)"


def fingerprint_sql(text: str) -> str:
    """Deterministic document fingerprint: md5 of the canonical text form.
    Grouping on this (not raw text) keeps shuffle keys small at 100 TB."""
    return f"md5({norm_sql(text)})"


def stopword_hits_sql(toks: str, lang: str) -> str:
    """Number of tokens of the array expression `toks` that are stopwords
    of `lang` (array filter, JVM-side)."""
    words = ", ".join(sql_str(w) for w in STOPWORDS[lang])
    return f"CAST(size(filter({toks}, t -> t IN ({words}))) AS BIGINT)"


def language_argmax_sql(hits: dict[str, str], langs: tuple[str, ...] = LANGS) -> str:
    """argmax of per-language hit-count expressions with deterministic
    precedence order; 'unknown' when no list scores a hit. Precedence =
    declaration order on ties: a lang wins only with a STRICTLY greater
    score than every earlier lang and >= every later one. Pass CHEAP column
    references when the hit counts are staged as real columns — the chain
    references each hit ~7x, which duplicates the full expression tree when
    fed raw exprs."""
    expr = sql_str("unknown")
    for i, lang in enumerate(langs):
        cond = f"{hits[lang]} > 0"
        for j, other in enumerate(langs):
            if other == lang:
                continue
            op = ">" if j < i else ">="
            cond = f"{cond} AND {hits[lang]} {op} {hits[other]}"
        expr = f"CASE WHEN {cond} THEN {sql_str(lang)} ELSE {expr} END"
    return expr


def with_language(
    df: DataFrame,
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
    out: str = "detected_lang",
    langs: tuple[str, ...] = LANGS,
) -> DataFrame:
    """keep_cols + detected language. Tokenization and the per-language hit
    counts are staged as real columns, so the split/regexp runs ONCE per row
    (the argmax over inline hit expressions re-tokenizes per hit reference —
    ~28 evaluations for 4 languages). CollapseProject keeps the staging
    projection because the token array is non-cheap and referenced by every
    hit column."""
    keep = [sql_ident(c) for c in keep_cols]
    base = df.selectExpr(*keep, f"{tokens_sql(sql_ident(text_col))} AS __toks")
    staged = base.selectExpr(
        *keep, *[f"{stopword_hits_sql('__toks', l)} AS __hits_{l}" for l in langs]
    )
    lang_sql = language_argmax_sql({l: f"__hits_{l}" for l in langs}, langs)
    return staged.selectExpr(*keep, f"{lang_sql} AS {sql_ident(out)}")


def bpe_ish_token_count(col: Column | str) -> Column:
    """Count of regex tokens — a deterministic stand-in for a BPE tokenizer's
    pre-tokenization pass."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_RE)).cast("bigint")


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]")).cast("bigint")


def quality_inputs_sql(text: str, toks: str) -> tuple[str, str, str, str]:
    """The four `quality_score_sql` inputs of the string expression `text`
    whose token array expression is `toks`: BIGINT token count and 'en'
    stopword hits, DOUBLE letter and character counts."""
    return (
        token_count_sql(toks),
        stopword_hits_sql(toks, "en"),
        f"CAST(regexp_count({text}, {sql_str('[A-Za-z]')}) AS DOUBLE)",
        f"CAST(length({text}) AS DOUBLE)",
    )


def quality_score_sql(n_tok: str, hits_en: str, n_alpha: str, n_chars: str) -> str:
    """Composite [0,1] quality score: stopword ratio + alpha ratio + length
    saturation, the reference-free analog of heuristic quality filters.
    Inputs are the `quality_inputs_sql` expressions — fed straight from raw
    text, or as references to columns staged from them. The `D` suffix keeps
    every float literal a DOUBLE."""
    n = f"CAST({n_tok} AS DOUBLE)"
    stop_ratio = f"CAST({hits_en} AS DOUBLE) / greatest({n}, 1.0D)"
    alpha_ratio = f"{n_alpha} / greatest({n_chars}, 1.0D)"
    len_sat = f"least({n} / 100.0D, 1.0D)"
    return f"round(0.4D * ({stop_ratio}) + 0.3D * ({alpha_ratio}) + 0.3D * ({len_sat}), 6)"
