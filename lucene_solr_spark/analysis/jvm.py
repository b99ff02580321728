"""JVM-side (whole-stage-codegen) analyzer expressions.

Same observable semantics as the vectorized pandas analyzers
(analysis/analyzers.py — StandardAnalyzer subset: UAX#29-ish token
regex, lowercase, 255-char cap, 33 English stopwords, stop/overlong
tokens advance positions without being emitted), but evaluated entirely
inside Tungsten: `lower` + `regexp_extract_all` + array `transform` /
`filter` lambdas. No Python is involved in the invert hot path — the
analyzer output ships to the Arrow segment builder as list columns.

Equivalence with the pandas analyzers is pinned by tests
(tests/test_arrow_builder.py): the Java regex uses the embedded (?U)
flag so \\W is Unicode-aware like Python's re.UNICODE.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from lucene_solr_spark.analysis.analyzers import (
    ENGLISH_STOP_WORDS,
    MAX_TOKEN_LENGTH,
    TOKEN_PAT,
    URL_EMAIL_PAT,
    EDGE_MAX_GRAM,
    WDF_BOUNDARY_PAT,
    WDF_DELIM_PAT,
)

# Java regex equivalent of analyzers._TOKEN_RE: the SAME pattern source
# (UAX#29 type alternation incl. CJK/SEA classes), with (?U) =
# UNICODE_CHARACTER_CLASS so \W is Unicode-aware like Python's
# re.UNICODE. Building from one source string keeps the two engines
# drift-proof by construction.
TOKEN_RE_JAVA = "(?U)" + TOKEN_PAT

_STOP_ARR = F.array(*[F.lit(w) for w in sorted(ENGLISH_STOP_WORDS)])


def standard_tokens_col(text: Column) -> Column:
    """array<string> of emitted (post-stop, lowercase) terms."""
    toks = F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE_JAVA), F.lit(0))
    return F.filter(
        toks,
        lambda t: (F.length(t) <= MAX_TOKEN_LENGTH) & ~F.array_contains(_STOP_ARR, t),
    )


def standard_tokens_pos_col(text: Column) -> Column:
    """array<struct<term:string,pos:int>> with Lucene position
    semantics: position advances for every raw token, including the
    dropped ones (FilteringTokenFilter.java:49-62)."""
    toks = F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE_JAVA), F.lit(0))
    pairs = F.transform(
        toks, lambda t, i: F.struct(t.alias("term"), i.cast("int").alias("pos"))
    )
    return F.filter(
        pairs,
        lambda s: (F.length(s["term"]) <= MAX_TOKEN_LENGTH)
        & ~F.array_contains(_STOP_ARR, s["term"]),
    )


def _lstrip_ws(text: Column) -> Column:
    """Strip ALL leading whitespace (F.trim strips only spaces, so a
    leading tab/newline would survive and yield an empty first split
    element, shifting every token position by one vs the pandas
    engine)."""
    return F.regexp_replace(text, "^\\s+", "")


def whitespace_tokens_col(text: Column) -> Column:
    """WhitespaceAnalyzer analog (no case folding, no stopwords).

    Leading whitespace stripped first: a leading-whitespace split would
    otherwise yield an empty first element, shifting every position by
    one relative to the pandas analyzer (which drops empties before
    enumerating)."""
    return F.filter(F.split(_lstrip_ws(text), "\\s+"), lambda t: t != F.lit(""))


def whitespace_tokens_pos_col(text: Column) -> Column:
    toks = F.split(_lstrip_ws(text), "\\s+")
    pairs = F.transform(
        toks, lambda t, i: F.struct(t.alias("term"), i.cast("int").alias("pos"))
    )
    return F.filter(pairs, lambda s: s["term"] != F.lit(""))


# Java regex equivalent of analyzers._LETTER_RE (letter runs only)
LETTER_RE_JAVA = "(?U)[^\\W\\d_]+"


def _chunk255_col(t: Column) -> Column:
    """Split one token into consecutive <=255-char chunks
    (CharTokenizer.java:163-171 emits-and-continues at maxTokenLen)."""
    n = F.ceil(F.length(t) / F.lit(MAX_TOKEN_LENGTH)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n - F.lit(1), F.lit(0)))
    return F.transform(
        idx,
        lambda i: t.substr(
            i * MAX_TOKEN_LENGTH + 1, F.lit(MAX_TOKEN_LENGTH)
        ),
    )


def _letter_chunks(text: Column) -> Column:
    toks = F.regexp_extract_all(text, F.lit(LETTER_RE_JAVA), F.lit(0))
    return F.flatten(F.transform(toks, _chunk255_col))


def simple_tokens_col(text: Column) -> Column:
    """SimpleAnalyzer analog: letter runs, 255-chunked, lowercased."""
    return F.transform(_letter_chunks(text), lambda t: F.lower(t))


def simple_tokens_pos_col(text: Column) -> Column:
    return F.transform(
        _letter_chunks(text),
        lambda t, i: F.struct(
            F.lower(t).alias("term"), i.cast("int").alias("pos")
        ),
    )


def stop_tokens_col(text: Column) -> Column:
    """StopAnalyzer analog: simple + 33-word stop filter."""
    return F.filter(
        simple_tokens_col(text), lambda t: ~F.array_contains(_STOP_ARR, t)
    )


def stop_tokens_pos_col(text: Column) -> Column:
    """Stopped tokens advance positions without being emitted."""
    return F.filter(
        simple_tokens_pos_col(text),
        lambda s: ~F.array_contains(_STOP_ARR, s["term"]),
    )


def keyword_tokens_col(text: Column) -> Column:
    """KeywordAnalyzer analog: whole input = one verbatim token."""
    t = F.coalesce(text, F.lit(""))
    return F.when(F.length(t) > 0, F.array(t)).otherwise(
        F.array().cast("array<string>")
    )


def keyword_tokens_pos_col(text: Column) -> Column:
    t = F.coalesce(text, F.lit(""))
    pair = F.struct(t.alias("term"), F.lit(0).cast("int").alias("pos"))
    return F.when(F.length(t) > 0, F.array(pair)).otherwise(
        F.array().cast("array<struct<term:string,pos:int>>")
    )


_POSSESSIVE_RE_JAVA = "['’＇]s$"  # input lowercased first, so no [sS]


def english_tokens_col(text: Column) -> Column:
    """EnglishAnalyzer chain MINUS the stem step (en/EnglishAnalyzer.
    java:104-113): standard tokens -> possessive strip -> stop filter.
    PorterStemFilter runs on the pyarrow term dictionary inside the
    arrow segment builder (analyzers.DICT_STEMMERS) — per unique term,
    not per token — so the JVM column stays whole-stage-codegen."""
    toks = F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE_JAVA), F.lit(0))
    stripped = F.transform(
        toks,
        lambda t: F.when(
            F.length(t) <= MAX_TOKEN_LENGTH,
            F.regexp_replace(t, _POSSESSIVE_RE_JAVA, ""),
        ).otherwise(t),
    )
    return F.filter(
        stripped,
        lambda t: (F.length(t) <= MAX_TOKEN_LENGTH) & ~F.array_contains(_STOP_ARR, t),
    )


def english_tokens_pos_col(text: Column) -> Column:
    toks = F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE_JAVA), F.lit(0))
    pairs = F.transform(
        toks,
        lambda t, i: F.struct(
            F.when(
                F.length(t) <= MAX_TOKEN_LENGTH,
                F.regexp_replace(t, _POSSESSIVE_RE_JAVA, ""),
            ).otherwise(t).alias("term"),
            i.cast("int").alias("pos"),
        ),
    )
    return F.filter(
        pairs,
        lambda s: (F.length(s["term"]) <= MAX_TOKEN_LENGTH)
        & ~F.array_contains(_STOP_ARR, s["term"]),
    )


# UAX29URLEmailTokenizer analog (see analyzers.URL_EMAIL_PAT for the
# grammar-subset notes). The SAME pattern source as the pandas analyzer
# (ASCII URL/email classes + the UAX#29 word alternation — Python's re
# and Java's with (?U) agree on every construct used: literal classes,
# ranges, alternation, non-capturing groups).
URL_EMAIL_RE_JAVA = "(?U)" + URL_EMAIL_PAT


def url_email_tokens_col(text: Column) -> Column:
    """UAX29URLEmailAnalyzer analog: URL/email-aware tokens of the
    lowercased text + standard >255-drop + stop filter."""
    toks = F.regexp_extract_all(
        F.lower(text), F.lit(URL_EMAIL_RE_JAVA), F.lit(0)
    )
    return F.filter(
        toks,
        lambda t: (F.length(t) <= MAX_TOKEN_LENGTH)
        & ~F.array_contains(_STOP_ARR, t),
    )


def url_email_tokens_pos_col(text: Column) -> Column:
    """Dropped/stopped tokens advance positions without being emitted."""
    toks = F.regexp_extract_all(
        F.lower(text), F.lit(URL_EMAIL_RE_JAVA), F.lit(0)
    )
    pairs = F.transform(
        toks, lambda t, i: F.struct(t.alias("term"), i.cast("int").alias("pos"))
    )
    return F.filter(
        pairs,
        lambda s: (F.length(s["term"]) <= MAX_TOKEN_LENGTH)
        & ~F.array_contains(_STOP_ARR, s["term"]),
    )


# ASCIIFoldingFilter analog: driven by the SAME analyzers.FOLD_TABLE —
# 1:1 codepoint folds compile to ONE translate() call; the handful of
# multi-char expansions (AE/ae, TH/th, ss, OE/oe) chain replace()
# calls. All codegen'd string ops, applied to the text BEFORE
# tokenization (letter-to-letter, cannot move UAX#29 boundaries).
def _fold_col(text: Column) -> Column:
    from lucene_solr_spark.analysis.analyzers import FOLD_TABLE

    ones_src = "".join(chr(cp) for cp, r in sorted(FOLD_TABLE.items()) if len(r) == 1)
    ones_dst = "".join(r for _, r in sorted(FOLD_TABLE.items()) if len(r) == 1)
    out = F.translate(text, ones_src, ones_dst)
    for cp, r in sorted(FOLD_TABLE.items()):
        if len(r) > 1:
            out = F.replace(out, F.lit(chr(cp)), F.lit(r))
    return out


def standard_folding_tokens_col(text: Column) -> Column:
    return standard_tokens_col(_fold_col(text))


def standard_folding_tokens_pos_col(text: Column) -> Column:
    return standard_tokens_pos_col(_fold_col(text))


# ShingleFilter analog (see analyzers._shingle_pairs for the chain
# notes: standard tokens + lowercase, NO stop filter, unigrams + the
# bigram starting at each position, shingle at the first token's
# position). All array lambdas — no Python.
def _shingle_base(text: Column) -> Column:
    toks = F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE_JAVA), F.lit(0))
    return F.filter(toks, lambda t: F.length(t) <= MAX_TOKEN_LENGTH)


def shingle_tokens_pos_col(text: Column) -> Column:
    low = _shingle_base(text)
    unis = F.transform(
        low, lambda t, i: F.struct(t.alias("term"), i.cast("int").alias("pos"))
    )
    bis = F.when(F.size(low) >= 2, F.transform(
        F.slice(low, 1, F.size(low) - 1),
        lambda t, i: F.struct(
            F.concat(t, F.lit(" "), F.element_at(low, i + 2)).alias("term"),
            i.cast("int").alias("pos"),
        ),
    )).otherwise(F.array().cast("array<struct<term:string,pos:int>>"))
    return F.concat(unis, bis)


def shingle_tokens_col(text: Column) -> Column:
    return F.transform(shingle_tokens_pos_col(text), lambda s: s["term"])


# EdgeNGramTokenFilter analog (ngram/EdgeNGramTokenFilter.java,
# minGram=1 maxGram=EDGE_MAX_GRAM): all prefixes of every standard-
# chain token at the source token's position.
def edge_ngram_tokens_pos_col(text: Column) -> Column:
    base = standard_tokens_pos_col(text)
    return F.flatten(
        F.transform(
            base,
            lambda s: F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.length(s["term"]), F.lit(EDGE_MAX_GRAM)),
                ),
                lambda g: F.struct(
                    s["term"].substr(F.lit(1), g).alias("term"),
                    s["pos"].alias("pos"),
                ),
            ),
        )
    )


def edge_ngram_tokens_col(text: Column) -> Column:
    return F.transform(edge_ngram_tokens_pos_col(text), lambda s: s["term"])


# WordDelimiterFilter analog (see analyzers.WDF_BOUNDARY_PAT for the
# chain doc). Whitespace split -> boundary-insert -> delimiter split,
# lowercase; positions sequential over the flattened parts, overlong
# parts dropped with their position consumed. Pattern SOURCES are
# shared with the pandas analyzer (drift-proof by construction).
WDF_BOUNDARY_JAVA = "(?U)(?:" + WDF_BOUNDARY_PAT + ")"
WDF_DELIM_JAVA = "(?U)" + WDF_DELIM_PAT


def _wdf_parts(text: Column) -> Column:
    raw = F.filter(
        F.split(_lstrip_ws(text), "\\s+"), lambda t: t != F.lit("")
    )
    return F.flatten(
        F.transform(
            raw,
            lambda t: F.filter(
                F.split(
                    F.regexp_replace(t, WDF_BOUNDARY_JAVA, " "),
                    WDF_DELIM_JAVA,
                ),
                lambda p: p != F.lit(""),
            ),
        )
    )


def word_delimiter_tokens_pos_col(text: Column) -> Column:
    pairs = F.transform(
        _wdf_parts(text),
        lambda t, i: F.struct(
            F.lower(t).alias("term"), i.cast("int").alias("pos")
        ),
    )
    return F.filter(pairs, lambda s: F.length(s["term"]) <= MAX_TOKEN_LENGTH)


def word_delimiter_tokens_col(text: Column) -> Column:
    return F.transform(
        word_delimiter_tokens_pos_col(text), lambda s: s["term"]
    )


# DelimitedPayloadTokenFilter analog (analysis/common/.../payloads/
# DelimitedPayloadTokenFilter.java:29-37 + FloatEncoder.java): whitespace
# tokens split at the FIRST delimiter occurrence (the reference scans
# the term buffer left-to-right and truncates at the first hit); the
# entire suffix after it parses as a float payload (FloatEncoder =
# Float.parseFloat -> 4-byte payload). Tokens without the delimiter
# carry NO payload (pay = null); an unparseable suffix also yields
# null (documented deviation: FloatEncoder throws
# NumberFormatException — Spark's try-cast semantics fit the
# vectorized path better than a per-token throw).
def delimited_payload_tokens_pos_col(
    text: Column, delimiter: str = "|"
) -> Column:
    toks = F.split(_lstrip_ws(text), "\\s+")
    d = F.lit(delimiter)

    def entry(t: Column, i: Column) -> Column:
        prefix = F.substring_index(t, delimiter, 1)  # before the FIRST delimiter
        has = t.contains(d)
        suffix = t.substr(F.length(prefix) + F.lit(2), F.length(t))
        return F.struct(
            prefix.alias("term"),
            i.cast("int").alias("pos"),
            F.when(has, suffix.try_cast("float"))
            .otherwise(F.lit(None).cast("float"))
            .alias("pay"),
        )

    pairs = F.transform(toks, entry)
    return F.filter(pairs, lambda s: s["term"] != F.lit(""))


def delimited_payload_tokens_col(text: Column) -> Column:
    return F.transform(
        delimited_payload_tokens_pos_col(text), lambda s: s["term"]
    )


JVM_ANALYZERS = {
    "standard": standard_tokens_col,
    "whitespace": whitespace_tokens_col,
    "simple": simple_tokens_col,
    "stop": stop_tokens_col,
    "keyword": keyword_tokens_col,
    "uax29_url_email": url_email_tokens_col,
    "standard_folding": standard_folding_tokens_col,
    "shingle": shingle_tokens_col,
    "word_delimiter": word_delimiter_tokens_col,
    "edge_ngram": edge_ngram_tokens_col,
    "english": english_tokens_col,
    "english_minimal": english_tokens_col,
    "delimited_payload": delimited_payload_tokens_col,
}
JVM_ANALYZERS_POS = {
    "standard": standard_tokens_pos_col,
    "whitespace": whitespace_tokens_pos_col,
    "simple": simple_tokens_pos_col,
    "stop": stop_tokens_pos_col,
    "keyword": keyword_tokens_pos_col,
    "uax29_url_email": url_email_tokens_pos_col,
    "standard_folding": standard_folding_tokens_pos_col,
    "shingle": shingle_tokens_pos_col,
    "word_delimiter": word_delimiter_tokens_pos_col,
    "edge_ngram": edge_ngram_tokens_pos_col,
    "english": english_tokens_pos_col,
    "english_minimal": english_tokens_pos_col,
    "delimited_payload": delimited_payload_tokens_pos_col,
}

# discountOverlaps (BM25Similarity.java:141, default true): per-chain
# expression for the NORM length — emitted tokens minus same-position
# overlaps. Chains absent here emit no overlaps (norm length == token
# count, no extra column shipped). Shingle: the unigram count (each
# bigram rides its first token's position with posIncr 0); edge-gram:
# the kept source-token count (grams after the first share the source
# position). Synonym injection composes in the builder (pre-expansion
# size), not here.
JVM_NORM_LEN = {
    "shingle": lambda text: F.size(_shingle_base(text)),
    "edge_ngram": lambda text: F.size(standard_tokens_pos_col(text)),
}
