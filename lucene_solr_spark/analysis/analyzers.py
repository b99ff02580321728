"""Vectorized analysis chain (StandardAnalyzer subset).

Reference chain (analysis/common/.../standard/StandardAnalyzer.java:83-97):
StandardTokenizer -> StandardFilter(no-op) -> LowerCaseFilter -> StopFilter.

Semantics reproduced:
- UAX#29 word-break for web text: ALPHANUM/NUM runs with apostrophe
  joining (O'Neil's stays one token), hyphens split tokens, PLUS the
  CJK/Southeast-Asian token types of StandardTokenizerImpl.jflex:
  IDEOGRAPHIC (Han) and HIRAGANA emit one token per character,
  KATAKANA / HANGUL / SOUTHEAST_ASIAN (Thai, Lao, Myanmar, Khmer)
  emit script runs (StandardTokenizer.java:34-52 type constants).
  BMP ranges only (supplementary CJK-B+ planes out of scope); fixture
  vectors pinned in tests/test_analyzer.py, cross-engine parity with
  the JVM expressions pinned there too.
- Tokens longer than maxTokenLength=255 are DROPPED but still advance the
  position counter (StandardTokenizer.java:155-177, default 255 at
  StandardAnalyzer.java:39).
- Lowercase per codepoint (core/LowerCaseFilter.java:44-50; we use
  str.lower() and document the Unicode delta).
- 33 English stopwords removed (core/StopAnalyzer.java:42-50); removed
  tokens add their position increment to the next kept token
  (util/FilteringTokenFilter.java:49-62).
- Document length for norms = number of EMITTED tokens (stopwords never
  emitted, so not counted; DefaultIndexingChain.java:637,
  BM25Similarity.java:140-143).

All entry points are pandas-Series vectorized (pandas str ops / C regex),
for use inside Arrow-batched pandas UDFs — never row-at-a-time Spark UDFs.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

# The 33 English stopwords of StopAnalyzer.ENGLISH_STOP_WORDS_SET
# (analysis/common/.../core/StopAnalyzer.java:42-50).
ENGLISH_STOP_WORDS = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)

MAX_TOKEN_LENGTH = 255  # StandardAnalyzer.java:39

# UAX#29 token-type alternation (StandardTokenizer.java:34-52 type
# constants; StandardTokenizerImpl.jflex grammar). The reference emits:
#   HANGUL    — Hangul syllable/jamo RUNS as one token
#   KATAKANA  — Katakana RUNS as one token
#   SOUTHEAST_ASIAN — Thai/Lao/Myanmar/Khmer RUNS (no dictionary split)
#   IDEOGRAPHIC / HIRAGANA — ONE TOKEN PER CHARACTER
#   ALPHANUM/NUM — letter/digit runs with apostrophe joining;
#     underscore excluded (UAX#29 ExtendNumLet approximated by split)
# The ALPHANUM class must EXCLUDE the CJK/SEA scripts or a mixed-script
# run like "abc東" would swallow the ideograph. BMP ranges only (the
# supplementary CJK-B+ planes are out of scope, documented subset).
_HAN = "一-鿿㐀-䶿豈-﫿"
_HIRA = "぀-ゟ"
_KATA = "゠-ヿㇰ-ㇿ"
_HANGUL = "가-힣ᄀ-ᇿ㄰-㆏ꥠ-꥿ힰ-퟿"
_SEASIAN = "฀-໿က-႟ក-៿"
_CJK_ALL = _HAN + _HIRA + _KATA + _HANGUL + _SEASIAN
_WORD_CORE = rf"[^\W_{_CJK_ALL}]+(?:['’][^\W_{_CJK_ALL}]+)*"
TOKEN_PAT = (
    rf"[{_HANGUL}]+|[{_KATA}]+|[{_SEASIAN}]+|[{_HIRA}]|[{_HAN}]|{_WORD_CORE}"
)
_TOKEN_RE = re.compile(TOKEN_PAT, re.UNICODE)


def tokenize_standard(texts: pd.Series) -> pd.Series:
    """Series[str] -> Series[list[str]] of emitted (post-stop) lowercase terms."""
    tokens = texts.fillna("").str.findall(_TOKEN_RE)
    return tokens.map(_finish_standard)


def _finish_standard(toks: list[str]) -> list[str]:
    # length filter (drop >255, still counts a position — positions only
    # matter for phrase queries, post-MVP), lowercase, stop filter
    return [
        lt
        for t in toks
        if len(t) <= MAX_TOKEN_LENGTH and (lt := t.lower()) not in ENGLISH_STOP_WORDS
    ]


def tokenize_standard_with_positions(texts: pd.Series) -> pd.Series:
    """Series[str] -> Series[list[(term, pos)]] with Lucene position semantics.

    Positions: posIncr 1 per token; dropped (overlong) and stopped tokens
    contribute their increment to the next kept token
    (StandardTokenizer.java:155-177, FilteringTokenFilter.java:49-62).
    """
    tokens = texts.fillna("").str.findall(_TOKEN_RE)

    def finish(toks: list[str]) -> list[tuple[str, int]]:
        out = []
        pos = -1
        for t in toks:
            pos += 1  # every raw token advances position
            if len(t) > MAX_TOKEN_LENGTH:
                continue
            lt = t.lower()
            if lt in ENGLISH_STOP_WORDS:
                continue
            out.append((lt, pos))
        return out

    return tokens.map(finish)


def tokenize_whitespace(texts: pd.Series) -> pd.Series:
    """WhitespaceAnalyzer analog (core/WhitespaceTokenizer): split on
    whitespace, no case folding, no stopwords."""
    return texts.fillna("").str.split().map(lambda t: t if t else [])


def tokenize_whitespace_with_positions(texts: pd.Series) -> pd.Series:
    """Whitespace analog with positions (every token emitted; posIncr 1)."""
    return texts.fillna("").str.split().map(
        lambda toks: [(t, i) for i, t in enumerate(toks or [])]
    )


# Letter runs (CharTokenizer.isTokenChar == Character.isLetter,
# core/LetterTokenizer.java): unicode letters only, digits/underscore
# split. CharTokenizer SPLITS tokens longer than maxTokenLen=255 into
# consecutive chunks (CharTokenizer.java:163-171) — unlike
# StandardTokenizer, which drops them.
_LETTER_RE = re.compile(r"[^\W\d_]+", re.UNICODE)


def _chunk255(toks: list[str]) -> list[str]:
    out: list[str] = []
    for t in toks:
        if len(t) <= MAX_TOKEN_LENGTH:
            out.append(t)
        else:
            out.extend(
                t[i : i + MAX_TOKEN_LENGTH]
                for i in range(0, len(t), MAX_TOKEN_LENGTH)
            )
    return out


def tokenize_simple(texts: pd.Series) -> pd.Series:
    """SimpleAnalyzer analog (core/SimpleAnalyzer.java): LetterTokenizer
    + LowerCaseFilter. Tokenize first, lowercase per token (folding
    before tokenizing could move letter boundaries in rare Unicode)."""
    return (
        texts.fillna("")
        .str.findall(_LETTER_RE)
        .map(lambda ts: [t.lower() for t in _chunk255(ts)])
    )


def tokenize_simple_with_positions(texts: pd.Series) -> pd.Series:
    """Simple analog with positions (every chunk emitted, posIncr 1)."""
    return (
        texts.fillna("")
        .str.findall(_LETTER_RE)
        .map(
            lambda ts: [
                (t.lower(), i) for i, t in enumerate(_chunk255(ts))
            ]
        )
    )


def tokenize_stop(texts: pd.Series) -> pd.Series:
    """StopAnalyzer analog (core/StopAnalyzer.java:69-75):
    LetterTokenizer + LowerCaseFilter + StopFilter (same 33-word set)."""
    return tokenize_simple(texts).map(
        lambda ts: [t for t in ts if t not in ENGLISH_STOP_WORDS]
    )


def tokenize_stop_with_positions(texts: pd.Series) -> pd.Series:
    """Stop analog with positions: stopped tokens still advance the
    position counter (FilteringTokenFilter.java:49-62)."""
    return tokenize_simple_with_positions(texts).map(
        lambda tps: [(t, p) for t, p in tps if t not in ENGLISH_STOP_WORDS]
    )


_POSSESSIVE_RE = re.compile("['’＇][sS]$")


def strip_possessive(t: str) -> str:
    """EnglishPossessiveFilter (analysis/common/.../en/
    EnglishPossessiveFilter.java:44-52): drop a trailing 's (any of
    ' ’ ＇, s or S)."""
    return _POSSESSIVE_RE.sub("", t)


def _english_finish(toks: list[str], stem) -> list[tuple[str, int]]:
    """EnglishAnalyzer chain after tokenization (en/EnglishAnalyzer.
    java:104-113: StandardFilter -> EnglishPossessiveFilter ->
    LowerCaseFilter -> StopFilter -> PorterStemFilter): emitted
    (term, pos) pairs; dropped/stopped tokens advance positions."""
    out = []
    pos = -1
    for t in toks:
        pos += 1
        if len(t) > MAX_TOKEN_LENGTH:
            continue
        lt = strip_possessive(t).lower()
        if lt in ENGLISH_STOP_WORDS:
            continue
        out.append((stem(lt), pos))
    return out


def _make_english(stem, with_pos: bool):
    from lucene_solr_spark.analysis.stem import porter_stem  # noqa: F401

    def tokenize(texts: pd.Series) -> pd.Series:
        memo: dict[str, str] = {}

        def cached(t: str) -> str:
            s = memo.get(t)
            if s is None:
                s = memo[t] = stem(t)
            return s

        tokens = texts.fillna("").str.findall(_TOKEN_RE)
        if with_pos:
            return tokens.map(lambda ts: _english_finish(ts, cached))
        return tokens.map(
            lambda ts: [t for t, _ in _english_finish(ts, cached)]
        )

    return tokenize


def tokenize_keyword(texts: pd.Series) -> pd.Series:
    """KeywordAnalyzer analog (core/KeywordTokenizer.java): the entire
    input is ONE token, verbatim (no folding, no stops); empty input
    emits nothing."""
    return texts.fillna("").map(lambda t: [t] if t else [])


def tokenize_keyword_with_positions(texts: pd.Series) -> pd.Series:
    return texts.fillna("").map(lambda t: [(t, 0)] if t else [])


# UAX29URLEmailTokenizer analog (analysis/common/.../standard/
# UAX29URLEmailTokenizer.java + UAX29URLEmailTokenizerImpl.jflex):
# StandardTokenizer grammar EXTENDED with <URL> and <EMAIL> token types
# recognized as single tokens. The reference grammar is the full RFC
# 3986 / RFC 5321 production set (the generated JFlex DFA is ~3k LoC);
# we implement the web-text subset — scheme URLs (http/https/ftp with
# host[:port][/path][?query]), www.-prefixed hosts, and mailbox@domain
# emails — and pin fixture vectors. Alternation order EMAIL | URL |
# word: at equal start offsets the longer typed token wins, exactly as
# the JFlex longest-match rule resolves it for these inputs.
#
# The chain lowercases the TEXT before tokenizing (the JVM standard
# path does the same; for the URL/EMAIL grammar this also makes the
# scheme match case-insensitively, like the reference's
# case-insensitive scheme production).
_EMAIL_PAT = (
    r"[a-z0-9][a-z0-9._%+-]*@[a-z0-9](?:[a-z0-9-]*[a-z0-9])?"
    r"(?:\.[a-z0-9](?:[a-z0-9-]*[a-z0-9])?)+"
)
_URL_PAT = (
    r"(?:https?|ftp)://[a-z0-9.-]+(?::[0-9]+)?(?:/[a-z0-9._%/+-]*)?"
    r"(?:\?[a-z0-9._%/+=&-]*)?"
    r"|www\.[a-z0-9.-]+(?:/[a-z0-9._%/+-]*)?"
)
URL_EMAIL_PAT = f"{_EMAIL_PAT}|{_URL_PAT}|{TOKEN_PAT}"
_URL_EMAIL_RE = re.compile(URL_EMAIL_PAT, re.UNICODE)


def tokenize_url_email(texts: pd.Series) -> pd.Series:
    """UAX29URLEmailAnalyzer analog: URL/email-aware tokens of the
    lowercased text, then the standard >255-drop + stop filter."""
    return texts.fillna("").str.lower().str.findall(_URL_EMAIL_RE).map(
        lambda ts: [
            t
            for t in ts
            if len(t) <= MAX_TOKEN_LENGTH and t not in ENGLISH_STOP_WORDS
        ]
    )


def tokenize_url_email_with_positions(texts: pd.Series) -> pd.Series:
    """URL/email analog with positions (dropped/stopped tokens advance
    the position counter, FilteringTokenFilter.java:49-62)."""

    def finish(toks: list[str]) -> list[tuple[str, int]]:
        out = []
        pos = -1
        for t in toks:
            pos += 1
            if len(t) > MAX_TOKEN_LENGTH or t in ENGLISH_STOP_WORDS:
                continue
            out.append((t, pos))
        return out

    return (
        texts.fillna("").str.lower().str.findall(_URL_EMAIL_RE).map(finish)
    )


# ASCIIFoldingFilter analog (analysis/common/.../miscellaneous/
# ASCIIFoldingFilter.java): fold accented Latin to ASCII. The reference
# table covers ~2000 codepoints across many blocks; we implement the
# Latin-1 Supplement + Latin Extended-A subset web text actually uses
# (the reference's own mappings for these ranges, incl. the multi-char
# expansions AE/ae, TH/th, ss, OE/oe), generated from NFKD decomposition
# plus the explicit non-decomposable cases — one table drives BOTH
# engines (pandas str.translate here; translate()+replace() chain in
# jvm.py), so they cannot drift.


def _build_fold_table() -> dict[int, str]:
    import unicodedata

    specials = {
        "Æ": "AE", "æ": "ae", "Ð": "D", "ð": "d", "Ø": "O", "ø": "o",
        "Þ": "TH", "þ": "th", "ß": "ss", "Đ": "D", "đ": "d", "Ħ": "H",
        "ħ": "h", "ı": "i", "ĸ": "q", "Ł": "L", "ł": "l", "Ŋ": "N",
        "ŋ": "n", "Œ": "OE", "œ": "oe", "Ŧ": "T", "ŧ": "t", "ſ": "s",
    }
    table: dict[int, str] = {}
    for cp in range(0xC0, 0x180):
        ch = chr(cp)
        if ch in specials:
            table[cp] = specials[ch]
            continue
        folded = "".join(
            c for c in unicodedata.normalize("NFKD", ch) if ord(c) < 128
        )
        if folded and folded != ch:
            table[cp] = folded
    return table


FOLD_TABLE = _build_fold_table()


def fold_ascii(texts: pd.Series) -> pd.Series:
    return texts.str.translate(FOLD_TABLE)


def tokenize_standard_folding(texts: pd.Series) -> pd.Series:
    """StandardAnalyzer + ASCIIFoldingFilter ('text_general folding'
    style chain). Folding is letter-to-letter, so applying it to the
    raw text cannot move UAX#29 token boundaries — pre-tokenization
    folding is equivalent to the reference's per-token filter here."""
    return tokenize_standard(fold_ascii(texts.fillna("")))


def tokenize_standard_folding_with_positions(texts: pd.Series) -> pd.Series:
    return tokenize_standard_with_positions(fold_ascii(texts.fillna("")))


# ShingleFilter analog (analysis/common/.../shingle/ShingleFilter.java,
# defaults min=max=2, outputUnigrams=true, separator " "): emit every
# unigram plus the bigram starting at its position; a shingle carries
# the position of its FIRST token (the filter emits it with posIncr 0
# after the unigram). Chain = StandardTokenizer + LowerCase + Shingle —
# deliberately NO stop filter (the usual Solr shingle-field config;
# avoids the reference's "_" filler-token semantics for removed stops,
# documented subset). Overlong (>255) tokens are dropped before
# shingling, so a drop makes its neighbors adjacent (no filler).


def _shingle_pairs(toks: list[str]) -> list[tuple[str, int]]:
    # unigrams first, then bigrams — the SAME array order the JVM
    # expression produces (concat of the two transforms), so the
    # engines agree element-wise, not just as multisets
    low = [t.lower() for t in toks if len(t) <= MAX_TOKEN_LENGTH]
    out: list[tuple[str, int]] = [(t, i) for i, t in enumerate(low)]
    out.extend(
        (f"{t} {low[i + 1]}", i) for i, t in enumerate(low[:-1])
    )
    return out


def tokenize_shingle(texts: pd.Series) -> pd.Series:
    return (
        texts.fillna("")
        .str.findall(_TOKEN_RE)
        .map(lambda ts: [t for t, _ in _shingle_pairs(ts)])
    )


def tokenize_shingle_with_positions(texts: pd.Series) -> pd.Series:
    return texts.fillna("").str.findall(_TOKEN_RE).map(_shingle_pairs)


# EdgeNGramTokenFilter analog (analysis/common/.../ngram/
# EdgeNGramTokenFilter.java, minGram=1 maxGram=10): every emitted
# standard-chain token additionally emits its prefixes, ALL at the
# source token's position (the filter's grams keep the original
# offset/position; same same-position mechanics as the synonym
# injection). Index-time edge grams turn prefix search into a plain
# TERM lookup — the autocomplete scale path: no query-time wildcard
# expansion over the dictionary at all.
EDGE_MAX_GRAM = 10


def _edge_pairs(toks: list[str]) -> list[tuple[str, int]]:
    out: list[tuple[str, int]] = []
    pos = -1
    for t in toks:
        pos += 1  # stop/overlong drops still advance (standard chain)
        if len(t) > MAX_TOKEN_LENGTH or t in ENGLISH_STOP_WORDS:
            continue
        for g in range(1, min(len(t), EDGE_MAX_GRAM) + 1):
            out.append((t[:g], pos))
    return out


def tokenize_edge_ngram(texts: pd.Series) -> pd.Series:
    return (
        texts.fillna("")
        .str.lower()
        .str.findall(_TOKEN_RE)
        .map(lambda ts: [t for t, _ in _edge_pairs(ts)])
    )


def tokenize_edge_ngram_with_positions(texts: pd.Series) -> pd.Series:
    return texts.fillna("").str.lower().str.findall(_TOKEN_RE).map(_edge_pairs)


# WordDelimiterFilter analog (analysis/common/.../miscellaneous/
# WordDelimiterFilter.java, the common Solr indexing config:
# generateWordParts=1, generateNumberParts=1, splitOnCaseChange=1,
# splitOnNumerics=1, catenate*=0, preserveOriginal=0). Chain =
# WhitespaceTokenizer + WDF + LowerCaseFilter. Boundaries: lower->
# upper ("powerShell" -> power|Shell), end of an upper run before a
# lowered tail ("XMLParser" -> XML|Parser), letter<->digit ("src7" ->
# src|7, "j2se" -> j|2|se); any non-alphanumeric (incl. '_') is a
# delimiter ("wi-fi" -> wi|fi). Each part consumes one position
# (posIncr 1 — the filter renumbers downstream tokens), so positions
# are sequential over the flattened part stream; overlong (>255)
# parts are dropped but still advance the position
# (FilteringTokenFilter semantics). Subset notes: case classes are
# ASCII ([a-z]/[A-Z]) where the reference uses Character.isUpperCase;
# no catenate/preserveOriginal variants.
WDF_BOUNDARY_PAT = (
    r"(?<=[a-z])(?=[A-Z])"
    r"|(?<=[A-Z])(?=[A-Z][a-z])"
    r"|(?<=[^\W\d_])(?=\d)"
    r"|(?<=\d)(?=[^\W\d_])"
)
WDF_DELIM_PAT = r"[\W_]+"
_WDF_BOUNDARY = re.compile(WDF_BOUNDARY_PAT, re.UNICODE)
_WDF_DELIM = re.compile(WDF_DELIM_PAT, re.UNICODE)


def _wdf_pairs(text: str) -> list[tuple[str, int]]:
    parts = [
        p
        for tok in text.split()
        for p in _WDF_DELIM.split(_WDF_BOUNDARY.sub(" ", tok))
        if p
    ]
    return [
        (p.lower(), i)
        for i, p in enumerate(parts)
        if len(p) <= MAX_TOKEN_LENGTH
    ]


def tokenize_word_delimiter(texts: pd.Series) -> pd.Series:
    return texts.fillna("").map(
        lambda t: [w for w, _ in _wdf_pairs(t)]
    )


def tokenize_word_delimiter_with_positions(texts: pd.Series) -> pd.Series:
    return texts.fillna("").map(_wdf_pairs)


def _english_analyzers():
    from lucene_solr_spark.analysis.stem import minimal_stem_en, porter_stem

    return {
        "english": _make_english(porter_stem, False),
        "english_minimal": _make_english(minimal_stem_en, False),
    }, {
        "english": _make_english(porter_stem, True),
        "english_minimal": _make_english(minimal_stem_en, True),
    }


_EN, _EN_POS = _english_analyzers()

ANALYZERS = {
    "standard": tokenize_standard,
    "whitespace": tokenize_whitespace,
    "simple": tokenize_simple,
    "stop": tokenize_stop,
    "keyword": tokenize_keyword,
    "uax29_url_email": tokenize_url_email,
    "standard_folding": tokenize_standard_folding,
    "shingle": tokenize_shingle,
    "word_delimiter": tokenize_word_delimiter,
    "edge_ngram": tokenize_edge_ngram,
    **_EN,
}

ANALYZERS_POS = {
    "standard": tokenize_standard_with_positions,
    "whitespace": tokenize_whitespace_with_positions,
    "simple": tokenize_simple_with_positions,
    "stop": tokenize_stop_with_positions,
    "keyword": tokenize_keyword_with_positions,
    "uax29_url_email": tokenize_url_email_with_positions,
    "standard_folding": tokenize_standard_folding_with_positions,
    "shingle": tokenize_shingle_with_positions,
    "word_delimiter": tokenize_word_delimiter_with_positions,
    "edge_ngram": tokenize_edge_ngram_with_positions,
    **_EN_POS,
}

# analyzers whose stemming step runs on the term DICTIONARY in the
# segment builder (|vocab| python calls per segment, never per token);
# the JVM tokens column for these is the unstemmed standard+possessive
# chain and the arrow builder stems the pyarrow dictionary.
DICT_STEMMERS: dict = {}


def _register_dict_stemmers():
    from lucene_solr_spark.analysis.stem import minimal_stem_en, porter_stem

    DICT_STEMMERS["english"] = porter_stem
    DICT_STEMMERS["english_minimal"] = minimal_stem_en


_register_dict_stemmers()


def doc_lengths(token_lists: pd.Series) -> np.ndarray:
    """Norm field length = emitted token count (DefaultIndexingChain.java:637)."""
    return token_lists.str.len().to_numpy(dtype=np.int64)
