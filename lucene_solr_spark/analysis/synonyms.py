"""Index-time synonym expansion (SynonymFilter analog).

Semantics mirrored from the reference (analysis/common/.../synonym/):

- Single-term rules with includeOrig=true — the SolrSynonymParser
  ``expand=true`` convention (SynonymMap.java:205 ``add(input, output,
  includeOrig)``); the original token is always kept and each mapped
  synonym is injected alongside it.
- Injected tokens take position increment 0 — they sit AT THE SAME
  position as the original (SynonymFilter.java:55-70 header contract),
  so phrase/sloppy matching sees them as alternatives at that slot.
- Injected tokens count toward sumTotalTermFreq/avgdl (their postings
  exist; DefaultIndexingChain.java:637 ``invertState.length++`` runs
  per token) but NOT toward the norm byte: posIncrement 0 marks them
  overlaps (DefaultIndexingChain.java:624 ``numOverlap++``) and the
  default similarity discounts overlaps from the encoded length
  (BM25Similarity.java:141 ``numTerms = length - numOverlap``,
  discountOverlaps = true) — so expansion does NOT shrink a
  document's norm.
- One pass, no transitivity: rule outputs are not re-matched against
  the map (SynonymFilter parses the INPUT stream only). Multi-token
  inputs/outputs (the FST graph part) are out of scope.

The map is compiled into a Spark MAP literal and applied with
``transform``/``flatten`` — constant-folded, whole-stage-codegen, no
Python in the token hot path. The pandas functions below are the
reference used by tests; stemming analyzers ("english*") reject
synonyms because the builder stems the term dictionary after
expansion, which would stem the injected synonyms too.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _norm_map(mapping: dict) -> dict[str, tuple[str, ...]]:
    out = {}
    for k, vs in mapping.items():
        if isinstance(vs, str):
            vs = (vs,)
        out[str(k)] = tuple(str(v) for v in vs)
    return out


def _map_literal(mapping: dict[str, tuple[str, ...]]) -> Column:
    entries = [
        F.struct(
            F.lit(k).alias("key"),
            F.array(*[F.lit(v) for v in vs]).alias("value"),
        )
        for k, vs in sorted(mapping.items())
    ]
    return F.map_from_entries(F.array(*entries))


def _empty_arr() -> Column:
    return F.array().cast("array<string>")


def expand_tokens_col(toks: Column, mapping: dict) -> Column:
    """tokens array -> tokens with synonyms injected after each match."""
    m = _map_literal(_norm_map(mapping))
    return F.flatten(
        F.transform(
            toks,
            lambda t: F.concat(
                F.array(t), F.coalesce(F.element_at(m, t), _empty_arr())
            ),
        )
    )


def expand_tokens_pos_col(pairs: Column, mapping: dict) -> Column:
    """(term, pos) struct array -> expanded, synonyms at the SAME pos
    (position increment 0)."""
    m = _map_literal(_norm_map(mapping))
    return F.flatten(
        F.transform(
            pairs,
            lambda s: F.concat(
                F.array(s),
                F.transform(
                    F.coalesce(F.element_at(m, s["term"]), _empty_arr()),
                    lambda v: F.struct(
                        v.alias("term"), s["pos"].alias("pos")
                    ),
                ),
            ),
        )
    )


def expand_token_lists(token_lists: pd.Series, mapping: dict) -> pd.Series:
    """pandas reference used by tests (expand_tokens_col)."""
    m = _norm_map(mapping)

    def one(toks):
        out = []
        for t in toks:
            out.append(t)
            out.extend(m.get(t, ()))
        return out

    return token_lists.map(one)


def expand_token_pos_lists(tp_lists: pd.Series, mapping: dict) -> pd.Series:
    """pandas reference used by tests (expand_tokens_pos_col)."""
    m = _norm_map(mapping)

    def one(pairs):
        out = []
        for t, p in pairs:
            out.append((t, p))
            out.extend((v, p) for v in m.get(t, ()))
        return out

    return tp_lists.map(one)
