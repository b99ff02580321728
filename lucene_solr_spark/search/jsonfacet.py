"""JSON Facet API: arbitrary-depth facet trees compiled to DataFrame
aggregates (solr/core/src/java/org/apache/solr/search/facet/
FacetModule.java:47 — nested FacetRequest recursion; FacetField /
FacetRange / FacetQuery + AggValueSource stats).

A request is the reference's JSON-facet dict shape::

    {"type": "terms", "field": "lang", "limit": 3,
     "facet": {
         "avg_nc": "avg(n_chars)",                 # stat agg
         "srcs": {"type": "terms", "field": "source", "limit": 2,
                  "facet": {"max_nc": "max(n_chars)",
                            "big":  {"type": "query",
                                     "q": "n_chars > 300",
                                     "facet": {"sum_nc": "sum(n_chars)"}}}},
     }}

and compiles to ONE flattened bucket table::

    facet        bucket_path   count   <stat columns...>
    srcs         en|src3       17      max_nc=...
    srcs.big     en|src3|big   9       sum_nc=...

one row per bucket at EVERY level (`facet` = dotted node-name path,
`bucket_path` = '|'-joined bucket values down the tree), stats from
different nodes union into one column set (null where a node does not
request that stat) — deterministic and directly SQL-expressible, so a
DuckDB oracle can replay the whole tree.

Semantics pinned to the reference:
- terms buckets sort count desc, tie bucket value asc ("index"),
  `limit` buckets kept PER PARENT bucket (FacetFieldProcessor
  bucket-limit); limit defaults 10, a negative limit keeps every
  bucket (FacetField.java:562); sort "index" supported.
- query facets have one bucket, named by the node key, matching rows
  filtered by the `q` expression (FacetQuery).
- range facets bucket [start, start+gap), ... up to end, lower edge
  inclusive (FacetRange default include); bucket value = the range
  start, like the reference's `val`. Documented deviation: only
  buckets holding at least one row are emitted — the reference's
  mincount=0 gap spine (zero-count buckets for empty ranges) is not
  generated.
- stats: count / sum / avg / min / max / unique over a column
  (AggValueSource; unique is exact countDistinct here — the
  reference's hll/unique approximation is a documented deviation).
  A stat may not be named `count`, `facet` or `bucket_path`: those
  are the bucket table's own columns (ValueError).

Scale shape: every level is a hash aggregate keyed by the bucket-path
prefix — the child's shuffle key extends the parent's, so AQE can
chain the exchanges; the per-parent `limit` is applied with a window
over the parent prefix BEFORE the child level runs, and each child
level left-semi-joins the surviving parent buckets (limit pushdown —
at 100 TB a limit=10 terms facet feeds its children 10 buckets per
parent, not the whole domain). No driver state beyond the request
tree; the output union is a few-hundred-row frame per level cap.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dc_field

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_STAT_PAT = re.compile(r"^\s*(count|sum|avg|min|max|unique)\s*\(\s*([\w.]*)\s*\)\s*$")
# output columns of the bucket table a stat alias would overwrite
_RESERVED = ("facet", "bucket_path", "count")


@dataclass
class _Node:
    name: str
    kind: str                      # terms | query | range
    field: str | None = None
    q: str | None = None
    start: float | None = None
    end: float | None = None
    gap: float | None = None
    limit: int = 10
    sort: str = "count"            # count | index
    mincount: int = 1              # FacetField default mincount=1
    prefix: str | None = None      # terms bucket-value prefix filter
    missing: bool = False          # emit a bucket for null field values
    all_buckets: bool = False      # allBuckets: one unlimited rollup row
    stats: list[tuple[str, str, str]] = dc_field(default_factory=list)
    children: list["_Node"] = dc_field(default_factory=list)


def _parse(name: str, spec: dict) -> _Node:
    kind = spec.get("type", "terms")
    if kind not in ("terms", "query", "range"):
        raise ValueError(f"unsupported facet type {kind!r} at {name!r}")
    node = _Node(
        name=name, kind=kind, field=spec.get("field"), q=spec.get("q"),
        start=spec.get("start"), end=spec.get("end"), gap=spec.get("gap"),
        limit=int(spec.get("limit", 10)),
        sort=spec.get("sort", "count"),
        mincount=int(spec.get("mincount", 1)),
        prefix=spec.get("prefix"),
        missing=bool(spec.get("missing", False)),
        all_buckets=bool(spec.get("allBuckets", False)),
    )
    if kind == "terms" and not node.field:
        raise ValueError(f"terms facet {name!r} needs a field")
    if kind == "query" and not node.q:
        raise ValueError(f"query facet {name!r} needs q")
    if kind == "range" and None in (node.field, node.start, node.end,
                                    node.gap):
        raise ValueError(f"range facet {name!r} needs field/start/end/gap")
    if node.sort not in ("count", "index"):
        raise ValueError(f"unsupported sort {node.sort!r} at {name!r}")
    for key, sub in (spec.get("facet") or {}).items():
        if isinstance(sub, str):
            if key in _RESERVED:
                raise ValueError(
                    f"stat alias {key!r} at {name!r} is reserved (an "
                    f"output column)"
                )
            m = _STAT_PAT.match(sub)
            if not m:
                raise ValueError(f"unparseable stat {sub!r} at {name!r}")
            fn, col = m.group(1), m.group(2)
            if fn != "count" and not col:
                raise ValueError(f"{fn} needs a column at {name!r}")
            node.stats.append((key, fn, col))
        elif isinstance(sub, dict):
            node.children.append(_parse(key, sub))
        else:
            raise ValueError(f"facet entry {key!r} must be str or dict")
    return node


def _stat_cols(node: _Node) -> list:
    out = []
    for alias, fn, col in node.stats:
        if fn == "count":
            out.append(F.count(F.lit(1)).cast("double").alias(alias))
        elif fn == "unique":
            out.append(F.countDistinct(col).cast("double").alias(alias))
        elif fn == "avg":
            out.append(F.avg(col).cast("double").alias(alias))
        else:
            out.append(getattr(F, fn)(col).cast("double").alias(alias))
    return out


def _collect_stat_aliases(node: _Node, acc: list[str]) -> None:
    for alias, _fn, _c in node.stats:
        if alias not in acc:
            acc.append(alias)
    for ch in node.children:
        _collect_stat_aliases(ch, acc)


def _bucket_col(node: _Node):
    """The bucket-value expression this node groups by (string), or
    None for query facets (single bucket named after the node)."""
    if node.kind == "terms":
        return F.col(node.field).cast("string")
    if node.kind == "range":
        idx = F.floor(
            (F.col(node.field) - F.lit(node.start)) / F.lit(node.gap)
        )
        val = (F.lit(node.start) + idx * F.lit(node.gap))
        # integral gaps print like the reference's integer val
        if float(node.gap) == int(node.gap) and float(node.start) == int(
            node.start
        ):
            val = val.cast("long")
        return val.cast("string")
    return None


def _node_filter(node: _Node):
    if node.kind == "query":
        return F.expr(node.q)
    if node.kind == "range":
        return (F.col(node.field) >= F.lit(node.start)) & (
            F.col(node.field) < F.lit(node.end)
        )
    return None


def json_facet(df: DataFrame, request: dict | None = None,
               **named: dict) -> DataFrame:
    """Compile a JSON-facet tree over `df`. `request` is one root spec
    (named "facet"), or pass several roots as keyword args. Returns
    the flattened bucket table described in the module docstring,
    ordered by (facet, bucket_path)."""
    roots = []
    if request is not None:
        roots.append(_parse("facet", request))
    for k, v in named.items():
        roots.append(_parse(k, v))
    if not roots:
        raise ValueError("no facet request given")
    aliases: list[str] = []
    for r in roots:
        _collect_stat_aliases(r, aliases)

    frames: list[DataFrame] = []

    def build(node: _Node, parent: DataFrame, prefix_cols: list[str],
              path_name: str) -> None:
        name = f"{path_name}.{node.name}" if path_name else node.name
        cur = parent
        flt = _node_filter(node)
        if flt is not None:
            cur = cur.where(flt)
        bcol = _bucket_col(node)
        depth = len(prefix_cols)
        vcol = f"_fv{depth}"
        extras: list[DataFrame] = []
        if node.kind == "terms":
            # terms buckets exclude null field values; missing:true
            # reports them as one '__missing__' bucket and
            # allBuckets:true one pre-limit '__all__' rollup
            # (FacetField missing/allBuckets semantics; Solr nests
            # them as separate response keys — flattened here as
            # reserved bucket values)
            nonnull = cur.where(F.col(node.field).isNotNull())
            if node.prefix is not None:
                nonnull = nonnull.where(
                    F.col(node.field).cast("string").startswith(node.prefix)
                )
            if node.missing:
                extras.append(
                    cur.where(F.col(node.field).isNull()).withColumn(
                        vcol, F.lit("__missing__")
                    )
                )
            if node.all_buckets:
                extras.append(nonnull.withColumn(vcol, F.lit("__all__")))
            cur = nonnull
        if bcol is not None:
            cur = cur.withColumn(vcol, bcol)
        else:
            cur = cur.withColumn(vcol, F.lit(node.name))
        keys = prefix_cols + [vcol]
        agg = cur.groupBy(*keys).agg(
            F.count(F.lit(1)).alias("_cnt"), *_stat_cols(node)
        )
        if node.kind in ("terms", "range") and node.mincount > 1:
            agg = agg.where(F.col("_cnt") >= node.mincount)
        if node.kind == "terms" and node.limit >= 0:
            order = (
                [F.desc("_cnt"), F.asc(vcol)]
                if node.sort == "count" else [F.asc(vcol)]
            )
            if prefix_cols:
                w = Window.partitionBy(*prefix_cols).orderBy(*order)
            else:
                w = Window.partitionBy(F.lit(1)).orderBy(*order)
            agg = (
                agg.withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") <= node.limit)
                .drop("_rn")
            )

        def to_rows(a: DataFrame) -> DataFrame:
            return a.select(
                F.lit(name).alias("facet"),
                F.concat_ws("|", *keys).alias("bucket_path"),
                F.col("_cnt").cast("long").alias("count"),
                *[
                    (F.col(al) if any(al == s[0] for s in node.stats)
                     else F.lit(None).cast("double")).alias(al)
                    for al in aliases
                ],
            )

        frames.append(to_rows(agg))
        for ex in extras:
            frames.append(to_rows(
                ex.groupBy(*keys).agg(
                    F.count(F.lit(1)).alias("_cnt"), *_stat_cols(node)
                )
            ))
        if node.children:
            # limit pushdown: children only see surviving buckets
            survivors = agg.select(*keys)
            child_src = cur.join(survivors, keys, "left_semi")
            for ch in node.children:
                build(ch, child_src, keys, name)

    for r in roots:
        build(r, df, [], "")
    out = frames[0]
    for f2 in frames[1:]:
        out = out.unionByName(f2)
    return out.orderBy("facet", "bucket_path")
