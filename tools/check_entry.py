"""Driver emulator: run every queries() entry through Spark AND its
oracle_sql() through DuckDB at sf0.01, compare row count, column names,
column dtypes and order-insensitive values (sorted by all columns).
Mirrors the real driver's CORRECTNESS gate so regressions surface
before a round ends.

Dtypes compare by class (every integer width is "int"; float32 and
float64 differ) because a result hash reads a float column's bytes at
its own width: an f32 column never hashes like the oracle's doubles
even when every value widens exactly. Any Spark FloatType output
column fails outright.

Usage: python tools/check_entry.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import sys

import duckdb

sys.path.insert(0, ".")

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.10g}"
    return str(v)


_INTS = {"tinyint", "smallint", "int", "integer", "bigint", "hugeint",
         "utinyint", "usmallint", "uinteger", "ubigint"}


def dtype_class(t: str) -> str:
    """Comparable class of a Spark simpleString / DuckDB type name."""
    t = t.strip().lower()
    if t.endswith("[]"):
        return f"array<{dtype_class(t[:-2])}>"
    if t.startswith("array<"):
        return f"array<{dtype_class(t[6:-1])}>"
    if t in _INTS:
        return "int"
    if t in ("float", "real"):
        return "float32"
    if t == "double":
        return "float64"
    if t in ("string", "varchar"):
        return "string"
    if t == "blob":
        return "binary"
    if t.startswith("timestamp"):
        return "timestamp"
    return t.split("(")[0].split("<")[0]


def dtype_problems(spark_schema, duck_cols, duck_types) -> list[str]:
    """Per-column dtype mismatches; any FloatType column is one."""
    duck = {c: dtype_class(str(t)) for c, t in zip(duck_cols, duck_types)}
    out = []
    for f in spark_schema.fields:
        sc = dtype_class(f.dataType.simpleString())
        if sc == "float32":
            out.append(f"{f.name}: FloatType (cast to double)")
        elif f.name in duck and duck[f.name] != sc:
            out.append(f"{f.name}: spark {sc} vs oracle {duck[f.name]}")
    return out


def rows_key(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm_cell(r[i]) for i in order))
    return sorted(out)


def main():
    import os

    # data-dependent oracles (k-means IVF centroids) must train on the
    # SAME sf the Spark side runs at
    os.environ["SPARK_GRAFT_ORACLE_SF"] = SF

    import __spark_entry__ as entry_mod
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "16")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        try:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
        except Exception:
            pass

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    only = set(sys.argv[2:])
    if only:
        qs = {k: v for k, v in qs.items() if k in only}
    n_pass = n_fail = 0
    for name, fn in qs.items():
        try:
            df = fn(spark, SF)
            spark_rows = [tuple(r) for r in df.collect()]
            spark_cols = df.columns
            if name not in oracles:
                print(f"  {name:28s} rows={len(spark_rows)} (rows-only, no oracle)")
                continue
            rel = con.sql(oracles[name])
            duck_cols = rel.columns
            duck_rows = rel.fetchall()
            ok_cols = sorted(spark_cols) == sorted(duck_cols)
            bad_types = dtype_problems(df.schema, duck_cols, rel.types)
            ok_types = not bad_types
            ok_count = len(spark_rows) == len(duck_rows)
            ok_vals = rows_key(spark_rows, spark_cols) == rows_key(duck_rows, duck_cols)
            ok = ok_cols and ok_types and ok_count and ok_vals
            n_pass += ok
            n_fail += not ok
            status = "PASS" if ok else "FAIL"
            print(f"  {name:28s} {status} rows={len(spark_rows)}/{len(duck_rows)} cols={ok_cols} types={ok_types} vals={ok_vals}")
            if not ok:
                print(f"    spark cols: {spark_cols}  duck cols: {duck_cols}")
                for p in bad_types:
                    print(f"    dtype {p}")
                sk = rows_key(spark_rows, spark_cols)
                dk = rows_key(duck_rows, duck_cols)
                for a, b in list(zip(sk, dk))[:8]:
                    if a != b:
                        print(f"    spark {a}")
                        print(f"    duck  {b}")
                if len(sk) != len(dk):
                    print(f"    spark-only: {[x for x in sk if x not in dk][:3]}")
                    print(f"    duck-only : {[x for x in dk if x not in sk][:3]}")
        except Exception as e:
            n_fail += 1
            print(f"  {name:28s} ERROR {type(e).__name__}: {str(e)[:300]}")

    # entry() smoke
    if only:
        print(f"\n{n_pass} pass, {n_fail} fail")
        spark.stop()
        sys.exit(1 if n_fail else 0)
    try:
        res = entry_mod.entry(spark)
        cnt = len(res.collect())
        print(f"  entry() -> {cnt} rows, schema {res.schema.simpleString()[:120]}")
    except Exception as e:
        n_fail += 1
        print(f"  entry() ERROR {type(e).__name__}: {str(e)[:300]}")

    print(f"\n{n_pass} pass, {n_fail} fail")
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
