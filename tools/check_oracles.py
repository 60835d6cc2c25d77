"""Self-check mimicking the driver's correctness gate: run every
queries() entry on Spark AND its oracle_sql() on DuckDB at sf0.01,
compare row count, schema (column names), and an order-insensitive
value hash over name-sorted columns.

Usage: python tools/check_oracles.py [sf_dir] [only_query ...]
"""

from __future__ import annotations

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                if v == int(v) and abs(v) < 1e15:
                    v = int(v)  # 1.0 vs 1 normalization
                else:
                    v = repr(round(v, 9))
            if isinstance(v, bool):
                v = int(v)
            vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return hashlib.md5("\n".join(out).encode()).hexdigest()


def normalize_strict(rows, cols):
    """Driver-strict hash: raw repr(value) per cell, NO rounding, NO
    Decimal/int/bool coercion — the round-5 graph_assortativity red row
    (Spark Decimal vs DuckDB int, values bitwise identical) passed the
    loose normalizer above and failed the driver; this mode surfaces
    that whole class of engine-boundary TYPE asymmetries."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["|".join(repr(row[i]) for i in order) for row in rows]
    out.sort()
    return hashlib.md5("\n".join(out).encode()).hexdigest()


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as m
    from parrsb_spark.session import get_spark

    qs, osql = m.queries(), m.oracle_sql()
    unknown = sorted(only - set(qs))
    if unknown:
        # a name queries() does not register would otherwise be skipped
        # and the run would still end with FAILURES: none
        print("UNKNOWN QUERIES (not in queries()):", " ".join(unknown))
        sys.exit(1)

    spark = get_spark(master="local[16]", app_name="oracle-check", shuffle_partitions=16)

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            cols = df.columns
            rows = [tuple(r) for r in df.collect()]
        except Exception as e:
            print(f"{name:28s} SPARK-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        if name not in osql:
            print(f"{name:28s} rows-only   rows={len(rows)}  ({time.time()-t0:.1f}s)")
            if len(rows) == 0:
                failures.append(name + ":empty")
            continue
        try:
            res = con.sql(osql[name])
            ocols = [c for c in res.columns]
            orows = res.fetchall()
        except Exception as e:
            print(f"{name:28s} ORACLE-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        ok_schema = sorted(cols) == sorted(ocols)
        ok_count = len(rows) == len(orows)
        h1 = normalize(rows, cols)
        h2 = normalize(orows, ocols)
        ok_hash = h1 == h2
        ok_strict = normalize_strict(rows, cols) == normalize_strict(orows, ocols)
        status = "MATCH" if (ok_schema and ok_count and ok_hash) else "MISMATCH"
        schema_msg = "ok" if ok_schema else f"{sorted(cols)}|{sorted(ocols)}"
        hash_msg = "ok" if ok_hash else f"{h1[:8]}!={h2[:8]}"
        print(
            f"{name:28s} {status:9s} rows={len(rows)}/{len(orows)} "
            f"schema={schema_msg} hash={hash_msg} strict={'ok' if ok_strict else 'DIFF'}"
            f"  ({time.time()-t0:.1f}s)"
        )
        if status != "MATCH":
            failures.append(name)
        elif not ok_strict:
            failures.append(name + ":strict")
    spark.stop()
    print("FAILURES:", failures if failures else "none")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
