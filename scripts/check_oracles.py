"""Local stand-in for the driver's correctness gate: run every
queries() entry and its oracle_sql() through DuckDB at the given SF,
compare row count, sorted-column schema, and order-insensitive
value hash. A query that leaves the session SQL conf changed (a
toggle it did not restore) fails too."""

import hashlib
import sys
import time

import duckdb

sys.path.insert(0, "/root/repo")
import __spark_entry__ as entry  # noqa: E402
from spatula_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = sys.argv[2].split(",") if len(sys.argv) > 2 else None

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(v):
    if v is None:
        return "\\N"
    if isinstance(v, float):
        return f"{v:.9g}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        "\x01".join(norm(r[i]) for i in order) for r in rows
    )
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def session_conf(spark):
    return {r[0]: r[1] for r in spark.sql("SET").collect()}


def conf_leak(before, after):
    """{key: (before, after)} for every conf the query left changed."""
    return {k: (before.get(k), after.get(k))
            for k in before.keys() | after.keys()
            if before.get(k) != after.get(k)}


def main():
    spark = get_spark(cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    qs, oracles = entry.queries(), entry.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        conf_before = session_conf(spark)
        try:
            sdf = fn(spark, SF_DIR)
            scols = sorted(sdf.columns)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append((name, f"SPARK ERROR {type(e).__name__}: {e}"))
            print(f"{name:24s} SPARK ERROR: {str(e)[:200]}", flush=True)
            continue
        finally:
            leak = conf_leak(conf_before, session_conf(spark))
            if leak:
                failures.append((name, f"CONF LEAK {leak}"))
                print(f"{name:24s} CONF LEAK: {leak}", flush=True)
        t1 = time.time()
        if name not in oracles:
            print(f"{name:24s} rows={len(srows):6d} (rows-only, no oracle) "
                  f"[{t1-t0:5.1f}s]", flush=True)
            continue
        try:
            res = con.sql(oracles[name])
            dcols = sorted(res.columns)
            drows = res.fetchall()
        except Exception as e:
            failures.append((name, f"DUCK ERROR {type(e).__name__}: {e}"))
            print(f"{name:24s} DUCK ERROR: {str(e)[:200]}", flush=True)
            continue
        t2 = time.time()
        ok_rows = len(srows) == len(drows)
        ok_schema = [c.lower() for c in scols] == [c.lower() for c in dcols]
        sh = value_hash(srows, list(sdf.columns))
        dh = value_hash(drows, list(res.columns))
        ok_hash = sh == dh
        status = "OK" if (ok_rows and ok_schema and ok_hash) else "MISMATCH"
        print(
            f"{name:24s} {status} rows={len(srows)}/{len(drows)} "
            f"schema={'=' if ok_schema else scols} hash={'=' if ok_hash else 'DIFF'} "
            f"[spark {t1-t0:4.1f}s duck {t2-t1:4.1f}s]",
            flush=True,
        )
        if status != "OK":
            failures.append((name, f"rows {len(srows)}/{len(drows)} "
                             f"schema {scols} vs {dcols} hash {ok_hash}"))
            if not ok_hash and ok_rows and ok_schema:
                ss = sorted(srows)[:3]
                ds = sorted(drows)[:3]
                print("  spark sample:", ss, flush=True)
                print("  duck  sample:", ds, flush=True)
    print("FAILURES:", len(failures), flush=True)
    for n, m in failures:
        print(" -", n, m[:300], flush=True)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
