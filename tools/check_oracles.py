"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` twin on DuckDB
over the same parquet tables, compare row count, column-name set, and
an order-insensitive value hash.

Usage: python tools/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import decimal
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        # Deliberately NOT normalized to float: a DECIMAL-producing
        # oracle must fail here the same way it fails in the driver —
        # fix the oracle SQL with explicit casts instead.
        return "dec:" + str(v)
    if isinstance(v, float):
        if v != v or v in (float("inf"), float("-inf")):
            return f"f:{v}"  # NaN/Inf must FAIL the query, not crash the harness
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.6f}".rstrip("0").rstrip(".")
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main():
    # an sf_dir argument must BE a directory — a typo'd path must not
    # silently become a query-name filter (zero queries run, exit 0,
    # false "N/N pass")
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.01"
    # args[0] is the sf_dir when it IS a directory (covers bare
    # relative names like 'sf0.01') or is path-shaped; a path-shaped
    # non-directory stays a loud error rather than a query filter
    if args and (os.path.isdir(args[0]) or "/" in args[0] or os.sep in args[0]):
        if not os.path.isdir(args[0]):
            print(f"error: sf_dir {args[0]!r} does not exist", file=sys.stderr)
            sys.exit(2)
        sf_dir, args = args[0], args[1:]
    only = set(args)

    from ai_bangladesh_address_parser_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark("check-oracles", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"create view {t} as select * from '{p}'")

    qs, os_ = E.queries(), E.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"error: unknown queries {sorted(unknown)}", file=sys.stderr)
        sys.exit(2)
    failures, n_run = [], 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        n_run += 1
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:
            print(f"FAIL {name}: spark error: {str(ex)[:300]}")
            failures.append(name)
            continue
        if name not in os_:
            print(f"PASS {name}: rows-only ({len(srows)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            # fetch through Arrow as the correctness gate does: fetchall() turns
            # HUGEINT/DECIMAL into Python ints and hides the mismatch
            res = con.execute(os_[name]).arrow()
            ocols = res.column_names
            orows = list(zip(*(c.to_pylist() for c in res.columns)))
        except Exception as ex:
            print(f"FAIL {name}: duckdb error: {str(ex)[:300]}")
            failures.append(name)
            continue
        problems = []
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols spark={sorted(scols)} oracle={sorted(ocols)}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            hs, ho = value_hash(scols, srows), value_hash(ocols, orows)
            if hs != ho:
                problems.append(f"valuehash spark={hs} oracle={ho}")
                # show a few differing rows for debugging
                order_s = sorted(range(len(scols)), key=lambda i: scols[i])
                order_o = sorted(range(len(ocols)), key=lambda i: ocols[i])
                set_s = {tuple(canon(r[i]) for i in order_s) for r in srows}
                set_o = {tuple(canon(r[i]) for i in order_o) for r in orows}
                for d in list(set_s - set_o)[:3]:
                    problems.append(f"  spark-only: {d}")
                for d in list(set_o - set_s)[:3]:
                    problems.append(f"  oracle-only: {d}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures.append(name)
        else:
            print(f"PASS {name}: {len(srows)} rows match [{time.time()-t0:.1f}s]")

    print(f"\n{n_run - len(failures)}/{n_run} queries pass"
          + ("" if n_run == len(qs) else f" ({len(qs) - n_run} filtered out)"))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
