#!/usr/bin/env python3
"""Regenerates perfbench/expected/digests.json, the committed output digests
the benchmark checks every query op against.

    python3 perfbench/make_digests.py

It runs every benchmarked query once (the bi-floor population and
corpus-heavy at sf0.1, corpus-heavy also at sf0.01), digests each result as
stats.digest does, and runs the query's DuckDB oracle SQL
(SparkEntry.oracleSql) over the same parquet tables through the same
canonicalisation. A query whose Spark and DuckDB digests differ is reported
and the script exits non-zero without writing the file, so every committed
digest is one the oracle agreed with.
"""

import json
import os
import shutil
import sys
import types

import run
import stats


def oracle_digest(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return stats.digest(cols, cur.fetchall())


def main():
    import duckdb
    classpath, _ = run.build()
    sf, small = run.data_dirs()
    work = os.path.join(run.ROOT, ".bench_build", "digests")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = types.SimpleNamespace(workload="digests", seed=0, seconds=0, trace=0)
    try:
        run.JVM_TIMEOUT_S = 1800
        res, _ = run.run_jvm(args, classpath, work, os.path.join(work, "out.json"))
        oracle = res["extra"]["oracle_sql"]
        cons = {}
        for scale, d in (("sf0.1", sf), ("sf0.01", small)):
            con = duckdb.connect()
            for t in sorted(os.listdir(d)):
                if t.endswith(".parquet"):
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM "
                                f"read_parquet('{os.path.join(d, t)}')")
            cons[scale] = con
        out, bad = {}, []
        for c in res["checks"]:
            if c["kind"] == "failed":
                bad.append(f"{c['name']}: {c['error']}")
                continue
            got = stats.parquet_digest(c["dir"])
            sql = oracle.get(c["name"])
            if sql is None:
                bad.append(f"{c['name']}@{c['scale']}: no oracle SQL")
                continue
            want = oracle_digest(cons[c["scale"]], sql)
            status = "PASS" if got == want else "FAIL"
            print(f"{status} {c['name']}@{c['scale']} ({got['rows']} rows)")
            if got != want:
                bad.append(f"{c['name']}@{c['scale']}: spark {got} != duckdb {want}")
            out.setdefault(c["scale"], {})[c["name"]] = got
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        sys.exit(1)
    path = os.path.join(run.HERE, "expected", "digests.json")
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"wrote {path}")


if __name__ == "__main__":
    main()
