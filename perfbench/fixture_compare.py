"""Compare the benchmark's seeded tables with a fixture directory.

    python3 perfbench/fixture_compare.py --fixture DIR [--seed 1] [--queries Q ...]

``DIR`` holds the ten fixture parquet tables the queries were written
against (for example an ``sf0.01`` test-data directory).  The script
writes ``tables.py``'s tables for ``--seed`` into ``.perfbench_work/``,
then prints, side by side:

* per table: row count; per column: distinct values, and min / mean /
  max (numbers, timestamps, string lengths, list lengths);
* per query (default: the ``batch_barrier`` list and its warm-up): the
  DuckDB oracle's result rows, the sum of each numeric result column,
  and the oracle's wall time.

It reads only the two directories and runs no Spark.  Use it when
``tables.py`` changes, to show that the generated data still drives the
queries the way the fixture data does.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def table_stats(con, table: str) -> dict:
    cols = con.execute(f"DESCRIBE {table}").fetchall()
    stats = {"rows": con.execute(f"SELECT count(*) FROM {table}").fetchone()[0]}
    for name, typ, *_ in cols:
        if typ.endswith("[]"):
            expr = f"len({name})"
        elif typ in ("VARCHAR",):
            expr = f"length({name})"
        elif typ.startswith("TIMESTAMP"):
            expr = f"epoch({name}) / 86400.0"      # days since 1970
        else:
            expr = f"{name}::DOUBLE"
        distinct = "NULL" if typ.endswith("[]") else f"count(DISTINCT {name})"
        row = con.execute(
            f"SELECT {distinct}, min({expr}), avg({expr}), max({expr}) "
            f"FROM {table}").fetchone()
        stats[name] = [None if v is None else round(float(v), 3) for v in row]
    return stats


def query_stats(con, sql: str) -> dict:
    t0 = time.time()
    df = con.execute(sql).df()
    out = {"rows": len(df), "oracle_s": round(time.time() - t0, 2)}
    for c in df.columns:
        if df[c].dtype.kind in "iuf":
            out[f"sum({c})"] = round(float(df[c].sum()), 3)
        elif df[c].dtype == object and df[c].nunique() <= 12:
            for value, n in sorted(df[c].value_counts().items()):
                out[f"count({c}={value})"] = int(n)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--fixture", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--queries", nargs="*")
    args = ap.parse_args(argv)
    sys.path[:0] = [ROOT, HERE]
    import tables
    from streamforge_spark import registry
    from tests.oracle import duck_con

    with open(os.path.join(HERE, "spec.json")) as fh:
        barrier = json.load(fh)["workloads"]["batch_barrier"]
    queries = args.queries or [barrier["warmup"]] + barrier["queries"]
    gen = os.path.join(ROOT, ".perfbench_work", f"compare-{os.getpid()}")
    tables.write_tables(gen, args.seed, barrier["scale"])
    registry.load_all()
    try:
        cons = {"fixture": duck_con(args.fixture), "generated": duck_con(gen)}
        print(f"{'item':46s} {'fixture':>34s} {'generated':>34s}")
        for t in TABLES:
            fix, got = (table_stats(c, t) for c in cons.values())
            for key in fix:
                print(f"{t + '.' + key:46s} {str(fix[key]):>34s} "
                      f"{str(got.get(key)):>34s}")
        for q in queries:
            fix, got = (query_stats(c, registry.ORACLES[q])
                        for c in cons.values())
            for key in fix:
                print(f"{q + '.' + key:46s} {str(fix[key]):>34s} "
                      f"{str(got.get(key)):>34s}")
    finally:
        shutil.rmtree(gen, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
