#!/usr/bin/env python
"""Driver-mimic: run each __spark_entry__ query and its DuckDB oracle at a
given SF and compare row count + sorted-column value hash (the same contract
the real correctness gate applies).

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

import hashlib
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def canon(df: pd.DataFrame) -> tuple[int, str, str]:
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize cell repr: floats to repr with rounding guard, others str
    def cell(v):
        if v is None or v != v:
            return "∅"
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    rows = sorted(
        "\x01".join(cell(v) for v in rec) for rec in df.itertuples(index=False)
    )
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(df), ",".join(sorted(df.columns)), h


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entrymod
    from spaczz_spark.plans.pipeline import recommended_session

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = recommended_session(app="oracle-check", master=f"local[{cores}]",
                                shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:
            print(f"{name:28s} SPARK-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        t_spark = time.time() - t0
        if name not in oracles:
            print(f"{name:28s} rows={len(sdf):6d}  (no oracle — rows-only) "
                  f"spark={t_spark:5.1f}s")
            continue
        t0 = time.time()
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"{name:28s} ORACLE-ERROR {type(e).__name__}: {str(e)[:200]}")
            failures.append(name)
            continue
        t_oracle = time.time() - t0
        sn, sc, sh = canon(sdf)
        on, oc, oh = canon(odf)
        ok = (sn, sc, sh) == (on, oc, oh)
        status = "OK " if ok else "MISMATCH"
        print(f"{name:28s} {status} rows={sn}/{on} "
              f"spark={t_spark:5.1f}s duck={t_oracle:5.1f}s"
              + ("" if ok else f"\n    spark cols={sc} hash={sh}"
                               f"\n    duck  cols={oc} hash={oh}"))
        if not ok:
            failures.append(name)
    print("\nFAILURES:", failures or "none")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
