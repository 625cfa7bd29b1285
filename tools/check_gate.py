"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry against its oracle_sql() on the
same parquet tables, comparing row count, column-name set, and an
order-insensitive value comparison (columns sorted by name, rows sorted,
exact match after float normalization) — the same shape as
CORRECTNESS_r{N}.json. Usage:  python tools/check_gate.py [sf_dir] [names...]
Set CHECK_GATE_JSON=<path> to also write a machine record
{name: {"status", "rows", "sec", ...}} of the sweep.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from pubmedkb_web_spark.session import build_session  # noqa: E402
from tests.test_entry import TABLES, normalize  # noqa: E402


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = build_session(cores=8, shuffle_partitions=8, driver_memory="12g")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    n_pass = n_fail = 0
    record: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name:28s} spark error: {type(ex).__name__}: {str(ex)[:300]}")
            record[name] = {"status": "fail", "err": f"spark: {type(ex).__name__}"}
            n_fail += 1
            continue
        dt = time.time() - t0
        if name not in oracles:
            print(f"rows  {name:28s} {len(sdf):6d} rows   ({dt:5.1f}s, rows-only)")
            record[name] = {"status": "rows-only", "rows": len(sdf), "sec": round(dt, 1)}
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL  {name:28s} oracle error: {str(ex)[:300]}")
            record[name] = {"status": "fail", "err": f"oracle: {str(ex)[:200]}"}
            n_fail += 1
            continue
        s, o = normalize(sdf), normalize(odf)
        problems = []
        if len(s) != len(o):
            problems.append(f"rows {len(s)} vs {len(o)}")
        if list(s.columns) != list(o.columns):
            problems.append(f"cols {list(s.columns)} vs {list(o.columns)}")
        if not problems:
            if not s.equals(o):
                diff_cols = [c for c in s.columns if not s[c].equals(o[c])]
                problems.append(f"values differ in {diff_cols}")
                for c in diff_cols[:2]:
                    neq = s[c] != o[c]
                    print(f"      {name} first diffs in {c}:")
                    print(pd.concat([s[neq].head(3), o[neq].head(3)], axis=1, keys=["spark", "oracle"]).to_string()[:800])
        if problems:
            print(f"FAIL  {name:28s} {'; '.join(problems)}   ({dt:5.1f}s)")
            record[name] = {"status": "fail", "err": "; ".join(problems), "sec": round(dt, 1)}
            n_fail += 1
        else:
            print(f"pass  {name:28s} {len(s):6d} rows   ({dt:5.1f}s)")
            record[name] = {"status": "pass", "rows": len(s), "sec": round(dt, 1)}
            n_pass += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    json_out = os.environ.get("CHECK_GATE_JSON")
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(
                {"sf_dir": sf, "n_pass": n_pass, "n_fail": n_fail, "gates": record},
                f,
                indent=1,
            )
    spark.stop()
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
