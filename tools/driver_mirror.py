"""Local mirror of the external driver's CORRECTNESS gate.

Runs every WINDOW_PRIORITY query's Spark side and DuckDB oracle at the
driver's scale factor (sf0.01 by default) and compares row count, column
names, order-insensitive values, AND dtype compatibility — the strict
check the in-repo `harness.oracle.compare` relaxes (it normalizes Python
ints, which hid the round-2 tpch_q12 HUGEINT-vs-BIGINT hash artifact).

Usage: python tools/driver_mirror.py [sf_dir] [--all]
Exit code 0 = every window query green.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import SparkSession

from covid_data_pipeline_spark.harness.oracle import _norm
from covid_data_pipeline_spark.harness.registry import (
    QUERIES,
    WINDOW_PRIORITY,
)
from covid_data_pipeline_spark.harness.tables import TABLE_NAMES

# Spark simpleString type -> acceptable DuckDB arrow type prefixes.
# Anything not mapped falls back to "same string" equality.
_COMPAT = {
    "bigint": ("int64",),
    "int": ("int32", "int64"),
    "smallint": ("int16",),
    "double": ("double", "float64"),
    "float": ("float", "float32"),
    "string": ("string", "large_string"),
    "boolean": ("bool",),
    "date": ("date32",),
    "timestamp": ("timestamp",),
    "timestamp_ntz": ("timestamp",),
}


def _dtype_ok(spark_t: str, arrow_t: str) -> bool:
    ok = _COMPAT.get(spark_t)
    if ok is None:
        return True  # arrays/structs: value compare still applies
    return any(arrow_t.startswith(p) for p in ok)


def main() -> int:
    # Ledger tripwire (VERDICT r9 ask #7): an inconsistent VERIFIED.json
    # fold fails the mirror before any query runs.
    from tools.ledger_audit import audit as _ledger_audit

    ledger_errs = _ledger_audit()
    if ledger_errs:
        for e in ledger_errs:
            print(f"LEDGER-INCONSISTENT: {e}", file=sys.stderr)
        return 1

    args = sys.argv[1:]
    only = None
    if "--only" in args:
        i = args.index("--only")
        only = args[i + 1].split(",")
        del args[i : i + 2]
    positional = [a for a in args if not a.startswith("--")]
    sf_dir = positional[0] if positional else "/root/testdata/sf0.01"
    if only is not None:
        unknown = [n for n in only if n not in QUERIES]
        assert not unknown, f"unknown queries: {unknown}"
        names = only
    elif "--all" in args:
        names = list(QUERIES)
    else:
        names = list(WINDOW_PRIORITY)

    # Bare builder on purpose, not session.get_spark: this mirrors the
    # external driver's vanilla session, which sets none of our defaults.
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-mirror")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLE_NAMES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    report: dict[str, dict] = {}
    n_fail = 0
    for name in names:
        spec = QUERIES[name]
        if spec.oracle is None:
            report[name] = {"status": "rows-only"}
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            spark_cols = list(sdf.columns)
            spark_types = dict(sdf.dtypes)
            # The DRIVER's canonicalizer pandas-sorts result values and
            # crashes on unhashable cells (top-level array/map/struct —
            # r4's array_functions red row). Our string compare below
            # handles them fine, so without this gate the mirror would
            # PASS a query the driver records as err. Serialize complex
            # columns at the query boundary (array_join / to_json).
            complex_cols = [
                c for c, t in spark_types.items()
                if t.startswith(("array", "map", "struct"))
            ]
            if complex_cols:
                raise AssertionError(
                    "driver-unhashable top-level column(s) "
                    f"{complex_cols} — serialize at the query boundary"
                )
            spark_rows = [tuple(_norm(v) for v in r) for r in sdf.collect()]

            tbl = con.execute(spec.oracle).arrow()
            o_cols = tbl.schema.names
            o_types = {f.name: str(f.type) for f in tbl.schema}
            cur = con.execute(spec.oracle)
            o_rows = [tuple(_norm(v) for v in r) for r in cur.fetchall()]

            errs = []
            if sorted(spark_cols) != sorted(o_cols):
                errs.append(f"cols spark={spark_cols} oracle={o_cols}")
            else:
                for c in spark_cols:
                    if not _dtype_ok(spark_types[c], o_types[c]):
                        errs.append(
                            f"dtype {c}: spark={spark_types[c]} "
                            f"oracle={o_types[c]}"
                        )
            if len(spark_rows) != len(o_rows):
                errs.append(f"rows spark={len(spark_rows)} oracle={len(o_rows)}")
            if not errs:
                order = [spark_cols.index(c) for c in sorted(spark_cols)]
                o_order = [o_cols.index(c) for c in sorted(o_cols)]
                key = lambda t: tuple(  # noqa: E731
                    (v is None, type(v).__name__, str(v)) for v in t
                )
                s_sorted = sorted(
                    (tuple(r[i] for i in order) for r in spark_rows), key=key
                )
                os_sorted = sorted(
                    (tuple(r[i] for i in o_order) for r in o_rows), key=key
                )
                bad = [
                    (a, b) for a, b in zip(s_sorted, os_sorted) if a != b
                ]
                if bad:
                    errs.append(f"{len(bad)} value mismatches; first: {bad[0]}")
            status = "pass" if not errs else "FAIL"
            if errs:
                n_fail += 1
            report[name] = {
                "status": status,
                "rows": len(spark_rows),
                "sec": round(time.time() - t0, 2),
                **({"errs": errs} if errs else {}),
            }
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            report[name] = {"status": "ERROR", "err": str(e)[:300]}
        print(f"{report[name]['status']:8s} {name} "
              f"({report[name].get('sec', '?')}s)", flush=True)

    print(json.dumps({"sf_dir": sf_dir, "n": len(names), "fail": n_fail}))
    if len(names) < len(QUERIES) and os.path.exists(
        "driver_mirror_report.json"
    ):
        # partial runs (--only AND the default 50-query window) update
        # their rows in the full report instead of clobbering it — a
        # window re-run once shrank the committed report to 51 entries
        with open("driver_mirror_report.json") as f:
            merged = json.load(f)
        merged.update(report)
        report = merged
    with open("driver_mirror_report.json", "w") as f:
        json.dump(report, f, indent=1)
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
