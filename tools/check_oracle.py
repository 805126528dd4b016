"""Local stand-in for the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at
sf0.01, compare row count + column names + order-insensitive values.

Usage: python tools/check_oracle.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb
import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("ORACLE_SF_DIR", "/root/testdata/sf0.01")
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

# Probes that are DESIGNED to diverge (each docstring says why): a FAIL
# here is the expected diagnostic signal, not a defect.  XPASS is the
# anomaly worth reporting — it means the strict compare lost its edge.
EXPECTED_DIVERGENT = {
    "probe_int_float_hash",
    "probe_hugeint_sum",
    "probe_regex_ws_vt",
    "probe_json_cast_old",
}


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)

    def norm_cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, (np.floating, float)):
            # Dtype-class-STRICT: an integral float renders "150.0", never
            # "150".  DuckDB sum(integer) returns HUGEINT -> pandas float64,
            # while Spark sum(int) is int64; the r1/r2 driver hash-fails
            # ("150.0" vs "150") were exactly this, and the old lossy
            # normalization here collapsed both to "150" and masked it.
            s = f"{float(v):.10g}"
            if "." not in s and "e" not in s and "inf" not in s:
                s += ".0"
            return s
        if isinstance(v, (np.integer, int)):
            return str(int(v))
        if isinstance(v, (list, np.ndarray)):
            return "[" + ",".join(norm_cell(x) for x in v) + "]"
        if isinstance(v, pd.Timestamp):
            return v.tz_localize(None).isoformat() if v.tzinfo else v.isoformat()
        return str(v)

    out = pdf.map(norm_cell)
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    errs = []
    if len(spark_df) != len(oracle_df):
        errs.append(f"rows: spark={len(spark_df)} oracle={len(oracle_df)}")
        return errs  # misaligned frames cannot value-compare
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        errs.append(f"cols: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}")
        return errs
    a, b = canon(spark_df), canon(oracle_df)
    if not a.equals(b):
        neq = (a != b).any(axis=1)
        diff = pd.concat([a[neq].head(3).add_suffix("_spark"), b[neq].head(3).add_suffix("_oracle")], axis=1)
        errs.append(f"values differ on {int(neq.sum())} rows; first:\n{diff.to_string()}")
    return errs


def main(only: list[str], json_path: str | None = None) -> int:
    import __spark_entry__ as entry_mod
    from parquet_editor_spark.session import get_spark

    # ORACLE_TZ / ORACLE_PARTITIONS simulate the driver's session, whose
    # timezone and parallelism we do not control: every query must hash-
    # match the oracle under ANY session tz and shuffle width.
    extra = {}
    if os.environ.get("ORACLE_TZ"):
        extra["spark.sql.session.timeZone"] = os.environ["ORACLE_TZ"]
    spark = get_spark(
        app_name="oracle-check",
        shuffle_partitions=int(os.environ.get("ORACLE_PARTITIONS", "0")) or None,
        extra_conf=extra,
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    failed = []
    results: dict[str, dict] = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
        }
        results[name] = rec
        try:
            got = fn(spark, SF_DIR).toPandas()
            rec["spark_rows"] = len(got)
        except Exception as e:
            print(f"FAIL {name}: spark error {e}", flush=True)
            rec["err"] = f"spark: {e}"
            failed.append(name)
            continue
        if name not in oracles:
            print(f"PASS {name}: rows-only ({len(got)} rows, no oracle)", flush=True)
            rec["err"] = "no_oracle"
            continue
        try:
            want = con.execute(oracles[name]).fetchdf()
            rec["oracle_rows"] = len(want)
        except Exception as e:
            print(f"FAIL {name}: oracle error {e}", flush=True)
            rec["err"] = f"oracle: {e}"
            failed.append(name)
            continue
        errs = compare(name, got, want)
        rec["rows_match"] = len(got) == len(want)
        rec["schema_match"] = sorted(got.columns) == sorted(want.columns)
        rec["hash_match"] = not errs
        if errs and name in EXPECTED_DIVERGENT:
            print(f"XFAIL {name}: expected divergence (diagnostic probe)", flush=True)
            rec["err"] = "expected_divergent"
        elif errs:
            print(f"FAIL {name}: " + "; ".join(errs), flush=True)
            failed.append(name)
        elif name in EXPECTED_DIVERGENT:
            print(f"XPASS {name}: expected divergence DID NOT fire — "
                  "strict compare may have lost dtype sensitivity", flush=True)
            failed.append(name)
        else:
            print(f"PASS {name} ({len(got)} rows)", flush=True)
    ran = len(results)
    print(f"\n{ran - len(failed)}/{ran} passed", flush=True)
    if json_path:
        import json

        with open(json_path, "w") as f:
            json.dump(results, f, indent=2)
        print(f"wrote {json_path}")
    return 1 if failed else 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            raise SystemExit("usage: check_oracle.py [--json PATH] [name ...]")
        out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    argv = [a for a in argv if a != "--only"]
    raise SystemExit(main(argv, out))
