"""Registry-wide oracle sweep: run EVERY __spark_entry__.queries() entry on a
VANILLA SparkSession (the driver contract — no engine configs) and compare
against its oracle_sql() in DuckDB over the same parquet tables, using the
SAME canonicalization as tests/oracle.py (columns sorted by name, floats
rounded to 6, rows sorted).

    python scripts/oracle_sweep.py [--sf-dir /root/testdata/sf0.01] \
        [--out CORRECTNESS_LOCAL_sf0.01.json] [--only q05,q27]

Emits a JSON artifact {query: {rows_match, schema_match, hash_match,
spark_rows, oracle_rows, err}} plus a one-line summary; exit code 1 on any
mismatch. This is the one-command evidence artifact for "all catalog
queries hash-match at SF x" claims.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=None)
    ap.add_argument("--only", default=None, help="comma-separated prefixes")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from tests.oracle import _canon, duck_run

    from music_recommendation_service_spark.session import default_driver_memory

    def make_session():
        # The driver contract itself is vanilla; the artifact sweep runs on
        # the cores this process may use and adds the engine's host-derived
        # driver heap because it COLLECTS full result sets (q02 at sf0.1 is
        # 1.2M rows) — the default 1g driver dies mid-sweep otherwise.
        cpus = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
        s = (
            SparkSession.builder.master(f"local[{cpus}]")
            .config("spark.sql.session.timeZone", "UTC")
            .config(
                "spark.driver.memory",
                os.environ.get("SWEEP_DRIVER_MEM") or default_driver_memory(),
            )
            .getOrCreate()
        )
        s.sparkContext.setLogLevel("ERROR")
        return s

    spark = make_session()

    # driver-contract smoke: entry() must run and return >=0 rows with a
    # stable schema on the vanilla session
    entry_df = E.entry(spark)
    entry_rows = len(entry_df.collect())
    print(f"entry: {entry_rows} rows, schema={entry_df.columns}")

    queries = E.queries()
    oracles = E.oracle_sql()
    if args.only:
        prefixes = tuple(args.only.split(","))
        queries = {k: v for k, v in queries.items() if k.startswith(prefixes)}

    results: dict[str, dict] = {}
    n_bad = 0
    for name, fn in queries.items():
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = fn(spark, args.sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(s_rows)
            sql = oracles.get(name)
            if sql is None:
                rec["rows_match"] = True
                rec["err"] = "no-oracle (rows-only check)"
                results[name] = rec
                print(f"{name}: rows-only (spark={rec['spark_rows']})")
                continue
            d_cols, d_rows = duck_run(args.sf_dir, sql)
            rec["oracle_rows"] = len(d_rows)
            rec["rows_match"] = len(s_rows) == len(d_rows)
            rec["schema_match"] = sorted(s_cols) == sorted(d_cols)
            if rec["schema_match"] and rec["rows_match"]:
                _, sc = _canon(s_cols, s_rows)
                _, dc = _canon(d_cols, d_rows)
                rec["hash_match"] = sc == dc
            else:
                rec["hash_match"] = False
            if not rec["hash_match"]:
                n_bad += 1
        except Exception as e:  # noqa: BLE001 — sweep must survive one bad query
            rec["err"] = f"{type(e).__name__}: {e}"[:500]
            n_bad += 1
            if "ConnectionRefused" in rec["err"] or "Py4JNetworkError" in rec["err"]:
                # the JVM died (OOM on a collect): restart and keep sweeping
                try:
                    spark.stop()
                except Exception:
                    pass
                spark = make_session()
        results[name] = rec
        flag = "OK" if rec["hash_match"] else "FAIL"
        print(
            f"{name}: {flag} (spark={rec['spark_rows']} oracle={rec['oracle_rows']})"
            + (f" err={rec['err']}" if rec["err"] else "")
        )

    summary = {
        "sf_dir": args.sf_dir,
        "n_queries": len(results),
        "n_mismatch": n_bad,
        "results": results,
    }
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
    print(
        json.dumps(
            {"n_queries": len(results), "n_mismatch": n_bad, "sf_dir": args.sf_dir}
        )
    )
    return 1 if n_bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
