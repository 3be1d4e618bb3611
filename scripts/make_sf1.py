"""Deterministic sf1-equivalent dataset: union-amplify the sf0.1 parquet
with key-shifted copies (no network, no RNG — copy i shifts every key
family by i * a fixed per-family offset, preserving referential integrity
across customer/orders/lineitem/part/supplier/events/documents/embeddings).
Dims nation/region stay as-is — at real scale dims grow far slower than
facts, and keeping them small preserves the broadcast-join shape.

Output: $SPARK_GRAFT_SF1_DIR (default /tmp/spark_graft_sf1)/{table}.parquet,
loadable by the engine catalog exactly like the driver testdata. Amplified
copies are content-identical up to keys, which is fine for the purpose —
the sf1 run grades SCALING (shuffle sizes, plan flips, super-linearity),
not correctness (that's the sf0.01 oracle's job).

Run: python scripts/make_sf1.py  [AMPLIFY=10]
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/spark_graft_sf1")
AMPLIFY = int(os.environ.get("SPARK_GRAFT_AMPLIFY", "10"))

# HARD GUARD (round-11 incident): this script must never write into the
# driver's read-only testdata — a mispointed SPARK_GRAFT_SF1_DIR once
# overwrote /root/testdata/sf0.01 (root ignores the read-only mode bits).
from scripts._guard import assert_not_testdata  # noqa: E402

DST = assert_not_testdata(DST)

# Per-key-family shift offsets — far above any sf0.1 key value, so copies
# can never collide.
K_CUST = 1_000_000
K_SUPP = 1_000_000
K_PART = 1_000_000
K_ORD = 10_000_000
K_EVT = 10_000_000
K_DOC = 1_000_000

# table -> {column: offset}; empty dict = copy through unchanged (dims).
SHIFTS: dict[str, dict[str, int]] = {
    "region": {},
    "nation": {},
    "customer": {"c_custkey": K_CUST},
    "supplier": {"s_suppkey": K_SUPP},
    "part": {"p_partkey": K_PART},
    "orders": {"o_orderkey": K_ORD, "o_custkey": K_CUST},
    "lineitem": {"l_orderkey": K_ORD, "l_partkey": K_PART, "l_suppkey": K_SUPP},
    "events": {"event_id": K_EVT, "user_id": K_CUST},
    "documents": {"doc_id": K_DOC},
    "embeddings": {"vec_id": K_DOC},
}


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    from pyspark.sql import functions as F

    from music_recommendation_service_spark.session import get_spark
    from music_recommendation_service_spark.sources.catalog import load_table

    spark = get_spark("make_sf1")
    t_start = time.perf_counter()
    for table, shifts in SHIFTS.items():
        t0 = time.perf_counter()
        base = load_table(spark, SRC, table)
        if not shifts:
            out = base
        else:
            copies = []
            for i in range(AMPLIFY):
                c = base
                for col, off in shifts.items():
                    c = c.withColumn(
                        col, (F.col(col) + F.lit(i * off)).cast(base.schema[col].dataType)
                    )
                copies.append(c)
            out = copies[0]
            for c in copies[1:]:
                out = out.unionByName(c)
        path = f"{DST}/{table}.parquet"
        out.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        print(f"{table}: {n} rows -> {path} ({time.perf_counter() - t0:.1f}s)")
    print(f"done in {time.perf_counter() - t_start:.1f}s")


if __name__ == "__main__":
    main()
