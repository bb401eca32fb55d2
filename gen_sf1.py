#!/usr/bin/env python
"""Build the sf1 bench dataset (r11, VERDICT r10 item 4).

10× replication of /root/testdata/sf0.1 into .tmp/sf1 with CONSISTENT
foreign-key shifts, so every join keeps its sf0.1 selectivity while all
fact AND dimension tables grow 10×:

  - orders replica i shifts o_orderkey by i·ok and o_custkey by i·ck;
    customer replica i shifts c_custkey by the same i·ck — each customer
    still owns its original orders.
  - lineitem shifts l_orderkey/l_partkey/l_suppkey in lockstep with
    orders/part/supplier.
  - events replicas are DISJOINT user populations over the same time
    span (horizontal growth: more users, not denser ones).
  - documents/embeddings keep their text/vectors verbatim on every copy
    — the 10× corpus carries 10 exact duplicates of every document, the
    worst realistic load for the dedup family.
  - nation/region are fixed 25/5-row domains and copy as-is (c_nationkey
    / s_nationkey stay valid on every replica).

Purpose: sf1 (6 M lineitem / 1 M events / 50 k docs) reaches the
regimes sf0.1 cannot (sketch estimation mode, row-count safety valves);
tests/test_sf1_parity.py checks the tolerance-envelope keys on it. The
driver contract stays on sf0.1.

Run: `python gen_sf1.py` → prints the output dir; idempotent via a
stamped _DONE marker.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyspark.sql.functions as F

from week3_2_practice_big_data__spark import get_spark, load_table

BASE_SF = "/root/testdata/sf0.1"
FACTOR = 10
OUT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".tmp", "sf1"
)
_STAMP = f"sf1-all-tables@{FACTOR}"


def _times_n(df, shifts: dict[str, int]):
    parts = None
    for i in range(FACTOR):
        p = df
        for col, shift in shifts.items():
            p = p.withColumn(col, F.col(col) + F.lit(i * shift))
        parts = p if parts is None else parts.unionAll(p)
    return parts


def build(spark) -> str:
    marker = os.path.join(OUT, "_DONE")
    if os.path.exists(marker) and open(marker).read() == _STAMP:
        return OUT
    import shutil

    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(OUT, exist_ok=True)

    def key_shift(table: str, col: str) -> int:
        return (
            load_table(spark, BASE_SF, table).agg(F.max(col)).first()[0] + 1
        )

    ok = key_shift("orders", "o_orderkey")
    ck = key_shift("customer", "c_custkey")
    pk = key_shift("part", "p_partkey")
    sk = key_shift("supplier", "s_suppkey")
    ev = key_shift("events", "event_id")
    uk = key_shift("events", "user_id")
    dk = key_shift("documents", "doc_id")
    vk = key_shift("embeddings", "vec_id")

    scaled = {
        "orders": _times_n(
            load_table(spark, BASE_SF, "orders"),
            {"o_orderkey": ok, "o_custkey": ck},
        ),
        "lineitem": _times_n(
            load_table(spark, BASE_SF, "lineitem"),
            {"l_orderkey": ok, "l_partkey": pk, "l_suppkey": sk},
        ),
        "customer": _times_n(
            load_table(spark, BASE_SF, "customer"), {"c_custkey": ck}
        ),
        "part": _times_n(load_table(spark, BASE_SF, "part"), {"p_partkey": pk}),
        "supplier": _times_n(
            load_table(spark, BASE_SF, "supplier"), {"s_suppkey": sk}
        ),
        "events": _times_n(
            load_table(spark, BASE_SF, "events"),
            {"event_id": ev, "user_id": uk},
        ),
        "documents": _times_n(
            load_table(spark, BASE_SF, "documents"), {"doc_id": dk}
        ),
        "embeddings": _times_n(
            load_table(spark, BASE_SF, "embeddings"), {"vec_id": vk}
        ),
    }
    for name, df in scaled.items():
        df.write.mode("overwrite").parquet(os.path.join(OUT, f"{name}.parquet"))
    for name in ("nation", "region"):
        spark.read.parquet(os.path.join(BASE_SF, f"{name}.parquet")).write.mode(
            "overwrite"
        ).parquet(os.path.join(OUT, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(_STAMP)
    return OUT


def main() -> None:
    spark = get_spark("w32bd-gen-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    out = build(spark)
    for t in ("lineitem", "events", "documents"):
        n = spark.read.parquet(os.path.join(out, f"{t}.parquet")).count()
        print(f"{t}: {n} rows")
    print(out)


if __name__ == "__main__":
    main()
