#!/usr/bin/env python
"""Build the adversarial-DISTRIBUTION fixture (r13, VERDICT r12 item 7).

Same sf1-class 10x scale as gen_sf1.py, but the data REGIME is hostile
where sf1's is uniform — the remaining untested regime class after the
r11 qry_recursive_cte depth cliff and the r12 theta estimation-mode
transition both surfaced only when scale changed the regime:

  - HEAVY-TAILED KEYS: one hot user owns ~10% of all 1M events (the
    skew-ladder shape, now in a standing fixture); one hot
    part and one hot supplier each absorb ~10% of 6M lineitems; one hot
    customer owns ~10% of orders. Every groupBy/join/window partitioned
    by these keys sees a 600k-row straggler partition.
  - 90%-NULL COLUMNS: events.value/props, documents.lang/source,
    lineitem.l_returnflag/l_linestatus, customer.c_acctbal are NULL on
    ~90% of rows (pmod(hash) selected, deterministic). This puts NULL
    group keys through every flag-grouped aggregate (the exact class
    ADVICE r12 flagged on the ps bridge), NULL measures through every
    sum/avg/corr/window frame, and NULL text-metadata through the
    domain-mix family. FK join keys stay non-null — selectivity is the
    control, NULL semantics the variable.
  - UNICODE-HEAVY TEXT: ~30% of documents get CJK/emoji/diacritic text
    (deterministic by doc_id), including whitespace-free CJK runs (the
    tokenizer worst case) — at corpus scale, not the 12-row weird slice.

Replication keeps gen_sf1's consistent FK shifts, so joins keep their
base selectivity EXCEPT where the hot keys concentrate them — which is
the point. Both engines read the same parquet, so a sweep over this
fixture checks that Spark and DuckDB agree bit-for-bit under the
hostile regime, and that no key's wall explodes on the straggler
partition.

Run: `python gen_skew.py` -> prints the output dir; idempotent via a
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
    os.path.dirname(os.path.abspath(__file__)), ".tmp", "sf_skew"
)
_STAMP = f"skew-hot10pct-null90-unicode30@{FACTOR}"

# deterministic row selectors: pmod(xxhash64(...), 10) buckets
_HOT_BUCKET = 0          # bucket 0 -> remapped to the hot key (~10%)
_NULL_KEEP_BUCKET = 3    # bucket 3 keeps its value (~10%); rest NULL

_UNI_SNIPPETS = [
    "日本語のテスト文書です形態素解析は空白を使いません",
    "🦄🌊💡🚀 emoji run ensues 🎯🧪🔬📊 with ascii between",
    "café naïve façade résumé — słowa ąćęłńóśźż überstraße",
    "混合 mixed 中文和English字词 no-space-中文-runs 🦄 ligatures ﬁﬂ",
]


def _hot(col: str, hot_val, bucket_cols: list[str]):
    """Remap ~10% of rows (deterministic hash bucket) to the hot key."""
    h = F.pmod(F.xxhash64(*[F.col(c) for c in bucket_cols]), F.lit(10))
    return F.when(h == _HOT_BUCKET, F.lit(hot_val)).otherwise(F.col(col))


def _null90(col: str, bucket_cols: list[str]):
    """NULL ~90% of rows; one deterministic bucket keeps its value."""
    h = F.pmod(F.xxhash64(F.lit(col), *[F.col(c) for c in bucket_cols]),
               F.lit(10))
    return F.when(h == _NULL_KEEP_BUCKET, F.col(col)).otherwise(F.lit(None))


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

    # hot keys are BASE-replica ids, so they exist in every dimension
    hot_user = load_table(spark, BASE_SF, "events").agg(
        F.min("user_id")).first()[0]
    hot_part = load_table(spark, BASE_SF, "part").agg(
        F.min("p_partkey")).first()[0]
    hot_supp = load_table(spark, BASE_SF, "supplier").agg(
        F.min("s_suppkey")).first()[0]
    hot_cust = load_table(spark, BASE_SF, "customer").agg(
        F.min("c_custkey")).first()[0]

    orders = _times_n(
        load_table(spark, BASE_SF, "orders"),
        {"o_orderkey": ok, "o_custkey": ck},
    ).withColumn("o_custkey", _hot("o_custkey", hot_cust, ["o_orderkey"]))

    lineitem = (
        _times_n(
            load_table(spark, BASE_SF, "lineitem"),
            {"l_orderkey": ok, "l_partkey": pk, "l_suppkey": sk},
        )
        .withColumn(
            "l_partkey",
            _hot("l_partkey", hot_part, ["l_orderkey", "l_linenumber"]),
        )
        .withColumn(
            "l_suppkey",
            _hot("l_suppkey", hot_supp, ["l_linenumber", "l_orderkey"]),
        )
        .withColumn(
            "l_returnflag",
            _null90("l_returnflag", ["l_orderkey", "l_linenumber"]),
        )
        .withColumn(
            "l_linestatus",
            _null90("l_linestatus", ["l_linenumber", "l_orderkey"]),
        )
    )

    events = (
        _times_n(
            load_table(spark, BASE_SF, "events"),
            {"event_id": ev, "user_id": uk},
        )
        .withColumn("user_id", _hot("user_id", hot_user, ["event_id"]))
        .withColumn("value", _null90("value", ["event_id"]))
        .withColumn("props", _null90("props", ["event_id"]))
    )

    uni = F.array(*[F.lit(s) for s in _UNI_SNIPPETS])
    docs = (
        _times_n(load_table(spark, BASE_SF, "documents"), {"doc_id": dk})
        .withColumn(
            "text",
            F.when(
                F.pmod(F.xxhash64("doc_id"), F.lit(10)) < 3,
                F.concat(
                    F.element_at(
                        uni,
                        (F.pmod(F.xxhash64("doc_id", F.lit(7)),
                                F.lit(len(_UNI_SNIPPETS))) + 1).cast("int"),
                    ),
                    F.lit(" "),
                    F.col("text"),
                ),
            ).otherwise(F.col("text")),
        )
        .withColumn("lang", _null90("lang", ["doc_id"]))
        .withColumn("source", _null90("source", ["doc_id"]))
        .withColumn("n_chars", F.length("text").cast("long"))
    )

    customer = _times_n(
        load_table(spark, BASE_SF, "customer"), {"c_custkey": ck}
    ).withColumn("c_acctbal", _null90("c_acctbal", ["c_custkey"]))

    scaled = {
        "orders": orders,
        "lineitem": lineitem,
        "customer": customer,
        "part": _times_n(load_table(spark, BASE_SF, "part"), {"p_partkey": pk}),
        "supplier": _times_n(
            load_table(spark, BASE_SF, "supplier"), {"s_suppkey": sk}
        ),
        "events": events,
        "documents": docs,
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
    spark = get_spark("w32bd-gen-skew")
    spark.sparkContext.setLogLevel("ERROR")
    out = build(spark)
    ev = spark.read.parquet(os.path.join(out, "events.parquet"))
    hot = (
        ev.groupBy("user_id").count().orderBy(F.desc("count")).first()
    )
    n = ev.count()
    print(f"events: {n} rows; hottest user holds {hot['count']} "
          f"({100.0 * hot['count'] / n:.1f}%)")
    nulls = ev.filter(F.col("value").isNull()).count()
    print(f"events.value null fraction: {100.0 * nulls / n:.1f}%")
    print(out)


if __name__ == "__main__":
    main()
