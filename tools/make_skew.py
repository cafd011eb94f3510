"""Synthesize a deterministically SKEWED variant of sf0.1 for robustness
probing (tools/skew_probe.py).

The uniform fixtures (driver sf* and the make_sf1 decade) measure scaling
under even key distributions; a real 100 TB corpus is never even. This
tool plants the three classic hot-key pathologies, each scaled to be
painful but finite, into copies of the sf0.1 tables (everything else is
byte-identical):

* events: a BOT USER — every 5th event is reassigned to user_id
  9_000_001 (~20% of the table on one key). Stresses per-user windows
  (sessionize, rolling counts, attribution) whose partitionBy cannot be
  salted without changing semantics, and user-keyed aggregations (AQE
  skew splitting applies to joins/aggs, not windows).
* lineitem: a MEGA ORDER — orderkey 9_000_001 holding one lineitem for
  each of the first 1,200 parts. Stresses the order self-joins
  (graph_triangle_count edge generation, basket pair mining): a basket of
  b items yields C(b,2) pairs from ONE key — the per-key quadratic no
  partition strategy can split.
* documents: a GIANT DUPLICATE CLUSTER — docs 8_000_000..8_000_799 all
  carry the same text (800 copies). Stresses exact-dedup windows (one
  800-row hash group) and MinHash/LSH candidate generation (a true dup
  cluster of c docs IS C(c,2) candidate pairs by construction).

All other tables are copied untouched. Output (gitignored): localdata/skew01
in the checkout, sentinel _COMPLETE.json written last.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

SRC = "/root/testdata/sf0.1"
OUT = os.environ.get("SPARK_GRAFT_SKEW_DIR", os.path.join(REPO, "localdata", "skew01"))

HOT_USER = 9_000_001
MEGA_ORDER = 9_000_001
MEGA_BASKET = 1_200
DUP_DOC_BASE = 8_000_000
DUP_DOCS = 800

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    from log_agent_spark.session import get_spark
    from log_agent_spark.sources.tables import load_table

    spark = get_spark("make-skew")
    os.makedirs(OUT, exist_ok=True)
    for name in TABLES:
        df = load_table(spark, SRC, name)
        if name == "events":
            # every 5th event -> the bot user (~20% of rows on one key)
            df = df.withColumn(
                "user_id",
                F.when(F.col("event_id") % 5 == 0, F.lit(HOT_USER)).otherwise(
                    F.col("user_id")
                ),
            )
        elif name == "lineitem":
            # deterministic template row (a bare limit(1) returns an
            # arbitrary split's row — review r7b)
            first = (
                df.orderBy("l_orderkey", "l_linenumber")
                .limit(1)
                .drop("l_orderkey", "l_partkey", "l_linenumber")
            )
            mega = (
                spark.range(MEGA_BASKET)
                .select(
                    F.lit(MEGA_ORDER).cast("bigint").alias("l_orderkey"),
                    (F.col("id") + 1).alias("l_partkey"),
                    (F.col("id") + 1).cast("int").alias("l_linenumber"),
                )
                .crossJoin(F.broadcast(first))
                .select(*df.columns)
            )
            df = df.unionByName(mega)
        elif name == "documents":
            tpl = df.orderBy("doc_id").limit(1).select("text")
            dups = (
                spark.range(DUP_DOCS)
                .select((F.col("id") + DUP_DOC_BASE).alias("doc_id"))
                .crossJoin(F.broadcast(tpl))
            )
            base_cols = df.columns
            extra = [c for c in base_cols if c not in ("doc_id", "text")]
            for c in extra:
                dups = dups.withColumn(c, F.lit(None).cast(dict(df.dtypes)[c]))
            df = df.unionByName(dups.select(*base_cols))
        path = os.path.join(OUT, f"{name}.parquet")
        df.repartition(8 if name in ("lineitem", "events") else 4).write.mode(
            "overwrite"
        ).parquet(path)
        print(f"{name:10s} -> rows={spark.read.parquet(path).count():,}")
    with open(os.path.join(OUT, "_COMPLETE.json"), "w") as f:
        json.dump({"tables": TABLES, "source": SRC}, f)
    print(f"skew fixture complete at {OUT}")


if __name__ == "__main__":
    main()
