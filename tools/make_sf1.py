"""Synthesize a deterministic sf≈1 fixture (10x sf0.1) for scale probing.

The driver fixtures stop at sf0.1 (17 MB), where fixed overhead still
dominates most queries — SCALING.md's sublinear tails mostly measure
constant-cost amortization, not asymptotic behavior (VERDICT r6,
Performance). This tool manufactures one more decade locally: a seeded
key-shifted union of 10 sf0.1 replicas, written ONCE to a non-driver dir
(default localdata/sf1 in the checkout, gitignored — ~170 MB of parquet;
regenerate with `python tools/make_sf1.py`). tools/scale_probe.py picks it
up via --sf1.

Replica construction (replica 0 is the original, i = 1..9 shifted):

* every id-like column (+10_000_000 * i): primary keys AND the foreign
  keys that join to them shift together, so per-replica join selectivity
  and fan-out exactly match sf0.1 — the union scales rows 10x while
  keeping per-key densities constant (what a real 10x corpus looks like,
  and what keeps `% 1_000_000` bounded-slice filters selecting the same
  per-replica residues, since the shift is a multiple of 1e6);
* documents.text: per-replica substitution cipher over the 10 most
  frequent letters (translate(text, SRC, rot_i(SRC))) — length, word
  shape and frequency profile are preserved but virtually every shingle
  containing any of those letters changes, so replicas do NOT read as
  near-duplicates of each other (a naive 10x copy would give every doc 9
  clones and quadratic LSH candidate blowup — scale-UNrepresentative);
* embeddings.embedding: rotate the 64-dim vector by i positions — new
  directions (no cross-replica cosine ties), same norms;
* timestamps and dates unchanged: 10x event/order density per day, the
  realistic way log volume grows;
* region/nation: copied as-is (fixed dimensions at every TPC-H SF).

Everything is a pure column expression over the sf0.1 parquet — no RNG,
no clock — so the output is content-deterministic run-over-run.

``--skew`` (VERDICT r7 item 6 — compose the skew and scale probes):
plant the make_skew.py pathologies into the decade and write to
$SPARK_GRAFT_SF1SKEW_DIR (default localdata/sf1skew). The hot-key
question only bites where C(n,2) dominates, which 17 MB cannot show:

* BOT USER: every 5th event → user 999_000_001 (~20% of ~1.2M events on
  one key — 10× the sf0.1 bot's absolute volume);
* MEGA ORDER: orderkey 999_000_001 holding the first 12,000 parts (10×
  the sf0.1 mega basket; 23× BASKET_CAP, so the hub valve must absorb
  C(12_000,2) ≈ 72M potential edges down to C(512,2) ≈ 131k);
* DUPLICATE CLUSTER: kept at 800 copies, deliberately NOT scaled — the
  pair-OUTPUT dedup queries are inherently C(c,2) in a true dup cluster
  (SKEW.md: the cluster-form queries are the scale representation), so
  a 8,000-copy cluster would only measure that documented output
  quadratic, not an engine pathology.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F

SRC_SF_DIR = "/root/testdata/sf0.1"
OUT_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", os.path.join(REPO, "localdata", "sf1"))
SKEW_OUT_DIR = os.environ.get(
    "SPARK_GRAFT_SF1SKEW_DIR", os.path.join(REPO, "localdata", "sf1skew")
)
REPLICAS = 10
SHIFT = 10_000_000  # > every sf0.1 key; multiple of the 1e6 slice modulus

# --skew planted hot keys: > REPLICAS * SHIFT so they collide with no
# shifted honest key in any replica
SKEW_HOT_USER = 999_000_001
SKEW_MEGA_ORDER = 999_000_001
SKEW_MEGA_BASKET = 12_000
SKEW_DUP_DOC_BASE = 998_000_000
SKEW_DUP_DOCS = 800  # NOT scaled — see module docstring

# 10 distinct frequent letters; replica i ciphers by rotation i (a
# derangement for every 1 <= i <= 9, so no letter maps to itself)
_CIPHER_SRC = "etaoinshrd"

# (table, [id-like columns to shift])
TABLES: list[tuple[str, list[str]]] = [
    ("region", []),
    ("nation", []),
    ("customer", ["c_custkey"]),
    ("supplier", ["s_suppkey"]),
    ("part", ["p_partkey"]),
    ("orders", ["o_orderkey", "o_custkey"]),
    ("lineitem", ["l_orderkey", "l_partkey", "l_suppkey"]),
    ("events", ["event_id", "user_id"]),
    ("documents", ["doc_id"]),
    ("embeddings", ["vec_id"]),
]


def _replica(df, name: str, keys: list[str], i: int):
    out = df
    for k in keys:
        out = out.withColumn(k, F.col(k) + F.lit(i * SHIFT))
    if name == "documents" and i > 0:
        dst = _CIPHER_SRC[i:] + _CIPHER_SRC[:i]
        out = out.withColumn("text", F.translate("text", _CIPHER_SRC, dst))
    if name == "embeddings" and i > 0:
        # derive the dim per row rather than hardcoding 64: a regenerated
        # fixture at another dim would otherwise silently get truncated
        # vectors in replicas 1-9 (review r7)
        n = F.size("embedding")
        out = out.withColumn(
            "embedding",
            F.concat(
                F.slice(F.col("embedding"), F.lit(i + 1), n - i),
                F.slice(F.col("embedding"), F.lit(1), F.lit(i)),
            ),
        )
    return out


def _plant_skew(spark, name: str, df):
    """The make_skew.py pathologies, scaled to the decade (events/lineitem)
    or deliberately held constant (documents — see module docstring)."""
    if name == "events":
        return df.withColumn(
            "user_id",
            F.when(
                F.col("event_id") % 5 == 0, F.lit(SKEW_HOT_USER)
            ).otherwise(F.col("user_id")),
        )
    if name == "lineitem":
        first = (
            df.orderBy("l_orderkey", "l_linenumber")
            .limit(1)
            .drop("l_orderkey", "l_partkey", "l_linenumber")
        )
        mega = (
            spark.range(SKEW_MEGA_BASKET)
            .select(
                F.lit(SKEW_MEGA_ORDER).cast("bigint").alias("l_orderkey"),
                (F.col("id") + 1).alias("l_partkey"),
                (F.col("id") + 1).cast("int").alias("l_linenumber"),
            )
            .crossJoin(F.broadcast(first))
            .select(*df.columns)
        )
        return df.unionByName(mega)
    if name == "documents":
        tpl = df.orderBy("doc_id").limit(1).select("text")
        dups = (
            spark.range(SKEW_DUP_DOCS)
            .select((F.col("id") + SKEW_DUP_DOC_BASE).alias("doc_id"))
            .crossJoin(F.broadcast(tpl))
        )
        base_cols = df.columns
        dtypes = dict(df.dtypes)
        for c in [c for c in base_cols if c not in ("doc_id", "text")]:
            dups = dups.withColumn(c, F.lit(None).cast(dtypes[c]))
        return df.unionByName(dups.select(*base_cols))
    return df


def main() -> None:
    from log_agent_spark.session import get_spark
    from log_agent_spark.sources.tables import load_table

    skew = "--skew" in sys.argv[1:]
    out_dir = SKEW_OUT_DIR if skew else OUT_DIR
    spark = get_spark("make-sf1")
    os.makedirs(out_dir, exist_ok=True)
    for name, keys in TABLES:
        base = load_table(spark, SRC_SF_DIR, name)
        if name in ("region", "nation"):
            out = base
        else:
            parts = [_replica(base, name, keys, i) for i in range(REPLICAS)]
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        if skew:
            out = _plant_skew(spark, name, out)
        path = os.path.join(out_dir, f"{name}.parquet")
        # a handful of files per table: enough scan parallelism for
        # local[32] without tiny-file overhead
        out.repartition(8 if name in ("lineitem", "events") else 4).write.mode(
            "overwrite"
        ).parquet(path)
        n = spark.read.parquet(path).count()
        print(f"{name:10s} -> {path}  rows={n:,}")
    # sentinel LAST (review r7): consumers (scale_probe, round_gate's
    # --sf1 auto-enable) must treat a dir without it as incomplete — an
    # interrupted generation otherwise crashes the probe mid-pass with a
    # confusing missing-table AnalysisException
    import json

    with open(os.path.join(out_dir, "_COMPLETE.json"), "w") as f:
        json.dump(
            {"tables": [t for t, _ in TABLES], "source": SRC_SF_DIR,
             "skew": skew},
            f,
        )
    print(f"sf1{'skew' if skew else ''} fixture complete at {out_dir}")


if __name__ == "__main__":
    main()
