"""Entity-resolution blocking: the plan report an ER/record-linkage run
computes before it compares anything.

At 100 TB, pairwise record comparison is O(n²) and never runs raw —
every production linkage system (Fellegi-Sunter deduplication, splink,
dedupe.io) first partitions records into *blocks* on cheap keys and only
compares within blocks. Choosing the blocking key IS the scale decision:
too coarse and one block still holds a quadratic hot spot, too fine and
true matches land in different blocks. This module computes the report
that drives that choice — per candidate strategy, the exact number of
within-block comparisons and the reduction versus the naive all-pairs
count, plus the max block (the straggler task a 1000-executor run would
wait on).

Scale shape: one groupBy per strategy (map-side combinable count), then a
k-row aggregate over the per-block counts — nothing all-pairs is ever
materialized; the quadratic quantity is *computed arithmetically* from
block sizes (sum over blocks of n·(n−1) ordered pairs). Per-block counts
are cast to DECIMAL(38,0) before the self-product: n·(n−1) overflows
BIGINT for any block over ~3e9 rows, and Spark's non-ANSI mode would wrap
silently where DuckDB widens (the wrong-answer-vs-crash divergence class).

Reference parity: the reference has no linkage layer (closest analog is
its per-file identity keying, watchdog/watchdog.go:314-326); this is part
of the training-pipeline extension surface SURVEY.md §2 lists alongside
dedup — blocking is to structured-record ER what banded LSH is to
document near-dup (operators/dedup.py), and the two reports deliberately
mirror each other.

Cross-engine float discipline: the only float column is the reduction
ratio — a single IEEE division of two exact integers (both < 2^53 at any
tested SF), rounded at 6. reduction_ratio follows the standard ER
convention (Christen 2012): the fraction of naive all-pairs comparisons
ELIMINATED by blocking, 1 - candidate_pairs/naive — higher is better.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.window import Window as W

from log_agent_spark.scratch import pinned_query
from log_agent_spark.sources.tables import load_table

# Evidence-feature constants shared by the Spark plan and its SQL twins —
# single-sourced so widening the band or changing the id modulus can
# never silently diverge the engines (the governance module's f-string
# discipline applied here).
_ER_ID_MOD = 97  # numeric id-suffix modulus (SSN-tail stand-in)
_ER_BAL_BAND = 1000  # coarse balance band width (also the SNM sort key)
# integer cents via half-up quantization — the order-free alternative to
# SUM(double); restated NOWHERE else (golden-record oracle reuses this)
_CENTS_SQL = "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)"

# Candidate blocking strategies over the customer table, coarse → fine.
# (label, spark block-key columns, duckdb block-key sql)
_STRATEGIES = [
    ("nation", ["c_nationkey"], "c_nationkey"),
    ("mktsegment", ["c_mktsegment"], "c_mktsegment"),
    ("nation_x_segment", ["c_nationkey", "c_mktsegment"],
     "c_nationkey, c_mktsegment"),
]


def block_profile(df: DataFrame, key_cols: list[str], label: str) -> DataFrame:
    """One strategy's row: block count, max block, exact comparison count.

    ``candidate_pairs`` counts ORDERED pairs (n·(n−1) per block) so the
    quantity stays a pure integer on both engines — no halving division.
    """
    per_block = df.groupBy(*[F.col(c) for c in key_cols]).agg(
        F.count("*").alias("cnt")
    )
    d = F.col("cnt").cast("decimal(38,0)")
    stats = per_block.agg(
        F.sum("cnt").cast("bigint").alias("n_records"),
        F.count("*").cast("bigint").alias("n_blocks"),
        F.max("cnt").cast("bigint").alias("max_block"),
        F.sum(d * (d - F.lit(1))).cast("bigint").alias("candidate_pairs"),
    )
    naive = (
        F.col("n_records").cast("double")
        * (F.col("n_records") - F.lit(1)).cast("double")
    )
    return stats.select(
        F.lit(label).alias("strategy"),
        "n_records",
        "n_blocks",
        "max_block",
        "candidate_pairs",
        # try_divide: a 1-record table makes naive = 0; DuckDB yields NULL
        # on division by zero where Spark's ANSI default would crash.
        # 1 - retained: the standard reduction ratio (higher = better);
        # publishing the retained fraction under this name inverted the
        # strategy choice the report drives (review finding, round 6).
        F.round(
            F.lit(1.0)
            - F.try_divide(F.col("candidate_pairs").cast("double"), naive),
            6,
        ).alias("reduction_ratio"),
    )


def q_er_blocking_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-strategy comparison for customer-record linkage: for each
    candidate block key, the exact within-block comparison count, the max
    block (straggler bound), and the reduction vs naive all-pairs."""
    c = load_table(spark, sf_dir, "customer")
    out = None
    for label, cols, _sql in _STRATEGIES:
        row = block_profile(c, cols, label)
        out = row if out is None else out.unionByName(row)
    return out


def _strategy_sql(label: str, key_sql: str) -> str:
    return f"""
  SELECT '{label}' AS strategy,
         CAST(SUM(cnt) AS BIGINT) AS n_records,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(MAX(cnt) AS BIGINT) AS max_block,
         CAST(SUM(CAST(cnt AS HUGEINT) * (cnt - 1)) AS BIGINT)
           AS candidate_pairs,
         ROUND(1.0 - CAST(SUM(CAST(cnt AS HUGEINT) * (cnt - 1)) AS DOUBLE)
               / (CAST(SUM(cnt) AS DOUBLE) * (SUM(cnt) - 1)), 6)
           AS reduction_ratio
  FROM (SELECT {key_sql}, COUNT(*) AS cnt FROM customer GROUP BY ALL)"""


ORACLE_ER_BLOCKING_PLAN = "\nUNION ALL\n".join(
    _strategy_sql(label, key_sql) for label, _cols, key_sql in _STRATEGIES
)


# ---------------------------------------------------------------------------
# Sorted-neighborhood matching (Hernández & Stolfo, SIGMOD'95) — the
# scale-safe comparison stage that consumes the blocking plan above.
# Within each (nation, segment) block, records are sorted by a cheap
# similarity-ordering key (balance band, then custkey as the unique
# tiebreak) and each record is compared ONLY to its next W neighbors in
# that order: total comparisons = n·W, linear at any scale — the
# alternative to within-block all-pairs, whose n·(n−1) blowup on a
# fixed-cardinality key is exactly what er_blocking_plan's max_block
# column warns about.
#
# Scoring is Fellegi-Sunter-shaped with INTEGER log-odds weights (agree /
# disagree per field, Python literals pasted into both engines): every
# pair's score is an exact integer, so match decisions are bit-free of
# float risk. The fields are the customer record's stand-ins for the
# usual ER evidence (id-suffix ≈ SSN tail, phone exchange, address
# initial, comment-length band, balance band).
#
# Scale shape: one shuffle on the block key for the sort window (lead()
# per-row state, W columns), then a narrow map — no join at all until
# the golden-record stage. At 100 TB: multi-pass SNM re-runs the same
# plan with a different ordering key; the window never exceeds per-row
# lead state regardless of block size.
# ---------------------------------------------------------------------------
_SNM_WINDOW = 3  # compare each record to its next W sort neighbors
_ER_THRESHOLD = 40  # integer score gate for a match

# (field, agree weight, disagree weight) — integer F-S log-odds stand-ins,
# sized roughly as round(log2(1/u)) of each field's chance-agreement rate u
# (the fixture customer record carries key/name/balance/segment only, so
# the evidence fields derive from name digits and exact balance cents)
_ER_WEIGHTS = {
    "name_tail": (35, -1),  # numeric id suffix mod 97 (SSN-tail stand-in)
    "cents_tail": (25, -2),  # last 3 digits of the balance in cents
    "bal_band": (15, -5),  # coarse balance band (also the sort key)
    "bal_parity": (5, -5),  # cent parity (weak 1-bit evidence)
}


def _er_features(c: DataFrame) -> DataFrame:
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint")
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").cast("bigint").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
        # try_cast: a name not shaped 'Customer#%09d' must yield NULL
        # evidence (→ disagree weight), not an ANSI CAST_INVALID_INPUT crash
        (F.substring("c_name", 10, 9).try_cast("bigint") % _ER_ID_MOD).alias(
            "name_tail"
        ),
        F.pmod(cents, F.lit(1000)).alias("cents_tail"),
        F.floor(F.col("c_acctbal") / _ER_BAL_BAND).cast("bigint").alias(
            "bal_band"
        ),
        F.pmod(cents, F.lit(2)).alias("bal_parity"),
    )


# pmod twin: DuckDB % keeps the dividend sign (cents can be negative), so
# the oracle uses ((x % m) + m) % m to match Spark's pmod exactly
_ER_FEATURES_SQL = f"""
  SELECT c_custkey AS custkey,
         CAST(c_nationkey AS BIGINT) AS nationkey,
         c_mktsegment AS segment,
         TRY_CAST(substr(c_name, 10, 9) AS BIGINT) % {_ER_ID_MOD}
           AS name_tail,
         (({_CENTS_SQL} % 1000) + 1000) % 1000 AS cents_tail,
         CAST(FLOOR(c_acctbal / {_ER_BAL_BAND}) AS BIGINT) AS bal_band,
         (({_CENTS_SQL} % 2) + 2) % 2 AS bal_parity
  FROM customer"""


def _er_pairs_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSORTED sorted-neighborhood candidate pairs with integer F-S
    scores (the shared core): each record vs its next W=3
    (bal_band, custkey)-order neighbors inside the (nation, segment)
    block; agree/disagree weights sum to an exact integer score, match
    iff score >= threshold. q_er_match_pairs adds the report's total
    order; q_er_golden_record consumes this frame directly — its CC
    input is a filter+projection that never needed the ~n·W-row range
    sort (r11, guide §2.4 "an orderBy used only to make output
    deterministic" is an accidental exchange on the consuming path)."""
    feats = _er_features(load_table(spark, sf_dir, "customer"))
    w = W.partitionBy("nationkey", "segment").orderBy("bal_band", "custkey")
    fields = list(_ER_WEIGHTS)
    # Every lead(·, k) shares ONE window spec inside one projection, so
    # Catalyst plans a single WindowExec — one shuffle+sort of the table —
    # where a per-k select+union would re-sort the table W times. stack()
    # then unpivots the W neighbor sets row-wise with no extra shuffle.
    lead_cols = [
        F.lead(f, k).over(w).alias(f"b{k}_{f}")
        for k in range(1, _SNM_WINDOW + 1)
        for f in [*fields, "custkey"]
    ]
    wide = feats.select("custkey", *fields, *lead_cols)
    stack_args: list = []
    for k in range(1, _SNM_WINDOW + 1):
        stack_args += [F.col(f"b{k}_{f}") for f in [*fields, "custkey"]]
    pairs = wide.select(
        "custkey",
        *fields,
        F.stack(F.lit(_SNM_WINDOW), *stack_args).alias(
            *[f"b_{f}" for f in fields], "b_custkey"
        ),
    ).filter(F.col("b_custkey").isNotNull())
    score = F.lit(0)
    agree_cols = []
    for f, (wa, wd) in _ER_WEIGHTS.items():
        agree = F.col(f) == F.col(f"b_{f}")
        agree_cols.append(agree.alias(f"agree_{f}"))
        score = score + F.when(agree, wa).otherwise(wd)
    return pairs.select(
        F.least("custkey", "b_custkey").alias("rec_a"),
        F.greatest("custkey", "b_custkey").alias("rec_b"),
        *agree_cols,
        score.cast("long").alias("score"),
        (score >= _ER_THRESHOLD).alias("is_match"),
    )


def q_er_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate-pair report, totally ordered (rec_a, rec_b)."""
    return _er_pairs_frame(spark, sf_dir).orderBy("rec_a", "rec_b")


def _er_pairs_sql() -> str:
    field_list = ", ".join(_ER_WEIGHTS)
    lead_sets = []
    for k in range(1, _SNM_WINDOW + 1):
        leads = ", ".join(
            f"LEAD({f}, {k}) OVER w{k} AS b_{f}" for f in _ER_WEIGHTS
        )
        lead_sets.append(f"""
  SELECT nationkey, segment, custkey, {field_list},
         {leads}, LEAD(custkey, {k}) OVER w{k} AS b_custkey
  FROM feats
  WINDOW w{k} AS (PARTITION BY nationkey, segment ORDER BY bal_band, custkey)""")
    score = " + ".join(
        f"CASE WHEN {f} = b_{f} THEN {wa} ELSE {wd} END"
        for f, (wa, wd) in _ER_WEIGHTS.items()
    )
    agrees = ", ".join(f"{f} = b_{f} AS agree_{f}" for f in _ER_WEIGHTS)
    return f"""WITH feats AS ({_ER_FEATURES_SQL}
), pairs AS ({" UNION ALL ".join(lead_sets)}
)
SELECT LEAST(custkey, b_custkey) AS rec_a,
       GREATEST(custkey, b_custkey) AS rec_b,
       {agrees},
       CAST({score} AS BIGINT) AS score,
       ({score}) >= {_ER_THRESHOLD} AS is_match
FROM pairs WHERE b_custkey IS NOT NULL
ORDER BY rec_a, rec_b"""


ORACLE_ER_MATCH_PAIRS = _er_pairs_sql()


@pinned_query("er_golden_")
def q_er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship: resolve er_match_pairs' matches into
    entities via connected components (small clusters by construction —
    SNM emits ≤ W edges per record) and publish, per multi-record
    entity, the surviving key (min custkey), member count, nation spread,
    and the merged balance (sum, round 2).

    Scale: the match-edge graph is linear in records (n·W candidate
    edges, few survive the score gate), but a dup-heavy load can chain
    matches into a component whose DIAMETER is unbounded — which
    ``connected_components`` absorbs on both of its paths (one union-find
    task, or O(log n) star rounds); survivorship is one keyed aggregate
    over cluster labels.
    """
    from log_agent_spark.operators.graph import connected_components

    # r11 (guide §2.4): consume the UNSORTED pair frame — the report's
    # total order was pure overhead on this path (an n·W-row range sort
    # + sampling job per derivation).
    matches = _er_pairs_frame(spark, sf_dir).filter("is_match")
    edges = matches.select(
        F.col("rec_a").alias("src"), F.col("rec_b").alias("dst")
    )
    nodes = (
        edges.select(F.col("src").alias("custkey"))
        .union(edges.select("dst"))
        .distinct()
    )
    comp = connected_components(
        nodes, edges, id_col="custkey"
    ).select(F.col("node").alias("custkey"), "comp")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_nationkey").alias("nationkey"),
        # integer cents: SUM(double) is accumulation-order-sensitive
        # across engines for 3+-member clusters; per-element half-up
        # quantization then an exact BIGINT sum is order-free
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias(
            "bal_cents"
        ),
    )
    return (
        comp.join(c, "custkey")
        .groupBy("comp")
        .agg(
            F.min("custkey").alias("golden_custkey"),
            F.count("*").alias("n_members"),
            F.countDistinct("nationkey").alias("n_nations"),
            F.round(F.sum("bal_cents") / 100.0, 2).alias("merged_acctbal"),
        )
        .select(
            F.col("comp").alias("entity_id"),
            "golden_custkey",
            "n_members",
            "n_nations",
            "merged_acctbal",
        )
        .orderBy("entity_id")
    )


ORACLE_ER_GOLDEN_RECORD = f"""
WITH RECURSIVE pairs_all AS ({ORACLE_ER_MATCH_PAIRS.replace("ORDER BY rec_a, rec_b", "")}
), medges AS (
  SELECT rec_a AS src, rec_b AS dst FROM pairs_all WHERE is_match
  UNION
  SELECT rec_b, rec_a FROM pairs_all WHERE is_match
), mnodes AS (
  SELECT DISTINCT src AS custkey FROM medges
), reach(node, r) AS (
  SELECT custkey, custkey FROM mnodes
  UNION
  SELECT reach.node, medges.dst FROM reach JOIN medges ON reach.r = medges.src
), comp AS (
  SELECT node AS custkey, MIN(r) AS comp FROM reach GROUP BY node
)
SELECT comp AS entity_id,
       CAST(MIN(custkey) AS BIGINT) AS golden_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
       ROUND(SUM({_CENTS_SQL}) / 100.0, 2)
         AS merged_acctbal
FROM comp JOIN customer ON custkey = c_custkey
GROUP BY comp
ORDER BY entity_id
"""


QUERIES = {
    "er_blocking_plan": q_er_blocking_plan,
    "er_match_pairs": q_er_match_pairs,
    "er_golden_record": q_er_golden_record,
}
ORACLES = {
    "er_blocking_plan": ORACLE_ER_BLOCKING_PLAN,
    "er_match_pairs": ORACLE_ER_MATCH_PAIRS,
    "er_golden_record": ORACLE_ER_GOLDEN_RECORD,
}
