"""Deduplication operators for training-data pipelines.

Four tiers, all pure DataFrame plans (no Python UDFs — every hash is the
JVM-side ``md5`` builtin, so the same computation is expressible in the
DuckDB oracle and the plan stays inside whole-stage codegen):

- exact:          group by content hash (the reference stores an md5
                  checksum per record precisely to enable this —
                  watchdog/handler/kafka.go:277).
- n-gram Jaccard: exact pairwise similarity on character-shingle sets.
                  Quadratic in the candidate set → bounded input; at scale
                  this is only ever run on LSH candidate pairs.
- MinHash + LSH:  the 100 TB path. One md5 per shingle (28-bit prefix int),
                  k affine permutations (a·x+b mod 2^31-1) as k codegen
                  min() aggregates with map-side combine → b bands →
                  band-bucket equi-join with forced exchange reuse.
                  No all-pairs comparison; the only shuffles are the
                  per-doc signature agg and the band self-join.
- SimHash:        bit-vote fingerprint over token hashes; near-dups =
                  fingerprints within small Hamming distance.

The fixture corpus has no natural duplicates (verified), so the query
wrappers plant deterministic duplicates/near-duplicates by unioning a
mutated copy of a slice of `documents` — the operator itself is generic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from log_agent_spark.bcast import DEFAULT_BROADCAST_ROW_LIMIT, maybe_broadcast
from log_agent_spark.ladder import is_floor, pick_rung
from log_agent_spark.scratch import pin, pinned_query

from log_agent_spark.functions.content import (
    content_cluster_hash,
    content_cluster_hash_sql,
)
from log_agent_spark.operators.similarity import _bucket_sql as _similarity_bucket_sql
from log_agent_spark.plans.sampling import split_expr as _split_expr
from log_agent_spark.plans.sampling import split_sql as _split_sql
from log_agent_spark.sources.tables import load_table

SHINGLE_LEN = 8
NUM_PERMS = 16
NUM_BANDS = 4  # → 4 rows per band
JACCARD_THRESHOLD = 0.5
# integer cross-multiplication form, so composing queries (e.g. the corpus
# funnel's near-dedup stage) can build their gate from the SAME constant:
# jaccard >= t  ⇔  J_DEN·inter >= J_NUM·union (ADVICE r2 coupling note)
from fractions import Fraction as _Fraction

_J = _Fraction(JACCARD_THRESHOLD).limit_denominator(10_000)
J_NUM, J_DEN = _J.numerator, _J.denominator


# ---------------------------------------------------------------------------
# Corpus helpers
# ---------------------------------------------------------------------------
def with_planted_dups(docs: DataFrame, n_exact: int = 50, n_near: int = 100) -> DataFrame:
    """Union `docs` with deterministic exact dups (doc_id+1_000_000) and
    near-dups (doc_id+2_000_000, last 15 chars dropped)."""
    base = docs.select("doc_id", "text")
    exact = base.filter(F.col("doc_id") < n_exact).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    near = base.filter(F.col("doc_id") < n_near).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.expr("substring(text, 1, greatest(length(text) - 15, 1))").alias("text"),
    )
    return base.unionByName(exact).unionByName(near)


PLANTED_DUPS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         substring(text, 1, greatest(length(text) - 15, 1)) AS text
  FROM documents WHERE doc_id < 100
"""


def shingles(docs: DataFrame, n: int = SHINGLE_LEN) -> DataFrame:
    """(doc_id, shingle) — distinct character n-gram shingles per document.

    Built-ins only: sequence → transform → array_distinct → explode. Docs
    shorter than the shingle length contribute their whole text as the one
    shingle (so they still participate).
    """
    arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("text") - (n - 1), F.lit(1))),
            lambda i: F.substring(F.col("text"), i, n),
        )
    )
    return docs.select("doc_id", F.explode(arr).alias("shingle"))


# Stop-shingle valve (round 8, the BASKET_CAP class on the SHINGLE key):
# the shingle equi-join in the Jaccard/containment scorers emits C(df, 2)
# pair rows from ONE shingle key, so a boilerplate shingle shared by df
# docs is a per-key quadratic no partitioning can split — and a shingle
# that common carries ~zero similarity information (it's the stopword of
# the shingle space; DF-pruning is the standard prefix-filter-family
# mitigation). Shingles with document frequency > SHINGLE_DF_CAP are
# dropped from BOTH the intersection and the size counts, so the score
# stays a well-defined Jaccard/containment over the informative shingle
# space. 512 is ~2.6x the fixture slice's maximum df (199, measured —
# the slice only holds ~200 docs), so every driver-checked SF passes
# unpruned and the oracles (which mirror the prune verbatim) stay exact
# mirrors past the cap.
SHINGLE_DF_CAP = 512


def df_capped_shingles(sh: DataFrame, cap: int = SHINGLE_DF_CAP) -> DataFrame:
    """Drop shingles whose document frequency exceeds ``cap``.

    The default binds SHINGLE_DF_CAP at import — the SAME freeze point as
    the ORACLE_DEDUP_* SQL strings built through ``_df_capped_sql()``, so
    a runtime mutation of the module global can never diverge the engine
    from its oracle mirror (ADVICE r8: the previous call-time read could).

    The hot-shingle list is tiny by construction (only keys above the
    cap), and the df aggregation shuffles on the same key as the pair
    join every caller runs next, so its exchange is reusable."""
    hot = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > cap)
        .select("shingle")
    )
    return sh.join(hot, "shingle", "left_anti")


def _df_capped_sql(cap: int = SHINGLE_DF_CAP) -> str:
    """DuckDB twin of df_capped_shingles over a CTE named ``sh`` (shingles
    are never NULL — substring of non-NULL text — so NOT IN is safe)."""
    return f"""
  SELECT doc_id, shingle FROM sh
  WHERE shingle NOT IN (
    SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) > {cap}
  )
"""


def _shingles_sql(src: str, n: int = SHINGLE_LEN) -> str:
    # DuckDB 1.0 can't lateral-join generate_series on a column; unnest the
    # list-valued scalar form instead.
    return f"""
  SELECT DISTINCT doc_id, substring(text, i, {n}) AS shingle
  FROM (
    SELECT doc_id, text,
           unnest(generate_series(1, greatest(length(text) - {n - 1}, 1))) AS i
    FROM ({src})
  )
"""


# ---------------------------------------------------------------------------
# Tier 1: exact dedup by content hash.
# Scale: one shuffle on the 128-bit hash; group sizes = duplicate
# multiplicity (bounded); representative = min doc_id.
# ---------------------------------------------------------------------------
def exact_duplicates(docs: DataFrame) -> DataFrame:
    # content_cluster_hash: md5(NULL) = NULL would collapse every
    # NULL-text doc into ONE fake duplicate cluster; the shared helper
    # makes each its own singleton (round-6 review — same convention as
    # the license-taint/split-leakage audits)
    return (
        docs.select("doc_id", content_cluster_hash().alias("checksum"))
        .groupBy("checksum")
        .agg(
            F.min("doc_id").alias("representative"),
            F.count("*").alias("n_copies"),
        )
        .filter(F.col("n_copies") > 1)
    )


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups by content md5: representative + copy count."""
    docs = with_planted_dups(load_table(spark, sf_dir, "documents"))
    return exact_duplicates(docs)


ORACLE_DEDUP_EXACT = f"""
SELECT {content_cluster_hash_sql()} AS checksum,
       MIN(doc_id) AS representative, COUNT(*) AS n_copies
FROM ({PLANTED_DUPS_SQL})
GROUP BY 1
HAVING COUNT(*) > 1
"""


# ---------------------------------------------------------------------------
# Tier 2: exact n-gram Jaccard on a bounded candidate set.
# inter(a,b) via self-join on shingle; union = |A| + |B| - inter.
# Scale: ONLY for candidate pairs (LSH output); the all-pairs form below is
# deliberately restricted to a small slice.
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    df_cap: int = SHINGLE_DF_CAP,
) -> DataFrame:
    # Derive the integer gate from the ARGUMENT (ADVICE r6: the gate used the
    # module constants J_NUM/J_DEN, silently ignoring a caller's threshold —
    # e.g. threshold=0.0 still filtered at 0.5). Same discipline for the
    # stop-shingle cap (ADVICE r8): an explicit parameter frozen at import,
    # never a call-time read of the module global the oracle can't see.
    t = _Fraction(threshold).limit_denominator(10_000)
    t_num, t_den = t.numerator, t.denominator
    # stop-shingle valve BEFORE sizes: Jaccard is scored over the pruned
    # (informative) shingle space on both the numerator and denominator
    sh = df_capped_shingles(shingles(docs), cap=df_cap)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("inter"),
            (F.col("size_a") + F.col("size_b") - F.col("inter")).alias("un"),
        )
        # integer cross-multiplication gate (the J_NUM/J_DEN discipline):
        # gating on round(jaccard, 4) while the oracle gated unrounded let
        # boundary pairs diverge (round-6 review) — 2·inter >= union is
        # exact and identical on both engines for threshold 1/2
        .filter(F.col("inter") * t_den >= F.col("un") * t_num)
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("inter") / F.col("un"), 4).alias("jaccard"),
        )
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by character n-gram Jaccard similarity above threshold."""
    docs = with_planted_dups(load_table(spark, sf_dir, "documents"))
    # Bound the all-pairs candidate set: originals <100 plus their variants.
    docs = docs.filter(F.col("doc_id") % 1_000_000 < 100)
    return ngram_jaccard_pairs(docs)


ORACLE_DEDUP_NGRAM_JACCARD = f"""
WITH corpus AS (
  SELECT * FROM ({PLANTED_DUPS_SQL}) WHERE doc_id % 1000000 < 100
), sh AS ({_shingles_sql("SELECT * FROM corpus")}),
shp AS ({_df_capped_sql()}),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM shp GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(inter * 1.0 / (sa.n_shingles + sb.n_shingles - inter), 4) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * {J_DEN} >= (sa.n_shingles + sb.n_shingles - inter) * {J_NUM}
"""


# ---------------------------------------------------------------------------
# Tier 2b: asymmetric CONTAINMENT (doc-in-doc) on the bounded candidate set.
# Jaccard misses inclusion: a short doc quoted verbatim inside a long one
# has tiny |A∩B|/|A∪B| but containment(A in B) = |A∩B|/|A| ≈ 1 — the
# signal for boilerplate extraction, quote detection, and prefix/suffix
# truncated mirrors (the planted truncations here score exactly 1.0 on the
# contained side while their Jaccard is < 1). Same bounded-candidate rule
# as Jaccard: at scale this runs ONLY on LSH candidates.
# ---------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.8
# integer cross-multiplication form of the threshold, derived so editing
# the constant actually moves the gate (ADVICE r2): containment >= t
# ⇔ _CT_DEN·inter >= _CT_NUM·min(size)
_CT = _Fraction(CONTAINMENT_THRESHOLD).limit_denominator(10_000)
_CT_NUM, _CT_DEN = _CT.numerator, _CT.denominator


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Doc-in-doc pairs: shingle-set containment in either direction above
    threshold, with both directional scores (4dp)."""
    docs = with_planted_dups(load_table(spark, sf_dir, "documents"))
    docs = docs.filter(F.col("doc_id") % 1_000_000 < 100)
    sh = df_capped_shingles(shingles(docs))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    scored = inter.join(sa, "doc_a").join(sb, "doc_b")
    # integer-exact gate: max containment >= t  ⇔  den·inter >= num·min(size)
    gate = _CT_DEN * F.col("inter") >= _CT_NUM * F.least("size_a", "size_b")
    return scored.filter(gate).select(
        "doc_a",
        "doc_b",
        F.round(F.col("inter") / F.col("size_a"), 4).alias("contain_a"),
        F.round(F.col("inter") / F.col("size_b"), 4).alias("contain_b"),
    )


ORACLE_DEDUP_CONTAINMENT = f"""
WITH corpus AS (
  SELECT * FROM ({PLANTED_DUPS_SQL}) WHERE doc_id % 1000000 < 100
), sh AS ({_shingles_sql("SELECT * FROM corpus")}),
shp AS ({_df_capped_sql()}),
sizes AS (
  SELECT doc_id, COUNT(*) AS n_shingles FROM shp GROUP BY doc_id
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM shp a JOIN shp b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(inter * 1.0 / sa.n_shingles, 4) AS contain_a,
       ROUND(inter * 1.0 / sb.n_shingles, 4) AS contain_b
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE {_CT_DEN} * inter >= {_CT_NUM} * least(sa.n_shingles, sb.n_shingles)
"""


# ---------------------------------------------------------------------------
# Tier 3: MinHash + LSH banding — the scale path.
# One md5 per DISTINCT shingle (28-bit prefix → int), then the k "hash
# permutations" are affine maps h_i(x) = (a_i·x + b_i) mod P (P = 2^31-1),
# the classic universal-hash minhash family. The whole signature is computed
# in ONE traversal of the per-doc shingle array (F.aggregate keeping a
# running array of k minima) — a narrow map with NO explode and NO shuffle;
# the only shuffle in the operator is the band-bucket self-join, which is
# the theoretical minimum. band hash = md5 over the band's minhashes.
# Candidates = pairs sharing any (band_id, band_hash) bucket.
# ---------------------------------------------------------------------------
_MERSENNE_P = 2_147_483_647  # 2^31 - 1; a·x stays < 2^59 (no int64 overflow)

# Deterministic affine coefficients (Weyl-sequence on the golden ratio —
# fixed literals shared verbatim by the Spark plan and the DuckDB oracle).
_PERM_A = [(i * 0x9E3779B1 + 0x85EBCA6B) % _MERSENNE_P or 1 for i in range(1, NUM_PERMS + 1)]
_PERM_B = [(i * 0xC2B2AE35 + 0x27D4EB2F) % _MERSENNE_P for i in range(1, NUM_PERMS + 1)]


def _minhash_wide(docs: DataFrame, num_perms: int = NUM_PERMS) -> DataFrame:
    """(doc_id, mh0..mh{k-1}) — whole-stage-codegen minhash signatures.

    Shape chosen for 100 TB: explode(shingle positions) → md5 → k min()
    aggregates. Hash-aggregate does map-side partial combine, so the only
    shuffle carries ≈ one row per doc per partition regardless of doc
    length. The up-front repartition on doc_id spreads the md5 work evenly
    across all cores (and pre-aligns partitioning with the groupBy, so the
    aggregation itself needs no second exchange).
    """
    n = SHINGLE_LEN
    par = docs.sparkSession.sparkContext.defaultParallelism
    sh = (
        docs.repartition(par, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("text") - (n - 1), F.lit(1)))
            ).alias("i"),
            "text",
        )
        .select(
            "doc_id",
            F.conv(
                F.substring(F.md5(F.expr(f"substring(text, i, {n})")), 1, 7), 16, 10
            )
            .cast("long")
            .alias("h"),
        )
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % _MERSENNE_P).alias(f"mh{i}")
        for i, (a, b) in enumerate(zip(_PERM_A[:num_perms], _PERM_B[:num_perms]))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _band_table(
    wide: DataFrame, num_perms: int = NUM_PERMS, num_bands: int = NUM_BANDS
) -> DataFrame:
    """(doc_id, band, band_hash) from a _minhash_wide frame — THE banding
    layout (rows-per-band indexing, hash of concat_ws) every LSH query
    depends on; single-sourced so the incremental candidate set can never
    silently desynchronize from the batch one (round-6 review)."""
    rows_per_band = num_perms // num_bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{band * rows_per_band + j}")
                            for j in range(rows_per_band)
                        ],
                    )
                ).alias("band_hash"),
            )
            for band in range(num_bands)
        ]
    )
    return wide.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", "bb.band", "bb.band_hash"
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    num_perms: int = NUM_PERMS,
    num_bands: int = NUM_BANDS,
    wide: DataFrame = None,
) -> DataFrame:
    # `wide`: callers that also need the signatures themselves pass their
    # own (pinned) _minhash_wide so the corpus-wide md5+min pipeline is
    # computed once, not once per consumer
    sig = _minhash_wide(docs, num_perms) if wide is None else wide
    bands = _band_table(sig, num_perms, num_bands)
    # Self-join on an expensive intermediate: force a shuffle (merge) join so
    # both sides hit the SAME exchange and Spark plans a ReusedExchange — the
    # signature pipeline runs once. AQE would otherwise broadcast one side,
    # which *re-computes* the whole pipeline into the broadcast (2× work
    # locally; at 100 TB the bands table is far too big to broadcast at all).
    a = bands.hint("merge").alias("a")
    b = bands.hint("merge").alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def q_dedup_minhash_lsh(
    spark: SparkSession, sf_dir: str, observation=None
) -> DataFrame:
    """LSH candidate-pair listing — the DEBUGGING view of the minhash
    family. Its output is inherently C(c,2) in a true duplicate cluster
    of c docs (no valve can cut it without changing the answer); the
    cluster-form queries (dedup_connected_components /
    dedup_cluster_sizes) are the production representation at 100 TB —
    see QUERIES.md. What CAN be made visible is the blowup itself: an
    in-plan Observation counts the emitted pair mass (the baskets.py
    pattern — zero extra jobs, visible in the Spark UI / any
    QueryExecutionListener), so an operator sees the quadratic *before*
    shipping the listing downstream. Pass an ``Observation`` to read
    ``candidate_pairs`` directly after the first action."""
    docs = with_planted_dups(load_table(spark, sf_dir, "documents"))
    return lsh_candidate_pairs(docs).observe(
        observation if observation is not None else "lsh_pair_mass",
        F.count(F.lit(1)).alias("candidate_pairs"),
    )


_ROWS_PER_BAND = NUM_PERMS // NUM_BANDS

_MH_EXPRS = ",\n         ".join(
    f"list_min(list_transform(h, x -> ({a} * x + {b}) % {_MERSENNE_P})) AS mh{i}"
    for i, (a, b) in enumerate(zip(_PERM_A, _PERM_B))
)
_BAND_SELECTS = "\n  UNION ALL\n".join(
    "  SELECT doc_id, {band} AS band, md5(concat_ws(',', {cols})) AS band_hash FROM sig".format(
        band=band,
        cols=", ".join(f"mh{band * _ROWS_PER_BAND + j}" for j in range(_ROWS_PER_BAND)),
    )
    for band in range(NUM_BANDS)
)

ORACLE_DEDUP_MINHASH_LSH = f"""
WITH corpus AS ({PLANTED_DUPS_SQL}),
hs AS (
  SELECT doc_id,
         list_transform(
           list_distinct(list_transform(
             generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)),
             i -> substring(text, i, {SHINGLE_LEN}))),
           s -> CAST(('0x' || substring(md5(s), 1, 7))::UBIGINT AS BIGINT)) AS h
  FROM corpus
), sig AS (
  SELECT doc_id,
         {_MH_EXPRS}
  FROM hs
), bands AS (
{_BAND_SELECTS}
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


# ---------------------------------------------------------------------------
# MinHash ESTIMATOR calibration — the sketch-accuracy report for the
# minhash family (the pattern events_hll_report applies to HLL): for
# every LSH candidate pair, the component-agreement estimate
# agree/k — an unbiased estimator of Jaccard — next to the EXACT
# distinct-shingle Jaccard, per pair. Everything but the two final
# rounded ratios is integer (agreement count, intersection, union), so
# the report is engine- and layout-exact; at 100 TB the exact columns
# run only on the bucket-bounded candidates, which is precisely the
# verify cost a production pipeline already pays.
# ---------------------------------------------------------------------------
def q_dedup_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per LSH candidate pair: minhash agreement count + estimated
    Jaccard vs exact shingle Jaccard."""
    # Rebalance first (r10): single-row-group fixture scan — the minhash
    # signature + shingle-array maps otherwise run single-task
    # (same-session A/B best-of-3 at sf0.1: 3.2s → 2.2s rebalanced);
    # cheap even-out at cluster scale where the scan is already wide.
    docs = with_planted_dups(
        load_table(spark, sf_dir, "documents")
    ).repartition(spark.sparkContext.defaultParallelism)
    # ONE signature pipeline expression feeds both the band self-join and
    # the per-pair signature columns (round-6 review); deliberately NOT
    # pin()ed — identical subtrees get ReusedExchange from Catalyst, and
    # a measured pin() variant was ~25% slower at sf0.1 (materialization
    # cost exceeds the saved re-execution at this shape)
    wide = _minhash_wide(docs)
    pairs = lsh_candidate_pairs(docs, wide=wide)
    sig = wide.select(
        "doc_id",
        F.array(*[F.col(f"mh{i}") for i in range(NUM_PERMS)]).alias("sig"),
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    n = SHINGLE_LEN
    arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("text") - (n - 1), F.lit(1))),
            lambda i: F.substring(F.col("text"), i, n),
        )
    )
    ta = docs.select(F.col("doc_id").alias("doc_a"), arr.alias("sh_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), arr.alias("sh_b"))
    agree = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda b: b
        )
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    uni = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            agree.alias("n_agree"),
            F.round(agree / NUM_PERMS, 4).alias("est_jaccard"),
            inter.alias("inter"),
            uni.alias("uni"),
            F.round(inter / uni, 4).alias("exact_jaccard"),
        )
    )


_AGREE_SQL = " + ".join(
    f"CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END" for i in range(NUM_PERMS)
)

ORACLE_DEDUP_MINHASH_ESTIMATE = f"""
WITH corpus AS ({PLANTED_DUPS_SQL}),
hs AS (
  SELECT doc_id,
         list_transform(
           list_distinct(list_transform(
             generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)),
             i -> substring(text, i, {SHINGLE_LEN}))),
           s -> CAST(('0x' || substring(md5(s), 1, 7))::UBIGINT AS BIGINT)) AS h
  FROM corpus
), sig AS (
  SELECT doc_id,
         {_MH_EXPRS}
  FROM hs
), bands AS (
{_BAND_SELECTS}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)),
           i -> substring(text, i, {SHINGLE_LEN}))) AS arr
  FROM corpus
)
SELECT doc_a, doc_b,
       CAST({_AGREE_SQL} AS INTEGER) AS n_agree,
       ROUND(({_AGREE_SQL}) * 1.0 / {NUM_PERMS}, 4) AS est_jaccard,
       CAST(len(list_intersect(ta.arr, tb.arr)) AS INTEGER) AS inter,
       CAST(len(list_distinct(list_concat(ta.arr, tb.arr))) AS INTEGER) AS uni,
       ROUND(len(list_intersect(ta.arr, tb.arr)) * 1.0
             / len(list_distinct(list_concat(ta.arr, tb.arr))), 4)
         AS exact_jaccard
FROM pairs
JOIN sig a ON a.doc_id = doc_a
JOIN sig b ON b.doc_id = doc_b
JOIN sh ta ON ta.doc_id = doc_a
JOIN sh tb ON tb.doc_id = doc_b
"""


# ---------------------------------------------------------------------------
# Tier 4: SimHash fingerprint (16-bit here; width-parametric).
# Per token take 16 bits of md5; per bit position, vote +1/-1 across tokens;
# fingerprint bit = 1 iff vote >= 0. Built-ins only (conv/shiftright/&).
# Scale: explode(tokens) × bits is a narrow map; one shuffle on doc_id.
# ---------------------------------------------------------------------------
SIMHASH_BITS = 16


def simhash(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    toks = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    # first 4 hex chars of md5(tok) → 16-bit int
    toks = toks.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("tok")), 1, bits // 4), 16, 10)
        .cast("long")
        .alias("h"),
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    votes = (
        toks.select("doc_id", "h", bit)
        # shiftright/shiftleft builtins take a literal count — use expr for
        # the column-valued shift
        .select(
            "doc_id",
            "bit",
            F.expr("(shiftright(h, bit) & 1) * 2 - 1").alias("vote"),
        )
        .groupBy("doc_id", "bit")
        .agg(F.sum("vote").alias("votes"))
    )
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("votes") >= 0, F.expr("shiftleft(1, bit)")).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("simhash")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bit-vote fingerprints per doc (16-bit): near-dups share
    fingerprints within small Hamming distance."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return simhash(docs)


ORACLE_DEDUP_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
), hashed AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(tok), 1, {SIMHASH_BITS // 4}))::UBIGINT AS BIGINT) AS h
  FROM toks
), bits AS (
  SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS bit
), votes AS (
  SELECT doc_id, bit, SUM(((h >> bit) & 1) * 2 - 1) AS votes
  FROM hashed CROSS JOIN bits
  GROUP BY doc_id, bit
)
SELECT doc_id,
       CAST(SUM(CASE WHEN votes >= 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# Tier 5: embedding-cosine near-dup — semantic dedup over array<float>.
# Scale path: sign-LSH bucket equi-join (similarity.sign_bucket) replaces
# the all-pairs cross join; cosine >= threshold filters within buckets.
# The fixture corpus is random (no natural near-dups, verified), so the
# query plants perturbed copies (vec_id+1_000_000, +0.05·sin(dim_index)) —
# cosine ≈ 0.96 vs ≈ 0 for random pairs.
# ---------------------------------------------------------------------------
COSINE_DUP_THRESHOLD = 0.95
_N_PLANTED_EMB = 100

# Sign-bucket WIDTH scales with the corpus (the SemDeDup-cell / SAX-word /
# pHash-width pattern): at the 6-bit floor there are only 64 buckets, so
# bucket sizes grow linearly with vectors and the within-bucket pair join
# quadratically (~n²/128 interpreted dot products). One extra sign bit
# halves bucket volume; the ladder keeps average buckets bounded while the
# cosine bar stays absolute. Finer buckets trade recall (a near-dup pair
# splits when a near-zero component flips sign among the first d dims) —
# the standard granularity/recall knob of every bucketed index here. The
# floor keeps every driver-checked SF (≤ 4,000 vectors incl. planted) on
# 6-bit buckets, so the static oracle stays a strict mirror there.
_COSINE_SIGN_DIM_LADDER = (  # (max corpus rows, sign dims)
    (4_000, 6),
    (40_000, 9),
    (400_000, 12),
    (float("inf"), 16),
)


def embedding_near_dups(vectors: DataFrame, threshold: float = COSINE_DUP_THRESHOLD) -> DataFrame:
    """(vec_a, vec_b, cos) pairs with same sign-bucket AND cosine >= threshold.

    vectors: (vec_id, emb array<double>).

    The norm is projected ONCE per row before the self-join: Catalyst pushes
    the cosine filter into the join condition, and the higher-order-function
    dot product is interpreted (no codegen) — evaluating it per PAIR is the
    hot loop, so recomputing both norms there as well would triple it (3x
    measured at sf0.1). Same doubles as computing the norm per pair, so the
    result is bit-identical to the DuckDB oracle either way.
    """
    from log_agent_spark.operators.similarity import (
        _dot,
        _norm,
        probe_buckets,
        sign_bucket,
    )

    # structural parameter -> eager precheck (the triangle-count width
    # pattern): one count picks the bucket width off the ladder
    n_corpus = vectors.count()
    dims = pick_rung(n_corpus, _COSINE_SIGN_DIM_LADDER)
    b = vectors.select(
        "vec_id",
        "emb",
        sign_bucket(F.col("emb"), dims).alias("bucket"),
        _norm(F.col("emb")).alias("norm"),
    )
    if not is_floor(dims, _COSINE_SIGN_DIM_LADDER):
        # scale path only: hamming-1 multi-probe on the LHS recovers the
        # pairs a finer bucket splits (one near-zero component flipping
        # sign) — each unordered pair still matches exactly one probe, so
        # no distinct is needed. The floor keeps the exact-match join so
        # driver-checked SFs keep their ledgered values and the static
        # oracle stays a strict mirror.
        lhs = b.withColumn(
            "bucket", F.explode(probe_buckets(F.col("bucket"), dims))
        ).alias("a")
    else:
        lhs = b.alias("a")
    rhs = b.alias("b")
    cond = (F.col("a.bucket") == F.col("b.bucket")) & (
        F.col("a.vec_id") < F.col("b.vec_id")
    )
    # r10 (guide §3.1): unlike the minhash band join (whose md5+min
    # signature pipeline must not be re-computed into a broadcast build),
    # this build side is a MAP-ONLY projection (norm + sign bucket) —
    # re-deriving it into a broadcast is one cheap pass, far less than the
    # two corpus sorts the forced merge join paid. The exact corpus count
    # is already in hand from the ladder precheck; past the broadcast
    # limit the merge hints return and keep the AQE-proof shuffle shape.
    if n_corpus <= DEFAULT_BROADCAST_ROW_LIMIT:
        joined = lhs.join(F.broadcast(rhs), cond)
    else:
        joined = lhs.hint("merge").join(rhs.hint("merge"), cond)
    return (
        joined
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.round(
                _dot(F.col("a.emb"), F.col("b.emb"))
                / (F.col("a.norm") * F.col("b.norm")),
                4,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by embedding cosine above threshold (planted dups fixture)."""
    from log_agent_spark.operators.similarity import as_double

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double(F.col("embedding")).alias("emb"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    planted = emb.filter(F.col("vec_id") < _N_PLANTED_EMB).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("emb"), lambda x, i: x + 0.05 * F.sin((i + 1).cast("double"))
        ).alias("emb"),
    )
    return embedding_near_dups(emb.unionByName(planted))


ORACLE_DEDUP_EMBEDDING_COSINE = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), planted AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(list_zip(emb, generate_series(1, len(emb))),
                        t -> t[1] + 0.05 * sin(t[2]::DOUBLE)) AS emb
  FROM base WHERE vec_id < {_N_PLANTED_EMB}
), corpus AS (
  SELECT * FROM base UNION ALL SELECT * FROM planted
), b AS (
  SELECT vec_id, emb, {_similarity_bucket_sql("emb")} AS bucket FROM corpus
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.emb, b.emb) /
             (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))),
             4) AS cos
FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.emb, b.emb) /
            (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))),
            4) >= {COSINE_DUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Semantic dedup, cluster-then-prune (SemDeDup, Abbas et al. 2023): assign
# every embedding to its nearest coarse centroid, then compare pairs ONLY
# within a cluster. This is the scale path for embedding near-dup at 100 TB:
# the all-pairs O(n²) comparison becomes sum over cells of O(|cell|²), and
# the cell assignment itself is a broadcast join (centroids are tiny) — the
# corpus is scanned once, shuffled once on the cell id. Complements the
# sign-LSH bucketing above (hyperplane buckets) with the k-means-cell
# family the SemDeDup paper uses; centroids here are deterministic (the
# first K vectors — operators/similarity.py's IVF coarse quantizer, whose
# k-means update step is `ann_kmeans_step`) so the oracle can replay them.
#
# K scales with the corpus: cells of ~_SEMANTIC_CELL_TARGET vectors, floor
# _SEMANTIC_CELLS_MIN. A CONSTANT K makes within-cell comparison O(n²/K) —
# quadratic asymptotically, with join parallelism capped at K (observed:
# 9-task stages at sf1) — while fixed cell SIZE makes it O(n·T/2), linear,
# with parallelism growing alongside the data. The floor keeps K = 16 at
# the oracle-checked fixture SFs (corpus ≤ 2,200 < 16·256), so driver
# hashes are unchanged; the sf1 probe and anything larger get the scaled
# cell count. Derived via the scalar-join idiom on both engines.
# ---------------------------------------------------------------------------
_SEMANTIC_CELLS_MIN = 16
_SEMANTIC_CELL_TARGET = 256


@pinned_query("dedup_sem_")
def q_dedup_semantic_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: nearest-centroid cell assignment, near-dup pairs within cells."""
    from log_agent_spark.operators.similarity import _dot, _norm, as_double, ivf_assign

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double(F.col("embedding")).alias("emb"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    planted = emb.filter(F.col("vec_id") < _N_PLANTED_EMB).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            F.col("emb"), lambda x, i: x + 0.05 * F.sin((i + 1).cast("double"))
        ).alias("emb"),
    )
    corpus = emb.unionByName(planted)
    kf = corpus.agg(
        F.greatest(
            F.lit(_SEMANTIC_CELLS_MIN),
            F.ceil(F.count("*") / F.lit(float(_SEMANTIC_CELL_TARGET))),
        ).alias("k")
    )
    centroids = (
        corpus.crossJoin(F.broadcast(kf))
        .filter(F.col("vec_id") < F.col("k"))
        .select(F.col("vec_id").alias("centroid_id"), F.col("emb").alias("c_emb"))
    )
    # r10 (guide §5 caching): both sides of the within-cell pair join
    # consume `cells`, and the k-scaled centroid-distance assignment (k
    # dot products per vector) re-ran once per side — the range/merge
    # exchanges don't dedupe it because each side plans its own subtree.
    # One corpus-bounded persist (released by pinned_query) computes the
    # assignment once; at 100 TB this is the SemDeDup flow's materialized
    # assignment table (MEMORY_AND_DISK), not extra state.
    cells = pin(
        ivf_assign(corpus, centroids).withColumn("norm", _norm(F.col("emb")))
    )
    # r10 (guide §3.1): unlike the minhash band join, both sides here read
    # the PINNED assignment table, so a fixture-scale broadcast build is a
    # cache read, not a recompute — the merge hint only forced two sorts
    # of the cells table. maybe_broadcast keeps BHJ while the parquet
    # footer bounds the corpus (≤ 2× embeddings rows incl. planted) under
    # 10M rows and degrades to the AQE-chosen shuffle join past it — the
    # dedup_incremental guard pattern.
    from log_agent_spark.sources.tables import footer_row_count

    corpus_bound = 2 * footer_row_count(sf_dir, "embeddings")
    lhs = cells.alias("a")
    rhs = maybe_broadcast(cells, corpus_bound).alias("b")
    cos = F.round(
        _dot(F.col("a.emb"), F.col("b.emb")) / (F.col("a.norm") * F.col("b.norm")),
        4,
    )
    return (
        lhs.join(
            rhs,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cell").alias("cell"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= COSINE_DUP_THRESHOLD)
    )


ORACLE_DEDUP_SEMANTIC_CLUSTERED = f"""
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
), planted AS (
  SELECT vec_id + 1000000 AS vec_id,
         list_transform(list_zip(emb, generate_series(1, len(emb))),
                        t -> t[1] + 0.05 * sin(t[2]::DOUBLE)) AS emb
  FROM base WHERE vec_id < {_N_PLANTED_EMB}
), corpus AS (
  SELECT * FROM base UNION ALL SELECT * FROM planted
), cent AS (
  SELECT vec_id AS centroid_id, emb AS c_emb FROM corpus
  WHERE vec_id < (SELECT GREATEST({_SEMANTIC_CELLS_MIN},
                                  CEIL(COUNT(*) / {float(_SEMANTIC_CELL_TARGET)!r}))
                  FROM corpus)
), assigned AS (
  SELECT vec_id, emb, centroid_id AS cell FROM (
    SELECT c.vec_id, c.emb, cent.centroid_id,
           ROW_NUMBER() OVER (PARTITION BY c.vec_id
                              ORDER BY list_dot_product(c.emb, cent.c_emb) DESC,
                                       cent.centroid_id ASC) AS rn
    FROM corpus c CROSS JOIN cent
  ) WHERE rn = 1
)
SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_dot_product(a.emb, b.emb) /
             (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))),
             4) AS cos
FROM assigned a JOIN assigned b
  ON a.cell = b.cell AND a.vec_id < b.vec_id
WHERE ROUND(list_dot_product(a.emb, b.emb) /
            (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))),
            4) >= {COSINE_DUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# Bloom-filter dedup prefilter with an in-engine false-positive report.
# The incremental anti-join below ships every prior HASH (16 B/doc — 1.6 TB
# of state at 100 B docs); the Bloom prefilter compresses the prior corpus
# to a fixed W-bit membership filter instead. Built from first principles
# so the DuckDB oracle replays it exactly: K affine hashes over the 28-bit
# md5 prefix → the filter IS the distinct set-position table (≤ W rows,
# built with map-side combine, broadcast to the probe side — the Spark-
# native form of `spark.util.sketch.BloomFilter`, but oracle-portable).
# A probe doc is "possibly seen" iff all K of its positions are set; the
# report classifies every positive against ground truth (exact prior-hash
# semi-join) so the FP rate of the (W, K, n) configuration is visible and
# oracle-checked. At 100 TB: probes that pass the filter — true dups plus
# the ~(1-e^{-Kn/W})^K false-positive sliver — are the only docs that pay
# the full-state anti-join; everything else short-circuits locally.
# ---------------------------------------------------------------------------
_BLOOM_W = 2048  # bits (set-position table rows ≤ W)
_BLOOM_K = 3
_BLOOM_A = [(i * 0x9E3779B1 + 0x85EBCA6B) % _MERSENNE_P or 1 for i in range(21, 21 + _BLOOM_K)]
_BLOOM_B = [(i * 0xC2B2AE35 + 0x27D4EB2F) % _MERSENNE_P for i in range(21, 21 + _BLOOM_K)]


def _bloom_positions() -> F.Column:
    return F.array(
        *[
            ((F.lit(a) * F.col("h") + F.lit(b)) % _MERSENNE_P % _BLOOM_W).alias(f"p{j}")
            for j, (a, b) in enumerate(zip(_BLOOM_A, _BLOOM_B))
        ]
    )


@pinned_query("dedup_bloom_")
def q_dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom prefilter vs prior corpus; every positive classified true/false."""
    corpus = (
        with_planted_dups(load_table(spark, sf_dir, "documents"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("text"), 1, 7), 16, 10)
            .cast("long")
            .alias("h"),
        )
        # (doc_id, h) is 16 B/row; three branches consume it (filter build,
        # probe stream, ground-truth hashes) — persist so the full-text md5
        # scan runs once instead of three times.
        .transform(pin)
    )
    prior = corpus.filter(F.col("doc_id") < 250)
    incoming = corpus.filter(F.col("doc_id") >= 250)
    bloom = (
        prior.select(F.explode(_bloom_positions()).alias("pos")).distinct()
    )
    probes = incoming.select(
        "doc_id", "h", F.explode(_bloom_positions()).alias("pos")
    )
    positives = (
        probes.join(F.broadcast(bloom), "pos")
        .groupBy("doc_id", "h")
        .agg(F.count("*").alias("n_set"))
        .filter(F.col("n_set") == _BLOOM_K)
    )
    prior_hashes = prior.select("h").distinct()
    return (
        positives.join(
            F.broadcast(prior_hashes.withColumn("seen", F.lit(True))), "h", "left"
        )
        .select("doc_id", F.coalesce("seen", F.lit(False)).alias("true_dup"))
    )


_BLOOM_PARAMS_SQL = ", ".join(
    f"({a}, {b})" for a, b in zip(_BLOOM_A, _BLOOM_B)
)

ORACLE_DEDUP_BLOOM_PREFILTER = f"""
WITH corpus AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(text), 1, 7))::UBIGINT AS BIGINT) AS h
  FROM ({PLANTED_DUPS_SQL})
), params(a, b) AS (VALUES {_BLOOM_PARAMS_SQL}),
prior AS (SELECT * FROM corpus WHERE doc_id < 250),
incoming AS (SELECT * FROM corpus WHERE doc_id >= 250),
bloom AS (
  SELECT DISTINCT ((a * h + b) % {_MERSENNE_P}) % {_BLOOM_W} AS pos
  FROM prior CROSS JOIN params
), probes AS (
  SELECT doc_id, h, ((a * h + b) % {_MERSENNE_P}) % {_BLOOM_W} AS pos
  FROM incoming CROSS JOIN params
), positives AS (
  SELECT doc_id, h FROM probes JOIN bloom USING (pos)
  GROUP BY doc_id, h HAVING COUNT(*) = {_BLOOM_K}
)
SELECT p.doc_id,
       COALESCE(p.h IN (SELECT h FROM prior), FALSE) AS true_dup
FROM positives p
"""


# ---------------------------------------------------------------------------
# Incremental dedup at ingest: new batch anti-joined against the prior
# corpus's content hashes (the streaming T4 "(path, mtime) seen-state"
# pattern, fspolling.go:71-87, lifted to content addressing). Scale: only
# HASHES of the prior corpus move — 16 bytes/doc, broadcast when they fit,
# hash-partitioned anti-join when they don't; the 100 TB of prior text is
# never rescanned. "When they fit" is a real guard (r10 sweep of VERDICT
# r9 What's-wrong #2): the prior corpus grows forever under incremental
# ingest, so the broadcast is gated on a parquet-footer row-count upper
# bound via bcast.maybe_broadcast — past the limit the plan degrades to
# the shuffle anti-join instead of an executor OOM. (The Bloom-prefilter
# variant, q_dedup_bloom_prefilter, is the documented scale path when
# even the hash set is too big to shuffle comfortably.)
# ---------------------------------------------------------------------------
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # content_cluster_hash, not raw md5: md5(NULL) = NULL, and a NULL key
    # is kept by left_anti (never matches) but DROPPED by the oracle's
    # NOT IN (NULL comparison) — the shared singleton hash makes a
    # NULL-text doc "new" on BOTH engines (round-6 review; same class as
    # the r5 license-taint fix that introduced the helper)
    d = load_table(spark, sf_dir, "documents")
    prior = (
        d.filter(F.col("doc_id") < 250)
        .select(content_cluster_hash().alias("h"))
        .distinct()
    )
    incoming = d.filter(F.col("doc_id") >= 250).select(
        "doc_id", "lang", content_cluster_hash().alias("h")
    )
    # upper bound on |prior| from the base table's parquet footers
    # (metadata-only count — never executes the distinct-hash plan twice)
    n_prior_bound = d.count()
    return (
        incoming.join(maybe_broadcast(prior, n_prior_bound), "h", "left_anti")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_new"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


ORACLE_DEDUP_INCREMENTAL = f"""
WITH prior AS (
  SELECT DISTINCT {content_cluster_hash_sql()} AS h
  FROM documents WHERE doc_id < 250
), incoming AS (
  SELECT doc_id, lang, {content_cluster_hash_sql()} AS h
  FROM documents WHERE doc_id >= 250
)
SELECT lang, COUNT(*) AS n_new,
       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
FROM incoming WHERE h NOT IN (SELECT h FROM prior)
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Incremental NEAR-dup: LSH candidates restricted to pairs touching the new
# batch (new×old ∪ new×new), never old×old — the shape that keeps a
# continuously-ingesting 100 TB corpus deduplicatable. In production the
# old side's band table IS the stored LSH index (written once at ingest,
# band-hash-partitioned); here both sides derive from the fixture so the
# oracle can replay them. The new batch's bands are tiny → broadcast onto
# the index join; the full-corpus band table is never self-joined.
# ---------------------------------------------------------------------------
_INCR_NEW_MOD = 5  # doc_id % 5 == 0 → the "newly ingested" 20%


def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_planted_dups(load_table(spark, sf_dir, "documents"))
    bands = _band_table(_minhash_wide(docs))
    new_bands = bands.filter(F.col("doc_id") % _INCR_NEW_MOD == 0)
    a = F.broadcast(new_bands).alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


ORACLE_DEDUP_MINHASH_INCREMENTAL = f"""
WITH corpus AS ({PLANTED_DUPS_SQL}),
hs AS (
  SELECT doc_id,
         list_transform(
           list_distinct(list_transform(
             generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)),
             i -> substring(text, i, {SHINGLE_LEN}))),
           s -> CAST(('0x' || substring(md5(s), 1, 7))::UBIGINT AS BIGINT)) AS h
  FROM corpus
), sig AS (
  SELECT doc_id,
         {_MH_EXPRS}
  FROM hs
), bands AS (
{_BAND_SELECTS}
)
SELECT DISTINCT LEAST(a.doc_id, b.doc_id) AS doc_a,
                GREATEST(a.doc_id, b.doc_id) AS doc_b
FROM bands a JOIN bands b
  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id <> b.doc_id
WHERE a.doc_id % {_INCR_NEW_MOD} = 0
"""


# ---------------------------------------------------------------------------
# LSH candidate QUALITY report — measuring the banding trade-off in-engine:
# every LSH candidate pair is scored with its exact token-set Jaccard and
# bucketed by decile, so "how precise are my bands?" is one query instead
# of an offline eval. The exact verify runs ONLY on the bucket-bounded
# candidates (never corpus²), which is precisely the verify-stage cost a
# production near-dup pipeline pays; integer intersection/union sizes make
# the decile assignment float-proof.
# ---------------------------------------------------------------------------
def q_dedup_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_planted_dups(load_table(spark, sf_dir, "documents"))
    pairs = lsh_candidate_pairs(docs)
    toks = F.array_distinct(F.filter(F.split(F.col("text"), " "), lambda t: t != ""))
    a = docs.select(F.col("doc_id").alias("doc_a"), toks.alias("ta"))
    b = docs.select(F.col("doc_id").alias("doc_b"), toks.alias("tb"))
    scored = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            F.size(F.array_intersect("ta", "tb")).alias("i"),
            F.size(F.array_union("ta", "tb")).alias("u"),
        )
    )
    return (
        scored.select(
            # try_divide: a candidate pair of token-FREE docs (identical
            # whitespace-only texts share every shingle, so LSH pairs
            # them) has u = 0 — ANSI Spark would crash where DuckDB
            # yields NULL (round-6 review); NULL deciles group together
            F.floor(F.try_divide(10 * F.col("i"), F.col("u")))
            .cast("long")
            .alias("jaccard_decile")
        )
        .groupBy("jaccard_decile")
        .agg(F.count("*").alias("n_pairs"))
    )


ORACLE_DEDUP_LSH_QUALITY = f"""
WITH corpus AS ({PLANTED_DUPS_SQL}),
hs AS (
  SELECT doc_id,
         list_transform(
           list_distinct(list_transform(
             generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)),
             i -> substring(text, i, {SHINGLE_LEN}))),
           s -> CAST(('0x' || substring(md5(s), 1, 7))::UBIGINT AS BIGINT)) AS h
  FROM corpus
), sig AS (
  SELECT doc_id,
         {_MH_EXPRS}
  FROM hs
), bands AS (
{_BAND_SELECTS}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), toksets AS (
  SELECT doc_id, list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS tk
  FROM corpus
), scored AS (
  SELECT len(list_intersect(ta.tk, tb.tk)) AS i,
         len(list_distinct(list_concat(ta.tk, tb.tk))) AS u
  FROM pairs
  JOIN toksets ta ON ta.doc_id = doc_a
  JOIN toksets tb ON tb.doc_id = doc_b
)
SELECT CAST(FLOOR(10.0 * i / u) AS BIGINT) AS jaccard_decile,
       COUNT(*) AS n_pairs
FROM scored GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Cross-source content overlap: for every source pair, how many exact
# content hashes they share and the Jaccard of their hash sets — the
# provenance matrix that surfaces which feeds mirror each other before
# mixture weights are chosen. Shape: one (source, hash) distinct, a
# self-equi-join ON HASH (bounded by duplicate content, never |corpus|²),
# and per-source set sizes broadcast back. Exact-integer Jaccard, 4dp.
# ---------------------------------------------------------------------------
def q_dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # the fixture's sources are disjoint by construction, so plant a
    # deterministic "mirror" feed re-hosting every third document — the
    # scraped-site-mirror situation the matrix exists to expose
    feeds = d.select("source", "text").unionByName(
        d.filter(F.col("doc_id") % 3 == 0).select(
            F.lit("mirror0").alias("source"), "text"
        )
    )
    sh = feeds.select("source", F.md5("text").alias("h")).distinct()
    sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    na = sizes.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        shared.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.round(
                F.col("n_shared")
                / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
                4,
            ).alias("jaccard"),
        )
    )


ORACLE_DEDUP_SOURCE_OVERLAP = """
WITH feeds AS (
  SELECT source, text FROM documents
  UNION ALL
  SELECT 'mirror0' AS source, text FROM documents WHERE doc_id % 3 = 0
), sh AS (
  SELECT DISTINCT source, md5(text) AS h FROM feeds
), sizes AS (
  SELECT source, COUNT(*) AS n FROM sh GROUP BY source
), shared AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, n_shared,
       ROUND(n_shared * 1.0 / (na.n + nb.n - n_shared), 4) AS jaccard
FROM shared
JOIN sizes na ON na.source = source_a
JOIN sizes nb ON nb.source = source_b
"""


# ---------------------------------------------------------------------------
# The COMPOSED dedup pipeline — what a training-data build actually emits:
# tier 1 exact dedup (min doc_id per identical text), tier 2 MinHash-LSH
# pairs among the exact survivors, resolved to clusters by connected
# components, keeping each cluster's root (min doc_id). Output = the
# surviving corpus. Scale: tier 1 is one hash shuffle; tier 2 touches only
# LSH-bucket collisions; the components step is one union-find task while
# the sparse dup graph is small, O(log n) star rounds past that, whatever
# the cluster diameter (operators/graph.py notes).
# ---------------------------------------------------------------------------
@pinned_query("dedup_canon_")
def q_dedup_canonical_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from log_agent_spark.operators.graph import connected_components

    docs = with_planted_dups(load_table(spark, sf_dir, "documents"))
    exact_canon = docs.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    pairs = lsh_candidate_pairs(exact_canon)
    comp = connected_components(
        exact_canon.select("doc_id"),
        pairs,
        id_col="doc_id",
        src_col="doc_a",
        dst_col="doc_b",
    )
    roots = comp.filter(F.col("node") == F.col("comp")).select(
        F.col("node").alias("doc_id")
    )
    return roots.join(exact_canon, "doc_id").select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )


ORACLE_DEDUP_CANONICAL_CORPUS = f"""
WITH RECURSIVE corpus AS ({PLANTED_DUPS_SQL}),
canon AS (
  SELECT MIN(doc_id) AS doc_id, text FROM corpus GROUP BY text
), hs AS (
  SELECT doc_id,
         list_transform(
           list_distinct(list_transform(
             generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)),
             i -> substring(text, i, {SHINGLE_LEN}))),
           s -> CAST(('0x' || substring(md5(s), 1, 7))::UBIGINT AS BIGINT)) AS h
  FROM canon
), sig AS (
  SELECT doc_id,
         {_MH_EXPRS}
  FROM hs
), bands AS (
{_BAND_SELECTS}
), edges0 AS (
  SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), edges AS (
  SELECT src, dst FROM edges0 UNION SELECT dst, src FROM edges0
), reach(node, r) AS (
  SELECT doc_id, doc_id FROM canon
  UNION
  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src
), comp AS (
  SELECT node AS doc_id, MIN(r) AS comp FROM reach GROUP BY node
)
SELECT c.doc_id, length(k.text) AS n_chars
FROM comp c JOIN canon k ON c.doc_id = k.doc_id
WHERE c.doc_id = c.comp
"""


# ---------------------------------------------------------------------------
# SOFT dedup: downweight duplicates instead of dropping them. Removal
# loses the signal that a document was independently hosted N times;
# weighting each copy 1/N keeps every source represented while the
# duplicated CONTENT still contributes one document's worth of tokens to
# the training mixture (the "count each document once, wherever it
# lives" budget rule). Corpus = originals + a deterministic mirror feed
# re-hosting every third doc (the source_overlap situation). One
# checksum-partitioned window count; reporting per (source,
# multiplicity) keeps the weighted sum EXACT — raw_chars/n_copies is one
# integer-over-integer division per output row, never a float
# accumulation across different denominators.
# ---------------------------------------------------------------------------
def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft dedup weights: per (source, duplicate multiplicity), doc and
    raw char counts plus the 1/N-weighted effective chars."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    corpus = d.select("doc_id", "source", "text").unionByName(
        d.filter(F.col("doc_id") % 3 == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.lit("mirror0").alias("source"),
            "text",
        )
    )
    # cluster hash, not raw md5: two unrelated NULL-text docs must not
    # count as copies of each other (round-6 review)
    keyed = corpus.withColumn(
        "n_copies",
        F.count("*").over(W.partitionBy(content_cluster_hash())),
    )
    return keyed.groupBy("source", "n_copies").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("raw_chars"),
        F.round(
            F.sum(F.length("text")) / F.col("n_copies"), 2
        ).alias("eff_chars"),
    )


ORACLE_DEDUP_SOFT_WEIGHTS = f"""
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'mirror0' AS source, text
  FROM documents WHERE doc_id % 3 = 0
), keyed AS (
  SELECT source, text,
         COUNT(*) OVER (PARTITION BY {content_cluster_hash_sql()})
           AS n_copies
  FROM corpus
)
SELECT source, CAST(n_copies AS BIGINT) AS n_copies, COUNT(*) AS n_docs,
       CAST(SUM(length(text)) AS BIGINT) AS raw_chars,
       ROUND(CAST(SUM(length(text)) AS BIGINT) / (n_copies * 1.0), 2)
         AS eff_chars
FROM keyed GROUP BY source, n_copies
"""


# ---------------------------------------------------------------------------
# Train/test leakage: split assignment + split hygiene.
#
# Two complementary operators a training-data pipeline runs before cutting a
# corpus into train/val/test:
#
#   * `dedup_split_leakage` AUDITS a naive per-doc hash split: how many
#     near-duplicate pairs (LSH candidates) straddle two different splits?
#     Every such pair is test-set contamination — the model sees a near-copy of
#     an eval document during training.
#   * `dedup_group_split` FIXES it for exact-duplicate groups: key the split
#     on the group ROOT's hash (min doc_id per content checksum) so a whole
#     duplicate group lands in one split, and report how many docs the
#     group-aware assignment moved relative to the naive per-doc split.
#     (The production form keys on the connected-component root from
#     `dedup_canonical_corpus`, covering near-dups too; the exact-group form
#     here is the SQL-expressible tier of the same shape.)
#
# Scale: the split of a doc is a PURE function of its id hash — computing
# split_a/split_b for LSH pairs needs no join at all, so the audit adds zero
# shuffles beyond the LSH candidate join itself. The group split is one
# checksum-partitioned window min (group sizes = duplicate multiplicity,
# bounded), again no extra join.
# ---------------------------------------------------------------------------
# ONE split definition for the whole engine: the audit below uses the
# exact assignment q_sample_hash_split produces (split_expr / split_sql
# imported from plans/sampling.py at the top of this module) instead of
# re-deriving the bucket formula here.


def q_dedup_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: LSH near-dup pairs bucketed by the
    (split_a, split_b) cell of a naive per-doc hash split; off-diagonal
    cells are train/test leakage."""
    docs = with_planted_dups(load_table(spark, sf_dir, "documents"))
    pairs = lsh_candidate_pairs(docs)
    return (
        pairs.select(
            _split_expr(F.col("doc_a")).alias("split_a"),
            _split_expr(F.col("doc_b")).alias("split_b"),
            "doc_a",
        )
        .groupBy("split_a", "split_b")
        .agg(
            F.count("*").alias("n_pairs"),
            F.min("doc_a").alias("sample_doc_a"),
        )
    )


ORACLE_DEDUP_SPLIT_LEAKAGE = f"""
WITH corpus AS ({PLANTED_DUPS_SQL}),
hs AS (
  SELECT doc_id,
         list_transform(
           list_distinct(list_transform(
             generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)),
             i -> substring(text, i, {SHINGLE_LEN}))),
           s -> CAST(('0x' || substring(md5(s), 1, 7))::UBIGINT AS BIGINT)) AS h
  FROM corpus
), sig AS (
  SELECT doc_id,
         {_MH_EXPRS}
  FROM hs
), bands AS (
{_BAND_SELECTS}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
)
SELECT {_split_sql('doc_a')} AS split_a,
       {_split_sql('doc_b')} AS split_b,
       COUNT(*) AS n_pairs, MIN(doc_a) AS sample_doc_a
FROM pairs GROUP BY 1, 2
"""


def q_dedup_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split: exact-dup groups assigned wholly by the group
    root's hash; reports docs moved vs the naive per-doc split."""
    from pyspark.sql.window import Window as W

    docs = with_planted_dups(load_table(spark, sf_dir, "documents"))
    # cluster hash, not raw md5: a NULL-text doc must be its own
    # singleton group, not inherit an unrelated NULL doc's root split
    keyed = docs.select(
        "doc_id", content_cluster_hash().alias("checksum")
    ).withColumn("root", F.min("doc_id").over(W.partitionBy("checksum")))
    return (
        keyed.select(
            "checksum",
            _split_expr(F.col("root")).alias("split"),
            (_split_expr(F.col("root")) != _split_expr(F.col("doc_id")))
            .cast("int")
            .alias("moved"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("checksum").alias("n_groups"),
            F.sum("moved").alias("n_moved"),
        )
    )


ORACLE_DEDUP_GROUP_SPLIT = f"""
WITH corpus AS ({PLANTED_DUPS_SQL}),
keyed AS (
  SELECT doc_id, {content_cluster_hash_sql()} AS checksum,
         MIN(doc_id) OVER (PARTITION BY {content_cluster_hash_sql()}) AS root
  FROM corpus
)
SELECT {_split_sql('root')} AS split,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT checksum) AS n_groups,
       CAST(SUM(CASE WHEN {_split_sql('root')} <> {_split_sql('doc_id')}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
FROM keyed GROUP BY 1
"""


# ---------------------------------------------------------------------------
# Dedup savings report — the capacity-planning view of exact dedup: per
# duplicate-cluster size, how many clusters exist, how many docs a dedup
# pass removes, and how many chars it reclaims. All integer aggregates
# (cluster members are byte-identical, so per-doc size is min() over the
# group); runs on the planted fixture corpus like every dedup query so
# the cluster-size spectrum is non-trivial.
# Scale: one md5-keyed aggregate (content never shuffles — only the
# 32-hex key and two ints), then a k-row rollup on cluster size.
# ---------------------------------------------------------------------------
def q_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_planted_dups(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    groups = (
        docs.select(
            content_cluster_hash().alias("h"), F.length("text").alias("nch")
        )
        .groupBy("h")
        .agg(F.count("*").alias("sz"), F.min("nch").alias("doc_chars"))
    )
    return groups.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").alias("n_clusters"),
        F.sum(F.col("sz") - 1).alias("docs_removable"),
        F.sum((F.col("sz") - 1) * F.col("doc_chars").cast("bigint")).alias(
            "chars_savable"
        ),
    )


ORACLE_DEDUP_SAVINGS = f"""
WITH corpus AS ({PLANTED_DUPS_SQL}),
groups AS (
  SELECT {content_cluster_hash_sql()} AS h, COUNT(*) AS sz,
         CAST(MIN(length(text)) AS BIGINT) AS doc_chars
  FROM corpus GROUP BY 1
)
SELECT CAST(sz AS BIGINT) AS cluster_size, COUNT(*) AS n_clusters,
       CAST(SUM(sz - 1) AS BIGINT) AS docs_removable,
       CAST(SUM((sz - 1) * doc_chars) AS BIGINT) AS chars_savable
FROM groups GROUP BY sz
"""


# ---------------------------------------------------------------------------
# Duplicate-cluster size distribution — the shape report behind the dedup
# savings number: how many exact-dup clusters exist at each size, how many
# docs and redundant chars each size class holds. Power-law-ish cluster
# sizes mean a few mega-clusters dominate savings (delete-by-representative
# is cheap); a flat distribution means the long tail dominates (per-pair
# work). Same corpus and md5 grouping as the green dedup_exact query.
# Scale: one content-hash groupBy (map-side partials) + one k-row histogram
# aggregate on cluster size; text bytes never shuffle (md5 + length only).
# ---------------------------------------------------------------------------
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = with_planted_dups(load_table(spark, sf_dir, "documents"))
    clusters = docs.groupBy(
        content_cluster_hash().alias("checksum")
    ).agg(
        F.count("*").alias("cluster_size"),
        F.sum(F.length("text").cast("bigint")).alias("cluster_chars"),
        F.max(F.length("text").cast("bigint")).alias("rep_chars"),
    )
    return clusters.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").alias("n_docs"),
        (F.sum("cluster_size") - F.count("*")).alias("redundant_docs"),
        F.sum(F.col("cluster_chars") - F.col("rep_chars")).alias("redundant_chars"),
    )


ORACLE_DEDUP_CLUSTER_SIZES = f"""
WITH clusters AS (
  SELECT {content_cluster_hash_sql()} AS checksum, COUNT(*) AS cluster_size,
         CAST(SUM(length(text)) AS BIGINT) AS cluster_chars,
         CAST(MAX(length(text)) AS BIGINT) AS rep_chars
  FROM ({PLANTED_DUPS_SQL})
  GROUP BY 1
)
SELECT cluster_size, COUNT(*) AS n_clusters,
       CAST(SUM(cluster_size) AS BIGINT) AS n_docs,
       CAST(SUM(cluster_size) - COUNT(*) AS BIGINT) AS redundant_docs,
       CAST(SUM(cluster_chars - rep_chars) AS BIGINT) AS redundant_chars
FROM clusters GROUP BY cluster_size
"""


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_canonical_corpus": q_dedup_canonical_corpus,
    "dedup_incremental": q_dedup_incremental,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "dedup_semantic_clustered": q_dedup_semantic_clustered,
    "dedup_bloom_prefilter": q_dedup_bloom_prefilter,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_containment": q_dedup_containment,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_minhash_incremental": q_dedup_minhash_incremental,
    "dedup_minhash_estimate": q_dedup_minhash_estimate,
    "dedup_lsh_quality": q_dedup_lsh_quality,
    "dedup_source_overlap": q_dedup_source_overlap,
    "dedup_simhash": q_dedup_simhash,
    "dedup_split_leakage": q_dedup_split_leakage,
    "dedup_group_split": q_dedup_group_split,
    "dedup_soft_weights": q_dedup_soft_weights,
    "dedup_savings": q_dedup_savings,
    "dedup_cluster_sizes": q_dedup_cluster_sizes,
}

ORACLES = {
    "dedup_exact": ORACLE_DEDUP_EXACT,
    "dedup_canonical_corpus": ORACLE_DEDUP_CANONICAL_CORPUS,
    "dedup_incremental": ORACLE_DEDUP_INCREMENTAL,
    "dedup_embedding_cosine": ORACLE_DEDUP_EMBEDDING_COSINE,
    "dedup_semantic_clustered": ORACLE_DEDUP_SEMANTIC_CLUSTERED,
    "dedup_bloom_prefilter": ORACLE_DEDUP_BLOOM_PREFILTER,
    "dedup_ngram_jaccard": ORACLE_DEDUP_NGRAM_JACCARD,
    "dedup_containment": ORACLE_DEDUP_CONTAINMENT,
    "dedup_minhash_lsh": ORACLE_DEDUP_MINHASH_LSH,
    "dedup_minhash_incremental": ORACLE_DEDUP_MINHASH_INCREMENTAL,
    "dedup_minhash_estimate": ORACLE_DEDUP_MINHASH_ESTIMATE,
    "dedup_lsh_quality": ORACLE_DEDUP_LSH_QUALITY,
    "dedup_source_overlap": ORACLE_DEDUP_SOURCE_OVERLAP,
    "dedup_simhash": ORACLE_DEDUP_SIMHASH,
    "dedup_split_leakage": ORACLE_DEDUP_SPLIT_LEAKAGE,
    "dedup_group_split": ORACLE_DEDUP_GROUP_SPLIT,
    "dedup_soft_weights": ORACLE_DEDUP_SOFT_WEIGHTS,
    "dedup_savings": ORACLE_DEDUP_SAVINGS,
    "dedup_cluster_sizes": ORACLE_DEDUP_CLUSTER_SIZES,
}
