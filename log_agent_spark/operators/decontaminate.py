"""Training-data hygiene operators: eval-set decontamination and corpus
snapshot diff.

Decontamination is the standard LLM-pretraining step (n-gram collision
against held-out benchmark text — the GPT-3 appendix-C recipe, token
n-grams instead of its 13-grams because fixture docs are short): any
training document sharing a token 8-gram with the eval split is flagged
with its overlap ratio. Everything is JVM-side column expressions
(split / transform / slice / explode — whole-stage codegen, no Python).

Scale (100 TB intent): the eval split is the SMALL side by construction
(benchmarks are MBs, corpora are TBs), so its distinct-n-gram set is
broadcast and the training side never shuffles on n-grams — the only wide
stage is the per-doc hit count, which partial-aggregates map-side. The
snapshot diff is a single full-outer join on the snapshot key; at scale
both snapshots arrive pre-bucketed on doc_id (DataFrameWriter.bucketBy) so
the join needs no exchange.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from log_agent_spark.functions.content import (
    content_cluster_hash,
    content_cluster_hash_sql,
)
from log_agent_spark.sources.tables import load_table

NGRAM_N = 8
EVAL_SOURCE = "src0"  # deterministic eval split of the documents fixture


def _toks(text: Column) -> Column:
    return F.filter(F.split(text, " "), lambda t: t != "")


def token_ngrams(text: Column, n: int | Column = NGRAM_N) -> Column:
    """Space-joined token n-grams as an array column (empty if < n tokens).
    ``n`` may be a Column (the sweep flatten fans settings out as rows and
    derives each row's n-grams from its own ``ngram_n`` value)."""
    toks = _toks(text)
    n_col = n if isinstance(n, Column) else F.lit(n)
    return F.when(
        F.size(toks) >= n_col,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n_col + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n_col)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _sql_ngrams_n(n: int) -> str:
    """DuckDB twin of token_ngrams for an arbitrary n (1-based inclusive
    list_slice); keeps a ``{where}`` hole for the source filter."""
    return f"""
  SELECT doc_id,
         array_to_string(toks[i:i+{n - 1}], ' ') AS ngram
  FROM (
    SELECT doc_id,
           list_filter(string_split(text, ' '), t -> t <> '') AS toks
    FROM documents {{where}}
  ),
  LATERAL unnest(generate_series(1, greatest(len(toks) - {n - 1}, 0))) AS g(i)
"""


# DuckDB twin of token_ngrams at the default N.
_SQL_NGRAMS = _sql_ngrams_n(NGRAM_N)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training docs (source != EVAL_SOURCE) sharing >= 1 token 8-gram with
    the eval split, with distinct-hit counts and overlap ratio (4dp)."""
    # Rebalance first (r10): the fixture documents parquet is ONE row
    # group, so the two train-side 8-gram tokenize passes ran single-task
    # (same-session A/B best-of-3 at sf0.1: 3.7s → 1.2s rebalanced); at
    # cluster scale the scan is already wide and the exchange is cheap
    # next to the explode it feeds.
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    eval_ngrams = (
        d.filter(F.col("source") == EVAL_SOURCE)
        .select(F.explode(token_ngrams(F.col("text"))).alias("ngram"))
        .distinct()
    )
    train = d.filter(F.col("source") != EVAL_SOURCE).select(
        "doc_id", F.explode(token_ngrams(F.col("text"))).alias("ngram")
    )
    per_doc_total = (
        d.filter(F.col("source") != EVAL_SOURCE)
        .select(
            "doc_id",
            F.size(F.array_distinct(token_ngrams(F.col("text")))).cast("long").alias("train_ngrams"),
        )
    )
    hits = (
        train.join(F.broadcast(eval_ngrams), "ngram", "left_semi")
        .groupBy("doc_id")
        .agg(F.countDistinct("ngram").alias("hit_ngrams"))
    )
    return (
        hits.join(per_doc_total, "doc_id")
        .select(
            "doc_id",
            "hit_ngrams",
            "train_ngrams",
            F.round(F.col("hit_ngrams") / F.col("train_ngrams"), 4).alias(
                "overlap_ratio"
            ),
        )
        .orderBy("doc_id")
    )


ORACLE_DECONTAMINATE = f"""
WITH eval_ngrams AS (
  SELECT DISTINCT ngram FROM ({_SQL_NGRAMS.format(where="WHERE source = '" + EVAL_SOURCE + "'")})
),
train_ngrams AS (
  {_SQL_NGRAMS.format(where="WHERE source <> '" + EVAL_SOURCE + "'")}
),
totals AS (
  SELECT doc_id, COUNT(DISTINCT ngram) AS train_ngrams
  FROM train_ngrams GROUP BY doc_id
),
hits AS (
  SELECT doc_id, COUNT(DISTINCT t.ngram) AS hit_ngrams
  FROM train_ngrams t
  WHERE t.ngram IN (SELECT ngram FROM eval_ngrams)
  GROUP BY doc_id
)
SELECT h.doc_id, h.hit_ngrams, tt.train_ngrams,
       ROUND(h.hit_ngrams / CAST(tt.train_ngrams AS DOUBLE), 4) AS overlap_ratio
FROM hits h JOIN totals tt ON h.doc_id = tt.doc_id
ORDER BY h.doc_id
"""


# ---------------------------------------------------------------------------
# Corpus snapshot diff: the CDC primitive for versioned training corpora —
# classify every doc_id as added / removed / changed / unchanged between
# two snapshots. Snapshots are derived deterministically from the fixture
# (v1 = doc_id % 7 != 0, v2 = doc_id % 5 != 0, with v2 text rewritten when
# doc_id % 3 == 0) so the oracle reproduces them exactly.
# ---------------------------------------------------------------------------
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # content_cluster_hash, not raw md5: md5(NULL) = NULL made the
    # NULL-ness presence test misclassify a NULL-text doc present in
    # BOTH snapshots as 'added' while the oracle (doc_id presence) said
    # 'unchanged' — a confirmed live divergence on the degenerate
    # fixture (round-6 review). The NULL-safe per-doc hash restores
    # h1/h2 as a valid presence AND change signal.
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = d.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id", content_cluster_hash().alias("h1")
    )
    v2 = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select(
            "doc_id",
            content_cluster_hash(
                F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("text"))).otherwise(
                    F.col("text")
                )
            ).alias("h2"),
        )
    )
    diff = v1.join(v2, "doc_id", "full_outer").select(
        "doc_id",
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
        .alias("status"),
    )
    return diff.groupBy("status").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


ORACLE_SNAPSHOT_DIFF = f"""
WITH v1 AS (
  SELECT doc_id, {content_cluster_hash_sql()} AS h1
  FROM documents WHERE doc_id % 7 <> 0
),
v2 AS (
  SELECT doc_id,
         {content_cluster_hash_sql("CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END")} AS h2
  FROM documents WHERE doc_id % 5 <> 0
),
diff AS (
  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
         CASE WHEN v1.doc_id IS NULL THEN 'added'
              WHEN v2.doc_id IS NULL THEN 'removed'
              WHEN h1 <> h2 THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
)
SELECT status, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM diff GROUP BY status
"""


# ---------------------------------------------------------------------------
# N-gram NOVELTY curve: per document (in corpus order), what fraction of
# its distinct token 8-grams has never appeared in any earlier document?
# The dataset-ordering / curriculum signal — a late doc whose n-grams are
# almost all already-seen adds little; a burst of low-novelty docs marks
# a scraped mirror entering the feed. First occurrence = min doc_id per
# n-gram (one hash aggregation over the corpus n-gram stream — the
# repeated-spans shuffle shape), attributed back by an equi-join; the
# ratio is an exact count/count division.
# ---------------------------------------------------------------------------
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per doc: distinct 8-grams, how many are corpus-first here, and the
    novelty ratio.

    r10 shape: the gram table is never joined back to itself. A gram is
    novel for exactly the doc holding its MIN(doc_id), so n_novel per
    doc is just a COUNT over the (small) per-ngram first-doc table —
    both sides reduce to |docs|-row aggregates that join at the end,
    replacing the old |grams|⋈|grams'| join + re-aggregation (a window
    MIN over the ngram partition was measured WORSE — WindowExec sorts
    the full gram table, the hash aggregate doesn't). The corpus is also
    rebalanced before the explode (the fixture scans as one partition,
    which made the tokenize+explode stage single-task; at cluster scale
    the rebalance is a cheap even-out). Same-session A/B best-of-3 at
    sf0.1: 3.0s → 1.2s; values identical by the min-partition
    identity."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    grams = d.select(
        "doc_id", F.explode(token_ngrams(F.col("text"))).alias("ngram")
    ).distinct()
    counts = grams.groupBy("doc_id").agg(
        F.count("*").alias("n_distinct_ngrams")
    )
    novel = (
        grams.groupBy("ngram")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_novel"))
    )
    return (
        counts.join(novel, "doc_id", "left")
        .na.fill({"n_novel": 0})
        .select(
            "doc_id",
            "n_distinct_ngrams",
            "n_novel",
            F.round(F.col("n_novel") / F.col("n_distinct_ngrams"), 4).alias(
                "novelty_ratio"
            ),
        )
        .orderBy("doc_id")
    )


ORACLE_NGRAM_NOVELTY = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, ngram FROM ({_SQL_NGRAMS.format(where="")})
), first AS (
  SELECT ngram, MIN(doc_id) AS first_doc FROM grams GROUP BY ngram
)
SELECT doc_id, COUNT(*) AS n_distinct_ngrams,
       CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       ROUND(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 4) AS novelty_ratio
FROM grams JOIN first USING (ngram)
GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Contamination SPANS: how long is the longest verbatim overlap? The
# binary 8-gram test (text_decontaminate) flags any collision; what a
# contamination review actually triages on is the longest consecutive
# run of matched n-grams — a 50-token verbatim quote is a different
# animal from three scattered 8-gram collisions. Matched n-gram
# POSITIONS per training doc, then the classic gaps-and-islands grouping
# (pos − row_number is constant within a consecutive run), per-island
# length, and longest-span-in-tokens = run + n − 1. All integers end to
# end. Scale: the eval n-gram set broadcasts exactly as in
# text_decontaminate; islands group within (doc, run) — partitioned by
# doc, bounded by doc length.
# ---------------------------------------------------------------------------
def q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per contaminated training doc: longest consecutive matched-8-gram
    span (in tokens), total matched n-grams, and island count."""
    # Rebalance first (r10): single-row-group fixture scan — the
    # posexplode tokenize pass otherwise runs single-task (same-session
    # A/B best-of-3 at sf0.1: 3.1s → 1.5s rebalanced); cheap even-out at
    # cluster scale where the scan is already wide.
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    eval_ngrams = (
        d.filter(F.col("source") == EVAL_SOURCE)
        .select(F.explode(token_ngrams(F.col("text"))).alias("ngram"))
        .distinct()
    )
    positions = (
        d.filter(F.col("source") != EVAL_SOURCE)
        .select(
            "doc_id",
            F.posexplode(token_ngrams(F.col("text"))).alias("pos", "ngram"),
        )
    )
    matched = positions.join(F.broadcast(eval_ngrams), "ngram", "left_semi")
    grouped = matched.withColumn(
        "grp",
        F.col("pos")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
    )
    islands = grouped.groupBy("doc_id", "grp").agg(
        F.count("*").alias("run")
    )
    return (
        islands.groupBy("doc_id")
        .agg(
            (F.max("run") + (NGRAM_N - 1)).alias("longest_span_tokens"),
            F.sum("run").alias("n_matched_ngrams"),
            F.count("*").alias("n_islands"),
        )
        .orderBy("doc_id")
    )


ORACLE_CONTAMINATION_SPANS = f"""
WITH eval_ngrams AS (
  SELECT DISTINCT ngram
  FROM ({_SQL_NGRAMS.format(where="WHERE source = '" + EVAL_SOURCE + "'")})
), positions AS (
  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+{NGRAM_N - 1}], ' ') AS ngram
  FROM (
    SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
    FROM documents WHERE source <> '{EVAL_SOURCE}'
  ),
  LATERAL unnest(generate_series(1, greatest(len(toks) - {NGRAM_N - 1}, 0))) AS g(i)
), matched AS (
  SELECT doc_id, pos FROM positions
  WHERE ngram IN (SELECT ngram FROM eval_ngrams)
), grouped AS (
  SELECT doc_id, pos,
         pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM matched
), islands AS (
  SELECT doc_id, grp, COUNT(*) AS run FROM grouped GROUP BY 1, 2
)
SELECT doc_id,
       CAST(MAX(run) + {NGRAM_N - 1} AS BIGINT) AS longest_span_tokens,
       CAST(SUM(run) AS BIGINT) AS n_matched_ngrams,
       COUNT(*) AS n_islands
FROM islands GROUP BY doc_id ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# Distribution drift between corpus snapshots: Population Stability Index
# over the doc-length distribution — the monitoring metric a production
# pipeline alarms on when a feed silently changes character (truncation
# bugs, new boilerplate, a source swap) even when row counts look fine.
# Same deterministic v1/v2 snapshots as corpus_snapshot_diff; value =
# length(text). Equi-width bins over the COMBINED min/max (one broadcast
# stats row — the quantile-sketch pattern), add-one smoothing so empty
# bins stay finite, per-bin contribution (p−q)·ln(p/q) with the total
# repeated per row (ln precedent: the LM log-prob oracles).
#
# Scale: two narrow scans partial-aggregate into ≤2·B bin counts; the bin
# spine is a B-row broadcast; nothing downstream of the histogram scales
# with the corpus.
# ---------------------------------------------------------------------------
_PSI_BINS = 10


def q_corpus_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = d.filter(F.col("doc_id") % 7 != 0).select(
        F.lit(1).alias("snap"), F.length("text").alias("v")
    )
    v2 = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select(
            F.lit(2).alias("snap"),
            F.length(
                F.when(F.col("doc_id") % 3 == 0, F.upper(F.col("text"))).otherwise(
                    F.col("text")
                )
            ).alias("v"),
        )
    )
    both = v1.unionByName(v2)
    stats = both.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    # degenerate guard: if every value is identical (hi == lo — exactly the
    # collapsed-distribution case PSI exists to flag), a zero width would
    # divide by 0 with DIFFERENT engine semantics (Spark NULL vs DuckDB
    # inf); width 1 puts all mass in bin 0 on both engines, PSI = 0
    width = F.greatest(F.col("hi") - F.col("lo"), F.lit(1)) / _PSI_BINS
    binned = (
        both.crossJoin(F.broadcast(stats))
        .select(
            "snap",
            F.least(
                F.floor((F.col("v") - F.col("lo")) / width),
                F.lit(_PSI_BINS - 1),
            )
            .cast("long")
            .alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("snap") == 1, 1).otherwise(0)).alias("n_v1"),
            F.sum(F.when(F.col("snap") == 2, 1).otherwise(0)).alias("n_v2"),
        )
    )
    spine = spark.range(_PSI_BINS).select(F.col("id").alias("bin"))
    # r10 (guide §1.2): t1/t2 via unpartitioned window sums over the
    # bounded _PSI_BINS-row histogram instead of a second aggregate of
    # `binned` cross-joined back — the totals subtree re-derived both
    # snapshot scans + the binning groupBy. bin ∈ [0, _PSI_BINS) by
    # construction (v ≥ lo, least(·, BINS-1)), so the spine left-join
    # keeps every binned row and the filled zeros leave the exact integer
    # sums unchanged.
    tw = Window.partitionBy()
    filled = (
        spine.join(F.broadcast(binned), "bin", "left")
        .na.fill({"n_v1": 0, "n_v2": 0})
        .withColumn("t1", F.sum("n_v1").over(tw))
        .withColumn("t2", F.sum("n_v2").over(tw))
    )
    p = (F.col("n_v1") + 1) / (F.col("t1") + _PSI_BINS)
    q = (F.col("n_v2") + 1) / (F.col("t2") + _PSI_BINS)
    contrib = (p - q) * F.log(p / q)
    per_bin = filled.select(
        "bin",
        "n_v1",
        "n_v2",
        F.round(p, 6).alias("p"),
        F.round(q, 6).alias("q"),
        F.round(contrib, 6).alias("psi_contrib"),
        contrib.alias("_c"),
    )
    # psi_total: quantize each bin's contribution to a 1e-9 integer grid
    # before summing — a float SUM over an unordered window accumulates in
    # engine/layout-dependent order and a last-ulp difference could flip
    # the 6dp rounding (ADVICE r2); the integer sum is order-independent
    # and the single final division is deterministic.
    c_q = F.round(F.col("_c") * 1e9).cast("long")
    return (
        per_bin.withColumn(
            "psi_total", F.round(F.sum(c_q).over(Window.partitionBy()) / 1e9, 6)
        )
        .drop("_c")
        .orderBy("bin")
    )


ORACLE_CORPUS_DRIFT_PSI = f"""
WITH v AS (
  SELECT 1 AS snap, length(text) AS v FROM documents WHERE doc_id % 7 <> 0
  UNION ALL
  SELECT 2 AS snap,
         length(CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END) AS v
  FROM documents WHERE doc_id % 5 <> 0
), stats AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi FROM v
), binned AS (
  SELECT CAST(least(FLOOR((v - lo) / (greatest(hi - lo, 1) * 1.0 / {_PSI_BINS})),
                    {_PSI_BINS - 1}) AS BIGINT) AS bin,
         CAST(SUM(CASE WHEN snap = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_v1,
         CAST(SUM(CASE WHEN snap = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_v2
  FROM v CROSS JOIN stats
  GROUP BY 1
), totals AS (
  SELECT CAST(SUM(n_v1) AS BIGINT) AS t1, CAST(SUM(n_v2) AS BIGINT) AS t2
  FROM binned
), filled AS (
  SELECT s.bin, COALESCE(b.n_v1, 0) AS n_v1, COALESCE(b.n_v2, 0) AS n_v2, t1, t2
  FROM (SELECT unnest(generate_series(0, {_PSI_BINS - 1})) AS bin) s
  LEFT JOIN binned b ON s.bin = b.bin
  CROSS JOIN totals
), scored AS (
  SELECT bin, n_v1, n_v2,
         (n_v1 + 1) / (t1 + {_PSI_BINS}) AS p,
         (n_v2 + 1) / (t2 + {_PSI_BINS}) AS q
  FROM filled
)
SELECT bin, n_v1, n_v2, ROUND(p, 6) AS p, ROUND(q, 6) AS q,
       ROUND((p - q) * ln(p / q), 6) AS psi_contrib,
       ROUND(SUM(CAST(round((p - q) * ln(p / q) * 1e9) AS BIGINT)) OVER ()
             / 1e9, 6) AS psi_total
FROM scored ORDER BY bin
"""


# ---------------------------------------------------------------------------
# Intra-corpus repeated-span detection: the span-level exact-substring dedup
# signal ("Deduplicating Training Data Makes Language Models Better", Lee et
# al. 2022 — token n-gram spans occurring >= 2 times anywhere in the corpus,
# per-doc coverage ratio, keep flag). Distinct from text_decontaminate: that
# flags train x EVAL overlap; this flags train x train repetition.
#
# Scale (100 TB intent): ONE pass. The exploded span stream collapses
# map-side into distinct (ngram, doc_id) pairs with partial counts, the
# per-ngram corpus total rides a window over that already-collapsed set
# (repartition moves (ngram, doc, count) triples, not raw spans), and the
# final per-doc rollup shuffles one row per (ngram, doc) pair. Production
# would group on xxhash64(ngram) to narrow the shuffle key; the string key
# here keeps the DuckDB oracle byte-identical.
# ---------------------------------------------------------------------------
DUP_RATIO_CUT = 0.2


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Rebalance first (r10): single-row-group fixture scan — the 8-gram
    # explode below otherwise runs single-task (same-session A/B
    # best-of-3 at sf0.1: 3.0s → 1.1s rebalanced); cheap even-out at
    # cluster scale where the scan is already wide.
    d = (
        load_table(spark, sf_dir, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", "text")
    )
    spans = d.select(
        "doc_id", F.explode(token_ngrams(F.col("text"))).alias("ngram")
    )
    g = spans.groupBy("ngram", "doc_id").agg(F.count("*").alias("c"))
    w = Window.partitionBy("ngram")
    g2 = g.withColumn("n_occ", F.sum("c").over(w))
    dup_c = F.when(F.col("n_occ") >= 2, F.col("c")).otherwise(F.lit(0))
    return (
        g2.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_spans"),
            F.sum(dup_c).alias("dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "dup_spans",
            F.round(F.col("dup_spans") / F.col("n_spans"), 4).alias("dup_ratio"),
            (F.col("dup_spans") / F.col("n_spans") < DUP_RATIO_CUT).alias("keep"),
        )
    )


ORACLE_REPEATED_SPANS = f"""
WITH spans AS (
  {_SQL_NGRAMS.format(where="")}
),
g AS (
  SELECT ngram, doc_id, COUNT(*) AS c FROM spans GROUP BY ngram, doc_id
),
g2 AS (
  SELECT doc_id, c, SUM(c) OVER (PARTITION BY ngram) AS n_occ FROM g
)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN n_occ >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_spans,
       ROUND(SUM(CASE WHEN n_occ >= 2 THEN c ELSE 0 END) / CAST(SUM(c) AS DOUBLE), 4) AS dup_ratio,
       SUM(CASE WHEN n_occ >= 2 THEN c ELSE 0 END) / CAST(SUM(c) AS DOUBLE) < {DUP_RATIO_CUT} AS keep
FROM g2 GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# The COMPOSED corpus-build funnel — the whole pretraining hygiene pipeline
# as ONE declarative plan with per-stage survivor counts (the report every
# corpus build publishes): raw → quality gate (token count + mean word
# length, gopher-style) → exact dedup (min doc_id per content hash) →
# near-dedup (LSH candidates verified by exact token-set Jaccard; greedy
# drop-the-larger-id, the documented alternative to full connected
# components in dedup_canonical_corpus) → eval-set decontamination
# (token 8-gram collision). Distinct from dedup_canonical_corpus (which
# emits the surviving corpus): this emits the FUNNEL — (stage, n_docs,
# n_chars) per stage — so mixture planning can see where volume goes.
#
# Scale: every stage is the already-audited shape (narrow quality filter,
# one checksum-window exact dedup, bucket-bounded LSH verify, broadcast
# eval-n-gram semi-join); the Jaccard cut uses the integer identity
# 2·|A∩B| >= |A∪B| so the verify is float-free on both engines.
# ---------------------------------------------------------------------------
MIN_TOKENS = 25
MAX_MEAN_WORD_LEN = 6.0


def corpus_stage_flags(d: DataFrame, plant_fixture_dups: bool = False) -> DataFrame:
    """Per-doc curation flags over the raw documents table: one row per
    train doc with booleans for each pipeline stage — q (quality), s3
    (exact-dedup root), s4 (near-dedup survivor), s5 (decontaminated).
    The reusable core behind pipeline_corpus_funnel (which aggregates it
    into the stage report) and curation.build_corpus (which filters s5
    and attaches splits).

    ``plant_fixture_dups`` injects the TEST-FIXTURE duplicate scheme (50
    exact copies at doc_id+1e6, 100 truncations at +2e6) so the fixture
    queries have known dups to find. It must stay False for real corpora:
    the synthetic ids can collide with genuine doc_ids ≥ 1e6 (silently
    dropping real docs via the loser-id join) and the planted rows would
    ship as fabricated documents."""
    from log_agent_spark.operators.dedup import (
        J_DEN,
        J_NUM,
        lsh_candidate_pairs,
        with_planted_dups,
    )

    base = d.filter(F.col("source") != EVAL_SOURCE).select("doc_id", "text")
    raw = with_planted_dups(base) if plant_fixture_dups else base
    ntoks = F.size(_toks(F.col("text")))
    qpred = (ntoks >= MIN_TOKENS) & (F.length("text") / ntoks <= MAX_MEAN_WORD_LEN)
    # Single-pass shape: one lineage computes per-doc stage flags, ONE
    # aggregate produces all five funnel counts, and the two data-derived
    # exclusion sets (LSH losers, contaminated docs) join in as bounded
    # side tables — so the LSH pipeline and the n-gram explode each run
    # exactly ONCE (a naive 5-way union of per-stage aggregates recomputes
    # the shared prefix per stage; measured 5.0 s → 3.4 s warm at sf0.1 —
    # the residual is the twice-recomputed narrow quality/window prefix
    # inside the two exclusion-set subplans).
    keyed = raw.withColumn("q", qpred).withColumn(
        "rootq",
        F.min(F.when(F.col("q"), F.col("doc_id"))).over(
            Window.partitionBy(F.md5("text"))
        ),
    )
    # The explicit repartition gives the four heavy consumers below (the
    # LSH signature pipeline, the two token-set sides, the n-gram
    # explode) ONE shared exchange subtree: without it, per-consumer
    # column pruning pushes different projections below the md5-window
    # exchange, the subtrees stop being identical, and the whole
    # scan→quality→window prefix recomputes once per leg (r10 A/B,
    # interleaved best-of-5 medians at sf0.1: funnel agg 3.67s → 2.55s;
    # NOT an AQE-coalesce artifact — measured unchanged with
    # spark.sql.adaptive.coalescePartitions.enabled=false). It also
    # guarantees the legs run at defaultParallelism. At cluster scale one
    # reused exchange of the deduped corpus replaces four recomputes of
    # the scan+window prefix — the same trade the serial-scan rebalances
    # make, one stage later.
    exact = (
        keyed.filter(F.col("q") & (F.col("doc_id") == F.col("rootq")))
        .select("doc_id", "text")
        .repartition(d.sparkSession.sparkContext.defaultParallelism)
    )
    tokset = F.array_distinct(_toks(F.col("text")))
    ta = exact.select(F.col("doc_id").alias("doc_a"), tokset.alias("ta"))
    tb = exact.select(F.col("doc_id").alias("doc_b"), tokset.alias("tb"))
    losers = (
        lsh_candidate_pairs(exact)
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        # gate built from dedup.JACCARD_THRESHOLD (integer form) so the
        # funnel's near-dedup stage stays coupled to the dedup family it
        # composes (ADVICE r2): jaccard >= t ⇔ J_DEN·inter >= J_NUM·union
        .filter(
            J_DEN * F.size(F.array_intersect("ta", "tb"))
            >= J_NUM * F.size(F.array_union("ta", "tb"))
        )
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    eval_ngrams = (
        d.filter(F.col("source") == EVAL_SOURCE)
        .select(F.explode(token_ngrams(F.col("text"))).alias("ngram"))
        .distinct()
    )
    # contamination is independent of near-dedup membership, so score the
    # exact survivors directly (superset of the near-dedup set) — this is
    # what lets the n-gram pass run once instead of under the anti-join
    contaminated = (
        exact.select("doc_id", F.explode(token_ngrams(F.col("text"))).alias("ngram"))
        .join(F.broadcast(eval_ngrams), "ngram", "left_semi")
        .select("doc_id")
        .distinct()
    )
    # join strategy left to AQE: the exclusion sets are usually tiny
    # (broadcast) but scale with the duplicate/contamination rate, so a
    # forced broadcast would be wrong on a dup-heavy 100 TB corpus
    return (
        keyed.join(losers.withColumn("lose", F.lit(True)), "doc_id", "left")
        .join(contaminated.withColumn("cont", F.lit(True)), "doc_id", "left")
        .withColumn("s3", F.col("q") & (F.col("doc_id") == F.col("rootq")))
        .withColumn("s4", F.col("s3") & F.col("lose").isNull())
        .withColumn("s5", F.col("s4") & F.col("cont").isNull())
    )


def q_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed corpus-build funnel: per-stage (n_docs, n_chars) through
    quality gate → exact dedup → LSH near-dedup → decontamination."""
    flags = corpus_stage_flags(
        load_table(spark, sf_dir, "documents"), plant_fixture_dups=True
    )
    ln = F.length("text")
    one = flags.agg(
        F.count("*").alias("d1"),
        F.sum(ln).alias("c1"),
        F.sum(F.when(F.col("q"), 1).otherwise(0)).alias("d2"),
        F.sum(F.when(F.col("q"), ln)).alias("c2"),
        F.sum(F.when(F.col("s3"), 1).otherwise(0)).alias("d3"),
        F.sum(F.when(F.col("s3"), ln)).alias("c3"),
        F.sum(F.when(F.col("s4"), 1).otherwise(0)).alias("d4"),
        F.sum(F.when(F.col("s4"), ln)).alias("c4"),
        F.sum(F.when(F.col("s5"), 1).otherwise(0)).alias("d5"),
        F.sum(F.when(F.col("s5"), ln)).alias("c5"),
    )
    names = ["raw", "quality", "exact_dedup", "near_dedup", "decontaminated"]
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage_ord"),
                F.lit(name).alias("stage"),
                F.col(f"d{i + 1}").alias("n_docs"),
                F.col(f"c{i + 1}").cast("long").alias("n_chars"),
            )
            for i, name in enumerate(names)
        ]
    )
    return one.select(F.explode(rows).alias("r")).select(
        "r.stage_ord", "r.stage", "r.n_docs", "r.n_chars"
    )


def funnel_cte() -> str:
    """The shared WITH-block of the curation pipeline oracle: raw →
    quality → exact → near → clean. Reused by ORACLE_CORPUS_FUNNEL and
    curation.ORACLE_PIPELINE_CORPUS_BUILD so the two stay coupled."""
    from log_agent_spark.operators.dedup import (
        _BAND_SELECTS,
        _MH_EXPRS,
        J_DEN,
        J_NUM,
        SHINGLE_LEN,
    )

    n = NGRAM_N
    return f"""
WITH train AS (
  SELECT doc_id, text FROM documents WHERE source <> '{EVAL_SOURCE}'
), raw AS (
  SELECT doc_id, text FROM train
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM train WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         substring(text, 1, greatest(length(text) - 15, 1)) AS text
  FROM train WHERE doc_id < 100
), quality AS (
  SELECT doc_id, text FROM raw
  WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) >= {MIN_TOKENS}
    AND length(text) * 1.0
        / len(list_filter(string_split(text, ' '), t -> t <> ''))
        <= {MAX_MEAN_WORD_LEN}
), exact AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS root
    FROM quality
  ) WHERE doc_id = root
), hs AS (
  SELECT doc_id,
         list_transform(
           list_distinct(list_transform(
             generate_series(1, greatest(length(text) - {SHINGLE_LEN - 1}, 1)),
             i -> substring(text, i, {SHINGLE_LEN}))),
           s -> CAST(('0x' || substring(md5(s), 1, 7))::UBIGINT AS BIGINT)) AS h
  FROM exact
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
  SELECT doc_id,
         list_distinct(list_filter(string_split(text, ' '), t -> t <> '')) AS tk
  FROM exact
), losers AS (
  SELECT DISTINCT doc_b AS doc_id
  FROM pairs
  JOIN toksets ta ON ta.doc_id = doc_a
  JOIN toksets tb ON tb.doc_id = doc_b
  WHERE {J_DEN} * len(list_intersect(ta.tk, tb.tk))
        >= {J_NUM} * len(list_distinct(list_concat(ta.tk, tb.tk)))
), near AS (
  SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM losers)
), eval_ngrams AS (
  SELECT DISTINCT ngram
  FROM ({_SQL_NGRAMS.format(where="WHERE source = '" + EVAL_SOURCE + "'")})
), near_ngrams AS (
  SELECT doc_id, array_to_string(toks[i:i+{n - 1}], ' ') AS ngram
  FROM (
    SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
    FROM near
  ),
  LATERAL unnest(generate_series(1, greatest(len(toks) - {n - 1}, 0))) AS g(i)
), contaminated AS (
  SELECT DISTINCT doc_id FROM near_ngrams
  WHERE ngram IN (SELECT ngram FROM eval_ngrams)
), clean AS (
  SELECT * FROM near WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
)"""


def _funnel_oracle() -> str:
    stage_select = (
        "SELECT {i} AS stage_ord, '{name}' AS stage, COUNT(*) AS n_docs, "
        "CAST(SUM(length(text)) AS BIGINT) AS n_chars FROM {cte}"
    )
    return f"""{funnel_cte()}
{stage_select.format(i=1, name="raw", cte="raw")}
UNION ALL {stage_select.format(i=2, name="quality", cte="quality")}
UNION ALL {stage_select.format(i=3, name="exact_dedup", cte="exact")}
UNION ALL {stage_select.format(i=4, name="near_dedup", cte="near")}
UNION ALL {stage_select.format(i=5, name="decontaminated", cte="clean")}
"""


ORACLE_CORPUS_FUNNEL = _funnel_oracle()


# ---------------------------------------------------------------------------
# Decontamination sensitivity sweep: contamination rate as a function of
# the n-gram size — the tuning table behind the NGRAM_N=8 choice (the
# nprobe-curve convention applied to decontamination: one row per
# setting). Small n over-flags (common phrases collide), large n
# under-flags (only long verbatim spans match); the sweep shows where the
# rate stabilizes. Each setting is the audited decontaminate shape: eval
# n-grams distinct + broadcast, one semi-join over the train explode; the
# train-doc denominator is computed once.
#
# FLATTENED (r10, the nprobe-flatten class): the old form unioned 4
# near-identical subplans, re-scanning and re-tokenizing the corpus per
# setting. Now the settings fan out as a row explode BEFORE the n-gram
# derivation (token_ngrams takes the per-row ngram_n column), so the scan
# + tokenize run once, the semi-join keys on (ngram_n, ngram), and one
# groupBy rolls up all settings — same values (n-gram strings of
# different n cannot collide across the composite key; a settings spine
# keeps the zero-contamination rows the old per-setting count emitted).
# ---------------------------------------------------------------------------
NGRAM_SWEEP = [6, 8, 10, 13]


def q_decontam_ngram_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    # rebalance BEFORE the settings fan (the similarity.py embeddings
    # precedent): the whole sweep is one Generate pipeline, and a corpus
    # that scans as few partitions (the 17 MB fixture reads as ONE) would
    # run it single-task — 4x the work of any one union branch with none
    # of the old form's inter-branch stage parallelism (measured 10.4s vs
    # 4.0s at sf0.1 without this). One row-group-sized shuffle of the raw
    # text buys full-core parallelism for the 4-fanned tokenize+explode;
    # at cluster scale the scan is already thousands of partitions and
    # the rebalance is a cheap even-out, while the flatten saves three
    # full corpus re-scans.
    par = spark.sparkContext.defaultParallelism
    train = (
        d.filter(F.col("source") != EVAL_SOURCE)
        .select("doc_id", "text")
        .repartition(par)
    )
    evald = (
        d.filter(F.col("source") == EVAL_SOURCE).select("text").repartition(par)
    )
    n_train = train.count()  # scalar denominator, one cheap count
    ns = F.explode(
        F.array(*[F.lit(n) for n in NGRAM_SWEEP])
    ).alias("ngram_n")
    eval_ngrams = (
        evald.select("text", ns)
        .select(
            "ngram_n",
            F.explode(token_ngrams(F.col("text"), F.col("ngram_n"))).alias("ngram"),
        )
        .distinct()
    )
    contaminated = (
        train.select("doc_id", "text", ns)
        .select(
            "doc_id",
            "ngram_n",
            F.explode(token_ngrams(F.col("text"), F.col("ngram_n"))).alias("ngram"),
        )
        .join(F.broadcast(eval_ngrams), ["ngram_n", "ngram"], "left_semi")
        .select("ngram_n", "doc_id")
        .distinct()
    )
    spine = spark.range(1).select(ns)
    counts = contaminated.groupBy("ngram_n").agg(
        F.count("*").alias("n_contaminated")
    )
    return (
        spine.join(counts, "ngram_n", "left")
        .na.fill({"n_contaminated": 0})
        .select(
            "ngram_n",
            "n_contaminated",
            F.round(F.col("n_contaminated") / float(n_train), 4).alias(
                "contaminated_frac"
            ),
        )
    )


def _ngram_sweep_oracle() -> str:
    parts = []
    for n in NGRAM_SWEEP:
        grams = _sql_ngrams_n(n)
        parts.append(
            f"""
SELECT {n} AS ngram_n,
       COUNT(*) AS n_contaminated,
       ROUND(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents
                               WHERE source <> '{EVAL_SOURCE}'), 4)
         AS contaminated_frac
FROM (
  SELECT DISTINCT t.doc_id
  FROM ({grams.format(where="WHERE source <> '" + EVAL_SOURCE + "'")}) t
  WHERE t.ngram IN (
    SELECT DISTINCT ngram
    FROM ({grams.format(where="WHERE source = '" + EVAL_SOURCE + "'")})
  )
)"""
        )
    return "\nUNION ALL\n".join(parts)


ORACLE_DECONTAM_NGRAM_SWEEP = _ngram_sweep_oracle()


# ---------------------------------------------------------------------------
# Train/test split leakage through duplicate clusters (Lee et al.,
# "Deduplicating Training Data Makes Language Models Better", ACL'22 §6:
# near-dups of eval examples inside train inflate benchmark scores). A
# deterministic doc-id split looks leak-free at the DOCUMENT level while
# byte-identical content sits on both sides — the audit joins the split
# assignment against exact-dup clusters (md5 equivalence classes, the
# dedup_exact partition) and counts, per source, the test docs whose
# cluster also contains a train doc.
#
# Scale shape: identical to governance_license_taint — one content-hash
# groupBy for the cluster bits, one hash join back, one source aggregate;
# no pairs, no graph. All counts exact integers; one division round 4.
# NULL-text docs form singleton clusters (no content = no dup evidence) —
# content_cluster_hash, the cluster key SHARED with the license-taint
# audit. The split is the engine's CANONICAL 80/10/10 hash assignment
# (plans/sampling.py split_expr — the one definition q_sample_hash_split
# and the dedup split-hygiene operators audit), so this report describes
# the split the engine actually assigns; leak = an exact-dup cluster with
# at least one 'train' AND one 'test' member (val-only dups are a tuning
# concern, not benchmark inflation, and are not counted).
# ---------------------------------------------------------------------------
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage via exact-dup clusters: per source, how many
    test docs share content with a train doc (Lee et al. ACL'22 — the
    benchmark-inflation audit a hash split alone cannot see).

    Complements dedup.q_dedup_split_leakage: that one counts LSH
    NEAR-dup PAIRS straddling the split cells; this one attributes
    EXACT-dup cluster leakage to sources (whose feed pollutes the test
    set) — the per-source report drives which ingest to fix."""
    from log_agent_spark.functions.content import content_cluster_hash
    from log_agent_spark.plans.sampling import split_expr

    # materialize the split ONCE per row, then derive the booleans — two
    # split_expr instances would embed the md5-bucket CASE tree twice and
    # lean on subexpression elimination not to hash twice
    d = (
        load_table(spark, sf_dir, "documents")
        .select(
            "doc_id",
            "source",
            content_cluster_hash().alias("chash"),
            split_expr(F.col("doc_id")).alias("split"),
        )
        .select(
            "doc_id",
            "source",
            "chash",
            (F.col("split") == "test").alias("is_test"),
            (F.col("split") == "train").alias("is_train"),
        )
    )
    clusters = d.groupBy("chash").agg(
        F.max(F.col("is_train").cast("int")).alias("has_train"),
        F.max(F.col("is_test").cast("int")).alias("has_test"),
    )
    leaked = (F.col("has_train") == 1) & (F.col("has_test") == 1)
    tagged = d.join(clusters, "chash").select(
        "source", "is_test", "is_train", leaked.alias("leaked")
    )
    n_test = F.sum(F.col("is_test").cast("long"))
    n_leaked_test = F.sum(
        (F.col("is_test") & F.col("leaked")).cast("long")
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            n_test.alias("n_test"),
            n_leaked_test.alias("n_leaked_test"),
            F.sum((F.col("is_train") & F.col("leaked")).cast("long")).alias(
                "n_leaking_train"
            ),
            # try_divide: a source can have zero test docs
            F.round(
                F.try_divide(n_leaked_test * 100.0, n_test), 4
            ).alias("pct_test_leaked"),
        )
        .orderBy("source")
    )


def _split_leakage_oracle() -> str:
    from log_agent_spark.functions.content import content_cluster_hash_sql
    from log_agent_spark.plans.sampling import split_sql

    return f"""
WITH d0 AS (
  SELECT doc_id, source,
         {content_cluster_hash_sql()} AS chash,
         {split_sql("doc_id")} AS split
  FROM documents
), d AS (
  SELECT doc_id, source, chash,
         split = 'test' AS is_test,
         split = 'train' AS is_train
  FROM d0
), clusters AS (
  SELECT chash,
         MAX(CASE WHEN is_train THEN 1 ELSE 0 END) AS has_train,
         MAX(CASE WHEN is_test THEN 1 ELSE 0 END) AS has_test
  FROM d GROUP BY 1
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN is_test AND has_train = 1 AND has_test = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked_test,
       CAST(SUM(CASE WHEN is_train AND has_train = 1 AND has_test = 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_leaking_train,
       ROUND(SUM(CASE WHEN is_test AND has_train = 1 AND has_test = 1
                      THEN 1 ELSE 0 END) * 100.0
             / NULLIF(SUM(CASE WHEN is_test THEN 1 ELSE 0 END), 0), 4)
         AS pct_test_leaked
FROM d JOIN clusters USING (chash)
GROUP BY source
ORDER BY source
"""


ORACLE_SPLIT_LEAKAGE_AUDIT = _split_leakage_oracle()


QUERIES = {
    "text_decontaminate": q_decontaminate,
    "decontam_ngram_sweep": q_decontam_ngram_sweep,
    "text_contamination_spans": q_contamination_spans,
    "text_ngram_novelty": q_ngram_novelty,
    "corpus_snapshot_diff": q_snapshot_diff,
    "corpus_drift_psi": q_corpus_drift_psi,
    "dedup_repeated_spans": q_repeated_spans,
    "pipeline_corpus_funnel": q_corpus_funnel,
    "split_leakage_audit": q_split_leakage_audit,
}

ORACLES = {
    "text_decontaminate": ORACLE_DECONTAMINATE,
    "decontam_ngram_sweep": ORACLE_DECONTAM_NGRAM_SWEEP,
    "text_contamination_spans": ORACLE_CONTAMINATION_SPANS,
    "text_ngram_novelty": ORACLE_NGRAM_NOVELTY,
    "corpus_snapshot_diff": ORACLE_SNAPSHOT_DIFF,
    "corpus_drift_psi": ORACLE_CORPUS_DRIFT_PSI,
    "dedup_repeated_spans": ORACLE_REPEATED_SPANS,
    "pipeline_corpus_funnel": ORACLE_CORPUS_FUNNEL,
    "split_leakage_audit": ORACLE_SPLIT_LEAKAGE_AUDIT,
}
