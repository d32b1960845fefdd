"""Training-data sampling / mixing / sequence-packing operators — the
corpus-assembly stage of an LLM data pipeline (extension family beyond
the reference's SQL surface, same first-class contract: Spark twin +
DuckDB oracle per query).

All randomness is md5-hash-derived (functions.md5_int60), so every
"sample" is deterministic, reproducible across engines and cluster
topologies, and — critically at 100 TB — embarrassingly parallel: a
row's fate depends only on its own key, never on a global RNG stream
or a driver-side shuffle of the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import (
    dround,
    dround_sql,
    dsum,
    dsum_sql,
    md5_int60,
    md5_int60_sql,
    tokens,
    tokens_sql,
)
from ..sources.parquet import load_table, load_table_wide
from ._cache import finalize as _finalize
from ._cache import persist_tracked as _persist
from ._cache import scoped as _scoped
from .registry import query

_TOKS = tokens_sql("text")

# target mix: per-language sampling rate in permille (a "data recipe":
# upsample English, downsample the tail — the knob a training-mix config
# exposes per source/language)
_MIX_PERMILLE = {"en": 900, "de": 700, "fr": 600, "es": 500, "zh": 400}

_SAMPLE_K = 100          # uniform-sample size for the reservoir twin
_SEQ_BUDGET = 2048       # tokens per packed training sequence
_N_PACK_SHARDS = 8       # output shards of every packing stage

# The mix draw and the pack shard, one Spark function and one DuckDB twin
# each: training_mix_sample, sequence_packing_stats,
# packing_efficiency_sweep, corpus_build_pipeline and the corpus ingest
# stream compose these, so they sample and shard the same docs.


def _mix_rate_spark() -> Column:
    rate = F.lit(0)
    for lang, permille in _MIX_PERMILLE.items():
        rate = F.when(F.col("lang") == lang, F.lit(permille)).otherwise(rate)
    return rate


_MIX_RATE_SQL = "CASE " + " ".join(
    f"WHEN lang = '{lg}' THEN {pm}" for lg, pm in _MIX_PERMILLE.items()
) + " ELSE 0 END"


def _mix_sampled() -> Column:
    """Whether the training mix keeps a doc: a salted md5 draw on
    doc_id, in permille, under its language's rate."""
    draw = md5_int60(
        F.concat(F.lit("mix-"), F.col("doc_id").cast("string"))
    ) % 1000
    return draw < _mix_rate_spark()


_MIX_SAMPLED_SQL = (
    md5_int60_sql("concat('mix-', CAST(doc_id AS VARCHAR))")
    + f" % 1000 < {_MIX_RATE_SQL}"
)


def _pack_shard() -> Column:
    """A doc's packing shard: a salted md5 of doc_id, mod the shard
    count."""
    return (
        md5_int60(F.concat(F.lit("pack-"), F.col("doc_id").cast("string")))
        % _N_PACK_SHARDS
    ).cast("long")


_PACK_SHARD_SQL = (
    "CAST("
    + md5_int60_sql("concat('pack-', CAST(doc_id AS VARCHAR))")
    + f" % {_N_PACK_SHARDS} AS BIGINT)"
)


@query(
    "training_mix_sample",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS total_docs,
           CAST(COUNT(CASE WHEN {_MIX_SAMPLED_SQL} THEN 1 END) AS BIGINT)
             AS sampled_docs,
           CAST(SUM(CASE WHEN {_MIX_SAMPLED_SQL} THEN n_chars ELSE 0 END)
                AS BIGINT) AS sampled_chars,
           CAST({_MIX_RATE_SQL} AS BIGINT) AS target_permille
    FROM documents
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm-sampling", "llm-text"),
)
def training_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified mix sampling: each language keeps a
    configured permille of its documents, decided per-row by a stable
    md5 draw on doc_id. One corpus pass + a tiny rollup shuffle; rates
    are a config literal, so re-running the pipeline (or running it on
    two clusters) selects the SAME documents — the property a training
    mix needs for reproducibility."""
    docs = load_table(spark, sf_dir, "documents")
    kept = _mix_sampled()
    return (
        docs.groupBy("lang")
        .agg(
            F.count("*").alias("total_docs"),
            F.count(F.when(kept, 1)).alias("sampled_docs"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(F.lit(0)))
            .cast("long")
            .alias("sampled_chars"),
        )
        .withColumn("target_permille", _mix_rate_spark().cast("long"))
        .orderBy("lang")
    )


@query(
    "uniform_hash_sample",
    oracle=f"""
    SELECT doc_id, lang, source
    FROM documents
    ORDER BY {md5_int60_sql("concat('unif-', CAST(doc_id AS VARCHAR))")},
             doc_id
    LIMIT {_SAMPLE_K}
    """,
    tags=("llm-sampling",),
)
def uniform_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform k-sample without replacement as hash-order top-k: the
    k smallest md5 draws ARE a uniform sample, and Spark executes the
    ORDER BY + LIMIT as TakeOrderedAndProject (per-partition heap of k,
    merge on the driver) — no global sort shuffle, no RNG state; the
    distributed replacement for reservoir sampling."""
    docs = load_table(spark, sf_dir, "documents")
    draw = md5_int60(
        F.concat(F.lit("unif-"), F.col("doc_id").cast("string"))
    )
    return (
        docs.orderBy(draw, "doc_id")
        .select("doc_id", "lang", "source")
        .limit(_SAMPLE_K)
    )


@query(
    "sequence_packing_stats",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             {_PACK_SHARD_SQL} AS shard,
             len({_TOKS}) AS n_toks
      FROM documents
    )
    SELECT shard,
           COUNT(*) AS docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST((SUM(n_toks) + {_SEQ_BUDGET - 1}) // {_SEQ_BUDGET}
                AS BIGINT) AS bins,
           {dround_sql(
               f'CAST(SUM(n_toks) AS DOUBLE) '
               f'/ (NULLIF((SUM(n_toks) + {_SEQ_BUDGET - 1})'
               f' // {_SEQ_BUDGET}, 0) * {_SEQ_BUDGET})', 4)}
             AS fill_ratio
    FROM sized
    GROUP BY shard
    ORDER BY shard
    """,
    tags=("llm-sampling", "llm-text"),
)
def sequence_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing: within each hash shard, docs
    (in stable doc_id order) concatenate into one token stream that is
    split into _SEQ_BUDGET-token training sequences, so a shard of T tokens
    consumes EXACTLY ceil(T / budget) sequences -- computed as that
    closed form (r15 review: the earlier distinct-starting-bin count
    undercounted whenever one doc spanned an entire bin, letting
    fill_ratio exceed 1 on long-doc corpora). Per-shard rollup = one
    narrow shuffle keyed by shard; shards are independent, so packing
    parallelizes to any cluster size while staying byte-reproducible.
    Reports bins and fill ratio per shard (the packing-efficiency
    metric a data pipeline monitors); fill_ratio <= 1 by construction,
    the deficit being each shard's final partial sequence."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        _pack_shard().alias("shard"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    return (
        sized.groupBy("shard")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
        )
        .withColumn(
            "bins",
            F.expr(
                f"(total_tokens + {_SEQ_BUDGET - 1}) DIV {_SEQ_BUDGET}"
            ),
        )
        .withColumn(
            "fill_ratio",
            # an all-empty shard consumes 0 sequences -> fill undefined
            # (NULL), not a divide-by-zero (ANSI) nor a fake 0.0
            dround(
                F.col("total_tokens").cast("double")
                / (F.nullif(F.col("bins"), F.lit(0)) * F.lit(_SEQ_BUDGET)),
                4,
            ),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Mixture-weight derivation (the upstream knob training_mix_sample consumes)
# ---------------------------------------------------------------------------

# Temperature for token-share smoothing: weight ∝ tokens^τ. τ=1 is
# natural (proportional) sampling; τ→0 is uniform-over-groups; 0.7 is
# the published LLM-mix middle ground (upsamples small high-value
# groups without letting them dominate).
_MIX_TAU = 0.7


@query(
    "corpus_mixture_weights",
    oracle=f"""
    WITH g AS (
      SELECT source, lang, COUNT(*) AS docs,
             CAST(SUM(len({_TOKS})) AS BIGINT) AS toks_total,
             CAST(SUM(n_chars) AS BIGINT) AS chars_total
      FROM documents
      GROUP BY source, lang
    ),
    n AS (
      SELECT *,
             CAST(toks_total AS DOUBLE)
               / NULLIF(SUM(CAST(toks_total AS DOUBLE)) OVER (), 0.0)
               AS nat_raw,
             POWER(CAST(toks_total AS DOUBLE), {_MIX_TAU})
               / NULLIF(SUM(POWER(CAST(toks_total AS DOUBLE),
                                  {_MIX_TAU})) OVER (), 0.0) AS mix_raw
      FROM g
    )
    SELECT source, lang, docs, toks_total, chars_total,
           {dround_sql('nat_raw', 6)} AS natural_share,
           {dround_sql('mix_raw', 6)} AS mixture_weight,
           {dround_sql('mix_raw / NULLIF(nat_raw, 0.0)', 4)}
             AS upsample_factor
    FROM n
    ORDER BY source, lang
    """,
    tags=("llm-sampling", "llm-text"),
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DERIVE the training-mix weights the sampling stage consumes:
    training_mix_sample applies a configured permille per group; this
    computes where such a config comes from — per (source, lang), the
    corpus's natural token share and its temperature-scaled mixture
    weight (w ∝ tokens^τ, τ=0.7, the standard LLM data-recipe
    smoothing: small high-value groups are upsampled, heads damped).
    upsample_factor (= weight / natural share) is the per-group repeat
    factor a budgeted mix plan applies directly.

    100 TB shape: ONE corpus pass with map-side partial aggregation to
    (source, lang) — group cardinality is sources × languages, i.e.
    tiny — then normalization via an unbounded window over that rollup
    alone. The window is deliberate, not a branch-and-reaggregate
    (`g.agg(...)` + join-back plans the scan+tokenize twice: each
    branch prunes different columns, so neither static ReuseExchange
    nor AQE stage reuse dedupes them — verified by stage metrics); its
    single partition holds one row per (source, lang), a cardinality
    that does not scale with data. τ lives in one literal, so
    re-deriving a recipe at a new temperature costs one scan."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.count("*").alias("docs"),
        F.sum(F.size(tokens(F.col("text"))))
        .cast("long")
        .alias("toks_total"),
        F.sum("n_chars").cast("long").alias("chars_total"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t_all = F.sum(F.col("toks_total").cast("double")).over(w_all)
    p_all = F.sum(
        F.pow(F.col("toks_total").cast("double"), _MIX_TAU)
    ).over(w_all)
    # NULLIF guards: an all-empty corpus zeroes both denominators;
    # both engines then emit NULL instead of ANSI-throwing / NaN.
    nat_raw = F.col("toks_total").cast("double") / F.nullif(
        t_all, F.lit(0.0)
    )
    mix_raw = F.pow(F.col("toks_total").cast("double"), _MIX_TAU) / F.nullif(
        p_all, F.lit(0.0)
    )
    return (
        g.select(
            "source",
            "lang",
            "docs",
            "toks_total",
            "chars_total",
            dround(nat_raw, 6).alias("natural_share"),
            dround(mix_raw, 6).alias("mixture_weight"),
            dround(
                mix_raw / F.nullif(nat_raw, F.lit(0.0)), 4
            ).alias("upsample_factor"),
        )
        .orderBy("source", "lang")
    )


# Base sampling rate the mixture plan scales per group: a group at its
# natural share (upsample factor 1.0) keeps 500 permille; factors
# above/below scale that, capped at keep-everything.
_MIX_BASE_PERMILLE = 500
_APPLY_HASH = "concat('mixw-', CAST(doc_id AS VARCHAR))"


@query(
    "mixture_plan_apply",
    oracle=f"""
    WITH g AS (
      SELECT source, lang,
             CAST(SUM(len({_TOKS})) AS BIGINT) AS toks_total
      FROM documents
      GROUP BY source, lang
    ),
    n AS (
      SELECT source, lang,
             CAST(toks_total AS DOUBLE)
               / NULLIF(SUM(CAST(toks_total AS DOUBLE)) OVER (), 0.0)
               AS nat_raw,
             POWER(CAST(toks_total AS DOUBLE), {_MIX_TAU})
               / NULLIF(SUM(POWER(CAST(toks_total AS DOUBLE),
                                  {_MIX_TAU})) OVER (), 0.0) AS mix_raw
      FROM g
    ),
    r AS (
      SELECT source, lang,
             CASE WHEN mix_raw / NULLIF(nat_raw, 0.0) IS NULL
                  THEN CAST(0 AS BIGINT)
                  ELSE CAST(LEAST(1000.0, {dround_sql(
                      '(mix_raw / NULLIF(nat_raw, 0.0))'
                      f' * {_MIX_BASE_PERMILLE}', 0)}) AS BIGINT)
             END AS target_permille
      FROM n
    )
    SELECT d.source, d.lang,
           COUNT(*) AS docs_total,
           r.target_permille,
           CAST(COUNT(CASE WHEN {md5_int60_sql(_APPLY_HASH)} % 1000
                           < r.target_permille THEN 1 END) AS BIGINT)
             AS sampled_docs,
           CAST(COALESCE(SUM(CASE WHEN {md5_int60_sql(_APPLY_HASH)} % 1000
                                  < r.target_permille
                             THEN n_chars END), 0) AS BIGINT)
             AS sampled_chars
    FROM documents d JOIN r USING (source, lang)
    GROUP BY d.source, d.lang, r.target_permille
    ORDER BY d.source, d.lang
    """,
    tags=("llm-sampling",),
)
def mixture_plan_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the derived mixture weights end-to-end — the sampling
    analog of dedup_removal_apply: corpus_mixture_weights computes the
    recipe, this turns it into per-document keep/drop decisions and
    accounts for what the sample actually contains. Each group's
    target rate is its (temperature-scaled weight / natural share)
    upsample factor scaling a base 500 permille, capped at
    keep-everything; a degenerate all-empty group samples at 0, not
    at the cap. Decisions are stable md5 draws on doc_id, so the
    sampled corpus is reproducible across engines and topologies.

    100 TB shape: TWO corpus passes by design — a stats pass that
    tokenizes (rolled up to (source, lang), normalized by an unbounded
    window over that tiny rollup), and an apply pass that never
    tokenizes (doc_id/source/lang/n_chars only) and meets the
    group-cardinality rates frame in a broadcast join. The rate
    derivation deliberately uses the UNROUNDED factor in both engines
    (the display-rounded column would make the cap boundary-fragile —
    the r6-advice lesson from the banding config)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source", "lang").agg(
        F.sum(F.size(tokens(F.col("text"))))
        .cast("long")
        .alias("toks_total")
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    t_all = F.sum(F.col("toks_total").cast("double")).over(w_all)
    p_all = F.sum(
        F.pow(F.col("toks_total").cast("double"), _MIX_TAU)
    ).over(w_all)
    nat_raw = F.col("toks_total").cast("double") / F.nullif(
        t_all, F.lit(0.0)
    )
    mix_raw = F.pow(
        F.col("toks_total").cast("double"), _MIX_TAU
    ) / F.nullif(p_all, F.lit(0.0))
    up_raw = mix_raw / F.nullif(nat_raw, F.lit(0.0))
    permille = (
        F.when(up_raw.isNull(), F.lit(0).cast("long"))
        .otherwise(
            F.least(
                F.lit(1000.0),
                dround(up_raw * _MIX_BASE_PERMILLE, 0),
            ).cast("long")
        )
        .alias("target_permille")
    )
    rates = g.select("source", "lang", permille)
    draw = (
        md5_int60(F.concat(F.lit("mixw-"), F.col("doc_id").cast("string")))
        % 1000
    )
    keep = draw < F.col("target_permille")
    return (
        docs.select("doc_id", "source", "lang", "n_chars")
        .join(F.broadcast(rates), ["source", "lang"])
        .groupBy("source", "lang", "target_permille")
        .agg(
            F.count("*").alias("docs_total"),
            F.count(F.when(keep, True)).alias("sampled_docs"),
            F.coalesce(F.sum(F.when(keep, F.col("n_chars"))), F.lit(0))
            .cast("long")
            .alias("sampled_chars"),
        )
        .select(
            "source",
            "lang",
            "docs_total",
            "target_permille",
            "sampled_docs",
            "sampled_chars",
        )
        .orderBy("source", "lang")
    )


# ---------------------------------------------------------------------------
# Stratified quota sampling: rates DERIVED from the data (two-pass)
# ---------------------------------------------------------------------------

_QUOTA_PER_SOURCE = 40

_QUOTA_HASH = "concat('strat-', CAST(doc_id AS VARCHAR))"


@query(
    "stratified_quota_sample",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS total_docs FROM documents GROUP BY source
    ),
    rated AS (
      SELECT source, total_docs,
             LEAST(CAST(1000000 AS BIGINT),
                   CAST({_QUOTA_PER_SOURCE} AS BIGINT) * 1000000
                     // total_docs) AS threshold_ppm
      FROM counts
    )
    SELECT d.source,
           r.total_docs,
           r.threshold_ppm,
           COUNT(CASE WHEN {md5_int60_sql(_QUOTA_HASH)} % 1000000
                      < r.threshold_ppm THEN 1 END) AS sampled_docs
    FROM documents d JOIN rated r USING (source)
    GROUP BY d.source, r.total_docs, r.threshold_ppm
    ORDER BY d.source
    """,
    tags=("llm-sampling",),
)
def stratified_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling with DATA-DERIVED rates: a fixed per-source
    quota is converted to a parts-per-million keep threshold by exact
    integer division (no float rounding to diverge across engines), then
    each document decides its own fate from a stable md5 draw. Two
    passes over the corpus: a tiny per-group count, broadcast back as
    the rate table, then the per-row filter -- the scalable shape for
    'give me ~N documents per stratum of a 100 TB corpus' (contrast
    training_mix_sample, whose rates are a CONFIG literal)."""
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("total_docs"))
    rated = counts.select(
        "source",
        "total_docs",
        F.least(
            F.lit(1000000).cast("long"),
            F.expr(
                f"CAST({_QUOTA_PER_SOURCE} AS BIGINT) * 1000000"
                " div total_docs"
            ),
        ).alias("threshold_ppm"),
    )
    draw = md5_int60(
        F.concat(F.lit("strat-"), F.col("doc_id").cast("string"))
    )
    return (
        docs.join(F.broadcast(rated), "source")
        .groupBy("source", "total_docs", "threshold_ppm")
        .agg(
            F.count(
                F.when(draw % 1000000 < F.col("threshold_ppm"), True)
            ).alias("sampled_docs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling" -- public method):
# hashed n-gram bag features, per-bucket log-likelihood ratio between a
# TARGET distribution and the RAW corpus, per-document importance
# weight = sum of feature log-ratios, then Gumbel-top-k selection
# (log-weight + Gumbel noise), all deterministic via md5 draws.
# ---------------------------------------------------------------------------

_DSIR_B = 64                 # hashed feature buckets
_DSIR_TARGET_LANG = "en"     # the distribution to match (upsample target)
_DSIR_TOP = 50               # rows returned by the weights query
_DSIR_K = 100                # Gumbel-top-k sample size
_DSIR_2POW60 = float(1 << 60)


def _dsir_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, b): one row per unigram+bigram occurrence,
    hashed into _DSIR_B buckets. The single corpus-tokenize pass every
    downstream DSIR aggregate derives from.

    Spread to full parallelism BELOW the tokenize/bigram/md5 chain and
    BEFORE the caller's persist (r19; the _fp_vectors / r13
    persist-site discipline): a file-count-partitioned source computed
    the whole chain on ONE task at sf0.1 (profiled 0.85 s single-task
    stage) and left the persisted occurrence frame single-partitioned
    for every downstream rescan. Routed through widen_split_starved
    (r19 ADVICE): the exchange fires only when the scan's split count
    starves the session parallelism, so a production layout with
    splits >= cores is untouched instead of being force-shuffled and
    down-partitioned to #cores."""
    docs = load_table_wide(spark, sf_dir, "documents", "doc_id")
    d = docs.select(
        "doc_id", "lang", "source", tokens(F.col("text")).alias("toks")
    ).withColumn(
        "bis",
        # Spark sequence(1, 0) is the DESCENDING [1, 0], not empty
        # (DuckDB range(1,1) = []) -- guard single-token docs explicitly
        F.when(
            F.size("toks") >= 2,
            F.expr(
                "transform(sequence(1, size(toks) - 1),"
                " i -> concat(toks[i-1], ' ', toks[i]))"
            ),
        ).otherwise(F.array().cast("array<string>")),
    )
    return d.select(
        "doc_id",
        "lang",
        "source",
        F.explode(F.concat("toks", "bis")).alias("f"),
    ).select(
        "doc_id",
        "lang",
        "source",
        (md5_int60(F.concat(F.lit("f:"), F.col("f"))) % _DSIR_B).alias("b"),
    )


def _dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, source, n_feats, weight): per-document DSIR
    importance weight. Scale shape: ONE corpus tokenize+hash pass
    (persisted -- both the bucket table and the per-doc rollup read it),
    a _DSIR_B-row aggregate, Laplace-smoothed log-ratio per bucket as a
    broadcast, then one per-doc rollup. The log-ratio arithmetic is
    float-identical cross-engine (IEEE mul/div + ln; see
    unigram_logprob_quality's determinism note) and each per-occurrence
    term is decimal-snapped by dsum, so the summed weight is
    partition-order-independent."""
    bucketed = _persist(_dsir_bucketed(spark, sf_dir))
    btab = bucketed.groupBy("b").agg(
        F.count("*").alias("r_cnt"),
        F.count(
            F.when(F.col("lang") == _DSIR_TARGET_LANG, 1)
        ).alias("t_cnt"),
    )
    tot = btab.agg(
        F.sum("r_cnt").alias("rtot"), F.sum("t_cnt").alias("ttot")
    )
    lam = btab.crossJoin(F.broadcast(tot)).select(
        "b",
        F.log(
            (
                (F.col("t_cnt") + 1).cast("double")
                * (F.col("rtot") + _DSIR_B).cast("double")
            )
            / (
                (F.col("r_cnt") + 1).cast("double")
                * (F.col("ttot") + _DSIR_B).cast("double")
            )
        ).alias("lam"),
    )
    return (
        bucketed.join(F.broadcast(lam), "b")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.count("*").alias("n_feats"),
            dsum(F.col("lam"), "weight"),
        )
    )


_DSIR_W_SQL = f"""
    d AS (SELECT doc_id, lang, source, {tokens_sql('text')} AS toks
          FROM documents),
    d2 AS (SELECT doc_id, lang, source,
             list_concat(toks,
               CASE WHEN len(toks) >= 2
                 THEN list_transform(range(1, len(toks)),
                                     i -> toks[i] || ' ' || toks[i+1])
                 ELSE [] END) AS fs
           FROM d),
    fb AS (SELECT doc_id, lang, source,
             {md5_int60_sql("concat('f:', f)")} % {_DSIR_B} AS b
           FROM (SELECT doc_id, lang, source, unnest(fs) AS f FROM d2)),
    bt AS (SELECT b, COUNT(*) AS r_cnt,
             COUNT(CASE WHEN lang = '{_DSIR_TARGET_LANG}' THEN 1 END)
               AS t_cnt
           FROM fb GROUP BY b),
    tot AS (SELECT SUM(r_cnt) AS rtot, SUM(t_cnt) AS ttot FROM bt),
    lam AS (SELECT b,
              ln((CAST(t_cnt + 1 AS DOUBLE)
                    * CAST(rtot + {_DSIR_B} AS DOUBLE))
                 / (CAST(r_cnt + 1 AS DOUBLE)
                    * CAST(ttot + {_DSIR_B} AS DOUBLE))) AS lam
            FROM bt CROSS JOIN tot),
    w AS (SELECT doc_id, lang, source, COUNT(*) AS n_feats,
            {dsum_sql('lam')} AS weight
          FROM fb JOIN lam USING (b)
          GROUP BY doc_id, lang, source)"""


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH {_DSIR_W_SQL}
    SELECT doc_id, lang, source, n_feats, weight
    FROM w
    ORDER BY weight DESC NULLS LAST, doc_id
    LIMIT {_DSIR_TOP}
    """,
    tags=("llm-sampling", "llm-text"),
)
@_scoped
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top documents by DSIR importance weight (how target-like a raw
    document's hashed n-gram bag is). Fully tie-broken top-k
    (TakeOrderedAndProject -- never a global sort); the weight itself is
    hash-exact cross-engine, so even the float ordering agrees."""
    out = (
        _dsir_weights(spark, sf_dir)
        .orderBy(F.col("weight").desc_nulls_last(), "doc_id")
        .limit(_DSIR_TOP)
    )
    return _finalize(spark, out)


_DSIR_GUMBEL_SQL = (
    "-ln(-ln((CAST("
    + md5_int60_sql("concat('dsir:', CAST(doc_id AS VARCHAR))")
    + f" AS DOUBLE) + 0.5) / {_DSIR_2POW60!r}))"
)


@query(
    "dsir_resample_counts",
    oracle=f"""
    WITH {_DSIR_W_SQL},
    keyed AS (SELECT doc_id, lang,
                weight + {_DSIR_GUMBEL_SQL} AS gkey
              FROM w),
    sel AS (SELECT doc_id, lang FROM keyed
            ORDER BY gkey DESC NULLS LAST, doc_id LIMIT {_DSIR_K}),
    ltot AS (SELECT lang, COUNT(*) AS total_docs FROM documents
            GROUP BY lang)
    SELECT t.lang,
           t.total_docs,
           COUNT(s.doc_id) AS selected_docs,
           {dround_sql('COUNT(s.doc_id) / CAST(t.total_docs AS DOUBLE)', 4)}
             AS selected_frac
    FROM ltot t LEFT JOIN sel s ON s.lang = t.lang
    GROUP BY t.lang, t.total_docs
    ORDER BY t.lang
    """,
    tags=("llm-sampling",),
)
@_scoped
def dsir_resample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel-top-k importance RESAMPLING over the DSIR weights: the
    selection key is log-weight + Gumbel noise (the standard
    reproducible weighted-sample-without-replacement construction), with
    the Gumbel drawn from a stable md5 uniform so the selected set is
    identical across engines, runs, and cluster topologies. Output is
    the per-language selection profile -- the point of DSIR is exactly
    that this profile shifts toward the target distribution, which the
    companion pytest asserts. Top-k is TakeOrderedAndProject; the
    rollup joins a per-language total computed straight from the
    documents table (honest denominators: docs with zero features can
    never be selected but still count)."""
    w = _dsir_weights(spark, sf_dir)
    u = (
        md5_int60(
            F.concat(F.lit("dsir:"), F.col("doc_id").cast("string"))
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(_DSIR_2POW60)
    sel = (
        w.select(
            "doc_id",
            "lang",
            (F.col("weight") + (-F.log(-F.log(u)))).alias("gkey"),
        )
        .orderBy(F.col("gkey").desc_nulls_last(), "doc_id")
        .limit(_DSIR_K)
    )
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.groupBy("lang").agg(F.count("*").alias("total_docs"))
    out = (
        tot.join(sel, "lang", "left")
        .groupBy("lang", "total_docs")
        .agg(
            F.count("doc_id").alias("selected_docs"),
            dround(
                F.count("doc_id") / F.col("total_docs").cast("double"), 4
            ).alias("selected_frac"),
        )
        .orderBy("lang")
    )
    return _finalize(spark, out)


# ---------------------------------------------------------------------------
# Mixture temperature sweep: the recipe designer's knob, priced per tau
# ---------------------------------------------------------------------------

# The sweep grid brackets published LLM recipes: 1.0 = natural
# sampling, 0.7 = the corpus_mixture_weights default, 0.5/0.3 =
# aggressive flattening toward uniform-per-source.
_TAU_GRID = (0.3, 0.5, 0.7, 1.0)


@query(
    "mixture_temperature_sweep",
    oracle=f"""
    WITH g AS (
      SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT CAST(tau AS DOUBLE) AS tau
      FROM (VALUES {", ".join(f"({x})" for x in _TAU_GRID)}) v(tau)
    ),
    w AS (
      SELECT t.tau, g.source,
             POWER(CAST(g.toks AS DOUBLE), t.tau)
               / NULLIF(SUM(POWER(CAST(g.toks AS DOUBLE), t.tau))
                          OVER (PARTITION BY t.tau), 0.0) AS w,
             CAST(g.toks AS DOUBLE)
               / NULLIF(SUM(CAST(g.toks AS DOUBLE))
                          OVER (PARTITION BY t.tau), 0.0) AS nat
      FROM g CROSS JOIN t
    )
    SELECT tau,
           CAST(COUNT(*) AS BIGINT) AS n_sources,
           {dround_sql('MAX(w)', 6)} AS max_weight,
           {dround_sql('MIN(w)', 6)} AS min_weight,
           {dround_sql(f"1.0 / NULLIF({dsum_sql('w * w')}, 0.0)", 4)}
             AS effective_sources,
           {dround_sql('MAX(w / NULLIF(nat, 0.0))', 4)} AS max_upsample
    FROM w
    GROUP BY tau
    ORDER BY tau
    """,
    tags=("llm-sampling",),
)
def mixture_temperature_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sweep the mixture TEMPERATURE (w_s proportional to tokens^tau)
    across the grid a recipe designer actually compares, and emit the
    per-tau design summary: weight extremes, effective source count
    (inverse Simpson 1/sum(w^2) -- arithmetic-exact, unlike an
    entropy exponential whose libm exp/ln differ across engines), and
    the largest implied upsample factor (max w/natural -- the repeat
    count of the most-boosted source; a low tau that implies a 40x
    repeat of a tiny source is an overfit flag, which is exactly what
    this row makes visible before any sampling runs).

    Shape at scale: ONE corpus tokenize pass rolls up to per-source
    token masses (cardinality = #sources, tiny); the sweep is a cross
    join of that rollup against a literal tau grid -- #sources x
    #taus rows -- so adding grid points costs nothing corpus-side.
    Same normalization-window discipline as corpus_mixture_weights
    (the window's single partition holds one row per source, a
    cardinality that does not scale with data)."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("toks")
    )
    taus = F.explode(
        F.array(*[F.lit(float(x)) for x in _TAU_GRID])
    ).alias("tau")
    w_tau = Window.partitionBy("tau")
    pw = F.pow(F.col("toks").cast("double"), F.col("tau"))
    wgt = pw / F.nullif(F.sum(pw).over(w_tau), F.lit(0.0))
    nat = F.col("toks").cast("double") / F.nullif(
        F.sum(F.col("toks").cast("double")).over(w_tau), F.lit(0.0)
    )
    w = g.select("source", "toks", taus).select(
        "tau", wgt.alias("w"), nat.alias("nat")
    )
    return (
        w.groupBy("tau")
        .agg(
            F.count("*").alias("n_sources"),
            dround(F.max("w"), 6).alias("max_weight"),
            dround(F.min("w"), 6).alias("min_weight"),
            dround(
                F.lit(1.0)
                / F.nullif(
                    dsum(F.col("w") * F.col("w")), F.lit(0.0)
                ),
                4,
            ).alias("effective_sources"),
            dround(
                F.max(
                    F.col("w") / F.nullif(F.col("nat"), F.lit(0.0))
                ),
                4,
            ).alias("max_upsample"),
        )
        .orderBy("tau")
    )


# ---------------------------------------------------------------------------
# Packing-budget sweep: tail waste vs sequence length, priced
# ---------------------------------------------------------------------------

# Grid brackets common training sequence lengths around the
# sequence_packing_stats default (2048). The 64 row sits BELOW the
# fixture's longest document (~100 whitespace tokens) on purpose: it
# keeps the truncation columns genuinely non-zero at every SF (the
# _SEMDEDUP_CAP non-degenerate-operating-point discipline -- pinned by
# tests/test_r15_ops.py), and it is a real regime (embedding models
# with short max_position windows).
_PACK_BUDGET_GRID = (64, 512, 1024, 2048, 4096)


@query(
    "packing_efficiency_sweep",
    oracle=f"""
    WITH sized AS (
      SELECT doc_id,
             {_PACK_SHARD_SQL} AS shard,
             len({_TOKS}) AS n_toks
      FROM documents
    ),
    b AS (
      SELECT CAST(budget AS BIGINT) AS budget
      FROM (VALUES {", ".join(f"({x})" for x in _PACK_BUDGET_GRID)})
           v(budget)
    ),
    per_shard AS (
      SELECT b.budget, s.shard,
             COUNT(*) AS docs,
             SUM(s.n_toks) AS toks,
             (SUM(s.n_toks) + b.budget - 1) // b.budget AS bins,
             SUM(CASE WHEN s.n_toks > b.budget THEN 1 ELSE 0 END)
               AS over_docs,
             SUM(GREATEST(s.n_toks - b.budget, 0)) AS lost
      FROM sized s CROSS JOIN b
      GROUP BY b.budget, s.shard
    )
    SELECT budget,
           CAST(SUM(docs) AS BIGINT) AS docs,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(bins) AS BIGINT) AS bins,
           {dround_sql(
               'CAST(SUM(toks) AS DOUBLE)'
               ' / (NULLIF(SUM(bins), 0) * budget)', 4)}
             AS fill_ratio,
           CAST(SUM(over_docs) AS BIGINT) AS docs_over_budget,
           CAST(SUM(lost) AS BIGINT) AS trunc_tokens_lost,
           {dround_sql(
               'CAST(SUM(lost) AS DOUBLE)'
               ' / NULLIF(CAST(SUM(toks) AS DOUBLE), 0.0)', 4)}
             AS trunc_loss_frac
    FROM per_shard
    GROUP BY budget
    ORDER BY budget
    """,
    tags=("llm-sampling", "llm-text"),
)
def packing_efficiency_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sweep the packing BUDGET (training sequence length) across the
    grid a pipeline owner actually compares, reusing the
    concat-and-split discipline of sequence_packing_stats: per budget,
    total bins and the global fill ratio, PLUS the
    truncate-instead-of-pack alternative's price (docs over budget,
    tokens a hard truncation would lose, loss fraction) -- one table
    is the whole pack versus truncate decision at every candidate
    sequence length. Concat-and-split wastes only each shard's final
    partial bin, so fill ratio rises toward 1 as the corpus grows and
    falls as the budget grows; truncation loss moves the OPPOSITE way
    (shorter budgets chop more), which is exactly the tension the
    table prices BEFORE anyone re-tokenizes a corpus at the wrong
    length.

    Shape at scale: the budget grid cross-joins the SIZED frame
    (shard + one long per doc -- never the text), so sweeping the
    grid costs |grid|x a 2-column frame, not |grid| corpus scans;
    bins per (budget, shard) is the concat-and-split closed form
    ceil(shard_tokens / budget) (r15 review: counting distinct
    starting bins undercounted whenever one doc spanned an entire
    bin -- guaranteed at the 64 row, where docs exceed the budget),
    so the whole sweep is two hash rollups, no window at all."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        _pack_shard().alias("shard"),
        F.size(tokens(F.col("text"))).cast("long").alias("n_toks"),
    )
    budgets = F.explode(
        F.array(*[F.lit(x).cast("long") for x in _PACK_BUDGET_GRID])
    ).alias("budget")
    g = sized.select("shard", "n_toks", budgets)
    over = F.when(F.col("n_toks") > F.col("budget"), 1).otherwise(0)
    lost = F.greatest(F.col("n_toks") - F.col("budget"), F.lit(0))
    per_shard = (
        g.groupBy("budget", "shard")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_toks").alias("toks"),
            F.sum(over).alias("over_docs"),
            F.sum(lost).alias("lost"),
        )
        .withColumn("bins", F.expr("(toks + budget - 1) DIV budget"))
    )
    return (
        per_shard.groupBy("budget")
        .agg(
            F.sum("docs").cast("long").alias("docs"),
            F.sum("toks").cast("long").alias("total_tokens"),
            F.sum("bins").cast("long").alias("bins"),
            F.sum("over_docs").cast("long").alias("docs_over_budget"),
            F.sum("lost").cast("long").alias("trunc_tokens_lost"),
            dround(
                F.sum("lost").cast("double")
                / F.nullif(F.sum("toks").cast("double"), F.lit(0.0)),
                4,
            ).alias("trunc_loss_frac"),
        )
        .withColumn(
            "fill_ratio",
            dround(
                F.col("total_tokens").cast("double")
                / (F.nullif(F.col("bins"), F.lit(0)) * F.col("budget")),
                4,
            ),
        )
        .select(
            "budget",
            "docs",
            "total_tokens",
            "bins",
            "fill_ratio",
            "docs_over_budget",
            "trunc_tokens_lost",
            "trunc_loss_frac",
        )
        .orderBy("budget")
    )


# ---------------------------------------------------------------------------
# Data-constrained epoch allocation: weights + budget -> repeats, priced
# ---------------------------------------------------------------------------

# Training-budget multiple of the corpus (a data-constrained regime:
# the compute-optimal token budget EXCEEDS the unique corpus, so some
# sources must repeat) and the diminishing-returns epoch cap (repeats
# beyond ~4 epochs add little before returns decay -- the published
# data-constrained-scaling observation the cap encodes).
_EPOCH_BUDGET_X = 4.0
_MAX_EPOCHS = 4.0
_EPOCH_TAU = 0.7  # the corpus_mixture_weights default temperature


@query(
    "data_constrained_epochs",
    oracle=f"""
    WITH g AS (
      SELECT source, CAST(SUM(len({_TOKS})) AS BIGINT) AS toks
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, toks,
             POWER(CAST(toks AS DOUBLE), {_EPOCH_TAU})
               / NULLIF(SUM(POWER(CAST(toks AS DOUBLE), {_EPOCH_TAU}))
                          OVER (), 0.0) AS w,
             CAST(SUM(toks) OVER () AS DOUBLE) AS total
      FROM g
    )
    , x AS (
      SELECT source, toks, w,
             w * total * {_EPOCH_BUDGET_X} AS target,
             w * total * {_EPOCH_BUDGET_X}
               / NULLIF(CAST(toks AS DOUBLE), 0.0) AS needed
      FROM w
    ),
    y AS (
      SELECT source, toks, w, target, needed,
             CASE WHEN needed IS NULL THEN NULL
                  ELSE LEAST(needed, {_MAX_EPOCHS}) END AS capped
      FROM x
    )
    SELECT source,
           toks AS unique_tokens,
           {dround_sql('w', 6)} AS weight,
           {dround_sql('target', 2)} AS target_tokens,
           {dround_sql('needed', 4)} AS epochs_needed,
           {dround_sql('capped', 4)} AS epochs_capped,
           {dround_sql('COALESCE(CAST(toks AS DOUBLE) * capped, 0.0)', 2)} AS served_tokens,
           {dround_sql('GREATEST(target - COALESCE(CAST(toks AS DOUBLE) * capped, 0.0), 0.0)', 2)} AS shortfall_tokens
    FROM y
    ORDER BY source
    """,
    tags=("llm-sampling",),
)
def data_constrained_epochs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Turn a mixture design into an EPOCH PLAN under a fixed training
    budget -- the data-constrained-scaling bookkeeping every recipe at
    a compute-optimal token count needs once the budget exceeds the
    unique corpus: per source, the tokens the tau-weighted mixture
    ASKS for (weight x budget), the implied epoch count over the
    source's unique tokens, the epoch count after the
    diminishing-returns cap, the tokens actually served, and the
    shortfall the cap hands back to the scheduler for reallocation. A
    flattening temperature (tau = 0.7) over-asks small sources -- the
    cap binding on them while big sources sit under one epoch is
    exactly the tension this table makes visible before any sampling
    runs.

    Shape at scale: ONE corpus tokenize pass rolls up to per-source
    token masses; everything after is arithmetic over #sources rows
    under the same single-partition normalization window as
    corpus_mixture_weights / mixture_temperature_sweep (cardinality =
    #sources, never data-scale). Raw-double LEAST/GREATEST/POWER with
    output-only snaps keep both engines hash-exact."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("long").alias("toks")
    )
    w_all = Window.partitionBy()
    pw = F.pow(F.col("toks").cast("double"), F.lit(_EPOCH_TAU))
    wgt = pw / F.nullif(F.sum(pw).over(w_all), F.lit(0.0))
    total = F.sum("toks").over(w_all).cast("double")
    w = g.select(
        "source",
        "toks",
        wgt.alias("w"),
        total.alias("total"),
    )
    target = F.col("w") * F.col("total") * F.lit(_EPOCH_BUDGET_X)
    # NULL guards for a zero-token source (the crafted 'junk' source):
    # epochs are undefined (NULL on both engines -- never a 0/0 NaN
    # whose semantics differ), served falls back to 0, shortfall to
    # the full target
    needed = target / F.nullif(F.col("toks").cast("double"), F.lit(0.0))
    capped = F.when(
        needed.isNull(), F.lit(None).cast("double")
    ).otherwise(F.least(needed, F.lit(_MAX_EPOCHS)))
    served = F.coalesce(
        F.col("toks").cast("double") * capped, F.lit(0.0)
    )
    return (
        w.select(
            "source",
            F.col("toks").alias("unique_tokens"),
            dround(F.col("w"), 6).alias("weight"),
            dround(target, 2).alias("target_tokens"),
            dround(needed, 4).alias("epochs_needed"),
            dround(capped, 4).alias("epochs_capped"),
            dround(served, 2).alias("served_tokens"),
            dround(
                F.greatest(target - served, F.lit(0.0)), 2
            ).alias("shortfall_tokens"),
        )
        .orderBy("source")
    )
