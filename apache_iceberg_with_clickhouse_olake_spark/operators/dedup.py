"""Deduplication operators over ``documents`` (north-star LLM-pipeline
surface; the reference has no dedup -- its upsert keys serve that role,
olake-config/destination.json:133).

Design for 100 TB:
- Exact dedup is a hash-groupBy on a 60-bit canonical-text fingerprint --
  one shuffle keyed by the fingerprint, map-side partial aggregation.
- Near-dedup is MinHash + LSH: per-row signature (no shuffle), band-hash
  explode (4 rows/doc), groupBy/self-join ON (band_id, band_hash) -- only
  docs sharing a band bucket ever meet, NEVER an all-pairs cross join.
  Candidate pairs then get exact shingle-Jaccard verification.
- SimHash is a vectorized Pandas UDF (Arrow batches) producing one int64
  per doc; near-dup candidates are docs whose fingerprints share a 16-bit
  band (same bucketed pattern, rows-only check since Python-side hashing
  isn't oracle-expressible).

All hash arithmetic is md5-derived (functions.md5_int60) so the DuckDB
oracle reproduces Spark bit-for-bit from shared constants.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import (
    davg,
    davg_sql,
    dround,
    dround_sql,
    dsum,
    dsum_sql,
    md5_int60,
    md5_int60_sql,
    norm_text,
    norm_text_sql,
    tokens,
    tokens_sql,
)
from ..sources.parquet import load_table
from ._cache import finalize as _finalize
from ._cache import scoped as _scoped
from ._cache import scratch_dir as _scratch_dir
from ._cache import superstep as _superstep
from .registry import query

# ---------------------------------------------------------------------------
# Shared minhash constants (inlined into BOTH engines' expressions)
# ---------------------------------------------------------------------------

_P = 1_000_000_007  # 30-bit prime: a*(x%P) stays well inside int64
_N_HASHES = 16
_N_BANDS = 4
_ROWS_PER_BAND = _N_HASHES // _N_BANDS
# Deterministic Knuth-style multiplicative constants.
_A = [(2_654_435_761 * (i + 1) + 1) % _P for i in range(_N_HASHES)]
_B = [(2_246_822_519 * (i + 1) + 13) % _P for i in range(_N_HASHES)]

_JACCARD_THRESHOLD = 0.5

_NORM = norm_text_sql("text")
_TOKS = tokens_sql("text")

# Word 3-gram shingles (DuckDB side). Falls back to the whole normalized
# text when a doc has fewer than 3 tokens.
_SHINGLES_SQL = f"""
    CASE WHEN len({_TOKS}) >= 3 THEN
      list_distinct(list_transform(range(1, len({_TOKS}) - 1),
        j -> concat_ws(' ', {_TOKS}[j], {_TOKS}[j+1], {_TOKS}[j+2])))
    ELSE [{_NORM}] END
"""


def shingles(toks: Column, norm: Column) -> Column:
    """Distinct word 3-gram shingles (Spark side; twin of _SHINGLES_SQL).

    Takes ALREADY-MATERIALIZED token-array and normalized-text columns
    (attributes, not expression trees): higher-order functions run outside
    whole-stage codegen, so a lambda over a raw ``tokens(text)`` subtree
    re-evaluates the full split per element_at per position -- O(n^2) in
    document length. Bound to attributes, each element_at is O(1)."""
    n = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(1), n - 2),
        lambda j: F.concat_ws(
            " ",
            F.element_at(toks, j),
            F.element_at(toks, j + 1),
            F.element_at(toks, j + 2),
        ),
    )
    return F.when(n >= 3, F.array_distinct(grams)).otherwise(F.array(norm))


def with_shingles(docs: DataFrame) -> DataFrame:
    """doc_id + shingles, with tokens/norm materialized in their own
    projection stage so the shingle lambda binds attributes."""
    return docs.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        norm_text(F.col("text")).alias("norm"),
    ).select(
        "doc_id", shingles(F.col("toks"), F.col("norm")).alias("shingles")
    )


# Spark-side SQL-string builders (r19, the py4j plan-construction
# class -- see similarity._pq_sqdist_sql): the 16-sig x transform-lambda
# stack cost ~2k driver-side gateway round-trips (~0.5-1.0 s) per call
# site when built Column-by-Column. Each builder below parses to the
# IDENTICAL expression tree in one F.expr/selectExpr round-trip: same
# int32 literals (_A/_B/_P all < 2^31, same as F.lit), same 0-based
# array indexing, same CAST(conv(substring(md5(..)))) chain as
# functions.md5_int60.
_HVALS_SPARK_SQL = (
    "transform(shingles, s -> "
    "CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"
    f" % {_P})"
)


def _minhash_sig_spark_sql(i: int) -> str:
    """i-th minhash: min over pre-hashed shingle values of (a_i*x + b_i) % P.

    Reads the md5-derived values (``md5_int60(s) % P``), NOT raw shingles:
    the md5 is materialized once in an upstream projection so the 16 sig
    expressions share it instead of recomputing 16 md5s per shingle."""
    return (
        f"array_min(transform(hvals, x -> ({_A[i]} * x + {_B[i]}) % {_P}))"
    )


def _minhash_sig_sql(i: int) -> str:
    return (
        f"list_min(list_transform(shingles, s -> "
        f"({_A[i]} * ({md5_int60_sql('s')} % {_P}) + {_B[i]}) % {_P}))"
    )


def _band_hash_spark_sql(sig_exprs: list[str], band: int) -> str:
    """md5_int60 over the band's comma-joined sig components (SQL text;
    ``sig_exprs`` are the per-component expressions, e.g. ``h3`` or
    ``sig[3]``)."""
    lo = band * _ROWS_PER_BAND
    joined = ", ".join(
        f"CAST({e} AS STRING)"
        for e in sig_exprs[lo:lo + _ROWS_PER_BAND]
    )
    return (
        "CAST(conv(substring(md5("
        f"concat_ws(',', {joined})), 1, 15), 16, 10) AS BIGINT)"
    )


def _band_hash_sql(band: int) -> str:
    lo = band * _ROWS_PER_BAND
    parts = ", ".join(f"CAST(h{i} AS VARCHAR)" for i in range(lo, lo + _ROWS_PER_BAND))
    return md5_int60_sql(f"concat_ws(',', {parts})")


def _with_band_hashes(docs: DataFrame) -> DataFrame:
    """doc_id + b0..b{n-1} band-hash columns.

    Three stacked projections, each materializing what the next one reuses
    (shingles -> md5-hashed values -> 16 sigs -> 4 band hashes), so md5
    runs once per shingle. Catalyst keeps the stages separate: CollapseProject
    won't inline a non-cheap alias referenced more than once."""
    sig_df = (
        with_shingles(docs)
        .selectExpr("doc_id", f"{_HVALS_SPARK_SQL} AS hvals")
        .selectExpr(
            "doc_id",
            *[
                f"{_minhash_sig_spark_sql(i)} AS h{i}"
                for i in range(_N_HASHES)
            ],
        )
    )
    sig_exprs = [f"h{i}" for i in range(_N_HASHES)]
    return sig_df.selectExpr(
        "doc_id",
        *[
            f"{_band_hash_spark_sql(sig_exprs, b)} AS b{b}"
            for b in range(_N_BANDS)
        ],
    )


def _sig_cte_sql(src: str) -> str:
    """sigs + bands_wide CTE chain over an arbitrary (doc_id, text) source
    relation -- ``documents`` for the standalone minhash ops, ``reps`` for
    the cascade that pairs only exact-dedup representatives."""
    return f"""
    sigs AS (
      SELECT doc_id,
             {', '.join(f'{_minhash_sig_sql(i)} AS h{i}' for i in range(_N_HASHES))}
      FROM (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM {src})
    ),
    bands_wide AS (
      SELECT doc_id,
             {', '.join(f'{_band_hash_sql(b)} AS b{b}' for b in range(_N_BANDS))}
      FROM sigs
    )
"""


_SIG_CTE = _sig_cte_sql("documents")

# bands CTE: one (doc_id, band_id, band_hash) row per band -- the SQL
# twin of the Spark-side posexplode in _lsh_candidate_pairs.  Shared by
# every LSH-pairing oracle so the band-explode shape cannot diverge
# between operators.
_BANDS_CTE = f"""bands AS (
      {' UNION ALL '.join(
          f"SELECT doc_id, {b} AS band_id, b{b} AS band_hash FROM bands_wide"
          for b in range(_N_BANDS)
      )}
    )"""


def _band_pairs_sql(name: str) -> str:
    """CTE ``name``: the distinct (doc_a < doc_b) pairs sharing a band of
    ``bands`` -- the SQL twin of _lsh_candidate_pairs' band join."""
    return f"""{name} AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      FROM bands x JOIN bands y
        ON x.band_id = y.band_id AND x.band_hash = y.band_hash
       AND x.doc_id < y.doc_id
    )"""


def _with_sig(docs: DataFrame) -> DataFrame:
    """(doc_id, shingles, sig) frame: the shingle set plus the
    16-component MinHash signature ARRAY (kept as one array column so it
    can ride keyed joins; _with_band_hashes is the variant that drops
    both and keeps only band hashes). Stacked projections as in
    _with_band_hashes so md5 runs once per shingle."""
    sig_arr = ", ".join(
        _minhash_sig_spark_sql(i) for i in range(_N_HASHES)
    )
    return (
        with_shingles(docs)
        .selectExpr("doc_id", "shingles", f"{_HVALS_SPARK_SQL} AS hvals")
        .selectExpr("doc_id", "shingles", f"array({sig_arr}) AS sig")
    )


def _bands_from_sig(attach: DataFrame) -> DataFrame:
    """doc_id + b0..b{n-1} band-hash columns from a _with_sig frame
    (extra columns are dropped; they re-attach by key after pairing)."""
    sig_exprs = [f"sig[{i}]" for i in range(_N_HASHES)]
    return attach.selectExpr(
        "doc_id",
        *[
            f"{_band_hash_spark_sql(sig_exprs, b)} AS b{b}"
            for b in range(_N_BANDS)
        ],
    )


def _lsh_candidate_pairs(bands_wide: DataFrame, par: int) -> DataFrame:
    """Exactly-once LSH candidate pair stream (doc_a < doc_b) from a
    (doc_id, b0..b{N_BANDS-1}) band-hash frame. The single source of
    truth for the band-bucketed self-join, shared by
    _minhash_verified_pairs, minhash_estimate_calibration and
    shingle_containment_pairs (three near-verbatim copies before r11).

    One posexplode pass instead of an N_BANDS-way union: the signature
    pipeline runs once per doc, not once per band. All band hashes ride
    along on every exploded row (4 extra int64s) so pair-dedup can be a
    map-side expression instead of a shuffle: a pair colliding on k
    bands leaves the join k times, and a distinct() would
    hash-aggregate + reshuffle the entire quadratic-in-duplicate-group-
    size candidate stream. Both rows carry all band hashes, so "is this
    the FIRST band on which the docs agree" is a cheap executor-side
    filter -- exactly-once per pair with zero pair-stream shuffle
    (measured ~30% faster at an 8x-replicated corpus)."""
    bands = bands_wide.select(
        "doc_id",
        *[f"b{b}" for b in range(_N_BANDS)],
        F.posexplode(
            F.array(*[F.col(f"b{b}") for b in range(_N_BANDS)])
        ).alias("band_id", "band_hash"),
    ).repartition(par, "band_id", "band_hash")
    x, y = bands.alias("x"), bands.alias("y")
    joined = x.join(
        y,
        (F.col("x.band_id") == F.col("y.band_id"))
        & (F.col("x.band_hash") == F.col("y.band_hash"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    )
    earlier_match = F.lit(False)
    for b in range(_N_BANDS - 1):
        earlier_match = earlier_match | (
            (F.col("x.band_id") > b) & (F.col(f"x.b{b}") == F.col(f"y.b{b}"))
        )
    return joined.filter(~earlier_match).select(
        F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
    )


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

@query(
    "dedup_exact_stats",
    oracle=f"""
    SELECT source,
           COUNT(*) AS docs,
           COUNT(DISTINCT md5({_NORM})) AS distinct_docs,
           COUNT(*) - COUNT(DISTINCT md5({_NORM})) AS exact_dups
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm-dedup", "A6"),
)
def dedup_exact_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate accounting per source: hash-groupBy on the canonical
    fingerprint (the one-shuffle exact dedup shape)."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(norm_text(F.col("text")))
    return (
        docs.select("source", fp.alias("fp"))
        .groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.countDistinct("fp").alias("distinct_docs"),
            (F.count("*") - F.countDistinct("fp")).alias("exact_dups"),
        )
        .orderBy("source")
    )


@query(
    "dedup_keep_first",
    oracle=f"""
    SELECT doc_id, md5({_NORM}) AS fingerprint
    FROM documents
    QUALIFY row_number() OVER (
      PARTITION BY md5({_NORM}) ORDER BY doc_id) = 1
    """,
    tags=("llm-dedup",),
)
def dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the lowest doc_id per fingerprint -- the
    row_number-over-key pattern (same shape as the CDC read-side dedupe).
    One shuffle keyed by fingerprint; no skew (fingerprints are uniform)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(norm_text(F.col("text")))
    w = Window.partitionBy("fingerprint").orderBy("doc_id")
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# MinHash signatures -> LSH band buckets -> verified candidate pairs
# ---------------------------------------------------------------------------

@query(
    "minhash_band_buckets",
    oracle=f"""
    WITH {_SIG_CTE}
    SELECT * FROM bands_wide
    """,
    tags=("llm-dedup",),
)
def minhash_band_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc LSH band hashes (16 minhashes -> 4 bands of 4). Pure per-row
    projection: signatures never shuffle; only the 60-bit band hashes do."""
    docs = load_table(spark, sf_dir, "documents")
    return _with_band_hashes(docs)


_CANDIDATES_SQL = f"""
    WITH {_SIG_CTE},
    {_BANDS_CTE},
    {_band_pairs_sql('pairs')},
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents)
    SELECT p.doc_a, p.doc_b,
           {dround_sql(
               'CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)'
               ' / len(list_distinct(list_concat(sa.shingles, sb.shingles)))',
               4,
           )} AS jaccard,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
             >= {_JACCARD_THRESHOLD} AS near_dup
    FROM pairs p
    JOIN sh sa ON p.doc_a = sa.doc_id
    JOIN sh sb ON p.doc_b = sb.doc_id
"""


def _minhash_verified_pairs(docs: DataFrame, par: int) -> DataFrame:
    """Band-bucket candidate join + exact shingle-Jaccard verify over an
    arbitrary (doc_id, text) frame (pre-repartitioned by doc_id). Body
    shared by minhash_lsh_candidates and dedup_cascade_stats; see
    minhash_lsh_candidates for the plan rationale."""
    pairs = _lsh_candidate_pairs(_with_band_hashes(docs), par)
    sh = with_shingles(docs)
    sa, sb = sh.alias("sa"), sh.alias("sb")
    jac_raw = (
        F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
        .cast("double")
        / F.size(F.array_union(F.col("sa.shingles"), F.col("sb.shingles")))
    )
    return (
        pairs.join(sa, pairs.doc_a == F.col("sa.doc_id"))
        .join(sb, pairs.doc_b == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            dround(jac_raw, 4).alias("jaccard"),
            (jac_raw >= _JACCARD_THRESHOLD).alias("near_dup"),
        )
    )


@query(
    "minhash_lsh_candidates",
    oracle=_CANDIDATES_SQL,
    tags=("llm-dedup",),
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pipeline: band-bucket join for candidates, then
    exact shingle-Jaccard verification of ONLY those pairs. The join is
    keyed on (band_id, band_hash) so cost scales with bucket collisions,
    not n^2 -- the 100 TB-safe shape.

    Plan rationale for the explicit-numPartitions repartitions inside
    _minhash_verified_pairs (AQE-coalesce-exempt, same as
    simhash_neardup_pairs): band rows are bytes, so byte-targeted AQE
    would fold the bucket join (whose real cost is the per-bucket pair
    loop + signature hashing, invisible to shuffle byte stats) down to
    ~1 task."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par, "doc_id")
    return _minhash_verified_pairs(docs, par)


_CASCADE_ORACLE = f"""
    WITH reps AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      QUALIFY row_number() OVER (
        PARTITION BY md5({_NORM}) ORDER BY doc_id) = 1
    ),
    {_sig_cte_sql('reps')},
    {_BANDS_CTE},
    {_band_pairs_sql('cand')},
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM reps),
    verified AS (
      SELECT CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
               >= {_JACCARD_THRESHOLD} AS near_dup
      FROM cand p
      JOIN sh sa ON p.doc_a = sa.doc_id
      JOIN sh sb ON p.doc_b = sb.doc_id
    )
    SELECT (SELECT COUNT(*) FROM documents) AS total_docs,
           (SELECT COUNT(*) FROM reps) AS representatives,
           (SELECT COUNT(*) FROM documents)
             - (SELECT COUNT(*) FROM reps) AS exact_dup_rows,
           COUNT(*) AS candidate_pairs,
           CAST(COALESCE(SUM(CASE WHEN near_dup THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS near_dup_pairs
    FROM verified
"""


@query("dedup_cascade_stats", oracle=_CASCADE_ORACLE, tags=("llm-dedup",))
@_scoped
def dedup_cascade_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup cascade, one composed plan: exact dedup collapses
    byte-identical replica groups to their lowest-doc_id representative
    (row_number over the canonical fingerprint -- one uniform-key
    shuffle), and MinHash-LSH candidate pairing + Jaccard verify run over
    the REPRESENTATIVES ONLY. This is the mitigation SCALING.md relies on
    for replicated corpora: an r-times-replicated document contributes
    r*(r-1)/2 intra-group candidate pairs to a direct minhash pass but
    exactly 0 to the cascade (the group is one rep), so cascade cost
    tracks the number of DISTINCT documents, not the replication factor.
    Returns the one-row accounting: corpus size, representative count,
    rows removed by exact dedup, and candidate/verified near-dup pair
    counts over the representatives."""
    from pyspark.sql import Window

    par = spark.sparkContext.defaultParallelism
    # NOT widened (r19): interleaved A/B measured the split-starved
    # widen at 1.736 -> 2.149 s here -- the fp window shuffles the text
    # anyway, so a prior exchange just doubles the data movement
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(norm_text(F.col("text")))
    w = Window.partitionBy("fp").orderBy("doc_id")
    reps = (
        docs.select("doc_id", "text", fp.alias("fp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "text")
        .repartition(par, "doc_id")
    )
    # Materialize the representative set once: three downstream branches
    # consume it (band pipeline, shingle verify side, the count), and
    # without a cut each would re-run the fingerprint window shuffle
    # over the full corpus.
    reps = _superstep(reps, eager=True)
    verified = _minhash_verified_pairs(reps, par)
    total = docs.agg(F.count("*").alias("total_docs"))
    repc = reps.agg(F.count("*").alias("representatives"))
    pair_agg = verified.agg(
        F.count("*").alias("candidate_pairs"),
        F.coalesce(
            F.sum(F.col("near_dup").cast("long")), F.lit(0).cast("long")
        ).alias("near_dup_pairs"),
    )
    return _finalize(spark, (
        total.crossJoin(repc)
        .crossJoin(pair_agg)
        .select(
            "total_docs",
            "representatives",
            (F.col("total_docs") - F.col("representatives")).alias(
                "exact_dup_rows"
            ),
            "candidate_pairs",
            "near_dup_pairs",
        )
    ))


# ---------------------------------------------------------------------------
# Character n-gram Jaccard with prefix blocking
# ---------------------------------------------------------------------------

_NGRAM = 4
_NGRAM_THRESHOLD = 0.3

_CHAR_GRAMS_SQL = f"""
    CASE WHEN length(norm) >= {_NGRAM} THEN
      list_distinct(list_transform(range(1, length(norm) - {_NGRAM - 2}),
        j -> substr(norm, j, {_NGRAM})))
    ELSE [norm] END
"""

# Blocking key: first 3 tokens + 16-char length bucket. Near-identical
# docs share both; the key fans the corpus into ~n blocks of O(1) size,
# so the within-block pair join is linear, never all-pairs.
_BLOCK_SQL = (
    "md5(concat(array_to_string(toks[1:3], ' '), '|',"
    " CAST(length(norm) // 16 AS VARCHAR)))"
)


@query(
    "ngram_jaccard_neardups",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_NORM} AS norm, {_TOKS} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id, {_BLOCK_SQL} AS blk, {_CHAR_GRAMS_SQL} AS grams
      FROM t
    )
    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
           {dround_sql(
               'CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)'
               ' / len(list_distinct(list_concat(x.grams, y.grams)))',
               4,
           )} AS ngram_jaccard,
           CAST(len(list_intersect(x.grams, y.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(x.grams, y.grams)))
             >= {_NGRAM_THRESHOLD} AS near_dup
    FROM g x JOIN g y ON x.blk = y.blk AND x.doc_id < y.doc_id
    """,
    tags=("llm-dedup",),
)
def ngram_jaccard_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character 4-gram Jaccard near-dedup with prefix+length blocking:
    candidates meet only inside a block (first-3-tokens x length-bucket
    key), then exact character-shingle Jaccard scores each pair. The
    block join is the same bucketed no-all-pairs shape as MinHash-LSH
    but with a zero-signature-cost blocking key -- the cheap first pass
    of a layered dedup cascade."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        norm_text(F.col("text")).alias("norm"),
        tokens(F.col("text")).alias("toks"),
    )
    blk = F.md5(
        F.concat(
            F.concat_ws(" ", F.slice(F.col("toks"), 1, 3)),
            F.lit("|"),
            F.expr("CAST(length(norm) div 16 AS STRING)"),
        )
    )
    grams = F.when(
        F.length("norm") >= _NGRAM,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length("norm") - (_NGRAM - 1)),
                lambda j: F.col("norm").substr(j, F.lit(_NGRAM)),
            )
        ),
    ).otherwise(F.array(F.col("norm")))
    g = t.select("doc_id", blk.alias("blk"), grams.alias("grams"))
    x, y = g.alias("x"), g.alias("y")
    jac = (
        F.size(F.array_intersect(F.col("x.grams"), F.col("y.grams")))
        .cast("double")
        / F.size(F.array_union(F.col("x.grams"), F.col("y.grams")))
    )
    return (
        x.join(
            y,
            (F.col("x.blk") == F.col("y.blk"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            dround(jac, 4).alias("ngram_jaccard"),
            (jac >= _NGRAM_THRESHOLD).alias("near_dup"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (vectorized Pandas UDF -- the Arrow-batched Python path)
# ---------------------------------------------------------------------------

def _simhash_votes_sql() -> str:
    """64 per-bit vote aggregates. The 64-bit token hash (big-endian first
    8 md5 bytes, matching _simhash_udf) is carried as two 32-bit BIGINT
    halves because DuckDB can't cast 16 hex chars to an integer; bit b
    reads from the low or high half."""
    cols = []
    for b in range(64):
        src = f"(lo >> {b})" if b < 32 else f"(hi >> {b - 32})"
        cols.append(
            f"SUM(CASE WHEN {src} & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        )
    return ", ".join(cols)


def _simhash_assemble_sql() -> str:
    """Reassemble the signed int64 fingerprint from the 64 vote signs.
    Bit 63 contributes -2^63 (two's complement), so the sum stays inside
    BIGINT with no unsigned intermediate."""
    parts = [
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT) "
        f"ELSE CAST(0 AS BIGINT) END"
        for b in range(63)
    ]
    parts.append(
        "CASE WHEN v63 > 0 THEN CAST(-9223372036854775807 AS BIGINT) - 1 "
        "ELSE CAST(0 AS BIGINT) END"
    )
    return " + ".join(parts)


# Shared CTE chain ending in fps(doc_id, simhash) -- one row per document,
# untokenizable docs carrying fingerprint 0.  Both simhash queries build on
# this so the fingerprint derivation exists exactly once.
_SIMHASH_FP_CTES = f"""
    tok AS (
      SELECT doc_id, unnest({_TOKS}) AS t FROM documents
    ),
    th AS MATERIALIZED (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS hi,
             CAST(concat('0x', substr(md5(t), 9, 8)) AS BIGINT) AS lo
      FROM tok
    ),
    votes AS (
      SELECT doc_id, {_simhash_votes_sql()}
      FROM th GROUP BY doc_id
    ),
    fp AS (
      SELECT doc_id, ({_simhash_assemble_sql()}) AS simhash FROM votes
    ),
    fps AS MATERIALIZED (
      SELECT d.doc_id, COALESCE(f.simhash, CAST(0 AS BIGINT)) AS simhash
      FROM documents d LEFT JOIN fp f USING (doc_id)
    )
"""

_SIMHASH_ORACLE = f"""
    WITH {_SIMHASH_FP_CTES}
    SELECT doc_id, simhash,
           {', '.join(
               f"(simhash >> {16 * b}) & 65535 AS band{b}"
               for b in range(4)
           )}
    FROM fps
"""


@query("simhash_fingerprints", oracle=_SIMHASH_ORACLE, tags=("llm-dedup",))
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints via a vectorized Pandas UDF (Arrow batches --
    the sanctioned Python path; see _simhash_udf.py for why the UDF lives
    in its own module). The DuckDB oracle re-derives the identical
    fingerprints in pure SQL (per-token md5 halves -> 64 bit-vote
    aggregates -> two's-complement reassembly), so even the Python path
    is value-checked cross-engine, not just rows-only."""
    from ._simhash_udf import make_simhash_udf

    simhash_udf = make_simhash_udf()
    docs = load_table(spark, sf_dir, "documents")
    # 16-bit bands of the fingerprint give the LSH bucketing for candidate
    # generation at scale (hamming-distance near-dups share >=1 band whp).
    return docs.select(
        "doc_id", simhash_udf(F.col("text")).alias("simhash")
    ).select(
        "doc_id",
        "simhash",
        *[
            F.shiftright(F.col("simhash"), 16 * b)
            .bitwiseAND(F.lit(0xFFFF))
            .alias(f"band{b}")
            for b in range(4)
        ],
    )


# Hamming radius for "near-duplicate" on 64-bit simhash; with 4 16-bit
# bands, any pair within radius 8 differs in <=8 bits, so by pigeonhole a
# pair with <=3 of the 4 bands corrupted always shares a band -- the
# standard simhash banding guarantee the candidate join relies on.
_SIMHASH_HAMMING = 8


@query(
    "simhash_neardup_pairs",
    oracle=f"""
    WITH {_SIMHASH_FP_CTES},
    bands AS (
      SELECT doc_id, simhash, o.band_id,
             (simhash >> (16 * o.band_id)) & 65535 AS band_val
      FROM fps, (SELECT unnest([0, 1, 2, 3]) AS band_id) o
      WHERE simhash <> 0
    ),
    cand AS (
      SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
             x.simhash AS sh_a, y.simhash AS sh_b
      FROM bands x
      JOIN bands y ON x.band_id = y.band_id
                  AND x.band_val = y.band_val
                  AND x.doc_id < y.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
    FROM cand
    WHERE bit_count(xor(sh_a, sh_b)) <= {_SIMHASH_HAMMING}
    """,
    tags=("llm-dedup",),
)
def simhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs: band-bucketed self-join (docs meet
    only when a 16-bit fingerprint band collides -- never all-pairs), then
    exact Hamming verification via bit_count(xor). The bucketing is the
    same LSH shape as MinHash (dedup.py:253) but over a single int64, so
    the join key is 4 rows/doc and the verify step is pure bit arithmetic
    -- the cheapest near-dedup cascade stage at 100 TB. Fingerprint-0
    (untokenizable) docs are excluded: they are byte-identical blanks and
    belong to exact dedup, and keeping them would create a degenerate
    all-blank clique in the band join. Oracle re-derives fingerprints in
    SQL from the shared CTE chain, so the Python UDF path is value-checked
    end-to-end. DuckDB bit_count/xor and Spark bit_count/bitwiseXOR agree
    on two's-complement int64 (verified: xor(-1,0)->64, xor(MIN,1)->2)."""
    from ._simhash_udf import make_simhash_udf

    simhash_udf = make_simhash_udf()
    par = spark.sparkContext.defaultParallelism
    # Explicit-numPartitions repartitions, deliberately: the band rows are
    # a few BYTES each, so AQE's byte-targeted coalescing would fold the
    # join down to one partition -- and this join's cost is the n^2
    # per-bucket pair loop plus the UDF, neither of which AQE's shuffle-
    # byte heuristic can see (the classic explosive-join blind spot).
    # REPARTITION_BY_NUM shuffles are exempt from AQE coalescing, so the
    # UDF fans out over all cores and the bucket loops spread across
    # hash(band) reducers (measured single-task before the fix).
    docs = load_table(spark, sf_dir, "documents").repartition(par, "doc_id")
    fp = docs.select(
        "doc_id", simhash_udf(F.col("text")).alias("simhash")
    ).filter(F.col("simhash") != 0)
    bands = fp.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), 16 * b).bitwiseAND(
                        F.lit(0xFFFF)
                    )
                    for b in range(4)
                ]
            )
        ).alias("band_id", "band_val"),
    ).repartition(par, "band_id", "band_val")
    x, y = bands.alias("x"), bands.alias("y")
    joined = x.join(
        y,
        (F.col("x.band_id") == F.col("y.band_id"))
        & (F.col("x.band_val") == F.col("y.band_val"))
        & (F.col("x.doc_id") < F.col("y.doc_id")),
    )
    # First-matching-band emission instead of distinct(): a pair sharing
    # k bands comes out of the join k times, and a distinct() would
    # shuffle the entire (quadratic-in-duplicate-group-size) candidate
    # stream.  Both fingerprints ride along, so band membership is
    # recomputable in-expression: keep the row only where band_id is the
    # FIRST band on which the fingerprints agree -- exactly-once per
    # pair, as a map-side filter, no pair-stream shuffle at all.
    xorv = F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
    earlier_match = F.lit(False)
    for b in range(3):
        earlier_match = earlier_match | (
            (F.col("x.band_id") > b)
            & (
                F.shiftright(xorv, 16 * b).bitwiseAND(F.lit(0xFFFF))
                == 0
            )
        )
    # Emit VERIFIED near-dups only (hamming <= radius), not the raw
    # candidate stream: 16-bit bands over correlated document text are
    # weakly selective (~10x more candidates than true near-dups here),
    # and the candidate set is a diagnostic intermediate, not the
    # operator's answer. Filtering executor-side keeps the quadratic
    # blow-up away from the sink: measured on the 8x-replicated corpus,
    # 12.2M candidates -> ~1.2M true pairs.
    ham = F.bit_count(xorv)
    return joined.filter(
        ~earlier_match & (ham <= _SIMHASH_HAMMING)
    ).select(
        F.col("x.doc_id").alias("doc_a"),
        F.col("y.doc_id").alias("doc_b"),
        ham.alias("hamming"),
    )


# ---------------------------------------------------------------------------
# Duplicate clusters: connected components over verified near-dup pairs
# ---------------------------------------------------------------------------

_CC_ROUNDS = 4


def _cc_rounds_sql() -> str:
    """Unrolled min-label-propagation rounds (l0..lK): identical iteration
    count to the Spark loop, so both engines compute the same labels."""
    # AS MATERIALIZED: each round references the previous one twice;
    # an inlined CTE would re-evaluate it, doubling work per round
    parts = [
        "l0 AS MATERIALIZED "
        "(SELECT DISTINCT a AS doc_id, a AS label FROM sym)"
    ]
    for i in range(1, _CC_ROUNDS + 1):
        parts.append(f"""
    l{i} AS MATERIALIZED (
      SELECT x.doc_id, MIN(x.lbl) AS label FROM (
        SELECT doc_id, label AS lbl FROM l{i - 1}
        UNION ALL
        SELECT s.a AS doc_id, p.label AS lbl
        FROM sym s JOIN l{i - 1} p ON s.b = p.doc_id
      ) x GROUP BY x.doc_id
    )""")
    return ",\n".join(parts)


# The representatives' labelled near-dup graph, shared by every oracle
# that clusters ``reps``: MinHash band pairs, Jaccard-verified edges made
# symmetric, then the connected-component rounds ``l0..l{_CC_ROUNDS}``.
_REP_LABELS_CTES = f"""{_sig_cte_sql('reps')},
    {_BANDS_CTE},
    {_band_pairs_sql('cand')},
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM reps),
    edges AS (
      SELECT p.doc_a AS a, p.doc_b AS b
      FROM cand p
      JOIN sh sa ON p.doc_a = sa.doc_id
      JOIN sh sb ON p.doc_b = sb.doc_id
      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
            >= {_JACCARD_THRESHOLD}
    ),
    sym AS MATERIALIZED (
      SELECT a, b FROM edges UNION ALL SELECT b AS a, a AS b FROM edges
    ),
    {_cc_rounds_sql()}"""


@query(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH g AS MATERIALIZED (
      SELECT doc_id, text,
             row_number() OVER (
               PARTITION BY md5({_NORM}) ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY md5({_NORM})) AS grp_size
      FROM documents
    ),
    reps AS MATERIALIZED (
      SELECT doc_id, text, grp_size FROM g WHERE rn = 1
    ),
    {_REP_LABELS_CTES},
    labeled AS (
      SELECT doc_id, label FROM l{_CC_ROUNDS}
      UNION ALL
      SELECT doc_id, doc_id AS label FROM reps
      WHERE grp_size >= 2
        AND doc_id NOT IN (SELECT doc_id FROM l{_CC_ROUNDS})
    )
    SELECT j.label AS cluster_id,
           CAST(SUM(r.grp_size) AS BIGINT) AS members
    FROM labeled j JOIN reps r ON j.doc_id = r.doc_id
    GROUP BY j.label
    ORDER BY members DESC, cluster_id
    """,
    tags=("llm-dedup",),
)
@_scoped
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS, not just pairs: connected components over the
    verified near-dup graph via _CC_ROUNDS rounds of min-label propagation
    (cluster id = smallest doc_id reachable). Keep-one-per-cluster is the
    policy real dedup ships — pairs alone over-delete transitive groups.

    Cascade discipline (r5): propagation runs over exact-dedup
    REPRESENTATIVES, never raw docs. Byte-identical docs have identical
    shingles, hence identical edge sets — so full-corpus components are
    EXACTLY the rep-graph components re-expanded by each rep's exact-
    group size, plus groups of >= 2 identical docs whose rep touches no
    near-dup edge (an intra-group clique is its own cluster, Jaccard 1).
    The rep set is constant under corpus replication, so minhash banding,
    Jaccard verify, and all propagation rounds cost O(distinct docs);
    only the fingerprint window scales with raw size — same shape as
    dedup_cascade_stats (SCALING.md measures both).

    Each round is one keyed join + one min-groupBy on doc_id — no
    all-pairs step, state is one (doc_id, label) row per clustered rep.
    A fixed round count bounds the plan (near-dup clusters have tiny
    diameters); a production fixpoint loop adds iterate-until-converged
    with checkpointing between rounds, same per-round shape. The DuckDB
    oracle unrolls the identical rounds AND the identical expansion, so
    labels and member counts match exactly."""
    grouped, reps, labels = _cascade_rep_labels(spark, sf_dir)
    # Exact-dup groups whose rep has no near-dup edge are clusters in
    # their own right (identical members, pairwise Jaccard 1).
    singles = (
        reps.filter(F.col("grp_size") >= 2)
        .join(labels.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", F.col("doc_id").alias("label"))
    )
    return _finalize(spark, (
        labels.unionByName(singles)
        .join(reps.select("doc_id", "grp_size"), "doc_id")
        .groupBy(F.col("label").alias("cluster_id"))
        .agg(F.sum("grp_size").cast("long").alias("members"))
        .orderBy(F.col("members").desc(), "cluster_id")
    ))


def _cascade_rep_labels(spark: SparkSession, sf_dir: str, with_prev=False):
    """Shared cascade core: exact-dedup the corpus, run minhash-verified
    near-dup banding over REPRESENTATIVES only, and label-propagate
    cluster ids. Returns (grouped, reps, labels):

    - grouped: every doc with (doc_id, source, text, fp, rn, grp_size),
    - reps: one row per distinct fingerprint (rn=1), a superstep (the
      banding pipeline, the shingle-verify side, and every consumer
      would otherwise re-run the fingerprint window over the full
      corpus),
    - labels: (doc_id, label) for every rep touching a verified
      near-dup edge; label = min doc_id reachable within _CC_ROUNDS.

    ``with_prev=True`` additionally returns the labels after round
    _CC_ROUNDS - 1, letting callers emit a convergence indicator
    (final round changed no label <=> propagation reached its
    fixpoint) without re-running the cascade.

    Consumed by dedup_cluster_sizes (cluster-size accounting) and
    dedup_removal_plan (keep/remove decisions)."""
    from pyspark.sql import Window

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(norm_text(F.col("text")))
    w_rn = Window.partitionBy("fp").orderBy("doc_id")
    w_ct = Window.partitionBy("fp")
    grouped = (
        docs.select("doc_id", "source", "text", fp.alias("fp"))
        .withColumn("rn", F.row_number().over(w_rn))
        .withColumn("grp_size", F.count("*").over(w_ct))
    )
    reps = _superstep(
        grouped.filter(F.col("rn") == 1)
        .select("doc_id", "source", "text", "grp_size")
        .repartition(par, "doc_id"),
        eager=True,
    )
    verified = _minhash_verified_pairs(reps.select("doc_id", "text"), par)
    edges = verified.filter(F.col("near_dup")).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
    )
    sym = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    # Materialize the edge set once and cut lineage every round, else
    # each round re-embeds the full LSH pipeline in the plan.
    # Repartition on the probe key BEFORE checkpointing: every round
    # joins on sym.b, and a checkpoint captures its partitioning, so all
    # _CC_ROUNDS joins read the materialized edges co-partitioned (only
    # the tiny per-round label frame re-shuffles) instead of re-hashing
    # the edge set each round at whatever fragmented partitioning the
    # verify join happened to leave behind.
    sym = _superstep(sym.repartition(par, "b"), eager=True)
    labels = (
        sym.select(F.col("a").alias("doc_id")).distinct()
        .withColumn("label", F.col("doc_id"))
    )
    prev = labels
    for _ in range(_CC_ROUNDS):
        prev = labels
        neighbor_labels = sym.join(
            labels, sym["b"] == labels["doc_id"]
        ).select(sym["a"].alias("doc_id"), "label")
        labels = _superstep(
            labels.unionByName(neighbor_labels)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
    if with_prev:
        return grouped, reps, labels, prev
    return grouped, reps, labels


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs existing fingerprint index
# ---------------------------------------------------------------------------

@query(
    "incremental_dedup_stats",
    oracle=f"""
    WITH fp AS MATERIALIZED (
      SELECT doc_id, source, md5({_NORM}) AS fp,
             doc_id % 5 = 0 AS incoming
      FROM documents
    ),
    existing AS (SELECT DISTINCT fp FROM fp WHERE NOT incoming),
    batch AS (
      SELECT b.doc_id, b.source, b.fp,
             e.fp IS NOT NULL AS dup_of_existing,
             row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id) > 1
               AS dup_within_batch
      FROM (SELECT * FROM fp WHERE incoming) b
      LEFT JOIN existing e ON b.fp = e.fp
    )
    SELECT source,
           COUNT(*) AS incoming_docs,
           CAST(COUNT(CASE WHEN dup_of_existing THEN 1 END) AS BIGINT)
             AS dup_of_existing,
           CAST(COUNT(CASE WHEN NOT dup_of_existing AND dup_within_batch
                           THEN 1 END) AS BIGINT) AS dup_within_batch,
           CAST(COUNT(CASE WHEN NOT dup_of_existing AND NOT dup_within_batch
                           THEN 1 END) AS BIGINT) AS net_new
    FROM batch
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm-dedup",),
)
def incremental_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-time dedup: classify an incoming batch (here: every 5th
    doc stands in for a new crawl shard) against the EXISTING corpus
    fingerprint index — dup-of-existing, dup-within-batch (keep-first),
    or net-new. This is the shape that keeps 100 TB dedup incremental:
    the index side is just (fingerprint) keys, the join is keyed on the
    uniform md5 fingerprint (no skew), and only the new batch shuffles —
    never the historical corpus."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        "source",
        F.md5(norm_text(F.col("text"))).alias("fp"),
        (F.col("doc_id") % 5 == 0).alias("incoming"),
    )
    existing = (
        fp.filter(~F.col("incoming")).select("fp").distinct()
        .withColumn("seen", F.lit(1))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("fp").orderBy("doc_id")
    batch = (
        fp.filter(F.col("incoming"))
        .join(existing, "fp", "left")
        .withColumn("dup_of_existing", F.col("seen").isNotNull())
        .withColumn("dup_within_batch", F.row_number().over(w) > 1)
    )
    return (
        batch.groupBy("source")
        .agg(
            F.count("*").alias("incoming_docs"),
            F.count(F.when(F.col("dup_of_existing"), 1)).alias(
                "dup_of_existing"
            ),
            F.count(
                F.when(
                    ~F.col("dup_of_existing") & F.col("dup_within_batch"), 1
                )
            ).alias("dup_within_batch"),
            F.count(
                F.when(
                    ~F.col("dup_of_existing") & ~F.col("dup_within_batch"), 1
                )
            ).alias("net_new"),
        )
        .orderBy("source")
    )


@query(
    "dedup_removal_plan",
    oracle=f"""
    WITH g AS MATERIALIZED (
      SELECT doc_id, source, text,
             row_number() OVER (
               PARTITION BY md5({_NORM}) ORDER BY doc_id) AS rn
      FROM documents
    ),
    reps AS MATERIALIZED (
      SELECT doc_id, source, text FROM g WHERE rn = 1
    ),
    {_REP_LABELS_CTES},
    rep_plan AS (
      SELECT r.doc_id, r.source,
             COALESCE(l.label, r.doc_id) AS cluster
      FROM reps r LEFT JOIN l{_CC_ROUNDS} l USING (doc_id)
    ),
    agg_docs AS (
      SELECT source,
             COUNT(*) AS docs_total,
             COUNT(CASE WHEN rn > 1 THEN 1 END) AS removed_exact
      FROM g GROUP BY source
    ),
    agg_reps AS (
      SELECT source,
             COUNT(CASE WHEN doc_id = cluster THEN 1 END) AS docs_kept,
             COUNT(CASE WHEN doc_id <> cluster THEN 1 END)
               AS removed_neardup
      FROM rep_plan GROUP BY source
    )
    SELECT d.source,
           d.docs_total,
           COALESCE(r.docs_kept, 0) AS docs_kept,
           d.removed_exact,
           COALESCE(r.removed_neardup, 0) AS removed_neardup,
           {dround_sql(
               'CAST(COALESCE(r.docs_kept, 0) AS DOUBLE) / d.docs_total',
               4)} AS kept_fraction
    FROM agg_docs d LEFT JOIN agg_reps r USING (source)
    ORDER BY d.source
    """,
    tags=("llm-dedup",),
)
@_scoped
def dedup_removal_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTIONABLE output of the dedup cascade: keep/remove decisions
    per source, not just statistics. Policy is keep-one-per-cluster --
    the policy real dedup ships: exact-dup group members beyond the
    representative are removed (reason: exact), and within each
    near-dup cluster every representative except the one whose doc_id
    equals the cluster label (the smallest reachable id) is removed
    (reason: near-dup). docs_total = docs_kept + removed_exact +
    removed_neardup by construction.

    Shares the cascade core with dedup_cluster_sizes
    (_cascade_rep_labels): one fingerprint window, banding + verify
    over representatives only, label propagation over the rep graph --
    so the decision list costs the same as the statistics. The final
    roll-up joins per-source aggregates (source-cardinality rows), and
    the DuckDB oracle unrolls the identical rounds, so every decision
    count is engine-exact."""
    grouped, reps, labels = _cascade_rep_labels(spark, sf_dir)
    rep_plan = (
        reps.join(labels, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce("label", F.col("doc_id")).alias("cluster"),
        )
    )
    agg_docs = grouped.groupBy("source").agg(
        F.count("*").alias("docs_total"),
        F.count(F.when(F.col("rn") > 1, True)).alias("removed_exact"),
    )
    agg_reps = rep_plan.groupBy("source").agg(
        F.count(F.when(F.col("doc_id") == F.col("cluster"), True)).alias(
            "docs_kept"
        ),
        F.count(F.when(F.col("doc_id") != F.col("cluster"), True)).alias(
            "removed_neardup"
        ),
    )
    return _finalize(spark, (
        agg_docs.join(agg_reps, "source", "left")
        .select(
            "source",
            "docs_total",
            F.coalesce("docs_kept", F.lit(0)).alias("docs_kept"),
            "removed_exact",
            F.coalesce("removed_neardup", F.lit(0)).alias(
                "removed_neardup"
            ),
            dround(
                F.coalesce("docs_kept", F.lit(0)).cast("double")
                / F.col("docs_total"),
                4,
            ).alias("kept_fraction"),
        )
        .orderBy("source")
    ))


@query(
    "dedup_removal_apply",
    oracle=f"""
    WITH g AS MATERIALIZED (
      SELECT doc_id, source, text,
             row_number() OVER (
               PARTITION BY md5({_NORM}) ORDER BY doc_id) AS rn
      FROM documents
    ),
    reps AS MATERIALIZED (
      SELECT doc_id, source, text FROM g WHERE rn = 1
    ),
    {_REP_LABELS_CTES},
    kept AS (
      SELECT r.doc_id, r.source, r.text
      FROM reps r LEFT JOIN l{_CC_ROUNDS} l USING (doc_id)
      WHERE COALESCE(l.label, r.doc_id) = r.doc_id
    ),
    agg_docs AS (
      SELECT source,
             COUNT(*) AS docs_total,
             COUNT(CASE WHEN rn > 1 THEN 1 END) AS removed_exact
      FROM g GROUP BY source
    ),
    agg_kept AS (
      SELECT source,
             COUNT(*) AS kept_readback,
             CAST(SUM(length(text)) AS BIGINT) AS kept_chars
      FROM kept GROUP BY source
    )
    SELECT d.source,
           d.docs_total,
           COALESCE(k.kept_readback, 0) AS kept_readback,
           COALESCE(k.kept_chars, 0) AS kept_chars,
           d.removed_exact,
           d.docs_total - d.removed_exact - COALESCE(k.kept_readback, 0)
             AS removed_neardup
    FROM agg_docs d LEFT JOIN agg_kept k USING (source)
    ORDER BY d.source
    """,
    tags=("llm-dedup", "S3"),
)
@_scoped
def dedup_removal_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the removal plan end-to-end: materialize the kept corpus to
    a parquet sink, then account for it from the files READ BACK from
    disk -- the dedup analog of the reference's silver-rebuild pattern
    (scripts/iceberg-setup.sql:66-75), where the actionable table is
    written and the check runs over the written artifact, not the plan.

    Accounting is a genuine cross-check, not bookkeeping: kept_readback
    and kept_chars come from the READBACK side while removed_exact /
    removed_neardup come from the PLAN side (the oracle derives
    removed_neardup as the remainder), so a lossy or duplicating write
    breaks the docs_total = kept + removed_exact + removed_neardup
    identity and the value-hash compare fails.

    100 TB: the kept corpus is written in parallel at the reps frame's
    doc_id partitioning (no coalesce -- a backfill-sized apply spreads
    across the cluster); every aggregate is source-cardinality. The
    sink is a ``_cache.scratch_dir``: on a real cluster the write must
    target a SHARED warehouse path (s3://... / hdfs://...), and
    scratch_dir is the one place to swap it in."""
    grouped, reps, labels = _cascade_rep_labels(spark, sf_dir)
    rep_plan = reps.join(labels, "doc_id", "left").withColumn(
        "cluster", F.coalesce("label", F.col("doc_id"))
    )
    kept = rep_plan.filter(F.col("doc_id") == F.col("cluster")).select(
        "doc_id", "source", "text"
    )
    tmp = _scratch_dir("dedup_apply_")
    kept.write.mode("overwrite").parquet(tmp)
    back = spark.read.parquet(tmp)
    agg_docs = grouped.groupBy("source").agg(
        F.count("*").alias("docs_total"),
        F.count(F.when(F.col("rn") > 1, True)).alias("removed_exact"),
    )
    removed_nd = (
        rep_plan.filter(F.col("doc_id") != F.col("cluster"))
        .groupBy("source")
        .agg(F.count("*").alias("removed_neardup"))
    )
    agg_kept = back.groupBy("source").agg(
        F.count("*").alias("kept_readback"),
        F.sum(F.length("text")).alias("kept_chars"),
    )
    out = (
        agg_docs.join(agg_kept, "source", "left")
        .join(removed_nd, "source", "left")
        .select(
            "source",
            "docs_total",
            F.coalesce("kept_readback", F.lit(0)).alias("kept_readback"),
            F.coalesce("kept_chars", F.lit(0)).cast("long").alias(
                "kept_chars"
            ),
            "removed_exact",
            F.coalesce("removed_neardup", F.lit(0)).alias(
                "removed_neardup"
            ),
        )
        .orderBy("source")
    )
    return _finalize(spark, out)


@query(
    "dedup_keep_best_quality",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, source, length(text) AS n_chars,
             row_number() OVER (
               PARTITION BY md5({_NORM}) ORDER BY doc_id) AS rn_first,
             row_number() OVER (
               PARTITION BY md5({_NORM})
               ORDER BY length(text) DESC, doc_id) AS rn_best
      FROM documents
    )
    SELECT source,
           COUNT(*) AS docs_total,
           CAST(COUNT(CASE WHEN rn_first = 1 THEN 1 END) AS BIGINT)
             AS kept_first_docs,
           CAST(COALESCE(SUM(CASE WHEN rn_first = 1 THEN n_chars END), 0)
                AS BIGINT) AS kept_first_chars,
           CAST(COUNT(CASE WHEN rn_best = 1 THEN 1 END) AS BIGINT)
             AS kept_best_docs,
           CAST(COALESCE(SUM(CASE WHEN rn_best = 1 THEN n_chars END), 0)
                AS BIGINT) AS kept_best_chars
    FROM g
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm-dedup",),
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-BEST exact dedup vs keep-first: the fingerprint groups a
    dedup collapses contain raw variants of the same normalized text
    (case / whitespace differ -- the fingerprint is over the canonical
    form), and production pipelines keep the most complete original
    (max raw length, doc_id tie-break), not the lowest id. This query
    prices the policy: per source, docs kept and characters retained
    under both policies side by side (kept docs can shift BETWEEN
    sources when a group spans them -- each kept doc counts toward its
    own source).

    One fingerprint shuffle serves both policies: two row_number
    windows share the same partitioning (Catalyst reuses the exchange;
    only the in-partition sort differs), then a source-cardinality
    rollup. No joins, no second pass."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(norm_text(F.col("text")))
    w_first = Window.partitionBy("fp").orderBy("doc_id")
    w_best = Window.partitionBy("fp").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    g = (
        docs.select(
            "doc_id",
            "source",
            F.length("text").alias("n_chars"),
            fp.alias("fp"),
        )
        .withColumn("rn_first", F.row_number().over(w_first))
        .withColumn("rn_best", F.row_number().over(w_best))
    )
    return (
        g.groupBy("source")
        .agg(
            F.count("*").alias("docs_total"),
            F.count(F.when(F.col("rn_first") == 1, True)).alias(
                "kept_first_docs"
            ),
            F.coalesce(
                F.sum(F.when(F.col("rn_first") == 1, F.col("n_chars"))),
                F.lit(0),
            )
            .cast("long")
            .alias("kept_first_chars"),
            F.count(F.when(F.col("rn_best") == 1, True)).alias(
                "kept_best_docs"
            ),
            F.coalesce(
                F.sum(F.when(F.col("rn_best") == 1, F.col("n_chars"))),
                F.lit(0),
            )
            .cast("long")
            .alias("kept_best_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Sketch calibration: estimated (signature) vs exact (shingle) Jaccard
# ---------------------------------------------------------------------------

_CALIB_ORACLE = f"""
    WITH {_SIG_CTE},
    {_BANDS_CTE},
    {_band_pairs_sql('pairs')},
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
    scored AS (
      SELECT CAST({' + '.join(
          f'(CASE WHEN ha.h{i} = hb.h{i} THEN 1 ELSE 0 END)'
          for i in range(_N_HASHES)
      )} AS INT) AS est_matches,
             {dround_sql(
                 'CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)'
                 ' / len(list_distinct(list_concat(sa.shingles, sb.shingles)))',
                 4,
             )} AS jac
      FROM pairs p
      JOIN sigs ha ON p.doc_a = ha.doc_id
      JOIN sigs hb ON p.doc_b = hb.doc_id
      JOIN sh sa ON p.doc_a = sa.doc_id
      JOIN sh sb ON p.doc_b = sb.doc_id
    )
    SELECT est_matches,
           est_matches / {float(_N_HASHES)} AS est_jaccard,
           COUNT(*) AS n_pairs,
           {davg_sql('jac')} AS avg_true_jaccard,
           {davg_sql(f'abs(est_matches / {float(_N_HASHES)} - jac)')}
             AS avg_abs_err
    FROM scored
    GROUP BY 1 ORDER BY 1
"""


@query(
    "minhash_estimate_calibration",
    oracle=_CALIB_ORACLE,
    tags=("llm-dedup",),
)
def minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve of the MinHash sketch: for every LSH candidate
    pair, the signature-agreement estimate (matching components / 16)
    against the EXACT shingle Jaccard, grouped by estimate level --
    "measure the sketch, don't trust it". The pair stream is the same
    band-bucketed join as minhash_lsh_candidates (first-matching-band
    exactly-once emission, no pair-stream distinct); signatures and
    shingles attach to the BOUNDED pair set by keyed join afterwards, so
    the 16 extra int64s never ride the quadratic-in-bucket-size join
    itself. Per-pair doubles snap to 4 decimals before the exact decimal
    mean (davg), keeping the curve hash-identical cross-engine."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par, "doc_id")
    attach = _with_sig(docs)
    pairs = _lsh_candidate_pairs(_bands_from_sig(attach), par)
    sa, sb = attach.alias("sa"), attach.alias("sb")
    jac_raw = (
        F.size(F.array_intersect(F.col("sa.shingles"), F.col("sb.shingles")))
        .cast("double")
        / F.size(F.array_union(F.col("sa.shingles"), F.col("sb.shingles")))
    )
    matches = F.size(
        F.filter(
            F.zip_with(
                F.col("sa.sig"), F.col("sb.sig"), lambda a, b: a == b
            ),
            lambda v: v,
        )
    ).cast("int")
    scored = (
        pairs.join(sa, pairs.doc_a == F.col("sa.doc_id"))
        .join(sb, pairs.doc_b == F.col("sb.doc_id"))
        .select(
            matches.alias("est_matches"),
            dround(jac_raw, 4).alias("jac"),
        )
        .withColumn(
            "abs_err",
            F.abs(
                F.col("est_matches") / F.lit(float(_N_HASHES))
                - F.col("jac")
            ),
        )
    )
    return (
        scored.groupBy("est_matches")
        .agg(
            F.count("*").alias("n_pairs"),
            davg("jac", "avg_true_jaccard"),
            davg("abs_err", "avg_abs_err"),
        )
        .select(
            "est_matches",
            (F.col("est_matches") / F.lit(float(_N_HASHES))).alias(
                "est_jaccard"
            ),
            "n_pairs",
            "avg_true_jaccard",
            "avg_abs_err",
        )
        .orderBy("est_matches")
    )


# ---------------------------------------------------------------------------
# Winnowing: local fingerprinting (Schleimer, Wilkerson, Aiken 2003)
# ---------------------------------------------------------------------------

_WIN_K = 3    # words per gram (same grain as the minhash shingles)
_WIN_W = 4    # winnowing window: one fingerprint per w consecutive grams
_WIN_CAP = 50           # drop fingerprints shared by more docs (stop-grams)
_WIN_MIN_SHARED = 2     # pair gate: fingerprints in common
_WIN_MIN_OVERLAP = 0.5  # pair gate: shared / min(doc fingerprints)

# Ordered gram hashes + winnowed fingerprint set, as engine-native SQL.
# Both engines: element_at/[] are 1-based; the gram stream keeps document
# ORDER (list_distinct would break the sliding window), and each window
# contributes its MINIMUM gram hash -- the guarantee is that any match of
# at least w+k-1 consecutive tokens shares >= 1 fingerprint, at an
# expected density of 2/(w+1) fingerprints per gram.
_WIN_MD5 = "CAST(concat('0x', substr(md5({g}), 1, 15)) AS BIGINT)"
_WIN_GRAMS_SQL = f"""
    CASE WHEN len({_TOKS}) >= {_WIN_K} THEN
      list_transform(range(1, len({_TOKS}) - {_WIN_K - 2}),
        j -> {_WIN_MD5.format(
            g=f"concat_ws(' ', {_TOKS}[j], {_TOKS}[j+1], {_TOKS}[j+2])"
        )})
    ELSE [{_WIN_MD5.format(g=_NORM)}] END
"""
_WIN_FPS_SQL = f"""
    CASE WHEN len(grams) >= {_WIN_W} THEN
      list_distinct(list_transform(range(1, len(grams) - {_WIN_W - 2}),
        i -> list_min(grams[i:i+{_WIN_W - 1}])))
    ELSE [list_min(grams)] END
"""
_WIN_BASE_CTES = f"""
    g AS (SELECT doc_id, {_WIN_GRAMS_SQL} AS grams FROM documents),
    w AS (SELECT doc_id, len(grams) AS n_grams, {_WIN_FPS_SQL} AS fps
          FROM g)
"""


def _winnowed(docs: DataFrame) -> DataFrame:
    """doc_id, n_grams, fps(array<long>) -- the winnowed fingerprint set.

    Three projection stages so every higher-order lambda binds a
    MATERIALIZED attribute (toks -> grams -> fps); a lambda over a raw
    expression subtree re-evaluates it per element (the O(n^2) trap
    documented on :func:`shingles`)."""
    md5i = lambda g: md5_int60(g)  # noqa: E731
    staged = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("toks"),
        norm_text(F.col("text")).alias("norm"),
    )
    grams = F.when(
        F.size("toks") >= _WIN_K,
        F.transform(
            F.sequence(F.lit(1), F.size("toks") - (_WIN_K - 1)),
            lambda j: md5i(
                F.concat_ws(
                    " ",
                    F.element_at("toks", j),
                    F.element_at("toks", j + 1),
                    F.element_at("toks", j + 2),
                )
            ),
        ),
    ).otherwise(F.array(md5i(F.col("norm"))))
    fps = F.when(
        F.size("grams") >= _WIN_W,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size("grams") - (_WIN_W - 1)),
                lambda i: F.array_min(F.slice(F.col("grams"), i, _WIN_W)),
            )
        ),
    ).otherwise(F.array(F.array_min(F.col("grams"))))
    return staged.select("doc_id", grams.alias("grams")).select(
        "doc_id", F.size("grams").alias("n_grams"), fps.alias("fps")
    )


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH {_WIN_BASE_CTES}
    SELECT doc_id,
           CAST(n_grams AS INT) AS n_grams,
           CAST(len(fps) AS INT) AS n_fingerprints,
           {dround_sql('CAST(len(fps) AS DOUBLE) / n_grams', 4)}
             AS fp_density
    FROM w ORDER BY doc_id
    """,
    tags=("llm-dedup", "llm-text"),
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowed fingerprint profile per document: ordered word-3-gram
    hashes, a sliding window of {w} grams, the window MINIMUM selected
    as a fingerprint (MOSS-style local fingerprinting). Guarantees any
    shared run of >= {run} tokens is caught by >= 1 common fingerprint
    while storing only ~2/(w+1) of the grams -- the sketch that makes
    EXACT-substring dedup affordable at corpus scale where whole-doc
    hashes miss partial plagiarism and full suffix structures don't
    distribute. Pure per-row projection (three chained lambda stages
    over materialized attributes, no shuffle, no sort -- the driver
    compares order-insensitively)."""
    return _winnowed(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.col("n_grams").cast("int").alias("n_grams"),
        F.size("fps").cast("int").alias("n_fingerprints"),
        dround(
            F.size("fps").cast("double") / F.col("n_grams"), 4
        ).alias("fp_density"),
    )


winnowing_fingerprints.__doc__ = winnowing_fingerprints.__doc__.format(
    w=_WIN_W, run=_WIN_W + _WIN_K - 1
)


@query(
    "winnowing_neardup_pairs",
    oracle=f"""
    WITH {_WIN_BASE_CTES},
    posting AS (
      SELECT DISTINCT doc_id, unnest(fps) AS fp FROM w
    ),
    kept AS (
      SELECT fp FROM posting GROUP BY fp
      HAVING COUNT(*) BETWEEN 2 AND {_WIN_CAP}
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS shared_fps
      FROM posting a
      JOIN kept USING (fp)
      JOIN posting b USING (fp)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           CAST(p.shared_fps AS INT) AS shared_fps,
           {dround_sql(
               'CAST(p.shared_fps AS DOUBLE)'
               ' / least(len(wa.fps), len(wb.fps))', 4
           )} AS overlap
    FROM pairs p
    JOIN w wa ON wa.doc_id = p.doc_a
    JOIN w wb ON wb.doc_id = p.doc_b
    WHERE p.shared_fps >= {_WIN_MIN_SHARED}
      AND CAST(p.shared_fps AS DOUBLE)
          / least(len(wa.fps), len(wb.fps)) >= {_WIN_MIN_OVERLAP}
    ORDER BY doc_a, doc_b
    """,
    tags=("llm-dedup",),
)
@_scoped
def winnowing_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-duplicate pairs from shared winnowed fingerprints:
    docs sharing >= {n} kept fingerprints AND covering >= {v:.0%} of the
    smaller doc's fingerprint set. The inverted-index self-join is keyed
    by fingerprint, so cost is bounded by posting-list sizes, not the
    corpus square -- and the stop-gram gate (fingerprints in more than
    {cap} docs are dropped BEFORE the join, like df-capped stopwords)
    bounds the worst posting list by construction: a boilerplate phrase
    shared by a million docs never enumerates its million^2 pairs. The
    per-doc fingerprint counts attach AFTER pair aggregation, keyed on
    the bounded pair set."""
    par = spark.sparkContext.defaultParallelism
    # Materialize the winnowed frame once: FOUR consumers follow
    # (posting x2, kept, the per-doc counts), and -- measured -- the
    # explode generator otherwise collapses the staged gram/fps lambdas
    # back into one projection, re-evaluating the whole O(m*w) pipeline
    # per consumer per generated row (65 s vs 1.1 s on the sf0.01
    # corpus).
    w = _superstep(
        _winnowed(
            load_table(spark, sf_dir, "documents").repartition(
                par, "doc_id"
            )
        ).select("doc_id", F.size("fps").alias("n_fps"), "fps"),
        eager=True,
    )
    posting = w.select(
        "doc_id", F.explode("fps").alias("fp")
    ).distinct()
    kept = (
        posting.groupBy("fp")
        .agg(F.count("*").alias("n_docs"))
        .filter((F.col("n_docs") >= 2) & (F.col("n_docs") <= _WIN_CAP))
        .select("fp")
    )
    a = posting.join(kept, "fp").alias("a")
    b = posting.join(kept, "fp").alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count("*").cast("int").alias("shared_fps"))
        .filter(F.col("shared_fps") >= _WIN_MIN_SHARED)
    )
    wa = w.select(F.col("doc_id").alias("ka"), F.col("n_fps").alias("na"))
    wb = w.select(F.col("doc_id").alias("kb"), F.col("n_fps").alias("nb"))
    overlap = F.col("shared_fps").cast("double") / F.least("na", "nb")
    return _finalize(spark, (
        pairs.join(wa, pairs.doc_a == F.col("ka"))
        .join(wb, pairs.doc_b == F.col("kb"))
        .filter(overlap >= _WIN_MIN_OVERLAP)
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            dround(overlap, 4).alias("overlap"),
        )
        .orderBy("doc_a", "doc_b")
    ))


winnowing_neardup_pairs.__doc__ = winnowing_neardup_pairs.__doc__.format(
    n=_WIN_MIN_SHARED, v=_WIN_MIN_OVERLAP, cap=_WIN_CAP
)


# ---------------------------------------------------------------------------
# Asymmetric containment over the LSH candidate stream
# ---------------------------------------------------------------------------

_CONT_ASYM_GAP = 0.1  # |cont_a - cont_b| above this marks sub-document copy


@query(
    "shingle_containment_pairs",
    oracle=f"""
    WITH {_SIG_CTE},
    {_BANDS_CTE},
    {_band_pairs_sql('pairs')},
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
    scored AS (
      SELECT p.doc_a, p.doc_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS inter,
             len(sa.shingles) AS na, len(sb.shingles) AS nb
      FROM pairs p
      JOIN sh sa ON p.doc_a = sa.doc_id
      JOIN sh sb ON p.doc_b = sb.doc_id
    )
    SELECT doc_a, doc_b,
           {dround_sql('CAST(inter AS DOUBLE) / na', 4)} AS containment_a,
           {dround_sql('CAST(inter AS DOUBLE) / nb', 4)} AS containment_b,
           {dround_sql(
               'CAST(inter AS DOUBLE) / (na + nb - inter)', 4
           )} AS jaccard,
           abs(CAST(inter AS DOUBLE) / na - CAST(inter AS DOUBLE) / nb)
             >= {_CONT_ASYM_GAP} AS asymmetric
    FROM scored
    ORDER BY doc_a, doc_b
    """,
    tags=("llm-dedup",),
)
def shingle_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment (|A∩B|/|A| and /|B|) for every LSH
    candidate pair, alongside symmetric Jaccard. Containment is the
    measure that catches SUB-DOCUMENT copies -- a paragraph quoted
    inside a 100x longer page has containment ~1.0 from the short side
    while its Jaccard stays near zero, so a Jaccard-thresholded dedup
    never sees it (Lee et al. use both for exactly this reason); the
    `asymmetric` flag marks pairs whose two containments split by >=
    {gap}. Same scale shape as the calibration op: the band-bucketed
    join emits the bounded candidate stream first, then shingle sets
    attach by key to score only those pairs."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par, "doc_id")
    attach = _with_sig(docs)
    pairs = _lsh_candidate_pairs(_bands_from_sig(attach), par)
    sa = attach.select(
        F.col("doc_id").alias("ka"), F.col("shingles").alias("sha")
    )
    sb = attach.select(
        F.col("doc_id").alias("kb"), F.col("shingles").alias("shb")
    )
    inter = F.size(F.array_intersect("sha", "shb")).cast("double")
    na = F.size("sha").cast("double")
    nb = F.size("shb").cast("double")
    return (
        pairs.join(sa, pairs.doc_a == F.col("ka"))
        .join(sb, pairs.doc_b == F.col("kb"))
        .select(
            "doc_a",
            "doc_b",
            dround(inter / na, 4).alias("containment_a"),
            dround(inter / nb, 4).alias("containment_b"),
            dround(inter / (na + nb - inter), 4).alias("jaccard"),
            (F.abs(inter / na - inter / nb) >= _CONT_ASYM_GAP).alias(
                "asymmetric"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


shingle_containment_pairs.__doc__ = shingle_containment_pairs.__doc__.format(
    gap=_CONT_ASYM_GAP
)


# ---------------------------------------------------------------------------
# Per-source shingle novelty (exclusive n-gram share)
# ---------------------------------------------------------------------------


@query(
    "source_ngram_novelty",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT d.source, {md5_int60_sql('s.shingle')} AS sh
      FROM (SELECT source, {_SHINGLES_SQL} AS shingles FROM documents) d,
           unnest(d.shingles) AS s(shingle)
    ),
    df AS (
      SELECT sh, COUNT(*) AS n_sources FROM sh GROUP BY 1
    )
    SELECT sh.source,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN df.n_sources = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_exclusive,
           {dround_sql(
               'CAST(SUM(CASE WHEN df.n_sources = 1 THEN 1 ELSE 0 END)'
               ' AS DOUBLE) / COUNT(*)', 4
           )} AS novelty
    FROM sh JOIN df USING (sh)
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llm-dedup", "llm-text"),
)
@_scoped
def source_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of each source's distinct word-3-grams appears in
    NO other source -- the content-overlap diagnostic that decides
    whether adding a crawl actually adds new text or re-buys what the
    mixture already holds (high pairwise overlap here predicts heavy
    cross-source dedup losses downstream). Two keyed aggregates: the
    (source, shingle) stream dedups map-side into a shingle-keyed
    source-count, then a source-keyed rollup. The shingle is hashed to
    a 60-bit int before the exchanges (int64 pairs on the wire, not
    multi-word strings; same md5 keys both engines' aggregates, and a
    merging collision in 2^60 is negligible at any cluster-sized
    corpus) -- and the doc-grain hashed-shingle frame is MATERIALIZED
    before the explode: Spark's Generate re-inlines the staged shingle
    lambdas and re-evaluates them per generated row otherwise
    (measured end-to-end at sf0.1: 10.3 s lazy vs 1.5 s with the
    superstep -- the same trap winnowing_neardup_pairs documents)."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    staged = _superstep(
        docs.repartition(par)
        .select("source", tokens(F.col("text")).alias("toks"),
                norm_text(F.col("text")).alias("norm"))
        .select("source", shingles(F.col("toks"), F.col("norm")).alias("sha"))
        .select(
            "source",
            F.transform(F.col("sha"), lambda s: md5_int60(s)).alias("hs"),
        ),
        eager=True,
    )
    sh = staged.select("source", F.explode("hs").alias("sh")).distinct()
    df = sh.groupBy("sh").agg(
        F.count("*").alias("n_sources")
    )
    exclusive = F.sum(
        F.when(F.col("n_sources") == 1, 1).otherwise(0)
    ).cast("long")
    return _finalize(spark, (
        sh.join(df, "sh")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_shingles"),
            exclusive.alias("n_exclusive"),
            dround(
                exclusive.cast("double") / F.count("*"), 4
            ).alias("novelty"),
        )
        .orderBy("source")
    ))


# ---------------------------------------------------------------------------
# Train/test split leakage scan (near-dup pairs crossing the split)
# ---------------------------------------------------------------------------

_LEAK_TEST_MOD = 10  # hash-split: 1/10 of docs held out as test


@query(
    "train_test_leakage_scan",
    oracle=f"""
    WITH split AS (
      SELECT doc_id,
             {md5_int60_sql("concat('split-', CAST(doc_id AS VARCHAR))")}
               % {_LEAK_TEST_MOD} = 0 AS is_test
      FROM documents
    ),
    {_SIG_CTE},
    {_BANDS_CTE},
    {_band_pairs_sql('cand')},
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
    cross_pairs AS MATERIALIZED (
      SELECT p.doc_a, p.doc_b, ta.is_test AS test_a,
             CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
               / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
               >= {_JACCARD_THRESHOLD} AS near_dup
      FROM cand p
      JOIN split ta ON p.doc_a = ta.doc_id
      JOIN split tb ON p.doc_b = tb.doc_id
      JOIN sh sa ON p.doc_a = sa.doc_id
      JOIN sh sb ON p.doc_b = sb.doc_id
      WHERE ta.is_test <> tb.is_test
    ),
    leaked AS (
      SELECT DISTINCT CASE WHEN test_a THEN doc_a ELSE doc_b END AS t
      FROM cross_pairs WHERE near_dup
    )
    SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
           (SELECT COUNT(*) FROM split WHERE is_test) AS n_test_docs,
           (SELECT COUNT(*) FROM cross_pairs) AS cross_candidates,
           (SELECT CAST(COALESCE(SUM(CASE WHEN near_dup THEN 1 ELSE 0 END),
                                 0) AS BIGINT)
            FROM cross_pairs) AS leaking_pairs,
           (SELECT COUNT(*) FROM leaked) AS leaked_test_docs,
           {dround_sql(
               "(SELECT COUNT(*) FROM leaked)"
               " / NULLIF((SELECT COUNT(*) FROM split WHERE is_test), 0)",
               6)} AS leakage_rate
    """,
    tags=("llm-dedup", "llm-sampling"),
)
def train_test_leakage_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: hash-split the corpus 90/10 (deterministic
    md5 draw, the uniform_hash_sample idiom) and count MinHash near-dup
    pairs whose endpoints land on OPPOSITE sides -- the eval-integrity
    check every training pipeline runs before trusting held-out
    numbers, because exact-dedup alone misses near-duplicates and a
    test doc with a train near-twin is a leaked answer. Reports the
    one-row accounting: corpus/test sizes, cross-split candidate and
    verified pair counts, distinct leaked test docs, and the leakage
    rate.

    Shape at scale: the pair stream is the SAME exactly-once
    band-bucketed join as every LSH op (_lsh_candidate_pairs -- no new
    quadratic surface); split flags are one boolean per doc attached by
    key to the bounded pair set; the report is three one-row aggregates
    combined by broadcast cross join (all scalars stay IN-PLAN, the
    lazy-scalar rule). The remediation twin is decontamination_scan:
    this op MEASURES leakage, that one removes probe contamination."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par, "doc_id")
    is_test = (
        md5_int60(F.concat(F.lit("split-"), F.col("doc_id").cast("string")))
        % _LEAK_TEST_MOD
        == 0
    )
    split = docs.select("doc_id", is_test.alias("is_test"))
    vp = _minhash_verified_pairs(docs, par)
    ta = split.select(
        F.col("doc_id").alias("doc_a"), F.col("is_test").alias("test_a")
    )
    tb = split.select(
        F.col("doc_id").alias("doc_b"), F.col("is_test").alias("test_b")
    )
    cross = (
        vp.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(F.col("test_a") != F.col("test_b"))
    )
    leaked = (
        cross.filter(F.col("near_dup"))
        .select(
            F.when(F.col("test_a"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("t")
        )
        .distinct()
        .agg(F.count("*").alias("leaked_test_docs"))
    )
    totals = split.agg(
        F.count("*").alias("n_docs"),
        F.count(F.when(F.col("is_test"), 1)).alias("n_test_docs"),
    )
    cross_stats = cross.agg(
        F.count("*").alias("cross_candidates"),
        F.count(F.when(F.col("near_dup"), 1)).alias("leaking_pairs"),
    )
    return (
        totals.crossJoin(F.broadcast(cross_stats))
        .crossJoin(F.broadcast(leaked))
        .select(
            "n_docs",
            "n_test_docs",
            "cross_candidates",
            "leaking_pairs",
            "leaked_test_docs",
            dround(
                F.col("leaked_test_docs")
                / F.nullif(F.col("n_test_docs"), F.lit(0)),
                6,
            ).alias("leakage_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document nearest near-dup (argmax over the LSH candidate stream)
# ---------------------------------------------------------------------------

@query(
    "nearest_neardup_doc",
    oracle=f"""
    WITH {_SIG_CTE},
    {_BANDS_CTE},
    {_band_pairs_sql('pairs')},
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
    scored AS MATERIALIZED (
      SELECT p.doc_a, p.doc_b,
             {dround_sql(
                 'CAST(len(list_intersect(sa.shingles, sb.shingles))'
                 ' AS DOUBLE)'
                 ' / len(list_distinct(list_concat(sa.shingles,'
                 ' sb.shingles)))',
                 4,
             )} AS jaccard,
             (CAST(len(list_intersect(sa.shingles, sb.shingles))
                   AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles,
                    sb.shingles))))
               >= {_JACCARD_THRESHOLD} AS near_dup
      FROM pairs p
      JOIN sh sa ON p.doc_a = sa.doc_id
      JOIN sh sb ON p.doc_b = sb.doc_id
    ),
    sym AS (
      SELECT doc_a AS doc_id, doc_b AS partner, jaccard, near_dup
      FROM scored
      UNION ALL
      SELECT doc_b AS doc_id, doc_a AS partner, jaccard, near_dup
      FROM scored
    )
    SELECT doc_id, partner AS nearest_doc, jaccard, near_dup
    FROM sym
    QUALIFY row_number() OVER (PARTITION BY doc_id
              ORDER BY jaccard DESC, partner DESC) = 1
    ORDER BY doc_id
    """,
    tags=("llm-dedup",),
)
def nearest_neardup_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document nearest near-duplicate: for every doc that has at
    least one LSH candidate, its highest-Jaccard partner -- the triage
    view a dedup reviewer reads (each row answers "what is this doc's
    closest twin and is it over the dedup threshold?"), and the
    doc-level reduction of the pair stream the removal plan consumes.

    Shape at scale: the pair stream is the shared exactly-once
    band-bucketed join (never all-pairs); the per-doc argmax is a
    partial-aggregable struct-max over the symmetrized bounded pair
    set -- a (jaccard, partner) lexicographic MAX with map-side
    combine, NOT a corpus-wide rank window. The struct-max tie rule
    (equal jaccard -> larger partner id) is mirrored by the oracle's
    ORDER BY jaccard DESC, partner DESC; jaccard snaps to 4 decimals
    BEFORE the argmax so both engines break ties on identical keys.
    near_dup carries the pair stream's RAW-ratio flag (vp.near_dup, the
    same classification every sibling LSH op reports) -- NOT a
    re-comparison of the snapped display value, so a raw ratio in
    [threshold - 5e-5, threshold) can't flip the flag here alone."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par, "doc_id")
    # doc_a, doc_b, jaccard (4dp display), near_dup (raw-ratio flag)
    vp = _minhash_verified_pairs(docs, par)
    sym = vp.select(
        F.col("doc_a").alias("doc_id"),
        F.col("doc_b").alias("partner"),
        "jaccard",
        "near_dup",
    ).unionByName(
        vp.select(
            F.col("doc_b").alias("doc_id"),
            F.col("doc_a").alias("partner"),
            "jaccard",
            "near_dup",
        )
    )
    # (jaccard, partner) is unique per doc_id (distinct pairs), so the
    # trailing near_dup never participates in the lexicographic max --
    # it just rides along with the winning pair.
    best = F.max(
        F.struct(F.col("jaccard"), F.col("partner"), F.col("near_dup"))
    ).alias("b")
    return (
        sym.groupBy("doc_id")
        .agg(best)
        .select(
            "doc_id",
            F.col("b.partner").alias("nearest_doc"),
            F.col("b.jaccard").alias("jaccard"),
            F.col("b.near_dup").alias("near_dup"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Leakage-safe split assignment (the constructive twin of the leakage scan)
# ---------------------------------------------------------------------------

_SPLIT_MOD10 = 10  # 8/1/1 train/val/test


def _split_col(key: Column) -> Column:
    """Deterministic 80/10/10 split from a string key: the same md5-draw
    idiom as uniform_hash_sample, so assignment is reproducible with no
    RNG state and no shuffle."""
    d = md5_int60(F.concat(F.lit("split-"), key)) % _SPLIT_MOD10
    return (
        F.when(d < 8, F.lit("train"))
        .when(d == 8, F.lit("val"))
        .otherwise(F.lit("test"))
    )


def _split_sql(expr: str) -> str:
    h = md5_int60_sql(f"concat('split-', {expr})")
    return (
        f"CASE WHEN {h} % {_SPLIT_MOD10} < 8 THEN 'train' "
        f"WHEN {h} % {_SPLIT_MOD10} = 8 THEN 'val' ELSE 'test' END"
    )


@query(
    "leakage_safe_split_stats",
    oracle=f"""
    WITH g AS MATERIALIZED (
      SELECT doc_id, text,
             MIN(doc_id) OVER (PARTITION BY md5({_NORM})) AS rep_id,
             row_number() OVER (
               PARTITION BY md5({_NORM}) ORDER BY doc_id) AS rn
      FROM documents
    ),
    reps AS MATERIALIZED (SELECT doc_id, text FROM g WHERE rn = 1),
    {_REP_LABELS_CTES},
    tagged AS MATERIALIZED (
      SELECT g.doc_id,
             COALESCE(l.label, g.rep_id) AS cluster_id,
             {_split_sql('CAST(COALESCE(l.label, g.rep_id) AS VARCHAR)')}
               AS split,
             {_split_sql('CAST(g.doc_id AS VARCHAR)')} AS naive_split
      FROM g LEFT JOIN l{_CC_ROUNDS} l ON g.rep_id = l.doc_id
    ),
    straddle AS (
      SELECT CAST(SUM(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS clusters_straddling,
             CAST(SUM(CASE WHEN nn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS naive_clusters_straddling
      FROM (
        SELECT cluster_id,
               COUNT(DISTINCT split) AS ns,
               COUNT(DISTINCT naive_split) AS nn
        FROM tagged GROUP BY cluster_id
      )
    ),
    conv AS (
      SELECT CAST(COALESCE(SUM(
               CASE WHEN a.label <> b.label THEN 1 ELSE 0 END), 0)
               AS BIGINT) AS propagation_label_changes
      FROM l{_CC_ROUNDS} a JOIN l{_CC_ROUNDS - 1} b USING (doc_id)
    )
    SELECT t.split,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT t.cluster_id) AS n_clusters,
           s.clusters_straddling,
           s.naive_clusters_straddling,
           c.propagation_label_changes
    FROM tagged t, straddle s, conv c
    GROUP BY t.split, s.clusters_straddling, s.naive_clusters_straddling,
             c.propagation_label_changes
    ORDER BY t.split
    """,
    tags=("llm-dedup", "llm-sampling"),
)
@_scoped
def leakage_safe_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-safe train/val/test assignment -- the CONSTRUCTIVE twin of
    train_test_leakage_scan (that op measures leakage after the fact;
    this one prevents it structurally): the 80/10/10 split hash is
    drawn from the doc's DUPLICATE-CLUSTER id (connected component
    over the verified near-dup graph, exact-dup groups collapsed
    first -- the same cascade core as dedup_cluster_sizes), never from
    the doc id, so a near-dup clique lands whole in exactly one split
    PROVIDED label propagation converged -- i.e. _CC_ROUNDS covers the
    dup-graph diameter (r13 ADVICE: an under-converged component
    splits into multiple labels, and near-dup docs can then land in
    different splits while clusters_straddling still reads 0, because
    the straddle audit is keyed on the very labels that
    under-propagated). That is why the op emits its own in-band
    convergence indicator: propagation_label_changes counts reps whose
    label still changed in the FINAL propagation round (0 = fixpoint
    reached, the straddle-0 invariant holds unconditionally; >0 =
    under-propagation, re-run with more rounds before trusting the
    split). Alongside it, the two audit columns a pipeline alerts on:
    clusters_straddling under the cluster-keyed split (structurally 0
    whenever the indicator reads 0) and naive_clusters_straddling
    under a doc-keyed split of the same corpus (>0 whenever multi-doc
    clusters exist -- the leakage a naive split would have shipped).

    Shape at scale: one fp-keyed window pass over the corpus, the
    bounded rep-graph LSH + propagation (cost tracks DISTINCT docs, the
    cascade discipline), then pure projections -- split tags are
    content-hash functions, so assignment needs no state, no shuffle,
    and is reproducible across reruns and cluster sizes. The straddle
    audit and the per-split stats both derive from ONE corpus pass to
    the (cluster_id, split) grain (r20: the old shape re-ran the fp
    window under three consumers), never a multi-distinct Expand over
    the corpus (the Q21 lesson, relational.py); the convergence
    indicator is a keyed join of the last two (doc_id, label) frames --
    both already materialized by the propagation superstep, so it
    costs one rep-sized join, never a corpus pass."""
    grouped, reps, labels, prev = _cascade_rep_labels(
        spark, sf_dir, with_prev=True
    )
    from pyspark.sql import Window

    rep_id = F.min("doc_id").over(Window.partitionBy("fp"))
    doc_rep = grouped.select("doc_id", rep_id.alias("rep_id"))
    lab = labels.select(
        F.col("doc_id").alias("rep_id"), F.col("label").alias("label")
    )
    cluster_id = F.coalesce("label", "rep_id")
    tagged = (
        doc_rep.join(lab, "rep_id", "left")
        .select(
            "doc_id",
            cluster_id.alias("cluster_id"),
            _split_col(cluster_id.cast("string")).alias("split"),
            _split_col(F.col("doc_id").cast("string")).alias("naive_split"),
        )
    )
    # Single-pass straddle audit + fused stats assembly (r20; r19
    # VERDICT item 1). The old shape re-ran the corpus-wide fp window +
    # rep join under THREE consumers (ns, nn, the per-split groupBy) and
    # joined ns with nn -- 45 jobs, most of them tiny AQE assembly.
    # Instead aggregate the corpus ONCE to the (cluster_id, split)
    # grain; everything downstream is cluster-count-sized:
    # - ns (= COUNT(DISTINCT split) per cluster) is the row count per
    #   cluster at this grain, exactly;
    # - nn (= COUNT(DISTINCT naive_split) per cluster) is the distinct
    #   union of the per-(cluster, split) naive_split sets, exactly
    #   (set-of-sets distinct == distinct over the doc rows);
    # - per-split n_docs / n_clusters are SUM(c_docs) /
    #   COUNT(DISTINCT cluster_id) over the same grain.
    # two consumers (straddle + per-split stats); materialize once
    lvl1 = _superstep(
        tagged.groupBy("cluster_id", "split")
        .agg(
            F.count("*").alias("c_docs"),
            F.collect_set("naive_split").alias("nset"),
        )
    )
    straddle = (
        lvl1.groupBy("cluster_id")
        .agg(
            F.count("*").alias("ns"),
            F.size(
                F.array_distinct(F.flatten(F.collect_list("nset")))
            ).alias("nn"),
        )
        .agg(
            F.sum((F.col("ns") > 1).cast("long")).alias(
                "clusters_straddling"
            ),
            F.sum((F.col("nn") > 1).cast("long")).alias(
                "naive_clusters_straddling"
            ),
        )
    )
    conv = (
        labels.join(
            prev.select(
                "doc_id", F.col("label").alias("prev_label")
            ),
            "doc_id",
        )
        .agg(
            F.coalesce(
                F.sum(
                    (F.col("label") != F.col("prev_label")).cast("long")
                ),
                F.lit(0).cast("long"),
            ).alias("propagation_label_changes")
        )
    )
    return _finalize(spark, (
        lvl1.groupBy("split")
        .agg(
            F.sum("c_docs").alias("n_docs"),
            F.countDistinct("cluster_id").alias("n_clusters"),
        )
        # one broadcast of the fused 1-row audit frame, not two
        .crossJoin(F.broadcast(straddle.crossJoin(conv)))
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "clusters_straddling",
            "naive_clusters_straddling",
            "propagation_label_changes",
        )
        .orderBy("split")
    ))


# ---------------------------------------------------------------------------
# Cross-source duplication matrix (who duplicates whom)
# ---------------------------------------------------------------------------

@query(
    "cross_source_dup_matrix",
    oracle=f"""
    WITH {_SIG_CTE},
    {_BANDS_CTE},
    {_band_pairs_sql('pairs')},
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
    scored AS (
      SELECT p.doc_a, p.doc_b,
             (CAST(len(list_intersect(sa.shingles, sb.shingles))
                   AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles))))
               >= {_JACCARD_THRESHOLD} AS near_dup
      FROM pairs p
      JOIN sh sa ON p.doc_a = sa.doc_id
      JOIN sh sb ON p.doc_b = sb.doc_id
    ),
    srcs AS (SELECT doc_id, source FROM documents)
    SELECT LEAST(sa.source, sb.source) AS source_a,
           GREATEST(sa.source, sb.source) AS source_b,
           COUNT(*) AS candidate_pairs,
           CAST(SUM(CASE WHEN near_dup THEN 1 ELSE 0 END) AS BIGINT)
             AS near_dup_pairs,
           {dround_sql(
               'SUM(CASE WHEN near_dup THEN 1 ELSE 0 END)'
               ' / CAST(COUNT(*) AS DOUBLE)', 4)} AS near_dup_rate
    FROM scored p
    JOIN srcs sa ON p.doc_a = sa.doc_id
    JOIN srcs sb ON p.doc_b = sb.doc_id
    GROUP BY 1, 2
    ORDER BY source_a, source_b
    """,
    tags=("llm-dedup",),
)
def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair duplication matrix: verified near-dup pairs grouped by
    the UNORDERED pair of their endpoints' sources (LEAST/GREATEST
    canonicalization, so web-wiki and wiki-web are one cell). The view a
    corpus owner reads to decide where dedup budget goes and which
    ingest duplicates which -- per-source totals (dedup_exact_stats)
    can't show that a source's duplicates live in ANOTHER source.

    Shape at scale: rides the exactly-once band-bucketed LSH pair
    stream (_minhash_verified_pairs -- no new quadratic surface), two
    keyed source attaches on the bounded pair set, and a group-by over
    at most |sources|^2/2 cells."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par, "doc_id")
    vp = _minhash_verified_pairs(docs, par)
    srcs = docs.select("doc_id", "source")
    sa = srcs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    sb = srcs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        vp.join(sa, "doc_a")
        .join(sb, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(
            F.count("*").alias("candidate_pairs"),
            F.count(F.when(F.col("near_dup"), 1)).alias("near_dup_pairs"),
            dround(
                F.sum(F.col("near_dup").cast("long"))
                / F.count("*").cast("double"),
                4,
            ).alias("near_dup_rate"),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Near-dup graph degree histogram (template/hub detection)
# ---------------------------------------------------------------------------

@query(
    "neardup_degree_histogram",
    oracle=f"""
    WITH {_SIG_CTE},
    {_BANDS_CTE},
    {_band_pairs_sql('pairs')},
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS shingles FROM documents),
    edges AS (
      SELECT p.doc_a, p.doc_b
      FROM pairs p
      JOIN sh sa ON p.doc_a = sa.doc_id
      JOIN sh sb ON p.doc_b = sb.doc_id
      WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
              / len(list_distinct(list_concat(sa.shingles, sb.shingles)))
            >= {_JACCARD_THRESHOLD}
    ),
    sym AS (
      SELECT doc_a AS doc_id FROM edges
      UNION ALL SELECT doc_b AS doc_id FROM edges
    ),
    deg AS (SELECT doc_id, COUNT(*) AS degree FROM sym GROUP BY doc_id),
    alldeg AS (
      SELECT d.doc_id, COALESCE(g.degree, 0) AS degree
      FROM documents d LEFT JOIN deg g USING (doc_id)
    )
    SELECT degree,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM alldeg
    GROUP BY degree
    ORDER BY degree
    """,
    tags=("llm-dedup",),
)
def neardup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the verified near-dup graph -- the hub
    detector: a doc near-duplicating MANY others is a template or
    boilerplate shell (the line-level boilerplate signal, recovered at
    doc grain), and the histogram's tail is where a curation pass looks
    first. Degree 0 rows keep the never-matched mass visible, so the
    histogram always sums to the corpus. Complements
    dedup_cluster_sizes (components say HOW BIG the groups are; degree
    says WHO is doing the duplicating -- a chain of 5 docs and a
    5-doc star have the same component but opposite hub structure).

    Shape at scale: the same exactly-once band-bucketed pair stream as
    every LSH op, one doc-keyed count, one left join back to the corpus
    (doc-keyed), and a histogram over at most max-degree rows."""
    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents").repartition(par, "doc_id")
    vp = _minhash_verified_pairs(docs, par).filter(F.col("near_dup"))
    sym = vp.select(F.col("doc_a").alias("doc_id")).unionAll(
        vp.select(F.col("doc_b").alias("doc_id"))
    )
    deg = sym.groupBy("doc_id").agg(F.count("*").alias("degree"))
    alldeg = (
        docs.select("doc_id")
        .join(deg, "doc_id", "left")
        .select("doc_id", F.coalesce("degree", F.lit(0)).alias("degree"))
    )
    return (
        alldeg.groupBy("degree")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# Soft dedup: duplicate-count down-weighting instead of removal
# ---------------------------------------------------------------------------

@query(
    "soft_dedup_weights_stats",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, source, n_chars,
             COUNT(*) OVER (PARTITION BY md5({_NORM})) AS grp_n
      FROM documents
    )
    SELECT source,
           COUNT(*) AS docs,
           CAST(SUM(CASE WHEN grp_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_docs,
           {dsum_sql('1.0 / grp_n')} AS effective_docs,
           CAST(SUM(n_chars) AS BIGINT) AS chars_total,
           {dsum_sql('CAST(n_chars AS DOUBLE) / grp_n')}
             AS effective_chars,
           {dround_sql(
               dsum_sql('CAST(n_chars AS DOUBLE) / grp_n')
               + ' / CAST(SUM(n_chars) AS DOUBLE)', 4
           )} AS char_retention
    FROM g
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm-dedup", "llm-sampling"),
)
def soft_dedup_weights_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SOFT dedup: weight every document by 1/n where n is its exact
    duplicate-group size, instead of dropping n-1 copies -- repeated
    content contributes ONE document's worth of training signal spread
    over its copies. Removal changes the epoch-order and sharding of
    everything downstream; down-weighting composes with any sampler
    (feed effective_docs/effective_chars into corpus_mixture_weights'
    per-source budgets) and never risks dropping the one copy whose
    context was better. Emits the per-source weighting audit: raw vs
    effective doc and char masses, and char_retention = the fraction
    of the source's raw characters that survives as training signal
    (1.0 = duplicate-free).

    Shape at scale: one window keyed by the canonical md5 fingerprint
    (uniform key, no skew) computes group sizes WITHOUT collapsing
    rows -- same single-shuffle cost class as dedup_exact_stats'
    groupBy, then one hash re-aggregation by source. Never
    materializes pairs; weights are exact decimal-snapped sums so the
    per-source masses are engine-exact."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w_fp = Window.partitionBy(F.md5(norm_text(F.col("text"))))
    g = docs.select(
        "source",
        "n_chars",
        F.count("*").over(w_fp).alias("grp_n"),
    )
    return (
        g.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.sum(F.when(F.col("grp_n") > 1, 1).otherwise(0))
            .cast("long")
            .alias("dup_docs"),
            dsum(F.lit(1.0) / F.col("grp_n"), "effective_docs"),
            F.sum("n_chars").alias("chars_total"),
            dsum(
                F.col("n_chars").cast("double") / F.col("grp_n"),
                "effective_chars",
            ),
        )
        .select(
            "source",
            "docs",
            "dup_docs",
            "effective_docs",
            "chars_total",
            "effective_chars",
            dround(
                F.col("effective_chars")
                / F.col("chars_total").cast("double"),
                4,
            ).alias("char_retention"),
        )
        .orderBy("source")
    )
