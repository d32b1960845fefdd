"""Flagship composite: the training-data curation pipeline.

Chains the LLM-pipeline stages end-to-end the way a real 100 TB corpus
build would -- quality filter -> exact dedup (keep first) -> join to the
multimodal asset catalog -> per-(media_type, lang) accounting -- all as
ONE declarative plan Catalyst optimizes globally (filter pushdown through
the window, payload column never read, media metadata derived in a
projection).

Scale shape: the only shuffles are the dedup window (keyed by content
fingerprint -- uniform) and the final low-cardinality rollup; the media
join is key-to-key on doc_id with no payload movement.
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
    norm_text,
    norm_text_sql,
    tokens,
    tokens_sql,
)
from ..sources.multimodal import MEDIA_SQL, gen_media
from ..sources.parquet import load_table, load_table_wide
from .registry import query
from .sampling import (
    _MIX_SAMPLED_SQL,
    _PACK_SHARD_SQL,
    _mix_sampled,
    _pack_shard,
)
from .text import (
    _PUNCT_RATIO_SQL,
    _STOPWORD_RATIO_SQL,
    _punct_ratio,
    _quality_keep,
    _quality_keep_sql,
    _stopword_ratio,
)

_NORM = norm_text_sql("text")
_TOKS = tokens_sql("text")


@query(
    "curation_pipeline",
    oracle=f"""
    WITH kept AS (
      SELECT doc_id, lang, text, len({_TOKS}) AS n_tokens FROM documents
      WHERE {_quality_keep_sql(f"len({_TOKS})", _PUNCT_RATIO_SQL)}
    ),
    deduped AS (
      SELECT doc_id, lang, n_tokens FROM kept
      QUALIFY row_number() OVER (
        PARTITION BY md5({_NORM}) ORDER BY doc_id) = 1
    )
    SELECT m.media_type, d.lang,
           COUNT(*) AS docs,
           {dsum_sql('d.n_tokens')} AS total_tokens,
           CAST(SUM(m.n_bytes) AS BIGINT) AS media_bytes
    FROM deduped d JOIN ({MEDIA_SQL}) m ON d.doc_id = m.doc_id
    GROUP BY m.media_type, d.lang
    ORDER BY m.media_type, d.lang
    """,
    tags=("llm-text", "llm-dedup", "multimodal"),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter -> exact-dedup -> media-metadata join -> rollup,
    as one plan. The media payload column is pruned (metadata only);
    the quality filter runs before the dedup shuffle so dropped docs
    never shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(tokens(F.col("text")))
    kept = docs.filter(_quality_keep(n_tokens, _punct_ratio())).select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        F.md5(norm_text(F.col("text"))).alias("fp"),
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    deduped = (
        kept.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "n_tokens")
    )
    media = gen_media(spark, sf_dir).select(
        "doc_id", "media_type", F.col("meta.n_bytes").alias("n_bytes")
    )
    return (
        deduped.join(media, "doc_id")
        .groupBy("media_type", "lang")
        .agg(
            F.count("*").alias("docs"),
            dsum("n_tokens", "total_tokens"),
            F.sum("n_bytes").alias("media_bytes"),
        )
        .orderBy("media_type", "lang")
    )


# ---------------------------------------------------------------------------
# Document chunking (fixed token windows with overlap)
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 64
_CHUNK_STRIDE = 48  # 16-token overlap


@query(
    "document_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    )
    SELECT doc_id,
           CAST(c AS INT) AS chunk_index,
           CAST(LEAST(len(toks) - c * {_CHUNK_STRIDE}, {_CHUNK_TOKENS}) AS INT)
             AS chunk_tokens,
           array_to_string(
             toks[c * {_CHUNK_STRIDE} + 1 : c * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}],
             ' ') AS chunk_text
    FROM t, LATERAL unnest(
      range(0, GREATEST((len(toks) - {_CHUNK_TOKENS} + {_CHUNK_STRIDE} - 1)
                          // {_CHUNK_STRIDE}, 0) + 1)) AS u(c)
    WHERE len(toks) > 0
    """,
    tags=("llm-text",),
)
def document_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-window chunking with overlap (64-token windows, stride 48):
    the context-window packing step of a training pipeline. Pure per-row
    explode -- chunk count is derived arithmetic, chunks never shuffle,
    and output order is irrelevant (driver hash is order-insensitive)."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    n = F.size("toks")
    n_chunks = F.greatest(
        F.ceil((n - _CHUNK_TOKENS) / F.lit(_CHUNK_STRIDE)).cast("long"),
        F.lit(0),
    ) + 1
    return t.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_index"),
        "toks",
    ).select(
        "doc_id",
        F.col("chunk_index").cast("int"),
        F.least(
            F.size("toks") - F.col("chunk_index") * _CHUNK_STRIDE,
            F.lit(_CHUNK_TOKENS),
        ).cast("int").alias("chunk_tokens"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("toks"),
                F.col("chunk_index") * _CHUNK_STRIDE + 1,
                _CHUNK_TOKENS,
            ),
        ).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Training-shard assignment (hash-balanced output layout)
# ---------------------------------------------------------------------------

_N_SHARDS = 16


@query(
    "shard_assignment_stats",
    oracle=f"""
    SELECT CAST({md5_int60_sql("concat('shard-', CAST(doc_id AS VARCHAR))")}
                % {_N_SHARDS} AS INT) AS shard,
           COUNT(*) AS docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           COUNT(DISTINCT lang) AS langs
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("llm-text", "O5"),
)
def shard_assignment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-sharding of the corpus into _N_SHARDS (16)
    balanced training shards (what partitionBy(shard) writes at 100 TB):
    per-shard
    doc/char/lang accounting proves the balance. Hash is md5-derived so
    assignment is stable across engines, runs, and cluster topologies."""
    from ..functions import md5_int60

    docs = load_table(spark, sf_dir, "documents")
    shard = (
        md5_int60(F.concat(F.lit("shard-"), F.col("doc_id").cast("string")))
        % _N_SHARDS
    ).cast("int")
    return (
        docs.groupBy(shard.alias("shard"))
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("langs"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (probe n-gram containment scan)
# ---------------------------------------------------------------------------

# The probe set and its shingle hash, one Spark function and one DuckDB
# twin each: the first _PROBE_TOKENS tokens of docs 0.._N_PROBES-1 stand
# in for a benchmark suite, hashed like every corpus shingle.
# decontamination_scan, doc_contamination_fraction and
# corpus_build_pipeline all compose these.
_N_PROBES = 5
_PROBE_TOKENS = 6


def _shingle_hash(toks: Column, start: Column | int) -> Column:
    """md5_int60 of the _PROBE_TOKENS-token run of ``toks`` starting at
    1-based ``start``."""
    return md5_int60(F.concat_ws(" ", F.slice(toks, start, _PROBE_TOKENS)))


def _shingle_hash_sql(toks: str, start: str) -> str:
    """DuckDB twin of :func:`_shingle_hash`."""
    return md5_int60_sql(
        f"array_to_string({toks}[{start}:{start} + {_PROBE_TOKENS - 1}], ' ')"
    )


def _probes(docs: DataFrame) -> DataFrame:
    """(probe_id, h): the probe set's shingle hashes."""
    return (
        docs.filter(F.col("doc_id") < _N_PROBES)
        # materialize tokens once before slicing/hashing (higher-order-fn
        # re-evaluation trap)
        .select(
            F.col("doc_id").alias("probe_id"),
            tokens(F.col("text")).alias("t"),
        )
        .filter(F.size("t") >= _PROBE_TOKENS)
        .select("probe_id", _shingle_hash(F.col("t"), 1).alias("h"))
    )


_PROBES_SQL = (
    f"SELECT doc_id AS probe_id, {_shingle_hash_sql(f'({_TOKS})', '1')} AS h"
    f" FROM documents"
    f" WHERE doc_id < {_N_PROBES} AND len({_TOKS}) >= {_PROBE_TOKENS}"
)


@query(
    "decontamination_scan",
    oracle=f"""
    WITH probes AS ({_PROBES_SQL}),
    toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
    shingles AS (
      SELECT doc_id, {_shingle_hash_sql("t", "i")} AS h
      FROM toks,
           UNNEST(generate_series(1, len(t) - {_PROBE_TOKENS - 1})) AS g(i)
      WHERE len(t) >= {_PROBE_TOKENS}
    )
    SELECT p.probe_id,
           COUNT(DISTINCT s.doc_id) AS contaminated_docs,
           COUNT(DISTINCT CASE WHEN s.doc_id <> p.probe_id
                               THEN s.doc_id END) AS excluding_self
    FROM probes p JOIN shingles s USING (h)
    GROUP BY p.probe_id
    ORDER BY p.probe_id
    """,
    tags=("llm-text", "llm-dedup"),
)
def decontamination_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination as a shingle-hash EQUI-join (here: the
    first 6 tokens of docs 0-4 stand in for a benchmark's probe set).

    Each corpus doc explodes into its consecutive 6-token shingle hashes
    (one pass, no shuffle); the probe hashes are tiny and BROADCAST, so
    matching is a map-side hash lookup per shingle and the only shuffle
    is the final per-probe rollup. Unlike a contains() theta-join
    (O(corpus x probes) predicate evaluations), this stays linear in
    corpus size with 10^4-10^5 probes -- the shape that decontaminates
    100 TB against a full benchmark suite in one job. Matches are
    token-aligned (a probe only hits where its tokens appear as a
    contiguous token run, not mid-token substrings)."""
    # widened when split-starved (r19,
    # sources.parquet.widen_split_starved): the tokenize+shingle
    # chain otherwise runs on the fixture single scan task; no-op
    # on production layouts (splits >= cores)
    docs = load_table_wide(spark, sf_dir, "documents", "doc_id")
    shingles = (
        docs.select("doc_id", tokens(F.col("text")).alias("t"))
        .filter(F.size("t") >= _PROBE_TOKENS)
        .select(
            "doc_id",
            "t",
            F.explode(
                F.sequence(F.lit(1), F.size("t") - (_PROBE_TOKENS - 1))
            ).alias("i"),
        )
        .select("doc_id", _shingle_hash(F.col("t"), F.col("i")).alias("h"))
    )
    return (
        shingles.join(F.broadcast(_probes(docs)), "h")
        .groupBy("probe_id")
        .agg(
            F.countDistinct("doc_id").alias("contaminated_docs"),
            F.countDistinct(
                F.when(F.col("doc_id") != F.col("probe_id"), F.col("doc_id"))
            ).alias("excluding_self"),
        )
        .orderBy("probe_id")
    )


# ---------------------------------------------------------------------------
# Flagship: end-to-end corpus build as ONE Catalyst plan
# ---------------------------------------------------------------------------

_SEQ_BUDGET = 2048

# DuckDB's range() is end-exclusive, Spark's sequence() is inclusive --
# both enumerate shingle start positions 1 .. n_toks - (_PROBE_TOKENS - 1).
_DOC_SHINGLES_SQL = (
    f"list_transform(range(1, n_toks - {_PROBE_TOKENS - 2}),"
    f" i -> {_shingle_hash_sql('toks', 'i')})"
)


@query(
    "corpus_build_pipeline",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang, text, {_TOKS} AS toks, len({_TOKS}) AS n_toks
      FROM documents
      WHERE {_quality_keep_sql(f"len({_TOKS})", _PUNCT_RATIO_SQL)}
    ),
    probes AS (SELECT list(h) AS ph FROM ({_PROBES_SQL})),
    flagged AS (
      SELECT doc_id, lang, n_toks,
             row_number() OVER (
               PARTITION BY md5({_NORM}) ORDER BY doc_id) = 1 AS is_rep,
             CASE WHEN n_toks >= {_PROBE_TOKENS} THEN
               len(list_intersect({_DOC_SHINGLES_SQL}, ph)) > 0
             ELSE FALSE END AS contaminated,
             {_MIX_SAMPLED_SQL} AS sampled,
             {_PACK_SHARD_SQL} AS shard
      FROM q CROSS JOIN probes
    ),
    kept AS (
      SELECT *, is_rep AND NOT contaminated AND sampled AS final_kept
      FROM flagged
    )
    SELECT shard,
           COUNT(*) AS quality_docs,
           CAST(SUM(CASE WHEN is_rep THEN 1 ELSE 0 END) AS BIGINT)
             AS representatives,
           CAST(SUM(CASE WHEN is_rep AND contaminated THEN 1 ELSE 0 END)
                AS BIGINT) AS contaminated_docs,
           CAST(SUM(CASE WHEN final_kept THEN 1 ELSE 0 END) AS BIGINT)
             AS sampled_docs,
           CAST(SUM(CASE WHEN final_kept THEN n_toks ELSE 0 END) AS BIGINT)
             AS packed_tokens,
           CAST((SUM(CASE WHEN final_kept THEN n_toks ELSE 0 END)
                 + {_SEQ_BUDGET - 1}) // {_SEQ_BUDGET} AS BIGINT)
             AS sequences,
           {dround_sql(
               f'CAST(SUM(CASE WHEN final_kept THEN n_toks ELSE 0 END)'
               f' AS DOUBLE) / (NULLIF((SUM(CASE WHEN final_kept THEN'
               f' n_toks ELSE 0 END) + {_SEQ_BUDGET - 1})'
               f' // {_SEQ_BUDGET}, 0) * {_SEQ_BUDGET})', 4)}
             AS fill_ratio
    FROM kept
    GROUP BY shard
    ORDER BY shard
    """,
    tags=("llm-text", "llm-dedup", "llm-sampling", "multimodal"),
)
def corpus_build_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus build -- quality filter -> exact dedup ->
    benchmark decontamination -> training-mix sampling -> sequence
    packing -- composed as ONE Catalyst plan (the north-star shape: at
    100 TB you run this once, not five jobs with five materializations).

    Physical shape (plan-pinned by tests/test_plans.py):
    - quality drops happen BEFORE any shuffle (rejected docs never move);
    - exact dedup is one window shuffle keyed by the uniform md5
      fingerprint;
    - decontamination is shuffle-free: each doc derives its 6-token
      shingle-hash array in place and probes it against the (tiny,
      broadcast) benchmark shingle set -- a single-row build side, so
      the only join is a broadcast nested loop over ONE row;
    - mix sampling is a per-row deterministic md5 draw (no shuffle);
    - packing is one window shuffle keyed by the output shard, and the
      final per-shard rollup REUSES that partitioning (no extra
      exchange).
    Net: two data shuffles end-to-end for a five-stage pipeline.

    Returns per-shard funnel accounting: docs surviving quality, the
    exact-dedup representatives among them, how many representatives the
    decontamination probes removed, the survivors the training mix
    samples, and the packed-token / sequence / fill-ratio packing stats.
    """
    # NOT widened (r19): interleaved A/B measured the split-starved
    # widen at 1.717 -> 1.897 s here -- this pipeline keeps shingles as
    # arrays (no row explosion), so the single-task chain is cheaper
    # than shuffling the raw text
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n_tokens = F.size(toks)
    quality = docs.filter(_quality_keep(n_tokens, _punct_ratio())).select(
        "doc_id",
        "lang",
        toks.alias("toks"),
        n_tokens.cast("long").alias("n_toks"),
        F.md5(norm_text(F.col("text"))).alias("fp"),
    )

    # Stage 2: exact dedup (keep lowest doc_id per canonical fingerprint).
    w_fp = Window.partitionBy("fp").orderBy("doc_id")
    flagged = quality.withColumn("is_rep", F.row_number().over(w_fp) == 1)

    # Stage 3: decontamination against the probe set (_probes),
    # collapsed to ONE row of hashes and broadcast, so the membership
    # test is a map-side arrays_overlap -- no shuffle, no explosion of
    # corpus shingles into rows.
    probe_row = _probes(docs).agg(F.collect_list("h").alias("probe_hashes"))
    shingles = F.when(
        F.col("n_toks") >= _PROBE_TOKENS,
        F.transform(
            F.sequence(F.lit(1), F.col("n_toks") - (_PROBE_TOKENS - 1)),
            lambda i: _shingle_hash(F.col("toks"), i),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    flagged = flagged.crossJoin(F.broadcast(probe_row)).withColumn(
        "contaminated",
        F.arrays_overlap(shingles, F.col("probe_hashes")),
    )

    # Stage 4: the training-mix draw of training_mix_sample + the
    # stage-5 shard of sequence_packing_stats.
    kept = flagged.select(
        "doc_id",
        "lang",
        "n_toks",
        "is_rep",
        "contaminated",
        _pack_shard().alias("shard"),
        (
            F.col("is_rep") & ~F.col("contaminated") & _mix_sampled()
        ).alias("final_kept"),
    )

    # Stage 5: sequence packing -- concat-and-split consumes EXACTLY
    # ceil(kept_tokens / budget) sequences per shard, computed as that
    # closed form (r15 review: the earlier distinct-starting-bin count
    # undercounted whenever one doc spanned an entire bin), so the
    # packing stage is a plain rollup -- no window needed.
    return (
        kept.groupBy("shard")
        .agg(
            F.count("*").alias("quality_docs"),
            F.sum(F.col("is_rep").cast("long")).alias("representatives"),
            F.sum(
                (F.col("is_rep") & F.col("contaminated")).cast("long")
            ).alias("contaminated_docs"),
            F.sum(F.col("final_kept").cast("long")).alias("sampled_docs"),
            F.sum(
                F.when(F.col("final_kept"), F.col("n_toks")).otherwise(
                    F.lit(0)
                )
            ).cast("long").alias("packed_tokens"),
        )
        .withColumn(
            "sequences",
            F.expr(
                f"(packed_tokens + {_SEQ_BUDGET - 1}) DIV {_SEQ_BUDGET}"
            ),
        )
        .withColumn(
            "fill_ratio",
            dround(
                F.col("packed_tokens").cast("double")
                / (
                    F.nullif(F.col("sequences"), F.lit(0))
                    * F.lit(_SEQ_BUDGET)
                ),
                4,
            ),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# PII detection / redaction accounting
# ---------------------------------------------------------------------------

# Conservative patterns that parse identically under Java regex (Spark)
# and RE2 (DuckDB): no backrefs, no lookaround, explicit classes.
_EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
_PHONE_RE = "[0-9]{3}-[0-9]{4}"

# The synthetic corpus carries no PII, so the op injects deterministic
# fixtures (same expression on both engines): every 7th doc gains an
# email, every 5th a phone number. The injection is part of the query's
# declared semantics -- it exists to give detection/redaction a real,
# oracle-checkable signal, the way the recall eval injects near-dup
# twins.
_PII_INJECT_SQL = """
    concat(text,
           CASE WHEN doc_id % 7 = 0
                THEN concat(' contact user', CAST(doc_id AS VARCHAR),
                            '@example.com')
                ELSE '' END,
           CASE WHEN doc_id % 5 = 0 THEN ' call 555-0142' ELSE '' END)
"""


@query(
    "pii_redaction_stats",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id, source, {_PII_INJECT_SQL} AS text FROM documents
    ),
    hits AS (
      SELECT doc_id, source,
             len(regexp_extract_all(text, '{_EMAIL_RE}')) AS emails,
             len(regexp_extract_all(text, '{_PHONE_RE}')) AS phones,
             length(text)
               - length(regexp_replace(regexp_replace(
                   text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g')) AS chars_redacted
      FROM aug
    )
    SELECT source,
           COUNT(*) AS docs,
           CAST(COUNT(CASE WHEN emails + phones > 0 THEN 1 END) AS BIGINT)
             AS docs_with_pii,
           CAST(SUM(emails) AS BIGINT) AS emails,
           CAST(SUM(phones) AS BIGINT) AS phones,
           CAST(SUM(chars_redacted) AS BIGINT) AS chars_redacted
    FROM hits
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm-text",),
)
def pii_redaction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub accounting per source: detect emails/phone numbers,
    redact them to typed placeholders, and report docs touched, match
    counts, and the redaction's net character delta (negative when the
    placeholder is longer than the match -- the audit number a privacy
    review asks for). Detection, redaction, and the deterministic
    fixture injection are all JVM-side regexp built-ins over one scan
    plus a tiny per-source rollup -- at 100 TB this is the same
    single-pass shape as the quality filters, and the patterns are kept
    to the Java/RE2 common subset so the oracle runs them verbatim."""
    docs = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" call 555-0142")).otherwise(
            F.lit("")
        ),
    )
    aug = docs.select("doc_id", "source", injected.alias("text"))
    emails = F.size(F.regexp_extract_all("text", F.lit(_EMAIL_RE), 0))
    phones = F.size(F.regexp_extract_all("text", F.lit(_PHONE_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    hits = aug.select(
        "source",
        emails.alias("emails"),
        phones.alias("phones"),
        (F.length("text") - F.length(redacted)).alias("chars_redacted"),
    )
    return (
        hits.groupBy("source")
        .agg(
            F.count("*").alias("docs"),
            F.count(
                F.when(F.col("emails") + F.col("phones") > 0, 1)
            ).alias("docs_with_pii"),
            F.sum("emails").cast("long").alias("emails"),
            F.sum("phones").cast("long").alias("phones"),
            F.sum("chars_redacted").cast("long").alias("chars_redacted"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Per-document contamination fraction (the removal side of decontamination)
# ---------------------------------------------------------------------------

@query(
    "doc_contamination_fraction",
    oracle=f"""
    WITH pset AS (SELECT DISTINCT h FROM ({_PROBES_SQL})),
    toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
    base AS (
      SELECT doc_id, source, len(t) - {_PROBE_TOKENS - 1} AS total_shingles
      FROM toks WHERE len(t) >= {_PROBE_TOKENS}
    ),
    sh AS (
      SELECT doc_id, {_shingle_hash_sql("t", "i")} AS h
      FROM toks,
           UNNEST(generate_series(1, len(t) - {_PROBE_TOKENS - 1})) AS g(i)
      WHERE len(t) >= {_PROBE_TOKENS}
    ),
    hits AS (
      SELECT sh.doc_id, COUNT(*) AS hit_shingles
      FROM sh JOIN pset USING (h)
      GROUP BY sh.doc_id
    )
    SELECT b.doc_id, b.source, b.total_shingles,
           COALESCE(h.hit_shingles, 0) AS hit_shingles,
           {dround_sql(
               'CAST(COALESCE(h.hit_shingles, 0) AS DOUBLE)'
               ' / b.total_shingles', 4)} AS contamination_frac,
           COALESCE(h.hit_shingles, 0) > 0 AS contaminated,
           b.doc_id < {_N_PROBES} AS is_probe
    FROM base b LEFT JOIN hits h USING (doc_id)
    ORDER BY b.doc_id
    """,
    tags=("llm-text", "llm-dedup"),
)
def doc_contamination_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL side of benchmark decontamination: decontamination_scan
    reports per-PROBE blast radius; this reports, per CORPUS document,
    what fraction of its {_PROBE_TOKENS}-token shingles hit the probe
    set -- the number a curation pipeline thresholds to drop or flag a
    document before training (exact-match contamination policy, doc
    granularity). Same engine shape as the scan: probe hashes dedup'd
    and BROADCAST, corpus shingles stream map-side past them, the only
    shuffles are the per-doc hit rollup (matched shingles only -- at
    sane contamination rates orders of magnitude below corpus size) and
    the doc_id join-back of those hit counts. total_shingles comes from
    token counts directly, so clean documents never shuffle at all.
    Probe docs themselves surface with is_probe so the policy layer can
    exempt them."""
    # widened when split-starved (r19, see decontamination_scan)
    docs = load_table_wide(spark, sf_dir, "documents", "doc_id")
    tok_frame = docs.select(
        "doc_id", "source", tokens(F.col("text")).alias("t")
    ).filter(F.size("t") >= _PROBE_TOKENS)
    base = tok_frame.select(
        "doc_id",
        "source",
        (F.size("t") - (_PROBE_TOKENS - 1))
        .cast("long")
        .alias("total_shingles"),
    )
    shingles = tok_frame.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("t") - (_PROBE_TOKENS - 1))
        ).alias("i"),
        F.col("t"),
    ).select("doc_id", _shingle_hash(F.col("t"), F.col("i")).alias("h"))
    hits = (
        shingles.join(F.broadcast(_probes(docs).select("h").distinct()), "h")
        .groupBy("doc_id")
        .agg(F.count("*").alias("hit_shingles"))
    )
    return (
        base.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            "total_shingles",
            F.coalesce("hit_shingles", F.lit(0)).alias("hit_shingles"),
            dround(
                F.coalesce("hit_shingles", F.lit(0)).cast("double")
                / F.col("total_shingles"),
                4,
            ).alias("contamination_frac"),
            (F.coalesce("hit_shingles", F.lit(0)) > 0).alias("contaminated"),
            (F.col("doc_id") < _N_PROBES).alias("is_probe"),
        )
        .orderBy("doc_id")
    )


doc_contamination_fraction.__doc__ = doc_contamination_fraction.__doc__.format(
    _PROBE_TOKENS=_PROBE_TOKENS
)


# ---------------------------------------------------------------------------
# Pareto-skyline exemplar selection (quality x length frontier)
# ---------------------------------------------------------------------------

@query(
    "quality_length_pareto",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             CAST(len({_TOKS}) AS BIGINT) AS n_tokens,
             {_STOPWORD_RATIO_SQL} AS stopword_ratio
      FROM documents
      WHERE len({_TOKS}) > 0
    ),
    d AS (
      SELECT stopword_ratio, MAX(n_tokens) AS gm
      FROM t GROUP BY stopword_ratio
    ),
    r AS (
      SELECT stopword_ratio, gm,
             MAX(gm) OVER (ORDER BY stopword_ratio DESC
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS hi
      FROM d
    )
    SELECT t.doc_id, t.lang, t.n_tokens, t.stopword_ratio
    FROM t JOIN r USING (stopword_ratio)
    WHERE (r.hi IS NULL OR r.hi < t.n_tokens) AND t.n_tokens = r.gm
    ORDER BY t.stopword_ratio DESC, t.n_tokens DESC, t.doc_id
    """,
    tags=("llm-text", "llm-sampling"),
)
def quality_length_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto-skyline exemplar selection: the documents not strictly
    dominated on (stopword_ratio, n_tokens) -- no other doc is both
    more function-word-fluent AND longer. The frontier is what an
    exemplar/eval-set picker wants when the quality-vs-length
    trade-off has no single threshold; dominance is on the 4-dp
    snapped ratio, so the frontier itself is engine-exact. Zero-token
    docs are outside the domain (their ratio is undefined).

    Skyline-in-SQL shape (after the Spark-SQL skyline integration
    line of work, PAPERS.md): NOT the O(n^2) dominance self-join --
    a per-ratio-group MAX(n_tokens), a running MAX over strictly
    higher ratios, and a filter. 100 TB: phase 1 prunes each
    partition to its LOCAL skyline with one partition-local window
    (conservative: drops only rows a same-partition row strictly
    dominates; the global frontier always survives), so the exact
    phase-2 pass -- a single-partition window, unavoidable for a
    total dominance order -- sees only the tiny union of local
    frontiers, never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    base = (
        docs.select(
            "doc_id",
            "lang",
            F.size(toks).cast("long").alias("n_tokens"),
            _stopword_ratio(toks).alias("stopword_ratio"),
        )
        .filter(F.col("n_tokens") > 0)
    )
    return (
        pareto_frontier(base)
        .select("doc_id", "lang", "n_tokens", "stopword_ratio")
        .orderBy(
            F.col("stopword_ratio").desc(),
            F.col("n_tokens").desc(),
            "doc_id",
        )
    )


def pareto_frontier(base: DataFrame) -> DataFrame:
    """Strict-Pareto frontier maximizing (stopword_ratio, n_tokens);
    other columns pass through. Two-phase partition-merge skyline —
    the core of quality_length_pareto, split out so tie-heavy crafted
    frames can pin its dominance semantics directly
    (tests/test_scale_techniques.py)."""
    # Phase 1: partition-local conservative prune. In (ratio DESC,
    # tokens DESC) order, a preceding row whose running-max token
    # count strictly exceeds mine dominates me (strictly longer, at
    # least as fluent); rows it merely ties are kept for phase 2.
    w1 = (
        Window.partitionBy(F.spark_partition_id())
        .orderBy(F.col("stopword_ratio").desc(), F.col("n_tokens").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    surv = (
        base.withColumn("pmax", F.max("n_tokens").over(w1))
        .filter(F.col("pmax").isNull() | (F.col("pmax") <= F.col("n_tokens")))
        .drop("pmax")
    )
    # Phase 2: exact skyline of the survivors (== global skyline,
    # since phase 1 only drops dominated rows and strict Pareto
    # dominance is a strict partial order). A LINEAR window chain, not
    # an aggregate-and-join-back (which would plan the base scan
    # twice): gm = per-ratio-group max, dense_rank over ratio DESC,
    # and hi = max token count over rank RANGE (-inf, -1) — exactly
    # the strictly-higher-ratio rows. Dominated iff hi >= t (a
    # strictly more fluent doc at least as long) or t < gm (a same-
    # ratio doc strictly longer). Survivor count is the sum of local-
    # frontier sizes, so the single-partition rank/hi windows run over
    # a frame the cluster size bounds, not the corpus.
    w_gm = Window.partitionBy("stopword_ratio")
    w_rk = Window.orderBy(F.col("stopword_ratio").desc())
    w_hi = Window.orderBy("rk").rangeBetween(Window.unboundedPreceding, -1)
    return (
        surv.withColumn("gm", F.max("n_tokens").over(w_gm))
        .withColumn("rk", F.dense_rank().over(w_rk))
        .withColumn("hi", F.max("n_tokens").over(w_hi))
        .filter(
            (F.col("hi").isNull() | (F.col("hi") < F.col("n_tokens")))
            & (F.col("n_tokens") == F.col("gm"))
        )
        .drop("gm", "rk", "hi")
    )


# ---------------------------------------------------------------------------
# Chunk-level (paragraph-granularity) exact dedup: the boilerplate audit
# ---------------------------------------------------------------------------

# DISJOINT windows (stride == width, unlike document_chunks' overlapped
# retrieval windows): overlapping units would count the same repeated
# span multiple times and inflate the dup rate.
_DEDUP_CHUNK_TOKENS = 64


@query(
    "chunk_dedup_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, {_TOKS} AS toks FROM documents
    ),
    c AS (
      SELECT doc_id, source,
             md5(array_to_string(
               toks[k * {_DEDUP_CHUNK_TOKENS} + 1
                    : k * {_DEDUP_CHUNK_TOKENS} + {_DEDUP_CHUNK_TOKENS}],
               ' ')) AS fp
      FROM t, LATERAL unnest(range(0,
        (len(toks) + {_DEDUP_CHUNK_TOKENS - 1}) // {_DEDUP_CHUNK_TOKENS}
      )) AS u(k)
      WHERE len(toks) > 0
    ),
    g AS (
      SELECT *, COUNT(*) OVER (PARTITION BY fp) AS grp_n FROM c
    )
    SELECT source,
           COUNT(*) AS chunks,
           CAST(SUM(CASE WHEN grp_n > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_chunks,
           {dround_sql(
               'SUM(CASE WHEN grp_n > 1 THEN 1 ELSE 0 END)'
               ' / CAST(COUNT(*) AS DOUBLE)', 4)} AS chunk_dup_rate,
           CAST(COUNT(DISTINCT CASE WHEN grp_n > 1 THEN doc_id END)
                AS BIGINT) AS docs_with_dup_chunk
    FROM g
    GROUP BY source
    ORDER BY source
    """,
    tags=("llm-dedup", "llm-text"),
)
def chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-granularity exact dedup audit: split every document
    into disjoint 64-token chunks, fingerprint each, and count
    chunks whose fingerprint repeats ANYWHERE in the corpus -- the
    signal that catches boilerplate (shared headers, footers, license
    blocks, templated spans) that whole-document dedup structurally
    misses because the surrounding text differs. Emits the per-source
    audit a curation pipeline alerts on: chunk counts, repeated-chunk
    counts and rate, and how many documents carry at least one
    repeated chunk. (Whole-document duplicates show up here too: all
    their chunks repeat.)

    Shape at scale: the explode multiplies rows by ~tokens/64
    carrying only (doc_id, source, 32-byte fp) -- never the text; the
    group-size pass is ONE window keyed by the uniform fingerprint (no
    skew, no pairs, no collapse), then a source rollup. This is the
    exact-dedup cost class applied at chunk granularity, linear in
    corpus tokens at any size."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") > 0)
    n_chunks = F.expr(
        f"(size(toks) + {_DEDUP_CHUNK_TOKENS - 1})"
        f" DIV {_DEDUP_CHUNK_TOKENS}"
    )
    c = t.select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("k"),
        "toks",
    ).select(
        "doc_id",
        "source",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    F.col("toks"),
                    F.col("k") * _DEDUP_CHUNK_TOKENS + 1,
                    _DEDUP_CHUNK_TOKENS,
                ),
            )
        ).alias("fp"),
    )
    g = c.withColumn("grp_n", F.count("*").over(Window.partitionBy("fp")))
    dup = F.when(F.col("grp_n") > 1, 1).otherwise(0)
    return (
        g.groupBy("source")
        .agg(
            F.count("*").alias("chunks"),
            F.sum(dup).cast("long").alias("dup_chunks"),
            dround(
                F.sum(dup) / F.count("*").cast("double"), 4
            ).alias("chunk_dup_rate"),
            F.countDistinct(
                F.when(F.col("grp_n") > 1, F.col("doc_id"))
            ).alias("docs_with_dup_chunk"),
        )
        .orderBy("source")
    )
