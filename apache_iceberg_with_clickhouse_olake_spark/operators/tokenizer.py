"""Tokenizer induction over the ``documents`` table: distributed BPE
merge learning (north-star LLM-pipeline surface; no reference
counterpart -- extends the engine to the vocabulary-training stage of a
training-data pipeline; complements the token-COUNTING ops in
operators/text.py).

Classic BPE trains on the WORD-TYPE table, not the corpus: count each
distinct word once with its frequency, represent it as a
space-delimited symbol string (chars + a ``</w>`` end marker), then
repeatedly (1) count adjacent symbol pairs weighted by word frequency,
(2) merge the most frequent pair everywhere. That shape is what makes
the op scale-friendly: after the first groupBy(word), every iteration
runs on the type table (vocabulary-sized, corpus-size-independent), and
the winning pair is a 1-row broadcast.

Engine-exactness (hash-checked against a DuckDB oracle that unrolls all
iterations in SQL):
- pair counts are integer sums -- no float anywhere;
- the winning pair is tie-broken (count DESC, a, b);
- merge application is plain literal ``replace`` (identical
  left-to-right non-overlapping semantics in Spark and DuckDB), applied
  three times to reach the fixpoint that single-pass replace misses
  when occurrences share a delimiter space (" a b a b " -- pass one
  merges occurrences 1 and 3, pass two the rest; three passes is
  fixpoint for any symbol sequence up to the 9 symbols our longest
  word produces, and BOTH engines run the identical pass count, so
  parity holds regardless).

Scale notes (100 TB): one corpus-sized shuffle total (the word-type
groupBy); each of the N merge iterations then shuffles only the
type-table pair counts (bounded by vocabulary size, not corpus size)
and broadcasts a single winning row. No Python UDFs, no driver-side
collect -- the learned merge table is itself a DataFrame.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dround, dround_sql, md5_int60_sql
from ..sources.parquet import load_table
from ._cache import scoped as _scoped
from ._cache import finalize as _finalize
from ._cache import superstep as _superstep
from .registry import query

_N_MERGES = 6
_TOP_PAIRS = 30

_WORD_RE = "[a-z]+"

# ---------------------------------------------------------------------------
# Shared builders (Spark)
# ---------------------------------------------------------------------------


def _word_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, s) -- the word-type table with its initial symbol
    string ' h e l l o </w> ' (leading/trailing spaces so every symbol
    occurrence is space-delimited for literal replace)."""
    return _word_symbols_from(load_table(spark, sf_dir, "documents"))


def _word_symbols_from(docs: DataFrame) -> DataFrame:
    """Word-symbol table over an arbitrary documents frame (the
    train/held-out split op passes filtered subsets)."""
    wf = (
        docs.select(
            F.explode(
                F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
    )
    return wf.select(
        "word",
        "freq",
        F.concat(
            F.lit(" "),
            F.array_join(F.expr("regexp_extract_all(word, '.', 0)"), " "),
            F.lit(" </w> "),
        ).alias("s"),
    )


def _pair_counts(symbols: DataFrame) -> DataFrame:
    """(a, b, cnt): adjacent symbol pairs weighted by word frequency."""
    return (
        symbols.withColumn("syms", F.split(F.trim(F.col("s")), " "))
        # a word can merge down to ONE symbol; Spark's sequence(1, 0) is
        # the DESCENDING [1, 0] (not empty like DuckDB's range), which
        # would index syms[1] out of bounds -- drop pairless rows first
        .filter(F.size(F.col("syms")) >= 2)
        .select(
            "freq",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(syms) - 1),"
                    " i -> struct(syms[i-1] AS a, syms[i] AS b))"
                )
            ).alias("p"),
        )
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.sum("freq").alias("cnt"))
    )


# Literal space-delimited replace, three passes to fixpoint (module doc).
_APPLY_MERGE = "s"
for _ in range(3):
    _APPLY_MERGE = (
        f"replace({_APPLY_MERGE},"
        " concat(' ', a, ' ', b, ' '), concat(' ', a, b, ' '))"
    )


# ---------------------------------------------------------------------------
# DuckDB oracle builders
# ---------------------------------------------------------------------------

_SQL_BASE = f"""
    w AS (
      SELECT unnest(regexp_extract_all(lower(text), '{_WORD_RE}')) AS word
      FROM documents
    ),
    wf AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY word),
    s0 AS (
      SELECT word, freq,
             ' ' || array_to_string(regexp_extract_all(word, '.'), ' ')
                 || ' </w> ' AS s
      FROM wf
    )"""


def _pairs_sql(sym_cte: str, name: str) -> str:
    return f"""{name} AS (
      SELECT p[1] AS a, p[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (
        SELECT freq,
               unnest(list_transform(range(1, len(syms)),
                                     i -> [syms[i], syms[i+1]])) AS p
        FROM (
          SELECT freq, string_split(trim(s), ' ') AS syms FROM {sym_cte}
        )
      )
      GROUP BY 1, 2
    )"""


_APPLY_MERGE_SQL = "s"
for _ in range(3):
    _APPLY_MERGE_SQL = (
        f"replace({_APPLY_MERGE_SQL},"
        " ' ' || a || ' ' || b || ' ', ' ' || a || b || ' ')"
    )


def _learn_sql() -> str:
    parts = [_SQL_BASE]
    for it in range(1, _N_MERGES + 1):
        parts.append(_pairs_sql(f"s{it - 1}", f"p{it}"))
        parts.append(
            f"c{it} AS (SELECT a, b, cnt FROM p{it}"
            f" ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        if it < _N_MERGES:
            parts.append(f"""s{it} AS (
              SELECT word, freq, {_APPLY_MERGE_SQL} AS s
              FROM s{it - 1} CROSS JOIN c{it}
            )""")
    ranks = "\nUNION ALL\n".join(
        f"SELECT {it} AS merge_rank, a AS sym_a, b AS sym_b,"
        f" a || b AS merged, cnt AS pair_count FROM c{it}"
        for it in range(1, _N_MERGES + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\nSELECT * FROM ({ranks}) ORDER BY merge_rank"


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@query(
    "bpe_pair_frequencies",
    oracle=f"""
    WITH {_SQL_BASE.strip()},
    {_pairs_sql('s0', 'p1')}
    SELECT a AS sym_a, b AS sym_b, cnt AS pair_count
    FROM p1
    ORDER BY pair_count DESC, sym_a, sym_b
    LIMIT {_TOP_PAIRS}
    """,
    tags=("llm-text", "llm-tokenizer"),
)
def bpe_pair_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent symbol pairs of the initial (character-level) BPE
    state, weighted by word frequency -- the single-shot primitive the
    merge-learning loop iterates. Fully tie-broken top-k
    (TakeOrderedAndProject; the pair space is vocabulary-bounded)."""
    pairs = _pair_counts(_word_symbols(spark, sf_dir))
    return (
        pairs.select(
            F.col("a").alias("sym_a"),
            F.col("b").alias("sym_b"),
            F.col("cnt").alias("pair_count"),
        )
        .orderBy(F.col("pair_count").desc(), "sym_a", "sym_b")
        .limit(_TOP_PAIRS)
    )


@query(
    "bpe_learn_merges",
    oracle=_learn_sql(),
    tags=("llm-text", "llm-tokenizer"),
)
@_scoped
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first N BPE merges: N iterations of count-pairs ->
    broadcast the tie-broken winner -> literal-replace it into every
    word's symbol string. The oracle unrolls the identical N iterations
    in SQL, so even this iterative training loop is hash-exact. The
    per-iteration type table is a superstep (vocabulary-sized) so the
    chained lineage doesn't recompute the whole history each round."""
    symbols = _word_symbols(spark, sf_dir)
    merges = []
    for rank in range(1, _N_MERGES + 1):
        symbols = _superstep(symbols)
        top = (
            _pair_counts(symbols)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
        )
        merges.append(
            top.select(
                F.lit(rank).alias("merge_rank"),
                F.col("a").alias("sym_a"),
                F.col("b").alias("sym_b"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
        )
        if rank < _N_MERGES:
            symbols = (
                symbols.crossJoin(F.broadcast(top.select("a", "b")))
                .withColumn("s", F.expr(_APPLY_MERGE))
                .select("word", "freq", "s")
            )
    out = reduce(DataFrame.unionAll, merges).orderBy("merge_rank")
    return _finalize(spark, out)


# ---------------------------------------------------------------------------
# Apply the learned merges back to the corpus (train -> tokenize closure)
# ---------------------------------------------------------------------------


def _merged_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(word, freq, s) after applying ALL _N_MERGES learned merges (the
    learn loop applies only the first N-1 before selecting the Nth)."""
    symbols = _word_symbols(spark, sf_dir)
    for _ in range(_N_MERGES):
        symbols = _superstep(symbols)
        top = (
            _pair_counts(symbols)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
        )
        symbols = (
            symbols.crossJoin(F.broadcast(top.select("a", "b")))
            .withColumn("s", F.expr(_APPLY_MERGE))
            .select("word", "freq", "s")
        )
    return symbols


def _applied_sql() -> str:
    """CTE chain ending in s{_N_MERGES}: symbols after ALL merges."""
    parts = [_SQL_BASE]
    for it in range(1, _N_MERGES + 1):
        parts.append(_pairs_sql(f"s{it - 1}", f"p{it}"))
        parts.append(
            f"c{it} AS (SELECT a, b, cnt FROM p{it}"
            f" ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts.append(f"""s{it} AS (
          SELECT word, freq, {_APPLY_MERGE_SQL} AS s
          FROM s{it - 1} CROSS JOIN c{it}
        )""")
    return "WITH " + ",\n".join(parts)


@query(
    "bpe_tokenize_corpus_stats",
    oracle=f"""
    {_applied_sql()},
    wtok AS (
      SELECT word, len(string_split(trim(s), ' ')) AS n_sym
      FROM s{_N_MERGES}
    ),
    docw AS (
      SELECT lang,
             unnest(regexp_extract_all(lower(text), '{_WORD_RE}')) AS word
      FROM documents
    )
    SELECT d.lang,
           COUNT(*) AS words,
           CAST(SUM(w.n_sym) AS BIGINT) AS bpe_tokens,
           CAST(SUM(length(d.word) + 1) AS BIGINT) AS char_tokens,
           {dround_sql('CAST(SUM(w.n_sym) AS DOUBLE) / COUNT(*)', 4)}
             AS tokens_per_word
    FROM docw d JOIN wtok w USING (word)
    GROUP BY d.lang
    ORDER BY d.lang
    """,
    tags=("llm-text", "llm-tokenizer"),
)
@_scoped
def bpe_tokenize_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Close the train->apply loop: tokenize the whole corpus with the
    learned merge table and measure the compression (BPE tokens per
    word vs the char+marker baseline the merges started from). The
    expensive part stays vocabulary-shaped: per-word symbol counts come
    from the merged TYPE table, broadcast back onto one corpus pass of
    exploded words -- no per-document merge application, which is how a
    trained tokenizer is applied at 100 TB (the corpus join is the same
    word-keyed broadcast as the stratified sampler's rate table)."""
    merged = _merged_symbols(spark, sf_dir)
    wtok = merged.select(
        "word", F.size(F.split(F.trim(F.col("s")), " ")).alias("n_sym")
    )
    docs = load_table(spark, sf_dir, "documents")
    docw = docs.select(
        "lang",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)")
        ).alias("word"),
    )
    return _finalize(
        spark,
        docw.join(F.broadcast(wtok), "word")
        .groupBy("lang")
        .agg(
            F.count("*").alias("words"),
            F.sum("n_sym").cast("long").alias("bpe_tokens"),
            F.sum(F.length("word") + 1).cast("long").alias("char_tokens"),
            dround(
                F.sum("n_sym").cast("double") / F.count("*"), 4
            ).alias("tokens_per_word"),
        )
        .orderBy("lang"),
    )


# ---------------------------------------------------------------------------
# Train/held-out split: learn merges on 90% of documents, tokenize the
# held-out 10% with the TRAIN-learned merge table (the generalization
# measurement a real tokenizer-training pipeline runs; every merge can
# only shorten a word, so unseen held-out types still tokenize -- the
# signal is compression, not OOV failure).
# ---------------------------------------------------------------------------

_SPLIT_MOD = 10  # doc_id-hash split: residue 0 = held-out (10%)
_SPLIT_HASH = "concat('split-', CAST(doc_id AS VARCHAR))"


def _sql_base_where(where: str, w: str, wf: str, s0: str) -> str:
    """Parameterized word-symbol CTE chain over a documents subset."""
    return f"""
    {w} AS (
      SELECT unnest(regexp_extract_all(lower(text), '{_WORD_RE}')) AS word
      FROM documents WHERE {where}
    ),
    {wf} AS (SELECT word, COUNT(*) AS freq FROM {w} GROUP BY word),
    {s0} AS (
      SELECT word, freq,
             ' ' || array_to_string(regexp_extract_all(word, '.'), ' ')
                 || ' </w> ' AS s
      FROM {wf}
    )"""


def _heldout_sql() -> str:
    """Train chain (winner per iteration) + held-out chain (application
    of every train winner), unrolled."""
    train = f"{md5_int60_sql(_SPLIT_HASH)} % {_SPLIT_MOD} <> 0"
    held = f"{md5_int60_sql(_SPLIT_HASH)} % {_SPLIT_MOD} = 0"
    parts = [
        _sql_base_where(train, "w", "wf", "s0").strip(),
        _sql_base_where(held, "hw", "hwf", "h0").strip(),
    ]
    for it in range(1, _N_MERGES + 1):
        parts.append(_pairs_sql(f"s{it - 1}", f"p{it}"))
        parts.append(
            f"c{it} AS (SELECT a, b, cnt FROM p{it}"
            f" ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts.append(f"""s{it} AS (
          SELECT word, freq, {_APPLY_MERGE_SQL} AS s
          FROM s{it - 1} CROSS JOIN c{it}
        )""")
        parts.append(f"""h{it} AS (
          SELECT word, freq, {_APPLY_MERGE_SQL} AS s
          FROM h{it - 1} CROSS JOIN c{it}
        )""")
    return "WITH " + ",\n".join(parts)


@query(
    "bpe_heldout_compression",
    oracle=f"""
    {_heldout_sql()},
    wtok AS (
      SELECT word, len(string_split(trim(s), ' ')) AS n_sym
      FROM h{_N_MERGES}
    ),
    docw AS (
      SELECT lang,
             unnest(regexp_extract_all(lower(text), '{_WORD_RE}')) AS word
      FROM documents
      WHERE {md5_int60_sql(_SPLIT_HASH)} % {_SPLIT_MOD} = 0
    )
    SELECT lang,
           COUNT(*) AS words,
           CAST(SUM(n_sym) AS BIGINT) AS bpe_tokens,
           {dround_sql('CAST(SUM(n_sym) AS DOUBLE) / COUNT(*)', 4)}
             AS tokens_per_word
    FROM docw JOIN wtok USING (word)
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("llm-text", "llm-tokenizer", "llm-sampling"),
)
@_scoped
def bpe_heldout_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize HELD-OUT documents with merges learned on the TRAIN
    split only: per-language held-out compression (BPE tokens per word).
    The deterministic md5 doc split makes train/test membership
    reproducible; the train loop is the same vocabulary-bounded
    iteration as bpe_learn_merges, and each winning pair is applied to
    BOTH symbol tables via 1-row broadcasts. The oracle unrolls the
    twin chains, so train/test discipline itself is hash-checked.
    Scale: the held-out chain is type-table-sized like the train chain;
    the corpus passes are one tokenize per split."""
    from ..functions import md5_int60

    docs = load_table(spark, sf_dir, "documents")
    split = (
        md5_int60(F.concat(F.lit("split-"), F.col("doc_id").cast("string")))
        % _SPLIT_MOD
    )
    train_docs = docs.filter(split != 0)
    held_docs = docs.filter(split == 0)
    sym_t = _word_symbols_from(train_docs)
    sym_h = _word_symbols_from(held_docs)
    for _ in range(_N_MERGES):
        sym_t = _superstep(sym_t)
        top = (
            _pair_counts(sym_t)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .select("a", "b")
        )
        sym_t = (
            sym_t.crossJoin(F.broadcast(top))
            .withColumn("s", F.expr(_APPLY_MERGE))
            .select("word", "freq", "s")
        )
        sym_h = (
            sym_h.crossJoin(F.broadcast(top))
            .withColumn("s", F.expr(_APPLY_MERGE))
            .select("word", "freq", "s")
        )
    wtok = sym_h.select(
        "word", F.size(F.split(F.trim(F.col("s")), " ")).alias("n_sym")
    )
    docw = held_docs.select(
        "lang",
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)")
        ).alias("word"),
    )
    return _finalize(
        spark,
        docw.join(F.broadcast(wtok), "word")
        .groupBy("lang")
        .agg(
            F.count("*").alias("words"),
            F.sum("n_sym").cast("long").alias("bpe_tokens"),
            dround(
                F.sum("n_sym").cast("double") / F.count("*"), 4
            ).alias("tokens_per_word"),
        )
        .orderBy("lang"),
    )
