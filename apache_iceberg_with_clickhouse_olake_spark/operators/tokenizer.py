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

from ..functions import dround, dround_sql, md5_int60, md5_int60_sql
from ..sources.parquet import load_table
from ._cache import scoped as _scoped
from ._cache import finalize as _finalize
from ._cache import superstep as _superstep
from .registry import query

_N_MERGES = 6
_TOP_PAIRS = 30

_WORD_RE = "[a-z]+"

# Literal space-delimited replace, three passes to fixpoint (module doc).
# Spark SQL and DuckDB parse it alike, so both engines run this string.
_APPLY_MERGE = "s"
for _ in range(3):
    _APPLY_MERGE = (
        f"replace({_APPLY_MERGE},"
        " concat(' ', a, ' ', b, ' '), concat(' ', a, b, ' '))"
    )

# ---------------------------------------------------------------------------
# The merge loop (Spark)
# ---------------------------------------------------------------------------


def _words(docs: DataFrame, *cols: str) -> DataFrame:
    """One row per lower-cased word of ``docs``, beside ``cols``."""
    return docs.select(
        *cols,
        F.explode(
            F.expr(f"regexp_extract_all(lower(text), '{_WORD_RE}', 0)")
        ).alias("word"),
    )


def _word_symbols(docs: DataFrame) -> DataFrame:
    """(word, freq, s) -- the word-type table of ``docs`` with its
    initial symbol string ' h e l l o </w> ' (leading/trailing spaces so
    every symbol occurrence is space-delimited for literal replace)."""
    wf = _words(docs).groupBy("word").agg(F.count("*").alias("freq"))
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


def _merge(symbols: DataFrame, top: DataFrame) -> DataFrame:
    """``symbols`` with the 1-row winner ``top`` replaced into every word
    (a broadcast nested-loop join of one row)."""
    return (
        symbols.crossJoin(F.broadcast(top.select("a", "b")))
        .withColumn("s", F.expr(_APPLY_MERGE))
        .select("word", "freq", "s")
    )


def _bpe(
    train: DataFrame, held: DataFrame | None = None
) -> tuple[list[DataFrame], DataFrame, DataFrame | None]:
    """The merge loop, learned on the ``train`` documents: _N_MERGES
    rounds of count-pairs -> the tie-broken winner -> replace it into
    every word. Each round's input type table is a superstep
    (vocabulary-sized), so the chained lineage never recomputes the
    history.

    Returns ``(winners, train_symbols, held_symbols)``: each round's
    1-row (a, b, cnt) frame, and the (word, freq, s) tables of ``train``
    and of ``held`` (None without it) with every winner applied."""
    symbols = _word_symbols(train)
    held_symbols = None if held is None else _word_symbols(held)
    winners = []
    for _ in range(_N_MERGES):
        symbols = _superstep(symbols)
        top = (
            _pair_counts(symbols)
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
        )
        winners.append(top)
        symbols = _merge(symbols, top)
        if held is not None:
            held_symbols = _merge(held_symbols, top)
    return winners, symbols, held_symbols


def _tokenized(docs: DataFrame, symbols: DataFrame) -> DataFrame:
    """(word, lang, n_sym): every word of ``docs`` with its symbol count
    in the merged type table ``symbols``, attached as a broadcast."""
    wtok = symbols.select(
        "word", F.size(F.split(F.trim(F.col("s")), " ")).alias("n_sym")
    )
    return _words(docs, "lang").join(F.broadcast(wtok), "word")


# ---------------------------------------------------------------------------
# The merge loop (DuckDB oracle twin)
# ---------------------------------------------------------------------------


def _words_sql(where: str) -> str:
    """(lang, word) rows of ``documents WHERE where``: the twin of
    :func:`_words`."""
    return (
        f"SELECT lang, unnest(regexp_extract_all(lower(text), '{_WORD_RE}'))"
        f" AS word FROM documents WHERE {where}"
    )


def _bpe_sql(train_where: str, held_where: str | None = None) -> str:
    """:func:`_bpe` unrolled into one WITH chain: ``s0``..``sN`` are the
    train symbols after 0..N winners, ``pK`` round K's pair counts and
    ``cK`` its winner; with ``held_where``, ``h0``..``hN`` are the
    held-out symbols after 0..N train winners."""
    chains = {"s": train_where}
    if held_where is not None:
        chains["h"] = held_where
    parts = [
        f"""{t}0 AS (
      SELECT word, COUNT(*) AS freq,
             ' ' || array_to_string(regexp_extract_all(word, '.'), ' ')
                 || ' </w> ' AS s
      FROM ({_words_sql(where)}) GROUP BY word
    )"""
        for t, where in chains.items()
    ]
    for it in range(1, _N_MERGES + 1):
        parts.append(f"""p{it} AS (
      SELECT p[1] AS a, p[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (
        SELECT freq,
               unnest(list_transform(range(1, len(syms)),
                                     i -> [syms[i], syms[i+1]])) AS p
        FROM (SELECT freq, string_split(trim(s), ' ') AS syms FROM s{it - 1})
      )
      GROUP BY 1, 2
    )""")
        parts.append(
            f"c{it} AS (SELECT a, b, cnt FROM p{it}"
            f" ORDER BY cnt DESC, a, b LIMIT 1)"
        )
        parts += [
            f"{t}{it} AS (SELECT word, freq, {_APPLY_MERGE} AS s"
            f" FROM {t}{it - 1} CROSS JOIN c{it})"
            for t in chains
        ]
    return "WITH " + ",\n".join(parts)


def _tokenized_sql(symbols: str, where: str) -> str:
    """The ``tok`` CTE: the twin of :func:`_tokenized`."""
    return f"""tok AS (
      SELECT d.lang, d.word, len(string_split(trim(w.s), ' ')) AS n_sym
      FROM ({_words_sql(where)}) d JOIN {symbols} w USING (word)
    )"""


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@query(
    "bpe_pair_frequencies",
    oracle=f"""
    {_bpe_sql("TRUE")}
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
    docs = load_table(spark, sf_dir, "documents")
    return (
        _pair_counts(_word_symbols(docs))
        .select(
            F.col("a").alias("sym_a"),
            F.col("b").alias("sym_b"),
            F.col("cnt").alias("pair_count"),
        )
        .orderBy(F.col("pair_count").desc(), "sym_a", "sym_b")
        .limit(_TOP_PAIRS)
    )


_RANKS_SQL = "\nUNION ALL\n".join(
    f"SELECT {it} AS merge_rank, a AS sym_a, b AS sym_b,"
    f" a || b AS merged, cnt AS pair_count FROM c{it}"
    for it in range(1, _N_MERGES + 1)
)


@query(
    "bpe_learn_merges",
    oracle=f"""
    {_bpe_sql("TRUE")}
    SELECT * FROM ({_RANKS_SQL}) ORDER BY merge_rank
    """,
    tags=("llm-text", "llm-tokenizer"),
)
@_scoped
def bpe_learn_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first N BPE merges (:func:`_bpe`) and report each
    round's winner. The oracle unrolls the identical N iterations in
    SQL, so even this iterative training loop is hash-exact."""
    winners, _, _ = _bpe(load_table(spark, sf_dir, "documents"))
    out = reduce(
        DataFrame.unionAll,
        [
            top.select(
                F.lit(rank).alias("merge_rank"),
                F.col("a").alias("sym_a"),
                F.col("b").alias("sym_b"),
                F.concat("a", "b").alias("merged"),
                F.col("cnt").alias("pair_count"),
            )
            for rank, top in enumerate(winners, start=1)
        ],
    ).orderBy("merge_rank")
    return _finalize(spark, out)


# ---------------------------------------------------------------------------
# Apply the learned merges back to the corpus (train -> tokenize closure)
# ---------------------------------------------------------------------------


@query(
    "bpe_tokenize_corpus_stats",
    oracle=f"""
    {_bpe_sql("TRUE")},
    {_tokenized_sql(f"s{_N_MERGES}", "TRUE")}
    SELECT lang,
           COUNT(*) AS words,
           CAST(SUM(n_sym) AS BIGINT) AS bpe_tokens,
           CAST(SUM(length(word) + 1) AS BIGINT) AS char_tokens,
           {dround_sql('CAST(SUM(n_sym) AS DOUBLE) / COUNT(*)', 4)}
             AS tokens_per_word
    FROM tok
    GROUP BY lang
    ORDER BY lang
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
    docs = load_table(spark, sf_dir, "documents")
    _, merged, _ = _bpe(docs)
    return _finalize(
        spark,
        _tokenized(docs, merged)
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
_SPLIT_SQL = md5_int60_sql(
    "concat('split-', CAST(doc_id AS VARCHAR))"
) + f" % {_SPLIT_MOD}"


@query(
    "bpe_heldout_compression",
    oracle=f"""
    {_bpe_sql(f"{_SPLIT_SQL} <> 0", f"{_SPLIT_SQL} = 0")},
    {_tokenized_sql(f"h{_N_MERGES}", f"{_SPLIT_SQL} = 0")}
    SELECT lang,
           COUNT(*) AS words,
           CAST(SUM(n_sym) AS BIGINT) AS bpe_tokens,
           {dround_sql('CAST(SUM(n_sym) AS DOUBLE) / COUNT(*)', 4)}
             AS tokens_per_word
    FROM tok
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
    reproducible; the train loop is :func:`_bpe`, which applies each
    winning pair to BOTH symbol tables via 1-row broadcasts. The oracle
    unrolls the twin chains, so train/test discipline itself is
    hash-checked. Scale: the held-out chain is type-table-sized like
    the train chain; the corpus passes are one tokenize per split."""
    docs = load_table(spark, sf_dir, "documents")
    split = (
        md5_int60(F.concat(F.lit("split-"), F.col("doc_id").cast("string")))
        % _SPLIT_MOD
    )
    held_docs = docs.filter(split == 0)
    _, _, held = _bpe(docs.filter(split != 0), held_docs)
    return _finalize(
        spark,
        _tokenized(held_docs, held)
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
