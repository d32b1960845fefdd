"""Seeded RANDOM corpus sweep through the full oracle parity check
(r16 VERDICT item 6: "hardening with teeth").

The crafted corpora (test_crafted_corpora.py) pin a FIXED set of
hand-picked degeneracies; this suite generates corpora from seeds, so
each seed sweeps a different neighborhood of the same edge
classes — and deliberately salts each corpus with the cases where
engines legitimately diverge unless the op pinned them down:

- tie-breaks: token counts drawn from a tiny length pool (quantile
  cuts and top-k thresholds land ON ties), duplicate texts, and
  power-of-two scaled embedding copies (2·v and v/2 have EXACTLY the
  same cosine against every query in IEEE double — scaling by a power
  of two is rounding-free — so top-k MUST break the tie on vec_id on
  both engines, not on plan order);
- NULLs: NULL text, NULL lang, NULL label rows (the real fixtures
  carry zero NULLs, so NULL propagation through tokenize / group-by /
  filtered-ANN label slices was otherwise never parity-checked);
- the crafted classics, randomized: empty / whitespace-only /
  symbol-only / unicode text, same-token runs, 130-token docs (bin
  spanning), replica cliques, antiparallel pairs, zero vectors.

Every op already pinned on the crafted corpora runs here too, over
multiple seeds, through the SAME assert_match used by the driver
mirror. A new op that passes the fixed corpora but resolves ties by
plan order, or drops NULL groups on one engine only, fails here.
"""

from __future__ import annotations

import datetime
import os
import random

import duckdb
import pytest

from apache_iceberg_with_clickhouse_olake_spark.operators import registry
from tests.oracle_utils import assert_match
from tests.test_crafted_corpora import _DOC_QUERIES, _EMB_QUERIES

# This seeded sweep (hundreds of Spark+DuckDB cases) would be the
# largest block of the default suite's wall, so it is opt-in:
#
#     SPARK_GRAFT_FULL_TESTS=1 python -m pytest tests/test_randomized_corpora.py
#
# The author of a change that touches an operator or the lake read path
# runs it before the change lands and records passed/failed/wall in
# CHANGES.md. The crafted-corpora suite (fixed pathological cases) and
# the full 238-query oracle mirror stay in the default run.
pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_FULL_TESTS"),
    reason="seeded randomized sweep: opt in with SPARK_GRAFT_FULL_TESTS=1",
)

registry._load_all()

# Two stable anchors and a third seed, as in test_randomized_facts.
SEEDS = (101, 202, 1902)

_DIM = 64
_SOURCES = ("web", "news", "code", "junk")
_LANGS = ("en", "de", "fr", "zz")


def _gen_docs(rng: random.Random) -> list[tuple]:
    vocab = [f"w{i}" for i in range(40)] + [
        "the", "a", "table", "scan", "merge", "hash", "spark", "row",
    ]

    rows: list[tuple] = []

    def add(text, lang="?", source="?"):
        lang = rng.choice(_LANGS) if lang == "?" else lang
        source = rng.choice(_SOURCES) if source == "?" else source
        n_chars = None if text is None else len(text)
        rows.append((len(rows) + 1, text, lang, source, n_chars))

    def words(n: int) -> str:
        return " ".join(rng.choice(vocab) for _ in range(n))

    # Bulk docs with lengths drawn mostly from a 3-value pool so token
    # counts (and every length-derived score) collide: quartile cuts,
    # quality thresholds, and top-k boundaries land exactly on ties.
    tie_lens = [rng.randint(3, 9) for _ in range(3)]
    for _ in range(40):
        n = rng.choice(tie_lens * 3 + [rng.randint(1, 60)])
        add(words(n))

    # Duplicate groups of varied size, spread across sources/langs (the
    # 1/n soft-dedup, chunk-dup, and cluster-keyed split branches).
    for gsize in (2, 3, rng.randint(2, 5)):
        t = words(rng.randint(2, 10))
        for _ in range(gsize):
            add(t)

    # Crafted classics, randomized placement:
    add("")                                   # empty text
    add("   ")                                # whitespace-only
    add("!!! 123 %%%", lang="zz")             # no [a-z] word at all
    add("x")                                  # single 1-char word
    add(("zz " * rng.randint(30, 60)).strip())  # same-token run
    add(" ".join(f"u{i}" for i in range(130)))  # long doc: bin spanning
    add("line one\nline two\ttabbed")         # embedded \n and \t
    add("Héllo WÖRLD café")                   # non-ASCII letters
    # NULLs the fixtures never carry:
    add(None)                                  # NULL text
    add(None, lang=None)                       # NULL text + NULL lang
    add(words(4), lang=None)                   # NULL lang, real text
    return rows


def _gen_emb(rng: random.Random) -> list[tuple]:
    rows: list[tuple] = []

    def vec() -> list[float]:
        return [round(rng.uniform(-1.0, 1.0), 3) for _ in range(_DIM)]

    def add(v, label="?"):
        label = rng.randint(0, 4) if label == "?" else label
        rows.append((len(rows) + 1, v, label))

    base = [vec() for _ in range(30)]
    for v in base:
        add(list(v))
    # exact replica clique (exact-dedup collapse + cosine 1.0 ties) --
    # SAME label on purpose: the LSH band join keys on label, so a
    # same-label clique guarantees candidate pairs with cosine 1.0
    # whose doc_ids carry DIFFERENT random texts -- the paraphrase
    # branch (cos high, Jaccard low) fires on every seed
    cliq = rng.choice(base)
    cliq_label = rng.randint(0, 4)
    for _ in range(3):
        add(list(cliq), label=cliq_label)
    # power-of-two scaled copies: EXACT cosine ties with the original
    # direction (see module doc), different norms; same label so the
    # banded join can see the tie
    v = rng.choice(base)
    scale_label = rng.randint(0, 4)
    add([2.0 * x for x in v], label=scale_label)
    add([0.5 * x for x in v], label=scale_label)
    # antiparallel (true cosine -1.0, distinct from the zero-norm NULL)
    add([-x for x in rng.choice(base)])
    # zero vector (NULL-cosine contract) and a tiny-norm vector
    add([0.0] * _DIM)
    add([0.001] + [0.0] * (_DIM - 1))
    # NULL label (filtered-ANN label slices must skip it identically)
    add(vec(), label=None)
    return rows


_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")


def _gen_events(rng: random.Random) -> list[tuple]:
    """Randomized events salted with the time-ordering hazards: exact
    timestamp ties (window ORDER BY ts must not leak plan order),
    inter-event gaps landing EXACTLY on the 30-min session boundary
    (both engines must agree on > vs >=), a gap one microsecond past
    it, and NULL user/type/value/props rows. NULL ts is deliberately
    NOT injected: Spark windows default NULLS FIRST on ASC while
    DuckDB defaults NULLS LAST, so event-time-NULL rows are a
    quarantine-lane contract upstream of these ops, not an ordering
    the engine pair can define consistently per-op."""
    t0 = datetime.datetime(2024, 2, 1)
    rows: list[tuple] = []
    tie_vals = [round(rng.uniform(0.0, 50.0), 2) for _ in range(3)]

    def ts_at(seconds: float, micros: int = 0) -> datetime.datetime:
        return t0 + datetime.timedelta(seconds=seconds, microseconds=micros)

    def add(ts, user, etype="?", value="?", props="?"):
        etype = rng.choice(_EVENT_TYPES) if etype == "?" else etype
        if value == "?":
            value = rng.choice(
                tie_vals * 2 + [round(rng.uniform(0.0, 100.0), 2)]
            )
        if props == "?":
            props = '{"k": %d}' % rng.randint(0, 99)
        rows.append((len(rows) + 1, ts, user, etype, value, props))

    # 30-day bulk span: events_watermark_late_drop's construction
    # asserts a multi-day spread (hold/mid cutoffs + watermark margin)
    for _ in range(60):
        add(
            ts_at(rng.randint(0, 30 * 86400), rng.randint(0, 999999)),
            rng.randint(1, 5),
        )
    # exact-ts tie clique (one user, three events, one instant)
    tie = ts_at(rng.randint(0, 86400))
    for _ in range(3):
        add(tie, 1)
    # gap EXACTLY 1800 s (same session: the rule is gap > 1800) and a
    # gap 1800 s + 1 us (new session) for a different user
    b1 = ts_at(rng.randint(0, 86400))
    add(b1, 2)
    add(b1 + datetime.timedelta(seconds=1800), 2)
    b2 = ts_at(rng.randint(100000, 172800))
    add(b2, 3)
    add(b2 + datetime.timedelta(seconds=1800, microseconds=1), 3)
    # a guaranteed signup -> click -> purchase funnel path
    fb = ts_at(rng.randint(0, 86400))
    add(fb, 4, etype="signup")
    add(fb + datetime.timedelta(seconds=60), 4, etype="click")
    add(fb + datetime.timedelta(seconds=120), 4, etype="purchase")
    # NULLs the fixtures never carry
    add(ts_at(rng.randint(0, 86400)), None)           # NULL user x2
    add(ts_at(rng.randint(0, 86400)), None)
    add(ts_at(rng.randint(0, 86400)), 5, etype=None)  # NULL type
    add(ts_at(rng.randint(0, 86400)), 5, value=None)  # NULL value
    add(ts_at(rng.randint(0, 86400)), 5, props=None)  # NULL props
    add(ts_at(rng.randint(0, 86400)), 5, props="{}")
    add(ts_at(rng.randint(0, 86400)), 5, props='{"other": 1}')
    return rows


@pytest.fixture(scope="module", params=SEEDS)
def rand_dir(request, spark, tmp_path_factory):
    seed = request.param
    d = str(tmp_path_factory.mktemp(f"rand{seed}") / "sf")
    docs = _gen_docs(random.Random(seed))
    emb = _gen_emb(random.Random(seed + 7))
    spark.createDataFrame(
        docs,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    spark.createDataFrame(
        emb, "vec_id long, embedding array<float>, label int"
    ).coalesce(1).write.parquet(f"{d}/embeddings.parquet")
    events = _gen_events(random.Random(seed + 13))
    spark.createDataFrame(
        events,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.parquet(f"{d}/events.parquet")
    return d


@pytest.fixture(scope="module")
def rand_duck(rand_dir):
    con = duckdb.connect()
    for t in ("documents", "embeddings", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{rand_dir}/{t}.parquet/*.parquet')"
        )
    yield con
    con.close()


# Dual-table ops (documents AND embeddings, joined on doc_id == vec_id)
# have no crafted home -- the crafted corpora are single-table. The
# randomized dirs carry both tables, so they parity-check here.
_DUAL_QUERIES = (
    "crossmodal_neardup_agreement",
    "paraphrase_mining_pairs",   # r17: guaranteed rows via the
    "ann_ivfpq_topk_recall",     # same-label clique above
    "semantic_search_topk",
)


# Events-only ops (verified single-table via load_table introspection):
# the sessionization / window / funnel / retention family, whose
# ORDER BY ts discipline the tie clique and boundary gaps stress.
_EVENT_QUERIES = (
    "sessionize_events",
    "session_count_distribution",
    "session_length_distribution",
    "session_event_bigrams",
    "session_window_rollup",
    "events_by_type",
    "events_tumbling_windows",
    "events_sliding_windows",
    "event_props_json_stats",
    "event_rate_anomalies",
    "daily_active_users",
    "funnel_signup_click_purchase",
    "retention_cohorts",
    "events_interval_bucket_join",
    "asof_click_to_purchase",
    "user_lifetime_stats",
    "events_watermark_late_drop",
)


@pytest.mark.parametrize(
    "name",
    sorted(
        set(_DOC_QUERIES)
        | set(_EMB_QUERIES)
        | set(_DUAL_QUERIES)
        | set(_EVENT_QUERIES)
    ),
)
def test_randomized_corpus_oracle_parity(spark, rand_dir, rand_duck, name):
    spec = registry.REGISTRY[name]
    if spec.oracle is None:
        pytest.skip("rows-only op")
    assert_match(spec.fn(spark, rand_dir), rand_duck, spec.oracle, name)


def test_paraphrase_branch_fires_on_every_seed(spark, rand_dir):
    """The same-label replica clique (cosine 1.0) sits on doc_ids whose
    texts are independent random draws (Jaccard ~0), so every seed must
    mine at least one paraphrase pair — a 0-row pass (the sf fixtures'
    state) would leave the op's core predicate untested."""
    rows = (
        registry.REGISTRY["paraphrase_mining_pairs"]
        .fn(spark, rand_dir)
        .collect()
    )
    assert rows, "expected >=1 paraphrase pair from the same-label clique"
    for r in rows:
        assert r["cos_sim"] >= 0.5 - 5e-5
        assert r["text_jaccard"] < 0.5


def test_scaled_copies_tie_break_on_vec_id(spark, rand_dir):
    """The 2·v / v/2 rows have bit-equal cosine against any query: the
    returned order must be (cos DESC, vec_id ASC) — plan order leaking
    through a tie is nondeterminism at 100 TB shuffle widths."""
    rows = registry.REGISTRY["cosine_topk"].fn(spark, rand_dir).collect()
    keyed = [
        (r["cos_sim"], r["vec_id"]) for r in rows if r["cos_sim"] is not None
    ]
    for (c1, v1), (c2, v2) in zip(keyed, keyed[1:]):
        assert c1 > c2 or (c1 == c2 and v1 < v2), (
            f"tie not broken by vec_id: ({c1},{v1}) before ({c2},{v2})"
        )
