"""Unit tests for funnel / cohort-retention on handcrafted event fixtures;
the sf0.01 oracle differential covers the registered forms end-to-end."""

from __future__ import annotations

from _round import rhalf

from datetime import datetime, timedelta

import pytest

from reactor_window_like_flink_spark.operators.analytics import (
    cohort_retention,
    funnel,
)

_T0 = datetime(2024, 1, 1, 12, 0, 0)


def _events(spark, rows):
    return spark.createDataFrame(
        [(i, u, t, ts) for i, (u, t, ts) in enumerate(rows)],
        "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP",
    )


def test_funnel_strict_first_touch_ordering(spark):
    m = lambda k: _T0 + timedelta(minutes=k)  # noqa: E731
    rows = [
        # u1: full ordered funnel
        (1, "view", m(0)), (1, "click", m(1)), (1, "purchase", m(2)),
        # u2: view only
        (2, "view", m(0)),
        # u3: click BEFORE first view -> stage 2 not converted
        (3, "click", m(0)), (3, "view", m(1)),
        # u4: view, purchase, then click -> stage2 yes (click after view),
        #     stage3 no (first purchase precedes first click)
        (4, "view", m(0)), (4, "purchase", m(1)), (4, "click", m(2)),
        # u5: never viewed -> not even stage 1
        (5, "purchase", m(0)),
    ]
    out = {
        r["stage"]: r
        for r in funnel(
            _events(spark, rows), ("view", "click", "purchase")
        ).collect()
    }
    assert (out[1]["stage_name"], out[1]["n_users"]) == ("view", 4)
    assert (out[2]["stage_name"], out[2]["n_users"]) == ("click", 2)
    assert (out[3]["stage_name"], out[3]["n_users"]) == ("purchase", 1)
    assert out[1]["conv_rate"] == 1.0
    assert out[2]["conv_rate"] == 0.5
    assert out[3]["conv_rate"] == 0.25


def test_cohort_retention_offsets(spark):
    wk = lambda w, d=0: datetime(2024, 1, 1) + timedelta(weeks=w, days=d)  # noqa: E731
    rows = [
        # u1 joins week 0 (Mon Jan 1), active weeks 0, 1, 3
        (1, "view", wk(0)), (1, "view", wk(1, 2)), (1, "view", wk(3)),
        # u2 joins week 0, active week 0 only (two events, one distinct week)
        (2, "view", wk(0, 3)), (2, "click", wk(0, 4)),
        # u3 joins week 1, active weeks 1 and 2
        (3, "view", wk(1)), (3, "view", wk(2, 6)),
    ]
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in cohort_retention(_events(spark, rows)).collect()
    }
    assert got == {
        ("2024-01-01", 0): 2,
        ("2024-01-01", 1): 1,
        ("2024-01-01", 3): 1,
        ("2024-01-08", 0): 1,
        ("2024-01-08", 1): 1,
    }


def test_sessionize_gap_splits_and_stats(spark):
    from datetime import timedelta

    from reactor_window_like_flink_spark.operators.analytics import sessionize

    h = lambda k: _T0 + timedelta(hours=k)  # noqa: E731
    rows = [
        # u1: two sessions with a 3h gap boundary (gap_us = 2h here)
        (1, "view", h(0)), (1, "click", h(1)), (1, "view", h(1.5)),
        (1, "view", h(5)), (1, "purchase", h(6)),
        # u2: single-event session
        (2, "view", h(0)),
        # u3: events exactly at the gap boundary stay in ONE session
        # (strict > opens a new one)
        (3, "view", h(0)), (3, "view", h(2)),
    ]
    got = {
        (r["user_id"], r["session_idx"]): (
            r["n_events"],
            r["duration_us"],
        )
        for r in sessionize(
            _events(spark, rows), gap_us=2 * 3600 * 1_000_000
        ).collect()
    }
    us = 3600 * 1_000_000
    assert got == {
        (1, 1): (3, int(1.5 * us)),
        (1, 2): (2, 1 * us),
        (2, 1): (1, 0),
        (3, 1): (2, 2 * us),
    }


def test_unigram_logprob_matches_hand_model(spark):
    import math

    import __spark_entry__ as entry_mod
    import reactor_window_like_flink_spark.llm.text as text_mod

    docs = spark.createDataFrame(
        [
            (0, "a a b"),   # counts: a=3(with doc1), b=2, c=1 ; N=6
            (1, "a b c"),
        ],
        "doc_id LONG, text STRING",
    )
    orig = text_mod.load
    text_mod.load = lambda s, d, t: docs
    try:
        got = {
            r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
            for r in entry_mod.queries()["q_unigram_logprob"](
                spark, "unused"
            ).collect()
        }
    finally:
        text_mod.load = orig
    n = 6.0
    d0 = (2 * math.log(3) + math.log(2)) / 3 - math.log(n)
    d1 = (math.log(3) + math.log(2) + math.log(1)) / 3 - math.log(n)
    assert got[0] == (3, rhalf(d0, 4))
    assert got[1] == (3, rhalf(d1, 4))


def test_followed_by_chain_matches_pattern_sequence(spark, sf_dir):
    """The generic N-stage matcher instantiated at FUNNEL_STAGES equals
    the hand-written 3-stage oracle key on the full fixture."""
    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.operators.analytics import (
        FUNNEL_STAGES,
        followed_by_chain,
    )
    from reactor_window_like_flink_spark.sources.tables import load

    got = {
        (r["user_id"], r["stage0_id"], r["stage1_id"], r["stage2_id"],
         r["span_us"])
        for r in followed_by_chain(
            load(spark, sf_dir, "events"), FUNNEL_STAGES
        ).collect()
    }
    want = {
        (r["user_id"], r["view_id"], r["click_id"], r["purchase_id"],
         r["span_us"])
        for r in entry_mod.queries()["q_pattern_sequence"](
            spark, sf_dir
        ).collect()
    }
    assert got == want and len(want) > 0


def test_followed_by_chain_four_stages_brute_force(spark):
    """4-stage chain (a->b->c->d) against a pure-Python model of greedy
    last-match followedBy with blocking (an incomplete fresh prefix
    supersedes an older complete binding), on deterministic pseudo-random
    events including non-pattern noise types."""
    from reactor_window_like_flink_spark.operators.analytics import (
        followed_by_chain,
    )

    stages, rows = _chain_events()
    span_us = 3600 * 1_000_000  # 1 h
    df = spark.createDataFrame(
        rows, "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"
    )
    want = _chain_model(rows, stages, span_us, strict=False)
    got = {
        (r["user_id"], r["stage0_id"], r["stage1_id"], r["stage2_id"],
         r["stage3_id"], r["span_us"])
        for r in followed_by_chain(df, stages, span_us).collect()
    }
    assert got == want and len(want) > 0


def _chain_events(n_events: int = 400, seed: int = 20260814):
    """Deterministic pseudo-random event rows shared by the chain tests:
    6 users, types a/b/c/d plus noise 'x', inside an 8 h day — plus, for
    users 0-1, one guaranteed CONSECUTIVE a,b,c,d run after the random
    window (a 4-in-a-row run is too rare to appear by chance, and the
    strict-contiguity tests need a non-empty expectation)."""
    stages = ["a", "b", "c", "d"]
    base = datetime(2024, 1, 1, 0, 0)
    rows = []
    state = seed
    types = stages + ["x"]
    for eid in range(n_events):
        state = (state * 1103515245 + 12345) % (1 << 31)
        user = state % 6
        state = (state * 1103515245 + 12345) % (1 << 31)
        etype = types[state % len(types)]
        state = (state * 1103515245 + 12345) % (1 << 31)
        minutes = state % (8 * 60)
        rows.append((eid, base + timedelta(minutes=minutes), user, etype, 0.0))
    eid = n_events
    for user in (0, 1):
        for k, etype in enumerate(stages):
            rows.append(
                (eid, base + timedelta(minutes=600 + user * 10 + k),
                 user, etype, 0.0)
            )
            eid += 1
    return stages, rows


def _chain_model(rows, stages, span_us, strict):
    """Pure-Python reference for greedy last-match chains with blocking,
    relaxed or strict (next) contiguity — noise events break strict
    chains."""
    n = len(stages)
    out = set()
    by_user: dict = {}
    for eid, ts, user, etype, _ in sorted(
        rows, key=lambda r: (r[2], r[1], r[0])
    ):
        st = by_user.setdefault(user, {"binds": [None] * (n - 1), "prev": None})
        us = int(ts.timestamp() * 1_000_000)
        if etype in stages:
            k = stages.index(etype)
            binds = st["binds"]
            if k == 0:
                binds[0] = (us, (eid,))
            elif k < n - 1:
                prev = binds[k - 1]
                ok = prev is not None and (
                    not strict or st["prev"] == prev[1][-1]
                )
                binds[k] = (prev[0], prev[1] + (eid,)) if ok else None
            else:
                head = binds[n - 2]
                if (
                    head is not None
                    and (not strict or st["prev"] == head[1][-1])
                    and us - head[0] <= span_us
                ):
                    out.add((user, *head[1], eid, us - head[0]))
        st["prev"] = eid
    return out


def test_followed_by_chain_strict_contiguity_brute_force(spark):
    """Strict (Flink next / MATCH_RECOGNIZE) contiguity: every stage
    event must be the user's immediately next event — noise and repeated
    stage events break chains. Verified against the Python model, and
    strict output is a subset of relaxed."""
    from reactor_window_like_flink_spark.operators.analytics import (
        followed_by_chain,
    )

    stages, rows = _chain_events()
    span_us = 3600 * 1_000_000
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE",
    )
    got = {
        (r["user_id"], r["stage0_id"], r["stage1_id"], r["stage2_id"],
         r["stage3_id"], r["span_us"])
        for r in followed_by_chain(
            df, stages, span_us, contiguity="strict"
        ).collect()
    }
    want = _chain_model(rows, stages, span_us, strict=True)
    assert got == want
    relaxed = _chain_model(rows, stages, span_us, strict=False)
    assert want <= relaxed and len(want) < len(relaxed)
    assert len(want) > 0  # the fixture really produces strict chains


def test_changepoint_cusum_locates_planted_level_shift(spark):
    """A series flat at 10 for 10 days then flat at 20 for 10 days has
    its |CUSUM| peak exactly at the last day of the first regime."""
    import datetime as dt

    import __spark_entry__ as entry_mod
    import reactor_window_like_flink_spark.operators.analytics as an

    base = dt.datetime(2024, 1, 1)
    rows = []
    for day in range(20):
        level = 10.0 if day < 10 else 20.0
        for k in range(3):  # a few events per day
            rows.append(
                (
                    day * 10 + k,
                    base + dt.timedelta(days=day, hours=k),
                    1,
                    "m",
                    level,
                    "{}",
                )
            )
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    orig = an.load
    an.load = lambda s, d, t: df
    try:
        out = entry_mod.queries()["q_changepoint_cusum"](spark, "unused").collect()
    finally:
        an.load = orig
    assert len(out) == 1
    r = out[0]
    assert r["n_days"] == 20
    import calendar

    cp = dt.datetime.fromtimestamp(r["cp_day"], dt.timezone.utc)
    assert cp.date() == (base + dt.timedelta(days=9)).date()
    # drift per pre-shift day = 10 - 15 = -5; peak |CUSUM| = 50
    assert abs(r["cp_cusum"] - (-50.0)) < 1e-6


def test_attribution_linear_conserves_value_and_splits_equally(spark):
    """Mass conservation: credited + unattributed == total purchase
    value; a purchase preceded by one view and one click splits 50/50."""
    import datetime as dt

    import __spark_entry__ as entry_mod
    import reactor_window_like_flink_spark.operators.analytics as an

    t = lambda m: dt.datetime(2024, 1, 1, 12, m)
    rows = [
        # user 1: view + click then a 10.0 purchase -> 5.0 each
        (1, t(0), 1, "view", 0.0, "{}"),
        (2, t(5), 1, "click", 0.0, "{}"),
        (3, t(10), 1, "purchase", 10.0, "{}"),
        # user 2: purchase with no touches -> unattributed
        (4, t(0), 2, "purchase", 7.0, "{}"),
        # user 3: touch AFTER the purchase must not be credited
        (5, t(1), 3, "purchase", 3.0, "{}"),
        (6, t(2), 3, "view", 0.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING,"
        " value DOUBLE, props STRING",
    )
    orig = an.load
    an.load = lambda s, d, t_: df
    try:
        out = entry_mod.queries()["q_attribution_linear"](spark, "unused").collect()
    finally:
        an.load = orig
    by = {r["event_type"]: r for r in out}
    assert by["view"]["credited_value"] == 5.0
    assert by["click"]["credited_value"] == 5.0
    assert by["unattributed"]["credited_value"] == 10.0  # users 2 + 3
    assert by["unattributed"]["n_credited"] == 2
    total = sum(r["credited_value"] for r in out)
    assert abs(total - 20.0) < 1e-9  # conservation


def test_followed_by_quantified_run_semantics(spark):
    """view+ click{2,} error? purchase over planted per-user sequences:
    oneOrMore anchors, timesOrMore(2).consecutive() on maximal runs,
    greedy optional, run-maximality breaking, span bound."""
    from reactor_window_like_flink_spark.operators.analytics import (
        QUANTIFIED_STAGES,
        followed_by_quantified,
    )

    m = lambda u, k: _T0 + timedelta(hours=u, minutes=k)  # noqa: E731
    seqs = {
        1: ["view", "click", "click", "purchase"],          # plain match
        2: ["view", "click", "purchase"],                   # click run of 1
        3: ["view", "click", "click", "error", "purchase"],  # optional hit
        4: ["view", "click", "click", "error", "error", "purchase"],  # error run 2 > hi
        5: ["view", "view", "click", "click", "click", "purchase"],  # n_views=2
        6: ["view", "click", "click", "signup", "purchase"],  # foreign run breaks
    }
    rows, eid = [], 0
    for u, types in seqs.items():
        for k, t in enumerate(types):
            rows.append((eid, u, t, m(u, k)))
            eid += 1
    # user 7: span violation — purchase lands 73 h after the anchor view
    rows += [
        (eid, 7, "view", _T0),
        (eid + 1, 7, "click", _T0 + timedelta(minutes=1)),
        (eid + 2, 7, "click", _T0 + timedelta(minutes=2)),
        (eid + 3, 7, "purchase", _T0 + timedelta(hours=73)),
    ]
    out = followed_by_quantified(
        _events_typed(spark, rows), list(QUANTIFIED_STAGES)
    ).collect()
    by_user = {r["user_id"]: r for r in out}
    assert set(by_user) == {1, 3, 5}
    assert by_user[1]["stage1_n"] == 2 and by_user[1]["stage2_id"] is None
    assert by_user[3]["stage2_id"] is not None  # optional error bound
    assert by_user[3]["stage2_n"] == 1
    assert by_user[5]["stage0_n"] == 2 and by_user[5]["stage1_n"] == 3
    # anchor id = FIRST event of the view run
    first_view_5 = min(
        e for e, u, t, _ in rows if u == 5 and t == "view"
    )
    assert by_user[5]["stage0_id"] == first_view_5


def test_followed_by_quantified_exact_times(spark):
    """times(2) exact: a maximal click run of 3 does NOT match {2,2}."""
    from reactor_window_like_flink_spark.operators.analytics import (
        followed_by_quantified,
    )

    m = lambda u, k: _T0 + timedelta(hours=u, minutes=k)  # noqa: E731
    rows = []
    for u, types in {
        1: ["view", "click", "click", "purchase"],
        2: ["view", "click", "click", "click", "purchase"],
    }.items():
        for k, t in enumerate(types):
            rows.append((len(rows), u, t, m(u, k)))
    out = followed_by_quantified(
        _events_typed(spark, rows),
        [("view", 1, None), ("click", 2, 2), ("purchase", 1, None)],
    ).collect()
    assert {r["user_id"] for r in out} == {1}


def test_followed_by_quantified_validation(spark):
    import pytest

    from reactor_window_like_flink_spark.operators.analytics import (
        followed_by_quantified,
    )

    df = _events_typed(spark, [(0, 1, "view", _T0)])
    with pytest.raises(ValueError, match="non-optional"):
        followed_by_quantified(df, [("view", 0, 1), ("click", 1, None)])
    with pytest.raises(ValueError, match="quantifier"):
        followed_by_quantified(df, [("view", 1, None), ("click", 3, 2)])
    with pytest.raises(ValueError, match="2 stages"):
        followed_by_quantified(df, [("view", 1, None)])
    # adjacent same-type stages: unsatisfiable under maximal runs
    with pytest.raises(ValueError, match="share type"):
        followed_by_quantified(df, [("view", 1, None), ("view", 1, None)])
    # same-type stages adjacent ACROSS a skipped optional
    with pytest.raises(ValueError, match="share type"):
        followed_by_quantified(
            df,
            [("view", 1, None), ("click", 0, 1), ("view", 1, None)],
        )
    # distinct neighbors stay valid
    followed_by_quantified(
        df, [("view", 1, None), ("click", 0, 1), ("buy", 1, None)]
    )


def _events_typed(spark, rows):
    return spark.createDataFrame(
        rows, "event_id LONG, user_id LONG, event_type STRING, ts TIMESTAMP"
    )


def test_frequent_itemsets_planted_pairs(spark):
    """FP-growth slice semantics on planted baskets: pair support counts
    baskets containing BOTH items, the minCount cutoff is ceil(n*sup),
    and itemset strings sort numerically (10 after 2)."""
    from reactor_window_like_flink_spark.operators.analytics import (
        frequent_itemsets,
    )

    baskets = spark.createDataFrame(
        [
            (1, [2, 10]),
            (2, [2, 10, 7]),
            (3, [2, 10]),
            (4, [2]),
            (5, [7]),
        ],
        "basket_id long, items array<long>",
    )
    rows = {
        r["itemset"]: (r["n_items"], r["support_count"])
        for r in frequent_itemsets(baskets, min_support=0.5).collect()
    }
    # minCount = ceil(5 * 0.5) = 3
    assert rows["2"] == (1, 4)
    assert rows["10"] == (1, 3)
    assert rows["2,10"] == (2, 3)  # numeric sort: 2 before 10
    assert "7" not in rows and "2,7" not in rows  # support 2 < 3


def test_frequent_sequences_order_and_repeats(spark):
    """PrefixSpan slice semantics on planted sequences: a pattern needs
    an ORDERED occurrence (a before b), repeats (a>a) need two
    occurrences, and support counts each sequence once."""
    from reactor_window_like_flink_spark.operators.analytics import (
        frequent_sequences,
    )

    def seq(*types):
        return [[t] for t in types]

    seqs = spark.createDataFrame(
        [
            (1, seq("a", "b", "a")),
            (2, seq("a", "a", "b")),
            (3, seq("b", "a")),
        ],
        "sid long, sequence array<array<string>>",
    )
    rows = {
        r["pattern"]: (r["length"], r["support_count"])
        for r in frequent_sequences(seqs, min_support=0.5).collect()
    }
    # minCount = ceil(3 * 0.5) = 2
    assert rows["a"] == (1, 3) and rows["b"] == (1, 3)
    assert rows["a>b"] == (2, 2)  # seqs 1, 2 (seq 3 has b BEFORE a)
    assert rows["b>a"] == (2, 2)  # seqs 1, 3
    assert rows["a>a"] == (2, 2)  # seqs 1, 2 (two a's each)
    assert "b>b" not in rows  # no sequence has two b's


def test_association_rules_arithmetic_on_planted_baskets(spark, tmp_path):
    """Confidence/lift/support on baskets with a planted implication:
    item 1 appears in 4 baskets, {1,2} in 3 -> conf(1->2)=0.75,
    lift = conf / P(2)."""
    import __spark_entry__ as entry_mod

    rows = []
    baskets = [[1, 2], [1, 2], [1, 2], [1, 3], [2, 3], [4]]
    for oid, parts in enumerate(baskets):
        for p in parts:
            rows.append((oid, p))
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "lineitem.parquet")
    )
    got = {
        (r["antecedent"], r["consequent"]): r
        for r in entry_mod.queries()["q_association_rules"](
            spark, str(tmp_path)
        ).collect()
    }
    r12 = got[("1", "2")]
    assert r12["confidence"] == 0.75  # 3 of 4 baskets with 1 carry 2
    assert r12["lift"] == rhalf(0.75 / (4 / 6), 6)  # P(2) = 4/6
    assert r12["support"] == 0.5  # 3 of 6 baskets
    r21 = got[("2", "1")]
    assert r21["confidence"] == 0.75 and r21["support"] == 0.5


def test_ewma_matches_sequential_reference(spark, sf_dir):
    """The registered EWMA equals a per-type Python left fold over the
    date-ordered daily counts (seed = first day, alpha on the new
    observation)."""
    import duckdb

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.operators.analytics import EWMA_ALPHA

    got = {
        r["event_type"]: r
        for r in entry_mod.queries()["q_ewma_daily"](spark, sf_dir).collect()
    }
    con = duckdb.connect()
    daily = con.sql(
        f"SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,"
        f" count(*) AS cnt FROM '{sf_dir}/events.parquet'"
        f" GROUP BY 1, 2 ORDER BY event_type, day"
    ).fetchall()
    con.close()
    series: dict = {}
    for et, _, cnt in daily:
        series.setdefault(et, []).append(float(cnt))
    for et, vals in series.items():
        level = vals[0]
        for x in vals[1:]:
            level = EWMA_ALPHA * x + (1 - EWMA_ALPHA) * level
        assert abs(got[et]["ewma_level"] - rhalf(level, 6)) < 1e-9
        assert got[et]["n_days"] == len(vals)
        assert got[et]["last_deviation"] == rhalf(
            got[et]["last_value"] - level, 6
        )


# The hot-key star of tests/test_clustering.py::_star as baskets: hub 0
# co-occurs with parts 1..200, and a short path among the leaves closes
# 19 triangles through the hub.
_STAR_BASKETS = [[0, i] for i in range(1, 201)] + [[i, i + 1] for i in range(1, 20)]


def _write_baskets(spark, baskets, d):
    rows = [(oid, p) for oid, parts in enumerate(baskets) for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "lineitem.parquet"))


@pytest.mark.parametrize("graph", ["k4", "star"])
def test_triangle_count_on_planted_graph(spark, tmp_path, graph):
    """K4 (one 4-part order) has C(4,3)=4 triangles and clustering
    coefficient 1.0; adding a pendant path edge adds a wedge but no
    triangle. The hot-key star's counts come from brute force."""
    import __spark_entry__ as entry_mod

    baskets = {"k4": [[1, 2, 3, 4], [5, 6], [6, 7]], "star": _STAR_BASKETS}[graph]
    _write_baskets(spark, baskets, tmp_path)
    r = entry_mod.queries()["q_triangle_count"](spark, str(tmp_path)).first()
    edges = {(u, v) for b in baskets for u in b for v in b if u < v}
    nbrs: dict[int, set[int]] = {}
    for u, v in edges:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    # each triangle u < v < w once, at its lowest edge
    tri = sum(1 for u, v in edges for w in nbrs[u] & nbrs[v] if w > v)
    wedges = sum(len(n) * (len(n) - 1) // 2 for n in nbrs.values())
    assert tuple(r) == (
        len(nbrs), len(edges), tri, wedges, rhalf(3 * tri / wedges, 6)
    )
    if graph == "k4":
        assert r["n_nodes"] == 7
        assert r["n_edges"] == 6 + 1 + 1  # K4 pairs + {5,6} + {6,7}
        assert r["n_triangles"] == 4
        # wedges: K4 nodes have degree 3 -> 4*3=12; node 6 has degree 2 -> +1
        assert r["n_wedges"] == 13
        assert r["clustering_coefficient"] == rhalf(12 / 13, 6)
    else:
        assert r["n_triangles"] == 19


def test_holt_trend_matches_sequential_recurrence_and_catches_drift(
    spark, tmp_path
):
    """Planted linearly-trending series: the sequential Holt recurrence
    is the spec, and the trend state must be positive (the signal EWMA's
    level-only smoother cannot represent) with the one-step forecast
    above the EWMA level."""
    from datetime import datetime, timedelta, timezone

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.operators.analytics import (
        HOLT_ALPHA,
        HOLT_BETA,
    )

    t0 = datetime(2024, 1, 1, tzinfo=timezone.utc)
    rows = []
    eid = 0
    daily = []
    for day in range(20):
        n = 10 + 3 * day  # steady upward drift
        daily.append(float(n))
        for i in range(n):
            rows.append(
                (eid, t0 + timedelta(days=day, seconds=i), 1, "grow", 1.0)
            )
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long,"
        " event_type string, value double"
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {
        r["event_type"]: r
        for r in entry_mod.queries()["q_holt_trend"](
            spark, str(tmp_path)
        ).collect()
    }
    got = out["grow"]

    l, b = daily[0], 0.0
    for x in daily[1:]:
        nl = HOLT_ALPHA * x + (1 - HOLT_ALPHA) * (l + b)
        b = HOLT_BETA * (nl - l) + (1 - HOLT_BETA) * b
        l = nl
    assert got["level"] == rhalf(l, 6)
    assert got["trend"] == rhalf(b, 6)
    assert got["forecast_next"] == rhalf(l + b, 6)
    assert got["trend"] > 1.0  # the drift signal exists
    assert got["n_days"] == 20 and got["last_value"] == 10 + 3 * 19


def test_abtest_and_anova_closed_form(spark, sf_dir):
    """Both statistics recompute exactly from the collected raw data
    (the q_chi2_contingency closed-form contract)."""
    import math

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.operators.analytics import (
        ABTEST_CONV_VALUE,
    )
    from reactor_window_like_flink_spark.sources.tables import load

    qs = entry_mod.queries()

    # --- A/B z-test ---
    events = load(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    ).collect()
    conv = {}
    for r in events:
        ok = r["event_type"] == "purchase" and r["value"] > ABTEST_CONV_VALUE
        conv[r["user_id"]] = conv.get(r["user_id"], False) or ok
    import hashlib

    def grp(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2

    n = [0, 0]
    c = [0, 0]
    for uid, ok in conv.items():
        g = grp(uid)
        n[g] += 1
        c[g] += int(ok)
    p = (c[0] + c[1]) / (n[0] + n[1])
    z = (c[0] / n[0] - c[1] / n[1]) / math.sqrt(
        p * (1 - p) * (1 / n[0] + 1 / n[1])
    )
    row = qs["q_abtest_ztest"](spark, sf_dir).first()
    assert (row["n_a"], row["n_b"], row["c_a"], row["c_b"]) == (
        n[0],
        n[1],
        c[0],
        c[1],
    )
    assert row["z_stat"] == rhalf(z, 4)

    # --- ANOVA F ---
    docs = load(spark, sf_dir, "documents").select(
        "source", "n_chars"
    ).collect()
    groups = {}
    for r in docs:
        groups.setdefault(r["source"], []).append(float(r["n_chars"]))
    k = len(groups)
    n_tot = sum(len(v) for v in groups.values())
    s_tot = sum(sum(v) for v in groups.values())
    ss_tot = sum(sum(x * x for x in v) for v in groups.values())
    sq_means = sum(sum(v) ** 2 / len(v) for v in groups.values())
    f = ((sq_means - s_tot**2 / n_tot) / (k - 1)) / (
        (ss_tot - sq_means) / (n_tot - k)
    )
    row = qs["q_anova_f"](spark, sf_dir).first()
    assert (row["k"], row["n_tot"]) == (k, n_tot)
    assert abs(row["f_stat"] - rhalf(f, 4)) <= 1e-4


def test_mannwhitney_and_ks_closed_form(spark, sf_dir):
    """Both rank/ECDF statistics recompute exactly from the collected
    raw values (average ranks and tie-corrected variance done the
    textbook way, independent of the engine's grouped-window form)."""
    import hashlib
    import math

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.sources.tables import load

    qs = entry_mod.queries()
    events = load(spark, sf_dir, "events").select("user_id", "value").collect()

    def grp(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2

    a = sorted(r["value"] for r in events if grp(r["user_id"]) == 0)
    b = sorted(r["value"] for r in events if grp(r["user_id"]) == 1)
    n_a, n_b = len(a), len(b)
    pooled = sorted([(x, 0) for x in a] + [(x, 1) for x in b])
    n = n_a + n_b

    # --- Mann-Whitney U: average ranks over the pooled sort ---
    r_a = 0.0
    ties = 0.0
    i = 0
    while i < n:
        j = i
        while j < n and pooled[j][0] == pooled[i][0]:
            j += 1
        t = j - i
        avg_rank = (i + 1 + j) / 2.0  # ranks i+1 .. j
        r_a += avg_rank * sum(1 for k in range(i, j) if pooled[k][1] == 0)
        ties += t**3 - t
        i = j
    u_a = r_a - n_a * (n_a + 1) / 2.0
    sig2 = (n_a * n_b / 12.0) * ((n + 1) - ties / (n * (n - 1.0)))
    z = (u_a - n_a * n_b / 2.0) / math.sqrt(sig2)
    row = qs["q_mannwhitney_u"](spark, sf_dir).first()
    assert (row["n_a"], row["n_b"]) == (n_a, n_b)
    assert row["u_a"] == rhalf(u_a, 2)
    assert abs(row["z_stat"] - rhalf(z, 4)) <= 1e-4

    # --- KS: max ECDF gap over pooled distinct values ---
    d = 0.0
    ca = cb = 0
    i = 0
    while i < n:
        j = i
        while j < n and pooled[j][0] == pooled[i][0]:
            j += 1
        ca += sum(1 for k in range(i, j) if pooled[k][1] == 0)
        cb += (j - i) - sum(1 for k in range(i, j) if pooled[k][1] == 0)
        d = max(d, abs(ca / n_a - cb / n_b))
        i = j
    row = qs["q_ks_test"](spark, sf_dir).first()
    assert (row["n_a"], row["n_b"]) == (n_a, n_b)
    assert row["d_stat"] == rhalf(d, 6)
    assert row["ks_stat"] == rhalf(d * math.sqrt(n_a * n_b / n), 4)
    # the hash split is balanced enough to be a real test
    assert min(n_a, n_b) > 0.4 * n


def test_autocorr_closed_form(spark, sf_dir):
    """Every type's ACF recomputes from the collected daily counts with
    the textbook estimator."""
    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.operators.analytics import (
        AUTOCORR_LAGS,
    )
    from reactor_window_like_flink_spark.sources.tables import load
    from pyspark.sql import functions as F

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").alias("day"))
        .count()
        .collect()
    )
    series: dict[str, list[tuple]] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], r["count"]))
    rows = {
        r["event_type"]: r
        for r in entry_mod.queries()["q_autocorr"](spark, sf_dir).collect()
    }
    assert set(rows) == set(series)
    for et, pts in series.items():
        xs = [float(c) for _, c in sorted(pts)]
        mu = sum(xs) / len(xs)
        var = sum((x - mu) ** 2 for x in xs)
        assert rows[et]["n_days"] == len(xs)
        for k in AUTOCORR_LAGS:
            num = sum(
                (xs[t] - mu) * (xs[t - k] - mu) for t in range(k, len(xs))
            )
            want = None if var == 0 else rhalf(num / var, 6)
            got = rows[et][f"r_lag{k}"]
            if want is None:
                assert got is None
            else:
                assert abs(got - want) <= 1e-6


def test_bootstrap_ci_closed_form(spark, sf_dir):
    """The replicate means, order statistics, and CI bounds recompute
    exactly from the raw values with the same hash→Poisson ladder."""
    import hashlib

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.operators.analytics import (
        _POISSON_CDF,
        BOOT_B,
        BOOT_HI_RANK,
        BOOT_LO_RANK,
    )
    from reactor_window_like_flink_spark.sources.tables import load

    events = load(spark, sf_dir, "events").select("event_id", "value").collect()

    def pois(eid, b):
        u = int(
            hashlib.md5(f"{eid}|{b}".encode()).hexdigest()[:8], 16
        ) / 4294967296.0
        for k, c in enumerate(_POISSON_CDF):
            if u < c:
                return k
        return 9

    means = []
    for b in range(BOOT_B):
        sw = swx = 0.0
        for r in events:
            w = pois(r["event_id"], b)
            sw += w
            swx += w * r["value"]
        means.append((rhalf(swx / sw, 6), b))
    means.sort()
    row = entry_mod.queries()["q_bootstrap_ci"](spark, sf_dir).first()
    assert row["n_events"] == len(events) and row["boot_b"] == BOOT_B
    assert row["ci_lo"] == means[BOOT_LO_RANK - 1][0]
    assert row["ci_hi"] == means[BOOT_HI_RANK - 1][0]
    # the interval is non-degenerate and brackets the point estimate
    assert row["ci_lo"] < row["est_mean"] < row["ci_hi"]


def test_bootstrap_fast_twin_agrees_with_exact(spark, sf_dir):
    """The counter-mixer twin must produce a statistically equivalent
    interval: same point estimate, overlapping CIs of comparable width,
    and its Poisson weights must average ~1 (the mixer is uniform
    enough for the ladder)."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    a = qs["q_bootstrap_ci"](spark, sf_dir).first()
    b = qs["q_bootstrap_ci_fast"](spark, sf_dir).first()
    assert a["est_mean"] == b["est_mean"]
    assert a["n_events"] == b["n_events"]
    # overlap
    assert max(a["ci_lo"], b["ci_lo"]) < min(a["ci_hi"], b["ci_hi"])
    wa, wb = a["ci_hi"] - a["ci_lo"], b["ci_hi"] - b["ci_lo"]
    assert 0.5 <= wb / wa <= 2.0
    assert b["ci_lo"] < b["est_mean"] < b["ci_hi"]


def test_cuped_adjust_closed_form(spark, sf_dir):
    """θ, ρ, and both per-arm means recompute from the collected
    per-user period sums; the adjustment must shrink the between-arm
    gap's dependence on pre-period imbalance (arm-mean identity:
    Σ n_arm·(adj − raw) = 0 up to rounding when x̄ is the pooled
    mean)."""
    import hashlib

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.operators.analytics import (
        CUPED_SPLIT,
    )
    from reactor_window_like_flink_spark.sources.tables import load

    split = CUPED_SPLIT
    per: dict[int, list[float]] = {}
    for r in load(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    ).collect():
        x, y = per.setdefault(r["user_id"], [0.0, 0.0])
        if str(r["ts"]) < split:
            per[r["user_id"]][0] = x + r["value"]
        else:
            per[r["user_id"]][1] = y + r["value"]

    def arm(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2

    n = len(per)
    xs = [v[0] for v in per.values()]
    ys = [v[1] for v in per.values()]
    mx, my = sum(xs) / n, sum(ys) / n
    cov = sum(a * b for a, b in zip(xs, ys)) / n - mx * my
    varx = sum(a * a for a in xs) / n - mx * mx
    vary = sum(b * b for b in ys) / n - my * my
    theta = cov / varx
    rho = cov / (varx * vary) ** 0.5
    rows = {
        r["arm"]: r
        for r in entry_mod.queries()["q_cuped_adjust"](spark, sf_dir).collect()
    }
    assert set(rows) == {0, 1}
    assert abs(rows[0]["theta"] - rhalf(theta, 6)) <= 1e-4
    assert abs(rows[0]["rho"] - rhalf(rho, 6)) <= 1e-4
    tot_raw = tot_adj = 0.0
    for a in (0, 1):
        ua = [v for uid, v in per.items() if arm(uid) == a]
        m_y = sum(v[1] for v in ua) / len(ua)
        m_x = sum(v[0] for v in ua) / len(ua)
        adj = m_y - theta * (m_x - mx)
        assert rows[a]["n_users"] == len(ua)
        assert abs(rows[a]["mean_y"] - rhalf(m_y, 6)) <= 1e-4
        assert abs(rows[a]["mean_y_adj"] - rhalf(adj, 6)) <= 1e-4
        tot_raw += len(ua) * rows[a]["mean_y"]
        tot_adj += len(ua) * rows[a]["mean_y_adj"]
    # adjustment is mean-preserving over the pooled population
    assert abs(tot_raw - tot_adj) / abs(tot_raw) < 1e-3
    # the covariate is non-degenerate (rho defined and nonzero; the
    # random fixture only correlates through per-user event volume, so
    # the magnitude is small — the recompute above is the real check)
    assert rows[0]["rho"] is not None and rows[0]["rho"] != 0.0


def test_fdr_bh_closed_form(spark, sf_dir):
    """Per-type z, the polynomial p, ranks, and the BH step-up flags all
    recompute from the collected raw events (p compared against the
    true math.erfc value at the polynomial's stated 1.5e-7 accuracy)."""
    import hashlib
    import math

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.operators.analytics import (
        ABTEST_CONV_VALUE,
        FDR_Q,
    )
    from reactor_window_like_flink_spark.sources.tables import load

    conv: dict[tuple, int] = {}
    for r in load(spark, sf_dir, "events").select(
        "event_type", "user_id", "value"
    ).collect():
        k = (r["event_type"], r["user_id"])
        conv[k] = max(conv.get(k, 0), int(r["value"] > ABTEST_CONV_VALUE))

    def arm(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2

    stats: dict[str, list[int]] = {}
    for (et, uid), c in conv.items():
        s = stats.setdefault(et, [0, 0, 0, 0])
        g = arm(uid)
        s[g] += 1
        s[2 + g] += c
    ps = {}
    for et, (na, nb, ca, cb) in stats.items():
        if na == 0 or nb == 0 or (ca + cb) in (0, na + nb):
            ps[et] = (None, None)
            continue
        p = (ca + cb) / (na + nb)
        z = (ca / na - cb / nb) / math.sqrt(
            p * (1 - p) * (1 / na + 1 / nb)
        )
        ps[et] = (z, math.erfc(abs(z) / math.sqrt(2)))
    rows = {
        r["event_type"]: r
        for r in entry_mod.queries()["q_fdr_bh"](spark, sf_dir).collect()
    }
    assert set(rows) == set(stats)
    for et, (z, p) in ps.items():
        got = rows[et]
        if z is None:
            assert got["z_stat"] is None and got["p_value"] is None
        else:
            assert abs(got["z_stat"] - rhalf(z, 4)) <= 1e-4
            assert abs(got["p_value"] - p) <= 2e-6  # A&S 7.1.26 bound
    # BH step-up on the reported (rounded) p-values
    real = sorted(
        (r["p_value"], et) for et, r in rows.items() if r["p_value"] is not None
    )
    m = len(real)
    k = 0
    for i, (p, _) in enumerate(real, start=1):
        if p <= i * FDR_Q / m:
            k = i
    for et, r in rows.items():
        want = int(
            r["p_value"] is not None
            and (r["p_value"], et) in real[:k]
        )
        assert r["significant"] == want, et


@pytest.mark.parametrize("graph", ["fixture", "star"])
def test_degree_assortativity_closed_form(spark, sf_dir, tmp_path, graph):
    """r recomputes from the explicit edge list (symmetric endpoint
    Pearson over both orientations), on the fixture's graph and on the
    hot-key star."""
    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.sources.tables import load

    if graph == "star":
        _write_baskets(spark, _STAR_BASKETS, tmp_path)
        sf_dir = str(tmp_path)
    baskets: dict[int, set[int]] = {}
    for r in load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    ).collect():
        baskets.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    edges = set()
    for items in baskets.values():
        s = sorted(items)
        for i, u in enumerate(s):
            for v in s[i + 1 :]:
                edges.add((u, v))
    deg: dict[int, int] = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    xs, ys = [], []
    for u, v in edges:
        xs += [deg[u], deg[v]]
        ys += [deg[v], deg[u]]
    n = len(xs)
    mx = sum(xs) / n
    cov = sum(a * b for a, b in zip(xs, ys)) / n - mx * mx
    var = sum(a * a for a in xs) / n - mx * mx
    row = entry_mod.queries()["q_degree_assortativity"](spark, sf_dir).first()
    assert row["n_edges"] == len(edges)
    assert abs(row["mean_end_degree"] - rhalf(mx, 6)) <= 1e-6
    assert abs(row["assortativity"] - rhalf(cov / var, 6)) <= 1e-5


def test_seasonal_decompose_closed_form(spark, sf_dir):
    """Strength recomputes from the collected daily counts with the
    textbook decomposition (7-day centered MA, per-dow seasonal means,
    population variances)."""
    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.operators.analytics import (
        SEASONAL_MA,
    )
    from reactor_window_like_flink_spark.sources.tables import load
    from pyspark.sql import functions as F

    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("day", "ts").cast("date").alias("day"))
        .count()
        .collect()
    )
    series: dict[str, list] = {}
    for r in daily:
        series.setdefault(r["event_type"], []).append((r["day"], float(r["count"])))
    rows = {
        r["event_type"]: r
        for r in entry_mod.queries()["q_seasonal_decompose"](spark, sf_dir).collect()
    }
    k = SEASONAL_MA
    for et, pts in series.items():
        pts.sort()
        xs = [c for _, c in pts]
        days = [d for d, _ in pts]
        det, dows = [], []
        for i in range(len(xs)):
            if i - k < 0 or i + k >= len(xs):
                continue
            trend = sum(xs[i - k : i + k + 1]) / (2 * k + 1)
            det.append(xs[i] - trend)
            dows.append(days[i].isoweekday())
        if not det:
            assert et not in rows
            continue
        by_dow: dict[int, list[float]] = {}
        for d, v in zip(dows, det):
            by_dow.setdefault(d, []).append(v)
        rem = [
            v - sum(by_dow[d]) / len(by_dow[d]) for d, v in zip(dows, det)
        ]

        def varp(v):
            m = sum(v) / len(v)
            return sum((x - m) ** 2 for x in v) / len(v)

        r = rows[et]
        assert r["n_days"] == len(det)
        assert abs(r["var_detrended"] - rhalf(varp(det), 4)) <= 1e-3
        assert abs(r["var_remainder"] - rhalf(varp(rem), 4)) <= 1e-3
        want = max(0.0, 1.0 - varp(rem) / varp(det))
        assert abs(r["seasonal_strength"] - rhalf(want, 4)) <= 1e-3
        # removing the seasonal means can only cut variance
        assert r["var_remainder"] <= r["var_detrended"] + 1e-9


def test_welch_ttest_closed_form(spark, sf_dir):
    """t and the Welch-Satterthwaite df recompute from the collected
    per-user totals."""
    import hashlib
    import math

    import __spark_entry__ as entry_mod
    from reactor_window_like_flink_spark.sources.tables import load

    per: dict[int, float] = {}
    for r in load(spark, sf_dir, "events").select("user_id", "value").collect():
        per[r["user_id"]] = per.get(r["user_id"], 0.0) + r["value"]

    def arm(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:8], 16) % 2

    a = [v for u, v in per.items() if arm(u) == 0]
    b = [v for u, v in per.items() if arm(u) == 1]

    def mv(xs):
        m = sum(xs) / len(xs)
        return m, sum((x - m) ** 2 for x in xs) / (len(xs) - 1) / len(xs)

    ma, va = mv(a)
    mb, vb = mv(b)
    t = (ma - mb) / math.sqrt(va + vb)
    df = (va + vb) ** 2 / (va**2 / (len(a) - 1) + vb**2 / (len(b) - 1))
    row = entry_mod.queries()["q_welch_ttest"](spark, sf_dir).first()
    assert (row["n_a"], row["n_b"]) == (len(a), len(b))
    assert abs(row["mean_a"] - rhalf(ma, 6)) <= 1e-4
    assert abs(row["mean_b"] - rhalf(mb, 6)) <= 1e-4
    assert abs(row["t_stat"] - rhalf(t, 4)) <= 1e-3
    assert abs(row["df"] - rhalf(df, 2)) <= 0.05
    # Welch df sits between min(n)-1 and n_a+n_b-2
    assert min(len(a), len(b)) - 1 <= row["df"] <= len(a) + len(b) - 2
