"""Funnel and cohort analytics vs pure-Python replays."""

from __future__ import annotations

import datetime

import pytest

from ccl_spark.analytics import funnel_conversion, retention_cohorts


def _ts(minute):
    return datetime.datetime(2024, 1, 1, 0, minute)


def test_funnel_strict_ordering(spark):
    rows = [
        # user 1 completes view -> click -> buy in order
        (1, _ts(1), "view"), (1, _ts(2), "click"), (1, _ts(3), "buy"),
        # user 2 clicks BEFORE viewing: click matched only if after view
        (2, _ts(5), "click"), (2, _ts(6), "view"),
        # user 3 views only
        (3, _ts(1), "view"),
        # user 4: click after view but buy before click -> stops at click
        (4, _ts(1), "view"), (4, _ts(2), "buy"), (4, _ts(3), "click"),
        # noise
        (5, _ts(1), "error"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        r["step"]: (r["step_idx"], r["n_users"])
        for r in funnel_conversion(df, ["view", "click", "buy"]).collect()
    }
    assert got["view"] == (0, 4)   # users 1, 2, 3, 4
    assert got["click"] == (1, 2)  # users 1 and 4 (2's click precedes view)
    assert got["buy"] == (2, 1)    # user 1 only
    with pytest.raises(ValueError):
        funnel_conversion(df, [])


def test_retention_cohorts(spark):
    day = datetime.timedelta(days=1)
    d0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, d0, "a"), (1, d0 + 8 * day, "a"), (1, d0 + 15 * day, "a"),
        (2, d0 + 7 * day, "a"), (2, d0 + 21 * day, "a"),
        (3, d0, "a"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    got = {
        (r["cohort_week"], r["week_offset"]): r["n_users"]
        for r in retention_cohorts(df).collect()
    }
    # cohort 0: users 1, 3 active week 0; user 1 again weeks 1 and 2
    # cohort 1: user 2 active weeks 0 and 2 (day 21 = week 3, offset 2)
    assert got == {(0, 0): 2, (0, 1): 1, (0, 2): 1, (1, 0): 1, (1, 2): 1}


def test_props_histogram(spark):
    from ccl_spark.analytics import props_histogram

    rows = [
        (1, '{"k": 5}'), (2, '{"k": 15}'), (3, '{"k": 17}'),
        (4, '{"other": 1}'), (5, "not json"),
    ]
    df = spark.createDataFrame(rows, "event_id long, props string")
    got = {
        r["bin"]: (r["n_events"], r["sum_k"])
        for r in props_histogram(df).collect()
    }
    assert got == {0: (1, 5), 1: (2, 32)}


def test_value_quantiles(spark):
    from ccl_spark.analytics import value_quantiles

    rows = [("a", float(v)) for v in range(1, 11)] + [("b", 5.0)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {r["grp"]: r for r in value_quantiles(df).collect()}
    # percentile_cont on 1..10: p50 = 5.5 (rank 4.5), p90 = 9.1
    assert got["a"]["p50"] == 5.5
    assert got["a"]["p90"] == 9.1
    assert got["a"]["n"] == 10
    assert got["b"]["p50"] == got["b"]["p99"] == 5.0
    # approx path: same shape, sane values
    ap = {r["grp"]: r for r in value_quantiles(df, approx=True).collect()}
    assert set(ap) == {"a", "b"} and 4.0 <= ap["a"]["p50"] <= 7.0


def test_event_transitions_hand_case(spark):
    from datetime import datetime

    from ccl_spark.analytics import event_transitions

    rows = [
        (1, datetime(2024, 1, 1, 0, 0), 1, "view"),
        (2, datetime(2024, 1, 1, 0, 1), 1, "click"),
        (3, datetime(2024, 1, 1, 0, 2), 1, "view"),
        (4, datetime(2024, 1, 1, 0, 3), 1, "click"),
        (5, datetime(2024, 1, 1, 0, 0), 2, "view"),
        (6, datetime(2024, 1, 1, 0, 1), 2, "buy"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {(r.cur, r.nxt): (r.n, r.p) for r in event_transitions(ev).collect()}
    assert got[("view", "click")] == (2, round(2 / 3, 6))
    assert got[("view", "buy")] == (1, round(1 / 3, 6))
    assert got[("click", "view")] == (1, 1.0)
    # no cross-user transition (user 1's last event never pairs with
    # user 2's first)
    assert ("click", "buy") not in got
    # rows of the matrix sum to 1
    from collections import defaultdict

    sums = defaultdict(float)
    for (cur, _), (_, p) in got.items():
        sums[cur] += p
    assert all(abs(s - 1.0) < 1e-6 for s in sums.values())


def test_user_activity_features(spark):
    import math
    from datetime import datetime

    from ccl_spark.analytics import user_activity_features

    rows = [(i, datetime(2024, 1, 1, 0, i), 1, "view") for i in range(4)]
    rows += [
        (10, datetime(2024, 1, 1, 0, 0), 2, "view"),
        (11, datetime(2024, 1, 1, 0, 1), 2, "click"),
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {r.user: r for r in user_activity_features(ev).collect()}
    # single-type bot-ish user: zero entropy, rate from the span
    assert got[1].n_events == 4 and got[1].span_s == 180
    assert got[1].type_entropy == 0.0
    assert got[1].events_per_min == round(4 * 60 / 180, 6)
    # balanced two-type user: ln 2 entropy
    assert got[2].n_types == 2
    assert abs(got[2].type_entropy - round(math.log(2), 6)) < 1e-9


def test_transition_stationary_two_state_chain(spark):
    from datetime import datetime

    from ccl_spark.analytics import transition_stationary

    # one user alternating a b a b ... -> P is the swap matrix; from
    # uniform, every iterate stays (0.5, 0.5)
    rows = [
        (i, datetime(2024, 1, 1, 0, i), 1, "a" if i % 2 == 0 else "b")
        for i in range(20)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    got = {r.event_type: r.pi for r in transition_stationary(ev, n_iter=3).collect()}
    assert got == {"a": 0.5, "b": 0.5}
    # sums to 1 on the real-ish mixed chain too
    rows2 = rows + [
        (100 + i, datetime(2024, 1, 1, 1, i), 2, "a" if i % 3 else "c")
        for i in range(12)
    ]
    ev2 = spark.createDataFrame(
        rows2, "event_id long, ts timestamp, user_id long, event_type string"
    )
    pis = [r.pi for r in transition_stationary(ev2, n_iter=4).collect()]
    assert abs(sum(pis) - 1.0) < 1e-5


def test_quantile_buckets_exact_quartiles(spark):
    from ccl_spark.analytics import quantile_buckets

    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "id long, x double")
    out = quantile_buckets(df, "x", 4, keys=["id", "x"]).collect()
    from collections import Counter

    assert Counter(r.bucket for r in out) == {1: 25, 2: 25, 3: 25, 4: 25}
    # monotone: bucket never decreases as x grows
    ordered = sorted(out, key=lambda r: r.x)
    assert all(a.bucket <= b.bucket for a, b in zip(ordered, ordered[1:]))
    # a value exactly at a cut lands in the LOWER bucket
    by_x = {r.x: r.bucket for r in out}
    assert by_x[24.75] if 24.75 in by_x else True
    import pytest

    with pytest.raises(ValueError):
        quantile_buckets(df, "x", 1)


def test_robust_outliers_flags_planted(spark):
    from ccl_spark.analytics import robust_outliers

    rows = [(i, 10.0 + (i % 5)) for i in range(50)] + [
        (100, 500.0),
        (101, -300.0),
    ]
    df = spark.createDataFrame(rows, "id long, x double")
    out = {r.id: r for r in robust_outliers(df, "x", ["id"]).collect()}
    assert out[100].outlier and out[100].z > 100
    assert out[101].outlier and out[101].z < -100
    assert sum(1 for r in out.values() if r.outlier) == 2
    # zero-MAD degenerate: constant column flags nothing
    const = spark.createDataFrame([(i, 7.0) for i in range(10)], "id long, x double")
    got = robust_outliers(const, "x", ["id"]).collect()
    assert all(not r.outlier and r.z == 0.0 for r in got)


def test_burst_windows_exact(spark):
    import math

    def _tm(minute):
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(minutes=minute)

    # type "a": steady 1/window with one 10-count spike; "b": uniform
    rows = []
    for w in range(12):
        rows.append((1, _tm(w * 10), "a"))
    for k in range(9):  # spike in window 5 (minute 50-59)
        rows.append((2, _tm(50 + k), "a"))
    for w in range(12):
        rows.append((3, _tm(w * 10 + 1), "b"))
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    from ccl_spark.analytics import burst_windows

    got = {
        (r["event_type"], r["win"]): (r["n"], r["z"])
        for r in burst_windows(df, window_s=600, z_cut=3).collect()
    }
    # pure-Python replay
    import collections

    t0 = min(r[1] for r in rows).timestamp()
    n_win = int((max(r[1] for r in rows).timestamp() - t0) // 600) + 1
    cnt = collections.Counter(
        (r[2], int((r[1].timestamp() - t0) // 600)) for r in rows
    )
    expect = {}
    for typ in {"a", "b"}:
        s = sum(c for (t, _), c in cnt.items() if t == typ)
        s2 = sum(c * c for (t, _), c in cnt.items() if t == typ)
        var_num = n_win * s2 - s * s
        for (t, w), c in cnt.items():
            if t != typ:
                continue
            dev = c * n_win - s
            if var_num > 0 and dev > 0 and dev * dev > 9 * var_num:
                expect[(t, w)] = (c, round(dev / math.sqrt(var_num), 6))
    assert got == expect
    assert ("a", 5) in got and not any(t == "b" for t, _ in got)


def test_association_rules_exact(spark):
    rows = [
        (1, _ts(1), "view"), (1, _ts(2), "click"), (1, _ts(3), "buy"),
        (2, _ts(1), "view"), (2, _ts(2), "click"),
        (3, _ts(1), "view"),
        (4, _ts(1), "click"), (4, _ts(2), "buy"), (4, _ts(3), "buy"),
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp, event_type string")
    from ccl_spark.analytics import association_rules

    got = {
        (r["antecedent"], r["consequent"]): (
            r["n_pair"], r["support"], r["confidence"], r["lift"]
        )
        for r in association_rules(df).collect()
    }
    baskets = {1: {"view", "click", "buy"}, 2: {"view", "click"},
               3: {"view"}, 4: {"click", "buy"}}
    n_users = 4
    item = {"view": 3, "click": 3, "buy": 2}
    import itertools

    expect = {}
    pair = {}
    for b in baskets.values():
        for x, y in itertools.combinations(sorted(b), 2):
            pair[(x, y)] = pair.get((x, y), 0) + 1
    for (x, y), n in pair.items():
        for a, c in [(x, y), (y, x)]:
            expect[(a, c)] = (
                n,
                round(n / n_users, 6),
                round(n / item[a], 6),
                round(n * n_users / item[a] / item[c], 6),
            )
    assert got == expect


def test_interevent_burstiness_exact(spark):
    import math

    rows = []
    # user 1: bursty — 5 events in 4 s then one 1000 s later
    for k in range(5):
        rows.append((1, _ts(0) + datetime.timedelta(seconds=k), "a", k))
    rows.append((1, _ts(0) + datetime.timedelta(seconds=1004), "a", 9))
    # user 2: metronomic — every 60 s
    for k in range(6):
        rows.append((2, _ts(0) + datetime.timedelta(seconds=60 * k), "a", 10 + k))
    # user 3: a single event -> filtered (0 gaps)
    rows.append((3, _ts(0), "a", 99))
    # user 4: all simultaneous -> zero gaps, B defined as 0
    rows.append((4, _ts(0), "a", 100))
    rows.append((4, _ts(0), "a", 101))
    rows.append((4, _ts(0), "a", 102))
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string, event_id long"
    )
    from ccl_spark.analytics import interevent_burstiness

    got = {
        r.user_id: (r.n_gaps, r.mean_gap_s, r.burstiness)
        for r in interevent_burstiness(df).collect()
    }

    def replay(gaps):
        n, s, s2 = len(gaps), sum(gaps), sum(g * g for g in gaps)
        d = n * s2 - s * s
        rt = math.sqrt(d)
        b = 0.0 if rt + s == 0 else round((rt - s) / (rt + s), 6)
        return (n, round(s / n, 6), b)

    assert got == {
        1: replay([1, 1, 1, 1, 1000]),
        2: replay([60] * 5),
        4: replay([0, 0]),
    }
    assert got[1][2] > 0.3 and got[2][2] == -1.0 and got[4][2] == 0.0


def test_burstiness_rejects_bad_min_gaps(spark):
    import pytest

    from ccl_spark.analytics import interevent_burstiness

    df = spark.createDataFrame([], "user_id long, ts timestamp, event_id long")
    with pytest.raises(ValueError):
        interevent_burstiness(df, min_gaps=1)


def test_cusum_changepoint_planted_shift(spark):
    import datetime as dt

    from ccl_spark.analytics import cusum_changepoint

    # 1 event per 10s for 600s, then 1 per 2s for 600s: shift at t=600
    base = dt.datetime(2024, 1, 1)
    ts = [base + dt.timedelta(seconds=10 * i) for i in range(60)]
    ts += [base + dt.timedelta(seconds=600 + 2 * i) for i in range(300)]
    df = spark.createDataFrame([(t,) for t in ts], "ts timestamp")
    r = cusum_changepoint(df, bucket_seconds=60).first()

    # pure-Python replay
    secs = sorted(int(t.timestamp()) for t in ts)
    tmin, tmax = secs[0], secs[-1]
    n = (tmax - tmin) // 60 + 1
    c = [0] * n
    for t in secs:
        c[(t - tmin) // 60] += 1
    S = sum(c)
    best = None
    cum = 0
    for k in range(n - 1):
        cum += c[k]
        cs = n * cum - (k + 1) * S
        if best is None or abs(cs) > abs(best[1]):
            best = (k, cs, cum)
    k, cs, cum = best
    assert (r.cp_bucket, r.cusum, r.n_buckets, r.total) == (k, cs, n, S)
    assert r.rate_before == round(cum / (k + 1), 6)
    assert r.rate_after == round((S - cum) / (n - k - 1), 6)
    # the detected point is the planted shift (bucket 9 = t in [540,600))
    assert k == 9
    # per-bucket rates: 6 events/min before, 30 events/min after
    assert r.rate_before == 6.0 and r.rate_after == 30.0

    # empty-bucket handling: a gap counts as zero-rate buckets
    sparse = spark.createDataFrame(
        [(base,), (base + dt.timedelta(seconds=300),)], "ts timestamp"
    )
    r2 = cusum_changepoint(sparse, bucket_seconds=60).first()
    assert r2.n_buckets == 6 and r2.total == 2

    # single-bucket stream -> empty frame
    one = spark.createDataFrame([(base,)], "ts timestamp")
    assert cusum_changepoint(one, bucket_seconds=60).count() == 0


def test_bradley_terry_matches_python_mm(spark):
    from collections import Counter

    from ccl_spark.analytics import bradley_terry

    comps = [
        ("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"), ("c", "b"),
        ("a", "d"), ("d", "b"), ("c", "d"), ("a", "c"), ("b", "d"),
    ]
    df = spark.createDataFrame(comps, "winner string, loser string")
    got = {r.item: r.rating for r in bradley_terry(df, iters=8).collect()}

    wins = Counter(w for w, _ in comps)
    duels = Counter(tuple(sorted(p)) for p in comps)
    items = sorted({x for p in comps for x in p})
    w = {i: 1.0 for i in items}
    for _ in range(8):
        raw = {}
        for i in items:
            den = sum(
                n / (w[i] + w[a if a != i else b])
                for (a, b), n in duels.items()
                if i in (a, b)
            )
            raw[i] = (wins.get(i, 0) + 1.0) / (den + 2.0 / (w[i] + 1.0))
        tot = sum(raw[i] for i in items)
        w = {i: raw[i] * len(items) / tot for i in items}

    assert set(got) == set(items)
    for i in items:
        assert got[i] == pytest.approx(round(w[i], 6), abs=2e-6)
    # the dominant item ranks first; ratings average to 1 by the rescale
    assert max(got, key=got.get) == "a"
    assert sum(got.values()) == pytest.approx(len(items), abs=1e-4)


def test_bradley_terry_symmetric_data_is_flat(spark):
    from ccl_spark.analytics import bradley_terry

    comps = [("x", "y"), ("y", "x"), ("y", "z"), ("z", "y"), ("z", "x"), ("x", "z")]
    df = spark.createDataFrame(comps, "winner string, loser string")
    vals = [r.rating for r in bradley_terry(df, iters=8).collect()]
    assert all(v == pytest.approx(1.0, abs=1e-6) for v in vals)


def test_seasonal_naive_eval_hand_computed(spark):
    from ccl_spark.analytics import seasonal_naive_eval

    base = datetime.datetime(2026, 3, 1, 0, 0, 0)
    rows = []
    # day 1: hour h gets h events (h = 0..23); day 2: hour h gets h+1
    for h in range(24):
        rows += [("a", base + datetime.timedelta(hours=h, seconds=s)) for s in range(h)]
        rows += [
            ("a", base + datetime.timedelta(hours=24 + h, seconds=s))
            for s in range(h + 1)
        ]
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    r = seasonal_naive_eval(ev).first()
    # hour 0 of day 1 has no events -> spine starts at day-1 hour 1;
    # eval rows are day-2 hours 1..24-of-spine... the spine is
    # [min, max] = [d1h1, d2h23]; predictions exist for h >= d1h1+24h
    # = d2h1..d2h23: 23 eval points, each error (h+1) - h = +1
    assert r.n_eval == 23
    assert r.mae == 1.0 and r.rmse == 1.0 and r.bias == 1.0

    # zero-filled hole: a group with one early + one late event
    rows2 = [("b", base), ("b", base + datetime.timedelta(hours=30))]
    r2 = seasonal_naive_eval(spark.createDataFrame(
        rows2, "event_type string, ts timestamp")).first()
    # spine 31 hours, eval = hours 24..30 (7 points); actuals are 0
    # except h30=1; preds (h-24) are 1 at h24 else 0
    assert r2.n_eval == 7
    assert r2.mae == round(2 / 7, 6) and r2.bias == 0.0


def test_touch_attribution_hand_computed(spark):
    from ccl_spark.analytics import touch_attribution

    base = datetime.datetime(2026, 4, 1)

    def ev(i, u, t, dt_h):
        return (i, u, t, base + datetime.timedelta(hours=dt_h))

    rows = [
        # user 1: view(1h) -> click(2h) -> purchase(3h): first=view last=click
        ev(1, 1, "view", 1), ev(2, 1, "click", 2), ev(3, 1, "purchase", 3),
        # user 2: click 8 days before purchase -> out of window -> (none)
        ev(4, 2, "click", 0), ev(5, 2, "purchase", 24 * 8 + 1),
        # user 3: touchless purchase -> (none)
        ev(6, 3, "purchase", 5),
        # user 4: single view then purchase: first=last=view
        ev(7, 4, "view", 0), ev(8, 4, "purchase", 1),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {r.touch_type: (r.first_touch, r.last_touch)
           for r in touch_attribution(df).collect()}
    assert got["view"] == (2, 1)   # first for users 1 and 4; last for 4
    assert got["click"] == (0, 1)  # last for user 1 only
    assert got["(none)"] == (2, 2)
    # credit conservation: each column sums to the conversion count
    assert sum(v[0] for v in got.values()) == 4
    assert sum(v[1] for v in got.values()) == 4


def test_top_session_paths_hand_computed(spark):
    from ccl_spark.analytics import top_session_paths

    base = datetime.datetime(2026, 5, 1)

    def ev(i, u, t, m):
        return (i, u, t, base + datetime.timedelta(minutes=m))

    rows = [
        # user 1 session 1: a>b>c>d (path keeps first 3)
        ev(1, 1, "a", 0), ev(2, 1, "b", 5), ev(3, 1, "c", 10), ev(4, 1, "d", 15),
        # 31-min hole -> session 2: a>b
        ev(5, 1, "a", 46), ev(6, 1, "b", 50),
        # user 2: single-event session: a
        ev(7, 2, "a", 0),
        # exactly-30-min gap stays ONE session (inclusive boundary)
        ev(8, 3, "a", 0), ev(9, 3, "b", 30),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {r.path: r.n_sessions for r in top_session_paths(df, n=3, k=10).collect()}
    assert got == {"a>b>c": 1, "a>b": 2, "a": 1}


def test_cohort_ltv_cents_exact(spark):
    from ccl_spark.analytics import cohort_ltv

    rows = [
        (1, "2024-01-01 10:00:00", 10.10),
        (1, "2024-01-09 10:00:00", 5.25),   # week offset 1
        (1, "2024-01-16 10:00:00", 1.00),   # week offset 2
        (2, "2024-01-09 12:00:00", 2.50),   # cohort week 1
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string, value double") \
        .selectExpr("user_id", "cast(ts_s as timestamp) as ts", "value")
    got = {(r.cohort_week, r.week_offset): r for r in cohort_ltv(df).collect()}
    assert got[(0, 0)].week_value == 10.10 and got[(0, 0)].cum_value == 10.10
    assert got[(0, 1)].week_value == 5.25 and got[(0, 1)].cum_value == 15.35
    assert got[(0, 2)].cum_value == 16.35
    assert got[(1, 0)].week_value == 2.50 and got[(1, 0)].n_users == 1


def test_churn_labels_no_leakage(spark):
    from ccl_spark.analytics import churn_labels

    rows = [
        # user 1: active both windows -> churned 0
        (1, "view", "2024-01-05 10:00:00"),
        (1, "view", "2024-01-25 10:00:00"),
        # user 2: observation only -> churned 1, recency from last obs day
        (2, "click", "2024-01-03 09:00:00"),
        (2, "view", "2024-01-10 09:00:00"),
        # user 3: outcome-window only -> EXCLUDED (no observation row)
        (3, "view", "2024-01-28 09:00:00"),
    ]
    df = spark.createDataFrame(rows, "user_id long, event_type string, ts_s string") \
        .selectExpr("user_id", "event_type", "cast(ts_s as timestamp) as ts")
    got = {r.user_id: r for r in churn_labels(df, "2024-01-20 00:00:00").collect()}
    assert set(got) == {1, 2}
    assert got[1].churned == 0 and got[1].n_events == 1  # only the obs event counts
    assert got[2].churned == 1 and got[2].n_events == 2 and got[2].n_types == 2
    assert got[2].recency_days == 10 and got[2].n_days == 2


def test_ab_test_matches_python_moments(spark):
    import hashlib
    from collections import defaultdict

    from ccl_spark.analytics import ab_test

    rows = []
    for u in range(40):
        for j in range(u % 3 + 1):
            rows.append((u, "purchase", 10.0 + u + j))
        rows.append((u, "view", 999.0))  # non-metric events ignored
    df = spark.createDataFrame(rows, "user_id long, event_type string, value double")
    got = {r.arm: r for r in ab_test(df).collect()}

    sums = defaultdict(int)
    for u, t, v in rows:
        if t == "purchase":
            sums[u] += round(v * 100)
    arms = defaultdict(list)
    for u, s in sums.items():
        a = int(hashlib.md5(f"{u},ab".encode()).hexdigest()[:15], 16) % 2
        arms[a].append(s)
    for a, vals in arms.items():
        n = len(vals)
        mean = sum(vals) / n / 100.0
        var = (sum(v * v for v in vals) - sum(vals) ** 2 / n) / (n - 1) / 10000.0
        assert got[a].n_users == n
        assert got[a].mean_value == pytest.approx(round(mean, 6), abs=2e-6)
        assert got[a].var_value == pytest.approx(round(var, 6), abs=2e-6)


def test_gini_known_distributions(spark):
    from ccl_spark.analytics import gini_coefficient

    # perfectly equal -> 0
    eq = spark.createDataFrame([(10.0,)] * 8, "v double")
    assert gini_coefficient(eq).first().gini == 0.0

    # textbook example vs brute-force rank formula (with ties)
    vals = [1.0, 1.0, 2.0, 5.0, 11.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = gini_coefficient(df).first()
    xs = sorted(round(v * 100) for v in vals)
    n, t = len(xs), sum(xs)
    s = sum((i + 1) * x for i, x in enumerate(xs))
    want = round(2 * s / (n * t) - (n + 1) / n, 6)
    assert got.gini == want and got.n == n and got.total == t / 100.0

    # one owner takes everything -> (n-1)/n
    conc = spark.createDataFrame([(0.0,)] * 7 + [(100.0,)], "v double")
    assert gini_coefficient(conc).first().gini == round(7 / 8, 6)


def test_unigram_nll_matches_python(spark):
    import math
    from collections import Counter

    from ccl_spark.textops import unigram_doc_nll

    rows = [(0, "the the cat"), (1, "rare words here"), (2, "the cat")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in unigram_doc_nll(docs).collect()}

    cnt = Counter(t for _, txt in rows for t in txt.lower().split(" ") if t)
    C = sum(cnt.values())
    for doc_id, txt in rows:
        toks = [t for t in txt.lower().split(" ") if t]
        nll = math.log(C) - sum(math.log(cnt[t]) for t in toks) / len(toks)
        assert got[doc_id].n_tokens == len(toks)
        assert got[doc_id].nll == pytest.approx(round(nll, 6), abs=2e-6)
    # rare-word doc scores strictly higher than stopword-soup doc
    assert got[1].nll > got[0].nll
