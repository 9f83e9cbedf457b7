"""Unit tests for the sequence/itemset batch (operators/sequences.py):
M4 downsampling, pointer-doubling tree depth, frequent pairs with lift,
Markov transitions and the integer stationary vector — planted inputs
checked against brute-force pure-Python models."""

from datetime import datetime, timedelta

PPM = 1_000_000
PPB = 1_000_000_000

T0 = datetime(2024, 1, 1)


def _ts(seconds):
    return T0 + timedelta(seconds=seconds)


def test_m4_keeps_first_last_min_max(spark):
    from etl_healthcare_spark.operators.sequences import m4_downsample

    # bucket width 10s; series 'a' bucket 0 has 4 points, bucket 1 has 1
    rows = [
        (1, "a", _ts(0), 5.00),
        (2, "a", _ts(3), 1.25),   # min
        (3, "a", _ts(5), 9.75),   # max
        (4, "a", _ts(9), 7.00),   # last
        (5, "a", _ts(12), 2.00),
        (6, "b", _ts(1), 3.00),
    ]
    df = spark.createDataFrame(rows, "rid long, series string, ts timestamp, value double")
    out = {
        (r.series, r.bucket): r
        for r in m4_downsample(
            df, "series", "ts", "CAST(floor(value * 100) AS BIGINT)", "rid", 10_000_000
        ).collect()
    }
    base = int(T0.timestamp()) * 1_000_000
    a0 = out[("a", base // 10_000_000)]
    assert (a0.t_first_us, a0.v_first_c) == (base, 500)
    assert (a0.t_last_us, a0.v_last_c) == (base + 9_000_000, 700)
    assert (a0.v_min_c, a0.v_max_c, a0.n) == (125, 975, 4)
    a1 = out[("a", (base + 12_000_000) // 10_000_000)]
    assert (a1.v_first_c, a1.v_last_c, a1.n) == (200, 200, 1)
    assert ("b", (base + 1_000_000) // 10_000_000) in out
    assert len(out) == 3


def test_m4_tie_on_ts_breaks_by_id(spark):
    from etl_healthcare_spark.operators.sequences import m4_downsample

    rows = [(2, "s", _ts(0), 8.0), (1, "s", _ts(0), 4.0)]
    df = spark.createDataFrame(rows, "rid long, series string, ts timestamp, value double")
    r = m4_downsample(
        df, "series", "ts", "CAST(floor(value * 100) AS BIGINT)", "rid", 60_000_000
    ).collect()[0]
    # equal timestamps: rid 1 is first, rid 2 is last — a total order
    assert r.v_first_c == 400 and r.v_last_c == 800


def test_tree_depth_chain_and_forest(spark):
    from etl_healthcare_spark.operators.sequences import tree_depth_doubling

    # chain 1 <- 2 <- ... <- 10 (depth k-1), plus a second root 100 with
    # child 101: pointer doubling must resolve depth 9 in ceil(log2 9)=4
    # jumps, and keep the two trees' roots separate
    rows = [(k, k - 1 if k > 1 else 1) for k in range(1, 11)]
    rows += [(100, 100), (101, 100)]
    df = spark.createDataFrame(rows, "node long, parent long")
    out = {r.node: (r.root, r.depth) for r in tree_depth_doubling(df).collect()}
    for k in range(1, 11):
        assert out[k] == (1, k - 1), k
    assert out[100] == (100, 0)
    assert out[101] == (100, 1)


def test_frequent_pairs_support_lift_and_basket_cap(spark):
    from etl_healthcare_spark.operators.sequences import frequent_pairs

    # baskets: {x,y} twice, {x,y,z} once, mega-basket dropped by the cap
    rows = [
        (1, "x"), (1, "y"),
        (2, "x"), (2, "y"),
        (3, "x"), (3, "y"), (3, "z"),
        (4, "m1"), (4, "m2"), (4, "m3"), (4, "m4"),  # size 4 > cap 3 -> dropped
    ]
    df = spark.createDataFrame(rows, "bk long, item string")
    out = {(r.i, r.j): r for r in frequent_pairs(df, "bk", "item", 2, max_basket=3).collect()}
    assert set(out) == {("x", "y")}
    r = out[("x", "y")]
    # 3 kept baskets; supp x=3, y=3; support 3 -> lift = 3*3*1e6 // 9
    assert r.support == 3
    assert r.lift_ppm == (3 * 3 * PPM) // (3 * 3)
    # unfiltered pairs include (x,z) support 1 — excluded by min_support
    low = {(r.i, r.j) for r in frequent_pairs(df, "bk", "item", 1, max_basket=3).collect()}
    assert ("x", "z") in low and ("y", "z") in low and ("m1", "m2") not in low


def test_markov_transitions_ppm(spark):
    from etl_healthcare_spark.operators.sequences import markov_transitions

    # user 1: a -> b -> a -> c ; user 2: b -> a   (ordered by ts, id)
    rows = [
        (1, 1, _ts(0), "a"), (2, 1, _ts(1), "b"), (3, 1, _ts(2), "a"), (4, 1, _ts(3), "c"),
        (5, 2, _ts(0), "b"), (6, 2, _ts(1), "a"),
    ]
    df = spark.createDataFrame(rows, "rid long, uid long, ts timestamp, st string")
    out = {(r.prev, r.cur): r for r in markov_transitions(df, "uid", "ts", "st", "rid").collect()}
    assert out[("a", "b")].n == 1 and out[("a", "b")].p_ppm == PPM // 2
    assert out[("a", "c")].n == 1 and out[("a", "c")].p_ppm == PPM // 2
    assert out[("b", "a")].n == 2 and out[("b", "a")].p_ppm == PPM
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "a")}


def _py_stationary(trans, iters):
    """Pure-Python model of the exact integer power iteration."""
    states = sorted({p for p, _ in trans} | {c for _, c in trans})
    from collections import Counter

    n = Counter()
    tot = Counter()
    for (p, c), k in trans.items():
        n[(p, c)] = k
        tot[p] += k
    p_ppm = {(p, c): (k * PPM) // tot[p] for (p, c), k in n.items()}
    v = {s: PPB // len(states) for s in states}
    for _ in range(iters):
        nv = {}
        for (p, c), q in p_ppm.items():
            if p in v:
                nv[c] = nv.get(c, 0) + v[p] * q
        v = {c: x // PPM for c, x in nv.items()}
    return v


def test_markov_stationary_matches_python_model(spark):
    from etl_healthcare_spark.operators.sequences import (
        markov_stationary_ppb,
        markov_transitions,
    )

    # two-state chain heavily biased toward 'b' + a 'c' sink feeder
    rows = []
    rid = 0
    seq = ["a", "b", "b", "a", "b", "b", "b", "c", "b", "b"]
    for uid in (1, 2):
        for i, s in enumerate(seq):
            rows.append((rid, uid, _ts(i), s))
            rid += 1
    df = spark.createDataFrame(rows, "rid long, uid long, ts timestamp, st string")
    t = markov_transitions(df, "uid", "ts", "st", "rid")
    got = {r.state: r.mass_ppb for r in markov_stationary_ppb(t, iters=6).collect()}
    trans = {(r.prev, r.cur): r.n for r in t.collect()}
    assert got == _py_stationary(trans, 6)


def test_m4_plan_is_single_exchange_no_join(spark):
    """M4 must stay one partial-aggregable shuffle: no window, no join."""
    import io
    import contextlib
    import re

    from etl_healthcare_spark.plans.registry import REGISTRY

    df = REGISTRY["ts_m4_downsample"].fn(spark, "/root/testdata/sf0.001")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.MULTILINE)) == 1
    assert "Join" not in plan and "Window" not in plan
    assert "partial_" in plan  # map-side combine before the shuffle


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=25, unique=True)
)
def test_tree_depth_property_random_forests(spark, nodes):
    """Pointer doubling == the naive parent walk on arbitrary random forests
    (parent = some smaller node or self)."""
    from etl_healthcare_spark.operators.sequences import tree_depth_doubling

    # deterministic pseudo-random parent: smaller node (DAG) or self (root)
    nodes = sorted(nodes)
    parent = {}
    for i, k in enumerate(nodes):
        cands = [p for p in nodes if p < k]
        parent[k] = cands[(k * 7 + 3) % len(cands)] if cands and (k % 3 != 0) else k

    def walk(k):
        d, root = 0, k
        while parent[root] != root:
            root = parent[root]
            d += 1
        return root, d

    df = spark.createDataFrame([(k, parent[k]) for k in nodes], "node long, parent long")
    got = {r.node: (r.root, r.depth) for r in tree_depth_doubling(df).collect()}
    assert got == {k: walk(k) for k in nodes}


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=6), st.integers(min_value=0, max_value=8)),
        min_size=1,
        max_size=40,
    )
)
def test_frequent_pairs_property_brute_force(spark, rows):
    """In-task pair expansion == the brute-force per-basket pair count,
    including the distinct-within-basket rule and the basket cap."""
    from collections import Counter

    from etl_healthcare_spark.operators.sequences import frequent_pairs

    cap = 4
    baskets = {}
    for bk, item in rows:
        baskets.setdefault(bk, set()).add(item)
    kept = {bk: its for bk, its in baskets.items() if len(its) <= cap}
    want = Counter()
    for its in kept.values():
        s = sorted(its)
        for i in range(len(s)):
            for j in range(i + 1, len(s)):
                want[(s[i], s[j])] += 1
    df = spark.createDataFrame(rows, "bk long, item long")
    got = {
        (r.i, r.j): r.support
        for r in frequent_pairs(df, "bk", "item", min_support=1, max_basket=cap).collect()
    }
    assert got == dict(want)
