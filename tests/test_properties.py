"""Property-based tests (SURVEY.md §5 strategy 3, hypothesis).

Each example runs real Spark jobs, so examples are few and deadlines off;
the value is the generated edge cases (empty frames, all-null measures,
single-row bins, equal timestamps), not volume.
"""

import datetime as dt

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from delfos_etl_pipeline_spark.plans.pipeline import to_long, windowed_stats

BASE = dt.datetime(2025, 8, 10, 0, 0, 0)

# (minute offset, wind, power) — None models sensor dropout
row_st = st.tuples(
    st.integers(min_value=0, max_value=59),
    st.one_of(st.none(), st.floats(min_value=0, max_value=25, allow_nan=False)),
    st.one_of(st.none(), st.floats(min_value=0, max_value=5000, allow_nan=False)),
)

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _frame(spark, rows):
    data = [
        (BASE + dt.timedelta(minutes=m), w, p) for m, w, p in rows
    ]
    return spark.createDataFrame(
        data, "timestamp timestamp, wind_speed double, power double"
    )


@given(rows=st.lists(row_st, min_size=0, max_size=40))
@SLOW
def test_window_agg_invariants(spark, rows):
    df = _frame(spark, rows)
    agg = windowed_stats(df, "timestamp", ("wind_speed", "power")).collect()
    # bins tile 10-minute marks; per-measure: min <= mean <= max,
    # std is NULL iff the bin holds exactly one non-null value
    per_bin = {}
    for m, w, p in rows:
        b = (m // 10) * 10
        per_bin.setdefault(b, {"wind_speed": [], "power": []})
        if w is not None:
            per_bin[b]["wind_speed"].append(w)
        if p is not None:
            per_bin[b]["power"].append(p)
    for r in agg:
        assert r.window_start.minute % 10 == 0 and r.window_start.second == 0
        vals = per_bin[r.window_start.minute]
        for m in ("wind_speed", "power"):
            lo, mean, hi, std = (
                r[f"{m}_min"], r[f"{m}_mean"], r[f"{m}_max"], r[f"{m}_std"]
            )
            n = len(vals[m])
            if n == 0:
                assert mean is None and lo is None and hi is None and std is None
            else:
                assert lo <= mean <= hi
                assert lo == pytest.approx(min(vals[m]))
                assert hi == pytest.approx(max(vals[m]))
                assert (std is None) == (n == 1)


@given(rows=st.lists(row_st, min_size=1, max_size=30))
@SLOW
def test_unpivot_pivot_roundtrip(spark, rows):
    # distinct minutes so timestamp is a key
    seen, uniq = set(), []
    for m, w, p in rows:
        if m not in seen:
            seen.add(m)
            uniq.append((m, w, p))
    df = _frame(spark, uniq)
    long = to_long(df, ["timestamp"], ["wind_speed", "power"], drop_null_values=False)
    back = (
        long.groupBy("timestamp")
        .pivot("signal_name", ["wind_speed", "power"])
        .agg(F.first("value"))
    )
    got = {r.timestamp: (r.wind_speed, r.power) for r in back.collect()}
    want = {
        BASE + dt.timedelta(minutes=m): (w, p) for m, w, p in uniq
    }
    assert got == want


@given(rows=st.lists(row_st, min_size=0, max_size=30))
@SLOW
def test_long_rows_count_conservation(spark, rows):
    """unpivot(drop_null=True) emits exactly one row per non-null measure
    value — the A2/R1 interaction the reference relies on."""
    df = _frame(spark, rows)
    long = to_long(df, ["timestamp"], ["wind_speed", "power"], drop_null_values=True)
    expect = sum((w is not None) + (p is not None) for _, w, p in rows)
    assert long.count() == expect


edge_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=10),
        st.integers(min_value=0, max_value=10),
    ).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=8,
)

# Each example runs rounds ∝ graph diameter as separate Spark jobs —
# keep the example budget tighter than SLOW or this one test dominates
# the whole suite's wall-clock.
CC_SETTINGS = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@CC_SETTINGS
@given(edges=edge_st)
def test_connected_components_matches_union_find(spark, edges):
    """Distributed label propagation ≡ classic union-find on arbitrary
    small graphs (chains, stars, parallel edges, self-symmetric dups)."""
    from delfos_etl_pipeline_spark.dedup.clusters import connected_components

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    want = {n: find(n) for n in parent}

    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    got = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert got == want


# --- funnel vs a per-user Python simulation --------------------------------

STEPS = ("a", "b", "c")

funnel_ev_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),            # user
        st.integers(min_value=0, max_value=30),           # minute
        st.sampled_from(["a", "b", "c", "x"]),            # event type
    ),
    min_size=0,
    max_size=40,
)


def _funnel_ref(events):
    """Per-user forward scan: flag_i becomes 1 on a step_i event when
    flag_{i-1} is already 1 (order: ts, then sequence id)."""
    per_user: dict[int, list] = {}
    for sid, (u, m, t) in enumerate(events):
        per_user.setdefault(u, []).append((m, sid, t))
    counts = [0] * len(STEPS)
    n_users = 0
    for u, evs in per_user.items():
        n_users += 1
        flags = [0] * len(STEPS)
        for m, sid, t in sorted(evs):
            for i, step in enumerate(STEPS):
                if t == step and (i == 0 or flags[i - 1] == 1):
                    flags[i] = 1
        for i in range(len(STEPS)):
            counts[i] += flags[i]
    return n_users, counts


@given(events=funnel_ev_st)
@SLOW
def test_funnel_matches_reference_simulation(spark, events):
    from delfos_etl_pipeline_spark.operators.funnel import funnel_stages

    n_users_ref, counts_ref = _funnel_ref(events)
    if not events:
        return
    df = spark.createDataFrame(
        [
            (u, BASE + dt.timedelta(minutes=m), t, sid)
            for sid, (u, m, t) in enumerate(events)
        ],
        "u bigint, ts timestamp, t string, sid bigint",
    )
    (row,) = funnel_stages(df, "u", "ts", "t", STEPS, "sid").collect()
    assert row["n_users"] == n_users_ref
    for i in range(len(STEPS)):
        assert row[f"n_step_{i + 1}"] == counts_ref[i], (events, counts_ref)


# --- merge_upsert vs a dict replay ----------------------------------------

chg_st = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),            # key
        st.integers(min_value=0, max_value=20),           # ts minute
        st.sampled_from(["U", "D"]),
        st.floats(min_value=0, max_value=100, allow_nan=False),
    ),
    min_size=0,
    max_size=25,
)
base_st = st.dictionaries(
    st.integers(min_value=0, max_value=5),
    st.floats(min_value=0, max_value=100, allow_nan=False),
    max_size=4,
)


@given(base=base_st, changes=chg_st)
@SLOW
def test_merge_upsert_matches_dict_replay(spark, base, changes):
    from delfos_etl_pipeline_spark.operators.cdc import merge_upsert

    # reference: latest change per key wins (ts, then sid)
    state = dict(base)
    last: dict = {}
    for sid, (k, m, op, v) in enumerate(changes):
        cur = last.get(k)
        if cur is None or (m, sid) > (cur[0], cur[1]):
            last[k] = (m, sid, op, v)
    for k, (m, sid, op, v) in last.items():
        if op == "D":
            state.pop(k, None)
        else:
            state[k] = v

    base_df = spark.createDataFrame(
        [(k, v) for k, v in base.items()] or [(None, None)],
        "k bigint, v double",
    ).filter(F.col("k").isNotNull())
    chg_df = spark.createDataFrame(
        [(k, m, sid, op, v) for sid, (k, m, op, v) in enumerate(changes)]
        or [(None, None, None, None, None)],
        "k bigint, m bigint, sid bigint, op string, v double",
    ).filter(F.col("k").isNotNull())
    out = {
        r["k"]: r["v"]
        for r in merge_upsert(base_df, chg_df, "k", "op", ("m", "sid")).collect()
    }
    assert out == state, (base, changes)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=255),
            st.integers(min_value=0, max_value=255),
        ),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_morton_key_bijective_and_order_preserving(spark, pts):
    """The Morton interleave must be injective over the code grid and
    invertible by bit de-interleaving — any collision or bit drift would
    silently merge unrelated curve cells."""
    from pyspark.sql import functions as F

    from delfos_etl_pipeline_spark.operators.zorder import morton_key

    df = spark.createDataFrame(pts, "a long, b long")
    rows = df.select(
        "a", "b", morton_key([F.col("a"), F.col("b")], 8).alias("z")
    ).collect()
    seen = {}
    for r in rows:
        assert r.z not in seen, f"collision: {seen[r.z]} vs {(r.a, r.b)}"
        seen[r.z] = (r.a, r.b)
        # invert: even bits -> a, odd bits -> b
        a = sum(((r.z >> (2 * i)) & 1) << i for i in range(8))
        b = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(8))
        assert (a, b) == (r.a, r.b)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    st.lists(
        st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=200
    ),
    st.sampled_from([8000, 16000, 44100]),
)
def test_wav_roundtrip_property(samples, rate):
    """encode→decode is the identity for arbitrary 16-bit sample runs at
    any rate — including odd lengths (RIFF pad byte) and extremes."""
    import numpy as np

    from delfos_etl_pipeline_spark.multimodal.binary import (
        decode_wav,
        encode_wav_pcm,
    )

    arr = np.array(samples, dtype=np.int64)
    got_rate, out = decode_wav(encode_wav_pcm(arr, rate, bits=16))
    assert got_rate == rate
    assert out.shape == (len(samples), 1)
    assert (out[:, 0] == arr).all()
