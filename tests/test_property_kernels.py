"""Property-based tests (hypothesis).

1. The funnel kernel (exact port of the reference greedy scan) agrees
   with the max-entry dynamic program that the JVM window path
   implements as chained running maxes — this is the proof obligation
   for the ``_funnel_window`` derivation.
2. The pattern fast paths agree with the backtracking NFA on the
   shapes they claim to cover.
3. Funnel results are invariant to event order before sorting
   (combine-safety: Spark partial aggregation concatenates partials in
   arbitrary order, then sorts).
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_behavioral_spark.kernels.funnel import funnel_max_step
from duckdb_behavioral_spark.kernels.pattern import (
    _fast_adjacent,
    _fast_wildcard,
    _try_match,
    execute_pattern,
)

SENTINEL = -(2**62)


def funnel_dp(ts, mask, window_us, k):
    """Python mirror of the dynamic program the JVM window path
    evaluates as running maxes: dp[s] = latest entry timestamp of any
    chain reaching step s+1."""
    dp = [SENTINEL] * k
    for t, m in zip(ts, mask):
        new = list(dp)
        for s in range(k):
            if not (m >> s) & 1:
                continue
            if s == 0:
                new[0] = max(new[0], t)
            else:
                # Step 1 must chain from a *previous* event's entry (the
                # entry event itself is never rescanned: the reference
                # scan starts at start+1). Steps ≥2 may chain through
                # the same event (multi-step advance).
                prev = dp[0] if s == 1 else new[s - 1]
                if prev != SENTINEL and prev >= t - window_us:
                    new[s] = max(new[s], prev)
        dp = new
    for s in range(k - 1, -1, -1):
        if dp[s] != SENTINEL:
            return s + 1
    return 0


@st.composite
def event_stream(draw, max_k=5, distinct_ts=True):
    k = draw(st.integers(2, max_k))
    n = draw(st.integers(0, 30))
    if distinct_ts:
        ts = sorted(draw(st.sets(st.integers(0, 500), min_size=n, max_size=n)))
    else:
        ts = sorted(draw(st.lists(st.integers(0, 100), min_size=n, max_size=n)))
    mask = draw(st.lists(st.integers(0, (1 << k) - 1), min_size=len(ts), max_size=len(ts)))
    window = draw(st.integers(0, 600))
    return k, list(ts), mask, window


@settings(max_examples=400, deadline=None)
@given(event_stream())
def test_funnel_greedy_equals_dp(data):
    k, ts, mask, window = data
    assert funnel_max_step(ts, mask, window, k, 0) == funnel_dp(ts, mask, window, k)


@settings(max_examples=400, deadline=None)
@given(event_stream(distinct_ts=False))
def test_funnel_greedy_equals_dp_with_ties(data):
    # Tie order is undefined in the reference, but for a FIXED input
    # order greedy and DP must still agree (both scan the same order).
    k, ts, mask, window = data
    assert funnel_max_step(ts, mask, window, k, 0) == funnel_dp(ts, mask, window, k)


@st.composite
def pattern_events(draw):
    k = draw(st.integers(1, 4))
    conds = draw(st.lists(st.integers(0, k - 1), min_size=1, max_size=4))
    n = draw(st.integers(0, 25))
    ts = sorted(draw(st.sets(st.integers(0, 1000), min_size=n, max_size=n)))
    mask = draw(st.lists(st.integers(0, (1 << k) - 1), min_size=len(ts), max_size=len(ts)))
    return conds, list(ts), mask


def nfa_run(steps, ts, mask, count_all):
    """Force the NFA path (bypasses fast-path classification)."""
    n = len(ts)
    total = 0
    start = 0
    while start < n:
        end = _try_match(steps, ts, mask, start, n)
        if end is not None:
            total += 1
            if not count_all:
                return 1
            start = end + 1
        else:
            start += 1
    return total


@settings(max_examples=300, deadline=None)
@given(pattern_events(), st.booleans())
def test_fast_adjacent_equals_nfa(data, count_all):
    conds, ts, mask = data
    steps = [(0, c) for c in conds]  # COND == 0
    assert _fast_adjacent(mask, conds, count_all) == nfa_run(steps, ts, mask, count_all)


@settings(max_examples=300, deadline=None)
@given(pattern_events(), st.booleans())
def test_fast_wildcard_equals_nfa(data, count_all):
    conds, ts, mask = data
    steps = []
    for i, c in enumerate(conds):
        if i:
            steps.append((1,))  # ANY_EVENTS
        steps.append((0, c))
    assert _fast_wildcard(mask, conds, count_all) == nfa_run(steps, ts, mask, count_all)


@settings(max_examples=200, deadline=None)
@given(event_stream(), st.randoms())
def test_funnel_order_invariant_after_sort(data, rnd):
    # Combine-safety: partial states concatenate in any order; sorting
    # in finalize must make the result deterministic (distinct ts).
    k, ts, mask, window = data
    events = list(zip(ts, mask))
    rnd.shuffle(events)
    events.sort(key=lambda e: e[0])
    ts2 = [e[0] for e in events]
    mask2 = [e[1] for e in events]
    assert funnel_max_step(ts2, mask2, window, k, 0) == funnel_max_step(ts, mask, window, k, 0)
