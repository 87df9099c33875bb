"""Unit tests for the stateful streaming transition counter
(streaming/stateful.py::bigram_stateful) — the multi-batch partial-sum
property the registry twin's SUM-per-pair rollup rests on, exercised
through the per-group function directly (the burst-test fake device),
plus the drained-output parity at smoke scale via the registry entry's
own oracle (tests/test_oracle_parity.py). The spark fixture is
requested only for the live SparkContext the column expressions in
bigram_stateful's select() need."""

from __future__ import annotations

import pandas as pd


class _FakeState:
    def __init__(self):
        self._v, self.exists = None, False

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v, self.exists = v, True


def _capture_fn():
    from yougile_etl_pipeline_spark.streaming import stateful as st

    captured = {}

    class FakeGrouped:
        def applyInPandasWithState(self, fn, **kw):
            captured["fn"] = fn
            return None

    class FakeDF:
        def select(self, *a, **kw):
            return self

        def groupBy(self, *a):
            return FakeGrouped()

    st.bigram_stateful(FakeDF())
    return captured["fn"]


def test_bigram_partials_sum_to_full_sequence_counts(spark):
    """Three micro-batches slicing the per-user sequence
    [A, B | C | C, A, A] must produce partials whose SUM equals the
    consecutive-pair counts of the whole sequence, with the B→C
    boundary transition counted exactly once (by the batch seeing C)."""
    fn = _capture_fn()
    state = _FakeState()
    batches = [
        pd.DataFrame({"ms": [1000, 2000], "event_id": [0, 1],
                      "event_type": ["A", "B"]}),
        pd.DataFrame({"ms": [3000], "event_id": [2],
                      "event_type": ["C"]}),
        pd.DataFrame({"ms": [4000, 5000, 6000], "event_id": [3, 4, 5],
                      "event_type": ["C", "A", "A"]}),
    ]
    totals: dict[tuple[str, str], int] = {}
    for b in batches:
        for out in fn((7,), iter([b]), state):
            for _, r in out.iterrows():
                k = (r["event_type"], r["next_type"])
                totals[k] = totals.get(k, 0) + int(r["n"])
    assert totals == {("A", "B"): 1, ("B", "C"): 1, ("C", "C"): 1,
                      ("C", "A"): 1, ("A", "A"): 1}
    # state carries the last event for the next batch
    assert state.exists and state.get[2] == "A"


def test_bigram_single_batch_equals_lead_counts(spark):
    """One batch holding the whole (shuffled) sequence restores the
    (ms, event_id) order locally and counts every consecutive pair —
    the single-drain case the oracle certifies at corpus scale."""
    fn = _capture_fn()
    state = _FakeState()
    pdf = pd.DataFrame({
        "ms": [3000, 1000, 2000, 4000],
        "event_id": [2, 0, 1, 3],
        "event_type": ["C", "A", "B", "A"],
    }).sample(frac=1.0, random_state=3)
    (out,) = list(fn((1,), iter([pdf]), state))
    got = {(r["event_type"], r["next_type"]): int(r["n"])
           for _, r in out.iterrows()}
    assert got == {("A", "B"): 1, ("B", "C"): 1, ("C", "A"): 1}


def test_bigram_empty_batch_keeps_state(spark):
    fn = _capture_fn()
    state = _FakeState()
    list(fn((1,), iter([pd.DataFrame({"ms": [1000], "event_id": [0],
                                      "event_type": ["A"]})]), state))
    before = state.get
    assert list(fn((1,), iter([pd.DataFrame(
        {"ms": [], "event_id": [], "event_type": []})]), state)) == []
    assert state.get == before


def _capture_drawdown_fn():
    from yougile_etl_pipeline_spark.streaming import stateful as st

    captured = {}

    class FakeGrouped:
        def applyInPandasWithState(self, fn, **kw):
            captured["fn"] = fn
            return None

    class FakeDF:
        def filter(self, *a, **kw):
            return self

        def select(self, *a, **kw):
            return self

        def groupBy(self, *a):
            return FakeGrouped()

    st.drawdown_stateful(FakeDF())
    return captured["fn"]


def test_drawdown_emissions_are_monotone_so_max_recovers(spark):
    """The +10, -4, -3, +20, -1 trajectory split across three
    micro-batches: emissions (maxdd, peak) are monotone and their MAX
    equals the batch answer (700, 2300) — the property the registry
    twin's MAX-per-user rollup rests on."""
    fn = _capture_drawdown_fn()

    state = _FakeState()
    batches = [
        pd.DataFrame({"ms": [1000, 2000], "event_id": [0, 1],
                      "cents": [1000, -400]}),
        pd.DataFrame({"ms": [3000], "event_id": [2], "cents": [-300]}),
        pd.DataFrame({"ms": [4000, 5000], "event_id": [3, 4],
                      "cents": [2000, -100]}),
    ]
    emitted = []
    for b in batches:
        (out,) = list(fn((7,), iter([b]), state))
        emitted.append((int(out["max_drawdown_cents"].iloc[0]),
                        int(out["peak_cents"].iloc[0])))
    assert emitted == [(400, 1000), (700, 1000), (700, 2300)]
    assert all(a <= b for (a, _), (b, _) in zip(emitted, emitted[1:]))
    assert max(m for m, _ in emitted) == 700
    assert max(p for _, p in emitted) == 2300


def test_drawdown_negative_start_peak_is_first_cum(spark):
    """A trajectory that only falls: peak must be the FIRST cum (the
    batch MAX-over-prefix semantics), not zero."""
    fn = _capture_drawdown_fn()
    state = _FakeState()
    (out,) = list(fn((1,), iter([pd.DataFrame(
        {"ms": [1, 2, 3], "event_id": [0, 1, 2],
         "cents": [-500, -200, -300]})]), state))
    assert int(out["peak_cents"].iloc[0]) == -500
    assert int(out["max_drawdown_cents"].iloc[0]) == 500
