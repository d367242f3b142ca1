"""Rolling anomaly detection: streaming ≡ batch, plus semantics.

The module's headline contract is that the stateful streaming form and
the prefix-window batch form make IDENTICAL decisions on identical
row order — the state is the same three integers the batch windows
compute — so micro-batch boundaries cannot move a verdict.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from scio_db_spark.streaming.anomaly import (
    anomaly_detect_stream,
    anomaly_plan_batch,
)
from scio_db_spark.streaming.harness import StreamHarness

def test_decide_int_matches_exact_rational():
    """The cross-multiplied integer rule IS dev² > k²·var — pinned
    against exact Fraction arithmetic over random histories."""
    from fractions import Fraction

    from hypothesis import given, strategies as st

    from scio_db_spark.streaming.anomaly import _decide_int

    @given(
        st.lists(st.integers(-10**6, 10**6), min_size=2, max_size=50),
        st.integers(-10**6, 10**6),
        st.integers(1, 5),
    )
    def check(hist, x, k):
        n = len(hist)
        sx, sx2 = sum(hist), sum(v * v for v in hist)
        mean = Fraction(sx, n)
        var = Fraction(n * sx2 - sx * sx, n * (n - 1))
        expect = (Fraction(x) - mean) ** 2 > k * k * var
        assert _decide_int(n, sx, sx2, x, k) == expect

    check()


SCHEMA = StructType(
    [
        StructField("k", StringType()),
        StructField("seq", LongType()),
        StructField("value", DoubleType()),
    ]
)


def _rows(key, values, start=0):
    return [(key, start + i, float(v)) for i, v in enumerate(values)]


def _baseline(n=40):
    # stable baseline: alternating 10.00 / 12.00 readings
    return [10.0 if i % 2 == 0 else 12.0 for i in range(n)]


def test_warmup_never_flags(spark):
    df = spark.createDataFrame(_rows("a", _baseline(20)), SCHEMA)
    out = anomaly_plan_batch(
        df, "k", "value", ("seq",), k=3, min_n=30
    ).collect()
    assert all(not r.is_scored and not r.is_anomaly for r in out)


def test_spike_flagged_and_normals_pass(spark):
    vals = _baseline(40) + [500.0, 11.0, 10.0]
    df = spark.createDataFrame(_rows("a", vals), SCHEMA)
    out = {
        r.seq: r
        for r in anomaly_plan_batch(
            df, "k", "value", ("seq",), k=3, min_n=30
        ).collect()
    }
    assert out[40].is_anomaly  # the 500.0 spike
    # normal readings after the spike: the spike fattens the variance,
    # but they are still within 3 sigma of the running baseline
    assert not out[41].is_anomaly and not out[42].is_anomaly
    # scored rows exist before the spike and none are flagged
    assert out[35].is_scored and not out[35].is_anomaly


def test_keys_are_independent(spark):
    rows = _rows("calm", _baseline(40)) + _rows(
        "wild", [v * 50 for v in _baseline(40)]
    )
    df = spark.createDataFrame(rows, SCHEMA)
    out = anomaly_plan_batch(df, "k", "value", ("seq",), k=3, min_n=30)
    # a 'wild'-scale value is no anomaly for 'wild', but appended to
    # 'calm' it must be
    extra = spark.createDataFrame(
        _rows("calm", [500.0], start=40) + _rows("wild", [500.0], start=40),
        SCHEMA,
    )
    out2 = {
        (r.k, r.seq): r
        for r in anomaly_plan_batch(
            df.unionAll(extra), "k", "value", ("seq",), k=3, min_n=30
        ).collect()
    }
    assert out2[("calm", 40)].is_anomaly
    assert not out2[("wild", 40)].is_anomaly
    assert out.filter(F.col("is_anomaly")).count() == 0


def test_null_values_excluded_everywhere(spark):
    """NULL readings carry nothing to score: excluded from output AND
    from every later row's history, in batch and stream alike."""
    rows = _rows("a", _baseline(35)) + [("a", 35, None), ("a", 36, 11.0)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {
        r.seq: r
        for r in anomaly_plan_batch(
            df, "k", "value", ("seq",), k=3, min_n=30
        ).collect()
    }
    assert 35 not in out  # NULL row not emitted
    assert out[36].n_prev == 35  # NULL row absent from history

    h = StreamHarness(spark, SCHEMA)
    h.start(
        lambda s: anomaly_detect_stream(
            s, "k", "value", ("seq",), k=3, min_n=30
        ),
        output_mode="append",
    )
    h.add_batch(rows)
    got = {r.seq: r for r in h.results()}
    h.stop()
    assert 35 not in got and got[36].n_prev == 35


@pytest.mark.slow
def test_stream_equals_batch_across_microbatches(spark):
    """Feed the same rows in 3 micro-batches; every per-row decision
    (is_scored, is_anomaly, n_prev) must equal the batch plan's."""
    vals = _baseline(40) + [500.0, 11.0, 3.0, 700.0] + _baseline(10)
    all_rows = _rows("a", vals) + _rows("b", [100.0 + i for i in range(35)])

    h = StreamHarness(spark, SCHEMA)
    h.start(
        lambda s: anomaly_detect_stream(
            s, "k", "value", ("seq",), k=3, min_n=30
        ),
        output_mode="append",
    )
    # split preserving order per key: batches by seq ranges
    b1 = [r for r in all_rows if r[1] < 20]
    b2 = [r for r in all_rows if 20 <= r[1] < 41]
    b3 = [r for r in all_rows if r[1] >= 41]
    h.add_batch(b1)
    h.add_batch(b2)
    h.add_batch(b3)
    stream_out = {(r.k, r.seq): r for r in h.results()}
    h.stop()

    df = spark.createDataFrame(all_rows, SCHEMA)
    batch_out = {
        (r.k, r.seq): r
        for r in anomaly_plan_batch(
            df, "k", "value", ("seq",), k=3, min_n=30
        ).collect()
    }
    assert set(stream_out) == set(batch_out)
    for key, b in batch_out.items():
        s = stream_out[key]
        assert (s.is_scored, s.is_anomaly, s.n_prev) == (
            b.is_scored,
            b.is_anomaly,
            b.n_prev,
        ), key


def _detector(idle_timeout_ms, min_n=30):
    return lambda s: anomaly_detect_stream(
        s, "k", "value", ("seq",), k=3, min_n=min_n,
        idle_timeout_ms=idle_timeout_ms,
    )


def _assert_matches_batch(spark, all_rows, stream_out):
    df = spark.createDataFrame(all_rows, SCHEMA)
    for b in anomaly_plan_batch(
        df, "k", "value", ("seq",), k=3, min_n=30
    ).collect():
        s = stream_out[b.seq]
        assert (s.is_scored, s.is_anomaly, s.n_prev) == (
            b.is_scored,
            b.is_anomaly,
            b.n_prev,
        )


def _state_ops(progress):
    return [p["stateOperators"][0] for p in progress if p["stateOperators"]]


def test_idle_timeout_live_keys_unchanged(spark):
    """With an idle TTL the batch cadence never reaches, every decision
    must be identical to the batch plan — eviction only touches keys
    that actually idle."""
    vals = _baseline(40) + [500.0, 11.0]
    all_rows = _rows("a", vals)
    h = StreamHarness(spark, SCHEMA)
    h.start(_detector(120_000), output_mode="append")
    try:
        h.add_batch([r for r in all_rows if r[1] < 25])
        h.add_batch([r for r in all_rows if r[1] >= 25])
        stream_out = {r.seq: r for r in h.results()}
    finally:
        h.stop()
    _assert_matches_batch(spark, all_rows, stream_out)


def test_idle_timeout_evicts_and_rewarms(spark):
    """A key idle past the TTL is removed by the trailing batch of a
    pass that brings another key once TTL + delay have passed; when it
    returns it re-warms from n=0 (is_scored False until min_n
    readings) instead of being scored against the stale history."""
    import time

    h = StreamHarness(spark, SCHEMA)
    h.start(_detector(800, min_n=5), output_mode="append")
    try:
        h.add_batch(_rows("a", [10.0, 12.0, 10.0, 12.0, 10.0, 11.0]))
        warm = {r.seq: r for r in h.results()}
        assert warm[5].is_scored and warm[5].n_prev == 5

        # Idle past TTL + delay (0.8 s each): the pass with key b moves
        # the batch-clock watermark past a's deadline.
        time.sleep(3.0)
        ops = _state_ops(h.add_batch(_rows("b", [5.0])))
        assert sum(op["numRowsRemoved"] for op in ops) >= 1
        # Key a returns: a huge spike that WOULD flag against the old
        # history must instead re-warm silently from zero state.
        h.add_batch(_rows("a", [999.0], start=6))
        back = {(r.k, r.seq): r for r in h.results()}[("a", 6)]
    finally:
        h.stop()
    assert back.n_prev == 0
    assert not back.is_scored and not back.is_anomaly


def test_idle_timeout_expires_inline_without_other_traffic(spark):
    """No other key moves the watermark, so no timeout can fire before
    key a returns: the batch that brings it back expires it inline."""
    import time

    h = StreamHarness(spark, SCHEMA)
    h.start(_detector(1000, min_n=5), output_mode="append")
    try:
        h.add_batch(_rows("a", [10.0, 12.0, 10.0, 12.0, 10.0, 11.0]))
        time.sleep(1.5)
        h.add_batch(_rows("a", [999.0], start=6))
        back = {(r.k, r.seq): r for r in h.results()}[("a", 6)]
    finally:
        h.stop()
    assert back.n_prev == 0
    assert not back.is_scored and not back.is_anomaly


def test_checkpoint_survives_turning_eviction_on(spark):
    """A checkpoint written with eviction off restarts with it on: the
    state layout and timeout are the same in both modes, and the
    restarted leg scores against the history leg 1 left."""
    vals = _baseline(40) + [500.0, 11.0]
    all_rows = _rows("a", vals)
    h = StreamHarness(spark, SCHEMA)
    try:
        h.start(_detector(None), output_mode="append")
        h.add_batch([r for r in all_rows if r[1] < 25])
        h.start(_detector(120_000), output_mode="append")
        h.add_batch([r for r in all_rows if r[1] >= 25])
        stream_out = {r.seq: r for r in h.results()}
    finally:
        h.stop()
    assert len(stream_out) == len(all_rows)
    _assert_matches_batch(spark, all_rows, stream_out)
