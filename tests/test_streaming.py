"""Streaming library tests: source plumbing, batch/stream unification.

The oracle-parity suite already grades every registered stream query
against DuckDB; these cover the library API itself (SURVEY.md §7 step 7).
"""

from __future__ import annotations

from open_source_etl_spark.catalog import load_table
from open_source_etl_spark.streaming import (
    run_available_now,
    session_window_stats,
    stream_events,
    tumbling_window_counts,
)


def test_stream_source_is_streaming_with_normalized_ts(spark, sf_dir):
    ev = stream_events(spark, sf_dir)
    assert ev.isStreaming
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_ops_unify_batch_and_stream(spark, sf_dir):
    """The same builder runs on a batch DataFrame — one code path for
    both, which is what makes batch-parity a meaningful check."""
    batch = load_table(spark, sf_dir, "events")
    stream = stream_events(spark, sf_dir)

    batch_out = tumbling_window_counts(batch)
    assert not batch_out.isStreaming
    stream_out = tumbling_window_counts(stream)
    assert stream_out.isStreaming

    ran = run_available_now(stream_out, "t_unify_tumb", "complete")
    assert sorted(ran.columns) == sorted(batch_out.columns)
    assert ran.count() == batch_out.count()


def test_session_window_batch_equals_stream(spark, sf_dir):
    batch = session_window_stats(load_table(spark, sf_dir, "events"))
    streamed = run_available_now(
        session_window_stats(stream_events(spark, sf_dir)),
        "t_unify_sess",
        "complete",
    )
    assert streamed.count() == batch.count()


def test_transform_with_state_plan_and_fallback(spark, sf_dir):
    """The stateful-histogram operator registers unconditionally: the v2
    ``transformWithStateInPandas`` plan builds (schema typed, streaming
    bit set) regardless of protobuf, and ``stateful_histogram`` —
    whichever API it resolves to — must equal the batch group count."""
    from open_source_etl_spark.registry import all_queries
    from open_source_etl_spark.streaming import transform_with_state_histogram

    df = transform_with_state_histogram(stream_events(spark, sf_dir))
    assert df.isStreaming
    assert df.schema.simpleString() == (
        "struct<user_id:bigint,event_type:string,n_events:bigint>"
    )
    assert "stream_transform_with_state" in all_queries()

    got = all_queries()["stream_transform_with_state"](spark, sf_dir)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .count()
    )
    assert got.count() == want.count()


class _StuckQuery:
    """A streaming query stand-in whose ``awaitTermination`` returns
    while the query is still running (a timeout)."""

    name, id = "stuck_replay", "0000-stuck"

    def __init__(self, exc=None):
        self.isActive, self.stopped, self._exc = True, False, exc

    def awaitTermination(self, timeout):
        return False

    def exception(self):
        return self._exc

    def stop(self):
        self.stopped, self.isActive = True, False


def test_streaming_timeout_stops_and_raises():
    """A run that outlives its timeout is stopped and raises, naming the
    query and chaining the query's own exception, instead of returning
    the partial sink as if it were complete."""
    import pytest

    from open_source_etl_spark.streaming.runner import await_or_raise

    q = _StuckQuery()
    with pytest.raises(TimeoutError, match="stuck_replay still running after 7s"):
        await_or_raise(q, 7)
    assert q.stopped

    cause = RuntimeError("state store lost")
    with pytest.raises(TimeoutError) as info:
        await_or_raise(_StuckQuery(cause), 7)
    assert info.value.__cause__ is cause

    done = _StuckQuery()
    done.isActive = False
    await_or_raise(done, 7)
    assert not done.stopped
