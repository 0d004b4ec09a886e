"""Custom stateful streaming operator via ``applyInPandasWithState``.

The reference keeps in-memory progress counters while crawling
(app.js:497-508). The distributed streaming form is per-key mutable
state: this operator maintains a running (count, total value) per
``user_id`` across micro-batches — state lives in the state store,
checkpointed with the query, partitioned by the grouping key.
"""

from __future__ import annotations

import contextlib
from typing import Any, Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .windows import SESSION_GAP

OUTPUT_SCHEMA = "user_id bigint, n_events bigint, total_value double"
STATE_SCHEMA = "n bigint, total double"


def _update(
    key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    n, total = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 4)]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Running per-user counters over an events stream (update mode)."""
    return events.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- emit-on-close sessions via event-time state timeout -------------------

CLOSED_SCHEMA = "user_id bigint, n_events bigint, total_value double"
_GAP_MS = pd.Timedelta(SESSION_GAP) // pd.Timedelta(milliseconds=1)


def _close_on_timeout(
    key: Any, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        n, total = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [user_id], "n_events": [n], "total_value": [round(total, 4)]}
        )
        return
    n, total = state.get if state.exists else (0, 0.0)
    last_ms = 0
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        last_ms = max(last_ms, int(pdf["ts"].max().value // 1_000_000))
    state.update((n, total))
    # close when the watermark passes last-event + gap; the timeout fires
    # on the next micro-batch after that, emitting exactly one closed row
    state.setTimeoutTimestamp(last_ms + _GAP_MS)


def idle_closed_sessions(events: DataFrame) -> DataFrame:
    """Per-user sessions that EMIT ONLY WHEN CLOSED (30-min event-time idle).

    The watermark on ``ts`` drives ``EventTimeTimeout``: state for a user
    expires once the watermark passes their last event + gap, and the
    expired group emits its final (count, total) exactly once — the
    append-mode twin of ``running_user_totals``. State store size is
    bounded by the number of OPEN sessions, not users ever seen.
    """
    return (
        events.withWatermark("ts", "10 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            _close_on_timeout,
            outputStructType=CLOSED_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# --- transformWithState: the Spark 4 arbitrary-state API --------------------
#
# NOT carried here. ``applyInPandasWithState`` above is the supported
# arbitrary-state path in this repo: transformWithStateInPandas — the
# newer engine with named, schema'd state variables (value/list/map
# state, TTL, timers) — maps 1:1 onto the same operator (a
# StatefulProcessor whose handleInputRows folds each batch into a
# "totals" value state), but its Python driver worker imports
# google.protobuf at query init, which this environment does not ship
# and cannot install. A twin implementation existed through round 7 and
# was removed rather than kept permanently skipped: dead-in-environment
# code cannot be regression-tested, so it would rot silently. Porting
# forward when protobuf is available: groupBy(key)
# .transformWithStateInPandas(statefulProcessor=..., outputStructType=
# OUTPUT_SCHEMA, outputMode="update", timeMode="none"), started inside
# ``with rocksdb_state_store(spark):`` — TWS runs only on the RocksDB
# state store (the default HDFS-backed provider lacks its
# column-family API).

_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@contextlib.contextmanager
def rocksdb_state_store(spark: SparkSession):
    """Scope the RocksDB state-store provider to one query start.

    The provider class is read from the session conf when a streaming
    query STARTS (then pinned in its checkpoint), so it cannot be set via
    a writeStream option — but setting it permanently would silently
    switch the provider for every other streaming query started later in
    the same session. Save/restore around the ``start()`` call instead.
    """
    # get(key, None) is None only when the key is truly UNSET — a bare
    # get() would return SQLConf's built-in default and we would then
    # "restore" by pinning that default explicitly.
    prev = spark.conf.get(_PROVIDER_KEY, None)
    spark.conf.set(_PROVIDER_KEY, _ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_PROVIDER_KEY)
        else:
            spark.conf.set(_PROVIDER_KEY, prev)


