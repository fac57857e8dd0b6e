"""Sessionization — gap-based event grouping, batch + streaming.

A classic training-data-pipeline operator (and the reference-adjacent
"user-space aggregation" shape): group each user's events into sessions
split wherever the gap between consecutive events exceeds ``gap_s``.

* :func:`sessionize` — batch: pure gaps-and-islands in DataFrame ops
  (lag → new-session flag → running sum = session ordinal → groupBy).
  One shuffle on the user key; every step is JVM window/agg codegen,
  ANSI-SQL-expressible so the DuckDB oracle verifies it value-for-value.
* :func:`sessionize_stream` — streaming: the same semantics as a custom
  stateful operator via ``applyInPandasWithState`` (task mandate). The
  state per user is the open session (start, last ts, count, sum);
  closed sessions are emitted as soon as a gap closes them, and the
  open session is flushed on state timeout. Parity with the batch
  operator is pinned by tests/test_streaming.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_SCHEMA = (
    "user_id long, session_id int, session_start timestamp,"
    " session_end timestamp, n_events long, total_value double"
)


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Batch gaps-and-islands: (user, session_id 1-based, start, end,
    n_events, total_value)."""
    order = [F.col(ts_col), F.col(tiebreak_col)]
    w = Window.partitionBy(user_col).orderBy(*order)
    # integer microseconds on both engines (DuckDB oracle: epoch_us) —
    # a seconds cast would truncate and misjudge gaps near the threshold.
    # NTZ→TZ cast shifts both ends of the difference equally.
    um = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = um - F.lag(um).over(w)
    flagged = events.withColumn(
        "__new",
        F.when(gap.isNull() | (gap > gap_s * 1_000_000), 1).otherwise(0))
    run = Window.partitionBy(user_col).orderBy(*order).rowsBetween(
        Window.unboundedPreceding, 0)
    sid = flagged.withColumn("__sid", F.sum("__new").over(run))
    return (
        sid.groupBy(F.col(user_col).alias("user_id"),
                    F.col("__sid").cast("int").alias("session_id"))
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 4).alias("total_value"),
        )
    )


def sessionize_sql(gap_s: int = 1800, src: str = "events") -> str:
    """The ANSI-SQL oracle of :func:`sessionize` (DuckDB dialect)."""
    return f"""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                   > CAST({gap_s} AS BIGINT) * 1000000
                OR LAG(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM {src}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sid AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS INT) AS session_id
  FROM flagged
)
SELECT user_id, session_id,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM sid GROUP BY user_id, session_id
"""


def sessionize_stream(
    stream_df: DataFrame,
    gap_s: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    timeout_s: int = 3600,
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``.

    Per-user state = the open session ``(start, last, n, total)``.
    Each micro-batch merges its (sorted) events into the state: a gap
    > ``gap_s`` closes the current session (emitted immediately) and
    opens a new one. A processing-time timeout flushes the open session
    when the user goes quiet — the streaming analogue of end-of-input.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    update = make_session_update(gap_s=gap_s, ts_col=ts_col,
                                 value_col=value_col, timeout_s=timeout_s)

    return (
        stream_df.groupBy(user_col)
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_SCHEMA,
            stateStructType=("start timestamp, last timestamp, n long,"
                             " total double, sid int"),
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def make_session_update(gap_s: int, ts_col: str, value_col: str,
                        timeout_s: int):
    """The per-key state-update function of :func:`sessionize_stream`,
    exposed at module scope so the session-ordinal invariant ("(user,
    session_id) keys never repeat, across any number of quiet-timeout
    flushes") is unit-testable against a fake GroupState."""
    import pandas as pd

    def update(key, pdfs, state):
        (user,) = key
        closed: list[tuple] = []
        if state.hasTimedOut:
            if state.exists:
                start, last, n, total, sid = state.get
                if start is not None:
                    closed.append((user, sid, start, last, n, total))
                    # tombstone, NOT remove: the session ordinal must
                    # keep counting if the user returns, or
                    # (user, session_id) keys repeat. The tombstone is
                    # PERMANENT — no new timeout is armed, so it never
                    # times out again and is never dropped (a returning
                    # user after any number of quiet periods continues
                    # from sid, not 0). Cost: one (ts,ts,long,double,int)
                    # row per ever-seen user in the state store.
                    state.update((None, None, 0, 0.0, sid))
        else:
            rows = pd.concat(list(pdfs), ignore_index=True)
            rows = rows.sort_values([ts_col]).reset_index(drop=True)
            if state.exists:
                start, last, n, total, sid = state.get
            else:
                start = last = None
                n, total, sid = 0, 0.0, 0
            for ts, val in zip(rows[ts_col], rows[value_col]):
                ts = ts.to_pydatetime() if hasattr(ts, "to_pydatetime") else ts
                if last is not None and (ts - last).total_seconds() > gap_s:
                    closed.append((user, sid, start, last, n, total))
                    start, n, total = ts, 0, 0.0
                    sid += 1
                if start is None:
                    start, sid = ts, sid + 1
                last = ts
                n += 1
                total += float(val)
            state.update((start, last, n, total, sid))
            state.setTimeoutDuration(timeout_s * 1000)
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "session_id", "session_start",
                         "session_end", "n_events", "total_value"],
            )

    return update
