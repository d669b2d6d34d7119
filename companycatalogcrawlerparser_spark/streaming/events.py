"""Streaming audit of page-fetch event logs (Structured Streaming).

The reference is batch-iterative (SURVEY.md §2.10 — no watermarks or
event-time anywhere), so streaming is an ENGINE EXTENSION, not parity
surface: a production crawl emits per-fetch events (url, host, ts, ok,
bytes, emails_found), and :func:`host_budget_state` audits the per-host
politeness of that feed with ``applyInPandasWithState`` (state persists
across micro-batches and checkpoint restarts). The ``events_windows``
driver row runs it over a file-source stream with ``Trigger.AvailableNow``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

def host_budget_state(
    events: DataFrame, delay_ms: int = 1000
) -> DataFrame:
    """Custom STATEFUL operator (``applyInPandasWithState``): a live
    per-host politeness auditor. State per host persists across
    micro-batches (and checkpoint restarts): total fetches, budget
    violations (consecutive fetches closer than ``delay_ms``), and the
    last fetch stamp. Each batch emits one updated row per host touched.

    This is the streaming twin of the batch planner's per-host
    ``not_before`` stamps (operators/frontier.py): the planner PREVENTS
    violations by construction; this operator DETECTS them in the live
    event feed — the alarm that the fleet's executors actually honored
    the schedule. State is three scalars per host (bounded by the host
    universe, the same key space the batch politeness windows shuffle
    on); events within a batch sort by ``ts`` before the gap scan."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "host string, events long, violations long, last_ts_ms long"
    )
    state_schema = "events long, violations long, last_ts_ms long"

    def audit(key, pdf_iter, state: "GroupState"):
        import pandas as pd

        (host,) = key
        ev, vio, last = state.get if state.exists else (0, 0, None)
        for pdf in pdf_iter:
            pdf = pdf.sort_values("ts")
            for ts in pdf["ts"]:
                ms = int(ts.value // 1_000_000)  # ns → ms epoch
                if last is not None and ms - last < delay_ms:
                    vio += 1
                ev += 1
                last = ms
        state.update((ev, vio, last))
        yield pd.DataFrame(
            {
                "host": [host],
                "events": [ev],
                "violations": [vio],
                "last_ts_ms": [last],
            }
        )

    return events.groupBy("host").applyInPandasWithState(
        audit,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
