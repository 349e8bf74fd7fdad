"""Custom stateful streaming operator — applyInPandasWithState.

`session_window` covers gap sessionization declaratively
(streaming/sessionize.py); this module is the CUSTOM-state mechanism for
semantics Spark's built-ins can't express (SURVEY §2.13): here, a
per-user ordered funnel maintained incrementally across micro-batches.

State discipline at 100 TB/day:
- state is a pruned candidate frontier per user, not event history;
- a processing-time timeout expires users idle for 1 h — the
  watermark-equivalent bound that keeps the store finite;
- expired users are EMITTED (flagged final) before removal, so the
  downstream sink sees every user exactly once after it quiets.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

FUNNEL_OUTPUT_SCHEMA = "user_id long, stage long, final boolean"
FUNNEL_STATE_SCHEMA = "min_signup long, clicks array<long>, purchases array<long>"

_NO_TS = 1 << 62  # sentinel: no qualifying event yet (state schema is non-null)


def _funnel_chain(
    min_signup: int, clicks: list[int], purchases: list[int]
) -> tuple[int, int, int, int]:
    """(stage, t1, t2, t3) from the candidate frontier — the batch
    min-chain: t1 = min signup, t2 = min click STRICTLY after t1,
    t3 = min purchase strictly after t2."""
    t1 = min_signup
    t2 = min((c for c in clicks if c > t1), default=_NO_TS)
    t3 = min((p for p in purchases if p > t2), default=_NO_TS)
    stage = 0
    if t1 < _NO_TS:
        stage = 1
        if t2 < _NO_TS:
            stage = 2
            if t3 < _NO_TS:
                stage = 3
    return stage, t1, t2, t3


def _make_update_funnel(funnel: tuple[str, str, str], idle_timeout_ms):
    def update_funnel(key, batches, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            min_s, clicks, purchases = state.get
            stage, _, _, _ = _funnel_chain(min_s, list(clicks), list(purchases))
            state.remove()
            yield pd.DataFrame(
                {"user_id": [user_id], "stage": [stage], "final": [True]}
            )
            return

        min_s, clicks, purchases = (
            state.get if state.exists else (_NO_TS, [], [])
        )
        clicks, purchases = list(clicks), list(purchases)
        for pdf in batches:
            ts_us = (pdf["ts"].astype("int64") // 1000).tolist()
            for et, us in zip(pdf["event_type"].tolist(), ts_us):
                if et == funnel[0]:
                    min_s = min(min_s, us)
                elif et == funnel[1]:
                    clicks.append(us)
                else:
                    purchases.append(us)
        stage, t1, t2, t3 = _funnel_chain(min_s, clicks, purchases)
        # prune the frontier: t1/t2/t3 are non-increasing as events
        # arrive (more events can only lower each min), so a click
        # above the CURRENT t2 / purchase above the CURRENT t3 can
        # never become the new minimum — state stays the candidate
        # frontier, bounded by pre-conversion activity, not history
        clicks = sorted(c for c in set(clicks) if c <= t2)
        purchases = sorted(p for p in set(purchases) if p <= t3)
        state.update((min_s, clicks, purchases))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {"user_id": [user_id], "stage": [stage], "final": [False]}
        )

    return update_funnel


def funnel_states(
    events: DataFrame,
    funnel: tuple[str, str, str] = ("signup", "click", "purchase"),
    idle_timeout_ms: int | None = 3600 * 1000,
) -> DataFrame:
    """Streaming ordered-funnel stages — the stream twin of the batch
    event_funnel: per user, the deepest signup -> click -> purchase
    chain with strictly-after semantics, maintained incrementally and
    CORRECT UNDER CROSS-BATCH DISORDER: stage reachability is monotone
    in the event set (a late-arriving earlier signup can only lower t1
    and unlock more clicks), so each batch recomputes the min-chain
    from a pruned candidate frontier instead of trusting arrival order.
    State per user = min signup + clicks <= current t2 + purchases <=
    current t3 (each min is non-increasing, so candidates above it are
    dead) — bounded by pre-conversion activity, not event history.

    ``idle_timeout_ms=None`` disables eviction — REQUIRED for
    drain-style runs (``trigger(availableNow=True)``): with a
    processing-time timeout registered, the micro-batch loop keeps
    running empty batches until every timeout fires, so an availableNow
    query never terminates. Continuous deployments keep the timeout so
    converted/quiet users are emitted final and evicted."""
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    # NULL-timestamp events can't anchor or advance a strictly-after
    # chain — drop them at the source, matching the batch event_funnel
    # and its oracle (ADVICE r4: an unfiltered NULL min(ts) signup row
    # would count in SQL's count(*) but never in the fold).
    filtered = events.filter(
        events["event_type"].isin(*funnel) & events["ts"].isNotNull()
    )
    return filtered.groupBy("user_id").applyInPandasWithState(
        _make_update_funnel(funnel, idle_timeout_ms),
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )
