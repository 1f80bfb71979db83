"""Streaming twins of the funnel and retention batch operators
(``operators/funnel.py`` / ``operators/timeseries.py::retention_cohorts``)
— VERDICT-r09 task 4.

Two different state shapes, matching what each readout actually needs:

- **Funnel** (:func:`funnel_state_stream`) — a genuine per-user stateful
  operator (``applyInPandasWithState``): state holds the user's retained
  step-event timestamps, each batch re-runs the SAME greedy
  earliest-chain the batch op proves optimal, and an update-mode row
  (user, step timestamps, depth, upd) is emitted whenever the user's
  funnel state changes. Exactness under out-of-order arrival comes from
  retention-with-pruning, not ordering assumptions:

  * step 1 keeps only its MIN timestamp — the chain anchor is a
    monotone min, one value is exact;
  * with a horizon, later steps prune events ABOVE ``t1 + within``
    (the horizon only moves down as t1 improves, so nothing above it
    can ever re-enter) — state per entered user is bounded by the
    horizon window, the same watermark-style bound a stream-stream
    interval join carries;
  * without a horizon, later steps prune events at-or-above the
    CURRENT chain point ``t_i`` (without a horizon every ``t_i`` is
    monotone non-increasing as data arrives, so an event ≥ current
    ``t_i`` can never become a future min);
  * before a user's first step-1 event arrives, later-step events are
    retained un-pruned (a late step-1 may land before them) — the
    unbounded-until-entry phase every exact funnel has, normally
    bounded in production by an event-time timeout that expires
    never-entering users;
  * the no-horizon mode grows AFTER entry too (ADVICE r10): every
    step-i event at-or-below the current chain point ``t_i`` is
    retained forever (any one of them could become the new min after
    a late re-anchor), and while a chain is broken at step i every
    later-step event is retained — so per-user state scales with
    event volume under ``t_i``, not with k. Correctness is unaffected;
    memory is. For production streams pass ``within_hours`` (state
    per entered user is then bounded by the horizon window) or expire
    users with an event-time timeout.

- **Retention** (:func:`retention_activity_stream`) — the
  stream-maintains / batch-finalizes split of ``streaming/timeseries.py``
  (gap-fill's precedent): cohort retention is a pure function of the
  DISTINCT (user, period) activity table (the cohort itself is
  ``min(period)`` per user, and ``date_trunc(min ts) = min(date_trunc
  ts)``), so the stream maintains exactly that table with
  ``dropDuplicates`` — built-in stateful dedup, no Python — and the
  batch ``retention_cohorts`` runs over a snapshot with ``ts_col=
  "period"`` for bit-identical results (``date_trunc`` is idempotent).

Both parities are pinned in ``tests/test_streaming.py`` against the
batch ops on the same shuffled multi-batch input.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.funnel import _check_steps


def funnel_state_stream(events: DataFrame, steps, *,
                        user_col: str = "user_id", ts_col: str = "ts",
                        type_col: str = "event_type",
                        within_hours: int | None = None,
                        coarse_groups: int | None = None) -> DataFrame:
    """Update-mode stream of each user's current funnel row
    (user_id, step_1_ts … step_k_ts, depth, upd).

    ``upd`` is the user's update sequence number (1, 2, …) so a sink
    can pick each user's latest row without relying on arrival order.
    Rows are emitted only for users that have entered the funnel
    (≥1 step-1 event) — the same population the batch op reports.

    ``coarse_groups`` (r12 opt round, VERDICT item 7): when set, the
    state is keyed on ``pmod(xxhash64(user), coarse_groups)`` instead
    of the raw user, and each state group holds MANY users' retained
    events in parallel arrays. The per-user state machine is
    UNCHANGED — the same ``chain``/prune/dedupe code runs per user
    inside the group, so the emitted (user, step ts…, depth, upd)
    rows are row-for-row identical to the per-user keying on the same
    micro-batch interleaving (pinned by
    ``test_funnel_stream_coarse_keying_row_identical``). What changes
    is the JVM↔Python state-protocol cadence: ``applyInPandasWithState``
    pays a fixed per-GROUP round-trip (state serde + a pandas frame
    per emission — measured 0.16 ms/group/batch protocol + the
    one-row-DataFrame build at ~0.2 ms/user), so |users| groups cost
    ~0.7 s/batch at 1.5k users while ~8·tasks coarse groups cost
    ~0.5 s/batch with the same state volume. At production user
    counts the per-user keying pays that per-group tax MILLIONS of
    times per batch; coarse groups bound it by the group count while
    state volume per group stays bounded by the same horizon-window
    argument (the module docstring), just summed over the group's
    users. None (the default) preserves the historical per-user
    keying.

    ``coarse_groups`` is part of the checkpoint contract. A user's
    state lives in group ``pmod(xxhash64(user), coarse_groups)``, so a
    checkpointed query must restart with the same value, and with the
    same choice of coarse or per-user keying. Each group's state stores
    the value it was written with, and an update that meets state
    written with another value raises ``ValueError`` naming both, at
    the first batch that touches a group holding state (a different
    value would route users to groups that hold no state, or other
    users' state, and restart their ``upd`` and ``depth``). For a
    checkpointed query, take the value from pinned configuration, not
    from ``drain_state_partitions``, which follows the input's size and
    the cluster's parallelism."""
    steps = _check_steps(steps)
    k = len(steps)
    h_us = (None if within_hours is None
            else int(within_hours) * 3_600 * 1_000_000)
    idx = {s: i for i, s in enumerate(steps)}

    ev = (events.select(F.col(user_col).alias("user_id"),
                        F.col(ts_col).alias("ts"),
                        F.col(type_col).alias("et"))
          .where(F.col("et").isin(list(steps))
                 & F.col("ts").isNotNull()))

    state_schema = (", ".join(f"p{i} array<long>" for i in range(k))
                    + ", upd int")
    # the output key type derives from the input column (string/typed
    # entity ids work like the batch op — the bfs_levels lesson)
    from pyspark.sql.types import (IntegerType, StructField, StructType,
                                   TimestampType)

    out_schema = StructType(
        [StructField("user_id", events.schema[user_col].dataType)]
        + [StructField(f"step_{i}_ts", TimestampType())
           for i in range(1, k + 1)]
        + [StructField("depth", IntegerType()),
           StructField("upd", IntegerType())])

    def chain(pend: list[list[int]]) -> list[int | None]:
        """The batch op's greedy earliest-chain over the retained
        events — identical semantics (strictly-after, entry-anchored
        horizon), recomputed exactly each batch."""
        ts: list[int | None] = [None] * k
        if not pend[0]:
            return ts
        ts[0] = min(pend[0])
        cutoff = None if h_us is None else ts[0] + h_us
        prev = ts[0]
        for i in range(1, k):
            cand = [t for t in pend[i]
                    if t > prev and (cutoff is None or t <= cutoff)]
            if not cand:
                break
            ts[i] = prev = min(cand)
        return ts

    def update(key: Tuple[Any, ...],
               batches: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        pend: list[list[int]] = [[] for _ in range(k)]
        upd = 0
        if state.exists:
            got = state.get
            pend = [sorted(got[i]) for i in range(k)]
            upd = got[k]
        before = [list(p) for p in pend]
        for pdf in batches:
            for t, et in zip(pdf["ts"], pdf["et"]):
                pend[idx[et]].append(int(t.value // 1_000))  # ns → µs
        ts = chain(pend)
        # prune (exactness arguments in the module docstring); at-or-
        # below keeps the chain point itself so the next recompute
        # still sees it
        if pend[0]:
            pend[0] = [ts[0]]
            cutoff = None if h_us is None else ts[0] + h_us
            for i in range(1, k):
                if cutoff is not None:
                    pend[i] = [t for t in pend[i] if t <= cutoff]
                elif ts[i] is not None:
                    pend[i] = [t for t in pend[i] if t <= ts[i]]
        pend = [sorted(set(p)) for p in pend]
        if pend == before:        # duplicate-only batch: no new info
            return
        upd += 1
        state.update(tuple(pend) + (upd,))
        if ts[0] is None:         # not entered yet: retain, emit nothing
            return
        row = {"user_id": key[0]}
        for i in range(k):
            row[f"step_{i + 1}_ts"] = (
                pd.Timestamp(ts[i], unit="us") if ts[i] is not None
                else pd.NaT)
        row["depth"] = sum(t is not None for t in ts)
        row["upd"] = upd
        yield pd.DataFrame([row])

    if coarse_groups is not None:
        if coarse_groups < 1:
            raise ValueError(
                f"coarse_groups must be >= 1, got {coarse_groups}")
        u_dt = events.schema[user_col].dataType.simpleString()
        g_state_schema = (
            f"users array<{u_dt}>, upds array<int>, "
            + ", ".join(f"p{i} array<array<long>>" for i in range(k))
            + ", groups int")

        def update_group(key: Tuple[Any, ...],
                         batches: Iterator[pd.DataFrame],
                         state: GroupState) -> Iterator[pd.DataFrame]:
            # store: user -> (pend lists, upd) — the SAME per-user
            # state the fine-grained keying holds, packed as parallel
            # arrays per coarse group
            store: dict = {}
            if state.exists:
                got = state.get
                if got[-1] != coarse_groups:
                    raise ValueError(
                        f"funnel state was written with coarse_groups="
                        f"{got[-1]}, this query runs with coarse_groups="
                        f"{coarse_groups}; restart the checkpoint with "
                        f"the value it was written with")
                users, upds = got[0], got[1]
                for j, u in enumerate(users):
                    store[u] = ([list(got[2 + i][j]) for i in range(k)],
                                upds[j])
            new_ev: dict = {}
            for pdf in batches:
                for u, t, et in zip(pdf["user_id"], pdf["ts"], pdf["et"]):
                    u = u.item() if hasattr(u, "item") else u
                    new_ev.setdefault(
                        u, [[] for _ in range(k)])[idx[et]].append(
                        int(t.value // 1_000))  # ns → µs
            rows: list = []
            changed = False
            for u, add in new_ev.items():
                pend0, upd = store.get(u, ([[] for _ in range(k)], 0))
                pend = [sorted(p) for p in pend0]
                before = [list(p) for p in pend]
                for i in range(k):
                    pend[i].extend(add[i])
                ts = chain(pend)
                # the fine path's prune, verbatim (exactness args in
                # the module docstring)
                if pend[0]:
                    pend[0] = [ts[0]]
                    cutoff = None if h_us is None else ts[0] + h_us
                    for i in range(1, k):
                        if cutoff is not None:
                            pend[i] = [t for t in pend[i] if t <= cutoff]
                        elif ts[i] is not None:
                            pend[i] = [t for t in pend[i] if t <= ts[i]]
                pend = [sorted(set(p)) for p in pend]
                if pend == before:    # duplicate-only for THIS user
                    continue
                upd += 1
                store[u] = (pend, upd)
                changed = True
                if ts[0] is None:     # not entered yet: retain only
                    continue
                row = {"user_id": u}
                for i in range(k):
                    row[f"step_{i + 1}_ts"] = (
                        pd.Timestamp(ts[i], unit="us")
                        if ts[i] is not None else pd.NaT)
                row["depth"] = sum(t is not None for t in ts)
                row["upd"] = upd
                rows.append(row)
            if changed:
                order = sorted(store)     # deterministic array layout
                state.update((
                    list(order),
                    [store[u][1] for u in order],
                    *[[store[u][0][i] for u in order] for i in range(k)],
                    coarse_groups))
            if rows:
                yield pd.DataFrame(
                    rows, columns=["user_id"]
                    + [f"step_{i}_ts" for i in range(1, k + 1)]
                    + ["depth", "upd"])

        return (ev.withColumn("_g", F.pmod(F.xxhash64(F.col("user_id")),
                                           F.lit(int(coarse_groups))))
                .groupBy("_g")
                .applyInPandasWithState(update_group, out_schema,
                                        g_state_schema, "update",
                                        GroupStateTimeout.NoTimeout))

    return (ev.groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update",
                                    GroupStateTimeout.NoTimeout))


def latest_funnel_state(updates: DataFrame) -> DataFrame:
    """Compact a drained update-mode funnel sink to its end state:
    the max-``upd`` row per user, without the sequence column.

    After the stream drains, this equals the BATCH ``funnel`` output
    over the same events regardless of micro-batch arrival order (the
    module docstring's pruning-exactness contract — ``upd`` counts
    differ per interleaving, the final state never does), which makes
    the stream≡batch parity DuckDB-checkable: the driver entry
    ``streaming_funnel_state`` answers to the batch op's oracle SQL.
    ONE user-keyed window over the |updates| ≤ |users|·|batches| sink
    rows — sink-shaped, never event-shaped.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("upd"))
    return (updates.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "upd"))


def retention_activity_stream(events: DataFrame, *,
                              user_col: str = "user_id",
                              ts_col: str = "ts",
                              period: str = "week") -> DataFrame:
    """Append-mode stream of the DISTINCT (user_id, period) activity
    table — the complete state cohort retention needs. Built-in
    stateful dedup (no Python, no custom state); finalize with
    ``retention_cohorts(state_snapshot, ts_col="period",
    period=<same>)`` for results bit-identical to the batch op over
    the raw events."""
    from ..operators.timeseries import _PERIOD_SECONDS

    if period not in _PERIOD_SECONDS:
        raise ValueError(
            f"period must be one of {tuple(_PERIOD_SECONDS)}: {period!r}")
    return (events.where(F.col(ts_col).isNotNull())
            .select(F.col(user_col).alias("user_id"),
                    F.date_trunc(period, F.col(ts_col)).alias("period"))
            .dropDuplicates(["user_id", "period"]))
