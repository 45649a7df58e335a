"""Streaming stateful operators — the Flink keyed-state/CEP pieces
(SURVEY §2.7 ST1–ST3) as applyInPandasWithState.

These are the only operators in the engine that need arbitrary keyed state;
everything else is declarative. Each mirrors its batch twin in
operators/stateful.py (same outputs on the same fully-arrived data), and the
tests assert exactly that equivalence.

One kernel per operator, over KEY GROUPS:
- is_new repair (fix_is_new_stream), daily UV dedup (dedup_daily_stream)
  and CEP bounce (detect_bounce_stream) are each ONE applyInPandasWithState
  function. An invocation receives one key group's rows of a micro-batch
  and handles all of the group's keys at once with vectorized pandas/numpy;
  the group's state is one row of arrays (ever-seen ids, coded (key, day)
  seen-sets, per-key pending entries).
- The ``layout`` argument picks the grouping. ``"key_groups"`` (default,
  the production topologies' layout) hashes the key into
  4 × stream_shuffle_width() groups — Flink's key groups (Carbone et al.,
  *State Management in Apache Flink*, VLDB'17) — so a micro-batch costs
  that many Python invocations whatever the entity count.
  ``"per_key"`` makes every key its own group: the degenerate layout,
  one state row per entity like the reference's keyed ValueState. The
  kernel is the same under both, so the layouts emit bit-identical rows
  (the layout-invariance tests and the shared registry oracles).
- Event-time timeouts are watermark-driven: a group's timer sits at its
  minimum pending deadline, and every invocation sweeps the pendings the
  watermark has passed — per key that is Flink's event-time timer
  (UserJumpDetailApp's CEP within(10s) timeout path).
- Batches arrive unordered *between* micro-batches; state carries the
  ordering guarantee forward (the reference relies on Kafka per-partition
  order the same way).
- State is RocksDB-backed at cluster scale
  (spark.sql.streaming.stateStore.providerClass).
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any, Literal

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.group import GroupedData
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: state layout of the keyed-state kernels — see the module docstring
Layout = Literal["key_groups", "per_key"]


def _batch_frame(
    pdfs: Iterator[pd.DataFrame], sort_cols: list[str] | None = None
) -> pd.DataFrame | None:
    """Concatenate a group's micro-batch chunks and sort ONCE globally —
    the only order-sound way to consume the keyed-state chunk iterator.

    Spark hands a group's rows as an iterator of Arrow-batch slices whose
    ORDER IS ARBITRARY: rows within a shuffle partition are clustered by
    key but not time-sorted, so a key whose rows straddle an Arrow-batch
    boundary sees its later chunk first. A per-chunk sort-then-carry
    pattern is therefore order-UNSOUND — it passed every small-scale gate
    (groups rarely straddle a 10k-row Arrow batch there) and lost 95 of
    1,970,000 bounce rows in the first sf10 topology verification
    (BENCH_r08_e2e_sf10_ab.json, the per-key arm). Memory: this buffers ONE
    group's batch slice — a key's per-batch volume under the per-key
    layout, batch / number-of-groups under key groups.

    Returns None when the batch holds no rows for the group; the result has
    a fresh positional index (chunk concat repeats labels, and callers use
    positional/iloc logic)."""
    chunks = [pdf for pdf in pdfs if len(pdf)]
    if not chunks:
        return None
    pdf = pd.concat(chunks) if len(chunks) > 1 else chunks[0]
    return pdf.sort_values(
        sort_cols or ["ts", "event_id"], kind="mergesort"
    ).reset_index(drop=True)


def _key_groups(events: DataFrame, key: str, layout: Layout) -> GroupedData:
    """Group ``events`` for a keyed-state kernel: ``"key_groups"`` hashes
    ``key`` into 4 × stream_shuffle_width() groups (state rows of ~thousands
    of entries at bench scales while the call count stays in the hundreds;
    state stays sharded across the shuffle partitions either way),
    ``"per_key"`` groups by ``key`` itself."""
    if layout == "per_key":
        return events.groupBy(key)
    if layout != "key_groups":
        raise ValueError(f"unknown keyed-state layout {layout!r}")
    from gmall_spark.session import stream_shuffle_width

    n_groups = 4 * stream_shuffle_width()
    return events.withColumn(
        "_kg", F.pmod(F.xxhash64(F.col(key)), F.lit(n_groups))
    ).groupBy("_kg")


def _first_touch(uid: pd.Series, seen) -> pd.Series:
    """is_new flags of a (ts, event_id)-sorted batch: True on each key's
    first row in the batch unless ``seen`` already holds the key.
    Restricted to one key, the batch order IS that key's event-time order,
    so the flag marks the key's first-ever event."""
    return ~uid.duplicated() & ~uid.isin(seen)


def fix_is_new_stream(
    events: DataFrame, key: str = "user_id", layout: Layout = "key_groups"
) -> DataFrame:
    """ST1 — new/old-visitor repair (BaseLogApp.java:69-94): the first event
    a key ever shows keeps is_new=1, every later one is rewritten to 0.
    Emits (event_id, key, is_new).

    State: the group's ever-seen key ids as one array<long> row — one int64
    per ever-seen key, as the reference's per-key seen-flag keeps one row
    per key forever (there is no horizon to trim). Each touched group's
    array re-serializes every batch, so at ~1e9 keys a deployment raises
    the group count with the key universe."""
    out_schema = f"event_id long, {key} long, is_new int"
    state_schema = "uids array<long>"

    def fn(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen = set(state.get[0] or ()) if state.exists else set()
        # one global sort (see _batch_frame): a key's first-EVER event must
        # be the batch-wide (ts, event_id) minimum
        pdf = _batch_frame(pdfs)
        if pdf is not None:
            uid = pdf[key]
            first = _first_touch(uid, seen)
            seen.update(uid[first].tolist())
            yield pd.DataFrame(
                {"event_id": pdf["event_id"], key: uid, "is_new": first.astype("int32")}
            )
        state.update((sorted(seen),))

    return _key_groups(events, key, layout).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def dedup_daily_stream(
    events: DataFrame, key: str = "user_id", layout: Layout = "key_groups"
) -> DataFrame:
    """ST2 — daily UV dedup (UniqueVisitApp.java:45-87): keep each key's
    first event per calendar day. Emits (key, dt, first_event_id, first_ts).

    State: the group's seen (key, day) pairs as one array<long> row of
    codes key·2¹⁶ + epoch-day (day fits 16 bits until year 2149) — the
    reference's ValueState<String> lastVisitDate; its 24h TTL is the memory
    bound, the date compare is the semantics (SURVEY §6a.6). Within a group
    the batch is sorted by (ts, event_id) and deduped per code, which
    coincides with each key's own event-time order.

    Retention: codes older than the group's max day − 1 are dropped. With
    time-ordered arrival (the chunked sources here; Kafka per-partition
    order in the reference) no new event can be older than that, so the
    trim never changes emission — and a dormant key's dead days don't
    linger."""
    out_schema = f"{key} long, dt string, first_event_id long, first_ts timestamp"
    state_schema = "codes array<long>"
    day_bits = 1 << 16

    def fn(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen = set(state.get[0] or ()) if state.exists else set()
        # one global sort (see _batch_frame): the day's FIRST event must be
        # the batch-wide (ts, event_id) minimum, not the first Arrow chunk's
        pdf = _batch_frame(pdfs)
        if pdf is not None:
            day = pdf["ts"].to_numpy().astype("datetime64[D]").astype("int64")
            code = pd.Series(pdf[key].to_numpy() * day_bits + day, index=pdf.index)
            fresh = pdf[(~code.duplicated()) & (~code.isin(seen))]
            seen.update(code.loc[fresh.index].tolist())
            if len(fresh):
                yield pd.DataFrame(
                    {
                        key: fresh[key],
                        "dt": fresh["ts"].dt.strftime("%Y-%m-%d"),
                        "first_event_id": fresh["event_id"],
                        "first_ts": fresh["ts"],
                    }
                )
        if seen:
            horizon = max(c % day_bits for c in seen) - 1
            seen = {c for c in seen if c % day_bits >= horizon}
        state.update((sorted(seen),))

    return _key_groups(events, key, layout).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


_EMPTY = np.empty(0, dtype="int64")
#: no pending entries: (keys, pending event ids, pending ts in epoch µs)
_NO_PENDING = (_EMPTY, _EMPTY, _EMPTY)


def _bounce_frame(key: str, eids, ks, ts_us, reason) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "event_id": pd.Series(eids, dtype="int64"),
            key: pd.Series(ks, dtype="int64"),
            "ts": pd.to_datetime(ts_us, unit="us"),
            "bounce_reason": reason,
        }
    )


def _bounce_step(
    pdf: pd.DataFrame | None,
    key: str,
    entry_type: str,
    timeout_secs: int,
    pending: tuple[np.ndarray, np.ndarray, np.ndarray],
    wm_ms: int,
) -> tuple[list[pd.DataFrame], tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """One micro-batch of CEP bounce over a key group: ``pdf`` is the
    group's batch sorted by (key, ts, event_id) or None, ``pending`` the
    carried pending entries as aligned int64 arrays (key, event_id, ts µs).
    Returns the emitted bounce frames and the new pending arrays.

    - A carried pending whose key has rows resolves against the key's FIRST
      batch event: timeout if the integer-µs gap exceeds the timeout, match
      if that event is another entry.
    - A carried pending whose key has no rows fires as a timeout iff
      ``wm_ms > ms(ts) + timeout`` — the STRICTLY-beyond predicate Spark
      applies when firing a per-key timer. The sweep runs on the input path
      too: a group that receives any rows gets no timeout invocation that
      batch, yet its quiet keys' timers are due.
    - Within the batch, the batch twin's lead(): rows are key-sorted, so row
      i+1 is the same key's next event iff the key doesn't change there.
    - Each key's trailing entry becomes its new pending."""
    ks, pids, ptsus = pending
    tmo_us = timeout_secs * 1_000_000
    if pdf is None:
        kcol = ts_us = eid = _EMPTY
        entry_m = np.zeros(0, dtype=bool)
    else:
        kcol = pdf[key].to_numpy(dtype="int64")
        ts_us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        eid = pdf["event_id"].to_numpy(dtype="int64")
        entry_m = pdf["event_type"].eq(entry_type).to_numpy()

    # per-key first/last positions (rows are key-sorted; uniq ascends)
    uniq, first_pos = np.unique(kcol, return_index=True)
    last_pos = len(kcol) - 1 - np.unique(kcol[::-1], return_index=True)[1]

    frames = []
    present = np.isin(ks, uniq)
    due = ~present & (wm_ms > ptsus // 1000 + timeout_secs * 1000)
    if due.any():
        frames.append(_bounce_frame(key, pids[due], ks[due], ptsus[due], "timeout"))
    if present.any():
        first = first_pos[np.searchsorted(uniq, ks[present])]
        late = ts_us[first] - ptsus[present] > tmo_us
        match = ~late & entry_m[first]
        for mask, why in ((late, "timeout"), (match, "match")):
            if mask.any():
                frames.append(
                    _bounce_frame(
                        key, pids[present][mask], ks[present][mask],
                        ptsus[present][mask], why,
                    )
                )
    keep = ~present & ~due

    n = len(kcol)
    nxt_same = np.zeros(n, dtype=bool)
    nxt_same[:-1] = kcol[1:] == kcol[:-1]
    # zeros (not empty): the last element never survives the `decided`
    # mask, but it still flows through the (nxt_ts - ts_us) subtraction —
    # an uninitialized int64 there can trip numpy overflow warnings
    nxt_ts = np.zeros(n, dtype="int64")
    nxt_ts[:-1] = ts_us[1:]
    nxt_entry = np.zeros(n, dtype=bool)
    nxt_entry[:-1] = entry_m[1:]
    decided = entry_m & nxt_same
    t_hits = decided & ((nxt_ts - ts_us) > tmo_us)
    hits = t_hits | (decided & nxt_entry)
    if hits.any():
        frames.append(
            _bounce_frame(
                key, eid[hits], kcol[hits], ts_us[hits],
                np.where(t_hits[hits], "timeout", "match"),
            )
        )

    # trailing entries are disjoint from the kept pendings (those keys have
    # no rows in the batch)
    l_entry = entry_m[last_pos]
    return frames, (
        np.concatenate([ks[keep], uniq[l_entry]]),
        np.concatenate([pids[keep], eid[last_pos][l_entry]]),
        np.concatenate([ptsus[keep], ts_us[last_pos][l_entry]]),
    )


def detect_bounce_stream(
    events: DataFrame,
    key: str = "user_id",
    entry_type: str = "view",
    timeout_secs: int = 600,
    watermark: str = "2 seconds",
    layout: Layout = "key_groups",
) -> DataFrame:
    """ST3 — CEP bounce detection with BOTH emit paths
    (UserJumpDetailApp.java:70-120): an entry event is a bounce if the next
    event is another entry (match path, emitted on arrival) or if no event
    arrives within the timeout (timeout path, emitted by the event-time
    timer — Flink's CEP timeout side-output). Emits
    (event_id, key, ts, bounce_reason).

    State: the group's pending trailing entries as three aligned arrays
    (key, pending_id, pending_ts µs) in one row. The per-key event-time
    timers become one group timer at the MIN pending deadline plus the
    watermark sweep in _bounce_step, which every invocation (input or
    timeout) runs; the decisions themselves are _bounce_step's."""
    out_schema = f"event_id long, {key} long, ts timestamp, bounce_reason string"
    state_schema = "ks array<long>, pids array<long>, ptsus array<long>"
    tmo_ms = timeout_secs * 1000

    def fn(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        pending = (
            tuple(np.asarray(a or (), dtype="int64") for a in state.get)
            if state.exists
            else _NO_PENDING
        )
        # global sort across chunks (see _batch_frame): the lead() logic and
        # the trailing-pending pick hold only over true event-time order
        pdf = None if state.hasTimedOut else _batch_frame(pdfs, [key, "ts", "event_id"])
        frames, (ks, pids, ptsus) = _bounce_step(
            pdf, key, entry_type, timeout_secs, pending, state.getCurrentWatermarkMs()
        )
        if len(ks):
            order = np.argsort(ks, kind="stable")
            ks, pids, ptsus = ks[order], pids[order], ptsus[order]
            state.update((ks.tolist(), pids.tolist(), ptsus.tolist()))
            state.setTimeoutTimestamp(int(ptsus.min()) // 1000 + tmo_ms)
        else:
            state.remove()
        yield from frames

    return _key_groups(
        events.withWatermark("ts", watermark), key, layout
    ).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
    )


def ewma_stream(events: DataFrame, key: str = "user_id", alpha: float = 0.5) -> DataFrame:
    """Streaming twin of the batch ewma_user_value entry: per-key EWMA as a
    one-value keyed fold (state = running ewma + event count), emitting the
    updated (key, n_events, ewma) once per micro-batch the key appears in.

    The fold is a deliberate per-row Python loop, NOT a vectorized power-sum:
    EWMA is inherently sequential, and only the literal acc*α' + x*α order
    reproduces the batch twin's F.aggregate fold bit-for-bit (a numpy
    dot-with-powers evaluates the same sum in a different order → an ulp
    off → a different value-hash). The loop runs over one key's rows in one
    micro-batch — same asymptotics as the vectorized path, and the state
    carried between batches is two scalars, never a row buffer."""

    out_schema = f"{key} long, n_events long, ewma double"
    state_schema = "ewma double, n long"
    keep = 1.0 - alpha

    def fn(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        acc, n = (state.get if state.exists else (0.0, 0))
        # one globally-sorted frame per batch (see _batch_frame): the fold
        # order must be the batch's true event-time order, and the oracle
        # models ONE cumulative emission per (key, batch) — the previous
        # per-chunk yield emitted once per Arrow chunk, a latent
        # cardinality mismatch whenever a key straddled a chunk boundary
        pdf = _batch_frame(pdfs)
        if pdf is not None:
            for x in pdf["value"].tolist():
                acc = acc * keep + x * alpha
            n += len(pdf)
            yield pd.DataFrame({key: [key_tuple[0]], "n_events": [n], "ewma": [acc]})
        state.update((acc, n))

    return events.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def gapfill_stream(
    events: DataFrame,
    key: str = "event_type",
    ts: str = "ts",
    watermark: str = "2 seconds",
) -> DataFrame:
    """Streaming gap-fill + LOCF — the timer-driven twin of the batch
    gapfill_locf entry, and the one operator here that EMITS SYNTHETIC ROWS:
    hourly buckets with no data at all are materialized (with the last
    observed count carried forward) as the watermark closes them. Flink
    users build this with registerEventTimeTimer; Spark has no built-in, so
    it is keyed state (pending bucket counts + emission cursor + LOCF carry)
    plus an event-time timer that wakes the key when its next bucket can
    close — including on batches where the key received NO data (the
    heartbeat path a windowed agg cannot express, since windows only exist
    where rows do).

    Emission rule (deterministic, oracle-replayable): a bucket [b, b+1h)
    emits in the first invocation whose watermark wm satisfies
    b + 1h <= wm; the per-key grid runs from the key's first observed
    bucket through the last closed bucket, is_gap marking synthesized rows.
    State is the open-bucket tail plus two scalars — bounded by the key's
    out-of-orderness, not its history."""

    hour = 3_600_000
    out_schema = f"{key} string, bucket timestamp, filled_ct long, is_gap boolean"
    state_schema = "bms array<long>, cts array<long>, nxt long, carry long"

    def fn(
        key_tuple: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            bms, cts, nxt, carry = state.get
            obs = dict(zip(list(bms), list(cts)))
        else:
            obs, nxt, carry = {}, None, None
        for pdf in pdfs:
            if not len(pdf):
                continue
            # unit-agnostic epoch-ms (Arrow hands ns here, µs elsewhere)
            ms = (pdf[ts] - pd.Timestamp(0)) // pd.Timedelta(milliseconds=1)
            b = ms // hour * hour
            for bm, c in b.value_counts().items():
                obs[int(bm)] = obs.get(int(bm), 0) + int(c)
        wm = state.getCurrentWatermarkMs()
        rows = []
        if obs and nxt is None:
            nxt = min(obs)
        if nxt is not None:
            # belt: the watermark pre-filter already drops rows of closed
            # buckets; never let one resurrect an emitted bucket
            obs = {b: c for b, c in obs.items() if b >= nxt}
        if nxt is not None and wm > 0:
            last_closed = (wm - hour) // hour * hour
            while nxt <= last_closed:
                c = obs.pop(nxt, None)
                if c is not None:
                    carry = c
                    rows.append((nxt, c, False))
                else:
                    rows.append((nxt, carry, True))
                nxt += hour
        if rows:
            yield pd.DataFrame(
                {
                    key: key_tuple[0],
                    "bucket": pd.to_datetime([r[0] for r in rows], unit="ms"),
                    "filled_ct": [r[1] for r in rows],
                    "is_gap": [r[2] for r in rows],
                }
            )
        ks = sorted(obs)
        state.update((ks, [obs[k] for k in ks], nxt, carry))
        if obs:
            # wake this key when its next pending bucket can close (strictly
            # beyond the current watermark, as the API requires)
            state.setTimeoutTimestamp(max(wm + 1, (min(obs) + hour)))

    return (
        events.withWatermark(ts, watermark)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def fix_is_new_tws(events: DataFrame, key: str = "user_id") -> DataFrame:
    """ST1 on the Spark 4 transformWithStateInPandas API: the same seen-flag
    repair as fix_is_new_stream (its _first_touch step), but with typed
    per-key ValueState managed by a StatefulProcessor — the closest
    structural analog to the reference's Flink ValueState code
    (BaseLogApp.java:69-94), and the forward path for new stateful
    operators (multiple typed state variables, timers, TTL are first-class
    on this API).

    Requires `protobuf` (the TWS state-server protocol) — wired up from the
    image's gcloud-vendored runtime by compat.ensure_protobuf (see its
    docstring); the applyInPandasWithState kernels remain the default
    production path, and the equivalence test + the streaming_tws_is_new
    registry entry exercise this one."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "transformWithStateInPandas needs the protobuf package; use "
            "fix_is_new_stream (applyInPandasWithState) in this environment"
        ) from exc

    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )
    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(key, T.LongType()),
            T.StructField("is_new", T.IntegerType()),
        ]
    )

    class IsNewProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.seen = handle.getValueState(
                "seen", T.StructType([T.StructField("v", T.IntegerType())])
            )

        def handleInputRows(self, key_tuple, rows, timerValues):
            seen = self.seen.exists() and self.seen.get()[0] == 1
            # one global sort across the TWS chunk iterator — same
            # order-soundness contract as the GroupState kernels
            pdf = _batch_frame(rows)
            if pdf is not None:
                first = _first_touch(pdf[key], key_tuple if seen else ())
                seen = True
                yield pd.DataFrame(
                    {
                        "event_id": pdf["event_id"],
                        key: pdf[key],
                        "is_new": first.astype("int32"),
                    }
                )
            self.seen.update((1 if seen else 0,))

        def close(self) -> None:
            pass

    # transformWithState runs only on the RocksDB state store (its column-
    # family model); the default HDFS-backed store can't host it
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return events.groupBy(key).transformWithStateInPandas(
        IsNewProcessor(),
        outputStructType=out_schema,
        outputMode="append",
        timeMode="none",
    )


def detect_bounce_tws(
    events: DataFrame,
    key: str = "user_id",
    entry_type: str = "view",
    timeout_secs: int = 600,
    watermark: str = "2 seconds",
) -> DataFrame:
    """ST3 on the transformWithState timer API: the same CEP-with-timeout as
    detect_bounce_stream (UserJumpDetailApp.java:70-120), but the timeout
    path runs on FIRST-CLASS event-time timers (handle.registerTimer /
    handleExpiredTimer) instead of applyInPandasWithState's single implicit
    timeout slot. The decisions are _bounce_step's, run over the key's own
    rows — match and in-batch timeout decisions emit from handleInputRows;
    a trailing entry parks one (pending_id, pending_ts) pair in ValueState
    with a timer at ms-floor(ts)+timeout, and handleExpiredTimer emits the
    timeout bounce when the watermark passes it.

    Why this twin exists: timers are where TWS earns its keep over the
    GroupState API (many per key, listable, deletable — a key replacing its
    pending entry deletes the stale timer instead of overwriting a slot),
    and the timer column family is a distinct state shape whose eviction
    the metrics-level test pins (numRowsRemoved must track resolved
    pendings, not history). Requires protobuf + RocksDB store, exactly like
    fix_is_new_tws."""
    try:
        import google.protobuf  # noqa: F401
    except ImportError as exc:  # pragma: no cover - env-dependent
        raise ImportError(
            "transformWithStateInPandas needs the protobuf package; use "
            "detect_bounce_stream (applyInPandasWithState) in this environment"
        ) from exc

    from pyspark.sql import types as T
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    out_schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField(key, T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("bounce_reason", T.StringType()),
        ]
    )
    cols = ["event_id", key, "ts", "bounce_reason"]
    timeout_ms = timeout_secs * 1000

    class BounceProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self.handle = handle
            # pending trailing entry: (event_id, event-time as epoch micros).
            # Micros-as-long rather than a timestamp field: the state row
            # round-trips through the TWS Arrow protocol bit-exactly, and
            # the timer expiry derives from the same integer (no tz/unit
            # coupling between the two column families).
            self.pending = handle.getValueState(
                "pending",
                T.StructType(
                    [
                        T.StructField("pending_id", T.LongType()),
                        T.StructField("pending_us", T.LongType()),
                    ]
                ),
            )

        def _clear(self) -> None:
            self.pending.clear()
            for t in self.handle.listTimers():
                self.handle.deleteTimer(t)

        def _park(self, event_id: int, us: int) -> None:
            for t in self.handle.listTimers():
                self.handle.deleteTimer(t)
            self.pending.update((event_id, us))
            self.handle.registerTimer(us // 1000 + timeout_ms)

        def handleInputRows(self, key_tuple, rows, timerValues):
            # global sort across chunks (see _batch_frame) — per-chunk
            # sorts concatenated in Arrow order lost mid-batch timeouts
            pdf = _batch_frame(rows)
            if pdf is None:
                return
            pending = _NO_PENDING
            if self.pending.exists():
                pid, pus = self.pending.get()
                pending = tuple(
                    np.array([v], dtype="int64") for v in (key_tuple[0], pid, pus)
                )
            # the key's pending resolves against its first new event — the
            # event-time gap decides before any watermark does
            frames, (ks, pids, ptsus) = _bounce_step(
                pdf, key, entry_type, timeout_secs, pending,
                timerValues.getCurrentWatermarkInMs(),
            )
            if len(ks):
                self._park(int(pids[0]), int(ptsus[0]))
            else:
                self._clear()
            yield from frames

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            # (named ``key``: the engine invokes this hook with keyword
            # arguments, unlike handleInputRows.) The engine scans timers
            # AFTER input processing, so a pending replaced mid-batch
            # deleted its stale timer and never lands here; the exists()
            # guard is belt-and-braces for a clear race.
            if not self.pending.exists():
                return
            pid, pus = self.pending.get()
            # only the value state: the firing timer is auto-removed by the
            # engine, and deleting it again logs a TimerStateImpl warning
            self.pending.clear()
            yield pd.DataFrame(
                [(pid, key[0], pd.Timestamp(pus * 1_000), "timeout")],
                columns=cols,
            )

        def close(self) -> None:
            pass

    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(key)
        .transformWithStateInPandas(
            BounceProcessor(),
            outputStructType=out_schema,
            outputMode="append",
            timeMode="eventTime",
        )
    )
