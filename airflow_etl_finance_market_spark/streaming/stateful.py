"""Custom stateful streaming operator: per-key pct-change (W1/W2, streamed).

The batch engine computes ``variacao_diaria`` with a LAG window
(reference: dags/financial_pipeline.py:192-193 → plans.volatility). A
stream cannot LAG across micro-batches, so the streaming twin keeps the
last observed value per key in the state store and splices it into the
front of each batch — ``applyInPandasWithState``, the (b)-tier custom
operator per the build rules (Arrow-batched, one state row per key).

Cross-batch semantics assume per-key event-time-ordered arrival (one
file/day cadence like the reference's daily feed). Out-of-order arrivals
within a batch are sorted; across batches they would need a
reorder-buffer variant (event-time timeout + buffer in state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def pct_change_stateful(
    events: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
) -> DataFrame:
    """(key, ts, value, variacao_diaria) with pct-change carried across
    micro-batches via the state store.

    Batch frames take the LAG-window path (identical single-batch
    semantics, zero-state) — which doubles as the differential oracle for
    the streaming path in tests.
    """
    if not events.isStreaming:
        w = Window.partitionBy(key).orderBy(ts)
        prev = F.lag(value).over(w)
        return events.select(
            key,
            ts,
            value,
            (
                (F.col(value) - prev)
                / F.when(prev == 0, None).otherwise(prev)
                * 100
            ).alias("variacao_diaria"),
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = (
        f"{key} long, {ts} timestamp, {value} double, variacao_diaria double"
    )
    state_schema = "last_value double"
    # Rebind to locals: the closure below must be fully self-contained
    # (it is unpickled on Python workers without the repo on sys.path).
    k_col, ts_col, v_col = key, ts, value

    def fn(key_tuple, pdf_iter, state):
        import pandas as pd

        last = state.get[0] if state.exists else None
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(ts_col).reset_index(drop=True)
            prev = pdf[v_col].shift(1)
            if last is not None:
                prev.iloc[0] = last
            pct = (pdf[v_col] - prev) / prev.where(prev != 0) * 100.0
            last = float(pdf[v_col].iloc[-1])
            out = pd.DataFrame(
                {
                    k_col: key_tuple[0],
                    ts_col: pdf[ts_col],
                    v_col: pdf[v_col],
                    # nullable Float64 so first-row/zero-prev become real
                    # NULLs (plain float64 would ship NaN, not NULL)
                    "variacao_diaria": pd.array(pct, dtype="Float64"),
                }
            )
            yield out
        if last is not None:
            state.update((last,))

    return (
        events.select(key, ts, value)
        .groupBy(key)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
        )
    )


def _duration_us(spec: str) -> int:
    """Parse a '<n> <unit>' duration (second/minute/hour/day, plural ok)
    to epoch microseconds — the subset of Spark's interval syntax the
    streaming operators accept."""
    n_str, _, unit = spec.strip().partition(" ")
    mult = {
        "second": 1_000_000,
        "minute": 60_000_000,
        "hour": 3_600_000_000,
        "day": 86_400_000_000,
    }.get(unit.strip().rstrip("s").lower())
    if mult is None or not n_str.isdigit():
        raise ValueError(
            f"duration must be '<n> second|minute|hour|day(s)', got {spec!r}"
        )
    return int(n_str) * mult


def pct_change_reordered(
    events: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    value: str = "value",
    delay: str = "1 hour",
    retire_after: str | None = None,
) -> DataFrame:
    """Out-of-order-tolerant streaming pct-change: the reorder-buffer
    variant :func:`pct_change_stateful`'s docstring promises.

    Rows buffer in per-key state until the event-time watermark passes
    them — only then can no earlier-timestamped row still arrive — and are
    emitted in timestamp order, each diffed against the previously emitted
    value. Within the ``delay`` horizon ANY arrival order yields exactly
    the batch LAG result; rows later than the watermark are dropped by
    Spark before reaching the operator (the same contract as every
    watermarked aggregate). Rows whose timestamp the final watermark never
    passes stay buffered (append-mode semantics: unfinalized = unemitted).

    State per key = last emitted value + timestamp + the buffered
    (ts, value) arrays — bounded by the key's arrival rate times
    ``delay``, the same bound a windowed aggregate's state carries.
    Event-time timeouts flush a key's newly-eligible rows even in
    micro-batches where the key receives no new data.

    ``retire_after`` bounds total state by key LIVENESS, not just key
    cardinality: a drained key (empty buffer) whose last emitted
    timestamp the watermark has passed by more than the horizon is
    REMOVED from the state store — the event-time timeout doubles as the
    retirement alarm, so a key retires even if it never receives another
    row. The trade is explicit and standard for keyed-state TTLs: a key
    that reappears AFTER retiring lost its diff base, so its first new
    row emits NULL pct-change, exactly like a brand-new key. With the
    default ``retire_after=None`` every key's last value is kept forever
    (diff bases never lost; state grows with distinct-key cardinality,
    like any keyed streaming aggregate) — choose the horizon to match the
    deployment's key-churn profile.

    Batch frames take the LAG-window path (identical semantics, no state).
    """
    if not events.isStreaming:
        return pct_change_stateful(events, key=key, ts=ts, value=value)

    from pyspark.sql.streaming.state import GroupStateTimeout

    # Everything time-valued inside the operator — buffer, state, watermark
    # compare, timeout, OUTPUT — is EPOCH micros from the JVM-computed
    # _ts_us column: Arrow delivers the timestamp column as SESSION-LOCAL
    # naive wall clock while getCurrentWatermarkMs is epoch, so comparing
    # wall clock to epoch shifts every row by the TZ offset (5 h under
    # America/New_York; no constant correction survives a DST boundary).
    # The worker therefore never touches the timestamp column at all; the
    # epoch output converts back via timestamp_micros JVM-side, which also
    # keeps CHECKPOINTED state TZ-free — persisting wall-clock micros would
    # shift rows buffered across a restart whose session TZ changed.
    out_schema = (
        f"{key} long, _ts_us long, {value} double, variacao_diaria double"
    )
    state_schema = (
        "last_value double, last_ts long, "
        "buf_ts array<long>, buf_val array<double>"
    )
    k_col, v_col = key, value
    retire_us = _duration_us(retire_after) if retire_after is not None else None

    def fn(key_tuple, pdf_iter, state):
        import pandas as pd

        last, last_ts, buf_ts, buf_val = (
            state.get if state.exists else (None, None, [], [])
        )
        buf = list(zip(buf_ts or [], buf_val or []))
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            buf.extend(zip(pdf["_ts_us"].tolist(), pdf[v_col].tolist()))
        buf.sort()
        wm_us = state.getCurrentWatermarkMs() * 1000
        emit = [e for e in buf if e[0] <= wm_us]
        hold = [e for e in buf if e[0] > wm_us]
        if emit:
            out_ts, out_v, out_pct = [], [], []
            for t, v in emit:
                pct = (
                    None
                    if last is None or last == 0
                    else (v - last) / last * 100.0
                )
                out_ts.append(t)
                out_v.append(v)
                out_pct.append(pct)
                last = v
            last_ts = out_ts[-1]
            yield pd.DataFrame(
                {
                    k_col: key_tuple[0],
                    "_ts_us": pd.Series(out_ts, dtype="int64"),
                    v_col: out_v,
                    "variacao_diaria": pd.array(out_pct, dtype="Float64"),
                }
            )
        if (
            not hold
            and retire_us is not None
            and (last_ts is None or wm_us >= last_ts + retire_us)
        ):
            # drained past the retention horizon (or vacuous state):
            # drop the key entirely — its diff base is forfeited, so a
            # reappearance starts like a brand-new key
            state.remove()
            return
        state.update(
            (last, last_ts, [e[0] for e in hold], [e[1] for e in hold])
        )
        if hold:
            # wake this key when the watermark passes its oldest held row
            # (epoch ms, matching the event-time timeout clock)
            state.setTimeoutTimestamp(hold[0][0] // 1000 + 1)
        elif retire_us is not None:
            # drained but not yet past the horizon: alarm at retirement
            # time so the key is dropped even if no row ever arrives
            # again (timeout must sit strictly past the watermark)
            state.setTimeoutTimestamp(
                max((last_ts + retire_us) // 1000 + 1, wm_us // 1000 + 1)
            )

    return (
        events.select(key, ts, value)
        .withColumn("_ts_us", F.unix_micros(F.col(ts)))
        .withWatermark(ts, delay)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .select(
            key,
            F.timestamp_micros(F.col("_ts_us")).alias(ts),
            value,
            "variacao_diaria",
        )
    )


def funnel_stateful(
    events: DataFrame,
    steps: tuple[str, ...] = ("view", "click", "purchase"),
    *,
    key: str = "user_id",
    ts: str = "ts",
    type_col: str = "event_type",
    delay: str = "1 hour",
    retire_after: str | None = None,
) -> DataFrame:
    """Ordered-funnel progression as a custom stateful streaming operator
    — the CEP-shaped query Spark has no MATCH_RECOGNIZE for: emit
    (key, step_idx, step, reached_at) the moment a user's FINALIZED
    event history first satisfies step k strictly after step k-1's
    reach time (earliest-event chaining, the exact batch semantics of
    operators/funnel.event_funnel, which counts these rows per step).

    Streaming semantics mirror :func:`pct_change_reordered`: events
    buffer per key until the watermark passes them, then replay in
    event-time order through the per-key step machine, so ANY arrival
    order within the ``delay`` horizon yields exactly the batch answer.
    Non-step event types are dropped BEFORE the state store (map-side
    filter — they can never advance the machine). A completed user
    keeps a one-row tombstone so late duplicates can't restart the
    funnel; state per live key = machine position + the ≤ delay-horizon
    buffer, the same bound as every watermarked operator here.

    ``retire_after`` bounds total state by key LIVENESS exactly as in
    :func:`pct_change_reordered` — without it the completed-user
    tombstone (and the machine position of a user who stalls mid-funnel
    forever) lives as long as the query, i.e. state grows with ALL-TIME
    user cardinality, the defect ``retire_after`` was built to kill.
    A DRAINED key (empty reorder buffer) whose last FINALIZED event —
    advancing or not, so a user streaming duplicate/early step events
    stays live — the watermark has passed by more than the horizon is
    removed from the state store; the event-time timeout doubles as the
    retirement alarm so an idle key retires even if it never receives
    another row. The trade is the standard keyed-TTL one, stated
    explicitly: a user who reappears past the horizon restarts from
    step 0 — a late duplicate arriving that long after completion can
    re-emit funnel rows, so choose the horizon longer than any
    plausible duplicate/retry window (it only needs to be shorter than
    the all-time stream to bound state).

    Batch frames compute the identical frame declaratively (chained
    earliest-event user-keyed joins over a monotonically shrinking
    frame) — the differential oracle for the streaming path.
    """
    step_list = list(steps)
    if not step_list:
        raise ValueError("steps must be non-empty")
    if not events.isStreaming:
        ev = events.select(key, ts, type_col)
        reached = (
            ev.filter(F.col(type_col) == step_list[0])
            .groupBy(key)
            .agg(F.min(ts).alias("_t"))
        )
        frames = [
            reached.select(
                key,
                F.lit(1).alias("step_idx"),
                F.lit(step_list[0]).alias("step"),
                F.col("_t").alias("reached_at"),
            )
        ]
        for i, step in enumerate(step_list[1:], start=2):
            reached = (
                ev.filter(F.col(type_col) == step)
                .join(reached, key)
                .filter(F.col(ts) > F.col("_t"))
                .groupBy(key)
                .agg(F.min(ts).alias("_t"))
            )
            frames.append(
                reached.select(
                    key,
                    F.lit(i).alias("step_idx"),
                    F.lit(step).alias("step"),
                    F.col("_t").alias("reached_at"),
                )
            )
        out = frames[0]
        for f in frames[1:]:
            out = out.unionAll(f)
        return out

    from pyspark.sql.streaming.state import GroupStateTimeout

    # epoch-micros discipline throughout (see pct_change_reordered's TZ
    # note): the worker never touches the timestamp column.
    out_schema = f"{key} long, step_idx int, step string, _ts_us long"
    # STATE-SHAPE COMPATIBILITY: adding `last_seen` (the retire_after
    # clock, round 6) changed the applyInPandasWithState state layout. A
    # streaming query restored from a checkpoint written by a pre-
    # retirement build would misinterpret or fail on existing state rows —
    # funnel queries upgrading across that boundary need a FRESH
    # checkpoint location (the standard Structured Streaming contract for
    # any state-schema change; r06 advice).
    state_schema = (
        "cur_idx int, last_t long, last_seen long, "
        "buf_ts array<long>, buf_type array<string>"
    )
    k_col, t_col = key, type_col
    steps_local = step_list
    retire_us = _duration_us(retire_after) if retire_after is not None else None

    def fn(key_tuple, pdf_iter, state):
        import pandas as pd

        cur, last_t, last_seen, buf_ts, buf_type = (
            state.get if state.exists else (0, None, None, [], [])
        )
        buf = list(zip(buf_ts or [], buf_type or []))
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            buf.extend(zip(pdf["_ts_us"].tolist(), pdf[t_col].tolist()))
        buf.sort()
        wm_us = state.getCurrentWatermarkMs() * 1000
        emit_idx, emit_step, emit_ts = [], [], []
        hold = []
        for t, et in buf:
            if t > wm_us:
                hold.append((t, et))
                continue
            # the RETIREMENT clock is the last FINALIZED event, advancing
            # or not — keying it on machine advances alone would retire a
            # user who keeps sending non-advancing (duplicate/early) step
            # events well inside the horizon (caught in round-6 review)
            last_seen = t if last_seen is None else max(last_seen, t)
            if cur < len(steps_local) and et == steps_local[cur] and (
                cur == 0 or t > last_t
            ):
                cur += 1
                last_t = t
                emit_idx.append(cur)
                emit_step.append(et)
                emit_ts.append(t)
        if emit_idx:
            yield pd.DataFrame(
                {
                    k_col: key_tuple[0],
                    "step_idx": pd.Series(emit_idx, dtype="int32"),
                    "step": emit_step,
                    "_ts_us": pd.Series(emit_ts, dtype="int64"),
                }
            )
        if (
            not hold
            and retire_us is not None
            and (last_seen is None or wm_us >= last_seen + retire_us)
        ):
            # drained past the retention horizon (or never advanced the
            # machine at all): drop the key — completed-user tombstones
            # and stalled machine positions are forfeited, so a
            # reappearance starts from step 0 like a brand-new user
            state.remove()
            return
        state.update(
            (cur, last_t, last_seen,
             [e[0] for e in hold], [e[1] for e in hold])
        )
        if hold:
            state.setTimeoutTimestamp(hold[0][0] // 1000 + 1)
        elif retire_us is not None:
            # drained but inside the horizon: alarm at retirement time so
            # the key is dropped even if no row ever arrives again (the
            # timeout must sit strictly past the current watermark)
            state.setTimeoutTimestamp(
                max((last_seen + retire_us) // 1000 + 1, wm_us // 1000 + 1)
            )

    return (
        events.select(key, ts, type_col)
        .filter(F.col(type_col).isin(steps_local))
        .withColumn("_ts_us", F.unix_micros(F.col(ts)))
        # the watermarked ts column must survive to the stateful operator
        # (projecting it away drops the watermark and EventTimeTimeout
        # refuses to plan); fn simply ignores it
        .withWatermark(ts, delay)
        .groupBy(key)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .select(
            key,
            "step_idx",
            "step",
            F.timestamp_micros(F.col("_ts_us")).alias("reached_at"),
        )
    )


_M64 = (1 << 64) - 1


def _sig_block_exprs(sig_col: str, n_blocks: int) -> list:
    """JVM-side split of a 64-bit signature into ``n_blocks`` contiguous
    bit spans (widths differ by at most 1) — the pigeonhole convention
    of the batch tier's ``_block_candidates``: two signatures within
    Hamming ``n_blocks - 1`` agree EXACTLY on at least one block, so
    block equality is a lossless candidate filter for that radius."""
    base, rem = divmod(64, n_blocks)
    widths = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    exprs, lo = [], 0
    for w in widths:
        if w >= 64:
            exprs.append(F.col(sig_col))
        else:
            exprs.append(
                F.shiftrightunsigned(F.col(sig_col), lo)
                .bitwiseAND(F.lit((1 << w) - 1))
                .cast("long")
            )
        lo += w
    return exprs


def windowed_signature_ownership(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    sig_col: str = "afp",
    ts: str = "ts",
    delay: str = "5 minutes",
    retain: str = "1 hour",
    max_hamming: int = 4,
) -> DataFrame:
    """Streaming SET-overlap dedup, stage 1 of 2: per-window
    subfingerprint OWNERSHIP against per-block keyed state — items
    matched as SETS of 64-bit window subfingerprints at the INGEST
    edge, where ``dedup_by_signature`` only covers whole-content
    signatures.

    Input: one row per (clip, window subfingerprint), carrying the
    event-time column. Each row is exploded JVM-side into
    ``max_hamming + 1`` pigeonhole blocks and grouped by
    ``(block_idx, block_value)``; ``applyInPandasWithState`` keeps, per
    bucket, the registry of full hashes seen within the retention
    horizon (owner id, full 64-bit hash, registration time, last seen).
    A row MATCHES when some bucket holds an earlier entry from a
    DIFFERENT clip within ``max_hamming`` of its full hash (pigeonhole:
    a true near-pair shares at least one exact block, so the union over
    a row's buckets misses nothing at that radius); the match
    attributes to the entry with the smallest (registration time,
    owner id). Unmatched hashes register; exact re-arrivals refresh
    ``last seen`` instead of duplicating the entry.

    Ordering contract (the :func:`pct_change_reordered` reorder-buffer
    discipline): rows buffer in bucket state until the event-time
    watermark passes them and are processed in (event time, clip id,
    hash) order — so within the ``delay`` horizon ANY arrival order
    yields exactly the batch result, and ownership is deterministic.
    Append-mode semantics: rows the final watermark never passes stay
    buffered (drive a finite fixture with a later-stamped sentinel
    clip to flush).

    State bound — the 100 TB posture: every entry is ~32 bytes keyed by
    an 8-byte bucket; entries are EVICTED once the watermark passes
    ``last seen + retain`` (they can never match a future in-watermark
    row), so state is (unique-window arrival rate x retain x
    ``max_hamming + 1``), the same envelope as a windowed aggregate —
    NOT all content ever ingested. Re-uploads older than ``retain`` are
    the stored-table batch tier's job;
    the ingest edge's contract is the redelivery/re-encode window.

    Output (append): ``(id, ts, sig, owner_id, owner_ts)`` — one row
    per (clip, window) from block 0 plus one per matching bucket;
    ``owner_id`` NULL when unmatched. Feed
    :func:`windowed_dedup_verdicts` (safe per-micro-batch in a
    ``foreachBatch`` sink: a clip's windows are fingerprinted from one
    ingest row and flushed by one watermark advance, so its ownership
    rows never straddle batches). Batch frames compute the identical
    first-writer semantics as one block equi-join + ``bit_count``
    verify — the differential-test twin (valid when the frame's time
    span fits inside ``retain``; beyond that the batch tier owns the
    problem)."""
    n_blocks = max_hamming + 1
    retain_us = _duration_us(retain)
    max_h = max_hamming

    if not sigs.isStreaming:
        rows = (
            sigs.select(
                F.col(id_col),
                F.col(ts),
                F.unix_micros(F.col(ts)).alias("_ts_us"),
                F.col(sig_col),
            )
            .dropDuplicates([id_col, "_ts_us", sig_col])
        )
        reg = rows.groupBy(sig_col).agg(
            F.min(
                F.struct(
                    F.col("_ts_us").alias("rts"), F.col(id_col).alias("rid")
                )
            ).alias("_reg")
        )
        r_ex = rows.select(
            F.col(id_col).alias("_d"),
            F.col("_ts_us").alias("_t"),
            F.col(sig_col).alias("_h"),
            F.posexplode(F.array(*_sig_block_exprs(sig_col, n_blocks))).alias(
                "_blk", "_blk_val"
            ),
        )
        e_ex = reg.select(
            F.col(sig_col).alias("_eh"),
            F.col("_reg.rts").alias("_ets"),
            F.col("_reg.rid").alias("_eid"),
            F.posexplode(F.array(*_sig_block_exprs(sig_col, n_blocks))).alias(
                "_blk", "_blk_val"
            ),
        )
        owners = (
            r_ex.join(e_ex, ["_blk", "_blk_val"])
            .filter(
                (F.bit_count(F.col("_h").bitwiseXOR(F.col("_eh"))) <= max_h)
                & (F.col("_eid") != F.col("_d"))
                & (
                    (F.col("_ets") < F.col("_t"))
                    | (
                        (F.col("_ets") == F.col("_t"))
                        & (F.col("_eid") < F.col("_d"))
                    )
                )
            )
            .groupBy("_d", "_t", "_h")
            .agg(
                F.min(
                    F.struct(
                        F.col("_ets").alias("ots"), F.col("_eid").alias("oid")
                    )
                ).alias("_o")
            )
        )
        return (
            rows.join(
                owners,
                (rows[id_col] == owners["_d"])
                & (rows["_ts_us"] == owners["_t"])
                & (rows[sig_col] == owners["_h"]),
                "left",
            )
            .select(
                F.col(id_col),
                F.col(ts),
                F.col(sig_col),
                F.col("_o.oid").alias("owner_id"),
                F.timestamp_micros(F.col("_o.ots")).alias("owner_ts"),
            )
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    # epoch-micros discipline throughout (see pct_change_reordered's TZ
    # note): the worker never touches the timestamp column; output
    # converts back via timestamp_micros JVM-side.
    out_schema = (
        f"{id_col} long, _ts_us long, {sig_col} long, "
        "owner_id long, owner_ts long"
    )
    state_schema = (
        "own_id array<long>, own_hash array<long>, own_ts array<long>, "
        "own_seen array<long>, "
        "buf_ts array<long>, buf_id array<long>, buf_hash array<long>"
    )
    d_col, h_col = id_col, sig_col

    def fn(key_tuple, pdf_iter, state):
        import pandas as pd

        blk_idx = key_tuple[0]
        own_id, own_hash, own_ts, own_seen, buf_ts, buf_id, buf_hash = (
            state.get if state.exists else ([], [], [], [], [], [], [])
        )
        e_id = list(own_id or [])
        e_hash = list(own_hash or [])
        e_ts = list(own_ts or [])
        e_seen = list(own_seen or [])
        buf = set(zip(buf_ts or [], buf_id or [], buf_hash or []))
        for pdf in pdf_iter:
            if pdf.empty:
                continue
            buf.update(
                zip(
                    pdf["_ts_us"].tolist(),
                    pdf[d_col].tolist(),
                    pdf[h_col].tolist(),
                )
            )
        wm_us = state.getCurrentWatermarkMs() * 1000
        emit = sorted(e for e in buf if e[0] <= wm_us)
        hold = sorted(e for e in buf if e[0] > wm_us)
        out = []
        for t, d, h in emit:
            best = None
            exact_i = None
            for j in range(len(e_id)):
                if e_seen[j] + retain_us < t:
                    continue  # expired w.r.t. this row's event time
                ham = ((e_hash[j] ^ h) & _M64).bit_count()
                if ham == 0:
                    exact_i = j
                if ham <= max_h and e_id[j] != d:
                    cand = (e_ts[j], e_id[j])
                    if best is None or cand < best:
                        best = cand
            if exact_i is not None:
                e_seen[exact_i] = max(e_seen[exact_i], t)
            else:
                e_id.append(d)
                e_hash.append(h)
                e_ts.append(t)
                e_seen.append(t)
            if best is not None:
                out.append((d, t, h, best[1], best[0]))
            elif blk_idx == 0:
                # presence row: emitted exactly once (block 0 sees
                # every row), so the verdict stage can count a clip's
                # total windows without n_blocks-fold amplification
                out.append((d, t, h, None, None))
        if out:
            yield pd.DataFrame(
                {
                    d_col: pd.Series([r[0] for r in out], dtype="int64"),
                    "_ts_us": pd.Series([r[1] for r in out], dtype="int64"),
                    h_col: pd.Series([r[2] for r in out], dtype="int64"),
                    "owner_id": pd.array(
                        [r[3] for r in out], dtype="Int64"
                    ),
                    "owner_ts": pd.array(
                        [r[4] for r in out], dtype="Int64"
                    ),
                }
            )
        # evict entries the watermark has aged out: last_seen + retain
        # < wm means no future in-watermark row can be within its
        # validity window — the bound that keeps state O(horizon)
        keep = [j for j in range(len(e_id)) if e_seen[j] + retain_us >= wm_us]
        e_id = [e_id[j] for j in keep]
        e_hash = [e_hash[j] for j in keep]
        e_ts = [e_ts[j] for j in keep]
        e_seen = [e_seen[j] for j in keep]
        if not e_id and not hold:
            state.remove()
            return
        state.update(
            (
                e_id,
                e_hash,
                e_ts,
                e_seen,
                [r[0] for r in hold],
                [r[1] for r in hold],
                [r[2] for r in hold],
            )
        )
        if hold:
            # wake when the watermark passes the oldest held row
            state.setTimeoutTimestamp(hold[0][0] // 1000 + 1)
        else:
            # no held rows: alarm at the earliest entry expiry so the
            # bucket is swept even if no row ever lands here again
            # (timeout must sit strictly past the current watermark)
            state.setTimeoutTimestamp(
                max(
                    (min(e_seen) + retain_us) // 1000 + 1,
                    wm_us // 1000 + 1,
                )
            )

    return (
        sigs.select(id_col, ts, sig_col)
        .withColumn("_ts_us", F.unix_micros(F.col(ts)))
        # the watermarked ts column must survive to the stateful
        # operator (projecting it away drops the watermark and
        # EventTimeTimeout refuses to plan)
        .withWatermark(ts, delay)
        .select(
            id_col,
            ts,
            "_ts_us",
            sig_col,
            F.posexplode(F.array(*_sig_block_exprs(sig_col, n_blocks))).alias(
                "_blk", "_blk_val"
            ),
        )
        .groupBy("_blk", "_blk_val")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
        .select(
            id_col,
            F.timestamp_micros(F.col("_ts_us")).alias(ts),
            sig_col,
            "owner_id",
            F.timestamp_micros(F.col("owner_ts")).alias("owner_ts"),
        )
    )


def windowed_dedup_verdicts(
    ownership: DataFrame,
    *,
    id_col: str = "doc_id",
    sig_col: str = "afp",
    ts: str = "ts",
    min_match_frac: float = 0.8,
) -> DataFrame:
    """Stage 2 of the streaming set-overlap dedup: reduce
    :func:`windowed_signature_ownership` rows to per-CLIP verdicts —
    the set-overlap decision the batch pair tier makes, evaluated
    against the ingest-window registry instead of a self-join.

    A clip is a DUPLICATE when ``>= min_match_frac`` of its distinct
    window subfingerprints were owned by earlier clips; ``dup_of`` is
    the modal owner among its matched windows (ties broken to the
    smallest owner id — deterministic), NULL for survivors. Three
    CHAINED narrow hash-aggs on (clip, hash) rows — no join, so the
    plan stays one shuffle chain: safe per-micro-batch inside
    ``foreachBatch`` because a clip's ownership rows never straddle
    micro-batches (they flush on one watermark advance), and equally
    valid over the whole drained sink — the shape the gate uses."""
    per_sig = ownership.groupBy(id_col, sig_col).agg(
        F.min(
            F.when(
                F.col("owner_id").isNotNull(),
                F.struct(
                    F.col("owner_ts").alias("ots"),
                    F.col("owner_id").alias("oid"),
                ),
            )
        ).alias("_own"),
        F.min(ts).alias("_ts"),
    )
    per_owner = per_sig.groupBy(
        id_col, F.col("_own.oid").alias("_oid")
    ).agg(F.count(F.lit(1)).alias("_cnt"), F.min("_ts").alias("_mts"))
    per_doc = per_owner.groupBy(id_col).agg(
        F.min("_mts").alias(ts),
        F.sum("_cnt").alias("n_windows"),
        F.sum(
            F.when(F.col("_oid").isNotNull(), F.col("_cnt")).otherwise(
                F.lit(0)
            )
        ).alias("n_matched"),
        # modal owner: max count, ties to the SMALLEST owner id; null
        # ordering structs (the unmatched bucket) are skipped by max_by
        F.max_by(
            "_oid",
            F.when(
                F.col("_oid").isNotNull(),
                F.struct(F.col("_cnt"), (-F.col("_oid")).alias("_n")),
            ),
        ).alias("_modal"),
    )
    frac = F.round(F.col("n_matched") / F.col("n_windows"), 6)
    return per_doc.select(
        F.col(id_col),
        F.col(ts),
        "n_windows",
        "n_matched",
        frac.alias("match_frac"),
        (frac >= F.lit(min_match_frac)).alias("is_duplicate"),
        F.when(frac >= F.lit(min_match_frac), F.col("_modal")).alias(
            "dup_of"
        ),
    )
