"""Executor-side stateful fold functions for applyInPandasWithState.

LEAF MODULE — imports nothing from this package. Module-level fold
functions are cloudpickled BY REFERENCE, so Spark's Python workers import
the defining module; a fold living in batch_twins would drag the whole
plans registry (and its circular sources_ops edge) into every executor.
Keeping folds here makes the worker import trivially safe and lets tests
drive the exact function the registered streaming queries run.

Every fold is a pure ``step(key, rows, st) -> (st, out_rows)`` wrapped by
``keyed_fold(sort, init, state_ddl, out_ddl)``, which turns it into the
``(key, pdfs, state)`` function Spark calls. The wrapper owns what the
steps share:
- no frames (a timed-out key) or an empty frame yields nothing and leaves
  the state untouched;
- the micro-batch's frames are concatenated and sorted by ``sort``;
- ``st`` is the stored state tuple, or ``init`` for a new key;
- the returned ``st`` is stored as a tuple, and ``out_rows`` (tuples in
  ``out_ddl`` column order, possibly none) becomes one output frame,
  built as a dict of column lists so dtypes follow the Python values.
The wrapper keeps the step's name through ``functools.wraps``, so the
module attribute is still the object Spark pickles by reference, and it
carries ``state_ddl`` / ``out_ddl`` for the one applyInPandasWithState
call in batch_twins.
"""

from __future__ import annotations

import functools


def keyed_fold(sort: list[str], init: tuple, state_ddl: str, out_ddl: str):
    """Decorator: a pure per-key step becomes a GroupState fold (see the
    module docstring for the contract)."""
    cols = [c.split()[0] for c in out_ddl.split(",")]

    def wrap(step):
        @functools.wraps(step)
        def fold(key, pdfs, state):
            import pandas as pd  # executor-side

            objs = list(pdfs)
            if not objs:  # timed-out key invocation: pd.concat([]) would raise
                return
            rows = pd.concat(objs, ignore_index=True)
            if rows.empty:
                return
            st = state.get if state.exists else init
            st, out = step(key, rows.sort_values(sort), st)
            state.update(tuple(st))
            if out:
                yield pd.DataFrame({c: [r[i] for r in out] for i, c in enumerate(cols)})

        fold.state_ddl, fold.out_ddl = state_ddl, out_ddl
        return fold

    return wrap


@keyed_fold(
    ["ts", "event_id"],
    (None, 0, 0),
    "e long, n long, a long",
    "user_id long, n_events long, ewma_cents long, n_anomalies long",
)
def ewma_fold(key, rows, st):
    """EWMA anomaly fold for stream_ewma_anomaly. State: (ewma_cents, n,
    n_anomalies); e = (3e + q) div 4 over cents, an anomaly when an event
    exceeds 2x the running baseline after a 3-event warmup."""
    e, n, a = st
    for q in rows["q"].to_numpy():
        q = int(q)
        if e is None:
            e, n = q, 1
            continue
        if n >= 3 and q > 2 * e:
            a += 1
        # int() truncates toward zero like SQL div; operands are >= 0
        e = (3 * e + q) // 4
        n += 1
    return (e, n, a), [(key[0], n, e, a)]


@keyed_fold(
    ["ts", "event_id"],
    (10000, 0, 0, None),
    "tok long, adm long, n long, last_t long",
    "user_id long, n_events long, n_admitted long, tokens_end_scaled long",
)
def token_bucket_fold(key, rows, st):
    """Token-bucket admission fold for stream_token_bucket. State:
    (tokens_milli, admitted, n, last_t) — last event time carried across
    micro-batches so inter-batch gaps refill exactly like intra-batch
    ones. Capacity 10 tokens (10000 milli), refill 1 token/sec, cost 1
    token/event; exact integer arithmetic, same recurrence as the batch
    twin's aggregate() fold."""
    tok, adm, n, last_t = st
    for t in rows["t"].to_numpy():
        t = int(t)
        dt = 0 if last_t is None else t - last_t
        tok = min(10000, tok + dt * 1000)
        if tok >= 1000:
            tok -= 1000
            adm += 1
        n += 1
        last_t = t
    return (tok, adm, n, last_t), [(key[0], n, adm, tok)]


# --- SPRT constants: ONE definition for the batch eval, the streaming ---
# fold, and (via f-string interpolation in plans/evals.py) both engines'
# SQL — the twin-oracle-constant discipline. Living here (the leaf
# module) because the executor-side fold below must read them without
# dragging the plans registry into Python workers.
import math as _math

SPRT_P0, SPRT_P1 = 0.10, 0.30
SPRT_ALPHA = SPRT_BETA = 0.05


def _sprt_nano(x: float) -> int:
    """floor(x*1e9 + 0.5): the repo-wide ln quantization."""
    return _math.floor(x * 1e9 + 0.5)


SPRT_L1 = _sprt_nano(_math.log(SPRT_P1 / SPRT_P0))
SPRT_L0 = _sprt_nano(_math.log((1 - SPRT_P1) / (1 - SPRT_P0)))
SPRT_A = _sprt_nano(_math.log((1 - SPRT_BETA) / SPRT_ALPHA))
SPRT_B = _sprt_nano(_math.log(SPRT_BETA / (1 - SPRT_ALPHA)))


@keyed_fold(
    ["ts", "event_id"],
    (0, 0, 0, 0),
    "cum long, n long, first_rn long, dec_llr long",
    "day_no long, n_obs long, n_steps long, decision string, llr_nano long",
)
def sprt_walk_fold(key, rows, st):
    """Per-day SPRT walk for stream_sprt_monitor. State: (cum, n,
    first_rn, dec_llr) — the cumulative LLR and observation count carry
    across micro-batches; once the walk first exits (SPRT_B, SPRT_A)
    the decision step and its LLR freeze (first-crossing semantics),
    while n keeps counting so the batch twin's n_obs matches."""
    cum, n, first_rn, dec_llr = st
    for inc in rows["inc"].to_numpy():
        cum += int(inc)
        n += 1
        if first_rn == 0 and (cum >= SPRT_A or cum <= SPRT_B):
            first_rn = n
            dec_llr = cum
    # Saturate cum at the int64 state-schema boundary (Python ints are
    # unbounded; the long-typed GroupState would silently WRAP). Safe:
    # an undecided walk is confined to (SPRT_B, SPRT_A) by definition,
    # so only post-decision accumulation — which never feeds output or
    # the frozen decision — can reach the clamp. Matches the batch
    # twin's decimal(38,0) no-wrap contract (eval_sprt_boundary).
    _I64 = (1 << 63) - 1
    cum = max(-_I64 - 1, min(_I64, cum))
    if first_rn > 0:
        decision = "accept_h1" if dec_llr >= SPRT_A else "accept_h0"
        out = (key[0], n, first_rn, decision, dec_llr)
    else:
        out = (key[0], n, n, "undecided", cum)
    return (cum, n, first_rn, dec_llr), [out]


# --- Holt-Winters constants + fold (twin of plans/relational.py's ---
# generated SQL folds; alpha = 1/4, beta = 1/10, gamma = 1/5, m = 7)
HW_M = 7


def _trunc_div(a: int, b: int) -> int:
    """Integer division truncating toward zero — both engines' semantics
    for the SQL div/// the batch folds use (python's // floors, so the
    sign needs handling here)."""
    q = abs(a) // b
    return q if a >= 0 else -q


def _hw_step(vals, x_m):
    """One Holt-Winters recurrence step of state ``vals`` on value x_m."""
    lvl, trd, k = vals[2], vals[3], vals[4]
    seas = vals[5:5 + HW_M]
    idx = k % HW_M
    lp = _trunc_div(x_m - seas[idx], 4) + _trunc_div(3 * (lvl + trd), 4)
    tp = _trunc_div(lp - lvl, 10) + _trunc_div(9 * trd, 10)
    seas[idx] = _trunc_div(x_m - lp, 5) + _trunc_div(4 * seas[idx], 5)
    return vals[:2] + [lp, tp, k + 1] + seas + vals[5 + HW_M:]


@keyed_fold(
    ["d"],
    (-1, 0, 0, 0, 0) + (0,) * HW_M + (0,),  # trailing slot: n_obs
    "pend_day long, pend_n long, lvl long, trd long, step long,"
    " s0 long, s1 long, s2 long, s3 long, s4 long, s5 long, s6 long,"
    " nobs long",
    "event_type string, n_obs_total long, n_days long,"
    " level_milli long, trend_milli long,"
    " season_next_milli long, forecast_next_milli long",
)
def holt_winters_fold(key, rows, st):
    """Per-type streaming Holt-Winters walk for stream_holt_winters.
    State: (pend_day, pend_n, lvl, trd, step, s0..s6, n_obs) — a day's
    count accumulates in `pending` until a LATER day arrives, then
    flushes into the triple-smoothing recurrence (a day straddling
    micro-batches must enter the recurrence exactly once, complete). The
    emitted snapshot applies the still-pending day as a final step
    WITHOUT storing it, so each batch reports 'the state if the stream
    ended now' while later batches can still extend that day. n_obs_total
    is the strictly-monotone snapshot selector: a batch that only EXTENDS
    the open day leaves n_days unchanged but must still outrank the
    earlier snapshot (n_days alone would tie and make the final-row pick
    nondeterministic)."""
    st = list(st)
    for d, n in rows.groupby("d")["one"].sum().items():
        d = int(d)
        if st[0] == -1:
            st[0], st[1] = d, 0
        if d > st[0]:
            st = _hw_step(st, st[1] * 1000)
            st[0], st[1] = d, 0
        st[1] += int(n)
        st[5 + HW_M] += int(n)
    view = _hw_step(st, st[1] * 1000) if st[0] != -1 else st
    n_days = view[4]
    nxt = view[5 + (n_days % HW_M)]
    out = (key[0], st[5 + HW_M], n_days, view[2], view[3], nxt, view[2] + view[3] + nxt)
    return st, [out]


# --- streaming CUSUM (Page 1954) constants + fold ---
CUSUM_BURN = 24          # burn-in cells establishing the reference rate
CUSUM_SLACK_DIV = 10     # slack = mu // 10 (10% allowance per hour)
CUSUM_T_MULT = 5         # alert threshold = 5 * mu (5 mean-hours of drift)
CUSUM_SCALE = 1_000_000


def cusum_close_cell(st: list, h: int, x: int) -> list:
    """Advance the CUSUM walk by one CLOSED hourly cell (count x at hour
    h). Shared by the flush path and the snapshot look-ahead so a batch
    reports 'the walk if the stream ended now' without storing the open
    hour. State layout: [pend_h, pend_n, n_cells, burn_sum, mu_s, cum,
    mn, alert_h, max_drift, n_obs]; mu_s = -1 until the burn-in
    completes, alert_h = -1 until the first crossing (first-crossing
    freeze, like the SPRT walk)."""
    ph, pn, ncl, bs, mu, cum, mn, ah, mx, no = st
    ncl += 1
    if ncl <= CUSUM_BURN:
        bs += x
        if ncl == CUSUM_BURN:
            mu = bs * CUSUM_SCALE // CUSUM_BURN
    else:
        cum += x * CUSUM_SCALE - (mu + mu // CUSUM_SLACK_DIV)
        if cum < mn:
            mn = cum
        drift = cum - mn  # mn starts at 0: drift = c - least(0, min c)
        if drift > mx:
            mx = drift
        if ah == -1 and drift >= CUSUM_T_MULT * mu:
            ah = h
    return [ph, pn, ncl, bs, mu, cum, mn, ah, mx, no]


@keyed_fold(
    ["h"],
    (-1, 0, 0, 0, -1, 0, 0, -1, 0, 0),
    "pend_h long, pend_n long, n_cells long, burn_sum long,"
    " mu_s long, cum long, mn long, alert_h long, max_drift long,"
    " n_obs long",
    "event_type string, n_obs_total long, n_cells long,"
    " mu_scaled long, first_alert_h long, max_drift long",
)
def cusum_fold(key, rows, st):
    """Per-type streaming CUSUM changepoint walk for stream_cusum_monitor.
    Hour-cell flush discipline is holt_winters_fold's: an hour's count
    accumulates in `pending` until a LATER hour arrives (a cell
    straddling micro-batches enters the walk exactly once, complete);
    the snapshot applies the still-open hour as a look-ahead step
    WITHOUT storing it. The int64 state boundary cannot wrap: cum moves
    at most x*1e6 per cell and the walk is drift-bounded by the alert
    freeze envelope measured at sf1 (see the sprt clamp note)."""
    st = list(st)
    for h, n in rows.groupby("h")["one"].sum().items():
        h, n = int(h), int(n)
        if st[0] == -1:
            st[0], st[1] = h, 0
        if h > st[0]:
            st = cusum_close_cell(st, st[0], st[1])
            st[0], st[1] = h, 0
        st[1] += n
        st[9] += n
    view = cusum_close_cell(list(st), st[0], st[1]) if st[0] != -1 else list(st)
    if view[2] <= CUSUM_BURN:
        # no post-burn-in walk step yet: the batch oracle's walk CTE has
        # no rows for this type (rn > BURN) and its inner join drops it —
        # a series with EXACTLY 24 cells must also emit nothing here
        # (/code-review r9 find: the earlier mu-set guard emitted a row
        # at ncl == 24 that the oracle never produces)
        return st, []
    alert_h = None if view[7] == -1 else view[7]
    # n_obs_total (st[9]) is the strictly monotone snapshot selector
    return st, [(key[0], st[9], view[2], view[4], alert_h, view[8])]


# --- streaming SLO burn-rate constants + fold (twin of ---
# plans/relational.py's ops_slo_burn_rate literals: 20% budget ->
# burn = err * 5e6 // n; fast window >= 1.1e6 AND slow >= 1.05e6)
SLO_FAST_PPM = 1_100_000
SLO_SLOW_PPM = 1_050_000
SLO_WINDOW = 6  # slow window: current + 5 preceding hours (RANGE)


def slo_close_cell(st: list, emit: list, h: int, n: int, e: int) -> list:
    """Close one hourly cell against the last-5-closed ring, append its
    row (with alert verdict) to emit, and rotate the ring. Shared by the
    flush path and the snapshot look-ahead (which passes a COPY of the
    state so the open hour is never stored). Ring slots may hold cells
    older than h-5 after a traffic gap — the RANGE semantics filter at
    compute time, exactly like the batch twin's RANGE frame."""
    ring = st[3:18]  # 5 x (h, n, err), oldest first
    n6, e6 = n, e
    for j in range(0, 15, 3):
        if ring[j] >= 0 and ring[j] >= h - (SLO_WINDOW - 1):
            n6 += ring[j + 1]
            e6 += ring[j + 2]
    burn1 = e * 5_000_000 // n
    burn6 = e6 * 5_000_000 // n6
    emit.append(
        (h, n, e, burn1, burn6, burn1 >= SLO_FAST_PPM and burn6 >= SLO_SLOW_PPM)
    )
    st = st[:3] + ring[3:] + [h, n, e] + st[18:]  # rotate oldest out
    return st


@keyed_fold(
    ["h"],
    (-1, 0, 0) + (-1, 0, 0) * 5 + (0,),
    "pend_h long, pend_n long, pend_e long,"
    " r0h long, r0n long, r0e long, r1h long, r1n long, r1e long,"
    " r2h long, r2n long, r2e long, r3h long, r3n long, r3e long,"
    " r4h long, r4n long, r4e long, n_obs long",
    "h long, n_1h long, err_1h long, burn1_ppm long,"
    " burn6_ppm long, alert boolean, n_obs_total long",
)
def slo_burn_fold(key, rows, st):
    """Global-series streaming SLO burn monitor for
    stream_slo_burn_monitor. A real SLO is ONE series, so the fold runs
    single-keyed (state: pending cell + 5-cell ring + n_obs = 19
    longs); hour cells straddling micro-batches use the pending-flush
    discipline, and each batch re-emits the open hour as a look-ahead
    row. Every closed hour emits (not just alerts): a partial hour can
    look like an alert and then cool off, so the verdict must be
    re-selectable per hour — the registered query filters alert rows
    AFTER final-snapshot selection."""
    st = list(st)
    emit: list = []
    g = rows.groupby("h").agg(n=("one", "sum"), e=("err", "sum"))
    for h, row in g.iterrows():
        h, n, e = int(h), int(row["n"]), int(row["e"])
        if st[0] == -1:
            st[0], st[1], st[2] = h, 0, 0
        if h > st[0]:
            st = slo_close_cell(st, emit, st[0], st[1], st[2])
            st[0], st[1], st[2] = h, 0, 0
        st[1] += n
        st[2] += e
        st[18] += n
    if st[0] != -1:
        slo_close_cell(list(st), emit, st[0], st[1], st[2])  # look-ahead
    return st, [r + (st[18],) for r in emit]


@keyed_fold(
    ["us", "event_id"],
    (-1, -1, -1, 0),
    "v_us long, c_us long, p_us long, n long",
    "user_id long, n_events long, funnel_stage long",
)
def funnel_stage_fold(key, rows, st):
    """Per-user streaming funnel tracker for stream_funnel_stage.
    State: (v_us, c_us, p_us, n) — the first-passage chain
    view -> click-strictly-after -> purchase-strictly-after, advanced
    incrementally (first view seen; first click with ts > v; first
    purchase with ts > c). Matches the batch chain exactly under the
    update-twin ordering contract (per-key event time nondecreasing
    across batches); within a batch rows sort by (ts, event_id).
    Sentinel -1 = stage not reached."""
    v, c, p, n = st
    for t, us in zip(rows["event_type"].to_numpy(), rows["us"].to_numpy()):
        us = int(us)
        n += 1
        if v == -1 and t == "view":
            v = us
        elif v != -1 and c == -1 and t == "click" and us > v:
            c = us
        elif c != -1 and p == -1 and t == "purchase" and us > c:
            p = us
    stage = 3 if p != -1 else 2 if c != -1 else 1 if v != -1 else 0
    return (v, c, p, n), [(key[0], n, stage)]


def _croston_flush(vals):
    """Flush the pending (day, demand) of Croston state ``vals`` into the
    size/interval recurrences."""
    pd_day, z = vals[0], vals[1]
    sz, iv, prev, t = vals[2], vals[3], vals[4], vals[5]
    if t == 0:
        return [pd_day, z, z, 1, pd_day, 1, vals[6]]
    sz2 = _trunc_div(z + 3 * sz, 4)
    iv2 = _trunc_div((pd_day - prev) + 3 * iv, 4)
    return [pd_day, z, sz2, iv2, pd_day, t + 1, vals[6]]


@keyed_fold(
    ["d"],
    (-1, 0, 0, 0, 0, 0, 0),  # pend_day pend_z sz iv pd t nobs
    "pend_day long, pend_z long, sz long, iv long, pd long, t long, nobs long",
    "user_id long, nobs long, n_demands long, size_level long,"
    " interval_level long, demand_rate_ppm long",
)
def croston_fold(key, rows, st):
    """Per-user streaming Croston walk for stream_croston_monitor.
    State: (pend_day, pend_z, sz, iv, pd, t, nobs) — a purchase day's
    demand accumulates in `pending` until a LATER day arrives, then
    flushes into the size/interval recurrences exactly once, complete
    (the holt_winters_fold day-straddle contract). The emitted snapshot
    applies the still-pending day as a final step WITHOUT storing it,
    so each batch reports 'the state if the stream ended now'; nobs
    (total demand observed) is the strictly-monotone snapshot selector.
    Recurrences mirror timeseries_croston exactly: first demand seeds
    (sz=z1, iv=1, pd=d1, t=1); each later flush of (d, z) applies
    sz' = (z + 3sz) div 4, iv' = ((d - pd) + 3iv) div 4 with the same
    truncating division both engines use."""
    st = list(st)
    for d, z in rows.groupby("d")["one"].sum().items():
        d, z = int(d), int(z)
        if st[0] == -1:
            st[0], st[1] = d, 0
        if d > st[0]:
            st = _croston_flush(st)
            st[0], st[1] = d, 0
        st[1] += z
        st[6] += z
    view = _croston_flush(st) if st[0] != -1 else st
    sz, iv, t = view[2], view[3], view[5]
    rate = 0 if iv == 0 else (sz * 1_000_000) // iv
    return st, [(key[0], st[6], t, sz, iv, rate)]
