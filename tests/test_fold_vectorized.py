"""r12 optimization guard: the numpy-vectorized per-key streaming folds
(`cep._chain_fold`, run by `cep._chain_update_fn`, and
`stateful._pick_latest`) must stay byte-identical to the original pandas
formulations they replaced (the fold runs once per KEY per
micro-batch, so its constant factor multiplies by the key count; measured
6-9× per call at r12). The one chain fold serves both CEP shapes: the
followed-by sweep runs it as the two-stage chain `(view, click)` against
`_fold_pattern_ref`, the funnel sweep as the three-stage chain
`(view, click, purchase)` against `_funnel_update_fn_ref`.

The reference implementations below ARE the r11 pandas code, kept verbatim
so any future drift in NULL handling, tie ordering (NaN ids last vs first),
seeding from carried state, or output dtypes is caught against the original
semantics — not against the optimized code's own behavior. One edit: the
funnel reference's two hops carry the `lag >= 0` term the followed-by
reference always had, so a carried predecessor newer than the row is
rejected on every hop.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from fs2_kafka_streams_spark.streaming.cep import (
    _FOLLOWED_BY,
    _FUNNEL,
    _chain_fold,
    _chain_update_fn,
)
from fs2_kafka_streams_spark.streaming.stateful import _pick_latest

pytestmark = pytest.mark.usefixtures()  # pure pandas — no Spark session


# ---- r11 reference implementations (verbatim) ------------------------------


def _fold_pattern_ref(frames, last, base_type, trigger_type, gap_us):
    if not frames:
        return last, None
    pdf = pd.concat(frames, ignore_index=True)
    pdf = pdf.assign(_ts_us=pdf["ts"].astype("int64") // 1000)
    pdf = pdf.sort_values(["_ts_us", "event_id"], ignore_index=True)
    is_base = pdf["event_type"] == base_type
    pos = pd.Series(range(len(pdf)), dtype="float64")
    bpos = pos.where(is_base).ffill().shift(1)
    have = bpos.notna()
    taken = bpos.fillna(0).astype(int).to_numpy()
    ids = pdf["event_id"].astype("Int64").to_numpy()
    prior_id = pd.Series(
        pd.array(ids[taken], dtype="Int64"), index=pdf.index
    ).where(have)
    prior_ts = pd.Series(
        pdf["_ts_us"].to_numpy()[taken], index=pdf.index, dtype="Int64"
    ).where(have)
    if last is not None:
        prior_id = prior_id.mask(~have, last[0])
        prior_ts = prior_ts.fillna(last[1])
    hit = (
        (pdf["event_type"] == trigger_type)
        & prior_ts.notna()
        & (pdf["_ts_us"] - prior_ts <= gap_us)
        & (pdf["_ts_us"] - prior_ts >= 0)
    ).fillna(False).astype(bool)
    if is_base.any():
        i = is_base[is_base].index[-1]
        eid = pdf["event_id"].iloc[i]
        last = (
            None if pd.isna(eid) else int(eid),
            int(pdf["_ts_us"].iloc[i]),
        )
    match = None
    if hit.any():
        m = pdf[hit]
        match = pd.DataFrame(
            {
                "user_id": m["user_id"].astype("Int64"),
                "base_event_id": prior_id[hit],
                "trigger_event_id": m["event_id"].astype("Int64"),
                "base_ts": pd.to_datetime(
                    prior_ts[hit].astype("int64"), unit="us"
                ),
                "trigger_ts": pd.to_datetime(m["_ts_us"], unit="us"),
                "lag_seconds": m["_ts_us"] // 1_000_000
                - prior_ts[hit].astype("int64") // 1_000_000,
            }
        )
    return last, match


def _funnel_update_fn_ref(stages, gap_us):
    base_t, mid_t, fin_t = stages

    def update(key, pdf_iter, state):
        st = tuple(state.get) if state.exists else (None,) * 6
        frames = [pdf for pdf in pdf_iter if not pdf.empty]
        if not frames:
            if state.exists:
                state.update(st)
            return
        pdf = pd.concat(frames, ignore_index=True)
        pdf = pdf.assign(_ts_us=pdf["ts"].astype("int64") // 1000)
        pdf = pdf.sort_values(["_ts_us", "event_id"], ignore_index=True)
        ids = pdf["event_id"].astype("Int64").to_numpy()
        tss = pdf["_ts_us"].to_numpy()
        pos = pd.Series(range(len(pdf)), dtype="float64")

        def prior(mask, col_np, dtype="Int64"):
            p = pos.where(mask).ffill().shift(1)
            have = p.notna()
            taken = p.fillna(0).astype(int).to_numpy()
            return pd.Series(
                pd.array(col_np[taken], dtype=dtype), index=pdf.index
            ).where(have), have

        is_base = pdf["event_type"] == base_t
        pv_id, have_v = prior(is_base, ids)
        pv_ts, _ = prior(is_base, tss)
        if st[1] is not None:
            pv_id = pv_id.mask(~have_v, st[0])
            pv_ts = pv_ts.fillna(st[1])
        q_mid = (
            (pdf["event_type"] == mid_t)
            & pv_ts.notna()
            & (pdf["_ts_us"] - pv_ts <= gap_us)
            & (pdf["_ts_us"] - pv_ts >= 0)
        ).fillna(False).astype(bool)
        pc_id, have_c = prior(q_mid, ids)
        pc_ts, _ = prior(q_mid, tss)
        pcv_id, _ = prior(q_mid, pv_id.to_numpy())
        pcv_ts, _ = prior(q_mid, pv_ts.to_numpy())
        if st[3] is not None:
            pc_id = pc_id.mask(~have_c, st[2])
            pc_ts = pc_ts.fillna(st[3])
            pcv_id = pcv_id.mask(~have_c, st[4])
            pcv_ts = pcv_ts.fillna(st[5])
        hit = (
            (pdf["event_type"] == fin_t)
            & pc_ts.notna()
            & (pdf["_ts_us"] - pc_ts <= gap_us)
            & (pdf["_ts_us"] - pc_ts >= 0)
        ).fillna(False).astype(bool)

        def opt(v):
            return None if pd.isna(v) else int(v)

        new = list(st)
        if is_base.any():
            i = is_base[is_base].index[-1]
            new[0], new[1] = opt(pdf["event_id"].iloc[i]), int(
                pdf["_ts_us"].iloc[i]
            )
        if q_mid.any():
            j = q_mid[q_mid].index[-1]
            new[2], new[3] = opt(pdf["event_id"].iloc[j]), int(
                pdf["_ts_us"].iloc[j]
            )
            new[4], new[5] = opt(pv_id.iloc[j]), int(pv_ts.iloc[j])
        if any(x is not None for x in new):
            state.update(tuple(new))

        if hit.any():
            m = pdf[hit]
            yield pd.DataFrame(
                {
                    "user_id": m["user_id"].astype("Int64"),
                    "view_event_id": pcv_id[hit],
                    "click_event_id": pc_id[hit],
                    "purchase_event_id": m["event_id"].astype("Int64"),
                    "view_ts": pd.to_datetime(
                        pcv_ts[hit].astype("int64"), unit="us"
                    ),
                    "click_ts": pd.to_datetime(
                        pc_ts[hit].astype("int64"), unit="us"
                    ),
                    "purchase_ts": pd.to_datetime(m["_ts_us"], unit="us"),
                    "total_lag_seconds": m["_ts_us"] // 1_000_000
                    - pcv_ts[hit].astype("int64") // 1_000_000,
                }
            )

    return update


def _pick_latest_ref(pdf, tombstone_col=None):
    ts_us = pd.Series(
        pdf["ts"].values.astype("datetime64[us]").astype("int64"),
        index=pdf.index,
    )
    idx = (
        pd.DataFrame({"t": ts_us, "e": pdf["event_id"]})
        .sort_values(["t", "e"], na_position="first")
        .index[-1]
    )
    row = pdf.loc[idx]

    def _opt(v, conv):
        return None if pd.isna(v) else conv(v)

    cand = (
        _opt(row["event_id"], int),
        int(ts_us.loc[idx]),
        _opt(row["event_type"], str),
        _opt(row["value"], float),
        _opt(row["props"], str),
    )
    if tombstone_col is not None:
        cand = cand + (bool(row[tombstone_col]),)
    return cand, idx


# ---- harness ---------------------------------------------------------------


class MockState:
    def __init__(self, st=None):
        self._st = st

    @property
    def exists(self):
        return self._st is not None

    @property
    def get(self):
        return self._st

    def update(self, t):
        self._st = tuple(t)


def mk(n, rng, null_ids=0.0, null_uid=0.0, null_type=0.0, null_ts=0.0,
       tie_frac=0.0, unit="us", extreme=False, payload=False,
       obj_ids=False):
    ts_i = rng.integers(1_600_000_000_000_000, 1_600_000_600_000_000, n)
    if extreme:
        # epoch boundary, DuckDB min/max-era, and a normal value — far
        # dates stay inside datetime64[us] (ns would overflow, matching
        # the engines' µs domain)
        ts_i = rng.choice(
            np.array([0, 1, -62135596800000000, 253402300799999999,
                      1_600_000_000_000_000]), n)
        unit = "us"
    if tie_frac:
        tie = rng.random(n) < tie_frac
        ts_i[tie] = ts_i[0]
    ids = rng.integers(0, 50, n).astype("float64")
    if null_ids:
        ids[rng.random(n) < null_ids] = np.nan
    uid = np.full(n, 7).astype("float64")
    if null_uid:
        uid[rng.random(n) < null_uid] = np.nan
    et = rng.choice(["view", "click", "purchase", "error"], n).astype(object)
    if null_type:
        et[rng.random(n) < null_type] = None
    ts = ts_i.astype("datetime64[us]")
    if unit == "ns":
        ts = ts.astype("datetime64[ns]")
    ts = pd.Series(ts)
    if null_ts:
        ts[rng.random(n) < null_ts] = pd.NaT
    eid = ids if null_ids else ids.astype("int64")
    if obj_ids:
        # object dtype, Python ints and None: what a state API may hand a
        # fold for a nullable long column
        eid = np.array(
            [None if np.isnan(x) else int(x) for x in ids], dtype=object
        )
    d = {
        "event_id": eid,
        "ts": ts,
        "user_id": uid if null_uid else uid.astype("int64"),
        "event_type": et,
    }
    if payload:
        val = rng.random(n)
        props = np.array(['{"a":1}'] * n, dtype=object)
        if null_type:
            props[rng.random(n) < null_type] = None
            val[rng.random(n) < null_type] = np.nan
        d["value"] = val
        d["props"] = props
        d["deleted"] = rng.random(n) < 0.3
    return pd.DataFrame(d)


def _rand_kw(rng):
    return dict(
        null_ids=float(rng.choice([0, 0.3])),
        null_uid=float(rng.choice([0, 0.3])),
        null_type=float(rng.choice([0, 0.2])),
        tie_frac=float(rng.choice([0, 0.5, 1.0])),
        unit=str(rng.choice(["us", "ns"])),
        extreme=bool(rng.choice([False, False, True])),
        obj_ids=bool(rng.choice([False, True])),
    )


def assert_frames_equal(a, b):
    assert len(a) == len(b)
    for x, y in zip(a, b):
        pd.testing.assert_frame_equal(
            x.reset_index(drop=True), y.reset_index(drop=True),
            check_dtype=True,
        )


FUNNEL = ("view", "click", "purchase")


def test_chain_fold_followed_by_matches_pandas_reference():
    rng = np.random.default_rng(123)
    for _ in range(150):
        frames = [mk(int(rng.integers(1, 40)), rng, **_rand_kw(rng))]
        if rng.random() < 0.3:
            frames.append(mk(int(rng.integers(1, 10)), rng))
        gap = int(rng.choice([0, 1, 600_000_000, 10**15]))
        r = rng.random()
        last = None
        if r < 0.4:
            last = (int(rng.integers(0, 50)),
                    1_600_000_000_000_000 + int(rng.integers(0, 10**9)))
        elif r < 0.6:
            last = (None, 1_600_000_000_000_000)  # NULL-id base in state
        lo, mo = _fold_pattern_ref(
            [f.copy() for f in frames], last, "view", "click", gap)
        ln, mn = _chain_fold(
            [f.copy() for f in frames], last or (None, None),
            ("view", "click"), gap, _FOLLOWED_BY)
        assert (lo or (None, None)) == ln
        assert (mo is None) == (mn is None)
        if mo is not None:
            assert_frames_equal([mo], [mn])
        # the same fold through the applyInPandasWithState factory
        state = MockState(last)
        fn = _chain_update_fn(("view", "click"), gap, _FOLLOWED_BY)
        out = list(fn(None, iter([f.copy() for f in frames]), state))
        assert state._st == lo
        assert_frames_equal([] if mo is None else [mo], out)
    # empty input keeps state untouched
    assert _chain_fold(
        [], (5, 10), ("view", "click"), 1, _FOLLOWED_BY
    ) == ((5, 10), None)


def test_chain_fold_funnel_matches_pandas_reference():
    rng = np.random.default_rng(7)
    for _ in range(150):
        frames = [mk(int(rng.integers(1, 40)), rng, **_rand_kw(rng))]
        if rng.random() < 0.3:
            frames.append(mk(int(rng.integers(1, 10)), rng))
        gap = int(rng.choice([0, 1, 600_000_000, 43_200_000_000, 10**15]))
        bts = 1_600_000_000_000_000
        r = rng.random()
        if r < 0.35:
            st = None
        elif r < 0.55:  # level-1 only
            st = (int(rng.integers(0, 50)), bts + int(rng.integers(0, 10**9)),
                  None, None, None, None)
        elif r < 0.75:  # both levels
            st = (int(rng.integers(0, 50)), bts, int(rng.integers(0, 50)),
                  bts + int(rng.integers(0, 10**9)),
                  int(rng.integers(0, 50)), bts)
        else:  # NULL-id slots with live ts slots
            st = (None, bts, None, bts + 5, None, bts)
        ofn = _funnel_update_fn_ref(FUNNEL, gap)
        nfn = _chain_update_fn(FUNNEL, gap, _FUNNEL)
        so, sn = MockState(st), MockState(st)
        oo = list(ofn(None, iter([f.copy() for f in frames]), so) or [])
        nn = list(nfn(None, iter([f.copy() for f in frames]), sn) or [])
        assert so._st == sn._st
        assert_frames_equal(oo, nn)
        # empty-batch path: state re-asserted, nothing yielded
        se_o, se_n = MockState(st), MockState(st)
        assert list(ofn(None, iter([]), se_o) or []) == []
        assert list(nfn(None, iter([]), se_n) or []) == []
        assert se_o._st == se_n._st


def test_funnel_rejects_carried_mid_newer_than_the_row():
    # carried: view at T, click at T+60 s; a later batch brings a purchase
    # at T+30 s. The click is not prior to the purchase, so no chain — the
    # followed-by hop has always refused a negative lag, and the funnel's
    # hops now do too.
    t = 1_600_000_000_000_000
    st = (1, t, 2, t + 60_000_000, 1, t)
    batch = pd.DataFrame({
        "event_id": [3],
        "ts": pd.Series([t + 30_000_000]).astype("datetime64[us]")
        .astype("datetime64[ns]"),
        "user_id": [7],
        "event_type": ["purchase"],
    })
    for fn in (_chain_update_fn(FUNNEL, 43_200_000_000, _FUNNEL),
               _funnel_update_fn_ref(FUNNEL, 43_200_000_000)):
        state = MockState(st)
        assert list(fn(None, iter([batch.copy()]), state)) == []
        assert state._st == st


def test_pick_latest_matches_pandas_reference():
    rng = np.random.default_rng(3)
    for _ in range(200):
        kw = _rand_kw(rng)
        f = mk(int(rng.integers(1, 40)), rng, payload=True,
               null_ts=float(rng.choice([0, 0.3])), **kw)
        for tc in (None, "deleted"):
            co, io_ = _pick_latest_ref(f.copy(), tc)
            cn, in_ = _pick_latest(f.copy(), tc)
            assert co == cn
            assert io_ == in_
