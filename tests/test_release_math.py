"""Pure-numpy tests for the shard release-step math
(`streaming/stateful._sliding_release` / `._asof_release`) — the index
algebra behind all four shard-keyed stateful operators, checked against
brute-force per-user oracles without a SparkSession, including the
int64-overflow recursion path that fixture-scale streaming tests can
never reach (it needs multi-millennium time ranges)."""

from __future__ import annotations

import numpy as np
import pytest

from kafka_streams_learning_spark.streaming.stateful import (
    _asof_release,
    _sliding_release,
)


def _brute_sliding(ru, rt, tb_u, tb_t, lookback):
    cnt = np.empty(len(ru), "int64")
    for i, (u, t) in enumerate(zip(ru, rt)):
        pool = np.concatenate([tb_t[tb_u == u], rt[ru == u]])
        cnt[i] = int(((pool >= t - lookback) & (pool <= t)).sum())
    nb_u, nb_t = [], []
    for u in np.unique(ru):
        pool = np.sort(np.concatenate([tb_t[tb_u == u], rt[ru == u]]))
        last = rt[ru == u].max()
        keep = pool[pool >= last - lookback]
        nb_u.extend([u] * len(keep))
        nb_t.extend(keep.tolist())
    return cnt, np.asarray(nb_u, "int64"), np.asarray(nb_t, "int64")


def _brute_asof(ru, rt, ri, is_p, su_u, su_t, su_id):
    n = len(ru)
    lp_t = np.zeros(n, "int64")
    lp_id = np.zeros(n, "int64")
    vis = np.zeros(n, bool)
    for i in range(n):
        u, t = ru[i], rt[i]
        cand = [
            (su_t[j], su_id[j]) for j in range(len(su_u)) if su_u[j] == u
        ] + [
            (rt[j], ri[j]) for j in range(n) if ru[j] == u and is_p[j]
        ]
        cand = sorted(c for c in cand if c[0] < t)
        if cand:
            lp_t[i], lp_id[i] = cand[-1]
            vis[i] = True
    nu, nt, nid = [], [], []
    for u in np.unique(ru):
        cand = [
            (su_t[j], su_id[j]) for j in range(len(su_u)) if su_u[j] == u
        ] + [
            (rt[j], ri[j]) for j in range(n) if ru[j] == u and is_p[j]
        ]
        if cand:
            t, i_ = max(cand)
            nu.append(u), nt.append(t), nid.append(i_)
    return (
        lp_t, lp_id, vis,
        np.asarray(nu, "int64"), np.asarray(nt, "int64"),
        np.asarray(nid, "int64"),
    )


def _random_release(rng, n_users=6, n_rows=40, t_hi=1000):
    u = np.sort(rng.integers(0, n_users, n_rows).astype("int64"))
    t = rng.integers(0, t_hi, n_rows).astype("int64")
    i = rng.permutation(n_rows).astype("int64")
    order = np.lexsort((i, t, u))
    return u[order], t[order], i[order]


@pytest.mark.parametrize("seed", range(20))
def test_sliding_release_matches_brute_force(seed):
    rng = np.random.default_rng(seed)
    ru, rt, _ = _random_release(rng)
    n_buf = int(rng.integers(0, 15))
    tb_u = np.sort(rng.integers(0, 6, n_buf).astype("int64"))
    tb_t = rng.integers(0, 1000, n_buf).astype("int64")
    tb_order = np.lexsort((tb_t, tb_u))
    tb_u, tb_t = tb_u[tb_order], tb_t[tb_order]
    # buffers must belong to touched users only (the caller's contract)
    keep = np.isin(tb_u, np.unique(ru))
    tb_u, tb_t = tb_u[keep], tb_t[keep]
    lookback = int(rng.integers(1, 300))
    cnt, nb_u, nb_t = _sliding_release(ru, rt, tb_u, tb_t, lookback)
    ecnt, enb_u, enb_t = _brute_sliding(ru, rt, tb_u, tb_t, lookback)
    assert cnt.tolist() == ecnt.tolist()
    # buffers are per-user sets; compare as sorted pairs
    assert sorted(zip(nb_u, nb_t)) == sorted(zip(enb_u, enb_t))


@pytest.mark.parametrize("seed", range(20))
def test_asof_release_matches_brute_force(seed):
    rng = np.random.default_rng(seed)
    ru, rt, ri = _random_release(rng)
    is_p = rng.random(len(ru)) < 0.3
    n_su = int(rng.integers(0, 5))
    su_u = np.unique(rng.integers(0, 6, n_su).astype("int64"))
    su_u = su_u[np.isin(su_u, np.unique(ru))]
    su_t = rng.integers(0, 1000, len(su_u)).astype("int64")
    su_id = rng.integers(1000, 2000, len(su_u)).astype("int64")
    lp_t, lp_id, vis, nu, nt, nid = _asof_release(
        ru, rt, ri, is_p, su_u, su_t, su_id
    )
    elp_t, elp_id, evis, enu, ent, enid = _brute_asof(
        ru, rt, ri, is_p, su_u, su_t, su_id
    )
    assert vis.tolist() == evis.tolist()
    # lp_t/lp_id are meaningful ONLY where vis (the shard fn masks the
    # rest to NULL before emitting)
    assert lp_t[vis].tolist() == elp_t[evis].tolist()
    assert lp_id[vis].tolist() == elp_id[evis].tolist()
    assert list(zip(nu, nt, nid)) == list(zip(enu, ent, enid))


def test_sliding_release_overflow_splits_users():
    """Two users whose combined time range overflows rank x span: the
    helper must split per user and still return exact counts (each
    user's own range is tiny)."""
    far = 2**61
    ru = np.array([1, 1, 2, 2], "int64")
    rt = np.array([0, 50, far, far + 50], "int64")
    tb = np.empty(0, "int64")
    cnt, nb_u, nb_t = _sliding_release(ru, rt, tb, tb, 100)
    assert cnt.tolist() == [1, 2, 1, 2]
    assert sorted(zip(nb_u, nb_t)) == [
        (1, 0), (1, 50), (2, far), (2, far + 50)
    ]


def test_asof_release_overflow_splits_users():
    far = 2**61
    ru = np.array([1, 1, 2, 2], "int64")
    rt = np.array([0, 50, far, far + 50], "int64")
    ri = np.array([10, 11, 20, 21], "int64")
    is_p = np.array([True, False, True, False])
    e = np.empty(0, "int64")
    lp_t, lp_id, vis, nu, nt, nid = _asof_release(ru, rt, ri, is_p, e, e, e)
    assert vis.tolist() == [False, True, False, True]
    assert lp_id[vis].tolist() == [10, 20]
    assert list(zip(nu, nt, nid)) == [(1, 0, 10), (2, far, 20)]


def test_single_user_pathological_span_raises():
    ru = np.array([1, 1], "int64")
    rt = np.array([0, 2**62], "int64")
    tb = np.empty(0, "int64")
    with pytest.raises(OverflowError):
        _sliding_release(ru, rt, tb, tb, 10)


@pytest.mark.parametrize("seed", range(20))
def test_sliding_release_split_path_parity_with_unsplit(seed):
    """Forced-split parity (VERDICT r11 item 5): lowering the overflow
    threshold (`max_composite`) makes ORDINARY data take the exact
    user-split recursion — the deep-recursion path realistic fixtures
    never reach. The split result must be bit-identical to the unsplit
    one on the same inputs, and with a threshold this small the
    recursion bottoms out at 2-user leaves, exercising every split
    depth at once."""
    rng = np.random.default_rng(1000 + seed)
    ru, rt, _ = _random_release(rng, n_users=9, n_rows=60)
    n_buf = int(rng.integers(0, 20))
    tb_u = np.sort(rng.integers(0, 9, n_buf).astype("int64"))
    tb_t = rng.integers(0, 1000, n_buf).astype("int64")
    tb_order = np.lexsort((tb_t, tb_u))
    tb_u, tb_t = tb_u[tb_order], tb_t[tb_order]
    keep = np.isin(tb_u, np.unique(ru))
    tb_u, tb_t = tb_u[keep], tb_t[keep]
    lookback = int(rng.integers(1, 300))
    full = _sliding_release(ru, rt, tb_u, tb_t, lookback)
    # smallest legal threshold: a 2-user leaf needs (2+1) * span
    span = int(rt.max() - min(rt.min(), tb_t.min() if len(tb_t) else rt.min())
               ) + lookback + 2
    split = _sliding_release(
        ru, rt, tb_u, tb_t, lookback, max_composite=3 * span
    )
    assert split[0].tolist() == full[0].tolist()
    assert sorted(zip(split[1], split[2])) == sorted(zip(full[1], full[2]))


@pytest.mark.parametrize("seed", range(20))
def test_asof_release_split_path_parity_with_unsplit(seed):
    rng = np.random.default_rng(2000 + seed)
    ru, rt, ri = _random_release(rng, n_users=9, n_rows=60)
    is_p = rng.random(len(ru)) < 0.3
    n_su = int(rng.integers(0, 6))
    su_u = np.unique(rng.integers(0, 9, n_su).astype("int64"))
    su_u = su_u[np.isin(su_u, np.unique(ru))]
    su_t = rng.integers(0, 1000, len(su_u)).astype("int64")
    su_id = rng.integers(1000, 2000, len(su_u)).astype("int64")
    full = _asof_release(ru, rt, ri, is_p, su_u, su_t, su_id)
    lo = int(min(rt.min(), su_t.min())) if len(su_t) else int(rt.min())
    span = int(max(rt.max(), su_t.max() if len(su_t) else rt.max())) - lo + 2
    split = _asof_release(
        ru, rt, ri, is_p, su_u, su_t, su_id, max_composite=3 * span
    )
    f_vis, s_vis = full[2], split[2]
    assert s_vis.tolist() == f_vis.tolist()
    assert split[0][s_vis].tolist() == full[0][f_vis].tolist()
    assert split[1][s_vis].tolist() == full[1][f_vis].tolist()
    assert list(zip(split[3], split[4], split[5])) == \
        list(zip(full[3], full[4], full[5]))


def test_state_string_codec_roundtrip():
    """Dictionary-encoded string state blobs (r12): roundtrip through
    _pack_str/_unpack_str must be identity for empty, small-vocab (the
    dict path) and huge-vocab (the raw fallback) arrays — state bytes
    feed the release math, so a codec bug is a correctness bug."""
    from kafka_streams_learning_spark.streaming.stateful import (
        _pack_str,
        _unpack_str,
    )

    empty = np.empty(0, object)
    assert _unpack_str(_pack_str(empty)).tolist() == []
    small = np.asarray(["view", "purchase", "view", "click"] * 1000, object)
    out = _unpack_str(_pack_str(small))
    assert out.tolist() == small.tolist()
    # >= 65535 distinct values forces the raw-list fallback (tag "r")
    big = np.asarray([f"t{i}" for i in range(70000)], object)
    blob = _pack_str(big)
    import pickle

    assert pickle.loads(blob)[0] == "r"
    assert _unpack_str(blob).tolist() == big.tolist()
    # nulls fail AT PACK TIME (ADVICE r12): factorize would encode None
    # as -1, the uint16 cast would wrap it to 65535, and _unpack_str
    # would index past the vocab only AFTER the corrupt blob was
    # checkpointed; the raw fallback would instead stringify None —
    # divergent paths. A loud error beats either.
    import pytest

    with pytest.raises(ValueError, match="non-null"):
        _pack_str(np.asarray(["view", None, "click"], object))


# --- shard fns end to end, without Spark: emitted rows and packed state
# bytes across two data calls and one timeout call. The state tuples are
# the checkpoint format (schemas `_SLIDING_STATE_SCHEMA` /
# `_ASOF_STATE_SCHEMA`): int64 columns are raw little-endian bytes, the
# event-type column a pickled (vocab, uint16 codes) tuple.

T0 = 1_700_000_000_000_000  # event-time origin, micros


class _FakeGroupState:
    """The slice of `GroupState` the shard fns use."""

    def __init__(self):
        self.value = None
        self.wm_ms = 0
        self.timeouts: list[int] = []

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def setTimeoutTimestamp(self, ms):
        self.timeouts.append(ms - T0 // 1000)


def _i64(*vals):
    import struct

    return struct.pack(f"<{len(vals)}q", *vals)


def _ts(*secs):
    return _i64(*(T0 + s * 1_000_000 for s in secs))


def _chunk(rows, cols):
    """One Arrow chunk as the shard fn sees it: the `_shard` key plus the
    input columns, `ts` as datetime64[ns] (given in seconds after T0)."""
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=cols)
    pdf["ts"] = pd.to_datetime((T0 + pdf["ts"] * 1_000_000) * 1000)
    pdf.insert(0, "_shard", 7)
    return pdf


def _emitted(out):
    """Output rows as tuples; timestamps as seconds after T0, nulls None."""
    import pandas as pd

    rows = []
    for rec in out.itertuples(index=False):
        row = []
        for v in rec:
            if v is None or v is pd.NaT or v is pd.NA:
                row.append(None)
            elif isinstance(v, pd.Timestamp):
                row.append((v.value // 1000 - T0) // 1_000_000)
            else:
                row.append(v.item() if hasattr(v, "item") else v)
        rows.append(tuple(row))
    return rows


_SLIDING_IN = ["user_id", "event_id", "ts"]
_ASOF_IN = ["event_id", "user_id", "ts", "event_type"]
# two data calls (the first carries a flush sentinel, event_id -1) and
# one call with no rows — a timeout call in the disorder mode
_SLIDING_CALLS = [
    [(1, 10, 0), (2, 11, 1), (1, 12, 5), (-1, -1, 100)],
    [(1, 13, 12), (2, 14, 3), (1, 15, 12), (3, 16, 20)],
    None,
]
_ASOF_CALLS = [
    [(10, 1, 0, "purchase"), (11, 2, 1, "view"), (12, 1, 5, "view"),
     (-1, -1, 100, "view")],
    [(13, 1, 12, "purchase"), (14, 2, 3, "purchase"), (15, 1, 12, "view"),
     (16, 3, 20, "view")],
    None,
]
# watermarks of the three calls (ms): 2 s, 12 s, 30 s after T0
_WATERMARKS_MS = [(T0 + s * 1_000_000) // 1000 for s in (2, 12, 30)]
_VIEW = (
    b"\x80\x04\x95\x16\x00\x00\x00\x00\x00\x00\x00\x8c\x01d\x94]\x94"
    b"\x8c\x04view\x94aC\x02\x00\x00\x94\x87\x94."
)
_PURCHASE_VIEW_VIEW = (
    b"\x80\x04\x95&\x00\x00\x00\x00\x00\x00\x00\x8c\x01d\x94]\x94("
    b"\x8c\x08purchase\x94\x8c\x04view\x94eC\x06\x00\x00\x01\x00\x01"
    b"\x00\x94\x87\x94."
)
_E = b""
# per call: (emitted rows, state tuple, timeouts set so far, ms after T0)
_SHARD_FN_CASES = {
    "sliding-ordered": (
        "sliding", True, [
            ([(1, 10, 0, 1), (1, 12, 5, 2), (2, 11, 1, 1)],
             (_i64(1, 1, 2), _ts(0, 5, 1), _E, _E, _E), []),
            ([(1, 13, 12, 3), (1, 15, 12, 3), (2, 14, 3, 2), (3, 16, 20, 1)],
             (_i64(1, 1, 1, 2, 2, 3), _ts(5, 12, 12, 1, 3, 20), _E, _E, _E),
             []),
            ([], (_i64(1, 1, 1, 2, 2, 3), _ts(5, 12, 12, 1, 3, 20),
                  _E, _E, _E), []),
        ],
    ),
    "sliding-disorder": (
        "sliding", False, [
            ([(1, 10, 0, 1), (2, 11, 1, 1)],
             (_i64(1, 2), _ts(0, 1), _i64(1), _ts(5), _i64(12)), [5001]),
            ([(1, 12, 5, 2), (2, 14, 3, 2)],
             (_i64(1, 1, 2, 2), _ts(0, 5, 1, 3), _i64(1, 1, 3),
              _ts(12, 12, 20), _i64(13, 15, 16)), [5001, 12001]),
            ([(1, 13, 12, 3), (1, 15, 12, 3), (3, 16, 20, 1)],
             (_i64(1, 1, 1, 2, 2, 3), _ts(5, 12, 12, 1, 3, 20), _E, _E, _E),
             [5001, 12001]),
        ],
    ),
    "asof-ordered": (
        "asof", True, [
            ([(10, 1, 0, "purchase", None, None, None),
              (12, 1, 5, "view", 0, 10, 5_000_000),
              (11, 2, 1, "view", None, None, None)],
             (_i64(1), _ts(0), _i64(10), _E, _E, _E, _E), []),
            ([(13, 1, 12, "purchase", 0, 10, 12_000_000),
              (15, 1, 12, "view", 0, 10, 12_000_000),
              (14, 2, 3, "purchase", None, None, None),
              (16, 3, 20, "view", None, None, None)],
             (_i64(1, 2), _ts(12, 3), _i64(13, 14), _E, _E, _E, _E), []),
            ([], (_i64(1, 2), _ts(12, 3), _i64(13, 14), _E, _E, _E, _E), []),
        ],
    ),
    "asof-disorder": (
        "asof", False, [
            ([(10, 1, 0, "purchase", None, None, None),
              (11, 2, 1, "view", None, None, None)],
             (_i64(1), _ts(0), _i64(10), _i64(1), _ts(5), _i64(12), _VIEW),
             [5001]),
            ([(12, 1, 5, "view", 0, 10, 5_000_000),
              (14, 2, 3, "purchase", None, None, None)],
             (_i64(1, 2), _ts(0, 3), _i64(10, 14), _i64(1, 1, 3),
              _ts(12, 12, 20), _i64(13, 15, 16), _PURCHASE_VIEW_VIEW),
             [5001, 12001]),
            ([(13, 1, 12, "purchase", 0, 10, 12_000_000),
              (15, 1, 12, "view", 0, 10, 12_000_000),
              (16, 3, 20, "view", None, None, None)],
             (_i64(1, 2), _ts(12, 3), _i64(13, 14), _E, _E, _E, _E),
             [5001, 12001]),
        ],
    ),
}


@pytest.mark.parametrize("case", sorted(_SHARD_FN_CASES))
def test_shard_fn_emits_rows_and_packs_state_bytes(case):
    """`_sliding_shard_fn` / `_asof_shard_fn` in both release modes,
    driven through a fake GroupState: the emitted rows, the exact packed
    state bytes after every call (the checkpoint format) and the
    event-time timeouts. The disorder mode releases rows below each
    call's watermark; the ordered mode (`release_all`) releases every
    row in its arrival call and sets no timeout. Flush sentinels are
    dropped."""
    from kafka_streams_learning_spark.streaming.stateful import (
        _asof_shard_fn,
        _sliding_shard_fn,
    )

    op, release_all, expected = _SHARD_FN_CASES[case]
    if op == "sliding":
        fn = _sliding_shard_fn(10_000_000, max_composite=2**62,
                               max_state_bytes=1 << 20,
                               release_all=release_all)
        cols, calls = _SLIDING_IN, _SLIDING_CALLS
    else:
        fn = _asof_shard_fn("purchase", max_composite=2**62,
                            max_state_bytes=1 << 20, release_all=release_all)
        cols, calls = _ASOF_IN, _ASOF_CALLS
    state = _FakeGroupState()
    for rows, wm_ms, (want_rows, want_state, want_timeouts) in zip(
        calls, _WATERMARKS_MS, expected
    ):
        state.wm_ms = wm_ms
        chunks = [] if rows is None else [_chunk(rows, cols)]
        outs = list(fn((7,), iter(chunks), state))
        assert [r for out in outs for r in _emitted(out)] == want_rows
        assert state.value == want_state
        assert state.timeouts == want_timeouts
