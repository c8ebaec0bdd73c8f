"""Seeded input generator for the benchmark workloads.

Every table is a pure function of (workload, seed): numpy's PCG64 stream
drives all draws and parquet is written with fixed writer options, so one
seed gives byte-identical files. The engine sees only the output
directory, laid out like a fixture scale-factor directory
(`<dir>/<table>.parquet`), so catalog rows run on it unchanged.

Besides the files, `generate` returns the workload's traffic properties
(row counts, key skew, qualifying shares, join fan-out, duplicate share),
which the benchmark records next to its metrics.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Shapes start from the sf0.1 fixture as measured with DuckDB (see
# README.md, "Traffic"); the comments name what each workload changes on
# purpose and why.
#
# Events. Fixture: 100k rows, 1,500 users drawn uniformly (45-99 events
# each, ~67 per user), sorted times over a 30-day window, five uniform
# event types, value ~ exponential with mean 50 capped at 560.21 (13% at
# or above s03's gate of 100), props '{"k": 0..99}'. Changes: Zipf user
# keys plus one hot key, a value mean that puts 20% at or above the gate,
# and strictly increasing times so each key's events arrive in order.
ALERT_THRESHOLD = 100.0  # s03's value gate
EVENTS = 200_000  # 2x sf0.1
EVENTS_PER_USER = 67  # fixture density: users = EVENTS / 67
EVENT_ZIPF = 0.8
HOT_KEY = 0
HOT_SHARE = 0.05
VALUE_MEAN = ALERT_THRESHOLD / float(np.log(5.0))  # P(value >= 100) = 0.2
VALUE_CAP = 560.21
EVENT_GAP_S = 30 * 86_400 / 100_000  # fixture rate: 100k events per 30 days
EVENT_TYPES = ("signup", "click", "error", "view", "purchase")
# Interval join: TPC-H shaped orders/lineitem, ship dates 1-121 days after
# the order date (s04's bound is 90 days, so ~74% of items qualify).
ORDERS = 45_000
ORDER_DAYS = 2_400
ITEMS_MEAN_EXTRA = 3.0  # items per order = 1 + Poisson(3), capped at 7
SHIP_MAX_DAYS = 121
JOIN_BOUND_DAYS = 90
# Documents. Fixture: 5,000 docs of 10-100 words (uniform, ~54, ~297
# chars) drawn uniformly from a 31-word vocabulary, lang 41% en and ~15%
# each zh/es/fr/de, 20 sources, 4,992 distinct texts. Changes: a long-tail
# vocabulary (a share of the tokens come from a Zipf tail of distinct
# words) and injected near-duplicate families (a root and 1-4 copies with
# a few tokens replaced). x49's BM25 query terms are fixture words.
DOCUMENTS = 5_000
FIXTURE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_WORDS = (10, 100)
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
SOURCES = 20
TAIL_SHARE = 0.2  # share of tokens drawn from the tail
TAIL_WORDS = 20_000
TAIL_ZIPF = 1.05
FAMILY_SHARE = 0.15  # share of documents that belong to a family
EDIT_RATE = 0.06  # per-token substitution rate of a family copy

BASE_TS = dt.datetime(2024, 1, 1)
_EPOCH = dt.datetime(1970, 1, 1)

WORKLOADS = ("stream_keyed_alerts", "stream_interval_join", "batch_text_dedup")
# the catalog rows each workload runs and checks against their oracles
ROWS = {
    "stream_keyed_alerts": ("s03_stream_fraud_alerts",),
    "stream_interval_join": ("s04_stream_interval_join",),
    "batch_text_dedup": (
        "x07_ngram_jaccard_dups", "x08_simhash", "x21_tfidf_topk", "x49_bm25_topk",
    ),
}


def _micros(t: dt.datetime) -> int:
    return (t - _EPOCH) // dt.timedelta(microseconds=1)


def _write(table: pa.Table, path: str) -> None:
    # fixed writer options: no pandas metadata, one row group per 64k rows
    pq.write_table(
        table, path, compression="snappy", row_group_size=65_536,
        write_statistics=True, store_schema=False,
    )


def _zipf_choice(rng: np.random.Generator, n: int, k: int, s: float) -> np.ndarray:
    """`n` draws of ranks 1..k with P(rank r) proportional to r^-s."""
    w = 1.0 / np.arange(1, k + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w)
    cdf /= cdf[-1]
    return np.searchsorted(cdf, rng.random(n), side="right").astype(np.int64) + 1


def gen_events(rng: np.random.Generator, out: str, scale: float) -> dict:
    n = int(EVENTS * scale)
    n_users = max(1, n // EVENTS_PER_USER)
    # Zipf ranks 1..n_users as user ids 0..n_users-1; the hot key is rank 1
    users = _zipf_choice(rng, n, n_users, EVENT_ZIPF) - 1
    users[rng.random(n) < HOT_SHARE] = HOT_KEY
    value = np.minimum(np.round(rng.exponential(VALUE_MEAN, n), 2), VALUE_CAP)
    # strictly increasing event time in event-id order: every key's events
    # arrive in event-time order and no two rows tie on ts
    gaps = rng.integers(1, int(2e6 * EVENT_GAP_S), n)  # microseconds
    ts = _micros(BASE_TS) + np.cumsum(gaps)
    etype = np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n)]
    props = [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(users),
        "event_type": pa.array(etype, type=pa.string()),
        "value": pa.array(value),
        "props": pa.array(props, type=pa.string()),
    })
    _write(table, os.path.join(out, "events.parquet"))
    _, counts = np.unique(users, return_counts=True)
    return {
        "rows": n,
        "distinct_keys": int(counts.size),
        "events_per_key": round(n / counts.size, 1),
        "hot_key_share": round(float(np.mean(users == HOT_KEY)), 4),
        "qualifying_share": round(float(np.mean(value >= ALERT_THRESHOLD)), 4),
    }


def gen_join(rng: np.random.Generator, out: str, scale: float) -> dict:
    n = int(ORDERS * scale)
    okey = rng.permutation(n).astype(np.int64) + 1
    day = rng.integers(0, ORDER_DAYS, n)
    odate = _micros(BASE_TS) + day * 86_400_000_000
    items = np.minimum(1 + rng.poisson(ITEMS_MEAN_EXTRA, n), 7)
    l_okey = np.repeat(okey, items)
    l_day = np.repeat(day, items) + rng.integers(1, SHIP_MAX_DAYS + 1, l_okey.size)
    first = np.repeat(np.cumsum(items) - items, items)
    l_line = (np.arange(l_okey.size) - first + 1).astype(np.int32)
    price = np.round(rng.uniform(900.0, 100_000.0, l_okey.size), 2)
    orders = pa.table({
        "o_orderkey": pa.array(okey),
        "o_custkey": pa.array(rng.integers(1, n // 10 + 1, n).astype(np.int64)),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(l_okey),
        "l_linenumber": pa.array(l_line),
        "l_extendedprice": pa.array(price),
        "l_shipdate": pa.array(
            _micros(BASE_TS) + l_day * 86_400_000_000, type=pa.timestamp("us")
        ),
    })
    _write(orders, os.path.join(out, "orders.parquet"))
    _write(lineitem, os.path.join(out, "lineitem.parquet"))
    in_bound = (l_day - np.repeat(day, items)) <= JOIN_BOUND_DAYS
    return {
        "orders": n,
        "lineitems": int(l_okey.size),
        "items_per_order": round(float(items.mean()), 3),
        "in_bound_share": round(float(in_bound.mean()), 4),
        "matches": int(in_bound.sum()),
        # fixed-width bytes of the joined columns on both sides: the rows
        # the join buffers in state before the watermark evicts them
        "join_input_bytes": int(n * 24 + l_okey.size * 28),
    }


def _vocabulary(rng: np.random.Generator) -> np.ndarray:
    """FIXTURE_WORDS followed by a tail of distinct lowercase words."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    tail: list[str] = []
    seen = set(FIXTURE_WORDS)
    while len(tail) < TAIL_WORDS:
        lens = rng.integers(4, 11, 4_096)
        chars = letters[rng.integers(0, 26, int(lens.sum()))]
        ends = np.cumsum(lens)
        for end, ln in zip(ends, lens):
            w = "".join(chars[end - ln:end])
            if w not in seen:
                seen.add(w)
                tail.append(w)
    return np.array(FIXTURE_WORDS + tail[:TAIL_WORDS], dtype=object)


def _tokens(rng: np.random.Generator, n: int) -> np.ndarray:
    """`n` token ids: fixture words uniformly, TAIL_SHARE of them from
    the Zipf tail."""
    out = rng.integers(0, len(FIXTURE_WORDS), n)
    tail = rng.random(n) < TAIL_SHARE
    out[tail] = len(FIXTURE_WORDS) - 1 + _zipf_choice(
        rng, int(tail.sum()), TAIL_WORDS, TAIL_ZIPF
    )
    return out


def gen_documents(rng: np.random.Generator, out: str, scale: float) -> dict:
    vocab = _vocabulary(rng)
    n = int(DOCUMENTS * scale)
    docs: list[np.ndarray] = []
    family = np.zeros(n, dtype=bool)
    while len(docs) < n:
        ln = int(rng.integers(DOC_WORDS[0], DOC_WORDS[1] + 1))
        root = _tokens(rng, ln)
        docs.append(root)
        if rng.random() < FAMILY_SHARE / 3.5:  # families average 3.5 docs
            for _ in range(int(rng.integers(1, 5))):
                if len(docs) >= n:
                    break
                copy = root.copy()
                edit = rng.random(ln) < EDIT_RATE
                copy[edit] = _tokens(rng, int(edit.sum()))
                family[len(docs) - 1] = True
                family[len(docs)] = True
                docs.append(copy)
    # interleave so families are not adjacent in doc_id order
    order = rng.permutation(n)
    text = [" ".join(vocab[docs[i]]) for i in order]
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(text, type=pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), type=pa.string()),
        "source": pa.array([f"src{s}" for s in rng.integers(0, SOURCES, n)], type=pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in text], dtype=np.int64)),
    })
    _write(table, os.path.join(out, "documents.parquet"))
    tokens = np.concatenate(docs)
    return {
        "documents": n,
        "tokens": int(tokens.size),
        "mean_chars": round(float(np.mean([len(t) for t in text])), 1),
        "distinct_terms": int(np.unique(tokens).size),
        "tail_token_share": round(float(np.mean(tokens >= len(FIXTURE_WORDS))), 4),
        "near_dup_family_share": round(float(family[order].mean()), 4),
    }


_GENERATORS = {
    "stream_keyed_alerts": gen_events,
    "stream_interval_join": gen_join,
    "batch_text_dedup": gen_documents,
}


def generate(workload: str, seed: int, out: str, scale: float = 1.0) -> dict:
    """Write `workload`'s tables for `seed` under `out`, `scale` times the
    standard row counts; return its traffic properties."""
    os.makedirs(out, exist_ok=True)
    # one independent stream per (workload, seed, scale)
    rng = np.random.default_rng([WORKLOADS.index(workload), seed, round(scale * 1000)])
    return _GENERATORS[workload](rng, out, scale)
