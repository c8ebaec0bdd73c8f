"""Generate shape-matched sf1 `documents`/`embeddings` for the scale probe.

VERDICT r8 item 4: all dedup/LSH scale claims are plan-shape arguments
plus sf0.1 measurements; this produces one decade more data so the
claim "runtime grows ~linearly in SF because df caps and bucket bounds
hold" can be MEASURED. The driver's testdata is read-only and has no
sf1, so we synthesize our own — deliberately matching the observed
driver shape at sf0.1 (measured 2026-08-15):

  documents: 5,000 rows -> 50,000 at sf1. 31-word vocabulary, ~300
    chars/doc, lang skewed 40% en + 15% each zh/es/fr/de, 10 sources,
    ~4.5% of docs are near-duplicate mutations of an earlier doc
    (shared long prefix, few trailing-token edits — what MinHash/LSH
    and n-gram Jaccard must find), ~0.15% exact duplicates.
  embeddings: 2,000 rows -> 20,000 at sf1. 64-dim float32 around 10
    label centroids (the IVF/cluster structure x13/x26/x39 exploit).

Deterministic (numpy PCG, fixed seed). Output parquet lands in
.scratch/sf1/ (gitignored) next to SYMLINKS for the other
tables pointing at sf0.1 — catalog loaders resolve any table by name,
only documents/embeddings rows matter for the probed x-rows.

Usage: python tools/gen_sf1_probe_data.py [out_dir]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# fixtures live in the checkout's .scratch/ (gitignored)
SCRATCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]

N_DOCS = 50_000
N_VECS = 20_000
DIM = 64
N_LABELS = 10
SEED = 20260815


def gen_documents(rng: np.random.Generator) -> pa.Table:
    texts: list[str] = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 100 and r < 0.0015:           # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 100 and r < 0.045:          # near-dup: tail-token edits
            base = texts[int(rng.integers(0, i))].split(" ")
            n_edit = int(rng.integers(1, 4))
            for _ in range(n_edit):
                pos = int(rng.integers(max(0, len(base) - 6), len(base)))
                base[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(base))
        else:
            n_words = int(rng.integers(9, 115))
            idx = rng.integers(0, len(VOCAB), size=n_words)
            texts.append(" ".join(VOCAB[j] for j in idx))
    langs = rng.choice(LANGS, size=N_DOCS, p=LANG_P)
    sources = [f"src{int(s)}" for s in rng.integers(0, 10, size=N_DOCS)]
    return pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([str(x) for x in langs], pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def gen_embeddings(rng: np.random.Generator) -> pa.Table:
    centroids = rng.normal(0.0, 1.0, size=(N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, size=N_VECS)
    vecs = (centroids[labels]
            + rng.normal(0.0, 0.35, size=(N_VECS, DIM))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array([int(x) for x in labels], pa.int32()),
    })


N_EVENTS = 1_000_000  # 10x the sf0.1 events table (streaming growth probe)
N_USERS = 15_000      # users scale with events (fixture keeps ~67 events/user)


def gen_events(
    rng: np.random.Generator,
    n_events: int = N_EVENTS,
    n_users: int = N_USERS,
) -> pa.Table:
    """Shape-matched 10x events: same schema/ranges as the sf0.1 fixture
    (30-day window, 5 uniform event types, value in [0, ~560], ~67
    events per user) so streaming replay rows exercise a true decade of
    input growth, not just a bigger file of the same keys. `n_events` /
    `n_users` scale the decade (VERDICT r10 item 4 asks for a SECOND
    decade, 10M/150k, for the reorder-buffer growth class)."""
    base = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = base + rng.integers(0, span_us, size=n_events).astype("timedelta64[us]")
    ts.sort()
    types = rng.choice(
        ["signup", "click", "error", "view", "purchase"], size=n_events
    )
    return pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(
            rng.integers(0, n_users, size=n_events), pa.int64()
        ),
        "event_type": pa.array([str(x) for x in types], pa.string()),
        "value": pa.array(
            np.round(rng.random(n_events) * 560.0, 2), pa.float64()
        ),
        "props": pa.array(
            [f'{{"k":{int(i % 7)}}}' for i in range(n_events)], pa.string()
        ),
    })


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(SCRATCH, "sf1")
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(SEED)
    pq.write_table(gen_documents(rng), os.path.join(out, "documents.parquet"))
    pq.write_table(gen_embeddings(rng), os.path.join(out, "embeddings.parquet"))
    ev_dst = os.path.join(out, "events.parquet")
    if os.path.islink(ev_dst):
        os.unlink(ev_dst)  # replace the old sf0.1 symlink with real 10x data
    # Reuse an existing file only if its parquet footer says it IS the
    # current decade (ADVICE r10: a stale/truncated file from an older
    # N_EVENTS or an interrupted run would silently invalidate the probe).
    # Generation is seeded and deterministic, so regeneration is safe.
    reuse = False
    if os.path.exists(ev_dst):
        try:
            reuse = pq.read_metadata(ev_dst).num_rows == N_EVENTS
        except Exception:
            reuse = False
        if not reuse:
            os.unlink(ev_dst)
    if not reuse:
        pq.write_table(gen_events(rng), ev_dst)
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem"):
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(f"/root/testdata/sf0.1/{t}.parquet", dst)
    print(f"wrote {out}: documents={N_DOCS} embeddings={N_VECS} "
          f"events={N_EVENTS}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
