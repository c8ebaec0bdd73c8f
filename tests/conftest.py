from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_learning_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # Small local session for tests; engine defaults otherwise identical to
    # production (AQE, UTC, RocksDB state store).
    s = get_spark(
        "engine-tests",
        master="local[4]",
        extra_conf={"spark.sql.shuffle.partitions": "4"},
    )
    yield s


def py_nb_model(rows, d):
    """Plain-Python hashed-NB reference model — the single mirror of
    `textops.nb_train`/`nb_score` shared by the unit test and the
    hypothesis property (two hand-maintained copies would drift).
    `rows` are (doc_id, text, is_positive); returns
    (weights, w0_q, prior_q, bucket, toks)."""
    import hashlib
    import math

    def toks(t):
        # tokens(normalized_text(...)): lowercase, whitespace split,
        # empties dropped — Python's split() does all three
        return t.lower().split()

    def bucket(tok):
        # hash60 = first 15 hex digits of md5, then mod d
        return int(hashlib.md5(tok.encode()).hexdigest()[:15], 16) % d

    def q(p):
        return math.floor(math.log(p) * 1e6 + 0.5)

    pos_cnt, all_cnt = {}, {}
    for _id, text, is_pos in rows:
        for tok in toks(text):
            b = bucket(tok)
            all_cnt[b] = all_cnt.get(b, 0) + 1
            if is_pos:
                pos_cnt[b] = pos_cnt.get(b, 0) + 1
    n_pos = sum(pos_cnt.values())
    n_neg = sum(all_cnt.values()) - n_pos
    weights = {
        b: q((pos_cnt.get(b, 0) + 1) / (n_pos + d))
        - q((all_cnt[b] - pos_cnt.get(b, 0) + 1) / (n_neg + d))
        for b in all_cnt
    }
    w0 = q(1 / (n_pos + d)) - q(1 / (n_neg + d))
    n_pos_docs = sum(1 for r in rows if r[2])
    nd = len(rows)
    prior = q(n_pos_docs / nd) - q((nd - n_pos_docs) / nd)
    return weights, w0, prior, bucket, toks
