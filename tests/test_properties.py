"""Property-based cross-engine portability tests (SURVEY §5.2).

The sketch operators' correctness rests on two contracts that must hold
for ANY input, not just the fixtures:

1. the portable hash family (`functions/hashing.py`) computes identical
   values in Spark and DuckDB — otherwise every MinHash/SimHash/LSH
   oracle comparison is fixture luck;
2. the event-time cascade resolves the same instant in both engines for
   every branch (ISO instant / ISO date / epoch-millis / fallback).

Hypothesis generates adversarial inputs (empty strings, huge epochs,
almost-ISO garbage); each batch round-trips once through each engine.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafka_streams_learning_spark.functions.hashing import (
    hash32,
    hash32_sql,
    hash60,
    hash60_sql,
    perm_hash,
    perm_hash_sql,
)
from kafka_streams_learning_spark.functions.timestamps import event_time_cascade

# printable ASCII without the quote chars that would need SQL escaping
_TEXT = st.text(
    st.characters(min_codepoint=32, max_codepoint=126, exclude_characters="'\\"),
    max_size=40,
)

_SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(st.lists(_TEXT, min_size=1, max_size=8, unique=True))
def test_hash_family_portable(spark, strings):
    sdf = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {
        r.s: (r.h32, r.h60, r.p0, r.p7)
        for r in sdf.select(
            "s",
            hash32(F.col("s")).alias("h32"),
            hash60(F.col("s")).alias("h60"),
            perm_hash(hash32(F.col("s")), 0).alias("p0"),
            perm_hash(hash32(F.col("s")), 7).alias("p7"),
        ).collect()
    }
    for s in strings:
        lit = f"'{s}'"
        want = duckdb.sql(
            f"SELECT {hash32_sql(lit)}, {hash60_sql(lit)}, "
            f"{perm_hash_sql(hash32_sql(lit), 0)}, "
            f"{perm_hash_sql(hash32_sql(lit), 7)}"
        ).fetchone()
        assert got[s] == want, s


_EPOCH_MS = st.integers(min_value=0, max_value=4_102_444_800_000)  # ≤ year 2100
_DATES = st.dates(min_value=dt.date(1970, 1, 1), max_value=dt.date(2100, 1, 1))


@settings(**_SETTINGS)
@given(
    st.lists(
        st.one_of(
            _DATES.map(lambda d: d.isoformat()),  # ISO date branch
            _DATES.map(lambda d: d.isoformat() + "T12:34:56Z"),  # ISO instant
            _EPOCH_MS.map(str),  # epoch-millis branch
            _TEXT,  # garbage → ingest fallback
        ),
        min_size=1,
        max_size=8,
    )
)
def test_event_time_cascade_portable(spark, raws):
    ingest = dt.datetime(2024, 6, 1, 0, 0, 0)
    sdf = spark.createDataFrame(
        [(i, r, ingest) for i, r in enumerate(raws)],
        "i long, raw string, ingest timestamp",
    )
    got = {
        r.i: r.event_ts
        for r in sdf.select(
            "i", event_time_cascade(F.col("raw"), F.col("ingest")).alias("event_ts")
        ).collect()
    }
    for i, raw in enumerate(raws):
        lit = f"'{raw}'"
        want = duckdb.sql(
            f"SELECT COALESCE(try_strptime({lit}, '%Y-%m-%dT%H:%M:%SZ'), "
            f"try_strptime({lit}, '%Y-%m-%d'), "
            f"epoch_ms(TRY_CAST({lit} AS BIGINT)), "
            f"TIMESTAMP '2024-06-01 00:00:00')"
        ).fetchone()[0]
        assert got[i] == want, raw


# ---------------------------------------------------------------------------
# 3. the as-of join's union+window formulation equals the declarative
#    semantics ("latest strictly-earlier match, ties to highest id") for
#    ANY input — equal timestamps, duplicate purchase times, matchless
#    keys — not just the fixture distribution (x22/s09 rest on this).

_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),  # user_id
        st.integers(min_value=0, max_value=5),  # ts (seconds, dense → ties)
        st.booleans(),  # is_purchase
    ),
    min_size=1,
    max_size=12,
)


@settings(**{**_SETTINGS, "max_examples": 10})
@given(_EVENTS)
def test_asof_join_matches_naive_semantics(spark, rows):
    from kafka_streams_learning_spark.operators.joins import asof_join

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, u, base + dt.timedelta(seconds=ts), "purchase" if p else "view")
        for i, (u, ts, p) in enumerate(rows)
    ]
    ev = spark.createDataFrame(
        data, "event_id long, user_id long, ts timestamp, event_type string"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    got = {
        r.event_id: (r.last_id, r.last_ts)
        for r in asof_join(
            ev,
            purchases,
            key="user_id",
            left_ts="ts",
            right_ts="ts",
            payload={"ts": "last_ts", "event_id": "last_id"},
            right_id="event_id",
            strict=True,
        ).collect()
    }
    for eid, u, ts, _et in data:
        cands = [
            (pts, pid)
            for pid, pu, pts, pet in data
            if pu == u and pet == "purchase" and pts < ts
        ]
        want = max(cands, key=lambda c: (c[0], c[1])) if cands else (None, None)
        assert got[eid] == (want[1], want[0]), (eid, data)


# ---------------------------------------------------------------------------
# 4. the ordered-arrival contract made real: the watermark-driven reorder
#    buffer (`streaming/stateful.asof_join_stream` with `disorder=`) must
#    produce the EXACT naive as-of semantics for ANY arrival order — rows
#    shuffled arbitrarily across micro-batches — as long as disorder stays
#    within the watermark bound. This is the guarantee Kafka partitioning gives
#    the reference for free, proven here as a property, not a docstring.


@settings(**{**_SETTINGS, "max_examples": 5})
@given(_EVENTS, st.randoms(use_true_random=False))
def test_ordered_asof_stream_matches_naive_under_shuffled_arrival(
    spark, rows, rng
):
    import tempfile

    from kafka_streams_learning_spark.sources.replay import (
        replay_stream,
        stage_explicit_chunks,
    )
    from kafka_streams_learning_spark.streaming import runner, stateful

    base = dt.datetime(2024, 1, 1)
    data = [
        (i, u, base + dt.timedelta(seconds=ts), "purchase" if p else "view")
        for i, (u, ts, p) in enumerate(rows)
    ]
    # arbitrary arrival order, split into up to 3 micro-batches
    arrival = list(data)
    rng.shuffle(arrival)
    cut1, cut2 = sorted((rng.randint(0, len(arrival)), rng.randint(0, len(arrival))))
    chunks = [c for c in (arrival[:cut1], arrival[cut1:cut2], arrival[cut2:]) if c]
    # two flush sentinels push the watermark past every real row
    chunks.append([(-1, -1, base + dt.timedelta(minutes=30), "view")])
    chunks.append([(-2, -1, base + dt.timedelta(minutes=40), "view")])

    d = tempfile.mkdtemp(prefix="ksl-prop-")
    stage_explicit_chunks(
        spark, chunks,
        "event_id long, user_id long, ts timestamp, event_type string", d,
    )
    stream = replay_stream(
        spark, d, "event_id long, user_id long, ts timestamp, event_type string"
    )
    out = stateful.asof_join_stream(stream, disorder="10 minutes")
    batches = runner.run_collect_batches(out, "append")
    got = {
        r.event_id: (r.last_purchase_id, r.last_purchase_ts)
        for b in batches
        for r in b
    }
    assert len(got) == len(data), "every event emitted exactly once"
    for eid, u, ts, _et in data:
        cands = [
            (pts, pid)
            for pid, pu, pts, pet in data
            if pu == u and pet == "purchase" and pts < ts
        ]
        want = max(cands, key=lambda c: (c[0], c[1])) if cands else (None, None)
        assert got[eid] == (want[1], want[0]), (eid, chunks)


@settings(**{**_SETTINGS, "max_examples": 8})
@given(
    st.lists(
        st.tuples(st.integers(0, 24), st.integers(0, 24)),
        min_size=1,
        max_size=30,
    )
)
def test_connected_components_matches_union_find(spark, raw_edges):
    """x28's core against an independent oracle: for ANY edge list
    (self-loops, duplicates, reversed dups included), the distributed
    min-label result must equal a driver-side union-find's components."""
    from kafka_streams_learning_spark.operators.graph import connected_components

    edges = [(a, b) for a, b in raw_edges if a != b]
    if not edges:
        return
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {}
    for n in {x for e in edges for x in e}:
        root = find(n)
        want[n] = min(m for m in parent if find(m) == root)

    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r.node_id: r.group_id
        for r in connected_components(df, "a", "b").collect()
    }
    assert got == want


def _py_shingles(text: str, k: int) -> list[str]:
    """Python model of word_shingles: normalized k-word shingles (all
    tokens as one shingle when fewer than/equal to k tokens)."""
    toks = [t for t in " ".join(text.lower().split()).split(" ") if t]
    if len(toks) <= k:
        return [" ".join(toks)]
    return [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]


_DOC = st.text(
    st.sampled_from("ab c d "),  # tiny alphabet forces shingle collisions
    min_size=0,
    max_size=60,
)


@settings(**_SETTINGS)
@given(st.lists(_DOC, min_size=1, max_size=8))
def test_repetition_stats_matches_python_model(spark, docs):
    from kafka_streams_learning_spark.operators.textops import repetition_stats

    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_stats(df, k=2, threshold=0.10).collect()}
    for i, d in rows:
        sh = _py_shingles(d, 2)
        assert got[i].n_shingles == len(sh), (d, sh)
        assert got[i].n_distinct == len(set(sh)), (d, sh)


@settings(**_SETTINGS)
@given(st.lists(_DOC, min_size=2, max_size=8))
def test_contamination_hits_matches_python_model(spark, docs):
    from kafka_streams_learning_spark.operators.dedup import contamination_hits

    mod, k = 2, 2  # every even id is a "benchmark" doc
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in contamination_hits(df, mod, k).collect()}
    bench = set().union(*[set(_py_shingles(d, k)) for i, d in rows if i % mod == 0])
    for i, d in rows:
        if i % mod == 0:
            assert i not in got  # benchmark members are never flagged
            continue
        mine = set(_py_shingles(d, k))
        hits = len(mine & bench)
        if hits == 0:
            assert i not in got, d
        else:
            assert got[i].n_hits == hits and got[i].n_shingles == len(mine), d


@settings(**_SETTINGS)
@given(st.lists(_DOC, min_size=1, max_size=8))
def test_dup_span_stats_matches_python_model(spark, docs):
    from kafka_streams_learning_spark.operators.dedup import dup_span_stats

    k = 2
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in dup_span_stats(df, k=k, threshold=0.5).collect()}
    member = {}  # shingle -> set of docs containing it
    for i, d in rows:
        for sh in set(_py_shingles(d, k)):
            member.setdefault(sh, set()).add(i)
    for i, d in rows:
        flags = [len(member[sh]) >= 2 for sh in _py_shingles(d, k)]
        longest = run = 0
        for f in flags:
            run = run + 1 if f else 0
            longest = max(longest, run)
        assert got[i].n_windows == len(flags), d
        assert got[i].n_dup_windows == sum(flags), d
        assert got[i].longest_dup_run == longest, d
        assert got[i].is_dup_heavy == (sum(flags) / len(flags) >= 0.5), d


@settings(**_SETTINGS)
@given(st.lists(_DOC, min_size=1, max_size=8))
def test_unigram_logprob_matches_python_model(spark, docs):
    import math
    from collections import Counter

    from kafka_streams_learning_spark.operators.textops import unigram_logprob

    vocab_size = 2
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in unigram_logprob(df, vocab_size).collect()}

    def toks(d):
        return [t for t in d.lower().split() if t]

    counts = Counter(t for _, d in rows for t in toks(d))
    vocab = dict(sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size])
    n, c = sum(counts.values()), sum(vocab.values())

    def q(p):
        return math.floor(math.log(p) * 1e6 + 0.5)

    for i, d in rows:
        ts = toks(d)
        if not ts:
            assert i not in got, d  # tokenless docs drop from the explode
            continue
        want = sum(q(vocab[t] / (n + 1)) if t in vocab else q((n - c + 1) / (n + 1))
                   for t in ts)
        assert got[i].n_tokens == len(ts), d
        assert got[i].n_unk == sum(t not in vocab for t in ts), d
        assert got[i].logprob_q_sum == want, d
        assert got[i].avg_logprob == want / (1e6 * len(ts)), d


@settings(**_SETTINGS)
@given(st.lists(_DOC, min_size=1, max_size=8))
def test_bm25_topk_matches_python_model(spark, docs):
    import math
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from kafka_streams_learning_spark.operators.textops import bm25_topk

    queries = [("q1", "ab c"), ("q2", "d"), ("q3", "a c d")]
    k1, b, k = 1.2, 0.75, 3
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.qid, r.doc_id, r.rank, r.score)
        for r in bm25_topk(df, queries, k, k1=k1, b=b).collect()
    )

    def toks(d):
        return [t for t in d.lower().split() if t]

    def round9(x):
        # mirror Spark's round(double, 9): BigDecimal.valueOf uses the
        # shortest decimal repr (== Python repr), then HALF_UP
        return float(
            Decimal(repr(x)).quantize(Decimal("1e-9"), rounding=ROUND_HALF_UP)
        )

    n_docs = len(rows)
    dl = {i: len(toks(d)) for i, d in rows}
    avgdl = sum(dl.values()) / n_docs
    tf = {i: Counter(toks(d)) for i, d in rows}
    want = []
    for qid, qtext in queries:
        terms = sorted(set(qtext.split()))
        dfreq = {t: sum(t in tf[i] for i in tf) for t in terms}
        scores = {}
        for i, _ in rows:
            cq = 0
            for t in terms:
                f = tf[i][t]
                if not f:
                    continue
                idf = round9(
                    math.log((n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5) + 1.0)
                )
                contrib = idf * (f * (k1 + 1.0)) / (
                    f + k1 * (1.0 - b + b * dl[i] / avgdl)
                )
                cq += math.floor(contrib * 1e6 + 0.5)
            if cq or any(tf[i][t] for t in terms):
                scores[i] = cq
        ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        want.extend(
            (qid, i, r + 1, sq / 1e6) for r, (i, sq) in enumerate(ranked)
        )
    assert got == sorted(want)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.floats(
                min_value=-4.0, max_value=4.0, allow_nan=False, width=32
            ),
            min_size=8,
            max_size=8,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_jl_project_matches_python_model(spark, vecs):
    import math

    from kafka_streams_learning_spark.operators.similarity import (
        _rademacher,
        jl_project,
    )

    dim, out_dim = 8, 4
    rows = [(i, v) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.proj_q for r in jl_project(df, out_dim, dim).collect()}

    inv = 1.0 / math.sqrt(out_dim)
    import struct

    for i, v in rows:
        comps = []
        for c in range(out_dim):
            acc = 0.0
            # float32 storage then f32→f64 widening, exactly like parquet
            for x, s in zip(v, _rademacher(c, dim)):
                acc += struct.unpack("f", struct.pack("f", x))[0] * s
            comps.append(str(math.floor(acc * inv * 1e6 + 0.5)))
        assert got[i] == ",".join(comps), v


def test_jl_arrow_kernel_matches_fold_on_edge_vectors(spark):
    """VERDICT r14 item 8: the Arrow JL kernel and the original SQL fold
    must agree on edge inputs — a NaN-bearing vector (both produce VALUES:
    Spark floor(NaN·…) is Math.floor + JVM long cast = 0), an Inf-bearing
    vector (both saturate: (long)+Inf = Long.MAX_VALUE), a wrong-length
    vector and a NULL vector (both NULL via zip_with null-padding).
    Unreachable under the floor-parity oracle contract, pinned so a
    loosened contract can't silently diverge."""
    import math

    from pyspark.sql import functions as F  # noqa: F811

    from kafka_streams_learning_spark.operators.similarity import (
        _rademacher,
        jl_project,
    )

    dim, out_dim, scale = 8, 4, 1_000_000
    rows = [
        (0, [1.0, 2.0, float("nan"), 0.5, -1.0, 3.0, 0.0, 1.5]),
        (1, [1.0, float("inf"), 2.0, 0.5, -1.0, 3.0, 0.0, 1.5]),
        (2, [1.0, 2.0, 3.0]),  # wrong length → NULL
        (3, None),  # NULL vector → NULL
        (4, [1.0, 2.0, 3.0, 0.5, -1.0, 3.0, 0.0, 1.5]),  # clean control
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: r.proj_q for r in jl_project(df, out_dim, dim).collect()}

    # reference: the pre-r14 expression fold, reconstructed verbatim
    inv = 1.0 / math.sqrt(out_dim)
    comps = []
    for c in range(out_dim):
        signs = F.array(*[F.lit(s) for s in _rademacher(c, dim)])
        dot = F.aggregate(
            F.zip_with(F.col("embedding"), signs, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        comps.append(
            F.floor(dot * F.lit(inv) * F.lit(float(scale)) + F.lit(0.5)).cast("long")
        )
    want = {
        r.vec_id: r.proj_q
        for r in df.select(
            "vec_id",
            F.concat_ws(",", *[c.cast("string") for c in comps]).alias("proj_q"),
        ).collect()
    }
    # concat_ws over all-NULL components gives "" — normalize both sides
    assert {k: v or "" for k, v in got.items()} == {
        k: v or "" for k, v in want.items()
    }
    # and the specific semantics, spelled out
    assert got[0] == ",".join(["0"] * out_dim)  # NaN → every component 0
    assert str(2**63 - 1) in got[1]  # +Inf saturates to Long.MAX
    assert got[2] == "" and got[3] == ""  # wrong length / NULL → NULL


@given(
    st.lists(
        st.tuples(st.sampled_from(["g1", "g2"]), st.text(min_size=1, max_size=8)),
        min_size=1,
        max_size=80,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hll_register_merge_is_associative(spark, rows):
    """The HLL register table must be a true mergeable sketch: sketching
    any partition of the data and re-MAXing the register unions must give
    the registers of sketching the whole — the property that lets 100 TB
    shards sketch independently. Also pins the estimate's determinism:
    same registers ⇒ bit-identical estimate."""
    from pyspark.sql import functions as F  # noqa: F811

    from kafka_streams_learning_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
    )

    df = spark.createDataFrame(rows, ["g", "token"])
    whole = hll_registers(df, "token", ["g"])

    half_a = hll_registers(df.filter(F.crc32(F.col("token")) % 2 == 0), "token", ["g"])
    half_b = hll_registers(df.filter(F.crc32(F.col("token")) % 2 == 1), "token", ["g"])
    merged = (
        half_a.unionByName(half_b)
        .groupBy("g", "bucket")
        .agg(F.max("m_b").alias("m_b"))
    )

    w_rows = sorted(map(tuple, whole.collect()))
    m_rows = sorted(map(tuple, merged.collect()))
    assert w_rows == m_rows

    e_whole = sorted(map(tuple, hll_estimate(whole, ["g"]).collect()))
    e_merged = sorted(map(tuple, hll_estimate(merged, ["g"]).collect()))
    assert e_whole == e_merged


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.sampled_from(["en", "de"]), _DOC), min_size=1, max_size=8))
def test_zipf_slope_matches_python_model(spark, rows):
    import math
    from collections import Counter

    from kafka_streams_learning_spark.operators.textops import (
        ZIPF_OUT_SCALE,
        ZIPF_SCALE,
        zipf_slope,
    )

    df = spark.createDataFrame(
        [(i, lang, d) for i, (lang, d) in enumerate(rows)],
        "doc_id long, lang string, text string",
    )
    got = {r.lang: r for r in zipf_slope(df).collect()}

    by_lang: dict[str, Counter] = {}
    for lang, d in rows:
        toks = " ".join(d.lower().split()).split()
        if toks:
            by_lang.setdefault(lang, Counter()).update(toks)
    for lang, cnts in by_lang.items():
        ranked = sorted(cnts.items(), key=lambda kv: (-kv[1], kv[0]))
        n = len(ranked)
        assert got[lang].n_types == n
        xs = [math.floor(math.log(r + 1) * ZIPF_SCALE + 0.5) for r in range(n)]
        ys = [math.floor(math.log(c) * ZIPF_SCALE + 0.5) for _, c in ranked]
        den = n * sum(x * x for x in xs) - sum(xs) ** 2
        if den == 0:
            assert got[lang].slope is None and got[lang].intercept is None
            continue
        num = n * sum(x * y for x, y in zip(xs, ys)) - sum(xs) * sum(ys)
        slope = math.floor(num / den * ZIPF_OUT_SCALE + 0.5) / ZIPF_OUT_SCALE
        # the grid snap bounds any 1-ulp ln() divergence to one grid step
        assert abs(got[lang].slope - slope) <= 1.0 / ZIPF_OUT_SCALE
    for lang in got:
        assert lang in by_lang  # no phantom groups from empty docs


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.sampled_from(["en", "de"]), st.integers(0, 50)),
        min_size=1,
        max_size=40,
    )
)
def test_length_band_filter_matches_python_model(spark, rows):
    from kafka_streams_learning_spark.operators.sampling import length_band_filter

    df = spark.createDataFrame(
        [(i, lang, n) for i, (lang, n) in enumerate(rows)],
        "doc_id long, lang string, n_chars long",
    )
    got = {r.doc_id: r for r in length_band_filter(df, 0.05, 0.95).collect()}

    by_lang: dict[str, list[int]] = {}
    for lang, n in rows:
        by_lang.setdefault(lang, []).append(n)
    for lang, lens in by_lang.items():
        ordered = sorted(lens)
        ng = len(ordered)
        # exact integer ceil, mirroring the operator's DIV arithmetic
        lo = ordered[(ng * 500 + 9999) // 10000 - 1]
        hi = ordered[(ng * 9500 + 9999) // 10000 - 1]
        for i, (lg, n) in enumerate(rows):
            if lg != lang:
                continue
            if lo <= n <= hi:
                assert i in got and (got[i].lo_len, got[i].hi_len) == (lo, hi), (
                    lang, n, lo, hi,
                )
            else:
                assert i not in got, (lang, n, lo, hi)


@settings(**_SETTINGS)
@given(st.lists(_DOC, min_size=1, max_size=6))
def test_dsir_importance_is_zero_when_target_is_corpus(spark, docs):
    # target distribution == corpus distribution ⇒ the two models are
    # identical and every log-ratio cancels EXACTLY (integer q values)
    from kafka_streams_learning_spark.operators.textops import dsir_importance

    rows = [(i, d) for i, d in enumerate(docs) if d.split()]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dsir_importance(df, F.lit(True), vocab_size=3).collect()
    assert {r.doc_id for r in out} == {i for i, _ in rows}
    for r in out:
        assert r.imp_q_sum == 0 and r.avg_importance == 0.0


@settings(**_SETTINGS)
@given(st.lists(st.text(min_size=1, max_size=6), min_size=1, max_size=60))
def test_cms_never_underestimates_and_merges(spark, values):
    """Count-Min guarantees estimate ≥ true count for EVERY value
    (collisions only add), and counter tables from disjoint shards must
    SUM-merge into the whole's counters."""
    from collections import Counter

    from kafka_streams_learning_spark.operators.sketches import (
        cms_counters,
        cms_estimate,
    )

    df = spark.createDataFrame([(v,) for v in values], "v string")
    counters = cms_counters(df, "v")
    truth = Counter(values)
    qdf = spark.createDataFrame([(v,) for v in truth], "v string")
    est = {r.v: r.cms_estimate for r in cms_estimate(counters, qdf, "v").collect()}
    for v, n in truth.items():
        assert est[v] >= n, (v, n, est[v])

    half_a = cms_counters(df.filter(F.crc32(F.col("v")) % 2 == 0), "v")
    half_b = cms_counters(df.filter(F.crc32(F.col("v")) % 2 == 1), "v")
    merged = (
        half_a.unionByName(half_b)
        .groupBy("row_i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    assert sorted(map(tuple, counters.collect())) == sorted(
        map(tuple, merged.collect())
    )


@settings(**_SETTINGS)
@given(
    st.lists(st.text(min_size=1, max_size=6), min_size=1, max_size=30),
    st.lists(st.text(min_size=1, max_size=6), min_size=1, max_size=30),
)
def test_bloom_has_no_false_negatives(spark, members, probes):
    """Every inserted value must test positive — Bloom filters only ever
    err toward false POSITIVES."""
    from kafka_streams_learning_spark.functions.hashing import hash32
    from kafka_streams_learning_spark.operators.sketches import (
        bloom_build,
        bloom_contains,
        bloom_words_dense,
    )

    mdf = spark.createDataFrame([(v,) for v in set(members)], "v string")
    words = bloom_words_dense(bloom_build(mdf, "v"))
    pdf = spark.createDataFrame(
        [(v,) for v in set(members) | set(probes)], "v string"
    )
    got = {
        r.v: r.hit
        for r in pdf.select(
            "v", bloom_contains(hash32(F.col("v")), words).alias("hit")
        ).collect()
    }
    for v in set(members):
        assert got[v], v


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(0, 50), min_size=1, max_size=40),
    st.lists(st.integers(0, 50), min_size=1, max_size=10),
)
def test_bloom_semi_join_equals_plain_semi_join(spark, big_keys, small_keys):
    """The bloom prefilter must be semantics-free: bloom_semi_join equals
    the plain semi join for ANY input (false positives are re-checked by
    the real join; false negatives cannot exist)."""
    from kafka_streams_learning_spark.operators.sketches import bloom_semi_join

    big = spark.createDataFrame([(k, k * 10) for k in big_keys], "k long, v long")
    small = spark.createDataFrame([(k,) for k in set(small_keys)], "k long")
    got = sorted(map(tuple, bloom_semi_join(big, small, "k").collect()))
    want = sorted(map(tuple, big.join(small, "k", "semi").collect()))
    assert got == want


def test_production_sketch_error_bounds_on_fixture(spark):
    """The x63/x64 contract (r6 stretch item): at production-ish
    parameters the sketch errors must sit inside the published
    theoretical bounds on the fixture corpus.

    - HLL p=12: sigma = 1.04/sqrt(4096) ~ 1.63% relative error; assert
      every per-source |rel_err| < 3 sigma (~4.9%).
    - CMS d=4, w=4096: overestimate <= ceil(e/w * N) with probability
      1 - e^-d per query; over 20 heavy hitters, assert every
      overestimate is within the epsilon*N bound (and >= 0 always).
    """
    import math

    from kafka_streams_learning_spark.catalog_ext import (
        CMS_PROD_W,
        CMS_TOPK,
        HLL_PROD_P,
    )
    from kafka_streams_learning_spark.operators import sketches
    from kafka_streams_learning_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")

    hll = sketches.hll_token_cardinality(docs, p=HLL_PROD_P).collect()
    assert hll, "no sources in fixture"
    sigma = 1.04 / math.sqrt(1 << HLL_PROD_P)
    for r in hll:
        assert abs(r.rel_err) < 3 * sigma, (r.source, r.rel_err, 3 * sigma)

    cms = sketches.cms_token_frequencies(
        docs, CMS_TOPK, w=CMS_PROD_W
    ).collect()
    assert len(cms) == CMS_TOPK
    from kafka_streams_learning_spark.functions import text as T

    n_stream = (
        docs.select(
            F.explode(T.tokens(T.normalized_text(F.col("text")))).alias("t")
        ).count()
    )
    eps_n = math.e / CMS_PROD_W * n_stream
    for r in cms:
        assert 0 <= r.overestimate <= eps_n, (r.token, r.overestimate, eps_n)


@settings(**_SETTINGS)
@given(st.lists(_DOC, min_size=1, max_size=8))
def test_remove_duplicate_spans_matches_python_model(spark, docs):
    # C4 span removal vs a direct Python model, on adversarial corpora
    # (empty docs, consecutive spaces -> empty tokens, heavy collisions).
    # The splitter is RAW split-on-space (not normalized tokens): the
    # model must mirror that exactly, including '' -> [''].
    import math

    from kafka_streams_learning_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    k = 2
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: r for r in remove_duplicate_spans(df, chunk_tokens=k).collect()
    }

    chunks: dict[int, list[str]] = {}
    occ: dict[str, int] = {}
    first: dict[str, tuple[int, int]] = {}
    for i, d in rows:
        toks = d.split(" ")
        cs = [
            " ".join(toks[ci * k : ci * k + k])
            for ci in range(math.ceil(len(toks) / k))
        ]
        chunks[i] = cs
        for ci, ch in enumerate(cs):
            occ[ch] = occ.get(ch, 0) + 1
            if ch not in first or (i, ci) < first[ch]:
                first[ch] = (i, ci)
    for i, _ in rows:
        kept = [
            ch
            for ci, ch in enumerate(chunks[i])
            if occ[ch] == 1 or first[ch] == (i, ci)
        ]
        assert got[i].clean_text == " ".join(kept), docs
        assert got[i].n_chunks == len(chunks[i]), docs
        assert got[i].n_removed == len(chunks[i]) - len(kept), docs


@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.sampled_from(["x", "y"]),
            st.text(min_size=0, max_size=8),
        ),
        min_size=1,
        max_size=60,
    )
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_hll_rollup_levels_equal_direct_sketches(spark, rows):
    """Every rollup level must be EXACTLY the sketch computed directly at
    that grouping — the end-to-end form of register-merge associativity,
    through `hll_rollup`'s materialize + MAX-merge + estimate assembly,
    for arbitrary inputs (empty strings, duplicate tokens, single-group
    corners included)."""
    from kafka_streams_learning_spark.operators.sketches import (
        hll_estimate,
        hll_registers,
        hll_rollup,
    )

    df = spark.createDataFrame(rows, "g1 string, g2 string, v string")
    got = {
        (r.level, r.g1, r.g2): r.hll_estimate
        for r in hll_rollup(df, "v", ["g1", "g2"]).collect()
    }
    for r in hll_estimate(hll_registers(df, "v", ["g1", "g2"]), ["g1", "g2"]).collect():
        assert got[("g1,g2", r.g1, r.g2)] == r.hll_estimate
    for r in hll_estimate(hll_registers(df, "v", ["g1"]), ["g1"]).collect():
        assert got[("g1", r.g1, None)] == r.hll_estimate
    (g,) = hll_estimate(hll_registers(df, "v", []), []).collect()
    assert got[("all", None, None)] == g.hll_estimate


@settings(**{**_SETTINGS, "max_examples": 10})
@given(st.lists(st.tuples(_DOC, st.booleans()), min_size=1, max_size=8))
def test_nb_classifier_matches_python_model_any_corpus(spark, docs):
    """x67's hashed-NB classifier vs a direct Python model on adversarial
    corpora (empty docs, whitespace runs, heavy bucket collisions), with
    one anchor doc per class injected so the documented two-class
    precondition holds. Zero-token docs must emit no row; every other
    doc's integer score must match the model exactly."""
    from kafka_streams_learning_spark.operators import textops

    from .conftest import py_nb_model

    rows = [(i, t, "pos" if p else "neg") for i, (t, p) in enumerate(docs)]
    rows += [(len(rows), "anchor a", "pos"), (len(rows) + 1, "anchor b", "neg")]
    D = 4
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        r.doc_id: r
        for r in textops.nb_hash_classifier(
            df, F.col("source") == "pos", n_buckets=D
        ).collect()
    }

    w, w0, prior, bucket, toks = py_nb_model(
        [(i, t, s == "pos") for i, t, s in rows], D
    )
    for _id, t, _src in rows:
        ts = toks(t)
        r = got.get(_id)
        if not ts:
            assert r is None  # zero-token docs emit no row
            continue
        llr = sum(w.get(bucket(x), w0) for x in ts)
        assert (r.n_tokens, r.llr_q_sum) == (len(ts), llr)
        assert r.log_odds == (prior + llr) / 1e6
        assert r.is_positive == ((prior + llr) > 0)


@settings(**{**_SETTINGS, "max_examples": 6})
@given(
    st.integers(min_value=12, max_value=60),   # duplicate-family size
    st.integers(min_value=2, max_value=6),     # bucket cap (always binds)
    st.integers(min_value=1, max_value=4),     # bands
)
def test_lsh_star_closure_holds_for_any_cap(spark, fam, cap, bands):
    """For ANY (family size, cap, bands) where the cap binds, every
    member of an identical-text duplicate family must appear in at
    least one candidate pair (the star-anchor guarantee), and the pair
    count stays <= bands * (cap^2/2 + (fam-cap)) + singles' pairs —
    the linear bound the r10 closure fix promises for hot families of
    any size."""
    from kafka_streams_learning_spark.operators import dedup

    n_perm = bands * 2
    rows = [(i, "identical boilerplate family text body") for i in range(fam)]
    rows += [(1000 + i, f"singleton document {i} distinct words") for i in range(3)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.lsh_candidate_pairs(
        df, n_perm=n_perm, bands=bands, k=3, bucket_cap=cap
    ).collect()
    covered = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert set(range(fam)) <= covered
    assert len(pairs) <= bands * (cap * (cap - 1) // 2 + (fam - cap)) + 10


@settings(**{**_SETTINGS, "max_examples": 10})
@given(
    st.lists(
        st.text(
            st.characters(min_codepoint=32, max_codepoint=0x2FFF,
                          exclude_characters="'\\"),
            max_size=30,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_rolling_fingerprints_match_duckdb_fold(spark, texts):
    """The r10 Arrow-vectorized Rabin-Karp sketch must stay
    byte-identical to the DuckDB oracle's ord()-based Horner fold for
    ANY input — including non-ASCII codepoints (the vectorized path
    reads codepoints via utf-32 reinterpretation; a drift here would
    silently break x17/x48's cross-engine hash gate)."""
    from kafka_streams_learning_spark.operators import textops

    k, base, mask, bottom = (
        textops.ROLLING_K, textops.ROLLING_BASE,
        textops.ROLLING_MASK, textops.ROLLING_BOTTOM,
    )

    def py_sketch(t: str) -> list[int]:
        if len(t) < k:
            return []
        hs = set()
        for i in range(len(t) - k + 1):
            acc = 0
            for c in t[i:i + k]:
                acc = (acc * base + ord(c)) & mask
            hs.add(acc)
        return sorted(hs)[:bottom]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        r.doc_id: list(r.fp_sketch)
        for r in textops.rolling_fingerprints(df).collect()
    }
    for i, t in enumerate(texts):
        assert got[i] == py_sketch(t), (i, t)


# ---------------------------------------------------------------------------
# Adversarial-order/skew pins for the approximate twins (VERDICT r10
# item 5): the GK/HLL/CMS bounds were previously demonstrated on
# fixture-shaped data only; these run the documented error contracts
# against the classic estimator-breaking inputs — pre-sorted,
# reverse-sorted, heavy-duplicate, organ-pipe, single-key, 90%-skew —
# and assert order/partitioning invariance where the math promises it.


def _adversarial_value_sets() -> dict[str, list[float]]:
    n = 20_000
    asc = [float(i) for i in range(n)]
    return {
        "sorted": asc,
        "reverse_sorted": asc[::-1],
        # one value carries 99.5% of the stream; tiny distinct tail
        "heavy_duplicate": [42.0] * (n - 100) + [float(i) for i in range(100)],
        # organ pipe: ascend then descend — worst case for naive samplers
        "organ_pipe": asc[: n // 2] + asc[: n // 2][::-1],
        "single_value": [7.0] * n,
    }


def test_gk_quantiles_rank_bound_under_adversarial_order_and_skew(spark):
    """Greenwald-Khanna contract (operators/core.py approx_quantile_stats):
    with accuracy = A the returned element's RANK is within n/A of the
    target rank q*n, for ANY input order and any duplicate structure.
    Verified at A=100 (rank band ±1% of n) over five adversarial
    datasets, including a skewed two-key grouping where one key holds
    95% of the rows."""
    import bisect

    from kafka_streams_learning_spark.operators.core import (
        approx_quantile_stats,
    )

    accuracy = 100
    quantiles = [0.25, 0.50, 0.95]

    def assert_rank_band(sorted_vals: list[float], q: float, got: float, tag: str):
        n = len(sorted_vals)
        eps_ranks = n / accuracy
        lo_rank = bisect.bisect_left(sorted_vals, got) + 1  # best rank of got
        hi_rank = bisect.bisect_right(sorted_vals, got)     # worst rank of got
        target = q * n
        # the value's rank interval must intersect [target +- eps] (+1
        # slack for the rank-definition off-by-one across conventions)
        assert lo_rank <= target + eps_ranks + 1, (tag, q, got, lo_rank, target)
        assert hi_rank >= target - eps_ranks - 1, (tag, q, got, hi_rank, target)

    for tag, values in _adversarial_value_sets().items():
        df = spark.createDataFrame([(v,) for v in values], "v double")
        row = approx_quantile_stats(
            df, "v", quantiles, accuracy=accuracy
        ).collect()[0]
        assert row.n == len(values)
        sv = sorted(values)
        for q in quantiles:
            assert_rank_band(sv, q, row[f"p{int(q * 100):02d}"], tag)

    # skewed grouping: key "hot" holds 95% of rows sorted ascending, key
    # "cold" 5% descending — per-key sketches must each hold their bound
    hot = [float(i) for i in range(19_000)]
    cold = [float(i) for i in range(1_000)][::-1]
    rows = [("hot", v) for v in hot] + [("cold", v) for v in cold]
    df = spark.createDataFrame(rows, "k string, v double")
    got = {
        r.k: r
        for r in approx_quantile_stats(
            df, "v", quantiles, "k", accuracy=accuracy
        ).collect()
    }
    assert got["hot"].n == len(hot) and got["cold"].n == len(cold)
    for key, values in (("hot", hot), ("cold", cold)):
        sv = sorted(values)
        for q in quantiles:
            assert_rank_band(sv, q, got[key][f"p{int(q * 100):02d}"], key)


def test_hll_bound_and_invariance_under_adversarial_inputs(spark):
    """HLL registers are MAX aggregates of a deterministic hash, so the
    register table — and therefore the estimate — must be EXACTLY
    invariant to input order and partitioning; and the estimate must sit
    inside 3 sigma (sigma = 1.04/sqrt(m)) of the truth on sequential
    (locality-adversarial) ids, with the linear-counting branch handling
    tiny cardinality under extreme duplication."""
    import math

    from pyspark.sql import functions as F

    from kafka_streams_learning_spark.operators.sketches import (
        HLL_P,
        hll_estimate,
        hll_registers,
    )

    sigma = 1.04 / math.sqrt(1 << HLL_P)

    # 5000 sequential tokens (adversarial locality for a weak hash),
    # ascending vs descending vs repartitioned: identical registers.
    toks = [(f"t{i:05d}",) for i in range(5_000)]
    df_asc = spark.createDataFrame(toks, "token string")
    df_desc = spark.createDataFrame(toks[::-1], "token string").repartition(13)
    reg_a = sorted(
        map(tuple, hll_registers(df_asc.withColumn("g", F.lit("g")), "token", ["g"]).collect())
    )
    reg_d = sorted(
        map(tuple, hll_registers(df_desc.withColumn("g", F.lit("g")), "token", ["g"]).collect())
    )
    assert reg_a == reg_d
    est = hll_estimate(
        hll_registers(df_asc.withColumn("g", F.lit("g")), "token", ["g"]), ["g"]
    ).collect()[0].hll_estimate
    assert abs(est - 5_000) / 5_000 < 3 * sigma, (est, 3 * sigma)

    # heavy duplication: 7 distinct tokens x ~3000 copies each — the
    # small-range (linear counting) branch must stay near-exact and the
    # duplicate count must not move the estimate at all (MAX saturates).
    dup = spark.createDataFrame(
        [(f"d{i % 7}",) for i in range(21_000)], "token string"
    ).withColumn("g", F.lit("g"))
    once = spark.createDataFrame(
        [(f"d{i}",) for i in range(7)], "token string"
    ).withColumn("g", F.lit("g"))
    est_dup = hll_estimate(hll_registers(dup, "token", ["g"]), ["g"]).collect()[0].hll_estimate
    est_once = hll_estimate(hll_registers(once, "token", ["g"]), ["g"]).collect()[0].hll_estimate
    assert est_dup == est_once  # duplication-invariant by construction
    assert abs(est_dup - 7) <= 1.0, est_dup  # linear counting near-exact


def test_cms_bound_under_heavy_skew_and_order(spark):
    """Count-Min under 99%-skew: the heavy hitter's estimate must never
    underestimate and its overestimate stays within the eps*N = (e/w)*N
    mass bound; counter tables are SUM aggregates, so sorted vs
    shuffled-and-repartitioned streams must yield identical counters."""
    import math

    from pyspark.sql import functions as F

    from kafka_streams_learning_spark.operators.sketches import (
        CMS_W,
        cms_counters,
        cms_estimate,
    )

    n_heavy, n_tail = 9_900, 100
    stream = [("HOT",)] * n_heavy + [(f"tail{i}",) for i in range(n_tail)]
    df_sorted = spark.createDataFrame(stream, "v string")
    df_shuffled = spark.createDataFrame(stream[::-1], "v string").repartition(11)

    c_sorted = sorted(map(tuple, cms_counters(df_sorted, "v").collect()))
    c_shuffled = sorted(map(tuple, cms_counters(df_shuffled, "v").collect()))
    assert c_sorted == c_shuffled

    queries = spark.createDataFrame(
        [("HOT",)] + [(f"tail{i}",) for i in range(0, n_tail, 7)], "v string"
    )
    est = {
        r.v: r.cms_estimate
        for r in cms_estimate(cms_counters(df_sorted, "v"), queries, "v").collect()
    }
    n_stream = n_heavy + n_tail
    eps_n = math.e / CMS_W * n_stream
    assert est["HOT"] >= n_heavy
    assert est["HOT"] - n_heavy <= eps_n, (est["HOT"], eps_n)
    for i in range(0, n_tail, 7):
        # tail estimates absorb heavy-hitter collisions but stay inside
        # the same mass bound — the documented CMS contract under skew
        assert 1 <= est[f"tail{i}"] <= 1 + eps_n
