"""Extension query catalog — large-scale training-data pipeline operators.

Beyond reference parity (SURVEY §7.2 step 7): deduplication (exact,
MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine), similarity
search (brute-force exact + random-hyperplane LSH), text analysis
(token counting, quality scoring, language ID, fingerprinting), and
multimodal binary-column plumbing.

Every sketch uses the portable md5-derived hash family
(`functions/hashing.py`), so the DuckDB oracles replay signatures
bit-for-bit — the correctness gate covers the sketches themselves, not
just their downstream effects. Oracle SQL for the hash-heavy operators is
*generated from the same Python constants* as the Spark expressions, so
the two sides cannot drift.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_learning_spark.catalog import QuerySpec, shared_artifact
from kafka_streams_learning_spark.functions.hashing import (
    hash32_sql,
    hash60_sql,
    perm_hash_sql,
)
from kafka_streams_learning_spark.functions.text import STOPWORDS, _LANG_MARKERS
from kafka_streams_learning_spark.operators import (
    clustering,
    dedup,
    multimodal,
    packing,
    sampling,
    similarity,
    sketches,
    textops,
)
from kafka_streams_learning_spark.sources.batch import load_table

# constants — part of each query's contract
MINHASH_PERMS = 4
JACCARD_K = 3
JACCARD_THRESHOLD = 0.3
# x48's MOSS absolute df cap applied to x07: shingles in > this many docs
# are boilerplate and dropped before pairing (bounds per-shingle fanout)
JACCARD_MAX_DF = 64
ANN_K = 5
ANN_QUERY_MOD = 50  # query set = vec_id % 50 == 0
EMB_DUP_THRESHOLD = 0.35
TOPK_TOKENS = 20

# ---------------------------------------------------------------------------
# shared DuckDB SQL fragments (mirror functions/text.py exactly)

_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
_TOKS_RAW = r"list_filter(string_split_regex(text, '\s+'), x -> x != '')"
_TOKS_NORM = rf"list_filter(string_split_regex({_NORM}, '\s+'), x -> x != '')"


def _shingles_sql(k: int) -> str:
    """k-word shingles of the normalized tokens, matching word_shingles()
    exactly (single all-token shingle when len(toks) <= k) — the ONE
    source of the oracle-side shingle SQL for every shingle consumer."""
    return f"""
  CASE WHEN len(toks) <= {k} THEN [array_to_string(toks, ' ')]
       ELSE list_transform(generate_series(1, len(toks) - {k - 1}),
                           j -> array_to_string(list_slice(toks, j, j + {k - 1}), ' '))
  END
"""


_SHINGLES = _shingles_sql(JACCARD_K)


# ---------------------------------------------------------------------------
# X1 — text stats (token counting + quality scoring)


def _x01(spark: SparkSession, sf: str) -> DataFrame:
    return textops.text_stats(load_table(spark, sf, "documents"))


_STOP_IN = ", ".join(f"'{s}'" for s in STOPWORDS)
_X01_SQL = rf"""
WITH t AS (
  SELECT doc_id, text,
         {_TOKS_RAW} AS toks,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS ltoks
  FROM documents
)
SELECT doc_id,
       len(toks) AS n_tokens,
       CAST(ceil(length(regexp_replace(text, '\s+', '', 'g')) / 4.0) AS BIGINT)
         + len(toks) AS n_subwords,
       CASE WHEN len(ltoks) > 0
            THEN len(list_filter(ltoks, x -> x IN ({_STOP_IN}))) / len(ltoks)
            ELSE 0.0 END AS stop_ratio,
       CASE WHEN length(text) > 0
            THEN length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) / length(text)
            ELSE 0.0 END AS punct_ratio,
       least(len(toks) / 100.0, 1.0) * 0.4
         + least((CASE WHEN len(ltoks) > 0
                       THEN len(list_filter(ltoks, x -> x IN ({_STOP_IN}))) / len(ltoks)
                       ELSE 0.0 END) * 4.0, 1.0) * 0.3
         + greatest(1.0 - (CASE WHEN length(text) > 0
                       THEN length(regexp_replace(text, '[^!-/:-@\[-`{{-~]', '', 'g')) / length(text)
                       ELSE 0.0 END) * 4.0, 0.0) * 0.3 AS quality
FROM t
"""

# X2 — language ID (marker-token heuristic)


def _x02(spark: SparkSession, sf: str) -> DataFrame:
    return textops.lang_id(load_table(spark, sf, "documents"))


def _lang_sql() -> str:
    score_cols = ",\n         ".join(
        f"len(list_filter(ltoks, x -> x IN ({', '.join(repr(m) for m in markers)}))) AS s_{lang}"
        for lang, markers in _LANG_MARKERS.items()
    )
    best = "greatest(" + ", ".join(f"s_{lang}" for lang in _LANG_MARKERS) + ")"
    cases = "\n            ".join(
        f"WHEN s_{lang} = best THEN '{lang}'" for lang in _LANG_MARKERS
    )
    return rf"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), x -> x != '') AS ltoks
  FROM documents
), s AS (
  SELECT doc_id,
         {score_cols}
  FROM t
), b AS (
  SELECT *, {best} AS best FROM s
)
SELECT doc_id,
       CASE WHEN best = 0 THEN 'und'
            {cases}
            ELSE 'und' END AS lang_guess
FROM b
"""


# X3 — document fingerprint


def _x03(spark: SparkSession, sf: str) -> DataFrame:
    return textops.fingerprints(load_table(spark, sf, "documents"))


_X03_SQL = f"SELECT doc_id, md5({_NORM}) AS fp FROM documents"

# X4 — exact dedup groups


def _x04(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.exact_dup_groups(load_table(spark, sf, "documents"))


_X04_SQL = f"""
SELECT md5({_NORM}) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
"""

# X5 — global top-k tokens (heavy hitters with sort+limit)


def _x05(spark: SparkSession, sf: str) -> DataFrame:
    return textops.token_topk(load_table(spark, sf, "documents"), TOPK_TOKENS)


_X05_SQL = rf"""
WITH toks AS (
  SELECT unnest({_TOKS_NORM}) AS token FROM documents
)
SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1
ORDER BY cnt DESC, token LIMIT {TOPK_TOKENS}
"""

# X6 — MinHash signatures


def _x06(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.minhash_signatures(
        load_table(spark, sf, "documents"), MINHASH_PERMS, JACCARD_K
    )


def _minhash_sql() -> str:
    # mirror of dedup.minhash_signatures: one 32-bit md5-derived hash per
    # shingle, then arithmetic permutations (A_i*h + B_i) mod P
    mins = ",\n       ".join(
        f"MIN({perm_hash_sql('h', i)}) AS mh{i}" for i in range(MINHASH_PERMS)
    )
    return rf"""
WITH t AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS shingles FROM t),
u AS (SELECT doc_id, {hash32_sql('unnest(shingles)')} AS h FROM s)
SELECT doc_id,
       {mins}
FROM u GROUP BY doc_id
"""


# X7 — n-gram Jaccard near-dup pairs (inverted shingle index)


def _x07(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"),
        JACCARD_THRESHOLD,
        JACCARD_K,
        max_df=JACCARD_MAX_DF,
    )


# df-capped postings (shingle in ≤ JACCARD_MAX_DF docs) feed BOTH the
# intersection and the sizes — Jaccard is exact over the non-boilerplate
# shingle universe, mirroring ngram_jaccard_pairs(max_df=...)
_X07_SQL = rf"""
WITH t AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS shingles FROM t),
post0 AS (SELECT DISTINCT doc_id AS id, unnest(shingles) AS shingle FROM s),
rare AS (
  SELECT shingle FROM post0 GROUP BY 1 HAVING COUNT(*) <= {JACCARD_MAX_DF}
),
post AS (SELECT id, p.shingle FROM post0 p JOIN rare USING (shingle)),
sizes AS (SELECT id, COUNT(*) AS n FROM post GROUP BY 1),
inter AS (
  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS ni
  FROM post a JOIN post b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, ni / (sa.n + sb.n - ni) AS jaccard
FROM inter JOIN sizes sa ON doc_a = sa.id JOIN sizes sb ON doc_b = sb.id
WHERE ni / (sa.n + sb.n - ni) >= {JACCARD_THRESHOLD}
"""

# X8 — SimHash (bit-majority fingerprint)


def _x08(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf, "documents"))


def _simhash_sql() -> str:
    bit_sums = ",\n         ".join(
        f"SUM((h >> {b}) & 1) AS b{b}" for b in range(dedup.SIMHASH_BITS)
    )
    bit_cases = "\n         + ".join(
        f"(CASE WHEN 2 * b{b} >= n THEN {2**b} ELSE 0 END)"
        for b in range(dedup.SIMHASH_BITS)
    )
    return rf"""
WITH t AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
u AS (SELECT doc_id, {hash32_sql('unnest(toks)')} AS h FROM t),
g AS (
  SELECT doc_id, COUNT(*) AS n,
         {bit_sums}
  FROM u GROUP BY doc_id
), v AS (
  SELECT doc_id,
         {bit_cases} AS simhash
  FROM g
)
SELECT d.doc_id, CAST(COALESCE(v.simhash, 0) AS BIGINT) AS simhash
FROM documents d LEFT JOIN v ON d.doc_id = v.doc_id
"""


# X9 — brute-force exact ANN (cosine top-k)


def _x09(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0)
    return similarity.brute_force_topk(emb, q, ANN_K)


# explicit double-precision cosine (list_cosine_similarity may accumulate in
# float32; this mirrors the Spark zip_with/aggregate double fold exactly)
_COS = (
    "list_sum(list_transform(generate_series(1, len(q.qv)), "
    "i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) / "
    "(sqrt(list_sum(list_transform(generate_series(1, len(q.qv)), "
    "i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))) * "
    "sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)), "
    "i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))))"
)

_X09_SQL = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
  WHERE vec_id % {ANN_QUERY_MOD} = 0
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_COS} AS score
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id != q.query_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= {ANN_K}
"""

# X10 — embedding-cosine near-dup pairs, EXACT all-pairs form. Role: the
# small-N ground truth for x26 (the banded-LSH catalogued scale path) —
# so the catalog row runs it on a deterministic half-corpus
# (vec_id % EMB_EXACT_MOD = 0, the same subset the x26 recall
# cross-check in tests uses), quartering the quadratic pair count while
# keeping a fully oracle-hashed exact row. The operator itself is uncapped;
# anything needing exact pairs over a FULL large corpus should not exist —
# that is x26's job (O(n^2) never survives 100 TB).

EMB_EXACT_MOD = 2


def _x10(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings").filter(
        F.col("vec_id") % EMB_EXACT_MOD == 0
    )
    return similarity.embedding_near_dup_pairs(emb, EMB_DUP_THRESHOLD)


# mirror of similarity.embedding_near_dup_pairs: normalize once per
# vector (x/||v|| in double), then pairs score with a single dot product
_X10_SQL = f"""
WITH n AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_sum(list_transform(embedding,
                y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
  FROM embeddings
  -- deterministic half-corpus: x10's catalog role is x26's exact
  -- ground truth, not a full-corpus scale path
  WHERE vec_id % {EMB_EXACT_MOD} = 0
  -- zero-norm vectors excluded, mirroring similarity.normalized_vectors
    AND list_sum(list_transform(embedding,
          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0
), scored AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_sum(list_transform(generate_series(1, len(a.nv)),
              i -> a.nv[i] * b.nv[i])) AS score
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, score FROM scored WHERE score >= {EMB_DUP_THRESHOLD}
"""

# X11 — MinHash-LSH candidate pairs (rows checked; set is deterministic)

# Shared intermediate of the MinHash dedup family: x11 reports the pair
# table, x33 closes it into keep/drop verdicts. Same contract as
# _emb_pairs below — one materialized generation per sf per process.
@shared_artifact("mh_pairs")
def _mh_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators.materialize import materialized

    pairs = dedup.lsh_candidate_pairs(
        load_table(spark, sf, "documents"),
        n_perm=MINHASH_PERMS,
        bands=MINHASH_PERMS,
        bucket_cap=MINHASH_BUCKET_CAP,
    )
    return materialized(pairs, tag=f"mh-pairs-{sf.replace('/', '_')}")


def _x11(spark: SparkSession, sf: str) -> DataFrame:
    return _mh_pairs(spark, sf)


MINHASH_BUCKET_CAP = 256  # never binds at fixture occupancy (≤19 at sf0.1)


def _lsh_sql() -> str:
    # bands of 1 row: bucket b = md5(CAST(mh_b AS VARCHAR)); a pair is a
    # candidate iff any single minhash matches — mirror of
    # lsh_candidate_pairs with rows_per_band=1, INCLUDING the r9
    # per-(band,bucket) occupancy cap under the band-keyed hash order
    # (long format replaces the old OR-join so the cap is expressible).
    from kafka_streams_learning_spark.functions.hashing import hash60_sql

    sig = _minhash_sql()
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT doc_id, {i} AS band, md5(CAST(mh{i} AS VARCHAR)) AS bucket "
        f"FROM sig"
        for i in range(MINHASH_PERMS)
    )
    cap_order = hash60_sql(
        "CAST(band AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)"
    )
    # r10: the oracle mirrors the star-pair closure too — capped-out
    # members pair with their bucket's rank-1 anchor, exactly the Spark
    # overflow arm (window frame pinned to ROWS to match F.first over
    # rowsBetween(unboundedPreceding, currentRow))
    return f"""
WITH sig AS ({sig}),
bb AS (
  {band_selects}
), ranked AS (
  SELECT doc_id, band, bucket,
         row_number() OVER w AS rk,
         first_value(doc_id) OVER w AS anchor
  FROM bb
  WINDOW w AS (PARTITION BY band, bucket
      ORDER BY {cap_order}, doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), kept AS (
  SELECT doc_id, band, bucket FROM ranked WHERE rk <= {MINHASH_BUCKET_CAP}
)
SELECT DISTINCT doc_a, doc_b FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM kept a JOIN kept b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
  UNION ALL
  SELECT least(anchor, doc_id) AS doc_a, greatest(anchor, doc_id) AS doc_b
  FROM ranked WHERE rk > {MINHASH_BUCKET_CAP}
)
"""


# X12 — multimodal binary metadata (JVM-side pass before any decode)


def _x12(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("id"),
        F.lit("text").alias("modality"),
        F.col("text").cast("binary").alias("blob"),
    )
    return multimodal.binary_meta(docs)


_X12_SQL = """
SELECT doc_id AS id, 'text' AS modality,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha
FROM documents
"""


# X13 — IVF approximate top-k ANN (the 100 TB scale path for x09).
# Deterministic end-to-end (modular centroid seeding, tie-broken argmax),
# so the oracle replays the identical algorithm: the check verifies the
# full IVF pipeline — assignment, probing, candidate generation, exact
# re-scoring — not just "some neighbors came back".
#
# r9: the centroid COUNT is held constant across corpus sizes. The r1-r8
# binding (a fixed modulus of 20) made #centroids = N/20, so assignment
# was a CROSS score of N x N/20 — quadratic by construction; the 10x
# probe measured it at 39x runtime for 10x data. The modulus is now
# derived from the corpus count to target IVF_TARGET_CENTROIDS seeds
# (one tiny count() on the driver — the balanced_sample precedent), so
# assignment is N x C, linear. Per-query cost is nprobe x N/C and the
# query workload scales with the fixture (vec_id % ANN_QUERY_MOD);
# production retunes C (~ sqrt(N)) as the corpus grows and retrains —
# the catalog pins the TARGET, not the modulus, for oracle determinism.

IVF_TARGET_CENTROIDS = 50
IVF_NPROBE = 2

_NORM_NV = (
    "list_transform(embedding, x -> CAST(x AS DOUBLE) / "
    "sqrt(list_sum(list_transform(embedding, "
    "y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))))"
)


# memoized per sf: the count is an uncached full-table action, and
# without the memo every _x13 CONSTRUCTION paid a scan. Declared a model:
# the modulus must re-derive alongside the centroids after a fixture
# regeneration, or the stale modulus mismatches the oracle's live-table
# count (r10 review finding).
@shared_artifact("ivf_mod", model=True)
def _ivf_centroid_mod(spark: SparkSession, sf: str) -> int:
    n = load_table(spark, sf, "embeddings").count()
    return max(1, n // IVF_TARGET_CENTROIDS)


def _x13(spark: SparkSession, sf: str) -> DataFrame:
    return similarity.ivf_topk(
        load_table(spark, sf, "embeddings"),
        k=ANN_K,
        centroid_mod=_ivf_centroid_mod(spark, sf),
        query_mod=ANN_QUERY_MOD,
        nprobe=IVF_NPROBE,
    )


_X13_SQL = f"""
WITH m AS (
  SELECT greatest(1, COUNT(*) // {IVF_TARGET_CENTROIDS}) AS md FROM embeddings
), n AS (
  SELECT vec_id, {_NORM_NV} AS nv FROM embeddings
  -- zero-norm vectors excluded, mirroring similarity.normalized_vectors
  WHERE list_sum(list_transform(embedding,
          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0
), cent AS (
  SELECT vec_id AS cid, nv AS cv FROM n WHERE vec_id % (SELECT md FROM m) = 0
), scored AS (
  SELECT v.vec_id, c.cid,
         list_sum(list_transform(generate_series(1, len(v.nv)),
              i -> v.nv[i] * c.cv[i])) AS score
  FROM n v CROSS JOIN cent c
), best AS (
  SELECT vec_id, MAX(score) AS ms FROM scored GROUP BY vec_id
), assign AS (
  -- argmax by (score desc, cid asc), two-pass form of Spark's max_by
  SELECT s.vec_id, MIN(s.cid) AS cluster
  FROM scored s JOIN best b ON s.vec_id = b.vec_id AND s.score = b.ms
  GROUP BY s.vec_id
), probe AS (
  SELECT vec_id AS query_id, cid AS cluster FROM (
    SELECT vec_id, cid,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY score DESC, cid) AS rn
    FROM scored WHERE vec_id % {ANN_QUERY_MOD} = 0
  ) WHERE rn <= {IVF_NPROBE}
), cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM probe p JOIN assign a ON p.cluster = a.cluster
  WHERE a.vec_id != p.query_id
), rescored AS (
  SELECT cand.query_id, cand.neighbor_id,
         list_sum(list_transform(generate_series(1, len(q.nv)),
              i -> q.nv[i] * v.nv[i])) AS score
  FROM cand
  JOIN n q ON q.vec_id = cand.query_id
  JOIN n v ON v.vec_id = cand.neighbor_id
)
SELECT query_id, neighbor_id, rn AS rank, score FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, neighbor_id) AS rn
  FROM rescored
) WHERE rn <= {ANN_K}
"""


# X14 — multimodal feature extraction through the ARROW/PYTHON path.
# The one mapInPandas operator in the catalog: the deterministic fake
# decoder runs the exact production plumbing (Arrow batches, explicit
# schema, bounded memory) and the oracle recomputes every output column —
# including the 8-dim rolling-byte-sum feature vector — in SQL, so the
# Python boundary itself is hash-verified, not just row-counted.
# (documents.text is pure ASCII in the fixtures, so DuckDB character
# positions equal Python byte positions.)

FEAT_DIM = 8


def _x14(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("id"),
        F.lit("text").alias("modality"),
        F.col("text").cast("binary").alias("blob"),
    )
    out = multimodal.fake_decode_features(docs, feat_dim=FEAT_DIM)
    # Catalog projection only: external harnesses canonicalize results in
    # pandas, which cannot sort/hash list cells, so serialize the feature
    # vector to a CSV string. Values are integral (byte-sum % 997) so the
    # bigint cast is exact and portable; the operator itself still returns
    # the typed array<float>.
    return out.withColumn(
        "feature",
        F.concat_ws(
            ",", F.transform("feature", lambda v: v.cast("bigint").cast("string"))
        ),
    )


_X14_SQL = f"""
SELECT doc_id AS id,
       'text' AS modality,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha,
       CAST(1 + length(text) % 64 AS INTEGER) AS width,
       CAST(1 + length(text) % 48 AS INTEGER) AS height,
       1 AS n_frames,
       array_to_string(list_transform(generate_series(0, {FEAT_DIM - 1}), i ->
         CAST(COALESCE(list_sum(list_transform(
                generate_series(i + 1, length(text), {FEAT_DIM}),
                p -> ord(substr(text, p, 1)))), 0) % 997 AS BIGINT)
       ), ',') AS feature
FROM documents
"""


# X15 — exact distinct-cardinality per key (two-stage distinct aggregate).
# The approximate HLL variant (core.approx_distinct_count_by_key) rides the
# same API but is estimator-specific (Spark-native sketch), so only the
# exact form is oracle-hashed; the test suite bounds the approx form
# against it. For a cross-engine-portable HLL whose estimate IS
# oracle-hashed, see x54 (operators/sketches.py).


def _x15(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import core

    return core.distinct_count_by_key(
        load_table(spark, sf, "events"), "user_id", "event_type"
    )


_X15_SQL = """
SELECT event_type, COUNT(DISTINCT user_id) AS cnt FROM events GROUP BY 1
"""


# X16 — the end-to-end corpus-cleaning pipeline (lang ID → quality gate →
# exact-dedup survivors), composed from x01/x02/x04's operators so the
# whole sweep fuses into one scan + one semi-join. The oracle composes the
# same three SQL bodies as CTEs.

CLEAN_MIN_QUALITY = 0.55
CLEAN_LANGS = ("en",)


def _x16(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators.pipeline import clean_corpus

    return clean_corpus(
        load_table(spark, sf, "documents"), CLEAN_MIN_QUALITY, CLEAN_LANGS
    )


def _x16_sql() -> str:
    langs_in = ", ".join(f"'{lang}'" for lang in CLEAN_LANGS)
    return f"""
WITH stats AS ({_X01_SQL}),
lang AS ({_lang_sql()}),
keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM}))
SELECT d.doc_id, lang.lang_guess, stats.n_tokens, stats.quality
FROM documents d
JOIN keep USING (doc_id)
JOIN lang ON lang.doc_id = d.doc_id
JOIN stats ON stats.doc_id = d.doc_id
WHERE lang.lang_guess IN ({langs_in}) AND stats.quality >= {CLEAN_MIN_QUALITY}
"""


# X17 — rolling-hash (Rabin-Karp) bottom-k fingerprint sketch. The oracle
# replays the identical Horner fold over every char window (documents are
# pure ASCII, so ord(substr) == ascii byte).


def _x17(spark: SparkSession, sf: str) -> DataFrame:
    out = textops.rolling_fingerprints(load_table(spark, sf, "documents"))
    # Catalog projection only (same pandas-canonicalizer constraint as x14):
    # bottom-k sketch serialized to CSV; the operator keeps array<bigint>.
    return out.withColumn(
        "fp_sketch", F.concat_ws(",", F.col("fp_sketch").cast("array<string>"))
    )


# the bottom-k rolling-hash sketch as a LIST expression — the ONE source
# for both x17's CSV projection and x48's containment postings
_ROLLING_SKETCH_LIST = f"""CASE WHEN length(text) >= {textops.ROLLING_K}
            THEN list_slice(list_sort(list_distinct(
                   list_transform(
                     generate_series(1, length(text) - {textops.ROLLING_K - 1}),
                     i -> list_reduce(
                            [CAST(0 AS BIGINT)] || list_transform(
                              generate_series(i, i + {textops.ROLLING_K - 1}),
                              p -> CAST(ord(substr(text, p, 1)) AS BIGINT)),
                            (acc, c) -> (acc * {textops.ROLLING_BASE} + c)
                                        & {textops.ROLLING_MASK})))),
                 1, {textops.ROLLING_BOTTOM})
            ELSE [] END"""

_X17_SQL = f"""
SELECT doc_id,
       array_to_string({_ROLLING_SKETCH_LIST}, ',') AS fp_sketch
FROM documents
"""


# X18 — random-hyperplane LSH approximate top-k (the bucketed ANN variant
# alongside x13's IVF). Hyperplane components are md5-derived in Python
# and embedded as literals in BOTH the Spark expression and the oracle SQL
# (repr round-trips doubles exactly), so bucketing and re-scoring replay
# bit-for-bit.

LSH_PLANES = 8
EMB_DIM = 64


def _x18(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0)
    return similarity.lsh_topk(emb, q, ANN_K, n_planes=LSH_PLANES, dim=EMB_DIM)


def _x18_sql() -> str:
    from kafka_streams_learning_spark.operators.similarity import _hyperplane

    bucket_terms = []
    for p in range(LSH_PLANES):
        lit = "[" + ", ".join(repr(c) for c in _hyperplane(EMB_DIM, p)) + "]"
        dot = (
            f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
            f"j -> CAST(embedding[j] AS DOUBLE) * ({lit})[j]))"
        )
        bucket_terms.append(f"(CASE WHEN {dot} >= 0 THEN {2**p} ELSE 0 END)")
    bucket = "\n         + ".join(bucket_terms)
    return f"""
WITH b AS (
  SELECT vec_id, embedding,
         {bucket} AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, bucket FROM b
  WHERE vec_id % {ANN_QUERY_MOD} = 0
), scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, {_COS} AS score
  FROM q JOIN b e ON q.bucket = e.bucket AND e.vec_id != q.query_id
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= {ANN_K}
"""


# X19 — deterministic hash-based train/val/test split. Pure per-row
# expression (no shuffle); a document's assignment never changes as the
# corpus grows, unlike randomSplit.

SPLITS = [("train", 80), ("val", 10), ("test", 10)]


def _x19(spark: SparkSession, sf: str) -> DataFrame:
    return sampling.hash_split(load_table(spark, sf, "documents"), SPLITS)


def _x19_sql() -> str:
    cases, edge = [], 0
    for name, pct in SPLITS:
        edge += pct
        cases.append(f"WHEN bucket < {edge} THEN '{name}'")
    case = "CASE " + " ".join(cases) + " END"
    return f"""
WITH b AS (
  SELECT doc_id, {sampling.hash_split_bucket_sql('doc_id')} AS bucket
  FROM documents
)
SELECT doc_id, bucket, {case} AS split FROM b
"""


# X20 — class-balanced sampling: every language stratum downsampled to the
# smallest stratum's size by deterministic hash rank. The literal cap (a
# one-row driver-side aggregate) is what lets Spark plan a WindowGroupLimit
# so tasks prune to their local top-cap before the per-stratum exchange.


def _x20(spark: SparkSession, sf: str) -> DataFrame:
    lang = textops.lang_id(load_table(spark, sf, "documents"))
    return sampling.balanced_sample(lang, strata_col="lang_guess")


def _x20_sql() -> str:
    return f"""
WITH lang AS ({_lang_sql()}),
c AS (
  SELECT MIN(cnt) AS cap FROM (
    SELECT COUNT(*) AS cnt FROM lang GROUP BY lang_guess
  )
),
r AS (
  SELECT doc_id, lang_guess,
         CAST(row_number() OVER (
           PARTITION BY lang_guess
           ORDER BY {sampling.balanced_order_sql('doc_id')}, doc_id) AS INT) AS rk
  FROM lang
)
SELECT doc_id, lang_guess, rk FROM r, c WHERE rk <= cap
"""


# X21 — top-k terms per document by smooth TF-IDF. The idf is quantized
# (round(ln, 9)) because JVM Math.log and libm log differ by 1 ulp on ~9%
# of inputs — measured portable after quantization (0/6000 mismatches).

TFIDF_K = 5


def _x21(spark: SparkSession, sf: str) -> DataFrame:
    return textops.tfidf_topk(load_table(spark, sf, "documents"), TFIDF_K)


_X21_SQL = f"""
WITH toks AS (SELECT doc_id, unnest({_TOKS_NORM}) AS term FROM documents),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (SELECT term, COUNT(*) AS dfreq FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.dfreq,
         CAST(tf.tf AS DOUBLE)
           * (round(ln((n.n_docs + 1) / (dfreq.dfreq + 1)), 9) + 1.0) AS score
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY doc_id ORDER BY score DESC, term) AS INT) AS rank
  FROM scored
)
SELECT doc_id, term, tf, dfreq, rank, score FROM ranked WHERE rank <= {TFIDF_K}
"""


# X22 — as-of (point-in-time) join: for every event, the most recent
# PRIOR purchase by the same user (strictly before — no leakage from
# same-instant or future rows). Feature-store lookup semantics; the Spark
# side is the union-merge form (one exchange, zero row explosion), the
# oracle is the naive candidate-join + argmax, so the two independently
# derived formulations must agree row-for-row.


def _x22(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import joins

    ev = load_table(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    j = joins.asof_join(
        ev,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload={"ts": "last_purchase_ts", "event_id": "last_purchase_id"},
        right_id="event_id",
        strict=True,
    )
    return j.withColumn(
        "micros_since_purchase",
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_purchase_ts")),
    )


_X22_SQL = """
WITH p AS (
  SELECT user_id, ts AS pts, event_id AS pid FROM events
  WHERE event_type = 'purchase'
),
cand AS (
  SELECT e.event_id, p.pts, p.pid,
         row_number() OVER (
           PARTITION BY e.event_id ORDER BY p.pts DESC, p.pid DESC) AS rn
  FROM events e JOIN p ON p.user_id = e.user_id AND p.pts < e.ts
)
SELECT e.event_id, e.user_id, e.ts, e.event_type,
       c.pts AS last_purchase_ts, c.pid AS last_purchase_id,
       epoch_us(e.ts) - epoch_us(c.pts) AS micros_since_purchase
FROM events e LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (event_id)
"""


# X23 — PII redaction sweep. Patterns restricted to the Java-regex ∩ RE2
# dialect so Spark and DuckDB replace identically; counts are measured on
# the original text, redaction applies patterns in declared order.


def _x23(spark: SparkSession, sf: str) -> DataFrame:
    return textops.redact_pii(load_table(spark, sf, "documents"))


def _x23_sql() -> str:
    from kafka_streams_learning_spark.functions.text import PII_PATTERNS

    red = "text"
    for _, pattern, repl in PII_PATTERNS:
        red = f"regexp_replace({red}, '{pattern}', '{repl}', 'g')"
    counts = ",\n       ".join(
        f"CAST(len(regexp_extract_all(text, '{pattern}')) AS INT) AS n_{name}"
        for name, pattern, _ in PII_PATTERNS
    )
    return f"""
SELECT doc_id,
       {red} AS clean_text,
       {counts}
FROM documents
"""


# X24 — exact per-key quantile stats. Linear-interpolated percentiles on
# identical sorted inputs are bitwise-portable (measured 25/25 vs DuckDB
# quantile_cont); sum/avg of doubles are deliberately absent (addition
# order isn't). The GK-sketch approx variant rides the same API and is
# bounds-tested against this exact form.

QUANTILES = [0.25, 0.5, 0.75, 0.9, 0.99]


def _x24(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import core

    return core.quantile_stats(
        load_table(spark, sf, "orders"), "o_totalprice", QUANTILES, "o_orderpriority"
    )


def _x24_sql() -> str:
    qs = ",\n       ".join(
        f"quantile_cont(o_totalprice, {q}) AS p{int(q * 100):02d}" for q in QUANTILES
    )
    return f"""
SELECT o_orderpriority, COUNT(*) AS n,
       MIN(o_totalprice) AS vmin, MAX(o_totalprice) AS vmax,
       {qs}
FROM orders GROUP BY 1
"""


# X25 — multi-granularity rollup. One scan + one Expand + one exchange
# yields every aggregation level of the (priority, status) hierarchy;
# per-dim grouping flags instead of a packed grouping_id so Spark's and
# DuckDB's bit conventions can't diverge. count/min/max only — they're
# bitwise-portable; double sums are not (see x24).

ROLLUP_DIMS = ["o_orderpriority", "o_orderstatus"]


def _x25(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import core

    return core.rollup_stats(
        load_table(spark, sf, "orders"), "o_totalprice", *ROLLUP_DIMS
    )


def _x25_sql() -> str:
    flags = ",\n       ".join(
        f"CAST(GROUPING({d}) AS INT) AS g_{d}" for d in ROLLUP_DIMS
    )
    return f"""
SELECT {", ".join(ROLLUP_DIMS)},
       {flags},
       COUNT(*) AS n,
       MIN(o_totalprice) AS vmin, MAX(o_totalprice) AS vmax
FROM orders GROUP BY ROLLUP ({", ".join(ROLLUP_DIMS)})
"""


# X27 — multimodal frame-sampling plan: the decode-minimization step a
# video pipeline runs BEFORE any codec work — explode only the sampled
# frame indices (0, n, 2n…) per blob so the decoder fetches 1/every_n of
# the frames. The modality column drives per-modality frame counts
# through the REAL Arrow-batched mapInPandas decode plumbing (the fake
# decoder, x14), and the oracle recomputes the full pipeline including
# the sampled index expansion.

FRAME_EVERY = 7


def _x27(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("id"),
        F.element_at(
            F.array(F.lit("video"), F.lit("image"), F.lit("audio")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("modality"),
        F.col("text").cast("binary").alias("blob"),
    )
    decoded = multimodal.fake_decode_features(docs, feat_dim=FEAT_DIM)
    return multimodal.sample_frames(decoded, FRAME_EVERY).select(
        "id", "modality", "n_frames", "frame_idx"
    )


_X27_SQL = f"""
WITH d AS (
  SELECT doc_id AS id,
         CASE doc_id % 3 WHEN 0 THEN 'video' WHEN 1 THEN 'image'
              ELSE 'audio' END AS modality
  FROM documents
), f AS (
  SELECT id, modality,
         CASE WHEN modality = 'video' THEN 30 ELSE 1 END AS n_frames
  FROM d
)
SELECT id, modality, n_frames,
       unnest(generate_series(0, greatest(n_frames - 1, 0), {FRAME_EVERY}))
         AS frame_idx
FROM f
"""


# X26 — LSH-bounded embedding near-dup pairs: the 100 TB-safe catalogued
# path for x10's semantics. Candidates come from a banded random-hyperplane
# bucket equi-join (never a cross product); survivors are re-scored with
# exactly x10's normalized-dot scorer, so every emitted score is identical
# to the exact variant. The oracle replays the identical algorithm (bit
# pattern → band buckets → per-bucket cap → collision join → exact
# re-score), so the driver hashes the full approximate pipeline, not just
# "pairs came back". x10 stays in the catalog as the exact small-N oracle.
#
# Round 9 re-parameterization, forced by measurement: the r1–r8 settings
# (bands=8, ppb=2 — FOUR buckets per band, uncapped) made bucket
# occupancy N/4, so the bucket self-join was O(N²) with a constant —
# the 10x-corpus probe (tools/scale_probe.py, BENCH_NOTES r9) OOM'd the
# 128 GiB JVM in exactly that join. Now: 16 buckets per band (ppb=4),
# 4x the bands to hold recall (OR-amplification; measured recall 1.0 vs the x10 exact arm at sf0.001 AND sf0.01) (a cos≥0.9 true pair still collides
# somewhere with p ≈ 1-1e-5), and NEARDUP_BUCKET_CAP as the hard bound —
# per (band,bucket) only the cap-many members under a band-keyed hash
# order generate pairs (each band keeps a DIFFERENT slice of a hot
# region; x07's df-cap pattern applied to vector buckets). A
# (band,bucket) emits ≤ cap²/2 pairs at ANY corpus size.

NEARDUP_BANDS = 32
NEARDUP_PPB = 4
NEARDUP_BUCKET_CAP = 256

# The LSH near-dup PAIR TABLE is the shared intermediate of the embedding
# dedup family: x26 reports it, x28 closes it into groups. A production
# pipeline materializes it once and feeds every downstream report from the
# materialized table (at 100 TB the pair table is the cheap artifact; the
# banded self-join that produces it is the expensive one) — so the catalog
# does the same: one generation per sf dir per process, built in the
# bench's set-up (catalog.shared_artifact).
@shared_artifact("emb_pairs")
def _emb_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators.materialize import materialized

    pairs = similarity.embedding_near_dup_pairs_lsh(
        load_table(spark, sf, "embeddings"),
        EMB_DUP_THRESHOLD,
        bands=NEARDUP_BANDS,
        planes_per_band=NEARDUP_PPB,
        dim=EMB_DIM,
        bucket_cap=NEARDUP_BUCKET_CAP,
    )
    # per-sf tag: generations for different sf dirs must not reclaim
    # each other (the oracle suite runs three SFs in one process)
    return materialized(pairs, tag=f"emb-pairs-{sf.replace('/', '_')}")


def _x26(spark: SparkSession, sf: str) -> DataFrame:
    return _emb_pairs(spark, sf)


def _x26_sql() -> str:
    from kafka_streams_learning_spark.functions.hashing import hash60_sql
    from kafka_streams_learning_spark.operators.similarity import _hyperplane

    band_selects = []
    for b in range(NEARDUP_BANDS):
        terms = []
        for j in range(NEARDUP_PPB):
            plane = _hyperplane(EMB_DIM, b * NEARDUP_PPB + j)
            lit = "[" + ", ".join(repr(c) for c in plane) + "]"
            dot = (
                f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
                f"i -> CAST(embedding[i] AS DOUBLE) * ({lit})[i]))"
            )
            terms.append(f"(CASE WHEN {dot} >= 0 THEN {2**j} ELSE 0 END)")
        bucket = " + ".join(terms)
        # nz mirrors Spark's r10 norm>0 pre-filter: zero-norm vectors
        # never bucket, so they can't occupy cap slots or anchor stars
        band_selects.append(
            f"SELECT vec_id, {b} AS band, ({bucket}) AS bucket FROM nz"
        )
    bb_union = "\n  UNION ALL\n  ".join(band_selects)
    cap_order = hash60_sql(
        "CAST(band AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR)"
    )
    # r10: ranked/star arms mirror the Spark star-pair closure — every
    # capped-out member emits one candidate against its bucket's rank-1
    # anchor; star candidates re-score exactly like join candidates
    return f"""
WITH nz AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE list_sum(list_transform(embedding,
          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0
), bb AS (
  {bb_union}
), ranked AS (
  SELECT vec_id, band, bucket,
         row_number() OVER w AS rk,
         first_value(vec_id) OVER w AS anchor
  FROM bb
  WINDOW w AS (PARTITION BY band, bucket
      ORDER BY {cap_order}, vec_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), kept AS (
  SELECT vec_id, band, bucket FROM ranked WHERE rk <= {NEARDUP_BUCKET_CAP}
), cand AS (
  SELECT DISTINCT vec_a, vec_b FROM (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM kept a JOIN kept b
      ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
    UNION ALL
    SELECT least(anchor, vec_id) AS vec_a, greatest(anchor, vec_id) AS vec_b
    FROM ranked WHERE rk > {NEARDUP_BUCKET_CAP}
  )
), n AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE) /
           sqrt(list_sum(list_transform(embedding,
                y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))) AS nv
  FROM embeddings
  WHERE list_sum(list_transform(embedding,
          y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))) > 0
), scored AS (
  SELECT c.vec_a, c.vec_b,
         list_sum(list_transform(generate_series(1, len(na.nv)),
              i -> na.nv[i] * nb.nv[i])) AS score
  FROM cand c
  JOIN n na ON na.vec_id = c.vec_a
  JOIN n nb ON nb.vec_id = c.vec_b
)
SELECT vec_a, vec_b, score FROM scored WHERE score >= {EMB_DUP_THRESHOLD}
"""


# X29 — multimodal resize plan: aspect-fit dimension math stays in JVM
# codegen (never upscale, floor at 1px); only the pixel transform pays
# the Python/Arrow boundary, stubbed deterministically like x14's decode
# (`multimodal.fake_resize`; real backend = `resize_stub`). The oracle
# hashes the byte-COUNT contract of the Arrow stage's real output
# (octet_length(resized) == out_w*out_h), i.e. the plumbing is gated,
# the pixel content is stub territory.

RESIZE_MAX_W, RESIZE_MAX_H = 32, 24


def _x29(spark: SparkSession, sf: str) -> DataFrame:
    blobs = load_table(spark, sf, "documents").select(
        F.col("doc_id").alias("id"),
        F.col("text").cast("binary").alias("blob"),
    )
    dims = blobs.withColumn(
        "width", (F.lit(1) + F.octet_length("blob") % 64).cast("int")
    ).withColumn(
        "height", (F.lit(1) + F.octet_length("blob") % 48).cast("int")
    )
    fit = multimodal.aspect_fit(dims, RESIZE_MAX_W, RESIZE_MAX_H)
    resized = multimodal.fake_resize(fit)
    return resized.select(
        "id", "width", "height", "out_w", "out_h",
        F.octet_length("resized").alias("n_bytes_out"),
    )


_X29_SQL = f"""
WITH d AS (
  SELECT doc_id AS id, octet_length(encode(text)) AS nb FROM documents
), dims AS (
  SELECT id, CAST(1 + nb % 64 AS INT) AS width,
         CAST(1 + nb % 48 AS INT) AS height
  FROM d
), fit AS (
  SELECT id, width, height,
         least({RESIZE_MAX_W}.0 / width, {RESIZE_MAX_H}.0 / height, 1.0) AS s
  FROM dims
)
SELECT id, width, height,
       CAST(greatest(floor(width * s), 1) AS INT) AS out_w,
       CAST(greatest(floor(height * s), 1) AS INT) AS out_h,
       CAST(greatest(floor(width * s), 1) * greatest(floor(height * s), 1)
            AS INT) AS n_bytes_out
FROM fit
"""


# X28 — near-dup GROUPS: the transitive closure of x26's pair emissions.
# Pairs alone don't dedup a corpus — (a,b) and (b,c) must collapse to ONE
# kept document — so x28 runs connected components over the LSH pair
# graph and labels every involved vector with its group's minimum id
# (`is_canonical` marks the kept row). Spark side: pointer-jumping
# min-label propagation, O(log diameter) rounds of keyed shuffles
# (operators/graph.py); oracle: recursive-CTE reachability closure over
# the identical pair set.


def _x28(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import graph

    # consumes the family's shared materialized pair table (see _emb_pairs):
    # group closure starts from the SAME pair set x26 reports, by
    # construction — and CC's iterations re-scan a parquet table instead of
    # re-running the banded self-join per lineage truncation
    return graph.connected_components(_emb_pairs(spark, sf), "vec_a", "vec_b")


def _x28_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS MATERIALIZED (
{_x26_sql()}
), edges AS MATERIALIZED (
  SELECT vec_a AS src, vec_b AS dst FROM pairs
  UNION ALL
  SELECT vec_b, vec_a FROM pairs
), nodes AS (
  SELECT DISTINCT src AS id FROM edges
), r(node, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.node
), cc AS (
  SELECT node AS node_id, MIN(label) AS group_id FROM r GROUP BY 1
)
SELECT node_id, group_id,
       COUNT(*) OVER (PARTITION BY group_id) AS group_size,
       node_id = group_id AS is_canonical
FROM cc
"""



# X30 — within-document repetition score (Gopher-style quality gate)

REP_K = 2
REP_THRESHOLD = 0.10


def _x30(spark: SparkSession, sf: str) -> DataFrame:
    return textops.repetition_stats(
        load_table(spark, sf, "documents"), REP_K, REP_THRESHOLD
    )


def _x30_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
s AS (SELECT doc_id, {_shingles_sql(REP_K)} AS shingles FROM t)
SELECT doc_id,
       len(shingles) AS n_shingles,
       len(list_distinct(shingles)) AS n_distinct,
       (len(shingles) - len(list_distinct(shingles))) / len(shingles) AS dup_ratio,
       (len(shingles) - len(list_distinct(shingles))) / len(shingles)
         > {REP_THRESHOLD} AS is_repetitive
FROM s
"""


# X31 — benchmark decontamination (broadcast shingle semi-join)

BENCH_MOD = 97


def _x31(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.contamination_hits(
        load_table(spark, sf, "documents"), BENCH_MOD, JACCARD_K
    )


def _x31_sql() -> str:
    return f"""
WITH t AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
s AS (SELECT doc_id, list_distinct({_shingles_sql(JACCARD_K)}) AS shingles FROM t),
post AS (
  SELECT doc_id AS id, len(shingles) AS n_shingles,
         unnest(shingles) AS shingle
  FROM s
),
bench AS (SELECT DISTINCT shingle FROM post WHERE id % {BENCH_MOD} = 0)
SELECT p.id AS doc_id, COUNT(*) AS n_hits, p.n_shingles,
       COUNT(*) / p.n_shingles AS contamination_ratio
FROM post p JOIN bench b USING (shingle)
WHERE p.id % {BENCH_MOD} != 0
GROUP BY p.id, p.n_shingles
"""


# X32 — Gopher-rule quality gate (Rae et al. 2021, App. A1.1): the
# published MassiveText rule set as per-document metrics + verdict.
# Thresholds come from operators/textops.py so Spark and oracle cannot
# drift.


def _x32(spark: SparkSession, sf: str) -> DataFrame:
    return textops.gopher_quality(load_table(spark, sf, "documents"))


def _x32_sql() -> str:
    g = textops
    stop_terms = " + ".join(
        f"CAST(list_contains(lt, '{w}') AS INT)" for w in g.GOPHER_REQUIRED_STOPWORDS
    )
    return rf"""
WITH base AS (
  SELECT doc_id, text, {_TOKS_RAW} AS toks,
         list_filter(list_transform(string_split(text, chr(10)), x -> ltrim(x)),
                     x -> x != '') AS lines
  FROM documents
), counted AS (
  SELECT doc_id,
         len(toks) AS n_words,
         list_sum(list_transform(toks, x -> length(x))) AS sum_wlen,
         (length(text) - length(replace(text, '#', '')))
           + (length(text) - length(replace(text, '...', ''))) / 3 AS n_symbols,
         len(lines) AS n_lines,
         len(list_filter(lines, l -> substr(l, 1, 1) IN ('-', '*', '•'))) AS n_bullet,
         len(list_filter(lines, l -> ends_with(rtrim(l), '...')
                                       OR ends_with(rtrim(l), '…'))) AS n_ellipsis,
         len(list_filter(toks, w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
         (SELECT {stop_terms}
          FROM (SELECT list_transform(toks, x -> lower(x)) AS lt)) AS n_req_stop
  FROM base
), ratios AS (
  SELECT doc_id, n_words,
         CASE WHEN n_words > 0 THEN sum_wlen / n_words ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_words > 0 THEN n_symbols / n_words ELSE 0.0 END AS symbol_ratio,
         CASE WHEN n_lines > 0 THEN n_bullet / n_lines ELSE 0.0 END AS bullet_line_ratio,
         CASE WHEN n_lines > 0 THEN n_ellipsis / n_lines ELSE 0.0 END AS ellipsis_line_ratio,
         CASE WHEN n_words > 0 THEN n_alpha / n_words ELSE 0.0 END AS alpha_word_ratio,
         n_req_stop
  FROM counted
)
SELECT *,
       (n_words BETWEEN {g.GOPHER_MIN_WORDS} AND {g.GOPHER_MAX_WORDS})
       AND (mean_word_len BETWEEN {g.GOPHER_MIN_MEAN_WLEN} AND {g.GOPHER_MAX_MEAN_WLEN})
       AND symbol_ratio < {g.GOPHER_MAX_SYMBOL_RATIO}
       AND bullet_line_ratio < {g.GOPHER_MAX_BULLET_RATIO}
       AND ellipsis_line_ratio < {g.GOPHER_MAX_ELLIPSIS_RATIO}
       AND alpha_word_ratio > {g.GOPHER_MIN_ALPHA_RATIO}
       AND n_req_stop >= {g.GOPHER_MIN_REQ_STOP} AS passes
FROM ratios
"""


# X33 — the full near-dup dedup pipeline: x11's candidate pairs → x28's
# component labeling → keep/drop verdict for EVERY corpus document.
# Oracle: recursive-CTE closure over the identical pair set, left-joined
# onto the corpus.


def _x33(spark: SparkSession, sf: str) -> DataFrame:
    # consumes x11's shared materialized pair table (_mh_pairs): the pair
    # report and the survivor verdict derive from ONE banded self-join
    return dedup.dedup_survivors(
        load_table(spark, sf, "documents"),
        n_perm=MINHASH_PERMS,
        bands=MINHASH_PERMS,
        pairs=_mh_pairs(spark, sf),
    )


def _x33_sql() -> str:
    return f"""
WITH RECURSIVE cand AS MATERIALIZED (
{_lsh_sql()}
), edges AS MATERIALIZED (
  SELECT doc_a AS src, doc_b AS dst FROM cand
  UNION ALL
  SELECT doc_b, doc_a FROM cand
), nodes AS (
  SELECT DISTINCT src AS id FROM edges
), r(node, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT e.dst, r.label FROM r JOIN edges e ON e.src = r.node
), cc AS (
  SELECT node AS node_id, MIN(label) AS group_id FROM r GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(cc.group_id, d.doc_id) AS group_id,
       d.doc_id = COALESCE(cc.group_id, d.doc_id) AS kept
FROM documents d LEFT JOIN cc ON cc.node_id = d.doc_id
"""


# X34 — domain-mixture sampling toward target per-source weights.
# Weight table (part of the query contract) exercises a non-uniform
# mixture over the uniform synthetic sources.

MIX_WEIGHTS = {f"src{i}": float(i % 4 + 1) for i in range(20)}


def _x34(spark: SparkSession, sf: str) -> DataFrame:
    return sampling.mixture_sample(load_table(spark, sf, "documents"), MIX_WEIGHTS)


def _x34_sql() -> str:
    values = ", ".join(f"('{s}', {w})" for s, w in sorted(MIX_WEIGHTS.items()))
    scale = f"{1 << 60}.0"
    keep_hash = sampling.mixture_hash_sql("d.doc_id")
    return f"""
WITH w AS (SELECT * FROM (VALUES {values}) AS t(source, wt)),
c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
j AS (SELECT c.source, c.n, w.wt FROM c JOIN w USING (source)),
t AS (SELECT MIN(n / wt) AS t FROM j),
r AS (SELECT source, least(1.0, (wt * t.t) / n) AS rate FROM j, t)
SELECT d.doc_id, d.source
FROM documents d JOIN r USING (source)
WHERE {keep_hash} < CAST(floor(rate * {scale}) AS BIGINT)
"""


# ---------------------------------------------------------------------------
# X35 — k-means clustering (Lloyd's) over the embedding corpus.
# The coarse-quantizer / SemDeDup primitive: deterministic lowest-id
# seeding, KMEANS_ITER fixed assignment/update rounds, final (vec_id,
# cluster, dist) assignment. Assignment is a zero-shuffle codegen
# expression (centroids are broadcast literals); the update is one
# groupBy with map-side partial aggs. The oracle unrolls the same
# iterations as a CTE chain; every centroid component is snapped to the
# 1e-6 grid with pure IEEE ops so both engines iterate on identical
# doubles (see operators/clustering.py docstring).

KMEANS_K = 8
KMEANS_ITER = 3

# Lloyd training collects k×d doubles through the driver over n_iter jobs;
# x35 and x39 train the IDENTICAL model, so one catalog run pays it once
# (same per-process precedent as the s05 changelog staging). Fresh
# process per round ⇒ the model can never span a fixture regeneration.
@shared_artifact("centroids", model=True)
def _trained_centroids(spark: SparkSession, sf: str) -> dict[int, list[float]]:
    emb = load_table(spark, sf, "embeddings")
    return clustering.kmeans_centroids(
        emb, k=KMEANS_K, n_iter=KMEANS_ITER, dim=EMB_DIM
    )


def _x35(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return clustering.assign_labeled(emb, _trained_centroids(spark, sf))


def _kmeans_dist_sql(vec: str, cv: str) -> str:
    """Squared-euclid distance, fixed element order — mirrors the Spark
    zip_with/aggregate left fold bit-for-bit (same argument as _COS)."""
    d = f"(CAST({vec}[i] AS DOUBLE) - {cv}[i])"
    return (
        f"list_sum(list_transform(generate_series(1, {EMB_DIM}), "
        f"i -> {d} * {d}))"
    )


def _kmeans_ctes() -> str:
    """The shared c0→a0→c1→…→c{ITER} Lloyd's CTE chain (x35 and x39)."""
    snap_seed = clustering.snap6_sql("CAST(x AS DOUBLE)")
    parts = [
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         list_transform(embedding, x -> {snap_seed}) AS cv
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K})
)"""
    ]
    for t in range(KMEANS_ITER):
        dist = _kmeans_dist_sql("e.embedding", "c.cv")
        parts.append(
            f"""a{t} AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cid AS cluster, {dist} AS dist
    FROM embeddings e CROSS JOIN c{t} c
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
)"""
        )
        cm = clustering.snap6_sql("avg(CAST(a.embedding[t.i] AS DOUBLE))")
        parts.append(
            f"""c{t + 1} AS (
  SELECT cid, list(cm ORDER BY i) AS cv FROM (
    SELECT a.cluster AS cid, t.i, {cm} AS cm
    FROM a{t} a CROSS JOIN range(1, {EMB_DIM + 1}) t(i)
    GROUP BY 1, 2
  ) GROUP BY 1
)"""
    )
    return ",\n".join(parts)


def _x35_sql() -> str:
    dist = _kmeans_dist_sql("e.embedding", "c.cv")
    return f"""
WITH {_kmeans_ctes()}
SELECT vec_id, cluster, dist FROM (
  SELECT e.vec_id, c.cid AS cluster, {dist} AS dist
  FROM embeddings e CROSS JOIN c{KMEANS_ITER} c
) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
"""


# ---------------------------------------------------------------------------
# X36 — sequence packing (concat-and-chunk): every document's location in
# fixed-512-token training sequences, sharded into 16 independent packing
# buckets (one exchange + per-bucket running sum; see operators/packing.py).

PACK_BUDGET = 512
PACK_BUCKETS = 16


def _x36(spark: SparkSession, sf: str) -> DataFrame:
    return packing.pack_sequences(
        load_table(spark, sf, "documents"), budget=PACK_BUDGET, n_buckets=PACK_BUCKETS
    )


# ---------------------------------------------------------------------------
# X37 — temporal train/heldout split with user-group integrity: earliest
# TSPLIT_FRAC of users (by first event time) train, the rest heldout.
# The rank window runs over |users| anchors, not |events| (see
# sampling.temporal_split; temporal_split_approx is the >10M-group arm).

TSPLIT_FRAC = 0.8


def _x37(spark: SparkSession, sf: str) -> DataFrame:
    return sampling.temporal_split(load_table(spark, sf, "events"), TSPLIT_FRAC)


_X37_SQL = f"""
WITH a AS (
  SELECT user_id, min(ts) AS anchor FROM events GROUP BY 1
), r AS (
  SELECT user_id, anchor,
         row_number() OVER (ORDER BY anchor, user_id) AS rn,
         count(*) OVER () AS n
  FROM a
)
SELECT user_id, anchor,
       CASE WHEN rn <= floor({TSPLIT_FRAC} * n) THEN 'train'
            ELSE 'heldout' END AS split
FROM r
"""


# ---------------------------------------------------------------------------
# X38 — overlapping token-window chunking (embedding/RAG prep): window of
# CHUNK_TOKENS advancing by CHUNK_STRIDE; single narrow scan-shaped pass.

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def _x38(spark: SparkSession, sf: str) -> DataFrame:
    return textops.chunk_documents(
        load_table(spark, sf, "documents"), CHUNK_TOKENS, CHUNK_STRIDE
    )


_X38_SQL = rf"""
WITH t AS (
  SELECT doc_id, {_TOKS_RAW} AS toks FROM documents
), s AS (
  SELECT doc_id, toks, len(toks) AS n,
         unnest(range(0, len(toks), {CHUNK_STRIDE})) AS tok_start
  FROM t
)
SELECT doc_id,
       CAST(tok_start // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(tok_start AS BIGINT) AS tok_start,
       CAST(least({CHUNK_TOKENS}, n - tok_start) AS BIGINT) AS n_chunk_tokens,
       array_to_string(toks[tok_start + 1 : tok_start + {CHUNK_TOKENS}], ' ')
         AS chunk_text
FROM s
"""


# ---------------------------------------------------------------------------
# X39 — SemDeDup: exact cosine near-dup pairs generated only within a
# k-means cluster — the cluster-bounded scale path beside x26's banded
# LSH. Pairs = equi-join on cluster id, Σ|cluster|² not n²; scoring is
# normalize-once + one dot (same contract as x10/x26 re-scoring).
# Since round 8 the clustering model is the SAMPLED-training one
# (hash32(vec_id) % KMEANS_SAMPLE_MOD, the x62 lever): Lloyd scans the
# sample per iteration instead of the full corpus — at 100 TB that was
# the catalog's last full-corpus-per-iteration scan (VERDICT r7 item 3).
# Cluster boundaries differ slightly from full-corpus training, which is
# fine for SemDeDup (clusters only bound the candidate pairs; scoring is
# exact) — and the DuckDB oracle replays the SAME sampled training, so
# the bit-level gate still covers the whole path. x39 and x62 share one
# trained model per process.

SEMDEDUP_THRESHOLD = EMB_DUP_THRESHOLD
# r9: per-cluster occupancy cap (salted-hash order) — fixed-k clustering
# means cluster size grows with the corpus, and the uncapped within-
# cluster pair join measured 42x runtime at the 10x probe. Never binds
# at fixture cluster sizes (<= 266 at sf0.1).
SEMDEDUP_CLUSTER_CAP = 512


def _x39(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    cents = _sampled_centroids(spark, sf)
    return similarity.semantic_near_dup_pairs(
        emb, cents, SEMDEDUP_THRESHOLD, cluster_cap=SEMDEDUP_CLUSTER_CAP
    )


_NORM_SQ = (
    "list_sum(list_transform(embedding, "
    "y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))"
)


def _x39_sql() -> str:
    dist = _kmeans_dist_sql("e.embedding", "c.cv")
    return f"""
WITH {_kmeans_ctes_sampled()},
asg AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cid AS cluster, {dist} AS dist
    FROM embeddings e CROSS JOIN c{KMEANS_ITER} c
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
),
n AS (
  SELECT vec_id, cluster,
         list_transform(embedding,
           x -> CAST(x AS DOUBLE) / sqrt({_NORM_SQ})) AS nv
  FROM asg
  WHERE {_NORM_SQ} > 0
  QUALIFY row_number() OVER (PARTITION BY cluster
      ORDER BY {hash60_sql("'sem|' || CAST(vec_id AS VARCHAR)")}, vec_id)
      <= {SEMDEDUP_CLUSTER_CAP}
)
SELECT cluster, vec_a, vec_b, score FROM (
  SELECT a.cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
         list_sum(list_transform(generate_series(1, len(a.nv)),
             i -> a.nv[i] * b.nv[i])) AS score
  FROM n a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
) WHERE score >= {SEMDEDUP_THRESHOLD}
"""


# ---------------------------------------------------------------------------
# X40 — the full training-prep pipeline, fused: clean (lang+quality+dedup
# survivor) → hash split (same salt as x19, so assignments agree) → pack
# the train split into sequences. TWO exchanges end-to-end (fingerprint
# window + packing window); the deliverable layout a dataloader consumes.

TRAIN_PCT = 80


def _x40(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators.pipeline import training_layout

    return training_layout(
        load_table(spark, sf, "documents"),
        CLEAN_MIN_QUALITY,
        CLEAN_LANGS,
        TRAIN_PCT,
        budget=PACK_BUDGET,
        n_buckets=PACK_BUCKETS,
    )


def _x40_sql() -> str:
    from kafka_streams_learning_spark.operators.sampling import (
        hash_split_bucket_sql,
    )

    langs_in = ", ".join(f"'{lang}'" for lang in CLEAN_LANGS)
    return f"""
WITH stats AS ({_X01_SQL}),
lang AS ({_lang_sql()}),
keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5({_NORM})),
surv AS (
  SELECT d.doc_id, d.text, lang.lang_guess, stats.quality
  FROM documents d
  JOIN keep USING (doc_id)
  JOIN lang ON lang.doc_id = d.doc_id
  JOIN stats ON stats.doc_id = d.doc_id
  WHERE lang.lang_guess IN ({langs_in}) AND stats.quality >= {CLEAN_MIN_QUALITY}
    AND {hash_split_bucket_sql('d.doc_id')} < {TRAIN_PCT}
),
p AS ({packing.pack_sql(PACK_BUDGET, PACK_BUCKETS, table="surv")})
SELECT p.doc_id, s.lang_guess, s.quality, p.bucket, p.tok_start,
       p.n_tokens, p.seq_first, p.seq_last, p.n_seqs
FROM p JOIN surv s USING (doc_id)
"""


# ---------------------------------------------------------------------------
# X41 — frequency-ranked vocabulary with cumulative corpus coverage: the
# pre-tokenizer diagnostic. Global window over |vocab| rows, never corpus
# rows; WindowGroupLimit prunes map-side at the literal rank cap.

VOCAB_SIZE = 200


def _x41(spark: SparkSession, sf: str) -> DataFrame:
    return textops.vocab_coverage(load_table(spark, sf, "documents"), VOCAB_SIZE)


_X41_SQL = rf"""
WITH toks AS (
  SELECT unnest({_TOKS_NORM}) AS token FROM documents
), c AS (
  SELECT token, COUNT(*) AS cnt FROM toks GROUP BY 1
), r AS (
  SELECT token, cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, token) AS INT) AS rank,
         CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_cnt,
         CAST(SUM(cnt) OVER () AS BIGINT) AS total
  FROM c
)
SELECT token, cnt, rank, cum_cnt / CAST(total AS DOUBLE) AS coverage
FROM r WHERE rank <= {VOCAB_SIZE}
"""


# ---------------------------------------------------------------------------
# X42 — cross-source duplication matrix: the near-dup pair graph rolled
# up by provenance (mirror/leakage detection between corpus components).
# Pair generation is x11's bucket-bounded LSH; the rollup is two
# equi-joins against a 2-column projection + a |sources|² aggregate.


def _x42(spark: SparkSession, sf: str) -> DataFrame:
    # consumes x11's shared materialized pair table (_mh_pairs)
    return dedup.cross_source_dup_matrix(
        load_table(spark, sf, "documents"),
        n_perm=MINHASH_PERMS,
        bands=MINHASH_PERMS,
        pairs=_mh_pairs(spark, sf),
    )


def _x42_sql() -> str:
    return f"""
WITH pairs AS ({_lsh_sql()}),
j AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM pairs
  JOIN documents da ON pairs.doc_a = da.doc_id
  JOIN documents db ON pairs.doc_b = db.doc_id
)
SELECT source_a, source_b, COUNT(*) AS n_pairs
FROM j GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# X43 — CCNet-style unigram log-prob quality score: fit a top-V unigram
# LM on the corpus, score each document by mean token log-probability.
# Fixed-point (1e-6) logprobs make the per-doc score an exact integer
# sum — engine-portable regardless of aggregation order.

LM_VOCAB_SIZE = 20  # < the fixture's 31 distinct tokens, so UNK is real


def _x43(spark: SparkSession, sf: str) -> DataFrame:
    return textops.unigram_logprob(load_table(spark, sf, "documents"), LM_VOCAB_SIZE)


_X43_SQL = rf"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_NORM}) AS token FROM documents
), c AS (
  SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1
), v AS (
  SELECT token, cnt FROM (
    SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank FROM c
  ) WHERE rank <= {LM_VOCAB_SIZE}
), s AS (
  SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM c) AS n_total,
         (SELECT CAST(SUM(cnt) AS BIGINT) FROM v) AS n_vocab
), vq AS (
  SELECT token,
         CAST(floor(ln(cnt / CAST(n_total + 1 AS DOUBLE)) * 1000000.0 + 0.5)
              AS BIGINT) AS q
  FROM v, s
), uq AS (
  SELECT CAST(floor(ln((n_total - n_vocab + 1) / CAST(n_total + 1 AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS unk_q
  FROM s
), d AS (
  SELECT tok.doc_id,
         COUNT(*) AS n_tokens,
         COUNT(*) FILTER (vq.q IS NULL) AS n_unk,
         CAST(SUM(COALESCE(vq.q, uq.unk_q)) AS BIGINT) AS logprob_q_sum
  FROM tok LEFT JOIN vq USING (token), uq
  GROUP BY 1
)
SELECT doc_id, n_tokens, n_unk, logprob_q_sum,
       CAST(logprob_q_sum AS DOUBLE) / (1000000.0 * n_tokens) AS avg_logprob
FROM d
"""


# ---------------------------------------------------------------------------
# X44 — ExactSubstr-flavored duplicated-span stats: per document, the
# share of k-token windows that also occur in ANOTHER document, plus the
# longest contiguous run of such windows (= longest shared substring of
# length ≥ k, in windows).

DUP_SPAN_THRESHOLD = 0.5


def _x44(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.dup_span_stats(
        load_table(spark, sf, "documents"), k=JACCARD_K, threshold=DUP_SPAN_THRESHOLD
    )


_X44_SQL = rf"""
WITH t AS (
  SELECT doc_id, {_TOKS_NORM} AS toks FROM documents
), w AS (
  SELECT doc_id,
         unnest(generate_series(1, len(sh))) AS pos,
         unnest(sh) AS sh
  FROM (SELECT doc_id, {_SHINGLES} AS sh FROM t)
), shared AS (
  SELECT sh FROM (SELECT sh, doc_id FROM w GROUP BY 1, 2)
  GROUP BY sh HAVING COUNT(*) >= 2
), flagged AS (
  SELECT w.doc_id, w.pos, shared.sh IS NOT NULL AS dup
  FROM w LEFT JOIN shared ON w.sh = shared.sh
), runs AS (
  SELECT doc_id, MAX(run_len) AS longest_dup_run FROM (
    SELECT doc_id, island, COUNT(*) AS run_len FROM (
      SELECT doc_id, pos,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM flagged WHERE dup
    ) GROUP BY 1, 2
  ) GROUP BY 1
), stats AS (
  SELECT doc_id, COUNT(*) AS n_windows,
         CAST(SUM(CAST(dup AS BIGINT)) AS BIGINT) AS n_dup_windows
  FROM flagged GROUP BY 1
)
SELECT stats.doc_id, n_windows, n_dup_windows,
       n_dup_windows / CAST(n_windows AS DOUBLE) AS dup_ratio,
       COALESCE(longest_dup_run, 0) AS longest_dup_run,
       n_dup_windows / CAST(n_windows AS DOUBLE) >= {DUP_SPAN_THRESHOLD}
         AS is_dup_heavy
FROM stats LEFT JOIN runs ON stats.doc_id = runs.doc_id
"""


# ---------------------------------------------------------------------------
# X45 — the CCNet corpus partition: tercile cuts over the x43 unigram-LM
# score label every document head / middle / tail (head = kept slice).
# Exact `percentile` is measured bit-portable vs DuckDB quantile_cont
# (x24); scores are exact integer sums, so labels replay exactly.


# the scored/bucketed table is shared per (process, sf) like the Lloyd
# centroids: x45 and x47 both consume it, and without sharing each
# consumer re-trains the unigram LM and re-scores the whole corpus. The
# artifact is the PATH of a private staging write (never a reclaimable
# tag generation), so later direct ccnet_buckets calls can't invalidate it.
@shared_artifact("ccnet_buckets")
def _ccnet_buckets_dir(spark: SparkSession, sf: str) -> str:
    from kafka_streams_learning_spark.sources.replay import run_staging_dir

    path = run_staging_dir("x45-buckets")
    textops.ccnet_buckets(
        load_table(spark, sf, "documents"), LM_VOCAB_SIZE
    ).write.mode("overwrite").parquet(path)
    return path


def _ccnet_buckets_shared(spark: SparkSession, sf: str) -> DataFrame:
    return spark.read.parquet(_ccnet_buckets_dir(spark, sf))


def _x45(spark: SparkSession, sf: str) -> DataFrame:
    return _ccnet_buckets_shared(spark, sf)


_X45_SQL = rf"""
WITH scored AS ({_X43_SQL}),
cuts AS (
  SELECT quantile_cont(avg_logprob, 1.0/3.0) AS c1,
         quantile_cont(avg_logprob, 2.0/3.0) AS c2
  FROM scored
)
SELECT doc_id, avg_logprob,
       CASE WHEN avg_logprob >= c2 THEN 'head'
            WHEN avg_logprob >= c1 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM scored, cuts
"""


# ---------------------------------------------------------------------------
# X46 — BPE merge candidates: top-k adjacent token-pair frequencies
# (first merge iteration of Sennrich et al. 2016). Pairs are the k=2
# word shingles, so Spark and oracle share the one shingle contract.

PAIR_TOPK = 30


def _x46(spark: SparkSession, sf: str) -> DataFrame:
    return textops.bpe_pair_counts(load_table(spark, sf, "documents"), PAIR_TOPK)


_X46_SQL = rf"""
WITH t AS (
  SELECT {_TOKS_NORM} AS toks FROM documents
), p AS (
  SELECT unnest({_shingles_sql(2)}) AS pair FROM t
)
SELECT pair, COUNT(*) AS cnt FROM p WHERE contains(pair, ' ')
GROUP BY 1 ORDER BY cnt DESC, pair LIMIT {PAIR_TOPK}
"""


# ---------------------------------------------------------------------------
# X47 — quality-weighted sampling: keep-probability per CCNet bucket
# (head 1.0 / middle 0.5 / tail 0.125 — exact binary fractions so the
# integer hash threshold is identical in both engines).

QUALITY_RATES = {"head": 1.0, "middle": 0.5, "tail": 0.125}


def _x47(spark: SparkSession, sf: str) -> DataFrame:
    return sampling.quality_weighted_sample(
        _ccnet_buckets_shared(spark, sf), QUALITY_RATES
    )


def _x47_sql() -> str:
    values = ", ".join(f"('{b}', {r})" for b, r in sorted(QUALITY_RATES.items()))
    scale = f"{1 << 60}.0"
    keep_hash = sampling.quality_hash_sql("s.doc_id")
    return f"""
WITH scored AS ({_X45_SQL}),
r AS (SELECT * FROM (VALUES {values}) AS t(bucket, rate))
SELECT s.doc_id, s.bucket
FROM scored s JOIN r USING (bucket)
WHERE {keep_hash} < CAST(floor(rate * {scale}) AS BIGINT)
"""


# ---------------------------------------------------------------------------
# X48 — winnowing containment candidates: pairs sharing ≥ MIN_SHARED
# bottom-k rolling-hash window fingerprints, with boilerplate
# fingerprints (df > n_docs/20) discarded before pairing. Reuses x17's
# sketch expression on both sides.

CONTAIN_MIN_SHARED = 2
CONTAIN_DF_DENOM = 20
CONTAIN_DF_ABS = 64


def _x48(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.containment_candidates(
        load_table(spark, sf, "documents"),
        min_shared=CONTAIN_MIN_SHARED,
        max_df_denom=CONTAIN_DF_DENOM,
        max_df_abs=CONTAIN_DF_ABS,
    )


_X48_SQL = f"""
WITH sk AS (
  SELECT doc_id, {_ROLLING_SKETCH_LIST} AS fp_sketch FROM documents
), post AS (
  SELECT doc_id AS id, unnest(fp_sketch) AS h FROM sk
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), rare AS (
  SELECT h FROM post, n GROUP BY h, n_docs
  HAVING COUNT(*) * {CONTAIN_DF_DENOM} <= n_docs
     AND COUNT(*) <= {CONTAIN_DF_ABS}
), p AS (
  SELECT post.id, post.h FROM post JOIN rare USING (h)
)
SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS n_shared
FROM p a JOIN p b ON a.h = b.h AND a.id < b.id
GROUP BY 1, 2 HAVING COUNT(*) >= {CONTAIN_MIN_SHARED}
"""


# ---------------------------------------------------------------------------
# X49 — BM25 top-k retrieval: the decontamination-by-retrieval probe.
# Fixed query set over the corpus vocabulary; idf quantized round(ln,9)
# (the x21 contract) and per-(doc,term) contributions snapped to the
# 1e-6 fixed-point grid before the per-query INTEGER sum (the x43
# contract), so ranking replays bit-for-bit in both engines.

BM25_QUERIES = [
    ("q1", "stream join window"),
    ("q2", "fast hash scan"),
    ("q3", "customer query sort"),
]
BM25_TOPK = 10
BM25_K1 = 1.2
BM25_B = 0.75


def _x49(spark: SparkSession, sf: str) -> DataFrame:
    return textops.bm25_topk(
        load_table(spark, sf, "documents"),
        BM25_QUERIES,
        BM25_TOPK,
        k1=BM25_K1,
        b=BM25_B,
    )


def _x49_sql() -> str:
    from kafka_streams_learning_spark.operators.textops import (
        LOGPROB_SCALE,
        bm25_query_terms,
    )

    # same normalization pipeline as bm25_topk (shared helper), and quote
    # ids/terms SQL-safely — a term containing ' must not corrupt the
    # generated oracle
    q_rows = bm25_query_terms(BM25_QUERIES)
    esc = lambda s: s.replace("'", "''")  # noqa: E731
    q_values = ", ".join(f"('{esc(qid)}', '{esc(t)}')" for qid, t in q_rows)
    terms = ", ".join(f"'{esc(t)}'" for t in sorted({t for _, t in q_rows}))
    scale = f"{float(LOGPROB_SCALE)!r}"
    k1, b, k1p1 = f"{BM25_K1!r}", f"{BM25_B!r}", f"{BM25_K1 + 1.0!r}"
    return rf"""
WITH base AS (
  SELECT doc_id, {_TOKS_NORM} AS toks FROM documents
), d AS (
  SELECT doc_id, len(toks) AS dl,
         list_filter(toks, t -> list_contains([{terms}], t)) AS qtoks
  FROM base
), stats AS (
  SELECT COUNT(*) AS n_docs, SUM(dl) AS dl_sum FROM d
), tfc AS (
  SELECT doc_id, dl, term, COUNT(*) AS tf
  FROM (SELECT doc_id, dl, unnest(qtoks) AS term FROM d) GROUP BY 1, 2, 3
), dfreq AS (
  SELECT term, COUNT(*) AS dfreq FROM tfc GROUP BY 1
), q(qid, term) AS (VALUES {q_values}),
contrib AS (
  SELECT qid, doc_id,
    CAST(floor(
      round(ln((n_docs - dfreq + 0.5) / (dfreq + 0.5) + 1.0), 9)
        * (tf * {k1p1})
        / (tf + {k1} * (1.0 - {b} + {b} * dl / (CAST(dl_sum AS DOUBLE) / n_docs)))
        * {scale} + 0.5) AS BIGINT) AS cq
  FROM tfc JOIN dfreq USING (term) JOIN q USING (term), stats
), sc AS (
  SELECT qid, doc_id, SUM(cq) AS score_q FROM contrib GROUP BY 1, 2
)
SELECT qid, doc_id, rank, CAST(score_q AS DOUBLE) / {scale} AS score FROM (
  SELECT qid, doc_id, score_q,
         CAST(row_number() OVER (
             PARTITION BY qid ORDER BY score_q DESC, doc_id) AS INT) AS rank
  FROM sc
) WHERE rank <= {BM25_TOPK}
"""


# ---------------------------------------------------------------------------
# X50 — Johnson-Lindenstrauss projection: compress the embedding corpus
# to JL_OUT_DIM dims with a deterministic ±1 Rademacher matrix before
# similarity search. Components snap to the 1e-6 grid and ship as a
# comma-joined integer string (no float formatting in the hash).

JL_OUT_DIM = 16


def _x50(spark: SparkSession, sf: str) -> DataFrame:
    return similarity.jl_project(
        load_table(spark, sf, "embeddings"), JL_OUT_DIM, EMB_DIM
    )


def _jl_comp_sql(c: int) -> str:
    """One grid-snapped JL component as DuckDB SQL (BIGINT). The dot is
    an UNROLLED left-associated sum, not a list lambda: identical IEEE
    result to Spark's sequential `F.aggregate` fold (0.0 + t1 == t1 for
    every non-negative-zero t1, and the corpus can't produce an all
    -0.0 term list), and ~10x faster than DuckDB's per-row lambda
    evaluation — which matters once x52 scores every (query, corpus)
    pair."""
    from kafka_streams_learning_spark.operators.similarity import _rademacher

    inv = f"{1.0 / math.sqrt(JL_OUT_DIM)!r}"
    terms = " + ".join(
        f"CAST(embedding[{j + 1}] AS DOUBLE) * {s!r}"
        for j, s in enumerate(_rademacher(c, EMB_DIM))
    )
    return f"CAST(floor(({terms}) * {inv} * 1000000.0 + 0.5) AS BIGINT)"


def _x50_sql() -> str:
    csv = ",\n    ".join(
        f"CAST({_jl_comp_sql(c)} AS VARCHAR)" for c in range(JL_OUT_DIM)
    )
    return f"""
SELECT vec_id, concat_ws(',',
    {csv}) AS proj_q
FROM embeddings
"""


# ---------------------------------------------------------------------------
# X52 — two-stage ANN over the JL-compressed space: candidates from
# cosine in the 16-dim projection (dim/out_dim cheaper per pair), exact
# full-dim re-rank of the overfetch·k survivors. The dense-compression
# counterpart of x13/x18's bucketed arms. Quality vs the x09 exact
# baseline is test-measured as SCORE-EFFECTIVENESS (returned cosine mass
# / optimal cosine mass ≈ 0.86 at these params): the fixture embeddings
# are near-isotropic (top-5 cosines ~0.30-0.33, margins ~0.004), so
# identity recall is the wrong metric — any compression scrambles
# near-ties, while the returned neighbors remain nearly as close as the
# optimal ones.

JL_OVERFETCH = 8


def _x52(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") % ANN_QUERY_MOD == 0)
    return similarity.jl_topk(
        emb, q, ANN_K, out_dim=JL_OUT_DIM, dim=EMB_DIM, overfetch=JL_OVERFETCH
    )


def _x52_sql() -> str:
    proj = ",\n           ".join(
        f"{_jl_comp_sql(c)} / 1000000.0" for c in range(JL_OUT_DIM)
    )

    def _udot(a: str, b: str) -> str:
        return " + ".join(
            f"{a}[{i + 1}] * {b}[{i + 1}]" for i in range(JL_OUT_DIM)
        )

    pdot = _udot("q.qp", "e.proj")
    self_dot = _udot("proj", "proj")
    return f"""
WITH pc0 AS (
  SELECT vec_id, embedding,
         [{proj}] AS proj
  FROM embeddings
), pc AS (
  SELECT vec_id, embedding, proj, sqrt({self_dot}) AS nrm FROM pc0
), q AS (
  SELECT vec_id AS query_id, embedding AS qv, proj AS qp, nrm AS qn FROM pc
  WHERE vec_id % {ANN_QUERY_MOD} = 0
), cand AS (
  SELECT q.query_id, e.vec_id AS neighbor_id, q.qv, e.embedding,
         CASE WHEN q.qn * e.nrm > 0
              THEN ({pdot}) / (q.qn * e.nrm) END AS pscore
  FROM q JOIN pc e ON e.vec_id != q.query_id
), pruned AS (
  SELECT query_id, neighbor_id, qv, embedding FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY pscore DESC, neighbor_id) AS prank
    FROM cand
  ) WHERE prank <= {JL_OVERFETCH * ANN_K}
), scored AS (
  SELECT query_id, neighbor_id,
         {_COS.replace("q.qv", "qv").replace("e.embedding", "embedding")}
           AS score
  FROM pruned
), ranked AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS INT) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, rank, score FROM ranked WHERE rank <= {ANN_K}
"""


# ---------------------------------------------------------------------------
# X53 — sketch calibration: MinHash-estimated vs exact Jaccard for every
# LSH candidate pair (the n_perm / band-layout tuning table). Both
# ratios are exact small-integer divisions; a hash-collision-induced
# false candidate surfaces with exact 0.0 via the LEFT join.


def _x53(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.sketch_calibration(
        load_table(spark, sf, "documents"), MINHASH_PERMS, JACCARD_K
    )


def _x53_sql() -> str:
    est_terms = " + ".join(
        f"(CASE WHEN x.mh{i} = y.mh{i} THEN 1 ELSE 0 END)"
        for i in range(MINHASH_PERMS)
    )
    ors = " OR ".join(f"x.mh{i} = y.mh{i}" for i in range(MINHASH_PERMS))
    return f"""
WITH sig AS ({_minhash_sql()}),
pairs AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         ({est_terms}) / {float(MINHASH_PERMS)!r} AS est_jaccard
  FROM sig x JOIN sig y ON x.doc_id < y.doc_id AND ({ors})
), t AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
s AS (SELECT doc_id, {_SHINGLES} AS shingles FROM t),
post AS (SELECT DISTINCT doc_id AS id, unnest(shingles) AS shingle FROM s),
sizes AS (SELECT id, COUNT(*) AS n FROM post GROUP BY 1),
inter AS (
  SELECT a.id AS doc_a, b.id AS doc_b, COUNT(*) AS ni
  FROM post a JOIN post b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2
), exact AS (
  SELECT doc_a, doc_b, ni / (sa.n + sb.n - ni) AS exact_jaccard
  FROM inter JOIN sizes sa ON doc_a = sa.id JOIN sizes sb ON doc_b = sb.id
)
SELECT p.doc_a, p.doc_b, p.est_jaccard,
       COALESCE(e.exact_jaccard, 0.0) AS exact_jaccard,
       abs(p.est_jaccard - COALESCE(e.exact_jaccard, 0.0)) AS abs_err
FROM pairs p LEFT JOIN exact e ON p.doc_a = e.doc_a AND p.doc_b = e.doc_b
"""


# ---------------------------------------------------------------------------
# X51 — deterministic per-epoch training-order shuffle: (shard, pos)
# coordinates as a pure function of (doc_id, epoch) — the reproducible
# replacement for orderBy(rand()) when laying out training examples.

EPOCH_NUM = 3
EPOCH_SHARDS = 8


def _x51(spark: SparkSession, sf: str) -> DataFrame:
    return sampling.epoch_shuffle(
        load_table(spark, sf, "documents"), EPOCH_NUM, EPOCH_SHARDS
    )


def _x51_sql() -> str:
    from kafka_streams_learning_spark.operators.sampling import (
        EPOCH_SALT,
        keyed_hash_sql,
    )

    shard_h = keyed_hash_sql("doc_id", f"{EPOCH_SALT}-shard|{EPOCH_NUM}")
    ord_h = keyed_hash_sql("doc_id", f"{EPOCH_SALT}-pos|{EPOCH_NUM}")
    return f"""
WITH h AS (
  SELECT doc_id,
         CAST({shard_h} % {EPOCH_SHARDS} AS INT) AS shard,
         {ord_h} AS ord
  FROM documents
)
SELECT doc_id, shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY ord, doc_id)
            AS BIGINT) AS pos
FROM h
"""


# ---------------------------------------------------------------------------
# X54 — portable HyperLogLog distinct-token cardinality per source, with
# the exact count and relative error as the calibration columns. The
# sketch is pure integer (md5-derived bucket + MAX rho registers), so it
# replays bit-for-bit in the oracle; estimate snapped to the 1e-3 grid.


def _x54(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import sketches

    return sketches.hll_token_cardinality(load_table(spark, sf, "documents"))


def _hll_sql(p: int) -> str:
    """The x54 HLL-calibration oracle at precision p (m = 2^p registers),
    generated from the same constants/alpha the Spark expressions use."""
    from kafka_streams_learning_spark.operators.sketches import (
        HLL_EST_SCALE,
        hll_alpha,
    )

    m = 1 << p
    pow2_32 = 1 << 32
    rho_max = 32 - p + 1
    return rf"""
WITH tok AS (
  SELECT source, unnest({_TOKS_NORM}) AS token FROM documents
), hb AS (
  SELECT source, {hash32_sql('token')} AS h FROM tok
), reg AS (
  SELECT source, h % {m} AS bucket,
         CASE WHEN (h >> {p}) = 0 THEN {rho_max}
              ELSE {rho_max} - length(bin(h >> {p})) END AS rho
  FROM hb
), regs AS (
  SELECT source, bucket, MAX(rho) AS m_b FROM reg GROUP BY 1, 2
), agg AS (
  SELECT source, SUM(CAST(1 AS BIGINT) << (32 - m_b)) AS s_present,
         COUNT(*) AS n_buckets
  FROM regs GROUP BY 1
), e AS (
  SELECT source, ({m} - n_buckets) AS v,
         CAST({hll_alpha(m) * m * m!r} AS DOUBLE) * CAST({float(pow2_32)!r} AS DOUBLE)
           / CAST(s_present + ({m} - n_buckets) * CAST({pow2_32} AS BIGINT) AS DOUBLE)
           AS e_raw
  FROM agg
), fin AS (
  SELECT source,
         CASE WHEN e_raw <= {2.5 * m!r} AND v > 0
              THEN {float(m)!r} * ln({float(m)!r} / CAST(v AS DOUBLE))
              ELSE e_raw END AS es
  FROM e
), ex AS (
  SELECT source, COUNT(DISTINCT token) AS n_exact FROM tok GROUP BY 1
), q AS (
  SELECT f.source, n_exact,
         floor(es * {float(HLL_EST_SCALE)!r} + 0.5) / {float(HLL_EST_SCALE)!r}
           AS hll_estimate
  FROM fin f JOIN ex USING (source)
)
SELECT source, n_exact, hll_estimate,
       floor((hll_estimate - n_exact) / n_exact * 1000000.0 + 0.5) / 1000000.0
         AS rel_err
FROM q
"""


def _x54_sql() -> str:
    from kafka_streams_learning_spark.operators.sketches import HLL_P

    return _hll_sql(HLL_P)


# ---------------------------------------------------------------------------
# X55 — Zipf rank-frequency slope per language: OLS of ln(count) on
# ln(rank) over the per-lang token frequency table, all moments as exact
# fixed-point integer sums (ZIPF_SCALE grid), slope/intercept snapped to
# 1e-6 — the distribution-shift alarm for a corpus slice.


def _x55(spark: SparkSession, sf: str) -> DataFrame:
    return textops.zipf_slope(load_table(spark, sf, "documents"))


def _x55_sql() -> str:
    from kafka_streams_learning_spark.operators.textops import (
        ZIPF_OUT_SCALE,
        ZIPF_SCALE,
    )

    zs, os_ = f"{float(ZIPF_SCALE)!r}", f"{float(ZIPF_OUT_SCALE)!r}"
    return rf"""
WITH tok AS (
  SELECT lang, unnest({_TOKS_NORM}) AS token FROM documents
), c AS (
  SELECT lang, token, COUNT(*) AS cnt FROM tok GROUP BY 1, 2
), r AS (
  SELECT lang, cnt,
         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) AS rank
  FROM c
), q AS (
  SELECT lang,
         CAST(floor(ln(CAST(rank AS DOUBLE)) * {zs} + 0.5) AS BIGINT) AS xq,
         CAST(floor(ln(CAST(cnt AS DOUBLE)) * {zs} + 0.5) AS BIGINT) AS yq
  FROM r
), m AS (
  SELECT lang, COUNT(*) AS n_types,
         SUM(xq) AS sx, SUM(yq) AS sy,
         SUM(xq * yq) AS sxy, SUM(xq * xq) AS sxx
  FROM q GROUP BY 1
), s AS (
  SELECT lang, n_types, sx, sy,
         CASE WHEN n_types * sxx - sx * sx != 0 THEN
           floor(CAST(n_types * sxy - sx * sy AS DOUBLE)
                 / CAST(n_types * sxx - sx * sx AS DOUBLE) * {os_} + 0.5) / {os_}
         END AS slope
  FROM m
)
SELECT lang, n_types, slope,
       floor((CAST(sy AS DOUBLE) / {zs} - (slope * CAST(sx AS DOUBLE)) / {zs})
             / n_types * {os_} + 0.5) / {os_} AS intercept
FROM s
"""


# ---------------------------------------------------------------------------
# X56 — DSIR importance weights: per-document log-likelihood ratio
# between the target slice's unigram LM (lang = DSIR_TARGET_LANG) and the
# full-corpus LM, both on the x43 fixed-point contract — the importance-
# resampling score that shifts a pretraining mixture toward a target
# domain (Xie et al. 2023).

DSIR_TARGET_LANG = "en"


def _x56(spark: SparkSession, sf: str) -> DataFrame:
    return textops.dsir_importance(
        load_table(spark, sf, "documents"),
        F.col("lang") == DSIR_TARGET_LANG,
        LM_VOCAB_SIZE,
    )


def _model_cte_sql(prefix: str, tok_cte: str) -> str:
    """The x43 unigram-model CTE chain over `tok_cte`, with CTE names
    prefixed so two models coexist in one statement."""
    p = prefix
    return rf"""{p}c AS (
  SELECT token, COUNT(*) AS cnt FROM {tok_cte} GROUP BY 1
), {p}v AS (
  SELECT token, cnt FROM (
    SELECT token, cnt, row_number() OVER (ORDER BY cnt DESC, token) AS rank
    FROM {p}c
  ) WHERE rank <= {LM_VOCAB_SIZE}
), {p}s AS (
  SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM {p}c) AS n_total,
         (SELECT CAST(SUM(cnt) AS BIGINT) FROM {p}v) AS n_vocab
), {p}vq AS (
  SELECT token,
         CAST(floor(ln(cnt / CAST(n_total + 1 AS DOUBLE)) * 1000000.0 + 0.5)
              AS BIGINT) AS q
  FROM {p}v, {p}s
), {p}uq AS (
  SELECT CAST(floor(ln((n_total - n_vocab + 1) / CAST(n_total + 1 AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) AS unk_q
  FROM {p}s
)"""


def _x56_sql() -> str:
    return rf"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKS_NORM}) AS token FROM documents
), ttok AS (
  SELECT doc_id, unnest({_TOKS_NORM}) AS token FROM documents
  WHERE lang = '{DSIR_TARGET_LANG.replace("'", "''")}'
), {_model_cte_sql('t', 'ttok')}, {_model_cte_sql('c', 'tok')}, d AS (
  SELECT tok.doc_id,
         COUNT(*) AS n_tokens,
         CAST(SUM(COALESCE(tvq.q, tuq.unk_q) - COALESCE(cvq.q, cuq.unk_q))
              AS BIGINT) AS imp_q_sum
  FROM tok
  LEFT JOIN tvq USING (token)
  LEFT JOIN cvq USING (token), tuq, cuq
  GROUP BY 1
)
SELECT doc_id, n_tokens, imp_q_sum,
       CAST(imp_q_sum AS DOUBLE) / (1000000.0 * n_tokens) AS avg_importance
FROM d
"""


# ---------------------------------------------------------------------------
# X57 — per-language length-percentile band trim: keep documents inside
# the exact-ordinal [5%, 95%] n_chars band of their language. Thresholds
# come from a (lang, n_chars) histogram — the corpus is never windowed.

LEN_BAND_LO = 0.05
LEN_BAND_HI = 0.95


def _x57(spark: SparkSession, sf: str) -> DataFrame:
    return sampling.length_band_filter(
        load_table(spark, sf, "documents"), LEN_BAND_LO, LEN_BAND_HI
    )


def _x57_sql() -> str:
    lo_num, hi_num, den = round(LEN_BAND_LO * 10000), round(LEN_BAND_HI * 10000), 10000
    return rf"""
WITH hist AS (
  SELECT lang, n_chars, COUNT(*) AS cnt FROM documents GROUP BY 1, 2
), cum AS (
  SELECT lang, n_chars, cnt,
         SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(cnt) OVER (PARTITION BY lang) AS n_grp
  FROM hist
), bands AS (
  SELECT lang,
         MIN(CASE WHEN cum >= (n_grp * {lo_num} + {den - 1}) // {den}
                  THEN n_chars END) AS lo_len,
         MIN(CASE WHEN cum >= (n_grp * {hi_num} + {den - 1}) // {den}
                  THEN n_chars END) AS hi_len
  FROM cum GROUP BY 1
)
SELECT doc_id, lang, n_chars, lo_len, hi_len
FROM documents JOIN bands USING (lang)
WHERE n_chars BETWEEN lo_len AND hi_len
"""


# ---------------------------------------------------------------------------
# X58 — Count-Min frequency sketch calibration: the global top-k tokens
# with exact count, CMS estimate, and the (provably ≥ 0) overestimate.
# The sketch is d×w integer counters — SUM-mergeable, map-side
# combinable — so it replays bit-for-bit in the oracle.

CMS_TOPK = 20


def _x58(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import sketches

    return sketches.cms_token_frequencies(
        load_table(spark, sf, "documents"), CMS_TOPK
    )


def _cms_sql(d: int, w: int) -> str:
    """The x58 CMS-calibration oracle at d rows x w buckets, generated
    from the same probe family the Spark expressions use."""
    build_arms = "\n    UNION ALL ".join(
        f"SELECT {i} AS row_i, ({perm_hash_sql('h', i)}) % {w} AS bucket FROM hb"
        for i in range(d)
    )
    probe_arms = "\n    UNION ALL ".join(
        f"SELECT token, {i} AS row_i, ({perm_hash_sql('h', i)}) % {w} AS bucket "
        f"FROM eh"
        for i in range(d)
    )
    return rf"""
WITH tok AS (
  SELECT unnest({_TOKS_NORM}) AS token FROM documents
), hb AS (
  SELECT {hash32_sql('token')} AS h FROM tok
), counters AS (
  SELECT row_i, bucket, COUNT(*) AS cnt FROM (
    {build_arms}
  ) GROUP BY 1, 2
), exact AS (
  SELECT token, COUNT(*) AS n_exact FROM tok GROUP BY 1
  ORDER BY n_exact DESC, token LIMIT {CMS_TOPK}
), eh AS (
  SELECT token, {hash32_sql('token')} AS h FROM exact
), est AS (
  SELECT token, MIN(COALESCE(cnt, 0)) AS cms_estimate FROM (
    {probe_arms}
  ) p LEFT JOIN counters c USING (row_i, bucket) GROUP BY 1
)
SELECT token, n_exact, cms_estimate, cms_estimate - n_exact AS overestimate
FROM exact JOIN est USING (token)
"""


def _x58_sql() -> str:
    from kafka_streams_learning_spark.operators.sketches import CMS_D, CMS_W

    return _cms_sql(CMS_D, CMS_W)


# ---------------------------------------------------------------------------
# X59 — Bloom-filter decontamination prefilter: x31's semantics with the
# benchmark shingle set compiled into an m-bit Bloom filter probed as
# pure per-row expressions on the corpus scan (no join, no shuffle on
# the corpus side). Exact broadcast membership rides along as ground
# truth; n_false_pos ≥ 0 is the sizing signal.


def _x59(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import sketches

    return sketches.bloom_decontamination(
        load_table(spark, sf, "documents"), BENCH_MOD, JACCARD_K
    )


def _x59_sql() -> str:
    from kafka_streams_learning_spark.operators.sketches import (
        BLOOM_BITS,
        BLOOM_K,
        BLOOM_WORD_BITS,
    )

    build_arms = "\n    UNION ALL ".join(
        f"SELECT ({perm_hash_sql('h', j)}) % {BLOOM_BITS} AS pos FROM bh"
        for j in range(BLOOM_K)
    )
    probe_joins = "\n".join(
        f"LEFT JOIN words w{j} ON w{j}.word = "
        f"(({perm_hash_sql('c.h', j)}) % {BLOOM_BITS}) // {BLOOM_WORD_BITS}"
        for j in range(BLOOM_K)
    )
    hits = " AND ".join(
        f"(COALESCE(w{j}.mask, 0) & (CAST(1 AS BIGINT) << "
        f"CAST((({perm_hash_sql('c.h', j)}) % {BLOOM_BITS}) % {BLOOM_WORD_BITS}"
        f" AS INT))) != 0"
        for j in range(BLOOM_K)
    )
    return rf"""
WITH t AS (SELECT doc_id, {_TOKS_NORM} AS toks FROM documents),
s AS (SELECT doc_id, list_distinct({_shingles_sql(JACCARD_K)}) AS shingles FROM t),
post AS (
  SELECT doc_id AS id, len(shingles) AS n_shingles,
         unnest(shingles) AS shingle
  FROM s
),
bench AS (SELECT DISTINCT shingle FROM post WHERE id % {BENCH_MOD} = 0),
bh AS (SELECT {hash32_sql('shingle')} AS h FROM bench),
words AS (
  SELECT pos // {BLOOM_WORD_BITS} AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {BLOOM_WORD_BITS} AS INT)) AS mask
  FROM ({build_arms}) GROUP BY 1
),
corpus AS (
  SELECT id, n_shingles, shingle, {hash32_sql('shingle')} AS h
  FROM post WHERE id % {BENCH_MOD} != 0
),
marked AS (
  SELECT c.id, c.n_shingles,
         ({hits}) AS bloom_hit,
         b.shingle IS NOT NULL AS exact_hit
  FROM corpus c
  {probe_joins}
  LEFT JOIN bench b USING (shingle)
)
SELECT id AS doc_id, n_shingles,
       CAST(SUM(CAST(bloom_hit AS BIGINT)) AS BIGINT) AS n_bloom_hits,
       CAST(SUM(CAST(exact_hit AS BIGINT)) AS BIGINT) AS n_exact_hits,
       CAST(SUM(CAST(bloom_hit AS BIGINT)) - SUM(CAST(exact_hit AS BIGINT))
            AS BIGINT) AS n_false_pos
FROM marked GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# X60 — fixed-grid histogram quantile sketch calibration: per event type,
# the grid-bucket quantile estimate next to x24's exact interpolated
# percentile and the absolute error. Completes the portable-sketch suite
# (x54 cardinality, x58 frequency, x59 membership, x60 quantiles):
# mergeable integer counts, IEEE bucket/edge math, the estimate ITSELF
# goes through the oracle — unlike GK (x24's approx arm), whose internals
# are engine-specific.

HISTQ_QS = [(5000, 0.5), (9500, 0.95), (9900, 0.99)]


def _x60(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import sketches

    return sketches.histogram_quantiles(
        load_table(spark, sf, "events"), "value", "event_type", HISTQ_QS
    )


def _x60_sql() -> str:
    from kafka_streams_learning_spark.operators.sketches import HISTQ_BUCKETS

    nb = HISTQ_BUCKETS
    q_values = ", ".join(f"({num}, {disp!r})" for num, disp in HISTQ_QS)
    e_cols = ",\n         ".join(
        f"quantile_cont(value, {disp!r}) AS e_{num}" for num, disp in HISTQ_QS
    )
    # CASE folded in the same first-match order as the Spark expression
    case = "CASE "
    for num, disp in HISTQ_QS[:-1]:
        case += f"WHEN q.qd = {disp!r} THEN e_{num} "
    case += f"ELSE e_{HISTQ_QS[-1][0]} END"
    return rf"""
WITH ev AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
), s AS (
  SELECT event_type, COUNT(*) AS n, MIN(value) AS vmin, MAX(value) AS vmax
  FROM ev GROUP BY 1
), b AS (
  SELECT e.event_type,
         CASE WHEN s.vmax = s.vmin THEN 0
              ELSE LEAST(CAST(floor((CAST(e.value AS DOUBLE) - s.vmin)
                                    / (s.vmax - s.vmin) * {float(nb)!r}) AS BIGINT),
                         {nb - 1}) END AS bucket
  FROM ev e JOIN s USING (event_type)
), h AS (
  SELECT event_type, bucket, COUNT(*) AS cnt FROM b GROUP BY 1, 2
), c AS (
  SELECT event_type, bucket,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM h
), q0(qnum, qd0) AS (VALUES {q_values}),
q AS (SELECT qnum, CAST(qd0 AS DOUBLE) AS qd FROM q0),
r AS (
  SELECT c.event_type, q.qd AS q, MIN(c.bucket) AS qb
  FROM c JOIN s USING (event_type), q
  WHERE c.cum >= (s.n * q.qnum + 9999) // 10000
  GROUP BY 1, 2
), ex AS (
  SELECT event_type,
         {e_cols}
  FROM ev GROUP BY 1
)
SELECT r.event_type, r.q,
       s.vmin + (r.qb + 1) * (s.vmax - s.vmin) / {float(nb)!r} AS hist_estimate,
       {case.replace('q.qd', 'r.q')} AS exact_value,
       abs(s.vmin + (r.qb + 1) * (s.vmax - s.vmin) / {float(nb)!r}
           - ({case.replace('q.qd', 'r.q')})) AS abs_err
FROM r JOIN s USING (event_type) JOIN ex USING (event_type)
"""


# ---------------------------------------------------------------------------
# X63/X64 — the x54/x58 sketches at PRODUCTION-ish parameters (r6 stretch
# item): p=6 / w=256 keep register tables legible in test output, but the
# error contract a 100 TB deployment relies on is only demonstrated at
# realistic sketch sizes. x63 runs the HLL calibration at p=12 (4096
# registers, theoretical sigma = 1.04/sqrt(4096) ~ 1.6% relative error);
# x64 runs the CMS calibration at w=4096 (overestimate bound e/w ~ 0.07%
# of the stream mass per Cormode-Muthukrishnan). Same mergeable-exchange
# shapes as x54/x58 — the state is still sketch-sized (4096 ints per
# group / 4x4096 counters total) — and the estimates themselves go
# through the DuckDB gate; tests/test_properties.py asserts the error
# bounds hold on the fixtures.

HLL_PROD_P = 12
CMS_PROD_W = 4096


def _x63(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import sketches

    return sketches.hll_token_cardinality(
        load_table(spark, sf, "documents"), p=HLL_PROD_P
    )


def _x63_sql() -> str:
    return _hll_sql(HLL_PROD_P)


def _x64(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import sketches

    return sketches.cms_token_frequencies(
        load_table(spark, sf, "documents"), CMS_TOPK, w=CMS_PROD_W
    )


def _x64_sql() -> str:
    from kafka_streams_learning_spark.operators.sketches import CMS_D

    return _cms_sql(CMS_D, CMS_PROD_W)


# ---------------------------------------------------------------------------
# X61 — Bloom-prefiltered semi join: a real probe through
# `sketches.bloom_semi_join` (orders ⋈ a selective customer slice on
# custkey), oracle-checked IDENTICAL to the plain semi join. The bloom
# filter admits false positives, never false negatives, and the real
# join re-checks every survivor — so the output is exactly the plain
# join's; what the bloom buys is that non-matching big-side rows die as
# pure bitwise expressions inside the scan instead of riding the
# exchange. At 100 TB: ~2 KB driver-side filter, three md5-derived bit
# probes per row, every killed row saves its shuffle/broadcast-probe
# cost. The oracle is deliberately the PLAIN semi join (no bloom replay):
# the contract under test is output equivalence, not the filter bits
# (x59 already gates the bit-level bloom construction).

BLOOM_JOIN_SEGMENT = "BUILDING"
BLOOM_JOIN_MAX_NATION = 10


def _x61(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import sketches

    orders = load_table(spark, sf, "orders")
    cust = (
        load_table(spark, sf, "customer")
        .filter(
            (F.col("c_mktsegment") == BLOOM_JOIN_SEGMENT)
            & (F.col("c_nationkey") < BLOOM_JOIN_MAX_NATION)
        )
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return sketches.bloom_semi_join(orders, cust, "o_custkey", how="semi").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )


_X61_SQL = f"""
SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
FROM orders
WHERE o_custkey IN (
  SELECT c_custkey FROM customer
  WHERE c_mktsegment = '{BLOOM_JOIN_SEGMENT}'
    AND c_nationkey < {BLOOM_JOIN_MAX_NATION}
)
"""


# ---------------------------------------------------------------------------
# X62 — hash-sampled k-means training (the 100 TB Lloyd path proven
# end-to-end): train centroids on the deterministic portable-hash sample
# `hash32(vec_id) % KMEANS_SAMPLE_MOD == 0` via the `train_filter` lever
# (operators/clustering.py:116), then assign the FULL corpus against the
# sampled centroids. At corpus scale this is the difference between
# Lloyd scanning 100 TB per iteration and scanning 100 TB / MOD — while
# assignment stays a zero-shuffle literal-centroid expression over
# everything. The DuckDB oracle replays the SAME sampled training (the
# sample predicate uses the md5-derived portable hash, identical in both
# engines), so the sampled path gets the same bit-level gate as x35 —
# NEVER rand()-sampled, which would break replay.

KMEANS_SAMPLE_MOD = 4


def _kmeans_sample_filter():
    from kafka_streams_learning_spark.functions.hashing import hash32

    return hash32(F.col("vec_id").cast("string")) % KMEANS_SAMPLE_MOD == 0


def _kmeans_sample_pred_sql() -> str:
    return f"{hash32_sql('CAST(vec_id AS VARCHAR)')} % {KMEANS_SAMPLE_MOD} = 0"


@shared_artifact("sampled_centroids", model=True)
def _sampled_centroids(spark: SparkSession, sf: str) -> dict[int, list[float]]:
    """The sampled-training k-means model, trained once per process and
    shared by x62 (assignment audit) and x39 (SemDeDup) — the same
    one-model precedent as `_trained_centroids` for x35."""
    emb = load_table(spark, sf, "embeddings")
    return clustering.kmeans_centroids(
        emb,
        k=KMEANS_K,
        n_iter=KMEANS_ITER,
        dim=EMB_DIM,
        train_filter=_kmeans_sample_filter(),
    )


def _x62(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return clustering.assign_labeled(emb, _sampled_centroids(spark, sf))


def _kmeans_ctes_sampled() -> str:
    """The x35 Lloyd CTE chain with training reading the hash-sampled
    slice `tr` instead of the full table (final assignment still reads
    `embeddings` — built by the caller)."""
    snap_seed = clustering.snap6_sql("CAST(x AS DOUBLE)")
    parts = [
        f"tr AS (SELECT * FROM embeddings WHERE {_kmeans_sample_pred_sql()})",
        f"""c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         list_transform(embedding, x -> {snap_seed}) AS cv
  FROM (SELECT * FROM tr ORDER BY vec_id LIMIT {KMEANS_K})
)""",
    ]
    for t in range(KMEANS_ITER):
        dist = _kmeans_dist_sql("e.embedding", "c.cv")
        parts.append(
            f"""a{t} AS (
  SELECT vec_id, embedding, cluster FROM (
    SELECT e.vec_id, e.embedding, c.cid AS cluster, {dist} AS dist
    FROM tr e CROSS JOIN c{t} c
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
)"""
        )
        cm = clustering.snap6_sql("avg(CAST(a.embedding[t.i] AS DOUBLE))")
        parts.append(
            f"""c{t + 1} AS (
  SELECT cid, list(cm ORDER BY i) AS cv FROM (
    SELECT a.cluster AS cid, t.i, {cm} AS cm
    FROM a{t} a CROSS JOIN range(1, {EMB_DIM + 1}) t(i)
    GROUP BY 1, 2
  ) GROUP BY 1
)"""
        )
    return ",\n".join(parts)


def _x62_sql() -> str:
    dist = _kmeans_dist_sql("e.embedding", "c.cv")
    return f"""
WITH {_kmeans_ctes_sampled()}
SELECT vec_id, cluster, dist FROM (
  SELECT e.vec_id, c.cid AS cluster, {dist} AS dist
  FROM embeddings e CROSS JOIN c{KMEANS_ITER} c
) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) = 1
"""


# ---------------------------------------------------------------------------
# X66 — salted skew join: events carry exactly 5 event_type values
# (~N/5 rows each — the low-cardinality power-law shape that serializes
# a hash join's hot key onto one reducer), so the type-level enrichment
# join runs through `joins.salted_join`: facts scattered over 8
# sub-keys by a whole-row hash, dim replicated 8×, output IDENTICAL to
# the plain join (the oracle is deliberately the unsalted SQL — the
# contract under test is salt-invariance, x61's equivalence pattern).
# The dim attributes are exact (count / max), so the row hash is
# float-order-free.

SALT_FANOUT = 8


def _x66(spark: SparkSession, sf: str) -> DataFrame:
    from kafka_streams_learning_spark.operators import joins

    ev = load_table(spark, sf, "events")
    dim = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("type_count"),
        F.max("value").alias("type_max"),
    )
    facts = ev.select("event_id", "event_type", "value")
    return joins.salted_join(facts, dim, on="event_type", salt=SALT_FANOUT).select(
        "event_id", "event_type", "value", "type_count", "type_max"
    )


_X66_SQL = """
WITH dim AS (
  SELECT event_type, count(*) AS type_count, max(value) AS type_max
  FROM events GROUP BY 1
)
SELECT event_id, e.event_type, value, type_count, type_max
FROM events e JOIN dim USING (event_type)
"""


# ---------------------------------------------------------------------------
# X65 — C4-style duplicated-span removal (Raffel et al. 2020 §2.2): the
# corpus REWRITE counterpart of x44's duplication analysis. Documents are
# partitioned into disjoint 8-token chunks; every chunk occurring more
# than once corpus-wide is removed except its canonical first occurrence
# (min (doc_id, chunk_idx)); documents are rebuilt from surviving chunks
# in order. The oracle replays the keeper choice with a row_number window
# (equivalent to the operator's min(struct) because (doc_id, chunk_idx)
# is unique), and coalesces the fully-removed document to '' to match
# Spark's concat_ws over an empty array.

SPAN_CHUNK_TOKENS = 8


def _x65(spark: SparkSession, sf: str) -> DataFrame:
    return dedup.remove_duplicate_spans(
        load_table(spark, sf, "documents"), chunk_tokens=SPAN_CHUNK_TOKENS
    )


_X65_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS ts FROM documents
), chunks AS (
  SELECT doc_id, i AS ci,
         array_to_string(
           ts[(i*{SPAN_CHUNK_TOKENS}+1):(i*{SPAN_CHUNK_TOKENS}+{SPAN_CHUNK_TOKENS})],
           ' ') AS chunk
  FROM toks,
       UNNEST(generate_series(
         0, CAST(ceil(len(ts)/{SPAN_CHUNK_TOKENS}.0) AS INT) - 1)) AS g(i)
), flagged AS (
  SELECT doc_id, ci, chunk,
         count(*) OVER (PARTITION BY chunk) AS occ,
         row_number() OVER (PARTITION BY chunk ORDER BY doc_id, ci) AS rn
  FROM chunks
)
SELECT doc_id,
       coalesce(
         string_agg(chunk, ' ' ORDER BY ci) FILTER (WHERE occ = 1 OR rn = 1),
         '') AS clean_text,
       count(*) AS n_chunks,
       count(*) FILTER (WHERE NOT (occ = 1 OR rn = 1)) AS n_removed
FROM flagged
GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# X67 — hashed Naive-Bayes curated-reference classifier
# (`textops.nb_hash_classifier`): feature hashing (Weinberger et al.
# 2009) bounds the model at CLS_BUCKETS rows regardless of corpus
# vocabulary; one-pass multinomial-NB training with Laplace-smoothed
# log-likelihood-ratio weights on the x43 fixed-point grid; scoring is a
# broadcast join + exact integer sums. The positive class is the
# "curated slice" (sources src0–src3) standing in for the
# reference-corpus labels a production quality filter trains on.

CLS_POSITIVE = ("src0", "src1", "src2", "src3")

# one trained model per sf per process — x67 (batch scoring) and s22
# (streaming scoring against the batch-frozen model) share the SAME
# materialized token/weight tables, trained in the bench's set-up
@shared_artifact("nb_model", model=True)
def nb_model(spark: SparkSession, sf: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    return textops.nb_train(
        load_table(spark, sf, "documents"),
        positive=F.col("source").isin(*CLS_POSITIVE),
        n_buckets=textops.CLS_BUCKETS,
        tag=f"x67-{sf.replace('/', '_')}",
    )


def _x67(spark: SparkSession, sf: str) -> DataFrame:
    tok, weights, scalars = nb_model(spark, sf)
    return textops.nb_score_batch(tok.select("id", "bucket"), weights, scalars)


def _x67_sql() -> str:
    d = textops.CLS_BUCKETS
    pos = ", ".join(f"'{s}'" for s in CLS_POSITIVE)
    bucket = f"{hash60_sql('token')} % {d}"

    def q(ratio: str) -> str:
        # one snap per ln — mirrors textops._q inside nb_hash_classifier
        return f"CAST(floor(ln({ratio}) * 1000000.0 + 0.5) AS BIGINT)"

    return f"""
WITH tok AS (
  SELECT doc_id, source, unnest({_TOKS_NORM}) AS token FROM documents
), b AS (
  SELECT doc_id, source, {bucket} AS bucket FROM tok
), c AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN source IN ({pos}) THEN 1 ELSE 0 END) AS BIGINT)
           AS pos_cnt,
         COUNT(*) AS all_cnt
  FROM b GROUP BY 1
), tot AS (
  SELECT CAST(SUM(pos_cnt) AS BIGINT) AS n_pos_tot,
         CAST(SUM(all_cnt) - SUM(pos_cnt) AS BIGINT) AS n_neg_tot
  FROM c
), pri AS (
  SELECT CAST(SUM(CASE WHEN source IN ({pos}) THEN 1 ELSE 0 END) AS BIGINT)
           AS n_pos_docs,
         COUNT(*) AS n_docs
  FROM documents
), w AS (
  SELECT bucket,
         {q(f"CAST(pos_cnt + 1 AS DOUBLE) / CAST(n_pos_tot + {d} AS DOUBLE)")}
         - {q(f"CAST(all_cnt - pos_cnt + 1 AS DOUBLE) / CAST(n_neg_tot + {d} AS DOUBLE)")}
           AS w_q
  FROM c, tot
), s AS (
  SELECT {q(f"CAST(1 AS DOUBLE) / CAST(n_pos_tot + {d} AS DOUBLE)")}
         - {q(f"CAST(1 AS DOUBLE) / CAST(n_neg_tot + {d} AS DOUBLE)")} AS w0_q,
         {q("CAST(n_pos_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)")}
         - {q("CAST(n_docs - n_pos_docs AS DOUBLE) / CAST(n_docs AS DOUBLE)")}
           AS prior_q
  FROM tot, pri
), d AS (
  SELECT b.doc_id, COUNT(*) AS n_tokens,
         CAST(SUM(COALESCE(w.w_q, s.w0_q)) AS BIGINT) AS llr_q_sum,
         MIN(s.prior_q) AS prior_q
  FROM b LEFT JOIN w USING (bucket), s
  GROUP BY 1
)
SELECT doc_id, n_tokens, llr_q_sum,
       CAST(prior_q + llr_q_sum AS DOUBLE) / 1000000.0 AS log_odds,
       (prior_q + llr_q_sum) > 0 AS is_positive
FROM d
"""


# ---------------------------------------------------------------------------
# X68 — HLL rollup: distinct-token cardinality per (source, lang), per
# source, and corpus-wide from ONE corpus scan (`sketches.hll_rollup`).
# The fine-level register table is built once; coarser levels MAX-merge
# the sketch table itself — the mergeability payoff of HLL, and the
# reason multi-granularity COUNT(DISTINCT) dashboards are feasible at
# 100 TB. The oracle replays the SAME rollup: registers at the fine
# level, merged upward by MAX, so the merge semantics (not just the
# estimates) are inside the hash gate.


def _x68(spark: SparkSession, sf: str) -> DataFrame:
    return sketches.hll_token_rollup(
        load_table(spark, sf, "documents"),
        ["source", "lang"],
        tag=f"x68-{sf.replace('/', '_')}",
    )


def _x68_sql() -> str:
    from kafka_streams_learning_spark.operators.sketches import (
        HLL_EST_SCALE,
        HLL_P,
        hll_alpha,
    )

    m = 1 << HLL_P
    pow2_32 = 1 << 32
    rho_max = 32 - HLL_P + 1
    es = f"{float(HLL_EST_SCALE)!r}"

    def est(cte: str, keys: list[str]) -> str:
        # the hll_estimate collapse (x54's oracle fragment) over one
        # register CTE at one grouping level
        pre = (", ".join(keys) + ", ") if keys else ""
        grp = (
            " GROUP BY " + ", ".join(str(i + 1) for i in range(len(keys)))
            if keys
            else ""
        )
        label = ",".join(keys) if keys else "all"
        src = "source" if "source" in keys else "CAST(NULL AS VARCHAR)"
        lng = "lang" if "lang" in keys else "CAST(NULL AS VARCHAR)"
        return rf"""SELECT '{label}' AS level, {src} AS source, {lng} AS lang,
       floor(es * {es} + 0.5) / {es} AS hll_estimate
FROM (
  SELECT {pre}CASE WHEN e_raw <= {2.5 * m!r} AND v > 0
              THEN {float(m)!r} * ln({float(m)!r} / CAST(v AS DOUBLE))
              ELSE e_raw END AS es
  FROM (
    SELECT {pre}({m} - n_buckets) AS v,
           CAST({hll_alpha(m) * m * m!r} AS DOUBLE) * CAST({float(pow2_32)!r} AS DOUBLE)
             / CAST(s_present + ({m} - n_buckets) * CAST({pow2_32} AS BIGINT) AS DOUBLE)
             AS e_raw
    FROM (
      SELECT {pre}SUM(CAST(1 AS BIGINT) << (32 - m_b)) AS s_present,
             COUNT(*) AS n_buckets
      FROM {cte}{grp}
    )
  )
)"""

    return rf"""
WITH tok AS (
  SELECT source, lang, unnest({_TOKS_NORM}) AS token FROM documents
), hb AS (
  SELECT source, lang, {hash32_sql('token')} AS h FROM tok
), reg AS (
  SELECT source, lang, h % {m} AS bucket,
         CASE WHEN (h >> {HLL_P}) = 0 THEN {rho_max}
              ELSE {rho_max} - length(bin(h >> {HLL_P})) END AS rho
  FROM hb
), fine AS (
  SELECT source, lang, bucket, MAX(rho) AS m_b FROM reg GROUP BY 1, 2, 3
), lsrc AS (
  SELECT source, bucket, MAX(m_b) AS m_b FROM fine GROUP BY 1, 2
), lall AS (
  SELECT bucket, MAX(m_b) AS m_b FROM fine GROUP BY 1
)
{est('fine', ['source', 'lang'])}
UNION ALL
{est('lsrc', ['source'])}
UNION ALL
{est('lall', [])}
"""


# ---------------------------------------------------------------------------
# X69 — star-schema broadcast-chain rollup (TPC-H Q9-flavored): revenue
# per (region, nation, part brand) from the lineitem fact through FOUR
# chained dimension joins (supplier → nation → region, plus part). The
# canonical 100 TB star-join shape: every dimension broadcasts, so the
# fact table streams through ONE codegen stage with zero exchanges
# until the final group-by (plan-pinned) — at a thousand executors the
# only shuffle is ≤ |regions × nations × brands| aggregate rows.
# Money math follows the x43 fixed-point contract: the per-row revenue
# is snapped to integer CENTS before the sum, so the aggregate is an
# exact, partition-order-free BIGINT in both engines (a raw SUM(DOUBLE)
# would be association-dependent and could never hash-match).
# Also the coverage row for the four fixture tables (region, nation,
# supplier, part) no other catalog query touches.


def star_rollup_dims(spark: SparkSession, sf: str):
    """The four star dimensions, column-pruned — shared by x69 (batch)
    and s24 (the same rollup with lineitem arriving as a stream)."""
    sup = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg = load_table(spark, sf, "region").select("r_regionkey", "r_name")
    prt = load_table(spark, sf, "part").select("p_partkey", "p_brand")
    return sup, nat, reg, prt


def star_rollup(li: DataFrame, sup, nat, reg, prt) -> DataFrame:
    """The x69 broadcast-chain rollup over any lineitem-shaped frame —
    `li` may be a batch scan (x69) or a replayed STREAM (s24): every
    dimension broadcasts into stateless stream-static joins, so the only
    stateful stage is the final ≤|region×nation×brand|-row aggregate.
    ONE definition keeps the batch and streaming sides op-for-op
    identical (the nb_bucketize/nb_score precedent).

    Scale note: nation/region are FIXED-size (25/5 rows at any SF) and
    always broadcast; supplier/part grow linearly with SF and broadcast
    comfortably to ~SF1k (part ≈ 200M rows ≈ a few GB columnar). Past
    the executor-memory broadcast bound, drop the hint on the oversized
    dim and let AQE pick the shuffle join (salting via
    `joins.salted_join` if the fact side is key-skewed, x66) — the
    rollup algebra and this function's output are unchanged."""
    cents = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(100.0)
        + F.lit(0.5)
    ).cast("bigint")
    j = (
        li.join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .join(F.broadcast(prt), F.col("l_partkey") == F.col("p_partkey"))
    )
    return (
        j.select(
            F.col("r_name").alias("region"),
            F.col("n_name").alias("nation"),
            F.col("p_brand").alias("brand"),
            cents.alias("cents"),
            # floor(+0.5) BEFORE the cast: a bare double->BIGINT cast
            # truncates in Spark but rounds in DuckDB — pin the
            # semantics so a fixture with fractional quantities cannot
            # diverge (values are integral today, so hashes unchanged)
            F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint").alias("qty"),
        )
        .groupBy("region", "nation", "brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("qty").alias("sum_qty"),
            F.sum("cents").alias("revenue_cents"),
        )
    )


def _x69(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").select(
        "l_suppkey", "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    return star_rollup(li, *star_rollup_dims(spark, sf))


_X69_SQL = """
SELECT r.r_name AS region, n.n_name AS nation, p.p_brand AS brand,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(floor(l_extendedprice * (1 - l_discount) * 100.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# X70 — WAV header triage, gated end-to-end: canonical WAV blobs are
# SYNTHESIZED per-row as one pure expression (multimodal.wav_blob:
# unhex of concatenated little-endian fields, bit-identical to stdlib
# `wave` — property-tested in tests/test_multimodal.py), a deterministic
# slice corrupted (junk-prefixed / truncated — the malformed-media
# reality of a crawl), then PARSED back by multimodal.wav_meta. The
# whole row is blob-in-the-middle: params → hex → binary → header
# fields, all JVM codegen, zero exchanges, scan-pruned to events keys.
# The DuckDB oracle derives the expected fields from the same params
# with valid/NULL routing for the corrupted slices, so any off-by-one
# in EITHER the synthesizer or the parser breaks the value hash.
# This is the catalog row BENCH_NOTES r8 deferred to round 9's new-row
# budget. Reference parity: the malformed→route-not-throw stance of
# SURVEY §2 P2 applied to binary media.

WAV_RATES = (8000, 16000, 22050, 44100, 48000)
WAV_BITS = (8, 16, 24, 32)
WAV_DATA_MOD = 4096


def _x70(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").select(
        F.col("event_id").alias("id"),
        F.element_at(
            F.array(*[F.lit(r) for r in WAV_RATES]),
            (F.col("event_id") % len(WAV_RATES) + 1).cast("int"),
        ).alias("rate"),
        (F.col("event_id") % 2 + 1).alias("ch"),
        F.element_at(
            F.array(*[F.lit(b) for b in WAV_BITS]),
            (F.col("event_id") % len(WAV_BITS) + 1).cast("int"),
        ).alias("bits"),
        (F.col("event_id") * 37 % WAV_DATA_MOD).alias("data"),
    )
    blob = multimodal.wav_blob(
        F.col("rate"), F.col("ch"), F.col("bits"), F.col("data")
    )
    # deterministic corruption slices (order matters — mirrored in SQL):
    # id%7: junk-prefixed (RIFF tag displaced); id%11: truncated mid-header
    blob = (
        F.when(F.col("id") % 7 == 0,
               F.concat(F.unhex(F.lit("DEADBEEF")), blob))
        .when(F.col("id") % 11 == 0, F.substring(blob, 1, 20))
        .otherwise(blob)
    )
    return multimodal.wav_meta(ev.select("id", blob.alias("blob")))


def _x70_sql() -> str:
    rates = ", ".join(str(r) for r in WAV_RATES)
    bits = ", ".join(str(b) for b in WAV_BITS)
    return f"""
WITH p AS (
  SELECT event_id AS id,
         ([{rates}])[CAST(event_id % {len(WAV_RATES)} AS INT) + 1] AS rate,
         event_id % 2 + 1 AS ch,
         ([{bits}])[CAST(event_id % {len(WAV_BITS)} AS INT) + 1] AS bits,
         event_id * 37 % {WAV_DATA_MOD} AS data,
         (event_id % 7 = 0 OR event_id % 11 = 0) AS corrupted
  FROM events
)
SELECT id,
       NOT corrupted AS valid,
       CASE WHEN corrupted THEN NULL ELSE 1 END AS audio_format,
       CASE WHEN corrupted THEN NULL ELSE ch END AS n_channels,
       CASE WHEN corrupted THEN NULL ELSE rate END AS sample_rate,
       CASE WHEN corrupted THEN NULL ELSE bits END AS bits_per_sample,
       CASE WHEN corrupted THEN NULL ELSE data END AS data_bytes,
       CASE WHEN corrupted THEN NULL
            ELSE (data * 1000) // (rate * ch * (bits // 8)) END AS duration_ms
FROM p
"""


EXTENSION_QUERIES: list[QuerySpec] = [
    QuerySpec("x01_text_stats", _x01, _X01_SQL, "token counts + quality scoring"),
    QuerySpec("x02_lang_id", _x02, _lang_sql(), "marker-token language ID"),
    QuerySpec("x03_fingerprint", _x03, _X03_SQL, "normalized md5 fingerprint"),
    QuerySpec("x04_dedup_exact", _x04, _X04_SQL, "exact dedup via hash-groupBy"),
    QuerySpec("x05_token_topk", _x05, _X05_SQL, "global heavy-hitter tokens"),
    QuerySpec("x06_minhash_signatures", _x06, _minhash_sql(), "MinHash signatures"),
    QuerySpec("x07_ngram_jaccard_dups", _x07, _X07_SQL, "n-gram Jaccard near-dups"),
    QuerySpec("x08_simhash", _x08, _simhash_sql(), "SimHash fingerprints"),
    QuerySpec("x09_ann_brute_topk", _x09, _X09_SQL, "exact cosine top-k ANN baseline"),
    QuerySpec("x10_embedding_near_dups", _x10, _X10_SQL,
              "exact embedding near-dups on a deterministic half-corpus "
              "(x26 ground truth; x26 is the scale path)"),
    QuerySpec("x11_lsh_candidates", _x11, _lsh_sql(), "MinHash-LSH candidate pairs"),
    QuerySpec("x12_multimodal_meta", _x12, _X12_SQL, "binary-column metadata pass"),
    QuerySpec("x13_ann_ivf_topk", _x13, _X13_SQL, "IVF approximate top-k ANN (scale path)"),
    QuerySpec("x14_multimodal_decode", _x14, _X14_SQL,
              "Arrow-batched mapInPandas decode plumbing (fake codec)"),
    QuerySpec("x15_distinct_cardinality", _x15, _X15_SQL,
              "exact distinct-count per key (+ HLL approx variant)"),
    QuerySpec("x16_clean_corpus", _x16, _x16_sql(),
              "end-to-end corpus cleaning (lang → quality → dedup)"),
    QuerySpec("x17_rolling_fingerprint", _x17, _X17_SQL,
              "Rabin-Karp rolling-hash bottom-k sketch"),
    QuerySpec("x18_ann_lsh_topk", _x18, _x18_sql(),
              "random-hyperplane LSH approximate top-k ANN"),
    QuerySpec("x19_hash_split", _x19, _x19_sql(),
              "deterministic train/val/test hash split"),
    QuerySpec("x20_balanced_sample", _x20, _x20_sql(),
              "class-balanced per-stratum downsampling"),
    QuerySpec("x21_tfidf_topk", _x21, _X21_SQL,
              "smooth TF-IDF top-k terms per document"),
    QuerySpec("x22_asof_join", _x22, _X22_SQL,
              "point-in-time as-of join (last prior purchase per event)"),
    QuerySpec("x23_pii_redaction", _x23, _x23_sql(),
              "PII redaction sweep (emails, IPs, phones)"),
    QuerySpec("x24_quantile_stats", _x24, _x24_sql(),
              "exact per-key quantile stats (portable interpolation)"),
    QuerySpec("x25_rollup_stats", _x25, _x25_sql(),
              "multi-granularity rollup (all levels, one pass)"),
    QuerySpec("x26_embedding_near_dups_lsh", _x26, _x26_sql(),
              "banded-LSH embedding near-dups (100 TB-safe x10 path)"),
    QuerySpec("x27_frame_sampling", _x27, _X27_SQL,
              "multimodal frame-sampling plan over the decode plumbing"),
    QuerySpec("x28_neardup_groups", _x28, _x28_sql(),
              "near-dup groups: connected components over the x26 pair "
              "graph (canonical doc per cluster)"),
    QuerySpec("x29_resize_plan", _x29, _X29_SQL,
              "multimodal aspect-fit resize: JVM dimension planning + "
              "Arrow-batched pixel stage (byte-count contract hashed)"),
    QuerySpec("x30_repetition_stats", _x30, _x30_sql(),
              "within-document duplicate-shingle ratio "
              "(Gopher-style repetition quality gate, zero-shuffle)"),
    QuerySpec("x31_decontamination", _x31, _x31_sql(),
              "benchmark decontamination: corpus docs sharing any "
              "k-shingle with the (broadcast) benchmark set"),
    QuerySpec("x32_gopher_quality", _x32, _x32_sql(),
              "Gopher/MassiveText rule-based quality gate "
              "(all published rules, zero-shuffle)"),
    QuerySpec("x33_dedup_survivors", _x33, _x33_sql(),
              "end-to-end near-dup dedup: LSH pairs → connected "
              "components → keep/drop verdict per corpus document"),
    QuerySpec("x34_mixture_sample", _x34, _x34_sql(),
              "domain-mixture sampler toward target source weights "
              "(zero-shuffle on facts, hash-threshold keep)"),
    QuerySpec("x35_kmeans_clusters", _x35, _x35_sql(),
              "Lloyd's k-means over embeddings: zero-shuffle literal-"
              "centroid assignment + one k-row-shuffle update per round"),
    QuerySpec("x36_sequence_packing", _x36,
              packing.pack_sql(PACK_BUDGET, PACK_BUCKETS),
              "concat-and-chunk packing into fixed-token training "
              "sequences (bucket-sharded running sum, one exchange)"),
    QuerySpec("x37_temporal_split", _x37, _X37_SQL,
              "leakage-safe temporal split with user-group integrity "
              "(rank over |users| anchors; approx-cutoff scale arm)"),
    QuerySpec("x38_doc_chunking", _x38, _X38_SQL,
              "overlapping token-window chunking (RAG/embedding prep) — "
              "one narrow scan-shaped pass, no shuffle"),
    QuerySpec("x39_semantic_dedup", _x39, _x39_sql(),
              "SemDeDup: exact cosine pairs within k-means clusters "
              "(cluster-bounded equi-join, second scale path to x26)"),
    QuerySpec("x40_training_layout", _x40, _x40_sql(),
              "fused prep pipeline: clean → dedup survivor → hash split "
              "→ train-split sequence packing (two exchanges end-to-end)"),
    QuerySpec("x41_vocab_coverage", _x41, _X41_SQL,
              "frequency-ranked vocabulary with cumulative coverage "
              "(window over |vocab| rows, TakeOrdered-pruned map-side)"),
    QuerySpec("x42_cross_source_dups", _x42, _x42_sql(),
              "cross-source duplication matrix over the LSH pair graph "
              "(mirror/leakage detection; driver-sized output)"),
    QuerySpec("x43_unigram_logprob", _x43, _X43_SQL,
              "CCNet-style unigram-LM quality score (top-V vocab + UNK "
              "mass, exact fixed-point integer logprob sums)"),
    QuerySpec("x44_dup_span_stats", _x44, _X44_SQL,
              "ExactSubstr-flavored cross-doc duplicated-span stats "
              "(shared k-gram windows + longest contiguous run)"),
    QuerySpec("x45_ccnet_buckets", _x45, _X45_SQL,
              "CCNet head/middle/tail corpus partition over the "
              "unigram-LM score (bit-portable tercile cuts)"),
    QuerySpec("x46_bpe_pair_counts", _x46, _X46_SQL,
              "BPE merge candidates: top-k adjacent token-pair "
              "frequencies (heavy-hitters plan)"),
    QuerySpec("x47_quality_weighted_sample", _x47, _x47_sql(),
              "quality-weighted keep: per-CCNet-bucket hash-threshold "
              "sampling (zero shuffle on the scored table)"),
    QuerySpec("x48_containment_pairs", _x48, _X48_SQL,
              "winnowing containment candidates from rolling-hash "
              "sketches (boilerplate fingerprints df-capped)"),
    QuerySpec("x49_bm25_topk", _x49, _x49_sql(),
              "BM25 top-k retrieval per query "
              "(decontamination-by-retrieval probe)"),
    QuerySpec("x50_jl_projection", _x50, _x50_sql(),
              "Johnson-Lindenstrauss ±1 projection of the embedding "
              "corpus (pre-ANN compression)"),
    QuerySpec("x51_epoch_shuffle", _x51, _x51_sql(),
              "deterministic per-epoch training-order shuffle "
              "(shard, pos) coordinates"),
    QuerySpec("x52_ann_jl_topk", _x52, _x52_sql(),
              "two-stage ANN: JL-compressed candidate scan + exact "
              "full-dim re-rank"),
    QuerySpec("x53_sketch_calibration", _x53, _x53_sql(),
              "MinHash-estimated vs exact Jaccard on LSH candidate "
              "pairs (sketch tuning table)"),
    QuerySpec("x54_hll_cardinality", _x54, _x54_sql(),
              "portable HyperLogLog distinct-token cardinality per "
              "source (+ exact calibration arm)"),
    QuerySpec("x55_zipf_slope", _x55, _x55_sql(),
              "Zipf rank-frequency OLS slope per language "
              "(fixed-point integer moments)"),
    QuerySpec("x56_dsir_importance", _x56, _x56_sql(),
              "DSIR importance weights: target-vs-corpus unigram "
              "log-likelihood ratio per document"),
    QuerySpec("x57_length_band_filter", _x57, _x57_sql(),
              "per-language exact-ordinal length percentile band trim"),
    QuerySpec("x58_cms_frequencies", _x58, _x58_sql(),
              "Count-Min sketch frequency estimates for the global "
              "top-k tokens (+ exact calibration arm)"),
    QuerySpec("x59_bloom_decontamination", _x59, _x59_sql(),
              "Bloom-prefiltered benchmark decontamination "
              "(pure-expression probe, exact arm alongside)"),
    QuerySpec("x60_histogram_quantiles", _x60, _x60_sql(),
              "fixed-grid histogram quantile sketch vs exact "
              "percentile (mergeable, oracle-hashed estimate)"),
    QuerySpec("x61_bloom_semi_join", _x61, _X61_SQL,
              "Bloom-prefiltered semi join, output identical to the "
              "plain join (runtime-filter pattern as a library op)"),
    QuerySpec("x62_kmeans_sampled", _x62, _x62_sql(),
              "hash-sampled Lloyd training + full-corpus assignment "
              "(the 100 TB k-means path, oracle-replayed end-to-end)"),
    QuerySpec("x63_hll_production", _x63, _x63_sql(),
              "HLL calibration at production precision p=12 "
              "(~1.6% sigma error contract demonstrated)"),
    QuerySpec("x64_cms_production", _x64, _x64_sql(),
              "Count-Min calibration at production width w=4096 "
              "(overestimate bound e/w of stream mass)"),
    QuerySpec("x65_span_dedup", _x65, _X65_SQL,
              "C4-style duplicated-span removal: corpus rewritten with "
              "one canonical occurrence per duplicated chunk"),
    QuerySpec("x66_salted_join", _x66, _X66_SQL,
              "salted skew join over the 5-hot-key event_type enrichment "
              "(output identical to the plain join)"),
    QuerySpec("x67_nb_classifier", _x67, _x67_sql(),
              "hashed-feature Naive-Bayes curated-reference classifier "
              "(fastText-style quality filter, fixed-size model)"),
    QuerySpec("x68_hll_rollup", _x68, _x68_sql(),
              "multi-granularity distinct-token counts by MAX-merging "
              "one HLL register table upward (sketch mergeability)"),
    QuerySpec("x69_star_join_rollup", _x69, _X69_SQL,
              "star-schema broadcast-chain rollup over four dimensions "
              "(exact integer-cents revenue; region/nation/supplier/part "
              "coverage)"),
    QuerySpec("x70_wav_triage", _x70, _x70_sql(),
              "WAV header triage gated end-to-end: expression-synthesized "
              "canonical blobs (+ corrupted slices) re-parsed by the pure "
              "JVM header parser; oracle replays field derivation"),
]
