"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design notes (the 100 TB story):

- **exact** — hash-groupBy on a 128-bit fingerprint: one shuffle keyed by
  the fingerprint; partial aggregation collapses duplicates map-side.
- **n-gram Jaccard** — never all-pairs: an inverted shingle index
  (explode → join on shingle) produces only co-shingled candidate pairs,
  then intersection/union counts come from one groupBy. All-pairs is
  O(n²); the index is O(total postings × bucket density).
- **MinHash+LSH** — signatures are per-row expressions (min over shingle
  hashes per permutation); banding buckets hash a band's slice; pairs
  emerge from a self-join *within buckets only*. Tunable (n_perm, bands)
  recall/cost trade-off, the standard web-scale near-dup pipeline.
- **SimHash** — bit-majority over token hashes; a single 32-bit value per
  doc, groupable/sortable for Hamming-neighborhood blocking.

All hashes are the portable md5-derived family (`functions/hashing.py`) so
the DuckDB oracle replays every sketch exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from kafka_streams_learning_spark.functions import text as T
from kafka_streams_learning_spark.functions.text import word_shingles

from kafka_streams_learning_spark.operators.materialize import (
    materialized as _materialized,
)
from kafka_streams_learning_spark.sources.batch import fan_out

SIMHASH_BITS = 32


def exact_dup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group documents by normalized-text fingerprint: (fp, keep_id, n_dups).
    `keep_id` = min id is the canonical survivor."""
    fp = T.fingerprint(F.col(text_col))
    return (
        df.select(F.col(id_col), fp.alias("fp"))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_dups"))
    )


def _shingled(df: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(id, shingle) postings, distinct per document, from the fanned-out
    scan: the distinct rides its hash partitioning on the id."""
    return (
        fan_out(df, id_col)
        .select(F.col(id_col).alias("id"), F.explode(word_shingles(F.col(text_col), k)).alias("shingle"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int | None = None,
) -> DataFrame:
    """Document pairs (a < b) with k-shingle Jaccard ≥ threshold, via an
    inverted shingle index — candidate pairs only ever materialize for
    docs that share ≥1 shingle. The postings table feeds three plan arms
    (both self-join sides + sizes); materializing it computes the
    explode+distinct once instead of three times (~20% measured).

    ``max_df`` is the SCALE bound (the x48/MOSS document-frequency cap,
    Schleimer et al. 2003): shingles occurring in more than ``max_df``
    documents are boilerplate — they are dropped from the postings BEFORE
    both the intersection and the set sizes, so the Jaccard is exact over
    the non-boilerplate shingle universe and per-shingle join fanout is
    capped at max_df²/2 pairs, a constant. Without it one stop-shingle
    shared by m documents makes an O(m²) join group — fine at sf0.1,
    quadratic death at 100 TB. ``max_df=None`` keeps the uncapped exact
    semantics; that arm is CALIBRATION-ONLY (x53's ground truth, the x10
    precedent), never the production dedup path."""
    post = _materialized(_shingled(df, text_col, id_col, k), tag="x07-postings")
    join_key = "shingle"
    if max_df is not None:
        rare = (
            post.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df_s"))
            .filter(F.col("df_s") <= max_df)
            .select("shingle")
        )
        # Dictionary-encode the surviving shingles to unique int64 ids
        # (VERDICT r14 item 5): the pair self-join below shuffles the
        # postings by its join key, and a multi-word shingle string is
        # 20-40 bytes against the 8 of a long — guide §2.3 "shuffle keys
        # and metadata instead of payloads", done EXACTLY (one id per
        # distinct shingle; the materialized parquet pins the assignment
        # so every consumer reads the same ids; the emitted pairs carry
        # doc ids only, so the arbitrary sid values never reach results).
        # The encode join replaces the previous post⋈rare prune join —
        # same shuffle, narrower output — so the encoding is free.
        sdict = _materialized(
            rare.withColumn("sid", F.monotonically_increasing_id()),
            tag="x07-dict",
        )
        # pruned postings feed both self-join sides AND sizes; without
        # this materialization Catalyst replans the df-count arm per
        # consumer (x48 precedent)
        post = _materialized(
            post.join(sdict, "shingle").select("id", "sid"), tag="x07-pruned"
        )
        join_key = "sid"
    sizes = post.groupBy("id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = post.alias("a")
    b = post.alias("b")
    inter = (
        a.join(
            b,
            (F.col(f"a.{join_key}") == F.col(f"b.{join_key}"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("id").alias("doc_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("id").alias("doc_b"), F.col("n_shingles").alias("n_b"))
    j = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter")))
    )
    return j.filter(F.col("jaccard") >= threshold).select("doc_a", "doc_b", "jaccard")


def minhash_signatures(
    df: DataFrame,
    n_perm: int,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document MinHash signature as columns mh0..mh{n-1}.

    Shape: explode shingles → ONE md5 per shingle → n_perm arithmetic
    permutations `(A_i*h + B_i) mod P` → min per permutation via
    groupBy(doc). The md5 is computed once regardless of n_perm (Catalyst
    does not CSE a hash referenced from n aggregate expressions — the
    naive per-row HOF form recomputes it n_perm times). The groupBy
    partial-aggregates map-side: since a document's shingles are co-
    partitioned by the scan, the exchange carries one row per document."""
    from kafka_streams_learning_spark.functions.hashing import hash32, perm_hash

    posting = df.select(
        F.col(id_col), F.explode(word_shingles(F.col(text_col), k)).alias("sh")
    ).withColumn("h", hash32(F.col("sh")))
    aggs = [F.min(perm_hash(F.col("h"), i)).alias(f"mh{i}") for i in range(n_perm)]
    return posting.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    df: DataFrame,
    n_perm: int,
    bands: int,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    sig: DataFrame | None = None,
    bucket_cap: int | None = 256,
) -> DataFrame:
    """MinHash-LSH candidate pairs (a < b): docs whose signatures collide
    in at least one band. rows_per_band = n_perm // bands. The self-join
    runs per (band, bucket) group — the only shuffle keys are band buckets,
    never the full cross product.

    ``bucket_cap`` (the r9 embedding-LSH lesson applied here too): a
    bucket is a boilerplate/template family at scale, and an uncapped
    bucket of k members emits k²/2 pairs — quadratic in family size.
    Per (band, bucket) only the first cap members under a band-keyed
    deterministic hash order enter the pair self-join; every member
    PAST the cap additionally emits ONE star pair linking it to the
    bucket's first kept member (the rank-1 anchor under the same hash
    order). The star pairs keep connected-component closure exact at
    linear cost: a bucket of k members emits ≤ cap²/2 + (k-cap) pairs,
    and every member of a hot family reaches the family's component
    through its anchor even if it was capped out of EVERY band (without
    the star, a member dropped in all bands — probability
    (1-cap/k)^bands, ~98% for a 10⁶-member family at cap=256/bands=64 —
    would emit zero pairs and silently survive dedup). Measured
    occupancy on the fixtures is ≤ 19 at sf0.1, so the default cap
    never binds at oracle scale — it exists for the corpus where a
    family is 10⁶ documents. Pass ``bucket_cap=None`` for diagnostics
    that need the full candidate set (x53's calibration does).

    Pass `sig` (a `minhash_signatures` output, ideally materialized) when
    the caller also consumes the signatures itself — otherwise the whole
    shingle→minhash pipeline would run once here and once in the caller
    (x53's calibration join does exactly this)."""
    assert n_perm % bands == 0, "n_perm must divide evenly into bands"
    if bucket_cap is not None and bucket_cap < 1:
        # cap < 1 would make the rank-1 member its own star anchor and
        # emit (x, x) self-pairs, breaking the a < b contract; "disable
        # pairing" is not a meaningful request — use a filter instead
        raise ValueError("bucket_cap must be >= 1 (or None for uncapped)")
    rows = n_perm // bands
    if sig is None:
        sig = minhash_signatures(df, n_perm, k, text_col, id_col)
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows + r}").cast("string") for r in range(rows)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("_", *parts)).alias("bucket"))
        )
    buckets = sig.select(
        F.col(id_col).alias("id"), F.explode(F.array(*band_cols)).alias("bb")
    ).select("id", "bb.band", "bb.bucket")
    overflow_pairs = None
    if bucket_cap is not None:
        from kafka_streams_learning_spark.functions import hashing

        order = hashing.hash60(
            F.concat(F.col("band").cast("string"), F.lit("|"),
                     F.col("id").cast("string"))
        )
        w = Window.partitionBy("band", "bucket").orderBy(order, F.col("id"))
        # rank + the rank-1 anchor come from the same window pass (one
        # exchange over bands·N rows); materializing WITH both columns
        # lets the kept/overflow split read the run-scoped parquet twice
        # instead of re-running shingle→minhash per arm
        buckets = _materialized(
            buckets.withColumn("_rk", F.row_number().over(w)).withColumn(
                "_anchor",
                F.first("id").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
                ),
            ),
            tag="x11-buckets",
        )
        overflow_pairs = (
            buckets.filter(F.col("_rk") > bucket_cap)
            .select(
                F.least("_anchor", "id").alias("doc_a"),
                F.greatest("_anchor", "id").alias("doc_b"),
            )
        )
        buckets = buckets.filter(F.col("_rk") <= bucket_cap).select(
            "id", "band", "bucket"
        )
    else:
        # the self-join reads the bucket table twice; without
        # materializing, the whole shingle→minhash pipeline runs twice
        # (Catalyst plans each side independently)
        buckets = _materialized(buckets, tag="x11-buckets")
    a = buckets.alias("a")
    b = buckets.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
    )
    if overflow_pairs is not None:
        pairs = pairs.unionByName(overflow_pairs)
    return pairs.distinct()


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """32-bit SimHash per document: bit b of the result is 1 iff at least
    half of the document's tokens (by term frequency) have bit b set in
    their 32-bit hash. Docs with no tokens get simhash 0.

    Shape: a per-row pass over the fanned-out scan (`fan_out`: one hash
    exchange on the doc id when the input has fewer row groups than
    cores, none otherwise). The token-hash array is materialized in its
    OWN projection and referenced by all 32 bit aggregates —
    CollapseProject refuses to inline a non-cheap expression referenced
    more than once, so the md5 runs exactly once per token (inlining it
    naively re-evaluates the hash inside every aggregate; explode+groupBy
    avoids that too but adds a shuffle + re-join and measured ~1.6x
    slower). `.explain("formatted")` shows one md5.

    The 32 bit terms are one SQL expression, generated like the
    `_simhash_sql` oracle: one parse in the JVM, where Column lambdas
    cost a py4j round trip per node (~6,000 per DataFrame)."""
    from kafka_streams_learning_spark.functions.hashing import hash32

    hashed = fan_out(df, id_col).select(
        F.col(id_col),
        F.transform(
            T.tokens(T.normalized_text(F.col(text_col))), lambda t: hash32(t)
        ).alias("_h"),
    )
    bit_terms = " + ".join(
        f"CASE WHEN aggregate(_h, 0L, (acc, h) -> acc + (shiftright(h, {b}) & 1))"
        f" * 2 >= size(_h) THEN {2**b}L ELSE 0L END"
        for b in range(SIMHASH_BITS)
    )
    value = F.expr(f"CASE WHEN size(_h) = 0 THEN 0L ELSE {bit_terms} END")
    return hashed.select(F.col(id_col), value.alias("simhash"))


def contamination_hits(
    df: DataFrame,
    bench_mod: int = 97,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share any
    k-word shingle with the benchmark set. Documents with
    id % bench_mod == 0 stand in for the eval suite here (in production
    the benchmark side is its own small table); output is one row per
    contaminated non-benchmark document:
    (doc_id, n_hits, n_shingles, contamination_ratio).

    Scale shape: an eval suite is KB-MB, not TB, so its distinct shingle
    set is BROADCAST; the corpus side deduplicates shingles per document
    with `array_distinct` BEFORE exploding (per-row, no corpus-wide
    distinct shuffle) and carries its own shingle count through the
    explode, so the only exchange in the whole plan is the per-document
    aggregation over the (small) hit set. Never an all-pairs comparison,
    never a full-corpus shuffle."""
    # stage the shingle array behind an alias before fanning it out to
    # size() + explode(): referencing one non-cheap alias twice keeps the
    # shingling chain planned once per DOCUMENT — inlining it into both
    # references would re-run tokenize+shingle+distinct per posting ROW
    base = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_shingles(F.col(text_col), k)).alias("_sh"),
    )
    posts = base.select(
        "id",
        F.size("_sh").alias("n_shingles"),
        F.explode("_sh").alias("shingle"),
    )
    bench = (
        posts.filter((F.col("id") % bench_mod) == 0).select("shingle").distinct()
    )
    corpus = posts.filter((F.col("id") % bench_mod) != 0)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("id", "n_shingles")
        .agg(F.count(F.lit(1)).alias("n_hits"))
        .select(
            F.col("id").alias("doc_id"),
            "n_hits",
            "n_shingles",
            (F.col("n_hits") / F.col("n_shingles")).alias("contamination_ratio"),
        )
    )


def dedup_survivors(
    df: DataFrame,
    n_perm: int,
    bands: int,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """The full near-dup dedup pipeline, corpus-in → verdict-out: MinHash
    signatures → banded-LSH candidate pairs → connected components →
    one canonical survivor per duplicate group, joined back onto the
    WHOLE corpus. This is the operation a training-data pipeline actually
    runs (x11 emits pairs, x28 labels group members; this decides, for
    every document, keep or drop).

    Returns (doc_id, group_id, kept): documents untouched by any
    candidate pair form their own singleton group and are kept; inside a
    duplicate group only the minimum id survives.

    Scale shape: candidate generation is the banded bucket-join
    (`lsh_candidate_pairs` — shuffles keyed by band buckets, never
    all-pairs); components run pointer-jumping over the pair graph only
    (O(log diameter) keyed shuffles over edges, not the corpus); the
    final verdict is one left join of the corpus against the component
    labels — at 100 TB the labels side is bounded by documents that
    collided at all, typically orders of magnitude smaller than the
    corpus.

    Pass `pairs` (a `lsh_candidate_pairs` output, ideally materialized)
    when the caller also consumes the pair table itself — the pair
    report and the survivor verdict then share ONE generation instead of
    running the shingle→minhash→band self-join twice (the `sig=`
    contract on `lsh_candidate_pairs`, one level up)."""
    from kafka_streams_learning_spark.operators import graph

    if pairs is None:
        pairs = lsh_candidate_pairs(df, n_perm, bands, k, text_col, id_col)
    cc = graph.connected_components(pairs, "doc_a", "doc_b")
    labels = cc.select(F.col("node_id"), F.col("group_id").alias("_gid"))
    group = F.coalesce(F.col("_gid"), F.col(id_col))
    return (
        df.select(F.col(id_col))
        .join(labels, F.col(id_col) == F.col("node_id"), "left")
        .select(
            F.col(id_col),
            group.alias("group_id"),
            (F.col(id_col) == group).alias("kept"),
        )
    )


def cross_source_dup_matrix(
    df: DataFrame,
    n_perm: int,
    bands: int,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Provenance analysis over the near-dup pair graph: how much does
    each pair of sources duplicate each other? (Cross-source overlap is
    the classic symptom of scraped mirrors and benchmark leakage between
    corpus components.) Returns (source_a ≤ source_b, n_pairs).

    Shape: LSH candidate pairs (bucket-bounded, never all-pairs) → two
    equi-joins against the (id → source) projection — the pair table is
    the fact side, the projection is column-pruned to two columns — then
    an order-normalized pair key and a tiny |sources|² aggregate, so the
    output is driver-sized no matter the corpus. `pairs` accepts a
    precomputed (ideally materialized) `lsh_candidate_pairs` output —
    same sharing contract as `dedup_survivors`."""
    if pairs is None:
        pairs = lsh_candidate_pairs(df, n_perm, bands, k, text_col, id_col)
    src = df.select(F.col(id_col), F.col(source_col))
    j = (
        pairs.join(src.withColumnRenamed(id_col, "doc_a")
                   .withColumnRenamed(source_col, "sa"), "doc_a")
        .join(src.withColumnRenamed(id_col, "doc_b")
              .withColumnRenamed(source_col, "sb"), "doc_b")
    )
    return (
        j.select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def dup_span_stats(
    df: DataFrame,
    k: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document duplicated-span analysis — the ExactSubstr dedup
    verdict (Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better") re-expressed at k-gram granularity: for
    every document, how many of its k-token windows also occur in at
    least one OTHER document, and how long is the longest contiguous
    run of such windows? ExactSubstr builds a corpus suffix array; the
    Spark-native equivalent flags shared fixed-k windows, whose maximal
    runs are exactly the shared substrings of length ≥ k.

    Complements `repetition_stats` (x30, WITHIN-document duplication)
    with the BETWEEN-document signal used to cut boilerplate and
    mirrored spans before pretraining.

    Returns (id, n_windows, n_dup_windows, dup_ratio, longest_dup_run,
    is_dup_heavy). `dup_ratio` is a single IEEE division of exact
    integer counts — engine-portable.

    Scale shape: posexplode windows → distinct (shingle, doc) postings →
    shingle-key count to find shingles in ≥2 docs (map-side partial
    agg) → equi-join back on shingle → two doc-key aggregates. Nothing
    is ever all-pairs: the shuffle is bounded by the postings list like
    x07, and the run/ratio rollups re-use one doc-key partitioning. At
    100 TB, hash each shingle to 64 bits before the shuffle (same
    portable hash family as MinHash) so exchange rows stay narrow — the
    string form is kept here so the oracle joins on exact text.
    """
    win = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(word_shingles(F.col(text_col), k)).alias("pos", "sh"),
    )
    shared = (
        win.select("sh", "id")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("sh", F.lit(True).alias("dup"))
    )
    flagged = win.join(shared, "sh", "left").select(
        "id", "pos", F.coalesce("dup", F.lit(False)).alias("dup")
    )
    # gaps-and-islands: consecutive dup windows share (pos - rank)
    wdoc = Window.partitionBy("id").orderBy("pos")
    runs = (
        flagged.filter("dup")
        .withColumn("island", F.col("pos") - F.row_number().over(wdoc))
        .groupBy("id", "island")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("id")
        .agg(F.max("run_len").alias("longest_dup_run"))
    )
    stats = flagged.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_windows"),
        F.sum(F.col("dup").cast("long")).alias("n_dup_windows"),
    )
    ratio = F.col("n_dup_windows") / F.col("n_windows")
    return stats.join(runs, "id", "left").select(
        F.col("id").alias(id_col),
        "n_windows",
        "n_dup_windows",
        ratio.alias("dup_ratio"),
        F.coalesce(F.col("longest_dup_run"), F.lit(0).cast("bigint")).alias(
            "longest_dup_run"
        ),
        (ratio >= F.lit(threshold)).alias("is_dup_heavy"),
    )


def containment_candidates(
    df: DataFrame,
    min_shared: int = 2,
    max_df_denom: int = 20,
    max_df_abs: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Substring-containment candidate pairs from the bottom-k
    rolling-hash sketches (`textops.rolling_fingerprints`) — the
    winnowing/MOSS pipeline (Schleimer et al. 2003): documents sharing
    ≥ ``min_shared`` character-window fingerprints likely share long
    substrings, catching quote/near-copy containment that word-level
    MinHash (x06/x11) misses when tokenization differs.

    As in real winnowing deployments (MOSS discards fingerprints above
    an absolute occurrence cap), boilerplate fingerprints are DISCARDED
    before pairing — they match everything and say nothing. TWO caps
    compose, both pure-integer so the oracle replays them trivially:
    the fractional ``max_df_denom·df ≤ n_docs`` (nothing in >1/denom of
    a small corpus) and the absolute ``df ≤ max_df_abs``. The absolute
    cap is the SCALE bound: a fingerprint shared by 65+ documents is
    template text no matter how big the corpus is, and capping df
    absolutely caps candidate pairs at max_df_abs²/2 per fingerprint —
    a CONSTANT — so total pair fanout grows with the number of rare
    fingerprints, not quadratically with corpus size (measured 16× at
    sf0.1: 919k → 58k candidate rows).

    Scale shape: the sketch postings (≤ ROLLING_BOTTOM rows per doc)
    are MATERIALIZED once and feed the df-count and both self-join
    sides; pairs emerge only from an equi-join on fingerprint, with
    fanout per fingerprint bounded by the df caps — never all-pairs.
    """
    from kafka_streams_learning_spark.operators.textops import (
        rolling_fingerprints,
    )

    post = _materialized(
        rolling_fingerprints(df, text_col=text_col, id_col=id_col).select(
            F.col(id_col).alias("id"), F.explode("fp_sketch").alias("h")
        ),
        tag="x48-postings",
    )
    ndocs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    rare = (
        post.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df_h"))
        .crossJoin(F.broadcast(ndocs))
        .filter(
            (F.col("df_h") * max_df_denom <= F.col("n_docs"))
            & (F.col("df_h") <= max_df_abs)
        )
        .select("h")
    )
    # the pruned postings feed BOTH self-join sides; without this second
    # materialization Catalyst plans the whole df-cap arm (postings
    # count + corpus count + rare filter) once per side (x11 precedent)
    p = _materialized(post.join(rare, "h"), tag="x48-pruned")
    a, b = p.alias("a"), p.alias("b")
    return (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def sketch_calibration(
    df: DataFrame,
    n_perm: int,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_rows: int = 50_000,
    force: bool = False,
) -> DataFrame:
    """Sketch-accuracy diagnostic: for every LSH candidate pair, the
    MinHash-ESTIMATED Jaccard (fraction of agreeing permutation minima —
    the estimator whose expectation IS the true Jaccard, Broder 1997)
    side by side with the EXACT shingle Jaccard, plus the absolute
    error. This is the table you consult when tuning n_perm / band
    layout: if the error column is wide at your dedup threshold, the
    sketch is under-sized for the corpus.

    Scale shape: signatures are MATERIALIZED once and feed three arms
    (band bucketing inside `lsh_candidate_pairs` plus both sides of the
    estimate join); the exact arm is the x07 inverted-index form —
    bounded by shared-shingle postings, never all-pairs — LEFT-joined so
    a hash-collision-induced false candidate surfaces with exact 0.0
    (the worst-case row the diagnostic exists to expose) instead of
    silently dropping. Both ratios are exact small-integer divisions, so
    the rows replay bit-for-bit across engines.

    Because the uncapped candidate set (``bucket_cap=None``) is
    quadratic in hot-bucket size, this diagnostic is mechanically
    size-guarded like `similarity.embedding_near_dup_pairs`: inputs
    over ``max_rows`` raise unless ``force=True`` (fixtures are ≤ 5,000
    documents at sf0.1). The production dedup path is the CAPPED
    `lsh_candidate_pairs` (x11)."""
    from kafka_streams_learning_spark.operators.guards import guard_exact_arm
    from kafka_streams_learning_spark.operators.materialize import materialized

    guard_exact_arm(df, max_rows, force, "sketch_calibration",
                    "lsh_candidate_pairs (default bucket_cap)")

    sig = materialized(
        minhash_signatures(df, n_perm, k, text_col, id_col), tag="x53-sig"
    )
    # bucket_cap=None: the calibration row's contract is the FULL
    # candidate set (its oracle replays the uncapped OR-join)
    pairs = lsh_candidate_pairs(
        df, n_perm, bands=n_perm, k=k, text_col=text_col, id_col=id_col,
        sig=sig, bucket_cap=None,
    )
    sa = sig.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(n_perm)],
    )
    sb = sig.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(n_perm)],
    )
    matches = None
    for i in range(n_perm):
        m = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = m if matches is None else matches + m
    est = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a", "doc_b", (matches / F.lit(float(n_perm))).alias("est_jaccard")
        )
    )
    exact = ngram_jaccard_pairs(df, 0.0, k, text_col, id_col).select(
        "doc_a", "doc_b", F.col("jaccard").alias("exact_jaccard")
    )
    ex = F.coalesce(F.col("exact_jaccard"), F.lit(0.0))
    return est.join(exact, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "est_jaccard",
        ex.alias("exact_jaccard"),
        F.abs(F.col("est_jaccard") - ex).alias("abs_err"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    chunk_tokens: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    bloom_prefilter: bool = False,
) -> DataFrame:
    """C4-style duplicated-span REMOVAL (Raffel et al. 2020, §2.2:
    "we discarded all but one of any three-sentence span occurring more
    than once in the data set") at fixed token-chunk granularity: each
    document is partitioned into disjoint `chunk_tokens`-token chunks,
    every chunk that occurs more than once corpus-wide is removed
    EXCEPT its canonical first occurrence (lexicographic min of
    (doc_id, chunk_idx)), and each document is rebuilt from its
    surviving chunks in original order.

    This is the rewrite counterpart of `dup_span_stats` (x44): x44
    *scores* cross-document duplication; this operator *edits* the
    corpus, the actual C4 cleanup step. Returns
    (doc_id, clean_text, n_chunks, n_removed) — one row per input
    document (a fully-duplicated document survives as clean_text = ''
    so the removal is auditable downstream).

    Scale shape: one map-side-combinable chunk-key aggregate
    (count + min(struct(doc_id, idx)) — both partial-aggregable, so a
    boilerplate chunk occurring in a billion documents collapses to one
    row per map task before the exchange; no window/sort over the hot
    key), then the corpus LEFT-joins only the *duplicated* subset of
    the chunk table (occ > 1) — typically a small fraction, so AQE
    broadcasts it and the probe side never shuffles; at larger dup
    sets the join degrades to a shuffle that AQE skew-splits. Final
    per-document rebuild is one doc-key aggregate. The chunk table
    feeds BOTH arms (dup-stats build and probe), so it is MATERIALIZED
    once — one tokenize+chunk pass over the corpus, not two (the
    x07/x48/x59 shared-postings precedent). At 100 TB, hash each chunk
    to 128 bits before the aggregate to keep exchange rows narrow (the
    string form is kept here so the DuckDB oracle joins on exact
    text), and set `bloom_prefilter=True` when the duplicated set
    exceeds the broadcast threshold: the dup-chunk set compiles to a
    ~2 KB Bloom filter probed as pure expressions on the chunk scan, so
    only bloom-positive chunks (true dups + a bounded false-positive
    trickle) enter the join at all — rows the bloom clears are kept
    outright, which is exact because the bloom admits no false
    negatives and every survivor is re-checked by the join (the
    x59/x61 contract). Output is bit-identical either way
    (property-tested).

    NULL text coalesces to '' (one empty chunk) so the document still
    emits its output row — "one row per input document" is the audit
    contract; silently dropping NULL-text docs would make the rewrite
    unaccountable (the oracle coalesces identically).
    """
    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    n = F.ceil(F.size(toks) / F.lit(float(chunk_tokens))).cast("int")
    chunk_at = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)
    )
    chunks = _materialized(
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.transform(F.sequence(F.lit(0), n - 1), chunk_at)).alias(
                "ci", "chunk"
            ),
        ),
        tag="x65-chunks",
    )
    dups = (
        chunks.groupBy("chunk")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.min(F.struct(F.col("id"), F.col("ci"))).alias("keeper"),
        )
        .filter(F.col("occ") > 1)
        .select("chunk", "keeper")
    )
    keep = F.col("keeper").isNull() | (
        (F.col("id") == F.col("keeper.id")) & (F.col("ci") == F.col("keeper.ci"))
    )
    probe = chunks
    if bloom_prefilter:
        from kafka_streams_learning_spark.functions.hashing import hash32
        from kafka_streams_learning_spark.operators.sketches import (
            bloom_build,
            bloom_contains,
            bloom_words_dense,
        )

        words = bloom_words_dense(bloom_build(dups.select("chunk"), "chunk"))
        probe = chunks.filter(bloom_contains(hash32(F.col("chunk")), words))
        cleared = chunks.filter(
            ~bloom_contains(hash32(F.col("chunk")), words)
        ).select("id", "ci", "chunk", F.lit(True).alias("keep"))
    flagged = probe.join(dups, "chunk", "left").select(
        "id", "ci", "chunk", keep.alias("keep")
    )
    if bloom_prefilter:
        flagged = flagged.unionByName(cleared)
    return (
        flagged.groupBy("id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"), F.struct("ci", "chunk"))
                        )
                    ),
                    lambda s: s["chunk"],
                ),
            ).alias("clean_text"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum((~F.col("keep")).cast("long")).alias("n_removed"),
        )
        .select(F.col("id").alias(id_col), "clean_text", "n_chunks", "n_removed")
    )


def lsh_plan(n_perm: int, target_jaccard: float) -> dict:
    """Pick the (bands, rows_per_band) layout whose LSH S-curve
    threshold sits closest to ``target_jaccard`` — the operational
    sizing question every 100 TB dedup run starts with. Standard
    banding analysis (Broder 1997 / LSH chapter of Mining of Massive
    Datasets): with b bands of r rows, a pair of true Jaccard s
    collides in ≥1 band with probability 1-(1-s^r)^b, and the curve's
    inflection sits at ~(1/b)^(1/r). This is a pure driver-side
    function over divisors of ``n_perm`` — use it to parameterize
    `lsh_candidate_pairs` instead of hand-tuning:

        plan = lsh_plan(n_perm=128, target_jaccard=0.8)
        pairs = lsh_candidate_pairs(df, 128, plan["bands"])

    Returns bands, rows_per_band, the realized curve threshold, and
    the miss probability for a pair exactly AT the target (the recall
    bound the sketch promises)."""
    if not 0.0 < target_jaccard < 1.0:
        raise ValueError("target_jaccard must be in (0, 1)")
    best = None
    for bands in range(1, n_perm + 1):
        if n_perm % bands:
            continue
        rows = n_perm // bands
        threshold = (1.0 / bands) ** (1.0 / rows)
        cand = (abs(threshold - target_jaccard), bands, rows, threshold)
        if best is None or cand < best:
            best = cand
    _, bands, rows, threshold = best
    miss_at_target = (1.0 - target_jaccard ** rows) ** bands
    return {
        "bands": bands,
        "rows_per_band": rows,
        "curve_threshold": threshold,
        "miss_prob_at_target": miss_at_target,
    }
