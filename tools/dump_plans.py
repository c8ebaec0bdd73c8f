"""Regenerate PLANS.md: formatted physical plans for headline queries,
annotated with the plan property each one is expected to exhibit (the
same properties tests/test_plans.py asserts). Run from the repo root:

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kafka_streams_learning_spark import get_spark
from kafka_streams_learning_spark.catalog import all_queries
from kafka_streams_learning_spark.plans.explain import formatted_plan

SF_DIR = "/root/testdata/sf0.001"

SHOWCASE: dict[str, str] = {
    "q02_high_value_filter": (
        "The threshold reaches the scan: `PushedFilters: "
        "[IsNotNull(o_totalprice), GreaterThanOrEqual(o_totalprice,250000.0)]` "
        "— at 100 TB the filter runs inside the parquet reader, not after it."
    ),
    "q03_count_by_key": (
        "HashAggregate appears below AND above the Exchange — map-side "
        "partial aggregation means the shuffle carries one row per key per "
        "partition, not one row per input record."
    ),
    "q05_sliding_count": (
        "The event-anchored sliding window is a RANGE-frame Window aggregate "
        "— one hash Exchange on `user_id`, a per-key sort, NO join node. The "
        "former range self-join materialized O(p²) rows per p-event window "
        "(quadratic on hot keys, and its post-join agg pinned the join "
        "partitioning so AQE's skew rewrite could not fire); the window form "
        "is linear per key at any skew. ReadSchema shows the scan pruned to "
        "3 columns."
    ),
    "q07_enrich_join": (
        "BroadcastHashJoin with zero shuffle Exchanges: the customer "
        "dimension broadcasts, the orders fact side streams through "
        "unshuffled — the property that makes enrichment free at 100 TB."
    ),
    "x08_simhash": (
        "Zero Exchanges and a single `md5` in the plan: the token-hash array "
        "is materialized once in its own projection and 32 bit-aggregates "
        "read it inside one WholeStageCodegen span."
    ),
    "x13_ann_ivf_topk": (
        "Centroids and probe set broadcast (BroadcastNestedLoopJoin / "
        "BroadcastHashJoin); the corpus's only shuffle is the per-vector "
        "assignment groupBy — candidate generation never shuffles the corpus."
    ),
    "x19_hash_split": (
        "Zero Exchanges: split assignment is one md5-derived expression "
        "fused into the scan's projection — at 100 TB the split column is "
        "free and partition pruning is untouched."
    ),
    "x20_balanced_sample": (
        "WindowGroupLimit below the per-stratum Exchange: because the cap "
        "is a literal, each task prunes to its local top-cap rows BEFORE the "
        "skewed few-strata shuffle — the skew costs O(cap) memory, not "
        "O(stratum)."
    ),
    "x25_rollup_stats": (
        "Expand + single keyed Exchange with partial HashAggregate: all "
        "rollup levels materialize in one pass — K granularities never "
        "cost K scans of the fact table."
    ),
    "x22_asof_join": (
        "No join node anywhere: the as-of join is Union + one keyed "
        "Exchange + running Window `last(ignorenulls)` — the candidate-row "
        "explosion of a band join never exists."
    ),
    "x26_embedding_near_dups_lsh": (
        "The scale-safe near-dup path. Shown: the pair-table GENERATION "
        "plan (the raw operator) — candidate pairs come from hash joins "
        "on (band, bucket) over the materialized banded bucket table, no "
        "CartesianProduct / BroadcastNestedLoopJoin anywhere (asserted), "
        "unlike x10's exact all-pairs oracle; re-scoring joins are "
        "id-keyed hash joins over the candidate set only. The catalog "
        "row itself reads the family's ONE materialized generation "
        "(catalog_ext._emb_pairs — x28's group closure consumes the same "
        "table), so its own plan is a bare parquet scan."
    ),
    "x30_repetition_stats": (
        "Zero Exchanges: the repetition quality gate is pure per-row "
        "expressions on one column-pruned scan. The shingle array is "
        "staged behind an alias so the tokenize chain plans once, not "
        "once per referencing column."
    ),
    "x31_decontamination": (
        "The benchmark shingle set is BroadcastExchange'd (an eval suite "
        "is KB-MB); corpus shingles dedupe per-document with "
        "array_distinct BEFORE the explode and carry their own count "
        "through it, so the only corpus-side Exchange is the hit-set "
        "aggregation — decontamination as a broadcast semi-join, never "
        "all-pairs."
    ),
    "x32_gopher_quality": (
        "Zero Exchanges and a 2-column ReadSchema: every Gopher rule is "
        "a per-row expression over one scan. The token array, its "
        "lowercased twin, and the line array are staged as named columns "
        "so each expensive build plans once — the 8 stopword tests share "
        "one lowercase pass instead of inlining eight."
    ),
    "x34_mixture_sample": (
        "The fact side is never shuffled: the only Exchanges belong to "
        "the |strata|-row count aggregate that feeds the rate table; "
        "rates come back to the scan via BroadcastHashJoin and the keep "
        "decision is one md5 threshold per row — at 100 TB the sampler "
        "costs a scan plus a broadcast of a handful of rows."
    ),
    "x35_kmeans_clusters": (
        "The final assignment (shown) is Exchange-free: the whole k×d "
        "centroid matrix is ONE nested-array literal and the argmin is "
        "array_min(transform(...)) — a constant-size expression fused "
        "into the scan projection. Each Lloyd iteration adds one "
        "partial-agg groupBy whose shuffle carries k rows."
    ),
    "x36_sequence_packing": (
        "One Exchange (hashpartitioning on the packing bucket) + one "
        "per-bucket Sort + a running-sum Window — the whole packing "
        "layout in a single shuffle whose parallelism is the bucket "
        "count, i.e. the target shard count at 100 TB."
    ),
    "x39_semantic_dedup": (
        "Pair generation is a cluster-id SortMergeJoin/ShuffledHashJoin "
        "— key-equal, so AQE can skew-split it; no CartesianProduct or "
        "BroadcastNestedLoop anywhere (plan-tested). Σ|cluster|² pairs "
        "instead of n²."
    ),
    "x40_training_layout": (
        "The WHOLE prep pipeline — language ID, quality gate, dedup "
        "survivorship, train-split decision, sequence packing — in TWO "
        "Exchanges (plan-tested): the fingerprint window and the packing "
        "window. Every feature and the split hash fuse into the scan "
        "projection; cleaning features ride through the packing window "
        "as carried columns, so there is no join back."
    ),
    "x43_unigram_logprob": (
        "The CCNet-style unigram-LM score in one materialized count table "
        "+ one scoring pass: the corpus parquet is scanned exactly ONCE "
        "for scoring (every other scan is the tiny materialized "
        "token-count table feeding the vocab/mass arms), the ≤V-row vocab "
        "joins as a BroadcastHashJoin, and the top-V cut collapses to "
        "TakeOrderedAndProject — partial top-V per task before the "
        "singleton exchange. The corpus never shuffles on token."
    ),
    "x44_dup_span_stats": (
        "ExactSubstr-style shared-window detection as an equi-join on the "
        "shingle postings — no CartesianProduct (plan-tested); the "
        "run-length and ratio rollups reuse one doc-key partitioning."
    ),
    "x47_quality_weighted_sample": (
        "Quality-weighted keep as a broadcast of the 3-row bucket-rate "
        "table onto the scored table + one md5 threshold per row — the "
        "scored table itself never shuffles for the keep decision, and "
        "the rates are exact binary fractions so the integer hash "
        "threshold is engine-identical."
    ),
    "x48_containment_pairs": (
        "Winnowing containment pairs: the per-window Horner sketch runs "
        "once inside the postings materialization (no ascii() in this "
        "plan — plan-tested), boilerplate fingerprints are pruned by a "
        "pure-integer df cap, and pairs emerge only from the fingerprint "
        "equi-join — never all-pairs."
    ),
    "x49_bm25_topk": (
        "BM25 retrieval: the corpus tokenizes once inside the doclens "
        "materialization (no split() in this plan — plan-tested); dfreq, "
        "the (qid,term) map, and the 1-row N/avgdl aggregate all "
        "broadcast, so the only shuffles key on (doc,term) and "
        "(qid,doc); the literal rank cap plans a WindowGroupLimit."
    ),
    "x50_jl_projection": (
        "JL projection: a pure per-row pipeline — zero exchanges; since "
        "r14 all out_dim components compute in ONE ArrowEvalPython "
        "matrix-product stage (the interpreted aggregate folds measured "
        "~0.9 ms/vector; bit-identical numpy fold, see "
        "_jl_snapped_arrow), with the grid snap and CSV render as "
        "expressions above it."
    ),
    "x51_epoch_shuffle": (
        "Epoch shuffle: shard assignment per-row, rank within shard by "
        "an independent hash — one hash-partitioned exchange, per-shard "
        "sorts, never a global range sort."
    ),
    "x52_ann_jl_topk": (
        "Two-stage ANN: the materialized projected corpus joins the "
        "broadcast queries; WindowGroupLimit prunes candidates per task "
        "and the exact re-rank reuses the query-key partitioning — one "
        "exchange for both ranking stages."
    ),
    "x54_hll_cardinality": (
        "Portable HyperLogLog: the register arm partial-MAXes map-side "
        "so its exchange carries at most 64 (source, bucket, m_b) rows "
        "per group — sketch size, not data size; the exact-distinct arm "
        "is the sanctioned expensive calibration baseline."
    ),
    "x55_zipf_slope": (
        "Zipf OLS: token counts partial-aggregate map-side; the "
        "rank window sorts the |vocab|-sized count table, never the "
        "corpus; the five moment sums are exact integers, collapsing "
        "per group."
    ),
    "x56_dsir_importance": (
        "DSIR scoring: both <=V-row vocab tables and both UNK scalars "
        "broadcast; the corpus explode feeds BroadcastHashJoins and a "
        "doc-key hash-agg with map-side combine — the corpus is never "
        "shuffled on token."
    ),
    "x60_histogram_quantiles": (
        "Histogram quantiles: per-group stats broadcast onto the scan; "
        "the bucket aggregate partial-counts map-side into at most "
        "groups×1024 rows; the cumulative window and rank probes run "
        "over that histogram, never the corpus; the exact-percentile "
        "calibration arm is the documented expensive baseline."
    ),
    "x58_cms_frequencies": (
        "Count-Min: the counter build groupBys (row_i, bucket) — at most "
        "d×w groups with map-side partial counts; the probe side joins "
        "the BROADCAST counter table and MINs over d rows per token."
    ),
    "x59_bloom_decontamination": (
        "Bloom prefilter: the benchmark filter compiles to driver "
        "literals and probes as pure per-row bitwise expressions in the "
        "corpus scan; the single join in the plan is the exact "
        "ground-truth arm's broadcast membership check."
    ),
    "x57_length_band_filter": (
        "Percentile band trim: the cumulative window runs over the "
        "(lang, n_chars) HISTOGRAM aggregate, not the corpus; the "
        "two thresholds per language broadcast back onto the scan as a "
        "hash join + filter — no corpus-wide sort anywhere."
    ),
    "x61_bloom_semi_join": (
        "Runtime-filter join: the small side's key set compiles to a "
        "~2 KB driver-side Bloom filter probed as md5-derived bitwise "
        "expressions inside the big side's scan Filter — non-matching "
        "rows die BEFORE the (single, broadcast) re-check semi join; "
        "the big side never shuffles. Output is provably identical to "
        "the plain semi join (no false negatives, survivors re-checked)."
    ),
    "x62_kmeans_sampled": (
        "Hash-sampled Lloyd training: each training iteration scans only "
        "the hash32(vec_id)%4 slice (the 100 TB lever — training cost "
        "divides by the sample rate), while the final full-corpus "
        "assignment stays a zero-shuffle literal-centroid expression — "
        "no join node, no Exchange in the assignment plan."
    ),
    "x65_span_dedup": (
        "C4-style span removal: the chunk-key aggregate partial-"
        "aggregates map-side (partial_count + partial_min below the "
        "Exchange — a boilerplate chunk occurring in a billion documents "
        "collapses to one row per map task; no window/sort on the hot "
        "key), and only the duplicated subset (occ > 1) joins back — it "
        "broadcasts, so the corpus probe side reaches its doc-key "
        "rebuild with exactly two Exchanges end-to-end."
    ),
    "x66_salted_join": (
        "Salted skew join: the join keys are (event_type, _salt) on both "
        "sides — the 5-hot-key fact table scatters across 8 sub-keys by "
        "a whole-row hash while the dim side replicates 8× via explode, "
        "so a hot key occupies 8 reducers instead of serializing on one. "
        "Output is provably identical to the plain join (oracle is the "
        "unsalted SQL)."
    ),
    "x69_star_join_rollup": (
        "Star-schema rollup: four chained BroadcastHashJoins — the fact "
        "scan streams through one codegen stage with zero exchanges "
        "until the final group-by. Revenue is snapped to integer cents "
        "per row before the sum, so the aggregate is exact and "
        "partition-order-free in both engines."
    ),
    "x68_hll_rollup": (
        "HLL rollup: every parquet scan in this plan is the MATERIALIZED "
        "fine-level register table (the corpus was scanned once, inside "
        "the eager materialization) — each coarser COUNT(DISTINCT) level "
        "is a MAX-merge of sketch rows, so adding reporting levels "
        "never rescans the corpus. The register monoid makes the merge "
        "exact: rolled-up registers are identical to registers computed "
        "directly at the coarser level."
    ),
    "x67_nb_classifier": (
        "Hashed-NB quality classifier, scoring pass: ZERO raw-corpus "
        "scans — the doc prior is collected into exact-integer literals "
        "at train time, so every scan here is a tiny materialized model "
        "table from `nb_train`'s single tokenize (the `-tok` token "
        "table feeds training AND this scoring join). The ≤16-row "
        "weight table enters as BroadcastHashJoin; the token side is "
        "never shuffled on token or bucket — its only Exchange is the "
        "doc-key aggregate, with map-side partials."
    ),
}


# Queries whose catalog row reads a shared materialized intermediate:
# showcase the GENERATION plan (the shape that runs at 100 TB) instead of
# the bare read-back scan.
def _x26_generation(spark):
    from kafka_streams_learning_spark import catalog_ext as X
    from kafka_streams_learning_spark.operators import similarity
    from kafka_streams_learning_spark.sources.batch import load_table

    return similarity.embedding_near_dup_pairs_lsh(
        load_table(spark, SF_DIR, "embeddings"),
        X.EMB_DUP_THRESHOLD,
        bands=X.NEARDUP_BANDS,
        planes_per_band=X.NEARDUP_PPB,
        dim=X.EMB_DIM,
    )


GENERATION_PLAN = {
    "x26_embedding_near_dups_lsh": _x26_generation,
}


def main() -> None:
    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    by_name = {q.name: q for q in all_queries()}
    out = [
        "# PLANS — physical plans of headline queries\n",
        "Generated by `tools/dump_plans.py` at sf0.001; the annotated",
        "properties are asserted by `tests/test_plans.py` so they cannot",
        "silently regress.\n",
    ]
    for name, note in SHOWCASE.items():
        if name in GENERATION_PLAN:
            df = GENERATION_PLAN[name](spark)
        else:
            df = by_name[name].spark(spark, SF_DIR)
        out.append(f"## {name}\n")
        out.append(note + "\n")
        out.append("```")
        out.append(formatted_plan(df).strip())
        out.append("```\n")
    with open(os.path.join(ROOT, "PLANS.md"), "w", encoding="utf-8") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
