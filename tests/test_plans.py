"""Plan-shape regression tests: the 100 TB contract of each operator is a
physical-plan property (pushdown, pruning, broadcast, no cartesian
product, bounded shuffle count). A timing can't regress in CI; a plan
shape can — these tests pin the shapes."""

from __future__ import annotations

import pytest

from kafka_streams_learning_spark.catalog import REFERENCE_QUERIES
from kafka_streams_learning_spark.catalog_ext import EXTENSION_QUERIES
from kafka_streams_learning_spark.plans import explain as E

from .conftest import SF_DIR

_BY_NAME = {q.name: q for q in REFERENCE_QUERIES + EXTENSION_QUERIES}


def _df(spark, name):
    return _BY_NAME[name].spark(spark, SF_DIR)


def _write_row_groups(out_dir, n_groups: int) -> str:
    """A copy of the fixture documents split into `n_groups` parquet row
    groups (the layout of a scan at scale); returns its path."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF_DIR}/documents.parquet")
    path = f"{out_dir}/documents.parquet"
    pq.write_table(t, path, row_group_size=-(-t.num_rows // n_groups))
    assert pq.ParquetFile(path).metadata.num_row_groups == n_groups
    return path


def test_filter_pushdown_reaches_scan(spark):
    # the threshold comparison must reach the parquet reader, not run post-scan
    pf = E.pushed_filters(_df(spark, "q02_high_value_filter"))
    assert "GreaterThanOrEqual(o_totalprice,250000.0)" in pf


def test_column_pruning(spark):
    # q05 projects 3 columns; the scan must not read the rest of events
    rs = E.read_schema(_df(spark, "q05_sliding_count"))
    assert "event_type" not in rs and "props" not in rs


def test_enrich_join_broadcasts_dimension(spark):
    df = _df(spark, "q07_enrich_join")
    plan = E.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    # the fact side must NOT shuffle: zero shuffle exchanges in the plan
    assert E.exchange_count(df) == 0


def test_no_cartesian_products(spark):
    # every join in the catalog must be key-based (hash/broadcast), never
    # a cartesian product — x09's broadcast nested loop over the tiny
    # query set is the one sanctioned exception. x11's catalog row now
    # reads the family's shared materialized pair table, so its
    # GENERATION plan is pinned separately below.
    for name in [
        "q05_sliding_count",
        "q06_interval_join",
        "q07_enrich_join",
        "x07_ngram_jaccard_dups",
        "x13_ann_ivf_topk",
    ]:
        assert not E.has_cartesian(_df(spark, name)), name


def test_minhash_pair_generation_not_cartesian(spark):
    # x11/x33's shared pair table is built by the banded bucket self-join;
    # the catalog rows read its materialized output, so the generation
    # plan is pinned on the raw operator (the shape that runs at 100 TB)
    from kafka_streams_learning_spark import catalog_ext as X
    from kafka_streams_learning_spark.operators import dedup
    from kafka_streams_learning_spark.sources.batch import load_table

    df = dedup.lsh_candidate_pairs(
        load_table(spark, SF_DIR, "documents"),
        n_perm=X.MINHASH_PERMS,
        bands=X.MINHASH_PERMS,
    )
    assert not E.has_cartesian(df)


def test_lsh_near_dup_plan_is_bucket_bounded(spark):
    # x26 is the catalogued scale path for x10's semantics: candidate
    # generation must be the banded bucket equi-join — no CartesianProduct
    # and no BroadcastNestedLoopJoin anywhere in the plan (x10's exact
    # cross join is the small-N oracle, not the scale path). The catalog
    # row reads the shared materialized pair table (catalog_ext._emb_pairs),
    # so the generation shape is pinned on the raw operator here.
    from kafka_streams_learning_spark import catalog_ext as X
    from kafka_streams_learning_spark.operators import similarity
    from kafka_streams_learning_spark.sources.batch import load_table

    df = similarity.embedding_near_dup_pairs_lsh(
        load_table(spark, SF_DIR, "embeddings"),
        X.EMB_DUP_THRESHOLD,
        bands=X.NEARDUP_BANDS,
        planes_per_band=X.NEARDUP_PPB,
        dim=X.EMB_DIM,
    )
    plan = E.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert not E.has_cartesian(df)


def test_clean_corpus_is_one_scan_one_shuffle(spark):
    # the composed cleaning pipeline must fuse: one parquet scan of
    # documents (features are co-computed expressions) and one exchange
    # (the fingerprint window) — not a scan per stage
    import re

    df = _df(spark, "x16_clean_corpus")
    plan = E.formatted_plan(df)
    # "(N) Scan parquet" appears once per scan node in the detail section
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert E.exchange_count(df) == 1


def test_ivf_broadcasts_centroids_and_probes(spark):
    # the corpus side must never shuffle for candidate generation: the
    # centroid table and probe set are broadcast, the only exchange is the
    # per-vector assignment groupBy (+ the small windows)
    plan = E.formatted_plan(_df(spark, "x13_ann_ivf_topk"))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sliding_count_is_join_free_single_exchange(spark):
    # the event-anchored sliding count must be a RANGE-frame window agg:
    # one hash exchange on the key, a per-key sort, NO join node. The
    # former range self-join materialized O(p²) pairs per p-event window
    # — quadratic on hot keys, and its post-join agg pinned the join
    # partitioning so AQE's skew rewrite could not even fire. The window
    # form is linear per key regardless of skew; this test pins that.
    df = _df(spark, "q05_sliding_count")
    plan = E.formatted_plan(df)
    assert "Window" in plan and "Join" not in plan
    assert E.exchange_count(df) == 1
    assert "user_id" in plan


def test_agg_is_partial_before_shuffle(spark):
    # count-by-key must partial-aggregate map-side: HashAggregate appears
    # both below and above the exchange
    plan = E.formatted_plan(_df(spark, "q03_count_by_key"))
    assert plan.count("HashAggregate") >= 2


def test_frame_sampling_is_shuffle_free(spark):
    # x27's decode-minimization plan: Arrow decode boundary + strided
    # index explode, zero Exchanges — at scale the frame-sampling pass
    # never moves a blob between executors
    df = _df(spark, "x27_frame_sampling")
    assert E.exchange_count(df) == 0
    assert "Generate" in E.formatted_plan(df)  # the explode node


def test_asof_join_has_no_join_operator(spark):
    # the union-merge as-of join must plan as union + ONE keyed exchange +
    # window — no join node, no candidate-row explosion
    df = _df(spark, "x22_asof_join")
    plan = E.formatted_plan(df)
    assert "Join" not in plan
    assert E.exchange_count(df) == 1


@pytest.mark.parametrize(
    "name",
    [
        "q01_uppercase",
        "x01_text_stats",
        "x08_simhash",
        "x19_hash_split",
        "x23_pii_redaction",
    ],
)
def test_expression_only_ops_have_no_shuffle(spark, name, tmp_path):
    # per-row expression operators must be shuffle-free single passes
    if name != "x08_simhash":
        assert E.exchange_count(_df(spark, name)) == 0, name
        return
    # SimHash fans a scan with fewer row groups than cores out on the doc
    # id (sources.batch.fan_out), so the one-row-group fixture plans
    # exactly that one exchange, below the single md5; an input with a
    # row group per core — the shape of every scan at scale — plans none
    df = _df(spark, name)
    plan = E.formatted_plan(df)
    (ex,) = E.exchanges(df)
    assert ex.startswith("hashpartitioning(doc_id#") and "REPARTITION_BY_NUM" in ex
    assert plan.count("md5(") == 1
    # formatted details list children before parents
    assert plan.index("Arguments: hashpartitioning") < plan.index("md5(")
    _write_row_groups(tmp_path, spark.sparkContext.defaultParallelism)
    assert E.exchange_count(_BY_NAME[name].spark(spark, str(tmp_path))) == 0


def test_fan_out_hash_partitions_a_scan_with_fewer_row_groups_than_cores(
    spark, tmp_path
):
    from kafka_streams_learning_spark.sources.batch import fan_out, load_table

    n = spark.sparkContext.defaultParallelism
    for groups, fans_out in ((n - 1, True), (n, False)):
        d = tmp_path / str(groups)
        d.mkdir()
        _write_row_groups(d, groups)
        df = load_table(spark, str(d), "documents")
        out = fan_out(df, "doc_id")
        if fans_out:
            (ex,) = E.exchanges(out)
            assert ex.startswith("hashpartitioning(doc_id#") and f", {n}), " in ex
            assert "REPARTITION_BY_NUM" in ex
        else:
            # the same DataFrame, so the same physical plan
            assert out is df and E.exchange_count(out) == 0


def test_fan_out_leaves_non_local_and_fileless_inputs_alone(spark):
    from kafka_streams_learning_spark.sources.batch import fan_out, load_table

    remote = load_table(spark, SF_DIR, "documents")
    # a footer read of this path would raise: the scheme check comes first
    remote.inputFiles = lambda: ["s3a://corpus/documents.parquet"]
    assert fan_out(remote, "doc_id") is remote
    made = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert fan_out(made, "doc_id") is made


def test_per_document_kernels_reuse_the_fan_out_partitioning(spark):
    # hashing the fan-out on the doc id satisfies the per-document
    # operators above it: x07's postings distinct and x21's (doc, term)
    # aggregate and per-doc window plan no exchange of their own
    from kafka_streams_learning_spark.operators import dedup
    from kafka_streams_learning_spark.sources.batch import load_table

    docs = load_table(spark, SF_DIR, "documents")
    (ex,) = E.exchanges(dedup._shingled(docs, "text", "doc_id", 3))
    assert "REPARTITION_BY_NUM" in ex
    x21 = E.exchanges(_df(spark, "x21_tfidf_topk"))
    assert any("REPARTITION_BY_NUM" in e for e in x21)
    assert not [e for e in x21 if "doc_id#" in e and "REPARTITION_BY_NUM" not in e]


def test_simhash_builds_in_few_jvm_round_trips(spark, monkeypatch):
    # the 32 bit terms are one SQL expression: built from Column lambdas
    # they took ~6,000 py4j round trips per DataFrame
    from py4j.clientserver import ClientServerConnection

    calls = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        calls.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    _df(spark, "x08_simhash")
    monkeypatch.undo()
    assert 0 < len(calls) < 500


def test_rollup_is_one_scan_one_shuffle(spark):
    # every granularity level must come from ONE pass: a single parquet
    # scan feeding an Expand, with map-side partial aggregation and one
    # keyed exchange — never K scans for K levels
    import re

    df = _df(spark, "x25_rollup_stats")
    plan = E.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Expand" in plan
    assert E.exchange_count(df) == 1
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize("name", ["x20_balanced_sample", "x21_tfidf_topk"])
def test_topk_windows_prune_map_side(spark, name):
    # a literal rank filter over row_number must plan a WindowGroupLimit:
    # each task keeps only its local top-k per partition key before the
    # window exchange — without it, x20's per-stratum sort would ship
    # whole strata through a handful of reducers
    assert E.plan_has(_df(spark, name), "WindowGroupLimit"), name


def test_staging_snap_uses_single_sort_exchange(spark):
    """The replay-staging tie-run snap must ride the ntile window's global
    sort, not add a second exchange: both Window operators share one sort
    because the snap's ORDER BY is a prefix of the ntile's (the earlier
    partitionBy(order_by) form hash-shuffled the whole table again)."""
    from kafka_streams_learning_spark.sources.batch import load_table
    from kafka_streams_learning_spark.sources.replay import ranked_chunks

    ranked = ranked_chunks(load_table(spark, SF_DIR, "events"), 4, "ts")
    assert E.exchange_count(ranked) == 1


def test_repetition_stats_is_shuffle_free(spark):
    # the repetition quality gate must be a pure per-row scan: zero
    # exchanges — at 100 TB it runs at scan speed
    assert E.exchange_count(_df(spark, "x30_repetition_stats")) == 0


def test_decontamination_broadcasts_benchmark(spark):
    # the benchmark shingle set is broadcast; the corpus side never
    # all-pairs-joins and never shuffles for candidate detection (the
    # only exchanges are the tiny bench distinct + the hit-set agg)
    df = _df(spark, "x31_decontamination")
    plan = E.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert not E.has_cartesian(df)
    assert E.exchange_count(df) <= 2


def test_gopher_quality_is_shuffle_free(spark):
    # every Gopher rule is a per-row expression over one scan of text:
    # zero exchanges, and the scan reads only (doc_id, text)
    df = _df(spark, "x32_gopher_quality")
    assert E.exchange_count(df) == 0
    rs = E.read_schema(df)
    assert "source" not in rs and "lang" not in rs


def test_dedup_survivors_verdict_join_not_cartesian(spark):
    # the pipeline's verdict join (corpus ⋈ component labels) and the
    # banded candidate join must both be equi-joins — no cartesian
    # product anywhere in the end-to-end dedup plan
    assert not E.has_cartesian(_df(spark, "x33_dedup_survivors"))


def test_mixture_sample_facts_never_shuffled(spark):
    # the fact table must reach the keep-filter via broadcast only: the
    # sole exchanges belong to the |strata|-row count aggregate feeding
    # the rate table; the facts themselves join the rates broadcast-side
    # and filter per-row
    df = _df(spark, "x34_mixture_sample")
    plan = E.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert not E.has_cartesian(df)
    # count-agg side: one partial+final pair of exchanges max (plus the
    # 1-row scalar reduce); none of them carry the fact scan
    assert E.exchange_count(df) <= 3


def test_unigram_logprob_broadcasts_vocab_no_cartesian(spark):
    # x43's scoring pass must be explode → BROADCAST join against the
    # top-V vocab → doc-key hash-agg; the corpus must never shuffle on
    # token for scoring, and the top-V cut must prune map-side
    df = _df(spark, "x43_unigram_logprob")
    plan = E.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    # unpartitioned literal rank filter → TakeOrderedAndProject (partial
    # top-V per task before the singleton exchange, same shape as x41)
    assert "TakeOrdered" in plan
    # the corpus itself is scanned exactly once: every other scan is the
    # materialized (tiny) token-count table feeding the vocab arms
    import re as _re

    scans = len(_re.findall(r"\(\d+\) Scan parquet", plan))
    mat_scans = plan.count("mat-x43-token-counts")
    assert scans - mat_scans == 1, (scans, mat_scans)


def test_dup_span_stats_is_postings_bounded(spark):
    # x44's shared-shingle detection is an equi-join on the shingle
    # postings — all-pairs must never materialize
    plan = E.formatted_plan(_df(spark, "x44_dup_span_stats"))
    assert "CartesianProduct" not in plan


def test_containment_pairs_no_cartesian_and_single_sketch_scan(spark):
    # x48: pairs come from the fingerprint equi-join over materialized
    # postings — never all-pairs, and the expensive per-window Horner
    # sketch expression runs inside the materialization write, not
    # inline on each of the three postings consumers
    df = _df(spark, "x48_containment_pairs")
    plan = E.formatted_plan(df)
    assert "CartesianProduct" not in plan
    # the rolling-hash sketch is an ArrowEvalPython stage since r10; its
    # absence from THIS plan proves every consumer reads the materialized
    # parquet instead of re-planning the expensive pass per arm (the old
    # `ascii(` probe went vacuous when the fold left the JVM)
    assert "ArrowEvalPython" not in plan and "ascii(" not in plan
    # the df-cap arm ran once, inside the pruned-postings materialization:
    # the pair join reads ONLY mat-x48-pruned (both sides), never re-plans
    # the postings count / corpus count subtree
    assert plan.count("mat-x48-pruned") >= 2
    assert "mat-x48-postings" not in plan


def test_bm25_tokenizes_once_and_prunes_topk_map_side(spark):
    # x49: the corpus tokenize pass runs inside the x49-doclens
    # materialization write; every consumer (N/avgdl aggregate, tf table)
    # reads the materialized parquet — a `split(` in THIS plan would mean
    # the corpus is tokenized once per consumer arm
    df = _df(spark, "x49_bm25_topk")
    plan = E.formatted_plan(df)
    assert "split(" not in plan
    assert "CartesianProduct" not in plan
    # dfreq / the (qid,term) map / the 1-row stats all broadcast — the
    # only shuffles key on (doc, term) and (qid, doc)
    assert "BroadcastHashJoin" in plan
    # the literal rank cap prunes per-task before the |queries|-key exchange
    assert E.plan_has(df, "WindowGroupLimit")


def test_jl_projection_is_pure_map(spark):
    # x50: one narrow per-row Arrow stage over the embedding scan —
    # zero exchanges, never a join side. Since r14 the out_dim×dim dot
    # products run as ONE vectorized ArrowEvalPython matrix product
    # (the interpreted aggregate/zip_with folds measured ~0.9 ms/vector
    # and unrolled expressions re-created the rh_band_buckets codegen
    # blow-up — see _jl_snapped_arrow); row-at-a-time Python stays
    # forbidden, and exactly one Arrow stage means the kernel is never
    # duplicated by the optimizer
    df = _df(spark, "x50_jl_projection")
    assert E.exchange_count(df) == 0
    plan = E.formatted_plan(df)
    assert "BatchEvalPython" not in plan
    # one operator = one "(n) ArrowEvalPython" detail header (the bare
    # name also appears in the tree rendering, so count headers)
    import re

    assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1


def test_epoch_shuffle_single_exchange(spark):
    # x51: shard assignment is a per-row expression; the only shuffle is
    # the shard-key exchange feeding the per-shard rank — no global sort
    df = _df(spark, "x51_epoch_shuffle")
    assert E.exchange_count(df) == 1
    plan = E.formatted_plan(df)
    assert "rangepartitioning" not in plan.lower()


def test_jl_topk_prunes_before_single_exchange(spark):
    # x52: candidate cap is a literal rank filter → WindowGroupLimit
    # prunes per task; the exact re-rank window reuses the query-key
    # partitioning, so the whole two-stage rank costs ONE exchange; the
    # corpus side joins the broadcast queries, never a shuffle join
    df = _df(spark, "x52_ann_jl_topk")
    assert E.plan_has(df, "WindowGroupLimit")
    assert E.exchange_count(df) == 1
    plan = E.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan


def test_hll_sketch_arm_shuffles_registers_not_tokens(spark):
    # x54's sketch arm must partial-MAX map-side: the register exchange
    # carries (group, bucket, m_b) rows, never raw tokens. The exact
    # calibration arm keeps its distinct shuffle (it is the ground-truth
    # baseline, like x09/x10). No cartesian anywhere; the estimate join
    # on source is a small-aggregate join.
    df = _df(spark, "x54_hll_cardinality")
    plan = E.formatted_plan(df)
    assert not E.has_cartesian(df)
    # both arms partial-aggregate before their exchange
    assert "partial_max" in plan.lower() or "HashAggregate" in plan


def test_length_band_filter_never_windows_corpus(spark):
    # x57's thresholds come from the (lang, n_chars) histogram; the
    # corpus-side filter is a broadcast join. A Window over the raw
    # corpus would sort whole languages in single tasks — the window may
    # only run AFTER the histogram aggregate.
    df = _df(spark, "x57_length_band_filter")
    plan = E.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert not E.has_cartesian(df)
    # the window input must be an aggregate, not a parquet scan: check
    # the plan has a HashAggregate between Scan and Window by asserting
    # only histogram-width columns reach the window sort
    import re as _re

    scans = _re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 2  # corpus scan + histogram scan (reused source)


def test_dsir_scoring_is_broadcast_only(spark):
    # x56: both vocab tables and both UNK scalars broadcast; the corpus
    # explode is never shuffled on token for scoring
    df = _df(spark, "x56_dsir_importance")
    plan = E.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cms_counter_exchange_is_sketch_sized(spark):
    # x58's build arm groupBys (row_i, bucket) — ≤ d×w groups, partial-
    # counted map-side; probing joins the broadcast counter table
    df = _df(spark, "x58_cms_frequencies")
    plan = E.formatted_plan(df)
    assert not E.has_cartesian(df)
    assert "BroadcastHashJoin" in plan


def test_bloom_probe_is_pure_expression(spark):
    # x59's bloom probe must be per-row literals — the ONLY join in the
    # plan is the exact ground-truth arm's broadcast semi-join; if the
    # bloom probe ever becomes a join there will be more than one
    import re as _re

    df = _df(spark, "x59_bloom_decontamination")
    plan = E.formatted_plan(df)
    assert not E.has_cartesian(df)
    # count detail-section nodes only (the tree section repeats names)
    joins_ = _re.findall(
        r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan
    )
    assert len(joins_) == 1, joins_


def test_bloom_semi_join_filters_in_scan_then_broadcasts(spark):
    # x61: the bloom prefilter must be pure per-row expressions on the
    # big (orders) side — the plan's only join is the broadcast re-check
    # semi join, and the orders side never shuffles (zero Exchanges).
    import re as _re

    df = _df(spark, "x61_bloom_semi_join")
    plan = E.formatted_plan(df)
    assert not E.has_cartesian(df)
    joins_ = _re.findall(
        r"\(\d+\) (?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)", plan
    )
    assert len(joins_) == 1 and "BroadcastHashJoin" in joins_[0], joins_
    # the ONE shuffle Exchange belongs to the (tiny) customer-key
    # distinct on the build side; the orders side reads scan → Filter →
    # join probe with no Exchange of its own
    assert E.exchange_count(df) <= 1
    # the bloom probe rides the scan-side Filter as md5-derived bitwise
    # expressions, BEFORE the join
    assert plan.count("md5") >= 1 and "element_at" in plan


def test_sampled_kmeans_assignment_is_zero_shuffle(spark):
    # x62: full-corpus assignment against sampled-trained centroids is a
    # pure literal-centroid expression — no join node, no Exchange.
    df = _df(spark, "x62_kmeans_sampled")
    plan = E.formatted_plan(df)
    assert not E.has_cartesian(df)
    assert "Join" not in plan
    assert E.exchange_count(df) == 0


def test_span_dedup_broadcasts_dup_set_and_combines_map_side(spark):
    # x65: the duplicated-chunk set (occ > 1) is filtered BEFORE the
    # join and broadcast — the corpus probe side never shuffles. The
    # chunk-key aggregate partial-aggregates map-side (a boilerplate
    # chunk collapses per map task, no window/sort over the hot key).
    # Exactly two Exchanges: chunk-key agg + doc-key rebuild.
    df = _df(spark, "x65_span_dedup")
    plan = E.formatted_plan(df)
    assert not E.has_cartesian(df)
    assert "BroadcastHashJoin" in plan and "LeftOuter" in plan
    assert "partial_min" in plan and "partial_count" in plan
    assert E.exchange_count(df) == 2


def test_salted_join_scatters_fact_and_replicates_dim(spark):
    # x66: the join must key on (event_type, _salt) — the hot key is
    # sharded across `salt` reducers — and the dim side carries the
    # replicating explode(sequence(...)). No cartesian product.
    import re as _re

    df = _df(spark, "x66_salted_join")
    plan = E.formatted_plan(df)
    assert not E.has_cartesian(df)
    # join keys are (event_type, _salt) on BOTH sides
    assert _re.search(r"Left keys \[2\]: \[event_type#\d+, _salt#\d+\]", plan)
    assert _re.search(r"Right keys \[2\]: \[event_type#\d+, _salt#\d+\]", plan)
    # dim side replicates via explode (sequence constant-folds to an
    # array literal); fact side scatters via the whole-row hash
    assert "explode(" in plan and "pmod(xxhash64(struct(" in plan


def test_nb_classifier_scoring_is_broadcast_only(spark):
    # x67: the <=CLS_BUCKETS-row weight table and the 1-row scalars must
    # broadcast into the scoring pass; the corpus is never shuffled on
    # token/bucket. The corpus tokenize ran ONCE inside the eager
    # x67-…-tok materialization (nb_train), whose compact token table
    # feeds both training and scoring, and the doc prior is collected at
    # train time into exact-integer literals — so THIS plan scans ZERO
    # raw-corpus parquet: every scan is a tiny materialized model table.
    df = _df(spark, "x67_nb_classifier")
    plan = E.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "-tok" in plan and "-counts" in plan
    import re as _re

    scans = len(_re.findall(r"\(\d+\) Scan parquet", plan))
    mat_scans = plan.count("mat-x67")
    assert scans == mat_scans and scans > 0, (scans, mat_scans)


def test_hll_rollup_reads_only_the_register_table(spark):
    # x68: the corpus was scanned ONCE inside the eager register-table
    # materialization; the rollup plan itself reads ONLY that sketch
    # table — every coarser reporting level is a MAX-merge of sketch
    # rows, so adding levels never rescans the corpus.
    df = _df(spark, "x68_hll_rollup")
    plan = E.formatted_plan(df)
    import re as _re

    scans = len(_re.findall(r"\(\d+\) Scan parquet", plan))
    mat_scans = plan.count("mat-x68")
    assert scans == mat_scans and scans >= 3, (scans, mat_scans)


def test_star_join_broadcasts_every_dimension(spark):
    # x69: the canonical star shape — all four dimension joins must be
    # broadcast hash joins, so the fact side streams with ZERO exchanges
    # until the final group-by (one exchange total); no sort-merge join
    # may appear. Five scans: the fact + four dims.
    import re as _re

    df = _df(spark, "x69_star_join_rollup")
    plan = E.formatted_plan(df)
    # each node renders in the tree AND the details section — count the
    # numbered detail entries, one per physical node
    assert len(_re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 4
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert E.exchange_count(df) == 1
    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 5


def test_catalog_wide_plan_antipattern_sweep(spark):
    """Every batch catalog row's physical plan, swept against the two
    no-judgment scale rules: no row-at-a-time Python UDFs
    (BatchEvalPython) and no CartesianProduct anywhere — the mechanical
    complement to this file's hand-pinned shapes (tools/plan_audit.py,
    runnable standalone against any sf)."""
    from tools.plan_audit import audit

    from .conftest import SF_DIR

    assert audit(spark, SF_DIR) == []


def test_session_skips_rocksdb_row_count_maintenance(spark):
    """r14 floor profile: RocksDB's metrics-only numTotalStateRows
    maintenance costs a get-before-put on every state write (~12% of the
    interval-join family at sf0.1, where one micro-batch writes ~750k
    join-state rows). Pin the session default so a refactor can't
    silently reintroduce it."""
    from kafka_streams_learning_spark.session import _BASE_CONF

    key = "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows"
    assert _BASE_CONF[key] == "false"
    assert spark.conf.get(key) == "false"


def test_session_hides_console_progress_bars(spark):
    """Stage progress bars on stdout crowded the bench's JSON line out of
    the ~2 KB captured stdout tail (BENCH_r13-r15); the session default
    turns them off."""
    from kafka_streams_learning_spark.session import _BASE_CONF

    key = "spark.ui.showConsoleProgress"
    assert _BASE_CONF[key] == "false"
    assert spark.sparkContext.getConf().get(key) == "false"
