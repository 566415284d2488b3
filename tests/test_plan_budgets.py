"""Shuffle-budget regression tests for the dataset-assembly and TSDB
operators: each operator's physical plan must not exceed its designed
Exchange count (SCALE.md), and scans must prune to the referenced
columns. Guards against a refactor silently inserting a shuffle."""

import pytest
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.operators.sampling import (
    chunk_documents,
    hash_split,
    pack_sequences,
    stratified_sample,
    weighted_sample,
)
from query_refinement_dsit_databases_2021_spark.operators.simsearch import (
    quantize_int8,
)
from query_refinement_dsit_databases_2021_spark.operators.textops import (
    repetition_stats,
)
from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
    anomaly_zscore,
    value_histogram,
)


@pytest.fixture(scope="module")
def pdocs(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan") / "docs.parquet")
    spark.createDataFrame(
        [(i, f"w{i} w{i+1} w{i+2}", "en", f"s{i % 2}") for i in range(40)],
        "doc_id long, text string, lang string, source string",
    ).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def pevents(spark, tmp_path_factory):
    from datetime import datetime

    path = str(tmp_path_factory.mktemp("plan") / "events.parquet")
    spark.createDataFrame(
        [
            (i, datetime(2024, 1, 1, 0, i % 60), 1, "a", float(i))
            for i in range(60)
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double",
    ).write.parquet(path)
    return spark.read.parquet(path)


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _exchanges(df):
    return _plan(df).count("Exchange")


def test_map_side_operators_have_zero_exchanges(pdocs):
    assert _exchanges(hash_split(pdocs)) == 0
    assert _exchanges(stratified_sample(pdocs)) == 0  # Bernoulli path
    assert _exchanges(chunk_documents(pdocs)) == 0
    assert _exchanges(repetition_stats(pdocs)) == 0
    assert (
        _exchanges(weighted_sample(pdocs.withColumn("w", F.lit(0.5)), "w")) == 0
    )


def test_single_shuffle_operators(pdocs, pevents):
    assert _exchanges(stratified_sample(pdocs, exact=True)) == 1
    assert _exchanges(pack_sequences(pdocs)) == 1
    assert _exchanges(anomaly_zscore(pevents)) == 1


def test_quantize_is_map_only(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plan") / "emb.parquet")
    spark.createDataFrame(
        [(i, [float(i), 1.0 - i]) for i in range(10)],
        "vec_id long, embedding array<double>",
    ).write.parquet(path)
    embs = spark.read.parquet(path)
    assert _exchanges(quantize_int8(embs)) == 0


def test_histogram_budget_and_pruning(pevents):
    df = value_histogram(pevents)
    # one agg exchange + one range exchange for the result-set sort
    assert _exchanges(df) <= 2
    plan = _plan(df)
    scan = next(l for l in plan.split("\n") if "FileScan" in l)
    assert "event_type" in scan and "value" in scan
    assert "user_id" not in scan  # column pruning reached the scan


def test_chunk_scan_prunes_columns(pdocs):
    plan = _plan(chunk_documents(pdocs))
    scan = next(l for l in plan.split("\n") if "FileScan" in l)
    assert "doc_id" in scan and "text" in scan
    assert "lang" not in scan and "source" not in scan


def test_decontaminate_broadcasts_eval_side(pdocs):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        decontaminate,
    )

    corpus = pdocs.where(F.col("doc_id") % 5 != 0)
    ev = pdocs.where(F.col("doc_id") % 5 == 0)
    df = decontaminate(corpus, ev, k=2)
    plan = _plan(df)
    # the eval shingle set joins the corpus as a broadcast — the corpus
    # never shuffles for candidate filtering
    assert "BroadcastHashJoin" in plan
    # total Exchange budget 4: eval-side distinct + per-doc hit count +
    # the final doc-join, PLUS the BroadcastExchange (which the count
    # includes); a regression inserting a corpus-side pre-join shuffle
    # pushes this over
    assert plan.count("Exchange") <= 4


def test_scrub_pii_is_map_only(pdocs):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        scrub_pii,
    )

    df = scrub_pii(pdocs)
    assert _exchanges(df) == 0
    scan = next(l for l in _plan(df).split("\n") if "FileScan" in l)
    assert "lang" not in scan and "source" not in scan  # pruned


def test_quantized_topk_single_corpus_scan(spark, tmp_path_factory):
    from query_refinement_dsit_databases_2021_spark.operators.simsearch import (
        quantized_cosine_topk,
    )

    path = str(tmp_path_factory.mktemp("plan") / "emb2.parquet")
    spark.createDataFrame(
        [(i, [float(i % 7), 1.0 - (i % 5), 0.5 * i]) for i in range(30)],
        "vec_id long, embedding array<double>",
    ).write.parquet(path)
    emb = spark.read.parquet(path)
    plan = _plan(quantized_cosine_topk(emb, n_queries=4, k=2))
    # join strategy + shuffle budget: queries broadcast via
    # BroadcastNestedLoop, then a single SHUFFLE exchange for the
    # per-query top-k window (the BroadcastExchange is by design).
    # Scans: exactly two FileScans — the FULL corpus once, plus the
    # pruned queries side (vec_id < n_queries pushed to the scan);
    # a third scan would mean the corpus is read twice.
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("FileScan") == 2, plan
    shuffles = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    )
    assert shuffles <= 1, plan


def test_round2_operator_exchange_budgets(pdocs, pevents, spark, tmp_path_factory):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        incremental_dedup,
    )
    from query_refinement_dsit_databases_2021_spark.operators.scale import zorder_key
    from query_refinement_dsit_databases_2021_spark.operators.simsearch import (
        label_centroid_stats,
    )
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        boilerplate_coverage,
        ngram_topk,
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        downsample_m4,
        time_weighted_avg,
    )

    # zorder_key: pure projection, zero shuffles
    zed = pdocs.select(zorder_key(F.col("doc_id"), F.col("doc_id") + 1))
    assert _exchanges(zed) == 0

    # boilerplate: df groupBy + join-back + per-doc rollup — at most
    # THREE hash shuffles; a small df side may broadcast (2)
    assert _plan(boilerplate_coverage(pdocs)).count("Exchange hashpartitioning") <= 3

    # ngram_topk: one partial-agg shuffle; top-k must be
    # TakeOrderedAndProject — no global Sort
    top = ngram_topk(pdocs)
    assert "TakeOrderedAndProject" in _plan(top)
    assert _plan(top).count("Exchange hashpartitioning") == 1

    # label stats: ONE map-side-combinable shuffle with partial_sum
    path = str(tmp_path_factory.mktemp("plan") / "emb.parquet")
    spark.createDataFrame(
        [(i, [float(i), float(i + 1)], i % 3) for i in range(30)],
        "vec_id long, embedding array<float>, label int",
    ).write.parquet(path)
    pemb = spark.read.parquet(path)
    ls_plan = _plan(label_centroid_stats(pemb))
    assert ls_plan.count("Exchange hashpartitioning") == 1
    assert "partial_sum" in ls_plan or "partial" in ls_plan

    # incremental dedup: anti join + one groupBy; base side carries the
    # KEY column only (pruned scan)
    inc_plan = _plan(
        incremental_dedup(pdocs.where("doc_id < 20"), pdocs.where("doc_id >= 20"))
    )
    assert "LeftAnti" in inc_plan

    # TWA: ONE exchange — the (bucket, key) aggregation's clustered
    # distribution is satisfied by the lead-window's hash(key)
    # partitioning (subset-key co-location), so no second shuffle
    assert _plan(time_weighted_avg(pevents)).count("Exchange hashpartitioning") == 1

    # M4: four rank windows over the SAME (bucket,key) partitioning —
    # one exchange, re-sorted per ordering, never re-shuffled
    m4_plan = _plan(downsample_m4(pevents))
    assert m4_plan.count("Exchange hashpartitioning") == 1


def test_lsh_ann_topk_budget(spark):
    """LSH ANN is bucketed candidate generation + exact rescore: every
    join must be an equi-join (a NestedLoop/Cartesian here would mean
    the bucket keys fell out of the plan and it degenerated to
    all-pairs), the query side broadcasts, and the shuffle budget is
    the candidate distinct + the per-query rank window."""
    from query_refinement_dsit_databases_2021_spark.operators.simsearch import (
        lsh_ann_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(lsh_ann_topk(emb))
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "BroadcastHashJoin" in plan  # queries ride a broadcast
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_salted_join_shuffles_on_salt(spark):
    """The whole point of the salted join: with broadcast off (the
    100 TB case — both sides too big), the shuffle keys must be
    key+salt so one hot key spreads over n_salts reducers."""
    from query_refinement_dsit_databases_2021_spark.operators.scale import (
        salted_join,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_quantity"
    )
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderdate"
    )
    keys = [
        ("spark.sql.autoBroadcastJoinThreshold", "-1"),
        ("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1"),
    ]
    saved = {k: spark.conf.get(k, None) for k, _ in keys}
    try:
        for k, v in keys:
            spark.conf.set(k, v)
        plan = _plan(salted_join(li, orders, ["l_orderkey"]))
    finally:
        for k, old in saved.items():
            if old is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, old)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    # both exchanges carry (l_orderkey, __salt) — the skew spreader
    import re

    parts = re.findall(r"hashpartitioning\([^)]*\)", plan)
    salted = [p for p in parts if "l_orderkey" in p and "__salt" in p]
    assert len(salted) >= 2, parts


def test_cdc_exchange_budgets(pevents):
    from query_refinement_dsit_databases_2021_spark.operators.cdc import (
        merge_upsert,
        scd2_history,
    )

    # SCD2: lag, running sum, groupBy(key, ver), lead — all on the same
    # hash(key) partitioning: exactly ONE exchange
    assert _plan(scd2_history(pevents)).count("Exchange hashpartitioning") == 1

    base = pevents.where("event_id % 2 = 0").select("user_id", "ts", "value")
    upd = pevents.where("event_id % 2 = 1")
    mp = _plan(merge_upsert(base, upd))
    assert "LeftAnti" in mp
    assert mp.count("Exchange hashpartitioning") <= 3


def test_round3_operator_exchange_budgets(pdocs, pevents, spark, tmp_path_factory):
    from query_refinement_dsit_databases_2021_spark.operators.sampling import (
        temperature_mix,
    )
    from query_refinement_dsit_databases_2021_spark.operators.simsearch import (
        embedding_outliers,
    )
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        gopher_rules,
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        cross_correlation,
        detect_gaps,
    )

    # Gopher rules: pure codegen projection, zero exchanges
    assert _exchanges(gopher_rules(pdocs)) == 0

    # temperature mix: ONE window shuffle on the group key (counts are
    # a plan-time aggregate, not part of the served plan)
    assert (
        _plan(temperature_mix(pdocs)).count("Exchange hashpartitioning") == 1
    )

    # gap detection (auto): lag window + per-key median agg, median
    # joined back via broadcast — two hash exchanges, no NLJ
    gp = _plan(detect_gaps(pevents))
    assert gp.count("Exchange hashpartitioning") <= 2
    assert "NestedLoop" not in gp and "Cartesian" not in gp

    # cross-correlation: daily agg + day equi-join + per-lag agg; the
    # only NLJ is the <= (max_lag+1)-row lag-spine broadcast
    xp = _plan(cross_correlation(pevents, key_a="a", key_b="a", max_lag=3))
    assert xp.count("BroadcastNestedLoopJoin") <= 1
    assert xp.count("Exchange hashpartitioning") <= 3

    # embedding outliers: served plan is map-only + the 1-row stats
    # broadcast (dim-means are plan-time literals, like IVF centroids)
    path = str(tmp_path_factory.mktemp("plan") / "emb3.parquet")
    spark.createDataFrame(
        [(i, [float(i % 7), 1.0 - (i % 5)]) for i in range(20)],
        "vec_id long, embedding array<float>",
    ).write.parquet(path)
    op = _plan(embedding_outliers(spark.read.parquet(path)))
    assert op.count("Exchange hashpartitioning") == 0


def test_round3b_operator_exchange_budgets(pdocs, pevents):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        minhash_estimate_error,
    )
    from query_refinement_dsit_databases_2021_spark.operators.scale import (
        skew_profile,
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        anomaly_mad,
        level_shift,
        seasonal_anomaly,
    )

    # skew profiler: ONE groupBy exchange; top-k must be
    # TakeOrderedAndProject (never a global Sort of the key space);
    # the corpus total arrives via broadcast, not a second shuffle
    sp = _plan(skew_profile(pevents, "user_id"))
    assert "TakeOrderedAndProject" in sp
    assert sp.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in sp

    # MAD anomaly: median sort-aggs joined back via broadcast — the
    # med subtree is consumed twice (MAD input + final stats), so its
    # partial-agg-sized exchange appears twice plus MAD's own: 3 hash
    # exchanges, each carrying ~|keys| rows per task; what matters is
    # no sort-merge join / NLJ ever touches the event-sized side
    mp = _plan(anomaly_mad(pevents))
    assert mp.count("Exchange hashpartitioning") <= 3
    assert "SortMergeJoin" not in mp and "CartesianProduct" not in mp

    # seasonal baseline: ONE map-combinable profile agg, broadcast back
    sa = _plan(seasonal_anomaly(pevents))
    assert sa.count("Exchange hashpartitioning") == 1
    assert "SortMergeJoin" not in sa

    # level shift: both contrast frames share ONE window sort per key
    lp = _plan(level_shift(pevents))
    assert lp.count("Exchange hashpartitioning") == 1
    assert lp.count("Window") == 1

    # minhash attestation: banded candidate join + candidate-restricted
    # exact intersection — equi-joins only, never a cross product
    ep = _plan(minhash_estimate_error(pdocs))
    assert "CartesianProduct" not in ep
    assert "BroadcastNestedLoopJoin" not in ep


def test_round3c_operator_exchange_budgets(pevents, spark):
    from query_refinement_dsit_databases_2021_spark.operators.cdc import (
        delta_log_replay,
    )
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        pagerank,
        triangle_count,
    )
    from query_refinement_dsit_databases_2021_spark.operators.scale import (
        bloom_prefilter_stats,
    )
    from query_refinement_dsit_databases_2021_spark.streaming.windows import (
        lateness_profile,
    )

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 11) for i in range(40)], "src long, dst long"
    )

    # PageRank: join+agg rounds only — no cartesian/NLJ anywhere, and
    # the per-iteration contribution agg is hash-partitioned (partial
    # agg map-side); 5 iterations => bounded Exchange growth
    pp = _plan(pagerank(edges, 2))
    assert "CartesianProduct" not in pp
    assert "BroadcastNestedLoopJoin" not in pp

    # triangles: equi-joins over the oriented edge list only
    tp = _plan(triangle_count(edges))
    assert "CartesianProduct" not in tp
    assert "BroadcastNestedLoopJoin" not in tp

    # bloom prefilter: the probe side consults the filter via
    # BROADCAST joins only — a sort-merge join here would mean the
    # probe shuffled, defeating the operator's whole point
    build = spark.createDataFrame([(k,) for k in (1, 5, 9)], "k long")
    probe = spark.createDataFrame([(k,) for k in range(50)], "p long")
    bp = _plan(bloom_prefilter_stats(build, "k", probe, "p"))
    assert "SortMergeJoin" not in bp
    assert bp.count("BroadcastHashJoin") == 3

    # lateness: ONE window sort per key feeding ONE map-combinable agg
    lp = _plan(lateness_profile(pevents))
    assert lp.count("Window") == 1
    assert lp.count("Exchange hashpartitioning") <= 2

    # delta-log replay: one anti-join + one agg, metadata-scale
    adds = spark.createDataFrame(
        [(i, i * 10, i % 4) for i in range(30)], "file_id long, bytes long, ver long"
    )
    removes = spark.createDataFrame(
        [(i, i % 4 + 1) for i in range(0, 30, 3)], "file_id long, ver long"
    )
    # budget: anti-join shuffles both (key-only) sides + the final agg
    dp = _plan(delta_log_replay(adds, removes, 2))
    assert "CartesianProduct" not in dp
    assert dp.count("Exchange hashpartitioning") <= 3


def test_round3d_operator_exchange_budgets(pevents, spark):
    from query_refinement_dsit_databases_2021_spark.operators.scale import (
        countmin_estimate,
        layout_advisor,
    )
    from query_refinement_dsit_databases_2021_spark.operators.sessions import (
        session_funnel,
    )

    # funnel: the sessionize exchange is the ONLY hash exchange — all
    # three stage windows and the per-session agg reuse it; the final
    # 1-row agg adds its single-partition exchange
    fp = _plan(session_funnel(pevents))
    assert fp.count("Exchange hashpartitioning") <= 2
    assert "SortMergeJoin" not in fp and "CartesianProduct" not in fp

    # advisor: ONE data-sized shuffle on (col, value); the rank
    # windows run over the candidate-count-sized stats frame
    ap = _plan(layout_advisor(pevents, ["event_type", "user_id"]))
    assert "CartesianProduct" not in ap

    # count-min: counter build is map-combinable (partial agg before
    # the one (row,bucket) exchange); probes are broadcast — the
    # stream is never sort-merge joined
    stream = spark.createDataFrame([(k % 9,) for k in range(100)], "k long")
    queries = spark.createDataFrame([(1,), (2,)], "k long")
    cp = _plan(countmin_estimate(stream, "k", queries, "k"))
    assert "SortMergeJoin" not in cp
    assert cp.count("BroadcastHashJoin") == 3


def test_round3e_operator_exchange_budgets(pevents, spark):
    from query_refinement_dsit_databases_2021_spark.operators.cdc import wap_gate
    from query_refinement_dsit_databases_2021_spark.operators.multimodal import (
        shard_pack,
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        sax_symbols,
    )

    # WAP gate: two day rollups + one day-keyed join + final sort —
    # metadata-scale; no NLJ
    wp = _plan(wap_gate(pevents, pevents.where("event_id % 2 = 0")))
    assert "CartesianProduct" not in wp
    assert "BroadcastNestedLoopJoin" not in wp

    # shard pack: sizes-only projection into a per-modality window +
    # one agg — payload bytes never reach an exchange
    media = spark.createDataFrame(
        [(i, "image", bytearray(b"x" * (10 + i))) for i in range(20)],
        "doc_id long, media_type string, content binary",
    )
    sp = _plan(shard_pack(media))
    assert sp.count("Window") == 1
    # the window input projects only (media_type, doc_id, bytes)
    assert "octet_length" in sp and "content" not in sp.split("Window")[1][:400]

    # SAX: both windows and the agg ride the same per-key partitioning
    xp = _plan(sax_symbols(pevents))
    assert xp.count("Exchange hashpartitioning") <= 2


def test_round3f_operator_exchange_budgets(pdocs, pevents, spark):
    from query_refinement_dsit_databases_2021_spark.operators.cdc import (
        dq_expectations,
        vacuum_plan,
    )
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        ngram_containment_pairs,
    )
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        link_prediction,
    )
    from query_refinement_dsit_databases_2021_spark.operators.sessions import (
        retention_cohorts,
    )
    from query_refinement_dsit_databases_2021_spark.operators.simsearch import (
        hard_negative_topk,
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        seasonal_strength,
    )

    # hard negatives: broadcast queries x ONE corpus scan — the label
    # filter rides the NLJ, nothing is sort-merge joined
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0], i % 2) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    hp = _plan(hard_negative_topk(emb, n_queries=2, k=3))
    assert "SortMergeJoin" not in hp
    assert hp.count("BroadcastNestedLoopJoin") == 1

    # DQ suite: one scan, conditional sums fused map-side — the only
    # exchange is the final single-partition gather
    edges_free = _plan(
        dq_expectations(
            pdocs.selectExpr(
                "doc_id AS l_orderkey", "doc_id AS l_partkey",
                "doc_id AS l_suppkey", "2.0 AS l_quantity",
                "1.0 AS l_extendedprice", "0.05 AS l_discount",
                "0.04 AS l_tax", "'A' AS l_returnflag",
                "'F' AS l_linestatus",
                "TIMESTAMP '1995-01-01 00:00:00' AS l_shipdate",
            )
        )
    )
    assert edges_free.count("Exchange hashpartitioning") == 0

    # link prediction: equi-joins only — wedge join, anti join, degree
    # joins; never a cartesian/NLJ pair enumeration
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "src long, dst long"
    )
    lp = _plan(link_prediction(edges))
    assert "CartesianProduct" not in lp
    assert "BroadcastNestedLoopJoin" not in lp

    # retention: cohort sizes come back via broadcast, never SMJ on
    # the triangle
    rp = _plan(retention_cohorts(pevents))
    assert "CartesianProduct" not in rp
    assert "BroadcastHashJoin" in rp

    # seasonal strength: (key,hour) agg + key re-agg + 24-row argmax
    # window — bounded exchange count, no joins beyond the tiny peak
    sp2 = _plan(seasonal_strength(pevents))
    assert sp2.count("Exchange hashpartitioning") <= 4
    assert "CartesianProduct" not in sp2

    # containment: same capped self-join shape as jaccard — equi-join
    # on the shingle, no NLJ
    cp = _plan(ngram_containment_pairs(pdocs, max_posting=64))
    assert "CartesianProduct" not in cp
    assert "BroadcastNestedLoopJoin" not in cp

    # vacuum: one metadata equi-join
    adds = spark.createDataFrame(
        [(i, 10, 0) for i in range(10)], "file_id long, bytes long, ver long"
    )
    removes = spark.createDataFrame(
        [(i, 1) for i in range(5)], "file_id long, ver long"
    )
    vp = _plan(vacuum_plan(adds, removes, version=10))
    assert "CartesianProduct" not in vp and "BroadcastNestedLoopJoin" not in vp


def test_round3g_operator_exchange_budgets(pdocs, pevents, spark):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        winnow_pairs,
    )
    from query_refinement_dsit_databases_2021_spark.operators.search import (
        keyword_extract,
        prf_expanded_topk,
    )
    from query_refinement_dsit_databases_2021_spark.operators.simsearch import (
        contrastive_pairs,
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        holt_winters,
        seasonal_strength,
    )

    # winnowing: window + capped equi self-join — never a cartesian
    wp = _plan(winnow_pairs(pdocs, min_shared=1))
    assert "CartesianProduct" not in wp
    assert "BroadcastNestedLoopJoin" not in wp

    # keywords: full-vocabulary path still equi-joins only; the
    # n_docs 1-row aggregate arrives by broadcast, not a driver count
    kp = _plan(keyword_extract(pdocs))
    assert "CartesianProduct" not in kp
    assert "BroadcastNestedLoopJoin" in kp or "BroadcastHashJoin" in kp

    # PRF: since r09 the bounded-small intermediates (feedback set,
    # candidate terms, expansion terms, final postings) are eagerly
    # localCheckpointed to truncate the 70-scan/318-Exchange composed
    # plan, so the RETURNED plan scores materialized postings against
    # broadcast query/idf tables — the candidate semi-joins live in the
    # checkpoint jobs now. Pin the truncated shape: no cartesian, the
    # materialized inputs present, and a bounded Exchange count (the
    # old composed plan held hundreds).
    pp = _plan(prf_expanded_topk(pdocs, spark))
    assert "CartesianProduct" not in pp
    assert "Scan ExistingRDD" in pp
    assert pp.count("Exchange") <= 20, pp.count("Exchange")

    # contrastive pairs: exactly ONE corpus NLJ feeds both the
    # positive and negative slices
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5], i % 2) for i in range(20)],
        "vec_id long, embedding array<float>, label int",
    )
    cp = _plan(contrastive_pairs(emb, n_queries=2, k=3))
    assert cp.count("BroadcastNestedLoopJoin") <= 2  # scored reused per slice
    assert "SortMergeJoin" not in cp

    # strategy-P kernels: exactly one ArrowEvalPython-free
    # FlatMapGroupsInPandas over the bucket agg
    hw = _plan(holt_winters(pevents))
    assert hw.count("FlatMapGroupsInPandas") == 1
    ss = _plan(seasonal_strength(pevents))
    assert "FlatMapGroupsInPandas" not in ss  # pure JVM, no Python


def test_round3h_operator_exchange_budgets(spark):
    """Verdict-r03 item: Exchange pins for the round-3 session-4
    additions that lacked them (MMR, personalized pagerank, k-core,
    shard balance; Holt-Winters was already pinned in round3g)."""
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        kcore,
        personalized_pagerank,
    )
    from query_refinement_dsit_databases_2021_spark.operators.multimodal import (
        shard_balance,
        shard_pack,
    )
    from query_refinement_dsit_databases_2021_spark.operators.simsearch import (
        mmr_topk,
    )

    edges = spark.createDataFrame(
        [(i, (i * 3) % 13) for i in range(30)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(1,), (2,)], "node long")

    # PPR: per iteration ONE groupBy(dst) shuffle plus the rank<->edge
    # equi-join exchanges (SMJ on big-big is the plan you want at
    # scale). Since r09 the seed flag is broadcast-joined ONCE into the
    # localCheckpointed node frame, so the iteration plan scans a
    # materialized (node, outdeg, _seed) state with NO per-round
    # broadcast join at all. Growth must stay LINEAR in iterations — a
    # quadratic lineage blow-up would show as super-linear Exchange
    # counts.
    p2 = _plan(personalized_pagerank(edges, seeds, iterations=2))
    p3 = _plan(personalized_pagerank(edges, seeds, iterations=3))
    for p in (p2, p3):
        assert "CartesianProduct" not in p
        assert "BroadcastNestedLoopJoin" not in p
        # seed flag folded into the checkpointed node state: the loop
        # body carries zero joins against the seed table
        assert "_seed" in p and "Scan ExistingRDD" in p
        assert "BroadcastHashJoin" not in p
    g2 = p2.count("Exchange hashpartitioning")
    g3 = p3.count("Exchange hashpartitioning")
    assert g3 - g2 <= 10 and g3 <= 30, (g2, g3)

    # k-core: the peel loop localCheckpoints each round, so the
    # returned plan is the LAST round only — two survivor semi-joins +
    # one degree agg, a bounded tail regardless of peel depth
    kp = _plan(kcore(edges, k=2, max_iters=10))
    assert "CartesianProduct" not in kp
    assert "BroadcastNestedLoopJoin" not in kp
    assert kp.count("Exchange hashpartitioning") <= 6, kp

    # shard balance: manifest-scale — the shard_pack window exchange
    # plus ONE media_type repartition that every balance window and
    # the final agg reuse; no joins at all
    media = spark.createDataFrame(
        [(i, "image", bytearray(b"x" * (10 + i))) for i in range(20)],
        "doc_id long, media_type string, content binary",
    )
    bp = _plan(shard_balance(shard_pack(media)))
    assert bp.count("Exchange hashpartitioning") <= 2, bp
    assert "Join" not in bp

    # MMR: the production plan is checkpoint-truncated per greedy
    # round (the iterative tail runs on candidate-count-sized frames,
    # never the corpus) => the served plan carries NO hash exchange.
    # The fully unrolled lineage (checkpointing neutralized) must
    # still contain no non-broadcast cartesian anywhere.
    emb = spark.createDataFrame(
        [(i, [float(i % 3), 1.0, 0.5]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    served = _plan(mmr_topk(emb, n_queries=2, k=3, c=5))
    assert served.count("Exchange hashpartitioning") == 0, served
    _DF = type(emb)
    orig_ckpt = _DF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self
    try:
        full = _plan(mmr_topk(emb, n_queries=2, k=3, c=5))
    finally:
        _DF.localCheckpoint = orig_ckpt
    assert "CartesianProduct" not in full


def test_round4_operator_exchange_budgets(spark):
    """Exchange pins for the round-4 additions (PQ already pinned in
    test_simsearch.py::test_pq_plan_shapes)."""
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        dup_ngram_spans,
    )
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        label_propagation,
    )
    from query_refinement_dsit_databases_2021_spark.operators.sampling import (
        curriculum_phases,
        importance_weights,
        mixture_plan,
        pack_efficiency,
    )
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        vocab_coverage,
    )

    docs = spark.createDataFrame(
        [
            (i, f"w{i % 7} w{(i + 1) % 5} w{(i + 2) % 3}",
             "en" if i % 2 else "fr", f"s{i % 2}")
            for i in range(40)
        ],
        "doc_id long, text string, lang string, source string",
    )

    # DSIR: two corpus passes; the ratio dim table and the 1-row totals
    # arrive by broadcast (BHJ + the totals BNLJ) — never a corpus SMJ
    dp = _plan(importance_weights(docs))
    assert dp.count("Exchange hashpartitioning") <= 3, dp
    assert "SortMergeJoin" not in dp and "CartesianProduct" not in dp

    # mixture plan: ONE map-combinable groupBy, literal weight map — no
    # join of any kind
    mp = _plan(mixture_plan(docs))
    assert mp.count("Exchange hashpartitioning") == 1, mp
    assert "Join" not in mp

    # dup spans: df via count window on the shingle exchange + one
    # doc_id groupBy — zero self-join
    sp = _plan(dup_ngram_spans(docs))
    assert sp.count("Exchange hashpartitioning") <= 2, sp
    assert "Join" not in sp

    # vocab coverage: vocab trains in one term groupBy, broadcasts into
    # the stream; final source groupBy — never SMJ
    vp = _plan(vocab_coverage(docs, vocab_size=4))
    assert vp.count("Exchange hashpartitioning") <= 3, vp
    assert "BroadcastHashJoin" in vp and "SortMergeJoin" not in vp

    # pack efficiency: the packing window's source exchange is the ONLY
    # hash exchange — both rollups reuse it
    pp = _plan(pack_efficiency(docs, budget=8))
    assert pp.count("Exchange hashpartitioning") == 1, pp
    assert "Join" not in pp

    # curriculum: the only Window runs over the bounded score histogram;
    # the corpus side gets its phase by broadcast — no global corpus sort
    cp = _plan(curriculum_phases(docs))
    assert cp.count("Exchange hashpartitioning") <= 2, cp
    assert "BroadcastHashJoin" in cp and "SortMergeJoin" not in cp

    # LPA: the returned plan is checkpoint-truncated; the per-round
    # lineage (checkpointing neutralized) must stay equi-join only
    edges = spark.createDataFrame(
        [(i, (i * 3) % 13) for i in range(30)], "src long, dst long"
    )
    _DF = type(edges)
    orig_ckpt = _DF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self
    try:
        lp = _plan(label_propagation(edges, rounds=2))
    finally:
        _DF.localCheckpoint = orig_ckpt
    assert "CartesianProduct" not in lp
    assert "BroadcastNestedLoopJoin" not in lp


def test_round4b_operator_exchange_budgets(pdocs, pevents, spark):
    """Exchange pins for the round-4 session-2 additions."""
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        copurchase_projection,
    )
    from query_refinement_dsit_databases_2021_spark.operators.scale import (
        hll_distinct,
    )
    from query_refinement_dsit_databases_2021_spark.operators.simsearch import (
        embedding_whitening,
    )
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        blocklist_filter,
        tokenizer_fertility,
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        ar1_forecast,
        mann_kendall,
    )

    # Mann-Kendall: the checkpointed daily table is the ONLY events
    # consumer (one scan); pair join + ties/n/s joins are all keyed on
    # the 5-value event_type over metadata-scale frames
    mk_df = mann_kendall(pevents)
    mk = _plan(mk_df)
    assert "FileScan" not in mk, mk  # daily checkpointed: no re-scan
    assert mk.count("Exchange hashpartitioning") <= 7, mk
    assert "CartesianProduct" not in mk

    # AR(1): one daily agg exchange + the lag window + per-key agg —
    # no join at all
    ar = _plan(ar1_forecast(pevents))
    assert "Join" not in ar, ar
    assert ar.count("Exchange hashpartitioning") <= 3, ar

    # HLL: stream -> (g, reg) agg; the 64-row grid and register table
    # are group-count-sized; final per-g agg
    st = spark.createDataFrame(
        [(i % 97, "g%d" % (i % 3)) for i in range(200)], "k long, g string"
    )
    hp = _plan(hll_distinct(st, "k", "g"))
    assert hp.count("Exchange hashpartitioning") <= 4, hp
    assert "CartesianProduct" not in hp.replace(
        "BroadcastNestedLoopJoin", ""
    )  # the groups x 64 grid arrives by broadcast, never a shuffle

    # blocklist: per-doc hit agg + LEFT join back — the denylist is a
    # literal isin, so no third table ever joins in
    bp = _plan(blocklist_filter(pdocs))
    assert bp.count("Exchange hashpartitioning") <= 3, bp

    # fertility: pure projection + ONE map-combinable groupBy(lang)
    fp = _plan(tokenizer_fertility(pdocs))
    assert fp.count("Exchange hashpartitioning") == 1, fp
    assert "Join" not in fp

    # whitening: posexplode + 64-row dim agg; stats come BACK by
    # broadcast — the exploded corpus is never shuffle-joined
    emb = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    wp = _plan(embedding_whitening(emb))
    assert "BroadcastHashJoin" in wp and "SortMergeJoin" not in wp, wp
    assert wp.count("Exchange hashpartitioning") <= 2, wp

    # unigram segmentation: explode+distinct is the ONLY exchange
    # feeding the Arrow DP stage; no join, no collect
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        unigram_segment,
    )

    up = _plan(unigram_segment(pdocs))
    assert "MapInPandas" in up, up
    assert "Join" not in up, up
    assert up.count("Exchange hashpartitioning") == 1, up

    # co-purchase: basket agg + in-row pair enumeration + pair agg —
    # two shuffles, zero joins; top-k is TakeOrderedAndProject
    li = spark.createDataFrame(
        [(i // 3, i % 7) for i in range(60)], "l_orderkey long, l_partkey long"
    )
    cp = _plan(copurchase_projection(li))
    assert "TakeOrderedAndProject" in cp, cp
    assert "Join" not in cp, cp
    assert cp.count("Exchange hashpartitioning") == 2, cp


def test_round4c_operator_exchange_budgets(pdocs):
    """Exchange pins for the session-2 late additions."""
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        quality_classifier,
        span_corruption_plan,
    )

    # classifier: explode + ONE per-doc agg + the output sort — the
    # hashing trick means NO weight table and therefore no join
    qp = _plan(quality_classifier(pdocs))
    assert "Join" not in qp, qp
    assert qp.count("Exchange hashpartitioning") == 1, qp

    # span corruption: the (doc, pos) window + islands agg + the
    # totals/left-join — all partitioned by doc_id, no corpus re-read
    sp = _plan(span_corruption_plan(pdocs))
    assert sp.count("Exchange hashpartitioning") <= 4, sp
    assert "CartesianProduct" not in sp


def test_round4d_operator_exchange_budgets(pdocs, pevents):
    """Exchange pins for the session's final additions."""
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        eval_ngram_precision,
        vocab_prune_impact,
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        winsorized_mean,
    )

    # winsorized mean: band agg + clamped agg; the keys-sized band
    # table must come BACK by broadcast, never a sort-merge join
    wp = _plan(winsorized_mean(pevents))
    assert "BroadcastHashJoin" in wp and "SortMergeJoin" not in wp, wp
    assert wp.count("Exchange hashpartitioning") <= 3, wp

    # vocab prune: both decodes inside ONE MapInPandas — exactly the
    # segmenter's single-Exchange shape, no second pass
    vp = _plan(vocab_prune_impact(pdocs))
    assert vp.count("MapInPandas") == 1, vp
    assert vp.count("Exchange hashpartitioning") == 1, vp

    # eval precision: per-k, gram stats aggs + ONE gram equi-join —
    # and never a doc x doc join (no key on doc_id pairs anywhere)
    ep = _plan(eval_ngram_precision(pdocs))
    assert "CartesianProduct" not in ep, ep
    assert ep.count("Exchange hashpartitioning") <= 10, ep


def test_round4e_operator_exchange_budgets(pdocs, pevents, spark):
    """Exchange pins for the session's final wave."""
    from query_refinement_dsit_databases_2021_spark.operators.scale import (
        record_linkage,
    )
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        index_delta_merge,
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        anomaly_episodes,
    )

    # index merge: two explode+groupBy stat passes + the term-keyed
    # union re-agg — never a doc-keyed join
    im = _plan(index_delta_merge(pdocs))
    assert "Join" not in im, im
    # per side: countDistinct expands to two hash aggs/exchanges
    assert im.count("Exchange hashpartitioning") <= 5, im

    # episodes: MAD detector (two broadcast-agg passes) + hour groupBy
    # + islands window + episode agg — no corpus-sized SMJ anywhere
    ep = _plan(anomaly_episodes(pevents))
    assert "SortMergeJoin" not in ep, ep
    assert "CartesianProduct" not in ep

    # record linkage: candidate pairs ONLY via the blocking-key
    # equi-join; scoring is pure projection
    cust = spark.createDataFrame(
        [(i, f"Customer#{i:09d}", i % 3, float(i), f"s{i % 2}")
         for i in range(40)],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    rl = _plan(record_linkage(cust))
    assert "CartesianProduct" not in rl, rl
    assert rl.count("Exchange hashpartitioning") <= 3, rl


def test_round4f_operator_exchange_budgets(pevents, spark):
    """Exchange pins for the closing additions."""
    from query_refinement_dsit_databases_2021_spark.operators.sampling import (
        target_encoding,
    )
    from query_refinement_dsit_databases_2021_spark.operators.scale import (
        bitmap_index_and,
        k_anonymity_audit,
    )

    # bitmap: one groupBy(word) per predicate + the word equi-join;
    # global rollups are 1-row frames
    df = spark.createDataFrame(
        [(i, i % 2 == 0, i % 3 == 0) for i in range(100)],
        "k long, a boolean, b boolean",
    )
    bp = _plan(bitmap_index_and(df, "k", F.col("a"), F.col("b")))
    assert "SortMergeJoin" not in bp or bp.count("SortMergeJoin") <= 1, bp

    # k-anonymity: ONE hash-agg pair + top-k — no join at all
    cust = spark.createDataFrame(
        [(i, "n", i % 3, float(i * 100), f"s{i % 2}") for i in range(30)],
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string",
    )
    kp = _plan(k_anonymity_audit(cust))
    assert "Join" not in kp, kp
    assert kp.count("Exchange hashpartitioning") == 1, kp
    assert "TakeOrderedAndProject" in kp, kp

    # target encoding: per-cat agg + 1-row global broadcast — the
    # category table never sort-merge-joins
    tp = _plan(target_encoding(pevents))
    assert "SortMergeJoin" not in tp, tp
    assert tp.count("Exchange hashpartitioning") <= 2, tp


def test_round4g_operator_exchange_budgets(pevents, spark):
    """Exchange pins for the report/readout wave."""
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        degree_histogram,
        reciprocity,
    )
    from query_refinement_dsit_databases_2021_spark.operators.sampling import (
        kfold_assignment,
    )
    from query_refinement_dsit_databases_2021_spark.operators.scale import (
        ab_ztest,
        slo_burn_rate,
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        percentile_bands_daily,
    )

    # SLO burn: ONE hash-agg pair + TakeOrdered
    sp = _plan(slo_burn_rate(pevents))
    assert "Join" not in sp and "TakeOrderedAndProject" in sp, sp
    assert sp.count("Exchange hashpartitioning") == 1, sp

    # percentile bands: ONE hash agg (sort-based percentile inside)
    pb = _plan(percentile_bands_daily(pevents))
    assert "Join" not in pb, pb
    assert pb.count("Exchange hashpartitioning") == 1, pb

    # A/B: per-unit agg + 2-row arm rollup; the final join is a 1x1
    # BroadcastNestedLoop — never a corpus SMJ
    ab = _plan(ab_ztest(pevents))
    assert "SortMergeJoin" not in ab, ab
    # per-unit agg + arm rollup, each its own partial/final pair; the
    # two 1-row arm frames meet in a BroadcastNestedLoop
    assert ab.count("Exchange hashpartitioning") <= 4, ab

    # k-fold: map-side fold + one audit agg
    docs = spark.createDataFrame([(i, "t") for i in range(50)],
                                 "doc_id long, text string")
    kf = _plan(kfold_assignment(docs))
    assert "Join" not in kf, kf
    assert kf.count("Exchange hashpartitioning") == 1, kf

    # reciprocity / degree hist: distinct + semi-join or two groupBys,
    # all keyed frames — no cartesian anywhere
    e = spark.createDataFrame([(i, (i * 7) % 13) for i in range(40)],
                              "src long, dst long")
    rp = _plan(reciprocity(e))
    assert "CartesianProduct" not in rp.replace("BroadcastNestedLoopJoin", ""), rp
    dh = _plan(degree_histogram(e))
    assert "Join" not in dh, dh
    # edge-dedup + degree + bucket: three semantic groupBys, no more
    assert dh.count("Exchange hashpartitioning") <= 3, dh


def test_round5_operator_exchange_budgets(pdocs, spark):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        edit_distance_pairs,
        source_overlap_matrix,
    )
    from query_refinement_dsit_databases_2021_spark.operators.graph import (
        association_rules,
    )
    from query_refinement_dsit_databases_2021_spark.operators.scale import (
        equidepth_hist,
        kmv_distinct,
    )
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        class_tfidf_terms,
    )

    # blocked edit distance: ONE equi-join on the block key, no NLJ
    ep = _plan(edit_distance_pairs(pdocs))
    assert "CartesianProduct" not in ep and "BroadcastNestedLoopJoin" not in ep
    assert ep.count("Exchange hashpartitioning") <= 2, ep

    # source overlap: two semantic aggs + keyed size joins, no posting
    # self-join (no SMJ on the shingle column), no cartesian
    sp = _plan(source_overlap_matrix(pdocs))
    assert "CartesianProduct" not in sp, sp

    # association rules: basket agg + pair agg + keyed item joins +
    # ONE broadcast scalar — never a fact-table self-join
    li = spark.createDataFrame(
        [(i % 7, (i * 3) % 5) for i in range(60)],
        "l_orderkey long, l_partkey long",
    )
    ar = _plan(association_rules(li))
    assert "CartesianProduct" not in ar.replace(
        "BroadcastNestedLoopJoin", ""
    ), ar
    # scalar broadcast is the only nested-loop site
    assert ar.count("BroadcastNestedLoopJoin") <= 1, ar

    # KMV: distinct + rank window + final agg — bounded exchanges
    ev = spark.createDataFrame(
        [(i, f"g{i % 3}") for i in range(90)], "key long, g string"
    )
    kp = _plan(kmv_distinct(ev, "key", "g"))
    assert "Join" not in kp, kp
    assert kp.count("Exchange hashpartitioning") <= 3, kp

    # equi-depth: one percentile agg + 1-row broadcast + one hash agg;
    # the VALUE column must never range-partition (no global data sort
    # — the one rangepartitioning allowed is the bucket-count output
    # orderBy over <= n_buckets aggregated rows)
    df = spark.createDataFrame([(v,) for v in range(32)], "v long")
    qp = _plan(equidepth_hist(df, "v"))
    assert "rangepartitioning(v" not in qp, qp
    assert qp.lower().count("rangepartitioning") <= 1, qp
    assert qp.count("BroadcastNestedLoopJoin") <= 1, qp

    # c-TF-IDF: token aggs + keyed joins + broadcast scalar, no
    # cartesian beyond the 1-row class-count frame
    cp = _plan(class_tfidf_terms(pdocs))
    assert "CartesianProduct" not in cp.replace(
        "BroadcastNestedLoopJoin", ""
    ), cp
    assert cp.count("BroadcastNestedLoopJoin") <= 1, cp


def test_round6_operator_exchange_budgets(pdocs, pevents, spark):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from query_refinement_dsit_databases_2021_spark.operators.graph import hits
    from query_refinement_dsit_databases_2021_spark.operators.scale import (
        zone_map_skip_sim,
    )
    from query_refinement_dsit_databases_2021_spark.operators.simsearch import (
        ivfpq_rerank_topk,
    )
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        zipf_fit,
    )
    from query_refinement_dsit_databases_2021_spark.operators.timeseries import (
        matrix_profile_discords,
    )
    from query_refinement_dsit_databases_2021_spark.operators.multimodal import (
        perceptual_ahash,
        synthesize_media,
    )

    # bucket-capped LSH: the cap costs a bounded constant number of
    # extra (band, sig)-keyed exchanges (measured: +2 — the count
    # window, plus the probe side re-partitioning under its renamed
    # key) and never a cartesian; the pin catches a refactor turning
    # the cap into a per-pair filter or an extra self-join
    capped = _plan(minhash_lsh_pairs(pdocs, max_bucket=8))
    plain = _plan(minhash_lsh_pairs(pdocs))
    assert "CartesianProduct" not in capped, capped
    assert capped.count("Exchange hashpartitioning") <= plain.count(
        "Exchange hashpartitioning"
    ) + 2, (capped.count("Exchange hashpartitioning"),
            plain.count("Exchange hashpartitioning"))

    # zone-map simulator: the table contributes exactly ONE
    # hashpartitioning exchange (the file-zone groupBy); file
    # assignment is broadcast min/max arithmetic — the ORDER column
    # must never range-partition (that would be the global sort the
    # operator exists to avoid)
    zp = _plan(
        zone_map_skip_sim(
            pevents.select(
                F.col("event_id").alias("o"),
                F.col("event_id").alias("v"),
            ),
            "t",
            F.col("o"),
            F.col("v"),
        )
    )
    assert "rangepartitioning" not in zp.lower(), zp
    assert zp.count("Exchange hashpartitioning") <= 1, zp

    # HITS: the plan must stay LINEAR in iterations (the scalar-max
    # collect replaced the crossJoin(agg) form that doubled the plan
    # per half-step) — proxy: the 4-iteration plan is < 4x the
    # 1-iteration plan's length, instead of ~2^6 x
    edges = spark.createDataFrame(
        [(i % 5, (i * 3) % 7 + 10) for i in range(30)], "src long, dst long"
    )
    p1 = len(_plan(hits(edges, 1)))
    p4 = len(_plan(hits(edges, 4)))
    assert p4 < 4 * p1, (p1, p4)

    # IVFADC-R: the exact rerank join must be broadcast/equi only
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rp = _plan(ivfpq_rerank_topk(emb))
    assert "SortMergeJoin" not in rp and "CartesianProduct" not in rp, rp

    # Zipf fit: one corpus count groupBy; the vocabulary must never
    # globally sort (the ordered head is a TakeOrdered, not a
    # rangepartitioning)
    zf = _plan(zipf_fit(pdocs))
    assert "rangepartitioning" not in zf.lower(), zf
    assert "TakeOrdered" in zf, zf

    # matrix profile: pair generation via the 3-bucket equi-join —
    # no cartesian, no NLJ on the window frames
    mp = _plan(matrix_profile_discords(pevents, m=4, band=16, cap=60))
    assert "CartesianProduct" not in mp, mp
    assert "BroadcastNestedLoopJoin" not in mp, mp

    # perceptual aHash: JVM-only map + ONE groupBy — no UDF (no
    # ArrowEvalPython / BatchEvalPython), one exchange
    ah = _plan(perceptual_ahash(synthesize_media(pdocs)))
    assert "EvalPython" not in ah, ah
    assert ah.count("Exchange hashpartitioning") <= 1, ah


def test_round9_operator_exchange_budgets(pdocs, spark):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        cdc_chunk_dedup,
        cdc_chunks,
    )
    from query_refinement_dsit_databases_2021_spark.operators.scale import (
        kmv_set_ops,
    )

    # the chunking pass itself is map-only Arrow: ZERO exchanges
    assert _exchanges(cdc_chunks(pdocs)) == 0
    # the ledger adds the two map-combinable rollups + the source join;
    # budget 5 keeps the plan honest (no hidden re-shuffle of chunks)
    assert _exchanges(cdc_chunk_dedup(pdocs)) <= 5
    plan = _plan(cdc_chunk_dedup(pdocs))
    assert "partial_count" in plan or "HashAggregate" in plan

    # KMV set algebra: one distinct-shuffle + per-side rank windows;
    # everything after operates on <= 2k rows. No cartesian blowup on
    # the data path (the only NLJs join 1-row scalar frames).
    rows = [(i, "A") for i in range(1, 31)] + [(i, "B") for i in range(21, 51)]
    df = spark.createDataFrame(rows, "k long, side string")
    est = kmv_set_ops(df, "k", "side")
    assert _exchanges(est) <= 8


def _window_expressions(df):
    """Window expressions in the optimized plan, counted on the plan
    tree (the plan string elides lists past 25 fields)."""

    def walk(node):
        n = node.windowExpressions().size() if node.nodeName() == "Window" else 0
        kids = node.children()
        return n + sum(walk(kids.apply(i)) for i in range(kids.size()))

    return walk(df._jdf.queryExecution().optimizedPlan())


def test_window_strategy_plan_shape_is_fixed_in_offsets(spark):
    """Strategy W plans one forward collect_list frame plus one max
    frame per distinct left neighbourhood, whatever the offset count;
    and a second query with the same measures reuses the generated
    code instead of compiling a class per frame again."""
    from query_refinement_dsit_databases_2021_spark.operators.candidates import (
        build_candidates,
    )
    from query_refinement_dsit_databases_2021_spark.plans.spec import (
        ConstraintSpec,
        QuerySpec,
    )

    n = 2000
    series = spark.createDataFrame(
        [(i + 1, float((i * 7919) % 101)) for i in range(n)],
        "time_id long, y double",
    )
    cons = (
        ConstraintSpec("avg_amp", (), None, None),
        ConstraintSpec("max_amp_excess_left", (20,), None, None),
        ConstraintSpec("max_amp_excess_left", (5,), None, None),
        ConstraintSpec("max_amp_excess_right", (12,), None, None),
    )

    def cands(x_dom, lx_dom):
        spec = QuerySpec(
            table="t", column="y", x_domain=x_dom, lx_domain=lx_dom,
            constraints=cons,
        )
        return build_candidates(series, spec, 1, n, "window")

    # 1 forward frame + left neighbourhoods {5, 20}
    assert _window_expressions(cands((1, 500), (1, 8))) == 3
    assert _window_expressions(cands((1, 500), (1, 64))) == 3

    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    cands((1, 500), (1, 32)).write.format("noop").mode("overwrite").save()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    cands((101, 600), (1, 32)).write.format("noop").mode("overwrite").save()
    compiled = metrics.METRIC_COMPILATION_TIME().getCount() - before
    assert compiled <= 10, compiled
