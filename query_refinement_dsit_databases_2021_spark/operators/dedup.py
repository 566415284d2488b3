"""Deduplication operators for the large-scale training-data pipeline.

Four families, all expressed as shuffle-parallel DataFrame algebra
(no Python UDFs, no driver-side loops over data):

- **Exact**: hash-groupBy on the full text (one shuffle, map-side
  combinable count).
- **MinHash + LSH**: shingle -> minhash signature -> band -> bucket
  self-join. The self-join is keyed on (band, band_signature), so at
  100 TB the candidate-pair blowup is bounded by bucket sizes, not by
  |corpus|^2.
- **SimHash**: 16-bit fingerprints from token hashes; near-dup pairs
  found via the pigeonhole band trick (hamming <= 3 over 16 bits =>
  at least one of four 4-bit bands matches exactly), again a bucketed
  equi-join, never an all-pairs scan.
- **N-gram Jaccard**: exact set overlap through the shingle inverted
  index (join on shingle, count, divide) — O(sum of posting-list^2)
  not O(n^2); the MinHash path is its approximation at scale.

Determinism contract: every score is integer arithmetic or a single
int/int division in double — bit-identical across Spark and the
DuckDB oracles in ``operators/pipelines.py``.
"""

from __future__ import annotations

import functools
import operator
import weakref

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.operators.materialize import (
    broadcast_ok,
    materialize,
)
from query_refinement_dsit_databases_2021_spark.operators.textops import (
    HASH_P,
    SHINGLE_K,
    gram_array,
    lcg_a,
    lcg_b,
    rolling_hash,
    shingle_hashes,
    shingles,
    tokens,
)

N_HASHES = 16
LSH_BANDS = 4
LSH_ROWS = 4  # N_HASHES = LSH_BANDS * LSH_ROWS

SIMHASH_BITS = 32
SIMHASH_BANDS = 4  # 8 bits per band; hamming<=3 => >=1 band equal
SIMHASH_MOD = 1 << SIMHASH_BITS


def _release_with(result: DataFrame, *cached: DataFrame) -> DataFrame:
    """Tie the lifetime of internally ``persist()``-ed frames to the
    returned result: the cache stays hot while the caller holds (and
    may re-materialize) the result, and is unpersisted when the result
    frame is garbage-collected. DataFrame ``persist`` registers the
    plan in the JVM CacheManager, which the ContextCleaner never
    GC-collects — so in a long-lived session repeated advised calls
    would otherwise accumulate cached signature/shingle frames until
    LRU eviction. The finalizer closes over only the cached frames
    (never ``result``), so the result itself stays collectable."""

    def _release(frames=tuple(cached)) -> None:
        for f in frames:
            try:
                f.unpersist(blocking=False)
            except Exception:  # session already stopped / interpreter exit
                pass

    weakref.finalize(result, _release)
    return result


def exact_dedup(docs: DataFrame, by_hash: bool = False) -> DataFrame:
    """Exact duplicate groups: one row per distinct text with the
    survivor (min doc_id) and the multiplicity.

    ``by_hash=True`` groups on sha2-256(text) instead of the raw
    text — identical groups (collisions are cryptographically
    negligible) but the shuffle carries 32-byte keys instead of full
    documents: the 100 TB form (SCALE.md)."""
    key = F.sha2(F.col("text"), 256) if by_hash else F.col("text")
    return (
        docs.groupBy(key.alias("k"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def incremental_dedup(
    base: DataFrame, incr: DataFrame, by_hash: bool = True
) -> DataFrame:
    """Snapshot-incremental exact dedup: from the new shard ``incr``,
    keep only documents whose text does not already exist in the
    standing corpus ``base``, deduplicated within the shard too (min
    doc_id survives). This is how a 100 TB corpus actually grows — the
    daily crawl is deduped against the lake, never the lake against
    itself again.

    Plan: hash both sides (sha2-256 when ``by_hash``, the 32-byte-key
    shuffle form of :func:`exact_dedup`), LEFT ANTI join the shard
    against the distinct base keys, then one groupBy for the
    within-shard survivor. The anti join shuffles the (small) shard and
    the base KEY COLUMN only — with the base keys maintained as their
    own bucketed table (one write, appended per increment), the
    repeated-ingest steady state reads just that key table, and AQE
    broadcasts shard-sized sides. Returns ``(keep_id, n_copies)``
    rows for the genuinely-new documents.
    """
    key = (
        (lambda c: F.sha2(c, 256)) if by_hash else (lambda c: c)
    )
    base_keys = base.select(key(F.col("text")).alias("k")).distinct()
    return (
        incr.select(key(F.col("text")).alias("k"), "doc_id")
        .join(base_keys, "k", "left_anti")
        .groupBy("k")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
        .select("keep_id", "n_copies")
    )


def minhash_signatures_wide(
    docs: DataFrame, n_hashes: int = N_HASHES,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, mh0..mh{n-1}): the full minhash signature in ONE
    map-side-combinable aggregation — n_hashes min() expressions over
    the shingle ranks, with the LCG constants folded into the plan.
    No parameter-table crossJoin, no per-(doc, j) row explosion: the
    only shuffle is the groupBy(doc_id).

    ``shingle_rows``: precomputed (persisted) shingle frame, the same
    sharing seam as :func:`ngram_jaccard_pairs` — an ensemble caller
    (e.g. the consensus workload) tokenizes the corpus ONCE for every
    shingle-based detector (r09)."""
    shr = shingle_hashes(
        shingle_rows if shingle_rows is not None else shingles(docs)
    )
    # SQL-text form (r09): identical integer arithmetic, parsed
    # JVM-side in one call per hash instead of ~6 py4j round trips
    # per expression node of driver time
    aggs = [
        F.expr(f"min((({lcg_a(j)} * h) + {lcg_b(j)}) % {HASH_P})").alias(
            f"mh{j}"
        )
        for j in range(n_hashes)
    ]
    return shr.groupBy("doc_id").agg(*aggs)


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """Narrow view (doc_id, j, mh) of the wide signature — unpivoted
    for callers that want one row per component."""
    wide = minhash_signatures_wide(docs, n_hashes)
    stack = ", ".join(f"{j}, mh{j}" for j in range(n_hashes))
    return wide.selectExpr(
        "doc_id", f"stack({n_hashes}, {stack}) AS (j, mh)"
    )


def _band_sig(band: int, rows_per_band: int) -> "F.Column":
    """Fold one band's components (j order) into a 63-bit-safe bucket
    key: acc = (acc * 31 + mh_j) % P — pure column arithmetic (built
    as one JVM-parsed string, r09: same fold, no per-node py4j)."""
    acc = "CAST(0 AS BIGINT)"
    for j in range(band * rows_per_band, (band + 1) * rows_per_band):
        acc = f"(({acc} * 31 + mh{j}) % {HASH_P})"
    return F.expr(acc)


def lsh_band_signatures(
    sig_wide: DataFrame,
    rows_per_band: int = LSH_ROWS,
    n_hashes: int = N_HASHES,
) -> DataFrame:
    """(doc_id, band, sig) from the wide signature: band keys are
    column folds + one explode; no shuffle."""
    n_bands = n_hashes // rows_per_band
    entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"), _band_sig(b, rows_per_band).alias("sig")
            )
            for b in range(n_bands)
        ]
    )
    return sig_wide.select("doc_id", F.explode(entries).alias("e")).select(
        "doc_id", F.col("e.band").alias("band"), F.col("e.sig").alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    rows_per_band: int = LSH_ROWS,
    threshold: float = 0.5,
    max_bucket: int | None = None,
    sig_wide: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash+LSH: candidates share >=1 LSH
    band bucket; estimated Jaccard = fraction of equal signature
    components, computed by comparing the two WIDE signatures inline
    (no per-component join). Returns (doc_a, doc_b, est_sim) with
    doc_a < doc_b; est_sim is k/n_hashes, exactly representable in
    double.

    ``max_bucket`` caps the band self-join the way ``max_posting``
    caps :func:`ngram_jaccard_pairs`' inverted index: (band, sig)
    buckets holding more than that many documents — the boilerplate /
    templated-page pathology, where one mega-bucket alone contributes
    O(n²) candidate pairs — are dropped before the equi-join via a
    (band, sig)-keyed window count (a bounded-constant exchange cost:
    +2 in the measured plan, pinned in test_plan_budgets; never a
    per-pair filter or extra self-join). A pair whose ONLY agreeing
    band was capped is lost, so
    capped runs under-report, but near-dups above the threshold agree
    on multiple bands with high probability and typically survive via
    an uncapped one. The measured bucket-size distribution
    (tools/dedup_scale.py: max bucket 3 at 100 k random docs) shows
    organic buckets are tiny — the cap exists purely to bound the
    adversarial/template tail at corpus scale.
    """
    wide = (
        sig_wide
        if sig_wide is not None
        else minhash_signatures_wide(docs, n_hashes).persist()
    )
    bsig = lsh_band_signatures(wide, rows_per_band, n_hashes)
    if max_bucket is not None:
        w = Window.partitionBy("band", "sig")
        bsig = (
            bsig.withColumn("_n", F.count("*").over(w))
            .where(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    b1 = bsig.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b2 = bsig.select(
        F.col("doc_id").alias("doc_b"), "band", F.col("sig").alias("sig_b")
    )
    cand = (
        b1.join(
            b2,
            (b1["band"] == b2["band"])
            & (b1["sig"] == b2["sig_b"])
            & (b1["doc_a"] < b2["doc_b"]),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(n_hashes)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(n_hashes)],
    )
    k = functools.reduce(
        operator.add,
        [(F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(n_hashes)],
    )
    est = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select("doc_a", "doc_b", (k / float(n_hashes)).alias("est_sim"))
        .where(F.col("est_sim") >= threshold)
    )
    return est.select("doc_a", "doc_b", F.round("est_sim", 6).alias("est_sim"))


# lsh_bucket_advisor decision constants (r06 verdict item 7). The
# measured 1M-10M-doc curve (dedup_scale.csv) shows organic corpora
# hold p99 band-bucket = 2 and max <= 4 at every size, while templated
# corpora grow mega-buckets that alone contribute O(n²) candidate
# pairs. The cap-needed signal is PAIR-MASS CONCENTRATION, not a
# bucket-count percentile (on a corpus that is MOSTLY template, the
# mega-bucket IS the p99): cap when one bucket holds ≥ 20% of all
# candidate pairs — the same top1 share at which shuffle_advisor
# prescribes salting (scale.SHUFFLE_SKEW_TOP1_PPM) — AND the largest
# bucket actually exceeds the default cap (so a 2-doc bucket that is
# 100% of a tiny corpus's pairs never triggers). The recommended cap
# value clips to the organic tail: MARGIN × the MEDIAN bucket size
# (median is immune to the mega-bucket mass, unlike p99), floored at
# MINHASH_MAX_BUCKET's default (pipelines.py), so a recommended cap
# is always safe to apply verbatim.
ADVISOR_BUCKET_MARGIN = 4
ADVISOR_TOP_SHARE_PPM = 200_000  # == scale.SHUFFLE_SKEW_TOP1_PPM
ADVISOR_CAP_FLOOR = 8  # == pipelines.MINHASH_MAX_BUCKET (import cycle)


def lsh_bucket_advisor(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    rows_per_band: int = LSH_ROWS,
    margin: int = ADVISOR_BUCKET_MARGIN,
    cap_floor: int = ADVISOR_CAP_FLOOR,
    sig_wide: DataFrame | None = None,
) -> DataFrame:
    """One-pass cap-on/off advisor for :func:`minhash_lsh_pairs`'s
    ``max_bucket`` — the band-key analogue of ``scale.shuffle_advisor``
    (which recommends salting from one profile pass): run it BEFORE
    the O(pairs) band self-join to learn whether this corpus is
    organic (cap unnecessary — the measured 10M-doc regime) or
    templated (cap mandatory — one mega-bucket is about to emit a
    quadratic pair blow-up), and what cap value clips only the
    pathological tail.

    Plan shape: signatures → band keys → ONE (band, sig) count
    aggregation (map-combinable) — the self-join itself never runs.
    The median bucket size folds the count frame to its
    count-of-counts histogram first (the ``grouping_skew_gini``
    idiom), so the only global window is over ≤ √(2·n_buckets) rows
    and the whole statistic is integer-exact: median = smallest size
    with cumulative bucket count ≥ ceil(n_buckets/2). The ppm shares
    run 128-bit (decimal(38,0) ↔ HUGEINT) because 1e6·Σ c(c−1)/2
    overflows int64 at real corpus sizes.

    Decision rule (constants above): cap ON iff the top bucket holds
    ≥ ``ADVISOR_TOP_SHARE_PPM`` of all candidate pairs AND
    ``max_bucket > cap_floor``; recommended value =
    ``greatest(margin · median_bucket, cap_floor)``.

    Returns ONE row: ``(n_docs, n_buckets, total_pairs, max_bucket,
    median_bucket, top_share_ppm, pairs_per_doc_ppm, cap_recommended,
    recommended_cap)`` — ``recommended_cap`` is NULL when the corpus
    is organic.
    """
    n_bands = n_hashes // rows_per_band
    # sig_wide: precomputed (persisted) signature frame, so an adaptive
    # caller pays the most expensive stage ONCE for advisor + join
    wide = (
        sig_wide
        if sig_wide is not None
        else minhash_signatures_wide(docs, n_hashes)
    )
    bsig = lsh_band_signatures(wide, rows_per_band, n_hashes)
    cnt = bsig.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(
        F.sum("c").cast("long").alias("n_entries"),
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum(F.expr("(c * (c - 1)) div 2")).cast("long").alias("total_pairs"),
        F.max("c").cast("long").alias("max_bucket"),
        F.max(F.expr("(c * (c - 1)) div 2")).cast("long").alias("top_pairs"),
    )
    hist = cnt.groupBy(F.col("c").alias("x")).agg(F.count(F.lit(1)).alias("m"))
    w_le = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cm", F.sum("m").over(w_le))
    med = (
        cum.crossJoin(F.broadcast(tot.select("n_buckets")))
        .where(F.expr("cm >= (n_buckets + 1) div 2"))
        .agg(F.min("x").cast("long").alias("median_bucket"))
    )
    D = "decimal(38,0)"
    share = (
        f"CASE WHEN total_pairs > 0 THEN "
        f"CAST((CAST(1000000 AS {D}) * CAST(top_pairs AS {D})) "
        f"DIV CAST(total_pairs AS {D}) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    )
    cap_on = (
        f"({share}) >= {ADVISOR_TOP_SHARE_PPM} AND max_bucket > {cap_floor}"
    )
    return (
        tot.crossJoin(F.broadcast(med))
        .select(
            F.expr(f"n_entries div {n_bands}").alias("n_docs"),
            "n_buckets",
            "total_pairs",
            "max_bucket",
            "median_bucket",
            F.expr(share).alias("top_share_ppm"),
            F.expr(
                f"CAST((CAST(1000000 AS {D}) * CAST(total_pairs AS {D})) "
                f"DIV CAST(n_entries div {n_bands} AS {D}) AS BIGINT)"
            ).alias("pairs_per_doc_ppm"),
            F.expr(cap_on).alias("cap_recommended"),
            F.expr(
                f"CASE WHEN {cap_on} THEN "
                f"greatest({margin} * median_bucket, {cap_floor}) "
                f"ELSE CAST(NULL AS BIGINT) END"
            ).alias("recommended_cap"),
        )
    )


def minhash_lsh_pairs_advised(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    rows_per_band: int = LSH_ROWS,
    threshold: float = 0.5,
) -> DataFrame:
    """ADAPTIVE near-dup pairs: :func:`lsh_bucket_advisor` decides,
    then :func:`minhash_lsh_pairs` runs with the recommendation — the
    end-to-end composition of r06 item 7 ("ship a one-pass advisor")
    with the certified capped join. On an organic corpus this is
    bit-identical to the uncapped form (the advisor says OFF — the
    measured 10M-doc regime); on a templated corpus the recommended
    cap bounds the mega-bucket blow-up BEFORE the O(pairs) join runs.
    The dispatch is one bounded 1-row collect (the advisor output);
    the DuckDB oracle carries the identical dynamic decision, so the
    differential gate certifies the whole adaptive pipeline, not just
    each branch.

    The wide signature frame — the pipeline's most expensive stage —
    is computed ONCE and persisted here: the advisor's 1-row collect
    materializes it into cache, and the band self-join reuses the
    cached frame instead of rebuilding it (r07 advice item)."""
    wide = minhash_signatures_wide(docs, n_hashes).persist()
    adv = lsh_bucket_advisor(
        docs, n_hashes, rows_per_band, sig_wide=wide
    ).collect()[0]
    cap = int(adv["recommended_cap"]) if adv["cap_recommended"] else None
    return _release_with(
        minhash_lsh_pairs(
            docs, n_hashes, rows_per_band, threshold, max_bucket=cap,
            sig_wide=wide,
        ),
        wide,
    )


def incremental_minhash_dedup(
    base_docs: DataFrame,
    shard_docs: DataFrame,
    n_hashes: int = N_HASHES,
    rows_per_band: int = LSH_ROWS,
    threshold: float = 0.5,
) -> DataFrame:
    """NEAR-dup-aware incremental ingest — the MinHash analogue of
    :func:`incremental_dedup` (which is exact-only): each new shard
    document is flagged when its estimated Jaccard vs the standing
    corpus (any id) or vs an earlier shard document (lower id) reaches
    ``threshold``. This is the steady-state form of web-crawl dedup:
    the full pairwise pass runs once, every later ingest only compares
    the shard against standing state.

    Plan: ONE signature groupBy over base ∪ shard, band-bucket
    equi-join with the shard on the probe side, signature-agreement
    estimate inline on the two wide rows (no per-component join),
    min-partner rollup. This inline form recomputes base signatures
    per call; the production steady state is the standing artifact
    pair :func:`write_minhash_index` / :func:`incremental_dedup_from_index`
    (bit-identical output, base side read from parquet instead of
    re-shingled — parity test-pinned).

    Returns one row per shard doc: ``(doc_id, is_dup, dup_of)`` with
    ``dup_of`` = smallest qualifying partner id, −1 when none.
    """
    base = base_docs.select("doc_id", "text").withColumn(
        "is_base", F.lit(1)
    )
    shard = shard_docs.select("doc_id", "text").withColumn(
        "is_base", F.lit(0)
    )
    union = base.unionByName(shard)
    wide = minhash_signatures_wide(
        union.select("doc_id", "text"), n_hashes
    ).persist()
    flags = union.select("doc_id", "is_base")
    bsig = lsh_band_signatures(wide, rows_per_band, n_hashes).join(
        flags, "doc_id"
    )
    s = bsig.where(F.col("is_base") == 0).select(
        F.col("doc_id").alias("sid"), "band", "sig"
    )
    p = bsig.select(
        F.col("doc_id").alias("pid"),
        "band",
        F.col("sig").alias("sig_p"),
        "is_base",
    )
    cand = (
        s.join(p, (s["band"] == p["band"]) & (s["sig"] == p["sig_p"]))
        .where(
            (F.col("pid") != F.col("sid"))
            & ((F.col("is_base") == 1) | (F.col("pid") < F.col("sid")))
        )
        .select("sid", "pid")
        .distinct()
    )
    wa = wide.select(
        F.col("doc_id").alias("sid"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(n_hashes)],
    )
    wb = wide.select(
        F.col("doc_id").alias("pid"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(n_hashes)],
    )
    k = functools.reduce(
        operator.add,
        [(F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(n_hashes)],
    )
    dups = (
        cand.join(wa, "sid")
        .join(wb, "pid")
        .where(k / float(n_hashes) >= threshold)
        .groupBy("sid")
        .agg(F.min("pid").alias("dup_of"))
    )
    out = (
        shard.select("doc_id")
        .join(dups, shard["doc_id"] == dups["sid"], "left")
        .select(
            "doc_id",
            F.when(F.col("dup_of").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_dup"),
            F.coalesce("dup_of", F.lit(-1)).cast("long").alias("dup_of"),
        )
    )
    return _release_with(out, wide)


# sig_bucket fan for the standing MinHash index: band dirs split into
# SIG_BUCKETS sub-dirs keyed by sig % SIG_BUCKETS, so a shard probe
# can push an exact (band, sig_bucket) partition filter and scan only
# the buckets its own signatures touch
SIG_BUCKETS = 64


def write_minhash_index(
    docs: DataFrame,
    path: str,
    n_hashes: int = N_HASHES,
    rows_per_band: int = LSH_ROWS,
) -> None:
    """Materialize the standing MinHash index — the build half of
    steady-state near-dup ingest (the MinHash analogue of
    :func:`simsearch.write_ivf_layout`'s build/serve split): ONE
    corpus pass computes the wide signatures (``<path>/signatures``:
    one row per doc, n_hashes int64 columns — the verify-side
    artifact), then the band signatures derive from that WRITTEN
    artifact (never re-shingled) and land ``partitionBy(band,
    sig_bucket)`` (``<path>/bands``) so each LSH bucket group is its
    own directory. A shard ingest then probes only the (band,
    sig_bucket) partitions its own band keys touch — at 100 TB the
    base corpus is never re-read beyond the probed bucket dirs, and
    the signature table (n_hashes ints per doc, ~1e-4 of corpus bytes)
    is the only full-width base artifact the verify join scans."""
    spark = docs.sparkSession
    wide = minhash_signatures_wide(
        docs.select("doc_id", "text"), n_hashes
    )
    wide.write.mode("overwrite").parquet(f"{path}/signatures")
    wide_r = spark.read.parquet(f"{path}/signatures")
    bands = lsh_band_signatures(wide_r, rows_per_band, n_hashes).withColumn(
        "sig_bucket", F.col("sig") % SIG_BUCKETS
    )
    bands.write.mode("overwrite").partitionBy("band", "sig_bucket").parquet(
        f"{path}/bands"
    )


def incremental_dedup_from_index(
    spark,
    path: str,
    shard_docs: DataFrame,
    n_hashes: int = N_HASHES,
    rows_per_band: int = LSH_ROWS,
    threshold: float = 0.5,
) -> DataFrame:
    """Serving half of :func:`write_minhash_index` — bit-identical to
    :func:`incremental_minhash_dedup` (parity test-pinned), but the
    base corpus side comes from the standing artifact: band buckets
    are a PARTITION-PRUNED parquet scan (only the (band, sig_bucket)
    dirs the shard's own band keys touch — the probe list is at most
    n_bands × SIG_BUCKETS entries, collected bounded), and the verify
    join reads the persisted signature table instead of re-shingling
    the corpus. All per-call heavy work is shard-sized: one signature
    groupBy over the shard, one band equi-join against the pruned
    buckets, one wide-row agreement estimate.

    Returns one row per shard doc: ``(doc_id, is_dup, dup_of)`` with
    ``dup_of`` = smallest qualifying partner id, −1 when none."""
    shard = shard_docs.select("doc_id", "text")
    swide = minhash_signatures_wide(shard, n_hashes).persist()
    sbands = lsh_band_signatures(swide, rows_per_band, n_hashes).withColumn(
        "sig_bucket", F.col("sig") % SIG_BUCKETS
    )
    # bounded collect: ≤ n_bands × SIG_BUCKETS rows no matter the
    # shard size — the partition-filter probe list, never data
    touched = (
        sbands.select("band", "sig_bucket").distinct().collect()
    )
    by_band: dict[int, list[int]] = {}
    for r in touched:
        by_band.setdefault(int(r["band"]), []).append(int(r["sig_bucket"]))
    clauses = [
        (F.col("band") == b) & F.col("sig_bucket").isin(bks)
        for b, bks in sorted(by_band.items())
    ]
    base_bands = spark.read.parquet(f"{path}/bands")
    if clauses:
        base_bands = base_bands.where(
            functools.reduce(operator.or_, clauses)
        )
    s = sbands.select(F.col("doc_id").alias("sid"), "band", "sig")
    p_base = base_bands.select(
        F.col("doc_id").alias("pid"), "band", F.col("sig").alias("sig_p")
    )
    cand_base = (
        s.join(p_base, (s["band"] == p_base["band"]) & (s["sig"] == p_base["sig_p"]))
        .where(F.col("pid") != F.col("sid"))
        .select("sid", "pid")
    )
    p_shard = sbands.select(
        F.col("doc_id").alias("pid"), "band", F.col("sig").alias("sig_p")
    )
    cand_shard = (
        s.join(
            p_shard, (s["band"] == p_shard["band"]) & (s["sig"] == p_shard["sig_p"])
        )
        .where(F.col("pid") < F.col("sid"))
        .select("sid", "pid")
    )
    cand = cand_base.unionByName(cand_shard).distinct()
    base_wide = spark.read.parquet(f"{path}/signatures")
    wide_all = base_wide.unionByName(swide)
    wa = swide.select(
        F.col("doc_id").alias("sid"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(n_hashes)],
    )
    wb = wide_all.select(
        F.col("doc_id").alias("pid"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(n_hashes)],
    )
    k = functools.reduce(
        operator.add,
        [(F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(n_hashes)],
    )
    dups = (
        cand.join(wa, "sid")
        .join(wb, "pid")
        .where(k / float(n_hashes) >= threshold)
        .groupBy("sid")
        .agg(F.min("pid").alias("dup_of"))
    )
    out = (
        shard.select("doc_id")
        .join(dups, shard["doc_id"] == dups["sid"], "left")
        .select(
            "doc_id",
            F.when(F.col("dup_of").isNotNull(), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_dup"),
            F.coalesce("dup_of", F.lit(-1)).cast("long").alias("dup_of"),
        )
    )
    return _release_with(out, swide)


def simhash_fingerprints(
    docs: DataFrame, ws_rows: DataFrame | None = None
) -> DataFrame:
    """(doc_id, fingerprint): 32-bit SimHash. Token hash = polynomial
    rolling hash mod 2^32 (with multiplicity); bit b of the
    fingerprint is set iff more token hashes have bit b set than not
    (tie -> 0). One explode + one groupBy with 32 integer sums.

    ``ws_rows``: optional pre-tokenized ``(doc_id, ws)`` frame — the
    same single-tokenize seam as :func:`textops.shingles` (r10): an
    ensemble caller splits the corpus once and every detector explodes
    from the materialized token arrays."""
    tok = (
        ws_rows.select("doc_id", F.explode("ws").alias("term"))
        if ws_rows is not None
        else docs.select(
            "doc_id", F.explode(tokens(F.col("text"))).alias("term")
        )
    )
    th = tok.withColumn("h16", rolling_hash(F.col("term")) % SIMHASH_MOD)
    sums = th.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("h16").bitwiseAND(1 << b) != 0, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    fp = functools.reduce(
        operator.add,
        [
            F.when(F.col(f"s{b}") > 0, 1 << b).otherwise(0)
            for b in range(SIMHASH_BITS)
        ],
    )
    return sums.select("doc_id", fp.cast("long").alias("fingerprint"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    ws_rows: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs with SimHash hamming distance <=
    max_hamming, via the pigeonhole band join: with 4 bands of 8 bits,
    any pair within hamming 3 agrees exactly on >=1 band, so
    candidates come from 4 bucketed equi-joins, not an all-pairs scan.

    Returns (doc_a, doc_b, hamming), doc_a < doc_b.

    r09 plan restructure (guide §2.3/§2.4, results unchanged): the
    band table is generated in ONE ``explode`` pass instead of a
    4-way union (four reads of the fingerprint frame), and the
    fingerprint rides THROUGH the band self-join so the hamming
    distance is computed directly on the collision row — the two
    post-candidate fingerprint equi-joins (and their exchanges) are
    gone, and the hamming filter now runs BEFORE the distinct, so the
    dedup exchange carries only surviving pairs. The fingerprint
    frame is localCheckpointed (doc-count rows): with a held result a
    persist+weakref-release tie is ~1 s faster (the fingerprint job
    pipelines into the band join), but every real consumer of this
    function DERIVES from the result and drops it (the workload casts
    hamming, consensus projects columns, the cluster path feeds
    components) — the weakref then fires before execution and the
    fingerprint pass silently runs once per band-join side. The
    checkpoint's lifetime is ContextCleaner-managed and caller-proof.
    """
    width = SIMHASH_BITS // SIMHASH_BANDS
    fp = simhash_fingerprints(docs, ws_rows=ws_rows).localCheckpoint()
    bands = fp.select(
        "doc_id",
        "fingerprint",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftright("fingerprint", k * width)
                        .bitwiseAND((1 << width) - 1)
                        .alias("v"),
                    )
                    for k in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", "fingerprint", F.col("bv.band").alias("band"), F.col("bv.v").alias("v"))
    b1 = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("fingerprint").alias("fa"), "band", "v"
    )
    b2 = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("fingerprint").alias("fb"),
        "band",
        F.col("v").alias("v_b"),
    )
    out = (
        b1.join(
            b2,
            (b1["band"] == b2["band"])
            & (b1["v"] == b2["v_b"])
            & (b1["doc_a"] < b2["doc_b"]),
        )
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return out


def neardup_components(
    pairs: DataFrame, docs: DataFrame | None = None, max_iters: int = 50
) -> DataFrame:
    """Resolve near-duplicate PAIRS into duplicate CLUSTERS: connected
    components over the pair graph, each labeled by its minimum doc_id
    (the canonical survivor a dedup pipeline keeps).

    Algorithm: iterative min-label propagation with pointer jumping —
    each round every node takes ``min(own label, neighbors' labels)``
    and then follows ``label -> label(label)`` once (path halving), so
    convergence needs O(log diameter) rounds instead of O(diameter).
    Each round costs two equi-joins + one groupBy on node id; the only
    driver-side value is the scalar label-sum used for the convergence
    check (labels only decrease, so the sum strictly decreases until
    the fixpoint) — the data never leaves the cluster. ``max_iters``
    is a safety bound. The two-phase large-star/small-star variant
    (Kiveris et al., "Connected Components in MapReduce", SoCC'14) is
    the alternative at extreme skew; for shallow near-dup clusters the
    jumped propagation converges in 3-5 rounds.

    Returns ``(doc_id, cluster_id, is_canonical)`` — for every doc in
    ``docs`` when given (singletons form their own cluster), else only
    for docs that appear in some pair.
    """
    # localCheckpoint (not just persist) after each round: iterative
    # self-reference otherwise grows the logical plan exponentially —
    # round i's plan embeds round i-1's twice (propagation + the
    # changed-count check) plus the full pair-generation plan, which
    # OOMs the driver on plan stringification long before data size
    # matters. Checkpointing truncates lineage to the materialized
    # result, the same discipline GraphX applies. At cluster scale,
    # prefer reliable `checkpoint()` with a checkpoint dir (survives
    # executor loss); local mode has no executor-loss failure domain.
    # symmetric closure via ONE explode pass: the previous two-branch
    # union referenced (and recomputed) the caller's whole pair plan
    # twice — for the simhash workload that was 11.1 s of the 16 s
    # total at sf0.1 (r09, guide §2.4); explode generates both
    # directions map-side from a single evaluation
    edges = materialize(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_a").alias("a"), F.col("doc_b").alias("b")
                    ),
                    F.struct(
                        F.col("doc_b").alias("a"), F.col("doc_a").alias("b")
                    ),
                )
            ).alias("e")
        )
        .select(F.col("e.a").alias("a"), F.col("e.b").alias("b"))
        .distinct(),
        eager=False,
    )
    # lazy checkpoints (r10): the convergence probe right below
    # materializes labels AND edges (labels derive from edges) in ONE
    # job instead of two eager checkpoint jobs + a probe job
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=False)
    )
    # Convergence check: labels only ever decrease (min-propagation),
    # so the label sum strictly decreases until the fixpoint — one
    # scalar agg per round instead of a full self-join diff. The same
    # bounded agg also yields the node count that drives the
    # broadcast switch below.
    first = labels.agg(
        F.sum("label").alias("s"), F.count(F.lit(1)).alias("n")
    ).first()
    prev_sum = first["s"]
    # r09 (guide §3.1, same measured-switch convention as graph.pagerank,
    # bounded by materialize.broadcast_ok): the per-round join shuffles the
    # EDGE table against a node-sized label frame; while the labels
    # fit a comfortable broadcast (~16 B/row), broadcasting them keeps
    # the edges out of every round's join exchange — the groupBy(a)
    # then ships only partial mins. Same-session A/B at sf0.1 (2.7M
    # edges / 5k nodes): 12.3 → 7.6 s and 7.9 → 6.7 s noop. Beyond the
    # bound the labels must shuffle (a billion-node pair graph cannot
    # broadcast) — plain equi-join, the measured-linear fallback.
    hint = (
        F.broadcast if broadcast_ok(first["n"], labels) else (lambda df: df)
    )
    converged = False
    # max_iters + 1: convergence is detected by a NO-CHANGE round, so a
    # graph that reaches its fixpoint exactly on round max_iters needs
    # one extra (cheap, no-op) round to prove it — max_iters bounds the
    # PRODUCTIVE rounds
    for _ in range(max_iters + 1):
        nb_min = (
            edges.join(
                hint(
                    labels.select(
                        F.col("node").alias("b"), F.col("label").alias("b_label")
                    )
                ),
                "b",
            )
            .groupBy("a")
            .agg(F.min("b_label").alias("nb_min"))
        )
        stepped = labels.join(nb_min, labels["node"] == nb_min["a"], "left").select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nb_min"), F.col("label"))
            ).alias("label"),
        )
        # pointer jumping (path halving): follow label -> label(label)
        # once per round, turning O(diameter) convergence into
        # O(log diameter) — one extra equi-join on the (small,
        # shrinking) label table.
        hop = stepped.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        labels = (
            stepped.join(hop, stepped["label"] == hop["l_node"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("l_label"), F.col("label"))
                ).alias("label"),
            )
            # lazy: the label-sum probe materializes the round (r10)
            .localCheckpoint(eager=False)
        )
        new_sum = labels.agg(F.sum("label")).first()[0]
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Silent non-convergence would return WRONG cluster labels;
        # with pointer jumping this needs > 2^max_iters graph diameter,
        # so reaching it means a bug or a pathological graph — fail
        # loudly rather than emit plausible-looking partial labels.
        raise RuntimeError(
            f"neardup_components did not converge within {max_iters} "
            "label-propagation rounds; raise max_iters (needed rounds "
            "grow with log2 of the pair-graph diameter)"
        )
    out = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    if docs is not None:
        out = (
            docs.select("doc_id")
            .join(out, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id"),
            )
        )
    return out.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def cluster_representatives(
    docs: DataFrame, pairs: DataFrame | None = None
) -> DataFrame:
    """Canonical-document selection per near-duplicate cluster: where
    :func:`neardup_components` labels clusters by MIN doc_id (an
    arbitrary survivor), a curation pipeline keeps the BEST member —
    here the longest document (max ``n_chars``, doc_id as tiebreak),
    the common "keep the most complete variant" rule. Only clusters
    with >= 2 members are reported (singletons have nothing to choose).

    Plan: the component labels (one row per doc) join back to the doc
    metadata, then ONE window pass partitioned by cluster_id computes
    the member count and the deterministic argmax — no self-join, no
    driver state. At 100 TB the window partitions by cluster ids whose
    sizes are near-dup cluster sizes (small by construction); the
    join-back is a shuffle on doc_id shared with the labeling rounds.

    Returns ``(cluster_id, rep_id, n_docs, rep_chars)``.
    """
    comp = neardup_components(
        pairs if pairs is not None else simhash_pairs(docs), docs
    )
    j = comp.join(docs.select("doc_id", "n_chars"), "doc_id")
    part = Window.partitionBy("cluster_id")
    w = part.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    ranked = j.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(part).alias("n_docs"),
    )
    return ranked.where((F.col("_rn") == 1) & (F.col("n_docs") >= 2)).select(
        "cluster_id",
        F.col("doc_id").alias("rep_id"),
        "n_docs",
        F.col("n_chars").alias("rep_chars"),
    )


def minhash_estimate_error(
    docs: DataFrame,
    n_hashes: int = N_HASHES,
    rows_per_band: int = LSH_ROWS,
) -> DataFrame:
    """MinHash accuracy attestation (the dedup-side sibling of the ANN
    recall attestation): for every LSH candidate pair, the MinHash
    Jaccard ESTIMATE next to the EXACT shingle-set Jaccard, both as
    integer parts-per-million, plus the absolute error. This is the
    measurement that justifies trusting :func:`minhash_lsh_pairs` at a
    threshold — run it on a sample shard before committing a 100 TB
    dedup pass to a (bands, rows, threshold) configuration.

    Determinism: est_ppm = matching-components * 1e6 DIV n_hashes,
    exact_ppm = |A∩B| * 1e6 DIV |A∪B| — integer arithmetic end to end,
    no float anywhere.

    Plan: candidates from the banded equi-join (never all pairs); the
    exact intersection restricts the shingle inverted-index self-join
    to candidate docs via a semi-join BEFORE the shuffle, so the
    posting-list blowup is bounded by the candidate set, not the
    corpus. Candidate pairs that share no shingle (pure band-hash
    collisions) surface with exact_ppm = 0 instead of silently
    dropping. Returns ``(doc_a, doc_b, est_ppm, exact_ppm, err_ppm)``.
    """
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        shingles as _shingles,
    )

    wide = minhash_signatures_wide(docs, n_hashes).persist()
    bsig = lsh_band_signatures(wide, rows_per_band, n_hashes)
    b1 = bsig.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b2 = bsig.select(
        F.col("doc_id").alias("doc_b"), "band", F.col("sig").alias("sig_b")
    )
    cand = (
        b1.join(
            b2,
            (b1["band"] == b2["band"])
            & (b1["sig"] == b2["sig_b"])
            & (b1["doc_a"] < b2["doc_b"]),
        )
        .select("doc_a", "doc_b")
        .distinct()
        .persist()
    )
    wa = wide.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{j}").alias(f"a{j}") for j in range(n_hashes)],
    )
    wb = wide.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{j}").alias(f"b{j}") for j in range(n_hashes)],
    )
    k = functools.reduce(
        operator.add,
        [(F.col(f"a{j}") == F.col(f"b{j}")).cast("int") for j in range(n_hashes)],
    )
    # integer ppm via int64 floor division (`div` / DuckDB `//`) — the
    # float path (floor of a double quotient) can land on the wrong
    # side of an integer boundary; true integer division cannot
    est = (
        cand.join(wa, "doc_a")
        .join(wb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (k.cast("long") * 1000000).alias("_en"),
        )
        .select("doc_a", "doc_b", F.expr(f"_en div {n_hashes}").alias("est_ppm"))
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # r09 (guide §2.4): the candidate-restricted shingle frame feeds
    # the self-join twice AND the size aggregate — persist it so the
    # tokenize+semi-join runs once, not three times. Sizes only ever
    # join back to candidate docs (est's doc_a/doc_b ⊆ cand_docs), so
    # aggregating them from the restricted frame is value-identical to
    # the previous full-corpus aggregate and saves a whole corpus pass.
    shc = _shingles(docs).join(cand_docs, "doc_id", "left_semi").persist()
    sizes = shc.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = shc.select(F.col("doc_id").alias("doc_a"), "s")
    sb = shc.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = (
        sa.join(sb, (sa["s"] == sb["s_b"]) & (sa["doc_a"] < sb["doc_b"]))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    c0 = F.coalesce(F.col("c"), F.lit(0)).cast("long")
    exact = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_ppm",
            (c0 * 1000000).alias("_xn"),
            (F.col("na") + F.col("nb") - c0).cast("long").alias("_xd"),
        )
        .select(
            "doc_a",
            "doc_b",
            "est_ppm",
            F.expr("_xn div _xd").alias("exact_ppm"),
        )
    )
    out = exact.select(
        "doc_a",
        "doc_b",
        "est_ppm",
        "exact_ppm",
        F.abs(F.col("est_ppm") - F.col("exact_ppm")).alias("err_ppm"),
    )
    return _release_with(out, wide, cand, shc)


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    max_posting: int | None = None,
    cap_strategy: str = "window",
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram (shingle-set) Jaccard similarity for all pairs
    sharing >=1 shingle, through the inverted index: join the shingle
    table to itself on the shingle, count intersections, divide by
    union size. Returns (doc_a, doc_b, jaccard) with jaccard >=
    threshold, doc_a < doc_b.

    ``max_posting`` caps the inverted index: shingles appearing in
    more than that many documents ("stop shingles") are dropped
    before the self-join, bounding the O(posting²) pair blowup at
    corpus scale (SCALE.md). Scores then UNDER-estimate (intersections
    lose capped shingles while union sizes keep them), so capped runs
    trade exactness for a bounded shuffle — the MinHash path is the
    calibrated approximation.

    ``cap_strategy`` picks how the document frequency is computed:
    ``"window"`` (default) counts and filters in the SAME shuffle that
    the self-join needs (one exchange on the shingle, ~2x faster,
    measured at sf0.1); ``"join"`` uses a map-side-combinable
    groupBy + equi-join — one extra shuffle, but AQE can split a
    pathologically skewed stop-shingle's partitions there, so prefer
    it when a mega-shingle would straggle the window task."""
    if cap_strategy not in ("window", "join"):
        raise ValueError("cap_strategy must be 'window' or 'join'")
    # shingle_rows: precomputed (persisted) shingle frame, so an
    # adaptive caller pays the tokenize+distinct stage ONCE for
    # advisor + join (mirrors minhash_lsh_pairs' sig_wide seam)
    sh = (
        shingle_rows if shingle_rows is not None else shingles(docs).persist()
    )
    if max_posting is not None and cap_strategy == "window":
        w = Window.partitionBy("s")
        joined_sh = (
            sh.withColumn("_df", F.count("*").over(w))
            .where(F.col("_df") <= max_posting)
            .drop("_df")
        )
    elif max_posting is not None:
        rare = (
            sh.groupBy("s")
            .agg(F.count("*").alias("df"))
            .where(F.col("df") <= max_posting)
            .select("s")
        )
        joined_sh = sh.join(rare, "s").persist()
    else:
        joined_sh = sh

    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = joined_sh.select(F.col("doc_id").alias("doc_a"), "s")
    sb = joined_sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = (
        sa.join(sb, (sa["s"] == sb["s_b"]) & (sa["doc_a"] < sb["doc_b"]))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .where(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# posting_advisor decision constants (r07 verdict item 5 — unify the
# self-join advisor pattern across the dedup family). Same machinery
# as lsh_bucket_advisor, re-keyed from (band, sig) buckets to the
# shingle inverted index, with ONE deliberate change to the signal: a
# template's pair mass splits across ALL its shingles (a 10-word
# template spreads over 8 posting lists at k=3, each holding ~12.5% —
# under any top-1 threshold), so the cap-needed signal here is the
# pair mass held by posting lists LONGER than the cap floor
# (heavy_share), which is exactly the mass a cap at the floor would
# remove: 0 ppm on organic corpora (max DF 25 at sf0.1 << 64), ~1e6 on
# templated ones. The LSH advisor keeps its top-1 rule — bands FOLD a
# whole template into one bucket per band, so top-1 concentration is
# the right signal there. The value clips to MARGIN × the MEDIAN
# posting length (immune to the stop-shingle mass), floored at
# JACCARD_MAX_POSTING's default so a recommended cap is always safe to
# apply verbatim.
ADVISOR_POSTING_MARGIN = 4
ADVISOR_POSTING_FLOOR = 64  # == pipelines.JACCARD_MAX_POSTING (import
# cycle — pinned by an import-time assert in pipelines.py)


def posting_advisor(
    docs: DataFrame,
    margin: int = ADVISOR_POSTING_MARGIN,
    cap_floor: int = ADVISOR_POSTING_FLOOR,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """One-pass cap-on/off advisor for :func:`ngram_jaccard_pairs`'s
    ``max_posting`` — :func:`lsh_bucket_advisor`'s decision rule
    applied to the shingle inverted index: run it BEFORE the
    O(Σ posting²) self-join to learn whether this corpus is organic
    (cap unnecessary — max observed DF is 25 at sf0.1) or templated
    (cap mandatory — one stop-shingle posting list is about to emit a
    quadratic pair blow-up), and what cap value clips only the
    pathological tail.

    Plan shape: shingles → ONE per-shingle count aggregation
    (map-combinable) + one countDistinct(doc_id) — the self-join never
    runs. Median posting length folds the count frame to its
    count-of-counts histogram (window over ≤ √(2·n_shingles) rows);
    ppm shares run 128-bit (decimal(38,0)) because 1e6·Σ c(c−1)/2
    overflows int64 at real corpus sizes.

    Decision rule (constants above; the share threshold is the LSH
    advisor's ``ADVISOR_TOP_SHARE_PPM``): cap ON iff posting lists
    longer than ``cap_floor`` hold ≥ 20% of all candidate pairs AND
    ``max_posting > cap_floor``; recommended value =
    ``greatest(margin · median_posting, cap_floor)``.

    Returns ONE row: ``(n_docs, n_shingles, total_pairs, max_posting,
    median_posting, heavy_share_ppm, pairs_per_doc_ppm,
    cap_recommended, recommended_cap)`` — ``recommended_cap`` is NULL
    when the corpus is organic."""
    sh = shingle_rows if shingle_rows is not None else shingles(docs)
    cnt = sh.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.expr("(c * (c - 1)) div 2")).cast("long").alias("total_pairs"),
        F.max("c").cast("long").alias("max_posting"),
        F.sum(
            F.expr(
                f"CASE WHEN c > {cap_floor} THEN (c * (c - 1)) div 2 "
                f"ELSE 0 END"
            )
        ).cast("long").alias("heavy_pairs"),
    )
    nd = sh.agg(F.countDistinct("doc_id").cast("long").alias("n_docs"))
    hist = cnt.groupBy(F.col("c").alias("x")).agg(F.count(F.lit(1)).alias("m"))
    w_le = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cm", F.sum("m").over(w_le))
    med = (
        cum.crossJoin(F.broadcast(tot.select("n_shingles")))
        .where(F.expr("cm >= (n_shingles + 1) div 2"))
        .agg(F.min("x").cast("long").alias("median_posting"))
    )
    D = "decimal(38,0)"
    share = (
        f"CASE WHEN total_pairs > 0 THEN "
        f"CAST((CAST(1000000 AS {D}) * CAST(heavy_pairs AS {D})) "
        f"DIV CAST(total_pairs AS {D}) AS BIGINT) ELSE CAST(0 AS BIGINT) END"
    )
    cap_on = (
        f"({share}) >= {ADVISOR_TOP_SHARE_PPM} AND max_posting > {cap_floor}"
    )
    return (
        tot.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(med))
        .select(
            "n_docs",
            "n_shingles",
            "total_pairs",
            "max_posting",
            "median_posting",
            F.expr(share).alias("heavy_share_ppm"),
            F.expr(
                f"CAST((CAST(1000000 AS {D}) * CAST(total_pairs AS {D})) "
                f"DIV CAST(n_docs AS {D}) AS BIGINT)"
            ).alias("pairs_per_doc_ppm"),
            F.expr(cap_on).alias("cap_recommended"),
            F.expr(
                f"CASE WHEN {cap_on} THEN "
                f"greatest({margin} * median_posting, {cap_floor}) "
                f"ELSE CAST(NULL AS BIGINT) END"
            ).alias("recommended_cap"),
        )
    )


def ngram_jaccard_pairs_advised(
    docs: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """ADAPTIVE exact-Jaccard pairs: :func:`posting_advisor` decides,
    then :func:`ngram_jaccard_pairs` runs with the recommendation —
    the jaccard-family sibling of :func:`minhash_lsh_pairs_advised`
    (r07 verdict item 5). On an organic corpus this is bit-identical
    to the uncapped exact form (the advisor says OFF); on a templated
    corpus the recommended posting cap bounds the stop-shingle blow-up
    BEFORE the inverted-index self-join runs. The dispatch is one
    bounded 1-row collect; the DuckDB oracle replays the identical
    dynamic decision, so the differential gate certifies decision +
    join together.

    The shingle frame — the pipeline's shared expensive stage — is
    computed ONCE and persisted: the advisor's collect materializes it
    into cache, and both the capped index and the union-size
    denominators reuse the cached frame."""
    sh = shingles(docs).persist()
    adv = posting_advisor(docs, shingle_rows=sh).collect()[0]
    cap = int(adv["recommended_cap"]) if adv["cap_recommended"] else None
    return _release_with(
        ngram_jaccard_pairs(
            docs, threshold, max_posting=cap, cap_strategy="window",
            shingle_rows=sh,
        ),
        sh,
    )


WINNOW_W = 4  # winnowing window (guarantee: any match >= w+k-1 tokens
# shares a fingerprint)
WINNOW_MIN_SHARED = 2
WINNOW_MAX_POSTING = 64
# winnow_pairs_advised reuses posting_advisor with its DEFAULT floor,
# so the static winnow cap and the advisor floor must agree
assert WINNOW_MAX_POSTING == ADVISOR_POSTING_FLOOR, (
    WINNOW_MAX_POSTING,
    ADVISOR_POSTING_FLOOR,
)
_WINNOW_PACK = 2_147_483_648  # 2^31: hash and position both fit 31 bits


def winnow_fingerprints(
    docs: DataFrame, k: int | None = None, w: int = WINNOW_W
) -> DataFrame:
    """(doc_id, h): the distinct winnowing fingerprints — the posting
    index :func:`winnow_pairs` self-joins, extracted so an adaptive
    caller (or the advisor) computes it once. One posexplode + one
    per-doc window pass; the window argmin is the packed-key integer
    min documented on :func:`winnow_pairs`."""
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        SHINGLE_K,
        gram_array,
        rolling_hash,
        tokens,
    )

    kk = int(k if k is not None else SHINGLE_K)
    base = docs.select(
        "doc_id",
        F.posexplode(gram_array(tokens(F.col("text")), kk)).alias("pos", "g"),
    )
    hp = base.select(
        "doc_id",
        "pos",
        (
            rolling_hash(F.col("g")) * F.lit(_WINNOW_PACK)
            + (F.lit(_WINNOW_PACK - 1) - F.col("pos"))
        ).alias("pk"),
    )
    win = (
        Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    )
    cnt = Window.partitionBy("doc_id")
    return (
        hp.withColumn("_n", F.count("*").over(cnt))
        .withColumn("_m", F.min("pk").over(win))
        .where(F.col("pos") <= F.col("_n") - w)
        .select(
            "doc_id", F.expr(f"_m DIV {_WINNOW_PACK}").alias("h")
        )
        .distinct()
    )


def winnow_pairs(
    docs: DataFrame,
    k: int | None = None,
    w: int = WINNOW_W,
    min_shared: int = WINNOW_MIN_SHARED,
    max_posting: int | None = WINNOW_MAX_POSTING,
    fingerprint_rows: DataFrame | None = None,
) -> DataFrame:
    """Winnowing fingerprint near-dup detection (Schleimer/Wilkerson/
    Aiken 2003, the MOSS algorithm): hash every positional k-gram,
    slide a w-window over the hash sequence, keep each window's
    minimum (rightmost on ties) — the selected fingerprints GUARANTEE
    that any shared run of >= w+k-1 tokens surfaces, a positional
    robustness property MinHash's whole-document sketch does not give.
    Pairs sharing >= ``min_shared`` distinct fingerprint hashes are
    reported.

    Determinism: the window argmin is ONE integer min over the packed
    key ``h·2³¹ + (2³¹−1−pos)`` (both fit 31 bits) — min key ⇔
    (min h, then max pos) — the same expression on both engines, no
    struct/argmin dialect differences. Everything downstream is the
    capped inverted-index shape of :func:`ngram_jaccard_pairs`.

    Plan: one posexplode + ONE per-doc window pass (frame = w
    following rows, same (doc, pos) ordering the explode already
    has), distinct fingerprints, stop-fingerprint cap, equi self-join.
    Returns ``(doc_a, doc_b, n_shared)``, doc_a < doc_b, ordered.
    """
    sel = (
        fingerprint_rows
        if fingerprint_rows is not None
        else winnow_fingerprints(docs, k, w)
    )
    if max_posting is not None:
        wdf = Window.partitionBy("h")
        capped = (
            sel.withColumn("_df", F.count("*").over(wdf))
            .where(F.col("_df") <= max_posting)
            .drop("_df")
        )
    else:
        capped = sel
    a = capped.select(F.col("doc_id").alias("doc_a"), "h")
    b = capped.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("hb"))
    return (
        a.join(b, (a.h == b.hb) & (a.doc_a < b.doc_b))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .orderBy("doc_a", "doc_b")
    )


def winnow_pairs_advised(
    docs: DataFrame,
    k: int | None = None,
    w: int = WINNOW_W,
    min_shared: int = WINNOW_MIN_SHARED,
) -> DataFrame:
    """ADAPTIVE winnowing: :func:`posting_advisor`'s heavy-share rule
    applied to the FINGERPRINT posting lists (the advisor is
    index-agnostic — it reads any (doc_id, key) frame; the winnow
    floor equals the shingle floor, 64). Completes the r07 item-5
    unification: jaccard, containment and winnowing now share one
    decision procedure. Fingerprints computed ONCE for advisor +
    join; the oracle replays the identical dynamic decision.

    Caveat shared with the whole advisor family: the value rule clips
    to 4× the MEDIAN posting list, which is immune to the template
    mass only while organic lists dominate the list COUNT — a corpus
    that is MOSTLY template (winnowing compresses a 10-word template
    to ~3 distinct fingerprints, so this happens sooner than for raw
    shingles) yields a median-sized template list and a cap that
    clips nothing; cap_recommended still reads True with the
    heavy-share evidence, so callers needing a hard bound can apply
    ``cap_floor`` directly."""
    sel = winnow_fingerprints(docs, k, w).persist()
    adv = posting_advisor(
        docs, shingle_rows=sel.select("doc_id", F.col("h").alias("s"))
    ).collect()[0]
    cap = int(adv["recommended_cap"]) if adv["cap_recommended"] else None
    return _release_with(
        winnow_pairs(
            docs, k, w, min_shared, max_posting=cap, fingerprint_rows=sel
        ),
        sel,
    )


def ngram_containment_pairs(
    docs: DataFrame,
    threshold_ppm: int = 500_000,
    max_posting: int | None = None,
    shingle_rows: DataFrame | None = None,
) -> DataFrame:
    """Shingle-set CONTAINMENT near-dup detection: ``cont =
    |A∩B| / min(|A|, |B|)`` — the sub-document-duplication score.
    Jaccard misses a short document wholly embedded in a long one
    (the union term swamps the intersection); containment is the
    standard fix (Broder's resemblance vs containment split), and for
    training data it is the signal for quote-heavy or wrapper pages.

    All-integer: ``cont_ppm = (1e6 * c) DIV least(na, nb)`` on
    positive int64s (floor == truncate on both engines), thresholded
    in ppm — no float reaches the filter.

    Plan: identical inverted-index self-join shape (and stop-shingle
    ``max_posting`` cap, window strategy) as
    :func:`ngram_jaccard_pairs` — the cap bounds pair work by cap² per
    shingle; capped runs UNDER-estimate (intersections lose capped
    shingles, sizes keep them), same documented contract. Returns
    ``(doc_a, doc_b, inter_size, cont_ppm)`` with doc_a < doc_b.
    """
    sh = (
        shingle_rows if shingle_rows is not None else shingles(docs).persist()
    )
    if max_posting is not None:
        w = Window.partitionBy("s")
        joined_sh = (
            sh.withColumn("_df", F.count("*").over(w))
            .where(F.col("_df") <= max_posting)
            .drop("_df")
        )
    else:
        joined_sh = sh
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = joined_sh.select(F.col("doc_id").alias("doc_a"), "s")
    sb = joined_sh.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b"))
    inter = (
        sa.join(sb, (sa["s"] == sb["s_b"]) & (sa["doc_a"] < sb["doc_b"]))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("c"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.col("c").cast("long").alias("inter_size"),
            F.expr("(1000000 * c) DIV least(na, nb)")
            .cast("long")
            .alias("cont_ppm"),
        )
        .where(F.col("cont_ppm") >= threshold_ppm)
    )


def ngram_containment_pairs_advised(
    docs: DataFrame, threshold_ppm: int = 500_000
) -> DataFrame:
    """ADAPTIVE containment pairs: the same :func:`posting_advisor`
    verdict that drives :func:`ngram_jaccard_pairs_advised` drives the
    containment join's ``max_posting`` — both operators share the
    shingle inverted index, so one advisor rule covers the family
    (r07 verdict item 5's "unify"). Shingle frame computed ONCE for
    advisor + join; the oracle replays the identical dynamic
    decision."""
    sh = shingles(docs).persist()
    adv = posting_advisor(docs, shingle_rows=sh).collect()[0]
    cap = int(adv["recommended_cap"]) if adv["cap_recommended"] else None
    return _release_with(
        ngram_containment_pairs(
            docs, threshold_ppm, max_posting=cap, shingle_rows=sh
        ),
        sh,
    )


def dup_ngram_spans(docs: DataFrame, min_df: int = 2) -> DataFrame:
    """Cross-document repeated-span profile — the document-level
    signal behind exact-substring train-data dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): for
    each document, how much of it is made of k-gram spans that also
    appear in OTHER documents. High ``dup_frac_ppm`` marks templated /
    boilerplate / mass-duplicated pages that per-document near-dup
    pairing undercounts (a doc can be 90% memorized spans without any
    single partner crossing a pair threshold).

    Plan: distinct per-doc shingles, document frequency per shingle
    via ONE count window over the shingle partitioning (the same
    shared-exchange trick as the jaccard posting cap — df never needs
    a second shuffle), then ONE groupBy(doc_id). No self-join at all —
    this is strictly cheaper than any pair operator: two exchanges,
    both on bounded keys, zero pair blow-up at 100 TB. All counts are
    integers; ``dup_frac_ppm = (1e6 * n_dup) DIV n_shingles``.

    Returns ``(doc_id, n_shingles, n_dup, max_df, dup_frac_ppm)`` for
    documents with at least one shingle (shorter-than-k docs have no
    span evidence and are absent, same contract as the pair ops).
    """
    sh = shingles(docs)
    w = Window.partitionBy("s")
    with_df = sh.withColumn("_df", F.count("*").over(w))
    return (
        with_df.groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_shingles"),
            F.sum(F.when(F.col("_df") >= min_df, 1).otherwise(0))
            .cast("long")
            .alias("n_dup"),
            F.max("_df").cast("long").alias("max_df"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_dup",
            "max_df",
            F.expr("(1000000 * n_dup) DIV n_shingles").alias("dup_frac_ppm"),
        )
    )


def decontaminate(
    docs: DataFrame, eval_docs: DataFrame, k: int = 5, min_hits: int = 1
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share at
    least ``min_hits`` distinct ``k``-word shingles with an evaluation
    set (the standard guard against test-set leakage into training
    data; k chosen long enough that coincidental overlap is rare).

    Scale shape: the eval side is a benchmark — tiny next to a 100 TB
    corpus — so its distinct shingle set is BROADCAST and the corpus is
    filtered by a broadcast hash join (one corpus scan, no corpus-side
    shuffle); the only shuffle is the per-doc hit count on doc_id.
    Corpus shingles are distinct per document, so ``count(*)`` after
    the join IS the distinct-shared-shingle count.

    Returns ``(doc_id, n_shared, contaminated)`` for every corpus doc.
    """
    corpus_sh = shingles(docs, k)
    eval_sh = shingles(eval_docs, k).select("s").distinct()
    hits = (
        corpus_sh.join(F.broadcast(eval_sh), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )
    n = F.coalesce(F.col("n_shared"), F.lit(0)).cast("long")
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            n.alias("n_shared"),
            (n >= min_hits).alias("contaminated"),
        )
    )


PASSAGE_TOKENS = 16


def passage_dedup(docs: DataFrame, passage_tokens: int = PASSAGE_TOKENS) -> DataFrame:
    """Passage-level exact duplication report: per document, how many
    of its fixed-width token passages also occur in ANOTHER document.

    This is the substring-granular leg of the dedup family (mC4/
    RefinedWeb-style "remove repeated boilerplate passages"): documents
    are split into non-overlapping ``passage_tokens``-token windows,
    each passage is hashed, and a passage counts as duplicated when
    its hash appears in >= 2 distinct documents.

    Scale shape: only ``(doc_id, passage_hash)`` longs ever shuffle —
    passage text dies inside the projection that hashes it. Three
    map-combinable aggregations (distinct per-doc passages, per-hash
    doc counts, per-doc rollup) plus one equi-join on the hash; no
    all-pairs comparison anywhere. Short final passages (< width) are
    kept — a trailing fragment shared across docs is still boilerplate.

    Returns ``(doc_id, n_passages, n_dup_passages)`` for documents with
    at least one duplicated passage, ordered by ``doc_id``. Counts are
    over DISTINCT passages per document.
    """
    p = int(passage_tokens)
    ws = tokens(F.col("text"))
    starts = F.sequence(
        F.lit(0),
        ((F.greatest(F.size(ws), F.lit(1)) - 1) / p).cast("long"),
    )
    pairs = (
        docs.select("doc_id", ws.alias("_ws"), F.explode(starts).alias("i"))
        .select(
            "doc_id",
            rolling_hash(
                F.array_join(
                    F.slice(F.col("_ws"), (F.col("i") * p + 1).cast("int"), p),
                    " ",
                )
            ).alias("h"),
        )
        .distinct()
    )
    cnt = pairs.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    flagged = pairs.join(cnt.where(F.col("n_docs") >= 2), "h", "left")
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.col("n_docs").isNotNull().cast("long")).alias(
                "n_dup_passages"
            ),
        )
        .where(F.col("n_dup_passages") >= 1)
        .orderBy("doc_id")
    )


# blocked edit-distance defaults: compare the first EDIT_PREFIX chars,
# block on the first token, report pairs within EDIT_MAX_DIST; a block
# keeps at most EDIT_MAX_BLOCK members (lowest doc_ids) in the join
EDIT_PREFIX = 48
EDIT_MAX_DIST = 24
EDIT_MAX_BLOCK = 64


def edit_distance_pairs(
    docs: DataFrame,
    prefix_len: int = EDIT_PREFIX,
    max_dist: int = EDIT_MAX_DIST,
    max_block: int = EDIT_MAX_BLOCK,
) -> DataFrame:
    """Blocked Levenshtein near-dup pairs — the fifth dedup family
    next to MinHash/SimHash/Jaccard/winnowing: EXACT edit distance,
    but only within candidate blocks, never all-pairs.

    Blocking key = the first whitespace token of the lowercased
    ``prefix_len``-char prefix (record-linkage-style blocking: near
    duplicates overwhelmingly share their opening token; a swapped or
    edited head is the recall the hash families already cover). The
    distance itself is JVM-side ``levenshtein`` over the prefixes —
    an integer both engines compute identically, no Python, no floats.

    Scale shape: ONE self-equi-join on the block key, candidate count
    bounded by block sizes exactly like the LSH band join; a skewed
    block (every doc starting with "the") would otherwise be the same
    quadratic pathology as a stop-shingle, so blocks are CAPPED at
    ``max_block`` members — the lowest ``max_block`` doc_ids per block
    participate, the rest are excluded from pairing (deterministic,
    mirrored in the DuckDB oracle; same treatment as
    ``ngram_jaccard``'s ``max_posting``). Returns ``(a_id, b_id,
    dist)``, ``a_id < b_id``, ``dist <= max_dist``, ordered.
    """
    base = docs.select(
        "doc_id",
        F.substring(F.lower(F.col("text")), 1, int(prefix_len)).alias("p"),
    ).withColumn("blk", F.substring_index(F.col("p"), " ", 1))
    wblk = Window.partitionBy("blk").orderBy("doc_id")
    base = (
        base.withColumn("_rnk", F.row_number().over(wblk))
        .where(F.col("_rnk") <= int(max_block))
        .drop("_rnk")
    )
    a = base.select(
        F.col("doc_id").alias("a_id"), F.col("p").alias("pa"), "blk"
    )
    b = base.select(
        F.col("doc_id").alias("b_id"), F.col("p").alias("pb"), "blk"
    )
    return (
        a.join(b, "blk")
        .where(F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.levenshtein("pa", "pb").cast("long").alias("dist"),
        )
        .where(F.col("dist") <= int(max_dist))
        .orderBy("a_id", "b_id")
    )


def source_overlap_matrix(docs: DataFrame, top_k: int = 20) -> DataFrame:
    """Cross-source contamination matrix at shingle granularity: for
    every source pair, the Jaccard overlap of their DISTINCT shingle
    sets — the "are two crawls/feeds substantially the same corpus"
    audit that runs BEFORE pairwise doc dedup is worth its cost (two
    sources with ppm-level overlap need no cross-source near-dup pass;
    near-identical ones need a merge decision instead).

    Scale shape: one distinct (source, shingle) aggregation, one
    per-shingle source-set collect bounded by |sources| (a dim-sized
    array per row — never a posting self-join), in-row pair
    enumeration, one pair agg. ``overlap_ppm = 1e6·shared div
    (n_a + n_b − shared)``, all-int64.

    Returns the ``top_k`` pairs by (overlap_ppm DESC, sa, sb).
    """
    base = docs.select("source", tokens(F.col("text")).alias("ws"))
    per = (
        base.select(
            "source",
            F.explode(
                F.array_distinct(gram_array(F.col("ws"), SHINGLE_K))
            ).alias("s"),
        )
        .distinct()
    )
    sizes = per.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    sets = (
        per.groupBy("s")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") >= 2)
    )
    pairs = F.flatten(
        F.expr(
            "transform(ss, (x, i) -> transform("
            "slice(ss, i + 2, size(ss)), y -> struct(x AS sa, y AS sb)))"
        )
    )
    shared = (
        sets.select(F.explode(pairs).alias("p"))
        .select("p.sa", "p.sb")
        .groupBy("sa", "sb")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(
            sizes.select(F.col("source").alias("sa"), F.col("n_sh").alias("n_a")),
            "sa",
        )
        .join(
            sizes.select(F.col("source").alias("sb"), F.col("n_sh").alias("n_b")),
            "sb",
        )
        .select(
            "sa",
            "sb",
            "shared",
            F.expr("(1000000 * shared) div (n_a + n_b - shared)").alias(
                "overlap_ppm"
            ),
        )
        .orderBy(F.desc("overlap_ppm"), "sa", "sb")
        .limit(top_k)
    )


def bag_dedup(docs: DataFrame) -> DataFrame:
    """Order-insensitive duplicate groups — the bag-of-tokens key
    catches template/reshuffle duplicates :func:`exact_dedup` misses
    (same words, different order: list-shuffled boilerplate, reordered
    metadata blocks). Key = sha2-256 of the SORTED token array joined
    back — the 32-byte-key shuffle form of ``exact_dedup(by_hash=
    True)``, so the 100 TB shape is identical: one hash-key groupBy,
    no pairwise comparison. ``n_distinct_texts > 1`` inside a group is
    the reorder-dup signal (texts that are bag-equal but not
    string-equal).

    Returns ``(keep_id, n_copies, n_distinct_texts)`` per bag group,
    ordered by keep_id.
    """
    key = F.sha2(
        F.array_join(F.sort_array(tokens(F.col("text"))), " "), 256
    )
    return (
        docs.select("doc_id", key.alias("k"), "text")
        .groupBy("k")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("text").alias("n_distinct_texts"),
        )
        .select("keep_id", "n_copies", "n_distinct_texts")
        .orderBy("keep_id")
    )


# --- content-defined chunking (CDC) payload dedup --------------------

CDC_WINDOW = 8  # sliding codepoint window the boundary rule reads
CDC_DIVISOR = 32  # boundary when window-sum % divisor == 0 (~32-char chunks)


def cdc_chunks(
    docs: DataFrame, window: int = CDC_WINDOW, divisor: int = CDC_DIVISOR
) -> DataFrame:
    """Content-defined chunking: split each document at positions where
    a sliding window-sum of codepoints hits ``0 mod divisor`` — the
    storage-dedup primitive (rsync/LBFS/FastCDC family). Unlike
    fixed-size blocks, boundaries are functions of LOCAL content, so an
    insertion early in a document shifts at most one chunk: every
    later boundary re-aligns and the shared tail still dedups. The
    boundary rule here is the simplest member of that family (window
    sum instead of a Gear/Rabin hash) so the DuckDB oracle can replay
    it declaratively (window-frame sum over exploded codepoints); the
    chunk-shift resistance argument is identical.

    Boundary: 1-based position ``i >= window`` where the sum of
    codepoints ``i-window+1 .. i`` is divisible by ``divisor``; the
    boundary char ENDS its chunk. A boundary on the final char yields
    no empty tail chunk. Documents shorter than ``window`` are one
    chunk.

    Plan: ONE map-only Arrow pass (``mapInPandas``) — no explode, no
    shuffle; each batch chunks its documents with O(len) numpy sliding
    sums. At 100 TB this is embarrassingly parallel and the downstream
    dedup aggregations are map-combinable; the oracle's per-character
    explode is the tiny-SF verification form only.

    Returns ``(doc_id, source, chunk_id, chunk)`` — chunk_id is the
    0-based count of boundaries before the chunk's first char.
    """
    w, d = int(window), int(divisor)
    if w < 1 or d < 1:
        raise ValueError("window and divisor must be >= 1")

    def chunker(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_doc: list[int] = []
            out_src: list[str] = []
            out_cid: list[int] = []
            out_chunk: list[str] = []
            for doc_id, src, text in zip(
                pdf["doc_id"], pdf["source"], pdf["text"]
            ):
                if text is None or len(text) == 0:
                    continue  # oracle explodes zero char rows -> no chunks
                codes = np.fromiter(
                    (ord(c) for c in text), dtype=np.int64, count=len(text)
                )
                cs = np.cumsum(codes)
                wsum = cs.copy()
                if len(codes) > w:
                    wsum[w:] = cs[w:] - cs[:-w]
                bnd = wsum % d == 0
                bnd[: w - 1] = False  # positions < window never bound
                ends = np.flatnonzero(bnd) + 1  # 1-based inclusive ends
                starts = np.concatenate(([0], ends))
                stops = np.concatenate((ends, [len(text)]))
                for cid, (s, e) in enumerate(zip(starts, stops)):
                    if e <= s:
                        continue  # boundary on final char: no empty tail
                    out_doc.append(doc_id)
                    out_src.append(src)
                    out_cid.append(cid)
                    out_chunk.append(text[s:e])
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(out_doc, dtype="int64"),
                    "source": pd.Series(out_src, dtype="object"),
                    "chunk_id": pd.Series(out_cid, dtype="int64"),
                    "chunk": pd.Series(out_chunk, dtype="object"),
                }
            )

    return docs.select("doc_id", "source", "text").mapInPandas(
        chunker, "doc_id long, source string, chunk_id long, chunk string"
    )


def cdc_chunk_dedup(
    docs: DataFrame, window: int = CDC_WINDOW, divisor: int = CDC_DIVISOR
) -> DataFrame:
    """Per-source storage-dedup ledger over :func:`cdc_chunks`: how
    many chunks each source produces, how many are distinct by md5,
    and the character savings a chunk-store would realize — the
    advisor that says WHICH crawl/source carries template mass worth
    chunk-level dedup (vs the doc-level :func:`exact_dedup`, which
    misses near-identical documents entirely).

    Two map-combinable aggregations over the chunk stream (total and
    per-(source, md5) distinct); all integers, ``dedup_ppm`` by int64
    floor division — bit-identical across engines and partitionings.

    Returns ``(source, total_chunks, distinct_chunks, total_chars,
    saved_chars, dedup_ppm)`` ordered by source.
    """
    ch = cdc_chunks(docs, window, divisor).select(
        "source", F.md5("chunk").alias("h"), F.length("chunk").alias("len")
    )
    tot = ch.groupBy("source").agg(
        F.count(F.lit(1)).alias("total_chunks"),
        F.sum("len").alias("total_chars"),
    )
    dis = (
        ch.groupBy("source", "h")
        .agg(F.max("len").alias("len"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("distinct_chunks"),
            F.sum("len").alias("distinct_chars"),
        )
    )
    return (
        tot.join(dis, "source")
        .select(
            "source",
            F.col("total_chunks").cast("long").alias("total_chunks"),
            F.col("distinct_chunks").cast("long").alias("distinct_chunks"),
            F.col("total_chars").cast("long").alias("total_chars"),
            (F.col("total_chars") - F.col("distinct_chars"))
            .cast("long")
            .alias("saved_chars"),
            F.expr(
                "CAST((1000000 * (total_chars - distinct_chars))"
                " DIV total_chars AS BIGINT)"
            ).alias("dedup_ppm"),
        )
        .orderBy("source")
    )
