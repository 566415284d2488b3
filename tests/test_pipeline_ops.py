"""Unit tests for the training-data pipeline operators
(operators/dedup.py, operators/textops.py) on tiny hand-checked data.

The differential oracle in test_workloads_oracle.py covers the full
corpus; these pin the edge semantics: short docs, exact-dup groups,
hamming bounds, jaccard on known overlaps.
"""

import pytest
from pyspark.sql import functions as F

from query_refinement_dsit_databases_2021_spark.operators import dedup, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "a b c d e"),
        (2, "a b c d e"),  # exact dup of 1
        (3, "a b c d f"),  # near dup of 1: shingles overlap 2/4
        (4, "x y"),  # shorter than shingle width -> no shingles
        (5, "q r s t u v w"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(docs):
    got = {r["keep_id"]: r["n_copies"] for r in dedup.exact_dedup(docs).collect()}
    assert got == {1: 2, 3: 1, 4: 1, 5: 1}


def test_exact_dedup_by_hash_identical_groups(docs):
    # the 32-byte-key shuffle form must produce the same groups
    a = sorted(tuple(r) for r in dedup.exact_dedup(docs).collect())
    b = sorted(tuple(r) for r in dedup.exact_dedup(docs, by_hash=True).collect())
    assert a == b


def test_jaccard_posting_cap_bounds_join(docs, spark):
    # every doc shares the stop-shingle; capping drops it from the
    # inverted index, so pair scores can only shrink (or vanish)
    rows = [(i, f"stop shingle here t{i} u{i} v{i}") for i in range(1, 6)]
    rows += [(10, "stop shingle here t1 u1 v1")]  # true near-dup of 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    full = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(df, threshold=0.0).collect()
    }
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            df, threshold=0.0, max_posting=2
        ).collect()
    }
    assert set(capped) <= set(full)
    for pair, j in capped.items():
        assert j <= full[pair] + 1e-9
    # the genuine near-dup pair survives the cap (its distinctive
    # shingles are rare), while stop-shingle-only pairs drop out
    assert (1, 10) in capped
    assert len(capped) < len(full)


def test_shingles_short_doc_empty(docs):
    sh = textops.shingles(docs)
    by_doc = (
        sh.groupBy("doc_id").count().rdd.map(lambda r: (r[0], r[1])).collectAsMap()
    )
    assert 4 not in by_doc  # 2 tokens < k=3 -> no shingles
    assert by_doc[1] == 3  # 5 tokens -> 3 shingles
    assert by_doc[5] == 5


def test_shingles_distinct_within_doc(spark):
    d = spark.createDataFrame([(1, "a b a b a b a b")], "doc_id long, text string")
    sh = textops.shingles(d).collect()
    # rolling shingles are (a|b|a, b|a|b) repeated; distinct -> 2
    assert sorted(r["s"] for r in sh) == ["a|b|a", "b|a|b"]


def test_exact_dups_are_minhash_identical(docs):
    sig = dedup.minhash_signatures(docs)
    s1 = {r["j"]: r["mh"] for r in sig.where("doc_id = 1").collect()}
    s2 = {r["j"]: r["mh"] for r in sig.where("doc_id = 2").collect()}
    assert s1 == s2 and len(s1) == dedup.N_HASHES


def test_minhash_lsh_finds_exact_pair(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_sim"]
        for r in dedup.minhash_lsh_pairs(docs).collect()
    }
    assert pairs[(1, 2)] == 1.0


def test_minhash_max_bucket_caps_template_blowup(spark):
    """max_bucket drops the (band, sig) mega-bucket a templated corpus
    creates — the O(n²)-pairs-from-one-bucket pathology — while a
    genuine near-dup pair (which agrees on every band, each bucket of
    size 2) survives the cap."""
    template = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, template) for i in range(100)]  # 100 identical docs
    rows.append((200, "quick brown fox jumps over the lazy sleeping dog"))
    rows.append((201, "quick brown fox jumps over the lazy sleeping dog"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = dedup.minhash_lsh_pairs(docs).count()
    assert uncapped == 100 * 99 // 2 + 1  # template O(n²) + the pair

    capped = {
        (r["doc_a"], r["doc_b"]): r["est_sim"]
        for r in dedup.minhash_lsh_pairs(docs, max_bucket=8).collect()
    }
    assert capped == {(200, 201): 1.0}


def test_bucket_advisor_flags_template_recommends_safe_cap(spark):
    """On the templated fixture the advisor must say cap-ON with a cap
    that keeps the genuine near-dup pair (bucket size 2) and drops the
    100-doc template bucket; applying the recommended cap verbatim
    must reproduce exactly the capped result. On an organic corpus
    (all-distinct texts) it must say cap-OFF."""
    template = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, template) for i in range(100)]
    rows.append((200, "quick brown fox jumps over the lazy sleeping dog"))
    rows.append((201, "quick brown fox jumps over the lazy sleeping dog"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    adv = dedup.lsh_bucket_advisor(docs).collect()
    assert len(adv) == 1
    a = adv[0]
    assert a["n_docs"] == 102
    assert a["max_bucket"] == 100  # the template mega-bucket
    assert a["cap_recommended"] is True
    # cap keeps organic buckets (near-dup pair agrees at size 2) and
    # drops the size-100 bucket
    assert 2 <= a["recommended_cap"] < 100
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs(
            docs, max_bucket=a["recommended_cap"]
        ).collect()
    }
    assert capped == {(200, 201)}

    organic = spark.createDataFrame(
        [
            (i, f"doc {i} talks about topic{i} and subject{i * 7} only")
            for i in range(60)
        ],
        "doc_id long, text string",
    )
    o = dedup.lsh_bucket_advisor(organic).collect()[0]
    assert o["cap_recommended"] is False
    assert o["recommended_cap"] is None

    # the ADVISED composition takes the capped branch on the template
    # fixture (only the genuine pair survives) and the uncapped branch
    # on the organic fixture (identical to plain minhash_lsh_pairs)
    advised_t = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.minhash_lsh_pairs_advised(docs).collect()
    }
    assert advised_t == {(200, 201)}
    advised_o = sorted(
        tuple(r) for r in dedup.minhash_lsh_pairs_advised(organic).collect()
    )
    plain_o = sorted(
        tuple(r) for r in dedup.minhash_lsh_pairs(organic).collect()
    )
    assert advised_o == plain_o


def test_posting_advisor_flags_template_recommends_safe_cap(spark):
    """Jaccard-family sibling of the bucket-advisor test: on a
    templated corpus (100 identical docs → one posting list of 100,
    heavy share ≈ 1e6 ppm) the advisor must say cap-ON with a value
    that keeps the genuine near-dup pair (DF 2) and drops the template
    posting list; on a corpus whose postings all sit under the floor
    it must say cap-OFF and the advised composition must equal the
    plain uncapped form bit-for-bit."""
    rows = [(i, "lorem ipsum dolor") for i in range(100)]  # one shingle
    rows.append((200, "quick brown fox jumps over the lazy sleeping dog now"))
    rows.append((201, "quick brown fox jumps over the lazy sleeping dog now"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    a = dedup.posting_advisor(docs).collect()
    assert len(a) == 1
    a = a[0]
    assert a["n_docs"] == 102
    assert a["max_posting"] == 100  # the template posting list
    assert a["cap_recommended"] is True
    assert a["heavy_share_ppm"] > 900_000  # template holds ~all pairs
    assert 2 <= a["recommended_cap"] < 100
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            docs, max_posting=a["recommended_cap"]
        ).collect()
    }
    assert capped == {(200, 201): 1.0}

    # the ADVISED composition takes the capped branch on the template
    # fixture (only the genuine pair survives; the 100·99/2 template
    # pairs never reach the self-join)
    advised_t = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs_advised(docs).collect()
    }
    assert advised_t == {(200, 201): 1.0}

    # organic: shared postings exist (the duplicate pair) but nothing
    # exceeds the floor → heavy share is 0 → cap OFF, advised ==
    # plain uncapped
    organic = spark.createDataFrame(
        [
            (i, f"doc {i} talks about topic{i} and subject{i * 7} only")
            for i in range(60)
        ]
        + [(300, "pack my box with five dozen liquor jugs today"),
           (301, "pack my box with five dozen liquor jugs today")],
        "doc_id long, text string",
    )
    o = dedup.posting_advisor(organic).collect()[0]
    assert o["cap_recommended"] is False
    assert o["recommended_cap"] is None
    assert o["heavy_share_ppm"] == 0
    advised_o = sorted(
        tuple(r) for r in dedup.ngram_jaccard_pairs_advised(organic).collect()
    )
    plain_o = sorted(
        tuple(r) for r in dedup.ngram_jaccard_pairs(organic).collect()
    )
    assert advised_o == plain_o == [(300, 301, 1.0)]

    # containment shares the index and the advisor: capped branch on
    # the template fixture (only the genuine pair), uncapped-equals-
    # plain on the organic one
    adv_ct = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.ngram_containment_pairs_advised(docs).collect()
    }
    assert adv_ct == {(200, 201)}
    adv_co = sorted(
        tuple(r)
        for r in dedup.ngram_containment_pairs_advised(organic).collect()
    )
    plain_co = sorted(
        tuple(r) for r in dedup.ngram_containment_pairs(organic).collect()
    )
    assert adv_co == plain_co and len(adv_co) == 1

    # winnowing shares the advisor too (fingerprint posting lists;
    # docs need >= w+k-1 tokens to emit fingerprints, so the template
    # here is the 10-word one). Organic filler docs carry the median:
    # the value rule clips to 4x the MEDIAN list, which is only immune
    # to the template mass when organic lists dominate the list COUNT
    # — true of any real corpus, made true here by the filler (a
    # 10-word template emits just 3 distinct fingerprints, so without
    # filler the 3 template lists ARE the median).
    wrows = [
        (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
        for i in range(100)
    ]
    wrows += [
        (
            300 + i,
            " ".join(f"w{i}t{j}" for j in range(10)),  # all-unique grams
        )
        for i in range(60)
    ]
    wrows.append((200, "quick brown fox jumps over the lazy sleeping dog now"))
    wrows.append((201, "quick brown fox jumps over the lazy sleeping dog now"))
    wdocs = spark.createDataFrame(wrows, "doc_id long, text string")
    adv_wt = {
        (r["doc_a"], r["doc_b"])
        for r in dedup.winnow_pairs_advised(wdocs).collect()
    }
    assert adv_wt == {(200, 201)}
    adv_wo = sorted(
        tuple(r) for r in dedup.winnow_pairs_advised(organic).collect()
    )
    plain_wo = sorted(
        tuple(r)
        for r in dedup.winnow_pairs(organic, max_posting=None).collect()
    )
    assert adv_wo == plain_wo and len(adv_wo) == 1


def test_components_broadcast_switch_output_invariant(spark, monkeypatch):
    """r09: neardup_components broadcasts the per-round label frame
    while it fits; r10 made the bound BYTE-based (rows x schema width
    vs materialize.BROADCAST_MAX_BYTES, decided via broadcast_ok). The
    shuffle fallback past the bound must produce bit-identical
    clusters — pinned by forcing the fallback and comparing."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        "doc_a long, doc_b long",
    )
    docs = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 20, 21, 22, 23, 99)],
        "doc_id long",
    )
    bc = sorted(map(tuple, dedup.neardup_components(pairs, docs).collect()))
    monkeypatch.setattr(dedup, "broadcast_ok", lambda n, df: False)
    sh = sorted(map(tuple, dedup.neardup_components(pairs, docs).collect()))
    assert bc == sh
    # and the labels are the min-id canonical form
    got = {d: c for d, c, _ in bc}
    assert got[3] == 1 and got[11] == 10 and got[23] == 20 and got[99] == 99


def test_advised_paths_release_caches_on_gc(spark):
    """The dedup operators materialize the shingle/signature/fingerprint
    frame they read more than once (advisor + join, or both sides of a
    self-join). In ``local`` mode that is a local checkpoint whose
    blocks the ContextCleaner drops once no live plan reads them. So
    the cache is hot while the result is held; it stays while only a
    frame DERIVED from the result is held (a caller that projects the
    result and drops it must not lose the cache before its own query
    runs); and it is released once every frame is dropped. Release
    needs the py4j handle freed, a JVM GC and the cleaner thread, which
    works through its backlog first (7–92 s measured on 4 cores), so it
    is polled up to ``RELEASE_BOUND_S``. Data is unique to this
    test: the JVM CacheManager keys entries by logical plan, so reusing
    the shared fixture could alias cache entries of other tests."""
    import gc
    import time

    RELEASE_BOUND_S = 300

    docs = spark.createDataFrame(
        [
            (1, "cachegc alpha beta gamma delta epsilon"),
            (2, "cachegc alpha beta gamma delta epsilon"),
            (3, "cachegc alpha beta gamma delta zeta"),
            (4, "unrelated words entirely here instead now"),
        ],
        "doc_id long, text string",
    )
    jvm = spark.sparkContext._jvm

    def persistent_ids() -> set:
        it = spark.sparkContext._jsc.getPersistentRDDs().keySet().iterator()
        ids = set()
        while it.hasNext():
            ids.add(it.next())
        return ids

    # Track the SPECIFIC rdd ids each call persists rather than a
    # global count: another test's cache can be released at any GC in
    # this process, which made count-delta assertions order-dependent.
    held = set()
    for fn in (
        dedup.ngram_jaccard_pairs,
        dedup.minhash_lsh_pairs,
        dedup.ngram_containment_pairs,
        dedup.minhash_lsh_pairs_advised,
        dedup.ngram_jaccard_pairs_advised,
        dedup.ngram_containment_pairs_advised,
        dedup.winnow_pairs_advised,
    ):
        gc.collect()
        before = persistent_ids()
        res = fn(docs)
        res.collect()
        added = persistent_ids() - before
        assert added, fn.__name__  # cache hot while held
        derived = res.select("doc_a", "doc_b")
        del res
        gc.collect()
        jvm.System.gc()
        derived.collect()
        assert added <= persistent_ids(), fn.__name__  # the derived frame keeps it
        del derived
        held |= added
    deadline = time.monotonic() + RELEASE_BOUND_S
    while persistent_ids() & held and time.monotonic() < deadline:
        gc.collect()
        jvm.System.gc()
        time.sleep(0.5)
    assert not (persistent_ids() & held)


def test_simhash_exact_dup_hamming_zero(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in dedup.simhash_pairs(docs, max_hamming=3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert all(h <= 3 for h in pairs.values())


def test_ngram_jaccard_known_overlap(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0
    # docs 1 and 3: shingles {abc,bcd,cde} vs {abc,bcd,cdf}: 2/4
    assert pairs[(1, 3)] == 0.5


def test_quality_columns_hand_values(spark):
    d = spark.createDataFrame([(1, "the cat sat on the mat")], "doc_id long, text string")
    row = textops.quality_columns(d).collect()[0]
    assert row["n_tokens"] == 6
    assert row["n_types"] == 5  # 'the' twice
    assert row["stop_ratio"] == pytest.approx(2 / 6, abs=1e-6)
    assert row["avg_word_len"] == pytest.approx(17 / 6, abs=1e-6)


def test_token_stats(spark):
    d = spark.createDataFrame(
        [(1, "a b a"), (2, "a c")], "doc_id long, text string"
    )
    got = {r["term"]: (r["tf"], r["df"]) for r in textops.token_stats(d).collect()}
    assert got == {"a": (3, 2), "b": (1, 1), "c": (1, 1)}


def test_langid_separable(spark):
    rows = [(i, "le chat est noir", "fr") for i in range(5)] + [
        (i + 10, "the cat is black", "en") for i in range(5)
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = textops.langid_predictions(d).collect()
    assert all(r["correct"] == 1 for r in out)
    assert len(out) == 10


def test_fingerprints_no_shingle_doc(docs):
    fp = {r["doc_id"]: r for r in textops.fingerprints(docs).collect()}
    assert fp[4]["min_shingle_hash"] == -1  # no shingles -> sentinel
    assert fp[1]["text_hash"] == fp[2]["text_hash"]
    assert fp[1]["text_hash"] != fp[3]["text_hash"]


def test_rolling_hash_known_value(spark):
    # 'ab': ((0*31+97)*31+98) % p = 3105
    got = (
        spark.range(1)
        .select(textops.rolling_hash(F.lit("ab")).alias("h"))
        .collect()[0]["h"]
    )
    assert got == 3105


# ---------------------------------------------------------------------------
# IVF ANN (operators/simsearch.py)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def emb_tiny(spark):
    import math

    rows = [
        (i, [math.sin(0.7 * i + 0.3 * j) for j in range(8)], i % 3)
        for i in range(40)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")


def test_ivf_assign_one_cell_per_vector(emb_tiny):
    from query_refinement_dsit_databases_2021_spark.operators.simsearch import ivf_assign

    got = ivf_assign(emb_tiny, centroid_ids=(5, 10, 15)).collect()
    assert len(got) == 40
    assert {r["vec_id"] for r in got} == set(range(40))
    assert {r["cell"] for r in got} <= {5, 10, 15}


def test_ivf_exhaustive_probe_equals_brute_force(emb_tiny):
    from query_refinement_dsit_databases_2021_spark.operators.simsearch import (
        cosine_topk,
        ivf_ann_topk,
    )

    brute = sorted(map(tuple, cosine_topk(emb_tiny, n_queries=3, k=2).collect()))
    ivf = sorted(
        map(
            tuple,
            ivf_ann_topk(
                emb_tiny, n_queries=3, k=2, centroid_ids=(5, 10, 15), nprobe=3
            ).collect(),
        )
    )
    assert ivf == brute


def test_scrub_pii_redacts_and_counts(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        scrub_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "host 10.0.255.3 and 192.168.1.1 up"),
            (3, "call +30 210-555-0199 today"),
            (4, "clean text only"),
            (5, "a@b.io at 8.8.8.8 dial +12025550143"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in scrub_pii(df).collect()}
    assert got[1].scrubbed == "mail <EMAIL> now"
    assert (got[1].n_emails, got[1].n_ips, got[1].n_phones) == (1, 0, 0)
    assert got[2].scrubbed == "host <IP> and <IP> up"
    assert got[2].n_ips == 2
    assert got[3].scrubbed == "call <PHONE> today"
    assert got[3].n_phones == 1
    assert got[4].scrubbed == "clean text only"
    assert (got[4].n_emails, got[4].n_ips, got[4].n_phones) == (0, 0, 0)
    assert got[5].scrubbed == "<EMAIL> at <IP> dial <PHONE>"


def test_decontaminate_flags_eval_overlap(spark):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "totally unrelated words with no overlap at all here"),
            (3, "question the quick brown fox jumps answer maybe"),
        ],
        "doc_id long, text string",
    )
    eval_docs = spark.createDataFrame(
        [(100, "benchmark asks the quick brown fox jumps over things")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in decontaminate(corpus, eval_docs, k=5).collect()}
    # doc 1 shares the 5-grams "the quick brown fox jumps" and
    # "quick brown fox jumps over"; doc 3 shares only the first
    assert got[1].contaminated and got[1].n_shared == 2
    assert got[3].contaminated and got[3].n_shared == 1
    assert not got[2].contaminated and got[2].n_shared == 0
    # every corpus doc appears exactly once
    assert set(got) == {1, 2, 3}


def test_scrub_pii_cross_engine_adversarial(spark):
    """The Java-regex/RE2 agreement claim, attacked directly: run
    scrub_pii and the workload's DuckDB oracle SQL over an adversarial
    corpus (PII at string edges, adjacent PII, almost-PII, >4 octets,
    greedy phone runs) and require byte-identical outputs."""
    import duckdb

    from query_refinement_dsit_databases_2021_spark.operators.pipelines import (
        ORACLE_SCRUB,
    )
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        scrub_pii,
    )

    rows = [
        (1, "a@b.co"),                                  # whole string is PII
        (2, "x 1.2.3.4.5 y"),                           # 5 octets: \b behavior
        (3, "ping 999.999.999.999 ok"),                 # not a valid IP, still matches shape
        (4, "no ip in 1.2.3 or 1.2"),                   # too few octets
        (5, "mail me at first.last@sub.domain.org."),   # trailing dot after TLD
        (6, "a@b.co+30 210 5550199"),                   # email adjacent to phone
        (7, "+1 234 567 8901 and +44 20-7946-0958"),    # two greedy phone runs
        (8, "not@phone +12"),                           # phone too short
        (9, "weird@@double.at and half@nope"),          # almost-emails
        (10, "tab\tand\nnewline +30 2105550199\n"),     # whitespace edges
        (11, "v4 inside url http://10.0.0.1/a@b.io"),   # ip then email in URL
        (12, "+0-0-0-0-0-0-0-0"),                       # dashes-only phone body
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_emails, r.n_ips, r.n_phones, r.scrubbed)
        for r in scrub_pii(df).collect()
    }
    con = duckdb.connect()
    con.register("documents", __import__("pandas").DataFrame(
        rows, columns=["doc_id", "text"]
    ))
    want = {
        int(r[0]): (int(r[1]), int(r[2]), int(r[3]), r[4])
        for r in con.execute(ORACLE_SCRUB).fetchall()
    }
    assert got == want


def test_decontaminate_matches_set_model(spark):
    """Differential vs a pure-Python shingle-set model on a randomized
    small-alphabet corpus (seeded): n_shared must equal the exact
    distinct-k-gram intersection count for every corpus doc."""
    import random

    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        decontaminate,
    )

    rng = random.Random(1234)
    words = [f"w{i}" for i in range(12)]  # tiny alphabet -> real overlap
    mk = lambda n: " ".join(rng.choice(words) for _ in range(n))
    corpus_rows = [(i, mk(rng.randint(2, 30))) for i in range(1, 41)]
    eval_rows = [(100 + i, mk(rng.randint(5, 25))) for i in range(4)]
    k = 3

    def sh_set(text):
        ws = text.split(" ")
        return {"|".join(ws[i : i + k]) for i in range(len(ws) - k + 1)}

    eval_sh = set().union(*(sh_set(t) for _, t in eval_rows))
    want = {
        d: len(sh_set(t) & eval_sh) for d, t in corpus_rows
    }

    corpus = spark.createDataFrame(corpus_rows, "doc_id long, text string")
    ev = spark.createDataFrame(eval_rows, "doc_id long, text string")
    got = {r.doc_id: r for r in decontaminate(corpus, ev, k=k).collect()}
    assert set(got) == set(want)
    for d, n in want.items():
        assert got[d].n_shared == n, (d, got[d].n_shared, n)
        assert got[d].contaminated == (n >= 1)


def test_corpus_manifest_detects_change_and_ignores_order(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        corpus_manifest,
    )

    rows = [(i, f"doc number {i} words here") for i in range(1, 30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    base = corpus_manifest(df).collect()[0]
    assert base.n_docs == 29
    # partition/order independence: digests are aggregates, not folds
    shuffled = corpus_manifest(df.repartition(7).orderBy(F.desc("doc_id")))
    assert shuffled.collect()[0] == base
    # a single changed character flips both digests
    df2 = spark.createDataFrame(
        [(i, t if i != 15 else t + "!") for i, t in rows],
        "doc_id long, text string",
    )
    got = corpus_manifest(df2).collect()[0]
    assert got.xor_digest != base.xor_digest
    assert got.sum_digest != base.sum_digest
    assert got.n_chars == base.n_chars + 1
    # a swapped duplicate pair: xor cancels, the modular sum catches it
    df3 = spark.createDataFrame(
        [(1, "aa"), (2, "aa")], "doc_id long, text string"
    )
    df4 = spark.createDataFrame(
        [(1, "bb"), (2, "bb")], "doc_id long, text string"
    )
    m3, m4 = corpus_manifest(df3).collect()[0], corpus_manifest(df4).collect()[0]
    assert m3.xor_digest == m4.xor_digest == 0  # xor blind spot, by design
    assert m3.sum_digest != m4.sum_digest  # sum digest is not


def test_passage_dedup_shared_block(spark):
    # docs 1 and 2 share one full 16-token passage; doc 3 is disjoint
    block = " ".join(f"w{i}" for i in range(16))
    rows = [
        (1, block + " " + "a b c"),
        (2, block + " " + "x y z"),
        (3, " ".join(f"q{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_passages"], r["n_dup_passages"])
        for r in dedup.passage_dedup(df).collect()
    }
    # each of docs 1/2 has 2 passages (block + 3-token tail), 1 shared;
    # doc 3 has no duplicated passage -> excluded from the report
    assert got == {1: (2, 1), 2: (2, 1)}


def test_passage_dedup_short_and_exact_docs(spark):
    # identical short docs (< passage width) count as duplicated;
    # within-doc repetition alone does NOT (distinct per doc)
    block = " ".join(f"w{i}" for i in range(16))
    rows = [
        (1, "tiny doc"),
        (2, "tiny doc"),
        (3, block + " " + block),  # same passage twice, one doc only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_passages"], r["n_dup_passages"])
        for r in dedup.passage_dedup(df).collect()
    }
    assert got == {1: (1, 1), 2: (1, 1)}


def test_bigram_lm_scores_hand_checked(spark):
    import math

    rows = [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"])
        for r in textops.bigram_lm_scores(df).collect()
    }
    # model: c(a b)=2, c(a c)=1, c(a ·)=3; single-token doc 4 excluded
    assert got == {
        1: (1, round(math.log(2 / 3), 6)),
        2: (1, round(math.log(2 / 3), 6)),
        3: (1, round(math.log(1 / 3), 6)),
    }


def test_bigram_lm_repetition_scores_high(spark):
    # deterministic transitions score ln(1)=0; a doc whose prefixes
    # branch (p -> q and p -> r) scores negative (the quality-filter
    # direction: predictable text ranks above high-branching text)
    rows = [(1, "x y x y x y x y"), (2, "p q p r")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["avg_logp"] for r in textops.bigram_lm_scores(df).collect()}
    assert got[1] == 0.0
    assert got[2] < 0.0


def test_incremental_dedup_drops_base_dups_and_shard_dups(spark):
    base = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id long, text string"
    )
    incr = spark.createDataFrame(
        [
            (10, "a b c"),   # already in base -> dropped
            (11, "g h i"),   # new
            (12, "g h i"),   # within-shard dup of 11
            (13, "j k l"),   # new
        ],
        "doc_id long, text string",
    )
    got = {
        r["keep_id"]: r["n_copies"]
        for r in dedup.incremental_dedup(base, incr).collect()
    }
    assert got == {11: 2, 13: 1}
    # by_hash=False takes the raw-text key path, same groups
    raw = {
        r["keep_id"]: r["n_copies"]
        for r in dedup.incremental_dedup(base, incr, by_hash=False).collect()
    }
    assert raw == got


def test_normalize_text_dirty_input(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   WORLD!!"), (2, "already clean")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["norm_text"], r["changed"]) for r in
           textops.normalize_text(df).collect()}
    assert got == {1: ("hello world", 1), 2: ("already clean", 0)}


def test_tokenize_ids_order_rank_and_oov(spark):
    # corpus tfs: b=4, a=3, c=1 -> ids b=1, a=2; vocab_size=2 makes c OOV
    df = spark.createDataFrame(
        [(1, "a b b c"), (2, "b a a b")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["ids"] for r in
           textops.tokenize_ids(df, vocab_size=2).collect()}
    assert got == {1: [2, 1, 1, 0], 2: [1, 2, 2, 1]}


def test_tokenize_ids_join_strategy_matches_literal(spark, monkeypatch):
    """The broadcast-join encode (the 32k–100k vocab path where the
    create_map literal would bloat the plan) must reproduce the literal
    path exactly, including OOV->0 and empty-token docs; the join side
    is forced by lowering the vocab-size gate."""
    df = spark.createDataFrame(
        [(1, "a b b c d e"), (2, "b a a b"), (3, "zz yy"), (4, "")],
        "doc_id long, text string",
    )
    lit = {r["doc_id"]: r["ids"] for r in
           textops.tokenize_ids(df, vocab_size=3).collect()}
    monkeypatch.setattr(textops, "TOKENIZE_JOIN_THRESHOLD", 2)
    join = {r["doc_id"]: r["ids"] for r in
            textops.tokenize_ids(df, vocab_size=3).collect()}
    assert lit == join
    # rank sanity on the join path: b(tf 4)=1, a(tf 3)=2, c(tf 1)=3
    assert join[2] == [1, 2, 2, 1] and join[1][:3] == [2, 1, 1]


def test_tokenize_ids_auto_picks_join_at_large_vocab(spark):
    """vocab_size=50_000 must route to the join encode (no create_map
    literal in the plan) and still produce correct ids."""
    df = spark.createDataFrame(
        [(1, "a b b c"), (2, "b a a b")], "doc_id long, text string"
    )
    out = textops.tokenize_ids(df, vocab_size=50_000)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "map(" not in plan  # literal path would inline create_map
    assert "Join" in plan
    got = {r["doc_id"]: r["ids"] for r in out.collect()}
    # all 3 terms fit in a 50k vocab: b=1, a=2, c=3
    assert got == {1: [2, 1, 1, 3], 2: [1, 2, 2, 1]}


def test_gopher_rules_each_rule_fires(spark):
    """One crafted document per rule violation; the clean doc passes."""
    clean = "the quick brown fox " + " ".join(f"tok{i}" for i in range(60)) + " a lot"
    docs = spark.createDataFrame(
        [
            (1, clean),                                      # passes all
            (2, "the a short doc"),                          # < 50 tokens
            (3, "the a " + " ".join(["supercalifragilistic"] * 60)),  # long words
            (4, "the a " + " ".join(["#"] * 60)),            # symbols + no alpha
            (5, " ".join(f"tok{i}" for i in range(60))),     # no stopwords
            (6, "the a " + " ".join(f"tok{i}" for i in range(58))
                + "\n" + "\n".join(f"- bullet {i}" for i in range(20))),  # bullets
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in textops.gopher_rules(docs).collect()}
    assert got[1]["keep"] == 1
    assert got[2]["ok_len"] == 0 and got[2]["keep"] == 0
    assert got[3]["ok_word_len"] == 0 and got[3]["keep"] == 0
    assert got[4]["ok_symbols"] == 0 and got[4]["ok_alpha"] == 0
    assert got[5]["ok_stop"] == 0 and got[5]["keep"] == 0
    assert got[6]["ok_lines"] == 0 and got[6]["keep"] == 0


def test_cluster_representatives_picks_longest(spark):
    # docs 1/2/3 form one near-dup cluster (identical text -> simhash
    # hamming 0); doc 3 is padded longest so it must be the rep even
    # though doc 1 is the min-id canonical label
    rows = [
        (1, "a b c d e f g h", 8),
        (2, "a b c d e f g h", 8),
        (3, "a b c d e f g h x", 9),
        (9, "totally different words here now ok fine", 40),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    out = dedup.cluster_representatives(docs).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["cluster_id"], r["rep_id"], r["n_docs"], r["rep_chars"]) == (
        1, 3, 3, 9,
    )


def test_minhash_estimate_error_exact_on_identical(spark):
    # identical docs: every signature component matches (est = 1e6 ppm)
    # and the exact shingle jaccard is also 1e6 ppm -> error 0
    rows = [
        (1, "a b c d e f g h i j"),
        (2, "a b c d e f g h i j"),
        (3, "k l m n o p q r s t"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["doc_a"], r["doc_b"]): r for r in dedup.minhash_estimate_error(docs).collect()}
    assert (1, 2) in out
    r = out[(1, 2)]
    assert (r["est_ppm"], r["exact_ppm"], r["err_ppm"]) == (1000000, 1000000, 0)
    # est/exact/err are integers for every pair (ppm contract)
    for r in out.values():
        assert r["err_ppm"] == abs(r["est_ppm"] - r["exact_ppm"])


def test_ccnet_quality_buckets_terciles(spark):
    # 6 docs per lang -> terciles of 2; fluent docs (repeating common
    # bigrams) must land in head, unique-bigram docs in tail
    rows = []
    did = 0
    for lang in ("en", "fr"):
        for i in range(4):
            rows.append((did, "the cat sat on the mat", lang)); did += 1
        rows.append((did, f"zq{lang} xw yv uk tj ri", lang)); did += 1
        rows.append((did, f"aa{lang} bb cc dd ee ff", lang)); did += 1
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = textops.ccnet_quality_buckets(docs).collect()
    by = {(r["lang"], r["tercile"]): r for r in out}
    for lang in ("en", "fr"):
        assert [by[(lang, t)]["bucket"] for t in (1, 2, 3)] == [
            "head", "middle", "tail",
        ]
        assert sum(by[(lang, t)]["n_docs"] for t in (1, 2, 3)) == 6
        # scores are non-increasing across terciles
        assert by[(lang, 1)]["lo_logp"] >= by[(lang, 2)]["hi_logp"]
        assert by[(lang, 2)]["lo_logp"] >= by[(lang, 3)]["hi_logp"]


def test_langid_confusion_diagonal_recall(spark):
    # two languages with disjoint vocab: perfect prediction -> only
    # diagonal cells, each with share_ppm = 1000000
    rows = [(i, "aaa bbb ccc ddd eee fff", "en") for i in range(5)]
    rows += [(10 + i, "uuu vvv www xxx yyy zzz", "fr") for i in range(5)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = textops.langid_confusion(docs).collect()
    assert {(r["actual"], r["predicted"]) for r in out} == {
        ("en", "en"), ("fr", "fr"),
    }
    assert all(r["share_ppm"] == 1000000 and r["n"] == 5 for r in out)


def test_curation_chain_v3_composes(spark):
    # gopher filter drops the gibberish doc; terciles keep head+middle
    # per lang; exact dedup keeps one of the two identical survivors —
    # the per-(lang, tercile) manifest must reflect all three stages
    from query_refinement_dsit_databases_2021_spark.operators.pipelines import (
        _wl_curation_v3,
    )
    import os, tempfile

    # 3x the base phrase clears GOPHER_MIN_TOKENS (50) comfortably
    base = " ".join(
        ["the cat sat on the mat and the dog ran to the cat and sat "
         "with the mat while the cat and the dog sat on the mat again "
         "and the mat was warm so the cat sat still and the dog sat too"] * 3
    )
    rows = []
    for i in range(6):
        rows.append((i, base + f" extra{i} words here", "en"))
    rows.append((6, base + " extra0 words here", "en"))  # exact dup of 0
    rows.append((7, "#### ... #### ... ####", "en"))  # gopher-dropped
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(
            [(i, t, lang, "s0", len(t)) for i, t, lang in rows],
            "doc_id long, text string, lang string, source string, n_chars long",
        ).write.parquet(os.path.join(d, "documents.parquet"))
        # register_views registers every table eagerly — link the other
        # sf0.001 tables in; only documents feeds this workload
        for t in os.listdir("/root/testdata/sf0.001"):
            if t != "documents.parquet" and t.endswith(".parquet"):
                os.symlink(f"/root/testdata/sf0.001/{t}", os.path.join(d, t))
        cache = spark._jsparkSession.sharedState().cacheManager()
        spark.catalog.clearCache()
        out = _wl_curation_v3(spark, d).collect()
        # reused frames are materialized: no CacheManager entry outlives it
        assert cache.isEmpty()
    by = {r["tercile"]: r for r in out}
    # 7 kept docs minus the dup -> 6 across terciles 1+2 of the
    # 3-way split of 7 LM-scored docs: tercile 1 has 3, tercile 2 has 2
    # (ntile(3) over 7 rows = 3/2/2) and dedup may only shrink them
    assert set(by) <= {1, 2}
    assert sum(r["n_docs"] for r in out) >= 4
    assert all(r["lang"] == "en" for r in out)
    assert all(r["n_tokens"] > 0 for r in out)


def test_cooccurrence_pairs_hand_counted(spark):
    d = spark.createDataFrame(
        [(1, "a b c a"), (2, "z")], "doc_id long, text string"
    )
    got = [
        (r["w1"], r["w2"], r["n_pairs"])
        for r in textops.cooccurrence_pairs(d, window=3).collect()
    ]
    # positions (1,2)ab (1,3)ac (1,4)aa (2,3)bc (2,4)ab (3,4)ac;
    # single-token doc contributes nothing
    assert got == [("a", "b", 2), ("a", "c", 2), ("a", "a", 1), ("b", "c", 1)]


def test_bpe_train_matches_python_reference(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        bpe_train,
    )

    docs = spark.createDataFrame(
        [
            (1, "low low low lower lower newest newest newest"),
            (2, "wider wider aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa"),
        ],
        "doc_id long, text string",
    )
    got = [
        (r["round"], r["pair_a"], r["pair_b"], r["merged"], r["cnt"])
        for r in bpe_train(docs, rounds=4).collect()
    ]

    # independent sequential reference: dict-of-symbol-tuples BPE with
    # greedy left-to-right merge application
    from collections import Counter
    words = Counter()
    for _, text in [(1, "low low low lower lower newest newest newest"),
                    (2, "wider wider aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa")]:
        for w in text.split(" "):
            if w:
                words[w] += 1
    vocab = {tuple(w): c for w, c in words.items()}
    expect = []
    for r in range(1, 5):
        pairs = Counter()
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += c
        (pa, pb), c = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        expect.append((r, pa, pb, pa + pb, c))
        merged_vocab = {}
        for syms, cnt in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == pa and syms[i + 1] == pb:
                    out.append(pa + pb)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            merged_vocab[tuple(out)] = merged_vocab.get(tuple(out), 0) + cnt
        vocab = merged_vocab
    assert got == expect
    # the 'aaa' block guarantees the (a,a) merge fires and its greedy
    # left-to-right application ('aaa' -> ['aa','a'], not ['a','aa'])
    # is what both the operator and the reference produced
    assert any(m[1] == m[2] == "a" for m in got)


def test_bpe_train_batched_p1_equals_sequential(spark):
    """merges_per_round=1 degenerates to exactly bpe_train: each round's
    batch is the single strict argmax, so the merge tables are equal
    row-for-row (round numbering included)."""
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        bpe_train,
        bpe_train_batched,
    )

    docs = spark.createDataFrame(
        [
            (1, "low low low lower lower newest newest newest"),
            (2, "wider wider aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa"),
        ],
        "doc_id long, text string",
    )
    seq = [tuple(r) for r in bpe_train(docs, rounds=4).collect()]
    bat = [
        tuple(r)
        for r in bpe_train_batched(docs, rounds=4, merges_per_round=1).collect()
    ]
    assert bat == seq and len(bat) == 4


def test_bpe_train_batched_disjointness_filter(spark):
    """The batch keeps only pairs symbol-disjoint from ALL higher-ranked
    batch members, each selected merge's cnt is exact for the start-of-
    round vocabulary, and the applied result feeds the next round. With
    'ababab'-style words, rank-1 (a,b) excludes (b,a) (shares both
    symbols) but admits a disjoint (c,d) pair."""
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        bpe_train_batched,
    )

    # 'abab' x3 -> (a,b) cnt 6, (b,a) cnt 3; 'cd' x2 -> (c,d) cnt 2
    docs = spark.createDataFrame(
        [(1, "abab abab abab cd cd")],
        "doc_id long, text string",
    )
    got = [
        (r["round"], r["pair_a"], r["pair_b"], r["cnt"])
        for r in bpe_train_batched(docs, rounds=1, merges_per_round=3).collect()
    ]
    # ranked: (a,b) 6, (b,a) 3 [rejected: shares a+b], (c,d) 2 [kept]
    assert got == [(1, "a", "b", 6), (2, "c", "d", 2)]


def test_example_assembly_requires_all_modalities(spark):
    from query_refinement_dsit_databases_2021_spark.operators.pipelines import (
        example_assembly,
    )
    from query_refinement_dsit_databases_2021_spark.operators.textops import HASH_P

    docs = spark.createDataFrame(
        [
            (1, "en", "s0", 300),   # complete -> kept
            (2, "en", "s0", 300),   # no embedding -> dropped
            (3, "en", "s0", 100),   # below char gate -> dropped
            (4, "de", "s1", 500),   # complete -> kept
            (5, "en", "s0", 400),   # no media -> dropped
        ],
        "doc_id long, lang string, source string, n_chars long",
    )
    emb = spark.createDataFrame(
        [(1, [0.1] * 4), (3, [0.1] * 4), (4, [0.2] * 8), (5, [0.3] * 4)],
        "vec_id long, embedding array<float>",
    )
    media = spark.createDataFrame(
        [(1, bytearray(b"x" * 11)), (2, bytearray(b"y" * 5)),
         (3, bytearray(b"z" * 7)), (4, bytearray(b"w" * 13))],
        "doc_id long, content binary",
    )
    got = {
        (r["lang"], r["source"]): (
            r["n_examples"], r["sum_chars"], r["sum_dims"],
            r["sum_media_bytes"], r["xor_sig"],
        )
        for r in example_assembly(docs, emb, media).collect()
    }
    assert got == {
        ("en", "s0"): (1, 300, 4, 11, (1 * 1000003 + 300) % HASH_P),
        ("de", "s1"): (1, 500, 8, 13, (4 * 1000003 + 500) % HASH_P),
    }


def test_bpe_apply_compression_invariants(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        bpe_apply,
    )

    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "newest low"), (150, "ignored doc")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
           for r in bpe_apply(docs, rounds=2).collect()}
    assert set(got) == {1, 2}  # doc_id >= 100 excluded
    for n_words, n_tok in got.values():
        # merges only ever shrink symbol counts, never below one
        # token per word; before any merge a word is len(word) chars
        assert n_tok >= n_words
    # 'low' appears 3x corpus-wide -> (l,o) then (lo,w) are the top
    # merges; after 2 rounds 'low' is ONE token, so doc 1 = low low
    # lower -> 1 + 1 + len('lower' after merges: 'low e r' -> 3)
    assert got[1] == (3, 1 + 1 + 3)
    # 'newest' contains neither (l,o) nor (lo,w): stays 6 chars;
    # plus 'low' as one token -> 7
    assert got[2] == (2, 6 + 1)


def test_containment_catches_embedded_doc(spark):
    from query_refinement_dsit_databases_2021_spark.operators import dedup

    short = "w1 w2 w3 w4 w5 w6 w7"
    long = short + " x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12 x13"
    docs = spark.createDataFrame(
        [(1, long), (2, short)], "doc_id long, text string"
    )
    # short has 5 distinct 3-shingles, all present in long (18 shingles):
    # jaccard = 5/18 < 0.5 would miss the pair; containment = 5/5 = 1.0
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []
    rows = dedup.ngram_containment_pairs(docs).collect()
    assert [(r["doc_a"], r["doc_b"], r["inter_size"], r["cont_ppm"]) for r in rows] == [
        (1, 2, 5, 1_000_000)
    ]


def test_containment_cap_underestimates(spark):
    from query_refinement_dsit_databases_2021_spark.operators import dedup

    # the shared shingle block appears in 3 docs; with max_posting=2
    # those postings drop and the pair disappears (documented contract)
    t = "a b c d e"
    docs = spark.createDataFrame(
        [(1, t), (2, t), (3, t)], "doc_id long, text string"
    )
    assert dedup.ngram_containment_pairs(docs).count() == 3
    assert dedup.ngram_containment_pairs(docs, max_posting=2).count() == 0


def test_split_leakage_flags_crosssplit_neardup(spark):
    from query_refinement_dsit_databases_2021_spark.operators import pipelines
    from query_refinement_dsit_databases_2021_spark.operators.sampling import (
        hash_split,
    )

    # find doc_ids landing in train vs val under the standing hash
    # split, then plant an exact shared passage across the boundary
    ids = spark.createDataFrame(
        [(i,) for i in range(200)], "doc_id long"
    )
    assign = {r["doc_id"]: r["split"] for r in hash_split(ids, key="doc_id").collect()}
    train_id = next(i for i in sorted(assign) if assign[i] == "train")
    val_id = next(i for i in sorted(assign) if assign[i] == "val")
    val_clean = next(
        i for i in sorted(assign) if assign[i] == "val" and i != val_id
    )
    shared = "the exact same leaked passage of text here"
    docs = spark.createDataFrame(
        [
            (train_id, "prefix words " + shared),
            (val_id, shared + " suffix words"),
            (val_clean, "completely different content with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    out = {r["split"]: (r["n_docs"], r["n_leaky"]) for r in pipelines.split_leakage_audit(docs).collect()}
    assert out["val"] == (2, 1)


def test_winnowing_guarantee_and_miss(spark):
    from query_refinement_dsit_databases_2021_spark.operators import dedup

    # docs sharing a long run (>= w+k-1 = 6 tokens) MUST share
    # fingerprints (the winnowing guarantee); unrelated docs share none
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, "intro words " + shared + " tail one"),
            (2, shared + " completely different ending here"),
            (3, "nothing in common with the others at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in dedup.winnow_pairs(docs, min_shared=1).collect()
    }
    assert (1, 2) in rows and rows[(1, 2)] >= 1
    assert all(3 not in pair for pair in rows)


def test_winnowing_short_docs_produce_nothing(spark):
    from query_refinement_dsit_databases_2021_spark.operators import dedup

    # fewer than k+w-1 tokens -> no full window -> no fingerprints
    docs = spark.createDataFrame(
        [(1, "just four tiny words"), (2, "just four tiny words")],
        "doc_id long, text string",
    )
    assert dedup.winnow_pairs(docs, min_shared=1).count() == 0


def test_consensus_requires_two_methods(spark):
    # exact duplicates are flagged by every detector -> consensus hit;
    # unrelated docs never reach 2 votes
    t = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
         "lambda mu nu xi omicron pi rho sigma tau upsilon")
    docs = spark.createDataFrame(
        [(1, t), (2, t), (3, "totally different text with other words here "
                             "and nothing shared at all among these tokens")],
        "doc_id long, text string",
    )
    from query_refinement_dsit_databases_2021_spark.operators import dedup
    from pyspark.sql import functions as F
    mh = dedup.minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    sh = dedup.simhash_pairs(docs).select("doc_a", "doc_b")
    ct = dedup.ngram_containment_pairs(docs, max_posting=64).select("doc_a", "doc_b")
    votes = (mh.unionByName(sh).unionByName(ct)
             .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n"))
             .where("n >= 2").collect())
    got = {(r["doc_a"], r["doc_b"]): r["n"] for r in votes}
    assert got.get((1, 2), 0) >= 2
    assert all(3 not in k for k in got)


def test_dedup_pr_attestation_hand_corpus(spark):
    from pyspark.sql import functions as F

    from query_refinement_dsit_databases_2021_spark.operators import dedup

    t = ("one two three four five six seven eight nine ten eleven "
         "twelve thirteen fourteen fifteen")
    docs = spark.createDataFrame(
        [(1, t), (2, t), (3, "other words entirely unrelated to the rest "
                             "of this corpus in every possible way")],
        "doc_id long, text string",
    )
    exact = dedup.ngram_jaccard_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    cand = dedup.minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    tp = cand.join(exact, ["doc_a", "doc_b"], "leftsemi").count()
    # the exact duplicate pair is both ground truth and candidate
    assert tp == 1 and exact.count() == 1 and cand.count() == 1


def test_curation_v4_stages_monotone(spark):
    from query_refinement_dsit_databases_2021_spark.operators import pipelines
    from query_refinement_dsit_databases_2021_spark.workloads import register_views

    register_views(spark, "/root/testdata/sf0.001")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    rows = {r["split"]: r for r in pipelines._wl_curation_v4(spark, "/root/testdata/sf0.001").collect()}
    assert cache.isEmpty()  # reused frames are materialized, not persisted
    total_kept = sum(r["n_docs"] for r in rows.values())
    n_all = spark.table("documents").count()
    assert 0 < total_kept <= n_all  # gate + dedup only remove
    for r in rows.values():
        assert r["n_tokens"] >= r["n_docs"]  # every doc has >= 1 token
        assert 0 <= r["n_leaky"] <= r["n_docs"]
    assert rows["train"]["n_leaky"] == 0  # leakage defined vs train


def test_dup_ngram_spans_hand_corpus(spark):
    """Hand-derived repeated-span profile (SHINGLE_K = 3): doc 0 and
    doc 1 share one 3-gram span; doc 2 is unique; doc 3 is too short
    to shingle and must be absent."""
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        dup_ngram_spans,
    )

    df = spark.createDataFrame(
        [
            (0, "a b c d"),       # shingles: "a|b|c", "b|c|d"
            (1, "x a b c"),       # shingles: "x|a|b", "a|b|c"
            (2, "p q r s"),       # unique shingles
            (3, "t u"),           # < k tokens -> no shingles
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dup_ngram_spans(df).collect()}
    assert set(got) == {0, 1, 2}
    assert got[0]["n_shingles"] == 2 and got[0]["n_dup"] == 1
    assert got[0]["max_df"] == 2
    assert got[0]["dup_frac_ppm"] == 500_000
    assert got[1]["n_dup"] == 1 and got[1]["dup_frac_ppm"] == 500_000
    assert got[2]["n_dup"] == 0 and got[2]["max_df"] == 1
    assert got[2]["dup_frac_ppm"] == 0


def test_dup_ngram_spans_fully_duplicated_doc(spark):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        dup_ngram_spans,
    )

    df = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c d e"), (2, "z z2 z3")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in dup_ngram_spans(df).collect()}
    # exact copies: every shingle shared -> 1e6 ppm on both docs
    assert got[0]["dup_frac_ppm"] == 1_000_000
    assert got[1]["dup_frac_ppm"] == 1_000_000
    assert got[2]["dup_frac_ppm"] == 0


def test_vocab_coverage_hand_corpus(spark):
    """Hand-derived OOV audit: vocab_size=2 keeps the two most
    frequent terms; everything else is OOV."""
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        vocab_coverage,
    )

    rows = [
        (0, "a a a b b c", "s0"),   # a,b in vocab; c OOV
        (1, "a b x y", "s1"),       # x,y OOV
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in vocab_coverage(df, vocab_size=2).collect()}
    assert got["s0"]["n_tokens"] == 6 and got["s0"]["oov_tokens"] == 1
    assert got["s0"]["oov_ppm"] == 1_000_000 // 6
    assert got["s0"]["n_types"] == 3 and got["s0"]["oov_types"] == 1
    assert got["s1"]["n_tokens"] == 4 and got["s1"]["oov_tokens"] == 2
    assert got["s1"]["oov_types"] == 2


def test_curation_v5_stages_monotone_and_nonempty(spark):
    """v5 composition sanity on real data: each stage only removes
    documents, the curated set is non-empty and non-total, and the
    final mixture rows cover exactly the languages surviving
    curation."""
    from query_refinement_dsit_databases_2021_spark.operators import pipelines

    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out = {
        r["lang"]: r
        for r in pipelines._wl_curation_v5(spark, "/root/testdata/sf0.001").collect()
    }
    assert cache.isEmpty()  # reused frames are materialized, not persisted
    assert out, "curated set must be non-empty"
    docs = spark.table("documents")
    total_tokens = docs.selectExpr(
        "sum(size(split(text, ' '))) AS t"
    ).collect()[0]["t"]
    curated_tokens = sum(r["avail_tokens"] for r in out.values())
    assert 0 < curated_tokens < total_tokens  # gates actually removed mass
    for r in out.values():
        assert r["epochs"] >= 1
        assert 0 < r["rate_ppm"] <= 1_000_000
        assert r["target_tokens"] == (5_000_000 * r["weight_ppm"]) // 1_000_000


def test_incremental_minhash_flags_near_dups_against_base_and_earlier_shard(spark):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    text_a = "alpha beta gamma delta epsilon zeta eta theta"
    text_b = "one two three four five six seven eight"
    base = spark.createDataFrame(
        [(0, text_a), (1, "totally different words here now ok yes")],
        "doc_id long, text string",
    )
    shard = spark.createDataFrame(
        [
            (100, text_a),   # exact copy of base doc 0 -> dup_of 0
            (101, text_b),   # first occurrence in shard -> NOT dup
            (102, text_b),   # copy of EARLIER shard doc -> dup_of 101
            (103, "nothing like anything else at all whatsoever"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["is_dup"], r["dup_of"])
        for r in incremental_minhash_dedup(base, shard).collect()
    }
    assert set(got) == {100, 101, 102, 103}  # one row per shard doc
    assert got[100] == (1, 0)
    assert got[101] == (0, -1)  # base never contains text_b
    assert got[102] == (1, 101)
    assert got[103] == (0, -1)


def test_minhash_index_parity_and_partition_pruning(spark, tmp_path):
    """The standing-artifact pair write_minhash_index /
    incremental_dedup_from_index must be bit-identical to the inline
    incremental_minhash_dedup on the sf0.001 documents split, AND the
    base-bands scan must carry a non-empty PartitionFilters on (band,
    sig_bucket) — the plan pin that the shard probe reads only the
    bucket directories its own band keys touch, never the full index."""
    import re as _re

    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        incremental_dedup_from_index,
        incremental_minhash_dedup,
        write_minhash_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.where("doc_id % 10 < 8")
    shard = docs.where("doc_id % 10 >= 8")
    idx = str(tmp_path / "mh_index")
    write_minhash_index(base, idx)

    served = incremental_dedup_from_index(spark, idx, shard)
    inline = incremental_minhash_dedup(base, shard)
    got = sorted(map(tuple, served.collect()))
    want = sorted(map(tuple, inline.collect()))
    assert got == want
    assert len(got) == shard.count()  # one row per shard doc

    plan = served._jdf.queryExecution().executedPlan().toString()
    # the filter must be INSIDE PartitionFilters (an empty
    # "PartitionFilters: []" plus the columns in the schema would also
    # match a weaker assertion)
    assert _re.search(r"PartitionFilters: \[[^\]]*band", plan), plan


def test_blocklist_filter_tiers_and_token_boundaries(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        blocklist_filter,
    )

    docs = spark.createDataFrame(
        [
            (1, "slow big slow table"),   # 3 hits -> drop
            (2, "big table scan"),        # 1 hit -> flag
            (3, "clean fast query"),      # 0 hits -> keep (row survives)
            (4, "bigger slowest hashes"), # substrings must NOT match
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_hits"], r["hit_terms"], r["action"])
        for r in blocklist_filter(docs).collect()
    }
    assert got[1] == (3, "big,slow", "drop")
    assert got[2] == (1, "big", "flag")
    assert got[3] == (0, "", "keep")
    assert got[4] == (0, "", "keep")


def test_tokenizer_fertility_hand_numbers(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        tokenizer_fertility,
    )

    # "ab 12" -> 2 ws tokens, 2 bpe pre-tokens, 5 chars;
    # "a,b" -> 1 ws token, 3 bpe pre-tokens (letter, punct, letter)
    docs = spark.createDataFrame(
        [(1, "ab 12", "en"), (2, "a,b", "en")],
        "doc_id long, text string, lang string",
    )
    row = tokenizer_fertility(docs).collect()[0]
    assert (row["n_docs"], row["n_chars"]) == (2, 8)
    assert (row["n_ws_tokens"], row["n_bpe_tokens"]) == (3, 5)
    assert row["bpe_per_100_chars"] == 62.5
    assert row["bpe_per_ws"] == 1.666667  # floor(5/3*1e6+0.5)/1e6


def test_unigram_segment_hand_dp(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        UNIGRAM_CHAR_COST,
        UNIGRAM_PIECES,
        unigram_segment,
    )

    # 'batch' -> ba(110) + tch(150) = 260, 2 pieces (beats 5 chars=500)
    # 'xyz'   -> no piece matches: 3 * char_cost, 3 pieces
    # 'tata'  -> ta+ta = 220, 2 pieces; 'le' -> single piece 110
    docs = spark.createDataFrame(
        [(1, "batch xyz tata le")], "doc_id long, text string"
    )
    got = {
        r["term"]: (r["n_chars"], r["cost"], r["n_pieces"])
        for r in unigram_segment(docs).collect()
    }
    assert got["batch"] == (5, UNIGRAM_PIECES["ba"] + UNIGRAM_PIECES["tch"], 2)
    assert got["xyz"] == (3, 3 * UNIGRAM_CHAR_COST, 3)
    assert got["tata"] == (4, 2 * UNIGRAM_PIECES["ta"], 2)
    assert got["le"] == (2, UNIGRAM_PIECES["le"], 1)


def test_quality_classifier_replay_and_labels(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        HASH_P,
        QC_BUCKETS,
        QC_THRESHOLD,
        QC_WADD,
        QC_WMUL,
        quality_classifier,
    )

    docs = spark.createDataFrame(
        [(1, "query scan"), (2, "slow slow slow")], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["score"], r["label"])
        for r in quality_classifier(docs).collect()
    }

    def w(term):
        h = 0
        for ch in term:
            h = (h * 31 + ord(ch)) % HASH_P
        return ((h % QC_BUCKETS) * QC_WMUL + QC_WADD) % HASH_P % 2001 - 1000

    for did, text in ((1, "query scan"), (2, "slow slow slow")):
        toks = text.split(" ")
        score = sum(w(t) for t in toks)
        label = "keep" if score >= QC_THRESHOLD else "cut"
        assert got[did] == (len(toks), score, label), (did, got[did], score)


def test_span_corruption_plan_islands(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        HASH_P,
        SPAN_ADD,
        SPAN_MUL,
        SPAN_THRESH,
        span_corruption_plan,
    )

    docs = spark.createDataFrame(
        [(7, " ".join(f"w{i}" for i in range(60)))], "doc_id long, text string"
    )
    row = span_corruption_plan(docs).collect()[0]

    mask = [
        ((((7 * 100_000 + pos) % HASH_P) * SPAN_MUL + SPAN_ADD) % HASH_P)
        < SPAN_THRESH
        for pos in range(60)
    ]
    n_masked = sum(mask)
    spans = sum(
        1 for i, m in enumerate(mask) if m and (i == 0 or not mask[i - 1])
    )
    assert row["n_tokens"] == 60
    assert (row["n_masked"], row["n_spans"]) == (n_masked, spans)
    if spans:
        assert row["mean_span_len_ppm"] == n_masked * 1_000_000 // spans
    # ~15% density: the deterministic draw should land in a sane band
    assert 0 < n_masked < 30


def test_curation_v6_stage_gates(spark):
    from query_refinement_dsit_databases_2021_spark.operators.pipelines import (
        _wl_curation_v6,
    )
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        blocklist_filter,
        quality_classifier,
    )
    from query_refinement_dsit_databases_2021_spark.workloads import (
        register_views,
    )

    sf_dir = "/root/testdata/sf0.001"
    register_views(spark, sf_dir)
    docs = spark.table("documents")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    out = _wl_curation_v6(spark, sf_dir).collect()
    assert cache.isEmpty()  # reused frames are materialized, not persisted
    assert len(out) >= 1
    # the chain's survivor count per lang can never exceed the docs
    # that pass BOTH gates (dedup only shrinks further)
    bl = blocklist_filter(docs).where("action != 'drop'").select("doc_id")
    qc = (
        quality_classifier(docs.join(bl, "doc_id"))
        .where("label = 'keep'")
        .select("doc_id")
    )
    gate_count = docs.join(bl, "doc_id").join(qc, "doc_id").count()
    assert sum(r["n_docs"] for r in out) <= gate_count
    assert all(r["n_bpe_tokens"] >= r["n_ws_tokens"] for r in out)


def test_vocab_prune_impact_monotone_and_hand_case(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        vocab_prune_impact,
    )

    docs = spark.createDataFrame(
        [(1, "batch scan tata")], "doc_id long, text string"
    )
    got = {
        r["term"]: (
            r["cost_full"], r["pieces_full"],
            r["cost_pruned"], r["pieces_pruned"], r["delta_cost"],
        )
        for r in vocab_prune_impact(docs).collect()
    }
    # 'batch': full = ba+tch 260/2; pruned (no 2-char pieces) = b+a+tch
    # 350/3; 'scan': 4-char piece survives pruning -> delta 0;
    # 'tata': ta+ta 220/2 full; pruned = 4 chars 400/4
    assert got["batch"] == (260, 2, 350, 3, 90)
    assert got["scan"] == (190, 1, 190, 1, 0)
    assert got["tata"] == (220, 2, 400, 4, 180)
    assert all(v[4] >= 0 for v in got.values())


def test_eval_ngram_precision_clipping(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        eval_ngram_precision,
    )

    # train (doc 0): "a a b"; eval (doc 8): "a a a c"
    # unigram clip: min(3,2)[a] + min(1,0)[c] = 2 of 4 -> 500000 ppm
    # bigram refs: {a|a:1, a|b:1}; eval bigrams: a|a,a|a,a|c ->
    # clip = min(2,1) = 1 of 3 -> 333333 ppm
    docs = spark.createDataFrame(
        [(0, "a a b"), (8, "a a a c")], "doc_id long, text string"
    )
    r = {x["doc_id"]: x for x in eval_ngram_precision(docs).collect()}
    assert set(r) == {8}  # only held-out docs score
    assert (r[8]["n_unigrams"], r[8]["p1_ppm"]) == (4, 500_000)
    assert (r[8]["n_bigrams"], r[8]["p2_ppm"]) == (3, 333_333)


def test_index_delta_merge_equals_rebuild_any_split(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        index_delta_merge,
        token_stats,
    )

    # the invariant the oracle certifies at the fixed split, proven
    # here for an arbitrary one: merge(base, shard) == rebuild(union)
    docs = spark.createDataFrame(
        [(i, f"w{i % 4} w{(i + 1) % 3} shared") for i in range(20)],
        "doc_id long, text string",
    )
    merged = {
        r["term"]: (r["tf"], r["df"])
        for r in index_delta_merge(docs).collect()
    }
    rebuilt = {
        r["term"]: (r["tf"], r["df"]) for r in token_stats(docs).collect()
    }
    assert merged == rebuilt


def test_cluster_size_hist_partitions_corpus(spark):
    from query_refinement_dsit_databases_2021_spark.operators.pipelines import (
        _wl_cluster_size_hist,
    )

    out = _wl_cluster_size_hist(spark, "/root/testdata/sf0.001").collect()
    n_docs_total = sum(r["n_docs"] for r in out)
    # the histogram partitions the corpus exactly
    from query_refinement_dsit_databases_2021_spark.workloads import (
        register_views,
    )

    register_views(spark, "/root/testdata/sf0.001")
    assert n_docs_total == spark.table("documents").count()
    assert all(r["n_docs"] == r["n_copies"] * r["n_clusters"] for r in out)


def test_unigram_segment_single_char_vocab_piece(spark):
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        unigram_segment,
    )

    # a 1-char piece CHEAPER than the fallback must be taken (the DP
    # bug class where the table lookup skipped length-1 windows)
    docs = spark.createDataFrame([(1, "q xq")], "doc_id long, text string")
    got = {
        r["term"]: (r["cost"], r["n_pieces"])
        for r in unigram_segment(docs, piece_costs={"q": 10}).collect()
    }
    assert got["q"] == (10, 1)     # piece, not the 100-cost fallback
    assert got["xq"] == (110, 2)   # char fallback + the cheap piece


def test_edit_distance_pairs_blocking_and_distance(spark):
    """Blocked Levenshtein: pairs only form within a first-token block,
    the distance is over the lowercased 48-char prefix, and the
    max_dist gate drops far pairs inside a block."""
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        edit_distance_pairs,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delts"),      # dist 1 from doc 1
            (3, "ALPHA beta gamma delta"),      # case-folds to doc 1: dist 0
            (4, "alpha zzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzzz"),  # same block, far
            (5, "omega beta gamma delta"),      # different block: never paired
        ],
        "doc_id long, text string",
    )
    got = {(r["a_id"], r["b_id"]): r["dist"]
           for r in edit_distance_pairs(docs, max_dist=3).collect()}
    assert got == {(1, 2): 1, (1, 3): 0, (2, 3): 1}


def test_source_overlap_matrix_hand_values(spark):
    """Two sources sharing half their shingles, one disjoint source.
    s1: 'a b c d' -> shingles {a|b|c, b|c|d}; s2: 'a b c e' ->
    {a|b|c, b|c|e}; s3 disjoint. (s1,s2): shared=1, union=3 ->
    333333 ppm; s3 pairs never appear (no shared shingle)."""
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        source_overlap_matrix,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d", "s1"),
            (2, "a b c e", "s2"),
            (3, "x y z w", "s3"),
        ],
        "doc_id long, text string, source string",
    )
    got = {(r["sa"], r["sb"]): (r["shared"], r["overlap_ppm"])
           for r in source_overlap_matrix(docs).collect()}
    assert got == {("s1", "s2"): (1, 333333)}


def test_class_tfidf_terms_hand_values(spark):
    """c-TF-IDF integer form: class-exclusive terms out-rank shared
    ones. c1: 'x x y', c2: 'y z'. n_classes=2. x: tf=2, tok_c=3,
    cf=1 -> ((1e6*2)//3)*2//1 = 1333332. y in c1: ((1e6)//3)*2//2
    = 333333. z: (1e6//2)*2//1 = 1000000."""
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        class_tfidf_terms,
    )

    docs = spark.createDataFrame(
        [(1, "x x y", "c1"), (2, "y z", "c2")],
        "doc_id long, text string, source string",
    )
    got = {(r["cls"], r["term"]): (r["rnk"], r["tf"], r["score_ppm"])
           for r in class_tfidf_terms(docs).collect()}
    assert got[("c1", "x")] == (1, 2, 1333332)
    assert got[("c1", "y")] == (2, 1, 333333)
    assert got[("c2", "z")] == (1, 1, 1000000)
    assert got[("c2", "y")] == (2, 1, 500000)


def test_curation_chain_v7_stage_monotonicity(spark, tmp_path):
    """v7 stage contract: near-dup removal drops exactly the higher
    doc of each within-distance pair, exact dedup keeps min-id per
    surviving text, and the final c-TF-IDF manifest is computed over
    the curated corpus only (a dropped doc's exclusive term never
    appears)."""
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        edit_distance_pairs,
        exact_dedup,
    )
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        class_tfidf_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "s1"),
            (2, "alpha beta gamms", "s1"),   # near-dup of 1 -> dropped
            (3, "omega uniqueterm xi", "s2"),
            (4, "omega uniqueterm xi", "s2"),  # exact dup of 3 -> dropped
        ],
        "doc_id long, text string, source string",
    )
    drops = {r["doc_id"] for r in edit_distance_pairs(docs, max_dist=3)
             .select(F.col("b_id").alias("doc_id")).distinct().collect()}
    # exact dups are edit-distance-0 pairs, so 4 already drops here;
    # the downstream exact-dedup stage catches only dups whose prefixes
    # landed in different blocks
    assert drops == {2, 4}
    kept = docs.join(
        spark.createDataFrame([(i,) for i in drops], "doc_id long"),
        "doc_id", "left_anti",
    )
    surv = exact_dedup(kept).select(F.col("keep_id").alias("doc_id"))
    curated = kept.join(surv, "doc_id")
    assert {r["doc_id"] for r in curated.select("doc_id").collect()} == {1, 3}
    manifest = class_tfidf_terms(curated)
    terms = {(r["cls"], r["term"]) for r in manifest.collect()}
    assert ("s1", "gamms") not in terms  # dropped doc's exclusive term
    assert ("s2", "uniqueterm") in terms


def test_bag_dedup_catches_reordered_duplicates(spark):
    """Bag groups merge reordered texts that exact dedup keeps apart:
    'a b c' and 'c b a' share a bag (n_distinct_texts = 2), while a
    genuinely different doc stays its own group."""
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        bag_dedup,
        exact_dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "c b a"),      # reorder of 1 -> same bag
            (3, "a b c"),      # exact dup of 1 -> same bag AND same text
            (4, "x y z"),
        ],
        "doc_id long, text string",
    )
    got = {r["keep_id"]: (r["n_copies"], r["n_distinct_texts"])
           for r in bag_dedup(docs).collect()}
    assert got == {1: (3, 2), 4: (1, 1)}
    # exact dedup sees three groups for the same corpus
    assert len(exact_dedup(docs).collect()) == 3


def test_simpson_diversity_hand_values(spark):
    """'a a a' -> collisions 3*2/(3*2) = 1e6 ppm; 'a b c' -> 0;
    'a a b' -> 2/(3*2) ppm; single token -> NULL."""
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        simpson_diversity,
    )

    docs = spark.createDataFrame(
        [(1, "a a a"), (2, "a b c"), (3, "a a b"), (4, "solo")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_tokens"], r["n_types"], r["simpson_ppm"])
           for r in simpson_diversity(docs).collect()}
    assert got[1] == (3, 1, 1000000)
    assert got[2] == (3, 3, 0)
    assert got[3] == (3, 2, (1000000 * 2) // 6)
    assert got[4] == (1, 1, None)


def test_zipf_fit_recovers_power_law(spark):
    """A corpus built with freq(rank i) = floor(2000/i) IS Zipfian with
    exponent -1; the OLS fit over the top-100 must recover slope ~ -1
    with near-perfect r² (floor() quantization is the only noise)."""
    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        zipf_fit,
    )

    words = []
    for i in range(1, 101):
        words.extend([f"w{i:03d}"] * (2000 // i))
    # split into multiple docs to prove corpus-level (not per-doc) counting
    docs = spark.createDataFrame(
        [(d, " ".join(words[d::7])) for d in range(7)],
        "doc_id long, text string",
    )
    row = zipf_fit(docs).collect()[0]
    assert row["n_top"] == 100
    assert -1.05 < row["zipf_slope"] < -0.95, row
    assert row["r2"] > 0.995, row


def test_interpolated_lm_backoff_floor(spark):
    """The JM-interpolated score must sit between the raw bigram score
    and the unigram floor: for a doc whose bigrams are all unique
    (P(w2|w1)=1 contexts), interpolation PULLS the score below the raw
    model's 0; for repeated-context docs both models agree on ordering.
    Hand-check one bigram's probability exactly."""
    import math

    from query_refinement_dsit_databases_2021_spark.operators.textops import (
        interpolated_lm_scores,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c d")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp_interp"])
        for r in interpolated_lm_scores(docs).collect()
    }
    # corpus: tokens a×3,b×3,c×1,d×1 (doc1) + a,b,c,d... recount:
    # doc1 tokens: a,b,a,b,a,b ; doc2: a,b,c,d -> a:4 b:4 c:1 d:1, nt=10
    # bigrams: doc1: ab,ba,ab,ba,ab ; doc2: ab,bc,cd
    # c2: ab:4, ba:2, bc:1, cd:1 ; c1: a·:4, b·:3, c·:1
    # doc2 'ab': p = (7*(4/4) + 3*(4/10))/10 = (7 + 1.2)/10 = 0.82
    p_ab = (7 * (4 / 4) + 3 * (4 / 10)) / 10
    p_bc = (7 * (1 / 3) + 3 * (1 / 10)) / 10
    p_cd = (7 * (1 / 1) + 3 * (1 / 10)) / 10
    want2 = round((math.log(p_ab) + math.log(p_bc) + math.log(p_cd)) / 3, 6)
    assert got[2][0] == 3
    assert abs(got[2][1] - want2) < 1e-6, (got[2], want2)
    # doc1 scores higher (repeated fluent bigrams) than doc2
    assert got[1][1] > got[2][1]


# --- content-defined chunking -----------------------------------------


def _ref_cdc(text, w, d):
    """Tiny reference chunker mirroring the documented boundary rule."""
    chunks, start = [], 0
    codes = [ord(c) for c in text]
    for i in range(w - 1, len(codes)):  # 0-based index of 1-based pos i+1
        if sum(codes[i - w + 1 : i + 1]) % d == 0:
            chunks.append(text[start : i + 1])
            start = i + 1
    if start < len(text):
        chunks.append(text[start:])
    return chunks


def test_cdc_chunks_match_reference_rule(spark):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import cdc_chunks

    texts = [
        "abcab",
        "the quick brown fox jumps over the lazy dog",
        "aaaaaaaaaaaaaaaa",
        "x",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, "s0", t) for i, t in enumerate(texts)],
        "doc_id long, source string, text string",
    )
    got = {
        (r["doc_id"], r["chunk_id"]): r["chunk"]
        for r in cdc_chunks(docs, window=2, divisor=3).collect()
    }
    want = {
        (i, cid): ch
        for i, t in enumerate(texts)
        for cid, ch in enumerate(_ref_cdc(t, 2, 3))
    }
    assert got == want
    # reassembly invariant: chunks concatenate back to the document
    for i, t in enumerate(texts):
        joined = "".join(
            got[(i, c)] for c in range(sum(1 for k in got if k[0] == i))
        )
        assert joined == t


def test_cdc_chunks_shift_resistant(spark):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        CDC_DIVISOR,
        CDC_WINDOW,
        cdc_chunks,
    )

    # a 1-char prefix insertion must NOT shift every chunk: boundaries
    # re-align once the window clears the edit, so the two documents
    # share most chunks — the property fixed-size blocking lacks
    import random

    rng = random.Random(7)
    base = "".join(rng.choice("abcdefgh ") for _ in range(2000))
    docs = spark.createDataFrame(
        [(1, "s0", base), (2, "s0", "Z" + base)],
        "doc_id long, source string, text string",
    )
    rows = cdc_chunks(docs).collect()
    c1 = {r["chunk"] for r in rows if r["doc_id"] == 1}
    c2 = {r["chunk"] for r in rows if r["doc_id"] == 2}
    shared = c1 & c2
    assert len(shared) >= 0.9 * min(len(c1), len(c2))
    # sanity: the reference rule agrees on the unshifted doc
    assert sorted(c1) == sorted(set(_ref_cdc(base, CDC_WINDOW, CDC_DIVISOR)))


def test_cdc_chunk_dedup_ledger_counts_duplicates(spark):
    from query_refinement_dsit_databases_2021_spark.operators.dedup import (
        cdc_chunk_dedup,
    )

    # two identical docs in src0: every chunk of doc 2 dedups against
    # doc 1, so saved_chars = len(text); src1's lone doc saves nothing
    t = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [(1, "src0", t), (2, "src0", t), (3, "src1", t)],
        "doc_id long, source string, text string",
    )
    got = {
        r["source"]: (r["total_chars"], r["saved_chars"], r["dedup_ppm"])
        for r in cdc_chunk_dedup(docs, window=2, divisor=3).collect()
    }
    assert got["src0"] == (2 * len(t), len(t), 500000)
    assert got["src1"] == (len(t), 0, 0)
