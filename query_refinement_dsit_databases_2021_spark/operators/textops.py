"""Text-analysis building blocks for the large-scale pipeline layer.

Everything here is JVM-side Column/DataFrame algebra (split / explode /
higher-order array functions) — no Python UDFs in the hot path — so the
operators ride whole-stage codegen and scale with partition count.

Determinism contract: every scoring path is either pure integer
arithmetic or a *left fold* over an array in a fixed order, so results
are bit-identical across engines (the DuckDB oracles in
``operators/pipelines.py`` use the same fold shapes).

Scale notes (100 TB):
- ``shingles`` / token explodes grow rows by ~L (tokens per doc) — they
  feed straight into groupBy shuffles keyed by doc or term; no driver
  collect anywhere.
- ``shingle_hashes`` maps each shingle to a 31-bit integer with the
  polynomial ``rolling_hash`` — pure codegen arithmetic, no vocabulary
  pass, and portable to the DuckDB oracle (same fold over the same
  characters). A production pipeline on Spark alone would use
  ``xxhash64`` on the shingle bytes; the polynomial hash is chosen only
  because both engines can evaluate it bit-identically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Mersenne prime 2^31 - 1: (a*r + b) stays < 2^62, safe in int64 in
# both Spark and the DuckDB oracle.
HASH_P = 2_147_483_647

SHINGLE_K = 3
STOPWORDS = ("the", "a")


def lcg_a(i: int) -> int:
    """Deterministic per-hash multiplier (glibc LCG constants)."""
    return (1103515245 * (i + 1) + 12345) % HASH_P


def lcg_b(i: int) -> int:
    """Deterministic per-hash addend."""
    return (69069 * (i + 1) + 1) % HASH_P


def tokens(text: Column) -> Column:
    return F.split(text, " ")


def gram_array(ws: Column, k: int) -> Column:
    """All k-token windows of a token array as ``'|'``-joined strings —
    the shared construction under :func:`shingles` and
    :func:`ngram_topk` (and the oracle's ``_SHINGLE_EXPR``): 1-indexed
    ``element_at`` windows, guarded for < k tokens (Spark's
    ``sequence(1, n)`` would count *down* for n < 1)."""
    n = F.size(ws)
    idx = F.when(n >= k, F.sequence(F.lit(1), n - (k - 1))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx,
        lambda i: F.concat_ws(
            "|", *[F.element_at(ws, i + int(j)) for j in range(k)]
        ),
    )


def shingles(
    docs: DataFrame, k: int = SHINGLE_K, ws_rows: DataFrame | None = None
) -> DataFrame:
    """Distinct k-word shingles per document: (doc_id, s).

    ``ws_rows``: optional pre-tokenized ``(doc_id, ws)`` frame (``ws`` =
    the split token array). An ensemble caller that also needs the raw
    tokens (e.g. the consensus workload's SimHash detector) tokenizes
    the corpus ONCE, materializes that frame, and feeds it to every
    detector — one corpus scan + one split instead of one per detector
    (r10, guide §2.4)."""
    # materialize the token array in its own projection: referencing the
    # split expression directly inside the transform lambda makes codegen
    # re-split the text for every element_at — O(tokens^2 * k) per doc
    # (measured 8-10x slower at sf0.1)
    base = (
        ws_rows
        if ws_rows is not None
        else docs.select("doc_id", tokens(F.col("text")).alias("ws"))
    )
    sh = gram_array(F.col("ws"), k)
    return base.select(
        "doc_id", F.explode(F.array_distinct(sh)).alias("s")
    )


def boilerplate_coverage(
    docs: DataFrame, k: int = SHINGLE_K, min_docs: int = 2, pct: int = 60
) -> DataFrame:
    """Cross-document boilerplate coverage filter (the corpus-level
    companion to :func:`repetition_stats`' within-document signals —
    the MassiveText/Gopher "fraction of text in duplicated n-grams"
    rule, evaluated exactly instead of by sketch).

    For each document: ``n_shingles`` distinct k-shingles,
    ``n_shared`` of which occur in at least ``min_docs`` distinct
    documents corpus-wide; ``flagged`` = 1 when shared shingles cover
    more than ``pct`` percent. The threshold test is integer
    cross-multiplication (``100 * n_shared > pct * n_shingles``) — no
    float ratio, so Spark and the DuckDB oracle agree bit-exactly.

    Plan at 100 TB: shingle explode -> ONE map-side-combinable
    ``groupBy(s)`` for document frequency -> equi-join back on the
    shingle (both sides hash-partitioned on ``s``) -> ``groupBy(doc_id)``
    fold. Two shuffles, both on high-cardinality keys; no driver
    traffic. Documents shorter than k tokens have no shingles and are
    absent from the output (mirrored by the oracle).
    """
    sh = shingles(docs, k)
    # sh is distinct per (doc_id, s), so count(*) per s IS the
    # document frequency — no countDistinct shuffle-side exactness tax
    dfreq = sh.groupBy("s").agg(F.count("*").alias("df"))
    return (
        sh.join(dfreq, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("df") >= min_docs).cast("long")).alias("n_shared"),
        )
        .withColumn(
            "flagged",
            (F.lit(100) * F.col("n_shared") > F.lit(pct) * F.col("n_shingles"))
            .cast("int"),
        )
    )


def ngram_topk(docs: DataFrame, k: int = SHINGLE_K, topk: int = 50) -> DataFrame:
    """Corpus-wide top-``topk`` most frequent k-grams (raw occurrence
    counts, NOT per-document-distinct — the vocabulary/boilerplate
    inspection view).

    Ties broken by the n-gram text ascending, so the top-k set is
    fully deterministic. One explode -> map-combinable groupBy ->
    global ``orderBy().limit()`` which Spark executes as
    TakeOrderedAndProject (per-partition heaps, no global sort) — the
    plan you want when the group count is ~vocabulary-sized.
    """
    base = docs.select(tokens(F.col("text")).alias("ws"))
    grams = gram_array(F.col("ws"), k)
    return (
        base.select(F.explode(grams).alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "gram")
        .limit(topk)
    )


COOC_WINDOW = 3
COOC_TOPK = 50


def cooccurrence_pairs(
    docs: DataFrame, window: int = COOC_WINDOW, topk: int = COOC_TOPK
) -> DataFrame:
    """Corpus-wide top-``topk`` co-occurring token pairs within a
    ``window``-token skip-gram window — the word2vec/GloVe training-
    pair generator and a collocation ("new york") detector. A pair is
    counted once per (position i, offset d ≤ window) occurrence,
    normalized to unordered ``(least, greatest)`` form.

    Plan: pair generation is a PURE PROJECTION — nested array
    ``transform`` over token positions (≤ n·window pairs per doc,
    no self-join, no posting explosion-then-join), then ONE
    map-combinable groupBy(pair) and a TakeOrderedAndProject top-k
    with full (n DESC, w1, w2) tie-break. At 100 TB the shuffle
    carries one row per DISTINCT pair per task (hot pairs combine
    map-side); the standard vocabulary-cap/stopword-subsample knobs
    compose in front as a filter on the token array.
    """
    base = docs.select(tokens(F.col("text")).alias("ws"))
    n = F.size("ws")
    ws = F.col("ws")
    idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
        F.array().cast("array<int>")
    )
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.sequence(i + 1, F.least(i + window, n)),
                lambda j: F.struct(
                    F.least(
                        F.element_at(ws, i), F.element_at(ws, j)
                    ).alias("w1"),
                    F.greatest(
                        F.element_at(ws, i), F.element_at(ws, j)
                    ).alias("w2"),
                ),
            ),
        )
    )
    return (
        base.select(F.explode(pairs).alias("p"))
        .groupBy("p.w1", "p.w2")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy(F.desc("n_pairs"), "w1", "w2")
        .limit(topk)
    )


def shingle_hashes(sh: DataFrame) -> DataFrame:
    """(doc_id, h): each shingle mapped to its 31-bit polynomial hash —
    no vocabulary pass, no shuffle, pure codegen arithmetic."""
    return sh.select("doc_id", rolling_hash(F.col("s")).alias("h"))


def rolling_hash(text: Column, mult: int = 31, mod: int = HASH_P) -> Column:
    """Polynomial rolling hash over the characters of ``text``:
    ``h = fold(h * mult + ascii(c)) % mod`` — a left fold, so the oracle's
    ``list_reduce`` over the same characters is bit-identical."""
    return F.aggregate(
        F.split(text, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * mult + F.ascii(c)) % mod,
    )


def quality_columns(docs: DataFrame) -> DataFrame:
    """Per-document quality heuristics, all via higher-order array
    functions (no shuffle, no Python):

    - ``n_tokens``: whitespace token count
    - ``n_types`` / ``ttr``: distinct tokens and type-token ratio
    - ``stop_ratio``: fraction of tokens in STOPWORDS
    - ``avg_word_len``: mean token length
    - ``quality``: fixed linear blend, higher = better
    """
    # same single-projection materialization as shingles(): the token
    # array is referenced by four expressions below
    docs = docs.select("doc_id", tokens(F.col("text")).alias("ws"))
    ws = F.col("ws")
    n_tok = F.size(ws)
    n_typ = F.size(F.array_distinct(ws))
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS)))
    sum_len = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    ttr = n_typ / n_tok
    stop_ratio = n_stop / n_tok
    avg_word_len = sum_len / n_tok
    quality = (
        F.lit(0.4) * ttr
        + F.lit(0.4) * (F.lit(1.0) - stop_ratio)
        + F.lit(0.2) * F.least(n_tok / F.lit(100.0), F.lit(1.0))
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_typ.alias("n_types"),
        F.round(ttr, 6).alias("ttr"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.round(quality, 6).alias("quality"),
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Boilerplate / repetition quality signals, complementary to
    :func:`quality_columns`'s type-token ratio:

    - ``top_tok_share``: multiplicity of the most frequent token over
      the token count (near 1 = degenerate repetition)
    - ``dup_bigram_frac``: fraction of adjacent-token bigrams that are
      repeats (catches copy-paste boilerplate that token-level TTR
      misses)

    All higher-order array functions over one projection — no shuffle,
    no Python; per-doc cost is O(types·tokens) for the mode (documents
    are bounded; corpora scale by rows, not doc length).
    """
    docs = docs.select("doc_id", tokens(F.col("text")).alias("ws"))
    ws = F.col("ws")
    n_tok = F.size(ws)
    top_cnt = F.array_max(
        F.transform(
            F.array_distinct(ws),
            lambda t: F.size(F.filter(ws, lambda w: w == t)),
        )
    )
    bigrams = F.expr(
        "transform(sequence(1, greatest(size(ws) - 1, 0)),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
    )
    n_bg = F.size(bigrams)
    dup_bg = F.when(n_bg == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(bigrams)) / n_bg
    )
    return docs.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        F.round(top_cnt / n_tok, 6).alias("top_tok_share"),
        F.round(dup_bg, 6).alias("dup_bigram_frac"),
    )


# Gopher-style document quality rule bounds (Rae et al. 2021, "Scaling
# Language Models: ... Gopher", §A1.1 — public). Ratio rules compare by
# integer cross-multiplication so no float ever reaches a threshold.
GOPHER_MIN_TOKENS = 50
GOPHER_MAX_TOKENS = 100_000


def gopher_rules(docs: DataFrame) -> DataFrame:
    """Gopher-style rule-based quality filter: per-document boolean
    rules plus the conjunction ``keep`` — the standard pre-training
    curation gate that complements the continuous score of
    :func:`quality_columns`:

    - ``ok_len``: 50 <= tokens <= 100k
    - ``ok_word_len``: mean word length in [3, 10]
    - ``ok_symbols``: symbol-to-word ratio (# or ...) <= 0.1
    - ``ok_alpha``: >= 80% of words contain an alphabetic character
    - ``ok_stop``: >= 2 stopword hits
    - ``ok_lines``: <= 90% bullet-started and <= 30% ellipsis-ended lines

    Every ratio is an integer cross-multiplication (``3*n <= s`` rather
    than ``s/n >= 3``), so both engines compare exact int64s. One pure
    projection over higher-order array functions — no shuffle, no
    Python; at 100 TB this fuses into whatever scan feeds it.
    """
    docs = docs.select(
        "doc_id",
        tokens(F.col("text")).alias("ws"),
        F.split(F.col("text"), "\n").alias("lines"),
    )
    ws = F.col("ws")
    n_tok = F.size(ws).cast("long")
    sum_len = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w)
    )
    n_sym = F.size(
        F.filter(ws, lambda w: w.contains("#") | w.contains("..."))
    ).cast("long")
    n_alpha = F.size(F.filter(ws, lambda w: w.rlike("[a-zA-Z]"))).cast("long")
    n_stop = F.size(F.filter(ws, lambda w: w.isin(*STOPWORDS))).cast("long")
    lines = F.col("lines")
    n_lines = F.size(lines).cast("long")
    n_bullet = F.size(
        F.filter(lines, lambda l: l.startswith("- ") | l.startswith("* "))
    ).cast("long")
    n_ell = F.size(F.filter(lines, lambda l: l.endswith("..."))).cast("long")
    ok_len = (n_tok >= GOPHER_MIN_TOKENS) & (n_tok <= GOPHER_MAX_TOKENS)
    ok_word_len = (3 * n_tok <= sum_len) & (sum_len <= 10 * n_tok)
    ok_symbols = 10 * n_sym <= n_tok
    ok_alpha = 5 * n_alpha >= 4 * n_tok
    ok_stop = n_stop >= 2
    ok_lines = (10 * n_bullet <= 9 * n_lines) & (10 * n_ell <= 3 * n_lines)
    keep = ok_len & ok_word_len & ok_symbols & ok_alpha & ok_stop & ok_lines
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        ok_len.cast("int").alias("ok_len"),
        ok_word_len.cast("int").alias("ok_word_len"),
        ok_symbols.cast("int").alias("ok_symbols"),
        ok_alpha.cast("int").alias("ok_alpha"),
        ok_stop.cast("int").alias("ok_stop"),
        ok_lines.cast("int").alias("ok_lines"),
        keep.cast("int").alias("keep"),
    )


def token_stats(docs: DataFrame) -> DataFrame:
    """Corpus term statistics: term frequency and document frequency
    per term — the classic explode -> groupBy(term) map-side-combinable
    aggregation."""
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    return tok.groupBy("term").agg(
        F.count("*").alias("tf"),
        F.countDistinct("doc_id").alias("df"),
    )


# BPE-style pre-tokenizer classes (GPT-2-ish, ASCII-safe so the Java
# and RE2 regex engines agree): letter runs, digit runs, punctuation
# runs. Counting these approximates subword token counts far better
# than whitespace splitting on code/punctuation-heavy text.
BPE_SPLIT_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]+"


def bpe_token_stats(docs: DataFrame) -> DataFrame:
    """Token counting, both ways the pipeline needs it: whitespace
    tokens (corpus stats) and BPE-ish regex pre-tokens (training cost
    estimation). ``bpe_per_ws`` is the expansion factor a trainer's
    budget model multiplies by. Pure projection — ``regexp_extract_all``
    + ``size``, no shuffle, no Python."""
    ws = F.size(tokens(F.col("text"))).cast("long")
    bpe = F.size(
        F.expr(f"regexp_extract_all(text, '{BPE_SPLIT_PATTERN}', 0)")
    ).cast("long")
    return docs.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.round(bpe / ws, 6).alias("bpe_per_ws"),
    )


def langid_predictions(docs: DataFrame, top_n: int = 20) -> DataFrame:
    """Frequency-profile language identification.

    Train and predict in one dataflow: build a per-language profile
    (top ``top_n`` terms by corpus frequency, weighted ``top_n+1-rank``),
    then score every document against every profile and take the
    argmax. Integer scores + (score desc, lang asc) tie-break keep the
    argmax fully deterministic. Profiles are tiny -> broadcast.
    """
    tok = docs.select(
        "doc_id", "lang", F.explode(tokens(F.col("text"))).alias("w")
    )
    counts = tok.groupBy(F.col("lang").alias("plang"), "w").agg(
        F.count("*").alias("c")
    )
    rw = Window.partitionBy("plang").orderBy(F.desc("c"), "w")
    prof = (
        counts.withColumn("rk", F.row_number().over(rw))
        .where(F.col("rk") <= top_n)
        .select("plang", "w", (F.lit(top_n + 1) - F.col("rk")).alias("wt"))
    )
    scores = (
        tok.join(F.broadcast(prof), "w")
        .groupBy("doc_id", "lang", "plang")
        .agg(F.sum("wt").alias("score"))
    )
    pw = Window.partitionBy("doc_id").orderBy(F.desc("score"), "plang")
    return (
        scores.withColumn("rn", F.row_number().over(pw))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("plang").alias("predicted"),
            F.col("lang").alias("actual"),
            (F.col("plang") == F.col("lang")).cast("int").alias("correct"),
        )
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """Per-document fingerprints: whole-text polynomial rolling hash
    plus the minimum shingle-hash (a 1-hash MinHash), both pure
    integer arithmetic."""
    shr = shingle_hashes(shingles(docs))
    a0, b0 = lcg_a(0), lcg_b(0)
    min_sh = shr.groupBy("doc_id").agg(
        F.min((F.lit(a0) * F.col("h") + F.lit(b0)) % HASH_P).alias(
            "min_shingle_hash"
        )
    )
    fp = docs.select("doc_id", rolling_hash(F.col("text")).alias("text_hash"))
    return fp.join(min_sh, "doc_id", "left").select(
        "doc_id",
        "text_hash",
        F.coalesce("min_shingle_hash", F.lit(-1)).alias("min_shingle_hash"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training-data curation: redact before training)
# ---------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 common subset so Spark
# (java.util.regex) and DuckDB (RE2) match identically: no backrefs, no
# lookaround; the phone pattern requires a leading '+' so the greedy
# digit-run has a single feasible longest match under both leftmost-first
# (Java) and leftmost-longest (RE2) semantics.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PII_PHONE = r"\+[0-9][0-9 -]{6,}[0-9]"


def scrub_pii(docs: DataFrame) -> DataFrame:
    """Redact emails, IPv4 addresses, and +international phone numbers,
    keeping per-document match counts (counted on the RAW text, so the
    counts are independent of replacement order). Replacement applies
    email -> ip -> phone, the same fixed order as the oracle. Pure
    JVM-side regexp codegen — no shuffle, no Python.

    Returns ``(doc_id, n_emails, n_ips, n_phones, scrubbed)``.
    """
    text = F.col("text")
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(text, PII_EMAIL, "<EMAIL>"),
            PII_IPV4,
            "<IP>",
        ),
        PII_PHONE,
        "<PHONE>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count(text, F.lit(PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(text, F.lit(PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count(text, F.lit(PII_PHONE)).cast("long").alias("n_phones"),
        scrubbed.alias("scrubbed"),
    )


def corpus_manifest(docs: DataFrame) -> DataFrame:
    """Integrity fingerprint of a corpus snapshot — the one-row audit
    record a pipeline logs after every stage (ingest, dedup, filter,
    remix) to prove reproducibility: doc/token/char totals plus two
    order-independent content digests over the per-doc rolling hashes
    (bit_xor, and sum mod the hash prime — xor alone cancels duplicate
    pairs, the modular sum does not). One map-side-combinable aggregate:
    no shuffle beyond the final single-row reduce, scale-free at 100 TB.

    Returns ``(n_docs, n_tokens, n_chars, xor_digest, sum_digest)``.
    """
    h = rolling_hash(F.col("text"))
    return docs.select(
        F.size(tokens(F.col("text"))).cast("long").alias("_nt"),
        F.length("text").cast("long").alias("_nc"),
        h.alias("_h"),
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_nt").alias("n_tokens"),
        F.sum("_nc").alias("n_chars"),
        F.expr("bit_xor(_h)").alias("xor_digest"),
        # sum in decimal(38,0): each _h < 2^31, so an int64 accumulator
        # would wrap past ~2^32 docs and (since 2^64 is not a multiple
        # of the prime) diverge from the oracle's exact HUGEINT sum —
        # decimal is exact to 1e38, good for ~1e27 docs
        (F.sum(F.col("_h").cast("decimal(38,0)")) % F.lit(HASH_P))
        .cast("long")
        .alias("sum_digest"),
    )


def bigram_lm_scores(docs: DataFrame) -> DataFrame:
    """Corpus-trained bigram language-model score per document — the
    CCNet-style quality signal (fluent text scores high, gibberish and
    boilerplate-mangled text score low): ``avg_logp = mean over doc
    bigrams of ln(count(w1 w2) / count(w1 ·))``.

    Counts are trained on the SAME corpus being scored, so every doc
    bigram exists in the model (no smoothing needed) and the score is
    a pure function of the corpus. Scale shape: the bigram model is a
    (vocab²-bounded) aggregate, re-joined to the per-doc bigram stream
    on (w1, w2) and (w1,) — plain shuffle equi-joins, no broadcast
    assumption on the model side (at 100 TB the bigram table is big).
    In deployment, train once, write bucketed by (w1, w2), and score
    any corpus against it exchange-free (same layout trick as
    ``search.full_postings``).

    Returns ``(doc_id, n_bigrams, avg_logp)`` for docs with >= 2
    tokens, ordered by doc_id; ``avg_logp`` rounded to 6 dp.
    """
    base = docs.select("doc_id", tokens(F.col("text")).alias("ws")).where(
        F.size("ws") >= 2
    )
    bg = base.select(
        "doc_id",
        F.explode(
            # Spark array subscripts are 0-based (the DuckDB oracle's
            # are 1-based — each side indexes its own way)
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(F.col("n2") / F.col("n1"))), 6).alias(
                "avg_logp"
            ),
        )
        .orderBy("doc_id")
    )


LM_LAMBDA10 = 7  # Jelinek–Mercer mixing weight λ = 0.7, in tenths


def interpolated_lm_scores(
    docs: DataFrame, lam10: int = LM_LAMBDA10
) -> DataFrame:
    """Jelinek–Mercer–interpolated bigram LM score per document —
    :func:`bigram_lm_scores` with unigram backoff:
    ``avg_logp = mean ln(λ·P(w2|w1) + (1−λ)·P(w2))``. The backoff is
    what makes the model portable: trained on corpus A and scoring
    corpus B, unseen bigrams get the unigram floor instead of −∞ (the
    raw model's same-corpus-only restriction), so this is the form a
    deployed quality gate actually ships. λ in tenths keeps the blend
    a rational with an exact decimal (the 6 dp round covers the ln).

    Plan: the same vocab²-bounded bigram aggregates as the raw model
    plus ONE vocab-bounded unigram aggregate and a 1-row broadcast
    total — all shuffle equi-joins, no broadcast assumption on the
    model side.

    Returns ``(doc_id, n_bigrams, avg_logp_interp)`` for docs with
    >= 2 tokens, ordered by doc_id.
    """
    base = docs.select("doc_id", tokens(F.col("text")).alias("ws")).where(
        F.size("ws") >= 2
    )
    bg = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1), "
                "i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    toks = docs.select(
        F.explode(tokens(F.col("text"))).alias("w2")
    ).where(F.length("w2") > 0)
    cu = toks.groupBy("w2").agg(F.count(F.lit(1)).alias("nu"))
    tot = toks.agg(F.count(F.lit(1)).alias("nt"))
    lam = int(lam10)
    p = (
        F.lit(lam) * F.col("n2") / F.col("n1")
        + F.lit(10 - lam) * F.col("nu") / F.col("nt")
    ) / F.lit(10)
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .join(cu, ["w2"])
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(F.log(p)), 6).alias("avg_logp_interp"),
        )
        .orderBy("doc_id")
    )


ORACLE_LM_INTERP = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
  WHERE len(string_split(text, ' ')) >= 2),
bg AS (
  SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i FROM base)),
c2 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(n2) AS BIGINT) AS n1 FROM c2 GROUP BY 1),
toks AS (
  SELECT t AS w2 FROM (
    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> ''),
cu AS (SELECT w2, CAST(count(*) AS BIGINT) AS nu FROM toks GROUP BY 1),
tot AS (SELECT CAST(count(*) AS BIGINT) AS nt FROM toks)
SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       round(avg(ln(({LM_LAMBDA10} * CAST(c2.n2 AS DOUBLE) / c1.n1
                     + {10 - LM_LAMBDA10} * CAST(cu.nu AS DOUBLE) / tot.nt)
                    / 10)), 6) AS avg_logp_interp
FROM bg
JOIN c2 USING (w1, w2) JOIN c1 USING (w1) JOIN cu USING (w2)
CROSS JOIN tot
GROUP BY bg.doc_id ORDER BY bg.doc_id"""


def langid_confusion(docs: DataFrame, top_n: int = 20) -> DataFrame:
    """Confusion matrix over :func:`langid_predictions` — the
    evaluation surface for the classifier: per (actual, predicted)
    cell count plus its integer-ppm share of the actual-language row
    (the diagonal's share IS per-language recall). Run it per corpus
    snapshot to catch profile drift before a mislabeled language
    poisons a remix budget.

    Plan: one groupBy over the prediction stream (|langs|² cells at
    most), row shares via a window over those cells — post-aggregate
    work is |langs|²-sized regardless of corpus size.
    Returns ``(actual, predicted, n, share_ppm)``.
    """
    pred = langid_predictions(docs, top_n)
    cells = pred.groupBy("actual", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("actual")
    return (
        cells.withColumn("_t", F.sum("n").over(w))
        .select(
            "actual",
            "predicted",
            "n",
            F.expr("n * 1000000 div _t").alias("share_ppm"),
        )
        .orderBy("actual", "predicted")
    )


def ccnet_quality_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style quality bucketing: rank each language's documents by
    the corpus-trained LM score (:func:`bigram_lm_scores`) and split
    into head / middle / tail terciles — the published recipe keeps
    "head" for pretraining, samples "middle", and drops or reweights
    "tail". Per-language terciles matter: a global cut would assign
    whole low-resource languages to the tail purely because their
    n-gram statistics are thinner.

    Determinism: the tercile window orders by the 6-dp-rounded score
    (identical on both engines) with doc_id as tiebreak; ntile's
    remainder-to-leading-tiles split is SQL-standard on both. Output is
    the per-bucket summary (order-free min/max over rounded scores).

    Scale shape: everything rides the LM-score joins; the added window
    partitions by language — per-language sorts, no global order.
    Returns ``(lang, tercile, bucket, n_docs, lo_logp, hi_logp)``.
    """
    scores = bigram_lm_scores(docs)
    j = scores.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logp").desc(), F.col("doc_id").asc()
    )
    named = F.element_at(
        F.array(F.lit("head"), F.lit("middle"), F.lit("tail")),
        F.col("tercile"),
    )
    return (
        j.select("lang", "avg_logp", F.ntile(3).over(w).alias("tercile"))
        .groupBy("lang", "tercile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("avg_logp").alias("lo_logp"),
            F.max("avg_logp").alias("hi_logp"),
        )
        .select(
            "lang",
            "tercile",
            named.alias("bucket"),
            "n_docs",
            "lo_logp",
            "hi_logp",
        )
        .orderBy("lang", "tercile")
    )


def normalize_text(docs: DataFrame) -> DataFrame:
    """Canonical text normalization — the map-only pass that precedes
    dedup/tokenization (unnormalized text defeats exact dedup):
    lowercase, strip non-alphanumeric-except-space (the ASCII-safe
    transform subset the Java and DuckDB regex engines share
    byte-for-byte), collapse whitespace runs, trim. Emits the changed
    flag so the pipeline can report normalization impact.

    Pure codegen projection: no shuffle, no Python. At 100 TB this is
    a rewrite pass fused into whatever scan follows it.
    """
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select(
        "doc_id",
        norm.alias("norm_text"),
        (norm != F.col("text")).cast("int").alias("changed"),
    )


TOKENIZE_VOCAB_SIZE = 256

# above this vocabulary size the inlined create_map literal bloats the
# plan (every task re-parses a multi-MB expression tree; measured plan
# growth is linear in entries) — switch to a broadcast-join encode
TOKENIZE_JOIN_THRESHOLD = 4096


def tokenize_ids(
    docs: DataFrame,
    vocab_size: int = TOKENIZE_VOCAB_SIZE,
) -> DataFrame:
    """Tokenize against a corpus-trained vocabulary: ids are the
    frequency ranks (1 = most frequent; ties broken by term ascending),
    out-of-vocabulary tokens map to 0 — the id-ization step between
    text curation and sequence packing.

    Two encode forms, same output, picked by ``vocab_size`` against
    :data:`TOKENIZE_JOIN_THRESHOLD`:

    - literal (small vocabs): the vocabulary is a bounded artifact
      (like IVF centroids), collected once and inlined as a map
      literal; the encode is a per-row ``transform`` — order-preserving
      by construction, no explode/re-sort round trip, no shuffle.
    - join (real 32k–100k vocabularies, where the map literal
      bloats every task's expression tree): posexplode the tokens,
      broadcast-join the vocab table on term, re-assemble per doc with
      ``array_sort(collect_list(struct(pos, id)))`` — one doc_id
      exchange, vocab never leaves the JVM, token order restored by
      the (pos, id) struct sort.

    At 100 TB: train once, persist the vocab table, encode any corpus
    map-only (literal) or with one broadcast + one doc-key exchange
    (join).
    """
    # tf-only training: ONE map-combinable groupBy count — token_stats'
    # document frequency would force a needless two-phase distinct agg
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )

    if vocab_size > TOKENIZE_JOIN_THRESHOLD:
        # rank inside the bounded top-vocab_size slice: the window is
        # single-partition but only ever sees <= vocab_size rows (a
        # vocabulary artifact, not corpus-scale data)
        rank_w = Window.orderBy(F.desc("tf"), "term")
        vocab_df = (
            tf.orderBy(F.desc("tf"), "term")
            .limit(vocab_size)
            .select("term", "tf")
            .withColumn("id", F.row_number().over(rank_w).cast("int"))
            .select("term", "id")
        )
        toks = docs.select("doc_id", tokens(F.col("text")).alias("ws"))
        ex = toks.select("doc_id", F.posexplode("ws").alias("pos", "w"))
        mapped = ex.join(
            F.broadcast(vocab_df), ex["w"] == vocab_df["term"], "left"
        ).select("doc_id", "pos", F.coalesce("id", F.lit(0)).alias("id"))
        enc = mapped.groupBy("doc_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "id"))),
                lambda s: s["id"],
            ).alias("_ids")
        )
        # empty token arrays never reach posexplode — restore them (and
        # NULL-text docs) to mirror the literal path's transform() output
        return toks.join(enc, "doc_id", "left").select(
            "doc_id",
            F.when(F.col("ws").isNull(), F.lit(None).cast("array<int>"))
            .otherwise(
                F.coalesce("_ids", F.lit([]).cast("array<int>"))
            )
            .alias("ids"),
        )

    ranked = tf.orderBy(F.desc("tf"), "term").limit(vocab_size).collect()
    if not ranked:
        # empty/all-null corpus: every token is OOV. An empty
        # create_map() is map<void,void> and fails analysis on a
        # string lookup — emit the constant 0 instead.
        ids = F.transform(tokens(F.col("text")), lambda w: F.lit(0))
        return docs.select("doc_id", ids.alias("ids"))
    entries = []
    for i, r in enumerate(ranked):
        entries.append(F.lit(r["term"]))
        entries.append(F.lit(i + 1))
    vocab = F.create_map(*entries)
    ids = F.transform(tokens(F.col("text")), lambda w: F.coalesce(vocab[w], F.lit(0)))
    return docs.select("doc_id", ids.alias("ids"))


def vocab_coverage(
    docs: DataFrame, vocab_size: int = TOKENIZE_VOCAB_SIZE
) -> DataFrame:
    """Vocabulary-coverage / OOV audit per source: how much of each
    source's token mass (and type inventory) a corpus-trained top-V
    vocabulary covers — the number that decides whether a tokenizer's
    vocab budget fits a new ingest source before any encode runs
    (high OOV ⇒ UNK-flooded training examples).

    Same vocab artifact as :func:`tokenize_ids` (top-``vocab_size``
    terms by (tf desc, term asc)). Plan: one map-combinable
    groupBy(term) trains the vocab; the token stream LEFT-joins it by
    broadcast (the vocab is bounded), then ONE groupBy(source). Token
    counts are int64; ``oov_ppm = (1e6 * oov_tokens) DIV n_tokens``.

    Returns ``(source, n_tokens, oov_tokens, oov_ppm, n_types,
    oov_types)``.
    """
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("tf"))
    )
    vocab_df = (
        tf.orderBy(F.desc("tf"), "term").limit(vocab_size).select("term")
    )
    stream = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("w")
    )
    joined = stream.join(
        F.broadcast(vocab_df.withColumn("_in", F.lit(1))),
        stream["w"] == vocab_df["term"],
        "left",
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.when(F.col("_in").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
            F.countDistinct("w").cast("long").alias("n_types"),
            F.countDistinct(F.when(F.col("_in").isNull(), F.col("w")))
            .cast("long")
            .alias("oov_types"),
        )
        .select(
            "source",
            "n_tokens",
            "oov_tokens",
            F.expr("(1000000 * oov_tokens) div n_tokens").alias("oov_ppm"),
            "n_types",
            "oov_types",
        )
    )


BPE_ROUNDS = 3


def bpe_train(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Train ``rounds`` BPE merges over the corpus — the first steps of
    real tokenizer training (Sennrich et al. 2016), run as dataflow:

    1. word vocabulary: ONE groupBy over the exploded corpus (the only
       corpus-sized shuffle; every later step is vocabulary-sized);
    2. each word becomes a space-separated symbol string with sentinel
       spaces (`` a b c ``);
    3. per round: adjacent-pair counts weighted by word frequency
       (posexplode + map-combinable groupBy), the argmax pair (fully
       tie-broken: count DESC, pair lexicographic) — ONE tiny row to
       the driver — and a ``replace(' a b ', ' ab ')`` projection that
       applies the merge greedily left-to-right (string ``replace`` is
       non-overlapping left-to-right on both engines, which IS the BPE
       merge order).

    The driver holds only the ``rounds`` argmax rows; the vocabulary
    never leaves the cluster. Returns the merge table
    ``(round, pair_a, pair_b, merged, cnt)`` — the artifact a
    tokenizer ships. The oracle replays the identical rounds as an
    unrolled CTE chain.
    """
    spark = docs.sparkSession
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(F.split(F.col("word"), ""), " "),
                F.lit(" "),
            ).alias("w"),
            "cnt",
        )
    )
    merges = []
    for r in range(1, int(rounds) + 1):
        arr = F.split(F.trim(F.col("w")), " ")
        n = F.size(arr)
        idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        pairs = (
            vocab.select(arr.alias("arr"), idx.alias("idx"), "cnt")
            .select(F.explode("idx").alias("i"), "arr", "cnt")
            .select(
                F.element_at("arr", F.col("i")).alias("pa"),
                F.element_at("arr", F.col("i") + 1).alias("pb"),
                "cnt",
            )
            .groupBy("pa", "pb")
            .agg(F.sum("cnt").alias("c"))
        )
        top = pairs.orderBy(F.desc("c"), "pa", "pb").limit(1).collect()
        if not top:
            break
        pa, pb, c = top[0]["pa"], top[0]["pb"], int(top[0]["c"])
        merges.append((r, pa, pb, pa + pb, c))
        # vocabulary-sized loop state: a local checkpoint, not materialize()
        vocab = vocab.select(
            F.expr(
                "replace(w, ' ' || {pa} || ' ' || {pb} || ' ', "
                "' ' || {pa} || {pb} || ' ')".format(
                    pa=_sql_str(pa), pb=_sql_str(pb)
                )
            ).alias("w"),
            "cnt",
        ).localCheckpoint()
    return spark.createDataFrame(
        merges, "round long, pair_a string, pair_b string, merged string, cnt long"
    )


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _bpe_oracle(rounds: int = BPE_ROUNDS) -> str:
    parts = [
        """words AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  WHERE w <> '' GROUP BY w)""",
        """v0 AS MATERIALIZED (
  SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS w, cnt
  FROM words)""",
    ]
    for r in range(1, int(rounds) + 1):
        parts.append(
            f"""p{r} AS (
  SELECT arr[i] AS pa, arr[i + 1] AS pb, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT string_split(trim(w), ' ') AS arr, cnt FROM v{r - 1}) t,
       unnest(range(1, len(arr))) u(i)
  GROUP BY 1, 2),
m{r} AS MATERIALIZED (SELECT pa, pb, c FROM p{r}
       ORDER BY c DESC, pa, pb LIMIT 1),
v{r} AS MATERIALIZED (
  SELECT replace(v.w, ' ' || m.pa || ' ' || m.pb || ' ',
                 ' ' || m.pa || m.pb || ' ') AS w, v.cnt
  FROM v{r - 1} v, m{r} m)"""
        )
    finals = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, pa AS pair_a, pb AS pair_b, "
        f"pa || pb AS merged, c AS cnt FROM m{r}"
        for r in range(1, int(rounds) + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT * FROM (\n{finals}\n) u ORDER BY round"
    )


ORACLE_BPE_TRAIN = _bpe_oracle()


# batched BPE defaults: 2 rounds of up to 4 merges each — small enough
# for the differential gate, large enough to exercise the disjointness
# filter on real text
BPE_BATCH_ROUNDS = 2
BPE_BATCH_P = 4


def bpe_train_batched(
    docs: DataFrame,
    rounds: int = BPE_BATCH_ROUNDS,
    merges_per_round: int = BPE_BATCH_P,
) -> DataFrame:
    """BPE training with ``merges_per_round`` merges applied per Spark
    round — the scale-safe form of :func:`bpe_train`, whose one-job-
    one-collect-per-merge loop means a real 32k-merge vocabulary is 32k
    sequential jobs. Here each round is still ONE pair-count job + ONE
    p-row collect, but applies up to p merges, so the job count drops
    to ~vocab/p.

    Batch rule (exactness within the batch, documented divergence
    across it): the round's top-p pairs are ranked (count DESC, pair
    lexicographic); pair i is SELECTED iff its symbol set
    ``{pa, pb, pa||pb}`` is disjoint from the symbol sets of ALL
    higher-ranked pairs in the batch (selected or not — an order-free
    predicate both engines evaluate identically). Disjoint symbols make
    the replaces commutative and non-interfering, so applying the
    selected merges in rank order equals applying them one-per-round
    against the start-of-round vocabulary, and each recorded ``cnt`` is
    exact for that vocabulary. The divergence from strict sequential
    BPE (Sennrich et al. 2016): a merge can create NEW pairs (x,
    merged) whose recomputed counts could out-rank a lower batch
    member — strict BPE would pick those first. Rank 1 is always the
    strict argmax, and at ``merges_per_round=1`` the output equals
    :func:`bpe_train` exactly (pinned by a test).

    Returns the merge table ``(round, pair_a, pair_b, merged, cnt)``
    with ``round`` the GLOBAL merge index in (batch, rank) order —
    the same schema/ordering contract as :func:`bpe_train`."""
    spark = docs.sparkSession
    p = max(1, int(merges_per_round))
    vocab = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.concat(
                F.lit(" "),
                F.array_join(F.split(F.col("word"), ""), " "),
                F.lit(" "),
            ).alias("w"),
            "cnt",
        )
    )
    merges: list[tuple[int, str, str, str, int]] = []
    for _r in range(1, int(rounds) + 1):
        arr = F.split(F.trim(F.col("w")), " ")
        n = F.size(arr)
        idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        pairs = (
            vocab.select(arr.alias("arr"), idx.alias("idx"), "cnt")
            .select(F.explode("idx").alias("i"), "arr", "cnt")
            .select(
                F.element_at("arr", F.col("i")).alias("pa"),
                F.element_at("arr", F.col("i") + 1).alias("pb"),
                "cnt",
            )
            .groupBy("pa", "pb")
            .agg(F.sum("cnt").alias("c"))
        )
        # ONE p-row collect per round (vs one per merge)
        top = pairs.orderBy(F.desc("c"), "pa", "pb").limit(p).collect()
        if not top:
            break
        batch: list[tuple[str, str, int]] = []
        for i, row in enumerate(top):
            pa, pb, c = str(row["pa"]), str(row["pb"]), int(row["c"])
            syms = {pa, pb, pa + pb}
            if all(
                syms.isdisjoint(
                    {str(q["pa"]), str(q["pb"]), str(q["pa"]) + str(q["pb"])}
                )
                for q in top[:i]
            ):
                batch.append((pa, pb, c))
        # rank 1 has no higher-ranked pairs, so batch is never empty
        expr = "w"
        for pa, pb, c in batch:
            merges.append((len(merges) + 1, pa, pb, pa + pb, c))
            expr = (
                "replace({e}, ' ' || {pa} || ' ' || {pb} || ' ', "
                "' ' || {pa} || {pb} || ' ')".format(
                    e=expr, pa=_sql_str(pa), pb=_sql_str(pb)
                )
            )
        # vocabulary-sized loop state: a local checkpoint, not materialize()
        vocab = vocab.select(F.expr(expr).alias("w"), "cnt").localCheckpoint()
    return spark.createDataFrame(
        merges, "round long, pair_a string, pair_b string, merged string, cnt long"
    )


def _bpe_batched_oracle(
    rounds: int = BPE_BATCH_ROUNDS, p: int = BPE_BATCH_P
) -> str:
    """DuckDB mirror of :func:`bpe_train_batched`: per round the ranked
    top-p CTE, the order-free NOT-EXISTS disjointness filter, and the
    selected merges applied as a chain of per-rank ``coalesce(replace)``
    steps (a scalar subquery per rank; an unselected rank's subquery is
    empty -> NULL -> coalesce keeps the vocabulary unchanged)."""
    parts = [
        """words AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  WHERE w <> '' GROUP BY w)""",
        """v0_0 AS MATERIALIZED (
  SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS w, cnt
  FROM words)""",
    ]
    for r in range(1, int(rounds) + 1):
        prev = f"v{r - 1}_{p}" if r > 1 else "v0_0"
        parts.append(
            f"""p{r} AS (
  SELECT arr[i] AS pa, arr[i + 1] AS pb, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT string_split(trim(w), ' ') AS arr, cnt FROM {prev}) t,
       unnest(range(1, len(arr))) u(i)
  GROUP BY 1, 2),
r{r} AS (
  SELECT * FROM (
    SELECT pa, pb, c, row_number() OVER (ORDER BY c DESC, pa, pb) AS rn
    FROM p{r}) t WHERE rn <= {p}),
sel{r} AS MATERIALIZED (
  SELECT i.rn, i.pa, i.pb, i.c FROM r{r} i
  WHERE NOT EXISTS (
    SELECT 1 FROM r{r} j WHERE j.rn < i.rn AND (
      i.pa IN (j.pa, j.pb, j.pa || j.pb) OR
      i.pb IN (j.pa, j.pb, j.pa || j.pb) OR
      i.pa || i.pb IN (j.pa, j.pb, j.pa || j.pb))))"""
        )
        step_prev = prev
        for i in range(1, int(p) + 1):
            parts.append(
                f"""v{r}_{i} AS MATERIALIZED (
  SELECT coalesce(replace(w,
      (SELECT ' ' || pa || ' ' || pb || ' ' FROM sel{r} WHERE rn = {i}),
      (SELECT ' ' || pa || pb || ' ' FROM sel{r} WHERE rn = {i})), w) AS w,
    cnt
  FROM {step_prev})"""
            )
            step_prev = f"v{r}_{i}"
    finals = "\nUNION ALL\n".join(
        f"SELECT {r} AS r, rn, pa, pb, c FROM sel{r}"
        for r in range(1, int(rounds) + 1)
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT row_number() OVER (ORDER BY r, rn) AS round,
       pa AS pair_a, pb AS pair_b, pa || pb AS merged, c AS cnt
FROM (\n{finals}\n) u ORDER BY round"""
    )


ORACLE_BPE_TRAIN_BATCHED = _bpe_batched_oracle()


def bpe_apply(docs: DataFrame, rounds: int = BPE_ROUNDS) -> DataFrame:
    """Tokenize with the merges :func:`bpe_train` learns — the apply
    side of the pair. The merge rounds run on the (word, symbols)
    VOCABULARY exactly as in training (same argmax, same greedy
    replace), then each document's BPE token count is the sum of its
    words' final symbol counts — one join of the exploded corpus
    against the |vocab|-sized token-count table, so application costs
    one corpus pass no matter how many merges.

    Returns ``(doc_id, n_words, n_bpe_tokens)`` for ``doc_id < 100``
    (ordered) — the compression diagnostic a tokenizer rollout checks
    (n_bpe_tokens shrinks as merges land; never below n_words).
    """
    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    vocab = words.select(
        "word",
        F.concat(
            F.lit(" "),
            F.array_join(F.split(F.col("word"), ""), " "),
            F.lit(" "),
        ).alias("w"),
        "cnt",
    )
    for _ in range(int(rounds)):
        arr = F.split(F.trim(F.col("w")), " ")
        n = F.size(arr)
        idx = F.when(n >= 2, F.sequence(F.lit(1), n - 1)).otherwise(
            F.array().cast("array<int>")
        )
        pairs = (
            vocab.select(arr.alias("arr"), idx.alias("idx"), "cnt")
            .select(F.explode("idx").alias("i"), "arr", "cnt")
            .select(
                F.element_at("arr", F.col("i")).alias("pa"),
                F.element_at("arr", F.col("i") + 1).alias("pb"),
                "cnt",
            )
            .groupBy("pa", "pb")
            .agg(F.sum("cnt").alias("c"))
        )
        top = pairs.orderBy(F.desc("c"), "pa", "pb").limit(1).collect()
        if not top:
            break
        pa, pb = top[0]["pa"], top[0]["pb"]
        # vocabulary-sized loop state: a local checkpoint, not materialize()
        vocab = vocab.select(
            "word",
            F.expr(
                "replace(w, ' ' || {pa} || ' ' || {pb} || ' ', "
                "' ' || {pa} || {pb} || ' ')".format(
                    pa=_sql_str(pa), pb=_sql_str(pb)
                )
            ).alias("w"),
            "cnt",
        ).localCheckpoint()
    word_tokens = vocab.select(
        "word", F.size(F.split(F.trim("w"), " ")).cast("long").alias("n_tok")
    )
    ex = (
        docs.where(F.col("doc_id") < 100)
        .select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .where(F.length("word") > 0)
    )
    return (
        ex.join(word_tokens, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_tok").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def _bpe_apply_oracle(rounds: int = BPE_ROUNDS) -> str:
    parts = [
        """words AS (
  SELECT w AS word, CAST(count(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
  WHERE w <> '' GROUP BY w)""",
        """v0 AS MATERIALIZED (
  SELECT word,
         ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS w, cnt
  FROM words)""",
    ]
    for r in range(1, int(rounds) + 1):
        parts.append(
            f"""p{r} AS (
  SELECT arr[i] AS pa, arr[i + 1] AS pb, CAST(sum(cnt) AS BIGINT) AS c
  FROM (SELECT string_split(trim(w), ' ') AS arr, cnt FROM v{r - 1}) t,
       unnest(range(1, len(arr))) u(i)
  GROUP BY 1, 2),
m{r} AS MATERIALIZED (SELECT pa, pb FROM p{r}
       ORDER BY c DESC, pa, pb LIMIT 1),
v{r} AS MATERIALIZED (
  SELECT v.word,
         replace(v.w, ' ' || m.pa || ' ' || m.pb || ' ',
                 ' ' || m.pa || m.pb || ' ') AS w, v.cnt
  FROM v{r - 1} v, m{r} m)"""
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f""",
wt AS (SELECT word, CAST(len(string_split(trim(w), ' ')) AS BIGINT) AS n_tok
       FROM v{int(rounds)}),
ex AS (SELECT doc_id, w AS word FROM (
         SELECT doc_id, unnest(string_split(text, ' ')) AS w
         FROM documents WHERE doc_id < 100) t
       WHERE w <> '')
SELECT ex.doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(wt.n_tok) AS BIGINT) AS n_bpe_tokens
FROM ex JOIN wt USING (word)
GROUP BY ex.doc_id ORDER BY ex.doc_id"""
    )


ORACLE_BPE_APPLY = _bpe_apply_oracle()


# corpus-tuned denylist for the filtering workload: terms that occur in
# the synthetic vocabulary so every tier of the decision is exercised
BLOCKLIST_TERMS = ("slow", "big", "hash")
BLOCKLIST_DROP_AT = 3  # total occurrences >= this -> drop


def blocklist_filter(docs: DataFrame, terms=BLOCKLIST_TERMS) -> DataFrame:
    """Denylist filtering — the C4-style badwords pass every corpus
    pipeline runs before training: count denylisted-term occurrences
    per document (exact-token membership, not substring, so 'classic'
    never trips 'ass') and grade each doc ``drop`` (>= BLOCKLIST_DROP_AT
    hits), ``flag`` (any hit), or ``keep``.

    Spark-first shape: explode -> isin(literal list) -> per-doc agg,
    then one LEFT join back so clean documents keep a row (the filter
    must say 'keep', not silently omit). The denylist is a literal in
    the plan — at real scale it becomes a broadcast join against a
    terms table (the `tokenize_ids` literal<->join auto-switch is the
    in-repo pattern). Returns ``(doc_id, n_hits, hit_terms, action)``.
    """
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    hits = (
        tok.where(F.col("w").isin(*terms))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.array_join(F.sort_array(F.collect_set("w")), ",").alias(
                "hit_terms"
            ),
        )
    )
    joined = docs.select("doc_id").join(hits, "doc_id", "left")
    n = F.coalesce(F.col("n_hits"), F.lit(0))
    return joined.select(
        "doc_id",
        n.alias("n_hits"),
        F.coalesce(F.col("hit_terms"), F.lit("")).alias("hit_terms"),
        F.when(n >= BLOCKLIST_DROP_AT, F.lit("drop"))
        .when(n >= 1, F.lit("flag"))
        .otherwise(F.lit("keep"))
        .alias("action"),
    )


def _blocklist_oracle(terms=BLOCKLIST_TERMS) -> str:
    in_list = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
         array_to_string(list_sort(list(DISTINCT w)), ',') AS hit_terms
  FROM tok WHERE w IN ({in_list}) GROUP BY doc_id)
SELECT d.doc_id,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(h.hit_terms, '') AS hit_terms,
       CASE WHEN coalesce(h.n_hits, 0) >= {BLOCKLIST_DROP_AT} THEN 'drop'
            WHEN coalesce(h.n_hits, 0) >= 1 THEN 'flag'
            ELSE 'keep' END AS action
FROM documents d LEFT JOIN hits h USING (doc_id)
ORDER BY d.doc_id"""


ORACLE_BLOCKLIST = _blocklist_oracle()


def tokenizer_fertility(docs: DataFrame) -> DataFrame:
    """Per-language tokenizer-fertility audit — the number a tokenizer
    team watches per language slice (chars-per-token / tokens-per-100-
    chars): languages whose fertility drifts high are being shredded
    into too many subwords, inflating training cost and degrading
    sample efficiency. Uses the same GPT-2-ish BPE pre-token classes
    as :func:`bpe_token_stats` so the two audits share a definition.

    Pure projection + one groupBy(lang): integer sums, each ratio ONE
    IEEE division of exact ints, 6 dp floor-quantized. Returns
    ``(lang, n_docs, n_chars, n_ws_tokens, n_bpe_tokens,
    bpe_per_100_chars, bpe_per_ws)``.
    """
    ws = F.size(tokens(F.col("text"))).cast("long")
    bpe = F.size(
        F.expr(f"regexp_extract_all(text, '{BPE_SPLIT_PATTERN}', 0)")
    ).cast("long")
    staged = docs.select(
        "lang", F.length("text").cast("long").alias("nc"), ws.alias("nw"),
        bpe.alias("nb"),
    )
    agg = staged.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("nc").alias("n_chars"),
        F.sum("nw").alias("n_ws_tokens"),
        F.sum("nb").alias("n_bpe_tokens"),
    )

    def _r6(c):
        return F.floor(c * F.lit(1000000) + F.lit(0.5)) / F.lit(1000000.0)

    return agg.select(
        "lang",
        "n_docs",
        "n_chars",
        "n_ws_tokens",
        "n_bpe_tokens",
        _r6(F.col("n_bpe_tokens") * F.lit(100.0) / F.col("n_chars")).alias(
            "bpe_per_100_chars"
        ),
        _r6(F.col("n_bpe_tokens") / F.col("n_ws_tokens").cast("double")).alias(
            "bpe_per_ws"
        ),
    ).orderBy("lang")


ORACLE_FERTILITY = f"""
WITH staged AS (
  SELECT lang, length(text) AS nc,
         len(string_split(text, ' ')) AS nw,
         len(regexp_extract_all(text, '{BPE_SPLIT_PATTERN}', 0)) AS nb
  FROM documents),
agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(nc) AS BIGINT) AS n_chars,
         CAST(sum(nw) AS BIGINT) AS n_ws_tokens,
         CAST(sum(nb) AS BIGINT) AS n_bpe_tokens
  FROM staged GROUP BY lang)
SELECT lang, n_docs, n_chars, n_ws_tokens, n_bpe_tokens,
       floor(n_bpe_tokens * 100.0 / n_chars * 1000000 + 0.5)
         / 1000000.0 AS bpe_per_100_chars,
       floor(n_bpe_tokens / CAST(n_ws_tokens AS DOUBLE) * 1000000 + 0.5)
         / 1000000.0 AS bpe_per_ws
FROM agg ORDER BY lang"""


# Unigram-LM segmentation vocabulary: multi-char pieces with integer
# costs 30 + 40*len (len-2 piece 110 beats 2 single chars at 200), and
# an implicit any-single-char fallback at UNIGRAM_CHAR_COST so every
# word is segmentable. Integer costs keep the DP engine-exact.
UNIGRAM_CHAR_COST = 100
UNIGRAM_PIECES: dict[str, int] = {
    p: 30 + 40 * len(p)
    for p in (
        "que", "ry", "scan", "tab", "le", "ble", "row", "sort", "join",
        "hash", "val", "ue", "ta", "er", "st", "ream", "win", "dow",
        "col", "umn", "fil", "ter", "mer", "ge", "ba", "tch", "gr", "oup",
    )
}


def _viterbi_state(term: str, pieces: dict[str, int]) -> int:
    """Min combined state ``cost*1000 + n_pieces`` for segmenting
    ``term`` over ``pieces`` + the single-char fallback — the shared
    integer DP under :func:`unigram_segment` and
    :func:`vocab_prune_impact` (identical cost model to the oracle's
    exhaustive path enumeration)."""
    n = len(term)
    max_len = max((len(p) for p in pieces), default=1)
    big = (UNIGRAM_CHAR_COST * n + 1) * 1000
    state = [big] * (n + 1)
    state[0] = 0
    for j in range(1, n + 1):
        best = state[j - 1] + UNIGRAM_CHAR_COST * 1000 + 1
        lo = max(0, j - max_len)
        # range(lo, j), not range(lo, j - 1): i = j-1 is the
        # length-1 window, which must ALSO consult the piece table —
        # a 1-char vocabulary piece cheaper than the fallback is a
        # legal transition the oracle's enumeration takes
        for i in range(lo, j):
            c = pieces.get(term[i:j])
            if c is not None:
                cand = state[i] + c * 1000 + 1
                if cand < best:
                    best = cand
        state[j] = best
    return state[n]


def unigram_segment(
    docs: DataFrame, piece_costs: dict[str, int] | None = None
) -> DataFrame:
    """SentencePiece-style unigram segmentation as a distributed DP —
    the Viterbi decode of ``word -> min-cost piece sequence`` over an
    integer-cost piece vocabulary, run per word TYPE (the distinct
    terms), which is how a tokenizer team audits segmentation cost and
    compression before committing a vocab.

    Engine shape: this is the module's Arrow escape hatch used the way
    SURVEY §2.11 prescribes — the recurrence over char positions is
    genuinely sequential per word, so it runs as a ``mapInPandas``
    generator (per-word DP is O(len·|pieces|) integer math; the piece
    dict is a plan literal in the closure), while word types arrive by
    an ordinary explode+distinct shuffle and stay distributed. No
    collect, no driver loop; cost model identical to the DuckDB
    oracle, which certifies the same optimum by exhaustive
    recursive-CTE path enumeration (affordable at gate scale; the
    point is two INDEPENDENT algorithms agreeing bit-for-bit on the
    optimum).

    Tie-break: the DP minimizes the combined state ``cost·1000 +
    n_pieces`` (piece counts < 1000 by construction), i.e. min cost
    first, then fewest pieces — a total order, no float anywhere.
    Returns ``(term, n_chars, cost, n_pieces)``.
    """
    import pandas as pd

    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .where(F.length("term") > 0)
        .distinct()
    )
    pieces = dict(UNIGRAM_PIECES if piece_costs is None else piece_costs)

    def _segment_batches(batches):
        for pdf in batches:
            out = []
            for term in pdf["term"]:
                st = _viterbi_state(term, pieces)
                out.append((term, len(term), st // 1000, st % 1000))
            yield pd.DataFrame(
                out, columns=["term", "n_chars", "cost", "n_pieces"]
            )

    return words.mapInPandas(
        _segment_batches,
        schema="term string, n_chars int, cost long, n_pieces long",
    ).orderBy("term")


def _piece_rows(pieces: dict[str, int]) -> str:
    return ", ".join(f"('{p}', {c})" for p, c in sorted(pieces.items()))


def _unigram_oracle() -> str:
    piece_rows = _piece_rows(UNIGRAM_PIECES)
    return f"""
WITH RECURSIVE pieces(p, c) AS (SELECT * FROM (VALUES {piece_rows})),
words AS (
  SELECT DISTINCT term FROM (
    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE length(term) > 0),
paths(term, pos, cost, np) AS (
  SELECT term, 0, 0, 0 FROM words
  UNION ALL
  SELECT * FROM (
    SELECT term, pos + 1, cost + {UNIGRAM_CHAR_COST}, np + 1
    FROM paths WHERE pos < length(term)
    UNION ALL
    SELECT pa.term, pa.pos + length(pc.p), pa.cost + pc.c, pa.np + 1
    FROM paths pa JOIN pieces pc
      ON substr(pa.term, pa.pos + 1, length(pc.p)) = pc.p
    WHERE pa.pos + length(pc.p) <= length(pa.term)))
SELECT term, CAST(length(term) AS INTEGER) AS n_chars,
       CAST(min(cost * 1000 + np) // 1000 AS BIGINT) AS cost,
       CAST(min(cost * 1000 + np) % 1000 AS BIGINT) AS n_pieces
FROM paths WHERE pos = length(term)
GROUP BY term ORDER BY term"""


ORACLE_UNIGRAM = _unigram_oracle()


# Hashing-trick linear quality model: tokens hash into QC_BUCKETS
# feature buckets (the fastText/CCNet trick — no vocabulary table);
# bucket weights are a FIXED affine-generated literal in [-1000, 1000]
# standing in for shipped trained weights. The engine part under
# certification is the featurize->lookup->dot-product->threshold
# dataflow; swapping real weights = replacing the weight expression
# with a broadcast (bucket, weight) table, nothing else moves.
QC_BUCKETS = 1024
QC_WMUL, QC_WADD = 48271, 557  # weight generator (mod HASH_P, then +-1000)
QC_THRESHOLD = 0


def quality_classifier(docs: DataFrame) -> DataFrame:
    """fastText-style linear quality scorer via the hashing trick —
    the model-based filter tier above the rule-based ones
    (:func:`gopher_rules`, CCNet buckets): score = Σ_tokens
    w[hash(token) % B], label by sign. Every step is integer: the
    31-bit polynomial token hash (the module's portable
    :func:`rolling_hash`), the bucket, the affine-generated weight,
    the per-doc sum — so the decision boundary cannot move with
    partitioning or engine.

    Scale: one explode + ONE map-combinable per-doc agg; weights are
    computed inline from the bucket id (pure codegen arithmetic — no
    weight table is ever joined, the hashing trick's whole point).
    Returns ``(doc_id, n_tokens, score, label)``.
    """
    b = rolling_hash(F.col("w")) % QC_BUCKETS
    wgt = ((b * QC_WMUL + QC_WADD) % HASH_P) % 2001 - 1000
    tok = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).where(F.length("w") > 0)
    return (
        tok.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(wgt).alias("score"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "score",
            F.when(F.col("score") >= QC_THRESHOLD, F.lit("keep"))
            .otherwise(F.lit("cut"))
            .alias("label"),
        )
        .orderBy("doc_id")
    )


def _qc_oracle() -> str:
    from query_refinement_dsit_databases_2021_spark.operators.pipelines import (
        _sql_rolling_hash,
    )

    h = _sql_rolling_hash("w")
    return f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
scored AS (
  SELECT doc_id,
         (({h} % {QC_BUCKETS}) * {QC_WMUL} + {QC_WADD})
           % {HASH_P} % 2001 - 1000 AS wgt
  FROM tok WHERE length(w) > 0)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(wgt) AS BIGINT) AS score,
       CASE WHEN sum(wgt) >= {QC_THRESHOLD} THEN 'keep'
            ELSE 'cut' END AS label
FROM scored GROUP BY doc_id ORDER BY doc_id"""


# T5-style span corruption plan: 15% noise density, deterministic
# per-(doc, pos) mask decisions from the portable affine hash so the
# corruption plan is reproducible across runs, engines, partitionings.
SPAN_NOISE_PPM = 150_000
SPAN_MUL, SPAN_ADD = 1103515245, 12345
# exact integer threshold (floor((ppm * P) / 1e6)) precomputed so
# neither engine does a float division at the decision boundary
SPAN_THRESH = (SPAN_NOISE_PPM * 2_147_483_647) // 1_000_000


def span_corruption_plan(docs: DataFrame) -> DataFrame:
    """Span-corruption planning (T5 denoising): decide WHICH token
    positions mask deterministically — ``(pos_key·MUL + ADD) mod P``
    under the 15% density threshold — then group consecutive masked
    positions into spans with the gaps-and-islands idiom (pos −
    dense_rank over masked positions is constant within a run). A
    trainer consumes the plan as (doc, span) rows; here the audit
    aggregates it per doc.

    Everything is integer arithmetic + two windows over per-doc
    partitions; the mask key folds (doc_id, pos) so each position
    draws independently. Returns ``(doc_id, n_tokens, n_masked,
    n_spans, mean_span_len_ppm)``.
    """
    tok = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "w")
    ).where(F.length("w") > 0)
    # reduce the fold key mod P BEFORE the multiply: doc_id*1e5 + pos
    # times MUL must stay under 2^63 at any doc_id domain
    key = ((F.col("doc_id") * 100_000 + F.col("pos")) % HASH_P).cast("long")
    draw = (key * SPAN_MUL + F.lit(SPAN_ADD)) % HASH_P
    masked = tok.select(
        "doc_id",
        "pos",
        (draw < SPAN_THRESH).cast("int").alias("m"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    runs = masked.where(F.col("m") == 1).select(
        "doc_id",
        "pos",
        (F.col("pos") - F.row_number().over(wd)).alias("run_key"),
    )
    spans = runs.groupBy("doc_id", "run_key").agg(
        F.count(F.lit(1)).alias("span_len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").alias("n_masked"),
    )
    totals = masked.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        totals.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("n_masked"), F.lit(0)).alias("n_masked"),
            F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
            F.when(
                F.col("n_spans").isNotNull(),
                F.floor(
                    F.col("n_masked") * F.lit(1_000_000) / F.col("n_spans")
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mean_span_len_ppm"),
        )
        .orderBy("doc_id")
    )


ORACLE_SPAN_CORRUPTION = f"""
WITH tok AS (
  SELECT doc_id, i - 1 AS pos, ws[i] AS w
  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       unnest(range(1, len(ws) + 1)) u(i)
  WHERE length(ws[i]) > 0),
masked AS (
  SELECT doc_id, pos,
         CASE WHEN (((doc_id * 100000 + pos) % {HASH_P}) * {SPAN_MUL}
                    + {SPAN_ADD}) % {HASH_P} < {SPAN_THRESH}
              THEN 1 ELSE 0 END AS m
  FROM tok),
runs AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
           AS run_key
  FROM masked WHERE m = 1),
spans AS (
  SELECT doc_id, run_key, count(*) AS span_len
  FROM runs GROUP BY doc_id, run_key),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(span_len) AS BIGINT) AS n_masked
  FROM spans GROUP BY doc_id),
totals AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
  FROM masked GROUP BY doc_id)
SELECT t.doc_id, t.n_tokens,
       coalesce(p.n_masked, 0) AS n_masked,
       coalesce(p.n_spans, 0) AS n_spans,
       CAST(CASE WHEN p.n_spans IS NOT NULL
                 THEN floor(p.n_masked * 1000000.0 / p.n_spans)
                 ELSE 0 END AS BIGINT) AS mean_span_len_ppm
FROM totals t LEFT JOIN per_doc p USING (doc_id)
ORDER BY t.doc_id"""


# pruned vocabulary: short (2-char) pieces dropped — the candidate a
# tokenizer team evaluates when shrinking a vocab; the audit below
# measures exactly what that pruning costs
UNIGRAM_PIECES_PRUNED: dict[str, int] = {
    p: c for p, c in UNIGRAM_PIECES.items() if len(p) >= 3
}


def vocab_prune_impact(docs: DataFrame) -> DataFrame:
    """Vocab-pruning impact audit: re-segment every word type under
    the FULL piece vocabulary and under the PRUNED one (2-char pieces
    dropped) and report the per-word cost/piece-count deltas — the
    number that decides whether a smaller tokenizer vocabulary is
    worth the longer sequences it produces. Pruning can only remove
    options, so ``delta_cost >= 0`` ALWAYS (pinned in tests — a
    negative delta would mean the DP is broken).

    Both decodes run in the SAME Arrow batch pass (one shuffle total);
    the oracle runs its exhaustive path enumeration twice, once per
    vocab, and joins — four independent optimality certificates per
    word. Returns ``(term, cost_full, pieces_full, cost_pruned,
    pieces_pruned, delta_cost)``.
    """
    import pandas as pd

    words = (
        docs.select(F.explode(tokens(F.col("text"))).alias("term"))
        .where(F.length("term") > 0)
        .distinct()
    )
    full = dict(UNIGRAM_PIECES)
    pruned = dict(UNIGRAM_PIECES_PRUNED)

    def _impact_batches(batches):
        for pdf in batches:
            out = []
            for term in pdf["term"]:
                sf_ = _viterbi_state(term, full)
                sp_ = _viterbi_state(term, pruned)
                out.append(
                    (
                        term,
                        sf_ // 1000,
                        sf_ % 1000,
                        sp_ // 1000,
                        sp_ % 1000,
                        sp_ // 1000 - sf_ // 1000,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "term",
                    "cost_full",
                    "pieces_full",
                    "cost_pruned",
                    "pieces_pruned",
                    "delta_cost",
                ],
            )

    return words.mapInPandas(
        _impact_batches,
        schema=(
            "term string, cost_full long, pieces_full long, "
            "cost_pruned long, pieces_pruned long, delta_cost long"
        ),
    ).orderBy("term")


def _vocab_prune_oracle() -> str:
    def paths(tag: str, pieces: dict[str, int]) -> str:
        return f"""
p_{tag}(p, c) AS (SELECT * FROM (VALUES {_piece_rows(pieces)})),
paths_{tag}(term, pos, cost, np) AS (
  SELECT term, 0, 0, 0 FROM words
  UNION ALL
  SELECT * FROM (
    SELECT term, pos + 1, cost + {UNIGRAM_CHAR_COST}, np + 1
    FROM paths_{tag} WHERE pos < length(term)
    UNION ALL
    SELECT pa.term, pa.pos + length(pc.p), pa.cost + pc.c, pa.np + 1
    FROM paths_{tag} pa JOIN p_{tag} pc
      ON substr(pa.term, pa.pos + 1, length(pc.p)) = pc.p
    WHERE pa.pos + length(pc.p) <= length(pa.term))),
best_{tag} AS (
  SELECT term,
         CAST(min(cost * 1000 + np) // 1000 AS BIGINT) AS cost_{tag},
         CAST(min(cost * 1000 + np) % 1000 AS BIGINT) AS pieces_{tag}
  FROM paths_{tag} WHERE pos = length(term) GROUP BY term)"""

    return f"""
WITH RECURSIVE words AS (
  SELECT DISTINCT term FROM (
    SELECT unnest(string_split(text, ' ')) AS term FROM documents)
  WHERE length(term) > 0),{paths("full", UNIGRAM_PIECES)},{paths("pruned", UNIGRAM_PIECES_PRUNED)}
SELECT f.term, f.cost_full, f.pieces_full,
       p.cost_pruned, p.pieces_pruned,
       CAST(p.cost_pruned - f.cost_full AS BIGINT) AS delta_cost
FROM best_full f JOIN best_pruned p USING (term)
ORDER BY f.term"""


ORACLE_VOCAB_PRUNE = _vocab_prune_oracle()


def eval_ngram_precision(docs: DataFrame) -> DataFrame:
    """Soft decontamination score — BLEU-style CLIPPED n-gram
    precision of each held-out document against the training split:
    for eval doc e, ``p_n = Σ_g min(tf_e(g), max-train-tf(g)) /
    Σ_g tf_e(g)``. The hard decontamination pass
    (:func:`~.dedup.decontaminate`) answers "is this eval doc
    leaked?"; this answers "HOW MUCH of it is already in train" — the
    graded readout an eval-integrity report wants. Splits follow the
    repo convention (``doc_id % 10 >= 8`` = held-out).

    All counts are integers; each precision is one floor division to
    ppm. Clipping uses BLEU's max-reference-count rule (max tf of the
    gram over train docs), so repeating a common word cannot score
    above its real train support.

    Scale: train gram stats are one explode + (gram) groupBy — the
    standing vocabulary artifact; eval side joins it by gram
    (broadcast once the vocab is bounded; equi-join otherwise). No
    doc×doc pairing anywhere — cost is linear in corpus tokens.
    Returns ``(doc_id, n_unigrams, p1_ppm, n_bigrams, p2_ppm)``.
    """
    is_eval = F.col("doc_id") % 10 >= 8

    def grams(df, k):
        ws = tokens(F.col("text"))
        g = F.explode(gram_array(ws, k)).alias("g")
        return df.select("doc_id", g)

    out = None
    for k, tag in ((1, "1"), (2, "2")):
        train_tf = (
            grams(docs.where(~is_eval), k)
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("tf"))
            .groupBy("g")
            .agg(F.max("tf").alias("ref_tf"))
        )
        ev = (
            grams(docs.where(is_eval), k)
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        scored = (
            ev.join(train_tf, "g", "left")
            .groupBy("doc_id")
            .agg(
                F.sum("tf").alias(f"n_{tag}"),
                F.sum(
                    F.least(F.col("tf"), F.coalesce(F.col("ref_tf"), F.lit(0)))
                ).alias("_clip"),
            )
            .select(
                "doc_id",
                F.col(f"n_{tag}"),
                F.expr(f"_clip * 1000000 div n_{tag}").alias(f"p{tag}_ppm"),
            )
        )
        out = scored if out is None else out.join(scored, "doc_id", "left")
    return out.select(
        "doc_id",
        F.col("n_1").alias("n_unigrams"),
        "p1_ppm",
        F.coalesce(F.col("n_2"), F.lit(0)).alias("n_bigrams"),
        F.coalesce(F.col("p2_ppm"), F.lit(0)).alias("p2_ppm"),
    ).orderBy("doc_id")


def _eval_precision_oracle() -> str:
    def block(k, tag):
        if k == 1:
            gr = "SELECT doc_id, unnest(string_split(text, ' ')) AS g"
            src_t = "FROM documents WHERE doc_id % 10 < 8"
            src_e = "FROM documents WHERE doc_id % 10 >= 8"
            g_t = f"g_t{tag} AS ({gr} {src_t})"
            g_e = f"g_e{tag} AS ({gr} {src_e})"
        else:
            mk = (
                "SELECT doc_id, ws[i] || '|' || ws[i + 1] AS g "
                "FROM (SELECT doc_id, string_split(text, ' ') AS ws {src}), "
                "unnest(range(1, greatest(len(ws) - 1, 0) + 1)) u(i)"
            )
            g_t = f"g_t{tag} AS ({mk.format(src='FROM documents WHERE doc_id % 10 < 8')})"
            g_e = f"g_e{tag} AS ({mk.format(src='FROM documents WHERE doc_id % 10 >= 8')})"
        return f"""{g_t},
{g_e},
ref{tag} AS (
  SELECT g, max(tf) AS ref_tf FROM (
    SELECT doc_id, g, count(*) AS tf FROM g_t{tag} GROUP BY 1, 2)
  GROUP BY g),
ev{tag} AS (
  SELECT doc_id, g, count(*) AS tf FROM g_e{tag} GROUP BY 1, 2),
p{tag} AS (
  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_{tag},
         CAST(sum(least(tf, coalesce(ref_tf, 0))) * 1000000
              // sum(tf) AS BIGINT) AS p{tag}_ppm
  FROM ev{tag} LEFT JOIN ref{tag} USING (g) GROUP BY doc_id)"""

    return f"""
WITH {block(1, "1")},
{block(2, "2")}
SELECT p1.doc_id, p1.n_1 AS n_unigrams, p1.p1_ppm,
       coalesce(p2.n_2, 0) AS n_bigrams,
       coalesce(p2.p2_ppm, 0) AS p2_ppm
FROM p1 LEFT JOIN p2 USING (doc_id)
ORDER BY p1.doc_id"""


ORACLE_EVAL_PRECISION = _eval_precision_oracle()


def index_delta_merge(docs: DataFrame) -> DataFrame:
    """Incremental search-index maintenance — the MV-maintenance
    invariant (`cdc.mv_join_delta`) applied to the lexical index: the
    STANDING term statistics (built once over the base split) merge
    with a NEW SHARD's statistics by pure monoid addition (tf and df
    are both sums over disjoint doc sets), and the merge must equal a
    from-scratch rebuild over the union. The oracle RECOMPUTES from
    scratch, so equality certifies the maintenance invariant itself —
    ingesting a shard into a 100 TB index costs one shard-sized pass,
    never a corpus rebuild.

    Splits follow the repo convention (``doc_id % 10 >= 8`` = the
    arriving shard). Returns ``(term, tf, df, shard_tf)`` — merged
    totals plus the shard's own contribution for audit.
    """
    is_shard = F.col("doc_id") % 10 >= 8

    def stats(df):
        return (
            df.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
            .groupBy("term")
            .agg(
                F.count(F.lit(1)).alias("tf"),
                F.countDistinct("doc_id").alias("df"),
            )
        )

    base = stats(docs.where(~is_shard))
    shard = stats(docs.where(is_shard))
    merged = (
        base.select("term", "tf", "df", F.lit(0).cast("long").alias("stf"))
        .unionByName(
            shard.select(
                "term", "tf", "df", F.col("tf").cast("long").alias("stf")
            )
        )
        .groupBy("term")
        .agg(
            F.sum("tf").alias("tf"),
            F.sum("df").alias("df"),
            F.sum("stf").alias("shard_tf"),
        )
    )
    return merged.orderBy("term")


# the oracle rebuilds from scratch over the WHOLE corpus — equality
# with the monoid merge above IS the maintenance invariant
ORACLE_INDEX_MERGE = """
WITH full_stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS tf,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents)
  GROUP BY term),
shard_stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS stf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents WHERE doc_id % 10 >= 8)
  GROUP BY term)
SELECT f.term, f.tf, f.df, coalesce(s.stf, 0) AS shard_tf
FROM full_stats f LEFT JOIN shard_stats s USING (term)
ORDER BY f.term"""


CTFIDF_TOP_N = 5


def class_tfidf_terms(
    docs: DataFrame, class_col: str = "source", top_n: int = CTFIDF_TOP_N
) -> DataFrame:
    """Class-based TF-IDF (the c-TF-IDF readout BERTopic popularized:
    what characterizes THIS class of documents against the rest) in a
    log-free all-integer form, since ``ln`` is not bit-portable across
    engines (the DSIR linearization precedent): per class c and term t,

        ``score_ppm = ((1e6·tf_{t,c}) div tok_c) · n_classes div cf_t``

    — the term's share of the class's token mass, boosted by class
    rarity (cf = number of classes containing t). The NESTED floor-div
    form is the overflow contract shared with ``association_rules``:
    every intermediate stays ≤ 1e6·n_classes, inside int64 at any
    corpus size. Ties rank by (score DESC, tf DESC, term ASC) — total.

    Plan: two map-combinable token aggregations (per-(class, term),
    per-class), one vocabulary-sized class-frequency agg, key-joins
    only, the class count a broadcast scalar. Returns the top-n terms
    per class: ``(cls, rnk, term, tf, score_ppm)``.
    """
    toks = docs.select(
        F.col(class_col).alias("cls"),
        F.explode(tokens(F.col("text"))).alias("term"),
    ).where(F.length("term") > 0)
    tf = toks.groupBy("cls", "term").agg(F.count(F.lit(1)).alias("tf"))
    tokc = toks.groupBy("cls").agg(F.count(F.lit(1)).alias("tok_c"))
    cf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("cf"))
    ncls = toks.select(F.countDistinct("cls").cast("long").alias("n_classes"))
    scored = (
        tf.join(tokc, "cls")
        .join(cf, "term")
        .crossJoin(F.broadcast(ncls))
        .select(
            "cls",
            "term",
            "tf",
            F.expr(
                "(((1000000 * tf) div tok_c) * n_classes) div cf"
            ).alias("score_ppm"),
        )
    )
    w = Window.partitionBy("cls").orderBy(
        F.desc("score_ppm"), F.desc("tf"), F.asc("term")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= int(top_n))
        .select("cls", "rnk", "term", "tf", "score_ppm")
        .orderBy("cls", "rnk")
    )


def _ctfidf_oracle(relation: str = "documents", prelude: str = "") -> str:
    """The c-TF-IDF oracle over ``relation`` (a table or CTE name);
    ``prelude`` injects upstream CTEs so chains can recompose this
    certified stage over a curated corpus."""
    sep = prelude + (",\n" if prelude else "")
    return f"""
WITH {sep}toks AS (
  SELECT source AS cls, t AS term
  FROM (SELECT source, unnest(string_split(text, ' ')) AS t FROM {relation})
  WHERE t <> ''),
tf AS (SELECT cls, term, CAST(count(*) AS BIGINT) AS tf
       FROM toks GROUP BY 1, 2),
tokc AS (SELECT cls, CAST(count(*) AS BIGINT) AS tok_c
         FROM toks GROUP BY 1),
cf AS (SELECT term, CAST(count(*) AS BIGINT) AS cf FROM tf GROUP BY 1),
ncls AS (SELECT CAST(count(DISTINCT cls) AS BIGINT) AS n_classes FROM toks),
scored AS (
  SELECT tf.cls, tf.term, tf.tf,
         CAST((((1000000 * tf.tf) // tokc.tok_c) * n_classes) // cf.cf
              AS BIGINT) AS score_ppm
  FROM tf JOIN tokc USING (cls) JOIN cf USING (term), ncls)
SELECT cls, rnk, term, tf, score_ppm FROM (
  SELECT cls, term, tf, score_ppm,
         row_number() OVER (PARTITION BY cls
             ORDER BY score_ppm DESC, tf DESC, term)::BIGINT AS rnk
  FROM scored)
WHERE rnk <= {CTFIDF_TOP_N} ORDER BY cls, rnk"""


ORACLE_CTFIDF = _ctfidf_oracle()


def simpson_diversity(docs: DataFrame) -> DataFrame:
    """Per-document lexical diversity as the Simpson/Rényi-2
    collision index — the LOG-FREE diversity measure (Shannon entropy
    needs ``ln``, which is not bit-portable): the probability two
    token draws without replacement collide,

        ``simpson_ppm = 1e6 · Σ c_i·(c_i−1) div (n·(n−1))``

    over per-doc token counts c_i. 0 = all tokens distinct, 1e6 = one
    token repeated throughout; the complement is the Gini-Simpson
    diversity. Pure integer arithmetic (c·(c−1) products and ONE floor
    div), everything partitioned by doc_id — two map-combinable aggs,
    no cross-doc traffic. Single-token docs report NULL (undefined).

    Returns ``(doc_id, n_tokens, n_types, simpson_ppm)``.
    """
    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("t")
    ).where(F.length("t") > 0)
    per = toks.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("c"))
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.sum(F.expr("c * (c - 1)")).alias("coll"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_types",
            F.when(
                F.col("n_tokens") >= 2,
                F.expr("(1000000 * coll) div (n_tokens * (n_tokens - 1))"),
            ).alias("simpson_ppm"),
        )
        .orderBy("doc_id")
    )


ORACLE_SIMPSON = """
WITH toks AS (
  SELECT doc_id, t FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> ''),
per AS (SELECT doc_id, t, CAST(count(*) AS BIGINT) AS c
        FROM toks GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_types,
       CASE WHEN sum(c) >= 2 THEN
         CAST((1000000 * sum(c * (c - 1)))
              // (sum(c) * (sum(c) - 1)) AS BIGINT)
       END AS simpson_ppm
FROM per GROUP BY doc_id ORDER BY doc_id"""


ZIPF_TOP_N = 100


def zipf_fit(docs: DataFrame, top_n: int = ZIPF_TOP_N) -> DataFrame:
    """Zipf's-law fit of the corpus token-frequency distribution —
    the one-number corpus-health check (natural text fits
    ``freq ∝ rank^s`` with s ≈ −1; templated/machine-generated or
    over-deduplicated corpora drift toward flatter or steeper slopes,
    and a broken tokenizer shows up as a collapsed r²).

    OLS of ``ln(freq)`` on ``ln(rank)`` over the ``top_n``
    most-frequent tokens (ranked count desc, token asc — a total
    order, so both engines fit the identical point set). The corpus
    contributes ONE count groupBy; the ranked head is ``top_n`` rows
    (dim-sized) through an ordered LIMIT, never a global sort of the
    vocabulary, and the five OLS sums aggregate that head only.
    Slope/intercept/r² are rounded to 6 dp (the repo's float-idiom
    contract, same as :func:`lm_score`'s ln).

    Returns ONE row: ``(n_top, zipf_slope, intercept, r2)``.
    """
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("t")).where(
        F.length("t") > 0
    )
    cnt = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    head = (
        cnt.orderBy(F.desc("c"), F.asc("t"))
        .limit(top_n)
        .select("c")
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.desc("c"))
            ),
        )
    )
    xy = head.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
        F.sum(F.expr("y * y")).alias("syy"),
    )
    slope = F.expr("(n * sxy - sx * sy) / (n * sxx - sx * sx)")
    return s.select(
        F.col("n").cast("long").alias("n_top"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
        F.round(
            F.expr(
                "(n * sxy - sx * sy) * (n * sxy - sx * sy) "
                "/ ((n * sxx - sx * sx) * (n * syy - sy * sy))"
            ),
            6,
        ).alias("r2"),
    )


ORACLE_ZIPF = f"""
WITH toks AS (
  SELECT t FROM (
    SELECT unnest(string_split(text, ' ')) AS t FROM documents)
  WHERE t <> ''),
cnt AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY t),
head AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, t) AS r
  FROM cnt ORDER BY c DESC, t LIMIT {ZIPF_TOP_N}),
xy AS (SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
       FROM head),
s AS (SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      FROM xy)
SELECT n AS n_top,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6)
         AS intercept,
       round((n * sxy - sx * sy) * (n * sxy - sx * sy)
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM s"""
