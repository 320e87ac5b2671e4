"""Text-analysis operators for training-data pipelines over `documents`.

All hot-path expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage codegen); no Python UDFs. These are the target-side generalization
of the reference's config-driven column selection + scalar feature block
(SURVEY.md §2.9) to text corpora.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from al_drift_detection_spark.persist import scoped

# tiny per-language stopword sets for the n-gram/stopword language heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "was"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "ich"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "de", "que", "pas"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "de", "que", "no"],
    "zh": ["de5", "shi4", "bu4", "le5", "wo3", "ni3", "ta1", "zai4", "you3", "he2"],
}


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), r"\s+")


def token_count(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    return df.select(id_col, F.size(tokens(text_col)).alias("n_tokens"))


def bpe_ish_token_count(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Sub-word-ish token estimate: word-pieces + digits + punctuation as
    separate tokens (a BPE-flavored regex split, no tokenizer dependency)."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(r"(\p{L}{1,6}|\p{N}+|[^\s\p{L}\p{N}])"), 1)
    return df.select(id_col, F.size(pieces).alias("n_bpe_tokens"))


def quality_features(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword-ratio quality scoring (pure columns)."""
    t = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    punct = n_chars - F.length(F.regexp_replace(t, r"[.,!?;:]", ""))
    stop = F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])))
    return df.select(
        id_col,
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars / n_tokens, 4).alias("avg_token_len"),
        punct.alias("n_punct"),
        F.round(punct / n_chars, 6).alias("punct_ratio"),
        F.round(stop / n_tokens, 6).alias("stopword_ratio"),
    )


def repetition_ratio(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token-repetition quality signal (the Gopher-rules 'repetition' family,
    published in Rae et al. 2021 §A1.1): repetition = 1 − distinct/total
    tokens. Templated/boilerplate/spam documents score high; normal prose
    low. Pure JVM array functions — no shuffle beyond the scan."""
    toks = tokens(text_col)
    n = F.size(toks)
    d = F.size(F.array_distinct(toks))
    return df.select(
        id_col,
        n.alias("n_tokens"),
        d.alias("n_distinct"),
        F.round(F.when(n > 0, 1.0 - d / n).otherwise(0.0), 6).alias("repetition_ratio"),
    )


# conservative patterns that parse identically under Java regex (Spark) and
# RE2 (DuckDB) — no backrefs, no lookaround, no \p classes
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
}


def pii_scan(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document PII indicator counts (emails / IPv4 / NANP-style phone
    numbers) — the redaction-triage scan every training-corpus pipeline runs
    before release. Counts only (no extraction into output — the matched
    strings themselves are the sensitive part). regexp_extract_all is
    JVM-side codegen; one scan, no shuffle."""
    cols = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(p), 0)).alias(f"n_{name}")
        for name, p in PII_PATTERNS.items()
    ]
    out = df.select(id_col, *cols)
    total = sum(F.col(f"n_{name}") for name in PII_PATTERNS)
    return out.withColumn("has_pii", (total > 0).cast("boolean"))


def quality_gate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 10,
    max_tokens: int = 100_000,
    min_avg_token_len: float = 2.0,
    max_avg_token_len: float = 12.0,
    min_stopword_ratio: float = 0.0,
    max_repetition: float = 0.5,
) -> DataFrame:
    """Composite keep/drop gate over the scalar quality signals (the
    Gopher-style document filter: token-count window, mean-word-length
    window, stopword floor, repetition ceiling). Emits the per-rule booleans
    plus the conjunction so a pipeline can both filter (`keep`) and audit
    WHY a document dropped — single scan, all JVM columns. All signals are
    computed in ONE projection (not a join of quality_features with
    repetition_ratio — both derive from the same tokenization, and a join of
    two derivations of the same scan is a gratuitous shuffle + double read,
    the tfidf-double-scan review class)."""
    t = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    stop = F.size(
        F.array_intersect(toks, F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]]))
    )
    j = df.select(
        id_col,
        n_tokens.alias("n_tokens"),
        F.round(n_chars / n_tokens, 4).alias("avg_token_len"),
        F.round(stop / n_tokens, 6).alias("stopword_ratio"),
        F.round(
            F.when(n_tokens > 0, 1.0 - n_distinct / n_tokens).otherwise(0.0), 6
        ).alias("repetition_ratio"),
    )
    rules = {
        "ok_token_count": (F.col("n_tokens") >= min_tokens)
        & (F.col("n_tokens") <= max_tokens),
        "ok_avg_token_len": (F.col("avg_token_len") >= min_avg_token_len)
        & (F.col("avg_token_len") <= max_avg_token_len),
        "ok_stopwords": F.col("stopword_ratio") >= min_stopword_ratio,
        "ok_repetition": F.col("repetition_ratio") <= max_repetition,
    }
    out = j.select(
        id_col, "n_tokens", "avg_token_len", "stopword_ratio", "repetition_ratio",
        *[c.alias(nme) for nme, c in rules.items()],
    )
    keep = F.lit(True)
    for nme in rules:
        keep = keep & F.col(nme)
    return out.withColumn("keep", keep)


def langid(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-overlap language heuristic: score = |tokens ∩ stopwords_lang|
    per language, argmax wins ('und' = undetermined on all-zero).

    Pure built-in array functions — the scoring is a static when/greatest
    cascade, no UDF, no shuffle beyond the scan.
    """
    toks = tokens(text_col)
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_STOPWORDS.items()
    }
    out = df.select(id_col, *[s.alias(f"score_{g}") for g, s in scores.items()])
    best = F.greatest(*[F.col(f"score_{g}") for g in LANG_STOPWORDS])
    pred = F.lit("und")  # first language reaching the max wins (stable order)
    for lang in reversed(list(LANG_STOPWORDS)):
        pred = F.when((F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return out.select(id_col, pred.alias("lang_pred"))


def shingle_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """Word n-gram shingles as exploded rows (id, g), DISTINCT by default.

    Assembled PER ROW from shifted slices of the token array —
    arrays_zip(slice(toks, 1, m), slice(toks, 2, m), ...) then one
    transform lambda concatenating the NAMED zip fields — so shingling is
    a pure projection: no shuffle, no sort (r8; the previous form
    posexploded every token and re-assembled n-grams with lead() windows,
    an Exchange + per-doc sort of EVERY token row — measured 1.6 s of
    q_minhash_lsh_pairs' 2.5 at the 10x scale, and strictly unnecessary:
    a document's tokens live in one row). Two array-lambda traps
    deliberately avoided (CLAUDE.md): the lambda reads only the zipped
    element — the tokenization is inlined once per SLICE (n× per row),
    never per element as an element_at(split(...)) lambda would be; and
    the zip inputs are ALIASED so fields bind by name, not positional
    "0"/"1".

    distinct=False skips the dedup shuffle for consumers that are invariant
    under shingle multiplicity (MinHash / min-fingerprint: min of hashes over
    a multiset equals min over its set) — one full exchange of the shingle
    rows saved. Jaccard set semantics (sizes/intersections) NEED distinct.

    The (id, text) projection is repartitioned BY ID first: one exchange
    of document rows — strictly fewer bytes than the token rows the old
    window shuffled — that (a) decouples pipeline width from the input's
    file-split count (a compact doc corpus is a handful of 128 MB splits;
    without it the whole shingle + downstream partial-agg pipeline ran in
     1-2 scan tasks once the window exchange was gone — measured 2.4 →
    6.0 s on q_minhash_lsh_pairs before this line) and (b) leaves the
    output hash(id)-clustered, so per-doc aggregates downstream (the
    MinHash signature agg) need no further exchange.
    """
    toks = tokens("_txt")
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    z = F.arrays_zip(
        *[F.slice(toks, k + 1, m).alias(f"p{k}") for k in range(n)]
    )
    g_arr = F.transform(
        z, lambda x: F.concat_ws(" ", *[x[f"p{k}"] for k in range(n)])
    )
    rows = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
        .repartition(F.col("id"))
        .select("id", F.explode(g_arr).alias("g"))
    )
    return rows.distinct() if distinct else rows


def shingled(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """(id, _sh array) — shingle rows re-collected per doc (compat helper;
    prefer shingle_rows for anything that explodes again downstream)."""
    return shingle_rows(df, text_col, id_col, n).groupBy("id").agg(
        F.collect_list("g").alias("_sh")
    )


def contamination_flags(
    df: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_text_col: str = "text",
    bench_id_col: str = "doc_id",
    n: int = 3,
    min_hits: int = 1,
    broadcast_benchmark: bool = True,
) -> DataFrame:
    """Benchmark-decontamination scan: flag corpus documents sharing ≥min_hits
    DISTINCT word n-grams with an evaluation/benchmark set — the standard
    train/test-leakage gate a corpus pipeline runs before a model sees the
    data (n-gram-overlap decontamination as published for GPT-3 §C /
    Llama-2 A.6).

    Scale shape: the benchmark side collapses to a distinct shingle SET and
    is broadcast (a benchmark is bounded by contract — eval suites are
    thousands of docs, not corpus-scale; pass broadcast_benchmark=False to
    let AQE decide if yours is unusually large). The corpus side reuses
    shingle_rows' explode (one doc-partitioned window shuffle), then ONE
    hash-join + per-doc count — the corpus never shuffles on the benchmark.
    Output: (id_col, n_contaminated_ngrams, contaminated) for EVERY corpus
    doc, including zero-shingle shorties (left join back on ids).
    """
    bench_sh = (
        shingle_rows(benchmark, bench_text_col, bench_id_col, n).select("g").distinct()
    )
    if broadcast_benchmark:
        bench_sh = F.broadcast(bench_sh)
    corp_sh = shingle_rows(df, text_col, id_col, n)  # distinct: hits = set overlap
    hits = corp_sh.join(bench_sh, "g").groupBy("id").agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    ids = df.select(F.col(id_col).alias("id"))
    return ids.join(hits, "id", "left").select(
        F.col("id").alias(id_col),
        F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_contaminated_ngrams"),
        (F.coalesce(F.col("n_hits"), F.lit(0)) >= min_hits).alias("contaminated"),
    )


def fingerprint(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprint: min of 64-bit hashes over word 3-gram shingles —
    a winnowing-style rolling-hash fingerprint using the built-in xxhash64.
    min() is multiplicity-invariant → the shingle dedup shuffle is skipped."""
    return (
        shingle_rows(df, text_col, id_col, distinct=False)
        .groupBy(F.col("id").alias(id_col))
        .agg(F.min(F.xxhash64("g")).alias("fingerprint"))
    )


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """WINNOWING document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every word k-gram, slide a window of w consecutive
    hashes over each document, and select each window's MINIMUM (rightmost
    position on ties — "robust winnowing", so a repeated shingle inside one
    window contributes one stable pick). The selected (pos, hash) set is the
    fingerprint, with the scheme's guarantee: any shared token run of length
    ≥ w + k − 1 between two documents yields at least one SHARED fingerprint
    — unlike fingerprint()'s single min-hash digest, matches survive
    reordering, prefix insertion, and partial overlap, and the fingerprint
    density is ~2/(w+1) of shingles regardless of document length.

    Relational shape (no UDF): the k-gram hash ARRAY assembles per row
    (shifted slices of the token array — the r8 shingle_rows pattern; the
    document's tokens live in one row, so no shuffle is needed to line
    them up), posexplodes to (id, pos, h) behind an id repartition of the
    doc rows, then ONE ordered window pass per document computes each
    window-start's min over a [0, w−1] row frame. The doc-row repartition
    is the only exchange — the window's required hash(id) clustering is
    already established, so it plans as a local sort (pre-r8: the k-gram
    assembly itself was a lead() window whose exchange moved every TOKEN
    row). The hash is md5 of
    the shingle text compared as its hex string: a deterministic total order
    an ANSI oracle reproduces bit-for-bit (xxhash64 has no DuckDB twin).
    Window starts are FULL windows only (pos ≤ S − w); a document with
    fewer than w shingles degenerates to its global minimum, so every
    tokenizable document keeps ≥ 1 fingerprint.

    Output: (doc_id, pos, fp) — pos is the selected shingle's position,
    fp its md5 hex. Oracle: q_winnow_fingerprints (full SQL twin);
    guarantee/tie/degenerate cases pinned in tests/test_winnowing.py.
    Reference scope: target-only LLM-pipeline operator (SURVEY §2 scope
    note), sibling of the MinHash/SimHash dedup family."""
    if k < 1 or w < 1:
        raise ValueError(f"need k >= 1 and w >= 1, got k={k}, w={w}")
    from pyspark.sql.window import Window

    toks = tokens("_txt")
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    z = F.arrays_zip(
        *[F.slice(toks, i + 1, m).alias(f"p{i}") for i in range(k)]
    )
    h_arr = F.transform(
        z, lambda x: F.md5(F.concat_ws(" ", *[x[f"p{i}"] for i in range(k)]))
    )
    sh = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("_txt"))
        .repartition(F.col("id"))
        .select("id", F.posexplode(h_arr).alias("pos", "h"))
    )
    frame = Window.partitionBy("id").orderBy("pos").rowsBetween(0, w - 1)
    sized = sh.withColumn("s", F.count(F.lit(1)).over(Window.partitionBy("id")))
    sel = sized.withColumn(
        # per window START: (min hash, rightmost position holding it) — the
        # struct min orders by (h asc, -pos asc) = ties → larger pos
        "_sel", F.min(F.struct(F.col("h").alias("mh"),
                               (-F.col("pos")).alias("np"))).over(frame),
    ).filter(
        (F.col("pos") <= F.col("s") - w) | ((F.col("s") < w) & (F.col("pos") == 0))
    )
    return (
        sel.select(
            F.col("id").alias(id_col),
            (-F.col("_sel.np")).cast("long").alias("pos"),
            F.col("_sel.mh").alias("fp"),
        )
        .distinct()
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k TF-IDF terms per document (the classic relevance/keyword
    operator a corpus pipeline runs before quality filtering or topic
    bucketing). Smooth IDF: tfidf = tf · (ln((1+N)/(1+df)) + 1).

    Scale shape: explode is linear; term frequencies aggregate with map-side
    combine on the high-cardinality (doc, term) key; document frequencies
    reduce the SAME aggregate again by term (no second scan of the corpus);
    the df join is shuffle-on-term (well distributed — hot terms are a
    single-row build side after the df agg, not a row explosion); top-k is a
    per-doc partitioned window. No global sort, no UDF, no driver state.

    Ties break on term (ascending) so the row_number rank is total and the
    result is deterministic / oracle-hashable.
    """
    from pyspark.sql.window import Window

    tok = df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
    # tf feeds BOTH the per-term document-frequency aggregate (broadcast
    # build side) and the scoring join probe side — a broadcast build cannot
    # reuse the probe's exchange, so without the persist the tokenize +
    # explode + tf aggregation (the dominant stage) executes twice (verified:
    # 2 Generate-explode nodes, 0 ReusedExchange). It lives in the caller's
    # persist scope.
    #
    # Keyed by id BEFORE the aggregate (r8): hash(id) satisfies the
    # (id, term) clustering the aggregate requires, so the agg's own
    # (id, term) exchange disappears (plan: HashAggregate pair directly
    # over the id repartition) AND — the measured point — the cached tf
    # keeps parallel id-clustered partitions, so the pre-window Sort +
    # WindowGroupLimit prune to <= k rows per doc IN PARALLEL before the
    # window's exchange. Phase-measured 10x-scale motivation: AQE
    # coalesced the old post-agg exchange to 1-2 partitions (~25 MB), so
    # join + sort + window ran single-task — 3.5 s of the query's 4.2;
    # repartition-by-col is AQE parallelism-first coalesced, keeping
    # width data-adaptive rather than advisory-size collapsed. Shuffle
    # bytes are ~unchanged (real corpora have tf ≈ 1 for most (doc, term)
    # pairs, so the pre-shuffle partial agg the old shape got was not
    # reducing anything).
    tf = scoped(
        tok.repartition(F.col("id"))
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .persist()
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # N enters as a LAZY one-row agg crossJoin-broadcast (the oracle's own
    # `CROSS JOIN n` shape) — an eager df.count() here would run a full
    # corpus job at plan-construction time, before any caller materializes
    n_docs = df.agg(F.count(F.lit(1)).alias("_n_docs"))
    idf = F.log((1.0 + F.col("_n_docs")) / (1.0 + F.col("df"))) + F.lit(1.0)
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col("id").alias(id_col),
            "term",
            F.round(F.col("tf") * idf, 4).alias("tfidf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    out = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(id_col, "term", "tfidf", "rk")
    )
    return out


def bigram_nll(
    df: DataFrame,
    ref_filter,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 512,
    alpha: float = 0.5,
) -> DataFrame:
    """Per-document negative log-likelihood under a reference-trained
    add-alpha bigram language model — the CCNet-style perplexity filter
    (Wenzek et al. 2020, public method) a training-data pipeline runs to
    rank documents by "does this read like the reference corpus":
    boilerplate, gibberish and wrong-language text all score high while
    quality_features' surface ratios stay clean. SURVEY.md §2.9 F8 (text
    family) scored against a TRAINED reference — the same
    reference-windows-then-score discipline as the drift kernels.

    Determinism rules: the vocabulary is the reference's top `vocab_size`
    tokens by count (ties by token) plus one "(unk)" catch-all — the
    bounded-universe rule, so a corrupted corpus bounds the model at
    (V+1)² cells instead of exploding it, and the smoothed probability
    P(b|a) = (c(a,b) + alpha) / (c(a·) + alpha·(V+1)) is defined for every
    pair including never-seen lefts (uniform 1/(V+1)).

    Scale shape: three aggregate scans — reference unigrams (vocab),
    reference bigrams (model counts; both frames bounded by the vocab
    rule and broadcast), and the scoring pass (pairs via two slice()
    projections + explode, two broadcast vocab joins, one broadcast
    model join, one groupBy(doc)); the model is O(observed vocab pairs)
    ≤ (V+1)² rows however large the reference. The vocab frame is
    consumed FOUR times (left+right mapping joins in both the model and
    scoring passes) and the ref bigram counts twice (model + left
    totals) — both persisted in the caller's persist scope (the
    shared-child rule: unpersisted, the raw
    explode+rank vocab pipeline would execute four times). Documents with fewer than
    2 tokens have no bigrams and are absent from the output (score only
    what the model defines). Output: (id_col, n_bigrams, nll, ppl) with
    nll = mean −ln P and ppl = exp(nll), both rounded 6dp/4dp.
    """
    UNK = "(unk)"
    toks = F.split(F.lower(F.trim(F.col(text_col))), r" ")
    base = df.select(
        F.col(id_col).alias("_id"), toks.alias("_t"), ref_filter.alias("_is_ref")
    )

    vocab = scoped(
        base.filter("_is_ref")
        .select(F.explode("_t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("_n"))
        .orderBy(F.col("_n").desc(), "tok")
        .limit(int(vocab_size))
        .select("tok")
        .persist()
    )
    n_vocab = F.lit(int(vocab_size) + 1)  # incl. (unk); fixed by construction

    def _pairs(frame: DataFrame) -> DataFrame:
        # name the slice columns BEFORE zipping — arrays_zip derives its
        # struct field names from the inputs, and unnamed expressions get
        # positional "0"/"1" names (version-fragile to rely on)
        p = (
            frame.select(
                "_id",
                F.expr("slice(_t, 1, size(_t) - 1)").alias("_l"),
                F.expr("slice(_t, 2, size(_t) - 1)").alias("_r"),
            )
            .select("_id", F.explode(F.arrays_zip("_l", "_r")).alias("_p"))
            .select(
                "_id", F.col("_p._l").alias("_a"), F.col("_p._r").alias("_b")
            )
        )
        va = vocab.select(F.col("tok").alias("_a"), F.lit(True).alias("_ka"))
        vb = vocab.select(F.col("tok").alias("_b"), F.lit(True).alias("_kb"))
        return (
            p.join(F.broadcast(va), "_a", "left")
            .join(F.broadcast(vb), "_b", "left")
            .select(
                "_id",
                F.when(F.col("_ka"), F.col("_a")).otherwise(UNK).alias("a"),
                F.when(F.col("_kb"), F.col("_b")).otherwise(UNK).alias("b"),
            )
        )

    ref_pairs = _pairs(base.filter("_is_ref"))
    cab = scoped(
        ref_pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("_cab"))
        .persist()
    )
    ca = cab.groupBy("a").agg(F.sum("_cab").alias("_ca"))
    # both sides are vocab-bounded, but the cached cab carries no size
    # stats — without the hint Spark sort-merge-joins two tiny frames
    model = cab.join(F.broadcast(ca), "a")
    prob_seen = (F.col("_cab") + F.lit(float(alpha))) / (
        F.col("_ca") + F.lit(float(alpha)) * n_vocab
    )
    prob = F.coalesce(
        prob_seen,
        # unseen (a, b): alpha / (c(a·) + alpha(V+1)); unseen left a:
        # c(a·) = 0 → uniform 1/(V+1)
        F.lit(float(alpha))
        / (F.coalesce("_ca2", F.lit(0)) + F.lit(float(alpha)) * n_vocab),
    )
    scored = (
        _pairs(base)
        .join(F.broadcast(model), ["a", "b"], "left")
        .join(
            F.broadcast(ca.select(F.col("a"), F.col("_ca").alias("_ca2"))),
            "a",
            "left",
        )
        .groupBy("_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.avg(-F.log(prob)).alias("_nll"),
        )
    )
    return scored.select(
        F.col("_id").alias(id_col),
        "n_bigrams",
        F.round("_nll", 6).alias("nll"),
        F.round(F.exp("_nll"), 4).alias("ppl"),
    )
