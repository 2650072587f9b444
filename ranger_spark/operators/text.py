"""Text-analysis operators for large-scale training-data pipelines.

All operators are pure Column expressions (JVM-side, whole-stage codegen —
no Python UDFs in any hot path), so they vectorize and scale linearly with
executors. Cross-engine-deterministic building blocks only (md5-based
hashing, regex limited to RE2-compatible patterns) so every operator has an
exact ANSI-SQL oracle.

The reference has no text operators (its scalar surface is
parser.go:5284-5755); these are the north-star extensions from
BASELINE.json.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword sets for the n-gram/stopword language-ID heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is", "to", "in", "it", "that", "this"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit", "zu"),
    "fr": ("le", "la", "et", "les", "des", "un", "une", "est", "que"),
    "es": ("el", "la", "los", "las", "y", "es", "un", "una", "que"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不", "人"),
}


def tokenize(col: Column) -> Column:
    """Whitespace tokenization (trim first so leading/trailing space doesn't
    produce empty tokens)."""
    return F.split(F.trim(col), r"\s+")


def token_count(col: Column) -> Column:
    """Whitespace token count, as int."""
    return F.size(tokenize(col))


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword proxy: count word pieces after splitting on
    whitespace AND transitions into digits/punctuation — a cheap,
    deterministic stand-in for a real tokenizer's piece count."""
    return F.size(F.split(F.trim(col), r"[\s\p{Punct}]+"))


def hash64(col: Column, seed: int | str = 0) -> Column:
    """Deterministic 60-bit hash via md5 (first 15 hex chars), identical in
    Spark (`conv`) and DuckDB (`'0x...'::BIGINT`). Used instead of
    xxhash64/murmur because those are engine-specific."""
    seeded = F.concat(F.lit(f"{seed}:"), col)
    return F.conv(F.substring(F.md5(seeded), 1, 15), 16, 10).cast("long")


def word_shingles(tokens: Column, k: int = 2) -> Column:
    """Distinct k-word shingles from a token array (k consecutive tokens
    joined by a single space)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(tokens) - (k - 1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(tokens, i + F.lit(j)) for j in range(k)]
            ),
        )
    )


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse non-alphanumerics to single spaces + trim —
    the canonical form used for fingerprinting and exact dedup."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text (the reference has
    no fingerprinting; this is the exact-dedup key for 100 TB pipelines —
    grouping by a 128-bit digest shuffles 16 bytes/doc, not the text)."""
    return F.md5(normalize_text(col))


def lang_id(tokens: Column) -> Column:
    """Stopword-vote language ID: the language whose stopword list hits the
    most tokens wins; ties and zero hits → 'und' (undetermined).
    Pure-expression argmax, deterministic tie-break by language order."""
    scores = {
        lang: F.size(F.filter(tokens, lambda t: t.isin(*words)))
        for lang, words in LANG_STOPWORDS.items()
    }
    best = F.greatest(*scores.values())
    result = F.lit("und")
    # reversed so the FIRST language in the dict wins ties
    for lang in reversed(list(scores)):
        result = F.when(
            (scores[lang] > 0) & (scores[lang] == best), F.lit(lang)
        ).otherwise(result)
    return result


def quality_metrics(col: Column, toks: Column | None = None) -> dict[str, Column]:
    """Quality-scoring signals: token stats, punctuation/digit/whitespace
    ratios, mean word length. Returns named Columns (caller aliases).

    Pass a *materialized* token-array column as ``toks`` when computing
    several metrics at once — the expressions reference the token array
    multiple times and Catalyst does not CSE repeated tokenize() chains."""
    toks = tokenize(col) if toks is None else toks
    n_chars = F.length(col)
    non_alnum = F.length(F.regexp_replace(col, "[a-z0-9 ]", ""))
    return {
        "n_chars_m": n_chars.cast("long"),
        "n_tokens": F.size(toks).cast("long"),
        "mean_word_len": (
            (n_chars - (F.size(toks) - 1)) / F.size(toks)
        ),
        "punct_ratio": non_alnum / n_chars.cast("double"),
        "stopword_ratio": (
            F.size(F.filter(toks, lambda t: t.isin(*LANG_STOPWORDS["en"])))
            / F.size(toks).cast("double")
        ),
    }


def repetition_metrics(df, id_col: str, text_col: str):
    """Gopher/C4-style repetition signals per document: duplicate-token
    fraction (1 - distinct/total) and top-bigram fraction (tokens covered
    by the single most frequent bigram). Low-quality machine-generated or
    boilerplate text scores high on both.

    The bigram mode is found via explode → (doc, bigram) count → per-doc
    max — linear in corpus tokens with map-side partial aggregation, unlike
    a per-doc HOF count which is O(doc_len²) in Spark's *interpreted*
    lambda evaluator and explodes on long documents at scale.
    """
    base = df.select(
        F.col(id_col),
        tokenize(normalize_text(F.col(text_col))).alias("toks"),
    ).withColumn("n", F.size("toks").cast("long"))
    bigrams = base.select(
        F.col(id_col),
        F.explode(
            F.when(
                F.col("n") >= 2,
                F.transform(
                    F.sequence(F.lit(1), F.col("n").cast("int") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("toks"), i),
                        F.element_at(F.col("toks"), i + F.lit(1)),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("bg"),
    )
    top = (
        bigrams.groupBy(id_col, "bg")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.max("c").alias("mc"))
    )
    return (
        base.join(top, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n").alias("n_tokens"),
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct("toks")) / F.col("n").cast("double"),
                6,
            ).alias("dup_token_frac"),
            F.round(
                F.lit(2.0) * F.coalesce(F.col("mc"), F.lit(0)) / F.col("n"),
                6,
            ).alias("top_bigram_frac"),
        )
    )


def _distribution_entropy(units, id_col: str, unit_col: str, out_col: str):
    """Shannon entropy (bits) of the per-id unit distribution, via the
    single-aggregate identity H = log2(N) - (Σ c·log2 c)/N — one count
    shuffle (map-side combined) plus a tiny per-id agg, never a
    driver-side histogram."""
    counts = units.groupBy(id_col, unit_col).agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy(id_col).agg(
        F.round(
            F.log2(F.sum("c"))
            - F.sum(F.col("c") * F.log2("c")) / F.sum("c"),
            6,
        ).alias(out_col)
    )


def entropy_metrics(df, id_col: str, text_col: str):
    """Perplexity-proxy quality signals: character- and token-level Shannon
    entropy per document. Low char entropy flags repeated-character junk;
    low token entropy flags boilerplate/templated text (a cheap stand-in
    for an LM perplexity filter when no model is available)."""
    chars = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), "")).alias("u"),
    ).filter(F.col("u") != "")
    toks = df.select(
        F.col(id_col),
        F.explode(tokenize(normalize_text(F.col(text_col)))).alias("u"),
    )
    ce = _distribution_entropy(chars, id_col, "u", "char_entropy")
    te = _distribution_entropy(toks, id_col, "u", "token_entropy")
    return ce.join(te, id_col)


def tf_idf_terms(
    df, id_col: str, text_col: str, min_df: int = 2
):
    """Per-(doc, term) TF-IDF over distinct whitespace tokens of the
    normalized text: tf = occurrences/doc_len, idf = ln((N+1)/(df_t+1))+1
    (smoothed). Two shuffles: token counts per (doc, term), then document
    frequency per term; N is a 1-row broadcast. At 100 TB the term
    dictionary is the big intermediate — it shuffles as (term-hash,
    counts) pairs, never raw text beyond the term itself."""
    from pyspark.sql import functions as F

    toks = df.select(
        F.col(id_col),
        F.explode(tokenize(normalize_text(F.col(text_col)))).alias("term"),
    )
    per_doc = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf_raw"))
    doc_len = per_doc.groupBy(id_col).agg(F.sum("tf_raw").alias("doc_len"))
    df_t = per_doc.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.select(F.countDistinct(id_col).alias("n_docs"))
    return (
        per_doc.join(doc_len, id_col)
        .join(df_t.filter(F.col("df_t") >= min_df), "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "term",
            "tf_raw",
            "df_t",
            F.round(
                (F.col("tf_raw") / F.col("doc_len").cast("double"))
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1))
                        / (F.col("df_t") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                ),
                6,
            ).alias("tfidf"),
        )
    )


def bigram_pmi(
    df,
    text_col: str = "text",
    min_count: int = 5,
    top_k: int = 20,
):
    """Top-k adjacent-bigram PMI over a corpus — the phrase-mining /
    vocabulary-induction step of tokenizer training (no reference
    analog; 100 TB pipeline extension).

    Plan shape: one explode for unigram counts, one arrays_zip+explode
    for bigram counts (both map-side combined down to vocabulary-sized
    aggregates), then the bigram table joins two BROADCAST copies of the
    unigram counts plus two broadcast 1-row totals — no shuffle scales
    with corpus size beyond the two counting aggregations, and at 100 TB
    the vocabulary (not the corpus) bounds every join input."""
    from pyspark.sql import functions as F

    toks = tokenize(normalize_text(F.col(text_col)))
    t = df.select(toks.alias("toks"))
    n = F.size("toks")
    pairs = t.select(
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, n - 1).alias("a"),
                F.slice(F.col("toks"), 2, n - 1).alias("b"),
            )
        ).alias("z")
    ).select(F.col("z.a").alias("a"), F.col("z.b").alias("b"))
    bcnt = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("nab"))
    ucnt = (
        t.select(F.explode("toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ut = ucnt.agg(F.sum("n").alias("t"))
    bt = bcnt.agg(F.sum("nab").alias("tb"))
    return (
        bcnt.join(
            F.broadcast(
                ucnt.withColumnRenamed("tok", "a").withColumnRenamed("n", "na")
            ),
            "a",
        )
        .join(
            F.broadcast(
                ucnt.withColumnRenamed("tok", "b").withColumnRenamed("n", "nb")
            ),
            "b",
        )
        .crossJoin(F.broadcast(ut))
        .crossJoin(F.broadcast(bt))
        .filter(F.col("nab") >= min_count)
        .select(
            "a",
            "b",
            F.col("nab").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("nab") / F.col("tb"))
                    / ((F.col("na") / F.col("t")) * (F.col("nb") / F.col("t")))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "a", "b")
        .limit(top_k)
    )


def bigram_lm_score(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: float = 0.5,
):
    """Per-document bigram language-model score — the CCNet-style
    perplexity quality filter (train a smoothed bigram LM on the corpus,
    score every document by its average negative log-likelihood; no
    reference analog, 100 TB pipeline extension).

    P(b|a) = (C(a,b) + k) / (C(a) + k·V), add-k smoothed over the
    corpus-trained counts. Returns (id, n_bigrams, avg_neg_logp) where
    lower = more typical of the corpus.

    Plan shape: the count model is two vocabulary-bounded aggregates
    plus a 1-row vocab size; each document's bigram stream joins the
    bigram-count table on (a, b) — Catalyst broadcasts it while the
    vocabulary is small and falls back to a hash join on the pair key at
    scale — then one per-doc aggregate. Nothing driver-side."""
    from pyspark.sql import functions as F

    toks = tokenize(normalize_text(F.col(text_col)))
    d = df.select(F.col(id_col), toks.alias("toks"))
    n = F.size("toks")
    doc_pairs = d.select(
        id_col,
        F.explode(
            F.arrays_zip(
                F.slice("toks", 1, n - 1).alias("a"),
                F.slice(F.col("toks"), 2, n - 1).alias("b"),
            )
        ).alias("z"),
    ).select(id_col, F.col("z.a").alias("a"), F.col("z.b").alias("b"))
    pairs = doc_pairs.select("a", "b")
    bcnt = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("nab"))
    ucnt = (
        d.select(F.explode("toks").alias("a"))
        .groupBy("a")
        .agg(F.count(F.lit(1)).alias("na"))
    )
    vocab = ucnt.agg(F.count(F.lit(1)).alias("v"))
    neg_logp = -F.log(
        (F.col("nab") + F.lit(k)) / (F.col("na") + F.lit(k) * F.col("v"))
    )
    scored = (
        doc_pairs.join(bcnt, ["a", "b"])
        # no broadcast hint: the vocabulary table is O(distinct tokens)
        # and must be allowed to degrade to a shuffled join at scale
        .join(ucnt, "a")
        .crossJoin(F.broadcast(vocab))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(neg_logp), 6).alias("avg_neg_logp"),
        )
    )
    return d.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
        "avg_neg_logp",
    )


def feature_hash_vector(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = 16,
):
    """Feature-hashing vectorizer (Weinberger et al. 2009): token counts
    folded into a dense ``dim``-bucket vector by hash — the cheap
    text-to-vector featurization that feeds the ANN / clustering ops
    when no learned embeddings exist.

    Returns (id, vec: array<int>, n_nonzero). Scale shape: one explode →
    (doc, bucket) count with map-side combine, then one per-doc map
    assembly — the token stream shuffles as (id, 1-byte bucket), never
    as strings; no O(dim × tokens) interpreted fold."""
    from pyspark.sql import functions as F

    toks = tokenize(normalize_text(F.col(text_col)))
    buckets = (
        df.select(F.col(id_col), F.explode(toks).alias("__t"))
        .filter(F.length("__t") > 0)
        .select(id_col, F.pmod(hash64(F.col("__t")), F.lit(dim)).alias("__b"))
        .groupBy(id_col, "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    as_map = buckets.groupBy(id_col).agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("__b"), F.col("__c")))
        ).alias("__m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda j: F.coalesce(
            F.element_at(F.col("__m"), j.cast("long")), F.lit(0)
        ).cast("int"),
    )
    return (
        df.select(id_col)
        .join(as_map, id_col, "left")
        .select(
            id_col,
            F.coalesce(
                vec, F.array_repeat(F.lit(0), dim).cast("array<int>")
            ).alias("vec"),
            F.coalesce(F.size("__m"), F.lit(0)).alias("n_nonzero"),
        )
    )


GOPHER_REQUIRED_STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)


def gopher_metrics(text_col: Column) -> dict[str, Column]:
    """The Gopher document-quality rule signals (Rae et al. 2021 §A1.1,
    public): word count, mean word length, symbol-to-word ratio
    (#/ellipsis), bulleted/ellipsis-terminated line fractions,
    alphabetic-word fraction and required-stopword hits, plus the
    combined ``passes`` verdict used to filter pretraining corpora. All
    JVM expressions — map-only, zero shuffles at any corpus size."""
    toks = F.split(F.trim(text_col), r"\s+")
    lines = F.split(text_col, r"\n")
    ltoks = F.split(F.trim(F.lower(text_col)), r"\s+")
    nw_d = F.size(toks).cast("double")

    def occ(s: str) -> Column:
        return F.length(text_col) - F.length(F.replace(text_col, F.lit(s)))

    m: dict[str, Column] = {}
    m["n_words"] = F.size(toks).cast("long")
    m["mean_word_len"] = (
        F.aggregate(toks, F.lit(0).cast("long"), lambda a, x: a + F.length(x))
        / nw_d
    )
    m["symbol_word_ratio"] = (occ("#") + occ("...") / 3 + occ("…")) / nw_d
    m["bullet_line_frac"] = F.size(
        F.filter(
            lines,
            lambda line: F.substring(F.ltrim(line), 1, 1).isin("-", "*", "•"),
        )
    ) / F.size(lines).cast("double")
    m["ellipsis_line_frac"] = F.size(
        F.filter(
            lines,
            lambda line: F.rtrim(line).endswith("...")
            | F.rtrim(line).endswith("…"),
        )
    ) / F.size(lines).cast("double")
    m["alpha_word_frac"] = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))) / nw_d
    )
    m["stop_hits"] = F.size(
        F.array_intersect(
            ltoks, F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS])
        )
    )
    m["passes"] = (
        m["n_words"].between(50, 100000)
        & m["mean_word_len"].between(3, 10)
        & (m["symbol_word_ratio"] < 0.1)
        & (m["bullet_line_frac"] < 0.9)
        & (m["ellipsis_line_frac"] < 0.3)
        & (m["alpha_word_frac"] > 0.8)
        & (m["stop_hits"] >= 2)
    )
    return m


# Per-language quality-gate routing (the config every production
# pipeline carries — CCNet routes per-language perplexity cuts, Gopher's
# stopword rule only makes sense against the detected language's list,
# and alpha-word fractions don't transfer to Han-script text). Values
# are Gopher-shaped (Rae et al. 2021 §A1.1) with public per-language
# relaxations; 'und' is the strict fallback for undetermined text.
# ``unit: "chars"`` switches the length signal from whitespace words to
# characters AND the stopword-hit count from exact-token intersection
# to substring containment — whitespace tokenization yields ~1 "word"
# for unsegmented Han text and can never hit a single-character
# stopword list, so a word-based zh row would be unsatisfiable for
# genuine Chinese (r12 review finding).
DEFAULT_LANG_GATES: dict[str, dict[str, object]] = {
    "en": {"min_units": 50, "min_alpha_frac": 0.80, "min_stop_hits": 2},
    "de": {"min_units": 45, "min_alpha_frac": 0.75, "min_stop_hits": 1},
    "fr": {"min_units": 45, "min_alpha_frac": 0.75, "min_stop_hits": 1},
    "es": {"min_units": 45, "min_alpha_frac": 0.75, "min_stop_hits": 1},
    "zh": {
        "min_units": 20,
        "min_alpha_frac": 0.00,
        "min_stop_hits": 1,
        "unit": "chars",
    },
    "und": {"min_units": 60, "min_alpha_frac": 0.90, "min_stop_hits": 0},
}


def routed_quality_gate(
    text_col: Column,
    routed_lang: Column,
    gates: dict[str, dict[str, object]] | None = None,
    toks: Column | None = None,
    ltoks: Column | None = None,
) -> dict[str, Column]:
    """Language-routed quality gate: Gopher-style signals evaluated
    against per-language thresholds selected by ``routed_lang``
    (languages not in ``gates`` fall back to the ``'und'`` row, which
    is synthesized from ``DEFAULT_LANG_GATES`` when absent). The
    stopword-hit count is taken against the ROUTED language's stopword
    list — the whole point of routing; rows with ``unit: "chars"``
    count characters instead of whitespace words and stopword hits by
    substring containment (see ``DEFAULT_LANG_GATES``). All
    chained-CASE column expressions: map-only, zero shuffles, one scan
    at any corpus size.

    Pass pre-materialized ``toks`` / ``ltoks`` ARRAY COLUMNS from a
    prior select when composing with other per-row work — Catalyst does
    not CSE repeated split() chains (the quality_metrics convention),
    so letting this function re-derive them embeds the tokenization
    once per output column."""
    g = gates if gates is not None else DEFAULT_LANG_GATES
    if "und" not in g:
        g = {**g, "und": DEFAULT_LANG_GATES["und"]}
    if toks is None:
        toks = F.split(F.trim(text_col), r"\s+")
    if ltoks is None:
        ltoks = F.split(F.trim(F.lower(text_col)), r"\s+")
    char_langs = {
        lang for lang, row in g.items() if row.get("unit") == "chars"
    }
    n_words = F.size(toks).cast("long")
    n_units = n_words
    for lang in sorted(char_langs):
        n_units = F.when(
            routed_lang == lang, F.length(text_col).cast("long")
        ).otherwise(n_units)
    alpha_frac = (
        F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
        / n_words.cast("double")
    )
    stop_hits = F.lit(0)
    for lang, words in LANG_STOPWORDS.items():
        if lang in char_langs:
            # distinct stopwords PRESENT (containment), mirroring
            # array_intersect's distinct semantics for word languages
            hits = sum(
                (
                    F.when(F.contains(text_col, F.lit(w)), 1).otherwise(0)
                    for w in words
                ),
                start=F.lit(0),
            )
        else:
            hits = F.size(
                F.array_intersect(ltoks, F.array(*[F.lit(w) for w in words]))
            )
        stop_hits = F.when(routed_lang == lang, hits).otherwise(stop_hits)

    def threshold(key: str) -> Column:
        expr = F.lit(float(g["und"][key]))
        for lang, row in g.items():
            if lang == "und":
                continue
            expr = F.when(routed_lang == lang, F.lit(float(row[key]))).otherwise(
                expr
            )
        return expr

    passes = (
        (n_units >= threshold("min_units"))
        & (alpha_frac >= threshold("min_alpha_frac"))
        & (stop_hits >= threshold("min_stop_hits"))
    )
    return {
        "n_units": n_units,
        "alpha_word_frac": alpha_frac,
        "stop_hits": stop_hits.cast("int"),
        "passes": passes,
    }
