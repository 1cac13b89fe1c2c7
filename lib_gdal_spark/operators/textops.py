"""Text analysis operators: language-id, quality scoring, token counting,
document fingerprinting. All JVM-side column math (regex + aggregates) so
they run at corpus scale with zero Python in the hot path; every one is
oracle-checkable SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..session import built
from .dedup import _ngrams, tokens_col

# tiny built-in stopword lists — an n-gram/stopword-hit language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "las", "y", "es", "un", "una", "en", "que"],
}


def token_count(df: DataFrame, text_col: str = "text",
                out_col: str = "n_tokens") -> DataFrame:
    """Whitespace/alnum token count (the BPE-ish pre-tokenizer count)."""
    return df.withColumn(out_col, F.size(tokens_col(text_col)))


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + score in [0,1]:
    - length score: saturating n_chars/500
    - alpha ratio: alnum chars / all chars
    - mean word length sanity (penalize <3 or >10)
    - stopword ratio (any language)
    """
    return df.withColumns(dict(zip(
        ("n_chars_q", "n_tokens", "alpha_ratio", "stopword_ratio", "quality"),
        built(("quality_score", text_col), lambda: _quality_features(text_col)))))


def _quality_features(text_col: str) -> tuple:
    """quality_score's five columns, in its output order."""
    n_chars = F.length(F.col(text_col))
    toks = tokens_col(text_col)
    n_toks = F.size(toks)
    alpha = F.length(F.regexp_replace(F.col(text_col), "[^a-zA-Z0-9]", ""))
    all_stop = [w for ws in STOPWORDS.values() for w in ws]
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(all_stop)))
    mean_wl = F.when(n_toks > 0, alpha / n_toks).otherwise(F.lit(0.0))
    len_score = F.least(n_chars / F.lit(500.0), F.lit(1.0))
    alpha_ratio = F.when(n_chars > 0, alpha / n_chars).otherwise(F.lit(0.0))
    wl_score = F.when((mean_wl >= 3) & (mean_wl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    stop_ratio = F.when(n_toks > 0, stop_hits / n_toks).otherwise(F.lit(0.0))
    quality = (len_score + alpha_ratio + wl_score
               + F.least(stop_ratio * 4, F.lit(1.0))) / 4.0
    return n_chars, n_toks, alpha_ratio, stop_ratio, quality


def lang_id(df: DataFrame, text_col: str = "text",
            out_col: str = "lang_pred") -> DataFrame:
    """Stopword-hit language id: argmax language by per-language stopword
    hits; 'und' (undetermined) when no hits. Deterministic tie-break by
    language code order."""
    toks = tokens_col(text_col)
    scores = []
    for lang in sorted(STOPWORDS):
        hits = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS[lang])))
        scores.append(F.struct(hits.alias("hits"), F.lit(lang).alias("lang")))
    # struct sort is fieldwise: hits desc, then lang desc (deterministic
    # tie-break: later language code wins on equal hit counts)
    arr = F.sort_array(F.array(*scores), asc=False)
    pred = F.when(arr[0]["hits"] > 0, arr[0]["lang"]).otherwise(F.lit("und"))
    return df.withColumn(out_col, pred)


def fingerprint(df: DataFrame, text_col: str = "text",
                out_col: str = "fp") -> DataFrame:
    """Document fingerprint: 64-bit from md5 of the token-normalized text
    (whitespace/punctuation-insensitive). Rolling-hash shingle fingerprints
    live in dedup.minhash_signature; this is the per-doc identity hash."""
    norm = F.concat_ws(" ", tokens_col(text_col))
    fp = F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("long")
    return df.withColumn(out_col, fp)


def winnow_fingerprints(df: DataFrame, doc_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        window: int = 4, hash_fn=None) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    algorithm — the rolling-hash fingerprint family): hash every k-gram of
    tokens, then keep the MINIMUM hash of each sliding window of `window`
    consecutive k-gram hashes (ties to the rightmost, the paper's rule).
    Guarantees: any shared substring of length >= window+k-1 tokens
    produces at least one shared fingerprint between two documents.

    All JVM: k-gram hashes via transform over the doc's k-grams
    (xxhash64 of the joined gram), window minima via transform + slice +
    array_min, dedup via array_distinct + explode. One narrow map per doc,
    no shuffle until the caller aggregates.

    Output: (doc_col, fp) — one row per distinct fingerprint per doc.
    """
    if hash_fn is None:
        hash_fn = F.xxhash64  # fast JVM path; pass an md5-based fn for
        # cross-engine oracle checking (xxhash64 is Spark-specific)
    # STAGED projections, deliberately: the window-minima lambda slices
    # the gram-hash array once per window, and with the whole expression
    # inlined Catalyst RE-EVALUATED the per-gram hash inside every window
    # slice — O(n_grams * n_windows) hash calls per doc (measured 30x
    # slower with an md5-based hash_fn). Projecting tokens, then the
    # hashed gram array, as real columns makes each stage evaluate once
    # per row; the chain stays a narrow map (zero shuffle).
    t = df.select(F.col(doc_col), tokens_col(text_col).alias("_t"))
    # (a lambda, not hash_fn itself: transform needs a fixed arity and
    # F.xxhash64 takes *cols)
    g = t.select(F.col(doc_col),
                 F.transform(_ngrams("_t", k),
                             lambda gram: hash_fn(gram)).alias("_g"))
    n_windows = F.greatest(F.size("_g") - (window - 1), F.lit(0))
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(n_windows, F.lit(1))),
        lambda i: F.array_min(F.slice(F.col("_g"), i, window)),
    )
    fps = F.when(n_windows > 0, F.array_distinct(mins)).when(
        F.size("_g") > 0, F.array(F.array_min(F.col("_g")))  # short doc
    ).otherwise(F.array().cast("array<bigint>"))
    return g.select(F.col(doc_col), F.explode(fps).alias("fp"))


def repetition_ratio(df: DataFrame, doc_col: str = "doc_id",
                     text_col: str = "text", n: int = 2) -> DataFrame:
    """Within-document n-gram repetition — the Gopher/MassiveText-style
    repetition filter signal: dup_ratio = 1 - distinct/total over token
    n-grams (0 = no repeated n-gram, ->1 = highly repetitive boilerplate).

    Engine analog of the training-data quality family (SURVEY training-
    data ops). Pure column math; the n-gram array is STAGED as a real
    column (the lambda re-evaluation trap — see winnow_fingerprints).

    Output: (doc_col, n_ngrams, n_distinct, dup_ratio).
    """
    t = df.select(F.col(doc_col), tokens_col(text_col).alias("_t"))
    g = t.select(F.col(doc_col), _ngrams("_t", n).alias("_g"))
    n_g = F.size("_g")
    n_distinct = F.size(F.array_distinct("_g"))
    return g.select(
        F.col(doc_col),
        n_g.cast("long").alias("n_ngrams"),
        n_distinct.cast("long").alias("n_distinct"),
        F.when(n_g > 0, F.lit(1.0) - n_distinct / n_g.cast("double"))
        .otherwise(F.lit(0.0)).alias("dup_ratio"),
    )


def segment_dedup(df: DataFrame, doc_col: str = "doc_id",
                  text_col: str = "text", sep: str = ".") -> DataFrame:
    """Corpus-global segment (sentence/paragraph) deduplication — the
    C4-style "remove duplicate lines across the corpus" pass: every
    document is split on `sep`, each normalized non-empty segment
    survives only at its FIRST occurrence (min doc id, then min segment
    position — deterministic under any partitioning), and documents are
    reassembled from their surviving segments in original order.

    Scale shape: one explode (documents -> segments), one window keyed by
    the segment hash (the global dedup shuffle), one groupBy(doc) to
    reassemble. No driver-side state; the dedup key is md5(trimmed
    segment), so the shuffle carries hashes + positions, not full text.

    Output: (doc_col, text) — documents whose every segment was a
    duplicate come out with an empty string (callers filter).
    """
    from pyspark.sql import Window

    seg = df.select(
        F.col(doc_col),
        F.posexplode(F.split(F.col(text_col), re_escape(sep))).alias("_i", "_s"),
    ).withColumn("_s", F.trim(F.col("_s"))).filter(F.length("_s") > 0)
    w = Window.partitionBy(F.md5(F.col("_s"))).orderBy(
        F.col(doc_col).asc(), F.col("_i").asc())
    keep = seg.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1")
    parts = keep.groupBy(doc_col).agg(
        F.concat_ws(sep, F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("_i"), F.col("_s")))),
            lambda s: s["_s"],
        )).alias("text")
    )
    return df.select(doc_col).join(parts, on=doc_col, how="left").select(
        F.col(doc_col), F.coalesce("text", F.lit("")).alias("text")
    )


def re_escape(sep: str) -> str:
    """Escape a literal separator for Spark's regex-based split."""
    import re

    return re.escape(sep)


# PII patterns chosen to mean the same thing in Java regex (Spark) and
# RE2 (duckdb): character classes + bounded repeats + \b only — no
# backreferences, no lookaround (RE2 has neither).
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b",
}


def pii_redact(df: DataFrame, text_col: str = "text",
               out_col: str = "text_redacted") -> DataFrame:
    """PII scrubbing for training corpora: replace emails, IPv4 addresses
    and phone-shaped numbers with typed placeholder tokens (`<EMAIL>`,
    `<IPV4>`, `<PHONE>`) and count each category.

    The standard pre-training privacy pass (the reference has no text
    pipeline; this belongs to the SURVEY training-data family). Pure JVM
    regexp column math — three `regexp_replace` passes plus three
    `regexp_extract_all` counts, no Python, no shuffle; at 100 TB this is
    a map-only stage that pipelines with the scan.

    Redaction order is email -> ipv4 -> phone, counted BEFORE any
    replacement so counts refer to the original text. Patterns avoid
    every Java/RE2 divergence (no backrefs/lookaround), so the duckdb
    oracle runs the literally identical regexes.

    Output: input columns + (n_email, n_ipv4, n_phone, out_col).
    """
    t = F.col(text_col)
    counts = {
        k: F.size(F.regexp_extract_all(t, F.lit(p), 0)).cast("long")
        for k, p in PII_PATTERNS.items()
    }
    red = F.regexp_replace(t, PII_PATTERNS["email"], "<EMAIL>")
    red = F.regexp_replace(red, PII_PATTERNS["ipv4"], "<IPV4>")
    red = F.regexp_replace(red, PII_PATTERNS["phone"], "<PHONE>")
    return (
        df.withColumn("n_email", counts["email"])
        .withColumn("n_ipv4", counts["ipv4"])
        .withColumn("n_phone", counts["phone"])
        .withColumn(out_col, red)
    )


# Gopher (MassiveText, Rae et al. 2021 table A1) repetition/quality rule
# thresholds — the subset expressible over single-line documents.
GOPHER_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "that"]


def gopher_rules(df: DataFrame, doc_col: str = "doc_id",
                 text_col: str = "text",
                 min_words: int = 50, max_words: int = 100000,
                 min_mean_wl: float = 3.0, max_mean_wl: float = 10.0,
                 max_symbol_frac: float = 0.1,
                 min_stop_hits: int = 2) -> DataFrame:
    """Gopher-style document quality rules: word-count bounds, mean word
    length bounds, symbol-to-character ratio, and a "contains >= k
    distinct stopwords" sanity test. Emits the per-document signals plus
    one boolean per rule and the conjunction `passes_gopher`.

    All JVM column math over one staged token array (the higher-order-
    function re-evaluation trap — stage `_toks` as a real column first);
    map-only at any scale. Every signal is counts and single divisions,
    so the duckdb oracle matches exactly.

    Output: (doc_col, word_count, mean_word_len, symbol_frac,
    stop_distinct, ok_words, ok_word_len, ok_symbols, ok_stop,
    passes_gopher).
    """
    t = df.select(F.col(doc_col), F.col(text_col),
                  tokens_col(text_col).alias("_toks"))
    wc = F.size(F.col("_toks"))
    tok_chars = F.length(F.array_join(F.col("_toks"), ""))
    n_chars = F.length(F.col(text_col))
    # symbols = characters outside [a-z0-9] and space (lowercased view)
    sym = n_chars - F.length(
        F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9 ]", ""))
    stop_distinct = F.size(F.array_distinct(
        F.filter(F.col("_toks"), lambda x: x.isin(GOPHER_STOPWORDS))))
    g = t.select(
        F.col(doc_col),
        wc.cast("long").alias("word_count"),
        F.when(wc > 0, tok_chars / wc.cast("double"))
        .otherwise(F.lit(0.0)).alias("mean_word_len"),
        F.when(n_chars > 0, sym / n_chars.cast("double"))
        .otherwise(F.lit(0.0)).alias("symbol_frac"),
        stop_distinct.cast("long").alias("stop_distinct"),
    )
    return g.select(
        "*",
        ((F.col("word_count") >= min_words)
         & (F.col("word_count") <= max_words)).alias("ok_words"),
        ((F.col("mean_word_len") >= min_mean_wl)
         & (F.col("mean_word_len") <= max_mean_wl)).alias("ok_word_len"),
        (F.col("symbol_frac") <= max_symbol_frac).alias("ok_symbols"),
        (F.col("stop_distinct") >= min_stop_hits).alias("ok_stop"),
    ).withColumn(
        "passes_gopher",
        F.col("ok_words") & F.col("ok_word_len") & F.col("ok_symbols")
        & F.col("ok_stop"),
    )


def corpus_clean(df: DataFrame, id_col: str = "doc_id",
                 text_col: str = "text", min_quality: float = 0.5,
                 langs=("en",), max_repetition: float = 0.2,
                 neardup_threshold: float = 0.8) -> DataFrame:
    """End-to-end corpus cleaning — the C4/CCNet/Gopher pipeline shape
    composed from the engine's already-verified stages:

    1. quality_score(text) >= min_quality   (length/alpha/word-length/
       stopword heuristics)
    2. lang_id(text) in `langs`             (None/empty keeps all)
    3. repetition_ratio(2-gram) <= max_repetition  (boilerplate filter)
    4. exact text dedup                      (md5 digest, min-id keeps)
    5. MinHash-LSH near-dup removal          (banded candidates + exact
       Jaccard >= neardup_threshold, larger id drops)

    Every stage is a narrow-column Catalyst pass or a bucketed equi-join
    — the whole pipeline is a linear chain of the operators the driver
    queries verify individually, so the composition stays exactly
    oracle-able (and deterministic under any partitioning).
    Output: the surviving input rows.
    """
    from . import dedup

    q = quality_score(df, text_col)
    keep = q.filter(F.col("quality") >= float(min_quality)) \
        .select(id_col, text_col)
    keep = lang_id(keep, text_col)
    if langs:
        keep = keep.filter(F.col("lang_pred").isin(list(langs)))
    keep = keep.select(id_col, text_col)
    rep = repetition_ratio(keep, id_col, text_col)
    keep = keep.join(
        rep.filter(F.col("dup_ratio") <= float(max_repetition))
        .select(id_col), on=id_col, how="left_semi")
    keep = dedup.exact_dedup(keep, id_col, text_col)
    return dedup.minhash_dedup(keep, id_col, text_col,
                               threshold=float(neardup_threshold))


def lm_crossentropy(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """CCNet-style language-model quality proxy: per-document
    cross-entropy under an add-one-smoothed corpus bigram model,
    p(w2|w1) = (c(w1,w2) + 1) / (c(w1,*) + V).

    (CCNet scores with a pretrained KenLM; with no external model, the
    corpus's own bigram statistics are the self-contained equivalent —
    boilerplate-heavy and word-soup documents separate the same way.)

    -> (doc_id, n_bigrams, xent) with xent = -mean bigram ln-prob,
    rounded 6 dp (ln is the only transcendental; everything upstream is
    integer counts so the ratio inside ln is bit-identical cross-engine;
    the per-doc fold quantizes each n*logp term through DECIMAL(38,18)
    — the dsir_scores pattern — so the sum is order-independent under
    any partitioning; the closing -sum/n is a single correctly-rounded
    double division, identical on both engines).

    Scale shape: ONE tokenize pass staged as a persisted narrow bigram
    table feeding corpus counts and per-doc joins: each doc's bigrams
    come from its own row and are counted after one exchange of whole
    rows by doc (no sort, and no shuffle of mostly distinct (doc,
    bigram) keys); c(w1,*) derives from the aggregated bigram table
    (never a second corpus scan); V is one distinct-count; the scoring
    join is a plain shuffle join on the bigram key (skew-safe:
    smoothing keeps every key finite)."""
    tok = df.select(F.col(id_col).alias("doc_id"),
                    tokens_col(text_col).alias("_toks")).repartition("doc_id")
    big = (tok.select("doc_id", F.explode(_ngrams("_toks", 2)).alias("gram"))
              .groupBy("doc_id", "gram").agg(F.count("*").alias("n"))
              .persist())

    c12 = (big.groupBy("gram").agg(F.sum("n").alias("c12"))
              .withColumn("w1", F.substring_index("gram", " ", 1)))
    c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
    # vocabulary: distinct tokens in bigram positions (w1 union w2)
    vocab = (c12.select("w1")
             .union(c12.select(F.substring_index("gram", " ", -1)))
             .distinct().count())

    lm = c12.join(c1, "w1").select(
        "gram",
        F.log((F.col("c12") + 1.0) / (F.col("c1") + float(vocab)))
         .alias("logp"))
    scored = big.join(lm, "gram")
    # DECIMAL(38,18)-quantized per-term fold (order-independent exact
    # sum), then exactly one double divide — no order-dependent double
    # accumulation anywhere (CLAUDE.md fold-order trap).
    term = (F.col("n") * F.col("logp")).cast("decimal(38,18)")
    return (scored.groupBy("doc_id")
            .agg(F.sum("n").alias("n_bigrams"),
                 F.round(-F.sum(term).cast("double")
                         / F.sum("n").cast("double"), 6).alias("xent")))


def quality_classifier_score(df: DataFrame, *, id_col: str = "doc_id",
                             text_col: str = "text",
                             n_buckets: int = 2048, seed: str = "qc|",
                             bias: int = 37) -> DataFrame:
    """FastText-style linear quality-classifier INFERENCE: the
    fixed-weight hashed bag-of-ngrams scorer used to gate corpora
    (fastText supervised scoring; the FineWeb-Edu / CCNet-style
    "apply a trained classifier to every document" stage). Features
    are the DSIR uni+bigram md5 buckets; the weight vector is a
    deterministic function of the bucket id (a Knuth
    multiplicative-hash derived integer in [-1000, 1000] micro-units),
    standing in for trained weights, so inference is the real
    distributed shape with an exactly-replayable model.

    Everything is integer: score_u = bias + sum(c * w(bucket)) folds in
    BIGINT, so the result is bit-exact under any partitioning and
    engine. One explode + two groupBys (feature counts, per-doc sum) —
    no dim table, no broadcast: the weight is Column math ON the
    bucket id.

    Returns (id_col, score_u bigint, keep boolean).
    """
    from .sampling import _hashed_ngram_buckets

    feats = _hashed_ngram_buckets(df, id_col, text_col, n_buckets, seed)
    w = (F.col("bucket") * F.lit(2654435761)) % 2001 - 1000
    per_doc = (feats.select("_id", (F.col("c") * w).alias("contrib"))
               .groupBy("_id")
               .agg((F.sum("contrib") + F.lit(bias)).cast("long")
                    .alias("score_u")))
    return per_doc.select(F.col("_id").alias(id_col), "score_u",
                          (F.col("score_u") > 0).alias("keep"))
