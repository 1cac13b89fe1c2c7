"""Corpus relevance / analysis operators: BM25 scoring and corpus-wide
n-gram statistics.

These are the retrieval/quality-analysis stage of a crawl-to-training
pipeline (rank documents against a probe query; surface the dominant
n-grams for boilerplate detection). No single reference counterpart —
they sit beside the dedup/textops family (SURVEY §2, LLM-pipeline
block) and follow the repo's exactness discipline:

- `bm25_topk`: Okapi BM25 (Robertson/Sparck Jones idf). Everything up
  to the ln() is integer/rational and bit-identical cross-engine; the
  ln itself is transcendental, so the final score is rounded to 6 dp on
  BOTH sides and ranking uses the ROUNDED score (then doc_id) so order
  is deterministic given agreed rounded values — the CLAUDE.md
  transcendental rule. The per-doc fold over query terms is a FIXED
  order sum (one term per slot, 0.0 for an absent term), never a
  data-ordered SUM, so there is no fold-order drift.
- `ngram_topk`: pure integer counts + lexicographic tie-break — exact.

Scale notes (100 TB):
- bm25: one row per document, never one per token. The corpus is
  tokenized once into a persisted narrow row (doc_id, length, the
  query-term matches); each term's tf is an array count on that row;
  the corpus size, total length and every term's docfreq are ONE
  global aggregate row, broadcast back. No explode, no groupBy and no
  shuffle on doc_id: the only Exchange is the 1-row aggregate's. The
  global top-k is orderBy().limit(k) = TakeOrderedAndProject
  (per-partition heaps + driver merge of k rows), NOT a
  single-partition row_number window.
- bm25 plan construction: each Column call is one py4j round trip. The
  per-term parts (the match filter, each tf and docfreq) depend on the
  query, so they are SQL strings, a few round trips per term; a term's
  tf is size(mt) - size(array_remove(mt, term)), with no Python lambda.
  The fixed parts, the score fold included, are built once per
  (columns, number of terms) and session (session.built).
- ngram: each document's n-grams come from its own row (the staged
  token array, then dedup._ngrams over it — the CLAUDE.md HOF rule),
  exploded into one partial-agg count; no per-document shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from ..session import built
from .dedup import _ngrams, tokens_col

# BM25 free parameters (Robertson et al.; the values every engine
# defaults to). Derived doubles are computed ONCE here in Python so the
# Spark plan and any oracle SQL can share the exact same 64-bit
# constants (repr-injection pattern, CLAUDE.md).
K1 = 1.2
B = 0.75
K1P1 = K1 + 1.0          # 2.2000000000000002
ONE_MINUS_B = 1.0 - B    # 0.25 (exact)


def idf(n_docs: int, df: int) -> float:
    """BM25+ idf: ln(1 + (N - df + 0.5) / (df + 0.5)) — always > 0."""
    return math.log(1.0 + ((n_docs - df) + 0.5) / (df + 0.5))


def bm25_scores(df: DataFrame, terms: list[str], *,
                id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document BM25 score for an OR-query over `terms`.

    Returns (doc_id, score) with score rounded to 6 dp (see module
    docstring), one row per document containing >= 1 query term.
    """
    terms = list(terms)
    if not terms:
        raise ValueError("bm25 needs at least one query term")
    n = len(terms)
    # ONE scan of the corpus: tokenize once, keep only (doc_id, full
    # token count, query-term matches) — a narrow int/short-array row —
    # and persist it so the corpus stats and the scoring don't each
    # re-scan and re-tokenize the text. The plan depends only on (df,
    # terms), so a repeated request reuses the same cache entry. (The
    # no-wide-string-cache rule doesn't apply: the text column is
    # dropped before the persist.)
    lits = [_sql_string(t) for t in terms]
    narrow = (df.select(*built(("bm25.narrow", id_col, text_col), lambda: (
                  F.col(id_col).alias("doc_id"),
                  F.size(tokens_col(text_col)).alias("dl"),
                  tokens_col(text_col).alias("t"))))
                .selectExpr("doc_id", "dl",
                            f"filter(t, x -> x IN ({', '.join(lits)})) AS mt")
                .persist())

    # the corpus stats and every term's document frequency in ONE global
    # aggregate row, broadcast back to the documents
    stats = narrow.selectExpr(
        "count(*) AS n_docs", "sum(dl) AS tot_dl",
        *[f"count_if(array_contains(mt, {t})) AS _df{i}"
          for i, t in enumerate(lits)])
    # per-term tf over the STAGED mt column: a real cached column, so the
    # count never re-runs the tokenizer per element. mt holds no NULLs,
    # so the elements array_remove drops are exactly the term's matches
    docs = narrow.filter(built(("bm25.matched",), lambda: F.size("mt") > 0)) \
        .selectExpr("doc_id", "dl",
                    *[f"size(mt) - size(array_remove(mt, {t})) AS _tf{i}"
                      for i, t in enumerate(lits)])
    scored = docs.crossJoin(F.broadcast(stats))
    return scored.select("doc_id", built(("bm25.score", n), lambda: _score(n)))


def _sql_string(s: str) -> str:
    """`s` as a Spark SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _score(n: int):
    """The rounded BM25 score over _tf0.._tf{n-1} and _df0.._df{n-1}.

    Op order mirrored verbatim by the oracle SQL: avgdl is one exact
    integer division (BIGINT sums are order-independent), idf's argument
    is rational, only ln() itself is transcendental. The per-doc fold is
    fixed-order, one slot per term, 0.0 for a term the document lacks:
    the oracle's COALESCE(MAX(...), 0.0) slots."""
    avgdl = F.col("tot_dl").cast("double") / F.col("n_docs")

    def contrib(i):
        tf, dfq = F.col(f"_tf{i}"), F.col(f"_df{i}")
        idf_c = F.log(F.lit(1.0) + ((F.col("n_docs") - dfq) + 0.5)
                      / (dfq + 0.5))
        c = idf_c * (tf * K1P1) / (tf + K1 * (ONE_MINUS_B + B * (F.col("dl") / avgdl)))
        return F.when(tf > 0, c).otherwise(F.lit(0.0))

    total = contrib(0)
    for i in range(1, n):
        total = total + contrib(i)
    return F.round(total, 6).alias("score")


def bm25_topk(df: DataFrame, terms: list[str], k: int = 10, *,
              id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Global top-k documents by BM25 score (rounded-score desc, doc_id
    asc — total order, partition-count independent). The limit runs as
    TakeOrderedAndProject; the rank window then sees only k rows."""
    from pyspark.sql import Window
    if k < 1:
        raise ValueError(f"bm25_topk needs k >= 1, got k={k}")

    def build():
        order = (F.desc("score"), F.asc("doc_id"))
        return order, F.row_number().over(Window.orderBy(*order)).alias("rank")

    order, rank = built(("bm25.rank",), build)
    top = (bm25_scores(df, terms, id_col=id_col, text_col=text_col)
           .orderBy(*order).limit(k))
    return top.select("doc_id", "score", rank)


def inverted_postings(df: DataFrame, *, id_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """The scalable inverted-index form: one (term, doc_id) row per
    distinct term occurrence. This is what a 100 TB index build actually
    materializes (bucketed/sorted by term at the sink so term lookups
    are partition-pruned); `inverted_index` below folds it into
    one-row-per-term posting strings for small result sets / oracles.

    `array_distinct` runs BEFORE the explode so the shuffle carries one
    row per (doc, term), not one per token occurrence."""
    tok = df.select(F.col(id_col).cast("long").alias("doc_id"),
                    tokens_col(text_col).alias("t"))
    return tok.select(
        "doc_id", F.explode(F.array_distinct("t")).alias("term"))


def inverted_index(df: DataFrame, *, id_col: str = "doc_id",
                   text_col: str = "text", min_df: int = 2,
                   k: int = 100) -> DataFrame:
    """Top-k index terms with document frequency and full posting list:
    (term, df, postings, rank), df desc then term asc — a total order.

    postings is the comma-joined ASCENDING doc_id list — deterministic
    under any partitioning (collect_list order is not, sort_array fixes
    it) and bit-exact cross-engine (integer ids, no floats anywhere).

    Scale: TWO passes over the (doc, term) pairs, so the posting
    strings are built ONLY for the <= k surviving terms. Pass 1 counts
    df per term (a count shuffle carries no postings); the min_df +
    top-k filter runs on those counts (TakeOrderedAndProject, <= k
    rows); pass 2 semi-joins the pairs to that broadcast term set and
    only then collect_lists. The naive one-pass shape (aggregate the
    posting string for EVERY term, filter after) materializes an
    O(corpus) row per stopword before dropping it — a guaranteed
    executor OOM on a 100 TB corpus. A full-corpus index should still
    persist `inverted_postings` (pairs, bucketed by term), never one
    giant row per stopword."""
    from pyspark.sql import Window

    pairs = inverted_postings(df, id_col=id_col, text_col=text_col)
    dfc = pairs.groupBy("term").agg(F.count("*").alias("df"))
    top = (dfc.filter(F.col("df") >= min_df)
              .orderBy(F.desc("df"), F.asc("term")).limit(k))
    w = Window.orderBy(F.desc("df"), F.asc("term"))
    ranked = top.select("term", "df",
                        F.row_number().over(w).alias("rank"))
    post = (pairs.join(F.broadcast(ranked), "term")
                 .groupBy("term", "df", "rank")
                 .agg(F.array_join(
                     F.transform(F.sort_array(F.collect_list("doc_id")),
                                 lambda x: x.cast("string")),
                     ",").alias("postings")))
    return post.select("term", "df", "postings", "rank").orderBy("rank")


def pmi_topk(df: DataFrame, k: int = 25, *, min_count: int = 5,
             text_col: str = "text") -> DataFrame:
    """Top-k collocations (adjacent word pairs) by pointwise mutual
    information: (gram, cnt, pmi, rank).

    PMI = ln( (c_xy/M) / ((c_x/N) * (c_y/N)) ) with c_xy the bigram
    count, M total bigrams, c_x/c_y unigram counts, N total tokens —
    the classic phrase-mining score (Church & Hanks 1990). Everything
    up to the ln is counts and divisions in a FIXED parenthesization
    (both engines round each double op identically); the ln is
    transcendental, so the score rounds to 6 dp on BOTH sides and the
    ranking orders on the ROUNDED score then gram (CLAUDE.md rule).
    `min_count` drops hapax pairs (classic PMI degenerates to rare
    pairs; 5 is the usual floor).

    Scale: bigrams from each document's own row (dedup._ngrams over
    the staged tokens); ONE groupBy(gram) + ONE groupBy(word) shuffle;
    unigram counts and the 1-row totals broadcast to the bigram side;
    top-k is TakeOrderedAndProject."""
    from pyspark.sql import Window

    tok = df.select(tokens_col(text_col).alias("_toks"))
    uni = (tok.select(F.explode(_ngrams("_toks", 1)).alias("w"))
              .groupBy("w").agg(F.count("*").alias("c")))
    tot_n = uni.agg(F.sum("c").alias("n_tok"))

    big = (tok.select(F.explode(_ngrams("_toks", 2)).alias("gram"))
              .groupBy("gram").agg(F.count("*").alias("cnt")))
    tot_m = big.agg(F.sum("cnt").alias("n_big"))

    u0 = uni.select(F.col("w").alias("_w0"), F.col("c").alias("c0"))
    u1 = uni.select(F.col("w").alias("_w1"), F.col("c").alias("c1"))
    j = (big.filter(F.col("cnt") >= min_count)
            .select("gram", "cnt",
                    F.substring_index("gram", " ", 1).alias("_w0"),
                    F.substring_index("gram", " ", -1).alias("_w1"))
            .join(F.broadcast(u0), "_w0").join(F.broadcast(u1), "_w1")
            .crossJoin(F.broadcast(tot_m)).crossJoin(F.broadcast(tot_n)))
    ratio = (F.col("cnt").cast("double") / F.col("n_big")) / (
        (F.col("c0").cast("double") / F.col("n_tok"))
        * (F.col("c1").cast("double") / F.col("n_tok")))
    scored = j.select("gram", "cnt", F.round(F.log(ratio), 6).alias("pmi"))
    top = scored.orderBy(F.desc("pmi"), F.asc("gram")).limit(k)
    rw = Window.orderBy(F.desc("pmi"), F.asc("gram"))
    return top.select("gram", "cnt", "pmi",
                      F.row_number().over(rw).alias("rank"))


def cosine_pairs(df: DataFrame, *, id_col: str = "doc_id",
                 text_col: str = "text", threshold: float = 0.9,
                 ngram: int = 1, max_df: int | None = None,
                 k: int = 50) -> DataFrame:
    """Top-k document pairs by COUNT-VECTOR cosine over shared terms:
    (id_a, id_b, dot, cos, rank) — the lexical near-duplicate verifier
    (the sparse, exact twin of similarity.embedding_neardup).

    Exactness by construction: the dot product sum(tf_a*tf_b) and both
    squared norms are INTEGER sums (order-independent), and
    cos = dot / (sqrt(ss_a) * sqrt(ss_b)) is one exactly-rounded IEEE
    divide over two exactly-rounded sqrts — bit-identical cross-engine
    with zero rounding tricks (the CLAUDE.md-sanctioned +-*/ / sqrt
    set). Ordering: cos desc, then (id_a, id_b) — total.

    Scale: the pair generation is the classic term-pivot self-join —
    each term with document frequency d contributes d^2 candidate rows,
    so COMMON terms dominate the shuffle. Two independent throttles:
    a larger `ngram` switches the vector space from words to n-grams
    (shared n-grams are rare outside near-duplicates, so the join
    degenerates to candidates — the right default for dedup), and
    `max_df` drops terms above that document frequency BEFORE the join
    (the standard DIMSUM-style pruning; a dropped term only lowers
    cosines of pairs it connects, which a near-dup caller accepts — at
    corpus scale run minhash LSH first and use this as the exact
    verify stage). The groupBy(pair) dot is map-side combinable."""
    from pyspark.sql import Window

    # one exchange of whole rows clusters tf by document (no sort): the
    # per-doc count and the norms need no shuffle of their own, and
    # mostly distinct (doc, term) keys are never shuffled
    tok = df.select(F.col(id_col).cast("long").alias("doc_id"),
                    tokens_col(text_col).alias("_toks")).repartition("doc_id")
    terms = tok.select("doc_id",
                       F.explode(_ngrams("_toks", ngram)).alias("term"))
    tf = (terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
               .persist())  # reused by the norms and both join sides
    norms = tf.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("ss"))
    joinable = tf
    if max_df is not None:
        dfreq = tf.groupBy("term").agg(F.count("*").alias("_df"))
        joinable = tf.join(F.broadcast(dfreq.filter(F.col("_df") <= max_df)
                                       .select("term")), "term")
    a = joinable.select("term", F.col("doc_id").alias("id_a"),
                        F.col("tf").alias("tf_a"))
    b = joinable.select("term", F.col("doc_id").alias("id_b"),
                        F.col("tf").alias("tf_b"))
    dots = (a.join(b, "term").filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.sum(F.col("tf_a") * F.col("tf_b")).alias("dot")))
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("ss").alias("ss_a"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("ss").alias("ss_b"))
    cos = F.col("dot") / (F.sqrt(F.col("ss_a")) * F.sqrt(F.col("ss_b")))
    scored = (dots.join(na, "id_a").join(nb, "id_b")
                  .select("id_a", "id_b", "dot", cos.alias("cos"))
                  .filter(F.col("cos") >= threshold))
    top = scored.orderBy(F.desc("cos"), F.asc("id_a"), F.asc("id_b")).limit(k)
    w = Window.orderBy(F.desc("cos"), F.asc("id_a"), F.asc("id_b"))
    return top.select("id_a", "id_b", "dot", "cos",
                      F.row_number().over(w).alias("rank"))


def ngram_topk(df: DataFrame, n: int = 3, k: int = 25, *,
               text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k word n-grams: (gram, cnt, rank), count desc then
    gram asc (total order — exact cross-engine)."""
    from pyspark.sql import Window

    grams = (df.select(tokens_col(text_col).alias("_toks"))
               .select(F.explode(_ngrams("_toks", n)).alias("gram")))
    counts = (grams.groupBy("gram").agg(F.count("*").alias("cnt"))
                   .orderBy(F.desc("cnt"), F.asc("gram")).limit(k))
    w = Window.orderBy(F.desc("cnt"), F.asc("gram"))
    return counts.select("gram", "cnt",
                         F.row_number().over(w).alias("rank"))


def hybrid_rrf(docs: DataFrame, embeddings: DataFrame, terms: list,
               query_vec_id: int = 0, *, k_each: int = 20,
               k_rrf: int = 60, k: int = 10,
               id_col: str = "doc_id") -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: BM25 text ranks
    and exact-cosine embedding ranks fuse as
    score = 1/(k_rrf + rank_text) + 1/(k_rrf + rank_vec), a missing
    side contributing 0 (Cormack et al. RRF — the standard hybrid
    retrieval fusion in modern search/RAG pipelines).

    Exactness: each term is one 1.0/(k_rrf + integer) division and the
    fusion is a FIXED two-term sum (text + vec, that order), so both
    engines fold identically and the driver hash is bit-exact —
    no rounding needed. Scale shape: both input rankers are already
    top-k-bounded (TakeOrderedAndProject + broadcast query), so the
    fusion join touches at most 2*k_each rows."""
    from pyspark.sql import Window

    from . import similarity

    t = bm25_topk(docs, terms, k_each, id_col=id_col) \
        .select(F.col(id_col).alias("tid"), F.col("rank").alias("rt"))
    q = embeddings.filter(F.col("vec_id") == query_vec_id) \
        .select(F.col("vec_id").alias("qid"), "embedding")
    v = similarity.cosine_topk(embeddings, q, k=k_each,
                               method="catalyst") \
        .select(F.col("vec_id").alias("vid"), F.col("rank").alias("rv"))
    j = t.join(v, t.tid == v.vid, "full_outer")
    fused = j.select(
        F.coalesce(F.col("tid"), F.col("vid")).alias(id_col),
        (F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("rt")), F.lit(0.0))
         + F.coalesce(F.lit(1.0) / (F.lit(k_rrf) + F.col("rv")),
                      F.lit(0.0))).alias("rrf"),
        F.col("rt").alias("rank_text"), F.col("rv").alias("rank_vec"))
    w = Window.orderBy(F.desc("rrf"), F.asc(id_col))
    return (fused.orderBy(F.desc("rrf"), F.asc(id_col)).limit(k)
            .withColumn("rank", F.row_number().over(w).cast("long")))
