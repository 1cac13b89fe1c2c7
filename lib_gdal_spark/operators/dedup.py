"""Deduplication operators for web-scale text corpora.

Not present in the reference (GDAL dedups nothing); required first-class ops
for a training-data pipeline over the pages/documents tables. All hashing is
md5-hex (identical in Spark, DuckDB, and Python — keeps every operator
oracle-checkable) and every step is JVM-side column math: tokenize with
regexp_extract_all, min-hash as the smallest of a document's string hashes.
No Python in the hot path.

Scale notes:
- exact_dedup is one aggregate over one read of its input: the minimum
  of a row struct per md5 digest, with a map-side partial minimum. A
  struct buffer is not a fixed-width hash-aggregate slot, so Spark plans
  it as a sort aggregate. The digest groupBy key is uniform by
  construction (no skew).
- minhash/LSH: signatures are n_hashes array_min columns on each doc's
  own row, no shuffle; the band self-join joins on (band_idx, band_key) — a
  uniformly-hashed key, so the classic skew trap (empty-text hot key) is
  removed by dropping docs with no token first.
- the candidate pair set is verified with exact n-gram Jaccard BEFORE being
  declared duplicates (two-phase discipline again: cheap banding pre-filter,
  exact verify on survivors).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import built

TOKEN_RE = "[a-z0-9]+"


def tokens_col(text_col: str):
    """Lowercased word tokens — JVM regex."""
    return built(("tokens", text_col), lambda: F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(TOKEN_RE), 0))


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exactly one row per distinct text; all NULL texts are one group.

    The row with the smallest non-NULL id wins; a group whose ids are
    all NULL keeps one of them. Rows tied on id are ordered by the
    remaining columns in ``df.columns`` order, so the kept row is
    deterministic. One aggregate reads ``df`` once: the minimum of
    struct(isnull(id), id, other columns) per md5(text), expanded back
    to ``df.columns`` in order. A column type Spark cannot order fails
    at analysis."""
    cols = tuple(df.columns)

    def build():
        rest = [c for c in cols if c != id_col]
        best = F.min(F.struct(F.isnull(id_col).alias("_id_null"),
                              F.col(id_col), *rest)).alias("_best")
        return (F.md5(F.col(text_col)), best,
                [F.col("_best").getField(c).alias(c) for c in cols])

    digest, best, expand = built(("exact_dedup", id_col, text_col, cols),
                                 build)
    return df.groupBy(digest).agg(best).select(*expand)


def _ngrams(toks: str, n: int):
    """The staged token array ``toks``'s runs of n consecutive tokens,
    each joined by single spaces; empty for a doc of fewer than n tokens
    (Spark's sequence(0, -1) descends, so the short doc is its own
    branch). Tokens hold no space, so a caller splits a gram back into
    its words with substring_index."""
    return built(("ngrams", toks, n), lambda: F.when(
        F.size(toks) >= n, F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))))
        .otherwise(F.array().cast("array<string>")))


def _shingle_array(n: int):
    """The staged ``_toks``'s n-gram word shingles joined by single spaces;
    a doc of fewer than n tokens is one shorter shingle ("" for none)."""
    return F.transform(
        F.sequence(F.lit(0), F.greatest(F.size("_toks") - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice("_toks", i + 1, n)))


def shingles(df: DataFrame, id_col: str, text_col: str,
             n: int = 3) -> DataFrame:
    """Distinct (id, shingle) rows: each doc's n-gram word shingle SET,
    what Jaccard needs. A MIN consumer skips this full exchange of the
    shingle table and hashes the per-row array (with_minhash)."""
    toks = df.select(F.col(id_col), tokens_col(text_col).alias("_toks"))
    return (toks.select(id_col, F.explode(_shingle_array(n)).alias("shingle"))
            .filter(F.length("shingle") > 0).distinct())


def with_minhash(df: DataFrame, text_col: str, n_hashes: int = 8,
                 shingle_n: int = 3) -> DataFrame:
    """``df``'s rows with a token, plus mh_i = min over the doc's shingles
    of md5('i|' || shingle) for i < n_hashes on the same row: a valid
    min-hash of a uniform hex hash, portable across engines. No shuffle.

    Staged selects (CLAUDE.md HOF rule): tokens, shingles, hashes. The
    no-token filter tests the SOURCE text: a filter on a staged array is
    pushed below its select and inlines the tokenizer again."""
    def build():
        mh = [F.array_min(F.transform(
                  "_sh", lambda s: F.md5(F.concat(F.lit(f"{i}|"), s))))
              .alias(f"mh_{i}") for i in range(n_hashes)]
        return (F.lower(F.col(text_col)).rlike(TOKEN_RE),
                tokens_col(text_col).alias("_toks"),
                _shingle_array(shingle_n).alias("_sh"), *mh)

    has_token, toks, sh, *mh = built(
        ("with_minhash", text_col, n_hashes, shingle_n), build)
    cols = df.columns
    return (df.filter(has_token).select("*", toks)
            .select(*cols, sh).select(*cols, *mh))


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      n_hashes: int = 8, shingle_n: int = 3) -> DataFrame:
    """(id, mh_0..mh_{n-1}) of with_minhash. Precondition: ids are unique."""
    return with_minhash(df.select(id_col, text_col), text_col, n_hashes,
                        shingle_n).drop(text_col)


def lsh_candidate_pairs(sig: DataFrame, id_col: str,
                        bands: int = 4, rows_per_band: int = 2) -> DataFrame:
    """Banded LSH: docs sharing any band key become a candidate pair (a<b)."""
    band_cols = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band_idx"),
                     F.md5(F.concat_ws("|", *cols)).alias("band_key"))
        )
    banded = sig.select(F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")).select(
        id_col, F.col("bk.band_idx").alias("band_idx"), F.col("bk.band_key").alias("band_key")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, on=["band_idx", "band_key"], how="inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def ngram_jaccard(df: DataFrame, pairs: DataFrame, id_col: str, text_col: str,
                  shingle_n: int = 3) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs (the verify phase).

    J = |A n B| / |A u B| over distinct shingle sets.
    """
    sh = shingles(df, id_col, text_col, shingle_n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("_sz"))
    sha = sh.select(F.col(id_col).alias("id_a"), "shingle")
    shb = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(sha, on="id_a").join(shb, on=["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("_inter"))
    )
    # keep zero-overlap pairs (jaccard = 0) — the verify phase must score
    # every candidate, not only those sharing a shingle
    inter = pairs.join(inter, on=["id_a", "id_b"], how="left").withColumn(
        "_inter", F.coalesce("_inter", F.lit(0))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("_sz", "_sza"), on="id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("_sz", "_szb"), on="id_b")
        .withColumn(
            "jaccard",
            F.col("_inter") / (F.col("_sza") + F.col("_szb") - F.col("_inter")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_dedup(df: DataFrame, id_col: str, text_col: str,
                  threshold: float = 0.8, n_hashes: int = 8,
                  bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """Full near-dup pipeline: signatures -> banded candidates -> exact
    Jaccard verify -> drop the larger id of each duplicate pair (greedy,
    deterministic)."""
    sig = minhash_signature(df, id_col, text_col, n_hashes, shingle_n)
    pairs = lsh_candidate_pairs(sig, id_col, bands, n_hashes // bands)
    dup = ngram_jaccard(df, pairs, id_col, text_col, shingle_n).filter(
        F.col("jaccard") >= threshold
    )
    losers = dup.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def neardup_clusters(df: DataFrame, id_col: str, text_col: str,
                     threshold: float = 0.8, n_hashes: int = 8,
                     bands: int = 4, shingle_n: int = 3) -> DataFrame:
    """Transitive near-dup CLUSTERING: (doc_id, cluster, kept) for every
    document — cluster = min doc id in the connected component of
    verified duplicate pairs (singletons cluster with themselves),
    kept = 1 for the cluster representative.

    This is the production dedup semantics (one survivor per transitive
    cluster — the FineWeb/Gopher-style pipeline shape), vs
    minhash_dedup's greedy pairwise larger-id drop: on a chain a~b~c
    with jaccard(a, c) below threshold the greedy rule drops b and c
    while clustering keeps exactly one of {a, b, c}. Deterministic end
    to end (md5 minhashes -> band equi-join -> exact Jaccard verify ->
    min-label components), hence exactly oracle-able.

    Scale: the pair stages are the bucketed minhash_dedup stages; the
    component pass runs graph.connected_components over ONLY the
    verified duplicate edges (a vanishing fraction of the corpus), with
    the per-round localCheckpoint discipline."""
    from .graph import connected_components

    sig = minhash_signature(df, id_col, text_col, n_hashes, shingle_n)
    pairs = lsh_candidate_pairs(sig, id_col, bands, n_hashes // bands)
    dup = ngram_jaccard(df, pairs, id_col, text_col, shingle_n).filter(
        F.col("jaccard") >= threshold
    )
    edges = dup.select(F.col("id_a").cast("long").alias("src"),
                       F.col("id_b").cast("long").alias("dst"))
    comp = connected_components(edges)
    return (
        df.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(comp, F.col("doc_id") == F.col("vertex"), "left")
        .select("doc_id",
                F.coalesce("component", F.col("doc_id")).alias("cluster"))
        .withColumn("kept",
                    (F.col("doc_id") == F.col("cluster")).cast("int"))
    )


def simhash(df: DataFrame, id_col: str, text_col: str, n_bits: int = 16) -> DataFrame:
    """SimHash over word tokens: bit i = sign of sum over tokens of
    (bit_i(md5(token)) ? +1 : -1). n_bits<=32, taken from the first 8 hex
    chars of the token hash. Portable (md5 + integer math only).
    """
    toks = df.select(F.col(id_col), F.explode(tokens_col(text_col)).alias("_tok"))
    h = F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10).cast("long")
    toks = toks.withColumn("_h", h)
    bit_aggs = [
        F.sum(
            F.when(F.shiftright(F.col("_h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"_b{i}")
        for i in range(n_bits)
    ]
    per_doc = toks.groupBy(id_col).agg(*bit_aggs)
    sim = None
    for i in range(n_bits):
        term = F.when(F.col(f"_b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return per_doc.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_dup_pairs(sh: DataFrame, id_col: str, max_hamming: int = 2,
                      n_bits: int = 16, blocks: int = 4) -> DataFrame:
    """Near-dup pairs by SimHash: block the n_bits into `blocks` chunks
    (pigeonhole: hamming<=blocks-1 implies an identical chunk), join on any
    identical chunk, verify exact Hamming distance."""
    per = n_bits // blocks
    chunk_cols = [
        F.struct(
            F.lit(b).alias("blk"),
            F.shiftright(F.col("simhash"), b * per).bitwiseAND(F.lit((1 << per) - 1)).alias("key"),
        )
        for b in range(blocks)
    ]
    blocked = sh.select(id_col, "simhash", F.explode(F.array(*chunk_cols)).alias("c")).select(
        id_col, "simhash", F.col("c.blk").alias("blk"), F.col("c.key").alias("key")
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    pairs = (
        a.join(b, on=["blk", "key"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return pairs.withColumn("hamming", ham).filter(
        F.col("hamming") <= max_hamming
    ).select("id_a", "id_b", "hamming")


def contamination_check(corpus: DataFrame, benchmark: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        shingle_n: int = 8) -> DataFrame:
    """Benchmark-contamination scan: for every corpus document, the
    fraction of its distinct n-gram shingles that appear in ANY benchmark
    document (the GPT-3/PaLM-style eval-decontamination test).

    Scale shape: the benchmark side is the small one by construction
    (eval suites are KBs; the corpus is the 100 TB side), so its distinct
    shingle set is broadcast and the probe is a map-side left-semi join —
    the corpus is scanned once, shuffled only by `id_col` for the
    per-document counts. No all-pairs anything.

    Output: one row per corpus document —
    (id_col, n_grams, n_hits, contam_frac), contaminated docs first-class
    (contam_frac = 1.0 when the doc IS a benchmark doc).
    """
    c = shingles(corpus, id_col, text_col, shingle_n)
    b = shingles(benchmark, id_col, text_col, shingle_n) \
        .select("shingle").distinct()
    per_doc = c.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    hits = (
        c.join(F.broadcast(b), on="shingle", how="left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        per_doc.join(hits, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0))
             / F.col("n_grams").cast("double")).alias("contam_frac"),
        )
    )


def exact_substr_spans(df: DataFrame, k: int = 8, id_col: str = "doc_id",
                       text_col: str = "text",
                       min_dup: int = 2) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2022, "Deduplicating Training Data
    Makes Language Models Better"): find every maximal token span that
    appears at least `min_dup` times across the corpus, per document.

    Method (relational recast of the suffix-array scan): hash every
    k-gram of tokens (md5 13-hex -> exact 52-bit int, the engine's
    cross-engine hash); count corpus-wide occurrences per hash; keep
    each doc's positions whose k-gram is duplicated; merge consecutive
    duplicated positions into maximal spans with the gaps-and-islands
    window (pos - row_number() is constant inside an island). A span
    [start, start+n_grams+k-1) then shares >= k tokens with another
    occurrence everywhere along its length — the paper's "duplicated
    substring of length >= k" set, at k-gram resolution.

    Output: (doc_id, span_start, span_len) in token offsets (0-based),
    one row per maximal duplicated span. All integers + md5 -> exactly
    oracle-able.

    Scale shape: each doc's k-grams come from its own row (the staged
    tokens, then _ngrams; a gram's posexplode index is its start token),
    so nothing shuffles before one groupBy(hash) for corpus counts, one
    broadcast-or-shuffle join back on the hash key and one per-doc
    island window. No all-pairs anything; the hash-count table is the
    only corpus-global state."""
    tok = df.select(F.col(id_col).alias("doc_id"),
                    tokens_col(text_col).alias("_toks"))
    pos = tok.select("doc_id", F.posexplode(_ngrams("_toks", k))
                     .alias("pos", "gram")) \
             .select("doc_id", "pos",
                     F.conv(F.substring(F.md5("gram"), 1, 13), 16, 10)
                      .cast("long").alias("h"))
    counts = pos.groupBy("h").agg(F.count("*").alias("occ"))
    dup = (pos.join(counts.filter(F.col("occ") >= min_dup), "h")
              .select("doc_id", "pos"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup.withColumn("_isl", F.col("pos") - F.row_number().over(w))
    return (islands.groupBy("doc_id", "_isl")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") - F.min("pos") + k).alias("span_len"))
            .drop("_isl")
            .select("doc_id", "span_start", F.col("span_len")))
