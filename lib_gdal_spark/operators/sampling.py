"""Training-data assembly operators: deterministic splits, per-domain
quotas, and sequence packing.

These have no single reference counterpart — they are the assembly
stage a 100 TB crawl-to-training pipeline needs AFTER the GDAL-style
filtering/dedup operators (SURVEY §2 + the dedup/textops family). All
three follow the repo's exactness discipline:

- `dataset_split`: md5-derived uniform in [0, 1) (13 hex digits ->
  exact 52-bit integer / 2^52 — the same bit-identical construction the
  geometry queries use) compared against cumulative weights. Pure JVM
  column math; no shuffle at all.
- `host_quota`: cap rows per key with a deterministic row_number
  (orderBy given column THEN id — partition-count independent per
  CLAUDE.md tie-break rule). One shuffle on the key, as any top-k per
  group must.
- `sequence_pack`: greedy first-fit document packing into fixed token
  budgets — the recurrence acc' = acc+t if acc+t <= B else t is
  inherently sequential, so packing runs PER HASH BUCKET
  (applyInPandas); buckets are independent and count scales with the
  cluster. The duckdb twin replays the recurrence as a recursive CTE,
  so even this sequential op is hash-verified exactly.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from ..session import built

_POW52 = float(2 ** 52)
TEMP_SEED = "temp|"  # temperature_resample's unit-hash seed
RATE_COL = "keep_rate"  # temperature_resample's output column


def _unit_hash(key_col: str, seed: str):
    """md5(seed || key) -> exact double in [0, 1): 13 hex digits are a
    52-bit integer, and division by 2^52 is an exact power-of-two
    scale — Spark, duckdb and Python produce identical bits. Built once
    per (key_col, seed)."""
    def build():
        h = F.conv(F.substring(F.md5(F.concat(
            F.lit(seed), F.col(key_col).cast("string"))), 1, 13),
            16, 10).cast("long").cast("double")
        return h / F.lit(_POW52)
    return built(("unit_hash", key_col, seed), build)


def dataset_split(df: DataFrame, key_col: str, weights=None,
                  seed: str = "split|",
                  out_col: str = "split") -> DataFrame:
    """Deterministic train/val/test assignment by key hash. weights:
    ordered {name: fraction} (defaults 0.9/0.05/0.05); the last split
    absorbs any remainder. Same key -> same split across runs, engines
    and partitionings."""
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    u = _unit_hash(key_col, seed)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += float(weights[name])
        branch = (expr.when if expr is not None else F.when)
        expr = branch(u < F.lit(acc), F.lit(name))
    expr = expr.otherwise(F.lit(names[-1]))
    return df.withColumn(out_col, expr)


def unit_hash_sql(key_expr: str, seed: str) -> str:
    """The duckdb twin of `_unit_hash` — identical bits by construction
    (13 hex digits -> exact 52-bit integer, exact power-of-two scale)."""
    return (f"CAST(('0x' || substr(md5('{seed}' || CAST({key_expr} AS "
            f"VARCHAR)), 1, 13))::BIGINT AS DOUBLE) / {_POW52!r}")


def split_thresholds_sql(key_expr: str, weights=None,
                         seed: str = "split|") -> str:
    """The duckdb twin of dataset_split's CASE, sharing constants."""
    if weights is None:
        weights = {"train": 0.9, "val": 0.05, "test": 0.05}
    u = unit_hash_sql(key_expr, seed)
    names = list(weights)
    acc = 0.0
    cases = []
    for name in names[:-1]:
        acc += float(weights[name])
        cases.append(f"WHEN {u} < {acc!r} THEN '{name}'")
    return "CASE " + " ".join(cases) + f" ELSE '{names[-1]}' END"


def temperature_resample(df: DataFrame, group_col: str, id_col: str, *,
                         alpha: float = 0.5, frac: float = 0.5) -> DataFrame:
    """Temperature-based corpus rebalancing (the mC4/XLM-R multilingual
    resampling step): downsample over-represented groups toward
    ``share^alpha``-proportional balance without upsampling anything.

    Per group g with n_g rows, the keep rate is

        rate_g = min(1, frac * (n_max / n_g) ** (1 - alpha))

    so the LARGEST group keeps exactly ``frac`` of its rows and rarer
    groups keep progressively more (clamped at 1 — no row is ever
    duplicated). alpha=1 is uniform ``frac`` sampling, alpha=0 fully
    flattens the distribution (each group targets n_max * frac rows).
    A row is kept iff md5-unit-hash(TEMP_SEED || id) < rate_g —
    deterministic across runs, engines and partitionings.

    Exactness: for alpha in {0.0, 0.5, 1.0} the rate uses only integer
    division, sqrt and one multiply (all correctly-rounded IEEE ops, so
    Spark and duckdb produce identical bits — CLAUDE.md op whitelist);
    other alphas go through pow(), which is NOT in the whitelist — fine
    for production use, but don't claim an exact oracle for them.

    Scale shape: one count aggregate over the (small) group dimension;
    one global aggregate over those few per-group rows collects them with
    n_max, and inline() expands them back, so the input is read once for
    the counts and once for the rows (no self-join, no scalar subquery
    and no unpartitioned window); a broadcast join of the per-group rates
    back onto the corpus — no corpus-wide shuffle at all. Groups are few
    by contract: the rates are broadcast. Output = input columns +
    RATE_COL on the kept rows."""
    n_g, groups, n_max, same_grp, keep = built(
        ("temperature_resample", group_col, id_col), lambda: (
            F.count("*").alias("n_g"),
            F.collect_list(F.struct(F.col(group_col).alias("_grp"),
                                    F.col("n_g"))).alias("_groups"),
            F.max("n_g").alias("n_max"),
            # null-safe join: a NULL group is a real group (groupBy counts
            # it and it gets a rate like any other) — a plain equi-join
            # would silently DROP every null-group row instead of sampling
            F.col(group_col).eqNullSafe(F.col("_grp")),
            _unit_hash(id_col, TEMP_SEED) < F.col(RATE_COL)))
    counts = df.groupBy(group_col).agg(n_g)
    # the rate depends on the call's alpha and frac: one SQL string over
    # the count and n_max, with every literal typed DOUBLE
    ratio = "CAST(n_max AS DOUBLE) / CAST(n_g AS DOUBLE)"
    expo = 1.0 - float(alpha)
    if expo == 0.5:
        scaled = f"sqrt({ratio})"
    elif expo == 1.0:
        scaled = ratio
    elif expo == 0.0:
        scaled = "1.0D"
    else:
        scaled = f"pow({ratio}, {_sql_double(expo)})"
    rates = (counts.agg(groups, n_max).selectExpr("inline(_groups)", "n_max")
             .selectExpr("_grp", f"least(1.0D, {_sql_double(frac)} * {scaled})"
                                 f" AS {RATE_COL}"))
    return (df.join(F.broadcast(rates), same_grp)
              .drop("_grp")
              .filter(keep))


def _sql_double(x: float) -> str:
    """Finite `x` as a Spark SQL DOUBLE literal (a bare decimal parses
    as DECIMAL)."""
    return f"{float(x)!r}D"


def temperature_rate_sql(group_expr: str, table: str = "documents", *,
                         alpha: float = 0.5, frac: float = 0.5) -> str:
    """duckdb twin of temperature_resample's per-group rate CTEs: returns
    ``c AS (...), m AS (...), r AS (...)`` where r = (group, keep_rate)
    mirroring the engine's op order exactly (alpha in {0, 0.5, 1} only).
    frac is injected in e-notation (duckdb bare-decimal-literal trap)."""
    expo = 1.0 - float(alpha)
    ratio = "CAST(n_max AS DOUBLE) / CAST(n_g AS DOUBLE)"
    if expo == 0.5:
        scaled = f"sqrt({ratio})"
    elif expo == 1.0:
        scaled = ratio
    elif expo == 0.0:
        scaled = "CAST(1.0 AS DOUBLE)"
    else:
        raise ValueError("exact oracle only for alpha in {0, 0.5, 1}")
    return (
        f"c AS (SELECT {group_expr} AS grp, COUNT(*) AS n_g "
        f"FROM {table} GROUP BY 1), "
        f"m AS (SELECT MAX(n_g) AS n_max FROM c), "
        f"r AS (SELECT grp, LEAST(CAST(1.0 AS DOUBLE), "
        f"{float(frac):.17e}::DOUBLE * {scaled}) AS keep_rate "
        f"FROM c CROSS JOIN m)")


def _hashed_ngram_buckets(df: DataFrame, id_col: str, text_col: str,
                          n_buckets: int, seed: str) -> DataFrame:
    """(id, bucket, c): hashed uni+bigram feature counts per document —
    the DSIR feature map (word unigrams and bigrams hashed into
    n_buckets, Xie et al. 2023 'Data Selection for Language Models via
    Importance Resampling'). Bucket = md5 13-hex % n_buckets, the same
    cross-engine-exact construction sequence_pack uses. Map-side explode
    into ONE groupBy — no other shuffle."""
    from .dedup import _ngrams, tokens_col

    toks = df.select(F.col(id_col).alias("_id"),
                     tokens_col(text_col).alias("_t"))
    ng = toks.select("_id", F.explode(F.concat("_t", _ngrams("_t", 2)))
                     .alias("_ng"))
    b = F.conv(F.substring(F.md5(F.concat(F.lit(seed), F.col("_ng"))),
                           1, 13), 16, 10).cast("long") % n_buckets
    return (ng.select("_id", b.alias("bucket"))
            .groupBy("_id", "bucket")
            .agg(F.count(F.lit(1)).alias("c")))


def dsir_scores(raw: DataFrame, target: DataFrame, *,
                id_col: str = "doc_id", text_col: str = "text",
                n_buckets: int = 512, seed: str = "dsir|",
                score_col: str = "dsir_score") -> DataFrame:
    """DSIR importance scores: how much more a document looks like the
    TARGET distribution than the RAW corpus, via hashed n-gram
    log-likelihood ratios (Xie et al. 2023).

        score(doc) = sum_b c_doc[b] * ln(p_target[b] / p_raw[b])

    with Laplace-smoothed bucket probabilities
    p[b] = (count[b] + 1) / (total + n_buckets). Downstream selection is
    top-k by score or a hash-thresholded keep at rate proportional to
    exp(score) — both deterministic.

    Exactness: each per-bucket term c * ln-ratio is the SAME double on
    both engines (identical expression tree), and the per-doc fold goes
    through DECIMAL(38,18) so it is order-independent under any
    partitioning (CLAUDE.md decimal-sum rule); ln() itself is
    transcendental, so oracle-facing consumers still round the final
    score to 6 dp on both sides and order on the ROUNDED score with an
    id tie-break (the bm25 discipline).

    Scale shape: one explode+groupBy over each corpus (the raw side is
    the only corpus-sized shuffle, and its exchange carries (id, bucket,
    count) — never raw text); the per-bucket log-ratio table is
    n_buckets rows, broadcast; one final groupBy(id). No driver-side
    data paths — totals ride a 1-row cross-joined aggregate."""
    rb = _hashed_ngram_buckets(raw, id_col, text_col, n_buckets, seed)
    tb = _hashed_ngram_buckets(target, id_col, text_col, n_buckets, seed)
    r_cnt = rb.groupBy("bucket").agg(F.sum("c").alias("_rc"))
    t_cnt = tb.groupBy("bucket").agg(F.sum("c").alias("_tc"))
    # totals fold the n_buckets-row per-bucket tables, NOT the corpus:
    # integer sums are associative, so sum-of-bucket-sums is the same
    # BIGINT as a direct corpus sum — and this saves one full
    # tokenize+hash evaluation of rb per corpus (rb is corpus-sized and
    # deliberately not cached; CLAUDE.md wide-intermediate rule)
    r_tot = r_cnt.agg(F.sum("_rc").alias("_rt"))
    t_tot = t_cnt.agg(F.sum("_tc").alias("_tt"))
    # every bucket gets a ratio (missing counts -> 0 via outer join of
    # the two small per-bucket tables), Laplace-smoothed on both sides
    ratios = (r_cnt.join(t_cnt, "bucket", "full_outer")
              .select("bucket",
                      F.coalesce("_rc", F.lit(0)).alias("_rc"),
                      F.coalesce("_tc", F.lit(0)).alias("_tc"))
              .crossJoin(F.broadcast(r_tot)).crossJoin(F.broadcast(t_tot))
              .select("bucket", F.log(
                  ((F.col("_tc") + F.lit(1.0))
                   / (F.col("_tt") + F.lit(float(n_buckets))))
                  / ((F.col("_rc") + F.lit(1.0))
                     / (F.col("_rt") + F.lit(float(n_buckets))))
              ).alias("_lr")))
    term = (F.col("c") * F.col("_lr")).cast("decimal(38,18)")
    return (rb.join(F.broadcast(ratios), "bucket")
            .groupBy(F.col("_id").alias(id_col))
            .agg(F.sum(term).cast("double").alias(score_col)))


def host_quota(df: DataFrame, key_col: str, quota: int, order_col: str,
               id_col: str, out_col: str = "key_rank") -> DataFrame:
    """Keep at most `quota` rows per key (domain caps, crawl budgets).
    Deterministic rank: (order_col, id_col) — the id tie-break makes the
    kept set partition-count independent."""
    w = Window.partitionBy(key_col).orderBy(F.col(order_col),
                                            F.col(id_col))
    return (df.withColumn(out_col, F.row_number().over(w))
            .filter(F.col(out_col) <= quota))


def sequence_pack(df: DataFrame, id_col: str, tokens_col: str,
                  budget: int, n_buckets: int = 64,
                  seed: str = "pack|") -> DataFrame:
    """Greedy first-fit packing of documents into fixed token budgets
    (training context windows): within each hash bucket, documents in
    id order accumulate into the current bin while they fit; a doc that
    would overflow starts the next bin (an over-budget doc gets a bin
    of its own). -> (id, tokens, bucket, bin, off) where `off` is the
    doc's start offset inside its bin.

    Scale shape: the recurrence is sequential per bucket but buckets
    are independent — n_buckets bounds task granularity, not
    correctness (any bucket count gives a valid packing; the CHOSEN
    count is part of the deterministic result)."""
    from ..session import ship_package

    ship_package(df.sparkSession)
    b = F.conv(F.substring(F.md5(F.concat(F.lit(seed),
                                          F.col(id_col).cast("string"))),
                           1, 13), 16, 10).cast("long") % n_buckets
    src = df.select(F.col(id_col).alias("id"),
                    F.col(tokens_col).cast("long").alias("tokens"),
                    b.alias("bucket"))

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values("id").reset_index(drop=True)
        bins = []
        offs = []
        cur_bin = 0
        acc = 0
        first = True
        for t in pdf["tokens"]:
            t = int(t)
            if first or acc + t <= budget:
                offs.append(acc)
                acc += t
                first = False
            else:
                cur_bin += 1
                offs.append(0)
                acc = t
            bins.append(cur_bin)
        return pd.DataFrame({"id": pdf["id"], "tokens": pdf["tokens"],
                             "bucket": pdf["bucket"], "bin": bins,
                             "off": offs})

    return src.groupBy("bucket").applyInPandas(
        pack, "id long, tokens long, bucket long, bin long, off long")


def chunk_documents(df: DataFrame, chunk: int = 64, stride: int = 48, *,
                    id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Sliding-window token chunking (the context-window splitter that
    feeds `sequence_pack`): windows of `chunk` tokens starting every
    `stride` tokens, last window truncated at the document end.

    -> (doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_fp) with
    chunk_fp = md5 of the space-joined window tokens — md5 of identical
    strings is bit-identical cross-engine, so the whole output is
    exactly oracle-able (integers + md5 hex, no floats at all).

    Scale shape: chunk hashes are built INSIDE a transform() lambda
    over the start sequence against a STAGED token-array column
    (CLAUDE.md higher-order-fn rule), so the exchange never carries
    token arrays duplicated per chunk: per-doc work is
    O(n_tokens * chunk / stride) and the exploded rows are narrow
    (ints + one 32-char hex string). Zero shuffles — fully map-side."""
    from .dedup import tokens_col as _toks

    if stride <= 0 or chunk <= 0:
        raise ValueError("chunk and stride must be positive")
    base = (df.select(F.col(id_col).alias("doc_id"),
                      _toks(text_col).alias("t"))
              .filter(F.size("t") > 0)
              .select("doc_id", "t", F.size("t").alias("n")))
    pairs = base.select(
        "doc_id", "n",
        F.expr(
            f"transform(sequence(0, n - 1, {stride}), s -> struct("
            f"  s AS start_tok,"
            f"  least({chunk}, n - s) AS n_chunk_tokens,"
            f"  md5(concat_ws(' ', slice(t, s + 1, least({chunk}, n - s))))"
            f"    AS chunk_fp))"
        ).alias("chunks"))
    out = pairs.select("doc_id", F.posexplode("chunks").alias("chunk_idx",
                                                              "c"))
    return out.select("doc_id", F.col("chunk_idx").cast("long"),
                      F.col("c.start_tok").cast("long").alias("start_tok"),
                      F.col("c.n_chunk_tokens").cast("long")
                       .alias("n_chunk_tokens"),
                      F.col("c.chunk_fp").alias("chunk_fp"))


def unimax_allocation(df: DataFrame, group_col: str = "lang",
                      size_col: str = "n_chars", *,
                      budget: float | None = None,
                      budget_frac: float = 0.4,
                      epochs_cap: float = 3.0) -> DataFrame:
    """UniMax language sampling (Chung et al. 2023): allocate a total
    training budget across languages by water-filling — languages
    ascending by size each get min(epochs_cap * size, fair share of
    what remains), so no language repeats more than `epochs_cap`
    epochs and head languages absorb the slack uniformly.

    The per-language histogram is a bounded dimension (a language
    count, never corpus-sized), so — exactly like the reference's own
    bounded folds (gdalenhance's 256-bin LUT, rgb2pct's 32768-code
    histogram) — the distributed part is ONE groupBy; the sequential
    water-fill runs driver-side over that constant-size list and the
    result broadcasts back trivially. Deterministic: languages sort by
    (size, name); every float op is replayed in the same order by the
    duckdb recursive-CTE twin, so allocations are bit-exact
    cross-engine.

    Returns one row per group: (group_col, n_docs, chars, alloc).
    """
    sizes = df.groupBy(group_col).agg(
        F.count("*").alias("n_docs"),
        F.sum(size_col).cast("long").alias("chars"))
    rows = sorted(sizes.collect(),
                  key=lambda r: (r["chars"], r[group_col]))
    if budget is None:
        total = sum(int(r["chars"]) for r in rows)
        budget = float(total) * budget_frac
    n_groups = len(rows)
    remaining = float(budget)
    out = []
    for i, r in enumerate(rows):
        per = remaining / (n_groups - i)
        a = min(epochs_cap * float(r["chars"]), per)
        remaining -= a
        out.append((r[group_col], int(r["n_docs"]), int(r["chars"]),
                    float(a)))
    spark = df.sparkSession
    return spark.createDataFrame(
        pd.DataFrame(out, columns=[group_col, "n_docs", "chars", "alloc"]),
        f"{group_col} string, n_docs long, chars long, alloc double")
