"""Boundary goldens for the word n-gram builder (dedup._ngrams) and the
operators that read it: documents of 0, 1, n-1, n and n+1 tokens and a
NULL text, checked against a plain-Python recomputation of the same
tokens, n-grams, counts and positions."""

import hashlib
import math
import re
from collections import Counter

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lib_gdal_spark.operators import dedup, relevance, textops

N = 3
TEXTS = {
    1: "",                                    # 0 tokens
    2: "Alpha!",                              # 1
    3: "alpha, beta",                         # n - 1
    4: "alpha beta gamma",                    # n
    5: "alpha beta gamma alpha",              # n + 1
    6: None,                                  # NULL text
    7: "alpha beta gamma alpha beta gamma",   # a repeated n-gram
}


def _docs(spark):
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": list(TEXTS), "text": list(TEXTS.values())}),
        "doc_id long, text string")


def _tokens(text):
    return re.findall(dedup.TOKEN_RE, text.lower()) if text is not None else []


def _grams(text, n=N):
    t = _tokens(text)
    return [" ".join(t[i:i + n]) for i in range(len(t) - n + 1)]


@pytest.mark.parametrize("n", [1, 2, N])
def test_helper_matches_python(spark, n):
    staged = _docs(spark).select("doc_id", dedup.tokens_col("text").alias("_toks"))
    got = {r.doc_id: list(r.g) for r in
           staged.select("doc_id", dedup._ngrams("_toks", n).alias("g")).collect()}
    assert got == {i: _grams(t, n) for i, t in TEXTS.items()}


def test_ngram_topk(spark):
    cnt = Counter(g for t in TEXTS.values() for g in _grams(t))
    order = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))
    want = [(g, c, r) for r, (g, c) in enumerate(order, 1)]
    got = [tuple(r) for r in relevance.ngram_topk(_docs(spark), N, 100).collect()]
    assert got == want


def test_cosine_pairs(spark):
    tf = {i: Counter(_grams(t)) for i, t in TEXTS.items()}
    want = []
    for a in sorted(tf):
        for b in sorted(tf):
            dot = sum(c * tf[b][g] for g, c in tf[a].items())
            if a < b and dot:
                ss = [sum(c * c for c in tf[d].values()) for d in (a, b)]
                want.append((a, b, dot, dot / (math.sqrt(ss[0]) * math.sqrt(ss[1]))))
    want.sort(key=lambda r: (-r[3], r[0], r[1]))
    got = relevance.cosine_pairs(_docs(spark), threshold=0.0, ngram=N, k=100).collect()
    assert [tuple(r) for r in got] == [(*w, i) for i, w in enumerate(want, 1)]


def test_exact_substr_spans(spark):
    occ = Counter(g for t in TEXTS.values() for g in _grams(t))
    want = set()
    for i, t in TEXTS.items():
        pos = [p for p, g in enumerate(_grams(t)) if occ[g] >= 2]
        for p in pos:                          # islands of consecutive starts
            if p - 1 not in pos:
                end = p
                while end + 1 in pos:
                    end += 1
                want.add((i, p, end - p + N))
    got = {tuple(r) for r in dedup.exact_substr_spans(_docs(spark), k=N).collect()}
    assert want and got == want


def test_repetition_ratio(spark):
    want = {}
    for i, t in TEXTS.items():
        g = _grams(t)
        want[i] = (len(g), len(set(g)), 1.0 - len(set(g)) / len(g) if g else 0.0)
    got = {r.doc_id: (r.n_ngrams, r.n_distinct, r.dup_ratio)
           for r in textops.repetition_ratio(_docs(spark), n=N).collect()}
    assert got == want


def test_winnow_fingerprints(spark):
    def md5_hash(c):
        return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

    window = 2
    want = set()
    for i, t in TEXTS.items():
        h = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in _grams(t)]
        if len(h) >= window:
            want |= {(i, min(h[j:j + window])) for j in range(len(h) - window + 1)}
        elif h:                                # shorter than one window
            want.add((i, min(h)))
    got = {tuple(r) for r in textops.winnow_fingerprints(
        _docs(spark), k=N, window=window, hash_fn=md5_hash).collect()}
    assert got == want
