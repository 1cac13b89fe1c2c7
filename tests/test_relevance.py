"""BM25 / n-gram / chunking goldens — hand-computed, partition-invariant."""

import hashlib
import math
import re
import uuid

import pytest
from pyspark.sql import functions as F

from lib_gdal_spark.operators import relevance, sampling


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestBM25:
    ROWS = [(1, "a b a c"), (2, "a d"), (3, "e f g")]

    def _expected(self):
        # N=3, dl = 4/2/3, avgdl = 9/3 = 3, df(a)=2, df(b)=1
        idf_a = math.log(1.0 + ((3 - 2) + 0.5) / (2 + 0.5))
        idf_b = math.log(1.0 + ((3 - 1) + 0.5) / (1 + 0.5))
        k1, b, k1p1, omb = relevance.K1, relevance.B, relevance.K1P1, \
            relevance.ONE_MINUS_B

        def c(tf, dl, idf):
            return idf * (tf * k1p1) / (tf + k1 * (omb + b * (dl / 3.0)))

        s1 = round(c(2, 4, idf_a) + c(1, 4, idf_b), 6)
        s2 = round(c(1, 2, idf_a) + 0.0, 6)
        return s1, s2

    def test_hand_computed_scores(self, spark):
        out = relevance.bm25_topk(_docs(spark, self.ROWS), ["a", "b"], 10)
        rows = {r.doc_id: (r.score, r.rank) for r in out.collect()}
        s1, s2 = self._expected()
        assert set(rows) == {1, 2}          # doc 3 matches no term
        assert rows[1] == (s1, 1)
        assert rows[2] == (s2, 2)
        assert s1 > s2

    def test_tie_break_on_doc_id(self, spark):
        # identical docs -> identical scores -> rank by doc_id
        out = relevance.bm25_topk(
            _docs(spark, [(7, "a b"), (3, "a b"), (5, "x")]), ["a"], 10)
        assert [(r.doc_id, r.rank) for r in out.collect()] == [(3, 1), (7, 2)]

    def test_partition_invariant(self, spark):
        d = _docs(spark, [(i, f"a b {'c ' * (i % 5)}") for i in range(40)])
        a = relevance.bm25_topk(d.repartition(1), ["a", "c"], 10).collect()
        b = relevance.bm25_topk(d.repartition(16), ["a", "c"], 10).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_plan_shape(self, spark):
        # pin the 100 TB shape: corpus tokenized ONCE (persisted narrow
        # projection feeds the stats and the scoring), one row per
        # document (no explode), no shuffle on doc_id, and the global
        # top-k is TakeOrderedAndProject (never a single-partition sort)
        d = _docs(spark, [(1, "a b"), (2, "b c")])
        plan = relevance.bm25_topk(d, ["a", "b"], 5)._jdf \
            .queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "InMemoryTableScan" in plan
        assert "Generate" not in plan
        assert not re.search(r"Exchange hashpartitioning\(doc_id", plan)

    def test_request_jobs_and_cache_flat(self, spark, monkeypatch):
        # a warm repeated request runs <= 3 jobs and persists or
        # broadcasts nothing new
        from pyspark import SparkContext

        d = _docs(spark, [(i, f"a b {'c ' * (i % 5)}") for i in range(40)])
        jsc = spark.sparkContext._jsc
        relevance.bm25_topk(d, ["a", "c"], 10).collect()
        before = jsc.getPersistentRDDs().size()
        broadcasts = []
        bc = SparkContext.broadcast
        monkeypatch.setattr(SparkContext, "broadcast",
                            lambda self, v: broadcasts.append(1) or bc(self, v))
        sc = spark.sparkContext
        for _ in range(3):
            group = f"bm25-{uuid.uuid4().hex}"
            sc.setJobGroup(group, group)
            try:
                relevance.bm25_topk(d, ["a", "c"], 10).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
        assert jsc.getPersistentRDDs().size() == before
        assert broadcasts == []

    def test_absent_term_scores_zero_slot(self, spark):
        # a term no document holds adds a 0.0 slot: scores equal the
        # query without it (df = 0 never reaches a score); terms with a
        # quote or a backslash go into the plan as exact string literals
        d = _docs(spark, self.ROWS)
        odd = ["it's", "back\\slash'"]
        a = relevance.bm25_topk(d, ["a", "b"], 10).collect()
        b = relevance.bm25_topk(d, ["a", "zzz", *odd, "b"], 10).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]
        for t in odd:
            assert spark.sql(f"SELECT {relevance._sql_string(t)}").first()[0] == t

    @pytest.mark.parametrize("terms,k", [([], 10), (["a"], 0)])
    def test_bad_input_refused(self, spark, terms, k):
        with pytest.raises(ValueError):
            relevance.bm25_topk(_docs(spark, self.ROWS), terms, k)

    def test_empty_terms_refused_in_scores(self, spark):
        with pytest.raises(ValueError, match="query term"):
            relevance.bm25_scores(_docs(spark, self.ROWS), [])


class TestNgramTopk:
    def test_hand_computed(self, spark):
        d = _docs(spark, [(1, "x y z x y"), (2, "x y z")])
        out = relevance.ngram_topk(d, 3, 10).collect()
        # trigrams: doc1 -> "x y z", "y z x", "z x y"; doc2 -> "x y z"
        assert [(r.gram, r.cnt, r.rank) for r in out] == [
            ("x y z", 2, 1), ("y z x", 1, 2), ("z x y", 1, 3)]

    def test_short_docs_skipped(self, spark):
        d = _docs(spark, [(1, "only two"), (2, "")])
        assert relevance.ngram_topk(d, 3, 10).count() == 0


class TestChunkDocuments:
    def test_hand_computed(self, spark):
        d = _docs(spark, [(1, "t0 t1 t2 t3 t4")])
        out = sampling.chunk_documents(d, chunk=3, stride=2)
        rows = sorted((r.chunk_idx, r.start_tok, r.n_chunk_tokens,
                       r.chunk_fp) for r in out.collect())

        def fp(s):
            return hashlib.md5(s.encode()).hexdigest()

        assert rows == [
            (0, 0, 3, fp("t0 t1 t2")),
            (1, 2, 3, fp("t2 t3 t4")),
            (2, 4, 1, fp("t4")),
        ]

    def test_empty_docs_dropped(self, spark):
        d = _docs(spark, [(1, "..."), (2, "a")])
        out = sampling.chunk_documents(d, chunk=4, stride=4).collect()
        assert [(r.doc_id, r.n_chunk_tokens) for r in out] == [(2, 1)]

    def test_no_shuffle(self, spark):
        d = _docs(spark, [(1, "a b c d e f")])
        plan = sampling.chunk_documents(d, 4, 2)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "Exchange" not in plan


class TestLmCrossentropy:
    def test_hand_computed(self, spark):
        import math

        from lib_gdal_spark.operators import textops
        d = _docs(spark, [(1, "a b a"), (2, "b a"), (3, "x")])
        out = {r.doc_id: (r.n_bigrams, r.xent)
               for r in textops.lm_crossentropy(d).collect()}
        # c12: (a,b)=1, (b,a)=2; c1: a=1, b=2; V=2
        # p(b|a) = 2/3, p(a|b) = 3/4
        x1 = round(-(math.log(2.0 / 3.0) + math.log(3.0 / 4.0)) / 2, 6)
        x2 = round(-math.log(3.0 / 4.0), 6)
        assert set(out) == {1, 2}  # the 1-token doc has no bigrams
        assert out[1] == (2, x1)
        assert out[2] == (1, x2)

    def test_repetitive_docs_score_lower_xent(self, spark):
        from lib_gdal_spark.operators import textops
        d = _docs(spark, [(1, "spam " * 50), (2, "a b c d e f g h i j")])
        out = {r.doc_id: r.xent
               for r in textops.lm_crossentropy(d).collect()}
        assert out[1] < out[2]


class TestExactSubstrSpans:
    def test_cross_doc_shared_run(self, spark):
        from lib_gdal_spark.operators import dedup
        d = _docs(spark, [(1, "a b c d e f g h"), (2, "x y a b c d e z")])
        out = {r.doc_id: (r.span_start, r.span_len)
               for r in dedup.exact_substr_spans(d, k=4).collect()}
        # shared run "a b c d e" (len 5): d1 tokens 0-4, d2 tokens 2-6
        assert out == {1: (0, 5), 2: (2, 5)}

    def test_self_repetition_whole_doc(self, spark):
        from lib_gdal_spark.operators import dedup
        d = _docs(spark, [(1, "p q p q p q")])
        out = dedup.exact_substr_spans(d, k=2).collect()
        assert [(r.doc_id, r.span_start, r.span_len) for r in out] == \
            [(1, 0, 6)]

    def test_disjoint_spans_stay_separate(self, spark):
        from lib_gdal_spark.operators import dedup
        d = _docs(spark, [(1, "a b c q q q q q a b c"),
                          (2, "z z a b c z a b c z")])
        out = sorted((r.doc_id, r.span_start, r.span_len)
                     for r in dedup.exact_substr_spans(d, k=3).collect())
        # doc 1 dup grams: "a b c" at 0 and 8 (4x corpus-wide), the
        # q-run at 3..5 -> three separate islands; doc 2: "z a b",
        # "a b c", "b c z" chain twice -> grams 1-3 and 5-7 merge into
        # two 5-token spans
        assert out == [(1, 0, 3), (1, 3, 5), (1, 8, 3),
                       (2, 1, 5), (2, 5, 5)]

    def test_unique_corpus_no_spans(self, spark):
        from lib_gdal_spark.operators import dedup
        d = _docs(spark, [(1, "one two three four five six")])
        assert dedup.exact_substr_spans(d, k=3).count() == 0


class TestInvertedIndex:
    ROWS = [(3, "cat dog cat"), (1, "dog emu"), (2, "cat emu emu")]

    def test_hand_golden(self, spark):
        # df: cat=2 (docs 2,3), dog=2 (1,3), emu=2 (1,2) — rank breaks
        # the df tie lexicographically; postings ascend by doc_id
        out = relevance.inverted_index(_docs(spark, self.ROWS),
                                       min_df=2, k=10).collect()
        assert [(r.term, r.df, r.postings, r.rank) for r in out] == [
            ("cat", 2, "2,3", 1),
            ("dog", 2, "1,3", 2),
            ("emu", 2, "1,2", 3),
        ]

    def test_min_df_filters_singletons(self, spark):
        out = relevance.inverted_index(_docs(spark, [(1, "a b"), (2, "b")]),
                                       min_df=2, k=10).collect()
        assert [(r.term, r.postings) for r in out] == [("b", "1,2")]

    def test_postings_partition_invariant(self, spark):
        d = _docs(spark, self.ROWS)
        a = relevance.inverted_index(d, min_df=1, k=10).collect()
        b = relevance.inverted_index(d.repartition(5), min_df=1,
                                     k=10).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]

    def test_stopword_postings_never_aggregated_outside_topk(self, spark):
        # 100-TB shape: the posting string must be built ONLY for the
        # <= k surviving terms. Corpus: 'the' in every doc (stopword),
        # k=1 keeps only 'the'; the 200 body terms (df=1 each) must be
        # dropped by the df-count pass BEFORE any collect_list — the
        # physical plan's posting aggregation must sit above the join
        # with the k-limited term set, not directly on the raw pairs.
        rows = [(i, f"the w{i} w{i}x") for i in range(200)]
        q = relevance.inverted_index(_docs(spark, rows), min_df=2, k=1)
        plan = q._jdf.queryExecution().executedPlan().toString()
        seg_after_last_agg = plan[:plan.find("collect_list")]
        # the collect_list aggregate's input comes from a join (the
        # broadcast semi-join with the surviving term set), which in
        # turn sits above the TakeOrderedAndProject top-k of the
        # df-count pass — both must appear BELOW it in the plan tree
        assert "collect_list" in plan
        assert "BroadcastHashJoin" in plan
        assert "TakeOrderedAndProject" in plan
        # tree is printed root-first: everything the aggregate consumes
        # appears AFTER the collect_list line
        post_agg = plan[plan.find("collect_list"):]
        assert "BroadcastHashJoin" in post_agg
        assert "TakeOrderedAndProject" in post_agg
        out = q.collect()
        assert [(r.term, r.df, r.rank) for r in out] == [("the", 200, 1)]
        assert out[0].postings == ",".join(str(i) for i in range(200))


class TestPMI:
    ROWS = [(1, "a b a b"), (2, "b c b c")]

    def test_hand_golden(self, spark):
        import math
        # uni: a=2 b=4 c=2 (N=8); bigrams: (a b)x2 (b a)x1 (b c)x2
        # (c b)x1 (M=6)
        def pmi(cxy, cx, cy):
            return round(math.log((cxy / 6) / ((cx / 8) * (cy / 8))), 6)
        out = relevance.pmi_topk(_docs(spark, self.ROWS), 10,
                                 min_count=1).collect()
        got = [(r.gram, r.cnt, r.pmi, r.rank) for r in out]
        want = sorted([
            ("a b", 2, pmi(2, 2, 4)), ("b a", 1, pmi(1, 4, 2)),
            ("b c", 2, pmi(2, 4, 2)), ("c b", 1, pmi(1, 2, 4)),
        ], key=lambda t: (-t[2], t[0]))
        assert got == [(g, c, p, i + 1) for i, (g, c, p) in enumerate(want)]

    def test_min_count_and_partition_invariance(self, spark):
        d = _docs(spark, self.ROWS)
        out = relevance.pmi_topk(d, 10, min_count=2).collect()
        assert sorted(r.gram for r in out) == ["a b", "b c"]
        a = [tuple(r) for r in relevance.pmi_topk(d, 10, min_count=1).collect()]
        b = [tuple(r) for r in
             relevance.pmi_topk(d.repartition(7), 10, min_count=1).collect()]
        assert a == b


class TestCosinePairs:
    def test_hand_golden_unigram(self, spark):
        import math
        # d1="a a b", d2="a b", d3="z": tf1=(a:2,b:1) ss=5; tf2=(a:1,b:1)
        # ss=2; dot(1,2)=2*1+1*1=3; cos=3/(sqrt(5)*sqrt(2))
        d = _docs(spark, [(1, "a a b"), (2, "a b"), (3, "z")])
        out = relevance.cosine_pairs(d, threshold=0.0, ngram=1, k=10).collect()
        assert [(r.id_a, r.id_b, r.dot, r.rank) for r in out] == [(1, 2, 3, 1)]
        assert out[0].cos == 3 / (math.sqrt(5.0) * math.sqrt(2.0))

    def test_ngram_shingles_separate_reordered_docs(self, spark):
        # same bag of words, different order: unigram cosine = 1.0 but
        # trigram cosine = 0 (no shared shingle -> no candidate pair)
        d = _docs(spark, [(1, "a b c d"), (2, "d c b a")])
        uni = relevance.cosine_pairs(d, threshold=0.99, ngram=1, k=10)
        tri = relevance.cosine_pairs(d, threshold=0.0, ngram=3, k=10)
        assert uni.count() == 1 and tri.count() == 0

    def test_max_df_prunes_stopword(self, spark):
        # "the" appears in all 3 docs; with max_df=2 it can't create
        # pairs, so only the docs sharing "cat" remain candidates
        d = _docs(spark, [(1, "the cat"), (2, "the cat"), (3, "the dog")])
        out = relevance.cosine_pairs(d, threshold=0.0, ngram=1,
                                     max_df=2, k=10).collect()
        assert [(r.id_a, r.id_b) for r in out] == [(1, 2)]

    def test_partition_invariant(self, spark):
        d = _docs(spark, [(i, f"w{i % 3} w{(i + 1) % 3} common")
                          for i in range(12)])
        a = [tuple(r) for r in
             relevance.cosine_pairs(d, threshold=0.3, k=20).collect()]
        b = [tuple(r) for r in
             relevance.cosine_pairs(d.repartition(7), threshold=0.3,
                                    k=20).collect()]
        assert a == b and len(a) > 0


class TestNeardupClusters:
    def test_chain_keeps_one_per_component(self, spark):
        from lib_gdal_spark.operators import dedup
        # a~b and b~c near-identical chains; d unrelated
        rows = [(10, "the quick brown fox jumps over the lazy dog today"),
                (11, "the quick brown fox jumps over the lazy dog now"),
                (12, "a quick brown fox jumps over the lazy dog now"),
                (20, "completely different text about databases and joins")]
        d = _docs(spark, rows)
        out = {r.doc_id: (r.cluster, r.kept) for r in
               dedup.neardup_clusters(d, "doc_id", "text",
                                      threshold=0.5).collect()}
        assert out[20] == (20, 1)          # singleton keeps itself
        clusters = {out[i][0] for i in (10, 11, 12)}
        assert clusters == {10}            # one transitive cluster, min id
        assert [out[i][1] for i in (10, 11, 12)] == [1, 0, 0]

    def test_no_dups_all_kept(self, spark):
        from lib_gdal_spark.operators import dedup
        d = _docs(spark, [(1, "alpha beta gamma delta"),
                          (2, "epsilon zeta eta theta")])
        out = dedup.neardup_clusters(d, "doc_id", "text").collect()
        assert sorted((r.doc_id, r.cluster, r.kept) for r in out) == \
            [(1, 1, 1), (2, 2, 1)]
