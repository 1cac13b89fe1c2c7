"""Training-data assembly operators (operators/sampling.py)."""

import pytest
from pyspark.sql import functions as F

from lib_gdal_spark.operators.sampling import (
    dataset_split, host_quota, sequence_pack, split_thresholds_sql,
    temperature_rate_sql, temperature_resample, unit_hash_sql,
)


class TestDatasetSplit:
    def test_deterministic_and_complete(self, spark):
        df = spark.range(2000).withColumnRenamed("id", "k")
        out = dataset_split(df, "k").cache()
        assert out.count() == 2000
        a = {r["k"]: r["split"] for r in out.collect()}
        b = {r["k"]: r["split"]
             for r in dataset_split(df, "k").collect()}
        assert a == b  # same key -> same split, always
        frac = out.groupBy("split").count().collect()
        got = {r["split"]: r["count"] / 2000 for r in frac}
        assert got["train"] == pytest.approx(0.9, abs=0.03)
        assert got["val"] == pytest.approx(0.05, abs=0.02)
        out.unpersist()

    def test_sql_twin_matches(self, spark):
        import duckdb

        df = spark.range(500).withColumnRenamed("id", "k")
        got = {r["k"]: r["split"]
               for r in dataset_split(df, "k").collect()}
        con = duckdb.connect()
        sql = split_thresholds_sql("k")
        exp = con.sql(
            f"SELECT k, {sql} AS s FROM range(0, 500) t(k)").fetchall()
        for k, s in exp:
            assert got[k] == s, k


class TestHostQuota:
    def test_cap_and_determinism(self, spark):
        rows = [(i, f"h{i % 3}", float(i % 7)) for i in range(60)]
        df = spark.createDataFrame(rows, "id long, host string, q double")
        out = host_quota(df, "host", 4, "q", "id")
        got = out.groupBy("host").count().collect()
        assert all(r["count"] == 4 for r in got)
        # deterministic kept set: lowest (q, id) per host
        kept = sorted(r["id"] for r in out.collect())
        exp = sorted(sum((sorted(range(h, 60, 3),
                                 key=lambda i: (i % 7, i))[:4]
                          for h in range(3)), []))
        assert kept == exp


class TestSequencePack:
    def test_greedy_semantics(self, spark):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate([5, 5, 5, 9, 2, 20, 1])],
            "id long, tokens long")
        out = sequence_pack(df, "id", "tokens", budget=10, n_buckets=1)
        got = {r["id"]: (r["bin"], r["off"]) for r in out.collect()}
        # hand-replay of the greedy recurrence
        acc, b, exp = 0, 0, {}
        first = True
        for i, t in enumerate([5, 5, 5, 9, 2, 20, 1]):
            if first or acc + t <= 10:
                exp[i] = (b, acc)
                acc += t
                first = False
            else:
                b += 1
                exp[i] = (b, 0)
                acc = t
        assert got == exp
        # the over-budget doc (20) sits alone in its bin
        bins = {}
        for i, (bb, _) in got.items():
            bins.setdefault(bb, []).append(i)
        assert [5] in bins.values()

    def test_null_group_is_sampled_not_dropped(self, spark):
        """A NULL group is a real group: it gets a rate and its rows are
        hash-sampled like any other (the equi-join would drop them)."""
        rows = ([("a", i) for i in range(400)]
                + [(None, 1000 + i) for i in range(100)])
        df = spark.createDataFrame(rows, "grp string, id long")
        out = temperature_resample(df, "grp", "id", alpha=0.5, frac=0.5)
        kept = {r["grp"]: r["cnt"] for r in
                out.groupBy("grp").agg(F.count("*").alias("cnt"))
                   .collect()}
        # null group: rate = min(1, 0.5*sqrt(400/100)) = 1.0 -> all kept
        assert kept.get(None) == 100
        assert 150 <= kept["a"] <= 250   # frac-rate group ~ half

    def test_partition_count_independent(self, spark):
        rows = [(i, (i * 37) % 900 + 1) for i in range(400)]
        df = spark.createDataFrame(rows, "id long, tokens long")
        a = sorted(map(tuple, sequence_pack(
            df.repartition(2), "id", "tokens", 2048).collect()))
        b = sorted(map(tuple, sequence_pack(
            df.repartition(17), "id", "tokens", 2048).collect()))
        assert a == b

    def test_bins_respect_budget(self, spark):
        rows = [(i, (i * 37) % 900 + 1) for i in range(400)]
        df = spark.createDataFrame(rows, "id long, tokens long")
        out = sequence_pack(df, "id", "tokens", 2048)
        sums = out.groupBy("bucket", "bin").agg(
            F.sum("tokens").alias("s"), F.count("*").alias("n")).collect()
        for r in sums:
            assert r["s"] <= 2048 or r["n"] == 1


class TestTemperatureResample:
    """mC4/XLM-R temperature rebalancing: rate_g = min(1, frac *
    (n_max/n_g)^(1-alpha)), kept iff unit-hash(id) < rate_g."""

    @staticmethod
    def _skewed(spark):
        # groups: a=800 rows, b=200, c=50 -> n_max=800
        rows = ([("a", i) for i in range(800)]
                + [("b", 1000 + i) for i in range(200)]
                + [("c", 2000 + i) for i in range(50)])
        return spark.createDataFrame(rows, "grp string, id long")

    def test_rates_hand_computed(self, spark):
        import math

        df = self._skewed(spark)
        out = temperature_resample(df, "grp", "id",
                                   alpha=0.5, frac=0.5).cache()
        rates = {r["grp"]: r["keep_rate"]
                 for r in out.select("grp", "keep_rate")
                             .distinct().collect()}
        # hand-computed: a -> 0.5 exactly (largest group keeps frac);
        # b -> 0.5*sqrt(800/200) = 1.0 clamps; c -> clamps too
        assert rates["a"] == 0.5
        assert rates["b"] == 1.0
        assert rates["c"] == 1.0
        # clamped groups keep EVERY row (no hash can be < 1.0... all
        # unit hashes are < 1, so all 200 + 50 survive)
        kept = {r["grp"]: r["cnt"]
                for r in out.groupBy("grp")
                            .agg(F.count("*").alias("cnt")).collect()}
        assert kept["b"] == 200 and kept["c"] == 50
        # the frac-rate group keeps roughly half, deterministic
        assert 320 <= kept["a"] <= 480
        again = temperature_resample(df, "grp", "id",
                                     alpha=0.5, frac=0.5)
        assert sorted(r["id"] for r in again.collect()) == \
            sorted(r["id"] for r in out.collect())
        out.unpersist()
        # mild skew so no clamp: b rate = 0.5*sqrt(4) exercised above;
        # check an unclamped irrational rate against python math
        df2 = spark.createDataFrame(
            [("x", i) for i in range(300)] + [("y", 900 + i)
                                              for i in range(100)],
            "grp string, id long")
        r2 = {r["grp"]: r["keep_rate"]
              for r in temperature_resample(df2, "grp", "id", alpha=0.5,
                                            frac=0.5)
                       .select("grp", "keep_rate").distinct().collect()}
        assert r2["x"] == 0.5
        assert r2["y"] == 0.5 * math.sqrt(300.0 / 100.0)

    def test_alpha_endpoints(self, spark):
        df = self._skewed(spark)
        # alpha=1: uniform frac sampling — every group gets rate=frac
        u = temperature_resample(df, "grp", "id", alpha=1.0, frac=0.25)
        assert set(r["keep_rate"] for r in
                   u.select("keep_rate").distinct().collect()) == {0.25}
        # alpha=0: full flattening — rate_g = min(1, frac*n_max/n_g)
        f0 = temperature_resample(df, "grp", "id", alpha=0.0, frac=0.5)
        rates = {r["grp"]: r["keep_rate"]
                 for r in f0.select("grp", "keep_rate")
                            .distinct().collect()}
        assert rates == {"a": 0.5, "b": 1.0, "c": 1.0}

    def test_partition_count_independent(self, spark):
        df = self._skewed(spark)
        one = sorted(r["id"] for r in
                     temperature_resample(df.coalesce(1), "grp", "id")
                     .collect())
        many = sorted(r["id"] for r in
                      temperature_resample(df.repartition(16), "grp",
                                           "id").collect())
        assert one == many

    def test_no_window_in_plan(self, spark):
        # n_max is a scalar subquery over the group counts: an
        # unpartitioned window would warn "No Partition Defined" per call
        out = temperature_resample(self._skewed(spark), "grp", "id")
        out.collect()
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        assert "isFinalPlan=true" in plan
        assert "Window" not in plan, plan

    def test_sql_twin_matches(self, spark):
        import duckdb

        df = self._skewed(spark)
        got = sorted((r["id"], r["keep_rate"]) for r in
                     temperature_resample(df, "grp", "id", alpha=0.5,
                                          frac=0.5).collect())
        con = duckdb.connect()
        con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                    + ", ".join(f"('{g}', {i})" for g, i in
                                [(r["grp"], r["id"])
                                 for r in df.collect()])
                    + ") v(grp, id)")
        ctes = temperature_rate_sql("grp", "t", alpha=0.5, frac=0.5)
        u = unit_hash_sql("d.id", "temp|")
        exp = con.execute(
            f"WITH {ctes} SELECT d.id, r.keep_rate FROM t d "
            f"JOIN r ON d.grp = r.grp WHERE {u} < r.keep_rate "
            f"ORDER BY d.id").fetchall()
        assert got == [(i, k) for i, k in exp]


class TestDsirScores:
    """DSIR hashed-ngram importance scores (Xie et al. 2023) — the
    engine must match an independent Python recomputation of the same
    formula, including the single-token-doc bigram guard."""

    DOCS = [(0, "the cat sat", "en"), (1, "le chat dort", "fr"),
            (2, "the dog sat down", "en"), (3, "x", "fr"),
            (4, "the the the", "en")]

    @staticmethod
    def _py_feats(text, n_buckets):
        import hashlib
        import re as _re
        from collections import Counter

        toks = _re.findall(r"[a-z0-9]+", text.lower())
        ngs = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]

        def bucket(ng):
            h = hashlib.md5(("dsir|" + ng).encode()).hexdigest()[:13]
            return int(h, 16) % n_buckets

        return Counter(bucket(ng) for ng in ngs if ng)

    def test_matches_python_reference(self, spark):
        import math
        from collections import Counter

        from lib_gdal_spark.operators.sampling import dsir_scores

        B = 8
        raw = spark.createDataFrame(self.DOCS,
                                    "doc_id long, text string, lang string")
        got = {r.doc_id: r.dsir_score for r in
               dsir_scores(raw, raw.filter("lang = 'en'"),
                           n_buckets=B).collect()}
        feats = {i: self._py_feats(t, B) for i, t, _ in self.DOCS}
        rc = Counter()
        tc = Counter()
        for i, _, lang in self.DOCS:
            rc.update(feats[i])
            if lang == "en":
                tc.update(feats[i])
        rt, tt = sum(rc.values()), sum(tc.values())
        lr = {b: math.log(((tc.get(b, 0) + 1.0) / (tt + float(B)))
                          / ((rc[b] + 1.0) / (rt + float(B))))
              for b in rc}
        for i, _, _ in self.DOCS:
            exp = sum(c * lr[b] for b, c in feats[i].items())
            assert got[i] == pytest.approx(exp, abs=1e-12), i
        # en docs must look more target-like than fr docs
        assert min(got[0], got[2], got[4]) > max(got[1], got[3])

    def test_single_token_doc_has_no_bogus_bigram(self, spark):
        """Spark sequence(1, 0) DESCENDS — the guard must keep a
        1-token doc at exactly ONE feature occurrence."""
        from lib_gdal_spark.operators.sampling import _hashed_ngram_buckets

        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        rows = _hashed_ngram_buckets(df, "doc_id", "text", 8,
                                     "dsir|").collect()
        assert len(rows) == 1 and rows[0]["c"] == 1


class TestSamplingInvariants:
    def test_dsir_self_target_scores_all_zero(self, spark):
        """target == raw makes every smoothed ratio exactly 1 and every
        ln exactly 0.0 — scores must be identically zero, not epsilon."""
        from lib_gdal_spark.operators.sampling import dsir_scores

        docs = [(i, f"alpha beta gamma doc{i}") for i in range(30)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = dsir_scores(df, df, n_buckets=16).collect()
        assert len(got) == 30
        assert all(r.dsir_score == 0.0 for r in got)

    def test_temperature_rate_monotone_in_group_size(self, spark):
        """Smaller groups never get a smaller keep rate than larger
        ones, every rate is in (0, 1], and the largest group's rate is
        exactly frac (alpha in (0, 1), frac <= 1)."""
        from lib_gdal_spark.operators.sampling import temperature_resample

        sizes = {"a": 700, "b": 300, "c": 120, "d": 40, "e": 7}
        rows = [(g, 10_000 * k + i)
                for k, (g, n) in enumerate(sizes.items())
                for i in range(n)]
        df = spark.createDataFrame(rows, "grp string, id long")
        out = temperature_resample(df, "grp", "id", alpha=0.5, frac=0.4)
        rates = {r["grp"]: r["keep_rate"] for r in
                 out.select("grp", "keep_rate").distinct().collect()}
        # every group must appear (no rate is ever 0: unit hashes < 1)
        assert set(rates) == set(sizes)
        assert rates["a"] == 0.4
        ordered = [rates[g] for g in ("a", "b", "c", "d", "e")]
        assert all(x <= y for x, y in zip(ordered, ordered[1:]))
        assert all(0.0 < r <= 1.0 for r in ordered)


class TestUnimax:
    # hand-computed water-fill: sizes 10/20/100, budget 90, cap 2:
    # per=30 -> a=min(20,30)=20; rem 70, per=35 -> a=min(40,35)=35;
    # rem 35 -> a=min(200,35)=35
    def test_hand_example(self, spark):
        from lib_gdal_spark.operators.sampling import unimax_allocation

        rows = ([("a", 10)] * 1 + [("b", 10)] * 2 + [("c", 10)] * 10)
        df = spark.createDataFrame(rows, "lang string, n_chars long")
        out = {r.lang: r for r in unimax_allocation(
            df, budget=90.0, epochs_cap=2.0).collect()}
        assert out["a"].alloc == 20.0
        assert out["b"].alloc == 35.0
        assert out["c"].alloc == 35.0
        assert out["c"].chars == 100 and out["c"].n_docs == 10

    def test_budget_conserved_and_cap_respected(self, spark):
        from lib_gdal_spark.operators.sampling import unimax_allocation

        rows = [(f"l{i % 7}", 50 + i * 13) for i in range(200)]
        df = spark.createDataFrame(rows, "lang string, n_chars long")
        out = unimax_allocation(df, budget_frac=0.5,
                                epochs_cap=1.5).collect()
        total = sum(r.chars for r in out)
        assert abs(sum(r.alloc for r in out)
                   - min(0.5 * total,
                         sum(1.5 * r.chars for r in out))) < 1e-6
        for r in out:
            assert r.alloc <= 1.5 * r.chars + 1e-9

    def test_uniform_when_uncapped(self, spark):
        # with a huge cap every language gets the same share
        from lib_gdal_spark.operators.sampling import unimax_allocation

        rows = [("x", 100), ("y", 300), ("z", 900)]
        df = spark.createDataFrame(rows, "lang string, n_chars long")
        out = unimax_allocation(df, budget=300.0,
                                epochs_cap=1e9).collect()
        assert all(abs(r.alloc - 100.0) < 1e-9 for r in out)


class TestQualityClassifier:
    def test_hand_score(self, spark):
        # one doc, known tokens -> recompute the bucket/weight chain in
        # the test by hand
        import hashlib

        from lib_gdal_spark.operators.textops import (
            quality_classifier_score)

        text = "good clean prose"
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        out = quality_classifier_score(df, n_buckets=64, bias=5).collect()
        toks = ["good", "clean", "prose"]
        ngrams = toks + ["good clean", "clean prose"]
        exp = 5
        for ng in ngrams:
            b = int(hashlib.md5(f"qc|{ng}".encode()).hexdigest()[:13],
                    16) % 64
            exp += (b * 2654435761) % 2001 - 1000
        assert out[0].score_u == exp
        assert out[0].keep == (exp > 0)

    def test_duplicate_tokens_count(self, spark):
        # c multiplies the weight: "a a a" scores 3*w(a) + 2*w("a a")
        import hashlib

        from lib_gdal_spark.operators.textops import (
            quality_classifier_score)

        df = spark.createDataFrame([(1, "a a a")],
                                   "doc_id long, text string")
        out = quality_classifier_score(df, n_buckets=64, bias=0).collect()

        def w(ng):
            b = int(hashlib.md5(f"qc|{ng}".encode()).hexdigest()[:13],
                    16) % 64
            return (b * 2654435761) % 2001 - 1000
        assert out[0].score_u == 3 * w("a") + 2 * w("a a")
