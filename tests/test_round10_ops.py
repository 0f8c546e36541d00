"""Round-10 operator tests: quality_calibration_report semantics and
the loop-partitioning / argmax-rewrite equivalences this round's
SCALE.md probes rely on (identical results, only the plan changes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from cdc_extractor_spark.io import load_table

    return load_table(spark, SF, "documents")


class TestQualityCalibrationReport:
    def test_score_matches_quality_score_composite(self, spark, docs):
        """The report's internal quality_bp must reproduce
        quality_score's composite bit-for-bit — re-derive per-doc bins
        from quality_score and compare the aggregate."""
        from cdc_extractor_spark.functions import text

        rep = {
            r["bin"]: (r["n_docs"], r["n_gold_good"])
            for r in text.quality_calibration_report(docs).collect()
        }
        qs = text.quality_score(docs)
        ts = text.token_stats(docs).select("doc_id", "n_distinct_tokens")
        joined = qs.join(ts, "doc_id").select(
            F.least(F.expr("quality_bp div 1000"), F.lit(9)).alias("bin"),
            F.when(
                F.col("n_distinct_tokens") * 1000 >= 450 * F.col("n_tokens"),
                F.lit(1),
            ).otherwise(F.lit(0)).alias("gold"),
        )
        ref = {
            r["bin"]: (r["n"], r["g"])
            for r in joined.groupBy("bin")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("gold").alias("g"))
            .collect()
        }
        assert rep == ref

    def test_gap_arithmetic(self, spark, docs):
        from cdc_extractor_spark.functions import text

        for r in text.quality_calibration_report(docs).collect():
            assert r["calib_gap_bp"] == r["mean_quality_bp"] - r["gold_rate_bp"]
            assert 0 <= r["gold_rate_bp"] <= 10000
            assert r["n_gold_good"] <= r["n_docs"]
            assert 0 <= r["bin"] <= 9

    def test_totals_cover_corpus(self, spark, docs):
        from cdc_extractor_spark.functions import text

        rep = text.quality_calibration_report(docs)
        n = rep.agg(F.sum("n_docs")).collect()[0][0]
        # every doc with >= 1 token lands in exactly one bin
        n_docs = docs.filter(
            F.size(F.filter(F.split("text", " "), lambda t: t != "")) > 0
        ).count()
        assert n == n_docs


class TestRound10Equivalences:
    def test_pq_train_loop_partitions_identical(self, spark):
        from cdc_extractor_spark.functions import similarity as s
        from cdc_extractor_spark.io import load_table

        corpus = load_table(spark, SF, "embeddings").filter(
            F.col("vec_id") >= 5
        )
        c1, _ = s.pq_train(corpus, iters=1)
        c2, _ = s.pq_train(corpus, iters=1, loop_partitions=3)
        assert sorted(map(tuple, c1.collect())) == sorted(
            map(tuple, c2.collect())
        )

    def test_lang_id_argmax_matches_window_form(self, spark, docs):
        """min_by over (-hits, cand_lang) ≡ the row_number window it
        replaced (hits DESC, cand_lang ASC, keep rank 1)."""
        from pyspark.sql import Window

        from cdc_extractor_spark.functions import text

        new = text.lang_id(docs)
        markers = spark.createDataFrame(
            [
                (lang, tok)
                for lang, toks in text.LANG_MARKERS.items()
                for tok in toks
            ],
            "cand_lang string, tok string",
        )
        scores = (
            text.tokens(docs)
            .join(F.broadcast(markers), "tok")
            .groupBy("doc_id", "cand_lang")
            .agg(F.count(F.lit(1)).alias("hits"))
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.col("hits").desc(), F.col("cand_lang").asc()
        )
        best = (
            scores.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("doc_id", F.col("cand_lang").alias("lang_pred"), "hits")
        )
        old = (
            docs.select("doc_id", "lang")
            .join(best, "doc_id", "left")
            .select(
                "doc_id",
                "lang",
                F.coalesce("lang_pred", F.lit("und")).alias("lang_pred"),
                F.coalesce("hits", F.lit(0)).cast("long").alias("hits"),
            )
        )
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, old.collect())
        )

    def test_power_iteration_single_partition_state(self, spark):
        """The coalesced C keeps the loop exchange-free: the executed
        final plan contains no shuffle on the 4096-row state (the only
        Exchange feeds the Gram aggregate)."""
        from cdc_extractor_spark.functions import similarity as s
        from cdc_extractor_spark.io import load_table
        from cdc_extractor_spark.plans import executed_plan

        df = s.embedding_power_iteration(load_table(spark, SF, "embeddings"))
        rows = df.collect()
        assert len(rows) == 64
        plan = executed_plan(df).split("== Initial Plan ==")[0]
        # post-checkpoint iterations: the re-asserted Coalesce(1)
        # satisfies every required distribution, so the loop plans
        # with ZERO shuffle exchanges — broadcasts of the 64-row v /
        # 1-row max remain (tiny and wanted)
        assert "Exchange hashpartitioning" not in plan
        assert "Exchange SinglePartition" not in plan
        assert "ShuffleQueryStage" not in plan
        assert "Coalesce 1" in plan


class TestIvfMaintenanceRetryIdempotent:
    def test_full_replay_leaves_snapshots_unchanged(self, spark, tmp_path):
        """An epoch runs at least once: simulate the worst case — a
        FULL replay of every epoch (every commit record lost, same
        out_dir) — and require the epoch snapshots to be overwritten,
        not duplicated (ADVICE r9: the flat append would double every
        row on retry and break merge ≡ rebuild parity)."""
        from cdc_extractor_spark.io import load_table
        from cdc_extractor_spark.streaming.pipeline import (
            run_ivf_maintenance,
            write_embedding_batches,
        )

        emb = load_table(spark, SF, "embeddings")
        feed = str(tmp_path / "feed")
        write_embedding_batches(emb, feed, 3)
        out_dir = str(tmp_path / "out")
        first = sorted(
            map(tuple, run_ivf_maintenance(spark, feed, out_dir).collect())
        )
        # retry: same out_dir (snapshots + state + plans survive), no
        # commit records, so the runner replays batches 0..2 with the
        # SAME epoch ids
        commits = tmp_path / "out" / "epochs"
        for done in commits.glob("epoch_*.done"):
            done.unlink()
        second = sorted(
            map(tuple, run_ivf_maintenance(spark, feed, out_dir).collect())
        )
        assert len(list(commits.glob("epoch_*.done"))) == 3
        assert second == first

    def test_empty_embeddings_guard(self, spark, tmp_path):
        from cdc_extractor_spark.io import load_table
        from cdc_extractor_spark.streaming.pipeline import (
            write_embedding_batches,
        )

        empty = load_table(spark, SF, "embeddings").filter("vec_id < 0")
        with pytest.raises(ValueError, match="empty"):
            write_embedding_batches(empty, str(tmp_path / "feed"), 3)

    def test_missing_feed_returns_empty_contract_frame(self, spark, tmp_path):
        import os

        from cdc_extractor_spark.streaming.pipeline import (
            IVF_EPOCH_SCHEMA,
            run_ivf_maintenance,
        )

        feed = str(tmp_path / "feed")
        os.makedirs(feed)  # exists but has no batches
        out = run_ivf_maintenance(spark, feed, str(tmp_path / "out"))
        assert out.schema == IVF_EPOCH_SCHEMA
        assert out.count() == 0


class TestDocRepetitionFlags:
    def test_known_repetition_values(self, spark):
        """Hand-computed doc: 'a b a b a b' -> 6 tokens; bigrams
        {'a b': 3, 'b a': 2} so top share = 3*2*10000 div 6 = 10000;
        trigrams {'a b a': 2, 'b a b': 2} -> 4 total, 2 distinct,
        dup3_bp = 2*10000 div 4 = 5000.  'x y z' has no repetition."""
        from cdc_extractor_spark.functions import text

        docs = spark.createDataFrame(
            [(1, "a b a b a b"), (2, "x y z"), (3, "solo")],
            "doc_id long, text string",
        )
        rows = {
            r["doc_id"]: r for r in text.doc_repetition_flags(docs).collect()
        }
        r1 = rows[1]
        assert (r1["n_tokens"], r1["top_bigram_n"]) == (6, 3)
        assert r1["top2_share_bp"] == 10000
        assert r1["dup3_bp"] == 5000
        assert not r1["ok_top2"] and not r1["ok_dup3"]
        assert not r1["pass_repetition"]
        r2 = rows[2]
        assert r2["top_bigram_n"] == 1
        assert r2["top2_share_bp"] == 1 * 2 * 10000 // 3
        # share-based rule: a 3-token doc's single bigram covers 2/3
        # of its tokens, so SHORT docs fail ok_top2 by construction
        # (Gopher pairs this rule with the min-length gate)
        assert r2["dup3_bp"] == 0 and r2["ok_dup3"] and not r2["ok_top2"]
        r3 = rows[3]  # below bigram arity: zero shares, passes
        assert (r3["top_bigram_n"], r3["top2_share_bp"], r3["dup3_bp"]) == (
            0, 0, 0,
        )
        assert r3["pass_repetition"]

    def test_fixture_rows_cover_tokenized_docs(self, spark, docs):
        from cdc_extractor_spark.functions import text

        rep = text.doc_repetition_flags(docs)
        n_docs = docs.filter(
            F.size(F.filter(F.split("text", " "), lambda t: t != "")) > 0
        ).count()
        assert rep.count() == n_docs
        assert rep.select("doc_id").distinct().count() == n_docs


class TestRound10PropertyInvariants:
    """Property-style invariants for the two round-10 operators over
    randomized token-soup documents (deterministic seed)."""

    def _random_docs(self, spark, seed=7, n=40):
        import random

        rng = random.Random(seed)
        vocab = ["a", "b", "c", "dd", "eee", "the", "to", "of"]
        rows = []
        for i in range(n):
            k = rng.randint(0, 30)
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(k))))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_repetition_invariants(self, spark):
        from cdc_extractor_spark.functions import text

        docs = self._random_docs(spark)
        for r in text.doc_repetition_flags(docs).collect():
            n = r["n_tokens"]
            assert n >= 1
            # top bigram count bounded by bigram total (n-1)
            assert 0 <= r["top_bigram_n"] <= max(n - 1, 0)
            # overlap makes >10000 possible, but never >2x
            assert 0 <= r["top2_share_bp"] < 20000
            assert 0 <= r["dup3_bp"] <= 10000
            assert r["pass_repetition"] == (r["ok_top2"] and r["ok_dup3"])
            if n < 2:
                assert r["top_bigram_n"] == 0
            if n < 3:
                assert r["dup3_bp"] == 0

    def test_repetition_oracle_on_random_docs(self, spark):
        """The DuckDB mirror must agree on arbitrary token soup, not
        just the driver fixture (same SQL as the registered oracle,
        views swapped to the random frame)."""
        import duckdb

        from cdc_extractor_spark.functions import text
        from cdc_extractor_spark.queries import ORACLES

        docs = self._random_docs(spark, seed=11)
        pdf = docs.toPandas()
        con = duckdb.connect()
        con.register("documents", pdf)
        got = sorted(
            map(tuple, (text.doc_repetition_flags(docs)).collect())
        )
        cols = sorted(c for c in [
            "doc_id", "n_tokens", "top_bigram_n", "top2_share_bp",
            "dup3_bp", "ok_top2", "ok_dup3", "pass_repetition",
        ])
        sql = ORACLES["doc_repetition_flags"]
        import pandas as pd  # noqa: F401

        oracle = con.sql(sql).df()
        spark_df = text.doc_repetition_flags(docs).toPandas()
        a = sorted(map(tuple, spark_df[list(oracle.columns)].itertuples(index=False)))
        b = sorted(map(tuple, oracle.itertuples(index=False)))
        assert a == b
        assert len(got) == len(b)

    def test_calibration_invariants(self, spark):
        from cdc_extractor_spark.functions import text

        docs = self._random_docs(spark, seed=13)
        rows = text.quality_calibration_report(docs).collect()
        assert sum(r["n_docs"] for r in rows) == docs.filter(
            F.size(F.filter(F.split("text", " "), lambda t: t != "")) > 0
        ).count()
        bins = [r["bin"] for r in rows]
        assert len(bins) == len(set(bins))
        for r in rows:
            assert 0 <= r["bin"] <= 9
            assert 0 <= r["n_gold_good"] <= r["n_docs"]
            assert r["calib_gap_bp"] == r["mean_quality_bp"] - r["gold_rate_bp"]
