"""Round-11 operator tests: doc_line_format_flags (Gopher line-format
rules), token_budget_rebalancer (mixture budget solver invariants),
and lsh_jaccard_calibration (MinHash estimate vs exact Jaccard)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from cdc_extractor_spark.io import load_table

    return load_table(spark, SF, "documents")


class TestDocLineFormatFlags:
    def test_lines_equal_tokens_and_bp_consistency(self, spark, docs):
        from cdc_extractor_spark.functions import text

        flags = text.doc_line_format_flags(docs)
        ntok = text.tokens(docs).groupBy("doc_id").count()
        joined = flags.join(ntok, "doc_id")
        assert joined.filter(F.col("n_lines") != F.col("count")).count() == 0
        bad = flags.filter(
            (F.col("bullet_bp") < 0)
            | (F.col("bullet_bp") > 10000)
            | (F.col("ellipsis_bp") < 0)
            | (F.col("ellipsis_bp") > 10000)
            | (F.col("ok_bullet") != (F.col("bullet_bp") <= 9000))
            | (F.col("ok_ellipsis") != (F.col("ellipsis_bp") <= 3000))
            | (
                F.col("pass_line_format")
                != (F.col("ok_bullet") & F.col("ok_ellipsis"))
            )
        )
        assert bad.count() == 0

    def test_heavy_bullet_docs_fail_and_others_pass(self, spark, docs):
        """doc_id % 13 == 0 docs get ~95% bullet lines -> must trip the
        90% Gopher rule; everyone else sits near 1/7 and passes."""
        from cdc_extractor_spark.functions import text

        flags = text.doc_line_format_flags(docs).filter(F.col("n_lines") >= 30)
        heavy = flags.filter(F.col("doc_id") % 13 == 0)
        rest = flags.filter(F.col("doc_id") % 13 != 0)
        assert heavy.count() > 0
        assert heavy.filter(F.col("ok_bullet")).count() == 0
        assert rest.filter(~F.col("ok_bullet")).count() == 0

    def test_detection_is_string_level(self, spark):
        """Markers are DETECTED from the rendered line, not re-derived
        from the arithmetic: a doc whose tokens organically start with
        the bullet marker counts them (doc_id chosen with no injected
        markers at those positions is impossible to pin, so assert the
        complement: zero-token docs aside, counts never exceed
        n_lines)."""
        from cdc_extractor_spark.functions import text

        df = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon zeta eta")],
            "doc_id long, text string",
        )
        row = text.doc_line_format_flags(df).collect()[0]
        assert row["n_lines"] == 7
        # doc 100: bullet at pos where (3100+pos)%7==0 -> pos 1 only
        # (100%13 != 0); ellipsis where (700+pos)%19==0 -> pos 3 only
        # (100%17 != 0)
        assert row["bullet_bp"] == 10000 // 7
        assert row["ellipsis_bp"] == 10000 // 7
        assert row["pass_line_format"]


class TestTokenBudgetRebalancer:
    def test_invariants(self, spark, docs):
        from cdc_extractor_spark.functions import text

        rows = text.token_budget_rebalancer(docs).collect()
        assert len(rows) == 20
        # quotas never exceed supply; at least one domain is binding
        assert all(r["keep_tokens"] <= r["n_tokens"] for r in rows)
        assert any(r["binding"] for r in rows)
        # realized mixture sums to <= 10000 (floor loss only)
        assert 9900 <= sum(r["realized_bp"] for r in rows) <= 10000
        # the binding domain's quota exhausts (within floor slack) its
        # supply: keep_tokens >= n_tokens - target_bp (one budget step)
        for r in rows:
            if r["binding"]:
                assert r["keep_tokens"] >= r["n_tokens"] - r["target_bp"]

    def test_quota_proportionality(self, spark, docs):
        """keep_tokens must be exactly floor(B * w / 10000) where B is
        the shared budget — recompute B from the binding row."""
        from cdc_extractor_spark.functions import text

        rows = text.token_budget_rebalancer(docs).collect()
        budget = min(
            r["n_tokens"] * 10000 // r["target_bp"] for r in rows
        )
        for r in rows:
            assert r["keep_tokens"] == budget * r["target_bp"] // 10000

    def test_scarce_domain_binds(self, spark):
        """A domain with tokens far below its weight share must be the
        binding one and cap everyone else's quota."""
        from cdc_extractor_spark.functions import text

        df = spark.createDataFrame(
            [(0, "a b c d e f g h", "src1"), (1, "a b", "src2")],
            "doc_id long, text string, source string",
        )
        rows = {r["domain"]: r for r in text.token_budget_rebalancer(df).collect()}
        # src2 has 2 tokens vs src1's 8 but a similar weight -> binding
        assert rows["src2"]["binding"]
        assert rows["src2"]["keep_tokens"] <= 2
        assert rows["src1"]["keep_tokens"] <= 8


class TestRound11EmptyInputs:
    def test_empty_documents_yield_empty_frames(self, spark):
        """The reference crashes on empty batches (SURVEY.md §5); every
        round-11 operator must return a well-formed empty frame."""
        from cdc_extractor_spark.functions import dedup, text

        empty = spark.createDataFrame(
            [], "doc_id long, text string, lang string, source string"
        )
        assert text.doc_line_format_flags(empty).count() == 0
        assert text.token_budget_rebalancer(empty).count() == 0
        assert dedup.lsh_jaccard_calibration(empty, 3).count() == 0


class TestKeepFirstPlanShape:
    def test_corpus_prep_has_no_window_and_slim_hash_exchange(self, spark, docs):
        """Round-11 A/B win pinned structurally: the keep-first stage
        must be the hash-only aggregate — zero Window nodes in the
        executed plan, and every hashpartitioning exchange on the
        content hash carries only slim columns (the text column never
        rides the dedup shuffle)."""
        from cdc_extractor_spark.functions import text

        df = text.corpus_prep(docs)
        df.collect()  # finalize the AQE plan on THIS df
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" not in plan
        for line in plan.splitlines():
            if "Exchange hashpartitioning(h#" in line:
                assert "text#" not in line

    def test_manifest_keep_first_has_no_window(self, spark, docs):
        """The r11 contract is about the KEEP-FIRST stage: the dedup
        winner must come from the hash-only min(doc_id) aggregate,
        never a window over the content-hash grain.  Optimization r13
        added a legitimate doc_id-PARTITIONED lead() window for the
        contamination gram stream (document-bounded partitions — the
        _token_trigram_stream builder, 1.9-2.4x over the interpreted
        zip_with form), so the refined pin is: every Window node must
        partition on doc_id, and none may partition on the content
        hash ``h`` or run unpartitioned (the global-sort shape this
        repo bans)."""
        from cdc_extractor_spark.functions import text

        df = text.training_corpus_manifest(docs)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        for line in plan.splitlines():
            if "Window [" in line or line.strip().startswith("Window"):
                assert "doc_id#" in line, (
                    f"manifest Window not doc-partitioned: {line.strip()}"
                )
                # ADVICE r13: the old second assert was tautological
                # (the first already guarantees doc_id# in the line).
                # The real ban: no Window may PARTITION on the content
                # hash ``h`` — inspect the windowspecdefinition's
                # partition args (everything before the first ordered
                # arg, which carries ASC/DESC).
                for spec in line.split("windowspecdefinition(")[1:]:
                    for arg in spec.split(","):
                        if "ASC" in arg or "DESC" in arg:
                            break
                        assert not arg.strip().startswith("h#"), (
                            f"manifest Window partitions on content "
                            f"hash: {line.strip()}"
                        )


class TestIvfLegacyLayoutGuard:
    def test_flat_layout_snapshots_rejected(self, spark, tmp_path):
        """ADVICE r10: reusing a pre-r10 out_dir whose snapshots/ holds
        FLAT parquet files (the old append layout) must fail loudly —
        the recursive final read would otherwise mix the legacy rows in
        as silent duplicates."""
        import os

        from cdc_extractor_spark.streaming.pipeline import (
            run_ivf_maintenance,
        )

        out_dir = str(tmp_path / "out")
        snap = os.path.join(out_dir, "snapshots")
        os.makedirs(snap)
        with open(os.path.join(snap, "part-00000.parquet"), "wb") as f:
            f.write(b"PAR1legacy")
        with pytest.raises(ValueError, match="non-versioned"):
            run_ivf_maintenance(spark, str(tmp_path / "feed"), out_dir)

    def test_foreign_subdir_rejected(self, spark, tmp_path):
        """A non-epoch_* SUBDIRECTORY under snapshots/ (another tool's
        output, a typo'd epoch name) would be swept by the recursive
        final read just like a flat file — the guard must reject it."""
        import os

        from cdc_extractor_spark.streaming.pipeline import (
            run_ivf_maintenance,
        )

        out_dir = str(tmp_path / "out")
        snap = os.path.join(out_dir, "snapshots")
        os.makedirs(os.path.join(snap, "batch_0"))
        with pytest.raises(ValueError, match="non-versioned"):
            run_ivf_maintenance(spark, str(tmp_path / "feed"), out_dir)

    def test_versioned_layout_accepted(self, spark, tmp_path):
        """epoch_* subdirs (and dot/underscore markers) are the
        versioned layout — the guard must not trip on them."""
        import os

        from cdc_extractor_spark.streaming.pipeline import (
            IVF_EPOCH_SCHEMA,
            run_ivf_maintenance,
        )

        out_dir = str(tmp_path / "out")
        snap = os.path.join(out_dir, "snapshots")
        os.makedirs(os.path.join(snap, "epoch_00000"))
        open(os.path.join(snap, "_SUCCESS"), "w").close()
        feed = str(tmp_path / "feed")
        os.makedirs(feed)
        out = run_ivf_maintenance(spark, feed, out_dir)
        assert out.schema == IVF_EPOCH_SCHEMA


class TestLshJaccardCalibration:
    def test_bucket_bounds_and_est_bp(self, spark, docs):
        from cdc_extractor_spark.functions import dedup

        rows = dedup.lsh_jaccard_calibration(docs, 3).collect()
        assert 0 < len(rows) <= 17
        for r in rows:
            assert 0 <= r["est_matches"] <= 16
            assert r["est_bp"] == r["est_matches"] * 625
            assert r["n_pairs"] > 0
            assert 0 <= r["mean_jaccard_bp"] <= 10000
            assert r["mean_abs_err_bp"] <= r["max_abs_err_bp"] <= 10000

    def test_identical_docs_estimate_exactly(self, spark):
        """Two byte-identical docs share every minhash (est 16/16) and
        have exact Jaccard 10000 -> zero error in the 16 bucket."""
        from cdc_extractor_spark.functions import dedup

        t = "spark window batch merge join filter scan sort hash agg"
        df = spark.createDataFrame(
            [(1, t), (2, t)], "doc_id long, text string"
        )
        rows = {r["est_matches"]: r for r in
                dedup.lsh_jaccard_calibration(df, 3).collect()}
        assert set(rows) == {16}
        r = rows[16]
        assert r["n_pairs"] == 1
        assert r["mean_jaccard_bp"] == 10000
        assert r["mean_abs_err_bp"] == 0 and r["max_abs_err_bp"] == 0

    def test_covers_every_candidate_pair_once(self, spark, docs):
        """The report partitions the LSH candidate set: bucket pair
        counts must sum to exactly the candidate-pair count (no pair
        dropped by the estimate/exact joins, none double-counted)."""
        from cdc_extractor_spark.functions import dedup

        rows = dedup.lsh_jaccard_calibration(docs, 3).collect()
        n_cand = dedup.minhash_candidate_pairs(docs, 3).count()
        assert sum(r["n_pairs"] for r in rows) == n_cand

    def test_full_match_bucket_is_tight(self, spark, docs):
        """est 16/16 pairs are near-exact duplicates by construction —
        the bucket's mean error must be small (this is the bucket the
        cheap filter would act on without verification)."""
        from cdc_extractor_spark.functions import dedup

        rows = {r["est_matches"]: r for r in
                dedup.lsh_jaccard_calibration(docs, 3).collect()}
        assert 16 in rows
        assert rows[16]["mean_jaccard_bp"] >= 9000
        assert rows[16]["mean_abs_err_bp"] <= 1000
