"""Focused tests for the round-14 optimization rewrites.

Each test pins the BEHAVIOR an r14 rewrite must preserve (results
identical) or the resource property it claims (fewer scheduled jobs,
spill-safe aggregation buffers, degenerate-key robustness)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _n_jobs(spark) -> int:
    jt = spark.sparkContext._jsc.sc().statusTracker()
    return len(jt.getJobIdsForGroup(None))


class TestOrderBasketsWhaleGuard:
    def test_order_baskets_whale_basket_cap(self, spark):
        """VERDICT r13 defect #4: a degenerate hot order key (one order
        holding a whale basket) must be dropped by the cap exactly as
        the old count-then-semi-join form dropped it, while normal
        orders are unaffected — the collect_set buffer is bounded by
        the largest single-order fan-in, and the cap semantics must not
        silently change under such a key."""
        from cdc_extractor_spark.operators.graph import (
            basket_pairs,
            order_baskets,
        )

        rows = [(1, p) for p in range(5000)]  # whale: 5k distinct parts
        rows += [(2, 10), (2, 11), (2, 10), (3, 7)]  # normal + dup line
        li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")

        capped = order_baskets(li, max_basket=50).collect()
        by_order = {r["l_orderkey"]: list(r["ps"]) for r in capped}
        assert 1 not in by_order, "whale basket survived the cap"
        assert by_order[2] == [10, 11]  # deduped + sorted
        assert by_order[3] == [7]

        pairs = sorted(
            map(tuple, basket_pairs(order_baskets(li, max_basket=50)).collect())
        )
        assert pairs == [(10, 11)]  # whale contributes nothing

        # uncapped: the whale basket IS the contract (bounded by the
        # order's own fan-in) — sorted, deduplicated, complete
        full = {
            r["l_orderkey"]: r["ps"] for r in order_baskets(li).collect()
        }
        assert full[1] == sorted(range(5000))


class TestExactSubstringSpillSafeForm:
    def test_degenerate_shared_window_matches_reference(self, spark):
        """ADVICE r13 (medium): the r14 form flags shared windows with
        ``count().over(partitionBy(w))`` riding the dedupe's exchange
        (a fixed-size, spill-safe per-row result, no collect_list and
        no join) — under a degenerate boilerplate window shared by
        many documents the results must equal the brute-force
        reference exactly."""
        import hashlib

        from cdc_extractor_spark.functions.dedup import exact_substring_dups

        width, keep_mod = 40, 8
        boiler = "the quick brown fox jumps over the lazy dog " * 3
        docs = [(i, boiler + f"unique tail {i} " + "x" * 10) for i in range(40)]
        docs += [(100, "entirely distinct content with no overlap " * 4)]
        df = spark.createDataFrame(docs, "doc_id long, text string")

        got = {
            r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_permille"])
            for r in exact_substring_dups(df, width, keep_mod).collect()
        }

        # brute-force reference
        wins: dict[int, set[str]] = {}
        for doc_id, text in docs:
            if len(text) < width:
                continue
            kept = set()
            for i in range(len(text) - width + 1):
                w = text[i : i + width]
                hv = int(hashlib.md5(w.encode()).hexdigest()[:12], 16)
                if hv % keep_mod == 0:
                    kept.add(w)
            wins[doc_id] = kept
        from collections import Counter

        share = Counter(w for ks in wins.values() for w in ks)
        for doc_id, kept in wins.items():
            if not kept:
                assert doc_id not in got
                continue
            n = len(kept)
            dup = sum(1 for w in kept if share[w] >= 2)
            assert got[doc_id] == (n, dup, dup * 1000 // n), doc_id

    def test_no_unbounded_collect_single_scan_plan(self, spark):
        """The spill-unsafe collect_list aggregate is gone AND the
        corpus is scanned exactly once: the count window rides the
        dedupe's w-exchange (no join, no second evaluation of the
        explode+md5 subtree — the rejected count-aggregate+join-back
        form showed Scan x2 at sf0.1 because AQE's broadcast
        re-planning defeats ReusedExchange)."""
        from cdc_extractor_spark.functions.dedup import exact_substring_dups

        df = spark.createDataFrame(
            [(i, f"document number {i} with shared boilerplate " * 3)
             for i in range(30)],
            "doc_id long, text string",
        )
        out = exact_substring_dups(df)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        # the AQE plan string repeats the tree under "== Initial Plan
        # ==" — count nodes in the final plan only
        plan = plan.split("== Initial Plan ==")[0]
        assert "collect_list" not in plan and "collect_set" not in plan
        assert "Join" not in plan, "flag attach must not be a join"
        import re
        scans = len(re.findall(r"Scan ExistingRDD|LocalTableScan", plan))
        assert scans == 1, f"input scanned {scans}x — corpus pass duplicated"
        assert plan.count("Window") >= 1, "count window missing"
        n_exchange = len(re.findall(r"Exchange hashpartitioning", plan))
        assert n_exchange == 2, (
            f"{n_exchange} exchanges — dedupe/window must share the "
            "w-exchange, plus one final doc_id aggregate exchange"
        )


class TestCcSingleActionPerRound:
    def test_parity_and_job_budget(self, spark):
        """r14 lazy-checkpoint loop: identical clusters, and ONE
        scheduled job per round instead of two (checkpoint + count).
        A 64-node path graph takes several propagation rounds; with
        the r13 form that is >= 2 jobs/round, so the job budget below
        separates the forms with margin."""
        from cdc_extractor_spark.functions.dedup import connected_components

        chain = [(i, i + 1) for i in range(64)]
        pairs = spark.createDataFrame(chain, "doc_a long, doc_b long")

        j0 = _n_jobs(spark)
        labels = {
            r["doc_id"]: r["cluster_id"]
            for r in connected_components(pairs).collect()
        }
        jobs = _n_jobs(spark) - j0 - 1  # exclude the collect itself
        assert set(labels.values()) == {0}, "chain must collapse to one cluster"
        assert len(labels) == 65
        # r13 form: pairs ckpt+count (2) + edges ckpt (1) + seed (1) +
        # rounds x (ckpt + count) (2/round, ~7 rounds => ~18).  r14:
        # pairs count (1) + seed(+edges) (1) + rounds x 1 (~7).
        assert jobs <= 12, f"CC loop scheduled {jobs} jobs — lazy-checkpoint regressed"

    def test_rank_helper_inputs_checkpoint_lazily(self, spark):
        """The rank-helper call sites materialize their input via the
        helper's OWN first action (lazy localCheckpoint) — result
        correctness pinned here on a tiny frame for the two operators
        whose projections used to re-execute 3x."""
        from cdc_extractor_spark.functions.text import pack_token_shards
        from cdc_extractor_spark.operators.cdc import orderby_commit_ts

        docs = spark.createDataFrame(
            [(i, " ".join(["tok"] * (i + 1))) for i in range(20)],
            "doc_id long, text string",
        )
        shards = {
            r["shard_id"]: (r["n_docs"], r["shard_tokens"])
            for r in pack_token_shards(docs, budget=50).collect()
        }
        # 1+2+...+20 = 210 tokens => shards 0..4 under budget 50
        assert sum(v[1] for v in shards.values()) == 210
        assert sum(v[0] for v in shards.values()) == 20

        ch = spark.createDataFrame(
            [(i, 1000 + (i * 37) % 50, "t") for i in range(40)],
            "event_id long, commit_ts_ms long, table_name string",
        )
        seq = orderby_commit_ts(ch).collect()
        ordered = sorted(seq, key=lambda r: (r["commit_ts_ms"], r["event_id"]))
        assert [r["seq_no"] for r in ordered] == list(range(1, 41))
