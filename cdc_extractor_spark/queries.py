"""Query registry: every implemented operator from SURVEY.md §2 as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle string over the same parquet views.

Contract (driver verify, __spark_entry__.py): per query the driver
compares row-count + schema + order-insensitive value-hash between the
Spark result and the DuckDB oracle at sf0.01.  Column names are matched
after sorting by name, so every computed column is aliased identically
on both sides.  tests/test_oracle_parity.py runs the same comparison
locally at sf0.001.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window

from pyspark.sql import functions as F

from .config import TABLE_GROUPS
from .functions import dedup, multimodal, similarity, sketches, text
from .io import load_table
from .operators import analytics, cdc, changelog, relational, skew, star
from .partitioning import data_proportional_partitions, scoped_shuffle_partitions
from .sources.changes import CHANGES_CTE, changes_df

QueryFn = Callable[[SparkSession, str], DataFrame]

# Bound parameters (same values baked into the oracle SQL strings).
ISIN_TABLES = TABLE_GROUPS["first"]  # ('click', 'view')
OFFSET_LO, OFFSET_HI = 100, 5000
TASK_SIZE = 100

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Group A — reference dataflow (operators/changelog.py)
# --------------------------------------------------------------------------

@_q(
    "scan_changelog",
    "SELECT event_id, epoch_ms(ts) AS ts_ms, user_id, event_type, value, props "
    "FROM events",
)
def q_scan_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.scan_changelog(load_table(spark, sf_dir, "events"))


@_q(
    "filter_isin",
    "SELECT event_id, event_type, user_id, value FROM events "
    "WHERE event_type IN ('click', 'view')",
)
def q_filter_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.filter_isin(load_table(spark, sf_dir, "events"), ISIN_TABLES)


@_q(
    "filter_offset_range",
    f"SELECT event_id, user_id, event_type, value FROM events "
    f"WHERE event_id > {OFFSET_LO} AND event_id <= {OFFSET_HI}",
)
def q_filter_offset_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.filter_offset_range(
        load_table(spark, sf_dir, "events"), OFFSET_LO, OFFSET_HI
    )


@_q(
    "agg_max_offset",
    "SELECT max(event_id) AS max_event_id, count(*) AS n_events FROM events",
)
def q_agg_max_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.agg_max_offset(load_table(spark, sf_dir, "events"))


@_q(
    "project_cast_string",
    "SELECT CAST(event_id AS VARCHAR) AS event_id, "
    "strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS ts_str, "
    "CAST(user_id AS VARCHAR) AS user_id, event_type, "
    "printf('%.2f', value) AS value_str, props FROM events",
)
def q_project_cast_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.project_cast_string(load_table(spark, sf_dir, "events"))


@_q("distinct_keys", "SELECT DISTINCT user_id FROM events")
def q_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.distinct_keys(load_table(spark, sf_dir, "events"))


@_q(
    "join_lookup_commit_ts",
    "SELECT e.user_id AS user_id, c.c_name AS c_name, c.c_nationkey AS c_nationkey "
    "FROM (SELECT DISTINCT user_id FROM events) e "
    "LEFT JOIN customer c ON e.user_id = c.c_custkey",
)
def q_join_lookup_commit_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.join_lookup_commit_ts(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "customer")
    )


@_q(
    "group_collect_xids",
    "SELECT epoch_ms(date_trunc('minute', ts)) AS commit_minute_ms, "
    "array_to_string(list_sort(list(DISTINCT user_id)), ',') AS xids, "
    "count(DISTINCT user_id) AS n_xids "
    "FROM events GROUP BY 1",
)
def q_group_collect_xids(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.group_collect_xids(load_table(spark, sf_dir, "events"))


@_q(
    "watermark_max_commit_ts",
    "SELECT epoch_ms(max(ts)) AS uptodate_ms, epoch_ms(min(ts)) AS oldest_ms, "
    "count(*) AS n_events FROM events",
)
def q_watermark_max_commit_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.watermark_max_commit_ts(load_table(spark, sf_dir, "events"))


@_q(
    "window_tumbling_1min",
    "SELECT window_start_ms, n_rows, value_cents, "
    "CAST(floor(value_cents / n_rows) AS BIGINT) AS avg_value_cents FROM ("
    "  SELECT epoch_ms(date_trunc('minute', ts)) AS window_start_ms, "
    "         count(*) AS n_rows, "
    # CAST around sum: DuckDB sum(BIGINT) yields HUGEINT, which breaks
    # schema/type parity with Spark's long
    "         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    "  FROM events GROUP BY 1) t",
)
def q_window_tumbling_1min(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.window_tumbling_1min(load_table(spark, sf_dir, "events"))


@_q(
    "staleness_lag",
    "SELECT event_id, staleness_ms, "
    "CAST(floor(avg(staleness_ms) OVER "
    "  (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS BIGINT) "
    "AS running_avg_ms FROM ("
    "  SELECT event_id, "
    "  epoch_ms(TIMESTAMP '2024-02-01 00:00:00') - epoch_ms(ts) AS staleness_ms "
    "  FROM events) t",
)
def q_staleness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.staleness_lag(load_table(spark, sf_dir, "events"))


@_q(
    "task_latency_stats",
    f"SELECT CAST(floor(event_id / {TASK_SIZE}) AS BIGINT) AS task_id, "
    "count(*) AS n_rows, min(event_id) AS min_event_id, "
    "max(event_id) AS max_event_id, "
    "epoch_ms(max(ts)) - epoch_ms(min(ts)) AS ts_span_ms "
    "FROM events GROUP BY 1",
)
def q_task_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return changelog.task_latency_stats(
        load_table(spark, sf_dir, "events"), TASK_SIZE
    )


# --------------------------------------------------------------------------
# Group B — CDC apply semantics (operators/cdc.py over the derived
# `changes` fixture; the oracle rebuilds the identical stream via
# CHANGES_CTE so the whole pipeline is verified end-to-end)
# --------------------------------------------------------------------------

_LATEST_SQL = (
    "SELECT table_name, key, event_id AS last_event_id, action AS last_action, "
    "val_cents AS last_val_cents, commit_ts_ms AS last_commit_ts_ms FROM changes "
    "QUALIFY row_number() OVER (PARTITION BY table_name, key "
    "ORDER BY commit_ts_ms DESC, event_id DESC) = 1"
)


@_q("cdc_latest_per_key", CHANGES_CTE + _LATEST_SQL)
def q_cdc_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.latest_per_key(changes_df(spark, sf_dir))


@_q(
    "cdc_apply_deletes",
    CHANGES_CTE + f"SELECT * FROM ({_LATEST_SQL}) t WHERE last_action <> 'D'",
)
def q_cdc_apply_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.apply_deletes(changes_df(spark, sf_dir))


@_q(
    "cdc_demux",
    CHANGES_CTE
    + "SELECT table_name, count(*) AS n_changes, count(DISTINCT key) AS n_keys, "
    "min(event_id) AS min_event_id, max(event_id) AS max_event_id "
    "FROM changes GROUP BY table_name",
)
def q_cdc_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.demux_summary(changes_df(spark, sf_dir))


@_q(
    "orderby_commit_ts",
    CHANGES_CTE
    + "SELECT event_id, commit_ts_ms, table_name, "
    "row_number() OVER (ORDER BY commit_ts_ms, event_id) AS seq_no FROM changes",
)
def q_orderby_commit_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.orderby_commit_ts(changes_df(spark, sf_dir))


@_q(
    "window_counts_per_table",
    CHANGES_CTE
    + "SELECT table_name, commit_ts_ms - commit_ts_ms % 60000 AS window_start_ms, "
    "count(*) AS n_changes, count(DISTINCT key) AS n_keys "
    "FROM changes GROUP BY 1, 2",
)
def q_window_counts_per_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.window_counts_per_table(changes_df(spark, sf_dir))


_SCD2_WINDOW = (
    "WINDOW w AS (PARTITION BY table_name, key ORDER BY commit_ts_ms, event_id)"
)


@_q(
    "cdc_scd2_history",
    CHANGES_CTE
    + "SELECT table_name, key, "
    "CAST(row_number() OVER w AS BIGINT) AS version_no, action, val_cents, "
    "commit_ts_ms AS valid_from_ms, lead(commit_ts_ms) OVER w AS valid_to_ms, "
    "(lead(commit_ts_ms) OVER w IS NULL AND action <> 'D') AS is_current "
    "FROM changes " + _SCD2_WINDOW,
)
def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.scd2_history(changes_df(spark, sf_dir))


# As-of instant for the time-travel snapshot: includes every customer
# change (txn ids there are tiny) and exactly the orders changes whose
# txn id <= 3,340,000 — i.e. orderkeys up to ~2,500 at every sf, so the
# cut lands mid-stream regardless of scale factor.
ASOF_TXN = 3_340_000
ASOF_MS = 1_704_067_200_000 + ASOF_TXN * 1000


@_q(
    "cdc_snapshot_asof",
    CHANGES_CTE
    + f"SELECT * FROM (SELECT table_name, key, event_id AS last_event_id, "
    "action AS last_action, val_cents AS last_val_cents, "
    "commit_ts_ms AS last_commit_ts_ms FROM changes "
    f"WHERE commit_ts_ms <= {ASOF_MS} "
    "QUALIFY row_number() OVER (PARTITION BY table_name, key "
    "ORDER BY commit_ts_ms DESC, event_id DESC) = 1) t "
    "WHERE last_action <> 'D'",
)
def q_cdc_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.snapshot_asof(changes_df(spark, sf_dir), ASOF_MS)


@_q(
    "cdc_gap_summary",
    CHANGES_CTE
    + "SELECT table_name, "
    "CAST(count(CASE WHEN gap > 0 THEN 1 END) AS BIGINT) AS n_gaps, "
    "CAST(coalesce(sum(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT) "
    "  AS n_missing_ids, "
    "CAST(coalesce(max(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT) "
    "  AS max_gap_len "
    "FROM (SELECT table_name, event_id - lag(event_id) OVER "
    "(PARTITION BY table_name ORDER BY event_id) - 1 AS gap FROM changes) "
    "GROUP BY table_name",
)
def q_cdc_gap_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.offset_gap_summary(changes_df(spark, sf_dir))


@_q(
    "cdc_gap_summary_partitioned",
    CHANGES_CTE
    + "SELECT table_name, "
    "CAST(count(CASE WHEN gap > 0 THEN 1 END) AS BIGINT) AS n_gaps, "
    "CAST(coalesce(sum(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT) "
    "  AS n_missing_ids, "
    "CAST(coalesce(max(CASE WHEN gap > 0 THEN gap END), 0) AS BIGINT) "
    "  AS max_gap_len "
    "FROM (SELECT table_name, event_id - lag(event_id) OVER "
    "(PARTITION BY table_name ORDER BY event_id) - 1 AS gap FROM changes) "
    "GROUP BY table_name",
)
def q_cdc_gap_summary_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB form of the gap audit (VERDICT r5 task #5): per-DAY
    windows + cross-boundary stitching.  commit_ts_ms is monotone in
    event_id within each table (changes.py: both derive from
    transaction_id), so day partitions are event_id-interval-disjoint
    and the stitched result is exactly the global audit — the oracle
    is cdc_gap_summary's unchanged single-window SQL."""
    ch = changes_df(spark, sf_dir).withColumn(
        "_day", F.expr("commit_ts_ms div 86400000")
    )
    return cdc.offset_gap_summary(ch, "_day")


@_q(
    "cdc_net_change_summary",
    CHANGES_CTE
    + "SELECT table_name, "
    "CAST(count(CASE WHEN action = 'I' THEN 1 END) AS BIGINT) AS n_inserts, "
    "CAST(count(CASE WHEN action = 'U' THEN 1 END) AS BIGINT) AS n_updates, "
    "CAST(count(CASE WHEN action = 'D' THEN 1 END) AS BIGINT) AS n_deletes, "
    "CAST(count(CASE WHEN action = 'I' THEN 1 END) "
    "   - count(CASE WHEN action = 'D' THEN 1 END) AS BIGINT) AS net_rows, "
    "count(DISTINCT key) AS n_keys, "
    "min(commit_ts_ms) AS first_commit_ms, max(commit_ts_ms) AS last_commit_ms "
    "FROM changes GROUP BY table_name",
)
def q_cdc_net_change_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.net_change_summary(changes_df(spark, sf_dir))


@_q(
    "cdc_version_delta",
    CHANGES_CTE
    + "SELECT table_name, key, event_id, val_cents, prev_val_cents, "
    "val_cents - prev_val_cents AS delta_cents FROM ("
    "SELECT table_name, key, event_id, action, val_cents, "
    "lag(val_cents) OVER w AS prev_val_cents FROM changes " + _SCD2_WINDOW
    + ") WHERE action = 'U'",
)
def q_cdc_version_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.version_deltas(changes_df(spark, sf_dir))


# --------------------------------------------------------------------------
# Group C — extensions: dedup, text analysis, JSON, star joins, similarity
# --------------------------------------------------------------------------

# Shared oracle CTE: token stream with 0-based positions (mirrors
# functions/text.py `tokens`: posexplode over the whitespace split).
_TOKS_CTE = (
    "WITH toks AS ("
    "  SELECT doc_id, unnest(string_split(text, ' ')) AS tok, "
    "         generate_subscripts(string_split(text, ' '), 1) - 1 AS pos "
    "  FROM documents), toksf AS (SELECT * FROM toks WHERE tok <> '')"
)


@_q(
    "dedup_exact",
    "SELECT sha256(text) AS text_sha, min(doc_id) AS keep_id, count(*) AS n_copies "
    "FROM documents GROUP BY 1",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


@_q(
    "text_term_freq",
    "SELECT lang, word, count(*) AS n FROM ("
    "  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents) t "
    "WHERE word <> '' GROUP BY 1, 2",
)
def q_text_term_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.term_freq(load_table(spark, sf_dir, "documents"))


@_q(
    "json_extract_props",
    "SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, "
    "count(*) AS n_events, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    "FROM events GROUP BY 1",
)
def q_json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.get_json_object("props", "$.k").cast("long").alias("k")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@_q(
    "json_typed_parse",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, "
    "CASE WHEN json_extract_string(props, '$.k') IS NULL THEN 0 ELSE 1 END "
    "  AS parsed_ok "
    "FROM events",
)
def q_json_typed_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 — schema-declared JSON parsing (``from_json`` with an explicit
    StructType, vs the path-extraction form in json_extract_props).
    Malformed rows yield nulls, surfaced via ``parsed_ok``."""
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.LongType())])
    events = load_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_id", F.from_json("props", schema).alias("p")
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.when(F.col("p.k").isNull(), F.lit(0)).otherwise(F.lit(1)).alias(
            "parsed_ok"
        ).cast("int"),
    )


@_q(
    "starjoin_revenue_by_region",
    "SELECT r_name, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)"
    " AS revenue_cents, count(*) AS n_items "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "WHERE l_shipdate < TIMESTAMP '1999-01-01' GROUP BY 1",
)
def q_starjoin_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n)
         for n in ("lineitem", "orders", "customer", "nation", "region")}
    return star.revenue_by_region(
        t["lineitem"], t["orders"], t["customer"], t["nation"], t["region"]
    )


@_q(
    "starjoin_revenue_by_nation_year",
    "SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)"
    " AS revenue_cents, count(*) AS n_items "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY 1, 2",
)
def q_starjoin_revenue_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n)
         for n in ("lineitem", "orders", "customer", "nation")}
    return star.revenue_by_nation_year(
        t["lineitem"], t["orders"], t["customer"], t["nation"]
    )


@_q(
    "part_brand_stats",
    "SELECT p_brand, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)"
    " AS revenue_cents, count(DISTINCT l_partkey) AS n_parts "
    "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1",
)
def q_part_brand_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star.part_brand_stats(
        load_table(spark, sf_dir, "lineitem"), load_table(spark, sf_dir, "part")
    )


@_q(
    "supplier_nation_volume",
    "SELECT n_name, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)"
    " AS revenue_cents, count(*) AS n_items, count(DISTINCT l_suppkey) AS n_suppliers "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey GROUP BY 1",
)
def q_supplier_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star.supplier_nation_volume(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@_q(
    "cube_returns",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, "
    "count(*) AS n_rows, "
    "CAST(grouping(l_returnflag, l_linestatus) AS BIGINT) AS grouping_level "
    "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)",
)
def q_cube_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return star.cube_returns(load_table(spark, sf_dir, "lineitem"))


_EMB_CTE = (
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, "
    "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm "
    "FROM embeddings)"
)


@_q(
    "topk_cosine_similarity",
    _EMB_CTE + ", "
    "q AS (SELECT vec_id AS query_id, emb AS qe, norm AS qn FROM e WHERE vec_id < 5), "
    "c AS (SELECT vec_id AS neighbor_id, emb AS ce, norm AS cn FROM e WHERE vec_id >= 5), "
    "s AS (SELECT query_id, neighbor_id, "
    "      round(list_dot_product(qe, ce) / (qn * cn), 6) AS cosine FROM q, c) "
    "SELECT query_id, neighbor_id, rank, cosine FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s) t WHERE rank <= 10",
)
def q_topk_cosine_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.topk_cosine(load_table(spark, sf_dir, "embeddings"), 5, 10)


# Binary-quantization ANN tier: Hamming distance over sign bits.  The
# oracle skips the bit packing entirely and counts sign disagreements
# positionally — semantically identical, so a packing bug (bit order,
# sign-bit wrap, slice off-by-one) surfaces as a hash mismatch.
@_q(
    "ann_hamming_topk",
    "WITH e AS (SELECT vec_id, embedding FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, embedding AS qe FROM e WHERE vec_id < 5), "
    "c AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM e WHERE vec_id >= 5), "
    "s AS (SELECT query_id, neighbor_id, "
    "  CAST(list_sum(list_transform(range(1, 65), i -> "
    "    CASE WHEN (qe[i] > 0) <> (ce[i] > 0) THEN 1 ELSE 0 END)) AS BIGINT) "
    "    AS hamming FROM q, c) "
    "SELECT query_id, neighbor_id, hamming, rank FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY hamming ASC, neighbor_id ASC) AS rank FROM s) t "
    "WHERE rank <= 10",
)
def q_ann_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_hamming_topk(
        load_table(spark, sf_dir, "embeddings"), 5, 10
    )


# Late-interaction (MaxSim) retrieval: the oracle slices the embedding
# into the same 4×16-dim bag with list slicing and replays
# Σ max(list_dot_product) per pair; both engines fold the 16-term dot
# strictly left-to-right in float64, and scores round to 6dp before
# ranking (the repo-wide ranked-score discipline).
@_q(
    "multivector_maxsim_topk",
    "WITH e AS (SELECT vec_id, "
    "  [embedding[1:16]::DOUBLE[], embedding[17:32]::DOUBLE[], "
    "   embedding[33:48]::DOUBLE[], embedding[49:64]::DOUBLE[]] AS subs "
    "  FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, subs AS qsubs FROM e WHERE vec_id < 5), "
    "c AS (SELECT vec_id AS neighbor_id, subs AS csubs FROM e "
    "  WHERE vec_id >= 5), "
    "s AS (SELECT query_id, neighbor_id, "
    "  round(list_sum(list_transform(qsubs, qv -> "
    "    list_max(list_transform(csubs, cv -> list_dot_product(qv, cv)))"
    "  )), 6) AS maxsim FROM q, c) "
    "SELECT query_id, neighbor_id, maxsim, rank FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY maxsim DESC, neighbor_id ASC) AS rank FROM s) t "
    "WHERE rank <= 10",
)
def q_multivector_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.multivector_maxsim_topk(
        load_table(spark, sf_dir, "embeddings"), 5, 10
    )


# Two-stage retrieval ladder: the Hamming tier's oracle produces the
# shortlist CTE verbatim, the MaxSim oracle reranks it — the
# composition is exactly the two standalone oracles composed.
@_q(
    "ann_maxsim_rerank",
    "WITH e0 AS (SELECT vec_id, embedding FROM embeddings), "
    "q0 AS (SELECT vec_id AS query_id, embedding AS qe FROM e0 WHERE vec_id < 5), "
    "c0 AS (SELECT vec_id AS neighbor_id, embedding AS ce FROM e0 "
    "  WHERE vec_id >= 5), "
    "h AS (SELECT query_id, neighbor_id, "
    "  CAST(list_sum(list_transform(range(1, 65), i -> "
    "    CASE WHEN (qe[i] > 0) <> (ce[i] > 0) THEN 1 ELSE 0 END)) AS BIGINT) "
    "    AS hamming FROM q0, c0), "
    "short AS (SELECT query_id, neighbor_id, hamming FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY hamming ASC, neighbor_id ASC) AS hrank FROM h) t "
    "  WHERE hrank <= 50), "
    "e AS (SELECT vec_id, "
    "  [embedding[1:16]::DOUBLE[], embedding[17:32]::DOUBLE[], "
    "   embedding[33:48]::DOUBLE[], embedding[49:64]::DOUBLE[]] AS subs "
    "  FROM embeddings), "
    "s AS (SELECT short.query_id, short.neighbor_id, short.hamming, "
    "  round(list_sum(list_transform(qs.subs, qv -> "
    "    list_max(list_transform(cs.subs, cv -> list_dot_product(qv, cv)))"
    "  )), 6) AS maxsim "
    "  FROM short JOIN e qs ON qs.vec_id = short.query_id "
    "  JOIN e cs ON cs.vec_id = short.neighbor_id) "
    "SELECT query_id, neighbor_id, hamming, maxsim, rank FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY maxsim DESC, neighbor_id ASC) AS rank FROM s) t "
    "WHERE rank <= 10",
)
def q_ann_maxsim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ann_maxsim_rerank(
        load_table(spark, sf_dir, "embeddings"), 5, 10, 50
    )


@_q(
    "embedding_cosine_neardup",
    _EMB_CTE + " "
    "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, "
    "round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) AS cosine "
    "FROM e a, e b "
    "WHERE a.vec_id < b.vec_id AND a.vec_id < 2000 AND b.vec_id < 2000 "
    "AND round(list_dot_product(a.emb, b.emb) / (a.norm * b.norm), 6) >= 0.35",
)
def q_embedding_cosine_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_neardup_pairs(
        load_table(spark, sf_dir, "embeddings"), 0.35, 2000
    )


# The LSH hyperplanes are a deterministic integer LCG
# (similarity._hyperplane), so the ENTIRE query — bucket assignment,
# bucket-restricted candidate join, and exact-cosine re-rank — is
# reproducible in portable SQL: the oracle regenerates plane p,
# component j as ((1103515245*(p*64+j)+12345) % 2048)/1024 - 1 and
# re-derives every bucket bit.  This upgrades the ANN family from
# rows-only to a full value-hash check (recall vs exact top-k remains
# asserted in pytest).
@_q(
    "ann_lsh_bucketed_topk",
    _EMB_CTE + ", "
    "pl AS (SELECT p, list(((1103515245 * (p * 64 + j) + 12345) % 2048) "
    "       / 1024.0 - 1.0 ORDER BY j) AS plane "
    "       FROM range(4) tp(p), range(64) tj(j) GROUP BY p), "
    "b AS (SELECT e.vec_id, CAST(sum(CASE WHEN "
    "      list_dot_product(e.emb, pl.plane) > 0 "
    "      THEN (1::BIGINT << p) ELSE 0 END) AS BIGINT) AS bucket "
    "      FROM e, pl GROUP BY e.vec_id), "
    "eb AS (SELECT e.vec_id, e.emb, e.norm, b.bucket "
    "       FROM e JOIN b USING (vec_id)), "
    "q AS (SELECT vec_id AS query_id, emb AS qe, norm AS qn, bucket AS qb "
    "      FROM eb WHERE vec_id < 5), "
    "c AS (SELECT vec_id AS neighbor_id, emb AS ce, norm AS cn, bucket AS cb "
    "      FROM eb WHERE vec_id >= 5), "
    "s AS (SELECT query_id, neighbor_id, "
    "      round(list_dot_product(qe, ce) / (qn * cn), 6) AS cosine, "
    "      qb AS bucket FROM q JOIN c ON qb = cb) "
    "SELECT query_id, neighbor_id, rank, cosine, bucket FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s) t "
    "WHERE rank <= 10",
)
def q_ann_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_bucketed_topk(load_table(spark, sf_dir, "embeddings"))


# IVF cells are the fixture's label column and centroids are plain
# per-dimension means, so routing (rank cells by query↔centroid cosine,
# probe nprobe=3) and the in-cell exact re-rank are both reproducible
# in portable SQL — value-hash-checked end-to-end.  Routing compares
# cosines of DISTINCT cell centroids (gaps ≫ float summation-order
# noise), so the unrounded routing rank is engine-stable; the output
# cosine is rounded to 6 as everywhere.  nprobe=all-cells equality with
# exact top-k and partial-probe recall remain asserted in pytest.
@_q(
    "ann_ivf_topk",
    "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb, "
    "     sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm "
    "     FROM embeddings), "
    "cd AS (SELECT label, j, avg(emb[j+1]) AS c "
    "       FROM e, range(64) t(j) GROUP BY label, j), "
    "cent AS (SELECT label, list(c ORDER BY j) AS centroid FROM cd GROUP BY label), "
    "q AS (SELECT vec_id AS query_id, emb AS qe, norm AS qn FROM e WHERE vec_id < 5), "
    "r AS (SELECT q.query_id, q.qe, q.qn, cent.label, "
    "      list_dot_product(q.qe, cent.centroid) / (q.qn * "
    "      sqrt(list_dot_product(cent.centroid, cent.centroid))) AS c_cos "
    "      FROM q, cent), "
    "p AS (SELECT query_id, qe, qn, label FROM ("
    "      SELECT *, row_number() OVER (PARTITION BY query_id "
    "      ORDER BY c_cos DESC, label ASC) AS pr FROM r) rr WHERE pr <= 3), "
    "c AS (SELECT vec_id AS neighbor_id, emb AS ce, norm AS cn, label "
    "      FROM e WHERE vec_id >= 5), "
    "s AS (SELECT p.query_id, c.neighbor_id, "
    "      round(list_dot_product(p.qe, c.ce) / (p.qn * c.cn), 6) AS cosine "
    "      FROM c JOIN p USING (label)) "
    "SELECT query_id, neighbor_id, rank, cosine FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s) t "
    "WHERE rank <= 10",
)
def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(load_table(spark, sf_dir, "embeddings"), 5, 10, 3)


@_q(
    "token_count",
    "SELECT doc_id, "
    "CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n_tokens, "
    "CAST(len(list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))) AS BIGINT)"
    " AS n_distinct_tokens, "
    "CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_word_runs, "
    "CAST(length(text) AS BIGINT) AS n_chars "
    "FROM documents",
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats(load_table(spark, sf_dir, "documents"))


@_q(
    "quality_score",
    _TOKS_CTE + ", "
    "per_doc AS (SELECT doc_id, count(*) AS n_tokens, "
    "  CAST(sum(length(tok)) AS BIGINT) AS tok_chars, "
    "  CAST(sum(CASE WHEN tok IN ('the','a','of','and','to') THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_stop FROM toksf GROUP BY 1) "
    "SELECT d.doc_id, d.lang, p.n_tokens, "
    "CAST(floor(p.n_stop * 10000 / p.n_tokens) AS BIGINT) AS stop_bp, "
    "CAST(floor(p.tok_chars * 100 / p.n_tokens) AS BIGINT) AS avg_tok_len_x100, "
    "CAST(least(p.n_tokens, 100) * 50 + "
    "  CAST(floor((10000 - floor(p.n_stop * 10000 / p.n_tokens)) / 2) AS BIGINT) AS BIGINT)"
    "  AS quality_bp "
    "FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id",
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_score(load_table(spark, sf_dir, "documents"))


_MARKERS_VALUES = ", ".join(
    f"('{lang}', '{tok}')"
    for lang, toks in sorted(text.LANG_MARKERS.items())
    for tok in toks
)


@_q(
    "lang_id",
    _TOKS_CTE + ", "
    f"markers AS (SELECT * FROM (VALUES {_MARKERS_VALUES}) m(cand_lang, tok)), "
    "scores AS (SELECT doc_id, cand_lang, count(*) AS hits FROM toksf "
    "  JOIN markers USING (tok) GROUP BY 1, 2), "
    "best AS (SELECT doc_id, cand_lang AS lang_pred, hits FROM scores "
    "  QUALIFY row_number() OVER (PARTITION BY doc_id "
    "  ORDER BY hits DESC, cand_lang ASC) = 1) "
    "SELECT d.doc_id, d.lang, coalesce(b.lang_pred, 'und') AS lang_pred, "
    "CAST(coalesce(b.hits, 0) AS BIGINT) AS hits "
    "FROM documents d LEFT JOIN best b ON d.doc_id = b.doc_id",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(load_table(spark, sf_dir, "documents"), spark)


@_q(
    "doc_fingerprint",
    _TOKS_CTE + ", "
    "hashed AS (SELECT doc_id, ((pos + 1) * "
    "  (((CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 2147483647) "
    "  * 48271 + 11) % 2147483647)) % 2147483647 AS term FROM toksf) "
    "SELECT doc_id, CAST(sum(term) % 2147483647 AS BIGINT) AS fingerprint, "
    "count(*) AS n_tokens FROM hashed GROUP BY 1",
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.doc_fingerprint(load_table(spark, sf_dir, "documents"))


@_q(
    "dedup_simhash",
    _TOKS_CTE + ", "
    "tc AS (SELECT doc_id, tok, count(*) AS cnt FROM toksf GROUP BY 1, 2), "
    "hashed AS (SELECT doc_id, cnt, "
    "  ((CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 2147483647) "
    "  * 2654435761 + 40503) % 2147483647 AS hv FROM tc), "
    "votes AS (SELECT doc_id, b.b AS b, "
    "  sum(CASE WHEN (hv // CAST(pow(2, b.b) AS BIGINT)) % 2 = 1 "
    "      THEN cnt ELSE -cnt END) AS v "
    "  FROM hashed, unnest(range(0, 16)) AS b(b) GROUP BY 1, 2) "
    "SELECT doc_id, CAST(sum(CASE WHEN v > 0 THEN CAST(pow(2, b) AS BIGINT) "
    "ELSE 0 END) AS BIGINT) AS simhash FROM votes GROUP BY 1",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash(load_table(spark, sf_dir, "documents"))


# Shared oracle CTE chain for shingle-based dedup (mirrors
# functions/dedup.py shingles → _shingle_ids_rank → minhash pipeline).
def _shingle_cte(k: int) -> str:
    leads = ", ".join(
        f"lead(tok, {i}) OVER (PARTITION BY doc_id ORDER BY pos) AS l{i}"
        for i in range(1, k)
    )
    concat = " || ' ' || ".join(["tok"] + [f"l{i}" for i in range(1, k)])
    return (
        _TOKS_CTE + ", "
        f"led AS (SELECT doc_id, tok, {leads} FROM toksf), "
        f"sh AS (SELECT DISTINCT doc_id, {concat} AS shingle FROM led "
        f"  WHERE l{k - 1} IS NOT NULL)"
    )


_JACCARD_SQL = (
    "SELECT doc_a, doc_b, n_inter, jaccard_bp FROM ("
    "  SELECT i.doc_a, i.doc_b, i.n_inter, "
    "  CAST(floor(i.n_inter * 10000 / (na.n_sh + nb.n_sh - i.n_inter)) AS BIGINT)"
    "    AS jaccard_bp "
    "  FROM inter i JOIN sizes na ON na.doc_id = i.doc_a "
    "  JOIN sizes nb ON nb.doc_id = i.doc_b) t WHERE jaccard_bp >= {min_bp}"
)


@_q(
    "dedup_ngram_jaccard",
    _shingle_cte(2).replace(
        "FROM documents", "FROM documents WHERE doc_id < 1000", 1
    )
    + ", "
    "inter AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, count(*) AS n_inter "
    "  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id "
    "  GROUP BY 1, 2), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1) "
    + _JACCARD_SQL.format(min_bp=5000),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), 2, 5000, 1000
    )


@_q(
    "dedup_minhash_lsh",
    _shingle_cte(3) + ", "
    "ids AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 12)) "
    "  AS BIGINT) % 2147483647 AS sid FROM sh), "
    "sigs AS (SELECT doc_id, h.h AS h, "
    "  min(((2 * h.h + 1) * sid + (7919 * h.h + 12345)) % 2147483647) AS minhash "
    "  FROM ids, unnest(range(0, 16)) AS h(h) GROUP BY 1, 2), "
    "bands AS (SELECT doc_id, h // 4 AS band, "
    "  array_to_string(list_sort(list(h || '=' || minhash)), ':') AS sig "
    "  FROM sigs GROUP BY 1, 2), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a "
    "  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id), "
    "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c "
    "  JOIN sh sa ON sa.doc_id = c.doc_a "
    "  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle "
    "  GROUP BY 1, 2), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1) "
    + _JACCARD_SQL.format(min_bp=8000),
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_dedup(load_table(spark, sf_dir, "documents"), 3, 0.8)


# Verbatim-span detection (Lee et al. 2022 family): every-position
# windows thinned by content-defined md5 selection (winnowing), shared
# across ≥2 docs.  The oracle replays the identical selection — the
# '0x'||md5 idiom matches Spark's conv(substring(md5)) bit-for-bit.
@_q(
    "dedup_exact_substrings",
    "WITH wins AS ("
    "  SELECT DISTINCT doc_id, w FROM ("
    "    SELECT doc_id, substr(text, CAST(i + 1 AS BIGINT), 40) AS w "
    "    FROM documents, "
    "      unnest(range(0, length(text) - 40 + 1)) AS u(i) "
    "    WHERE length(text) >= 40) "
    "  WHERE CAST(('0x' || substr(md5(w), 1, 12)) AS BIGINT) % 8 = 0), "
    "marked AS ("
    "  SELECT doc_id, "
    "    CASE WHEN count(*) OVER (PARTITION BY w) >= 2 THEN 1 ELSE 0 END "
    "      AS is_dup FROM wins) "
    "SELECT doc_id, count(*) AS n_windows, "
    "  CAST(sum(is_dup) AS BIGINT) AS n_dup_windows, "
    "  CAST(sum(is_dup) AS BIGINT) * 1000 // count(*) AS dup_permille "
    "FROM marked GROUP BY doc_id",
)
def q_dedup_exact_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_substring_dups(
        load_table(spark, sf_dir, "documents"), 40, 8
    )


# --------------------------------------------------------------------------
# Relational coverage (SURVEY.md §2 checklist gaps the reference
# delegates to Postgres: joins beyond scalar lookup, set ops, rollup,
# top-k) — operators/relational.py
# --------------------------------------------------------------------------

_ASOF_EO_CTE = (
    "WITH e AS (SELECT event_id, user_id AS uid, epoch_ms(ts) AS at_ms FROM events), "
    "o AS (SELECT o_custkey AS uid, epoch_ms(o_orderdate) AS at_ms, o_orderkey, "
    "  CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents FROM orders)"
)


@_q(
    "asof_join_latest_order",
    _ASOF_EO_CTE + " "
    "SELECT event_id, uid AS user_id, at_ms AS event_ms, last_orderkey, "
    "last_total_cents FROM ("
    "  SELECT e.event_id, e.uid, e.at_ms, o.o_orderkey AS last_orderkey, "
    "  o.total_cents AS last_total_cents, "
    "  row_number() OVER (PARTITION BY e.event_id "
    "    ORDER BY o.at_ms DESC, o.o_orderkey DESC) AS rn "
    "  FROM e LEFT JOIN o ON e.uid = o.uid AND o.at_ms <= e.at_ms) t "
    "WHERE rn = 1",
)
def q_asof_join_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.asof_join_latest_order(
        load_table(spark, sf_dir, "events"), load_table(spark, sf_dir, "orders")
    )


@_q(
    "range_join_prior_events",
    "WITH e AS (SELECT event_id, user_id AS uid, epoch_ms(ts) AS at_ms FROM events) "
    "SELECT a.event_id, a.uid AS user_id, count(*) AS n_prior_events, "
    "min(b.event_id) AS earliest_prior_id "
    "FROM e a JOIN e b ON a.uid = b.uid "
    "AND b.at_ms < a.at_ms AND b.at_ms >= a.at_ms - 3600000 "
    "GROUP BY 1, 2",
)
def q_range_join_prior_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.range_join_prior_events(
        load_table(spark, sf_dir, "events"), 1
    )


@_q(
    "semi_join_active_customers",
    "SELECT c_custkey, c_name, c_mktsegment FROM customer "
    "WHERE c_custkey IN (SELECT o_custkey FROM orders)",
)
def q_semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.semi_join_active_customers(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "orders")
    )


@_q(
    "anti_join_dormant_customers",
    "SELECT c_custkey, c_name, c_nationkey FROM customer "
    "WHERE c_custkey NOT IN (SELECT user_id FROM events)",
)
def q_anti_join_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.anti_join_dormant_customers(
        load_table(spark, sf_dir, "customer"), load_table(spark, sf_dir, "events")
    )


@_q(
    "set_ops_user_cohorts",
    "WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'), "
    "b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase') "
    "SELECT user_id, 'both' AS cohort FROM (SELECT * FROM a INTERSECT SELECT * FROM b) "
    "UNION ALL SELECT user_id, 'a_only' FROM (SELECT * FROM a EXCEPT SELECT * FROM b) "
    "UNION ALL SELECT user_id, 'b_only' FROM (SELECT * FROM b EXCEPT SELECT * FROM a)",
)
def q_set_ops_user_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.set_ops_user_cohorts(
        load_table(spark, sf_dir, "events"), ("click", "purchase")
    )


@_q(
    "rollup_revenue",
    "SELECT r_name, n_name, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)"
    " AS revenue_cents, count(*) AS n_items, "
    "CAST(grouping(r_name, n_name) AS BIGINT) AS grouping_level "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY ROLLUP(r_name, n_name)",
)
def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {n: load_table(spark, sf_dir, n)
         for n in ("lineitem", "orders", "customer", "nation", "region")}
    return relational.rollup_revenue(
        t["lineitem"], t["orders"], t["customer"], t["nation"], t["region"]
    )


@_q(
    "topk_customers_by_revenue",
    "SELECT rank, c_custkey, c_name, revenue_cents FROM ("
    "  SELECT o_custkey AS c_custkey, "
    "  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)"
    "    AS revenue_cents, "
    "  CAST(row_number() OVER (ORDER BY sum(CAST(round(l_extendedprice * "
    "    (1 - l_discount) * 100) AS BIGINT)) DESC, o_custkey ASC) AS BIGINT) AS rank "
    "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_custkey) t "
    "JOIN customer USING (c_custkey) WHERE rank <= 10",
)
def q_topk_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.topk_customers_by_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        10,
    )


@_q(
    "pricing_summary",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, "
    "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)"
    " AS sum_disc_cents, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100)"
    " AS BIGINT)) AS BIGINT) AS sum_charge_cents, "
    "CAST(floor(sum(CAST(l_quantity AS BIGINT)) / count(*)) AS BIGINT) AS avg_qty, "
    "CAST(floor(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / count(*)) AS BIGINT)"
    " AS avg_base_cents, "
    "count(*) AS n_rows "
    "FROM lineitem GROUP BY 1, 2",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.pricing_summary(load_table(spark, sf_dir, "lineitem"))


@_q(
    "map_explode_row_data",
    CHANGES_CTE
    + "SELECT event_id, f.field, f.value FROM changes, (VALUES "
    "  ('key'), ('val_cents')) v(fname), "
    "LATERAL (SELECT v.fname AS field, CASE v.fname WHEN 'key' "
    "  THEN CAST(key AS VARCHAR) ELSE CAST(val_cents AS VARCHAR) END AS value) f "
    "WHERE action <> 'D'",
)
def q_map_explode_row_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hstore-analog MapType surface (SURVEY.md §1.2 cols 15-16):
    build row_data as map<string,string>, explode to (field, value)
    rows — the shape a downstream schema-on-read consumer uses."""
    from .sources.changes import changes_with_row_data

    df = changes_with_row_data(spark, sf_dir).filter(F.col("action") != "D")
    return df.select(
        "event_id", F.explode(F.col("row_data")).alias("field", "value")
    )


@_q(
    "array_functions_suite",
    # Array-valued intermediates, SCALAR outputs: the driver's value
    # hasher cannot hash list cells, so every array is comma-joined to a
    # string at the output boundary (same rule as group_collect_xids).
    "SELECT doc_id, array_to_string(range(0, doc_id % 5 + 1), ',') AS seq, "
    "CAST(len(range(0, doc_id % 5 + 1)) AS BIGINT) AS seq_len, "
    "list_contains(range(0, doc_id % 5 + 1), 3) AS has_three, "
    "CAST(list_max(range(0, doc_id % 5 + 1)) AS BIGINT) AS seq_max, "
    "array_to_string(list_reverse(range(0, doc_id % 5 + 1)), ',') AS seq_rev, "
    "array_to_string(range(0, doc_id % 5 + 1)[1:2], ',') AS seq_head2, "
    "CAST(list_sum(range(0, doc_id % 5 + 1)) AS BIGINT) AS seq_sum "
    "FROM documents",
)
def q_array_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    seq = F.sequence(F.lit(0).cast("long"), (F.col("doc_id") % 5).cast("long"))
    return docs.select(
        "doc_id",
        F.array_join(seq, ",").alias("seq"),
        F.size(seq).cast("long").alias("seq_len"),
        F.array_contains(seq, 3).alias("has_three"),
        F.array_max(seq).cast("long").alias("seq_max"),
        F.array_join(F.reverse(seq), ",").alias("seq_rev"),
        F.array_join(F.slice(seq, 1, 2), ",").alias("seq_head2"),
        F.aggregate(seq, F.lit(0).cast("long"), lambda a, v: a + v).alias(
            "seq_sum"
        ),
    )


_Q3_SPARK_SQL = """
SELECT l_orderkey,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
            AS BIGINT) AS revenue_cents,
       date_format(o_orderdate, 'yyyy-MM-dd') AS o_date,
       o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
"""


@_q(
    "sql_shipping_priority",
    "SELECT l_orderkey, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))"
    "  AS BIGINT) AS revenue_cents, "
    "strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_orderpriority "
    "FROM customer JOIN orders ON c_custkey = o_custkey "
    "JOIN lineitem ON l_orderkey = o_orderkey "
    "WHERE c_mktsegment = 'BUILDING' "
    "AND o_orderdate < TIMESTAMP '1995-03-15' "
    "AND l_shipdate > TIMESTAMP '1995-03-15' "
    "GROUP BY l_orderkey, o_orderdate, o_orderpriority",
)
def q_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape through the textual SQL surface: fixtures are
    registered as temp views and the query is spark.sql(...) — same
    Catalyst plan class as the DataFrame forms, demonstrating the
    engine's full ANSI-SQL entry point."""
    from .io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q3_SPARK_SQL)


_Q6_SPARK_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
         AS revenue_micros,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@_q(
    "sql_forecast_revenue",
    "SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) "
    "  * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS revenue_micros, "
    "CAST(count(*) AS BIGINT) AS n_items "
    "FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01' "
    "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24",
)
def q_sql_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (revenue-change forecast): tight conjunctive
    range predicates over the fact table, no join — the canonical
    predicate-pushdown showcase (all three filters reach the parquet
    scan as PushedFilters; the scan reads 4 of 11 columns).
    Revenue kept in integer micros (cents × discount-bp) so the float
    product never enters the hash-compared aggregate."""
    from .io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q6_SPARK_SQL)


_Q14_SPARK_SQL = """
SELECT date_format(l_shipdate, 'yyyy-MM') AS ship_month,
       CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                          AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS total_cents,
       CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
                THEN CAST(round(l_extendedprice * (1 - l_discount) * 100)
                          AS BIGINT) ELSE 0 END) * 10000
            DIV sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS promo_bp
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY date_format(l_shipdate, 'yyyy-MM')
"""


@_q(
    "sql_promo_revenue_share",
    "SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, "
    "CAST(sum(CASE WHEN p_type LIKE 'PROMO%' "
    "  THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) "
    "  ELSE 0 END) AS BIGINT) AS promo_cents, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) "
    "  AS BIGINT) AS total_cents, "
    "CAST(sum(CASE WHEN p_type LIKE 'PROMO%' "
    "  THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) "
    "  ELSE 0 END) * 10000 // sum(CAST(round(l_extendedprice * (1 - l_discount) "
    "  * 100) AS BIGINT)) AS BIGINT) AS promo_bp "
    "FROM lineitem JOIN part ON l_partkey = p_partkey "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1997-01-01' "
    "GROUP BY strftime(l_shipdate, '%Y-%m')",
)
def q_sql_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion revenue share): fact⋈dim join where
    the dim (part) is broadcast, month bucketing, and a guarded ratio
    emitted in integer basis points (floor division on integer cents —
    identical floor semantics in Spark DIV and DuckDB //)."""
    from .io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_Q14_SPARK_SQL)


@_q(
    "full_outer_reconciliation",
    "WITH y96 AS (SELECT o_custkey AS custkey, "
    "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c96 "
    "FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1), "
    "y97 AS (SELECT o_custkey AS custkey, "
    "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c97 "
    "FROM orders WHERE year(o_orderdate) = 1997 GROUP BY 1) "
    "SELECT custkey, coalesce(c96, 0) AS cents_1996, "
    "coalesce(c97, 0) AS cents_1997, "
    "CASE WHEN c96 IS NULL THEN 'acquired' WHEN c97 IS NULL THEN 'churned' "
    "ELSE 'retained' END AS status "
    "FROM y96 FULL OUTER JOIN y97 USING (custkey)",
)
def q_full_outer_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.full_outer_yearly_reconciliation(
        load_table(spark, sf_dir, "orders")
    )


@_q(
    "embedding_centroid_stats",
    "SELECT CAST(label AS BIGINT) AS label, CAST(pos AS BIGINT) AS pos, "
    "CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) "
    "  AS sum_micros, "
    "CAST(count(*) AS BIGINT) AS n_members "
    "FROM (SELECT label, unnest(embedding) AS v, "
    "generate_subscripts(embedding, 1) - 1 AS pos FROM embeddings) "
    "GROUP BY 1, 2",
)
def q_embedding_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.centroid_integer_stats(
        load_table(spark, sf_dir, "embeddings")
    )


@_q(
    "window_range_frame",
    "SELECT event_id, user_id, ts_ms, value_cents, "
    "CAST(sum(value_cents) OVER w AS BIGINT) AS rolling_cents_10m, "
    "CAST(count(*) OVER w AS BIGINT) AS n_in_window "
    "FROM (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, "
    "CAST(round(value * 100) AS BIGINT) AS value_cents FROM events) "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms "
    "RANGE BETWEEN 600000 PRECEDING AND CURRENT ROW)",
)
def q_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based window, vs the suite's ROWS frames):
    per user, the rolling 10-minute sum/count by event time.  A RANGE
    frame is the window-function twin of a streaming sliding window —
    ties on the order key share one frame, so the result is
    deterministic under any partition-internal order."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_millis(F.col("ts")).alias("ts_ms"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ms")
        .rangeBetween(-600_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_ms",
        "value_cents",
        F.sum("value_cents").over(w).alias("rolling_cents_10m"),
        F.count(F.lit(1)).over(w).alias("n_in_window"),
    )


@_q(
    "partitioned_sink_pruned_read",
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents, "
    "min(event_id) AS min_event_id, max(event_id) AS max_event_id "
    "FROM events WHERE event_type IN ('click', 'purchase') GROUP BY event_type",
)
def q_partitioned_sink_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B1 physical demux round-trip: write the feed partitioned by
    event_type (sinks.write_partitioned_parquet), read it back with a
    partition filter, aggregate.  The filter prunes to the two matching
    directories — the scan never opens the other types' files
    (partition pruning is asserted on the plan in tests/test_plans.py).
    """
    import tempfile

    from . import sinks

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
    )
    out = tempfile.mkdtemp(prefix="part_sink_")
    sinks.write_partitioned_parquet(ev, out, "event_type")
    back = spark.read.parquet(out).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value_cents").alias("value_cents"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )


@_q(
    "rollup_two_level",
    "SELECT event_type, "
    "epoch_ms(ts) - epoch_ms(ts) % 3600000 AS hour_ms, "
    "CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents, "
    "min(event_id) AS min_event_id, max(event_id) AS max_event_id "
    "FROM events GROUP BY 1, 2",
)
def q_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance: 1-min partials rolled to 1-h
    buckets; the oracle aggregates the raw rows directly — equality
    proves partial-of-partial correctness for associative measures."""
    return analytics.two_level_rollup(load_table(spark, sf_dir, "events"))


@_q(
    "topk_per_group",
    "SELECT p_partkey, p_brand, price_cents, brand_rank FROM ("
    "SELECT p_partkey, p_brand, "
    "CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents, "
    "CAST(row_number() OVER (PARTITION BY p_brand "
    "ORDER BY CAST(round(p_retailprice * 100) AS BIGINT) DESC, p_partkey) "
    "AS BIGINT) AS brand_rank FROM part) WHERE brand_rank <= 3",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.topk_per_group(load_table(spark, sf_dir, "part"), 3)


@_q(
    "salted_skew_agg",
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents, "
    "max(event_id) AS max_event_id FROM events GROUP BY event_type",
)
def q_salted_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated aggregation (operators/skew.py): the hot grouping
    key is sprayed over 16 salted partials, then merged — results are
    provably identical to the direct groupBy for associative measures,
    which is exactly what the oracle checks."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )
    return skew.salted_agg(
        ev,
        ["event_type"],
        {
            "n_events": ("sum", F.count(F.lit(1))),
            "value_cents": ("sum", F.sum("value_cents")),
            "max_event_id": ("max", F.max("event_id")),
        },
    )


@_q(
    "profile_table_columns",
    " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, CAST(count(*) AS BIGINT) AS n_rows, "
        f"CAST(count({c}) AS BIGINT) AS n_nonnull, "
        f"CAST(count(*) - count({c}) AS BIGINT) AS n_nulls, "
        f"CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct, "
        f"min(CAST({c} AS VARCHAR)) AS min_str, "
        f"max(CAST({c} AS VARCHAR)) AS max_str FROM orders"
        for c in ("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
    ),
)
def q_profile_table_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.profile_columns(
        load_table(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
    )


# --------------------------------------------------------------------------
# Scalar/window function breadth — §2 checklist: ordered frames,
# lead/lag/rank family, string and temporal scalar functions
# --------------------------------------------------------------------------

@_q(
    "window_functions_suite",
    "SELECT event_id, user_id, "
    "lag(event_id) OVER w AS prev_id, "
    "lead(event_id) OVER w AS next_id, "
    "CAST(row_number() OVER w AS BIGINT) AS rn, "
    "CAST(rank() OVER (PARTITION BY user_id ORDER BY event_type) AS BIGINT) AS type_rank, "
    "CAST(dense_rank() OVER (PARTITION BY user_id ORDER BY event_type) AS BIGINT)"
    "  AS type_dense_rank, "
    "CAST(ntile(4) OVER w AS BIGINT) AS quartile, "
    "min(event_id) OVER (PARTITION BY user_id) AS first_id, "
    "max(event_id) OVER (PARTITION BY user_id "
    "  ORDER BY event_id ROWS UNBOUNDED PRECEDING) AS running_max "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)",
)
def q_window_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("event_id")
    wt = Window.partitionBy("user_id").orderBy("event_type")
    return events.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_id"),
        F.lead("event_id").over(w).alias("next_id"),
        F.row_number().over(w).cast("long").alias("rn"),
        F.rank().over(wt).cast("long").alias("type_rank"),
        F.dense_rank().over(wt).cast("long").alias("type_dense_rank"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.min("event_id").over(Window.partitionBy("user_id")).alias("first_id"),
        F.max("event_id")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("running_max"),
    )


@_q(
    "string_functions_suite",
    "SELECT doc_id, upper(substring(text, 1, 8)) AS head_upper, "
    "CAST(length(trim(text)) AS BIGINT) AS trimmed_len, "
    "replace(substring(text, 1, 20), ' ', '_') AS head_snake, "
    # 'g' flag: DuckDB replaces only the first match by default; Spark
    # replaces all
    "regexp_replace(substring(text, 1, 20), '[aeiou]', '*', 'g') AS head_devowel, "
    "lpad(CAST(doc_id AS VARCHAR), 8, '0') AS id_padded, "
    "CAST(strpos(text, 'query') AS BIGINT) AS query_pos, "
    "split_part(text, ' ', 1) AS first_word, "
    "reverse(split_part(text, ' ', 1)) AS first_word_rev "
    "FROM documents",
)
def q_string_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.upper(F.substring("text", 1, 8)).alias("head_upper"),
        F.length(F.trim(F.col("text"))).cast("long").alias("trimmed_len"),
        F.replace(
            F.substring("text", 1, 20), F.lit(" "), F.lit("_")
        ).alias("head_snake"),
        F.regexp_replace(F.substring("text", 1, 20), "[aeiou]", "*").alias(
            "head_devowel"
        ),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("id_padded"),
        F.instr(F.col("text"), "query").cast("long").alias("query_pos"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.reverse(F.split_part(F.col("text"), F.lit(" "), F.lit(1))).alias(
            "first_word_rev"
        ),
    )


@_q(
    "datetime_functions_suite",
    "SELECT o_orderkey, CAST(year(o_orderdate) AS BIGINT) AS o_year, "
    "CAST(quarter(o_orderdate) AS BIGINT) AS o_quarter, "
    "CAST(month(o_orderdate) AS BIGINT) AS o_month, "
    "CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dow, "
    "CAST(dayofyear(o_orderdate) AS BIGINT) AS doy, "
    "strftime(o_orderdate, '%Y-%m-%d') AS o_date_str, "
    "epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms, "
    "epoch_ms(o_orderdate + INTERVAL 30 DAY) AS due_ms "
    "FROM orders",
)
def q_datetime_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return orders.select(
        "o_orderkey",
        F.year(d).cast("long").alias("o_year"),
        F.quarter(d).cast("long").alias("o_quarter"),
        F.month(d).cast("long").alias("o_month"),
        # DuckDB dayofweek: 0=Sunday; Spark dayofweek: 1=Sunday
        F.dayofweek(d).cast("long").alias("dow"),
        F.dayofyear(d).cast("long").alias("doy"),
        F.date_format(d, "yyyy-MM-dd").alias("o_date_str"),
        F.unix_millis(F.date_trunc("month", d)).alias("month_start_ms"),
        F.unix_millis(d + F.expr("INTERVAL 30 DAYS")).alias("due_ms"),
    )


# --------------------------------------------------------------------------
# Analytics operators (operators/analytics.py): sessionization, pivot,
# histogram, vectorized UDAF
# --------------------------------------------------------------------------

@_q(
    "sessionize_events",
    "WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS at_ms FROM events), "
    "f AS (SELECT *, CASE WHEN at_ms - lag(at_ms) OVER "
    "  (PARTITION BY user_id ORDER BY event_id) > 1800000 THEN 1 ELSE 0 END AS ns "
    "  FROM e), "
    "s AS (SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY event_id "
    "  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no FROM f) "
    "SELECT user_id, session_no, count(*) AS n_events, min(at_ms) AS start_ms, "
    "max(at_ms) AS end_ms, max(at_ms) - min(at_ms) AS duration_ms "
    "FROM s GROUP BY 1, 2",
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.sessionize(load_table(spark, sf_dir, "events"), 30)


@_q(
    "pivot_event_counts",
    "SELECT user_id, "
    + ", ".join(
        f"count(*) FILTER (event_type = '{t}') AS {t}"
        for t in analytics.EVENT_TYPES
    )
    + " FROM events GROUP BY 1",
)
def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.pivot_event_counts(load_table(spark, sf_dir, "events"))


@_q(
    "value_histogram",
    "SELECT event_type, CAST(floor(value / 10) AS BIGINT) AS bucket, "
    "CAST(CAST(floor(value / 10) AS BIGINT) * 10 AS DOUBLE) AS bucket_lo, "
    "count(*) AS n FROM events GROUP BY 1, 2, 3",
)
def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.value_histogram(load_table(spark, sf_dir, "events"), 10)


@_q(
    "udaf_weighted_value",
    "SELECT event_type, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT) * (user_id % 5 + 1)) "
    "  // sum(user_id % 5 + 1) AS BIGINT) AS weighted_value_cents, "
    "count(*) AS n_events FROM events GROUP BY 1",
)
def q_udaf_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.udaf_weighted_value(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Group C — multimodal columns (opaque binary payload + typed metadata;
# the fake payload is the utf-8 text, so byte ops oracle through the
# text side: sha2(encode(text)) ≡ sha256(text), binary substring ≡
# varchar substring on the ASCII corpus)
# --------------------------------------------------------------------------

_MEDIA_TYPE_SQL = (
    "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' "
    "ELSE 'video' END"
)


@_q(
    "multimodal_metadata",
    f"SELECT doc_id, {_MEDIA_TYPE_SQL} AS media_type, "
    "octet_length(encode(text)) AS n_bytes, "
    "CAST(doc_id % 640 + 16 AS BIGINT) AS width, "
    "CAST(doc_id % 480 + 16 AS BIGINT) AS height, "
    "sha256(text) AS payload_sha FROM documents",
)
def q_multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.media_metadata(load_table(spark, sf_dir, "documents"))


@_q(
    "multimodal_frame_sample",
    f"WITH m AS (SELECT doc_id, {_MEDIA_TYPE_SQL} AS media_type, text, "
    "  greatest(1, octet_length(encode(text)) // 64) AS n_frames "
    "  FROM documents) "
    "SELECT doc_id, media_type, CAST(f.f AS BIGINT) AS frame_idx, "
    "hex(encode(substring(text, CAST(f.f * 64 + 1 AS BIGINT), 16))) AS frame_hex "
    "FROM m, unnest(range(0, n_frames)) AS f(f)",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.frame_sample(load_table(spark, sf_dir, "documents"))


@_q(
    "sketch_user_cardinality",
    # Property-oracle: the HLL++ estimate itself is engine-parameterized
    # (DuckDB's sketch differs), so the hash-checked tier is the exact
    # count plus the sketch's error-envelope GUARANTEE as a boolean —
    # if Spark's estimate ever left the 5% band the hash would go red.
    "SELECT event_type, count(DISTINCT user_id) AS exact_actors, "
    "true AS hll_within_bound FROM events GROUP BY event_type",
)
def q_sketch_user_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = sketches.sketch_user_cardinality(load_table(spark, sf_dir, "events"))
    return res.select(
        "event_type",
        "exact_actors",
        (F.col("rel_err_bp") <= 500).alias("hll_within_bound"),
    )


# percentile_approx is a DISCRETE order statistic (returns an input
# element, no interpolation); at accuracy 10 000 ≫ per-group row counts
# the GK sketch is rank-exact at every fixture scale, and the selected
# element equals DuckDB's quantile_disc bit-for-bit (raw float64 from
# the same parquet).  The sketch's approximation only matters beyond
# the accuracy threshold — at 100 TB the same query is the honest
# approximate path; the oracle pins its at-this-scale exactness.
@_q(
    "sketch_value_quantiles",
    "SELECT event_type, "
    "quantile_disc(value, 0.5) AS q50_value, "
    "quantile_disc(value, 0.9) AS q90_value, "
    "quantile_disc(value, 0.99) AS q99_value, "
    "min(value) AS min_value, max(value) AS max_value "
    "FROM events GROUP BY event_type",
)
def q_sketch_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = sketches.sketch_value_quantiles(load_table(spark, sf_dir, "events"))
    return q.select(
        "event_type",
        F.col("quantiles").getItem(0).alias("q50_value"),
        F.col("quantiles").getItem(1).alias("q90_value"),
        F.col("quantiles").getItem(2).alias("q99_value"),
        "min_value",
        "max_value",
    )


# Exact distinct via mergeable bitmap partials (Spark 4 bitmap_*
# builtins): both report levels — per type and the OR-merged total —
# are integers recomputed by the oracle as plain COUNT(DISTINCT).
@_q(
    "bitmap_distinct_rollup",
    "SELECT event_type, count(DISTINCT user_id) AS n_distinct_users "
    "FROM events WHERE user_id IS NOT NULL GROUP BY event_type "
    "UNION ALL "
    "SELECT '__all__' AS event_type, count(DISTINCT user_id) AS n_distinct_users "
    "FROM events WHERE user_id IS NOT NULL",
)
def q_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.bitmap_distinct_rollup(load_table(spark, sf_dir, "events"))


# Exact pairwise audience overlap via bitmap inclusion-exclusion; the
# oracle recomputes each tier from the distinct (type, user) relation.
@_q(
    "bitmap_audience_overlap",
    "WITH peruser AS (SELECT DISTINCT event_type, user_id FROM events "
    "  WHERE user_id IS NOT NULL), "
    "t AS (SELECT DISTINCT event_type FROM peruser), "
    "p AS (SELECT a.event_type AS ta, b.event_type AS tb FROM t a, t b "
    "  WHERE a.event_type < b.event_type), "
    "s AS (SELECT event_type, count(*) AS n FROM peruser GROUP BY 1), "
    "x AS (SELECT p.ta, p.tb, count(*) AS n_common FROM p "
    "  JOIN peruser ua ON ua.event_type = p.ta "
    "  JOIN peruser ub ON ub.event_type = p.tb AND ub.user_id = ua.user_id "
    "  GROUP BY 1, 2) "
    "SELECT p.ta, p.tb, "
    "CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b, "
    "CAST(coalesce(x.n_common, 0) AS BIGINT) AS n_common, "
    "CAST(coalesce(x.n_common, 0) * 1000 "
    "  // (sa.n + sb.n - coalesce(x.n_common, 0)) AS BIGINT) "
    "  AS jaccard_permille "
    "FROM p JOIN s sa ON sa.event_type = p.ta "
    "JOIN s sb ON sb.event_type = p.tb "
    "LEFT JOIN x ON x.ta = p.ta AND x.tb = p.tb",
)
def q_bitmap_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sketches.bitmap_audience_overlap(load_table(spark, sf_dir, "events"))


# The mapInPandas featurizer's histogram is exploded to one scalar row
# per (doc, bucket) at the output boundary; each share is an exact
# int/int IEEE division (count/total), identical across engines, so
# the oracle recomputes it from per-character codes (payload = utf-8 of
# the ASCII fixture text; bucket = byte >> 4 = ascii // 16).
@_q(
    "multimodal_byte_histogram",
    "WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c "
    "     FROM documents), "
    "cnt AS (SELECT doc_id, ascii(c) // 16 AS bucket, count(*) AS n "
    "        FROM ch GROUP BY 1, 2), "
    "tot AS (SELECT doc_id, length(text) AS n_bytes FROM documents), "
    "grid AS (SELECT doc_id, n_bytes, b AS bucket FROM tot, range(16) t(b)) "
    "SELECT g.doc_id AS doc_id, g.n_bytes AS n_bytes, "
    "CAST(g.bucket AS BIGINT) AS bucket, "
    "coalesce(c.n, 0)::DOUBLE / g.n_bytes AS share "
    "FROM grid g LEFT JOIN cnt c ON g.doc_id = c.doc_id AND g.bucket = c.bucket",
)
def q_multimodal_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    hist = multimodal.byte_histogram(load_table(spark, sf_dir, "documents"))
    return hist.select(
        "doc_id",
        "n_bytes",
        F.posexplode("histogram").alias("bucket", "share"),
    ).withColumn("bucket", F.col("bucket").cast("long"))


# Perceptual-hash tier over the opaque payload: the oracle recomputes
# the integer aHash bit-by-bit from character codes (payload = utf-8 of
# the ASCII fixture text), the 4-band bucketing, the Hamming verify and
# the same top-k order.  The registered form is the closest-pairs
# index-health report (this corpus has no true media dups, so a
# thresholded pair list would be vacuously empty).
@_q(
    "multimodal_phash_neardup",
    "WITH ch AS (SELECT doc_id, "
    "  (u.i * 64) // length(text) AS k, "
    "  ascii(substr(text, CAST(u.i + 1 AS BIGINT), 1)) AS b "
    "  FROM documents, unnest(range(0, length(text))) AS u(i)), "
    "per AS (SELECT doc_id, k, sum(b) AS s, count(*) AS c "
    "  FROM ch GROUP BY 1, 2), "
    "tot AS (SELECT doc_id, sum(b) AS total, count(*) AS n "
    "  FROM ch GROUP BY 1), "
    "grid AS (SELECT doc_id, g.k FROM tot, range(0, 64) g(k)), "
    "bits AS (SELECT grid.doc_id, grid.k, "
    "  CASE WHEN coalesce(per.s, 0) * tot.n > tot.total * coalesce(per.c, 0) "
    "       THEN 1 ELSE 0 END AS bit "
    "  FROM grid JOIN tot USING (doc_id) "
    "  LEFT JOIN per ON per.doc_id = grid.doc_id AND per.k = grid.k), "
    "bands AS (SELECT doc_id, k // 16 AS band, "
    "  sum(bit * (1 << (15 - (k % 16)))) AS val FROM bits GROUP BY 1, 2), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b "
    "  FROM bands a JOIN bands b ON a.band = b.band AND a.val = b.val "
    "  AND a.doc_id < b.doc_id), "
    "ham AS (SELECT c.doc_a, c.doc_b, "
    "  sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS hamming "
    "  FROM cand c JOIN bits ba ON ba.doc_id = c.doc_a "
    "  JOIN bits bb ON bb.doc_id = c.doc_b AND bb.k = ba.k GROUP BY 1, 2) "
    "SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming FROM ham "
    "ORDER BY hamming ASC, doc_a ASC, doc_b ASC LIMIT 10",
)
def q_multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.media_phash_closest(
        load_table(spark, sf_dir, "documents"), 10
    )


# --------------------------------------------------------------------------
# Sinks + streaming (A10, A14-15, streaming A9/A11) — rows-only checks:
# the artifacts are files / streaming state, not SQL-expressible relations.
# Behavioral assertions live in tests/test_streaming.py.
# --------------------------------------------------------------------------


def q_sink_pipe_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 — write the pipe-delimited extract, re-read it, and return the
    per-table row counts of the round-tripped artifact."""
    import tempfile

    from . import sinks

    out = tempfile.mkdtemp(prefix="pipe_sink_")
    sinks.write_pipe_text(
        changes_df(spark, sf_dir), out, partition_by="table_name"
    )
    back = sinks.read_pipe_text(spark, out)
    return back.groupBy("table_name").agg(F.count(F.lit(1)).alias("n_rows"))


QUERIES["sink_pipe_text"] = q_sink_pipe_text
# The pipe sink round-trip is lossless by design, so the per-table
# counts of the re-read artifact equal the change feed's own counts —
# recomputed by the oracle from the same integer arithmetic.  (A lossy
# write, a partition dropped on re-read, or a row split by an unescaped
# delimiter all break the hash.)
ORACLES["sink_pipe_text"] = (
    CHANGES_CTE
    + " SELECT table_name, count(*) AS n_rows FROM changes GROUP BY table_name"
)


def _derived_feed(spark: SparkSession, sf_dir: str, kind: str) -> str:
    """The derived READ-ONLY change feed ``kind`` over ``sf_dir``,
    built once per fixture identity by ``cache.cached_dir`` and reused
    across runs.  Streaming runs keep their own fresh checkpoints and
    outputs — only the input files are shared — so timed runs measure
    the streaming lifecycle, not feed scaffolding.  Feed file mtimes
    are stamped from a constant base, so a cached feed replays
    identically.  Kinds:

    - ``cust3``: the customer change stream in 3 batches;
    - ``cust3r``: ``cust3`` plus ``redelivery_00001``, a second
      delivery of batch 1 (at-least-once input);
    - ``cust2k2``: the customer stream capped at key 2000, in 2
      batches — the join/state demos' behavior is size-independent,
      and the full-size equivalence proofs live in
      tests/test_streaming.py;
    - ``cust2k2lo``: ``cust2k2`` plus a far-future sentinel batch
      (reserved key −1) whose watermark expires every real row's join
      window;
    - ``all3``: the customer + orders stream in 3 batches;
    - ``all1``: the customer + orders stream as one parquet file under
      ``data/``.
    """
    import shutil

    from . import cache
    from .sources.changes import _stream
    from .streaming.pipeline import (
        CHANGES_SCHEMA,
        _stamp_batch_mtime,
        write_feed_batches,
    )

    def customer(max_key: int | None = None) -> DataFrame:
        c = load_table(spark, sf_dir, "customer")
        if max_key is not None:
            c = c.filter(F.col("c_custkey") <= max_key)
        return _stream(c, "c_custkey", "c_acctbal", "customer", 4, 0)

    def build(d: str) -> None:
        if kind == "all1":
            changes_df(spark, sf_dir).coalesce(1).write.parquet(d + "/data")
        elif kind == "all3":
            write_feed_batches(changes_df(spark, sf_dir), d, 3)
        elif kind in ("cust3", "cust3r"):
            write_feed_batches(customer(), d, 3)
        elif kind in ("cust2k2", "cust2k2lo"):
            write_feed_batches(customer(2000), d, 2)
        else:
            raise ValueError(f"unknown feed kind {kind!r}")
        if kind == "cust3r":
            shutil.copytree(d + "/batch_00001", d + "/redelivery_00001")
        elif kind == "cust2k2lo":
            sentinel_ms = 1_704_067_200_000 + 30 * 86_400_000
            rows = [
                (10**9, "customer", 10**9 // 3, sentinel_ms, "I", -1, 0),
                (10**9 + 1, "customer", (10**9 + 1) // 3,
                 sentinel_ms + 1000, "D", -1, 0),
            ]
            sdir = os.path.join(d, "batch_00002")
            batch = spark.createDataFrame(rows, CHANGES_SCHEMA)
            batch.coalesce(1).write.parquet(sdir)
            _stamp_batch_mtime(sdir, 2)

    return cache.cached_dir(
        "cdcx_feed", sf_dir, ("customer", "orders"), kind, build
    )


# The state-store demos run on these tiny feeds inside
# scoped_shuffle_partitions(spark, 4): the state store allocates one
# instance per shuffle partition per epoch, so the session's default
# count is pure overhead here.  Each demo uses a fresh checkpoint, and a
# stream's state partitioning is fixed at first start, so no production
# checkpoint ever sees the lower setting.


def q_streaming_microbatch_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2-3.3 end-to-end: driver-planned epochs over the customer
    change stream (one feed file per epoch, each epoch's files recorded
    before it runs), the epoch body (A10 sink with the A6/A9 metrics
    observed on it).  Returns the per-epoch metrics frame."""
    import tempfile

    from .streaming.pipeline import EPOCH_METRICS_SCHEMA, run_cdc_pipeline

    work = tempfile.mkdtemp(prefix="stream_demo_")
    feed = _derived_feed(spark, sf_dir, "cust3")
    rows = run_cdc_pipeline(spark, feed, work + "/out")
    return spark.createDataFrame(rows, EPOCH_METRICS_SCHEMA)


QUERIES["streaming_microbatch_epochs"] = q_streaming_microbatch_epochs
# The per-epoch metrics of the run path are deterministic end to end:
# the feed split is ntile(3) over event_id, write_feed_batches stamps
# strictly increasing mtimes, and run_cdc_pipeline plans one epoch per
# feed file in (mtime, path) order, so epoch i scans exactly batch i —
# the DuckDB oracle recomputes each epoch's (offset range, row count,
# distinct txns, watermark) from the same arithmetic the feed was built
# from.  An incremental lifecycle verified by value-hash, not rows-only.
ORACLES["streaming_microbatch_epochs"] = (
    "WITH c AS ("
    "  SELECT c_custkey * 8 + u.seq AS event_id, "
    "         (c_custkey * 8 + u.seq) // 3 AS transaction_id, "
    f"        {1_704_067_200_000} + ((c_custkey * 8 + u.seq) // 3) * 1000 "
    "         AS commit_ts_ms "
    "  FROM customer, unnest(range(0, CAST(c_custkey % 4 AS BIGINT) + 1)) AS u(seq)), "
    "b AS (SELECT *, ntile(3) OVER (ORDER BY event_id) AS bkt FROM c) "
    "SELECT CAST(bkt - 1 AS BIGINT) AS epoch_id, "
    "min(event_id) AS min_event_id, max(event_id) AS max_event_id, "
    "count(*) AS n_rows, count(DISTINCT transaction_id) AS n_txns, "
    "max(commit_ts_ms) AS uptodate_ms "
    "FROM b GROUP BY bkt"
)


# --------------------------------------------------------------------------
# Breadth round 2 — grouping sets, correlated subqueries (Catalyst
# decorrelation), sliding & session windows, conditional aggregates,
# regex functions, order statistics, typed source round-trip
# --------------------------------------------------------------------------


@_q(
    "grouping_sets_order_status",
    "SELECT coalesce(o_orderstatus, '(all)') AS status, "
    "coalesce(o_orderpriority, '(all)') AS priority, "
    "CAST(grouping(o_orderstatus) AS BIGINT) AS g_status, "
    "CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority, "
    "count(*) AS n_orders, "
    "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents "
    "FROM orders GROUP BY GROUPING SETS "
    "((o_orderstatus, o_orderpriority), (o_orderstatus), ())",
)
def q_grouping_sets_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the shape cube/rollup can't express
    (an arbitrary set list), with grouping() disambiguating real NULL
    group values from subtotal rows.  One pass over the fact table:
    Catalyst expands the sets via a single Expand node, so the input is
    scanned once regardless of how many sets are requested."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("(all)")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias(
                "priority"
            ),
            "g_status",
            "g_priority",
            "n_orders",
            "total_cents",
        )
    )


_EXISTS_SQL = (
    "SELECT o_orderpriority, count(*) AS n_orders FROM orders "
    "WHERE o_orderdate >= TIMESTAMP '1995-07-01' AND EXISTS ("
    "SELECT 1 FROM lineitem "
    "WHERE l_orderkey = o_orderkey AND l_returnflag = 'R') "
    "GROUP BY o_orderpriority"
)


@_q("subquery_exists_returned", _EXISTS_SQL)
def q_subquery_exists_returned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS subquery (TPC-H Q4 shape on available columns).
    Catalyst decorrelates the EXISTS into a left-semi hash join on
    l_orderkey — no per-row re-execution of the inner query (the
    reference's per-xid scalar-lookup anti-pattern, WorkerRunnable.java
    :133-136, is exactly what decorrelation removes)."""
    from .io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


_SCALAR_SUBQ_SQL = (
    "SELECT count(*) AS n_small, "
    "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
    "AS revenue_cents "
    "FROM lineitem l1 WHERE l_quantity < ("
    "SELECT 0.5 * avg(l_quantity) FROM lineitem l2 "
    "WHERE l2.l_partkey = l1.l_partkey)"
)


@_q("subquery_scalar_small_quantity", _SCALAR_SUBQ_SQL)
def q_subquery_scalar_small_quantity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17 shape): lineitems below
    half the average quantity of their part.  Decorrelates to an
    aggregate on l_partkey joined back to the fact — one shuffle of the
    (small) per-part aggregate instead of a subquery per row.  The
    comparison is deterministic: l_quantity values are integral, so the
    double avg (exact integer sum / count) is bit-identical across
    engines regardless of accumulation order."""
    from .io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SCALAR_SUBQ_SQL)


@_q(
    "window_sliding_5min",
    "SELECT ws_ms, ws_ms + 300000 AS we_ms, count(*) AS n_events, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    "FROM (SELECT (epoch_ms(ts) // 60000 - i.i) * 60000 AS ws_ms, value "
    "FROM events, (VALUES (0), (1), (2), (3), (4)) i(i)) GROUP BY ws_ms",
)
def q_window_sliding_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window: 5-minute windows every 1 minute — each
    event lands in 5 overlapping windows.  Spark's window() expands
    rows window-count times then aggregates (same Expand-then-partial-
    agg shape the oracle spells out with a VALUES join); at scale the
    expansion is map-side and combines before the shuffle.  Timestamps
    are ms-truncated *before* windowing so bucket boundaries are integer
    arithmetic on both engines."""
    ev = load_table(spark, sf_dir, "events")
    ts_ms = F.timestamp_millis(F.unix_millis(F.col("ts")))
    win = F.window(ts_ms, "5 minutes", "1 minute").alias("w")
    return (
        ev.groupBy(win)
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                "value_cents"
            ),
        )
        .select(
            F.unix_millis(F.col("w.start")).alias("ws_ms"),
            F.unix_millis(F.col("w.end")).alias("we_ms"),
            "n_events",
            "value_cents",
        )
    )


@_q(
    "session_window_events",
    "WITH e AS (SELECT user_id, epoch_ms(ts) AS at_ms FROM events), "
    "f AS (SELECT user_id, at_ms, CASE WHEN at_ms - lag(at_ms) OVER "
    "(PARTITION BY user_id ORDER BY at_ms) >= 1800000 THEN 1 ELSE 0 END "
    "AS ns FROM e), "
    "s AS (SELECT user_id, at_ms, sum(ns) OVER (PARTITION BY user_id "
    "ORDER BY at_ms ROWS UNBOUNDED PRECEDING) AS sid FROM f) "
    "SELECT user_id, min(at_ms) AS session_start_ms, "
    "max(at_ms) + 1800000 AS session_end_ms, count(*) AS n_events "
    "FROM s GROUP BY user_id, sid",
)
def q_session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window operator (30-min gap): dynamically-sized
    windows that extend while events keep arriving — the streaming-
    capable twin of the gaps-and-islands form in sessionize_events.
    The oracle reproduces the merge semantics (new session iff the gap
    to the previous event is >= the threshold; window end = last event
    + gap) with lag + running sum.  Timestamps are ms-truncated before
    windowing for integer-exact boundary parity."""
    ev = load_table(spark, sf_dir, "events")
    ts_ms = F.timestamp_millis(F.unix_millis(F.col("ts")))
    sw = F.session_window(ts_ms, "30 minutes").alias("sw")
    return (
        ev.groupBy("user_id", sw)
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_millis(F.col("sw.start")).alias("session_start_ms"),
            F.unix_millis(F.col("sw.end")).alias("session_end_ms"),
            "n_events",
        )
    )


@_q(
    "conditional_agg_suite",
    "SELECT event_type, "
    "count(*) FILTER (WHERE value > 50) AS n_big, "
    "CAST((sum(CAST(round(value * 100) AS BIGINT)) "
    "FILTER (WHERE user_id % 2 = 0)) AS BIGINT) AS even_user_cents, "
    "arg_max(user_id, event_id) AS last_user, "
    "arg_min(user_id, event_id) AS first_user, "
    "bool_or(value > 99) AS any_gt99, "
    "bool_and(value >= 0) AS all_nonneg "
    "FROM events GROUP BY event_type",
)
def q_conditional_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional / positional aggregate breadth: filtered counts and
    sums, arg-max/arg-min (max_by/min_by on the unique event_id — the
    'latest row wins' primitive CDC snapshots build on), boolean
    aggregates.  All JVM built-ins, one map-side-combinable pass."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 50).alias("n_big"),
        F.sum(
            F.when(
                F.col("user_id") % 2 == 0,
                F.round(F.col("value") * 100).cast("long"),
            )
        ).alias("even_user_cents"),
        F.max_by("user_id", "event_id").alias("last_user"),
        F.min_by("user_id", "event_id").alias("first_user"),
        F.bool_or(F.col("value") > 99).alias("any_gt99"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
    )


@_q(
    "regexp_suite",
    "SELECT doc_id, regexp_extract(text, '[a-z]{6,}') AS first_long, "
    "CAST(len(regexp_extract_all(text, 'a')) AS BIGINT) AS n_a, "
    "regexp_matches(text, 'spark') AS has_spark, "
    "regexp_replace(text, '[aeiou]', '_', 'g') AS masked "
    "FROM documents",
)
def q_regexp_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex function breadth over documents: first match extraction,
    global match counting, boolean match, global replacement.  Patterns
    are restricted to the dialect intersection (character classes,
    bounded repetition) so Java regex and RE2 agree."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract(F.col("text"), "[a-z]{6,}", 0).alias("first_long"),
        F.regexp_count(F.col("text"), F.lit("a")).cast("long").alias("n_a"),
        F.col("text").rlike("spark").alias("has_spark"),
        F.regexp_replace(F.col("text"), "[aeiou]", "_").alias("masked"),
    )


@_q(
    "median_order_statistic",
    "WITH c AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) "
    "AS cents, event_id FROM events), "
    "r AS (SELECT event_type, cents, row_number() OVER (PARTITION BY "
    "event_type ORDER BY cents, event_id) AS rn, "
    "count(*) OVER (PARTITION BY event_type) AS n FROM c) "
    "SELECT event_type, cents AS median_cents, n AS n_events FROM r "
    "WHERE rn = (n + 1) // 2",
)
def q_median_order_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact order statistic (lower median) — the deterministic exact
    twin of the approximate quantile sketch (sketch_value_quantiles).
    Integer cents + unique-key tie-break keep the selected value
    identical across engines; the sketch is the 100 TB sweep path,
    this is the exact path.

    Plan shape (scale, VERDICT r5 task #3): ~5 event types means a
    per-type ordered window is a single ~n/5-row sort task at 100×.
    The exact per-type rank instead comes from
    partitioning.bucketed_global_rank(partition_cols=[event_type]) —
    per-(type, value-bucket) windows, no Exchange SinglePartition
    (plan-asserted); per-type N falls out of the helper's bucket
    counts (totals_out), joined back as a broadcast, and the median
    row is the rank == (N+1) div 2 filter."""
    from cdc_extractor_spark.partitioning import bucketed_global_rank

    ev = load_table(spark, sf_dir, "events")
    # r14 (guide §5; VERDICT r13 task #5): lazy localCheckpoint — the
    # rank helper's boundary/count actions plus the final plan read
    # this projection three times; the first action (approxQuantile)
    # materializes the blocks at zero extra jobs.
    cents = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        "event_id",
    ).localCheckpoint(eager=False)
    totals: dict[tuple, int] = {}
    ranked = bucketed_global_rank(
        cents,
        "cents",
        ["event_id"],
        out="rn",
        partition_cols=["event_type"],
        totals_out=totals,
    )
    tot_df = F.broadcast(
        spark.createDataFrame(
            [(k[0], v) for k, v in totals.items()],
            schema="_tt string, n long",
        )
    )
    return (
        ranked.join(tot_df, F.col("event_type").eqNullSafe(F.col("_tt")))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(
            "event_type",
            F.col("cents").alias("median_cents"),
            F.col("n").alias("n_events"),
        )
    )


@_q(
    "source_pipe_roundtrip",
    "SELECT event_type, count(*) AS n_rows, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    "FROM events GROUP BY event_type",
)
def q_source_pipe_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10↔A1 symmetry: write events through the pipe-text sink
    (the reference's chunk-file format, WorkerRunnable.java:202-216),
    re-read the artifact with a *declared typed schema* (no inference),
    and aggregate.  The oracle runs on the original table — passing
    proves the text round-trip is lossless for the typed columns
    (Spark's double→string cast is shortest-round-trip)."""
    import tempfile

    from . import sinks

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    out = tempfile.mkdtemp(prefix="pipe_src_")
    sinks.write_pipe_text(ev, out)
    back = (
        spark.read.schema("event_id BIGINT, event_type STRING, value DOUBLE")
        .option("sep", "|")
        .option("header", "true")
        .csv(out)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


# --------------------------------------------------------------------------
# Training-pipeline operators round 2 — cluster resolution, TF-IDF
# stats, n-grams, deterministic stratified sampling
# --------------------------------------------------------------------------

# Connected-components oracle: reuse the minhash-LSH pair oracle as a
# CTE, then take the transitive closure with a recursive CTE and label
# each node with the smallest reachable doc_id.
_mh = ORACLES["dedup_minhash_lsh"]
_idx = _mh.rindex("SELECT doc_a, doc_b, n_inter, jaccard_bp")
_COMPONENTS_ORACLE = (
    _mh[:_idx].rstrip().replace("WITH ", "WITH RECURSIVE ", 1)
    + ", pairs AS ("
    + _mh[_idx:]
    + "), edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs "
    "UNION SELECT doc_b, doc_a FROM pairs), "
    "reach(s, t) AS (SELECT a, b FROM edges "
    "UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a) "
    "SELECT s AS doc_id, least(s, min(t)) AS cluster_id FROM reach GROUP BY s"
)


@_q("dedup_cluster_components", _COMPONENTS_ORACLE)
def q_dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster resolution: minhash-LSH pairs → connected
    components (iterative min-label propagation; see
    functions/dedup.py:connected_components).  The oracle computes the
    same closure with a recursive CTE — Spark's iterative join loop and
    DuckDB's fixpoint recursion must land on identical clusters."""
    pairs = dedup.minhash_lsh_dedup(
        load_table(spark, sf_dir, "documents"), 3, 0.8
    )
    return dedup.connected_components(pairs)


@_q(
    "tfidf_term_stats",
    _TOKS_CTE + ", "
    "tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM toksf "
    "GROUP BY 1, 2), "
    "dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
    "n AS (SELECT count(*) AS n_docs FROM documents) "
    "SELECT tf.doc_id AS doc_id, tf.term AS term, tf.tf AS tf, "
    "dfr.df AS df, n.n_docs AS n_docs "
    "FROM tf JOIN dfr USING (term) CROSS JOIN n",
)
def q_tfidf_term_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.tfidf_term_stats(load_table(spark, sf_dir, "documents"))


@_q(
    "train_val_test_split",
    "SELECT doc_id, lang, CASE "
    "WHEN ((doc_id * 1103515245 + 12345) % 2147483647) % 1000 < 800 THEN 'train' "
    "WHEN ((doc_id * 1103515245 + 12345) % 2147483647) % 1000 < 900 THEN 'val' "
    "ELSE 'test' END AS split FROM documents",
)
def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.train_val_test_split(load_table(spark, sf_dir, "documents"))


@_q(
    "pack_token_shards",
    "WITH t AS (SELECT doc_id, "
    "  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) "
    "  AS n FROM documents), "
    "c AS (SELECT doc_id, n, coalesce(sum(n) OVER (ORDER BY doc_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM t) "
    "SELECT CAST(bef // 4096 AS BIGINT) AS shard_id, count(*) AS n_docs, "
    "CAST(sum(n) AS BIGINT) AS shard_tokens, "
    "min(doc_id) AS first_doc, max(doc_id) AS last_doc "
    "FROM c GROUP BY 1",
)
def q_pack_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pack_token_shards(load_table(spark, sf_dir, "documents"))


@_q(
    "bm25_doc_ranking",
    _TOKS_CTE + ", "
    "dl AS (SELECT doc_id, count(*) AS dl FROM toksf GROUP BY 1), "
    "st AS (SELECT sum(dl) AS sum_dl, count(*) AS n_docs FROM dl), "
    "tf AS (SELECT doc_id, tok AS term, count(*) AS tf FROM toksf "
    "       WHERE tok IN ('merge', 'window', 'batch') GROUP BY 1, 2), "
    "dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1), "
    "s AS (SELECT tf.doc_id, "
    "      ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5)) * "
    "      (tf.tf * 2.2) / "
    "      (tf.tf + 1.2 * (0.25 + 0.75 * dl.dl / (st.sum_dl / st.n_docs))) AS w "
    "      FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN st) "
    "SELECT rank, doc_id, bm25 FROM ("
    "  SELECT doc_id, bm25, row_number() OVER "
    "  (ORDER BY bm25 DESC, doc_id ASC) AS rank FROM ("
    "    SELECT doc_id, round(sum(w), 6) AS bm25 FROM s GROUP BY 1) p) t "
    "WHERE rank <= 20",
)
def q_bm25_doc_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bm25_rank(load_table(spark, sf_dir, "documents"))


@_q(
    "ngram_bigram_counts",
    "WITH s AS (SELECT doc_id, string_split(text, ' ') AS sp FROM documents) "
    "SELECT sp[i] || ' ' || sp[i+1] AS bigram, count(*) AS n "
    "FROM s, unnest(range(1, len(sp))) AS u(i) GROUP BY 1",
)
def q_ngram_bigram_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.bigram_counts(load_table(spark, sf_dir, "documents"))


@_q(
    "stratified_sample_docs",
    "SELECT doc_id, lang FROM documents "
    "WHERE ((doc_id * 1103515245 + 12345) % 2147483647) % 1000 < "
    "CASE lang WHEN 'en' THEN 200 WHEN 'de' THEN 100 ELSE 50 END",
)
def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.stratified_sample(load_table(spark, sf_dir, "documents"))


def q_streaming_dedup_exactly_once(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Watermarked streaming deduplication over a deliberately
    re-delivered feed (at-least-once → exactly-once; see
    streaming/pipeline.py:run_streaming_dedup).  Rows-only: the
    exactly-once property (unique event_ids despite duplicate
    delivery) is asserted in tests/test_streaming.py."""
    import tempfile

    from .streaming.pipeline import run_streaming_dedup

    work = tempfile.mkdtemp(prefix="stream_dedup_")
    feed = _derived_feed(spark, sf_dir, "cust3r")
    with scoped_shuffle_partitions(spark, 4):
        deduped = run_streaming_dedup(spark, feed, work + "/out")
    return deduped.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_unique_event_ids"),
    )


QUERIES["streaming_dedup_exactly_once"] = q_streaming_dedup_exactly_once
# Exactly-once is now value-hash-checked, not just asserted: the
# deduped stream must contain exactly the original customer feed —
# every redelivered row dropped (arrival order pinned by feed mtimes;
# the redelivery lands within the 1 h watermark of its original, so
# dropDuplicatesWithinWatermark still holds its state).  A dedup miss
# inflates n_rows above the oracle's count and fails the hash.
ORACLES["streaming_dedup_exactly_once"] = (
    "WITH c AS ("
    "  SELECT c_custkey * 8 + u.seq AS event_id "
    "  FROM customer, unnest(range(0, CAST(c_custkey % 4 AS BIGINT) + 1)) AS u(seq)) "
    "SELECT count(*) AS n_rows, count(DISTINCT event_id) AS n_unique_event_ids "
    "FROM c"
)


def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (insert⋈delete key lifetimes with
    two-sided watermark state; see pipeline.py:run_stream_stream_join).
    Rows-only: equality with the batch interval join is asserted in
    tests/test_streaming.py."""
    import tempfile

    from .streaming.pipeline import run_stream_stream_join

    work = tempfile.mkdtemp(prefix="stream_ssj_")
    feed = _derived_feed(spark, sf_dir, "cust2k2")
    with scoped_shuffle_partitions(spark, 4):
        pairs = run_stream_stream_join(spark, feed, work + "/out")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("key").alias("n_keys"),
        F.min("lifetime_ms").alias("min_lifetime_ms"),
        F.max("lifetime_ms").alias("max_lifetime_ms"),
    )


def q_streaming_static_enrichment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stream-static enrichment join (stateless; the dim is broadcast
    per micro-batch — pipeline.py:run_stream_static_enrichment): the
    change feed enriched with each customer's nation, then rolled up
    per nation after completion.  The rollup is epoch-count-invariant
    (the join emits one append row per change event regardless of how
    the feed was batched), which is what makes a real StreamingQuery
    lifecycle value-hash-checkable here."""
    import tempfile

    from .streaming.pipeline import run_stream_static_enrichment

    work = tempfile.mkdtemp(prefix="stream_sse_")
    feed = _derived_feed(spark, sf_dir, "cust2k2")
    dim = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    with scoped_shuffle_partitions(spark, 4):
        rows = run_stream_static_enrichment(spark, feed, work, dim)
    return rows.groupBy(F.col("nationkey")).agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.sum(
            F.when(F.col("action") == "D", F.lit(1)).otherwise(F.lit(0))
        ).cast("long").alias("n_deletes"),
        F.sum("val_cents").alias("sum_val_cents"),
        F.countDistinct("key").alias("n_keys"),
    )


QUERIES["streaming_static_enrichment"] = q_streaming_static_enrichment
# The enrichment join is stateless append — output rows are exactly the
# feed's events (keys ≤ 2000, customer cycle) joined to the customer
# dim, so batch SQL over the same derived feed recomputes it verbatim.
ORACLES["streaming_static_enrichment"] = (
    "WITH c AS ("
    "  SELECT c_custkey AS key, "
    "         CASE WHEN u.seq = 0 THEN 'I' WHEN u.seq = 3 THEN 'D' "
    "         ELSE 'U' END AS action, "
    "         CAST(round(c_acctbal * 100) AS BIGINT) + u.seq AS val_cents "
    "  FROM customer, unnest(range(0, CAST(c_custkey % 4 AS BIGINT) + 1)) AS u(seq) "
    "  WHERE c_custkey <= 2000) "
    "SELECT cu.c_nationkey AS nationkey, count(*) AS n_changes, "
    "CAST(sum(CASE WHEN c.action = 'D' THEN 1 ELSE 0 END) AS BIGINT) "
    "AS n_deletes, "
    "CAST(sum(c.val_cents) AS BIGINT) AS sum_val_cents, "
    "CAST(count(DISTINCT c.key) AS BIGINT) AS n_keys "
    "FROM c JOIN customer cu ON c.key = cu.c_custkey GROUP BY 1"
)


QUERIES["streaming_interval_join"] = q_streaming_interval_join
# The two-sided-watermark stream-stream join emits every in-range
# I⋈D pair (event-time gaps are ~1 s, watermark tolerance 1 h, so no
# state eviction can precede a match; arrival order pinned by feed
# mtimes) — the oracle recomputes the identical interval join as batch
# SQL over the same derived feed (keys ≤ 2000, customer cycle).
ORACLES["streaming_interval_join"] = (
    "WITH c AS ("
    "  SELECT c_custkey AS key, c_custkey * 8 + u.seq AS event_id, "
    f"        {1_704_067_200_000} + ((c_custkey * 8 + u.seq) // 3) * 1000 "
    "         AS ts_ms, "
    "         CASE WHEN u.seq = 0 THEN 'I' WHEN u.seq = 3 THEN 'D' "
    "         ELSE 'U' END AS action "
    "  FROM customer, unnest(range(0, CAST(c_custkey % 4 AS BIGINT) + 1)) AS u(seq) "
    "  WHERE c_custkey <= 2000), "
    "i AS (SELECT key, ts_ms AS its FROM c WHERE action = 'I'), "
    "d AS (SELECT key, ts_ms AS dts FROM c WHERE action = 'D'), "
    "p AS (SELECT i.key, d.dts - i.its AS lifetime_ms "
    "      FROM i JOIN d USING (key) "
    "      WHERE d.dts >= i.its AND d.dts <= i.its + 3600000) "
    "SELECT count(*) AS n_pairs, count(DISTINCT key) AS n_keys, "
    "min(lifetime_ms) AS min_lifetime_ms, max(lifetime_ms) AS max_lifetime_ms "
    "FROM p"
)


def q_streaming_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT-OUTER stream-stream join with watermark-driven null
    emission (pipeline.py:run_stream_stream_left_outer_join): live
    rows (no delete) surface as outer-null rows once the watermark
    proves no in-range delete can arrive.  The feed appends a
    far-future sentinel batch (reserved key −1, filtered from the
    result) so the final real rows' windows actually expire, and the
    run finishes with a restart-on-checkpoint to apply the recovered
    watermark — the two pieces that make an UNBOUNDED-semantics outer
    join exactly replayable as the oracle's batch left join."""
    import tempfile

    from .streaming.pipeline import run_stream_stream_left_outer_join

    feed = _derived_feed(spark, sf_dir, "cust2k2lo")
    work = tempfile.mkdtemp(prefix="stream_ssloj_")
    with scoped_shuffle_partitions(spark, 4):
        rows = run_stream_stream_left_outer_join(spark, feed, work)
    return rows.agg(
        F.count(F.lit(1)).alias("n_inserts"),
        F.count("lifetime_ms").alias("n_matched"),
        (F.count(F.lit(1)) - F.count("lifetime_ms")).alias("n_unmatched"),
        F.countDistinct("key").alias("n_keys"),
        F.coalesce(F.sum("lifetime_ms"), F.lit(0)).alias("sum_lifetime_ms"),
        F.coalesce(F.max("lifetime_ms"), F.lit(0)).alias("max_lifetime_ms"),
    )


QUERIES["streaming_left_outer_join"] = q_streaming_left_outer_join
# The outer join's final state equals the batch left join over the same
# derived feed: matched rows are the inner pairs, unmatched inserts
# (keys whose cycle never reaches the delete step) emit null lifetimes.
ORACLES["streaming_left_outer_join"] = (
    "WITH c AS ("
    "  SELECT c_custkey AS key, c_custkey * 8 + u.seq AS event_id, "
    f"        {1_704_067_200_000} + ((c_custkey * 8 + u.seq) // 3) * 1000 "
    "         AS ts_ms, "
    "         CASE WHEN u.seq = 0 THEN 'I' WHEN u.seq = 3 THEN 'D' "
    "         ELSE 'U' END AS action "
    "  FROM customer, unnest(range(0, CAST(c_custkey % 4 AS BIGINT) + 1)) AS u(seq) "
    "  WHERE c_custkey <= 2000), "
    "i AS (SELECT key, ts_ms AS its FROM c WHERE action = 'I'), "
    "d AS (SELECT key, ts_ms AS dts FROM c WHERE action = 'D'), "
    "j AS (SELECT i.key, d.dts - i.its AS lifetime_ms "
    "      FROM i LEFT JOIN d ON i.key = d.key "
    "      AND d.dts >= i.its AND d.dts <= i.its + 3600000) "
    "SELECT CAST(count(*) AS BIGINT) AS n_inserts, "
    "CAST(count(lifetime_ms) AS BIGINT) AS n_matched, "
    "CAST(count(*) - count(lifetime_ms) AS BIGINT) AS n_unmatched, "
    "CAST(count(DISTINCT key) AS BIGINT) AS n_keys, "
    "CAST(coalesce(sum(lifetime_ms), 0) AS BIGINT) AS sum_lifetime_ms, "
    "CAST(coalesce(max(lifetime_ms), 0) AS BIGINT) AS max_lifetime_ms "
    "FROM j"
)


# --------------------------------------------------------------------------
# Decision-support completions (operators/decision_support.py) — the
# TPC-H shapes not covered by relational.py/star.py: correlated scalar
# subqueries, left-outer distributions, disjunctive predicates,
# EXISTS/NOT-EXISTS chains, exact above-average filters.
# --------------------------------------------------------------------------

from .operators import decision_support as ds  # noqa: E402

_PAIRS = "(SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)"


@_q(
    "tpch_min_cost_supplier",
    "SELECT p_partkey, p_name, s_name, s_acctbal "
    f"FROM part, supplier, {_PAIRS} ps "
    "WHERE p_partkey = ps.l_partkey AND s_suppkey = ps.l_suppkey "
    "AND p_size BETWEEN 10 AND 20 AND p_type = 'STANDARD' "
    "AND s_acctbal = ("
    "  SELECT min(s2.s_acctbal) FROM supplier s2, "
    f"  {_PAIRS} ps2 "
    "  WHERE ps2.l_partkey = p_partkey AND s2.s_suppkey = ps2.l_suppkey)",
)
def q_tpch_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar-min subquery decorrelated to a
    per-part window minimum (decision_support.py)."""
    return ds.min_acctbal_supplier_per_part(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


@_q(
    "tpch_market_share",
    "SELECT o_year, nation_cents, total_cents, "
    "round(nation_cents / total_cents, 6) AS mkt_share FROM ("
    "  SELECT EXTRACT(YEAR FROM o_orderdate)::INT AS o_year, "
    "  CAST(sum(CASE WHEN n_name = 'NATION_2' THEN "
    "    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) "
    "    ELSE 0 END) AS BIGINT) AS nation_cents, "
    "  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) "
    "    AS BIGINT)) AS BIGINT) AS total_cents "
    "  FROM lineitem, orders, supplier, nation, region "
    "  WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey "
    "  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
    "  AND r_name = 'ASIA' GROUP BY 1)",
)
def q_tpch_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's yearly share of a region's supplier
    revenue; the share is a ratio of exact integer-cents sums."""
    return ds.nation_market_share(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "region"),
    )


@_q(
    "tpch_product_profit",
    "SELECT n_name, EXTRACT(YEAR FROM o_orderdate)::INT AS o_year, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
    "  - CAST(round(l_quantity * p_retailprice * 10) AS BIGINT)) AS BIGINT) "
    "  AS profit_cents "
    "FROM lineitem, orders, supplier, nation, part "
    "WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey "
    "AND s_nationkey = n_nationkey AND l_partkey = p_partkey "
    "AND p_type = 'PROMO' GROUP BY n_name, o_year",
)
def q_tpch_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit (revenue minus a 10%-of-retail unit-cost
    proxy; no ps_supplycost fixture) by supplier nation and year."""
    return ds.product_type_profit(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
        load_table(spark, sf_dir, "part"),
    )


@_q(
    "tpch_important_parts",
    "SELECT p_partkey, value_cents FROM ("
    "  SELECT p_partkey, CAST(sum(CAST(round(l_quantity * p_retailprice "
    "    * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    "  FROM lineitem, part WHERE l_partkey = p_partkey GROUP BY p_partkey) "
    "WHERE value_cents > 0.002 * ("
    "  SELECT CAST(sum(CAST(round(l_quantity * p_retailprice * 100) "
    "    AS BIGINT)) AS BIGINT) "
    "  FROM lineitem, part WHERE l_partkey = p_partkey)",
)
def q_tpch_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts above a fixed fraction of total inventory
    value; grand total via 1-row broadcast cross join."""
    return ds.important_parts(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@_q(
    "tpch_priority_shipping",
    "SELECT l_linestatus, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 "
    "  ELSE 0 END) AS BIGINT) AS high_line_count, "
    "CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 "
    "  ELSE 1 END) AS BIGINT) AS low_line_count "
    "FROM lineitem, orders WHERE l_orderkey = o_orderkey "
    "AND l_shipdate >= TIMESTAMP '1997-01-01' "
    "AND l_shipdate < TIMESTAMP '1998-01-01' "
    "GROUP BY l_linestatus",
)
def q_tpch_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (l_linestatus for the absent l_shipmode):
    conditional counts of high/low-priority orders per line status."""
    return ds.shipping_priority_by_linestatus(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


@_q(
    "tpch_order_count_distribution",
    "SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM ("
    "  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count "
    "  FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "  GROUP BY c_custkey) GROUP BY c_count",
)
def q_tpch_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: left-outer count per customer (zero-order
    customers kept), then the distribution of those counts."""
    return ds.customer_order_distribution(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@_q(
    "tpch_top_supplier",
    "WITH rev AS ("
    "  SELECT l_suppkey, CAST(sum(CAST(round(l_extendedprice * "
    "    (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) "
    "    AS total_revenue_cents "
    "  FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
    "  AND l_shipdate < TIMESTAMP '1997-04-01' GROUP BY l_suppkey) "
    "SELECT s_suppkey, s_name, total_revenue_cents "
    "FROM rev JOIN supplier ON s_suppkey = l_suppkey "
    "WHERE total_revenue_cents = (SELECT max(total_revenue_cents) FROM rev)",
)
def q_tpch_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: maximum-revenue supplier(s) for a quarter; the
    scalar max re-joined by broadcast cross join."""
    return ds.top_supplier(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


@_q(
    "tpch_disjunctive_revenue",
    "SELECT CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) "
    "  AS BIGINT)) AS BIGINT) AS revenue_cents, "
    "CAST(count(*) AS BIGINT) AS n_items "
    "FROM lineitem, part WHERE p_partkey = l_partkey AND ("
    "  (p_brand = 'Brand#1' AND p_size <= 15 "
    "   AND l_quantity BETWEEN 1 AND 15) "
    "  OR (p_brand = 'Brand#2' AND p_size <= 30 "
    "   AND l_quantity BETWEEN 10 AND 25) "
    "  OR (p_brand = 'Brand#3' AND p_size <= 45 "
    "   AND l_quantity BETWEEN 20 AND 35))",
)
def q_tpch_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of three conjunctive brand/size/quantity
    clauses over the part⋈lineitem join."""
    return ds.disjunctive_revenue(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
    )


@_q(
    "tpch_waiting_suppliers",
    "SELECT s_name, CAST(count(*) AS BIGINT) AS numwait "
    "FROM supplier, lineitem l1, orders "
    "WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey "
    "AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY "
    "AND EXISTS (SELECT 1 FROM lineitem l2 "
    "  WHERE l2.l_orderkey = l1.l_orderkey "
    "  AND l2.l_suppkey <> l1.l_suppkey) "
    "AND NOT EXISTS (SELECT 1 FROM lineitem l3, orders o3 "
    "  WHERE o3.o_orderkey = l3.l_orderkey "
    "  AND l3.l_orderkey = l1.l_orderkey "
    "  AND l3.l_suppkey <> l1.l_suppkey "
    "  AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY) "
    "GROUP BY s_name",
)
def q_tpch_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: sole-late supplier per multi-supplier order;
    EXISTS/NOT-EXISTS decorrelated to one per-order aggregate."""
    return ds.waiting_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "supplier"),
    )


@_q(
    "tpch_prospective_customers",
    "SELECT c_nationkey, CAST(count(*) AS BIGINT) AS numcust, "
    "CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) "
    "  AS totacctbal_cents "
    "FROM customer WHERE c_acctbal > 0 "
    "AND CAST(round(c_acctbal * 100) AS BIGINT) "
    "  * (SELECT count(*) FROM customer WHERE c_acctbal > 0) "
    "  > (SELECT CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) "
    "     FROM customer WHERE c_acctbal > 0) "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) "
    "GROUP BY c_nationkey",
)
def q_tpch_prospective_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no orders,
    per nation; the above-average test is exact integer arithmetic so a
    float-mean ulp can never flip a boundary row."""
    return ds.prospective_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
    )


@_q(
    "tpch_parts_supplier_relationship",
    "SELECT p_brand, p_type, p_size, "
    "CAST(count(DISTINCT ps.l_suppkey) AS BIGINT) AS supplier_cnt "
    f"FROM part, {_PAIRS} ps "
    "WHERE p_partkey = ps.l_partkey AND p_brand <> 'Brand#1' "
    "AND p_type NOT LIKE 'PROMO%' "
    "AND ps.l_suppkey NOT IN ("
    "  SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000.0) "
    "GROUP BY p_brand, p_type, p_size",
)
def q_tpch_parts_supplier_relationship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN complaint-supplier exclusion (anti join)
    + distinct supplier count per part family."""
    return ds.parts_supplier_relationship(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "part"),
        load_table(spark, sf_dir, "supplier"),
    )


@_q(
    "tpch_excess_suppliers",
    "SELECT s_suppkey, s_name FROM supplier WHERE s_suppkey IN ("
    "  SELECT l_suppkey FROM ("
    "    SELECT l_partkey, l_suppkey, "
    "    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS supp_qty "
    "    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
    "    AND l_shipdate < TIMESTAMP '1998-01-01' "
    "    GROUP BY l_partkey, l_suppkey) pp "
    "  JOIN ("
    "    SELECT l_partkey AS pk, "
    "    CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS part_qty "
    "    FROM lineitem WHERE l_shipdate >= TIMESTAMP '1997-01-01' "
    "    AND l_shipdate < TIMESTAMP '1998-01-01' "
    "    GROUP BY l_partkey) pt ON pp.l_partkey = pt.pk "
    "  WHERE supp_qty * 2 > part_qty)",
)
def q_tpch_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: dominant-share suppliers via exact integer
    half-of-total comparison; IN-subquery as left semi join."""
    return ds.excess_quantity_suppliers(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "supplier"),
    )


@_q(
    "source_orc_roundtrip",
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_chars) AS BIGINT) AS total_chars "
    "FROM documents GROUP BY lang",
)
def q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format breadth: write documents to ORC, re-read, and
    aggregate; the oracle runs on the original parquet, so a match
    proves the ORC round-trip is lossless.  ORC ships in Spark's JVM
    (no extra package) and carries the same min/max row-group stats
    parquet does, so the scan-pruning posture in SCALE.md applies
    unchanged."""
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    out = tempfile.mkdtemp(prefix="orc_src_") + "/docs"
    docs.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@_q(
    "source_jsonlines_roundtrip",
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(max(epoch_ms(ts)) AS BIGINT) AS max_ts_ms, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    "FROM events GROUP BY event_type",
)
def q_source_jsonlines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured-format breadth: write events to JSON lines,
    re-read with a *declared* schema (no inference pass — at 100 TB a
    sampling inference job costs a full extra scan), and aggregate
    including a ms-precision timestamp max to prove the text round-trip
    preserves event time."""
    import tempfile

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value")
    out = tempfile.mkdtemp(prefix="json_src_") + "/events"
    ev.write.mode("overwrite").json(out)
    back = spark.read.schema(
        "event_id BIGINT, event_type STRING, ts TIMESTAMP, value DOUBLE"
    ).json(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.unix_millis(F.max("ts"))).alias("max_ts_ms"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@_q(
    "corpus_prep_pipeline",
    _TOKS_CTE + ", "
    "per_doc AS (SELECT doc_id, count(*) AS n_tokens, "
    "  CAST(sum(CASE WHEN tok IN ('the','a','of','and','to') THEN 1 ELSE 0 END)"
    "  AS BIGINT) AS n_stop FROM toksf GROUP BY 1), "
    "q AS (SELECT d.doc_id, d.lang, d.text, p.n_tokens, "
    "  CAST(least(p.n_tokens, 100) * 50 + "
    "  CAST(floor((10000 - floor(p.n_stop * 10000 / p.n_tokens)) / 2) AS BIGINT)"
    "  AS BIGINT) AS quality_bp "
    "  FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id "
    "  WHERE p.n_tokens >= 20), "
    "gated AS (SELECT * FROM q WHERE quality_bp >= 7000), "
    "kept AS (SELECT lang, n_tokens, quality_bp FROM gated "
    "  QUALIFY row_number() OVER (PARTITION BY sha256(text) "
    "  ORDER BY doc_id) = 1) "
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
    "CAST(sum(quality_bp) AS BIGINT) AS sum_quality_bp "
    "FROM kept GROUP BY lang",
)
def q_corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-star composite (BASELINE.json): quality gate → exact dedup
    → per-language corpus stats in one DAG (functions/text.py:
    corpus_prep).  The oracle rebuilds the identical pipeline as
    chained CTEs with a QUALIFY dedup."""
    return text.corpus_prep(load_table(spark, sf_dir, "documents"))


def q_streaming_stateful_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental latest-per-key snapshot in engine-managed per-group
    state (streaming/snapshot_state.py).  Rows-only: exact equality
    with the batch max_by snapshot is asserted in
    tests/test_streaming.py::test_stateful_snapshot_matches_batch_latest_per_key."""
    import tempfile

    from .streaming.snapshot_state import run_stateful_snapshot

    work = tempfile.mkdtemp(prefix="stream_snap_")
    feed = _derived_feed(spark, sf_dir, "cust2k2")
    with scoped_shuffle_partitions(spark, 4):
        snap = run_stateful_snapshot(spark, feed, work + "/out")
    return snap.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n_changes").alias("n_changes_total"),
        F.sum(F.when(F.col("last_action") == "D", 1).otherwise(0)).alias(
            "n_deleted"),
        F.max("last_commit_ts_ms").alias("uptodate_ms"),
    )


QUERIES["streaming_stateful_snapshot"] = q_streaming_stateful_snapshot
# The final per-group state is a pure function of the feed: every key
# ≤ 2000 appears, total change-row conservation, a key ends deleted
# iff its cycle is maximal (k % 4 == 3), watermark = max commit ts —
# all recomputed by the oracle from the same integer arithmetic.  A
# state-store row lost across epochs (or a stale update surviving the
# max_by collapse) breaks n_keys / n_changes_total.
ORACLES["streaming_stateful_snapshot"] = (
    "WITH c AS ("
    "  SELECT c_custkey AS key, "
    f"        {1_704_067_200_000} + ((c_custkey * 8 + u.seq) // 3) * 1000 AS ts "
    "  FROM customer, unnest(range(0, CAST(c_custkey % 4 AS BIGINT) + 1)) AS u(seq) "
    "  WHERE c_custkey <= 2000) "
    "SELECT count(DISTINCT key) AS n_keys, count(*) AS n_changes_total, "
    "count(DISTINCT CASE WHEN key % 4 = 3 THEN key END) AS n_deleted, "
    "max(ts) AS uptodate_ms FROM c"
)


def q_streaming_upsert_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MERGE-style snapshot maintenance (streaming/upsert.py):
    a driver-planned epoch loop folds each epoch of the cust2k feed into a
    parquet snapshot — latest-per-key over the batch, left-anti against
    the current snapshot, union, drop deletes, atomic directory swap.
    Returns the FINAL snapshot relation; the oracle recomputes the end
    state as one batch latest-per-key over the whole feed, which the
    epoch-by-epoch merge must equal because the merge is associative
    (that equality is exactly what a MERGE-based pipeline relies on
    when it replays epochs after a failure)."""
    import tempfile

    from .streaming.upsert import run_incremental_snapshot

    work = tempfile.mkdtemp(prefix="stream_upsert_")
    feed = _derived_feed(spark, sf_dir, "cust2k2")
    return run_incremental_snapshot(spark, feed, work)


QUERIES["streaming_upsert_snapshot"] = q_streaming_upsert_snapshot
# End state is a pure function of the feed: latest change per key with
# deleted keys (cycle-maximal, k % 4 == 3) dropped — recomputed by the
# oracle from the same integer arithmetic that generated the feed.  A
# lost epoch, a stale row surviving the anti-join, or a delete leaking
# through the final filter each break the hash.
ORACLES["streaming_upsert_snapshot"] = (
    "WITH changes AS ("
    "  SELECT c_custkey * 8 + u.seq AS event_id, "
    "         'customer' AS table_name, "
    f"        {1_704_067_200_000} + ((c_custkey * 8 + u.seq) // 3) * 1000 "
    "           AS commit_ts_ms, "
    "         CASE WHEN u.seq = 0 THEN 'I' WHEN u.seq = 3 THEN 'D' "
    "              ELSE 'U' END AS action, "
    "         c_custkey AS key, "
    "         CAST(round(c_acctbal * 100) AS BIGINT) + u.seq AS val_cents "
    "  FROM customer, unnest(range(0, CAST(c_custkey % 4 AS BIGINT) + 1)) "
    "       AS u(seq) "
    "  WHERE c_custkey <= 2000) "
    "SELECT * FROM ("
    "  SELECT table_name, key, event_id AS last_event_id, "
    "         action AS last_action, val_cents AS last_val_cents, "
    "         commit_ts_ms AS last_commit_ts_ms FROM changes "
    "  QUALIFY row_number() OVER (PARTITION BY table_name, key "
    "    ORDER BY commit_ts_ms DESC, event_id DESC) = 1"
    ") t WHERE last_action <> 'D'"
)


def q_streaming_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT distinct counting over the change stream
    (streaming/partials.py): per epoch the stored (action, bucket)
    bitmap partials are OR-merged with the epoch's — fixed-size blobs,
    no history rescan, replay-idempotent.  The final per-action
    distinct-key counts must equal one batch COUNT(DISTINCT) over the
    whole feed; the oracle recomputes them from the cycle arithmetic
    (every key emits I at seq 0; U at seq 1..cycle-2 iff k%4 >= 1;
    D iff the cycle is maximal, k%4 == 3)."""
    import tempfile

    from .streaming.partials import run_incremental_bitmap_distinct

    work = tempfile.mkdtemp(prefix="stream_bm_")
    feed = _derived_feed(spark, sf_dir, "cust2k2")
    return run_incremental_bitmap_distinct(spark, feed, work)


QUERIES["streaming_bitmap_distinct"] = q_streaming_bitmap_distinct
ORACLES["streaming_bitmap_distinct"] = (
    "WITH k AS (SELECT c_custkey AS key FROM customer WHERE c_custkey <= 2000) "
    "SELECT 'I' AS action, count(*) AS n_distinct_keys FROM k "
    "UNION ALL "
    "SELECT 'U', count(*) FROM k WHERE key % 4 >= 1 "
    "UNION ALL "
    "SELECT 'D', count(*) FROM k WHERE key % 4 = 3"
)


@_q(
    "gapfill_hourly_rollup",
    "WITH sparse AS (SELECT event_type, epoch_ms(ts) // 3600000 AS bucket, "
    "  CAST(count(*) AS BIGINT) AS n, "
    "  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents "
    "  FROM events GROUP BY 1, 2), "
    "bounds AS (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi "
    "  FROM sparse GROUP BY 1), "
    "grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket "
    "  FROM bounds) "
    "SELECT grid.event_type, grid.bucket, "
    "coalesce(sparse.n, 0) AS n_events, "
    "coalesce(sparse.cents, 0) AS cents, "
    "last_value(sparse.cents IGNORE NULLS) OVER ("
    "  PARTITION BY grid.event_type ORDER BY grid.bucket "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_cents "
    "FROM grid LEFT JOIN sparse ON grid.event_type = sparse.event_type "
    "AND grid.bucket = sparse.bucket",
)
def q_gapfill_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_bucket_gapfill capability: dense hourly grid per event type
    with zero-fill and forward-fill (operators/analytics.py)."""
    return analytics.gapfill_hourly_rollup(load_table(spark, sf_dir, "events"))


@_q(
    "udtf_char_trigrams",
    "SELECT gram, CAST(count(*) AS BIGINT) AS n, "
    "CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM ("
    "  SELECT doc_id, substring(text, i, 3) AS gram "
    "  FROM documents, unnest(range(1, length(text) - 1)) AS t(i) "
    "  WHERE doc_id <= 100) "
    "GROUP BY gram HAVING count(*) >= 5",
)
def q_udtf_char_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (functions/text.py:ngram_windows_udtf):
    character-trigram expansion via a registered table function in
    LATERAL position, aggregated to frequent grams.  The oracle does
    the same expansion with unnest(range)+substring — proving the UDTF
    output matches the declarative form."""
    from .io import register_views

    text.ngram_windows_udtf(spark)
    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT gram, count(*) AS n, count(DISTINCT doc_id) AS n_docs "
        "FROM (SELECT d.doc_id, g.gram "
        "      FROM documents d, "
        "      LATERAL char_trigrams(d.doc_id, d.text) g "
        "      WHERE d.doc_id <= 100) "
        "GROUP BY gram HAVING count(*) >= 5"
    )


@_q(
    "sql_recursive_ancestry",
    "WITH RECURSIVE walk(key, anc, depth) AS ("
    "  SELECT c_custkey, c_custkey, 0 FROM customer "
    "  UNION ALL "
    "  SELECT key, anc // 2, depth + 1 FROM walk WHERE anc > 1) "
    "SELECT depth, CAST(count(*) AS BIGINT) AS n_nodes, "
    "CAST(sum(key) AS BIGINT) AS sum_keys "
    "FROM walk GROUP BY depth",
)
def q_sql_recursive_ancestry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE surface (Spark 4 WITH RECURSIVE): binary-halving
    ancestry walk per customer key (k → k div 2 → … → 1), aggregated
    per depth.  Iterative plans like this are the SQL face of the
    loop-until-fixpoint family (dedup_cluster_components does the same
    shape via explicit iteration + localCheckpoint).  The oracle is the
    identical recursion in DuckDB."""
    from .io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        "WITH RECURSIVE walk(key, anc, depth) AS ("
        "  SELECT c_custkey, c_custkey, 0 FROM customer "
        "  UNION ALL "
        "  SELECT key, anc div 2, depth + 1 FROM walk WHERE anc > 1) "
        "SELECT depth, count(*) AS n_nodes, sum(key) AS sum_keys "
        "FROM walk GROUP BY depth"
    )


@_q(
    "variant_extract_props",
    "SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 7 AS k_mod, "
    "CAST(count(*) AS BIGINT) AS n_events, "
    "CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents, "
    "CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents "
    "FROM events GROUP BY 1",
)
def q_variant_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT surface (Spark 4 semi-structured type): ``parse_json``
    the props payload once into a VARIANT and extract a typed path with
    ``variant_get``.  At scale VARIANT columns shred into columnar
    sub-fields (one parse at ingest, binary-encoded access after) —
    the upgrade path from the string-JSON handling in
    json_extract_props."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.expr("variant_get(parse_json(props), '$.k', 'bigint')") % 7)
            .alias("k_mod"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("k_mod")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("cents").alias("min_cents"),
            F.max("cents").alias("max_cents"),
        )
    )


@_q(
    "range_clustered_skipping",
    f"SELECT CAST(count(*) AS BIGINT) AS n_rows, "
    f"CAST(min(event_id) AS BIGINT) AS min_id, "
    f"CAST(max(event_id) AS BIGINT) AS max_id, "
    f"CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    f"FROM events WHERE event_id > {OFFSET_LO} AND event_id <= {OFFSET_HI}",
)
def q_range_clustered_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout half of pruning (sinks.py:write_range_clustered):
    events range-repartitioned + sorted on event_id before writing, so
    every file covers a narrow key slice and the offset-range re-read
    skips whole files via parquet footer min/max.  The oracle runs the
    same range on the original table — layout must not change results.
    tests/test_plans.py asserts the file-slice disjointness."""
    import tempfile

    from . import sinks

    ev = load_table(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="rangeclus_") + "/events"
    sinks.write_range_clustered(ev, out, "event_id")
    back = spark.read.parquet(out).where(
        (F.col("event_id") > OFFSET_LO) & (F.col("event_id") <= OFFSET_HI))
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@_q(
    "null_safe_join_counts",
    "WITH a AS (SELECT nullif(user_id % 50, 0) AS k, "
    "  CAST(count(*) AS BIGINT) AS n_click FROM events "
    "  WHERE event_type = 'click' GROUP BY 1), "
    "b AS (SELECT nullif(user_id % 50, 0) AS k, "
    "  CAST(count(*) AS BIGINT) AS n_view FROM events "
    "  WHERE event_type = 'view' GROUP BY 1) "
    "SELECT a.k, n_click, n_view FROM a JOIN b "
    "ON a.k IS NOT DISTINCT FROM b.k",
)
def q_null_safe_join_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (``<=>`` ≙ IS NOT DISTINCT FROM): the null
    bucket joins the null bucket instead of vanishing — required for
    CDC key domains where NULL is a legitimate key value.  Both sides
    pre-aggregate to distinct keys, so the null-match can never fan
    out quadratically."""
    ev = load_table(spark, sf_dir, "events")
    k = F.nullif(F.col("user_id") % 50, F.lit(0)).alias("k")
    a = ev.where(F.col("event_type") == "click").groupBy(k).agg(
        F.count(F.lit(1)).alias("n_click"))
    b = ev.where(F.col("event_type") == "view").groupBy(k).agg(
        F.count(F.lit(1)).alias("n_view"))
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_click", "n_view")


@_q(
    "try_arithmetic_suite",
    "SELECT event_id, "
    "CAST(round(value * 100) AS BIGINT) // nullif(event_id % 5, 0) "
    "  AS safe_div_cents, "
    "TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_long, "
    "TRY_CAST(event_type AS BIGINT) AS not_a_number "
    "FROM events WHERE event_id <= 2000",
)
def q_try_arithmetic_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar evaluation under ANSI mode: ``try_divide`` /
    ``try_cast`` return NULL instead of failing the job — the 100 TB
    posture for dirty data (one malformed row must not kill a
    1000-executor stage).  Division is integer-exact (cents div) so
    both engines agree bit-for-bit."""
    ev = load_table(spark, sf_dir, "events").where(F.col("event_id") <= 2000)
    return ev.select(
        "event_id",
        F.try_divide(
            F.round(F.col("value") * 100).cast("long"),
            F.nullif(F.col("event_id") % 5, F.lit(0)),
        ).cast("long").alias("safe_div_cents"),
        F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").alias(
            "k_long"),
        F.expr("try_cast(event_type AS BIGINT)").alias("not_a_number"),
    )


@_q(
    "sketch_mergeable_hll",
    # Property-oracle (see sketch_user_cardinality): exact rollup count
    # hash-checked; the union-of-daily-sketches estimate is asserted to
    # sit inside the 5% envelope via the boolean.
    "SELECT event_type, count(DISTINCT user_id) AS exact_users, "
    "true AS hll_within_bound FROM events GROUP BY event_type",
)
def q_sketch_mergeable_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch rollup (functions/sketches.py): daily
    sketch partials unioned to per-type distinct-user estimates; the
    full error envelope is additionally asserted in
    tests/test_robustness.py."""
    res = sketches.mergeable_daily_hll(load_table(spark, sf_dir, "events"))
    return res.select(
        "event_type",
        "exact_users",
        (F.col("rel_err_bp") <= 500).alias("hll_within_bound"),
    )


@_q(
    "skew_split_join_revenue",
    "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders, "
    "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
    "  AS revenue_cents "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "GROUP BY c_mktsegment",
)
def q_skew_split_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-isolation join (operators/skew.py:skew_split_join): the
    oracle is the PLAIN join — proving the split/union decomposition is
    semantically invisible at any key distribution."""
    joined = skew.skew_split_join(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"),
        "o_custkey",
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"),
    )


@_q(
    "multimodal_resize",
    "SELECT doc_id, CAST(length(text) AS BIGINT) AS orig_bytes, "
    "CAST(least(length(text), 256) AS BIGINT) AS resized_bytes, "
    "sha256(substring(text, 1, 256)) AS resized_sha "
    "FROM documents",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize verb of the media pipeline (functions/multimodal.py:
    resize_media): payload capped per item in one mapInPandas hop; the
    hash of the resized bytes is computed JVM-side.  The oracle mirrors
    the byte slice on the (ASCII) text the fake payload encodes."""
    resized = multimodal.resize_media(load_table(spark, sf_dir, "documents"))
    return resized.select(
        "doc_id",
        "orig_bytes",
        F.length("payload_resized").cast("long").alias("resized_bytes"),
        F.sha2(F.col("payload_resized"), 256).alias("resized_sha"),
    )


@_q(
    "source_corrupt_tolerant_read",
    "SELECT CAST(count(*) AS BIGINT) AS n_good, "
    "CAST(sum(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_bad, "
    "CAST(sum(CASE WHEN event_id % 97 <> 0 THEN event_id ELSE 0 END) "
    "  AS BIGINT) AS good_id_sum "
    "FROM events",
)
def q_source_corrupt_tolerant_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-tolerant ingest: the pipe-text extract is deterministically
    vandalized (every event_id % 97 == 0 row becomes an unparseable
    line), then re-read in PERMISSIVE mode with a ``_corrupt_record``
    column — bad rows are quarantined and counted, good rows parse
    unchanged.  The 100 TB posture: one malformed line must neither
    kill the job (FAILFAST) nor vanish silently (DROPMALFORMED); it
    lands in the dead-letter column for audit.  The oracle reconstructs
    the same good/bad accounting from the clean source table."""
    import tempfile

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    corrupt = F.col("event_id") % 97 == 0
    lines = ev.select(
        F.when(corrupt, F.concat(F.lit("GARBAGE|x|"), F.col("event_id")))
        .otherwise(F.concat_ws("|", "event_id", "value"))
        .alias("line")
    )
    out = tempfile.mkdtemp(prefix="corrupt_src_") + "/feed"
    lines.write.mode("overwrite").text(out)
    back = (
        spark.read.schema(
            "event_id BIGINT, value DOUBLE, _corrupt_record STRING")
        .option("sep", "|")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_good"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .alias("n_bad"),
        F.sum(F.coalesce("event_id", F.lit(0))).alias("good_id_sum"),
    )


@_q(
    "hof_array_suite",
    "SELECT vec_id, "
    "CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos, "
    "CAST(list_sum(list_transform(embedding, "
    "  x -> CAST(round(x * 1000) AS BIGINT))) AS BIGINT) AS sum_milli, "
    "CAST(list_max(list_transform(embedding, "
    "  x -> CAST(round(abs(x) * 1000) AS BIGINT))) AS BIGINT) AS max_abs_milli "
    "FROM embeddings WHERE vec_id < 500",
)
def q_hof_array_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (transform / filter / aggregate /
    lambda composition) — the JVM-side lambda path that keeps vector
    arithmetic out of Python.  Integer-milli rounding inside the lambda
    keeps the fold exact across engines."""
    emb = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 500)
    return emb.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).cast("long").alias(
            "n_pos"),
        F.aggregate(
            F.transform("embedding",
                        lambda x: F.round(x * 1000).cast("long")),
            F.lit(0).cast("long"), lambda acc, x: acc + x,
        ).alias("sum_milli"),
        F.array_max(
            F.transform("embedding",
                        lambda x: F.round(F.abs(x) * 1000).cast("long"))
        ).alias("max_abs_milli"),
    )


_idx2 = _mh.rindex("SELECT doc_a, doc_b, n_inter, jaccard_bp")
_FUZZY_ORACLE = (
    _mh[:_idx2].rstrip() + ", pairs AS (" + _mh[_idx2:] + ") "
    "SELECT p.doc_a, p.doc_b, p.jaccard_bp, "
    "CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev "
    "FROM pairs p JOIN documents da ON da.doc_id = p.doc_a "
    "JOIN documents db ON db.doc_id = p.doc_b"
)


@_q("dedup_fuzzy_verified", _FUZZY_ORACLE)
def q_dedup_fuzzy_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy-match refinement (functions/dedup.py:fuzzy_verified_pairs):
    exact Levenshtein distance over the LSH candidate pairs only."""
    return dedup.fuzzy_verified_pairs(
        load_table(spark, sf_dir, "documents"), 3, 0.8)


# --------------------------------------------------------------------------
# Table maintenance & runtime pruning (operators/maintenance.py)
# --------------------------------------------------------------------------

@_q(
    "join_bloom_pruned_revenue",
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines, "
    "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) "
    "  AS rev_cents "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "WHERE o_orderpriority = '1-URGENT' GROUP BY o_orderpriority",
)
def q_join_bloom_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join pruning
    (operators/maintenance.py:bloom_pruned_join): the selective orders
    side builds a key bloom that filters the lineitem SCAN before the
    shuffle (`might_contain` plan node, asserted in tests/test_plans.py).
    The oracle is the plain join — pruning must not change results."""
    from .operators import maintenance

    return maintenance.bloom_pruned_join(
        spark,
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
    )


@_q(
    "incremental_rollup_merge",
    "SELECT event_type, strftime(ts, '%Y-%m-%d') AS day, "
    "CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents, "
    "CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents, "
    "CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents, "
    "CAST(max(event_id) AS BIGINT) AS hwm "
    "FROM events GROUP BY 1, 2",
)
def q_incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance
    (operators/maintenance.py:incremental_rollup): rollup materialized
    up to a split offset, then the later batch's partials merged via
    mergeable state (count/sum/min/max re-aggregation).  The oracle
    recomputes the rollup over everything — merge ≡ recompute."""
    from .operators import maintenance

    return maintenance.incremental_rollup(
        load_table(spark, sf_dir, "events"), OFFSET_LO + 400
    )


@_q(
    "compact_small_files",
    "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(count(DISTINCT user_id) AS BIGINT) AS n_users, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    "FROM events",
)
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (operators/maintenance.py:compact_parquet):
    a 64-file epoch-fragmented copy of events is rewritten into
    size-targeted files; the query aggregates the compacted re-read and
    the oracle aggregates the original table — compaction must be
    row-lossless.  File-count reduction is asserted in
    tests/test_robustness.py."""
    import tempfile

    from .operators import maintenance

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="compact_")
    frag, dst = base + "/frag", base + "/compacted"
    ev.repartition(64).write.mode("overwrite").parquet(frag)
    maintenance.compact_parquet(spark, frag, dst, target_bytes=64 << 20)
    back = spark.read.parquet(dst)
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@_q(
    "zorder_clustered_skipping",
    f"SELECT CAST(count(*) AS BIGINT) AS n_rows, "
    f"CAST(min(event_id) AS BIGINT) AS min_id, "
    f"CAST(max(event_id) AS BIGINT) AS max_id, "
    f"CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    f"FROM events WHERE user_id BETWEEN 2 AND 6 "
    f"AND event_id > {OFFSET_LO} AND event_id <= {OFFSET_HI}",
)
def q_zorder_clustered_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-dimensional clustering (sinks.py:write_zorder_clustered):
    events laid out by the Morton interleave of (user_id, event_id), so
    a predicate on either or both columns skips whole files via footer
    min/max.  The oracle runs the same 2-D predicate on the original
    table — layout must not change results.  File skipping is asserted
    in tests/test_plans.py."""
    import tempfile

    from . import sinks

    ev = load_table(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="zorder_") + "/events"
    sinks.write_zorder_clustered(ev, out, "user_id", "event_id")
    # explicit schema: an empty extract has no part files to infer
    # from (round-12 empty-input sweep finding); the z-key is layout
    # only and never written, so the read schema IS the input schema
    back = spark.read.schema(ev.schema).parquet(out).where(
        F.col("user_id").between(2, 6)
        & (F.col("event_id") > OFFSET_LO) & (F.col("event_id") <= OFFSET_HI)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@_q(
    "tpch_nation_pair_volume",
    "SELECT supp_nation, cust_nation, l_year, "
    "CAST(sum(vol_cents) AS BIGINT) AS volume_cents FROM ("
    "  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation, "
    "  CAST(year(l_shipdate) AS BIGINT) AS l_year, "
    "  CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) "
    "    AS vol_cents "
    "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "  JOIN customer ON o_custkey = c_custkey "
    "  JOIN supplier ON l_suppkey = s_suppkey "
    "  JOIN nation ns ON s_nationkey = ns.n_nationkey "
    "  JOIN nation nc ON c_nationkey = nc.n_nationkey "
    "  WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2') "
    "     OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')) "
    "GROUP BY 1, 2, 3",
)
def q_tpch_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (decision_support.nation_pair_volume): bilateral
    shipping volume per (supplier nation, customer nation, year) with
    the pair predicate pushed onto both dimension sides pre-join."""
    from .operators import decision_support as ds2

    return ds2.nation_pair_volume(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "supplier"),
        load_table(spark, sf_dir, "nation"),
    )


@_q(
    "tpch_returned_item_ranking",
    "SELECT c_custkey, c_name, n_name, rev_cents, "
    "CAST(round(c_acctbal * 100) AS BIGINT) AS acctbal_cents FROM ("
    "  SELECT o_custkey, CAST(sum(CAST(round(l_extendedprice * "
    "  (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents "
    "  FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "  WHERE l_returnflag = 'R' "
    "  AND o_orderdate >= TIMESTAMP '1996-01-01' "
    "  AND o_orderdate < TIMESTAMP '1996-04-01' GROUP BY o_custkey) r "
    "JOIN customer ON c_custkey = o_custkey "
    "JOIN nation ON c_nationkey = n_nationkey "
    "ORDER BY rev_cents DESC, c_custkey LIMIT 20",
)
def q_tpch_returned_item_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (decision_support.returned_item_ranking):
    top-20 customers by returned-item revenue in one quarter;
    aggregate-before-join, total order for a deterministic LIMIT."""
    from .operators import decision_support as ds2

    return ds2.returned_item_ranking(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "nation"),
    )


@_q(
    "tpch_large_volume_customers",
    "SELECT c_name, c_custkey, o_orderkey, epoch_ms(o_orderdate) "
    "  AS orderdate_ms, "
    "CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents, "
    "total_qty FROM ("
    "  SELECT l_orderkey, CAST(round(sum(l_quantity)) AS BIGINT) "
    "    AS total_qty FROM lineitem GROUP BY l_orderkey) q "
    "JOIN orders ON o_orderkey = l_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "WHERE total_qty > 180",
)
def q_tpch_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (decision_support.large_volume_customers):
    HAVING on the per-order quantity aggregate gates the joins."""
    from .operators import decision_support as ds2

    return ds2.large_volume_customers(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
    )


# ann_pq_topk is registered next to ann_pq_adc_oracle below: both share
# the generated _pq_oracle_sql mirror (2 Lloyd rounds vs 1).


# --------------------------------------------------------------------------
# Pipeline trust (operators/quality.py)
# --------------------------------------------------------------------------

# Column-level profile drift (nulls / cardinality per day-parity side):
# the oracle profiles each column directly (strings counted raw — the
# operator's xxhash64 stacking never reaches the output).
@_q(
    "column_profile_drift",
    "WITH s AS (SELECT *, (epoch_ms(ts) // 86400000) % 2 AS side FROM events) "
    "SELECT 'user_id' AS col_name, "
    "  CAST(count_if(side = 0) AS BIGINT) AS n_a, "
    "  CAST(count_if(side = 1) AS BIGINT) AS n_b, "
    "  CAST(count_if(side = 0 AND user_id IS NULL) * 1000 "
    "    // count_if(side = 0) AS BIGINT) AS null_pm_a, "
    "  CAST(count_if(side = 1 AND user_id IS NULL) * 1000 "
    "    // count_if(side = 1) AS BIGINT) AS null_pm_b, "
    "  CAST(count(DISTINCT CASE WHEN side = 0 THEN user_id END) AS BIGINT) "
    "    AS distinct_a, "
    "  CAST(count(DISTINCT CASE WHEN side = 1 THEN user_id END) AS BIGINT) "
    "    AS distinct_b FROM s "
    "UNION ALL SELECT 'event_type', "
    "  CAST(count_if(side = 0) AS BIGINT), CAST(count_if(side = 1) AS BIGINT), "
    "  CAST(count_if(side = 0 AND event_type IS NULL) * 1000 "
    "    // count_if(side = 0) AS BIGINT), "
    "  CAST(count_if(side = 1 AND event_type IS NULL) * 1000 "
    "    // count_if(side = 1) AS BIGINT), "
    "  CAST(count(DISTINCT CASE WHEN side = 0 THEN event_type END) AS BIGINT), "
    "  CAST(count(DISTINCT CASE WHEN side = 1 THEN event_type END) AS BIGINT) "
    "  FROM s "
    "UNION ALL SELECT 'value_cents', "
    "  CAST(count_if(side = 0) AS BIGINT), CAST(count_if(side = 1) AS BIGINT), "
    "  CAST(count_if(side = 0 AND value IS NULL) * 1000 "
    "    // count_if(side = 0) AS BIGINT), "
    "  CAST(count_if(side = 1 AND value IS NULL) * 1000 "
    "    // count_if(side = 1) AS BIGINT), "
    "  CAST(count(DISTINCT CASE WHEN side = 0 "
    "    THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT), "
    "  CAST(count(DISTINCT CASE WHEN side = 1 "
    "    THEN CAST(round(value * 100) AS BIGINT) END) AS BIGINT) FROM s",
)
def q_column_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import quality

    return quality.column_profile_drift(load_table(spark, sf_dir, "events"))


@_q(
    "dq_constraint_audit",
    "SELECT 'null_user_id' AS constraint_name, "
    "CAST(count_if(user_id IS NULL) AS BIGINT) AS n_violations FROM events "
    "UNION ALL SELECT 'value_out_of_range', "
    "CAST(count_if(value < 0 OR value > 10000) AS BIGINT) FROM events "
    "UNION ALL SELECT 'duplicate_event_id', "
    "CAST(count(*) - count(DISTINCT event_id) AS BIGINT) FROM events "
    "UNION ALL SELECT 'orphan_user_id', CAST(count(*) AS BIGINT) FROM events "
    "WHERE user_id NOT IN (SELECT c_custkey FROM customer)",
)
def q_dq_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint audit (operators/quality.py): declared
    expectations evaluated as one shared aggregate scan + one broadcast
    anti-join, one violation-count row per constraint."""
    from .operators import quality

    return quality.constraint_audit(
        load_table(spark, sf_dir, "events"),
        load_table(spark, sf_dir, "customer"),
    )


@_q(
    "schema_evolution_read",
    "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(count_if(event_id < 500) AS BIGINT) AS null_event_type, "
    "CAST(count_if(value IS NULL) AS BIGINT) AS null_value, "
    "CAST(sum(CASE WHEN event_id >= 500 THEN "
    "  CAST(round(value * 100) AS BIGINT) END) AS BIGINT) AS v2_value_cents "
    "FROM events",
)
def q_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution ingest (operators/quality.py:read_evolved): two
    file generations — v1 predates the event_type column, v2 carries it
    — read through mergeSchema into the union schema, with the column
    null for every v1 row and the shared columns intact.  The oracle
    reproduces the null pattern from the original table."""
    import tempfile

    from .operators import quality

    ev = load_table(spark, sf_dir, "events")
    base = tempfile.mkdtemp(prefix="schevo_")
    v1, v2 = base + "/gen=1", base + "/gen=2"
    ev.where(F.col("event_id") < 500).select(
        "event_id", "user_id", "value"
    ).write.mode("overwrite").parquet(v1)
    ev.where(F.col("event_id") >= 500).select(
        "event_id", "user_id", "event_type", "value"
    ).write.mode("overwrite").parquet(v2)
    back = quality.read_evolved(spark, [v1, v2])
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count_if(F.col("event_type").isNull()).alias("null_event_type"),
        F.count_if(F.col("value").isNull()).alias("null_value"),
        F.sum(
            F.when(F.col("event_id") >= 500,
                   F.round(F.col("value") * 100).cast("long"))
        ).alias("v2_value_cents"),
    )


@_q(
    "table_fingerprint",
    "SELECT event_type, CAST(sum(CAST(('0x' || substr(md5("
    "  coalesce(CAST(event_id AS VARCHAR), '␀') || '|' "
    "  || coalesce(CAST(user_id AS VARCHAR), '␀') || '|' "
    "  || coalesce(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), '␀')"
    "), 1, 12)) AS BIGINT)) % 2305843009213693951 AS BIGINT) AS fingerprint, "
    "CAST(count(*) AS BIGINT) AS n_rows "
    "FROM events GROUP BY event_type",
)
def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy content checksum (operators/quality.py:
    content_fingerprint): per-table order-insensitive md5-sum
    fingerprint, engine-portable (the DuckDB oracle computes the same
    value independently — which IS the reconciliation use case)."""
    from .operators import quality

    ev = load_table(spark, sf_dir, "events").withColumn(
        "value_cents", F.round(F.col("value") * 100).cast("long")
    )
    return quality.content_fingerprint(
        ev, ["event_id", "user_id", "value_cents"], "event_type"
    )


@_q(
    "sql_parameterized_scan",
    f"SELECT event_id, user_id, event_type, "
    f"CAST(round(value * 100) AS BIGINT) AS value_cents FROM events "
    f"WHERE event_id > {OFFSET_LO} AND event_id <= {OFFSET_HI} "
    f"AND event_type IN ('click', 'view')",
)
def q_sql_parameterized_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named-parameter SQL (spark.sql ``args=``): the safe form of the
    reference's string-interpolated queries (SURVEY.md §2 bug 7:
    ``CoordinatorRunnable.java:35-36`` / ``WorkerRunnable.java:93-94``
    splice config strings straight into SQL).  Parameter markers bind
    VALUES — injection is structurally impossible and the plan is
    cacheable across bindings; the pushed-down range still reaches the
    scan (same PushedFilters as the DataFrame form)."""
    from .io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        "SELECT event_id, user_id, event_type, "
        "CAST(round(value * 100) AS BIGINT) AS value_cents FROM events "
        "WHERE event_id > :lo AND event_id <= :hi "
        "AND event_type IN (:t1, :t2)",
        args={"lo": OFFSET_LO, "hi": OFFSET_HI, "t1": "click", "t2": "view"},
    )


@_q(
    "join_hint_shuffle_hash",
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, "
    "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
    "  AS total_cents "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "WHERE c_mktsegment = 'BUILDING' GROUP BY o_orderpriority",
)
def q_join_hint_shuffle_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical join-strategy control: the SHUFFLE_HASH hint forces a
    shuffled hash join where the planner would pick broadcast or
    sort-merge.  At 100 TB the hash side must be the smaller one —
    hinting customer as the build side skips the sort phase of SMJ
    while staying shuffle-partitioned (no single-node broadcast
    pressure).  Strategy choice must not change results — the oracle
    is the plain join.  Plan shape asserted in tests/test_plans.py."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        orders.join(customer.hint("shuffle_hash"),
                    orders.o_custkey == customer.c_custkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .alias("total_cents"),
        )
    )


@_q(
    "source_file_lineage",
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    "FROM events GROUP BY event_type",
)
def q_source_file_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provenance via the ``_metadata`` hidden column: after a
    partitioned demux write (B1), every re-read row carries its source
    file path; grouping by the partition key parsed from the path must
    reproduce the per-table counts — the lineage analog of knowing
    which ``chunk<threadID>`` file a reference row landed in
    (``WorkerRunnable.java:75-77``), except queryable.  At 100 TB this
    is how an extract row is traced back to the epoch/file that wrote
    it without any sidecar index."""
    import tempfile

    ev = load_table(spark, sf_dir, "events")
    out = tempfile.mkdtemp(prefix="lineage_") + "/by_type"
    ev.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # explicit schema: an empty demux writes no partition dirs, so
    # schema inference has nothing to read (round-12 empty-input sweep
    # finding); the partition column still resolves from directory
    # names on non-empty extracts
    back = spark.read.schema(ev.schema).parquet(out).select(
        F.col("_metadata.file_path").alias("fp"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    return (
        back.groupBy(
            F.regexp_extract("fp", r"event_type=([^/]+)/", 1).alias("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("cents").alias("value_cents"),
        )
    )


def q_streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: streaming dynamic-gap sessionization (append mode emits
    # only watermark-closed sessions); bit-equality of every emitted
    # session with the batch session_window aggregation is asserted in
    # tests/test_streaming.py.
    import tempfile

    from .streaming.pipeline import session_windows_stream

    work = tempfile.mkdtemp(prefix="stream_sess_")
    feed = _derived_feed(spark, sf_dir, "all3")
    with scoped_shuffle_partitions(spark, 4):
        return session_windows_stream(spark, feed, work + "/out")


QUERIES["streaming_session_windows"] = q_streaming_session_windows
# Append-mode sessionization emits exactly the sessions the final
# watermark (global max event time − 90 s) has closed; the oracle
# rebuilds the same sessions by gaps-and-islands over the derived feed
# (5-minute gap, end = last event + gap) and applies the same emission
# rule.  The withheld open session (the orders burst containing the
# global max) is exactly what append mode must NOT emit — if the
# stream leaked it, the row count would fail the hash.
ORACLES["streaming_session_windows"] = (
    CHANGES_CTE + ", "
    "o AS (SELECT table_name, commit_ts_ms AS ts, "
    "      CASE WHEN commit_ts_ms - lag(commit_ts_ms) OVER "
    "      (PARTITION BY table_name ORDER BY commit_ts_ms) > 300000 "
    "      THEN 1 ELSE 0 END AS brk FROM changes), "
    "g AS (SELECT table_name, ts, sum(brk) OVER "
    "      (PARTITION BY table_name ORDER BY ts "
    "      ROWS UNBOUNDED PRECEDING) AS grp FROM o), "
    "s AS (SELECT table_name, min(ts) AS session_start_ms, "
    "      max(ts) + 300000 AS session_end_ms, count(*) AS n_changes "
    "      FROM g GROUP BY table_name, grp), "
    "wm AS (SELECT max(commit_ts_ms) - 90000 AS w FROM changes) "
    "SELECT s.table_name, s.session_start_ms, s.session_end_ms, "
    "s.n_changes FROM s, wm WHERE s.session_end_ms <= wm.w"
)


@_q(
    "source_python_datasource_scan",
    CHANGES_CTE + "SELECT event_id, table_name, transaction_id, "
    "commit_ts_ms, action, key, val_cents FROM changes "
    "WHERE event_id > 100 AND event_id <= 5000 "
    "AND table_name IN ('customer', 'orders')",
)
def q_source_python_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source scan (sources/pyds.py): the reference's
    polling architecture as a first-class Spark source — the A2/A3
    predicates are CONSUMED by the reader's pushFilters (executed inside
    the Arrow range scan, pytest-verified), and the range fan-out is the
    reader's partitions().  The oracle recomputes the same slice from
    the CHANGES_CTE."""
    from .sources import pyds

    feed = _derived_feed(spark, sf_dir, "all1") + "/data"
    pyds.register(spark)
    return (
        spark.read.format("changelog_poll").option("path", feed)
        .option("numPartitions", "4").load()
        .where(
            (F.col("event_id") > 100) & (F.col("event_id") <= 5000)
            & F.col("table_name").isin("customer", "orders")
        )
    )


def q_streaming_python_sink_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only: custom polling source → custom chunk-file sink
    # (sources/pyds.py) with staged-file commit + per-epoch manifest;
    # exactly-once accounting (every row in exactly one published chunk,
    # replayed commit is a no-op) asserted in tests/test_sources.py.
    import json
    import os
    import tempfile

    from .sources import pyds
    from .streaming.pipeline import run_available_now

    work = tempfile.mkdtemp(prefix="pyds_sink_")
    out = work + "/chunks"
    os.makedirs(out, exist_ok=True)
    feed = _derived_feed(spark, sf_dir, "all1") + "/data"
    pyds.register(spark)
    pyds.register_sink(spark)
    run_available_now(
        spark.readStream.format("changelog_poll").option("path", feed)
        .option("numPartitions", "2").load()
        .writeStream.format("pipe_chunks").option("path", out),
        work + "/ckpt",
    )
    rows = []
    for m in sorted(f for f in os.listdir(out) if f.startswith("_epoch_")):
        man = json.load(open(os.path.join(out, m)))
        rows.append((man["epoch"], len(man["chunks"]),
                     sum(c["n_rows"] for c in man["chunks"])))
    return spark.createDataFrame(rows, "epoch long, n_chunks long, n_rows long")


QUERIES["streaming_python_sink_chunks"] = q_streaming_python_sink_chunks
# Exactly-once accounting, value-hash-checked: one pass, one epoch
# over the whole feed (the polling source exposes no read limit), one
# published chunk per scan partition (numPartitions=2), and the
# manifest row total must conserve every change row — a duplicated or
# dropped chunk breaks the count.
ORACLES["streaming_python_sink_chunks"] = (
    CHANGES_CTE
    + " SELECT CAST(0 AS BIGINT) AS epoch, CAST(2 AS BIGINT) AS n_chunks, "
    "count(*) AS n_rows FROM changes"
)


# The payload is the document text's utf-8 bytes (ASCII fixture), so
# the oracle recomputes the Shannon entropy from per-character counts.
# Integer milli-bits survive the cross-engine float log/sum noise: a
# flip needs bits·1000+0.5 within ~1e-12 of an integer.  Exact numpy
# ground-truth equality additionally asserted in tests/test_multimodal.py.
@_q(
    "multimodal_byte_entropy",
    "WITH ch AS (SELECT doc_id, unnest(string_split(text, '')) AS c "
    "     FROM documents), "
    "cnt AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY 1, 2), "
    "tot AS (SELECT doc_id, length(text) AS n_bytes FROM documents), "
    "ent AS (SELECT cnt.doc_id, "
    "        CAST(floor(-sum((cnt.n::DOUBLE / tot.n_bytes) * "
    "        log2(cnt.n::DOUBLE / tot.n_bytes)) * 1000 + 0.5) AS BIGINT) "
    "        AS entropy_millibits "
    "        FROM cnt JOIN tot USING (doc_id) GROUP BY cnt.doc_id) "
    "SELECT ent.doc_id AS doc_id, tot.n_bytes AS n_bytes, "
    "ent.entropy_millibits AS entropy_millibits "
    "FROM ent JOIN tot USING (doc_id)",
)
def q_multimodal_byte_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.byte_entropy_arrow(load_table(spark, sf_dir, "documents"))


@_q(
    "decimal_exact_suite",
    "SELECT event_type, "
    "CAST(sum(CAST(CAST(value AS DECIMAL(18, 2)) AS DECIMAL(38, 2))) "
    "  AS VARCHAR) AS sum_dec, "
    "CAST(min(CAST(value AS DECIMAL(18, 2))) AS VARCHAR) AS min_dec, "
    "CAST(max(CAST(value AS DECIMAL(18, 2))) AS VARCHAR) AS max_dec, "
    "CAST(count(*) AS BIGINT) AS n_rows "
    "FROM events GROUP BY event_type",
)
def q_decimal_exact_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decimal arithmetic: DECIMAL(18,2) per-row values summed in
    DECIMAL(38,2) — no float summation order anywhere, so the result is
    exact and engine-identical by construction (the money-safe type the
    integer-cents convention approximates).  Output rendered as strings
    because decimal scale/precision metadata differs across Arrow
    bridges even when values agree."""
    ev = load_table(spark, sf_dir, "events")
    dec = F.col("value").cast("decimal(18,2)")
    return ev.groupBy("event_type").agg(
        F.sum(dec.cast("decimal(38,2)")).cast("string").alias("sum_dec"),
        F.min(dec).cast("string").alias("min_dec"),
        F.max(dec).cast("string").alias("max_dec"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@_q(
    "unpivot_lineitem_measures",
    "SELECT measure, CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(sum(CAST(round(val * 100) AS BIGINT)) AS BIGINT) AS sum_cents, "
    "CAST(min(CAST(round(val * 100) AS BIGINT)) AS BIGINT) AS min_cents, "
    "CAST(max(CAST(round(val * 100) AS BIGINT)) AS BIGINT) AS max_cents "
    "FROM (SELECT l_orderkey, measure, val FROM lineitem "
    "UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, "
    "l_discount, l_tax))) GROUP BY measure",
)
def q_unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native relational UNPIVOT (DataFrame.unpivot ≙ SQL UNPIVOT ≙
    melt): four measure columns rotated into (measure, val) rows, then
    profiled per measure.  The wide→long rotation is a narrow map — no
    shuffle until the aggregate — and is the inverse of
    pivot_event_counts.  Both engines run their own UNPIVOT."""
    li = load_table(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_orderkey"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    cents = F.round(F.col("val") * 100).cast("long")
    return long.groupBy("measure").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents).alias("sum_cents"),
        F.min(cents).alias("min_cents"),
        F.max(cents).alias("max_cents"),
    )


_INC_SPLIT = 400
_q_inc_oracle = (
    f"SELECT * FROM ({ORACLES['dedup_minhash_lsh']}) sub "
    f"WHERE doc_a >= {_INC_SPLIT} OR doc_b >= {_INC_SPLIT}"
)


@_q("dedup_minhash_incremental", _q_inc_oracle)
def q_dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH index maintenance
    (functions/dedup.py:minhash_lsh_incremental): only pairs touching a
    new doc (doc_id >= split) are discovered and verified; the oracle
    filters the full recompute to the same pair set.
    union(old index, this) ≡ full recompute is pinned in pytest."""
    return dedup.minhash_lsh_incremental(
        load_table(spark, sf_dir, "documents"), _INC_SPLIT, 3, 0.8
    )


@_q(
    "cdc_snapshot_revenue_report",
    CHANGES_CTE.rstrip() + ", "  # extend the WITH with further CTEs
    "latest AS (" + _LATEST_SQL + "), "
    "live AS (SELECT key AS c_custkey, last_val_cents FROM latest "
    "  WHERE table_name = 'customer' AND last_action <> 'D'), "
    "rev AS (SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) "
    "  AS BIGINT)) AS BIGINT) AS order_cents, count(*) AS n_orders "
    "  FROM orders GROUP BY o_custkey) "
    "SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_live_customers, "
    "CAST(sum(last_val_cents) AS BIGINT) AS balance_cents, "
    "CAST(sum(coalesce(order_cents, 0)) AS BIGINT) AS order_cents, "
    "CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS n_orders "
    "FROM live JOIN customer USING (c_custkey) "
    "LEFT JOIN rev ON o_custkey = c_custkey "
    "GROUP BY c_mktsegment",
)
def q_cdc_snapshot_revenue_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end composite — the pipeline the extract EXISTS to serve:
    CDC apply (B2 max_by snapshot + B3 delete drop) reconstructs the
    live customer set, which then drives a per-segment balance/revenue
    report (C5 join side).  One query exercising ingest semantics and
    the analytics surface together; the oracle rebuilds the same state
    from the CHANGES_CTE.  Scale: snapshot is one shuffle on the key;
    the report joins the (small) live-key set against pre-aggregated
    per-customer revenue — aggregate-before-join keeps the join input
    O(customers), not O(orders)."""
    live = (
        cdc.apply_deletes(changes_df(spark, sf_dir))
        .where(F.col("table_name") == "customer")
        .select(F.col("key").alias("c_custkey"),
                F.col("last_val_cents"))
    )
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("order_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        live.join(customer.select("c_custkey", "c_mktsegment"), "c_custkey")
        .join(rev, live.c_custkey == rev.o_custkey, "left")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_live_customers"),
            F.sum("last_val_cents").alias("balance_cents"),
            F.sum(F.coalesce(F.col("order_cents"), F.lit(0))).alias("order_cents"),
            F.sum(F.coalesce(F.col("n_orders"), F.lit(0))).alias("n_orders"),
        )
    )


@_q(
    "percentile_cont_quartiles",
    "SELECT event_type, "
    "quantile_cont(CAST(round(value * 100) AS BIGINT), 0.25) AS q25_cents, "
    "quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) AS q50_cents, "
    "quantile_cont(CAST(round(value * 100) AS BIGINT), 0.75) AS q75_cents, "
    "CAST(count(*) AS BIGINT) AS n_rows "
    "FROM events GROUP BY event_type",
)
def q_percentile_cont_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated order statistics (percentile / quantile_cont)
    at DYADIC fractions only: 0.25/0.5/0.75 make every interpolation
    step (f·(b−a) over integer cents) exactly representable in double,
    so the engines agree bit-for-bit with no rounding hedge — the same
    determinism discipline as the integer-cents money rule.  Arbitrary
    fractions (0.9) are deliberately excluded: their last-ulp
    association differences DO diverge across engines.  The three
    quartiles come back from ONE `percentile(…, array(…))` aggregate
    pass and are unpacked to scalar doubles at the output boundary (the
    driver's value hasher cannot hash array cells)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    q = F.expr("percentile(cents, array(0.25D, 0.5D, 0.75D))")
    return (
        ev.select("event_type", cents.alias("cents"))
        .groupBy("event_type")
        .agg(q.alias("qs"), F.count(F.lit(1)).alias("n_rows"))
        .select(
            "event_type",
            F.col("qs").getItem(0).alias("q25_cents"),
            F.col("qs").getItem(1).alias("q50_cents"),
            F.col("qs").getItem(2).alias("q75_cents"),
            "n_rows",
        )
    )


@_q(
    "source_xml_roundtrip",
    "SELECT event_id, user_id, event_type, "
    "CAST(round(value * 100) AS BIGINT) AS value_cents "
    f"FROM events WHERE event_id <= {OFFSET_HI}",
)
def q_source_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native XML source/sink round-trip (Spark 4 built-in, rowTag
    framing + declared schema on re-read — no inference): the
    interchange format a CDC extract meets at enterprise boundaries.
    Values rendered to integer cents BEFORE the write so text framing
    never touches float formatting; the oracle reads the original
    table.  Scale: the XML reader splits by rowTag within files like
    any text source — parallelism follows file layout, same as the
    pipe extract."""
    import tempfile

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_id") <= OFFSET_HI)
        .select(
            "event_id", "user_id", "event_type",
            F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        )
    )
    out = tempfile.mkdtemp(prefix="xml_src_") + "/events"
    ev.write.format("xml").option("rootTag", "events").option(
        "rowTag", "event"
    ).save(out)
    return (
        spark.read.format("xml")
        .schema("event_id long, user_id long, event_type string, "
                "value_cents long")
        .option("rowTag", "event")
        .load(out)
    )


@_q(
    "source_binaryfile_ingest",
    "SELECT doc_id, octet_length(encode(text)) AS n_bytes, "
    "sha256(text) AS payload_sha FROM documents WHERE doc_id < 200",
)
def q_source_binaryfile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw-media ingestion via the ``binaryFile`` source — how image/
    audio corpora actually enter Spark at 100 TB: one row per file with
    (path, length, content), split planning by file.  Identity is
    parsed from the path; bytes are fingerprinted JVM-side (sha2) —
    no Python touches the payload.  The oracle recomputes size+digest
    from the text the fixture payloads encode.  (The 200-file fixture
    is scaffolding — in production the files already exist; ingest is
    read-side.  It is built ONCE per fixture identity by
    cache.cached_dir and reused, so timed runs measure the scan, not
    setup.)"""
    from . import cache

    def build(staging: str) -> None:
        media = os.path.join(staging, "media")
        os.makedirs(media)
        docs = (
            load_table(spark, sf_dir, "documents")
            .where(F.col("doc_id") < 200)
            .select("doc_id", "text")
        )
        for r in docs.collect():
            with open(os.path.join(media, f"doc_{r['doc_id']}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))

    d = cache.cached_dir(
        "cdcx_blobs", sf_dir, ("documents",), "doc_id<200", build
    ) + "/media"
    # pathGlobFilter instead of a glob-in-path: a glob that matches
    # ZERO files raises PATH_NOT_FOUND, so an empty corpus (zero staged
    # blobs) crashed the ingest; the option form returns an empty frame
    # over binaryFile's fixed schema — the reference-bug class
    # (SURVEY.md §5.2 empty batch) applied to media ingestion
    # (round-12 empty sweep, tools/empty_sweep.py)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(d)
    )
    return back.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
        .cast("long").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("payload_sha"),
    )


@_q(
    "sketch_cms_heavy_hitters",
    # Property-oracle: the ε-parameterized CMS estimate can't be hash-
    # matched across engines, but the top-k KEYS + exact counts are
    # deterministic, and CMS's never-underestimate guarantee
    # (est ≥ exact, always, by construction) is hash-checked as a
    # boolean.  Full envelope asserted in tests/test_robustness.py.
    "SELECT user_id, count(*) AS exact_count, true AS cms_ge_exact "
    "FROM events WHERE user_id IS NOT NULL GROUP BY user_id "
    "ORDER BY exact_count DESC, user_id LIMIT 10",
)
def q_sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    res = sketches.cms_heavy_hitters(load_table(spark, sf_dir, "events"))
    return res.select(
        "user_id",
        "exact_count",
        (F.col("est_count") >= F.col("exact_count")).alias("cms_ge_exact"),
    )


# --------------------------------------------------------------------------
# Training-corpus hygiene (functions/text.py round-2 additions)
# --------------------------------------------------------------------------

@_q(
    "repetition_stats",
    _TOKS_CTE + ", "
    "per AS (SELECT doc_id, tok, count(*) AS c FROM toksf GROUP BY 1, 2), "
    "agg AS (SELECT doc_id, sum(c) AS n_tokens, max(c) AS top_c, "
    "count(*) AS n_distinct FROM per GROUP BY 1) "
    "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, "
    "CAST(floor(top_c * 10000 / n_tokens) AS BIGINT) AS top_tok_bp, "
    "CAST(floor(n_distinct * 10000 / n_tokens) AS BIGINT) AS distinct_bp, "
    "(floor(top_c * 10000 / n_tokens) >= 2000 "
    " OR floor(n_distinct * 10000 / n_tokens) <= 3000) AS repetitive "
    "FROM agg",
)
def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.repetition_stats(load_table(spark, sf_dir, "documents"))


@_q(
    "gopher_quality_flags",
    _TOKS_CTE + ", "
    "per AS (SELECT doc_id, count(*) AS n_tokens, sum(len(tok)) AS tok_chars, "
    "sum(CASE WHEN tok IN ('the', 'a', 'of', 'and', 'to') THEN 1 ELSE 0 END) "
    "AS stop_hits FROM toksf GROUP BY 1), "
    "base AS (SELECT doc_id, len(text) AS n_chars, "
    "len(regexp_extract_all(text, '[^a-z ]')) AS n_symbols FROM documents) "
    "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, "
    "CAST(floor(tok_chars * 100 / n_tokens) AS BIGINT) AS mean_tok_len_x100, "
    "CAST(floor(n_symbols * 10000 / n_chars) AS BIGINT) AS symbol_bp, "
    "CAST(stop_hits AS BIGINT) AS stop_hits, "
    "(n_tokens BETWEEN 10 AND 100000) AS ok_token_count, "
    "(floor(tok_chars * 100 / n_tokens) BETWEEN 300 AND 1000) "
    "AS ok_mean_tok_len, "
    "(floor(n_symbols * 10000 / n_chars) < 1000) AS ok_symbol_ratio, "
    "(stop_hits >= 2) AS ok_stopwords, "
    "((n_tokens BETWEEN 10 AND 100000) "
    " AND (floor(tok_chars * 100 / n_tokens) BETWEEN 300 AND 1000) "
    " AND (floor(n_symbols * 10000 / n_chars) < 1000) "
    " AND (stop_hits >= 2)) AS pass_all "
    "FROM base JOIN per USING (doc_id)",
)
def q_gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.gopher_quality_flags(load_table(spark, sf_dir, "documents"))


@_q(
    "pii_redaction",
    "WITH aug AS (SELECT doc_id, text || ' contact user' || "
    "CAST(doc_id AS VARCHAR) || '@mail.example or 555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t FROM documents), "
    "red AS (SELECT doc_id, t, regexp_replace(regexp_replace(t, "
    "'[a-z0-9]+@[a-z][a-z.]+[a-z]', '<EMAIL>', 'g'), "
    "'555-[0-9]{4}', '<PHONE>', 'g') AS r FROM aug) "
    "SELECT doc_id, "
    "CAST(len(regexp_extract_all(t, '[a-z0-9]+@[a-z][a-z.]+[a-z]')) AS BIGINT) "
    "AS n_emails, "
    "CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT) AS n_phones, "
    "CAST(len(r) AS BIGINT) AS red_len, sha256(r) AS red_hash FROM red",
)
def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.pii_redaction(load_table(spark, sf_dir, "documents"))


@_q(
    "decontamination_overlap",
    "WITH sp AS (SELECT doc_id, "
    "((doc_id * 1103515245 + 12345) % 2147483647) % 1000 AS b, "
    "list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents), "
    "sh AS (SELECT doc_id, b, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s "
    "FROM sp, unnest(range(1, len(t) - 1)) AS u(i)), "
    "te AS (SELECT DISTINCT doc_id, s FROM sh WHERE b >= 900), "
    "tr AS (SELECT DISTINCT s FROM sh WHERE b < 800) "
    "SELECT te.doc_id AS doc_id, count(*) AS n_shingles, "
    "CAST(count(tr.s) AS BIGINT) AS n_overlap, "
    "CAST(floor(count(tr.s) * 10000 / count(*)) AS BIGINT) AS contam_bp "
    "FROM te LEFT JOIN tr ON te.s = tr.s GROUP BY 1",
)
def q_decontamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.decontamination_overlap(load_table(spark, sf_dir, "documents"))


# comma-LATERAL is the dialect intersection: DuckDB's JOIN LATERAL
# needs an ON clause, Spark's takes none — `, LATERAL (...)` parses
# identically (as an inner lateral join) on both engines
_LATERAL_SQL = """
SELECT c.c_custkey, t.o_orderkey, t.o_total_cents
FROM customer c, LATERAL (
  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS o_total_cents
  FROM orders o WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) t
"""


@_q("lateral_join_top_orders", _LATERAL_SQL)
def q_lateral_join_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join (each customer's two largest
    orders) — the SQL-surface twin of the window top-k
    (``topk_per_group``): Catalyst decorrelates the per-row subquery
    into a window-group-limit over one join, NOT an
    execute-subquery-per-outer-row nested loop; the same SQL text runs
    verbatim on DuckDB as the oracle.  Scale note: the decorrelated
    plan keeps the subquery's ORDER BY as a global range sort feeding
    the window — correct, but at 100 TB the DataFrame top-k form
    (window partitioned on the group key only) is the preferred path;
    this query exists to prove the SQL surface."""
    from .io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@_q(
    "feature_hashing_embed",
    _TOKS_CTE + ", "
    "h AS (SELECT doc_id, "
    "CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 2147483647 AS t "
    "FROM toksf) "
    "SELECT doc_id, t % 64 AS dim, "
    "CAST(sum(CASE WHEN (t % 128) < 64 THEN 1 ELSE -1 END) AS BIGINT) "
    "AS weight FROM h GROUP BY 1, 2",
)
def q_feature_hashing_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.feature_hashing_embed(load_table(spark, sf_dir, "documents"))


@_q(
    "embedding_quantize_int8",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, "
    "list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) AS amax "
    "FROM embeddings), "
    "d AS (SELECT vec_id, amax, generate_subscripts(emb, 1) - 1 AS pos, "
    "unnest(emb) AS v FROM e) "
    "SELECT vec_id, CAST(pos AS BIGINT) AS pos, "
    "CAST(CASE WHEN amax = 0 THEN 0 ELSE floor(v * 127 / amax) END AS BIGINT) "
    "AS q, "
    "CAST(floor(amax * 1000000) AS BIGINT) AS scale_micros FROM d",
)
def q_embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.quantize_int8(load_table(spark, sf_dir, "embeddings"))


@_q(
    "training_corpus_manifest",
    "WITH toks0 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok "
    "FROM documents), "
    "tks AS (SELECT doc_id, tok FROM toks0 WHERE tok <> ''), "
    "per AS (SELECT doc_id, count(*) AS n_tokens, "
    "sum(CASE WHEN tok IN ('the', 'a', 'of', 'and', 'to') THEN 1 ELSE 0 END) "
    "AS n_stop FROM tks GROUP BY 1), "
    "qq AS (SELECT d.doc_id, d.lang, d.text, p.n_tokens FROM documents d "
    "JOIN per p USING (doc_id) WHERE p.n_tokens >= 20 AND "
    "least(p.n_tokens, 100) * 50 + CAST(floor((10000 - "
    "floor(p.n_stop * 10000 / p.n_tokens)) / 2) AS BIGINT) >= 7000), "
    "kept AS (SELECT doc_id, lang, text, n_tokens FROM ("
    "SELECT *, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) "
    "AS rn FROM qq) k WHERE rn = 1), "
    "ws AS (SELECT doc_id, text, lang, n_tokens, CASE "
    "WHEN ((doc_id * 1103515245 + 12345) % 2147483647) % 1000 < 800 "
    "THEN 'train' "
    "WHEN ((doc_id * 1103515245 + 12345) % 2147483647) % 1000 < 900 "
    "THEN 'val' ELSE 'test' END AS split FROM kept), "
    "sp AS (SELECT doc_id, split, "
    "list_filter(string_split(text, ' '), x -> x <> '') AS t FROM ws), "
    "sh AS (SELECT doc_id, split, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s "
    "FROM sp, unnest(range(1, len(t) - 1)) AS u(i)), "
    "te AS (SELECT DISTINCT doc_id, s FROM sh WHERE split = 'test'), "
    "tr AS (SELECT DISTINCT s FROM sh WHERE split = 'train'), "
    "contam AS (SELECT te.doc_id FROM te LEFT JOIN tr ON te.s = tr.s "
    "GROUP BY te.doc_id "
    "HAVING floor(count(tr.s) * 10000 / count(*)) >= 5000) "
    "SELECT split, lang, count(*) AS n_docs, "
    "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
    "min(doc_id) AS first_doc, max(doc_id) AS last_doc "
    "FROM ws WHERE doc_id NOT IN (SELECT doc_id FROM contam) "
    "GROUP BY 1, 2",
)
def q_training_corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.training_corpus_manifest(load_table(spark, sf_dir, "documents"))


@_q(
    "content_defined_chunks",
    _TOKS_CTE + ", "
    "fl AS (SELECT doc_id, pos, CASE WHEN "
    "(CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 2147483647) % 8 = 0 "
    "THEN 1 ELSE 0 END AS bnd FROM toksf), "
    "ch AS (SELECT doc_id, pos, sum(bnd) OVER (PARTITION BY doc_id "
    "ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
    "AS chunk_id FROM fl) "
    "SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id, "
    "CAST(count(*) AS BIGINT) AS chunk_tokens, "
    "CAST(min(pos) AS BIGINT) AS first_pos FROM ch GROUP BY 1, 2",
)
def q_content_defined_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.content_defined_chunks(load_table(spark, sf_dir, "documents"))


_ROLL_W = "PARTITION BY user_id ORDER BY ts, event_id"


@_q(
    "rolling_user_features",
    "SELECT event_id, user_id, "
    "CAST(round(value * 100) AS BIGINT) AS value_cents, "
    f"lag(CAST(round(value * 100) AS BIGINT)) OVER ({_ROLL_W}) "
    "  AS prev_value_cents, "
    f"epoch_ms(ts) - lag(epoch_ms(ts)) OVER ({_ROLL_W}) AS ms_since_prev, "
    "CAST(floor(CAST(sum(CAST(round(value * 100) AS BIGINT)) "
    f"  OVER ({_ROLL_W} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)"
    f" / count(*) OVER ({_ROLL_W} ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))"
    "  AS BIGINT) AS roll5_avg_cents, "
    f"CAST(row_number() OVER ({_ROLL_W}) - 1 AS BIGINT) AS n_prior "
    "FROM events",
)
def q_rolling_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.rolling_user_features(load_table(spark, sf_dir, "events"))


@_q(
    "corpus_shuffle_order",
    "SELECT CAST(row_number() OVER "
    "(ORDER BY md5(CAST(doc_id AS VARCHAR) || ':s42'), doc_id) AS BIGINT) "
    "AS shuffle_rank, doc_id FROM documents",
)
def q_corpus_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.deterministic_shuffle_rank(
        load_table(spark, sf_dir, "documents")
    )


@_q(
    "semantic_dedup_clusters",
    "WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb, "
    "  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) "
    "  AS norm FROM embeddings), "
    "cd AS (SELECT label, j, avg(emb[j+1]) AS c "
    "  FROM e, range(64) t(j) GROUP BY label, j), "
    "cent AS (SELECT label, list(c ORDER BY j) AS centroid, "
    "  sqrt(list_dot_product(list(c ORDER BY j), list(c ORDER BY j))) "
    "  AS cnorm FROM cd GROUP BY label), "
    # c_cos rounded BEFORE the routing row_number, mirroring the Spark
    # side (near-equidistant centroids must not flip cross-engine)
    "r AS (SELECT e.vec_id, e.emb, e.norm, cent.label, "
    "  round(list_dot_product(e.emb, cent.centroid) / (e.norm * cent.cnorm)"
    "  , 6) AS c_cos FROM e, cent), "
    "a AS (SELECT vec_id, emb, norm, label AS cluster FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY vec_id "
    "  ORDER BY c_cos DESC, label ASC) AS rr FROM r) t WHERE rr = 1), "
    "reps AS (SELECT cluster, min(vec_id) AS rep_id FROM a GROUP BY cluster), "
    "rv AS (SELECT reps.cluster AS r_cluster, reps.rep_id, "
    "  a.emb AS r_emb, a.norm AS r_norm "
    "  FROM reps JOIN a ON a.vec_id = reps.rep_id) "
    "SELECT a.vec_id, a.cluster, rv.rep_id, "
    "round(list_dot_product(a.emb, rv.r_emb) / (a.norm * rv.r_norm), 6) "
    "  AS cos_to_rep, "
    "(a.vec_id <> rv.rep_id AND "
    " round(list_dot_product(a.emb, rv.r_emb) / (a.norm * rv.r_norm), 6) "
    " >= 0.95) AS is_dup "
    "FROM a JOIN rv ON a.cluster = rv.r_cluster",
)
def q_semantic_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.semantic_dedup(load_table(spark, sf_dir, "embeddings"))


def _cached_pq_index(spark, sf_dir, iters, init, n_queries=5):
    """Trained-PQ-index cache: (codes, codebooks) as parquet, built once
    per (embeddings fixture identity, train params) and served from disk
    after — so repeated runs (bench!) measure the ADC serving path, not
    Lloyd retraining, exactly the production shape where the index is a
    persisted table maintained incrementally.  Built by cache.cached_dir
    like every fixture-derived artifact; the ``pqv2`` tag versions the
    rounded-d2 assignment so pre-round-3 caches can never serve stale
    codes."""
    from . import cache

    def build(staging: str) -> None:
        corpus = load_table(spark, sf_dir, "embeddings").filter(
            F.col("vec_id") >= n_queries
        )
        # Lloyd-loop exchanges sized to the subvector volume (8 rows
        # per vector, ~100 B each) — round-10 A/B: 1.16x at 32k
        # vectors (lp=1), 1.28x at 200k (lp=25), assignments
        # bit-identical (SCALE.md r10).
        codes, cb = similarity.pq_train(
            corpus, iters=iters, init=init,
            loop_partitions=data_proportional_partitions(
                corpus.count() * 8,
                bytes_per_row=100,
                parallelism=spark.sparkContext.defaultParallelism,
            ),
        )
        codes.write.parquet(staging + "/codes")
        cb.write.parquet(staging + "/codebooks")

    d = cache.cached_dir(
        "cdcx_pqidx", sf_dir, ("embeddings",),
        f"pqv2|m8c16|i{iters}|{init}|q{n_queries}", build,
    )
    return (
        spark.read.parquet(d + "/codes"),
        spark.read.parquet(d + "/codebooks"),
    )


# Full SQL mirror of the PQ-ADC pipeline (portable md5 seed, ``iters``
# Lloyd rounds, ADC table lookup, rounded approximate distance, exact
# re-rank): e = normed vectors, sub/init = subspace split + seed cells,
# cb0 = seed codebooks, then per Lloyd round i: a{i} = nearest-codeword
# assignment vs cb{i-1}, cb{i} = re-centered codebooks; tab = per-query
# ADC distance table vs the final codebooks, approx = table-lookup
# distances over the final codes, short = shortlist, then the
# exact-cosine re-rank tier.  L2 uses the dot-product identity
# (|a-c|² = a·a − 2a·c + c·c); the last-ulp accumulation difference vs
# Spark's fold is absorbed by round(·, 6) before EVERY ranking — the
# Lloyd assignment argmin included (near-equidistant codewords must not
# assign differently cross-engine), matching pq_train's rounded d2.
def _pq_oracle_sql(iters: int) -> str:
    cw_means = (
        "{out}d AS (SELECT s, cell, j, avg(sv[j+1]) AS c "
        "  FROM {src}, range(8) r(j) GROUP BY s, cell, j), "
        "{out} AS (SELECT s, cell, list(c ORDER BY j) AS cw FROM {out}d "
        "  GROUP BY s, cell), "
    )
    parts = [
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, "
        "  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) "
        "  AS norm FROM embeddings), "
        "sub AS (SELECT vec_id, s, emb[(s*8+1):(s*8+8)] AS sv "
        "  FROM e, range(8) t(s) WHERE vec_id >= 5), "
        "init AS (SELECT vec_id, s, sv, "
        "  CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR) || ':' || "
        "  CAST(s AS VARCHAR)), 1, 12)) AS BIGINT) % 16 AS cell FROM sub), ",
        cw_means.format(out="cb0", src="init"),
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"a{i} AS (SELECT vec_id, s, sv, cell FROM ("
            "  SELECT i.vec_id, i.s, i.sv, c.cell, row_number() OVER ("
            "    PARTITION BY i.vec_id, i.s ORDER BY round("
            "    list_dot_product(i.sv, i.sv) - 2 * list_dot_product(i.sv, c.cw) "
            "     + list_dot_product(c.cw, c.cw), 6) ASC, c.cell ASC) AS rr "
            f"  FROM init i JOIN cb{i - 1} c ON i.s = c.s) t WHERE rr = 1), "
        )
        parts.append(cw_means.format(out=f"cb{i}", src=f"a{i}"))
    parts.append(
        "qsub AS (SELECT vec_id AS query_id, s, emb[(s*8+1):(s*8+8)] AS sv "
        "  FROM e, range(8) t(s) WHERE vec_id < 5), "
        "tab AS (SELECT q.query_id, c.s, c.cell, "
        "  (list_dot_product(q.sv, q.sv) - 2 * list_dot_product(q.sv, c.cw) "
        "   + list_dot_product(c.cw, c.cw)) AS pd2 "
        f"  FROM qsub q JOIN cb{iters} c ON q.s = c.s), "
        "approx AS (SELECT t.query_id, a.vec_id, round(sum(t.pd2), 6) AS ad2 "
        f"  FROM a{iters} a JOIN tab t ON a.s = t.s AND a.cell = t.cell "
        "  GROUP BY 1, 2), "
        "short AS (SELECT query_id, vec_id FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id "
        "  ORDER BY ad2 ASC, vec_id ASC) AS sr FROM approx) t WHERE sr <= 50), "
        "s2 AS (SELECT sh.query_id, cv.vec_id AS neighbor_id, "
        "  round(list_dot_product(q.emb, cv.emb) / (q.norm * cv.norm), 6) "
        "  AS cosine FROM short sh "
        "  JOIN e q ON q.vec_id = sh.query_id "
        "  JOIN e cv ON cv.vec_id = sh.vec_id) "
        "SELECT query_id, neighbor_id, rank, cosine FROM ("
        "  SELECT *, row_number() OVER (PARTITION BY query_id "
        "  ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s2) t "
        "WHERE rank <= 10"
    )
    return "".join(parts)


_PQ_ADC_ORACLE = _pq_oracle_sql(iters=1)


@_q("ann_pq_adc_oracle", _PQ_ADC_ORACLE)
def q_ann_pq_adc_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC serving path, fully oracle-backed: portable md5 seed
    cells, ONE Lloyd assignment round, ADC table lookups, rounded
    approximate distances, exact-cosine re-rank — every tier mirrored
    in DuckDB SQL so the driver hash-checks the whole pipeline.
    Serves from the fixture-cached trained index like ann_pq_topk."""
    return similarity.pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        iters=1, init="md5", round_ad2=6,
        index=_cached_pq_index(spark, sf_dir, iters=1, init="md5"),
    )


@_q("ann_pq_topk", _pq_oracle_sql(iters=2))
def q_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship PQ ANN (2 Lloyd rounds), fully oracle-backed since r3:
    the generated DuckDB mirror chains a second assignment+re-center
    round, so codes, ADC shortlist, and the exact re-rank are ALL
    hash-checked (previously rows-only with an xxhash seed; the
    portable md5 seed keeps every tier reproducible cross-engine —
    xxhash init remains available on ``pq_train`` for JVM-only runs).
    rerank=corpus ≡ brute-force exactness stays pinned in pytest.
    Serves from the fixture-cached trained index (codes+codebooks
    parquet) so the bench measures ADC serving, not Lloyd training."""
    return similarity.pq_topk(
        load_table(spark, sf_dir, "embeddings"),
        iters=2, init="md5", round_ad2=6,
        index=_cached_pq_index(spark, sf_dir, iters=2, init="md5"),
    )


@_q(
    "collation_case_insensitive",
    # Oracle normalizes with lower(); the Spark side uses the COLLATE
    # UTF8_LCASE comparison semantics directly — same answer, but the
    # engine-native path keeps original bytes (no rewrite of the data).
    "WITH m AS (SELECT user_id, CASE WHEN event_id % 2 = 0 "
    "THEN upper(substr(event_type, 1, 1)) || substr(event_type, 2) "
    "ELSE event_type END AS label FROM events) "
    "SELECT CAST(count(DISTINCT label) AS BIGINT) AS n_case_sensitive, "
    "CAST(count(DISTINCT lower(label)) AS BIGINT) AS n_case_insensitive, "
    "CAST(count(*) AS BIGINT) AS n_rows FROM m",
)
def q_collation_case_insensitive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 collation semantics: the same distinct-count over a
    mixed-case label column under binary (case-sensitive) vs
    UTF8_LCASE (case-insensitive) collation — comparison semantics
    move into the TYPE, so joins/groups/distincts stop needing
    lower() rewrites of the data (and keep prefix pushdown on the
    original bytes)."""
    ev = load_table(spark, sf_dir, "events")
    # first-char-upper, rest PRESERVED — the exact expression the oracle
    # uses (initcap would capitalize every word and lowercase the rest:
    # equivalent only while event_types are single lowercase words)
    first_upper = F.concat(
        F.upper(F.substring(F.col("event_type"), 1, 1)),
        F.expr("substring(event_type, 2)"),
    )
    mixed = F.when(
        F.col("event_id") % 2 == 0, first_upper
    ).otherwise(F.col("event_type"))
    return ev.select(mixed.alias("label")).select(
        F.countDistinct("label").alias("n_case_sensitive"),
        F.countDistinct(F.expr("label COLLATE UTF8_LCASE")).alias(
            "n_case_insensitive"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_MODERN_SQL = """
WITH base AS (
  SELECT event_type,
         CAST(round(value * 100) AS BIGINT) AS cents,
         cents - 5000 AS adj_cents,
         abs(adj_cents) AS abs_adj
  FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(cents) AS BIGINT) AS cents_sum,
       CAST(sum(abs_adj) AS BIGINT) AS abs_adj_sum
FROM base
GROUP BY ALL
"""


@_q(
    "sql_modern_suite",
    # DuckDB shares both surfaces: GROUP BY ALL and select-list alias
    # reuse (lateral column aliases) run verbatim.
    _MODERN_SQL,
)
def q_sql_modern_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern SQL ergonomics through the textual surface: chained
    lateral column aliases (``adj_cents`` references ``cents``,
    ``abs_adj`` references ``adj_cents`` — same SELECT, no subquery
    wrap) and GROUP BY ALL (grouping keys inferred from the
    non-aggregate select list).  Plans identically to the explicit
    form; a parser/analyzer capability the engine must ship for SQL
    users.  (Spark does not yet allow a lateral alias OF AN AGGREGATE
    under GROUP BY ALL — row-level aliases compose fine.)"""
    from .io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_MODERN_SQL)


@_q(
    "sql_scalar_udf_suite",
    # The oracle inlines the two function bodies — which is exactly
    # what Catalyst does with a SQL UDF, so plan and oracle agree by
    # construction.
    "WITH l AS (SELECT l_returnflag, "
    "  CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS c "
    "  FROM lineitem) "
    "SELECT l_returnflag, "
    "CASE WHEN c < 100000 THEN 'low' WHEN c < 400000 THEN 'mid' "
    "     ELSE 'high' END AS band, "
    "CAST(count(*) AS BIGINT) AS n_items, "
    "CAST(sum(c) AS BIGINT) AS cents_sum "
    "FROM l GROUP BY 1, 2",
)
def q_sql_scalar_udf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL scalar UDFs (CREATE FUNCTION ... RETURN expr,
    Spark 4): reusable business logic that Catalyst INLINES into the
    calling plan — full codegen, pushdown and constant folding apply,
    unlike an opaque Python UDF.  This is the right default for shared
    expression logic at 100 TB (a Python UDF here would add an Arrow
    hop per batch for a two-line formula).  The suite defines a money
    normalizer and a banding classifier, composes them
    (band(disc_cents(...))) and aggregates; plan inlining is asserted
    in tests/test_plans.py."""
    from .io import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cdcx_disc_cents("
        "ep DOUBLE, d DOUBLE) RETURNS BIGINT "
        "RETURN CAST(round(ep * (1 - d) * 100) AS BIGINT)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cdcx_band(c BIGINT) "
        "RETURNS STRING RETURN CASE WHEN c < 100000 THEN 'low' "
        "WHEN c < 400000 THEN 'mid' ELSE 'high' END"
    )
    return spark.sql(
        "SELECT l_returnflag, "
        "cdcx_band(cdcx_disc_cents(l_extendedprice, l_discount)) AS band, "
        "count(*) AS n_items, "
        "sum(cdcx_disc_cents(l_extendedprice, l_discount)) AS cents_sum "
        "FROM lineitem GROUP BY 1, 2"
    )


@_q(
    "sql_pipe_syntax_suite",
    "WITH f AS (SELECT l_returnflag, "
    "  CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents "
    "  FROM lineitem WHERE l_quantity < 30) "
    "SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_items, "
    "CAST(sum(cents) AS BIGINT) AS revenue_cents "
    "FROM f GROUP BY l_returnflag HAVING count(*) > 100",
)
def q_sql_pipe_syntax_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL pipe syntax (Spark 4's ``|>`` operators): the linear
    scan → filter → derive → aggregate → post-filter chain written in
    dataflow order instead of inside-out SQL.  Purely a parser surface
    — Catalyst plans it identically to the nested form (the oracle IS
    that nested form), so pushdown/codegen are unchanged; it matters
    because pipeline authors write long transformation chains and the
    engine should accept them as written."""
    from .io import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        "FROM lineitem "
        "|> WHERE l_quantity < 30 "
        "|> EXTEND CAST(round(l_extendedprice * (1 - l_discount) * 100) "
        "     AS BIGINT) AS cents "
        "|> AGGREGATE count(*) AS n_items, sum(cents) AS revenue_cents "
        "     GROUP BY l_returnflag "
        "|> WHERE n_items > 100"
    )


@_q(
    "sql_session_variables",
    "SELECT CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(min(event_id) AS BIGINT) AS first_id, "
    "CAST(max(event_id) AS BIGINT) AS last_id "
    "FROM events WHERE event_id > (SELECT max(event_id) - 1000 FROM events)",
)
def q_sql_session_variables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL session variables (DECLARE VARIABLE / SET VAR, Spark 4):
    the high-water-mark two-step the reference coordinator runs as two
    JDBC round-trips (CoordinatorRunnable.java:84-94: read max offset,
    then extract rows above the last mark) expressed as a typed server
    variable — no string interpolation (the reference's injection bug,
    SURVEY.md §2.7) and no driver-side value plumbing.  The variable is
    folded as a literal into the second plan, so the range predicate
    still pushes to the scan."""
    from .io import register_views

    register_views(spark, sf_dir)
    spark.sql("DECLARE OR REPLACE VARIABLE cdcx_hwm BIGINT DEFAULT 0")
    spark.sql(
        "SET VAR cdcx_hwm = (SELECT max(event_id) - 1000 FROM events)"
    )
    return spark.sql(
        "SELECT count(*) AS n_rows, min(event_id) AS first_id, "
        "max(event_id) AS last_id FROM events WHERE event_id > cdcx_hwm"
    )


@_q(
    "sql_table_udf_suite",
    "SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, "
    "CAST(quarter(o_orderdate) AS BIGINT) AS qtr, "
    "CAST(count(*) AS BIGINT) AS n_orders, "
    "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
    "  AS revenue_cents "
    "FROM orders GROUP BY 1, 2",
)
def q_sql_table_udf_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL TABLE function (CREATE FUNCTION ... RETURNS
    TABLE ... RETURN SELECT, Spark 4): the dimension-generator twin of
    the Python UDTF — a quarter calendar emitted by a TVF, range-joined
    to orders.  Like the scalar SQL UDF, the body is expanded by the
    analyzer into the calling plan (the generated dim is a broadcast
    side, the fact scan keeps pushdown/codegen); a Python UDTF doing
    the same fan-out would cost an Arrow boundary per batch for
    arithmetic the optimizer can fold.  The oracle collapses the
    range join back to year()/quarter() grouping — equal because the
    TVF tiles the fixture's full 1995-2001 order-date range
    disjointly."""
    from .io import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION cdcx_quarter_dim("
        "y0 BIGINT, y1 BIGINT) "
        "RETURNS TABLE (yr BIGINT, qtr BIGINT, q_start DATE, q_end DATE) "
        "RETURN SELECT y AS yr, q AS qtr, "
        "  make_date(CAST(y AS INT), CAST((q - 1) * 3 + 1 AS INT), 1) "
        "    AS q_start, "
        "  CASE WHEN q = 4 THEN make_date(CAST(y + 1 AS INT), 1, 1) "
        "       ELSE make_date(CAST(y AS INT), CAST(q * 3 + 1 AS INT), 1) "
        "  END AS q_end "
        "FROM (SELECT explode(sequence(y0, y1)) AS y), "
        "     (SELECT explode(sequence(1, 4)) AS q)"
    )
    return spark.sql(
        "SELECT d.yr, d.qtr, count(*) AS n_orders, "
        "sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS revenue_cents "
        "FROM cdcx_quarter_dim(1995, 2001) d "
        "JOIN orders o ON o.o_orderdate >= d.q_start "
        "AND o.o_orderdate < d.q_end "
        "GROUP BY 1, 2"
    )


@_q(
    "asof_join_next_event",
    "WITH o AS (SELECT o_orderkey, o_custkey, epoch_ms(o_orderdate) "
    "AS order_ms FROM orders), "
    "e AS (SELECT event_id, user_id, epoch_ms(ts) AS e_ms FROM events), "
    "j AS (SELECT o.o_orderkey, o.o_custkey, o.order_ms, e.event_id, e.e_ms, "
    "row_number() OVER (PARTITION BY o.o_orderkey "
    "ORDER BY e.e_ms, e.event_id) AS rn "
    "FROM o JOIN e ON o.o_custkey = e.user_id AND e.e_ms >= o.order_ms) "
    "SELECT o_orderkey, o_custkey, order_ms, event_id AS next_event_id, "
    "e_ms AS next_event_ms FROM j WHERE rn = 1",
)
def q_asof_join_next_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    return relational.asof_join_next_event(
        load_table(spark, sf_dir, "orders"), load_table(spark, sf_dir, "events")
    )


@_q(
    "iqr_outlier_fences",
    "WITH c AS (SELECT event_id, event_type, "
    "CAST(round(value * 100) AS BIGINT) AS value_cents FROM events), "
    "q AS (SELECT event_type, "
    "quantile_cont(value_cents, 0.25) AS q25, "
    "quantile_cont(value_cents, 0.75) AS q75 FROM c GROUP BY 1), "
    "f AS (SELECT event_type, q25 - 1.5 * (q75 - q25) AS lo, "
    "q75 + 1.5 * (q75 - q25) AS hi FROM q) "
    "SELECT c.event_id, c.event_type, c.value_cents, "
    "(c.value_cents < f.lo OR c.value_cents > f.hi) AS is_outlier, "
    "CASE WHEN c.value_cents < f.lo THEN f.lo "
    "WHEN c.value_cents > f.hi THEN f.hi "
    "ELSE CAST(c.value_cents AS DOUBLE) END AS clipped_cents "
    "FROM c JOIN f USING (event_type)",
)
def q_iqr_outlier_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.iqr_outlier_fences(load_table(spark, sf_dir, "events"))


@_q(
    "pit_enrich_events",
    CHANGES_CTE
    + ", hist AS (SELECT key, "
    "CAST(row_number() OVER (PARTITION BY table_name, key "
    "ORDER BY commit_ts_ms, event_id) AS BIGINT) AS version_no, "
    "action, val_cents, commit_ts_ms AS valid_from_ms, "
    "lead(commit_ts_ms) OVER (PARTITION BY table_name, key "
    "ORDER BY commit_ts_ms, event_id) AS valid_to_ms "
    "FROM changes WHERE table_name = 'customer') "
    "SELECT e.event_id, e.user_id, epoch_ms(e.ts) AS at_ms, "
    "h.version_no, h.action, h.val_cents "
    "FROM events e JOIN hist h ON h.key = e.user_id "
    "AND h.action <> 'D' "  # a D version is absence-of-state, not state
    "AND h.valid_from_ms <= epoch_ms(e.ts) "
    "AND (h.valid_to_ms IS NULL OR epoch_ms(e.ts) < h.valid_to_ms)",
)
def q_pit_enrich_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cdc.pit_enrich_events(
        load_table(spark, sf_dir, "events"), changes_df(spark, sf_dir)
    )


@_q(
    "sequence_packing_manifest",
    "WITH t AS (SELECT doc_id, "
    "  md5(CAST(doc_id AS VARCHAR) || ':s42') AS k, "
    "  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) "
    "  AS BIGINT) AS n_tokens FROM documents), "
    "o AS (SELECT doc_id, n_tokens, COALESCE(CAST(sum(n_tokens) OVER ("
    "  ORDER BY k, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) "
    "  AS BIGINT), 0) AS start_token FROM t) "
    "SELECT doc_id, n_tokens, start_token, "
    "start_token // 512 AS seq_id, "
    "start_token % 512 AS offset_in_seq, "
    "CASE WHEN n_tokens = 0 THEN 0 ELSE "
    "(start_token + n_tokens - 1) // 512 - start_token // 512 + 1 END "
    "AS n_seqs_spanned FROM o",
)
def q_sequence_packing_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.sequence_packing_manifest(
        load_table(spark, sf_dir, "documents")
    )


@_q(
    "cbo_join_reorder",
    "SELECT n_name, count(*) AS n_orders "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY 1",
)
def q_cbo_join_reorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import maintenance

    return maintenance.cbo_reordered_order_counts(spark, sf_dir)


@_q(
    "dpp_pruned_revenue",
    "WITH d AS (SELECT * FROM (VALUES ('click', 'engagement'), "
    "('view', 'engagement'), ('purchase', 'commerce'), "
    "('signup', 'account'), ('error', 'ops')) v(event_type, category)) "
    "SELECT category, count(*) AS n_rows, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents, "
    "CAST(count(DISTINCT e.event_type) AS BIGINT) AS n_types "
    "FROM events e JOIN d ON e.event_type = d.event_type "
    "WHERE d.category = 'engagement' GROUP BY 1",
)
def q_dpp_pruned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import maintenance

    return maintenance.dpp_pruned_revenue(spark, sf_dir)


@_q(
    "quota_sample_per_lang",
    "SELECT lang, CAST(pick_rank AS BIGINT) AS pick_rank, doc_id FROM ("
    "  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang "
    "  ORDER BY md5(CAST(doc_id AS VARCHAR) || ':q1'), doc_id) AS pick_rank "
    "  FROM documents) t WHERE pick_rank <= 50",
)
def q_quota_sample_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quota_sample_per_group(load_table(spark, sf_dir, "documents"))


@_q(
    "mixture_oversample",
    "SELECT doc_id, lang, CAST(c AS BIGINT) AS copy_id "
    "FROM documents, unnest(range(1, 1 + CASE lang "
    "WHEN 'de' THEN 2 WHEN 'fr' THEN 3 ELSE 1 END)) AS u(c)",
)
def q_mixture_oversample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.mixture_oversample(load_table(spark, sf_dir, "documents"))


@_q(
    "bucketed_join_revenue",
    "SELECT o_orderpriority, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) "
    "AS BIGINT)) AS BIGINT) AS revenue_cents, "
    "count(*) AS n_items "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1",
)
def q_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators import maintenance

    return maintenance.bucketed_join_revenue(spark, sf_dir)


# --------------------------------------------------------------------------
# Behavioral analytics + incremental view maintenance + weighted sampling
# (round-3 additions)
# --------------------------------------------------------------------------

@_q(
    "funnel_user_steps",
    "WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS at_ms "
    "  FROM events), "
    "s1 AS (SELECT user_id, min(at_ms) AS step1_ms FROM e "
    "  WHERE event_type = 'view' GROUP BY 1), "
    "s2 AS (SELECT user_id, min(at_ms) AS step2_ms "
    "  FROM e JOIN s1 USING (user_id) "
    "  WHERE event_type = 'click' AND at_ms >= step1_ms GROUP BY 1), "
    "s3 AS (SELECT user_id, min(at_ms) AS step3_ms "
    "  FROM e JOIN s2 USING (user_id) "
    "  WHERE event_type = 'purchase' AND at_ms >= step2_ms GROUP BY 1) "
    "SELECT user_id, step1_ms, step2_ms, step3_ms, "
    "CAST(1 + (step2_ms IS NOT NULL)::INT + (step3_ms IS NOT NULL)::INT "
    "  AS BIGINT) AS steps_completed "
    "FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)",
)
def q_funnel_user_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view -> click -> purchase) per user:
    min-at-or-after step times via three hash aggregates + equi-joins
    on user_id -- no per-user ordered window (analytics.funnel_steps)."""
    from .operators import analytics as _an

    return _an.funnel_steps(load_table(spark, sf_dir, "events"))


@_q(
    "cohort_retention_matrix",
    "WITH e AS (SELECT user_id, epoch_ms(ts) AS at_ms FROM events), "
    "f AS (SELECT user_id, min(at_ms) AS first_ms FROM e GROUP BY 1), "
    "j AS (SELECT e.user_id, first_ms // 604800000 AS cohort_week, "
    "  at_ms // 604800000 - first_ms // 604800000 AS week_offset "
    "  FROM e JOIN f USING (user_id)), "
    "cells AS (SELECT cohort_week, week_offset, "
    "  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active "
    "  FROM j GROUP BY 1, 2), "
    "sizes AS (SELECT cohort_week, "
    "  CAST(count(DISTINCT user_id) AS BIGINT) AS n_cohort "
    "  FROM j WHERE week_offset = 0 GROUP BY 1) "
    "SELECT cohort_week, week_offset, n_active, n_cohort "
    "FROM cells JOIN sizes USING (cohort_week)",
)
def q_cohort_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention counts (epoch-week cohorts, integer
    cells -- analytics.cohort_retention)."""
    from .operators import analytics as _an

    return _an.cohort_retention(load_table(spark, sf_dir, "events"))


@_q(
    "incremental_join_view_merge",
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_items, "
    "CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) "
    "  AS BIGINT)) AS BIGINT) AS revenue_cents "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1",
)
def q_incremental_join_view_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance: base partials merged with the
    three delta-join terms (dA><B, A><dB, dA><dB) must equal the full
    recompute the oracle runs (maintenance.incremental_join_view)."""
    from .operators import maintenance as _mt

    return _mt.incremental_join_view(
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "lineitem"),
        order_split=750,
    )


@_q(
    "weighted_doc_sample",
    "WITH base AS (SELECT doc_id, "
    "  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) "
    "  AS BIGINT) AS n_tokens FROM documents), "
    "c AS (SELECT doc_id, n_tokens, "
    "  coalesce(sum(n_tokens) OVER (ORDER BY doc_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before, "
    "  sum(n_tokens) OVER () AS total FROM base) "
    "SELECT doc_id, n_tokens, CAST(cum_before AS BIGINT) AS cum_before, "
    "CAST(((cum_before + n_tokens) * 50) // total "
    "  - (cum_before * 50) // total AS BIGINT) AS n_picks "
    "FROM c WHERE ((cum_before + n_tokens) * 50) // total "
    "  - (cum_before * 50) // total >= 1",
)
def q_weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted systematic sample (k=50, integer arithmetic,
    no RNG -- text.weighted_systematic_sample)."""
    return text.weighted_systematic_sample(
        load_table(spark, sf_dir, "documents")
    )


@_q(
    "user_activity_streaks",
    "WITH wk AS (SELECT DISTINCT user_id, "
    "  epoch_ms(ts) // 604800000 AS week FROM events), "
    "isl AS (SELECT user_id, week, week - row_number() OVER "
    "  (PARTITION BY user_id ORDER BY week) AS island FROM wk), "
    "s AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len, "
    "  max(week) AS last_week FROM isl GROUP BY 1, 2) "
    "SELECT user_id, CAST(sum(len) AS BIGINT) AS n_active_weeks, "
    "CAST(count(*) AS BIGINT) AS n_streaks, "
    "CAST(max(len) AS BIGINT) AS longest_streak, "
    "CAST(max(last_week) AS BIGINT) AS latest_week "
    "FROM s GROUP BY 1",
)
def q_user_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands engagement streaks per user (consecutive
    active epoch-weeks; week - row_number island id —
    analytics.activity_streaks)."""
    from .operators import analytics as _an

    return _an.activity_streaks(load_table(spark, sf_dir, "events"))


@_q(
    "copurchase_part_pairs",
    "WITH op0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
    "keep AS (SELECT l_orderkey FROM op0 GROUP BY 1 "
    "  HAVING count(*) <= 50), "
    "op AS (SELECT op0.* FROM op0 JOIN keep USING (l_orderkey)), "
    "p AS (SELECT a.l_partkey AS part1, b.l_partkey AS part2 "
    "  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey "
    "  AND a.l_partkey < b.l_partkey) "
    "SELECT part1, part2, CAST(count(*) AS BIGINT) AS n_orders "
    "FROM p GROUP BY 1, 2 HAVING count(*) >= 2 "
    "ORDER BY n_orders DESC, part1 ASC, part2 ASC LIMIT 100",
)
def q_copurchase_part_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket support counting: top part pairs co-occurring in
    the same order (Apriori first pass — analytics.copurchase_pairs)."""
    from .operators import analytics as _an

    return _an.copurchase_pairs(load_table(spark, sf_dir, "lineitem"))


@_q(
    "pareto_frontier_orders",
    "WITH base AS (SELECT o_orderkey, "
    "  epoch_ms(o_orderdate) // 86400000 AS order_day, "
    "  CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents "
    "  FROM orders), "
    "pd AS (SELECT order_day, min(price_cents) AS day_min "
    "  FROM base GROUP BY 1), "
    "pr AS (SELECT order_day, min(day_min) OVER (ORDER BY order_day "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_min "
    "  FROM pd) "
    "SELECT o_orderkey, order_day, price_cents "
    "FROM base JOIN pr USING (order_day) "
    "WHERE prior_min IS NULL OR prior_min >= price_cents",
)
def q_pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline operator: orders not strictly dominated on (earlier
    date, cheaper price) — per-day min pre-aggregation + one
    running-min window over distinct days
    (analytics.pareto_frontier_orders)."""
    from .operators import analytics as _an

    return _an.pareto_frontier_orders(load_table(spark, sf_dir, "orders"))


@_q(
    "inverted_index_postings",
    "WITH p AS (SELECT doc_id, string_split(text, ' ') AS parts "
    "  FROM documents), "
    "t AS (SELECT doc_id, unnest(parts) AS term, "
    "  unnest(range(1, len(parts) + 1)) AS pos FROM p) "
    "SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf, "
    "CAST(min(pos) AS BIGINT) AS first_pos "
    "FROM t WHERE term <> '' GROUP BY 1, 2",
)
def q_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted-index postings (term, doc, tf, first
    position) — the search-index build pass feeding BM25
    (text.inverted_index_postings)."""
    return text.inverted_index_postings(
        load_table(spark, sf_dir, "documents")
    )


@_q(
    "bpe_merge_candidates",
    "WITH w AS (SELECT u.w AS w FROM documents, "
    "  unnest(string_split(text, ' ')) AS u(w) "
    "  WHERE u.w <> '' AND len(u.w) >= 2), "
    "pr AS (SELECT unnest(list_transform(range(1, len(w)), "
    "  i -> substr(w, CAST(i AS INT), 2))) AS pair FROM w) "
    "SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences "
    "FROM pr GROUP BY 1 "
    "ORDER BY n_occurrences DESC, pair ASC LIMIT 50",
)
def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training merge round: corpus-wide adjacent
    character-pair counts, top-50 (text.bpe_merge_candidates)."""
    return text.bpe_merge_candidates(load_table(spark, sf_dir, "documents"))


@_q(
    "pagerank_copurchase",
    "WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
    "e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst "
    "  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey "
    "  AND a.l_partkey <> b.l_partkey), "
    "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1), "
    "r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg), "
    "it1 AS (SELECT e.dst AS node, "
    "  CAST(150000 + (85 * sum(r0.r // deg.deg)) // 100 AS BIGINT) AS r "
    "  FROM e JOIN r0 ON e.src = r0.node JOIN deg ON e.src = deg.src "
    "  GROUP BY 1), "
    "it2 AS (SELECT e.dst AS node, "
    "  CAST(150000 + (85 * sum(it1.r // deg.deg)) // 100 AS BIGINT) AS r "
    "  FROM e JOIN it1 ON e.src = it1.node JOIN deg ON e.src = deg.src "
    "  GROUP BY 1), "
    "it3 AS (SELECT e.dst AS node, "
    "  CAST(150000 + (85 * sum(it2.r // deg.deg)) // 100 AS BIGINT) AS r "
    "  FROM e JOIN it2 ON e.src = it2.node JOIN deg ON e.src = deg.src "
    "  GROUP BY 1) "
    "SELECT node, r AS rank_ppm, deg FROM it3 JOIN deg ON node = src "
    "ORDER BY rank_ppm DESC, node ASC LIMIT 100",
)
def q_pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-arithmetic PageRank (3 unrolled iterations, ppm ranks,
    damping 0.85) over the part co-purchase graph — reduce-order-
    independent, hence oracle-hashable (operators/graph.py).

    The edge list is materialized once (localCheckpoint) so its exact
    count can size the loop's per-iteration exchanges to data volume
    (partitioning.data_proportional_partitions — round-8
    strong-scaling lesson); the checkpoint also stops the 3 unrolled
    iterations from re-deriving the pair join, which previously leaned
    on ReusedExchange inside one plan."""
    from .operators import graph as _g

    # r14 (VERDICT r13 task #5): lazy — the sizing count below is the
    # action that materializes the edge blocks (one job instead of
    # checkpoint-then-count's two); the 3 unrolled iterations still
    # read checkpointed blocks.
    edges = _g.copurchase_edges(
        load_table(spark, sf_dir, "lineitem")
    ).localCheckpoint(eager=False)
    return _g.pagerank_integer(
        edges,
        loop_partitions=data_proportional_partitions(
            edges.count(),
            parallelism=spark.sparkContext.defaultParallelism,
        ),
    )


@_q(
    "event_transition_matrix",
    "WITH t AS (SELECT event_type, lead(event_type) OVER "
    "  (PARTITION BY user_id ORDER BY event_id) AS next_type "
    "  FROM events), "
    "c AS (SELECT event_type, next_type, "
    "  CAST(count(*) AS BIGINT) AS n_transitions "
    "  FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2) "
    "SELECT event_type, next_type, n_transitions, "
    "CAST(n_transitions * 10000 // (sum(n_transitions) OVER "
    "  (PARTITION BY event_type)) AS BIGINT) AS share_bp FROM c",
)
def q_event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts + integer basis-point row
    shares over per-user ordered event streams
    (analytics.event_transitions)."""
    from .operators import analytics as _an

    return _an.event_transitions(load_table(spark, sf_dir, "events"))


@_q(
    "attribution_last_touch",
    "WITH a AS (SELECT event_type, last_value(CASE WHEN event_type <> "
    "  'purchase' THEN event_type END IGNORE NULLS) OVER "
    "  (PARTITION BY user_id ORDER BY event_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch "
    "  FROM events) "
    "SELECT coalesce(touch, 'none') AS touch_type, "
    "CAST(count(*) AS BIGINT) AS n_purchases "
    "FROM a WHERE event_type = 'purchase' GROUP BY 1",
)
def q_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch purchase attribution via ignore-nulls last_value over
    the strictly-preceding frame (analytics.attribution_last_touch)."""
    from .operators import analytics as _an

    return _an.attribution_last_touch(load_table(spark, sf_dir, "events"))


@_q(
    "target_encode_categories",
    "WITH per_cat AS (SELECT event_type, "
    "  CAST(count(*) AS BIGINT) AS n_events, "
    "  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents "
    "  FROM events GROUP BY 1) "
    "SELECT event_type, n_events, sum_cents, "
    "CAST((sum_cents + 10 * (sum(sum_cents) OVER () "
    "  // sum(n_events) OVER ())) // (n_events + 10) AS BIGINT) "
    "  AS enc_cents FROM per_cat",
)
def q_target_encode_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """m-estimate target encoding of event_type against value cents
    (integer smoothing toward the global mean —
    analytics.target_encode)."""
    return analytics.target_encode(load_table(spark, sf_dir, "events"))


@_q(
    "interpolate_missing_hourly",
    "WITH sparse AS (SELECT event_type, "
    "  epoch_ms(ts) // 3600000 AS bucket, "
    "  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents "
    "  FROM events GROUP BY 1, 2), "
    "grid AS (SELECT event_type, unnest(range(lo, hi + 1)) AS bucket "
    "  FROM (SELECT event_type, min(bucket) AS lo, max(bucket) AS hi "
    "        FROM sparse GROUP BY 1)), "
    "j AS (SELECT grid.event_type, grid.bucket, sparse.cents FROM grid "
    "  LEFT JOIN sparse ON grid.event_type = sparse.event_type "
    "  AND grid.bucket = sparse.bucket), "
    "f AS (SELECT event_type, bucket, cents, "
    "  last_value(CASE WHEN cents IS NOT NULL THEN bucket END IGNORE NULLS) "
    "    OVER (PARTITION BY event_type ORDER BY bucket "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pb, "
    "  last_value(cents IGNORE NULLS) "
    "    OVER (PARTITION BY event_type ORDER BY bucket "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pc, "
    "  first_value(CASE WHEN cents IS NOT NULL THEN bucket END IGNORE NULLS) "
    "    OVER (PARTITION BY event_type ORDER BY bucket "
    "    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nb, "
    "  first_value(cents IGNORE NULLS) "
    "    OVER (PARTITION BY event_type ORDER BY bucket "
    "    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nc "
    "  FROM j) "
    "SELECT event_type, bucket, "
    "CAST(coalesce(cents, pc + ((nc - pc) * (bucket - pb)) // (nb - pb)) "
    "  AS BIGINT) AS cents, "
    "CAST(cents IS NULL AS BIGINT) AS is_interpolated FROM f",
)
def q_interpolate_missing_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer linear interpolation of missing hourly buckets between
    surrounding known points (analytics.interpolate_missing_hourly)."""
    return analytics.interpolate_missing_hourly(
        load_table(spark, sf_dir, "events")
    )


@_q(
    "feature_quantile_bins",
    "WITH b AS (SELECT event_type, "
    "  CAST(round(value * 100) AS BIGINT) AS c, "
    "  ntile(10) OVER (PARTITION BY event_type "
    "  ORDER BY CAST(round(value * 100) AS BIGINT), event_id) AS bin "
    "  FROM events) "
    "SELECT event_type, CAST(bin AS BIGINT) AS bin, "
    "CAST(count(*) AS BIGINT) AS n, "
    "min(c) AS lo_cents, max(c) AS hi_cents "
    "FROM b GROUP BY 1, 2",
)
def q_feature_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency per-type decile binning manifest (deterministic
    ntile with event_id tie-break — analytics.feature_quantile_bins)."""
    return analytics.feature_quantile_bins(load_table(spark, sf_dir, "events"))


# ANN index-quality evaluation: recall@k of the IVF index against the
# exact top-k, composed from the two existing oracles — the evaluation
# loop a vector-index deployment runs before trusting an ANN tier.
_RECALL_ORACLE = (
    "WITH ex AS (SELECT query_id, neighbor_id FROM ("
    + ORACLES["topk_cosine_similarity"]
    + ")), ap AS (SELECT query_id, neighbor_id FROM ("
    + ORACLES["ann_ivf_topk"]
    + ")), h AS (SELECT ex.query_id, "
    "CAST(count(ap.neighbor_id) AS BIGINT) AS n_hits "
    "FROM ex LEFT JOIN ap ON ex.query_id = ap.query_id "
    "AND ex.neighbor_id = ap.neighbor_id GROUP BY 1) "
    "SELECT query_id, CAST(10 AS BIGINT) AS k, n_hits, "
    "CAST(n_hits * 10000 // 10 AS BIGINT) AS recall_bp FROM h"
)


@_q("ann_recall_report", _RECALL_ORACLE)
def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF-routed ANN tier vs the exact top-k — the
    index-quality gate run before an ANN index serves production
    traffic.  Composes the two existing operators (and the oracle
    composes their two SQL mirrors), so the metric itself is
    hash-verified end-to-end.  Integer basis points via DIV.

    Scale: both sides are top-k result sets (q·k rows) — the join and
    aggregate run over result-set-sized data, never the corpus; the
    exact side is the one-off audit cost and can run on a sampled
    query set at 100 TB.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exact = similarity.topk_cosine(emb, 5, 10).select(
        "query_id", "neighbor_id"
    )
    approx = similarity.ivf_topk(emb, 5, 10, 3).select(
        F.col("query_id").alias("aq"), F.col("neighbor_id").alias("an")
    )
    hits = (
        exact.join(
            approx,
            (F.col("query_id") == F.col("aq"))
            & (F.col("neighbor_id") == F.col("an")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("an").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        F.lit(10).cast("long").alias("k"),
        "n_hits",
        F.expr("n_hits * 10000 DIV 10").cast("long").alias("recall_bp"),
    )


@_q(
    "sink_python_datasource_batch",
    "SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents "
    "FROM events GROUP BY 1",
)
def q_sink_python_datasource_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch write through the custom Python DataSource writer
    (``df.write.format("pipe_chunks")`` — sources/pyds.py:
    PipeChunkBatchWriter, staged-file + manifest commit), re-read the
    published chunks with a declared schema, and aggregate.  The
    oracle runs on the ORIGINAL table: passing proves the batch commit
    protocol published every row exactly once and the text round-trip
    is lossless (shortest-round-trip float formatting).  Completes the
    connector matrix: batch/stream × read/write."""
    import os
    import tempfile

    from .sources import pyds

    pyds.register_sink(spark)
    out = tempfile.mkdtemp(prefix="pyds_batch_sink_")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    ev.write.format("pipe_chunks").option("path", out).mode(
        "overwrite"
    ).save()
    back = (
        spark.read.schema("event_id BIGINT, event_type STRING, value DOUBLE")
        .option("sep", "|")
        .csv(os.path.join(out, "chunk_batch_*"))
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )


@_q(
    "colstats_cross_moments",
    "WITH m AS (SELECT CAST(round(l_quantity * 100) AS BIGINT) AS q, "
    "  CAST(round(l_extendedprice * 100) AS BIGINT) AS p, "
    "  CAST(round(l_discount * 100) AS BIGINT) AS d, "
    "  CAST(round(l_tax * 100) AS BIGINT) AS t FROM lineitem), "
    "a AS (SELECT CAST(count(*) AS BIGINT) AS n, "
    "  CAST(sum(q) AS BIGINT) AS sq, CAST(sum(p) AS BIGINT) AS sp, "
    "  CAST(sum(d) AS BIGINT) AS sd, CAST(sum(t) AS BIGINT) AS st, "
    "  CAST(sum(q * p) AS BIGINT) AS sqp, CAST(sum(q * d) AS BIGINT) AS sqd, "
    "  CAST(sum(q * t) AS BIGINT) AS sqt, CAST(sum(p * d) AS BIGINT) AS spd, "
    "  CAST(sum(p * t) AS BIGINT) AS spt, CAST(sum(d * t) AS BIGINT) AS sdt "
    "  FROM m) "
    "SELECT 'quantity' AS x_col, 'extendedprice' AS y_col, n, "
    "  sq AS sum_x, sp AS sum_y, sqp AS sum_xy FROM a "
    "UNION ALL SELECT 'quantity', 'discount', n, sq, sd, sqd FROM a "
    "UNION ALL SELECT 'quantity', 'tax', n, sq, st, sqt FROM a "
    "UNION ALL SELECT 'extendedprice', 'discount', n, sp, sd, spd FROM a "
    "UNION ALL SELECT 'extendedprice', 'tax', n, sp, st, spt FROM a "
    "UNION ALL SELECT 'discount', 'tax', n, sd, st, sdt FROM a",
)
def q_colstats_cross_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style cross-moment sufficient statistics (n, Σx, Σy,
    Σxy) for every lineitem measure pair, one full-scan aggregate
    (analytics.colstats_cross_moments)."""
    return analytics.colstats_cross_moments(
        load_table(spark, sf_dir, "lineitem")
    )


@_q(
    "benford_digit_audit",
    "WITH c AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) "
    "  AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM orders), "
    "g AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM c "
    "  WHERE digit >= 1 GROUP BY 1), "
    "e(digit, expected_bp) AS (VALUES (1, 3010), (2, 1760), (3, 1249), "
    "  (4, 969), (5, 791), (6, 669), (7, 579), (8, 511), (9, 457)) "
    "SELECT g.digit, n, "
    "CAST(n * 10000 // sum(n) OVER () AS BIGINT) AS share_bp, "
    "CAST(expected_bp AS BIGINT) AS expected_bp, "
    "CAST(n * 10000 // sum(n) OVER () - expected_bp AS BIGINT) AS dev_bp "
    "FROM g JOIN e USING (digit)",
)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals: observed vs expected
    shares in integer basis points (analytics.benford_digit_audit)."""
    return analytics.benford_digit_audit(load_table(spark, sf_dir, "orders"))


@_q(
    "session_path_trigrams",
    "WITH t AS (SELECT event_type AS step1, "
    "  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) "
    "    AS step2, "
    "  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY event_id) "
    "    AS step3 FROM events) "
    "SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS n_paths "
    "FROM t WHERE step3 IS NOT NULL GROUP BY 1, 2, 3 "
    "ORDER BY n_paths DESC, step1 ASC, step2 ASC, step3 ASC LIMIT 20",
)
def q_session_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step event-type paths in per-user ordered streams (order-2
    path mining — analytics.session_path_trigrams)."""
    return analytics.session_path_trigrams(load_table(spark, sf_dir, "events"))


@_q(
    "copurchase_triangle_stats",
    "WITH op0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem "
    "  WHERE l_partkey < 500), "
    "keep AS (SELECT l_orderkey FROM op0 GROUP BY 1 HAVING count(*) <= 50), "
    "op AS (SELECT op0.* FROM op0 JOIN keep USING (l_orderkey)), "
    "e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst "
    "  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey "
    "  AND a.l_partkey < b.l_partkey), "
    "und AS (SELECT src AS node FROM e UNION ALL SELECT dst FROM e), "
    "deg AS (SELECT node, count(*) AS d FROM und GROUP BY 1), "
    "w AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges "
    "  FROM deg), "
    "tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles "
    "  FROM e e1 JOIN e e2 ON e1.dst = e2.src "
    "  JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst), "
    "ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e) "
    "SELECT n_edges, n_wedges, n_triangles, "
    "CAST(CASE WHEN n_wedges > 0 "
    "  THEN 3 * n_triangles * 10000 // n_wedges ELSE 0 END AS BIGINT) "
    "  AS clustering_bp FROM tri, w, ne",
)
def q_copurchase_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the bounded
    co-purchase subgraph (ordered three-join, wedge degrees —
    operators/graph.py:triangle_stats)."""
    from .operators import graph as _g

    return _g.triangle_stats(
        _g.canonical_copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    )


@_q(
    "dau_wau_stickiness",
    "WITH ud AS (SELECT DISTINCT user_id, "
    "  epoch_ms(ts) // 86400000 AS day FROM events), "
    "dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau "
    "  FROM ud GROUP BY 1), "
    "ex AS (SELECT DISTINCT user_id, day + i AS wday "
    "  FROM ud, range(0, 7) t(i)), "
    "wau AS (SELECT wday AS day, CAST(count(*) AS BIGINT) AS wau "
    "  FROM ex GROUP BY 1) "
    "SELECT day, dau, wau, "
    "CAST(dau * 10000 // wau AS BIGINT) AS stickiness_bp "
    "FROM dau JOIN wau USING (day)",
)
def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU / stickiness ratio — exact sliding
    distinct count via 7x (user, day) expansion
    (analytics.dau_wau_stickiness)."""
    return analytics.dau_wau_stickiness(load_table(spark, sf_dir, "events"))


# Survivorship completes the dedup pipeline: pairs → components →
# ONE golden record per cluster.  The oracle composes the recursive
# components closure with the same deterministic pick rule.
_SURVIVORSHIP_ORACLE = (
    "WITH comp AS (SELECT * FROM (" + _COMPONENTS_ORACLE + ") t), "
    "j AS (SELECT comp.cluster_id, d.doc_id, d.n_chars "
    "  FROM comp JOIN documents d USING (doc_id)), "
    "sizes AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members "
    "  FROM j GROUP BY 1), "
    "r AS (SELECT j.*, row_number() OVER (PARTITION BY cluster_id "
    "  ORDER BY n_chars DESC, doc_id ASC) AS rn FROM j) "
    "SELECT r.cluster_id, r.doc_id AS canonical_doc_id, "
    "CAST(r.n_chars AS BIGINT) AS canonical_n_chars, sizes.n_members "
    "FROM r JOIN sizes USING (cluster_id) WHERE rn = 1"
)


@_q("dedup_survivorship", _SURVIVORSHIP_ORACLE)
def q_dedup_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record (survivorship) selection per near-dup cluster:
    deterministic rule — longest document, doc_id tie-break — the MDM
    step that turns cluster resolution into a usable dedup decision.
    Pipeline: minhash-LSH pairs → connected components → per-cluster
    pick; the window ranks only cluster members (result-set-sized)."""
    pairs = dedup.minhash_lsh_dedup(
        load_table(spark, sf_dir, "documents"), 3, 0.8
    )
    comp = dedup.connected_components(pairs)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = comp.join(docs, "doc_id")
    sizes = j.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_members"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .join(sizes, "cluster_id")
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc_id"),
            F.col("n_chars").cast("long").alias("canonical_n_chars"),
            "n_members",
        )
    )


@_q(
    "attribution_linear",
    "WITH tg AS (SELECT user_id, event_id, event_type, "
    "  coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) "
    "    OVER (PARTITION BY user_id ORDER BY event_id "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS seg "
    "  FROM events), "
    "tch AS (SELECT user_id, seg, event_type, "
    "  row_number() OVER (PARTITION BY user_id, seg ORDER BY event_id) "
    "    AS pos, "
    "  count(*) OVER (PARTITION BY user_id, seg) AS n "
    "  FROM tg WHERE event_type <> 'purchase'), "
    "pur AS (SELECT user_id, seg FROM tg WHERE event_type = 'purchase'), "
    "cr AS (SELECT t.event_type, "
    "  10000 // t.n + (t.pos <= 10000 % t.n)::INT AS credit_bp "
    "  FROM tch t JOIN pur USING (user_id, seg)) "
    "SELECT event_type AS touch_type, "
    "CAST(count(*) AS BIGINT) AS n_credited_touches, "
    "CAST(sum(credit_bp) AS BIGINT) AS credit_bp FROM cr GROUP BY 1",
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: 10000 bp per purchase split
    equally over its segment's touches, remainder to the earliest —
    exact credit conservation (analytics.attribution_linear)."""
    return analytics.attribution_linear(load_table(spark, sf_dir, "events"))


_TTC_ORACLE = (
    "WITH f AS (SELECT * FROM ("
    + ORACLES["funnel_user_steps"]
    + ") t WHERE step3_ms IS NOT NULL), "
    "lat AS (SELECT step3_ms - step1_ms AS ms FROM f), "
    "r AS (SELECT ms, row_number() OVER (ORDER BY ms) AS rn, "
    "  CAST(count(*) OVER () AS BIGINT) AS n FROM lat), "
    "mm AS (SELECT CAST(min(ms) AS BIGINT) AS min_ms, "
    "  CAST(max(ms) AS BIGINT) AS max_ms FROM lat) "
    "SELECT n AS n_converted, min_ms, CAST(ms AS BIGINT) AS median_ms, "
    "max_ms FROM r, mm WHERE rn = (n + 1) // 2"
)


@_q("funnel_time_to_convert", _TTC_ORACLE)
def q_funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency stats for completed funnels (exact median
    order statistic, no interpolation — the oracle composes the funnel
    oracle; analytics.funnel_time_to_convert)."""
    return analytics.funnel_time_to_convert(
        load_table(spark, sf_dir, "events")
    )


@_q(
    "copurchase_association_rules",
    "WITH op0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
    "keep AS (SELECT l_orderkey FROM op0 GROUP BY 1 "
    "  HAVING count(*) <= 50), "
    "op AS (SELECT op0.* FROM op0 JOIN keep USING (l_orderkey)), "
    "pairs AS (SELECT a.l_partkey AS part1, b.l_partkey AS part2, "
    "  CAST(count(*) AS BIGINT) AS n_ab "
    "  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey "
    "  AND a.l_partkey < b.l_partkey GROUP BY 1, 2 "
    "  HAVING count(*) >= 2 "
    "  ORDER BY n_ab DESC, part1 ASC, part2 ASC LIMIT 50), "
    "items AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS cnt "
    "  FROM op GROUP BY 1), "
    "tot AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n "
    "  FROM op) "
    "SELECT p.part1, p.part2, p.n_ab, "
    "CAST(p.n_ab * 10000 // ia.cnt AS BIGINT) AS conf_ab_bp, "
    "CAST(p.n_ab * 10000 // ib.cnt AS BIGINT) AS conf_ba_bp, "
    "CAST(p.n_ab * tot.n * 10000 // (ia.cnt * ib.cnt) AS BIGINT) "
    "  AS lift_bp "
    "FROM pairs p "
    "JOIN items ia ON ia.l_partkey = p.part1 "
    "JOIN items ib ON ib.l_partkey = p.part2, tot",
)
def q_copurchase_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule metrics (support / both confidences / lift in
    integer bp) for the top co-purchase pairs — the Apriori output
    over the support pass (analytics.copurchase_rules)."""
    return analytics.copurchase_rules(load_table(spark, sf_dir, "lineitem"))


@_q(
    "rfm_customer_segments",
    "WITH pc AS (SELECT o_custkey, "
    "  max(epoch_ms(o_orderdate) // 86400000) AS last_day, "
    "  CAST(count(*) AS BIGINT) AS n_orders, "
    "  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
    "    AS lifetime_cents "
    "  FROM orders GROUP BY 1), "
    "sc AS (SELECT o_custkey, CAST(last_day AS BIGINT) AS last_day, "
    "  n_orders, lifetime_cents, "
    "  CAST(ntile(5) OVER (ORDER BY last_day, o_custkey) AS BIGINT) "
    "    AS r_score, "
    "  CAST(ntile(5) OVER (ORDER BY n_orders, o_custkey) AS BIGINT) "
    "    AS f_score, "
    "  CAST(ntile(5) OVER (ORDER BY lifetime_cents, o_custkey) AS BIGINT) "
    "    AS m_score FROM pc) "
    "SELECT sc.*, CAST(r_score * 100 + f_score * 10 + m_score AS BIGINT) "
    "  AS rfm_code FROM sc",
)
def q_rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quintile segmentation per customer (deterministic ntile
    with custkey tie-break — analytics.rfm_segments)."""
    return analytics.rfm_segments(load_table(spark, sf_dir, "orders"))


@_q(
    "weekly_trend_slopes",
    "WITH weekly AS (SELECT event_type, "
    "  epoch_ms(ts) // 604800000 AS week, "
    "  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y "
    "  FROM events GROUP BY 1, 2), "
    "based AS (SELECT event_type, y, "
    "  week - min(week) OVER (PARTITION BY event_type) AS x FROM weekly), "
    "st AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n, "
    "  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy, "
    "  CAST(sum(x * y) AS BIGINT) AS sxy, "
    "  CAST(sum(x * x) AS BIGINT) AS sxx FROM based GROUP BY 1) "
    "SELECT event_type, n, "
    "CAST(n * sxy - sx * sy AS BIGINT) AS slope_num, "
    "CAST(n * sxx - sx * sx AS BIGINT) AS slope_den, "
    "CAST(CASE WHEN n * sxx - sx * sx > 0 THEN "
    "  (n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx) ELSE 0 END "
    "  AS BIGINT) AS slope_milli_per_week FROM st",
)
def q_weekly_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer OLS slope of weekly value totals per event type
    (no floats anywhere — analytics.weekly_trend_slopes)."""
    return analytics.weekly_trend_slopes(load_table(spark, sf_dir, "events"))


@_q(
    "embedding_dimension_profile",
    "WITH p AS (SELECT embedding::DOUBLE[] AS emb FROM embeddings), "
    "c AS (SELECT unnest(range(0, len(emb))) AS dim, "
    "  CAST(round(unnest(emb) * 1000000) AS BIGINT) AS micro FROM p) "
    "SELECT CAST(dim AS BIGINT) AS dim, CAST(count(*) AS BIGINT) AS n, "
    "CAST(sum(micro) AS BIGINT) AS sum_micro, "
    "CAST(sum(micro) // count(*) AS BIGINT) AS mean_micro, "
    "min(micro) AS min_micro, max(micro) AS max_micro, "
    "CAST(sum((micro = 0)::INT) AS BIGINT) AS n_zero "
    "FROM c GROUP BY 1",
)
def q_embedding_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding hygiene profile (micro-scaled integer
    stats; dead/collapsed-dimension detection —
    functions/similarity.py:embedding_dimension_profile)."""
    return similarity.embedding_dimension_profile(
        load_table(spark, sf_dir, "embeddings")
    )


@_q(
    "interpurchase_gap_distribution",
    "WITH g AS (SELECT epoch_ms(o_orderdate) // 86400000 "
    "  - lag(epoch_ms(o_orderdate) // 86400000) OVER ("
    "  PARTITION BY o_custkey ORDER BY epoch_ms(o_orderdate) // 86400000, "
    "  o_orderkey) AS gap_days FROM orders) "
    "SELECT CAST(gap_days // 7 AS BIGINT) AS gap_week_bucket, "
    "CAST(count(*) AS BIGINT) AS n_gaps, "
    "CAST(min(gap_days) AS BIGINT) AS min_days, "
    "CAST(max(gap_days) AS BIGINT) AS max_days "
    "FROM g WHERE gap_days IS NOT NULL GROUP BY 1",
)
def q_interpurchase_gap_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap distribution (per-customer lag, week
    buckets — analytics.interpurchase_gaps)."""
    return analytics.interpurchase_gaps(load_table(spark, sf_dir, "orders"))


@_q(
    "customer_segment_migration",
    "WITH base AS (SELECT o_custkey, "
    "  epoch_ms(o_orderdate) // 86400000 AS d, "
    "  CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders), "
    "b AS (SELECT (min(d) + max(d)) // 2 AS mid FROM base), "
    "h AS (SELECT o_custkey, (d > b.mid)::INT AS half, "
    "  CAST(sum(c) AS BIGINT) AS m_cents FROM base, b GROUP BY 1, 2), "
    "t0 AS (SELECT o_custkey, CAST(ntile(5) OVER (ORDER BY m_cents, "
    "  o_custkey) AS BIGINT) AS seg_from FROM h WHERE half = 0), "
    "t1 AS (SELECT o_custkey, CAST(ntile(5) OVER (ORDER BY m_cents, "
    "  o_custkey) AS BIGINT) AS seg_to FROM h WHERE half = 1) "
    "SELECT coalesce(seg_from, 0) AS seg_from, "
    "coalesce(seg_to, 0) AS seg_to, "
    "CAST(count(*) AS BIGINT) AS n_customers "
    "FROM t0 FULL JOIN t1 USING (o_custkey) GROUP BY 1, 2",
)
def q_customer_segment_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monetary-quintile migration matrix between calendar halves
    (entered/lapsed as segment 0 — analytics.segment_migration)."""
    return analytics.segment_migration(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Anomaly / drift detection over the hourly value series (operators/
# analytics.py) — shared integer-cents hourly rollup, mirrored here as a
# shared oracle CTE.
# --------------------------------------------------------------------------

_HOURLY_CENTS_CTE = (
    "WITH hourly AS (SELECT event_type, epoch_ms(ts) // 3600000 AS bucket, "
    "  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents "
    "  FROM events GROUP BY 1, 2)"
)


@_q(
    "rolling_zscore_anomalies",
    _HOURLY_CENTS_CTE + ", "
    "w AS (SELECT event_type, bucket, cents, "
    "  count(*) OVER fr AS n_prior, "
    "  sum(cents) OVER fr AS sum_prior, "
    "  sum(CAST(cents AS HUGEINT) * cents) OVER fr AS sumsq_prior "
    "  FROM hourly WINDOW fr AS (PARTITION BY event_type ORDER BY bucket "
    "  ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)) "
    "SELECT event_type, bucket, cents, "
    "CAST(n_prior AS BIGINT) AS n_prior, "
    "CAST(sum_prior AS BIGINT) AS sum_prior, "
    "CAST(CASE WHEN n_prior >= 3 AND "
    "  (CAST(n_prior AS HUGEINT) * cents - sum_prior) "
    "  * (CAST(n_prior AS HUGEINT) * cents - sum_prior) "
    "  > 9 * (n_prior * sumsq_prior - CAST(sum_prior AS HUGEINT) * sum_prior) "
    "  THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly FROM w",
)
def q_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Division-free rolling 3-sigma anomaly flags per event type
    (analytics.rolling_zscore_anomalies; squares in DECIMAL(38,0),
    oracle mirrors with HUGEINT)."""
    return analytics.rolling_zscore_anomalies(load_table(spark, sf_dir, "events"))


@_q(
    "cusum_drift",
    _HOURLY_CENTS_CTE + ", "
    "cur AS (SELECT event_type, bucket, "
    "  count(*) OVER (PARTITION BY event_type) AS n_buckets, "
    "  row_number() OVER (PARTITION BY event_type ORDER BY bucket) AS k_idx, "
    "  sum(cents) OVER (PARTITION BY event_type ORDER BY bucket "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix_cents, "
    "  sum(cents) OVER (PARTITION BY event_type) AS total_cents FROM hourly), "
    "d AS (SELECT event_type, bucket, n_buckets, "
    "  n_buckets * prefix_cents - k_idx * total_cents AS drift FROM cur), "
    "r AS (SELECT event_type, bucket, n_buckets, drift, "
    "  row_number() OVER (PARTITION BY event_type "
    "  ORDER BY abs(drift) DESC, bucket ASC) AS rn FROM d) "
    "SELECT event_type, CAST(bucket AS BIGINT) AS change_bucket, "
    "CAST(drift AS BIGINT) AS peak_drift, "
    "CAST(n_buckets AS BIGINT) AS n_buckets FROM r WHERE rn = 1",
)
def q_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Divisionless CUSUM change-point per event type; |S_k| ties
    resolve to the earliest bucket (analytics.cusum_drift)."""
    return analytics.cusum_drift(load_table(spark, sf_dir, "events"))


# Attribution-window funnel: the oracle replays the identical
# conditional running-min window and the integer permille.
@_q(
    "funnel_conversion_window",
    "WITH vc AS (SELECT user_id, event_type, event_id, ts, "
    "  epoch_ms(ts) AS ms FROM events "
    "  WHERE event_type IN ('view', 'click')), "
    "v AS (SELECT user_id, event_type, ms, "
    "  min(CASE WHEN event_type = 'click' THEN ms END) OVER ("
    "    PARTITION BY user_id ORDER BY ts, event_id "
    "    ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click_ms "
    "  FROM vc), "
    "pu AS (SELECT user_id, "
    "  min(CASE WHEN next_click_ms - ms <= 600000 "
    "      THEN next_click_ms - ms END) AS best_latency_ms "
    "  FROM v WHERE event_type = 'view' GROUP BY user_id) "
    "SELECT CAST(count(*) AS BIGINT) AS n_view_users, "
    "CAST(count(best_latency_ms) AS BIGINT) AS n_converted, "
    "CAST(count(best_latency_ms) * 1000 // count(*) AS BIGINT) "
    "  AS conversion_permille, "
    "CAST(min(best_latency_ms) AS BIGINT) AS min_latency_ms FROM pu",
)
def q_funnel_conversion_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.funnel_conversion_window(
        load_table(spark, sf_dir, "events"), 600_000
    )


# Time-weighted average (state-weighted, not row-weighted): exact
# integer cross-products; the oracle replays the identical lead()
# segmentation and integer division.
@_q(
    "time_weighted_value",
    "WITH seg AS (SELECT event_type, event_id, "
    "  CAST(round(value * 100) AS BIGINT) AS cents, "
    "  epoch_ms(ts) AS ms, "
    "  lead(epoch_ms(ts)) OVER (PARTITION BY event_type "
    "    ORDER BY ts, event_id) AS next_ms FROM events), "
    "lastv AS (SELECT event_type, cents AS last_cents FROM ("
    "  SELECT event_type, cents, row_number() OVER ("
    "    PARTITION BY event_type ORDER BY ms DESC, event_id DESC) AS rn "
    "  FROM seg) WHERE rn = 1) "
    "SELECT s.event_type, "
    "CAST(sum(CASE WHEN next_ms IS NOT NULL "
    "  THEN cents * (next_ms - ms) END) "
    "  // sum(CASE WHEN next_ms IS NOT NULL THEN next_ms - ms END) "
    "  AS BIGINT) AS twap_cents, "
    "CAST(sum(CASE WHEN next_ms IS NOT NULL THEN next_ms - ms END) "
    "  AS BIGINT) AS span_ms, "
    "max(l.last_cents) AS last_cents, "
    "CAST(count(*) AS BIGINT) AS n_obs "
    "FROM seg s JOIN lastv l USING (event_type) "
    "GROUP BY s.event_type",
)
def q_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.time_weighted_value(load_table(spark, sf_dir, "events"))


# Total-variation feature drift between alternating-day populations:
# a pure rational of the bin counts (cross-products in exact integer
# arithmetic; DuckDB's HUGEINT sums mirror the DECIMAL(38,0) path).
@_q(
    "feature_drift_tv",
    "WITH binned AS (SELECT event_type, "
    "  (epoch_ms(ts) // 86400000) % 2 AS side, "
    "  LEAST(19, CAST(round(value * 100) AS BIGINT) // 2500) AS bin "
    "  FROM events), "
    "per_bin AS (SELECT event_type, bin, "
    "  sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS na, "
    "  sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS nb "
    "  FROM binned GROUP BY 1, 2), "
    "tot AS (SELECT event_type, bin, na, nb, "
    "  sum(na) OVER (PARTITION BY event_type) AS ta, "
    "  sum(nb) OVER (PARTITION BY event_type) AS tb FROM per_bin) "
    "SELECT event_type, "
    "CAST(max(ta) AS BIGINT) AS n_even_days, "
    "CAST(max(tb) AS BIGINT) AS n_odd_days, "
    # zero-side guard mirrors the operator: a type seen on only one
    # parity side is full drift (DuckDB's x // 0 is NULL, not 1000)
    "CASE WHEN max(ta) > 0 AND max(tb) > 0 THEN "
    "CAST(1000 * sum(abs(na * tb - nb * ta)) // (2 * max(ta) * max(tb)) "
    "  AS BIGINT) ELSE CAST(1000 AS BIGINT) END AS tv_permille "
    "FROM tot GROUP BY event_type",
)
def q_feature_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    return analytics.feature_drift_tv(load_table(spark, sf_dir, "events"))


@_q(
    "ewma_hourly",
    _HOURLY_CENTS_CTE + ", "
    "l AS (SELECT event_type, bucket, cents, "
    "  lag(cents, 1) OVER w AS l1, lag(cents, 2) OVER w AS l2, "
    "  lag(cents, 3) OVER w AS l3 "
    "  FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY bucket)) "
    "SELECT event_type, bucket, cents, "
    "CAST((8 * cents + 4 * coalesce(l1, 0) + 2 * coalesce(l2, 0) "
    "  + coalesce(l3, 0)) // "
    "  (8 + CASE WHEN l1 IS NOT NULL THEN 4 ELSE 0 END "
    "  + CASE WHEN l2 IS NOT NULL THEN 2 ELSE 0 END "
    "  + CASE WHEN l3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "AS ewma_cents FROM l",
)
def q_ewma_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point dyadic-kernel EWMA over the hourly series
    (analytics.ewma_hourly)."""
    return analytics.ewma_hourly(load_table(spark, sf_dir, "events"))


@_q(
    "seasonal_baseline_residuals",
    _HOURLY_CENTS_CTE + ", "
    "hb AS (SELECT event_type, bucket, cents, "
    "  CAST((bucket // 24 + 4) % 7 AS BIGINT) AS dow, "
    "  CAST(bucket % 24 AS BIGINT) AS hod FROM hourly), "
    "cells AS (SELECT event_type, dow, hod, "
    "  CAST(sum(cents) // count(*) AS BIGINT) AS baseline_cents "
    "  FROM hb GROUP BY 1, 2, 3) "
    "SELECT hb.event_type, hb.bucket, hb.dow, hb.hod, hb.cents, "
    "cells.baseline_cents, "
    "CAST(hb.cents - cells.baseline_cents AS BIGINT) AS residual_cents "
    "FROM hb JOIN cells USING (event_type, dow, hod)",
)
def q_seasonal_baseline_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer residuals against the (type, dow, hod) seasonal-cell
    baseline (analytics.seasonal_baseline_residuals)."""
    return analytics.seasonal_baseline_residuals(
        load_table(spark, sf_dir, "events")
    )


@_q(
    "walk_forward_split",
    "WITH base AS (SELECT epoch_ms(o_orderdate) // 86400000 AS d, "
    "  CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders), "
    "b AS (SELECT (min(d) + max(d)) // 2 AS cut FROM base), "
    "t AS (SELECT CASE WHEN d < cut - 30 THEN 'train' "
    "  WHEN d >= cut THEN 'test' ELSE 'embargo' END AS split, d, c "
    "  FROM base, b) "
    "SELECT split, CAST(count(*) AS BIGINT) AS n_orders, "
    "CAST(sum(c) AS BIGINT) AS total_cents, "
    "CAST(min(d) AS BIGINT) AS first_day, "
    "CAST(max(d) AS BIGINT) AS last_day FROM t GROUP BY 1",
)
def q_walk_forward_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe walk-forward train/embargo/test manifest, 30-day
    embargo, midpoint cut (analytics.walk_forward_split)."""
    return analytics.walk_forward_split(load_table(spark, sf_dir, "orders"))


# --------------------------------------------------------------------------
# Corpus rarity / per-language signatures / rendezvous routing
# (functions/text.py)
# --------------------------------------------------------------------------

@_q(
    "doc_rarity_scores",
    _TOKS_CTE + ", "
    "dt AS (SELECT DISTINCT doc_id, tok FROM toksf), "
    "tdf AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1) "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_distinct, "
    "CAST(sum(tdf.df) AS BIGINT) AS sum_df, "
    "CAST((sum(tdf.df) * 1000) // count(*) AS BIGINT) AS mean_df_milli "
    "FROM dt JOIN tdf USING (tok) GROUP BY doc_id",
)
def q_doc_rarity_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-document-frequency rarity score per document, exact
    integers (text.doc_rarity_scores)."""
    return text.doc_rarity_scores(load_table(spark, sf_dir, "documents"))


@_q(
    "topk_terms_per_lang",
    "WITH lt AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS tok "
    "  FROM documents), "
    "dt AS (SELECT DISTINCT lang, doc_id, tok FROM lt WHERE tok <> ''), "
    "tdf AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS df "
    "  FROM dt GROUP BY 1, 2), "
    "r AS (SELECT lang, tok, df, row_number() OVER (PARTITION BY lang "
    "  ORDER BY df DESC, tok ASC) AS rnk FROM tdf) "
    "SELECT lang, CAST(rnk AS BIGINT) AS rnk, tok, df FROM r WHERE rnk <= 5",
)
def q_topk_terms_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most document-frequent terms per language
    (text.topk_terms_per_lang; plans as WindowGroupLimit)."""
    return text.topk_terms_per_lang(load_table(spark, sf_dir, "documents"))


@_q(
    "rendezvous_shard_assignment",
    "WITH cand AS (SELECT doc_id, s.shard, "
    "  CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || "
    "  CAST(s.shard AS VARCHAR)), 1, 12)) AS BIGINT) AS w "
    "  FROM documents, (SELECT unnest(range(0, 8)) AS shard) s) "
    "SELECT doc_id, CAST(shard AS BIGINT) AS shard FROM cand "
    "QUALIFY row_number() OVER (PARTITION BY doc_id "
    "ORDER BY w DESC, shard DESC) = 1",
)
def q_rendezvous_shard_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (HRW) routing of every document to one of 8 shards —
    minimal-movement resharding, portable md5 weights
    (text.rendezvous_shard_assignment)."""
    return text.rendezvous_shard_assignment(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Multi-source BFS over the bounded co-purchase subgraph
# (operators/graph.py)
# --------------------------------------------------------------------------

@_q(
    "bfs_k_hop",
    "WITH op0 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem "
    "  WHERE l_partkey < 500), "
    "keep AS (SELECT l_orderkey FROM op0 GROUP BY 1 HAVING count(*) <= 50), "
    "op AS (SELECT op0.l_orderkey, op0.l_partkey FROM op0 "
    "  JOIN keep USING (l_orderkey)), "
    "e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst "
    "  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey "
    "  AND a.l_partkey < b.l_partkey), "
    "e AS (SELECT src, dst FROM e0 "
    "  UNION SELECT dst AS src, src AS dst FROM e0), "
    "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e), "
    "seeds AS (SELECT node, CAST(0 AS BIGINT) AS depth FROM nodes "
    "  ORDER BY node LIMIT 5), "
    "v1 AS (SELECT node, min(depth) AS depth FROM ("
    "  SELECT node, depth FROM seeds UNION ALL "
    "  SELECT e.dst AS node, 1 AS depth FROM seeds "
    "  JOIN e ON seeds.node = e.src) GROUP BY 1), "
    "v2 AS (SELECT node, min(depth) AS depth FROM ("
    "  SELECT node, depth FROM v1 UNION ALL "
    "  SELECT e.dst AS node, 2 AS depth FROM v1 "
    "  JOIN e ON v1.node = e.src AND v1.depth = 1) GROUP BY 1), "
    "v3 AS (SELECT node, min(depth) AS depth FROM ("
    "  SELECT node, depth FROM v2 UNION ALL "
    "  SELECT e.dst AS node, 3 AS depth FROM v2 "
    "  JOIN e ON v2.node = e.src AND v2.depth = 2) GROUP BY 1) "
    "SELECT node, CAST(depth AS BIGINT) AS depth FROM v3",
)
def q_bfs_k_hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-hop multi-source BFS (5 smallest-id seeds) over the
    symmetrized bounded co-purchase subgraph — min-hop distances are
    order-independent, so the oracle unrolls the same rounds as CTEs
    (graph.bfs_k_hop)."""
    from .operators import graph as _g

    e0 = _g.canonical_copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    und = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # The edge list joins the frontier once per hop (plus the seed
    # scan) — pin the bounded subgraph once instead of re-deriving the
    # basket-capped distinct + self-join every round.
    return _g.bfs_k_hop(und.localCheckpoint())


# --------------------------------------------------------------------------
# CDC log compaction — the retention operator between full history and
# the B2 snapshot (operators/cdc.py:log_compaction)
# --------------------------------------------------------------------------

@_q(
    "cdc_log_compaction",
    CHANGES_CTE + ", "
    "r AS (SELECT *, row_number() OVER (PARTITION BY table_name, key "
    "  ORDER BY commit_ts_ms DESC, event_id DESC) AS version_rank "
    "  FROM changes), "
    "wm AS (SELECT max(commit_ts_ms) - 30000 AS cutoff FROM changes), "
    "r2 AS (SELECT r.*, wm.cutoff, "
    "  max(CASE WHEN version_rank = 1 AND action = 'D' "
    "  AND commit_ts_ms < wm.cutoff THEN 1 ELSE 0 END) OVER "
    "  (PARTITION BY table_name, key) AS kill "
    "  FROM r, wm WHERE version_rank <= 2) "
    "SELECT event_id, table_name, transaction_id, commit_ts_ms, action, "
    "key, val_cents, CAST(version_rank AS BIGINT) AS version_rank "
    "FROM r2 WHERE kill = 0 "
    "AND NOT (action = 'D' AND commit_ts_ms < cutoff)",
)
def q_cdc_log_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka-style log compaction: newest 2 versions per (table, key),
    tombstones older than the 30 s retention watermark GC'd — bounds
    the unbounded audit-log growth the reference re-scans forever
    (cdc.log_compaction)."""
    return cdc.log_compaction(changes_df(spark, sf_dir))


# --------------------------------------------------------------------------
# CUBE — the remaining member of the grouped-subtotal family
# (rollup_two_level and grouping_sets_order_status cover the others)
# --------------------------------------------------------------------------

@_q(
    "cube_order_dims",
    "SELECT coalesce(o_orderstatus, '(all)') AS status, "
    "coalesce(o_orderpriority, '(all)') AS priority, "
    "CAST(grouping(o_orderstatus) AS BIGINT) AS g_status, "
    "CAST(grouping(o_orderpriority) AS BIGINT) AS g_priority, "
    "count(*) AS n_orders, "
    "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) "
    "AS total_cents "
    "FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)",
)
def q_cube_order_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (status, priority) — all four grouping sets in
    ONE Expand pass over the scan (the shape GROUPING SETS covers only
    by listing them; the cube surface is its own API).  grouping()
    disambiguates genuine NULL group values from subtotal rows."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").cast("long").alias("g_status"),
            F.grouping("o_orderpriority").cast("long").alias("g_priority"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .select(
            F.coalesce(F.col("o_orderstatus"), F.lit("(all)")).alias("status"),
            F.coalesce(F.col("o_orderpriority"), F.lit("(all)")).alias(
                "priority"
            ),
            "g_status",
            "g_priority",
            "n_orders",
            "total_cents",
        )
    )


# --------------------------------------------------------------------------
# Language-ID evaluation: confusion matrix over the labeled corpus,
# composed from the lang_id operator (and its oracle) — the quality
# gate a language router runs before trusting predictions.
# --------------------------------------------------------------------------

@_q(
    "lang_confusion_matrix",
    "WITH li AS (SELECT lang, lang_pred FROM ("
    + ORACLES["lang_id"]
    + ")) SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(CASE WHEN lang = lang_pred THEN 1 ELSE 0 END AS BIGINT) "
    "AS is_correct FROM li GROUP BY 1, 2",
)
def q_lang_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted-vs-actual language counts (|langs|²-bounded output):
    composes text.lang_id, so the evaluation itself is hash-verified
    end-to-end like ann_recall_report."""
    return (
        text.lang_id(load_table(spark, sf_dir, "documents"), spark)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .withColumn(
            "is_correct",
            (F.col("lang") == F.col("lang_pred")).cast("long"),
        )
    )


# --------------------------------------------------------------------------
# Matryoshka-truncation retrieval audit: exact top-k at a truncated
# embedding prefix (16 of 64 dims) vs the full-dimension exact top-k —
# the measurement behind MRL-style dimension-reduction serving
# decisions (truncate 4×, keep how much recall?).
# --------------------------------------------------------------------------

_EMB16_TOPK = (
    "WITH e16 AS (SELECT vec_id, (embedding::DOUBLE[])[1:16] AS emb, "
    "sqrt(list_dot_product((embedding::DOUBLE[])[1:16], "
    "(embedding::DOUBLE[])[1:16])) AS norm FROM embeddings), "
    "q AS (SELECT vec_id AS query_id, emb AS qe, norm AS qn FROM e16 "
    "  WHERE vec_id < 5), "
    "c AS (SELECT vec_id AS neighbor_id, emb AS ce, norm AS cn FROM e16 "
    "  WHERE vec_id >= 5), "
    "s AS (SELECT query_id, neighbor_id, "
    "round(list_dot_product(qe, ce) / (qn * cn), 6) AS cosine FROM q, c) "
    "SELECT query_id, neighbor_id FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s) t "
    "WHERE rank <= 10"
)


@_q(
    "matryoshka_recall_report",
    "WITH fx AS (SELECT query_id, neighbor_id FROM ("
    + ORACLES["topk_cosine_similarity"]
    + ")), tr AS (" + _EMB16_TOPK + "), "
    "h AS (SELECT fx.query_id, CAST(count(tr.neighbor_id) AS BIGINT) "
    "AS n_hits FROM fx LEFT JOIN tr ON fx.query_id = tr.query_id "
    "AND fx.neighbor_id = tr.neighbor_id GROUP BY 1) "
    "SELECT query_id, CAST(16 AS BIGINT) AS dims, "
    "CAST(10 AS BIGINT) AS k, n_hits, "
    "CAST(n_hits * 10000 // 10 AS BIGINT) AS recall_bp FROM h",
)
def q_matryoshka_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of exact retrieval on the FIRST 16 of 64 embedding
    dimensions vs the full-dimension exact top-k — both sides run the
    same block-partitioned exact kernel (similarity.topk_cosine), the
    truncated side on F.slice of the vector; the oracle recomputes
    both rankings and the join in SQL.

    Scale: the truncated scan is the 4×-cheaper serving candidate;
    both sides stay result-set-sized after their top-k, so the audit
    join is q·k rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    full = similarity.topk_cosine(emb, 5, 10).select("query_id", "neighbor_id")
    trunc = similarity.topk_cosine(
        emb.withColumn("embedding", F.slice("embedding", 1, 16)), 5, 10
    ).select(F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn"))
    hits = (
        full.join(
            trunc,
            (F.col("query_id") == F.col("tq"))
            & (F.col("neighbor_id") == F.col("tn")),
            "left",
        )
        .groupBy("query_id")
        .agg(F.count("tn").alias("n_hits"))
    )
    return hits.select(
        "query_id",
        F.lit(16).cast("long").alias("dims"),
        F.lit(10).cast("long").alias("k"),
        "n_hits",
        F.expr("n_hits * 10000 DIV 10").cast("long").alias("recall_bp"),
    )


# --------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion of the lexical (BM25) and
# semantic (exact cosine) rankings — the standard hybrid-search merge,
# in exact integer micro-units so the fused ranking is hash-stable.
# --------------------------------------------------------------------------

_COS_Q0_TOP20 = (
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb, "
    "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) "
    "AS norm FROM embeddings), "
    "q AS (SELECT emb AS qe, norm AS qn FROM e WHERE vec_id = 0), "
    "c AS (SELECT vec_id AS doc_id, emb AS ce, norm AS cn FROM e "
    "  WHERE vec_id >= 1), "
    "s AS (SELECT doc_id, round(list_dot_product(qe, ce) / (qn * cn), 6) "
    "  AS cosine FROM q, c) "
    "SELECT doc_id, rank FROM (SELECT doc_id, row_number() OVER "
    "  (ORDER BY cosine DESC, doc_id ASC) AS rank FROM s) t "
    "WHERE rank <= 20"
)


@_q(
    "rrf_hybrid_retrieval",
    "WITH bm AS (SELECT doc_id, rank AS r_bm25 FROM ("
    + ORACLES["bm25_doc_ranking"]
    + ")), cs AS (SELECT doc_id, rank AS r_cos FROM (" + _COS_Q0_TOP20 + ")), "
    "f AS (SELECT coalesce(bm.doc_id, cs.doc_id) AS doc_id, "
    "  bm.r_bm25 AS r_bm25, cs.r_cos AS r_cos, "
    "  coalesce(1000000 // (60 + bm.r_bm25), 0) "
    "  + coalesce(1000000 // (60 + cs.r_cos), 0) AS rrf_micro "
    "  FROM bm FULL JOIN cs ON bm.doc_id = cs.doc_id) "
    "SELECT doc_id, CAST(r_bm25 AS BIGINT) AS r_bm25, "
    "CAST(r_cos AS BIGINT) AS r_cos, CAST(rrf_micro AS BIGINT) "
    "AS rrf_micro, CAST(row_number() OVER (ORDER BY rrf_micro DESC, "
    "doc_id ASC) AS BIGINT) AS fused_rank FROM f",
)
def q_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of BM25 top-20 (fixed query
    terms) and exact-cosine top-20 for query vector 0 (vec_id ≙
    doc_id in the fixtures): ``rrf = Σ 1000000 DIV (60 + rank)`` —
    integer micro-units, so the fused ranking is deterministic and
    hash-oracle-able.  Composes the two existing operators AND their
    oracles, like ann_recall_report.

    Scale: fusion runs over the UNION of two top-k result sets (≤ 40
    rows here) — result-set-sized regardless of corpus size; the
    final rank window is over that same tiny set."""
    bm = text.bm25_rank(load_table(spark, sf_dir, "documents")).select(
        "doc_id", F.col("rank").alias("r_bm25")
    )
    cs = similarity.topk_cosine(
        load_table(spark, sf_dir, "embeddings"), 1, 20
    ).select(F.col("neighbor_id").alias("cdoc"), F.col("rank").alias("r_cos"))
    fused = (
        bm.join(cs, bm["doc_id"] == cs["cdoc"], "full")
        .select(
            F.coalesce(F.col("doc_id"), F.col("cdoc")).alias("doc_id"),
            F.col("r_bm25").cast("long").alias("r_bm25"),
            F.col("r_cos").cast("long").alias("r_cos"),
            (
                F.coalesce(
                    F.expr("1000000 DIV (60 + r_bm25)"), F.lit(0)
                )
                + F.coalesce(F.expr("1000000 DIV (60 + r_cos)"), F.lit(0))
            ).cast("long").alias("rrf_micro"),
        )
    )
    w = Window.orderBy(F.col("rrf_micro").desc(), F.col("doc_id").asc())
    return fused.withColumn(
        "fused_rank", F.row_number().over(w).cast("long")
    )


# --------------------------------------------------------------------------
# Round 6: interval-overlap join, record linkage, collocation lift,
# DSIR-style importance scoring
# --------------------------------------------------------------------------

@_q(
    "interval_overlap_pairs",
    "WITH e AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms "
    "  FROM events), "
    "a AS (SELECT user_id, event_id, ms AS lo, "
    "  ms + (event_id % 7 + 1) * 3600000 AS hi FROM e "
    "  WHERE event_type = 'click'), "
    "b AS (SELECT user_id, event_id, ms AS lo, "
    "  ms + (event_id % 5 + 1) * 3600000 AS hi FROM e "
    "  WHERE event_type = 'purchase') "
    "SELECT a.user_id AS user_id, CAST(count(*) AS BIGINT) AS n_pairs, "
    "CAST(sum(least(a.hi, b.hi) - greatest(a.lo, b.lo)) AS BIGINT) "
    "  AS sum_overlap_ms, "
    "CAST(max(least(a.hi, b.hi) - greatest(a.lo, b.lo)) AS BIGINT) "
    "  AS max_overlap_ms, "
    "CAST(count(DISTINCT a.event_id) AS BIGINT) AS n_left, "
    "CAST(count(DISTINCT b.event_id) AS BIGINT) AS n_right "
    "FROM a JOIN b ON a.user_id = b.user_id "
    "  AND a.lo <= b.hi AND b.lo <= a.hi "
    "GROUP BY 1",
)
def q_interval_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-cell interval-overlap join (relational.interval_overlap_join):
    the oracle states the semantics as the naive theta-join; the Spark
    plan is the scale form — equi-join on (user, cell), emit-once at
    the first common cell, residual ms predicate."""
    return relational.interval_overlap_join(
        load_table(spark, sf_dir, "events")
    )


@_q(
    "er_record_linkage",
    "WITH p AS (SELECT p_partkey AS k, p_name AS f1, p_brand AS f2, "
    "  p_type AS f3, CAST(p_size AS VARCHAR) AS f4 FROM part) "
    "SELECT a.k AS a_key, b.k AS b_key, "
    "CAST((a.f1 = b.f1)::INT + (a.f2 = b.f2)::INT + (a.f3 = b.f3)::INT "
    "  + (a.f4 = b.f4)::INT AS BIGINT) AS n_agree "
    "FROM p a JOIN p b ON a.k < b.k "
    "WHERE (a.f1 = b.f1)::INT + (a.f2 = b.f2)::INT + (a.f3 = b.f3)::INT "
    "  + (a.f4 = b.f4)::INT >= 3",
)
def q_er_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-neighborhood record linkage (dedup.record_linkage_blocked):
    the oracle is the O(n²) field-agreement self-join — correct
    semantics at fixture scale; the Spark plan generates candidates
    from O(n·4) masked-field signatures instead (plan-asserted: no
    cartesian/nested-loop join)."""
    return dedup.record_linkage_blocked(load_table(spark, sf_dir, "part"))


@_q(
    "collocation_lift_topk",
    "WITH toks AS (SELECT string_split(text, ' ') AS a FROM documents), "
    "tot AS (SELECT CAST(sum(len(a)) AS BIGINT) AS nu, "
    "  CAST(count(*) AS BIGINT) AS nd FROM toks), "
    "ucnt AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM "
    "  (SELECT unnest(a) AS w FROM toks) GROUP BY 1), "
    "bcnt AS (SELECT x, y, CAST(count(*) AS BIGINT) AS n_xy FROM "
    "  (SELECT a[i + 1] AS x, a[i + 2] AS y FROM toks, "
    "   unnest(range(len(a) - 1)) AS u(i)) GROUP BY 1, 2 "
    "  HAVING count(*) >= 5) "
    "SELECT x, y, n_xy, "
    "CAST((1000::HUGEINT * n_xy * t.nu * t.nu) "
    "  // ((t.nu - t.nd) * ux.c * uy.c) AS BIGINT) AS lift_permille "
    "FROM bcnt JOIN ucnt ux ON bcnt.x = ux.w "
    "JOIN ucnt uy ON bcnt.y = uy.w CROSS JOIN tot t "
    "ORDER BY lift_permille DESC, x, y LIMIT 50",
)
def q_collocation_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k collocations by integer lift (text.collocation_lift) —
    PMI's monotone twin with no libm in compared values."""
    return text.collocation_lift(load_table(spark, sf_dir, "documents"))


@_q(
    "domain_affinity_select",
    "WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS a "
    "  FROM documents), "
    "bg AS (SELECT doc_id, lang, a[i + 1] || ' ' || a[i + 2] AS g "
    "  FROM d, unnest(range(len(a) - 1)) AS u(i)), "
    "hb AS (SELECT doc_id, lang, "
    "  CAST(('0x' || substr(md5(g), 1, 12)) AS BIGINT) % 4096 AS b FROM bg), "
    "tc AS (SELECT b, CAST(count(*) AS BIGINT) AS t FROM hb "
    "  WHERE lang = 'en' GROUP BY 1), "
    "ac AS (SELECT b, CAST(count(*) AS BIGINT) AS c FROM hb GROUP BY 1), "
    "ds AS (SELECT doc_id, max(hb.lang) AS lang, "
    "  CAST(1000 * sum(coalesce(t, 0)) // sum(c) AS BIGINT) AS score "
    "  FROM hb LEFT JOIN tc USING (b) JOIN ac USING (b) GROUP BY doc_id) "
    "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum((score >= 430)::INT) AS BIGINT) AS n_selected, "
    "CAST(sum(score) AS BIGINT) AS sum_score, "
    "min(score) AS min_score, max(score) AS max_score "
    "FROM ds GROUP BY 1",
)
def q_domain_affinity_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style hashed-bigram importance scoring per language slice
    (text.domain_affinity_scores)."""
    return text.domain_affinity_scores(load_table(spark, sf_dir, "documents"))


@_q(
    "interval_user_coverage",
    "WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ms FROM events), "
    "iv AS (SELECT user_id, event_id, ms AS lo, "
    "  ms + (event_id % 7 + 1) * 3600000 AS hi FROM e), "
    "m AS (SELECT user_id, event_id, lo, hi, "
    "  max(hi) OVER (PARTITION BY user_id ORDER BY lo, event_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv), "
    "g AS (SELECT user_id, lo, hi, "
    "  sum(CASE WHEN pm IS NULL OR lo > pm THEN 1 ELSE 0 END) "
    "  OVER (PARTITION BY user_id ORDER BY lo, event_id "
    "  ROWS UNBOUNDED PRECEDING) AS grp FROM m), "
    "isl AS (SELECT user_id, grp, min(lo) AS ilo, max(hi) AS ihi "
    "  FROM g GROUP BY 1, 2) "
    "SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands, "
    "CAST(sum(ihi - ilo) AS BIGINT) AS covered_ms, "
    "CAST(max(ihi - ilo) AS BIGINT) AS max_island_ms "
    "FROM isl GROUP BY 1",
)
def q_interval_user_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval union sweep per user (relational.interval_coverage_per_user)."""
    return relational.interval_coverage_per_user(
        load_table(spark, sf_dir, "events")
    )


@_q(
    "graph_degree_assortativity",
    "WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), "
    "e AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst "
    "  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey "
    "  AND a.l_partkey <> b.l_partkey), "
    "deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1), "
    "dd AS (SELECT d1.deg AS j, d2.deg AS k FROM e "
    "  JOIN deg d1 ON e.src = d1.src JOIN deg d2 ON e.dst = d2.src), "
    "s AS (SELECT CAST(count(*) AS BIGINT) AS m_edges, "
    "  CAST(sum(j) AS BIGINT) AS s_j, CAST(sum(j * k) AS BIGINT) AS s_jk, "
    "  CAST(sum(j * j) AS BIGINT) AS s_jj FROM dd) "
    "SELECT m_edges, s_j, s_jk, s_jj, "
    "CASE WHEN m_edges::HUGEINT * s_jj - s_j::HUGEINT * s_j <> 0 THEN "
    "  CAST((10000::HUGEINT * (m_edges::HUGEINT * s_jk - s_j::HUGEINT * s_j)) "
    "  // (m_edges::HUGEINT * s_jj - s_j::HUGEINT * s_j) AS BIGINT) END AS r_bp "
    "FROM s",
)
def q_graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity in basis points over the co-purchase graph
    (operators/graph.py:degree_assortativity)."""
    from .operators import graph as _g

    return _g.degree_assortativity(
        _g.copurchase_edges(load_table(spark, sf_dir, "lineitem"))
    )


_ER_GROUPS_ORACLE = (
    "WITH RECURSIVE pairs AS ("
    + ORACLES["er_record_linkage"]
    + "), edges AS (SELECT a_key AS a, b_key AS b FROM pairs "
    "UNION SELECT b_key, a_key FROM pairs), "
    "reach(s, t) AS (SELECT a, b FROM edges "
    "UNION SELECT r.s, e.b FROM reach r JOIN edges e ON r.t = e.a), "
    "lab AS (SELECT s AS k, least(s, min(t)) AS cid FROM reach GROUP BY s), "
    "cs AS (SELECT cid, CAST(count(*) AS BIGINT) AS cluster_size "
    "  FROM lab GROUP BY 1) "
    "SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters, "
    "CAST(sum(cid) AS BIGINT) AS sum_min_keys FROM cs GROUP BY 1"
)


@_q("er_entity_groups", _ER_GROUPS_ORACLE)
def q_er_entity_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity consolidation: record-linkage pairs → connected
    components (the same min-label loop as dedup_cluster_components)
    → cluster-size histogram.  cluster_id = the cluster's smallest
    part key on both engines, so sum_min_keys pins the clusters
    themselves, not just the sizes."""
    pairs = dedup.record_linkage_blocked(
        load_table(spark, sf_dir, "part")
    ).select(
        F.col("a_key").alias("doc_a"), F.col("b_key").alias("doc_b")
    )
    labels = dedup.connected_components(pairs)
    cs = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return cs.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("cluster_id").alias("sum_min_keys"),
    )


@_q(
    "bootstrap_metric_replicates",
    "WITH b AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS c "
    "  FROM events WHERE event_type = 'purchase'), "
    "r AS (SELECT event_id, c, rr.r AS rep, "
    "  CAST(('0x' || substr(md5(event_id || ':' || rr.r), 1, 12)) AS BIGINT) "
    "  % 1000 AS h FROM b, unnest(range(1, 21)) AS rr(r)), "
    "w AS (SELECT rep, c, CASE WHEN h < 368 THEN 0 WHEN h < 736 THEN 1 "
    "  WHEN h < 920 THEN 2 WHEN h < 981 THEN 3 WHEN h < 996 THEN 4 "
    "  ELSE 5 END AS w FROM r) "
    "SELECT CAST(rep AS BIGINT) AS replicate, "
    "CAST(sum(w) AS BIGINT) AS n_effective, "
    "CAST(sum(w * c) AS BIGINT) AS metric_cents "
    "FROM w GROUP BY 1",
)
def q_bootstrap_metric_replicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-driven Poisson bootstrap replicates of the purchase-cents
    metric (analytics.bootstrap_metric_replicates): the oracle unnests
    replicates; the Spark plan computes all 2R sums in ONE map-side
    aggregate and unpivots the single result row."""
    return analytics.bootstrap_metric_replicates(
        load_table(spark, sf_dir, "events")
    )


# LSH index-quality evaluation over the dedup tier (the ann_recall_report
# pattern applied to near-dup pairs): exact 3-gram Jaccard >= 0.8 over
# ALL docs is the ground truth; the banded MinHash-LSH pipeline is the
# candidate set.  Both relations already exist as oracles — the report
# composes them.
_JACCARD_TRUTH_SQL = (
    _shingle_cte(3) + ", "
    "inter AS (SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, "
    "  count(*) AS n_inter "
    "  FROM sh sa JOIN sh sb ON sa.shingle = sb.shingle "
    "  AND sa.doc_id < sb.doc_id GROUP BY 1, 2), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1) "
    + _JACCARD_SQL.format(min_bp=8000)
)

_LSH_RECALL_ORACLE = (
    "WITH t AS (SELECT doc_a, doc_b FROM (" + _JACCARD_TRUTH_SQL + ")), "
    "l AS (SELECT doc_a, doc_b FROM ("
    + ORACLES["dedup_minhash_lsh"]
    + ")), "
    "j AS (SELECT coalesce(t.doc_a, l.doc_a) AS da, "
    "  (t.doc_a IS NOT NULL)::INT AS in_t, (l.doc_a IS NOT NULL)::INT AS in_l "
    "  FROM t FULL OUTER JOIN l ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b) "
    "SELECT CAST(sum(in_t) AS BIGINT) AS n_truth, "
    "CAST(sum(in_l) AS BIGINT) AS n_lsh, "
    "CAST(sum(in_t * in_l) AS BIGINT) AS n_hits, "
    "CAST(1000 * sum(in_t * in_l) // greatest(sum(in_t), 1) AS BIGINT) "
    "  AS recall_permille, "
    "CAST(1000 * sum(in_t * in_l) // greatest(sum(in_l), 1) AS BIGINT) "
    "  AS precision_permille "
    "FROM j"
)


@_q("dedup_lsh_recall_report", _LSH_RECALL_ORACLE)
def q_dedup_lsh_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/precision of the banded MinHash-LSH near-dup pipeline
    against exact all-docs 3-gram Jaccard ground truth — the
    index-quality evaluation a dedup deployment runs before trusting
    the banding parameters (16 hashes x 4 bands here).  Evaluation-
    sized joins; the expensive relation (exact Jaccard) is the bounded
    verifier, run here over the full doc set."""
    docs = load_table(spark, sf_dir, "documents")
    truth = dedup.ngram_jaccard_pairs(docs, 3, 8000, None).select(
        "doc_a", "doc_b", F.lit(1).alias("in_t")
    )
    lsh = dedup.minhash_lsh_dedup(docs, 3, 0.8).select(
        "doc_a", "doc_b", F.lit(1).alias("in_l")
    )
    j = truth.join(lsh, ["doc_a", "doc_b"], "full").select(
        F.coalesce("in_t", F.lit(0)).alias("in_t"),
        F.coalesce("in_l", F.lit(0)).alias("in_l"),
    )
    return j.agg(
        F.sum("in_t").cast("long").alias("n_truth"),
        F.sum("in_l").cast("long").alias("n_lsh"),
        F.sum(F.col("in_t") * F.col("in_l")).cast("long").alias("n_hits"),
        F.expr(
            "CAST(1000 * sum(in_t * in_l) div greatest(sum(in_t), 1) "
            "AS BIGINT)"
        ).alias("recall_permille"),
        F.expr(
            "CAST(1000 * sum(in_t * in_l) div greatest(sum(in_l), 1) "
            "AS BIGINT)"
        ).alias("precision_permille"),
    )


_HOURLY_DOLLARS_CTE = (
    "WITH hourly AS (SELECT event_type, epoch_ms(ts) // 3600000 AS bucket, "
    "  sum(CAST(round(value * 100) AS BIGINT)) // 100 AS v "
    "  FROM events GROUP BY 1, 2)"
)


@_q(
    "hourly_autocorrelation",
    _HOURLY_DOLLARS_CTE + ", "
    "lags AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag_hours), "
    "pairs AS (SELECT a.event_type, l.lag_hours, "
    "  CAST(a.v AS HUGEINT) AS x, CAST(b.v AS HUGEINT) AS y "
    "  FROM hourly a CROSS JOIN lags l "
    "  JOIN hourly b ON b.event_type = a.event_type "
    "  AND b.bucket = a.bucket - l.lag_hours), "
    "m AS (SELECT event_type, lag_hours, CAST(count(*) AS HUGEINT) AS n, "
    "  sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, "
    "  sum(x*x) AS sxx, sum(y*y) AS syy FROM pairs GROUP BY 1, 2) "
    "SELECT event_type, CAST(lag_hours AS BIGINT) AS lag_hours, "
    "CAST(n AS BIGINT) AS n_pairs, "
    "CAST(CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) > 0 THEN "
    "  (CASE WHEN n*sxy - sx*sy < 0 THEN -1 ELSE 1 END) * "
    "  ((1000 * (n*sxy - sx*sy) * (n*sxy - sx*sy)) // "
    "   ((n*sxx - sx*sx) * (n*syy - sy*sy))) "
    "END AS BIGINT) AS acf_sq_signed_permille FROM m",
)
def q_hourly_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ACF of the hourly value series per event type at 1/2/3/6/12/24h
    lags (analytics.hourly_autocorrelation): gap-respecting self-
    alignment on calendar-bounded grain; signed-square permille keeps
    Pearson exact without a square root."""
    return analytics.hourly_autocorrelation(load_table(spark, sf_dir, "events"))


@_q(
    "forecast_backtest_accuracy",
    "WITH hourly AS (SELECT event_type, epoch_ms(ts) // 3600000 AS bucket, "
    "  sum(CAST(round(value * 100) AS BIGINT)) AS v "
    "  FROM events GROUP BY 1, 2), "
    "models AS (SELECT 'naive_1h' AS model, 1 AS lag_h UNION ALL "
    "  SELECT 'seasonal_24h', 24), "
    "pairs AS (SELECT a.event_type, m.model, a.v AS actual, b.v AS pred "
    "  FROM hourly a CROSS JOIN models m "
    "  JOIN hourly b ON b.event_type = a.event_type "
    "  AND b.bucket = a.bucket - m.lag_h) "
    "SELECT event_type, model, CAST(count(*) AS BIGINT) AS n_scored, "
    "CAST(sum(abs(actual - pred)) // count(*) AS BIGINT) AS mae_cents, "
    "CAST(CASE WHEN sum(abs(actual)) > 0 THEN "
    "  (1000 * sum(abs(actual - pred))) // sum(abs(actual)) END AS BIGINT) "
    "  AS wape_permille, "
    "CAST(sum(actual - pred) AS BIGINT) AS bias_cents "
    "FROM pairs GROUP BY 1, 2",
)
def q_forecast_backtest_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive vs seasonal-naive hourly forecast backtest
    (analytics.forecast_backtest_accuracy): exact-integer MAE / WAPE /
    bias per (type, model) over the gap-aligned hourly series — the
    error floor any real forecaster must beat."""
    return analytics.forecast_backtest_accuracy(
        load_table(spark, sf_dir, "events")
    )


@_q(
    "k_anonymity_audit",
    "WITH l0 AS (SELECT 'L0_nation_segment_balance' AS level, count(*) AS sz "
    "  FROM customer GROUP BY c_nationkey, c_mktsegment, "
    "  (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000), "
    "l1 AS (SELECT 'L1_region_segment' AS level, count(*) AS sz "
    "  FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "  GROUP BY n_regionkey, c_mktsegment), "
    "l2 AS (SELECT 'L2_segment' AS level, count(*) AS sz "
    "  FROM customer GROUP BY c_mktsegment), "
    "u AS (SELECT * FROM l0 UNION ALL SELECT * FROM l1 "
    "  UNION ALL SELECT * FROM l2) "
    "SELECT level, CAST(count(*) AS BIGINT) AS n_classes, "
    "CAST(min(sz) AS BIGINT) AS min_class_size, "
    "CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) "
    "  AS rows_below_k, "
    "CAST((1000 * sum(CASE WHEN sz < 5 THEN sz ELSE 0 END)) // sum(sz) "
    "  AS BIGINT) AS suppressed_permille "
    "FROM u GROUP BY 1",
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the customer quasi-identifier
    generalization ladder (analytics.k_anonymity_audit, k=5):
    re-identification risk + suppression cost per level — the privacy
    gate before publishing per-customer extracts."""
    return analytics.k_anonymity_audit(
        load_table(spark, sf_dir, "customer"),
        load_table(spark, sf_dir, "nation"),
    )


_FK_EDGE_ORACLE = (
    "SELECT '{edge}' AS fk_edge, CAST(count(*) AS BIGINT) AS child_rows, "
    "CAST(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS orphan_rows, "
    "CAST(count(DISTINCT CASE WHEN p IS NULL THEN k END) AS BIGINT) "
    "  AS orphan_keys "
    "FROM (SELECT c.{ck} AS k, par.{pk} AS p FROM {child} c "
    "  LEFT JOIN {parent} par ON c.{ck} = par.{pk} "
    "  WHERE c.{ck} IS NOT NULL)"
)

_FK_EDGES = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"),
]


@_q(
    "fk_orphan_audit",
    " UNION ALL ".join(
        _FK_EDGE_ORACLE.format(
            edge=f"{c}.{ck}->{p}.{pk}", child=c, ck=ck, parent=p, pk=pk
        )
        for c, ck, p, pk in _FK_EDGES
    ),
)
def q_fk_orphan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity orphan audit over every FK edge of the
    star schema + the feed's actor key (relational.fk_orphan_audit) —
    the detector for the reference's silent-skip restart bug
    (CoordinatorRunnable.java:87), which manifests as orphaned
    children after a partial extract."""
    tables = {
        t: load_table(spark, sf_dir, t)
        for t in (
            "lineitem", "orders", "part", "supplier",
            "customer", "nation", "region", "events",
        )
    }
    return relational.fk_orphan_audit(tables)


@_q(
    "setsim_prefix_filter_pairs",
    "WITH s AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p "
    "  FROM lineitem), "
    "sz AS (SELECT o, count(*) AS n FROM s GROUP BY o), "
    "pairs AS (SELECT a.o AS oa, b.o AS ob, count(*) AS inter "
    "  FROM s a JOIN s b ON a.p = b.p AND a.o < b.o GROUP BY 1, 2) "
    "SELECT oa AS order_a, ob AS order_b, "
    "CAST(inter AS BIGINT) AS inter_size, "
    "CAST(na.n + nb.n - inter AS BIGINT) AS union_size, "
    "CAST((1000 * inter) // (na.n + nb.n - inter) AS BIGINT) "
    "  AS jaccard_permille "
    "FROM pairs JOIN sz na ON oa = na.o JOIN sz nb ON ob = nb.o "
    "WHERE 1000 * inter >= 500 * (na.n + nb.n - inter)",
)
def q_setsim_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity join (PPJoin pruning rule) over
    order baskets at Jaccard >= 0.5 (dedup.setsim_prefix_filter_pairs):
    the oracle states the naive quadratic semantics; the Spark plan
    joins rare-first PREFIXES only — provably the same pair set."""
    return dedup.setsim_prefix_filter_pairs(
        load_table(spark, sf_dir, "lineitem")
    )


@_q(
    "embedding_power_iteration",
    "WITH p AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings), "
    "x AS (SELECT vec_id, CAST(unnest(range(0, len(emb))) AS BIGINT) AS i, "
    "  CAST(round(unnest(emb) * 1000) AS BIGINT) AS xi FROM p), "
    "c AS (SELECT a.i AS i, b.i AS j, "
    "  sum(CAST(a.xi AS HUGEINT) * b.xi) AS c "
    "  FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2), "
    "v0 AS (SELECT DISTINCT j AS vj, CAST(1000 AS HUGEINT) AS vv FROM c), "
    "y1 AS (SELECT i, sum(c * vv) AS y FROM c JOIN v0 ON j = vj GROUP BY i), "
    "m1 AS (SELECT max(abs(y)) AS m FROM y1), "
    "v1 AS (SELECT i AS vj, (CASE WHEN y < 0 THEN -1 ELSE 1 END) * "
    "  ((1000 * abs(y)) // greatest(m, 1)) AS vv FROM y1, m1), "
    "y2 AS (SELECT i, sum(c * vv) AS y FROM c JOIN v1 ON j = vj GROUP BY i), "
    "m2 AS (SELECT max(abs(y)) AS m FROM y2) "
    "SELECT CAST(i AS BIGINT) AS dim, "
    "CAST((CASE WHEN y < 0 THEN -1 ELSE 1 END) * "
    "  ((1000 * abs(y)) // greatest(m, 1)) AS BIGINT) AS loading_permille "
    "FROM y2, m2",
)
def q_embedding_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant PCA axis of the embedding cloud via two exact-integer
    power-iteration steps on the 64x64 second-moment matrix
    (similarity.embedding_power_iteration): the one data-sized stage
    is the Gram aggregate; iterations touch only the 4096-row C."""
    return similarity.embedding_power_iteration(
        load_table(spark, sf_dir, "embeddings")
    )


@_q(
    "cdc_order_inversion_audit",
    CHANGES_CTE
    + ", d AS (SELECT table_name, event_id, commit_ts_ms "
    "  - CASE WHEN transaction_id % 7 = 0 THEN 5000 ELSE 0 END AS ts2 "
    "  FROM changes), "
    "w AS (SELECT table_name, ts2, "
    "  max(ts2) OVER (PARTITION BY table_name ORDER BY event_id "
    "    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm FROM d) "
    "SELECT table_name, CAST(count(*) AS BIGINT) AS n_rows, "
    "CAST(sum(CASE WHEN hwm > ts2 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_inverted, "
    "CAST((1000 * sum(CASE WHEN hwm > ts2 THEN 1 ELSE 0 END)) // count(*) "
    "  AS BIGINT) AS inverted_permille, "
    "CAST(max(CASE WHEN hwm > ts2 THEN hwm - ts2 END) AS BIGINT) "
    "  AS max_lag_ms "
    "FROM w GROUP BY 1",
)
def q_cdc_order_inversion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-vs-commit-order inversion audit (cdc.order_inversion_audit):
    counts the rows the reference's poll loop would silently lose
    (CoordinatorRunnable.java:87 visibility assumption) and the
    watermark delay that would retain them; segmented two-pass running
    max, no per-table window over raw rows."""
    return cdc.order_inversion_audit(changes_df(spark, sf_dir))


@_q(
    "scd2_integrity_audit",
    CHANGES_CTE
    + ", h AS (SELECT table_name, key, action, "
    "  commit_ts_ms AS valid_from_ms, lead(commit_ts_ms) OVER w AS "
    "  valid_to_ms, "
    "  (lead(commit_ts_ms) OVER w IS NULL AND action <> 'D') AS is_current "
    "  FROM changes " + _SCD2_WINDOW + "), "
    "pk AS (SELECT table_name, key, count(*) AS n_versions, "
    "  sum(CASE WHEN valid_to_ms = valid_from_ms THEN 1 ELSE 0 END) "
    "    AS n_zero_span, "
    "  sum(CASE WHEN is_current THEN 1 ELSE 0 END) AS n_current, "
    "  max(CASE WHEN valid_to_ms IS NULL AND action = 'D' THEN 1 ELSE 0 "
    "    END) AS ends_deleted "
    "  FROM h GROUP BY 1, 2) "
    "SELECT table_name, CAST(count(*) AS BIGINT) AS n_keys, "
    "CAST(sum(n_versions) AS BIGINT) AS n_versions, "
    "CAST(max(n_versions) AS BIGINT) AS max_chain_len, "
    "CAST(sum(n_zero_span) AS BIGINT) AS n_zero_span_versions, "
    "CAST(sum(CASE WHEN n_current > 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_multi_current_keys, "
    "CAST(sum(CASE WHEN ends_deleted = 1 AND n_current > 0 THEN 1 ELSE 0 "
    "  END) AS BIGINT) AS n_deleted_current_keys "
    "FROM pk GROUP BY 1",
)
def q_scd2_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 version-chain health report (cdc.scd2_integrity_audit):
    zero-span versions, multi-current keys, deleted-but-current keys,
    chain depth — the post-MERGE DQ gate, certifying the invariants
    the lead-closed builder is supposed to guarantee."""
    return cdc.scd2_integrity_audit(changes_df(spark, sf_dir))


_SKEW_KEYS = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
    ("events", "event_type"),
]

_SKEW_KEY_ORACLE = (
    "SELECT '{tbl}.{col}' AS join_key, "
    "CAST(sum(kn) AS BIGINT) AS n_rows, "
    "CAST(count(*) AS BIGINT) AS n_keys, "
    "CAST(max(kn) AS BIGINT) AS top1_rows, "
    "CAST((1000 * max(kn)) // sum(kn) AS BIGINT) AS top1_share_permille, "
    "CAST((SELECT sum(kn) FROM (SELECT kn FROM (SELECT k, count(*) AS kn "
    "  FROM (SELECT {col} AS k FROM {tbl} WHERE {col} IS NOT NULL) "
    "  GROUP BY k) ORDER BY kn DESC, k ASC LIMIT 10)) AS BIGINT) "
    "  AS top10_rows, "
    "CAST((1000 * max(kn) * count(*)) // sum(kn) AS BIGINT) "
    "  AS top1_x_avg_permille "
    "FROM (SELECT k, count(*) AS kn FROM "
    "  (SELECT {col} AS k FROM {tbl} WHERE {col} IS NOT NULL) GROUP BY k)"
)


@_q(
    "join_key_skew_audit",
    " UNION ALL ".join(
        _SKEW_KEY_ORACLE.format(tbl=t, col=c) for t, c in _SKEW_KEYS
    ),
)
def q_join_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit (operators/skew.py:join_key_skew_audit):
    per candidate shuffle key — distinct counts, heaviest-key share,
    top-10 concentration, heaviest-vs-average multiple — the planning
    evidence behind the salting / AQE-skew-join / broadcast decisions
    SCALE.md prescribes."""
    from .operators import skew as _skew

    return _skew.join_key_skew_audit(
        {
            "lineitem": load_table(spark, sf_dir, "lineitem"),
            "orders": load_table(spark, sf_dir, "orders"),
            "events": load_table(spark, sf_dir, "events"),
        },
        [(t, c) for t, c in _SKEW_KEYS],
    )


@_q(
    "text_keyword_rake",
    "WITH toks AS (SELECT doc_id, "
    "  CAST(unnest(range(0, len(ws))) AS BIGINT) AS pos, unnest(ws) AS w "
    "  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)), "
    "t AS (SELECT * FROM toks WHERE w <> ''), "
    "df AS (SELECT w, count(DISTINCT doc_id) AS dfreq FROM t GROUP BY w), "
    "stop AS (SELECT w FROM df ORDER BY dfreq DESC, w ASC LIMIT 20), "
    "seg AS (SELECT doc_id, w, "
    "  (w IN (SELECT w FROM stop)) AS is_stop, "
    "  sum(CASE WHEN w IN (SELECT w FROM stop) THEN 1 ELSE 0 END) "
    "    OVER (PARTITION BY doc_id ORDER BY pos) AS pid FROM t), "
    "content AS (SELECT doc_id, pid, w FROM seg WHERE NOT is_stop), "
    "plen AS (SELECT doc_id, pid, count(*) AS lp FROM content "
    "  GROUP BY 1, 2), "
    "scored AS (SELECT c.w, count(*) AS freq, sum(lp) AS degree "
    "  FROM content c JOIN plen USING (doc_id, pid) GROUP BY c.w) "
    "SELECT w AS term, CAST(freq AS BIGINT) AS freq, "
    "CAST(degree AS BIGINT) AS degree, "
    "CAST((1000 * degree) // freq AS BIGINT) AS rake_milli "
    "FROM scored ORDER BY rake_milli DESC, degree DESC, term ASC LIMIT 20",
)
def q_text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (text.rake_keywords): corpus-derived
    stopword set, per-document phrase segmentation, degree/frequency
    scoring in exact integers, global top-20 via TakeOrdered."""
    return text.rake_keywords(load_table(spark, sf_dir, "documents"))


@_q(
    "doc_ngram_novelty",
    _shingle_cte(3) + ", "
    "sl AS (SELECT s.doc_id, d.lang, s.shingle FROM sh s "
    "  JOIN documents d USING (doc_id)), "
    "te AS (SELECT DISTINCT lang, shingle FROM sl WHERE doc_id % 5 = 4), "
    "tr AS (SELECT DISTINCT lang, shingle FROM sl WHERE doc_id % 5 <> 4) "
    "SELECT te.lang, CAST(count(*) AS BIGINT) AS n_test_types, "
    "CAST(sum(CASE WHEN tr.shingle IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_novel_types, "
    "CAST((1000 * sum(CASE WHEN tr.shingle IS NULL THEN 1 ELSE 0 END)) "
    "  // count(*) AS BIGINT) AS novelty_permille "
    "FROM te LEFT JOIN tr ON te.lang = tr.lang AND te.shingle = tr.shingle "
    "GROUP BY 1",
)
def q_doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out 3-gram novelty rate per language
    (text.ngram_novelty_by_lang): the generalization-eval twin of
    decontamination_overlap — how much of the arithmetic-membership
    test slice is text the training slice has never seen."""
    return text.ngram_novelty_by_lang(load_table(spark, sf_dir, "documents"))


# Second as-of instant for the snapshot diff: 2000 transactions after
# ASOF_MS, so the window contains inserts, updates AND applied deletes
# for orders at every sf, while the (tiny-txn-id) customer stream is
# fully inside both snapshots.
ASOF2_MS = ASOF_MS + 2_000_000

_SNAPSHOT_CTE = (
    "(SELECT table_name, key, val_cents FROM ("
    "  SELECT table_name, key, action, val_cents FROM {src} "
    "  WHERE commit_ts_ms <= {t} "
    "  QUALIFY row_number() OVER (PARTITION BY table_name, key "
    "  ORDER BY commit_ts_ms DESC, event_id DESC) = 1) "
    "WHERE action <> 'D')"
)

# The diff SELECT over two snapshot relations s1/s2 — shared by the
# plain and the NULL-value (nullsafe) diff oracles.  changed/unchanged
# use IS [NOT] DISTINCT FROM, mirroring snapshot_diff's eqNullSafe;
# presence is classified on KEY nullness (the full-join side marker),
# never on value nullness.
_DIFF_SELECT = (
    "SELECT coalesce(s1.table_name, s2.table_name) AS table_name, "
    "CAST(sum(CASE WHEN s1.key IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_added, "
    "CAST(sum(CASE WHEN s2.key IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_removed, "
    "CAST(sum(CASE WHEN s1.key IS NOT NULL AND s2.key IS NOT NULL "
    "  AND s1.val_cents IS DISTINCT FROM s2.val_cents "
    "  THEN 1 ELSE 0 END) AS BIGINT) AS n_changed, "
    "CAST(sum(CASE WHEN s1.key IS NOT NULL AND s2.key IS NOT NULL "
    "  AND s1.val_cents IS NOT DISTINCT FROM s2.val_cents "
    "  THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged "
    "FROM s1 FULL JOIN s2 ON s1.table_name = s2.table_name "
    "AND s1.key = s2.key GROUP BY 1"
)


@_q(
    "cdc_snapshot_diff",
    CHANGES_CTE
    + f", s1 AS {_SNAPSHOT_CTE.format(src='changes', t=ASOF_MS)}, "
    f"s2 AS {_SNAPSHOT_CTE.format(src='changes', t=ASOF2_MS)} "
    + _DIFF_SELECT,
)
def q_cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel diff between two as-of instants
    (cdc.snapshot_diff): per-table added/removed/changed/unchanged key
    counts — the audit of what a window of the change log DID, without
    replaying it row by row."""
    return cdc.snapshot_diff(changes_df(spark, sf_dir), ASOF_MS, ASOF2_MS)


@_q(
    "knn_label_noise",
    _EMB_CTE + ", "
    "q AS (SELECT vec_id AS query_id, emb AS qe, norm AS qn, label "
    "  FROM e JOIN embeddings USING (vec_id) WHERE vec_id < 50), "
    "c AS (SELECT vec_id AS neighbor_id, emb AS ce, norm AS cn, "
    "  label AS nlabel FROM e JOIN embeddings USING (vec_id) "
    "  WHERE vec_id >= 50), "
    "s AS (SELECT query_id, neighbor_id, nlabel, "
    "  round(list_dot_product(qe, ce) / (qn * cn), 6) AS cosine "
    "  FROM q, c), "
    "topk AS (SELECT query_id, nlabel FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s) "
    "  WHERE rank <= 5), "
    "v AS (SELECT query_id, nlabel, count(*) AS cnt FROM topk "
    "  GROUP BY 1, 2), "
    "p AS (SELECT query_id, nlabel AS pred FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY cnt DESC, nlabel ASC) AS rn FROM v) WHERE rn = 1) "
    "SELECT CAST(label AS BIGINT) AS label, "
    "CAST(count(*) AS BIGINT) AS n_eval, "
    "CAST(sum(CASE WHEN pred <> label THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_disagree, "
    "CAST((1000 * sum(CASE WHEN pred <> label THEN 1 ELSE 0 END)) "
    "  // count(*) AS BIGINT) AS noise_permille "
    "FROM embeddings JOIN p ON vec_id = query_id GROUP BY 1",
)
def q_knn_label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise detection by holdout kNN agreement
    (similarity.knn_label_agreement): majority label of the exact
    top-5 cosine neighbors vs the stored label, per label — the
    embedding-hygiene sweep for mislabeled examples."""
    return similarity.knn_label_agreement(
        load_table(spark, sf_dir, "embeddings")
    )


@_q(
    "embedding_centroid_shift",
    "WITH p AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb "
    "  FROM embeddings), "
    "x AS (SELECT label, vec_id % 2 AS h, "
    "  CAST(unnest(range(0, len(emb))) AS BIGINT) AS dim, "
    "  CAST(round(unnest(emb) * 1000000) AS BIGINT) AS m FROM p), "
    "d AS (SELECT label, dim, "
    "  sum(CASE WHEN h = 0 THEN m END) AS sa, "
    "  sum(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS na, "
    "  sum(CASE WHEN h = 1 THEN m END) AS sb, "
    "  sum(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS nb "
    "  FROM x GROUP BY 1, 2) "
    "SELECT CAST(label AS BIGINT) AS label, "
    "CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b, "
    "CAST(sum(abs(sa // na - sb // nb)) AS BIGINT) AS l1_shift_micro, "
    "CAST(max(abs(sa // na - sb // nb)) AS BIGINT) "
    "  AS max_dim_shift_micro "
    "FROM d WHERE na > 0 AND nb > 0 GROUP BY 1",
)
def q_embedding_centroid_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid L1 drift between vec_id-parity cohorts in
    exact micro-units (similarity.embedding_centroid_shift) — the
    embedding-distribution monitor that catches encoder bumps and
    upstream text drift before they degrade ANN indexes."""
    return similarity.embedding_centroid_shift(
        load_table(spark, sf_dir, "embeddings")
    )


@_q(
    "cdc_snapshot_diff_nullsafe",
    CHANGES_CTE
    + ", nulled AS (SELECT event_id, table_name, transaction_id, "
    "commit_ts_ms, action, key, CASE WHEN val_cents % 7 = 0 THEN NULL "
    "ELSE val_cents END AS val_cents FROM changes)"
    + f", s1 AS {_SNAPSHOT_CTE.format(src='nulled', t=ASOF_MS)}, "
    f"s2 AS {_SNAPSHOT_CTE.format(src='nulled', t=ASOF2_MS)} "
    + _DIFF_SELECT,
)
def q_cdc_snapshot_diff_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff over a changelog whose values can be NULL (every
    val_cents divisible by 7 is nulled — a deterministic stand-in for
    nullable payload columns in real CDC feeds).  Driver-certifies the
    r7 presence-flag rework of cdc.snapshot_diff (ADVICE r6): a LIVE
    key with a NULL value must classify as changed/unchanged via
    null-safe equality, never as added/removed — under the old
    value-nullness classification this query would hash-mismatch."""
    ch = changes_df(spark, sf_dir).withColumn(
        "val_cents",
        F.when(F.col("val_cents") % 7 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("val_cents")),
    )
    return cdc.snapshot_diff(ch, ASOF_MS, ASOF2_MS)


@_q(
    "source_python_datasource_conjuncts",
    CHANGES_CTE + "SELECT event_id, table_name, transaction_id, "
    "commit_ts_ms, action, key, val_cents FROM changes "
    "WHERE event_id > 200 AND event_id <= 5000 "
    "AND table_name IN ('customer', 'orders')",
)
def q_source_python_datasource_conjuncts(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Python Data Source scan under REDUNDANT pushed conjuncts: two
    lower bounds (tightest wins), two upper bounds, and two IN-lists
    (intersection) all reach the reader's pushFilters, which must
    ACCUMULATE them (sources/pyds.py docstring rule) — last-wins
    overwrite would leak rows 101..200 and the 'part'/'nation'
    phantom tables.  Also driver-certifies the r7 register-time
    filterPushdown conf fix on a session the repo didn't build."""
    from .sources import pyds

    feed = _derived_feed(spark, sf_dir, "all1") + "/data"
    pyds.register(spark)
    return (
        spark.read.format("changelog_poll").option("path", feed)
        .option("numPartitions", "4").load()
        .where(
            (F.col("event_id") > 100) & (F.col("event_id") > 200)
            & (F.col("event_id") <= 6000) & (F.col("event_id") <= 5000)
            & F.col("table_name").isin("customer", "orders", "part")
            & F.col("table_name").isin("customer", "orders", "nation")
        )
    )


@_q(
    "vocab_growth_curve",
    "WITH tk AS (SELECT doc_id, w FROM (SELECT doc_id, "
    "  unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> ''), "
    "mx AS (SELECT max(doc_id) AS mx FROM documents), "
    "ck AS (SELECT CAST(u.k AS BIGINT) AS k, (u.k * mx) // 8 AS thr "
    "  FROM mx, unnest(range(1, 9)) AS u(k)), "
    "first AS (SELECT w, min(doc_id) AS fd FROM tk GROUP BY w), "
    "nd AS (SELECT k, count(*) AS c FROM ck JOIN documents "
    "  ON doc_id <= thr GROUP BY k), "
    "nt AS (SELECT k, count(*) AS c FROM ck JOIN tk "
    "  ON doc_id <= thr GROUP BY k), "
    "nv AS (SELECT k, count(*) AS c FROM ck JOIN first "
    "  ON fd <= thr GROUP BY k) "
    "SELECT ck.k AS checkpoint, CAST(thr AS BIGINT) AS thr_doc_id, "
    "CAST(coalesce(nd.c, 0) AS BIGINT) AS n_docs, "
    "CAST(coalesce(nt.c, 0) AS BIGINT) AS n_tokens, "
    "CAST(coalesce(nv.c, 0) AS BIGINT) AS vocab_size "
    "FROM ck LEFT JOIN nd ON ck.k = nd.k LEFT JOIN nt ON ck.k = nt.k "
    "LEFT JOIN nv ON ck.k = nv.k",
)
def q_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth curve (text.vocab_growth_curve):
    docs/tokens/distinct-vocabulary at 8 doc-id checkpoints — the
    corpus-planning curve that sizes tokenizers and dedup budgets.
    The oracle states the inequality-join semantics; the Spark plan
    is pure arithmetic bucketing (smallest qualifying checkpoint +
    8-row prefix sum), no inequality join anywhere."""
    return text.vocab_growth_curve(load_table(spark, sf_dir, "documents"))


@_q(
    "setcontain_prefix_filter_pairs",
    "WITH s AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p "
    "  FROM lineitem), "
    "sz AS (SELECT o, count(*) AS n FROM s GROUP BY o), "
    "pairs AS (SELECT a.o AS oa, b.o AS ob, count(*) AS inter "
    "  FROM s a JOIN s b ON a.p = b.p AND a.o <> b.o GROUP BY 1, 2) "
    "SELECT oa AS order_small, ob AS order_big, "
    "CAST(na.n AS BIGINT) AS size_small, CAST(nb.n AS BIGINT) AS size_big, "
    "CAST(inter AS BIGINT) AS inter_size, "
    "CAST((1000 * inter) // na.n AS BIGINT) AS containment_permille "
    "FROM pairs JOIN sz na ON oa = na.o JOIN sz nb ON ob = nb.o "
    "WHERE (na.n < nb.n OR (na.n = nb.n AND oa < ob)) "
    "AND 1000 * inter >= 800 * na.n",
)
def q_setcontain_prefix_filter_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Asymmetric set-CONTAINMENT join over order baskets at ≥ 0.8
    (dedup.setcontain_prefix_filter_pairs): the smaller basket ≥ 80%
    inside the larger — the quoted/subsetted-document relation Jaccard
    misses.  Oracle states the naive quadratic; the Spark plan joins
    only the smaller side's rarest-first PREFIX tokens (lossless
    pruning, same PPJoin family as setsim_prefix_filter_pairs)."""
    return dedup.setcontain_prefix_filter_pairs(
        load_table(spark, sf_dir, "lineitem")
    )


@_q(
    "knn_vote_confusion",
    _EMB_CTE + ", "
    "q AS (SELECT vec_id AS query_id, emb AS qe, norm AS qn, label "
    "  FROM e JOIN embeddings USING (vec_id) WHERE vec_id < 50), "
    "c AS (SELECT vec_id AS neighbor_id, emb AS ce, norm AS cn, "
    "  label AS nlabel FROM e JOIN embeddings USING (vec_id) "
    "  WHERE vec_id >= 50), "
    "s AS (SELECT query_id, neighbor_id, nlabel, "
    "  round(list_dot_product(qe, ce) / (qn * cn), 6) AS cosine "
    "  FROM q, c), "
    "topk AS (SELECT query_id, nlabel FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM s) "
    "  WHERE rank <= 5), "
    "v AS (SELECT query_id, nlabel, count(*) AS cnt FROM topk "
    "  GROUP BY 1, 2), "
    "p AS (SELECT query_id, nlabel AS pred FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY query_id "
    "  ORDER BY cnt DESC, nlabel ASC) AS rn FROM v) WHERE rn = 1) "
    "SELECT CAST(label AS BIGINT) AS true_label, "
    "CAST(pred AS BIGINT) AS pred_label, "
    "CAST(count(*) AS BIGINT) AS n_queries "
    "FROM embeddings JOIN p ON vec_id = query_id GROUP BY 1, 2",
)
def q_knn_vote_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holdout kNN confusion matrix (similarity.knn_vote_confusion):
    per-(true, predicted) cell counts behind knn_label_noise's rate —
    separates noisy labels from mergeable clusters.  Also
    driver-certifies the r7 unhinted label-lookup join (ADVICE r6:
    the corpus side must never carry a broadcast hint)."""
    return similarity.knn_vote_confusion(
        load_table(spark, sf_dir, "embeddings")
    )



# --------------------------------------------------------------------------
# Round 8 — north-star additions: cluster-balanced selection,
# incremental ANN index maintenance, per-domain contamination
# drill-down, near-dup split-leakage audit, dedup token savings
# --------------------------------------------------------------------------

_SPLIT_CASE = (
    "CASE WHEN ((doc_id * 1103515245 + 12345) % 2147483647) % 1000 < 800 "
    "THEN 'train' "
    "WHEN ((doc_id * 1103515245 + 12345) % 2147483647) % 1000 < 900 "
    "THEN 'val' ELSE 'test' END"
)


@_q(
    "cluster_balanced_selection",
    "WITH n AS (SELECT label, count(*) AS n_members FROM embeddings "
    "  GROUP BY 1), "
    "tot AS (SELECT sum(n_members) AS n_total FROM n), "
    "q AS (SELECT label, n_members, "
    "  greatest(1, 200 * n_members // n_total) AS quota FROM n, tot), "
    "r AS (SELECT label, vec_id, row_number() OVER (PARTITION BY label "
    "  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk "
    "  FROM embeddings) "
    "SELECT CAST(q.label AS BIGINT) AS label, "
    "CAST(q.n_members AS BIGINT) AS n_members, "
    "CAST(q.quota AS BIGINT) AS quota, "
    "CAST(count(*) AS BIGINT) AS n_selected, "
    "CAST(sum(r.vec_id) AS BIGINT) AS sum_selected_ids "
    "FROM r JOIN q ON r.label = q.label WHERE r.rk <= q.quota "
    "GROUP BY 1, 2, 3",
)
def q_cluster_balanced_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced corpus selection
    (functions/similarity.py:cluster_balanced_selection): proportional
    per-cell quotas with floor 1, members picked by portable md5 rank.
    sum_selected_ids pins WHICH vectors were selected, not just how
    many."""
    return similarity.cluster_balanced_selection(
        load_table(spark, sf_dir, "embeddings")
    )


@_q(
    "ann_ivf_index_merge",
    "WITH d AS (SELECT label, vec_id, u.i AS pos, "
    "  CAST(floor((CAST(embedding[u.i] AS DOUBLE) + 1) * 1000000) "
    "    AS BIGINT) AS micros "
    "  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS u(i)), "
    "p AS (SELECT label, pos, sum(micros) AS sm, count(*) AS n, "
    "  sum(CASE WHEN vec_id >= 400 THEN 1 ELSE 0 END) AS nn "
    "  FROM d GROUP BY 1, 2) "
    "SELECT CAST(label AS BIGINT) AS label, "
    "CAST(max(n - nn) AS BIGINT) AS n_old, "
    "CAST(max(nn) AS BIGINT) AS n_new, "
    "CAST(max(n) AS BIGINT) AS n_total, "
    "CAST(sum(sm // n) AS BIGINT) AS centroid_fp "
    "FROM p GROUP BY 1",
)
def q_ann_ivf_index_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance
    (functions/similarity.py:ivf_index_merge): the Spark side merges
    old-index partials with the new batch's partials; the oracle
    recomputes the index from scratch — equality certifies
    merge(partials) ≡ rebuild."""
    return similarity.ivf_index_merge(
        load_table(spark, sf_dir, "embeddings"), 400
    )


@_q(
    "contamination_by_domain",
    "WITH cdoc AS (" + ORACLES["decontamination_overlap"] + ") "
    "SELECT d.source AS source, CAST(count(*) AS BIGINT) AS n_test_docs, "
    "CAST(sum(CASE WHEN c.contam_bp >= 2500 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_contaminated, "
    "CAST(sum(c.contam_bp) AS BIGINT) AS sum_contam_bp, "
    "CAST(max(c.contam_bp) AS BIGINT) AS max_contam_bp "
    "FROM cdoc c JOIN documents d USING (doc_id) GROUP BY 1",
)
def q_contamination_by_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contamination drill-down
    (functions/text.py:contamination_by_domain): decontamination
    per-doc scores rolled up to the ingest source, flagging docs at
    >= 2500 bp overlap."""
    return text.contamination_by_domain(
        load_table(spark, sf_dir, "documents"), 2500
    )


@_q(
    "split_leakage_audit",
    "WITH p AS (" + ORACLES["dedup_minhash_lsh"] + "), "
    "s AS (SELECT doc_id, " + _SPLIT_CASE + " AS sp FROM documents) "
    "SELECT least(sa.sp, sb.sp) AS split_lo, "
    "greatest(sa.sp, sb.sp) AS split_hi, "
    "CAST(count(*) AS BIGINT) AS n_pairs, "
    "CAST(sum(p.doc_a) AS BIGINT) AS sum_doc_a, "
    "CAST(sum(CASE WHEN sa.sp <> sb.sp THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_leak_pairs "
    "FROM p JOIN s sa ON p.doc_a = sa.doc_id "
    "JOIN s sb ON p.doc_b = sb.doc_id GROUP BY 1, 2",
)
def q_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup split-leakage audit
    (functions/dedup.py:split_leakage_audit): MinHash-LSH pairs
    straddling the train/val/test LCG split are benchmark leaks the
    shingle-level decontamination check can miss."""
    return dedup.split_leakage_audit(
        load_table(spark, sf_dir, "documents"), 3, 0.8
    )


@_q(
    "dedup_token_savings",
    "WITH t AS (SELECT doc_id, source, "
    "  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) "
    "    AS BIGINT) AS n_toks, sha256(text) AS h FROM documents), "
    "k AS (SELECT h, min(doc_id) AS keep FROM t GROUP BY 1) "
    "SELECT source, CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(n_toks) AS BIGINT) AS tokens_total, "
    "CAST(sum(CASE WHEN doc_id = keep THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_keepers, "
    "CAST(sum(CASE WHEN doc_id = keep THEN n_toks ELSE 0 END) AS BIGINT) "
    "  AS tokens_kept "
    "FROM t JOIN k USING (h) GROUP BY 1",
)
def q_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token budget after exact dedup
    (functions/text.py:dedup_token_savings): global keeper rule
    (min doc_id per sha256), keepers attributed to their own source."""
    return text.dedup_token_savings(load_table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# Round 9 — ANN serving-path + curriculum operators (VERDICT r8 task #6):
# streaming incremental IVF maintenance, IVF cell occupancy/labeling,
# quality-curriculum ordering, LSH banding workload prediction.
# --------------------------------------------------------------------------

# Nearest-centroid routing CTE shared by the two round-9 cell reports —
# the SQL mirror of similarity.ivf_cell_assignments (same rounded-
# cosine-before-argmax discipline as the semantic_dedup_clusters
# oracle; own_label kept for the agreement metric).
_IVF_ROUTE_CTE = (
    "e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb, "
    "  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) "
    "  AS norm FROM embeddings), "
    "cd AS (SELECT label, j, avg(emb[j+1]) AS c "
    "  FROM e, range(64) t(j) GROUP BY label, j), "
    "cent AS (SELECT label, list(c ORDER BY j) AS centroid, "
    "  sqrt(list_dot_product(list(c ORDER BY j), list(c ORDER BY j))) "
    "  AS cnorm FROM cd GROUP BY label), "
    "r AS (SELECT e.vec_id, e.label AS own_label, cent.label AS c_label, "
    "  round(list_dot_product(e.emb, cent.centroid) / (e.norm * cent.cnorm)"
    "  , 6) AS c_cos FROM e, cent), "
    "a AS (SELECT vec_id, own_label, c_label AS cluster FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY vec_id "
    "  ORDER BY c_cos DESC, c_label ASC) AS rr FROM r) t WHERE rr = 1)"
)


@_q(
    "ann_cell_occupancy",
    "WITH " + _IVF_ROUTE_CTE + ", "
    "pc AS (SELECT cluster, CAST(count(*) AS BIGINT) AS n_vecs, "
    "  CAST(sum(CASE WHEN own_label = cluster THEN 1 ELSE 0 END) AS BIGINT)"
    "  AS n_own_label FROM a GROUP BY 1), "
    "tt AS (SELECT sum(n_vecs) AS n_total FROM pc) "
    "SELECT CAST(cluster AS BIGINT) AS cluster, n_vecs, n_own_label, "
    "CAST(n_vecs * 10000 // n_total AS BIGINT) AS share_bp FROM pc, tt",
)
def q_ann_cell_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF cell-occupancy balance report
    (functions/similarity.py:cell_occupancy_report): per routed cell,
    member count, own-label routing agreement, corpus share in bp —
    the hot-partition / nprobe-viability gate an IVF index needs
    before serving at 100 TB."""
    return similarity.cell_occupancy_report(
        load_table(spark, sf_dir, "embeddings")
    )


@_q(
    "cluster_signature_terms",
    _TOKS_CTE + ", " + _IVF_ROUTE_CTE + ", "
    "tf AS (SELECT a.cluster, tok AS term, CAST(count(*) AS BIGINT) AS tf "
    "  FROM toksf JOIN a ON toksf.doc_id = a.vec_id "
    "  WHERE tok NOT IN ('the','a','of','and','to') GROUP BY 1, 2), "
    "cdf AS (SELECT term, CAST(count(*) AS BIGINT) AS cluster_df "
    "  FROM tf GROUP BY 1), "
    "sc AS (SELECT tf.cluster, tf.term, tf.tf, cdf.cluster_df, "
    "  CAST(tf.tf * 10000 // cdf.cluster_df AS BIGINT) AS score "
    "  FROM tf JOIN cdf USING (term)) "
    "SELECT CAST(cluster AS BIGINT) AS cluster, CAST(rank AS BIGINT) AS rank,"
    " term, tf, cluster_df, score FROM ("
    "  SELECT *, row_number() OVER (PARTITION BY cluster "
    "  ORDER BY score DESC, term ASC) AS rank FROM sc) t WHERE rank <= 3",
)
def q_cluster_signature_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic card per IVF cell (functions/text.py:cluster_signature_terms
    over similarity.ivf_cell_assignments): top-3 integer TF-ICF terms
    per routed cluster — what a corpus-curation report prints next to
    cluster_balanced_selection's per-cell quotas."""
    cells = similarity.ivf_cell_assignments(
        load_table(spark, sf_dir, "embeddings")
    )
    return text.cluster_signature_terms(
        load_table(spark, sf_dir, "documents"), cells, 3
    )


@_q(
    "curriculum_quality_order",
    _TOKS_CTE + ", "
    "per_doc AS (SELECT doc_id, count(*) AS n_tokens, "
    "  CAST(sum(CASE WHEN tok IN ('the','a','of','and','to') THEN 1 ELSE 0 "
    "  END) AS BIGINT) AS n_stop FROM toksf GROUP BY 1), "
    "q AS (SELECT d.doc_id, "
    "  CAST(least(p.n_tokens, 100) * 50 + "
    "  CAST(floor((10000 - floor(p.n_stop * 10000 / p.n_tokens)) / 2) "
    "  AS BIGINT) AS BIGINT) AS quality_bp "
    "  FROM documents d JOIN per_doc p ON d.doc_id = p.doc_id), "
    "b AS (SELECT doc_id, quality_bp, "
    "  CAST(ntile(4) OVER (ORDER BY quality_bp DESC, doc_id ASC) AS BIGINT)"
    "  AS bucket FROM q) "
    "SELECT doc_id, quality_bp, bucket, "
    "CAST(row_number() OVER (ORDER BY bucket ASC, "
    "  md5(CAST(doc_id AS VARCHAR) || ':c42'), doc_id ASC) AS BIGINT) "
    "  AS curriculum_rank FROM b",
)
def q_curriculum_quality_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-bucket curriculum ordering
    (functions/text.py:curriculum_quality_order): quartiles of
    quality_bp first, deterministic md5 shuffle within each — the
    training-order step after selection, no global single-task sort
    (prefix-offset rank both across and inside buckets)."""
    return text.curriculum_quality_order(
        load_table(spark, sf_dir, "documents"), 4
    )


@_q(
    "minhash_band_stats",
    _shingle_cte(3) + ", "
    "ids AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 12)) "
    "  AS BIGINT) % 2147483647 AS sid FROM sh), "
    "sigs AS (SELECT doc_id, h.h AS h, "
    "  min(((2 * h.h + 1) * sid + (7919 * h.h + 12345)) % 2147483647) "
    "  AS minhash FROM ids, unnest(range(0, 16)) AS h(h) GROUP BY 1, 2), "
    "bands AS (SELECT doc_id, h // 4 AS band, "
    "  array_to_string(list_sort(list(h || '=' || minhash)), ':') AS sig "
    "  FROM sigs GROUP BY 1, 2), "
    "bk AS (SELECT band, sig, CAST(count(*) AS BIGINT) AS m "
    "  FROM bands GROUP BY 1, 2) "
    "SELECT band, CAST(count(*) AS BIGINT) AS n_buckets, "
    "CAST(sum(m) AS BIGINT) AS n_docs, CAST(max(m) AS BIGINT) AS max_bucket,"
    " CAST(sum(m * (m - 1) // 2) AS BIGINT) AS n_cand_pairs "
    "FROM bk GROUP BY 1",
)
def q_minhash_band_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding workload prediction
    (functions/dedup.py:minhash_band_stats): per band, bucket count,
    largest bucket and exact candidate-pair workload — the numbers
    that size the LSH self-join BEFORE it runs at 100 TB."""
    return dedup.minhash_band_stats(
        load_table(spark, sf_dir, "documents"), 3
    )


def q_streaming_ivf_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental IVF index maintenance
    (streaming/pipeline.py:run_ivf_maintenance): vectors arrive in 3
    contiguous vec_id micro-batches; each epoch MERGES the batch's
    per-(cell, dim) partials into the persisted index and emits the
    per-cell serving snapshot.  The oracle recomputes every epoch's
    snapshot from the raw corpus, so the value-hash match proves
    merge ≡ rebuild at each epoch — ivf_index_merge's contract run
    through a live epoch loop (streaming/pipeline.py:run_epochs)."""
    import tempfile

    from . import cache
    from .streaming.pipeline import run_ivf_maintenance, write_embedding_batches

    feed = cache.cached_dir(
        "cdcx_embfeed", sf_dir, ("embeddings",), "embfeed3",
        lambda d: write_embedding_batches(
            load_table(spark, sf_dir, "embeddings"), d, 3
        ),
    )
    work = tempfile.mkdtemp(prefix="ivf_maint_")
    return run_ivf_maintenance(spark, feed, work + "/out")


QUERIES["streaming_ivf_maintenance"] = q_streaming_ivf_maintenance
# Epoch e's cumulative membership is pure arithmetic (contiguous
# thirds over dense vec_ids: bkt = least(vec_id·3 div n, 2), batch
# mtimes pin file→epoch order, one epoch per file), so DuckDB
# rebuilds each epoch's index from scratch while Spark MERGED it
# incrementally — hash equality is the merge ≡ rebuild proof, per
# epoch.  Micros arithmetic mirrors the ann_ivf_index_merge oracle
# (non-negative fixed point, so Spark div == DuckDB //).
ORACLES["streaming_ivf_maintenance"] = (
    "WITH nv AS (SELECT count(*) AS n FROM embeddings), "
    "comp AS (SELECT least(vec_id * 3 // nv.n, 2) AS bkt, label, t.j AS pos,"
    "  CAST(floor(((embedding::DOUBLE[])[t.j+1] + 1.0) * 1000000) AS BIGINT)"
    "  AS micros FROM embeddings, nv, range(64) t(j)), "
    "st AS (SELECT u.e AS epoch_id, label, pos, "
    "  CAST(sum(micros) AS BIGINT) AS sum_micros, "
    "  CAST(count(*) AS BIGINT) AS n_vecs "
    "  FROM comp, range(3) u(e) WHERE comp.bkt <= u.e GROUP BY 1, 2, 3) "
    "SELECT CAST(epoch_id AS BIGINT) AS epoch_id, "
    "CAST(label AS BIGINT) AS label, max(n_vecs) AS n_total, "
    "CAST(sum(sum_micros // n_vecs) AS BIGINT) AS centroid_fp "
    "FROM st GROUP BY 1, 2"
)


@_q(
    "quality_calibration_report",
    _TOKS_CTE + ", "
    "pd AS (SELECT doc_id, count(*) AS n_tokens, "
    "  count(DISTINCT tok) AS n_distinct, "
    "  sum(CASE WHEN tok IN ('the', 'a', 'of', 'and', 'to') THEN 1 "
    "      ELSE 0 END) AS n_stop FROM toksf GROUP BY 1), "
    "sc AS (SELECT least(n_tokens, 100) * 50 "
    "  + (10000 - (n_stop * 10000 // n_tokens)) // 2 AS quality_bp, "
    "  CASE WHEN n_distinct * 1000 >= 450 * n_tokens THEN 1 ELSE 0 END "
    "  AS gold FROM pd) "
    "SELECT CAST(least(quality_bp // 1000, 9) AS BIGINT) AS bin, "
    "CAST(count(*) AS BIGINT) AS n_docs, "
    "CAST(sum(gold) AS BIGINT) AS n_gold_good, "
    "CAST(sum(gold) * 10000 // count(*) AS BIGINT) AS gold_rate_bp, "
    "CAST(sum(quality_bp) // count(*) AS BIGINT) AS mean_quality_bp, "
    "CAST(sum(quality_bp) // count(*) - sum(gold) * 10000 // count(*) "
    "  AS BIGINT) AS calib_gap_bp "
    "FROM sc GROUP BY 1",
)
def q_quality_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-bin calibration audit of the composite quality score
    against a held-out type-token-ratio proxy label
    (functions/text.py:quality_calibration_report) — the
    curation-pipeline sibling of the confusion-matrix reports that
    curriculum_quality_order's quartiles feed on (VERDICT r9 task #8).
    One token explode, one doc-keyed aggregate, one ≤10-row bin
    aggregate; integer arithmetic end to end."""
    return text.quality_calibration_report(
        load_table(spark, sf_dir, "documents")
    )


@_q(
    "doc_repetition_flags",
    _TOKS_CTE + ", "
    "led AS (SELECT doc_id, tok, "
    "  lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS l1, "
    "  lead(tok, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS l2 "
    "  FROM toksf), "
    "bic AS (SELECT doc_id, tok || ' ' || l1 AS g, count(*) AS c "
    "  FROM led WHERE l1 IS NOT NULL GROUP BY 1, 2), "
    "bids AS (SELECT doc_id, max(c) AS top_bi FROM bic GROUP BY 1), "
    "tric AS (SELECT doc_id, tok || ' ' || l1 || ' ' || l2 AS g, "
    "  count(*) AS c FROM led WHERE l2 IS NOT NULL GROUP BY 1, 2), "
    "trids AS (SELECT doc_id, sum(c) AS n_tri, sum(c) - count(*) AS dup3 "
    "  FROM tric GROUP BY 1), "
    "nt AS (SELECT doc_id, count(*) AS n_tokens FROM toksf GROUP BY 1) "
    "SELECT nt.doc_id, CAST(nt.n_tokens AS BIGINT) AS n_tokens, "
    "CAST(coalesce(top_bi, 0) AS BIGINT) AS top_bigram_n, "
    "CAST(coalesce(top_bi, 0) * 2 * 10000 // nt.n_tokens AS BIGINT) "
    "  AS top2_share_bp, "
    "CAST(coalesce(dup3, 0) * 10000 // greatest(coalesce(n_tri, 0), 1) "
    "  AS BIGINT) AS dup3_bp, "
    "(coalesce(top_bi, 0) * 2 * 10000 // nt.n_tokens <= 2000) AS ok_top2, "
    "(coalesce(dup3, 0) * 10000 // greatest(coalesce(n_tri, 0), 1) <= 3000) "
    "  AS ok_dup3, "
    "(coalesce(top_bi, 0) * 2 * 10000 // nt.n_tokens <= 2000 AND "
    " coalesce(dup3, 0) * 10000 // greatest(coalesce(n_tri, 0), 1) <= 3000) "
    "  AS pass_repetition "
    "FROM nt LEFT JOIN bids USING (doc_id) LEFT JOIN trids USING (doc_id)",
)
def q_doc_repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (functions/text.py:doc_repetition_flags):
    top-2-gram token share + duplicated-3-gram fraction per doc in
    integer basis points, with reject-above-threshold flags —
    completes the Gopher filter family next to gopher_quality_flags'
    length/symbol/stopword rules.  One kind-tagged gram explode, two
    hash aggregates, one doc-keyed join; no windows, no Python."""
    return text.doc_repetition_flags(load_table(spark, sf_dir, "documents"))


@_q(
    "doc_line_format_flags",
    _TOKS_CTE + ", "
    "lines AS (SELECT doc_id, "
    "  (CASE WHEN (doc_id % 13 = 0 AND pos % 21 <> 0) "
    "     OR (doc_id * 31 + pos) % 7 = 0 THEN '- ' ELSE '' END) || tok || "
    "  (CASE WHEN (doc_id % 17 = 0 AND pos % 3 <> 0) "
    "     OR (doc_id * 7 + pos) % 19 = 0 THEN '...' ELSE '' END) AS line "
    "  FROM toksf), "
    "per AS (SELECT doc_id, count(*) AS n_lines, "
    "  sum(CASE WHEN line LIKE '- %' THEN 1 ELSE 0 END) AS n_bullet, "
    "  sum(CASE WHEN line LIKE '%...' THEN 1 ELSE 0 END) AS n_ellipsis "
    "  FROM lines GROUP BY 1) "
    "SELECT doc_id, CAST(n_lines AS BIGINT) AS n_lines, "
    "CAST(floor(n_bullet * 10000 / n_lines) AS BIGINT) AS bullet_bp, "
    "CAST(floor(n_ellipsis * 10000 / n_lines) AS BIGINT) AS ellipsis_bp, "
    "(floor(n_bullet * 10000 / n_lines) <= 9000) AS ok_bullet, "
    "(floor(n_ellipsis * 10000 / n_lines) <= 3000) AS ok_ellipsis, "
    "(floor(n_bullet * 10000 / n_lines) <= 9000 AND "
    " floor(n_ellipsis * 10000 / n_lines) <= 3000) AS pass_line_format "
    "FROM per",
)
def q_doc_line_format_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher line-format rules (functions/text.py:doc_line_format_flags):
    bullet-start and ellipsis-end line fractions per doc in integer
    basis points with the public Gopher reject thresholds — completes
    the Gopher family next to gopher_quality_flags (length/symbol/
    stopword) and doc_repetition_flags (n-gram repetition).  Lines are
    a deterministic rendering of the single-line fixture (markers
    injected by doc/pos arithmetic, DETECTED from the strings); one
    token explode + one per-doc aggregate, no windows, no Python."""
    return text.doc_line_format_flags(load_table(spark, sf_dir, "documents"))


@_q(
    "token_budget_rebalancer",
    "WITH per AS (SELECT source, "
    "  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens, "
    "  CAST(10 + length(source) "
    "    + (COALESCE(TRY_CAST(regexp_extract(source, '[0-9]{1,9}') "
    "         AS BIGINT), 0) * 13) % 29 AS BIGINT) AS w_raw "
    "  FROM documents GROUP BY source), "
    "t AS (SELECT *, greatest(CAST(floor(w_raw * 10000 "
    "  / (SELECT sum(w_raw) FROM per)) AS BIGINT), 1) AS target_bp FROM per), "
    "c AS (SELECT *, CAST(floor(n_tokens * 10000 / target_bp) AS BIGINT) "
    "  AS budget_cap FROM t), "
    "b AS (SELECT *, (SELECT min(budget_cap) FROM c) AS budget FROM c), "
    "k AS (SELECT *, CAST(floor(budget * target_bp / 10000) AS BIGINT) "
    "  AS keep_tokens FROM b) "
    "SELECT source AS domain, n_tokens, target_bp, keep_tokens, "
    "CAST(floor(keep_tokens * 10000 "
    "  / greatest((SELECT sum(keep_tokens) FROM k), 1)) "
    "  AS BIGINT) AS realized_bp, "
    "(budget_cap = budget) AS binding FROM k",
)
def q_token_budget_rebalancer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain token-budget solver (functions/text.py:
    token_budget_rebalancer, VERDICT r10 task #8): target mixture
    weights + actual per-domain token counts → exact keep-quota and
    realized mixture in bp, with the binding domain flagged —
    completes the sampling family (the mixture-weighted sampler
    consumes exactly these quotas).  One |domains|-row aggregate plus
    two broadcast 1-row reductions; all integer."""
    return text.token_budget_rebalancer(load_table(spark, sf_dir, "documents"))


@_q(
    "lsh_jaccard_calibration",
    _shingle_cte(3) + ", "
    "ids AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 12)) "
    "  AS BIGINT) % 2147483647 AS sid FROM sh), "
    "sigs AS (SELECT doc_id, h.h AS h, "
    "  min(((2 * h.h + 1) * sid + (7919 * h.h + 12345)) % 2147483647) AS minhash "
    "  FROM ids, unnest(range(0, 16)) AS h(h) GROUP BY 1, 2), "
    "bands AS (SELECT doc_id, h // 4 AS band, "
    "  array_to_string(list_sort(list(h || '=' || minhash)), ':') AS sig "
    "  FROM sigs GROUP BY 1, 2), "
    "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a "
    "  JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id), "
    "est AS (SELECT c.doc_a, c.doc_b, "
    "  CAST(sum(CASE WHEN sa.minhash = sb.minhash THEN 1 ELSE 0 END) AS BIGINT) "
    "    AS est_matches "
    "  FROM cand c JOIN sigs sa ON sa.doc_id = c.doc_a "
    "  JOIN sigs sb ON sb.doc_id = c.doc_b AND sb.h = sa.h GROUP BY 1, 2), "
    "inter AS (SELECT c.doc_a, c.doc_b, count(*) AS n_inter FROM cand c "
    "  JOIN sh sa ON sa.doc_id = c.doc_a "
    "  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle "
    "  GROUP BY 1, 2), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), "
    "per AS (SELECT e.est_matches, e.est_matches * 625 AS est_bp, "
    "  CAST(floor(coalesce(i.n_inter, 0) * 10000 "
    "    / (na.n_sh + nb.n_sh - coalesce(i.n_inter, 0))) AS BIGINT) "
    "    AS jaccard_bp "
    "  FROM est e LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b "
    "  JOIN sizes na ON na.doc_id = e.doc_a "
    "  JOIN sizes nb ON nb.doc_id = e.doc_b) "
    "SELECT CAST(est_matches AS BIGINT) AS est_matches, "
    "CAST(min(est_bp) AS BIGINT) AS est_bp, "
    "CAST(count(*) AS BIGINT) AS n_pairs, "
    "CAST(floor(sum(jaccard_bp) / count(*)) AS BIGINT) AS mean_jaccard_bp, "
    "CAST(floor(sum(abs(est_bp - jaccard_bp)) / count(*)) AS BIGINT) "
    "  AS mean_abs_err_bp, "
    "CAST(max(abs(est_bp - jaccard_bp)) AS BIGINT) AS max_abs_err_bp "
    "FROM per GROUP BY 1",
)
def q_lsh_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard-estimate calibration (functions/dedup.py:
    lsh_jaccard_calibration): estimated (matching minhashes / 16) vs
    exact shingle Jaccard per LSH candidate pair, error bucketed by
    match count (<= 17 rows) — the sketch-calibration sibling of
    dedup_lsh_recall_report (retrieval quality) that decides whether
    the cheap estimate can replace the exact verify at a given
    threshold.  Candidate-list-bound; no all-pairs stage."""
    return dedup.lsh_jaccard_calibration(
        load_table(spark, sf_dir, "documents"), 3
    )


_REQUIRED_IN = "('the','be','to','of','and','that','have','with')"


@_q(
    "gopher_required_words",
    _TOKS_CTE + " "
    "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens, "
    "CAST(sum(CASE WHEN lower(tok) IN " + _REQUIRED_IN + " THEN 1 ELSE 0 END) "
    "  AS BIGINT) AS required_hits, "
    "CAST(count(DISTINCT CASE WHEN lower(tok) IN " + _REQUIRED_IN
    + " THEN lower(tok) END) AS BIGINT) AS n_required_words, "
    "(count(DISTINCT CASE WHEN lower(tok) IN " + _REQUIRED_IN
    + " THEN lower(tok) END) >= 2) AS pass_required_words "
    "FROM toksf GROUP BY 1",
)
def q_gopher_required_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher required-words rule (functions/text.py:
    gopher_required_words, VERDICT r11 task #4): distinct-membership
    count over the public eight-word required list per document with
    the >=2 pass flag — the last public Gopher heuristic, completing
    gopher_quality_flags / doc_repetition_flags /
    doc_line_format_flags.  One token explode + one per-doc hash
    aggregate; the IN-list membership stays in whole-stage codegen."""
    return text.gopher_required_words(load_table(spark, sf_dir, "documents"))


@_q(
    "lsh_band_calibration",
    _shingle_cte(3) + ", "
    "ids AS (SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 12)) "
    "  AS BIGINT) % 2147483647 AS sid FROM sh), "
    "sigs AS (SELECT doc_id, h.h AS h, "
    "  min(((2 * h.h + 1) * sid + (7919 * h.h + 12345)) % 2147483647) AS minhash "
    "  FROM ids, unnest(range(0, 16)) AS h(h) GROUP BY 1, 2), "
    "bands AS (SELECT doc_id, h // 4 AS band, "
    "  array_to_string(list_sort(list(h || '=' || minhash)), ':') AS sig "
    "  FROM sigs GROUP BY 1, 2), "
    "pairb AS (SELECT a.band, a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a "
    "  JOIN bands b ON a.band = b.band AND a.sig = b.sig "
    "  AND a.doc_id < b.doc_id), "
    "perpair AS (SELECT doc_a, doc_b, min(band) AS first_band, "
    "  count(*) AS n_bands FROM pairb GROUP BY 1, 2), "
    "inter AS (SELECT p.doc_a, p.doc_b, count(*) AS n_inter FROM perpair p "
    "  JOIN sh sa ON sa.doc_id = p.doc_a "
    "  JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle "
    "  GROUP BY 1, 2), "
    "sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), "
    "per AS (SELECT pp.first_band, pp.n_bands, "
    "  CAST(floor(coalesce(i.n_inter, 0) * 10000 "
    "    / (na.n_sh + nb.n_sh - coalesce(i.n_inter, 0))) AS BIGINT) "
    "    AS jaccard_bp "
    "  FROM perpair pp LEFT JOIN inter i "
    "    ON i.doc_a = pp.doc_a AND i.doc_b = pp.doc_b "
    "  JOIN sizes na ON na.doc_id = pp.doc_a "
    "  JOIN sizes nb ON nb.doc_id = pp.doc_b) "
    "SELECT CAST(first_band AS BIGINT) AS first_band, "
    "CAST(count(*) AS BIGINT) AS n_pairs, "
    "CAST(sum(CASE WHEN n_bands = 1 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_exclusive, "
    "CAST(floor(sum(jaccard_bp) / count(*)) AS BIGINT) AS mean_jaccard_bp, "
    "CAST(sum(CASE WHEN jaccard_bp >= 7000 THEN 1 ELSE 0 END) AS BIGINT) "
    "  AS n_good, "
    "CAST(floor(sum(CASE WHEN jaccard_bp >= 7000 THEN 1 ELSE 0 END) * 10000 "
    "  / count(*)) AS BIGINT) AS precision_bp "
    "FROM per GROUP BY 1",
)
def q_lsh_band_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band LSH calibration drill-down (functions/dedup.py:
    lsh_band_calibration, VERDICT r11 task #5): candidate pairs
    attributed to the first band that catches them — volume,
    exclusivity, exact-Jaccard quality and precision per band.  Closes
    the LSH tuning loop started by minhash_band_stats (cost),
    dedup_lsh_recall_report (retrieval) and lsh_jaccard_calibration
    (estimation).  Candidate-list-bound; <= N_BANDS rows out."""
    return dedup.lsh_band_calibration(
        load_table(spark, sf_dir, "documents"), 3
    )


@_q(
    "dedup_merge_conflicts",
    "WITH comp AS (SELECT * FROM (" + _COMPONENTS_ORACLE + ") t), "
    "j AS (SELECT comp.cluster_id, d.doc_id, d.lang, d.source, d.n_chars "
    "  FROM comp JOIN documents d USING (doc_id)), "
    "r AS (SELECT j.*, row_number() OVER (PARTITION BY cluster_id "
    "  ORDER BY n_chars DESC, doc_id ASC) AS rn FROM j), "
    "canon AS (SELECT cluster_id, doc_id AS canonical_doc_id, "
    "  lang AS canonical_lang, source AS canonical_source "
    "  FROM r WHERE rn = 1), "
    "per AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members, "
    "  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs, "
    "  CAST(count(DISTINCT source) AS BIGINT) AS n_sources, "
    "  CAST(max(n_chars) - min(n_chars) AS BIGINT) AS chars_spread "
    "  FROM j GROUP BY 1), "
    "conf AS (SELECT j.cluster_id, "
    "  CAST(sum(CASE WHEN j.lang <> c.canonical_lang THEN 1 ELSE 0 END) "
    "    AS BIGINT) AS lang_conflicts, "
    "  CAST(sum(CASE WHEN j.source <> c.canonical_source THEN 1 ELSE 0 END) "
    "    AS BIGINT) AS source_conflicts "
    "  FROM j JOIN canon c USING (cluster_id) GROUP BY 1) "
    "SELECT per.cluster_id, canon.canonical_doc_id, per.n_members, "
    "per.n_langs, per.n_sources, conf.lang_conflicts, "
    "conf.source_conflicts, per.chars_spread "
    "FROM per JOIN canon USING (cluster_id) JOIN conf USING (cluster_id)",
)
def q_dedup_merge_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-level merge-conflict audit per near-dup cluster
    (functions/dedup.py:merge_conflict_report, VERDICT r11 task #6):
    distinct-value counts and canonical-disagreement counts for the
    metadata fields the survivorship merge discards — the DQ companion
    of dedup_survivorship, composing the same pairs → components →
    canonical-pick oracles.  Cluster members are result-set-sized; the
    only corpus-scale step is the metadata equi-join on doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_dedup(docs, 3, 0.8)
    comp = dedup.connected_components(pairs)
    return dedup.merge_conflict_report(comp, docs)


@_q(
    "dedup_cluster_sizes",
    "WITH comp AS (SELECT * FROM (" + _COMPONENTS_ORACLE + ") t), "
    "s AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n "
    "  FROM comp GROUP BY 1) "
    "SELECT CASE WHEN n <= 2 THEN '2' WHEN n = 3 THEN '3' "
    "WHEN n = 4 THEN '4' WHEN n <= 8 THEN '5-8' "
    "WHEN n <= 16 THEN '9-16' ELSE '17+' END AS size_bucket, "
    "CAST(count(*) AS BIGINT) AS n_clusters, "
    "CAST(sum(n) AS BIGINT) AS n_docs, "
    "CAST(sum(n) - count(*) AS BIGINT) AS n_removable, "
    "CAST(max(n) AS BIGINT) AS max_members "
    "FROM s GROUP BY 1",
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster size distribution (functions/dedup.py:
    cluster_size_report, VERDICT r12 task #4): cluster / member /
    removable-duplicate counts per fixed member-count bucket — the
    capacity-planning twin of dedup_merge_conflicts, composed on the
    same pairs → components frame.  Giant LSH components (boilerplate
    mega-clusters) surface as the 17+ bucket's max_members before any
    merge runs.  Everything after pair generation is
    result-set-sized."""
    pairs = dedup.minhash_lsh_dedup(load_table(spark, sf_dir, "documents"), 3, 0.8)
    return dedup.cluster_size_report(dedup.connected_components(pairs))


# flag_bp=1000 is pinned as a literal in the oracle SQL below — keep
# the Python default and the SQL literal in lockstep
# (tests/test_round13_ops.py pins both, the ADVICE r12 discipline).
@_q(
    "contamination_by_source",
    "WITH cdoc AS (" + ORACLES["decontamination_overlap"] + ") "
    "SELECT d.source AS source, "
    "CAST(count(*) AS BIGINT) AS n_test_docs, "
    "CAST(sum(cdoc.n_shingles) AS BIGINT) AS n_shingles, "
    "CAST(sum(cdoc.n_overlap) AS BIGINT) AS n_overlap, "
    "CAST(floor(sum(cdoc.n_overlap) * 10000 / sum(cdoc.n_shingles)) "
    "  AS BIGINT) AS contam_bp, "
    "CAST(sum(CASE WHEN cdoc.contam_bp >= 1000 THEN 1 ELSE 0 END) "
    "  AS BIGINT) AS n_flagged "
    "FROM cdoc JOIN documents d USING (doc_id) GROUP BY 1",
)
def q_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-weighted per-source leakage rate (functions/text.py:
    contamination_by_source, VERDICT r12 task #4):
    sum(overlap)/sum(shingles) per ingest feed in basis points plus
    the count of test docs over a 1000 bp alarm line — the leaked-MASS
    companion of contamination_by_domain's doc-count view (round 8,
    2500 bp per-doc threshold).  Adds one metadata equi-join and a
    |sources|-row rollup to the per-doc audit."""
    return text.contamination_by_source(load_table(spark, sf_dir, "documents"))


def _required_coverage_oracle() -> str:
    """UNION-ALL unpivot oracle for required_word_coverage, generated
    from the same REQUIRED_WORDS constant the Spark operator uses (one
    branch per word over the single-row tot CTE — DuckDB has no
    ``stack``)."""
    words = text.REQUIRED_WORDS
    h = ", ".join(
        f"max(CASE WHEN lower(tok) = '{w}' THEN 1 ELSE 0 END) AS h{i}, "
        f"sum(CASE WHEN lower(tok) = '{w}' THEN 1 ELSE 0 END) AS c{i}"
        for i, w in enumerate(words)
    )
    t = ", ".join(
        f"CAST(coalesce(sum(h{i}), 0) AS BIGINT) AS d{i}, "
        f"CAST(coalesce(sum(c{i}), 0) AS BIGINT) AS o{i}"
        for i in range(len(words))
    )
    branches = " UNION ALL ".join(
        f"SELECT '{w}' AS word, n_docs, d{i} AS n_docs_with, "
        f"o{i} AS occurrences, "
        f"CAST(CASE WHEN n_docs > 0 THEN floor(d{i} * 10000 / n_docs) "
        f"END AS BIGINT) AS coverage_bp FROM tot"
        for i, w in enumerate(words)
    )
    return (
        _TOKS_CTE + ", "
        "per AS (SELECT doc_id, " + h + " FROM toksf GROUP BY 1), "
        "tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, " + t
        + " FROM per) " + branches
    )


@_q("required_word_coverage", _required_coverage_oracle())
def q_required_word_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus marginal of the Gopher required-words rule
    (functions/text.py:required_word_coverage, VERDICT r12 task #4):
    per required word, documents containing it, coverage in basis
    points, total occurrences.  One corpus scan — per-doc flags and
    counts in one hash aggregate (the gopher_required_words template),
    one single-row collapse, then an O(8) stack unpivot.  No joins, no
    windows, no per-word rescans."""
    return text.required_word_coverage(load_table(spark, sf_dir, "documents"))
