"""Similarity search over the ``embeddings`` table (SURVEY.md §2 C2 +
mandated ANN extensions).

Scale design (100 TB of vectors):
- ``topk_cosine`` is the exact baseline: block-partitioned
  ``applyInPandas`` — the corpus crosses Arrow once, the (small)
  query set replicates once per block, each group scores a q×block
  slab vectorized and emits only its block-local top-k; cumsum
  accumulation is bit-identical to a left-to-right double fold —
  fast AND exact-parity-safe with the oracle.
- ``lsh_bucketed_topk`` is the scale path: random-hyperplane LSH
  assigns each vector a sign-pattern bucket; neighbors are searched
  only within the query's bucket (candidates shrink ~2^n_planes).
  Hyperplanes come from integer arithmetic (deterministic, no RNG).
- ``cosine_neardup_pairs`` finds near-duplicate vectors; exact
  all-pairs here, LSH-bucketed at scale (same bucket join as above).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double, folded left-to-right (deterministic).

    JVM-side higher-order-function form — used for one-dot-per-row
    paths (norms).  For the pair-scoring hot path use ``dot_pudf``:
    same left-to-right double accumulation, but Arrow-vectorized.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


@F.pandas_udf(T.DoubleType())
def dot_pudf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Vectorized Σ aᵢ·bᵢ with left-to-right accumulation.

    ``cumsum(axis=1)`` is a guaranteed-sequential float64 scan, so the
    result is bit-identical to the SQL fold in ``_dot`` and to the
    oracle's list_dot_product — unlike ``np.dot``/BLAS, whose pairwise
    or FMA accumulation would diverge in the last ulp and break exact
    hash parity.  ~50× faster than the interpreted fold on 1M+ pairs.
    """
    av = np.stack(a.to_numpy()).astype(np.float64)
    bv = np.stack(b.to_numpy()).astype(np.float64)
    return pd.Series((av * bv).cumsum(axis=1)[:, -1])


def with_norm(embeddings: DataFrame) -> DataFrame:
    """Norm column via the JVM fold, NOT the pandas kernel: the norm is
    one dot per ROW (no join amplification), and in that regime the
    Arrow round-trip costs more than interpreting the fold — measured
    r9 at 200k vectors (SCALE.md, warm): JVM 0.38s vs pandas 0.51s,
    plus the pandas form pays one-time Python-worker startup for
    sessions that otherwise never cross Arrow.  ``_dot``'s
    left-to-right double accumulation is bit-identical to
    ``dot_pudf``'s cumsum, so every dependent oracle hash is
    unchanged (SCALE.md, "Round-10: with_norm kernel switch
    applied")."""
    e = F.col("embedding")
    return embeddings.withColumn("norm", F.sqrt(_dot(e, e)))


TOPK_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType()),
        T.StructField("neighbor_id", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
)


def topk_cosine(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10, block: int = 4096
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector (vec_id <
    n_queries) over the candidate corpus (vec_id >= n_queries).

    Block-partitioned kernel (r3, was a per-pair broadcast join): the
    corpus is grouped into id blocks; each ``applyInPandas`` group
    holds one corpus block plus the (replicated) query set and scores
    the whole q×block slab as one vectorized batch, emitting only its
    per-block top-k — so Arrow transfers the corpus ONCE (plus
    n_queries rows per block) instead of once per (query, candidate)
    pair, and the exchange back carries n_blocks·q·k rows, not q·|C|.
    Global top-k = re-rank of the block winners (a total order makes
    the global top-k a subset of every block's top-k union).  Measured
    ~3× on the sf0.1 fixture; at 100 TB the q-fold replication saving
    grows with the query-batch size.

    Determinism: per-pair products accumulate via ``cumsum`` (strict
    left-to-right float64, identical to the oracle's
    list_dot_product fold), cosines rounded to 6 BEFORE ranking, ties
    broken on neighbor_id — same discipline as every ranked cosine.
    """
    e = embeddings.select("vec_id", "embedding")
    c = e.filter(F.col("vec_id") >= n_queries).withColumn(
        "blk", ((F.col("vec_id") - n_queries) / block).cast("long")
    )
    blks = c.select(F.col("blk").alias("b")).distinct()
    q = (
        e.filter(F.col("vec_id") < n_queries)
        .join(blks)  # replicate each query to every block: q·n_blocks rows
        .select(F.col("b").alias("blk"), "vec_id", "embedding")
    )

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        qs = pdf[pdf["vec_id"] < n_queries]
        cs = pdf[pdf["vec_id"] >= n_queries]
        if not len(qs) or not len(cs):
            return pd.DataFrame(columns=["query_id", "neighbor_id", "cosine"])
        qm = np.stack(qs["embedding"].to_numpy()).astype(np.float64)
        cm = np.stack(cs["embedding"].to_numpy()).astype(np.float64)
        qn = np.sqrt((qm * qm).cumsum(axis=1)[:, -1])
        cn = np.sqrt((cm * cm).cumsum(axis=1)[:, -1])
        qi = qs["vec_id"].to_numpy()
        ci = cs["vec_id"].to_numpy()
        ii, jj = np.meshgrid(
            np.arange(len(qi)), np.arange(len(ci)), indexing="ij"
        )
        ii, jj = ii.ravel(), jj.ravel()
        cos = np.round(
            (qm[ii] * cm[jj]).cumsum(axis=1)[:, -1] / (qn[ii] * cn[jj]), 6
        )
        out = pd.DataFrame(
            {"query_id": qi[ii], "neighbor_id": ci[jj], "cosine": cos}
        )
        # per-block shortlist: top-k by (cosine desc, neighbor_id asc)
        out = out.sort_values(
            ["query_id", "cosine", "neighbor_id"],
            ascending=[True, False, True],
        )
        return out.groupby("query_id", sort=False).head(k)

    winners = (
        c.select("blk", "vec_id", "embedding")
        .unionByName(q)
        .groupBy("blk")
        .applyInPandas(_score, schema=TOPK_SCHEMA)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        winners.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


NEARDUP_SCHEMA = T.StructType(
    [
        T.StructField("vec_a", T.LongType()),
        T.StructField("vec_b", T.LongType()),
        T.StructField("cosine", T.DoubleType()),
    ]
)


def cosine_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.35,
    max_id: int | None = 2000,
    block: int = 256,
) -> DataFrame:
    """Embedding near-duplicate pairs: (a, b), a < b, cosine ≥ threshold.

    Exact all-pairs via **block-nested-loop**: vectors are grouped into
    id blocks of ``block``; every unordered block pair becomes one
    ``applyInPandas`` group holding both blocks' vectors, scored as one
    vectorized batch.  Each vector is replicated once per block pair it
    touches — O(n·n/block) Arrow transfer instead of the O(n²) of a
    naive pair join (each vector copied n times), which is what makes
    exact all-pairs tractable; a pair-row join measured ~5× slower on
    the 2000-vector fixture.  At 100 TB the same plan shards block
    pairs across executors; the probabilistic alternative with the same
    output contract is the LSH bucket join (``lsh_bucketed_topk``).

    Determinism: per-pair products are accumulated with ``cumsum``
    (strict left-to-right float64), identical to the oracle's
    list_dot_product fold.
    """
    e = embeddings
    if max_id is not None:
        e = e.filter(F.col("vec_id") < max_id)
    e = e.select("vec_id", "embedding").withColumn(
        "blk", (F.col("vec_id") / block).cast("long")
    )
    blks = e.select(F.col("blk").alias("bj")).distinct()
    # replicate each vector to every block pair (bi, bj), bi <= bj, it
    # participates in: once as the a-side, once as the b-side
    a_side = e.join(blks, F.col("blk") <= F.col("bj")).select(
        F.col("blk").alias("bi"), "bj", F.lit("a").alias("side"),
        "vec_id", "embedding",
    )
    b_side = e.join(
        blks.select(F.col("bj").alias("bi")), F.col("blk") >= F.col("bi")
    ).select(
        "bi", F.col("blk").alias("bj"), F.lit("b").alias("side"),
        "vec_id", "embedding",
    )
    both = a_side.unionByName(b_side)

    def _score(pdf: pd.DataFrame) -> pd.DataFrame:
        bi, bj = int(pdf["bi"].iloc[0]), int(pdf["bj"].iloc[0])
        av = pdf[pdf["side"] == "a"]
        bv = pdf[pdf["side"] == "b"]
        if bi == bj:  # same block arrives duplicated on both sides
            bv = av
        if not len(av) or not len(bv):
            return pd.DataFrame(columns=["vec_a", "vec_b", "cosine"])
        aids = av["vec_id"].to_numpy()
        bids = bv["vec_id"].to_numpy()
        am = np.stack(av["embedding"].to_numpy()).astype(np.float64)
        bm = np.stack(bv["embedding"].to_numpy()).astype(np.float64)
        a_norm = np.sqrt((am * am).cumsum(axis=1)[:, -1])
        b_norm = np.sqrt((bm * bm).cumsum(axis=1)[:, -1])
        ii, jj = np.meshgrid(np.arange(len(aids)), np.arange(len(bids)),
                             indexing="ij")
        keep = aids[ii] < bids[jj]
        ii, jj = ii[keep], jj[keep]
        prod = (am[ii] * bm[jj]).cumsum(axis=1)[:, -1]
        cos = np.round(prod / (a_norm[ii] * b_norm[jj]), 6)
        hit = cos >= threshold
        return pd.DataFrame(
            {"vec_a": aids[ii][hit], "vec_b": bids[jj][hit], "cosine": cos[hit]}
        )

    return both.groupBy("bi", "bj").applyInPandas(_score, schema=NEARDUP_SCHEMA)


def centroids_by_label(embeddings: DataFrame) -> DataFrame:
    """IVF coarse quantizer: one centroid per inverted list.  The
    fixture's ``label`` column plays the role of the k-means cell
    assignment (at 100 TB the assignment comes from a trained quantizer;
    everything downstream is identical).  Centroid = per-dimension mean,
    computed by explode → two-key agg → re-assembly: one shuffle of
    (label, dim) partial sums, never a driver-side collect."""
    dims = embeddings.select(
        "label", F.posexplode(F.col("embedding")).alias("pos", "v")
    )
    per_dim = dims.groupBy("label", "pos").agg(F.avg("v").alias("c"))
    return (
        per_dim.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s.getField("c"),
            ).alias("centroid")
        )
    )


def ivf_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """IVF approximate top-k: route each query to its ``nprobe``
    nearest centroids, then search only those inverted lists.

    Scale shape: centroids are tiny (one per cell) and broadcast; the
    corpus is probed via an equi-join on the cell id — the scan shrinks
    to nprobe/n_cells of the corpus.  With ``nprobe`` = number of
    cells, output is exactly the brute-force ``topk_cosine`` (asserted
    in tests/test_extensions.py)."""
    normed = with_norm(embeddings)
    cents = centroids_by_label(embeddings)
    q = normed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    # route: rank centroids per query by cosine, keep nprobe cells
    routed = q.join(F.broadcast(cents)).withColumn(
        "c_cos",
        dot_pudf(F.col("q_emb"), F.col("centroid"))
        / (F.col("q_norm") * F.sqrt(dot_pudf(F.col("centroid"), F.col("centroid")))),
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("c_cos").desc(), F.col("label").asc()
    )
    probes = (
        routed.withColumn("_pr", F.row_number().over(wr))
        .filter(F.col("_pr") <= nprobe)
        .select("query_id", "q_emb", "q_norm", "label")
    )
    c = normed.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
        "label",
    )
    scored = c.join(F.broadcast(probes), "label").withColumn(
        "cosine",
        F.round(
            dot_pudf(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_norm") * F.col("c_norm")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component j of plane p:
    ((1103515245 * (p * dim + j) + 12345) mod 2048) / 1024 - 1  ∈ [-1, 1).
    Integer LCG arithmetic — identical in any engine, no RNG state."""
    return [
        ((1103515245 * (plane * dim + j) + 12345) % 2048) / 1024.0 - 1.0
        for j in range(dim)
    ]


def lsh_bucket(embeddings: DataFrame, n_planes: int = 6, dim: int = 64) -> DataFrame:
    """Random-hyperplane LSH bucket id per vector: bit p = sign of
    ⟨v, plane_p⟩.  Adds column ``bucket`` (long)."""
    bucket = F.lit(0).cast("long")
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(p, dim)])
        bit = F.when(_dot(F.col("embedding"), plane) > 0, F.lit(1 << p)).otherwise(
            F.lit(0)
        )
        bucket = bucket + bit
    return embeddings.withColumn("bucket", bucket.cast("long"))


def lsh_bucketed_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 10,
    n_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """ANN top-k: exact ranking restricted to the query's LSH bucket.
    The corpus-side scan shrinks ~2^n_planes; recall is tunable via
    n_planes (fewer planes → bigger buckets → higher recall)."""
    bucketed = with_norm(lsh_bucket(embeddings, n_planes, dim))
    q = bucketed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
        F.col("bucket").alias("qb"),
    )
    c = bucketed.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
        F.col("bucket").alias("cb"),
    )
    scored = c.join(F.broadcast(q), F.col("qb") == F.col("cb")).withColumn(
        "cosine",
        F.round(
            dot_pudf(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_norm") * F.col("c_norm")),
            6,
        ),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine", F.col("qb").alias("bucket"))
    )

def centroid_integer_stats(embeddings: DataFrame) -> DataFrame:
    """Oracle-checkable face of ``centroids_by_label``: per (label,
    dimension) the component SUM in integer micros plus the member
    count — the exact partial state a distributed mean reduces over
    (``centroid[pos] = sum/n``), kept integral so the hash comparison
    never meets float summation order.

    Scale: identical shuffle shape to the float centroid path — one
    (label, pos) hash-aggregate over the exploded vectors with map-side
    partials; 64·k output rows regardless of input size."""
    dims = embeddings.select(
        F.col("label").cast("long").alias("label"),
        F.posexplode(F.col("embedding")).alias("pos", "v"),
    )
    return (
        dims.groupBy("label", F.col("pos").cast("long").alias("pos"))
        .agg(
            # cast BEFORE the multiply: float32 × int stays float32 in
            # Spark (a different product than DuckDB's double math)
            F.sum(
                F.round(F.col("v").cast("double") * 1_000_000).cast("long")
            ).alias("sum_micros"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Scalar int8 quantization: per-vector max-abs scaling to the
    symmetric [-127, 127] grid — the serving-path compression that cuts
    vector memory 4× before any ANN index is built (PQ below is the
    sub-vector generalization).  Emits the sparse long form
    (vec_id, pos, q, scale_micros): array cells can't be value-hashed
    by the driver, and the per-vector scale travels as exact integer
    micros.

    Determinism discipline: all math in doubles (float32→double
    widening is exact), one multiply + one divide per cell (IEEE-
    deterministic, engine-identical), ``floor`` not ``round`` (HALF_UP
    vs binary rounding diverges on .5 boundaries).  Zero vectors keep
    q=0 by guard instead of NaN.

    Scale: a narrow map over the scan (posexplode + per-row array_max)
    — no shuffle, no Python.
    """
    amax = F.array_max(
        F.transform("embedding", lambda x: F.abs(x.cast("double")))
    )
    dims = embeddings.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        amax.alias("amax"),
        F.posexplode(F.col("embedding")).alias("pos", "v"),
    )
    return dims.select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        F.when(F.col("amax") == 0, F.lit(0)).otherwise(
            F.floor(F.col("v").cast("double") * 127 / F.col("amax"))
        ).cast("long").alias("q"),
        F.floor(F.col("amax") * 1_000_000).cast("long").alias("scale_micros"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory-compression ANN path
# ---------------------------------------------------------------------------

def _sub_l2(a, b):
    """Σ (aᵢ-bᵢ)² in double, folded left-to-right (deterministic).

    Deliberately the JVM higher-order-function form, NOT a pandas UDF:
    PQ subvectors are 8 floats, so the fold is a handful of JVM ops per
    row while the Arrow round-trip of a vectorized kernel costs more
    than it saves (measured ~25% slower end-to-end) — the opposite
    trade from ``dot_pudf``'s 64-dim pair scoring."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double"))
                   * (x.cast("double") - y.cast("double"))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def pq_subvectors(embeddings: DataFrame, m: int = 8, dim: int = 64) -> DataFrame:
    """(vec_id, s, subvec): the embedding split into ``m`` contiguous
    subspaces of ``dim/m`` dims each — pure JVM slice/posexplode."""
    d = dim // m
    return embeddings.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice("embedding", s * d + 1, d) for s in range(m)])
        ).alias("s", "subvec"),
    )


def pq_train(
    embeddings: DataFrame, m: int = 8, n_cells: int = 16, iters: int = 2,
    dim: int = 64, init: str = "xxhash",
    loop_partitions: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Train per-subspace codebooks by Lloyd iterations with a
    deterministic hash init (no RNG — ``xxhash64(vec_id, s) mod k`` is
    the seed assignment), and encode every vector.

    Returns (codes, codebooks): codes = (vec_id, s, cell) — ``m``
    small ints per vector, the 8-byte-per-vector representation that
    replaces 256 bytes of floats at serving time; codebooks =
    (s, cell, centroid).

    Scale: each iteration is one broadcast join (codebooks are
    m·n_cells rows — KBs) + one shuffle-free argmin regroup on
    (vec_id, s); nothing collects to the driver.  Ties in the argmin
    break on cell id via lexicographic struct-min, so assignment is
    deterministic across partitionings.

    ``loop_partitions`` sizes the Lloyd loop's exchanges (the
    (vec_id, s) argmin regroup and the codebook aggregates) to the
    subvector volume instead of the session shuffle default —
    round-10 extension of the data-proportional treatment.  Unlike
    pagerank's lazy plan, this loop EXECUTES eagerly (localCheckpoint
    per round), so a scoped conf reaches every loop job; the conf is
    restored before the lazily-selected codes/codebooks are returned.
    ``None`` keeps the session layout.
    """
    sub = pq_subvectors(embeddings, m, dim)
    if init == "md5":
        # engine-portable seed (DuckDB mirror: ('0x' || substr(md5(...),
        # 1, 12))::BIGINT % n_cells) — used by the oracle-backed ADC
        # variant; xxhash64 stays the default (one JVM op, no strings)
        seed = F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.col("vec_id"), F.col("s"))), 1, 12
            ),
            16, 10,
        ).cast("long") % n_cells
    else:
        seed = F.pmod(F.xxhash64("vec_id", "s"), F.lit(n_cells))
    assign = sub.withColumn("cell", seed.cast("int"))

    def codebooks_of(a: DataFrame) -> DataFrame:
        return (
            a.select("s", "cell", F.posexplode("subvec").alias("pos", "v"))
            .groupBy("s", "cell", "pos")
            .agg(F.avg("v").alias("c"))
            .groupBy("s", "cell")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda st: st.getField("c"),
                ).alias("centroid")
            )
        )

    # Lineage truncation between iterations (same trick as
    # dedup.cluster_components): without it the final action re-derives
    # iteration i's assignment once per downstream reference (codes,
    # codebooks, ADC table), re-running every earlier iteration each
    # time.  localCheckpoint materializes each round's (tiny)
    # assignment/codebook once; the training loop stays one broadcast
    # join per iteration end to end.
    from contextlib import nullcontext

    from ..partitioning import scoped_shuffle_partitions

    scope = (
        scoped_shuffle_partitions(embeddings.sparkSession, loop_partitions)
        if loop_partitions
        else nullcontext()
    )
    with scope:
        cb = codebooks_of(assign).localCheckpoint()
        for _ in range(iters):
            # round-before-ranking: the oracle computes this L2 via the
            # dot-product identity (|a-c|² = a·a − 2a·c + c·c) while
            # this fold accumulates squared diffs — equal in ℝ,
            # last-ulp apart in float64.  Rounding to 6 on BOTH sides
            # before the argmin keeps near-equidistant codewords from
            # assigning differently cross-engine (the same discipline
            # as every rounded cosine).
            cand = sub.join(F.broadcast(cb), "s").withColumn(
                "d2", F.round(_sub_l2(F.col("subvec"), F.col("centroid")), 6)
            )
            assign = (
                cand.groupBy("vec_id", "s")
                .agg(F.min(F.struct("d2", "cell", "subvec")).alias("best"))
                .select(
                    "vec_id", "s",
                    F.col("best.cell").alias("cell"),
                    F.col("best.subvec").alias("subvec"),
                )
                .localCheckpoint()
            )
            cb = codebooks_of(assign).localCheckpoint()
    return assign.select("vec_id", "s", "cell"), cb


def pq_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10, m: int = 8,
    n_cells: int = 16, iters: int = 2, rerank: int = 50, dim: int = 64,
    index: tuple[DataFrame, DataFrame] | None = None,
    init: str = "xxhash", round_ad2: int | None = None,
    loop_partitions: int | None = None,
) -> DataFrame:
    """PQ approximate top-k with asymmetric distance computation (ADC)
    and exact re-ranking.

    Serving shape at 100 TB: the corpus lives as ``m`` one-byte codes
    per vector; a query materializes an m×n_cells distance table (KBs,
    broadcast), approximate distance = sum of ``m`` table lookups via
    an equi-join on (s, cell) + a two-key sum — no float vector math
    touches the corpus until the top-``rerank`` shortlist, which alone
    is re-scored against raw embeddings with the exact cosine kernel.
    With ``rerank`` ≥ corpus size the output equals brute-force top-k
    (asserted in tests/test_extensions.py).
    """
    corpus = embeddings.filter(F.col("vec_id") >= n_queries)
    # ``index``: a previously-trained (codes, codebooks) pair — the
    # persisted-index serving path (train once, write both as parquet
    # tables, reload and serve; tests/test_extensions.py pins equality
    # with inline training).  At 100 TB the index is maintained
    # incrementally: new vectors encode against the FROZEN codebooks
    # (one broadcast join), exactly like the incremental LSH band index.
    codes, cb = index if index is not None else pq_train(
        corpus, m, n_cells, iters, dim, init,
        loop_partitions=loop_partitions)

    q_sub = pq_subvectors(
        embeddings.filter(F.col("vec_id") < n_queries), m, dim
    ).select(F.col("vec_id").alias("query_id"), "s", "subvec")
    # ADC table: exact L2 from each query subvector to every codeword
    tab = q_sub.join(F.broadcast(cb), "s").select(
        "query_id", "s", "cell",
        _sub_l2(F.col("subvec"), F.col("centroid")).alias("pd2"),
    )
    # round_ad2 (oracle-backed variant only): round the approximate
    # distance before ranking so last-ulp float-accumulation-order
    # differences between engines cannot flip the shortlist order — the
    # (ad2, vec_id) tie-break is then deterministic cross-engine, the
    # same discipline as the rounded cosine everywhere else.
    ad2 = F.sum("pd2")
    if round_ad2 is not None:
        ad2 = F.round(ad2, round_ad2)
    approx = (
        codes.join(F.broadcast(tab), ["s", "cell"])
        .groupBy("query_id", "vec_id")
        .agg(ad2.alias("ad2"))
    )
    ws = Window.partitionBy("query_id").orderBy(
        F.col("ad2").asc(), F.col("vec_id").asc()
    )
    shortlist = (
        approx.withColumn("_sr", F.row_number().over(ws))
        .filter(F.col("_sr") <= rerank)
        .select("query_id", "vec_id")
    )

    normed = with_norm(embeddings)
    q = normed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("norm").alias("q_norm"),
    )
    c = normed.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        F.col("norm").alias("c_norm"),
    )
    scored = (
        shortlist.join(c, shortlist.vec_id == c.neighbor_id)
        .join(F.broadcast(q), "query_id")
        .withColumn(
            "cosine",
            F.round(
                dot_pudf(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def semantic_dedup(
    embeddings: DataFrame, threshold: float = 0.95
) -> DataFrame:
    """Embedding-space (semantic) near-duplicate detection: route every
    vector to its nearest centroid, elect the lowest vec_id in each
    cluster as representative, and flag members whose cosine to their
    representative clears ``threshold``.  The keep-set is
    ``NOT is_dup`` — the standard semantic-dedup pass a training
    corpus gets after exact/MinHash dedup (SemDeDup-style: cluster,
    then compare only within clusters).

    Scale: centroids are broadcast (KBs); routing is a ``max_by``
    aggregate over the broadcast-joined candidate rows (a vector's
    candidates are adjacent, so map-side combine collapses them to one
    row per vector before any shuffle — the per-vec_id window form
    shuffled and sorted every candidate row; probed 2.2×/4× slower at
    200k vectors, SCALE.md r9); member↔representative scoring is one
    broadcast equi-join on the cluster id (representatives = one row
    per cluster).  NOTHING is all-pairs — candidate comparisons are
    |cluster| per vector, exactly the SemDeDup trick.  Dot products
    stay JVM-side here (millions of small rows — Arrow batch overhead
    exceeds the pandas kernel's win; the block kernel stays for the
    big topk matrices).  The fixture's ``label`` cells stand in for
    trained k-means cells as in ``ivf_topk``; everything downstream
    is assignment-agnostic."""
    normed = with_norm(embeddings).select("vec_id", "embedding", "norm")
    cents = centroids_by_label(embeddings).select(
        F.col("label").alias("c_label"),
        "centroid",
        F.sqrt(_dot(F.col("centroid"), F.col("centroid"))).alias("c_norm"),
    )
    # c_cos is ROUNDED before the routing argmax: centroids come from
    # F.avg over doubles (partial-merge order is shuffle-dependent, and
    # DuckDB's avg accumulates differently), so near-equidistant
    # centroids could otherwise flip cluster assignment across engines
    # — or across Spark runs — cascading into different rep_id/is_dup.
    routed = normed.join(F.broadcast(cents)).withColumn(
        "c_cos",
        F.round(
            _dot(F.col("embedding"), F.col("centroid"))
            / (F.col("norm") * F.col("c_norm")),
            6,
        ),
    )
    # assigned feeds three consumers (reps, rep vectors, member scoring);
    # without truncation each re-executes the full routing pipeline —
    # localCheckpoint materializes the assignment once (same discipline
    # as pq_train's Lloyd loop).  max_by ties break to the smallest
    # cell id via -c_label, mirroring the oracle's (DESC, ASC) rank.
    assigned = (
        routed.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(
                    "embedding", "norm", F.col("c_label").alias("cluster")
                ),
                F.struct(F.col("c_cos"), (-F.col("c_label")).alias("_nl")),
            ).alias("_best")
        )
        .select(
            "vec_id",
            F.col("_best.embedding").alias("embedding"),
            F.col("_best.norm").alias("norm"),
            F.col("_best.cluster").alias("cluster"),
        )
        .localCheckpoint()
    )
    reps = assigned.groupBy("cluster").agg(F.min("vec_id").alias("rep_id"))
    rep_members = assigned.select(
        F.col("vec_id").alias("rep_id"),
        F.col("embedding").alias("r_emb"),
        F.col("norm").alias("r_norm"),
    )
    rep_vecs = reps.join(rep_members, "rep_id").select(
        F.col("cluster").alias("r_cluster"), "rep_id", "r_emb", "r_norm"
    )
    scored = assigned.join(
        F.broadcast(rep_vecs), assigned.cluster == rep_vecs.r_cluster
    ).withColumn(
        "cos_to_rep",
        F.round(
            _dot(F.col("embedding"), F.col("r_emb"))
            / (F.col("norm") * F.col("r_norm")),
            6,
        ),
    )
    return scored.select(
        "vec_id",
        "cluster",
        "rep_id",
        "cos_to_rep",
        (
            (F.col("vec_id") != F.col("rep_id"))
            & (F.col("cos_to_rep") >= F.lit(threshold))
        ).alias("is_dup"),
    )


def embedding_dimension_profile(embeddings: DataFrame) -> DataFrame:
    """Per-dimension profile of an embedding table — the hygiene gate
    a training pipeline runs before trusting a vector column: a dead
    dimension (all ~zero), a collapsed one (no spread) or a scale
    outlier distorts every downstream distance.  Components are
    micro-scaled to integers (round(v·1e6)) so the sums are exact and
    the profile value-hash-portable; mean is the integer quotient.

    Plan shape (scale): posexplode fans each vector into (dim,
    component) rows — 64× the row count but only two small columns —
    then ONE hash aggregate on dim (64 groups, map-side combine).  No
    Python in the row path.
    """
    comp = embeddings.select(
        F.posexplode("embedding").alias("dim", "v")
    ).select(
        "dim", F.round(F.col("v") * 1_000_000).cast("long").alias("micro")
    )
    return comp.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("micro").alias("sum_micro"),
        F.expr("sum(micro) DIV count(*)").cast("long").alias("mean_micro"),
        F.min("micro").alias("min_micro"),
        F.max("micro").alias("max_micro"),
        F.sum((F.col("micro") == 0).cast("long")).alias("n_zero"),
    )


def binary_signatures(embeddings: DataFrame) -> DataFrame:
    """Sign-bit binary quantization: each 64-dim float vector becomes
    two unsigned 32-bit words packed into BIGINTs (``w0`` = dims 1-32,
    ``w1`` = dims 33-64).  32× smaller than the float vector; distance
    becomes two XOR+popcount instructions.  Two half-words rather than
    one full 64-bit pack so the fold never touches the sign bit —
    ANSI-mode overflow-free by construction.  Pure JVM higher-order
    functions; no Python hop."""
    bits = F.transform(F.col("embedding"), lambda x: (x > 0).cast("long"))
    fold = lambda half: F.aggregate(  # noqa: E731 — local closure
        half, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
    )
    return embeddings.select(
        "vec_id",
        fold(F.slice(bits, 1, 32)).alias("w0"),
        fold(F.slice(bits, 33, 32)).alias("w1"),
    )


def ann_hamming_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10
) -> DataFrame:
    """Top-k nearest neighbors in HAMMING space over sign-binarized
    embeddings — the binary-quantization ANN tier (the memory floor of
    a vector index: 2 bits/dim regimes in public systems all bottom out
    at this sign-bit + popcount form).  Queries are ``vec_id <
    n_queries``, corpus is the rest, mirroring the exact cosine tier so
    recall can be joined directly against ``topk_cosine``.

    Scale shape: signatures are 16 bytes/vector; the query side is
    n_queries rows and broadcast, so the scan streams the corpus once
    computing XOR+popcount per (query, candidate) — no shuffle of the
    corpus, and TakeOrdered-style ranking only over corpus·q rows of
    (ids, small int).  At billions of vectors this tier prunes to a
    candidate pool that the exact tier (topk_cosine) reranks; ranking
    is deterministic (hamming asc, neighbor_id asc).
    """
    sig = binary_signatures(embeddings)
    q = sig.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("q0"),
        F.col("w1").alias("q1"),
    )
    c = sig.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), "w0", "w1"
    )
    scored = c.join(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        (
            F.bit_count(F.col("w0").bitwiseXOR(F.col("q0")))
            + F.bit_count(F.col("w1").bitwiseXOR(F.col("q1")))
        ).cast("long").alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("hamming").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "rank")
    )


def _subvector_bags(embeddings: "DataFrame", n_slices: int) -> "DataFrame":
    """(vec_id, subs): the deterministic sub-vector bag — the 64-dim
    embedding sliced into ``n_slices`` equal double sub-vectors.  ONE
    definition shared by the corpus-wide MaxSim operator and the rerank
    stage so slice bounds / cast discipline cannot diverge."""
    dim = 64 // n_slices
    slices = F.array(*[
        F.transform(
            F.slice(F.col("embedding"), i * dim + 1, dim),
            lambda x: x.cast("double"),
        )
        for i in range(n_slices)
    ])
    return embeddings.select("vec_id", slices.alias("subs"))


def _maxsim_expr() -> "F.Column":
    """Σ over ``qsubs`` of max over ``csubs`` dot products, each dot a
    strict left-to-right float64 zip_with/aggregate fold (matching
    DuckDB's list_dot_product), rounded to 6dp BEFORE ranking — the
    repo-wide ranked-score discipline.  Shared verbatim by both MaxSim
    consumers."""

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    return F.round(
        F.aggregate(
            F.col("qsubs"),
            F.lit(0.0),
            lambda acc, qv: acc
            + F.array_max(F.transform(F.col("csubs"), lambda cv: dot(qv, cv))),
        ),
        6,
    )


def multivector_maxsim_topk(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10,
    n_slices: int = 4,
) -> DataFrame:
    """Late-interaction retrieval (the ColBERT MaxSim family): each
    item is a BAG of sub-vectors rather than one pooled vector, and the
    query-document score is Σ over query sub-vectors of the MAX dot
    product against any document sub-vector — finer-grained matching
    than single-vector cosine (a document scores on its best-matching
    parts, not its average).  The fixture derives the bag
    deterministically by slicing the 64-dim embedding into ``n_slices``
    16-dim sub-vectors; a real deployment stores per-token vectors in
    the same array<array<float>> shape and nothing below changes.

    Plan: pure JVM nested higher-order functions — zip_with/aggregate
    for each 16-term dot (strict left-to-right float64 fold, matching
    DuckDB's list_dot_product), transform + array_max for the per-slice
    MAX, one outer aggregate for the Σ — no Python, no explode blow-up
    (the q×corpus pair stream carries two small arrays per row).
    Queries (vec_id < n_queries) broadcast; corpus streams once; scores
    rounded to 6dp BEFORE ranking with (score desc, id asc) tie-break —
    the same determinism discipline as every ranked cosine here.

    Scale: MaxSim is n_slices² dots per pair vs 1 for pooled cosine —
    the published trade (better recall, ~|bag|² compute) — and the
    standard production ladder (ANN over pooled vectors → MaxSim rerank
    of the shortlist) composes directly: feed this operator the
    shortlist instead of the corpus.
    """
    e = _subvector_bags(embeddings, n_slices)
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("subs").alias("qsubs")
    )
    c = e.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("subs").alias("csubs")
    )
    maxsim = _maxsim_expr()
    scored = c.join(F.broadcast(q)).select(
        "query_id", "neighbor_id", maxsim.alias("maxsim")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "maxsim", "rank")
    )


def ann_maxsim_rerank(
    embeddings: DataFrame, n_queries: int = 5, k: int = 10,
    shortlist: int = 50, n_slices: int = 4,
) -> DataFrame:
    """The production retrieval ladder in one operator: the binary
    Hamming tier (16-byte signatures, XOR+popcount) prunes the corpus
    to a per-query ``shortlist``, then MaxSim late interaction — the
    n_slices²-dots-per-pair stage that is unaffordable corpus-wide at
    scale — reranks ONLY those pairs.  This is the standard two-stage
    architecture (cheap-filter → expensive-rerank) every public vector
    system converges on; the interesting property is that both stages
    are already oracled standalone, so the composition's oracle is just
    their SQL composed.

    Scale: stage-1 cost is the signature scan (no shuffle of the
    corpus); stage-2 touches q·shortlist pairs regardless of corpus
    size.  Output keeps the Hamming distance next to the MaxSim score
    so a recall audit can see WHAT the cheap tier discarded.
    """
    short = ann_hamming_topk(embeddings, n_queries, shortlist).select(
        "query_id", "neighbor_id", "hamming"
    )
    e = _subvector_bags(embeddings, n_slices)
    # the broadcast side must be the n_queries rows, NOT the whole bag
    # table — an unfiltered broadcast here would ship the corpus to
    # every executor and defeat the ladder's entire scale point
    q = e.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("subs").alias("qsubs")
    )
    c = e.filter(F.col("vec_id") >= n_queries).select(
        F.col("vec_id").alias("neighbor_id"), F.col("subs").alias("csubs")
    )
    maxsim = _maxsim_expr()
    scored = (
        short.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", "hamming", maxsim.alias("maxsim"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "hamming", "maxsim", "rank")
    )


def embedding_power_iteration(
    embeddings: DataFrame, n_iters: int = 2
) -> DataFrame:
    """Dominant principal direction of the embedding cloud by POWER
    ITERATION on the (uncentered) second-moment matrix — the
    dimensionality-reduction primitive (top PCA axis, spectral
    initialization, whitening diagnostics).

    Exact integer pipeline: vectors quantize to milli-units (x =
    round-half-away-from-zero(e·1000), the quantization the ann/PQ
    tiers already use — numpy's banker's rounding is deliberately NOT
    used, it disagrees with Spark/DuckDB ``round`` on .5 boundaries);
    C = Σ x·xᵀ accumulates int64 per Arrow batch and DECIMAL(38,0)
    across batches (DuckDB mirror: HUGEINT); v₀ = 1⃗; each step is
    y = C·v then the fixed-point renormalization v = sign(y)·(1000·|y|
    div max|y|) — truncating div on NON-NEGATIVE operands with the
    sign split out, so both engines agree bit-for-bit and the scale
    stays ±1000 (no overflow growth across steps: |y| ≤ 64·Cmax·1000
    stays far inside 38 digits for any corpus that fits in decimal
    moments).  Output: (dim, loading_permille) — the unit-free axis;
    sign is pinned by the deterministic v₀.

    Plan shape (scale): the Gram matrix is the one data-sized stage
    and runs as a SANCTIONED vectorized block kernel (SCALE.md UDF
    policy class (a), the topk_cosine pattern): one ``mapInPandas``
    hop emits a 64×64 int64 partial per Arrow batch (xᵀx is a single
    numpy matmul — exact in int64, per-batch magnitude ≤ rows·1e6,
    far inside int64), reduced by a 4096-group hash aggregate with
    map-side partials.  NO shuffle ever touches row data — partials
    are fixed-size regardless of corpus.  (A pure-JVM posexplode +
    vec_id self-join computes the same C but shuffles 2×64 rows per
    vector and fans out 64² join rows — re-measured r7, Gram-only
    warm at sf0.1: 7.2s vs 1.1s, ≈7× slower;
    the kernel form is why this stays cheap at 100×.)  Every
    iteration afterwards touches ONLY the 4096-row C and the 64-row
    v (broadcast) — iteration cost is independent of corpus size.
    Contrast MLlib's RowMatrix PCA: same Gram shape, but this stays
    in exact integers and inside the DataFrame planner."""
    dec = "decimal(38,0)"

    def _gram_partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
            )
            y = X * 1000.0
            xi = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)
            g = xi.T @ xi
            d = g.shape[0]
            ii, jj = np.indices((d, d))
            yield pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "p": g.ravel()}
            )

    cmat = (
        embeddings.select("embedding")
        .mapInPandas(_gram_partials, "i long, j long, p long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("p").cast(dec)).alias("c"))
        # Pin C (≤ 64×64 rows) so the data-sized Gram kernel runs
        # EXACTLY once — v0 and every iteration re-reference this
        # subtree, and without truncation the corpus could cross
        # Arrow 3-4× per run (ADVICE r6).  coalesce(1) first: the
        # checkpointed state is 4096 fixed-size rows, and a
        # single-partition child reports SinglePartition — which
        # satisfies EVERY required distribution downstream, so each
        # power-iteration round (join + groupBy(i) + max + renorm)
        # plans with ZERO exchanges instead of session-default-sized
        # shuffles over a KB-scale relation (round-10
        # data-proportional sweep; the Gram AGGREGATE above still
        # runs wide — only its 4096-row result is narrowed).  The
        # coalesce is applied on BOTH sides of the checkpoint: before,
        # so the materialized state is one block; after, because the
        # ExistingRDD scan reports UNKNOWN partitioning to the planner
        # (plan-verified), and only the re-asserted CoalesceExec(1)
        # lets EnsureRequirements elide the loop exchanges.
        .coalesce(1)
        .localCheckpoint(eager=True)
        .coalesce(1)
    )
    spark = embeddings.sparkSession
    # v0 = ones over the observed dimension ids (64 rows)
    v = cmat.select(F.col("j").alias("vj")).distinct().select(
        "vj", F.lit(1000).cast("long").alias("vv")
    )
    for _ in range(n_iters):
        y = (
            cmat.join(F.broadcast(v), F.col("j") == F.col("vj"))
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("vv").cast(dec)).alias("y"))
        )
        mx = y.agg(F.max(F.abs(F.col("y"))).alias("_m"))
        v = (
            y.crossJoin(F.broadcast(mx))
            .select(
                F.col("i").alias("vj"),
                F.expr(
                    "CAST(CASE WHEN y < 0 THEN -1 ELSE 1 END "
                    "* ((1000 * abs(y)) div greatest(_m, 1)) AS BIGINT)"
                ).alias("vv"),
            )
        )
    return v.select(
        F.col("vj").cast("long").alias("dim"),
        F.col("vv").cast("long").alias("loading_permille"),
    )


def knn_label_agreement(
    embeddings: DataFrame, n_queries: int = 50, k: int = 5
) -> DataFrame:
    """Label-noise detection by holdout kNN agreement: classify each
    held-out vector (vec_id < n_queries) by the MAJORITY label of its
    exact top-k cosine neighbors in the remaining corpus, and report
    per-label how often the vote disagrees with the stored label —
    the standard embedding-hygiene sweep for mislabeled training
    examples (a label whose members' neighborhoods systematically
    vote elsewhere is noisy or the cluster structure is).

    Deterministic end to end: the neighbor set is the exact
    block-kernel top-k (cosines rounded to 6, neighbor-id tie-break);
    the majority vote ties break to the SMALLEST label id — mirrored
    in the oracle's (cnt DESC, label ASC) row_number.

    Plan shape (scale): the only data-sized stage is topk_cosine's
    sanctioned block kernel (corpus crosses Arrow once); everything
    after runs on q·k rows — a label lookup joining the TINY q·k
    neighbor list against the corpus labels (unhinted: AQE broadcasts
    the q·k side, never the corpus — a corpus-side broadcast hint
    would OOM at scale, ADVICE r6), a (query, label) vote count, one
    argmax, one |labels|-row roll-up."""
    topk = topk_cosine(embeddings, n_queries, k)
    nb = topk.join(
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nlabel"),
        ),
        "neighbor_id",
    )
    votes = nb.groupBy("query_id", "nlabel").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pred = votes.groupBy("query_id").agg(
        F.max_by(
            F.col("nlabel"),
            F.struct(F.col("cnt").alias("c"), (-F.col("nlabel")).alias("t")),
        ).alias("pred")
    )
    own = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "label"
    )
    return (
        own.join(pred, "query_id")
        .groupBy(F.col("label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval"),
            F.sum(
                F.when(F.col("pred") != F.col("label"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_disagree"),
            F.expr(
                "CAST((1000 * sum(CASE WHEN pred <> label THEN 1 ELSE 0 "
                "END)) div count(*) AS BIGINT)"
            ).alias("noise_permille"),
        )
    )


def embedding_centroid_shift(embeddings: DataFrame) -> DataFrame:
    """Embedding-distribution drift monitor: per label, the L1
    distance between the centroid of cohort A and cohort B (vec_id
    parity — the deterministic stand-in for "yesterday's batch vs
    today's"), in exact micro-units.  A re-embedding run, an encoder
    version bump, or upstream text drift all show up here before they
    silently degrade every ANN index built on the corpus; per-label
    resolution separates global encoder shifts from single-cluster
    movement.

    Exactness: vectors quantize to micro ints (the
    embedding_dimension_profile scale); each cohort centroid dimension
    is ``sum div n`` (truncating, both engines identical) and the
    emitted per-label stats are the L1 sum and max over the 64
    per-dimension |mean_a − mean_b| gaps.

    Plan shape (scale): one posexplode (narrow) into ONE hash
    aggregate on (label, dim) with conditional cohort sums — map-side
    partials do all data-sized work; everything after runs on
    |labels|·64 rows.  No joins, no windows, no Python."""
    x = embeddings.select(
        "label",
        (F.col("vec_id") % 2).alias("h"),
        F.posexplode("embedding").alias("dim", "e"),
    ).select(
        "label",
        "h",
        "dim",
        F.round(F.col("e").cast("double") * 1000000).cast("long").alias("m"),
    )
    per_dim = x.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("h") == 0, F.col("m"))).alias("sa"),
        F.sum(F.when(F.col("h") == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("h") == 1, F.col("m"))).alias("sb"),
        F.sum(F.when(F.col("h") == 1, 1).otherwise(0)).alias("nb"),
    )
    gap = F.abs(F.expr("sa div na") - F.expr("sb div nb"))
    return (
        per_dim.filter((F.col("na") > 0) & (F.col("nb") > 0))
        .select(F.col("label").cast("long").alias("label"), gap.alias("g"),
                F.col("na"), F.col("nb"))
        .groupBy("label")
        .agg(
            F.max("na").cast("long").alias("n_a"),
            F.max("nb").cast("long").alias("n_b"),
            F.sum("g").cast("long").alias("l1_shift_micro"),
            F.max("g").cast("long").alias("max_dim_shift_micro"),
        )
    )


def knn_vote_confusion(
    embeddings: DataFrame, n_queries: int = 50, k: int = 5
) -> DataFrame:
    """Holdout kNN CONFUSION MATRIX: the per-(true, predicted) cell
    counts behind knn_label_agreement's per-label noise rate — which
    labels the neighborhood vote confuses with which, the diagnostic
    that separates "label 3 is noisy" from "labels 3 and 7 are the
    same cluster" (merge candidates) before a relabeling pass is
    scoped.  Same deterministic machinery: exact block-kernel top-k
    (cosine rounded to 6, neighbor-id tie-break), majority vote with
    smallest-label tie-break.

    Plan shape (scale): identical to knn_label_agreement — the corpus
    crosses Arrow once inside the sanctioned topk_cosine kernel;
    everything after runs on q·k rows (label lookup unhinted so AQE
    broadcasts the small side), ending in a ≤|labels|² cell count."""
    topk = topk_cosine(embeddings, n_queries, k)
    nb = topk.join(
        embeddings.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("nlabel"),
        ),
        "neighbor_id",
    )
    votes = nb.groupBy("query_id", "nlabel").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    pred = votes.groupBy("query_id").agg(
        F.max_by(
            F.col("nlabel"),
            F.struct(F.col("cnt").alias("c"), (-F.col("nlabel")).alias("t")),
        ).alias("pred")
    )
    own = embeddings.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), "label"
    )
    return (
        own.join(pred, "query_id")
        .groupBy(
            F.col("label").cast("long").alias("true_label"),
            F.col("pred").cast("long").alias("pred_label"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_queries"))
    )


def cluster_balanced_selection(
    embeddings: DataFrame, budget: int = 200
) -> DataFrame:
    """Cluster-balanced corpus selection (round 8): allocate a global
    sampling budget across the IVF cells proportionally (floor 1 per
    cell) and pick each cell's members by deterministic hash rank —
    the diversity-sampling step a training-corpus build runs AFTER
    clustering, so no single dense region of embedding space dominates
    the selected set (the quota/mixture samplers in functions/text.py
    stratify by metadata; this one stratifies by learned geometry).

    Reference analog: none (extension operator per SURVEY.md §2 C
    mandate); cell assignment reuses the fixture ``label`` exactly as
    ``ivf_topk`` does — at 100 TB the label comes from a trained
    coarse quantizer and everything downstream is identical.

    Scale shape: cluster sizes are one hash aggregate; the total is a
    1-row aggregate broadcast back (the repo's crossJoin rule, see
    operators/decision_support.py); per-cell ranking partitions by
    label — the window never sees a global sort, and the quota bound
    keeps every selected slice at O(budget) rows regardless of corpus
    size.  Hash rank = md5 of the vec id — engine-portable, no RNG.
    """
    n = embeddings.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    tot = n.agg(F.sum("n_members").alias("_n_total"))
    quota = n.crossJoin(F.broadcast(tot)).select(
        "label",
        "n_members",
        F.greatest(
            F.lit(1),
            F.expr(f"{budget} * n_members div _n_total"),
        ).cast("long").alias("quota"),
    )
    w = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")).asc(), F.col("vec_id").asc()
    )
    ranked = embeddings.select(
        "label", "vec_id", F.row_number().over(w).cast("long").alias("_rk")
    )
    sel = ranked.join(F.broadcast(quota), "label").filter(
        F.col("_rk") <= F.col("quota")
    )
    return sel.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.max("n_members").alias("n_members"),
        F.max("quota").alias("quota"),
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("vec_id").alias("sum_selected_ids"),
    )


def ivf_index_merge(embeddings: DataFrame, split_id: int = 400) -> DataFrame:
    """Incremental ANN index maintenance (round 8): merge a batch of
    NEW vectors (``vec_id >= split_id``) into a persisted IVF index —
    per-cell posting-list counts and centroid component sums — without
    rebuilding from the raw corpus.  The serving-path analog of
    ``minhash_lsh_incremental``: the index lives as per-cell partials,
    an epoch folds only the new batch's partials in, and
    merge(old partials, new partials) ≡ full recompute is the
    correctness contract (the oracle computes the recompute side).

    Exact-arithmetic form: embedding components are fixed-pointed to
    NON-NEGATIVE integer micros — floor((v + 1) · 1e6), all IEEE-double
    ops both engines evaluate identically — so partial sums are
    associative AND the merged centroid fingerprint Σ_dim
    (sum_micros div n) never divides a negative integer (Spark ``div``
    truncates toward zero, DuckDB ``//`` floors; they agree only on
    non-negative operands).

    Scale shape: old partials and new partials are two INDEPENDENT
    map-side-combined aggregates keyed on (label, dim) — at 100 TB the
    old side is the persisted index (cells × dim rows, no raw-data
    scan), the new side touches only the epoch's batch; the merge
    itself shuffles cells × dim rows, nothing data-sized.
    """
    comp = embeddings.select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("pos", "_v"),
    ).select(
        "label",
        "vec_id",
        "pos",
        F.floor(
            (F.col("_v").cast("double") + F.lit(1.0)) * 1_000_000
        ).cast("long").alias("micros"),
    )

    def _partials(side: DataFrame) -> DataFrame:
        # count(*) == count_distinct(vec_id) here — (label, pos, vec_id)
        # is unique per exploded row — and avoids the Expand-based
        # distinct aggregation (a second pass over the exploded data)
        return side.groupBy("label", "pos").agg(
            F.sum("micros").alias("sum_micros"),
            F.count(F.lit(1)).alias("n_vecs"),
        )

    old = _partials(comp.filter(F.col("vec_id") < split_id))
    new = _partials(comp.filter(F.col("vec_id") >= split_id))
    merged = (
        old.select("label", "pos", "sum_micros", "n_vecs",
                   F.lit(0).cast("long").alias("n_new"))
        .unionByName(
            new.select("label", "pos", "sum_micros",
                       F.lit(0).cast("long").alias("n_vecs"),
                       F.col("n_vecs").alias("n_new"))
        )
        .groupBy("label", "pos")
        .agg(
            F.sum("sum_micros").alias("sum_micros"),
            F.sum("n_vecs").alias("n_old"),
            F.sum("n_new").alias("n_new"),
        )
    )
    return merged.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.max("n_old").alias("n_old"),
        F.max("n_new").alias("n_new"),
        (F.max("n_old") + F.max("n_new")).alias("n_total"),
        F.sum(
            F.expr("sum_micros div (n_old + n_new)")
        ).alias("centroid_fp"),
    )


def ivf_cell_assignments(embeddings: DataFrame) -> DataFrame:
    """Nearest-centroid routing of every corpus vector — the IVF cell
    assignment step shared by semantic_dedup's clustering and the
    round-9 cell-occupancy / cluster-labeling reports.  Returns
    (vec_id, label, cluster): ``label`` is the fixture's ground
    quantizer cell, ``cluster`` the cell the vector actually routes to
    (they differ where the per-cell mean is a poor center for an
    outlying member — exactly what the occupancy report measures).

    Determinism discipline matches semantic_dedup: the routing cosine
    is ROUNDED to 6 before the argmax, ties break on the cell id, so
    near-equidistant centroids cannot flip assignment across engines
    or partitionings.

    Scale: centroids broadcast (cells × dim, KBs); the argmax is a
    ``max_by`` AGGREGATE over |cells| broadcast-joined candidate rows
    — a vector's candidates are adjacent after the broadcast join, so
    map-side combine collapses them to one row per vector BEFORE the
    shuffle (the per-vec_id row_number window form shuffled and
    sorted every candidate row instead; measured 2.2× slower at 200k
    vectors).  The dot products stay JVM-side (zip_with/aggregate in
    whole-stage codegen): routing is millions of SMALL rows, where
    per-batch Arrow transfer to the pandas kernel costs more than it
    saves — the pandas block kernel remains the right tool for the
    big topk matrices (topk_cosine), not here (probed r9, SCALE.md)."""
    normed = with_norm(embeddings).select("vec_id", "label", "embedding", "norm")
    cents = centroids_by_label(embeddings).select(
        F.col("label").alias("c_label"),
        "centroid",
        F.sqrt(_dot(F.col("centroid"), F.col("centroid"))).alias("c_norm"),
    )
    routed = normed.join(F.broadcast(cents)).withColumn(
        "c_cos",
        F.round(
            _dot(F.col("embedding"), F.col("centroid"))
            / (F.col("norm") * F.col("c_norm")),
            6,
        ),
    )
    # argmax = max_by over (c_cos, -c_label): highest cosine, ties to
    # the SMALLEST cell id — identical to the row_number form and to
    # the oracle's (c_cos DESC, c_label ASC) rank
    return routed.groupBy("vec_id", "label").agg(
        F.max_by(
            "c_label",
            F.struct(F.col("c_cos"), (-F.col("c_label")).alias("_nl")),
        ).alias("cluster")
    ).select("vec_id", "label", "cluster")


def cell_occupancy_report(embeddings: DataFrame) -> DataFrame:
    """IVF cell-occupancy balance report (round 9): per routed cell,
    member count, how many members route to their OWN ground-label
    cell (quantizer agreement), and the cell's share of the corpus in
    integer basis points.  This is the go/no-go metric for an IVF
    index at 100 TB: a cell holding 30% of the corpus means nprobe
    routing saves nothing and that cell's posting list is a hot
    partition — rebalance (split the cell / retrain the quantizer)
    before serving, not after.

    Scale: rides ivf_cell_assignments (broadcast routing); the report
    itself is one |cells|-row aggregate plus a 1-row total broadcast.
    """
    assigned = ivf_cell_assignments(embeddings)
    per_cell = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(
            F.when(F.col("label") == F.col("cluster"), F.lit(1)).otherwise(
                F.lit(0)
            )
        ).alias("n_own_label"),
    )
    total = per_cell.agg(F.sum("n_vecs").alias("n_total"))
    return (
        per_cell.crossJoin(F.broadcast(total))  # 1-row total
        .select(
            F.col("cluster").cast("long").alias("cluster"),
            "n_vecs",
            F.col("n_own_label").cast("long").alias("n_own_label"),
            F.expr("n_vecs * 10000 div n_total").alias("share_bp"),
        )
    )
