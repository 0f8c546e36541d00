"""Deduplication operators over the ``documents`` corpus (SURVEY.md §2
C1 + the mandated training-data-pipeline extensions).

Scale design (100 TB):
- Exact dedup groups on a 256-bit content hash, never on the raw text:
  the shuffle moves 32-byte keys + doc ids, not document bodies.
- MinHash/LSH (minhash.py-style banding) turns the quadratic all-pairs
  problem into an equi-join on (band, signature) buckets — candidate
  pairs only, verified exactly afterwards.  Shingle→id assignment here
  uses inline portable hash ids (md5-derived, oracle-exact in DuckDB
  too) — no vocabulary materialization, no global sort
  (same pipeline shape, no global sort) — the banding/join topology is
  unchanged.
- SimHash is a single linear pass + one small aggregation per doc —
  embarrassingly parallel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cdc_extractor_spark.partitioning import (
    data_proportional_partitions,
    scoped_shuffle_partitions,
)

# Arithmetic hash family over token ids: h_i(x) = (A_i * x + B_i) mod P.
# Pure int64 math → bit-identical in Spark and DuckDB (no engine hash
# function involved, those differ between engines).
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
N_HASHES = 16
N_BANDS = 4  # 4 rows per band


# Hash family h_i(x) = ((2i+1)·x + (7919i+12345)) mod MINHASH_P.  The
# coefficients live INLINE in minhash_signatures (they are Column
# arithmetic over the exploded hash index) and are mirrored verbatim in
# the dedup_minhash_lsh oracle SQL (queries.py) — change all sites
# together or signatures and oracle silently diverge.


def exact_dedup(documents: DataFrame) -> DataFrame:
    """C1 — exact content dedup: group by content hash, keep min doc_id.
    Returns one row per distinct content with its survivor and copy
    count."""
    return (
        documents.groupBy(F.sha2(F.col("text"), 256).alias("text_sha"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# Optimization r13 A/B on shingles() (guide §1.1 — the "ideal plan" that
# measured slower): two array rewrites that delete this window's
# exchange+sort were built and REJECTED on sf1 (10x) measurement. (a)
# per-doc ``transform(slice..)`` shingle arrays: higher-order functions
# evaluate interpreted outside whole-stage codegen — 2-8x slower
# (split_leakage_audit 3.5s -> 29.8s at sf1).  (b) codegen-friendly
# ``explode(sequence) + element_at``: the Generate copies the whole
# token ARRAY into every exploded row (O(n_tokens²) bytes per doc) —
# still 2-3x slower (11.7s).  The window form streams one token per row
# through codegen, and its doc_id exchange is LOAD-BEARING: the distinct
# and every downstream doc-keyed aggregate/join (signatures, sizes,
# verify legs) reuse that clustering via subset partitioning, so it is
# ONE corpus shuffle, not an extra one.  (OPTIMIZATION_r13.md §4;
# plans/r13/*_before.txt.)
def shingles(documents: DataFrame, k: int = 3) -> DataFrame:
    """Word k-gram shingles per document via window lead() — expressible
    identically in the SQL oracle.  Output: (doc_id, shingle) distinct."""
    toks = documents.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok"),
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    cols = [F.col("tok")] + [F.lead("tok", i).over(w) for i in range(1, k)]
    return (
        toks.select(
            "doc_id", F.concat_ws(" ", *cols).alias("shingle"), *[
                F.lead("tok", k - 1).over(w).alias("_last")
            ]
        )
        .filter(F.col("_last").isNotNull())
        .select("doc_id", "shingle")
        .distinct()
    )


def _portable_hash_id(col: str) -> "F.Column":
    """Deterministic 31-bit token/shingle id computed INLINE from the
    string: first 12 hex chars of md5 as a 48-bit int, reduced mod
    2^31-1.  Engine-portable (DuckDB computes the identical value, so
    oracles stay exact) and embarrassingly parallel — this replaced a
    dense_rank vocabulary whose empty-partition window funneled every
    distinct term through ONE task (the classic 100 TB killer); it also
    deletes the distinct + join the vocabulary needed.  A 31-bit id
    collides harmlessly for sketching (it merges two terms' hashes)."""
    return (
        F.conv(F.substring(F.md5(F.col(col)), 1, 12), 16, 10).cast("long")
        % F.lit(MINHASH_P)
    )


def _shingle_ids(sh: DataFrame) -> DataFrame:
    """(doc_id, sid): shingle ids by portable hash — a narrow map over
    the shingle stream, no vocabulary materialization."""
    return sh.select("doc_id", _portable_hash_id("shingle").alias("sid"))


def minhash_signatures(documents: DataFrame, k: int = 3,
                       sh: DataFrame | None = None) -> DataFrame:
    """MinHash signature matrix: one row per (doc, hash_i) with the min
    hashed shingle id.  Output: (doc_id, h, minhash).  Pass a
    precomputed ``sh`` to share the shingle scan with other stages."""
    ids = _shingle_ids(sh if sh is not None else shingles(documents, k))
    hashed = ids.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(0), F.lit(N_HASHES - 1))
        ).alias("h"),
        F.col("sid"),
    ).withColumn(
        "hv",
        ((F.col("h") * 2 + 1) * F.col("sid") + (F.col("h") * 7919 + 12345))
        % F.lit(MINHASH_P),
    )
    return hashed.groupBy("doc_id", "h").agg(F.min("hv").alias("minhash"))


def minhash_bands(documents: DataFrame, k: int = 3,
                  sh: DataFrame | None = None) -> DataFrame:
    """LSH banding: concat each band's minhashes into a bucket key.
    Output: (doc_id, band, sig)."""
    sigs = minhash_signatures(documents, k, sh)
    rows_per_band = N_HASHES // N_BANDS
    return (
        sigs.withColumn("band", (F.col("h") / rows_per_band).cast("long"))
        .groupBy("doc_id", "band")
        .agg(
            F.concat_ws(
                ":", F.sort_array(F.collect_list(F.concat_ws("=", "h", "minhash")))
            ).alias("sig")
        )
    )


def minhash_candidate_pairs(documents: DataFrame, k: int = 3,
                            sh: DataFrame | None = None) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any (band, sig) bucket.
    The join is an equi-join on the bucket key — the LSH trick that
    makes near-dedup linear-ish instead of quadratic."""
    bands = minhash_bands(documents, k, sh)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_lsh_dedup(documents: DataFrame, k: int = 3, threshold: float = 0.8) -> DataFrame:
    """Full near-dedup: LSH candidates verified by exact shingle-set
    Jaccard; pairs at/above threshold, with similarity in basis points
    (integer — cross-engine stable)."""
    # one shingle scan feeds signatures, verification, and sizes:
    # cached so the three consumers don't re-run the explode + window
    sh = shingles(documents, k).cache()
    cand = minhash_candidate_pairs(documents, k, sh)
    return _verify_pairs(sh, cand, threshold)


def ngram_jaccard_pairs(
    documents: DataFrame, n: int = 2, min_bp: int = 5000, max_id: int | None = 1000
) -> DataFrame:
    """Exact word-n-gram Jaccard for every pair sharing ≥1 n-gram —
    the brute-force counterpart to MinHash.  Cost is O(Σ df²) over
    shared n-grams, so it is capped to ``max_id`` docs: this operator
    is the bounded *verifier*; minhash_lsh_dedup is the scale path."""
    if max_id is not None:
        documents = documents.filter(F.col("doc_id") < max_id)
    sh = shingles(documents, n).cache()
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")), "doc_b")
        .withColumn(
            "jaccard_bp",
            F.floor(
                F.col("n_inter") * 10000 / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_bp") >= min_bp)
        .select("doc_a", "doc_b", "n_inter", "jaccard_bp")
    )


def simhash(documents: DataFrame, bits: int = 16) -> DataFrame:
    """SimHash fingerprint per document (``bits``-wide) from token
    counts: each token votes ±count on every bit of its arithmetic
    hash; the sign vector is the fingerprint.  Output: (doc_id,
    simhash)."""
    toks = (
        documents.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hashed = toks.withColumn(
        "hv",
        (_portable_hash_id("tok") * 2654435761 + 40503) % F.lit(MINHASH_P),
    )
    # Optimization r13 (guide §2.3/§2.4, the gopher_required_words
    # flag-form lesson): all ``bits`` per-bit vote sums fold into ONE
    # doc-keyed hash aggregate — Σ ±cnt per bit as `bits` conditional
    # sums — instead of exploding every token row ×bits and paying a
    # second (doc, b)-keyed exchange over the blown-up stream.  Bit b
    # of hv reads as `hv & 2^b` (hv < 2^31, so the old
    # floor(hv/2^b) % 2 double arithmetic was exact and identical);
    # the fingerprint re-assembles as Σ 2^b·[v_b > 0] in integer
    # literals.  Same votes, same fingerprint, one exchange and
    # bits× fewer aggregate rows (oracle-verified EXACT).
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.col("hv").bitwiseAND(F.lit(1 << b)) != 0, F.col("cnt")
                ).otherwise(-F.col("cnt"))
            ).alias(f"_v{b}")
            for b in range(bits)
        ]
    )
    fingerprint = sum(
        (
            F.when(F.col(f"_v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(bits)
        ),
        F.lit(0),
    )
    return votes.select(
        "doc_id", fingerprint.cast("long").alias("simhash")
    )


def connected_components(pairs: DataFrame, max_iters: int = 20) -> DataFrame:
    """Resolve near-dup pairs into clusters: connected components by
    iterative min-label propagation (label = smallest doc_id reachable).

    The training-pipeline step after pair generation — "keep one doc
    per duplicate cluster" needs the transitive closure, not the raw
    pairs (a~b, b~c must collapse a, b, c together even if a~c was
    never emitted).

    Scale shape: per iteration one self-equi-join edges⋈labels, one
    min-aggregate, and one PATH-HALVING join (label ← the label's own
    label — pointer jumping): once the pointer forest matures, reach
    roughly doubles per round, bounding rounds by O(log diameter)
    instead of O(diameter) — 15 → 11 rounds on the chain-heavy
    record-linkage graph at sf0.1 (wall-neutral locally where job
    overhead dominates, but at 100 TB every round is a full shuffle,
    so the log-bound form is the one that scales — the same reason
    the large-star/small-star MapReduce CC algorithms exist).
    Halving preserves the invariant (a node's label is always the id
    of some member of its component, monotonically non-increasing),
    so the fixpoint — and every caller's oracle — is unchanged.  All
    shuffles are on the node key, no driver-side data (the only
    collected value is the changed-label count that drives
    convergence); ``localCheckpoint`` truncates lineage each round so
    plan size stays O(1) in iterations.  Cadence probed r7 (VERDICT r6
    task #6, er_entity_groups graph at sf0.1, warm): every-OTHER-round
    checkpointing is ~19% SLOWER (7.0s vs 5.9s) — the un-checkpointed
    round's join tree re-executes for the convergence count and again
    feeding the next round, costing more than the checkpoint job it
    saves — so the per-round form stays.
    """
    # materialize the pair relation FIRST: the symmetric union below
    # references it twice, and without this the whole upstream pair
    # generation (shingle scan → minhash → LSH join → Jaccard verify)
    # would execute once per branch.  Optimization r14: the checkpoint
    # is LAZY and the sizing count() below is the action that
    # materializes it — one job where eager-checkpoint-then-count paid
    # two (the blocks are stored as the count's tasks compute each
    # partition, so every later reference still reads checkpointed
    # blocks; VERDICT r13 task #5, fewer driver actions per query).
    # Loop shuffle partitions track the EDGE VOLUME, not the session
    # default (round-8 strong-scaling lesson, SCALE.md: 10 rounds x 32
    # mostly-empty tasks made er_entity_groups 40% faster on 8 cores;
    # at 1000 executors the empty-task tax is 100x worse, and a 100 TB
    # edge list conversely needs far MORE than any static default).
    # Sized from the checkpointed PAIR count (2·|pairs| bounds the
    # symmetric edge list; the count only balances load, never
    # semantics — partition-count invariance is swept registry-wide);
    # the whole loop executes inside this scope (every round ends in
    # one count that materializes that round's lazy localCheckpoint),
    # so the conf is restored before the final labels frame is
    # returned to the caller.
    pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    n_pairs = pairs.count()
    loop_parts = data_proportional_partitions(
        2 * n_pairs,
        parallelism=pairs.sparkSession.sparkContext.defaultParallelism,
    )
    und = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    # Optimization r13 (guide §2.4, share one exchange): the edge list
    # is hash-partitioned by the loop's JOIN key ``b`` ONCE —
    # dropDuplicates needs only ClusteredDistribution(a, b), which a
    # subset partitioning on b already satisfies, so the dedupe rides
    # the same single exchange and localCheckpoint PRESERVES the
    # partitioning.  The old form checkpointed the distinct's (a, b)
    # layout, so every round's edges⋈labels join re-exchanged the FULL
    # edge list — the largest relation in the loop — once per round;
    # now only the (node-sized) label frame moves per round.  At 100 TB
    # that deletes ~rounds× corpus-scale shuffles.
    # r14: lazy — the seed labels' eager checkpoint (first action of
    # _min_label_fixpoint) scans this frame, so its job materializes
    # the edge blocks too; LogicalRDD captures the b-hash-partitioning
    # from the physical plan at checkpoint CREATION, independent of
    # eagerness, so the loop's exchange reuse is unchanged.
    edges = (
        und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(loop_parts, "b")
        .dropDuplicates()
        .localCheckpoint(eager=False)
    )
    # Optimization r13: adaptive execution is DISABLED for the loop
    # when the loop state is small (work-term regime: loop_parts chose
    # <= total cores).  AQE materializes every exchange of every round
    # as its own scheduled job to re-plan it, but on a loop already
    # pinned to a handful of data-sized static partitions there is
    # nothing to re-plan — no partitions to coalesce below the
    # data-proportional count, no multi-partition skew to split — so
    # the re-planning round-trips are pure per-round overhead
    # (interleaved A/B on the ER linkage graph: 1.4-2.2x across three
    # load levels, identical cluster signature; results are
    # AQE-invariant registry-wide per tools/partition_sweep.py
    # --no-aqe, 288/288 EXACT).  In the size-term regime (a 100 TB
    # edge list → loop_parts >> cores) AQE stays ON, where its skew
    # splitting earns its scheduling cost — the condition is derived
    # from DATA VOLUME, not from the local core count.
    spark = pairs.sparkSession
    aqe_key = "spark.sql.adaptive.enabled"
    aqe_before = spark.conf.get(aqe_key)
    tiny_loop = loop_parts <= spark.sparkContext.defaultParallelism
    try:
        if tiny_loop:
            spark.conf.set(aqe_key, "false")
        with scoped_shuffle_partitions(spark, loop_parts):
            labels = _min_label_fixpoint(edges, max_iters)
    finally:
        spark.conf.set(aqe_key, aqe_before)
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def _min_label_fixpoint(edges: DataFrame, max_iters: int) -> DataFrame:
    """Min-label propagation with path halving over a symmetric,
    checkpointed edge list — the loop body of connected_components,
    split out so the caller can scope the loop's shuffle partitioning
    around it."""
    # round-0 seed: label = min(node, min neighbor) — the old identity
    # init already paid a node-keyed shuffle for select(a).distinct(),
    # and groupBy(a).agg(min(b)) is the SAME one shuffle, so the first
    # min-propagation round comes free.  Probed r8 on the sf0.1
    # er_entity_groups linkage graph: 11 → 10 rounds, identical
    # cluster signature, local wall neutral (5.7-5.9s both forms, job
    # overhead dominates) — kept because at 100 TB every saved round
    # is a full edges⋈labels shuffle.  Invariant preserved: the seed
    # is the id of a reachable node and ≤ node, so monotone min-label
    # convergence (and every caller's oracle) is unchanged.
    labels = (
        edges.groupBy("a")
        .agg(F.min("b").alias("_mn"))
        .select(
            F.col("a").alias("node"),
            F.least(F.col("a"), F.col("_mn")).alias("label"),
        )
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iters):
        nbr = edges.join(
            labels.select(F.col("node").alias("b"), "label"), "b"
        ).select(
            F.col("a").alias("node"),
            "label",
            F.lit(None).cast("long").alias("old"),
        )
        # tag the node's own previous label into the same aggregation —
        # min('old') skips nulls, so convergence is read off the single
        # checkpointed result instead of a second join+count job
        own = labels.select("node", "label", F.col("label").alias("old"))
        # m1 is deliberately NOT checkpointed: it appears on both sides
        # of the halving join, but recomputing the node-keyed union+agg
        # twice inside one plan is cheaper than an extra eager
        # checkpoint job per round (measured ~15% of the loop at sf0.1;
        # the inputs it reads ARE checkpointed, so lineage stays O(1))
        m1 = (
            own.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("label").alias("label"), F.min("old").alias("old"))
        )
        # path halving: every label value is itself a node id, so one
        # node-keyed self-join fetches label[label]; least() keeps the
        # invariant monotone (label[label] <= label always, coalesce is
        # belt-and-braces for a label whose node row was pruned)
        lol = m1.select(
            F.col("node").alias("_ln"), F.col("label").alias("_ll")
        )
        # Optimization r14 (VERDICT r13 task #5, one action per round):
        # the checkpoint is LAZY and the convergence count is the
        # action that materializes it — the count's tasks compute every
        # partition of ``merged`` (the filter is row-local, it prunes
        # nothing upstream), and local checkpointing stores each
        # partition as it is first computed, so the next round's join
        # reads checkpointed blocks exactly as under the old
        # eager-checkpoint-then-count form at HALF the scheduled jobs
        # (2/round → 1/round; ~10 rounds on the ER linkage graph).
        merged = (
            m1.join(lol, m1["label"] == lol["_ln"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_ll"), F.col("label"))
                ).alias("label"),
                "old",
            )
            .localCheckpoint(eager=False)
        )
        changed = merged.filter(F.col("label") != F.col("old")).count()
        labels = merged.select("node", "label")
        if changed == 0:
            break
    return labels


def fuzzy_verified_pairs(
    documents: DataFrame, k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Edit-distance verification stage on LSH candidates: for each
    near-dup pair, the exact Levenshtein distance between the two
    texts — the classic fuzzy-match refinement (shingle Jaccard is
    order-insensitive; edit distance catches transpositions it
    forgives).

    Scale: levenshtein is O(len²) per pair, so it runs ONLY on the LSH
    survivors (hundreds per million docs), never all-pairs; texts join
    in by doc_id — two broadcast-able lookups against the candidate
    list."""
    pairs = minhash_lsh_dedup(documents, k, threshold)
    da = documents.select(F.col("doc_id").alias("doc_a"),
                          F.col("text").alias("text_a"))
    db = documents.select(F.col("doc_id").alias("doc_b"),
                          F.col("text").alias("text_b"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a", "doc_b", "jaccard_bp",
            F.levenshtein("text_a", "text_b").cast("long").alias("lev"),
        )
    )


def _verify_pairs(sh: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact shingle-set Jaccard verification of candidate pairs —
    shared by the full and incremental LSH paths."""
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingle"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingle"))
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    return (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("n_sh").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_sh").alias("nb")), "doc_b")
        .withColumn(
            "jaccard_bp",
            F.floor(
                F.col("n_inter") * 10000
                / (F.col("na") + F.col("nb") - F.col("n_inter"))
            ).cast("long"),
        )
        .filter(F.col("jaccard_bp") >= int(threshold * 10000))
        .select("doc_a", "doc_b", "n_inter", "jaccard_bp")
    )


def minhash_lsh_incremental(
    documents: DataFrame, split_doc_id: int, k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental near-dup index maintenance: with an index already
    materialized over docs ``< split_doc_id``, a new batch only needs
    the pairs that TOUCH a new doc — new-bands ⋈ all-bands on the LSH
    bucket key, then exact verification of just those candidates.

    union(old-index pairs, this) ≡ full recompute (pinned in pytest) —
    the same merge-≡-recompute contract as incremental_rollup.  Scale:
    per-doc signatures/bands are embarrassingly parallel and
    independent of corpus membership (hash ids, no vocabulary), so the
    epoch cost is O(new batch + touched buckets), never O(corpus²) —
    the difference between re-dedupping 100 TB nightly and streaming
    new documents into the index.
    """
    sh = shingles(documents, k).cache()
    bands = minhash_bands(documents, k, sh)
    new = bands.filter(F.col("doc_id") >= split_doc_id)
    a, b = new.alias("a"), bands.alias("b")
    cand = (
        a.join(b, ["band", "sig"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    return _verify_pairs(sh, cand, threshold)


def exact_substring_dups(
    documents: DataFrame, width: int = 40, keep_mod: int = 8
) -> DataFrame:
    """Verbatim cross-document substring duplication (the
    deduplicate-text-datasets family, Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): slide a
    fixed-``width`` character window over every position of every
    document, keep the CONTENT-DEFINED subset of windows whose portable
    hash ≡ 0 (mod ``keep_mod``) — the winnowing/fingerprinting trick
    (Schleimer et al., MOSS) — and mark every kept window whose text
    occurs in ≥2 distinct documents.  Content-defined selection is the
    load-bearing choice: a fixed stride grid silently misses every copy
    whose offset shift isn't a stride multiple, while hash-selected
    windows travel WITH the text, so a shared span selects identical
    windows in both documents no matter where it landed.  MinHash
    answers "are these documents similar?"; this answers "which
    documents contain VERBATIM copied passages?" — different
    contamination, different filter.

    Output per document that kept ≥1 window: kept-window count, how
    many are shared with another document, and the shared fraction in
    permille (integer DIV — no float ratio forms).  A shared span of
    length L ≥ width contributes ≈ (L − width + 1)/keep_mod identical
    fingerprints to both sides.

    Scale shape: one narrow explode (n_chars rows per doc, no shuffle)
    → hash-filter keeps ~1/keep_mod → ONE exchange on the window text
    that BOTH the (doc, window) dedupe (subset partitioning satisfies
    ClusteredDistribution(doc_id, w)) and the per-window count window
    ride → per-doc hash aggregate.  Two shuffles total, both over the
    thinned stream, ONE pass over the corpus, and every operator on
    the hot key spills (hash-agg dedupe; the count window sorts via
    the external sorter) — no unbounded per-group buffer anywhere
    (ADVICE r13: the r13 collect_list form held one window's whole
    sharing-doc list in a single non-spillable aggregation buffer; a
    boilerplate window shared by millions of docs would OOM an
    executor at 100 TB), and no second corpus scan (a count-aggregate
    + join-back form measured here re-executed the whole
    explode+md5 subtree for the join's build side at sf0.1 — AQE's
    broadcast re-planning defeats ReusedExchange — which at 100 TB is
    a duplicated corpus pass, strictly worse than the sort it saves).
    At 100 TB the per-position md5 becomes a rolling Karp-Rabin
    (O(1)/position) and the shuffle key its 8-byte value with an
    equality re-check on collisions; md5 + string keys are kept here
    so the operator is collision-free by construction and the DuckDB
    oracle replays it verbatim.
    """
    # repartition on the window text FIRST: hashpartitioning(w)
    # satisfies ClusteredDistribution(doc_id, w), so dropDuplicates
    # rides this one exchange (the connected_components subset-
    # partitioning trick), and the count window below consumes the
    # SAME partitioning — the md5-per-position scan runs exactly once.
    wins = (
        documents.where(F.length("text") >= width)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.lit(0).cast("long"),
                    (F.length("text") - width).cast("long"),
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.expr(f"substring(text, CAST(i + 1 AS INT), {width})").alias("w"),
        )
        .where(
            F.conv(F.substring(F.md5("w"), 1, 12), 16, 10).cast("long")
            % keep_mod == 0
        )
        .repartition("w")
        .dropDuplicates()
    )
    # wins is distinct per (doc, window text), so the per-window row
    # count IS the distinct-document count.  Optimization r14 (ADVICE
    # r13 medium): count().over(partitionBy(w)) — WindowExec's frame
    # state for an unbounded count is a single counter and its
    # buffering rides the external sorter, so a degenerate boilerplate
    # window shared by millions of docs SPILLS instead of holding one
    # unbounded collect_list aggregation buffer (the r13 form), and
    # unlike a count-aggregate + join-back there is no second
    # evaluation of the explode+md5 subtree: the window consumes the
    # dedupe's hashpartitioning(w) directly (no new exchange, one
    # corpus pass).  The sort it introduces is over the thinned
    # (~1/keep_mod) fingerprint stream only.
    marked = wins.select(
        "doc_id",
        (
            F.count(F.lit(1)).over(Window.partitionBy("w")) >= 2
        ).cast("long").alias("is_dup"),
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum("is_dup").alias("n_dup_windows"),
        )
        .select(
            "doc_id",
            "n_windows",
            "n_dup_windows",
            F.expr("n_dup_windows * 1000 DIV n_windows").alias("dup_permille"),
        )
    )


def record_linkage_blocked(
    part: DataFrame, min_agree: int = 3
) -> DataFrame:
    """Entity resolution over structured product records: every pair of
    parts that agree on at least ``min_agree`` of the 4 descriptive
    fields (name, brand, type, size) — the deterministic record-linkage
    primitive (duplicate product listings, re-registered SKUs) that
    complements the text-shingle dedup family (exact/MinHash/SimHash
    operate on prose, not field tuples).

    Spark-first strategy — deletion-neighborhood blocking (the FastSS /
    Vernica-et-al. signature idea specialized to positional fields):
    each record emits exactly 4 signatures, one per field MASKED OUT
    (signature i = the other 3 field values, tagged with i).  Two
    records agreeing on ≥3 of 4 fields necessarily share the signature
    that masks a disagreeing field (or any signature, if they agree on
    all 4), so a plain equi-join on (mask_id, signature) finds every
    qualifying pair — candidate generation is O(n·4) rows and ONE
    hash-shuffle, never the O(n²) compare, and never a cartesian /
    BroadcastNestedLoop plan (plan-asserted).  Pairs matching several
    signatures (agree = 4) collapse with one distinct at the
    pair-grain, whose cardinality is the RESULT size, not the input.
    At 100 TB: block skew = records sharing 3 exact field values ≈
    true duplicate clusters; pathological hot blocks (e.g. a
    boilerplate value tuple) split by AQE or a mask-id salt.

    Each signature field is null-guarded through a sentinel before
    ``concat_ws`` (which SKIPS nulls and would otherwise collide
    ('a', NULL, 'b') with ('a', 'b', NULL) — the round-5 fingerprint
    lesson).
    """
    fields = ["p_name", "p_brand", "p_type", "p_size"]
    sep = "\x1f"
    rec = part.select(
        F.col("p_partkey").alias("k"),
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")).alias(c) for c in fields],
    )
    sigs = [
        F.concat_ws(
            sep,
            F.lit(str(i)),
            *[F.col(c) for j, c in enumerate(fields) if j != i],
        ).alias(f"_s{i}")
        for i in range(len(fields))
    ]
    tagged = rec.select("k", *fields, F.explode(F.array(*sigs)).alias("_sig"))
    left = tagged.select(
        F.col("k").alias("a_key"),
        *[F.col(c).alias(f"a_{c}") for c in fields],
        "_sig",
    )
    right = tagged.select(
        F.col("k").alias("b_key"),
        *[F.col(c).alias(f"b_{c}") for c in fields],
        F.col("_sig").alias("_sigr"),
    )
    agree = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        for c in fields
    )
    return (
        left.join(
            right,
            (F.col("_sig") == F.col("_sigr"))
            & (F.col("a_key") < F.col("b_key")),
        )
        .select("a_key", "b_key", agree.cast("long").alias("n_agree"))
        .distinct()
        .filter(F.col("n_agree") >= min_agree)
    )


def setsim_prefix_filter_pairs(
    lineitem: DataFrame, threshold_permille: int = 500
) -> DataFrame:
    """Set-similarity join with PREFIX FILTERING (the PPJoin family's
    core pruning rule) over order baskets: emit every pair of orders
    whose part-key sets have Jaccard ≥ t, without the all-pairs join.

    The rule: order each basket's tokens by ascending global frequency
    (rarest first, partkey tie-break); if J(A,B) ≥ t, the first
    ``|A| − ⌈t·|A|⌉ + 1`` tokens of A and of B must share at least one
    token under ANY shared total order — so candidates are the
    self-equi-join of PREFIXES only, plus the companion length filter
    ``t·max(|A|,|B|) ≤ min(|A|,|B|)``.  Rare-first ordering makes the
    surviving prefix-token buckets the SMALLEST ones, which is what
    bounds the join fan-out.  Candidates are then verified exactly
    (shared-token count → integer Jaccard permille).

    Exactness: the prefix length uses ⌈t·s⌉ = (t‰·s + 999) div 1000;
    the emitted pair set is provably identical to the naive quadratic
    join the oracle states (prefix filtering is lossless), so the
    oracle needs no knowledge of the pruning.

    Plan shape (scale): token frequency is a hash aggregate over the
    token table; per-basket ordering is a window PARTITIONED BY ORDER
    (basket-bounded, never data-bounded); the candidate join touches
    only prefix tokens of frequency-skew-free buckets; verification
    joins each candidate pair to two collect_set basket ARRAYS and
    intersects per row (basket-bounded JVM kernel) — every join an
    equi-join, no cartesian (plan-asserted).  The array verify
    replaced the token re-explosion + hash-agg form in round 13 after
    a 2.81x win at 10x scale (SCALE.md, "Round-13 PPJoin verify A/B")."""
    t = threshold_permille
    s = lineitem.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    sz = s.groupBy("o").agg(F.count(F.lit(1)).alias("n"))
    freq = s.groupBy("p").agg(F.count(F.lit(1)).alias("f"))
    ranked = (
        s.join(freq, "p")
        .join(sz, "o")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("o").orderBy(F.asc("f"), F.asc("p"))
            ),
        )
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.expr(f"({t} * n + 999) div 1000") + 1
    ).select("o", "p", "n", "pos")
    a = prefix.select(
        F.col("o").alias("oa"), F.col("p").alias("pp"),
        F.col("n").alias("na"), F.col("pos").alias("pa"),
    )
    b = prefix.select(
        F.col("o").alias("ob"), F.col("p").alias("pp"),
        F.col("n").alias("nb"), F.col("pos").alias("pb"),
    )
    # positional filter (the PPJoin refinement): for the FIRST shared
    # token the total overlap is bounded by 1 + min(suffix lengths), and
    # a true pair needs overlap >= ceil(t(na+nb)/(1000+t)); dropping
    # occurrences that fail the bound is lossless because the first
    # shared occurrence of any qualifying pair always passes.
    cand = (
        a.join(b, "pp")
        .filter(
            (F.col("oa") < F.col("ob"))
            & (F.lit(t) * F.greatest("na", "nb")
               <= F.lit(1000) * F.least("na", "nb"))
            & (
                (F.least(F.col("na") - F.col("pa"), F.col("nb") - F.col("pb"))
                 + 1) * F.lit(1000 + t)
                >= F.lit(t) * (F.col("na") + F.col("nb"))
            )
        )
        .select("oa", "ob", "na", "nb")
        .distinct()
    )
    # verify via basket ARRAYS, not token re-explosion (round-13 A/B,
    # SCALE.md "Round-13 PPJoin verify A/B"): the explosion form shuffles |cand| x |A|
    # token rows and pays a verify hash-agg; collecting each basket
    # once (collect_set over the already-distinct token relation) and
    # intersecting per candidate row keeps verify volume at |cand|
    # rows, with the intersect a per-row JVM kernel over
    # basket-bounded arrays.  Identical pair set and values — exact
    # verification either way.
    baskets = s.groupBy("o").agg(F.collect_set("p").alias("ps"))
    ba = baskets.select(F.col("o").alias("oa"), F.col("ps").alias("psa"))
    bb = baskets.select(F.col("o").alias("ob"), F.col("ps").alias("psb"))
    inter = (
        cand.join(ba, "oa")
        .join(bb, "ob")
        .withColumn("inter", F.size(F.array_intersect("psa", "psb")))
    )
    return (
        inter.filter(
            F.lit(1000) * F.col("inter")
            >= F.lit(t) * (F.col("na") + F.col("nb") - F.col("inter"))
        )
        .select(
            F.col("oa").alias("order_a"),
            F.col("ob").alias("order_b"),
            F.col("inter").cast("long").alias("inter_size"),
            (F.col("na") + F.col("nb") - F.col("inter"))
            .cast("long")
            .alias("union_size"),
            F.expr("CAST((1000 * inter) div (na + nb - inter) AS BIGINT)")
            .alias("jaccard_permille"),
        )
    )


def setcontain_prefix_filter_pairs(
    lineitem: DataFrame, threshold_permille: int = 800
) -> DataFrame:
    """ASYMMETRIC set-containment join over order baskets: emit every
    ordered pair (small, big) of orders where the SMALLER basket's
    part-key set is ≥ t contained in the larger's —
    ``|A∩B| div |A| ≥ t`` with ``|A| ≤ |B|`` (ties broken by orderkey).
    Containment is the dedup relation Jaccard misses: a quoted or
    subsetted basket (A ⊂ B) has containment 1000‰ but arbitrarily low
    Jaccard as |B| grows — the "document quotes another document"
    detector of the near-dup family (setsim_prefix_filter_pairs is its
    symmetric sibling).

    Pruning (lossless): if ``|A∩B| ≥ o = ⌈t·|A|⌉``, then among the
    first ``|A| − o + 1`` tokens of A (ANY fixed total order — here
    rarest-first) at least one is in B; otherwise at most ``o − 1`` of
    A's tokens could be in B.  So candidates are A-PREFIX tokens
    equi-joined against B's FULL token relation — the probe-side
    prefix filter of the containment-join literature (the B side
    cannot be prefix-pruned because o depends on |A| alone).
    Rare-first ordering keeps the surviving prefix buckets the
    smallest ones, bounding fan-out.  Verification is exact on the
    candidate pairs.

    Plan shape (scale): token frequency is one hash aggregate;
    per-basket ranking is a basket-bounded window; the candidate join
    touches only ``|A|−⌈t|A|⌉+1`` prefix tokens per basket against the
    token table (equi-join on part key, no cartesian); verification
    joins each candidate to two collect_set basket arrays and
    intersects per row (2.94x over the token re-explosion form at 10x
    scale, SCALE.md "Round-13 PPJoin verify A/B").  The smaller-side-only prefix means
    total candidate volume is ``Σ_A prefix(A)·df(token)`` — the same
    bound the PPJoin family gives, with no lossy step."""
    t = threshold_permille
    s = lineitem.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    sz = s.groupBy("o").agg(F.count(F.lit(1)).alias("n"))
    freq = s.groupBy("p").agg(F.count(F.lit(1)).alias("f"))
    ranked = (
        s.join(freq, "p")
        .join(sz, "o")
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("o").orderBy(F.asc("f"), F.asc("p"))
            ),
        )
    )
    # o = ceil(t*n/1000); A-prefix = first n - o + 1 rarest tokens
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.expr(f"({t} * n + 999) div 1000") + 1
    ).select(F.col("o").alias("oa"), F.col("p").alias("pp"),
             F.col("n").alias("na"))
    full = s.select(F.col("o").alias("ob"), F.col("p").alias("pp"))
    szb = sz.select(F.col("o").alias("ob"), F.col("n").alias("nb"))
    # smaller-in-bigger orientation: (na, oa) strictly before (nb, ob)
    cand = (
        prefix.join(full, "pp")
        .join(szb, "ob")
        .filter(
            (F.col("na") < F.col("nb"))
            | ((F.col("na") == F.col("nb")) & (F.col("oa") < F.col("ob")))
        )
        .select("oa", "ob", "na", "nb")
        .distinct()
    )
    # basket-array verify, same rationale and A/B evidence as the
    # setsim sibling (SCALE.md): |cand| verify rows instead
    # of |cand| x |A| exploded token rows, no verify hash-agg.
    baskets = s.groupBy("o").agg(F.collect_set("p").alias("ps"))
    ba = baskets.select(F.col("o").alias("oa"), F.col("ps").alias("psa"))
    bb = baskets.select(F.col("o").alias("ob"), F.col("ps").alias("psb"))
    inter = (
        cand.join(ba, "oa")
        .join(bb, "ob")
        .withColumn("inter", F.size(F.array_intersect("psa", "psb")))
    )
    return (
        inter.filter(F.lit(1000) * F.col("inter") >= F.lit(t) * F.col("na"))
        .select(
            F.col("oa").alias("order_small"),
            F.col("ob").alias("order_big"),
            F.col("na").cast("long").alias("size_small"),
            F.col("nb").cast("long").alias("size_big"),
            F.col("inter").cast("long").alias("inter_size"),
            F.expr("CAST((1000 * inter) div na AS BIGINT)")
            .alias("containment_permille"),
        )
    )


def split_leakage_audit(
    documents: DataFrame, k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Train/val/test split-leakage audit over NEAR-dup clusters
    (round 8): count MinHash-LSH near-duplicate pairs whose two
    members landed in different splits of the deterministic LCG split
    (the same bucket formula as ``text.train_val_test_split``) — the
    eval-integrity check ``decontamination_overlap`` misses, because
    shingle overlap against train catches verbatim leakage but a
    near-dup twin of a TEST doc sitting in TRAIN leaks the benchmark
    even when individual shingles are noisy.  A sound split assigns
    whole duplicate CLUSTERS to one side; any cross-split pair here is
    a leak.

    Scale shape: pair generation is the banded-LSH bucket join
    (never all-pairs); the split tag is pure per-row arithmetic joined
    in by doc_id (two broadcast-able lookups against the pair list,
    the same shape as ``fuzzy_verified_pairs``); the rollup is ≤9
    split-pair groups.  sum_doc_a pins pair identity, not just counts.
    """
    pairs = minhash_lsh_dedup(documents, k, threshold)
    bucket = ((F.col("doc_id") * 1103515245 + 12345) % 2147483647) % 1000
    split = (
        F.when(bucket < 800, F.lit("train"))
        .when(bucket < 900, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    tags = documents.select("doc_id", split.alias("_split"))
    ta = tags.select(F.col("doc_id").alias("doc_a"),
                     F.col("_split").alias("_sa"))
    tb = tags.select(F.col("doc_id").alias("doc_b"),
                     F.col("_split").alias("_sb"))
    tagged = pairs.join(ta, "doc_a").join(tb, "doc_b")
    return tagged.groupBy(
        F.least(F.col("_sa"), F.col("_sb")).alias("split_lo"),
        F.greatest(F.col("_sa"), F.col("_sb")).alias("split_hi"),
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("doc_a").alias("sum_doc_a"),
        F.sum(
            (F.col("_sa") != F.col("_sb")).cast("long")
        ).alias("n_leak_pairs"),
    )


def minhash_band_stats(documents: DataFrame, k: int = 3) -> DataFrame:
    """LSH tuning report (round 9): per band, the bucket-structure
    numbers that PREDICT the candidate-join blowup before it runs —
    distinct buckets, the largest bucket, and the exact candidate-pair
    workload Σ m·(m−1)/2 the band would emit into the bucket self-join.
    At 100 TB this report is what decides the banding parameters: a
    band whose max bucket holds 10⁶ docs contributes 5·10¹¹ pairs on
    its own, and re-banding (more rows per band) is a config change
    while a blown join is an outage.

    Scale: one pass over the signature stream, two hash aggregates
    ((band, sig) then band) with map-side combine; output is
    N_BANDS rows.  No pair is ever materialized — the workload is
    computed from bucket sizes, which is the whole point."""
    bands = minhash_bands(documents, k)
    buckets = bands.groupBy("band", "sig").agg(
        F.count(F.lit(1)).alias("m")
    )
    return (
        buckets.groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            F.sum("m").alias("n_docs"),
            F.max("m").alias("max_bucket"),
            F.sum(F.expr("m * (m - 1) div 2")).alias("n_cand_pairs"),
        )
        .select("band", "n_buckets", "n_docs", "max_bucket", "n_cand_pairs")
    )


def lsh_jaccard_calibration(documents: DataFrame, k: int = 3) -> DataFrame:
    """Sketch-calibration report (round 11): per LSH candidate pair,
    the MinHash Jaccard ESTIMATE (matching minhashes / N_HASHES, in
    basis points: matches x 625 at 16 hashes) against the EXACT
    shingle-set Jaccard, error-bucketed by match count — the
    estimation-quality sibling of dedup_lsh_recall_report (which
    measures retrieval, not estimation).  This is what calibrates the
    verify threshold: if estimate 12/16 systematically overshoots the
    exact Jaccard by 800 bp, the banded pipeline's cheap filter can't
    be trusted at 0.75 and the report shows it per bucket.

    Scale: candidate-list-bound like the rest of the LSH tier — the
    estimate join fans each candidate pair out by N_HASHES (16) rows
    against the signature matrix (hash aggregate, map-side combine),
    the exact side re-uses the shared shingle scan, and the output is
    <= N_HASHES + 1 rows.  No all-pairs stage anywhere.
    """
    sh = shingles(documents, k).cache()
    # cache the signature matrix: the banding inside
    # minhash_candidate_pairs rebuilds the identical sigs plan, and
    # Spark's CacheManager matches it by canonicalized subtree — one
    # signature computation feeds both the buckets and the estimate
    # join (A/B 1.08x/1.12x at sf0.1/sf1, SCALE.md "Round-11
    # weak-scaling + sig-cache probes"; |docs| x 16 slim rows, KB-scale
    # at any corpus)
    sigs = minhash_signatures(documents, k, sh).cache()
    cand = minhash_candidate_pairs(documents, k, sh)
    a = sigs.select(
        F.col("doc_id").alias("doc_a"), "h", F.col("minhash").alias("mh_a")
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"), "h", F.col("minhash").alias("mh_b")
    )
    est = (
        cand.join(a, "doc_a")
        .join(b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(
                F.when(F.col("mh_a") == F.col("mh_b"), F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("est_matches")
        )
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cand.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    per = (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "est_matches",
            (F.col("est_matches") * (10000 // N_HASHES)).alias("est_bp"),
            F.floor(
                F.coalesce(F.col("n_inter"), F.lit(0))
                * 10000
                / (
                    F.col("na")
                    + F.col("nb")
                    - F.coalesce(F.col("n_inter"), F.lit(0))
                )
            )
            .cast("long")
            .alias("jaccard_bp"),
        )
    )
    err = F.abs(F.col("est_bp") - F.col("jaccard_bp"))
    return (
        per.withColumn("abs_err_bp", err)
        .groupBy("est_matches")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("est_bp").cast("long").alias("est_bp"),
            F.floor(F.sum("jaccard_bp") / F.count(F.lit(1)))
            .cast("long")
            .alias("mean_jaccard_bp"),
            F.floor(F.sum("abs_err_bp") / F.count(F.lit(1)))
            .cast("long")
            .alias("mean_abs_err_bp"),
            F.max("abs_err_bp").cast("long").alias("max_abs_err_bp"),
        )
        .select(
            F.col("est_matches").cast("long").alias("est_matches"),
            "est_bp",
            "n_pairs",
            "mean_jaccard_bp",
            "mean_abs_err_bp",
            "max_abs_err_bp",
        )
    )


def lsh_band_calibration(
    documents: DataFrame, k: int = 3, good_bp: int = 7000
) -> DataFrame:
    """Per-band LSH calibration drill-down (round 12, VERDICT r11 task
    #5): every candidate pair attributed to the FIRST band that caught
    it, with per-band pair volume, exclusivity (pairs no other band
    catches), and exact-Jaccard quality — the bucket-level sibling of
    ``lsh_jaccard_calibration`` (which buckets by minhash match count).
    Together with minhash_band_stats (workload per band) and
    dedup_lsh_recall_report (retrieval quality) this closes the LSH
    tuning loop: band_stats says what each band COSTS, this says what
    each band UNIQUELY CONTRIBUTES and how precise its catches are —
    the report that decides whether N_BANDS can drop.

    Scale: candidate-list-bound — per-band pairs come from the same
    (band, sig) bucket equi-join as the dedup pipeline (never
    all-pairs), the first-catch attribution is one hash aggregate on
    the pair key, and the exact-Jaccard verify reuses the shared
    cached shingle scan.  Output is <= N_BANDS rows.
    """
    sh = shingles(documents, k).cache()
    bands = minhash_bands(documents, k, sh)
    a = bands.alias("a")
    b = bands.alias("b")
    pair_bands = (
        a.join(b, ["band", "sig"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            "band",
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
    )
    per_pair = pair_bands.groupBy("doc_a", "doc_b").agg(
        F.min("band").alias("first_band"),
        F.count(F.lit(1)).alias("n_bands"),
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        per_pair.select("doc_a", "doc_b")
        .join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    jac = F.floor(
        F.coalesce(F.col("n_inter"), F.lit(0))
        * 10000
        / (F.col("na") + F.col("nb") - F.coalesce(F.col("n_inter"), F.lit(0)))
    ).cast("long")
    per = (
        per_pair.join(inter, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a")
        .join(nb, "doc_b")
        .select("first_band", "n_bands", jac.alias("jaccard_bp"))
    )
    return (
        per.groupBy("first_band")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(
                F.when(F.col("n_bands") == 1, F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_exclusive"),
            F.floor(F.sum("jaccard_bp") / F.count(F.lit(1)))
            .cast("long")
            .alias("mean_jaccard_bp"),
            F.sum(
                F.when(F.col("jaccard_bp") >= good_bp, F.lit(1)).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_good"),
        )
        .select(
            F.col("first_band").cast("long").alias("first_band"),
            "n_pairs",
            "n_exclusive",
            "mean_jaccard_bp",
            "n_good",
            F.floor(F.col("n_good") * 10000 / F.col("n_pairs"))
            .cast("long")
            .alias("precision_bp"),
        )
    )


def merge_conflict_report(
    components: DataFrame, documents: DataFrame
) -> DataFrame:
    """Field-level merge-conflict audit per near-dup cluster (round 12,
    VERDICT r11 task #6): for every resolved cluster, how many distinct
    values each metadata field carries and how many members DISAGREE
    with the canonical record the survivorship rule keeps (longest
    n_chars, doc_id tie-break — the same rule as dedup_survivorship).
    This is the data-quality companion of the keep-first/survivorship
    merge: the conflict counts are exactly the information the merge
    DISCARDS, which is what a 100 TB dedup pipeline must audit before
    it deletes the losers.

    Scale: cluster members are result-set-sized (near-dup pairs →
    components), so both aggregates here run over the tiny member
    frame; the only corpus-touching step is the doc_id equi-join that
    fetches the three metadata columns (never the text).  Canonical
    selection is a single max_by aggregate — no window, map-side
    combinable.
    """
    j = components.join(
        documents.select("doc_id", "lang", "source", "n_chars"), "doc_id"
    )
    rank_key = F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nd"))
    per = j.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.count_distinct("lang").cast("long").alias("n_langs"),
        F.count_distinct("source").cast("long").alias("n_sources"),
        (F.max("n_chars") - F.min("n_chars"))
        .cast("long")
        .alias("chars_spread"),
        F.max_by("doc_id", rank_key).alias("canonical_doc_id"),
        F.max_by("lang", rank_key).alias("canonical_lang"),
        F.max_by("source", rank_key).alias("canonical_source"),
    )
    conf = (
        j.join(
            per.select(
                "cluster_id", "canonical_lang", "canonical_source"
            ),
            "cluster_id",
        )
        .groupBy("cluster_id")
        .agg(
            F.sum(
                F.when(
                    F.col("lang") != F.col("canonical_lang"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("lang_conflicts"),
            F.sum(
                F.when(
                    F.col("source") != F.col("canonical_source"), F.lit(1)
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("source_conflicts"),
        )
    )
    return per.join(conf, "cluster_id").select(
        "cluster_id",
        "canonical_doc_id",
        "n_members",
        "n_langs",
        "n_sources",
        "lang_conflicts",
        "source_conflicts",
        "chars_spread",
    )


def cluster_size_report(components: DataFrame) -> DataFrame:
    """Capacity-planning size distribution of near-dup clusters
    (round 13, VERDICT r12 task #4): cluster counts, member totals and
    removable-duplicate totals per member-count bucket — the twin of
    merge_conflict_report that answers "how MUCH does dedup delete and
    is the mass in many small clusters or a few giants?" before a
    100 TB pipeline commits to the merge.  Giant components (the
    classic LSH failure mode: boilerplate gluing unrelated docs into
    one mega-cluster) show up here first, as a 17+ bucket with a huge
    max_members.

    Buckets are FIXED integer CASE arms (2, 3, 4, 5-8, 9-16, 17+), not
    a float log2 — bucket edges must be bit-identical across engines,
    and a power-of-two CASE over a BIGINT count is exact everywhere.

    Scale: the per-cluster count is one hash aggregate over the
    components frame (result-set-sized: only docs that appear in a
    near-dup pair carry rows); the bucket rollup is a second aggregate
    over the |clusters|-row frame.  Nothing here ever touches the
    corpus — the report is O(|near-dup docs|), map-side combinable at
    every step.
    """
    sizes = components.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    bucket = (
        F.when(F.col("n") <= 2, F.lit("2"))
        .when(F.col("n") == 3, F.lit("3"))
        .when(F.col("n") == 4, F.lit("4"))
        .when(F.col("n") <= 8, F.lit("5-8"))
        .when(F.col("n") <= 16, F.lit("9-16"))
        .otherwise(F.lit("17+"))
    )
    return (
        sizes.groupBy(bucket.alias("size_bucket"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("n").cast("long").alias("n_docs"),
            (F.sum("n") - F.count(F.lit(1)))
            .cast("long")
            .alias("n_removable"),
            F.max("n").cast("long").alias("max_members"),
        )
    )
