"""Deduplication operators for LLM training-data pipelines.

Exact dedup, MinHash+LSH fuzzy dedup, SimHash, and n-gram Jaccard —
all as DataFrame -> DataFrame functions built from JVM-side built-ins
(no Python UDFs: shingling is `sequence`+`slice`, hashing is md5-based,
banding is a groupBy). Scale shape: everything is explode -> hash ->
groupBy, i.e. one shuffle keyed by doc or by (band, bucket); candidate
verification joins only within buckets, never all-pairs.

Reference parity: the reference's only dedup is a 2-column hash dedup
of download requests (reference ``cosmos_xenna/pipelines/private/
pipelines.py:155-225``); these operators are the north-star additions.

Hashes use the md5-derived 63-bit integers from
``cosmos_xenna_spark.functions.md5_long63`` so the DuckDB oracle can
reproduce them; swap to ``xxhash64`` for pure-Spark production speed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType

from cosmos_xenna_spark.functions import md5_long63
from cosmos_xenna_spark.operators.cache import (
    _checkpoint_rdd,
    checkpoint,
    fixpoint,
    release_checkpoint,
    scoped_persist,
)

# Universal-hash family for MinHash: one md5 per shingle, then
# h_s = (a_s * hi30 + b_s * lo30 + c_s) mod (2^61 - 1) per seed — all
# operands < 2^31 so the int64 arithmetic never overflows (DuckDB
# raises on BIGINT overflow; Spark would silently wrap). 16x fewer md5
# calls than hashing "seed:shingle" per seed.
MERSENNE61 = (1 << 61) - 1
_LO30 = (1 << 30) - 1


def minhash_consts(n_hashes: int) -> list[tuple[int, int, int]]:
    out = []
    for s in range(n_hashes):
        a = (2654435761 * (s + 1)) % (1 << 30) | 1
        b = (2246822519 * (s + 3)) % (1 << 30) | 1
        c = (3266489917 * (s + 7)) % (1 << 30)
        out.append((a, b, c))
    return out


def _mh_expr(a: int, b: int, c: int, h: str = "h") -> str:
    """Engine-portable SQL for one universal hash of base hash ``h``."""
    return (
        f"(({a} * ({h} >> 30)) + ({b} * ({h} & {_LO30})) + {c}) % {MERSENNE61}"
    )


def ensure_parallelism(
    df: DataFrame,
    min_partitions: int | None = None,
    keys: tuple[str, ...] | None = None,
) -> DataFrame:
    """Repartition up to the cluster's default parallelism before a
    row-multiplying explode.

    ``keys``: when given, hash-partition on ``xxhash64(keys)`` instead
    of round-robin — a hash exchange skips round-robin's deterministic
    local pre-sort (``spark.sql.execution.sortBeforeRepartition``), so
    it is cheaper when a near-unique key (e.g. a candidate-pair id)
    distributes evenly anyway.  Partitioning on the HASH of the keys
    rather than the keys themselves is load-bearing: a bare
    ``repartition(n, *keys)`` whose keys match an upstream
    aggregate/distinct's grouping collapses into that aggregate's
    ENSURE_REQUIREMENTS exchange — which AQE's byte-based coalescing
    is free to fold to one partition, silently undoing the fan-out
    (jstack-verified in the r12 bench: one task in
    ``ArrayIntersect.nullSafeEval`` for 30 s while 31 cores idled).
    ``xxhash64(keys)`` is not semantically equal to any upstream
    grouping, so the exchange survives as REPARTITION_BY_NUM, whose
    explicit partition count AQE must honor.

    Catalyst sizes scans by input bytes, so a small file becomes one
    partition — and an explode that fans rows out 100-1000x right after
    it runs on a single core while the rest idle. At 100 TB the scan has
    plenty of splits and this is a no-op; the round-robin shuffle moves
    only the small pre-explode rows when it does fire.

    The split estimate is scan metadata only (``inputFiles()`` plus a
    driver-side size stat when the file count alone is inconclusive).
    The previous ``df.rdd.getNumPartitions()`` probe converted the plan
    to an RDD (a full analyzer round-trip on the driver) on EVERY call,
    a planning tax every shingle/token operator paid; raw
    ``len(inputFiles())`` fixed that but under-counts splits for the
    few-big-files layout (Catalyst splits large files every
    ``maxPartitionBytes``), forcing a pointless full-corpus round-robin
    shuffle exactly when the input is large. Now: if the file count
    already meets the target the stat is skipped entirely (the 100 TB
    fast path — zero filesystem calls); otherwise the few files are
    statted through the Hadoop FS API (scheme-agnostic: file/hdfs/s3)
    and splits are counted as ceil(size / maxPartitionBytes) per file.
    Non-file-backed frames report 0 files and always repartition.
    """
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    if keys:
        # The keyed mode guards a COMPUTE-sized stage (a pair-verify
        # kernel), not a scan: the split estimate below counts leaf
        # scan files, and a pair frame whose lineage reaches a
        # many-file corpus scan would be declared "parallel enough"
        # while AQE still byte-coalesces the post-aggregation verify
        # stage to 1-2 tasks — the exact straggler this fan-out exists
        # to bound. Always emit the hash repartition; it moves only
        # the ~16-byte pair rows.
        return df.repartition(target, F.xxhash64(*[F.col(k) for k in keys]))
    if _estimated_splits(df, target) >= target:
        return df
    return df.repartition(target)


def _estimated_splits(df: DataFrame, target: int) -> int:
    """Estimate the scan's split count without triggering RDD planning.

    Errs LOW (ignores ``filesMinPartitionNum``'s bytes-per-core
    shrinking of the split size), so the caller only ever repartitions
    inputs that are genuinely small — where the shuffle is cheap.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return 0
    if len(files) >= target:
        return len(files)
    if not files:
        return 0
    spark = df.sparkSession
    try:
        jvm = spark._jvm
        max_bytes = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB")
        )
        hconf = spark._jsc.hadoopConfiguration()
        n = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            size = p.getFileSystem(hconf).getFileStatus(p).getLen()
            n += max(1, -(-size // max_bytes))
        return n
    except Exception:
        return len(files)


def exact_dedup(df: DataFrame, key_cols: list[str], order_col: str) -> DataFrame:
    """Keep exactly one row per key: the one with the smallest order_col.

    Deterministic alternative to ``dropDuplicates`` (which keeps an
    arbitrary row). One shuffle on key_cols.
    """
    w = Window.partitionBy(*key_cols).orderBy(F.asc(order_col))
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def word_shingles(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles per document: (doc_id, sh).

    The words array is projected ONCE before the shingle transform:
    higher-order-function lambdas are interpreted per element, so a
    ``split(text)`` inside the lambda would re-split the document at
    every shingle position — O(words^2) string work per doc.
    """
    base = ensure_parallelism(docs).select(
        "doc_id", F.split(F.col(text_col), " ").alias("__ws")
    )
    shingles = F.when(
        F.size("__ws") >= k,
        F.expr(
            f"transform(sequence(1, size(__ws) - {k - 1}),"
            f" i -> array_join(slice(__ws, i, {k}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    # array_distinct dedupes within the doc BEFORE exploding, so
    # (doc_id, sh) is already unique — a cross-row .distinct() here
    # would add a full shuffle of every shingle string for nothing.
    return base.select("doc_id", F.explode(F.array_distinct(shingles)).alias("sh"))


def minhash_signatures(
    docs: DataFrame, text_col: str = "text", n_hashes: int = 16, k: int = 3
) -> DataFrame:
    """MinHash signature rows: (doc_id, seed, minhash), n_hashes per doc.

    h_s(shingle) = universal_hash_s(md5_long63(shingle)); the signature
    is the per-seed minimum over the doc's shingle set. Equivalent to
    n_hashes independent permutations for Jaccard estimation.

    Scale note: the n_hashes minima are computed as parallel aggregate
    expressions over one shingle row-set (map-side partial min), NOT by
    exploding a seed dimension — that would multiply shuffle volume by
    n_hashes. The wide result is unpivoted to (doc_id, seed, minhash)
    afterwards, when there is only one row per doc.
    """
    mins = minhash_wide(docs, text_col, n_hashes, k)
    # `{s}L`: bigint literal — keeps seed int64 on both engines (the
    # oracle comparator hashes dtypes; avoid int32 anywhere).
    stack = ", ".join(f"{s}L, mh{s}" for s in range(n_hashes))
    return mins.selectExpr(
        "doc_id", f"stack({n_hashes}, {stack}) AS (seed, minhash)"
    )


def minhash_wide(
    docs: DataFrame, text_col: str = "text", n_hashes: int = 16, k: int = 3
) -> DataFrame:
    """Wide MinHash signature: (doc_id, mh0..mh{n-1}) — one row per doc,
    one shuffle (the shingle groupBy), n_hashes partial-min aggregates
    over a single md5 base hash per shingle."""
    sh = word_shingles(docs, text_col, k).withColumn("h", md5_long63("sh"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.expr(_mh_expr(a, b, c))).alias(f"mh{s}")
            for s, (a, b, c) in enumerate(minhash_consts(n_hashes))
        ]
    )


def lsh_band_buckets(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
) -> DataFrame:
    """LSH banding: (doc_id, band, bucket) — docs sharing a bucket in any
    band are near-duplicate candidates. bucket = md5-hash of the band's
    minhashes joined in seed order.

    Built from the wide signature, so banding adds no shuffle — the
    band hashes are row-local expressions over mh0..mhN.
    """
    n_bands = n_hashes // band_size
    mins = minhash_wide(docs, text_col, n_hashes, k)
    band_exprs = []
    for b in range(n_bands):
        cols = ", ".join(
            f"CAST(mh{s} AS STRING)" for s in range(b * band_size, (b + 1) * band_size)
        )
        band_exprs.append(f"{b}L, md5(concat_ws(',', {cols}))")
    return mins.selectExpr(
        "doc_id", f"stack({n_bands}, {', '.join(band_exprs)}) AS (band, bucket)"
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
) -> DataFrame:
    """Distinct candidate near-duplicate pairs (doc_a < doc_b) from LSH.

    Pair generation is bucket-local — at 100 TB this is the whole
    point: candidates come from within buckets, never a cross join.
    A groupBy(band, bucket) + sorted collect_list + executor-side
    combination explode computes the signatures ONCE (a self-join
    would recompute the whole minhash subplan on both sides — Spark
    does not dedupe identical subplans) and shuffles only the
    (doc_id, band, bucket) triples. Bucket member lists are tiny by
    LSH construction (a bucket only grows when docs truly collide),
    so the per-bucket quadratic explode is bounded.
    """
    b = lsh_band_buckets(docs, text_col, n_hashes, band_size, k)
    members = b.groupBy("band", "bucket").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    pairs = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        members.filter(F.size("ids") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Duplicate clusters from candidate pairs: (doc_id, cluster_id).

    ``cluster_id`` is the minimum doc_id in each connected component of
    the near-duplicate graph — the canonical "keep one per cluster" step
    after LSH pair generation (keep rows where doc_id == cluster_id).

    Algorithm: iterative min-label propagation with pointer jumping.
    Each round a node takes the min of its own label, its neighbors'
    labels, AND its current label's label (path halving) — so
    convergence is O(log(diameter)) rounds, not O(diameter); LSH dup
    components are near-cliques, so 2-3 rounds in practice. Each round
    is two shuffle joins on ids — no collect, no driver-side graph.
    Each round's label table is checkpointed: persist alone caches the
    DATA but the logical plan still deepens every iteration
    (join-of-join-of-...), so Catalyst analysis time and driver stack
    grow until a deep graph (long chains) blows up; checkpointing
    truncates the lineage so round k plans against a leaf, not k-1
    replayed joins. The rounds run on :func:`operators.cache.fixpoint`,
    which stops once the exact sum of the labels repeats: over the fixed
    id set no label ever increases, so an equal sum means no label
    changed. The sum is observed on the round's own checkpoint job.
    Ids must be integers (the sum is taken as ``decimal(38,0)``, which
    cannot overflow).
    """
    for c in (src_col, dst_col):
        if not isinstance(pairs.schema[c].dataType, IntegralType):
            raise TypeError(
                f"connected_components needs integer ids, got {c}: {pairs.schema[c].dataType}"
            )
    # Symmetrize with a row-local explode, NOT a union of two copies of
    # the pair subtree: Spark does not dedupe identical subplans, so the
    # former ``pairs.union(pairs.reversed)`` executed the ENTIRE
    # upstream candidate chain twice inside this eager checkpoint — for
    # the fuzzy-dedup/ER composites that is the full minhash+LSH+verify
    # (or SNM+Fellegi-Sunter) pass, the dominant cost of the whole
    # query. One explode of a 2-element struct array emits the same
    # row multiset from a single execution of the subtree.
    #
    # Repartition by src (REPARTITION_BY_COL — no explicit count, so
    # AQE sizes it by BYTES) before materializing: the caller's pair
    # frame often carries a compute-sized partitioning (e.g. the
    # 32-way verify fan-out upstream), and the 2x explode widens it — a
    # checkpoint inheriting near-empty partitions makes every
    # label-propagation round pay per-task stage overhead times the
    # iteration count. Per-edge work here is a hash probe, so
    # byte-based sizing is the correct regime (unlike the verify);
    # locally AQE folds the tiny edge table to 1-2 partitions, at
    # scale a big edge table keeps its width.
    edges = checkpoint(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
                    ),
                    F.struct(
                        F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
                    ),
                )
            ).alias("__e")
        )
        .select("__e.src", "__e.dst")
        .repartition(F.col("src"))
    )
    if max_iter < 1:  # degenerate contract: zero rounds = self labels
        return edges.select("src").distinct().select(
            F.col("src").alias("doc_id"), F.col("src").alias("cluster_id")
        )

    def step(labels: DataFrame) -> DataFrame:
        nbr = edges.join(labels, edges.dst == labels.id).select(
            F.col("src").alias("id"), "label"
        )
        lab2 = labels.select(F.col("id").alias("l_id"), F.col("label").alias("l_label"))
        jump = labels.join(lab2, labels.label == lab2.l_id, "left").select(
            "id", F.coalesce("l_label", "label").alias("label")
        )
        return (
            labels.unionByName(nbr)
            .unionByName(jump)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )

    # Seed the label table with ROUND 1's result directly: the first
    # propagation round of min-label iteration computes exactly
    # ``min(id, min neighbor)`` (the jump term is the identity while
    # labels are self), and that is one aggregation over the
    # symmetrized edge checkpoint — the same single exchange the old
    # ``edges.select(src).distinct()`` init paid, so the first (and
    # busiest) join round of the loop comes free.
    labels = fixpoint(
        edges.groupBy(F.col("src").alias("id")).agg(
            F.min(F.least("src", "dst")).alias("label")
        ),
        step,
        max_iter - 1,
        F.sum(F.col("label").cast("decimal(38,0)")),
    )
    # Once the loop has converged the result is the final label
    # checkpoint and no longer plans against the edge table, so the
    # edges are released; a run cut off at ``max_iter`` returns its last
    # round lazily over them. The final label checkpoint itself must NOT
    # be force-released on any Python-side lifetime signal: frames
    # DERIVED from the result keep planning against its blocks long
    # after the original handle is gone, so its cleanup belongs to the
    # JVM's ContextCleaner (one small label table per call — bounded).
    if _checkpoint_rdd(labels) is not None:
        release_checkpoint(edges)
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def fuzzy_dedup_keep(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    threshold: float = 0.5,
    max_iter: int = 25,
    survivor_score_col: str | None = None,
) -> DataFrame:
    """End-to-end fuzzy dedup, returning the KEPT subset of ``docs``.

    The full production chain in one call: MinHash signatures -> LSH
    band buckets -> bucket-local candidate pairs -> exact word-set
    Jaccard verification (>= ``threshold``) -> transitive duplicate
    clusters -> one survivor per cluster (docs in no verified pair are
    kept unconditionally). All original columns survive.

    Survivor policy: minimum doc_id by default; with
    ``survivor_score_col`` the cluster member with the HIGHEST score
    survives (ties -> min doc_id) — "keep the longest/cleanest copy",
    the policy real curation pipelines usually want over keep-first.
    The ranking window runs over the cluster-membership table only
    (docs that are in some duplicate cluster), keyed by cluster id —
    never the corpus.

    Scale shape: every stage is the already-scale-safe operator it
    composes (one shingle shuffle, bucket-local pair explode, O(log
    diameter) pointer-jumping rounds); the final filter is an anti-join
    of the corpus against only the DROPPED ids — the small side at any
    realistic duplication rate, so AQE can broadcast it.
    """
    cands = minhash_candidate_pairs(docs, text_col, n_hashes, band_size, k)
    verified = jaccard_verify_pairs(cands, docs, text_col, threshold)
    clusters = connected_components(
        verified.select("doc_a", "doc_b"), max_iter=max_iter
    )
    if survivor_score_col is None:
        dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    else:
        scored = clusters.join(
            docs.select("doc_id", survivor_score_col), "doc_id"
        )
        w = Window.partitionBy("cluster_id").orderBy(
            F.desc(survivor_score_col), F.asc("doc_id")
        )
        dropped = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") > 1)
            .select("doc_id")
        )
    return docs.join(dropped, "doc_id", "left_anti")


def simhash(docs: DataFrame, text_col: str = "text", n_bits: int = 63) -> DataFrame:
    """63-bit SimHash over the word multiset: (doc_id, simhash).

    Bit b of the fingerprint is 1 iff the majority of token hashes have
    bit b set (ties -> 0). Single explode + one groupBy with n_bits
    conditional sums — no per-bit explosion.
    """
    toks = ensure_parallelism(docs).select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    hashed = toks.select("doc_id", md5_long63("w").alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(F.expr(f"(shiftright(h, {b}) & 1) * 2 - 1")).alias(f"s{b}")
            for b in range(n_bits)
        ]
    )
    fingerprint = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for b in range(n_bits)
    )
    return votes.select("doc_id", F.expr(fingerprint).alias("simhash"))


def simhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    n_bits: int = 63,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance:
    ``(doc_a, doc_b, hamming)`` for distance <= ``max_hamming``.

    Pigeonhole banding: the fingerprint splits into ``n_bands``
    contiguous bit segments; two fingerprints within Hamming distance
    ``n_bands - 1`` must agree on at least one WHOLE segment, so
    candidate generation is an equality join on (band, segment value)
    — never an all-pairs scan — and is exhaustive whenever
    ``max_hamming < n_bands`` (asserted).  The differential oracle
    exploits exactly this: it computes the all-pairs Hamming result
    directly, so a hash-match also proves the pigeonhole recall claim.

    Scale shape mirrors :func:`minhash_candidate_pairs`: segment
    banding is row-local (shift/mask), pair generation is bucket-local
    via sorted ``collect_list`` + bounded combination explode, and the
    exact verify is one row-local ``bit_count(a XOR b)`` over the
    candidate sliver.  The (doc_id, simhash) table feeds three plan
    branches (banding + both verify sides) and is cluster-row-sized,
    so it is persisted scoped to the result's lifetime.
    """
    if max_hamming >= n_bands:
        raise ValueError(
            f"banding finds all pairs only for max_hamming < n_bands "
            f"(got max_hamming={max_hamming}, n_bands={n_bands})"
        )
    sig = simhash(docs, text_col, n_bits)
    width = -(-n_bits // n_bands)
    mask = (1 << width) - 1
    seg_exprs = ", ".join(
        f"{b}L, shiftright(simhash, {b * width}) & {mask}L" for b in range(n_bands)
    )
    bands = sig.selectExpr("doc_id", f"stack({n_bands}, {seg_exprs}) AS (band, seg)")
    members = bands.groupBy("band", "seg").agg(
        F.array_sort(F.collect_list("doc_id")).alias("ids")
    )
    combos = F.flatten(
        F.transform(
            "ids",
            lambda x, i: F.transform(
                F.slice("ids", i + 2, F.size("ids")),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    cands = (
        members.filter(F.size("ids") >= 2)
        .select(F.explode(combos).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    out = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", F.expr("CAST(bit_count(sh_a ^ sh_b) AS BIGINT)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
    return scoped_persist(sig, out)


def _guard_block_cardinality(
    keyed: DataFrame, key_cols: list[str], max_block_size: int, what: str
) -> None:
    """Eagerly assert no block exceeds ``max_block_size`` members.

    Block-scoped pair generation is O(sum n_block^2): correct when the
    key is an LSH bucket / cluster id (small blocks by construction),
    quadratic-blowup when a caller passes a low-cardinality column. The
    check is one tiny agg job over the group keys — worth it before
    kicking off a join that could explode 10^10x at scale.
    """
    top = (
        keyed.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    if top is not None and top > max_block_size:
        raise ValueError(
            f"{what}: largest block has {top} members (> max_block_size="
            f"{max_block_size}); pair generation is quadratic per block — "
            "use an LSH bucket / cluster id as the block key, or raise "
            "max_block_size explicitly if the blowup is intended"
        )


def jaccard_verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact word-set Jaccard for an explicit candidate-pair list —
    the LSH verification step: candidates come from ``minhash_candidate_
    pairs``; this joins each (doc_a, doc_b) to its word sets and
    computes exact overlap.

    (doc_a, doc_b, n_inter, n_union, jaccard) for jaccard >= threshold.

    Scale shape: the word SET per document is row-local
    (``array_distinct(split(...))``) — no tokenize shuffle, no global
    distinct, no per-doc size aggregation — so the whole verifier is
    two equi-joins keyed by doc id plus a row-local
    ``size(array_intersect(...))``.  The candidate-pair side is a
    sliver of the corpus, so AQE broadcasts it and the corpus never
    shuffles at all; work is O(candidate pairs x doc length), never
    all-pairs.  (The previous exploded-word form paid three extra
    shuffles — corpus-wide distinct, a (doc_b, word) join, and the
    intersection groupBy — and needed a persist to avoid re-tokenizing
    per branch; the array form re-reads only the pruned
    (doc_id, text) columns per branch, cheaper than materializing the
    word sets at any scale.)
    """
    toks = docs.select("doc_id", F.array_distinct(F.split(text_col, " ")).alias("ws"))
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("ws_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("ws_b"))
    # When the (doc_id, text) sliver is itself broadcastable, the
    # verify's array_intersect lands in the PAIR frame's stage — which
    # AQE's byte-based coalescing collapses to 1-2 tasks (16 B/pair),
    # one straggler task evaluating every intersection (measured 10-50x
    # swings whenever the JIT ran that task cold). Fan the pairs out
    # first: compute-per-row, not bytes, is what sizes this stage (the
    # setsim verify lesson, round 12). Costs one hash exchange of
    # 16-byte pair rows (keyed on the near-unique pair id, which skips
    # round-robin's local pre-sort); bounds the verify's worst case at
    # any scale.
    pairs = ensure_parallelism(pairs, keys=("doc_a", "doc_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ws_a", "ws_b")).cast("bigint").alias("n_inter"),
            F.size("ws_a").cast("bigint").alias("n_a"),
            F.size("ws_b").cast("bigint").alias("n_b"),
        )
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .withColumn("jaccard", F.col("n_inter").cast("double") / F.col("n_union"))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "n_union", "jaccard")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    scope_col: str = "source",
    text_col: str = "text",
    threshold: float = 0.5,
    max_block_size: int = 10_000,
) -> DataFrame:
    """Exact word-set Jaccard for doc pairs within the same scope group.

    (doc_a, doc_b, n_inter, n_union, jaccard) for jaccard >= threshold.
    Scoped to a partition column so the pair join is block-local — the
    pattern for verifying LSH candidates without an all-pairs join.
    ``scope_col`` must be fine-grained (an LSH bucket or cluster id):
    blocks larger than ``max_block_size`` raise (see
    :func:`_guard_block_cardinality`). For an explicit candidate list,
    use :func:`jaccard_verify_pairs` instead.
    """
    # Persisted (scoped to the returned frame) for the same
    # three-branch reuse as jaccard_verify_pairs.
    words = ensure_parallelism(docs).select(
        F.col("doc_id"), F.col(scope_col).alias("scope"), F.explode(F.split(text_col, " ")).alias("w")
    ).distinct()
    _guard_block_cardinality(
        docs.select("doc_id", F.col(scope_col).alias("scope")),
        ["scope"],
        max_block_size,
        "ngram_jaccard_pairs",
    )
    sizes = words.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_words"))
    a = words.select(F.col("doc_id").alias("doc_a"), "scope", "w")
    b = words.select(F.col("doc_id").alias("doc_b"), "scope", "w")
    inter = (
        a.join(b, ["scope", "w"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_words").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_words").alias("n_b"))
    out = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_union", F.col("n_a") + F.col("n_b") - F.col("n_inter"))
        .withColumn("jaccard", F.col("n_inter").cast("double") / F.col("n_union"))
        .filter(F.col("jaccard") >= threshold)
    )
    return scoped_persist(
        words, out.select("doc_a", "doc_b", "n_inter", "n_union", "jaccard")
    )


def containment_verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """Exact word-set containment for an explicit candidate-pair list:
    ``|A ∩ B| / min(|A|, |B|)``.

    Jaccard misses subset duplication — a document wholly contained in
    a 10x-longer one scores J ≈ 0.1 but containment = 1.0.  Running
    this beside :func:`jaccard_verify_pairs` over the same LSH
    candidates catches quote-expansion and boilerplate-wrapping
    near-dups that symmetric similarity cannot.

    Same scale shape as the Jaccard verifier: row-local word sets
    (``array_distinct(split)``), two equi-joins keyed by doc id
    (candidate sliver AQE-broadcast), row-local
    ``size(array_intersect)`` — O(candidate pairs x doc length), never
    all-pairs, zero extra shuffles.

    Returns ``(doc_a, doc_b, n_inter, n_min, containment)`` for
    containment >= threshold.
    """
    toks = docs.select("doc_id", F.array_distinct(F.split(text_col, " ")).alias("ws"))
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("ws_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("ws_b"))
    # Same pair-stage fan-out as jaccard_verify_pairs (round 12): the
    # per-row intersection must not run in a byte-coalesced 1-2 task
    # stage.
    pairs = ensure_parallelism(pairs, keys=("doc_a", "doc_b"))
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("ws_a", "ws_b")).cast("bigint").alias("n_inter"),
            F.least(F.size("ws_a"), F.size("ws_b")).cast("bigint").alias("n_min"),
        )
        .withColumn("containment", F.col("n_inter").cast("double") / F.col("n_min"))
        .filter(F.col("containment") >= threshold)
        .select("doc_a", "doc_b", "n_inter", "n_min", "containment")
    )


def edit_distance_verify_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    max_dist_per_100: int = 30,
) -> DataFrame:
    """Character-level Levenshtein verification for an explicit
    candidate-pair list — the ORDER-SENSITIVE companion to the word-set
    verifiers (:func:`jaccard_verify_pairs` treats texts as bags, so a
    scrambled plagiarism of the same words scores 1.0 there but far
    apart here).

    The threshold is length-relative and integer-exact:
    ``100 * dist <= max_dist_per_100 * max(len_a, len_b)``, i.e.
    ``dist <= floor(k * max_len / 100)`` for integer distances — so the
    per-pair bound feeds straight into Spark's EARLY-ABANDON
    ``levenshtein(a, b, limit)`` (returns -1 once the running distance
    exceeds the limit): dissimilar candidate pairs cost
    O(limit * max_len) instead of O(len_a * len_b), a ~3x bench win at
    a 30% threshold.  The joins are two broadcast-friendly equi-joins
    on doc id.  Returns ``(doc_a, doc_b, dist, max_len,
    dist_per_100)``.
    """
    # The levenshtein verify is compute-heavy per ROW while the pair
    # frame is tiny in BYTES — when the text slivers broadcast, the
    # verify runs in the pair frame's own stage, which AQE's byte-based
    # coalescing (or an upstream localCheckpoint's materialized
    # partitioning) can collapse to 1-2 tasks. Fan the pairs out first;
    # the hash exchange moves only 16-byte pair rows (the setsim verify
    # lesson, round 12).
    pairs = ensure_parallelism(pairs, keys=("doc_a", "doc_b"))
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col(text_col).alias("__ta"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col(text_col).alias("__tb"))
    joined = pairs.join(ta, "doc_a").join(tb, "doc_b")
    max_len = F.greatest(F.length("__ta"), F.length("__tb"))
    limited = joined.withColumn("__max_len", max_len).withColumn(
        "__limit",
        F.floor(F.lit(max_dist_per_100) * F.col("__max_len") / F.lit(100)).cast("int"),
    )
    # bounded distance: -1 means "exceeds the limit" = fails the exact
    # relative-threshold filter, so dist >= 0 IS the filter
    dist = F.expr("levenshtein(__ta, __tb, __limit)")
    return (
        limited.withColumn("__d", dist)
        .filter(F.col("__d") >= 0)
        .select(
            "doc_a",
            "doc_b",
            F.col("__d").cast("bigint").alias("dist"),
            F.col("__max_len").cast("bigint").alias("max_len"),
            (F.lit(100.0) * F.col("__d") / F.col("__max_len")).alias("dist_per_100"),
        )
    )


def incremental_fuzzy_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Ingest-time dedup: drop NEW documents that are near-duplicates of
    anything already in the corpus — the incremental form of
    :func:`fuzzy_dedup_keep` (a daily crawl lands against a 100 TB
    corpus; re-clustering the world per batch is not an option).

    Candidates come from an LSH bucket-equality JOIN between the new
    batch and the corpus (never within-batch pairs — batch-internal
    dups are a separate :func:`fuzzy_dedup_keep` pass), verified with
    the exact word-set Jaccard.  Returns the kept subset of
    ``new_docs``, all columns.

    Scale shape: both sides shuffle once on (band, bucket) — the corpus
    side can be a PRE-COMPUTED signature table in production (the
    banding is deterministic), turning this into a pure probe of the
    new batch; the verify join and final anti-join touch only the
    matched sliver of the batch.
    """
    nb = lsh_band_buckets(new_docs, text_col, n_hashes, band_size, k)
    cb = lsh_band_buckets(corpus, text_col, n_hashes, band_size, k)
    cands = (
        nb.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
        .join(cb.select(F.col("doc_id").alias("doc_b"), "band", "bucket"), ["band", "bucket"])
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Jaccard needs both texts: union the two doc sets for the verify
    # join (ids are disjoint by contract — caller namespaces them).
    docs_all = new_docs.select("doc_id", text_col).unionByName(
        corpus.select("doc_id", text_col)
    )
    dup_new = (
        jaccard_verify_pairs(cands, docs_all, text_col, threshold)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    return new_docs.join(dup_new, "doc_id", "left_anti")


def golden_record(
    clustered: DataFrame,
    cluster_col: str,
    best_by: dict[str, str],
    sum_cols: list[str] | None = None,
) -> DataFrame:
    """Survivorship merge: one "golden" row per duplicate cluster, each
    field taken from the member that wins that field's quality rule —
    the MDM step after clustering (keep-best per FIELD, not per row).

    ``best_by`` maps output column -> ordering column: the emitted
    value is ``max_by(col, key)`` over the cluster where the key is the
    zero-padded ``(order_col, col)`` string — composite and
    deterministic (the value itself is the tiebreak), and expressible
    identically in engines whose ``arg_max`` lacks struct ordering
    keys (DuckDB's does).  ``sum_cols`` aggregate additively (e.g.
    view counts merge by sum).

    One aggregation keyed by the cluster id; all field rules ride the
    same pass (no per-field self-joins).
    """
    aggs = [F.count(F.lit(1)).alias("n_members")]
    for out_col, order_col in best_by.items():
        aggs.append(
            F.expr(f"max_by({out_col}, {_pad_key_sql(order_col, out_col)})").alias(out_col)
        )
    for c in sum_cols or []:
        aggs.append(F.sum(c).alias(f"sum_{c}"))
    return clustered.groupBy(cluster_col).agg(*aggs)


def _pad_key_sql(order_col: str, value_col: str) -> str:
    """Composite sortable key: zero-padded numeric order column, then
    the value as tiebreak — identical SQL text works in Spark
    (format_string) and DuckDB (printf) via the shared printf dialect."""
    return f"printf('%020d|%s', {order_col}, CAST({value_col} AS STRING))"


def minhash_bands_rowlocal(
    docs: DataFrame,
    text_col: str = "text",
    n_hashes: int = 16,
    band_size: int = 4,
    k: int = 3,
) -> DataFrame:
    """LSH band buckets computed with ZERO aggregation —
    ``(doc_id, band, bucket)`` from pure row-local expressions
    (shingle array -> per-seed array_min -> band md5).

    Identical buckets to :func:`lsh_band_buckets` (same hashes, same
    banding), but usable where an aggregation is unavailable or
    unwanted: STREAMING sources (a per-doc groupBy on a stream needs
    a watermark and delays emission) and probe-side pipelines that
    want the signature without a shuffle.  The batch form's exploded
    groupBy stays preferable for very long documents (map-side partial
    mins parallelize within a doc); for stream-sized rows the
    row-local fold is strictly cheaper.
    """
    chars = f"size(split({text_col}, ' '))"
    sh_arr = (
        f"CASE WHEN {chars} >= {k} THEN "
        f"array_distinct(transform(sequence(1, {chars} - {k - 1}),"
        f" i -> array_join(slice(split({text_col}, ' '), i, {k}), ' '))) "
        f"ELSE array() END"
    )
    base = docs.select(
        "doc_id",
        F.expr(
            f"transform({sh_arr},"
            f" x -> CAST(conv(substring(md5(x), 1, 15), 16, 10) AS BIGINT))"
        ).alias("__hs"),
    ).filter(F.size("__hs") > 0)
    mh_cols = [
        F.expr(
            f"array_min(transform(__hs, h -> {_mh_expr(a, b, c, 'h')}))"
        ).alias(f"mh{s}")
        for s, (a, b, c) in enumerate(minhash_consts(n_hashes))
    ]
    mins = base.select("doc_id", *mh_cols)
    n_bands = n_hashes // band_size
    band_exprs = []
    for b in range(n_bands):
        cols = ", ".join(
            f"CAST(mh{s} AS STRING)" for s in range(b * band_size, (b + 1) * band_size)
        )
        band_exprs.append(f"{b}L, md5(concat_ws(',', {cols}))")
    return mins.selectExpr(
        "doc_id", f"stack({n_bands}, {', '.join(band_exprs)}) AS (band, bucket)"
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_key_col: str,
    window: int,
    block_col: str | None = None,
) -> DataFrame:
    """Sorted-neighborhood (SNM) candidate generation — the classic
    entity-resolution blocking alternative to LSH: sort records by a
    fuzzy key (normalized name/title prefix), slide a ``window``-row
    neighborhood, and emit every pair that co-occupies a window.
    Records whose keys are typo-close sort near each other, so the
    candidate set is ~``window`` pairs per record regardless of corpus
    size — no corpus self-join, no banding tables.

    ``block_col`` partitions the sort (the scale path: a global sort
    becomes per-block keyed windows, one shuffle on the block key; the
    classic trade-off is that cross-block typos in the block key
    itself are missed — run a second pass with a different block, the
    standard multi-pass SNM remedy).  With ``block_col=None`` the sort
    is global — correct, but a single-partition window: only for
    bounded inputs.

    Returns ``(id_a, id_b)`` with the ids ordered by (sort key, id) —
    each pair emitted exactly once, by its earlier member.

    Scale shape: one shuffle on the block key, ``window - 1`` flat
    ``lead`` terms in ONE window pass, row-local explode of at most
    ``window - 1`` partners per record.
    """
    if window < 2:
        raise ValueError("sorted_neighborhood_pairs needs window >= 2")
    w = (
        Window.partitionBy(block_col).orderBy(sort_key_col, id_col)
        if block_col is not None
        else Window.partitionBy().orderBy(sort_key_col, id_col)
    )
    leads = F.array(
        *[F.lead(id_col, j).over(w) for j in range(1, window)]
    )
    return (
        df.select(
            F.col(id_col).alias("id_a"),
            *( [F.col(block_col)] if block_col is not None else [] ),
            F.col(sort_key_col).alias("__sk"),
            leads.alias("__partners"),
        )
        .select(
            "id_a", F.explode(F.filter("__partners", lambda x: x.isNotNull())).alias("id_b")
        )
    )


def sorted_neighborhood_pairs_sql(
    table_sql: str,
    id_col: str,
    sort_key_col: str,
    window: int,
    block_col: str | None = None,
) -> str:
    """DuckDB mirror: same per-block window, LEAD terms stacked by
    UNION ALL (the lateral-free form)."""
    part = f"PARTITION BY {block_col} " if block_col is not None else ""
    w = f"OVER ({part}ORDER BY {sort_key_col}, {id_col})"
    lead_cols = ", ".join(
        f"LEAD({id_col}, {j}) {w} AS __p{j}" for j in range(1, window)
    )
    stack = "\n      UNION ALL ".join(
        f"SELECT id_a, __p{j} AS id_b FROM leads WHERE __p{j} IS NOT NULL"
        for j in range(1, window)
    )
    return f"""
    WITH leads AS (
      SELECT {id_col} AS id_a, {lead_cols} FROM ({table_sql})
    )
    {stack}
    """


def blocking_quality(
    candidates: DataFrame,
    truth: DataFrame,
    n_records: int,
) -> DataFrame:
    """Blocking-scheme evaluation: PAIR COMPLETENESS (what fraction of
    true duplicate pairs the blocking surfaced — recall of the
    candidate generator) and REDUCTION RATIO (what fraction of the
    n-choose-2 comparison space it pruned) — the two numbers every
    entity-resolution blocking decision (LSH bands vs SNM window vs
    both) is made on.

    Inputs are canonical ``(id_a, id_b)`` pair relations (one
    orientation).  Both metrics are exact integer ppm.

    Scale shape: union-tag + ONE aggregation on the pair key (no
    candidate x truth join), then a single global reduce row; the
    comparison-space denominator is driver-side arithmetic on
    ``n_records``.
    """
    c = candidates.select("id_a", "id_b").withColumn("__c", F.lit(1)).withColumn(
        "__t", F.lit(0)
    )
    t = truth.select("id_a", "id_b").withColumn("__c", F.lit(0)).withColumn(
        "__t", F.lit(1)
    )
    per_pair = (
        c.unionByName(t)
        .groupBy("id_a", "id_b")
        .agg(F.max("__c").alias("__c"), F.max("__t").alias("__t"))
    )
    total_space = n_records * (n_records - 1) // 2
    return per_pair.agg(
        F.sum("__c").cast("bigint").alias("n_candidates"),
        F.sum("__t").cast("bigint").alias("n_truth"),
        F.sum(F.col("__c") * F.col("__t")).cast("bigint").alias("n_found"),
    ).select(
        "n_candidates",
        "n_truth",
        "n_found",
        F.expr(
            "CASE WHEN n_truth > 0 THEN n_found * 1000000L div n_truth END"
        ).alias("pair_completeness_ppm"),
        F.expr(f"1000000L - n_candidates * 1000000L div {total_space}L").alias(
            "reduction_ratio_ppm"
        ),
    )


def blocking_quality_sql(
    candidates_sql: str, truth_sql: str, n_records_sql: str
) -> str:
    """DuckDB mirror; ``n_records_sql`` is a scalar subquery."""
    return f"""
    WITH per_pair AS (
      SELECT id_a, id_b, MAX(c) AS c, MAX(t) AS t FROM (
        SELECT id_a, id_b, 1 AS c, 0 AS t FROM ({candidates_sql})
        UNION ALL
        SELECT id_a, id_b, 0 AS c, 1 AS t FROM ({truth_sql})
      ) GROUP BY id_a, id_b
    ),
    sums AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_candidates,
             CAST(SUM(t) AS BIGINT) AS n_truth,
             CAST(SUM(c * t) AS BIGINT) AS n_found
      FROM per_pair
    )
    SELECT n_candidates, n_truth, n_found,
           CASE WHEN n_truth > 0
                THEN CAST(n_found * 1000000 // n_truth AS BIGINT)
           END AS pair_completeness_ppm,
           CAST(1000000 - n_candidates * 1000000
                // (({n_records_sql}) * (({n_records_sql}) - 1) // 2) AS BIGINT)
             AS reduction_ratio_ppm
    FROM sums
    """


def fellegi_sunter_scores(
    pairs: DataFrame,
    records: DataFrame,
    id_col: str,
    rules: list[tuple[str, int, int]],
    t_match: int,
    t_possible: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Fellegi–Sunter record-linkage scoring (the 1969 probabilistic
    ER framework, integerized): for each candidate pair, every rule
    ``(field, w_agree, w_disagree)`` contributes ``w_agree`` when the
    two records' field values are equal (both-NULL counts as
    agreement of unknowns: contributes 0; a ONE-SIDED NULL scores the
    full ``w_disagree`` — a deliberate, simpler-than-textbook choice:
    classical FS treats one-sided missingness as a zero-weight
    "unknown" comparison, so callers who want that semantics should
    pre-coalesce the field or pass a rule with ``w_disagree=0``) and
    ``w_disagree`` otherwise; the summed score classifies the pair —
    ``'match'`` (>= ``t_match``), ``'possible'`` (>= ``t_possible``),
    else ``'non_match'`` — the clerical-review triage every dedup /
    MDM pipeline runs between blocking and survivorship.

    Pairs whose ids do not resolve against ``records`` are NOT
    silently dropped: they surface with a NULL ``fs_score`` and
    ``decision = 'unresolved'`` (left joins, not inner), so an
    id-hygiene problem upstream is visible in the output rather than
    shrinking it.

    Integer log-odds-style weights are DATA, not plan shape: a
    production deployment re-estimates them (EM over agreement
    patterns) without touching the query.  Shape: two hash joins of
    the pair table against the keyed record frame (the SNM-verify
    pattern), all comparisons row-local, score integer-exact.
    """
    fields = [f for f, _, _ in rules]
    ra = records.select(
        F.col(id_col).alias(id_a),
        F.lit(1).alias("__a_ok"),
        *[F.col(f).alias(f"__a_{f}") for f in fields],
    )
    rb = records.select(
        F.col(id_col).alias(id_b),
        F.lit(1).alias("__b_ok"),
        *[F.col(f).alias(f"__b_{f}") for f in fields],
    )
    joined = pairs.select(id_a, id_b).join(ra, id_a, "left").join(
        rb, id_b, "left"
    )
    resolved = F.col("__a_ok").isNotNull() & F.col("__b_ok").isNotNull()
    score = F.lit(0)
    for f, w_agree, w_disagree in rules:
        a, b = F.col(f"__a_{f}"), F.col(f"__b_{f}")
        score = score + (
            F.when(a.isNull() & b.isNull(), 0)
            .when(a.eqNullSafe(b), w_agree)
            .otherwise(w_disagree)
        )
    return joined.select(
        F.col(id_a).cast("bigint").alias(id_a),
        F.col(id_b).cast("bigint").alias(id_b),
        F.when(resolved, score).cast("bigint").alias("fs_score"),
        F.when(~resolved, "unresolved")
        .when(score >= t_match, "match")
        .when(score >= t_possible, "possible")
        .otherwise("non_match")
        .alias("decision"),
    )


def fellegi_sunter_scores_sql(
    pairs_sql: str,
    records_sql: str,
    id_col: str,
    rules: list[tuple[str, int, int]],
    t_match: int,
    t_possible: int,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> str:
    terms = []
    for f, w_agree, w_disagree in rules:
        terms.append(
            f"""CASE WHEN ra.{f} IS NULL AND rb.{f} IS NULL THEN 0
                     WHEN ra.{f} IS NOT DISTINCT FROM rb.{f} THEN {w_agree}
                     ELSE {w_disagree} END"""
        )
    score = " + ".join(terms)
    return f"""
    WITH p AS ({pairs_sql}), r AS MATERIALIZED ({records_sql})
    SELECT CAST(p.{id_a} AS BIGINT) AS {id_a},
           CAST(p.{id_b} AS BIGINT) AS {id_b},
           CASE WHEN ra.{id_col} IS NOT NULL AND rb.{id_col} IS NOT NULL
                THEN CAST({score} AS BIGINT) END AS fs_score,
           CASE WHEN ra.{id_col} IS NULL OR rb.{id_col} IS NULL
                THEN 'unresolved'
                WHEN ({score}) >= {t_match} THEN 'match'
                WHEN ({score}) >= {t_possible} THEN 'possible'
                ELSE 'non_match' END AS decision
    FROM p LEFT JOIN r ra ON p.{id_a} = ra.{id_col}
           LEFT JOIN r rb ON p.{id_b} = rb.{id_col}
    """


def _del1_variants(col: str):
    """The token itself + every single-character deletion (the SymSpell
    distance-1 neighborhood). Two distance<=1 strings ALWAYS share at
    least one variant (insert/delete: the shorter string; substitute:
    the common deletion at the edit position), so a variant equi-join
    is a complete candidate generator for edit distance 1."""
    return F.array_union(
        F.array(F.col(col)),
        F.expr(
            f"transform(sequence(1, length({col})),"
            f" i -> concat(substring({col}, 1, i - 1), substring({col}, i + 1)))"
        ),
    )


def symspell_edit1_join(
    queries: DataFrame,
    dictionary: DataFrame,
    q_col: str = "query_token",
    d_col: str = "token",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """SymSpell fuzzy token match (Garbe's deletion-neighborhood
    algorithm): every (query, dictionary) token pair within Levenshtein
    distance 1 — spell-correction / fuzzy keyword matching at corpus
    scale WITHOUT an all-pairs edit-distance join.

    Both sides explode to their distance-1 deletion neighborhoods
    (|token|+1 variants — vocabulary-sized tables), candidates come
    from ONE variant equi-join, pairs dedupe, and the exact
    ``levenshtein`` verify (bit-identical across engines) keeps true
    matches only. The neighborhood intersection is COMPLETE for
    distance 1 (see :func:`_del1_variants`), so the output equals the
    naive all-pairs join exactly — the oracle certifies that.

    Scale contract: variant buckets fan out quadratically only for
    very short tokens (the '' variant of 1-char tokens pairs them
    all) — callers bound token length >= 2; natural-vocabulary
    buckets are tiny.
    """
    qv = (
        queries.select(q_col)
        .distinct()
        .select(q_col, F.explode(_del1_variants(q_col)).alias("__v"))
    )
    dv = dictionary.select(d_col, *keep_cols, F.explode(_del1_variants(d_col)).alias("__v"))
    return (
        qv.join(dv, "__v")
        .select(q_col, d_col, *keep_cols)
        .distinct()
        .withColumn("lev", F.levenshtein(F.col(q_col), F.col(d_col)).cast("bigint"))
        .filter(F.col("lev") <= 1)
    )
