"""Property tests for the fuzzy-dedup operators (SURVEY.md §5 port plan:
LSH ops get property assertions — recall on planted near-duplicates —
rather than hash equality)."""

from __future__ import annotations

import random


from cosmos_xenna_spark.catalog import load_table
from cosmos_xenna_spark.operators.dedup import (
    lsh_band_buckets,
    minhash_bands_rowlocal,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
)

VOCAB = [f"w{i:03d}" for i in range(400)]


def _mk_docs(spark, n_base=60, words_per_doc=60, seed=7):
    """Base docs + a near-duplicate of each (a few word substitutions)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n_base):
        words = [rng.choice(VOCAB) for _ in range(words_per_doc)]
        rows.append((i, " ".join(words), "src"))
        near = list(words)
        for _ in range(3):  # ~5% substitution -> shingle jaccard ~0.85
            near[rng.randrange(words_per_doc)] = rng.choice(VOCAB)
        rows.append((1000 + i, " ".join(near), "src"))
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_minhash_lsh_recall(spark):
    docs = _mk_docs(spark)
    pairs = minhash_candidate_pairs(docs, n_hashes=16, band_size=4).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    planted = {(i, 1000 + i) for i in range(60)}
    recall = len(found & planted) / len(planted)
    # 4 bands x 4 rows: P(candidate) = 1-(1-s^4)^4 ~ 0.92 at s=0.8
    assert recall >= 0.7, f"LSH recall too low: {recall} ({len(found)} pairs found)"


def test_minhash_lsh_precision_on_random_docs(spark):
    """Unrelated random docs (jaccard ~ 0) should almost never collide."""
    rng = random.Random(11)
    rows = [
        (i, " ".join(rng.choice(VOCAB) for _ in range(60)), "src") for i in range(120)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pairs = minhash_candidate_pairs(docs, n_hashes=16, band_size=4).count()
    assert pairs <= 2, f"too many false-positive candidates: {pairs}"


def test_rowlocal_bands_equal_batch_bands(spark, sf_dir):
    """The zero-aggregation banding returns exactly the batch operator's
    (doc_id, band, bucket) rows, including for docs too short to shingle
    and NULL text (no rows from either)."""
    edge = spark.createDataFrame(
        [(-1, "two words"), (-2, ""), (-3, None), (-4, "a b a b a b")],
        "doc_id long, text string",
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").union(edge)
    got = sorted(minhash_bands_rowlocal(docs).collect())
    want = sorted(lsh_band_buckets(docs).collect())
    assert len(want) > 0
    assert got == want


def test_jaccard_pairs_match_planted(spark):
    docs = _mk_docs(spark)
    pairs = ngram_jaccard_pairs(docs, scope_col="source", threshold=0.7).collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    planted = {(i, 1000 + i) for i in range(60)}
    assert len(found & planted) >= 55
    for r in pairs:
        assert 0.0 <= r.jaccard <= 1.0
        assert r.n_inter <= r.n_union


def test_simhash_near_duplicates_have_small_hamming(spark):
    docs = _mk_docs(spark, n_base=30)
    fp = {r.doc_id: r.simhash for r in simhash(docs).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    near = [hamming(fp[i], fp[1000 + i]) for i in range(30)]
    rng = random.Random(3)
    far = [
        hamming(fp[i], fp[1000 + j])
        for i, j in ((rng.randrange(30), rng.randrange(30)) for _ in range(30))
        if i != j
    ]
    assert sum(near) / len(near) < sum(far) / len(far) - 5, (
        f"simhash does not separate near-dups: near={sum(near)/len(near)}, "
        f"far={sum(far)/len(far)}"
    )


def test_connected_components_chain_and_clique(spark):
    from cosmos_xenna_spark.operators.dedup import connected_components

    # chain 1-2-3-4 (diameter 3, exercises pointer jumping), clique
    # 10-11-12, isolated pair (20, 21); nodes not in any pair are absent.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs, max_iter=10).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_connected_components_long_chain_converges(spark):
    from cosmos_xenna_spark.operators.dedup import connected_components

    # 40-node path: min-propagation alone needs ~40 rounds; pointer
    # jumping must converge within the 25-iteration default cap.
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "doc_a long, doc_b long"
    )
    rows = connected_components(pairs).collect()
    assert len(rows) == 41
    assert {r.cluster_id for r in rows} == {0}


def test_connected_components_rejects_non_integer_ids(spark):
    """The stop signal is an exact sum of labels, so ids must be integers."""
    import pytest

    from cosmos_xenna_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([("a", "b")], "doc_a string, doc_b string")
    with pytest.raises(TypeError):
        connected_components(pairs)


def test_connected_components_reliable_checkpoint_identical(spark, request):
    """Under a checkpoint directory (durable checkpoints that survive
    executor loss on long 100 TB runs) connected_components must produce
    the same clusters as with local checkpoints, pin no block and write
    its checkpoints under the directory."""
    from cosmos_xenna_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "doc_a long, doc_b long",
    )
    local = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs).collect()
    }
    ckpt = request.getfixturevalue("checkpoint_dir")
    pinned = set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())
    reliable = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs).collect()
    }
    assert not (
        set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()) - pinned
    ), "reliable checkpoints must not pin blocks"
    assert any(p.is_file() for p in ckpt.rglob("part-*"))
    assert reliable == local
    assert reliable == {
        (1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }


def test_connected_components_randomized_vs_bruteforce(spark):
    """Random graphs vs a driver-side union-find: protects the folded
    convergence check (the `old`-column aggregation rewrite)."""
    from cosmos_xenna_spark.operators.dedup import connected_components

    rng = random.Random(7)
    for _ in range(3):
        n = 30
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(25)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        touched = {a for e in edges for a in e}
        want = {(x, find(x)) for x in touched}
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {
            (r.doc_id, r.cluster_id)
            for r in connected_components(pairs, max_iter=15).collect()
        }
        assert got == want


def test_estimated_splits_accounts_for_max_partition_bytes(spark, tmp_path):
    """A single large file must count as size/maxPartitionBytes splits
    (Catalyst splits it), not as 1 — otherwise every shingle operator
    prepends a pointless full-corpus repartition exactly when the
    input is big."""
    from cosmos_xenna_spark.operators.dedup import _estimated_splits

    path = str(tmp_path / "one_file")
    spark.range(50_000).selectExpr(
        "id", "repeat('x', 64) AS pad"
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert _estimated_splits(df, 32) == 1  # default 128MB: one split
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
        assert _estimated_splits(df, 1_000_000) > 1
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    # non-file-backed frames report 0 (always repartitioned)
    assert _estimated_splits(spark.range(5).toDF("x"), 32) == 0


def test_fuzzy_dedup_keep_planted(spark):
    """End-to-end keep-set: exact duplicates of base docs are dropped,
    the base (min doc_id) member of every pair survives, and unrelated
    docs are untouched."""
    import random

    from cosmos_xenna_spark.operators.dedup import fuzzy_dedup_keep

    rng = random.Random(3)
    rows = []
    for i in range(40):
        words = [rng.choice(VOCAB) for _ in range(60)]
        rows.append((i, " ".join(words), "src"))
        rows.append((1000 + i, " ".join(words), "src"))  # exact dup
    for i in range(40):  # unrelated singletons
        rows.append((5000 + i, " ".join(rng.choice(VOCAB) for _ in range(60)), "src"))
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = {r.doc_id for r in fuzzy_dedup_keep(docs, threshold=0.9).select("doc_id").collect()}
    assert set(range(40)) <= kept, "base members must survive"
    assert not kept & {1000 + i for i in range(40)}, "exact dups must be dropped"
    assert {5000 + i for i in range(40)} <= kept, "singletons must survive"


def test_fuzzy_dedup_survivor_policies_agree_on_clusters(spark, sf_dir):
    """min-id and keep-best policies must drop the same number of docs
    (one survivor per cluster either way) and keep-best's survivor must
    have the max score in its cluster."""
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.dedup import fuzzy_dedup_keep

    docs = load_table(spark, sf_dir, "documents")
    kw = dict(n_hashes=16, band_size=4, k=3, threshold=0.5)
    by_id = fuzzy_dedup_keep(docs, "text", **kw)
    by_best = fuzzy_dedup_keep(docs, "text", survivor_score_col="n_chars", **kw)
    assert by_id.count() == by_best.count()
    # every doc dropped by keep-best is <= some kept doc's n_chars
    # within the same corpus (weak global sanity; exact per-cluster
    # check is the oracle's job)
    kept_best = {r.doc_id for r in by_best.select("doc_id").collect()}
    kept_id = {r.doc_id for r in by_id.select("doc_id").collect()}
    # policies may keep different members but the same cluster count
    assert len(kept_best) == len(kept_id)


def test_incremental_dedup_keeps_batch_internal_dups(spark):
    """Contract: incremental dedup drops only batch docs near-duplicating
    the CORPUS; duplicates WITHIN the batch survive (they are a separate
    fuzzy_dedup_keep pass)."""
    from cosmos_xenna_spark.operators.dedup import incremental_fuzzy_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = spark.createDataFrame(
        [(100, base), (101, "totally different words entirely unrelated content here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(1, base + " lambda"),                  # near-dup of corpus 100 -> dropped
         (2, "unique snowflake document body words one two three four five"),
         (3, "unique snowflake document body words one two three four five")],
        "doc_id long, text string",              # 2 and 3 duplicate EACH OTHER -> both kept
    )
    kept = sorted(
        r.doc_id
        for r in incremental_fuzzy_dedup(batch, corpus, "text", threshold=0.5).collect()
    )
    assert kept == [2, 3]


def test_substring_dedup_planted_repeat(spark):
    """A 40-char block pasted into two other docs is fully flagged there
    (k=20 windows tile it) and the first occurrence survives untouched."""
    from cosmos_xenna_spark.operators.substring import substring_dedup_report

    block = "abcdefghijklmnopqrstuvwxyz0123456789ABCD"  # 40 chars
    assert len(block) == 40
    # boundary characters differ across docs, so no window CROSSING the
    # block edge repeats — only the 40 pasted chars are flagged (a
    # shared boundary char would legitimately extend the span: windows
    # straddling the edge also repeat)
    docs = spark.createDataFrame(
        [
            (1, "Q" + block + "R tail one"),
            (2, "totally unrelated content with no repeats at all here"),
            (3, "W prefix " + block),        # repeat -> 40 chars removable
            (4, block + "_and a suffix"),    # repeat -> 40 chars removable
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in substring_dedup_report(docs, k=20).collect()}
    assert got[1].n_chars_removed == 0  # first occurrence survives
    assert got[2].n_chars_removed == 0
    assert got[3].n_spans == 1 and got[3].n_chars_removed == 40
    assert got[4].n_spans == 1 and got[4].n_chars_removed == 40


def test_substring_dedup_stride_catches_long_repeats(spark):
    """With stride s, any repeat of length >= k + s - 1 is still caught
    (>= one sampled window falls fully inside it on both occurrences
    when occurrences start at the same phase); here both copies sit at
    position 0, so phases align and the guarantee is exact."""
    from cosmos_xenna_spark.operators.substring import substring_dedup_report

    rep = "x" * 5 + "qwertyuiopasdfghjklz" * 2  # 45 chars, irregular
    docs = spark.createDataFrame(
        [(1, rep + " one"), (2, rep + " two")], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in substring_dedup_report(docs, k=20, stride=4).collect()}
    assert got[1].n_chars_removed == 0
    assert got[2].n_chars_removed >= 20  # the repeat is flagged


def test_prefix_filter_join_matches_bruteforce_randomized(spark):
    """Randomized equivalence: prefix-filtered exact join == brute-force
    all-pairs Jaccard on random small-vocab docs (the repo's
    randomized-vs-naive pattern)."""
    from cosmos_xenna_spark.operators.setsim import prefix_filter_jaccard_join

    rng = random.Random(17)
    vocab = [f"w{i}" for i in range(12)]
    docs = []
    for i in range(60):
        base = [rng.choice(vocab) for _ in range(rng.randint(1, 25))]
        docs.append((i, " ".join(base)))
        if rng.random() < 0.4:  # planted near-dup: light edit
            mut = list(base)
            if len(mut) > 4:
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((1000 + i, " ".join(mut)))
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.na, r.nb)
        for r in prefix_filter_jaccard_join(df, t_num=1, t_den=2).collect()
    }

    # brute force in python
    def shingles(t):
        ws = t.split(" ")
        return set(
            " ".join(ws[i : i + 3]) for i in range(len(ws) - 2)
        ) if len(ws) >= 3 else set()

    sh = {i: shingles(t) for i, t in docs}
    want = {}
    ids = sorted(sh)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sh[a] & sh[b])
            union = len(sh[a] | sh[b])
            if union and 2 * inter >= union:
                want[(a, b)] = (inter, len(sh[a]), len(sh[b]))
    assert got == want
    assert len(want) > 10  # the plant actually produced pairs


def test_prefix_filter_join_threshold_one_is_exact_duplicates(spark):
    from cosmos_xenna_spark.operators.setsim import prefix_filter_jaccard_join

    df = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a b c d e"),       # identical shingle set as 1
            (3, "a b c d e f"),     # superset: jaccard < 1
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in prefix_filter_jaccard_join(df, t_num=1, t_den=1).collect()
    )
    assert got == [(1, 2, 1.0)]


def test_prefix_filter_join_partitioning_invariant(spark, sf_dir):
    from cosmos_xenna_spark.catalog import load_table
    from cosmos_xenna_spark.operators.setsim import prefix_filter_jaccard_join

    docs = load_table(spark, sf_dir, "documents")
    a = set(map(tuple, prefix_filter_jaccard_join(docs.repartition(1)).collect()))
    b = set(map(tuple, prefix_filter_jaccard_join(docs.repartition(13, "doc_id")).collect()))
    assert a == b and len(a) > 0


def test_blocking_quality_matches_python(spark):
    import random

    from cosmos_xenna_spark.operators.dedup import blocking_quality

    rng = random.Random(107)
    n = 50
    truth = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(40)})
    cand = sorted({tuple(sorted(rng.sample(range(n), 2))) for _ in range(120)})
    dt = spark.createDataFrame(truth, "id_a long, id_b long")
    dc = spark.createDataFrame(cand, "id_a long, id_b long")
    row = blocking_quality(dc, dt, n).collect()[0]
    found = len(set(cand) & set(truth))
    space = n * (n - 1) // 2
    assert (row.n_candidates, row.n_truth, row.n_found) == (len(cand), len(truth), found)
    assert row.pair_completeness_ppm == found * 1000000 // len(truth)
    assert row.reduction_ratio_ppm == 1000000 - len(cand) * 1000000 // space
    # empty truth: NULL completeness instead of a crash
    empty = spark.createDataFrame([], "id_a long, id_b long")
    row2 = blocking_quality(dc, empty, n).collect()[0]
    assert row2.pair_completeness_ppm is None and row2.n_truth == 0
