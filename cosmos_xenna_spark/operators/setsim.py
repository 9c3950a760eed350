"""Exact set-similarity self-join via prefix filtering (PPJoin-style).

The EXACT counterpart of the MinHash/LSH pipeline in
``operators/dedup.py``: finds ALL pairs of documents whose shingle-set
Jaccard similarity meets a threshold — no probabilistic recall. The
classic prefix-filter result (Chaudhuri et al., "A Primitive Operator
for Similarity Joins", ICDE 2006; Xiao et al., PPJoin, WWW 2008):
order every document's tokens by a GLOBAL total order (rarest first —
ascending document frequency), keep only the first

    p = n - ceil(t * n) + 1

tokens of each size-``n`` set as its *prefix*; any pair with
``Jaccard >= t`` must share at least one prefix token, so the
candidate join runs on prefixes only and the long common-token tail
never joins.

Scale shape (100 TB):
- token df counts: one token-keyed count window over the exploded
  stream (no df-relation join — web-scale shingle vocabularies are far
  beyond broadcast size, and the former aggregate-then-join form
  re-exchanged the token stream a second time);
- global ordering: one doc-keyed rank window over the df-annotated
  stream;
- the prefix table is checkpointed once: it feeds BOTH sides
  of the candidate self-join, and an un-checkpointed frame would
  re-execute the 3-shuffle subplan per side (the label-propagation
  lesson, see tests/test_plans.py plan budgets);
- candidate join: equi-join on the prefix token with ``a < b`` and the
  integer length filter ``t_den * n_min >= t_num * n_max`` applied
  in-join (Jaccard <= n_min/n_max); DISTINCT collapses multi-token
  agreements;
- verify: two doc-id equi-joins fetch the row-local shingle arrays
  (the AQE-broadcastable candidate sliver), then one row-local
  ``size(array_intersect)`` — the restructured-verifier shape that
  replaced the corpus-wide word join in round 6.

Exactness: the threshold test is pure integer arithmetic
(``Jaccard >= t_num/t_den  <=>  t_den*i >= t_num*(na+nb-i)``), and the
reported ``jaccard`` is one exact-integer division — deterministic
across engines and partitionings.  The DuckDB oracle deliberately
computes the NAIVE ALL-PAIRS join, so a hash-match also certifies the
prefix filter's recall (every qualifying pair was found), not just its
precision.

Reference parity: the reference ships no similarity join at all
(dedup happens in user stages); this is the exact member of the dedup
family alongside MinHash-LSH (probabilistic), SimHash (hamming), and
SRP (cosine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.cache import checkpoint
from cosmos_xenna_spark.operators.dedup import ensure_parallelism


def _shingle_col(text_col: str, shingle_words: int):
    """Row-local word n-gram shingle array (distinct), from a hoisted
    split — the HOF lambda only concatenates (split stays outside,
    per the repo-wide HOF rule)."""
    ws = F.split(F.col(text_col), " ")
    n = shingle_words
    idx = F.when(F.size(ws) >= n, F.sequence(F.lit(1), F.size(ws) - (n - 1))).otherwise(
        F.array().cast("array<int>")
    )
    gram = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(ws, i + j) for j in range(n)]),
    )
    return F.array_distinct(gram)


def prefix_filter_jaccard_join(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    t_num: int = 7,
    t_den: int = 10,
) -> DataFrame:
    """All pairs with shingle-Jaccard >= t_num/t_den — exact, via
    prefix filtering.  Returns ``(doc_a, doc_b, inter, na, nb,
    jaccard)`` with ``doc_a < doc_b``."""
    if not (0 < t_num <= t_den):
        raise ValueError("threshold must satisfy 0 < t_num/t_den <= 1")
    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    # ensure_parallelism BEFORE the shingle transform: HOF lambdas are
    # interpreted per element, and a small parquet split count would
    # run the whole corpus's shingling on a few cores (measured 9 s ->
    # 0.4 s at sf0.1).  The set size n is NOT computed as size(sh)
    # next to explode(sh) — projection collapse would inline the
    # transform into both and evaluate it twice per row; the count
    # window below rides the rank window's exchange instead.
    #
    # The shingle-array frame feeds THREE consumers (the token stream
    # and both verify sides); un-materialized, projection duplication
    # re-runs the interpreted transform once per consumer (measured:
    # verify alone cost 8.7 s at sf0.1 rebuilding it twice).  One eager
    # checkpoint makes it a single pass.  At extreme scale where
    # materializing the shingle arrays is worse than recomputing them,
    # this is the knob to expose — the r6 Jaccard-verify lesson, but
    # the measured crossover here favors materializing.
    sets = checkpoint(
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("id"), _shingle_col(text_col, shingle_words).alias("sh")
        )
    )
    # n comes free from the MATERIALIZED shingle array (size() on a
    # checkpoint column, no transform re-evaluation and no count
    # window), and the document frequency is a count window over the
    # token key — ONE token-keyed exchange where the former
    # aggregate-then-join form exchanged the token stream twice
    # (partial-agg exchange + the join's full re-exchange of toks).
    toks = sets.select(
        "id", F.size("sh").cast("bigint").alias("n"), F.explode("sh").alias("w")
    )
    ranked = toks.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("w"))
    ).withColumn(
        "rn", F.row_number().over(Window.partitionBy("id").orderBy("df", "w"))
    )
    # prefix length p = n - ceil(t*n) + 1, all-integer
    p = F.col("n") - F.expr(f"({t_num} * n + {t_den} - 1) DIV {t_den}") + F.lit(1)
    # The candidate equi-join key is the token's xxhash64, not the
    # token string: the checkpoint and the self-join shuffle carry 8
    # bytes instead of the shingle text (guide: shuffle fewer bytes).
    # A hash COLLISION can only ADD a candidate pair, and the exact
    # array_intersect verify below removes every non-qualifying pair,
    # so the result set is unchanged for ANY hash. The global token
    # ORDER (df, w) is untouched — the prefix-filter recall proof needs
    # a consistent total order, and the hash plays no part in it.
    prefix = ranked.filter(F.col("rn") <= p).select(
        "id", "n", F.xxhash64("w").alias("wh")
    )
    # The prefix frame feeds both sides of the self-join: checkpoint it
    # once so the 2-shuffle build is not re-executed per side.
    # Repartition BEFORE the checkpoint: an eager checkpoint
    # materializes the AQE-optimized plan, and AQE's byte-based
    # coalescing collapses this small-bytes frame to 1-2 partitions —
    # every downstream stage that STREAMS from the checkpoint (the
    # candidate self-join probe) then runs on 1-2 tasks regardless of
    # cluster size. Round-robin to the default parallelism pins the
    # probe-side task count; at scale the frame has real volume and the
    # explicit count is what the exchange would use anyway.
    prefix = checkpoint(ensure_parallelism(prefix))
    a, b = prefix.alias("a"), prefix.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.wh") == F.col("b.wh"))
            & (F.col("a.id") < F.col("b.id"))
            # length filter: Jaccard <= n_min/n_max, so qualifying pairs
            # need t_den * n_min >= t_num * n_max
            & (
                F.lit(t_den) * F.least("a.n", "b.n")
                >= F.lit(t_num) * F.greatest("a.n", "b.n")
            ),
        )
        .select(F.col("a.id").alias("doc_a"), F.col("b.id").alias("doc_b"))
        .distinct()
    )
    # The verify below is compute-heavy per ROW (one hash-set
    # intersection of two shingle arrays per pair) while the pair frame
    # is tiny in BYTES (16 B/row) — exactly the shape AQE's byte-based
    # coalescing collapses to one post-distinct partition, leaving a
    # single task to evaluate every array_intersect while the rest of
    # the cluster idles (measured: 4.6 s warm -> 15-55 s whenever the
    # JIT ran that one task cold). Fan the pairs out first; the hash
    # exchange (keyed on the near-unique pair id — skips round-robin's
    # local pre-sort) moves only the 16-byte pair rows.
    cands = ensure_parallelism(cands, keys=("doc_a", "doc_b"))
    sa = sets.select(F.col("id").alias("doc_a"), F.col("sh").alias("__sa"))
    sb = sets.select(F.col("id").alias("doc_b"), F.col("sh").alias("__sb"))
    verified = (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__sa", "__sb")).cast("bigint").alias("inter"),
            F.size("__sa").cast("bigint").alias("na"),
            F.size("__sb").cast("bigint").alias("nb"),
        )
        .filter(
            F.lit(t_den) * F.col("inter")
            >= F.lit(t_num) * (F.col("na") + F.col("nb") - F.col("inter"))
        )
    )
    return verified.select(
        "doc_a",
        "doc_b",
        "inter",
        "na",
        "nb",
        (
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
        ).alias("jaccard"),
    )


def allpairs_jaccard_sql(
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    t_num: int = 7,
    t_den: int = 10,
) -> str:
    """DuckDB oracle: the NAIVE all-pairs shingle-Jaccard join.  A
    hash-match against :func:`prefix_filter_jaccard_join` certifies
    both precision and recall of the prefix filter."""
    n = shingle_words
    gram = " || ' ' || ".join(f"a[i + {j}]" for j in range(n))
    return f"""
    WITH ws AS (SELECT {id_col} AS id, string_split({text_col}, ' ') AS a FROM {table}),
    sh AS (
      SELECT DISTINCT id, {gram} AS w
      FROM ws, UNNEST(range(1, len(a) - {n - 2})) AS t(i)
    ),
    sz AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
    inter AS (
      SELECT x.id AS doc_a, y.id AS doc_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM sh x JOIN sh y ON x.w = y.w AND x.id < y.id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, inter,
           CAST(za.n AS BIGINT) AS na, CAST(zb.n AS BIGINT) AS nb,
           CAST(inter AS DOUBLE) / CAST(za.n + zb.n - inter AS DOUBLE) AS jaccard
    FROM inter
    JOIN sz za ON za.id = doc_a
    JOIN sz zb ON zb.id = doc_b
    WHERE {t_den} * inter >= {t_num} * (za.n + zb.n - inter)
    """
