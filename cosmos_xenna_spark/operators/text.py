"""Text-analysis operators: quality stats, language-ID heuristic,
tokenization counts, document fingerprints.

All column expressions over JVM built-ins (split/regexp/aggregate) —
zero Python UDFs, so they run inside whole-stage codegen and scale
linearly with input. Language ID is a marker-word heuristic (the
container has no langid model — the scoring plumbing is the real
operator; swap the marker table for a trained profile in production).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cosmos_xenna_spark.functions import md5_long63
from cosmos_xenna_spark.operators.cache import checkpoint

STOPWORDS = ("the", "a", "and", "of", "to", "in")

# marker-word profiles for the language-ID heuristic (deterministic,
# reproducible in SQL; intentionally tiny).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and"),
    "de": ("der", "die", "und"),
    "es": ("el", "la", "que"),
    "fr": ("le", "la", "et"),
    "zh": ("de", "le", "shi"),
}

# BPE-ish tokenizer: letter runs, digit runs, or single non-alnum chars.
TOKEN_REGEX = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def words_col(text_col: str = "text") -> Column:
    return F.split(F.col(text_col), " ")


def n_tokens_col(text_col: str = "text") -> Column:
    return F.size(words_col(text_col))


def stopword_count_col(text_col: str = "text") -> Column:
    sw = ",".join(f"'{w}'" for w in STOPWORDS)
    return F.size(
        F.expr(f"filter(split({text_col}, ' '), w -> w IN ({sw}))")
    )


def punct_count_col(text_col: str = "text") -> Column:
    return F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[.,!?;:]", "")
    )


def digit_count_col(text_col: str = "text") -> Column:
    return F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), "[0-9]", "")
    )


def bpe_token_count_col(text_col: str = "text") -> Column:
    return F.size(F.regexp_extract_all(F.col(text_col), F.lit(TOKEN_REGEX), 0))


def lang_score_col(lang: str, text_col: str = "text") -> Column:
    """Number of marker-word hits for one language profile."""
    markers = ",".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return F.size(F.expr(f"filter(split({text_col}, ' '), w -> w IN ({markers}))"))


def langid_col(text_col: str = "text") -> Column:
    """argmax language by marker hits; ties break by language code."""
    scored = F.array(
        *[
            F.struct(lang_score_col(lang, text_col).alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(LANG_MARKERS)
        ]
    )
    # array_max on struct compares fieldwise: (score, lang); to break
    # ties toward the SMALLER lang code we compare on (score, reversed
    # rank) — simplest portable form: pick via aggregate.
    return F.aggregate(
        scored,
        F.struct(F.lit(-1).alias("score"), F.lit("zz").alias("lang")),
        lambda acc, x: F.when(x["score"] > acc["score"], x).otherwise(acc),
    )["lang"]


def doc_fingerprint(docs: DataFrame, text_col: str = "text", k: int = 4) -> DataFrame:
    """Winnowing-style fingerprint: min 63-bit hash over word k-grams
    plus the distinct k-gram count. (doc_id, fingerprint, n_shingles)."""
    from cosmos_xenna_spark.operators.dedup import word_shingles

    sh = word_shingles(docs, text_col, k)
    return sh.select("doc_id", md5_long63("sh").alias("h")).groupBy("doc_id").agg(
        F.min("h").alias("fingerprint"), F.count(F.lit(1)).alias("n_shingles")
    )


def deterministic_split(
    df: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (80, 10, 10),
    salt: str = "split:",
) -> DataFrame:
    """Assign train/val/test splits by portable hash — the dataset-
    curation staple. Hash-based (not rand()) so the assignment is
    stable across runs, engines, partitionings, and retries; changing
    ``salt`` re-rolls every assignment at once. Adds a ``split``
    column; no shuffle (a row-local expression).
    """
    train, val, _ = weights
    bucket = F.pmod(md5_long63(F.col(id_col).cast("string"), prefix=salt), F.lit(100))
    return df.withColumn(
        "split",
        F.when(bucket < train, "train")
        .when(bucket < train + val, "val")
        .otherwise("test"),
    )


def normalize_text(df: DataFrame, text_col: str = "text", out_col: str = "norm_text") -> DataFrame:
    """Canonical text normalization for dedup/fingerprint keys:
    lowercase, strip everything but ``[a-z0-9 ]``, collapse whitespace
    runs, trim.

    Entirely row-local regexp expressions (whole-stage codegen, no
    shuffle at all); the patterns avoid lookarounds and character-class
    shorthands so Java regex and RE2 agree byte-for-byte.  Normalizing
    BEFORE hashing/shingling is what makes exact and fuzzy dedup robust
    to case/punctuation noise — run it ahead of ``exact_dedup`` /
    ``minhash_signatures``.
    """
    c = F.lower(F.col(text_col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, "  +", " ")
    return df.withColumn(out_col, F.trim(c))


NORMALIZE_SQL_TMPL = (
    "trim(regexp_replace(regexp_replace(lower({col}), '[^a-z0-9 ]', ' ', 'g'),"
    " '  +', ' ', 'g'))"
)


def vocab_coverage(
    docs: DataFrame, text_col: str = "text", vocab_size: int = 1000
) -> DataFrame:
    """Frequency vocabulary + per-document OOV rate: the tokenizer-prep
    audit every training pipeline runs before committing to a vocab
    budget.  Returns ``(doc_id, n_tokens, n_oov, oov_rate)``.

    The vocabulary is the ``vocab_size`` most frequent tokens
    corpus-wide, ties broken lexicographically (deterministic across
    engines and partitionings).

    Scale shape: token counts are one map-side-combined shuffle; the
    top-N sort runs over the DISTINCT-token table (vocabulary-bounded,
    never corpus rows); the vocab is broadcast back, so the per-doc
    flag join never shuffles the corpus — the only corpus-sized
    exchange is the final per-doc aggregation.
    """
    words = docs.select("doc_id", F.explode(F.split(text_col, " ")).alias("w"))
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), F.asc("w"))
        .limit(vocab_size)
        .select("w", F.lit(1).alias("__in_vocab"))
    )
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0)).alias("n_oov"),
        )
        .withColumn("oov_rate", F.col("n_oov").cast("double") / F.col("n_tokens"))
    )


def vocab_coverage_sql(table: str, text_col: str, vocab_size: int) -> str:
    return f"""
    WITH words AS (
      SELECT doc_id, UNNEST(string_split({text_col}, ' ')) AS w FROM {table}
    ),
    vocab AS (
      SELECT w FROM (SELECT w, COUNT(*) AS n FROM words GROUP BY w)
      ORDER BY n DESC, w LIMIT {vocab_size}
    )
    SELECT doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.flag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(SUM(CASE WHEN v.flag IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS oov_rate
    FROM words LEFT JOIN (SELECT w, 1 AS flag FROM vocab) v USING (w)
    GROUP BY doc_id
    """


def vocab_jaccard(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    min_union: int = 10,
) -> DataFrame:
    """Pairwise vocabulary Jaccard between GROUPS (languages, sources,
    time slices): |vocab_a ∩ vocab_b| / |vocab_a ∪ vocab_b| as exact
    ppm — the corpus-contamination / shared-boilerplate fingerprint at
    the group level (two "different languages" sharing 40% of their
    vocabulary usually share a scraper, not a linguistic miracle).

    Shape: one distinct (group, token) table; intersections via ONE
    token-key self-join (tokens hash-partition evenly — no all-pairs
    of documents anywhere); per-group sizes broadcast back onto the
    bounded group-pair result.  Group count is small by contract
    (languages, sources); the token join is the only corpus-sized
    work.
    """
    toks = checkpoint(
        docs.select(
            F.col(group_col).alias("g"),
            F.explode(F.split(F.col(text_col), " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = toks.groupBy("g").agg(F.count(F.lit(1)).alias("n_vocab"))
    inter = (
        toks.alias("a")
        .join(toks.alias("b"), "tok")
        .filter(F.col("a.g") < F.col("b.g"))
        .groupBy(F.col("a.g").alias("ga"), F.col("b.g").alias("gb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    sa = sizes.select(F.col("g").alias("ga"), F.col("n_vocab").alias("na"))
    sb = sizes.select(F.col("g").alias("gb"), F.col("n_vocab").alias("nb"))
    return (
        inter.join(F.broadcast(sa), "ga")
        .join(F.broadcast(sb), "gb")
        .select(
            F.col("ga").alias("group_a"),
            F.col("gb").alias("group_b"),
            "n_inter",
            (F.col("na") + F.col("nb") - F.col("n_inter"))
            .cast("bigint")
            .alias("n_union"),
            F.expr("1000000 * n_inter div (na + nb - n_inter)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
        .filter(F.col("n_union") >= min_union)
    )


def vocab_jaccard_sql(
    docs_sql: str,
    group_col: str = "lang",
    text_col: str = "text",
    min_union: int = 10,
) -> str:
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT DISTINCT {group_col} AS g, tok FROM (
        SELECT {group_col}, UNNEST(string_split({text_col}, ' ')) AS tok
        FROM ({docs_sql})
      ) WHERE tok <> ''
    ),
    sizes AS (SELECT g, COUNT(*) AS n_vocab FROM toks GROUP BY g),
    inter AS (
      SELECT a.g AS ga, b.g AS gb, CAST(COUNT(*) AS BIGINT) AS n_inter
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.g < b.g
      GROUP BY 1, 2
    )
    SELECT ga AS group_a, gb AS group_b, n_inter,
           CAST(na + nb - n_inter AS BIGINT) AS n_union,
           CAST(1000000 * n_inter // (na + nb - n_inter) AS BIGINT)
             AS jaccard_ppm
    FROM inter
    JOIN (SELECT g AS ga, n_vocab AS na FROM sizes) USING (ga)
    JOIN (SELECT g AS gb, n_vocab AS nb FROM sizes) USING (gb)
    WHERE na + nb - n_inter >= {min_union}
    """


def vocab_growth_curve(
    docs,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 10,
):
    """Heaps-law vocabulary-growth curve: cumulative distinct-word
    count vs cumulative token count at ``n_buckets`` corpus prefixes
    (doc-id order) — the standard diagnostic for "is this corpus still
    contributing new vocabulary or replaying itself" (dedup leakage,
    template saturation, crawl-frontier exhaustion all flatten it).

    Exact and scale-safe: each word's FIRST bucket is one
    ``min(bucket)`` aggregation over the (word, bucket) pairs (map-
    side combined, vocabulary-sized result); per-bucket token and
    first-word counts then collapse to ``n_buckets`` rows, and the
    cumulative sums run over that bounded frame (global window over
    <= n_buckets + 1 rows BY CONSTRUCTION — allowlisted; the corpus
    never sorts globally).  The bucket split is integer arithmetic on
    a driver-literal ``max(id)`` (the approxQuantile-cuts precedent:
    bake data-derived literals, never re-derive per job).

    Returns ``(bucket, cum_tokens, cum_vocab)`` — all BIGINT.
    """
    from pyspark.sql import Window

    max_id = docs.agg(F.max(F.col(id_col))).collect()[0][0]
    words = docs.select(
        F.expr(f"CAST({id_col} * {n_buckets} DIV {int(max_id) + 1} AS BIGINT)").alias(
            "bucket"
        ),
        F.explode(F.split(F.col(text_col), " ")).alias("word"),
    )
    toks = words.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_tokens"))
    first = (
        words.groupBy("word")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_new_words"))
    )
    per_bucket = toks.join(first, "bucket", "left").select(
        "bucket",
        "n_tokens",
        F.coalesce("n_new_words", F.lit(0)).alias("n_new_words"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        F.sum("n_new_words").over(w).cast("bigint").alias("cum_vocab"),
    )


def vocab_growth_curve_sql(
    docs_sql: str,
    id_col: str,
    text_col: str,
    n_buckets: int = 10,
) -> str:
    """DuckDB mirror — the max(id) literal becomes a scalar subquery
    (same value the Spark builder baked)."""
    mx = f"(SELECT MAX({id_col}) FROM ({docs_sql}))"
    return f"""
    WITH words AS (
      SELECT CAST({id_col} * {n_buckets} // ({mx} + 1) AS BIGINT) AS bucket,
             UNNEST(string_split({text_col}, ' ')) AS word
      FROM ({docs_sql})
    ),
    toks AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens
      FROM words GROUP BY bucket
    ),
    first AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_new_words FROM (
        SELECT word, MIN(bucket) AS bucket FROM words GROUP BY word
      ) GROUP BY bucket
    )
    SELECT t.bucket,
           CAST(SUM(t.n_tokens) OVER (ORDER BY t.bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_tokens,
           CAST(SUM(COALESCE(f.n_new_words, 0)) OVER (ORDER BY t.bucket
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_vocab
    FROM toks t LEFT JOIN first f USING (bucket)
    """


def zipf_curve(
    docs,
    text_col: str = "text",
    max_rank: int = 256,
):
    """Zipf rank-frequency curve at doubling ranks (1, 2, 4, ...,
    ``max_rank``): the word at each power-of-two rank and its count —
    the corpus-health fingerprint (a natural corpus halves count
    roughly per octave; template spam bulges the head, aggressive
    dedup starves it).

    Scale shape: one ``groupBy(word)`` with map-side combine, then the
    DISTRIBUTED global rank (quantile bucketing + offset arithmetic,
    :func:`~cosmos_xenna_spark.operators.ranking.global_row_number`)
    over (-count, word) — the vocabulary never sorts in one task, the
    classic trap of ``row_number() OVER (ORDER BY count DESC)``.

    Returns ``(rank, word, n)`` — BIGINT rank/count.
    """
    from cosmos_xenna_spark.operators.ranking import global_row_number

    counts = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("neg_n", -F.col("n"))
    )
    ranked = global_row_number(counts, ["neg_n", "word"], out_col="rank")
    picks = [1]
    while picks[-1] * 2 <= max_rank:
        picks.append(picks[-1] * 2)
    return (
        ranked.filter(F.col("rank").isin(picks))
        .select(
            F.col("rank").cast("bigint").alias("rank"),
            "word",
            F.col("n").cast("bigint").alias("n"),
        )
    )


def zipf_curve_sql(docs_sql: str, text_col: str, max_rank: int = 256) -> str:
    """DuckDB mirror — the naive global ORDER BY the distributed rank
    must equal (the oracle certifying the bucketing+offset machinery)."""
    picks = [1]
    while picks[-1] * 2 <= max_rank:
        picks.append(picks[-1] * 2)
    in_list = ", ".join(str(p) for p in picks)
    return f"""
    WITH counts AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT UNNEST(string_split({text_col}, ' ')) AS word
        FROM ({docs_sql})
      ) GROUP BY word
    ),
    ranked AS (
      SELECT word, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, word) AS rank
      FROM counts
    )
    SELECT CAST(rank AS BIGINT) AS rank, word, n
    FROM ranked WHERE rank IN ({in_list})
    """
