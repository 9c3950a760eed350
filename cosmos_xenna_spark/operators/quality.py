"""Corpus-quality operators for LLM training-data curation.

Gopher-style per-document quality signals, C4-style line-level corpus
dedup, PII redaction, and eval-set n-gram decontamination — the
filtering stages a 100 TB text pipeline runs between raw scrape and
tokenization. All JVM built-ins (split/explode/regexp/window); zero
Python UDFs, so every stage stays inside whole-stage codegen.

Scale shapes:
- quality_signals: one explode + two groupBys keyed by doc_id (word
  counts partially aggregate map-side before the shuffle).
- line_dedup: one shuffle keyed by ``md5_long63(line)`` — 8-byte sort
  keys at any scale; the DuckDB oracle keys on the identical hash.
- decontaminate: the eval-shingle side of the semi-join is broadcast —
  eval suites are KBs-to-MBs against a TB-scale training corpus.
- top_ngrams: groupBy(ngram) with map-side combine, then a global
  top-k (Spark TakeOrdered — no single-partition sort of the counts).

Reference parity: the reference ships no corpus-quality stages (its
pipelines defer this to user stages, reference
``examples/simple_data_processing.py``); these mirror the published
C4 (Raffel et al. 2020) and Gopher (Rae et al. 2021) filter suites.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cosmos_xenna_spark.functions import md5_long63
from cosmos_xenna_spark.operators.cache import checkpoint
from cosmos_xenna_spark.operators.text import STOPWORDS

# Gopher-ish acceptance thresholds, tuned for the synthetic corpus
# (docs are 10-99 space-separated words over a small vocabulary):
# real-world values are 50..100_000 words, mean word length 3..10,
# >=2 stopword hits, >=20% unique words.
MIN_WORDS = 50
MAX_WORDS = 100_000
MIN_MEAN_WORD_LEN = 3.0
MAX_MEAN_WORD_LEN = 10.0
MIN_STOPWORD_HITS = 2
MIN_FRAC_UNIQUE = 0.2

# PII patterns — RE2-safe (no lookarounds) so Spark's Java regex and
# DuckDB's RE2 agree. Redaction order matters: emails first (their
# domains contain dots that the IP pattern must not see), then IPs,
# then phones.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"


def quality_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style quality signals per document.

    Returns (doc_id, n_words, n_unique, frac_unique, top_word_frac,
    mean_word_len, stopword_hits, passes). Every ratio divides two
    exact integer sums, so the doubles are bit-deterministic across
    engines and partitionings.
    """
    words = docs.select(
        "doc_id", F.explode(F.split(F.col(text_col), " ")).alias("word")
    )
    wc = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("cnt"))
    sw = F.col("word").isin(*STOPWORDS)
    agg = wc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_words"),
        F.count(F.lit(1)).alias("n_unique"),
        F.max("cnt").alias("__top_n"),
        F.sum(F.when(sw, F.col("cnt")).otherwise(F.lit(0))).alias("stopword_hits"),
        F.sum(F.length("word") * F.col("cnt")).alias("__chars"),
    )
    frac_unique = F.col("n_unique").cast("double") / F.col("n_words")
    top_word_frac = F.col("__top_n").cast("double") / F.col("n_words")
    mean_word_len = F.col("__chars").cast("double") / F.col("n_words")
    passes = (
        F.col("n_words").between(MIN_WORDS, MAX_WORDS)
        & mean_word_len.between(MIN_MEAN_WORD_LEN, MAX_MEAN_WORD_LEN)
        & (F.col("stopword_hits") >= MIN_STOPWORD_HITS)
        & (frac_unique >= MIN_FRAC_UNIQUE)
    )
    return agg.select(
        "doc_id",
        "n_words",
        "n_unique",
        frac_unique.alias("frac_unique"),
        top_word_frac.alias("top_word_frac"),
        mean_word_len.alias("mean_word_len"),
        "stopword_hits",
        passes.alias("passes"),
    )


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Redact emails / IPv4s / phone numbers; count each per row.

    Adds ``n_emails`` / ``n_ips`` / ``n_phones`` (BIGINT) and replaces
    ``text_col`` with the redacted text. Row-local — no shuffle.

    Counts are computed SEQUENTIALLY, each on the text as left by the
    previous redaction pass (emails first, then IPs on email-redacted
    text, then phones on email+IP-redacted text), so every count equals
    the number of replacements that pass actually made. Counting all
    three patterns independently on the original text overstates
    overlapping matches — e.g. a digit run inside an already-redacted
    email would be counted as a phone but never replaced.
    """
    c = F.col(text_col)
    after_email = F.regexp_replace(c, EMAIL_RE, "<EMAIL>")
    after_ip = F.regexp_replace(after_email, IPV4_RE, "<IP>")
    redacted = F.regexp_replace(after_ip, PHONE_RE, "<PHONE>")
    return df.withColumns(
        {
            "n_emails": F.size(F.regexp_extract_all(c, F.lit(EMAIL_RE), 0)).cast("bigint"),
            "n_ips": F.size(
                F.regexp_extract_all(after_email, F.lit(IPV4_RE), 0)
            ).cast("bigint"),
            "n_phones": F.size(
                F.regexp_extract_all(after_ip, F.lit(PHONE_RE), 0)
            ).cast("bigint"),
            text_col: redacted,
        }
    )


def _line_col(text_col: str, line_words: int) -> Column:
    """Chunk the word array into fixed-width ``line_words`` 'lines'.

    The corpus has no newlines, so lines are synthesized as word
    chunks; with real scraped text pass a pre-split lines array
    instead (`split(text, '\\n')`).
    """
    return F.expr(
        f"transform(sequence(0, CAST(ceil(size(split({text_col}, ' ')) / {line_words}.0) AS INT) - 1),"
        f" i -> array_join(slice(split({text_col}, ' '), i * {line_words} + 1, {line_words}), ' '))"
    )


def line_dedup(
    docs: DataFrame, text_col: str = "text", line_words: int = 12
) -> DataFrame:
    """C4-style line-level corpus dedup: keep only the FIRST occurrence
    of each line corpus-wide (ordered by doc_id, then position).

    Returns (doc_id, n_lines, n_kept, kept_text). One shuffle, keyed by
    ``md5_long63(line)`` rather than the line text: the window's
    sort/partition comparisons touch 8-byte longs instead of arbitrary-
    length strings (the line string still travels as row payload — it's
    needed to rebuild kept_text). A 63-bit collision would merge two
    distinct lines; at ~10^9 distinct lines that's ~1e-4 odds corpus-
    wide, and the DuckDB oracle keys on the identical hash so the
    engines stay in lockstep even then.
    """
    lines = docs.select(
        "doc_id", F.posexplode(_line_col(text_col, line_words)).alias("line_no", "line")
    ).withColumn("__lh", md5_long63("line"))
    w = Window.partitionBy("__lh").orderBy("doc_id", "line_no")
    ranked = lines.withColumn("__rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("__rn") == 1, 1).otherwise(0)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__rn") == 1,
                                F.struct(F.col("line_no"), F.col("line")),
                            )
                        )
                    ),
                    lambda x: x["line"],
                ),
                " ",
            ).alias("kept_text"),
        )
    )


def repetition_signals(
    docs: DataFrame,
    text_col: str = "text",
    line_words: int = 12,
    top_n: int = 2,
    dup_n: int = 5,
) -> DataFrame:
    """Gopher-style within-document repetition signals.

    Returns per doc:
      - ``n_lines``, ``dup_line_frac``: occurrences beyond the first of
        any repeated line / total lines,
      - ``dup_line_char_frac``: characters in those repeat occurrences
        / total characters,
      - ``top_ngram_char_frac``: characters covered by the single
        highest-coverage ``top_n``-gram (count x gram length; coverage
        max is deterministic where "most frequent" would tie-break
        ambiguously across engines),
      - ``dup_ngram_char_frac``: characters covered by all duplicated
        ``dup_n``-grams (overlapping occurrences double-count — the
        standard proxy; Rae et al. 2021 table A1).

    Denominator is ``length(text)``. Shapes: one explode per signal
    family, groupBys keyed by doc_id (map-side partial aggregation),
    and doc_id-partitioned joins — no shuffle wider than the doc key.
    """
    tlen = F.length(F.col(text_col)).alias("__tlen")
    base = docs.select("doc_id", tlen, F.split(F.col(text_col), " ").alias("__ws"))

    lines = base.select(
        "doc_id",
        "__tlen",
        F.explode(
            F.expr(
                f"transform(sequence(0, CAST(ceil(size(__ws) / {line_words}.0) AS INT) - 1),"
                f" i -> array_join(slice(__ws, i * {line_words} + 1, {line_words}), ' '))"
            )
        ).alias("line"),
    )
    line_cnt = lines.groupBy("doc_id", "line").agg(
        F.count(F.lit(1)).alias("cnt"), F.min("__tlen").alias("__tlen")
    )
    line_agg = line_cnt.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_lines"),
        F.sum(F.col("cnt") - 1).alias("__dup_lines"),
        F.sum((F.col("cnt") - 1) * F.length("line")).alias("__dup_line_chars"),
        F.min("__tlen").alias("__tlen"),
    )

    def gram_counts(n: int) -> DataFrame:
        grams = base.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("__ws") >= n,
                    F.expr(
                        f"transform(sequence(1, size(__ws) - {n - 1}),"
                        f" i -> array_join(slice(__ws, i, {n}), ' '))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("gram"),
        )
        return grams.groupBy("doc_id", "gram").agg(F.count(F.lit(1)).alias("cnt"))

    top_agg = (
        gram_counts(top_n)
        .groupBy("doc_id")
        .agg(F.max(F.col("cnt") * F.length("gram")).alias("__top_chars"))
    )
    dup_agg = (
        gram_counts(dup_n)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("cnt") > 1, F.col("cnt") * F.length("gram")).otherwise(0)
            ).alias("__dup_gram_chars")
        )
    )

    joined = line_agg.join(top_agg, "doc_id", "left").join(dup_agg, "doc_id", "left")
    denom = F.col("__tlen").cast("double")
    return joined.select(
        "doc_id",
        "n_lines",
        (F.col("__dup_lines").cast("double") / F.col("n_lines")).alias("dup_line_frac"),
        (F.col("__dup_line_chars").cast("double") / denom).alias("dup_line_char_frac"),
        (F.coalesce("__top_chars", F.lit(0)).cast("double") / denom).alias(
            "top_ngram_char_frac"
        ),
        (F.coalesce("__dup_gram_chars", F.lit(0)).cast("double") / denom).alias(
            "dup_ngram_char_frac"
        ),
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 5,
) -> DataFrame:
    """Flag training docs sharing any word n-gram with an eval set.

    Returns (doc_id, n_overlap, contaminated) for every training doc.
    The eval shingle set is broadcast — eval suites are tiny next to
    the training corpus, so the training side never shuffles.
    """
    from cosmos_xenna_spark.operators.dedup import word_shingles

    train_sh = word_shingles(train, text_col, k=n)
    eval_sh = word_shingles(eval_df, text_col, k=n).select("sh").distinct()
    overlap = (
        train_sh.join(F.broadcast(eval_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        train.select("doc_id")
        .join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def top_ngrams(
    docs: DataFrame, text_col: str = "text", n: int = 2, k: int = 20
) -> DataFrame:
    """Corpus-wide top-k word n-grams: (ngram, n_occurrences), ordered
    by count desc then ngram asc (fully deterministic).

    Counts ALL occurrences (unlike ``word_shingles``, which dedupes
    within a doc for MinHash). groupBy(ngram) partially aggregates
    map-side; the final top-k is a TakeOrdered, not a global sort.
    """
    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    base = ensure_parallelism(docs).select(F.split(F.col(text_col), " ").alias("__ws"))
    grams = base.select(
        F.explode(
            F.when(
                F.size("__ws") >= n,
                F.expr(
                    f"transform(sequence(1, size(__ws) - {n - 1}),"
                    f" i -> array_join(slice(__ws, i, {n}), ' '))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("ngram")
    )
    return (
        grams.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("ngram"))
        .limit(k)
    )


def collocations_lift(
    docs: DataFrame, text_col: str = "text", k: int = 20, min_count: int = 5
) -> DataFrame:
    """Top-k word-pair collocations by LIFT — the log-free PMI
    surrogate ``p(xy) / (p(x) p(y)) = n_xy * N / (n_x * n_y)`` over
    adjacent-word bigrams (``exp(PMI)``; identical ranking, no
    ``log()``, whose libm rounding differs across engines).

    Returns ``(w1, w2, n_pair, lift)`` ordered by lift desc then pair
    asc (deterministic: lift is one double division of exact bigint
    products, bit-equal in any engine).

    Scale shape: one explode + two groupBys (bigram and unigram counts,
    both map-side combined), two joins of the bigram table against the
    (much smaller, broadcastable) unigram table, top-k via TakeOrdered.
    ``min_count`` prunes the hapax tail BEFORE the joins — at corpus
    scale the rare-bigram tail is the bulk of the rows.
    """
    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    base = ensure_parallelism(docs).select(F.split(F.col(text_col), " ").alias("__ws"))
    words = base.select(F.explode("__ws").alias("w"))
    n_words = words.groupBy().agg(F.count(F.lit(1)).alias("n")).collect()[0]["n"]
    uni = words.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))
    pairs = base.filter(F.size("__ws") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(__ws) - 1),"
                " i -> struct(element_at(__ws, i) AS w1,"
                " element_at(__ws, i + 1) AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    big = (
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= min_count)
    )
    scored = (
        big.join(F.broadcast(uni.withColumnRenamed("w", "w1")
                             .withColumnRenamed("n_w", "n_w1")), "w1")
        .join(F.broadcast(uni.withColumnRenamed("w", "w2")
                          .withColumnRenamed("n_w", "n_w2")), "w2")
        .select(
            "w1",
            "w2",
            "n_pair",
            (
                (F.col("n_pair") * F.lit(int(n_words))).cast("double")
                / (F.col("n_w1") * F.col("n_w2")).cast("double")
            ).alias("lift"),
        )
    )
    return scored.orderBy(F.desc("lift"), F.asc("w1"), F.asc("w2")).limit(k)


def top_ngrams_per_group(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    n: int = 2,
    k: int = 10,
) -> DataFrame:
    """Top-k word n-grams PER GROUP (per language / per domain) —
    the grouped form of :func:`top_ngrams`, for comparing boilerplate
    profiles across corpus slices.

    Counts aggregate map-side on (group, ngram); the rank window then
    runs over the COMPRESSED count rows (vocabulary-bounded per group,
    not corpus-sized), ordered (count desc, ngram) so ties — and the
    result — are deterministic.  Returns (group, ngram, n_occurrences,
    rnk).
    """
    from cosmos_xenna_spark.operators.dedup import ensure_parallelism

    base = ensure_parallelism(docs).select(
        F.col(group_col).alias("grp"), F.split(F.col(text_col), " ").alias("__ws")
    )
    grams = base.select(
        "grp",
        F.explode(
            F.when(
                F.size("__ws") >= n,
                F.expr(
                    f"transform(sequence(1, size(__ws) - {n - 1}),"
                    f" i -> array_join(slice(__ws, i, {n}), ' '))"
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("ngram"),
    )
    counts = grams.groupBy("grp", "ngram").agg(F.count(F.lit(1)).alias("n_occurrences"))
    w = Window.partitionBy("grp").orderBy(F.desc("n_occurrences"), F.asc("ngram"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            F.col("grp").alias(group_col),
            "ngram",
            "n_occurrences",
            F.col("rnk").cast("bigint").alias("rnk"),
        )
    )


def top_ngrams_per_group_sql(
    table: str, group_col: str, text_col: str, n: int, k: int
) -> str:
    joins = " || ' ' || ".join(f"w[i + {j}]" for j in range(n))
    return f"""
    WITH ws AS (
      SELECT {group_col} AS grp, string_split({text_col}, ' ') AS w FROM {table}
    ),
    grams AS (
      SELECT grp, {joins} AS ngram
      FROM ws, LATERAL (SELECT UNNEST(range(1, len(w) - {n - 1} + 1)) AS i) g
      WHERE len(w) >= {n}
    ),
    counts AS (
      SELECT grp, ngram, COUNT(*) AS n_occurrences FROM grams GROUP BY grp, ngram
    )
    SELECT grp AS {group_col}, ngram, n_occurrences, rnk FROM (
      SELECT grp, ngram, n_occurrences,
             ROW_NUMBER() OVER (PARTITION BY grp
                                ORDER BY n_occurrences DESC, ngram) AS rnk
      FROM counts
    ) WHERE rnk <= {k}
    """


def ngram_diversity(
    docs: DataFrame,
    group_cols: list[str],
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """N-gram type-token ratio per corpus slice — the standard
    repetitiveness / mode-collapse metric for generated or scraped
    text: ``distinct n-grams / total n-grams``, higher = more diverse.

    Returns ``(group..., n_total, n_distinct, diversity)``.  One
    explode over in-doc n-grams (built from a single pre-split words
    array — HOF lambdas never re-split), then one aggregation keyed by
    the slice; count-distinct partials keep the shuffle map-side
    combined.  The ratio is an exact integer division in double.
    """
    base = docs.select(*group_cols, F.split(F.col(text_col), " ").alias("__ws"))
    grams = F.when(
        F.size("__ws") >= n,
        F.expr(
            f"transform(sequence(1, size(__ws) - {n - 1}),"
            f" i -> array_join(slice(__ws, i, {n}), ' '))"
        ),
    ).otherwise(F.array().cast("array<string>"))
    exploded = base.select(*group_cols, F.explode(grams).alias("g"))
    return (
        exploded.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.countDistinct("g").alias("n_distinct"),
        )
        .withColumn("diversity", F.col("n_distinct").cast("double") / F.col("n_total"))
    )


def ngram_diversity_sql(table: str, group_cols: list[str], text_col: str, n: int) -> str:
    keys = ", ".join(group_cols)
    return f"""
    WITH grams AS (
      SELECT {keys},
             array_to_string(list_slice(ws, i, i + {n - 1}), ' ') AS g
      FROM (SELECT {keys}, string_split({text_col}, ' ') AS ws FROM {table}),
           UNNEST(range(1, len(ws) - {n - 2})) AS t(i)
      WHERE len(ws) >= {n}
    )
    SELECT {keys},
           COUNT(*) AS n_total,
           COUNT(DISTINCT g) AS n_distinct,
           CAST(COUNT(DISTINCT g) AS DOUBLE) / COUNT(*) AS diversity
    FROM grams
    GROUP BY {keys}
    """


def keyword_tag(
    docs: DataFrame,
    keywords: list[str],
    text_col: str = "text",
) -> DataFrame:
    """Blocklist / taxonomy tagging: which of ``keywords`` appear in
    each document (word-boundary token match, not substring), plus the
    match count — the standard bad-words filter / topic-tag pass.

    Returns ``(doc_id, matched, n_matched)`` with ``matched`` a
    comma-joined sorted list (string output keeps the driver-hash
    dtype contract: no array columns).

    Scale shape: the keyword list ships as a broadcast join against the
    exploded token stream — the corpus never shuffles by token; the
    only corpus-sized exchange is the per-doc aggregation.  Works for
    ANY keyword-list size (a literal ``isin`` would bloat the plan at
    real blocklist sizes, tens of thousands of entries).
    """
    spark = docs.sparkSession
    kw = spark.createDataFrame([(k,) for k in keywords], "w string").distinct()
    words = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split(text_col, " "))).alias("w")
    )
    hits = words.join(F.broadcast(kw), "w")
    return (
        docs.select("doc_id")
        .join(
            hits.groupBy("doc_id").agg(
                F.array_join(F.array_sort(F.collect_list("w")), ",").alias("matched"),
                F.count(F.lit(1)).alias("n_matched"),
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("matched", F.lit("")).alias("matched"),
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
        )
    )


def keyword_tag_sql(table: str, keywords: list[str], text_col: str) -> str:
    kw_values = ", ".join(f"('{k}')" for k in keywords)
    return f"""
    WITH kw(w) AS (SELECT DISTINCT * FROM (VALUES {kw_values})),
    words AS (
      SELECT DISTINCT doc_id, UNNEST(string_split({text_col}, ' ')) AS w
      FROM {table}
    ),
    hits AS (
      SELECT doc_id,
             array_to_string(list_sort(list(w)), ',') AS matched,
             COUNT(*) AS n_matched
      FROM words JOIN kw USING (w)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(matched, '') AS matched,
           COALESCE(n_matched, 0) AS n_matched
    FROM {table} d LEFT JOIN hits ON d.doc_id = hits.doc_id
    """


def bigram_novelty(
    docs: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Language-model novelty gate (CCNet-style quality filter, with a
    count-based bigram model standing in for the KenLM perplexity
    model): score each document by the fraction of its word bigrams
    that are UNSEEN-OR-RARE (< ``min_count`` occurrences) in a
    reference corpus.  High novelty = far from the reference
    distribution — the same signal perplexity filtering thresholds on,
    but built from exact integer counts so it is oracle-checkable
    (log-probability sums are not; see the repo-wide no-log rule).

    Scale shape: the reference model is a (bigram, count) relation —
    NOT broadcast (a web-scale bigram vocabulary is far beyond
    broadcast size); the doc-side bigrams shuffle-join it on the
    bigram key, then one aggregation back on the doc id.  Bigram
    expansion is row-local (hoisted ``split`` + one ``transform`` over
    an index sequence).  Documents with fewer than two tokens have no
    bigrams and are absent from the output (nothing to score).

    Returns ``(id, n_bigrams, n_novel, novelty_ppm)`` — all BIGINT;
    ``novelty_ppm`` is the exact integer ``1e6 * n_novel // n_bigrams``.
    """

    def expand(df: DataFrame) -> DataFrame:
        ws = df.select(
            F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__ws")
        )
        idx = F.when(
            F.size("__ws") >= 2, F.sequence(F.lit(1), F.size("__ws") - 1)
        ).otherwise(F.array().cast("array<int>"))
        bg = F.transform(
            idx,
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("__ws"), i), F.element_at(F.col("__ws"), i + 1)
            ),
        )
        return ws.select("id", F.explode(bg).alias("bg"))

    ref_counts = expand(ref).groupBy("bg").agg(F.count(F.lit(1)).alias("ref_n"))
    joined = expand(docs).join(ref_counts, "bg", "left")
    novel = F.when(
        F.col("ref_n").isNull() | (F.col("ref_n") < min_count), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        joined.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(novel).alias("n_novel"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_bigrams",
            "n_novel",
            F.expr("1000000 * n_novel DIV n_bigrams").alias("novelty_ppm"),
        )
    )


def bigram_novelty_sql(
    docs_sql: str,
    ref_sql: str,
    id_col: str,
    text_col: str,
    min_count: int,
) -> str:
    """DuckDB mirror: lateral UNNEST(range(...)) bigram expansion,
    identical join/aggregate structure and integer arithmetic."""

    def expand(src: str) -> str:
        return f"""
        SELECT {id_col} AS id, a[i] || ' ' || a[i + 1] AS bg
        FROM (SELECT {id_col}, string_split({text_col}, ' ') AS a FROM ({src})),
             UNNEST(range(1, len(a))) AS t(i)
        """

    return f"""
    WITH doc_bg AS ({expand(docs_sql)}),
    ref_bg AS ({expand(ref_sql)}),
    ref_counts AS (SELECT bg, COUNT(*) AS ref_n FROM ref_bg GROUP BY bg),
    j AS (
      SELECT d.id,
             CASE WHEN r.ref_n IS NULL OR r.ref_n < {min_count} THEN 1 ELSE 0 END AS novel
      FROM doc_bg d LEFT JOIN ref_counts r USING (bg)
    )
    SELECT id AS {id_col},
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(novel) AS BIGINT) AS n_novel,
           (1000000 * CAST(SUM(novel) AS BIGINT)) // CAST(COUNT(*) AS BIGINT) AS novelty_ppm
    FROM j GROUP BY id
    """


def readability_signals(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document readability signals, integer-exact: word count,
    sentence count (non-empty ``[.!?]+`` splits), vowel-group syllable
    estimate, and an integerized Flesch-style score
    ``flesch_milli = 206835 - (1015 * words) div sentences
    - (84600 * syllables) div words`` — the curation gate that drops
    both telegraphic fragments and run-on machine text.

    The syllable estimate (count of ``[aeiouy]+`` groups, the standard
    heuristic) and the div-based ratios are DEFINED in integer
    arithmetic so both engines agree bit-for-bit — the float Flesch
    differs from this by < 1 milli-unit per term, irrelevant for
    bucketing.  All row-local regexps, zero shuffle.
    """
    words = F.size(F.split(F.trim(F.col(text_col)), r"\s+")).cast("bigint")
    sentences = F.size(
        F.filter(
            F.split(F.col(text_col), r"[.!?]+"),
            lambda s: F.trim(s) != "",
        )
    ).cast("bigint")
    syllables = F.size(
        F.expr(f"regexp_extract_all(lower({text_col}), '[aeiouy]+', 0)")
    ).cast("bigint")
    return (
        docs.select(
            "doc_id",
            words.alias("n_words"),
            sentences.alias("n_sentences"),
            syllables.alias("n_syllables"),
        )
        .filter((F.col("n_words") >= 1) & (F.col("n_sentences") >= 1))
        .select(
            "doc_id",
            "n_words",
            "n_sentences",
            "n_syllables",
            F.expr("1000000 * n_words div n_sentences").alias(
                "words_per_sentence_ppm"
            ),
            F.expr("1000000 * n_syllables div n_words").alias(
                "syllables_per_word_ppm"
            ),
            F.expr(
                "206835 - 1015 * n_words div n_sentences"
                " - 84600 * n_syllables div n_words"
            ).alias("flesch_milli"),
        )
    )


def readability_signals_sql(table_sql: str, text_col: str = "text") -> str:
    return f"""
    SELECT doc_id, n_words, n_sentences, n_syllables,
           1000000 * n_words // n_sentences AS words_per_sentence_ppm,
           1000000 * n_syllables // n_words AS syllables_per_word_ppm,
           206835 - 1015 * n_words // n_sentences
                  - 84600 * n_syllables // n_words AS flesch_milli
    FROM (
      SELECT doc_id,
             CAST(len(regexp_split_to_array(trim({text_col}), '\\s+')) AS BIGINT)
               AS n_words,
             CAST(len(list_filter(regexp_split_to_array({text_col}, '[.!?]+'),
                                  s -> trim(s) <> '')) AS BIGINT) AS n_sentences,
             CAST(len(regexp_extract_all(lower({text_col}), '[aeiouy]+', 0)) AS BIGINT)
               AS n_syllables
      FROM ({table_sql})
    ) WHERE n_words >= 1 AND n_sentences >= 1
    """


def script_mix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mixed_min_ppm: int = 50_000,
) -> DataFrame:
    """Unicode script profile per document: counts of Latin / CJK /
    Cyrillic / digit / other characters, the dominant script, and a
    mixed-script flag — the mojibake / spam / wrong-langid triage
    signal (a "Latin" document that is 20% Cyrillic is usually either
    encoding damage or keyword stuffing).

    ``mixed`` = the second-most-common SCRIPT class (letters only)
    exceeds ``mixed_min_ppm`` of all letters.  Pure row-local
    ``regexp_count`` over codepoint classes — identical character
    classes in both engines, zero shuffle, the plan is the scan.
    """
    n_latin = F.regexp_count(F.col(text_col), F.lit(r"[A-Za-z]"))
    n_cjk = F.regexp_count(F.col(text_col), F.lit(r"[\x{4E00}-\x{9FFF}]"))
    n_cyr = F.regexp_count(F.col(text_col), F.lit(r"[\x{0400}-\x{04FF}]"))
    n_digit = F.regexp_count(F.col(text_col), F.lit(r"[0-9]"))
    base = docs.select(
        F.col(id_col),
        F.length(text_col).cast("bigint").alias("n_chars"),
        n_latin.cast("bigint").alias("n_latin"),
        n_cjk.cast("bigint").alias("n_cjk"),
        n_cyr.cast("bigint").alias("n_cyr"),
        n_digit.cast("bigint").alias("n_digit"),
    )
    letters = F.col("n_latin") + F.col("n_cjk") + F.col("n_cyr")
    top = F.greatest("n_latin", "n_cjk", "n_cyr")
    second = letters - top
    dominant = (
        F.when(
            (F.col("n_latin") >= F.col("n_cjk"))
            & (F.col("n_latin") >= F.col("n_cyr")),
            "latin",
        )
        .when(F.col("n_cjk") >= F.col("n_cyr"), "cjk")
        .otherwise("cyrillic")
    )
    return base.select(
        id_col,
        "n_chars",
        "n_latin",
        "n_cjk",
        "n_cyr",
        "n_digit",
        F.when(letters > 0, dominant).alias("dominant_script"),
        F.when(
            letters > 0,
            (second * 1_000_000 >= letters * mixed_min_ppm),
        )
        .otherwise(F.lit(False))
        .alias("mixed"),
    )


def script_mix_sql(
    docs_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    mixed_min_ppm: int = 50_000,
) -> str:
    return f"""
    WITH base AS (
      SELECT {id_col},
             CAST(length({text_col}) AS BIGINT) AS n_chars,
             CAST(length(regexp_replace({text_col}, '[^A-Za-z]', '', 'g'))
                  AS BIGINT) AS n_latin,
             CAST(length(regexp_replace({text_col}, '[^\\x{{4E00}}-\\x{{9FFF}}]', '', 'g'))
                  AS BIGINT) AS n_cjk,
             CAST(length(regexp_replace({text_col}, '[^\\x{{0400}}-\\x{{04FF}}]', '', 'g'))
                  AS BIGINT) AS n_cyr,
             CAST(length(regexp_replace({text_col}, '[^0-9]', '', 'g'))
                  AS BIGINT) AS n_digit
      FROM ({docs_sql})
    )
    SELECT {id_col}, n_chars, n_latin, n_cjk, n_cyr, n_digit,
           CASE WHEN n_latin + n_cjk + n_cyr > 0 THEN
             CASE WHEN n_latin >= n_cjk AND n_latin >= n_cyr THEN 'latin'
                  WHEN n_cjk >= n_cyr THEN 'cjk'
                  ELSE 'cyrillic' END
           END AS dominant_script,
           CASE WHEN n_latin + n_cjk + n_cyr > 0 THEN
             (n_latin + n_cjk + n_cyr - GREATEST(n_latin, n_cjk, n_cyr))
               * 1000000
               >= (n_latin + n_cjk + n_cyr) * {mixed_min_ppm}
           ELSE FALSE END AS mixed
    FROM base
    """


def compression_ratio(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """zlib compression ratio per document — the classic cheap
    repetition/boilerplate detector (Gopher/FineWeb-style): highly
    compressible text (ratio -> high) is usually template spam or
    repeated blocks; barely compressible "text" is often minified
    code, base64, or binary junk.  Both tails get gated.

    NO SQL ORACLE by documented design: DuckDB has no zlib surface —
    correctness is pinned by a pure-Python zlib equivalence test
    instead (same algorithm, same level => byte-identical output
    length).  ``ratio_ppm = 1e6 * n_raw div n_compressed`` — integer.

    Arrow-batched pandas UDF over ``mapInPandas`` (the multimodal
    decode pattern): compression is CPU-local per row, so the plan is
    the scan and 100 TB parallelism is the file split count.
    """
    import pyspark.sql.types as T

    out_schema = T.StructType(
        [
            T.StructField("__id", T.LongType()),
            T.StructField("n_raw", T.LongType()),
            T.StructField("n_compressed", T.LongType()),
            T.StructField("ratio_ppm", T.LongType()),
        ]
    )

    def fn(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = pdf["__text"].astype(str)
            n_raw = raw.str.len().astype("int64")
            n_comp = raw.map(
                lambda s: len(zlib.compress(s.encode("utf-8"), level))
            ).astype("int64")
            yield pd.DataFrame(
                {
                    "__id": pdf["__id"].astype("int64"),
                    "n_raw": n_raw,
                    "n_compressed": n_comp,
                    "ratio_ppm": (1_000_000 * n_raw) // n_comp,
                }
            )

    return (
        docs.select(
            F.col(id_col).cast("long").alias("__id"),
            F.col(text_col).alias("__text"),
        )
        .mapInPandas(fn, schema=out_schema)
        .withColumnRenamed("__id", id_col)
    )


def kneser_ney_bigram(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 50,
) -> DataFrame:
    """Interpolated Kneser-Ney bigram language model (Kneser & Ney
    1995; Chen & Goodman 1999 — the smoothing behind KenLM, whose
    perplexity scores drive CCNet-style corpus filtering): for the
    top-``k`` bigrams by count, the absolute-discounted conditional
    probability

        P_KN(w2|w1) = max(c(w1,w2) - D, 0) / c(w1)
                      + (D * N1+(w1,.) / c(w1)) * N1+(.,w2) / N1+(.,.)

    with the standard D = 0.75.  Exact integer form (repo-wide no-log,
    no-float-sum rule): D = 3/4 exactly, so every term scales by 4 and
    the ppm result is

        p_kn_ppm = (4*c12 - 3) * 1e6 DIV (4*c1)
                 + (3 * n1fw * ((n1bw * 1e6) DIV n1t)) DIV (4*c1)

    — one nested-div order, mirrored verbatim in the DuckDB oracle, so
    both engines agree bit-for-bit.  (``n1bw * 1e6 DIV n1t <= 1e6``
    bounds the second numerator by ``3e6 * n1fw``; no overflow at any
    realistic vocabulary.)

    Scale shape: ONE corpus pass — bigram explode into a map-side-
    combined (w1, w2) count (the only corpus-sized shuffle).  All the
    KN statistics are derived from that vocabulary-bounded frame:
    c1 / N1+(w1,.) ride a single window over w1, N1+(.,w2) one window
    over w2, and the type total N1+(.,.) attaches as a SINGLE-ROW
    broadcast (the allowlisted ledger pattern).  Top-k is
    TakeOrdered — no global sort.

    Returns ``(w1, w2, n, c1, p_kn_ppm)`` — all BIGINT but the words.
    """
    ws = docs.select(F.split(F.col(text_col), " ").alias("__ws"))
    idx = F.when(
        F.size("__ws") >= 2, F.sequence(F.lit(1), F.size("__ws") - 1)
    ).otherwise(F.array().cast("array<int>"))
    pairs = ws.select(
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    F.element_at(F.col("__ws"), i).alias("w1"),
                    F.element_at(F.col("__ws"), i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    # Checkpoint the vocabulary-bounded count table: the window stats
    # and the type total BOTH derive from it, and without
    # materialization the n1t branch re-executes the corpus explode
    # (a second full scan for a COUNT(*) over the vocab frame).
    counts = checkpoint(
        pairs.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w1win = Window.partitionBy("w1")
    w2win = Window.partitionBy("w2")
    stats = counts.select(
        "w1",
        "w2",
        "n",
        F.sum("n").over(w1win).alias("c1"),
        F.count(F.lit(1)).over(w1win).alias("n1fw"),
        F.count(F.lit(1)).over(w2win).alias("n1bw"),
    )
    n1t = counts.groupBy().agg(F.count(F.lit(1)).alias("n1t"))
    return (
        stats.crossJoin(F.broadcast(n1t))
        .select(
            "w1",
            "w2",
            F.col("n").cast("bigint").alias("n"),
            F.col("c1").cast("bigint").alias("c1"),
            F.expr(
                "(4 * n - 3) * 1000000 DIV (4 * c1)"
                " + (3 * n1fw * ((n1bw * 1000000) DIV n1t)) DIV (4 * c1)"
            ).cast("bigint").alias("p_kn_ppm"),
        )
        .orderBy(F.desc("n"), "w1", "w2")
        .limit(k)
    )


def kneser_ney_bigram_sql(docs_sql: str, text_col: str, k: int = 50) -> str:
    """DuckDB mirror — identical discount, window stats, and nested
    integer-div order."""
    return f"""
    WITH pairs AS (
      SELECT a[i] AS w1, a[i + 1] AS w2
      FROM (SELECT string_split({text_col}, ' ') AS a FROM ({docs_sql})),
           UNNEST(range(1, len(a))) AS t(i)
    ),
    counts AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
      FROM pairs GROUP BY w1, w2
    ),
    stats AS (
      SELECT w1, w2, n,
             CAST(SUM(n) OVER (PARTITION BY w1) AS BIGINT) AS c1,
             CAST(COUNT(*) OVER (PARTITION BY w1) AS BIGINT) AS n1fw,
             CAST(COUNT(*) OVER (PARTITION BY w2) AS BIGINT) AS n1bw
      FROM counts
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1t FROM counts)
    SELECT w1, w2, n, c1,
           CAST(
             (4 * n - 3) * 1000000 // (4 * c1)
             + (3 * n1fw * ((n1bw * 1000000) // n1t)) // (4 * c1)
           AS BIGINT) AS p_kn_ppm
    FROM stats, tot
    ORDER BY n DESC, w1, w2
    LIMIT {k}
    """


def quality_linear_score(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 4096,
    threshold: int = 0,
) -> DataFrame:
    """Linear quality-classifier INFERENCE at corpus scale — the
    fastText-style hashed-bag-of-words scoring pass every production
    quality filter runs (GPT-3/LLaMA-style "looks like the reference
    corpus" gates): score(doc) = sum over token occurrences of
    w[hash(token) % B], length-normalized, thresholded to a keep flag.

    The model here is a DETERMINISTIC stand-in (weight = md5-derived
    integer in [-1000, 1000] per bucket) so the query is self-contained
    and oracle-checkable; a real deployment overwrites the ``weights``
    frame with its trained vector — the plan is identical because the
    model enters as DATA (a B-row broadcast table), not as code.  That
    is the point being tested: inference is one explode + one broadcast
    hash join + one partial-agg sum — no UDF, no model file on
    executors, whole-stage codegen end to end.

    Returns ``(id, n_tokens, score_milli, quality_pass)`` — BIGINT;
    ``score_milli`` is the exact integer ``1000 * raw DIV n_tokens``
    (signed integer division truncates toward zero IDENTICALLY in
    Spark DIV and DuckDB // — both engines' integer div is
    truncating, so the mirror holds for negative sums too).
    """
    from cosmos_xenna_spark.functions import md5_long63

    spark = docs.sparkSession
    weights = spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        (
            F.pmod(
                md5_long63(F.concat(F.lit("w:"), F.col("id").cast("string"))),
                F.lit(2001),
            )
            - 1000
        ).cast("bigint").alias("w"),
    )
    toks = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).withColumn("bucket", F.pmod(md5_long63(F.col("tok")), F.lit(n_buckets)))
    return (
        toks.join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("w").alias("raw"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.expr("1000 * raw DIV n_tokens").cast("bigint").alias("score_milli"),
            F.expr(f"CAST(1000 * raw DIV n_tokens >= {threshold} AS BIGINT)").alias(
                "quality_pass"
            ),
        )
    )


def quality_linear_score_sql(
    docs_sql: str,
    id_col: str,
    text_col: str,
    n_buckets: int = 4096,
    threshold: int = 0,
) -> str:
    """DuckDB mirror — identical hash weights, bucketing, and integer
    div (both engines truncate toward zero)."""
    from cosmos_xenna_spark.functions import md5_long63_sql

    wh = md5_long63_sql("CAST(b AS STRING)", prefix="w:")
    th = md5_long63_sql("tok")
    return f"""
    WITH weights AS (
      SELECT b AS bucket, CAST({wh} % 2001 - 1000 AS BIGINT) AS w
      FROM (SELECT UNNEST(range(0, {n_buckets})) AS b)
    ),
    toks AS (
      SELECT {id_col} AS id, {th} % {n_buckets} AS bucket
      FROM (
        SELECT {id_col}, UNNEST(string_split({text_col}, ' ')) AS tok
        FROM ({docs_sql})
      )
    ),
    agg AS (
      SELECT t.id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(w.w) AS BIGINT) AS raw
      FROM toks t JOIN weights w USING (bucket)
      GROUP BY t.id
    )
    SELECT id AS {id_col}, n_tokens,
           CAST(1000 * raw // n_tokens AS BIGINT) AS score_milli,
           CAST(1000 * raw // n_tokens >= {threshold} AS BIGINT) AS quality_pass
    FROM agg
    """


def doc_surprisal_rank(
    docs: DataFrame,
    ref: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document surprisal under a reference bigram LM — the full
    CCNet/KenLM perplexity-filter SHAPE (train reference model ->
    score every doc -> rank), with the repo's integer-exact stand-in
    for log probability: each bigram contributes
    ``20 - flog2(p_ppm + 1)`` "milli-bit" surprisal units, where
    ``p_ppm = c(w1,w2) * 1e6 div c(w1)`` is the reference MLE in ppm
    and ``flog2(x) = length(bin(x)) - 1`` (bit-identical cross-engine;
    20 = flog2(1e6 + 1) caps the scale so in-model bigrams score ~0
    and unseen ones score the maximum).  Mean surprisal per bigram is
    the ranking key — high = far from the reference distribution, the
    CCNet "tail" bucket.

    Scale shape (the lm_novelty contract, upgraded from a binary
    rare-or-not gate to a graded score): the reference model is a
    (bigram, p_ppm) RELATION — shuffle-joined, never broadcast (a
    web-scale bigram vocabulary is beyond broadcast size); doc
    bigrams LEFT-join it (unseen bigrams get p_ppm = 0), then one
    aggregation back on the doc id.  Row-local bigram expansion on
    both passes.

    Returns ``(id, n_bigrams, surprisal_sum, mean_surprisal_milli)``
    — all BIGINT; ``mean_surprisal_milli = 1000 * sum div n``.
    """

    def expand(df: DataFrame) -> DataFrame:
        ws = df.select(
            F.col(id_col).alias("id"), F.split(F.col(text_col), " ").alias("__ws")
        )
        idx = F.when(
            F.size("__ws") >= 2, F.sequence(F.lit(1), F.size("__ws") - 1)
        ).otherwise(F.array().cast("array<int>"))
        return ws.select(
            "id",
            F.explode(
                F.transform(
                    idx,
                    lambda i: F.struct(
                        F.element_at(F.col("__ws"), i).alias("w1"),
                        F.concat_ws(
                            " ",
                            F.element_at(F.col("__ws"), i),
                            F.element_at(F.col("__ws"), i + 1),
                        ).alias("bg"),
                    ),
                )
            ).alias("p"),
        ).select("id", "p.w1", "p.bg")
    ref_bg = expand(ref)
    model = (
        ref_bg.groupBy("w1", "bg")
        .agg(F.count(F.lit(1)).alias("c12"))
        .withColumn(
            "c1", F.sum("c12").over(Window.partitionBy("w1"))
        )
        .select("bg", F.expr("c12 * 1000000 DIV c1").alias("p_ppm"))
    )
    scored = (
        expand(docs)
        .join(model, "bg", "left")
        .select(
            "id",
            F.expr(
                "20 - (length(bin(COALESCE(p_ppm, 0) + 1)) - 1)"
            ).alias("surp"),
        )
    )
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("surp").alias("surprisal_sum"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.col("surprisal_sum").cast("bigint").alias("surprisal_sum"),
            F.expr("1000 * surprisal_sum DIV n_bigrams")
            .cast("bigint")
            .alias("mean_surprisal_milli"),
        )
    )


def doc_surprisal_rank_sql(
    docs_sql: str,
    ref_sql: str,
    id_col: str,
    text_col: str,
) -> str:
    """DuckDB mirror — identical MLE ppm, flog2 cap, and div order."""

    def expand(src: str) -> str:
        return f"""
        SELECT {id_col} AS id, a[i] AS w1, a[i] || ' ' || a[i + 1] AS bg
        FROM (SELECT {id_col}, string_split({text_col}, ' ') AS a FROM ({src})),
             UNNEST(range(1, len(a))) AS t(i)
        """

    return f"""
    WITH doc_bg AS ({expand(docs_sql)}),
    ref_bg AS ({expand(ref_sql)}),
    model AS (
      SELECT bg, c12 * 1000000 // c1 AS p_ppm FROM (
        SELECT w1, bg, COUNT(*) AS c12,
               SUM(COUNT(*)) OVER (PARTITION BY w1) AS c1
        FROM ref_bg GROUP BY w1, bg
      )
    ),
    scored AS (
      SELECT d.id,
             20 - (length(bin(COALESCE(m.p_ppm, 0) + 1)) - 1) AS surp
      FROM doc_bg d LEFT JOIN model m USING (bg)
    )
    SELECT id AS {id_col},
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(surp) AS BIGINT) AS surprisal_sum,
           CAST(1000 * SUM(surp) // COUNT(*) AS BIGINT) AS mean_surprisal_milli
    FROM scored GROUP BY id
    """


def classifier_calibration(
    scored: DataFrame,
    lo: int,
    hi: int,
    n_bins: int = 10,
    id_col: str = "doc_id",
    score_col: str = "score_milli",
    label_col: str = "label",
) -> DataFrame:
    """Calibration-bin profile of a scored corpus (the reliability
    diagram / ECE input, computed as data): rows bin by FIXED-WIDTH
    score bands over the declared ``[lo, hi)`` range (clamped at the
    edges), and each bin reports size, exact integer mean score,
    positive rate, mean linearly-mapped confidence, and the
    |confidence - accuracy| gap — all ppm, all integer division, so
    the profile is engine-exact.  ``sum(n * gap_ppm) / sum(n)`` is
    ECE.  One aggregation pass on the 10-key bin column.
    """
    span = int(hi) - int(lo)
    bin_expr = (
        f"LEAST({n_bins - 1}, GREATEST(0,"
        f" CAST(({score_col} - {lo}) * {n_bins} AS BIGINT) DIV {span}))"
    )
    conf = (
        f"LEAST(1000000, GREATEST(0,"
        f" CAST(({score_col} - {lo}) * 1000000 AS BIGINT) DIV {span}))"
    )
    return (
        scored.select(
            F.expr(bin_expr).cast("bigint").alias("bin"),
            F.col(score_col).cast("bigint").alias("__s"),
            F.expr(conf).cast("bigint").alias("__conf"),
            F.col(label_col).cast("bigint").alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.expr("SUM(__s) DIV COUNT(*)").cast("bigint").alias("mean_score_milli"),
            F.expr("1000000 * SUM(__y) DIV COUNT(*)").cast("bigint").alias("pos_ppm"),
            F.expr("SUM(__conf) DIV COUNT(*)").cast("bigint").alias("conf_ppm"),
            F.expr(
                "ABS(SUM(__conf) DIV COUNT(*) - 1000000 * SUM(__y) DIV COUNT(*))"
            ).cast("bigint").alias("gap_ppm"),
        )
    )


def classifier_calibration_sql(
    scored_sql: str,
    lo: int,
    hi: int,
    n_bins: int = 10,
    score_col: str = "score_milli",
    label_col: str = "label",
) -> str:
    """DuckDB mirror — identical bin clamp, confidence map, integer
    divisions (both engines' integer division truncates)."""
    span = int(hi) - int(lo)
    bin_expr = (
        f"LEAST({n_bins - 1}, GREATEST(0,"
        f" CAST(({score_col} - {lo}) * {n_bins} AS BIGINT) // {span}))"
    )
    conf = (
        f"LEAST(1000000, GREATEST(0,"
        f" CAST(({score_col} - {lo}) * 1000000 AS BIGINT) // {span}))"
    )
    return f"""
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(s) // COUNT(*) AS BIGINT) AS mean_score_milli,
           CAST(1000000 * SUM(y) // COUNT(*) AS BIGINT) AS pos_ppm,
           CAST(SUM(conf) // COUNT(*) AS BIGINT) AS conf_ppm,
           CAST(ABS(SUM(conf) // COUNT(*) - 1000000 * SUM(y) // COUNT(*))
                AS BIGINT) AS gap_ppm
    FROM (
      SELECT {bin_expr} AS bin, CAST({score_col} AS BIGINT) AS s,
             {conf} AS conf, CAST({label_col} AS BIGINT) AS y
      FROM ({scored_sql})
    ) GROUP BY bin
    """


def pr_curve(
    scored: DataFrame,
    thresholds: list[int],
    score_col: str = "score_milli",
    label_col: str = "label",
) -> DataFrame:
    """Precision/recall/F1 sweep over literal score thresholds — the
    operating-point picker for a quality gate, computed in ONE corpus
    pass: each row fans out to the |thresholds| cut points ROW-LOCALLY
    (explode of a literal array — no threshold join, no re-scan per
    point), then one aggregation on the threshold key.  Exact ppm
    integer ratios with the 0-denominator rows reporting 0.
    """
    ts = [int(t) for t in thresholds]
    fan = scored.select(
        F.col(score_col).cast("bigint").alias("__s"),
        F.col(label_col).cast("bigint").alias("__y"),
        F.explode(F.array(*[F.lit(t).cast("bigint") for t in ts])).alias("thr"),
    )
    return (
        fan.groupBy("thr")
        .agg(
            F.sum(F.expr("CAST(__s >= thr AND __y = 1 AS BIGINT)"))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.expr("CAST(__s >= thr AND __y = 0 AS BIGINT)"))
            .cast("bigint")
            .alias("fp"),
            F.sum(F.expr("CAST(__s < thr AND __y = 1 AS BIGINT)"))
            .cast("bigint")
            .alias("fn"),
        )
        .select(
            "thr",
            "tp",
            "fp",
            "fn",
            F.coalesce(F.expr("1000000 * tp DIV NULLIF(tp + fp, 0)"), F.lit(0))
            .cast("bigint")
            .alias("precision_ppm"),
            F.coalesce(F.expr("1000000 * tp DIV NULLIF(tp + fn, 0)"), F.lit(0))
            .cast("bigint")
            .alias("recall_ppm"),
            F.coalesce(F.expr("2000000 * tp DIV NULLIF(2 * tp + fp + fn, 0)"), F.lit(0))
            .cast("bigint")
            .alias("f1_ppm"),
        )
    )


def pr_curve_sql(
    scored_sql: str,
    thresholds: list[int],
    score_col: str = "score_milli",
    label_col: str = "label",
) -> str:
    """DuckDB mirror — identical fan-out and ratios.  0-denominator
    integer division yields NULL in both engines; COALESCE to 0."""
    ts = ", ".join(str(int(t)) for t in thresholds)
    return f"""
    SELECT CAST(thr AS BIGINT) AS thr, tp, fp, fn,
           CAST(COALESCE(1000000 * tp // NULLIF(tp + fp, 0), 0) AS BIGINT)
             AS precision_ppm,
           CAST(COALESCE(1000000 * tp // NULLIF(tp + fn, 0), 0) AS BIGINT)
             AS recall_ppm,
           CAST(COALESCE(2000000 * tp // NULLIF(2 * tp + fp + fn, 0), 0) AS BIGINT)
             AS f1_ppm
    FROM (
      SELECT thr,
             CAST(SUM(CASE WHEN s >= thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN s >= thr AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN s < thr AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn
      FROM (
        SELECT CAST({score_col} AS BIGINT) AS s, CAST({label_col} AS BIGINT) AS y,
               UNNEST([{ts}]) AS thr
        FROM ({scored_sql})
      ) GROUP BY thr
    )
    """


def roc_auc(
    scored: DataFrame,
    score_col: str = "score_milli",
    label_col: str = "label",
) -> DataFrame:
    """Exact ROC-AUC as the Mann-Whitney rank statistic, integer end to
    end: ``AUC = (2*sum(midranks of positives) - npos*(npos+1)) /
    (2*npos*nneg)``, with tie MIDRANKS handled exactly by doubling —
    for a score value with ``cnt`` rows starting after ``cum_before``
    predecessors, ``2*midrank = 2*cum_before + cnt + 1``.

    Shape: one aggregation to the score-VALUE frame (bounded by the
    score domain, not the corpus), a DISTRIBUTED cumulative count over
    it (quantile-bucketed ``global_cumsum`` — no single-partition
    window), and a single-row finish.  Completes the classifier-eval
    family (calibration bins, PR sweep) with the threshold-free
    ranking metric.

    Scale note (the ``t_closeness`` convention): the ppm numerator
    ``1000000 * (__mid2 - n_pos*(n_pos+1))`` ~ ``2e6 * n_pos * n_neg``
    overflows BIGINT once ``n_pos * n_neg`` exceeds ~4.6e12 (~4-5M
    balanced scored rows). With ANSI mode on this is a loud arithmetic
    error, not silent corruption; past that line, pre-aggregate per
    stratum or widen the finish to DECIMAL(38,0).
    """
    from cosmos_xenna_spark.operators.ranking import global_cumsum

    # global_cumsum runs approxQuantile + a count pass + the main
    # job: checkpoint the tiny value frame so the corpus-sized
    # scoring subplan executes ONCE, not once per internal pass
    vals = checkpoint(
        scored.groupBy(F.col(score_col).alias("__s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__cnt"),
            F.sum(F.col(label_col).cast("bigint")).cast("bigint").alias("__pos"),
        )
    )
    vals = global_cumsum(vals, "__cnt", ["__s"], out_col="__cum")
    out = vals.agg(
        F.sum("__pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("__cnt") - F.col("__pos")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("__pos")
            * (2 * (F.col("__cum") - F.col("__cnt")) + F.col("__cnt") + 1)
        )
        .cast("bigint")
        .alias("__mid2"),
    )
    return out.select(
        "n_pos",
        "n_neg",
        F.expr(
            "CAST(1000000 * (__mid2 - n_pos * (n_pos + 1))"
            " DIV NULLIF(2 * n_pos * n_neg, 0) AS BIGINT)"
        ).alias("auc_ppm"),
    )


def roc_auc_sql(
    scored_sql: str,
    score_col: str = "score_milli",
    label_col: str = "label",
) -> str:
    """DuckDB mirror — identical midrank doubling and finish (the
    oracle may use the plain ORDER BY window; it certifies the
    distributed cumsum machinery)."""
    return f"""
    WITH vals AS (
      SELECT {score_col} AS s, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST({label_col} AS BIGINT)) AS BIGINT) AS pos
      FROM ({scored_sql}) GROUP BY {score_col}
    ),
    c AS (
      SELECT *, CAST(SUM(cnt) OVER (ORDER BY s) AS BIGINT) AS cum FROM vals
    )
    SELECT n_pos, n_neg,
           CAST(1000000 * (mid2 - n_pos * (n_pos + 1))
                // NULLIF(2 * n_pos * n_neg, 0) AS BIGINT) AS auc_ppm
    FROM (
      SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM(cnt - pos) AS BIGINT) AS n_neg,
             CAST(SUM(pos * (2 * (cum - cnt) + cnt + 1)) AS BIGINT) AS mid2
      FROM c
    )
    """


def gains_table(
    scored: DataFrame,
    n_total: int,
    n_tiles: int = 10,
    score_col: str = "score_milli",
    label_col: str = "label",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cumulative gains / lift table: rank the corpus by score
    descending, split into ``n_tiles`` equal-population tiles via the
    DISTRIBUTED global row number (quantile buckets + offsets, never a
    single-partition sort), and per tile report size, positives, the
    cumulative capture rate and the lift — the "top decile captures
    X% of positives" readout that sizes a review/labeling budget.
    ``n_total`` is the corpus row count (a driver literal, the
    bounded-scalar pattern).  All ppm ratios exact integers; the final
    cumulative pass runs on the ``n_tiles``-row frame.

    Scale note (the ``t_closeness`` convention): the lift numerator
    ``1000000 * cum_pos * n_total`` overflows BIGINT once
    ``cum_pos * n_total`` exceeds ~9.2e12 (~3M positives in a 3M-row
    corpus, or earlier when skewed) — loud under ANSI mode, not
    silent; widen the n_tiles-row finish to DECIMAL past that line.
    """
    from cosmos_xenna_spark.operators.ranking import global_row_number

    keyed = checkpoint(scored.select(
        (-F.col(score_col).cast("bigint")).alias("__negs"),
        F.col(id_col).alias("__id"),
        F.col(label_col).cast("bigint").alias("__y"),
    ))
    # ^ global_row_number makes three passes (quantiles, bucket counts,
    # rank job); the checkpoint pins the 3-column projection so the
    # upstream scoring explode runs once
    ranked = global_row_number(keyed, ["__negs", "__id"], out_col="__rn")
    tiles = (
        ranked.select(
            F.expr(f"1 + {n_tiles} * (__rn - 1) DIV {int(n_total)}").alias("tile"),
            "__y",
        )
        .groupBy("tile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__y").cast("bigint").alias("n_pos"),
        )
    )
    w = Window.orderBy(F.asc("tile")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wt = Window.orderBy(F.asc("tile")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return tiles.select(
        F.col("tile").cast("bigint").alias("tile"),
        "n",
        "n_pos",
        F.expr(
            "CAST(1000000 * SUM(n_pos) OVER (ORDER BY tile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
            " DIV NULLIF(SUM(n_pos) OVER (ORDER BY tile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 0)"
            " AS BIGINT)"
        ).alias("cum_capture_ppm"),
        F.expr(
            f"CAST(1000000 * n_pos * {int(n_total)}"
            " DIV NULLIF(n * SUM(n_pos) OVER (ORDER BY tile"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING), 0)"
            " AS BIGINT)"
        ).alias("lift_ppm"),
    )


def gains_table_sql(
    scored_sql: str,
    n_total,
    n_tiles: int = 10,
    score_col: str = "score_milli",
    label_col: str = "label",
    id_col: str = "doc_id",
) -> str:
    """DuckDB mirror — identical rank arithmetic and ratios.
    ``n_total`` may be an int or a scalar-subquery string (the
    scale-relative-threshold pattern), e.g.
    ``"(SELECT COUNT(*) FROM documents)"``."""
    return f"""
    WITH ranked AS (
      SELECT CAST({label_col} AS BIGINT) AS y,
             row_number() OVER (ORDER BY -CAST({score_col} AS BIGINT),
                                {id_col}) AS rn
      FROM ({scored_sql})
    ),
    tiles AS (
      SELECT 1 + {n_tiles} * (rn - 1) // {n_total} AS tile,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM ranked GROUP BY 1
    )
    SELECT CAST(tile AS BIGINT) AS tile, n, n_pos,
           CAST(1000000 * SUM(n_pos) OVER (ORDER BY tile)
                // NULLIF(SUM(n_pos) OVER (), 0) AS BIGINT)
             AS cum_capture_ppm,
           CAST(1000000 * n_pos * {n_total}
                // NULLIF(n * SUM(n_pos) OVER (), 0) AS BIGINT) AS lift_ppm
    FROM tiles
    """


def qini_table(
    scored: DataFrame,
    n_total: int,
    n_tiles: int = 10,
    score_col: str = "score",
    variant_col: str = "variant",
    convert_col: str = "converted",
    id_col: str = "unit_id",
) -> DataFrame:
    """Qini / uplift decile table: rank units by a TARGETING score
    descending, split into ``n_tiles`` equal-population tiles via the
    distributed global row number, and per tile report treatment/
    control sizes and conversions plus the CUMULATIVE Qini value

        qini(t) = cum_conv_T(t) - cum_conv_C(t) * cum_n_T(t) / cum_n_C(t)

    in exact milli-conversions (one integer truncation per tile) — the
    uplift-model evaluation readout ("targeting the top decile buys N
    incremental conversions") that ``gains_table`` cannot give because
    it has no control arm. ``n_total`` is a driver literal (bounded-
    scalar pattern; scalar subquery in the oracle).

    Scale shape: the gains_table machinery — eagerly checkpointed
    4-column projection, quantile-bucketed global row number (never a
    single-partition sort), one tile aggregation, cumulative windows
    ONLY on the n_tiles-row frame (allowlisted oracle shape).
    """
    from cosmos_xenna_spark.operators.ranking import global_row_number

    keyed = checkpoint(scored.select(
        (-F.col(score_col).cast("bigint")).alias("__negs"),
        F.col(id_col).alias("__id"),
        F.col(variant_col).cast("bigint").alias("__v"),
        F.col(convert_col).cast("bigint").alias("__c"),
    ))
    ranked = global_row_number(keyed, ["__negs", "__id"], out_col="__rn")
    tiles = (
        ranked.select(
            F.expr(f"1 + {n_tiles} * (__rn - 1) DIV {int(n_total)}").alias("tile"),
            "__v",
            "__c",
        )
        .groupBy("tile")
        .agg(
            F.sum("__v").cast("bigint").alias("n_t"),
            F.sum(1 - F.col("__v")).cast("bigint").alias("n_c"),
            F.sum(F.col("__v") * F.col("__c")).cast("bigint").alias("conv_t"),
            F.sum((1 - F.col("__v")) * F.col("__c"))
            .cast("bigint")
            .alias("conv_c"),
        )
    )
    cum = "SUM({c}) OVER (ORDER BY tile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    return tiles.select(
        F.col("tile").cast("bigint").alias("tile"),
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.expr(
            f"CAST((1000 * ({cum.format(c='conv_t')} * {cum.format(c='n_c')}"
            f" - {cum.format(c='conv_c')} * {cum.format(c='n_t')}))"
            f" DIV NULLIF({cum.format(c='n_c')}, 0) AS BIGINT)"
        ).alias("cum_qini_milli"),
    )


def qini_table_sql(
    scored_sql: str,
    n_total,
    n_tiles: int = 10,
    score_col: str = "score",
    variant_col: str = "variant",
    convert_col: str = "converted",
    id_col: str = "unit_id",
) -> str:
    cum = (
        "SUM({c}) OVER (ORDER BY tile"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    return f"""
    WITH ranked AS (
      SELECT {variant_col} AS v, {convert_col} AS c,
             row_number() OVER (ORDER BY -CAST({score_col} AS BIGINT),
                                {id_col}) AS rn
      FROM ({scored_sql})
    ),
    tiles AS (
      SELECT CAST(1 + {n_tiles} * (rn - 1) // ({n_total}) AS BIGINT) AS tile,
             CAST(SUM(v) AS BIGINT) AS n_t,
             CAST(SUM(1 - v) AS BIGINT) AS n_c,
             CAST(SUM(v * c) AS BIGINT) AS conv_t,
             CAST(SUM((1 - v) * c) AS BIGINT) AS conv_c
      FROM ranked GROUP BY 1
    )
    SELECT tile, n_t, n_c, conv_t, conv_c,
           CAST((1000 * ({cum.format(c='conv_t')} * {cum.format(c='n_c')}
                 - {cum.format(c='conv_c')} * {cum.format(c='n_t')}))
                // NULLIF({cum.format(c='n_c')}, 0) AS BIGINT)
             AS cum_qini_milli
    FROM tiles
    """


def conformal_split(
    scored: DataFrame,
    alpha_ppm: int = 100_000,
    cal_mod: int = 3,
    id_col: str = "doc_id",
    score_col: str = "score_milli",
    label_col: str = "label",
) -> DataFrame:
    """Split-conformal prediction audit (class-conditional / Mondrian):
    the distribution-free coverage machinery (Vovk et al.; Angelopoulos
    & Bates 2021 survey) computed as data, engine-exact.

    The corpus splits by hash parity: rows with ``pmod(id, cal_mod) ==
    0`` calibrate, the rest evaluate.  Per true class ``c`` the
    nonconformity is integer (``-score`` for class 1, ``score`` for
    class 0), the calibration threshold is the ``k``-th smallest
    nonconformity with ``k = ceil((n_cal+1) * (1-alpha))`` (exact ppm
    integer ceiling — the finite-sample-correct split-conformal rank),
    and the eval rows report achieved coverage (true class inside the
    prediction set) plus the singleton rate (set exactly ``{c}`` — the
    efficiency metric).  ``k > n_cal`` (tiny calibration classes)
    yields a NULL threshold meaning "always contain", the conformal
    convention, handled identically in both engines.

    Scale shape: one pass splits and scores (eagerly checkpointed —
    it feeds the calibration frame AND the eval pass); the calibration
    side aggregates to the bounded score-VALUE frame per class (scores
    are bucketed by construction), the rank-selection window runs on
    that bounded frame only (partitioned by class — never a corpus
    sort); thresholds are a 2-row broadcast into a single eval
    aggregation.  No floats anywhere.
    """
    base = checkpoint(scored.select(
        F.col(id_col).cast("bigint").alias("__id"),
        F.col(score_col).cast("bigint").alias("__s"),
        F.col(label_col).cast("bigint").alias("__y"),
        (F.pmod(F.col(id_col).cast("bigint"), F.lit(int(cal_mod))) == 0).alias(
            "__cal"
        ),
    ))

    nc = "CASE WHEN __y = 1 THEN -__s ELSE __s END"
    cal = base.filter(F.col("__cal")).select(
        "__y", F.expr(nc).cast("bigint").alias("nc")
    )
    vf = cal.groupBy("__y", "nc").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    w = (
        Window.partitionBy("__y")
        .orderBy("nc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # the cum frame is bounded (distinct score values per class) and
    # feeds BOTH the per-class total (max cum == n_cal — the corpus is
    # never re-aggregated) and the rank selection, so checkpoint it.
    cum = checkpoint(vf.withColumn("cum", F.sum("cnt").over(w)))
    kframe = (
        cum.groupBy("__y")
        .agg(F.max("cum").cast("bigint").alias("n_cal"))
        .withColumn(
            "k_cal",
            F.expr(
                f"((n_cal + 1) * {1_000_000 - int(alpha_ppm)} + 999999)"
                " DIV 1000000"
            ).cast("bigint"),
        )
    )
    thr = (
        cum.join(F.broadcast(kframe), "__y")
        .filter(F.col("cum") >= F.col("k_cal"))
        .groupBy("__y")
        .agg(F.min("nc").cast("bigint").alias("threshold"))
    )
    classes = kframe.join(F.broadcast(thr), "__y", "left")

    onerow = classes.groupBy().agg(
        F.max(F.when(F.col("__y") == 0, F.col("threshold"))).alias("t0"),
        F.max(F.when(F.col("__y") == 1, F.col("threshold"))).alias("t1"),
        # distinguish "threshold unattainable -> always contain" (class
        # calibrated, k > n_cal) from "class absent from calibration"
        # (also always-contain); both flags collapse to the same rule,
        # so only the thresholds cross this boundary.
    )
    ev = base.filter(~F.col("__cal")).select("__y", "__s")
    per = ev.crossJoin(F.broadcast(onerow)).select(
        "__y",
        F.expr("CASE WHEN t0 IS NULL OR __s <= t0 THEN 1 ELSE 0 END")
        .cast("bigint")
        .alias("in0"),
        F.expr("CASE WHEN t1 IS NULL OR -__s <= t1 THEN 1 ELSE 0 END")
        .cast("bigint")
        .alias("in1"),
    )
    agg = per.groupBy("__y").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval"),
        F.sum(F.expr("CASE WHEN __y = 1 THEN in1 ELSE in0 END"))
        .cast("bigint")
        .alias("covered"),
        F.sum(
            F.expr(
                "CASE WHEN __y = 1 THEN in1 * (1 - in0)"
                " ELSE in0 * (1 - in1) END"
            )
        )
        .cast("bigint")
        .alias("singleton"),
    )
    return (
        classes.join(F.broadcast(agg), "__y", "left")
        .select(
            F.col("__y").alias("label_class"),
            "n_cal",
            "k_cal",
            "threshold",
            F.coalesce(F.col("n_eval"), F.lit(0)).cast("bigint").alias("n_eval"),
            F.coalesce(F.col("covered"), F.lit(0)).cast("bigint").alias("covered"),
            F.expr(
                "CAST(1000000 * COALESCE(covered, 0) DIV NULLIF(n_eval, 0)"
                " AS BIGINT)"
            ).alias("coverage_ppm"),
            F.expr(
                "CAST(1000000 * COALESCE(singleton, 0) DIV NULLIF(n_eval, 0)"
                " AS BIGINT)"
            ).alias("singleton_ppm"),
        )
    )


def conformal_split_sql(
    scored_sql: str,
    alpha_ppm: int = 100_000,
    cal_mod: int = 3,
    id_col: str = "doc_id",
    score_col: str = "score_milli",
    label_col: str = "label",
) -> str:
    """DuckDB mirror — identical split parity, nonconformity signs,
    ceiling-rank arithmetic and NULL-threshold always-contain rule.
    Every division's operands are non-negative, so DuckDB's floor
    ``//`` and Spark's truncating ``DIV`` agree everywhere."""
    q = 1_000_000 - int(alpha_ppm)
    return f"""
    WITH base AS (
      SELECT CAST({id_col} AS BIGINT) AS id,
             CAST({score_col} AS BIGINT) AS s,
             CAST({label_col} AS BIGINT) AS y,
             ((CAST({id_col} AS BIGINT) % {int(cal_mod)}) + {int(cal_mod)})
               % {int(cal_mod)} = 0 AS is_cal
      FROM ({scored_sql})
    ),
    cal AS (
      SELECT y, CASE WHEN y = 1 THEN -s ELSE s END AS nc
      FROM base WHERE is_cal
    ),
    cum AS (
      SELECT y, nc, COUNT(*) AS cnt,
             SUM(COUNT(*)) OVER (PARTITION BY y ORDER BY nc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM cal GROUP BY y, nc
    ),
    kframe AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS n_cal,
             CAST(((COUNT(*) + 1) * {q} + 999999) // 1000000 AS BIGINT)
               AS k_cal
      FROM cal GROUP BY y
    ),
    classes AS (
      SELECT k.y, k.n_cal, k.k_cal, t.threshold
      FROM kframe k
      LEFT JOIN (SELECT c.y, CAST(MIN(c.nc) AS BIGINT) AS threshold
                 FROM cum c JOIN kframe k2 ON c.y = k2.y
                 WHERE c.cum >= k2.k_cal GROUP BY c.y) t
        ON k.y = t.y
    ),
    onerow AS (
      SELECT MAX(CASE WHEN y = 0 THEN threshold END) AS t0,
             MAX(CASE WHEN y = 1 THEN threshold END) AS t1
      FROM classes
    ),
    per AS (
      SELECT b.y,
             CASE WHEN o.t0 IS NULL OR b.s <= o.t0 THEN 1 ELSE 0 END AS in0,
             CASE WHEN o.t1 IS NULL OR -b.s <= o.t1 THEN 1 ELSE 0 END AS in1
      FROM base b CROSS JOIN onerow o
      WHERE NOT b.is_cal
    ),
    agg AS (
      SELECT y, CAST(COUNT(*) AS BIGINT) AS n_eval,
             CAST(SUM(CASE WHEN y = 1 THEN in1 ELSE in0 END) AS BIGINT)
               AS covered,
             CAST(SUM(CASE WHEN y = 1 THEN in1 * (1 - in0)
                           ELSE in0 * (1 - in1) END) AS BIGINT) AS singleton
      FROM per GROUP BY y
    )
    SELECT c.y AS label_class, c.n_cal, c.k_cal, c.threshold,
           CAST(COALESCE(a.n_eval, 0) AS BIGINT) AS n_eval,
           CAST(COALESCE(a.covered, 0) AS BIGINT) AS covered,
           CAST(1000000 * COALESCE(a.covered, 0) // NULLIF(a.n_eval, 0)
                AS BIGINT) AS coverage_ppm,
           CAST(1000000 * COALESCE(a.singleton, 0) // NULLIF(a.n_eval, 0)
                AS BIGINT) AS singleton_ppm
    FROM classes c LEFT JOIN agg a ON c.y = a.y
    """


def label_noise_matrix(
    scored: DataFrame,
    lo: int,
    hi: int,
    id_col: str = "doc_id",
    score_col: str = "score_milli",
    label_col: str = "label",
) -> DataFrame:
    """Confident-learning label-noise matrix (Northcutt et al. 2021,
    binary form, engine-exact): estimate which GIVEN labels are
    probably wrong by comparing each item's mapped model confidence
    against per-class mean-confidence thresholds.

    Confidence for class 1 is the clamped linear ppm map of the score
    over ``[lo, hi)`` (the calibration-bin map); class 0 is its
    complement.  The class-``j`` threshold ``t_j`` is the exact
    integer mean confidence over items GIVEN label ``j`` — the CL
    self-confidence cutoff.  An item is ASSIGNED the qualifying class
    (``conf_j >= t_j``) with the larger confidence (tie -> class 0,
    deterministic); qualifying for neither leaves assignment NULL.
    Off-diagonal (given != assigned) cells are the suspected noise.

    Scale shape: one scoring pass feeds the 2-row threshold agg and
    the assignment pass (eagerly checkpointed); thresholds broadcast
    as a single pivoted row; one final aggregation on the <= 6-key
    (given, assigned) frame.  All integer arithmetic.
    """
    span = int(hi) - int(lo)
    conf1 = (
        f"LEAST(1000000, GREATEST(0,"
        f" CAST(({score_col} - {lo}) * 1000000 AS BIGINT) DIV {span}))"
    )
    base = checkpoint(scored.select(
        F.col(label_col).cast("bigint").alias("given"),
        F.expr(conf1).cast("bigint").alias("c1"),
    ).withColumn("c0", F.lit(1_000_000) - F.col("c1")))

    thr = base.groupBy().agg(
        F.expr(
            "CAST(SUM(CASE WHEN given = 0 THEN c0 END)"
            " DIV NULLIF(SUM(CASE WHEN given = 0 THEN 1 END), 0) AS BIGINT)"
        ).alias("t0"),
        F.expr(
            "CAST(SUM(CASE WHEN given = 1 THEN c1 END)"
            " DIV NULLIF(SUM(CASE WHEN given = 1 THEN 1 END), 0) AS BIGINT)"
        ).alias("t1"),
    )
    assigned = base.crossJoin(F.broadcast(thr)).select(
        "given",
        F.expr(
            "CASE"
            " WHEN t1 IS NOT NULL AND c1 >= t1"
            "  AND t0 IS NOT NULL AND c0 >= t0"
            "  THEN CASE WHEN c1 > c0 THEN 1 ELSE 0 END"
            " WHEN t1 IS NOT NULL AND c1 >= t1 THEN 1"
            " WHEN t0 IS NOT NULL AND c0 >= t0 THEN 0"
            " END"
        )
        .cast("bigint")
        .alias("assigned"),
    )
    cells = assigned.groupBy("given", "assigned").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    totals = assigned.groupBy("given").agg(
        F.count(F.lit(1)).cast("bigint").alias("given_total")
    )
    return cells.join(totals, "given").select(
        "given",
        "assigned",
        "n",
        "given_total",
        F.expr("CAST(1000000 * n DIV given_total AS BIGINT)").alias("share_ppm"),
        F.expr(
            "CAST(CASE WHEN assigned IS NOT NULL AND assigned <> given"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("suspect"),
    )


def label_noise_matrix_sql(
    scored_sql: str,
    lo: int,
    hi: int,
    id_col: str = "doc_id",
    score_col: str = "score_milli",
    label_col: str = "label",
) -> str:
    """DuckDB mirror — identical confidence map, mean thresholds,
    qualify/argmax rule and tie-break; every division's operands are
    non-negative, so floor ``//`` and truncating ``DIV`` agree."""
    span = int(hi) - int(lo)
    conf1 = (
        f"LEAST(1000000, GREATEST(0,"
        f" CAST(({score_col} - {lo}) * 1000000 AS BIGINT) // {span}))"
    )
    return f"""
    WITH base AS (
      SELECT CAST({label_col} AS BIGINT) AS given,
             CAST({conf1} AS BIGINT) AS c1,
             1000000 - CAST({conf1} AS BIGINT) AS c0
      FROM ({scored_sql})
    ),
    thr AS (
      SELECT CAST(SUM(CASE WHEN given = 0 THEN c0 END)
               // NULLIF(SUM(CASE WHEN given = 0 THEN 1 END), 0) AS BIGINT)
               AS t0,
             CAST(SUM(CASE WHEN given = 1 THEN c1 END)
               // NULLIF(SUM(CASE WHEN given = 1 THEN 1 END), 0) AS BIGINT)
               AS t1
      FROM base
    ),
    assigned AS (
      SELECT b.given,
             CAST(CASE
               WHEN t.t1 IS NOT NULL AND b.c1 >= t.t1
                AND t.t0 IS NOT NULL AND b.c0 >= t.t0
                 THEN CASE WHEN b.c1 > b.c0 THEN 1 ELSE 0 END
               WHEN t.t1 IS NOT NULL AND b.c1 >= t.t1 THEN 1
               WHEN t.t0 IS NOT NULL AND b.c0 >= t.t0 THEN 0
             END AS BIGINT) AS assigned
      FROM base b CROSS JOIN thr t
    ),
    cells AS (
      SELECT given, assigned, CAST(COUNT(*) AS BIGINT) AS n
      FROM assigned GROUP BY given, assigned
    ),
    totals AS (
      SELECT given, CAST(COUNT(*) AS BIGINT) AS given_total
      FROM assigned GROUP BY given
    )
    SELECT c.given, c.assigned, c.n, t.given_total,
           CAST(1000000 * c.n // t.given_total AS BIGINT) AS share_ppm,
           CAST(CASE WHEN c.assigned IS NOT NULL AND c.assigned <> c.given
                THEN 1 ELSE 0 END AS BIGINT) AS suspect
    FROM cells c JOIN totals t ON c.given = t.given
    """


def isotonic_calibration(
    scored: DataFrame,
    lo: int,
    hi: int,
    n_bins: int = 512,
    score_col: str = "score_milli",
    label_col: str = "label",
) -> DataFrame:
    """Exact isotonic calibration (pool-adjacent-violators fit) of a
    scored binary corpus, computed DISTRIBUTED and engine-exact via
    the minimax characterization of L2 isotonic regression:

        iso(k) = max_{i<=k} min_{j>=k} mean(y over bins i..j)

    (Ayer et al. 1955; Robertson-Wright-Dykstra) — the closed form of
    what the sequential PAV stack computes, chosen here because every
    term is a rational of two integer prefix sums and the whole fit
    becomes windows over a BOUNDED frame.  Scores bin into ``n_bins``
    fixed-width bands (clamped, the calibration-bin map), so the
    corpus touches only ONE aggregation; the interval frame is
    B(B+1)/2 rows of the occupied-bin count, never corpus-sized.

    Means are compared and emitted as exact floor-scaled integers
    ``mean_q18 = (10^18 * pos) DIV cnt`` (DECIMAL(38) product, BIGINT
    quotient <= 10^18).  Floor is monotone, and min/max commute with
    monotone maps on finite sets, so the floored minimax IS the floor
    of the true minimax — no ordering ambiguity enters, and both
    engines agree bit-for-bit.  Output per occupied bin: size, raw
    positive rate (ppm) and the monotone calibrated probability
    ``iso_q18`` — the production calibrator PAV would give, as data.
    """
    span = int(hi) - int(lo)
    bin_expr = (
        f"LEAST({n_bins - 1}, GREATEST(0,"
        f" CAST(({score_col} - {lo}) * {n_bins} AS BIGINT) DIV {span}))"
    )
    bins = (
        scored.select(
            F.expr(bin_expr).cast("bigint").alias("bin"),
            F.col(label_col).cast("bigint").alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.sum("__y").cast("bigint").alias("pos"),
        )
    )
    w_ord = Window.orderBy("bin")
    prefix = checkpoint(bins.select(
        "bin",
        "cnt",
        "pos",
        F.row_number().over(w_ord).cast("bigint").alias("k"),
        F.sum("cnt").over(w_ord).cast("bigint").alias("ccnt"),
        F.sum("pos").over(w_ord).cast("bigint").alias("cpos"),
    ))  # bounded frame, feeds 3 consumers

    lo_side = prefix.select(
        F.col("k").alias("i"),
        (F.col("ccnt") - F.col("cnt")).alias("ccnt_lo"),
        (F.col("cpos") - F.col("pos")).alias("cpos_lo"),
    )
    hi_side = prefix.select(
        F.col("k").alias("j"), F.col("ccnt").alias("ccnt_hi"), F.col("cpos").alias("cpos_hi")
    )
    intervals = (
        lo_side.join(F.broadcast(hi_side), F.col("i") <= F.col("j"))
        .select(
            "i",
            "j",
            F.expr(
                "(CAST(cpos_hi - cpos_lo AS DECIMAL(19,0))"
                " * CAST(1000000000000000000 AS DECIMAL(19,0)))"
                " DIV (ccnt_hi - ccnt_lo)"
            )
            .cast("bigint")
            .alias("mean_q18"),
        )
    )
    # R(i,k) = min_{j>=k} mean(i..j): suffix min per anchor i
    w_sfx = (
        Window.partitionBy("i")
        .orderBy(F.col("j").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    suffix = intervals.select(
        "i", F.col("j").alias("k"), F.min("mean_q18").over(w_sfx).alias("r")
    )
    iso = suffix.groupBy("k").agg(F.max("r").cast("bigint").alias("iso_q18"))
    return prefix.join(iso, "k").select(
        "bin",
        F.col("cnt").alias("n"),
        "pos",
        F.expr("CAST(1000000 * pos DIV cnt AS BIGINT)").alias("rate_ppm"),
        "iso_q18",
    )


def isotonic_calibration_sql(
    scored_sql: str,
    lo: int,
    hi: int,
    n_bins: int = 512,
    score_col: str = "score_milli",
    label_col: str = "label",
) -> str:
    """DuckDB mirror — HUGEINT product, identical floor division,
    identical minimax windows; every division operand non-negative."""
    span = int(hi) - int(lo)
    bin_expr = (
        f"LEAST({n_bins - 1}, GREATEST(0,"
        f" CAST(({score_col} - {lo}) * {n_bins} AS BIGINT) // {span}))"
    )
    return f"""
    WITH bins AS (
      SELECT CAST({bin_expr} AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST({label_col} AS BIGINT)) AS BIGINT) AS pos
      FROM ({scored_sql}) GROUP BY 1
    ),
    prefix AS (
      SELECT bin, cnt, pos,
             CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS k,
             CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS ccnt,
             CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cpos
      FROM bins
    ),
    intervals AS (
      SELECT l.i, h.j,
             CAST((CAST(h.cpos_hi - l.cpos_lo AS HUGEINT)
                   * 1000000000000000000)
                  // (h.ccnt_hi - l.ccnt_lo) AS BIGINT) AS mean_q18
      FROM (SELECT k AS i, ccnt - cnt AS ccnt_lo, cpos - pos AS cpos_lo
            FROM prefix) l
      JOIN (SELECT k AS j, ccnt AS ccnt_hi, cpos AS cpos_hi
            FROM prefix) h
        ON l.i <= h.j
    ),
    suffix AS (
      SELECT i, j AS k,
             MIN(mean_q18) OVER (PARTITION BY i ORDER BY j DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r
      FROM intervals
    ),
    iso AS (
      SELECT k, CAST(MAX(r) AS BIGINT) AS iso_q18 FROM suffix GROUP BY k
    )
    SELECT p.bin, p.cnt AS n, p.pos,
           CAST(1000000 * p.pos // p.cnt AS BIGINT) AS rate_ppm,
           s.iso_q18
    FROM prefix p JOIN iso s ON p.k = s.k
    """
