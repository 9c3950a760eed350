"""Corpus-curation operators: per-domain capping, percentile quality
gates, and corpus-wide heavy hitters.

These are the mixture-shaping stages a web-scale pipeline runs after
quality filtering and before tokenization (cap any one domain's share,
drop the bottom quality percentile per language, surface vocabulary
heavy hitters for stopword/boilerplate discovery).

Scale shapes (100 TB):
- ``domain_cap``: two windows, but the second one is bounded.  A naive
  ``row_number() over (partition by domain)`` sorts every row of the
  largest domain in ONE task — a mega-domain (a crawl with 10^9 pages
  from one host) is exactly the skew case.  The pre-pass caps each
  (domain, salt) slice to ``cap`` rows first, so the final per-domain
  window sees at most ``salt_buckets * cap`` rows regardless of the
  domain's true size.  Results are byte-identical to the naive window
  (proved by the DuckDB oracle, which runs the naive form).
- ``percentile_gate``: one tiny per-group exact-quantile aggregation
  broadcast back onto the facts — the fact rows never shuffle, there
  is no per-group sort at all.
- ``heavy_hitters``: one ``groupBy(word)`` with map-side combine plus
  a broadcast single-row total; the frequency test is exact integer
  arithmetic (ppm), no float thresholds.

Reference parity: the reference has no curation stages (its pipelines
leave corpus shaping to user ``Stage`` code, reference
``pipelines/v1/interfaces.py``); these follow the published C4 /
RefinedWeb / Gopher recipes (per-host caps, percentile quality gates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from cosmos_xenna_spark.functions import md5_long63
from cosmos_xenna_spark.operators.cache import checkpoint


def domain_cap(
    df: DataFrame,
    key_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 100,
    salt_buckets: int = 16,
) -> DataFrame:
    """Keep at most ``cap`` rows per ``key_col``, chosen deterministically
    by a portable hash of ``id_col`` (so the sample is stable across
    engines, partitionings, and re-runs — NOT "first seen wins", which
    is nondeterministic in a distributed scan).

    Equivalent to ``row_number() over (partition by key order by
    md5(id), id) <= cap`` but skew-safe: a salted pre-pass caps each of
    ``salt_buckets`` slices of a key to ``cap`` rows, so the final
    per-key sort handles at most ``salt_buckets * cap`` rows even for a
    domain with billions of pages.  Any row in the global per-key
    top-``cap`` is necessarily in its salt slice's top-``cap``, so the
    two-stage result equals the one-window result exactly.
    """
    if cap <= 0:
        raise ValueError(f"cap must be positive, got {cap}")
    h = md5_long63(F.col(id_col).cast("string")).alias("__h")
    salted = df.withColumn("__h", h).withColumn(
        "__salt", F.pmod(F.col("__h"), F.lit(salt_buckets))
    )
    pre = Window.partitionBy(key_col, "__salt").orderBy("__h", id_col)
    survivors = (
        salted.withColumn("__rn1", F.row_number().over(pre))
        .filter(F.col("__rn1") <= cap)
        .drop("__rn1", "__salt")
    )
    final = Window.partitionBy(key_col).orderBy("__h", id_col)
    return (
        survivors.withColumn("__rn", F.row_number().over(final))
        .filter(F.col("__rn") <= cap)
        .drop("__rn", "__h")
    )


def domain_cap_sql(table: str, key_col: str, id_col: str, cap: int, cols: str) -> str:
    """DuckDB oracle: the naive single-window form of :func:`domain_cap`."""
    h = f"CAST(CONCAT('0x', substr(md5(CAST({id_col} AS VARCHAR)), 1, 15)) AS BIGINT)"
    return f"""
    SELECT {cols} FROM (
      SELECT {cols},
             ROW_NUMBER() OVER (PARTITION BY {key_col}
                                ORDER BY {h}, {id_col}) AS rn
      FROM {table}
    ) WHERE rn <= {cap}
    """


def percentile_gate(
    df: DataFrame,
    group_cols: list[str],
    score_col: str,
    pct: float = 0.2,
) -> DataFrame:
    """Keep rows whose ``score_col`` is at or above the per-group
    ``pct`` exact quantile — "drop the worst 20% per language" as a
    pure threshold filter.

    The per-group threshold is one tiny exact-``percentile``
    aggregation broadcast back onto the facts; the fact side never
    shuffles and there is no per-group sort (the scale trap of
    rank-based top-N% formulations).  For integer scores the
    interpolated quantile is an exact binary fraction, so the
    keep/drop decision is bit-identical in any engine.
    """
    thresholds = df.groupBy(*group_cols).agg(
        F.expr(f"percentile({score_col}, {pct!r})").alias("__thresh")
    )
    return (
        df.join(F.broadcast(thresholds), on=group_cols, how="inner")
        .filter(F.col(score_col).cast("double") >= F.col("__thresh"))
        .drop("__thresh")
    )


def percentile_gate_sql(
    table: str, group_cols: list[str], score_col: str, pct: float, cols: str
) -> str:
    keys = ", ".join(group_cols)
    return f"""
    WITH t AS (
      SELECT {keys}, quantile_cont({score_col}, {pct!r}) AS thresh
      FROM {table} GROUP BY {keys}
    )
    SELECT {cols} FROM {table} JOIN t USING ({keys})
    WHERE CAST({score_col} AS DOUBLE) >= thresh
    """


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    min_ppm: int = 5000,
) -> DataFrame:
    """Words whose corpus-wide term frequency is at least ``min_ppm``
    parts-per-million of all tokens — stopword / boilerplate discovery
    over the whole corpus.

    One ``groupBy(word)`` (map-side combine shrinks the shuffle to the
    vocabulary size) plus a broadcast single-row total; the threshold
    test is exact integer arithmetic (``cnt * 1e6 >= min_ppm * total``),
    so no float comparison can flip a boundary word between engines.

    Returns ``(word, n, frac)`` with ``frac`` the exact ratio as a
    double (deterministic: one division of two exact integers).
    """
    counts = (
        df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = counts.agg(F.sum("n").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n") * F.lit(1_000_000) >= F.lit(min_ppm) * F.col("__total"))
        .select(
            "word",
            "n",
            (F.col("n").cast("double") / F.col("__total")).alias("frac"),
        )
    )


def heavy_hitters_sql(table: str, text_col: str, min_ppm: int) -> str:
    return f"""
    WITH words AS (
      SELECT UNNEST(string_split({text_col}, ' ')) AS word FROM {table}
    ),
    counts AS (SELECT word, COUNT(*) AS n FROM words GROUP BY word),
    tot AS (SELECT SUM(n) AS total FROM counts)
    SELECT word, n, CAST(n AS DOUBLE) / total AS frac
    FROM counts, tot
    WHERE n * 1000000 >= {min_ppm} * total
    """


def heavy_hitters_sketch(
    df: DataFrame,
    text_col: str = "text",
    min_ppm: int = 5000,
    capacity_factor: int = 4,
) -> DataFrame:
    """:func:`heavy_hitters` with a Misra-Gries candidate pass — for
    corpora whose VOCABULARY is too large to shuffle (web-scale
    n-grams), yet with EXACTLY the same output.

    Two phases:

    1. Per-partition Misra-Gries summaries (capacity ``c = capacity_
       factor * 10^6 / min_ppm``) over the token stream, merged by key
       union.  The classic guarantee — per-summary undercounts total at
       most ``n_p / c`` — means any token with global frequency
       ``>= N / c`` survives in at least one partition, and
       ``c > 10^6 / min_ppm`` makes the union a SUPERSET of every true
       heavy hitter.  The union is tiny (``<= c`` per partition,
       deduped across partitions) and stays a broadcast DataFrame —
       never a driver-side literal list, so the plan size is bounded
       even with thousands of partitions; the token tail never
       shuffles.
    2. Exact verification: count ONLY candidate tokens (broadcast
       LEFT SEMI join before the groupBy) plus one exact total.
       False candidates die on the exact threshold, so the result is
       bit-identical to the one-shuffle exact operator — same oracle.

    The sketch is the only Python stage (arrow-batched ``mapInPandas``,
    a dict-based MG per batch); phase 2 is all JVM built-ins.
    """
    import pandas as pd  # local import: executors pickle this closure

    cap = max(16, capacity_factor * (1_000_000 // max(1, min_ppm)))
    words = df.select(F.explode(F.split(F.col(text_col), " ")).alias("word"))

    def mg_summaries(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for w in pdf["word"]:
                if w in counters:
                    counters[w] += 1
                elif len(counters) < cap:
                    counters[w] = 1
                else:
                    # decrement-all step; drop zeros
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        yield pd.DataFrame({"word": list(counters.keys())})

    candidates = words.mapInPandas(mg_summaries, "word string").distinct()
    counts = (
        words.join(F.broadcast(candidates), "word", "left_semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    total = words.agg(F.count(F.lit(1)).alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("n") * F.lit(1_000_000) >= F.lit(min_ppm) * F.col("__total"))
        .select(
            "word",
            "n",
            (F.col("n").cast("double") / F.col("__total")).alias("frac"),
        )
    )


def filter_funnel(
    df: DataFrame,
    gates: list[tuple[str, Column]],
) -> DataFrame:
    """Curation-cascade audit: how many rows survive each filter gate,
    applied in order — the "where did my corpus go" report every
    multi-stage cleaning pipeline needs before anyone trusts its
    output.

    ``gates`` is an ordered list of (name, boolean Column).  Survival
    is CUMULATIVE (a row must pass every earlier gate to reach the
    next), matching how the real pipeline chains filters.  NULL
    predicates count as failures (SQL WHERE semantics).

    Returns one row per gate: ``(gate_idx, gate, n_in, n_out,
    n_killed)`` — and the whole report is ONE aggregation pass with
    map-side partials (the dq_expectations discipline: 50 gates cost
    the same scan as one).
    """
    if not gates:
        raise ValueError("filter_funnel needs at least one gate")
    names = [n for n, _ in gates]
    if len(set(names)) != len(names):
        raise ValueError(f"duplicate gate names: {names}")
    aggs = [F.count(F.lit(1)).alias("__n0")]
    cum = None
    for i, (_, cond) in enumerate(gates):
        passed = F.coalesce(cond.cast("boolean"), F.lit(False))
        cum = passed if cum is None else (cum & passed)
        aggs.append(F.sum(cum.cast("bigint")).alias(f"__s_{i}"))
    wide = df.agg(*aggs)
    parts: list[Column] = []
    for i, name in enumerate(names):
        n_in = F.col("__n0") if i == 0 else F.col(f"__s_{i - 1}")
        parts += [
            F.lit(i).cast("bigint"),
            F.lit(name),
            n_in,
            F.col(f"__s_{i}"),
            n_in - F.col(f"__s_{i}"),
        ]
    return wide.select(
        F.stack(
            F.lit(len(gates)), *parts
        ).alias("gate_idx", "gate", "n_in", "n_out", "n_killed")
    )


def filter_funnel_sql(table: str, gates: list[tuple[str, str]]) -> str:
    """DuckDB mirror over SQL predicate strings (cumulative survival,
    NULL-as-fail)."""
    selects = []
    cum_terms: list[str] = []
    prev = "COUNT(*)"
    for i, (name, pred) in enumerate(gates):
        cum_terms.append(f"COALESCE(({pred}), FALSE)")
        cur = (
            "SUM(CASE WHEN "
            + " AND ".join(cum_terms)
            + " THEN 1 ELSE 0 END)"
        )
        selects.append(
            f"SELECT CAST({i} AS BIGINT) AS gate_idx, '{name}' AS gate, "
            f"CAST({prev} AS BIGINT) AS n_in, CAST({cur} AS BIGINT) AS n_out, "
            f"CAST({prev} AS BIGINT) - CAST({cur} AS BIGINT) AS n_killed "
            f"FROM {table}"
        )
        prev = cur
    return "\nUNION ALL\n".join(selects)


def _pareto2d_pandas(pdf, x_col: str, y_col: str):
    """Staircase scan: the 2-D Pareto frontier (maximize both) of one
    pandas frame.  Equal-(x, y) duplicates are mutually non-dominating
    and all survive; within an x value only the max-y rows can survive
    (higher y strictly dominates); across decreasing x the surviving y
    must STRICTLY increase (equal y from a greater x dominates)."""
    import numpy as np

    s = pdf.sort_values([x_col, y_col], ascending=False, kind="mergesort")
    xs = s[x_col].to_numpy()
    ys = s[y_col].to_numpy()
    n = len(s)
    keep = np.zeros(n, dtype=bool)
    best_y = None
    i = 0
    while i < n:
        j = i
        while j < n and xs[j] == xs[i]:
            j += 1
        top_y = ys[i]
        if best_y is None or top_y > best_y:
            k = i
            while k < j and ys[k] == top_y:
                keep[k] = True
                k += 1
            best_y = top_y
        i = j
    return s[keep]


def skyline2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    salt_buckets: int = 64,
) -> DataFrame:
    """2-D skyline (Pareto frontier, both dimensions MAXIMIZED): rows
    not dominated by any other row — multi-criteria curation's
    primitive ("keep documents on the quality-vs-recency frontier";
    negate a column to minimize it).  A row q dominates p when q >= p
    on both dims and > on at least one; equal-(x, y) duplicates are
    mutually non-dominating and all survive.

    Distributed via the skyline's closure property:
    ``skyline(union of local skylines) == global skyline`` — phase 1
    computes per-bucket frontiers (Arrow-batched staircase scan,
    O(n log n) per bucket), phase 2 re-runs the same kernel over the
    union of survivors.  The phase-2 frame is frontier-sized; a
    pathological input whose frontier is the whole table (perfectly
    anti-correlated dims) degrades phase 2 to one worker — the
    documented contract, shared with every skyline partitioning
    scheme in the literature.

    Scale shape: one shuffle on the salt bucket, one on the constant
    phase-2 key over the (tiny) survivor set; the staircase kernel is
    a sort + linear scan, never O(n^2).
    """
    cols = df.columns
    salt = F.pmod(F.xxhash64(F.col(x_col), F.col(y_col)), F.lit(salt_buckets))
    schema = df.schema

    def local(key, pdf):
        return _pareto2d_pandas(pdf[cols], x_col, y_col)

    survivors = (
        df.withColumn("__b", salt)
        .groupBy("__b")
        .applyInPandas(local, schema=schema)
    )
    return (
        survivors.withColumn("__b", F.lit(0))
        .groupBy("__b")
        .applyInPandas(local, schema=schema)
    )


def skyline2d_sql(table_sql: str, x_col: str, y_col: str) -> str:
    """DuckDB mirror of the dominance definition in window form (the
    r12 sf1.0 sweep retired the quadratic NOT-EXISTS original: DuckDB
    plans it as an O(n^2)-ish inequality join, unusable at 1.5M rows).

    A point survives iff no point with strictly greater x has y >= its
    own (``MAX(y) OVER (x DESC RANGE UNBOUNDED..1 PRECEDING)`` — the
    strictly-higher-x running max) AND no point with the SAME x has
    strictly greater y (``y = MAX(y) OVER (PARTITION BY x)``).  The
    two conditions together are exactly "no b with b.x >= a.x, b.y >=
    a.y, strict in one": equal (x, y) duplicates survive together,
    matching the NOT-EXISTS semantics tie for tie."""
    return f"""
    SELECT * EXCLUDE (__hix, __samx) FROM (
      SELECT a.*,
             MAX({y_col}) OVER (ORDER BY {x_col} DESC
               RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS __hix,
             MAX({y_col}) OVER (PARTITION BY {x_col}) AS __samx
      FROM ({table_sql}) a
    )
    WHERE (__hix IS NULL OR __hix < {y_col}) AND {y_col} = __samx
    """


def boilerplate_prefix(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 32,
    min_share_ppm: int = 100_000,
) -> DataFrame:
    """Per-group dominant document PREFIX — the boilerplate-header
    detector (licence banners, scraped nav bars, template preambles
    repeat verbatim at document start within one source).

    Emits ``(group, prefix, n_docs, share_ppm)`` for each group whose
    most common ``prefix_len``-char prefix covers at least
    ``min_share_ppm`` of its docs (ties broken by the lexically
    smallest prefix, so the winner is deterministic).  Downstream
    strips the prefix or drops the source.

    Shape: one (group, prefix) aggregation + one per-group max — two
    shuffles on the group key, prefix comparison never leaves the
    row.  No corpus-wide state: groups partition the work, the 100 TB
    plan is the sf0.01 plan.
    """
    pref = docs.select(
        F.col(group_col).alias("grp"),
        F.substring(F.col(text_col), 1, prefix_len).alias("prefix"),
    )
    counts = pref.groupBy("grp", "prefix").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = pref.groupBy("grp").agg(F.count(F.lit(1)).alias("n_total"))
    from pyspark.sql import Window

    w = Window.partitionBy("grp").orderBy(
        F.col("n_docs").desc(), F.col("prefix").asc()
    )
    top = (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        top.join(totals, "grp")
        .select(
            F.col("grp").alias(group_col),
            "prefix",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.expr("1000000 * n_docs div n_total").cast("bigint").alias("share_ppm"),
        )
        .filter(F.col("share_ppm") >= min_share_ppm)
    )


def boilerplate_prefix_sql(
    docs_sql: str,
    group_col: str = "source",
    text_col: str = "text",
    prefix_len: int = 32,
    min_share_ppm: int = 100_000,
) -> str:
    return f"""
    WITH pref AS (
      SELECT {group_col} AS grp, substr({text_col}, 1, {prefix_len}) AS prefix
      FROM ({docs_sql})
    ),
    counts AS (
      SELECT grp, prefix, COUNT(*) AS n_docs FROM pref GROUP BY grp, prefix
    ),
    totals AS (SELECT grp, COUNT(*) AS n_total FROM pref GROUP BY grp),
    top AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY grp ORDER BY n_docs DESC, prefix ASC) AS rn
        FROM counts
      ) WHERE rn = 1
    )
    SELECT t.grp AS {group_col}, t.prefix,
           CAST(t.n_docs AS BIGINT) AS n_docs,
           CAST(1000000 * t.n_docs // o.n_total AS BIGINT) AS share_ppm
    FROM top t JOIN totals o ON t.grp = o.grp
    WHERE 1000000 * t.n_docs // o.n_total >= {min_share_ppm}
    """


def template_mining(
    docs: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 5,
    max_len: int = 64,
) -> DataFrame:
    """Drain-style log/template mining, simplified: mask every digit
    run to ``#`` in the first ``max_len`` chars, then count identical
    masked TEMPLATES per group and keep each group's top ``top_k`` —
    machine-generated corpora (logs, receipts, listings, error pages)
    collapse onto a handful of templates, the signal that a "text"
    source is actually structured output and should be routed to a
    parser, not a language model.

    Emits ``(group, template, n_docs)``; deterministic order key
    (count desc, template asc).  Same two-shuffle group-local shape as
    :func:`boilerplate_prefix`; the digit masking is one JVM-side
    regexp per row.
    """
    from pyspark.sql import Window

    tpl = docs.select(
        F.col(group_col).alias("grp"),
        F.regexp_replace(
            F.substring(F.col(text_col), 1, max_len), "[0-9]+", "#"
        ).alias("template"),
    )
    counts = tpl.groupBy("grp", "template").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy("grp").orderBy(
        F.col("n_docs").desc(), F.col("template").asc()
    )
    return (
        counts.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= top_k)
        .select(
            F.col("grp").alias(group_col),
            "template",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("__rn").cast("bigint").alias("rank"),
        )
    )


def template_mining_sql(
    docs_sql: str,
    group_col: str = "source",
    text_col: str = "text",
    top_k: int = 5,
    max_len: int = 64,
) -> str:
    return f"""
    WITH tpl AS (
      SELECT {group_col} AS grp,
             regexp_replace(substr({text_col}, 1, {max_len}), '[0-9]+', '#', 'g')
               AS template
      FROM ({docs_sql})
    ),
    counts AS (
      SELECT grp, template, COUNT(*) AS n_docs FROM tpl GROUP BY grp, template
    )
    SELECT grp AS {group_col}, template,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY grp ORDER BY n_docs DESC, template ASC) AS rn
      FROM counts
    ) WHERE rn <= {top_k}
    """


def pareto_cut(
    df: DataFrame,
    group_cols: list[str],
    weight_col: str,
    id_col: str,
    target_ppm: int = 800_000,
) -> DataFrame:
    """Pareto concentration cut per group: the minimum number of items
    (heaviest first) whose cumulative weight reaches ``target_ppm`` of
    the group total — "how many domains carry 80% of the corpus", the
    concentration summary that decides whether per-domain capping is
    even worth running.

    One keyed window (weight desc, id tiebreak) carries both the
    cumulative sum and the rank; the cut row is the first rank where
    ``1e6 * cum >= target * total``, found with one filtered min —
    exact integer arithmetic throughout.  Emits ``(group, n_items,
    n_to_target, cut_weight, total_weight)``.
    """
    from pyspark.sql import Window

    g = [F.col(c) for c in group_cols]
    w = Window.partitionBy(*group_cols).orderBy(
        F.col("__w").desc(), F.col("__i").asc()
    )
    cum = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("__w").desc(), F.col("__i").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tot = Window.partitionBy(*group_cols)
    ranked = df.select(
        *g,
        F.col(weight_col).cast("bigint").alias("__w"),
        F.col(id_col).alias("__i"),
    ).select(
        *g,
        F.row_number().over(w).alias("__rn"),
        F.sum("__w").over(cum).alias("__cum"),
        F.sum("__w").over(tot).alias("__tot"),
        F.count(F.lit(1)).over(tot).alias("__n"),
        F.col("__w"),
    )
    hit = ranked.filter(
        F.lit(1_000_000) * F.col("__cum") >= F.lit(target_ppm) * F.col("__tot")
    )
    return (
        hit.groupBy(*group_cols)
        .agg(
            F.max("__n").cast("bigint").alias("n_items"),
            F.min("__rn").cast("bigint").alias("n_to_target"),
            F.max("__tot").cast("bigint").alias("total_weight"),
        )
    )


def pareto_cut_sql(
    table_sql: str,
    group_cols: list[str],
    weight_col: str,
    id_col: str,
    target_ppm: int = 800_000,
) -> str:
    g = ", ".join(group_cols)
    return f"""
    WITH ranked AS (
      SELECT {g},
             ROW_NUMBER() OVER (PARTITION BY {g}
               ORDER BY {weight_col} DESC, {id_col} ASC) AS rn,
             SUM(CAST({weight_col} AS BIGINT)) OVER (PARTITION BY {g}
               ORDER BY {weight_col} DESC, {id_col} ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             SUM(CAST({weight_col} AS BIGINT)) OVER (PARTITION BY {g}) AS tot,
             COUNT(*) OVER (PARTITION BY {g}) AS n
      FROM ({table_sql})
    )
    SELECT {g},
           CAST(MAX(n) AS BIGINT) AS n_items,
           CAST(MIN(rn) AS BIGINT) AS n_to_target,
           CAST(MAX(tot) AS BIGINT) AS total_weight
    FROM ranked
    WHERE 1000000 * cum >= {target_ppm} * tot
    GROUP BY {g}
    """


def dsir_weights(
    docs: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights for data selection (Xie et al.
    2023, "Data Selection for Language Models via Importance
    Resampling"): score every document by how much its hashed-bigram
    distribution looks like a TARGET slice of the corpus versus the
    corpus at large, then keep/resample the top of the ranking to
    shift a 100 TB raw crawl toward the target domain without a
    trained classifier.

    Per the paper, features are word bigrams hashed into ``n_buckets``
    buckets and the weight is a sum of per-feature log probability
    ratios.  Floats-in-aggregates are forbidden repo-wide (cross-engine
    log/sum drift), so the log is the INTEGER floor-log2 of the
    add-one-smoothed ppm probability — ``length(bin(x)) - 1``, bit
    identical in Spark and DuckDB — and the weight is an exact BIGINT
    sum of (target_log2 - raw_log2) over the doc's bigram occurrences.
    Quantization moves individual weights by < 1 bit but preserves the
    ranking's shape; the selection gate thresholds on rank anyway.

    Scale shape (two corpus passes, the DSIR minimum):
      pass 1 — bigram explode -> bucket -> ONE aggregation producing
        both raw and target counts per bucket (``count_if`` under the
        same groupBy, so the target model costs no extra shuffle);
        the result is exactly ``n_buckets`` rows -> per-bucket log-
        ratio weights, broadcast.
      pass 2 — bigram explode -> bucket -> broadcast-join the weight
        table -> one partial-agg sum per doc.
    Nothing corpus-sized is ever collected, checkpointed, or
    broadcast; docs with < 2 tokens have no features and are absent.

    Returns ``(id, n_features, dsir_weight)`` — all BIGINT.
    """
    from cosmos_xenna_spark.functions import md5_long63

    def buckets(df: DataFrame) -> DataFrame:
        ws = df.select(
            F.col(id_col).alias("id"),
            F.split(F.col(text_col), " ").alias("__ws"),
            target_pred.cast("int").alias("is_tgt"),
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
        return ws.select(
            "id", "is_tgt", F.explode(bg).alias("bg")
        ).withColumn("bucket", F.pmod(md5_long63(F.col("bg")), F.lit(n_buckets)))

    # Checkpoint the n_buckets-row count table: totals and weights both
    # derive from it, and without materialization the totals branch
    # re-executes the ENTIRE corpus explode+aggregate (a third corpus
    # scan for a 1024-row reduction — caught in PLANS.json review).
    counts = checkpoint(
        buckets(docs)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("raw_n"),
            F.sum("is_tgt").alias("tgt_n"),
        )
    )
    # totals attach as a SINGLE-ROW broadcast (the heavy-hitters /
    # modularity ledger pattern — allowlisted BNLJ: the broadcast side
    # is one row of two BIGINTs, a constant-width probe per bucket row)
    totals = counts.groupBy().agg(
        F.sum("raw_n").alias("raw_tot"), F.sum("tgt_n").alias("tgt_tot")
    )
    # integer division via expr DIV (Spark's `/` on ints yields double)
    # to mirror DuckDB's // exactly
    flog2 = lambda c: F.length(F.bin(c)) - F.lit(1)  # noqa: E731
    weights = (
        counts.crossJoin(F.broadcast(totals))
        .select(
            "bucket",
            (
                flog2(
                    F.expr(f"(tgt_n + 1) * 1000000 DIV (tgt_tot + {n_buckets}) + 1")
                )
                - flog2(
                    F.expr(f"(raw_n + 1) * 1000000 DIV (raw_tot + {n_buckets}) + 1")
                )
            ).cast("bigint").alias("w"),
        )
    )
    return (
        buckets(docs)
        .join(F.broadcast(weights), "bucket")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("w").alias("dsir_weight"),
        )
        .select(
            F.col("id").alias(id_col),
            F.col("n_features").cast("bigint").alias("n_features"),
            F.col("dsir_weight").cast("bigint").alias("dsir_weight"),
        )
    )


def dsir_weights_sql(
    docs_sql: str,
    target_pred_sql: str,
    id_col: str,
    text_col: str,
    n_buckets: int = 1024,
) -> str:
    """DuckDB mirror — identical hash, bucketing, smoothing, floor-log2
    (``length(bin(x)) - 1``) and integer div order."""
    from cosmos_xenna_spark.functions import md5_long63_sql

    h = md5_long63_sql("bg")
    return f"""
    WITH bg AS (
      SELECT id, is_tgt, {h} % {n_buckets} AS bucket
      FROM (
        SELECT {id_col} AS id,
               CASE WHEN {target_pred_sql} THEN 1 ELSE 0 END AS is_tgt,
               a[i] || ' ' || a[i + 1] AS bg
        FROM (SELECT *, string_split({text_col}, ' ') AS a FROM ({docs_sql})),
             UNNEST(range(1, len(a))) AS t(i)
      )
    ),
    counts AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS raw_n,
             CAST(SUM(is_tgt) AS BIGINT) AS tgt_n
      FROM bg GROUP BY bucket
    ),
    totals AS (
      SELECT CAST(SUM(raw_n) AS BIGINT) AS raw_tot,
             CAST(SUM(tgt_n) AS BIGINT) AS tgt_tot
      FROM counts
    ),
    weights AS (
      SELECT bucket,
             CAST(
               (length(bin((tgt_n + 1) * 1000000 // (tgt_tot + {n_buckets}) + 1)) - 1)
               - (length(bin((raw_n + 1) * 1000000 // (raw_tot + {n_buckets}) + 1)) - 1)
             AS BIGINT) AS w
      FROM counts, totals
    )
    SELECT b.id AS {id_col},
           CAST(COUNT(*) AS BIGINT) AS n_features,
           CAST(SUM(w.w) AS BIGINT) AS dsir_weight
    FROM bg b JOIN weights w USING (bucket)
    GROUP BY b.id
    """


def source_temperature_mix(
    docs: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
    budget: int = 10_000,
) -> DataFrame:
    """Temperature-based mixture weighting at alpha = 1/2 (the
    multilingual-training sampling rule of Lample & Conneau 2019 /
    mT5: sample source i with probability proportional to
    ``n_i^alpha``, flattening the head so low-resource sources are
    not drowned): per source, the exact integer sqrt weight, its ppm
    share of the mixture, the doc quota for a ``budget``-doc epoch,
    and the quota CAPPED at the source's actual size with the unmet
    deficit surfaced (a source smaller than its flattened share
    cannot be oversampled without repetition — the real planning
    number a data-mixing stage needs).

    alpha = 1/2 is the one temperature with an EXACT integer form:
    ``w_i = isqrt(n_i)``, computed as floor(sqrt(double)) plus a
    one-step correction (``(s+1)^2 <= n -> s+1``; ``s^2 > n -> s-1``)
    — exact for every n < 2^52 in both engines, immune to the
    1-ulp boundary cases a bare FLOOR(SQRT(n)) inherits from libm.

    Scale shape: ONE aggregation keyed by source (map-side partials)
    collapses the corpus to a source-count-sized frame; the mixture
    total attaches as a single-row broadcast (allowlisted ledger
    pattern).  Returns ``(source, n_docs, w, target_ppm, quota,
    quota_capped, deficit)`` — all BIGINT.
    """
    counts = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count(F.col(id_col)).alias("n_docs")
    )
    s = "CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT)"
    isqrt = (
        f"CASE WHEN ({s} + 1) * ({s} + 1) <= n_docs THEN {s} + 1 "
        f"WHEN {s} * {s} > n_docs THEN {s} - 1 ELSE {s} END"
    )
    weighted = counts.withColumn("w", F.expr(isqrt).cast("bigint"))
    tot = weighted.groupBy().agg(F.sum("w").alias("w_tot"))
    return (
        weighted.crossJoin(F.broadcast(tot))
        .select(
            F.col("grp").alias(group_col),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            "w",
            F.expr("w * 1000000 DIV w_tot").cast("bigint").alias("target_ppm"),
            F.expr(f"{budget} * w DIV w_tot").cast("bigint").alias("quota"),
            F.expr(f"LEAST({budget} * w DIV w_tot, n_docs)")
            .cast("bigint")
            .alias("quota_capped"),
            F.expr(f"GREATEST({budget} * w DIV w_tot - n_docs, 0)")
            .cast("bigint")
            .alias("deficit"),
        )
    )


def source_temperature_mix_sql(
    docs_sql: str,
    group_col: str,
    id_col: str,
    budget: int = 10_000,
) -> str:
    """DuckDB mirror — identical corrected isqrt and div order."""
    s = "CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT)"
    isqrt = (
        f"CASE WHEN ({s} + 1) * ({s} + 1) <= n_docs THEN {s} + 1 "
        f"WHEN {s} * {s} > n_docs THEN {s} - 1 ELSE {s} END"
    )
    return f"""
    WITH counts AS (
      SELECT {group_col} AS grp, CAST(COUNT({id_col}) AS BIGINT) AS n_docs
      FROM ({docs_sql}) GROUP BY {group_col}
    ),
    weighted AS (
      SELECT grp, n_docs, CAST({isqrt} AS BIGINT) AS w FROM counts
    ),
    tot AS (SELECT CAST(SUM(w) AS BIGINT) AS w_tot FROM weighted)
    SELECT grp AS {group_col}, n_docs, w,
           CAST(w * 1000000 // w_tot AS BIGINT) AS target_ppm,
           CAST({budget} * w // w_tot AS BIGINT) AS quota,
           CAST(LEAST({budget} * w // w_tot, n_docs) AS BIGINT) AS quota_capped,
           CAST(GREATEST({budget} * w // w_tot - n_docs, 0) AS BIGINT) AS deficit
    FROM weighted, tot
    """


def greedy_max_coverage(
    docs: DataFrame,
    k: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    pool_mod: int = 37,
) -> DataFrame:
    """Greedy maximum-coverage data selection (facility-location lite):
    pick ``k`` documents, each maximizing the count of word BIGRAMS not
    yet covered by the picks so far — the classic (1 - 1/e)-approximate
    submodular-selection step behind coverage-driven corpus subsetting
    (select the dev set / annotation budget that spans the most
    vocabulary), deterministic tie-break on ascending id.

    Candidates come from a hash-sampled POOL (md5(id) % pool_mod == 0,
    scale-relative: ~1/pool_mod of the corpus at every sf) — greedy
    selection at 100 TB always runs over a bounded candidate pool, not
    the raw corpus; the token table the gains are computed from is the
    full pool's bigram set.

    Emits one row per step: ``(step, doc_id, gain, covered_total)``.
    Zero-gain steps are well-defined (LEFT-join counting keeps fully-
    covered candidates at gain 0, tie-broken by id) so the recursion
    never dies early.

    Scale shape: the pool token table is built ONCE and eagerly
    checkpointed; each of the k steps is one broadcast anti-join on
    the (small, bounded) covered-token set + one map-side-combined
    gain aggregation + a TakeOrdered top-1 — k bounded scalar collects
    (the graph.py per-iteration-maximum precedent), never a growing
    lineage.
    """
    from cosmos_xenna_spark.functions import md5_long63

    spark = docs.sparkSession
    pool = docs.filter(
        md5_long63(F.col(id_col).cast("string"), prefix="cov|") % pool_mod
        == 0
    )
    base = pool.select(
        F.col(id_col).cast("bigint").alias("__id"),
        F.split(F.col(text_col), " ").alias("__ws"),
    )
    toks = checkpoint(
        base.filter(F.size("__ws") >= 2)
        .select(
            "__id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__ws) - 1),"
                    " i -> array_join(slice(__ws, i, 2), ' '))"
                )
            ).alias("__tok"),
        )
        .distinct()
    )
    cand = checkpoint(toks.select("__id").distinct())

    chosen: list[int] = []
    rows: list[tuple[int, int, int, int]] = []
    for step in range(1, k + 1):
        uncov = toks
        if chosen:
            covered = toks.filter(F.col("__id").isin(chosen)).select("__tok")
            uncov = toks.join(
                F.broadcast(covered.distinct()), "__tok", "left_anti"
            )
        remaining = cand
        if chosen:
            remaining = remaining.filter(~F.col("__id").isin(chosen))
        gains = (
            remaining.join(uncov, "__id", "left")
            .groupBy("__id")
            .agg(F.count("__tok").cast("bigint").alias("__gain"))
        )
        top = gains.orderBy(F.desc("__gain"), F.asc("__id")).limit(1).collect()
        if not top:
            break  # pool exhausted before k picks (tiny-corpus case)
        chosen.append(int(top[0]["__id"]))
        covered_total = (
            toks.filter(F.col("__id").isin(chosen))
            .select("__tok")
            .distinct()
            .count()
        )
        rows.append(
            (step, int(top[0]["__id"]), int(top[0]["__gain"]), covered_total)
        )
    return spark.createDataFrame(
        rows, "step long, doc_id long, gain long, covered_total long"
    )


def greedy_max_coverage_sql(
    docs_sql: str,
    k: int = 6,
    id_col: str = "doc_id",
    text_col: str = "text",
    pool_mod: int = 37,
) -> str:
    """DuckDB mirror: the greedy recursion unrolled into k CTE steps
    (the iterative-oracle convention — pagerank/SCC precedent), same
    pool hash, same bigrams, same LEFT-join zero-gain handling, same
    (gain DESC, id ASC) tie-break."""
    from cosmos_xenna_spark.functions import md5_long63_sql

    h = md5_long63_sql(f"CAST({id_col} AS STRING)", prefix="cov|")
    ctes = [
        f"""dt AS MATERIALIZED (
      SELECT DISTINCT id, token FROM (
        SELECT id, array_to_string(ws[i:i+1], ' ') AS token
        FROM (SELECT CAST({id_col} AS BIGINT) AS id,
                     string_split({text_col}, ' ') AS ws
              FROM ({docs_sql}) WHERE {h} % {pool_mod} = 0),
             UNNEST(range(1, len(ws))) AS t(i)
        WHERE len(ws) >= 2
      )
    )""",
        "ids AS (SELECT DISTINCT id FROM dt)",
    ]
    prev_winners = []
    selects = []
    for step in range(1, k + 1):
        not_chosen = (
            "WHERE ids.id NOT IN ("
            + " UNION ALL ".join(f"SELECT id FROM w{j}" for j in prev_winners)
            + ")"
            if prev_winners
            else ""
        )
        if prev_winners:
            uncov = (
                f"(SELECT * FROM dt WHERE token NOT IN"
                f" (SELECT token FROM c{prev_winners[-1]}))"
            )
        else:
            uncov = "dt"
        ctes.append(
            f"""w{step} AS (
      SELECT id, gain FROM (
        SELECT ids.id, CAST(COUNT(u.token) AS BIGINT) AS gain
        FROM ids LEFT JOIN {uncov} u ON u.id = ids.id
        {not_chosen}
        GROUP BY ids.id
      ) ORDER BY gain DESC, id LIMIT 1
    )"""
        )
        winners_so_far = prev_winners + [step]
        ctes.append(
            f"""c{step} AS (
      SELECT DISTINCT token FROM dt WHERE id IN (
        {" UNION ALL ".join(f"SELECT id FROM w{j}" for j in winners_so_far)}
      )
    )"""
        )
        selects.append(
            f"SELECT CAST({step} AS BIGINT) AS step, id AS doc_id, gain,"
            f" (SELECT CAST(COUNT(*) AS BIGINT) FROM c{step})"
            f" AS covered_total FROM w{step}"
        )
        prev_winners = winners_so_far
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)
