"""Text retrieval operators: inverted index construction, TF-IDF
weighting, BM25 query scoring.

All JVM built-ins (split/explode/groupBy/window) — no Python UDFs.
Shapes at 100 TB: term statistics are one explode + one hash shuffle
on (doc, term) then term; corpus scalars (N docs, average doc length)
ride along as a broadcast single-row frame, never a driver literal
recomputed per job; BM25 scoring touches only postings of the query's
terms (filter pushed below the explode's shuffle).

Cross-engine determinism note: scores use the *log-free* BM25 idf
odds ``(N - df + 0.5) / (df + 0.5)`` rather than ``ln`` of it.
Rationale: `+ - * /` are IEEE-exact in both Spark and DuckDB so
results hash-match bit-for-bit, while ``ln`` is correctly-rounded in
neither and may differ in the last ulp; per term the odds are a
monotone transform of classic BM25 idf, and the final sum is a fixed
explicit expression (term-pivoted), not an order-dependent float
aggregation. Swap ``_idf_odds`` for ``F.log`` of it when bit-parity
with another engine is not required.

Reference parity: the reference has no retrieval operators (it is a
pipeline orchestrator); this implements the standard index/scoring
surface a corpus-curation engine needs (quality-by-query, dedup
candidate mining, contamination lookups).
"""

from __future__ import annotations

from collections.abc import Sequence
from functools import reduce
from operator import or_

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cosmos_xenna_spark.operators.cache import checkpoint
from cosmos_xenna_spark.operators.text import TOKEN_REGEX


def doc_terms(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per (doc, term) with term frequency ``tf``.

    Terms are lowercased BPE-ish tokens (letter runs / digit runs /
    single punctuation — same regex as token counting). One explode,
    one hash shuffle on (doc_id, term).
    """
    return (
        docs.select(
            F.col(id_col),
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_REGEX}', 0)")
            ).alias("term"),
        )
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )


def inverted_index(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
    max_postings: int = 1000,
) -> DataFrame:
    """Term -> posting list (sorted doc ids, string-joined) + df.

    ``max_postings`` caps the materialized list per term (stop-word
    protection: at corpus scale the 'the' posting list is the whole
    corpus — cap it and keep the exact ``df`` count alongside).

    The cap is applied *before* ``collect_list`` via a per-term
    ``row_number`` window, so the aggregation buffer holds at most
    ``max_postings`` ids per term. Capping after collect (the obvious
    ``slice(sort_array(collect_list(..)))``) would buffer the entire
    'the' posting list — the whole corpus — in one aggregation state.
    The exact ``df`` is still counted over the uncapped postings
    (map-side partial count, constant state).
    """
    postings = doc_terms(docs, id_col, text_col)
    df_tab = postings.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("df")
    )
    w = Window.partitionBy("term").orderBy(id_col)
    capped = (
        postings.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= max_postings)
    )
    lists = capped.groupBy("term").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(id_col)),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("posting_list"),
    )
    return (
        df_tab.join(lists, "term")
        .filter(F.col("df") >= min_df)
        .select("term", "df", "posting_list")
    )


def _corpus_stats(terms: DataFrame, id_col: str) -> DataFrame:
    """Single-row frame (n_docs, avg_dl) for broadcast."""
    dl = terms.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    return dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avg_dl"),
    )


def _idf_odds(n_docs, df_col):
    return (n_docs.cast("double") - df_col + F.lit(0.5)) / (
        df_col.cast("double") + F.lit(0.5)
    )


def tf_idf(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-(doc, term) TF-IDF weight: ``tf * idf_odds`` (log-free, see
    module docstring). Term df computed once; corpus size broadcast."""
    terms = doc_terms(docs, id_col, text_col)
    df_tab = terms.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    stats = _corpus_stats(terms, id_col)
    return (
        terms.join(df_tab, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            id_col,
            "term",
            "tf",
            "df",
            (
                F.col("tf").cast("double")
                * _idf_odds(F.col("n_docs"), F.col("df"))
            ).alias("weight"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: Sequence[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k documents for a bag-of-terms query under (log-free) BM25.

    Per matched term: ``idf_odds * tf*(k1+1) / (tf + k1*(1-b+b*dl/avg_dl))``.
    The per-document score is a FIXED expression summed left-to-right in
    ``sorted(query_terms)`` order — deterministic across engines and
    partitionings, unlike a float SUM aggregation. Ties break by doc id.

    Shuffle-free by construction: for a known bag of query terms,
    ``tf_i`` and ``dl`` are row-local array expressions (no (doc, term)
    explode or groupBy), the corpus globals (``n_docs``, ``avg_dl``,
    per-term ``df_i``) are ONE single-row aggregate (map-side partial,
    broadcast back), and the final top-k compiles to
    TakeOrderedAndProject. Two corpus scans, zero wide exchanges — at
    100 TB the earlier index-shaped formulation shuffled the full
    (doc, term) table three times and tokenized the corpus four times.
    """
    qts = sorted(set(query_terms))
    if not qts:
        # no terms -> nothing can match; empty result, id dtype kept
        return docs.select(F.col(id_col), F.lit(0.0).alias("score")).limit(0)
    toks = docs.select(
        F.col(id_col),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit(TOKEN_REGEX), F.lit(0)
        ).alias("__toks"),
    )
    # dl + one tf column per query term, all row-local. Terms pass as
    # Column LITERALS, never interpolated into SQL text — a quote or
    # regex metacharacter in a caller-supplied term must score 0, not
    # parse as SQL. (The closure factory matters: F.filter dispatches
    # on lambda ARITY, so a `lambda x, t=t:` binding would receive the
    # array index as its second argument.)
    def _matches(term: str):
        return lambda x: x == F.lit(term)

    per_doc = toks.select(
        id_col,
        F.size("__toks").cast("bigint").alias("dl"),
        *[
            F.size(F.filter(F.col("__toks"), _matches(t)))
            .cast("bigint")
            .alias(f"__tf_{i}")
            for i, t in enumerate(qts)
        ],
    )
    # Corpus scalars in one single-row job. Docs with zero tokens are
    # excluded from n_docs/avg_dl — identical to the (doc, term)-table
    # formulation, where an empty doc contributes no rows.
    gl = per_doc.filter(F.col("dl") > 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avg_dl"),
        *[
            F.sum((F.col(f"__tf_{i}") > 0).cast("bigint"))
            .cast("bigint")
            .alias(f"__df_{i}")
            for i in range(len(qts))
        ],
    )
    matched = per_doc.filter(
        reduce(or_, [F.col(f"__tf_{i}") > 0 for i in range(len(qts))])
    )
    scored = matched.crossJoin(F.broadcast(gl))
    score = F.lit(0.0)
    for i in range(len(qts)):
        tf = F.col(f"__tf_{i}").cast("double")
        per_term = _idf_odds(F.col("n_docs"), F.col(f"__df_{i}")) * (
            tf * (k1 + 1.0)
        ) / (
            tf
            + k1 * (1.0 - b + b * F.col("dl").cast("double") / F.col("avg_dl"))
        )
        # term absent -> contribute exactly 0.0 (the COALESCE of the
        # pivoted form), keeping the sum order-fixed and engine-exact
        score = score + F.when(F.col(f"__tf_{i}") > 0, per_term).otherwise(
            F.lit(0.0)
        )
    return (
        scored.select(F.col(id_col), score.alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def rrf_fuse(
    rankings: dict[str, DataFrame],
    id_col: str = "doc_id",
    k: int = 60,
    topk: int = 20,
) -> DataFrame:
    """Reciprocal-rank fusion of named ranked lists (hybrid retrieval:
    lexical BM25 + semantic ANN is the canonical pair).

    Each input is ``(id_col, rank)`` with 1-based BIGINT ranks.  The
    classic score ``sum 1/(k + rank)`` is computed in scaled INTEGER
    arithmetic — ``10^9 // (k + rank)`` per system, summed exactly —
    so fusion is order-independent and engine-exact (the repo-wide
    no-float-sums rule).  Items missing from a list contribute 0 and
    surface with a NULL rank for that system.

    Scale shape: the inputs are top-k lists (bounded by construction),
    so the full-outer join chain and the final TakeOrdered are over
    O(systems * k) rows regardless of corpus size.

    Returns ``(id_col, rank_<name>..., rrf_score)`` ordered by
    (score desc, id) and limited to ``topk``.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    parts = []
    for name, df in rankings.items():
        parts.append(
            df.select(
                F.col(id_col),
                F.col("rank").cast("bigint").alias(f"rank_{name}"),
                F.expr(f"CAST(1000000000 AS BIGINT) DIV ({int(k)} + rank)").alias(
                    f"__s_{name}"
                ),
            )
        )
    fused = parts[0]
    for p in parts[1:]:
        fused = fused.join(p, id_col, "full_outer")
    score = None
    for name in rankings:
        s = F.coalesce(F.col(f"__s_{name}"), F.lit(0).cast("bigint"))
        score = s if score is None else score + s
    return (
        fused.withColumn("rrf_score", score)
        .select(id_col, *[f"rank_{n}" for n in rankings], "rrf_score")
        .orderBy(F.desc("rrf_score"), F.asc(id_col))
        .limit(topk)
    )


# RBO weights (1-p) * p^(d-1) for p = 1/2: exact dyadic doubles, so the
# repr-injected constants parse to identical binary64 in both engines.
def _rbo_coef(d: int) -> float:
    return 0.5 * (0.5 ** (d - 1))


def rbo_agreement(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    k: int,
    query_col: str = "query_id",
    item_col: str = "item",
    rank_col: str = "rank",
) -> DataFrame:
    """Rank-biased overlap (Webber et al.) between two top-``k``
    rankings per query, with persistence ``p = 1/2`` — the standard
    top-weighted agreement metric for comparing retrieval systems
    (did the BM25 -> hybrid swap actually change what users see?).

        RBO_k = (1-p) * sum_{d=1..k} p^(d-1) * |A_1..d ∩ B_1..d| / d

    ``p = 1/2`` keeps every weight an exact dyadic double and the sum
    is a FIXED left-to-right chain of ``k`` terms, each one integer
    division — bit-identical across engines (the decayed-sum
    discipline applied to ranking eval).

    Inputs are ``(query, item, rank)`` relations with ranks ``1..k``;
    queries present in only one ranking are dropped (inner join).
    Returns ``(query, rbo)``.

    Scale shape: one aggregation per side to rank-ordered arrays (map-
    side partial), one equi-join on the query id, all depth
    intersections row-local array HOFs over length-<=k lists.
    """
    def lists(r: DataFrame, out: str) -> DataFrame:
        return r.groupBy(F.col(query_col).alias("q")).agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col(rank_col).alias("r"), F.col(item_col).alias("i")))
                ),
                lambda s: s["i"],
            ).alias(out)
        )

    la, lb = lists(ranked_a, "a"), lists(ranked_b, "b")
    joined = la.join(lb, "q")
    terms = [
        F.lit(_rbo_coef(d))
        * (
            F.size(
                F.array_intersect(F.slice("a", 1, d), F.slice("b", 1, d))
            ).cast("double")
            / F.lit(float(d))
        )
        for d in range(1, k + 1)
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return joined.select(F.col("q").alias(query_col), total.alias("rbo"))


def rbo_agreement_sql(
    ranked_a_sql: str,
    ranked_b_sql: str,
    k: int,
    query_col: str = "query_id",
    item_col: str = "item",
    rank_col: str = "rank",
) -> str:
    """DuckDB mirror: ORDER BY inside array_agg builds the rank-ordered
    lists; identical coefficient constants and term order."""
    terms = " + ".join(
        f"{_rbo_coef(d)!r} * (CAST(len(list_intersect(a[1:{d}], b[1:{d}])) AS DOUBLE)"
        f" / {float(d)!r})"
        for d in range(1, k + 1)
    )
    return f"""
    WITH la AS (
      SELECT {query_col} AS q, array_agg({item_col} ORDER BY {rank_col}) AS a
      FROM ({ranked_a_sql}) GROUP BY {query_col}
    ),
    lb AS (
      SELECT {query_col} AS q, array_agg({item_col} ORDER BY {rank_col}) AS b
      FROM ({ranked_b_sql}) GROUP BY {query_col}
    )
    SELECT q AS {query_col}, {terms} AS rbo
    FROM la JOIN lb USING (q)
    """


def boolean_and_search(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Conjunctive boolean retrieval: documents containing ALL of
    ``query_terms`` — the posting-intersection primitive under every
    filtered-search and decontamination pass (AND of required
    keywords), without materializing per-term posting lists.

    Implementation is one scan: tokenize, keep only query-term hits
    (the filter prunes the explode output to |terms| rows per doc max),
    count DISTINCT matched terms per doc, keep docs where the count
    equals |terms|.  Returns ``(doc_id, n_terms_matched)`` (constant
    column kept for auditability).

    Scale shape: the term filter makes the shuffled relation at most
    |query_terms| rows per matching doc; one aggregation on the doc id
    with map-side partials — no join against a terms table, no
    per-term passes.
    """
    if not query_terms:
        raise ValueError("boolean_and_search needs at least one term")
    terms = [t.lower() for t in query_terms]
    hits = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.expr(f"regexp_extract_all(lower({text_col}), '{TOKEN_REGEX}', 0)")
            ).alias("term"),
        )
        .filter(F.col("term").isin(terms))
        .distinct()
    )
    return (
        hits.groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"))
        .filter(F.col("n_terms_matched") == len(terms))
    )


def boolean_and_search_sql(
    table_sql: str,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB mirror — same tokenizer regex and distinct-count gate."""
    terms = ", ".join(f"'{t.lower()}'" for t in query_terms)
    return f"""
    SELECT {id_col}, CAST(COUNT(DISTINCT term) AS BIGINT) AS n_terms_matched
    FROM (
      SELECT {id_col},
             UNNEST(regexp_extract_all(lower({text_col}), '{TOKEN_REGEX}', 0)) AS term
      FROM ({table_sql})
    )
    WHERE term IN ({terms})
    GROUP BY {id_col}
    HAVING COUNT(DISTINCT term) = {len(query_terms)}
    """


def _ndcg_weights(k: int) -> list[int]:
    """Integer DCG position weights: ``floor(1e9 / log2(rank+1))`` for
    rank 1..k, precomputed in Python and injected as LITERALS into both
    engines — the one place a log may appear in an oracle-matched
    score (as a shared constant, never an engine-evaluated float)."""
    import math

    return [int(1e9 // math.log2(r + 1)) for r in range(1, k + 1)]


def _weight_case(rank_expr: str, k: int) -> str:
    cases = " ".join(
        f"WHEN {r} THEN {w}" for r, w in enumerate(_ndcg_weights(k), start=1)
    )
    return f"(CASE {rank_expr} {cases} ELSE 0 END)"


def ranking_eval(
    rankings: DataFrame,
    judgments: DataFrame,
    k: int,
    query_col: str = "query",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> DataFrame:
    """Offline ranking-quality evaluation: NDCG@k, MRR and recall@k per
    query, exact integers end to end (the retrieval-eval step of a
    search/RAG pipeline, run as data at corpus scale).

    ``rankings`` is a run (one row per (query, doc) with rank 1..k);
    ``judgments`` holds graded relevance (only rel >= 1 rows). DCG uses
    integer position weights (:func:`_ndcg_weights`), so
    ``ndcg_ppm = 1e6 * DCG_fp div IDCG_fp`` is engine-exact; MRR and
    recall are integer ratios. The ideal ordering (IDCG) ranks
    judgments by (rel desc, doc asc) — deterministic tie-break.

    One (query, doc) equi-join + two per-query aggregations; output is
    one row per ranked query (queries judged but never ranked are out
    of scope of a run's eval). Queries with no relevant docs report
    zeros rather than dropping out.
    """
    wcase = _weight_case(rank_col, k)
    j = judgments.select(
        F.col(query_col), F.col(doc_col), F.col(rel_col).cast("bigint").alias("__rel")
    )
    ranked = (
        rankings.join(j, [query_col, doc_col], "left")
        .withColumn("__rel0", F.coalesce(F.col("__rel"), F.lit(0)))
        .groupBy(query_col)
        .agg(
            F.sum(F.expr(f"__rel0 * {wcase}")).cast("bigint").alias("__dcg"),
            F.sum((F.col("__rel0") > 0).cast("bigint")).cast("bigint").alias("hits_at_k"),
            F.min(F.when(F.col("__rel0") > 0, F.col(rank_col))).alias("__first"),
        )
    )
    iw = Window.partitionBy(query_col).orderBy(F.desc("__rel"), F.asc(doc_col))
    ideal = (
        j.withColumn("__ir", F.row_number().over(iw))
        .groupBy(query_col)
        .agg(
            F.sum(F.when(F.col("__ir") <= k, F.expr(f"__rel * {_weight_case('__ir', k)}")))
            .cast("bigint")
            .alias("__idcg"),
            F.count(F.lit(1)).cast("bigint").alias("n_rel"),
        )
    )
    out = ranked.join(ideal, [query_col], "left")
    return out.select(
        query_col,
        F.coalesce(F.col("n_rel"), F.lit(0)).cast("bigint").alias("n_rel"),
        F.col("hits_at_k"),
        F.coalesce(F.expr("1000000 * __dcg DIV __idcg"), F.lit(0))
        .cast("bigint")
        .alias("ndcg_ppm"),
        F.coalesce(F.expr("1000000 DIV __first"), F.lit(0))
        .cast("bigint")
        .alias("mrr_ppm"),
        F.coalesce(F.expr("1000000 * hits_at_k DIV n_rel"), F.lit(0))
        .cast("bigint")
        .alias("recall_ppm"),
    )


def ranking_eval_sql(
    rankings_sql: str,
    judgments_sql: str,
    k: int,
    query_col: str = "query",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    rel_col: str = "rel",
) -> str:
    """DuckDB mirror of :func:`ranking_eval` — identical weights,
    tie-breaks and zero-fills."""
    wcase = _weight_case(rank_col, k)
    iwcase = _weight_case("ir", k)
    return f"""
    WITH r AS ({rankings_sql}),
    j AS (SELECT {query_col}, {doc_col}, CAST({rel_col} AS BIGINT) AS rel
          FROM ({judgments_sql})),
    ranked AS (
      SELECT r.{query_col},
             CAST(SUM(COALESCE(j.rel, 0) * {wcase}) AS BIGINT) AS dcg,
             CAST(SUM(CASE WHEN COALESCE(j.rel, 0) > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS hits_at_k,
             MIN(CASE WHEN COALESCE(j.rel, 0) > 0 THEN {rank_col} END) AS first_rel
      FROM r LEFT JOIN j
        ON r.{query_col} = j.{query_col} AND r.{doc_col} = j.{doc_col}
      GROUP BY r.{query_col}
    ),
    ideal AS (
      SELECT {query_col},
             CAST(SUM(CASE WHEN ir <= {k} THEN rel * {iwcase} END) AS BIGINT)
               AS idcg,
             CAST(COUNT(*) AS BIGINT) AS n_rel
      FROM (
        SELECT *, row_number() OVER (PARTITION BY {query_col}
                                     ORDER BY rel DESC, {doc_col}) AS ir
        FROM j
      ) GROUP BY {query_col}
    )
    SELECT ranked.{query_col},
           CAST(COALESCE(ideal.n_rel, 0) AS BIGINT) AS n_rel,
           ranked.hits_at_k,
           CAST(COALESCE(1000000 * ranked.dcg // ideal.idcg, 0) AS BIGINT)
             AS ndcg_ppm,
           CAST(COALESCE(1000000 // ranked.first_rel, 0) AS BIGINT) AS mrr_ppm,
           CAST(COALESCE(1000000 * ranked.hits_at_k // ideal.n_rel, 0) AS BIGINT)
             AS recall_ppm
    FROM ranked LEFT JOIN ideal ON ranked.{query_col} = ideal.{query_col}
    """


def doc_keywords(
    docs: DataFrame,
    n_docs: int,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document top-``k`` keywords by exact integer LIFT score
    ``1e6 * tf * N div df`` (tf-idf with the log-free N/df odds — the
    module's cross-engine idf convention), deterministic tie-break on
    ascending term — the topic-tagging / faceting pass a curation
    pipeline runs to label documents before mixture decisions.

    ``n_docs`` is a driver literal (the bounded-scalar pattern; scalar
    subquery in the oracle). Rare distinctive terms (low df) score
    highest per occurrence; corpus-wide stopwords are crushed by the
    df denominator — no stopword list needed.

    Scale shape: one tokenize explode + the (doc, term) tf aggregation,
    one vocabulary-sized df aggregation, an equi-join back on term,
    and a per-DOC window top-k (partitioned by doc id — never global).
    """
    dt = checkpoint(doc_terms(docs, id_col, text_col))
    df_t = dt.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    scored = dt.join(df_t, "term").select(
        F.col(id_col),
        "term",
        "tf",
        "df",
        F.expr(f"CAST(1000000 * tf * {int(n_docs)} DIV df AS BIGINT)").alias(
            "score_micro"
        ),
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "score_micro")
    )


def doc_keywords_sql(
    docs_sql: str,
    n_docs_sql: str,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB mirror — same tokenizer regex, lift arithmetic and
    (score desc, term asc) tie-break."""
    from cosmos_xenna_spark.operators.text import TOKEN_REGEX

    return f"""
    WITH dt AS MATERIALIZED (
      SELECT {id_col}, term, CAST(COUNT(*) AS BIGINT) AS tf FROM (
        SELECT {id_col},
               UNNEST(regexp_extract_all(lower({text_col}), '{TOKEN_REGEX}'))
                 AS term
        FROM ({docs_sql})
      ) GROUP BY {id_col}, term
    ),
    dft AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dt GROUP BY term),
    scored AS (
      SELECT dt.{id_col}, dt.term, dt.tf, dft.df,
             CAST(1000000 * dt.tf * ({n_docs_sql}) // dft.df AS BIGINT)
               AS score_micro
      FROM dt JOIN dft USING (term)
    )
    SELECT {id_col}, CAST(rank AS BIGINT) AS rank, term, tf, df, score_micro
    FROM (
      SELECT *, row_number() OVER (PARTITION BY {id_col}
                                   ORDER BY score_micro DESC, term) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """
